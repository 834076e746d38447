package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Classifier

/** Ingest-time LEARNED quality gating — the streaming twin of the batch
  * classifier gate (`Classifier.qualityGate`), deployed with the same
  * offline/online split as the DSIR gate (`StreamSelect`): the logistic
  * model trains OFFLINE on the corpus (15 GD passes), and each arriving
  * micro-batch is scored by one broadcast-weights row-local scan —
  * O(batch) per batch at any corpus size, no state, no joins beyond the
  * embed kernel's doc-local aggregation.
  *
  * Because the feature-hash embedding of a document never looks outside
  * the document, a doc's score is IDENTICAL whether it arrives in a
  * full-corpus batch scan or a one-file micro-batch — StreamScoreSpec
  * pins streamed ≡ batch score/keep per doc and fresh-checkpoint replay
  * convergence through the keyed TxTable MERGE (a crash-replayed batch is
  * a no-op under the [[TxStream.drain]] stamp).
  *
  * Producer-retry duplicates collapse deterministically (max by text
  * hash, the `StreamSelect.selectGate` rule) so a redelivered doc_id
  * yields the same verdict on every replay. */
object StreamScore {

  /** Per-batch verdicts under the trained weights. */
  def scoreGate(newDocs: DataFrame, w: Seq[Double]): DataFrame = {
    val batch = newDocs.select("doc_id", "text")
      .groupBy("doc_id")
      .agg(max_by(col("text"), xxhash64(col("text"))).as("text"))
    Classifier.scoreDocs(batch, w)
  }

  /** Streaming deployment: replay (doc_id, text) parquet drops from
    * `inDir`, score each micro-batch with the broadcast weights, MERGE
    * the verdicts into the TxTable at `tablePath` (idempotent by doc_id,
    * one log commit per batch). */
  def scoreStreamTx(spark: SparkSession, inDir: String, w: Seq[Double],
      tablePath: String, checkpoint: String): Unit = {
    val stream = spark.readStream.schema(graft.Tables.DocTextSchemaDdl)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        scoreGate(batch, w), tablePath, Seq("doc_id"), txn = Some(stamp))
    }
  }
}
