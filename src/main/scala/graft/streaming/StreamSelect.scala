package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Ingest-time DSIR data selection — the STREAMING twin of the batch
  * `q_dsir_weights` (Xie et al. 2023): the two bag-of-hashed-ngram LMs are
  * trained OFFLINE over the lake (`Curation.dsirRatio` — the B-row
  * log-ratio table a nightly job materializes), then every arriving
  * document is scored the moment it lands by broadcasting that table onto
  * the batch's feature stream and thresholding the summed log-ratio.
  *
  * This is the production shape of importance-resampling selection: model
  * training is corpus-scale and periodic; APPLYING the model is O(batch)
  * and stateless (feature explode → broadcast join → per-doc sum), so the
  * gate composes with the other ingest gates (near-dup, quality, semantic)
  * in the same [[TxStream.drain]] + atomic TxTable MERGE deployment — a
  * crash-replayed batch is a stamped no-op, and a fresh-checkpoint replay
  * re-merges the same keys so the decision table converges.
  *
  * Scoring reuses the batch pipeline's own kernels ([[Curation.dsirScore]]
  * / [[Curation.dsirFeatures]]), so gate and batch query can never bin,
  * hash, or smooth differently — the parity StreamSelectSpec asserts. */
object StreamSelect {

  /** Selection decisions for one (micro-)batch of (doc_id, text) docs
    * under a trained ratio table: keep = log weight ≥ threshold (0 = "at
    * least as target-like as the source average"). Total coverage: a
    * token-less doc has weight 0 and passes at the default threshold. */
  def selectGate(newDocs: DataFrame, ratio: DataFrame,
      buckets: Int = 4096, threshold: Double = 0.0): DataFrame = {
    // one row per doc BEFORE scoring: a producer retry can land the same
    // doc twice in one micro-batch, and dsirScore's groupBy would sum
    // features across the copies — doubling the weight (and flipping
    // keep at any nonzero threshold) rather than emitting a duplicate
    // row the merge would collapse. The pick among copies is
    // DETERMINISTIC (max by text hash — any total order does), not
    // dropDuplicates' partition-order-dependent arbitrary row: a retry
    // that redelivers the same doc_id with different bytes must yield
    // the same decision on every replay, or the replay-idempotence
    // contract of the TxTable merge breaks at exactly the worst time.
    val batch = newDocs.select("doc_id", "text")
      .groupBy("doc_id")
      .agg(max_by(col("text"), xxhash64(col("text"))).as("text"))
    batch.select("doc_id")
      .join(Curation.dsirScore(batch, ratio, buckets), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("lw"), lit(0.0)).as("lw"))
      // keep thresholds the UNROUNDED weight — the 6-dp rounding is
      // display normalization (oracle parity), and a doc within 5e-7 of
      // the threshold must not flip on presentation rounding
      .select(col("doc_id"), col("n_feats"),
        round(col("lw"), 6).as("log_weight"),
        (col("lw") >= threshold).as("keep"))
  }

  /** Streaming deployment: replay (doc_id, text) parquet drops from
    * `inDir`, score each micro-batch against the offline-trained `ratio`
    * table, MERGE decisions into the TxTable at `tablePath` (idempotent by
    * doc_id, one log commit per batch). */
  def selectStreamTx(spark: SparkSession, inDir: String, ratio: DataFrame,
      tablePath: String, checkpoint: String,
      buckets: Int = 4096, threshold: Double = 0.0): Unit = {
    val stream = spark.readStream.schema(graft.Tables.DocTextSchemaDdl)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        selectGate(batch, ratio, buckets, threshold), tablePath,
        Seq("doc_id"), txn = Some(stamp))
    }
  }
}
