package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Ingest-time curation — the STREAMING twin of the batch curation funnel
  * (`Curation.curationPipeline`): every arriving document is gated the
  * moment it lands, against the corpus state the lake already holds,
  * instead of waiting for the next full-corpus batch run.
  *
  * The gate composes only stateless pieces: the quality metrics are pure
  * projections and the near-dup probe is a stream-static join against the
  * STORED band-signature index (`Dedup.writeLshIndex` is the batch job
  * that maintains it). Per-doc flag aggregation (a `distinct` over band
  * hits) is micro-batch-scoped, so the deployment drains through
  * [[TxStream.drain]] and commits each batch's decisions as ONE atomic
  * `TxTable` MERGE — a replayed batch is a stamped no-op, and a replay
  * from a fresh checkpoint re-merges the same keys and converges. */
object StreamCurate {

  /** Per-document curation decision for one (micro-)batch of new docs
    * against the static LSH index: drop reasons in the same precedence
    * order as the batch `Curation.curate` (near-dup first, then length,
    * then quality), keep = no reason. Row-local except the probe join and
    * the per-doc hit collapse — both keyed by doc/band, both
    * linear-in-batch at any corpus size (the index side is the only
    * corpus-scale input and it arrives pre-bucketed by (band, sig)). */
  def curateGate(newDocs: DataFrame, staticIndex: DataFrame,
      minQuality: Double = 0.3, minTokens: Int = 10): DataFrame = {
    val quality = TextFunctions.qualityMetrics(newDocs, "text")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val hits = Dedup.bandSignatureRows(newDocs, "doc_id", "text")
      .join(staticIndex, Seq("band", "sig"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("near_dup_hit", lit(true))
    quality.join(hits, Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(coalesce(col("near_dup_hit"), lit(false)), "near_duplicate")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("quality_score") < minQuality, "low_quality")
          .otherwise(lit(null)))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("drop_reason"), col("drop_reason").isNull.as("keep"))
  }

  /** Streaming deployment: replay `(doc_id, text)` parquet drops from
    * `inDir`, gate each micro-batch against `staticIndex`, MERGE the
    * decisions into the TxTable at `tablePath` (idempotent by doc_id, one
    * transaction-log commit per batch). AvailableNow + checkpoint: resumes
    * exactly where it stopped, replays safely. */
  def curateStreamTx(spark: SparkSession, inDir: String,
      staticIndex: DataFrame, tablePath: String, checkpoint: String,
      minQuality: Double = 0.3, minTokens: Int = 10): Unit = {
    val stream = spark.readStream.schema(graft.Tables.DocTextSchemaDdl)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        curateGate(batch, staticIndex, minQuality, minTokens), tablePath,
        Seq("doc_id"), txn = Some(stamp))
    }
  }
}
