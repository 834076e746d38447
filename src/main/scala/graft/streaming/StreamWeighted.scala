package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Ingest-time WEIGHTED sampling — the streaming twin of the batch
  * `Sampling.weightedSampleOf`: the Efraimidis–Spirakis rank u^(1/w) is a
  * pure function of (doc_id, weight) — no state, no cross-row terms — so
  * the k-LARGEST of a union is the k-largest of per-batch k-largests and
  * the assembled sample equals the batch answer on the ingested prefix
  * ROW-FOR-ROW (the StreamSample contract, carried over verbatim; this is
  * exactly why A-ES is the classic one-pass weighted reservoir). The
  * shared kernel is [[Sampling.weightedSampleOf]] itself, so the two
  * sides cannot hash, weigh, or tie-break differently.
  *
  * A crash-replayed batch is a no-op under the [[TxStream.drain]] stamp;
  * re-delivery from a fresh checkpoint is harmless by construction: a
  * replayed doc contributes the identical (rank, doc_id) row and the
  * TxTable MERGE keyed by doc_id overwrites rather than duplicates. At
  * 100 TB each micro-batch ships ≤ budget candidate rows TOTAL (the
  * global top-k is a TakeOrderedAndProject, per-partition heaps merged
  * once), and the stored candidate table is ≤ budget × #batches rows —
  * metadata scale.
  *
  * The drop contract is (doc_id, lang, source, weight): the weight is
  * part of the ingest record — re-deriving it at read time would let a
  * changed weighting silently re-rank candidates selected under the old
  * law (the same drift `StreamSample`'s seed guard refuses). */
object StreamWeighted {

  val DocWeightSchemaDdl: String =
    "doc_id BIGINT, lang STRING, source STRING, weight BIGINT"

  /** One micro-batch's candidates: the batch-local weighted top-k. */
  def sampleBatch(docs: DataFrame, budget: Int, seed: Int = 42): DataFrame =
    Sampling.weightedSampleOf(
      docs.select(col("doc_id"), col("lang"), col("source"), col("weight")),
      "weight", budget, seed)

  /** Streaming deployment: replay (doc_id, lang, source, weight) parquet
    * drops from `inDir`, MERGE each micro-batch's candidate top-k into the
    * TxTable at `tablePath` keyed by doc_id — one atomic commit per batch.
    * Records (budget, seed) in the `_sample_params` sidecar exactly like
    * `StreamSample` (shared helper), so a later read cannot silently
    * re-rank under different parameters. */
  def weightedStreamTx(spark: SparkSession, inDir: String, tablePath: String,
      checkpoint: String, budget: Int = 60, seed: Int = 42,
      maxFilesPerTrigger: Int = 1): Unit = {
    StreamSample.recordParams(spark, tablePath, budget, seed)
    val stream = spark.readStream.schema(DocWeightSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        sampleBatch(batch, budget, seed), tablePath, Seq("doc_id"),
        txn = Some(stamp))
    }
  }

  /** The assembled sample: re-top the stored candidates through the SAME
    * kernel. Refuses a seed mismatch (stored candidates were selected
    * under the old rank order — re-ranking them is a sample of a sample)
    * or a budget above the streamed one (higher ranks were already
    * discarded at ingest). */
  def readSample(spark: SparkSession, tablePath: String,
      budget: Int = 60, seed: Int = 42): DataFrame = {
    StreamSample.storedParams(spark, tablePath).foreach { case (sb, ss) =>
      require(seed == ss,
        s"readSample seed=$seed but candidates were streamed with seed=$ss")
      require(budget <= sb,
        s"readSample budget=$budget exceeds the streamed budget=$sb")
    }
    Sampling.weightedSampleOf(
      graft.serve.TxTable.read(spark, tablePath)
        .select("doc_id", "lang", "source", "weight"),
      "weight", budget, seed)
  }
}
