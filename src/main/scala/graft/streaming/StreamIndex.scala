package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Ingest-time PQ index maintenance — the streaming twin of the batch
  * [[Similarity.appendPqCodes]]: each micro-batch of newly-landed
  * embeddings is encoded under the FROZEN persisted codebooks and MERGEd
  * into the stored code table, so the "codes were materialized by last
  * night's ingest" stored index the query forms read stays current as
  * vectors land — no full-corpus re-encode between retrains.
  *
  * Why this twin streams EXACTLY: a vector's code is a pure per-row
  * function of (embedding, frozen codebooks) — batching and arrival
  * order cannot change it — a crash-replayed batch is a no-op under the
  * [[TxStream.drain]] stamp, and the TxTable MERGE keyed vec_id makes a
  * fresh-checkpoint replay converge (a redelivered vector overwrites its
  * own row with identical bits). So the streamed code table equals the
  * one-shot encode ROW-FOR-ROW on the ingested prefix, and any search through
  * the shared [[Similarity.pqSearchOverCodes]] path is equal by
  * construction — StreamIndexSpec pins streamed ≡ one-shot search
  * results and replay convergence.
  *
  * At 100 TB: per micro-batch work is one codegen'd projection over the
  * batch (the fused PqEncode kernel, codebooks traveling as a single
  * broadcast reference object) plus a file-pruned MERGE whose cost
  * scales with the touched fraction of the code table, not its size.
  * The quantizer stays frozen between retrains by design — encoding
  * under a drifted codebook would silently corrupt the ADC order (the
  * [[Similarity.appendPqCodes]] contract); a retrain is a rebuild, not
  * an append. */
object StreamIndex {

  /** (vec_id, embedding, label) drop-stream contract — the embeddings
    * table's physical schema. */
  val VecSchemaDdl: String = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

  /** Streaming deployment: replay embedding parquet drops from `inDir`,
    * encode each micro-batch under the codebooks persisted at
    * `indexPath`, and MERGE the codes keyed vec_id — one atomic log
    * commit per batch, stamped by [[TxStream.drain]]. */
  def indexStreamTx(spark: SparkSession, inDir: String, indexPath: String,
      checkpoint: String, maxFilesPerTrigger: Int = 1): Unit = {
    val stream = spark.readStream.schema(VecSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      Similarity.appendPqCodes(batch.sparkSession,
        batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")),
        indexPath, txn = Some(stamp))
    }
  }
}
