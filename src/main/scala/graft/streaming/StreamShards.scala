package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Ingest-time shard assignment — the streaming twin of the batch
  * incremental export [[Layout.shuffleShardsIncremental]]: each
  * micro-batch of newly landed documents is shuffled among itself and
  * appended starting at the next shard boundary past the stored export's
  * token high-water mark, so the training-shard manifest stays current as
  * data lands instead of waiting for a full re-export.
  *
  * Why this twin streams FAITHFULLY: the batch incremental form is
  * already generation-ordered — each append freezes before the next
  * generation is dealt — and the streamed form IS that sequence, one
  * generation per micro-batch (StreamShardsSpec pins streamed ≡ the
  * sequential batch composition applied in the realized drop order).
  * The batch reads the table's high-water mark before it merges, so it is
  * NOT a pure function of its rows: a crash-replayed batch must not be
  * re-dealt at the (advanced) mark. The [[TxStream.drain]] stamp makes
  * that replay a no-op. A replay from a FRESH checkpoint carries a new
  * stamp, and exported shard files are immutable, so safety there is
  * INSERT-IF-ABSENT, not overwrite: each batch anti-joins the stored
  * export first; already-assigned docs contribute nothing and
  * never advance the mark, so replays converge to the same table.
  *
  * At 100 TB: per micro-batch work is the two-phase prefix sum over the
  * BATCH only (the [[Layout.shuffleShardsOf]] kernel — shared with the
  * batch forms, so the hash, tiebreak and boundary arithmetic cannot
  * drift), one anti-join keyed doc_id against the stored assignment
  * (file-pruned by TxTable stats at scale), and one scalar high-water
  * aggregate that a production deployment reads from the manifest
  * instead of recomputing. */
object StreamShards {

  /** Assign one micro-batch: docs not yet exported, shuffled among
    * themselves, offset to the next boundary past `highWater` tokens.
    * Zero-token docs are excluded inside [[Layout.shuffleShardsOf]] —
    * with every stored doc ≥ 1 token, max stored `cum_before` + tokens =
    * `highWater` is reached only by a doc whose shard sits strictly BELOW
    * ceil(highWater/B)·B / B, so batch generations stay shard-disjoint
    * even when the high-water mark is an exact shard multiple. */
  def shardBatch(spark: SparkSession, fresh: DataFrame, highWater: Long,
      seed: Int = 42, shardTokens: Long = Layout.ShardTokens,
      topBits: Int = Layout.ShuffleTopBits): DataFrame = {
    val base = ((highWater + shardTokens - 1) / shardTokens) * shardTokens
    Layout.shuffleShardsOf(spark, fresh, seed, shardTokens, topBits, base)
  }

  /** Streaming deployment: replay (doc_id, text) parquet drops from
    * `inDir`, append each micro-batch's assignment into the TxTable at
    * `tablePath` keyed doc_id — one atomic log commit per non-empty
    * batch, stamped by [[TxStream.drain]], insert-if-absent under a
    * fresh-checkpoint replay. */
  def shardStreamTx(spark: SparkSession, inDir: String, tablePath: String,
      checkpoint: String, seed: Int = 42,
      shardTokens: Long = Layout.ShardTokens,
      topBits: Int = Layout.ShuffleTopBits,
      maxFilesPerTrigger: Int = 1): Unit = {
    val stream = spark.readStream.schema(graft.Tables.DocTextSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      val s = batch.sparkSession
      val exported = graft.serve.TxTable.latestVersion(s, tablePath).isDefined
      val (fresh, hw) =
        if (!exported) (batch, 0L)
        else {
          val stored = graft.serve.TxTable.read(s, tablePath)
          val f = batch.join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
          val mark = stored
            .agg(coalesce(max(col("cum_before") + col("n_tokens")), lit(0L)))
            .first().getLong(0)
          (f, mark)
        }
      // an all-replayed (or all-whitespace — zero-token docs are never
      // assigned) batch assigns nothing: committing an empty MERGE would
      // only burn a table version, so the guard checks the ASSIGNMENT
      val assigned = shardBatch(s, fresh, hw, seed, shardTokens, topBits)
      if (!assigned.isEmpty) {
        graft.serve.TxTable.merge(s, assigned, tablePath, Seq("doc_id"),
          txn = Some(stamp))
      }
    }
  }

  /** The assembled export manifest. */
  def readShards(spark: SparkSession, tablePath: String): DataFrame =
    graft.serve.TxTable.read(spark, tablePath)
}
