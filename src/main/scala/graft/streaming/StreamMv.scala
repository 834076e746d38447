package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming maintenance of the finance day-grain materialized view — the
  * live form of [[graft.serve.FinanceMv]]: every micro-batch of ticks is
  * folded into the TxTable-persisted (event_type, day, n, s) state as ONE
  * atomic merge commit, so the dashboard battery reads a view that is
  * always a consistent prefix of the stream, versioned per batch (time
  * travel over MV refreshes for free).
  *
  * Exactly-once story: the additive fold is NOT replay-idempotent by
  * itself (a re-applied batch double-counts), so it relies on the
  * [[TxStream.drain]] stamp: the fold's CAS merge carries
  * `txn = (appId, batchId)` and a replayed batch is a no-op instead of a
  * double apply. StreamMvSpec pins both halves: stream-maintained state ≡
  * the one-shot batch build bit-for-bit, and a replayed batch leaves the
  * state (and the version counter) untouched. A wiped checkpoint mints a
  * new appId and re-reads every file in the source, so reprocessing from
  * scratch means reseeding the table along with the checkpoint.
  *
  * At 100 TB: per trigger the delta aggregate is map-side-combined on
  * (event_type, day) — shuffle volume is day-partials, never raw ticks —
  * and the merge rewrite is file-pruned to the touched day range. */
object StreamMv {

  /** Drain `eventsDir` as a stream, folding each micro-batch into the MV
    * table at `tablePath`. The table must exist (seed with an empty or
    * initial [[graft.serve.FinanceMv.writeDailyCloseMv]] commit).
    * `maxFilesPerTrigger` bounds each micro-batch (tests use it to force a
    * genuinely multi-batch fold; production AvailableNow batches by source
    * defaults). */
  def maintainToTx(spark: SparkSession, eventsDir: String,
      tablePath: String, checkpoint: String,
      maxFilesPerTrigger: Int = 1): Unit = {
    val source = spark.readStream
      .schema(graft.Tables.EventsSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
    TxStream.drain(source, checkpoint) { (batch, stamp) =>
      graft.serve.FinanceMv.maintainDailyCloseMv(batch.sparkSession,
        batch, tablePath, txn = Some(stamp))
    }
  }
}
