package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The finance day-grain frame as a persisted, incrementally-maintained
  * materialized view — the production form of [[FinanceQueries]]'
  * session-memoized `dailyClose`.
  *
  * At 100 TB the indicator battery must never re-aggregate raw ticks per
  * dashboard panel (the reference recomputes its daily series per chart —
  * SURVEY §4's double-computation bug — which is survivable at 100 MB and
  * fatal at 100 TB). The lake-native fix is the [[ChangeFeed]] pattern the
  * repo already ships for order aggregates, applied to the tick stream:
  *
  *   - the MV row is the aggregation STATE, not the rendered value:
  *     (event_type, day, n_events, s) with `s` a DECIMAL(38,6) sum —
  *     decimal addition is exact and associative (the LmScore order-free
  *     rule), so base-plus-delta equals a full rebuild BIT-FOR-BIT and the
  *     equivalence is spec-pinnable by hash, not by tolerance;
  *   - `close` is DERIVED at read time (s / n), so the state stays
  *     mergeable under any further ingest;
  *   - refresh cost is O(ticks in the ingest window) map-side-combined on
  *     (event_type, day) — the delta touches only the days the window
  *     contains, and [[TxTable.merge]]'s key-stats file pruning rewrites
  *     only the files covering those days.
  *
  * FinanceMvSpec pins: TxTable round-trip ≡ recompute, incremental apply ≡
  * full rebuild (exact), and derived close ≡ the battery's avg-based
  * dailyClose within per-element rounding (the only intended difference:
  * the MV sums 6-dp-rounded values so the state is decimal-exact).
  */
object FinanceMv {

  // 38,6 — the widest decimal Spark carries. The state must SUM without
  // ever overflowing its own type: under default non-ANSI mode an
  // overflowing decimal cast yields NULL silently, so a (18,6) state on a
  // hot (event_type, day) key at 100 TB would quietly corrupt `s` (close
  // reads null) with no error. (38,6) keeps 32 integer digits — 10^32
  // headroom — and a sum of (38,6) stays (38,6), so the cast below is an
  // identity, never a narrowing (r13 ADVICE).
  // MIGRATION (r14 ADVICE): an MV table persisted before this widening
  // carries DECIMAL(18,6) state, and the first maintain/purge on it throws
  // the additive-evolution retype guard ("merge batch retypes column 's'")
  // — loud by design. Rebuild such a table once via writeDailyCloseMv
  // (a reset commit; writer stamps survive resets, so streams resume).
  private val Dec = org.apache.spark.sql.types.DecimalType(38, 6)

  private val MvKeys = Seq("event_type", "day")

  /** Full MV build over a tick snapshot: (event_type, day, n_events, s).
    * The sum is cast back to the declared state type (an identity at
    * (38,6) — sum of (38,6) is (38,6)), because the stored state must
    * carry ONE fixed type or the first incremental merge trips the
    * TxTable additive-evolution guard. */
  def viewOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast(Dec)).cast(Dec).as("s"))

  /** Apply one tick-ingest delta to the MV state without touching the base
    * table: new-batch partials merged into the stored state by key. Ticks
    * are append-only (no update/delete in a market feed), so every delta
    * row adds +1/+value; the merge is a full outer sum. Cost is
    * O(days touched by the batch), never O(view). */
  def maintain(view: DataFrame, batch: DataFrame): DataFrame = {
    val delta = viewOf(batch)
      .withColumnRenamed("n_events", "d_n").withColumnRenamed("s", "d_s")
    view.join(delta, Seq("event_type", "day"), "full")
      .select(col("event_type"), col("day"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_events"),
        (coalesce(col("s"), lit(0).cast(Dec))
          + coalesce(col("d_s"), lit(0).cast(Dec))).cast(Dec).as("s"))
  }

  /** Rendered read of the MV state: the (event_type, day, close) frame the
    * battery consumes — close derived from the mergeable state. */
  def closeOf(view: DataFrame): DataFrame =
    view.select(col("event_type"), col("day"),
      (col("s").cast("double") / col("n_events")).as("close"))

  /** Persist the full MV into a TxTable at `path` (one atomic commit);
    * returns the committed version. Day is stored as a yyyy-MM-dd string
    * so TxTable's min/max key stats prune refresh rewrites by day range. */
  def writeDailyCloseMv(spark: SparkSession, dir: String, path: String): Long =
    TxTable.write(spark,
      viewOf(Tables.events(spark, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
      path)

  /** Read the persisted MV back as the rendered day-grain frame. */
  def readDailyCloseMv(spark: SparkSession, path: String): DataFrame =
    closeOf(TxTable.read(spark, path)
      .withColumn("day", to_timestamp(col("day"), "yyyy-MM-dd")))

  /** The keyed additive delta both verbs merge: batch partials joined with
    * the stored state AS OF version `v0`, summed with `sign` (+1 ingest,
    * −1 purge). A read-modify-write fold: both verbs run it through
    * [[TxTable.mergeAt]], so a fold racing another commit — a live
    * stream's increment, or a purge's subtraction — re-reads the state and
    * re-applies on top instead of overwriting the other side's delta
    * (which would drop the increment, or resurrect forgotten data).
    * FinanceMvSpec races a purge against an ingest fold through the
    * `onStaged` seam and asserts both deltas survive. */
  private def foldDelta(spark: SparkSession, batch: DataFrame, path: String,
      v0: Long, sign: Int): DataFrame = {
    val delta = viewOf(batch)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .withColumnRenamed("n_events", "d_n").withColumnRenamed("s", "d_s")
    val stored = TxTable.read(spark, path, Some(v0))
      .select(col("event_type"), col("day"),
        col("n_events").as("n_old"), col("s").as("s_old"))
    // plain +/- branches, never a decimal multiply: DECIMAL(38,6) × sign
    // would widen past the state type and trip the retype guard
    val nOld = coalesce(col("n_old"), lit(0L))
    val sOld = coalesce(col("s_old"), lit(0).cast(Dec))
    val (n, s) =
      if (sign >= 0) (nOld + col("d_n"), sOld + col("d_s"))
      else (nOld - col("d_n"), sOld - col("d_s"))
    delta.join(stored, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        n.as("n_events"), s.cast(Dec).as("s"))
  }

  /** Apply one tick-ingest batch to the PERSISTED MV: count the batch,
    * add the stored state for the touched (event_type, day) keys, MERGE —
    * file-pruned by the TxTable day stats, so the rewrite scales with the
    * days the batch touches, never the view. One atomic commit per batch,
    * through [[TxTable.mergeAt]]: a racing commit re-runs the fold.
    * Like [[graft.operators.NgramLm.appendLmCounts]], the additive fold is
    * NOT replay-idempotent by itself — pass `txn` (the Delta
    * txnAppId:batchId stamp) and [[TxTable.mergeAt]] turns a replayed batch
    * into a no-op, closing the crash window between the table commit and
    * the streaming checkpoint commit (the [[graft.streaming.TxStream]]
    * exactly-once contract). */
  def maintainDailyCloseMv(spark: SparkSession, batch: DataFrame,
      path: String, txn: Option[(String, Long)] = None): Unit = {
    TxTable.mergeAt(spark, path, MvKeys, txn)(foldDelta(spark, batch, path, _, +1))
    ()
  }

  /** RIGHT-TO-BE-FORGOTTEN on the persisted MV state: fold the purged
    * ticks OUT of the aggregate (negated bump — decimal addition is exact,
    * so subtracting the purged partials restores EXACTLY the state a
    * rebuild on the remaining ticks produces) and DELETE keys whose count
    * reaches zero, the [[graft.operators.NgramLm.removeLmCounts]] recipe
    * for additive artifacts. Contract: `purged` must be a subset of what
    * was ingested (the purge loop feeds it from the base table's own
    * rows), so no count ever goes negative. Like every negated bump, the
    * purge itself is NOT replay-idempotent (running it twice
    * double-subtracts) — a purge driven from a stream or queue MUST carry
    * `txn` (the Delta txnAppId:batchId stamp, threaded to the merge like
    * the ingest fold's — StreamPurgeSpec's crash-replay leg pins the
    * no-op); the interactive right-to-be-forgotten loop runs it once per
    * request with txn = None. Cost: O(days touched by the purge) — same
    * file-pruned [[TxTable.mergeAt]] shape as an ingest batch, so a purge
    * racing a live stream's merge on the same key cannot lose either
    * side's delta (one of the two folds re-reads and re-applies).
    *
    * CRASH WINDOW (documented contract): the negated merge and the
    * zero-key DELETE are TWO commits. A crash between them leaves
    * visible zero-count keys — the merge's txn stamp already protects
    * against double-subtraction on replay, and the delete itself is
    * idempotent (`n_events <= 0` matches nothing once applied), so
    * re-running the purge's delete half (or any later purge) converges;
    * until then a zero-count key renders close = s/0 = NULL, never a
    * resurrected value. Bit-for-bit purge ≡ rebuild holds after the
    * delete lands. */
  def removeFromDailyCloseMv(spark: SparkSession, purged: DataFrame,
      path: String, txn: Option[(String, Long)] = None): Unit = {
    TxTable.mergeAt(spark, path, MvKeys, txn)(foldDelta(spark, purged, path, _, -1))
    TxTable.delete(spark, path, col("n_events") <= 0L)
    ()
  }
}
