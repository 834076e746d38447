package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.{FinanceMv, FinanceQueries}

/** The day-grain materialized view contract: persisted state round-trips,
  * incremental apply reproduces a full rebuild EXACTLY (decimal state),
  * and the rendered close matches the battery's session frame. */
class FinanceMvSpec extends AnyFunSuite {
  import SparkTestSession._

  private def events = Tables.events(spark, sf)

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Any]("day").toString) ->
        (r.getAs[Long]("n_events"), r.getAs[java.math.BigDecimal]("s"))
    }.toMap

  test("state column is DECIMAL(38,6) — overflow headroom, not a (18,6) that nulls") {
    // under non-ANSI mode an overflowing decimal cast yields NULL silently;
    // (38,6) keeps 32 integer digits so a hot (event_type, day) key cannot
    // quietly corrupt the exact state (r13 ADVICE). Both build and maintain
    // must agree — one fixed type is the TxTable evolution-guard contract.
    import org.apache.spark.sql.types.DecimalType
    val view = FinanceMv.viewOf(events)
    assert(view.schema("s").dataType == DecimalType(38, 6))
    assert(FinanceMv.maintain(view, events.limit(1)).schema("s").dataType
      == DecimalType(38, 6))
  }

  test("incremental apply == full rebuild, bit-for-bit (decimal state)") {
    // split the tick stream into a base ingest and a later batch on a
    // content hash — order/partitioning independent
    val base = events.filter(pmod(xxhash64(col("event_id")), lit(5)) =!= 0)
    val batch = events.filter(pmod(xxhash64(col("event_id")), lit(5)) === 0)
    val incremental = asMap(FinanceMv.maintain(FinanceMv.viewOf(base), batch))
    val full = asMap(FinanceMv.viewOf(events))
    assert(incremental == full,
      s"delta apply diverged from rebuild: ${incremental.size} vs ${full.size}")
  }

  test("purge racing a concurrent ingest merge: CAS on the base version, no lost delta") {
    // the r14 ADVICE medium: both maintenance verbs are read-modify-write
    // folds whose batch embeds n_old/s_old from a snapshot read —
    // TxTable.merge's internal retry recomputes only the FILE rewrite, so
    // a fold racing a truly concurrent merge on the same (event_type, day)
    // key would silently lose one side's delta (dropping the stream's
    // increment, or resurrecting forgotten data by overwriting the purge's
    // subtraction). The folds now run through TxTable.mergeAt, which
    // recomputes the WHOLE fold on a conflict. This leg
    // interleaves an ingest merge inside the purge's stage-to-commit
    // window via the onStaged seam and asserts BOTH deltas survive,
    // decimal-bit-for-bit.
    import graft.serve.TxTable
    val path = s"/tmp/graft_fin_mv_race/${new java.io.File(sf).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    // base ingest = everything except a later batch; victims ⊂ base
    val batch = events.filter(pmod(xxhash64(col("event_id")), lit(5)) === 0)
    val base = events.filter(pmod(xxhash64(col("event_id")), lit(5)) =!= 0)
    val victims = base.filter(pmod(xxhash64(col("event_id")), lit(7)) === 0)
    TxTable.write(spark,
      FinanceMv.viewOf(base)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")), path)
    assert(victims.count() > 0 && batch.count() > 0, "fixture must race real deltas")
    // the racing ingest lands exactly between the purge's snapshot read
    // (already staged into its merge batch) and its commit attempt
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      FinanceMv.maintainDailyCloseMv(spark, batch, path)
    }
    try FinanceMv.removeFromDailyCloseMv(spark, victims, path)
    finally TxTable.onStaged = () => ()
    val got = TxTable.read(spark, path)
      .select("event_type", "day", "n_events", "s")
      .collect().map(_.toString).sorted.toSeq
    // truth: both deltas applied — the full corpus minus the victims
    val want = FinanceMv.viewOf(
        events.filter(!(pmod(xxhash64(col("event_id")), lit(5)) =!= 0 &&
          pmod(xxhash64(col("event_id")), lit(7)) === 0)))
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .select("event_type", "day", "n_events", "s")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want,
      s"a racing fold lost a delta: ${got.length} vs ${want.length}")
  }

  test("TxTable round-trip == recompute; rendered close == battery frame") {
    val path = s"/tmp/graft_fin_mv/${new java.io.File(sf).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    FinanceMv.writeDailyCloseMv(spark, sf, path)
    val stored = FinanceMv.readDailyCloseMv(spark, path)
      .collect().map(r => (r.getString(0), r.getAs[Any]("day").toString)
        -> r.getDouble(2)).toMap
    val session = FinanceQueries.dailyClose(spark, sf)
      .collect().map(r => (r.getString(0), r.getAs[Any]("day").toString)
        -> r.getDouble(2)).toMap
    assert(stored.keySet == session.keySet)
    // only intended difference: the MV sums 6-dp-rounded values (decimal-
    // exact state); per-element rounding bounds the mean gap at 5e-7
    stored.foreach { case (k, v) =>
      assert(math.abs(v - session(k)) <= 1e-6, s"$k: mv $v vs session ${session(k)}")
    }
  }
}
