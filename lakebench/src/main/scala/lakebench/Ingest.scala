package lakebench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Caches, Tables}
import graft.etl.Pipeline
import graft.serve.{FinanceMv, TxTable}
import graft.streaming.StreamMv

/** `lake_ingest`: the write path with reads interleaved. Each iteration
  * works on a fresh root:
  *   1. `etl.Pipeline.run` (Bronze JSON to Silver/Gold parquet to serving);
  *   2. `TxTable.write` of the sf0.01 `lineitem` table (60k rows);
  *   3. seeded merge batches (about 1% of rows updated, skewed toward
  *      recent ship dates, plus a few inserts), each commit followed by
  *      seeded point reads (by order key) and range reads (by ship date);
  *   4. one change feed, one z-order compaction, the reads again, vacuum;
  *   5. seeded `events` files drained by `StreamMv.maintainToTx` into a
  *      `FinanceMv` table.
  * Output checks run in pauses that the iteration's wall excludes. The
  * priming pass runs the table steps once at sf0.001 (one merge batch, two
  * reads per commit); the pipeline and the stream are not primed, so each
  * iteration starts them in a JVM that has not run them yet, as a batch
  * DAG task or a restarted stream does. */
object Ingest {

  /** (l_orderkey, l_linenumber) repeats in the generated tables; this key
    * is unique in every shipped scale factor. */
  val Keys = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate")
  val Sf = "sf0.01"
  val MergeBatches = 2
  val ReadsPerCommit = 6
  val EventFiles = 4
  val RangeDays = 30

  final case class Stats(rows: Long, maxKey: Long, firstDay: LocalDate, days: Int)

  def stats(base: DataFrame): Stats = {
    val r = base.agg(count(lit(1)), max("l_orderkey"),
      date_format(min("l_shipdate"), "yyyy-MM-dd"),
      datediff(max("l_shipdate"), min("l_shipdate"))).first()
    Stats(r.getLong(0), r.getLong(1), LocalDate.parse(r.getString(2)), r.getInt(3))
  }

  /** Merge batch `b` of unit `u`: rows picked by a salted hash of the key,
    * 3% of the last year's rows and 0.6% of older ones (about 1% overall),
    * with a bumped quantity and status; plus about 12 new rows whose order
    * keys are shifted past every existing key. Values derive from the base
    * rows alone, so any fold of the batches is reproducible. */
  def batch(base: DataFrame, st: Stats, seed: Long, u: Int, b: Int): DataFrame = {
    val h = pmod(xxhash64(Keys.map(col) :+ lit(seed * 1000003L + u * 1009L + b): _*),
      lit(100000L))
    val lastYear = st.firstDay.plusDays(st.days - 365L).toString
    val recent = col("l_shipdate") >= to_timestamp(lit(lastYear))
    val updates = base.filter(h < when(recent, 3000).otherwise(600))
      .withColumn("l_quantity", col("l_quantity") + (b + 1).toDouble)
      .withColumn("l_linestatus", lit("U"))
    val inserts = base.filter(h >= 99998L)
      .withColumn("l_orderkey", col("l_orderkey") + (st.maxKey + 1) * (b + 1))
    updates.unionByName(inserts)
  }

  /** The reference the table must equal: the batches applied in order to
    * the base rows by plain anti-join and union, outside `TxTable`. */
  def fold(cur: DataFrame, upd: DataFrame): DataFrame =
    cur.join(upd.select(Keys.map(col): _*), Keys, "left_anti").unionByName(upd)

  def run(ctx: Main.Ctx): Double = {
    import ctx._
    val prime = Tables.lineitem(spark, sf("sf0.001"))
    iteration(ctx, sf("sf0.001"), prime, stats(prime), s"$work/ingest/prime", -1, full = false)
    val base = Tables.lineitem(spark, sf(Sf))
    val st = stats(base)
    val setup = Main.sinceJvmStartS()
    Main.measure(ctx, fit = true) { u =>
      iteration(ctx, sf(Sf), base, st, s"$work/ingest/u$u", u, full = true)
    }
    setup
  }

  /** One iteration; returns the milliseconds spent in output-check pauses.
    * `full = false` is the priming pass: table steps only, one merge
    * batch, two reads per commit, no checks. */
  def iteration(ctx: Main.Ctx, dir: String, base: DataFrame, st: Stats,
      root: String, u: Int, full: Boolean): Double = {
    import ctx._
    var paused = 0.0
    def pause(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      paused += (System.nanoTime() - t) / 1e6
    }
    FileUtils.deleteQuietly(new File(root))
    val rnd = new scala.util.Random(seed * 104729 + u)
    val tbl = s"$root/lineitem"

    def commit(name: String)(body: => Long): Long = {
      val v = rec.op("commit", "txtable", s"txtable.$name", u)(body)
      rec.gauge("live_bytes", liveBytes(spark, tbl))
      v
    }
    def reads(): Unit = (0 until (if (full) ReadsPerCommit else 2)).foreach { i =>
      if (i % 2 == 0) {
        val k = 1L + rnd.nextInt(st.maxKey.toInt)
        val n = rec.op("read", "txtable", "txtable.read.point", u) {
          TxTable.read(spark, tbl).filter(col("l_orderkey") === k).collect().length
        }
        rec.gauge("rows_returned", n.toDouble)
      } else {
        val d0 = st.firstDay.plusDays(rnd.nextInt(st.days - RangeDays).toLong)
        val n = rec.op("read", "txtable", "txtable.read.range", u) {
          TxTable.read(spark, tbl)
            .filter(col("l_shipdate") >= to_timestamp(lit(d0.toString)) &&
              col("l_shipdate") < to_timestamp(lit(d0.plusDays(RangeDays).toString)))
            .agg(count(lit(1)), sum("l_quantity")).collect().length
        }
        rec.gauge("rows_returned", n.toDouble)
      }
    }

    if (full) rec.op("etl", "etl", "etl.Pipeline.run", u)(Pipeline.run(spark, s"$root/pipeline"))

    val versions = ArrayBuffer(commit("write")(TxTable.write(spark, base, tbl)))
    rec.gauge("write_bytes", dirBytes(s"$tbl/data")._1.toDouble)
    reads()
    val batches = (0 until (if (full) MergeBatches else 1)).map(b => batch(base, st, seed, u, b))
    batches.foreach { upd =>
      versions += commit("merge")(TxTable.merge(spark, upd, tbl, Keys))
      reads()
    }
    rec.gauge("merge_end_data_bytes", dirBytes(s"$tbl/data")._1.toDouble)
    rec.gauge("merge_end_live_bytes", liveBytes(spark, tbl))

    rec.op("changes", "txtable", "txtable.changes", u) {
      TxTable.changes(spark, tbl, versions.head, versions.last, Keys).collect().length
    }
    versions += commit("compact")(TxTable.compact(spark, tbl, Main.Cores,
      Some(("l_shipdate", "l_orderkey"))))
    reads()
    val (allBytes, allFiles) = dirBytes(s"$tbl/data")
    val (logBytes, logFiles) = dirBytes(s"$tbl/_txlog")
    rec.gauge("bytes_written", (allBytes + logBytes).toDouble)
    rec.gauge("data_files", allFiles.toDouble)
    rec.gauge("log_files", logFiles.toDouble)
    if (full) pause {
      // rows submitted, for bytes written per input byte
      rec.gauge("rows_submitted", (st.rows + batches.map(_.count()).sum).toDouble)
      rec.gauge("base_rows", st.rows.toDouble)
      Caches.clear(spark)
      var cur = base
      val expected = ArrayBuffer(ResultHash(base))
      batches.foreach { upd =>
        cur = fold(cur, upd).localCheckpoint()
        expected += ResultHash(cur)
      }
      expected += expected.last // compaction keeps the rows
      versions.zip(expected).foreach { case (v, e) =>
        val got = ResultHash(TxTable.read(spark, tbl, Some(v)))
        rec.check(s"ingest.version:$v", got == e, s"read $got, expected $e")
      }
    }
    rec.op("maintenance", "txtable", "txtable.vacuum", u)(TxTable.vacuum(spark, tbl, 2, 0L))
    if (full) stream(ctx, dir, root, u, pause)
    paused
  }

  /** Step 5: seeded `events` files (the first seeds the MV table, the rest
    * are drained as a stream), then the MV checked against a full build. */
  def stream(ctx: Main.Ctx, dir: String, root: String, u: Int,
      pause: (=> Unit) => Unit): Unit = {
    import ctx._

    val events = Tables.events(spark, dir).filter(col("ts").isNotNull && col("value").isNotNull)
    val mv = s"$root/mv"
    val eventsIn = s"$root/events_in"
    def mvOf(ev: DataFrame) =
      FinanceMv.viewOf(ev).withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    pause {
      val part = pmod(xxhash64(col("event_id"), lit(seed * 31 + u)), lit(EventFiles.toLong))
      (0 until EventFiles).foreach { i =>
        val ev = events.filter(part === i)
        if (i == 0) TxTable.write(spark, mvOf(ev), mv)
        else {
          val stage = s"$root/events_stage/$i"
          ev.coalesce(1).write.parquet(stage)
          val f = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
          FileUtils.moveFile(f, new File(eventsIn, f"events-$i%03d.parquet"))
        }
      }
    }
    val v0 = TxTable.latestVersion(spark, mv).getOrElse(0L)
    rec.op("stream", "streaming", "streaming.StreamMv.maintainToTx", u) {
      StreamMv.maintainToTx(spark, eventsIn, mv, s"$root/mv_checkpoint")
    }
    rec.gauge("stream_batches", (TxTable.latestVersion(spark, mv).getOrElse(0L) - v0).toDouble)
    pause {
      Caches.clear(spark)
      val got = ResultHash(TxTable.read(spark, mv))
      val want = ResultHash(mvOf(events))
      rec.check("ingest.mv", got == want, s"mv $got, view of all events $want")
    }
  }

  /** Bytes and count of the data files under `dir` (checksum files aside). */
  def dirBytes(dir: String): (Long, Int) = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.endsWith(".crc"))
    (fs.map(_.length).sum, fs.length)
  }

  /** Bytes of the files the latest snapshot references. */
  def liveBytes(spark: org.apache.spark.sql.SparkSession, tbl: String): Double =
    TxTable.manifest(spark, tbl).map(e => new File(tbl, e.rel).length).sum.toDouble
}
