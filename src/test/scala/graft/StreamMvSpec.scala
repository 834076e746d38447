package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.FinanceMv
import graft.streaming.{StreamMv, TxStream}

/** Streaming maintenance of the day-grain MV (§2.10 twin of the FinanceMv
  * batch build): the additive micro-batch fold into the TxTable must
  * converge to the one-shot rebuild bit-for-bit (decimal state), across a
  * genuinely multi-batch drain. */
class StreamMvSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("stream-maintained MV == one-shot batch build, across micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("stream_mv").toString
    val eventsDir = s"$root/events"
    // several files => several AvailableNow micro-batches at 1 file/trigger
    Tables.events(spark, sf).repartition(3).write.parquet(eventsDir)
    val tablePath = s"$root/mv"
    // seed: an empty commit fixes the schema; every batch then merges
    serve.TxTable.write(spark,
      FinanceMv.viewOf(Tables.events(spark, sf).limit(0))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
      tablePath)
    StreamMv.maintainToTx(spark, eventsDir, tablePath, s"$root/ckpt")
    val streamed = serve.TxTable.read(spark, tablePath)
      .select("event_type", "day", "n_events", "s")
      .collect().map(_.toString).sorted.toSeq
    val batch = FinanceMv.viewOf(Tables.events(spark, sf))
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .select("event_type", "day", "n_events", "s")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed MV drifted: ${streamed.take(2)} vs ${batch.take(2)}")
    // every micro-batch was one atomic version: seed + >= 2 merges
    val versions = serve.TxTable.read(spark, tablePath) // force table valid
    assert(versions.count() == batch.length.toLong)
  }

  test("txnAppId is persisted with the checkpoint — spelling- and derivation-proof") {
    val root = java.nio.file.Files.createTempDirectory("stream_mv_appid").toString
    val a = TxStream.txnAppId(hconf, s"$root/ckpt")
    // any later spelling of the same directory reads the same persisted id
    assert(TxStream.txnAppId(hconf, s"$root/./ckpt") == a)
    assert(TxStream.txnAppId(hconf, s"$root/ckpt/../ckpt") == a)
    assert(new java.io.File(s"$root/ckpt", "_graft_app_id").isFile,
      "the identity must live WITH the checkpoint state it guards")
    // an id minted by an OLDER derivation is adopted verbatim — a future
    // change to the minting recipe can never re-key an existing stream
    val legacy = new java.io.File(s"$root/ckpt2"); legacy.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(legacy, "_graft_app_id").toPath,
      "stream_mv_legacy42\n".getBytes("UTF-8"))
    assert(TxStream.txnAppId(hconf, legacy.getPath) == "stream_mv_legacy42")
  }

  test("a poisoned _graft_app_id fails loudly naming the file, never a bad stamp") {
    // an EMPTY id would silently disarm per-stream identity (appId "");
    // one with ':' would brick every later merge inside TxTable's charset
    // require with no hint of the cause — both must fail AT READ, naming
    // the file, so the operator fixes the checkpoint instead of the merge
    val root = java.nio.file.Files.createTempDirectory("stream_mv_poison").toString
    val empty = new java.io.File(s"$root/ckptE"); empty.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(empty, "_graft_app_id").toPath, "\n".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] { TxStream.txnAppId(hconf, empty.getPath) }
    assert(e1.getMessage.contains("_graft_app_id") &&
      e1.getMessage.contains("invalid app id"))
    val colon = new java.io.File(s"$root/ckptC"); colon.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(colon, "_graft_app_id").toPath,
      "bad:id\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] { TxStream.txnAppId(hconf, colon.getPath) }
    assert(e2.getMessage.contains("invalid app id"))
  }

  test("replayed micro-batch is a no-op: txn stamp closes the double-apply window") {
    val root = java.nio.file.Files.createTempDirectory("stream_mv_txn").toString
    val tablePath = s"$root/mv"
    serve.TxTable.write(spark,
      FinanceMv.viewOf(Tables.events(spark, sf).limit(0))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
      tablePath)
    val app = TxStream.txnAppId(hconf, s"$root/ckpt")
    val batch = Tables.events(spark, sf).limit(500)
    FinanceMv.maintainDailyCloseMv(spark, batch, tablePath, Some((app, 0L)))
    val vAfter = serve.TxTable.latestVersion(spark, tablePath).get
    val state = serve.TxTable.read(spark, tablePath)
      .collect().map(_.toString).sorted.toSeq
    // the crash-between-commits scenario: the SAME batch id arrives again —
    // the additive fold must not double-apply, and no version is burned
    FinanceMv.maintainDailyCloseMv(spark, batch, tablePath, Some((app, 0L)))
    assert(serve.TxTable.latestVersion(spark, tablePath).contains(vAfter),
      "replay must not burn a commit")
    val replayed = serve.TxTable.read(spark, tablePath)
      .collect().map(_.toString).sorted.toSeq
    assert(replayed == state, "replay must not change the state")
    assert(serve.TxTable.lastTxnBatch(spark, tablePath, app).contains(0L))
    // the NEXT batch id applies normally
    FinanceMv.maintainDailyCloseMv(spark, batch, tablePath, Some((app, 1L)))
    assert(serve.TxTable.latestVersion(spark, tablePath).contains(vAfter + 1))
    assert(serve.TxTable.lastTxnBatch(spark, tablePath, app).contains(1L))
    // a different writer (another appId) is never blocked by this one's stamp
    assert(serve.TxTable.lastTxnBatch(spark, tablePath, app + "_other").isEmpty)
  }
}
