package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Classifier, Curation, Dedup, Similarity}
import graft.serve.{FinanceMv, TxTable}
import graft.streaming._
import java.nio.file.{Files, Paths}

/** Crash-replay for every streaming TxTable sink. Each sink drains two
  * micro-batches; then a crash BETWEEN the table commit and the
  * checkpoint commit is staged by deleting the checkpoint's last
  * `commits/<n>` marker (and its `.crc`), and the sink restarts on the
  * SAME checkpoint. Spark re-runs batch n with the same offsets and the
  * same stamp, so the restart must burn no table version and change no
  * row — whether or not the sink's operator is a pure function of its
  * rows (`StreamShards` reads the table's high-water mark inside the
  * batch; `StreamMv` folds additively). */
class TxStreamReplaySpec extends AnyFunSuite {
  import SparkTestSession._

  /** A sink wired to one scratch root: `land(i)` delivers arriving batch
    * i (0 or 1) to the source, `drain(ckpt)` runs the sink once, and
    * `table` is the TxTable it commits to. */
  private case class Sink(land: Int => Unit, drain: String => Unit, table: String)

  /** Deliver `df` to `in` as ONE parquet file (the file stream lists
    * files, so a whole-file move keeps a half-written drop invisible). */
  private def dropParquet(df: DataFrame, root: String, i: Int): Unit = {
    val tmp = s"$root/tmp_$i"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(s"$root/in"))
    Files.move(part.toPath, Paths.get(s"$root/in/drop_$i.parquet"))
    ()
  }

  private def docs = Tables.documents(spark, sf)

  /** A parquet-drop sink whose arriving batch i is `rows` with
    * `key % 2 == i`. */
  private def parquetSink(root: String, rows: DataFrame, key: String,
      table: String)(drain: (String, String) => Unit): Sink =
    Sink(i => dropParquet(rows.filter(col(key) % 2 === i), root, i),
      ckpt => drain(s"$root/in", ckpt), table)

  private val sinks: Seq[(String, String => Sink)] = Seq(
    "StreamSample" -> { root =>
      parquetSink(root, docs.select("doc_id", "lang", "text"), "doc_id",
        s"$root/t")((in, ck) => StreamSample.sampleStreamTx(spark, in, s"$root/t", ck))
    },
    "StreamWeighted" -> { root =>
      parquetSink(root, docs.select(col("doc_id"), col("lang"), col("source"),
          (col("n_chars") + 1L).as("weight")), "doc_id", s"$root/t")(
        (in, ck) => StreamWeighted.weightedStreamTx(spark, in, s"$root/t", ck))
    },
    "StreamCurate" -> { root =>
      val index = Dedup.bandSignatureRows(
        Tables.spread(spark, docs).filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      parquetSink(root, docs.select("doc_id", "text"), "doc_id", s"$root/t")(
        (in, ck) => StreamCurate.curateStreamTx(spark, in, index, s"$root/t", ck))
    },
    "StreamIndex" -> { root =>
      val vecs = Tables.embeddings(spark, sf)
      Similarity.writePqIndexOf(spark,
        vecs.filter(col("vec_id") % 4 === 0).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"), col("label")),
        s"$root/index")
      parquetSink(root, vecs.filter(col("vec_id") % 4 =!= 0), "vec_id",
        s"$root/index/codes")(
        (in, ck) => StreamIndex.indexStreamTx(spark, in, s"$root/index", ck))
    },
    "StreamScore" -> { root =>
      val w = Classifier.qualityTrainFull(spark, sf)._2
      parquetSink(root, docs.select("doc_id", "text"), "doc_id", s"$root/t")(
        (in, ck) => StreamScore.scoreStreamTx(spark, in, w, s"$root/t", ck))
    },
    "StreamSelect" -> { root =>
      val ratio = Curation.dsirRatio(spark, sf)
      parquetSink(root, docs.select("doc_id", "text"), "doc_id", s"$root/t")(
        (in, ck) => StreamSelect.selectStreamTx(spark, in, ratio, s"$root/t", ck))
    },
    "StreamSemantic" -> { root =>
      Similarity.writeIvfIndex(spark, sf, s"$root/index")
      parquetSink(root, Tables.embeddings(spark, sf).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")), "vec_id", s"$root/t")(
        (in, ck) => StreamSemantic.semanticStreamTx(spark, in, s"$root/index",
          s"$root/t", ck))
    },
    "StreamShards" -> { root =>
      parquetSink(root, docs.select("doc_id", "text"), "doc_id", s"$root/t")(
        (in, ck) => StreamShards.shardStreamTx(spark, in, s"$root/t", ck))
    },
    "StreamSketch" -> { root =>
      parquetSink(root, docs.select("doc_id", "lang", "text"), "doc_id",
        s"$root/t")((in, ck) => StreamSketch.sketchStreamTx(spark, in, s"$root/t", ck))
    },
    "StreamMv.maintainToTx" -> { root =>
      // seed: an empty commit fixes the schema; every batch then merges
      TxTable.write(spark,
        FinanceMv.viewOf(Tables.events(spark, sf).limit(0))
          .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
        s"$root/t")
      parquetSink(root, Tables.events(spark, sf), "user_id", s"$root/t")(
        (in, ck) => StreamMv.maintainToTx(spark, in, s"$root/t", ck))
    },
    "StreamFormat.upsertStream" -> { root =>
      // the raw stocks layer lands one date partition per batch
      val fixture = graft.etl.Fixtures.writeRawLayer(s"$root/fixture")
      val parts = new java.io.File(s"$fixture/yahoo/stocks").listFiles()
        .map(_.getName).sorted
      val company = graft.etl.Format.formatCompany(spark, fixture)
      Sink(i => org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$fixture/yahoo/stocks/${parts(i)}"),
          new java.io.File(s"$root/raw/yahoo/stocks/${parts(i)}")),
        ckpt => StreamFormat.upsertStream(spark, s"$root/raw", company,
          s"$root/t", ckpt),
        s"$root/t")
    })

  private def rows(table: String): Seq[String] =
    TxTable.read(spark, table).collect().map(_.toString).sorted.toSeq

  sinks.foreach { case (name, wire) =>
    test(s"$name: a crash-replayed micro-batch burns no version and changes no row") {
      val root = Files.createTempDirectory("txstream_replay").toString
      val sink = wire(root)
      val ckpt = s"$root/ckpt"
      sink.land(0); sink.drain(ckpt)
      sink.land(1); sink.drain(ckpt)
      val commits = new java.io.File(s"$ckpt/commits")
      val last = commits.listFiles().map(_.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
      assert(last >= 1, s"expected >= 2 micro-batches, saw ${last + 1}")
      val version = TxTable.latestVersion(spark, sink.table)
      val before = rows(sink.table)
      assert(before.nonEmpty)
      // the crash: the table commit landed, the checkpoint commit did not
      assert(new java.io.File(commits, last.toString).delete())
      new java.io.File(commits, s".$last.crc").delete()
      sink.drain(ckpt)
      assert(new java.io.File(commits, last.toString).isFile,
        s"the restart must re-run batch $last")
      assert(TxTable.latestVersion(spark, sink.table) == version,
        "the replayed batch burned a table version")
      assert(rows(sink.table) == before, "the replayed batch changed rows")
    }
  }

  private def appIdOf(ckpt: String): String =
    new String(Files.readAllBytes(Paths.get(ckpt, "_graft_app_id")), "UTF-8").trim

  sinks.foreach { case (name, wire) =>
    test(s"$name: a wiped checkpoint re-run on the same path applies new files") {
      // Spark restarts batch ids at 0 on a wiped checkpoint; were the appId
      // re-minted from the path alone, the replay guard would skip batch 0
      // — which now also holds the file that landed after the wipe
      val root = Files.createTempDirectory("txstream_wipe").toString
      val sink = wire(root)
      val ckpt = s"$root/ckpt"
      sink.land(0); sink.drain(ckpt)
      val app0 = appIdOf(ckpt)
      val version = TxTable.latestVersion(spark, sink.table).get
      val before = rows(sink.table)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      sink.land(1); sink.drain(ckpt)
      assert(appIdOf(ckpt) != app0, "a wiped checkpoint must mint a new appId")
      assert(TxTable.latestVersion(spark, sink.table).exists(_ > version),
        "the re-run on the wiped checkpoint committed nothing")
      assert(rows(sink.table) != before, "the newly landed file left no trace")
    }
  }

  test("a legacy checkpoint (batches, no id file) keeps the path-hashed appId") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("txstream_legacy").toString
    val legacy = new java.io.File(s"$root/ckpt/offsets"); legacy.mkdirs()
    Files.write(new java.io.File(legacy, "0").toPath, "v1\n".getBytes("UTF-8"))
    val seed = new java.io.File(s"$root/ckpt").getCanonicalPath
    val expected = "stream_mv_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(seed) & 0xffffffffL)
    assert(TxStream.txnAppId(hconf, s"$root/ckpt/../ckpt") == expected)
    assert(appIdOf(s"$root/ckpt") == expected)
    // a checkpoint with no batches yet gets a random id instead: the same
    // path minted twice, wiped in between, yields two ids
    val fresh = TxStream.txnAppId(hconf, s"$root/fresh")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/fresh"))
    assert(TxStream.txnAppId(hconf, s"$root/fresh") != fresh)
  }

  test("a txn appId with a lone CR is refused; the table still reads") {
    // the log reader splits lines on a lone CR too, so a header stamped
    // with one would read back as a torn commit and brick the table
    val path = Files.createTempDirectory("txstream_cr").toString + "/t"
    val df = spark.range(4).toDF("id")
    TxTable.write(spark, df, path)
    val v = TxTable.latestVersion(spark, path)
    intercept[IllegalArgumentException] {
      TxTable.merge(spark, df, path, Seq("id"), txn = Some(("a\rb", 0L)))
    }
    assert(TxTable.latestVersion(spark, path) == v)
    assert(TxTable.read(spark, path).count() == 4L)
  }
}
