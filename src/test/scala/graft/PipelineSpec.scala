package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Fixtures, Format}
import graft.serve.Sink
import graft.streaming.StreamFormat
import java.nio.file.Files

/** End-to-end pipeline: raw JSON fixtures → Format (Silver) → Combine
  * (Gold) → keyed serving merge, mirroring the reference DAG
  * `format_data >> combine_data >> index_data`
  * (`airflow/dags/yahoo_finance_pipeline.py:110-112`). */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val root: String = Files.createTempDirectory("graft_e2e").toString
  lazy val rawDir: String = Fixtures.writeRawLayer(root)
  lazy val formattedDir: String = {
    Format.run(spark, rawDir, s"$root/formatted")
    s"$root/formatted"
  }

  test("format stocks: explicit schema, typed date, duplicate partitions both read") {
    val s = spark.read.parquet(s"$formattedDir/stocks")
    assert(s.schema("open").dataType.typeName == "double")
    assert(s.schema("volume").dataType.typeName == "long")
    assert(s.schema("date_d").dataType.typeName == "date")
    assert(s.schema("fetched_at_utc").dataType.typeName == "timestamp")
    // 5 symbols × 70 rows + 70 duplicated rows from the second partition
    assert(s.count() == 5 * 70 + 70)
  }

  test("format news: pre-2020 filtered, duplicate ids deduped") {
    val n = spark.read.parquet(s"$formattedDir/news")
    val ids = n.select("id").collect().map(_.getString(0))
    assert(!ids.contains("n7"), "pre-2020 article must be filtered (P3)")
    assert(ids.length == ids.distinct.length, "duplicate ids must dedup (U2)")
    assert(n.count() == 6) // 8 raw − 1 pre-2020 − 1 dup
  }

  test("combine: reference Gold schema, news counts, orphan symbol nulls") {
    val g = Format.combine(spark, formattedDir)
    assert(g.columns.toSeq == Seq("symbol", "name", "sector", "industry",
      "date", "open", "high", "low", "close", "volume", "market_cap",
      "daily_range", "daily_change_pct", "news_count", "latest_news_date",
      "fetched_at_utc"))
    val byAapl = g.filter(col("symbol") === "AAPL").select("news_count").distinct().collect()
    assert(byAapl.map(_.getLong(0)).toSeq == Seq(2L))
    // orphan symbol: dim columns null after left join
    val orphan = g.filter(col("symbol") === Fixtures.OrphanSymbol)
    assert(orphan.count() > 0)
    assert(orphan.filter(col("name").isNotNull).count() == 0)
    // open==0 row: daily_change_pct must be null (guarded division), not error
    assert(g.filter(col("open") === 0.0 && col("daily_change_pct").isNotNull).count() == 0)
  }

  test("full DAG runner: ingest→format→combine→predict→index, idempotent re-run") {
    import graft.serve.TxTable
    val dagRoot = Files.createTempDirectory("graft_dag").toString
    val first = graft.etl.Pipeline.run(spark, dagRoot)
    val counts = first.map(c => c.table -> c.rows).toMap
    assert(counts("stocks") == 5 * 70 + 70)     // dup partition survives to formatted
    assert(counts("combined") == 5 * 70 + 70)
    assert(counts("predictions") == 5 * (70 + 30)) // every symbol ≥60 rows
    assert(counts("serving_combined") == 5 * 70)   // doc_id merge collapses the dup
    assert(counts("serving_predictions") == 5 * 100)
    val servingTables = Seq("combined", "predictions").map(t => s"$dagRoot/serving/$t")
    def rows(path: String, version: Option[Long] = None) =
      TxTable.read(spark, path, version).collect().map(_.toString).toSet
    val firstRows = servingTables.map(rows(_))
    // the index stage is a keyed merge: re-running the DAG must converge,
    // as exactly one more merge commit per serving table
    val second = graft.etl.Pipeline.run(spark, dagRoot)
    assert(second.map(c => c.table -> c.rows).toMap == counts)
    servingTables.zip(firstRows).foreach { case (path, before) =>
      assert(TxTable.history(spark, path).map(h => (h._1, h._2)) ==
        Seq((1L, "merge"), (0L, "merge")), path)
      assert(rows(path) == before, s"$path: the re-run changed the serving rows")
      assert(rows(path, Some(0L)) == before, s"$path: version 0 lost the first run's rows")
    }
    // serving docs carry the ES shapes: deterministic doc_id, ISO timestamps
    val serving = TxTable.read(spark, servingTables.head)
    assert(serving.filter(col("doc_id") =!=
      concat_ws("_", col("symbol"), col("date"))).count() == 0)
    val iso = serving.filter(col("latest_news_date").isNotNull)
      .select("latest_news_date").head().getString(0)
    assert(iso.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"""))
  }

  test("TxTable MERGE: insert, update, idempotent rerun, time travel") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_enriched"
    val base = Seq(("a", 1L, 10.0), ("b", 1L, 20.0), ("c", 1L, 30.0))
      .toDF("doc_id", "ver", "price")
    val v0 = TxTable.merge(spark, base, path, Seq("doc_id"), Some("ver"))
    assert(v0 == 0L && TxTable.read(spark, path).count() == 3)
    // update one key + insert one key in a single MERGE
    val upd = Seq(("b", 2L, 21.0), ("d", 1L, 40.0)).toDF("doc_id", "ver", "price")
    val v1 = TxTable.merge(spark, upd, path, Seq("doc_id"), Some("ver"))
    val now = TxTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(v1 == 1L && now == Map("a" -> 10.0, "b" -> 21.0, "c" -> 30.0, "d" -> 40.0))
    // idempotent rerun: same MERGE again → new version, identical rows
    val v2 = TxTable.merge(spark, upd, path, Seq("doc_id"), Some("ver"))
    val rerun = TxTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(v2 == 2L && rerun == now)
    // time travel: v0 still shows the pre-merge snapshot
    val old = TxTable.read(spark, path, Some(0L)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(old == Map("a" -> 10.0, "b" -> 20.0, "c" -> 30.0))
    assert(TxTable.history(spark, path).map(_._1) == Seq(2L, 1L, 0L))
  }

  test("TxTable file-pruned merge: untouched data files carried into the new manifest") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_prune"
    val base = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0))
      .toDF("doc_id", "price").repartition(2, col("doc_id"))
    TxTable.write(spark, base, path)
    val filesV0 = TxTable.read(spark, path, Some(0L)).inputFiles.toSet
    assert(filesV0.size == 2, s"base snapshot should span 2 files: $filesV0")
    TxTable.merge(spark, Seq(("a", 99.0)).toDF("doc_id", "price"), path, Seq("doc_id"))
    val filesV1 = TxTable.read(spark, path).inputFiles.toSet
    // the file without key 'a' must be SHARED between versions (not rewritten)
    assert((filesV0 intersect filesV1).nonEmpty,
      s"no file carried across the merge: v0=$filesV0 v1=$filesV1")
    assert(filesV1 != filesV0, "the touched file must have been replaced")
    val now = TxTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(now == Map("a" -> 99.0, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0))
    // compaction: same content folded into one file, as a new version
    val vC = TxTable.compact(spark, path, numFiles = 1)
    assert(TxTable.read(spark, path).inputFiles.length == 1)
    assert(TxTable.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap == now)
    assert(TxTable.history(spark, path).head == ((vC, "compact", 1)))
  }

  test("TxTable commit races: version collision detected, merge retried on the new snapshot") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_race"
    TxTable.merge(spark, Seq(("a", 10.0)).toDF("doc_id", "price"), path, Seq("doc_id"))
    // simulate a concurrent writer stealing version 1: copy v0's manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(path, "_txlog")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(log, "00000000.txt"), fs,
      new org.apache.hadoop.fs.Path(log, "00000001.txt"), false,
      spark.sparkContext.hadoopConfiguration)
    // our merge must lose the v1 race, re-read, and commit as v2 with BOTH rows
    val v = TxTable.merge(spark, Seq(("b", 20.0)).toDF("doc_id", "price"),
      path, Seq("doc_id"))
    assert(v == 2L)
    assert(TxTable.read(spark, path).collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("TxTable vacuum: unreferenced data files reclaimed, retained versions intact") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_vacuum"
    (1 to 4).foreach { i =>
      TxTable.merge(spark, Seq(("k", i.toLong, i * 1.0)).toDF("doc_id", "ver", "price"),
        path, Seq("doc_id"), Some("ver"))
    }
    // retention 0: test-only — no concurrent writer can be staging here
    TxTable.vacuum(spark, path, keepVersions = 2, retentionMs = 0L)
    // latest and latest-1 still read; older manifests gone
    assert(TxTable.read(spark, path).collect().head.getDouble(2) == 4.0)
    assert(TxTable.read(spark, path, Some(2L)).collect().head.getDouble(2) == 3.0)
    intercept[java.io.FileNotFoundException] {
      TxTable.read(spark, path, Some(0L))
    }
    // vacuum again with a WIDER window than what survives: must not crash on
    // the non-contiguous log and must keep the present versions readable
    TxTable.vacuum(spark, path, keepVersions = 5, retentionMs = 0L)
    assert(TxTable.history(spark, path).map(_._1) == Seq(3L, 2L))
    // every surviving data file is referenced by a retained manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val kept = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    val referenced = TxTable.history(spark, path).map(_._1)
      .flatMap(v => TxTable.read(spark, path, Some(v)).inputFiles.toSeq)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(kept == referenced, s"orphans survived vacuum: ${kept -- referenced}")
  }

  test("TxTable pruned prefix without checkpoint fails loudly, never a wrong manifest") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_pruned_prefix"
    (1 to 3).foreach { i =>
      TxTable.merge(spark, Seq(("k" + i, i * 1.0)).toDF("doc_id", "price"),
        path, Seq("doc_id"))
    }
    // out-of-band prune of v0 (no checkpoint exists at interval 10): the
    // surviving delta chain (v1, v2) is NOT rooted at the table's first
    // commit, so state rebuilt over an empty base would silently drop v0's
    // rows — resolution must refuse instead
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_txlog/00000000.txt"), false)
    intercept[java.io.FileNotFoundException] {
      TxTable.manifest(spark, path)
    }
  }

  test("TxTable mid-log hole: affected versions refuse/report, checkpoint re-roots") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_midlog_hole"
    // 12 merges → v0..v11, checkpoint written at v10 (CheckpointInterval)
    (0 to 11).foreach { i =>
      TxTable.merge(spark, Seq(("k" + (i % 3), i.toLong, i * 1.0))
        .toDF("doc_id", "ver", "price"), path, Seq("doc_id"), Some("ver"))
    }
    val expected = (0L to 11L).map(v => v -> TxTable.manifest(spark, path, Some(v)).size).toMap
    // external deletion punches a hole at v5: v5..v9 manifests become
    // unknowable (their delta ancestry has unseen removes/adds); v10+ stay
    // resolvable through the checkpoint
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_txlog/00000005.txt"), false)
    (6L to 9L).foreach { v =>
      intercept[java.io.FileNotFoundException] { TxTable.manifest(spark, path, Some(v)) }
    }
    assert(TxTable.manifest(spark, path, Some(10L)).size == expected(10L))
    assert(TxTable.manifest(spark, path).size == expected(11L))
    // history: pre-hole versions fold normally, unknowable ones read -1
    // (loud, never a silently-wrong count), checkpointed tail is exact —
    // i.e. every resolvable version matches full resolution
    val h = TxTable.history(spark, path).map(r => r._1 -> r._3).toMap
    (0L to 4L).foreach(v => assert(h(v) == expected(v), s"v$v"))
    (6L to 9L).foreach(v => assert(h(v) == -1, s"v$v must be unresolvable"))
    assert(h(10L) == expected(10L) && h(11L) == expected(11L))
  }

  test("TxTable torn commit refuses loudly; deleting it recovers the version") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_torn_commit"
    TxTable.write(spark, Seq(("a", 1.0)).toDF("doc_id", "price"), path) // v0
    TxTable.merge(spark, Seq(("b", 2.0)).toDF("doc_id", "price"), path,
      Seq("doc_id")) // v1
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val v1 = new org.apache.hadoop.fs.Path(path, "_txlog/00000001.txt")
    // a writer dying mid-publish on a store without atomic rename leaves a
    // HALF-WRITTEN commit at a committed name: replay that by truncating
    // the file mid-body (the `#eof` trailer is the last line, so any
    // truncation removes or corrupts it)
    val bytes = {
      val in = fs.open(v1)
      try { val b = new Array[Byte](fs.getFileStatus(v1).getLen.toInt)
        in.readFully(b); b } finally in.close()
    }
    def overwrite(content: Array[Byte]): Unit = {
      fs.delete(v1, false)
      val out = fs.create(v1, true)
      try out.write(content) finally out.close()
    }
    overwrite(bytes.take(bytes.length / 2))
    // reads touching the torn version refuse LOUDLY (never a silently
    // shorter manifest — the pre-framing failure mode)
    val e = intercept[java.io.IOException] { TxTable.manifest(spark, path) }
    assert(e.getMessage.contains("torn"), e.getMessage)
    assert(e.getMessage.contains("previous version") &&
           e.getMessage.contains("trailer-less"),
      "refusal must document recovery AND warn about pre-v2 tables: " + e.getMessage)
    // a zero-byte torn file (crash before any flush) refuses the same way
    overwrite(Array.emptyByteArray)
    intercept[java.io.IOException] { TxTable.manifest(spark, path) }
    // versions BELOW the torn commit stay readable — the damage is scoped
    assert(TxTable.read(spark, path, Some(0L)).count() == 1L)
    // documented recovery: the torn version never committed — delete it and
    // the table resolves at the previous version
    fs.delete(v1, false)
    assert(TxTable.read(spark, path).count() == 1L)
    // ... and the version number is claimable again: a retried writer
    // commits as v1 and the table moves on (log-level idempotent re-commit)
    TxTable.merge(spark, Seq(("b", 2.0)).toDF("doc_id", "price"), path,
      Seq("doc_id"))
    assert(TxTable.history(spark, path).head._1 == 1L)
    assert(TxTable.read(spark, path).count() == 2L)
  }

  test("TxTable pre-v2 trailer-less log is detected programmatically, not via prose") {
    import graft.serve.TxTable
    val path = s"$root/serving/tx_pre_v2"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def writeRaw(name: String, content: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path, s"_txlog/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // a durable table persisted by the pre-framing (v1) format: legacy
    // full-manifest commits, no '#eof' trailer anywhere in the log
    writeRaw("00000000.txt", "write\ndata/aa-part-00000.parquet")
    writeRaw("00000001.txt", "write\ndata/bb-part-00000.parquet")
    // every read must raise the DISTINCT migrate error — the torn-commit
    // recovery advice (delete the file) applied per-read would serially
    // destroy this healthy log
    val e = intercept[java.io.IOException] { TxTable.manifest(spark, path) }
    assert(e.getMessage.contains("trailer-less table") &&
      e.getMessage.contains("do not delete"), e.getMessage)
    // but a SINGLE trailer-less file in an otherwise-framed log is still
    // a torn commit with the torn recovery path, not a format mismatch
    val fine = s"$root/serving/tx_pre_v2_mixed"
    import spark.implicits._
    TxTable.write(spark, Seq(("a", 1.0)).toDF("doc_id", "price"), fine)
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(fine), spark.sparkContext.hadoopConfiguration)
    val out = fs2.create(new org.apache.hadoop.fs.Path(fine, "_txlog/00000001.txt"), true)
    try out.write("merge\n+data/cc-part-00000.parquet".getBytes("UTF-8"))
    finally out.close()
    val e2 = intercept[java.io.IOException] { TxTable.manifest(spark, fine) }
    assert(e2.getMessage.contains("torn") &&
      !e2.getMessage.contains("trailer-less table ("), e2.getMessage)
  }

  test("TxTable change feed: deltas classify, resets diff, carries suppressed") {
    import graft.serve.TxTable
    import spark.implicits._
    val path = s"$root/serving/tx_cdc"
    def rows(t: (Long, String, Double)*) = t.toSeq.toDF("id", "name", "price")
    TxTable.merge(spark, rows((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0)),
      path, Seq("id"))
    TxTable.merge(spark, rows((2L, "y", 25.0), (4L, "w", 40.0)), path, Seq("id"))
    // v2 is a RESET (full write): drops 3 and 4, keeps 1 and 2 unchanged
    TxTable.write(spark, rows((1L, "x", 10.0), (2L, "y", 25.0)), path)
    def feed(a: Long, b: Long) =
      TxTable.changes(spark, path, a, b, Seq("id")).collect()
        .map(r => (r.getAs[String]("change_type"), r.getAs[Int]("commit_version"),
          r.getAs[Long]("id"), r.getAs[Double]("price"))).toSet
    // merge commit: the new key is an insert, the changed key an update
    // pair, and carried rewrites of identical rows (1, 3 in touched
    // files) are suppressed — rewrite traffic is not change
    assert(feed(0L, 1L) == Set(
      ("insert", 1, 4L, 40.0),
      ("update_preimage", 1, 2L, 20.0),
      ("update_postimage", 1, 2L, 25.0)))
    // reset commit: full-snapshot diff — pure deletes here
    assert(feed(1L, 2L) == Set(
      ("delete", 2, 3L, 30.0), ("delete", 2, 4L, 40.0)))
    assert(feed(0L, 2L) == feed(0L, 1L) ++ feed(1L, 2L))
    // a vacuumed/deleted commit inside the range must refuse, not skip
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_txlog/00000001.txt"), false)
    intercept[java.io.FileNotFoundException] {
      TxTable.changes(spark, path, 0L, 2L, Seq("id"))
    }
  }

  test("view maintenance: delta-apply equals full rebuild at every step") {
    import graft.serve.{ChangeFeed, TxTable}
    import spark.implicits._
    val path = s"$root/serving/tx_view"
    def rows(t: (Long, Double)*) = t.toSeq.toDF("o_orderkey", "price")
    TxTable.merge(spark, rows((1L, 10.0), (2L, 20.0), (3L, 30.0), (53L, 5.0)),
      path, Seq("o_orderkey"))
    TxTable.merge(spark, rows((2L, 25.0), (4L, 40.0)), path, Seq("o_orderkey"))
    // v2 reset: key 3 disappears entirely — its group must LEAVE the view
    TxTable.write(spark,
      rows((1L, 10.0), (2L, 25.0), (4L, 40.0), (53L, 5.0)), path)
    def render(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("n_rows"),
        r.getAs[java.math.BigDecimal]("s"))).sortBy(_._1).toSeq
    val view0 = ChangeFeed.viewOf(TxTable.read(spark, path, Some(0L)))
    // decimal sums are exact and associative, so the maintained view must
    // equal the full rebuild BIT-FOR-BIT, not approximately — and key 53
    // shares group 3 with key 3 (pmod 50), so counts, not presence, decide
    val m1 = ChangeFeed.maintain(view0,
      TxTable.changes(spark, path, 0L, 1L, Seq("o_orderkey")))
    assert(render(m1) ==
      render(ChangeFeed.viewOf(TxTable.read(spark, path, Some(1L)))))
    val m2 = ChangeFeed.maintain(m1,
      TxTable.changes(spark, path, 1L, 2L, Seq("o_orderkey")))
    assert(render(m2) ==
      render(ChangeFeed.viewOf(TxTable.read(spark, path, Some(2L)))))
    // group 3 still present (key 53 remains), but with ONE row now
    assert(render(m2).find(_._1 == 3L).map(_._2).contains(1L))
  }

  test("change feed fixture: another session's build leaves this session's frame readable") {
    import graft.serve.ChangeFeed
    val mine = ChangeFeed.tableChangesQuery(spark, sf)
    val expected = mine.collect().map(_.toString).sorted.toSeq
    // a second session builds its own fixture; rebuilding in place would
    // delete the data files `mine` resolved
    val other = spark.newSession()
    assert(ChangeFeed.tableChangesQuery(other, sf).count() == expected.size)
    assert(mine.collect().map(_.toString).sorted.toSeq == expected)
  }

  test("TxTable merge leaves a foreign part file untouched and unread") {
    import graft.serve.TxTable
    val path = s"$root/serving/foreign_part"
    // a directory that already holds a file no commit names — a corrupt
    // "parquet" file here, or a plain parquet table from before the serving
    // layer was transactional: the merge neither reads nor replaces it
    new java.io.File(path).mkdirs()
    val foreign = java.nio.file.Paths.get(s"$path/part-00000.parquet")
    java.nio.file.Files.writeString(foreign, "not parquet at all")
    val bytes = java.nio.file.Files.readAllBytes(foreign)
    val g = Sink.withDocId(Format.combine(spark, formattedDir), "symbol", "date")
    assert(TxTable.merge(spark, g, path, Seq("doc_id")) == 0L)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(foreign), bytes),
      "the foreign file must stay byte-identical")
    val back = TxTable.read(spark, path)
    assert(back.count() == 5 * 70, "only the merge's own commit is read back")
    assert(back.inputFiles.forall(f => !f.endsWith("/part-00000.parquet")))
  }

  test("CSV and ORC roundtrip through the same table contract") {
    val g = Format.combine(spark, formattedDir).limit(50)
    val base = s"$root/formats"
    g.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    g.write.mode("overwrite").orc(s"$base/orc")
    val csvBack = spark.read.option("header", "true")
      .schema(g.schema).csv(s"$base/csv")
    val orcBack = spark.read.orc(s"$base/orc")
    assert(csvBack.count() == 50 && orcBack.count() == 50)
    assert(orcBack.schema == g.schema)
    // values survive the ORC roundtrip exactly
    val want = g.orderBy("symbol", "date").collect().toSeq
    assert(orcBack.orderBy("symbol", "date").collect().toSeq == want)
  }

  test("partition refresh: only touched partitions rewritten") {
    val path = s"$root/serving/by_symbol"
    val g = Format.combine(spark, formattedDir)
    Sink.refreshPartitions(spark, g, path, "symbol")
    // capture the BEFORE state: per-symbol counts prior to the partial refresh
    val before = spark.read.parquet(path).groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // refresh a single symbol with a 1-row frame: other symbols intact
    val one = g.filter(col("symbol") === "AAPL").limit(1)
    Sink.refreshPartitions(spark, one, path, "symbol")
    val after = spark.read.parquet(path).groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("AAPL") == 1L)
    (before.keySet - "AAPL").foreach { s =>
      assert(after(s) == before(s), s"untouched partition $s was modified")
    }
    assert(after.keySet == before.keySet)
  }

  test("streaming format: AvailableNow produces same rows as batch") {
    val out = s"$root/stream_out"
    StreamFormat.runAvailableNow(spark, rawDir, out, s"$root/ckpt1")
    val streamed = spark.read.parquet(s"$out/stocks_stream")
    val batch = Format.formatStocks(spark, rawDir)
    assert(streamed.count() == batch.count())
    // incremental: a second AvailableNow run with no new files adds nothing
    StreamFormat.runAvailableNow(spark, rawDir, out, s"$root/ckpt1")
    assert(spark.read.parquet(s"$out/stocks_stream").count() == batch.count())
  }

  test("raw JSON sink: date-partitioned, NaN scrubbed to null") {
    import spark.implicits._
    val df = Seq(
      ("a", "2024-01-01 10:00:00", 1.5),
      ("b", "2024-01-02 11:00:00", Double.NaN),
      ("c", "2024-01-02 12:00:00", Double.PositiveInfinity)
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val out = s"$root/raw_json_sink"
    Sink.writeRawJson(df, out, "ts")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("ingest_date=2024-01-01", "ingest_date=2024-01-02"))
    val back = spark.read.json(s"$out")
    assert(back.filter(col("v").isNotNull).count() == 1) // NaN and Inf scrubbed
  }

  test("streaming TxTable merge: per-batch commits, replay converges, history kept") {
    import graft.serve.TxTable
    val table = s"$root/stream_tx"
    val company = spark.read.parquet(s"$formattedDir/company_info")
    StreamFormat.upsertStream(spark, rawDir, company, table, s"$root/ckpt_tx")
    val v1 = TxTable.latestVersion(spark, table).get
    val snap1 = TxTable.read(spark, table)
    val n1 = snap1.count()
    assert(n1 == snap1.select("doc_id").distinct().count(), "doc_id unique after merge")
    assert(snap1.columns.contains("sector"))
    // replay from a FRESH checkpoint: new versions committed, same final state
    StreamFormat.upsertStream(spark, rawDir, company, table, s"$root/ckpt_tx2")
    val v2 = TxTable.latestVersion(spark, table).get
    assert(v2 > v1, "replay must commit new versions, not rewrite old ones")
    assert(TxTable.read(spark, table).count() == n1, "replay must converge")
    // the pre-replay snapshot is still reachable (time travel)
    assert(TxTable.read(spark, table, Some(v1)).count() == n1)
  }

  test("streaming daily rollup with watermark") {
    val q = StreamFormat.dailyRollupToMemory(spark, rawDir, "rollup_test")
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from rollup_test")
    assert(got.count() > 0)
    assert(got.columns.contains("day_high"))
  }

  test("stream-stream interval join matches the batch join on the same data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ss_join").toString
    val trades = Seq(
      ("AAPL", "2024-01-01 10:00:00", 190.0),
      ("AAPL", "2024-01-01 10:20:00", 191.0),
      ("MSFT", "2024-01-01 10:05:00", 370.0))
      .toDF("t_symbol", "t_ts_s", "px")
      .select($"t_symbol", $"t_ts_s".cast("timestamp").as("t_ts"), $"px")
    val quotes = Seq(
      ("AAPL", "2024-01-01 09:55:00", 189.9), // within 10 min of trade 1
      ("AAPL", "2024-01-01 10:00:00", 190.1), // same-instant tie: visible
      ("AAPL", "2024-01-01 10:05:00", 190.2), // matches NO trade (10:20 is >10min later)
      ("MSFT", "2024-01-01 10:04:00", 369.8), // within window of MSFT trade
      ("AAPL", "2024-01-01 10:19:00", 190.9)) // within 10 min of trade 2
      .toDF("q_symbol", "q_ts_s", "bid")
      .select($"q_symbol", $"q_ts_s".cast("timestamp").as("q_ts"), $"bid")
    trades.write.mode("overwrite").parquet(s"$dir/t")
    quotes.write.mode("overwrite").parquet(s"$dir/q")
    val tIn = spark.readStream.schema("t_symbol STRING, t_ts TIMESTAMP, px DOUBLE")
      .parquet(s"$dir/t")
    val qIn = spark.readStream.schema("q_symbol STRING, q_ts TIMESTAMP, bid DOUBLE")
      .parquet(s"$dir/q")
    val q = StreamFormat.tradeQuoteJoinToMemory(spark, tIn, qIn, "ss_join_test")
    q.processAllAvailable()
    q.stop()
    val cols = Seq("t_symbol", "t_ts", "px", "q_ts", "bid").map(col)
    val got = spark.sql("select * from ss_join_test").select(cols: _*)
      .collect().map(_.toString).sorted
    val want = trades.join(quotes, expr(
        "t_symbol = q_symbol AND q_ts >= t_ts - INTERVAL 10 MINUTES AND q_ts <= t_ts"))
      .select(cols: _*).collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(want),
      s"stream ≠ batch:\n${got.mkString("\n")}\nvs\n${want.mkString("\n")}")
    // the 10:05 AAPL quote must not leak into any trade's window
    assert(!got.exists(_.contains("190.2")))
  }

  test("streaming HLL distinct rollup matches exact counts on a small stream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hll_stream").toString
    // 3 event types × ≤40 users over 2 days, plus a far-future row so the
    // watermark passes the real windows and append mode emits them
    val rows = (for {
      et <- Seq("click", "view", "buy")
      u <- 1 to (10 + et.length * 7)
      d <- Seq("2024-01-01", "2024-01-02")
    } yield (u.toLong, s"$d 10:0${u % 6}:00", et)) :+
      ((999L, "2024-03-01 00:00:00", "click"))
    rows.toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/in")
    val streamIn = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
      .parquet(s"$dir/in")
    val q = StreamFormat.distinctRollupToMemory(spark, streamIn, "hll_rollup_test")
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "select window.start as ws, event_type, hll_users from hll_rollup_test")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString.take(10),
        r.getAs[String]("event_type")) -> r.getAs[Long]("hll_users")).toMap
    assert(got.nonEmpty, "watermark must have released the January windows")
    // small-n linear counting is near-exact but NOT collision-proof: ~45
    // keys into 4096 registers still carry ~20% odds of one shared register
    // per group, so allow ±1 (the HllSpec pattern) rather than pinning the
    // current hash layout
    got.foreach { case ((day, et), n) =>
      if (day.startsWith("2024-01"))
        assert(math.abs(n - (10 + et.length * 7)) <= 1, s"($day,$et): got $n")
    }
  }
}
