package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, IsNotNull, IsNull, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.{TxStats, TxTable}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** TxTable manifest statistics and data skipping: per-file (lo, hi, nulls)
  * recorded at commit time, consulted by the snapshot reader's FileIndex so
  * pushed-down filters prune whole files, and by MERGE to bound its
  * matched-file scan. */
class TxStatsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_txstats_$tag").toString + "/t"

  /** 10k rows range-partitioned into 4 files with disjoint id ranges. */
  private def writeRangeTable(path: String): Unit = {
    val df = spark.range(10000).toDF("id")
      .withColumn("txt", concat(lit("doc-"), format_string("%05d", col("id"))))
      .withColumn("price", col("id") * 0.5)
      .withColumn("maybe",
        when(col("id") < 2500, lit(null).cast("double")).otherwise(col("price")))
      .repartitionByRange(4, col("id"))
    TxTable.write(spark, df, path)
  }

  private def resolvedAttr(path: String, name: String) =
    TxTable.read(spark, path).queryExecution.analyzed.output
      .find(_.name == name).get

  private def surviving(path: String, f: Expression): Int =
    TxTable.fileIndex(spark, path).survivingFiles(Seq(f)).size

  test("commit records per-file stats with disjoint, ordered ranges") {
    val path = freshDir("stats"); writeRangeTable(path)
    val entries = TxTable.manifest(spark, path)
    assert(entries.size == 4)
    assert(entries.forall(_.stats.isDefined))
    val idStats = entries.map(_.stats.get.cols("id"))
    assert(idStats.forall(s => s.lo.isDefined && s.hi.isDefined))
    val ranges = idStats
      .map(s => (s.lo.get.asInstanceOf[BigDecimal], s.hi.get.asInstanceOf[BigDecimal]))
      .sortBy(_._1)
    assert(ranges.head._1 == BigDecimal(0) && ranges.last._2 == BigDecimal(9999))
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) => assert(hi < lo) }
    // file sizes and row counts recorded (FileStatus without fs calls)
    assert(entries.forall(e => e.stats.get.bytes > 0 && e.stats.get.rows > 0))
    assert(entries.map(_.stats.get.rows).sum == 10000L)
  }

  test("point filter prunes to one file, transparently through the scan") {
    val path = freshDir("skip"); writeRangeTable(path)
    val id = resolvedAttr(path, "id")
    assert(surviving(path, EqualTo(id, Literal(7777L))) == 1)
    assert(surviving(path, EqualTo(id, Literal(-5L))) == 0)

    // end-to-end: the physical scan's numFiles metric shows the pruning
    val q = TxTable.read(spark, path).filter(col("id") === 7777L)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(7777L))
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metrics("numFiles").value == 1,
      s"expected 1 file read, got ${scan.metrics("numFiles").value}")
  }

  test("string and range filters prune; unprunable filters read everything") {
    val path = freshDir("str"); writeRangeTable(path)
    val txt = resolvedAttr(path, "txt")
    val id = resolvedAttr(path, "id")
    // txt sorts with id (zero-padded), so a point lookup hits one file
    assert(surviving(path, EqualTo(txt, Literal.create("doc-00003"))) == 1)
    // range filter: id >= 9000 lives in the last file only
    val ge = org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
      id, Literal(9000L))
    assert(surviving(path, ge) == 1)
    // a filter on an un-collected shape keeps all files (conservative)
    val udfFilter = GraftBridge.expression(abs(col("id")) === 3L)
    assert(surviving(path, udfFilter) == 4)
    // rows still correct under pruning
    assert(TxTable.read(spark, path).filter(col("id") >= 9000L).count() == 1000L)
  }

  test("null-count stats drive IS NULL / IS NOT NULL pruning") {
    val path = freshDir("nulls"); writeRangeTable(path)
    val maybe = resolvedAttr(path, "maybe")
    // nulls exist exactly where id < 2500; range boundaries are sampled, so
    // derive expectations from the (independently verified) id stats
    val idRanges = TxTable.manifest(spark, path).map(_.stats.get.cols("id"))
      .map(s => (s.lo.get.asInstanceOf[BigDecimal], s.hi.get.asInstanceOf[BigDecimal]))
    val filesWithNulls = idRanges.count(_._1 < 2500)
    val filesAllNull = idRanges.count(_._2 < 2500)
    assert(filesWithNulls >= 1 && filesAllNull >= 1) // construction sanity
    assert(surviving(path, IsNull(maybe)) == filesWithNulls)
    // an all-null file is pruned by IsNotNull…
    assert(surviving(path, IsNotNull(maybe)) == 4 - filesAllNull)
    // …and equality can never match it either
    assert(surviving(path, EqualTo(maybe, Literal(100.0))) <= 4 - filesAllNull)
    assert(TxTable.read(spark, path).filter(col("maybe").isNull).count() == 2500L)
  }

  test("stats-less manifests (pre-stats format) read fine, never prune") {
    val path = freshDir("compat"); writeRangeTable(path)
    // simulate an old manifest: strip the stats column off every line
    val mf = Paths.get(path, "_txlog", "00000000.txt")
    val stripped = Files.readAllLines(mf).asScala.map(_.split('\t')(0)).asJava
    Files.write(mf, stripped)
    val id = resolvedAttr(path, "id")
    assert(surviving(path, EqualTo(id, Literal(7777L))) == 4) // no pruning
    assert(TxTable.read(spark, path).filter(col("id") === 7777L).count() == 1L)
    assert(TxTable.read(spark, path).count() == 10000L)
  }

  test("merge consults key bounds: disjoint updates keep carried files, result exact") {
    val path = freshDir("merge"); writeRangeTable(path)
    val before = TxTable.manifest(spark, path).map(_.rel).toSet
    // updates confined to the top range file
    val upd = spark.range(9000, 9100).toDF("id")
      .withColumn("txt", lit("updated"))
      .withColumn("price", lit(-1.0))
      .withColumn("maybe", lit(0.0))
    TxTable.merge(spark, upd, path, Seq("id"))
    val after = TxTable.manifest(spark, path).map(_.rel).toSet
    // exactly the 3 untouched range files carried over
    assert((before & after).size == 3)
    val t = TxTable.read(spark, path)
    assert(t.count() == 10000L)
    assert(t.filter(col("price") === -1.0).count() == 100L)
    assert(t.filter(col("id") === 500L && col("txt") =!= "updated").count() == 1L)
    // carried files kept their stats → pruning still works post-merge
    val id = resolvedAttr(path, "id")
    assert(surviving(path, EqualTo(id, Literal(100L))) == 1)
  }

  test("OPTIMIZE ZORDER: compaction re-clusters so filters on both columns prune") {
    val path = freshDir("zorder")
    // a 64×64 (x, y) grid written hash-partitioned: every one of the 8
    // files spans the FULL range of both columns, so stats prune nothing
    val base = spark.range(4096).toDF("id")
      .withColumn("x", (col("id") % 64).cast("double"))
      .withColumn("y", ((col("id") / lit(64)) % 64).cast("double"))
    TxTable.write(spark, base.repartition(8), path)
    val before = surviving(path, EqualTo(resolvedAttr(path, "x"), Literal(3.0)))
    assert(before == 8, s"expected the scattered layout to prune nothing, got $before")

    val v = TxTable.compact(spark, path, numFiles = 16, zorderBy = Some(("x", "y")))
    assert(TxTable.history(spark, path).head._1 == v)
    assert(TxTable.history(spark, path).head._2 == "compact")
    // contiguous z-ranges ⇒ each file is a tight box on BOTH columns:
    // an (x, y) point now touches a corner of the grid, not every file
    val (xA, yA) = (resolvedAttr(path, "x"), resolvedAttr(path, "y"))
    val both = TxTable.fileIndex(spark, path)
      .survivingFiles(Seq(EqualTo(xA, Literal(3.0)), EqualTo(yA, Literal(3.0)))).size
    assert(both <= 2, s"z-ordered point lookup should touch ≤2 files, got $both")
    assert(surviving(path, EqualTo(xA, Literal(3.0))) <= 8 / 2,
      "single-column filter should prune at least half the z-ordered files")
    // the rewrite changed layout only — content identical
    val got = TxTable.read(spark, path).select("id").as[Long].collect().sorted
    assert(got.toSeq == (0L until 4096L))
  }

  test("50 merge commits: delta log + checkpoints keep resolution O(1) in history") {
    val path = freshDir("cp")
    val dir = new java.io.File(path).getParentFile
    TxTable.write(spark, Seq((0L, "seed")).toDF("k", "v"), path)
    (1 to 50).foreach { i =>
      TxTable.merge(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
    }
    val log = new java.io.File(s"$path/_txlog")
    // checkpoints materialized every CheckpointInterval commits
    val cps = log.listFiles().map(_.getName).filter(_.endsWith(".checkpoint")).sorted
    assert(cps.nonEmpty, "no checkpoint written in 50 commits")
    assert(cps.contains(f"${50L}%08d.checkpoint"))
    // commit files stay O(touched): a 1-row merge writes a constant-size
    // delta, NOT the accumulated table manifest
    val sizes = (1 to 50).map(v => new java.io.File(s"$path/_txlog/${f"$v%08d"}.txt").length())
    assert(sizes.max < 4 * sizes.min,
      s"commit size grew with table history: ${sizes.min}..${sizes.max}")
    // snapshot resolution uses ONE checkpoint + the delta tail: deleting
    // every commit at or before the last checkpoint must not affect reads
    val full = TxTable.read(spark, path).orderBy("k").collect().map(_.toString)
    (0 until 50).foreach { v =>
      new java.io.File(s"$path/_txlog/${f"$v%08d"}.txt").delete()
    }
    val viaCheckpoint = TxTable.read(spark, path).orderBy("k").collect().map(_.toString)
    assert(viaCheckpoint.sameElements(full), "checkpoint resolution diverged")
    assert(TxTable.manifest(spark, path).nonEmpty)
  }

  test("vacuum keeps old versions resolvable by materializing their checkpoints") {
    val path = freshDir("cpvac")
    TxTable.write(spark, Seq((0L, "seed")).toDF("k", "v"), path)
    (1 to 7).foreach { i =>
      TxTable.merge(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
    }
    val before = TxTable.read(spark, path, Some(6L)).count()
    TxTable.vacuum(spark, path, keepVersions = 2, retentionMs = 0L)
    // v6 and v7 kept; their ancestry (v0..v5 deltas) is gone, yet both
    // resolve from the checkpoints vacuum wrote
    assert(TxTable.read(spark, path, Some(6L)).count() == before)
    assert(TxTable.read(spark, path, Some(7L)).count() == before + 1)
  }

  private def upd(lo: Long, hi: Long, tag: String, p: Double) =
    spark.range(lo, hi).toDF("id")
      .withColumn("txt", lit(tag)).withColumn("price", lit(p))
      .withColumn("maybe", lit(p))

  test("disjoint racing merges: loser revalidates and re-commits without recompute") {
    val path = freshDir("race"); writeRangeTable(path)
    TxTable.restages.set(0)
    // merge A updates ids 0..9 (first file); while A is staged but not yet
    // committed, merge B (ids 9000..9009 — last file, disjoint keys AND
    // disjoint touched files) wins the version race
    var bVersion = -1L
    TxTable.onStaged = () => {
      TxTable.onStaged = () => () // only the outer merge interleaves
      bVersion = TxTable.merge(spark, upd(9000, 9010, "B", 2.0), path, Seq("id"))
    }
    try {
      val aVersion = TxTable.merge(spark, upd(0, 10, "A", 1.0), path, Seq("id"))
      // A lost exactly one race to B, then re-committed its ORIGINAL
      // staged files — logical conflict detection, no re-scan/re-stage
      assert(bVersion == 1L && aVersion == 2L)
      assert(TxTable.restages.get == 0L,
        "disjoint race must revalidate, not recompute")
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000)
      assert(out.filter(col("txt") === "A").count() == 10)
      assert(out.filter(col("txt") === "B").count() == 10)
    } finally out.unpersist()
  }

  test("overlapping racing merges: loser recomputes on top of the winner") {
    val path = freshDir("race2"); writeRangeTable(path)
    TxTable.restages.set(0)
    // B updates ids 0..9 while A (ids 5..14) is staged: A's update keys
    // can live in B's added file, so A must recompute against v1
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      TxTable.merge(spark, upd(0, 10, "B", 2.0), path, Seq("id"))
    }
    try {
      val aVersion = TxTable.merge(spark, upd(5, 15, "A", 1.0), path, Seq("id"))
      assert(aVersion == 2L)
      assert(TxTable.restages.get == 1L,
        "conflicting race must recompute the merge")
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000)
      // last writer per key wins: A recomputed on top of B's commit
      assert(out.filter(col("txt") === "A").count() == 10)
      assert(out.filter(col("txt") === "B").count() == 5)
    } finally out.unpersist()
  }

  test("late racing commit after a survived race is still conflict-checked") {
    // the lost-update scenario the revalidation watermark exists for:
    // A survives a DISJOINT race with B, then a CONFLICTING commit C lands
    // before A's next attempt — A must detect C and recompute, never
    // re-commit its stale staged files over C's update
    val path = freshDir("race3"); writeRangeTable(path)
    TxTable.restages.set(0)
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      TxTable.merge(spark, upd(9000, 9010, "B", 2.0), path, Seq("id")) // disjoint
    }
    TxTable.onRetry = () => {
      TxTable.onRetry = () => ()
      TxTable.merge(spark, upd(0, 10, "C", 3.0), path, Seq("id")) // conflicts with A
    }
    try {
      val aVersion = TxTable.merge(spark, upd(5, 15, "A", 1.0), path, Seq("id"))
      assert(aVersion == 3L) // lost v1 to B, lost v2 to C, recomputed, won v3
      assert(TxTable.restages.get == 1L,
        "the late conflicting commit must force exactly one recompute")
    } finally { TxTable.onStaged = () => (); TxTable.onRetry = () => () }
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000)
      assert(out.filter(col("txt") === "A").count() == 10) // ids 5..14
      assert(out.filter(col("txt") === "B").count() == 10) // ids 9000..9009
      assert(out.filter(col("txt") === "C").count() == 5)  // ids 0..4 survive
    } finally out.unpersist()
  }

  test("compaction racing a merge: the reset commit forces a recompute, no dangling file refs") {
    // the r8 verdict's remaining Delta-spec seam: an OPTIMIZE/compact
    // commits between a MERGE's snapshot read and its commit. The compact
    // is a RESET commit that superseded every file the merge's staged
    // rewrite referenced — re-committing the stale delta would remove
    // files the new manifest no longer contains (dangling references) and
    // resurrect pre-compact row copies. The merge's `survives` conflict
    // rule, checked by TxTable.commitLoop, must flag the reset and force a
    // full recompute against the compacted snapshot.
    val path = freshDir("race_compact"); writeRangeTable(path)
    TxTable.restages.set(0)
    var compactV = -1L
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      compactV = TxTable.compact(spark, path, numFiles = 2)
    }
    try {
      val aVersion = TxTable.merge(spark, upd(5, 15, "A", 1.0), path, Seq("id"))
      assert(compactV == 1L && aVersion == 2L)
      assert(TxTable.restages.get == 1L,
        "a reset commit landing mid-merge must force exactly one recompute")
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000, "no row duplicated or lost across the race")
      assert(out.filter(col("txt") === "A").count() == 10)
    } finally out.unpersist()
    // every manifest entry resolves to a file that exists on disk
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    TxTable.manifest(spark, path).foreach { e =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(path, e.rel)),
        s"dangling manifest reference after the race: ${e.rel}")
    }
  }

  test("merge racing a compaction: compact re-reads and never resurrects pre-merge rows") {
    // the mirror interleave: a MERGE commits between compact's snapshot
    // read and its commit. If compact re-published its STALE staged
    // snapshot as a reset, the merge's update would be silently undone —
    // the worst kind of lost update, performed by a maintenance job. The
    // optimistic loop must lose the version race, re-read, and re-stage.
    val path = freshDir("compact_race"); writeRangeTable(path)
    var mergeV = -1L
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      mergeV = TxTable.merge(spark, upd(5, 15, "A", 1.0), path, Seq("id"))
    }
    try {
      val cv = TxTable.compact(spark, path, numFiles = 2)
      assert(mergeV == 1L && cv == 2L,
        "compact must lose the version race to the merge and retry on top")
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000)
      assert(out.filter(col("txt") === "A").count() == 10,
        "compaction resurrected pre-merge rows — lost update")
      // and the table really is compacted to the requested layout
      assert(TxTable.manifest(spark, path).size == 2)
    } finally out.unpersist()
  }

  test("rangesOverlap is conservative at the edges") {
    import TxStats.{ColStats, FileStats}
    def rangesOverlap(cs: ColStats, qlo: Option[Any], qhi: Option[Any], rows: Long = 5L) =
      TxStats.rangesOverlap(FileStats(rows, 0L, 0L, Map("k" -> cs)), "k", qlo, qhi)
    val cs = ColStats(Some(BigDecimal(10)), Some(BigDecimal(20)), 0L)
    def b(i: Int) = Some(BigDecimal(i): Any)
    assert(rangesOverlap(cs, b(20), b(30))) // touch at hi
    assert(rangesOverlap(cs, b(0), b(10))) // touch at lo
    assert(!rangesOverlap(cs, b(21), b(30)))
    assert(!rangesOverlap(cs, b(0), b(9)))
    assert(rangesOverlap(cs, None, None)) // unknown query bounds: must scan
    // all-null key column can never hold a matched key
    assert(!rangesOverlap(ColStats(None, None, 5L), b(0), b(100)))
    // no bounds but non-null values (NaN/±Inf extremes): must scan
    assert(rangesOverlap(ColStats(None, None, 2L), b(0), b(100)))
    // one missing bound leaves only that side open
    assert(rangesOverlap(ColStats(Some(BigDecimal(10)), None, 0L), b(50), b(60)))
    assert(!rangesOverlap(ColStats(Some(BigDecimal(10)), None, 0L), b(0), b(9)))
    // a key the file has no stats for: must scan
    assert(TxStats.rangesOverlap(FileStats(5L, 0L, 0L, Map.empty), "k", b(0), b(1)))
  }

  test("NaN and infinite bounds never prune rows that match") {
    val path = freshDir("nan")
    TxTable.write(spark, Seq(1.0, 2.5, Double.NaN, 7.0).toDF("x").coalesce(1), path)
    // max is NaN: no upper bound is recorded, and the lower one still is
    val cs = TxTable.manifest(spark, path).head.stats.get.cols("x")
    assert(cs == TxStats.ColStats(Some(BigDecimal(1.0)), None, 0L))
    val t = TxTable.read(spark, path)
    assert(t.filter(col("x") === 2.5).count() == 1L)
    assert(t.filter(col("x") > 1.0).count() == 3L) // NaN sorts above 7.0
    assert(t.filter(col("x") < 1.0).count() == 0L)
    assert(t.filter(col("x").isin(7.0, 8.0)).count() == 1L)
    // the lower bound still prunes on its side
    val x = resolvedAttr(path, "x")
    assert(surviving(path, org.apache.spark.sql.catalyst.expressions.LessThan(x, Literal(0.5))) == 0)
    assert(surviving(path, EqualTo(x, Literal(100.0))) == 1)
  }

  test("merge keyed on a double column whose file has bounds -Inf and NaN") {
    val path = freshDir("nanmerge")
    val base = Seq(Double.NegativeInfinity, 1.0, 4.0, Double.NaN).toDF("k")
      .withColumn("v", lit("old")).coalesce(1)
    TxTable.write(spark, base, path)
    val cs = TxTable.manifest(spark, path).head.stats.get.cols("k")
    assert(cs.lo.isEmpty && cs.hi.isEmpty && cs.nulls == 0L)
    TxTable.merge(spark, Seq(1.0, 9.0).toDF("k").withColumn("v", lit("new")), path, Seq("k"))
    val got = TxTable.read(spark, path).as[(Double, String)].collect()
      .map { case (k, v) => (k.toString, v) }.sorted.toSeq
    assert(got == Seq(("-Infinity", "old"), ("1.0", "new"), ("4.0", "old"),
      ("9.0", "new"), ("NaN", "old")).sorted,
      "the matched key must be updated in place, not inserted a second time")
  }

  test("commit seam: a lost conditional put surfaces as a version race, merge rebases through it") {
    // the r16 CommitStore seam: every commit-point publish goes through
    // the per-scheme put-if-absent primitive. This leg injects an
    // object-store-shaped loss — the injected store lets a CONCURRENT
    // writer win the contested version with a real commit, then reports
    // this writer's conditional put as beaten — and asserts the
    // optimistic protocol rebases and loses neither update.
    import graft.serve.{CommitStore, HadoopRenameStore}
    val path = freshDir("seam"); writeRangeTable(path)
    TxTable.restages.set(0)
    var fired = false
    TxTable.registerCommitStore("file", new CommitStore {
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          dest: org.apache.hadoop.fs.Path): Boolean = {
        if (!fired && dest.getName.endsWith(".txt")) {
          fired = true
          // the rival's merge re-enters this store with fired=true and
          // publishes through the default primitive — it wins the version
          TxTable.merge(spark, upd(0, 10, "rival", 3.0), path, Seq("id"))
          fs.delete(tmp, false)
          false // this writer's conditional put was beaten
        } else HadoopRenameStore.putIfAbsent(fs, tmp, dest)
      }
    })
    try {
      val v = TxTable.merge(spark, upd(5, 15, "mine", 1.0), path, Seq("id"))
      assert(fired, "the injected store must have intercepted the commit")
      assert(v == 2L, s"loser must rebase onto the rival's version, got $v")
      assert(TxTable.restages.get == 1L,
        "overlapping keys: the beaten merge must recompute, not replay")
    } finally TxTable.unregisterCommitStore("file")
    val out = TxTable.read(spark, path).cache()
    try {
      assert(out.count() == 10000)
      // last writer per key wins: "mine" rebased on top of the rival
      assert(out.filter(col("txt") === "mine").count() == 10)
      assert(out.filter(col("txt") === "rival").count() == 5)
    } finally out.unpersist()
  }
}
