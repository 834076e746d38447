package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.TxTable

/** Vacuum vs time travel — the reader-safety half of the retention
  * contract (TxDeleteSpec's companion, r13 verdict task):
  *
  *  - a read pinned AS OF a vacuumed version fails LOUDLY (the Delta
  *    `VersionNotFound` behavior) — never a silent partial snapshot;
  *  - vacuum never removes a file reachable from any RETAINED version,
  *    regardless of age;
  *  - a reader that resolved its manifest BEFORE vacuum published keeps
  *    reading bit-for-bit within `retentionMs`, even when its pinned
  *    version itself aged out of the kept set (the mid-read race — the
  *    reason the retention parameter exists and Delta defaults it to
  *    7 days);
  *  - outside retention the same reader fails loudly on the missing file
  *    (Spark's default ignoreMissingFiles=false), which is the honest
  *    outcome — the alternative, silently returning the rows that happen
  *    to survive, is the one behavior the contract forbids.
  */
class TxVacuumSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_tx_vacuum/$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  /** v0: full write of ids 0..99; v1, v2: merges that rewrite the single
    * data file twice — so v0's and v1's files are superseded garbage once
    * only v2 is retained. */
  private def threeVersions(path: String): Unit = {
    TxTable.write(spark,
      spark.range(100).select(col("id"), lit("base").as("txt"))
        .repartition(1), path)
    TxTable.merge(spark,
      Seq((5L, "v1")).toDF("id", "txt"), path, Seq("id"))
    TxTable.merge(spark,
      Seq((6L, "v2")).toDF("id", "txt"), path, Seq("id"))
  }

  test("AS OF a vacuumed version fails loudly with the version named, retained reads are intact") {
    val path = fresh("loud")
    threeVersions(path)
    val keep1 = TxTable.read(spark, path, Some(1L)).collect().map(_.toString).sorted.toSeq
    val keep2 = TxTable.read(spark, path, Some(2L)).collect().map(_.toString).sorted.toSeq
    TxTable.vacuum(spark, path, keepVersions = 2, retentionMs = 0L)
    // the vacuumed version is GONE as an address: loud refusal, not a
    // partial read (Delta's VersionNotFound)
    val e = intercept[java.io.FileNotFoundException] {
      TxTable.read(spark, path, Some(0L))
    }
    assert(e.getMessage.contains("version 0"), e.getMessage)
    // both RETAINED versions still resolve and read bit-for-bit — even at
    // retentionMs=0, because their files are REACHABLE (age never trumps
    // reachability)
    assert(TxTable.read(spark, path, Some(1L)).collect().map(_.toString).sorted.toSeq == keep1)
    assert(TxTable.read(spark, path, Some(2L)).collect().map(_.toString).sorted.toSeq == keep2)
  }

  test("mid-read race: a manifest resolved before vacuum publishes survives within retention") {
    val path = fresh("midread")
    threeVersions(path)
    // reader pins v0 and resolves its manifest NOW (read() materializes
    // the file list eagerly); the scan happens after vacuum
    val pinned = TxTable.read(spark, path, Some(0L))
    val expected = (0L until 100L).map(id => (id, "base")).toSet
    TxTable.vacuum(spark, path, keepVersions = 1, retentionMs = 60L * 60 * 1000)
    // v0 is no longer addressable for NEW reads...
    intercept[java.io.FileNotFoundException] {
      TxTable.read(spark, path, Some(0L))
    }
    // ...but the in-flight reader's files are younger than retention, so
    // its scan completes bit-for-bit — vacuum may unlink only what aged out
    val got = pinned.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected, s"mid-read reader lost rows: ${got.size} of 100")
  }

  test("outside retention the in-flight reader fails loudly, never a silent partial snapshot") {
    val path = fresh("aged")
    threeVersions(path)
    val pinned = TxTable.read(spark, path, Some(0L))
    // retentionMs=0: every superseded file is immediately collectable —
    // the physical-purge half of the right-to-be-forgotten contract
    TxTable.vacuum(spark, path, keepVersions = 1, retentionMs = 0L)
    val e = intercept[Exception] { pinned.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"aged-out read must fail on the missing file, got: $e")
    // and the CURRENT version is untouched by any of this
    assert(TxTable.read(spark, path).count() == 100L)
  }

  test("txn stamps survive compaction and vacuum: the replay window never reopens") {
    val path = fresh("txn")
    TxTable.write(spark,
      spark.range(100).select(col("id"), lit("base").as("txt"))
        .repartition(1), path)
    // a streaming writer commits batch 0, stamped
    TxTable.merge(spark, Seq((5L, "b0")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_a", 0L)))
    assert(TxTable.lastTxnBatch(spark, path, "app_a").contains(0L))
    // maintenance rewrites history: a reset commit must NOT clear writer
    // stamps (Delta keeps SetTransaction across OPTIMIZE)...
    TxTable.compact(spark, path, numFiles = 1)
    assert(TxTable.lastTxnBatch(spark, path, "app_a").contains(0L))
    // ...and vacuum pruning the STAMPED COMMIT ITSELF must not lose it
    // either — the kept versions' checkpoints retain the stamps. This is
    // the crash → external-maintenance → stream-restart window: without
    // retention, the replayed batch 0 would double-apply here.
    TxTable.vacuum(spark, path, keepVersions = 1, retentionMs = 0L)
    assert(TxTable.lastTxnBatch(spark, path, "app_a").contains(0L),
      "vacuum must not forget writer stamps")
    val vBefore = TxTable.latestVersion(spark, path).get
    val state = TxTable.read(spark, path).collect().map(_.toString).sorted.toSeq
    TxTable.merge(spark, Seq((5L, "b0")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_a", 0L))) // the replay
    assert(TxTable.latestVersion(spark, path).contains(vBefore),
      "replay after vacuum must still be a no-op")
    assert(TxTable.read(spark, path).collect().map(_.toString).sorted.toSeq == state)
    // latest-wins per app; apps are independent
    TxTable.merge(spark, Seq((6L, "b1")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_a", 1L)))
    assert(TxTable.lastTxnBatch(spark, path, "app_a").contains(1L))
    assert(TxTable.lastTxnBatch(spark, path, "app_b").isEmpty)
  }

  test("vacuum racing a merge: pruning the prefix mid-merge never breaks the commit") {
    // vacuum runs as scheduled maintenance, so it WILL fire while a merge
    // is between its snapshot read and its commit. The merge's base is the
    // latest version — always retained — so the staged rewrite stays valid
    // and the commit lands; vacuum's prefix pruning must not invalidate
    // anything the merge read or wants to reference.
    val path = fresh("vacuum_race")
    threeVersions(path)
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      TxTable.vacuum(spark, path, keepVersions = 1, retentionMs = 60L * 60 * 1000)
    }
    try {
      val v = TxTable.merge(spark,
        Seq((7L, "post-vacuum")).toDF("id", "txt"), path, Seq("id"))
      assert(v == 3L)
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.size == 100 && out(7L) == "post-vacuum"
      && out(5L) == "v1" && out(6L) == "v2", "merge result intact after the race")
  }

  test("right-to-be-forgotten: DELETE then vacuum past the purge leaves no trace of the victim") {
    // the r14 verdict's vacuum × purge interaction leg: logical deletion is
    // immediate, PHYSICAL deletion completes when vacuum ages the
    // superseded files out — after a vacuum whose retained window is
    // entirely post-purge, the victim must be unreadable at EVERY retained
    // version, pre-purge versions must refuse loudly (AS-OF semantics,
    // never a resurrected row), and the victim's bytes must be gone from
    // disk, manifests bypassed.
    val path = fresh("purge")
    threeVersions(path) // v0 base 0..99, v1 id5→"v1", v2 id6→"v2"
    TxTable.delete(spark, path, col("id") === 5L) // v3: the purge
    TxTable.merge(spark, Seq((8L, "v4")).toDF("id", "txt"), path, Seq("id")) // v4
    TxTable.vacuum(spark, path, keepVersions = 2, retentionMs = 0L) // keeps v3, v4
    // (a) no retained version can read the victim
    Seq(3L, 4L).foreach { v =>
      assert(TxTable.read(spark, path, Some(v)).filter(col("id") === 5L).count() == 0L,
        s"purged key readable at retained version $v")
      assert(TxTable.read(spark, path, Some(v)).count() == 99L)
    }
    // (b) every pre-purge version refuses loudly — time travel must never
    //     resurrect forgotten data after its window is vacuumed
    (0L to 2L).foreach { v =>
      intercept[java.io.FileNotFoundException] { TxTable.read(spark, path, Some(v)) }
    }
    // (c) the bytes are physically gone: scan every SURVIVING data file
    //     directly, no manifest in the way
    val raw = spark.read.parquet(s"$path/data")
    assert(raw.filter(col("id") === 5L).count() == 0L,
      "purged row bytes still present in a surviving data file")
  }

  test("out-of-band pruned, reset-rooted log: txn state resolves exactly like entries") {
    // Txn state once demanded a chain rooted at v0 (or a checkpoint) while
    // the manifest also accepts a chain rooted at a write/compact RESET
    // with pruned, checkpoint-less history below — so a table whose
    // snapshot was perfectly readable refused every stamped merge,
    // lastTxnBatch and checkpoint write. With no checkpoint, both halves
    // of the replay must re-root at a reset; stamps carried only by pruned
    // pre-root commits are UNKNOWABLE and read as absent (the documented
    // migration caveat — this engine's own vacuum always checkpoints kept
    // versions first, so only external deletion reaches this state).
    val path = fresh("reset_root")
    TxTable.write(spark,
      spark.range(10).select(col("id"), lit("base").as("txt")), path) // v0
    TxTable.merge(spark, Seq((1L, "b0")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_a", 0L))) // v1, stamped (to be pruned)
    TxTable.write(spark,
      spark.range(10).select(col("id"), lit("reset").as("txt")), path) // v2 RESET
    TxTable.merge(spark, Seq((2L, "b7")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_b", 7L))) // v3, stamped (survives)
    // out-of-band pruning: v0 and v1 vanish, no checkpoint exists
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_txlog", f"$v%08d.txt"), false)
    }
    // the snapshot reads fine (entry resolution roots at the v2 reset)...
    assert(TxTable.read(spark, path).count() == 10L)
    // ...and txn state must resolve the same way: the surviving chain's
    // stamp answers, the pruned one reads as absent
    assert(TxTable.lastTxnBatch(spark, path, "app_b").contains(7L))
    assert(TxTable.lastTxnBatch(spark, path, "app_a").isEmpty,
      "a pruned pre-root stamp is unknowable — must read absent, not throw")
    // stamped merges (and their replay guard) work again on such a table
    val v4 = TxTable.merge(spark, Seq((3L, "b8")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_b", 8L)))
    assert(v4 == 4L)
    assert(TxTable.lastTxnBatch(spark, path, "app_b").contains(8L))
    TxTable.merge(spark, Seq((3L, "replay")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_b", 8L)))
    assert(TxTable.latestVersion(spark, path).contains(4L),
      "replay on the repaired table must still no-op")
  }

  test("reset-rooted fallback keeps stamps between two resets (oldest root wins)") {
    // A readable stamped commit sitting BETWEEN an older contiguous reset
    // and a newer one carries a stamp the fold can still know. Rooting at
    // the NEWEST reset would discard it — and the next checkpoint would
    // persist the impoverished map — green-lighting a double apply of the
    // stamped batch. The resolver must root at the OLDEST qualifying reset.
    val path = fresh("reset_oldest")
    TxTable.write(spark,
      spark.range(5).select(col("id"), lit("gone").as("txt")), path)   // v0 (pruned)
    TxTable.write(spark,
      spark.range(5).select(col("id"), lit("base").as("txt")), path)   // v1 RESET (oldest root)
    TxTable.merge(spark, Seq((1L, "mid")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_mid", 5L)))                          // v2 stamped, READABLE
    TxTable.write(spark,
      spark.range(5).select(col("id"), lit("reset2").as("txt")), path) // v3 RESET (newer)
    TxTable.merge(spark, Seq((2L, "top")).toDF("id", "txt"), path,
      Seq("id"))                                                       // v4
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_txlog", f"${0L}%08d.txt"), false)
    assert(TxTable.read(spark, path).count() == 5L)
    assert(TxTable.lastTxnBatch(spark, path, "app_mid").contains(5L),
      "a READABLE stamp between two resets must survive the fallback rooting")
    // and a replay of that batch must still no-op through the guard
    val before = TxTable.latestVersion(spark, path)
    TxTable.merge(spark, Seq((1L, "replay")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_mid", 5L)))
    assert(TxTable.latestVersion(spark, path) == before,
      "replay of the mid-chain stamped batch must no-op, not double apply")
  }

  test("vacuum refuses to keep no version: the log and every version survive") {
    // keepVersions = 0 used to prune every commit and, with nothing left
    // referenced, every data file past retention — a silent table wipe
    val path = fresh("keep_none")
    threeVersions(path)
    def snapshots = (0L to 2L).map(v =>
      TxTable.read(spark, path, Some(v)).collect().map(_.toString).sorted.toSeq)
    val before = snapshots
    Seq(0, -1).foreach { k =>
      intercept[IllegalArgumentException] {
        TxTable.vacuum(spark, path, keepVersions = k, retentionMs = 0L)
      }
    }
    assert(TxTable.latestVersion(spark, path).contains(2L))
    assert(snapshots == before, "a refused vacuum must leave every version readable")
  }

  test("a hole above a checkpoint: entries re-root at a later reset, txn state refuses") {
    // checkpoint at v10, v11 pruned out of band, reset at v12, stamped
    // merge at v13. The manifest roots at the reset; txn state above a
    // checkpoint cannot skip the hole (v11 might have carried a NEWER
    // stamp), so every reader of it and every stamped commit refuses.
    val path = fresh("cp_hole_reset")
    TxTable.write(spark,
      spark.range(20).select(col("id"), lit("base").as("txt")), path) // v0
    (1 to 10).foreach { i =>
      TxTable.merge(spark, Seq((i.toLong, s"m$i")).toDF("id", "txt"), path,
        Seq("id"), txn = Some(("app_a", i.toLong)))
    }
    assert(new java.io.File(f"$path/_txlog/${10L}%08d.checkpoint").isFile)
    TxTable.merge(spark, Seq((11L, "m11")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_a", 11L))) // v11 (to be pruned)
    TxTable.write(spark,
      spark.range(5).select(col("id"), lit("reset").as("txt")), path) // v12 RESET
    TxTable.merge(spark, Seq((1L, "b13")).toDF("id", "txt"), path,
      Seq("id"), txn = Some(("app_b", 13L))) // v13, stamped
    val expected = TxTable.read(spark, path, Some(13L)).collect().map(_.toString).sorted.toSeq
    val files13 = TxTable.manifest(spark, path, Some(13L)).map(_.rel)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/_txlog", f"${11L}%08d.txt"), false))
    assert(TxTable.manifest(spark, path, Some(13L)).map(_.rel) == files13)
    assert(TxTable.read(spark, path, Some(13L)).collect().map(_.toString).sorted.toSeq == expected)
    assert(TxTable.read(spark, path).count() == 5L)
    Seq("app_a", "app_b").foreach { app =>
      intercept[java.io.FileNotFoundException] { TxTable.lastTxnBatch(spark, path, app) }
    }
    intercept[java.io.FileNotFoundException] {
      TxTable.merge(spark, Seq((2L, "b14")).toDF("id", "txt"), path,
        Seq("id"), txn = Some(("app_b", 14L)))
    }
    assert(TxTable.latestVersion(spark, path).contains(13L),
      "a refused stamped merge must commit nothing")
  }

  test("vacuum retains every version's files that keepVersions names, pruning only the prefix") {
    val path = fresh("prefix")
    threeVersions(path)
    TxTable.merge(spark, Seq((7L, "v3")).toDF("id", "txt"), path, Seq("id"))
    TxTable.vacuum(spark, path, keepVersions = 3, retentionMs = 0L)
    // versions 1..3 stay addressable, 0 does not: vacuum prunes a PREFIX,
    // never punches a hole in the middle of the retained range
    intercept[java.io.FileNotFoundException] { TxTable.read(spark, path, Some(0L)) }
    Seq(1L, 2L, 3L).foreach { v =>
      assert(TxTable.read(spark, path, Some(v)).count() == 100L,
        s"retained version $v must stay readable")
    }
  }
}
