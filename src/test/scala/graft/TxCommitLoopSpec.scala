package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.TxTable
import java.nio.file.Files

/** The one optimistic commit loop every TxTable writer runs: the legs the
  * per-op race specs (TxStatsSpec, TxDeleteSpec, TxVacuumSpec) leave open
  * — a write losing a version race, and the post-commit checkpoint on the
  * interval boundary for every op, not just merge. */
class TxCommitLoopSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_txloop_$tag").toString + "/t"

  private def rows(path: String, version: Option[Long] = None): Set[(Long, String)] =
    TxTable.read(spark, path, version).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("a write racing a merge commits as the next version with only its own rows") {
    val path = fresh("write_race")
    TxTable.write(spark, Seq((1L, "old"), (2L, "old")).toDF("k", "v"), path)
    TxTable.restages.set(0)
    var mergeV = -1L
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      mergeV = TxTable.merge(spark,
        Seq((2L, "merged"), (3L, "merged")).toDF("k", "v"), path, Seq("k"))
    }
    val writeV =
      try TxTable.write(spark, Seq((7L, "new"), (8L, "new")).toDF("k", "v"), path)
      finally TxTable.onStaged = () => ()
    assert(mergeV == 1L && writeV == 2L,
      "the write must lose version 1 to the merge and commit on top")
    assert(TxTable.restages.get == 0L, "a write is staged once, whatever races it")
    assert(rows(path) == Set((7L, "new"), (8L, "new")),
      "a reset commit reads back only its own rows")
    // the racing merge is not lost from history: time travel still sees it
    assert(rows(path, Some(1L)) == Set((1L, "old"), (2L, "merged"), (3L, "merged")))
  }

  test("write, merge, delete and compact each checkpoint on the interval boundary") {
    val ops: Seq[(String, String => Long)] = Seq(
      "write" -> (p => TxTable.write(spark, Seq((100L, "w")).toDF("k", "v"), p)),
      "merge" -> (p => TxTable.merge(spark, Seq((100L, "m")).toDF("k", "v"), p, Seq("k"))),
      "delete" -> (p => TxTable.delete(spark, p, col("k") === 1L)),
      "compact" -> (p => TxTable.compact(spark, p, numFiles = 2)))
    ops.foreach { case (op, run) =>
      val path = fresh(s"cp_$op")
      TxTable.write(spark, Seq((0L, "seed")).toDF("k", "v"), path)
      (1 until TxTable.CheckpointInterval).foreach { i =>
        TxTable.merge(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
      }
      val v = run(path)
      assert(v == TxTable.CheckpointInterval.toLong, s"$op landed at v$v")
      val cp = new java.io.File(f"$path/_txlog/$v%08d.checkpoint")
      assert(cp.isFile, s"$op on the boundary wrote no checkpoint")
      val viaCheckpoint = TxTable.manifest(spark, path, Some(v)).sortBy(_.rel)
      assert(cp.delete())
      val viaLog = TxTable.manifest(spark, path, Some(v)).sortBy(_.rel)
      assert(viaCheckpoint.nonEmpty && viaCheckpoint == viaLog,
        s"$op: checkpoint manifest differs from the checkpoint-free resolution")
    }
  }

  test("commit-loop checkpoints are byte-identical to a full log replay") {
    // the commit loop checkpoints its in-memory base snapshot with the
    // winning commit applied; vacuum materializes checkpoints from a full
    // replay of the log. Both must write the same bytes, #txn lines included.
    val path = fresh("cp_parity")
    TxTable.write(spark, (0L until 8L).map(k => (k, "seed")).toDF("k", "v"), path)
    (1 to 2 * TxTable.CheckpointInterval).foreach { i =>
      i match {
        case 4 | 10 => TxTable.delete(spark, path, col("k") === (i - 1).toLong)
        case 5 | 15 => TxTable.compact(spark, path, numFiles = 2)
        case _ if i % 3 == 0 =>
          TxTable.merge(spark, Seq((i.toLong, s"u$i")).toDF("k", "v"), path, Seq("k"))
        case _ =>
          TxTable.merge(spark, Seq((i.toLong, s"s$i")).toDF("k", "v"), path, Seq("k"),
            txn = Some((if (i % 2 == 0) "app_a" else "app_b", i.toLong)))
      }
    }
    assert(TxTable.latestVersion(spark, path).contains(2L * TxTable.CheckpointInterval))
    val boundaries = Seq(1, 2).map(n => n.toLong * TxTable.CheckpointInterval)
    def cp(v: Long) = new java.io.File(f"$path/_txlog/$v%08d.checkpoint")
    val written = boundaries.map(v => v -> Files.readAllBytes(cp(v).toPath)).toMap
    assert(new String(written(20L), "UTF-8").contains("#txn app_a:20") &&
      new String(written(20L), "UTF-8").contains("#txn app_b:19"))
    boundaries.foreach(v => assert(cp(v).delete()))
    // keep every version and every file: vacuum only re-creates checkpoints
    TxTable.vacuum(spark, path, keepVersions = Int.MaxValue, retentionMs = Long.MaxValue / 2)
    boundaries.foreach { v =>
      assert(Files.readAllBytes(cp(v).toPath).sameElements(written(v)),
        s"v$v: the commit loop's checkpoint differs from the full replay's")
    }
  }
}
