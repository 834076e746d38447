package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.TxTable

/** DELETE FROM on the TxTable — the purge verb: predicate semantics
  * (SQL ternary), untouched-file carry, time travel to the pre-delete
  * snapshot, CDC delete rows, and the empty-delete no-op contract. */
class TxDeleteSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_tx_delete/$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  test("delete removes exactly the matching rows; old version intact; feed emits deletes") {
    val path = fresh("basic")
    TxTable.write(spark,
      Seq((1L, "keep"), (2L, "purge"), (3L, "keep"), (4L, "purge"))
        .toDF("k", "tag").repartition(2, col("k")), path)
    val v = TxTable.delete(spark, path, col("tag") === "purge")
    assert(v == 1L)
    assert(TxTable.read(spark, path).select("k").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
    // time travel: the pre-delete snapshot still holds all four rows
    assert(TxTable.read(spark, path, Some(0L)).count() == 4L)
    // CDC over the delete commit: exactly the purged keys, as deletes
    val feed = TxTable.changes(spark, path, 0L, 1L, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(feed == Set(("delete", 2L), ("delete", 4L)), feed.toString)
  }

  test("null predicate rows are kept (SQL ternary); empty delete burns no commit") {
    val path = fresh("ternary")
    TxTable.write(spark,
      Seq((1L, Some(10)), (2L, None), (3L, Some(99))).toDF("k", "n"), path)
    // n > 50 is NULL for k=2 -> kept
    val v = TxTable.delete(spark, path, col("n") > 50)
    assert(v == 1L)
    assert(TxTable.read(spark, path).select("k").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    // nothing matches now: no new version, idempotent replay
    assert(TxTable.delete(spark, path, col("n") > 50) == 1L)
    assert(TxTable.latestVersion(spark, path).contains(1L))
  }

  test("delete predicate on a post-evolution column reaches pre-evolution files") {
    val path = fresh("evolve")
    // generation 1: no `x` column
    TxTable.write(spark, Seq((1L, "old"), (2L, "old")).toDF("k", "v"), path)
    // generation 2: additive evolution adds `x`
    TxTable.merge(spark, Seq((3L, "new", 7)).toDF("k", "v", "x"),
      path, Seq("k"))
    // `x IS NULL` matches the pre-evolution rows (snapshot read pads them
    // with null) — the rewrite-side read must be padded the same way or
    // filtering the old files throws AnalysisException (r13 ADVICE)
    val v = TxTable.delete(spark, path, col("x").isNull)
    assert(v == 2L)
    val left = TxTable.read(spark, path).select("k", "x").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(left == Seq((3L, 7)), s"only the post-evolution row survives: $left")
  }

  test("delete racing a merge: the delete loses the version race and recomputes on top") {
    // completes the reset-vs-delta race matrix (merge-vs-merge and
    // compact-vs-merge live in TxStatsSpec): a MERGE commits between the
    // delete's snapshot read and its commit. Re-publishing the stale
    // staged rewrite would (a) silently undo the merge's update on any
    // co-located row and (b) miss matching rows the merge just added.
    // The optimistic loop must lose the race and recompute the touched
    // set against the post-merge snapshot — final state == serialized
    // merge-then-delete.
    val path = fresh("race_merge")
    TxTable.write(spark,
      Seq((1L, "keep"), (2L, "purge"), (3L, "keep"))
        .toDF("k", "tag").repartition(1), path)
    var mergeV = -1L
    TxTable.onStaged = () => {
      TxTable.onStaged = () => ()
      // the racing merge BOTH updates a surviving row and adds a new
      // matching one — each detects a distinct stale-rewrite bug
      mergeV = TxTable.merge(spark,
        Seq((3L, "keep-updated"), (4L, "purge")).toDF("k", "tag"),
        path, Seq("k"))
    }
    try {
      val dv = TxTable.delete(spark, path, col("tag") === "purge")
      assert(mergeV == 1L && dv == 2L,
        "delete must lose the version race to the merge and retry on top")
    } finally TxTable.onStaged = () => ()
    val out = TxTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "keep"), (3L, "keep-updated")),
      s"state must equal serialized merge-then-delete: $out")
  }

  test("untouched files are carried verbatim, not rewritten") {
    val path = fresh("carry")
    // two files by key range; delete touches only one
    TxTable.write(spark,
      Seq((1L, "a"), (2L, "b"), (100L, "x"), (101L, "y"))
        .toDF("k", "v").repartitionByRange(2, col("k")), path)
    val before = TxTable.read(spark, path, Some(0L))
      .select(input_file_name().as("f"), col("k")).collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    TxTable.delete(spark, path, col("k") === 2L)
    val after = TxTable.read(spark, path)
      .select(input_file_name().as("f"), col("k")).collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(!after.contains(2L))
    // the file holding the untouched key range is the SAME physical file
    assert(after(100L) == before(100L) && after(101L) == before(101L),
      "untouched file must carry verbatim")
    assert(after(1L) != before(1L), "touched file must be rewritten")
  }
}
