package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NgramLm

class NgramLmSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def round9(x: Double): JBigDecimal =
    JBigDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP)
  private def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  // corpus engineered so every backoff branch fires on doc 3:
  //   d1 "a b c", d2 "a b c" → trigram (a,b,c) kept (c3=2)
  //   d3 "a b d" → trigram (a,b,d) and bigram (b,d) both count-1 → pruned
  private val handDocs = Seq(
    (1L, "a b c", "en", "s1"),
    (2L, "a b c", "en", "s1"),
    (3L, "a b d", "en", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("stupid backoff: every branch arithmetically exact on the hand corpus") {
    val got = NgramLm.scoreDocs(handDocs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Double]("avg_log2sb"))).toMap

    // N=9; c1: a=3 b=3 c=2 d=1; bigRaw: (a,b)=3 (b,c)=2 (b,d)=1
    // kept bigrams: (a,b) s2=3/3, (b,c) s2=2/3; kept trigram: (a,b,c) s3=2/3
    def avg(ss: Seq[Double]): Double = {
      val sum = ss.map(s => round9(math.log(s) / math.log(2.0)))
        .reduce(_ add _)
      round6(sum.doubleValue / ss.size)
    }
    // d1/d2: a→s1(a)=3/9, b→s2(a,b)=1.0, c→s3(a,b,c)=2/3
    val exp12 = avg(Seq(3.0 / 9, 3.0 / 3, 2.0 / 3))
    // d3: a→s1, b→s2(a,b), d→no tri, no big → 0.4² · s1(d)=1/9
    val exp3 = avg(Seq(3.0 / 9, 3.0 / 3, 0.4 * 0.4 * (1.0 / 9)))
    assert(got(1L) == ((3, exp12)) && got(2L) == ((3, exp12)))
    assert(got(3L) == ((3, exp3)))
  }

  test("backoff ordering: an unseen-context token scores below a modeled one") {
    val got = NgramLm.scoreDocs(handDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_log2sb")).toMap
    assert(got(3L) < got(1L), "pruned-path doc must score strictly lower")
  }

  test("whitespace-only and empty docs are excluded; singleton doc scores by unigram") {
    val docs = Seq(
      (1L, "x", "en", "s"), (2L, "   ", "en", "s"), (3L, "", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = NgramLm.scoreDocs(docs).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    // single token, self-trained: s1 = 1/1 → log2 = 0
    assert(got.head.getAs[Double]("avg_log2sb") == 0.0)
    assert(got.head.getAs[Double]("sb_ppl") == 1.0)
  }

  test("scoring plan: model joins broadcast, no sort-merge join") {
    val plan = NgramLm.scoreQuery(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "model tables are broadcast by construction — a SMJ means the corpus shuffled on n-gram keys")
  }

  test("stored model scoring ≡ inline scoring row-for-row") {
    val docs = Tables.spread(spark, Tables.documents(spark, sf))
    val dir = java.nio.file.Files.createTempDirectory("lm_model_").toString
    NgramLm.writeLmModel(spark, docs, dir)
    val inline = NgramLm.scoreDocs(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getDouble(3))).toMap
    val stored = NgramLm.scoreDocsStored(docs, spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getDouble(3))).toMap
    assert(stored == inline)
  }

  test("foreign-corpus scoring: OOV tokens get the 1/(N+1) floor, the mean stays total") {
    // the CCNet production shape (r14 verdict task 5): model trained on a
    // REFERENCE corpus, scored corpus carries tokens the model never saw.
    // The old inner unigram join silently dropped them from the per-doc
    // mean; now they score at the Laplace-style floor and n_tokens counts
    // EVERY token. Train: "a b a b a" (N=5, a=3, b=2). Score: "a c" —
    // c is OOV, bigram (a,c) unseen, so p=1 backs off to α·floor.
    val train = Seq((1L, "a b a b a", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val score = Seq((2L, "a c", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("lm_oov_").toString
    NgramLm.writeLmModel(spark, train, dir)
    val got = NgramLm.scoreDocsStored(score, spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    // total coverage: BOTH tokens contribute — the inner join gave 1
    assert(r.getAs[Int]("n_tokens") == 2, "OOV token dropped from the mean")
    // exact arithmetic, same op sequence as the engine:
    //   t0 = round9(log2(s1(a) = 3/5)); t1 = round9(log2(0.4 · 1/(5+1)))
    val sum = round9(math.log(3.0 / 5) / math.log(2.0))
      .add(round9(math.log(0.4 * (1.0 / 6)) / math.log(2.0)))
    val expected = round6(sum.doubleValue / 2)
    assert(r.getAs[Double]("avg_log2sb") == expected,
      s"floor arithmetic drifted: ${r.getAs[Double]("avg_log2sb")} vs $expected")
    // and the floor is a MODEL property: an all-OOV doc scores at exactly
    // the floor, never NaN/-Inf
    val allOov = NgramLm.scoreDocsStored(
      Seq((3L, "zz", "en", "s")).toDF("doc_id", "text", "lang", "source"),
      spark, dir).collect().head
    assert(allOov.getAs[Double]("avg_log2sb") ==
      round6(round9(math.log(1.0 / 6) / math.log(2.0)).doubleValue))
  }

  test("incremental count append: two half-ingests equal one full build") {
    val docs = Tables.spread(spark, Tables.documents(spark, sf))
    val h1 = docs.filter(col("doc_id") % 2 === 0)
    val h2 = docs.filter(col("doc_id") % 2 =!= 0)
    val full = java.nio.file.Files.createTempDirectory("lm_full_").toString
    val inc = java.nio.file.Files.createTempDirectory("lm_inc_").toString
    NgramLm.writeLmModel(spark, docs, full)
    NgramLm.writeLmModel(spark, h1, inc)
    NgramLm.appendLmCounts(spark, h2, inc)
    Seq(("uni", Seq("w")), ("big", Seq("b1", "b2")), ("tri", Seq("t1", "t2", "t3")))
      .foreach { case (t, keys) =>
        val a = graft.serve.TxTable.read(spark, s"$full/$t")
        val b = graft.serve.TxTable.read(spark, s"$inc/$t")
        assert(a.count() == b.count(), s"$t cardinality drift")
        assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$t count drift")
      }
  }

  test("racing count appends: a concurrent append's counts survive the fold") {
    // append(h2) stages its unigram fold; before it commits, a second
    // append(h3) over a disjoint document set commits all three tables.
    // The two batches share vocabulary, so a fold that re-staged only its
    // file rewrite would overwrite h3's bumps with h2's stale counts.
    val docs = Tables.spread(spark, Tables.documents(spark, sf))
    val part = pmod(col("doc_id"), lit(3))
    val full = java.nio.file.Files.createTempDirectory("lm_full_").toString
    val inc = java.nio.file.Files.createTempDirectory("lm_race_").toString
    NgramLm.writeLmModel(spark, docs, full)
    NgramLm.writeLmModel(spark, docs.filter(part === 0), inc)
    graft.serve.TxTable.onStaged = () => {
      graft.serve.TxTable.onStaged = () => ()
      NgramLm.appendLmCounts(spark, docs.filter(part === 2), inc)
    }
    try NgramLm.appendLmCounts(spark, docs.filter(part === 1), inc)
    finally graft.serve.TxTable.onStaged = () => ()
    Seq("uni", "big", "tri").foreach { t =>
      val a = graft.serve.TxTable.read(spark, s"$full/$t")
      val b = graft.serve.TxTable.read(spark, s"$inc/$t")
      assert(a.count() == b.count(), s"$t cardinality drift")
      assert(a.except(b).isEmpty && b.except(a).isEmpty,
        s"$t lost a concurrent append's counts")
    }
  }

  test("gate: keep counts consistent and bounded on the test corpus") {
    val rows = NgramLm.gateQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, rate) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"),
        r.getAs[Double]("keep_rate"))
      assert(k >= 0 && k <= n)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the threshold is the mean → at least one doc on each side unless degenerate
    val (tot, kept) = rows.foldLeft((0L, 0L)) { case ((a, b), r) =>
      (a + r.getAs[Long]("n_docs"), b + r.getAs[Long]("n_keep")) }
    assert(kept > 0 && kept < tot, s"mean threshold degenerate: $kept/$tot")
  }

  test("stored-model scoring: two constructions share one cache entry") {
    // the r18 regression this pins: StatsFileIndex compared by reference,
    // so every TxTable snapshot read built a plan-unequal relation and the
    // stored path's model caches re-registered unpopulated on every call
    val a = NgramLm.scoreStoredQuery(spark, sf).queryExecution.analyzed
    val b = NgramLm.scoreStoredQuery(spark, sf).queryExecution.analyzed
    assert(a.sameResult(b),
      "stored-model scoring plans must be canonically equal for cache sharing")
  }
}
