package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Sentiment, TextFunctions}
import graft.operators.Forecast

/** Property-based invariants (SURVEY §5.3): ScalaCheck generators sampled
  * with fixed seeds (the scalatest-scalacheck bridge isn't in the offline
  * cache, so sampling is explicit — and deterministic, which the oracle
  * discipline prefers anyway). Driver-side generators feed pure kernels;
  * Spark-level properties run on small sampled frames. */
class PropertiesSpec extends AnyFunSuite {
  import SparkTestSession._

  def forAll[A](gen: Gen[A], samples: Int = 50)(f: A => Unit): Unit =
    (0 until samples).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  def forAll[A, B](genA: Gen[A], genB: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 50).foreach { i =>
      for {
        a <- genA.apply(Gen.Parameters.default, Seed(i.toLong))
        b <- genB.apply(Gen.Parameters.default, Seed(i.toLong + 1000))
      } f(a, b)
    }

  def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  // ------------------------------------------------------------ sentiment
  test("sentiment compound always in [-1, 1] and label consistent") {
    val word = Gen.oneOf(Sentiment.lexicon.keys.toSeq ++
      Sentiment.negations.toSeq ++ Sentiment.boosters.keys.toSeq ++
      Seq("table", "chair", "", "Spark!", "123"))
    val text = Gen.listOf(word).map(_.mkString(" "))
    forAll(text) { t =>
      val s = Sentiment.compound(t)
      assert(s >= -1.0 && s <= 1.0)
      val l = Sentiment.label(s)
      if (s >= 0.05) assert(l == "positive")
      else if (s <= -0.05) assert(l == "negative")
      else assert(l == "neutral")
    }
  }

  // ------------------------------------------------------------ forecast
  test("forecast emits 0 rows below 60 inputs, 90+30 at or above") {
    val base = java.time.LocalDate.of(2023, 1, 2)
    forAll(Gen.chooseNum(1, 120)) { n =>
      val pts = (0 until n).map { i =>
        Forecast.SeriesPoint("k", base.plusDays(i).toString, 100.0 + (i % 7), 0.0)
      }
      val out = Forecast.forecastGroup("k", pts.iterator).toSeq
      if (n < 60) assert(out.isEmpty)
      else {
        assert(out.count(_.`type` == "actual") == math.min(90, n))
        assert(out.count(_.`type` == "forecast") == 30)
        out.filter(_.`type` == "forecast").foreach { r =>
          assert(r.confidence_lower <= r.predicted_close + 1e-9)
          assert(r.confidence_upper >= r.predicted_close - 1e-9)
        }
      }
    }
  }

  test("forecast is deterministic") {
    val pts = (0 until 80).map { i =>
      Forecast.SeriesPoint("k", java.time.LocalDate.of(2023, 1, 2).plusDays(i).toString,
        100.0 + math.sin(i * 0.3) * 10, 0.1 * (i % 5))
    }
    val a = Forecast.forecastGroup("k", pts.iterator).toSeq
    val b = Forecast.forecastGroup("k", pts.iterator).toSeq
    assert(a == b)
  }

  // ------------------------------------------------------------ business days
  test("businessDaysAfter: n days, all weekdays, strictly increasing") {
    forAll(Gen.chooseNum(0L, 3000L), Gen.chooseNum(1, 60)) { (offset, n) =>
      val start = java.time.LocalDate.of(2020, 1, 1).plusDays(offset)
      val days = Forecast.businessDaysAfter(start, n)
      assert(days.length == n)
      assert(days.forall(d => d.getDayOfWeek.getValue <= 5))
      assert(days.head.isAfter(start))
      assert(days == days.sorted)
    }
  }

  // ------------------------------------------------------------ dedup kernel
  test("shingle fallback: every doc yields at least one shingle") {
    import spark.implicits._
    val texts = Gen.listOfN(5, Gen.oneOf("", "a", "a b", "a b c", "a b c d e f"))
    forAll(texts, samples = 8) { ts =>
      whenever(ts.nonEmpty) {
        val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val counts = df.select(size(graft.operators.Dedup.shingleArr(col("text"), 3)).as("n"))
          .collect().map(_.getInt(0))
        assert(counts.forall(_ >= 1))
      }
    }
  }

  // ------------------------------------------------------------ simhash
  test("simhash aggregator: merge associativity and buffer isolation") {
    val agg = graft.operators.Dedup.SimHashAgg
    forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long)) { (xs, ys) =>
      val left = xs.foldLeft(agg.zero)(agg.reduce)
      val right = ys.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(left, right))
      val sequential = agg.finish((xs ++ ys).foldLeft(agg.zero)(agg.reduce))
      assert(merged == sequential)
    }
  }

  // ------------------------------------------------------------ top-k
  test("top_k kernel: k best per group across partitions ≡ a local sort") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    // few distinct scores, so primary-key ties are common and only the
    // unique id breaks them; k ranges from 1 to above any group's size
    val rowsGen = for {
      n <- Gen.chooseNum(1, 60)
      groups <- Gen.listOfN(n, Gen.chooseNum(0, 2))
      scores <- Gen.listOfN(n, Gen.chooseNum(0, 4))
    } yield groups.zip(scores).zipWithIndex.map { case ((g, s), id) =>
      (g, s / 2.0, id.toLong, s"p$id") }
    val kGen = Gen.oneOf(1, 2, 5, 64)
    forAll(rowsGen, kGen) { (rows, k) =>
      // three partitions: groups span them, so partial buffers are
      // serialized through the exchange and merged
      val df = rows.toDF("g", "score", "id", "p").repartition(3)
      assert(df.rdd.getNumPartitions >= 2)
      val got = df.groupBy("g")
        .agg(graft.operators.TopK.top_k(struct(col("id"), col("score"), col("p")),
          k, "score" -> Descending, "id" -> Ascending).as("top"))
        .select(col("g"), col("top.id"), col("top.p"),
          element_at(col("top"), -1)("id"))
        .collect().map(r => r.getInt(0) ->
          (r.getSeq[Long](1), r.getSeq[String](2), r.getLong(3))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val ranked = rs.sortBy(r => (-r._2, r._3)).map(_._3)
        val top = ranked.take(k)
        g -> (top, top.map(id => s"p$id"), top.last)
      }
      assert(got == want, s"k=$k rows=$rows")
      // the k-th of a group smaller than k is its worst row
      rows.groupBy(_._1).foreach { case (g, rs) =>
        if (rs.size < k)
          assert(got(g)._3 == rs.sortBy(r => (-r._2, r._3)).last._3)
      }
    }
  }

  // ------------------------------------------------------------ quality
  test("token count ≥ 0 and 0 iff blank") {
    import spark.implicits._
    val gen = Gen.listOfN(8, Gen.oneOf("", " ", "\t\n", "x", "x y", " x  y\tz "))
    forAll(gen, samples = 8) { ts =>
      whenever(ts.nonEmpty) {
        val got = ts.toDF("t")
          .select(TextFunctions.tokenCount(col("t")).as("n"), col("t"))
          .collect()
        got.foreach { r =>
          val n = r.getInt(0)
          val blank = r.getString(1).trim.isEmpty
          assert(n >= 0)
          assert((n == 0) == blank)
        }
      }
    }
  }

  // ------------------------------------------- r10 native vector kernels
  test("vector kernels: algebraic laws over random vectors (driver eval)") {
    // properties of the fused expressions' shared math, checked through
    // the Spark evaluation path on literal inputs (covers the interpreted
    // eval; codegen equivalence is pinned separately in CosineExprSpec)
    import graft.functions.VectorExpressions._
    val vec = Gen.listOfN(8, Gen.chooseNum(-5.0, 5.0)).map(_.toArray)
    def run(c: org.apache.spark.sql.Column): Double = {
      import spark.implicits._
      Seq(1).toDF("i").select(c.as("v")).head().getDouble(0)
    }
    def arr(a: Array[Double]) = array(a.map(lit).toIndexedSeq: _*)
    forAll(vec, vec) { (a, b) =>
      // symmetry and linearity anchor: dot(a,b) == dot(b,a); cauchy-schwarz
      val dab = run(dot_product(arr(a), arr(b)))
      val dba = run(dot_product(arr(b), arr(a)))
      assert(dab == dba)
      val naa = run(dot_product(arr(a), arr(a)))
      val nbb = run(dot_product(arr(b), arr(b)))
      assert(dab * dab <= naa * nbb + 1e-9)
      // squared_dist expansion: |a-b|^2 = |a|^2 - 2ab + |b|^2
      val sd = run(squared_dist(arr(a), arr(b)))
      assert(math.abs(sd - (naa - 2 * dab + nbb)) < 1e-9)
      // cosine bounded
      val cs = run(cosine_sim(arr(a), arr(b)))
      assert(cs >= -1.0 - 1e-12 && cs <= 1.0 + 1e-12)
    }
  }

  test("logistic_grad: finite, bounded, and zero-gradient at the optimum direction") {
    import graft.functions.VectorExpressions._
    import spark.implicits._
    val vec = Gen.listOfN(6, Gen.chooseNum(-30.0, 30.0)).map(_.toArray)
    val y = Gen.oneOf(0.0, 1.0)
    def arr(a: Array[Double]) = array(a.map(lit).toIndexedSeq: _*)
    forAll(vec, vec) { (x, w) =>
      Seq(0.0, 1.0).foreach { yy =>
        val g = Seq(1).toDF("i")
          .select(logistic_grad(arr(x), arr(w), lit(yy)).as("g"))
          .head().getSeq[Double](0)
        assert(g.length == x.length + 2)
        // every output finite even at |margin| up to ~5400
        g.foreach(v => assert(!v.isNaN && !v.isInfinite))
        // loss >= 0; hit is exactly 0 or 1
        assert(g(x.length) >= 0.0)
        assert(g(x.length + 1) == 0.0 || g(x.length + 1) == 1.0)
        // gradient_i = x_i * (p - y) with p in (0,1): |g_i| <= |x_i|
        x.indices.foreach(i => assert(math.abs(g(i)) <= math.abs(x(i)) + 1e-12))
      }
    }
  }

  test("pq_encode: codes in range, deterministic, and invariant to extra corpus rows") {
    import graft.functions.PqExpressions._
    import spark.implicits._
    // 2 subspaces x 3 codes x width 2 codebook; random vectors of dim 4
    val cw = Gen.listOfN(2, Gen.chooseNum(-3.0, 3.0))
    val cbGen = Gen.listOfN(2, Gen.listOfN(3, cw))
    val vGen = Gen.listOfN(4, Gen.chooseNum(-3.0, 3.0))
    forAll(cbGen, vGen) { (cbL, v) =>
      val cb: Seq[Seq[Seq[Double]]] = cbL.map(_.map(_.toSeq).toSeq).toSeq
      val codes = Seq(v).toDF("emb")
        .select(pq_encode(col("emb"), cb).as("c")).head().getSeq[Int](0)
      assert(codes.length == 2 && codes.forall(c => c >= 0 && c < 3))
      // row-local: the same vector encodes identically regardless of
      // whatever else is in the frame
      val codes2 = Seq(v, v.map(-_), v.map(_ * 2)).toDF("emb")
        .select(pq_encode(col("emb"), cb).as("c")).head().getSeq[Int](0)
      assert(codes == codes2)
      // the chosen codeword is a true argmin: no other code has strictly
      // smaller ROUNDED distance in its subspace
      codes.zipWithIndex.foreach { case (ci, s) =>
        val slice = v.slice(s * 2, s * 2 + 2)
        def d2(w: Seq[Double]) = graft.functions.PqKernels.round6(
          slice.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum)
        val chosen = d2(cb(s)(ci))
        cb(s).indices.foreach { cj =>
          assert(d2(cb(s)(cj)) >= chosen,
            s"code $ci not argmin in subspace $s (beaten by $cj)")
        }
      }
    }
  }
}
