package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** Model-based quality filtering — the learned gate modern curation
  * pipelines put next to the rule-based one (CCNet's fastText LM filter,
  * LLaMA's "quality classifier", DCLM's fastText gate): train a LINEAR
  * classifier to imitate a quality oracle, then score and gate the corpus
  * with the model.
  *
  * Everything is assembled from pieces this engine already oracles:
  * features are the L2-normalized feature-hash embeddings
  * ([[TextEmbed.embeddings]], every coordinate DuckDB-verified via
  * `q_embed_text`) plus a bias; weak-supervision labels come from the
  * deterministic composite quality rule (`TextFunctions.qualityMetrics`,
  * oracled via `q_quality_metrics`) thresholded at `tau` — the standard
  * distillation setup where a cheap closed-form teacher labels the
  * training set for a model that generalizes past it.
  *
  * Training is full-batch gradient descent on the convex logistic loss,
  * in the classic DISTRIBUTED-GD shape: the corpus never moves — each
  * iteration broadcasts the (dim+1)-vector `w` into one scan that
  * computes per-row gradient/loss/agreement in one fused codegen kernel
  * ([[graft.functions.LogisticGradient]]), and the gradient reduces via a
  * component-wise vector-sum aggregate (one double[dim+2] buffer per
  * partition, map-side combined). At 100 TB an iteration is one linear
  * pass; `w` is 65 doubles on the driver — and the production form
  * trains on a stratified SAMPLE and scores corpus-wide
  * ([[qualityTrainSampledFull]]/[[qualityGateSampled]]), so the 16 passes
  * touch frac·corpus rows, not 16 full lake scans.
  *
  * Convergence is a THEOREM here, not a hope: logistic loss is L-smooth
  * with L ≤ max‖x‖²/4 = (1+1)/4 = 0.5 on unit-normalized features with a
  * unit bias (zero-token docs stay all-zero, so ‖x‖² ≤ 2 everywhere),
  * and the descent lemma guarantees a monotone loss decrease for any
  * fixed step η < 2/L = 4 — the default η = 3.5 sits inside the bound.
  * `q_quality_train_monotone` states that invariant (oracled, the
  * ivfTrain/pqTrain pattern); ClassifierSpec additionally asserts real
  * progress and that the gate beats the majority-class baseline — the
  * content features earn their keep against the ratio-driven teacher,
  * they don't just memorize it. */
object Classifier {

  // τ sits at the corpus's median composite score (scores span ~0.51-0.80
  // with median ~0.67 across the shipped SFs), so the teacher labels SPLIT
  // the corpus — at a τ outside the score range the task degenerates to a
  // constant and "accuracy" stops measuring anything (ClassifierSpec pins
  // that both classes are actually present)
  val DefaultTau = 0.67
  val DefaultIters = 15
  val DefaultEta = 3.5

  /** (doc_id, x ARRAY<DOUBLE> (bias ++ emb), y DOUBLE) — the training
    * frame: embeddings joined to thresholded teacher labels. Docs with no
    * tokens have no embedding and drop out (nothing to score). */
  private[graft] def trainingFrame(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    val labels = graft.functions.TextFunctions
      .qualityMetrics(Tables.spread(spark, Tables.documents(spark, dir)), "text")
      .select(col("doc_id"),
        when(col("quality_score") >= tau, 1.0d).otherwise(0.0d).as("y"))
    TextEmbed.embeddings(spark, dir)
      .select(col("doc_id"), concat(array(lit(1.0d)), col("emb")).as("x"))
      .join(labels, "doc_id")
  }

  /** w·x with the weights folded in as an array literal — the NATIVE
    * codegen dot ([[graft.functions.DotProduct]]): bit-identical to the
    * old `aggregate(zip_with(·,·,_*_))` fold (same left-to-right IEEE
    * accumulation) without the ~50× interpreted-lambda dispatch the
    * engine measured for HOFs (`functions/VectorExpressions.scala`). */
  private def dotW(x: Column, w: Seq[Double]): Column =
    graft.functions.VectorExpressions.dot_product(x, array(w.map(lit): _*))

  /** Component-wise vector sum as a typed Aggregator — the gradient
    * reduce. The old posexplode → groupBy(pos) form materialized dim+2
    * rows PER DOC (≈67× the corpus) just to hash-aggregate them back;
    * this buffers ONE double[dim+2] per partition with map-side combine,
    * so the per-pass job is scan → fused row kernel → in-place vector
    * adds → a ≤(partitions × 67)-double merge. Empty zero: the buffer
    * sizes itself to the first row, so the aggregator is dim-agnostic. */
  class VecSumAgg extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
      if (b.isEmpty) a.toArray
      else {
        // iterator, not a(i): the decoder's Seq is a List, where indexed
        // access inside this loop is quadratic (the Sketches.indexed rule)
        var i = 0
        val it = a.iterator
        while (i < b.length && it.hasNext) { b(i) += it.next(); i += 1 }
        b
      }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else {
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      }
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Training stats: one row per iteration (0 = the zero-weight start)
    * with the mean logistic loss and teacher-agreement accuracy. */
  def qualityTrain(spark: SparkSession, dir: String, tau: Double = DefaultTau,
      iters: Int = DefaultIters, eta: Double = DefaultEta): DataFrame =
    qualityTrainFull(spark, dir, tau, iters, eta)._1

  private[graft] def qualityTrainFull(spark: SparkSession, dir: String,
      tau: Double = DefaultTau, iters: Int = DefaultIters,
      eta: Double = DefaultEta): (DataFrame, Seq[Double]) =
    Artifacts.qualityGateFit(spark, (dir, tau, iters, eta))(
      qualityTrainImpl(spark, dir, tau, iters, eta))

  private def qualityTrainImpl(spark: SparkSession, dir: String, tau: Double,
      iters: Int, eta: Double): (DataFrame, Seq[Double]) =
    gdLoop(spark, trainingFrame(spark, dir, tau), iters, eta)

  /** Below this row count the GD loop collects the training set and
    * iterates on the driver: each distributed pass is a full
    * driver-synchronized job (the Spark ML per-iteration shape — right
    * when the training data is lake-sized, pure scheduling overhead when
    * it is a quality-gate sample: measured ~0.1 s/job × 61 jobs on a
    * 1250-row sample). 100k rows × 66 doubles ≈ 53 MB collected as
    * PRIMITIVE arrays (the typed-encoder collect below — a boxed Row
    * collect would be 4-8× that) — comfortably driver-resident; a
    * production-scale sample exceeds it and trains distributed. Same
    * formulas either way, pinned ≡ by ClassifierSpec. */
  val LocalFitRows = 100000L

  /** Test seam (the TxTable `onStaged` pattern): forces the
    * distributed pass path regardless of size, so ClassifierSpec can pin
    * local ≡ distributed on the same data. No-op in production. */
  private[graft] var forceDistributed = false

  /** The GD pass math, driver-local — the same margin/sigmoid/stable-loss
    * /gradient formulas [[graft.functions.LogisticGradient]] generates,
    * so the two paths cannot diverge beyond float summation order. */
  private def gdLocal(xs: Array[Array[Double]], ys: Array[Double],
      iters: Int, eta: Double, dim: Int): (Seq[(Int, Double, Double)], Seq[Double]) = {
    val n = xs.length.toDouble
    var w = new Array[Double](dim)
    def pass(): (Double, Double, Array[Double]) = {
      val grad = new Array[Double](dim)
      var loss = 0.0; var hits = 0.0
      var r = 0
      while (r < xs.length) {
        val x = xs(r); val y = ys(r)
        var m = 0.0
        var i = 0
        while (i < dim) { m += x(i) * w(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-m))
        val d = p - y
        i = 0
        while (i < dim) { grad(i) += x(i) * d; i += 1 }
        loss += math.max(m, 0.0) - m * y + math.log1p(math.exp(-math.abs(m)))
        if ((p >= 0.5) == (y == 1.0)) hits += 1.0
        r += 1
      }
      var i = 0
      while (i < dim) { grad(i) /= n; i += 1 }
      (loss / n, hits / n, grad)
    }
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    var cur = pass()
    stats += ((0, cur._1, cur._2))
    var it = 0
    while (it < iters) {
      val next = new Array[Double](dim)
      var i = 0
      while (i < dim) { next(i) = w(i) - eta * cur._3(i); i += 1 }
      w = next
      cur = pass()
      it += 1
      stats += ((it, cur._1, cur._2))
    }
    (stats.toSeq, w.toSeq)
  }

  /** The distributed-GD loop over ANY (doc_id, x, y) frame — shared by
    * full-batch and sampled-teacher training so the two can never drift
    * on the kernel, step rule, or stats shape. */
  private[graft] def gdLoop(spark: SparkSession, training: DataFrame,
      iters: Int, eta: Double): (DataFrame, Seq[Double]) = {
    import spark.implicits._
    // Partitioning is sized to the DATA, not inherited from the input:
    // every GD pass is one job over this frame, so at iters=60 a tiny
    // sampled training set on 32 inherited partitions schedules ~2000
    // near-empty tasks (measured 7.7 s of pure overhead at bench scale),
    // while a 100 TB corpus still needs full parallelism. Rule: one
    // partition per 64k rows, capped at the cluster's parallelism —
    // coalesce on the checkpointed frame is a narrow dependency, no
    // shuffle. (History: when the kernel was interpreted HOFs, coalescing
    // the FULL corpus cost 8.2 → 50.5 s — compute-bound then; the fused
    // codegen kernel flipped the regime to scheduling-bound at small n.)
    val ckpt = training.localCheckpoint(true)
    val n = ckpt.count().toDouble
    val dim = ckpt.select(size(col("x"))).head().getInt(0)
    // sub-threshold training sets fit on the driver: collect ONCE, run
    // the identical pass math locally — iters sequential jobs become one.
    // Typed Array[Double] encoder: deserializes straight to primitive
    // double[], so the collect footprint is the ~53 MB the threshold was
    // sized to; a Row collect would box every element (~4-8× that)
    // before the primitive copies were even built
    if (n <= LocalFitRows && !forceDistributed) {
      val rows = ckpt.select(col("x"), col("y")).as[(Array[Double], Double)].collect()
      val xs = rows.map(_._1)
      val ys = rows.map(_._2)
      val (stats, w) = gdLocal(xs, ys, iters, eta, dim)
      return (stats.toDF("iter", "loss", "accuracy")
        .select(col("iter"), round(col("loss"), 6).as("loss"),
          round(col("accuracy"), 6).as("accuracy")), w)
    }
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      math.ceil(n / 65536.0).toInt))
    val data =
      if (ckpt.rdd.getNumPartitions <= parts) ckpt else ckpt.coalesce(parts)
    var w: Seq[Double] = Seq.fill(dim)(0.0)

    // loss, accuracy, AND the full gradient in ONE JOB per iteration:
    // each row emits its gradient vector with (loss, hit) appended as two
    // extra trailing positions, and everything reduces through the
    // component-wise VecSumAgg (one buffer per partition, map-side
    // combined — the old posexplode form materialized dim+2 rows per doc
    // first). Two scalar aggregates would otherwise cost a second full
    // job per iteration — at 15 iterations that is the difference
    // between 16 and 32 scheduled passes.
    def pass(wNow: Seq[Double]): (Double, Double, Seq[Double]) = {
      // the whole row kernel — margin, sigmoid, per-element gradient,
      // STABLE log-loss (max(m,0) − m·y + log1p(e^−|m|): the direct
      // log(p)/log(1−p) form hits −∞ once |margin| ≳ 37), and the
      // agreement bit — is ONE fused codegen expression; per-row work is
      // a primitive loop, not n interpreted lambda dispatches
      val vecsum = udaf(new VecSumAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
      val sums = data
        .select(graft.functions.VectorExpressions.logistic_grad(
          col("x"), array(wNow.map(lit): _*), col("y")).as("g"))
        .agg(vecsum(col("g")).as("s"))
        .head().getSeq[Double](0).toArray
      val (grad, tail) = sums.splitAt(dim)
      (tail(0) / n, tail(1) / n, grad.toSeq.map(_ / n))
    }

    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    var i = 0
    var cur = pass(w)
    stats += ((0, cur._1, cur._2))
    while (i < iters) {
      w = w.zip(cur._3).map { case (wi, gi) => wi - eta * gi }
      cur = pass(w)
      i += 1
      stats += ((i, cur._1, cur._2))
    }
    (stats.toSeq.toDF("iter", "loss", "accuracy")
       .select(col("iter"), round(col("loss"), 6).as("loss"),
         round(col("accuracy"), 6).as("accuracy")),
     w)
  }

  /** The learned gate applied corpus-wide: per-doc sigmoid score and
    * keep/drop under the trained weights — one broadcast-weights scan,
    * the production read path of the classifier. Rows-only by contract
    * (the weights aren't SQL-derivable) — but the gate's APPLICATION is:
    * scoring is one dot product + sigmoid over the DuckDB-re-derivable
    * hashed features ([[TextEmbed]]'s coordinates are bit-exact
    * cross-engine), so since r18 the query hands its trained weights to
    * the oracle as a verified frame ([[writeWeightsForOracle]], the
    * `q_format_combine` read-the-same-files precedent) and the oracle
    * re-derives every score, keep bit, and teacher bit relationally
    * ([[qualityGateOracleSql]]). Training itself stays the one declared
    * loop, bracketed by `q_quality_train_monotone` and ClassifierSpec. */
  def qualityGate(spark: SparkSession, dir: String, tau: Double = DefaultTau,
      iters: Int = DefaultIters, eta: Double = DefaultEta): DataFrame =
    gateFrame(spark, dir, tau, qualityTrainFull(spark, dir, tau, iters, eta)._2,
      "full")

  val DefaultSampleFrac = 0.25
  // 60 quarter-corpus passes = the same total row-touches as the
  // full-batch default's 15 whole-corpus passes — the sampled trainer
  // spends its scan budget on MORE iterations over LESS data
  val DefaultSampleIters = 60

  /** SAMPLED-teacher training — the production split at 100 TB: full-batch
    * GD is sound in shape (linear passes, 65-double state) but spends
    * 16 complete lake scans fitting a 65-parameter model; the standard
    * pipeline trains on a sample and scores corpus-wide. The sample is
    * drawn by the engine's own EXACTLY-ALLOCATED stratified sampler
    * ([[Sampling.stratifiedSampleTwoPhase]] — per-language ⌈frac·n⌉,
    * deterministic hash membership, no mega-stratum sort), so the
    * training set preserves the corpus's language mixture by construction
    * instead of by luck, and every GD pass touches frac·corpus rows.
    * Same GD loop, same kernel, same stats shape as the full-batch twin;
    * ClassifierSpec pins the sampled gate's teacher-accuracy parity with
    * the full-batch gate and its margin over the majority baseline.
    * (On the 500-doc fixtures the quarter sample is ~n/d ≈ 2 — the
    * worst case for the parity claim; at any production scale the sample
    * dwarfs the 65 parameters and the gap vanishes.) */
  private[graft] def qualityTrainSampledFull(spark: SparkSession, dir: String,
      frac: Double = DefaultSampleFrac, tau: Double = DefaultTau,
      iters: Int = DefaultSampleIters, eta: Double = DefaultEta): (DataFrame, Seq[Double]) =
    Artifacts.qualityGateSampledFit(spark, (dir, frac, tau, iters, eta)) {
      val sample = Sampling.stratifiedSampleTwoPhase(spark, dir, frac)
        .select("doc_id")
      val training = trainingFrame(spark, dir, tau)
        .join(sample, "doc_id") // sample ids are frac·N — lake-scale joins
                                // would bloom-filter or broadcast by range;
                                // at gate scale Spark broadcasts it outright
      gdLoop(spark, training, iters, eta)
    }

  /** The sampled-trained gate applied CORPUS-WIDE — train on frac·N,
    * score N (the deployment economics the full-batch twin lacks). Output
    * schema mirrors [[qualityGate]]; rows-only by contract, bracketed by
    * ClassifierSpec's agreement floor against the full-batch gate. */
  def qualityGateSampled(spark: SparkSession, dir: String,
      frac: Double = DefaultSampleFrac, tau: Double = DefaultTau,
      iters: Int = DefaultSampleIters, eta: Double = DefaultEta): DataFrame =
    gateFrame(spark, dir, tau,
      qualityTrainSampledFull(spark, dir, frac, tau, iters, eta)._2, "sampled")

  // ------------------------------------------- verified-frame gate oracle
  /** Per-PROCESS scratch root for the trained-weights hand-off to the
    * DuckDB oracle. Per-pid (the r17 ADVICE fixture-root rule): the SQL
    * below is generated at registry init in the SAME JVM that later runs
    * the gate query, so the path always agrees within a run, while two
    * concurrent JVMs (sbt test alongside Verify) can never race each
    * other's weight files. Lifecycle (mtime touch on use, 24 h dead-
    * sibling sweep, no delete-on-exit — the driver's DuckDB compare runs
    * after Verify exits) is the shared [[graft.TmpRoots]]; the tree is 66
    * rows of (pos, w) per leg. */
  private[graft] val WeightsOracleRoot: String =
    graft.TmpRoots.root("graft_quality_weights")

  /** Order-insensitive-enough staleness stamp over the weight vector,
    * carried as a constant column by BOTH the Spark gate frame (from the
    * in-memory weights it actually scored with) and the oracle (from the
    * parquet it read back): if the file on disk is not the vector this
    * frame used, the hashes mismatch on every row and the failure names
    * itself. round-6 absorbs the cross-engine summation-order delta. */
  private[graft] def weightsChecksum(w: Seq[Double]): Double = {
    val s = w.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum
    BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Publish the trained weights for the oracle replay: (pos, w) rows,
    * pos 0 = bias. Parquet DOUBLEs round-trip bit-exactly, so the oracle
    * scores with the SAME IEEE values the gate used. */
  private def writeWeightsForOracle(spark: SparkSession, w: Seq[Double],
      leg: String): Unit = {
    graft.TmpRoots.root("graft_quality_weights") // touch + sweep on use
    import spark.implicits._
    w.zipWithIndex.map { case (v, i) => (i, v) }.toDF("pos", "w")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$WeightsOracleRoot/$leg")
  }

  /** The shared gate frame: publish the weights, score the corpus under
    * them, stamp the checksum. Both gate flavors are this one application
    * kernel — only the training that produced `w` differs. */
  private def gateFrame(spark: SparkSession, dir: String, tau: Double,
      w: Seq[Double], leg: String): DataFrame = {
    writeWeightsForOracle(spark, w, leg)
    trainingFrame(spark, dir, tau)
      .withColumn("score",
        round(lit(1.0d) / (lit(1.0d) + exp(-dotW(col("x"), w))), 6))
      .select(col("doc_id"), col("score"),
        (col("score") >= 0.5d).as("keep"),
        (col("y") === 1.0d).as("teacher_keep"),
        lit(weightsChecksum(w)).as("w_checksum"))
  }

  /** DuckDB oracle for [[qualityGate]] (`leg = "full"`) /
    * [[qualityGateSampled]] (`leg = "sampled"`): re-derives the hashed-
    * feature embedding coordinates from `documents` (the bit-exact
    * [[TextEmbed.embedSqlCtesOver]] chain q_embed_text verifies), reads
    * the published weight vector back, and recomputes margin → sigmoid →
    * round-6 score → 0.5 gate per doc, plus the teacher bit from the
    * hash-oracled composite quality score at the same τ. The dot product
    * sums in DuckDB's order vs the codegen kernel's left-to-right fold —
    * the round-6 contract the whole registry runs on. Only docs with ≥1
    * token embed, mirroring the training frame's inner join. */
  def qualityGateOracleSql(leg: String, tau: Double = DefaultTau): String = {
    val wf = s"$WeightsOracleRoot/$leg/*.parquet"
    s"""WITH ${TextEmbed.embedSqlCtesOver("documents")},
       |wts AS (SELECT pos, w FROM read_parquet('$wf')),
       |mrg AS (
       |  SELECT c.doc_id,
       |    (SELECT w FROM wts WHERE pos = 0) + SUM(c.val * t.w) AS m
       |  FROM coords c JOIN wts t ON t.pos = c.pos + 1
       |  GROUP BY c.doc_id),
       |lbl AS (
       |  SELECT doc_id, (quality_score >= $tau) AS teacher_keep FROM (
       |${graft.functions.TextFunctions.qualityQuerySql.replace("\n", "\n  ")}
       |  ) qm),
       |chk AS (SELECT ROUND(SUM(w * (pos + 1)), 6) AS w_checksum FROM wts)
       |SELECT m.doc_id,
       |  ROUND(1.0 / (1.0 + exp(-m.m)), 6) AS score,
       |  (ROUND(1.0 / (1.0 + exp(-m.m)), 6) >= 0.5) AS keep,
       |  l.teacher_keep, c.w_checksum
       |FROM mrg m JOIN lbl l USING (doc_id) CROSS JOIN chk c""".stripMargin
  }

  /** Score ANY (doc_id, text) batch under GIVEN weights — the deployment
    * split the streaming gate uses (`streaming/StreamScore`): train
    * offline on the corpus, broadcast the 65 doubles, score each arriving
    * batch row-locally. Embedding a doc is batch-invariant (token votes
    * never cross documents), so a doc scores identically here and in
    * [[qualityGate]] — the equality StreamScoreSpec pins. Token-less docs
    * have no embedding and drop out, exactly as in the batch gate. */
  def scoreDocs(docs: DataFrame, w: Seq[Double]): DataFrame =
    TextEmbed.embedDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), concat(array(lit(1.0d)), col("emb")).as("x"))
      .select(col("doc_id"),
        round(lit(1.0d) / (lit(1.0d) + exp(-dotW(col("x"), w))), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5d)
}
