package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Ascending
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** Stratified sampling with EXACT per-stratum allocation — the curation
  * step that draws a fixed-rate sample per language (or domain) for
  * eval sets, quality audits, and mixture rebalancing.
  *
  * `DataFrame.sampleBy` is Bernoulli: each row flips a coin, so the
  * per-stratum count is binomial-noisy and non-reproducible across
  * partitionings. This operator instead ranks each stratum by a
  * deterministic per-row hash (xxhash64(doc_id, seed) — a fixed random
  * permutation of the stratum) and keeps exactly ⌈frac·n_s⌉ rows, so
  *  - the sample is reproducible under repartitioning/retries (rank ties
  *    broken by doc_id → total order), and
  *  - downstream token-budget math can rely on exact counts.
  *
  * Scale shape: one hash shuffle on the stratum key; the rank is a window
  * over each stratum. At 100 TB a mega-stratum would bottleneck its single
  * window partition — [[stratifiedSampleTwoPhase]] is the wired fix
  * (quantile-bracketed exact refine: only an ε-band per stratum is ever
  * sorted) and gives IDENTICAL membership, pinned row-for-row by
  * LayoutSpec and by the identical summary oracle.
  */
object Sampling {

  /** Per-stratum document counts (lang, n_docs) — MEMOIZED per (session,
    * dir) and cached, and warmed: the per-ingest stratum-stats table
    * a pipeline materializes once. Registered consumers: the
    * q_stratified_sample summary and the q_stratified_twophase summary
    * (each previously re-aggregated the corpus per call for the same
    * |langs|-row answer). Metadata-scale: one row per stratum. */
  private[graft] def strataCounts(spark: SparkSession, dir: String): DataFrame =
    Artifacts.strataCounts(spark, dir) {
      Tables.documents(spark, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
    }

  /** The sampled rows (deterministic; membership is hash-defined and
    * engine-specific, so this is gate-checked via [[stratifiedSummary]]). */
  def stratifiedSample(spark: SparkSession, dir: String,
      frac: Double = 0.1, seed: Int = 42): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val w = Window.partitionBy("lang")
      .orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))
    // the per-stratum count rides the SAME exchange the rank needs (an
    // unordered window over the stratum) — one scan, one shuffle, no
    // side aggregation + join
    docs.withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rk") <= ceil(col("n_docs") * frac))
      .select("doc_id", "lang")
  }

  /** Per-stratum summary with the EXACT allocation the operator promises:
    * n_sampled = ⌈frac·n_docs⌉ precisely — a full-strength oracle (the
    * counts are portable arithmetic), not a statistical bound. */
  def stratifiedSummary(spark: SparkSession, dir: String,
      frac: Double = 0.1, seed: Int = 42): DataFrame = {
    val sampled = stratifiedSample(spark, dir, frac, seed)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    // n_docs from the memoized per-ingest stratum stats (r19) — the
    // summary's corpus-side re-aggregation was a second full scan for a
    // |langs|-row table both sampler summaries already share
    strataCounts(spark, dir)
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** The MEGA-STRATUM form: identical membership to [[stratifiedSample]]
    * without ever sorting a whole stratum — the two-phase selection the
    * header doc names, now wired (the `dsirWeights` sketch-bracket
    * pattern, per stratum):
    *
    *  1. per stratum, a rank-guaranteed quantile sketch (GK,
    *     `percentile_approx`) brackets the k-th smallest hash:
    *     lo = quantile at frac − 2ε, hi = quantile at frac + 5ε
    *     (ε = 1/accuracy). GK's deterministic rank bound (≤ εn) puts
    *     rank(lo) ≤ frac·n ≤ k, and rank(hi) ≥ (frac+4ε)n ≥ k whenever
    *     4εn ≥ 1 (n ≥ accuracy/4); smaller strata are band-dominated
    *     anyway and covered by the shortfall check below;
    *  2. rows with h < lo are DEFINITELY selected (no sort touches them);
    *     only the [lo, hi] band — O(εn) rows per stratum — is rank-sorted
    *     to fill the k − |sure| remaining seats under the same
    *     (hash, doc_id) total order.
    *
    * The selected set is exactly the k smallest (hash, doc_id) per
    * stratum — the SAME membership as the window form, which is why the
    * registered query reuses the IDENTICAL summary oracle and LayoutSpec
    * asserts row-for-row equality. A bracket that still comes up short
    * (a stratum tinier than the sketch margins can cover) FAILS LOUDLY —
    * a metadata-scale count check per call, never a silently undersized
    * sample. At 100 TB the only per-stratum sort left is the ε-band;
    * everything else is scans and broadcast-joined scalar brackets.
    *
    * The per-stratum bracket table (lang, k, lo, hi) of the two-phase
    * sampler — MEMOIZED per (session, dir, frac, seed, accuracy) and
    * cached: the sketch-bracket artifact an ingest materializes next to
    * its stratum stats. Readers: q_stratified_twophase and the sampled
    * quality gate's training draw (inside the build of
    * `Classifier.qualityTrainSampledFull`). The bracket-breach refusal
    * runs HERE, once per (session, key): breach iff some stratum has
    * n_sure > k (lo too high — over-selection) or n_sure + n_band < k
    * (hi too low — the band can't fill the remaining seats); when
    * n_sure ≤ k ≤ n_sure + n_band the band rank filter takes exactly
    * k − n_sure rows, so got = k — the same condition the old per-call
    * output-count collect tested, derived from ONE corpus pass instead of
    * executing the whole selection pipeline eagerly on every call (the
    * r18 bench line spent more wall in this check than in the query). */
  private[graft] def twoPhaseBrackets(spark: SparkSession, dir: String,
      frac: Double = 0.1, seed: Int = 42, accuracy: Int = 100): DataFrame =
    Artifacts.strataBrackets(spark, (dir, frac, seed, accuracy)) {
      val eps = 1.0 / accuracy
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          xxhash64(col("doc_id"), lit(seed)).as("h"))
      val brackets = docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          percentile_approx(col("h"),
            array(lit(math.max(0.0, frac - 2 * eps)),
              lit(math.min(1.0, frac + 5 * eps))),
            lit(accuracy)).as("pcts"))
        .select(col("lang"),
          ceil(col("n_docs") * frac).as("k"),
          col("pcts").getItem(0).as("lo"), col("pcts").getItem(1).as("hi"))
        .cache()
      val bad = docs.join(broadcast(brackets), "lang")
        .groupBy("lang").agg(
          sum(when(col("h") < col("lo"), 1L).otherwise(0L)).as("n_sure"),
          sum(when(col("h") >= col("lo") && col("h") <= col("hi"), 1L)
            .otherwise(0L)).as("n_band"))
        .join(broadcast(brackets.select(col("lang"), col("k"))), "lang")
        .filter(col("n_sure") > col("k") ||
          col("n_sure") + col("n_band") < col("k"))
        .collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"two-phase bracket breach (raise accuracy): " +
            bad.map(r => s"${r.getString(0)} n_sure=${r.getLong(1)} " +
              s"n_band=${r.getLong(2)} k=${r.getLong(3)}").mkString(", "))
      brackets
    }

  def stratifiedSampleTwoPhase(spark: SparkSession, dir: String,
      frac: Double = 0.1, seed: Int = 42, accuracy: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        xxhash64(col("doc_id"), lit(seed)).as("h"))
    // brackets are the memoized, ONCE-validated per-ingest artifact —
    // the per-call eager breach collect (which executed this whole
    // selection pipeline a second time) lives in [[twoPhaseBrackets]]
    val brackets = twoPhaseBrackets(spark, dir, frac, seed, accuracy)
    val joined = docs.join(broadcast(brackets), "lang")
    val sure = joined.filter(col("h") < col("lo"))
    val nSure = sure.groupBy("lang").agg(count(lit(1)).as("n_sure"))
    val wBand = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    val fromBand = joined
      .filter(col("h") >= col("lo") && col("h") <= col("hi"))
      .withColumn("rk", row_number().over(wBand))
      .join(broadcast(nSure), Seq("lang"), "left")
      .filter(col("rk") <= col("k") - coalesce(col("n_sure"), lit(0L)))
    sure.select("doc_id", "lang")
      .unionAll(fromBand.select("doc_id", "lang"))
  }

  /** Per-stratum allocation of the two-phase form — by membership
    * equality this is the SAME contract as [[stratifiedSummary]], so the
    * registered query carries the IDENTICAL oracle (the
    * `q_dedup_spans_salted` / `q_tail_n_heap` proof-by-same-oracle
    * pattern). */
  def stratifiedSummaryTwoPhase(spark: SparkSession, dir: String,
      frac: Double = 0.1, seed: Int = 42): DataFrame = {
    val sampled = stratifiedSampleTwoPhase(spark, dir, frac, seed)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    strataCounts(spark, dir)
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  // ------------------------------------------ cluster-balanced sampling
  /** Embedding-cluster assignment for every embedded document: nearest
    * lang-seeded centroid over the hashed-text vectors — the SAME
    * deterministic coarse quantizer the IVF text twin uses
    * (`TextEmbed.textIvfTopK`), so the whole assignment is closed-form
    * and the sampler's allocation oracle re-derives it in SQL.
    * A session artifact, metadata-scale: (doc_id, cluster). */
  private[graft] def clusterAssign(spark: SparkSession, dir: String): DataFrame =
    Artifacts.clusterAssign(spark, dir) {
      val vecs = TextEmbed.embeddings(spark, dir)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang").as("label")), "doc_id")
        .select(col("doc_id").as("vec_id"), col("label"), col("emb"))
      val cents = Similarity.meanVectors(
          vecs.select(col("label"), col("emb")), "label", "emb")
        .withColumnRenamed("label", "c_label")
      Similarity.nearestCells(vecs, cents, 1)
        .select(col("vec_id").as("doc_id"), col("cell").as("cluster"))
    }

  /** Cluster-BALANCED sample: an equal per-cluster budget drawn with the
    * same deterministic hash-rank as [[stratifiedSample]] — the
    * topic-debias step of a data-mixing pipeline (a skewed corpus
    * contributes at most `budget` docs per embedding cluster, so one
    * dominant topic cannot crowd the mixture). Strata here are LEARNED
    * (embedding clusters), not metadata — the composition of the
    * similarity tier's quantizer with the sampling tier's exact
    * allocator, both already oracled on their own. Membership is fully
    * hash-oracled since r15 ([[clusterBalancedSampleSql]] re-derives the
    * clusters AND the per-cluster k-smallest set); the allocation summary
    * below stays as the arithmetic contract.
    *
    * Scale shape: the strata here are LEARNED and therefore FEW (~|lang|
    * clusters), so a per-cluster window sort would funnel ~corpus/|lang|
    * rows through single tasks — the exact mega-stratum bottleneck
    * [[stratifiedSampleTwoPhase]] exists to kill, and worse, because the
    * stratum count is tiny by construction. The budget is a small constant,
    * so the bounded-heap top-k aggregator (the `q_tail_n_heap` machinery)
    * is the cheaper fix: k-smallest (hash, doc_id) per cluster with
    * map-side combine — each partition ships ≤ budget rows per cluster,
    * no window, no per-cluster sort. Membership is IDENTICAL to the
    * window form (the k smallest under the same total order), so the
    * summary keeps its full oracle and LayoutSpec's reproducibility test
    * stands; ScaleSpec pins the no-window plan. */
  def clusterBalancedSample(spark: SparkSession, dir: String,
      budget: Int = 40, seed: Int = 42): DataFrame =
    budgetSampleOf(clusterAssign(spark, dir), "cluster", budget, seed)

  /** The budget-capped sampler kernel over ANY (doc_id, <key>) frame:
    * the `budget` smallest (hash(doc_id, seed), doc_id) per key via
    * the bounded-heap aggregator — map-side combined, ≤ budget rows per
    * partition per key, no window. The selection rule is a pure function
    * of the DOC SET (order- and partitioning-invariant, idempotent under
    * re-delivery: the same doc contributes the same rank), which is what
    * makes the streaming twin (`streaming/StreamSample`) carry the
    * strongest streamed ≡ batch contract: the k-smallest of a union is
    * the k-smallest of per-batch k-smallests.
    *
    * Since r15 the rank hash is the PORTABLE polynomial hash
    * ([[graft.functions.HashExpressions]] ↔ the HUGEINT fold in SQL, the
    * [[weightedSampleOf]] precedent) instead of xxhash64, which upgrades
    * MEMBERSHIP itself from rows-only to fully hash-oracled: DuckDB
    * re-derives the per-key k-smallest set row for row (integer-only
    * comparisons — unlike the A-ES sampler there is not even an ln ulp
    * exposure). Same codegen'd per-row cost class, same fixed random
    * permutation semantics. */
  private[graft] def budgetRankHash(id: Column, seed: Int): Column =
    graft.functions.HashExpressions.poly_token_hash(
      concat(lit(s"bs$seed:"), id.cast("string")))

  def budgetSampleOf(docs: DataFrame, keyCol: String, budget: Int,
      seed: Int = 42): DataFrame = {
    docs
      .select(col(keyCol),
        budgetRankHash(col("doc_id"), seed).as("h"), col("doc_id"))
      .groupBy(keyCol)
      .agg(TopK.top_k(struct(col("h"), col("doc_id")), budget,
        "h" -> Ascending, "doc_id" -> Ascending).as("top"))
      .select(col(keyCol), explode(col("top")).as("d"))
      .select(col("d.doc_id").as("doc_id"), col(keyCol))
  }

  /** The SQL mirror of [[budgetRankHash]] over the named id column. */
  private def budgetRankHashSql(seed: Int, idCol: String = "doc_id"): String = {
    import graft.functions.TextFunctions.{polyMixSql, wrapSignedSql}
    wrapSignedSql(polyMixSql(s"'bs$seed:' || CAST($idCol AS VARCHAR)"))
  }

  /** Budget-capped per-LANGUAGE sample of the corpus — the metadata-strata
    * sibling of [[clusterBalancedSample]] (equal per-language budgets for
    * eval-set drawing and mixture caps) and the batch twin the streaming
    * ingest-time sampler is pinned against. Membership is fully
    * hash-oracled since r15 (the portable rank hash — [[budgetSampleSql]]
    * re-derives the per-language k-smallest set row for row); the
    * allocation summary below stays as the arithmetic contract. */
  def budgetSample(spark: SparkSession, dir: String,
      budget: Int = 50, seed: Int = 42): DataFrame =
    budgetSampleOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      "lang", budget, seed)

  /** DuckDB membership oracle for [[budgetSample]]: the identical
    * (portable hash, doc_id) total order, ranked per language. */
  def budgetSampleSql(budget: Int = 50, seed: Int = 42): String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${budgetRankHashSql(seed)}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $budget""".stripMargin

  /** DuckDB membership oracle for [[clusterBalancedSample]]: the cluster
    * assignment re-derived from scratch (embed chain → label centroids →
    * nearest cell — the summary oracle's CTE chain), then the identical
    * per-cluster k-smallest rank order as [[budgetSampleSql]]. */
  def clusterBalancedSampleSql(budget: Int = 40, seed: Int = 42): String =
    s"""WITH ${Similarity.ivfSqlCtesOver(TextEmbed.labeledVecsCtes)}
       |SELECT doc_id, cluster FROM (
       |  SELECT vec_id AS doc_id, assigned_label AS cluster,
       |    ROW_NUMBER() OVER (PARTITION BY assigned_label
       |      ORDER BY ${budgetRankHashSql(seed, "vec_id")}, vec_id) AS rk
       |  FROM assign)
       |WHERE rk <= $budget""".stripMargin

  /** Per-language allocation: n_sampled = least(budget, n_docs) EXACTLY
    * — the [[clusterBalancedSummary]] contract on metadata strata, so the
    * oracle is pure relational arithmetic. */
  def budgetSampleSummary(spark: SparkSession, dir: String,
      budget: Int = 50, seed: Int = 42): DataFrame = {
    val sampled = budgetSample(spark, dir, budget, seed)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    Tables.documents(spark, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  def budgetSampleSummarySql(budget: Int = 50): String =
    s"""SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(LEAST($budget, COUNT(*)) AS BIGINT) AS n_sampled
       |FROM documents GROUP BY 1""".stripMargin

  /** Per-cluster allocation: n_sampled = least(budget, n_docs) EXACTLY —
    * and because the cluster assignment is the deterministic lang-seeded
    * quantizer, the DuckDB oracle recomputes the clusters themselves
    * (embed chain → centroids → nearest-cell) before checking the
    * arithmetic. */
  def clusterBalancedSummary(spark: SparkSession, dir: String,
      budget: Int = 40, seed: Int = 42): DataFrame = {
    val sampled = clusterBalancedSample(spark, dir, budget, seed)
      .groupBy("cluster").agg(count(lit(1)).as("n_sampled"))
    clusterAssign(spark, dir)
      .groupBy("cluster").agg(count(lit(1)).as("n_docs"))
      .join(sampled, Seq("cluster"), "left")
      .select(col("cluster"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  def clusterBalancedSummarySql(budget: Int = 40): String =
    s"""WITH ${Similarity.ivfSqlCtesOver(TextEmbed.labeledVecsCtes)}
       |SELECT assigned_label AS cluster,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(LEAST($budget, COUNT(*)) AS BIGINT) AS n_sampled
       |FROM assign GROUP BY 1""".stripMargin

  def stratifiedSummarySql(frac: Double = 0.1): String =
    // CAST the fraction to DOUBLE: a bare decimal literal types as DECIMAL
    // in DuckDB, whose exact ceil could disagree with Spark's IEEE-double
    // product on a boundary-crossing count — both sides must compute in
    // the same number system
    s"""SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(CEIL(COUNT(*) * CAST($frac AS DOUBLE)) AS BIGINT) AS n_sampled
       |FROM documents GROUP BY lang""".stripMargin

  // ------------------------------------------- weighted (A-ES) sampling
  /** Efraimidis–Spirakis (2006) weighted sampling WITHOUT replacement:
    * every doc draws u = uniform(0,1) from a deterministic hash and is
    * ranked by u^(1/w) — the budget LARGEST ranks are the sample, and the
    * inclusion law is exactly sequential weighted draws without
    * replacement. This is the sampler the uniform family can't replace:
    * quality-weighted eval draws, length-proportional token audits,
    * importance-weighted distillation sets.
    *
    * Unlike the xxhash64 samplers (membership rows-only, allocation
    * oracled), membership here is FULLY hash-oracled: u comes from the
    * portable polynomial hash ([[graft.functions.HashExpressions]] ↔ the
    * HUGEINT fold in SQL), the signed→double→(0,1) map is the identical
    * IEEE op sequence on both engines, and the only cross-engine exposure
    * left is libm's ln ulp on the ORDER of two ranks straddling the budget
    * boundary — the accepted `q_minhash_recall`-class empirical pin.
    *
    * Scale shape: rank is a per-row projection (codegen'd hash, one ln);
    * selection is a global top-k — `TakeOrderedAndProject`, per-partition
    * heaps merged on the driver, never a global sort. The rank is
    * row-intrinsic (no state), so the k-largest of a union is the
    * k-largest of per-batch k-largests — the same streamed ≡ batch
    * contract as [[budgetSampleOf]]. */
  def weightedSampleOf(docs: DataFrame, weightCol: String, budget: Int,
      seed: Int = 42): DataFrame = {
    val h = graft.functions.HashExpressions.poly_token_hash(
      concat(lit(s"ws$seed:"), col("doc_id").cast("string")))
    // signed/2^64 + 0.5 ∈ [0,1): exact scaling + one rounding, identical
    // on both engines; the 1e-300 floor keeps ln finite at the 2^-64 nub
    val u = greatest(h.cast("double") / lit(1.8446744073709552e19) + lit(0.5),
      lit(1e-300))
    docs
      .withColumn("rnk", log(u) / col(weightCol).cast("double"))
      .orderBy(col("rnk").desc, col("doc_id"))
      .limit(budget)
      .drop("rnk")
  }

  /** Length-weighted corpus sample: P(doc) ∝ n_chars+1 — the draw that
    * makes a fixed-doc-count audit see a token-mass-proportional picture.
    * Output is integers/strings only (the FP rank stays internal). */
  def weightedSample(spark: SparkSession, dir: String,
      budget: Int = 60, seed: Int = 42): DataFrame =
    weightedSampleOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          (col("n_chars") + 1L).as("weight")),
      "weight", budget, seed)

  /** Why weighted ≠ uniform, in one oracled table: each source's share of
    * the weighted sample next to its doc share and its weight-mass share —
    * the sample share tracks MASS, not doc count. */
  def weightedShare(spark: SparkSession, dir: String,
      budget: Int = 60, seed: Int = 42): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tot = docs.agg(count(lit(1)).cast("double").as("n_all"),
      sum(col("n_chars") + 1L).cast("double").as("w_all"))
    val kept = weightedSample(spark, dir, budget, seed)
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars") + 1L).as("w_mass"))
      .join(kept, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        round(col("n_docs") / col("n_all"), 6).as("doc_share"),
        round(col("w_mass") / col("w_all"), 6).as("mass_share"))
  }

  private def wsRankSql(seed: Int): String = {
    import graft.functions.TextFunctions.{polyMixSql, wrapSignedSql}
    val h = wrapSignedSql(polyMixSql(s"'ws$seed:' || CAST(doc_id AS VARCHAR)"))
    s"""ln(greatest(CAST($h AS DOUBLE)
       |      / CAST(18446744073709551616 AS DOUBLE) + 0.5, 1e-300))
       |    / CAST(n_chars + 1 AS DOUBLE)""".stripMargin
  }

  def weightedSampleSql(budget: Int = 60, seed: Int = 42): String =
    s"""SELECT doc_id, lang, source, CAST(n_chars + 1 AS BIGINT) AS weight
       |FROM (SELECT doc_id, lang, source, n_chars, ${wsRankSql(seed)} AS rnk
       |      FROM documents)
       |ORDER BY rnk DESC, doc_id LIMIT $budget""".stripMargin

  def weightedShareSql(budget: Int = 60, seed: Int = 42): String =
    s"""WITH kept AS (
       |  SELECT source FROM
       |    (SELECT doc_id, source, ${wsRankSql(seed)} AS rnk FROM documents)
       |  ORDER BY rnk DESC, doc_id LIMIT $budget),
       |tot AS (SELECT COUNT(*)::DOUBLE AS n_all,
       |               SUM(n_chars + 1)::DOUBLE AS w_all FROM documents),
       |ks AS (SELECT source, COUNT(*) AS n_sampled FROM kept GROUP BY 1)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(ANY_VALUE(ks.n_sampled), 0) AS BIGINT) AS n_sampled,
       |  round(COUNT(*) / ANY_VALUE(tot.n_all), 6) AS doc_share,
       |  round(SUM(d.n_chars + 1) / ANY_VALUE(tot.w_all), 6) AS mass_share
       |FROM documents d LEFT JOIN ks ON ks.source = d.source, tot
       |GROUP BY d.source""".stripMargin
}
