package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Ascending
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TopK

/** User-behavior analytics over the event stream — the cohort/funnel pair
  * every product dashboard wants next to the Lens battery. Both are pure
  * aggregate/join plans (no window over raw events anywhere) and fully
  * hash-oracled.
  *
  * Scale shapes: everything keys on user_id or (user_id, day) — per-user
  * aggregates are map-side combinable, joins are user-hash joins, and the
  * outputs are metadata-scale (cohort × offset grid; 3 funnel rows). At
  * 100 TB none of these plans materializes more than |users| rows past
  * the first aggregate. */
object CohortQueries {

  /** Cohort retention: users grouped by first-active day; for each
    * (cohort, day-offset) the surviving distinct-user count and the
    * retention rate vs the cohort's size. `activity` is distinct
    * (user, day) and each user has exactly one cohort day, so the final
    * count(*) IS the distinct-user count — no second distinct pass. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val coh = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val grid = act.join(coh, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")))
      .groupBy("cohort_day", "offset")
      .agg(count(lit(1)).as("n_users"))
    val base = grid.filter(col("offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    grid.join(broadcast(base), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset"), col("n_users"),
        round(col("n_users") / col("cohort_size"), 6).as("retention"))
  }

  val cohortRetentionSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |coh AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1),
      |grid AS (
      |  SELECT c.cohort_day,
      |         CAST(date_diff('day', c.cohort_day, a.day) AS INT) AS "offset",
      |         COUNT(*) AS n_users
      |  FROM act a JOIN coh c ON a.user_id = c.user_id
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT cohort_day, n_users AS cohort_size FROM grid WHERE "offset" = 0)
      |SELECT strftime(g.cohort_day, '%Y-%m-%d') AS cohort_day, g."offset",
      |       g.n_users, ROUND(g.n_users / b.cohort_size, 6) AS retention
      |FROM grid g JOIN base b ON g.cohort_day = b.cohort_day""".stripMargin

  // -------------------------------------------- activity distribution
  /** Per-user activity histogram on log2 buckets — the power-law audit
    * that pairs with the key-skew summary (`Profile.keySkew`): how many
    * users sit in each 2^b..2^{b+1} activity band. log2 of counts is
    * exact on both engines at powers of two (IEEE), so the floor cannot
    * straddle. */
  def activityHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(floor(log2(col("n"))).cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"))

  val activityHistogramSql: String =
    """WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
      |SELECT CAST(FLOOR(LOG2(n)) AS INT) AS bucket, COUNT(*) AS n_users
      |FROM per GROUP BY 1""".stripMargin

  // ------------------------------------------------- intersect / except
  /** INTERSECT / EXCEPT set semantics (distinct on both engines): users
    * who both viewed and purchased, and users who viewed but never
    * errored — labeled into one frame. Both plans are user-keyed
    * aggregates/joins under the hood (Catalyst rewrites intersect to a
    * left-semi over distinct, except to left-anti). */
  def intersectExcept(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String) =
      e.filter(col("event_type") === t).select("user_id")
    users("view").intersect(users("purchase"))
      .select(lit("both_view_purchase").as("cohort"), col("user_id"))
      .unionByName(
        users("view").except(users("error"))
          .select(lit("view_never_error").as("cohort"), col("user_id")))
  }

  val intersectExceptSql: String =
    """SELECT 'both_view_purchase' AS cohort, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'view_never_error' AS cohort, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'error')""".stripMargin

  // ------------------------------------------------------ JSON functions
  /** JSON property extraction over the `props` column (the reference's
    * raw layer is JSON — `scripts/formatting/format_to_parquet.py` parses
    * it at the edge; this is the query-time form for properties that
    * STAY semi-structured): path-extract → cast → aggregate. Spark
    * `get_json_object` ↔ DuckDB `json_extract_string`, both SQL-standard
    * `$.k` paths. Extraction is row-local; the aggregate map-side
    * combines. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  val jsonExtractSql: String =
    """WITH j AS (
      |  SELECT event_type,
      |         CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n_with_k,
      |       ROUND(AVG(k), 6) AS avg_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM j GROUP BY 1""".stripMargin

  // ------------------------------------------------------- rank battery
  /** The ranking-function family in one query: rank/dense_rank/
    * percent_rank/cume_dist over a COARSE key (⌊value⌋ — ties are the
    * point; the tie-group values are deterministic per row on both
    * engines) and ntile(4) over the unique (value, event_id) order
    * (ntile splits by row POSITION, so determinism requires a total
    * order). Output bounded to 8 rows per key by the same total order. */
  def rankBattery(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §2.4 — the window-to-bounded-aggregation rewrite): the
    // old form ran SIX window functions over full event_type partitions —
    // two full-partition sorts per type in single tasks (the mega-stratum
    // hazard; at bench scale the whole query was 3 serial tasks) — to
    // keep 8 rows per type. Every emitted value is derivable from (a) the
    // k-bounded (value, event_id) heap that picks the 8 output rows and
    // their positions rn, and (b) per-(type, ⌊value⌋) group counts, whose
    // per-type running sums are a window over DISTINCT-FLOOR rows
    // (metadata-scale partitions, same guarantee the label-noise vote
    // relied on):
    //   rank       = 1 + #rows in strictly-lower floor groups
    //   dense_rank = index of the row's floor group
    //   percent_rank = (rank−1)/(N−1), 0 when N=1  (Spark's PercentRank)
    //   cume_dist  = #rows in floor groups ≤ mine / N
    //   ntile(4)   = Spark's NTile bucketing from (rn, N): the first
    //                N%4 buckets hold ⌊N/4⌋+1 rows, the rest ⌊N/4⌋
    // — all exact integer arithmetic, so the rounded doubles are
    // bit-identical to the window form's (the unchanged DuckDB window
    // oracle is the arbiter).
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        floor(col("value")).cast("long").as("f"))
    // (value ASC, event_id ASC): event_id is unique, so the order is total
    val top = ev.groupBy("event_type")
      .agg(TopK.top_k(struct(col("event_id"), col("value"), col("f")), 8,
        "value" -> Ascending, "event_id" -> Ascending).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rn"),
        col("s.event_id").as("event_id"), col("s.f").as("f"))
    val wF = Window.partitionBy("event_type").orderBy("f")
    val stats = ev.groupBy("event_type", "f").agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(
        sum("c").over(wF.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("le",
        sum("c").over(wF.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("didx", row_number().over(wF))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    // integral arithmetic spelled with floor(): Column./ is DOUBLE
    // division — exact here because every operand is an integer far below
    // 2^53, so floor recovers the integer quotient bit-exactly
    val small = floor(col("n") / lit(4.0)).cast("long")
    val r = col("n") % lit(4L)
    val big = small + lit(1L)
    val cut = r * big
    def ceilDiv(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor((a + b - lit(1L)).cast("double") / b.cast("double")).cast("long")
    top.join(stats, Seq("event_type", "f"))
      .select(col("event_type"), col("event_id"),
        (col("below") + 1L).cast("int").as("rnk"),
        col("didx").cast("int").as("drnk"),
        round(when(col("n") > 1L,
          col("below").cast("double") / (col("n") - 1L).cast("double"))
          .otherwise(lit(0.0)), 6).as("prnk"),
        round(col("le").cast("double") / col("n").cast("double"), 6).as("cume"),
        when(col("rn") <= cut, ceilDiv(col("rn").cast("long"), big))
          .otherwise(r + ceilDiv(col("rn").cast("long") - cut, small))
          .cast("int").as("quartile"),
        col("rn"))
  }

  val rankBatterySql: String =
    """SELECT event_type, event_id, rnk, drnk, prnk, cume, quartile, rn
      |FROM (
      |  SELECT event_type, event_id,
      |    CAST(RANK() OVER wc AS INT) AS rnk,
      |    CAST(DENSE_RANK() OVER wc AS INT) AS drnk,
      |    ROUND(PERCENT_RANK() OVER wc, 6) AS prnk,
      |    ROUND(CUME_DIST() OVER wc, 6) AS cume,
      |    CAST(NTILE(4) OVER wt AS INT) AS quartile,
      |    CAST(ROW_NUMBER() OVER wt AS INT) AS rn
      |  FROM events
      |  WINDOW wc AS (PARTITION BY event_type ORDER BY FLOOR(value)),
      |         wt AS (PARTITION BY event_type ORDER BY value, event_id))
      |WHERE rn <= 8""".stripMargin

  // ------------------------------------------------------ lateral join
  /** Correlated LATERAL subquery — per-type top-2 by value expressed as
    * the SQL-standard lateral shape (the same text runs on both
    * engines). Catalyst plans the correlated limit as a per-key
    * aggregation, not a cross-product. */
  private def lateralTopKSqlOver(rel: String): String =
    s"""SELECT t.event_type, l.event_id, l.value
       |FROM (SELECT DISTINCT event_type FROM $rel) t,
       |LATERAL (SELECT event_id, value FROM $rel e
       |         WHERE e.event_type = t.event_type
       |         ORDER BY value DESC, event_id LIMIT 2) l""".stripMargin

  def lateralTopK(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_lat")
    spark.sql(lateralTopKSqlOver("events_lat"))
  }

  val lateralTopKSql: String = lateralTopKSqlOver("events")

  // ----------------------------------------------------- grouping sets
  /** The same SQL text runs on BOTH engines (the q_sql_api pattern):
    * GROUPING SETS with GROUPING() null-disambiguation — the third leg
    * of the ROLLUP/CUBE/GROUPING SETS trio. */
  private def groupingSetsSqlOver(rel: String): String =
    s"""SELECT event_type, CAST(user_id % 3 AS INT) AS ub,
       |       CAST(GROUPING(event_type) AS INT) AS g_et,
       |       CAST(GROUPING(user_id % 3) AS INT) AS g_ub,
       |       COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
       |FROM $rel
       |GROUP BY GROUPING SETS ((event_type, user_id % 3), (event_type), ())
       |""".stripMargin

  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_gsets")
    spark.sql(groupingSetsSqlOver("events_gsets"))
  }

  val groupingSetsSql: String = groupingSetsSqlOver("events")

  /** Ordered conversion funnel: first view → first click strictly after
    * it → first purchase strictly after that. Stage counts with the
    * step-to-step conversion rate. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_buy"))
    val wide = v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_buy")))
    wide.select(lit(1).as("stage_idx"), lit("view").as("stage"),
        col("n_view").as("n_users"),
        lit(null).cast("double").as("conv_rate"))
      .unionByName(wide.select(lit(2).as("stage_idx"), lit("click").as("stage"),
        col("n_click").as("n_users"),
        round(col("n_click") / col("n_view"), 6).as("conv_rate")))
      .unionByName(wide.select(lit(3).as("stage_idx"), lit("purchase").as("stage"),
        col("n_buy").as("n_users"),
        round(col("n_buy") / col("n_click"), 6).as("conv_rate")))
  }

  val eventFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1),
      |n AS (SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |             (SELECT COUNT(*) FROM c) AS n_click,
      |             (SELECT COUNT(*) FROM p) AS n_buy)
      |SELECT 1 AS stage_idx, 'view' AS stage, n_view AS n_users,
      |       CAST(NULL AS DOUBLE) AS conv_rate FROM n
      |UNION ALL
      |SELECT 2, 'click', n_click, ROUND(n_click / n_view, 6) FROM n
      |UNION ALL
      |SELECT 3, 'purchase', n_buy, ROUND(n_buy / n_click, 6) FROM n""".stripMargin
}
