package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** Market-analytics battery over the event stream — the indicator set the
  * reference's dashboards stop just short of (`kibana/export (1).ndjson`
  * renders the close/differences/pct-change chain; `scripts/prediction/
  * arima_forecast.py:32-108` models the same daily series): rolling
  * volatility, index beta/alpha, max drawdown, Bollinger breaches, moving-
  * average crossovers, RSI. Every query is fully hash-oracled against
  * DuckDB — indicators are pure SQL-window arithmetic, so the oracle
  * re-derives each from the raw events.
  *
  * Shared shape and its 100 TB story: ONE corpus-scale shuffle — the daily
  * close aggregate, map-side-combined on (event_type, day), so the exchange
  * carries per-day partials, never raw ticks. Everything downstream runs on
  * the day-level frame: |types| × |days| rows (metadata scale — for a
  * 10k-symbol, 30-year lake that is ~75M rows, kilobytes per symbol). The
  * indicator windows partition by event_type and order by day, so each
  * symbol's series is one partition-local ordered pass — no symbol ever
  * funnels more than its own trading days through a task, and symbols
  * spread across the cluster. The market-index join (beta) broadcasts a
  * |days|-row frame.
  *
  * Determinism contract (the repo-wide rules): derived doubles rounded to
  * 6 on both sides; day rendered `yyyy-MM-dd` ↔ `strftime('%Y-%m-%d')`;
  * threshold labels decide on unrounded values with a 1e-9 margin on both
  * sides (a knife-edge close sitting WITHIN 1e-9 of a band is the only way
  * the engines could disagree — engine FP summation skew is ~1e-12
  * relative); window completeness is an exact row-count gate (`n_obs`), so
  * partial leading windows never emit. Windows are sized to the testdata's
  * 30-day span (10-day vol/bands, 3/10 crossover, RSI-7) — the production
  * 20/50/200/14 constants are the same plans with different frame bounds.
  */
object FinanceQueries {

  /** Daily close per instrument: the one corpus-scale aggregate every
    * indicator shares (avg value per (event_type, day) — the same daily
    * series the Lens dashboard chain and the forecaster consume).
    *
    * A session artifact: ~20 battery queries hang off this frame, and
    * re-running the tick-scale aggregate per panel is the reference's
    * double-computation bug (SURVEY §4). In production the day-grain frame
    * is a MATERIALIZED VIEW refreshed per ingest — [[FinanceMv]]. */
  private[graft] def dailyClose(spark: SparkSession, dir: String): DataFrame =
    Artifacts.financeDaily(spark, dir) {
      Tables.events(spark, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(avg("value").as("close"))
    }

  private val dailySql: String =
    """daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, AVG(value) AS close
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private def wDay = Window.partitionBy("event_type").orderBy("day")

  /** Daily simple returns on the close series. */
  private def withRet(daily: DataFrame): DataFrame = {
    val prev = lag("close", 1).over(wDay)
    daily.withColumn("ret", (col("close") - prev) / nullif(prev, lit(0.0)))
  }

  private val retsSql: String =
    """rets AS (
      |  SELECT event_type, day, close,
      |         (close - LAG(close) OVER w) / NULLIF(LAG(close) OVER w, 0.0) AS ret
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))""".stripMargin

  private def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd").as("day")

  // ------------------------------------------------------------ OHLC bars
  /** Daily OHLC bars: open/close via `min_by`/`max_by` over the total
    * (ts, event_id) order — ONE map-side-combinable aggregate, no window
    * sort anywhere (the naive first/last-value window would sort every
    * (symbol, day) partition; min_by keeps a single candidate per partial
    * buffer). The DuckDB mirror proves the same bars with deterministic
    * ROW_NUMBER windows — same result, different physics, which is the
    * point: the oracle checks semantics, the plan is ours. */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        round(min_by(col("value"), ord), 6).as("open"),
        round(max("value"), 6).as("high"),
        round(min("value"), 6).as("low"),
        round(max_by(col("value"), ord), 6).as("close"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("turnover"))
      .select(col("event_type"), dayStr(col("day")), col("open"), col("high"),
        col("low"), col("close"), col("n_events"), col("turnover"))
  }

  val ohlcBarsSql: String =
    """WITH e AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id, value
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, day
      |                       ORDER BY ts ASC, event_id ASC) AS ra,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, day
      |                       ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM e)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |       ROUND(MAX(CASE WHEN ra = 1 THEN value END), 6) AS open,
      |       ROUND(MAX(value), 6) AS high,
      |       ROUND(MIN(value), 6) AS low,
      |       ROUND(MAX(CASE WHEN rd = 1 THEN value END), 6) AS close,
      |       COUNT(*) AS n_events,
      |       ROUND(SUM(value), 6) AS turnover
      |FROM r GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------- unpivot
  /** The bars melted to long format (event_type, day, field, v) — the
    * reshape inverse of `q_pivot_daily`. Spark's native `unpivot`
    * (codegen Expand, no shuffle beyond the bar aggregate) ↔ DuckDB
    * UNPIVOT. */
  def ohlcUnpivot(spark: SparkSession, dir: String): DataFrame =
    ohlcBars(spark, dir)
      .unpivot(
        Array(col("event_type"), col("day")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "field", "v")

  val ohlcUnpivotSql: String =
    s"""WITH bars AS ($ohlcBarsSql)
       |SELECT event_type, day, field, v
       |FROM bars UNPIVOT (v FOR field IN (open, high, low, close))""".stripMargin

  // ------------------------------------------------------- weekly bars
  /** The same bar aggregate resampled to the week grain (both engines
    * truncate weeks to Monday) — one grouping-key swap re-targets the
    * whole min_by/max_by plan, which is the point of keeping open/close
    * as ordinary aggregates: resampling never adds a window. */
  def ohlcWeekly(spark: SparkSession, dir: String): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("wk"))
      .agg(
        round(min_by(col("value"), ord), 6).as("open"),
        round(max("value"), 6).as("high"),
        round(min("value"), 6).as("low"),
        round(max_by(col("value"), ord), 6).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
  }

  val ohlcWeeklySql: String =
    """WITH e AS (
      |  SELECT event_type, date_trunc('week', ts) AS wk, ts, event_id, value
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, wk
      |                       ORDER BY ts ASC, event_id ASC) AS ra,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, wk
      |                       ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM e)
      |SELECT event_type, strftime(wk, '%Y-%m-%d') AS week,
      |       ROUND(MAX(CASE WHEN ra = 1 THEN value END), 6) AS open,
      |       ROUND(MAX(value), 6) AS high,
      |       ROUND(MIN(value), 6) AS low,
      |       ROUND(MAX(CASE WHEN rd = 1 THEN value END), 6) AS close,
      |       COUNT(*) AS n_events
      |FROM r GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ volatility
  /** Rolling 10-day sample stddev of daily returns, annualized (×√252,
    * in percent). Emitted only where the window is complete. */
  def volatility(spark: SparkSession, dir: String): DataFrame = {
    val wv = wDay.rowsBetween(-9, 0)
    withRet(dailyClose(spark, dir))
      .withColumn("n_obs", count("ret").over(wv))
      .withColumn("vol", stddev_samp("ret").over(wv))
      .filter(col("n_obs") === 10)
      .select(col("event_type"), dayStr(col("day")),
        round(col("vol") * sqrt(lit(252.0)) * 100, 6).as("ann_vol_pct"))
  }

  val volatilitySql: String =
    s"""WITH $dailySql, $retsSql,
       |v AS (
       |  SELECT event_type, day,
       |         COUNT(ret) OVER wv AS n_obs,
       |         STDDEV_SAMP(ret) OVER wv AS vol
       |  FROM rets
       |  WINDOW wv AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |       ROUND(vol * SQRT(252) * 100, 6) AS ann_vol_pct
       |FROM v WHERE n_obs = 10""".stripMargin

  // ------------------------------------------------------------ beta/alpha
  /** Per-instrument beta, alpha and correlation against the equal-weight
    * market return (the cross-sectional mean of same-day returns). The
    * market frame is |days| rows — broadcast; covar/var/corr are grouped
    * aggregates over the day-level frame. */
  def betaMarket(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val mkt = rr.groupBy("day").agg(avg("ret").as("mkt_ret"))
    val beta = covar_samp(col("ret"), col("mkt_ret")) /
      nullif(var_samp(col("mkt_ret")), lit(0.0))
    rr.join(broadcast(mkt), "day")
      .groupBy("event_type")
      .agg(round(beta, 6).as("beta"),
        round(avg("ret") - beta * avg("mkt_ret"), 6).as("alpha"),
        round(corr(col("ret"), col("mkt_ret")), 6).as("mkt_corr"))
  }

  val betaMarketSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |mkt AS (SELECT day, AVG(ret) AS mkt_ret FROM rr GROUP BY 1)
       |SELECT r.event_type,
       |  ROUND(COVAR_SAMP(r.ret, m.mkt_ret)
       |        / NULLIF(VAR_SAMP(m.mkt_ret), 0.0), 6) AS beta,
       |  ROUND(AVG(r.ret) - COVAR_SAMP(r.ret, m.mkt_ret)
       |        / NULLIF(VAR_SAMP(m.mkt_ret), 0.0) * AVG(m.mkt_ret), 6) AS alpha,
       |  ROUND(CORR(r.ret, m.mkt_ret), 6) AS mkt_corr
       |FROM rr r JOIN mkt m ON r.day = m.day GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- drawdown
  /** Max drawdown per instrument: running peak (cumulative window max),
    * trough depth = min(close/peak − 1). One ordered pass per symbol. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val wc = wDay.rowsBetween(Window.unboundedPreceding, 0)
    dailyClose(spark, dir)
      .withColumn("runmax", max("close").over(wc))
      .groupBy("event_type")
      .agg(round(min(col("close") / col("runmax") - 1.0) * 100, 6)
          .as("max_drawdown_pct"),
        round(max("close"), 6).as("peak_close"))
  }

  val maxDrawdownSql: String =
    s"""WITH $dailySql,
       |r AS (
       |  SELECT event_type, day, close,
       |         MAX(close) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
       |  FROM daily)
       |SELECT event_type,
       |       ROUND(MIN(close / runmax - 1.0) * 100, 6) AS max_drawdown_pct,
       |       ROUND(MAX(close), 6) AS peak_close
       |FROM r GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ bollinger
  /** Bollinger-band breaches: close outside SMA(10) ± 1.5σ, full windows
    * only. The band decision uses unrounded sma/sd with a 1e-9 margin —
    * identical arithmetic on both engines. */
  def bollingerBreach(spark: SparkSession, dir: String): DataFrame = {
    val wv = wDay.rowsBetween(-9, 0)
    val upper = col("sma") + lit(1.5) * col("sd") + lit(1e-9)
    val lower = col("sma") - lit(1.5) * col("sd") - lit(1e-9)
    dailyClose(spark, dir)
      .withColumn("sma", avg("close").over(wv))
      .withColumn("sd", stddev_samp("close").over(wv))
      .withColumn("n_obs", count("close").over(wv))
      .filter(col("n_obs") === 10 && (col("close") > upper || col("close") < lower))
      .select(col("event_type"), dayStr(col("day")),
        round(col("close"), 6).as("close"), round(col("sma"), 6).as("sma"),
        when(col("close") > upper, "above").otherwise("below").as("band"))
  }

  val bollingerBreachSql: String =
    s"""WITH $dailySql,
       |b AS (
       |  SELECT event_type, day, close,
       |         AVG(close) OVER wv AS sma, STDDEV_SAMP(close) OVER wv AS sd,
       |         COUNT(close) OVER wv AS n_obs
       |  FROM daily
       |  WINDOW wv AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |       ROUND(close, 6) AS close, ROUND(sma, 6) AS sma,
       |       CASE WHEN close > sma + 1.5 * sd + 1e-9
       |            THEN 'above' ELSE 'below' END AS band
       |FROM b WHERE n_obs = 10
       |  AND (close > sma + 1.5 * sd + 1e-9 OR close < sma - 1.5 * sd - 1e-9)
       |""".stripMargin

  // ------------------------------------------------------------- crossover
  /** SMA(3)/SMA(10) crossover signals: a day whose above/below state flips
    * vs the previous defined state ('golden' = short crosses above). The
    * state decides on round(sma3−sma10, 6) — the repo's standard
    * rounded-threshold determinism — and is defined only on full long
    * windows. */
  def smaCrossover(spark: SparkSession, dir: String): DataFrame = {
    val w3 = wDay.rowsBetween(-2, 0)
    val w10 = wDay.rowsBetween(-9, 0)
    dailyClose(spark, dir)
      .withColumn("sma3", avg("close").over(w3))
      .withColumn("sma10", avg("close").over(w10))
      .withColumn("n10", count("close").over(w10))
      .withColumn("state",
        when(col("n10") === 10,
          when(round(col("sma3") - col("sma10"), 6) > 0, 1).otherwise(0)))
      .withColumn("prev", lag("state", 1).over(wDay))
      .filter(col("state").isNotNull && col("prev").isNotNull &&
        col("state") =!= col("prev"))
      .select(col("event_type"), dayStr(col("day")),
        when(col("state") === 1, "golden").otherwise("death").as("signal"),
        round(col("sma3"), 6).as("sma3"), round(col("sma10"), 6).as("sma10"))
  }

  val smaCrossoverSql: String =
    s"""WITH $dailySql,
       |s AS (
       |  SELECT event_type, day,
       |         AVG(close) OVER w3 AS sma3, AVG(close) OVER w10 AS sma10,
       |         COUNT(close) OVER w10 AS n10
       |  FROM daily
       |  WINDOW w3 AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |         w10 AS (PARTITION BY event_type ORDER BY day
       |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
       |st AS (
       |  SELECT event_type, day, sma3, sma10,
       |         CASE WHEN n10 = 10 THEN
       |           CASE WHEN ROUND(sma3 - sma10, 6) > 0 THEN 1 ELSE 0 END
       |         END AS state
       |  FROM s),
       |lg AS (
       |  SELECT event_type, day, sma3, sma10, state,
       |         LAG(state) OVER (PARTITION BY event_type ORDER BY day) AS prev
       |  FROM st)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |       CASE WHEN state = 1 THEN 'golden' ELSE 'death' END AS signal,
       |       ROUND(sma3, 6) AS sma3, ROUND(sma10, 6) AS sma10
       |FROM lg WHERE state IS NOT NULL AND prev IS NOT NULL AND state <> prev
       |""".stripMargin

  // ------------------------------------------------------- corr matrix
  /** Pairwise return-correlation matrix (upper triangle, sym_a < sym_b)
    * over aligned trading days. The pair relation is quadratic in
    * |instruments| BY CONTRACT (a correlation matrix is), but linear in
    * ticks: it self-joins the DAY-LEVEL return frame, never raw events —
    * at lake scale that is (watchlist² × days) metadata rows downstream
    * of the one corpus-scale daily aggregate. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
      .select(col("event_type"), col("day"), col("ret"))
    val a = rr.toDF("sym_a", "day", "ret_a")
    val b = rr.toDF("sym_b", "day", "ret_b")
    a.join(b, Seq("day")).filter(col("sym_a") < col("sym_b"))
      .groupBy("sym_a", "sym_b")
      .agg(round(corr(col("ret_a"), col("ret_b")), 6).as("ret_corr"),
        count(lit(1)).as("n_days"))
  }

  val corrMatrixSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL)
       |SELECT a.event_type AS sym_a, b.event_type AS sym_b,
       |       ROUND(CORR(a.ret, b.ret), 6) AS ret_corr, COUNT(*) AS n_days
       |FROM rr a JOIN rr b ON a.day = b.day AND a.event_type < b.event_type
       |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------- histogram
  /** Equal-width value histogram per instrument: bucket = ⌊value/50⌋
    * capped at 7 (the open-ended tail bucket). Pure map-side arithmetic
    * + one combinable count — the distribution panel next to the bars.
    * FLOOR before the int cast on both sides (DuckDB CAST rounds,
    * Spark truncates — floor-first makes the cast exact). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        least(floor(col("value") / 50.0).cast("int"), lit(7)).as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))

  val valueHistogramSql: String =
    """WITH b AS (
      |  SELECT event_type, LEAST(CAST(FLOOR(value / 50.0) AS INT), 7) AS bucket
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, bucket, COUNT(*) AS n
      |FROM b GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- autocorr
  /** Lag-1 autocorrelation of daily returns per instrument (the
    * mean-reversion/momentum diagnostic): Pearson corr of (ret, prev
    * ret) over the aligned day pairs. Both engines share the same corr
    * definition, so the oracle compares directly. */
  def autocorr(spark: SparkSession, dir: String): DataFrame =
    withRet(dailyClose(spark, dir))
      .withColumn("prev_ret", lag("ret", 1).over(wDay))
      .filter(col("ret").isNotNull && col("prev_ret").isNotNull)
      .groupBy("event_type")
      .agg(round(corr(col("ret"), col("prev_ret")), 6).as("acf1"),
        count(lit(1)).as("n_pairs"))

  val autocorrSql: String =
    s"""WITH $dailySql, $retsSql,
       |lagged AS (
       |  SELECT event_type, ret,
       |         LAG(ret) OVER (PARTITION BY event_type ORDER BY day) AS prev_ret
       |  FROM rets)
       |SELECT event_type, ROUND(CORR(ret, prev_ret), 6) AS acf1,
       |       COUNT(*) AS n_pairs
       |FROM lagged WHERE ret IS NOT NULL AND prev_ret IS NOT NULL
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------- moments battery
  /** Return-distribution shape per instrument: population skewness g1 =
    * m3/m2^1.5 and excess kurtosis g2 = m4/m2² − 3 from EXPLICIT central
    * moments (mean broadcast back, then Σ(ret−μ)^k) — the engines'
    * built-in skewness/kurtosis disagree on bias correction, so the
    * oracle re-derives the same estimator instead of trusting either. */
  def momentsBattery(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val mu = rr.groupBy("event_type").agg(avg("ret").as("mu"))
    val d = col("ret") - col("mu")
    rr.join(broadcast(mu), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        avg(d * d).as("m2"), avg(d * d * d).as("m3"),
        avg(d * d * d * d).as("m4"))
      .select(col("event_type"), col("n"),
        round(sqrt(col("m2")) * 100, 6).as("sd_pct"),
        round(col("m3") / pow(col("m2"), 1.5), 6).as("skew_g1"),
        round(col("m4") / (col("m2") * col("m2")) - 3.0, 6).as("kurt_g2"))
  }

  val momentsBatterySql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |mu AS (SELECT event_type, AVG(ret) AS mu FROM rr GROUP BY 1),
       |m AS (
       |  SELECT r.event_type, COUNT(*) AS n,
       |         AVG((r.ret - u.mu) * (r.ret - u.mu)) AS m2,
       |         AVG((r.ret - u.mu) * (r.ret - u.mu) * (r.ret - u.mu)) AS m3,
       |         AVG((r.ret - u.mu) * (r.ret - u.mu) * (r.ret - u.mu) * (r.ret - u.mu)) AS m4
       |  FROM rr r JOIN mu u ON r.event_type = u.event_type
       |  GROUP BY 1)
       |SELECT event_type, n,
       |       ROUND(SQRT(m2) * 100, 6) AS sd_pct,
       |       ROUND(m3 / POWER(m2, 1.5), 6) AS skew_g1,
       |       ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurt_g2
       |FROM m""".stripMargin

  // ------------------------------------------------------ daily report
  /** The composed end-of-day report — the battery's `q_lens_dashboard`:
    * close, return, SMA(10), annualized vol, RSI(7), Bollinger z-score
    * and the MAD regime flag in ONE frame per (instrument, day). One
    * corpus-scale aggregate, one window chain over the day grain, two
    * broadcast percentile joins — composing the indicators does not add
    * shuffles, which is the point of keeping them on a shared daily
    * frame. Full-window days only; fully hash-oracled. */
  def dailyReport(spark: SparkSession, dir: String): DataFrame = {
    val w10 = wDay.rowsBetween(-9, 0)
    val w7 = wDay.rowsBetween(-6, 0)
    val base = withRet(dailyClose(spark, dir))
      .withColumn("sma10", avg("close").over(w10))
      .withColumn("sd10", stddev_samp("close").over(w10))
      .withColumn("n10", count("close").over(w10))
      .withColumn("nret", count("ret").over(w10))
      .withColumn("vol", stddev_samp("ret").over(w10))
      .withColumn("delta", col("close") - lag("close", 1).over(wDay))
      .withColumn("avg_gain", avg(greatest(col("delta"), lit(0.0))).over(w7))
      .withColumn("avg_loss", avg(greatest(-col("delta"), lit(0.0))).over(w7))
      .withColumn("n7", count("delta").over(w7))
      .filter(col("ret").isNotNull)
    val med = base.groupBy("event_type")
      .agg(expr("percentile(ret, 0.5)").as("med"))
    val dev = base.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("ret") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(d, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("n10") === 10 && col("nret") === 10 && col("n7") === 7)
      .select(col("event_type"), dayStr(col("day")),
        round(col("close"), 6).as("close"),
        round(col("ret") * 100, 6).as("ret_pct"),
        round(col("sma10"), 6).as("sma10"),
        round(col("vol") * sqrt(lit(252.0)) * 100, 6).as("ann_vol_pct"),
        round(lit(100.0) * col("avg_gain") /
          nullif(col("avg_gain") + col("avg_loss"), lit(0.0)), 6).as("rsi7"),
        round((col("close") - col("sma10")) /
          nullif(lit(2.0) * col("sd10"), lit(0.0)), 6).as("bb_z"),
        when(col("d") > lit(2.5) * col("mad") + lit(1e-9), "anomaly")
          .otherwise("normal").as("regime"))
  }

  val dailyReportSql: String =
    s"""WITH $dailySql, $retsSql,
       |d0 AS (
       |  SELECT event_type, day, close, ret,
       |         close - LAG(close) OVER (PARTITION BY event_type
       |                                  ORDER BY day) AS delta
       |  FROM rets),
       |base AS (
       |  SELECT event_type, day, close, ret,
       |         AVG(close) OVER w10 AS sma10,
       |         STDDEV_SAMP(close) OVER w10 AS sd10,
       |         COUNT(close) OVER w10 AS n10,
       |         COUNT(ret) OVER w10 AS nret,
       |         STDDEV_SAMP(ret) OVER w10 AS vol,
       |         AVG(GREATEST(delta, 0.0)) OVER w7 AS avg_gain,
       |         AVG(GREATEST(-delta, 0.0)) OVER w7 AS avg_loss,
       |         COUNT(delta) OVER w7 AS n7
       |  FROM d0
       |  WINDOW w10 AS (PARTITION BY event_type ORDER BY day
       |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       |         w7 AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
       |b2 AS (SELECT * FROM base WHERE ret IS NOT NULL),
       |med AS (SELECT event_type, quantile_cont(ret, 0.5) AS med
       |        FROM b2 GROUP BY 1),
       |dev AS (SELECT b.*, ABS(b.ret - m.med) AS d
       |        FROM b2 b JOIN med m ON b.event_type = m.event_type),
       |mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad
       |        FROM dev GROUP BY 1)
       |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       |       ROUND(d.close, 6) AS close,
       |       ROUND(d.ret * 100, 6) AS ret_pct,
       |       ROUND(d.sma10, 6) AS sma10,
       |       ROUND(d.vol * SQRT(252) * 100, 6) AS ann_vol_pct,
       |       ROUND(100.0 * d.avg_gain
       |             / NULLIF(d.avg_gain + d.avg_loss, 0.0), 6) AS rsi7,
       |       ROUND((d.close - d.sma10) / NULLIF(2.0 * d.sd10, 0.0), 6) AS bb_z,
       |       CASE WHEN d.d > 2.5 * m.mad + 1e-9
       |            THEN 'anomaly' ELSE 'normal' END AS regime
       |FROM dev d JOIN mad m ON d.event_type = m.event_type
       |WHERE d.n10 = 10 AND d.nret = 10 AND d.n7 = 7""".stripMargin

  // ------------------------------------------------------------ VaR/ES
  /** Historical 95% value-at-risk and expected shortfall per instrument:
    * VaR = the 5th percentile of daily returns, ES = mean return in the
    * tail at-or-below it. Exact `percentile` on the day-level frame (the
    * `approx_percentile` swap is the 100 TB path); the tail membership
    * compares raw returns against the engine-shared interpolated cut. */
  def valueAtRisk(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val v = rr.groupBy("event_type")
      .agg(expr("percentile(ret, 0.05)").as("var_raw"))
    rr.join(broadcast(v), "event_type")
      .groupBy("event_type")
      .agg(round(min("var_raw") * 100, 6).as("var95_pct"),
        round(avg(when(col("ret") <= col("var_raw"), col("ret"))) * 100, 6)
          .as("es95_pct"),
        sum(when(col("ret") <= col("var_raw"), 1L).otherwise(0L)).as("n_tail"))
  }

  val valueAtRiskSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |v AS (SELECT event_type, quantile_cont(ret, 0.05) AS var_raw
       |      FROM rr GROUP BY 1)
       |SELECT r.event_type,
       |       ROUND(MIN(v.var_raw) * 100, 6) AS var95_pct,
       |       ROUND(AVG(CASE WHEN r.ret <= v.var_raw THEN r.ret END) * 100, 6)
       |         AS es95_pct,
       |       CAST(SUM(CASE WHEN r.ret <= v.var_raw THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_tail
       |FROM rr r JOIN v ON r.event_type = v.event_type
       |GROUP BY 1""".stripMargin

  // ----------------------------------------------------- sharpe/sortino
  /** Risk-adjusted return pair: annualized Sharpe (mean/σ·√252) and
    * Sortino (mean over DOWNSIDE deviation — √(mean of min(ret,0)²),
    * the zero-target form). Grouped aggregates on the day-level frame. */
  def sharpeSortino(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val down = least(col("ret"), lit(0.0))
    rr.groupBy("event_type")
      .agg(
        round(avg("ret") / nullif(stddev_samp("ret"), lit(0.0))
          * sqrt(lit(252.0)), 6).as("sharpe_ann"),
        round(avg("ret") / nullif(sqrt(avg(down * down)), lit(0.0))
          * sqrt(lit(252.0)), 6).as("sortino_ann"),
        sum(when(col("ret") < 0, 1L).otherwise(0L)).as("n_down"),
        count(lit(1)).as("n_days"))
  }

  val sharpeSortinoSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL)
       |SELECT event_type,
       |  ROUND(AVG(ret) / NULLIF(STDDEV_SAMP(ret), 0.0) * SQRT(252), 6)
       |    AS sharpe_ann,
       |  ROUND(AVG(ret) / NULLIF(SQRT(AVG(LEAST(ret, 0.0) * LEAST(ret, 0.0))), 0.0)
       |        * SQRT(252), 6) AS sortino_ann,
       |  CAST(SUM(CASE WHEN ret < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       |  COUNT(*) AS n_days
       |FROM rr GROUP BY 1""".stripMargin

  // --------------------------------------------------------- winsorize
  /** Winsorized return statistics: clip at the exact p05/p95 cuts, then
    * compare the robust mean/stddev against the raw ones — the outlier-
    * damped estimator pair an allocation model actually feeds on. Cuts
    * are per-instrument broadcasts over the day-level frame. */
  def winsorized(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val cuts = rr.groupBy("event_type")
      .agg(expr("percentile(ret, 0.05)").as("lo"),
        expr("percentile(ret, 0.95)").as("hi"))
    rr.join(broadcast(cuts), "event_type")
      .withColumn("w", least(greatest(col("ret"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(round(avg("ret") * 100, 6).as("raw_mean_pct"),
        round(avg("w") * 100, 6).as("wins_mean_pct"),
        round(stddev_samp("ret") * 100, 6).as("raw_sd_pct"),
        round(stddev_samp("w") * 100, 6).as("wins_sd_pct"),
        sum(when(col("ret") =!= col("w"), 1L).otherwise(0L)).as("n_clipped"))
  }

  val winsorizedSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |cuts AS (SELECT event_type, quantile_cont(ret, 0.05) AS lo,
       |                quantile_cont(ret, 0.95) AS hi
       |         FROM rr GROUP BY 1),
       |w AS (SELECT r.event_type, r.ret,
       |             LEAST(GREATEST(r.ret, c.lo), c.hi) AS w
       |      FROM rr r JOIN cuts c ON r.event_type = c.event_type)
       |SELECT event_type,
       |       ROUND(AVG(ret) * 100, 6) AS raw_mean_pct,
       |       ROUND(AVG(w) * 100, 6) AS wins_mean_pct,
       |       ROUND(STDDEV_SAMP(ret) * 100, 6) AS raw_sd_pct,
       |       ROUND(STDDEV_SAMP(w) * 100, 6) AS wins_sd_pct,
       |       CAST(SUM(CASE WHEN ret <> w THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clipped
       |FROM w GROUP BY 1""".stripMargin

  // ------------------------------------------------ underwater streaks
  /** Longest underwater spell per instrument (consecutive days below the
    * running peak) — the drawdown-DURATION companion to
    * [[maxDrawdown]]'s depth. Gaps-and-islands: island id = (row number
    * over all days) − (row number over underwater days), constant within
    * each consecutive run. Underwater compares close < runmax on
    * bit-identical doubles (runmax is the max of the same values), so
    * the flag cannot drift between engines. All windows run on the
    * day-level frame. */
  def underwaterStreaks(spark: SparkSession, dir: String): DataFrame = {
    val wc = wDay.rowsBetween(Window.unboundedPreceding, 0)
    val marked = dailyClose(spark, dir)
      .withColumn("runmax", max("close").over(wc))
      .withColumn("rn_all", row_number().over(wDay))
      .filter(col("close") < col("runmax"))
      .withColumn("rn_under", row_number().over(wDay))
      .withColumn("island", col("rn_all") - col("rn_under"))
    val spells = marked.groupBy("event_type", "island")
      .agg(count(lit(1)).as("len"))
    spells.groupBy("event_type")
      .agg(max("len").as("max_underwater_days"),
        sum("len").as("n_underwater_days"),
        count(lit(1)).as("n_spells"))
  }

  val underwaterStreaksSql: String =
    s"""WITH $dailySql,
       |r AS (
       |  SELECT event_type, day, close,
       |         MAX(close) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn_all
       |  FROM daily),
       |u AS (
       |  SELECT event_type, day, rn_all,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn_under
       |  FROM r WHERE close < runmax),
       |spells AS (
       |  SELECT event_type, rn_all - rn_under AS island, COUNT(*) AS len
       |  FROM u GROUP BY 1, 2)
       |SELECT event_type, MAX(len) AS max_underwater_days,
       |       CAST(SUM(len) AS BIGINT) AS n_underwater_days,
       |       COUNT(*) AS n_spells
       |FROM spells GROUP BY 1""".stripMargin

  // ------------------------------------------------- HHI concentration
  /** Daily turnover concentration: Herfindahl–Hirschman index of the
    * per-instrument turnover shares each day (1/|instruments| = even,
    * 1 = single-name day). One (symbol, day) aggregate; the per-day
    * normalizer is a |days|-row broadcast. */
  def turnoverHhi(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(sum("value").as("turnover"))
    val tot = per.groupBy("day").agg(sum("turnover").as("day_total"),
      count(lit(1)).as("n_types"))
    per.join(broadcast(tot), "day")
      .withColumn("share", col("turnover") / col("day_total"))
      .groupBy("day")
      .agg(round(sum(col("share") * col("share")), 6).as("hhi"),
        max("n_types").as("n_types"))
      .select(dayStr(col("day")), col("hhi"), col("n_types"))
  }

  val turnoverHhiSql: String =
    """WITH per AS (
      |  SELECT date_trunc('day', ts) AS day, event_type,
      |         SUM(value) AS turnover
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT day, SUM(turnover) AS day_total, COUNT(*) AS n_types
      |        FROM per GROUP BY 1)
      |SELECT strftime(p.day, '%Y-%m-%d') AS day,
      |       ROUND(SUM((p.turnover / t.day_total) * (p.turnover / t.day_total)), 6) AS hhi,
      |       MAX(t.n_types) AS n_types
      |FROM per p JOIN tot t ON p.day = t.day
      |GROUP BY 1""".stripMargin

  // ----------------------------------------------------- MAD anomalies
  /** Robust outlier days: |ret − median| > 2.5 × MAD (median absolute
    * deviation) per instrument — the estimator a fat-tailed return series
    * wants (mean/σ get dragged by the very outliers they're hunting).
    * Medians run on the day-level return frame (exact `percentile`, ~29
    * values per instrument here; the approx_percentile swap is the
    * documented 100 TB path, cf. `q_percentiles_approx`). */
  def madAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val med = rr.groupBy("event_type")
      .agg(expr("percentile(ret, 0.5)").as("med"))
    val dev = rr.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("ret") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(d, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("d") > lit(2.5) * col("mad") + lit(1e-9))
      .select(col("event_type"), dayStr(col("day")),
        round(col("ret"), 6).as("ret"),
        round(col("d") / nullif(col("mad"), lit(0.0)), 6).as("mad_z"))
  }

  val madAnomaliesSql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |med AS (SELECT event_type, quantile_cont(ret, 0.5) AS med
       |        FROM rr GROUP BY 1),
       |dev AS (SELECT r.event_type, r.day, r.ret, ABS(r.ret - m.med) AS d
       |        FROM rr r JOIN med m ON r.event_type = m.event_type),
       |mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad
       |        FROM dev GROUP BY 1)
       |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       |       ROUND(d.ret, 6) AS ret,
       |       ROUND(d.d / NULLIF(m.mad, 0.0), 6) AS mad_z
       |FROM dev d JOIN mad m ON d.event_type = m.event_type
       |WHERE d.d > 2.5 * m.mad + 1e-9""".stripMargin

  // ------------------------------------------------- weekday seasonality
  /** Day-of-week return seasonality: mean return per (instrument,
    * weekday) with the deviation from the instrument's overall mean.
    * Weekday is ISO Monday=0 on both sides (Spark `weekday` ↔ DuckDB
    * `isodow − 1` — the engines' default `dayofweek` origins differ). */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val rr = withRet(dailyClose(spark, dir)).filter(col("ret").isNotNull)
    val byd = rr.groupBy(col("event_type"), expr("weekday(day)").as("wd"))
      .agg(count(lit(1)).as("n_days"), avg("ret").as("avg_ret"))
    val tot = rr.groupBy("event_type").agg(avg("ret").as("mean_ret"))
    byd.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("wd"), col("n_days"),
        round(col("avg_ret"), 6).as("avg_ret"),
        round(col("avg_ret") - col("mean_ret"), 6).as("dev_from_mean"))
  }

  val dowSeasonalitySql: String =
    s"""WITH $dailySql, $retsSql,
       |rr AS (SELECT * FROM rets WHERE ret IS NOT NULL),
       |byd AS (SELECT event_type, isodow(day) - 1 AS wd, COUNT(*) AS n_days,
       |               AVG(ret) AS avg_ret
       |        FROM rr GROUP BY 1, 2),
       |tot AS (SELECT event_type, AVG(ret) AS mean_ret FROM rr GROUP BY 1)
       |SELECT b.event_type, CAST(b.wd AS INT) AS wd, b.n_days,
       |       ROUND(b.avg_ret, 6) AS avg_ret,
       |       ROUND(b.avg_ret - t.mean_ret, 6) AS dev_from_mean
       |FROM byd b JOIN tot t ON b.event_type = t.event_type""".stripMargin

  // ------------------------------------------------------------------ RSI
  /** RSI(7), simple-average form: 100·ḡ/(ḡ+l̄) over the trailing 7 price
    * deltas (algebraically 100 − 100/(1+RS), finite when l̄=0; both-zero
    * windows yield null via NULLIF). The Wilder-smoothed variant is a
    * recursive filter — the forecaster's `flatMapGroups` is the home for
    * that shape; this window form is the SQL-expressible twin. */
  def rsi(spark: SparkSession, dir: String): DataFrame = {
    val w7 = wDay.rowsBetween(-6, 0)
    dailyClose(spark, dir)
      .withColumn("delta", col("close") - lag("close", 1).over(wDay))
      .withColumn("avg_gain", avg(greatest(col("delta"), lit(0.0))).over(w7))
      .withColumn("avg_loss", avg(greatest(-col("delta"), lit(0.0))).over(w7))
      .withColumn("n_obs", count("delta").over(w7))
      .filter(col("n_obs") === 7)
      .select(col("event_type"), dayStr(col("day")),
        round(lit(100.0) * col("avg_gain") /
          nullif(col("avg_gain") + col("avg_loss"), lit(0.0)), 6).as("rsi7"))
  }

  val rsiSql: String =
    s"""WITH $dailySql,
       |d AS (
       |  SELECT event_type, day, close - LAG(close) OVER w AS delta
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |g AS (
       |  SELECT event_type, day,
       |         AVG(GREATEST(delta, 0.0)) OVER w7 AS avg_gain,
       |         AVG(GREATEST(-delta, 0.0)) OVER w7 AS avg_loss,
       |         COUNT(delta) OVER w7 AS n_obs
       |  FROM d
       |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |       ROUND(100.0 * avg_gain / NULLIF(avg_gain + avg_loss, 0.0), 6) AS rsi7
       |FROM g WHERE n_obs = 7""".stripMargin
}
