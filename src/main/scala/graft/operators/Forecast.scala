package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.time.{DayOfWeek, LocalDate}
import graft.Artifacts

/** Per-key time-series forecasting — the reference's `predict_arima` stage
  * (`scripts/prediction/arima_forecast.py:32-108`) re-expressed as a typed
  * `groupByKey.flatMapGroups`: data-parallel across series keys, with all
  * single-node math inside the group function (SURVEY §3.4's Spark-native
  * redesign).
  *
  * The statsmodels SARIMAX MLE is not portable to the JVM; the CONTRACT is
  * preserved exactly (SURVEY §7.4.1):
  *  - train on the last ≤252 observations, skip series with <60 rows
  *    (`arima_forecast.py:39-44`);
  *  - horizon = 30 business days (`arima_forecast.py:71-73`);
  *  - exogenous sentiment = mean of the last 30 days, 0.0-filled
  *    (`arima_forecast.py:61-63,47`);
  *  - output = 90 `actual` rows ∪ 30 `forecast` rows per key with a 95% CI
  *    band, `confidence_lower ≤ predicted_close ≤ confidence_upper`
  *    (`arima_forecast.py:78-99`).
  *
  * The estimator is deterministic OLS on (trend, lag-1, lag-5 seasonal,
  * sentiment-exog) — a linear cousin of SARIMAX(2,1,2)(1,1,1,5) with the
  * same feature intent — and a residual-σ CI that widens with √h like an
  * ARIMA forecast band.
  */
object Forecast {

  case class SeriesPoint(key: String, date: String, close: Double, sentiment: Double)
  case class ForecastRow(symbol: String, date: String, predicted_close: Double,
      confidence_lower: Double, confidence_upper: Double,
      sentiment_score: Double, `type`: String)

  val TrainWindow = 252
  val MinRows = 60
  val ActualRows = 90
  val Horizon = 30

  /** Next n business days strictly after `start` (pandas freq="B"). */
  def businessDaysAfter(start: LocalDate, n: Int): Seq[LocalDate] = {
    Iterator.iterate(start)(_.plusDays(1)).drop(1)
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toSeq
  }

  /** Deterministic per-group forecaster: OLS on [1, t, y_{t-1}, y_{t-5},
    * exog] via normal equations (tiny 5×5 solve), residual σ for the CI. */
  def forecastGroup(key: String, rows: Iterator[SeriesPoint]): Iterator[ForecastRow] = {
    val sorted = rows.toArray.sortBy(_.date)
    if (sorted.length < MinRows) return Iterator.empty
    val train = sorted.takeRight(TrainWindow)
    val y = train.map(_.close)
    val exogMean = {
      val last30 = train.takeRight(30).map(_.sentiment)
      if (last30.isEmpty) 0.0 else last30.sum / last30.length
    }

    // features for t >= 5: intercept, t, y[t-1], y[t-5], sentiment[t]
    val p = 5
    val n = y.length - 5
    val xs = Array.tabulate(n) { i =>
      val t = i + 5
      Array(1.0, t.toDouble, y(t - 1), y(t - 5), train(t).sentiment)
    }
    val ys = Array.tabulate(n)(i => y(i + 5))
    val beta = olsSolve(xs, ys, p)
    val fitted = xs.map(x => dotp(x, beta))
    val resid = ys.zip(fitted).map { case (a, b) => a - b }
    val sigma = math.sqrt(resid.map(r => r * r).sum / math.max(1, n - p))

    // actual tail (lower = upper = predicted = close, type=actual;
    // arima_forecast.py:78-88)
    val actuals = sorted.takeRight(ActualRows).map { pt =>
      ForecastRow(key, pt.date, r4(pt.close), r4(pt.close), r4(pt.close),
        r4(pt.sentiment), "actual")
    }

    // recursive multi-step forecast over 30 business days
    val histDates = sorted.map(_.date)
    val lastDate = LocalDate.parse(histDates.last)
    val futureDates = businessDaysAfter(lastDate, Horizon)
    val buf = y.toBuffer
    val t0 = y.length
    val forecasts = futureDates.zipWithIndex.map { case (d, h) =>
      val t = t0 + h
      val x = Array(1.0, t.toDouble, buf(t - 1), buf(t - 5), exogMean)
      val pred = dotp(x, beta)
      buf += pred
      val band = 1.96 * sigma * math.sqrt((h + 1).toDouble)
      ForecastRow(key, d.toString, r4(pred), r4(pred - band), r4(pred + band),
        r4(exogMean), "forecast")
    }
    (actuals ++ forecasts).iterator
  }

  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  private def dotp(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** OLS via normal equations with ridge jitter for singular guards;
    * Gaussian elimination on the p×p system. */
  private def olsSolve(xs: Array[Array[Double]], ys: Array[Double], p: Int): Array[Double] = {
    val xtx = Array.ofDim[Double](p, p)
    val xty = new Array[Double](p)
    for (r <- xs.indices) {
      val x = xs(r)
      for (i <- 0 until p) {
        xty(i) += x(i) * ys(r)
        for (j <- 0 until p) xtx(i)(j) += x(i) * x(j)
      }
    }
    for (i <- 0 until p) xtx(i)(i) += 1e-8 // ridge guard
    // gaussian elimination with partial pivot
    val a = Array.tabulate(p)(i => xtx(i) :+ xty(i))
    for (c <- 0 until p) {
      var piv = c
      for (r <- c + 1 until p) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      val tmp = a(c); a(c) = a(piv); a(piv) = tmp
      val d = a(c)(c)
      if (math.abs(d) > 1e-12) {
        for (j <- c to p) a(c)(j) /= d
        for (r <- 0 until p if r != c) {
          val f = a(r)(c)
          for (j <- c to p) a(r)(j) -= f * a(c)(j)
        }
      }
    }
    Array.tabulate(p)(i => a(i)(p))
  }

  /** Build per-supplier daily price series from lineitem (the testdata
    * analogue of per-symbol close prices) and forecast each group.
    * `groupByKey` shuffles once on the series key; group functions run
    * data-parallel across executors.
    * A session artifact: the forecast and its bounds twin share one fit. */
  def forecastQuery(spark: SparkSession, dir: String): DataFrame =
    Artifacts.forecastTable(spark, dir)(forecastQueryImpl(spark, dir))

  private def forecastQueryImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("date"))
      .agg(avg("l_extendedprice").as("close"))
      .select(
        col("l_suppkey").cast("string").as("key"),
        col("date"),
        col("close"),
        lit(0.0).as("sentiment")) // J3: exact-date align + 0.0 fill
      .as[SeriesPoint]
    series
      .groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[SeriesPoint]) => forecastGroup(k, it))
      .toDF()
  }
}
