package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic lexicon sentiment scorer — the engine's stand-in for the
  * reference's VADER analyzer (`scripts/ingestion/finnhub_news.py:24-51`),
  * implementing the public VADER mechanics: valence lexicon lookup, negation
  * flipping, booster amplification, and the alpha=15 compound normalization,
  * with the reference's exact ±0.05 label thresholds
  * (`scripts/ingestion/finnhub_news.py:41-46`).
  *
  * A Scala UDF (not a Catalyst expression): it runs once per document at
  * ingestion — never in a hot relational path — and a JVM closure over an
  * immutable Map broadcast with the task is exactly as distributable as
  * codegen here. Scores are rounded to 4 dp like the reference
  * (`scripts/ingestion/finnhub_news.py:49`).
  */
object Sentiment {

  /** Small public-domain valence lexicon (VADER-style scale −4…+4). */
  val lexicon: Map[String, Double] = Map(
    "good" -> 1.9, "great" -> 3.1, "excellent" -> 3.2, "best" -> 3.2,
    "strong" -> 2.3, "growth" -> 2.4, "profit" -> 2.5, "gain" -> 2.4,
    "beat" -> 1.9, "up" -> 1.2, "rally" -> 2.1, "record" -> 1.8,
    "win" -> 2.8, "positive" -> 2.3, "success" -> 2.7, "soar" -> 2.9,
    "surge" -> 2.3, "improve" -> 2.0, "fast" -> 1.3, "happy" -> 2.7,
    "bad" -> -2.5, "poor" -> -2.1, "worst" -> -3.1, "weak" -> -1.9,
    "loss" -> -2.4, "drop" -> -1.6, "fall" -> -1.7, "down" -> -1.2,
    "miss" -> -1.6, "crash" -> -2.9, "plunge" -> -2.6, "decline" -> -1.9,
    "negative" -> -2.3, "fail" -> -2.5, "fear" -> -2.2, "risk" -> -1.4,
    "slow" -> -1.1, "fraud" -> -3.0, "debt" -> -1.5, "crisis" -> -3.1)

  val negations: Set[String] = Set("not", "no", "never", "neither", "nor",
    "cannot", "without", "hardly", "barely", "isnt", "wasnt", "dont", "didnt")

  /** Intensity boosters (VADER's ±0.293-style dampening simplified to a
    * multiplicative factor on the next valenced token). */
  val boosters: Map[String, Double] = Map(
    "very" -> 1.3, "extremely" -> 1.5, "really" -> 1.25, "highly" -> 1.3,
    "slightly" -> 0.7, "somewhat" -> 0.8, "barely" -> 0.6)

  /** Compound score in [-1, 1]: sum of adjusted valences normalized by
    * sqrt(x² + alpha), alpha = 15 (the published VADER normalization). */
  def compound(text: String): Double = {
    if (text == null) return 0.0
    val toks = text.toLowerCase.replaceAll("[^a-z0-9' ]", " ")
      .split("\\s+").filter(_.nonEmpty)
    var total = 0.0
    var i = 0
    while (i < toks.length) {
      lexicon.get(toks(i)).foreach { v0 =>
        var v = v0
        if (i > 0) {
          boosters.get(toks(i - 1)).foreach(f => v *= f)
          val negWindow = toks.slice(math.max(0, i - 3), i)
          if (negWindow.exists(negations.contains)) v *= -0.74 // VADER N_SCALAR
        }
        total += v
      }
      i += 1
    }
    val norm = total / math.sqrt(total * total + 15.0)
    math.rint(norm * 10000) / 10000 // round 4 dp, reference F9
  }

  /** Threshold labels at exactly ±0.05 (`scripts/ingestion/finnhub_news.py:41-46`). */
  def label(score: Double): String =
    if (score >= 0.05) "positive"
    else if (score <= -0.05) "negative"
    else "neutral"

  def scoreUdf = udf((t: String) => compound(t))

  /** Score + label every document; then the A6 donut aggregation shape on
    * top (count per label). */
  def sentimentQuery(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.spread(spark, Tables.documents(spark, dir))
      .withColumn("sentiment_score", scoreUdf(col("text")))
      .withColumn("sentiment_label",
        when(col("sentiment_score") >= 0.05, "positive")
          .when(col("sentiment_score") <= -0.05, "negative")
          .otherwise("neutral"))
      .select("doc_id", "sentiment_score", "sentiment_label")

  /** Distribution reports count + ROUND(SUM, 4): scores live on a 4-dp
    * decimal grid, so a rounded SUM sits back ON that grid (far from any
    * rounding boundary in either engine) — an AVG would divide onto an
    * n-dependent grid where exact decimal ties between Spark (HALF_UP on the
    * shortest repr) and DuckDB (rint) become reachable. */
  def sentimentDistributionQuery(spark: SparkSession, dir: String): DataFrame =
    sentimentQuery(spark, dir)
      .groupBy("sentiment_label")
      .agg(count(lit(1)).as("n"), round(sum("sentiment_score"), 4).as("sum_score"))

  // ------------------------------------------------------------ oracle SQL
  /** The compound scorer, re-expressed in DuckDB SQL with the lexicon /
    * booster / negation tables generated from the SAME Scala maps (single
    * source of truth, no drift). Every arithmetic step mirrors [[compound]]
    * in IEEE evaluation order; ×1.0 no-ops are exact so unmatched cases
    * cannot perturb the sum. */
  /** SQL-escape a word literal — the tokenizer deliberately preserves
    * apostrophes, so a future "can't"-style lexicon entry must not break the
    * generated oracle. */
  private def q(w: String): String = "'" + w.replace("'", "''") + "'"

  private def caseLookup(expr: String, m: Map[String, Double]): String =
    "CASE " + expr + m.toSeq.sortBy(_._1)
      .map { case (w, v) => s" WHEN ${q(w)} THEN $v" }.mkString + " ELSE NULL END"

  private def scoredCte: String = {
    val lex = caseLookup("toks[i]", lexicon)
    val boost = caseLookup("toks[i-1]", boosters)
    val negList = negations.toSeq.sorted.map(q).mkString("[", ", ", "]")
    s"""toked AS (
       |  SELECT doc_id,
       |    list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9'' ]', ' ', 'g'), ' '),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |summed AS (
       |  SELECT doc_id,
       |    COALESCE(list_sum(list_transform(range(1, len(toks) + 1), i ->
       |      CASE WHEN ($lex) IS NULL THEN 0.0 ELSE
       |        (($lex)
       |         * (CASE WHEN i > 1 THEN COALESCE(($boost), 1.0) ELSE 1.0 END))
       |        * (CASE WHEN i > 1 AND list_has_any(
       |             list_slice(toks, greatest(1, i - 3), i - 1), $negList)
       |           THEN -0.74 ELSE 1.0 END)
       |      END)), 0.0) AS total
       |  FROM toked),
       |scored AS (
       |  SELECT doc_id,
       |    ROUND(total / sqrt(total * total + 15.0), 4) AS sentiment_score
       |  FROM summed)""".stripMargin
  }

  def sentimentQuerySql: String =
    s"""WITH $scoredCte
       |SELECT doc_id, sentiment_score,
       |  CASE WHEN sentiment_score >= 0.05 THEN 'positive'
       |       WHEN sentiment_score <= -0.05 THEN 'negative'
       |       ELSE 'neutral' END AS sentiment_label
       |FROM scored""".stripMargin

  def sentimentDistributionQuerySql: String =
    s"""WITH $scoredCte
       |SELECT CASE WHEN sentiment_score >= 0.05 THEN 'positive'
       |            WHEN sentiment_score <= -0.05 THEN 'negative'
       |            ELSE 'neutral' END AS sentiment_label,
       |       COUNT(*) AS n, ROUND(SUM(sentiment_score), 4) AS sum_score
       |FROM scored GROUP BY 1""".stripMargin
}
