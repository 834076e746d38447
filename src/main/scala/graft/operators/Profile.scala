package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** One-pass table profiler — the `ANALYZE TABLE`-style statistics sweep a
  * lake engine runs before planning: per-column non-null count, exact
  * distinct count, min/max, and mean, emitted as one row per column.
  *
  * The reference's ES index mappings serve this role implicitly (every
  * field carries doc_count / cardinality via ES aggregations,
  * `docs/DOCUMENTATION_TECHNIQUE.md` index sections); here it is a single
  * declarative aggregate the optimizer can fuse.
  *
  * Scale shape: ONE wide aggregate pass — all per-column aggregates ride
  * the same scan, partial-aggregated map-side, merged in a single-group
  * reduce (bytes proportional to #columns, not rows). The one deliberate
  * cost: exact `countDistinct` over k columns makes Catalyst plan an
  * Expand (k+1 projections of every row — k× the shuffle volume of a
  * plain agg). That is the price of EXACT distincts and it is the
  * documented swap point: at 100 TB replace `countDistinct` with
  * `approx_count_distinct` and the Expand collapses back to one mergeable
  * HLL sketch per column in a single pass — the exact/approx trade this
  * repo already quantifies in q_cardinality_bounds. The unpivot to
  * one-row-per-column happens AFTER aggregation on a 1-row frame (free).
  *
  * Output schema is engine-neutral: numeric min/max/avg as rounded
  * doubles, string min/max as strings, so no double→string formatting has
  * to match across engines.
  */
object Profile {

  private val numericCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val stringCols  = Seq("l_returnflag", "l_linestatus")

  /** MEMOIZED per (session, dir) since r16: the exact profile is the
    * per-ingest ANALYZE artifact, and it now has two registered consumers
    * — q_profile_table reads it verbatim and the verified approx form
    * ([[profileLineitemApproxVerified]]) certifies its sketches against
    * it — so it is warmed (the cardinality-stats precedent). */
  def profileLineitem(spark: SparkSession, dir: String): DataFrame =
    Artifacts.exactProfile(spark, dir)(profileLineitemImpl(spark, dir))

  /** The un-memoized build plan — `private[graft]` so ProfileSpec pins
    * the ANALYZE pass's shape directly (the cached wrapper's printed AQE
    * tree repeats the scan in Initial/Final variants and defeats
    * scan-counting). */
  private[graft] def profileLineitemImpl(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // The wide pass carries ONLY fixed-width aggregate buffers (longs /
    // doubles). min/max over STRING columns have variable-width buffers,
    // which HashAggregateExec cannot hold in its UnsafeRow hash map — one
    // string min in this list demotes the WHOLE mixed-distinct aggregate
    // to SortAggregate, fully sorting the (k+1)-way Expand output twice
    // (measured 11 s vs 0.1 s warm at sf0.1). The two string min/max ride
    // a second, Expand-free aggregate over just the pruned string columns
    // (SortAggregate with no grouping key = one sequential pass, no sort),
    // and the two 1-row frames meet in a free 1×1 cross join.
    val aggsHash: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        (numericCols ++ stringCols).flatMap { c =>
          Seq(count(col(c)).as(s"${c}__nn"),
            countDistinct(col(c)).as(s"${c}__nd"))
        } ++
        numericCols.flatMap { c =>
          Seq(round(min(col(c)), 6).as(s"${c}__min"),
            round(max(col(c)), 6).as(s"${c}__max"),
            round(avg(col(c)), 6).as(s"${c}__avg"))
        }
    val aggsStr: Seq[Column] = stringCols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__smin"),
        max(col(c)).as(s"${c}__smax"))
    }
    val one = li.agg(aggsHash.head, aggsHash.tail: _*)
      .crossJoin(li.agg(aggsStr.head, aggsStr.tail: _*))
    unpivot(one)
  }

  /** The post-aggregate unpivot to one-row-per-column, on a 1-row frame
    * (free) — shared by the exact and approx profilers so the output
    * schema cannot fork. */
  private def unpivot(one: DataFrame): DataFrame = {
    val rows: Seq[Column] =
      numericCols.map { c =>
        struct(lit(c).as("column_name"), col("n_rows"),
          col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_num"), col(s"${c}__max").as("max_num"),
          col(s"${c}__avg").as("avg_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
      } ++ stringCols.map { c =>
        struct(lit(c).as("column_name"), col("n_rows"),
          col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          lit(null).cast("double").as("avg_num"),
          col(s"${c}__smin").as("min_str"), col(s"${c}__smax").as("max_str"))
      }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** The 100 TB form of [[profileLineitem]] — `approx_count_distinct`
    * (HyperLogLog++, Heule et al. 2013) in place of exact distincts. The
    * exact profiler's one deliberate cost is the (k+1)-way Expand the
    * distinct rewrite plans (k× the shuffle volume); the HLL sketch is a
    * fixed-width mergeable buffer, so ALL aggregates — including the six
    * n_distinct — ride ONE map-side-combined HashAggregate pass with no
    * Expand at all (ProfileSpec pins the plan). rsd = 0.05 default ⇒
    * ±3σ ≈ 15% of exact, the bound the spec asserts per column against
    * [[profileLineitem]] — the same exact/approx bracketing contract as
    * q_cardinality_bounds. Registered rows-only: DuckDB's approx_distinct
    * uses a different sketch, so no cross-engine hash oracle exists by
    * construction; correctness is the bracket. */
  def profileLineitemApprox(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass (r19): the exact profiler splits its string min/max into a
    // second scan because a string buffer in the same aggregate would
    // demote the (k+1)-way Expand output to a SortAggregate (the measured
    // 11 s). The approx pass has NO Expand — HLL sketches are fixed-width
    // mergeable buffers — so the string min/max can ride the SAME
    // aggregate: the operator becomes one ObjectHashAggregate fold over
    // one scan instead of two sequential full scans through a 1×1 cross
    // join (lineitem ships as one file ⇒ each scan was a serial task; the
    // second pass was pure added wall). Same aggregates, same values —
    // global aggregation, no grouping, identical per-partition fold
    // order. ProfileSpec pins the Expand-free plan and the 3σ bracket.
    val li = Tables.lineitem(spark, dir)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        (numericCols ++ stringCols).flatMap { c =>
          Seq(count(col(c)).as(s"${c}__nn"),
            approx_count_distinct(col(c)).as(s"${c}__nd"))
        } ++
        numericCols.flatMap { c =>
          Seq(round(min(col(c)), 6).as(s"${c}__min"),
            round(max(col(c)), 6).as(s"${c}__max"),
            round(avg(col(c)), 6).as(s"${c}__avg"))
        } ++
        stringCols.flatMap { c =>
          Seq(min(col(c)).as(s"${c}__smin"),
            max(col(c)).as(s"${c}__smax"))
        }
    unpivot(li.agg(aggs.head, aggs.tail: _*))
  }

  /** The REGISTERED approx form since r16 (the q_cardinality_approx
    * verified-frame pattern): every exact column of the profile
    * (SQL-re-derivable — the memoized [[profileLineitem]] artifact) next
    * to the HLL sketch's genuinely-computed 3σ certification
    * (rsd = 0.05 ⇒ 3σ = 15%, ±1 slack for tiny columns). Upgrades
    * q_profile_table_approx from rows-only to hash-oracled with the
    * sketch still load-bearing: an estimate drifting past 3σ flips the
    * flag and the hash mismatches. The raw sketch frame stays visible as
    * [[profileLineitemApprox]] (ProfileSpec pins its Expand-free plan and
    * the same bracket). */
  def profileLineitemApproxVerified(spark: SparkSession, dir: String): DataFrame = {
    val approx = profileLineitemApprox(spark, dir)
      .select(col("column_name"), col("n_distinct").as("nd_approx"))
    profileLineitem(spark, dir).join(approx, "column_name")
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_num"), col("max_num"), col("avg_num"),
        col("min_str"), col("max_str"),
        (abs(col("nd_approx") - col("n_distinct")) <=
          greatest(lit(1.0), lit(0.15) * col("n_distinct")))
          .as("nd_within_3sigma"))
  }

  /** DuckDB oracle for [[profileLineitemApproxVerified]] — the exact
    * profile mirror plus the certification flag the oracle states as
    * true. `lazy` because it splices [[profileLineitemSql]], defined
    * below (object-init order). */
  lazy val profileLineitemApproxVerifiedSql: String =
    s"""SELECT *, true AS nd_within_3sigma FROM (
       |${profileLineitemSql.replace("\n", "\n  ")}
       |) p""".stripMargin

  /** DuckDB oracle for [[profileLineitem]] — one SELECT per column,
    * UNION ALL'd (the oracle optimizes for clarity, not passes). */
  val profileLineitemSql: String = {
    val num = numericCols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
         |  ROUND(MIN($c), 6) AS min_num, ROUND(MAX($c), 6) AS max_num,
         |  ROUND(AVG($c), 6) AS avg_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM lineitem""".stripMargin
    }
    val str = stringCols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  CAST(NULL AS DOUBLE) AS avg_num,
         |  MIN($c) AS min_str, MAX($c) AS max_str
         |FROM lineitem""".stripMargin
    }
    (num ++ str).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------- key skew
  /** Join/shuffle-key skew audit over the event stream's user key: key
    * count, heaviest-key share, p99 per-key volume and the skew factor
    * (max/mean). THE pre-flight check before keying a corpus-scale join
    * or window on a column — a skew_factor in the tens says "salt this
    * key" (operators/Skew) before the shuffle, not after it stalls. One
    * map-side-combined count + a single-row summary. */
  def keySkew(spark: SparkSession, dir: String): DataFrame =
    keySkewOf(graft.Tables.events(spark, dir), "user_id")

  /** The same audit over ANY frame/key — the form [[graft.operators.Skew
    * .saltIfSkewed]] consults before keying a join (one source of truth
    * for the skew statistic; the registered query is its events/user_id
    * instance). */
  def keySkewOf(df: DataFrame, key: String): DataFrame = {
    val per = df.groupBy(key).agg(count(lit(1)).as("n"))
    per.agg(
        sum("n").as("total"), count(lit(1)).as("n_keys"),
        max("n").as("max_n"), expr("percentile(n, 0.99)").as("p99_n"))
      .select(col("n_keys"),
        round(col("max_n").cast("double") / col("total"), 6).as("max_share"),
        round(col("p99_n"), 6).as("p99_n"),
        round(col("max_n").cast("double")
          / (col("total").cast("double") / col("n_keys")), 6).as("skew_factor"))
  }

  val keySkewSql: String =
    """WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys,
      |               MAX(n) AS max_n, quantile_cont(n, 0.99) AS p99_n FROM per)
      |SELECT n_keys, ROUND(CAST(max_n AS DOUBLE) / total, 6) AS max_share,
      |       ROUND(p99_n, 6) AS p99_n,
      |       ROUND(CAST(max_n AS DOUBLE)
      |             / (CAST(total AS DOUBLE) / n_keys), 6) AS skew_factor
      |FROM tot""".stripMargin
}
