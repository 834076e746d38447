package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** Registered-query surface for the TxTable change feed
  * ([[TxTable.changes]]): a deterministic two-commit table built from the
  * `orders` testdata, whose (0 → 1] feed is exactly computable from the
  * source parquet — which is what upgrades a table-format feature (CDC)
  * to a fully hash-oracled query:
  *
  *  - v0 (merge): orders with `o_orderkey % 3 ≠ 0`, payload = raw
  *    `o_totalprice` (exact doubles, no rounding anywhere);
  *  - v1 (merge): every even o_orderkey, payload = `o_totalprice + 1.0`
  *    (IEEE-exact on both engines).
  *
  * Feed (0, 1] therefore contains: `insert` for even keys divisible by 3
  * (not in v0), an `update_preimage`/`update_postimage` pair for the
  * remaining even keys (payload always differs by exactly 1.0), and — the
  * suppression the operator exists for — NOTHING for the odd carried rows
  * a merge rewrites into new files unchanged. */
object ChangeFeed {

  /** The two-commit fixture table, built once per (session, sf dir) in a
    * directory of its own under this process's scratch root — fresh each
    * session, so the version numbers the feed addresses are deterministic
    * and no other session's rebuild deletes files this one still reads. */
  private[graft] def fixturePath(spark: SparkSession, dir: String): String =
    Artifacts.cdcTable(spark, dir) {
      val p = s"${graft.TmpRoots.root("graft_cdc")}/" +
        s"${new java.io.File(dir).getName}_${java.util.UUID.randomUUID()}"
      val orders = Tables.orders(spark, dir)
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val upd = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("price"))
      TxTable.merge(spark, base, p, Seq("o_orderkey"))
      TxTable.merge(spark, upd, p, Seq("o_orderkey"))
      p
    }

  def tableChangesQuery(spark: SparkSession, dir: String): DataFrame =
    TxTable.changes(spark, fixturePath(spark, dir), 0L, 1L, Seq("o_orderkey"))

  // ------------------------------------------- incremental view maintenance
  private val Dec = org.apache.spark.sql.types.DecimalType(18, 6)

  /** The materialized view shape both the full build and the delta apply
    * share: per-group row count + price sum. The sum goes through
    * DECIMAL(18,6) (the LmScore order-free-sums rule): decimal addition is
    * exact and associative, so base-plus-delta equals full recompute
    * BIT-FOR-BIT under any partitioning — a double sum would make
    * "incremental ≡ full" hold only to FP noise, unverifiable by hash. */
  private def grpOf(keyCol: Column): Column = pmod(keyCol, lit(50)).as("grp")

  /** Full view build over a snapshot: (grp, n_rows, s DECIMAL). */
  def viewOf(snapshot: DataFrame): DataFrame =
    snapshot.groupBy(grpOf(col("o_orderkey")))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("price"), 6).cast(Dec)).as("s"))

  /** Incremental maintenance: apply one change-feed window to a
    * materialized aggregate WITHOUT touching the base table — the CDC
    * consumer a 100 TB lake runs after every merge: delta cost is
    * O(changed rows), not O(table). insert/update_postimage contribute
    * +1/+price, delete/update_preimage contribute −1/−price (an update
    * pair nets to the payload difference); groups whose count reaches
    * zero leave the view. */
  def maintain(view: DataFrame, feed: DataFrame): DataFrame = {
    val delta = feed
      .withColumn("sign",
        when(col("change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
      .groupBy(grpOf(col("o_orderkey")))
      .agg(sum(col("sign")).as("d_rows"),
        sum(round(col("price"), 6).cast(Dec) * col("sign")).as("d_s"))
    view.join(delta, Seq("grp"), "full")
      .select(col("grp"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("s"), lit(0).cast(Dec))
          + coalesce(col("d_s"), lit(0).cast(Dec))).cast(Dec).as("s"))
      .filter(col("n_rows") > 0L)
  }

  /** Registered query: build the view at v0, maintain it to v1 through
    * the feed alone, and render. The oracle recomputes the v1 snapshot's
    * aggregate DIRECTLY from orders — hash equality IS the proof that
    * delta application reproduces a full rebuild. */
  def viewMaintenanceQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = fixturePath(spark, dir)
    val view0 = viewOf(TxTable.read(spark, path, Some(0L)))
    val feed = TxTable.changes(spark, path, 0L, 1L, Seq("o_orderkey"))
    maintain(view0, feed)
      .select(col("grp"), col("n_rows"),
        round(col("s").cast("double"), 6).as("sum_price"))
  }

  // ------------------------------------------------------------ time travel
  /** Explicit time-travel read: the same aggregate computed at BOTH pinned
    * versions of the fixture table — the snapshot-isolation primitive a
    * reproducible training run needs (pin the exact data version a job
    * read; re-reads at that version are immutable no matter how many
    * merges land after). [[TxTable.read]] resolves the file list at the
    * pinned version from the log (nearest checkpoint + delta chain), so a
    * version read never scans files committed later — cost is the pinned
    * snapshot's size, not the table's history. The v0/v1 contents are
    * exactly derivable from `orders` (the [[fixturePath]] contract), which
    * is what makes a table-format feature hash-oracle-able. Decimal sums
    * for order-free exactness (the [[viewOf]] rule). */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = fixturePath(spark, dir)
    def at(v: Long): DataFrame =
      TxTable.read(spark, path, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(round(col("price"), 6).cast(Dec)).cast("double"), 6)
            .as("sum_price"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"))
    at(0L).unionAll(at(1L))
  }

  /** DuckDB oracle: both version snapshots recomputed straight from
    * `orders` under the fixture predicates. */
  val timeTravelSql: String =
    """WITH v0 AS (
      |  SELECT o_totalprice AS price FROM orders WHERE o_orderkey % 3 <> 0),
      |v1 AS (
      |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0)
      |SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
      |  ROUND(CAST(SUM(CAST(ROUND(price, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
      |    AS sum_price
      |FROM v0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), COUNT(*),
      |  ROUND(CAST(SUM(CAST(ROUND(price, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
      |FROM v1""".stripMargin

  /** DuckDB oracle: the v1 snapshot aggregate, straight from orders. */
  val viewMaintenanceSql: String =
    """WITH snap AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0)
      |SELECT o_orderkey % 50 AS grp, COUNT(*) AS n_rows,
      |  ROUND(CAST(SUM(CAST(ROUND(price, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
      |    AS sum_price
      |FROM snap GROUP BY 1""".stripMargin

  /** DuckDB oracle: the expected feed recomputed straight from `orders`. */
  val tableChangesSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice AS price FROM orders
      |  WHERE o_orderkey % 3 <> 0),
      |upd AS (
      |  SELECT o_orderkey, o_totalprice + 1.0 AS price FROM orders
      |  WHERE o_orderkey % 2 = 0)
      |SELECT 'insert' AS change_type, CAST(1 AS INT) AS commit_version,
      |       o_orderkey, price
      |FROM upd WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 'update_preimage', CAST(1 AS INT), o_orderkey, price
      |FROM base WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT 'update_postimage', CAST(1 AS INT), o_orderkey, price
      |FROM upd WHERE o_orderkey % 3 <> 0""".stripMargin
}
