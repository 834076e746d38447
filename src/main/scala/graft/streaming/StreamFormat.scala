package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl.Format

/** Structured-Streaming superset of the Format stage (SURVEY §2.10): the
  * reference is pure batch (daily Airflow cron), but its raw layer — an
  * append-only, date-partitioned JSON directory — is exactly a file-source
  * stream. `Trigger.AvailableNow` processes whatever partitions exist and
  * stops: same results as the batch job, plus exactly-once incremental
  * semantics via checkpointing (each daily partition is processed once,
  * instead of the reference's full re-read of every partition on every run,
  * `scripts/formatting/format_to_parquet.py:57`).
  *
  * At scale this is the difference between O(history) and O(1 day) per run.
  */
object StreamFormat {

  /** Streaming scan of the raw stocks layer (explicit schema — mandatory
    * for file-source streams). */
  def stocksStream(spark: SparkSession, rawDir: String): DataFrame =
    spark.readStream
      .option("multiLine", "true")
      .schema(Format.stocksSchema)
      .json(s"$rawDir/yahoo/stocks/*/")
      .withColumn("date_d", to_date(col("date"), "yyyy-MM-dd"))
      .withColumn("fetched_at_utc", to_timestamp(col("fetched_at")))
      .drop("fetched_at")

  /** Incremental format job: AvailableNow drain into partitioned parquet.
    * Returns after the (finite) run completes. */
  def runAvailableNow(spark: SparkSession, rawDir: String, outDir: String,
      checkpoint: String): Unit = {
    val q: StreamingQuery = stocksStream(spark, rawDir).writeStream
      .format("parquet")
      .option("path", s"$outDir/stocks_stream")
      .option("checkpointLocation", checkpoint)
      .partitionBy("symbol")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-static enrichment: the streaming fact joined to a static
    * (broadcastable) dim — the streaming form of the Gold combine's J1.
    * Note: a parquet-backed dim freezes its FILE LISTING at analysis time,
    * so picking up dim updates mid-query requires a re-listable source
    * (catalog table / Delta); with a plain parquet DataFrame the dim is a
    * snapshot for the query's lifetime. */
  def enrichedStream(spark: SparkSession, rawDir: String,
      companyDf: org.apache.spark.sql.DataFrame): DataFrame =
    stocksStream(spark, rawDir)
      .join(broadcast(companyDf.select("symbol", "name", "sector")),
        Seq("symbol"), "left")

  /** Streaming serving path: [[TxStream.drain]] → keyed TxTable MERGE,
    * the streaming twin of the reference's idempotent ES bulk indexing
    * (`to_elasticsearch.py:66-80`). Each micro-batch is one atomic,
    * stamped commit merged by doc id, so a reader never observes a
    * half-applied batch, every batch is a time-travelable version, a
    * crash-replayed batch is a no-op, and a replay from a fresh checkpoint
    * converges to the same table state (MERGE is idempotent per key).
    * This is the streaming form of the Delta per-micro-batch
    * `MERGE INTO` recipe, on the native TxTable. */
  def upsertStream(spark: SparkSession, rawDir: String,
      companyDf: org.apache.spark.sql.DataFrame,
      tablePath: String, checkpoint: String): Unit = {
    TxStream.drain(enrichedStream(spark, rawDir, companyDf), checkpoint) {
      (batch, stamp) =>
        val keyed = graft.serve.Sink.withDocId(batch, "symbol", "date")
        graft.serve.TxTable.merge(batch.sparkSession, keyed, tablePath,
          Seq("doc_id"), versionCol = Some("fetched_at_utc"),
          txn = Some(stamp))
    }
  }

  /** Windowed streaming aggregation with watermark — the Lens
    * date-histogram (W1) as a live query: per-symbol daily OHLC-style
    * rollup over the stream. Memory-sink runner for tests. */
  def dailyRollupToMemory(spark: SparkSession, rawDir: String,
      queryName: String): StreamingQuery =
    stocksStream(spark, rawDir)
      .withColumn("ts", to_timestamp(col("date_d")))
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"), col("symbol"))
      .agg(max("high").as("day_high"), min("low").as("day_low"),
        sum("volume").as("day_volume"), count(lit(1)).as("n_rows"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()

  /** Watermarked STREAM-STREAM interval join — the live form of the batch
    * range/as-of family: each trade joined to the same symbol's quotes in
    * the 10 minutes up to the trade. Both sides carry watermarks and the
    * join condition bounds each side's event time by the other's, so Spark
    * can expire buffered state: a quote older than (other side's watermark
    * − 10 min) can never match a future trade and is dropped. Without the
    * two-sided time bound the state store grows without limit — THE
    * correctness-at-scale rule for stream-stream joins. Inner join: a
    * trade emits once a matching quote arrives (left-outer would emit
    * null-padded rows only after the watermark closes the window).
    *
    * @param trades columns (t_symbol, t_ts, ...)
    * @param quotes columns (q_symbol, q_ts, ...) */
  def tradeQuoteJoinToMemory(spark: SparkSession, trades: org.apache.spark.sql.DataFrame,
      quotes: org.apache.spark.sql.DataFrame, queryName: String): StreamingQuery =
    trades.withWatermark("t_ts", "30 minutes")
      .join(quotes.withWatermark("q_ts", "30 minutes"),
        expr("""t_symbol = q_symbol
               |AND q_ts >= t_ts - INTERVAL 10 MINUTES
               |AND q_ts <= t_ts""".stripMargin))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()

  /** Watermarked distinct-cardinality rollup using graft's own mergeable
    * HLL sketch (`HyperLogLog` TypedImperativeAggregate): the 4 KB register
    * buffer IS the streaming state per (window, group) — constant in key
    * cardinality, exactly why sketches are the streaming distinct-count
    * answer at scale. Append mode: windows emit once the watermark passes. */
  def distinctRollupToMemory(spark: SparkSession, events: org.apache.spark.sql.DataFrame,
      queryName: String): StreamingQuery =
    events
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(graft.functions.HllAggregate.hll_distinct(col("user_id"))
        .as("hll_users"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
}
