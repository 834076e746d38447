package graft.serve

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-layer document shapes — the engine's replacement for the
  * reference's Elasticsearch bulk-upsert path
  * (`scripts/indexing/to_elasticsearch.py`, SURVEY §1.5): deterministic
  * doc ids, ISO timestamps and NaN scrubbing, plus the raw JSON and
  * partition-refresh sinks. The keyed upsert itself is [[TxTable.merge]].
  */
object Sink {

  /** Deterministic document key `{symbol}_{date}`
    * (`to_elasticsearch.py:78`) — the idempotence anchor. */
  def withDocId(df: DataFrame, cols: String*): DataFrame =
    df.withColumn("doc_id", concat_ws("_", cols.map(col): _*))

  /** Render timestamps as ISO-8601 Z strings exactly as the ES sink does
    * (`to_elasticsearch.py:96-98`). */
  def isoString(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, date_format(col(c), "yyyy-MM-dd'T'HH:mm:ss'Z'"))

  /** NaN/Infinity → null scrub for JSON-bound frames
    * (`to_elasticsearch.py:71-74` — NaN is not valid JSON): applied to every
    * double column. */
  def nanToNull(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType.typeName == "double").foldLeft(df) {
      case (d, f) =>
        d.withColumn(f.name,
          when(isnan(col(f.name)) || col(f.name).isin(
            Double.PositiveInfinity, Double.NegativeInfinity), lit(null))
            .otherwise(col(f.name)))
    }

  /** Raw-layer JSON sink, date-partitioned (S5 —
    * `scripts/ingestion/yahoo_stocks.py:68-81` writes
    * `raw/<table>/YYYY-MM-DD/`): the Spark-writer form, with NaN scrubbed
    * and timestamps already rendered by callers. */
  def writeRawJson(df: DataFrame, path: String, dateCol: String): Unit =
    nanToNull(df)
      .withColumn("ingest_date", date_format(col(dateCol), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("ingest_date")
      .json(path)

  /** Partition-level idempotent refresh: overwrite ONLY the partitions
    * present in `updates` (dynamic partition overwrite). The scalable form
    * of the reference's full-refresh: a daily run rewrites one date
    * partition, not the table. */
  def refreshPartitions(spark: SparkSession, updates: DataFrame, path: String,
      partitionCol: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try updates.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
