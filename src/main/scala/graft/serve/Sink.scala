package graft.serve

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-layer sinks — the engine's replacement for the reference's
  * Elasticsearch bulk-upsert path (`scripts/indexing/to_elasticsearch.py`):
  * keyed, idempotent parquet tables (SURVEY §1.5).
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

  /** Keyed upsert into a parquet table: rows in `updates` replace existing
    * rows with the same key; everything else is retained. File-format MERGE
    * (read → anti-join → union → overwrite); on a Delta/Iceberg table this
    * is a single MERGE INTO. Re-running with the same updates is a no-op
    * (idempotent, like the ES deterministic-id bulk upsert).
    *
    * CONCURRENCY CONTRACT: single writer per table path. The swap sequence
    * is crash-safe for one writer but has no cross-process transaction —
    * two interleaved upserts could each read the pre-merge table (losing
    * the other's rows) or delete the other's __old backup mid-swap. A
    * best-effort mutex (atomic create of a `__lock` marker, the HDFS
    * idiom for create-if-absent) turns the silent hazard into a loud
    * failure; locks older than [[LockStaleMs]] are presumed crashed and
    * broken. Multi-writer semantics is exactly what a transactional table
    * format (Delta/Iceberg optimistic commit) adds over raw parquet. */
  private val LockStaleMs: Long = 60L * 60 * 1000
  def upsertByKey(spark: SparkSession, updates: DataFrame, path: String,
      keys: Seq[String], versionCol: Option[String] = None): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val lock = new org.apache.hadoop.fs.Path(path + "__lock")
    def tryLock(): Boolean =
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!tryLock()) {
      // lock held: break it only if its mtime says the holder is long dead.
      // The break RENAMES the stale marker aside (unique name) rather than
      // deleting it: rename succeeds for exactly one breaker, so two
      // concurrent breakers cannot both clear the way — the loser falls
      // through to tryLock against the winner's fresh lock and fails loud.
      // The re-stat immediately before the rename narrows the residual
      // TOCTOU (a fresh lock appearing mid-break) to microseconds; for a
      // true multi-writer contract use TxTable, whose commit point needs no
      // advisory lock at all.
      val staleAt = try {
        val m = fs.getFileStatus(lock).getModificationTime
        if (m < System.currentTimeMillis() - LockStaleMs) Some(m) else None
      } catch { case _: java.io.FileNotFoundException => None } // released just now
      staleAt.foreach { observed =>
        val aside = new org.apache.hadoop.fs.Path(
          path + s"__lock_stale_${java.util.UUID.randomUUID().toString.take(8)}")
        val unchanged = try {
          fs.getFileStatus(lock).getModificationTime == observed
        } catch { case _: java.io.FileNotFoundException => false }
        if (unchanged && fs.rename(lock, aside)) fs.delete(aside, false)
      }
      if (!tryLock())
        throw new java.io.IOException(
          s"upsertByKey: $lock held by a concurrent writer (single-writer contract)")
    }
    try upsertByKeyLocked(spark, updates, path, keys, versionCol, fs, p, old)
    finally fs.delete(lock, false)
  }

  private def upsertByKeyLocked(spark: SparkSession, updates: DataFrame,
      path: String, keys: Seq[String], versionCol: Option[String],
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    def mustRename(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit =
      // Hadoop rename reports most failures (and rename-INTO-existing-dir
      // nesting hazards) via `false`, not an exception — never ignore it
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"upsertByKey: rename $from -> $to failed")
    // crash recovery FIRST: a previous run that died between the two swap
    // renames left the only full copy at __old and nothing live — restore it
    // before the existence probe, or this run would treat the table as
    // absent and then delete the sole copy
    if (!fs.exists(p) && fs.exists(old)) mustRename(old, p)
    // only a provably-absent table means "first write"; any OTHER read
    // failure (permissions, corrupt footer) must abort — treating it as
    // absent would silently overwrite the table with the updates alone.
    // The probe IS the read: one schema inference serves both.
    val current = try Some(spark.read.parquet(path)) catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case _: java.io.FileNotFoundException => None
    }
    val deduped = collapseByKey(updates, keys, versionCol)
    val merged = current match {
      case Some(cur) =>
        cur.join(deduped.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(deduped)
      case None => deduped
    }
    // stage + rename: the plan reads the same path it overwrites, so write
    // to a staging dir first; the swap is then a delete + rename (tiny
    // failure window, no second full write — the previous version re-wrote
    // the whole table twice). On object stores this becomes a table-format
    // commit (Delta/Iceberg MERGE) instead.
    val tmp = path + "__staging"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val staging = new org.apache.hadoop.fs.Path(tmp)
    // move the live table ASIDE (not delete) before swapping staging in: a
    // crash between the two renames leaves a recoverable __old copy (the
    // entry-time recovery above restores it). Any __old still present HERE
    // is a stale leftover from a crash after a successful promote (the live
    // table exists and is newer) — safe to clear.
    fs.delete(old, true)
    if (fs.exists(p)) mustRename(p, old)
    mustRename(staging, p)
    fs.delete(old, true)
  }

  /** Collapse duplicate keys WITHIN a batch — deterministic-id upsert
    * semantics (the ES sink's `{symbol}_{date}` ids collapse same-key docs
    * to one, `to_elasticsearch.py:78`). With a versionCol the LATEST row
    * wins (ES last-write-wins); without one the survivor is arbitrary —
    * only acceptable when same-key rows are identical. Shared by the raw
    * parquet upsert and the TxTable MERGE. */
  def collapseByKey(updates: DataFrame, keys: Seq[String],
      versionCol: Option[String]): DataFrame = versionCol match {
    case Some(v) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(v).desc)
      updates.withColumn("__v_rn", row_number().over(w))
        .filter(col("__v_rn") === 1).drop("__v_rn")
    case None => updates.dropDuplicates(keys)
  }

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
