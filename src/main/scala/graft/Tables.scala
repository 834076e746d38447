package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * Parquet carries its own authoritative schema in the footer, so unlike the
  * reference's JSON raw layer (schema inference + re-cast,
  * `scripts/formatting/format_to_parquet.py:65-75`) no cast step is needed
  * here. Column pruning is left to call sites + Catalyst so the parquet scan
  * only reads what each query projects.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // read INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) columns as
    // TimestampType (LTZ) instead of TIMESTAMP_NTZ: the engine pins the
    // session timezone to UTC everywhere, so the two render identically —
    // but a native TimestampType column keeps comparisons cast-free, which
    // is what lets timestamp range predicates reach the parquet scan as
    // PushedFilters (row-group pruning at lake scale). An NTZ read would
    // put a cast between every filter and the scan.
    //
    // DELIBERATE SESSION-GLOBAL side effect: parquet NTZ inference has no
    // per-read option, only this session conf, so the first Tables read
    // flips it for every later parquet read in the session. That is the
    // contract this engine WANTS (one timestamp semantics everywhere,
    // UTC); code that genuinely needs NTZ reads in the same session must
    // set the conf back around its read — none does today, and
    // SchemaDriftSpec names the drift if that assumption ever breaks.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // the same for INT64 TIMESTAMP(NANOS), which Spark 4 refuses to read as
    // a timestamp: it surfaces as LongType ns (see [[events]]). Set on
    // every read, not only by the events reader, so every table's
    // [[parquetSchema]] key carries it whatever was read first.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the UTC contract is enforced HERE, not assumed of the caller: the
    // NTZ→LTZ reading above (and normalizeEventsTs's cast) is only
    // instant-preserving when the session renders in UTC. Bench/Verify/
    // specs all pin this too, but a library consumer that reads through
    // Tables without copying their builder config must get the same
    // instants — not silently shifted ones.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** Spark's own inferred schema for one parquet path, inferred once per
    * session.
    *
    * `spark.read.parquet(...)` runs its footer read as a Spark job on every
    * call, even for one file — a fixed cost every warm table read and every
    * TxTable snapshot read used to pay before executing. The memo returns
    * whatever that inference returned the first time (or, for a file this
    * session wrote, what [[wroteParquet]] recorded), keyed by everything
    * it depends on: the path, the (path, length, mtime) of every file it
    * lists (so a file rewritten in place is re-inferred), and every session
    * conf naming parquet (`inferTimestampNTZ.enabled`, `nanosAsLong`,
    * `binaryAsString`, `int96AsTimestamp`, ...). A failed inference (absent
    * path, corrupt footer) throws as before and is not memoized.
    * [[Caches.clear]] drops the memo.
    *
    * One path only, and only one whose identity repeats: a table file, or
    * one immutable TxTable data file. A file is one status lookup; a
    * directory is one listing of its tree. A multi-file read whose file
    * set changes every call (a merge's candidates, a change feed's commit,
    * a sink that rewrites its directory) would only add dead entries. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    Artifacts.parquetSchema(spark, schemaKey(spark, path))(spark.read.parquet(path).schema)

  /** Record the schema of a parquet file this session just wrote with
    * Spark's parquet writer from a frame of schema `written`, so that the
    * first [[parquetSchema]] of it starts no job. Inference of a
    * Spark-written file returns the schema its writer stored in the footer
    * — the frame's schema — with every field made nullable, as any parquet
    * read does. */
  def wroteParquet(spark: SparkSession, path: String, written: StructType): Unit =
    Artifacts.parquetSchema(spark, schemaKey(spark, path))(GraftBridge.asNullable(written))

  private def schemaKey(spark: SparkSession, path: String) = {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSeq
    val confs = spark.conf.getAll.toSeq.filter(_._1.contains("parquet")).sorted
    (path, files, confs)
  }

  /** Spread a small-file input across the cluster before per-row-expensive
    * work — IF the scan actually under-parallelizes. The small testdata
    * tables are single parquet files with ONE row group, so Spark plans ONE
    * task — every downstream lambda/UDF/kernel runs single-threaded until
    * the first shuffle (neither AQE nor maxPartitionBytes can split inside
    * a row group). One tiny round-robin shuffle buys full parallelism.
    *
    * At lake scale inputs arrive as thousands of splittable files and the
    * scan already plans >= cluster parallelism — there the round-robin
    * would be a full shuffle of the corpus before every operator, so this
    * is a DECISION, not an unconditional repartition: the input passes
    * through untouched whenever its planned partition count is at least
    * half of `defaultParallelism` (ScaleSpec pins both arms). Reading the
    * planned count via `rdd.getNumPartitions` costs one physical planning
    * of the scan (no job); the returned frame is the ORIGINAL `df`, so
    * downstream plans are unaffected in the pass-through arm. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations, so the reader branches on the type Spark actually reads
    * rather than assuming one:
    *
    *   - INT64 TIMESTAMP(NANOS): Spark 4 refuses to read nanos as a
    *     timestamp, so (under `spark.sql.legacy.parquet.nanosAsLong`, which
    *     [[t]] sets) it surfaces as LongType ns-since-epoch. Convert ns → µs
    *     with integer division (`div`, not `/`: double division would lose
    *     precision on ~1.7e18 ns values) into a real TimestampType.
    *   - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *     TIMESTAMP_NTZ. Cast to TimestampType — the session timezone is
    *     pinned to UTC everywhere (Verify/Bench/specs), so the cast maps
    *     wall-clock 1:1 to the same instant and `date_format` rendering
    *     stays byte-identical to the DuckDB oracles' `strftime` (DuckDB
    *     also reads the column naive).
    *   - TIMESTAMP(MICROS, adjusted): already TimestampType; pass through.
    *
    * All downstream queries therefore see one logical schema:
    * `ts TIMESTAMP` in UTC. SchemaDriftSpec pins this contract. With
    * `inferTimestampNTZ` disabled in [[t]], the micros layout already
    * arrives as TimestampType (the zero-cost branch — filters on `ts`
    * push into the scan); the NTZ branch stays as defense in case the
    * read path ever surfaces NTZ again. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(t(spark, dir, "events"))

  /** THE logical events schema every consumer sees after normalization —
    * the single source for the streaming reader's mandatory explicit
    * schema (a file-source stream given a drifted schema silently yields
    * NULLs, not an error, so a private copy would bypass the drift
    * detection SchemaDriftSpec provides; that spec asserts the batch
    * reader's output equals this DDL exactly). */
  val EventsSchemaDdl: String =
    "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE, props STRING"

  /** The (doc_id, text) drop-stream projection contract shared by the
    * ingest gates (StreamCurate/StreamSelect) — same rationale as
    * [[EventsSchemaDdl]]: a file stream null-fills on drift instead of
    * failing, so every gate must read ONE pinned schema
    * (SchemaDriftSpec asserts conformance with the documents reader). */
  val DocTextSchemaDdl: String = "doc_id LONG, text STRING"

  /** The (vec_id, emb) embedding drop-stream contract (StreamSemantic). */
  val VecSchemaDdl: String = "vec_id LONG, emb ARRAY<DOUBLE>"

  /** The layout-normalization branch, split out so every arm is testable
    * on in-memory frames (SchemaDriftSpec) regardless of which physical
    * layout the current testdata happens to ship. */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; expected INT64 nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")

  /** The readers of the tables two or more registered queries read that
    * no other warmed build reads (QueriesSpec's artifact-policy test keeps
    * the list measured). */
  private[graft] def readShared(spark: SparkSession, dir: String): Seq[DataFrame] =
    Seq("region", "nation", "customer").map(t(spark, dir, _))
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
