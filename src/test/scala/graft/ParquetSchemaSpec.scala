package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.TxTable

/** The session's parquet schema resolver (`Tables.parquetSchema`): a
  * file's schema is inferred by Spark once, then served from the memo —
  * until the file, the parquet confs or the session's caches change. */
class ParquetSchemaSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val root = s"/tmp/graft_parquet_schema_${ProcessHandle.current().pid()}"

  private def fresh(name: String): String = {
    val p = new Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** Jobs started from this thread while `body` runs. The read tests
    * execute no query inside `body`, so every job they count is a schema
    * inference. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-schema-spec-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "schema inference count")
    try {
      val a = body
      ListenerDrain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** One single-file parquet table at `file`, replacing any file there. */
  private def putFile(df: DataFrame, file: String): Unit = {
    val tmp = s"$file.__write"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(file),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(tmp), true)
  }

  private def withConf[A](key: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a second Tables.t read of a file starts no job and reads the same rows") {
    val dir = fresh("reread")
    putFile(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), s"$dir/kv.parquet")
    val (first, coldJobs) = jobsDuring(Tables.t(spark, dir, "kv"))
    assert(coldJobs == 1, "the first read of a file pays exactly one inference job")
    val (second, warmJobs) = jobsDuring(Tables.t(spark, dir, "kv"))
    assert(warmJobs == 0, s"a warm read must start no job before it executes, started $warmJobs")
    assert(second.schema == first.schema)
    assert(first.schema == spark.read.parquet(s"$dir/kv.parquet").schema,
      "the memoized schema is Spark's own inferred schema")
    assert(second.collect().toSet == first.collect().toSet)
    assert(second.count() == 3)
  }

  test("each read gets the schema Spark infers under the current inferTimestampNTZ and nanosAsLong") {
    val dir = fresh("confs")
    // both fixtures come from parquet's example writer, not Spark: a Spark-
    // written footer carries Spark's own schema, which inference prefers
    // over the confs
    def writeTs(file: String, adjustedToUtc: Boolean,
        unit: LogicalTypeAnnotation.TimeUnit, value: Long): Unit = {
      val schema = Types.buildMessage()
        .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(adjustedToUtc, unit))
        .named("ts").named("m")
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file),
        spark.sparkContext.hadoopConfiguration)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", value))
      finally w.close()
    }
    // TIMESTAMP(MICROS, isAdjustedToUTC=false): NTZ or LTZ by inferTimestampNTZ
    val ntz = s"$dir/ntz.parquet"
    writeTs(ntz, adjustedToUtc = false, LogicalTypeAnnotation.TimeUnit.MICROS,
      1700000000123456L)
    // INT64 TIMESTAMP(NANOS): reads as LongType only under nanosAsLong
    val nanos = s"$dir/nanos.parquet"
    writeTs(nanos, adjustedToUtc = true, LogicalTypeAnnotation.TimeUnit.NANOS,
      1700000000123456789L)

    def tsType(s: Try[StructType]) = s.map(_("ts").dataType)
    // the resolver answers first, so a stale memo entry cannot hide behind
    // a fresh Spark inference; then Spark's own answer under the same conf
    def resolvedAndOwn(file: String): (Try[StructType], Try[StructType]) = {
      val r = Try(Tables.parquetSchema(spark, file))
      (r, Try(spark.read.parquet(file).schema))
    }
    def assertSame(file: String, conf: String): Try[StructType] = {
      val (r, own) = resolvedAndOwn(file)
      (r, own) match {
        case (Success(a), Success(b)) => assert(a == b, s"$file under $conf")
        case (Failure(a), Failure(b)) => assert(a.getClass == b.getClass, s"$file under $conf")
        case _ => fail(s"$file under $conf: resolver $r, Spark $own")
      }
      r
    }
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    withConf(ntzKey) {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(ntzKey, v)
        tsType(assertSame(ntz, s"$ntzKey=$v"))
      }
      assert(seen == Seq(Success(TimestampNTZType), Success(TimestampType),
        Success(TimestampNTZType)), s"the flip must change the inferred type: $seen")
    }
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanosKey) {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(nanosKey, v)
        tsType(assertSame(nanos, s"$nanosKey=$v"))
      }
      assert(seen(0) == Success(LongType) && seen(2) == Success(LongType))
      assert(seen(1) != Success(LongType), s"without nanosAsLong the column is not a long: $seen")
    }
  }

  test("a file rewritten at the same path with a new schema is seen by the next read") {
    val dir = fresh("rewrite")
    val file = s"$dir/t.parquet"
    putFile(Seq(1L, 2L).toDF("a"), file)
    assert(Tables.t(spark, dir, "t").columns.toSeq == Seq("a"))
    putFile(Seq((1L, "x")).toDF("a", "b"), file)
    val again = Tables.t(spark, dir, "t")
    assert(again.schema == spark.read.parquet(file).schema)
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
  }

  test("after Caches.clear the next read runs the inference job again") {
    val dir = fresh("clear")
    putFile(Seq((1L, 2.0)).toDF("k", "x"), s"$dir/t.parquet")
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 == 1)
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 == 0)
    Caches.clear(spark)
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 == 1,
      "Caches.clear must drop the schema memo")
  }

  test("a first merge into an absent table starts no more jobs than a write") {
    val updates = Seq((1L, "a"), (2L, "b"), (2L, "b"), (3L, "c")).toDF("k", "v")
    // without a versionCol the merge collapses keys with dropDuplicates
    val (_, writeJobs) = jobsDuring(
      TxTable.write(spark, updates.dropDuplicates("k"), fresh("first_write")))
    val merged = fresh("first_merge")
    val (v, mergeJobs) = jobsDuring(TxTable.merge(spark, updates, merged, Seq("k")))
    assert(v == 0L)
    assert(mergeJobs <= writeJobs,
      s"a first merge reads no key bounds: $mergeJobs jobs vs $writeJobs for the write")
    assert(TxTable.read(spark, merged).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a TxTable.write starts no more jobs than a parquet write of the same frame") {
    // the manifest stats are recorded by the write tasks: no inference job
    // and no stats scan over the staged files
    val df = spark.range(0, 5000).selectExpr("id", "cast(id % 97 as string) s",
      "id * 0.5 d").repartition(3)
    val (_, plainJobs) = jobsDuring(df.write.parquet(fresh("plain_write")))
    val path = fresh("tx_write")
    val (_, txJobs) = jobsDuring(TxTable.write(spark, df, path))
    assert(plainJobs >= 1)
    assert(txJobs <= plainJobs, s"TxTable.write started $txJobs jobs vs $plainJobs for parquet")
    assert(TxTable.manifest(spark, path).forall(_.stats.exists(_.rows > 0)))
    // the writer knows the schema it wrote: the first read infers nothing
    val (first, readJobs) = jobsDuring(TxTable.read(spark, path))
    assert(readJobs == 0, s"the first read of a fresh write started $readJobs jobs")
    assert(first.schema == spark.read.parquet(s"$path/data").schema)
    assert(first.count() == 5000L)
  }

  test("a TxTable.read of a known snapshot starts no job before it executes") {
    val path = fresh("txtable")
    TxTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    TxTable.merge(spark, Seq((2L, "b2", 1.5)).toDF("k", "v", "w"), path, Seq("k"))
    val first = TxTable.read(spark, path)
    val (again, jobs) = jobsDuring(TxTable.read(spark, path))
    assert(jobs == 0, s"a known snapshot's schema is memoized, started $jobs jobs")
    assert(again.schema == first.schema && again.columns.toSeq == Seq("k", "v", "w"))
    assert(again.collect().toSet == first.collect().toSet)
  }
}
