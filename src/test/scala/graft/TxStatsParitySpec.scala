package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.{TxStats, TxTable}

/** Write-time manifest stats equal what a scan of the committed files
  * yields, byte for byte on every manifest line; the schema recorded for
  * the written files equals Spark's inference of them. The reference is the
  * scan-based collection TxTable used before stats were recorded by the
  * write tasks: per file, `count` and `min`/`max`/null-count for the first
  * [[TxStats.MaxStatsCols]] supported columns, grouped by
  * `input_file_name`. */
class TxStatsParitySpec extends AnyFunSuite {
  import SparkTestSession._

  /** The scan-based reference: file name → stats (bytes/mtime unset). */
  private def referenceStats(spark: SparkSession,
      absFiles: Seq[String]): Map[String, TxStats.FileStats] = {
    val df = spark.read.parquet(absFiles: _*)
    val statFields = df.schema.fields.filter(f => TxStats.supported(f.dataType))
      .take(TxStats.MaxStatsCols)
    val aggs = count(lit(1)).as("__rows") +: statFields.zipWithIndex.flatMap {
      case (f, i) => Seq(
        min(col(f.name)).as(s"__lo$i"),
        max(col(f.name)).as(s"__hi$i"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nulls$i"))
    }.toSeq
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val name = new Path(r.getString(0)).getName
        val cols = statFields.zipWithIndex.map { case (f, i) =>
          f.name -> TxStats.ColStats(
            TxStats.toComparable(r.get(r.fieldIndex(s"__lo$i"))),
            TxStats.toComparable(r.get(r.fieldIndex(s"__hi$i"))),
            r.getLong(r.fieldIndex(s"__nulls$i")))
        }.toMap
        name -> TxStats.FileStats(r.getLong(r.fieldIndex("__rows")), 0L, 0L, cols)
      }.toMap
  }

  /** Write `df` as a fresh TxTable; compare each committed manifest line
    * with the line the reference stats give the same file. Returns the
    * number of data files. */
  private def assertParity(tag: String, df: DataFrame): Int = {
    val path = Files.createTempDirectory(s"graft_parity_$tag").toString + "/t"
    TxTable.write(spark, df, path)
    val committed = Files.readAllLines(Paths.get(path, "_txlog", "00000000.txt"))
      .asScala.filter(_.startsWith("+")).map(_.drop(1)).toSeq
    val rels = committed.map(_.takeWhile(_ != '\t'))
    val ref = referenceStats(spark, rels.map(r => s"$path/$r"))
    val expected = rels.map { rel =>
      val file = new java.io.File(s"$path/$rel")
      new TxTable.ManifestEntry(rel, ref.get(new Path(rel).getName)
        .map(_.copy(bytes = file.length, mtime = file.lastModified))).line
    }
    assert(committed == expected, s"$tag: write-time stats differ from the scan")
    // the schema the commit recorded for its first file is Spark's inference
    val first = s"$path/${rels.head}"
    assert(Tables.parquetSchema(spark, first) == spark.read.parquet(first).schema,
      s"$tag: the written schema differs from the inferred one")
    rels.size
  }

  test("write-time stats match the scan on the TPC-H and events tables") {
    assert(assertParity("lineitem", Tables.lineitem(spark, sf).repartition(3)) == 3)
    assertParity("orders", Tables.orders(spark, sf))
    assertParity("events", Tables.events(spark, sf))
  }

  test("write-time stats match the scan on all-null, empty and edge-value frames") {
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("dec", DecimalType(12, 3)),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("b", BooleanType),
      StructField("i", IntegerType)))
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val ts = java.sql.Timestamp.valueOf("2024-03-10 01:59:59.123456")
    val ntz = java.time.LocalDateTime.parse("1999-12-31T23:59:59.999999")
    val edge = frame(Seq(
      Row(Double.NaN, Float.NaN, "", BigDecimal("-1.500").bigDecimal,
        java.sql.Date.valueOf("1970-01-01"), ts, ntz, true, Int.MinValue),
      Row(Double.PositiveInfinity, 1.5f, "zäh", BigDecimal("123456789.125").bigDecimal,
        java.sql.Date.valueOf("2038-01-19"), null, null, false, 0),
      Row(Double.NegativeInfinity, Float.NegativeInfinity, "日本", null,
        null, new java.sql.Timestamp(0L), java.time.LocalDateTime.parse("1970-01-01T00:00"),
        null, Int.MaxValue),
      Row(-0.0, -0.0f, null, BigDecimal("0.000").bigDecimal,
        java.sql.Date.valueOf("1900-02-28"), ts, ntz, true, null),
      Row(0.0, 0.0f, "a\u0000b", BigDecimal("-0.001").bigDecimal,
        java.sql.Date.valueOf("2000-02-29"), null, null, null, -1),
      Row(null, null, "😀", null, null, null, null, null, null)))
    assertParity("edge", edge)
    assertParity("finite", edge.filter(col("d").isNull || !isnan(col("d"))))
    // NaN first in the file: the min must still move past it
    assertParity("nanfirst", edge.select(when(col("i") === Int.MinValue, col("d"))
      .otherwise(col("i").cast("double")).as("x")))
    assertParity("allnull", frame(Seq.fill(5)(Row.fromSeq(Seq.fill(schema.size)(null)))))
    assertParity("empty", frame(Nil))
  }

  test("write-time stats match the scan past the stats-column cap and across files") {
    // 20 columns interleaving unsupported types: only the first 16
    // supported ones carry stats, in schema order
    val wide = spark.range(0, 3000).select(
      (0 until 20).map { i =>
        if (i % 7 == 3) array(col("id"), lit(i)).as(s"c$i")
        else if (i % 2 == 0) (col("id") * (i + 1) % 997).as(s"c$i")
        else format_string(s"v$i-%04d", col("id") % 311).as(s"c$i")
      }: _*)
    assert(wide.schema.fields.count(f => TxStats.supported(f.dataType)) > TxStats.MaxStatsCols)
    assertParity("wide", wide.coalesce(1))
    assert(assertParity("multifile", wide.repartition(5, col("c1"))) == 5)
  }
}
