package graft.serve

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._
import TxStats.FileStats

/** Spark's parquet format, writing the very same files, plus per-file
  * [[TxStats]] recorded by the writer as it writes — Delta's rule: the
  * stats a commit stores come from the task that wrote the file, so a
  * commit costs no second job to read its own files back. Stats are kept
  * on the rows, not read from parquet footers: Spark writes LTZ timestamps
  * as INT96, whose footers carry no min/max, and footer float stats ignore
  * NaN.
  *
  * Spark instantiates the format by class name (`df.write.format(...)`),
  * so the stats accumulator reaches it through [[StatsParquetFormat.writing]],
  * keyed by the output directory of the write. */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val out = FileOutputFormat.getOutputPath(job).toString
    val acc = Option(StatsParquetFormat.pending.get(out)).getOrElse(
      throw new IllegalStateException(
        s"StatsParquetFormat: no write to $out is open — write through StatsParquetFormat.writing"))
    new StatsWriterFactory(super.prepareWrite(spark, job, options, dataSchema), acc)
  }
}

object StatsParquetFormat {
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[String, CollectionAccumulator[(String, FileStats)]]()

  /** Run `write`, which writes this format to the fully qualified
    * directory `out`, and return the stats of every file it committed, by
    * file name. Spark merges accumulator updates only from task attempts
    * that succeeded, so a failed attempt's file is never named. */
  def writing(spark: SparkSession, out: Path)(write: => Unit): Map[String, FileStats] = {
    val acc = spark.sparkContext.collectionAccumulator[(String, FileStats)]
    pending.put(out.toString, acc)
    try write
    finally pending.remove(out.toString)
    acc.value.asScala.toMap
  }
}

private class StatsWriterFactory(inner: OutputWriterFactory,
    acc: CollectionAccumulator[(String, FileStats)]) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter =
    new StatsWriter(inner.newInstance(path, dataSchema, context), dataSchema, acc)
}

/** Spark's parquet writer for one file, with that file's stats kept on
  * the side and handed to the driver when the file is closed. */
private class StatsWriter(inner: OutputWriter, dataSchema: StructType,
    acc: CollectionAccumulator[(String, FileStats)]) extends OutputWriter {
  private val stats = new TxStats.FileStatsBuilder(dataSchema)

  override def write(row: InternalRow): Unit = {
    inner.write(row)
    stats.add(row)
  }

  override def close(): Unit = {
    inner.close()
    stats.result.foreach(s => acc.add(new Path(path()).getName -> s))
  }

  override def path(): String = inner.path()
}
