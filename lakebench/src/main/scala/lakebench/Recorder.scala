package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw run record (numbers, strings,
  * booleans, sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Everything one run measures, kept in memory and written out once at the
  * end. Client operations and unit walls are recorded in every run; spans
  * and Spark-side events only when the run is traced. All times are epoch
  * milliseconds (fractional), so spans, task windows, Catalyst phases and
  * codegen log events share one clock. */
final class Recorder(val traced: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Whether spans are being recorded right now (the traced phase). */
  var spanning = false
  private var nextSpan = 1
  private var stack: List[Int] = Nil
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val units = ArrayBuffer.empty[Map[String, Any]]
  private val phaseWalls = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val gauges = ArrayBuffer.empty[Map[String, Any]]
  private val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val compiles = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasksEnded = new java.util.concurrent.atomic.AtomicLong
  private var sc: org.apache.spark.SparkContext = _

  /** Tasks finished so far (traced runs), after draining the listener bus. */
  def taskCount(): Long = {
    org.apache.spark.lakebench.Bus.drain(sc)
    tasksEnded.get
  }

  /** A span around one call into a layer; a no-op outside the traced phase. */
  def span[T](layer: String, name: String, kind: String = "")(body: => T): T =
    if (!spanning) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "kind" -> kind, "start" -> start, "end" -> nowMs)
      }
    }

  /** One timed client operation (a query, a commit, a read), wrapped in a
    * top-level span of its layer. A throw is recorded as a failed op and
    * rethrown. */
  def op[T](kind: String, layer: String, name: String, unit: Int)(body: => T): T = {
    val start = nowMs
    var ok = false
    try {
      val r = span(layer, name, kind)(body)
      ok = true
      r
    } finally {
      val ms = nowMs - start
      ops += Map("kind" -> kind, "name" -> name, "unit" -> unit,
        "ms" -> ms, "ok" -> ok, "traced" -> spanning)
      System.err.println(f"[lakebench] unit $unit%d $name%s $ms%.1f ms${if (ok) "" else " FAILED"}%s")
    }
  }

  def unit(idx: Int, wallMs: Double): Unit =
    units += Map("idx" -> idx, "wall_ms" -> wallMs, "traced" -> spanning)

  /** Wall of one measured phase (untraced, or traced), pauses excluded. */
  def phase(wallMs: Double): Unit =
    phaseWalls += Map("wall_ms" -> wallMs, "traced" -> spanning)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[lakebench] check failed: $name $detail")
  }

  /** A sampled value (bytes, file counts, rows), stamped with its time. */
  def gauge(name: String, value: Double): Unit =
    gauges += Map("name" -> name, "value" -> value, "t" -> nowMs, "traced" -> spanning)

  def fact(name: String, value: Any): Unit = facts(name) = value

  /** Catalyst phase times of one executed query. Kept whenever the run is
    * traced; the report keeps those that fall inside a traced span. */
  def phasesOf(qe: QueryExecution): Unit =
    if (traced) {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val end = p.values.map(_.endTimeMs).foldLeft(0L)(math.max).toDouble
      phases.add(Map("t" -> (if (end > 0) end else nowMs), "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
    }

  /** Hooks Spark's scheduler events, Dataset-action Catalyst phases and
    * codegen compile log lines into this record (traced runs only). */
  def attach(spark: SparkSession): Unit = if (traced) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Map("t" -> e.time.toDouble, "stages" -> e.stageInfos.size))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val i = e.taskInfo
        val m = e.taskMetrics
        tasksEnded.incrementAndGet()
        if (m != null) tasks.add(Map(
          "launch" -> i.launchTime.toDouble, "finish" -> i.finishTime.toDouble,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "deser_ms" -> m.executorDeserializeTime,
          "result_ser_ms" -> m.resultSerializationTime,
          "getting_result_ms" -> (if (i.gettingResultTime > 0)
            i.finishTime - i.gettingResultTime else 0L),
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        phasesOf(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    attachCodegenLog()
  }

  /** CodegenMetrics keeps compile times only in a sampling histogram, so the
    * exact per-compile milliseconds come from the generator's own
    * "Code generated in N ms" log line, captured by a dedicated appender. */
  private def attachCodegenLog(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
    val appender = new AbstractAppender("lakebench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pattern(ms) => compiles.add(Map("t" -> e.getTimeMillis.toDouble,
            "ms" -> ms.toDouble))
          case _ =>
        }
    }
    appender.start()
    cfg.addAppender(appender)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def write(path: String, spark: SparkSession, extra: Map[String, Any]): Unit = {
    if (traced) org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
    val rec = extra ++ Map(
      "facts" -> facts, "ops" -> ops, "units" -> units, "phases_wall" -> phaseWalls, "checks" -> checks,
      "spans" -> spans, "gauges" -> gauges,
      "phases" -> phases.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq, "compiles" -> compiles.asScala.toSeq)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json(rec).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Order-insensitive content hash of a result: per row, xxhash64 over every
  * column rendered as a string in column-name order; rows are summed
  * (wrapping), so the hash is a multiset hash, and the row count rides
  * along. */
object ResultHash {
  def apply(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val names = df.columns
    val order = names.indices.sortBy(i => (names(i), i))
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val h = pos.select(xxhash64(order.map(i => col(s"c$i").cast("string")): _*))
    h.queryExecution.toRdd.map(_.getLong(0))
      .aggregate((0L, 0L))((a, x) => (a._1 + x, a._2 + 1), (a, b) => (a._1 + b._1, a._2 + b._2))
  }
}
