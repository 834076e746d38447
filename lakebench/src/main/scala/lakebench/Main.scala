package lakebench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * {{{
  *   lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <dir holding sf0.1/ and sf0.001/> --work <scratch dir>
  *                  --out <raw record path> [--golden <query-hash file>]
  *   lakebench.Main --goldens <out dir> --data <dir> --work <scratch dir>
  * }}}
  * The run drives the engine only through its public functions, times the
  * calls from outside and writes a raw record (ops, unit walls, checks and,
  * when traced, spans and Spark events) that `run.py` turns into metrics. */
object Main {

  val Cores = 4

  final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long,
      seconds: Double, data: String, work: String, golden: Map[String, (Long, Long)]) {
    def sf(name: String): String = s"$data/$name"
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val spark = session(work)
    try {
      if (opts.contains("goldens")) Goldens.write(spark, opts("data"), opts("goldens"))
      else run(spark, opts)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val traced = opts("trace") == "1"
    val rec = new Recorder(traced)
    rec.attach(spark)
    val golden = opts.get("golden").map(Goldens.read).getOrElse(Map.empty)
    val ctx = Ctx(spark, rec, opts("seed").toLong, opts("seconds").toDouble,
      opts("data"), opts("work"), golden)
    val setupS = opts("workload") match {
      case "dashboard_warm" => Dashboard.run(ctx)
      case "lake_ingest" => Ingest.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rt = ManagementFactory.getRuntimeMXBean
    rec.write(opts("out"), spark, Map(
      "setup_s" -> setupS,
      "rss_peak_mb" -> vmHwmMb(),
      "jvm_cpu_ticks" -> cpuTicks(),
      "provenance" -> Map(
        "cpus" -> Cores,
        "host_cpus" -> Runtime.getRuntime.availableProcessors,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "xmx" -> rt.getInputArguments.toArray.map(_.toString).find(_.startsWith("-Xmx"))
          .getOrElse("default"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.version"),
        "scala_version" -> scala.util.Properties.versionNumberString)))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** utime + stime of this JVM, in clock ticks (/proc/self/stat fields 14
    * and 15; the command name in field 2 may hold spaces, so split after
    * its closing parenthesis). */
  def cpuTicks(): Long = {
    val stat = scala.io.Source.fromFile("/proc/self/stat").mkString
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }

  /** Since JVM start: the set-up clock includes JVM and session start. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Closed loop for `seconds`: runs whole units of work one after another
    * (at least one) and records each unit's wall. A unit starts while the
    * deadline has not passed; with `fit`, only if one more of the last
    * unit's length still ends by it. `work(u)` returns the milliseconds it
    * paused for output checks, which count in neither unit nor phase walls. */
  def loop(ctx: Ctx, firstUnit: Int, fit: Boolean)(work: Int => Double): Int = {
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    var u = firstUnit
    var pausedMs = 0.0
    var lastNs = 0L
    while (u == firstUnit || System.nanoTime() + (if (fit) lastNs else 0L) < deadline) {
      val t = System.nanoTime()
      val paused = work(u)
      lastNs = System.nanoTime() - t - (paused * 1e6).toLong
      ctx.rec.unit(u, lastNs / 1e6)
      pausedMs += paused
      u += 1
    }
    ctx.rec.phase((System.nanoTime() - start) / 1e6 - pausedMs)
    u
  }

  /** Untraced measured phase, then (traced runs) a second phase of the same
    * length with spans on, for the per-layer metrics and the tracing
    * overhead. */
  def measure(ctx: Ctx, fit: Boolean)(work: Int => Double): Unit = {
    val next = loop(ctx, 0, fit)(work)
    if (ctx.rec.traced) {
      ctx.rec.spanning = true
      try loop(ctx, next, fit)(work) finally ctx.rec.spanning = false
    }
  }
}
