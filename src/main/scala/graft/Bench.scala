package graft
import org.apache.spark.sql.SparkSession

object Bench {
  private def loadavgNow(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Self-defending quiet-machine gate: external CPU steal inflates every
    * query 15-40% (two judge-side rounds landed at pre-load 3.5-7.8), so
    * wait — bounded — for the 1-min loadavg to drop below `threshold`
    * before starting. Returns the final pre-run sample; callers stamp
    * `tainted=true` in the emitted JSON when the gate was never met, so a
    * contaminated artifact can never be silently compared round-over-round. */
  private[graft] def awaitQuiet(threshold: Double, maxWaitMs: Long): Double = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var lv = loadavgNow()
    while (lv >= threshold && lv >= 0.0 && System.currentTimeMillis() < deadline) {
      System.err.println(s"[bench] loadavg $lv >= $threshold — sleeping 30s for a quiet machine")
      Thread.sleep(30000)
      lv = loadavgNow()
    }
    lv
  }

  // ------------------------------------------------ per-query steal detection
  /** The pre-run loadavg gate is blind to MID-RUN steal: r6's artifact
    * passed the gate at 0.66, then an external ~6-minute CPU burst inflated
    * a contiguous band of queries 5-12× with `tainted:false` stamped on it.
    * Loadavg cannot police the run itself (the 1-min average is dominated
    * by the bench's own 32-core burn), so each query is instead bracketed
    * by jiffy counters: total machine busy time from `/proc/stat` minus
    * this JVM's own time from `/proc/self/stat` = CPU burned by OTHER
    * processes during the query's wall window. A query whose window shows
    * sustained external compute is stamped tainted; `clean_total` sums the
    * untainted ones, and tainted queries get one end-of-run retry. */
  private[graft] case class CpuSnap(busyJiffies: Long, selfJiffies: Long, ok: Boolean)

  /** Linux USER_HZ — fixed at 100 on every mainstream kernel/arch
    * (`getconf CLK_TCK`); only jiffy RATIOS vs wall time are consumed, so
    * an exotic 250/1000 Hz kernel would only scale the taint threshold. */
  private val Hz = 100.0

  private[graft] def cpuSnap(): CpuSnap =
    try {
      // /proc/stat line 1: "cpu  user nice system idle iowait irq softirq steal ..."
      // (Files.readAllBytes, not Source.fromFile — the latter leaks an fd
      // per call and this runs 2+ times per query)
      val f = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + f(2) + f(5) + f(6) +
        (if (f.length > 7) f(7) else 0L) // + steal when virtualized
      // /proc/self/stat field 2 (comm) may contain spaces — parse from the
      // LAST ')' ; utime/stime/cutime/cstime are overall fields 14-17,
      // i.e. indices 11-14 of the post-comm remainder (state is field 3)
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      val rest = raw.substring(raw.lastIndexOf(')') + 1).trim.split("\\s+")
      val self = rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
      CpuSnap(busy, self, ok = true)
    } catch { case _: Throwable => CpuSnap(0L, 0L, ok = false) }

  /** CPU-seconds burned by processes OTHER than this JVM between two snaps;
    * None when either snap failed (⇒ caller must treat the window as
    * unverifiable, not clean). */
  private[graft] def externalCpuSec(a: CpuSnap, b: CpuSnap): Option[Double] =
    if (!a.ok || !b.ok) None
    else Some(math.max(0.0,
      ((b.busyJiffies - a.busyJiffies) - (b.selfJiffies - a.selfJiffies)) / Hz))

  /** Taint rule: external compute above `coresThreshold` CPUs sustained
    * over the window, with a 50 ms absolute floor so jiffy granularity
    * cannot flag a sub-100 ms query (at 100 Hz a 40 ms window is only ~4
    * ticks per CPU — ±1-tick noise would otherwise read as half a core). */
  private[graft] def taintedWindow(extSec: Double, wallSec: Double,
      coresThreshold: Double): Boolean =
    extSec > coresThreshold * wallSec + 0.05

  // ------------------------------------------------- calibration canary
  /** The r14 failure the jiffy counters could NOT see: the driver's
    * official run was a ~1.55× UNIFORM inflation across 228 queries with
    * near-zero external jiffies — hypervisor-level steal / frequency /
    * cache contention is invisible to an in-container /proc. The defense
    * is a fixed, deterministic, single-thread CPU kernel timed between
    * every [[CanaryEvery]] queries: its wall time measures how fast this
    * machine actually executes ALU work RIGHT NOW, independent of what
    * /proc claims about other processes.
    *
    * Two detections ride on it:
    *  - SEGMENT: a sample slower than [[CanarySegmentFactor]] × the run's
    *    own fastest sample marks the queries since the previous sample
    *    tainted (a local invisible burst) — they get the normal rescue
    *    retry, each retry re-certified by its own canary sample;
    *  - RUN: the run's MEDIAN sample against the pinned reference
    *    [[CanaryRefSec]] (measured on the sandbox machine at pin time;
    *    override with SPARK_GRAFT_CANARY_REF on other hardware). A median
    *    above [[CanaryRunFactor]] × ref is the r14 shape — uniformly slow
    *    with a clean jiffy story — and stamps the WHOLE artifact tainted:
    *    a 1.55× run can never again publish `tainted:false`.
    * All canary fields ride both JSON lines so the detection is auditable
    * from the artifact alone. */
  private[graft] val CanaryIters: Int = 1 << 25

  /** xorshift64* body — pure ALU, no memory traffic, no allocation; the
    * result is folded into a sink so the JIT cannot dead-code it. */
  private[graft] def canaryOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < CanaryIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    canarySink = acc
    (System.nanoTime() - t0) / 1e9
  }
  @volatile private var canarySink: Long = 0L

  /** One sample POINT = min of 3 kernel runs: a single run has ~1.8×
    * scheduling/frequency jitter even on a quiet machine (measured at
    * calibration), while a genuine external slowdown — steal, frequency
    * cap, cache contention — slows ALL three runs; the min keeps the
    * signal and sheds the jitter. ~0.2 s per point. */
  private[graft] def canarySample(): Double =
    Seq(canaryOnce(), canaryOnce(), canaryOnce()).min

  // ------------------------------------------- memory-bandwidth canary
  /** The ALU canary's blind spot, measured on this very sandbox (r15
    * forensics of three same-HEAD untainted runs spanning 125.9–143.4 s):
    * the runs' ALU canaries were IDENTICAL while the fleet inflated
    * ~9–13% broadly — a MEMORY-side slowdown (bandwidth/LLC contention,
    * THP/NUMA layout, GC pressure) that a register-only xorshift kernel
    * cannot feel. This second kernel streams a 128 MB long array touching
    * one element per cache line (stride 8 × 8 B = 64 B), 4 passes, so its
    * wall time is bandwidth-bound (~50 ms on the quiet sandbox).
    *
    * Since r16 it IS a taint input ([[canaryMemRunSlow]]), with
    * thresholds set from the accumulated honest-run distribution rather
    * than the ALU rule's 1.4×-on-median verbatim: honest runs show the
    * MEDIAN polluted by the bench's own cache/page/GC churn (r15 full
    * run 1.18× ref; an r16 honest 8-query run read 1.93× median while
    * its MIN stayed 1.09×), so a median threshold tight enough to catch
    * steal would false-taint honest runs. The robust primary signal is
    * the run's MIN sample: a sustained external bandwidth steal slows
    * EVERY sample — including the min — while self-inflicted transients
    * never do (min-of-3 per point sheds them twice over). A 3×-ref
    * median secondary catches heavy intermittent steal the min rule is
    * structurally blind to. All fields still ride both JSON lines
    * (`canary_mem_*`, plus the `canary_mem_tainted` verdict) so the
    * thresholds stay auditable against future rounds' samples. */
  private[graft] val MemCanaryLongs: Int = 1 << 24 // 128 MB
  private lazy val memCanaryArr: Array[Long] = {
    val a = new Array[Long](MemCanaryLongs)
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 8 }
    a
  }

  private[graft] def canaryMemOnce(): Double = {
    val a = memCanaryArr
    val t0 = System.nanoTime()
    var acc = 0L
    var pass = 0
    while (pass < 4) {
      var i = 0
      while (i < a.length) { acc += a(i); i += 8 } // one touch per line
      pass += 1
    }
    canarySink = acc
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def canaryMemSample(): Double =
    Seq(canaryMemOnce(), canaryMemOnce(), canaryMemOnce()).min

  private[graft] val CanaryMemRunMinFactor = 1.5
  private[graft] val CanaryMemRunMedianFactor = 3.0

  /** Run-level memory-bandwidth taint (see the kernel's doc above for the
    * threshold calibration): the MIN sample above 1.5× ref means every
    * sample of the run was slow — the bandwidth-side analogue of the r14
    * uniform-inflation shape — and the MEDIAN above 3× ref means the run
    * spent most of its life bandwidth-starved even if brief quiet gaps
    * let the min through. The 5 ms floor mirrors the ALU segment rule:
    * timer granularity on a fast kernel must not flag. */
  private[graft] def canaryMemRunSlow(minSec: Double, medianSec: Double,
      refSec: Double,
      minFactor: Double = CanaryMemRunMinFactor,
      medianFactor: Double = CanaryMemRunMedianFactor): Boolean =
    minSec > minFactor * refSec + 0.005 ||
      medianSec > medianFactor * refSec + 0.005

  /** Quiet-sandbox reference for the memory kernel (min of 10 post-JIT
    * samples via the calibration mode — 0.0220 measured at r15 pin time,
    * ≈ 23 GB/s effective; override with SPARK_GRAFT_CANARY_MEM_REF on
    * other hardware). */
  private[graft] val CanaryMemRefSec: Double = 0.022

  private[graft] def medianOf(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Reference canary time, measured on the quiet sandbox machine at pin
    * time (min of 10 post-JIT samples; see tools — re-pin when the fleet
    * hardware changes, or override via SPARK_GRAFT_CANARY_REF). */
  private[graft] val CanaryRefSec: Double = 0.060

  private[graft] val CanaryEvery = 8
  private[graft] val CanarySegmentFactor = 1.3
  private[graft] val CanaryRunFactor = 1.4

  /** Segment rule: sample slower than factor × the run's own fastest, with
    * a 5 ms floor so timer noise on a fast kernel cannot flag. */
  private[graft] def canarySegmentSlow(sampleSec: Double, runMinSec: Double,
      factor: Double = CanarySegmentFactor): Boolean =
    sampleSec > factor * runMinSec + 0.005

  /** Run rule: the median sample against the pinned reference — a uniform
    * slowdown shifts EVERY sample, so the median is the robust signal
    * (segments compare against the run's own min and stay blind to it). */
  private[graft] def canaryRunSlow(medianSec: Double, refSec: Double,
      factor: Double = CanaryRunFactor): Boolean =
    medianSec > factor * refSec

  /** The rescue-flattering bound, machine-stamped (r13 verdict task 2): a
    * burst-rescued query's kept retry ran after the whole fleet, so warm
    * session memos can undercut its honest position-ordered first-run
    * cost. The worst case the artifact must expose is "every rescue kept
    * only warm-cache savings": total + Σ max(0, first_run − kept) over the
    * rescued queries. Crashed first runs (-1 sentinel) contribute nothing
    * — there is no honest first-run time to restore. The gate is NOT
    * satisfiable by rescue-flattering that no artifact exposes: this
    * number rides both JSON lines next to `value`. */
  private[graft] def honestWorstCaseTotal(total: Double,
      rescued: Seq[(Double, Double)]): Double =
    total + rescued.collect {
      case (f, k) if f >= 0.0 && k >= 0.0 && f > k => f - k
    }.sum

  /** Second-draw rule (r17 verdict task 4): the r17 driver run drifted
    * +7% from the committed pin while its mem-canary MAX spiked (0.171 s
    * vs honest maxes 0.05–0.156 across the r15–r17 untainted runs) — a
    * contention signature too mild for the taint rules (min/median stayed
    * honest) yet strong enough to inflate the round's headline. When the
    * untainted clean_total exceeds the committed pin by > 5% AND the mem
    * canary max clears the honest-run P95, the artifact carries
    * `rerun_recommended:true`: "this number is real but likely
    * contention-inflated — draw again before pinning or comparing". Both
    * legs are required: r16's honest driver run had max 0.156 with a
    * clean_total inside 2% of pin (no flag), r17 had both (flag). Never
    * flagged on filtered runs (no comparable pin denominator) or tainted
    * ones (already visibly suspect). */
  private[graft] val RerunPinExcessFactor = 1.05
  private[graft] val CanaryMemMaxHonestP95Sec = 0.15
  private[graft] def rerunRecommended(cleanTotal: Double,
      pinCleanTotal: Option[Double], memMaxSec: Double,
      filtered: Boolean, tainted: Boolean): Boolean =
    !filtered && !tainted && pinCleanTotal.exists(pin =>
      cleanTotal > pin * RerunPinExcessFactor &&
        memMaxSec > CanaryMemMaxHonestP95Sec)

  /** The pin is only a comparator for a run over the SAME sf dir AND the
    * same core count it was measured with: a full-registry run at another
    * SF, or a 4-core draw against a 32-core pin, differs from the pinned
    * total for honest reasons, and flagging it would teach readers to
    * ignore the flag (review finding, r18). A pin that records no `cpus`
    * is not comparable. An explicit SPARK_GRAFT_PIN_CLEAN_TOTAL override
    * skips the check — the caller chose their comparator. */
  private[graft] def pinComparable(pinSf: Option[String], runSf: String,
      pinCpus: Option[Int], runCpus: Int, explicitOverride: Boolean): Boolean =
    explicitOverride || (pinSf.contains(runSf) && pinCpus.contains(runCpus))

  /** The committed pin's clean_total, read from BENCH_pin.json in the
    * working directory (the driver and builder both bench from the repo
    * root). Regex, not a JSON parser: the one numeric field survives any
    * field reordering, and a missing/garbled pin degrades to None — the
    * flag then never fires rather than erroring the bench. Overridable
    * for off-repo runs via SPARK_GRAFT_PIN_CLEAN_TOTAL. */
  private[graft] def pinCleanTotal(): Option[Double] =
    // toDoubleOption, not toDouble: a garbled env override must degrade to
    // silence like a garbled pin file, not crash the bench at artifact-
    // emission time after the whole fleet ran (review finding, r18)
    sys.env.get("SPARK_GRAFT_PIN_CLEAN_TOTAL").flatMap(_.toDoubleOption)
      .orElse(pinField(""""clean_total"\s*:\s*([0-9.]+)""")
        .flatMap(_.toDoubleOption))

  /** The pin's recorded sf dir, for [[pinComparable]]. */
  private[graft] def pinSf(): Option[String] =
    pinField(""""sf"\s*:\s*"([^"]+)"""")

  /** The pin's recorded core count, for [[pinComparable]]. */
  private[graft] def pinCpus(): Option[Int] =
    pinField(""""cpus"\s*:\s*([0-9]+)""").flatMap(_.toIntOption)

  private def pinField(regex: String): Option[String] =
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_PIN_FILE", "BENCH_pin.json"))
      if (!java.nio.file.Files.exists(p)) None
      else regex.r
        .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(_.group(1))
    } catch { case _: Throwable => None }

  /** (headline total, clean total) over (sec, tainted) rows. The -1 crash
    * sentinel is excluded from BOTH sums: summed, each crash would silently
    * DEDUCT a second and make a broken run read faster than a green one
    * (the r7 artifact's `value` = clean_total − 30×1.0). When nothing is
    * tainted and nothing crashed, the two sums are identical by
    * construction — BenchTaintSpec pins this. */
  private[graft] def headlineTotals(rows: Seq[(Double, Boolean)]): (Double, Double) = {
    val ran = rows.filter(_._1 >= 0.0)
    (ran.map(_._1).sum, ran.collect { case (s, t) if !t => s }.sum)
  }

  // ----------------------------------------------------------- warm-up
  /** Untimed warm-up: session/codegen spin-up, then a walk over the
    * warmed and stored artifacts [[Artifacts]] declares, in declaration
    * order — each one's default build, with every DataFrame of its value
    * executed. The walk runs no registry query: every query, probes and
    * per-query projections included, stays timed. Each touch is
    * independent and failure-isolated: a broken artifact surfaces in its
    * own consumers' timing or crash and in `warmup_failed`.
    *
    * The log's per-touch wall seconds keep the UNTIMED pre-build cost a
    * visible, comparable artifact number (`warmup_sec`): warming moves
    * work out of the timed region by design, and without it that
    * relocation could silently shrink the timed denominator round over
    * round. Informational, threshold-free — BenchTaintSpec pins the
    * accounting. */
  private def warmup(spark: SparkSession, sfDir: String): WarmupLog = {
    val log = new WarmupLog
    log.touch("entry")(SparkEntry.entry(spark))
    Artifacts.warmedAll.foreach(a => log.touch(a.name)(Artifacts.warmBuild(spark, sfDir, a)))
    log
  }

  /** The warm-up's record: every touch's wall seconds, in order, and the
    * tags whose touch threw (`warmup_failed` in both JSON lines). A failed
    * touch is isolated — the next one still runs — and the seconds it
    * spent still count toward `warmup_sec`. */
  private[graft] final class WarmupLog {
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def touch(tag: String)(value: => Any): Unit = {
      val t0 = System.nanoTime()
      try Artifacts.materialize(value)
      catch { case e: Throwable =>
        failed += tag
        System.err.println(s"[bench] warmup $tag failed: $e") }
      timings += tag -> (System.nanoTime() - t0) / 1e9
    }
  }

  /** Per-artifact `{"builds":b,"hits":h}` over the whole run, warm-up
    * included, in declaration order — a build count above 1 is a silent
    * rebuild made visible. */
  private[graft] def artifactCounts(counts: Seq[(String, Long, Long)]): String =
    counts.map { case (name, b, h) => s""""$name":{"builds":$b,"hits":$h}""" }
      .mkString("{", ",", "}")

  /** Sum of the per-touch warm-up seconds, 3 dp — the artifact's
    * `warmup_sec` (BenchTaintSpec pins the arithmetic). */
  private[graft] def warmupTotal(touches: Seq[(String, Double)]): Double =
    math.rint(touches.map(_._2).sum * 1e3) / 1e3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // calibration mode: print post-JIT canary samples and exit (used to
    // pin CanaryRefSec — run on the quiet bench machine)
    if (sys.env.contains("SPARK_GRAFT_CANARY_CAL")) {
      (1 to 10).foreach(_ => canaryOnce())
      val samples = (1 to 10).map(_ => canarySample())
      (1 to 3).foreach(_ => canaryMemOnce())
      val mem = (1 to 10).map(_ => canaryMemSample())
      println(s"""{"canary_samples":[${samples.map(s => f"$s%.4f").mkString(",")}],"min":${f"${samples.min}%.4f"},"median":${f"${medianOf(samples)}%.4f"},"mem_samples":[${mem.map(s => f"$s%.4f").mkString(",")}],"mem_min":${f"${mem.min}%.4f"},"mem_median":${f"${medianOf(mem)}%.4f"}}""")
      return
    }
    // sample BEFORE any work: the end-of-run 1-min average always reflects
    // the bench's own 32-core burn, telling you nothing about external
    // steal — the pre-run value is the "was the machine quiet" signal.
    // Sleep-retry (up to 10 min, overridable) until the machine is quiet;
    // if it never gets quiet, run anyway but mark the artifact tainted.
    val quietThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOADAVG_MAX", "1.0").toDouble
    val maxWaitMs =
      sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT_SEC", "600").toLong * 1000L
    // external cores a query's window may absorb before its time is
    // uncertifiable — 0.5 is far under the 15-40% inflation real steal
    // bursts produce on 32 threads, far over jiffy noise
    val taintCores =
      sys.env.getOrElse("SPARK_GRAFT_TAINT_CORES", "0.5").toDouble
    val canaryRef =
      sys.env.get("SPARK_GRAFT_CANARY_REF").map(_.toDouble).getOrElse(CanaryRefSec)
    val loadavgStart = awaitQuiet(quietThreshold, maxWaitMs)
    // an unreadable loadavg (-1) means the machine was NEVER verified quiet
    // — that must read as tainted, not clean
    val preGateTainted = !(loadavgStart >= 0.0 && loadavgStart < quietThreshold)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmupLog = warmup(spark, sfDir)
    val warmupTouches = warmupLog.timings.toSeq
    // optional comma-separated name filter for targeted perf iteration —
    // the driver never sets it, so the per-round artifact always covers the
    // full registry. Filtered artifacts are STAMPED as such below: a
    // partial run must never pass for a full-registry pin.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    /** One measured execution: (elapsed sec — -1.0 on crash, external
      * CPU-sec during the window — None if unverifiable). */
    def runOne(fn: SparkEntry.Q): (Double, Option[Double]) = {
      val c0 = cpuSnap()
      val t0 = System.nanoTime()
      // toRdd.count() executes the FULL physical plan (projections included);
      // Dataset.count() would let Catalyst prune all computed columns and
      // time an empty aggregate instead of the query.
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
      val wall = (System.nanoTime() - t0) / 1e9
      val ext = externalCpuSec(c0, cpuSnap())
      // a crashed query must be visibly -1, not a fast-looking elapsed time
      (if (ok) wall else -1.0, ext)
    }
    case class Timing(sec: Double, extSec: Option[Double], rerun: Boolean,
        canarySlow: Boolean = false) {
      // an unverifiable window (proc unreadable) must read tainted, not clean
      def jiffyTainted: Boolean =
        sec >= 0.0 && (extSec match {
          case Some(e) => taintedWindow(e, sec, taintCores)
          case None => true
        })
      def tainted: Boolean = jiffyTainted || (sec >= 0.0 && canarySlow)
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    // canary baseline: 3 JIT-warm runs, then 3 pre-fleet samples (index -1)
    (1 to 3).foreach(_ => canaryOnce())
    (1 to 2).foreach(_ => canaryMemOnce())
    val canarySamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val canaryMemSamples = scala.collection.mutable.ArrayBuffer[Double]()
    (1 to 3).foreach { _ =>
      canarySamples += ((-1, canarySample()))
      canaryMemSamples += canaryMemSample()
    }
    val first = scala.collection.mutable.LinkedHashMap[String, Timing]()
    names.zipWithIndex.foreach { case ((name, fn), i) =>
      val (sec, ext) = runOne(fn)
      first(name) = Timing(sec, ext, rerun = false)
      if (i % CanaryEvery == CanaryEvery - 1) {
        canarySamples += ((i, canarySample()))
        canaryMemSamples += canaryMemSample()
      }
    }
    canarySamples += ((names.size - 1, canarySample()))
    canaryMemSamples += canaryMemSample()
    // segment taint: a slow in-fleet sample marks every query since the
    // previous sample (the window the invisible burst must have hit)
    val canaryMin = canarySamples.map(_._2).min
    val canaryMedian = medianOf(canarySamples.map(_._2).toSeq)
    val canaryMax = canarySamples.map(_._2).max
    val canaryTaintedIdx = scala.collection.mutable.Set[Int]()
    canarySamples.toSeq.sliding(2).foreach {
      case Seq((prevI, _), (i, sec)) if i >= 0 =>
        if (canarySegmentSlow(sec, canaryMin))
          (math.max(0, prevI + 1) to i).foreach(canaryTaintedIdx += _)
      case _ => ()
    }
    val idxOf = names.map(_._1).zipWithIndex.toMap
    val firstFlagged = first.map { case (name, t) =>
      name -> t.copy(canarySlow = canaryTaintedIdx.contains(idxOf(name)))
    }
    // one end-of-run retry for every tainted query: a transient external
    // burst (the r6 artifact's failure mode) has usually passed by then, so
    // the retry rescues the query into clean_total; if the retry window is
    // ALSO dirty the query stays flagged (keep the smaller time — steal
    // only ever inflates). Memoized/cached state from the first pass makes
    // retries cheap but NOT free of meaning: the steady-state time is what
    // the bench pins for memoized queries anyway. CAVEAT: a retry runs
    // after the WHOLE fleet, so sibling queries may have warmed shared
    // caches the query's position-ordered first run would not see — a
    // rescued time can undercut the same query's quiet-round time. That is
    // why every rescued query is stamped in `rerun_queries`: compare those
    // entries with that grain of salt, or rerun the bench quiet.
    //
    // Before the rescue pass, wait (bounded) for any LIVE external burst to
    // pass: the sandbox's bursts run for tens of seconds, and retrying INTO
    // one burns the single retry a tainted query gets (observed r13: a
    // full-registry run ended with 4 residual taints because the rescue
    // pass ran inside the burst that caused them). One 3 s jiffy sample per
    // probe; unverifiable windows keep waiting — they could not certify a
    // retry either.
    if (firstFlagged.values.exists(_.tainted)) {
      val deadline = System.currentTimeMillis() + 120000L
      var quiet = false
      while (!quiet && System.currentTimeMillis() < deadline) {
        val a = cpuSnap(); Thread.sleep(3000); val b = cpuSnap()
        quiet = externalCpuSec(a, b).exists(_ <= taintCores * 3.0) &&
          !canarySegmentSlow(canarySample(), canaryMin)
        if (!quiet)
          System.err.println("[bench] external burst live — delaying the rescue pass")
      }
    }
    val results = firstFlagged.map { case (name, t) =>
      if (!t.tainted) name -> t
      else {
        val (sec2, ext2) = runOne(SparkEntry.queries(name))
        // the retry's own canary certificate: a slow sample right after the
        // retry means the invisible burst is still live — the rescue must
        // not launder the query back into clean_total
        val retrySlow = canarySegmentSlow(canarySample(), canaryMin)
        val retry = Timing(sec2, ext2, rerun = true, canarySlow = retrySlow)
        if (!retry.tainted && retry.sec >= 0.0) name -> retry
        else if (retry.sec >= 0.0 && t.sec >= 0.0 && retry.sec < t.sec)
          name -> retry
        else name -> t.copy(rerun = true)
      }
    }.toSeq
    def r3(v: Double): Double = math.rint(v * 1e3) / 1e3
    val qs = results.map { case (k, t) => s"\"" + k + "\":" + r3(t.sec) }
      .mkString("{", ",", "}")
    val taintedNames = results.collect { case (k, t) if t.tainted => k }
    val canaryTaintedNames = results.collect {
      case (k, t) if t.sec >= 0.0 && t.canarySlow => k }
    val rerunNames = results.collect { case (k, t) if t.rerun => k }
    val extMap = results.flatMap { case (k, t) =>
      t.extSec.map(e => s"\"" + k + "\":" + r3(e))
    }.mkString("{", ",", "}")
    // retry provenance: a rescued query's retry ran after the whole fleet
    // (warm sibling caches — see the CAVEAT above), so a pin reader needs
    // BOTH numbers: the position-ordered first attempt and the kept time
    val firstRunMap = results.collect { case (k, t) if t.rerun =>
      s"\"" + k + "\":" + r3(first(k).sec)
    }.mkString("{", ",", "}")
    // the kept side of the same provenance pair, keyed identically, so the
    // honest_worst_case_total arithmetic is re-derivable from the artifact
    // alone (kept is also the queries-map value; duplicated here so the
    // pair reads as one record)
    val keptMap = results.collect { case (k, t) if t.rerun =>
      s"\"" + k + "\":" + r3(t.sec)
    }.mkString("{", ",", "}")
    def jArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // headline total sums only queries that RAN (sec >= 0, headlineTotals
    // drops the -1 crash sentinels); clean_total additionally requires the
    // window verified externally-quiet — the number that IS comparable
    // round-over-round even when a burst hit the run (the r6 failure mode:
    // a clean pre-gate, a dirty middle)
    val (totalRaw, cleanTotalRaw) =
      headlineTotals(results.map { case (_, t) => (t.sec, t.tainted) })
    val total = r3(totalRaw)
    val cleanTotal = r3(cleanTotalRaw)
    // Θ(N²)-by-contract verification twins, bucketed out of the headline
    // linear total: their cost grows quadratically with bench SF by DESIGN
    // (they bracket the sub-quadratic primaries), so inside one total they
    // would swamp the linear fleet as SF grows and mask real regressions
    val twins = SparkEntry.truthTwins
    // the -1.0 crash sentinel must stay visible in the per-query map but
    // must NOT be summed into bucket totals (it would silently deduct a
    // second); crashed queries are surfaced by name instead
    val crashedNames = results.collect { case (k, t) if t.sec < 0.0 => k }
    val totalLinear = r3(results.collect {
      case (k, t) if !twins.contains(k) && t.sec >= 0.0 => t.sec }.sum)
    val totalTwins = r3(results.collect {
      case (k, t) if twins.contains(k) && t.sec >= 0.0 => t.sec }.sum)
    val cleanTotalLinear = r3(results.collect {
      case (k, t) if !twins.contains(k) && !t.tainted && t.sec >= 0.0 => t.sec }.sum)
    // the run-level canary verdict (the r14 uniform-inflation shape): the
    // whole artifact is tainted when the machine was provably slow even if
    // no jiffy window fired
    val canarySlowdown = r3(canaryMedian / canaryRef)
    val canaryMemRef = sys.env.get("SPARK_GRAFT_CANARY_MEM_REF")
      .map(_.toDouble).getOrElse(CanaryMemRefSec)
    val canaryMemMedian = medianOf(canaryMemSamples.toSeq)
    val canaryRunTainted = canaryRunSlow(canaryMedian, canaryRef)
    val canaryMemTainted =
      canaryMemRunSlow(canaryMemSamples.min, canaryMemMedian, canaryMemRef)
    val tainted = preGateTainted || canaryRunTainted || canaryMemTainted ||
      taintedNames.nonEmpty
    // the machine-stamped rescue-flattering bound (see honestWorstCaseTotal)
    val honestWorst = r3(honestWorstCaseTotal(totalRaw,
      results.collect { case (k, t) if t.rerun => (first(k).sec, t.sec) }))
    val filtered = only.isDefined
    // the second-draw rule: pin-relative drift + mem-canary max spike,
    // only against a pin measured over the SAME sf dir on the same core
    // count (or an explicit env override — the caller chose their
    // comparator). local[N] runs N task slots; local[*] all host cores
    val runCpus = spark.sparkContext.defaultParallelism
    val pinClean = pinCleanTotal().filter(_ => pinComparable(pinSf(), sfDir,
      pinCpus(), runCpus,
      sys.env.get("SPARK_GRAFT_PIN_CLEAN_TOTAL").exists(_.toDoubleOption.isDefined)))
    val rerunRec = rerunRecommended(cleanTotalRaw, pinClean,
      canaryMemSamples.max, filtered, tainted)
    // loadavg = PRE-run sample (external steal indicator: far above ~1 means
    // the numbers are contaminated and must not be compared round-over-
    // round); loadavg_end is informational (dominated by the bench itself)
    val loadavgEnd = loadavgNow()
    val common = s""""sf":"$sfDir","cpus":$runCpus,"loadavg":$loadavgStart,"loadavg_end":$loadavgEnd,""" +
      s""""tainted":$tainted,"pre_gate_tainted":$preGateTainted,""" +
      s""""tainted_queries":${jArr(taintedNames)},""" +
      s""""crashed_queries":${jArr(crashedNames)},""" +
      s""""rerun_queries":${jArr(rerunNames)},""" +
      s""""canary_ref_sec":$canaryRef,"canary_min_sec":${r3(canaryMin)},""" +
      s""""canary_median_sec":${r3(canaryMedian)},"canary_max_sec":${r3(canaryMax)},""" +
      s""""canary_samples":${canarySamples.size},""" +
      s""""canary_slowdown":$canarySlowdown,""" +
      s""""canary_run_tainted":$canaryRunTainted,""" +
      s""""canary_mem_ref_sec":$canaryMemRef,""" +
      s""""canary_mem_min_sec":${r3(canaryMemSamples.min)},""" +
      s""""canary_mem_median_sec":${r3(canaryMemMedian)},""" +
      s""""canary_mem_max_sec":${r3(canaryMemSamples.max)},""" +
      s""""canary_mem_slowdown":${r3(canaryMemMedian / canaryMemRef)},""" +
      s""""canary_mem_tainted":$canaryMemTainted,""" +
      s""""canary_tainted_queries":${jArr(canaryTaintedNames)},""" +
      s""""honest_worst_case_total":$honestWorst,""" +
      s""""rerun_recommended":$rerunRec,""" +
      s""""pin_clean_total":${pinClean.map(_.toString).getOrElse("null")},""" +
      s""""clean_total":$cleanTotal,"total_linear":$totalLinear,""" +
      s""""total_truth_twins":$totalTwins,"clean_total_linear":$cleanTotalLinear,""" +
      s""""filtered":$filtered,"query_count":${results.size},""" +
      s""""registry_count":${SparkEntry.queries.size},""" +
      s""""warmup_sec":${warmupTotal(warmupTouches)},""" +
      s""""warmup_failed":${jArr(warmupLog.failed.toSeq)},""" +
      s""""artifacts":${artifactCounts(Artifacts.counts(spark))}"""
    // per-query detail first, short summary LAST: the driver tail-captures
    // the END of stdout, so the short line must be the final one to survive
    // truncation. Exactly one line carries "metric":"total" (a
    // grep+json.loads consumer must never see two).
    // rerun_queries/honest_worst_case_total now ride `common` (both lines);
    // the detail line keeps the per-query first_run/kept provenance maps
    val warmupMap = warmupTouches
      .map { case (tag, s) => s"\"" + tag + "\":" + r3(s) }
      .mkString("{", ",", "}")
    val detailLine = s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$qs,"external_cpu_sec":$extMap,"first_run_sec":$firstRunMap,"kept_sec":$keptMap,"warmup_touch_sec":$warmupMap,$common}"""
    println(detailLine)
    println(s"""{"metric":"total","value":$total,"unit":"sec",$common}""")
    // the r7 round artifact lost its per-query map to driver-side stdout
    // truncation — persist the detail line to disk so a pin never depends
    // on how much of stdout survived
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_DETAIL_FILE", "BENCH_detail.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailFile),
      (detailLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailFile: $e") }
    spark.stop()
  }
}
