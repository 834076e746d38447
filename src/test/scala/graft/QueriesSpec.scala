package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the cluster-wide deployment path for graft's SQL functions — a
      // static conf, so it must be present when the context starts
      // (ExtensionsSpec asserts the injected functions resolve)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** The CacheManager's "Asked to cache already cached data" warnings, each
  * attributed to the query (or "warm-up") running when it was logged. */
object CacheWarnings {
  private val current = new java.util.concurrent.atomic.AtomicReference("warm-up")

  def in[T](name: String)(body: => T): T = {
    val was = current.getAndSet(name)
    try body finally current.set(was)
  }

  /** Run `body` and return the label of every warning logged meanwhile. */
  def during(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val appender = new AbstractAppender("graft-cache-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Asked to cache already cached data"))
          seen.add(current.get)
    }
    appender.start()
    cfg.addAppender(appender)
    val name = "org.apache.spark.sql.execution.CacheManager"
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
    try body
    finally {
      cfg.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }
}

class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every truth twin names a registered query") {
    // a renamed registry entry must not silently fall out of the bench's
    // truth-twin bucket (the Θ(N²) queries Bench reports separately)
    val unknown = SparkEntry.truthTwins -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"truthTwins not in registry: $unknown")
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracleSql keys without a query: $missing")
  }

  /** The registry run's own session, so the artifact-policy test reads
    * exactly what the warm-up walk and the registry did in it — not what
    * other suites built in the shared session. */
  private lazy val registrySession = spark.newSession()
  @volatile private var registryRan = false

  test("every registered query runs and returns rows on sf0.001") {
    val s = registrySession
    // start from an empty CacheManager, as a Verify or Bench process does:
    // other suites' cached plans would otherwise collide with this run's
    Caches.clear(spark)
    // the bench's order: the warm-up walk, then the queries. Every
    // artifact read is attributed to whoever made it, so the policy test
    // below measures consumers instead of trusting comments
    val twice = CacheWarnings.during {
      Artifacts.warmedAll.foreach(a => Artifacts.materialize(Artifacts.warmBuild(s, sf, a)))
      SparkEntry.queries.foreach { case (name, fn) =>
        val n = CacheWarnings.in(name)(Artifacts.consumedBy(name)(fn(s, sf).count()))
        assert(n > 0, s"$name returned 0 rows")
      }
    }
    registryRan = true
    // a plan cached a second time is a query rebuilding a frame another
    // query or build already cached: sharing by plan identity, not by an
    // artifact read
    assert(twice.isEmpty,
      s"plans cached twice, by query: ${twice.groupBy(identity).map {
        case (q, ws) => s"$q x${ws.size}" }.toSeq.sorted.mkString(", ")}")
    // the registry persists every frame it hands out
    val cm = s.sharedState.cacheManager
    val uncached = Artifacts.held(s).collect {
      case (name, v) if Artifacts.frames(v).exists(df =>
          cm.lookupCachedData(ClassicConversions.castToImpl(df)).isEmpty) => name
    }
    assert(uncached.isEmpty, s"artifact frames not cached: ${uncached.distinct.sorted.mkString(", ")}")
  }

  test("artifact policy holds over the registry run: warmed iff shared, built once") {
    assume(registryRan, "reads the records of the registry run above")
    val queries = SparkEntry.queries.keySet
    val uses = Artifacts.usage(registrySession)
    val stored = Artifacts.warmedAll.map(a => a.name -> a.warm.get.stored).toMap
    // warm: built or read by the walk, the reads inside its builds included
    val warm = uses.collect {
      case u if (u.direct ++ u.within).exists(_.startsWith(Artifacts.warmer("")))
        => (u.name, u.key)
    }.toSet
    // a consumer reads the artifact itself, not inside another one's build
    val consumers = uses.map(u => (u.name, u.key) -> (u.direct & queries)).toMap
    def show(ks: Iterable[((String, Any), Set[String])]) =
      ks.map { case ((n, k), qs) => s"$n $k <- ${qs.toSeq.sorted.mkString(",")}" }
        .toSeq.sorted.mkString("\n  ", "\n  ", "")
    val thin = uses.collect {
      case u if u.direct(Artifacts.warmer(u.name)) && !stored(u.name) &&
          consumers((u.name, u.key)).size < 2 =>
        (u.name, u.key) -> consumers((u.name, u.key))
    }
    val cold = consumers.filter { case (k, qs) => qs.size >= 2 && !warm(k) }
    val twice = uses.collect {
      case u if u.builds > 1 => (u.name, u.key) -> (u.direct ++ u.within)
    }
    assert(warm.nonEmpty && thin.isEmpty && cold.isEmpty && twice.isEmpty,
      s"\nwarmed with fewer than 2 consumers and not stored:${show(thin)}" +
        s"\nshared by 2+ queries but not warmed:${show(cold)}" +
        s"\nbuilt more than once in the session:${show(twice)}")
  }

  test("business days: exactly 30, none on weekends") {
    val days = serve.LensQueries.businessDays(spark, sf).collect().map(_.getString(0))
    assert(days.length == 30)
    val dows = days.map(java.time.LocalDate.parse(_).getDayOfWeek)
    assert(!dows.contains(java.time.DayOfWeek.SATURDAY))
    assert(!dows.contains(java.time.DayOfWeek.SUNDAY))
    assert(days.toSeq == days.toSeq.sorted)
  }

  test("last_value picks exactly one row per user") {
    val df = serve.LensQueries.lastValuePerKey(spark, sf)
    val users = df.select("user_id").collect().map(_.getLong(0))
    assert(users.length == users.distinct.length)
  }

  test("tail-n caps at 5 per event_type") {
    val df = serve.LensQueries.tailNPerKey(spark, sf)
    val byType = df.groupBy("event_type").count().collect()
    assert(byType.forall(_.getLong(1) <= 5))
  }

  test("terms other bucket: top rows + remainder sum to total") {
    val df = serve.LensQueries.termsOtherBucket(spark, sf).collect()
    val total = df.map(_.getLong(1)).sum
    val all = Tables.events(spark, sf).count()
    assert(total == all)
    assert(df.count(_.getString(0) == "__other__") <= 1)
  }

  test("date spine pads empty buckets with 0 and covers full range per type") {
    val rows = serve.LensQueries.dateSpinePadded(spark, sf).collect()
    val types = rows.map(_.getString(0)).distinct
    val daysPerType = rows.groupBy(_.getString(0)).map(_._2.length).toSet
    assert(daysPerType.size == 1, "every type must cover the identical spine")
    assert(rows.forall(_.getLong(2) >= 0))
    assert(types.nonEmpty)
  }

  test("approx percentiles within 10% of exact") {
    val exact = serve.MoreQueries.percentilesQuery(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = serve.MoreQueries.percentileApproxQuery(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      assert(math.abs(approx(k)._1 - p50) / p50 < 0.1, s"$k p50")
      assert(math.abs(approx(k)._2 - p90) / p90 < 0.1, s"$k p90")
    }
  }

  test("approx cardinality within 5% of exact") {
    val exact = serve.LensQueries.cardinality(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = serve.LensQueries.cardinalityApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("flagship: no lost fact rows, arithmetic invariant") {
    val enriched = etl.Combine.enrichedOrders(spark, sf)
    assert(enriched.count() == Tables.orders(spark, sf).count())
    val bad = enriched.filter(
      org.apache.spark.sql.functions.col("avg_item_price") <= 0).count()
    assert(bad == 0)
  }
}
