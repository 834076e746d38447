package graft.serve

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file column statistics for [[TxTable]] manifests — the metadata that
  * makes data skipping possible: a reader (or a MERGE writer) consults the
  * manifest's (lo, hi, nulls) per column and skips every file whose range
  * cannot satisfy the filter, before any parquet footer is opened. This is
  * the table-format half of pruning; parquet row-group stats still prune
  * WITHIN the files that survive. At 100 TB the manifest is the only
  * metadata small enough to consult per query — file listings and footer
  * reads of a million data files are themselves a distributed job.
  *
  * Values are stored in ORDER-FAITHFUL comparable form: numerics, dates
  * (epoch days), timestamps (epoch micros) and booleans as decimals;
  * strings verbatim and compared with UTF8String's unsigned-byte order —
  * the SAME order Spark's min/max aggregates and binary-collation
  * comparisons use, so a pruning decision can never disagree with row-level
  * evaluation. Non-finite float bounds (NaN/Inf) are dropped rather than
  * approximated, and a missing bound on a column that has non-null values
  * reads as "unbounded on that side" — only an all-null column (nulls ==
  * rows) is known to hold no value (pruning here must be conservative: a
  * skipped file must be PROVABLY irrelevant).
  *
  * The stats are recorded by the task that writes each file
  * ([[StatsParquetFormat]]), never by reading the files back.
  */
object TxStats {

  /** Bounds collected per column: lo/hi over non-null values (None when the
    * file has no non-null value, or when the bound is NaN/±Inf), plus the
    * null count for IS [NOT] NULL. Only `nulls == rows` proves the column
    * holds no value — which itself prunes: an equality filter cannot match
    * an all-null file. */
  case class ColStats(lo: Option[Any], hi: Option[Any], nulls: Long)

  /** Per-file stats: row count, file length + mtime (so the reader can build
    * a FileStatus without touching the filesystem), column bounds. */
  case class FileStats(rows: Long, bytes: Long, mtime: Long,
      cols: Map[String, ColStats])

  /** Stats are collected for the first [[MaxStatsCols]] supported columns —
    * the same bounded-metadata rule real table formats apply (manifest size
    * must stay O(files), not O(files × width)). */
  val MaxStatsCols = 16

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType |
        BooleanType => true
    case _: DecimalType => true
    case st: StringType => st == StringType // binary collation only
    case _ => false
  }

  // ---------------------------------------------------------- collection

  /** Stats of one file, kept row by row as the file is written: the row
    * count, and per stat column the null count and the min/max under
    * Spark's own ordering for the type ([[PhysicalDataType.ordering]]: NaN
    * greatest, -0.0 equal to 0.0, strings as unsigned bytes) — so the
    * bounds are exactly what `min`/`max` over the file would return.
    * Internal values, converted by [[litComparable]] once, on close. */
  private[serve] final class FileStatsBuilder(schema: StructType) {
    private val fields = schema.fields.zipWithIndex
      .filter { case (f, _) => supported(f.dataType) }.take(MaxStatsCols)
    private val ordinals = fields.map(_._2)
    private val types = fields.map(_._1.dataType)
    private val orderings = types.map(PhysicalDataType.ordering)
    private val lo = new Array[Any](fields.length)
    private val hi = new Array[Any](fields.length)
    private val nulls = new Array[Long](fields.length)
    private var rows = 0L

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < ordinals.length) {
        if (row.isNullAt(ordinals(i))) nulls(i) += 1
        else {
          val v = row.get(ordinals(i), types(i))
          if (lo(i) == null || orderings(i).lt(v, lo(i))) lo(i) = owned(v)
          if (hi(i) == null || orderings(i).gt(v, hi(i))) hi(i) = owned(v)
        }
        i += 1
      }
    }

    /** An empty file gets no stats, as a scan of it yields no group: the
      * reader keeps it (one footer) rather than trusting zero counts. */
    def result: Option[FileStats] =
      if (rows == 0) None
      else Some(FileStats(rows, 0L, 0L, fields.indices.map { i =>
        fields(i)._1.name -> ColStats(litComparable(lo(i), types(i)),
          litComparable(hi(i), types(i)), nulls(i))
      }.toMap))

    // the writer reuses the row's buffers: keep a copy of a kept bound
    private def owned(v: Any): Any = v match {
      case s: UTF8String => s.clone()
      case d: Decimal => d.clone()
      case other => other
    }
  }

  /** External (collected Row) value → comparable form. Returns None for
    * values whose order we refuse to encode (NaN/Inf). */
  def toComparable(v: Any): Option[Any] = v match {
    case null => None
    case b: java.lang.Boolean => Some(BigDecimal(if (b) 1 else 0))
    case n: java.lang.Byte => Some(BigDecimal(n.longValue))
    case n: java.lang.Short => Some(BigDecimal(n.longValue))
    case n: java.lang.Integer => Some(BigDecimal(n.longValue))
    case n: java.lang.Long => Some(BigDecimal(n.longValue))
    case f: java.lang.Float =>
      if (java.lang.Float.isFinite(f)) Some(BigDecimal(f.doubleValue)) else None
    case d: java.lang.Double =>
      if (java.lang.Double.isFinite(d)) Some(BigDecimal(d.doubleValue)) else None
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case s: String => Some(s)
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case t: java.sql.Timestamp => Some(BigDecimal(DateTimeUtils.fromJavaTimestamp(t)))
    case i: java.time.Instant => Some(BigDecimal(DateTimeUtils.instantToMicros(i)))
    case l: java.time.LocalDateTime => Some(BigDecimal(DateTimeUtils.localDateTimeToMicros(l)))
    case _ => None
  }

  /** Catalyst literal (internal representation) → comparable form — the
    * one rule for both filter literals and write-time bounds. */
  def litComparable(value: Any, dt: DataType): Option[Any] =
    if (value == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(BigDecimal(value.asInstanceOf[Number].longValue))
      case FloatType =>
        val f = value.asInstanceOf[Float]
        if (java.lang.Float.isFinite(f)) Some(BigDecimal(f.toDouble)) else None
      case DoubleType =>
        val d = value.asInstanceOf[Double]
        if (java.lang.Double.isFinite(d)) Some(BigDecimal(d)) else None
      case _: DecimalType => Some(value.asInstanceOf[Decimal].toBigDecimal)
      case st: StringType if st == StringType => Some(value.toString)
      case DateType => Some(BigDecimal(value.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType =>
        Some(BigDecimal(value.asInstanceOf[Long]))
      case BooleanType =>
        Some(BigDecimal(if (value.asInstanceOf[Boolean]) 1 else 0))
      case _ => None
    }

  /** Total order on comparable forms; None when the two are not of the same
    * kind (never prune on a comparison we do not understand). */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case _ => None
  }

  // ------------------------------------------------------------- pruning

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  /** Conservative "could any row of this file satisfy the filter" check.
    * TRUE whenever we cannot prove otherwise (unknown expression shapes,
    * missing stats, foreign types); FALSE only when the bounds prove no row
    * matches. And/Or recurse; everything else is leaf-evaluated. */
  def mightMatch(filter: Expression, stats: FileStats): Boolean = filter match {
    case And(l, r) => mightMatch(l, stats) && mightMatch(r, stats)
    case Or(l, r) => mightMatch(l, stats) || mightMatch(r, stats)
    case Not(IsNull(a)) => mightMatch(IsNotNull(a), stats)
    case Not(IsNotNull(a)) => mightMatch(IsNull(a), stats)

    case IsNull(a) =>
      lookup(a, stats).forall(_.nulls > 0)
    case IsNotNull(a) =>
      lookup(a, stats).forall(cs => stats.rows > cs.nulls)

    case EqualTo(a, Literal(v, dt)) => boundsContain(a, v, dt, stats)
    case EqualTo(Literal(v, dt), a) => boundsContain(a, v, dt, stats)
    case EqualNullSafe(a, Literal(null, _)) =>
      lookup(a, stats).forall(_.nulls > 0)
    case EqualNullSafe(Literal(null, _), a) =>
      lookup(a, stats).forall(_.nulls > 0)
    case EqualNullSafe(a, Literal(v, dt)) => boundsContain(a, v, dt, stats)
    case EqualNullSafe(Literal(v, dt), a) => boundsContain(a, v, dt, stats)

    // a > v: some row can be > v iff hi > v (and symmetric forms)
    case GreaterThan(a, Literal(v, dt)) => boundCmp(a, v, dt, stats, _.hi, c => c > 0)
    case GreaterThan(Literal(v, dt), a) => boundCmp(a, v, dt, stats, _.lo, c => c < 0)
    case GreaterThanOrEqual(a, Literal(v, dt)) => boundCmp(a, v, dt, stats, _.hi, c => c >= 0)
    case GreaterThanOrEqual(Literal(v, dt), a) => boundCmp(a, v, dt, stats, _.lo, c => c <= 0)
    case LessThan(a, Literal(v, dt)) => boundCmp(a, v, dt, stats, _.lo, c => c < 0)
    case LessThan(Literal(v, dt), a) => boundCmp(a, v, dt, stats, _.hi, c => c > 0)
    case LessThanOrEqual(a, Literal(v, dt)) => boundCmp(a, v, dt, stats, _.lo, c => c <= 0)
    case LessThanOrEqual(Literal(v, dt), a) => boundCmp(a, v, dt, stats, _.hi, c => c >= 0)

    case In(a, elems) if elems.forall(_.isInstanceOf[Literal]) =>
      elems.exists { case Literal(v, dt) => boundsContain(a, v, dt, stats) }

    case _ => true
  }

  /** Stats for the attribute a leaf references: None ⇒ not collected ⇒
    * never prune on it. */
  private def lookup(e: Expression, stats: FileStats): Option[ColStats] =
    attrName(e).flatMap(stats.cols.get)

  /** True when the column provably holds no non-null value. A missing
    * bound alone proves nothing: a NaN or ±Inf min/max is not recorded. */
  private def allNull(cs: ColStats, rows: Long): Boolean = cs.nulls >= rows

  /** Could v lie within the file's [lo, hi]? A missing bound leaves that
    * side open; all-null columns prove no value matches. */
  private def boundsContain(a: Expression, v: Any, dt: DataType,
      stats: FileStats): Boolean =
    lookup(a, stats) match {
      case None => true
      case Some(cs) =>
        litComparable(v, dt) match {
          case None => true // null literal / foreign type: never prune
          case Some(x) =>
            !allNull(cs, stats.rows) &&
              cs.lo.forall(lo => cmp(x, lo).forall(_ >= 0)) &&
              cs.hi.forall(hi => cmp(x, hi).forall(_ <= 0))
        }
    }

  /** Compare one bound (lo or hi) against the literal: keep the file when
    * the bound satisfies `ok`, or when anything needed is missing. */
  private def boundCmp(a: Expression, v: Any, dt: DataType, stats: FileStats,
      bound: ColStats => Option[Any], ok: Int => Boolean): Boolean =
    lookup(a, stats) match {
      case None => true
      case Some(cs) =>
        litComparable(v, dt) match {
          case None => true
          case Some(x) =>
            !allNull(cs, stats.rows) && // all-null: no comparison holds
              bound(cs).forall(b => cmp(b, x).forall(ok))
        }
    }

  /** Could the file hold a value of column `key` in [qlo, qhi]? Used by
    * the MERGE matched-file scan to skip base files whose key range cannot
    * intersect the update batch. No stats for `key` ⇒ must scan; a missing
    * bound leaves that side open; an all-null key column holds no
    * joinable key. */
  def rangesOverlap(stats: FileStats, key: String, qlo: Option[Any],
      qhi: Option[Any]): Boolean =
    stats.cols.get(key).forall { cs =>
      val belowAll = qhi.zip(cs.lo).exists { case (q, lo) => cmp(q, lo).exists(_ < 0) }
      val aboveAll = qlo.zip(cs.hi).exists { case (q, hi) => cmp(q, hi).exists(_ > 0) }
      !allNull(cs, stats.rows) && !belowAll && !aboveAll
    }

  // ---------------------------------------------------------------- JSON

  private def jval(a: Any): JValue = a match {
    case s: String => JString(s)
    case d: BigDecimal => JDecimal(d)
    case other => JString(other.toString)
  }

  def toJson(fs: FileStats): String = {
    val cols = JObject(fs.cols.toList.sortBy(_._1).map { case (n, c) =>
      n -> (JObject(List[(String, JValue)]("nulls" -> JLong(c.nulls)) ++
        c.lo.map(x => "lo" -> jval(x)).toList ++
        c.hi.map(x => "hi" -> jval(x)).toList): JValue)
    })
    JsonMethods.compact(JsonMethods.render(JObject(
      "rows" -> JLong(fs.rows), "bytes" -> JLong(fs.bytes),
      "mtime" -> JLong(fs.mtime), "cols" -> cols)))
  }

  private def fromJval(v: JValue): Option[Any] = v match {
    case JString(s) => Some(s)
    case JDecimal(d) => Some(d)
    case JInt(i) => Some(BigDecimal(i))
    case JLong(l) => Some(BigDecimal(l))
    case JDouble(d) => Some(BigDecimal(d))
    case _ => None
  }

  private def asLong(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDecimal(d) => d.toLong
    case _ => 0L
  }

  def fromJson(s: String): Option[FileStats] =
    try {
      val j = JsonMethods.parse(s, useBigDecimalForDouble = true)
      val cols = (j \ "cols") match {
        case JObject(fields) => fields.map { case (n, cv) =>
          n -> ColStats(fromJval(cv \ "lo"), fromJval(cv \ "hi"),
            asLong(cv \ "nulls"))
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      Some(FileStats(asLong(j \ "rows"), asLong(j \ "bytes"),
        asLong(j \ "mtime"), cols))
    } catch { case scala.util.control.NonFatal(_) => None }
}
