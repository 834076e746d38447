package graft.operators

import java.util.PriorityQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Descending,
  Expression, InterpretedOrdering, RowOrdering, SortDirection, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import graft.Tables

/** Bounded-memory top-k per group as ONE native aggregate.
  *
  * The window formulation (`row_number().over(partitionBy(key).orderBy(ord))
  * <= k`) shuffles EVERY row of every group and sorts whole groups — at
  * 100 TB, a group with 10⁹ rows pays a 10⁹ sort for a k=5 answer. This
  * aggregate keeps a k-bounded heap, is partial-aggregable (map-side
  * combine through ObjectHashAggregate), and therefore shuffles at most k
  * rows per partition per group: cost O(n log k) scan + O(parts·k)
  * shuffle, independent of group size.
  *
  * `child` is a struct of the caller's columns; `order` is a sort spec
  * over that struct's fields as plain (field, direction) data — never a
  * Scala `Ordering` or closure — so two constructions of the same query
  * are canonically equal and share CacheManager entries (a `udaf` over a
  * typed Aggregator is not: its encoder breaks `sameResult`). Rows compare
  * with Spark's own row ordering (`SortOrder` defaults: ascending nulls
  * first, descending nulls last). The result is `array<struct>` in rank
  * order with the caller's field names; the k-th element, a re-rank or a
  * vote over the survivors are ordinary column expressions on it.
  *
  * Every consumer's order ends in an id unique within its group, so the
  * order is total and which of two tied rows survives can never matter.
  */
case class BoundedTopK(
    child: Expression,
    k: Int,
    order: Seq[(String, SortDirection)],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[InternalRow]]
  with UnaryLike[Expression] {

  require(k >= 1, s"k must be >= 1, got $k")

  private def rowType: StructType = child.dataType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType =>
      val bad = order.map(_._1).filterNot(f =>
        st.fieldNames.contains(f) && RowOrdering.isOrderable(st(f).dataType))
      if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"top_k: no orderable field ${bad.mkString(", ")} in ${st.catalogString}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_k expects a struct, got ${other.catalogString}")
  }

  /** Better rows compare lower. */
  @transient private lazy val ord: Ordering[InternalRow] =
    new InterpretedOrdering(order.map { case (f, dir) =>
      val i = rowType.fieldIndex(f)
      SortOrder(BoundReference(i, rowType(i).dataType, rowType(i).nullable), dir)
    })

  /** Head = the worst kept row. */
  override def createAggregationBuffer(): PriorityQueue[InternalRow] =
    new PriorityQueue[InternalRow](k, ord.reverse)

  /** Whether `row` enters the heap, evicting the worst when full. The
    * strict short-circuit: a row worse than a full heap's worst exits on
    * one comparison, which is how most rows of a large group leave. */
  private def admit(heap: PriorityQueue[InternalRow], row: InternalRow): Boolean =
    if (heap.size < k) true
    else if (ord.compare(row, heap.peek) > 0) false
    else { heap.poll(); true }

  override def update(heap: PriorityQueue[InternalRow],
      input: InternalRow): PriorityQueue[InternalRow] = {
    val row = child.eval(input).asInstanceOf[InternalRow]
    // copy only admitted rows: the struct may point into the input's buffer
    if (row != null && admit(heap, row)) heap.add(row.copy())
    heap
  }

  override def merge(a: PriorityQueue[InternalRow],
      b: PriorityQueue[InternalRow]): PriorityQueue[InternalRow] = {
    b.forEach(r => if (admit(a, r)) a.add(r))
    a
  }

  override def eval(heap: PriorityQueue[InternalRow]): Any =
    new GenericArrayData(heap.asScala.toArray.sorted(ord).toArray[Any])

  @transient private lazy val bufferProj =
    UnsafeProjection.create(Array[DataType](ArrayType(rowType, containsNull = false)))

  override def serialize(heap: PriorityQueue[InternalRow]): Array[Byte] =
    bufferProj(InternalRow(new GenericArrayData(heap.asScala.toArray[Any]))).getBytes

  override def deserialize(bytes: Array[Byte]): PriorityQueue[InternalRow] = {
    val heap = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val rows = row.getArray(0)
    (0 until rows.numElements()).foreach(i =>
      heap.add(rows.getStruct(i, rowType.length)))
    heap
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k"
  override def withNewMutableAggBufferOffset(offset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedTopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BoundedTopK =
    copy(child = newChild)
}

object TopK {

  val K = 5

  /** The k best `row`s per group under `order` (field → direction over
    * the struct's own field names), best first: `array<struct>`. */
  def top_k(row: Column, k: Int, order: (String, SortDirection)*): Column =
    GraftBridge.column(
      BoundedTopK(GraftBridge.expression(row), k, order).toAggregateExpression())

  /** Latest-K events per event_type — identical semantics (and oracle) to
    * the window-based `q_tail_n_per_key`, different physics. Order
    * (ts DESC, event_id DESC); event_id is unique, so the order is total. */
  def tailKHeap(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(top_k(struct(col("ts"), col("event_id"), col("value")), k,
        "ts" -> Descending, "event_id" -> Descending).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "it")))
      .select(col("event_type"), col("it.event_id").as("event_id"),
        (col("pos") + 1).cast("int").as("rn"),
        date_format(col("it.ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("it.value").as("value"))
}
