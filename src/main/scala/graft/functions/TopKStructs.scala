package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded buffer of the k SMALLEST values of any orderable Catalyst type
  * under the type's natural ordering — the engine's one bounded-heap
  * top-k. Values are arbitrary, so a struct whose FIELD ORDER encodes the
  * sort (structs compare field-by-field): `struct(-count, name, payload…)`
  * is "count DESC, name ASC, payload along for the ride".
  *
  * Storage is a bounded binary MAX-heap (largest kept value at index 0),
  * NOT a sorted vector: the comparisons run through Catalyst's
  * interpreted ordering (several µs each on structs), and a sorted-array
  * insert walks O(k) of them per accepted value — measured at k=1000 as
  * a 27-100s cliff on a cell the k=10 form finishes in ~1s, with jstack
  * pinning every executor in `InterpretedOrdering.compare` under
  * `TopKBuffer.insert` (tools/bench_r17/AB_TOPK_KSWEEP.txt). The heap
  * pays O(log k) compares per accept and ONE compare (against the root)
  * per rejected row, so the per-row cost no longer grows with k.
  * Values are defensive copies — update hands buffer-backed rows that
  * mutate underneath.
  */
final class TopKBuffer(val k: Int, ord: Ordering[Any]) {
  // max-heap order: entries(0) is the LARGEST kept value; parent ≥ children
  private[functions] val entries = new scala.collection.mutable.ArrayBuffer[Any]()

  /** Would `v` enter the buffer? The saturated steady state rejects
    * almost every row here — ONE root comparison — and callers use this
    * to skip the defensive copy entirely (see [[TopKStructs.update]]):
    * a top-10 over an 8M-row group would otherwise allocate 8M struct
    * copies to keep 10 (measured: the copy-always form swung 4.6→28s on
    * a 16M-row cell from the GC churn; the guarded form is flat —
    * tools/bench_r16/AB_TOPK_BOUNDARY.txt). */
  def wouldAccept(v: Any): Boolean =
    entries.length < k || ord.gt(entries(0), v)

  def insert(v: Any): Unit = {
    if (entries.length < k) {
      entries += v
      siftUp(entries.length - 1)
    } else if (ord.gt(entries(0), v)) {
      entries(0) = v
      siftDown()
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (ord.lt(entries(p), entries(i))) {
        val t = entries(p); entries(p) = entries(i); entries(i) = t; i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    val n = entries.length
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < n && ord.gt(entries(l), entries(m))) m = l
      if (r < n && ord.gt(entries(r), entries(m))) m = r
      if (m == i) return
      val t = entries(m); entries(m) = entries(i); entries(i) = t
      i = m
    }
  }

  def mergeWith(o: TopKBuffer): Unit = o.entries.foreach(insert)

  /** The kept multiset in ASCENDING order — the output/serialization
    * form (one O(k log k) sort per GROUP at eval, not per row). */
  def sortedEntries: Array[Any] = {
    val a = entries.toArray[Any].asInstanceOf[Array[AnyRef]]
    java.util.Arrays.sort(a, ord.asInstanceOf[java.util.Comparator[AnyRef]])
    a.asInstanceOf[Array[Any]]
  }

  /** Load from an ASCENDING array slice (deserialize): appending in
    * REVERSE (descending) order is already a valid max-heap — a
    * descending array satisfies parent ≥ children — so no sifting. */
  private[functions] def loadAscending(get: Int => Any, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) { entries += get(i); i -= 1 }
  }
}

/** `topk_structs(value, k)` → ARRAY of the k smallest `value`s, ascending
  * under the type's natural ordering. Aggregation state is AT MOST k
  * entries at every node of the partial/merge tree, so a global top-k over
  * any number of rows shuffles `partitions × k` entries — the scale-safe
  * replacement for the `row_number() OVER (ORDER BY …)` global window,
  * whose sort funnels EVERY row through one partition. SQL-registered so
  * the pure-SQL surface (GraftSql TVFs) rides the same path as the Column
  * API's TakeOrderedAndProject queries.
  *
  * `k` is an Expression, not a constructor Int, because a SQL-UDF body is
  * analyzed at CREATE FUNCTION time with its parameters still bound as
  * OUTER references (`outer(doc_ngrams.k)`) — non-foldable until the call
  * site inlines the argument. Type-checking therefore only pins k's TYPE;
  * constant-ness is enforced when the value is first needed (after
  * inlining, k is a literal in every legal use).
  */
case class TopKStructs(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = kExpr

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    val ordCheck = TypeUtils.checkForOrderingExpr(child.dataType, prettyName)
    if (ordCheck.isFailure) ordCheck
    else kExpr.dataType match {
      case IntegerType | LongType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"topk_structs: k must be an integer type, got ${dt.sql}")
    }
  }

  @transient private[functions] lazy val k: Int = {
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"topk_structs: k must be a constant integer, got non-foldable ${kExpr.sql}")
    kExpr.eval(null) match {
      case null => throw new IllegalArgumentException("topk_structs: k must not be NULL")
      case v: java.lang.Number if v.longValue >= 1 && v.longValue.isValidInt => v.intValue
      case v => throw new IllegalArgumentException(s"topk_structs: bad k: $v")
    }
  }

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, ordering)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    // nulls sort nowhere under a SQL top-k: skip, like an ORDER BY's input
    // filtered on IS NOT NULL (the doc_ngrams aggregate never produces one).
    // Gate the defensive copy on acceptance: `v` may be a reused
    // buffer-backed row, but the comparison against the (already-copied)
    // buffer tail is immediate, and rejected rows — the saturated steady
    // state's ~100% — must not pay a struct allocation each.
    if (v != null && buffer.wouldAccept(v)) buffer.insert(InternalRow.copyValue(v))
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.sortedEntries)

  // (de)serialize through a single-column UnsafeRow of the output array
  // type — one generic path for every orderable element type. Written
  // ASCENDING (deterministic bytes per multiset); read back in reverse,
  // which is already heap order (see TopKBuffer.loadAscending).
  @transient private lazy val ser = UnsafeProjection.create(Array[DataType](dataType))
  override def serialize(buffer: TopKBuffer): Array[Byte] =
    ser(InternalRow(new GenericArrayData(buffer.sortedEntries))).getBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val buf = new TopKBuffer(k, ordering)
    val arr = row.getArray(0)
    val et = child.dataType
    buf.loadAscending(i => InternalRow.copyValue(arr.get(i, et)), arr.numElements())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStructs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStructs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKStructs =
    copy(child = newLeft, kExpr = newRight)
  override def prettyName: String = "topk_structs"
}

object TopKStructs {
  /** Column wrapper: k smallest `value`s as an ascending array. */
  def topk_structs(value: Column, k: Int): Column =
    GraftShim.column(
      TopKStructs(GraftShim.expression(value), Literal(k)).toAggregateExpression())
}
