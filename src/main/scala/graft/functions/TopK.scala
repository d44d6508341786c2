package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Native bounded top-k aggregate: `bounded_topk(k, expr)` keeps the k
  * LARGEST values of `expr` per group (by the type's natural ordering —
  * pass a struct to get lexicographic order with explicit tiebreakers)
  * and returns them as a descending array.
  *
  * This is the scale-correct form of top-k-per-group. The window idiom
  * (`row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`) must
  * shuffle and SORT every row of every group; this aggregate is a
  * `TypedImperativeAggregate`, so Spark runs it partial → shuffle →
  * final: each map task reduces its slice of a group to ≤ k values in a
  * bounded min-heap, and only `groups × k × mappers-with-that-group`
  * rows cross the wire. At 100 TB, top-10-per-category over billions of
  * rows shuffles kilobytes per category instead of the category.
  *
  * Determinism contract: ties beyond position k are broken by the value
  * ordering itself (equal values are interchangeable) — give the struct a
  * unique trailing field (an id) and the result is total-order exact,
  * which is what lets a SQL window oracle reproduce it hash-for-hash.
  */
@ExpressionDescription(
  usage = "_FUNC_(k, expr) - top k values of expr per group, descending array.")
case class BoundedTopK(
    kExpr: Expression,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[Any]] {

  private lazy val k: Int = {
    require(kExpr.foldable, "bounded_topk: k must be a literal")
    val v = kExpr.eval(InternalRow.empty)
    require(v != null && v.asInstanceOf[Number].intValue() > 0,
      "bounded_topk: k must be a positive integer")
    v.asInstanceOf[Number].intValue()
  }

  private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def createAggregationBuffer(): mutable.PriorityQueue[Any] =
    // min-heap: head is the SMALLEST retained value, the eviction victim
    mutable.PriorityQueue.empty[Any](ordering.reverse)

  override def update(buf: mutable.PriorityQueue[Any], input: InternalRow): mutable.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) {
      if (buf.size < k) buf.enqueue(InternalRow.copyValue(v))
      else if (ordering.gt(v, buf.head)) {
        buf.dequeue()
        buf.enqueue(InternalRow.copyValue(v))
      }
    }
    buf
  }

  override def merge(a: mutable.PriorityQueue[Any], b: mutable.PriorityQueue[Any]): mutable.PriorityQueue[Any] = {
    b.foreach { v =>
      if (a.size < k) a.enqueue(v)
      else if (ordering.gt(v, a.head)) { a.dequeue(); a.enqueue(v) }
    }
    a
  }

  override def eval(buf: mutable.PriorityQueue[Any]): Any =
    new GenericArrayData(buf.toArray.sorted(ordering.reverse))

  // serialize through an UnsafeProjection of a single-field row — handles
  // every orderable type (atomics, strings, decimals, nested structs)
  // with Tungsten's own binary format
  @transient private lazy val valueProj =
    UnsafeProjection.create(Array(child.dataType))

  override def serialize(buf: mutable.PriorityQueue[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { v =>
      val bytes = valueProj.apply(InternalRow(v)).getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      buf.enqueue(InternalRow.copyValue(row.get(0, child.dataType)))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(kExpr, child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!RowOrdering.isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"bounded_topk: ${child.dataType.catalogString} is not orderable")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("bounded_topk: k must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  override def withNewMutableAggBufferOffset(offset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedTopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BoundedTopK =
    copy(kExpr = newChildren(0), child = newChildren(1))

  override def prettyName: String = "bounded_topk"
}

object TopK {
  import org.apache.spark.sql.GraftShims

  /** Column-API entry point: top `k` values of `value` per group as a
    * descending array. Order a struct's fields to control ranking and
    * tiebreaks: `bounded_topk(3, struct($"score", $"id"))`. */
  def bounded_topk(k: Int, value: Column): Column =
    GraftShims.column(
      BoundedTopK(
        org.apache.spark.sql.catalyst.expressions.Literal(k),
        GraftShims.expression(value)).toAggregateExpression())
}
