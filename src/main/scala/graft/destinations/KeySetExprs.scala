package graft.destinations

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, ImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType

/** `collect_set` that gives up past `limit` distinct values: the result is
  * the values as an array, or NULL when there are more than `limit`. A
  * buffer stops growing once it holds `limit + 1` values, so an oversized
  * input costs one size check per row instead of a set the size of the
  * input on every executor and on the driver. Distinctness is best-effort
  * (by `equals`, as `collect_set`'s), so a set near the limit may give up
  * early; it never passes more than `limit` values.
  */
case class BoundedCollectSet(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.HashSet[Any]] with UnaryLike[Expression] {

  override def prettyName: String = "bounded_collect_set"
  override def nullable: Boolean = true

  override def convertToBufferElement(value: Any): Any = InternalRow.copyValue(value)
  @transient override protected lazy val bufferElementType: DataType = child.dataType
  override def createAggregationBuffer(): mutable.HashSet[Any] = mutable.HashSet.empty

  override def update(buffer: mutable.HashSet[Any], input: InternalRow): mutable.HashSet[Any] =
    if (buffer.size > limit) buffer else super.update(buffer, input)

  override def merge(buffer: mutable.HashSet[Any],
      other: mutable.HashSet[Any]): mutable.HashSet[Any] =
    if (buffer.size > limit) buffer
    else if (other.size > limit) other
    else super.merge(buffer, other)

  override def eval(buffer: mutable.HashSet[Any]): Any =
    if (buffer.size > limit) null else new GenericArrayData(buffer.toArray)

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectSet =
    copy(child = newChild)
}

object BoundedCollectSet {
  def apply(c: Column, limit: Int): Column =
    GraftShims.column(
      new BoundedCollectSet(GraftShims.expression(c), limit).toAggregateExpression())
}
