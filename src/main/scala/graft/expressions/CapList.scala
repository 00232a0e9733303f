package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType

/** Saturating bounded collect of a column of any type: the group's
  * non-null values as an array, truncated at `cap + 1` elements — the
  * aggregate that fuses a df-cap with candidate collection in ONE pass.
  *
  * Contract: if the group holds at most `cap` non-null values, the
  * result is the COMPLETE multiset of them (arrival order, duplicates
  * kept); if it holds more, the result saturates at length `cap + 1` —
  * so `size(result) > cap` is exactly the "group over the df-cap"
  * predicate and a kept group's array is exact. Callers must treat a
  * saturated array as a drop marker, never as data: which cap+1 values
  * survive is arrival-order-dependent (partition scheduling), while the
  * kept-group contract is deterministic as a multiset.
  *
  * State is O(cap) per group regardless of group size, so map-side
  * partial aggregation works and a groupBy over a skewed key space
  * (stop-shingle posting lists, stop-token name blocks) carries at most
  * cap+1 values per key through the shuffle instead of full posting
  * lists. Built on Spark's [[Collect]] (the base of `collect_list`),
  * which supplies null skipping, value copying and the typed buffer
  * serialization; only the saturating `update` and `merge` are ours.
  *
  * Registered as SQL function `graft_caplist(col, cap)` by
  * [[graft.GraftExtensions]].
  */
case class CapList(
    child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends Collect[ArrayBuffer[Any]] with UnaryLike[Expression] {

  private val maxLen = cap + 1

  // cap = Int.MaxValue would overflow maxLen to Int.MinValue, and a
  // buffer that never appends drops every group silently
  override def checkInputDataTypes(): TypeCheckResult =
    if (cap < 1 || cap == Int.MaxValue)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires cap in [1, ${Int.MaxValue}), got $cap")
    else TypeCheckResult.TypeCheckSuccess

  override protected lazy val bufferElementType: DataType = child.dataType
  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)
  override def prettyName: String = "graft_caplist"

  override def createAggregationBuffer(): ArrayBuffer[Any] =
    new ArrayBuffer[Any](math.min(maxLen, 16))

  override def update(buf: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] =
    if (buf.length < maxLen) super.update(buf, input) else buf

  override def merge(buf: ArrayBuffer[Any], other: ArrayBuffer[Any]): ArrayBuffer[Any] =
    buf ++= other.take(maxLen - buf.length)

  override def eval(buf: ArrayBuffer[Any]): Any = new GenericArrayData(buf.toArray)

  override def withNewMutableAggBufferOffset(offset: Int): CapList =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CapList =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): CapList =
    copy(child = newChild)
}
