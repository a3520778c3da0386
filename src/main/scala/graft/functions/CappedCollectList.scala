package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** `collect_list` with a hard per-group buffer cap — the aggregation that
  * makes the fused "df cap + pair generation in one aggregate pass" edge
  * derivation skew-safe (guide §2.5): grouping a fingerprint relation by
  * fingerprint and collecting the carrying doc ids would, with a plain
  * `collect_list`, buffer a boilerplate fingerprint's ENTIRE doc set in
  * one task before the df filter could discard it. This variant stops
  * appending at `cap` elements, so per-group state is O(cap) regardless
  * of the group's true cardinality, and each map-side partial ships at
  * most `cap` elements per key into the exchange.
  *
  * Callers size `cap = maxDf + 1`: the final size is exactly
  * `min(df, cap)` (each partial buffer holds `min(partition rows, cap)`;
  * merge accumulates until `cap`), so `size(out) <= maxDf` is the EXACT
  * `df <= maxDf` test and `size(out) == cap` means "over the cap, drop" —
  * the same decision the groupBy-count + survivor-join shape made, from
  * one shuffle instead of two plus a join.
  *
  * WHICH elements survive for an over-cap group is partition-order
  * dependent, but every consumer drops over-cap groups, and under-cap
  * groups are complete (only ORDER varies — consumers `sort_array` before
  * deriving anything). Like `collect_list` this is a
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]
  * (runs under ObjectHashAggregate, partial + final merge), and like it
  * the raw result is marked order-nondeterministic via the Collect base
  * contract. Past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * keys (default 128) per task the aggregate falls back to sort-based
  * aggregation: d43's shingle aggregate, ~330k keys, falls back in every
  * task of both phases (plans/MEASUREMENTS.md, "Connected components on
  * the driver"). */
case class CappedCollectList(child: Expression, cap: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
    extends Collect[mutable.ArrayBuffer[Any]]
    with UnaryLike[Expression] {

  require(cap >= 1, "cap >= 1")

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override protected lazy val bufferElementType: DataType = child.dataType

  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  override def update(buffer: mutable.ArrayBuffer[Any],
                      input: InternalRow): mutable.ArrayBuffer[Any] =
    if (buffer.length >= cap) buffer else super.update(buffer, input)

  override def merge(buffer: mutable.ArrayBuffer[Any],
                     other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    var i = 0
    while (buffer.length < cap && i < other.length) {
      buffer += other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectList =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectList =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "capped_collect_list"
}
