package graft.reference

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Parity references for the two corpus hot spots, kept beside the tests
  * that pin the production kernels to them:
  *  - [[cappedPairs]]: the capped-collect pair shape the sorted-run
  *    evidence (`Dedup.runPairs`) replaces — group by key, collect at most
  *    `maxDf + 1` ids per key under ObjectHashAggregate, keep lists of size
  *    [2, maxDf], explode the i < j pairs of each sorted list;
  *  - [[composedQualityKeep]]: the builtin-function form of the quality
  *    gate the native `QualityKeep` kernel replaces;
  *  - [[composedTokenCount]]: the builtin-function form of the whitespace
  *    token count the native `TokenCount` kernel replaces. */
object EvidenceReference {

  /** Ordered (id_a, id_b) pairs of `evidence` (key, id), one per key and
    * pair, for keys whose non-NULL id count is in [2, maxDf]. */
  def cappedPairs(evidence: DataFrame, maxDf: Int): DataFrame = {
    val Array(key, id) = evidence.columns
    val capped = GraftColumnBridge.column(
      CappedCollectList(GraftColumnBridge.expression(col(id)), maxDf + 1)
        .toAggregateExpression())
    evidence.groupBy(col(key)).agg(capped.as("__ids"))
      .filter(size(col("__ids")).between(2, maxDf))
      .select(sort_array(col("__ids")).as("__ids"))
      .select(explode(expr(
        "flatten(transform(__ids, (a, i) -> transform(" +
          "slice(__ids, i + 2, size(__ids)), " +
          "b -> named_struct('id_a', a, 'id_b', b))))")).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
  }

  /** The whitespace token count as composed builtins: split on a single
    * space keeping empty tokens, then the array size. */
  def composedTokenCount(c: String): Column =
    size(split(col(c), " ", -1)).cast("long")

  /** The quality gate as composed builtins over `text`: three `split`s and
    * three `regexp_replace`s per row. */
  def composedQualityKeep(minTokens: Int, minMeanTokLen: Double,
                          maxMeanTokLen: Double, maxPunctRatio: Double): Column = {
    val nTok = size(split(col("text"), " ", -1)).cast("long")
    val nonSpaceLen = length(regexp_replace(col("text"), " ", "")).cast("long")
    val punctLen = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
    val punctRatio = when(length(col("text")) > 0,
      punctLen.cast("double") / length(col("text")).cast("double"))
    (nTok >= minTokens) &&
      (nonSpaceLen.cast("double") / nTok.cast("double") >= minMeanTokLen) &&
      (nonSpaceLen.cast("double") / nTok.cast("double") <= maxMeanTokLen) &&
      (punctRatio <= maxPunctRatio)
  }
}

/** `collect_list` that stops appending at `cap` elements, per partial
  * buffer and across merges, so the final list holds exactly
  * `min(non-NULL rows, cap)` ids: `size <= maxDf` at `cap = maxDf + 1` is
  * the exact df band test. Runs under ObjectHashAggregate. */
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
