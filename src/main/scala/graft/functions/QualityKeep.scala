package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The quality-gate kernel of [[QualityKeep]], shared by its interpreted
  * and generated code paths.
  *
  * One pass over the UTF-8 bytes reads every statistic of the composed
  * predicate `size(split(text, ' ', -1)) >= minTokens AND mean AND punct`:
  *  - tokens = spaces + 1 (`split` on a single space keeps empty tokens);
  *  - characters = `length(text)`: one per leading byte, stepping by the
  *    width the leading byte declares, as `UTF8String.numChars` does;
  *  - non-space characters = characters − spaces (a space is one byte and
  *    never occurs inside a multi-byte sequence of valid UTF-8);
  *  - punctuation = the `[.,!?;:]` bytes, all ASCII.
  * The ratios are the same IEEE divisions of the same integers, so the
  * verdict is bit-identical to the composed form. */
object QualityKernel {

  /** Bytes of the code point a leading byte starts: `UTF8String`'s table,
    * where a continuation byte or a byte UTF-8 disallows counts as one. */
  private def charWidth(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0xc2) 1 else if (u < 0xe0) 2 else if (u < 0xf0) 3 else if (u < 0xf5) 4 else 1
  }

  /** 1 keep, 0 drop, -1 NULL: an empty text has no punctuation ratio, so
    * that conjunct is NULL, and the verdict is NULL unless another
    * conjunct is false. */
  def verdict(s: UTF8String, minTokens: Int, minMeanTokLen: Double,
              maxMeanTokLen: Double, maxPunctRatio: Double): Int = {
    val n = s.numBytes
    var spaces = 0L
    var punct = 0L
    var chars = 0L
    var nextChar = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (i == nextChar) { chars += 1; nextChar = i + charWidth(b) }
      // ' ', then . , ! ? ; :
      (b: Int @scala.annotation.switch) match {
        case 0x20 => spaces += 1
        case 0x2e | 0x2c | 0x21 | 0x3f | 0x3b | 0x3a => punct += 1
        case _ =>
      }
      i += 1
    }
    val tokens = spaces + 1
    val meanTokLen = (chars - spaces).toDouble / tokens.toDouble
    if (tokens < minTokens || meanTokLen < minMeanTokLen || meanTokLen > maxMeanTokLen) 0
    else if (chars == 0) -1
    else if (punct.toDouble / chars.toDouble <= maxPunctRatio) 1
    else 0
  }
}

/** Native quality gate: string → boolean, the C4/Gopher-style keep
  * predicate of [[graft.operators.TextOps.qualityKeep]] (≥ `minTokens`
  * space-split tokens, mean token length in [`minMeanTokLen`,
  * `maxMeanTokLen`], punctuation ≤ `maxPunctRatio` of the characters) in
  * one byte pass instead of three `split`s and three `regexp_replace`s.
  * NULL text gives NULL. See [[QualityKernel]]. */
case class QualityKeep(child: Expression, minTokens: Int, minMeanTokLen: Double,
                       maxMeanTokLen: Double, maxPunctRatio: Double)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quality_keep expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "quality_keep"

  override def nullSafeEval(input: Any): Any =
    QualityKernel.verdict(input.asInstanceOf[UTF8String], minTokens,
      minMeanTokLen, maxMeanTokLen, maxPunctRatio) match {
      case -1 => null
      case v => v == 1
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("verdict")
    // thresholds as raw bits: exact for every double, NaN and the
    // infinities included, which have no Java literal
    def d(x: Double): String =
      s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(x)}L)"
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |int $v = graft.functions.QualityKernel.verdict($s, $minTokens,
         |  ${d(minMeanTokLen)}, ${d(maxMeanTokLen)}, ${d(maxPunctRatio)});
         |${ev.isNull} = $v < 0;
         |${ev.value} = $v == 1;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
