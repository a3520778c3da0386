package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The kernel of [[TokenCount]], shared by its interpreted and generated
  * code paths: the whitespace token count of `size(split(text, ' ', -1))`
  * is spaces + 1, because `split` on a single space keeps empty tokens (an
  * empty text is one empty token). A space is one byte and never occurs
  * inside a multi-byte sequence of valid UTF-8, so counting 0x20 bytes is
  * exact. The bytes are read eight at a time; a word's space bytes are its
  * zero bytes after an xor with 0x20 in every byte. */
object TokenCountKernel {
  private val Spaces = 0x2020202020202020L
  private val Low7 = 0x7f7f7f7f7f7f7f7fL

  def tokens(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var spaces = 0L
    var i = 0
    while (i + 8 <= n) {
      val x = Platform.getLong(base, off + i) ^ Spaces
      // high bit set exactly in the zero bytes of x
      spaces += java.lang.Long.bitCount(~(((x & Low7) + Low7) | x | Low7))
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    spaces + 1
  }
}

/** Native whitespace token count: string → long, equal to
  * `size(split(text, ' ', -1))` cast to long in one byte pass, with no
  * token array. NULL text gives NULL; an empty text gives 1. See
  * [[TokenCountKernel]]. */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_count expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "token_count"

  override def nullSafeEval(input: Any): Any =
    TokenCountKernel.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TokenCountKernel.tokens($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
