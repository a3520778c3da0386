package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The kernel of [[ChunkWindows]], shared by its interpreted and generated
  * code paths: the context windows of one text as (chunk_id,
  * n_chunk_tokens, chunk_hash) rows.
  *
  * Bit-identical to the composed form over `t = split(text, ' ', -1)`:
  * window ids `0 .. greatest(0, ceil((size(t) − chunkTokens) / stride))`,
  * window i = `slice(t, i·stride + 1, chunkTokens)`, its size, and
  * `md5(concat_ws(' ', window))`. Split and join use the same single
  * space, so each window's md5 input is the byte span of its tokens in the
  * original UTF-8 text ([[ShingleKernel.tokenBounds]]): one byte pass
  * finds the bounds, and no token array, slice or joined string is built.
  * With stride ≤ chunkTokens every window starts inside the text, so none
  * is empty; the ceil is exact in integers for any text under 2³¹ bytes. */
object ChunkKernel {
  def windows(s: UTF8String, chunkTokens: Int, stride: Int): Iterator[InternalRow] = {
    val bytes = s.getBytes
    val bounds = ShingleKernel.tokenBounds(bytes)
    val n = bounds.length - 1
    val last = if (n <= chunkTokens) 0 else (n - chunkTokens + stride - 1) / stride
    val out = new Array[InternalRow](last + 1)
    var i = 0
    while (i <= last) {
      val first = i * stride
      val end = math.min(first + chunkTokens, n)
      val start = bounds(first) + 1
      out(i) = new GenericInternalRow(Array[Any](i.toLong, (end - first).toLong,
        ShingleKernel.md5Hex(bytes, start, bounds(end) - start)))
      i += 1
    }
    out.iterator
  }
}

/** Native chunking generator: string → rows (chunk_id, n_chunk_tokens,
  * chunk_hash), the sliding token windows of
  * [[graft.operators.TextOps.chunkDocs]]. NULL text gives no rows. See
  * [[ChunkKernel]]. */
case class ChunkWindows(child: Expression, chunkTokens: Int, stride: Int)
    extends UnaryExpression with Generator {

  require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
    "1 <= stride <= chunkTokens")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"chunk_windows expects string, got ${other.simpleString}")
  }
  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("n_chunk_tokens", LongType, nullable = false),
    StructField("chunk_hash", StringType, nullable = false)))
  override def prettyName: String = "chunk_windows"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    child.eval(input) match {
      case null => Iterator.empty
      case s => ChunkKernel.windows(s.asInstanceOf[UTF8String], chunkTokens, stride)
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val text = child.genCode(ctx)
    ev.copy(code = code"""
      |${text.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} = ${text.isNull}
      |  ? scala.collection.Iterator$$.MODULE$$.empty()
      |  : graft.functions.ChunkKernel.windows(${text.value}, $chunkTokens, $stride);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
