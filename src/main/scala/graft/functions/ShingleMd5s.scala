package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared shingle-hashing kernel, called by both the interpreted and the
  * generated code path of [[ShingleMd5s]].
  *
  * Semantics are bit-identical to the GUARDED composed form
  * `CASE WHEN size(t) >= k THEN transform(sequence(0, size(t)-k),
  * i -> md5(cast(concat_ws(' ', slice(t, i+1, k)) as binary)))
  * ELSE array() END` over `t = split(text, ' ', -1)` — the shape the
  * corpus operators declare and the DuckDB oracle mirrors. (The guard is
  * part of the contract: fewer than k tokens yields an EMPTY array, where
  * the unguarded `sequence(0, negative)` would produce a descending range
  * and hash nonsense windows.) The win over that form is zero per-window
  * allocation: because the tokenizer
  * splits on SINGLE spaces and the joiner re-joins with single spaces,
  * every k-token window is a CONTIGUOUS byte span of the original UTF-8
  * string (a space is one byte and never occurs inside a multi-byte
  * sequence). So the kernel just records token boundaries in one pass and
  * feeds `bytes[start(w) .. end(w+k-1))` straight into a thread-local MD5
  * — no token arrays, no slices, no joined strings. Allocation per window
  * is exactly the 32-byte hex output the operator needs anyway.
  *
  * With `distinct`, a window whose digest an earlier window of the same
  * text already produced is skipped: `array_distinct` of the full array
  * (first occurrences, in order), decided on the 16-byte digests before
  * any hex is built.
  */
object ShingleKernel {
  private final val Hex = "0123456789abcdef".getBytes
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def toHexUtf8(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The 16-byte MD5 of `bytes[off, off + len)`. */
  private[functions] def md5(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.update(bytes, off, len)
    md.digest()
  }

  /** The lowercase hex MD5 of `bytes[off, off + len)`: Spark's `md5`. */
  private[functions] def md5Hex(bytes: Array[Byte], off: Int, len: Int): UTF8String =
    toHexUtf8(md5(bytes, off, len))

  /** Token bounds of `split(text, ' ', -1)` over the UTF-8 bytes: entry 0
    * is -1, entry t + 1 is the offset of the space that ends token t (the
    * byte length for the last token), so tokens a..b span the bytes
    * `[bounds(a) + 1, bounds(b + 1))`. There are `bounds.length - 1`
    * tokens, at least one (an empty text is one empty token). */
  private[functions] def tokenBounds(bytes: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val bounds = new Array[Int](spaces + 2)
    bounds(0) = -1
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { bounds(t) = i; t += 1 }
      i += 1
    }
    bounds(t) = bytes.length
    bounds
  }

  def shingleMd5s(s: UTF8String, k: Int, distinct: Boolean): Array[UTF8String] = {
    val bytes = s.getBytes
    val bounds = tokenBounds(bytes)
    val n = bounds.length - 1 - k + 1
    if (n <= 0) return new Array[UTF8String](0)
    val seen = if (distinct) new DigestSet(n) else null
    val out = new Array[UTF8String](n)
    var kept = 0
    var w = 0
    while (w < n) {
      val start = bounds(w) + 1
      val d = md5(bytes, start, bounds(w + k) - start)
      if (seen == null || seen.add(d)) { out(kept) = toHexUtf8(d); kept += 1 }
      w += 1
    }
    if (kept == n) out else java.util.Arrays.copyOf(out, kept)
  }

  /** An open-addressing set of at most `capacity` 16-byte digests, held
    * as two longs each. MD5 output is uniform, so the low word is the
    * probe hash. */
  private final class DigestSet(capacity: Int) {
    private val mask = Integer.highestOneBit(math.max(2, 2 * capacity - 1)) * 2 - 1
    private val hi = new Array[Long](mask + 1)
    private val lo = new Array[Long](mask + 1)
    private val used = new Array[Boolean](mask + 1)

    private def word(d: Array[Byte], off: Int): Long = {
      var x = 0L
      var i = 0
      while (i < 8) { x = (x << 8) | (d(off + i) & 0xffL); i += 1 }
      x
    }

    /** True when `d` was not in the set (and is now). */
    def add(d: Array[Byte]): Boolean = {
      val h = word(d, 0)
      val l = word(d, 8)
      var i = l.toInt & mask
      while (used(i)) {
        if (hi(i) == h && lo(i) == l) return false
        i = (i + 1) & mask
      }
      used(i) = true; hi(i) = h; lo(i) = l
      true
    }
  }
}

/** Native shingle-hash expression: string → array<string> of the md5 hex
  * of every k-token window. Without `distinct` (the registered SQL
  * `shingle_md5s`), duplicate windows are preserved; with it, the array
  * is `array_distinct` of that one, first occurrences in order. Empty
  * array when the text has fewer than k tokens. See [[ShingleKernel]]. */
case class ShingleMd5s(child: Expression, k: Int, distinct: Boolean = false)
    extends UnaryExpression {

  require(k >= 1 && k <= 1024, "shingle width in 1..1024")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_md5s expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (distinct) "distinct_shingle_md5s" else "shingle_md5s"
  override protected def flatArguments: Iterator[Any] = Iterator(child, k)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(ShingleKernel
      .shingleMd5s(input.asInstanceOf[UTF8String], k, distinct).asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleKernel.shingleMd5s($s, $k, $distinct));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
