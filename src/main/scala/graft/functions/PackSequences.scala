package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The kernel of [[PackSequences]], shared by its interpreted and
  * generated code paths: one linear next-fit pass over a pack group's
  * sorted chunks.
  *
  * A chunk joins the open sequence if the sequence's tokens plus its own
  * stay within `budget`, else it opens the next sequence; the fill starts
  * at `budget`, so the first chunk opens sequence 0. An over-budget chunk
  * therefore sits alone. Each sequence is emitted as (seq_id = grp ·
  * seqStride + index, chunk count, comma-joined `doc_id:chunk_id`, token
  * sum); a NULL `grp` gives a NULL seq_id, and a chunk with a NULL doc_id
  * or chunk_id counts but is left out of the joined ids (`array_join`
  * skips NULLs). Arithmetic overflows raise, as ANSI arithmetic does.
  *
  * Two inputs raise a named error rather than emit garbage:
  *  - a group that would open sequence index `seqStride`, whose seq_id
  *    would collide with the next group's first one;
  *  - a chunk with a NULL or non-positive `n_chunk_tokens`, for which
  *    next-fit has no meaning (a zero-token chunk would bump the index
  *    without a sequence to show for it). */
object PackKernel {

  /** Fields of one chunk struct: (ord, doc_id, chunk_id, n), all longs. */
  private final val DocId = 1
  private final val ChunkId = 2
  private final val Tokens = 3

  def sequences(grpIsNull: Boolean, grp: Long, chunks: ArrayData, budget: Int,
                seqStride: Long): Iterator[InternalRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val ids = new java.lang.StringBuilder
    var seq = -1L
    var fill = budget.toLong
    var count = 0L
    var total = 0L
    def close(): Unit = if (seq >= 0) {
      val seqId: Any =
        if (grpIsNull) null else Math.addExact(Math.multiplyExact(grp, seqStride), seq)
      out += new GenericInternalRow(Array[Any](seqId, count,
        UTF8String.fromString(ids.toString), total))
    }
    var i = 0
    while (i < chunks.numElements) {
      val c = chunks.getStruct(i, 4)
      if (c.isNullAt(Tokens) || c.getLong(Tokens) < 1)
        throw new IllegalArgumentException(
          s"packChunks: chunk ${field(c, DocId)}:${field(c, ChunkId)} in grp " +
            s"${if (grpIsNull) "NULL" else grp} has n_chunk_tokens " +
            s"${field(c, Tokens)}; every chunk needs n_chunk_tokens >= 1")
      val n = c.getLong(Tokens)
      if (Math.addExact(fill, n) > budget) {
        close()
        seq += 1
        if (seq >= seqStride)
          throw new IllegalStateException(
            s"packChunks: per-group sequence index reached seqStride ($seqStride) in grp " +
              s"${if (grpIsNull) "NULL" else grp} — raise seqStride or lower ordsPerGroup")
        fill = n
        count = 0L
        total = 0L
        ids.setLength(0)
      } else fill += n
      count += 1
      total = Math.addExact(total, n)
      if (!c.isNullAt(DocId) && !c.isNullAt(ChunkId)) {
        if (ids.length > 0) ids.append(',')
        ids.append(c.getLong(DocId)).append(':').append(c.getLong(ChunkId))
      }
      i += 1
    }
    close()
    out.iterator
  }

  private def field(c: InternalRow, i: Int): String =
    if (c.isNullAt(i)) "NULL" else c.getLong(i).toString
}

/** Native next-fit packing generator: (grp, sorted chunk array) → rows
  * (seq_id, n_chunks, chunk_ids, total_tokens), one per packed sequence of
  * [[graft.operators.TextOps.packChunksBy]]. The chunk array holds
  * structs of four longs (ord, doc_id, chunk_id, n), sorted. See
  * [[PackKernel]]. */
case class PackSequences(left: Expression, right: Expression, budget: Int, seqStride: Long)
    extends BinaryExpression with Generator {

  require(budget >= 1, "budget must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, ArrayType(st: StructType, _))
        if st.length == 4 && st.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (g, c) => TypeCheckResult.TypeCheckFailure(
      s"pack_sequences expects (bigint, array<struct of 4 bigints>), got " +
        s"(${g.simpleString}, ${c.simpleString})")
  }
  override def elementSchema: StructType = StructType(Seq(
    StructField("seq_id", LongType, nullable = true),
    StructField("n_chunks", LongType, nullable = false),
    StructField("chunk_ids", StringType, nullable = false),
    StructField("total_tokens", LongType, nullable = false)))
  override def dataType: DataType = ArrayType(elementSchema)
  override def prettyName: String = "pack_sequences"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val chunks = right.eval(input)
    if (chunks == null) Iterator.empty
    else {
      val grp = left.eval(input)
      PackKernel.sequences(grp == null, if (grp == null) 0L else grp.asInstanceOf[Long],
        chunks.asInstanceOf[ArrayData], budget, seqStride)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val grp = left.genCode(ctx)
    val chunks = right.genCode(ctx)
    ev.copy(code = code"""
      |${grp.code}
      |${chunks.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} = ${chunks.isNull}
      |  ? scala.collection.Iterator$$.MODULE$$.empty()
      |  : graft.functions.PackKernel.sequences(${grp.isNull}, ${grp.value}, ${chunks.value},
      |      $budget, ${seqStride}L);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
