package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.LongType

/** The kernel of [[InSortedIds]], shared by its interpreted and generated
  * code paths: membership in an ascending id array by binary search. */
object SortedIdsKernel {
  def contains(ids: Array[Long], id: Long): Boolean =
    java.util.Arrays.binarySearch(ids, id) >= 0
}

/** Native membership predicate: bigint → boolean, true iff the id is in
  * the broadcast ascending array `ids`. NULL gives NULL. The array reaches
  * each task through the broadcast, once per generated class or
  * expression instance, never through the task closure. See
  * [[SortedIdsKernel]]. */
case class InSortedIds(child: Expression, ids: Broadcast[Array[Long]])
    extends UnaryExpression with Predicate {

  @transient private lazy val sorted: Array[Long] = ids.value

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"in_sorted_ids expects bigint, got ${other.simpleString}")
  }
  override def prettyName: String = "in_sorted_ids"
  // the broadcast's id differs per construction; plans print the child only
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any =
    SortedIdsKernel.contains(sorted, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("sortedIdsBroadcast", ids, classOf[Broadcast[_]].getName)
    val arr = ctx.addMutableState("long[]", "sortedIds",
      v => s"$v = (long[]) $bc.value();", forceInline = true)
    defineCodeGen(ctx, ev, id => s"graft.functions.SortedIdsKernel.contains($arr, $id)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
