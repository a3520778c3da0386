package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge for constructing `Column`s from custom Catalyst expressions —
  * `classic.ExpressionUtils` is `private[sql]` in Spark 4 (Columns are
  * ColumnNode-backed); this and [[org.apache.spark.ml.tree.NodeAccess]]
  * are the only two places the library reaches into Spark internals.
  * Callers: the native-expression wrappers (`graft.operators.Dedup` /
  * `Similarity` / `TextOps`), `graft.plans.BloomPrune`, which plants a
  * `might_contain(scalar-subquery(bloom_filter_agg))` predicate that has
  * no public Column/SQL surface, and `Dedup`'s sorted-run evidence, whose
  * partition-local scans hand `InternalRow`s back to a DataFrame without
  * an external-row round trip. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A DataFrame over catalyst rows of `schema` (no conversion pass). */
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
                       schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
