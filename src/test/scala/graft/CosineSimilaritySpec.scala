package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Native cosine_sim expression: bit-equality with the composed
  * higher-order form, null handling, and codegen execution. */
class CosineSimilaritySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def emb = Tables.embeddings(spark, sfDir)

  test("native expression matches the composed HOF form bit-for-bit") {
    val pairs = emb.limit(40).select(col("vec_id").as("ida"), col("embedding").as("a"))
      .crossJoin(emb.limit(40).select(col("vec_id").as("idb"), col("embedding").as("b")))
    def hof(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    val both = pairs.select(
      expr("cosine_sim(a, b)").as("native"),
      expr(s"${hof("a", "b")} / (sqrt(${hof("a", "a")}) * sqrt(${hof("b", "b")}))").as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("null inputs yield null") {
    val r = emb.limit(1)
      .select(expr("cosine_sim(embedding, CAST(NULL AS ARRAY<FLOAT>))").as("c"))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("mismatched vector lengths yield null (codegen and interpreted)") {
    // codegen path (DataFrame projection)
    val r = emb.limit(1)
      .select(expr("cosine_sim(embedding, slice(embedding, 1, 3))").as("c"))
      .collect()(0)
    assert(r.isNullAt(0), "codegen path must not score a truncated prefix")
    // interpreted path (direct eval)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def arr(fs: Float*) = Literal.create(
      ArrayData.toArrayData(fs.toArray), ArrayType(FloatType, containsNull = false))
    val out = graft.functions.CosineSimilarity(
      arr(1.0f, 2.0f, 3.0f), arr(1.0f, 2.0f)).eval(null)
    assert(out == null, "interpreted path must not score a truncated prefix")
  }

  test("self-similarity is 1.0; plan stays in whole-stage codegen") {
    val self = emb.limit(100).select(expr("cosine_sim(embedding, embedding)").as("c"))
    assert(self.filter(abs(col("c") - 1.0) > 1e-12).count() == 0)
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan form
    val plan = self.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), s"expected codegen'd project in plan:\n$plan")
  }

  test("the similarity operators pick up the native function when registered") {
    assert(spark.catalog.functionExists("cosine_sim"))
    // every exact re-rank scores through the one shared cos_sim column;
    // d21's plan has no RDD boundary above the scoring, so the native
    // expression must also show in a declared query's optimized plan
    val scored = emb.select(col("embedding").as("q_emb"), col("embedding").as("n_emb"))
      .select(Similarity.cosSim(spark))
    assert(scored.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "the shared cosine score should use the native expression")
    val plan = SparkEntry.queries("d21_embedding_neardups")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("cosine_sim"), "embeddingNearDups should use the native expression")
  }
}
