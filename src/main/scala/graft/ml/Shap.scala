package graft.ml

import org.apache.spark.ml.Model
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explainability operators (E1–E4, `explainability.py:15-214`).
  *
  *  - E1 dispatch: LinearExplainer semantics for linear models (closed
  *    form — exact); tree ensembles get EXACT path-dependent TreeSHAP
  *    ([[TreeShap]], dispatched in [[RunPipeline]]), with the ablation
  *    attribution here retained as a cross-check only.
  *  - E2 Linear SHAP on the margin: φᵢ = wᵢ·(xᵢ − E[xᵢ]) over a seeded
  *    background sample (`sample_size`, ref `explainability.py:64-72`).
  *    Pure DataFrame math: the coefficient vector and background means are
  *    broadcast literals; per-row work is one fused projection.
  *  - E3 global importance: mean(|φ|) per feature, top-N.
  */
object Shap {

  /** Seeded ~n-row sample in O(scan): Bernoulli `df.sample` oversampled
    * 1.5× then trimmed to exactly n. Replaces `orderBy(rand).limit(n)`,
    * whose global sort is the one step that cannot run at 100 TB — the
    * reference's `df.sample(n, random_state)` is likewise O(scan)
    * (`explainability.py:64-72`). Deterministic for a fixed seed and
    * partition layout; SHAP consumers assert the local-accuracy axiom,
    * not sample identity. */
  private[ml] def sampleRows(df: DataFrame, n: Int, seed: Long): DataFrame = {
    if (n == Int.MaxValue) df
    else {
      val cnt = df.count()
      if (cnt <= n) df
      else df.sample(withReplacement = false,
        math.min(1.0, 1.5 * n / cnt), seed).limit(n)
    }
  }

  /** Per-feature means of an already-projected `x: array<double>` relation
    * — the ONE implementation of the background E[x] aggregate
    * ([[backgroundMeans]] and [[ablationAttribution]] both delegate; two
    * copies could silently drift). An empty background has no mean to
    * explain against — a named precondition error, not a driver NPE. */
  private def meansOfArray(xDf: DataFrame, nFeat: Int): Array[Double] = {
    val row = xDf
      .select((0 until nFeat).map(i => avg(col("x").getItem(i)).as(s"m$i")): _*)
      .collect()(0)
    require(!row.isNullAt(0),
      "SHAP background sample is empty — no E[x] to explain against")
    (0 until nFeat).map(row.getDouble).toArray
  }

  /** Per-feature means of a `features`-vector relation — the SHAP
    * background E[x]. Exposed so callers needing both the means (for the
    * expected value) and attributions pay for ONE aggregation pass. */
  def backgroundMeans(df: DataFrame, nFeat: Int): Array[Double] =
    meansOfArray(df.select(vector_to_array(col("features")).as("x")), nFeat)

  /** E2 core — attributions for the given rows against a FIXED background:
    * φᵢ = wᵢ·(xᵢ − bgMeansᵢ). Long form (row_id, feature_idx, shap). */
  def linearShapOn(model: LogisticRegressionModel, rows: DataFrame,
                   bgMeans: Array[Double]): DataFrame = {
    val nFeat = model.coefficients.size
    val coefs = model.coefficients.toArray
    val shapCols = (0 until nFeat).map { i =>
      ((col("x").getItem(i) - lit(bgMeans(i))) * lit(coefs(i))).as(s"shap_$i")
    }
    val wide = rows
      .select(monotonically_increasing_id().as("row_id"), vector_to_array(col("features")).as("x"))
      .select(col("row_id") +: shapCols: _*)
    // long form for grouped aggregation
    val stacked = explode(array((0 until nFeat).map(i =>
      struct(lit(i).as("feature_idx"), col(s"shap_$i").as("shap"))): _*))
    wide.select(col("row_id"), stacked.as("s"))
      .select(col("row_id"), col("s.feature_idx").as("feature_idx"), col("s.shap").as("shap"))
  }

  /** E2 — reference shape (`explainability.py:64-83`): sample the relation,
    * use THAT sample as both the explained set and the background (the
    * reference explainer does exactly this). The sample is pinned
    * ([[graft.Materialize.pin]]): it feeds the means aggregate and the
    * attribution projection, and a Bernoulli sample re-evaluated across
    * jobs is not guaranteed the same rows. */
  def linearShap(model: LogisticRegressionModel, df: DataFrame,
                 sampleSize: Int, seed: Long = 42L): DataFrame = {
    val sample = graft.Materialize.pin(sampleRows(df, sampleSize, seed))
    linearShapOn(model, sample, backgroundMeans(sample, model.coefficients.size))
  }

  /** E2 fallback for non-linear models — ablation attribution: replace one
    * feature with its background mean and measure the probability delta.
    * Model-agnostic, embarrassingly parallel (nFeat scoring passes over the
    * sample). */
  def ablationAttribution(model: Model[_], df: DataFrame, nFeat: Int,
                          sampleSize: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.linalg.Vectors
    val spark = df.sparkSession
    import spark.implicits._
    val sample = sampleRows(df, sampleSize, seed)
      .select(vector_to_array(col("features")).as("x")).cache()
    val bg = meansOfArray(sample, nFeat)
    def meanP1(d: DataFrame): Double = {
      val withVec = d.map(r => Tuple1(Vectors.dense(r.getSeq[Double](0).toArray)))
        .toDF("features")
      model.asInstanceOf[Model[_ <: Model[_]]].transform(withVec)
        .agg(avg(vector_to_array(col("probability")).getItem(1))).collect()(0).getDouble(0)
    }
    val baseMean = meanP1(sample)
    val rows = (0 until nFeat).map { i =>
      // Column literal, not SQL-string interpolation: a NaN/Infinity
      // background mean rendered into an expr string parses as a COLUMN
      // REFERENCE and dies with UNRESOLVED_COLUMN; lit() carries any
      // double, and a NaN mean propagates visibly into the attribution
      // instead of crashing the explainer
      val ablated = sample.select(
        transform(col("x"), (v, j) => when(j === i, lit(bg(i))).otherwise(v)).as("x"))
      (i, math.abs(baseMean - meanP1(ablated)))
    }
    sample.unpersist()
    spark.createDataFrame(rows).toDF("feature_idx", "importance")
  }

  /** E3 — global importance: mean |shap| per feature, descending top-N
    * (`explainability.py:98-131`). */
  def globalImportance(shapLong: DataFrame, topN: Int): DataFrame =
    shapLong.groupBy(col("feature_idx"))
      .agg(avg(abs(col("shap"))).as("mean_abs_shap"))
      .orderBy(col("mean_abs_shap").desc, col("feature_idx"))
      .limit(topN)

  /** E4 — single-batch explanation: contributions sorted by |value| desc
    * (`explainability.py:159-214`). The background means come from the
    * provided REFERENCE relation (training/test sample), never from the
    * batch itself — self-background made a 1-row serving request explain
    * to identically zero (xᵢ = mean(xᵢ)) and small batches measure
    * deviation from themselves instead of from the data distribution. */
  def explainBatch(model: LogisticRegressionModel, batch: DataFrame,
                   background: DataFrame, sampleSize: Int = 500,
                   seed: Long = 42L): DataFrame = {
    val bg = backgroundMeans(sampleRows(background, sampleSize, seed),
      model.coefficients.size)
    linearShapOn(model, batch, bg)
      .withColumn("abs_shap", abs(col("shap")))
      .orderBy(col("row_id"), col("abs_shap").desc, col("feature_idx"))
      .drop("abs_shap")
  }
}
