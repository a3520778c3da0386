package perfbench

import org.apache.spark.ml.Model
import org.apache.spark.ml.classification._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml._
import graft.ml.RunPipeline.PipelineResult

/** Layer probe of the churn pipeline (`ml.*`), made in every traced run:
  * `RunPipeline.run`'s call order replayed through the public `ml`
  * functions, one span per stage, at 1,000 rows, 2-fold CV and one combo
  * per model family. The seed is the pipeline's `randomState`. */
object ChurnProbe {

  /** `PipelineConfig.load` ignores the YAML `models` block, so the grid is
    * built here: 3 combos x 2 folds + 3 refits = 9 fits. */
  val models: Map[String, ModelConfig] = Map(
    "logistic_regression" -> ModelConfig(enabled = true, grid = Map("C" -> Seq(0.1))),
    "random_forest" -> ModelConfig(enabled = true,
      grid = Map("n_estimators" -> Seq(20.0), "max_depth" -> Seq(5.0))),
    "xgboost" -> ModelConfig(enabled = true,
      grid = Map("n_estimators" -> Seq(10.0), "max_depth" -> Seq(3.0))))

  /** Thresholds of 0, so that a champion is always promoted: the serve
    * probe loads it. */
  def config(a: Args): PipelineConfig =
    PipelineConfig(nSamples = 1000, cvFolds = 2, randomState = a.seed, models = models,
      championF1Threshold = 0.0, championAucThreshold = 0.0, modelDir = s"${a.work}/champion",
      gridParallelism = a.cpus)

  /** `RunPipeline.run`'s call order through the public `ml` functions,
    * one span per stage (the run-log and report writes are left out). */
  def replay(s: SparkSession, c: PipelineConfig, t: Tracer): PipelineResult = {
    val raw = t.span("ml.DataGen") {
      val raw = DataGen.generate(s, c.nSamples, c.randomState)
      DataGen.validate(raw)
      raw
    }
    val (feat, pre) = t.span("ml.FeaturePipeline")(
      FeaturePipeline.fit(raw, c.outlierClipSigma, c.scalerMethod))
    val (train, test, nTrain, nTest) = t.span("ml.Split") {
      val (tr, te) = Split.stratified(feat.select("features", "label"), "label",
        c.testSize, c.randomState)
      val (trC, teC) = (tr.cache(), te.cache())
      (trC, teC, trC.count(), teC.count())
    }
    val trained = t.span("ml.Training") {
      c.models.toSeq.sortBy(_._1).collect { case (name, mc) if mc.enabled =>
        t.span(s"ml.Training.$name")(Training.gridSearch(name, mc.grid, train,
          c.cvFolds, c.randomState, c.gridParallelism)._1)
      }
    }
    val (scores, champion) = t.span("ml.Evaluation") {
      val scores = trained.map(m => Evaluation.evaluate(m.model, test, m.name))
      (scores, Evaluation.selectChampion(scores, c.championF1Threshold, c.championAucThreshold))
    }
    val championModel = champion.map(ch => ch -> trained.find(_.name == ch.name).get.model)
    t.span("ml.Shap")(championModel.foreach { case (_, m) => explain(m, test, c) })
    t.span("ml.Deployment.promote")(championModel.foreach { case (ch, m) =>
      Deployment.promote(c.modelDir, m, pre, Deployment.ChampionMeta(ch.name, ch.f1,
        ch.rocAuc, java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).toString))
    })
    train.unpersist(); test.unpersist()
    PipelineResult(champion, scores, nTrain, nTest)
  }

  /** The explain step: a checkpointed sample, exact linear SHAP or
    * TreeSHAP, the global importance. */
  private def explain(m: Model[_], test: DataFrame, c: PipelineConfig): Unit = {
    val n = test.count()
    val sample = (if (n <= c.shapSampleSize) test
      else test.sample(withReplacement = false, math.min(1.0, 1.5 * c.shapSampleSize / n),
        c.randomState).limit(c.shapSampleSize)).localCheckpoint(true)
    val shapLong = m match {
      case lr: LogisticRegressionModel =>
        Shap.linearShapOn(lr, sample, Shap.backgroundMeans(sample, lr.coefficients.size))
      case rf: RandomForestClassificationModel => TreeShap.shapValues(rf, sample, rf.numFeatures)
      case gbt: GBTClassificationModel => TreeShap.shapValues(gbt, sample, gbt.numFeatures)
      case other => throw new IllegalArgumentException(s"no explainer for $other")
    }
    Shap.globalImportance(shapLong, c.maxDisplayFeatures).collect()
    sample.count()
  }

  def layers(r: Result, t: Tracer, l: JobListener, c: PipelineConfig): Unit = {
    r.metric("ml.DataGen.s", t.seconds("ml.DataGen"), "s")
    r.metric("ml.FeaturePipeline.s", t.seconds("ml.FeaturePipeline"), "s")
    r.metric("ml.Split.s", t.seconds("ml.Split"), "s")
    r.metric("ml.Training.s", t.seconds("ml.Training"), "s")
    c.models.keys.toSeq.sorted.foreach { m =>
      r.metric(s"ml.Training.$m.s", t.seconds(s"ml.Training.$m"), "s")
      r.metric(s"ml.Training.$m.jobs",
        Counters.of(l, t, t.named(s"ml.Training.$m")).jobs.toDouble, "count")
    }
    val fits = c.models.values.map(mc => Training.gridCombos(mc.grid).size * c.cvFolds + 1).sum
    r.metric("ml.Training.s_per_fit", t.seconds("ml.Training") / fits, "s")
    r.metric("ml.Evaluation.s", t.seconds("ml.Evaluation"), "s")
    r.metric("ml.Shap.s", t.seconds("ml.Shap"), "s")
    r.metric("ml.Deployment.promote_s", t.seconds("ml.Deployment.promote"), "s")
  }

  /** One traced replay; returns the directory holding the promoted
    * champion. */
  def probe(s: SparkSession, a: Args, r: Result, t: Tracer): String = {
    val probeT = new Tracer(true)
    val c = config(a)
    val res = probeT.span("unit")(replay(s, c, probeT))
    layers(r, probeT, Traced.listener(s), c)
    r.diag("churn_probe_champion", Json.quote(res.champion.map(_.name).getOrElse("none")))
    t.adopt(probeT)
    c.modelDir
  }
}
