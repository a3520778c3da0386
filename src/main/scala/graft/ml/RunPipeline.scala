package graft.ml

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.SparkSession

/** End-to-end pipeline driver reproducing the reference's 8-stage
  * standalone runner (`run_pipeline.py:24-121`, SURVEY.md §3.1):
  * config → generate+validate → features → split → grid-train → evaluate →
  * select champion → explain → promote. One Spark application; the
  * reference's per-task Airflow processes and XCom/file hand-offs collapse
  * into lazy lineage within this driver (SURVEY.md §3.2).
  */
object RunPipeline {

  final case class PipelineResult(champion: Option[Evaluation.ModelScore],
                                  scores: Seq[Evaluation.ModelScore],
                                  nTrain: Long, nTest: Long)

  def run(spark: SparkSession, config: PipelineConfig): PipelineResult = {
    // 1-2. ingest + validate (raises on gate failure, data_ingestion.py:161-163)
    val raw = DataGen.generate(spark, config.nSamples, config.randomState)
    DataGen.validate(raw)
    // 3. features (fit)
    val (feat, preprocessor) =
      FeaturePipeline.fit(raw, config.outlierClipSigma, config.scalerMethod)
    // 4. stratified split
    val (train, test) = Split.stratified(feat.select("features", "label"),
      "label", config.testSize, config.randomState)
    val trainC = train.cache(); val testC = test.cache()
    val (nTrain, nTest) = (trainC.count(), testC.count())
    // 5. grid-search training per enabled model (keep the per-combo CV
    // evidence — the reference logs it to MLflow, training.py:98-150)
    val detailed = Training.trainAllDetailed(config, trainC)
    val trained = detailed.map(_._1)
    writeTrainingRunLog(config, detailed)
    // 6. evaluate + select champion
    val scores = trained.map(t => Evaluation.evaluate(t.model, testC, t.name))
    val champion = Evaluation.selectChampion(scores,
      config.championF1Threshold, config.championAucThreshold)
    // champion's fitted model resolved ONCE for both the explain and the
    // promote steps — a second independent lookup could throw only AFTER
    // the explainability report was already written
    val championModel = champion.map(c => c -> trained.find(_.name == c.name).get.model)
    // 7. explain — E1 dispatch (`explainability.py:15-39`): exact linear
    // SHAP for linear champions, exact TreeSHAP for tree ensembles
    championModel.foreach { case (c, model) =>
      // pinned: the sample feeds means/TreeSHAP/row-count, and a
      // Bernoulli sample re-evaluated across jobs is not guaranteed stable
      val sample = graft.Materialize.pin(
        Shap.sampleRows(testC, config.shapSampleSize, config.randomState))
      val (shapLong, expectedValue) = model match {
        case lr: LogisticRegressionModel =>
          // ONE background-means pass shared by the expected value
          // E[f(x)] = intercept + w·E[x] and the attributions
          val means = Shap.backgroundMeans(sample, lr.coefficients.size)
          val ev = lr.intercept + lr.coefficients.toArray.zipWithIndex
            .map { case (w, i) => w * means(i) }.sum
          (Shap.linearShapOn(lr, sample, means), ev)
        case m =>
          val nFeat = m match {
            case rf: org.apache.spark.ml.classification.RandomForestClassificationModel => rf.numFeatures
            case gbt: org.apache.spark.ml.classification.GBTClassificationModel => gbt.numFeatures
            case dt: org.apache.spark.ml.classification.DecisionTreeClassificationModel => dt.numFeatures
            case _ => 0
          }
          (TreeShap.shapValues(m, sample, nFeat), TreeShap.expectedValue(m))
      }
      val importance = Shap.globalImportance(shapLong, config.maxDisplayFeatures).collect()
      // report the ACTUAL sample row count — Shap.sampleRows is a Bernoulli
      // sample (can return fewer than requested, or the whole df when
      // count <= n), so echoing config.shapSampleSize would overstate it
      writeExplainabilityReport(config, importance, expectedValue, sample.count().toInt)
    }
    // 7b. S5 report sinks (`evaluation.py:178-204`, `explainability.py:134-156`)
    writeEvaluationReport(config, scores, champion)
    // 8. promote
    championModel.foreach { case (c, model) =>
      Deployment.promote(config.modelDir, model,
        preprocessor, Deployment.ChampionMeta(c.name, c.f1, c.rocAuc,
          java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).toString))
    }
    trainC.unpersist(); testC.unpersist()
    PipelineResult(champion, scores, nTrain, nTest)
  }

  /** S5 — evaluation report JSON (`evaluation.py:178-204` shape: per-model
    * metrics + champion + thresholds). */
  private def writeEvaluationReport(config: PipelineConfig,
                                    scores: Seq[Evaluation.ModelScore],
                                    champion: Option[Evaluation.ModelScore]): Unit = {
    val dir = java.nio.file.Paths.get(config.modelDir)
    java.nio.file.Files.createDirectories(dir)
    val perModel = scores.map(s =>
      s"""    "${s.name}": {"accuracy": ${graft.Json.num(s.accuracy)}, "precision": ${graft.Json.num(s.precision)}, """ +
        s""""recall": ${graft.Json.num(s.recall)}, "f1": ${graft.Json.num(s.f1)}, "roc_auc": ${graft.Json.num(s.rocAuc)}}""")
      .mkString(",\n")
    val json =
      s"""{
         |  "models": {
         |$perModel
         |  },
         |  "champion": ${champion.map(c => s""""${c.name}"""").getOrElse("null")},
         |  "thresholds": {"f1": ${config.championF1Threshold}, "roc_auc": ${config.championAucThreshold}}
         |}""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("evaluation_report.json"), json)
  }

  /** S5 — explainability report JSON (`explainability.py:134-156` shape:
    * expected_value + sample_size + sorted feature_importance). */
  private def writeExplainabilityReport(config: PipelineConfig,
                                        importance: Array[org.apache.spark.sql.Row],
                                        expectedValue: Double,
                                        sampleSize: Int): Unit = {
    val dir = java.nio.file.Paths.get(config.modelDir)
    java.nio.file.Files.createDirectories(dir)
    val items = importance.map(r =>
      s"""    {"feature": "feature_${r.getAs[Int]("feature_idx")}", """ +
        s""""importance": ${graft.Json.num(r.getAs[Double]("mean_abs_shap"))}}""")
      .mkString(",\n")
    val json =
      s"""{
         |  "expected_value": ${graft.Json.num(expectedValue)},
         |  "sample_size": $sampleSize,
         |  "feature_importance": [
         |$items
         |  ]
         |}""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("explainability_report.json"), json)
  }

  /** M13 — per-model grid-search run log (the MLflow payload replacement,
    * `training.py:98-150`): best params + every combo's mean CV score. */
  private[ml] def writeTrainingRunLog(config: PipelineConfig,
      detailed: Seq[(Training.TrainedModel, Seq[Training.CvResult])]): Unit = {
    val dir = java.nio.file.Paths.get(config.modelDir)
    java.nio.file.Files.createDirectories(dir)
    def paramsJson(p: Map[String, Double]): String =
      p.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")
    val perModel = detailed.map { case (t, cvResults) =>
      val combos = cvResults.map(r =>
        s"""      {"params": ${paramsJson(r.params)}, "mean_f1": ${graft.Json.num(r.meanScore)}}""")
        .mkString(",\n")
      s"""    "${t.name}": {
         |      "best_params": ${paramsJson(t.params)},
         |      "best_cv_f1": ${graft.Json.num(t.cvScore)},
         |      "cv_results": [
         |$combos
         |      ]
         |    }""".stripMargin
    }.mkString(",\n")
    val json =
      s"""{
         |  "scoring_metric": "${config.scoringMetric}",
         |  "cv_folds": ${config.cvFolds},
         |  "models": {
         |$perModel
         |  }
         |}""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("training_run_log.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-churn-pipeline")
    val config = if (args.nonEmpty) PipelineConfig.load(args(0)) else PipelineConfig()
    val result = run(spark, config)
    val scoresJson = result.scores.map(s =>
      s"""{"name": "${s.name}", "f1": ${s.f1}, "roc_auc": ${s.rocAuc}, "accuracy": ${s.accuracy}}""")
      .mkString("[", ", ", "]")
    println(s"""{"champion": ${result.champion.map(c => s""""${c.name}"""").getOrElse("null")}, """ +
      s""""n_train": ${result.nTrain}, "n_test": ${result.nTest}, "scores": $scoresJson}""")
    spark.stop()
  }
}
