package graft.ml

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.{GBTClassificationModel, LogisticRegressionModel, RandomForestClassificationModel}
import org.apache.spark.ml.Model
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Champion promotion / loading / scoring (M18–M19, S5,
  * `deployment.py:16-110`): archive-then-write filesystem transaction with
  * UTC-stamped archival, metadata JSON, batch scoring entry.
  *
  * Serving skew, kept on purpose: [[score]] and [[scoreJson]] recompute
  * the engineered features on the scored batch itself
  * ([[FeaturePipeline.addEngineeredFeatures]]), so `high_value` compares
  * each row with the 75th percentile of `monthly_charges` in THAT batch,
  * not in the training data. The same row can score differently in
  * different batches. This copies the reference's train/serve skew
  * (`deployment.py:99`); fixing it would change what the reproduction
  * reproduces, so it must not be fixed silently. */
object Deployment {

  final case class ChampionMeta(modelName: String, f1: Double, rocAuc: Double,
                                promotedAt: String)

  // JSON string escaping for the one free-text field: registry names are
  // identifiers today, but metadata.json must stay parseable for any name
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private def metaJson(m: ChampionMeta): String =
    s"""{"model_name": "${jsonEscape(m.modelName)}", "f1": ${m.f1}, "roc_auc": ${m.rocAuc}, "promoted_at": "${m.promotedAt}"}"""

  /** M18 — promote: archive any current champion dir to
    * `archive_<UTC timestamp>` (ref `deployment.py:42-46`), then persist
    * model + preprocessor + metadata.json. */
  def promote(dir: String, model: Model[_], preprocessor: PipelineModel,
              meta: ChampionMeta): Unit = {
    val root = Paths.get(dir)
    val current = root.resolve("current")
    if (Files.exists(current)) {
      val stamp = ZonedDateTime.now(ZoneOffset.UTC)
        .format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmmssSSS"))
      Files.move(current, root.resolve(s"archive_$stamp"))
    }
    Files.createDirectories(current)
    model match {
      case m: LogisticRegressionModel => m.write.overwrite().save(current.resolve("model_lr").toString)
      case m: RandomForestClassificationModel => m.write.overwrite().save(current.resolve("model_rf").toString)
      case m: GBTClassificationModel => m.write.overwrite().save(current.resolve("model_gbt").toString)
      case other => throw new IllegalArgumentException(s"unsupported model ${other.getClass}")
    }
    preprocessor.write.overwrite().save(current.resolve("preprocessor").toString)
    Files.writeString(current.resolve("metadata.json"), metaJson(meta))
  }

  /** M19 — load champion or fail if absent (`deployment.py:74-92`). */
  def load(spark: SparkSession, dir: String): (Model[_], PipelineModel, String) = {
    val current = Paths.get(dir).resolve("current")
    require(Files.exists(current), s"no champion at $current")
    val pre = PipelineModel.load(current.resolve("preprocessor").toString)
    val model: Model[_] =
      if (Files.exists(current.resolve("model_lr"))) LogisticRegressionModel.load(current.resolve("model_lr").toString)
      else if (Files.exists(current.resolve("model_rf"))) RandomForestClassificationModel.load(current.resolve("model_rf").toString)
      else GBTClassificationModel.load(current.resolve("model_gbt").toString)
    (model, pre, Files.readString(current.resolve("metadata.json")))
  }

  /** Batch scoring entry (the Spark shape of the Flask `/predict` surface,
    * SURVEY.md §3.3): raw request rows → engineered features → fitted
    * preprocessor → predictions + P(class 1). */
  def score(df: DataFrame, model: Model[_], preprocessor: PipelineModel): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.functions._
    val prepped = preprocessor.transform(FeaturePipeline.addEngineeredFeatures(df))
    model.asInstanceOf[Model[_ <: Model[_]]].transform(prepped)
      .withColumn("p1", vector_to_array(col("probability")).getItem(1))
  }

  /** S6 — the serving boundary (`deployment.py:128-144`): JSON request
    * bodies → typed rows → engineered features → fitted preprocessor →
    * predictions. One request batch = one small DataFrame; the same
    * function scores a 10^11-row backfill unchanged.
    *
    * Per-request isolation: one malformed or incomplete request (invalid
    * JSON, a missing or NaN numeric — anything the fitted assembler would
    * reject) must not kill the whole batch. Requests are keyed by
    * `request_index` (input order), unscoreable ones come back with NULL
    * `prediction`/`p1`, and the caller correlates by index — the batch
    * analog of the reference's per-request 400. Unknown/NULL categoricals
    * are NOT rejections: the fitted StringIndexer keeps them as an
    * explicit unseen bucket. */
  def scoreJson(spark: SparkSession, jsonRows: Seq[String], model: Model[_],
                preprocessor: PipelineModel): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val parsed = jsonRows.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("request_index", "__json")
      .select(col("request_index"),
        from_json(col("__json"), graft.sources.ChurnCsv.schema).as("__r"))
      .select(col("request_index"), col("__r.*"))
    // scoreable ⇔ the raw numerics the pipeline consumes are present and
    // finite — NaN or ±Inf alike (the engine-wide non-finite predicate,
    // [[graft.operators.Features.finiteOrNull]]): an Inf request would
    // otherwise flow into the fitted scaler and come back as a garbage
    // non-NULL prediction instead of a rejection. Engineered features
    // derive from these; categoricals are handled by the indexer's keep
    // bucket.
    val rawNumerics = Seq("tenure", "monthly_charges", "total_charges",
      "num_support_tickets", "avg_monthly_usage_gb")
    val dirty = rawNumerics
      .map(c => graft.operators.Features.finiteOrNull(col(c).cast("double")).isNull)
      .reduce(_ || _)
    val scored = score(parsed.filter(!dirty), model, preprocessor)
      .select(col("request_index"), col("prediction"), col("p1"))
    val rejected = parsed.filter(dirty).select(col("request_index"),
      lit(null).cast("double").as("prediction"), lit(null).cast("double").as("p1"))
    scored.unionByName(rejected).orderBy(col("request_index"))
  }

  /** Count archived champions (for re-promotion tests,
    * `test_deployment.py:40-61` analog). */
  def archiveCount(dir: String): Int = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0
    else {
      // Files.list holds an open DirectoryStream — close it, don't leak it
      val s = Files.list(root)
      try s.filter((p: Path) => p.getFileName.toString.startsWith("archive_"))
        .count().toInt
      finally s.close()
    }
  }
}
