package graft.tools

/** Targeted reproduction of the full-grid failure mode: one 200-round GBT
  * fit (the deepest boosting lineage the reference grid produces) +
  * transform + score. Before the `setCheckpointInterval(10)` fix this
  * died with StackOverflowError in task deserialization at high
  * iteration counts; run after any change to the training path:
  * `sbt "runMain graft.tools.GbtLineageCheck"` — expect one "ok" line. */
object GbtLineageCheck {
  def main(args: Array[String]): Unit = {
    // the factory sets the checkpoint dir the interval-10 lineage cut needs
    val spark = graft.GraftSession.local("graft-gbt-lineage-check")
    val raw = graft.ml.DataGen.generate(spark, 4000, 42L)
    val (featurized, _) = graft.ml.FeaturePipeline.fit(raw)
    val train = featurized.select("features", "label").cache()
    train.count()
    val t0 = System.nanoTime()
    val gbt = graft.ml.Training.build("xgboost", Map(
      "n_estimators" -> 200.0, "max_depth" -> 7.0,
      "learning_rate" -> 0.1, "subsample" -> 0.8), 4000L)
    val model = gbt.fit(train).asInstanceOf[org.apache.spark.ml.Model[_]]
    val f1 = graft.ml.Training.f1Score(model, train)
    println(f"ok: 200-round GBT fit+score in ${(System.nanoTime() - t0) / 1e9}%.1f s, train f1=$f1%.4f")
    spark.stop()
  }
}
