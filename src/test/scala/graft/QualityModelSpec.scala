package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{QualityModel, TextOps}

/** d50 — model-based quality scoring (count-NB distilled from the d27
  * heuristic gate). The DuckDB oracle checks end-to-end equality; these
  * tests pin the properties the oracle can't express: model determinism
  * under layout change, Laplace behavior on unseen bins, separation on a
  * hand-built corpus, and that the score is graded rather than a
  * re-encoding of the boolean gate. */
class QualityModelSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("training aggregate plan: map-side partial aggregation, one " +
      "label-keyed exchange, no window (covers the Profile-plans/PlanLint " +
      "blind spot — the declared d50 entry trains eagerly at query " +
      "construction, so catalog-wide plan tooling only ever sees the " +
      "score projection, never this aggregate)") {
    val plan = QualityModel.trainingAggregate(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"training count must combine map-side:\n$plan")
    assert(plan.contains("partial_sum"),
      s"per-bin counts must combine map-side:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"training must not contain a window:\n$plan")
    // exactly one exchange — the 2-row label repartitioning between the
    // partial and final aggregate; no text-keyed shuffle anywhere
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx == 1, s"expected exactly 1 exchange, got $nEx:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(label"),
      s"the one exchange must be keyed on the 2-value label:\n$plan")
  }

  test("score plan stays zero-shuffle and codegen'd with the " +
      "out-of-range tripwire branch in the weight chains") {
    val plan = QualityModel
      .scoreDocuments(docs, QualityModel.train(docs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"score pass must be a zero-shuffle projection:\n$plan")
    // the `*(1)` prefix is the simple-string marker for whole-stage
    // codegen; every operator of the score pass must carry it
    assert(plan.linesIterator.filter(_.trim.nonEmpty).forall(l =>
      l.contains("*(1)") || l.trim.startsWith("+- FileScan")),
      s"score pass must stay inside one whole-stage codegen span:\n$plan")
    assert(plan.contains("raise_error"),
      s"the out-of-range tripwire must be planted in the plan:\n$plan")
  }

  test("model is bit-identical under adversarial repartitioning") {
    val m1 = QualityModel.train(docs)
    val m2 = QualityModel.train(docs.repartition(7, col("text")))
    assert(m1 == m2, "integer-count training must be layout-invariant")
  }

  test("declared d50: one row per doc, finite graded scores") {
    val out = QualityModel.qualityScores(docs).collect()
    assert(out.length == docs.count())
    val scores = out.map(_.getDouble(1))
    assert(scores.forall(s => !s.isNaN && !s.isInfinite))
    assert(scores.distinct.length > 2,
      "factorized NB must grade documents, not re-encode the boolean gate")
  }

  test("distillation sanity: high agreement with the weak gate, and " +
      "gate-passers score above gate-failers on average") {
    val labels = docs.select(col("doc_id"), TextOps.qualityKeep.as("label"))
    val j = QualityModel.qualityScores(docs).join(labels, "doc_id")
    val n = j.count().toDouble
    val agree = j.filter(col("model_keep") === col("label")).count() / n
    assert(agree >= 0.8, s"gate agreement only $agree")
    // separation is only defined when the corpus has both classes (at
    // sf0.001 every document passes the gate — the class-prior then
    // dominates and full agreement above is the right degenerate check;
    // the hand-case test pins separation on a two-class corpus)
    val means = j.groupBy(col("label")).agg(avg(col("quality_score")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    if (means.size == 2)
      assert(means(true) > means(false),
        s"no separation: pos mean ${means(true)} <= neg mean ${means(false)}")
  }

  test("hand case: a separable corpus is classified perfectly") {
    // six gate-passers (>= 10 tokens of sane length, no punctuation) and
    // six gate-failers (3 short tokens) — separable on b_len alone
    val good = (1L to 6L).map(i =>
      (i, (1 to 12).map(j => s"tok${i}x$j").mkString(" ")))
    val bad = (7L to 12L).map(i => (i, "a b c"))
    val df = (good ++ bad).toDF("doc_id", "text")
    val out = QualityModel.qualityScores(df).collect()
    out.foreach { r =>
      val keep = r.getBoolean(2)
      assert(keep == (r.getLong(0) <= 6L),
        s"doc ${r.getLong(0)} misclassified on a separable corpus")
    }
  }

  test("held-out split: a model trained on one frame scores another " +
      "(the train/score API split the scaladoc advertises)") {
    val train = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val hold = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val out = QualityModel.scoreDocuments(hold, QualityModel.train(train))
      .collect()
    assert(out.length == hold.count())
    assert(out.forall { r =>
      val s = r.getDouble(1); !s.isNaN && !s.isInfinite
    })
  }

  test("empty inputs: empty corpus trains an all-zero model (score 0, " +
      "keep false); scoring an empty frame yields no rows") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val m = QualityModel.train(empty)
    assert(m.priorMicro == 0L && m.weights.values.forall(_ == 0L),
      "ln(1)-based smoothing must zero every weight on an empty corpus")
    val scored = QualityModel.scoreDocuments(
      Seq((1L, "some plain text here okay fine good yes and more tokens"))
        .toDF("doc_id", "text"), m).collect()
    assert(scored.length == 1 && scored(0).getDouble(1) == 0.0 &&
      !scored(0).getBoolean(2))
    assert(QualityModel.qualityScores(empty).collect().isEmpty)
  }

  test("NULL text trains and scores as the negative class (no third " +
      "label group, no silent exclusion)") {
    // six gate-passers + two NULL-text docs: the NULLs must land in the
    // negative class (coalesce(gate, false)), not crash training with a
    // null label group or silently drop out of the counts — pinned by the
    // class-prior ln((nPos+1)/(nNeg+1)) = ln(7/3) in micro units
    val good = (1L to 6L).map(i =>
      (i, Some((1 to 12).map(j => s"tok${i}x$j").mkString(" "))))
    val df = (good ++ Seq((7L, None), (8L, None)))
      .toDF("doc_id", "text")
    val m = QualityModel.train(df)
    assert(m.priorMicro ==
      math.floor((math.log(7.0) - math.log(3.0)) * 1e6 + 0.5).toLong,
      "NULL-text docs must count as negatives in the class prior")
    val scored = QualityModel.scoreDocuments(df, m).collect()
    assert(scored.length == 8, "NULL-text docs must be scored, not dropped")
    scored.foreach { r =>
      val s = r.getDouble(1)
      assert(!s.isNaN && !s.isInfinite)
      assert(r.getBoolean(2) == (r.getLong(0) <= 6L),
        s"doc ${r.getLong(0)}: NULL-text rows must score negative")
    }
  }

  test("Laplace smoothing: a bin unseen in training scores finitely") {
    // train without any heavy-punctuation doc (b_punct = 2 unseen in both
    // classes), then score one — the smoothed weight must be finite
    val train = (1L to 8L).map(i =>
      (i, (1 to 12).map(j => s"w${i}v$j").mkString(" ")))
    val model = QualityModel.train(train.toDF("doc_id", "text"))
    val scored = QualityModel.scoreDocuments(
      Seq((99L, "a!!! b!!! c!!! d!!! e!!!")).toDF("doc_id", "text"), model)
      .collect()
    assert(scored.length == 1)
    val s = scored(0).getDouble(1)
    assert(!s.isNaN && !s.isInfinite, s"unseen bin produced $s")
  }
}
