package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document quality scoring (declared d50): distill the
  * conjunctive heuristic gate ([[TextOps.qualityKeep]], declared d27)
  * into a count-based naive-Bayes model over binned quality features,
  * then score every document with a graded log-odds instead of a hard
  * boolean. The weak-label → classifier → soft-score promotion is the
  * standard corpus-quality pattern (GPT-3's LR quality filter, Brown et
  * al. 2020, arXiv:2005.14165 §2.2; CCNet's LM filter): the gate only
  * answers keep/drop, the model RANKS — its factorized score grades
  * documents the conjunction lumps together, which is what a pipeline
  * needs for quality-aware sampling and threshold sweeps.
  *
  * Why count-NB and not an iterative MLlib fit (the reference's LR/GBT
  * M-ops): at 100 TB, training must be ONE map-side-combinable
  * aggregation, and the score must be layout-invariant and
  * oracle-checkable. A 2-row × 16-column count aggregate gives exactly
  * that — integer counts are bit-identical under any partitioning, task
  * replay, or engine, so the whole model (log-likelihood-ratio weights,
  * micro-quantized like d29's surprisal) is deterministic end to end.
  * An L-BFGS fit's treeAggregate sums gradients in partition order: its
  * coefficients drift in the last ulp across layouts, which would fail
  * the cross-layout gate by construction. MLlib remains the right tool
  * for the wide churn-feature models (M9–M14); for a 4-feature
  * quality distillation the closed form is strictly better.
  *
  * Scale shape: training is one scan → one 2×16 partial-aggregated
  * groupBy (the collect ships ~32 longs — a model, not data); scoring is
  * a ZERO-SHUFFLE codegen'd projection, the trained weights embedded as
  * literal when-chains over the bin columns. No join, no broadcast, no
  * state — the 100 TB score pass is scan-bound.
  *
  * Determinism contract: bin edges are decimal literals compared against
  * ratios of exact integers (one correctly-rounded division — identical
  * bits on any engine); weights/prior are `floor(x·10⁶ + 0.5)` micro
  * units (libm `ln` differs ≤ 1 ulp between engines; a flip needs the
  * pre-round value within ~1e-10 of a boundary — the d29 argument); the
  * per-doc score is an INTEGER sum of micro weights, so summation order
  * cannot move it. NULL text is classed negative outright
  * (`coalesce(gate, false)`) — the gate's three-valued NULL would
  * otherwise form a third label group at training time — matching both
  * the oracle's `CASE WHEN label THEN 1 ELSE 0` semantics and
  * [[TextOps.qualityFilter]]'s otherwise-branch; its bins land in each
  * feature's ELSE arm on both engines. Otherwise the same non-empty-text
  * contract as d27's gate. */
object QualityModel {

  /** (bin column, bin count). Edges are fixed constants chosen around the
    * d27 gate's thresholds plus the d32 type-token ratio — every feature
    * is a ratio of exact integers, so binning is engine-portable. */
  private val features: Seq[(String, Int)] =
    Seq(("b_len", 4), ("b_tok", 4), ("b_punct", 3), ("b_ttr", 4))

  /** One scan: weak label (the d27 gate, NULL coalesced to the negative
    * class) + the four binned features. Feature expressions and gate
    * thresholds come from [[TextOps]] (single source with d27), so the
    * label and its features cannot drift apart. */
  private def binned(docs: DataFrame): DataFrame = {
    val nTok = TextOps.tokenCount("text")
    val nTypes = TextOps.typeCount("text")
    val r1 = TextOps.nonSpaceLen.cast("double") / nTok.cast("double")
    // NULL on empty text (see TextOps.punctRatio): fails every WHEN arm
    // below exactly as DuckDB's 0.0/0.0 NaN does → ELSE arm both engines
    val r2 = TextOps.punctRatio
    val ttr = nTypes.cast("double") / nTok.cast("double")
    docs.select(
      col("doc_id"),
      coalesce(TextOps.qualityKeep, lit(false)).as("label"),
      when(nTok < TextOps.QualityMinTokens, 0L).when(nTok < 50, 1L)
        .when(nTok < 200, 2L).otherwise(3L).as("b_len"),
      when(r1 < TextOps.QualityMinMeanTokLen, 0L).when(r1 < 5.0, 1L)
        .when(r1 <= TextOps.QualityMaxMeanTokLen, 2L).otherwise(3L).as("b_tok"),
      when(r2 <= 0.02, 0L).when(r2 <= TextOps.QualityMaxPunctRatio, 1L)
        .otherwise(2L).as("b_punct"),
      when(ttr < 0.3, 0L).when(ttr < 0.6, 1L)
        .when(ttr < 0.9, 2L).otherwise(3L).as("b_ttr"))
  }

  /** Trained model: micro-quantized (×10⁶) log-likelihood-ratio weight
    * per (feature, bin) — Laplace α = 1 over each feature's full bin
    * range, so bins unseen in one class still score finitely — plus the
    * class-prior log-odds. Integer micro units on purpose: the score is
    * then an exact integer sum (see determinism contract above). */
  final case class Model(priorMicro: Long, weights: Map[(String, Long), Long])

  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** The training-side count aggregate as an (unexecuted) DataFrame:
    * 2 label rows × [count + 15 per-bin counts]. Package-private so tests
    * can assert its PLAN shape (map-side partial aggregation, no window)
    * directly — the declared d50 catalog entry runs [[train]] eagerly at
    * query-construction time, so catalog-wide plan tooling
    * (`tools.Profile plans`, PlanLintSpec) only ever sees the scoring
    * projection, never this aggregate; QualityModelSpec covers that blind
    * spot against it. */
  private[graft] def trainingAggregate(docs: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      features.flatMap { case (f, nb) =>
        (0 until nb).map(i =>
          sum(when(col(f) === i, 1L).otherwise(0L)).as(s"${f}__$i"))
      }
    binned(docs).groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
  }

  /** One aggregation job (2 label rows × [count + 15 bin counts]); the
    * collect ships the count matrix only. Counts are exact integers, so
    * the model is identical under any partitioning or task replay. */
  def train(docs: DataFrame): Model = {
    val rows = trainingAggregate(docs).collect()
    def cnt(label: Boolean, c: String): Long =
      rows.find(_.getBoolean(0) == label)
        .map(r => r.getLong(r.fieldIndex(c))).getOrElse(0L)
    val nPos = cnt(true, "__n")
    val nNeg = cnt(false, "__n")
    // Conservation check: every doc of a class must land in exactly one
    // bin of every feature. If a future binned() edit emits a bin outside
    // a feature's declared 0..nb-1 range, those rows fall into NO per-bin
    // bucket above (each bucket is an equality sum) and the model would
    // silently under-count — fail loudly at train time instead.
    features.foreach { case (f, nb) =>
      Seq(true -> nPos, false -> nNeg).foreach { case (lbl, n) =>
        val binSum = (0 until nb).map(i => cnt(lbl, s"${f}__$i")).sum
        require(binSum == n,
          s"d50 $f (label=$lbl): bin counts sum to $binSum, class total $n" +
            s" — binned() emitted a bin outside 0..${nb - 1}")
      }
    }
    val weights = features.flatMap { case (f, nb) =>
      (0 until nb).map { i =>
        val np = cnt(true, s"${f}__$i")
        val nn = cnt(false, s"${f}__$i")
        (f, i.toLong) -> micro(
          math.log(np + 1.0) - math.log(nPos + nb.toDouble) -
            math.log(nn + 1.0) + math.log(nNeg + nb.toDouble))
      }
    }.toMap
    Model(micro(math.log(nPos + 1.0) - math.log(nNeg + 1.0)), weights)
  }

  /** Scores every document under a trained model: zero-shuffle projection,
    * weights embedded as literal when-chains (exhaustive over each
    * feature's bin range by construction of [[binned]]). Output order is
    * unspecified — the declared d50 catalog entry adds an `orderBy` for
    * oracle comparability; a pipeline materializing scores at corpus
    * scale should NOT pay that sort, so the operator doesn't impose it. */
  def scoreDocuments(docs: DataFrame, model: Model): DataFrame = {
    val termCols: Seq[Column] = features.map { case (f, nb) =>
      val chain = (1 until nb).foldLeft(
        when(col(f) === 0L, lit(model.weights((f, 0L)))): Column) { (acc, i) =>
        acc.when(col(f) === i.toLong, lit(model.weights((f, i.toLong))))
      }
      // Unreachable today — binned() emits every bin via otherwise(), so
      // the chain above is exhaustive — but a future feature/bin edit
      // that widens a bin range would otherwise fall through to a NULL
      // weight and a silently-NULL score. Fail loudly at score time.
      chain.otherwise(raise_error(concat(
        lit(s"d50: $f outside declared range 0..${nb - 1}: "),
        col(f).cast("string"))))
    }
    val scoreMicro = termCols.foldLeft(lit(model.priorMicro): Column)(_ + _)
    binned(docs)
      .select(col("doc_id"), scoreMicro.as("__m"))
      .select(col("doc_id"),
        (col("__m").cast("double") / lit(1000000.0)).as("quality_score"),
        (col("__m") > 0L).as("model_keep"))
  }

  /** D5/M composition — declared d50: train on the corpus's own weak
    * labels, score the same corpus (the standard self-distillation form;
    * pass a held-out frame to [[train]] + [[scoreDocuments]] to split). */
  def qualityScores(docs: DataFrame): DataFrame =
    scoreDocuments(docs, train(docs))
}
