package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classification-metric aggregates (SURVEY.md §2.4 M15–M17) re-expressed
  * relationally: confusion counts → accuracy / precision / recall / f1
  * (`evaluation.py:22-78`, sklearn zero_division=0 semantics), rank-statistic
  * ROC-AUC, and champion selection (`evaluation.py:125-175`).
  *
  * All metrics derive from integer confusion counts, so Spark and any SQL
  * oracle agree bit-exactly after identical division. The declared queries
  * build (label, prediction) from a deterministic rule (status flag ×
  * median-price threshold) so the whole path is SQL-checkable; model-backed
  * predictions flow through the same functions in [[graft.ml]].
  */
object Metrics {

  /** Exact global percentile with bounded memory — the 100 TB replacement
    * for a single-buffer `percentile(x, q)` aggregate (which materializes
    * every value in ONE aggregation buffer). Same two-pass shape as
    * [[aucDistributed]]: range-repartition by value, count each partition,
    * locate the global rank(s) of the straddling order statistics, then
    * fetch exactly those from their partitions. The interpolation is
    * literally Spark's `Percentile.getPercentile` formula — position
    * `(n−1)·q`, result `(higher−pos)·lo + (pos−lower)·hi`, with the value
    * returned directly when the position is integral — so the result is
    * bit-identical to the in-plan aggregate at ANY q (asserted in tests
    * across partition counts). No task ever holds more than its sorted
    * partition slice.
    *
    * `partitions <= 0` (the default) derives the range-partition count from
    * the input: max(`spark.sql.shuffle.partitions`, input scan partitions).
    * At 100 TB a parquet scan yields O(100k) input splits, so the sorted
    * layout keeps per-task slices at split size instead of cramming the
    * table into a fixed 32; the result is partition-count invariant either
    * way (order statistics, asserted across counts in OperatorsSpec). */
  def exactPercentile(df: DataFrame, valueCol: String, q: Double,
                      partitions: Int = 0): Double =
    exactPercentiles(df, valueCol, Seq(q), partitions)
      .getOrElse(throw new IllegalArgumentException(
        s"exactPercentile over empty relation ($valueCol)"))(q)

  /** Multi-quantile form of [[exactPercentile]]: ALL requested quantiles
    * from the SAME two passes over one sorted layout (each extra q adds
    * only extra target ranks to the fetch pass, never another shuffle).
    * `None` on a relation with no finite values — the caller decides
    * whether that is an error (fit paths) or a NULL result (the in-plan
    * `percentile` aggregate's convention on empty input). */
  def exactPercentiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                       partitions: Int = 0): Option[Map[Double, Double]] = {
    require(qs.nonEmpty, "exactPercentiles needs at least one q")
    qs.foreach(q => require(q >= 0.0 && q <= 1.0, s"percentile q out of [0,1]: $q"))
    // order statistics over OBSERVED values: NULL carries none, and a
    // non-finite (NaN sorts greatest) would shift every rank —
    // SQL-aggregate/numpy-nanquantile convention, mirrored in the oracle
    // medians' `isfinite` guards
    val base = df.select(Features.finiteOrNull(col(valueCol).cast("double")).as("__v"))
      .filter(col("__v").isNotNull)
    val ranked = rangeRanked(base, partitions, col("__v"))
    val offsets = ranked.offsets
    val n = offsets.last
    if (n == 0) return None
    // 0-based global position of each percentile and its two straddling
    // order statistics (Spark Percentile.getPercentile)
    def locate(rank: Long): (Int, Long) = {
      val pid = offsets.lastIndexWhere(_ <= rank) // offsets(pid) = first global rank in pid
      (pid, rank - offsets(pid))
    }
    val wantedRanks: Seq[Long] = qs.flatMap { q =>
      val pos = (n - 1) * q
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
    }.distinct
    val targets: Map[Int, Seq[Long]] = wantedRanks.map(locate)
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).distinct }
    val byPart: Map[(Int, Long), Double] = ranked.rows
      .mapPartitionsWithIndex { (pid, it) =>
        targets.get(pid) match {
          case None => Iterator.empty
          case Some(ranks) =>
            // Long cursor, NOT zipWithIndex: the local offset must survive
            // partitions past 2^31 rows (same overflow class as the count)
            val want = ranks.toSet
            val last = ranks.max
            val out = Seq.newBuilder[((Int, Long), Double)]
            var i = 0L
            while (it.hasNext && i <= last) {
              val r = it.next()
              if (want(i)) out += (((pid, i), r.getDouble(0)))
              i += 1L
            }
            out.result().iterator
        }
      }.collect().toMap
    Some(qs.map { q =>
      val pos = (n - 1) * q
      val lowerRank = math.floor(pos).toLong
      val upperRank = math.ceil(pos).toLong
      val lo = byPart(locate(lowerRank))
      q -> (if (upperRank == lowerRank) lo
            else {
              val hi = byPart(locate(upperRank))
              (upperRank - pos) * lo + (pos - lowerRank) * hi
            })
    }.toMap)
  }

  /** Exact global median — [[exactPercentile]] at q = 0.5. */
  def exactMedian(df: DataFrame, valueCol: String, partitions: Int = 0): Double =
    exactPercentile(df, valueCol, 0.5, partitions)

  /** Range-sort width for the order-statistics passes when the caller
    * doesn't pin one (`partitions <= 0`, every default): at least the
    * shuffle default, and at least as wide as the relation's own scan so
    * no range partition concentrates more than ~one input split — a fixed
    * constant would cram a 100 TB table into that many sort tasks. The
    * results of every consumer are partition-count invariant (order
    * statistics / rank offsets), so the derivation affects cost only. */
  private[graft] def derivedPartitions(df: DataFrame, partitions: Int): Int =
    if (partitions > 0) partitions
    else math.max(df.sparkSession.sessionState.conf.numShufflePartitions,
                  df.rdd.getNumPartitions)

  /** `rows` sorted by `keys` across and within partitions, pinned so later
    * passes walk the same layout ([[graft.Materialize.pinRows]]), with
    * `offsets(pid)` = the global 0-based rank of partition pid's first row
    * (`offsets.last` = row count). */
  private[operators] final case class RangeRanked(rows: org.apache.spark.rdd.RDD[Row],
                                                  offsets: Array[Long])

  /** The partition-offset order-statistics pass shared by
    * [[exactPercentiles]], `RelationalExt.priceQuartiles` and
    * `TextOps.epochShuffle`: range-partition by `keys`, sort within
    * partitions, materialize, and collect only the per-partition row
    * counts. A global rank is then partition offset + local index, with no
    * single-partition window. `partitions <= 0` derives the width
    * ([[derivedPartitions]]). */
  private[operators] def rangeRanked(df: DataFrame, partitions: Int,
                                     keys: Column*): RangeRanked = {
    val sorted = df.repartitionByRange(derivedPartitions(df, partitions), keys: _*)
      .sortWithinPartitions(keys: _*)
    graft.Materialize.labelled(sorted) {
      val rows = graft.Materialize.pinRows(sorted)
      val counts = rows.mapPartitionsWithIndex { (pid, it) =>
        // Long accumulator, NOT Iterator.size: a >2^31-row partition would
        // wrap the Int before any .toLong could save it
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator.single((pid, c))
      }.collect().sortBy(_._1).map(_._2)
      RangeRanked(rows, counts.scanLeft(0L)(_ + _))
    }
  }

  /** Attach binary label + rule-based prediction to orders: y = (status='F'),
    * yhat = price > global median. The median comes from [[exactMedian]]
    * (bounded memory) and enters the plan as a literal — no per-row join. */
  def labeledOrders(orders: DataFrame): DataFrame = {
    val med = exactMedian(orders, "o_totalprice")
    orders.select(
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
      // an unscorable record (NULL price) carries NO prediction — NULL
      // yhat, its own confusion-matrix group, excluded from every
      // metric cell; filing it as a negative would silently skew
      // precision/recall on poisoned data. NaN predicts 1 (NaN compares
      // greater than any threshold, consistently in both engines).
      when(col("o_totalprice").isNull, lit(null))
        .otherwise(when(col("o_totalprice") > med, 1).otherwise(0)).as("yhat"),
      col("o_totalprice"), col("o_orderkey"))
  }

  /** Label-and-score relation for the AUC family: AUC ranks by SCORE only,
    * so unlike [[labeledOrders]] this never computes the median-threshold
    * `yhat` — using labeledOrders for m18 would spend two driver-side
    * order-statistic passes on a column the statistic ignores. */
  def rankLabeledOrders(orders: DataFrame): DataFrame =
    orders.select(
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
      col("o_totalprice"), col("o_orderkey"))

  /** M16 — confusion matrix as grouped counts. */
  def confusionMatrix(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("y"), col("yhat"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("yhat"))

  private def safeDiv(n: Column, d: Column): Column =
    when(d === 0.0, 0.0).otherwise(n / d)

  /** M15 — accuracy / precision / recall / f1 from confusion counts
    * (sklearn `zero_division=0`). One wide row; divisions are exact given
    * identical integer counts, rounded portably. */
  def binaryMetrics(labeled: DataFrame): DataFrame = {
    val counts = labeled.agg(
      sum(when(col("y") === 1 && col("yhat") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("y") === 0 && col("yhat") === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col("y") === 0 && col("yhat") === 0, 1L).otherwise(0L)).as("tn"),
      sum(when(col("y") === 1 && col("yhat") === 0, 1L).otherwise(0L)).as("fn"))
    val tp = col("tp").cast("double"); val fp = col("fp").cast("double")
    val tn = col("tn").cast("double"); val fn = col("fn").cast("double")
    counts.select(
      col("tp"), col("fp"), col("tn"), col("fn"),
      Features.pround(safeDiv(tp + tn, tp + fp + tn + fn), 6).as("accuracy"),
      Features.pround(safeDiv(tp, tp + fp), 6).as("precision"),
      Features.pround(safeDiv(tp, tp + fn), 6).as("recall"),
      Features.pround(safeDiv(tp * 2.0, tp * 2.0 + fp + fn), 6).as("f1"))
  }

  /** M15 — ROC-AUC as the Mann-Whitney rank statistic:
    * (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), ranks by (score, key) so ties are
    * deterministically broken identically in any engine.
    *
    * Scale note: the global rank is a single-partition window — fine for
    * the oracle path; at 100 TB use [[grouped AUC via
    * BinaryClassificationEvaluator]] or a binned approximation (the library
    * ML path does). */
  def aucRank(labeled: DataFrame): DataFrame = {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = labeled.select(col("y"),
      row_number().over(w).cast("long").as("rn"))
    val n1 = col("n1").cast("double")
    val n = col("n").cast("double")
    val denom = n1 * (n - n1)
    ranked.agg(
      sum(col("y").cast("long")).as("n1"),
      count(lit(1)).as("n"),
      sum(when(col("y") === 1, col("rn")).otherwise(0L)).as("sum_rank"))
      // single-class input scores 0.0, matching aucDistributed/segmentAuc
      // (the repo-wide sklearn zero_division convention) — the unguarded
      // division returned null there, diverging from the other two forms
      .select(Features.pround(
        when(denom === 0.0, 0.0).otherwise(
          (col("sum_rank").cast("double") - n1 * (n1 + 1.0) / 2.0) / denom), 6)
        .as("auc"))
  }

  /** M18 declared form — the SAME 1-row `auc` relation as [[aucRank]],
    * computed by [[aucDistributed]]'s partition-offset aggregation: no
    * `Window.orderBy` over the whole relation anywhere in the plan (the
    * lint in PlanLintSpec now enforces this for m18 too). The windowed
    * [[aucRank]] stays as the ScalaTest cross-check and mirrors the DuckDB
    * oracle's SQL; the two are bit-equal (asserted across partition
    * counts). Rounding is the identical IEEE pround(6) formula applied in
    * driver scalar arithmetic. */
  def aucRankDistributed(labeled: DataFrame, partitions: Int = 0): DataFrame = {
    val v = aucDistributed(labeled, partitions)
    val rounded = math.floor(v * 1e6 + 0.5) / 1e6
    labeled.sparkSession.range(1).select(lit(rounded).as("auc"))
  }

  /** Exact AUC without a global window — the 100 TB path. Range-repartition
    * by (score, key), sort within partitions, compute each partition's
    * local positive-rank sum plus its row count, then combine on the driver
    * with cumulative offsets: a positive at local rank r in partition p has
    * global rank r + Σ_{q<p} n_q. Two passes, no single-partition stage;
    * bit-identical to the windowed [[aucRank]] (asserted in tests). */
  def aucDistributed(labeled: DataFrame, partitions: Int = 0): Double = {
    import org.apache.spark.sql.Row
    val base = labeled.select(col("y"), col("o_totalprice"), col("o_orderkey"))
    val sorted = base
      .repartitionByRange(derivedPartitions(base, partitions), col("o_totalprice"), col("o_orderkey"))
      .sortWithinPartitions(col("o_totalprice"), col("o_orderkey"))
    val perPart: Array[(Int, Long, Long, Long)] = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; var nPos = 0L; var localRankSum = 0L
        it.foreach { r: Row =>
          n += 1
          if (r.getInt(0) == 1) { nPos += 1; localRankSum += n }
        }
        Iterator.single((pid, n, nPos, localRankSum))
      }.collect().sortBy(_._1)
    var offset = 0L; var rankSum = 0.0; var n1 = 0.0; var n = 0.0
    perPart.foreach { case (_, cnt, nPos, localSum) =>
      rankSum += localSum + offset.toDouble * nPos
      n1 += nPos; n += cnt; offset += cnt
    }
    if (n1 == 0.0 || n1 == n) 0.0
    else (rankSum - n1 * (n1 + 1.0) / 2.0) / (n1 * (n - n1))
  }

  /** Exact tie-aware AUC (midranks) — what sklearn's `roc_auc_score`
    * computes: tied scores contribute the AVERAGE of their rank range, so
    * the statistic depends only on the score distribution, never on row
    * layout. [[aucDistributed]]'s unique-key form is correct when a real
    * tie-break key exists (the declared queries rank by (price, orderkey));
    * for MODEL probabilities there is no semantic tie-break — tree
    * ensembles tie heavily and an arbitrary id key would bias the metric
    * with physical row order.
    *
    * Scale shape: one (score)-keyed aggregate (distinct-score cardinality),
    * range-repartition by score (ties co-locate — range boundaries fall
    * between distinct values), per-partition group walk, driver combine
    * with cumulative offsets. No single-partition stage. */
  def aucDistributedMidrank(labeled: DataFrame, partitions: Int = 0,
                            scoreCol: String = "o_totalprice"): Double = {
    import org.apache.spark.sql.Row
    val grouped = labeled.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("c"), sum(col("y").cast("long")).as("p"))
    val sorted = grouped.repartitionByRange(derivedPartitions(grouped, partitions), col("s"))
      .sortWithinPartitions(col("s"))
    val perPart: Array[(Int, Long, Long, Double)] = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; var nPos = 0L; var local = 0.0
        it.foreach { r: Row =>
          val c = r.getLong(1); val p = r.getLong(2)
          // midrank of this score group = rows-before + (c + 1)/2
          local += p.toDouble * (n.toDouble + (c.toDouble + 1.0) / 2.0)
          n += c; nPos += p
        }
        Iterator.single((pid, n, nPos, local))
      }.collect().sortBy(_._1)
    var offset = 0L; var rankSum = 0.0; var n1 = 0.0; var n = 0.0
    perPart.foreach { case (_, cnt, nPos, localSum) =>
      rankSum += localSum + offset.toDouble * nPos
      n1 += nPos; n += cnt; offset += cnt
    }
    if (n1 == 0.0 || n1 == n) 0.0
    else (rankSum - n1 * (n1 + 1.0) / 2.0) / (n1 * (n - n1))
  }

  /** M15 extension — per-segment ROC-AUC: the Mann-Whitney rank statistic
    * computed INSIDE each group (window partitioned by segment), the
    * "evaluate every model slice at once" shape. Zero-division (a segment
    * with no positives or no negatives) scores 0.0, matching the sklearn
    * zero_division convention used repo-wide.
    *
    * Scale: the window partitions by segment, so parallelism is
    * #segments-wide and each task sorts only its segment — the global
    * single-partition rank of [[aucRank]] never appears. A pathologically
    * hot segment degrades to the [[aucDistributed]] two-phase pattern
    * applied within that segment. */
  def segmentAuc(orders: DataFrame, customer: DataFrame): DataFrame = {
    val labeled = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("model"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"),
        col("o_totalprice"), col("o_orderkey"))
    val w = Window.partitionBy(col("model"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = labeled.select(col("model"), col("y"),
      row_number().over(w).cast("long").as("rn"))
    val n1 = col("n_pos").cast("double"); val n0 = col("n_neg").cast("double")
    ranked.groupBy(col("model"))
      .agg(sum(col("y")).as("n_pos"),
        (count(lit(1)) - sum(col("y"))).as("n_neg"),
        sum(when(col("y") === 1L, col("rn")).otherwise(0L)).as("sum_rank"))
      .select(col("model"), col("n_pos"), col("n_neg"),
        Features.pround(
          when(n1 === 0.0 || n0 === 0.0, 0.0)
            .otherwise((col("sum_rank").cast("double") - n1 * (n1 + 1.0) / 2.0) / (n1 * n0)),
          6).as("auc"))
      .orderBy(col("model"))
  }

  /** M15 extension — calibration (reliability-diagram) bins: bucket a
    * monotone score into deciles and compare the mean score against the
    * empirical positive rate per bucket. Declared form scores with a
    * sigmoid of the median-centered price (the same rule family as
    * [[labeledOrders]]), so the whole curve is SQL-checkable.
    *
    * Determinism: the score is pround(6)-quantized per row BEFORE both the
    * binning and the per-bin mean (the mean sums integer micro-units), so
    * engine float-sum ordering cannot move a row across bins or change a
    * mean. Scale: one scan + a 10-key aggregate; the median comes from
    * [[exactMedian]] (bounded memory). */
  def calibrationBins(orders: DataFrame, scale: Double = 10000.0,
                      partitions: Int = 0): DataFrame = {
    val med = exactMedian(orders, "o_totalprice", partitions)
    orders.select(
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"),
        Features.pround(
          Features.sigmoid((col("o_totalprice") - med) / scale), 6).as("score"))
      .select(col("y"), col("score"),
        // explicit NULL bin for an unscorable row (NULL/NaN input — a
        // hostile record): both `floor` (NaN→0 via JVM toLong) and `least`
        // (skips NULLs → bin 9) would otherwise file it under a REAL bin
        when(col("score").isNull || isnan(col("score")), lit(null))
          .otherwise(least(floor(col("score") * 10).cast("long"), lit(9L))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(Features.qlong(col("score"), 1e6)).as("sum_micro"))
      .select(col("bin"), col("n"), col("n_pos"),
        Features.pround(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"),
        Features.pround(
          col("sum_micro").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_score"))
      .orderBy(col("bin"))
  }

  /** M17 — champion selection (`evaluation.py:139-166`): per-"model" (here:
    * market segment of the ordering customer) f1, filter by threshold,
    * argmax with deterministic tie-break. */
  def championBySegment(orders: DataFrame, customer: DataFrame, minF1: Double): DataFrame = {
    // bounded-memory exact median (range-repartition two-pass) — the
    // previous in-plan `percentile(x, 0.5)` buffered every price in ONE
    // aggregation buffer. The scalar enters the plan as a literal; the
    // customer join scales with SF → no hint, AQE chooses (a forced
    // broadcast would OOM the driver at 100×).
    val med = exactMedian(orders, "o_totalprice")
    val labeled = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("model"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
        when(col("o_totalprice") > med, 1).otherwise(0).as("yhat"))
    val perModel = labeled.groupBy(col("model")).agg(
      sum(when(col("y") === 1 && col("yhat") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("y") === 0 && col("yhat") === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col("y") === 1 && col("yhat") === 0, 1L).otherwise(0L)).as("fn"))
    val tp = col("tp").cast("double")
    perModel
      .select(col("model"), Features.pround(
        when(tp * 2.0 + col("fp") + col("fn") === 0.0, 0.0)
          .otherwise(tp * 2.0 / (tp * 2.0 + col("fp").cast("double") + col("fn").cast("double"))), 6).as("f1"))
      .filter(col("f1") >= minF1)
      .orderBy(col("f1").desc, col("model"))
      .limit(1)
  }
}
