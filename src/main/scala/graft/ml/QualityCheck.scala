package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The data-quality entry point — the engine-side analog of the reference's
  * second DAG (`data_quality_dag.py:27-65`, daily drift check): profile the
  * current table, compare against a stored baseline profile, emit warnings.
  * Scheduling stays out-of-engine (SURVEY.md §3.2); this is the computation
  * a cron/Airflow task invokes. */
object QualityCheck {

  final case class Drift(column: String, baselineMean: Double, currentMean: Double,
                         relShift: Double, warned: Boolean)

  /** Wide 1-row profile (mean/std/nullfrac per column + row count).
    * Null-producing aggregates (empty input, all-null column, 1-row
    * stddev_samp) profile as NaN rather than crashing the quality tool on
    * exactly the dirty data it exists to flag; [[compare]] then reports
    * NaN shifts (never silently "no drift") for those columns. */
  def profile(df: DataFrame, numericCols: Seq[String]): Map[String, Double] = {
    val aggs = numericCols.flatMap(c => Seq(
      avg(col(c)).as(s"mean_$c"), stddev_samp(col(c)).as(s"std_$c"),
      avg(col(c).isNull.cast("double")).as(s"nullfrac_$c"))) :+
      count(lit(1)).cast("double").as("n_rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    row.schema.fieldNames.map(f =>
      f -> (if (row.isNullAt(row.fieldIndex(f))) Double.NaN
            else row.getAs[Double](f))).toMap
  }

  /** Compare a fresh profile to a baseline: a column drifts when its mean
    * moved more than `relThreshold` relative to the baseline std (the
    * reference warns on imbalance shifts; same shape). */
  def compare(baseline: Map[String, Double], current: Map[String, Double],
              numericCols: Seq[String], relThreshold: Double = 3.0): Seq[Drift] =
    numericCols.map { c =>
      val bMean = baseline(s"mean_$c"); val cMean = current(s"mean_$c")
      val bStd = math.max(baseline(s"std_$c"), 1e-12)
      val shift = math.abs(cMean - bMean) / bStd
      // a NaN shift means a column the profiler could not characterize
      // (NaN values poisoning the mean, an all-null column, an empty
      // slice) — that WARNS: `NaN > t` is false, so without the explicit
      // branch exactly the dirtiest data would silently pass the gate
      Drift(c, bMean, cMean, shift, shift > relThreshold || shift.isNaN)
    }

  /** End-to-end check used by the runner/test: baseline from one dataset,
    * current from another, warnings out. */
  def run(baselineDf: DataFrame, currentDf: DataFrame,
          numericCols: Seq[String]): Seq[Drift] =
    compare(profile(baselineDf, numericCols), profile(currentDf, numericCols),
      numericCols)

  final case class PsiResult(column: String, psi: Double, warned: Boolean)

  /** Distribution-shape gate complementing the mean-shift check: PSI of a
    * numeric column between baseline and current, over fixed-width bins
    * anchored at the baseline min/max (the [[graft.operators.Validation
    * .psiDrift]] statistic, generalized to two relations). Conventional
    * thresholds: 0.1 watch, 0.2 act. */
  def psiCheck(baselineDf: DataFrame, currentDf: DataFrame, column: String,
               nBins: Int = 10, threshold: Double = 0.2): PsiResult = {
    // the bin anchors come from the FINITE baseline values only — one
    // stray ±Inf in the baseline would otherwise make width infinite and
    // collapse every value (both relations) into bin 0, so psi≈0 and a
    // genuinely shifted current distribution passes the gate; NaN anchors
    // likewise poison every bin via least/greatest
    val fin = graft.operators.Features.finiteOrNull(col(column))
    val mm = baselineDf.agg(min(fin).cast("double"),
      max(fin).cast("double")).collect()(0)
    // an empty (or no-finite-values) baseline has no distribution to
    // compare against — a documented precondition error, not an NPE
    require(!mm.isNullAt(0) && !mm.isNullAt(1),
      s"psiCheck: baseline has no finite values in '$column'")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val width = math.max((hi - lo) / nBins, 1e-12)
    // nulls carry no position in the value distribution — excluded here,
    // surfaced by profile()'s nullfrac instead
    // non-finite excluded like null — the engine-wide predicate
    // (Features.finiteOrNull: NaN or ±Inf): floor(NaN)/least/greatest
    // would otherwise silently file every NaN (and +Inf) under the TOP
    // bin and -Inf under bin 0 (Spark orders NaN greatest; least/greatest
    // skip nulls), misattributing a data-poisoning incident as a
    // range-edge distribution shift; the poisoning itself warns through
    // compare()'s NaN-shift branch
    def binned(df: DataFrame) = df
      .filter(graft.operators.Features.finiteOrNull(col(column)).isNotNull)
      .select(
        least(greatest(floor((col(column) - lo) / width), lit(0.0)), lit(nBins - 1.0))
          .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = binned(baselineDf); val b = binned(currentDf)
    val ta = a.values.sum.toDouble + nBins; val tb = b.values.sum.toDouble + nBins
    val psi = (0 until nBins).map { i =>
      val p = (a.getOrElse(i.toLong, 0L) + 1.0) / ta
      val q = (b.getOrElse(i.toLong, 0L) + 1.0) / tb
      (p - q) * math.log(p / q)
    }.sum
    PsiResult(column, psi, psi > threshold)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-quality-check")
    // baseline = seed 42 generation; "today's data" = a drifted generation
    val numeric = Seq("tenure", "monthly_charges", "total_charges",
      "num_support_tickets", "avg_monthly_usage_gb")
    val baseline = DataGen.generate(spark, 5000, 42L)
    val current = DataGen.generate(spark, 5000, 43L)
    val drifts = run(baseline, current, numeric)
    val json = drifts.map(d =>
      s"""{"column": "${d.column}", "rel_shift": ${graft.Json.num(d.relShift)}, "warned": ${d.warned}}""")
      .mkString("[", ", ", "]")
    val psis = numeric.map(c => psiCheck(baseline, current, c))
    val psiJson = psis.map(p =>
      s"""{"column": "${p.column}", "psi": ${graft.Json.num(p.psi)}, "warned": ${p.warned}}""")
      .mkString("[", ", ", "]")
    println(s"""{"drift_check": $json, "psi_check": $psiJson}""")
    spark.stop()
  }
}
