package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validation aggregates — the reference's data-quality surface
  * (`data_ingestion.py:112-166` validate_data, `data_quality_dag.py:27-65`
  * drift check). Each check is a whole-table aggregate; SURVEY.md §2.2
  * V1–V8.
  *
  * Scale notes: every operator here is a single hash-aggregate over a scan —
  * map-side partial aggregation means the shuffle carries one row per
  * partition, so these are scan-bound at any scale. No collects, no windows.
  */
object Validation {

  /** V1 — per-column null counts (ref `data_ingestion.py:127-130`,
    * `df.isnull().sum()`). One pass, one row out. */
  def nullCounts(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      count(when(col(c).isNull, lit(1))).as(s"nulls_$c")): _*)

  /** V2 — duplicate-row count beyond first occurrence (ref
    * `data_ingestion.py:133-136`, `df.duplicated().sum()` ==
    * count(*) - count(distinct *)), computed in ONE scan: group by the
    * full row, then Σcount − #groups. The all-columns shuffle is the same
    * one `distinct` would do, but the separate total-count pass (a second
    * full scan) is gone. At 100 TB prefer the hash-projection variant in
    * [[graft.operators.Dedup]] (16-byte keys instead of whole rows). */
  def duplicateRowCount(df: DataFrame): DataFrame = {
    // collision-proof count column: the operator takes ANY relation
    val n = Iterator.from(0).map(i => s"__n$i")
      .find(c => !df.columns.contains(c)).get
    df.groupBy(df.columns.toSeq.map(col): _*)
      .agg(count(lit(1)).as(n))
      // coalesce: zero groups (empty input) must yield 0, not null
      .agg(coalesce(sum(col(n)) - count(lit(1)), lit(0L)).as("dup_rows"))
  }

  /** V3 — schema check (ref `data_ingestion.py:139-145`): expose the actual
    * column set as a sorted one-column relation for comparison. */
  def schemaColumns(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.columns.toSeq.sorted.toDF("column_name")
  }

  /** V4 — range predicate as min/max aggregate (ref
    * `data_ingestion.py:149-150`: tenure in [0,100], charges >= 0). */
  def rangeProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // natural per-column (min, max) pairing — splitting the head column's
    // min to the front and its max to the back merely satisfied agg's
    // (first, rest*) signature while scrambling the output layout for any
    // positional consumer
    val exprs = cols.flatMap(c => Seq(
      round(min(col(c)), 4).as(s"min_$c"),
      round(max(col(c)), 4).as(s"max_$c")))
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** V5 — domain predicate (ref `data_ingestion.py:151`,
    * `set(churn.unique()) <= {0,1}`): distinct values of a column, sorted. */
  def domain(df: DataFrame, c: String): DataFrame =
    df.select(col(c)).distinct().orderBy(col(c))

  /** V6 — class-balance aggregate (ref `data_ingestion.py:152-153`,
    * `0.05 < mean(churn) < 0.95`), generalized to rate of a predicate.
    * NULL labels carry no class: pandas `mean(churn)` SKIPS missing
    * values, while an `otherwise(0.0)` counted every NULL as a negative
    * and deflated the rate (a 40%-NULL feed could fail the balance gate
    * on observed data that passes it). */
  def classBalance(df: DataFrame, c: String, positive: String): DataFrame =
    df.agg(round(avg(when(col(c) === positive, 1.0d)
      .when(col(c).isNotNull, 0.0d)), 6)
      .as("positive_rate"))

  /** V8 — drift profile (ref `data_quality_dag.py:48-62`): per numeric
    * column mean / sample-std (pandas ddof=1 == stddev_samp) / null
    * fraction, one wide row. Single-pass multi-aggregate. */
  /** mean/std are fitted over observed FINITE values
    * ([[Features.finiteOrNull]]): one NaN row would otherwise make every
    * statistic NaN and the drift monitor blind. `nullfrac` keeps counting
    * genuine NULLs only — non-finite presence shows up in [[rangeProfile]]
    * (v4), whose raw min/max deliberately surface a NaN. */
  def driftProfile(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    def fin(c: String) = Features.finiteOrNull(col(c))
    df.agg(
      round(avg(fin(numericCols.head)), 4).as(s"mean_${numericCols.head}"),
      numericCols.flatMap { c =>
        val tail = Seq(
          round(stddev_samp(fin(c)), 4).as(s"std_$c"),
          round(avg(col(c).isNull.cast("double")), 6).as(s"nullfrac_$c"))
        if (c == numericCols.head) tail
        else round(avg(fin(c)), 4).as(s"mean_$c") +: tail
      }: _*)
  }

  /** V8 extension — Population Stability Index between two time slices of
    * the SAME relation: fixed-width value bins, Laplace-smoothed bin
    * shares, per-bin `(p − q)·ln(p/q)` term (total PSI = Σ terms; > 0.2
    * is the conventional retrain trigger). Fixed bin edges (not
    * quantiles) keep the monitor stable across runs and engines; both
    * shares derive from integer counts, so the only float work per bin is
    * two divisions, one subtraction, one `ln` — portable at pround(6).
    *
    * Scale: one scan, one nBins-key aggregate, totals broadcast from a
    * 1-row relation. */
  /** Fixed-width PSI bin for a measurable value; NULL for a NULL or
    * non-finite one. The NULL guard must wrap the WHOLE expression:
    * Spark's `least` SKIPS null arguments, so `least(floor(NULL/w), 9)`
    * silently returns 9 — an excluded row would land in the clamp bin
    * instead of nowhere, inflating both that bin and the Laplace totals
    * every psi_term divides by. */
  private def finiteBin(c: Column, width: Double, nBins: Int): Column = {
    val f = Features.finiteOrNull(c)
    when(f.isNull, lit(null))
      .otherwise(least(floor(f / width).cast("long"), lit(nBins - 1L)))
  }

  def psiDrift(orders: DataFrame, splitDate: String = "1998-01-01",
               binWidth: Double = 50000.0, nBins: Int = 10): DataFrame =
    // the one-column case of [[psiByColumn]] — a single implementation of
    // the Laplace-smoothed p/q/psi_term formula (two hand-kept copies of
    // the same float math, each with its own oracle rendering, could
    // silently fork the v9 and v10 statistics)
    psiByColumn(orders, "o_orderdate", splitDate,
      Map("o_totalprice" -> binWidth), nBins)
      .drop("column_name")

  /** V10 — per-column PSI sweep: [[psiDrift]] generalized to every watched
    * numeric column in ONE scan. Each column gets its own fixed bin width;
    * the unpivot (`stack`-style union of (column, bin) pairs) happens inside
    * the projection, so the whole sweep is scan → explode(nCols) →
    * one (column, bin)-keyed aggregate. Per-column totals come from a
    * second tiny aggregate broadcast back — never a window over the data.
    *
    * Emits per-(column, bin) terms rather than the per-column sum: the sum
    * of ~nBins doubles is addition-order-sensitive across engines, while
    * each term is portable at pround(6) (two int-derived divisions, one ln).
    *
    * Scale: explode multiplies rows by nCols before the partial aggregate,
    * but map-side combine collapses them to nCols·nBins keys per partition,
    * so shuffle volume is O(partitions · nCols · nBins), independent of
    * table size. */
  /** Watched columns + fixed bin widths of the DECLARED v10 sweep — the
    * single source of truth for both the Spark query and the DuckDB
    * oracle (SparkEntry renders these exact values into the SQL, so a
    * width edited here changes both sides together). */
  val defaultPsiWidths: Map[String, Double] = Map(
    "l_quantity" -> 5.0, "l_extendedprice" -> 10000.0,
    "l_discount" -> 0.01, "l_tax" -> 0.01)

  /** Bin count of the DECLARED v10 sweep — shared with the oracle SQL
    * renderer (the `least(..., nBins−1)` clamp and `+nBins` Laplace
    * smoothing must agree between engines, so both render from here). */
  val defaultPsiBins: Int = 10

  def psiByColumn(df: DataFrame, timeCol: String, splitValue: String,
                  binWidths: Map[String, Double],
                  nBins: Int = defaultPsiBins): DataFrame = {
    // materialized: counts feeds BOTH the per-column totals and the final
    // join — materializing this ≤ nCols·nBins-row relation keeps the table
    // scan single-pass (no CSE across DataFrame reuse; plan-asserted)
    val counts = graft.Materialize.stage(psiCounts(df, timeCol, splitValue, binWidths, nBins))
    val totals = counts.groupBy(col("column_name"))
      .agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val p = (col("n_a") + 1L).cast("double") / (col("ta") + nBins.toLong).cast("double")
    val q = (col("n_b") + 1L).cast("double") / (col("tb") + nBins.toLong).cast("double")
    counts.join(broadcast(totals), Seq("column_name"))
      .select(col("column_name"), col("bin"), col("n_a"), col("n_b"),
        Features.pround((p - q) * log(p / q), 6).as("psi_term"))
      .orderBy(col("column_name"), col("bin"))
  }

  /** The single-scan (column, bin) count relation [[psiByColumn]]
    * checkpoints — package-visible so the plan lint can assert the
    * pre-checkpoint shape (one pruned scan) that lineage truncation hides
    * from the final plan. */
  private[graft] def psiCounts(df: DataFrame, timeCol: String,
      splitValue: String, binWidths: Map[String, Double],
      nBins: Int): DataFrame = {
    val cols = binWidths.keys.toSeq.sorted
    val pairs = array(cols.map { c =>
      struct(lit(c).as("column_name"),
        finiteBin(col(c), binWidths(c), nBins).as("bin"))
    }: _*)
    df.select(explode(pairs).as("cb"),
        (col(timeCol).cast("date") < lit(splitValue).cast("date")).as("early"))
      .select(col("cb.column_name"), col("cb.bin"), col("early"))
      // null watched values produce a NULL bin, and Spark's orderBy sorts
      // nulls first while DuckDB's sorts them last — drop them on BOTH
      // sides (the oracle branches carry IS NOT NULL) instead of binning
      // unmeasurable rows. A NULL timeCol is likewise unmeasurable IN
      // TIME: `when(early,1).otherwise(...)` would silently file every
      // undated row under the LATE distribution, skewing q and letting
      // undated rows alone cross the retrain trigger (oracle mirrors)
      .filter(col("bin").isNotNull && col("early").isNotNull)
      .groupBy(col("column_name"), col("bin"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("early"), 0L).otherwise(1L)).as("n_b"))
  }
}
