package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators: JSON property extraction (D6 multimodal/metadata
  * columns), time bucketing, and batch sessionization — the batch analogs of
  * the D7 streaming monitor in [[graft.streaming]].
  *
  * Scale notes: hourly buckets and per-user sessions partition naturally by
  * (hour, type) / user_id — high-cardinality keys, no global windows. JSON
  * parsing is Spark's codegen'd `get_json_object`, no UDF.
  */
object EventOps {

  /** D6 — extract a typed property from the JSON `props` column and
    * aggregate per event type. `try_cast`, not `cast`: under Spark 4's
    * default ANSI mode a VALID-JSON record whose `$.k` is non-numeric
    * ('{"k":"abc"}') would raise CAST_INVALID_INPUT and kill the whole
    * aggregate — the skip-the-broken-record contract (and the oracle's
    * TRY_CAST) wants NULL for exactly that record instead. */
  def propsSummary(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** D7 (batch analog) — tumbling hourly aggregate per event type. Value
    * mass sums integer cents (per-row conversion is IEEE-identical across
    * engines, integer summation is order-independent) — `round(sum(double))`
    * was the last remaining order-dependent float sum over raw data, the
    * hazard x28/gapFilledHourly already guard against. */
  /** Events a time bucket can hold: a NULL `ts` (broken upstream record)
    * belongs to no hour and no session. Excluding it keeps the batch
    * aggregates in lockstep with their streaming analogs, where the
    * watermark drops NULL event times — lambda-architecture parity a
    * NULL-window group row would silently break (mirrored as
    * `WHERE ts IS NOT NULL` in the d10/d11 oracles). */
  private def bucketable(eventsTs: DataFrame): DataFrame =
    eventsTs.where(col("ts").isNotNull)

  def hourlyCounts(eventsTs: DataFrame): DataFrame =
    bucketable(eventsTs)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
          .as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** D7 (batch analog) — sessionization: a >30-min silence starts a new
    * session; count sessions/events per user. Window partitioned by
    * user_id (high-cardinality — scales out). */
  def sessionCounts(eventsTs: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    bucketable(eventsTs)
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
      .select(col("user_id"),
        when(col("gap_us").isNull || col("gap_us") > gapUs, 1L).otherwise(0L).as("new_session"))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Sequential funnel: step k's per-user entry time is the earliest
    * step-k event STRICTLY AFTER that user's step-(k−1) entry; the output
    * counts users reaching each step (classic ordered-conversion funnel,
    * not mere per-type presence).
    *
    * Scale: the funnel-relevant events (`event_type IN steps`, a pushed
    * filter) are scanned ONCE and materialized; each step is then one
    * user-keyed conditional-min aggregate over that relation joined with
    * the previous step's O(users) entry table, which is checkpointed per
    * step — without the materialization the lineage chain re-executes
    * every prior step for each step count and each union branch, turning
    * O(steps) scans into O(steps²) (caught by the scan audit). Timestamps
    * compare exactly (micros), no float work. */
  def funnelSteps(eventsTs: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = graft.Materialize.stage(eventsTs.select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin(steps: _*)))
    // entries carries CONVERTED users only (t reached): a user who missed
    // step k can never reach step k+1, so keeping their NULL-t row would
    // drag the full user population through every later checkpoint and
    // join — at funnel depth the converted set is typically orders of
    // magnitude smaller than the population, and the inner join below
    // makes dropping them output-identical (an absent user aggregates to
    // no row, exactly as a NULL t counted to nothing)
    var entries = graft.Materialize.stage(e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === steps.head, col("ts"))).as("t"))
      .filter(col("t").isNotNull))
    val perStep = Seq.newBuilder[DataFrame]
    def stepCount(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(col("t")).as("n_users"))
        .select(lit(i.toLong).as("step"), lit(name).as("step_name"), col("n_users"))
    perStep += stepCount(0, steps.head, entries)
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      entries = graft.Materialize.stage(e.join(entries, "user_id")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === step && col("ts") > col("t"), col("ts"))).as("t"))
        .filter(col("t").isNotNull))
      perStep += stepCount(i, step, entries)
    }
    perStep.result().reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Cohort retention (day granularity): users are cohorted by the UTC
    * day of their FIRST event; cell (cohort_day, day_offset) counts the
    * cohort's distinct users active `day_offset` days later — the classic
    * retention triangle a product-analytics engine materializes daily.
    *
    * Scale: first-touch attaches as `min(d) OVER (PARTITION BY user_id)`
    * — ONE events scan and one user-keyed shuffle, where the textbook
    * groupBy-then-self-join form scans events twice and shuffles both
    * sides (PlanLint caught exactly that draft). The window partitions by
    * user_id (high-cardinality — scales out, same argument as
    * [[sessionCounts]]); the final countDistinct shuffles
    * (cohort_day, day_offset, user_id) triples, partial-distinct combined
    * map-side. NULL ts rows belong to no day ([[bucketable]], the
    * batch≡stream contract); NULL user_id rows have no cohort identity
    * and are dropped explicitly (the oracle's inner join null-rejects).
    * Day arithmetic is exact integers end to end — no float work. */
  def cohortRetention(eventsTs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    bucketable(eventsTs)
      .where(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .withColumn("cohort_day", min(col("d")).over(w))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Time-series gap filling (resample + ffill): a complete hourly spine
    * per event type — absent hours appear with n = 0 and carry the last
    * seen hourly value mass forward (the feature a downstream model reads
    * as "activity level as of hour h", with no gaps).
    *
    * Determinism: value mass sums integer cents (order-independent);
    * carry-forward is `last(ignoreNulls)` over (type, hour) — per-type
    * windows, #types-wide parallelism. The spine comes from one 1-row
    * bounds aggregate exploded into `sequence(lo, hi, 1 hour)` — hours ×
    * types rows, independent of event volume. */
  def gapFilledHourly(eventsTs: DataFrame): DataFrame = {
    // timestamp_ntz: the dumped parquet must carry a naive timestamp to
    // match DuckDB's TIMESTAMP in the oracle compare (same as hourlyCounts).
    // bucketable like every other hourly operator: an event type occurring
    // ONLY with NULL ts would otherwise inject a phantom all-zero spine
    // series through the grid's type distinct (a NULL ts belongs to no
    // hour — the r13 batch≡stream contract)
    val e = bucketable(eventsTs).select(
      date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
      col("event_type"),
      Features.qlong(col("value"), 100.0).as("cents"))
    // feeds the bounds aggregate AND the spine join — materialize once
    val agg = graft.Materialize.stage(e.groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("cents")).cast("double") / 100.0).as("value_mass")))
    val bounds = agg.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val spine = bounds.select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val grid = spine.crossJoin(agg.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"), col("value_mass"))
      .withColumn("carried_mass", last(col("value_mass"), ignoreNulls = true).over(w))
      .select(col("hour"), col("event_type"), col("n"), col("carried_mass"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Per-type value drift profile over event values (streaming-monitor
    * batch analog of V8). The mean derives from an exact integer-cent sum
    * (order-independent; one float division chain at the end); min/max are
    * exact single values. std stays `stddev_samp` + round(4): the
    * sum-of-squares integer form overflows 2^53 at large SF and invites
    * catastrophic cancellation — the accepted residual is a last-ulp
    * engine difference masked by rounding. */
  def valueProfile(events: DataFrame): DataFrame =
    // the mean divides the finite-only cent sum by the FINITE-sample
    // count, not count(*): dividing by all rows let a single NULL/NaN
    // record deflate the drift-monitor mean (the misattribution class
    // finiteOrNull exists to stop) and made the profile internally
    // inconsistent with std/min/max's non-null population
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Features.qlong(col("value"), 100.0)).as("__sc"),
        count(Features.qlong(col("value"), 100.0)).as("__nf"),
        round(stddev_samp(col("value")), 4).as("std_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .select(col("event_type"), col("n"),
        Features.pround(
          col("__sc").cast("double") / 100.0 / col("__nf").cast("double"), 4)
          .as("mean_value"),
        col("std_value"), col("min_value"), col("max_value"))
      .orderBy(col("event_type"))
}
