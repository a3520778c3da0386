package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D7 — streaming quality monitor: Structured Streaming analog of the
  * reference's batch drift check (`data_quality_dag.py:27-65`), extended
  * with watermarked windows, in-watermark dedup, and sessionization.
  *
  * Each transform takes a (possibly streaming) events DataFrame with
  * columns (event_id long, ts timestamp, user_id long, event_type string,
  * value double) and returns a plan valid under
  * `writeStream.outputMode("append"|"update")`.
  *
  * Scale notes: all state is keyed by (window × type) or session — state
  * store size is O(active windows · types), bounded by the watermark which
  * lets Spark evict closed windows; dedup state is bounded the same way
  * (`dropDuplicatesWithinWatermark`), never unbounded like plain
  * `dropDuplicates` on a stream.
  */
object StreamMonitor {

  /** Keyed state carried by [[runningUserTotals]]. */
  final case class UserState(n: Long, total: Double)

  /** Tumbling-window per-type counts + value stats, 2h late-data bound.
    *
    * The value statistics aggregate observed FINITE values only
    * ([[graft.operators.Features.finiteOrNull]] — the engine-wide fitted-
    * statistic rule, same as the batch profile d12): one NaN record in a
    * window would otherwise make that window's mean NaN, and
    * [[driftAlerts]]'s `abs(NaN − baseline) > kσ` is FALSE — a silently
    * blind drift monitor for exactly the windows containing bad data. `n`
    * still counts every windowed record (a poison record is present, just
    * not averaged); an all-non-finite window reports NULL stats. */
  def hourlyProfile(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        avg(graft.operators.Features.finiteOrNull(col("value"))).as("mean_value"),
        stddev_samp(graft.operators.Features.finiteOrNull(col("value"))).as("std_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("mean_value"), col("std_value"))

  /** Tumbling-window per-type count + value mass — the streaming TWIN of
    * the batch hourly aggregate (`EventOps.hourlyCounts` / declared d10):
    * same hour bucket (`window(ts, '1 hour').start` ≡ `date_trunc('hour')`
    * for µs timestamps), same integer-cents value sum (per-row conversion
    * is IEEE-identical across engines and integer summation is
    * order-independent — the x28 rule), same NULL-`ts` exclusion (made
    * explicit here so the BATCH execution of this plan also drops them;
    * the streaming path would drop them at the watermark anyway).
    *
    * Drained with `Trigger.AvailableNow` into a complete-mode sink this
    * reproduces the batch result exactly — the lambda-architecture parity
    * contract, which the declared `d51_stream_hourly` query checks
    * end-to-end against d10's DuckDB oracle every round. Complete mode
    * keeps window state for the query's life (the watermark can't evict);
    * that is the right trade for a drain-everything batch-parity run —
    * an always-on deployment uses append mode, where the same watermark
    * bounds state and only sealed windows emit. */
  def hourlyValueMass(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.where(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(graft.operators.Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
          .as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window rates (1h window, 15m slide) — early-warning variant. */
  def slidingRates(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Exactly-once event ingestion: duplicate event_ids arriving within the
    * watermark are dropped with bounded state.
    *
    * Poisoned-record semantics (pinned in StreamingSpec's hostile test):
    * a record older than the watermark is dropped as late, but a NULL
    * event time is NOT late — dedup is not a window aggregate, so such a
    * record flows through keyed by its (possibly NULL) id. Callers that
    * require event-time completeness must filter `ts IS NOT NULL`
    * upstream; the windowed monitors ([[hourlyProfile]] etc.) drop those
    * rows inherently. */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Session windows: a session closes after `gap` of user silence.
    * Value mass sums integer cents (r20 self-review batch 20): the raw
    * `sum(double)` was the last order-dependent float sum in this module
    * — micro-batch merge order is layout-dependent, so two drains of the
    * same data could differ in the last ulp (the x28 rule every sibling
    * monitor already follows); non-finite values contribute NULL cents
    * (skipped) instead of poisoning the whole session row. */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.operators.Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
          .as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * (count, value-sum) emitted on every update (Update output mode — the
    * natural mode for evolving totals) — the arbitrary-state primitive the
    * built-in windows can't express (e.g. lifetime counters).
    *
    * State lifetime: NoTimeout keeps per-user state for the query's life —
    * appropriate for a bounded user population (state is O(users), not
    * O(events)). For unbounded key spaces switch to
    * `GroupStateTimeout.EventTimeTimeout` + a watermark; a processing-time
    * timeout makes the engine self-trigger timer batches, which also makes
    * `processAllAvailable` unsuitable in tests. */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // hostile-row gate, BEFORE the primitive-encoder conversion: a NULL
    // user_id or value would otherwise hit AssertNotNull in the tuple
    // deserializer and kill the whole query permanently (one poison record
    // must not take down a lifetime monitor — same contract as the
    // watermarked monitors above); a NaN/±Inf value would poison that
    // user's running total FOREVER, the accumulator analog of the fitted-
    // statistic rule, so only rows with a keyed user and a finite value
    // count
    val typed = events
      .where(col("user_id").isNotNull &&
        graft.operators.Features.finiteOrNull(col("value")).isNotNull)
      .select(col("user_id").as[Long](org.apache.spark.sql.Encoders.scalaLong),
        col("value").as[Double](org.apache.spark.sql.Encoders.scalaDouble))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserState, (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n; var total = prev.total
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update(UserState(n, total))
          Iterator.single((user, n, total))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Watermarked stream-stream interval join: enrich an event stream with
    * the matching row of a second stream (e.g. orders) for the same key
    * within a time window — `o.ts ∈ [e.ts − maxDelay, e.ts]`.
    *
    * Both sides carry watermarks and the join condition bounds the event
    * time range, so each side's buffered state is evictable once the
    * watermark passes — bounded state, the requirement for an unbounded
    * run. Expects `left` with (event_id, ts, user_id, value) and `right`
    * with (r_id, r_ts, r_user_id, r_value). */
  def enrichJoin(left: DataFrame, right: DataFrame,
                 watermark: String = "2 hours",
                 maxDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $maxDelay") &&
        col("r_ts") <= col("ts"))
  }

  /** File-source ingestion: stream the events table from a parquet
    * directory (the production entry — new files appearing under `dir` are
    * picked up incrementally). Streaming sources need a declared schema, so
    * borrow it from a batch scan of the same directory (footer-only, cheap)
    * rather than hardcoding the `ts` physical type — the fixture has
    * shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS); `ts` is then
    * canonicalized to TimestampType exactly as the batch path
    * (`Tables.normalizeTs`).
    *
    * Session-conf caveat: `nanosAsLong` is a legacy session flag (Spark has
    * no per-reader option for it), so setting it here affects every later
    * parquet read of a TIMESTAMP(NANOS) column in this session — the same
    * contract `Tables.eventsRaw` already establishes for the batch path;
    * this dataset's sessions opt into it globally.
    *
    * `options` passes extra reader options through (rate limits like
    * `maxFilesPerTrigger` — the production backfill throttle); `basePath`
    * is applied AFTER them and cannot be overridden (it is load-bearing
    * for the single-file glob workaround below). */
  def readEventsStream(spark: org.apache.spark.sql.SparkSession, dir: String,
                       options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Empty source directory at startup is the NORMAL incremental-ingestion
    // order (start the stream, then files land), so schema inference must
    // not be load-bearing: fall back to the declared canonical events
    // schema (the current fixture shape — ts TIMESTAMP_NTZ) when there is
    // nothing to infer from yet. Limit of the fallback: if the first file
    // to land is a physical-type reversion (TIMESTAMP(NANOS) ts, int32
    // widths), the declared schema mismatches it and the stream fails at
    // micro-batch time — a declared streaming schema cannot change
    // mid-query (public API limit). That failure class is recoverable:
    // drive drains through [[drainWithSchemaRecheck]], which detects it,
    // rebuilds the stream (the schema is now inferable from the landed
    // file, through this same canonicalization), and drains exactly-once.
    val schema =
      // schema-cached read (Tables.cachedRead, r21): this inference runs
      // per drain invocation and cost ~80 ms of pure footer/DataSource
      // re-resolution each time; the cache is keyed by session, path and
      // file listing, so a landed file that CHANGES the directory re-infers
      try graft.Tables.cachedRead(spark, dir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException => StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampNTZType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
      }
    // `basePath` must be a DIRECTORY for the micro-batch reader's
    // partition-column inference, but FileStreamSource.getBatch force-sets
    // basePath to the source PATH whenever that path is not a glob — so a
    // single-file source (testdata ships events.parquet as one file) dies
    // at micro-batch time with "Option 'basePath' must be a directory".
    // Route around both halves: stream via an exact-match `{name}` glob
    // (globs suppress the override) and pin basePath to the enclosing
    // directory explicitly. Works identically for a directory source (the
    // production landing-dir shape); no key=value segment sits between
    // basePath and the files, so no partition columns appear either way.
    val hp = new org.apache.hadoop.fs.Path(dir)
    val globPath = new org.apache.hadoop.fs.Path(
      hp.getParent, "{" + hp.getName + "}").toString
    // canonicalize exactly as the batch path: ts (normalizeTs) AND the
    // numeric widths/measures (normalizeNumeric — casts work on streaming
    // frames; without this an int32-width regeneration would break the
    // typed user_id/value reads downstream at micro-batch time)
    graft.Tables.normalizeNumeric(
      graft.Tables.normalizeTs(spark.readStream.schema(schema)
        .options(options)
        .option("basePath", hp.getParent.toString).parquet(globPath)),
      "events")
  }

  /** The one drift hole [[readEventsStream]]'s schema-borrow cannot close
    * from inside a RUNNING stream: started on an empty directory it runs
    * on the declared canonical fallback schema, and a physical-type
    * reversion file landing later (TIMESTAMP(NANOS) ts, int32 widths)
    * fails the micro-batch with Spark's raw
    * `PARQUET_COLUMN_DATA_TYPE_MISMATCH` — the file source offers no way
    * to re-declare a schema mid-query. This runner turns the documented
    * restart remedy into code: drain `q`; if it died of exactly that
    * mismatch class, stop it, `rebuild` a fresh query (stream
    * construction re-infers the schema from the now-present file and
    * canonicalizes it like the batch path), and drain that. With a
    * checkpointed sink the retry is exactly-once — the failed batch never
    * committed, and the rebuilt source resumes from the same offsets. Any
    * other failure rethrows untouched (this is a recovery path for ONE
    * named class, not a blanket retry loop). */
  def drainWithSchemaRecheck(q: org.apache.spark.sql.streaming.StreamingQuery)
      (rebuild: () => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    try { q.processAllAvailable(); q }
    catch {
      case e: Throwable if isSchemaDriftFailure(e) =>
        q.stop()
        val q2 = rebuild()
        q2.processAllAvailable()
        q2
    }

  /** The declared-schema-vs-landed-file mismatch class, recognized by the
    * typed reader exception anywhere in the cause chain (message fallback
    * for the error-class wrapper). */
  private[graft] def isSchemaDriftFailure(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists { c =>
      c.isInstanceOf[
        org.apache.spark.sql.execution.datasources.SchemaColumnConvertNotSupportedException] ||
        Option(c.getMessage).exists(_.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"))
    }

  /** Exactly-once parquet file sink — the durable end of the streaming
    * pipeline. Restartable: the checkpoint directory holds the source's
    * offset WAL and the sink's `_spark_metadata` commit log records which
    * output files belong to committed batches, so a stop → restart (or a
    * crash mid-batch) never duplicates and never loses rows — batch readers
    * of `outDir` see committed files only.
    *
    * `Trigger.AvailableNow` drains everything currently available and then
    * stops — the production shape for incremental jobs scheduled externally
    * (each run picks up exactly the new files since the last checkpoint);
    * pass a processing-time trigger instead for an always-on daemon.
    *
    * Scale: the sink writes one file per partition per batch; compact
    * downstream with [[graft.operators.Scale]]'s compaction op if many
    * small batches accrue. */
  def parquetSink(df: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Anomaly stream: windows whose mean value drifts more than `sigmas`
    * from a fixed baseline (the streaming analog of the V8 drift warn). */
  def driftAlerts(events: DataFrame, baselineMean: Double, baselineStd: Double,
                  sigmas: Double = 3.0): DataFrame =
    hourlyProfile(events)
      .filter(abs(col("mean_value") - baselineMean) > sigmas * baselineStd)
}
