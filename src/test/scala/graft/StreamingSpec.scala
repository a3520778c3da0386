package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamMonitor

/** D7 streaming semantics via MemoryStream micro-batches (SURVEY.md §7.4.5:
  * no SQL oracle exists for watermark/session state — deterministic input →
  * expected state transitions instead). */
class StreamingSpec extends AnyFunSuite {
  import SparkFixture.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def eventsDf(rows: Seq[(Long, Timestamp, Long, String, Double)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  /** Best-effort recursive delete for per-test scratch dirs — in a finally
    * block so an assertion failure doesn't leak parquet copies (and the
    * data they pin) into the rest of the suite. */
  private def rmTree(p: java.nio.file.Path): Unit =
    try java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    catch { case scala.util.control.NonFatal(_) => () }

  test("hourlyProfile (complete mode) matches the batch aggregation") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = StreamMonitor.hourlyProfile(
      input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
    val q = stream.writeStream.format("memory").queryName("hp")
      .outputMode("complete").start()
    val rows = Seq(
      (1L, ts(5), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 3.0),
      (3L, ts(65), 2L, "view", 5.0), (4L, ts(70), 2L, "click", 7.0))
    input.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("hp").select("hour", "event_type", "n", "mean_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("2024-01-01 00:00:00.0", "click", 2L, 2.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 5.0),
      ("2024-01-01 01:00:00.0", "click", 1L, 7.0)))
    q.stop()
  }

  test("dropDuplicatesWithinWatermark drops in-watermark duplicate ids") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamMonitor.dedupedEvents(
        input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    input.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(1), 1L, "click", 1.0))
    q.processAllAvailable()
    input.addData((1L, ts(2), 1L, "click", 1.0), (3L, ts(3), 1L, "click", 1.0)) // 1 is dup
    q.processAllAvailable()
    val ids = spark.table("dd").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("stream-stream interval join matches within-window pairs only") {
    implicit val ctx = spark.sqlContext
    val left = MemoryStream[(Long, Timestamp, Long, Double)]
    val right = MemoryStream[(Long, Timestamp, Long, Double)]
    val joined = StreamMonitor.enrichJoin(
      left.toDF.toDF("event_id", "ts", "user_id", "value"),
      right.toDF.toDF("r_id", "r_ts", "r_user_id", "r_value"),
      watermark = "2 hours", maxDelay = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    // event at t=90; right rows: t=80 (in window), t=20 (too old: > 1h
    // before), t=95 (after the event), wrong user at t=85
    left.addData((1L, ts(90), 1L, 10.0))
    right.addData(
      (100L, ts(80), 1L, 1.0), (101L, ts(20), 1L, 2.0),
      (102L, ts(95), 1L, 3.0), (103L, ts(85), 2L, 4.0))
    q.processAllAvailable()
    val got = spark.table("ssj").select("event_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L)))
    q.stop()
  }

  test("flatMapGroupsWithState: running totals accumulate across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamMonitor.runningUserTotals(
        input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("rt").outputMode("update").start()
    input.addData((1L, ts(0), 7L, "a", 2.0), (2L, ts(1), 7L, "a", 3.0))
    q.processAllAvailable()
    input.addData((3L, ts(2), 7L, "a", 5.0))
    q.processAllAvailable()
    val rows = spark.table("rt").filter(col("user_id") === 7L)
      .select("n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // batch 1 emits (2, 5.0); batch 2 emits the accumulated (3, 10.0)
    assert(rows == Set((2L, 5.0), (3L, 10.0)))
    q.stop()
  }

  test("file-source stream over real events parquet matches the batch hourly profile") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkFixture.sfDir}/events.parquet"),
      dir.resolve("events.parquet"))
    val q = StreamMonitor.hourlyProfile(
        StreamMonitor.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("fp").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("fp")
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.hourlyCounts(Tables.eventsTs(spark, SparkFixture.sfDir))
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    q.stop()
  }

  test("declared d51 (AvailableNow drain) reproduces the batch d10 output " +
      "exactly — rows, order, and schema") {
    // the lambda-parity contract the d51 oracle checks cross-engine every
    // round, pinned engine-side here: a full end-to-end streaming
    // execution (file source → watermarked window → complete memory sink)
    // must land bit-identically on the batch aggregate
    val stream = SparkEntry.queries("d51_stream_hourly")(spark, SparkFixture.sfDir)
    val batch = SparkEntry.queries("d10_hourly_events")(spark, SparkFixture.sfDir)
    assert(stream.schema == batch.schema)
    assert(stream.collect().map(_.toString).toSeq ==
      batch.collect().map(_.toString).toSeq)
  }

  test("declared d52 (session-window drain + batch rollup) reproduces the " +
      "batch d11 output exactly — rows, order, and schema") {
    // the stateful-session lambda-parity contract the d52 oracle checks
    // cross-engine every round, pinned engine-side here: streaming
    // session_window sessionization drained complete-mode must roll up to
    // the batch lag-rule sessionization (the two gap rules differ only at
    // an exactly-30-min gap, absent from the fixture at every SF)
    val stream = SparkEntry.queries("d52_stream_sessions")(spark, SparkFixture.sfDir)
    val batch = SparkEntry.queries("d11_session_counts")(spark, SparkFixture.sfDir)
    assert(stream.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)))
    assert(stream.collect().map(_.toString).toSeq ==
      batch.collect().map(_.toString).toSeq)
  }

  test("declared d54 (stream-stream interval-join drain + batch rollup) " +
      "reproduces the batch self-join exactly — rows, order, and schema") {
    // the two-source lambda-parity contract the d54 oracle checks
    // cross-engine every round, pinned engine-side here: purchases ⋈
    // clicks (same user, click in the hour before the purchase) drained
    // append-mode must roll up to the batch interval self-join
    val stream = SparkEntry.queries("d54_stream_attribution")(spark, SparkFixture.sfDir)
    val ev = Tables.eventsTs(spark, SparkFixture.sfDir).where(col("ts").isNotNull)
    val batch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
      .join(ev.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("ts"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(graft.operators.Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
          .as("attributed_value"))
      .orderBy(col("user_id"))
    assert(stream.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)))
    val got = stream.collect().map(_.toString).toSeq
    assert(got == batch.collect().map(_.toString).toSeq)
    // evidence density: the fixture yields a real answer set (2 users at
    // sf0.001, growing with SF), not an empty or degenerate relation
    assert(got.size >= 2, s"d54 answer set degenerate: ${got.size} rows")
  }

  test("multi-micro-batch drain (maxFilesPerTrigger=1) reaches the same " +
      "complete-mode fixpoint as the batch aggregate") {
    // d51's declared drain happens to fit one micro-batch (one source
    // file); a production backfill is MANY files rate-limited by
    // maxFilesPerTrigger, so the parity contract must hold at the END of
    // a multi-batch drain too — complete mode re-emits full state every
    // batch and drops nothing, so the last emission must equal the batch
    // answer regardless of how the input was sliced into micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_multi")
    val batchEvents = Tables.eventsTs(spark, SparkFixture.sfDir)
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir.toString)
    val nFiles = dir.toFile.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 4, s"fixture split produced only $nFiles files")
    val q = StreamMonitor.hourlyValueMass(
        StreamMonitor.readEventsStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1")))
      .writeStream.format("memory").queryName("mfpt").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      // the rate limit actually sliced the drain: one micro-batch per file
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"expected >=4 data micro-batches, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      val streamed = spark.table("mfpt").collect().map(_.toString).sorted.toSeq
      val batch = graft.operators.EventOps.hourlyCounts(batchEvents)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
    } finally {
      // finally, not inline: an assertion failure must not leak a live
      // query + the parquet split into the rest of the suite
      q.stop()
      spark.catalog.dropTempView("mfpt")
      rmTree(dir)
    }
  }

  test("d55 custom-state drain: multi-micro-batch update-mode emissions " +
      "roll up (last update per key) to the batch fixpoint") {
    // the declared d55 drains one file = one micro-batch, where each key
    // emits exactly once; a multi-batch backfill emits a key's running
    // state once PER batch it receives data, and the memory sink appends
    // every emission — this pins that the declared max(struct)-rollup
    // recovers the final state from that multi-emission log, i.e. the
    // declaration's parity device survives any micro-batch slicing
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_d55")
    val batchEvents = Tables.eventsTs(spark, SparkFixture.sfDir)
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir.toString)
    val cents = StreamMonitor.readEventsStream(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "1"))
      .withColumn("value",
        graft.operators.Features.qlong(col("value"), 100.0).cast("double"))
    val q = StreamMonitor.runningUserTotals(cents)
      .writeStream.format("memory").queryName("d55multi").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"expected >=4 data micro-batches, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      val emitted = spark.table("d55multi")
      // the rollup is exercised, not vacuous: at least one key must have
      // emitted intermediate updates (more emissions than distinct keys)
      assert(emitted.count() > emitted.select("user_id").distinct().count(),
        "every key emitted once — the multi-batch path was not exercised")
      val rolled = emitted.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_value"))).as("fin"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          (col("fin.total_value") / 100.0).as("total_value"))
        .collect().map(_.toString).sorted.toSeq
      val batch = batchEvents
        .where(col("user_id").isNotNull &&
          graft.operators.Features.finiteOrNull(col("value")).isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(graft.operators.Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
            .as("total_value"))
        .collect().map(_.toString).sorted.toSeq
      assert(rolled == batch)
    } finally {
      q.stop()
      spark.catalog.dropTempView("d55multi")
      rmTree(dir)
    }
  }

  test("file-source stream starts on an EMPTY directory, then ingests files that land later") {
    // the normal incremental-ingestion startup order: stream first, files
    // second — schema inference has nothing to read, so readEventsStream
    // must fall back to the declared canonical schema instead of throwing
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_empty")
    val stream = StreamMonitor.readEventsStream(spark, dir.toString)
    assert(stream.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val q = StreamMonitor.hourlyProfile(stream)
      .writeStream.format("memory").queryName("fe").outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("fe").count() == 0L) // started, nothing to ingest yet
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkFixture.sfDir}/events.parquet"),
      dir.resolve("events.parquet"))
    q.processAllAvailable()
    assert(spark.table("fe").count() > 0L) // late-landing file picked up
    q.stop()
  }

  test("empty-dir start then a NANOS file lands: drainWithSchemaRecheck " +
      "rebuilds the stream and restores batch parity (exactly-once)") {
    // the empty-then-reversion ordering readEventsStream's fallback could
    // previously only DOCUMENT: started on an empty dir the stream runs on
    // the declared NTZ schema, and the committed 500-row TIMESTAMP(NANOS)
    // fixture landing later kills the micro-batch with Spark's raw
    // PARQUET_COLUMN_DATA_TYPE_MISMATCH (a declared streaming schema
    // cannot change mid-query). The recheck runner must recognize exactly
    // that class, rebuild (inference now sees the file), and drain to the
    // same rows the batch path computes — through a CHECKPOINTED parquet
    // sink so the retry is provably exactly-once
    val base = java.nio.file.Files.createTempDirectory("graft_stream_ens")
    val dir = base.resolve("in"); val out = base.resolve("out"); val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(dir)
    def mkQuery() = StreamMonitor.parquetSink(
      StreamMonitor.readEventsStream(spark, dir.toString), out.toString, ckpt.toString)
    // drain 1: started empty — runs on the declared fallback schema, 0 rows
    val q0 = mkQuery(); q0.awaitTermination() // AvailableNow: drains then stops
    // the reversion file lands AFTER the empty-dir start
    val res = getClass.getResourceAsStream("/events_nanos/events.parquet")
    java.nio.file.Files.copy(res, dir.resolve("events.parquet"))
    // drain 2: the NEXT scheduled drain would re-infer and succeed — the
    // hole is a LIVE query built while the dir was empty. Reproduce that:
    // rebuild from an empty sibling view of the same checkpoint lineage is
    // impossible, so pin the live-query path via a memory-sink stream
    // below; here pin the scheduled-drain path end-to-end first
    val q1 = mkQuery(); q1.awaitTermination()
    val sunk = spark.read.parquet(out.toString)
    val batchNs = Tables.normalizeTs {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(dir.toString)
    }
    assert(sunk.count() == 500L && sunk.count() == batchNs.count())
    // live-query path: a stream BUILT while the dir was empty fails on the
    // landed NANOS file; drainWithSchemaRecheck recovers it to parity
    val dir2 = base.resolve("in2"); java.nio.file.Files.createDirectories(dir2)
    val live = StreamMonitor.hourlyProfile(
        StreamMonitor.readEventsStream(spark, dir2.toString))
      .writeStream.format("memory").queryName("ens_live").outputMode("complete").start()
    live.processAllAvailable() // empty drain on the fallback schema
    val res2 = getClass.getResourceAsStream("/events_nanos/events.parquet")
    java.nio.file.Files.copy(res2, dir2.resolve("events.parquet"))
    val recovered = StreamMonitor.drainWithSchemaRecheck(live) { () =>
      spark.catalog.dropTempView("ens_live")
      StreamMonitor.hourlyProfile(
          StreamMonitor.readEventsStream(spark, dir2.toString))
        .writeStream.format("memory").queryName("ens_live").outputMode("complete").start()
    }
    val streamed = spark.table("ens_live")
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.hourlyCounts(batchNs)
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    recovered.stop()
    // the rebuild path fires ONLY for the named mismatch class — an
    // unrelated failure (or a nested unrelated cause chain) rethrows
    assert(!StreamMonitor.isSchemaDriftFailure(
      new RuntimeException("unrelated", new IllegalStateException("also unrelated"))))
    assert(StreamMonitor.isSchemaDriftFailure(new RuntimeException("wrapped",
      new org.apache.spark.sql.execution.datasources
        .SchemaColumnConvertNotSupportedException("ts", "INT64", "timestamp_ntz"))))
  }

  test("file-source stream over a TIMESTAMP(NANOS) events file (the round-10 " +
      "fixture shape) floors to µs and matches the batch path") {
    // the drift REVERSION readEventsStream's fallback caveat documents: a
    // real nanos-physical file (committed test resource: 500 fixture rows
    // re-typed via the tools/retype_fixture.py logic, with non-zero sub-µs
    // residues planted so the ns→µs floor does real work) must stream
    // through the same schema-borrow + normalizeTs path as the batch scan
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ns")
    val res = getClass.getResourceAsStream("/events_nanos/events.parquet")
    java.nio.file.Files.copy(res, dir.resolve("events.parquet"))
    val stream = StreamMonitor.readEventsStream(spark, dir.toString)
    assert(stream.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val q = StreamMonitor.hourlyProfile(stream)
      .writeStream.format("memory").queryName("fns").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("fns")
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.hourlyCounts(Tables.normalizeTs {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(dir.toString)
      })
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    q.stop()
  }

  test("file-source stream over a width-flipped events file (int32 ids, " +
      "float value) canonicalizes and matches the batch hourly profile") {
    // the numeric analog of the NANOS reversion: a regeneration that
    // narrows integer widths / measures would break the typed
    // user_id/value reads at micro-batch time without the stream-side
    // normalizeNumeric (same canonicalization as the batch loaders)
    // (the Spark write yields a DIRECTORY of part files — stream from it
    // directly; the file source does not recurse into subdirectories)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_intflip")
      .resolve("events.parquet")
    Tables.eventsTs(spark, SparkFixture.sfDir)
      .withColumn("event_id", col("event_id").cast("int"))
      .withColumn("user_id", col("user_id").cast("int"))
      .withColumn("value", col("value").cast("float"))
      .write.parquet(dir.toString)
    val stream = StreamMonitor.readEventsStream(spark, dir.toString)
    assert(stream.schema("user_id").dataType == org.apache.spark.sql.types.LongType)
    assert(stream.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    val q = StreamMonitor.hourlyProfile(stream)
      .writeStream.format("memory").queryName("fif").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("fif")
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.hourlyCounts(Tables.eventsTs(spark, SparkFixture.sfDir))
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    q.stop()
  }

  test("hostile rows stream without crashing: NULL ts / NULL type / NaN value " +
      "through the watermarked hourly profile") {
    // the streaming side of CatalogRobustnessSpec's hostile arm: a broken
    // upstream record (all-NULL), a degenerate epoch record, and a junk
    // record (pre-epoch ts, NaN value) land in the source directory mixed
    // with real events. The stream must keep running — at 100 TB/day one
    // poison record must not kill a monitor — and the windowed aggregate
    // must agree with the batch plan over the same directory (both drop
    // NULL-event-time rows: no window can be assigned).
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_hostile")
      .resolve("events.parquet")
    val real = spark.read.parquet(s"${SparkFixture.sfDir}/events.parquet")
    val hostile = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, null, null, null, null, null),
        org.apache.spark.sql.Row(0L, java.time.LocalDateTime.of(1970, 1, 1, 0, 0), 0L, "", 0.0, ""),
        org.apache.spark.sql.Row(-1L, java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59), -1L,
          " \t\n {", Double.NaN, " \t\n {")),
      real.schema)
    real.limit(4).unionByName(hostile).write.parquet(dir.toString)
    val q = StreamMonitor.hourlyProfile(StreamMonitor.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("fh").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("fh")
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.hourlyCounts(
        Tables.normalizeTs(spark.read.parquet(dir.toString)))
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"), col("n"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the all-NULL record must be absent (no assignable window), the epoch
    // and pre-epoch records present
    assert(!streamed.exists(_._1 == "null"))
    // the NaN-value record's window reports a NULL mean (fitted over finite
    // values — there are none), never NaN: a NaN mean would silently mute
    // driftAlerts for that window
    val means = spark.table("fh").select(col("mean_value")).collect()
    assert(means.forall(r => r.isNullAt(0) || !r.getDouble(0).isNaN))
    assert(means.exists(_.isNullAt(0)), "expected the NaN-only window to report NULL mean")
    q.stop()

    // the other watermarked monitors survive the same poisoned source.
    // dedup semantics under poison (pinned, not assumed): the duplicate
    // id 0 is dropped; the pre-epoch junk record is dropped as LATE
    // (decades behind the watermark the 2024 events establish); the
    // all-NULL record PASSES — a NULL event time is not "late", and
    // dropDuplicatesWithinWatermark is not a window aggregate, so rows
    // flow through with their NULL id as a key (callers needing
    // event-time completeness must filter, per the scaladoc)
    val qd = StreamMonitor.dedupedEvents(StreamMonitor.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("fhd").outputMode("append").start()
    qd.processAllAvailable()
    val ids = spark.table("fhd").select(col("event_id"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSet
    assert(ids == Set[Any](0L, 1L, 2L, 3L, null))
    qd.stop()
    // sessionization parses and runs (append emits only after the
    // watermark closes a session — the no-crash property is the gate here)
    val qs = StreamMonitor.userSessions(StreamMonitor.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("fhs").outputMode("append").start()
    qs.processAllAvailable()
    qs.stop()
  }

  test("runningUserTotals survives hostile rows: NULL user/value dropped, " +
      "NaN cannot poison a lifetime total") {
    // the stateful lifetime monitor reads through PRIMITIVE encoders — an
    // unguarded NULL user_id or value would hit AssertNotNull in the tuple
    // deserializer and kill the query permanently (one poison record
    // taking down a monitor, the class the watermarked operators already
    // gate); and a NaN value would poison that user's running total for
    // the life of the query. Hostile rows must be dropped, keyed-finite
    // rows must keep counting.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_rut")
      .resolve("events.parquet")
    val real = spark.read.parquet(s"${SparkFixture.sfDir}/events.parquet")
    val hostile = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, null, null, null, null, null),
        org.apache.spark.sql.Row(0L, java.time.LocalDateTime.of(1970, 1, 1, 0, 0), 0L, "", 0.0, ""),
        org.apache.spark.sql.Row(-1L, java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59), -1L,
          " \t\n {", Double.NaN, " \t\n {")),
      real.schema)
    real.limit(4).unionByName(hostile).write.parquet(dir.toString)
    val q = StreamMonitor.runningUserTotals(
        StreamMonitor.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("rut_h").outputMode("update").start()
    q.processAllAvailable()
    val rows = spark.table("rut_h").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.nonEmpty, "the query must survive the poisoned batch")
    assert(!rows.contains(-1L), "the NaN-value record must not create a user")
    assert(rows.contains(0L), "the finite epoch record keeps counting")
    assert(rows.values.forall { case (_, t) => java.lang.Double.isFinite(t) },
      s"no lifetime total may be poisoned: $rows")
    q.stop()
  }

  test("userSessions: 30-min silence splits sessions (append after watermark)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamMonitor.userSessions(
        input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("us").outputMode("append").start()
    // user 1: events at 0,10 (one session), then 60 (new session — 50min gap)
    input.addData((1L, ts(0), 1L, "a", 1.0), (2L, ts(10), 1L, "a", 1.0),
      (3L, ts(60), 1L, "a", 1.0))
    q.processAllAvailable()
    // advance watermark far past everything so sessions close and emit
    input.addData((9L, ts(600), 9L, "z", 0.0))
    q.processAllAvailable()
    val sessions = spark.table("us").filter(col("user_id") === 1L)
      .select("n_events").collect().map(_.getLong(0)).sorted
    assert(sessions.toSeq == Seq(1L, 2L))
    q.stop()
  }

  test("streaming ingest + incremental dedup: each micro-batch checked via foreachBatch") {
    import graft.operators.Dedup
    implicit val ctx = spark.sqlContext
    // corpus index built once from the existing docs
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about database engines and query planners"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val found = Dedup.incrementalNearDups(batch, idx, 0.5).collect()
        hits.synchronized { hits ++= found.map(r => (r.getLong(0), r.getLong(1))) }
        () // Unit — the streaming sink contract
      }
      .start()
    // batch 1: a near-dup of corpus doc 0 arrives; batch 2: novel content
    input.addData((10L, "the quick brown fox jumps over the lazy dog again and again tonight"))
    q.processAllAvailable()
    input.addData((11L, "entirely novel prose about tidal patterns and migratory birds"))
    q.processAllAvailable()
    q.stop()
    assert(hits.toSet == Set((10L, 0L)), hits)
  }

  test("streaming ANN-index ingest: new batches encode against precomputed artifacts; planted dup caught vs the prior corpus") {
    import graft.operators.Similarity
    implicit val ctx = spark.sqlContext
    // ingest-time artifacts built ONCE from the prior corpus: coarse
    // quantizer, PQ codebooks, and the persisted 4-byte code rows — the
    // streaming arm must never re-encode the corpus
    val rng = new scala.util.Random(11L)
    val corpusRows = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rng.nextFloat())))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val coarse = Similarity.trainIvfCentroids(corpus, 4)
    val books = Similarity.trainPqCodebooks(corpus, 16, m = 4, ksub = 8)
    val corpusCodes = Similarity.pqEncode(
      Similarity.assignCells(Similarity.indexable(corpus), coarse),
      books, carry = Seq("cell"))
    val dupHits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val codesSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF.toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (codes, dups) = Similarity.incrementalVectorIngest(
          batch, 16, coarse, books, corpusCodes, maxAdcDist = 2.0)
        dupHits.synchronized {
          dupHits ++= dups.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Double]("adc_dist")))
        }
        codesSeen.synchronized {
          codesSeen ++= codes.collect().map(r =>
            (r.getLong(0), r.getAs[Array[Byte]]("codes")))
        }
        ()
      }
      .start()
    // batch 1: an exact copy of corpus vector 7 (must share codes — its
    // ADC distance is the quantization floor) plus a far-away novel
    // vector (no corpus code within the gate)
    input.addData((1000L, corpusRows(7)._2), (1001L, Seq.fill(16)(100.0f)))
    q.processAllAvailable()
    // batch 2: novel in-distribution vector — the arm keeps running
    input.addData((1002L, Seq.fill(16)(rng.nextFloat())))
    q.processAllAvailable()
    q.stop()
    val corpusCodesMap = corpusCodes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("codes")).toMap
    val seen = codesSeen.toMap
    assert(seen(1000L).sameElements(corpusCodesMap(7L)),
      "exact dup must encode to its base's codes against the same books")
    val for1000 = dupHits.filter(_._1 == 1000L)
    assert(for1000.nonEmpty, s"planted dup not flagged: $dupHits")
    assert(for1000.minBy(h => (h._3, h._2))._2 == 7L,
      s"planted dup's base must be the closest corpus hit: $for1000")
    assert(!dupHits.exists(_._1 == 1001L),
      s"far-away novel vector must not flag: $dupHits")
  }

  test("streaming ANN-index ingest, residual arm: planted dup surfaces under residual codes against a residual-coded corpus artifact") {
    import graft.operators.Similarity
    implicit val ctx = spark.sqlContext
    // the d67 lifecycle on the streaming side: corpus artifact is
    // RESIDUAL-coded (pqEncode residualOf) with residual-trained books;
    // the ingest arm must encode and score new batches on the same axis
    val rng = new scala.util.Random(13L)
    val corpusRows = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rng.nextFloat())))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val coarse = Similarity.trainIvfCentroids(corpus, 4)
    val books = Similarity.trainPqCodebooks(corpus, 16, m = 4, ksub = 8,
      residualOf = Some(coarse))
    val corpusCodes = Similarity.pqEncode(
      Similarity.assignCells(Similarity.indexable(corpus), coarse),
      books, carry = Seq("cell"), residualOf = Some(("cell", coarse)))
    val dupHits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val codesSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF.toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (codes, dups) = Similarity.incrementalVectorIngest(
          batch, 16, coarse, books, corpusCodes, maxAdcDist = 2.0,
          byResidual = true)
        dupHits.synchronized {
          dupHits ++= dups.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Double]("adc_dist")))
        }
        codesSeen.synchronized {
          codesSeen ++= codes.collect().map(r =>
            (r.getLong(0), r.getAs[Array[Byte]]("codes")))
        }
        ()
      }
      .start()
    // batch 1: an exact copy of corpus vector 7 (same cell → same
    // residual → same codes → quantization-floor ADC distance) plus a
    // far-away novel vector; batch 2: novel in-distribution vector
    input.addData((1000L, corpusRows(7)._2), (1001L, Seq.fill(16)(100.0f)))
    q.processAllAvailable()
    input.addData((1002L, Seq.fill(16)(rng.nextFloat())))
    q.processAllAvailable()
    q.stop()
    val corpusCodesMap = corpusCodes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("codes")).toMap
    val seen = codesSeen.toMap
    assert(seen(1000L).sameElements(corpusCodesMap(7L)),
      "exact dup must encode to its base's residual codes against the same artifacts")
    val for1000 = dupHits.filter(_._1 == 1000L)
    assert(for1000.nonEmpty, s"planted dup not flagged under residual codes: $dupHits")
    assert(for1000.minBy(h => (h._3, h._2))._2 == 7L,
      s"planted dup's base must be the closest corpus hit: $for1000")
    assert(!dupHits.exists(_._1 == 1001L),
      s"far-away novel vector must not flag: $dupHits")
  }

  test("streaming corpus hygiene: per-batch quality filter + PII scrub via foreachBatch") {
    import graft.operators.TextOps
    implicit val ctx = spark.sqlContext
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the same operators the batch pipeline declares, per micro-batch:
        // keep only quality docs, then scrub + audit what survives
        val scrubbed = TextOps.piiScrub(batch.filter(TextOps.qualityKeep)).collect()
        out.synchronized {
          out ++= scrubbed.map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips")))
        }
        ()
      }
      .start()
    val goodDirty = "please contact us at ops@example.com or visit node 10.0.0.7 " +
      "for the full onboarding process details this week"
    input.addData((20L, goodDirty), (21L, "too short")) // 21 fails quality
    q.processAllAvailable()
    input.addData((22L, "a perfectly ordinary clean document with plenty of words " +
      "and no sensitive content at all in it"))
    q.processAllAvailable()
    q.stop()
    assert(out.toSet == Set((20L, 1L, 1L), (22L, 0L, 0L)), out)
  }

  test("slidingRates: an event lands in every overlapping 1h/15m window; driftAlerts fires only past the sigma gate") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamMonitor.slidingRates(
        input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("sr").outputMode("complete").start()
    // one event at minute 40 → exactly 4 sliding windows (slide 15m) cover it
    input.addData((1L, ts(40), 1L, "a", 1.0))
    q.processAllAvailable()
    val wins = spark.table("sr").collect()
    assert(wins.length == 4, wins.mkString(", "))
    assert(wins.forall(_.getAs[Long]("n") == 1L))
    q.stop()
    // driftAlerts: baseline mean 10, sigma 1, 3σ gate → hourly mean 10.5
    // stays silent, mean 20 alerts. The loud window also carries one NaN
    // record: the window mean is fitted over finite values only, so the
    // alert STILL fires — unguarded, mean_value would be NaN and
    // abs(NaN − 10) > 3 is false, silently muting the monitor for exactly
    // the window containing bad data
    val input2 = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q2 = StreamMonitor.driftAlerts(
        input2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        baselineMean = 10.0, baselineStd = 1.0)
      .writeStream.format("memory").queryName("da").outputMode("complete").start()
    input2.addData((1L, ts(0), 1L, "quiet", 10.5), (2L, ts(1), 1L, "quiet", 10.5),
      (3L, ts(2), 2L, "loud", 20.0), (4L, ts(3), 2L, "loud", 20.0),
      (5L, ts(4), 2L, "loud", Double.NaN))
    q2.processAllAvailable()
    val alerts = spark.table("da").select("event_type").collect().map(_.getString(0))
    assert(alerts.toSeq == Seq("loud"), alerts.mkString(", "))
    q2.stop()
  }

  test("parquet sink lifecycle: checkpoint restart is exactly-once across runs") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_sink_in")
    val out = Files.createTempDirectory("graft_sink_out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    // stage a single parquet file into the watched dir (file-source layout)
    def addFile(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_sink_stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString + "/d")
      val part = new java.io.File(tmp.toString + "/d").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, in.resolve(name))
    }
    def nanos(s: Long) = s * 1000000000L
    def run(): Unit = {
      val q = StreamMonitor.parquetSink(
        StreamMonitor.readEventsStream(spark, in.toString), out, ckpt)
      q.awaitTermination()
    }
    addFile("a.parquet", Seq((1L, nanos(0), 1L, "a", 1.0, "{}"),
      (2L, nanos(60), 1L, "a", 2.0, "{}")))
    run()
    // run 2: restart from the same checkpoint ingests ONLY the new file
    addFile("b.parquet", Seq((3L, nanos(120), 2L, "b", 3.0, "{}")))
    run()
    // run 3: nothing new — a replayed restart must not duplicate anything
    run()
    val got = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("drainWithSchemaRecheck through a checkpointed parquet sink: the " +
      "failed batch never commits and the rebuilt query lands exactly-once") {
    // the recovery branch's headline guarantee — "with a checkpointed sink
    // the retry is exactly-once" — exercised for real (the other arm pins
    // it only against a complete-mode memory sink, where exactly-once is
    // trivial full recompute): a LIVE parquet-sink query built on an empty
    // dir fails its micro-batch when the committed 500-row NANOS fixture
    // lands; the rebuild over the SAME sink + checkpoint must re-execute
    // the uncommitted batch with the re-inferred schema and land each row
    // exactly once — no dupes from the failed attempt, no drops.
    val base = java.nio.file.Files.createTempDirectory("graft_stream_eo")
    val dir = base.resolve("in"); java.nio.file.Files.createDirectories(dir)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def mkLive() = StreamMonitor.readEventsStream(spark, dir.toString)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = mkLive()
    q.processAllAvailable() // empty drain on the declared fallback schema
    val res = getClass.getResourceAsStream("/events_nanos/events.parquet")
    java.nio.file.Files.copy(res, dir.resolve("events.parquet"))
    val recovered = StreamMonitor.drainWithSchemaRecheck(q)(() => mkLive())
    recovered.stop()
    val sunk = spark.read.parquet(out)
    val batch = Tables.normalizeTs {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(dir.toString)
    }
    assert(sunk.count() == 500L, "every fixture row lands (no drops)")
    assert(sunk.select("event_id").distinct().count() == 500L,
      "no event duplicated by the failed attempt's replay")
    assert(sunk.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      batch.select("event_id").collect().map(_.getLong(0)).sorted.toSeq)
  }
}
