package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators — the as-of join a feature-engineering pipeline
  * needs ("latest dimension state at event time") that Spark has no built-in
  * operator for.
  *
  * Architecture (100 TB): the naive formulation is an inequality join
  * (`l.key = r.key AND r.t <= l.t` + argmax), which Spark plans as a
  * shuffled join with per-pair range filtering — O(|matches|) intermediate
  * rows, quadratic per hot key. This implementation instead UNIONs both
  * sides tagged, shuffles ONCE on the key, sorts per key by time, and
  * carries the latest right-side payload forward with a running
  * `last(ignoreNulls)` window — O(n log n) per key, no pair explosion,
  * no single-partition stage. This is the standard scale pattern for
  * point-in-time correctness in training-data generation (no leakage:
  * only rows with `r.t <= l.t` are visible to each left row).
  *
  * Skew ceiling: [[asofJoin]]'s window partitions by KEY, so one
  * pathological key (a single user with 10⁸ events) lands in one task —
  * the same per-key bound every key-partitioned operator has (cf.
  * [[Scale.saltedJoin]]'s escape hatch for joins). The implemented escape
  * hatch is [[asofJoinBucketed]]: time-bucketed two-level resolution with
  * identical semantics (asserted bit-equal in TemporalSpec), whose
  * per-task bound is one key's rows per TIME BUCKET.
  */
object Temporal {

  /** As-of join: for each `left` row, attach the latest `right` payload with
    * `right(rightT) <= left(leftT)` in the same `key` group, as a struct
    * column `__asof` (null when no prior right row exists — filter for
    * inner-asof semantics).
    *
    * Ties: a right row exactly at the left row's time IS visible
    * (inclusive). Among right rows sharing the same time, the one with the
    * greatest `rightTieBreak` wins — deterministic across engines.
    *
    * Null keys follow join semantics: null never matches, so null-key right
    * rows are dropped and null-key left rows pass through with a null
    * `__asof` (they would otherwise co-group in the null window partition
    * and leak payloads to each other). A null rightT right row is dropped
    * for the same reason: the contract is `rightT <= leftT`, and
    * `NULL <= t` is never true — unfiltered, the NULL time would sort
    * NULLS FIRST in the window and attach as the "earliest" update to
    * every probe after no real update.
    *
    * Assumes left/right column names are disjoint from the `__`-prefixed
    * working columns. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftT: String, rightT: String,
               rightPayload: Seq[String], rightTieBreak: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val payloadType = right.select(struct(rightPayload.map(col): _*)).schema.head.dataType
    val rowType = left.select(struct(leftCols.map(col): _*)).schema.head.dataType
    val tieType = right.schema(rightTieBreak).dataType
    val probes = left.select(
      col(key).as("__k"), col(leftT).as("__t"),
      lit(1).as("__kind"),
      lit(null).cast(tieType).as("__tie"),
      lit(null).cast(payloadType).as("__p"),
      struct(leftCols.map(col): _*).as("__row"))
    val updates = right.filter(col(key).isNotNull && col(rightT).isNotNull).select(
      col(key).as("__k"), col(rightT).as("__t"),
      lit(0).as("__kind"),
      col(rightTieBreak).as("__tie"),
      struct(rightPayload.map(col): _*).as("__p"),
      lit(null).cast(rowType).as("__row"))
    // updates sort before probes at equal time (__kind 0 < 1) → inclusive;
    // the frame ends at the current row, so `last` sees exactly the updates
    // at or before this probe, latest (time, tieBreak) wins
    val w = Window.partitionBy("__k")
      .orderBy(col("__t"), col("__kind"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionByName(updates)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .select(leftCols.map(c => col(s"__row.$c").as(c)) :+ col("__asof"): _*)
  }

  /** Hot-key-safe as-of join — same semantics as [[asofJoin]] (inclusive at
    * equal time, max-`rightTieBreak` among equal times, null keys never
    * match), but the per-key work is bounded by TIME BUCKET, not by the
    * key's full history, so a single pathological key no longer lands in
    * one task:
    *
    *  1. reduce the right side to ONE row per (key, bucket): the latest
    *     update in that bucket (`max_by` — a fully parallel aggregate);
    *  2. carry the latest update STRICTLY-BEFORE each bucket forward with
    *     a window over (key, bucket) — per-key rows = #buckets, bounded by
    *     the time span regardless of data volume;
    *  3. resolve each left row exactly: candidates from its OWN bucket
    *     (equi-join on (key, bucket) + time filter — pair work bounded by
    *     bucket width) beat the carried before-bucket payload, because
    *     bucketing is monotone: any in-bucket time ≥ every before-bucket
    *     time.
    *
    * `bucket` must be a monotone time→bucket map over the SAME orderable
    * type for both sides (e.g. `date_trunc("month", _)`, `floor(unix/86400)`).
    * Choose the width so one key's rows per bucket fit a task — the knob
    * that trades carry-window length against in-bucket join fan-out.
    * Precondition (same as [[asofJoin]]): (rightT, rightTieBreak) unique
    * per key, else the winner among exact ties is plan-order dependent. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, key: String,
                       leftT: String, rightT: String,
                       rightPayload: Seq[String], rightTieBreak: String,
                       bucket: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val leftCols = left.columns.toSeq
    // same null-key AND null-time drop as [[asofJoin]] (a NULL rightT can
    // never satisfy rightT <= leftT; unfiltered it would ride the
    // NULLS-FIRST carry window as a phantom earliest update)
    val r = right.filter(col(key).isNotNull && col(rightT).isNotNull)
    // pinned, for CORRECTNESS, not just cost: __lid comes from
    // monotonically_increasing_id(), which depends on row order within
    // partitions — nondeterministic after a shuffle — and this relation is
    // referenced three times (probes, in-bucket join, final join). Without
    // the pin each reference re-evaluates the id assignment and a
    // shuffled-input left side could pair a row with another row's
    // in-bucket winner. The pin fixes one id per physical row.
    val lid = graft.Materialize.pin(left
      .withColumn("__lid", monotonically_increasing_id())
      .withColumn("__b", bucket(col(leftT))))
    val rb = r.select(
      col(key).as("__k"), bucket(col(rightT)).as("__b"),
      col(rightT).as("__t"), col(rightTieBreak).as("__tie"),
      struct(rightPayload.map(col): _*).as("__p"))
    // (1) latest update per (key, bucket)
    val perBucket = rb.groupBy(col("__k"), col("__b"))
      .agg(max_by(struct(col("__t"), col("__tie"), col("__p")),
        struct(col("__t"), col("__tie"))).as("__u"))
    // (2) strictly-before-bucket carry: probes (kind 0) sort BEFORE the
    // bucket's own update (kind 1), so `last` sees only earlier buckets
    val probes = lid.select(col(key).as("__k"), col("__b")).distinct()
      .withColumn("__kind", lit(0))
      .withColumn("__u", lit(null).cast(perBucket.schema("__u").dataType))
    val updates = perBucket.withColumn("__kind", lit(1))
    val wCarry = Window.partitionBy("__k")
      .orderBy(col("__b"), col("__kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = probes.unionByName(updates)
      .withColumn("__carry", last(col("__u"), ignoreNulls = true).over(wCarry))
      .filter(col("__kind") === 0)
      .select(col("__k"), col("__b"), col("__carry"))
    // (3) in-bucket exact resolution + merge with the carry. Both right
    // sides are RENAMED (__r*/__c*) before joining: `carry` descends from
    // `lid`, so `lid("__b") === carry("__b")` resolves both sides to the
    // SAME attribute and Spark only rescues it via analyzer dedup after
    // WARNing "trivially true equals predicate" — correctness by luck.
    // Disjoint names make every predicate structurally unambiguous.
    val rbJ = rb.select(col("__k").as("__rk"), col("__b").as("__rb"),
      col("__t").as("__rt"), col("__tie").as("__rtie"), col("__p").as("__rp"))
    val inBucket = lid
      .join(rbJ,
        col(key) === col("__rk") && col("__b") === col("__rb") &&
          col("__rt") <= col(leftT),
        "left")
      .groupBy(col("__lid"))
      .agg(max_by(
        when(col("__rt").isNotNull,
          struct(col("__rt").as("__t"), col("__rtie").as("__tie"), col("__rp").as("__p"))),
        when(col("__rt").isNotNull, struct(col("__rt"), col("__rtie")))).as("__w"))
    val carryJ = carry.select(col("__k").as("__ck"), col("__b").as("__cb"),
      col("__carry"))
    lid
      .join(inBucket, "__lid")
      .join(carryJ, col(key) === col("__ck") && col("__b") === col("__cb"), "left")
      .select(leftCols.map(col) :+
        coalesce(col("__w.__p"), col("__carry.__p")).as("__asof"): _*)
  }

  /** Attribution-window join (x31): per order, the customer's event count
    * and value mass within `days` after the order — the "activity in the N
    * days after a transaction" feature.
    *
    * Scale shape: an equi-join on the customer key with the time window as
    * a residual range predicate — Catalyst plans the shuffle/broadcast on
    * the EQUALITY key and evaluates the range as a post-join filter, so
    * there is no pair explosion beyond each customer's own rows (per-key
    * skew is the salted-join case, [[Scale.saltedJoin]]). Value mass sums
    * integer cents: per-row conversion is IEEE-identical across engines and
    * integer summation is order-independent. */
  def attributionWindow(s: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val e = graft.Tables.eventsTs(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
    o.join(e,
        e("user_id") === o("o_custkey") &&
          e("ts") >= o("o_orderdate") &&
          e("ts") < o("o_orderdate") + expr(s"INTERVAL $days DAYS"),
        "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("user_id")).as("n_events"),
        (sum(Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
          .as("value_mass"))
      .orderBy(col("o_orderkey"))
  }

  /** Declared-query form (x30): for each event, the customer's most recent
    * order at or before the event time — the point-in-time feature lookup.
    * Payload values pass through unrounded (no arithmetic → bit-identical
    * to any engine). */
  def asofLastOrder(s: SparkSession, dir: String): DataFrame =
    asofLastOrderVia(s, dir, bucketed = false)

  /** Declared-query form (x34): identical semantics through the hot-key
    * [[asofJoinBucketed]] path (month buckets) — shares x30's SQL oracle,
    * so the bucketed rewrite is hash-verified end-to-end, not only
    * unit-tested. */
  def asofLastOrderBucketed(s: SparkSession, dir: String): DataFrame =
    asofLastOrderVia(s, dir, bucketed = true)

  private def asofLastOrderVia(s: SparkSession, dir: String,
                               bucketed: Boolean): DataFrame = {
    val e = graft.Tables.eventsTs(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = graft.Tables.orders(s, dir)
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
    val eN = e.select(col("event_id"), col("user_id"),
      col("ts").cast("timestamp_ntz").as("ts"))
    val joined =
      if (bucketed)
        asofJoinBucketed(eN, o, "user_id", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"), "o_orderkey",
          t => date_trunc("month", t))
      else
        asofJoin(eN, o, "user_id", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"), "o_orderkey")
    joined
      .filter(col("__asof").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("__asof.o_orderkey").as("last_orderkey"),
        col("__asof.o_totalprice").as("last_price"))
      .orderBy(col("event_id"))
  }
}
