package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata (TPC-H-ish star schema + events /
  * documents / embeddings — see FIXTURES.md §B).
  *
  * Scale note: plain parquet scans so Catalyst's scan-time column pruning and
  * predicate pushdown apply (verified via `.explain` — `PushedFilters` /
  * `ReadSchema`). At 100 TB the same code works against a partitioned
  * table root; no collect-side logic here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped parquet schema reuse (guide §1.2 driver floor):
    * `spark.read.parquet(path)` re-runs schema inference — DataSource
    * resolution + a footer read — on EVERY call, measured at 70–98 ms
    * per call against 6–14 ms cached (plans/MEASUREMENTS.md; re-measure
    * with the per-table line of `tools.Profile time`), which IS the build
    * cost of the catalog's sub-0.5 s tail (1–3 loads per query). A catalog
    * table in any production deployment carries its schema in the
    * metastore and never pays this; this cache is the bare-path
    * equivalent: the first load of a path in a session infers and
    * remembers the SCHEMA — metadata only, never rows — and later loads
    * pass it explicitly, skipping inference. Keyed per SESSION (a
    * WeakHashMap, like Spark's own FileStatusCache scoping) so
    * cross-session conf differences (e.g. nanosAsLong) cannot leak a
    * schema, and by [[listingSignature]] so any rewrite re-infers.
    * Results are unchanged by construction — the explicit schema IS the
    * inferred one. */
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]),
        org.apache.spark.sql.types.StructType]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedRead(spark, s"$dir/$name.parquet")

  /** (name, size, mtime) of the path and, for a directory, of each entry
    * in it: one listing. A directory's own mtime moves only when entries
    * are added or removed, so an in-place part-file overwrite is caught
    * by the entry's size/mtime, not the directory's. */
  private def listingSignature(path: String): Seq[(String, Long, Long)] = {
    val f = new java.io.File(path)
    def sig(e: java.io.File) = (e.getName, e.length(), e.lastModified())
    sig(f) +: Option(f.listFiles()).toSeq.flatten.map(sig).sortBy(_._1)
  }

  /** The schema-reusing parquet read behind [[load]] — also serves the
    * streaming source's per-drain schema inference
    * ([[graft.streaming.StreamMonitor.readEventsStream]]). */
  private[graft] def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val perSession = schemaCache.synchronized {
      var m = schemaCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]),
          org.apache.spark.sql.types.StructType]()
        schemaCache.put(spark, m)
      }
      m
    }
    val key = (path, listingSignature(path))
    val cached = perSession.get(key)
    if (cached == null) {
      val df = spark.read.parquet(path)
      perSession.put(key, df.schema)
      df
    } else spark.read.schema(cached).parquet(path)
  }

  /** Raw scan that tolerates a TIMESTAMP(NANOS) fixture regeneration: a
    * plain scan of a NANOS column THROWS (ILLEGAL_PARQUET_TYPE) during
    * schema inference, so opt into reading it as a nanosecond epoch long
    * first; on the current MICROS fixture the flag is inert. Session-conf
    * caveat as documented on [[eventsRaw]]: `nanosAsLong` is a legacy
    * session flag (no per-reader option exists), so this dataset's
    * sessions opt into it globally. */
  private[graft] def loadTolerant(s: SparkSession, d: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, name)
  }

  /** Canonical numeric type per table.column — today's fixture shape, the
    * types every typed read (`getLong(doc_id)`, `getSeq[Float]`), encoder,
    * and native expression in the engine binds to. [[normalizeNumeric]]
    * casts any numeric physical-type drift back to these; non-numeric
    * columns (strings, the timestamp family, the embedding array) have
    * their own normalizers or are drift-stable. */
  private[graft] val canonicalNumeric: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "region"   -> Seq("r_regionkey" -> IntegerType),
      "nation"   -> Seq("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
                        "c_acctbal" -> DoubleType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
                        "s_acctbal" -> DoubleType),
      "part"     -> Seq("p_partkey" -> LongType, "p_size" -> IntegerType,
                        "p_retailprice" -> DoubleType),
      "orders"   -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
                        "o_totalprice" -> DoubleType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
                        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                        "l_discount" -> DoubleType, "l_tax" -> DoubleType),
      "events"   -> Seq("event_id" -> LongType, "user_id" -> LongType,
                        "value" -> DoubleType),
      "documents" -> Seq("doc_id" -> LongType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType, "label" -> IntegerType))
  }

  /** Temporal columns the loaders canonicalize to the timestamp family —
    * [[normalizeTs]] for `events.ts` (→ µs TimestampType), [[normalizeDate]]
    * for the date columns (→ TIMESTAMP_NTZ). Consumed by the loaders below
    * AND by [[SparkEntry]]'s oracle canonical-type CTE prelude (where every
    * entry becomes a DuckDB `CAST(c AS TIMESTAMP)`), so the drift contract
    * has ONE authoritative column list on both sides of the gate. */
  private[graft] val canonicalTemporal: Map[String, Seq[String]] = Map(
    "events"   -> Seq("ts"),
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Embedding-array columns canonicalized by [[normalizeEmbedding]]
    * (→ `array<float>`; oracle side `CAST(c AS FLOAT[])`). Same
    * single-source contract as [[canonicalTemporal]]. */
  private[graft] val canonicalEmbedding: Map[String, Seq[String]] =
    Map("embeddings" -> Seq("embedding"))

  /** Canonicalize numeric physical-type drift back to [[canonicalNumeric]] —
    * the [[normalizeTs]]/[[normalizeDate]] pattern applied to the last
    * un-armored fixture surface. A regeneration that unifies integer widths
    * (int32↔int64) or switches measures to the TPC-H-spec DECIMAL(15,2)
    * would otherwise break typed reads (`getLong` → ClassCastException) and
    * Dataset upcasts (decimal→double is not a legal upcast → CANNOT_UP_CAST
    * at analysis) — the same silent-outage class as the r10→r11 timestamp
    * flip. Branches:
    *  - exact match → untouched (today's fixture; plans stay byte-identical);
    *  - any DecimalType or FloatType → DoubleType: measure columns back to
    *    double. Exact for any physical-type-only drift (values the current
    *    double fixture already carries); a genuine precision change fails
    *    the oracle compares loudly — the signal to revisit;
    *  - integral ↔ integral → cast to the canonical width. Widening is
    *    always exact; narrowing is exact for every value the fixture domain
    *    can hold (25 nations, 5 regions, int-sized sizes/linenumbers) and
    *    sessions run ANSI mode, so a genuinely out-of-range value fails
    *    loudly instead of wrapping.
    * Anything else is a fixture change we want to fail loudly on, naming
    * the table and column.
    *
    * Scale note: on a canonical fixture this is a pure pass-through (the
    * returned frame is the input, `eq`-identical — zero plan impact).
    * Under an ACTUAL drift the inserted cast can block parquet filter
    * pushdown for some predicates (Catalyst's
    * UnwrapCastInBinaryComparison recovers the integral-width cases);
    * that is a drift-day contingency cost, and the durable remedy after
    * a real regeneration is to re-pin [[canonicalNumeric]] to the new
    * shape so the pass-through returns. */
  private[graft] def normalizeNumeric(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    canonicalNumeric.getOrElse(table, Seq.empty).foldLeft(df) {
      case (acc, (c, want)) =>
        (acc.schema(c).dataType, want) match {
          case (have, w) if have == w => acc
          case (_: DecimalType, DoubleType) =>
            acc.withColumn(c, col(c).cast(want))
          case (FloatType, DoubleType) =>
            acc.withColumn(c, col(c).cast(want))
          case (ByteType | ShortType | IntegerType | LongType,
                IntegerType | LongType) =>
            acc.withColumn(c, col(c).cast(want))
          case (other, w) => throw new IllegalStateException(
            s"unexpected $table.$c type: $other (canonical $w) — the " +
              "testdata was regenerated with a new physical type; extend " +
              "Tables.normalizeNumeric (see the normalizeTs precedent), " +
              "then widen FixtureContractSpec")
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "region"), "region")
  def nation(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "nation"), "nation")
  def customer(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "customer"), "customer")
  def supplier(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "supplier"), "supplier")
  def part(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "part"), "part")

  /** Orders with `o_orderdate` canonicalized ([[normalizeDate]]) — on the
    * current TIMESTAMP_NTZ fixture both the flag and the normalization are
    * no-ops and the plan is byte-identical to a plain scan. */
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(
      canonicalTemporal("orders").foldLeft(loadTolerant(s, d, "orders"))(
        normalizeDate(_, _, "orders")),
      "orders")

  /** Raw events scan, tolerant of the fixture's physical `ts` type — the
    * harness has shipped it both as parquet TIMESTAMP(NANOS) (rounds ≤ 10)
    * and as TIMESTAMP(MICROS) (round 11+). TIMESTAMP(NANOS) is rejected by
    * Spark's vectorized reader, so opt into reading it as a nanosecond
    * epoch long; on a MICROS file the flag is inert and `ts` arrives as a
    * (NTZ) timestamp. Callers that touch `ts` go through [[eventsTs]] /
    * [[normalizeTs]], which canonicalize either physical shape.
    * Session-conf caveat: `nanosAsLong` is a legacy session flag (no
    * per-reader option exists), so every later TIMESTAMP(NANOS) parquet
    * read in the session also yields longs — this dataset's sessions opt
    * into that globally (same contract as
    * [[graft.streaming.StreamMonitor.readEventsStream]]). */
  def eventsRaw(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(loadTolerant(s, d, "events"), "events")

  /** ns→µs epoch conversion matching DuckDB's TIMESTAMP_NS → TIMESTAMP
    * cast, which FLOORS: integer `div` truncates toward zero, so a bare
    * `ts div 1000` would round pre-epoch (negative) nanos UP by 1µs and
    * flip hour buckets / session gaps / as-of boundaries against the
    * oracle. Integer arithmetic throughout — a double `floor(ts/1000.0)`
    * would lose precision above 2^53 ns (~1974). */
  private[graft] def nsToUsFloorExpr(c: String): String =
    s"($c div 1000) - (CASE WHEN $c % 1000 < 0 THEN 1 ELSE 0 END)"

  private[graft] val nsToUsFloor: String = nsToUsFloorExpr("ts")

  /** Canonicalize a `ts` column to microsecond-precision TimestampType,
    * whatever physical shape the scan produced:
    *  - LongType (TIMESTAMP(NANOS) read via `nanosAsLong`) → floor-div to
    *    µs ([[nsToUsFloor]], matching DuckDB's TIMESTAMP_NS→TIMESTAMP cast);
    *  - TIMESTAMP_NTZ (parquet MICROS, isAdjustedToUTC=false — the round-11+
    *    fixture shape) → cast to TimestampType. All engine sessions pin
    *    `spark.sql.session.timeZone=UTC`, so the cast re-labels the same
    *    microsecond value (wall clock == instant), keeping every downstream
    *    consumer (windows, watermarks, as-of joins) on one type;
    *  - TimestampType → already canonical.
    * Anything else is a fixture change we want to fail loudly on. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr(nsToUsFloor)))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** Events with `ts` as a microsecond-precision TimestampType. */
  def eventsTs(s: SparkSession, d: String): DataFrame =
    normalizeTs(eventsRaw(s, d))

  /** Canonicalize a date-valued column to TIMESTAMP_NTZ — the shape the
    * current fixture ships `o_orderdate`/`l_shipdate` in, so every branch
    * but the pass-through is dormant until the next regeneration. The
    * r10→r11 testdata regeneration silently re-typed these columns
    * (TIMESTAMP(NANOS)→NTZ, same drift that killed 7 event queries at plan
    * time); this is the [[normalizeTs]] pattern applied to them so the
    * NEXT flip — whichever direction — is a no-op instead of an outage:
    *  - TIMESTAMP_NTZ → canonical, untouched (today's fixture; the plan
    *    stays byte-identical, nothing to re-audit);
    *  - TimestampType → cast re-labels the same µs value (all engine
    *    sessions pin `spark.sql.session.timeZone=UTC`, so wall clock ==
    *    instant);
    *  - DateType → midnight NTZ, the exact values the current
    *    midnight-valued timestamp fixture carries;
    *  - LongType (TIMESTAMP(NANOS) read via [[loadTolerant]]'s
    *    `nanosAsLong`) → floor-div ns→µs ([[nsToUsFloorExpr]], DuckDB
    *    TIMESTAMP_NS cast semantics) → NTZ re-label under UTC.
    * Anything else is a fixture change we want to fail loudly on, naming
    * the table and column. */
  private[graft] def normalizeDate(df: DataFrame, c: String, table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case TimestampNTZType => df
      case TimestampType | DateType =>
        df.withColumn(c, col(c).cast(TimestampNTZType))
      case LongType =>
        df.withColumn(c,
          timestamp_micros(expr(nsToUsFloorExpr(c))).cast(TimestampNTZType))
      case other => throw new IllegalStateException(
        s"unexpected $table.$c type: $other — the testdata was regenerated " +
          "with a new physical type; extend Tables.normalizeDate (see the " +
          "normalizeTs precedent), then widen FixtureContractSpec")
    }
  }

  /** Lineitem with `l_shipdate` canonicalized ([[normalizeDate]]). */
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(
      canonicalTemporal("lineitem").foldLeft(loadTolerant(s, d, "lineitem"))(
        normalizeDate(_, _, "lineitem")),
      "lineitem")
  def documents(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(load(s, d, "documents"), "documents")

  /** Canonicalize the `embedding` column to `array<float>` — the shape every
    * fixture so far has shipped, and the type the native similarity kernels
    * ([[graft.functions.CosineSimilarity]], [[graft.functions.HyperplaneBits]]),
    * the [[graft.functions.VectorAvg]] encoder, and the IVF `getSeq[Float]`
    * reads bind to. A regeneration that writes the same values as
    * `array<double>` (a writer-default flip, the realistic drift — the
    * r10→r11 regeneration was exactly such a physical-type-only change)
    * would otherwise kill d14/d16/d21/d22/d34 at plan time:
    *  - `array<float>` → canonical, untouched (today's fixture; the plan
    *    stays byte-identical, nothing to re-audit);
    *  - `array<double>` → cast element-wise to float. EXACT for
    *    float-representable values, i.e. for any re-typed fixture whose
    *    generator still produces float32 data. If a future generator ships
    *    genuinely double-precision values, this down-cast perturbs cosine
    *    inputs by ~1e-7 relative and the 6-dp oracle compares (d14/d21/d34)
    *    fail loudly at the correctness gate — the signal to widen the native
    *    kernels to a double path rather than keep the cast.
    * Anything else is a fixture change we want to fail loudly on. */
  private[graft] def normalizeEmbedding(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(DoubleType, n) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType, n)))
      case other => throw new IllegalStateException(
        s"unexpected embeddings.embedding type: $other — the testdata was " +
          "regenerated with a new physical type; extend " +
          "Tables.normalizeEmbedding (see the normalizeTs precedent), then " +
          "widen FixtureContractSpec")
    }
  }

  /** Embeddings with `embedding` canonicalized ([[normalizeEmbedding]]). */
  def embeddings(s: SparkSession, d: String): DataFrame =
    normalizeNumeric(normalizeEmbedding(load(s, d, "embeddings")), "embeddings")

  /** Canonical scan dispatcher: every table through its drift-normalizing
    * loader (events → µs TimestampType `ts`, orders/lineitem → NTZ date
    * columns, embeddings → `array<float>`, and EVERY table through
    * [[normalizeNumeric]] for integer-width / decimal drift). This is
    * what view registration and
    * whole-catalog iteration should use so no code path consumes a raw
    * drifted physical type by accident. */
  def canonical(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events"     => eventsTs(s, d)
    case "orders"     => orders(s, d)
    case "lineitem"   => lineitem(s, d)
    case "embeddings" => embeddings(s, d)
    case "region"     => region(s, d)
    case "nation"     => nation(s, d)
    case "customer"   => customer(s, d)
    case "supplier"   => supplier(s, d)
    case "part"       => part(s, d)
    case "documents"  => documents(s, d)
    case other => throw new IllegalArgumentException(s"unknown table: $other")
  }
}
