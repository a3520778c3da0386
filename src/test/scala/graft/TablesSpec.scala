package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `Tables.normalizeTs` contract — the events fixture's physical
  * `ts` type has changed between harness rounds (TIMESTAMP(NANOS) read as
  * long through round 10, TIMESTAMP(MICROS)/NTZ from round 11), and the
  * round-11 regression (7 queries dead at plan time) was exactly a
  * hardcoded assumption about it. Every accepted shape must canonicalize
  * to the same µs-precision TimestampType instant; anything else must
  * fail loudly, not resolve to a wrong plan. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  // one pre-epoch and one post-epoch instant, non-zero sub-µs nanos on
  // both: the ns→µs path must FLOOR (DuckDB TIMESTAMP_NS→TIMESTAMP cast
  // semantics), which plain integer division gets wrong for negatives
  private val negNs = -1_000_000_001_500L // 1969-12-31, .5µs below a µs edge
  private val posNs = 1_700_000_000_123_456_789L
  private val posUs = 1_700_000_000_123_456L

  test("long (nanos) ts floors to µs, pre- and post-epoch") {
    val df = Seq(negNs, posNs).toDF("ts")
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    val micros = out.select(unix_micros(col("ts"))).as[Long].collect().sorted
    // floor(-1_000_001_500ns... ) — negNs/1000 truncates toward zero to
    // -1_000_000_001, one µs ABOVE the true floor -1_000_000_002
    assert(micros === Array(-1_000_000_002L, posUs))
  }

  test("property: ns→µs conversion equals BigInt floor division over random longs") {
    // deterministic ScalaCheck sampling (PropertySpec pattern — no
    // scalatest-plus bridge offline); full Long range is safe: any ns
    // value /1000 is well inside TimestampType's µs range
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.frequency(
      8 -> Gen.chooseNum(Long.MinValue + 1, Long.MaxValue),
      2 -> Gen.chooseNum(-3_000L, 3_000L)) // dense around the epoch edges
    val params = Gen.Parameters.default
    val ns = Iterator.iterate(Seed(7L))(_.next).take(500)
      .map(s => gen.pureApply(params, s)).toSeq ++
      Seq(-1L, 0L, 1L, -999L, -1000L, -1001L, 999L, 1000L, 1001L)
    val got = Tables.normalizeTs(ns.toDF("ts"))
      .select(unix_micros(col("ts"))).as[Long].collect()
    val want = ns.map(v =>
      (BigInt(v) - (((BigInt(v) % 1000) + 1000) % 1000)) / 1000)
    got.zip(want).zip(ns).foreach { case ((g, w), v) =>
      assert(BigInt(g) == w, s"ns=$v")
    }
  }

  test("timestamp_ntz ts re-labels the same µs value (UTC session)") {
    val df = Seq(posUs).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == posUs)
  }

  test("timestamp ts passes through untouched") {
    val df = Seq(posUs).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == posUs)
  }

  test("any other ts type fails loudly at plan-build time") {
    val df = Seq("2024-01-01").toDF("ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(df))
    assert(e.getMessage.contains("unexpected events.ts type"))
  }

  test("eventsTs on the real fixture yields µs TimestampType") {
    val out = Tables.eventsTs(spark, SparkFixture.sfDir)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(count(lit(1))).as[Long].head() > 0L)
  }

  // ---- normalizeDate: the same contract for o_orderdate / l_shipdate ----
  // (the r10→r11 regeneration re-typed these too; only ts was normalized
  // through round 12, so the next flip would have been an x-series outage)

  test("normalizeDate: timestamp_ntz passes through with the plan untouched") {
    val df = Seq(posUs).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("o_orderdate"))
    val out = Tables.normalizeDate(df, "o_orderdate", "orders")
    assert(out eq df) // byte-identical plan on the current fixture shape
  }

  test("normalizeDate: date becomes midnight NTZ") {
    val df = Seq("1995-03-17").toDF("s")
      .select(col("s").cast(DateType).as("l_shipdate"))
    val out = Tables.normalizeDate(df, "l_shipdate", "lineitem")
    assert(out.schema("l_shipdate").dataType == TimestampNTZType)
    assert(out.select(col("l_shipdate").cast("string")).as[String].head()
      == "1995-03-17 00:00:00")
  }

  test("normalizeDate: timestamp re-labels the same µs value (UTC session)") {
    val df = Seq(posUs).toDF("us")
      .select(timestamp_micros(col("us")).as("o_orderdate"))
    val out = Tables.normalizeDate(df, "o_orderdate", "orders")
    assert(out.schema("o_orderdate").dataType == TimestampNTZType)
    assert(out.select(col("o_orderdate").cast(TimestampType))
      .select(unix_micros(col("o_orderdate"))).as[Long].head() == posUs)
  }

  test("normalizeDate: long (nanos) floors to µs NTZ, pre- and post-epoch") {
    val df = Seq(negNs, posNs).toDF("o_orderdate")
    val out = Tables.normalizeDate(df, "o_orderdate", "orders")
    assert(out.schema("o_orderdate").dataType == TimestampNTZType)
    val micros = out.select(
      unix_micros(col("o_orderdate").cast(TimestampType))).as[Long].collect().sorted
    assert(micros === Array(-1_000_000_002L, posUs))
  }

  test("property: normalizeDate's ns→µs path equals BigInt floor division " +
      "over random longs (parameterized column expr)") {
    // the ts property test pins nsToUsFloor("ts"); this pins the
    // PARAMETERIZED expr the date path builds for an arbitrary column
    // name — a quoting or arithmetic regression there would only surface
    // under a NANOS-re-typed fixture otherwise
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.frequency(
      8 -> Gen.chooseNum(Long.MinValue + 1, Long.MaxValue),
      2 -> Gen.chooseNum(-3_000L, 3_000L))
    val params = Gen.Parameters.default
    val ns = Iterator.iterate(Seed(13L))(_.next).take(300)
      .map(s => gen.pureApply(params, s)).toSeq ++
      Seq(-1L, 0L, 1L, -999L, -1000L, -1001L, 999L, 1000L, 1001L)
    val got = Tables.normalizeDate(ns.toDF("o_orderdate"), "o_orderdate", "orders")
      .select(unix_micros(col("o_orderdate").cast(TimestampType)))
      .as[Long].collect()
    val want = ns.map(v =>
      (BigInt(v) - (((BigInt(v) % 1000) + 1000) % 1000)) / 1000)
    got.zip(want).zip(ns).foreach { case ((g, w), v) =>
      assert(BigInt(g) == w, s"ns=$v")
    }
  }

  test("normalizeDate: any other type fails loudly naming table.column") {
    val df = Seq("1995-03-17").toDF("o_orderdate")
    val e = intercept[IllegalStateException](
      Tables.normalizeDate(df, "o_orderdate", "orders"))
    assert(e.getMessage.contains("orders.o_orderdate"))
  }

  // ---- normalizeEmbedding: drift contract for embeddings.embedding ----
  // (the native similarity kernels and the VectorAvg encoder bind to
  // array<float>; a writer-level float->double regeneration would kill
  // d14/d16/d21/d22/d34 at plan time without this)

  test("normalizeEmbedding: array<float> passes through with the plan untouched") {
    val df = Seq(Seq(1.0f, 2.5f)).toDF("embedding")
    assert(Tables.normalizeEmbedding(df) eq df)
  }

  test("normalizeEmbedding: array<double> casts to float, exact for float-representable values") {
    val vals = Seq(Seq(1.0, 2.5, -0.125, 3.1f.toDouble))
    val out = Tables.normalizeEmbedding(vals.toDF("embedding"))
    // containsNull is preserved from the source (false here — Seq encoder)
    assert(out.schema("embedding").dataType == ArrayType(FloatType, containsNull = false))
    assert(out.as[Seq[Float]].head() == Seq(1.0f, 2.5f, -0.125f, 3.1f))
  }

  test("normalizeEmbedding: any other type fails loudly naming the column") {
    val df = Seq(Seq(1, 2)).toDF("embedding")
    val e = intercept[IllegalStateException](Tables.normalizeEmbedding(df))
    assert(e.getMessage.contains("embeddings.embedding"))
  }

  test("re-typed double embeddings fixture: d14/d21/d34 results are identical") {
    val real = SparkFixture.sfDir
    val qs = Seq("d14_cosine_topk", "d21_embedding_neardups",
      "d34_embedding_centroids")
    val want = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, real).collect().map(_.toString).sorted.toSeq).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_retype_embdouble")
    for (t <- Tables.names if t != "embeddings")
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$real/$t.parquet"))
    Tables.embeddings(spark, real)
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.parquet(tmp.resolve("embeddings.parquet").toString)
    for (q <- qs) {
      val got = SparkEntry.queries(q)(spark, tmp.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want(q), s"$q diverged under double-typed embeddings")
    }
  }

  // The end-to-end drift rehearsal the round-12 verdict prescribed: write
  // re-typed orders/lineitem fixtures (DATE, then tz-adjusted TIMESTAMP —
  // the two shapes a Spark-side regeneration can actually produce), point
  // the date-consuming flagship queries at them, and require bit-identical
  // results vs the real fixture. A drift is now a no-op, not an outage.
  test("re-typed orders/lineitem fixture: x11/x30/x33 results are identical") {
    val real = SparkFixture.sfDir
    val qs = Seq("x11_monthly_orders", "x30_asof_last_order", "x33_nearby_order_mass")
    val want = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, real).collect().map(_.toString).sorted.toSeq).toMap
    for (retype <- Seq("date", "timestamp")) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_retype_$retype")
      for (t <- Tables.names if t != "orders" && t != "lineitem")
        java.nio.file.Files.createSymbolicLink(
          tmp.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(s"$real/$t.parquet"))
      Tables.orders(spark, real)
        .withColumn("o_orderdate", col("o_orderdate").cast(retype))
        .write.parquet(tmp.resolve("orders.parquet").toString)
      Tables.lineitem(spark, real)
        .withColumn("l_shipdate", col("l_shipdate").cast(retype))
        .write.parquet(tmp.resolve("lineitem.parquet").toString)
      for (q <- qs) {
        val got = SparkEntry.queries(q)(spark, tmp.toString)
          .collect().map(_.toString).sorted.toSeq
        assert(got == want(q), s"$q diverged under $retype-typed fixture")
      }
    }
  }

  // ---- normalizeNumeric: the last un-armored physical surface (integer
  // widths, DECIMAL/float measures). A width flip breaks typed reads
  // (getLong → ClassCastException) and a decimal flip breaks Dataset
  // upcasts at analysis — both the same silent-outage class as the
  // r10→r11 timestamp drift.

  // normalizeNumeric iterates a table's FULL canonical column set (a
  // regeneration that DROPS a column should fail at the loader, not be
  // skipped), so these synthetic frames carry every numeric column.

  test("normalizeNumeric: canonical types pass through with the plan untouched") {
    val df = Seq((1L, 2, 2.5)).toDF("c_custkey", "c_nationkey", "c_acctbal")
    assert(Tables.normalizeNumeric(df, "customer") eq df)
  }

  test("normalizeNumeric: decimal measures cast back to double, exact for 2dp values") {
    val df = Seq((1L, 2, "123.45"), (2L, 3, "-0.29")).toDF("c_custkey", "c_nationkey", "s")
      .select(col("c_custkey"), col("c_nationkey"),
        col("s").cast(DecimalType(15, 2)).as("c_acctbal"))
    val out = Tables.normalizeNumeric(df, "customer")
    assert(out.schema("c_acctbal").dataType == DoubleType)
    assert(out.select("c_acctbal").as[Double].collect().sorted.toSeq ==
      Seq(-0.29, 123.45))
  }

  test("normalizeNumeric: float measures widen to double") {
    val df = Seq((1L, 2L, 1.5f)).toDF("event_id", "user_id", "value")
    val out = Tables.normalizeNumeric(df, "events")
    assert(out.schema("value").dataType == DoubleType)
    assert(out.select("value").as[Double].head() == 1.5)
  }

  test("normalizeNumeric: integer widths flip back to canonical, both directions") {
    val df = Seq((5, 7L, 2.5)).toDF("c_custkey", "c_nationkey", "c_acctbal") // widths flipped
    val out = Tables.normalizeNumeric(df, "customer")
    assert(out.schema("c_custkey").dataType == LongType)
    assert(out.schema("c_nationkey").dataType == IntegerType)
    assert(out.select("c_custkey", "c_nationkey").as[(Long, Int)].head() == ((5L, 7)))
  }

  test("normalizeNumeric: narrowing an out-of-range value fails loudly (ANSI), not wraps") {
    val df = Seq((1L, Long.MaxValue, 2.5)).toDF("c_custkey", "c_nationkey", "c_acctbal")
    val out = Tables.normalizeNumeric(df, "customer")
    val e = intercept[Exception](out.collect())
    assert(e.getMessage.contains("CAST_OVERFLOW") || e.getMessage.contains("overflow"),
      s"expected a loud ANSI overflow, got: ${e.getMessage}")
  }

  test("normalizeNumeric: a non-numeric physical type fails loudly naming table.column") {
    val df = Seq((1L, 2L, "oops")).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val e = intercept[IllegalStateException](Tables.normalizeNumeric(df, "orders"))
    assert(e.getMessage.contains("orders.o_totalprice"))
  }

  test("normalizeNumeric: a DROPPED canonical column fails at the loader, not silently skips") {
    val df = Seq((1L, 2.5)).toDF("c_custkey", "c_acctbal") // c_nationkey missing
    intercept[Exception](Tables.normalizeNumeric(df, "customer"))
  }

  // End-to-end: write DECIMAL(15,2)-measure and width-flipped fixtures
  // (the two realistic generator unifications) and require bit-identical
  // flagship results vs the real fixture. Every fixture measure value is
  // 2dp (verified via DuckDB: 0 rows where x <> 2dp-roundtrip), so the
  // decimal roundtrip is value-exact and identity is the right assertion.
  test("re-typed decimal-measure fixture: x1/x10 results are identical") {
    val real = SparkFixture.sfDir
    val qs = Seq("x1_revenue_by_nation", "x10_pricing_summary")
    val want = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, real).collect().map(_.toString).sorted.toSeq).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_retype_decimal")
    for (t <- Tables.names if t != "orders" && t != "lineitem")
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$real/$t.parquet"))
    Tables.orders(spark, real)
      .withColumn("o_totalprice", col("o_totalprice").cast(DecimalType(15, 2)))
      .write.parquet(tmp.resolve("orders.parquet").toString)
    Tables.lineitem(spark, real)
      .withColumn("l_extendedprice", col("l_extendedprice").cast(DecimalType(15, 2)))
      .withColumn("l_discount", col("l_discount").cast(DecimalType(15, 2)))
      .withColumn("l_quantity", col("l_quantity").cast(DecimalType(15, 2)))
      .withColumn("l_tax", col("l_tax").cast(DecimalType(15, 2)))
      .write.parquet(tmp.resolve("lineitem.parquet").toString)
    for (q <- qs) {
      val got = SparkEntry.queries(q)(spark, tmp.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want(q), s"$q diverged under decimal-measure fixture")
    }
  }

  test("re-typed width-flipped fixture: d1/d14 results are identical") {
    val real = SparkFixture.sfDir
    val qs = Seq("d1_dedup_groups", "d14_cosine_topk")
    val want = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, real).collect().map(_.toString).sorted.toSeq).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_retype_intflip")
    for (t <- Tables.names if t != "documents" && t != "embeddings")
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$real/$t.parquet"))
    Tables.documents(spark, real)
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
      .write.parquet(tmp.resolve("documents.parquet").toString)
    Tables.embeddings(spark, real)
      .withColumn("vec_id", col("vec_id").cast(IntegerType))
      .withColumn("label", col("label").cast(LongType))
      .write.parquet(tmp.resolve("embeddings.parquet").toString)
    for (q <- qs) {
      val got = SparkEntry.queries(q)(spark, tmp.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want(q), s"$q diverged under width-flipped fixture")
    }
  }

  test("canonical loaders emit the mapped canonical type for every column " +
      "in the canonical maps (the same maps generate the oracle prelude)") {
    // the maps are the single source of truth for BOTH sides of the gate;
    // this pins that the single-column normalizers (normalizeTs,
    // normalizeEmbedding — which bind their column by name) actually cover
    // every column the maps declare, so a map extension without a matching
    // normalizer can't silently leave the Spark side un-canonicalized
    val d = SparkFixture.sfDir
    val all = Tables.canonicalNumeric.keySet ++
      Tables.canonicalTemporal.keySet ++ Tables.canonicalEmbedding.keySet
    assert(all == Tables.names.toSet)
    for (t <- all) {
      val sch = Tables.canonical(spark, d, t).schema
      for ((c, dt) <- Tables.canonicalNumeric.getOrElse(t, Seq.empty))
        assert(sch(c).dataType == dt, s"$t.$c numeric")
      for (c <- Tables.canonicalTemporal.getOrElse(t, Seq.empty)) {
        // events.ts canonicalizes to the instant type, dates to NTZ; both
        // sides of the oracle compare meet at DuckDB TIMESTAMP under UTC
        val want = if (t == "events") TimestampType else TimestampNTZType
        assert(sch(c).dataType == want, s"$t.$c temporal")
      }
      for (c <- Tables.canonicalEmbedding.getOrElse(t, Seq.empty))
        assert(sch(c).dataType.asInstanceOf[ArrayType].elementType == FloatType,
          s"$t.$c embedding")
    }
  }

  test("schema cache: an in-place part-file overwrite re-infers the schema") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft_schema_cache")
    val target = root.resolve("t.parquet")
    val other = root.resolve("other.parquet")
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(target.toString)
    Seq("a", "b").toDF("y").coalesce(1).write.parquet(other.toString)
    assert(Tables.load(spark, root.toString, "t").schema.fieldNames.toSeq == Seq("x"))
    // the single part file and its checksum, overwritten IN PLACE (same
    // names), so the table directory's own mtime never moves
    def entry(dir: Path, crc: Boolean): Path = {
      val l = Files.list(dir)
      try l.toArray.map(_.asInstanceOf[Path]).filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet.crc") == crc && n.endsWith(".parquet") != crc
      }.toSeq match { case Seq(f) => f }
      finally l.close()
    }
    val dirMtime = Files.getLastModifiedTime(target)
    for (crc <- Seq(false, true))
      Files.write(entry(target, crc), Files.readAllBytes(entry(other, crc)))
    Files.setLastModifiedTime(target, dirMtime)
    val reloaded = Tables.load(spark, root.toString, "t")
    assert(reloaded.schema.fieldNames.toSeq == Seq("y"))
    assert(reloaded.as[String].collect().sorted.toSeq == Seq("a", "b"))
  }
}
