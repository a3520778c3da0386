package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Invariant tests per SURVEY.md §5.1 patterns: shape/domain/determinism/
  * bounds. The DuckDB-oracle harness (tools/selfcheck.py) is the
  * end-to-end correctness gate; these specs cover what SQL can't. */
class OperatorsSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def li = Tables.lineitem(spark, sfDir)
  private def ord = Tables.orders(spark, sfDir)
  private def cust = Tables.customer(spark, sfDir)
  private def docs = Tables.documents(spark, sfDir)

  test("D5 tf-idf: ranks contiguous per lang, scores non-negative and sorted, idf factoring exact") {
    val res = TextOps.tfidfTopTerms(docs, 5).collect()
    val byLang = res.groupBy(_.getAs[String]("lang"))
    byLang.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to rows.length))
      val scores = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("tfidf"))
      assert(scores.forall(_ >= 0.0))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // idf factoring: score == pround(total_tf * ln(N/df)) recomputed driver-side
    val n = docs.count().toDouble
    res.foreach { r =>
      val expect = math.floor(r.getAs[Long]("total_tf").toDouble *
        math.log(n / r.getAs[Long]("df").toDouble) * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("tfidf") == expect)
    }
  }

  test("V1: testdata has no nulls in lineitem") {
    val row = Validation.nullCounts(li).collect()(0)
    assert(row.toSeq.forall(_ == 0L))
  }

  test("V2: duplicate count is non-negative and zero for keyed table") {
    assert(Validation.duplicateRowCount(ord).collect()(0).getLong(0) == 0L)
  }

  test("V6: class balance within reference gates (0.05, 0.95)") {
    val rate = Validation.classBalance(ord, "o_orderstatus", "F").collect()(0).getDouble(0)
    assert(rate > 0.05 && rate < 0.95)
  }

  test("V6: NULL labels are skipped like pandas mean(), not counted as negatives") {
    import spark.implicits._
    // 2 positives, 2 negatives, 4 NULLs: pandas mean over observed = 0.5;
    // an otherwise(0.0) would have returned 0.25 (NULLs as negatives)
    val df = Seq(Option("F"), Option("F"), Option("O"), Option("O"),
      None, None, None, None).toDF("status")
    val rate = Validation.classBalance(df, "status", "F").collect()(0).getDouble(0)
    assert(rate == 0.5, s"got $rate")
  }

  test("V9/V10: undated rows are unmeasurable in time — excluded, not filed as late") {
    import spark.implicits._
    // all values identical: the distributions agree perfectly, psi = 0.
    // Undated rows previously landed in the late side (when/otherwise
    // sent NULL early to the otherwise branch), inflating q and making a
    // drift-free feed look drifted.
    val dated = (1 to 50).map(i =>
      (Option(java.sql.Date.valueOf(if (i % 2 == 0) "1997-01-01" else "1998-06-01")), 100.0))
    val undated = (1 to 50).map(_ => (Option.empty[java.sql.Date], 100.0))
    val df = (dated ++ undated).toDF("o_orderdate", "o_totalprice")
    val terms = Validation.psiDrift(df).collect()
    val na = terms.map(_.getAs[Long]("n_a")).sum
    val nb = terms.map(_.getAs[Long]("n_b")).sum
    assert(na == 25L && nb == 25L,
      s"undated rows must not count toward either side: n_a=$na n_b=$nb")
    assert(math.abs(terms.map(_.getAs[Double]("psi_term")).sum) < 1e-9)
  }

  test("F2: right-closed bucket totality — every value gets a label") {
    val bucketed = li.select(Features.rightClosedBucket(col("l_quantity"),
      Seq(0, 10, 20, 30, 40, 50), Seq("a", "b", "c", "d", "e")).as("bkt"))
    assert(bucketed.filter(col("bkt").isNull).count() == 0)
    // right-closed: value 10 → first bucket, 10.5 → second
    val probe = Seq(10.0, 10.5, 0.0, 51.0).toDF(spark)
    val labels = probe.select(Features.rightClosedBucket(col("v"),
      Seq(0, 10, 20, 30, 40, 50), Seq("a", "b", "c", "d", "e")).as("bkt"))
      .collect().map(_.getString(0)).toSeq
    assert(labels == Seq("a", "b", "nan", "nan"))
  }

  test("F5: z-score clip is idempotent") {
    val once = Features.zScoreClip(ord, "o_totalprice")
      .select(col("o_orderkey"), col("o_totalprice_clipped").as("o_totalprice"))
    val twice = Features.zScoreClip(once, "o_totalprice")
    // clipping already-clipped data with its own (tighter) stats can differ;
    // idempotence holds for re-clipping with the same bounds: verify all
    // values already inside mean±3σ of the clipped distribution stay put
    assert(twice.filter(col("o_totalprice_clipped") =!= col("o_totalprice")).count()
      <= once.count() / 100)
  }

  test("F8: sigmoid bounded in (0,1) and monotone") {
    val vals = Seq(-10.0, -1.0, 0.0, 1.0, 10.0).toDF(spark)
      .select(Features.sigmoid(col("v")).as("s")).collect().map(_.getDouble(0)).toSeq
    assert(vals.forall(v => v > 0.0 && v < 1.0))
    assert(vals == vals.sorted)
    assert(math.abs(vals(2) - 0.5) < 1e-12)
  }

  test("F3: approx quantile flag agrees with the exact form at test SF") {
    val exact = Features.quantileFlag(ord, "o_totalprice", 0.75)
      .filter(col("flag") === 1).count()
    val approx = Features.quantileFlagApprox(ord, "o_totalprice", 0.75)
      .filter(col("flag") === 1).count()
    val n = ord.count()
    assert(math.abs(exact - approx).toDouble / n < 0.01,
      s"exact=$exact approx=$approx n=$n")
  }

  test("M1: standard scale ddof=0 — scaled mean 0, population std 1") {
    val scaled = Preprocess.standardScale(cust, "c_acctbal", "z")
    val stats = scaled.agg(avg("z"), stddev_pop(col("z"))).collect()(0)
    assert(math.abs(stats.getDouble(0)) < 1e-9)
    assert(math.abs(stats.getDouble(1) - 1.0) < 1e-9)
  }

  test("M2: minmax scale bounded [0,1] with both extremes attained") {
    val mm = Preprocess.minMaxScale(ord, "o_totalprice", "m")
    val r = mm.agg(min("m"), max("m")).collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }

  test("M4: one-hot drop-first — at most one indicator set, first category all-zero") {
    val oh = Preprocess.oneHotDropFirst(cust, "c_mktsegment")
    val indCols = oh.columns.filter(_.startsWith("c_mktsegment_")).toSeq
    assert(indCols.size == 4) // 5 categories, first dropped
    val rowSum = oh.select(indCols.map(col).reduce(_ + _).as("s"))
    assert(rowSum.filter(col("s") > 1).count() == 0)
    val firstCat = oh.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(indCols.map(col).reduce(_ + _).as("s"))
    assert(firstCat.filter(col("s") =!= 0).count() == 0)
  }

  test("M4: over-cardinality column raises the named error, not a driver OOM") {
    // an id-like column (every value distinct) must trip the fit-time cap
    val e = intercept[IllegalArgumentException](
      Preprocess.oneHotDropFirst(
        cust.withColumn("cid", col("c_custkey").cast("string")), "cid",
        maxCategories = 50))
    assert(e.getMessage.contains("oneHotDropFirst('cid')"))
    // and the cap leaves the legitimate bounded-domain path untouched
    assert(Preprocess.oneHotDropFirst(cust, "c_mktsegment", maxCategories = 50)
      .columns.count(_.startsWith("c_mktsegment_")) == 4)
  }

  test("M5: columnTransform dispatches the configured scaler (SCALER_MAP contract)") {
    // reference feature_engineering.py:15-36 — standard | minmax | robust,
    // unknown values silently fall back to StandardScaler
    def zvals(method: String): Seq[Double] =
      Preprocess.columnTransform(cust, "c_custkey", Seq("c_acctbal"),
          Seq("c_mktsegment"), method)
        .orderBy("c_custkey").select("c_acctbal_z")
        .collect().map(_.getDouble(0)).toSeq
    def direct(f: (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.DataFrame): Seq[Double] =
      f(cust, "c_acctbal", "z").orderBy("c_custkey").select("z")
        .collect().map(_.getDouble(0)).toSeq
    assert(zvals("minmax") == direct(Preprocess.minMaxScale))
    assert(zvals("robust") == direct(Preprocess.robustScale))
    assert(zvals("standard") == direct(Preprocess.standardScale))
    assert(zvals("not_a_scaler") == zvals("standard"))
    // the one-hot half is method-independent
    assert(Preprocess.columnTransform(cust, "c_custkey", Seq("c_acctbal"),
      Seq("c_mktsegment"), "minmax").columns.count(_.startsWith("c_mktsegment_")) == 4)
  }

  test("M6/M7: stratified key split ~20% test per stratum; folds cover 0..4") {
    val split = Preprocess.stratifiedSplitByKey(cust, "c_custkey")
    val frac = split.filter(col("split") === "test").count().toDouble / cust.count()
    assert(frac > 0.15 && frac < 0.25)
    val folds = Preprocess.foldAssignByKey(cust, "c_custkey", 5)
      .select("fold").distinct().collect().map(_.getInt(0)).toSet
    assert(folds == Set(0, 1, 2, 3, 4))
  }

  test("M15: metrics bounded [0,1]; perfect classifier scores 1") {
    val m = Metrics.binaryMetrics(Metrics.labeledOrders(ord)).collect()(0)
    Seq("accuracy", "precision", "recall", "f1").foreach { c =>
      val v = m.getAs[Double](c); assert(v >= 0.0 && v <= 1.0, c)
    }
    import spark.implicits._
    val perfect = Seq((1, 1, 1.0, 1L), (0, 0, 2.0, 2L), (1, 1, 3.0, 3L))
      .toDF("y", "yhat", "o_totalprice", "o_orderkey")
    val pm = Metrics.binaryMetrics(perfect).collect()(0)
    assert(pm.getAs[Double]("f1") == 1.0 && pm.getAs[Double]("accuracy") == 1.0)
  }

  test("M15: AUC of a perfect ranker is 1, of an anti-ranker is 0") {
    import spark.implicits._
    val perfect = Seq((0, 0, 1.0, 1L), (0, 0, 2.0, 2L), (1, 0, 3.0, 3L), (1, 0, 4.0, 4L))
      .toDF("y", "yhat", "o_totalprice", "o_orderkey")
    assert(Metrics.aucRank(perfect).collect()(0).getDouble(0) == 1.0)
    val anti = Seq((1, 0, 1.0, 1L), (1, 0, 2.0, 2L), (0, 0, 3.0, 3L), (0, 0, 4.0, 4L))
      .toDF("y", "yhat", "o_totalprice", "o_orderkey")
    assert(Metrics.aucRank(anti).collect()(0).getDouble(0) == 0.0)
  }

  test("M15: midrank AUC — ties average (layout-independent), unique scores match the rank form") {
    import spark.implicits._
    // every score identical → AUC must be exactly 0.5 regardless of layout
    val allTied = Seq((1, 0, 5.0), (0, 0, 5.0), (1, 0, 5.0), (0, 0, 5.0))
      .toDF("y", "yhat", "o_totalprice")
    assert(Metrics.aucDistributedMidrank(allTied) == 0.5)
    // hand-computed tie case: scores [1,1,2], y [0,1,1];
    // midranks: score 1 → 1.5, score 2 → 3; AUC = (1.5+3 − 2·3/2)/(2·1) = 0.75
    val mixed = Seq((0, 0, 1.0), (1, 0, 1.0), (1, 0, 2.0))
      .toDF("y", "yhat", "o_totalprice")
    assert(Metrics.aucDistributedMidrank(mixed) == 0.75)
    // unique scores (deduped so no accidental price ties): midrank form
    // ≡ unique-key rank form
    val labeled = Metrics.labeledOrders(ord).dropDuplicates("o_totalprice")
    val viaRank = Metrics.aucDistributed(labeled)
    val viaMid = Metrics.aucDistributedMidrank(labeled)
    assert(math.abs(viaRank - viaMid) < 1e-12, s"$viaRank vs $viaMid")
  }

  test("M15: distributed AUC equals the windowed rank AUC exactly") {
    val labeled = Metrics.labeledOrders(ord)
    val windowed = Metrics.aucRank(labeled).collect()(0).getDouble(0)
    val distributed = Metrics.aucDistributed(labeled, partitions = 7)
    // windowed output is pround(6); compare at that precision
    assert(math.abs(windowed - math.floor(distributed * 1e6 + 0.5) / 1e6) == 0.0)
  }

  test("M17: champion is the argmax-f1 segment") {
    val champ = Metrics.championBySegment(ord, cust, 0.0).collect()
    assert(champ.length == 1)
    assert(champ(0).getAs[Double]("f1") >= 0.0)
  }

  test("M19: per-segment AUC equals the global rank AUC applied to each segment alone") {
    val res = Metrics.segmentAuc(ord, cust).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val auc = r.getAs[Double]("auc")
      assert(auc >= 0.0 && auc <= 1.0, r)
      // recompute this segment with the single-group aucRank
      val seg = r.getAs[String]("model")
      val labeled = ord.join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === seg)
        .select(when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
          lit(0).as("yhat"), col("o_totalprice"), col("o_orderkey"))
      val ref = Metrics.aucRank(labeled).collect()(0).getDouble(0)
      assert(auc == ref, s"segment $seg: $auc != $ref")
    }
  }

  test("M19: plan has NO single-partition window — rank is segment-partitioned") {
    val plan = Metrics.segmentAuc(ord, cust).queryExecution.executedPlan.toString
    // the Window's partition spec must mention the segment key; an empty
    // partition spec would be the aucRank global-rank shape
    assert(plan.contains("Window"))
    assert(plan.contains("windowspecdefinition(model"), plan.linesIterator
      .filter(_.contains("windowspecdefinition")).mkString("\n"))
  }

  test("M19: a single-class segment scores 0.0 (zero-division convention)") {
    import spark.implicits._
    val o = Seq((1L, 10L, "F", 5.0), (2L, 10L, "F", 7.0), (3L, 11L, "F", 9.0), (4L, 11L, "O", 3.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val c = Seq((10L, "ALLPOS"), (11L, "MIXED")).toDF("c_custkey", "c_mktsegment")
    val m = Metrics.segmentAuc(o, c).collect().map(r => r.getString(0) -> r.getAs[Double]("auc")).toMap
    assert(m("ALLPOS") == 0.0) // no negatives → zero-division → 0
    assert(m("MIXED") == 1.0)  // the positive outranks the negative
  }

  test("D5 surprisal: uniform-unique corpus scores ln(N); repetition scores lower") {
    import spark.implicits._
    val uniq = Seq((0L, "aa bb"), (1L, "cc dd")).toDF("doc_id", "text")
    val res = TextOps.unigramSurprisal(uniq).collect()
    // every token count 1 of 4 → -ln(1/4) quantized to micro, mean of equals
    val expected = math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6
    res.foreach(r => assert(r.getAs[Double]("surprisal") == expected, r))
    val mixed = Seq((0L, "x x x x"), (1L, "p q r s")).toDF("doc_id", "text")
    val byDoc = TextOps.unigramSurprisal(mixed).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("surprisal")).toMap
    assert(byDoc(0L) < byDoc(1L)) // repetitive doc is less surprising
  }

  test("D5 repetition ratio: known repeats score exactly; short docs excluded") {
    import spark.implicits._
    val df = Seq(
      (0L, "spam spam spam spam"),     // bigrams: 3 × "spam spam" → ratio 1
      (1L, "a b c d"),                 // 3 distinct bigrams → 1/3, tie → "a b"
      (2L, "one"),                     // < 2 tokens → excluded
      (3L, "x y x y x")               // "x y"×2, "y x"×2 → tie → "x y"
    ).toDF("doc_id", "text")
    val res = TextOps.repetitionRatio(df).collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("top_bigram"), r.getAs[Long]("top_n"),
        r.getAs[Long]("n_bigrams"), r.getAs[Double]("rep_ratio"))).toMap
    assert(!res.contains(2L))
    assert(res(0L) == (("spam spam", 3L, 3L, 1.0)))
    assert(res(1L)._1 == "a b" && res(1L)._4 == math.floor(1.0 / 3.0 * 1e6 + 0.5) / 1e6)
    assert(res(3L) == (("x y", 2L, 4L, 0.5)))
  }

  test("gap-fill: absent hours appear zero-counted with carried value mass") {
    import spark.implicits._
    val e = Seq(
      (1L, "click", 0L, 10.0), (2L, "click", 0L, 5.0),   // hour 0: mass 15.0
      (3L, "click", 3L, 7.0),                            // hour 3 (hours 1-2 gap)
      (4L, "view", 1L, 2.0))                             // view only at hour 1
      .toDF("event_id", "event_type", "h", "value")
      .select(col("event_id"), col("event_type"),
        timestamp_micros(col("h") * 3600L * 1000000L).as("ts"), col("value"))
    val rows = EventOps.gapFilledHourly(e).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("hour")
          .toEpochSecond(java.time.ZoneOffset.UTC) / 3600, r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // spine covers hours 0..3 × {click, view} = 8 rows
    assert(rows.size == 8)
    assert(rows((0, "click")) == ((2L, Some(15.0))))
    assert(rows((1, "click")) == ((0L, Some(15.0)))) // gap hour carries mass
    assert(rows((2, "click")) == ((0L, Some(15.0))))
    assert(rows((3, "click")) == ((1L, Some(7.0))))
    assert(rows((0, "view")) == ((0L, None)))        // nothing seen yet
    assert(rows((1, "view")) == ((1L, Some(2.0))))
    assert(rows((3, "view")) == ((0L, Some(2.0))))
  }

  test("D-series funnel: ORDER matters — presence without sequence does not convert") {
    import spark.implicits._
    val e = Seq(
      // user 1: full ordered funnel
      (1L, "signup", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: clicked BEFORE signup — click step must not count it
      (2L, "click", 5L), (2L, "signup", 10L), (2L, "purchase", 30L),
      // user 3: signup + click, no purchase
      (3L, "signup", 1L), (3L, "click", 2L),
      // user 4: purchase only — no funnel entry
      (4L, "purchase", 9L))
      .toDF("user_id", "event_type", "t0")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("t0") * 1000000L).as("ts"))
    val res = EventOps.funnelSteps(e, Seq("signup", "click", "purchase"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(res == Map("signup" -> 3L, "click" -> 2L, "purchase" -> 1L))
  }

  test("D-series cohort retention: cells count a cohort's distinct users per day offset") {
    import spark.implicits._
    val e = Seq(
      // user 1: first on day 0, active again day 0 (twice) and day 2
      (1L, 0L, 10L), (1L, 0L, 20L), (1L, 2L, 0L),
      // user 2: first on day 0, active day 1
      (2L, 0L, 99L), (2L, 1L, 0L),
      // user 3: first on day 1 — its OWN cohort, active day 3 (offset 2)
      (3L, 1L, 0L), (3L, 3L, 0L))
      .toDF("user_id", "day", "sec")
      .select(col("user_id"), timestamp_micros((col("day") * 86400L + col("sec")) * 1000000L).as("ts"))
    val res = EventOps.cohortRetention(e).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toLocalDate.toEpochDay,
        r.getAs[Long]("day_offset")) -> r.getAs[Long]("n_active")).toMap
    assert(res == Map(
      (0L, 0L) -> 2L,  // users 1,2 on their cohort day (dup events count once)
      (0L, 1L) -> 1L,  // user 2
      (0L, 2L) -> 1L,  // user 1
      (1L, 0L) -> 1L,  // user 3's own cohort
      (1L, 2L) -> 1L)) // user 3 on day 3
  }

  test("D1/D5 temperature mix: hand-computed weights, low-resource up-weighting, zero/NULL-mass quarantine") {
    import spark.implicits._
    def pr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val docs = Seq(
      (0L, "a", "big", Option(8000L)), (1L, "b", "small", Option(1000L)),
      (2L, "c", "empty", Option(0L)), (3L, "d", "nullsrc", Option.empty[Long]))
      .toDF("doc_id", "text", "source", "n_chars")
    val res = TextOps.temperatureMix(docs, 0.5).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // totals fold in sorted source order: big, empty, nullsrc, small —
    // pow(0) = 0 and a NULL mass counts as 0, so the denominator is
    // sqrt(8000) + sqrt(1000)
    val tp = math.sqrt(8000.0) + math.sqrt(1000.0)
    assert(res("big").getAs[Double]("weight") == pr6(math.sqrt(8000.0) / tp))
    assert(res("small").getAs[Double]("weight") == pr6(math.sqrt(1000.0) / tp))
    assert(res("big").getAs[Double]("raw_share") == pr6(8000.0 / 9000.0))
    // the mixing rule's whole point: the low-resource source's weight
    // rises above its raw share, the big one's falls below
    assert(res("small").getAs[Double]("weight") > pr6(1000.0 / 9000.0))
    assert(res("big").getAs[Double]("weight") < pr6(8000.0 / 9000.0))
    // effective epochs: big repeats weight·total/mass times per mixed epoch
    assert(res("big").getAs[Double]("effective_epochs") ==
      pr6(math.sqrt(8000.0) / tp * 9000.0 / 8000.0))
    // zero- and NULL-mass sources are quarantined (NULL derived columns,
    // never 0/0 NaN), but stay visible as mixture components
    for (s <- Seq("empty", "nullsrc"); c <- Seq("raw_share", "weight", "effective_epochs"))
      assert(res(s).isNullAt(res(s).fieldIndex(c)), s"$s.$c must be NULL")
    // T = 1 is proportional sampling: weight == raw_share exactly
    val t1 = TextOps.temperatureMix(docs, 1.0).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(t1("big").getAs[Double]("weight") == t1("big").getAs[Double]("raw_share"))
    // deterministic under any layout (driver fold in sorted order)
    val again = TextOps.temperatureMix(docs.repartition(7), 0.5).collect()
    assert(again.map(_.toString).toSeq ==
      TextOps.temperatureMix(docs, 0.5).collect().map(_.toString).toSeq)
    assertThrows[IllegalArgumentException](TextOps.temperatureMix(docs, 0.0))
  }

  test("D1/D5 hash split: content-addressed, duplicate-safe, NULL-quarantined, fences honored") {
    import spark.implicits._
    val planted = Seq(
      (0L, "alpha"), (1L, "beta"), (2L, "alpha"),         // 2 copies of "alpha"
      (3L, null.asInstanceOf[String]))                    // no content to address
      .toDF("doc_id", "text")
    val res = TextOps.hashSplit(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("split"))).toMap
    // exact duplicates land in the SAME split — the no-leak property
    assert(res(0L) == res(2L) && res(0L).isDefined)
    assert(res(3L).isEmpty, "NULL text must quarantine (NULL split), not default to a bucket")
    // pure function of content: a re-run and a re-partitioned run agree
    val again = TextOps.hashSplit(planted.repartition(7)).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("split"))).toMap
    assert(again == res)
    // fences: the real corpus lands ≈80/10/10 and every split is populated
    val corpus = TextOps.hashSplit(Tables.documents(spark, SparkFixture.sfDir))
      .groupBy(col("split")).count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    val n = corpus.values.sum.toDouble
    assert(corpus.keySet == Set("train", "val", "test"))
    assert(corpus("train") / n > 0.70 && corpus("train") / n < 0.90, corpus)
    assert(corpus("val") > 0 && corpus("test") > 0)
    // custom fences must partition 0..255
    assertThrows[IllegalArgumentException](TextOps.hashSplit(planted, 200, 56))
  }

  test("D1/D5 component split: near-dup members take the representative's split; singletons match hashSplit") {
    import spark.implicits._
    // own-text splits (md5 fences): "doc0" → val, "doc1" → train,
    // "doc21" → test — chosen so member 0's own split DIFFERS from its
    // representative's, making the co-split assertion non-vacuous
    val docs = Seq((0L, "doc0"), (1L, "doc1"), (21L, "doc21"))
      .toDF("doc_id", "text")
    val comps = Seq((0L, 0L), (1L, 0L), (21L, 21L)).toDF("id", "comp")
    val out = TextOps.componentSplit(docs, comps).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[String]("split"))).toMap
    // both members of component 0 take the REPRESENTATIVE's (doc 0) split
    assert(out(0L) == ((0L, "val")))
    assert(out(1L) == ((0L, "val")),
      "a near-dup member must co-split with its representative, not its own hash")
    // the singleton is its own representative — identical to hashSplit
    assert(out(21L) == ((21L, "test")))
    val own = TextOps.hashSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(own(1L) == "train", "fixture must exercise a member whose own split differs")
    assert(out(21L)._2 == own(21L))
    // a stale/externally-built components relation pointing at a rep
    // ABSENT from docs keeps the member with a NULL split (quarantine
    // signal), never a silent row drop; a NULL-id document has no
    // identity in a grouped split and stays dropped
    val hostile = Seq((0L, Option("doc0")), (1L, Option("doc1")),
      (99L, Option.empty[String])).toDF("doc_id", "text")
      .union(Seq((Option.empty[Long], Option("orphan"))).toDF("doc_id", "text"))
    val staleComps = Seq((1L, 777L)).toDF("id", "comp") // rep 777 not in docs
    val hout = TextOps.componentSplit(hostile, staleComps).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), Option(r.getAs[String]("split")))).toMap
    assert(hout.keySet == Set(0L, 1L, 99L), "NULL-id row must drop; stale-rep member must stay")
    assert(hout(1L) == ((777L, None)), "missing representative must surface as NULL split")
    assert(hout(99L)._2.isEmpty, "NULL text stays quarantined through the rep path")
    assert(hout(0L)._2.contains("val"))
  }

  test("D5 epoch shuffle: ranks are a 1..N permutation, layout-invariant, seed-keyed to the md5 spec") {
    val docs = Tables.documents(spark, SparkFixture.sfDir)
    val n = docs.where(col("doc_id").isNotNull).count()
    val s17 = TextOps.epochShuffle(docs, 17).collect()
    assert(s17.map(_.getLong(0)).toSeq == (1L to n), "ranks must be exactly 1..N")
    // reproducible under any partition layout (the replay contract)
    val s17b = TextOps.epochShuffle(docs.repartition(7), 17).collect()
    assert(s17.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      s17b.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // a different seed is a different permutation (new epoch, new order)
    val s18 = TextOps.epochShuffle(docs, 18).collect()
    assert(s17.map(_.getLong(1)).toSeq != s18.map(_.getLong(1)).toSeq)
    // the key IS md5("<seed>:<doc_id>") — pin the cross-engine spec
    val k0 = s17.find(_.getLong(1) == 0L).get.getString(2)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("17:0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(k0 == expected)
  }

  test("D5 epoch-packed sequences: the permutation drives the packing; a new seed repacks the SAME chunk multiset; replay is layout-invariant") {
    val docs = Tables.documents(spark, SparkFixture.sfDir)
    val a = TextOps.epochPackedSequences(docs, 17).collect()
    assert(a.nonEmpty)
    // deterministic replay under any partition layout (both parents are
    // layout-invariant and RNG-free — the data-loader reproducibility
    // contract)
    val b = TextOps.epochPackedSequences(docs.repartition(7), 17).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // a different seed is a different epoch: different packing...
    val c = TextOps.epochPackedSequences(docs, 18).collect()
    assert(a.map(_.getAs[String]("chunk_ids")).toSeq !=
      c.map(_.getAs[String]("chunk_ids")).toSeq)
    // ...over the SAME chunks — a shuffle permutes, never drops or dups
    def chunks(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.flatMap(_.getAs[String]("chunk_ids").split(",")).toSeq.sorted
    assert(chunks(a) == chunks(c))
    // token mass conserved vs the id-ordered d41 packing (same chunk set)
    val d41Mass = TextOps.packChunks(TextOps.chunkDocs(docs)).collect()
      .map(_.getAs[Long]("total_tokens")).sum
    assert(a.map(_.getAs[Long]("total_tokens")).sum == d41Mass)
    // pack groups follow the PERMUTATION: group 0's documents are the
    // first 50 ranks of the epoch order, not the first 50 doc ids
    val rank = TextOps.epochShuffle(docs, 17).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val grp0Docs = a.filter(_.getAs[Long]("seq_id") < 1000000L)
      .flatMap(_.getAs[String]("chunk_ids").split(","))
      .map(s => s.split(":")(0).toLong).distinct
    assert(grp0Docs.nonEmpty && grp0Docs.forall(d => rank(d) <= 50L),
      "pack group 0 must hold the epoch order's first 50 documents")
  }

  test("V9 PSI: identical slices score ~0, shifted slices score high") {
    import spark.implicits._
    def mk(rows: Seq[(Double, String)]) = rows.zipWithIndex
      .map { case ((p, d), i) => (i.toLong, p, d) }
      .toDF("o_orderkey", "o_totalprice", "d0")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("d0").cast("timestamp").as("o_orderdate"))
    // same price distribution on both sides of the split → PSI ≈ 0
    val flat = mk((0 until 100).map(i =>
      (i % 10 * 50000.0 + 1000.0, if (i < 50) "1997-01-01" else "1999-01-01")))
    val psiFlat = Validation.psiDrift(flat).collect().map(_.getAs[Double]("psi_term")).sum
    assert(math.abs(psiFlat) < 0.01, psiFlat)
    // early mass in low bins, late mass in high bins → large PSI
    val shifted = mk((0 until 100).map(i =>
      if (i < 50) (1000.0, "1997-01-01") else (450000.0, "1999-01-01")))
    val psiShift = Validation.psiDrift(shifted).collect().map(_.getAs[Double]("psi_term")).sum
    assert(psiShift > 1.0, psiShift)
    // real data: every term finite, bins cover all rows
    val real = Validation.psiDrift(ord).collect()
    assert(real.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum == ord.count())
    assert(real.forall(r => !r.getAs[Double]("psi_term").isNaN))
  }

  test("V10 PSI sweep: covers every watched column, partitions rows, flags only the drifted column") {
    import spark.implicits._
    // two columns over a synthetic table: `stable` has the same distribution
    // on both sides of the split, `drifted` moves all its mass
    val df = (0 until 200).map { i =>
      val early = i < 100
      (i.toLong,
        (i % 10) * 10.0 + 1.0,                        // stable: same both sides
        if (early) 5.0 else 95.0,                     // drifted: low → high
        if (early) "1997-01-01" else "1999-01-01")
    }.toDF("id", "stable", "drifted", "d0")
      .select(col("id"), col("stable"), col("drifted"),
        col("d0").cast("timestamp").as("t"))
    val res = Validation.psiByColumn(df, "t", "1998-01-01",
      Map("stable" -> 10.0, "drifted" -> 10.0)).collect()
    val byCol = res.groupBy(_.getAs[String]("column_name"))
    assert(byCol.keySet == Set("stable", "drifted"))
    // each column's bins partition all 200 rows
    byCol.foreach { case (_, rows) =>
      assert(rows.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum == 200L)
    }
    val psi = byCol.view.mapValues(_.map(_.getAs[Double]("psi_term")).sum).toMap
    assert(math.abs(psi("stable")) < 0.01, psi)
    assert(psi("drifted") > 1.0, psi)
    // real data: finite terms, deterministic ordering by (column, bin)
    val real = Validation.psiByColumn(li, "l_shipdate", "1995-06-01",
      Map("l_quantity" -> 5.0, "l_discount" -> 0.01)).collect()
    assert(real.forall(r => !r.getAs[Double]("psi_term").isNaN))
    val keys = real.map(r => (r.getAs[String]("column_name"), r.getAs[Long]("bin")))
    assert(keys.sameElements(keys.sortBy(identity)))
  }

  test("D1/D5 domain mix: rates 1/0 keep all/none, fractional rates are deterministic and ~proportional") {
    import spark.implicits._
    val planted = (0L until 1000L).map(i =>
      (i, s"doc $i", "en", if (i % 2 == 0) "keep_all" else "keep_none", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = TextOps.domainMix(planted,
        Map("keep_all" -> 1.0, "keep_none" -> 0.0)).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_keep"), r.getAs[Long]("kept_chars"))).toMap
    assert(res("keep_all") == ((500L, 500L, 5000L)))
    assert(res("keep_none") == ((500L, 0L, 0L)))
    // real corpus: deterministic across runs, keep <= total, default keeps all
    val r1 = TextOps.domainMix(docs, Map("src1" -> 0.5)).collect()
    val r2 = TextOps.domainMix(docs, Map("src1" -> 0.5)).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    r1.foreach { r =>
      val (total, keep) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_keep"))
      assert(keep <= total)
      if (r.getAs[String]("source") != "src1") assert(keep == total)
    }
  }

  test("D5 lexical diversity: exact ratios, all-unique = 1, all-same = 1/n") {
    import spark.implicits._
    val df = Seq((0L, "a b c d"), (1L, "x x x x"), (2L, "y")).toDF("doc_id", "text")
    val res = TextOps.lexicalDiversity(df).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
        r.getAs[Double]("ttr"))).toMap
    assert(res(0L) == ((4L, 4L, 1.0)))
    assert(res(1L) == ((4L, 1L, 0.25)))
    assert(res(2L) == ((1L, 1L, 1.0)))
  }

  test("D5 chunking: windows cover all tokens, overlap by chunk-stride, tails kept") {
    import spark.implicits._
    val words = (0 until 95).map(i => s"w$i")
    val df = Seq((7L, words.mkString(" ")), (8L, "solo")).toDF("doc_id", "text")
    val res = TextOps.chunkDocs(df, chunkTokens = 50, stride = 40).collect()
    val doc7 = res.filter(_.getLong(0) == 7L).sortBy(_.getLong(1))
    // starts 0, 40, 80 → lengths 50, 50, 15
    assert(doc7.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L))
    assert(doc7.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(50L, 50L, 15L))
    // chunk hash equals the hash of the expected token span
    val expectHash = java.security.MessageDigest.getInstance("MD5")
      .digest(words.slice(40, 90).mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(doc7(1).getAs[String]("chunk_hash") == expectHash)
    val doc8 = res.filter(_.getLong(0) == 8L)
    assert(doc8.length == 1 && doc8(0).getAs[Long]("n_chunk_tokens") == 1L)
  }

  test("D5 packing: hand case — next-fit boundaries, dense seq ids, oversize-alone") {
    import spark.implicits._
    val chunks = Seq(
      (0L, 0L, 4L), (0L, 1L, 4L), (1L, 0L, 4L), (1L, 1L, 4L),
      (2L, 0L, 9L), (3L, 0L, 2L), (3L, 1L, 10L))
      .toDF("doc_id", "chunk_id", "n_chunk_tokens")
    val res = TextOps.packChunks(chunks, budget = 10, docsPerGroup = 100)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_chunks"),
        r.getAs[String]("chunk_ids"), r.getAs[Long]("total_tokens")))
    assert(res.toSeq == Seq(
      (0L, 2L, "0:0,0:1", 8L),   // 4+4, next 4 overflows
      (1L, 2L, "1:0,1:1", 8L),
      (2L, 1L, "2:0", 9L),       // 9+2 overflows
      (3L, 1L, "3:0", 2L),       // 2+10 overflows
      (4L, 1L, "3:1", 10L)))     // exactly at budget
  }

  test("D5 packing: a group exceeding seqStride sequences fails loudly instead of colliding seq_ids") {
    import spark.implicits._
    // one group, 3 chunks, each filling a whole sequence → seq indexes
    // 0,1,2; seqStride = 2 means seq 2 would collide into grp 1's id space
    val chunks = Seq((0L, 0L, 10L), (0L, 1L, 10L), (0L, 2L, 10L))
      .toDF("doc_id", "chunk_id", "n_chunk_tokens")
    val e = intercept[Exception] {
      TextOps.packChunks(chunks, budget = 10, docsPerGroup = 100, seqStride = 2L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("seqStride")), e.toString)
    // and the same data is fine one notch up
    assert(TextOps.packChunks(chunks, budget = 10, docsPerGroup = 100,
      seqStride = 3L).count() == 3L)
  }

  test("D5 packing: a chunk with a NULL or non-positive token count raises a named error") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // two zero-token chunks in group 1: the composed fold returned seq_id
    // 999999, inside group 0's id range, plus a phantom empty sequence
    val zero = Seq((0L, 0L, Option(4L)), (100L, 0L, Option(0L)), (100L, 1L, Option(0L)))
    // a NULL count: the composed fold returned seq_id -1 with NULL tokens
    val nul = Seq((0L, 0L, Option(4L)), (1L, 0L, Option.empty[Long]))
    for ((rows, shown) <- Seq(zero -> "100:0 in grp 1 has n_chunk_tokens 0",
                              nul -> "1:0 in grp 0 has n_chunk_tokens NULL")) {
      val e = intercept[Exception] {
        TextOps.packChunks(rows.toDF("doc_id", "chunk_id", "n_chunk_tokens"),
          budget = 10, docsPerGroup = 100).collect()
      }
      assert(messages(e).exists(_.contains(shown)), e.toString)
    }
  }

  test("D5 packing: no chunk lost, no sequence over budget, fill floor, group isolation, determinism") {
    val chunks = TextOps.chunkDocs(docs)
    val nChunks = chunks.count()
    val packed = TextOps.packChunks(chunks).collect()
    // every chunk lands in exactly one sequence
    assert(packed.map(_.getAs[Long]("n_chunks")).sum == nChunks)
    val allRefs = packed.flatMap(_.getAs[String]("chunk_ids").split(","))
    assert(allRefs.length == nChunks && allRefs.distinct.length == nChunks)
    // chunk tokens are <= 50 <= budget, so no sequence may exceed budget
    assert(packed.forall(_.getAs[Long]("total_tokens") <= 512L))
    // fill floor: every sequence except the LAST of its group must be too
    // full to accept the next chunk (<= 50 tokens) — next-fit guarantee
    packed.groupBy(_.getAs[Long]("seq_id") / 1000000L).values.foreach { g =>
      g.sortBy(_.getAs[Long]("seq_id")).dropRight(1).foreach { r =>
        assert(r.getAs[Long]("total_tokens") > 512L - 50L, r)
      }
    }
    // sequences never cross pack groups: all chunk doc_ids within a
    // sequence fall in the sequence's group id range
    packed.foreach { r =>
      val grp = r.getAs[Long]("seq_id") / 1000000L
      r.getAs[String]("chunk_ids").split(",").map(_.split(":")(0).toLong)
        .foreach(d => assert(d / 50 == grp, r))
    }
    // layout-independence: packing a repartitioned input is identical
    val shuffled = TextOps.packChunks(chunks.repartition(13)).collect()
    assert(shuffled.map(_.toString).toSeq == packed.map(_.toString).toSeq)
  }

  test("D5 PII scrub: planted email/phone/IP are counted and redacted; clean docs hash unchanged") {
    import spark.implicits._
    val dirty = "contact bob.smith+x@corp-mail.co.uk or 555-123-4567 at 10.0.255.1 now"
    val clean = "no pii here just text"
    val df = Seq((1L, dirty), (2L, clean)).toDF("doc_id", "text")
    val res = TextOps.piiScrub(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = res(1L)
    assert(r1.getAs[Long]("n_emails") == 1L)
    assert(r1.getAs[Long]("n_phones") == 1L)
    assert(r1.getAs[Long]("n_ips") == 1L)
    val expectScrubbed = "contact <EMAIL> or <PHONE> at <IP> now"
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r1.getAs[Long]("scrubbed_len") == expectScrubbed.length.toLong)
    assert(r1.getAs[String]("scrubbed_hash") == hex(expectScrubbed))
    val r2 = res(2L)
    assert(r2.getAs[Long]("n_emails") == 0L && r2.getAs[Long]("n_phones") == 0L &&
      r2.getAs[Long]("n_ips") == 0L)
    assert(r2.getAs[String]("scrubbed_hash") == hex(clean))
  }

  test("M20 calibration: bins partition all rows, mean_score within bin bounds, monotone") {
    val res = Metrics.calibrationBins(ord).collect()
    assert(res.map(_.getAs[Long]("n")).sum == ord.count())
    res.foreach { r =>
      val bin = r.getAs[Long]("bin"); val ms = r.getAs[Double]("mean_score")
      val frac = r.getAs[Double]("frac_pos")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(ms >= bin / 10.0 - 1e-9 && ms <= (bin + 1) / 10.0 + 1e-9 ||
        bin == 9L && ms <= 1.0, r)
    }
    val bins = res.map(_.getAs[Long]("bin")).toSeq
    assert(bins == bins.sorted && bins.distinct == bins)
  }

  test("M17: bounded-memory exactMedian is bit-identical to the percentile aggregate") {
    import spark.implicits._
    // real data (even row count at this SF) across several partition counts
    val viaAgg = ord.agg(expr("percentile(o_totalprice, 0.5)")).collect()(0).getDouble(0)
    Seq(1, 3, 7, 32).foreach { p =>
      assert(Metrics.exactMedian(ord, "o_totalprice", p) == viaAgg, s"partitions=$p")
    }
    // odd and even synthetic sets, including duplicate middle values
    val odd = Seq(5.0, 1.0, 9.0, 3.0, 7.0).map(Tuple1(_)).toDF("v")
    assert(Metrics.exactMedian(odd, "v", 4) == 5.0)
    val even = Seq(4.0, 1.0, 2.0, 3.0).map(Tuple1(_)).toDF("v")
    assert(Metrics.exactMedian(even, "v", 4) == 2.5)
    val dup = Seq(2.0, 2.0, 2.0, 8.0).map(Tuple1(_)).toDF("v")
    assert(Metrics.exactMedian(dup, "v", 2) == 2.0)
  }

  test("F3: bounded-memory exactPercentile is bit-identical to the percentile aggregate at any q") {
    import spark.implicits._
    Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0).foreach { q =>
      val viaAgg = ord.agg(expr(s"percentile(o_totalprice, $q)"))
        .collect()(0).getDouble(0)
      Seq(1, 3, 7, 32).foreach { p =>
        assert(Metrics.exactPercentile(ord, "o_totalprice", q, p) == viaAgg,
          s"q=$q partitions=$p")
      }
    }
    // non-integral interpolation position on a synthetic set:
    // pos = 4·0.6 = 2.4 → 0.6·v[2] + 0.4·v[3] on sorted [1,2,3,4,5]
    val syn = Seq(5.0, 1.0, 4.0, 2.0, 3.0).map(Tuple1(_)).toDF("v")
    val viaAggSyn = syn.agg(expr("percentile(v, 0.6)")).collect()(0).getDouble(0)
    assert(Metrics.exactPercentile(syn, "v", 0.6, 3) == viaAggSyn)
  }

  test("exactPercentiles: multi-q from one layout matches the in-plan aggregate; None iff no finite values") {
    import spark.implicits._
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
    val multi = Metrics.exactPercentiles(ord, "o_totalprice", qs, 7).get
    qs.foreach { q =>
      val viaAgg = ord.agg(expr(s"percentile(o_totalprice, $q)")).collect()(0).getDouble(0)
      assert(multi(q) == viaAgg, s"q=$q")
    }
    // the fit domain is finite-only: NULL/NaN/±Inf carry no rank
    val dirty = Seq(Some(1.0), Some(Double.NaN), None,
      Some(Double.PositiveInfinity), Some(3.0)).map(Tuple1(_)).toDF("v")
    assert(Metrics.exactPercentiles(dirty, "v", Seq(0.5), 3).get(0.5) == 2.0)
    // no finite values → None (the in-plan aggregate's NULL convention)
    val allDirty = dirty.filter(isnan(col("v")) || col("v").isNull)
    assert(Metrics.exactPercentiles(allDirty, "v", Seq(0.5), 3).isEmpty)
  }

  test("M3: bounded-memory robustScale is bit-identical to the in-plan percentile form") {
    import spark.implicits._
    val s = cust.agg(
      expr("percentile(c_acctbal, 0.25)").as("q1"),
      expr("percentile(c_acctbal, 0.5)").as("med"),
      expr("percentile(c_acctbal, 0.75)").as("q3")).collect()(0)
    val (q1, med, q3) = (s.getDouble(0), s.getDouble(1), s.getDouble(2))
    Preprocess.robustScale(cust, "c_acctbal", "rs")
      .select(col("c_acctbal").cast("double"), col("rs")).collect().foreach { r =>
        val expect = (r.getDouble(0) - med) / (if (q3 == q1) 1.0 else q3 - q1)
        assert(r.getDouble(1) == expect)
      }
    // constant column → x − median = 0.0 (sklearn _handle_zeros_in_scale:
    // zero IQR divides by 1.0, it does NOT pin the output to 0); a NULL row
    // stays NULL like in the nonzero-IQR branch
    val const = Seq(Some(2.0), Some(2.0), None).map(Tuple1(_)).toDF("v")
    val constOut = Preprocess.robustScale(const, "v", "rs").select("rs").collect()
    assert(constOut.count(!_.isNullAt(0)) == 2 &&
      constOut.filter(!_.isNullAt(0)).forall(_.getDouble(0) == 0.0) &&
      constOut.count(_.isNullAt(0)) == 1)
    // zero IQR with spread: [0,5,5,5,5,10] has q1=med=q3=5 but real spread —
    // sklearn centers (x − 5), it does not zero the column
    val spread = Seq(0.0, 5.0, 5.0, 5.0, 5.0, 10.0).map(Tuple1(_)).toDF("v")
    assert(Preprocess.robustScale(spread, "v", "rs")
      .select("v", "rs").collect()
      .forall(r => r.getDouble(1) == r.getDouble(0) - 5.0))
    // no finite fit values → NULL statistics → every scaled value NULL
    val allNull = Seq(Option.empty[Double], Some(Double.NaN)).map(Tuple1(_)).toDF("v")
    assert(Preprocess.robustScale(allNull, "v", "rs").select("rs")
      .collect().forall(_.isNullAt(0)))
  }

  test("D25: histogram lengthQuantiles is bit-identical to the in-plan per-group percentile form") {
    import spark.implicits._
    val exp = docs.groupBy(col("lang")).agg(
      expr("percentile(n_chars, 0.25)").as("p25_chars"),
      expr("percentile(n_chars, 0.5)").as("p50_chars"),
      expr("percentile(n_chars, 0.75)").as("p75_chars"),
      (expr("percentile(n_chars, 0.75)") - expr("percentile(n_chars, 0.25)")).as("iqr_chars"),
      count(lit(1)).as("n_docs"))
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val got = TextOps.lengthQuantiles(docs).collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val e = exp(r.getAs[String]("lang"))
      Seq("p25_chars", "p50_chars", "p75_chars", "iqr_chars").foreach { c =>
        assert(r.getAs[Double](c) == e.getAs[Double](c),
          s"${r.getAs[String]("lang")} $c")
      }
      assert(r.getAs[Long]("n_docs") == e.getAs[Long]("n_docs"))
    }
    // NULL n_chars joins no rank but still counts in n_docs; an all-NULL
    // group reports NULL quantiles (the aggregate's convention)
    val syn = Seq(("en", Option(10)), ("en", Option(20)), ("en", None),
      ("xx", None)).toDF("lang", "n_chars")
    val bySyn = TextOps.lengthQuantiles(syn).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(bySyn("en").getAs[Double]("p50_chars") == 15.0)
    assert(bySyn("en").getAs[Long]("n_docs") == 3L)
    assert(bySyn("xx").isNullAt(bySyn("xx").fieldIndex("p50_chars")))
    assert(bySyn("xx").getAs[Long]("n_docs") == 1L)
  }

  test("M18: declared distributed AUC form equals the windowed oracle form; plan has no window") {
    val labeled = Metrics.labeledOrders(ord)
    val declared = Metrics.aucRankDistributed(labeled, partitions = 7)
    val windowed = Metrics.aucRank(labeled).collect()(0).getDouble(0)
    assert(declared.collect()(0).getDouble(0) == windowed)
    assert(!declared.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("x32: EXISTS plans as a semi join, no row multiplication") {
    val res = RelationalExt.existsBigSpenders(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.linesIterator.take(8).mkString("\n"))
    // semi-join: each customer at most once
    val keys = res.collect().map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
  }

  test("x33: RANGE frame counts value-distance peers, not row-distance") {
    import spark.implicits._
    // one customer, days 0, 10, 45: ±30 frame pairs (0,10) and (10,45)? no —
    // |0-45|=45 > 30, |10-45|=35 > 30, |0-10|=10 ≤ 30
    val df = Seq((1L, 100L, "1970-01-01", 100.0), (2L, 100L, "1970-01-11", 200.0),
      (3L, 100L, "1970-02-15", 400.0))
      .toDF("o_orderkey", "o_custkey", "d0", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        col("d0").cast("date").as("o_orderdate"), col("o_totalprice"))
    df.createOrReplaceTempView("x33_probe")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("d")).rangeBetween(-30, 30)
    val out = df.select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        col("o_totalprice"))
      .select(col("o_orderkey"), count(lit(1)).over(w).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("x17: range-partitioned quartiles are bit-identical to the windowed ntile") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    val windowed = ord
      .select(ntile(4).over(w).cast("long").as("quartile"), col("o_totalprice"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("quartile")).collect().map(_.toSeq)
    val scaled = RelationalExt.priceQuartiles(spark, sfDir).collect().map(_.toSeq)
    assert(scaled.toSeq == windowed.toSeq)
  }

  test("x19: min_by/max_by aggregate matches the windowed first/last form") {
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val windowed = ord.select(col("o_custkey"),
        first_value(col("o_totalprice")).over(wf).as("first_price"),
        last_value(col("o_totalprice")).over(wf).as("last_price"))
      .distinct().orderBy(col("o_custkey")).collect().map(_.toSeq)
    val agged = RelationalExt.firstLastOrder(spark, sfDir).collect().map(_.toSeq)
    assert(agged.toSeq == windowed.toSeq)
  }

  implicit class SeqToDf(s: Seq[Double]) {
    def toDF(sess: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
      import sess.implicits._
      localSeqToDatasetHolder(s).toDF("v")
    }
  }
}
