package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every declared query (SURVEY.md §5.2):
  *  - deterministic output: explicit `orderBy` on a non-null key;
  *  - floats produced by arithmetic are `round`ed identically on both the
  *    Spark side and the DuckDB oracle side;
  *  - column names and types are aligned pairwise (DuckDB `count(*)`/window
  *    fns → BIGINT ⇔ Spark long; `CASE`→INTEGER ⇔ Spark int; integer `sum`s
  *    are CAST to BIGINT in the oracle because DuckDB widens them to
  *    HUGEINT).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** d43/d45's edge-evidence threshold, rendered into BOTH the Spark call
    * and the oracle SQL's HAVING so the precision knob moves the two
    * engines together (1 = one shared rare shingle suffices, the historic
    * behavior; the planted-fixture precision test exercises 2). */
  private val corpusMinShared = 1

  /** Per-invocation memory-sink disambiguator for the streaming queries
    * (d51/d52/d54 — sink names are session-global; the value never
    * influences a query's output). */
  private val streamSinkRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drains a streaming plan into a fresh memory sink with
    * `Trigger.AvailableNow`, resolves the sink relation into a batch
    * plan, and drops the catalog entry (zero residue per invocation — the
    * withViews convention; the rows stay referenced by the resolved
    * plan). Shared by the declared streaming queries: complete mode for
    * the windowed aggregates (d51/d52), append mode for the stream-stream
    * join (d54 — the only output mode a stream-stream inner join
    * supports), update mode for the custom-state totals (d55).
    *
    * The stream is BUILT and run on a cloned session (`newSession`: same
    * SparkContext, isolated SQL conf) with the stateful shuffle width
    * clamped to ≤ [[drainStateWidth]]: every stateful streaming operator
    * instantiates one state-store provider per shuffle partition per
    * micro-batch — at the session default of 32 the stream-stream join's
    * 4 providers/partition cost ~6.4 s of provider+commit-log overhead
    * on the fixture drain vs ~3.2 s at 8 (measured r17, sf0.1) — pure
    * fixed cost, since the drained data is KB-scale. The width is a
    * HARNESS sizing, exactly like a batch job sizing shuffle partitions
    * to its data (AQE does this automatically for batch plans; streaming
    * state width must be chosen at query start): an always-on deployment
    * keeps its own session width sized to throughput. Output is
    * partition-count invariant (the layout-invariance gate replays every
    * declared query across CPU/partition counts), and the clone makes
    * the clamp invisible to concurrent queries on the caller's session.
    * The clone inherits context-default confs (UTC session timezone —
    * set via builder by Bench/Verify/tests) but NOT runtime conf writes;
    * the memory-sink temp view is session-scoped, so it is resolved and
    * dropped on the clone. */
  private val drainStateWidth = 8
  private def drainToBatch(s: SparkSession,
                           build: SparkSession => DataFrame,
                           sinkPrefix: String,
                           mode: String = "complete"): DataFrame = {
    val drainSession = s.newSession()
    GraftExtensions.register(drainSession)
    drainSession.conf.set("spark.sql.shuffle.partitions",
      math.min(drainSession.sessionState.conf.numShufflePartitions,
        drainStateWidth).toString)
    // No empty trailing micro-batch (r20 optimization, guide §1/§2 "do
    // fewer [work units]"): after AvailableNow drains the data, the
    // engine by default runs one extra NO-DATA batch purely to advance
    // the watermark — for these drains that is a full state-store
    // provider round + WAL commit that can emit nothing new in any of
    // the declared modes: complete re-emits identical state (the sink
    // is then overwritten with the same rows), update emits only
    // changed keys (none without data), and the stream-stream INNER
    // join emits matches in the data batch that completes them — the
    // watermark only evicts state, never releases new inner-join rows.
    // Output is therefore bit-identical (oracle d51/d52/d54/d55/d56 +
    // the multi-batch fixpoint tests pin it); measured (r20 per-job A/B
    // at sf0.1): the cost lives almost entirely in the stream-stream
    // join drain, whose no-data batch runs 4 state-store providers per
    // partition — d54 2.59 s → 1.87 s (one fewer job); the complete/
    // update-mode drains were within noise.
    // An always-on APPEND-mode aggregate deployment MUST keep the
    // default (its window finalization rides no-data batches) — this
    // clamp is drain-local, on the clone, like the width clamp above.
    drainSession.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val sink = s"${sinkPrefix}_${streamSinkRuns.incrementAndGet()}"
    // Checkpoint on tmpfs when the host has one (r21 optimization, guide
    // §1 "remove work you throw away"): a memory-sink AvailableNow drain's
    // checkpoint (offset WAL + commit log + state-store delta files per
    // micro-batch) is pure scratch — the query is stopped and the
    // directory discarded before this method returns, so nothing ever
    // restarts from it. By default Spark puts the temp checkpoint under
    // java.io.tmpdir (disk); pointing it at /dev/shm turns every WAL/
    // commit fsync into a memory write. Drain-local harness sizing
    // exactly like the width clamp above — an always-on deployment needs
    // a DURABLE checkpoint (HDFS/object store) because restart recovery
    // is the point there; a drain has no restart by construction. The
    // directory is removed in the finally; results are checkpoint-
    // location-invariant (five drain oracles + fixpoint tests pin it).
    val ckptBase = new java.io.File("/dev/shm")
    val ckptDir = java.nio.file.Files.createTempDirectory(
      if (ckptBase.isDirectory && ckptBase.canWrite) ckptBase.toPath
      else new java.io.File(System.getProperty("java.io.tmpdir")).toPath,
      s"graft_drain_$sink").toFile
    val q = build(drainSession).writeStream.format("memory").queryName(sink)
      .outputMode(mode)
      .option("checkpointLocation", ckptDir.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(ckptDir)
    }
    val out = drainSession.table(sink)
    drainSession.catalog.dropTempView(sink)
    out
  }

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- V-series: validation aggregates (SURVEY.md §2.2) ----
    "v1_null_count" -> ((s, d) => Validation.nullCounts(li(s, d))),
    "v2_dup_count" -> ((s, d) => Validation.duplicateRowCount(li(s, d))),
    "v3_schema_columns" -> ((s, d) => Validation.schemaColumns(li(s, d))),
    "v4_range_profile" -> ((s, d) => Validation.rangeProfile(li(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "v5_domain_orderstatus" -> ((s, d) => Validation.domain(ord(s, d), "o_orderstatus")),
    "v6_class_balance" -> ((s, d) => Validation.classBalance(ord(s, d), "o_orderstatus", "F")),
    "v7_table_counts" -> ((s, d) =>
      Tables.names.map { t =>
        val df = Tables.canonical(s, d, t)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows"))
      }.reduce(_.unionAll(_)).orderBy(col("table_name"))),
    "v8_drift_profile" -> ((s, d) => Validation.driftProfile(li(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- F-series: scalar feature transforms (SURVEY.md §2.3) ----
    "f1_conditional_ratio" -> ((s, d) => li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      Features.pround(Features.conditionalRatio(
        col("l_extendedprice"), when(col("l_quantity") > 25, col("l_quantity")).otherwise(lit(0.0)),
        col("l_extendedprice")), 4).as("charge_ratio"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "f2_bucket_counts" -> ((s, d) => li(s, d)
      .select(Features.rightClosedBucket(col("l_quantity"),
        Seq(0, 10, 20, 30, 40, 50), Seq("0-10", "10-20", "20-30", "30-40", "40-50")).as("bucket"),
        col("l_quantity"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("bucket"))),
    "f3_quantile_flag" -> ((s, d) =>
      Features.quantileFlag(ord(s, d), "o_totalprice", 0.75)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("flag"))),
    "f5_zscore_clip" -> ((s, d) =>
      Features.zScoreClip(ord(s, d), "o_totalprice")
        .agg(round(sum(col("o_totalprice_clipped")), 2).as("sum_clipped"),
             // a NaN was rejected by the clip (NULL clipped value) —
             // counted as clipped, like the oracle's isnan branch
             sum(when(isnan(col("o_totalprice")), 1L)
               .otherwise(when(col("o_totalprice_clipped") =!= col("o_totalprice"), 1L)
                 .otherwise(0L))).as("n_clipped"))),
    "f6_conditional_clip" -> ((s, d) => ord(s, d).select(
      col("o_orderkey"),
      Features.pround(least(greatest(col("o_totalprice") / 100.0, lit(18.0)), lit(120.0)), 2).as("synth_charge"))
      .orderBy(col("o_orderkey"))),
    "f7_cast_flag" -> ((s, d) => li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_discount") > 0.05).cast("int").as("high_disc"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "f8_sigmoid" -> ((s, d) => cust(s, d).select(
      col("c_custkey"),
      Features.pround(Features.sigmoid(col("c_acctbal") / 1000.0), 6).as("sig"))
      .orderBy(col("c_custkey"))),

    // ---- X-series: relational capability pack (SURVEY.md §2.6) ----
    "x1_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "x2_top_customers" -> ((s, d) => Relational.topCustomers(s, d, 10)),
    "x3_top_orders_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d, 3)),
    "x4_days_since_prev" -> ((s, d) => Relational.daysSincePrevOrder(s, d)),
    "x5_rollup_pricing" -> ((s, d) => Relational.rollupPricing(s, d)),
    "x6_cube_orders" -> ((s, d) => Relational.cubeOrders(s, d)),
    "x7_customers_without_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "x8_intersect_statuses" -> ((s, d) => Relational.intersectStatuses(s, d)),
    "x9_except_customers" -> ((s, d) => Relational.exceptCustomers(s, d)),
    "x10_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "x11_monthly_orders" -> ((s, d) => Relational.monthlyOrders(s, d)),
    "x12_customer_name_features" -> ((s, d) => Relational.customerNameFeatures(s, d)),
    "x13_rich_segments" -> ((s, d) => Relational.richSegments(s, d, 4000.0)),
    "x14_status_pivot" -> ((s, d) => Relational.statusPivot(s, d)),

    "x15_running_total" -> ((s, d) => RelationalExt.runningTotal(s, d)),
    "x16_moving_avg" -> ((s, d) => RelationalExt.movingAvg(s, d)),
    "x17_price_quartiles" -> ((s, d) => RelationalExt.priceQuartiles(s, d)),
    "x18_segment_ranks" -> ((s, d) => RelationalExt.segmentRanks(s, d)),
    "x19_first_last_order" -> ((s, d) => RelationalExt.firstLastOrder(s, d)),
    "x20_nation_coverage" -> ((s, d) => RelationalExt.nationCoverage(s, d)),
    "x21_above_avg_orders" -> ((s, d) => RelationalExt.aboveAvgOrders(s, d)),
    "x22_urgent_customers" -> ((s, d) => RelationalExt.urgentCustomers(s, d)),
    "x23_revenue_by_brand" -> ((s, d) => RelationalExt.revenueByBrand(s, d)),
    "x24_union_semantics" -> ((s, d) => RelationalExt.unionSemantics(s, d)),
    "x25_shipping_priority" -> ((s, d) => RelationalExt.shippingPriority(s, d, 10)),
    "x26_local_supplier_volume" -> ((s, d) => RelationalExt.localSupplierVolume(s, d)),
    "d19_approx_distinct" -> ((s, d) => RelationalExt.approxDistinctTexts(s, d)),
    "d20_dedup_docs" -> ((s, d) => TextOps.dedupDocuments(Tables.documents(s, d))),
    "d21_embedding_neardups" -> ((s, d) =>
      Similarity.embeddingNearDups(Tables.embeddings(s, d), 300, 0.2)),
    "x27_grouping_sets" -> ((s, d) => RelationalExt.groupingSets(s, d)),
    "d23_subword_tokens" -> ((s, d) => TextOps.subwordTokenStats(Tables.documents(s, d))),
    "x28_nation_pair_volume" -> ((s, d) => RelationalExt.nationPairVolume(s, d)),
    "x29_bucketed_segment_spend" -> ((s, d) => Scale.bucketedSegmentSpend(s, d)),
    // the skew escape hatch enters the oracle gate: same relation as x29
    // computed through the salted join (salt values are rand-drawn, but
    // every (key, salt) pair matches the exploded small side exactly once,
    // so the JOIN RESULT is salt- and layout-independent — the property
    // the oracle hash-checks end-to-end, not just ScaleSpec's equality)
    "x35_salted_segment_spend" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Scale.saltedJoin(o, c, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg((sum(Features.qlong(col("o_totalprice"), 100.0)).cast("double") / 100.0)
            .as("spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),
    "x30_asof_last_order" -> ((s, d) => Temporal.asofLastOrder(s, d)),
    "x31_attribution_window" -> ((s, d) => Temporal.attributionWindow(s, d)),
    "x32_exists_big_spenders" -> ((s, d) => RelationalExt.existsBigSpenders(s, d)),
    "x33_nearby_order_mass" -> ((s, d) => RelationalExt.nearbyOrderMass(s, d)),
    "x34_asof_bucketed" -> ((s, d) => Temporal.asofLastOrderBucketed(s, d)),
    // rows-only (MinHash family is engine-local; strong equivalence tests
    // in DedupSimilaritySpec cover the semantics):
    "d38_incremental_neardups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = Dedup.minhashIndex(docs.filter(col("doc_id") < 400))
      Dedup.incrementalNearDups(docs.filter(col("doc_id") >= 400), corpus, 0.5)
    }),
    "d24_tfidf_top_terms" -> ((s, d) => TextOps.tfidfTopTerms(Tables.documents(s, d), 5)),
    "d25_length_quantiles" -> ((s, d) => TextOps.lengthQuantiles(Tables.documents(s, d))),
    "d26_bigram_top" -> ((s, d) => TextOps.bigramTop(Tables.documents(s, d), 15)),
    "d27_quality_filter" -> ((s, d) => TextOps.qualityFilter(Tables.documents(s, d))),

    // ---- M-series: preprocessing + metrics, relational forms (§2.4) ----
    "m1_standard_scale" -> ((s, d) =>
      Preprocess.standardScale(cust(s, d), "c_acctbal", "z")
        .select(col("c_custkey"), Features.pround(col("z"), 6).as("acctbal_z"))
        .orderBy(col("c_custkey"))),
    "m2_minmax_scale" -> ((s, d) =>
      Preprocess.minMaxScale(ord(s, d), "o_totalprice", "mm")
        .select(col("o_orderkey"), Features.pround(col("mm"), 6).as("price_mm"))
        .orderBy(col("o_orderkey"))),
    "m3_robust_scale" -> ((s, d) =>
      Preprocess.robustScale(cust(s, d), "c_acctbal", "rs")
        .select(col("c_custkey"), Features.pround(col("rs"), 6).as("acctbal_rs"))
        .orderBy(col("c_custkey"))),
    "m4_onehot" -> ((s, d) => {
      // indicator columns by set-diff against the input (same rule as
      // Preprocess.columnTransform) — re-collecting the vocabulary here
      // duplicated the encoder's fit pass and was null-unsafe
      val base = cust(s, d)
      val encoded = Preprocess.oneHotDropFirst(base, "c_mktsegment")
      val hot = encoded.columns.filterNot(base.columns.toSet).sorted
      encoded.select(col("c_custkey") +: hot.toSeq.map(col): _*)
        .orderBy(col("c_custkey"))
    }),
    "m6_stratified_split" -> ((s, d) =>
      Preprocess.stratifiedSplitByKey(cust(s, d), "c_custkey")
        .groupBy(col("c_mktsegment"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"), col("split"))),
    "m7_fold_assign" -> ((s, d) =>
      Preprocess.foldAssignByKey(cust(s, d), "c_custkey", 5)
        .groupBy(col("c_mktsegment"), col("fold"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"), col("fold"))),
    "v9_psi_drift" -> ((s, d) => Validation.psiDrift(ord(s, d))),
    "v10_psi_by_column" -> ((s, d) => Validation.psiByColumn(
      li(s, d), "l_shipdate", "1995-06-01", Validation.defaultPsiWidths)),
    "d39_lang_confusion" -> ((s, d) =>
      TextOps.langConfusion(Tables.documents(s, d))),
    "d40_domain_mix" -> ((s, d) => TextOps.domainMix(Tables.documents(s, d),
      Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))),
    // temperature-based mixture weights DERIVED from observed mass (d40
    // audits a hand-configured rate map); eager-fit contract — the
    // #sources-bounded totals fold on the driver in sorted order
    "d64_temperature_mix" -> ((s, d) =>
      TextOps.temperatureMix(Tables.documents(s, d))),
    "d41_packed_sequences" -> ((s, d) =>
      // unsorted chunk feed: the packer sorts within groups itself and
      // carries its own seq_id output order — the d33 entry keeps the
      // sorted chunkDocs contract
      TextOps.packChunks(TextOps.chunkDocsUnsorted(Tables.documents(s, d)))),
    "d42_pii_scrub" -> ((s, d) => TextOps.piiScrub(Tables.documents(s, d))),
    "d43_training_sequences" -> ((s, d) => Corpus.trainingSequences(
      Tables.documents(s, d), Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
      minShared = corpusMinShared)),
    // k=4 exercises the path on synthetic text (k=12 finds zero overlap
    // in this corpus); production decontamination uses k ≈ 8–13
    "d44_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.decontaminate(docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0L), shingleK = 4)
    }),
    "d45_pipeline_audit" -> ((s, d) => Corpus.pipelineAudit(
      Tables.documents(s, d), Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
      minShared = corpusMinShared)),
    // rows-only: the BPE merge loop (iterative global argmax over pair
    // counts) is not SQL-expressible; determinism + hand-computed merges
    // are ScalaTest-verified in VocabSpec
    "d46_bpe_merges" -> ((s, d) =>
      Vocab.bpeMerges(Tables.documents(s, d), numMerges = 50)),
    // rows-only: winnowing's hash family is engine-local (d28's rationale);
    // agreement with the oracle-checked exact-shingle pipeline on planted
    // dups AND on the real corpus is ScalaTest-verified. Runs at
    // k = matchedWinnowCharK(12) = 60 CHARS — matched granularity to
    // d43's 12-token shingles — where the winnowed winner set is
    // bit-identical to d43's on this corpus (k left at the operator
    // default, which IS that constant); the old k=8 declaration returned
    // ONE packed row at every SF (r15 verdict item 1: every shared word
    // pair was near-dup evidence and dedup collapsed the corpus)
    "d47_training_sequences_winnowed" -> ((s, d) =>
      Corpus.trainingSequencesWinnowed(Tables.documents(s, d),
        Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))),
    // rows-only: per-doc token counts under the d46 merge table (the encode
    // side of BPE); monotone-shrinkage and hand-computed encodings are
    // ScalaTest-verified in VocabSpec
    "d48_bpe_token_counts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Vocab.bpeTokenCounts(docs, Vocab.bpeTrainMerges(docs, numMerges = 50))
    }),
    // rows-only: winnowing's hash family is engine-local (d28's rationale);
    // agreement with the oracle-checked exact-shingle d44 on planted leaks
    // AND on this real split is ScalaTest-verified. Same pmod train/bench
    // split as d44, and k = matchedWinnowCharK(4) = 20 CHARS to match
    // d44's 4-token shingle granularity (same shared constant as d47 —
    // see Corpus.charsPerToken) — the operator's production default
    // (k=40, a 43-char leaked passage) is correct-but-empty here because
    // the generated splits share no run that long, and an empty declared
    // answer set would leave the bench/invariance replays exercising
    // nothing (r14 verdict item 1)
    "d49_decontaminate_winnowed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.decontaminateWinnowed(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
        k = Corpus.matchedWinnowCharK(4))
    }),
    // rows-only: d49's audit companion — the training docs carrying a
    // bench fingerprint that d49's maxDf stop-cap excluded from the
    // verdict (mass-leaked passage OR shared boilerplate; train-df alone
    // cannot distinguish, so these are the docs to escalate to the exact
    // d44 pass). Same split and matched granularity as d49. EMPTY on the
    // clean fixture BY DESIGN (nothing is mass-leaked); the gate's
    // planted-leak arm (tools/mass_leak_fixture.py, 60 train carriers >
    // maxDf=50) is the driver-visible evidence that the view fires —
    // CorpusSpec additionally pins plant→detect→escalate end-to-end
    "d53_mass_contamination_suspects" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.massContaminationSuspects(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
        k = Corpus.matchedWinnowCharK(4))
    }),
    // model-based quality scoring: count-NB distilled from the d27 gate;
    // training runs eagerly at construction (one 2x16 count aggregate),
    // the declared plan is the zero-shuffle literal-weight score projection
    // plus the orderBy this wrapper adds for oracle comparability (the
    // operator itself imposes no sort — a 100 TB score pass shouldn't)
    "d50_quality_scores" -> ((s, d) =>
      QualityModel.qualityScores(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    "m15_binary_metrics" -> ((s, d) =>
      Metrics.binaryMetrics(Metrics.labeledOrders(ord(s, d)))),
    "m16_confusion_matrix" -> ((s, d) =>
      Metrics.confusionMatrix(Metrics.labeledOrders(ord(s, d)))),
    "m17_champion_select" -> ((s, d) =>
      Metrics.championBySegment(ord(s, d), cust(s, d), 0.05)),
    "m18_auc_rank" -> ((s, d) =>
      Metrics.aucRankDistributed(Metrics.rankLabeledOrders(ord(s, d)))),
    "m19_segment_auc" -> ((s, d) =>
      Metrics.segmentAuc(ord(s, d), cust(s, d))),
    "m20_calibration_bins" -> ((s, d) =>
      Metrics.calibrationBins(ord(s, d))),

    // ---- D-series: text analysis + dedup + events (§2.7) ----
    "d1_dedup_groups" -> ((s, d) => TextOps.dedupGroups(Tables.documents(s, d))),
    "d2_dedup_stats" -> ((s, d) => TextOps.dedupStats(Tables.documents(s, d))),
    "d3_token_stats" -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "d4_stopword_ratio" -> ((s, d) => TextOps.stopwordRatio(Tables.documents(s, d))),
    "d5_quality_features" -> ((s, d) => TextOps.qualityFeatures(Tables.documents(s, d))),
    "d6_fingerprints" -> ((s, d) => TextOps.fingerprints(Tables.documents(s, d))),
    "d7_token_frequency" -> ((s, d) => TextOps.tokenFrequency(Tables.documents(s, d), 20)),
    "d8_lang_source_matrix" -> ((s, d) => TextOps.langSourceMatrix(Tables.documents(s, d))),
    "d58_hash_split" -> ((s, d) => TextOps.hashSplit(Tables.documents(s, d))),
    "d61_epoch_shuffle" -> ((s, d) => TextOps.epochShuffle(Tables.documents(s, d), 17)),
    // the data-loader materialization: d61's permutation driving d41's
    // next-fit packing (pack groups follow the epoch order, not doc-id
    // locality) — proves the two compose into what a trainer consumes
    "d63_epoch_packed" -> ((s, d) =>
      TextOps.epochPackedSequences(Tables.documents(s, d), 17)),
    "d9_props_summary" -> ((s, d) => EventOps.propsSummary(Tables.eventsRaw(s, d))),
    "d10_hourly_events" -> ((s, d) => EventOps.hourlyCounts(Tables.eventsTs(s, d))),
    "d11_session_counts" -> ((s, d) => EventOps.sessionCounts(Tables.eventsTs(s, d))),
    "d12_value_profile" -> ((s, d) => EventOps.valueProfile(Tables.eventsRaw(s, d))),
    "d60_cohort_retention" -> ((s, d) => EventOps.cohortRetention(Tables.eventsTs(s, d))),
    // D7 end-to-end: a REAL Structured Streaming execution inside the
    // driver's correctness gate — file source (schema borrowed + canonical-
    // ized like the batch path) → watermarked tumbling-window aggregate →
    // AvailableNow drain → complete-mode memory sink. Oracle = d10's SQL:
    // the lambda-architecture parity contract (stream drain ≡ batch
    // aggregate), checked against DuckDB every round. Why parity is exact
    // in COMPLETE mode: the sink re-emits full state every batch and the
    // watermark evicts nothing and drops no late input — every row of
    // every micro-batch is incorporated regardless of event time (even
    // pre-epoch corrupted-clock rows), so the drain ≡ the batch aggregate
    // unconditionally. (An always-on APPEND-mode deployment is where the
    // watermark drops late rows and seals windows — hourlyValueMass's
    // scaladoc draws the line.) Multi-micro-batch drains reach the same
    // fixpoint — pinned by the maxFilesPerTrigger=1 parity test in
    // StreamingSpec.
    "d51_stream_hourly" -> ((s, d) => {
      drainToBatch(s, s2 => graft.streaming.StreamMonitor.hourlyValueMass(
          graft.streaming.StreamMonitor.readEventsStream(s2, s"$d/events.parquet")),
        "d51_sink").orderBy(col("hour"), col("event_type"))
    }),
    // D7 end-to-end #2 — STATEFUL SESSION semantics: file source →
    // session_window(ts, 30 min) keyed by user (merging-window state, the
    // semantics a tumbling window can't express) → AvailableNow drain →
    // complete-mode memory sink → batch per-user rollup of the drained
    // sessions (count sessions / sum events — chaining a second STREAMING
    // aggregate is a public-API limit; rolling up the drained result in
    // batch is exactly what a production drain does downstream). Oracle =
    // d11's sessionization in SQL with ONE deliberate difference:
    // session_window merges two events iff their windows OVERLAP
    // (gap < 30 min), so a gap of EXACTLY 30 min starts a new session,
    // where d11's lag rule (`gap_us > 1800000000`) keeps it — the oracle
    // uses `>=` to mirror the session-window semantics faithfully. The
    // fixture has zero exact-30-min gaps at every SF (measured), so the
    // two rules agree on this data and the parity check is unambiguous.
    "d52_stream_sessions" -> ((s, d) => {
      drainToBatch(s, s2 => graft.streaming.StreamMonitor.userSessions(
          graft.streaming.StreamMonitor.readEventsStream(s2, s"$d/events.parquet")),
        "d52_sink")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),
    // D7 end-to-end #3 — STREAM-STREAM interval join (the two-source
    // stateful shape the windowed aggregates can't express): purchases
    // stream ⋈ clicks stream, same user, click within the hour BEFORE the
    // purchase (last-hour attribution), drained APPEND-mode (the only
    // mode a stream-stream inner join supports) and rolled up per user in
    // batch. Oracle = the same interval self-join in SQL. Parity notes:
    // an inner stream-stream join emits each match in the micro-batch
    // that completes it, so a single-file AvailableNow drain emits every
    // pair; the 768 h watermark (> the fixture's 30-day span) makes the
    // drain parity hold for MULTI-batch backfills too (nothing is ever
    // state-evicted or late-dropped) — an always-on deployment would
    // tighten it back to hours and accept the late-drop contract. NULL
    // ts rows are filtered on both sides (a NULL event time can never
    // satisfy the interval predicate in either engine; the explicit
    // filter keeps them out of the join state as well); NULL user_id
    // never equijoin-matches in either engine. A purchase with k clicks
    // in its attribution window contributes k pairs (its value counted k
    // times) — both sides agree; value summed in integer cents (x28).
    "d54_stream_attribution" -> ((s, d) => {
      // ONE source stream, both join sides derived by filter (Spark
      // supports stream self-joins): the schema-borrow batch read and the
      // file-source setup run once instead of twice — r16's bench showed
      // the doubled machinery made this the catalog's most expensive
      // query. At cluster scale the two sides are genuinely different
      // streams and each would carry its own source; deriving both from
      // one source here changes the plan's setup cost only, never a row.
      def joined(s2: SparkSession) = {
        val src = graft.streaming.StreamMonitor
          .readEventsStream(s2, s"$d/events.parquet")
          .where(col("ts").isNotNull)
        def side(t: String) = src.where(col("event_type") === t)
        val purchases = side("purchase")
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        val clicks = side("click")
          .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
            col("user_id").as("r_user_id"), col("value").as("r_value"))
        graft.streaming.StreamMonitor.enrichJoin(
          purchases, clicks, watermark = "768 hours", maxDelay = "1 hour")
      }
      drainToBatch(s, joined, "d54_sink", mode = "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(Features.qlong(col("value"), 100.0)).cast("double") / 100.0)
            .as("attributed_value"))
        .orderBy(col("user_id"))
    }),
    // D7 end-to-end #5 — SLIDING windows (1 h window, 15 min slide): each
    // event lands in 4 overlapping windows, the early-warning monitor
    // shape a tumbling window can't express. Complete-mode drain ≡ the
    // batch sliding aggregate (same argument as d51: complete mode
    // evicts nothing and drops no late input). Oracle = the same
    // 4-windows-per-event expansion in SQL: window starts are the
    // 15-min grid floor minus k·15 min for k = 0..3 (both engines
    // floor-align the grid to an epoch-aligned origin — DuckDB's
    // time_bucket origin 2000-01-01 is itself 15-min-aligned to the
    // epoch, so the grids coincide, pre-epoch rows included). NULL ts
    // filtered explicitly (the streaming path drops them at the window;
    // explicit so the BATCH execution of the oracle agrees — d51's
    // convention).
    "d56_stream_sliding" -> ((s, d) => {
      drainToBatch(s, s2 => graft.streaming.StreamMonitor.slidingRates(
          graft.streaming.StreamMonitor.readEventsStream(s2, s"$d/events.parquet")
            .where(col("ts").isNotNull)),
        "d56_sink")
        .select(col("w_start").cast("timestamp_ntz").as("w_start"),
          col("w_end").cast("timestamp_ntz").as("w_end"),
          col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))
    }),
    // D7 end-to-end #4 — ARBITRARY KEYED STATE (flatMapGroupsWithState),
    // the last streaming primitive without a declared query: per-user
    // lifetime (count, value-sum) accumulated in custom state, drained
    // update-mode. Parity devices: (a) value is pre-quantized to integer
    // cents (qlong, the x28 rule) BEFORE the accumulator, so the running
    // Double total stays a whole number < 2^53 — exact and ORDER-
    // INDEPENDENT, where raw-double accumulation would drift with row
    // order; qlong maps NULL/NaN/±Inf to NULL, the exact row set the
    // operator's own finite-value gate drops, so the pre-map changes no
    // row's admission. (b) update mode re-emits a key's state every
    // micro-batch it receives data, and the memory sink APPENDS those
    // emissions — the rollup takes each key's LAST update via
    // max(struct(n_events, …)): n_events strictly increases per key
    // across batches, so the max IS the final state (single-batch drains
    // emit once per key and the rollup is the identity; the multi-batch
    // fixpoint is pinned in StreamingSpec). Oracle = the batch
    // groupBy(user) count/sum in SQL.
    "d55_user_running_totals" -> ((s, d) => {
      def totals(s2: SparkSession) = graft.streaming.StreamMonitor
        .runningUserTotals(graft.streaming.StreamMonitor
          .readEventsStream(s2, s"$d/events.parquet")
          .withColumn("value", Features.qlong(col("value"), 100.0).cast("double")))
      drainToBatch(s, totals, "d55_sink", mode = "update")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_value"))).as("fin"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          (col("fin.total_value") / 100.0).as("total_value"))
        .orderBy(col("user_id"))
    }),
    "d13_jaccard_pairs" -> ((s, d) =>
      Similarity.jaccardPairs(Tables.documents(s, d), 60, 0.5)),
    "d14_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), 20, 5)),
    // no SQL oracle (engine-specific hash families) — rows-only checks:
    "d15_minhash_neardups" -> ((s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), 0.5)),
    "d16_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), 64, 20, 5)),
    "d22_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), 20, 5)),
    // rows-only (PQ codebooks/codes are engine-local k-means artifacts —
    // d22's rationale): PQ/ADC search, the memory-bounded scale path —
    // the corpus is scanned as 16-byte codes, never raw vectors.
    // Evidence in DedupSimilaritySpec: exact duplicates share codes,
    // exact-L2 top-1 recall 16/20 at k=5 on this corpus (measured before
    // declaring; iid-uniform fixtures are PQ's worst case — neighbor
    // order is noise-dominated even when distances approximate well),
    // ADC distance error bars (mean < 0.25, max < 0.5; measured
    // 0.11/0.30), layout determinism, codebook save/load round-trip.
    "d65_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), 64, 20, 5)),
    // rows-only (same rationale): IVF-PQ composition (IVFADC,
    // by_residual=false) — the coarse quantizer shrinks the ROWS probed,
    // PQ shrinks the BYTES per row. Evidence: every returned pair's ADC
    // distance equals the full-scan d65 value (probing only narrows the
    // candidate set), recall floor vs d65's top-1.
    "d66_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), 64, 20, 5)),
    // rows-only (same rationale): IVFADC with by_residual=true — codes
    // quantize (x − coarse(cell)), the FAISS default d66's scaladoc
    // documented as a simplification. On the iid-uniform fixture the
    // two paths measure within noise (residual ≈ raw — PQ's worst
    // case); on clustered data residual coding cuts mean ADC error
    // 0.388 → 0.149 at the same 16-byte budget (the pinned
    // DedupSimilaritySpec clustered-corpus test). Evidence: residual
    // dup-code identity, recall floor vs exact L2 (0.46 measured, 0.40
    // floor in the cross-family audit), layout determinism.
    "d67_ivfpq_residual_topk" -> ((s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), 64, 20, 5, byResidual = true)),
    // rows-only (same engine-local-codebook rationale as d65): PQ/SDC —
    // the query is its CODES (Jégou et al. 2011 §III.B symmetric
    // distance), so query time touches no raw vectors at all: the
    // raw-vector-free re-rank a production index runs index-to-index.
    // Evidence: planted exact copy ranks first at SDC distance exactly 0
    // (shared codes → diagonal lookups), recall floor 0.30 vs exact L2
    // (0.33 measured; ADC's exact query side dominates at 0.52 — the
    // published SDC trade-off, pinned), layout determinism.
    "d68_sdc_topk" -> ((s, d) =>
      Similarity.pqTopKSDC(Tables.embeddings(s, d), 64, 20, 5)),
    // rows-only like the IVF path it shares a quantizer with (the cells
    // are an engine-local k-means artifact no SQL engine reproduces);
    // evidence: DedupSimilaritySpec pins exact-verification precision
    // (every emitted drop ⊆ the brute-force cosine relation at the same
    // threshold), planted-near-dup recall, and the real-corpus density
    // band the d28 discipline requires. minSim is declared at 0.45, NOT
    // d21's pair-LISTING threshold 0.2: a drop decision at 0.2 discards
    // 86% of this corpus (the d28 vacuity class — measured before
    // declaring); at 0.45 the brute-force drop set is a selective 2.8%
    // of vectors at sf0.001/0.01 and 6.8% at sf0.1 (max pairwise cosine
    // 0.51/0.60 — the corpus has no true near-dups, so the declared
    // fence sits just under the distribution's tail).
    "d59_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), 8, 0.45)),
    "d17_simhash_neardups" -> ((s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), 8)),
    // declared at matched granularity k = matchedWinnowCharK(4) = 20
    // chars (the d49/d53 constant): at the operator-default k=8 every
    // shared word pair is a "rare fingerprint" on this corpus and the
    // answer degenerated to 58% of ALL doc pairs (72,685 rows at sf0.01 —
    // the d47/d49 vacuity class, caught by the round-16 self-review); at
    // k=20 a pair needs 3 independently-shared 23-char runs, the
    // passage-level evidence the operator is for. w stays 4: substring
    // plagiarism detection wants recall (span w+k-1 = 23 chars), not the
    // fp-density parity of the d47 corpus path.
    "d28_winnow_neardups" -> ((s, d) =>
      Dedup.winnowNearDups(Tables.documents(s, d), minShared = 3,
        k = Corpus.matchedWinnowCharK(4))),
    "d18_multimodal_meta" -> ((s, d) =>
      Multimodal.metaSummary(Multimodal.assetsFromDocuments(Tables.documents(s, d)))),
    // D6 frame sampling, oracle-gated: keep every 2nd 64-byte frame; the
    // per-asset sampled count is pure integer arithmetic over the payload
    // byte length ((octet_length-1)/64 is the last frame index; /2 + 1
    // counts the even indices), so the previously test-only
    // sampleFrames plumbing gets the full cross-engine check. The frames
    // themselves stay engine-side (binary arrays); only the count is
    // compared.
    "d57_frame_stats" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.assetsFromDocuments(Tables.documents(s, d)), 64, 2)
        .select(col("asset_id").as("doc_id"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("doc_id"))),
    "d29_unigram_surprisal" -> ((s, d) =>
      TextOps.unigramSurprisal(Tables.documents(s, d))),
    "d31_repetition_ratio" -> ((s, d) =>
      TextOps.repetitionRatio(Tables.documents(s, d))),
    "d32_lexical_diversity" -> ((s, d) =>
      TextOps.lexicalDiversity(Tables.documents(s, d))),
    "d33_chunked_docs" -> ((s, d) =>
      TextOps.chunkDocs(Tables.documents(s, d))),
    "d34_embedding_centroids" -> ((s, d) =>
      Similarity.embeddingCentroids(Tables.embeddings(s, d))),
    "d36_funnel_steps" -> ((s, d) =>
      EventOps.funnelSteps(Tables.eventsTs(s, d), Seq("signup", "click", "purchase"))),
    "d37_gapfilled_hourly" -> ((s, d) =>
      EventOps.gapFilledHourly(Tables.eventsTs(s, d))),
    "d35_dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nodes = docs.filter(col("doc_id") < 60).select(col("doc_id").as("id"))
      val edges = Similarity.jaccardPairs(docs, 60, 0.5).select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(nodes, edges)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    }),
    // leakage-safe split: d35's components (near-dup evidence over the
    // bounded id range, d13's oracle-checked jaccard relation) folded into
    // d58's content-addressed fences — every component member takes its
    // min-id representative's split, docs outside the evidence range are
    // singletons (their own text; ≡ d58 for them)
    "d62_component_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nodes = docs.filter(col("doc_id") < 60).select(col("doc_id").as("id"))
      val edges = Similarity.jaccardPairs(docs, 60, 0.5).select(col("id_a"), col("id_b"))
      TextOps.componentSplit(docs, Dedup.connectedComponents(nodes, edges))
    }),
    // rows-only (decode stats depend on the engine-local opaque decode;
    // real-container decodes are ScalaTest-verified with PNG/GIF/WAV
    // fixtures in MultimodalSpec):
    "d30_decode_stats" -> ((s, d) =>
      Multimodal.decodeStats(Multimodal.assetsFromDocuments(Tables.documents(s, d)))),
  )

  /** Portable rounding in oracle SQL — the exact IEEE-754 formula
    * `Features.pround` uses on the Spark side. */
  private def pr(e: String, digits: Int): String = {
    val p = "1" + ("0" * digits) + ".0"
    s"floor(($e) * $p + 0.5) / $p"
  }

  private val lineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * [[oracleSql]] wraps every entry in the canonical-type CTE prelude
    * ([[withCanon]]) so the oracle computes on the same canonical types
    * the engine does under any physical-type drift. */
  private[graft] def oracleSqlRaw: Map[String, String] = Map(
    "v1_null_count" ->
      ("SELECT " + lineitemCols.map(c => s"count(*) - count($c) AS nulls_$c").mkString(", ") +
        " FROM lineitem"),
    "v2_dup_count" ->
      ("SELECT (SELECT count(*) FROM lineitem) - " +
        "(SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem) t) AS dup_rows"),
    "v3_schema_columns" ->
      ("SELECT column_name FROM (VALUES " +
        lineitemCols.map(c => s"('$c')").mkString(", ") +
        ") AS t(column_name) ORDER BY column_name"),
    "v4_range_profile" ->
      ("SELECT " + Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .flatMap(c => Seq(s"round(min($c), 4) AS min_$c", s"round(max($c), 4) AS max_$c"))
        .mkString(", ") + " FROM lineitem"),
    "v5_domain_orderstatus" ->
      "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",
    "v6_class_balance" ->
      // NULL labels carry no class — skipped like pandas mean(), not
      // counted as negatives (engine mirrors)
      ("SELECT round(avg(CASE WHEN o_orderstatus = 'F' THEN CAST(1.0 AS DOUBLE) " +
        "WHEN o_orderstatus IS NOT NULL THEN CAST(0.0 AS DOUBLE) END), 6) " +
        "AS positive_rate FROM orders"),
    "v7_table_counts" ->
      (Tables.names.map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
        .mkString(" UNION ALL ") + " ORDER BY table_name"),
    "v8_drift_profile" ->
      // mean/std over observed finite values (the engine's finiteOrNull
      // fit domain); nullfrac counts genuine NULLs only
      ("SELECT " + Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .flatMap(c => Seq(
          s"round(avg(CASE WHEN isfinite($c) THEN $c END), 4) AS mean_$c",
          s"round(stddev_samp(CASE WHEN isfinite($c) THEN $c END), 4) AS std_$c",
          s"round(avg(CAST($c IS NULL AS DOUBLE)), 6) AS nullfrac_$c"))
        .mkString(", ") + " FROM lineitem"),
    "v9_psi_drift" ->
      ("WITH f AS (SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT) AS bin, " +
        "(CAST(o_orderdate AS DATE) < DATE '1998-01-01') AS early FROM orders " +
        // o_orderdate IS NOT NULL: an undated row is unmeasurable in time
        // and must not be filed under the late distribution (engine
        // mirrors via the early-NULL filter)
        "WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice) " +
        "AND o_orderdate IS NOT NULL), " +
        "c AS (SELECT bin, CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM f GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c) " +
        "SELECT bin, n_a, n_b, " +
        pr("((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)) - " +
          "(CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))) * " +
          "ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)) / " +
          "(CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))", 6) + " AS psi_term " +
        "FROM c CROSS JOIN t ORDER BY bin"),
    "v10_psi_by_column" -> {
      // widths AND nBins rendered from the SAME constants the Spark query
      // uses (Double.toString round-trips; the bin clamp and Laplace
      // smoothing below derive from defaultPsiBins, so a changed bin count
      // moves both engines together)
      val nb = operators.Validation.defaultPsiBins
      val watched = operators.Validation.defaultPsiWidths.toSeq.sortBy(_._1)
        .map { case (c, w) => c -> java.lang.Double.toString(w) }
      val branches = watched.map { case (c, w) =>
        s"SELECT '$c' AS column_name, " +
          s"CAST(least(floor($c / CAST($w AS DOUBLE)), ${nb - 1}) AS BIGINT) AS bin, " +
          "(CAST(l_shipdate AS DATE) < DATE '1995-06-01') AS early " +
          s"FROM lineitem WHERE $c IS NOT NULL AND isfinite($c) " +
          "AND l_shipdate IS NOT NULL"
      }.mkString(" UNION ALL ")
      s"WITH f AS ($branches), " +
        "c AS (SELECT column_name, bin, " +
        "CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_b " +
        "FROM f GROUP BY 1, 2), " +
        "t AS (SELECT column_name, CAST(sum(n_a) AS BIGINT) AS ta, " +
        "CAST(sum(n_b) AS BIGINT) AS tb FROM c GROUP BY 1) " +
        "SELECT c.column_name, bin, n_a, n_b, " +
        pr(s"((CAST(n_a + 1 AS DOUBLE) / CAST(ta + $nb AS DOUBLE)) - " +
          s"(CAST(n_b + 1 AS DOUBLE) / CAST(tb + $nb AS DOUBLE))) * " +
          s"ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + $nb AS DOUBLE)) / " +
          s"(CAST(n_b + 1 AS DOUBLE) / CAST(tb + $nb AS DOUBLE)))", 6) + " AS psi_term " +
        "FROM c JOIN t ON c.column_name = t.column_name " +
        "ORDER BY c.column_name, bin"
    },
    "d39_lang_confusion" -> {
      val langs = operators.TextOps.langMarkers.keys.toSeq.sorted
      val scores = langs.map { l =>
        val list = operators.TextOps.langMarkers(l).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), t -> t IN ($list))) AS score_$l"
      }.mkString(", ")
      val m = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN m > 0 AND score_$l = m THEN '$l'")
        .mkString(" ")
      "WITH s AS (SELECT lang AS true_lang, " + scores + " FROM documents), " +
        s"g AS (SELECT true_lang, $m AS m, " +
        langs.map(l => s"score_$l").mkString(", ") + " FROM s) " +
        s"SELECT true_lang, CASE $cases ELSE 'und' END AS pred_lang, " +
        "CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2"
    },
    "d40_domain_mix" ->
      // CASE order mirrors domainMixKeep's sorted-source fold; the double
      // modulus mirrors Spark's pmod (always non-negative) — DuckDB's %
      // follows the dividend's sign, so a negative doc_id would otherwise
      // silently keep different rows in the two engines
      ("WITH k AS (SELECT source, n_chars, (((doc_id % 1000) + 1000) % 1000) < " +
        "(CASE WHEN source = 'src1' THEN 0.5 WHEN source = 'src2' THEN 0.25 " +
        "WHEN source = 'src3' THEN 0.1 ELSE 1.0 END) * 1000 AS keep FROM documents) " +
        "SELECT source, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, " +
        "CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars " +
        "FROM k GROUP BY 1 ORDER BY 1"),
    "d64_temperature_mix" ->
      // the engine folds its totals on the driver in sorted-source order;
      // DuckDB's sum over the same #sources doubles may differ in the
      // last ulp, masked by the shared pround(6) (the v9/v10 ln()
      // precedent). CASE WHEN char_mass > 0 mirrors the zero/NULL-mass
      // NULL guard on all three derived columns.
      ("WITH ps AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS char_mass FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(sum(char_mass) AS BIGINT) AS total_mass, " +
        "sum(pow(CAST(char_mass AS DOUBLE), 0.7)) AS total_pow FROM ps) " +
        "SELECT ps.source, ps.n_docs, ps.char_mass, " +
        "CASE WHEN ps.char_mass > 0 THEN " +
        pr("CAST(ps.char_mass AS DOUBLE) / CAST(t.total_mass AS DOUBLE)", 6) +
        " END AS raw_share, " +
        "CASE WHEN ps.char_mass > 0 THEN " +
        pr("pow(CAST(ps.char_mass AS DOUBLE), 0.7) / t.total_pow", 6) +
        " END AS weight, " +
        "CASE WHEN ps.char_mass > 0 THEN " +
        pr("pow(CAST(ps.char_mass AS DOUBLE), 0.7) / t.total_pow * " +
          "CAST(t.total_mass AS DOUBLE) / CAST(ps.char_mass AS DOUBLE)", 6) +
        " END AS effective_epochs FROM ps, t ORDER BY source"),
    "d41_packed_sequences" ->
      // chunking CTEs mirror d33; the recursive CTE walks each pack group's
      // chunks in (doc_id, chunk_id) order applying the same next-fit rule as
      // packChunks' PackSequences kernel (base case = first chunk opens seq 0)
      ("WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL), " +
        "e AS (SELECT doc_id, unnest(range(0, greatest(1, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1))) AS chunk_id, toks FROM t), " +
        "c AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
        "CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS BIGINT) AS n FROM e), " +
        "g AS (SELECT CAST(floor(doc_id / 50.0) AS BIGINT) AS grp, doc_id, chunk_id, n, " +
        "row_number() OVER (PARTITION BY CAST(floor(doc_id / 50.0) AS BIGINT) ORDER BY doc_id, chunk_id) AS rn FROM c), " +
        "pack(grp, rn, doc_id, chunk_id, n, seq, fill) AS (" +
        "SELECT grp, rn, doc_id, chunk_id, n, CAST(0 AS BIGINT), n FROM g WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT g.grp, g.rn, g.doc_id, g.chunk_id, g.n, " +
        "CASE WHEN p.fill + g.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
        "CASE WHEN p.fill + g.n > 512 THEN g.n ELSE p.fill + g.n END " +
        "FROM pack p JOIN g ON g.grp = p.grp AND g.rn = p.rn + 1) " +
        "SELECT CAST(grp * 1000000 + seq AS BIGINT) AS seq_id, " +
        "CAST(count(*) AS BIGINT) AS n_chunks, " +
        "string_agg(doc_id || ':' || chunk_id, ',' ORDER BY doc_id, chunk_id) AS chunk_ids, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens, " +
        pr("CAST(sum(n) AS DOUBLE) / CAST(512 AS DOUBLE)", 6) + " AS fill_ratio " +
        "FROM pack GROUP BY grp, seq ORDER BY seq_id"),
    "d42_pii_scrub" ->
      // fixed scrub order email → phone → IP, each class counted on the
      // text state it is applied to — mirrors piiScrub exactly; patterns
      // use only syntax with identical Java-regex/RE2 semantics
      ("WITH a AS (SELECT doc_id, text, " +
        "regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 " +
        "FROM documents), " +
        "b AS (SELECT doc_id, text, t1, " +
        "regexp_replace(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t2 FROM a), " +
        "c AS (SELECT doc_id, text, t1, t2, " +
        "regexp_replace(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t3 FROM b) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones, " +
        "CAST(len(regexp_extract_all(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips, " +
        "CAST(len(t3) AS BIGINT) AS scrubbed_len, md5(t3) AS scrubbed_hash " +
        "FROM c ORDER BY doc_id"),
    "d43_training_sequences" ->
      // full pipeline composition: d27's quality predicate → 12-token
      // md5-shingle edges with the [2,20] df cap → d35's min-label
      // component recursion (winner = id == comp) → d40's mix rule →
      // d33's chunking → d41's next-fit packing recursion
      ("WITH RECURSIVE " +
        "q AS (SELECT doc_id, text, source FROM documents WHERE " +
        "len(string_split(text, ' ')) >= 10 " +
        "AND CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) >= 2.0 " +
        "AND CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) <= 15.0 " +
        "AND CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / len(text) <= 0.1), " +
        "tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM q), " +
        "shp AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 10, 1))) AS p, toks FROM tk), " +
        "shg AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(toks, p, p + 11), ' ')) AS sh FROM shp), " +
        "fr AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM shg GROUP BY sh) WHERE df >= 2 AND df <= 20), " +
        "shc AS (SELECT s.doc_id, s.sh FROM shg s JOIN fr USING(sh)), " +
        "ed AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        s"GROUP BY 1, 2 HAVING count(*) >= $corpusMinShared), " +
        "sym AS (SELECT id_a AS src, id_b AS dst FROM ed UNION ALL SELECT id_b, id_a FROM ed), " +
        "reach(id, comp) AS (SELECT doc_id, doc_id FROM q " +
        "UNION SELECT sym.dst, reach.comp FROM reach JOIN sym ON sym.src = reach.id), " +
        "lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id), " +
        "k3 AS (SELECT q.doc_id, q.text FROM q JOIN lab ON q.doc_id = lab.id " +
        "WHERE lab.id = lab.comp AND (((q.doc_id % 1000) + 1000) % 1000) < " +
        "(CASE WHEN q.source = 'src1' THEN 0.5 WHEN q.source = 'src2' THEN 0.25 " +
        "WHEN q.source = 'src3' THEN 0.1 ELSE 1.0 END) * 1000), " +
        "t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM k3), " +
        "e2 AS (SELECT doc_id, unnest(range(0, greatest(1, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1))) AS chunk_id, toks FROM t2), " +
        "c2 AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
        "CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS BIGINT) AS n FROM e2), " +
        "g2 AS (SELECT CAST(floor(doc_id / 50.0) AS BIGINT) AS grp, doc_id, chunk_id, n, " +
        "row_number() OVER (PARTITION BY CAST(floor(doc_id / 50.0) AS BIGINT) ORDER BY doc_id, chunk_id) AS rn FROM c2), " +
        "pack(grp, rn, doc_id, chunk_id, n, seq, fill) AS (" +
        "SELECT grp, rn, doc_id, chunk_id, n, CAST(0 AS BIGINT), n FROM g2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT g2.grp, g2.rn, g2.doc_id, g2.chunk_id, g2.n, " +
        "CASE WHEN p.fill + g2.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
        "CASE WHEN p.fill + g2.n > 512 THEN g2.n ELSE p.fill + g2.n END " +
        "FROM pack p JOIN g2 ON g2.grp = p.grp AND g2.rn = p.rn + 1) " +
        "SELECT CAST(grp * 1000000 + seq AS BIGINT) AS seq_id, " +
        "CAST(count(*) AS BIGINT) AS n_chunks, " +
        "string_agg(doc_id || ':' || chunk_id, ',' ORDER BY doc_id, chunk_id) AS chunk_ids, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens, " +
        pr("CAST(sum(n) AS DOUBLE) / CAST(512 AS DOUBLE)", 6) + " AS fill_ratio " +
        "FROM pack GROUP BY grp, seq ORDER BY seq_id"),
    "d44_decontaminate" ->
      // pmod mirror for the train/bench split; shingle CTEs mirror d43's
      // (k=4 → slice p..p+3, range end len(toks)-2)
      ("WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents " +
        "WHERE ((doc_id % 97) + 97) % 97 <> 0), " +
        "be AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents " +
        "WHERE ((doc_id % 97) + 97) % 97 = 0), " +
        "tsp AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 2, 1))) AS p, toks FROM tr), " +
        "ts AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(toks, p, p + 3), ' ')) AS sh FROM tsp), " +
        "bsp AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 2, 1))) AS p, toks FROM be), " +
        "bs AS (SELECT DISTINCT md5(array_to_string(list_slice(toks, p, p + 3), ' ')) AS sh FROM bsp) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles " +
        "FROM ts JOIN bs USING(sh) GROUP BY doc_id ORDER BY doc_id"),
    "d45_pipeline_audit" ->
      // d43's CTE chain with the winner join split out (k2) so each stage
      // can be counted; 05's token mass equals 04's by the no-chunk-lost
      // invariant the audit exists to surface
      ("WITH RECURSIVE " +
        "q AS (SELECT doc_id, text, source FROM documents WHERE " +
        "len(string_split(text, ' ')) >= 10 " +
        "AND CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) >= 2.0 " +
        "AND CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) <= 15.0 " +
        "AND CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / len(text) <= 0.1), " +
        "tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM q), " +
        "shp AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 10, 1))) AS p, toks FROM tk), " +
        "shg AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(toks, p, p + 11), ' ')) AS sh FROM shp), " +
        "fr AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM shg GROUP BY sh) WHERE df >= 2 AND df <= 20), " +
        "shc AS (SELECT s.doc_id, s.sh FROM shg s JOIN fr USING(sh)), " +
        "ed AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        s"GROUP BY 1, 2 HAVING count(*) >= $corpusMinShared), " +
        "sym AS (SELECT id_a AS src, id_b AS dst FROM ed UNION ALL SELECT id_b, id_a FROM ed), " +
        "reach(id, comp) AS (SELECT doc_id, doc_id FROM q " +
        "UNION SELECT sym.dst, reach.comp FROM reach JOIN sym ON sym.src = reach.id), " +
        "lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id), " +
        "k2 AS (SELECT q.doc_id, q.text, q.source FROM q JOIN lab ON q.doc_id = lab.id " +
        "WHERE lab.id = lab.comp), " +
        "k3 AS (SELECT doc_id, text FROM k2 " +
        "WHERE (((doc_id % 1000) + 1000) % 1000) < " +
        "(CASE WHEN source = 'src1' THEN 0.5 WHEN source = 'src2' THEN 0.25 " +
        "WHEN source = 'src3' THEN 0.1 ELSE 1.0 END) * 1000), " +
        "t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM k3), " +
        "e2 AS (SELECT doc_id, unnest(range(0, greatest(1, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1))) AS chunk_id, toks FROM t2), " +
        "c2 AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
        "CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS BIGINT) AS n FROM e2), " +
        "g2 AS (SELECT CAST(floor(doc_id / 50.0) AS BIGINT) AS grp, doc_id, chunk_id, n, " +
        "row_number() OVER (PARTITION BY CAST(floor(doc_id / 50.0) AS BIGINT) ORDER BY doc_id, chunk_id) AS rn FROM c2), " +
        "pack(grp, rn, doc_id, chunk_id, n, seq, fill) AS (" +
        "SELECT grp, rn, doc_id, chunk_id, n, CAST(0 AS BIGINT), n FROM g2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT g2.grp, g2.rn, g2.doc_id, g2.chunk_id, g2.n, " +
        "CASE WHEN p.fill + g2.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
        "CASE WHEN p.fill + g2.n > 512 THEN g2.n ELSE p.fill + g2.n END " +
        "FROM pack p JOIN g2 ON g2.grp = p.grp AND g2.rn = p.rn + 1) " +
        "SELECT * FROM (" +
        "SELECT '00_raw' AS stage, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS n_tokens FROM documents " +
        "UNION ALL SELECT '01_quality', CAST(count(*) AS BIGINT), " +
        "CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM q " +
        "UNION ALL SELECT '02_dedup', CAST(count(*) AS BIGINT), " +
        "CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM k2 " +
        "UNION ALL SELECT '03_mixed', CAST(count(*) AS BIGINT), " +
        "CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM k3 " +
        "UNION ALL SELECT '04_chunks', CAST(count(*) AS BIGINT), " +
        "CAST(coalesce(sum(n), 0) AS BIGINT) FROM c2 " +
        "UNION ALL SELECT '05_sequences', " +
        "CAST((SELECT count(*) FROM (SELECT DISTINCT grp, seq FROM pack)) AS BIGINT), " +
        "CAST(coalesce(sum(n), 0) AS BIGINT) FROM pack" +
        ") ORDER BY stage"),

    "f1_conditional_ratio" ->
      ("SELECT l_orderkey, l_linenumber, floor((CASE WHEN l_quantity > 25 " +
        "THEN l_extendedprice / l_quantity ELSE l_extendedprice END) * 10000.0 + 0.5) / 10000.0 " +
        "AS charge_ratio FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "f2_bucket_counts" ->
      // leading NULL/isnan branch: DuckDB 1.0's vectorized comparisons
      // missort NaN (a parquet-read NaN lands in '40-50' while a constant
      // NaN does not) — route non-values to the 'nan' bucket explicitly,
      // which is also the engine's when-chain `otherwise` semantics
      ("SELECT CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 'nan' " +
        "WHEN l_quantity <= 0 THEN 'nan' WHEN l_quantity <= 10 THEN '0-10' " +
        "WHEN l_quantity <= 20 THEN '10-20' WHEN l_quantity <= 30 THEN '20-30' " +
        "WHEN l_quantity <= 40 THEN '30-40' WHEN l_quantity <= 50 THEN '40-50' " +
        "ELSE 'nan' END AS bucket, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY bucket"),
    "f3_quantile_flag" ->
      // threshold over observed finite values (exactPercentile's domain);
      // NULL price → NULL flag (no observation), NaN → 1 explicitly (NaN
      // compares greater than any threshold in both engines, but DuckDB
      // 1.0's vectorized compare can't be trusted with NaN)
      ("WITH p AS (SELECT quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.75) AS q FROM orders) " +
        "SELECT CASE WHEN o_totalprice IS NULL THEN NULL WHEN isnan(o_totalprice) THEN 1 " +
        "WHEN o_totalprice > q THEN 1 ELSE 0 END AS flag, count(*) AS n, " +
        "round(avg(o_totalprice), 2) AS avg_price FROM orders, p GROUP BY 1 ORDER BY flag"),
    "f5_zscore_clip" ->
      ("WITH s AS (SELECT avg(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS m, " +
        "stddev_samp(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS sd FROM orders) " +
        "SELECT round(sum(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN NULL " +
        "ELSE LEAST(GREATEST(o_totalprice, m - 3*sd), m + 3*sd) END), 2) AS sum_clipped, " +
        "CAST(sum(CASE WHEN isnan(o_totalprice) THEN 1 " +
        "WHEN o_totalprice > m + 3*sd OR o_totalprice < m - 3*sd THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_clipped FROM orders, s"),
    "f6_conditional_clip" ->
      ("SELECT o_orderkey, floor(LEAST(GREATEST(o_totalprice / 100.0, 18.0), 120.0) * 100.0 + 0.5) / 100.0 " +
        "AS synth_charge FROM orders ORDER BY o_orderkey"),
    "f7_cast_flag" ->
      ("SELECT l_orderkey, l_linenumber, CAST(l_discount > 0.05 AS INTEGER) AS high_disc " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "f8_sigmoid" ->
      ("SELECT c_custkey, floor((1.0 / (1.0 + exp(-(c_acctbal / 1000.0)))) * 1000000.0 + 0.5) / 1000000.0 " +
        "AS sig FROM customer ORDER BY c_custkey"),

    "x1_revenue_by_nation" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "x2_top_customers" ->
      ("SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS spend, count(*) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY spend DESC, c_custkey LIMIT 10"),
    "x3_top_orders_per_customer" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "x4_days_since_prev" ->
      ("SELECT o_custkey, o_orderkey, date_diff('day', " +
        "lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
        "CAST(o_orderdate AS DATE)) AS days_since_prev " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "x5_rollup_pricing" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid"),
    "x6_cube_orders" ->
      ("SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price, " +
        "count(*) AS n, CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, gid"),
    "x7_customers_without_orders" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "x8_intersect_statuses" ->
      ("SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' ORDER BY o_custkey"),
    "x9_except_customers" ->
      ("SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders ORDER BY c_custkey"),
    "x10_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price, " +
        "round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, " +
        "round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order " +
        "FROM lineitem WHERE l_quantity < 50 GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "x11_monthly_orders" ->
      // undated orders excluded (no month bucket) — engine convention,
      // and DuckDB 1.0 missorts a NULL timestamp group even under an
      // explicit NULLS FIRST, so the NULL group must not exist at all
      ("SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "WHERE o_orderdate IS NOT NULL GROUP BY 1 ORDER BY month"),
    "x12_customer_name_features" ->
      ("SELECT c_custkey, upper(c_name) AS name_upper, substr(c_name, 1, 5) AS name_prefix, " +
        "length(c_name) AS name_len, c_name || '#' || CAST(c_custkey AS VARCHAR) AS name_tag " +
        "FROM customer ORDER BY c_custkey"),
    "x13_rich_segments" ->
      ("SELECT * FROM (SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal, " +
        "count(*) AS n_cust FROM customer GROUP BY 1) t WHERE avg_bal > 4000.0 " +
        "ORDER BY c_mktsegment"),
    "x14_status_pivot" ->
      ("SELECT o_orderpriority, " +
        "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f, " +
        "CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o, " +
        "CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "x15_running_total" ->
      ("SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "x16_moving_avg" ->
      ("WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, " +
        "sum(o_totalprice) AS rev FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1) " +
        "SELECT month, round(rev, 2) AS rev, round(avg(rev) OVER (" +
        "ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rev_ma3 " +
        "FROM m ORDER BY month"),
    "x17_price_quartiles" ->
      ("WITH t AS (SELECT ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile, " +
        "o_totalprice FROM orders WHERE o_totalprice IS NOT NULL) " +
        "SELECT quartile, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price " +
        "FROM t GROUP BY quartile ORDER BY quartile"),
    "x18_segment_ranks" ->
      ("SELECT c_mktsegment, c_custkey, rnk, drnk, prnk FROM (" +
        "SELECT c_mktsegment, c_custkey, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        pr("percent_rank() OVER w", 6) + " AS prnk " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)) t " +
        "WHERE rnk <= 5 ORDER BY c_mktsegment, rnk, c_custkey"),
    "x19_first_last_order" ->
      // undated orders excluded — an order with no date cannot be a
      // customer's temporally-first or -last purchase (engine mirrors;
      // same convention as monthlyOrders)
      ("SELECT DISTINCT o_custkey, " +
        "first_value(o_totalprice) OVER w AS first_price, " +
        "last_value(o_totalprice) OVER w AS last_price " +
        "FROM orders WHERE o_orderdate IS NOT NULL " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey"),
    "x20_nation_coverage" ->
      ("SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.n_cust, s.n_supp FROM " +
        "(SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c " +
        "FULL OUTER JOIN " +
        "(SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s " +
        "ON c.nationkey = s.nationkey ORDER BY nationkey NULLS FIRST"),
    "x21_above_avg_orders" ->
      ("SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price " +
        "FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "x22_urgent_customers" ->
      ("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN " +
        "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') ORDER BY c_custkey"),
    "x23_revenue_by_brand" ->
      ("SELECT p_brand, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, " +
        "count(DISTINCT s_suppkey) AS n_suppliers FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "x24_union_semantics" ->
      ("SELECT (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') t) AS n_union_all, " +
        "(SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') t) AS n_union_distinct"),

    // o_orderdate is OUTPUT raw here (the one oracle that does); the
    // canonical-type prelude (withCanon) already pins it to TIMESTAMP, so
    // a DATE-re-typed fixture can't fail the compare on type alone.
    "x25_shipping_priority" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "x26_local_supplier_volume" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),

    "m1_standard_scale" ->
      ("WITH s AS (SELECT avg(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END) AS m, " +
        "stddev_pop(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END) AS sd FROM customer) " +
        "SELECT c_custkey, " + pr("CASE WHEN sd = 0 THEN 0.0 ELSE (c_acctbal - m) / sd END", 6) + " AS acctbal_z " +
        "FROM customer, s ORDER BY c_custkey"),
    "m2_minmax_scale" ->
      ("WITH s AS (SELECT min(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS mn, " +
        "max(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS mx FROM orders) " +
        "SELECT o_orderkey, " + pr("CASE WHEN mx = mn THEN 0.0 ELSE (o_totalprice - mn) / (mx - mn) END", 6) + " AS price_mm " +
        "FROM orders, s ORDER BY o_orderkey"),
    "m3_robust_scale" ->
      ("WITH s AS (SELECT quantile_cont(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END, 0.25) AS q1, " +
        "quantile_cont(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END, 0.5) AS med, " +
        "quantile_cont(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END, 0.75) AS q3 FROM customer) " +
        "SELECT c_custkey, " + pr("(c_acctbal - med) / (CASE WHEN q3 = q1 THEN 1.0 ELSE q3 - q1 END)", 6) + " AS acctbal_rs " +
        "FROM customer, s ORDER BY c_custkey"),
    // static form enumerates the clean fixture's domain (AUTOMOBILE
    // dropped as first); Verify overlays the fit-time-aware regeneration
    // (oracleSqlDynamic / m4OracleFor) so a drifted or hostile fixture's
    // observed domain replaces this enumeration at dump time
    "m4_onehot" ->
      ("SELECT c_custkey, " +
        Seq("BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(c =>
          s"CASE WHEN c_mktsegment = '$c' THEN 1 ELSE 0 END AS c_mktsegment_$c")
          .mkString(", ") +
        " FROM customer ORDER BY c_custkey"),
    "m6_stratified_split" ->
      ("SELECT c_mktsegment, CASE WHEN c_custkey % 5 = 0 THEN 'test' ELSE 'train' END AS split, " +
        "count(*) AS n FROM customer GROUP BY 1, 2 ORDER BY c_mktsegment, split"),
    "m7_fold_assign" ->
      ("SELECT c_mktsegment, CAST(c_custkey % 5 AS INTEGER) AS fold, count(*) AS n " +
        "FROM customer GROUP BY 1, 2 ORDER BY c_mktsegment, fold"),
    "m15_binary_metrics" ->
      ("WITH p AS (SELECT quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.5) AS med FROM orders), " +
        "t AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "CASE WHEN o_totalprice IS NULL THEN NULL WHEN isnan(o_totalprice) THEN 1 WHEN o_totalprice > med THEN 1 ELSE 0 END AS yhat FROM orders, p), " +
        "c AS (SELECT CAST(sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
        "CAST(sum(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn FROM t) " +
        "SELECT tp, fp, tn, fn, " +
        pr("CAST(tp + tn AS DOUBLE) / CAST(tp + fp + tn + fn AS DOUBLE)", 6) + " AS accuracy, " +
        "CASE WHEN tp + fp = 0 THEN 0.0 ELSE " + pr("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)", 6) + " END AS precision, " +
        "CASE WHEN tp + fn = 0 THEN 0.0 ELSE " + pr("CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)", 6) + " END AS recall, " +
        "CASE WHEN 2*tp + fp + fn = 0 THEN 0.0 ELSE " + pr("CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)", 6) + " END AS f1 " +
        "FROM c"),
    "m16_confusion_matrix" ->
      ("WITH p AS (SELECT quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.5) AS med FROM orders) " +
        "SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "CASE WHEN o_totalprice IS NULL THEN NULL WHEN isnan(o_totalprice) THEN 1 WHEN o_totalprice > med THEN 1 ELSE 0 END AS yhat, count(*) AS n " +
        "FROM orders, p GROUP BY 1, 2 ORDER BY y, yhat"),
    "m17_champion_select" ->
      ("WITH p AS (SELECT quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.5) AS med FROM orders), " +
        "t AS (SELECT c_mktsegment AS model, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "CASE WHEN o_totalprice IS NULL THEN NULL WHEN isnan(o_totalprice) THEN 1 WHEN o_totalprice > med THEN 1 ELSE 0 END AS yhat " +
        "FROM orders, p JOIN customer ON o_custkey = c_custkey), " +
        "m AS (SELECT model, CAST(sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn FROM t GROUP BY model), " +
        "f AS (SELECT model, CASE WHEN 2*tp + fp + fn = 0 THEN 0.0 ELSE " +
        pr("CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)", 6) + " END AS f1 FROM m) " +
        "SELECT model, f1 FROM f WHERE f1 >= 0.05 ORDER BY f1 DESC, model LIMIT 1"),
    "m18_auc_rank" ->
      ("WITH r AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn FROM orders), " +
        "s AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) AS DOUBLE) AS n, " +
        "CAST(sum(CASE WHEN y = 1 THEN rn ELSE 0 END) AS DOUBLE) AS sr FROM r) " +
        "SELECT " + pr("CASE WHEN n1 * (n - n1) = 0 THEN 0.0 " +
          "ELSE (sr - n1 * (n1 + 1.0) / 2.0) / (n1 * (n - n1)) END", 6) + " AS auc FROM s"),
    "m19_segment_auc" ->
      ("WITH l AS (SELECT c_mktsegment AS model, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, o_totalprice, o_orderkey " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "r AS (SELECT model, y, row_number() OVER (PARTITION BY model " +
        "ORDER BY o_totalprice, o_orderkey) AS rn FROM l), " +
        "s AS (SELECT model, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "CAST(count(*) - sum(y) AS BIGINT) AS n_neg, " +
        "CAST(sum(CASE WHEN y = 1 THEN rn ELSE 0 END) AS BIGINT) AS sum_rank FROM r GROUP BY model) " +
        "SELECT model, n_pos, n_neg, CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0 ELSE " +
        pr("(CAST(sum_rank AS DOUBLE) - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0) " +
          "/ (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))", 6) +
        " END AS auc FROM s ORDER BY model"),
    "d29_unigram_surprisal" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "cnt AS (SELECT term, count(*) AS ct FROM tok GROUP BY 1), " +
        "tot AS (SELECT count(*) AS total FROM tok), " +
        "m AS (SELECT doc_id, CAST(floor(-ln(CAST(ct AS DOUBLE) / CAST(total AS DOUBLE)) " +
        "* 1000000 + 0.5) AS BIGINT) AS micro " +
        "FROM tok JOIN cnt USING(term) CROSS JOIN tot) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        pr("CAST(sum(micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6) +
        " AS surprisal FROM m GROUP BY doc_id ORDER BY doc_id"),
    "d31_repetition_ratio" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 2), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t), " +
        "cnt AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2), " +
        "ranked AS (SELECT doc_id, bigram, n, " +
        "CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rn FROM cnt) " +
        "SELECT doc_id, n_bigrams, bigram AS top_bigram, CAST(n AS BIGINT) AS top_n, " +
        pr("CAST(n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)", 6) + " AS rep_ratio " +
        "FROM ranked WHERE rn = 1 ORDER BY doc_id"),
    "d32_lexical_diversity" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types, " +
        pr("CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / " +
          "CAST(len(string_split(text, ' ')) AS DOUBLE)", 6) + " AS ttr " +
        "FROM documents ORDER BY doc_id"),
    // d50: replays the full distillation — weak label (the d27 gate),
    // fixed-edge bins, Laplace-smoothed count-NB weights micro-quantized
    // exactly as the Spark side (the d29 floor(x*1e6 + 0.5) pattern), then
    // the per-doc INTEGER micro sum. ln() differs <= 1 ulp between libms;
    // quantization absorbs it (see QualityModel's determinism contract).
    // SELF-DISTILLATION ONLY: the score join `s` inner-joins to weights
    // derived from OBSERVED (feat, bin) counts, which is exactly
    // equivalent here because train corpus == score corpus (every scored
    // bin was observed). A held-out-scoring variant must NOT reuse this
    // SQL unchanged: docs with training-unseen bins would drop out of the
    // inner join, while the Scala side scores them with smoothed weights
    // over each feature's FULL declared bin range.
    "d50_quality_scores" ->
      ("WITH f AS (SELECT doc_id, " +
        "len(string_split(text, ' ')) AS n_tok, " +
        "len(replace(text, ' ', '')) AS non_space, " +
        "len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct, " +
        "len(text) AS n_len, " +
        "len(list_distinct(string_split(text, ' '))) AS n_types FROM documents), " +
        "b AS (SELECT doc_id, " +
        "(n_tok >= 10 AND CAST(non_space AS DOUBLE) / n_tok >= 2.0 " +
        "AND CAST(non_space AS DOUBLE) / n_tok <= 15.0 " +
        "AND CAST(n_punct AS DOUBLE) / n_len <= 0.1) AS label, " +
        "CASE WHEN n_tok < 10 THEN 0 WHEN n_tok < 50 THEN 1 " +
        "WHEN n_tok < 200 THEN 2 ELSE 3 END AS b_len, " +
        "CASE WHEN CAST(non_space AS DOUBLE) / n_tok < 2.0 THEN 0 " +
        "WHEN CAST(non_space AS DOUBLE) / n_tok < 5.0 THEN 1 " +
        "WHEN CAST(non_space AS DOUBLE) / n_tok <= 15.0 THEN 2 ELSE 3 END AS b_tok, " +
        "CASE WHEN CAST(n_punct AS DOUBLE) / n_len <= 0.02 THEN 0 " +
        "WHEN CAST(n_punct AS DOUBLE) / n_len <= 0.1 THEN 1 ELSE 2 END AS b_punct, " +
        "CASE WHEN CAST(n_types AS DOUBLE) / n_tok < 0.3 THEN 0 " +
        "WHEN CAST(n_types AS DOUBLE) / n_tok < 0.6 THEN 1 " +
        "WHEN CAST(n_types AS DOUBLE) / n_tok < 0.9 THEN 2 ELSE 3 END AS b_ttr " +
        "FROM f), " +
        "l AS (SELECT doc_id, label, 'b_len' AS feat, b_len AS bin, 4 AS nb FROM b " +
        "UNION ALL SELECT doc_id, label, 'b_tok', b_tok, 4 FROM b " +
        "UNION ALL SELECT doc_id, label, 'b_punct', b_punct, 3 FROM b " +
        "UNION ALL SELECT doc_id, label, 'b_ttr', b_ttr, 4 FROM b), " +
        "cls AS (SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS npos, " +
        "sum(CASE WHEN label THEN 0 ELSE 1 END) AS nneg FROM b), " +
        "c AS (SELECT feat, bin, nb, " +
        "sum(CASE WHEN label THEN 1 ELSE 0 END) AS np, " +
        "sum(CASE WHEN label THEN 0 ELSE 1 END) AS nn " +
        "FROM l GROUP BY feat, bin, nb), " +
        "w AS (SELECT feat, bin, CAST(floor((ln(np + 1) - ln(npos + nb) " +
        "- ln(nn + 1) + ln(nneg + nb)) * 1000000 + 0.5) AS BIGINT) AS wm " +
        "FROM c, cls), " +
        "p AS (SELECT CAST(floor((ln(npos + 1) - ln(nneg + 1)) * 1000000 + 0.5) " +
        "AS BIGINT) AS pm FROM cls), " +
        "s AS (SELECT l.doc_id, sum(w.wm) AS sw FROM l " +
        "JOIN w ON l.feat = w.feat AND l.bin = w.bin GROUP BY l.doc_id) " +
        "SELECT s.doc_id, CAST(s.sw + p.pm AS DOUBLE) / 1000000.0 AS quality_score, " +
        "(s.sw + p.pm) > 0 AS model_keep FROM s, p ORDER BY doc_id"),
    "d33_chunked_docs" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL), " +
        "e AS (SELECT doc_id, unnest(range(0, greatest(1, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1))) AS chunk_id, toks FROM t), " +
        "c AS (SELECT doc_id, chunk_id, " +
        "list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50) AS c FROM e) " +
        "SELECT doc_id, chunk_id, CAST(len(c) AS BIGINT) AS n_chunk_tokens, " +
        "md5(array_to_string(c, ' ')) AS chunk_hash " +
        "FROM c ORDER BY doc_id, chunk_id"),
    "d34_embedding_centroids" ->
      ("WITH x AS (SELECT vec_id % 8 AS cluster, unnest(embedding) AS v, " +
        "unnest(range(1, len(embedding) + 1)) - 1 AS idx FROM embeddings), " +
        "s AS (SELECT cluster, CAST(idx AS BIGINT) AS idx, " +
        pr("CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) " +
          "/ CAST(count(*) AS DOUBLE) / 1000000.0", 6) + " AS avg_val " +
        "FROM x GROUP BY 1, 2), " +
        "n AS (SELECT vec_id % 8 AS cluster, count(*) AS n_vecs FROM embeddings GROUP BY 1) " +
        "SELECT s.cluster, n.n_vecs, s.idx, s.avg_val FROM s JOIN n USING(cluster) " +
        "ORDER BY cluster, idx"),
    "d35_dedup_components" ->
      ("WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks " +
        "FROM documents WHERE doc_id < 60), " +
        "e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM t a, t b " +
        "WHERE a.doc_id < b.doc_id AND " +
        pr("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)", 6) + " >= 0.5), " +
        "sym AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e), " +
        "reach(id, comp) AS (" +
        "SELECT doc_id, doc_id FROM (SELECT doc_id FROM documents WHERE doc_id < 60) " +
        "UNION " +
        "SELECT sym.dst, reach.comp FROM reach JOIN sym ON sym.src = reach.id) " +
        "SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component " +
        "FROM reach GROUP BY id ORDER BY doc_id"),
    "d62_component_split" ->
      // d35's transitive closure + d58's md5 fences, over the
      // REPRESENTATIVE's text; docs outside the bounded evidence range
      // are singletons (LEFT JOIN misses → rep = self). NULL doc_id has
      // no identity in a grouped split — the engine filters NULL rep_id,
      // the oracle groups it out the same way. The engine computes the
      // fence BEFORE its rep join (narrow (rep_id, split) shuffle — same
      // bits, splitColumn is pure in text); the oracle fences after its
      // join. The representative join is LEFT so both engines agree on
      // the stale-rep contract too: a component whose representative is
      // absent from docs (possible only when d62 is wired to an
      // EXTERNALLY-built components relation — the declared wiring's
      // comp = min member id is always a doc) quarantines as NULL split
      // in both, rather than the row silently dropping oracle-side only.
      ("WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks " +
        "FROM documents WHERE doc_id < 60), " +
        "e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM t a, t b " +
        "WHERE a.doc_id < b.doc_id AND " +
        pr("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)", 6) + " >= 0.5), " +
        "sym AS (SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e), " +
        "reach(id, comp) AS (" +
        "SELECT doc_id, doc_id FROM (SELECT doc_id FROM documents WHERE doc_id < 60) " +
        "UNION " +
        "SELECT sym.dst, reach.comp FROM reach JOIN sym ON sym.src = reach.id), " +
        "cmp AS (SELECT id, CAST(min(comp) AS BIGINT) AS comp FROM reach GROUP BY id), " +
        "a AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep_id " +
        "FROM documents d LEFT JOIN cmp c ON d.doc_id = c.id) " +
        "SELECT a.doc_id, a.rep_id, CASE WHEN rd.text IS NULL THEN NULL " +
        "WHEN substr(md5(rd.text), 1, 2) < 'cc' THEN 'train' " +
        "WHEN substr(md5(rd.text), 1, 2) < 'e6' THEN 'val' " +
        "ELSE 'test' END AS split " +
        // rep_id IS NOT NULL: the inner-join form dropped NULL-identity
        // rows implicitly; the LEFT form must keep that contract explicit
        // (the engine filters NULL rep_id the same way)
        "FROM a LEFT JOIN documents rd ON a.rep_id = rd.doc_id " +
        "WHERE a.rep_id IS NOT NULL " +
        "ORDER BY a.doc_id, split, a.rep_id"),
    "d36_funnel_steps" ->
      ("WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "s0 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t " +
        "FROM e GROUP BY user_id), " +
        "s1 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'click' AND e.ts > s0.t " +
        "THEN e.ts END) AS t FROM e JOIN s0 ON e.user_id = s0.user_id GROUP BY e.user_id), " +
        "s2 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'purchase' AND e.ts > s1.t " +
        "THEN e.ts END) AS t FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id) " +
        "SELECT CAST(0 AS BIGINT) AS step, 'signup' AS step_name, count(t) AS n_users FROM s0 " +
        "UNION ALL SELECT CAST(1 AS BIGINT), 'click', count(t) FROM s1 " +
        "UNION ALL SELECT CAST(2 AS BIGINT), 'purchase', count(t) FROM s2 ORDER BY step"),
    "d37_gapfilled_hourly" ->
      // ts IS NOT NULL: a NULL event time belongs to no hour, and a type
      // occurring only with NULL ts must not get a phantom spine series
      // (engine mirrors via bucketable)
      ("WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, " +
        "CASE WHEN isfinite(value) THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents " +
        "FROM events WHERE ts IS NOT NULL), " +
        "agg AS (SELECT hour, event_type, count(*) AS n, " +
        "CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value_mass FROM e GROUP BY 1, 2), " +
        "bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM agg), " +
        "spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds), " +
        "grid AS (SELECT s.hour, t.event_type FROM spine s " +
        "CROSS JOIN (SELECT DISTINCT event_type FROM e) t), " +
        "j AS (SELECT g.hour, g.event_type, coalesce(a.n, 0) AS n, a.value_mass " +
        "FROM grid g LEFT JOIN agg a ON g.hour = a.hour AND g.event_type = a.event_type) " +
        "SELECT hour, event_type, CAST(n AS BIGINT) AS n, " +
        "last_value(value_mass IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_mass " +
        "FROM j ORDER BY hour, event_type"),
    "m20_calibration_bins" ->
      ("WITH s AS (SELECT o_totalprice, " +
        "row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn, " +
        "count(*) OVER () AS n FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)), " +
        "med AS (SELECT avg(o_totalprice) AS med FROM s " +
        "WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1), " +
        "sc AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, " +
        "floor((1.0 / (1.0 + exp(-((o_totalprice - med) / 10000.0)))) * 1000000.0 + 0.5) / 1000000.0 AS score " +
        "FROM orders, med) " +
        "SELECT CASE WHEN isfinite(score) THEN CAST(least(floor(score * 10), 9) AS BIGINT) END AS bin, count(*) AS n, " +
        "CAST(sum(y) AS BIGINT) AS n_pos, " +
        pr("CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6) + " AS frac_pos, " +
        pr("CAST(sum(CASE WHEN isfinite(score) THEN CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE) " +
          "/ CAST(count(*) AS DOUBLE) / 1000000.0", 6) + " AS mean_score " +
        "FROM sc GROUP BY 1 ORDER BY bin"),
    "x32_exists_big_spenders" ->
      ("SELECT c_custkey, c_mktsegment FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 400000.0) ORDER BY c_custkey"),
    "x33_nearby_order_mass" ->
      ("WITH b AS (SELECT o_orderkey, o_custkey, " +
        "date_diff('day', DATE '1970-01-01', o_orderdate) AS d, " +
        "CASE WHEN isfinite(o_totalprice) THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents FROM orders) " +
        "SELECT o_orderkey, o_custkey, " +
        "CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY d " +
        "RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS BIGINT) AS n_nearby, " +
        "CAST(CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d " +
        "RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS BIGINT) AS DOUBLE) / 100.0 AS nearby_mass " +
        "FROM b ORDER BY o_orderkey"),

    "d20_dedup_docs" ->
      // NULL text is unknown content, not known-equal: such rows pass
      // through undeduped (they carry their doc_id as identity); a row
      // with BOTH text and doc_id NULL has no identity and is dropped
      // (engine mirrors, single-scan keyed form)
      ("SELECT doc_id, lang, source, n_chars FROM (" +
        "SELECT doc_id, lang, source, n_chars, text, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents) t " +
        "WHERE (text IS NOT NULL AND rn = 1) " +
        "OR (text IS NULL AND doc_id IS NOT NULL) ORDER BY doc_id"),
    "d21_embedding_neardups" ->
      ("WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings " +
        "WHERE vec_id < 300) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        pr("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * " +
          "sqrt(list_dot_product(b.e, b.e)))", 6) + " AS cos_sim " +
        "FROM s a, s b WHERE a.vec_id < b.vec_id AND len(a.e) = len(b.e) AND " +
        pr("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * " +
          "sqrt(list_dot_product(b.e, b.e)))", 6) + " >= 0.2 " +
        "ORDER BY id_a, id_b"),
    "x28_nation_pair_volume" ->
      ("SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation, " +
        "CAST(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1.0 - l_discount)) " +
        "THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) END) " +
        "AS BIGINT) AS DOUBLE) / 100.0 AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE n1.n_name <> n2.n_name " +
        "GROUP BY 1, 2 ORDER BY cust_nation, supp_nation"),
    "x29_bucketed_segment_spend" ->
      ("SELECT c_mktsegment, " +
        "CAST(CAST(sum(CASE WHEN isfinite(o_totalprice) THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END) AS BIGINT) AS DOUBLE) / 100.0 " +
        "AS spend, count(*) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1 ORDER BY c_mktsegment"),
    "x35_salted_segment_spend" ->
      // same relation as x29 — the salted rewrite must be join-equivalent
      ("SELECT c_mktsegment, " +
        "CAST(CAST(sum(CASE WHEN isfinite(o_totalprice) THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END) AS BIGINT) AS DOUBLE) / 100.0 " +
        "AS spend, count(*) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1 ORDER BY c_mktsegment"),
    "x30_asof_last_order" ->
      ("SELECT event_id, user_id, o_orderkey AS last_orderkey, o_totalprice AS last_price " +
        "FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id " +
        "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
        "FROM events e JOIN orders o ON e.user_id = o.o_custkey " +
        "AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)) " +
        "WHERE rn = 1 ORDER BY event_id"),
    // x34 is the SAME point-in-time lookup through the bucketed rewrite —
    // deliberately shares x30's oracle so the rewrite is hash-verified
    "x34_asof_bucketed" ->
      ("SELECT event_id, user_id, o_orderkey AS last_orderkey, o_totalprice AS last_price " +
        "FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id " +
        "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
        "FROM events e JOIN orders o ON e.user_id = o.o_custkey " +
        "AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)) " +
        "WHERE rn = 1 ORDER BY event_id"),
    "x31_attribution_window" ->
      ("SELECT o_orderkey, count(e.user_id) AS n_events, " +
        "CAST(sum(CASE WHEN isfinite(e.value) THEN CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 100.0 AS value_mass " +
        "FROM orders o LEFT JOIN events e ON e.user_id = o.o_custkey " +
        "AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate " +
        "AND CAST(e.ts AS TIMESTAMP) < o.o_orderdate + INTERVAL 7 DAY " +
        "GROUP BY o_orderkey ORDER BY o_orderkey"),
    "d24_tfidf_top_terms" ->
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "lt AS (SELECT lang, term, sum(tf) AS total_tf FROM tf GROUP BY 1, 2), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT lang, term, CAST(total_tf AS BIGINT) AS total_tf, df, " +
        "floor(CAST(total_tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS tfidf " +
        "FROM lt JOIN dft USING(term) CROSS JOIN n) " +
        "SELECT lang, rnk, term, total_tf, df, tfidf FROM " +
        "(SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rnk, " +
        "term, total_tf, df, tfidf FROM scored) WHERE rnk <= 5 ORDER BY lang, rnk"),
    "d25_length_quantiles" ->
      ("SELECT lang, quantile_cont(n_chars, 0.25) AS p25_chars, " +
        "quantile_cont(n_chars, 0.5) AS p50_chars, " +
        "quantile_cont(n_chars, 0.75) AS p75_chars, " +
        "quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25) AS iqr_chars, " +
        "count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang"),
    "d26_bigram_top" ->
      ("WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL), " +
        "b AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t WHERE len(toks) >= 2) " +
        "SELECT bigram, count(*) AS n FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 15"),
    "d27_quality_filter" ->
      ("WITH q AS (SELECT lang, n_chars, " +
        "len(string_split(text, ' ')) AS n_tok, " +
        "len(replace(text, ' ', '')) AS non_space, " +
        "len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct, " +
        "len(text) AS n_len FROM documents), " +
        "k AS (SELECT lang, n_chars, (n_tok >= 10 " +
        "AND CAST(non_space AS DOUBLE) / n_tok >= 2.0 " +
        "AND CAST(non_space AS DOUBLE) / n_tok <= 15.0 " +
        "AND CAST(n_punct AS DOUBLE) / n_len <= 0.1) AS keep FROM q) " +
        "SELECT lang, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_drop, " +
        "CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars " +
        "FROM k GROUP BY lang ORDER BY lang"),
    "d23_subword_tokens" ->
      // [a-zA-Z]: a lowercase-only run class would count each uppercase
      // letter as a one-char punctuation token (engine mirrors)
      ("SELECT lang, CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))) AS BIGINT) " +
        "AS total_subword_tokens, " +
        "round(avg(CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS DOUBLE)), 4) " +
        "AS avg_subword_tokens FROM documents GROUP BY lang ORDER BY lang"),
    "x27_grouping_sets" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS sum_price, " +
        "CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, gid"),
    "d1_dedup_groups" ->
      // hashable documents only — NULL text carries no identity (engine
      // mirrors; dedup passes such rows through undeduped)
      ("SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY text_hash"),
    "d2_dedup_stats" ->
      ("SELECT lang, count(DISTINCT text) AS n_unique, count(*) AS n_total " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "d3_token_stats" ->
      ("SELECT lang, count(*) AS n_docs, round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars, " +
        "round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "d4_stopword_ratio" ->
      ("SELECT lang, " +
        pr("CAST(sum(len(list_filter(string_split(text, ' '), t -> t IN " +
          "('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it', 'on', 'for')))) AS DOUBLE) / " +
          "CAST(sum(len(string_split(text, ' '))) AS DOUBLE)", 6) + " AS stopword_ratio, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "d5_quality_features" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct, " +
        pr("CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)", 4) +
        " AS avg_token_len FROM documents ORDER BY doc_id"),
    "d6_fingerprints" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "d7_token_frequency" ->
      ("SELECT token, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS token " +
        "FROM documents) t GROUP BY token ORDER BY n DESC, token LIMIT 20"),
    "d8_lang_source_matrix" ->
      ("SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY lang, source ORDER BY lang, source"),
    "d58_hash_split" ->
      // content-addressed split: both engines md5 the UTF-8 bytes of
      // `text` and compare the first hex BYTE lexicographically against
      // the 204/230-of-256 fences (≈80/10/10) — no hex→int parsing, which
      // engines disagree on. NULL text → NULL split (quarantine, not a
      // silent 'test' bucket); the split tie-break in ORDER BY covers a
      // fixture with duplicated doc_ids (hostile replay).
      ("SELECT doc_id, CASE WHEN text IS NULL THEN NULL " +
        "WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train' " +
        "WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id, split"),
    "d61_epoch_shuffle" ->
      // seeded md5 permutation; the engine assigns ranks via distributed
      // order statistics (no global window) — the oracle's row_number is
      // the semantic spec, not the plan shape. NULL doc_id has no
      // identity in a permutation (engine mirrors the drop).
      ("SELECT CAST(row_number() OVER (ORDER BY md5('17:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank, " +
        "doc_id, md5('17:' || CAST(doc_id AS VARCHAR)) AS shuffle_key " +
        "FROM documents WHERE doc_id IS NOT NULL ORDER BY shuffle_rank"),
    "d63_epoch_packed" ->
      // d61's permutation (rank − 1 = ord) joined onto d33's chunks, then
      // d41's next-fit recursion with the pack GROUP and the within-group
      // walk both keyed on ord instead of doc_id — the composed
      // data-loader semantics. chunk_ids orders by (ord, chunk_id): pack
      // order, which for ord = doc_id degenerates to d41's listing.
      ("WITH RECURSIVE rk AS (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY md5('17:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS ord " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL), " +
        "e AS (SELECT doc_id, unnest(range(0, greatest(1, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1))) AS chunk_id, toks FROM t), " +
        "c AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
        "CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS BIGINT) AS n FROM e), " +
        "j AS (SELECT rk.ord, c.doc_id, c.chunk_id, c.n FROM c JOIN rk USING (doc_id)), " +
        "g AS (SELECT CAST(floor(ord / 50.0) AS BIGINT) AS grp, ord, doc_id, chunk_id, n, " +
        "row_number() OVER (PARTITION BY CAST(floor(ord / 50.0) AS BIGINT) ORDER BY ord, chunk_id) AS rn FROM j), " +
        "pack(grp, rn, ord, doc_id, chunk_id, n, seq, fill) AS (" +
        "SELECT grp, rn, ord, doc_id, chunk_id, n, CAST(0 AS BIGINT), n FROM g WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT g.grp, g.rn, g.ord, g.doc_id, g.chunk_id, g.n, " +
        "CASE WHEN p.fill + g.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
        "CASE WHEN p.fill + g.n > 512 THEN g.n ELSE p.fill + g.n END " +
        "FROM pack p JOIN g ON g.grp = p.grp AND g.rn = p.rn + 1) " +
        "SELECT CAST(grp * 1000000 + seq AS BIGINT) AS seq_id, " +
        "CAST(count(*) AS BIGINT) AS n_chunks, " +
        "string_agg(doc_id || ':' || chunk_id, ',' ORDER BY ord, chunk_id) AS chunk_ids, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens, " +
        pr("CAST(sum(n) AS DOUBLE) / CAST(512 AS DOUBLE)", 6) + " AS fill_ratio " +
        "FROM pack GROUP BY grp, seq ORDER BY seq_id"),
    "d9_props_summary" ->
      // json_valid guard: Spark's from_json is PERMISSIVE (malformed
      // payload → NULL row, skipped by sum); DuckDB's json_extract_string
      // ERRORS on malformed JSON — guard to the same skip-the-broken-record
      // semantics. TRY_CAST for the value itself: valid JSON with a
      // non-numeric $.k casts to NULL (skipped) in Spark's PERMISSIVE
      // from_json+cast, while a plain DuckDB CAST would error — TRY_CAST
      // restores full skip-the-broken-record parity.
      ("SELECT event_type, CAST(sum(CASE WHEN json_valid(props) " +
        "THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k, " +
        "count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"),
    "d10_hourly_events" ->
      ("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, count(*) AS n, " +
        "CAST(sum(CASE WHEN isfinite(value) THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 100.0 AS sum_value " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY hour, event_type"),
    // the streaming drain must land exactly where the batch aggregate
    // does — SAME oracle as d10 (lambda-architecture parity)
    "d51_stream_hourly" ->
      ("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, count(*) AS n, " +
        "CAST(sum(CASE WHEN isfinite(value) THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 100.0 AS sum_value " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY hour, event_type"),
    // d11's sessionization with the session-window gap rule (`>=`: an
    // exactly-30-min gap starts a NEW session — windows that only touch
    // don't overlap, so session_window does not merge them; d11's lag
    // rule keeps it). Zero exact-30-min gaps in the fixture at every SF,
    // so both rules yield identical output on the compared data.
    "d52_stream_sessions" ->
      ("WITH g AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) - " +
        "lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us " +
        "FROM events WHERE ts IS NOT NULL) " +
        "SELECT user_id, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id"),
    // the drained append-mode stream-stream join rolled up per user must
    // equal the batch interval self-join: click within the hour BEFORE
    // the purchase, same user; purchase value summed in integer cents
    // (the x28 rule; isfinite mirrors Features.qlong's non-finite→NULL).
    // NULL ts / NULL user_id rows can never satisfy the join predicate
    // in either engine.
    "d54_stream_attribution" ->
      ("SELECT pu.user_id, count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN isfinite(pu.value) THEN CAST(floor(pu.value * 100.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 100.0 AS attributed_value " +
        "FROM events pu JOIN events c ON pu.user_id = c.user_id " +
        "AND pu.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND c.ts >= pu.ts - INTERVAL 1 HOUR AND c.ts <= pu.ts " +
        "GROUP BY pu.user_id ORDER BY pu.user_id"),
    // each event expands to its 4 covering sliding windows (k = 0..3
    // slides back from the event's 15-min grid floor); time_bucket's
    // 2000-01-01 origin is epoch-15-min-aligned, so the grid matches
    // Spark's epoch-anchored window() exactly, negative epochs included
    "d56_stream_sliding" ->
      ("SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) " +
        "- k.k * INTERVAL '15 minutes' AS w_start, " +
        "time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) " +
        "- k.k * INTERVAL '15 minutes' + INTERVAL '1 hour' AS w_end, " +
        "event_type, count(*) AS n " +
        "FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k " +
        "WHERE ts IS NOT NULL " +
        "GROUP BY 1, 2, 3 ORDER BY w_start, event_type"),
    // the drained custom-keyed-state totals must equal the batch per-user
    // rollup: rows admitted iff user_id keyed AND value finite (isfinite
    // mirrors the operator's finiteOrNull gate — and qlong's non-finite→
    // NULL pre-map admits exactly the same rows); value summed in integer
    // cents (the x28 rule, matching the d55 pre-quantization).
    "d55_user_running_totals" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value " +
        "FROM events WHERE user_id IS NOT NULL AND isfinite(value) " +
        "GROUP BY user_id ORDER BY user_id"),
    "d11_session_counts" ->
      ("WITH g AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) - " +
        "lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us " +
        "FROM events WHERE ts IS NOT NULL) " +
        "SELECT user_id, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id"),
    "d12_value_profile" ->
      // mean over the FINITE sample count, not count(*) — a NULL/NaN
      // record must not deflate the drift-monitor mean (engine mirrors)
      ("SELECT event_type, count(*) AS n, " +
        pr("CAST(sum(CASE WHEN isfinite(value) THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS DOUBLE) " +
          "/ 100.0 / CAST(count(CASE WHEN isfinite(value) THEN 1 END) AS DOUBLE)", 4) + " AS mean_value, " +
        "round(stddev_samp(value), 4) AS std_value, round(min(value), 2) AS min_value, " +
        "round(max(value), 2) AS max_value FROM events GROUP BY event_type ORDER BY event_type"),
    "d60_cohort_retention" ->
      // day-granularity retention triangle; NULL ts belongs to no day
      // (the d10/d11 bucketable contract), NULL user_id has no cohort
      // identity and null-rejects at the inner join in both engines; day
      // arithmetic is exact integers end to end
      ("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events " +
        "WHERE ts IS NOT NULL), " +
        "f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id) " +
        "SELECT f.cohort_day, date_diff('day', f.cohort_day, e.d) AS day_offset, " +
        "count(DISTINCT e.user_id) AS n_active " +
        "FROM e JOIN f ON e.user_id = f.user_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "d13_jaccard_pairs" ->
      ("WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks " +
        "FROM documents WHERE doc_id < 60) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        pr("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)", 6) + " AS jaccard " +
        "FROM t a, t b WHERE a.doc_id < b.doc_id " +
        "AND " + pr("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)", 6) + " >= 0.5 " +
        "ORDER BY id_a, id_b"),
    "d14_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT query_id, vec_id AS nbr_id, " +
        pr("list_dot_product(qe, CAST(embedding AS DOUBLE[])) / " +
          "(sqrt(list_dot_product(qe, qe)) * " +
          "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))", 6) +
        // len-equality guard: the engine's cosine kernel yields NULL on
        // mismatched vector lengths (ranked last, never in a top-k with a
        // full candidate pool); DuckDB's list_dot_product ERRORS instead
        " AS cos_sim FROM embeddings, q WHERE vec_id <> query_id " +
        "AND len(embedding) = len(qe)) " +
        "SELECT query_id, nbr_id, cos_sim, rank FROM " +
        // cos_sim IS NOT NULL: zero-norm embeddings divide 0/0 → NULL in
        // both engines (the kernel's explicit undefined case) and are not
        // rankable candidates
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id) AS rank " +
        "FROM c WHERE cos_sim IS NOT NULL) t " +
        "WHERE rank <= 5 ORDER BY query_id, rank"),
    "d18_multimodal_meta" ->
      // ((x%3)+3)%3 = positive modulus, matching the engine's pmod (a
      // plain % keeps the dividend's sign for negative ids); NULL-id
      // documents never become assets (assetSchema's non-null asset_id)
      ("SELECT CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN 'image' " +
        "WHEN ((doc_id % 3) + 3) % 3 = 1 THEN 'audio' " +
        "ELSE 'video' END AS modality, count(*) AS n, " +
        "CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE doc_id IS NOT NULL GROUP BY 1 ORDER BY modality"),
    // sampled-frame count = ((byte_len - 1) // 64) // 2 + 1 for non-empty
    // payloads (last frame index halved, + 1 for frame 0), 0 for NULL or
    // empty text. `//` on nonnegative BIGINTs is floor — the truncate-vs-
    // floor divergence needs a negative operand, impossible here.
    "d57_frame_stats" ->
      ("SELECT doc_id, CAST(CASE WHEN text IS NULL OR octet_length(encode(text)) = 0 " +
        "THEN 0 ELSE ((octet_length(encode(text)) - 1) // 64) // 2 + 1 END AS BIGINT) " +
        "AS n_frames FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id"),
  )

  /** DuckDB spelling of each canonical Spark numeric type. Total over the
    * types `Tables.canonicalNumeric` uses; a new canonical type without a
    * pinned spelling fails loudly at object init, not silently at the
    * gate. */
  private def duckType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => "INTEGER"
      case LongType    => "BIGINT"
      case DoubleType  => "DOUBLE"
      case other => throw new IllegalStateException(
        s"no DuckDB spelling pinned for canonical type $other — extend " +
          "SparkEntry.duckType alongside the Tables.canonicalNumeric re-pin")
    }
  }

  /** Canonical-type CTE prelude for the oracle side, GENERATED from the
    * same maps the engine loaders consume (`Tables.canonicalNumeric`,
    * `Tables.canonicalTemporal`, `Tables.canonicalEmbedding`) so re-pinning
    * the drift contract after a real regeneration edits exactly one place —
    * the Spark side and the DuckDB oracle cannot de-sync. One CTE per
    * fixture table shadows the raw DuckDB view and re-types every
    * drift-exposed column to its canonical shape: integer widths and
    * measures→DOUBLE, the date/ts family → TIMESTAMP (DuckDB's
    * TIMESTAMP_NS→TIMESTAMP cast floors, matching `Tables.nsToUsFloor`;
    * TIMESTAMPTZ→TIMESTAMP re-labels under the pinned-UTC oracle session),
    * `embedding` → FLOAT[]. On today's fixture every cast is a no-op
    * (value- and dtype-identical, re-verified at the gate); under a drifted
    * fixture both sides canonicalize identically, so a regeneration can't
    * open a Spark-vs-oracle type gap — the general form of the x25
    * `CAST(o_orderdate AS TIMESTAMP)` pin.
    *
    * CTE bodies reference `main.<table>` (schema-qualified names bypass CTE
    * shadowing) so the prelude can be merged into a `WITH RECURSIVE` list
    * without the shadow CTE becoming a self-reference. */
  private val canonCteDefs: String = {
    val tables = (Tables.canonicalNumeric.keySet ++
      Tables.canonicalTemporal.keySet ++ Tables.canonicalEmbedding.keySet)
    tables.toSeq.sorted.map { t =>
      val repl = (
        Tables.canonicalNumeric.getOrElse(t, Seq.empty).map {
          case (c, dt) => s"CAST($c AS ${duckType(dt)}) AS $c" } ++
        Tables.canonicalTemporal.getOrElse(t, Seq.empty).map(c =>
          s"CAST($c AS TIMESTAMP) AS $c") ++
        Tables.canonicalEmbedding.getOrElse(t, Seq.empty).map(c =>
          s"CAST($c AS FLOAT[]) AS $c")
      ).mkString(", ")
      s"$t AS (SELECT * REPLACE ($repl) FROM main.$t)"
    }.mkString(", ")
  }

  /** Merge the canonical prelude into an oracle query, preserving an
    * existing `WITH` / `WITH RECURSIVE` list (RECURSIVE is a property of
    * the whole with-list; non-recursive members are legal under it). */
  private[graft] def withCanon(sql: String): String = {
    val s = sql.trim
    val up = s.toUpperCase
    if (up.startsWith("WITH RECURSIVE"))
      s"WITH RECURSIVE $canonCteDefs, ${s.drop("WITH RECURSIVE".length).trim}"
    else if (up.startsWith("WITH"))
      s"WITH $canonCteDefs, ${s.drop("WITH".length).trim}"
    else
      s"WITH $canonCteDefs $s"
  }

  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (name, sql) => name -> withCanon(sql) }

  /** m4's oracle as a function of the fit-time category domain. The
    * indicator set IS fit-time metadata (sklearn: `fit` DISCOVERS the
    * categories), so a static SQL can only enumerate the clean fixture's
    * domain — the one inherent hostile-replay divergence at round 13
    * (100/101: poisoned data grows a junk-category column no hand-written
    * oracle can know). CASE-not-CAST for the indicator: a NULL segment is
    * NOT a category (pandas get_dummies NaN semantics) and must read 0,
    * while `CAST(NULL = 'X' AS INTEGER)` would read NULL. Junk categories
    * can carry quotes/control chars — escaped for both the string literal
    * (''-doubling) and the quoted column identifier (""-doubling). */
  private[graft] def m4OracleFor(cats: Seq[String]): String = {
    def strLit(v: String) = "'" + v.replace("'", "''") + "'"
    def ident(v: String) = "\"" + v.replace("\"", "\"\"") + "\""
    val cols = cats.drop(1).map(c =>
      s"CASE WHEN c_mktsegment = ${strLit(c)} THEN 1 ELSE 0 END AS " +
        ident("c_mktsegment_" + c))
    (Seq("c_custkey") ++ cols)
      .mkString("SELECT ", ", ", " FROM customer ORDER BY c_custkey")
  }

  /** Fixture-dependent oracles, regenerated by [[Verify]] at dump time
    * against the ACTUAL fixture — the same fixture-derived-prelude idea
    * [[withCanon]] uses for drifted physical types, extended to m4's
    * fit-time category domain. Only the domain (column set) comes from
    * the engine-side fit rule ([[graft.operators.Preprocess
    * .observedCategories]], the exact capped rule the encoder uses); the
    * indicator VALUES are still computed independently by DuckDB. Any
    * generation failure (e.g. the over-cap named error) degrades to the
    * static entry: the query itself lands in errors.json and selfcheck
    * flags it regardless. */
  def oracleSqlDynamic(s: SparkSession, dir: String): Map[String, String] =
    try {
      val cats = graft.operators.Preprocess.observedCategories(
        cust(s, dir), "c_mktsegment")
      Map("m4_onehot" -> withCanon(m4OracleFor(cats)))
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
}
