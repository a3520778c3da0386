package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over EVERY declared query: builds each plan at sf0.001 and
  * rejects physical-plan anti-patterns unless the query is on the
  * documented allowlist. Guards future edits from silently introducing a
  * scale-killer (an unconstrained cartesian product) into the catalog. */
class PlanLintSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  /** Queries whose plan legitimately contains a cartesian join:
    * documented BOUNDED cross joins (both sides capped by an id filter) or
    * broadcast of a 1-row aggregate relation. Everything else must not. */
  private val cartesianAllowed: Set[String] = Set(
    "d13_jaccard_pairs",       // bounded doc_id < 60 both sides (documented)
    "d21_embedding_neardups")  // bounded vec_id < 300 both sides (documented)

  /** Queries whose plan legitimately contains a GLOBAL (unpartitioned)
    * window — the single-task stage every other query must avoid:
    *  - x16_moving_avg: window over the pre-aggregated MONTHLY series —
    *    input rows = #months, bounded by time span, not data volume.
    * m18 is deliberately NOT here anymore: its declared plan is now the
    * partition-offset `aucRankDistributed` (the windowed `aucRank` stays
    * test-only as the oracle cross-check). */
  private val globalWindowAllowed: Set[String] = Set(
    "x16_moving_avg")

  // matches only when the FIRST comma-separated element of the spec is
  // already an order spec (no partition columns before it)
  private val globalWindowRe =
    "windowspecdefinition\\(([^,()]+) (ASC|DESC)".r

  /** Column names that are derived from document CONTENT (shingle/
    * fingerprint/band hashes, tokens): their cardinality and skew follow
    * the data, so a window partitioned by one buffers a content-determined
    * row set in a single task — a boilerplate shingle shared by half the
    * corpus pins one task to half the exploded rows (AQE can split skewed
    * JOIN partitions, never window partitions). df-style counts over such
    * keys must be groupBy partial aggregates (the r5 verdict's d43 fix). */
  private val contentDerivedCols = Set(
    "sh", "__sh2", "fp", "bh", "word", "token", "term", "shingle", "bigram",
    "text", "text_hash")

  // matches `<name>#<exprId>` for any content-derived name — catches a
  // partition element that is an EXPRESSION over a content column (e.g.
  // lower(sh#1), xxhash64(fp#2)), not just a bare column reference
  private val contentColRefRe =
    ("\\b(" + contentDerivedCols.map(java.util.regex.Pattern.quote).mkString("|") + ")#\\d").r

  /** Partition-element text of every windowspecdefinition in the plan:
    * balanced-paren extraction of the full argument list (the old
    * `[^()]*` capture stopped at the first nested paren, truncating any
    * expression-valued element), split on top-level commas, kept up to
    * the first order spec (`col ASC/DESC`) — i.e. exactly the PARTITION
    * BY elements. Order columns are deliberately excluded: ordering by a
    * content column within a safely-partitioned window is fine; it is
    * partitioning by one that creates the unsplittable task. */
  private def windowPartitionElems(plan: String): Seq[String] = {
    val marker = "windowspecdefinition("
    Iterator.iterate(plan.indexOf(marker))(i => plan.indexOf(marker, i + 1))
      .takeWhile(_ >= 0).toSeq.flatMap { at =>
        val start = at + marker.length
        // walk to the matching close paren
        var depth = 1; var i = start
        val elems = scala.collection.mutable.Buffer.empty[String]
        var elemStart = start
        while (depth > 0 && i < plan.length) {
          plan.charAt(i) match {
            case '(' => depth += 1
            case ')' =>
              depth -= 1
              if (depth == 0) elems += plan.substring(elemStart, i)
            case ',' if depth == 1 =>
              elems += plan.substring(elemStart, i); elemStart = i + 1
            case _ => ()
          }
          i += 1
        }
        elems.toSeq.map(_.trim)
          .takeWhile(e => !e.contains(" ASC") && !e.contains(" DESC"))
      }
  }

  private def contentKeyedWindowCols(plan: String): Set[String] =
    windowPartitionElems(plan)
      .flatMap(e => contentColRefRe.findAllMatchIn(e).map(_.group(1)))
      .toSet

  test("no declared query plans an unexpected CartesianProduct, global window, or content-keyed window") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart =
          if (plan.contains("CartesianProduct") && !cartesianAllowed(name))
            Seq(name -> "CartesianProduct") else Seq.empty
        // a windowspecdefinition whose FIRST element is already the order
        // spec (col ASC/DESC) has an empty partition list → global window
        val glob =
          if (globalWindowRe.findFirstIn(plan).isDefined && !globalWindowAllowed(name))
            Seq(name -> "global (unpartitioned) window") else Seq.empty
        // no allowlist: a window partitioned by a content-derived key is
        // unsplittable under data skew, never legitimate in this catalog
        val contentKeyed = contentKeyedWindowCols(plan)
        val ck =
          if (contentKeyed.nonEmpty)
            Seq(name -> s"window partitioned by content-derived $contentKeyed")
          else Seq.empty
        cart ++ glob ++ ck
      } catch {
        case e: Throwable => Seq(name -> s"plan build failed: ${e.getMessage}")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no declared query plans the single-buffer exact percentile aggregate") {
    // Spark's exact `percentile`/`median` aggregates buffer EVERY input
    // value of the group in ONE aggregation buffer (an OpenHashMap per
    // buffer) — the guaranteed-OOM-at-scale class batch 7 removed from the
    // last three fit paths. Bounded alternatives the catalog uses instead:
    // Metrics.exactPercentiles (range-repartition order statistics, enters
    // the plan as a literal), the (value,count)-histogram interpolation
    // (lengthQuantiles), and approx_percentile (GK sketch — allowed here:
    // its buffer is bounded by the accuracy knob, not the data).
    val exactPercentileRe = "(?<![_a-zA-Z])(percentile|median)\\(".r
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        exactPercentileRe.findFirstIn(plan).map(m => name -> m).toSeq
      } catch {
        case e: Throwable => Seq(name -> s"plan build failed: ${e.getMessage}")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
    // the regex must actually see the banned shape (guards a rename of the
    // aggregate's pretty name silently blinding this lint) and must NOT
    // fire on the bounded approx form
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val exact = Seq(1.0, 2.0).toDF("v").agg(expr("percentile(v, 0.5)"))
      .queryExecution.executedPlan.toString
    assert(exactPercentileRe.findFirstIn(exact).isDefined)
    val approx = Seq(1.0, 2.0).toDF("v").agg(expr("approx_percentile(v, 0.5, 100)"))
      .queryExecution.executedPlan.toString
    assert(exactPercentileRe.findFirstIn(approx).isEmpty)
  }

  test("v10 PSI sweep plan: one pruned lineitem scan, broadcast totals join") {
    import graft.operators.Validation
    val widths = Validation.defaultPsiWidths
    // pre-checkpoint shape: the whole sweep derives from ONE lineitem scan
    // (unpivot happens in the projection, not via self-union), with only
    // the watched columns + time column in the pruned scan schema
    val countsPlan = Validation.psiCounts(Tables.lineitem(spark, sfDir),
        "l_shipdate", "1995-06-01", widths, 10)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(countsPlan).size
    assert(scans == 1, s"expected 1 scan, got $scans")
    // the scan's output attribute list (ReadSchema text is truncated by
    // spark.sql.maxMetadataStringLength, so parse the column list instead)
    val readCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(countsPlan).map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(readCols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_shipdate"), readCols)
    // final plan: counts is checkpointed, so NOTHING re-reads the table
    // (zero file scans downstream) and per-column totals come back via a
    // broadcast join, never a shuffle of the data
    val finalPlan = SparkEntry.queries("v10_psi_by_column")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!finalPlan.contains("FileScan parquet"), "table re-scanned downstream")
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(500))
  }

  /** Queries that legitimately scan the same table more than once.
    * Everything else must be single-scan per table: a repeated scan is
    * either a deliberate two-pass algorithm or the no-CSE-across-reuse bug
    * class (round 4 fixed two: d36 re-executed its entry chain per step,
    * v2 ran a separate total-count pass). The justified cases:
    *  - d13/d21: documented BOUNDED self-pair cross joins (both sides
    *    id-capped);
    *  - d14/d16: id-pruned query-side reads (PushedFilters: vec_id <
    *    nQueries) plus ONE full bucket/verify pass each — re-fetching
    *    embeddings by scan beats shuffling vectors through distinct;
    *  - f5/m1/m2: fit + transform, the two-pass sklearn contract (fit
    *    statistics, then apply);
    *  - x21: scalar-subquery SQL surface (the subquery owns its scan);
    *  - x24/x8: union and INTERSECT semantics demos, each set operand
    *    owns its (filter-pushed) scan;
    *  - x28: nation joined in two roles (cust-side + supp-side);
    *  - x34: two-level bucketed as-of resolution (SURVEY §7.5);
    *  - d44/d49/d62: one file read in two ROLES, each side from its own
    *    filter-pushed scan. */
  private val multiScanAllowed: Map[String, Set[String]] = Map(
    "d13_jaccard_pairs" -> Set("documents"),
    "d14_cosine_topk" -> Set("embeddings"),
    // two ROLES of the same file: train corpus vs benchmark suite (id-split
    // here; distinct tables in production) — each side needs its own scan
    "d44_decontaminate" -> Set("documents"),
    "d49_decontaminate_winnowed" -> Set("documents"),
    // two ROLES again: split members vs their representatives (the
    // component evidence itself hides behind connectedComponents' staged
    // edge list — see the blind-spot note below)
    "d62_component_split" -> Set("documents"),
    "d16_lsh_topk" -> Set("embeddings"),
    "d21_embedding_neardups" -> Set("embeddings"),
    "f5_zscore_clip" -> Set("orders"),
    "m1_standard_scale" -> Set("customer"),
    "m2_minmax_scale" -> Set("orders"),
    // m3 is deliberately NOT here anymore: its fit statistics moved to the
    // eager exactPercentiles jobs (batch 7), so the declared plan is a
    // single literal-threshold scan — re-adding a second in-plan scan
    // should fail this lint
    "x21_above_avg_orders" -> Set("orders"),
    "x24_union_semantics" -> Set("orders"),
    "x28_nation_pair_volume" -> Set("nation"),
    "x34_asof_bucketed" -> Set("orders", "events"),
    "x8_intersect_statuses" -> Set("orders"))

  /** Known blind spot: eager `localCheckpoint(true)` truncates lineage, so
    * scans consumed BEFORE a checkpoint are invisible to this lint (the
    * checkpointed queries audit as zero-scan). The lint still pins every
    * fixed regression — removing a load-bearing checkpoint (the d36 bug's
    * shape) resurfaces the FileScan lines and fails here — but a NEW
    * query that multi-scans before its checkpoint passes silently; v10
    * covers that case with a dedicated pre-checkpoint assertion above;
    * `tools.Profile plans all` dumps every plan for a manual read. */
  test("no declared query re-scans a table outside the documented multi-scan set") {
    val pathRe = "file:[^\\]\\s,]*?/(\\w+)\\.parquet".r
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val scans = plan.linesIterator.filter(_.contains("FileScan parquet"))
          .flatMap(l => pathRe.findFirstMatchIn(l).map(_.group(1))).toSeq
        val dups = scans.groupBy(identity).filter(_._2.size > 1).keySet
        val undocumented = dups -- multiScanAllowed.getOrElse(name, Set.empty)
        if (undocumented.nonEmpty) Seq(name -> undocumented) else Seq.empty
      } catch {
        case e: Throwable => Seq(name -> Set(s"plan build failed: ${e.getMessage}"))
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("d62 shuffles never carry document text: the fence is computed below every exchange") {
    // splitColumn is a pure function of text, so componentSplit computes
    // it in the scan-side projection and shuffles a narrow (rep_id, split)
    // relation; a regression that moves the fence ABOVE the rep join puts
    // every document's full text through the exchange — at 100 TB the
    // difference between a trivial and a dominant stage (r17 verdict #2)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
      val here = p match { case e: ShuffleExchangeLike => Seq(e); case _ => Seq.empty }
      here ++ p.children.flatMap(exchanges)
    }
    // AQE off for the plan BUILD only: AdaptiveSparkPlanExec inserts its
    // exchanges lazily per query stage (its pre-execution tree hides them
    // from a children traversal); EnsureRequirements places the same
    // shuffles either way, and this lint is about their payload width
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val exs = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      exchanges(SparkEntry.queries("d62_component_split")(spark, sfDir)
        .queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // the join/sort shuffles must exist (the lint must be looking at the
    // real plan, not a collapsed one) and none may output a text column
    assert(exs.nonEmpty, "expected at least one shuffle in the d62 plan")
    val wide = exs.filter(_.output.exists(_.name.toLowerCase.contains("text")))
    assert(wide.isEmpty,
      s"exchange carries document text: ${wide.map(_.output.map(_.name).mkString("[", ",", "]"))}")
  }

  test("catalog consistency: every oracle belongs to a declared query; rows-only set is the documented one") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    // rows-only queries (no SQL oracle) — each must be deliberate:
    // engine-specific hash families / HLL / k-means / engine-local decode
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val documented = Set(
      "d15_minhash_neardups", "d16_lsh_topk", "d17_simhash_neardups",
      "d19_approx_distinct", "d22_ivf_topk", "d28_winnow_neardups",
      "d30_decode_stats", "d38_incremental_neardups",
      // k-means cells are an engine-local artifact (same rationale as
      // d22); evidence = DedupSimilaritySpec's planted-recall, brute-
      // force-precision, and density-band pins
      "d59_semantic_dedup",
      // PQ codebooks/codes are engine-local k-means artifacts (d22's
      // rationale); evidence = dup-code identity, exact-L2 recall floor,
      // ADC distance-error bars, layout determinism, probed-vs-full
      // ADC-distance equality (DedupSimilaritySpec)
      "d65_pq_topk", "d66_ivfpq_topk",
      // residual-coded IVFADC (by_residual=true — same rationale as
      // d66); evidence = residual dup-code identity, clustered-corpus
      // error-halving pin, cross-family recall floor, layout determinism
      "d67_ivfpq_residual_topk",
      // PQ/SDC (query-by-codes symmetric distance — same engine-local
      // codebook rationale as d65); evidence = planted copy at SDC
      // distance exactly 0, recall floor with ADC-dominates-SDC pinned,
      // layout determinism (DedupSimilaritySpec)
      "d68_sdc_topk",
      // BPE merge loop = iterative global argmax, not SQL-expressible
      "d46_bpe_merges",
      // winnowing hash family is engine-local (same rationale as d28)
      "d47_training_sequences_winnowed",
      // encode side of the BPE merge loop (same rationale as d46)
      "d48_bpe_token_counts",
      // winnowed decontamination (same rationale as d47)
      "d49_decontaminate_winnowed",
      // d49's audit companion (same engine-local hash family); empty on
      // the clean fixture BY DESIGN — its evidence is the gate's planted
      // mass-leak arm, which asserts it names every planted carrier
      "d53_mass_contamination_suspects")
    assert(rowsOnly == documented,
      s"undocumented rows-only: ${rowsOnly -- documented}; stale: ${documented -- rowsOnly}")
  }

  test("every oracle carries the canonical-type CTE prelude, merged without " +
      "breaking an existing WITH / WITH RECURSIVE list") {
    // the prelude is what keeps the DuckDB side on the engine's canonical
    // types under a re-typed fixture (the general form of the x25 pin);
    // an oracle that bypassed it would silently re-open the drift gap
    for ((name, sql) <- SparkEntry.oracleSql) {
      assert(sql.startsWith("WITH "),
        s"$name: oracle lacks the canonical prelude")
      assert(sql.contains("region AS (SELECT * REPLACE"),
        s"$name: canonical CTE defs missing")
      // a merged query must not contain a second top-level WITH keyword
      // immediately after the prelude (the merge joins lists with a comma)
      assert(!sql.matches("(?s)WITH .*\\) WITH .*"),
        s"$name: unmerged WITH list")
    }
    // merge shapes: plain, WITH, WITH RECURSIVE ("customer" leads the
    // generated prelude — tables are emitted in sorted order)
    assert(SparkEntry.withCanon("SELECT 1").startsWith("WITH customer AS"))
    val w = SparkEntry.withCanon("WITH t AS (SELECT 1) SELECT * FROM t")
    assert(w.startsWith("WITH customer AS") && w.contains(", t AS (SELECT 1)"))
    val r = SparkEntry.withCanon(
      "WITH RECURSIVE t AS (SELECT 1) SELECT * FROM t")
    assert(r.startsWith("WITH RECURSIVE customer AS") &&
      r.contains(", t AS (SELECT 1)"))
    // CTE bodies must reference the catalog-qualified view so a shadow CTE
    // under WITH RECURSIVE is not a self-reference
    assert(SparkEntry.withCanon("SELECT 1").contains("FROM main.region"))
  }

  test("source lint: SparkSession.builder appears under src/main only in GraftSession") {
    // one session factory: a second builder is how defaults drift (width,
    // log level, time zone). The test fixture keeps its own builder for
    // task retries; this lint covers src/main only.
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    val builders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filter(f => java.nio.file.Files.readString(f).contains("SparkSession.builder"))
        .map(_.getFileName.toString)
      finally walk.close()
    assert(builders == Seq("GraftSession.scala"), builders)
  }

  test("source lint: eager materialization and the stageStorage read live only in Materialize") {
    // one materialization primitive: a raw checkpoint or persist elsewhere
    // ignores the storage strategy and carries no mat[...] job label
    val root = java.nio.file.Paths.get("src/main")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      finally walk.close()
    val raw = """localCheckpoint|\.checkpoint\(|\.persist\(""".r
    val confRead = """conf\b[^\n]*stageStorage|"spark\.graft\.stageStorage"""".r
    val offenders = files.filterNot(_.getFileName.toString == "Materialize.scala")
      .flatMap { f =>
        val text = java.nio.file.Files.readString(f)
        (raw.findAllIn(text) ++ confRead.findAllIn(text)).map(m => s"${f.getFileName}: $m")
      }
    assert(files.exists(_.getFileName.toString == "Materialize.scala"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("source lint: spark.graft.* knobs are read only in Materialize and BloomPrune, and there are exactly two") {
    // every knob is a second code path to keep green; a new one must
    // earn its place here (a measured win), not appear in an operator
    val root = java.nio.file.Paths.get("src/main")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val owners = Seq("graft/Materialize.scala", "graft/plans/BloomPrune.scala")
    val key = """"spark\.graft\.(\w+)""".r
    val reads = files.flatMap { f =>
      key.findAllMatchIn(java.nio.file.Files.readString(f)).map(m => (f, m.group(1)))
    }
    val offenders = reads.filterNot { case (f, _) => owners.exists(o => f.endsWith(o)) }
      .map { case (f, k) => s"${root.relativize(f)}: spark.graft.$k" }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(reads.map(_._2).toSet == Set("stageStorage", "bloomPrune"), reads)
  }

  /** Runs `body` with a function that collects a DataFrame and returns
    * every physical plan its execution ran: the final plan plus the plans
    * of the SQL execution events, which include the eager stages run while
    * the DataFrame was built. */
  private def withExecutedPlans[T](
      body: ((() => org.apache.spark.sql.DataFrame) => Seq[String]) => T): T = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def executedPlans(build: () => org.apache.spark.sql.DataFrame): Seq[String] = {
      drain()
      plans.clear()
      val df = build()
      df.collect()
      drain()
      df.queryExecution.executedPlan.toString +: plans.asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try body(executedPlans)
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("no ObjectHashAggregate keyed by a shingle or fingerprint in the near-dup evidence of d28, d43, d45 and d47") {
    // the near-dup evidence is sorted runs (Dedup.runPairs): a per-key
    // collect runs under ObjectHashAggregate, which falls back to
    // sort-based aggregation past 128 keys per task. The evidence of
    // d43/d45/d47 runs inside their eager stages, so the lint reads every
    // plan the query executes (the SQL execution events), not only the
    // final one.
    // the node in a plan's tree string and in the formatted explain of
    // the SQL execution events ("Input [n]: [...]" then "Keys [n]: [...]")
    val keyedRe = ("ObjectHashAggregate(?:\\(keys=\\[|\\nInput \\[\\d+\\]: [^\\n]*" +
      "\\nKeys \\[\\d+\\]: \\[)(?:sh|fp)#").r
    withExecutedPlans { executedPlans =>
      val queries = Seq("d28_winnow_neardups", "d43_training_sequences",
        "d45_pipeline_audit", "d47_training_sequences_winnowed")
      val violations = queries.flatMap { name =>
        val seen = executedPlans(() => SparkEntry.queries(name)(spark, sfDir))
        seen.flatMap(p => keyedRe.findFirstIn(p)).distinct
          .map(m => s"$name: ${m.replace('\n', ' ')}")
      }
      assert(violations.isEmpty, violations.mkString("\n"))
      // the lint sees the banned shape (guards a plan-string change
      // silently blinding it)
      import org.apache.spark.sql.functions.{col, collect_list}
      import spark.implicits._
      val banned = executedPlans(() => Seq(("x", 1L)).toDF("sh", "doc_id")
        .groupBy(col("sh")).agg(collect_list(col("doc_id"))))
      assert(banned.count(p => keyedRe.findFirstIn(p).isDefined) >= 2, banned.mkString("\n"))
    }
  }

  test("no ArrayAggregate, ArrayDistinct or lambda function in the corpus tail plans of d33, " +
      "d41, d43, d44, d45, d47 and d63, and no BroadcastExchange in d43 on the driver path") {
    // the packer, the chunker, the per-doc shingle distinct and the winner
    // filter are native kernels (graft.functions); an interpreted fold,
    // distinct or lambda per row or group, or a broadcast exchange of the
    // non-root ids, is the shape they replaced. Every executed plan counts,
    // the eager stages' included.
    val interpretedRe = "(?<![A-Za-z_])(?:aggregate|array_distinct|lambdafunction)\\(".r
    withExecutedPlans { executedPlans =>
      val queries = Seq("d33_chunked_docs", "d41_packed_sequences", "d43_training_sequences",
        "d44_decontaminate", "d45_pipeline_audit", "d47_training_sequences_winnowed",
        "d63_epoch_packed")
      val violations = queries.flatMap { name =>
        val seen = executedPlans(() => SparkEntry.queries(name)(spark, sfDir))
        val interpreted = seen.flatMap(p => interpretedRe.findAllIn(p)).distinct
          .map(m => s"$name: $m")
        val broadcast =
          if (name == "d43_training_sequences" && seen.exists(_.contains("BroadcastExchange")))
            Seq(s"$name: BroadcastExchange on the driver path")
          else Seq.empty
        interpreted ++ broadcast
      }
      assert(violations.isEmpty, violations.mkString("\n"))
      // the lint sees each banned shape: the composed forms the kernels
      // replaced, and the anti-join against a local relation
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val chunks = Seq((0L, 0L, 0L, 4L)).toDF("ord", "doc_id", "chunk_id", "n_chunk_tokens")
      val fold = executedPlans(() =>
        graft.reference.CorpusTailReference.composedPackChunksBy(chunks, 10, 50, 1000000L))
      assert(Set("aggregate(", "lambdafunction(").subsetOf(
        fold.flatMap(interpretedRe.findAllIn).toSet), fold.mkString("\n"))
      val docs = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
      val distinct = executedPlans(() => docs.select(
        graft.reference.CorpusTailReference.composedDistinctShingles(col("text"), 2)))
      assert(distinct.exists(p => interpretedRe.findFirstIn(p).contains("array_distinct(")),
        distinct.mkString("\n"))
      val antiJoin = executedPlans(() =>
        graft.reference.CorpusTailReference.antiJoinWinners(docs, "doc_id", Seq(1L)))
      assert(antiJoin.exists(_.contains("BroadcastExchange")), antiJoin.mkString("\n"))
    }
  }
}
