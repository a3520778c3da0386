package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** End-to-end corpus pipeline — the "documents in, training sequences out"
  * flagship materialization: quality filter → shingle-based near-dup
  * components (keep each component's min-id winner) → deterministic domain
  * mix → context-window chunking → fixed-budget sequence packing, composed
  * as ONE dataflow with no driver round-trips between stages (the only
  * driver step is connected components: the near-dup pairs are counted in
  * one job and labelled by union-find on the driver when there are at most
  * [[Dedup.DriverEdgeBound]] of them, and only a larger edge list takes
  * the staged path and label-propagation loop of the d35 operator).
  *
  * Near-dup criterion (oracle-expressible, unlike MinHash): two documents
  * are near-dups iff they share at least one exact k-token shingle whose
  * corpus document frequency is in [2, maxDf]. The df cap is the same
  * stop-fingerprint idea as winnowing's maxDf (Schleimer et al., SIGMOD'03
  * §5): boilerplate shingles shared by half the corpus carry no dup signal
  * but would blow the bucket join up quadratically — capping df bounds
  * per-shingle join fan-out at C(maxDf, 2) pairs, which is what makes the
  * edge join scale-right. Shingle identity is md5 of the space-joined
  * token window — engine-portable, so the whole chain is SQL-checkable.
  *
  * Scale shape: the quality filter is one byte pass per document
  * ([[TextOps.qualityKeep]]) in a codegen'd scan; the kept relation is
  * materialized ONCE ([[graft.Materialize.stage]], under the module-wide
  * `spark.graft.stageStorage` strategy that every eager stage of every
  * operator follows) and every later stage derives from it, so the base
  * table is scanned exactly once. Shingling explodes O(tokens) rows (each
  * doc's distinct shingles, decided in the shingle kernel), the df cap and
  * the pair generation are one pass over sorted runs (at most maxDf + 1
  * rows per shingle per map partition cross the one shingle exchange, and
  * one partition-local scan of each shingle's run emits its pairs — see
  * [[exactShingleEdges]]). Components cost one job that counts those
  * pairs per partition and collects the counts
  * ([[Dedup.evidenceNonRoots]]; above the driver bound, one (id, comp)
  * shuffle per doc per round instead). The winner filter is a per-row
  * binary search of a broadcast sorted array of the non-root ids (an
  * anti-join above the driver bound), and chunk+pack are the native d33/d41
  * generators: no higher-order function or lambda runs per row or group.
  *
  * Jobs: three run while the output is built — the `kept` stage, the
  * `runs[...]` map stage and `edges[id_a,id_b]`; the audit adds the chunk
  * stage and one `audit[...]` aggregate ([[pipelineAudit]]). The caller's
  * action on the output then runs the unlabelled tail jobs: the pack
  * group (`grp`) exchange, whose map side reads `kept` through the winner
  * filter, the mix and the chunker; the output range sort's sample; and
  * the range exchange and final sort. They carry no label because they
  * belong to the caller's action, not to a stage of this module.
  *
  * At 100 TB replace the exact shingle set with winnowed fingerprints
  * (d28) for a ~1/w density reduction at the same join shape.
  */
object Corpus {

  /** Chars-per-token conversion used everywhere a winnowed (char k-gram)
    * detector must run at MATCHED GRANULARITY to an exact token-shingle
    * detector: the synthetic corpus averages ~5 chars/token (incl. the
    * separator), so an n-token shingle spans ≈ 5n chars. Both winnowed
    * consumers derive their char-k from this single constant via
    * [[matchedWinnowCharK]] — d47 matches d43's 12-token shingles
    * (k=60 chars) and d49 matches d44's 4-token shingles (k=20 chars) —
    * so a future fixture change cannot silently re-degenerate one of
    * them. The failure mode the constant guards against is measured, not
    * hypothetical: at char k=8 every shared 11-char run (any common word
    * pair) is near-dup evidence, the candidate graph over-connects, and
    * the d47 pipeline collapses ~450 survivors to ONE packed sequence
    * (the r15 verdict's degeneracy finding); at matched k=60 the winnowed
    * winner set is bit-identical to the exact pipeline's at sf0.001 and
    * sf0.01 AND the run is ~3× faster (fewer candidate pairs to verify).
    * CorpusSpec pins non-degeneracy + winner agreement on the real
    * corpus for both consumers. */
  private[graft] val charsPerToken = 5

  /** Char k-gram length matching an exact `shingleTokens`-token shingle
    * on this corpus (see [[charsPerToken]]). */
  def matchedWinnowCharK(shingleTokens: Int): Int =
    shingleTokens * charsPerToken

  /** Winnowing window width at FP-DENSITY PARITY with exact token
    * shingling: winnowing keeps ~2/(w+1) of the char k-grams (~1 per
    * char), exact shingling emits 1 fp per token (~1/[[charsPerToken]]
    * per char), so 2/(w+1) = 1/charsPerToken → w = 2·charsPerToken − 1 =
    * 9. Below this (the old w=4) the "scale path" ships ~2× the exact
    * path's join rows — measured at the 10×-amplified dup-dense knee:
    * w=4 ran 1.07× SLOWER than the exact pipeline (39.2 s vs 36.6 s),
    * w=9 1.7× cheaper (21.1 s) at 98.3% winner agreement, w=19 2.2×
    * cheaper (16.9 s) but with 28% extra winners (missed merges — the
    * sparser selection drops sub-span shared runs). w=9 is where the
    * winnowed pipeline is simultaneously cheaper at scale AND
    * agreement-tight; at fixture scale (sf0.001/sf0.01) its winner set
    * is bit-identical to exact d43's, same as w=4 (the round-16 sweep;
    * CorpusSpec pins the agreement bands). Detection guarantee at the
    * declared granularity: any shared run of w+k−1 = 68 chars (≈ 13.6
    * tokens vs d43's 12-token evidence bar) still collides. */
  def matchedWinnowW: Int = 2 * charsPerToken - 1

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The measured dup-density knee (the 10×-amplified sf0.1 of
    * plans/MEASUREMENTS.md, SURVEY §7.5 item 5): past ~1 candidate edge
    * per kept doc the default
    * `local` strategy holds the exploded evidence stages as
    * deserialized heap blocks and thrashes (d43 chain: 39 s local vs
    * 12.8 s reliable), while serialized/file blocks (`disk`/`reliable`)
    * are simultaneously FASTER and fault-tolerant. Normal corpora sit
    * ~0.1 edges/doc, clone-dense ones 4.5+ — the knee separates the
    * regimes by >40×, so estimator noise cannot flip a clear case.
    *
    * Re-deriving on different hardware: the 1.0 figure is a HOST
    * measurement (this container's heap/disk balance), not a constant of
    * the algorithm. On a new cluster, build the 10×-amplified corpus
    * (recipe in plans/MEASUREMENTS.md), run `tools.Profile time
    * d43_training_sequences --sf <amplified dir> --ab
    * spark.graft.stageStorage=local,disk` and set the knee to the
    * edges/doc where the disk strategy first wins; the 40× regime gap
    * means even a rough re-measurement lands safely. */
  private[graft] val denseKneeEdgesPerDoc = 1.0

  /** Probe sampling fraction: the density estimate runs the pipeline's
    * own edge evidence on a seeded-hash 10% doc sample, pricing the probe
    * at ~10% of the evidence stage (within-group pairs scale p², hence
    * the 1/p de-bias in [[denseCorpusStrategy]]). */
  private[graft] val denseProbeFraction = 10L // 1-in-10 via pmod

  /** Corpus-size floor for the UNSET-conf auto probe: below this the
    * whole pipeline is interactive-scale, where the in-memory default
    * wins on fixed cost (the r13 parity figures) and the probe would
    * cost more than any possible win. `stageStorage=auto` skips the
    * floor (probe regardless — the testable surface). */
  private[graft] val denseProbeMinDocs = 20000L

  /** Dense-corpus strategy auto-selection — the mechanism form of the
    * crossover-probe recommendation (previously scaladoc-only): when the
    * operator of a 100 TB run has NOT chosen a stage-storage strategy,
    * estimate the near-dup candidate-pair density from a deterministic
    * seeded-hash 10% sample run through the pipeline's own edge evidence
    * (`edgesOf` — exact shingles or winnowed fingerprints alike), and
    * switch the run to the `disk` strategy past [[denseKneeEdgesPerDoc]],
    * with a logged warning naming the override knob.
    *
    * Decision table: explicit `local`/`disk`/`reliable` → always honored
    * (returns None). Unset → probe only at ≥ [[denseProbeMinDocs] docs
    * (one cheap base-table count below that). `auto` → probe always.
    * `disk`, not `reliable`, is what auto selects: equally heap-safe,
    * and it must not fail a run whose orchestration never called
    * `setCheckpointDir`. Determinism: the sample is a pmod of
    * xxhash64(doc_id) — layout- and partition-count-invariant, so the
    * decision (and therefore every declared query's output) replays
    * identically under the invariance gate.
    *
    * Scope note: the decision is installed as
    * [[graft.Materialize.strategyOverride]] for the pipeline's
    * construction, so it covers every eager stage the run builds — the
    * kept relation, the component loop's per-round labels, and the
    * stages inside whichever edge evidence `edgesOf` runs, exact or
    * winnowed alike.
    *
    * Estimator bias, deliberate: the edge evidence runs with the
    * pipeline's own `maxDf` cap, but on the sample a df threshold of m
    * corresponds to ~m/p docs corpus-wide — boilerplate shared by
    * m..m/p docs survives the sampled cap while the real run would drop
    * it, so the estimate errs HIGH on boilerplate-heavy corpora. That
    * direction is safe: a false trigger selects the strategy that is
    * also the fault-tolerant one, at a measured ~fixed cost for
    * non-dense runs; a false negative (missing a dense corpus) is the
    * expensive mistake, and the 40× regime gap keeps it out of reach. */
  /** Probe decisions memoized per (session, corpus files, edge-evidence
    * kind): the density probe costs one full count plus a 10%-sample edge
    * job, so a long-lived session re-running the same pipeline (every
    * bench pass, every Verify replay, a service handling repeated
    * requests) must not re-pay — or re-WARN — it each time. The key is
    * the corpus' resolved input FILE list (parquet data is
    * immutable-by-convention: new data arrives as new files, which
    * changes the key and re-probes) plus the caller's `probeKey`
    * descriptor (exact-shingle and winnowed evidence have different
    * densities) plus the auto/unset conf mode (their not-dense fallbacks
    * differ). Non-file-backed corpora (in-memory frames — the test
    * regime) have no stable identity and are never cached. The decision
    * is a deterministic function of the key (seeded-hash sample), so
    * memoization changes COST only, never a declared query's output;
    * sessions are keyed by identity and entries are a few bytes, so the
    * map needs no eviction. */
  private val probeDecisions =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Option[String]]()

  private[graft] def denseCorpusStrategy(
      docs0: DataFrame, edgesOf: DataFrame => DataFrame,
      probeKey: String = ""): Option[String] = {
    val conf = graft.Materialize.configured(docs0.sparkSession)
    val explicitAuto = conf.contains("auto")
    if (conf.isDefined && !explicitAuto) return None
    val files = docs0.inputFiles
    val cacheKey = if (files.isEmpty) None else Some((
      System.identityHashCode(docs0.sparkSession),
      s"auto=$explicitAuto;key=$probeKey;files=${files.sorted.mkString(",")}"))
    cacheKey.flatMap(k => Option(probeDecisions.get(k))) match {
      case Some(cached) => cached
      case None =>
        val decision = probeDecision(docs0, edgesOf, explicitAuto)
        cacheKey.foreach(k => probeDecisions.put(k, decision))
        decision
    }
  }

  private def probeDecision(docs0: DataFrame, edgesOf: DataFrame => DataFrame,
                            explicitAuto: Boolean): Option[String] = {
    if (!explicitAuto && docs0.count() < denseProbeMinDocs) return None
    val sampled = docs0.filter(TextOps.qualityKeep)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(pmod(xxhash64(col("doc_id"), lit(9173L)),
        lit(denseProbeFraction)) === 0L)
    val nSample = sampled.count()
    if (nSample == 0L) return if (explicitAuto) Some("local") else None
    val sampleEdges = edgesOf(sampled).count()
    // pairs within a clone group survive a p-sample at rate p², docs at
    // rate p → edges/doc on the sample underestimates the true density by
    // a factor of p; de-bias by 1/p (= denseProbeFraction)
    val density = sampleEdges.toDouble * denseProbeFraction / nSample
    if (density >= denseKneeEdgesPerDoc) {
      log.warn(
        f"graft: dup-dense corpus detected (est. $density%.1f candidate " +
          f"edges/doc from a 1-in-$denseProbeFraction%d sample, knee " +
          f"$denseKneeEdgesPerDoc%.1f) — selecting stageStorage=disk for " +
          "this pipeline run (serialized DISK_ONLY stages: measured ~3x " +
          "faster than the in-memory default on dup-dense corpora AND " +
          "fault-tolerant; set spark.graft.stageStorage explicitly to " +
          "override, and call Materialize.releaseStages when done)")
      Some("disk")
    } else if (explicitAuto) Some("local") else None
  }

  /** Registry-independent construction of the native shingle expression
    * in its per-doc distinct form (`array_distinct(shingle_md5s(text, k))`,
    * decided on the digests inside the kernel) — same pattern as
    * `Dedup.minhashSignature`: an `expr("shingle_md5s(…)")` string would
    * require [[graft.GraftExtensions]] registration on the session and fail
    * a plain session with a generic UNRESOLVED_ROUTINE, while every sibling
    * operator works registration-free. */
  private def distinctShingleMd5s(textCol: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ShingleMd5s(
      GraftColumnBridge.expression(textCol), k, distinct = true))
  }

  /** The pipeline's stage intermediates — [[trainingSequences]] returns
    * `packed`; [[pipelineAudit]] reads the row count and token mass of
    * every stage. All descend from the single staged base scan. `observed`
    * holds the audit metrics the staging jobs read (see [[auditOf]]). */
  private[graft] case class Stages(kept: DataFrame, deduped: DataFrame,
                                   mixed: DataFrame, chunks: DataFrame,
                                   packed: DataFrame,
                                   observed: Map[String, Row])

  /** Training-sequence materialization over `docs0` (schema: doc_id, text,
    * lang, source, n_chars). Output = [[TextOps.packChunks]] schema. */
  def trainingSequences(docs0: DataFrame,
                        rates: Map[String, Double],
                        shingleK: Int = 12, maxDf: Int = 20,
                        chunkTokens: Int = 50, stride: Int = 40,
                        budget: Int = 512, docsPerGroup: Int = 50,
                        minShared: Int = 1): DataFrame =
    stages(docs0, rates, shingleK, maxDf, chunkTokens, stride,
      budget, docsPerGroup, minShared).packed

  private[graft] def stages(docs0: DataFrame,
                            rates: Map[String, Double],
                            shingleK: Int = 12, maxDf: Int = 20,
                            chunkTokens: Int = 50, stride: Int = 40,
                            budget: Int = 512, docsPerGroup: Int = 50,
                            minShared: Int = 1,
                            audit: Boolean = false,
                            driverEdgeBound: Long = Dedup.DriverEdgeBound): Stages = {
    require(shingleK >= 1 && maxDf >= 2 && minShared >= 1,
      "shingleK >= 1, maxDf >= 2, minShared >= 1")
    stagesWithEdges(docs0, rates, shingleEvidence(_, shingleK), maxDf, minShared,
      chunkTokens, stride, budget, docsPerGroup,
      probeKey = s"exact:k=$shingleK:maxDf=$maxDf:minShared=$minShared",
      audit = audit, driverEdgeBound = driverEdgeBound)
  }

  /** The (sh, doc_id) rows of [[exactShingleEdges]]: each doc's distinct
    * k-token shingle hashes, first occurrences in order. The native
    * shingle_md5s is bit-identical to the composed
    * split/transform/slice/concat_ws/md5 chain (asserted in ShingleMd5sSpec)
    * with zero per-window allocation beyond the hex output, and its
    * distinct form to `array_distinct` of it (KernelParitySpec). */
  private[graft] def shingleEvidence(kept: DataFrame, shingleK: Int): DataFrame =
    kept.select(explode(distinctShingleMd5s(col("text"), shingleK)).as("sh"),
      col("doc_id"))

  /** Exact-shingle near-dup evidence (the oracle-expressible default):
    * k-token shingles, md5-hashed; distinct per doc so a phrase
    * repeated within one doc counts once toward df (a per-row projection —
    * the old global `(doc_id, sh)` distinct paid a full exchange of the
    * exploded relation for the same set, since `doc_id` is the caller's
    * primary key).
    *
    * The df cap and the pair generation are the sorted-run evidence of
    * [[Dedup.runPairs]] over the exploded (sh, doc_id) relation: each map
    * partition ships at most maxDf + 1 rows per shingle into the one
    * `sh`-keyed exchange (a boilerplate shingle shared by half the corpus
    * is capped before the exchange, and nothing buffers more than maxDf
    * ids of one shingle), and each shingle whose df is in [2, maxDf]
    * emits its C(df, 2) ordered pairs from one partition-local scan of its
    * sorted run. [[Dedup.sharedKeyEdges]] then counts shared shingles per
    * pair (CorpusSpec pins equivalence fixtures; the d43/d45 oracles pin
    * the pipeline end to end). The pipeline itself counts the same pairs
    * on the driver ([[Dedup.evidenceNonRoots]]); this relation is the
    * density probe's and the tests' view of the edges.
    *
    * `minShared` is the edge-evidence threshold (the precision knob the
    * winnowed path exposes as d28's n_shared): at 1 (default) a single
    * shared rare shingle is enough — a quoted sentence can merge two
    * otherwise-distinct docs; at ≥ 2 an edge needs independent evidence.
    * The run scan emits one row per shared surviving shingle, so the
    * threshold is a plain pair-count filter. */
  private[graft] def exactShingleEdges(kept: DataFrame, shingleK: Int,
                                       maxDf: Int, minShared: Int = 1): DataFrame = {
    require(shingleK >= 1 && maxDf >= 2 && minShared >= 1,
      "shingleK >= 1, maxDf >= 2, minShared >= 1")
    Dedup.sharedKeyEdges(Dedup.runPairs(shingleEvidence(kept, shingleK), maxDf), minShared)
      .select(col("id_a"), col("id_b"))
  }

  /** The audit's observed-metric name for one stage row. */
  private def auditMetric(stage: String): String = s"graft_audit_$stage"

  /** The pipeline over the near-dup evidence `evidenceOf(kept)` (key,
    * doc_id): docs are near-dups iff they share at least `minShared` keys
    * whose df is in [2, `maxDf`].
    *
    * Jobs: the `kept` stage, the `runs[...]` map stage of the evidence
    * exchange, and one `edges[id_a,id_b]` job whose counted pairs the
    * driver labels ([[Dedup.evidenceNonRoots]]; above
    * `driverEdgeBound` the staged path and loop of [[Dedup.components]]
    * run instead). With `audit`, the chunks are staged too, and the audit's
    * stage rows ride the two staging jobs as observed metrics. */
  private[graft] def stagesWithEdges(docs0: DataFrame,
                                     rates: Map[String, Double],
                                     evidenceOf: DataFrame => DataFrame,
                                     maxDf: Int, minShared: Int,
                                     chunkTokens: Int = 50, stride: Int = 40,
                                     budget: Int = 512,
                                     docsPerGroup: Int = 50,
                                     probeKey: String = "",
                                     audit: Boolean = false,
                                     driverEdgeBound: Long = Dedup.DriverEdgeBound): Stages = {
    // dense-corpus auto-selection BEFORE the first materialization, so
    // the decision covers every stage of the run (see
    // [[denseCorpusStrategy]]); every materialization below is eager,
    // hence inside the withValue scope
    val chosen = denseCorpusStrategy(docs0,
      df => Dedup.sharedKeyEdges(Dedup.runPairs(evidenceOf(df), maxDf), minShared), probeKey)
    graft.Materialize.strategyOverride.withValue(
        chosen.orElse(graft.Materialize.strategyOverride.value)) {
    // an audit row (rows, token mass) observed on a relation, when auditing
    def observed(df: DataFrame, stage: String, tokens: Column): DataFrame =
      if (!audit) df
      else df.observe(auditMetric(stage), count(lit(1)).as("n_rows"),
        sum(tokens).as("n_tokens"))
    def textTokens: Column = TextOps.tokenCount("text")
    // one base-table scan, materialized: feeds the edge evidence, the
    // winner anti-join, and chunking (three consumers — without this the scan
    // would re-run per consumer; plan-asserted in CorpusSpec). The audit's
    // raw and quality rows ride this job.
    val (kept, keptRows) = graft.Materialize.stageObserved(observed(
      observed(docs0.select(col("doc_id"), col("text"), col("source")), "00_raw",
        textTokens).filter(TextOps.qualityKeep),
      "01_quality", textTokens))
    // every component is labelled with its min id, so the winners are the
    // kept docs that are not a non-root of their component (a NULL id is
    // never a winner). Every evidence id is a kept doc id, so no edge needs
    // a node check. On the driver path the non-roots are a broadcast
    // sorted array and the filter is a per-row binary search: no join and
    // no broadcast exchange job.
    val deduped = Dedup.withoutNonRoots(kept, "doc_id",
      Dedup.evidenceNonRoots(evidenceOf(kept), maxDf, minShared,
        kept.select(col("doc_id").as("id")), driverEdgeBound))
    def mix(df: DataFrame): DataFrame =
      df.filter(TextOps.domainMixKeep(rates)).select(col("doc_id"), col("text"))
    val mixed = mix(deduped)
    // The audit stages the chunks: its aggregate over `packed` and the
    // dedup, mix and chunk rows all read them, and the three rows ride
    // this job. The output-only path (d43) keeps its single-consumer chain
    // un-barriered. Staging is row-transparent, so the output is
    // bit-identical either way.
    val (chunks, chunkRows) =
      if (!audit) (TextOps.chunkDocsUnsorted(mixed, chunkTokens, stride), Map.empty[String, Row])
      else graft.Materialize.stageObserved(observed(TextOps.chunkDocsUnsorted(
        observed(mix(observed(deduped, "02_dedup", textTokens)), "03_mixed", textTokens),
        chunkTokens, stride), "04_chunks", col("n_chunk_tokens")))
    Stages(kept, deduped, mixed, chunks, TextOps.packChunks(chunks, budget, docsPerGroup),
      keptRows ++ chunkRows)
    }
  }

  /** Stage-attrition audit — the observability view every production
    * pipeline materializes next to its output: per stage, the surviving
    * row count and whitespace-token mass (raw documents → quality-kept →
    * dedup winners → domain-mixed → chunks → packed sequences). The
    * chunk and sequence token masses are equal by construction (packing
    * loses no chunk) — the audit makes that invariant visible.
    *
    * Scale: the audit adds no pass over the data. The raw and quality rows
    * are observed on the job that stages `kept` (the only base-table
    * scan), and the dedup, mix and chunk rows on the job that stages the
    * chunks; the sequence row is one aggregate over the packed output (see
    * [[auditOf]]). Returned as a local relation in stage order. */
  def pipelineAudit(docs0: DataFrame,
                    rates: Map[String, Double],
                    shingleK: Int = 12, maxDf: Int = 20,
                    chunkTokens: Int = 50, stride: Int = 40,
                    budget: Int = 512, docsPerGroup: Int = 50,
                    minShared: Int = 1): DataFrame = {
    val s = stages(docs0, rates, shingleK, maxDf, chunkTokens, stride,
      budget, docsPerGroup, minShared, audit = true)
    auditOf(docs0, s)
  }

  /** The six audit rows of stages built with `audit`: (stage, n_rows,
    * n_tokens). A row observed by its staging job is read from `s.observed`.
    * The sequence row, and any row whose metric is absent (the `disk` and
    * `reliable` strategies run another execution, see
    * [[graft.Materialize.stageObserved]]), is one aggregate over the
    * stage's relation in a job labelled `audit[...]`; the optimizer drops
    * the packed output's final sort under it. A stage with no rows reads
    * (0, 0). */
  private[graft] def auditOf(docs0: DataFrame, s: Stages): DataFrame = {
    val rows = Seq(
      "00_raw" -> (docs0, TextOps.tokenCount("text")),
      "01_quality" -> (s.kept, TextOps.tokenCount("text")),
      "02_dedup" -> (s.deduped, TextOps.tokenCount("text")),
      "03_mixed" -> (s.mixed, TextOps.tokenCount("text")),
      "04_chunks" -> (s.chunks, col("n_chunk_tokens")),
      "05_sequences" -> (s.packed, col("total_tokens"))
    ).map { case (stage, (df, tokens)) =>
      val r = s.observed.getOrElse(auditMetric(stage),
        graft.Materialize.labelled(df, "audit")(
          df.agg(count(lit(1)), sum(tokens.cast("long"))).head()))
      Row(stage, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    docs0.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("stage", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_tokens", LongType, nullable = false))))
  }

  /** Pipeline output AND its audit from ONE stage construction — the
    * production pattern ("audit next to output") without paying the
    * pipeline twice: calling [[trainingSequences]] then [[pipelineAudit]]
    * re-materializes every stage (a second eager copy of each stage,
    * doubled block-store footprint) and re-runs connected components. The audit
    * rows here describe the SAME staged relations the returned output
    * derives from. */
  def trainingSequencesWithAudit(docs0: DataFrame,
                                 rates: Map[String, Double],
                                 shingleK: Int = 12, maxDf: Int = 20,
                                 chunkTokens: Int = 50, stride: Int = 40,
                                 budget: Int = 512, docsPerGroup: Int = 50,
                                 minShared: Int = 1): (DataFrame, DataFrame) = {
    val s = stages(docs0, rates, shingleK, maxDf, chunkTokens, stride,
      budget, docsPerGroup, minShared, audit = true)
    (s.packed, auditOf(docs0, s))
  }

  /** The 100 TB scale path for [[trainingSequences]]: identical pipeline
    * with WINNOWED substring fingerprints as the near-dup evidence
    * ([[Dedup.winnowNearDups]] — Schleimer et al. SIGMOD'03) instead of
    * the exact shingle set. Winnowing keeps ~2/(w+1) of the k-gram
    * fingerprints with the detection guarantee intact (any shared run of
    * w+k−1 chars still collides), so the same fp-keyed equijoin ships a
    * fraction of the rows — exactly the substitution the exact-shingle
    * scaladoc promises. Engine-local hash family → rows-only; agreement
    * with the exact-shingle pipeline on planted strong dups AND on the
    * real corpus (winner sets identical at sf0.001/sf0.01) is asserted
    * in CorpusSpec. `minShared` is the evidence threshold (d28's knob).
    *
    * `k` defaults to [[matchedWinnowCharK]](12) = 60 chars — the char
    * equivalent of [[trainingSequences]]'s 12-token shingle default. Do
    * NOT lower it casually: short char k-grams make every common word
    * pair near-dup evidence and the dedup stage collapses the corpus to
    * a handful of winners (the measured k=8 degeneracy documented at
    * [[charsPerToken]]). `w` defaults to [[matchedWinnowW]] = 9 — the
    * fp-density-parity point where this path is measured CHEAPER than
    * the exact pipeline at the dup-dense knee (the old w=4 shipped 2×
    * the exact path's rows and ran slower than it — see the figures on
    * [[matchedWinnowW]]). */
  def trainingSequencesWinnowed(docs0: DataFrame,
                                rates: Map[String, Double],
                                minShared: Int = 2,
                                k: Int = matchedWinnowCharK(12),
                                w: Int = matchedWinnowW,
                                maxDf: Int = 50,
                                chunkTokens: Int = 50, stride: Int = 40,
                                budget: Int = 512,
                                docsPerGroup: Int = 50): DataFrame =
    stagesWithEdges(docs0, rates, Dedup.winnowEvidence(_, k, w), maxDf, minShared,
      chunkTokens, stride, budget, docsPerGroup,
      probeKey = s"winnow:k=$k:w=$w:maxDf=$maxDf:minShared=$minShared").packed

  /** Benchmark decontamination audit — the training-set hygiene step: a
    * training document is CONTAMINATED iff it shares at least one exact
    * k-token shingle with any benchmark document (the n-gram-overlap
    * decontamination rule used for LLM training corpora; production
    * settings use k ≈ 8–13). Emits one row per contaminated doc with its
    * distinct matched-shingle count — the relation a pipeline anti-joins
    * the training set against.
    *
    * Scale shape: both sides shingle in one scan each (explode O(tokens),
    * distinct per (id, shingle)); the benchmark's distinct-shingle
    * relation is orders of magnitude smaller than the corpus, so the
    * equijoin broadcasts it under AQE when it fits (no hint — a forced
    * broadcast would OOM on a large benchmark suite); one doc-keyed count
    * aggregate. Nothing is ever all-pairs. Beyond broadcast size, the
    * join falls back to shuffle, and the operator plants a runtime bloom
    * filter itself ([[graft.plans.BloomPrune]]): Spark's own
    * `InjectRuntimeFilter` rule can NEVER fire here — it only traces the
    * creation-side key through Project/Filter/Join lineage to a scan, and
    * `sh` is born from a Generate + Aggregate — so the operator injects
    * the identical `might_contain(scalar-subquery(bloom_filter_agg))`
    * shape below the corpus side's distinct, where it prunes both the
    * distinct's exchange and the join's. Auto-gated on the same
    * stats-vs-broadcast-threshold test Spark uses (broadcast regime → no
    * bloom, it would be pure overhead); plan- and result-asserted in
    * CorpusSpec. The 100 TB shuffle never ships shingles that cannot
    * match.
    *
    * Choosing an entry point: this exact form is uncapped — every shared
    * shingle counts, including mass-leaked ones — but shingles EVERY
    * k-token run, so at corpus scale prefer the winnowed family, whose
    * `maxDf` stop-cap has a known false-negative mode for benchmark
    * passages mass-leaked into more than `maxDf` training docs. For that
    * family, start at [[decontaminationAudit]]: it returns the capped
    * verdict AND the mass-leakage suspects from one materialized
    * fingerprint stage ([[decontaminateWinnowed]] alone reports
    * mass-leaked copies clean), and any non-empty suspect set escalates
    * back to this exact pass over the suspect slice. */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    shingleK: Int = 8): DataFrame = {
    require(shingleK >= 1, "shingleK >= 1")
    // distinct per doc (r21 — guide §2.4): `doc_id` is the caller's
    // primary key, so per-row dedup makes the exploded relation distinct
    // per (doc_id, sh) BY CONSTRUCTION — the train side's old global
    // `.distinct()` paid a full exchange of the exploded corpus relation
    // for the same set. The train side now flows scan → explode → bloom
    // prune → join with NO exchange before the join's own.
    def raw(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(distinctShingleMd5s(col("text"), shingleK)).as("sh"))
    // the benchmark side still needs the CROSS-doc distinct: `bs` is the
    // set semijoined against, and duplicate fps across bench docs would
    // double-count hits
    val bs = raw(benchmark).select(col("sh")).distinct()
    // auto-gate reads bs — the relation the join broadcasts or shuffles —
    // while the bloom builds from the pre-distinct benchmark shingles
    // (idempotent insert → same bloom, no extra exchange); the prune sits
    // below the train side's join input so it thins that exchange
    graft.plans.BloomPrune.pruned(raw(train), bs, "sh",
        bloomSource = Some(raw(benchmark).select(col("sh"))))
      .join(bs, "sh")
      .groupBy(col("doc_id"))
      // (doc_id, sh) is distinct on both join inputs → plain count is the
      // distinct matched-shingle count
      .agg(count(lit(1)).as("n_hit_shingles"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB scale path for [[decontaminate]]: identical shape with
    * WINNOWED substring fingerprints ([[Dedup.winnowFingerprints]] —
    * Schleimer et al. SIGMOD'03) as the overlap evidence instead of the
    * exact k-token shingle set — the same substitution
    * [[trainingSequencesWinnowed]] makes for the dedup stage. Winnowing
    * keeps ~2/(w+1) of the k-grams with the guarantee intact (any shared
    * run of w+k−1 chars still produces ≥ 1 shared fingerprint), so the
    * corpus side ships a fraction of the join rows; the benchmark's
    * distinct-fingerprint relation stays orders of magnitude smaller and
    * AQE-broadcastable (beyond broadcast size, the operator plants the
    * same runtime bloom prune as [[decontaminate]] — see
    * [[graft.plans.BloomPrune]]).
    *
    * Precision contract (the knob set that keeps the verdict meaningful
    * on natural text, where [[decontaminate]]'s token shingles are rare
    * but short char k-grams are ubiquitous):
    *  - `k` defaults to 40 CHARS — the char-equivalent of the exact
    *    form's 8-token shingle (~5 chars/token) — so a hit needs a shared
    *    run of w+k−1 = 43 chars, a leaked passage rather than a common
    *    phrase. At char k=8 every shared 11-char run (any common word
    *    pair) is a hit and the verdict degenerates to "everything is
    *    contaminated".
    *  - `maxDf` drops stop-fingerprints — fps present in more than
    *    `maxDf` TRAIN docs are treated as corpus boilerplate, not
    *    benchmark leakage (same cap as [[Dedup.winnowNearDups]]); this
    *    also bounds the join fan-out per fp, which is what keeps the
    *    100 TB join shape safe under boilerplate skew.
    *  - `minHits` requires that many independent shared fingerprints
    *    before a doc is flagged (1 = the detection guarantee verbatim).
    *
    * KNOWN FALSE-NEGATIVE MODE of the `maxDf` cap — and its audit: a
    * benchmark passage leaked into MORE than `maxDf` training docs is
    * indistinguishable from boilerplate by train-df alone, so this
    * verdict reports every such copy clean. That is precisely the mass
    * leakage a popular benchmark exhibits at corpus scale, so the capped
    * bench-side fps are NOT silently dropped: pair this verdict with
    * [[massContaminationSuspects]] — it emits the training docs carrying
    * those capped fps, and any non-empty result escalates to the exact
    * [[decontaminate]] path over the suspect slice. Use
    * [[decontaminationAudit]] to get both views from ONE materialized
    * train-fingerprint stage (separate calls fingerprint the corpus
    * twice). CorpusSpec plants a leak in > maxDf train docs and asserts
    * the pair of views catches what this verdict alone misses.
    *
    * Engine-local hash family → rows-only; agreement with the
    * oracle-checked exact form on planted leaks AND on the real-data
    * d44 split is asserted in CorpusSpec. Emits (doc_id, n_hit_fps) — a
    * count of winnowed fingerprints, not shingles, so the magnitude
    * differs from [[decontaminate]]'s by design; the CONTAMINATED/clean
    * verdict is what the two forms agree on. */
  def decontaminateWinnowed(train: DataFrame, benchmark: DataFrame,
                            k: Int = 40, w: Int = 4,
                            maxDf: Int = 50, minHits: Int = 1): DataFrame =
    winnowedDecon(train, benchmark, k, w, maxDf, minHits).verdict

  /** The audit companion to [[decontaminateWinnowed]]: the training docs
    * carrying a benchmark fingerprint that the `maxDf` stop-cap excluded
    * from the precise verdict — i.e. a bench fp present in more than
    * `maxDf` TRAIN docs, which is either corpus boilerplate that also
    * appears in the benchmark (harmless) or a benchmark passage mass-
    * leaked across the corpus (the worst contamination case). Train-df
    * alone cannot tell the two apart, so this relation names the docs to
    * escalate: any non-empty result warrants the exact [[decontaminate]]
    * pass over this slice (asserted end-to-end in CorpusSpec).
    *
    * Emits (doc_id, n_mass_fps), doc-ordered — the shape a pipeline
    * quarantines or anti-joins while escalation adjudicates.
    *
    * Scale shape: the suspect fp set is bounded by the benchmark's own
    * distinct fingerprints (small, AQE-broadcastable); the join back to
    * the train side emits one row per (doc, suspect fp) — linear in the
    * answer set itself, with the doc-keyed count combining map-side. */
  def massContaminationSuspects(train: DataFrame, benchmark: DataFrame,
                                k: Int = 40, w: Int = 4,
                                maxDf: Int = 50): DataFrame =
    // materializeStop = false (r21, the consumer-intent API): this entry
    // consumes ONLY the massSuspects view, which reads `stop` exactly once
    // (the bfAll semi-join) — so the train-df aggregate still runs once
    // with `stop` left lazy, and the eager checkpoint job was pure
    // job-boundary overhead for this caller. The verdict-consuming entries
    // keep the materialization: their bf relation embeds twice (bloom
    // subquery + join probe), so a lazy stop would re-run the aggregate.
    winnowedDecon(train, benchmark, k, w, maxDf, minHits = 1,
      materializeStop = false).massSuspects

  /** The verdict + mass-suspect pair from ONE pipeline construction.
    * [[decontaminateWinnowed]] and [[massContaminationSuspects]] each
    * materialize their own train-fingerprint stage eagerly at
    * construction, so calling them separately fingerprints the corpus
    * twice — the dominant cost at 100 TB, and under the disk strategy two
    * DISK_ONLY copies of the uncapped fp set. Production hygiene wants
    * both views anyway (the verdict is incomplete without the audit of
    * what its cap excluded), so this is the entry point to pair them
    * from a single materialized stage. */
  def decontaminationAudit(train: DataFrame, benchmark: DataFrame,
                           k: Int = 40, w: Int = 4,
                           maxDf: Int = 50, minHits: Int = 1): DeconViews =
    winnowedDecon(train, benchmark, k, w, maxDf, minHits)

  /** See [[decontaminationAudit]]. */
  case class DeconViews(verdict: DataFrame, massSuspects: DataFrame)

  /** Shared core of the winnowed decontamination pair: ONE materialized
    * train fingerprint relation and ONE train-df aggregate feed both the
    * precise verdict (fps with df ≤ maxDf) and the mass-suspect audit
    * (bench fps with df > maxDf) — the two views partition the matched
    * bench-side fingerprints, so nothing is silently dropped. */
  private[graft] def winnowedDecon(train: DataFrame, benchmark: DataFrame,
                                   k: Int, w: Int, maxDf: Int,
                                   minHits: Int,
                                   materializeStop: Boolean = true): DeconViews = {
    require(k >= 1 && w >= 1 && maxDf >= 1 && minHits >= 1,
      "k >= 1, w >= 1, maxDf >= 1, minHits >= 1")
    // `fps` is already the distinct per-doc fingerprint set (WinnowKernel
    // dedups), so the exploded relation is distinct per (doc_id, fp) with
    // no extra shuffle; only the benchmark side needs a global distinct
    def fps(df: DataFrame): DataFrame = Dedup.winnowFingerprints(df, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    // materialized once: feeds the train-df aggregate AND both hit joins
    // (storage strategy and its cluster-scale tradeoff: [[graft.Materialize]])
    val tf = graft.Materialize.stage(fps(train))
    // TRAIN-side df per fp (groupBy → map-side partial combine on the hot
    // boilerplate keys); > maxDf = stop-fingerprints. MATERIALIZED: the
    // unmaterialized plan would re-run this full-corpus aggregate — the
    // pipeline's dominant shuffle — once inside the bloom's scalar
    // subquery, once on the verdict's join side, and once in
    // massSuspects' semi-join ("ONE train-df aggregate" is the module's
    // contract, not just its doc). stop/bfAll/bf are all small
    // (boilerplate- resp. benchmark-bounded), so the extra stage
    // storage is negligible.
    // materializeStop = false is the single-view massSuspects caller's
    // declaration that `stop` has exactly ONE consumer in the plan it will
    // run — the aggregate then executes once inside that consumer's job
    // and the checkpoint boundary is dropped (r21; the contract's "ONE
    // train-df aggregate" is per-run either way)
    val stopAgg = tf.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("fp"))
    val stop = if (materializeStop) graft.Materialize.stage(stopAgg) else stopAgg
    // bfAll/bf stay LAZY (r20 optimization): the benchmark side is small
    // by contract and both relations derive from the MATERIALIZED tf/stop
    // stages, so re-deriving them inside a consumer's job is one cheap
    // benchmark scan + anti-join — where the previous eager
    // materializations cost a job boundary each per query. The module's
    // load-bearing contract ("ONE materialized train fingerprint relation
    // and ONE train-df aggregate") is untouched: tf and stop are what
    // bound the 100 TB work, and they remain materialized. Worst case for
    // the paired entry (both views consumed): the benchmark is
    // fingerprinted once per consuming view instead of once — bounded by
    // the benchmark's own size, never by the corpus.
    val bfAll = fps(benchmark).select(col("fp")).distinct()
    val bf = bfAll.join(stop, Seq("fp"), "left_anti")
    // same operator-planted bloom prune as [[decontaminate]] (Spark's
    // injection rule cannot see through the winnow Generate either):
    // thins the train side's join exchange to fps that might match the
    // surviving benchmark set
    val verdict = graft.plans.BloomPrune.pruned(tf, bf, "fp").join(bf, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_fps"))
      .filter(col("n_hit_fps") >= minHits)
      .orderBy(col("doc_id"))
    // the complement: bench fps the cap excluded, joined back to the docs
    // that carry them (suspect set is benchmark-bounded and small; no
    // bloom needed — the fan-out IS the answer set here)
    val massSuspects = tf
      .join(bfAll.join(stop, Seq("fp"), "left_semi"), "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_mass_fps"))
      .orderBy(col("doc_id"))
    DeconViews(verdict, massSuspects)
  }
}
