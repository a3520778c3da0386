package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Near-duplicate detection at scale (SURVEY.md §2.7 D2): MinHash + LSH
  * banding over word shingles, and SimHash with chunk-banded Hamming
  * candidates. Exact dedup lives in [[TextOps.dedupGroups]].
  *
  * Pipeline shape (100 TB-safe): shingle → per-doc signature (one scan,
  * codegen'd higher-order functions, no UDF) → explode to (band,
  * band-hash) rows → self-equijoin on the band key (shuffle O(rows·bands),
  * never O(rows²)) → exact Jaccard verification only on candidates.
  * Deterministic: hash family is seeded xxhash64, no RNG at execution time.
  */
object Dedup {

  /** Word w-shingles over a pre-tokenized array column. The token array
    * MUST be a materialized column, not an inline `split(...)` — an
    * expression inside the transform lambda is re-evaluated per element,
    * turning shingling O(tokens²) per row. */
  def shinglesFromTokens(toksCol: String, w: Int): org.apache.spark.sql.Column =
    expr(s"array_distinct(transform(sequence(0, greatest(size($toksCol) - $w, 0)), " +
      s"i -> concat_ws(' ', slice($toksCol, i + 1, $w))))")

  /** Tokenize-then-shingle in two projections.
    *
    * NULL text is UNKNOWN content (the d1 convention) — excluded from the
    * candidate pipeline up front. Dropping them here is not just semantics:
    * a NULL text yields a NULL signature, and every band hash degenerates
    * to the same `xxhash64(concat_ws(..., NULL))` = `xxhash64('')` value,
    * so N hostile NULL-text rows would co-bucket in EVERY band and emit
    * O(N²·bands) candidate pairs — all dead on arrival (their Jaccard is
    * NULL and fails the ≥ minSim filter), but only after a quadratic
    * self-join fan-out. The final pair set is unchanged; the blowup is
    * gone. (SimHash needs no such guard: its NULL band value never matches
    * an equi-join key.) */
  private def withShingles(docs: DataFrame, w: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("__toks"))
      .select(col("doc_id"), shinglesFromTokens("__toks", w).as("sh"))

  /** MinHash signature over a column of PRE-HASHED shingles (array<long>):
    * slot i re-hashes the 8-byte long with xxhash64(·, seed=i) — cheap
    * fixed-width hashing, vs n string-hashes per shingle which would
    * dominate the scan cost. Computed by the native
    * [[graft.functions.MinhashSignature]] expression (one fused loop; the
    * composed n×array_min(transform) form allocated n intermediate arrays
    * per row). Returns array<long> of length n. */
  def minhashSignature(hashedShinglesCol: String, n: Int): org.apache.spark.sql.Column = {
    GraftColumnBridge.column(graft.functions.MinhashSignature(
      GraftColumnBridge.expression(col(hashedShinglesCol)), n))
  }

  /** Banded MinHash signature relation (doc_id, band, bh) over an already
    * hashed-shingle (doc_id, hs: array<long>) input — THE LSH key format.
    * Single implementation on purpose: the band-hash layout is the
    * compatibility contract between [[minhashNearDups]] and a persisted
    * [[minhashIndex]] joined by [[incrementalNearDups]] ("identical hash
    * family" is load-bearing); two copies could silently diverge.
    * NOT materialized here — each caller checkpoints per its reuse shape.
    *
    * No emptiness filter — the shingle array is never empty by
    * construction, and a filter on it would be pushed into the scan and
    * recompute the whole shingle pipeline per row. */
  private def bandedSignature(hashed: DataFrame, bands: Int,
                              rowsPerBand: Int): DataFrame = {
    val n = bands * rowsPerBand
    val sigDf = hashed.select(col("doc_id"), minhashSignature("hs", n).as("sig"))
    val bandArr = (0 until bands).map { b =>
      val sliceExpr = s"slice(sig, ${b * rowsPerBand + 1}, $rowsPerBand)"
      s"named_struct('band', $b, 'bh', xxhash64(concat_ws(',', transform($sliceExpr, x -> CAST(x AS STRING)))))"
    }
    sigDf.select(col("doc_id"),
        explode(expr(bandArr.mkString("array(", ", ", ")"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate generation over an already hashed-shingle (doc_id,
    * hs: array<long>) relation — lets [[minhashNearDups]] share ONE
    * tokenize + shingle + hash scan between signature computation and
    * Jaccard verification instead of running the pipeline twice. */
  private def minhashCandidatesFromHashed(hashed: DataFrame, bands: Int,
                                          rowsPerBand: Int): DataFrame = {
    // materialized: the banded signature relation feeds both sides of the
    // self-equijoin, and Spark does no CSE across self-joins. A grouped
    // pair fusion was measured slower (plans/MEASUREMENTS.md, "Grouped
    // pair fusion for the LSH self-joins")
    val banded = graft.Materialize.stage(bandedSignature(hashed, bands, rowsPerBand))
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Full MinHash near-dup: candidates verified with exact Jaccard over the
    * 64-bit-hashed distinct shingle sets, ≥ minSim. Hashing before set
    * arithmetic keeps the materialized relation at 8 bytes per shingle
    * (strings would be ~w words each) and makes intersect/union integer
    * comparisons; a 64-bit collision altering a Jaccard value needs two
    * distinct shingles of one doc pair to collide (~n²/2⁶⁴ — negligible).
    * Verification joins the hashed sets back only for candidates. */
  def minhashNearDups(docs: DataFrame, minSim: Double, w: Int = 3,
                      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // one tokenize+shingle+hash scan for the whole pipeline: the
    // materialized (doc_id, hs) relation feeds signature/banding AND the
    // Jaccard verification
    val sh = graft.Materialize.stage(withShingles(docs, w)
      .select(col("doc_id"), expr("array_distinct(transform(sh, s -> xxhash64(s)))").as("sh")))
    val cands = minhashCandidatesFromHashed(
      sh.select(col("doc_id"), col("sh").as("hs")), bands, rowsPerBand)
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Features.pround(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minSim)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowing fingerprints per document (Schleimer et al., SIGMOD 2003 —
    * see [[graft.functions.WinnowKernel]]): the substring-level dedup
    * primitive. One codegen'd scan; `fps` is the sorted distinct fingerprint
    * set, ~2/(w+1) of the k-grams. */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    docs.select(col("doc_id"),
      GraftColumnBridge.column(graft.functions.WinnowFingerprints(
        GraftColumnBridge.expression(col("text")), k, w)).as("fps"))
  }

  /** Near-dup evidence from sorted runs: every ordered `(id_a, id_b)` pair
    * (`id_a <= id_b`) of the ids sharing one key, for each key whose row
    * count (the key's df) is in [2, `maxDf`] — one row per key and pair,
    * so a downstream pair count is the shared-key count. Shared by
    * [[winnowNearDups]] (long fingerprint keys) and
    * [[Corpus.exactShingleEdges]] (string shingle keys). `evidence` has
    * two columns, the key then an integral doc id; a NULL id is skipped,
    * and a duplicate `(key, id)` row counts toward df like any other row.
    *
    * Three steps, each bounded per key:
    *  - map side: sort each partition by key and ship at most `maxDf + 1`
    *    rows per key ([[sortedRuns]]), so a boilerplate key shared by half
    *    the corpus ships `(maxDf + 1) × map partitions` rows, never its
    *    whole row set;
    *  - exchange: hash-partition by key, sort each partition by
    *    `(key, id)`;
    *  - scan: one partition-local pass over each key's run, buffering at
    *    most `maxDf` ids; a run of more than `maxDf` rows is over the cap
    *    and emits nothing, so the decision is the exact df band test.
    * Ids ascend within a run, so the pairs come out value-ordered
    * whatever the partition layout.
    *
    * The map stage of the exchange runs here, eagerly, as the job
    * `runs[<key>,<id>]`: a partition-local scan over an exchange is
    * planned, and under AQE executed, at RDD construction. The scan
    * itself and every operator above it run lazily in the caller's job.
    * Figures and the rejected routes (a df count with a survivor join,
    * hashed keys, no map-side cap): plans/MEASUREMENTS.md, "Sorted-run
    * evidence and the native quality gate". */
  private[graft] def runPairs(evidence: DataFrame, maxDf: Int): DataFrame =
    pairFrame(evidence, runPairRows(evidence, maxDf))

  /** The (long, long) pair rows of [[runPairs]]; the `runs[...]` job runs
    * here. */
  private def runPairRows(evidence: DataFrame, maxDf: Int): RDD[InternalRow] = {
    require(maxDf >= 1, "maxDf >= 1")
    val keyType = evidence.schema(0).dataType
    graft.Materialize.labelled(evidence, "runs") {
      val runs = sortedRuns(evidence, maxDf)
      runs.queryExecution.toRdd.mapPartitions(new RunPairs(_, keyType, maxDf))
    }
  }

  /** `rows` of [[runPairRows]] as (id_a, id_b) in `evidence`'s id type. */
  private def pairFrame(evidence: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val idType = evidence.schema(1).dataType
    GraftColumnBridge.fromInternalRows(evidence.sparkSession, rows,
        StructType(Seq(StructField("id_a", LongType, nullable = false),
          StructField("id_b", LongType, nullable = false))))
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))
  }

  /** The edges of [[runPairs]] evidence: each distinct pair with its
    * shared-key count `n_shared`, kept at `n_shared >= minShared`. */
  private[graft] def sharedKeyEdges(pairs: DataFrame, minShared: Int): DataFrame =
    pairs.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** The first two steps of [[runPairs]]: `evidence` (key, id) with NULL
    * ids dropped and ids widened to long, at most `maxDf + 1` rows per key
    * per map partition, hash-partitioned by key and sorted by (key, id)
    * within each partition. */
  private[graft] def sortedRuns(evidence: DataFrame, maxDf: Int): DataFrame = {
    val Array(key, id) = evidence.columns
    val ev = evidence.select(col(key), col(id).cast("long").as(id))
      .filter(col(id).isNotNull)
    val keyType = ev.schema(0).dataType
    val cap = maxDf + 1
    val capped = ev.sortWithinPartitions(col(key)).queryExecution.toRdd
      .mapPartitions { rows =>
        val same = sameKey(keyType)
        var run: Any = null
        var n = 0
        rows.filter { r =>
          if (n > 0 && same(r, run)) n += 1
          else { run = keyOf(r, keyType); n = 1 }
          n <= cap
        }
      }
    GraftColumnBridge.fromInternalRows(ev.sparkSession, capped, ev.schema)
      .repartition(col(key))
      .sortWithinPartitions(col(key), col(id))
  }

  /** A copy of row `r`'s key (field 0) that outlives the row buffer. */
  private def keyOf(r: InternalRow, keyType: DataType): Any =
    if (r.isNullAt(0)) null
    else InternalRow.copyValue(r.get(0, keyType))

  /** Whether row `r`'s key (field 0) equals `key` (a NULL key equals a
    * NULL key, as a grouping does). */
  private def sameKey(keyType: DataType): (InternalRow, Any) => Boolean =
    keyType match {
      case LongType => (r, key) =>
        if (r.isNullAt(0)) key == null
        else key != null && r.getLong(0) == key.asInstanceOf[Long]
      case _ => (r, key) =>
        if (r.isNullAt(0)) key == null else r.get(0, keyType) == key
    }

  /** The scan of [[runPairs]] over one partition of [[sortedRuns]]: reads
    * each key's run into `ids` (at most `maxDf`; a longer run is dropped)
    * and emits its i < j pairs. Holds at most one row of the input, the
    * first row of the next run, between calls. */
  private final class RunPairs(rows: Iterator[InternalRow], keyType: DataType,
                               maxDf: Int) extends Iterator[InternalRow] {
    private val same = sameKey(keyType)
    private val ids = new Array[Long](maxDf)
    private var runSize = 0 // ids of the run being emitted; 0 if none
    private var a = 0
    private var b = 0
    private var peeked: InternalRow = null
    private val out = new SpecificInternalRow(Seq(LongType, LongType))

    /** Reads the next run; false when the partition is exhausted. */
    private def nextRun(): Boolean = {
      if (peeked == null) {
        if (!rows.hasNext) return false
        peeked = rows.next()
      }
      val key = keyOf(peeked, keyType)
      var n = 0
      var more = true
      while (more) {
        if (n < maxDf) ids(n) = peeked.getLong(1)
        n += 1
        if (rows.hasNext) { peeked = rows.next(); more = same(peeked, key) }
        else { peeked = null; more = false }
      }
      runSize = if (n >= 2 && n <= maxDf) n else 0
      a = 0
      b = 1
      true
    }

    override def hasNext: Boolean = {
      while (b >= runSize) if (!nextRun()) return false
      true
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      out.setLong(0, ids(a))
      out.setLong(1, ids(b))
      b += 1
      if (b == runSize) { a += 1; b = a + 1 }
      out
    }
  }

  /** Substring-level near-dup candidates: documents sharing ≥ `minShared`
    * winnowed fingerprints. The winnowing guarantee makes any shared
    * substring of ≥ w+k−1 bytes produce ≥ 1 shared fingerprint, so this
    * catches copied passages exact dedup and whole-doc MinHash both miss.
    *
    * Scale shape: explode to (fp, doc) — O(rows · fps/doc), distinct per
    * (doc, fp) by construction (WinnowKernel dedups per doc; `doc_id` is
    * the caller's primary key) — then the sorted-run evidence of
    * [[runPairs]]: at most maxDf + 1 rows per fp per map partition cross
    * the one fp-keyed exchange, and each fp whose df is in the dup-signal
    * band [2, maxDf] emits its C(df, 2) ordered pairs (df = 1 pairs with
    * nothing; a boilerplate fp over the cap emits none). One pair-count
    * aggregate then counts the shared fps per pair. Never O(rows²), and
    * nothing buffers more than maxDf ids of one fp. */
  def winnowNearDups(docs: DataFrame, minShared: Int, k: Int = 8, w: Int = 4,
                     maxDf: Int = 50): DataFrame = {
    sharedKeyEdges(runPairs(winnowEvidence(docs, k, w), maxDf), minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The (fp, doc_id) evidence of [[winnowNearDups]]: each doc's distinct
    * winnowed fingerprints. */
  private[graft] def winnowEvidence(docs: DataFrame, k: Int, w: Int): DataFrame =
    winnowFingerprints(docs, k, w).select(explode(col("fps")).as("fp"), col("doc_id"))

  /** The persistable MinHash index for a corpus snapshot, as the two
    * tables a production pipeline writes at ingest:
    *  - `bands`: (doc_id, band, bh) — the LSH candidate-generation keys;
    *  - `sets`:  (doc_id, hs) — hashed distinct shingle sets for
    *    exact-Jaccard verification (stored once per doc, not per band).
    * [[incrementalNearDups]] joins each new batch against them instead of
    * re-running the full self-join — the daily-ingest shape: band work is
    * O(new·bands), corpus signatures are never recomputed. */
  final case class MinhashIndex(bands: DataFrame, sets: DataFrame)

  def minhashIndex(docs: DataFrame, w: Int = 3, bands: Int = 16,
                   rowsPerBand: Int = 4): MinhashIndex = {
    // materialized: feeds both tables; one tokenize+hash scan
    val sh = graft.Materialize.stage(withShingles(docs, w)
      .select(col("doc_id"),
        expr("array_distinct(transform(sh, s -> xxhash64(s)))").as("hs")))
    MinhashIndex(bandedSignature(sh, bands, rowsPerBand), sh)
  }

  /** Incremental near-dup: band the NEW batch only and equijoin against a
    * persisted corpus [[minhashIndex]] — every new doc is checked against
    * the whole corpus without touching corpus-side signatures again.
    * Emits (new_id, corpus_id, jaccard ≥ minSim); identical hash family
    * to [[minhashNearDups]], so a batch joined against its own index
    * reproduces the self-join result (asserted in tests). */
  def incrementalNearDups(newDocs: DataFrame, corpus: MinhashIndex,
                          minSim: Double, w: Int = 3, bands: Int = 16,
                          rowsPerBand: Int = 4): DataFrame = {
    val fresh = minhashIndex(newDocs, w, bands, rowsPerBand)
    val cands = fresh.bands
      .select(col("band"), col("bh"), col("doc_id").as("new_id"))
      .join(corpus.bands.select(col("band"), col("bh"), col("doc_id").as("corpus_id")),
        Seq("band", "bh"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
    cands
      .join(fresh.sets.select(col("doc_id").as("new_id"), col("hs").as("hs_new")), "new_id")
      .join(corpus.sets.select(col("doc_id").as("corpus_id"), col("hs").as("hs_corpus")), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        Features.pround(
          size(array_intersect(col("hs_new"), col("hs_corpus"))).cast("double") /
            size(array_union(col("hs_new"), col("hs_corpus"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minSim)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns pairwise near-dup evidence ([[minhashNearDups]],
    * [[simhashNearDups]], [[winnowNearDups]], [[Similarity.jaccardPairs]])
    * into a dedup DECISION: every doc gets its component's minimum id, and
    * the canonical representative is the row where `id = component`.
    *
    * One staged relation feeds two paths. The symmetric edge list is
    * materialized once ([[graft.Materialize.stage]]) with every edge whose
    * endpoint is NULL or missing from `nodes` dropped, so such an edge
    * neither labels nor bridges anything on either path; the same job
    * counts the staged rows as an observed metric. Then:
    *  - at most [[DriverEdgeBound]] edges: the edges are collected (one
    *    `collect[src,dst]` job) and labelled on the driver by union-find
    *    with min-id roots over primitive arrays ([[unionFind]]). The
    *    labels are `nodes` left-joined to a local relation of one
    *    (id, comp) row per non-root node, `comp = id` for every other
    *    node: no shuffle, no loop. Real corpora sit near 0.1 edges/doc
    *    ([[Corpus.denseKneeEdgesPerDoc]]), so this is the common case.
    *  - above the bound: iterative min-label propagation WITH POINTER
    *    JUMPING over the same staged relation, the design that scales past
    *    driver memory ([[propagatedLabels]]).
    * Both paths give identical labels (DedupSimilaritySpec forces the
    * loop with a bound of 0 and compares). The node check costs a
    * broadcast job of the node ids; the corpus pipeline, whose evidence ids
    * are nodes by construction, labels through [[evidenceNonRoots]]
    * instead, which counts the evidence pairs in one job and comes here
    * only above its bound.
    *
    * Raises if the loop's `maxIter` rounds don't reach the fixpoint. The
    * default cap is sized to the DOUBLING bound, not typical graphs:
    * rounds ≈ ⌈log₂(diameter)⌉ + O(1), so 64 covers any graph addressable
    * by a 64-bit id (a 2⁶⁰-node chain included) — and since the loop exits
    * at the fixpoint, the generous cap costs nothing on the 2–3-round
    * clusters real near-dup evidence produces. A cap of 20 would be a
    * cliff at ~10⁶-node pathological chains (21 doubling rounds). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 64): DataFrame =
    components(nodes, edges, maxIter).labels

  /** Undirected edges at or below which [[connectedComponents]] labels on
    * the driver: 2²⁰ edges collect as 2²¹ longs (16 MB), the union-find
    * adds one Long and one Int array over the distinct endpoints, and the
    * local label relation holds at most 2²¹ (id, comp) rows. */
  private[graft] val DriverEdgeBound: Long = 1L << 20

  /** Component labels (id, comp) and the ids of the non-root nodes
    * (`id <> comp`): what a dedup keeps is `nodes` anti-joined to
    * `nonRoots`, which on the driver path is a small local relation. */
  private[graft] case class Components(labels: DataFrame, nonRoots: DataFrame)

  /** [[connectedComponents]] with the driver-path bound as a parameter
    * (0 forces the distributed loop, even for an empty edge list). */
  private[graft] def components(nodes: DataFrame, edges: DataFrame,
                                maxIter: Int = 64,
                                driverEdgeBound: Long = DriverEdgeBound): Components = {
    val ids = nodes.select(col("id").as("__nid"))
    def known(df: DataFrame, end: String): DataFrame =
      df.join(ids, col(end) === col("__nid"), "left_semi")
    val metricName = "graft_cc_edges"
    val (sym, metrics) = graft.Materialize.stageObserved(known(known(
      edges.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst"))),
      "src"), "dst")
      .observe(metricName, count(lit(1)).as("n")))
    // the count rides the staging job; a strategy that runs another
    // execution leaves no metric and pays a count job
    val directed = metrics.get(metricName).map(_.getLong(0)).getOrElse(sym.count())
    if (driverEdgeBound > 0 && directed <= 2 * driverEdgeBound) driverLabels(nodes, sym)
    else propagatedLabels(nodes, sym, maxIter)
  }

  private def driverLabels(nodes: DataFrame, sym: DataFrame): Components = {
    // each undirected edge once (a self-loop joins nothing)
    val half = sym.filter(col("src") < col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
    val parts = graft.Materialize.labelled(half, "collect") {
      half.queryExecution.toRdd.mapPartitions { rows =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator(b.result())
      }.collect()
    }
    graft.Materialize.release(sym)
    val local = nonRootRelation(nodes.sparkSession, Array.concat(parts.toIndexedSeq: _*))
    val labels = nodes.join(local, nodes("id") === col("__cid"), "left")
      .select(nodes("id"), coalesce(col("__comp"), nodes("id")).as("comp"))
    Components(labels, local.select(col("__cid").as("id")))
  }

  /** A local relation (__cid, __comp) with one row per non-root node of
    * the components of a flat (a₀, b₀, a₁, b₁, …) edge array, labelled by
    * [[unionFind]]. */
  private def nonRootRelation(spark: org.apache.spark.sql.SparkSession,
                              pairs: Array[Long]): DataFrame = {
    val (child, root) = unionFind(pairs)
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      java.util.Arrays.asList(child.indices.map(i => Row(child(i), root(i))): _*),
      StructType(Seq(StructField("__cid", LongType, nullable = false),
        StructField("__comp", LongType, nullable = false))))
  }

  /** The non-root ids of the components of the near-dup graph that
    * `evidence` (key, id) gives under the [[runPairs]] rule: two ids are
    * adjacent iff they share at least `minShared` keys whose df is in
    * [2, `maxDf`]. Every evidence id must be a node: no edge is checked
    * against `nodes`, so the caller guarantees it ([[Corpus]], whose
    * evidence ids are kept doc ids by construction; a NULL id never pairs).
    * [[components]] keeps the node check for every other caller.
    *
    * After the `runs[...]` map stage, ONE job labelled `edges[id_a,id_b]`
    * runs the run scan, counts the pairs of each partition in a table of
    * at most `driverEdgeBound / partitions` pairs (fewer when
    * `spark.driver.maxResultSize` needs it) and collects the tables. The
    * driver merges them, keeps the pairs with `minShared` shared keys and
    * labels by [[unionFind]], so it never holds more than about
    * `driverEdgeBound` pairs; the result is `Left` of the non-root ids in
    * ascending order. When a table or the merged count overflows, or the
    * bound is 0, the pair-count edges and `nodes` go through
    * [[components]] (its staged edges, then its collect or its loop), and
    * the result is `Right` of its non-root relation (id). Either way,
    * [[withoutNonRoots]] drops them. */
  private[graft] def evidenceNonRoots(evidence: DataFrame, maxDf: Int, minShared: Int,
                                      nodes: DataFrame,
                                      driverEdgeBound: Long = DriverEdgeBound)
      : Either[Array[Long], DataFrame] = {
    require(minShared >= 1, "minShared >= 1")
    val rows = runPairRows(evidence, maxDf)
    val pairs = pairFrame(evidence, rows)
    val counted =
      if (driverEdgeBound <= 0) None
      else graft.Materialize.labelled(pairs, "edges")(countedPairs(rows, driverEdgeBound))
    counted match {
      case Some(table) => Left(unionFind(table.edges(minShared))._1)
      case None =>
        Right(components(nodes, sharedKeyEdges(pairs, minShared).select(col("id_a"), col("id_b")),
          driverEdgeBound = driverEdgeBound).nonRoots)
    }
  }

  /** The rows of `df` whose `id` column is non-NULL and not among
    * [[evidenceNonRoots]]' ids: the winners of a dedup. Ascending driver
    * ids are shipped with `sc.broadcast`, which runs no job, and tested per
    * row by binary search ([[graft.functions.InSortedIds]]); a distributed
    * non-root relation is anti-joined. */
  private[graft] def withoutNonRoots(df: DataFrame, id: String,
                                     nonRoots: Either[Array[Long], DataFrame]): DataFrame = {
    val known = df.filter(col(id).isNotNull)
    nonRoots match {
      case Left(ids) =>
        val sorted = df.sparkSession.sparkContext.broadcast(ids)
        known.filter(!GraftColumnBridge.column(graft.functions.InSortedIds(
          GraftColumnBridge.expression(col(id).cast("long")), sorted)))
      case Right(relation) =>
        known.join(relation.select(col("id").as("__non_root")),
          col(id) === col("__non_root"), "left_anti")
    }
  }

  /** Bytes one counted pair takes in a task result: two ids and a count. */
  private val CountedPairBytes = 24L

  /** The distinct pairs of `rows` (self-pairs dropped) with their row
    * counts, from one job, or None when a partition or the merged table
    * holds more than `bound` pairs. */
  private def countedPairs(rows: RDD[InternalRow], bound: Long): Option[PairTable] = {
    val sc = rows.sparkContext
    val parts = math.max(1, rows.getNumPartitions)
    // half the result budget, split across the tasks
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val perTask = math.max(1L, math.min(bound,
      if (maxResult > 0) maxResult / 2 / CountedPairBytes else bound) / parts)
    val merged = new PairTable
    var over = false
    sc.runJob(rows, (it: Iterator[InternalRow]) => {
      val t = new PairTable
      while (it.hasNext && t.size <= perTask) {
        val r = it.next()
        val a = r.getLong(0)
        val b = r.getLong(1)
        if (a != b) t.add(a, b, 1L)
      }
      if (t.size > perTask) null else t.triples
    }, (_: Int, triples: Array[Long]) =>
      if (triples == null) over = true
      else if (!over) {
        var i = 0
        while (i < triples.length) {
          merged.add(triples(i), triples(i + 1), triples(i + 2))
          i += 3
        }
        over = merged.size > bound
      })
    if (over) None else Some(merged)
  }

  /** Open-addressing count table keyed by an id pair, over three primitive
    * arrays (a count of 0 marks an empty slot). */
  private final class PairTable {
    private var slots = 1024
    private var ka = new Array[Long](slots)
    private var kb = new Array[Long](slots)
    private var n = new Array[Long](slots)
    var size = 0

    private def slot(a: Long, b: Long): Int = {
      var h = a * 0x9e3779b97f4a7c15L ^ b
      h ^= h >>> 32
      h *= 0xd6e8feb86659fd93L
      (h ^ (h >>> 32)).toInt & (slots - 1)
    }

    def add(a: Long, b: Long, count: Long): Unit = {
      if (2 * (size + 1) > slots) grow()
      var i = slot(a, b)
      while (n(i) != 0 && (ka(i) != a || kb(i) != b)) i = (i + 1) & (slots - 1)
      if (n(i) == 0) { ka(i) = a; kb(i) = b; size += 1 }
      n(i) += count
    }

    private def grow(): Unit = {
      val (oa, ob, on) = (ka, kb, n)
      slots *= 2
      ka = new Array[Long](slots); kb = new Array[Long](slots); n = new Array[Long](slots)
      size = 0
      var i = 0
      while (i < oa.length) { if (on(i) != 0) add(oa(i), ob(i), on(i)); i += 1 }
    }

    /** (a, b, count) triples, flat. */
    def triples: Array[Long] = {
      val out = new Array[Long](3 * size)
      var j = 0
      var i = 0
      while (i < slots) {
        if (n(i) != 0) { out(j) = ka(i); out(j + 1) = kb(i); out(j + 2) = n(i); j += 3 }
        i += 1
      }
      out
    }

    /** The (a, b) pairs counted at least `minShared` times, flat. */
    def edges(minShared: Int): Array[Long] = {
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < slots) {
        if (n(i) >= minShared) { b += ka(i); b += kb(i) }
        i += 1
      }
      b.result()
    }
  }

  /** Union-find with min-id roots over a flat (a₀, b₀, a₁, b₁, …) edge
    * array: returns the non-root ids and their roots (component minima),
    * in ascending id order. Ids are ranked into a sorted distinct array, so
    * the forest is two Int arrays; every union hangs the larger root under
    * the smaller, so a root is its component's minimum. */
  private def unionFind(pairs: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = pairs.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < pairs.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, pairs(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, pairs(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    val nonRoot = (0 until n).filter(x => find(x) != x).toArray
    (nonRoot.map(ids(_)), nonRoot.map(x => ids(find(x))))
  }

  /** The distributed path of [[connectedComponents]]: iterative min-label
    * propagation WITH POINTER JUMPING over the staged symmetric edges.
    *
    * Each round propagates the minimum label over graph edges AND over
    * label-pointer edges (id ↔ comp, rebuilt from the previous round's
    * labels): the pointer edges make every node see `comp(comp(id))` each
    * round — simultaneous pointer doubling (Shiloach–Vishkin
    * shortcutting), so the distance a label travels doubles per round and
    * the fixpoint arrives in O(log diameter) rounds, not O(diameter). A
    * pathological chain corpus (doc i near-dup of doc i+1, diameter n)
    * converges in ~log₂n rounds where plain propagation needs n — the
    * chain-fixture test pins a 3000-node chain inside `maxIter = 20`. The
    * augmentation is one extra union into the same neighbor-min aggregate:
    * still exactly one shuffle round (+ the label join) and one
    * materialization per iteration.
    *
    * Per-round materializations go through [[graft.Materialize.stage]]
    * and so follow its strategy; each superseded round's blocks are
    * released as soon as the next round lands, so the loop holds ≤ 2
    * rounds of (id, comp) pairs plus the edge list (under `disk` the
    * FINAL labels stay stored until [[graft.Materialize.releaseStages]]).
    * All strategies produce identical labels. */
  private def propagatedLabels(nodes: DataFrame, sym: DataFrame,
                               maxIter: Int): Components = {
    def mat(df: DataFrame): DataFrame = graft.Materialize.stage(df)
    // Round 1 folded into initialization: with the identity labeling
    // (comp = id) the first round's pointer edges are id↔id no-ops and its
    // neighbor-min is simply min(id, min of direct neighbor ids) — so
    // start the loop FROM that state and skip one mat+changed-count cycle.
    // Every staged edge has both endpoints in `nodes`, so the aggregate
    // needs no guard against an unknown low id becoming a label.
    var labels = mat(nodes
      .join(sym.groupBy(col("dst")).agg(min(col("src")).as("__nbr")),
        nodes("id") === col("dst"), "left")
      .select(nodes("id"),
        least(nodes("id"), coalesce(col("__nbr"), nodes("id"))).as("comp")))
    var retained = labels // the materialized relation backing `labels`
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // pointer edges from the PREVIOUS round's labels: comp→id delivers
      // comp(comp(id)) to id (the doubling step); id→comp spreads a low
      // label down to the pointed-at node, which only accelerates
      val ptr = labels.select(col("comp").as("src"), col("id").as("dst"))
        .unionByName(labels.select(col("id").as("src"), col("comp").as("dst")))
      val nbrMin = sym.unionByName(ptr).join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nbr_comp"))
      // the changed-count rides the materialization job as an observed
      // metric ([[graft.Materialize.stageObserved]]), so the loop control
      // needs no job of its own under `local`: one job per round, not two.
      // The observe(name) form, NOT an Observation object: Observation
      // registers with the session's ObservationManager, non-serializable
      // session state that breaks any later closure capturing the session
      // (Spark ML training summaries do), and its get() waits on the async
      // listener bus. sum over an empty relation is null → no change; a
      // missing metric (`disk`, `reliable`) falls back to the count job.
      // per-round metric name: the disk strategy persists WITH lineage
      // kept, so round n+1's plan still contains round n's CollectMetrics
      // node and a repeated name is a DUPLICATED_METRICS_NAME analysis
      // error (local/reliable truncate lineage and never see it)
      val metricName = s"graft_cc_changed_$it"
      val observed = labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(labels("id"),
          least(labels("comp"), coalesce(col("nbr_comp"), labels("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), labels("comp")) < labels("comp")).as("__ch"))
        .observe(metricName, sum(col("__ch").cast("long")).as("n"))
      val (next, metrics) = graft.Materialize.stageObserved(observed)
      changed = metrics.get(metricName)
        .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
        .getOrElse(next.filter(col("__ch")).count())
      // drop the superseded round's blocks now (a disk handle stays
      // registered for releaseStages; double release is a no-op) — bounds
      // the loop's footprint to two rounds of labels
      graft.Materialize.release(retained)
      retained = next
      labels = next.select(col("id"), col("comp"))
      it += 1
    }
    require(changed == 0L, s"connectedComponents did not converge in $maxIter rounds")
    Components(labels, labels.filter(col("id") =!= col("comp")).select(col("id")))
  }

  /** SimHash (64-bit): per-bit majority vote over xxhash64'd distinct
    * tokens, computed by the native [[graft.functions.SimhashBits]]
    * expression — a narrow, shuffle-free projection (the explode +
    * 64-column groupBy formulation this replaces shuffled one row per
    * (doc, token)). */
  def simhash(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        expr("transform(array_distinct(split(text, ' ', -1)), t -> xxhash64(t))").as("__hs"))
      .select(col("doc_id"),
        GraftColumnBridge.column(graft.functions.SimhashBits(
          GraftColumnBridge.expression(col("__hs")))).as("simhash"))
  }

  /** SimHash near-dup candidates: band the 64-bit signature into four
    * 16-bit chunks; docs sharing any chunk are candidates (Hamming-LSH);
    * verify with exact bit_count(xor) ≤ maxHamming. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = simhash(docs)
    val chunks = (0 until 4).map(c =>
      s"named_struct('chunk', $c, 'v', shiftright(simhash, ${c * 16}) & 65535)")
    // materialized for the same self-join reason as minhashCandidates (the
    // grouped pair fusion was measured ~1.5× slower here: same note)
    val banded = graft.Materialize.stage(sigs.select(col("doc_id"), col("simhash"),
        explode(expr(chunks.mkString("array(", ", ", ")"))).as("cc"))
      .select(col("doc_id"), col("simhash"),
        col("cc.chunk").as("chunk"), col("cc.v").as("v")))
    val a = banded.select(col("chunk"), col("v"),
      col("doc_id").as("id_a"), col("simhash").as("sig_a"))
    val b = banded.select(col("chunk"), col("v"),
      col("doc_id").as("id_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sig_a ^ sig_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }
}
