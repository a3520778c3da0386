package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.7 D4) and
  * n-gram Jaccard similarity over `documents`.
  *
  * Families, each a bounded query set (`vec_id < nQueries`) against the
  * corpus, ranked by the salted two-phase [[topKPerQuery]]:
  *  - exact ([[bruteForceTopK]]): broadcast queries, one corpus scan;
  *  - LSH ([[lshTopK]]): random-hyperplane bucket equijoin, exact re-rank;
  *  - IVF ([[ivfTopK]]): k-means cells, each query probes its nProbe
  *    nearest, exact re-rank within them;
  *  - PQ ([[pqTopK]] ADC, [[pqTopKSDC]] SDC): the corpus is scanned as
  *    m-byte codes against per-query lookup tables;
  *  - IVF-PQ ([[ivfPqTopK]], raw or residual codes): IVF probes, PQ codes;
  *  - semantic dedup ([[semanticDedup]]) and streaming ingest
  *    ([[incrementalVectorIngest]]) reuse the IVF and IVF-PQ pieces.
  *
  * The inner loops exist once, as private kernels shared by every family:
  * [[sqL2]] / [[nearest]] (squared L2 summed left to right; first-minimum
  * argmin, NaN greatest), [[probeCells]], [[subspaceLut]] and
  * [[codeDistance]], [[probedCodeDistances]], [[BoundedTopK]] under the
  * [[outranks]] order, [[trainingSample]], [[hyperplaneBits]] and
  * [[cosSim]]. Exact cosine is the native `cosine_sim` expression (or its
  * composed `aggregate(zip_with(...))` form): sequential left-to-right
  * double summation, bit-identical to DuckDB `list_dot_product`.
  */
object Similarity {

  /** Cosine similarity between two ArrayType(Float) columns, computed in
    * double precision. Uses the native [[graft.functions.CosineSimilarity]]
    * codegen expression when the session has graft extensions registered
    * (one fused loop, no allocation); otherwise the composed higher-order
    * form. Both produce bit-identical doubles on well-formed vectors (same
    * accumulation order, null on length mismatch or null element). They
    * diverge ONLY on non-finite elements and zero norms: the native form
    * returns NULL (undefined similarity — a NaN would rank above every
    * real one in a descending top-k), where the composed form lets the
    * raw NaN/±Inf arithmetic through; every declared query runs with
    * extensions registered, so the catalog always gets the NULL contract.
    * Resolves the ACTIVE session — a hard-coded None here used to make the
    * native branch unreachable from this public entry point. */
  def cosineExpr(a: String, b: String): org.apache.spark.sql.Column =
    cosineExprIn(org.apache.spark.sql.SparkSession.getActiveSession, a, b)

  private def cosineExprIn(spark: Option[org.apache.spark.sql.SparkSession],
                           a: String, b: String): org.apache.spark.sql.Column = {
    val native = spark.exists(_.catalog.functionExists("cosine_sim"))
    if (native) expr(s"cosine_sim($a, $b)")
    else {
      def dot(x: String, y: String) =
        s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
      expr(s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))")
    }
  }

  /** The exact-cosine score every re-ranking family emits:
    * `cos_sim = pround(cosine(q_emb, n_emb), 6)`. */
  private[graft] def cosSim(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Column =
    Features.pround(cosineExprIn(Some(spark), "q_emb", "n_emb"), 6).as("cos_sim")

  /** Salted two-phase per-query top-k over a scored candidate relation
    * (query_id, nbr_id, cos_sim). A single window partitioned by query_id
    * caps parallelism at nQueries tasks — with 20 queries and a large
    * corpus that's one straggler stage. Phase 1 ranks within
    * (query_id, salt) — `salts`× the parallelism, each task seeing ~1/salts
    * of the candidates — and keeps k per salt; phase 2 ranks the ≤ salts·k
    * survivors per query (tiny). The global top-k under
    * (cos_sim desc, nbr_id) is contained in the union of per-salt top-ks,
    * so the result — ranks included — is bit-identical to the one-window
    * form (asserted in SimilaritySpec). */
  private def topKPerQuery(scored: DataFrame, k: Int, salts: Int = 8,
                           scoreCol: String = "cos_sim",
                           ascending: Boolean = false): DataFrame = {
    val ord = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(ord, col("nbr_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(ord, col("nbr_id"))
    // a NULL score (length mismatch, zero-norm/empty embedding —
    // [[graft.functions.CosineSimilarity]]'s undefined cases) is not a
    // rankable candidate; without the filter it would fill top-k slots
    // whenever the candidate pool is smaller than k
    partitionLocalTopK(scored.where(col(scoreCol).isNotNull), k, scoreCol, ascending)
      .withColumn("__salt", pmod(col("nbr_id"), lit(salts)))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .select(col("query_id"), col("nbr_id"), col(scoreCol),
        row_number().over(w2).cast("long").as("rank"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The one selection order: true iff (sa, na) outranks (sb, nb) under
    * (score [asc|desc], nbr_id asc). Scores compare with Spark's SQL
    * double ordering (−0.0 == 0.0, NaN greatest — `SQLOrderingUtil`'s
    * rule, `if (x == y) 0 else Double.compare`), so a candidate kept or
    * dropped by a [[BoundedTopK]] is exactly the one the window rank would
    * keep or drop. */
  private def outranks(sa: Double, na: Long, sb: Double, nb: Long,
                       ascending: Boolean): Boolean = {
    val c = if (sa == sb) 0 else java.lang.Double.compare(sa, sb)
    if (c != 0) { if (ascending) c < 0 else c > 0 } else na < nb
  }

  private final case class Candidate[P](score: Double, nbr: Long, payload: P)

  /** Worst-at-head bounded heap keeping the best `k` (score, nbr)
    * candidates under [[outranks]]: the root is the weakest kept
    * candidate, so a better one replaces it in O(log k). `payload` rides
    * along (the row, or the unrounded distance). */
  private final class BoundedTopK[P](k: Int, ascending: Boolean) {
    private val heap = new java.util.PriorityQueue[Candidate[P]](k + 1,
      (a: Candidate[P], b: Candidate[P]) =>
        if (outranks(a.score, a.nbr, b.score, b.nbr, ascending)) 1
        else if (outranks(b.score, b.nbr, a.score, a.nbr, ascending)) -1
        else 0)
    def offer(score: Double, nbr: Long, payload: P): Unit =
      if (heap.size < k) heap.add(Candidate(score, nbr, payload))
      else {
        val w = heap.peek()
        if (outranks(score, nbr, w.score, w.nbr, ascending)) {
          heap.poll(); heap.add(Candidate(score, nbr, payload))
        }
      }
    def kept: Iterator[(Long, P)] =
      scala.jdk.CollectionConverters.IteratorHasAsScala(heap.iterator()).asScala
        .map(c => (c.nbr, c.payload))
  }

  /** Partition-local bounded selection feeding [[topKPerQuery]]'s rank
    * exchange: keep the best `k` candidates per query WITHIN each input
    * partition (a narrow mapPartitions, no shuffle), so the exchange
    * carries O(partitions · queries · k) rows. Why this beats Spark's own
    * map-side WindowGroupLimit: plans/MEASUREMENTS.md "Partition-local
    * top-k". Bit-identical by the same containment argument the salted
    * window makes for salts: the global top-k under [[outranks]] is
    * contained in the union of per-partition top-ks, and the downstream
    * two-phase rank re-ranks the survivors globally. State is q·k rows
    * per partition (the query set is bounded by contract on every D4
    * path). */
  private def partitionLocalTopK(scored: DataFrame, k: Int,
                                 scoreCol: String,
                                 ascending: Boolean): DataFrame = {
    val schema = scored.schema
    val qi = schema.fieldIndex("query_id")
    val ni = schema.fieldIndex("nbr_id")
    val si = schema.fieldIndex(scoreCol)
    val out = scored.rdd.mapPartitions { it =>
      val heaps = scala.collection.mutable.LongMap
        .empty[BoundedTopK[org.apache.spark.sql.Row]]
      it.foreach { r =>
        heaps.getOrElseUpdate(r.get(qi).asInstanceOf[Number].longValue(),
          new BoundedTopK(k, ascending)).offer(
          r.get(si).asInstanceOf[Number].doubleValue(),
          r.get(ni).asInstanceOf[Number].longValue(), r)
      }
      heaps.valuesIterator.flatMap(_.kept.map(_._2))
    }
    scored.sparkSession.createDataFrame(out, schema)
  }

  /** D4 exact — brute-force top-k cosine neighbors for a bounded query set
    * (`vec_id < nQueries`). Query side is broadcast; corpus is scanned
    * once; top-k per query via the salted two-phase rank on (rounded sim,
    * neighbor id) so selection is deterministic and the top-k stage is not
    * capped at nQueries-way parallelism. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val joined = embeddings
      .select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"), cosSim(embeddings.sparkSession))
    topKPerQuery(joined, k)
  }

  /** `bands` × `bits` seeded Gaussian hyperplanes over `dim`, as one fused
    * native sign-bit column over `embedding`
    * ([[graft.functions.HyperplaneBits]]; band t's bits start at bit
    * t·bits). Band t's planes draw from `Random(seedOf(t))`. */
  private def hyperplaneBits(dim: Int, bands: Int, bits: Int,
                             seedOf: Int => Long): org.apache.spark.sql.Column = {
    val planes: Seq[Seq[Double]] = (0 until bands).flatMap { t =>
      val rng = new scala.util.Random(seedOf(t))
      Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
    }
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.HyperplaneBits(
      org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")), planes))
  }

  /** SQL text of band t's `bits`-wide bucket id sliced from `__bits`. */
  private def bandSlice(t: Int, bits: Int): String =
    s"(shiftrightunsigned(__bits, ${t * bits}) & ${(1L << bits) - 1L}L)"

  /** LSH-bucketed approximate top-k with OR-amplification: `nTables`
    * independent hash tables of `nPlanes` bits each; a pair is a candidate
    * if it collides in ANY table (recall ≈ 1−(1−p^b)^L). Candidates are
    * deduped before the exact cosine re-rank, so each pair's similarity is
    * computed once. Shuffle is O(rows · nTables), never O(rows²). */
  def lshTopK(embeddings: DataFrame, dim: Int, nQueries: Int, k: Int,
              nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    // one scan, one fused native expression: all nTables·nPlanes sign bits
    // per row (graft.functions.HyperplaneBits), then cheap bit-slicing into
    // per-table bucket ids and one explode
    require(nTables * nPlanes <= 64, "hyperplane signature limited to 64 bits")
    val bucketCols = (0 until nTables).map(t =>
      s"concat('$t:', CAST(${bandSlice(t, nPlanes)} AS STRING))")
    // slim (vec_id, bucket) relation — embeddings deliberately NOT carried
    // (verification re-fetches them by id; shuffling vectors through the
    // candidate distinct would cost more than the re-scan). Materialized:
    // the relation feeds both the query side and the corpus side of the
    // bucket join — unmaterialized, the HyperplaneBits dot products and the
    // explode would run twice (no CSE across self-joins, the Dedup rule).
    // The stage holds nTables small rows per vector, not vectors.
    val bucketed = graft.Materialize.stage(embeddings
      .withColumn("__bits", hyperplaneBits(dim, nTables, nPlanes, 42L + _))
      .select(col("vec_id"),
        explode(expr(bucketCols.mkString("array(", ", ", ")"))).as("bucket")))
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val candIds = bucketed
      .select(col("vec_id").as("nbr_id"), col("bucket"))
      .join(broadcast(q), "bucket")
      .filter(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id")).distinct()
    val qEmb = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = candIds
      .join(embeddings.select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb")), "nbr_id")
      .join(broadcast(qEmb), "query_id")
      .select(col("query_id"), col("nbr_id"), cosSim(embeddings.sparkSession))
    topKPerQuery(cands, k)
  }

  /** Squared L2 distance Σ (a(off + j) − b(j))² over j < len, summed left
    * to right — the one distance every quantizer, encoder, probe and
    * lookup table here uses, so each sees the same IEEE sum. */
  private def sqL2(a: Array[Double], off: Int, b: Array[Double], len: Int): Double = {
    var d = 0.0; var j = 0
    while (j < len) { val t = a(off + j) - b(j); d += t * t; j += 1 }
    d
  }

  /** Index of the centroid in `cs` nearest to a(off until off + len):
    * the FIRST minimum, with NaN distances ordered greatest
    * (`Double.compare`) — Spark's `array_position(d, array_min(d))`. */
  private def nearest(a: Array[Double], off: Int, cs: Array[Array[Double]],
                      len: Int): Int = {
    var best = 0; var bestD = sqL2(a, off, cs(0), len); var ci = 1
    while (ci < cs.length) {
      val d = sqL2(a, off, cs(ci), len)
      if (java.lang.Double.compare(d, bestD) < 0) { best = ci; bestD = d }
      ci += 1
    }
    best
  }

  /** Seeded k-means++ init + Lloyd iterations over a bounded in-memory
    * sample (the IVF coarse quantizer). Deterministic for a fixed seed;
    * an emptied cluster keeps its previous centroid. Fails loudly when
    * the usable sample cannot seat k distinct seeds: past that point the
    * D² seeding loop has consumed all mass and would silently reuse
    * sample points — duplicate centroids that concentrate vectors into
    * fewer effective cells and quadratically inflate SemDeDup's
    * within-cell self-join (the exact failure the k-scaled sample in
    * [[trainIvfCentroids]] exists to prevent). */
  private[graft] def kmeansLloyd(rawPoints: Array[Array[Double]], k: Int,
                                     iters: Int, seed: Long): Array[Array[Double]] = {
    require(rawPoints.nonEmpty, "kmeans sample is empty")
    // fix the quantizer dimension to the sample's MODAL vector length and
    // drop the stragglers: one truncated embedding in the sample (a
    // partial encoder failure — the same hostile class CosineSimilarity
    // returns NULL for) would otherwise either crash sqL2's fixed-dim
    // loop (AIOOBE) or, if it happened to be points(0), silently truncate
    // every distance to its prefix — wrong centroids with no error
    val dim = rawPoints.map(_.length).groupBy(identity)
      .maxBy { case (len, g) => (g.length, len) }._1
    val points = rawPoints.filter(_.length == dim)
    require(points.length >= k,
      s"kmeans sample has only ${points.length} usable points (modal dim $dim) " +
        s"for k=$k clusters — the D² seeding would degenerate into duplicate " +
        s"centroids; raise samplesPerCentroid / the corpus, or lower nClusters")
    val rng = new scala.util.Random(seed)
    // k-means++ seeding: first centroid uniform, next ∝ D²(x)
    val centroids = Array.ofDim[Array[Double]](k)
    centroids(0) = points(rng.nextInt(points.length)).clone()
    val d2 = points.map(sqL2(_, 0, centroids(0), dim))
    var c = 1
    while (c < k) {
      val total = d2.sum
      val target = rng.nextDouble() * total
      var acc = 0.0; var pick = 0
      var i = 0
      while (i < points.length && acc <= target) { acc += d2(i); pick = i; i += 1 }
      centroids(c) = points(pick).clone()
      var j = 0
      while (j < points.length) {
        val d = sqL2(points(j), 0, centroids(c), dim)
        if (d < d2(j)) d2(j) = d
        j += 1
      }
      c += 1
    }
    // Lloyd iterations
    val sums = Array.ofDim[Double](k, dim)
    val counts = Array.ofDim[Long](k)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(counts, 0L)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      points.foreach { p =>
        val best = nearest(p, 0, centroids, dim)
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      var ci = 0
      while (ci < k) {
        if (counts(ci) > 0) {
          var j = 0
          while (j < dim) { centroids(ci)(j) = sums(ci)(j) / counts(ci); j += 1 }
        }
        ci += 1
      }
      it += 1
    }
    centroids
  }

  /** Training-sample size for a k-list quantizer: the floor stays at the
    * historical 10k (so small-k quantizers — d22's 16, d59's 8 — train on
    * the bit-identical draw every prior round verified), and past
    * 10k/samplesPerCentroid lists the sample GROWS with k. A fixed cap
    * contradicts the 50k-cluster SemDeDup regime: k-means++ seeding
    * consumes the sample's D² mass, so at k > sample size it must reuse
    * points (silent duplicate centroids), and even at k = sample/2 each
    * centroid trains on ~2 points — starved cells that concentrate
    * vectors and quadratically inflate the within-cell self-join. */
  private[graft] def trainSampleTarget(nLists: Int,
                                       samplesPerCentroid: Int = 20): Long =
    math.max(10000L, samplesPerCentroid.toLong * nLists)

  /** Driver-training knee: the capped-sample Lloyd's runs on the driver
    * while BOTH hold —
    *  - rows: the sample fits comfortably in driver memory
    *    (1M × 64-dim doubles ≈ 0.5 GB);
    *  - work: seeding + 5 Lloyd iterations are O(sample · k · dim) —
    *    2e7 row·centroid pairs ≈ 10 s single-threaded at dim 64, the
    *    largest constant a query-time build should pay.
    * Above either bound, training hands off to the distributed Lloyd's
    * ([[kmeansDistributedLloyd]]) — the same literal→broadcast knee
    * pattern as [[assignCells]]: the SEMANTICS (modal dim, argmin-first,
    * empty-cluster-keeps-centroid) carry over; only the plan shape
    * changes. */
  private[graft] val driverTrainMaxRows = 1000000L
  private[graft] val driverTrainMaxWork = 20000000L

  private[graft] def trainsOnDriver(nLists: Int,
                                    samplesPerCentroid: Int = 20): Boolean = {
    val target = trainSampleTarget(nLists, samplesPerCentroid)
    target <= driverTrainMaxRows && target * nLists <= driverTrainMaxWork
  }

  /** Train the IVF coarse quantizer once (capped-sample k-means) so
    * repeated [[ivfTopK]] calls amortize the index build — the production
    * shape: build at ingest, probe at query time. The sample is
    * [[trainingSample]]'s seeded-hash draw of [[trainSampleTarget]] rows.
    *
    * Past the [[trainsOnDriver]] knee (k ≳ 1000 at the default 20
    * samples/centroid) the hand-off is [[kmeansDistributedLloyd]].
    * Contract either way: EXACTLY nLists centroids come back (an emptied
    * cluster keeps its previous centroid rather than collapsing — the
    * `require(centroids.length == nClusters)` in [[semanticDedup]]/
    * [[ivfTopK]] guards persisted-index/caller mismatches, not trainer
    * behavior), and a sample too small to seat nLists distinct seeds
    * fails loudly instead of silently duplicating centroids. */
  def trainIvfCentroids(embeddings: DataFrame, nLists: Int,
                        seed: Long = 42L,
                        samplesPerCentroid: Int = 20): Array[Array[Double]] = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    val target = trainSampleTarget(nLists, samplesPerCentroid)
    if (!trainsOnDriver(nLists, samplesPerCentroid))
      kmeansDistributedLloyd(embeddings, nLists, target, iters = 5, seed)
    else kmeansLloyd(trainingSample(embeddings, target, seed), nLists, iters = 5, seed)
  }

  /** A quantizer's driver-side training sample: the `n` [[trainable]]
    * rows (of length `dim`, when given) with the smallest SEEDED HASH of
    * `vec_id` (a distributed TakeOrdered: each task keeps its local top-n,
    * the driver merges) — a uniform draw over the whole corpus that is
    * deterministic under any partition count or arrival order. The
    * obvious alternatives both fail at scale: `limit(n)` returns whatever
    * partitions answer first, so a range-partitioned or time-ordered
    * corpus trains every centroid on one shard of the distribution;
    * Bernoulli `sample(fraction, seed)` derives its stream from the
    * partition index, so the drawn set — and therefore the centroids and
    * every downstream cell assignment — changes when the layout does. */
  private def trainingSample(embeddings: DataFrame, n: Long, seed: Long,
                             dim: Option[Int] = None): Array[Array[Double]] = {
    val rows = trainable(embeddings)
    dim.fold(rows)(d => rows.where(size(col("embedding")) === d))
      .select(col("embedding"), xxhash64(col("vec_id"), lit(seed)).as("__draw"))
      // vec_id tiebreaker: a hash tie exactly at the cap boundary would
      // otherwise leave the chosen row layout-dependent
      .orderBy(col("__draw"), col("vec_id"))
      .limit(n.toInt)
      .select(col("embedding")).collect()
      .map(r => toDoubleArray(r.getSeq[Any](0)))
  }

  /** Number-safe element read: the canonical embedding type is
    * `array<float>` ([[graft.Tables.normalizeEmbedding]]), but a caller
    * handing this module a raw double-typed column must get the same
    * doubles on every path — a hard-coded `getSeq[Float]` would make the
    * driver/literal paths work and the kernel paths ClassCastException,
    * i.e. the same corpus succeeding at k=64 and crashing at k=65. */
  private def toDoubleArray(s: Seq[Any]): Array[Double] = {
    val out = new Array[Double](s.length)
    var j = 0
    val it = s.iterator
    while (it.hasNext) { out(j) = it.next().asInstanceOf[Number].doubleValue(); j += 1 }
    out
  }

  /** Distributed Lloyd's — the above-knee quantizer trainer for the
    * SemDeDup regime (nClusters ~ n/targetCellSize, up to ~50k lists).
    * Same semantics as the driver path where they can be shared (modal
    * quantizer dimension, first-minimum argmin with NaN ordered greatest,
    * an emptied cluster keeps its previous centroid, exactly k centroids
    * returned); the SEEDING differs by design — k-means++'s D² loop is
    * inherently sequential in k (k full passes), so the distributed
    * trainer seeds with a seeded-hash Forgy draw over DISTINCT vectors
    * (k-means|| is the literature alternative; Forgy + the same Lloyd
    * refinement is the cheap deterministic one, and duplicate seed
    * vectors — which Lloyd's can never re-separate — are excluded by
    * construction).
    *
    * Scale/determinism shape: the training set is a seeded-hash threshold
    * subsample (layout-invariant, no global sort — ~sampleTarget rows in
    * expectation), materialized once; each iteration broadcasts the k×dim
    * centroid matrix and runs ONE mapPartitions pass that accumulates
    * per-cell micro-quantized integer sums (round(x·2^24) as Long — the
    * repo's integer-cent aggregation pattern), so the reduceByKey merge
    * is ORDER-INDEPENDENT and the trained centroids are bit-identical
    * under any partition layout, unlike a double-summed reduce. Driver
    * traffic per iteration = k×dim longs (the size of the result itself).
    * Quantization grid 2^-24 ≈ 6e-8 per element — noise relative to
    * k-means convergence, bounded cumulative error < sample·|x|·2^-24. */
  private[graft] def kmeansDistributedLloyd(embeddings: DataFrame, k: Int,
      sampleTarget: Long, iters: Int, seed: Long): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    val base = trainable(embeddings).select(col("vec_id"), col("embedding"))
    val n = base.count()
    val pts0 =
      if (n <= sampleTarget) base
      else {
        // hash-threshold subsample: keeps ~sampleTarget rows in
        // expectation, deterministic per vec_id (layout-invariant), one
        // scan — a TakeOrdered at this scale would gather millions of
        // rows through the driver for no training benefit
        val m = 1000000L
        val thresh = math.min(m, (m * sampleTarget + n - 1) / n)
        base.where(pmod(xxhash64(col("vec_id"), lit(seed)), lit(m)) < thresh)
      }
    // modal quantizer dimension, distributed (mirrors kmeansLloyd's rule:
    // most frequent length, ties to the larger)
    val dimRows = pts0.groupBy(size(col("embedding")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
    require(dimRows.nonEmpty, "kmeans training set is empty")
    val dim = dimRows.maxBy(r => (r.getAs[Long]("n"), r.getAs[Int]("d"))).getAs[Int]("d")
    // materialized once: scanned by the seed draw + every Lloyd iteration
    val pts = graft.Materialize.stage(pts0.where(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding")))
    // Forgy seeding over DISTINCT vectors: seed draw keyed on the min
    // vec_id carrying each distinct embedding (deterministic under
    // layout and duplication). The distinct-vector dedup keys its
    // exchange on a 64-bit DIGEST of the embedding, not the embedding
    // itself — the d62 lesson: a 256-byte array as a groupBy key shuffles
    // full vectors where (hash, min vec_id) ≈ 16 B/row carries the same
    // decision; the k seed VECTORS are then fetched by id in a second
    // id-keyed pass (broadcast of k ids). A 64-bit collision between two
    // distinct vectors can only merge them into one representative —
    // never duplicate a seed — and a merged seed shortfall still trips
    // the loud require below.
    val seedIds: Array[Long] = pts
      .groupBy(xxhash64(col("embedding")).as("__h"))
      .agg(min(col("vec_id")).as("vec_id"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)).as("__draw"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
      .collect().map(_.getLong(0))
    require(seedIds.length >= k,
      s"quantizer training set has only ${seedIds.length} distinct usable vectors " +
        s"(modal dim $dim) for k=$k clusters — duplicate seeds would never " +
        s"re-separate; lower nClusters or widen the corpus/sample")
    val seedDf = {
      import spark.implicits._
      seedIds.toSeq.toDF("vec_id")
    }
    val byId: Map[Long, Array[Double]] = pts
      .join(broadcast(seedDf), "vec_id")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> toDoubleArray(r.getSeq[Any](1))).toMap
    // re-ordered to the draw order: centroid INDEX assignment feeds the
    // first-minimum argmin tie rule, so seed order is part of bit-identity
    val init: Array[Array[Double]] = seedIds.map(byId)
    var centroids = init
    val scale = (1L << 24).toDouble
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val agg = pts.select(col("embedding")).rdd.mapPartitions { rows =>
        val cs = bc.value
        val sums = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
        val counts = scala.collection.mutable.HashMap.empty[Int, Long]
        rows.foreach { r =>
          val x = toDoubleArray(r.getSeq[Any](0))
          val best = nearest(x, 0, cs, dim)
          val s = sums.getOrElseUpdate(best, new Array[Long](dim))
          var j = 0
          while (j < dim) { s(j) += math.round(x(j) * scale); j += 1 }
          counts.update(best, counts.getOrElse(best, 0L) + 1L)
        }
        sums.iterator.map { case (c, s) => (c, (s, counts(c))) }
      }.reduceByKey { (a: (Array[Long], Long), b: (Array[Long], Long)) =>
        var j = 0
        while (j < a._1.length) { a._1(j) += b._1(j); j += 1 }
        (a._1, a._2 + b._2)
      }.collect()
      bc.destroy()
      val next = centroids.map(_.clone())
      agg.foreach { case (c, (s, cnt)) =>
        var j = 0
        while (j < dim) { next(c)(j) = (s(j) / scale) / cnt; j += 1 }
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Rows a vector index can hold: NULL, empty, or null-ELEMENT embeddings
    * (a failed or partially-failed encoder upstream — routine in a 100 TB
    * corpus) can neither train the quantizer (driver-side `getSeq` unboxing
    * NPEs — a null Float element crashes `.map(_.toDouble)` just like a
    * null array) nor be assigned a cell or probed, so the IVF paths
    * exclude them up front. The exact and LSH paths need no such gate —
    * their kernels are null-safe and a NULL embedding simply never reaches
    * a top-k list. */
  private[graft] def indexable(embeddings: DataFrame): DataFrame =
    embeddings.where(col("embedding").isNotNull && size(col("embedding")) > 0 &&
      !expr("exists(embedding, x -> x IS NULL)"))

  /** Rows a quantizer can TRAIN on: [[indexable]] minus vectors with a
    * non-finite element. A NaN or ±Inf element is harmless at assignment
    * time (all its distances are NaN or +Inf, the row lands in one cell,
    * and every exact verification against it yields NULL cosine — it can
    * never emit a pair), but inside Lloyd's it poisons training: on the
    * driver an Inf drags its centroid to Inf/NaN; in the distributed
    * trainer `round(NaN·2^24) = 0` adds zero to every element sum while
    * still counting the row, and `round(Inf·2^24)` saturates at
    * `Long.MaxValue` and overflows the cell sum. Poisoned rows are
    * quarantine material for the caller's validation pass, not training
    * mass. */
  private def trainable(embeddings: DataFrame): DataFrame =
    indexable(embeddings).where(forall(col("embedding"),
      x => abs(x.cast("double")) < lit(Double.PositiveInfinity)))

  /** Assign each vector its nearest centroid — ONE scan, no join, no
    * shuffle, materialized ([[graft.Materialize.stage]]) because every
    * consumer scans the assigned relation more than once. A broadcast
    * kernel (the MLlib-KMeans shape): the plan is O(1) in nClusters,
    * which is what lets `nClusters ~ n / targetCellSize` scale to the
    * 50k-cluster SemDeDup regime (why not a literal-expression plan:
    * plans/MEASUREMENTS.md "IVF cell assignment"). Semantics are those of
    * the SQL form `array_position(d, array_min(d)) - 1` over the distance
    * array, which the parity spec keeps as an independent reference:
    *  - distances are [[sqL2]] over `(double(x) − w)` terms in index order;
    *  - argmin is [[nearest]] (first minimum, NaN greatest);
    *  - a vector whose length differs from the quantizer dim gets a NULL
    *    cell. Elements are read as Numbers, so a double-typed embedding
    *    column works like the canonical float one. */
  private[graft] def assignCells(corpus: DataFrame,
                                 centroids: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = corpus.sparkSession
    val base = corpus.select(col("vec_id"), col("embedding"))
    val bc = spark.sparkContext.broadcast(centroids)
    val schema = StructType(base.schema.fields :+
      StructField("cell", IntegerType, nullable = true))
    val out = base.rdd.mapPartitions { it =>
      val cs = bc.value
      val dim = if (cs.isEmpty) -1 else cs(0).length
      it.map { r =>
        val emb = r.getSeq[Any](1)
        val cell: Any =
          if (emb == null || emb.length != dim) null
          else nearest(toDoubleArray(emb), 0, cs, dim)
        Row(r.get(0), r.get(1), cell)
      }
    }
    graft.Materialize.stage(spark.createDataFrame(out, schema))
  }

  /** Joint (bands L, bits b) selection for the hot-cell LSH sub-shard:
    * for each candidate L, take the most bits that keep pair recall AT
    * the minSim threshold ≥ 0.95 under OR-amplification —
    * 1 − (1−p^b)^L ≥ 0.95 with p = 1 − arccos(minSim)/π — then pick the
    * L minimizing the uniform-direction pair-work fraction L/2^b (tie →
    * more bands, better recall margin). High thresholds take few wide
    * bands (minSim 0.99 → L=4 × b=13: ~2000× split at 0.96 at-threshold
    * recall); loose thresholds degrade gracefully toward no net split
    * (minSim 0.45 → L=16 × b=4, fraction 1.0 for direction-UNIFORM
    * cells — LSH cannot split hard at low similarity without recall
    * loss; direction-CLUSTERED hot cells, the regime that creates them,
    * still shatter). Explicit non-zero arguments override either
    * dimension (bits only derived for the given L). */
  private[graft] def shardPlan(minSim: Double, shardBands: Int = 0,
                               shardBits: Int = 0): (Int, Int) = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, minSim))) / math.Pi
    def bitsFor(l: Int): Int = {
      val need = 1.0 - math.pow(0.05, 1.0 / l)
      val b = if (p <= 0.0 || p >= 1.0) 64 / l
      else math.floor(math.log(need) / math.log(p)).toInt
      math.max(1, math.min(b, 64 / l))
    }
    (shardBands, shardBits) match {
      case (lb, bb) if lb > 0 && bb > 0 => (lb, bb)
      case (lb, _) if lb > 0 => (lb, bitsFor(lb))
      case (_, bb) if bb > 0 =>
        // bits fixed → smallest band count meeting the recall target
        val q = math.pow(p, bb)
        val lNeed =
          if (q >= 1.0 || q <= 0.0) 1
          else math.ceil(math.log(0.05) / math.log(1.0 - q)).toInt
        (math.max(1, math.min(lNeed, 64 / bb)), bb)
      case _ =>
        val l = Seq(2, 4, 8, 16)
          .minBy(l => (l.toDouble / math.pow(2, bitsFor(l)), -l))
        (l, bitsFor(l))
    }
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 —
    * public method): k-means the embedding space into `nClusters` cells,
    * verify cosine similarity exactly WITHIN each cell, and greedily drop
    * every vector that has a lower-id cell-mate at cosine ≥ `minSim`.
    * Output: one row per DROPPED vector — (vec_id, keeper_id = the lowest
    * such cell-mate, cos_sim to that keeper, cell). The min-id keeper
    * convention matches exact dedup (d1/d20); a keeper may itself be
    * dropped by a still-lower id (greedy chain, the paper's semantics) —
    * callers needing full transitive groups feed the pair relation to
    * [[graft.operators.Dedup.connectedComponents]] instead.
    *
    * Scale shape: the quantizer trains on a capped layout-invariant
    * sample ([[trainIvfCentroids]] — seeded-hash draw, deterministic
    * Lloyd's); assignment is one broadcast-centroid scan
    * ([[assignCells]]); candidate generation is a cell-keyed self-
    * EQUIJOIN, never all-pairs — O(Σ cell²) = O(n·avgCell) exact cosine
    * work, and `nClusters` scales as n/targetCellSize so avgCell stays a
    * constant (the paper runs 50k clusters over LAION). Every emitted
    * pair is exactly verified, so within-cell precision is 1 by
    * construction; recall is the probability both near-dups quantize to
    * the same cell — ≈ 1 for true duplicates (distance ≪ cell radius),
    * and pinned for planted dups + density-banded on the real corpus in
    * DedupSimilaritySpec. Rows-only in the oracle gate: the cells are an
    * engine-local k-means artifact no SQL engine reproduces.
    *
    * HOT-CELL BOUND (r20): a pathological cell — a boilerplate-heavy
    * crawl region the quantizer under-segments — makes the within-cell
    * self-join O(cell²) no matter how AQE splits the join's output
    * partitions, because the PAIR-GENERATION work itself is quadratic.
    * Past `hotCellThreshold` rows in one cell, candidate generation for
    * that cell switches to an OR-amplified LSH sub-shard: `shardBands`
    * independent `shardBits`-bit hyperplane bands ([[lshTopK]]'s native
    * [[graft.functions.HyperplaneBits]]) are appended to the join key,
    * so one hot cell becomes up to 2^shardBits sub-buckets per band and
    * a pair is a candidate iff it collides in ≥ 1 band (candidates are
    * deduped before the exact cosine, the lshTopK shape). Recall
    * argument: a pair at cosine s collides in one b-bit band w.p.
    * p^b, p = 1 − arccos(s)/π, so it survives ≥ 1 of L bands w.p.
    * 1 − (1−p^b)^L — (L, b) are auto-selected per minSim by
    * [[shardPlan]] to hold that ≥ 0.95 AT the threshold while
    * maximizing the split (minSim 0.99 → L=4 × b=13), and → 1 as
    * s → 1 (true duplicates: p → 1, every band collides). A dropped
    * vector with MANY qualifying keepers only
    * needs one surviving pair, so drop-recall is higher still; the
    * keeper ID may differ from the unbanded result when the lowest
    * cell-mate's pair is the one band-missed (approximate contract,
    * same as cell-assignment recall). Work bound: sub-bucket sizes are
    * cell·p̂^b in expectation where p̂ reflects the cell's DIRECTION
    * diversity — under-segmented (diverse) hot cells shatter toward
    * cell²/2^b · L pair work, and the pairs pruned are exactly the
    * low-cosine ones exact verification would reject. The residual
    * worst case — a cell of GENUINELY mutual near-identical vectors —
    * cannot be sub-sharded by any similarity-preserving key (all rows
    * collide in every band because they ARE near-dups); that mass is
    * what exact dedup (d1/d20) removes BEFORE semantic dedup in the
    * pipeline ordering, which is why the paper's corpus is
    * exact-deduped first. Fixture-scale calls (every cell ≤ threshold)
    * take today's plan unchanged — the hot path costs one cell-count
    * aggregate over the already-checkpointed assignment.
    *
    * Output contract for malformed vectors: rows [[indexable]] excludes
    * (NULL / empty / null-element embeddings) and rows whose LENGTH
    * differs from the quantizer dimension (NULL cell from
    * [[assignCells]]) are never considered duplicates and never appear
    * in the output — they are quarantine material for the caller's
    * validation pass, not dedup evidence. */
  def semanticDedup(embeddings: DataFrame, nClusters: Int, minSim: Double,
                    seed: Long = 42L,
                    precomputedCentroids: Option[Array[Array[Double]]] = None,
                    hotCellThreshold: Int = 100000,
                    shardBands: Int = 0, shardBits: Int = 0): DataFrame = {
    require(hotCellThreshold >= 2, "hotCellThreshold must be >= 2")
    val (bands, bits) = shardPlan(minSim, shardBands, shardBits)
    require(bands >= 1 && bits >= 1 && bands * bits <= 64,
      s"need 1 <= shardBands·shardBits <= 64 (one long of sign bits), " +
        s"got $bands × $bits")
    val spark = embeddings.sparkSession
    val corpus = indexable(embeddings)
    val centroids = precomputedCentroids.getOrElse(
      trainIvfCentroids(embeddings, nClusters, seed))
    require(centroids.length == nClusters,
      s"expected $nClusters centroids, got ${centroids.length}")
    val assigned = assignCells(corpus, centroids)
    // bounded by nClusters rows; one cheap aggregate over the
    // checkpointed assignment
    val hotCells: Set[Int] = assigned.where(col("cell").isNotNull)
      .groupBy(col("cell")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > hotCellThreshold)
      .collect().map(_.getInt(0)).toSet
    def exactPairs(rel: DataFrame): DataFrame =
      rel.select(col("cell"), col("vec_id").as("id_a"),
          col("embedding").as("q_emb"))
        .join(rel.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("n_emb")), "cell")
        .filter(col("id_a") < col("id_b"))
        .select(col("cell"), col("id_a"), col("id_b"), cosSim(spark))
    val pairs =
      if (hotCells.isEmpty) exactPairs(assigned)
      else {
        val cold = assigned.where(col("cell").isNotNull &&
          !col("cell").isInCollection(hotCells))
        val hot = graft.Materialize.stage(
          assigned.where(col("cell").isInCollection(hotCells)))
        // one fused HyperplaneBits scan → L band ids per row (long-coded
        // band index << 32 | bucket bits); slim (cell, band, vec_id)
        // relation, candidates deduped BEFORE the exact cosine — the
        // lshTopK shape. Checkpointed: it feeds both sides of the
        // band-keyed self-join (no CSE across self-joins).
        val bandCols = (0 until bands).map(t => s"${t.toLong << 32}L + ${bandSlice(t, bits)}")
        val banded = graft.Materialize.stage(hot
          .withColumn("__bits", hyperplaneBits(centroids(0).length, bands, bits,
            t => seed + 1000003L * (t + 1)))
          .select(col("cell"), col("vec_id"),
            explode(expr(bandCols.mkString("array(", ", ", ")"))).as("band")))
        val candPairs = banded
          .select(col("cell"), col("band"), col("vec_id").as("id_a"))
          .join(banded.select(col("cell"), col("band"),
            col("vec_id").as("id_b")), Seq("cell", "band"))
          .filter(col("id_a") < col("id_b"))
          .select(col("cell"), col("id_a"), col("id_b")).distinct()
        val hotPairs = candPairs
          .join(hot.select(col("vec_id").as("id_a"), col("embedding").as("q_emb")), "id_a")
          .join(hot.select(col("vec_id").as("id_b"), col("embedding").as("n_emb")), "id_b")
          .select(col("cell"), col("id_a"), col("id_b"), cosSim(spark))
        exactPairs(cold).unionByName(hotPairs)
      }
    pairs
      .filter(col("cos_sim") >= minSim)
      .groupBy(col("id_b"))
      // keeper = lexicographic struct min = lowest id_a (ids are distinct
      // within a group, so the struct min is total and deterministic);
      // cell is constant per id_b (one cell per vector) — min() only to
      // keep the aggregate order-insensitive
      .agg(min(struct(col("id_a"), col("cos_sim"))).as("__m"),
        min(col("cell")).as("cell"))
      .select(col("id_b").as("vec_id"), col("__m.id_a").as("keeper_id"),
        col("__m.cos_sim").as("cos_sim"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** Persist a trained IVF quantizer as a (cell, centroid) parquet table —
    * the index artifact a production deployment builds at ingest and ships
    * to query time. */
  def saveIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted IVF quantizer (inverse of [[saveIvfIndex]]). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Array[Array[Double]] =
    // schema-cached read (Tables.cachedRead, r21): artifact loads paid
    // ~80 ms of per-call schema inference; keyed by session, path and
    // file listing, so a rewritten artifact re-infers
    graft.Tables.cachedRead(spark, path)
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** The bounded query side of an IVF probe: (vec_id, vector) of every
    * row of `rel` whose length is `dim`, collected to the driver. A
    * wrong-length query has no cell, no lookup table and no defined
    * cosine, so it never probes. */
  private def collectVectors(rel: DataFrame, dim: Int): Array[(Long, Array[Double])] =
    rel.where(size(col("embedding")) === dim).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> toDoubleArray(r.getSeq[Any](1)))

  /** Each query's `nProbe` nearest cells by [[sqL2]] (stable sort, so
    * ties go to the lower cell), as (query id, cell) pairs. */
  private def probeCells(queries: Array[(Long, Array[Double])],
                         centroids: Array[Array[Double]],
                         nProbe: Int): Array[(Long, Int)] =
    queries.flatMap { case (qid, q) =>
      centroids.zipWithIndex
        .map { case (c, i) => (i, sqL2(q, 0, c, math.min(q.length, c.length))) }
        .sortBy(_._2).take(nProbe).map(p => (qid, p._1))
    }

  /** D4 scale path #2 — IVF (inverted-file) approximate nearest neighbors:
    * a k-means coarse quantizer partitions the corpus into `nLists`
    * cells; a query probes its `nProbe` nearest centroids and re-ranks
    * exactly only within those cells.
    *
    * Scale shape: centroid training samples the corpus (KMeans over a
    * capped sample), assignment is one broadcast-centroid scan, and the
    * probe join shuffles candidates by cell id — O(rows·nProbe/nLists)
    * exact distance work instead of O(rows·queries). Complements
    * [[lshTopK]]: IVF adapts to the data distribution where LSH is
    * data-oblivious. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              precomputedCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val corpus = indexable(embeddings)
    // quantizer trains on a capped sample — at corpus scale nobody k-means
    // the full table; centroid quality converges long before full coverage.
    // The sample is bounded (10k × dim doubles ≈ MBs), so Lloyd's runs on
    // the driver in milliseconds where a distributed fit pays multiple
    // job launches per iteration for no extra quality. In production the
    // quantizer is built ONCE and reused across queries — pass
    // `precomputedCentroids` (from [[trainIvfCentroids]]) to skip the
    // rebuild; the self-training form remains for the declared query.
    val centroids = precomputedCentroids.getOrElse(
      trainIvfCentroids(embeddings, nLists, seed))
    require(centroids.length == nLists,
      s"expected $nLists centroids, got ${centroids.length}")
    // assignment: one codegen'd scan, materialized (see [[assignCells]]) —
    // the assigned relation is scanned three times below (query collect,
    // query-embedding lookup, candidate join)
    val assigned = assignCells(corpus, centroids)
    // queries probe their nProbe nearest centroids (tiny driver-side math
    // over nQueries × nLists — the centroid table is the "index")
    val queries = assigned.filter(col("vec_id") < nQueries)
    import spark.implicits._
    val probes = probeCells(collectVectors(queries, centroids(0).length),
      centroids, nProbe).toSeq.toDF("query_id", "cell")
    val qEmb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = assigned
      .select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb"), col("cell"))
      .join(broadcast(probes), "cell")
      .filter(col("nbr_id") =!= col("query_id"))
      .join(broadcast(qEmb), "query_id")
      .select(col("query_id"), col("nbr_id"), cosSim(spark))
    topKPerQuery(cands, k)
  }

  /** Per-group embedding centroids via the custom [[graft.functions.VectorAvg]]
    * aggregate — ONE pass with map-side partial aggregation (the composed
    * posexplode → groupBy(idx) → avg alternative shuffles one row per
    * vector ELEMENT). Emitted long-form (cluster, idx, avg_val) for the
    * oracle compare; element means are micro-quantized integer sums, so
    * the result is partition-layout independent. */
  def embeddingCentroids(embeddings: DataFrame, nClusters: Int = 8): DataFrame = {
    val vecAvg = udaf(graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    embeddings
      .groupBy((col("vec_id") % nClusters).as("cluster"))
      .agg(vecAvg(col("embedding")).as("centroid"), count(lit(1)).as("n_vecs"))
      .select(col("cluster"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("idx", "avg_val")))
      .select(col("cluster"), col("n_vecs"), col("idx").cast("long").as("idx"),
        col("avg_val"))
      .orderBy(col("cluster"), col("idx"))
  }

  /** Embedding-cosine near-duplicate pairs for a bounded id range: all
    * pairs with cosine ≥ minSim (the embedding-space analog of MinHash
    * dedup; at corpus scale the candidate set comes from [[lshTopK]]'s
    * bucketing instead of the bounded cross join). */
  def embeddingNearDups(embeddings: DataFrame, maxId: Int, minSim: Double): DataFrame = {
    val sub = embeddings.filter(col("vec_id") < maxId)
    val a = sub.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
    val b = sub.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosSim(embeddings.sparkSession))
      .filter(col("cos_sim") >= minSim)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------
  // Product quantization (D4's memory-bounded scale path — Jégou et al.
  // 2011, "Product Quantization for Nearest Neighbor Search", IEEE
  // TPAMI; the FAISS IVFADC family — public methods).
  //
  // Why it exists at 100 TB: LSH ([[lshTopK]]) and IVF ([[ivfTopK]])
  // shrink the ROWS a query touches; PQ shrinks the BYTES PER ROW —
  // a dim-64 float vector (256 B) becomes m code bytes (8 B at m=8,
  // 32× compression), so the scanned index fits in memory/page cache
  // where the raw vectors cannot. Search is ASYMMETRIC distance
  // computation (ADC): the query stays exact; each of its m subvectors
  // precomputes a ksub-entry lookup table of squared-L2 distances to
  // that subspace's codebook, and a corpus row's distance is the sum of
  // m table lookups — no float vector is ever fetched.
  // ------------------------------------------------------------------

  /** Train PQ codebooks: the vector is split into `m` equal subspaces
    * and each gets its own `ksub`-centroid k-means codebook, trained on
    * one [[trainingSample]] draw shared by all subspaces (seeds differ
    * per subspace so codebooks are independent). `ksub` ≤ 256 so a code
    * is one byte. Returns codebooks(sub)(code) = centroid.
    *
    * `residualOf = Some(coarse)` trains RESIDUAL codebooks (the IVFADC
    * `by_residual=true` form): each sample vector is first assigned its
    * [[nearest]] coarse centroid — the same argmin [[assignCells]] uses,
    * so a vector's training-time cell is its encode-time cell — and the
    * codebooks train on (x − coarse(cell)).
    *
    * Parameter note (measured on the real fixture, round 18): the
    * declared m=16 / ksub=64 (16 bytes/vector, 16× compression at
    * dim 64) recovers 16/20 exact-L2 top-1 neighbors at k=5 with mean
    * relative ADC distance error 0.11 — versus 5/20 and 0.36 at
    * m=8/ksub=16. iid-uniform fixtures are PQ's worst case (distances
    * concentrate, so neighbor ORDER is noise-dominated even when
    * distances are well-approximated); real embedding corpora cluster
    * and quantize better. At fixture scale a 256-code book would train
    * ~2 points/centroid (the starved regime the loud require guards);
    * production uses ksub=256 with the sample auto-scaling to 20·ksub —
    * same code path. */
  def trainPqCodebooks(embeddings: DataFrame, dim: Int, m: Int = 16,
                       ksub: Int = 64, seed: Long = 42L,
                       residualOf: Option[Array[Array[Double]]] = None)
      : Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2 && ksub <= 256,
      s"need 1 <= m and 2 <= ksub <= 256 (byte codes), got m=$m ksub=$ksub")
    require(dim % m == 0, s"PQ subspaces must tile the vector: dim=$dim, m=$m")
    residualOf.foreach(coarse => require(coarse.nonEmpty && coarse.forall(_.length == dim),
      s"coarse centroids must match dim=$dim for residual training"))
    val subDim = dim / m
    // codes are dim-fixed by contract
    val sample = trainingSample(embeddings, trainSampleTarget(ksub), seed, Some(dim))
      .map(x => residualOf.fold(x)(coarse => minus(x, coarse(nearest(x, 0, coarse, dim)))))
    trainSubspacesParallel(embeddings.sparkSession, m, s => {
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      kmeansLloyd(pts, ksub, iters = 5, seed + s)
    })
  }

  /** Element-wise x − c over x's length. */
  private def minus(x: Array[Double], c: Array[Double]): Array[Double] =
    Array.tabulate(x.length)(j => x(j) - c(j))

  /** Runs the m INDEPENDENT per-subspace k-means trainings concurrently
    * (why: plans/MEASUREMENTS.md "Parallel PQ codebook training"). Each
    * subspace trains on its own slice with its own seed and writes its
    * own output slot, so the result is bit-identical to the sequential
    * loop under any interleaving. Plain threads, not an execution
    * context: bounded by m (≤ 16 at every declared call), no shared pool
    * to starve Spark's own machinery. */
  private def trainSubspacesParallel(spark: org.apache.spark.sql.SparkSession,
      m: Int,
      train: Int => Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val out = new Array[Array[Array[Double]]](m)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // width bounded by the session's core budget (not a free-for-all m
    // threads): a local[k] session declares k-way compute, and raw JVM
    // threads beyond it would silently exceed that budget — the result
    // is identical at any width, only the wall changes
    val width = math.max(1, math.min(m, spark.sparkContext.defaultParallelism))
    val queue = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until width).map { w =>
      val t = new Thread(() =>
        try {
          var s = queue.getAndIncrement()
          while (s < m) { out(s) = train(s); s = queue.getAndIncrement() }
        } catch { case e: Throwable => errs.add(e) },
        s"graft-pq-train-$w")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    out
  }

  /** Fail fast on a persisted codebook that does not tile the caller's
    * vector dimension — without this, a mismatched artifact silently
    * NULL-quarantines EVERY vector (empty result, no error) when the
    * implied dim is smaller, and [[subspaceLut]] indexes query subvectors
    * out of bounds when it is larger. Mirrors [[trainPqCodebooks]]'
    * `dim % m == 0` require on the training side. */
  private def requireBooksTile(books: Array[Array[Array[Double]]],
                               dim: Int): Unit = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "PQ codebooks are empty — corrupt or unwritten index artifact")
    val subDim = books(0)(0).length
    require(books.forall(_.forall(_.length == subDim)),
      s"PQ codebooks are ragged (expected every codeword at subDim=$subDim) " +
        "— corrupt index artifact")
    require(books.length * subDim == dim,
      s"PQ codebooks (m=${books.length} × subDim=$subDim = " +
        s"${books.length * subDim}) do not tile dim=$dim — wrong persisted " +
        "artifact for this corpus")
  }

  /** Validate a codes relation (self-encoded or a loaded [[savePqCodes]]
    * artifact) and project it to the scoring kernels' (vec_id, codes)
    * shape BY NAME — the persisted artifact may carry extra columns
    * (`cell`, from the IVF build) in any order, so a positional
    * `getAs[Array[Byte]](1)` on the raw relation is a ClassCastException
    * waiting to happen. Loud-failure contract mirrors
    * [[requireBooksTile]]: a codes relation without the expected
    * columns/types is a wrong or corrupt index artifact, never a silent
    * quarantine. Code WIDTH is checked per row inside each scoring
    * kernel ([[checkWidth]]); codebook-VALUE compatibility is the
    * caller's artifact-management contract (load books and codes from
    * the same build). */
  private def requireCodesRelation(codes: DataFrame,
                                   extraCols: String*): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, LongType}
    val schema = codes.schema
    def field(name: String) = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"codes relation has no '$name' column (found " +
          s"${schema.fieldNames.mkString(", ")}) — wrong persisted artifact"))
    require(field("vec_id").dataType == LongType,
      s"codes relation 'vec_id' must be BIGINT, got ${field("vec_id").dataType.simpleString}")
    require(field("codes").dataType == BinaryType,
      s"codes relation 'codes' must be BINARY (pqEncode output), got " +
        s"${field("codes").dataType.simpleString} — wrong persisted artifact")
    extraCols.foreach(field)
    codes.select(col("vec_id") +: col("codes") +: extraCols.map(col): _*)
  }

  /** Encode each vector as its m nearest-codebook-centroid bytes — the
    * persisted PQ index relation (vec_id, [carry...,] codes BINARY).
    * One broadcast-codebook scan (the [[assignCells]] kernel shape —
    * O(1) plan size in m·ksub); each subspace code is [[nearest]], the
    * argmin every assignment here uses. A vector whose length differs
    * from the codebook dim gets NULL codes (quarantine, the [[semanticDedup]]
    * malformed-vector contract). `carry` propagates extra columns
    * (e.g. the IVF cell) through the one scan instead of re-joining.
    *
    * `materialize` (default true — the ingest-time index build) eagerly
    * checkpoints the encoded relation so downstream consumers scan
    * codes, never lineage; the single-pass query paths ([[pqTopK]]/
    * [[ivfPqTopK]] self-encode) pass false — they scan the relation
    * exactly once, so a checkpoint would only accumulate block-manager
    * storage across repeated queries in a long-lived session (the
    * production shape persists codes ONCE via [[savePqCodes]] and
    * queries pass `precomputedCodes` instead of re-encoding at all).
    *
    * `residualOf = (cellCol, coarse)` encodes the IVFADC
    * `by_residual=true` form: the kernel subtracts the row's coarse
    * centroid `coarse(row(cellCol))` from the vector before coding, so
    * codes quantize the (smaller-variance) cell residual rather than
    * the raw vector — Jégou et al. 2011 §IV. A NULL cell quarantines
    * as NULL codes, same as a wrong-length vector. */
  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]],
               carry: Seq[String] = Nil,
               materialize: Boolean = true,
               residualOf: Option[(String, Array[Array[Double]])] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val spark = vectors.sparkSession
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val dim = m * subDim
    requireBooksTile(codebooks, dim)
    residualOf.foreach { case (cellCol, coarse) =>
      require(carry.contains(cellCol),
        s"residual coding needs the cell column '$cellCol' carried through the scan")
      require(coarse.forall(_.length == dim),
        s"coarse centroids must match the codebook dim $dim for residual coding")
    }
    val base = vectors.select((col("vec_id") +: carry.map(col) :+ col("embedding")): _*)
    val cellIdx = residualOf.map { case (cellCol, _) => 1 + carry.indexOf(cellCol) }
    val bc = spark.sparkContext.broadcast((codebooks, residualOf.map(_._2)))
    val schema = StructType(
      base.schema.fields.dropRight(1) :+ StructField("codes", BinaryType, nullable = true))
    val out = base.rdd.mapPartitions { it =>
      val (books, coarseOpt) = bc.value
      it.map { r =>
        val embIdx = r.length - 1
        val emb = r.getSeq[Any](embIdx)
        val cellOk = cellIdx.forall(ci => !r.isNullAt(ci))
        val codes: Any =
          if (emb == null || emb.length != dim || !cellOk) null
          else {
            val raw = toDoubleArray(emb)
            val x = cellIdx.fold(raw)(ci =>
              minus(raw, coarseOpt.get(r.get(ci).asInstanceOf[Number].intValue())))
            Array.tabulate[Byte](m)(s => nearest(x, s * subDim, books(s), subDim).toByte)
          }
        Row.fromSeq(Seq.tabulate(embIdx)(r.get) :+ codes)
      }
    }
    val df = spark.createDataFrame(out, schema)
    if (materialize) graft.Materialize.stage(df) else df
  }

  /** D4 scale path #3 — PQ/ADC approximate top-k: the whole corpus is
    * scanned as m-byte codes (never raw vectors); each bounded query
    * precomputes its m×ksub squared-L2 lookup tables on the driver and
    * a row's distance is the sum of m lookups in fixed subspace order
    * (deterministic, layout-invariant). Output ranks ASCENDING approx
    * distance (adc_dist), ties to nbr_id — the salted two-phase rank.
    * Compose with IVF via [[ivfPqTopK]] to also shrink the ROWS. */
  def pqTopK(embeddings: DataFrame, dim: Int, nQueries: Int, k: Int,
             m: Int = 16, ksub: Int = 64, seed: Long = 42L,
             precomputedCodebooks: Option[Array[Array[Array[Double]]]] = None,
             precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val books = precomputedCodebooks.getOrElse(
      trainPqCodebooks(embeddings, dim, m, ksub, seed))
    requireBooksTile(books, dim)
    // production: codes are built ONCE at ingest (pqEncode +
    // [[savePqCodes]]) and passed in — repeated queries then scan the
    // persisted 16-byte-per-vector relation without re-encoding the
    // corpus or accumulating per-call checkpoints; the self-encode form
    // (materialize=false — scanned exactly once, nothing persisted)
    // remains for the declared query
    val encoded = requireCodesRelation(precomputedCodes.getOrElse(
      pqEncode(indexable(embeddings), books, materialize = false)))
    val luts = collectVectors(indexable(embeddings).filter(col("vec_id") < nQueries), dim)
      .map { case (qid, q) => qid -> subspaceLut(q, books) }
    lutScanTopK(encoded, luts, k, books.length, "adc_dist")
  }

  /** D4 scale path #3b — PQ/SDC (symmetric distance computation, Jégou
    * et al. 2011 §III.B): the QUERY is represented by its m-byte codes
    * too, and distance is the sum of m codebook-to-codebook subspace
    * distances — d(q, x) ≈ Σ_s ‖c(qcode_s) − c(xcode_s)‖². The per-query
    * lookup table is therefore the [[subspaceLut]] of the query's
    * decoded codewords, built from the codebooks alone, so query time
    * needs NO raw vectors at all: the published SDC trade-off — one
    * extra quantization error on the query side (lower accuracy than ADC
    * at the same byte budget, pinned by the spec's SDC-vs-ADC
    * comparison) in exchange for querying straight from the persisted
    * codes artifact (index-to-index joins, raw-vector-free re-ranking).
    * Same heap-inside-the-scan kernel, same salted two-phase rank;
    * output column `sdc_dist`. */
  def pqTopKSDC(embeddings: DataFrame, dim: Int, nQueries: Int, k: Int,
                m: Int = 16, ksub: Int = 64, seed: Long = 42L,
                precomputedCodebooks: Option[Array[Array[Array[Double]]]] = None,
                precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val books = precomputedCodebooks.getOrElse(
      trainPqCodebooks(embeddings, dim, m, ksub, seed))
    requireBooksTile(books, dim)
    val encoded = requireCodesRelation(precomputedCodes.getOrElse(
      pqEncode(indexable(embeddings), books, materialize = false)))
    // bounded query side: the queries' CODES (nQueries × m bytes). On the
    // self-encode path only the query slice is encoded (per-row identical,
    // O(nQueries); plans/MEASUREMENTS.md "SDC query side"); a supplied
    // codes artifact is read as-is — its codes ARE the index
    val qSide = precomputedCodes.map(_ => encoded).getOrElse(
      requireCodesRelation(pqEncode(
        indexable(embeddings).where(col("vec_id") < nQueries),
        books, materialize = false)))
    val luts = qSide
      .where(col("vec_id") < nQueries && col("codes").isNotNull)
      .collect()
      .map { r =>
        val qc = checkWidth(r.getAs[Array[Byte]]("codes"), books.length)
        r.getLong(0) -> subspaceLut(
          Array.concat(books.indices.map(s => books(s)(qc(s) & 0xff)): _*), books)
      }
    lutScanTopK(encoded, luts, k, books.length, "sdc_dist")
  }

  /** lut(s)(code) = [[sqL2]] between x's s-th subvector and codeword
    * `code` of book s — the m × ksub table a code row is scored
    * against. */
  private def subspaceLut(x: Array[Double],
                          books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val subDim = books(0)(0).length
    Array.tabulate(books.length)(s => books(s).map(cw => sqL2(x, s * subDim, cw, subDim)))
  }

  /** A code row's ADC/SDC distance: Σ_s lut(s)(code_s), in subspace
    * order. */
  private def codeDistance(lut: Array[Array[Double]], codes: Array[Byte]): Double = {
    var d = 0.0; var s = 0
    while (s < lut.length) { d += lut(s)(codes(s) & 0xff); s += 1 }
    d
  }

  /** Code WIDTH is the one encoding-compatibility signal the bytes
    * carry: codes encoded with m' ≠ m codebooks would otherwise AIOOBE
    * or silently sum a prefix. */
  private def checkWidth(codes: Array[Byte], m: Int): Array[Byte] = {
    if (codes.length != m) throw new IllegalArgumentException(
      s"PQ codes row has ${codes.length} bytes but the supplied codebooks " +
        s"have m=$m subspaces — codes encoded with different codebooks")
    codes
  }

  /** The code-scoring kernels' (query_id, nbr_id, unrounded distance)
    * rows as (query_id, nbr_id, `scoreCol` = pround(distance, 6)). */
  private def roundedDistances(spark: org.apache.spark.sql.SparkSession,
                               rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
                               scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("nbr_id", LongType, nullable = false),
      StructField("__d", DoubleType, nullable = false)))
    spark.createDataFrame(rows, schema)
      .select(col("query_id"), col("nbr_id"), Features.pround(col("__d"), 6).as(scoreCol))
  }

  /** Scoring kernel for the codes-scan top-k family ([[pqTopK]],
    * [[pqTopKSDC]]): one pass over the persisted m-byte codes with the
    * bounded per-query LUTs broadcast and a [[BoundedTopK]] per query
    * INSIDE the kernel (why inside: plans/MEASUREMENTS.md "Partition-local
    * top-k"). Selection keys on pr6(d) — `Features.pround`'s IEEE
    * sequence (mult, add, floor, divide; NaN/Inf pass through), the exact
    * score the downstream rank orders by — so the global top-k is
    * contained in the per-partition survivors and the result is
    * bit-identical. */
  private def lutScanTopK(encoded: DataFrame,
                          luts: Array[(Long, Array[Array[Double]])],
                          k: Int, mWidth: Int, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = encoded.sparkSession
    val bc = spark.sparkContext.broadcast(luts)
    val scored = encoded.where(col("codes").isNotNull).rdd.mapPartitions { it =>
      val qs = bc.value
      val heaps = Array.fill(qs.length)(new BoundedTopK[Double](k, ascending = true))
      def pr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      it.foreach { r =>
        // positions fixed by requireCodesRelation's named projection
        val id = r.getLong(0)
        val codes = checkWidth(r.getAs[Array[Byte]](1), mWidth)
        var qi = 0
        while (qi < qs.length) {
          if (qs(qi)._1 != id) {
            val d = codeDistance(qs(qi)._2, codes)
            heaps(qi).offer(pr6(d), id, d)
          }
          qi += 1
        }
      }
      heaps.iterator.zip(qs.iterator).flatMap { case (h, (qid, _)) =>
        h.kept.map { case (id, d) => Row(qid, id, d) }
      }
    }
    topKPerQuery(roundedDistances(spark, scored, scoreCol), k,
      scoreCol = scoreCol, ascending = true)
  }

  /** Probe-join code scorer shared by [[ivfPqTopK]] and
    * [[incrementalVectorIngest]]: each query probes its [[probeCells]],
    * the probed cells' code rows join the (query, cell) pairs, and each
    * candidate is scored by [[codeDistance]] against the LUT of its
    * (query, cell) pair. Raw coding maps every probed cell to the query's
    * one [[subspaceLut]]; residual coding (`byResidual`, IVFADC proper —
    * Jégou et al. 2011 §IV: codes quantize x − coarse(cell)) builds each
    * pair's LUT from the query RESIDUAL q − coarse(cell), so the distance
    * is ‖(q−c) − r̂‖² — queries × nProbe tables, still driver-bounded.
    * `dropSelf` removes the query's own row (same relation on both sides).
    * Output (query_id, nbr_id, adc_dist = pround(distance, 6)). */
  private def probedCodeDistances(encoded: DataFrame,
                                  queries: Array[(Long, Array[Double])],
                                  coarse: Array[Array[Double]], nProbe: Int,
                                  books: Array[Array[Array[Double]]],
                                  byResidual: Boolean,
                                  dropSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = encoded.sparkSession
    import spark.implicits._
    val probes = probeCells(queries, coarse, nProbe)
    val vecs = queries.toMap
    val luts: Map[(Long, Int), Array[Array[Double]]] =
      if (byResidual) probes.map { case p @ (qid, cell) =>
        p -> subspaceLut(minus(vecs(qid), coarse(cell)), books) }.toMap
      else {
        val byQuery = vecs.map { case (qid, q) => qid -> subspaceLut(q, books) }
        probes.map(p => p -> byQuery(p._1)).toMap
      }
    val joined = encoded.where(col("codes").isNotNull)
      .join(broadcast(probes.toSeq.toDF("query_id", "cell")), "cell")
    val cands = if (dropSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    val bc = spark.sparkContext.broadcast(luts)
    val m = books.length
    val scored = cands.select(col("query_id"), col("vec_id"), col("codes"), col("cell"))
      .rdd.mapPartitions { it =>
        val qs = bc.value
        it.map { r =>
          val codes = checkWidth(r.getAs[Array[Byte]](2), m)
          Row(r.getLong(0), r.getLong(1), codeDistance(qs((r.getLong(0), r.getInt(3))), codes))
        }
      }
    roundedDistances(spark, scored, "adc_dist")
  }

  /** D4 scale path #4 — IVF-PQ (IVFADC): the coarse quantizer shrinks
    * the ROWS a query touches (nProbe/nLists of the corpus), PQ shrinks
    * the BYTES per touched row to m codes. One scan builds the index —
    * [[assignCells]] for the cell, [[pqEncode]] carrying it through —
    * and [[probedCodeDistances]] scores the probed cells. Codes quantize
    * the raw vector by default (`by_residual=false`, the documented FAISS
    * simplification) or, with `byResidual`, the cell residual. */
  def ivfPqTopK(embeddings: DataFrame, dim: Int, nQueries: Int, k: Int,
                nLists: Int = 16, nProbe: Int = 4, m: Int = 16, ksub: Int = 64,
                seed: Long = 42L,
                precomputedCentroids: Option[Array[Array[Double]]] = None,
                precomputedCodebooks: Option[Array[Array[Array[Double]]]] = None,
                precomputedCodes: Option[DataFrame] = None,
                byResidual: Boolean = false): DataFrame = {
    val corpus = indexable(embeddings)
    // production shape: quantizers AND codes are built ONCE at ingest
    // (saveIvfIndex/savePqCodebooks/savePqCodes) and passed in; the
    // self-training form remains for the declared query. With
    // byResidual, precomputedCodes must have been encoded with
    // `residualOf` against the SAME coarse quantizer.
    val coarse = precomputedCentroids.getOrElse(
      trainIvfCentroids(embeddings, nLists, seed))
    require(coarse.length == nLists,
      s"expected $nLists coarse centroids, got ${coarse.length}")
    val residualOf = if (byResidual) Some(coarse) else None
    val books = precomputedCodebooks.getOrElse(
      trainPqCodebooks(embeddings, dim, m, ksub, seed, residualOf))
    requireBooksTile(books, dim)
    val encoded = requireCodesRelation(precomputedCodes.getOrElse(
      pqEncode(assignCells(corpus, coarse), books, carry = Seq("cell"),
        materialize = false, residualOf = residualOf.map(("cell", _)))), "cell")
    val queries = collectVectors(corpus.filter(col("vec_id") < nQueries), dim)
    topKPerQuery(
      probedCodeDistances(encoded, queries, coarse, nProbe, books, byResidual, dropSelf = true),
      k, scoreCol = "adc_dist", ascending = true)
  }

  /** Streaming-ingest arm of the ANN index lifecycle (the d38
    * incremental-dedup pattern on the embedding side): encode a NEW batch
    * of vectors against the PRECOMPUTED index artifacts — coarse
    * quantizer, PQ codebooks, and the persisted codes corpus — and flag
    * each new vector's near-duplicates in the prior corpus by cell-keyed
    * ADC distance. Designed as the body of a `foreachBatch` sink: the
    * micro-batch is the bounded "query set" (its vectors and LUTs are
    * driver-built, exactly like [[pqTopK]]'s bounded-queries contract),
    * the corpus side is scanned as 16-byte code rows narrowed by the
    * probe join, and nothing corpus-side is ever re-encoded.
    *
    * Returns (newCodes, dupPairs):
    *  - `newCodes` — (vec_id, cell, codes), the batch's index rows,
    *    materialized; append them to the persisted relation (the
    *    [[savePqCodes]] artifact) to advance the corpus snapshot;
    *  - `dupPairs` — (new_id, corpus_id, adc_dist) for every corpus code
    *    within `maxAdcDist` of a new vector in its probed cells —
    *    ascending-distance evidence, exact-verify downstream if the
    *    ingest policy needs certainty (ADC is approximate by design; an
    *    EXACT copy of a corpus vector always surfaces at its
    *    quantization-floor distance because codes coincide). Pairs where
    *    `new_id == corpus_id` are NOT excluded: the batch and corpus are
    *    different relations, so an id-equal pair is either a replay of
    *    the same vector (surfaces at the quantization floor) or an id
    *    collision with CHANGED content (surfaces at a larger distance) —
    *    both are exactly the events an ingest dedup exists to catch, and
    *    a cross-relation id filter would silently hide them.
    *
    * `corpusCodes` must be coded with the SAME books and coarse
    * quantizer — and with the SAME coding axis as the `byResidual` flag:
    * raw-coded corpus ↔ `byResidual=false`, residual-coded corpus
    * (pqEncode `residualOf`) ↔ `byResidual=true`. Same
    * artifact-compatibility contract as [[ivfPqTopK]]'s
    * precomputedCodes, and the exact-replay invariant holds on both
    * axes — identical content encodes to identical codes in the same
    * cell, so it surfaces at the quantization floor. */
  def incrementalVectorIngest(newVecs: DataFrame, dim: Int,
                              coarse: Array[Array[Double]],
                              books: Array[Array[Array[Double]]],
                              corpusCodes: DataFrame,
                              maxAdcDist: Double,
                              nProbe: Int = 4,
                              byResidual: Boolean = false): (DataFrame, DataFrame) = {
    requireBooksTile(books, dim)
    require(coarse.nonEmpty && coarse.forall(_.length == dim),
      s"coarse centroids must match dim=$dim")
    val newAssigned = assignCells(indexable(newVecs), coarse)
    val newCodes = pqEncode(newAssigned, books, carry = Seq("cell"),
      residualOf = if (byResidual) Some(("cell", coarse)) else None)
    val dups = probedCodeDistances(requireCodesRelation(corpusCodes, "cell"),
        collectVectors(newAssigned, dim), coarse, nProbe, books, byResidual,
        dropSelf = false)
      .select(col("query_id").as("new_id"), col("nbr_id").as("corpus_id"), col("adc_dist"))
      .filter(col("adc_dist") <= maxAdcDist)
      .orderBy(col("new_id"), col("adc_dist"), col("corpus_id"))
    (newCodes, dups)
  }

  /** Persist PQ codebooks as a (sub, code, centroid) parquet table —
    * the index artifact counterpart of [[saveIvfIndex]]. */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Persist an encoded PQ codes relation ([[pqEncode]]'s output — the
    * per-vector index artifact, 16 B/vector at m=16) so repeated queries
    * scan persisted codes instead of re-encoding the corpus per call:
    * build once at ingest, pass [[loadPqCodes]]' result as
    * `precomputedCodes` at query time. Completes the index lifecycle
    * triple with [[saveIvfIndex]] (cells) and [[savePqCodebooks]]
    * (codebooks). */
  def savePqCodes(codes: DataFrame, path: String): Unit =
    codes.write.mode("overwrite").parquet(path)

  /** Load a persisted PQ codes relation (inverse of [[savePqCodes]]). */
  def loadPqCodes(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    graft.Tables.cachedRead(spark, path) // schema-cached, listing-keyed

  /** Load persisted PQ codebooks (inverse of [[savePqCodebooks]]). */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Array[Double]]] =
    graft.Tables.cachedRead(spark, path) // schema-cached, listing-keyed
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2)).toArray

  /** N-gram (word-set) Jaccard similarity for a bounded id range — the
    * SQL-checkable near-dup primitive: |tokensₐ ∩ tokens_b| / |tokensₐ ∪
    * tokens_b| over distinct tokens. */
  def jaccardPairs(docs: DataFrame, maxId: Int, minSim: Double): DataFrame = {
    val toks = docs.filter(col("doc_id") < maxId)
      .select(col("doc_id"), array_distinct(split(col("text"), " ", -1)).as("toks"))
    val a = toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
    val b = toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Features.pround(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minSim)
      .orderBy(col("id_a"), col("id_b"))
  }
}
