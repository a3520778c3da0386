package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class DedupSimilaritySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
  private def emb = Tables.embeddings(spark, sfDir)

  private val synth = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different content about database engines and query planners"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today")   // exact dup of 0
  ).toDF("doc_id", "text")

  test("D2 minhash: finds the exact and near duplicate, not the distinct doc") {
    val pairs = Dedup.minhashNearDups(synth, 0.5, w = 3, bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))   // exact dup — jaccard 1.0
    assert(pairs.contains((0L, 1L)))   // near dup — one word differs
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("D2 minhash: NULL-text rows produce no candidates and leave the pair set unchanged") {
    // NULL text degenerates every band hash to the same value — without
    // the up-front filter, N such rows co-bucket in EVERY band and emit
    // O(N²·bands) dead candidate pairs before the jaccard filter kills
    // them. Pin both the final pair set AND the candidate count.
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize((100L to 119L).map(i =>
        org.apache.spark.sql.Row(i, null: String))),
      synth.schema)
    val poisoned = synth.unionByName(nulls)
    val clean = Dedup.minhashNearDups(synth, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withNulls = Dedup.minhashNearDups(poisoned, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withNulls == clean)
    assert(!withNulls.exists(p => p._1 >= 100L || p._2 >= 100L))
  }

  test("D2 minhash: exact dup pair has jaccard 1.0") {
    val j = Dedup.minhashNearDups(synth, 0.5).filter(col("id_a") === 0 && col("id_b") === 3)
      .collect()(0).getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("simhash: identical texts share signature; near-dups within hamming 8") {
    val sigs = Dedup.simhash(synth).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <= 8)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 8)
  }

  test("D4 brute force: sims bounded, no self-pairs, ranks contiguous") {
    val res = Similarity.bruteForceTopK(emb, 5, 3).collect()
    assert(res.forall(r => r.getAs[Double]("cos_sim") >= -1.0001 && r.getAs[Double]("cos_sim") <= 1.0001))
    assert(res.forall(r => r.getAs[Long]("nbr_id") != r.getAs[Long]("query_id")))
    val ranks = res.groupBy(_.getAs[Long]("query_id")).values
    assert(ranks.forall(_.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L)))
  }

  test("D4 LSH: bucketed results are a subset of the full candidate space and self-consistent") {
    val lsh = Similarity.lshTopK(emb, 64, 5, 3, nPlanes = 4)
    val res = lsh.collect()
    // identical vector always lands in its own bucket → every query with
    // any bucket-mate gets results; sims must match brute-force values
    val bf = Similarity.bruteForceTopK(emb, 5, 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")) -> r.getAs[Double]("cos_sim")).toMap
    res.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))
      bf.get(key).foreach(v => assert(v == r.getAs[Double]("cos_sim")))
    }
  }

  test("D4 LSH recall: top-1 neighbor recovered for most queries at 4 planes") {
    val bf1 = Similarity.bruteForceTopK(emb, 20, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("nbr_id")).toMap
    val lsh = Similarity.lshTopK(emb, 64, 20, 5, nPlanes = 4).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val hits = bf1.count { case (q, n) => lsh.getOrElse(q, Set.empty).contains(n) }
    assert(hits >= bf1.size / 2, s"LSH recall too low: $hits/${bf1.size}")
  }

  test("D4 IVF: sims match brute force; recall reasonable with 4/16 probes") {
    val ivf = Similarity.ivfTopK(emb, 20, 5, nLists = 16, nProbe = 4).collect()
    val bf = Similarity.bruteForceTopK(emb, 20, 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")) -> r.getAs[Double]("cos_sim")).toMap
    // any pair IVF returns must carry the exact brute-force similarity
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))
      bf.get(key).foreach(v => assert(v == r.getAs[Double]("cos_sim")))
    }
    // top-1 recall over the probed fraction of cells
    val bf1 = Similarity.bruteForceTopK(emb, 20, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("nbr_id")).toMap
    val ivfByQ = ivf.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val hits = bf1.count { case (q, n) => ivfByQ.getOrElse(q, Set.empty).contains(n) }
    assert(hits >= bf1.size / 3, s"IVF recall too low: $hits/${bf1.size}")
  }

  test("D4 IVF: precomputed centroids reproduce the self-training result exactly") {
    val sub = emb.filter(col("vec_id") < 300)
    val centroids = Similarity.trainIvfCentroids(sub, nLists = 8)
    val self = Similarity.ivfTopK(sub, nQueries = 5, k = 5, nLists = 8, nProbe = 3)
      .collect().map(_.toString)
    val pre = Similarity.ivfTopK(sub, nQueries = 5, k = 5, nLists = 8, nProbe = 3,
      precomputedCentroids = Some(centroids))
      .collect().map(_.toString)
    assert(self.sameElements(pre))
  }

  test("VectorAvg: exact means on known vectors; partition-layout independent") {
    val df = Seq((0L, Seq(1.0f, 2.0f)), (0L, Seq(3.0f, 4.0f)), (1L, Seq(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.embeddingCentroids(df, nClusters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(res((0L, 0L)) == ((2L, 2.0)) && res((0L, 1L)) == ((2L, 3.0)))
    assert(res((1L, 0L)) == ((1L, -1.0)) && res((1L, 1L)) == ((1L, 1.0)))
    // micro-quantized integer sums → identical under any partitioning
    val base = Similarity.embeddingCentroids(emb, 8).collect().map(_.toString).toSeq
    val shuffled = Similarity.embeddingCentroids(emb.repartition(13), 8)
      .collect().map(_.toString).toSeq
    assert(base == shuffled)
  }

  test("D4 IVF: null-element and truncated embeddings cannot crash the " +
      "driver paths or reach a top-k list") {
    // the two partial-encoder-failure shapes CosineSimilarity treats as
    // routine (returns NULL): an embedding with a null ELEMENT would NPE
    // the driver-side getSeq unboxing in trainIvfCentroids/the query
    // collect, and a TRUNCATED embedding would either crash kmeans'
    // fixed-dim distance loop or (as points(0)) silently truncate every
    // distance — the gate and the modal-dimension filter close both
    val sub = emb.filter(col("vec_id") < 300)
    val dirty = spark.range(1).selectExpr(
        "CAST(100000 AS BIGINT) AS vec_id",
        "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(3.0 AS FLOAT)) AS embedding")
      .unionByName(spark.range(1).selectExpr(
        "CAST(100001 AS BIGINT) AS vec_id",
        "array(CAST(1.0 AS FLOAT)) AS embedding"))
    val mixed = sub.select(col("vec_id"), col("embedding")).unionByName(dirty)
    val dim = sub.select(size(col("embedding"))).collect()(0).getInt(0)
    val centroids = Similarity.trainIvfCentroids(mixed, nLists = 8)
    assert(centroids.length == 8 && centroids.forall(_.length == dim),
      "quantizer dimension must be the corpus's modal dimension")
    val res = Similarity.ivfTopK(mixed, nQueries = 5, k = 5, nLists = 8, nProbe = 3)
      .collect()
    assert(res.nonEmpty)
    assert(!res.exists(_.getAs[Long]("nbr_id") >= 100000L),
      "unindexable embeddings must never appear as neighbors")
  }

  test("D4 IVF: index save/load round-trips centroids exactly") {
    val sub = emb.filter(col("vec_id") < 300)
    val centroids = Similarity.trainIvfCentroids(sub, nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/index"
    Similarity.saveIvfIndex(spark, centroids, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.length == centroids.length)
    centroids.zip(loaded).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("D4: salted two-phase top-k is bit-identical to a single-window rank") {
    import org.apache.spark.sql.expressions.Window
    // rebuild the scored candidate relation exactly as bruteForceTopK does,
    // rank it with the one-window form, and compare against the salted path
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val joined = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        Features.pround(Similarity.cosineExpr("q_emb", "n_emb"), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("nbr_id"))
    val oneWindow = joined
      .select(col("query_id"), col("nbr_id"), col("cos_sim"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq)
    val salted = Similarity.bruteForceTopK(emb, 5, 3).collect().map(_.toSeq)
    assert(salted.toSeq == oneWindow.toSeq)
  }

  test("winnow: planted plagiarism — a copied passage links otherwise-distinct docs") {
    // the shared passage is far longer than w+k-1 = 11 bytes, the rest of
    // each doc is distinct prose → the pair MUST surface, distinct docs not
    val passage = "stochastic gradient descent converges under a decaying learning rate schedule"
    val planted = Seq(
      (0L, s"chapter one begins here $passage and then wanders off"),
      (1L, s"totally different framing yet quoting $passage verbatim near the end"),
      (2L, "no overlap at all, this document discusses medieval bread baking"),
      (3L, "another unrelated text entirely, concerning tidal patterns and moons")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(planted, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"planted pair missing from $pairs")
    assert(!pairs.exists(p => p._1 >= 2L || p._2 >= 2L))
  }

  test("winnow guarantee: any shared substring of >= w+k-1 bytes shares a fingerprint") {
    // exactly the paper bound: k=8, w=4 → an 11-byte common substring
    val common = "abcdefghijk" // 11 bytes
    require(common.length == 8 + 4 - 1)
    val fpsOf = (s: String) => graft.functions.WinnowKernel.winnow(
      s.getBytes("UTF-8"), 8, 4).toSet
    val a = fpsOf(s"zzzzzzzzzzzzzzzz${common}qqqqqqqqqqqqqqqq")
    val b = fpsOf(s"mmmmmmmmmmmmmmmm${common}tttttttttttttttt")
    assert(a.intersect(b).nonEmpty)
  }

  test("winnow: maxDf drops boilerplate fingerprints, keeps rare-passage pairs") {
    val boiler = "this footer is identical boilerplate repeated across every single page"
    val rare = "the rare quoted sentence that only two documents actually share today"
    val docs = (0L until 10L).map(i => (i, s"doc number $i $boiler")) ++ Seq(
      (100L, s"first unique holder of $rare plus extra words"),
      (101L, s"second unique holder of $rare and other filler"))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(df, minShared = 2, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"rare pair missing from $pairs")
    // fingerprints of the boilerplate appear in 10 > maxDf docs → filtered;
    // the 45 boilerplate pairs must NOT appear
    assert(!pairs.exists(p => p._1 < 100L && p._2 < 100L), s"boilerplate pairs leaked: $pairs")
  }

  test("declared d15 (minhash) on the real corpus is evidence-dense, not vacuous") {
    // same discipline as the d28 pin below (three members of this family
    // have now been caught degenerate-by-default: d47, d49, d28): the
    // rows-only declaration must stay a SELECTIVE near-dup relation —
    // nonempty, and far below the all-pairs ceiling. MinHash at
    // jaccard >= 0.5 is the tightest of the near-dup family (the
    // oracle-checked d13 shows even the similarity-dense bounded sample
    // has only 73% of pairs at that threshold, and banding prunes most
    // cross-group candidates): measured 28 of 124,750 possible pairs at
    // sf0.001 and 25 of 124,750 at sf0.01 (~0.02%). The 5% bar is >200x
    // the measured density and fails loudly on any d28-class
    // re-degeneration (58%-of-pairs).
    val n = docs.count()
    val pairs = SparkEntry.queries("d15_minhash_neardups")(spark, sfDir).count()
    assert(pairs > 0L, "d15 flagged nothing — near-dup evidence is vacuous")
    assert(pairs < n * (n - 1) / 2 / 20,
      s"d15 flagged $pairs of ${n * (n - 1) / 2} pairs — degenerate evidence")
  }

  test("declared d17 (simhash) on the real corpus is evidence-dense, not vacuous") {
    // simhash hamming <= 8/64 is deliberately LOOSER than minhash at 0.5
    // (bit agreement aggregates token overlap globally): measured 8,985
    // of 124,750 pairs (~7.2%) at sf0.001 and ~6.4% at sf0.01 — plausibly
    // real on this similarity-dense corpus (d13: 73% of the bounded
    // oracle-checked sample sits at jaccard >= 0.5), but exactly the
    // declaration class the d28 pin exists to guard. The 20% ceiling is
    // ~3x the measured density and still 3x below the 58%-of-pairs
    // degeneration that motivated the family-wide pins.
    val n = docs.count()
    val pairs = SparkEntry.queries("d17_simhash_neardups")(spark, sfDir).count()
    assert(pairs > 0L, "d17 flagged nothing — near-dup evidence is vacuous")
    assert(pairs < n * (n - 1) / 2 / 5,
      s"d17 flagged $pairs of ${n * (n - 1) / 2} pairs — degenerate evidence")
  }

  test("declared d38 (incremental minhash) on the real corpus is evidence-dense, not vacuous") {
    // the last rows-only near-dup declaration without a real-corpus band:
    // new batch = doc_id >= 400, corpus index = doc_id < 400, so the
    // answer space is |new| x |corpus| ordered pairs. Measured 8 of
    // 40,000 at sf0.01 (~0.02%) — minhash at jaccard >= 0.5, same
    // tightness as d15. The 5% bar matches the family discipline.
    val n = docs.count()
    val nNew = docs.filter(col("doc_id") >= 400).count()
    val nCorpus = n - nNew
    assume(nNew > 0 && nCorpus > 0, "fixture no longer spans the 400 split")
    val pairs = SparkEntry.queries("d38_incremental_neardups")(spark, sfDir).count()
    assert(pairs > 0L, "d38 flagged nothing — near-dup evidence is vacuous")
    assert(pairs < nNew * nCorpus / 20,
      s"d38 flagged $pairs of ${nNew * nCorpus} pairs — degenerate evidence")
  }

  test("declared d28 on the real corpus is evidence-dense, not vacuous") {
    // the round-16 self-review found the old declaration (operator-default
    // char k=8) flagged 58% of ALL doc pairs at sf0.01 — the same vacuity
    // class as pre-fix d47/d49: every shared word pair was a "rare
    // fingerprint". The declared entry now runs at matched k=20 (a pair
    // needs 3 independently-shared 23-char runs); pin that the answer set
    // stays a SELECTIVE passage-sharing relation: nonempty, but a small
    // fraction of the all-pairs space (measured 109 of 124,750 possible
    // at sf0.001 — ~0.09%; the 5% bar fails loudly on any re-degeneration
    // while tolerating fixture drift).
    val n = docs.count()
    val pairs = SparkEntry.queries("d28_winnow_neardups")(spark, sfDir).count()
    assert(pairs > 0L, "d28 flagged nothing — agreement evidence is vacuous")
    assert(pairs < n * (n - 1) / 2 / 20,
      s"d28 flagged $pairs of ${n * (n - 1) / 2} pairs — degenerate evidence")
  }

  test("winnow: interpreted eval and codegen produce identical fingerprints") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "short", "", "exactly11ch",
      "unicode snowman ☃ and accents éèê mixed in")
    // codegen path: a whole-stage-codegen'd projection over the registered fn
    val viaCodegen = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .selectExpr("id", "winnow_fingerprints(text, 8, 4) AS fps")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      // interpreted path: Expression.eval on a literal child
      val e = graft.functions.WinnowFingerprints(
        Literal(UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType), 8, 4)
      val interpreted = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray.toSeq
      assert(interpreted == viaCodegen(i.toLong), s"mismatch for '$t'")
    }
  }

  test("native signature kernels: interpreted eval ≡ codegen projection " +
      "(simhash_bits, minhash_signature, hyperplane_bits)") {
    // the cosine/winnow/shingle kernels have this pin already; these three
    // hand-write their generated code separately from nullSafeEval, so a
    // divergence would silently split behavior between codegen'd plans and
    // interpreted contexts (filter estimation, partial fallback)
    import org.apache.spark.sql.{GraftColumnBridge, Row}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val hashSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("hs", ArrayType(LongType, containsNull = true))))
    val hashRows: Seq[Seq[Any]] = Seq(
      Seq(1L, 2L, 3L), Seq(-5L, null, 42L) /* null slot skipped */, Seq.empty)
    val hdf = spark.createDataFrame(
      java.util.Arrays.asList(hashRows.zipWithIndex.map {
        case (a, i) => Row(i.toLong, a) }: _*), hashSchema)
    def arrLit(a: Seq[Any]): Literal =
      Literal.create(a, ArrayType(LongType, containsNull = true))
        .asInstanceOf[Literal]

    val simCg = hdf.select(col("id"), GraftColumnBridge.column(
        graft.functions.SimhashBits(GraftColumnBridge.expression(col("hs")))).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hashRows.zipWithIndex.foreach { case (a, i) =>
      val ev = graft.functions.SimhashBits(arrLit(a)).eval(null)
      assert(ev == simCg(i.toLong), s"simhash mismatch on row $i")
    }

    val mhCg = hdf.select(col("id"), GraftColumnBridge.column(
        graft.functions.MinhashSignature(
          GraftColumnBridge.expression(col("hs")), 16)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    hashRows.zipWithIndex.foreach { case (a, i) =>
      val ev = graft.functions.MinhashSignature(arrLit(a), 16).eval(null)
        .asInstanceOf[GenericArrayData].toLongArray.toSeq
      assert(ev == mhCg(i.toLong), s"minhash mismatch on row $i")
    }

    val planes = Seq(Seq(1.0, -2.0, 0.5), Seq(-1.0, 0.0, 3.0))
    val vecSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("x", ArrayType(FloatType, containsNull = true))))
    val vecRows: Seq[Seq[Any]] = Seq(
      Seq(1.0f, 2.0f, 3.0f),
      Seq(-1.0f, 0.5f, 0.25f),
      Seq(1.0f, 2.0f),              // wrong dimension → null
      Seq(1.0f, Float.NaN, 3.0f),   // non-finite element → null
      Seq(1.0f, null, 3.0f))        // null element → null
    val vdf = spark.createDataFrame(
      java.util.Arrays.asList(vecRows.zipWithIndex.map {
        case (a, i) => Row(i.toLong, a) }: _*), vecSchema)
    val hpCg = vdf.select(col("id"), GraftColumnBridge.column(
        graft.functions.HyperplaneBits(
          GraftColumnBridge.expression(col("x")), planes)).as("v"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else java.lang.Long.valueOf(r.getLong(1)))).toMap
    vecRows.zipWithIndex.foreach { case (a, i) =>
      val lit = Literal.create(a, ArrayType(FloatType, containsNull = true))
      val ev = graft.functions.HyperplaneBits(lit, planes).eval(null)
      assert(ev == hpCg(i.toLong), s"hyperplane mismatch on row $i")
    }
    assert(hpCg(2L) == null && hpCg(3L) == null && hpCg(4L) == null)
  }

  test("winnow_fingerprints: wrong arity and non-foldable args raise analysis errors") {
    import org.apache.spark.sql.AnalysisException
    val df = Seq((1L, "some text here")).toDF("id", "text")
    df.createOrReplaceTempView("wf_args_v")
    val e1 = intercept[AnalysisException](
      spark.sql("SELECT winnow_fingerprints(text) FROM wf_args_v").collect())
    assert(e1.getMessage.contains("winnow_fingerprints"))
    val e2 = intercept[AnalysisException](
      spark.sql("SELECT winnow_fingerprints(text, id, 4) FROM wf_args_v").collect())
    assert(e2.getMessage.contains("winnow_fingerprints"))
    val e3 = intercept[AnalysisException](
      spark.sql("SELECT cosine_sim(array(1.0F)) FROM wf_args_v").collect())
    assert(e3.getMessage.contains("cosine_sim"))
  }

  test("incremental near-dup: batch vs own index reproduces the self-join result") {
    val idx = Dedup.minhashIndex(synth)
    val inc = Dedup.incrementalNearDups(synth, idx, 0.5).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))) -> r.getAs[Double]("jaccard")).toMap
    val full = Dedup.minhashNearDups(synth, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(inc == full, s"inc=$inc full=$full")
  }

  test("incremental near-dup: a new doc is caught against a prior corpus index") {
    val corpus = Dedup.minhashIndex(synth.filter(col("doc_id") =!= 1L))
    val newBatch = synth.filter(col("doc_id") === 1L)
    val hits = Dedup.incrementalNearDups(newBatch, corpus, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 is the near-dup of 0 (and transitively of the exact-dup 3)
    assert(hits.contains((1L, 0L)), hits)
    assert(!hits.exists(_._2 == 2L), hits)
  }

  test("connected components: chains, triangles, isolated nodes, min labels") {
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("id")
    // chain 0-1-2-3 (diameter 3), triangle 4-5-6, edge 7-8, isolated 9
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connected components: a 3000-node chain converges inside 20 rounds " +
      "(pointer jumping, O(log diameter) rounds)") {
    // the pathological shape for plain min-propagation: doc i near-dup of
    // doc i+1 only, so the min label must travel the full 2999-edge
    // diameter — 2999 rounds without the jump, ~13 with it. The explicit
    // maxIter=20 bound IS the assertion: plain propagation raises here.
    // (The DEFAULT cap is 64 — the doubling bound for any 64-bit-id graph;
    // this test pins the logarithmic round count, not the default.)
    val n = 3000L
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
    val labels = Dedup.components(nodes, edges, maxIter = 20, driverEdgeBound = 0).labels
    assert(labels.filter(col("comp") =!= 0L).count() == 0L)
    assert(labels.count() == n)
    assert(ccRows(labels) == ccRows(Dedup.connectedComponents(nodes, edges)),
      "the driver path labels the chain differently from the loop")
  }

  /** (id, comp) rows in a canonical order; NULLs print as "null". */
  private def ccRows(labels: org.apache.spark.sql.DataFrame): Seq[String] =
    labels.collect().map(r => s"${r.get(0)}|${r.get(1)}").sorted.toSeq

  /** Labels from the default (driver, union-find) path and from the loop
    * forced by a bound of 0, after checking each path really ran. */
  private def bothPaths(nodes: org.apache.spark.sql.DataFrame,
                        edges: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val driver = Dedup.connectedComponents(nodes, edges)
    val loop = Dedup.components(nodes, edges, driverEdgeBound = 0).labels
    assert(driver.queryExecution.analyzed.toString.contains("__cid"),
      "the default path should label on the driver")
    assert(!loop.queryExecution.analyzed.toString.contains("__cid"),
      "a bound of 0 should force the loop")
    (ccRows(driver), ccRows(loop))
  }

  test("connected components: the driver path and the forced loop give identical " +
      "labels (chains, triangle, isolated nodes, unknown ids, self-loops, " +
      "duplicates, NULL endpoints, empty edge list)") {
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("id")
    def edges(es: (Option[Long], Option[Long])*) = es.toDF("id_a", "id_b")
    def some(es: (Long, Long)*) = edges(es.map { case (a, b) => (Some(a), Some(b)) }: _*)
    val shapes = Seq(
      "chains, triangle, isolated" -> some((0L, 1L), (1L, 2L), (2L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L)),
      "self-loops and duplicates" -> some((5L, 5L), (1L, 2L), (1L, 2L), (2L, 1L), (9L, 9L)),
      "NULL endpoints" -> edges((None, Some(3L)), (Some(4L), None), (None, None),
        (Some(6L), Some(7L))),
      "empty edge list" -> edges())
    shapes.foreach { case (name, es) =>
      val (driver, loop) = bothPaths(nodes, es)
      assert(driver == loop, s"$name: driver $driver, loop $loop")
    }
    // ids 10..14 are not nodes: the low unknown id 10 must neither become a
    // label nor bridge 3 and 7; the unknown 12 must not bridge 1 and 2
    val unknown = some((10L, 3L), (10L, 7L), (1L, 12L), (12L, 2L), (5L, 6L), (8L, 14L))
    val (driver, loop) = bothPaths(nodes, unknown)
    assert(driver == loop, s"unknown ids: driver $driver, loop $loop")
    assert(driver == (0L to 9L).map(i => s"$i|${if (i == 6L) 5L else i}"))
    // a NULL node id keeps a NULL label on both paths
    val nullNode = Seq(Some(1L), None, Some(2L)).toDF("id")
    val (dn, ln) = bothPaths(nullNode, some((1L, 2L)))
    assert(dn == ln && dn == Seq("1|1", "2|1", "null|null"), s"driver $dn, loop $ln")
  }

  test("stage strategies: local, disk and reliable give identical rows at every " +
      "routed site; release leaves no DISK_ONLY RDD; pins cut lineage under disk") {
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val books = Similarity.trainPqCodebooks(emb, 64)
    val labelled = (0L until 40L).map(i => (i, (i % 3).toInt)).toDF("id", "label")
    def query(q: String) = () => SparkEntry.queries(q)(spark, sfDir)
    // (site, is a pin, build): every case reaches Materialize.stage / pin
    val cases: Seq[(String, Boolean, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("connected components (loop)", false,
        () => Dedup.components(nodes, edges, driverEdgeBound = 0).labels),
      ("d43 training sequences", false, query("d43_training_sequences")),
      ("d15 minhash LSH candidates", false, query("d15_minhash_neardups")),
      ("d17 simhash bands", false, query("d17_simhash_neardups")),
      ("pqEncode", false, () => Similarity.pqEncode(emb.select(col("vec_id"), col("embedding")), books)),
      ("d36 funnelSteps", false, query("d36_funnel_steps")),
      ("v10 psiByColumn", false, query("v10_psi_by_column")),
      ("x34 as-of pin", true, query("x34_asof_bucketed")),
      ("stratified split pins", true, () => ml.Split.stratified(labelled, "label", 0.25, 7L)._2))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(r =>
      r.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }.mkString("|")).sorted.toSeq
    def diskStages = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel == org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try cases.foreach { case (site, isPin, build) =>
      Materialize.releaseStages(spark)
      spark.conf.unset("spark.graft.stageStorage")
      val base = rows(build())
      assert(base.nonEmpty, site)
      spark.conf.set("spark.graft.stageStorage", "disk")
      val disk = build()
      assert(rows(disk) == base, s"$site: disk rows differ")
      assert(diskStages.nonEmpty, s"$site: disk strategy stored nothing DISK_ONLY")
      val plan = disk.queryExecution.executedPlan.toString
      if (isPin) assert(plan.contains("ExistingRDD") && !plan.contains("InMemoryTableScan"),
        s"$site: a pin must cut lineage under disk\n$plan")
      else assert(plan.contains("InMemoryTableScan"), s"$site: disk stage keeps lineage\n$plan")
      Materialize.releaseStages(spark)
      assert(diskStages.isEmpty, s"$site: release left DISK_ONLY RDDs")
      spark.conf.set("spark.graft.stageStorage", "reliable")
      assert(rows(build()) == base, s"$site: reliable rows differ")
      assert(diskStages.isEmpty, s"$site: reliable must not leave DISK_ONLY handles")
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      Materialize.releaseStages(spark)
    }
  }

  test("connected components: equals driver-side union-find on real minhash pairs") {
    val pairs = Dedup.minhashNearDups(docs, 0.5)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    // reference: classic union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val nodes = docs.select(col("doc_id").as("id"))
    val edges = pairs.toSeq.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    val (driver, loop) = bothPaths(nodes, edges)
    assert(driver == loop)
  }

  test("D1 exact dedup groups: total copies equals row count") {
    val g = TextOps.dedupGroups(docs)
    assert(g.agg(sum("n_copies")).collect()(0).getLong(0) == docs.count())
  }

  test("D1 dedup: NULL text is unknown content — distinct broken records " +
      "pass through undeduped, not collapsed into one") {
    // sha2(NULL) = NULL previously put every NULL-text record in ONE
    // group and silently discarded all but the lowest-id one — data loss
    // on rows whose equality was never established; a no-identity row
    // (text AND doc_id both NULL) is dropped deterministically
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(7L, null, "en", "s1", null),
        Row(9L, null, "de", "s2", null),
        Row(null, null, null, null, null),
        Row(1L, "same text", "en", "s1", 9L),
        Row(2L, "same text", "en", "s1", 9L)),
      schema)
    val kept = TextOps.dedupDocuments(df).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSet
    assert(kept == Set[Any](1L, 7L, 9L),
      s"null-text rows must each survive, null/null dropped: $kept")
    // the audit view covers hashable documents only
    val groups = TextOps.dedupGroups(df).collect()
    assert(groups.length == 1 && groups(0).getLong(2) == 2L)
  }

  test("D1 dedupDocuments: winner set equals dedupGroups' keep_ids; no content-keyed window in the plan") {
    // pins the round-7 migration (text-partitioned row_number window →
    // single-scan min_by groupBy) to the oracle-checked audit view: the
    // materialized winners must be exactly dedupGroups' min-id keepers
    val kept = TextOps.dedupDocuments(docs)
    val keepIds = TextOps.dedupGroups(docs)
      .select(col("keep_id")).collect().map(_.getLong(0)).toSet
    val gotIds = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(gotIds == keepIds)
    // winner rows carry their own attributes (not another copy's)
    val orig = docs.select("doc_id", "lang", "source", "n_chars")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    kept.collect().foreach(r => assert(orig(r.getLong(0)) == r.toSeq.tail))
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"), "window crept back in")
  }

  test("language-id: deterministic and emits known codes") {
    val r1 = TextOps.languageId(docs.limit(50)).select("doc_id", "pred_lang").collect()
    val r2 = TextOps.languageId(docs.limit(50)).select("doc_id", "pred_lang").collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    val valid = Set("en", "es", "de", "fr", "zh", "und")
    assert(r1.forall(r => valid.contains(r.getString(1))))
  }

  test("language-id confusion: counts partition the corpus, codes valid, argmax tie-break honored") {
    import spark.implicits._
    val res = TextOps.langConfusion(docs).collect()
    assert(res.map(_.getAs[Long]("n")).sum == docs.count())
    val valid = Set("en", "es", "de", "fr", "zh")
    assert(res.forall(r => valid.contains(r.getAs[String]("true_lang"))))
    assert(res.forall(r => (valid + "und").contains(r.getAs[String]("pred_lang"))))
    // hand-built docs: marker-free text → und; a de/fr tie on "la die la die"
    // (fr: la×2, de: die×2) → alphabetically-first language (de) wins
    val planted = Seq(
      (1L, "rocket banana xylophone", "en", "s", 23L),
      (2L, "la die la die", "fr", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.languageId(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "und", out)
    assert(out(2L) == "de", out)
  }

  // ---- d59 semantic dedup (SemDeDup) ----

  /** Planted fixture: 12 mutually-orthogonal base directions (cos 0
    * between any two — no base vector can ever near-dup another) plus 4
    * planted near-identical copies of bases 0–3. A copy is L2-glued to
    * its base, so under ANY converged quantizer the pair co-clusters. */
  private def plantedEmb = {
    val dim = 16
    def unit(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == axis) scale else 0.0f)
    val bases = (0 until 12).map(i => (i.toLong, unit(i, 10.0f), 0))
    val dups = (0 until 4).map { i =>
      val v = unit(i, 10.0f).updated((i + 4) % dim, 0.01f) // tiny off-axis jitter
      (100L + i, v, 0)
    }
    (bases ++ dups).toDF("vec_id", "embedding", "label")
  }

  test("semantic dedup: planted near-identical pairs are all dropped onto their base (recall 1), orthogonal bases survive") {
    val out = Similarity.semanticDedup(plantedEmb, nClusters = 4, minSim = 0.99)
      .collect()
    val drops = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(drops == Map(100L -> 0L, 101L -> 1L, 102L -> 2L, 103L -> 3L),
      s"expected exactly the 4 planted copies dropped onto their bases, got $drops")
    assert(out.forall(_.getAs[Double]("cos_sim") >= 0.99))
  }

  test("semantic dedup hot-cell bound: forced LSH sub-shard reproduces the planted result exactly and only prunes on the real corpus") {
    // r20: past hotCellThreshold a cell's self-join key gains OR-amplified
    // hyperplane bands. True near-identical dups collide in EVERY band
    // (p → 1), so on the planted fixture the forced hot path must be
    // bit-identical to the plain path…
    val banded = Similarity.semanticDedup(plantedEmb, nClusters = 4,
      minSim = 0.99, hotCellThreshold = 2).collect()
    val plain = Similarity.semanticDedup(plantedEmb, nClusters = 4,
      minSim = 0.99).collect()
    assert(banded.map(_.toString).toSeq == plain.map(_.toString).toSeq,
      "hot-cell banding must not change the planted near-identical result")
    // …and on the real corpus at the declared threshold, banding may only
    // PRUNE candidates: every emitted drop is still exactly verified
    // (subset of brute-force pairs), drops are a subset of the plain
    // path's, and the band miss rate stays inside the OR-amplification
    // bound's slack
    val out = Similarity.semanticDedup(emb, nClusters = 8, minSim = 0.45,
      hotCellThreshold = 10).collect()
    val n = emb.count().toInt
    val brute = Similarity.embeddingNearDups(emb, n, 0.45).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out.forall(r => r.getAs[Long]("keeper_id") < r.getAs[Long]("vec_id")))
    assert(out.forall(r =>
      brute.contains((r.getAs[Long]("keeper_id"), r.getAs[Long]("vec_id")))),
      "banded drop rows must be exactly-verified pairs")
    val plainDrops = Similarity.semanticDedup(emb, nClusters = 8, minSim = 0.45)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val bandedDrops = out.map(_.getAs[Long]("vec_id")).toSet
    assert(bandedDrops.subsetOf(plainDrops),
      "banding introduced a drop the exhaustive within-cell path lacks")
    // measured pin: the real corpus has FOUR qualifying pairs, all at
    // cos ≈ 0.45–0.47 — the loosest end of the shardPlan recall target
    // (0.95 at-threshold over the PLANE draw). The auto plan at minSim
    // 0.45 is L=16 × b=4 (per-pair miss ≈ (1−0.649⁴)^16 ≈ 4%); the
    // fixed seed-42 draw finds 4 of 4. Floor one hit under measured;
    // the dedup REGIME (minSim ≥ 0.9) is pinned at recall ~1 below.
    info(s"real-corpus drops: banded ${bandedDrops.size} / plain ${plainDrops.size}")
    assert(bandedDrops.size >= 3,
      s"band recall regressed at the loose threshold: ${bandedDrops.size}/${plainDrops.size}")
    // determinism under layout: same result at a different partitioning
    val again = Similarity.semanticDedup(emb.repartition(13), nClusters = 8,
      minSim = 0.45, hotCellThreshold = 10).collect()
    assert(again.map(_.toString).toSeq == out.map(_.toString).toSeq,
      "hot path must be layout-invariant")
  }

  test("semantic dedup hot-cell bound: dedup-regime recall ~1 — planted near-dup groups in one forced-hot cell all collapse") {
    // the regime the hot-cell bound exists for: one under-segmented cell
    // holding many distinct template groups whose members are mutual
    // near-dups (cos ≈ 0.9+). Every member has ~groupSize qualifying
    // mates, so a drop survives banding unless ALL its pairs band-miss
    // — P(miss) ≈ 0.006^19 ≈ 0. Drop SET must equal the exhaustive
    // path's; keeper ids may differ on individual band misses (the
    // documented approximate contract).
    val rng = new scala.util.Random(3L)
    val bases = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val rows = (0 until 200).map { i =>
      val b = bases(i % 10)
      // small angular noise: copy-copy cosine ≈ 0.93–0.97
      (i.toLong, b.map(v => (v + rng.nextGaussian() * 0.18).toFloat).toSeq)
    }
    val groups = rows.toDF("vec_id", "embedding")
    val plain = Similarity.semanticDedup(groups, nClusters = 1, minSim = 0.9)
      .collect()
    val banded = Similarity.semanticDedup(groups, nClusters = 1, minSim = 0.9,
      hotCellThreshold = 50).collect()
    val plainDrops = plain.map(_.getAs[Long]("vec_id")).toSet
    val bandedDrops = banded.map(_.getAs[Long]("vec_id")).toSet
    info(s"planted-group drops: banded ${bandedDrops.size} / plain ${plainDrops.size}")
    assert(plainDrops.size >= 150, s"fixture too sparse: ${plainDrops.size} drops")
    assert(bandedDrops == plainDrops,
      s"dedup-regime drop set diverged: missed ${plainDrops -- bandedDrops}, " +
        s"extra ${bandedDrops -- plainDrops}")
    // every banded keeper is a same-group mate (exactly-verified pair)
    assert(banded.forall(r =>
      r.getAs[Long]("keeper_id") % 10 == r.getAs[Long]("vec_id") % 10),
      "a keeper crossed template groups")
  }

  test("semantic dedup: every drop decision is verified — keeper < dropped and subset of brute-force pairs at the same threshold") {
    // precision pin: cells only PRUNE candidates; any emitted row must be
    // an exactly-verified cosine pair the brute-force relation contains,
    // with the keeper strictly below the dropped id (the d1/d20 min-id
    // winner convention). Runs at the declared parameters on the real
    // corpus (500 vectors at this SF — the brute-force check is bounded).
    val n = emb.count().toInt
    val out = Similarity.semanticDedup(emb, nClusters = 8, minSim = 0.45).collect()
    val brute = Similarity.embeddingNearDups(emb, n, 0.45).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out.forall(r => r.getAs[Long]("keeper_id") < r.getAs[Long]("vec_id")))
    val missed = out.filterNot(r =>
      brute.contains((r.getAs[Long]("keeper_id"), r.getAs[Long]("vec_id"))))
    assert(missed.isEmpty,
      s"${missed.length} drop rows are not brute-force-verified pairs: " +
        missed.take(3).mkString(", "))
  }

  /** Locale-independent double → SQL literal. `Double.toString` round-trips
    * the exact bit pattern and never uses locale-sensitive separators (an
    * `f"$v%.17g"` interpolation would emit `,` decimals under comma-decimal
    * default locales and fail to parse). */
  private def dlit(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite plan literal: $v")
    s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"
  }

  /** The SQL-expressible REFERENCE for `Similarity.assignCells`: one
    * literal squared-distance expression per centroid and
    * `array_position(d, array_min(d)) - 1` — zip_with pads a wrong-length
    * vector with nulls, so its distances, min and cell are NULL. */
  private def assignCellsLiteral(corpus: org.apache.spark.sql.DataFrame,
                                 centroids: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    val distExprs = centroids.map { c =>
      val arr = c.map(dlit).mkString("array(", ", ", ")")
      s"aggregate(zip_with(embedding, $arr, (x, w) -> (CAST(x AS DOUBLE) - w) * (CAST(x AS DOUBLE) - w)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    }
    corpus
      .select(col("vec_id"), col("embedding"),
        expr(distExprs.mkString("array(", ", ", ")")).as("__dists"))
      .select(col("vec_id"), col("embedding"),
        (expr("array_position(__dists, array_min(__dists))") - 1L)
          .cast("int").as("cell"))
  }

  test("assignCells: broadcast kernel is bit-identical to the literal-expression plan, length-mismatch rows NULL in both") {
    // the literal form is the SQL-expressible REFERENCE implementation;
    // the kernel (the only production path since r18 retired the knee —
    // measured 20x faster at 250k rows) must never diverge from it:
    // same IEEE sum order, first-minimum argmin, NaN-greatest ordering,
    // NULL cell on quantizer-dim mismatch (the zip_with padding edge)
    val centroids = Similarity.trainIvfCentroids(emb, 8)
    val short = Seq((9999L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(short)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Int]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    val viaLiteral = cells(assignCellsLiteral(corpus, centroids))
    val viaKernel = cells(Similarity.assignCells(corpus, centroids))
    assert(viaLiteral == viaKernel)
    assert(viaKernel(9999L).isEmpty, "dim-mismatch row must get a NULL cell")
    assert(viaKernel.count(_._2.nonEmpty) == emb.count(),
      "every real vector must be assigned")
  }

  test("declared d59 (semantic dedup) on the real corpus is evidence-dense, not vacuous") {
    // family discipline (d15/d17/d28/d38): the drop decision must stay
    // SELECTIVE. Measured 4 of 500 vectors (0.8%) at sf0.001/0.01 and
    // 44 of 2000 (2.2%) at sf0.1 — the declaration was MOVED off the
    // d21 pair-listing threshold (0.2) after measuring an 86% drop rate
    // there (the d28 vacuity class). The 10% bar is >4x the measured
    // density at every SF and fails loudly on any re-degeneration.
    val n = emb.count()
    val dropped = SparkEntry.queries("d59_semantic_dedup")(spark, sfDir).count()
    assert(dropped > 0L, "d59 dropped nothing — semantic-dedup evidence is vacuous")
    assert(dropped < n / 10,
      s"d59 dropped $dropped of $n vectors — degenerate drop decision")
  }

  test("quantizer training: sample scales with k, declared draws unchanged, knee routes the SemDeDup regime off-driver") {
    // floor preserved — the declared d22 (k=16) / d59 (k=8) draws stay
    // the historical 10k, so their centroids are bit-identical to every
    // prior verified round
    assert(Similarity.trainSampleTarget(8) == 10000L)
    assert(Similarity.trainSampleTarget(16) == 10000L)
    // growth past the floor: 20 samples per centroid
    assert(Similarity.trainSampleTarget(640) == 12800L)
    assert(Similarity.trainSampleTarget(5000) == 100000L)
    assert(Similarity.trainSampleTarget(50000) == 1000000L)
    // the work knee (sample × k) hands the large-k regime to the
    // distributed trainer; the small-k production paths stay on-driver
    assert(Similarity.trainsOnDriver(8) && Similarity.trainsOnDriver(16) &&
      Similarity.trainsOnDriver(640))
    assert(!Similarity.trainsOnDriver(5000) && !Similarity.trainsOnDriver(50000))
  }

  test("quantizer training fails loudly when the sample cannot seat k seeds (no silent duplicate centroids)") {
    val pts = Array.tabulate(10)(i => Array.tabulate(4)(j => (i * 4 + j).toDouble))
    val ex = intercept[IllegalArgumentException](
      Similarity.kmeansLloyd(pts, k = 50, iters = 2, seed = 1L))
    assert(ex.getMessage.contains("usable points"), ex.getMessage)
    // same contract on the distributed path: fewer DISTINCT vectors than k
    val tiny = spark.range(6).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), j -> CAST(id % 3 AS FLOAT))").as("embedding"))
    val ex2 = intercept[IllegalArgumentException](
      Similarity.kmeansDistributedLloyd(tiny, k = 5, sampleTarget = 100L,
        iters = 2, seed = 1L))
    assert(ex2.getMessage.contains("distinct usable vectors"), ex2.getMessage)
  }

  test("distributed Lloyd's: exactly k distinct centroids, bit-identical under any layout, planted recall 1 through semanticDedup") {
    // deterministic synthetic corpus with an exact duplicate planted
    // every 100 ids (the semdedup probe's shape, at test size); k = 80
    // puts the downstream assignment on the broadcast kernel (> 64)
    val n = 2000L
    val synthEmb = spark.range(n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> " +
        "CAST(CAST(xxhash64(CASE WHEN id % 100 = 99 THEN id - 1 ELSE id END, j) % 1000000 AS DOUBLE) / 1000000.0 AS FLOAT))")
        .as("embedding"))
    val k = 80
    val c1 = Similarity.kmeansDistributedLloyd(synthEmb, k,
      sampleTarget = 1500L, iters = 5, seed = 42L)
    assert(c1.length == k && c1.forall(_.length == 64))
    // distinct seeds by construction — duplicate centroids are exactly
    // the degeneration the fixed 10k cap used to allow at large k
    assert(c1.map(_.toSeq).distinct.length == k, "duplicate centroids")
    // micro-quantized integer sums → the trained quantizer is
    // bit-identical under any partition layout (the replay contract)
    val c2 = Similarity.kmeansDistributedLloyd(synthEmb.repartition(7), k,
      sampleTarget = 1500L, iters = 5, seed = 42L)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "distributed trainer is layout-sensitive")
    // every planted exact copy drops onto its base at cos 1.0 when the
    // distributed-trained quantizer feeds semanticDedup (recall 1)
    val out = Similarity.semanticDedup(synthEmb, k, 0.99,
      precomputedCentroids = Some(c1)).collect()
    assert(out.length == (n / 100L).toInt,
      s"expected ${n / 100} planted drops, got ${out.length}")
    assert(out.forall(r => r.getAs[Long]("keeper_id") == r.getAs[Long]("vec_id") - 1L))
  }

  test("D4 PQ: exact duplicates share codes, codes are m bytes, wrong-dim rows quarantine as NULL codes") {
    val dup = spark.range(1).selectExpr("CAST(9000 AS BIGINT) AS vec_id")
      .crossJoin(emb.filter(col("vec_id") === 0L).select(col("embedding")))
    val short = Seq((9001L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(dup).unionByName(short)
    val books = Similarity.trainPqCodebooks(emb, 64)
    assert(books.length == 16 && books.forall(_.length == 64) &&
      books.forall(_.forall(_.length == 4)))
    val enc = Similarity.pqEncode(corpus, books).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]]("codes"))).toMap
    // 16x compression: a 64-float vector becomes 16 code bytes
    assert(enc(0L).get.length == 16)
    // an exact copy quantizes to the identical codes — ADC distance 0
    assert(enc(9000L).get.sameElements(enc(0L).get))
    assert(enc(9001L).isEmpty, "dim-mismatch row must carry NULL codes")
  }

  test("D4 PQ/ADC: sums the query LUTs exactly, recall floor vs exact L2, layout-determinism, codebook round-trip") {
    val res = Similarity.pqTopK(emb, 64, 20, 5).collect()
    // ranks contiguous, ascending distance, no self pairs
    assert(res.forall(r => r.getAs[Long]("nbr_id") != r.getAs[Long]("query_id")))
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length))
      assert(rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("adc_dist"))
        .sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
    // recall: the exact-L2 top-1 neighbor appears in PQ's top-5 for most
    // queries (the d16-LSH evidence bar; ADC is lossy by design)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
      d
    }
    val exactTop1 = (0L until 20L).map { q =>
      q -> vecs.iterator.filter(_._1 != q)
        .minBy { case (id, v) => (l2(vecs(q), v), id) }._1
    }.toMap
    val pqByQ = res.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val hits = exactTop1.count { case (q, n) => pqByQ.getOrElse(q, Set.empty).contains(n) }
    assert(hits >= exactTop1.size / 2, s"PQ recall too low: $hits/${exactTop1.size}")
    // distance APPROXIMATION quality — the contract that holds even
    // where neighbor order is noise-dominated (measured 0.11 mean /
    // 0.30 max at m=16, ksub=64; bars carry ~2x headroom)
    val errs = res.map { r =>
      val e = l2(vecs(r.getAs[Long]("query_id")), vecs(r.getAs[Long]("nbr_id")))
      math.abs(r.getAs[Double]("adc_dist") - e) / e
    }
    assert(errs.sum / errs.length < 0.25, s"mean ADC rel-err ${errs.sum / errs.length}")
    assert(errs.max < 0.5, s"max ADC rel-err ${errs.max}")
    // deterministic under any partition layout (driver LUTs, fixed
    // subspace summation order, salted rank with id tie-breaks)
    val again = Similarity.pqTopK(emb.repartition(13), 64, 20, 5).collect()
    assert(res.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // codebook persistence round-trips exactly
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString + "/books"
    val books = Similarity.trainPqCodebooks(emb, 64)
    Similarity.savePqCodebooks(spark, books, dir)
    val loaded = Similarity.loadPqCodebooks(spark, dir)
    assert(loaded.length == books.length)
    books.zip(loaded).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (c, d) => assert(c.sameElements(d)) }
    }
  }

  test("D4 IVF-PQ: every returned pair carries the same ADC distance as full-scan PQ; probing only narrows the candidate set") {
    val full = Similarity.pqTopK(emb, 64, 20, 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")) -> r.getAs[Double]("adc_dist")).toMap
    val ivfpq = Similarity.ivfPqTopK(emb, 64, 20, 5).collect()
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))
      full.get(key).foreach(d => assert(d == r.getAs[Double]("adc_dist"),
        s"ADC distance diverged between the full-scan and probed paths at $key"))
    }
    // recall against full-scan PQ's top-1 (the coarse probe's only loss)
    val top1 = full.toSeq.groupBy(_._1._1)
      .map { case (q, xs) => q -> xs.minBy(x => (x._2, x._1._2))._1._2 }
    val byQ = ivfpq.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val hits = top1.count { case (q, n) => byQ.getOrElse(q, Set.empty).contains(n) }
    assert(hits >= top1.size / 3, s"IVF-PQ recall too low vs PQ: $hits/${top1.size}")
  }

  test("assignCells: double-typed embeddings take the broadcast kernel exactly like the literal path (knee cannot crash)") {
    // the literal path CASTs any numeric array; the kernel must accept
    // the same corpus (Number read) or k=64 works and k=65 throws
    val dEmb = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val centroids = Similarity.trainIvfCentroids(dEmb, 8)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Int]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    val viaLiteral = cells(assignCellsLiteral(dEmb, centroids))
    val viaKernel = cells(Similarity.assignCells(dEmb, centroids))
    assert(viaLiteral == viaKernel)
    assert(viaKernel.nonEmpty && viaKernel.values.forall(_.nonEmpty))
  }

  private def l2d(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
    d
  }

  test("D4 IVF-PQ residual: codes quantize the cell residual — exact dup shares codes, retrieved, deterministic; real-corpus bars hold") {
    // planted exact duplicate of vector 0 → same cell, same residual,
    // identical codes (the residual analog of the raw-PQ dup pin)
    val dup = spark.range(1).selectExpr("CAST(9000 AS BIGINT) AS vec_id")
      .crossJoin(emb.filter(col("vec_id") === 0L).select(col("embedding")))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(dup)
    val coarse = Similarity.trainIvfCentroids(corpus, 16)
    val books = Similarity.trainPqCodebooks(corpus, 64, residualOf = Some(coarse))
    val enc = Similarity.pqEncode(
      Similarity.assignCells(corpus, coarse), books,
      carry = Seq("cell"), residualOf = Some(("cell", coarse))).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("codes")).toMap
    assert(enc(9000L).sameElements(enc(0L)), "dup must share residual codes")
    // and the dup is retrieved for query 0 (its ADC distance is pure
    // quantization error — the smallest plausible in the cell)
    val res = Similarity.ivfPqTopK(corpus, 64, 20, 5, byResidual = true).collect()
    val q0 = res.filter(_.getAs[Long]("query_id") == 0L).map(_.getAs[Long]("nbr_id"))
    assert(q0.contains(9000L), s"planted dup not retrieved: ${q0.toSeq}")
    // layout determinism: driver LUTs, fixed subspace order, salted rank
    val again = Similarity.ivfPqTopK(corpus.repartition(13), 64, 20, 5,
      byResidual = true).collect()
    assert(res.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // real-corpus bars at the declared d67 parameters (measured r19:
    // meanErr 0.104, maxErr 0.254, recall@5-of-exact-top1 9/20 vs the
    // raw path's 7/20 at nProbe=4 — iid-uniform fixtures are PQ's worst
    // case, so residual ≈ raw here; the clustered test below pins the
    // regime where residual coding actually buys accuracy)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val d67 = Similarity.ivfPqTopK(emb, 64, 20, 5, byResidual = true).collect()
    val errs = d67.map { r =>
      val e = l2d(vecs(r.getAs[Long]("query_id")), vecs(r.getAs[Long]("nbr_id")))
      math.abs(r.getAs[Double]("adc_dist") - e) / e
    }
    assert(errs.sum / errs.length < 0.25, s"mean ADC rel-err ${errs.sum / errs.length}")
    assert(errs.max < 0.5, s"max ADC rel-err ${errs.max}")
  }

  test("D4 IVF-PQ residual: on a clustered corpus residual coding tightens ADC error vs raw coding at the same byte budget") {
    // the regime residual coding exists for (Jégou et al. 2011 §IV):
    // vectors concentrate around cluster centers, so the residual has
    // far smaller variance than the raw vector and the same m·ksub
    // codebook budget quantizes it much finer. iid-uniform corpora (the
    // fixture) are the null case — this corpus plants real clusters.
    val rng = new scala.util.Random(7L)
    val bases = Array.fill(16)(Array.fill(64)(rng.nextGaussian() * 10.0))
    val rows = (0 until 2000).map { i =>
      val b = bases(i % 16)
      (i.toLong, b.map(v => (v + rng.nextGaussian() * 0.5).toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def meanErr(byRes: Boolean): Double = {
      val out = Similarity.ivfPqTopK(clustered, 64, 20, 5,
        nProbe = 16, byResidual = byRes).collect()
      val errs = out.map { r =>
        val e = l2d(vecs(r.getAs[Long]("query_id")), vecs(r.getAs[Long]("nbr_id")))
        math.abs(r.getAs[Double]("adc_dist") - e) / e
      }
      errs.sum / errs.length
    }
    val raw = meanErr(byRes = false)
    val res = meanErr(byRes = true)
    info(f"clustered-corpus mean ADC rel-err: raw=$raw%.4f residual=$res%.4f")
    assert(res < raw * 0.5,
      f"residual coding should at least halve ADC error on clustered data: raw=$raw%.4f residual=$res%.4f")
  }

  test("D4 PQ/IVF-PQ: precomputed codes path is bit-identical to self-encode, and codes round-trip through parquet") {
    val books = Similarity.trainPqCodebooks(emb, 64)
    val codes = Similarity.pqEncode(Similarity.indexable(emb), books)
    val dir = java.nio.file.Files.createTempDirectory("pq_codes").toString + "/codes"
    Similarity.savePqCodes(codes, dir)
    val loaded = Similarity.loadPqCodes(spark, dir)
    val self = Similarity.pqTopK(emb, 64, 20, 5).collect()
    val pre = Similarity.pqTopK(emb, 64, 20, 5,
      precomputedCodebooks = Some(books), precomputedCodes = Some(loaded)).collect()
    assert(self.map(_.toString).toSeq == pre.map(_.toString).toSeq,
      "persisted-codes query path diverged from self-encode")
    // IVF-PQ: cell-carrying codes relation, same contract
    val coarse = Similarity.trainIvfCentroids(emb, 16)
    val cellCodes = Similarity.pqEncode(
      Similarity.assignCells(Similarity.indexable(emb), coarse),
      books, carry = Seq("cell"))
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_codes").toString + "/codes"
    Similarity.savePqCodes(cellCodes, dir2)
    val selfIvf = Similarity.ivfPqTopK(emb, 64, 20, 5).collect()
    val preIvf = Similarity.ivfPqTopK(emb, 64, 20, 5,
      precomputedCentroids = Some(coarse), precomputedCodebooks = Some(books),
      precomputedCodes = Some(Similarity.loadPqCodes(spark, dir2))).collect()
    assert(selfIvf.map(_.toString).toSeq == preIvf.map(_.toString).toSeq,
      "persisted-codes IVF-PQ path diverged from self-encode")
  }

  test("D4 PQ/SDC: symmetric distance queries straight from codes — planted dup at distance 0, recall floor, ADC dominates, layout-deterministic") {
    // SDC (Jégou et al. 2011 §III.B): the query is its CODES — no raw
    // vector at query time. An exact copy shares codes, so its SDC
    // distance is exactly 0 (every subspace looks up the diagonal).
    val planted = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") === 3L)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")))
    val out = Similarity.pqTopKSDC(planted, 64, 20, 5).collect()
    val q3 = out.filter(_.getAs[Long]("query_id") == 3L)
    assert(q3.head.getAs[Long]("nbr_id") == 9003L &&
      q3.head.getAs[Double]("sdc_dist") == 0.0,
      s"planted exact copy must rank first at SDC distance 0: ${q3.toSeq}")
    // recall floor vs exact L2 at the declared parameters — and the
    // published ordering: ADC (exact query side) >= SDC (quantized query
    // side) on the uniform corpus. r20 measured: sdc 0.33, adc 0.52.
    val k = 5
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val exactL2 = (0L until 20L).map { q =>
      q -> vecs.iterator.filter(_._1 != q).toSeq
        .sortBy { case (id, v) => (l2d(vecs(q), v), id) }.take(k).map(_._1).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
      exactL2.toSeq.map { case (q, t) => (t & byQ.getOrElse(q, Set.empty)).size }
        .sum.toDouble / exactL2.values.map(_.size).sum
    }
    val sdc = recall(Similarity.pqTopKSDC(emb, 64, 20, k).collect())
    val adc = recall(Similarity.pqTopK(emb, 64, 20, k).collect())
    info(f"recall@$k: sdc $sdc%.3f vs adc $adc%.3f")
    assert(sdc >= 0.30, f"SDC recall regressed: $sdc%.3f")
    assert(adc >= sdc - 0.05,
      f"ADC should dominate SDC (exact vs quantized query side): adc $adc%.3f sdc $sdc%.3f")
    // driver LUTs + fixed subspace order + salted rank → layout-invariant
    val again = Similarity.pqTopKSDC(emb.repartition(13), 64, 20, 5).collect()
    val base = Similarity.pqTopKSDC(emb, 64, 20, 5).collect()
    assert(base.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("D4 PQ: codes relation is resolved by name and validated — cell-carrying artifacts work, wrong shapes and wrong-m codes fail loudly") {
    // r19 advice: pqTopK read codes positionally, so passing the
    // cell-carrying savePqCodes artifact (the IVF build's shape) as
    // precomputedCodes ClassCastException'd. Now: by-name projection —
    // the cell-carrying artifact is simply accepted…
    val books = Similarity.trainPqCodebooks(emb, 64)
    val coarse = Similarity.trainIvfCentroids(emb, 16)
    val cellCodes = Similarity.pqEncode(
      Similarity.assignCells(Similarity.indexable(emb), coarse),
      books, carry = Seq("cell"))
    val self = Similarity.pqTopK(emb, 64, 20, 5).collect()
    val viaCell = Similarity.pqTopK(emb, 64, 20, 5,
      precomputedCodebooks = Some(books),
      precomputedCodes = Some(cellCodes)).collect()
    assert(self.map(_.toString).toSeq == viaCell.map(_.toString).toSeq,
      "cell-carrying codes artifact must score identically to plain codes")
    // …a relation without the codes column fails loudly at plan time…
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, 64, 20, 5, precomputedCodebooks = Some(books),
        precomputedCodes = Some(emb))
    }
    assert(e1.getMessage.contains("no 'codes' column"), e1.getMessage)
    // …a codes column of the wrong type fails loudly too…
    import org.apache.spark.sql.functions.{col => c}
    val wrongType = cellCodes.withColumn("codes", c("vec_id"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, 64, 20, 5, precomputedCodebooks = Some(books),
        precomputedCodes = Some(wrongType))
    }
    assert(e2.getMessage.contains("must be BINARY"), e2.getMessage)
    // …and codes encoded with DIFFERENT-m codebooks fail in the kernel
    // with the artifact-mismatch message, not an AIOOBE/prefix-sum
    val narrowBooks = Similarity.trainPqCodebooks(emb, 64, m = 8, ksub = 16)
    val narrowCodes = Similarity.pqEncode(Similarity.indexable(emb), narrowBooks)
    val e3 = intercept[Exception] {
      Similarity.pqTopK(emb, 64, 20, 5, precomputedCodebooks = Some(books),
        precomputedCodes = Some(narrowCodes)).collect()
    }
    assert(e3.toString.contains("different codebooks") ||
      Option(e3.getCause).exists(_.toString.contains("different codebooks")) ||
      e3.getMessage.contains("different codebooks"), e3.toString)
  }

  test("D4 PQ: mismatched persisted codebooks fail loudly instead of silently quarantining the corpus") {
    val books = Similarity.trainPqCodebooks(emb, 64)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, 32, 20, 5, precomputedCodebooks = Some(books))
    }
    assert(e1.getMessage.contains("do not tile"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, 128, 20, 5, precomputedCodebooks = Some(books))
    }
    assert(e2.getMessage.contains("do not tile"), e2.getMessage)
  }

  test("quantizer training quarantines non-finite vectors instead of letting them drag centroid sums") {
    // a NaN element contributes round(NaN·2^24) = 0 to every sum while
    // still counting the row — silently biasing centroid 0 toward the
    // origin; an Inf element saturates round(Inf·2^24) at Long.MaxValue
    // (overflowing the cell sum) and drags a driver-trained centroid to
    // Inf/NaN; trainable() must exclude such rows from BOTH trainer paths
    val poison = Seq((9100L, Seq.fill(64)(Float.NaN).toSeq),
      (9101L, (Seq.fill(32)(1.0f) ++ Seq(Float.NaN) ++ Seq.fill(31)(1.0f)).toSeq),
      (9102L, (Seq.fill(16)(0.5f) ++ Seq(Float.PositiveInfinity) ++ Seq.fill(47)(0.5f)).toSeq))
      .toDF("vec_id", "embedding")
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(poison)
    val clean = Similarity.trainIvfCentroids(emb, 8)
    val poisoned = Similarity.trainIvfCentroids(corpus, 8)
    assert(clean.zip(poisoned).forall { case (a, b) => a.sameElements(b) },
      "non-finite vectors leaked into driver-path quantizer training")
    val cleanD = Similarity.kmeansDistributedLloyd(emb, 8, 500L, 3, 42L)
    val poisonedD = Similarity.kmeansDistributedLloyd(corpus, 8, 500L, 3, 42L)
    assert(cleanD.zip(poisonedD).forall { case (a, b) => a.sameElements(b) },
      "non-finite vectors leaked into distributed quantizer training")
    assert(cleanD.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
  }

  test("cross-family ANN recall audit: every approximate path holds its floor against the one exact relation (declared parameters)") {
    // ONE standing pin across d16/d22/d65/d66/d67: recall@5 of each
    // approximate family against the exact relation under that family's
    // metric (cosine for LSH/IVF — d14's relation; L2 for the PQ/ADC
    // family). A parameter or kernel regression in any path fails here
    // by name. Floors sit one hit under the r19 measured values
    // (deterministic corpus + seeds → exact reproducibility; the slack
    // only absorbs a deliberate parameter retune, not a regression).
    val k = 5
    val exactCos = Similarity.bruteForceTopK(emb, 20, k).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val exactL2 = (0L until 20L).map { q =>
      q -> vecs.iterator.filter(_._1 != q).toSeq
        .sortBy { case (id, v) => (l2d(vecs(q), v), id) }.take(k).map(_._1).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row],
               truth: Map[Long, Set[Long]]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
      val hits = truth.toSeq.map { case (q, t) =>
        (t & byQ.getOrElse(q, Set.empty)).size }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val audit = Seq(
      // r19 measured: lsh 0.92, ivf 0.68, pq 0.52, ivfpq 0.46, residual 0.46
      ("d16_lsh", recall(Similarity.lshTopK(emb, 64, 20, k).collect(), exactCos), 0.90),
      ("d22_ivf", recall(Similarity.ivfTopK(emb, 20, k).collect(), exactCos), 0.60),
      ("d65_pq", recall(Similarity.pqTopK(emb, 64, 20, k).collect(), exactL2), 0.45),
      ("d66_ivfpq", recall(Similarity.ivfPqTopK(emb, 64, 20, k).collect(), exactL2), 0.40),
      ("d67_ivfpq_residual", recall(
        Similarity.ivfPqTopK(emb, 64, 20, k, byResidual = true).collect(), exactL2), 0.40))
    audit.foreach { case (name, r, floor) =>
      info(f"$name%-20s recall@$k = $r%.3f (floor $floor%.2f)")
      assert(r >= floor, f"$name recall@$k regressed: $r%.3f < floor $floor%.2f")
    }
  }

  test("cross-family ANN recall audit, clustered arm: residual coding is what makes PQ work where neighbors share a cluster") {
    // r19 verdict #3 asked for a clustered arm expecting floors ≥ 2x the
    // uniform ones. MEASURED (r20): the expectation is WRONG for raw PQ —
    // on a clustered corpus a query's true top-5 are same-cluster mates,
    // and raw 16-byte codes quantize every cluster member to nearly the
    // same codewords, so within-cluster ranking degenerates toward chance
    // (recall 0.22 ≈ 5/125-mates noise floor; uniform fixture scored
    // 0.52 because there the NN structure is spread across code space).
    // Residual coding restores exactly this case — codes quantize
    // (x − center), whose variance is the WITHIN-cluster geometry —
    // scoring 0.55 = 2.5x both raw paths, the Jégou et al. §IV claim as
    // a recall pin (complementing the d67 ADC-error pin above). Floors
    // one hit under measured; the ORDERING residual ≥ 2x raw is the
    // regression signal that matters.
    val rng = new scala.util.Random(7L)
    val bases = Array.fill(16)(Array.fill(64)(rng.nextGaussian() * 10.0))
    val rows = (0 until 2000).map { i =>
      val b = bases(i % 16)
      (i.toLong, b.map(v => (v + rng.nextGaussian() * 0.5).toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val k = 5
    val exactL2 = (0L until 20L).map { q =>
      q -> vecs.iterator.filter(_._1 != q).toSeq
        .sortBy { case (id, v) => (l2d(vecs(q), v), id) }.take(k).map(_._1).toSet
    }.toMap
    def recall(rows2: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows2.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nbr_id")).toSet }
      val hits = exactL2.toSeq.map { case (q, t) =>
        (t & byQ.getOrElse(q, Set.empty)).size }.sum
      hits.toDouble / exactL2.values.map(_.size).sum
    }
    // r20 measured (nProbe=16 — probing every cell isolates CODE quality
    // from probe loss; the probe-loss arm is the uniform audit's job):
    // pq 0.22, ivfpq 0.22, residual 0.55. Floors one hit (0.01) under.
    val audit = Seq(
      ("d65_pq_clustered", recall(
        Similarity.pqTopK(clustered, 64, 20, k).collect()), 0.21),
      ("d66_ivfpq_clustered", recall(
        Similarity.ivfPqTopK(clustered, 64, 20, k, nProbe = 16).collect()), 0.21),
      ("d67_residual_clustered", recall(
        Similarity.ivfPqTopK(clustered, 64, 20, k, nProbe = 16,
          byResidual = true).collect()), 0.54))
    audit.foreach { case (name, r, floor) =>
      info(f"$name%-24s recall@$k = $r%.3f (floor $floor%.2f)")
      assert(r >= floor, f"$name recall@$k regressed: $r%.3f < floor $floor%.2f")
    }
    // the load-bearing ordering: residual coding at least DOUBLES raw-PQ
    // recall on clustered data at the same byte budget
    val byName = audit.map(a => a._1 -> a._2).toMap
    assert(byName("d67_residual_clustered") >= 2.0 * byName("d65_pq_clustered"),
      s"residual no longer dominates raw PQ on clustered data: $byName")
  }
}
