package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus

/** End-to-end corpus pipeline (d43): planted-fixture semantics for each
  * stage boundary plus the no-rescan plan shape. The DuckDB oracle
  * (selfcheck) is the independent full-chain correctness check. */
class CorpusSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  test("planted: near-dups collapse to min-id winner, quality junk dropped, rest packed") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"tok$i").mkString(" ")
    val tailA = (0 until 8).map(i => s"aye$i").mkString(" ")
    val tailB = (0 until 8).map(i => s"bee$i").mkString(" ")
    val uniq = (0 until 20).map(i => s"solo$i").mkString(" ")
    val docs = Seq(
      (10L, s"$shared $tailA", "en", "srcX", 1L), // near-dup pair: one
      (11L, s"$shared $tailB", "en", "srcX", 1L), //   shared 12-shingle
      (12L, uniq, "en", "srcX", 1L),              // unrelated, kept
      (13L, "too short", "en", "srcX", 1L))       // fails quality (<10 tokens)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Corpus.trainingSequences(docs, Map.empty)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[String]("chunk_ids"),
        r.getAs[Long]("total_tokens")))
    // winner 10 (20 tokens) + doc 12 (20 tokens) pack into one sequence;
    // 11 lost to dedup, 13 to quality
    assert(res.toSeq == Seq((0L, "10:0,12:0", 40L)))
  }

  test("bloomPrune conf: a typo'd mode fails loudly instead of silently re-entering auto") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("doc_id", "sh")
    spark.conf.set("spark.graft.bloomPrune", "On")
    try {
      val e = intercept[IllegalArgumentException](
        graft.plans.BloomPrune.pruned(df, df, "sh"))
      assert(e.getMessage.contains("on|off|auto"))
    } finally spark.conf.unset("spark.graft.bloomPrune")
  }

  test("df cap: a boilerplate shingle shared corpus-wide creates no edges") {
    import spark.implicits._
    val boiler = (0 until 12).map(i => s"b$i").mkString(" ")
    // 25 docs all share one shingle; df = 25 > maxDf = 20 → no edges, all kept
    val docs = (0L until 25L).map(i =>
      (i, s"$boiler unique${i}a unique${i}b unique${i}c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Corpus.trainingSequences(docs, Map.empty)
    val refs = res.collect().flatMap(_.getAs[String]("chunk_ids").split(","))
    assert(refs.map(_.split(":")(0).toLong).distinct.sorted.toSeq == (0L until 25L))
  }

  test("minShared: one shared rare shingle edges at 1 (default) but not at 2; two shared shingles edge at 2") {
    import spark.implicits._
    // docs 1,2 share exactly ONE 12-token shingle (a quoted sentence);
    // docs 3,4 share a 13-token run → exactly TWO 12-token shingles
    val quote = (0 until 12).map(i => s"q$i").mkString(" ")
    val run13 = (0 until 13).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$quote ${(0 until 15).map(i => s"aye$i").mkString(" ")}"),
      (2L, s"$quote ${(0 until 15).map(i => s"bee$i").mkString(" ")}"),
      (3L, s"$run13 ${(0 until 15).map(i => s"cee$i").mkString(" ")}"),
      (4L, s"$run13 ${(0 until 15).map(i => s"dee$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    def edges(minShared: Int): Set[(Long, Long)] =
      Corpus.exactShingleEdges(docs, 12, 20, minShared).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(1) == Set((1L, 2L), (3L, 4L)))
    // the precision knob: a single shared quote is no longer evidence
    assert(edges(2) == Set((3L, 4L)))
  }

  test("hot-shingle skew: boilerplate in 50% of docs yields zero edges; df cap is a pre-exchange partial capped collect") {
    import spark.implicits._
    // every even doc opens with the SAME 12-token boilerplate (df = 30 >
    // maxDf = 20 — the exact scenario the cap exists for); all other text
    // carries a per-doc two-letter signature inside every 8-char window,
    // so no cross-doc content survives except the capped boilerplate
    val boiler = (0 until 12).map(i => s"b$i").mkString(" ")
    val docs = (0L until 60L).map { i =>
      val sig = s"${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
      val uniq = (0 until 14).map(j => s"${sig}z$j").mkString(" ")
      (i, if (i % 2 == 0) s"$boiler $uniq" else uniq)
    }.toDF("doc_id", "text")
    // exact path: the boilerplate shingle is dropped by the df cap
    assert(Corpus.exactShingleEdges(docs, 12, 20, 1).collect().isEmpty)
    // winnowed path (the 100 TB pipeline's evidence): same cap, same result
    assert(operators.Dedup.winnowNearDups(docs, minShared = 2, maxDf = 20)
      .collect().isEmpty)
    // the skew guard: the cap cuts each map partition's run of the hot
    // shingle to maxDf + 1 rows BELOW the sh exchange, so the hot key
    // ships at most (maxDf + 1) × map partitions rows, never its whole row
    // set (a content-keyed window would buffer that set in one task). One
    // map partition holds all 30 boilerplate rows here, so the cap engages.
    val evidence = Corpus.shingleEvidence(docs.coalesce(1), 12)
    val runs = operators.Dedup.sortedRuns(evidence, maxDf = 20)
    val plan = runs.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"), plan)
    val ex = plan.indexOf("Exchange hashpartitioning(sh")
    assert(ex >= 0 && plan.indexOf("Scan ExistingRDD", ex) > ex,
      s"the capped map side is not the input of the sh exchange:\n$plan")
    val hot = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(evidence.filter(col("sh") === hot).count() == 30L)
    val mapPartitions = evidence.rdd.getNumPartitions
    val shipped = runs.filter(col("sh") === hot).count()
    assert(shipped <= 21L * mapPartitions && shipped < 30L,
      s"hot shingle shipped $shipped rows from $mapPartitions map partitions")
  }

  test("decontaminate: planted benchmark overlap flagged with exact hit count, clean docs absent") {
    import spark.implicits._
    val leak = (0 until 9).map(i => s"q$i").mkString(" ") // 9 tokens → two 8-shingles
    val bench = Seq((100L, s"$leak padA padB padC")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"intro words here $leak trailing stuff"), // contains both leaked 8-shingles
      (2L, (0 until 20).map(i => s"c$i").mkString(" ")))   // clean
      .toDF("doc_id", "text")
    val res = Corpus.decontaminate(train, bench, shingleK = 8).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_shingles")).toMap
    assert(res == Map(1L -> 2L))
  }

  test("winnowed decontamination agrees with exact d44 on planted leaks") {
    import spark.implicits._
    // a verbatim 12-token benchmark passage (~121 chars) planted
    // mid-document: exact shingle overlap (k=8 tokens) and winnowed
    // char-fingerprint overlap (k=40, w=4 → any shared run of ≥ 43 chars
    // collides) must both flag doc 1 and only doc 1 — the CONTAMINATED
    // verdict is the agreement surface; hit magnitudes differ by design
    // (shingles vs fingerprints)
    val leak = (0 until 12).map(i => s"leakword$i").mkString(" ")
    val bench = Seq((100L, s"$leak benchpad0 benchpad1")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"opening words go here $leak closing words"),
      (2L, (0 until 20).map(i => s"cw$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = Corpus.decontaminate(train, bench, shingleK = 8).collect()
      .map(_.getLong(0)).toSet
    val winnowed = Corpus.decontaminateWinnowed(train, bench).collect()
      .map(_.getLong(0)).toSet
    assert(exact == Set(1L))
    assert(winnowed == exact)
    // the winnowed hit count reflects the shared run's fingerprint mass
    val hits = Corpus.decontaminateWinnowed(train, bench).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_fps")).toMap
    assert(hits(1L) >= 1L)
  }

  test("winnowed decontamination precision: clean docs sharing common short substrings stay clean") {
    import spark.implicits._
    // the ADVICE-flagged failure mode: at char k=8 ANY shared 11-char run
    // (a common word pair like "the model is") flags a doc, so natural
    // text degenerates to 100% contaminated. The k=40 default requires a
    // 43-char verbatim run — these docs share several common short
    // phrases with the benchmark but no long passage, and must stay clean
    val bench = Seq(
      (100L, "What is the capital of France? The model should answer Paris here."))
      .toDF("doc_id", "text")
    val train = Seq(
      // shares "the capital of" and "the model" — short common phrases
      (1L, "Berlin is the capital of Germany and the model knows geography facts."),
      // shares "should answer" and "What is" — still no 43-char run
      (2L, "What is two plus two? A calculator should answer four every time."),
      // a verbatim 60-char leak of the benchmark passage → CONTAMINATED
      (3L, "Prefix words then What is the capital of France? The model should answer Paris and suffix."))
      .toDF("doc_id", "text")
    val flagged = Corpus.decontaminateWinnowed(train, bench).collect()
      .map(_.getLong(0)).toSet
    assert(flagged == Set(3L), s"expected only the planted 60-char leak, got $flagged")
  }

  test("winnowed decontamination: train-side stop-fingerprint cap drops corpus boilerplate") {
    import spark.implicits._
    // a 50-char boilerplate header present in EVERY train doc and also in
    // the benchmark (license banner shape): with maxDf below the corpus
    // size its fingerprints are stop-fps — no doc is flagged on the
    // header alone; a doc with a genuine unique leak is still flagged
    val header = "Standard corpus license header all documents carry verbatim."
    val leak = "A unique benchmark passage leaked into exactly one training doc."
    val bench = Seq((100L, s"$header $leak")).toDF("doc_id", "text")
    val train = (1L to 10L).map { i =>
      val body = (0 until 8).map(j => s"body$i-$j").mkString(" ")
      val txt = if (i == 7L) s"$header $leak $body" else s"$header $body"
      (i, txt)
    }.toDF("doc_id", "text")
    val flagged = Corpus.decontaminateWinnowed(train, bench, maxDf = 5).collect()
      .map(_.getLong(0)).toSet
    assert(flagged == Set(7L), s"expected only the genuine leak doc, got $flagged")
  }

  test("winnowed scale path agrees with the exact-shingle pipeline on planted strong dups") {
    import spark.implicits._
    val shared = (0 until 30).map(i => s"common$i").mkString(" ") // long shared run
    val tailA = (0 until 8).map(i => s"aye$i").mkString(" ")
    val tailB = (0 until 8).map(i => s"bee$i").mkString(" ")
    val uniq = (0 until 20).map(i => s"solo$i").mkString(" ")
    val docs = Seq(
      (10L, s"$shared $tailA", "en", "srcX", 1L),
      (11L, s"$shared $tailB", "en", "srcX", 1L),
      (12L, uniq, "en", "srcX", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def winners(res: Array[org.apache.spark.sql.Row]): Set[Long] =
      res.flatMap(_.getAs[String]("chunk_ids").split(","))
        .map(_.split(":")(0).toLong).toSet
    val exact = winners(Corpus.trainingSequences(docs, Map.empty).collect())
    val winnowed = winners(
      Corpus.trainingSequencesWinnowed(docs, Map.empty).collect())
    assert(exact == Set(10L, 12L))
    assert(winnowed == exact)
  }

  test("d49 agrees with the oracle-checked d44 on the real sf0.001 train/bench split") {
    // the declared queries at the declared pmod-97 split, on real testdata
    // (not a synthetic fixture). The declared d49 runs at k=20 CHARS —
    // matched granularity to d44's k=4-token shingle (~5 chars/token) —
    // so the two detectors answer the same question with different
    // evidence (char runs of w+k−1 = 23 chars vs exact 4-token shingles)
    // and agreement means:
    //  (a) every doc d44 flags with MASSED evidence (≥ 5 shared shingles —
    //      a verbatim leaked passage) is also flagged by d49: a ≥ 5-shingle
    //      overlap spans ≥ 8 contiguous tokens, well past 23 chars, so the
    //      winnowing guarantee applies;
    //  (b) d49 recalls ≥ 80 % of ALL d44-flagged docs (empirically 8/8
    //      here, 7/8 at sf0.01, 645/727 at sf0.1 — a shared 4-token
    //      shingle USUALLY contains a 23-char run but short tokens can
    //      leave it just under);
    //  (c) neither answer set is empty or degenerate (d49 flags a small
    //      fraction of the TRAIN split — the verdict names training docs
    //      carrying benchmark evidence — not "everything is contaminated").
    // d49-only docs are legitimate: a shared 23-char run need not align
    // to token boundaries, so no strict subset holds in either direction.
    val d44 = SparkEntry.queries("d44_decontaminate")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_shingles")).toMap
    val d49 = SparkEntry.queries("d49_decontaminate_winnowed")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(d49.nonEmpty, "agreement is vacuous if the winnowed form flags nothing")
    val strong = d44.filter(_._2 >= 5).keySet
    assert(strong.nonEmpty && strong.subsetOf(d49),
      s"d44 strong-evidence docs missing from d49: ${strong -- d49}")
    val recalled = d44.keySet & d49
    assert(recalled.size >= math.ceil(d44.size * 0.8).toInt,
      s"d49 recalled only ${recalled.size}/${d44.size} of d44's verdicts")
    val trainDocs = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(97L)) =!= 0L).count()
    assert(d49.size < trainDocs / 4,
      s"d49 flagged ${d49.size} of $trainDocs train docs — the verdict degenerated")
  }

  test("d47 is non-degenerate on the real corpus and its winner set agrees with d43") {
    // the r15 verdict's item 1: at char k=8 the declared d47 packed ONE
    // sequence at every SF (every shared word pair was near-dup evidence,
    // so dedup collapsed ~450 survivors to a handful of winners) and the
    // bench's most expensive query exercised an answer set of one row.
    // The declared d47 now runs at Corpus.matchedWinnowCharK(12) = 60
    // chars — matched granularity to d43's 12-token shingles — where the
    // probe measured the winnowed winner set BIT-IDENTICAL to the exact
    // pipeline's (446/446 winners at sf0.001, 448/448 at sf0.01) and the
    // run ~3× faster. Asserted as a band, not equality, so a testdata
    // regeneration with slightly different token lengths fails on real
    // degeneracy rather than cosmetic drift:
    //  (a) packed-row count within 3× of d43's (non-degeneracy — the
    //      old defect was 1 row vs 61);
    //  (b) winner-set Jaccard >= 0.95 vs d43 (agreement band; measured
    //      1.0 — winnowing at matched granularity keeps the same
    //      detection guarantee on runs of w+k-1 = 63 chars ≈ d43's
    //      12-token shingle span).
    def winners(rows: Array[org.apache.spark.sql.Row]): Set[Long] =
      rows.flatMap(_.getAs[String]("chunk_ids").split(","))
        .map(_.split(":")(0).toLong).toSet
    val exact = SparkEntry.queries("d43_training_sequences")(spark, sfDir).collect()
    val winnowed =
      SparkEntry.queries("d47_training_sequences_winnowed")(spark, sfDir).collect()
    assert(winnowed.length >= exact.length / 3 &&
      winnowed.length <= exact.length * 3,
      s"d47 packed ${winnowed.length} sequences vs d43's ${exact.length} — degenerate")
    val (we, ww) = (winners(exact), winners(winnowed))
    val jaccard = (we & ww).size.toDouble / (we | ww).size
    assert(jaccard >= 0.95,
      s"d47/d43 winner-set Jaccard $jaccard (|exact|=${we.size}, " +
        s"|winnowed|=${ww.size}, overlap=${(we & ww).size})")
  }

  test("auto stage strategy: a dup-dense corpus selects disk by itself; " +
      "a sparse one stays local; explicit settings are honored") {
    import spark.implicits._
    // 100 clone-groups of 10 near-identical docs (the amp10x shape at
    // fixture scale): every group contributes C(10,2)=45 candidate edges,
    // so the true density is ~4.5 edges/doc — far past the 1.0 knee. The
    // 1-in-10 xxhash64 sample keeps ~100 of the 1000 docs; surviving
    // within-group pairs de-bias back over the knee (deterministic for
    // this fixed id set — the sample is a pure function of doc_id).
    val dense = (0L until 1000L).map { i =>
      val g = i / 10
      val toks = (0 until 15).map(j => s"grp$g-tok$j").mkString(" ")
      (i, s"$toks tail$i", "en", "srcX", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val sparse = (0L until 1000L).map { i =>
      (i, (0 until 15).map(j => s"doc$i-tok$j").mkString(" "), "en", "srcX", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def diskStages = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel ==
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def runAndCollectDisk(docs: org.apache.spark.sql.DataFrame): Int = {
      Materialize.releaseStages(spark)
      val before = diskStages.size
      Corpus.trainingSequences(docs, Map.empty).count()
      val n = diskStages.size - before
      Materialize.releaseStages(spark)
      n
    }
    spark.conf.set("spark.graft.stageStorage", "auto")
    try {
      assert(runAndCollectDisk(dense) > 0,
        "dense corpus under auto did not select the disk strategy")
      assert(runAndCollectDisk(sparse) == 0,
        "sparse corpus under auto must stay on the local default")
      // explicit local wins over the density evidence — the operator's
      // choice is never second-guessed
      spark.conf.set("spark.graft.stageStorage", "local")
      assert(runAndCollectDisk(dense) == 0,
        "explicit stageStorage=local was overridden by the auto probe")
      // output parity: the auto-selected disk run computes the same answer
      spark.conf.set("spark.graft.stageStorage", "auto")
      val auto = Corpus.trainingSequences(dense, Map.empty)
        .collect().map(_.toString).sorted.toSeq
      Materialize.releaseStages(spark)
      spark.conf.set("spark.graft.stageStorage", "local")
      val local = Corpus.trainingSequences(dense, Map.empty)
        .collect().map(_.toString).sorted.toSeq
      assert(auto == local)
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      Materialize.releaseStages(spark)
    }
  }

  test("stageStorage=disk: persist(DISK_ONLY) strategy produces identical output with lineage kept") {
    import spark.implicits._
    val shared = (0 until 30).map(i => s"pers$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared tail one extra words here", "en", "srcX", 1L),
      (2L, s"$shared tail two other words here", "en", "srcX", 1L),
      (3L, (0 until 20).map(i => s"solo$i").mkString(" "), "en", "srcX", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = Corpus.trainingSequences(docs, Map.empty).collect().map(_.toString).sorted
    spark.conf.set("spark.graft.stageStorage", "disk")
    try {
      def diskStages = spark.sparkContext.getPersistentRDDs.values
        .filter(_.getStorageLevel ==
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val out = Corpus.trainingSequences(docs, Map.empty)
      // eager persist: blocks exist before any consumer action, so
      // concurrent first consumers cannot race to compute the stage
      assert(diskStages.nonEmpty)
      assert(out.collect().map(_.toString).sorted.toSeq == base.toSeq)
      // lineage KEPT under persist: the plan still reaches the in-memory
      // relation (localCheckpoint would show a truncated ExistingRDD scan)
      assert(out.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
      // the unpersist contract: releaseStages drops exactly the DISK_ONLY
      // stage blocks this module persisted (localCheckpoint blocks from
      // the default-strategy run are not its business)
      Materialize.releaseStages(spark)
      assert(diskStages.isEmpty)
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("stageStorage=reliable: checkpoint() strategy writes the stages to the " +
      "reliable checkpoint dir and produces identical output") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val shared = (0 until 30).map(i => s"reli$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared tail one extra words here", "en", "srcX", 1L),
      (2L, s"$shared tail two other words here", "en", "srcX", 1L),
      (3L, (0 until 20).map(i => s"solo$i").mkString(" "), "en", "srcX", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = Corpus.trainingSequences(docs, Map.empty).collect().map(_.toString).sorted
    // the fixture context set a checkpoint dir (SparkFixture), which is the
    // strategy's precondition; resolve it to a listable local path
    val ckptStr = spark.sparkContext.getCheckpointDir.get
    val ckptPath =
      if (ckptStr.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(ckptStr))
      else java.nio.file.Paths.get(ckptStr)
    def rddDirs = {
      val s = java.nio.file.Files.list(ckptPath) // must close: holds an fd
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("rdd-")).toSet
      finally s.close()
    }
    val beforeDirs = rddDirs
    // under reliable, every stage AND every component-loop round goes to
    // the checkpoint dir (the transient DISK_ONLY handle that feeds each
    // checkpoint write is unpersisted before Materialize.stage returns), so
    // the discriminator for "stages went to the reliable store" is that no
    // DISK_ONLY handle remains — a remaining one is the disk strategy's
    // signature
    def diskStages = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel == org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val beforeDisk = diskStages.size
    spark.conf.set("spark.graft.stageStorage", "reliable")
    try {
      val out = Corpus.trainingSequences(docs, Map.empty)
      // the stages went to the RELIABLE store, not the block manager: new
      // rdd-N checkpoint dirs exist (what survives executor-host loss) and
      // no DISK_ONLY stage handles were created by this run
      assert((rddDirs -- beforeDirs).nonEmpty,
        "reliable strategy wrote nothing to the checkpoint dir")
      assert(diskStages.size == beforeDisk)
      assert(out.collect().map(_.toString).sorted.toSeq == base.toSeq)
      // lineage TRUNCATED (unlike the disk strategy): the executed plan
      // reads the checkpointed relation, not the original file scan
      assert(out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
    }
  }

  test("stageStorage=reliable computes the stage ONCE (transient persist " +
      "feeds the checkpoint-write job) and drops its handle") {
    import spark.implicits._
    // an unpersisted reliable checkpoint runs TWO jobs over the stage:
    // the eager count, then RDD.doCheckpoint's file-write job recomputing
    // every partition from lineage — the accumulator would read 2× rows
    val acc = spark.sparkContext.longAccumulator("stageComputeCount")
    val df = spark.range(100).map { i => acc.add(1); i }.toDF("v")
    def diskHandles = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel == org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val before = diskHandles
    spark.conf.set("spark.graft.stageStorage", "reliable")
    try {
      val out = Materialize.stage(df)
      assert(acc.value == 100L,
        s"stage computed ${acc.value} row-evaluations for 100 rows — the " +
          "checkpoint write recomputed the stage instead of reading the blocks")
      assert(out.count() == 100L)
      assert(acc.value == 100L) // downstream reads checkpoint files, no recompute
      assert(diskHandles == before, "transient DISK_ONLY handle leaked")
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
    }
  }

  test("stageStorage=reliable without a checkpoint dir fails with the named " +
      "error before any job runs") {
    import spark.implicits._
    // SparkContext has no public way to UNSET a checkpoint dir and the
    // shared fixture sets one, so clear the private field for the duration
    // (restored in finally; suites run sequentially in the forked JVM, the
    // same assumption every conf-mutating test here relies on). If Spark
    // renames the field this fails loudly as NoSuchFieldException.
    val sc = spark.sparkContext
    val f = classOf[org.apache.spark.SparkContext].getDeclaredField("checkpointDir")
    f.setAccessible(true)
    val saved = f.get(sc)
    f.set(sc, None)
    spark.conf.set("spark.graft.stageStorage", "reliable")
    try {
      val docs = Seq((1L, "tiny doc words here", "en", "srcX", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val e = intercept[IllegalStateException](
        Corpus.trainingSequences(docs, Map.empty))
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      f.set(sc, saved)
    }
  }

  test("beyond-broadcast decontamination: runtime bloom filter is planned, not just enabled") {
    // the decontaminate scaladoc's beyond-broadcast story: when the
    // benchmark fp relation outgrows AQE's broadcast threshold the join
    // becomes a shuffle join, and Spark's runtime bloom filter builds a
    // bloom from the small side to prune the corpus side map-side before
    // the exchange — the insurance that the 100 TB shuffle never ships
    // shingles that cannot match. Config drift guard first:
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    // ...then the plan proof: a dedicated session forced into the
    // beyond-broadcast regime (broadcast off, bloom application threshold
    // lowered to test-data scan size) must actually inject the bloom —
    // bloom_filter_agg over the benchmark side, might_contain applied on
    // the corpus side below its exchange
    val ns = spark.newSession()
    GraftExtensions.register(ns)
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ns.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val docs = Tables.documents(ns, sfDir)
    val out = Corpus.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
      docs.filter(pmod(col("doc_id"), lit(97L)) === 0L), shingleK = 4)
    val opt = out.queryExecution.optimizedPlan.toString
    assert(opt.contains("bloom_filter_agg"),
      s"no bloom built from the benchmark side:\n$opt")
    assert(opt.contains("might_contain"),
      s"no bloom application on the corpus side:\n$opt")
    // and the pruned join still returns the same verdict as the declared
    // broadcast-regime d44 on the same split
    val expected = SparkEntry.queries("d44_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("mass contamination: a leak in > maxDf train docs evades the capped verdict but is surfaced by the suspect audit; escalation confirms every copy") {
    import spark.implicits._
    // ~75-char passage — far past the w+k-1 = 43-char detection window at
    // the d49 defaults, so every copy shares the passage's interior
    // winnowed fingerprints verbatim
    val passage = "the quick brown fox jumps over the lazy dog while the band plays on and on"
    def filler(i: Int) = (0 until 12).map(j => s"w${i}x$j").mkString(" ")
    val maxDf = 5
    val leaked = (0 until 8).map(i => 100L + i) // 8 > maxDf copies
    val train = (leaked.map(id =>
        (id, s"${filler(id.toInt)} $passage ${filler(id.toInt + 50)}")) ++
      (0 until 10).map(i => (200L + i, s"clean doc ${filler(i + 300)} ${filler(i + 400)}")))
      .toDF("doc_id", "text")
    val bench = Seq((9000L, s"benchmark intro $passage benchmark outro"))
      .toDF("doc_id", "text")
    // the documented false-negative mode: train-df of the passage fps is
    // 8 > maxDf, so the capped verdict reports every copy clean...
    assert(Corpus.decontaminateWinnowed(train, bench, maxDf = maxDf)
      .collect().isEmpty)
    // ...but the suspect audit names exactly the leaked docs
    val suspects = Corpus.massContaminationSuspects(train, bench, maxDf = maxDf)
    val suspectRows = suspects.collect()
    assert(suspectRows.map(_.getLong(0)).toSet == leaked.toSet)
    assert(suspectRows.forall(_.getAs[Long]("n_mass_fps") >= 1L))
    // escalation: the exact path over the suspect slice confirms each copy
    val slice = train.join(suspects.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(Corpus.decontaminate(slice, bench, shingleK = 4)
      .collect().map(_.getLong(0)).toSet == leaked.toSet)
    // with the cap above the leak's df the precise verdict catches it
    // directly and the suspect relation is empty — the two views always
    // partition the matched bench-side fingerprints
    assert(Corpus.decontaminateWinnowed(train, bench, maxDf = 20)
      .collect().map(_.getLong(0)).toSet == leaked.toSet)
    assert(Corpus.massContaminationSuspects(train, bench, maxDf = 20)
      .collect().isEmpty)
    // the paired entry point (one materialized train-fp stage) returns
    // the same two views as the separate calls
    val views = Corpus.decontaminationAudit(train, bench, maxDf = maxDf)
    assert(views.verdict.collect().isEmpty)
    assert(views.massSuspects.collect().map(_.getLong(0)).toSet == leaked.toSet)
  }

  test("pipeline audit: monotone attrition, chunk==sequence token mass, matches d43 output") {
    val rates = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
    val docs = Tables.documents(spark, sfDir)
    val audit = Corpus.pipelineAudit(docs, rates).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"), r.getAs[Long]("n_tokens"))).toMap
    assert(audit.keySet == Set("00_raw", "01_quality", "02_dedup", "03_mixed",
      "04_chunks", "05_sequences"))
    assert(audit("00_raw")._1 >= audit("01_quality")._1)
    assert(audit("01_quality")._1 >= audit("02_dedup")._1)
    assert(audit("02_dedup")._1 >= audit("03_mixed")._1)
    // packing loses no chunk: token mass identical across the two stages
    assert(audit("04_chunks")._2 == audit("05_sequences")._2)
    // audit agrees with the declared materialization it describes
    assert(audit("05_sequences")._1 ==
      SparkEntry.queries("d43_training_sequences")(spark, sfDir).count())
  }

  test("declared d43 plan: everything derives from checkpoints — zero downstream file scans") {
    val plan = SparkEntry.queries("d43_training_sequences")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan parquet"), "base table re-scanned downstream")
  }
}
