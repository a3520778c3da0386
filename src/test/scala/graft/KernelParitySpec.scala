package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, TextOps}
import graft.reference.CorpusTailReference

/** The corpus tail's native kernels against the composed forms they
  * replaced (kept in [[graft.reference.CorpusTailReference]]), each on the
  * generated path (whole-stage codegen) and on the interpreted path
  * (whole-stage codegen off, every expression evaluated without codegen):
  *  - the `PackSequences` next-fit packer;
  *  - the `ChunkWindows` chunker;
  *  - the distinct form of `ShingleMd5s`;
  *  - the `InSortedIds` winner filter. */
class KernelParitySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate(Seed(seed))(_.next).take(n)
      .map(s => gen.pureApply(Gen.Parameters.default, s)).toSeq

  /** Rows of `build()` on the generated path, then on the interpreted
    * path. `generated` names the node that must run inside whole-stage
    * codegen on the first path. */
  private def bothPaths(build: () => DataFrame, generated: String): (Seq[Row], Seq[Row]) = {
    val df = build()
    val gen = df.collect().toSeq
    val plan = df.queryExecution.executedPlan.toString
    assert(s"\\*\\(\\d+\\) $generated".r.findFirstIn(plan).isDefined,
      s"$generated did not run in generated code:\n$plan")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try (gen, build().collect().toSeq)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def assertBothPaths(build: () => DataFrame, generated: String,
                              expected: Seq[Row], what: => String): Unit = {
    val (gen, interp) = bothPaths(build, generated)
    assert(gen == expected, s"generated path: $what")
    assert(interp == expected, s"interpreted path: $what")
  }

  // ---- packing ----

  private val chunkSchema = StructType(Seq(StructField("ord", LongType),
    StructField("doc_id", LongType), StructField("chunk_id", LongType),
    StructField("n_chunk_tokens", LongType)))

  /** A chunk multiset: docs of 1–5 chunks of 1 .. budget + 3 tokens (at
    * and over budget included), a doc's `ord` either its id or a rank of a
    * random permutation (the d63 shape), some chunk rows repeated. */
  private def chunkSet(budget: Int): Gen[Seq[(Long, Long, Long, Long)]] = for {
    nDocs <- Gen.chooseNum(1, 30)
    permuted <- Gen.oneOf(false, true)
    ords <- Gen.pick(nDocs, 0 until 10 * nDocs)
    docs <- Gen.listOfN(nDocs, for {
      nc <- Gen.chooseNum(1, 5)
      ns <- Gen.listOfN(nc, Gen.frequency(6 -> Gen.chooseNum(1, budget),
        1 -> Gen.const(budget), 1 -> Gen.chooseNum(budget + 1, budget + 3)))
      dup <- Gen.frequency(5 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (ns, dup))
  } yield docs.zipWithIndex.flatMap { case ((ns, dup), d) =>
    val ord = if (permuted) ords(d).toLong else d.toLong
    val rows = ns.zipWithIndex.map { case (n, c) => (ord, d.toLong, c.toLong, n.toLong) }
    if (dup) rows :+ rows.head else rows
  }

  private def chunkFrame(rows: Seq[(Long, Long, Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (o, d, c, n) => Row(o, d, c, n) }, 3), chunkSchema)

  test("packing kernel equals the composed next-fit fold on random chunk multisets, both paths") {
    val cases = samples(for {
      budget <- Gen.oneOf(1, 4, 10, 20)
      perGroup <- Gen.oneOf(1, 3, 5, 50)
      rows <- chunkSet(budget)
    } yield (budget, perGroup, rows), 24, seed = 11L)
    cases.foreach { case (budget, perGroup, rows) =>
      val chunks = chunkFrame(rows)
      val expected = CorpusTailReference.composedPackChunksBy(chunks, budget, perGroup,
        1000000L).collect().toSeq
      assertBothPaths(() => TextOps.packChunksBy(chunks, budget, perGroup),
        "Generate pack_sequences", expected, s"budget=$budget perGroup=$perGroup rows=$rows")
    }
    // single-chunk groups: one group per ord, one chunk each
    val single = chunkFrame((0L until 9L).map(d => (d, d, 0L, d % 4 + 1)))
    assertBothPaths(() => TextOps.packChunksBy(single, 3, 1), "Generate pack_sequences",
      CorpusTailReference.composedPackChunksBy(single, 3, 1, 1000000L).collect().toSeq,
      "single-chunk groups")
  }

  test("packing kernel raises the seqStride error on both paths") {
    val chunks = chunkFrame(Seq((0L, 0L, 0L, 10L), (0L, 0L, 1L, 10L), (0L, 0L, 2L, 10L)))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (codegen <- Seq(true, false)) {
      if (!codegen) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try {
        val e = intercept[Exception](TextOps.packChunksBy(chunks, 10, 100, seqStride = 2L).collect())
        assert(messages(e).exists(_.contains("seqStride (2) in grp 0")), e.toString)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  // ---- chunking ----

  private val token: Gen[String] = Gen.frequency(
    3 -> Gen.const(""),
    20 -> Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)),
    4 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("é", "☃", "中", "😀", "ß", "x")).map(_.mkString)))

  /** Texts of `n` tokens joined by single spaces: an empty token makes a
    * run of spaces, or a leading or trailing one. */
  private def textOf(n: Int): Gen[String] = Gen.listOfN(n, token).map(_.mkString(" "))

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docFrame(texts: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 3), docSchema)

  private def sortedChunks(df: DataFrame): () => DataFrame =
    () => df.orderBy(col("doc_id"), col("chunk_id"))

  test("chunking kernel equals the composed split/slice/concat_ws/md5 form, both paths") {
    val geometries = Seq((1, 1), (3, 1), (3, 3), (5, 2), (7, 7), (50, 40))
    geometries.foreach { case (chunkTokens, stride) =>
      // token counts up to, at and one past chunkTokens, and longer texts
      val lengths = Seq(1, 2, chunkTokens - 1, chunkTokens, chunkTokens + 1,
        chunkTokens + stride, 3 * chunkTokens + 1).filter(_ >= 1)
      val texts = Seq("", " ", "   ", "a  b", "☃ é 😀") ++
        lengths.flatMap(n => samples(textOf(n), 4, seed = 31L * n + chunkTokens)) ++
        samples(Gen.chooseNum(0, 120).flatMap(textOf), 20, seed = stride.toLong)
      val docs = docFrame(texts).union(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(999L, null)), 1), docSchema))
      val expected = sortedChunks(CorpusTailReference.composedChunkDocsUnsorted(
        docs, chunkTokens, stride))().collect().toSeq
      assert(expected.nonEmpty)
      assertBothPaths(sortedChunks(TextOps.chunkDocsUnsorted(docs, chunkTokens, stride)),
        "Generate chunk_windows", expected, s"chunkTokens=$chunkTokens stride=$stride")
    }
  }

  test("chunking kernel equals the composed form on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val expected = sortedChunks(CorpusTailReference.composedChunkDocsUnsorted(docs, 50, 40))()
      .collect().toSeq
    assertBothPaths(sortedChunks(TextOps.chunkDocsUnsorted(docs, 50, 40)),
      "Generate chunk_windows", expected, "sf0.001 documents")
  }

  // ---- distinct shingles ----

  test("distinct shingle kernel equals array_distinct of the shingle array, in order, both paths") {
    val phrase = Gen.chooseNum(1, 4).flatMap(textOf)
    // texts that repeat phrases, so shingles repeat within a doc
    val repeating = for {
      parts <- Gen.listOfN(3, phrase)
      picks <- Gen.listOfN(8, Gen.chooseNum(0, 2))
    } yield picks.map(parts).mkString(" ")
    val texts = Seq("", "a", "a a a a a", "x y x y x y x", "☃ ☃ ☃ é ☃ ☃") ++
      samples(repeating, 40, seed = 5L) ++ samples(Gen.chooseNum(0, 60).flatMap(textOf), 20, 6L)
    val docs = docFrame(texts)
    for (k <- Seq(1, 2, 3, 12)) {
      def shingles(c: org.apache.spark.sql.Column): () => DataFrame =
        () => docs.select(col("doc_id"), c.as("sh")).orderBy(col("doc_id"))
      val expected = shingles(CorpusTailReference.composedDistinctShingles(col("text"), k))()
        .collect().toSeq
      assert(expected.exists(r => r.getSeq[String](1).size < math.max(0,
        texts(r.getLong(0).toInt).split(" ", -1).length - k + 1)), s"k=$k: no repeated shingle")
      import org.apache.spark.sql.GraftColumnBridge
      assertBothPaths(shingles(GraftColumnBridge.column(graft.functions.ShingleMd5s(
          GraftColumnBridge.expression(col("text")), k, distinct = true))),
        "Project", expected, s"k=$k")
    }
    // the pipeline's evidence relation: exploded, in per-doc order
    val evidence = Corpus.shingleEvidence(docs, 2).collect().toSeq
    val reference = docs.select(explode(
        CorpusTailReference.composedDistinctShingles(col("text"), 2)).as("sh"), col("doc_id"))
      .collect().toSeq
    assert(evidence == reference)
  }

  // ---- winner filter ----

  test("broadcast sorted-id filter equals the anti-join, NULL and int ids, both paths") {
    val cases = samples(for {
      n <- Gen.chooseNum(0, 200)
      ids <- Gen.listOfN(n, Gen.frequency(9 -> Gen.chooseNum(-5L, 300L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long])))
      nonRoots <- Gen.someOf(-5L to 310L)
    } yield (ids, nonRoots.toSeq.sorted), 12, seed = 3L)
    cases.foreach { case (ids, nonRoots) =>
      for (idType <- Seq(LongType, IntegerType)) {
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
            ids.zipWithIndex.map { case (id, i) => Row(id.map(x => java.lang.Long.valueOf(x)).orNull,
              i.toLong) }, 3),
          StructType(Seq(StructField("id", LongType), StructField("row", LongType))))
          .select(col("id").cast(idType).as("id"), col("row"))
        def byRow(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.getLong(1))
        val expected = byRow(CorpusTailReference.antiJoinWinners(df, "id", nonRoots)
          .collect().toSeq)
        val (gen, interp) = bothPaths(
          () => Dedup.withoutNonRoots(df, "id", Left(nonRoots.toArray)), "Filter")
        assert(byRow(gen) == expected, s"generated path: $idType ids=$ids nonRoots=$nonRoots")
        assert(byRow(interp) == expected, s"interpreted path: $idType ids=$ids nonRoots=$nonRoots")
      }
    }
  }
}
