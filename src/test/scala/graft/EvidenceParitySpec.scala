package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, TextOps}
import graft.reference.EvidenceReference

/** The corpus pipeline's native paths against the shapes they replaced
  * (kept in [[graft.reference.EvidenceReference]]):
  *  - sorted-run near-dup evidence (`Dedup.runPairs`) against the
  *    capped-collect pair shape, with string and long keys;
  *  - the non-roots of the edges counted on the driver
  *    (`Dedup.evidenceNonRoots`, ascending ids) against `Dedup.components`
  *    over the capped-collect edges, and its over-bound fallback (a
  *    relation);
  *  - the `QualityKeep` and `TokenCount` kernels against the composed
  *    builtin forms. */
class EvidenceParitySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def assertParity(evidence: DataFrame, maxDf: Int): Seq[(Long, Long)] = {
    val runs = pairs(Dedup.runPairs(evidence, maxDf))
    assert(runs == pairs(EvidenceReference.cappedPairs(evidence, maxDf)))
    runs
  }

  private val schemaOf = (keyType: DataType) =>
    StructType(Seq(StructField("key", keyType), StructField("doc_id", LongType)))

  /** Evidence rows with partition `i` of the map side holding `layout(i)`. */
  private def evidence(keyType: DataType, layout: Seq[Seq[(Any, java.lang.Long)]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(layout, layout.size)
        .flatMap(_.map { case (k, id) => Row(k, id) }),
      schemaOf(keyType))

  /** The same rows cut into `parts` contiguous slices. */
  private def evidence(keyType: DataType, layout: Seq[Seq[(Any, java.lang.Long)]],
                       parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(layout.flatten.map { case (k, id) => Row(k, id) }, parts),
      schemaOf(keyType))

  /** Edge cases at maxDf = 3 (cap 4) over four map partitions, each under
    * its own key:
    *  - "n": a NULL id among two real ones (NULL does not count: df 2);
    *  - "dup": the same id twice (two rows, the pair (7, 7));
    *  - "at": df exactly maxDf; "over": df maxDf + 1 (dropped);
    *  - "spread": df 8, two rows in each partition — no partition reaches
    *    the cap, the key is still over it;
    *  - "hot": df 12 in one partition, where the map-side cap engages;
    *  - "one": df 1; a NULL key with df 2 (grouped like any key). */
  private def cases(k: String => Any): Seq[Seq[(Any, java.lang.Long)]] = {
    def r(tag: String, ids: Long*) = ids.map(i => (k(tag), Long.box(i)))
    def spread(p: Int) = r("spread", 100L + 2 * p, 101L + 2 * p)
    Seq(
      r("n", 2L, 1L) ++ Seq((k("n"), null)) ++ r("dup", 7L, 7L) ++ spread(0) ++
        r("hot", (20L until 32L): _*),
      r("at", 3L, 1L, 2L) ++ spread(1) ++ r("over", 4L, 5L, 6L, 8L),
      spread(2) ++ r("one", 9L) ++ Seq((null, Long.box(11L)), (null, Long.box(10L))),
      spread(3))
  }

  private def longKey(tag: String): Any = Long.box(tag.hashCode.toLong)

  test("sorted runs equal the capped-collect pairs: string keys, every edge case") {
    val got = assertParity(evidence(StringType, cases(t => t)), maxDf = 3)
    assert(got.contains((7L, 7L)) && got.contains((1L, 2L)) && got.contains((10L, 11L)))
    assert(!got.exists(p => p._1 >= 100L && p._1 < 110L), "spread key over the cap")
    assert(!got.exists(p => p._1 >= 20L && p._1 < 32L), "hot key over the cap")
    assert(!got.exists(p => p._1 == 4L || p._1 == 9L), "over-cap or df-1 key paired")
  }

  test("sorted runs equal the capped-collect pairs: long keys, every edge case") {
    assertParity(evidence(LongType, cases(longKey)), maxDf = 3)
    // the same rows in one partition and in more partitions than rows
    assertParity(evidence(LongType, cases(longKey), 1), maxDf = 3)
    assertParity(evidence(LongType, cases(longKey), 64), maxDf = 3)
  }

  test("sorted runs on empty input: no pairs, int ids keep their type") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("sh", StringType), StructField("doc_id", IntegerType))))
    val out = Dedup.runPairs(empty, 20)
    assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(out.collect().isEmpty)
    assert(EvidenceReference.cappedPairs(empty, 20).collect().isEmpty)
  }

  test("sorted runs equal the capped-collect pairs on the real corpus: exact and winnowed evidence") {
    val kept = Tables.documents(spark, sfDir).filter(TextOps.qualityKeep)
      .select(col("doc_id"), col("text"))
    // d43's exact 12-token shingles (maxDf 20) and a denser 4-token run
    val exact = assertParity(Corpus.shingleEvidence(kept, 12), maxDf = 20)
    assert(exact.nonEmpty, "exact evidence is vacuous")
    assertParity(Corpus.shingleEvidence(kept, 4), maxDf = 20)
    // d47's winnowed fingerprints (k 60, w 9, maxDf 50) and d28's (k 8, w 4)
    def winnowed(k: Int, w: Int): DataFrame = Dedup.winnowFingerprints(kept, k, w)
      .select(explode(col("fps")).as("fp"), col("doc_id"))
    assert(assertParity(winnowed(60, 9), maxDf = 50).nonEmpty, "winnowed evidence is vacuous")
    assertParity(winnowed(8, 4), maxDf = 50)
  }

  // ---- edges counted on the driver ----

  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getAs[Number](0).longValue).toSet

  /** Non-roots of the driver-counted edges, on the driver path and with
    * the bound forced to 0 (the staged fallback and loop), equal the
    * components of the capped-collect edges over the same evidence. */
  private def assertNonRootParity(evidence: DataFrame, maxDf: Int,
                                  minShared: Int): Set[Long] = {
    val id = evidence.columns(1)
    val nodes = evidence.filter(col(id).isNotNull).select(col(id).as("id")).distinct()
    val reference = EvidenceReference.cappedPairs(evidence, maxDf)
      .groupBy(col("id_a"), col("id_b")).count()
      .filter(col("count") >= minShared).select(col("id_a"), col("id_b"))
    val expected = ids(Dedup.components(nodes, reference).nonRoots)
    Dedup.evidenceNonRoots(evidence, maxDf, minShared, nodes) match {
      case Left(driver) =>
        assert(driver.toSeq == expected.toSeq.sorted, s"driver path, minShared $minShared")
      case Right(_) => fail("the driver path returned a relation")
    }
    Dedup.evidenceNonRoots(evidence, maxDf, minShared, nodes, driverEdgeBound = 0) match {
      case Right(fallback) =>
        assert(ids(fallback) == expected, s"over-bound fallback, minShared $minShared")
      case Left(_) => fail("the over-bound fallback returned driver ids")
    }
    expected
  }

  test("driver-counted edges: non-roots equal components over the same evidence, " +
      "NULL and duplicate ids, self-pairs, minShared 1 and 2") {
    for (ev <- Seq(evidence(StringType, cases(t => t)), evidence(LongType, cases(longKey)))) {
      // components {1, 2, 3} (keys n, at) and {10, 11} (the NULL key); the
      // self-pair (7, 7) of the duplicate id labels nothing
      assert(assertNonRootParity(ev, maxDf = 3, minShared = 1) == Set(2L, 3L, 11L))
      // (1, 2) is the only pair sharing two keys
      assert(assertNonRootParity(ev, maxDf = 3, minShared = 2) == Set(2L))
    }
  }

  test("driver-counted edges: non-roots equal components on the real corpus, " +
      "exact and winnowed keys") {
    val kept = Tables.documents(spark, sfDir).filter(TextOps.qualityKeep)
      .select(col("doc_id"), col("text"))
    for (minShared <- Seq(1, 2)) {
      val exact = assertNonRootParity(Corpus.shingleEvidence(kept, 12), maxDf = 20, minShared)
      val winnowed = assertNonRootParity(Dedup.winnowEvidence(kept, 60, 9), maxDf = 50, minShared)
      if (minShared == 1) assert(exact.nonEmpty && winnowed.nonEmpty, "vacuous evidence")
    }
  }

  test("driver-counted edges on empty input: no non-roots on either path") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("sh", StringType), StructField("doc_id", IntegerType))))
    assert(assertNonRootParity(empty, maxDf = 20, minShared = 1).isEmpty)
  }

  // ---- quality gate ----

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    Iterator.iterate(Seed(7L))(_.next).take(n)
      .map(s => gen.pureApply(Gen.Parameters.default, s)).toSeq

  private val gateArgs = (TextOps.QualityMinTokens, TextOps.QualityMinMeanTokLen,
    TextOps.QualityMaxMeanTokLen, TextOps.QualityMaxPunctRatio)

  private def tok(len: Int, c: Char = 'a'): String = c.toString * len

  /** Texts on each threshold and one step past it. */
  private val boundaries: Seq[String] = {
    val ten = Seq.fill(10)(tok(4))
    Seq(
      ten.mkString(" "), ten.tail.mkString(" "),                 // 10 / 9 tokens
      Seq.fill(10)(tok(2)).mkString(" "),                         // mean exactly 2.0
      (tok(1) +: Seq.fill(9)(tok(2))).mkString(" "),             // mean 1.9
      Seq.fill(10)(tok(15)).mkString(" "),                        // mean exactly 15.0
      (tok(16) +: Seq.fill(9)(tok(15))).mkString(" "),           // mean 15.1
      // 100 chars, 10 of them punctuation: ratio exactly 0.1, then 11/100
      (Seq.fill(9)(tok(8) + ".") :+ (tok(9) + "!")).mkString(" "),
      (Seq.fill(9)(tok(8) + ".") :+ (tok(8) + "!?")).mkString(" "),
      // mean 2.0 with multibyte letters: characters, not bytes
      Seq.fill(10)("é☃").mkString(" "), Seq.fill(10)("𝄞𝄞").mkString(" "),
      "", " ", "          ", "a  b   c    d     e      f       g        h         i          j",
      ".,!?;:", Seq.fill(12)("!!").mkString(" "), " leading and trailing spaces in this text ok ")
  }

  private val alphabet = Gen.frequency(
    30 -> Gen.alphaLowerChar, 12 -> Gen.const(' '),
    4 -> Gen.oneOf('.', ',', '!', '?', ';', ':'),
    2 -> Gen.oneOf('é', '☃', '中', '-', '\''),
    1 -> Gen.const('\t'))
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 160)
    cs <- Gen.listOfN(n, alphabet)
    astral <- Gen.chooseNum(0, 3)
  } yield cs.mkString + "😀" * astral

  test("quality kernel equals the composed predicate: NULL, boundaries, random texts") {
    val texts: Seq[Option[String]] = None +: (boundaries ++ samples(text, 600)).map(Some(_))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }, 4),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val (a, b, c, d) = gateArgs
    val rows = df.select(col("id"), TextOps.qualityKeep.as("native"),
        EvidenceReference.composedQualityKeep(a, b, c, d).as("composed"))
      .collect()
    def v(r: Row, i: Int): Option[Boolean] = if (r.isNullAt(i)) None else Some(r.getBoolean(i))
    rows.foreach(r => assert(v(r, 1) == v(r, 2), s"text #${r.getLong(0)}: ${texts(r.getLong(0).toInt)}"))
    val byId = rows.map(r => r.getLong(0).toInt -> v(r, 1)).toMap
    assert(byId(0).isEmpty, "NULL text must give NULL")
    assert(texts.indices.tail.forall(i => byId(i).isDefined), "non-NULL text gave NULL")
    // both sides of each boundary are exercised
    val verdicts = boundaries.indices.map(i => byId(i + 1).get)
    assert(verdicts.take(8) == Seq(true, false, true, false, true, false, true, false), verdicts)
    assert(verdicts(8) && verdicts(9), "multibyte mean length is in characters")
    assert(byId.values.count(_.contains(true)) > 20, "random texts never kept: generator too weak")
  }

  test("token-count kernel equals the composed split size: NULL, empty, spaces, random texts") {
    // long texts cross the kernel's eight-byte words at every alignment
    val long = (0 until 40).map(i => Seq.fill(i)("ab ").mkString + "é" * (i % 3))
    val texts: Seq[Option[String]] = None +: (boundaries ++ long ++ samples(text, 600)).map(Some(_))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }, 4),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val rows = df.select(col("id"), TextOps.tokenCount("text").as("native"),
        EvidenceReference.composedTokenCount("text").as("composed"))
      .collect()
    rows.foreach { r =>
      val (n, c) = (Option(r.get(1)), Option(r.get(2)))
      assert(n == c, s"text #${r.getLong(0)}: ${texts(r.getLong(0).toInt)}")
    }
    val byId = rows.map(r => r.getLong(0).toInt -> Option(r.get(1))).toMap
    assert(byId(0).isEmpty, "NULL text must give NULL")
    assert(byId(boundaries.indexOf("") + 1).contains(1L), "empty text is one token")
    assert(byId(boundaries.indexOf("          ") + 1).contains(11L))
    // interpreted eval equals generated code
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interpreted = texts.map(t => Option(graft.functions.TokenCount(
      Literal.create(t.orNull, StringType)).eval(null)))
    assert(interpreted == texts.indices.map(byId))
  }

  test("quality kernel: interpreted eval equals generated code") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val (a, b, c, d) = gateArgs
    val texts = boundaries ++ samples(text, 200)
    val viaCodegen = spark.createDataFrame(spark.sparkContext.parallelize(
        texts.map(Row(_)), 2), StructType(Seq(StructField("text", StringType))))
      .select(TextOps.qualityKeep).collect().map(r => Option(r.get(0))).toSeq
    val interpreted = texts.map(t => Option(
      graft.functions.QualityKeep(Literal(t), a, b, c, d).eval(null)))
    assert(interpreted == viaCodegen)
  }
}
