package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Vocab

/** BPE vocabulary induction: hand-computed merge sequences, determinism
  * under repartitioning, encode/train consistency, cap behavior. */
class VocabSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}
  import spark.implicits._

  test("hand case: merges follow weighted pair counts with deterministic tie-break") {
    // corpus: aaab ×2, ab ×1
    // r0: (a,a)=4 beats (a,b)=3 → merge "aa" (count 4)
    // r1: aaab=[aa,a,b] → pairs (aa,a)=2, (a,b)=3 → merge "ab" (count 3)
    // r2: aaab=[aa,ab], ab=[ab] → (aa,ab)=2 → merge "aaab" (count 2)
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrainMerges(docs, numMerges = 10)
    assert(merges == Seq((0, "a", "a", 4L), (1, "a", "b", 3L), (2, "aa", "ab", 2L)))
    // numMerges larger than available pairs → early stop, no junk merges
    assert(merges.length == 3)
  }

  test("incremental trainer is bit-identical to the naive full-recount reference on the real corpus") {
    // r20: bpeTrainMerges switched to incremental pair maintenance + a
    // lazy max-heap (the HF/subword-nmt shape); the retired full-recount
    // loop stays as the REFERENCE implementation (the literal-expression
    // cell assignment precedent) and must never diverge — same merges, same tie-breaks,
    // same early stop, same pair counts
    val docs = Tables.documents(spark, sfDir)
    val fast = Vocab.bpeTrainMerges(docs, numMerges = 200, maxWordTypes = 2000)
    val ref = Vocab.bpeTrainMergesNaive(docs, numMerges = 200, maxWordTypes = 2000)
    assert(fast == ref)
    // degenerate early-stop corpus: single-symbol words exhaust pairs
    val tiny = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    assert(Vocab.bpeTrainMerges(tiny, 5) == Vocab.bpeTrainMergesNaive(tiny, 5))
    // overlap counting: "aaaa" has three adjacent (a,a) positions
    val ovl = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    assert(Vocab.bpeTrainMerges(ovl, 4) == Vocab.bpeTrainMergesNaive(ovl, 4))
  }

  test("determinism: identical merges from a repartitioned corpus") {
    val docs = Tables.documents(spark, sfDir)
    val a = Vocab.bpeTrainMerges(docs, numMerges = 20, maxWordTypes = 500)
    val b = Vocab.bpeTrainMerges(docs.repartition(13), numMerges = 20, maxWordTypes = 500)
    assert(a == b)
    assert(a.length == 20)
    // pair counts never increase with rank-progression on this corpus's
    // monotone argmax (counts can tie; must not grow)
    assert(a.map(_._4).zip(a.tail.map(_._4)).forall { case (x, y) => y <= x })
  }

  test("encode: trained merges reproduce the trainer's segmentation; counts shrink with merges") {
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrainMerges(docs, numMerges = 10)
    val ranks = merges.map { case (r, l, rt, _) => (l, rt) -> r }.toMap
    // full merge table collapses aaab to one token, ab to one token
    assert(Vocab.encodeWord("aaab", ranks).toSeq == Seq("aaab"))
    assert(Vocab.encodeWord("ab", ranks).toSeq == Seq("ab"))
    // unseen word degrades gracefully to learned subwords/chars
    assert(Vocab.encodeWord("aabc", ranks).toSeq == Seq("aa", "b", "c"))
    val counts = Vocab.bpeTokenCounts(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L)) // aaab + aaab + ab → one token each
    // zero merges = character tokenization
    val charCounts = Vocab.bpeTokenCounts(docs, Seq.empty).collect()(0).getLong(1)
    assert(charCounts == 10L) // 4 + 4 + 2 chars
  }

  test("astral-plane text: symbols split by code point, merges stay valid strings") {
    val rocket = new String(Character.toChars(0x1F680)) // non-BMP, 2 UTF-16 chars
    val docs = Seq((1L, s"$rocket$rocket$rocket $rocket$rocket$rocket")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrainMerges(docs, numMerges = 5)
    // pairs are (rocket, rocket) — never unpaired surrogates
    assert(merges.head._2 == rocket && merges.head._3 == rocket)
    merges.foreach { case (_, l, r, _) =>
      // whole-code-point round-trip: fails on any unpaired surrogate
      Seq(l, r).foreach { s =>
        val cps = s.codePoints().toArray
        assert(new String(cps, 0, cps.length) == s, s"invalid symbol: $s")
      }
    }
    val ranks = merges.map { case (r, l, rt, _) => (l, rt) -> r }.toMap
    assert(Vocab.encodeWord(rocket * 3, ranks).length == 1)
  }

  test("declared d48: per-doc counts shrink monotonically as merges grow, one row per doc") {
    val docs = Tables.documents(spark, sfDir)
    val merges = Vocab.bpeTrainMerges(docs, numMerges = 50)
    def counts(ms: Seq[(Int, String, String, Long)]): Map[Long, Long] =
      Vocab.bpeTokenCounts(docs, ms).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c0 = counts(Seq.empty)          // character tokenization
    val c10 = counts(merges.take(10))
    val c50 = counts(merges)
    assert(c0.nonEmpty && c0.keySet == c10.keySet && c10.keySet == c50.keySet)
    // each merge can only collapse adjacent symbols — per-doc counts are
    // monotonically non-increasing in the merge-table prefix
    c0.keys.foreach { id =>
      assert(c0(id) >= c10(id) && c10(id) >= c50(id), s"doc $id not monotone")
    }
    assert(c50.values.sum < c0.values.sum, "50 merges collapsed nothing")
    // the declared query is exactly the 50-merge encode pass
    val declared = SparkEntry.queries("d48_bpe_token_counts")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(declared == c50)
  }

  test("declared d46 runs on real data: dense ranks, positive counts") {
    val res = SparkEntry.queries("d46_bpe_merges")(spark, sfDir).collect()
    assert(res.nonEmpty)
    assert(res.map(_.getAs[Long]("rank")).toSeq == res.indices.map(_.toLong))
    assert(res.forall(_.getAs[Long]("pair_count") > 0L))
  }
}
