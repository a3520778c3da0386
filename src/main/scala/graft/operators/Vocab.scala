package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** BPE vocabulary induction (Sennrich et al., ACL 2016) — the tokenizer-
  * training step of an LLM data pipeline, in the standard two-phase shape
  * production trainers use:
  *
  *  1. DISTRIBUTED corpus pass: whitespace word-frequency aggregate,
  *     capped to the top `maxWordTypes` types by (count desc, word asc) —
  *     a deterministic total order, so the cap is reproducible under any
  *     parallelism. This is the only pass that touches the corpus; its
  *     output is bounded regardless of corpus size.
  *  2. DRIVER merge loop over the bounded word-frequency table: count
  *     adjacent symbol pairs weighted by word frequency, merge the
  *     argmax pair (ties: max count, then lexicographically smallest
  *     pair), repeat `numMerges` times. O(maxWordTypes · wordLen) per
  *     round over aggregated counts — never over the corpus. This is how
  *     real BPE trainers work (counting distributed, merges centralized
  *     over aggregate state); the loop is not expressible as a Spark plan
  *     and does not need to be.
  *
  * Encoding applies learned merges rank-greedily per word (lowest-rank
  * applicable pair first) — per-row irreducible JVM work, so it runs in
  * `mapPartitions` with the merge table broadcast by closure, the same
  * category as TreeSHAP traversal and media decode.
  */
object Vocab {

  /** Distributed word-frequency table, deterministically capped. */
  def wordCounts(docs: DataFrame, maxWordTypes: Int): DataFrame =
    docs.select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(maxWordTypes)

  /** Initial symbol split by CODE POINT, not UTF-16 char — a `Char` split
    * would cut astral-plane text (emoji, rare CJK) into unpaired
    * surrogates that can never re-merge into valid strings. */
  private def splitSymbols(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  private def mergeOnce(syms: Array[String], l: String, r: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Learned merge table as plain data: (rank, left, right, pair_count).
    * Deterministic given the corpus; stops early when no pair remains.
    *
    * Driver-knee shape (r19 verdict): the distributed phase bounds the
    * word table at `maxWordTypes` (named in SURVEY §2.8's d46/d48
    * rationale), and the merge loop below is INCREMENTAL — a full
    * recount per round (the reference shape, kept as
    * [[bpeTrainMergesNaive]] and pinned bit-identical by VocabSpec +
    * the 10⁵-type measurement) costs O(types · wordLen) PER MERGE,
    * which at a production vocabulary (10⁵ word types × 32k merges) is
    * hours on one core. This loop instead maintains pair counts and a
    * pair → word-occurrence index, touching only the words that CONTAIN
    * the merged pair each round (Zipf corpora: a vanishing fraction past
    * the head merges), with a lazy max-heap for argmax selection —
    * measured at 10⁵ word types (figures in plans/MEASUREMENTS.md): the
    * naive loop's per-merge wall makes 32k merges a
    * multi-hour job while the incremental one stays in driver
    * milliseconds-per-merge, the same published shape HF tokenizers /
    * subword-nmt's caching trainer use. Selection is EXACTLY the naive
    * argmax: (count desc, left asc, right asc), lazy-stale entries
    * skipped on pop — every pair's CURRENT count is in the heap because
    * each update pushes it. */
  def bpeTrainMerges(docs: DataFrame, numMerges: Int,
                     maxWordTypes: Int = 10000): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1 && maxWordTypes >= 1, "numMerges and maxWordTypes >= 1")
    val words: Array[(Array[String], Long)] = wordCounts(docs, maxWordTypes)
      .collect().map { r: Row => (splitSymbols(r.getString(0)), r.getLong(1)) }
    val syms: Array[Array[String]] = words.map(_._1)
    val weight: Array[Long] = words.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    // which word indices currently CONTAIN a pair (membership, not
    // multiplicity — counts carry multiplicity)
    val occurs = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // lazy max-heap over (count, left, right): stale entries (count no
    // longer current for that pair) are skipped at pop time
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      1024,
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1) // count DESC
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2)             // left ASC
            if (l != 0) l else a._3.compareTo(b._3)  // right ASC
          }
        }
      })
    // lazy-decrease discipline: push ONLY on increases (the exact new
    // value); decreases leave a stale-HIGH entry that the pop loop
    // detects (stored > current) and re-pushes at the current value.
    // Pushing on every decrement instead grows the heap with the total
    // number of retractions — O(merges · touched words · wordLen)
    // entries, the exact blowup this discipline bounds.
    def bump(k: (String, String), delta: Long, wordIdx: Int, add: Boolean): Unit = {
      val next = pairCounts.getOrElse(k, 0L) + delta
      if (next <= 0L) pairCounts.remove(k) else pairCounts.update(k, next)
      if (delta > 0L && next > 0L) heap.add((next, k._1, k._2))
      // membership removal is implicit: a stale member is filtered at
      // use — its word simply no longer yields the pair
      if (add) occurs.getOrElseUpdate(k, new mutable.BitSet()).add(wordIdx)
    }
    var w = 0
    while (w < syms.length) {
      val s = syms(w); val n = weight(w)
      var i = 0
      while (i + 1 < s.length) { bump((s(i), s(i + 1)), n, w, add = true); i += 1 }
      w += 1
    }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // pop to the first CURRENT entry; a stale-HIGH entry (its pair has
      // since decreased but is still live) re-enters at its current
      // count so the max invariant holds — every live pair always has an
      // entry with stored >= current, so the first CURRENT pop is the
      // true (count desc, left asc, right asc) argmax
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val cand = heap.poll()
        val cur = pairCounts.getOrElse((cand._2, cand._3), 0L)
        if (cur == cand._1) top = cand
        else if (cur > 0L && cand._1 > cur) heap.add((cur, cand._2, cand._3))
      }
      if (top == null) done = true
      else {
        val (cnt, l, r) = top
        merges += ((rank, l, r, cnt))
        val key = (l, r)
        val members = occurs.getOrElse(key, new mutable.BitSet())
        val touched = members.toArray // snapshot: bump mutates sets
        var t = 0
        while (t < touched.length) {
          val wi = touched(t)
          val s = syms(wi); val n = weight(wi)
          // stale membership: the word may no longer contain the pair
          var has = false
          var i = 0
          while (!has && i + 1 < s.length) {
            if (s(i) == l && s(i + 1) == r) has = true
            i += 1
          }
          if (has) {
            // retract the word's current adjacent pairs…
            i = 0
            while (i + 1 < s.length) { bump((s(i), s(i + 1)), -n, wi, add = false); i += 1 }
            // …merge…
            val ns = mergeOnce(s, l, r)
            syms(wi) = ns
            // …and add the new ones
            i = 0
            while (i + 1 < ns.length) { bump((ns(i), ns(i + 1)), n, wi, add = true); i += 1 }
          }
          t += 1
        }
        // the merged pair is gone from every word that contained it
        pairCounts.remove(key)
        occurs.remove(key)
        rank += 1
      }
    }
    merges.toSeq
  }

  /** REFERENCE implementation (the textbook full-recount loop) — kept,
    * like the literal-expression cell assignment, as the independent
    * second implementation the parity spec and the 10⁵-type measurement
    * pin [[bpeTrainMerges]] bit-identical against. O(types · wordLen) per
    * merge: correct, and exactly the driver knee the incremental loop
    * removes. */
  private[graft] def bpeTrainMergesNaive(docs: DataFrame, numMerges: Int,
                                         maxWordTypes: Int = 10000): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1 && maxWordTypes >= 1, "numMerges and maxWordTypes >= 1")
    var words: Array[(Array[String], Long)] = wordCounts(docs, maxWordTypes)
      .collect().map { r: Row => (splitSymbols(r.getString(0)), r.getLong(1)) }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), cnt) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, cnt))
        words = words.map { case (syms, n) => (mergeOnce(syms, l, r), n) }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Declared-query form: the merge table as a DataFrame. */
  def bpeMerges(docs: DataFrame, numMerges: Int,
                maxWordTypes: Int = 10000): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrainMerges(docs, numMerges, maxWordTypes)
      .toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"))
      .orderBy(col("rank"))
  }

  /** Encode one word rank-greedily: repeatedly merge the lowest-rank
    * applicable pair until none applies. */
  private[graft] def encodeWord(word: String,
                                ranks: Map[(String, String), Int]): Array[String] = {
    var syms = splitSymbols(word)
    var continue = syms.length > 1
    while (continue) {
      var best = Int.MaxValue; var bestAt = -1
      var i = 0
      while (i + 1 < syms.length) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < best) { best = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) continue = false
      else syms = mergeOnce(syms, syms(bestAt), syms(bestAt + 1))
    }
    syms
  }

  /** Per-doc BPE token counts under a learned merge table — the corpus
    * tokenization statistic (chars collapse toward words as merges grow).
    * mapPartitions with the bounded merge table in closure; one scan. */
  def bpeTokenCounts(docs: DataFrame,
                     merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ranks: Map[(String, String), Int] =
      merges.map { case (r, l, rt, _) => (l, rt) -> r }.toMap
    // NULL guards for broken upstream records: a NULL doc_id cannot ride
    // the primitive-long encoder (NOT_NULL_ASSERT_VIOLATION) and keys
    // nothing downstream — drop it; NULL text is a present-but-empty
    // document — zero tokens, same as the whitespace tokenizer on "".
    docs.where(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-partition memo (r19 self-review batch 17): natural text is
        // Zipf-distributed, so the same head words re-encode constantly —
        // encodeWord is O(len²·merges) per CALL, and without the memo a
        // 100 TB corpus pays it once per OCCURRENCE instead of once per
        // distinct word per partition. Bounded (64k entries ≈ a few MB of
        // short strings) so a pathological all-distinct corpus cannot
        // grow task memory; misses past the cap just re-encode.
        val memo = mutable.HashMap.empty[String, Long]
        it.map { case (id, text) =>
          val n = text.split(" ", -1).iterator.filter(_.nonEmpty)
            .map { w =>
              memo.get(w) match {
                case Some(len) => len
                case None =>
                  val len = encodeWord(w, ranks).length.toLong
                  if (memo.size < 65536) memo.update(w, len)
                  len
              }
            }.sum
          (id, n)
        }
      }
      .toDF("doc_id", "n_bpe_tokens")
    // no global orderBy: a whole-corpus range-shuffle+sort purely for
    // cosmetic output order is the one step that cannot run at 100 TB,
    // and no consumer needs it (aggregates and the rows-only check are
    // order-independent; tests compare as Maps)
  }
}
