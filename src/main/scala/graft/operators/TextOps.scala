package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for the LLM-data-pipeline
  * extension (SURVEY.md §2.7 D1/D5) over the `documents` table.
  *
  * Everything here is built-in `Column` functions (split / filter lambda /
  * regexp / sha2 / md5) — fully codegen'd, no UDFs, shuffles only at the
  * grouped aggregates (map-side combined). At 100 TB these are scan-bound
  * passes; exact dedup shuffles one 32-byte raw SHA-256 digest + winner
  * struct per row, not the text (see [[dedupGroups]] for the
  * adversarial-collision rationale; the audit view ships the 64-char hex
  * form because that is what the cross-engine oracle can compare).
  */
object TextOps {

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is",
    "it", "on", "for")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Whitespace token count (keeps empty tokens — parity with DuckDB
    * `string_split`): `size(split(c, ' ', -1))` as a long, evaluated by
    * the native [[graft.functions.TokenCount]] kernel in one byte pass (the
    * composed form lives in the test sources). NULL gives NULL. */
  def tokenCount(c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TokenCount(GraftColumnBridge.expression(col(c))))
  }

  /** Distinct-token (type) count — the d32 numerator, SHARED with the d50
    * quality model's type-token-ratio bin so the statistic and the model
    * feature cannot silently drift apart. */
  private[operators] def typeCount(c: String): org.apache.spark.sql.Column =
    size(array_distinct(split(col(c), " ", -1))).cast("long")

  /** Subword-style token count: alphabetic runs, digit runs, and single
    * punctuation marks each count as a token (the BPE-pre-tokenizer
    * shape, engine-expressible as one regex extraction). Both cases in
    * the run class: a lowercase-only `[a-z]+` silently counted every
    * UPPERCASE letter as a one-char punctuation token ("Hello" → 2
    * tokens), inflating subword totals on any mixed-case corpus. */
  def tokenCountRegex(c: String): org.apache.spark.sql.Column =
    size(expr(s"regexp_extract_all($c, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")).cast("long")

  /** D5 — per-language subword token totals (regex tokenizer). */
  def subwordTokenStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(sum(tokenCountRegex("text")).as("total_subword_tokens"),
        round(avg(tokenCountRegex("text").cast("double")), 4).as("avg_subword_tokens"))
      .orderBy(col("lang"))

  /** D1 — exact dedup groups: hash text, keep min doc_id per group.
    * Scale: groupBy on sha2-256(text); this audit view's key is the
    * 64-char hex rendering (the engine-portable form the DuckDB oracle
    * compares), where [[dedupDocuments]] — the materialization — shuffles
    * the 32 raw digest bytes instead. The canonical "keep first" winner
    * is min(id) — deterministic under any parallelism.
    *
    * SHA-256, not MD5, on purpose: a dedup key must survive ADVERSARIAL
    * input. MD5 chosen-prefix collisions are practically craftable, so a
    * hostile contributor to a web corpus could make two distinct documents
    * collide and have one silently dropped as a "duplicate" — a poisoning
    * vector for a training-data pipeline. SHA-256 is collision-resistant;
    * the extra digest bytes vs MD5 are noise next to the text the key
    * replaces. */
  def dedupGroups(docs: DataFrame): DataFrame =
    // hashable documents only: NULL text carries no identity, and a NULL
    // hash group would read as "n_copies of one document" for rows whose
    // equality was never established ([[dedupDocuments]] passes them
    // through undeduped for the same reason)
    docs.filter(col("text").isNotNull)
      .groupBy(sha2(col("text").cast("binary"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  /** D1 — the dedup transformation itself: keep the lowest-id copy of each
    * text (deterministic winner under any parallelism). This is what a
    * training-data pipeline actually materializes; `dedupGroups` is its
    * audit view.
    *
    * Shape: ONE scan, one groupBy on the RAW 32-byte sha2-256 digest
    * (`unhex` of the hex form — half the shuffled key bytes of the hex
    * rendering; same adversarial-collision rationale as [[dedupGroups]],
    * where an MD5 key would let a crafted collision silently drop a
    * legitimate document) with `min_by` carrying the winner's whole row —
    * NOT a row_number window partitioned by text: a
    * window partition is buffered by a single task (AQE splits skewed
    * join partitions, never window partitions), so a hot exact duplicate
    * — boilerplate replicated across half the corpus — would pin one task
    * to its entire copy set. min_by partially aggregates, so the hot
    * text-hash combines map-side before the exchange, and only 32-byte
    * raw-digest keys + winner structs shuffle. PlanLintSpec bans
    * content-keyed windows catalog-wide. */
  def dedupDocuments(docs: DataFrame): DataFrame =
    // NULL text is UNKNOWN content, not known-equal content: grouped
    // raw, sha2(NULL) = NULL would collapse every broken upstream record
    // into one group and silently DISCARD all but the lowest-id one —
    // data loss on rows whose equality was never established. A NULL-text
    // row instead gets a PER-ROW 9-byte key (0x00 ++ its big-endian
    // doc_id — can never equal a 32-byte digest), so it passes through
    // undeduped in the SAME single scan (a filter + union pass-through
    // would scan the table twice). A row with BOTH text and doc_id NULL
    // has no identity at all and is dropped, deterministically on both
    // engines (oracle: rn = 1 on non-null text, OR null text with a
    // doc_id).
    docs.filter(col("text").isNotNull || col("doc_id").isNotNull)
      .groupBy(
        when(col("text").isNotNull, unhex(sha2(col("text").cast("binary"), 256)))
          .otherwise(concat(lit(Array[Byte](0.toByte)),
            unhex(lpad(hex(col("doc_id")), 16, "0")))).as("__h"))
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("__w"))
      .select(col("__w.doc_id"), col("__w.lang"), col("__w.source"),
        col("__w.n_chars"))
      .orderBy(col("doc_id"))

  /** D1 — dedup summary per language: unique vs total texts. Distinct
    * over the RAW 32-byte digest, not the text: countDistinct(text) keys
    * every partial/final exchange by the full document text — exactly the
    * shuffle this module's header promises never happens. Digest equality
    * is text equality under the same SHA-256-as-identity rationale as
    * [[dedupGroups]], so the count is unchanged (NULL text hashes to
    * NULL, which countDistinct ignores on both forms). */
  def dedupStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(countDistinct(unhex(sha2(col("text").cast("binary"), 256))).as("n_unique"),
        count(lit(1)).as("n_total"))
      .orderBy(col("lang"))

  /** D5 — per-language token/char statistics. Integer sums are exact in
    * double up to 2^53, so the averages match any engine bit-for-bit. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars").cast("double")), 4).as("avg_chars"),
        round(avg(tokenCount("text").cast("double")), 4).as("avg_tokens"))
      .orderBy(col("lang"))

  /** D5 — corpus-level stopword ratio per language, as a ratio of integer
    * sums (exact): Σ stopword-tokens / Σ tokens. */
  def stopwordRatio(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        expr(s"size(filter(split(text, ' '), t -> t IN ($stopList)))")
          .cast("long").as("n_stop"),
        tokenCount("text").as("n_tok"))
      .groupBy(col("lang"))
      .agg(Features.pround(
        sum(col("n_stop")).cast("double") / sum(col("n_tok")).cast("double"), 6)
        .as("stopword_ratio"),
        sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("lang"))

  /** D5 — per-document quality features: token count, punctuation count,
    * mean token length (quality scoring à la pipeline heuristics). */
  def qualityFeatures(docs: DataFrame): DataFrame =
    // punctLen/nonSpaceLen are the single source of these expressions
    // (shared with the d27 gate and the d50 model's bins) — inlined
    // copies could silently drift from the gate they feed
    docs.select(
      col("doc_id"),
      tokenCount("text").as("n_tokens"),
      punctLen.as("n_punct"),
      Features.pround(
        nonSpaceLen.cast("double") / tokenCount("text").cast("double"), 4)
        .as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** D5 — document fingerprint (content hash identity). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .orderBy(col("doc_id"))

  /** D5 — global token frequency top-k (explode → count → TakeOrdered). */
  def tokenFrequency(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(split(col("text"), " ", -1)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** D5 — language × source contingency with char mass. */
  def langSourceMatrix(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("source"))

  /** D5 — per-language document-length quantiles (quality profiling).
    * Quarter quantiles only: at p ∈ {.25, .5, .75} the linear interpolation
    * `(1−f)·a + f·b` over integer values is exact in IEEE-754 (f is a
    * binary fraction, products and sum round-free), so DuckDB's
    * `a + (b−a)·f` formulation yields the bit-identical double — no
    * rounding needed.
    *
    * Exact with BOUNDED memory: `n_chars` is integral, so the group's value
    * multiset compresses to a (value, count) histogram — O(distinct
    * lengths) rows per language, bounded by the max document length, never
    * by document count. Cumulative counts over the histogram locate each
    * quantile's two straddling order statistics, then the identical
    * `Percentile.getPercentile` interpolation applies — bit-equal to the
    * single-buffer `percentile` aggregate this replaces (which buffered
    * every per-group VALUE in one aggregation buffer: a billion-doc
    * language would OOM its task). The lang-partitioned window runs over
    * the compressed histogram only. NULL `n_chars` carries no length: it
    * joins no rank (the aggregate's NULL-skip), but its documents still
    * count in `n_docs`. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    val cntNN = when(col("n_chars").isNull, 0L).otherwise(col("cnt"))
    val cum = hist.select(col("lang"), col("n_chars").cast("double").as("v"),
      cntNN.as("cnt_nn"),
      sum(cntNN).over(wCum).as("cum"),      // non-null values ≤ v (0-based rank space)
      sum(cntNN).over(wAll).as("nv"),       // non-null value count
      sum(col("cnt")).over(wAll).as("nd"))  // all docs (NULL n_chars included)
    // rank r (0-based over non-null values) lives in the histogram row
    // covering [cum − cnt_nn, cum): conditional-min fetches its value
    def at(rank: Column): Column =
      min(when(rank >= col("cum") - col("cnt_nn") && rank < col("cum"), col("v")))
    def lr(q: Double): Column = floor((col("nv") - 1).cast("double") * q)
    def ur(q: Double): Column = ceil((col("nv") - 1).cast("double") * q)
    val agg = cum.groupBy(col("lang")).agg(
      max(col("nv")).as("nv"), max(col("nd")).as("n_docs"),
      at(lr(0.25)).as("lo25"), at(ur(0.25)).as("hi25"),
      at(lr(0.5)).as("lo50"), at(ur(0.5)).as("hi50"),
      at(lr(0.75)).as("lo75"), at(ur(0.75)).as("hi75"))
    // Percentile.getPercentile: value at the position when integral, else
    // (higher − pos)·lo + (pos − lower)·hi. All-NULL group → no ranks → NULL.
    def interp(q: Double, lo: String, hi: String): Column = {
      val pos = (col("nv") - 1).cast("double") * q
      when(floor(pos) === ceil(pos), col(lo))
        .otherwise((ceil(pos).cast("double") - pos) * col(lo) +
          (pos - floor(pos).cast("double")) * col(hi))
    }
    agg.select(col("lang"),
        interp(0.25, "lo25", "hi25").as("p25_chars"),
        interp(0.5, "lo50", "hi50").as("p50_chars"),
        interp(0.75, "lo75", "hi75").as("p75_chars"),
        (interp(0.75, "lo75", "hi75") - interp(0.25, "lo25", "hi25")).as("iqr_chars"),
        col("n_docs"))
      .orderBy(col("lang"))
  }

  /** D5 — global top-k word bigrams (the n-gram statistic; unigrams are
    * [[tokenFrequency]]). One explode of size−1 bigrams per doc, map-side
    * combined count, TakeOrdered top-k with a deterministic tie-break. */
  def bigramTop(docs: DataFrame, k: Int): DataFrame =
    docs.select(split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** Shared quality-feature expressions and gate thresholds. The
    * thresholds are the single source for the [[qualityKeep]] gate (d27)
    * and the d50 model's bins ([[QualityModel]]), so the weak label and
    * the features it supervises cannot silently drift apart (and the
    * DuckDB oracle constants have exactly one Scala counterpart each). The
    * expressions compute, per row, the statistics the gate's kernel counts
    * in its byte pass. */
  private[operators] def nonSpaceLen: org.apache.spark.sql.Column =
    length(regexp_replace(col("text"), " ", "")).cast("long")
  private[operators] def punctLen: org.apache.spark.sql.Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
  private[graft] val QualityMinTokens = 10
  private[graft] val QualityMinMeanTokLen = 2.0
  private[graft] val QualityMaxMeanTokLen = 15.0
  private[graft] val QualityMaxPunctRatio = 0.1

  /** Punctuation-mass ratio, NULL when the text is empty: under ANSI mode
    * a bare `punct / length` raises DIVIDE_BY_ZERO on `length(text) = 0`
    * (the token count can never be zero — `split` of "" yields [""] — but
    * the character count can). NULL here mirrors DuckDB's 0.0/0.0 → NaN
    * through every downstream comparison: both fail each `WHEN` arm, so
    * empty docs land in the same ELSE/`otherwise` branch on both engines. */
  private[operators] def punctRatio: org.apache.spark.sql.Column =
    when(length(col("text")) > 0,
      punctLen.cast("double") / length(col("text")).cast("double"))

  /** The C4/Gopher-style keep predicate of [[qualityFilter]], exposed for
    * composition (the corpus pipeline filters by it directly): ≥ 10 tokens,
    * mean token length in [2, 15], punctuation mass ≤ 10% of characters.
    * All exact integer ratios — deterministic in any engine. NULL text
    * yields NULL (three-valued logic): `filter`/`when(...).otherwise`
    * consumers class such rows as drops, which is the d27/d50 contract.
    * Empty text yields false: the token-count conjunct is a hard false and
    * `false AND NULL` (the guarded [[punctRatio]]) is false.
    *
    * Evaluated by the native [[graft.functions.QualityKeep]] expression in
    * one byte pass; its verdict equals the composed
    * [[tokenCount]]/[[nonSpaceLen]]/[[punctRatio]] conjunction on every
    * text (the composed reference lives in the test sources). The scan it
    * filters runs 3–5× faster than with the composed form
    * (plans/MEASUREMENTS.md, "Sorted-run evidence and the native quality
    * gate"). */
  def qualityKeep: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.QualityKeep(
      GraftColumnBridge.expression(col("text")), QualityMinTokens,
      QualityMinMeanTokLen, QualityMaxMeanTokLen, QualityMaxPunctRatio))
  }

  /** D5 — C4/Gopher-style quality filter: keep a document iff it has ≥ 10
    * tokens, mean token length in [2, 15], and punctuation mass ≤ 10% of
    * characters. Emits the per-language audit (kept/dropped/char mass) —
    * the materialization a pipeline acts on. All predicates are exact
    * integer ratios (IEEE division of integers, deterministic in any
    * engine); one scan, one bounded-key aggregate. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    docs.select(col("lang"), col("n_chars"), qualityKeep.as("keep"))
      .groupBy(col("lang"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_drop"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** D5 — TF-IDF top-k terms per language. Score for a (lang, term) is
    * `Σ_docs tf(doc, term) · ln(N / df(term))` — since idf is constant per
    * term, it factors out of the sum, so the score is ONE multiplication of
    * an exact integer sum by `ln` of a ratio of exact integers: the float
    * work is a single deterministic operation per output row, not an
    * order-dependent summation (cross-engine safe).
    *
    * Scale shape: tf is a map-side-combined (doc, term) aggregate, df a
    * term-keyed aggregate, the N relation is 1 row (broadcast); the final
    * top-k window partitions by lang over the per-(lang, term) aggregate —
    * input already reduced to vocab size, bounded per language. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    // materialized: tf feeds BOTH the df relation and the per-(lang, term)
    // score aggregate — without it the explode + first hash aggregate runs
    // twice (no CSE across DataFrame reuse; same rule as the Dedup
    // self-joins)
    val tf = graft.Materialize.stage(docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ", -1)).as("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val df_ = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // tf rows are unique per (doc, term)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.groupBy(col("lang"), col("term"))
      .agg(sum(col("tf")).as("total_tf"))
      .join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("term"), col("total_tf"), col("df"),
        Features.pround(col("total_tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("term"), col("total_tf"), col("df"), col("tfidf"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** D5 — unigram-LM surprisal per document: mean −ln p(token) under the
    * corpus's own unigram distribution — the classic LM-quality filter a
    * training-data pipeline ranks documents by (low = repetitive
    * boilerplate, high = noise; the keep-band is the middle).
    *
    * Cross-engine determinism: each token's surprisal is quantized to
    * integer micro-units (`floor(−ln p · 10⁶ + 0.5)`) BEFORE the per-doc
    * sum, so the aggregate is an order-independent integer sum and the
    * final mean is one exact division — engine float-sum ordering can
    * never flip the result (`ln` itself differs ≤ 1 ulp between libms;
    * at micro quantization a flip needs the pre-round value within
    * ~1e-10 of a .5 boundary — negligible over vocab-sized inputs).
    *
    * Scale shape (r21 — guide §2.3 "aggregate before you shuffle" applied
    * to the MATERIALIZATION too): the per-(doc, term) tf aggregate is
    * map-side-combined and materialized ONCE (it feeds the vocab counts
    * AND the re-join) — the r20 shape checkpointed the raw exploded token
    * relation, writing O(tokens) rows to the block store where O(doc-term
    * pairs) suffice; every downstream quantity is an exact integer
    * function of tf (ct = Σ tf per term, total = Σ ct, per-doc n_tokens =
    * Σ tf, sum_micro = Σ tf·micro(term)) so the results are bit-identical
    * (oracle-pinned). Then a term-keyed aggregate (vocab-sized), a 1-row
    * broadcast total derived FROM the vocab relation (one consumer fewer
    * on the checkpoint, no extra scan), and a doc-keyed integer-sum
    * aggregate — shuffles O(doc-term pairs), never O(tokens). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tf = graft.Materialize.stage(docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // counts stays LAZY (the d49 rule): it feeds the broadcast total and
    // the re-join, but both re-derivations are one vocab-sized aggregate
    // over the materialized tf relation — cheaper than a checkpoint job
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("ct"))
    val total = counts.agg(sum(col("ct")).as("total"))
    tf.join(counts, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        (col("tf") * floor(-log(col("ct").cast("double") / col("total").cast("double")) * 1e6 + 0.5)
          .cast("long")).as("micro"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_tokens"),
        Features.pround(
          col("sum_micro").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** D5 — per-document repetition ratio (the Gopher repetition rule): the
    * fraction of a document's bigrams occupied by its single most frequent
    * bigram — high values flag machine-generated or boilerplate text that
    * per-token surprisal can miss. Ties on count break to the
    * lexicographically smallest bigram (deterministic across engines via
    * `min_by` over the (−count, bigram) composite).
    *
    * Scale: explode O(tokens), two doc-keyed aggregates (map-side
    * combined); docs with < 2 tokens have no bigrams and are excluded. */
  def repetitionRatio(docs: DataFrame): DataFrame = {
    val counts = docs.select(split(col("text"), " ", -1).as("t"), col("doc_id"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        min_by(struct(col("bigram").as("top_bigram"), col("n").as("top_n")),
          struct((-col("n")).as("neg"), col("bigram"))).as("__w"))
      .select(col("doc_id"), col("n_bigrams"),
        col("__w.top_bigram").as("top_bigram"), col("__w.top_n").as("top_n"),
        Features.pround(
          col("__w.top_n").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** D5 — lexical diversity (type-token ratio) per document: distinct
    * tokens / total tokens. Low TTR flags repetitive text from the type
    * side, complementing [[repetitionRatio]]'s sequence side. One scan,
    * no shuffle (per-row array ops), exact integer ratio. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        tokenCount("text").as("n_tokens"), typeCount("text").as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        Features.pround(
          col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))
      .orderBy(col("doc_id"))

  /** D5 — context-window chunking: split each document into sliding
    * token windows of `chunkTokens` advancing by `stride` (overlap =
    * chunkTokens − stride) — the materialization step that turns documents
    * into training sequences. Trailing windows shorter than `chunkTokens`
    * are kept (standard practice; drop them downstream with a length
    * filter if packing instead), but chunking STOPS at the first window
    * that reaches the document's end: a `floor((n−1)/stride)` window
    * count would emit a trailing window that is a pure suffix of the
    * previous one (zero new tokens) whenever stride < n ≤ chunkTokens
    * + k·stride — duplicated training data inflating the materialized
    * set. Window count = 1 + max(0, ceil((n − chunkTokens)/stride)); the
    * coverage property (every token in ≥ 1 window) is test-pinned.
    * Chunks are emitted as (id, token count,
    * content hash) — the hash is the dedup/shuffle-friendly handle; the
    * text itself stays reconstructible from (doc_id, chunk_id, stride).
    *
    * Scale: one scan, explode fan-out = ceil(tokens/stride) per doc —
    * output rows O(corpus tokens / stride), no shuffle until a downstream
    * aggregate. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 50, stride: Int = 40): DataFrame =
    // the global (doc_id, chunk_id) sort is the DECLARED-OUTPUT contract
    // (d33); every pipeline consumer (pack, audit, epoch join) is
    // order-insensitive — the packer sorts within groups itself — so the
    // sort lives here at the entry and the stage variant below omits it
    // (r21, guide §2.4: an orderBy used only to make output deterministic
    // is a range exchange + sort the intermediate must not pay; it was
    // being materialized into the d45 audit's chunk checkpoint)
    chunkDocsUnsorted(docs, chunkTokens, stride)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** [[chunkDocs]] without the output sort: the native
    * [[graft.functions.ChunkWindows]] generator finds each document's
    * token offsets in one byte pass and md5s every window's byte span, so
    * no token array, window slice or joined string is built (the composed
    * split/sequence/slice/concat_ws/md5 form lives in the test sources).
    * NULL text gives no chunks. */
  private[graft] def chunkDocsUnsorted(docs: DataFrame, chunkTokens: Int = 50,
                                       stride: Int = 40): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")
    // stride > chunkTokens would leave inter-window gaps — silent token
    // loss in the materialized training set (caught by the coverage
    // property test); overlap = chunkTokens − stride ≥ 0 is the contract
    require(stride <= chunkTokens,
      s"stride ($stride) must be <= chunkTokens ($chunkTokens): larger strides skip tokens")
    import org.apache.spark.sql.GraftColumnBridge
    docs.select(col("doc_id"), GraftColumnBridge.column(graft.functions.ChunkWindows(
      GraftColumnBridge.expression(col("text")), chunkTokens, stride)))
  }

  /** D5 — sequence packing: assemble [[chunkDocs]] chunks into
    * fixed-token-budget training sequences — the materialization that turns
    * chunks into what a trainer actually consumes. The rule is
    * deterministic and RNG-free (oracle-expressible): chunks are packed in
    * (doc_id, chunk_id) order with NEXT-FIT — a chunk joins the current
    * sequence if it fits, else starts a new one. Sequences never cross
    * PACK GROUPS (`floor(doc_id / docsPerGroup)`), which is what makes the
    * operator distributed: each group packs independently in one task, so
    * parallelism = #groups and per-task memory is bounded by the group's
    * chunk count (docsPerGroup is the knob). seq_id = grp·seqStride +
    * per-group dense sequence index; a group that packs ≥ seqStride
    * sequences raises rather than colliding into the next group's ids.
    *
    * Preconditions: doc_id ≥ 0; every chunk's token count ≥ 1 (a NULL or
    * smaller count raises a named error) and ≤ budget (chunkDocs emits
    * ≤ chunkTokens tokens; an oversize chunk gets a lone over-budget
    * sequence rather than being split).
    *
    * Scale shape: one shuffle to co-locate each group, then one linear
    * next-fit pass per group over its sorted chunk array (the native
    * [[graft.functions.PackSequences]] generator, which emits each
    * sequence's row directly) and the output sort. Per-group cost is the
    * sort plus O(chunks); groups are id-ranged so the output is
    * reproducible under any parallelism. */
  def packChunks(chunks: DataFrame, budget: Int = 512, docsPerGroup: Int = 50,
                 seqStride: Long = 1000000L): DataFrame =
    // ord = doc_id reproduces the historical (doc_id, chunk_id) pack
    // order bit-for-bit: the packer sorts struct(ord, doc_id, chunk_id,
    // n), which for ord ≡ doc_id is the same total order
    packChunksBy(chunks.withColumn("ord", col("doc_id")),
      budget, docsPerGroup, seqStride)

  /** The generalized next-fit packer behind [[packChunks]] (ord =
    * doc_id) and [[epochPackedSequences]] (ord = the epoch permutation
    * rank): chunks are packed in (ord, chunk_id) order within pack
    * groups `floor(ord / ordsPerGroup)`. `ord` must be a non-negative
    * long that is CONSTANT per document (each document's chunks stay
    * consecutive in pack order — the streaming property a sequence
    * loader needs). Everything else — budget rule, seq_id arithmetic,
    * the seqStride and token-count errors, output schema — is
    * [[packChunks]]'s contract verbatim.
    *
    * The group's chunks are collected as structs of (ord, doc_id,
    * chunk_id, n) longs and sorted; [[graft.functions.PackKernel]] walks
    * them once. seq_id = grp·seqStride + seq is injective per (grp, seq),
    * so every sequence lives in exactly one group: one exchange (the grp
    * groupBy) end to end. */
  def packChunksBy(chunks: DataFrame, budget: Int = 512, ordsPerGroup: Int = 50,
                   seqStride: Long = 1000000L): DataFrame = {
    require(budget >= 1 && ordsPerGroup >= 1, "budget and ordsPerGroup must be >= 1")
    import org.apache.spark.sql.GraftColumnBridge
    val packed = chunks.select(
        floor(col("ord") / ordsPerGroup).cast("long").as("grp"),
        col("ord").cast("long").as("ord"), col("doc_id").cast("long").as("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("n_chunk_tokens").cast("long").as("n"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("ord"), col("doc_id"), col("chunk_id"),
        col("n")))).as("cs"))
      .select(GraftColumnBridge.column(graft.functions.PackSequences(
        GraftColumnBridge.expression(col("grp")), GraftColumnBridge.expression(col("cs")),
        budget, seqStride)))
    packed.select(col("seq_id"), col("n_chunks"), col("chunk_ids"), col("total_tokens"),
        Features.pround(col("total_tokens").cast("double") / budget, 6).as("fill_ratio"))
      .orderBy(col("seq_id"))
  }

  /** D5 — PII/pattern scrub (the C4-style cleanup pass): redact emails,
    * phone numbers, and dotted-quad IPs with class tokens, emitting per-doc
    * redaction counts plus the scrubbed text's hash and length — the audit
    * a pipeline materializes before training. Patterns are restricted to
    * syntax with identical semantics in Java regex and RE2 (character
    * classes, `\\d`, `\\b`, bounded repetition), and the scrub is applied
    * in a FIXED order (email → phone → IP) with each class counted on the
    * text state it is applied to, so both engines walk the same string.
    * Replacement tokens contain no digits or '@', so later passes can
    * never match inside an earlier redaction.
    *
    * Scale: one scan, per-row regexp built-ins only (codegen'd), no
    * shuffle — scan-bound at any corpus size. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val afterEmail = regexp_replace(col("text"), email, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phone, "<PHONE>")
    val scrubbed = regexp_replace(afterPhone, ip, "<IP>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
      regexp_count(afterEmail, lit(phone)).cast("long").as("n_phones"),
      regexp_count(afterPhone, lit(ip)).cast("long").as("n_ips"),
      length(scrubbed).cast("long").as("scrubbed_len"),
      md5(scrubbed.cast("binary")).as("scrubbed_hash"))
      .orderBy(col("doc_id"))
  }

  /** Marker lexicons for [[languageId]] — single source of truth for both
    * the Spark classifier and the declared oracle SQL (SparkEntry builds
    * the DuckDB CASE chain from this map). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  /** Language-ID heuristic: score each candidate language by stopword-list
    * hits and argmax (ties break to the alphabetically-first language; zero
    * hits → "und"). The marker lists are plain literals, so the whole
    * classifier is SQL-expressible — [[langConfusion]] is the declared,
    * oracle-checked form; ScalaTest covers determinism and tie-breaks.
    *
    * Scale: per-row array ops only (split + filter + greatest), no shuffle —
    * a pure scan-bound pass at any corpus size. */
  def languageId(docs: DataFrame): DataFrame = {
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(split(text, ' '), t -> t IN ($list)))").as(s"score_$l")
    }
    val scored = docs.select(col("doc_id") +: col("lang").as("true_lang") +: scores: _*)
    // argmax via greatest + chained when (deterministic tie-break by lang order)
    val maxScore = greatest(langMarkers.keys.toSeq.sorted.map(l => col(s"score_$l")): _*)
    val pred = langMarkers.keys.toSeq.sorted.foldRight(lit("und"): org.apache.spark.sql.Column) {
      (l, acc) => when(col(s"score_$l") === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** D5 — language-ID confusion matrix: labeled `lang` × [[languageId]]
    * prediction with counts. The audit view a pipeline monitors when the
    * labeled language metadata and the content-based classifier disagree
    * (disagreement mass = mislabeled or mixed-language documents).
    * One scan (classifier is shuffle-free) + one bounded-key aggregate. */
  def langConfusion(docs: DataFrame): DataFrame =
    languageId(docs)
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred_lang"))

  /** D1/D5 — deterministic domain mixing: the keep predicate for
    * downsampling each `source` to its configured rate via the key-modulus
    * rule `pmod(doc_id, m) < rate·m` — the data-mixing step that
    * rebalances a corpus's source composition before training. RNG-free,
    * so the mix is reproducible run-to-run AND oracle-able; if ids
    * correlate with content at production scale, substitute
    * `xxhash64(doc_id)` for the raw key (same shape, engine-local hash). */
  def domainMixKeep(rates: Map[String, Double], defaultRate: Double = 1.0,
                    m: Int = 1000): org.apache.spark.sql.Column = {
    val rate = rates.toSeq.sortBy(_._1).foldRight(lit(defaultRate)) {
      case ((s, r), acc) => when(col("source") === s, lit(r)).otherwise(acc)
    }
    pmod(col("doc_id"), lit(m.toLong)) < rate * m
  }

  /** D1/D5 — temperature-based mixture weights (the GPT-3/PaLM mixing
    * rule, Brown et al. 2020 §2.2 / Chowdhery et al. 2022 Table 2 —
    * public method): each source's sampling weight ∝ mass^T for
    * temperature T ∈ (0, 1], so low-resource sources are up-weighted
    * relative to their raw share (T = 1 is proportional sampling, T → 0
    * approaches uniform). Emits per source: doc count, char mass, raw
    * share, the temperature weight, and `effective_epochs` — how many
    * passes over that source one epoch of the MIXED stream implies
    * (weight · total_mass / source_mass), the overfitting-risk number a
    * data engineer actually checks (PaLM caps it; >1 means the source
    * repeats within an epoch).
    *
    * Complements [[domainMix]]: that audits a hand-CONFIGURED rate map;
    * this DERIVES the rates from observed mass. Float discipline: mass
    * and counts are exact integer sums; pow/divisions happen once per
    * SOURCE (a handful of rows), pround(6) for the oracle compare.
    *
    * Scale: one scan, one #sources-key aggregate, the 1-row total
    * broadcast-attached (the repo's stat-attachment pattern) — never a
    * window, independent of corpus size. A NULL source is its own
    * mixture component (a real upstream population the mix must budget
    * for, grouped as SQL's NULL group in both engines). */
  def temperatureMix(docs: DataFrame, temperature: Double = 0.7): DataFrame = {
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature must be in (0, 1], got $temperature")
    // materialized: feeds the driver totals AND the final projection
    val perSource = graft.Materialize.stage(docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        // NULL n_chars (hostile row) contributes nothing — sum skips it
        sum(col("n_chars")).as("char_mass")))
    // totals folded on the driver in SORTED source order: an in-plan
    // sum(pow(...)) merges double partials in shuffle-arrival order
    // (layout-nondeterministic, the class the integer-sum discipline
    // exists for) — here the relation is #sources-bounded metadata, so
    // the deterministic shape is a fixed-order driver fold entering the
    // plan as literals (the exactPercentiles/quantileFlag eager-fit
    // contract: refit by calling again)
    val rows = perSource.collect().sortBy(r => Option(r.getAs[String]("source")))
    val masses = rows.map(r => if (r.isNullAt(2)) 0L else r.getAs[Long]("char_mass"))
    val totalMass = masses.sum
    val totalPow = masses.map(m => math.pow(m.toDouble, temperature)).sum
    // a zero/NULL-mass source has no share/weight/epochs — NULL via the
    // `when` guard (when(NULL > 0) is false), not a 0/0 NaN
    def guarded(c: org.apache.spark.sql.Column) = when(col("char_mass") > 0, c)
    perSource
      .select(col("source"), col("n_docs"), col("char_mass"),
        guarded(Features.pround(col("char_mass").cast("double") / totalMass, 6))
          .as("raw_share"),
        guarded(Features.pround(
          pow(col("char_mass").cast("double"), lit(temperature)) / totalPow, 6))
          .as("weight"),
        guarded(Features.pround(
          pow(col("char_mass").cast("double"), lit(temperature)) / totalPow *
            totalMass / col("char_mass").cast("double"), 6))
          .as("effective_epochs"))
      .orderBy(col("source"))
  }

  /** D1/D5 — domain-mix audit: per-source total/kept doc counts and kept
    * char mass under [[domainMixKeep]] — the view a pipeline checks before
    * materializing the mix (`docs.filter(domainMixKeep(...))`). One scan,
    * one #sources-key aggregate. */
  def domainMix(docs: DataFrame, rates: Map[String, Double],
                defaultRate: Double = 1.0, m: Int = 1000): DataFrame =
    docs.select(col("source"), col("n_chars"),
        domainMixKeep(rates, defaultRate, m).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))

  /** D1/D5 — content-addressed train/val/test split: each document's
    * split is a pure function of `md5(text)`, so (a) it is stable across
    * runs, partition layouts, and engines (no RNG, nothing to seed or
    * persist), (b) exact duplicates land in the SAME split — a held-out
    * set can never leak a training document's copy (the contamination
    * class d44/d53 audit for), and (c) re-ingesting a grown corpus never
    * reshuffles previously-assigned documents across the boundary.
    *
    * The bucket is the first hex byte of the digest (256 uniform buckets)
    * compared LEXICOGRAPHICALLY against two-hex-char fences, avoiding
    * hex→int parsing that engines disagree on; `trainBuckets`/`valBuckets`
    * are bucket counts out of 256 (defaults ≈ 80/10/10). NULL text has no
    * content to address → NULL split (the caller's quarantine decision,
    * not silently "test"). Zero shuffle — a codegen'd projection the scan
    * pipelines; the trailing sort exists only for the oracle compare. */
  /** The split-fence CASE over an arbitrary text column — ONE definition
    * shared by [[hashSplit]] (a document's own text) and
    * [[componentSplit]] (its representative's text), so the two
    * assignments can never drift apart. */
  def splitColumn(text: org.apache.spark.sql.Column, trainBuckets: Int = 204,
                  valBuckets: Int = 26): org.apache.spark.sql.Column = {
    require(trainBuckets > 0 && valBuckets > 0 &&
      trainBuckets + valBuckets < 256, "bucket fences must partition 0..255")
    def fence(n: Int): String = f"$n%02x"
    val bucket = substring(md5(text.cast("binary")), 1, 2)
    when(text.isNull, lit(null).cast("string"))
      .when(bucket < fence(trainBuckets), lit("train"))
      .when(bucket < fence(trainBuckets + valBuckets), lit("val"))
      .otherwise(lit("test"))
  }

  def hashSplit(docs: DataFrame, trainBuckets: Int = 204,
                valBuckets: Int = 26): DataFrame =
    docs.select(col("doc_id"),
        splitColumn(col("text"), trainBuckets, valBuckets).as("split"))
      .orderBy(col("doc_id"), col("split"))

  /** D1/D5 — leakage-safe (group-aware) split: every member of a near-dup
    * COMPONENT gets the split of the component's min-id representative, so
    * near-duplicates can never straddle the train/test boundary —
    * [[hashSplit]]'s no-leak property only covers EXACT copies (identical
    * text → identical hash); paraphrases and boilerplate variants need the
    * dedup evidence folded in. `components` is the (id, comp) relation
    * [[graft.operators.Dedup.connectedComponents]] emits (comp = min
    * member id); documents without a row there are singletons and split by
    * their own text — identical to [[hashSplit]] for them.
    *
    * Scale: two id-keyed equijoins (attach comp, fetch the
    * representative's SPLIT) around the same zero-shuffle fence
    * projection — the component relation is the near-dup pipeline's
    * existing artifact, not a new computation. `splitColumn` is a pure
    * function of text, so it is computed on the rep side BEFORE the join:
    * the rep-side shuffle carries a (rep_id, split) relation (~16
    * bytes/row) instead of every document's full text — at corpus scale
    * that is the difference between a trivial and a dominant exchange,
    * and the result is bit-identical because both forms evaluate the one
    * shared `splitColumn` definition on the same text.
    *
    * Row contract: a NULL-id document has no identity in a grouped split
    * and is dropped (its rep_id is NULL — no row can match it). A member
    * whose non-NULL representative id is ABSENT from `docs` (a stale or
    * externally-built `components` relation) is KEPT with a NULL split —
    * the same quarantine signal as NULL text, not a silent row loss;
    * under the pipeline's own components (comp = min member id, always
    * present) the case never arises. */
  def componentSplit(docs: DataFrame, components: DataFrame): DataFrame = {
    val withRep = docs
      .join(components.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep_id"))
      .where(col("rep_id").isNotNull)
    val repSplit = docs.where(col("doc_id").isNotNull)
      .select(col("doc_id").as("rep_id"), splitColumn(col("text")).as("split"))
    withRep.join(repSplit, Seq("rep_id"), "left")
      .select(col("doc_id"), col("rep_id"), col("split"))
      .orderBy(col("doc_id"), col("split"), col("rep_id"))
  }

  /** D5 — deterministic epoch shuffle: a seeded, reproducible global
    * permutation of the corpus — the "shuffle the training data each
    * epoch, identically on every re-run" step a data loader otherwise
    * improvises. The permutation key is `md5(seed ":" doc_id)` (engine-
    * portable, uniform, changes completely per seed); `rank` is the
    * row's 1-based position in that order.
    *
    * Scale shape: this is hash-keyed TeraSort, NOT a window —
    * range-repartition by the key, sort within partitions, then assign
    * global ranks as partition offset + local index (the
    * [[Metrics.rangeRanked]] order-statistics pass, shared with
    * exactMedian and priceQuartiles; a `row_number()` over a global ORDER BY
    * would put the whole corpus through one task, the plan shape
    * PlanLint bans). Only the tiny per-partition counts reach the
    * driver. A NULL doc_id has no identity in the permutation and is
    * dropped (the oracle mirrors: WHERE doc_id IS NOT NULL). */
  def epochShuffle(docs: DataFrame, seed: Int = 0): DataFrame = {
    val keyed = docs
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id")).cast("binary"))
          .as("shuffle_key"))
    val sorted = Metrics.rangeRanked(keyed, 0, col("shuffle_key"), col("doc_id"))
    val offsets = sorted.offsets
    val ranked = sorted.rows.mapPartitionsWithIndex { (pid, it) =>
      var rn = offsets(pid)
      it.map { row => rn += 1L; (rn, row.getLong(0), row.getString(1)) }
    }
    docs.sparkSession.createDataFrame(ranked)
      .toDF("shuffle_rank", "doc_id", "shuffle_key")
      .orderBy(col("shuffle_rank"))
  }

  /** D5 — the data-loader materialization: [[epochShuffle]]'s seeded
    * permutation driving [[packChunksBy]]'s next-fit packing — i.e. what
    * a trainer's input pipeline actually consumes each epoch: documents
    * visited in the epoch's shuffle order, chunked, and packed into
    * fixed-budget sequences whose pack groups follow the PERMUTATION
    * (grp = floor(rank−1 / 50)), not document-id locality. A new seed
    * re-shuffles the corpus into a different packing; the same seed
    * reproduces it bit-for-bit on any layout (both parents are
    * layout-invariant and RNG-free).
    *
    * Scale shape: the rank relation is (doc_id, ord) — 16 bytes/row —
    * joined to chunks on doc_id (id-keyed equijoin, chunk text never
    * materialized: chunks carry counts and hashes only), then the d41
    * next-fit pass with parallelism = #groups ≈ corpus/50. One TeraSort
    * (epochShuffle) + two shuffles (join, pack groupBy). */
  def epochPackedSequences(docs: DataFrame, seed: Int = 0, budget: Int = 512,
                           docsPerGroup: Int = 50,
                           seqStride: Long = 1000000L): DataFrame = {
    val ranks = epochShuffle(docs, seed)
      .select(col("doc_id"), (col("shuffle_rank") - 1L).as("ord"))
    val chunks = chunkDocsUnsorted(docs)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
    packChunksBy(chunks.join(ranks, "doc_id"), budget, docsPerGroup, seqStride)
  }
}
