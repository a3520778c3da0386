package graft.reference

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.operators.Features

/** Parity references for the corpus tail's native kernels, kept beside
  * the tests that pin the kernels to them: the builtin-function forms the
  * production code used before each kernel replaced it.
  *  - [[composedChunkDocsUnsorted]]: `split`/`sequence`/`slice`/
  *    `concat_ws`/`md5`, replaced by `ChunkWindows`;
  *  - [[composedPackChunksBy]]: the `aggregate`/`array_append` next-fit
  *    fold, its `transform`/`filter` explode and its `array_join`/
  *    `aggregate` columns, replaced by `PackSequences`;
  *  - [[composedDistinctShingles]]: `array_distinct` over the shingle
  *    array, replaced by the distinct form of `ShingleMd5s`;
  *  - [[antiJoinWinners]]: the anti-join against a local relation of the
  *    non-root ids, replaced on the driver path by `InSortedIds`. */
object CorpusTailReference {

  def composedChunkDocsUnsorted(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0, greatest(0, " +
            s"CAST(ceil((size(t) - $chunkTokens) / CAST($stride AS DOUBLE)) AS INT)))"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"slice(t, chunk_id * $stride + 1, $chunkTokens)").as("c"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c")).cast("binary")).as("chunk_hash"))

  def composedPackChunksBy(chunks: DataFrame, budget: Int, ordsPerGroup: Int,
                           seqStride: Long): DataFrame = {
    def checkedSeq = when(col("sq.seq") < seqStride, col("sq.seq"))
      .otherwise(raise_error(concat(
        lit(s"packChunks: per-group sequence index reached seqStride ($seqStride) in grp "),
        col("grp").cast("string"),
        lit(" — raise seqStride or lower ordsPerGroup"))))
    chunks.select(
        floor(col("ord") / ordsPerGroup).cast("long").as("grp"),
        col("ord"), col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("ord"), col("doc_id"), col("chunk_id"),
        col("n_chunk_tokens").as("n")))).as("cs"))
      .select(col("grp"), expr(
        s"""aggregate(cs,
             named_struct(
               'out', cast(array() as array<struct<ord:bigint,doc_id:bigint,chunk_id:bigint,n:bigint,seq:bigint>>),
               'fill', cast($budget as bigint),
               'seq', cast(-1 as bigint)),
             (acc, x) -> named_struct(
               'out', array_append(acc.out, named_struct(
                 'ord', x.ord, 'doc_id', x.doc_id, 'chunk_id', x.chunk_id, 'n', x.n,
                 'seq', if(acc.fill + x.n > $budget, acc.seq + 1, acc.seq))),
               'fill', if(acc.fill + x.n > $budget, x.n, acc.fill + x.n),
               'seq', if(acc.fill + x.n > $budget, acc.seq + 1, acc.seq))
           ).out""").as("out"))
      .select(col("grp"), explode(expr(
        """transform(sequence(0, out[size(out) - 1].seq), s -> named_struct(
             'seq', s, 'chunks', filter(out, x -> x.seq = s)))""")).as("sq"))
      .select((col("grp") * seqStride + checkedSeq).as("seq_id"),
        size(col("sq.chunks")).cast("long").as("n_chunks"),
        expr("array_join(transform(sq.chunks, " +
          "c -> concat(cast(c.doc_id as string), ':', cast(c.chunk_id as string))), ',')")
          .as("chunk_ids"),
        expr("aggregate(sq.chunks, cast(0 as bigint), (a, c) -> a + c.n)")
          .as("total_tokens"))
      .select(col("seq_id"), col("n_chunks"), col("chunk_ids"), col("total_tokens"),
        Features.pround(col("total_tokens").cast("double") / budget, 6).as("fill_ratio"))
      .orderBy(col("seq_id"))
  }

  def composedDistinctShingles(text: Column, k: Int): Column =
    array_distinct(GraftColumnBridge.column(graft.functions.ShingleMd5s(
      GraftColumnBridge.expression(text), k)))

  def antiJoinWinners(df: DataFrame, id: String, nonRoots: Seq[Long]): DataFrame = {
    import df.sparkSession.implicits._
    df.filter(col(id).isNotNull)
      .join(nonRoots.toDF("__non_root"), col(id) === col("__non_root"), "left_anti")
  }
}
