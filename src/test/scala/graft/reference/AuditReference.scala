package graft.reference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Corpus

/** The corpus audit as one stage-keyed aggregate over the union of the six
  * stage relations — the shape the observed audit (`Corpus.auditOf`)
  * replaces, with the composed token count. */
object AuditReference {

  /** (stage, n_rows, n_tokens) in stage order; a stage with no rows reads
    * (0, 0). */
  def unionAudit(docs0: DataFrame, s: Corpus.Stages): Seq[(String, Long, Long)] = {
    val text = EvidenceReference.composedTokenCount("text")
    val stages = Seq(
      "00_raw" -> (docs0, text),
      "01_quality" -> (s.kept, text),
      "02_dedup" -> (s.deduped, text),
      "03_mixed" -> (s.mixed, text),
      "04_chunks" -> (s.chunks, col("n_chunk_tokens")),
      "05_sequences" -> (s.packed, col("total_tokens")))
    val counted = stages.map { case (stage, (df, tok)) =>
      df.select(lit(stage).as("stage"), tok.cast("long").as("tok"))
    }.reduce(_ unionByName _)
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_rows"), sum(col("tok")).as("n_tokens"))
      .collect().map(r => r.getString(0) -> r).toMap
    stages.map { case (stage, _) =>
      counted.get(stage).fold((stage, 0L, 0L)) { r =>
        (stage, r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
      }
    }
  }
}
