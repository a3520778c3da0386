package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus
import graft.reference.AuditReference

/** The corpus audit read from the staging jobs' observed metrics
  * (`Corpus.auditOf`) against the union-aggregate reference over the same
  * stage relations, under every stage-storage strategy, and the pipeline
  * output with the edge count's over-bound fallback forced. */
class AuditParitySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private val rates = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  private def docs: DataFrame = Tables.documents(spark, sfDir)

  private def rows(audit: DataFrame): Seq[(String, Long, Long)] =
    audit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private val observedStages = Seq("00_raw", "01_quality", "02_dedup", "03_mixed", "04_chunks")

  /** The observed audit of `docs0` against the reference; returns the rows
    * and whether they were observed (rather than aggregated). */
  private def assertAuditParity(docs0: DataFrame): (Seq[(String, Long, Long)], Boolean) = {
    val s = Corpus.stages(docs0, rates, audit = true)
    val got = rows(Corpus.auditOf(docs0, s))
    assert(got == AuditReference.unionAudit(docs0, s))
    val observed = observedStages.map(st => s"graft_audit_$st").toSet
    assert(s.observed.isEmpty || s.observed.keySet == observed, s.observed.keySet)
    (got, s.observed.nonEmpty)
  }

  private def withStrategy[T](strategy: String)(body: => T): T = {
    spark.conf.set("spark.graft.stageStorage", strategy)
    try body
    finally {
      spark.conf.unset("spark.graft.stageStorage")
      Materialize.releaseStages(spark)
    }
  }

  test("observed audit equals the union aggregate under local, disk and reliable") {
    val (local, observedLocal) = assertAuditParity(docs)
    assert(observedLocal, "local strategy: the audit rows were not observed")
    assert(local.map(_._1) == observedStages :+ "05_sequences")
    assert(local.forall(r => r._2 > 0 && r._3 > 0), local)
    // disk and reliable run another execution: no metric, every row aggregated
    for (strategy <- Seq("disk", "reliable")) withStrategy(strategy) {
      val (rowsOf, observed) = assertAuditParity(docs)
      assert(!observed, s"$strategy: a metric was read from another execution")
      assert(rowsOf == local, strategy)
    }
  }

  test("trainingSequencesWithAudit: audit equals pipelineAudit and describes the returned output") {
    val (packed, audit) = Corpus.trainingSequencesWithAudit(docs, rates)
    val got = rows(audit)
    assert(got == rows(Corpus.pipelineAudit(docs, rates)))
    val Seq(seqRow) = got.filter(_._1 == "05_sequences")
    val out = packed.agg(count(lit(1)), sum(col("total_tokens"))).head()
    assert((seqRow._2, seqRow._3) == (out.getLong(0), out.getLong(1)))
  }

  test("an empty stage reads (0, 0): every doc fails quality, and an empty corpus") {
    import spark.implicits._
    val junk = (1L to 6L).map(i => (i, "too short", "en", "src1", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (got, observed) = assertAuditParity(junk)
    assert(observed)
    assert(got.head == (("00_raw", 6L, 12L)))
    assert(got.tail.forall(r => r._2 == 0L && r._3 == 0L), got)
    val (none, _) = assertAuditParity(junk.filter(lit(false)))
    assert(none.forall(r => r._2 == 0L && r._3 == 0L), none)
  }

  test("pipeline output and audit are unchanged when the edge count falls back past the bound") {
    def sorted(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq
    val driver = Corpus.stages(docs, rates, audit = true)
    val fallback = Corpus.stages(docs, rates, audit = true, driverEdgeBound = 0)
    assert(sorted(fallback.packed) == sorted(driver.packed))
    assert(rows(Corpus.auditOf(docs, fallback)) == rows(Corpus.auditOf(docs, driver)))
    // the winners differ from the kept docs: the dedup is not vacuous
    assert(driver.deduped.count() < driver.kept.count())
  }
}
