package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JVM-local bomb counter. A top-level object is reached through a static
  * accessor (`MODULE$`), not captured into the serialized task closure, so
  * executor threads in local mode increment THIS instance — a closure
  * capturing an AtomicInteger field would deserialize into a private copy
  * and the assertions below would read zero. */
object TaskReplayBombs {
  val fired = new AtomicInteger(0)
}

/** Task-replay determinism: every flagship operator must produce the SAME
  * result when Spark re-executes a failed task — the cluster failure mode
  * (stragglers, preemption, executor loss, speculative duplicates) that
  * local happy-path runs never exercise. The fixture runs `local[4, 2]`
  * (maxFailures = 2), and each test wires a pass-through UDF into the
  * input scan that throws on a task's FIRST attempt in partition 0 —
  * every job over the input loses a task and finishes on the retry.
  *
  * What this proves, that the oracle gate can't: replay safety. A task
  * re-execution re-runs the whole partition, so any operator state that
  * escapes the task before it fails (a half-written shuffle block is
  * discarded by Spark, but e.g. a driver-side mutable accumulation, a
  * non-idempotent sink, or RNG drawn per-attempt would not be) corrupts
  * the result exactly once per failure — invisible at test SF where tasks
  * never fail, routine at 100 TB where thousands do.
  */
class TaskReplaySpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  /** Pass-through over doc_id that fails each (stage, partition 0) task
    * once: attempt 0 throws after counting itself, attempt 1 passes. */
  private def bombed(docs: DataFrame): DataFrame = {
    val bomb = udf { (id: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        TaskReplayBombs.fired.incrementAndGet()
        throw new RuntimeException("planted first-attempt task failure")
      }
      id
    }
    docs.filter(bomb(col("doc_id")) >= 0L)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.toJSON.collect().sorted.toSeq

  private def docs: DataFrame = Tables.documents(spark, sfDir)

  /** `bombed` passes rows through via `bomb(doc_id) >= 0L`, which would
    * silently DROP null/negative ids — the bombed input would then differ
    * from the clean input and every assertion below would report a bogus
    * "result changed under task replay". Pin the fixture shape once so a
    * data change fails loudly as a fixture problem instead. (A tautology
    * filter like `bomb(id).isNotNull || lit(true)` is not an option:
    * BooleanSimplification folds `deterministic-expr OR true` away and the
    * bomb would never plan, tripping the non-vacuity assert.) */
  private lazy val fixtureShapeChecked: Unit = {
    val bad = docs.filter(col("doc_id").isNull || col("doc_id") < 0L).count()
    assert(bad == 0L, s"fixture problem: $bad null/negative doc_ids — " +
      "bombed() would silently drop them; use a different pass-through")
  }

  private def assertReplaySafe(name: String, op: DataFrame => DataFrame): Unit = {
    fixtureShapeChecked
    val before = TaskReplayBombs.fired.get()
    val clean = rows(op(docs))
    val replayed = rows(op(bombed(docs)))
    assert(TaskReplayBombs.fired.get() > before,
      s"$name: the planted failure never fired — the test proved nothing")
    assert(replayed == clean, s"$name: result changed under task replay")
  }

  test("corpus pipeline (d43 shape) is replay-safe through checkpoints and " +
      "the component loop") {
    assertReplaySafe("trainingSequences",
      d => operators.Corpus.trainingSequences(d,
        Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)))
  }

  test("corpus pipeline (d43 shape) is replay-safe under stageStorage=disk, " +
      "and the release contract holds after a planted failure") {
    // the one replay-relevant branch the default-strategy test never
    // exercises: Materialize.stage's register-BEFORE-count path — the bomb
    // fires inside the eager count() that materializes the DISK_ONLY
    // stage, so the persist handle must already be registered when the
    // failed attempt's partial blocks land, or releaseStages would leak
    // them on the retry path
    spark.conf.set("spark.graft.stageStorage", "disk")
    try {
      def diskStages = spark.sparkContext.getPersistentRDDs.values
        .filter(_.getStorageLevel ==
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      assertReplaySafe("trainingSequences[stageStorage=disk]",
        d => operators.Corpus.trainingSequences(d,
          Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)))
      // both passes (clean + bombed) persisted stages, the bombed pass
      // through a materialization job that lost and replayed a task —
      // release must still drop every DISK_ONLY block this module stored
      assert(diskStages.nonEmpty,
        "disk strategy never persisted a stage — the test proved nothing")
      Materialize.releaseStages(spark)
      assert(diskStages.isEmpty,
        "releaseStages left DISK_ONLY stage blocks behind after a " +
          "planted task failure")
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      Materialize.releaseStages(spark)
    }
  }

  test("corpus pipeline (d43 shape) is replay-safe under stageStorage=reliable") {
    // the bomb fires in the stage's first computation (the eager count
    // that populates the transient DISK_ONLY blocks feeding the
    // checkpoint write); the failed attempt's partial state is discarded
    // and the retry recomputes the partition — the executor-host-loss
    // durability story depends on this materialization path being
    // replay-clean end-to-end
    spark.conf.set("spark.graft.stageStorage", "reliable")
    try {
      assertReplaySafe("trainingSequences[stageStorage=reliable]",
        d => operators.Corpus.trainingSequences(d,
          Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)))
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
    }
  }

  test("corpus pipeline (d43 shape) is replay-safe on the broadcast-filter path, and a " +
      "retried filter task re-reads the broadcast non-root ids") {
    val rates = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
    // this fixture's near-dup edges are labelled on the driver, so the
    // winner filter is the broadcast sorted-id predicate, with no
    // broadcast exchange
    val plan = operators.Corpus.trainingSequences(docs, rates)
      .queryExecution.executedPlan.toString
    assert(plan.contains("in_sorted_ids") && !plan.contains("BroadcastExchange"), plan)
    assertReplaySafe("trainingSequences[broadcast filter]",
      d => operators.Corpus.trainingSequences(d, rates))
    // the pipeline's filter reads a staged relation, so the planted failure
    // above fires in the staging job; here it fires in the filter's own
    // stage, and the retried task re-initializes the predicate from the
    // broadcast
    val nonRoots = docs.select(col("doc_id")).filter(pmod(col("doc_id"), lit(3L)) === 0L)
      .collect().map(_.getLong(0)).sorted
    assert(nonRoots.nonEmpty)
    assertReplaySafe("withoutNonRoots[broadcast]",
      d => operators.Dedup.withoutNonRoots(d.select(col("doc_id"), col("text")), "doc_id",
        Left(nonRoots)))
  }

  test("corpus audit (d45 shape) is replay-safe: rows observed on the staging jobs stay exact") {
    // the audit's stage rows are accumulator metrics of the kept and chunk
    // staging jobs; a failed first attempt's updates must not be merged, so
    // the bombed run's rows equal the clean run's
    assertReplaySafe("pipelineAudit",
      d => operators.Corpus.pipelineAudit(d,
        Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)))
  }

  test("decontamination (d44 shape, bloom-prune path included) is replay-safe") {
    assertReplaySafe("decontaminate", { d =>
      val train = d.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
      val bench = d.filter(pmod(col("doc_id"), lit(97L)) === 0L)
      operators.Corpus.decontaminate(train, bench, shingleK = 4)
    })
  }

  test("exact dedup materialization (d20 shape, min_by groupBy) is replay-safe") {
    assertReplaySafe("dedupDocuments", operators.TextOps.dedupDocuments(_))
  }

  test("minhash near-dups (d15 shape, banded LSH self-join) is replay-safe") {
    assertReplaySafe("minhashNearDups",
      operators.Dedup.minhashNearDups(_, minSim = 0.5, bands = 8, rowsPerBand = 4))
  }

  test("model-based quality scoring (d50 shape, train + score) is replay-safe") {
    // the bomb fires in BOTH jobs over the input: the training count
    // aggregate (collected into the literal-weight model) and the score
    // projection — integer counts make the replayed model bit-identical
    assertReplaySafe("qualityScores", operators.QualityModel.qualityScores(_))
  }
}
