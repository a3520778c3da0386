package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiler's modes on the shared test session: `time` records, the
  * `--ab` arm interleaving, and `plans` files. */
class ProfileSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private val quiet: String => Unit = _ => ()

  test("time: one record per query, build + exec within wall, d43 runs more jobs than x10") {
    val names = Seq("x10_pricing_summary", "d43_training_sequences")
    val recs = Profile.time(spark, names, sfDir, reps = 1, log = quiet)
    assert(recs.map(_.query) == names)
    recs.foreach { r =>
      assert(r.error.isEmpty, r.error)
      assert(r.rows > 0, r)
      assert(r.buildS + r.execS <= r.wallS, r)
      assert(r.jobs.nonEmpty && r.stages >= 1 && r.tasks >= r.stages, r)
      assert(r.gapS >= 0.0, r)
    }
    val Seq(x10, d43) = recs
    assert(d43.jobs.size > x10.jobs.size, (x10.jobs.size, d43.jobs.size))
  }

  test("time --sink: noop writes every row, count counts them; each rep records its codegen compiles") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val q = Seq("d41_packed_sequences")
    val before = compiled
    val Seq(count) = Profile.time(spark, q, sfDir, reps = 1, log = quiet)
    val Seq(noop) = Profile.time(spark, q, sfDir, reps = 1, sink = "noop", log = quiet)
    val delta = compiled - before
    assert(count.sink == "count" && count.rows > 0 && count.error.isEmpty, count)
    assert(noop.sink == "noop" && noop.rows == -1L && noop.error.isEmpty, noop)
    assert(noop.jobs.nonEmpty && noop.execS > 0.0, noop)
    // the counters are the JVM's codegen-cache misses during each rep
    assert(count.compiles + noop.compiles == delta, (count.compiles, noop.compiles, delta))
    Seq(count, noop).foreach(r => assert(r.compiles >= 0 && (r.compileMs > 0.0) == (r.compiles > 0), r))
    intercept[IllegalArgumentException](Profile.time(spark, q, sfDir, reps = 1, sink = "show", log = quiet))
  }

  test("time --ab: arm order alternates across reps, both arms return the same rows") {
    val ab = Profile.Ab.parse("spark.graft.stageStorage=local,disk")
    val before = spark.conf.getOption(ab.key)
    val recs = Profile.time(spark, Seq("d14_cosine_topk"), sfDir, reps = 2,
      ab = Some(ab), log = quiet)
    assert(recs.map(r => (r.rep, r.arm)) ==
      Seq((1, Some("local")), (1, Some("disk")), (2, Some("disk")), (2, Some("local"))))
    assert(recs.forall(_.error.isEmpty), recs.flatMap(_.error))
    assert(recs.map(_.rows).distinct == Seq(recs.head.rows) && recs.head.rows > 0)
    assert(spark.conf.getOption(ab.key) == before, "ab key not restored")
    val (perQuery, median) = Profile.abRatios(recs, ab)
    assert(perQuery.map(_._1) == Seq("d14_cosine_topk") && median > 0.0)
  }

  test("time: d17's simhash-band materialization job carries a mat[...] label") {
    val Seq(rec) = Profile.time(spark, Seq("d17_simhash_neardups"), sfDir, reps = 1, log = quiet)
    assert(rec.error.isEmpty, rec.error)
    assert(rec.jobs.exists(_.description.startsWith("mat[")), rec.jobs)
  }

  test("plans: one formatted-plan file per query") {
    val out = Files.createTempDirectory("graft_plans")
    val names = Seq("x1_revenue_by_nation", "d14_cosine_topk")
    val files = Profile.plans(spark, names, sfDir, out, "t")
    assert(files.map(_.getFileName.toString) == names.map(n => s"${n}_t.txt"))
    val listed = Files.list(out)
    try assert(listed.count() == names.size) finally listed.close()
    files.foreach(f => assert(Files.readString(f).startsWith("== Physical Plan =="), f))
  }
}
