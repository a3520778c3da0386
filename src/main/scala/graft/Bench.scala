package graft

/** Benchmark main — times every declared query at
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Methodology (changed round 3 after measurement): the round-2
  * "regression" on untouched queries was cold-start position, not
  * checkpoint-block pressure (`tools.Profile time` prints the block-manager
  * footprint per query, the check that ruled it out) — a query's first
  * execution pays whole-stage codegen compilation + JIT, worth 2-5× its
  * steady-state time, and the
  * hash-ordered query Map reshuffles which queries run cold whenever a
  * query is added. So the bench now (1) runs EVERY query once untimed at
  * the smallest available SF (same plans → same generated classes → codegen
  * and JIT are warm, at ~1% of the data cost), (2) times queries in sorted
  * order so the sequence is stable across rounds, (3) unpersists any
  * leaked persistent RDDs between timed queries (hygiene; measured cheap),
  * (4) runs THREE timed passes and reports each query's minimum — the
  * steady-state figure, robust to GC pauses and load bursts: with two
  * passes a single ~3-min neighbor-noise window covering the middle of
  * both (observed 2026-08-13) inflated a contiguous query block 13×
  * through the min; a third pass ~90 s later escapes any one burst
  * (observed run-to-run drift at sf0.1 was ±30% on a loaded host),
  * (5) emits a load marker — /proc/loadavg bracketing each of the timed
  * passes plus each pass's wall-clock — so a reader can attribute an
  * inflated figure to host contention (the r6 driver run was 1.36× high
  * on untouched queries; nothing in the JSON could prove it was load).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    val names = SparkEntry.queries.keys.toSeq.sorted
    // untimed full warmup at the smallest SF sharing the parquet layout:
    // compiles every plan's generated code and JITs the hot paths
    val warmDir = {
      val small = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // A failed query yields an err string, never a timing: letting the
    // catch fall through to the timer made r11's 7 plan-broken queries
    // look like the fastest in the catalog (~0.06 s each) and silently
    // shrank the headline total. Failures are reported separately and
    // excluded from "value".
    def timedPass(): (Map[String, Double], Map[String, String]) = {
      val times = Map.newBuilder[String, Double]
      val errs = Map.newBuilder[String, String]
      names.foreach { name =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          times += name -> ((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errs += name ->
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      (times.result(), errs.result())
    }
    // host-load attribution: r6's driver run was 1.36× inflated on
    // UNTOUCHED queries (pure host noise) and the JSON carried nothing to
    // tell drift from regression — so record the 1-minute loadavg around
    // each timed pass (4 samples bracketing the 3 passes) plus each
    // pass's wall-clock. A reader can discount a run whose loadavg
    // exceeds the worker count or whose passes disagree wildly.
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    def timedPassWithWall(): (Map[String, Double], Map[String, String], Double) = {
      val t0 = System.nanoTime()
      val (p, e) = timedPass()
      (p, e, (System.nanoTime() - t0) / 1e9)
    }
    // THREE timed passes, min per query: with two, a single sustained
    // host-noise burst (measured 2026-08-13: a ~3-min neighbor window
    // covering the middle of both passes inflated one contiguous block
    // of queries 13× in BOTH, surviving the min) corrupts the committed
    // figure; a third pass ~90 s later escapes any one burst.
    val load0 = loadavg()
    val passes = (1 to 3).map { _ =>
      val r = timedPassWithWall(); (r, loadavg())
    }
    val loads = load0 +: passes.map(_._2)
    val passSecs = passes.map(_._1._3)
    // a query counts only if EVERY pass succeeded (min of the timings);
    // otherwise it is an error row carrying the last observed message
    val times = passes.map(_._1._1)
    val errs = passes.map(_._1._2)
    val results = names.collect {
      case n if times.forall(_.contains(n)) => n -> times.map(_(n)).min
    }
    // every pass records each query in exactly one of times/errs, so a
    // query missing from some pass's times always has an error message in
    // that pass's errs — take the most recent one
    val errors = names.collect {
      case n if !times.forall(_.contains(n)) =>
        n -> errs.reverse.collectFirst { case e if e.contains(n) => e(n) }.get
    }
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
      }.mkString("{", ",", "}")
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val errJson = errors
      .map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }.mkString("{", ",", "}")
    val loadMarker =
      s""""loadavg":[${loads.map(num).mkString(",")}],""" +
      s""""pass_secs":[${passSecs.map(num).mkString(",")}],""" +
      s""""n_err":${errors.size},"errors":$errJson"""
    val total = results.map(_._2).sum
    // Full per-query timings go to a file: the driver only keeps the last
    // ~2k chars of stdout, so a 100-query JSON line gets truncated there
    // (BENCH_r1..r3 all show parsed=null). The printed line stays compact —
    // total + the slowest 25 — so it parses from the captured tail.
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},$loadMarker,"queries":${jsonMap(results)},"sf":"$sfDir"}"""
    // best-effort: a read-only or foreign cwd must not discard the ~40 s
    // of measurement behind it — the printed line below is the contract.
    // BENCH_DETAIL.json is this run's SCRATCH output, freely overwritten
    // by every bench run (driver or local); the committed quiet-host
    // record lives in BENCH_RECORD.json, which this program NEVER writes —
    // the separation exists because two rounds in a row clobbered the
    // record by benching into the same path it was stored at.
    try {
      val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
      java.nio.file.Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] BENCH_DETAIL.json not written: ${e.getMessage}")
    }
    val slowest = results.sortBy(-_._2).take(25)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},$loadMarker,"detail":"BENCH_DETAIL.json","queries":${jsonMap(slowest)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
