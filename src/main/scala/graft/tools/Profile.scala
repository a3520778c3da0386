package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SimpleMode}

import graft.{GraftSession, Json, SparkEntry, Tables}

/** The one profiler: splits a declared query's cost by layer before anything
  * is optimized.
  *
  * {{{
  * runMain graft.tools.Profile time  <q,...|all|flagship> [--sf DIR] [--reps N] [--ab conf.key=a,b] [--sink count|noop] [--json FILE]
  * runMain graft.tools.Profile plans <q,...|all> [--sf DIR] [--round R] [--suffix S]
  * runMain graft.tools.Profile plans flagship    [--sf DIR]
  * }}}
  *
  * `time` first prints, per table, bare `spark.read.parquet` (schema
  * inference on every call) against [[graft.Tables.load]] (schema cached
  * per session), measured on a separate session so the profiled session's
  * first loads stay cold. Then, per query and rep, it records build time
  * (DataFrame construction: analysis plus any eager stages), exec time (the
  * action: `--sink count`, the default, is `.count()`, the same action as
  * Bench; `--sink noop` writes every row and column to the `noop` sink, so
  * Catalyst cannot prune work that `count()` never reads), jobs / stages /
  * tasks, the inter-job driver gap, shuffle write, disk spill and GC from
  * one SparkListener, the block-manager storage in use after the action,
  * and the generated classes compiled during build and action with their
  * compile time (Spark's codegen cache misses, JVM-wide).
  * Rep 1 is cold (codegen, JIT, schema inference); read the later reps.
  * `--ab` runs each query under both values of one conf key, interleaved
  * in this JVM and alternating which arm runs first (use an even rep
  * count), and prints each query's median paired wall ratio (b/a) and
  * the median over the slice.
  *
  * `plans` writes the formatted physical plan of each query to
  * `plans/<round>/<q>_<suffix>.txt`; `flagship` writes PLANS.md instead.
  * Queries whose pipelines build eagerly (corpus stages, ANN training) run
  * those jobs during capture; the file shows the final declared plan. */
object Profile {
  final case class TableLoad(table: String, readMs: Double, loadMs: Double)

  final case class JobTime(id: Int, seconds: Double, description: String)

  /** One query run. `wall` spans build, action and the unpersist hygiene,
    * so `build + exec <= wall`; `rows` is the count under the `count` sink
    * and -1 under `noop`, and -1 with `error` set on failure. `compiles`
    * and `compileMs` are the generated classes compiled during build and
    * action and their compile time. */
  final case class Record(query: String, rep: Int, arm: Option[String],
                          sink: String, buildS: Double, execS: Double, wallS: Double,
                          rows: Long, jobs: Seq[JobTime], stages: Int,
                          tasks: Int, gapS: Double, shuffleWriteMb: Double,
                          spillMb: Double, gcS: Double, storageMb: Double,
                          compiles: Long, compileMs: Double,
                          error: Option[String])

  /** The actions `--sink` names. */
  val Sinks: Set[String] = Set("count", "noop")

  /** `--ab key=a,b`: the two values one conf key takes. */
  final case class Ab(key: String, a: String, b: String)

  object Ab {
    def parse(s: String): Ab = s.split("=", 2) match {
      case Array(k, vs) if vs.split(",").length == 2 =>
        val Array(a, b) = vs.split(","); Ab(k, a, b)
      case _ => throw new IllegalArgumentException(s"--ab wants key=a,b, got '$s'")
    }
  }

  /** Job, stage and task counters for the query run in flight. */
  private final class Counters extends SparkListener {
    private final class Job(val id: Int, val start: Long, val desc: String) {
      @volatile var end: Long = -1L
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stages = new AtomicInteger()
    private val tasks = new AtomicInteger()
    private val shuffleWrite = new AtomicLong()
    private val spill = new AtomicLong()
    private val gcMs = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, e.time, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }

    def reset(): Unit = {
      jobs.clear(); stages.set(0); tasks.set(0)
      shuffleWrite.set(0L); spill.set(0L); gcMs.set(0L)
    }

    /** Time between the first job's start and the last job's end during
      * which no job was running: driver work between jobs. */
    private def gapS(js: Seq[Job]): Double = {
      val ivs = js.map(j => (j.start, if (j.end < 0) j.start else j.end)).sortBy(_._1)
      var gap = 0L
      var cur = ivs.headOption.map(_._1).getOrElse(0L)
      ivs.foreach { case (a, b) => if (a > cur) gap += a - cur; cur = math.max(cur, b) }
      gap / 1e3
    }

    def record(query: String, rep: Int, arm: Option[String], sink: String,
               buildS: Double, execS: Double, wallS: Double, rows: Long,
               storageBytes: Long, compiles: Long, compileNs: Long,
               error: Option[String]): Record = {
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      Record(query, rep, arm, sink, buildS, execS, wallS, rows,
        js.map(j => JobTime(j.id, if (j.end < 0) -1.0 else (j.end - j.start) / 1e3, j.desc)),
        stages.get(), tasks.get(), gapS(js), shuffleWrite.get() / 1e6,
        spill.get() / 1e6, gcMs.get() / 1e3, storageBytes / 1e6,
        compiles, compileNs / 1e6, error)
    }
  }

  /** Blocks until every posted listener event is delivered. The bus's
    * `waitUntilEmpty` is package-private in Scala but public in bytecode. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** JVM-wide codegen counters: classes compiled (codegen cache misses)
    * and their total compile time in ns. */
  private def codegen(): (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** Min over `n` calls of bare `spark.read.parquet` vs [[Tables.load]]
    * per fixture table, on a fresh session with its own schema cache. */
  def tableLoads(spark: SparkSession, sfDir: String, n: Int): Seq[TableLoad] = {
    val s = spark.newSession()
    Tables.names.filter(t => new java.io.File(s"$sfDir/$t.parquet").exists()).map { t =>
      val read = (1 to n).map { _ => val t0 = System.nanoTime(); s.read.parquet(s"$sfDir/$t.parquet"); ms(t0) }
      val load = (1 to n).map { _ => val t0 = System.nanoTime(); Tables.load(s, sfDir, t); ms(t0) }
      TableLoad(t, read.min, load.min)
    }
  }

  /** Runs every query `reps` times (each rep under both `ab` arms, the
    * first arm alternating per rep) with `sink` as the action and returns
    * one record per run, in run order. The listener is removed and any `ab`
    * key restored on return. */
  def time(spark: SparkSession, names: Seq[String], sfDir: String, reps: Int,
           ab: Option[Ab] = None, sink: String = "count",
           log: String => Unit = println): Seq[Record] = {
    require(Sinks(sink), s"--sink wants one of ${Sinks.mkString("|")}, got '$sink'")
    val counters = new Counters
    val saved = ab.map(a => spark.conf.getOption(a.key))
    spark.sparkContext.addSparkListener(counters)
    def runOnce(q: String, rep: Int, arm: Option[String]): Record = {
      for (a <- ab; v <- arm) spark.conf.set(a.key, v)
      drainListenerBus(spark)
      counters.reset()
      val (compiles0, compileNs0) = codegen()
      val t0 = System.nanoTime()
      val built = Try(SparkEntry.queries(q)(spark, sfDir))
      val t1 = System.nanoTime()
      val rows = built.map { df =>
        if (sink == "count") df.count()
        else { df.write.format("noop").mode("overwrite").save(); -1L }
      }
      val t2 = System.nanoTime()
      val (compiles1, compileNs1) = codegen()
      val storage = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      unpersistAll(spark)
      val t3 = System.nanoTime()
      drainListenerBus(spark)
      val err = rows.failed.toOption
        .map(e => Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      val r = counters.record(q, rep, arm, sink, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t0) / 1e9, rows.getOrElse(-1L), storage, compiles1 - compiles0,
        compileNs1 - compileNs0, err)
      log(line(r))
      r.jobs.foreach(j => log(f"[profile]   job ${j.id}%4d ${j.seconds}%8.3f s  ${j.description.take(90)}"))
      r
    }
    try {
      (1 to reps).flatMap { rep =>
        names.flatMap { q =>
          ab match {
            case None => Seq(runOnce(q, rep, None))
            case Some(a) =>
              val arms = if (rep % 2 == 1) Seq(a.a, a.b) else Seq(a.b, a.a)
              arms.map(v => runOnce(q, rep, Some(v)))
          }
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(counters)
      for (a <- ab; old <- saved)
        old.fold(spark.conf.unset(a.key))(spark.conf.set(a.key, _))
    }
  }

  private def line(r: Record): String =
    f"[profile] ${r.query}%-34s rep ${r.rep}${r.arm.fold("")(a => s" [$a]")}: " +
      f"build=${r.buildS}%.3f s exec=${r.execS}%.3f s wall=${r.wallS}%.3f s " +
      f"sink=${r.sink} rows=${r.rows} jobs=${r.jobs.size} stages=${r.stages} tasks=${r.tasks} " +
      f"gap=${r.gapS}%.3f s shufWriteMB=${r.shuffleWriteMb}%.1f " +
      f"spillMB=${r.spillMb}%.1f gc=${r.gcS}%.3f s storageMB=${r.storageMb}%.1f " +
      f"compiles=${r.compiles} compileMs=${r.compileMs}%.1f" +
      r.error.fold("")(e => s" ERROR $e")

  /** Per query, the median over reps of wall(b) / wall(a); then the median
    * of those over the slice. Failed runs are left out. */
  def abRatios(records: Seq[Record], ab: Ab): (Seq[(String, Double)], Double) = {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val ok = records.filter(_.error.isEmpty)
    val perQuery = ok.map(_.query).distinct.flatMap { q =>
      val pairs = ok.filter(_.query == q).groupBy(_.rep).values.flatMap { rs =>
        for (a <- rs.find(_.arm.contains(ab.a)); b <- rs.find(_.arm.contains(ab.b)))
          yield b.wallS / a.wallS
      }.toSeq
      if (pairs.isEmpty) None else Some(q -> median(pairs))
    }
    (perQuery, median(perQuery.map(_._2)))
  }

  private def explain(spark: SparkSession, sfDir: String, q: String, mode: ExplainMode): String = {
    val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(mode)
    unpersistAll(spark)
    plan
  }

  /** Writes `<outDir>/<q>_<suffix>.txt` per query: the formatted plan. */
  def plans(spark: SparkSession, names: Seq[String], sfDir: String,
            outDir: Path, suffix: String): Seq[Path] = {
    Files.createDirectories(outDir)
    names.map { q =>
      val p = outDir.resolve(s"${q}_$suffix.txt")
      Files.writeString(p, explain(spark, sfDir, q, ExplainMode.fromString("formatted")))
      p
    }
  }

  /** The flagship queries PLANS.md documents, with what each plan shows. */
  private val flagships = Seq(
    "x1_revenue_by_nation" -> "4-way broadcast join + partial agg",
    "x26_local_supplier_volume" -> "5-way join through region",
    "x10_pricing_summary" -> "TPC-H Q1-shaped grouped multi-aggregate",
    "x3_top_orders_per_customer" -> "per-key top-n (WindowGroupLimit)",
    "d14_cosine_topk" -> "broadcast similarity search, native cosine_sim (below the r19 partition-local top-k boundary: the visible rank exchange carries only O(partitions·q·k) pruned survivors)",
    "d15_minhash_neardups" -> "MinHash LSH banding + verify",
    "d10_hourly_events" -> "time bucketing over normalized event timestamps",
    "m15_binary_metrics" -> "confusion-count metrics, single pass",
    "x30_asof_last_order" -> "as-of join via union + keyed window (no pair explosion)",
    "x31_attribution_window" -> "equi-join with temporal range residual",
    "m19_segment_auc" -> "per-segment Mann-Whitney AUC (segment-partitioned window)",
    "d29_unigram_surprisal" -> "unigram-LM surprisal (checkpointed explode, vocab join)",
    "v10_psi_by_column" -> "per-column PSI sweep (unpivot-in-projection, one scan)",
    "d33_chunked_docs" -> "context-window chunking (native chunk generator: one byte pass per document, md5 of each window's byte span)",
    "d41_packed_sequences" -> "next-fit sequence packing (native chunk and pack generators, one linear pass per pack group)",
    "d43_training_sequences" -> "corpus pipeline composition (checkpoint-fed, zero re-scans; winner filter by broadcast sorted ids)",
    "d45_pipeline_audit" -> "corpus audit (five rows observed on the staging jobs; the declared plan is their local relation)",
    "d44_decontaminate" -> "benchmark decontamination (shingle equijoin, AQE-broadcastable bench side)",
    "d47_training_sequences_winnowed" -> "100 TB corpus pipeline (winnowed fingerprints, skew-safe df cap)",
    "d49_decontaminate_winnowed" -> "100 TB decontamination (winnowed fps, train-side stop-fp cap, minHits)",
    "d20_dedup_docs" -> "exact dedup materialization (sha2-keyed single-scan min_by groupBy, window-free)",
    "d50_quality_scores" -> "model-based quality scoring (count-NB distilled from the d27 gate; zero-shuffle literal-weight score projection)",
    "d58_hash_split" -> "content-addressed train/val/test split (zero-shuffle codegen'd md5 projection; sort is oracle-only)",
    "d59_semantic_dedup" -> "SemDeDup (broadcast-centroid assignment scan, cell-keyed self-EQUIJOIN — never all-pairs, min-id drop aggregate)",
    "d60_cohort_retention" -> "cohort retention triangle (ONE events scan, user-keyed min window, map-side-combined distinct aggregate)",
    "d62_component_split" -> "leakage-safe split (fence computed BELOW the rep join — the exchange carries (rep_id, split), never text)",
    "d63_epoch_packed" -> "epoch-ordered packing (16-byte rank relation through the join; chunk orderBy eliminated; window-free)",
    "d65_pq_topk" -> "PQ/ADC search (single-pass code scan — 16 bytes/vector, no raw vectors fetched, no per-call checkpoint since r19; salted asc rank over the partition-locally pruned survivors)",
  )

  /** Writes PLANS.md: each flagship's simple-mode plan, plus the d43 edge
    * evidence stage, whose sorted-run shape the final d43 plan hides: its
    * pairs are counted on the driver before the plan is built. */
  def flagshipPlans(spark: SparkSession, sfDir: String, out: Path): Unit = {
    val sf = Paths.get(sfDir).getFileName
    val sb = new StringBuilder
    sb.append(s"# PLANS — flagship physical plans at $sf\n\n")
    sb.append(s"Generated by `SPARK_GRAFT_CPUS=${width(spark)} sbt \"runMain graft.tools.Profile plans flagship\n")
    sb.append(s"--sf <dir>/$sf\"`. What to check\n")
    sb.append("per plan: dimension joins are `BroadcastHashJoin`; scans show\n")
    sb.append("`PushedFilters`/pruned `ReadSchema`; aggregates have a\n")
    sb.append("`partial_` map-side phase; top-n uses `WindowGroupLimit`; hot\n")
    sb.append("projections sit inside WholeStageCodegen (`*(n)` prefix).\n")
    flagships.foreach { case (name, why) =>
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(explain(spark, sfDir, name, SimpleMode).linesIterator.take(40).mkString("\n"))
      sb.append("\n```\n")
    }
    locally {
      import org.apache.spark.sql.functions.col
      val kept = Tables.documents(spark, sfDir)
        .filter(graft.operators.TextOps.qualityKeep)
        .select(col("doc_id"), col("text"), col("source"))
      val runs = graft.operators.Dedup.sortedRuns(
        graft.operators.Corpus.shingleEvidence(kept, shingleK = 12), maxDf = 20)
      val edges = graft.operators.Corpus.exactShingleEdges(
        kept, shingleK = 12, maxDf = 20, minShared = 1)
      sb.append("\n## d43 edge-evidence stage — skew-safe df cap from sorted " +
        "runs, native shingle_md5s\n\n")
      sb.append("What this view documents that the final d43 plan cannot. The " +
        "runs: the `Scan ExistingRDD` below the `sh` exchange is the map " +
        "side, each partition sorted by `sh` and cut to maxDf + 1 rows per " +
        "shingle (the bound a boilerplate shingle ships per map partition), " +
        "and the exchange output is sorted by (`sh`, `doc_id`). The edges: " +
        "one partition-local scan of those runs emits the pairs of every " +
        "shingle with df in [2, maxDf] (the `Scan ExistingRDD` below the " +
        "pair-count aggregate; its exchange map stage ran as the `runs[...]` " +
        "job when the edges were built). d43 counts those pairs per " +
        "partition in one `edges[id_a,id_b]` job and merges the counts on " +
        "the driver; the pair-count aggregate shown, with its " +
        "`n_shared >= minShared` evidence filter, is the same edge set as " +
        "the over-bound path and the density probe compute it. No " +
        "aggregate is keyed by `sh`, and no window or self-join appears.\n\n```\n")
      sb.append(runs.queryExecution.explainString(SimpleMode).linesIterator.take(24).mkString("\n"))
      sb.append("\n```\n\n```\n")
      sb.append(edges.queryExecution.explainString(SimpleMode).linesIterator.take(48).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(out, sb.toString)
  }

  private def json(spark: SparkSession, sfDir: String, loads: Seq[TableLoad], recs: Seq[Record],
                   ab: Option[Ab]): String = {
    def q(s: String) = Json.quote(s)
    def n(d: Double) = Json.num(math.rint(d * 1e4) / 1e4)
    val tables = loads.map(t =>
      s"""{"table":${q(t.table)},"read_ms":${n(t.readMs)},"load_ms":${n(t.loadMs)}}""")
    val runs = recs.map { r =>
      val jobs = r.jobs.map(j => s"""{"s":${n(j.seconds)},"desc":${q(j.description)}}""")
      s"""{"query":${q(r.query)},"rep":${r.rep},"arm":${r.arm.fold("null")(q)},"sink":${q(r.sink)},""" +
        s""""build_s":${n(r.buildS)},"exec_s":${n(r.execS)},"wall_s":${n(r.wallS)},""" +
        s""""rows":${r.rows},"jobs":${r.jobs.size},"stages":${r.stages},"tasks":${r.tasks},""" +
        s""""driver_gap_s":${n(r.gapS)},"shuffle_write_mb":${n(r.shuffleWriteMb)},""" +
        s""""spill_mb":${n(r.spillMb)},"gc_s":${n(r.gcS)},"storage_mb":${n(r.storageMb)},""" +
        s""""compiles":${r.compiles},"compile_ms":${n(r.compileMs)},""" +
        s""""error":${r.error.fold("null")(q)},"job_list":${jobs.mkString("[", ",", "]")}}"""
    }
    val abJson = ab.fold("null") { a =>
      val (per, med) = abRatios(recs, a)
      s"""{"key":${q(a.key)},"a":${q(a.a)},"b":${q(a.b)},"median_ratio":${n(med)},""" +
        s""""ratios":${per.map { case (k, v) => s"${q(k)}:${n(v)}" }.mkString("{", ",", "}")}}"""
    }
    s"""{"sf":${q(sfDir)},"cpus":${width(spark)},"ab":$abJson,""" +
      s""""tables":${tables.mkString("[", ",", "]")},"runs":${runs.mkString("[\n", ",\n", "\n]")}}"""
  }

  private def width(spark: SparkSession): String =
    spark.conf.get("spark.sql.shuffle.partitions")

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <time|plans> <q,...|all|flagship> [--sf DIR] " +
      "[--reps N] [--ab conf.key=a,b] [--sink count|noop] [--json FILE] [--round R] [--suffix S]"
    val flags = args.drop(2)
    require(args.length >= 2 && Set("time", "plans")(args(0)) && flags.length % 2 == 0, usage)
    val opts = flags.grouped(2).map { case Array(k, v) => k -> v }.toMap
    require(opts.keySet.subsetOf(
      Set("--sf", "--reps", "--ab", "--sink", "--json", "--round", "--suffix")), usage)
    val sfDir = opts.get("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("give the fixture dir: --sf DIR or SPARK_GRAFT_SF_DIR"))
    val names = args(1) match {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case "flagship" => flagships.map(_._1)
      case list => list.split(',').toSeq
    }
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query '$n'"))
    val spark = GraftSession.local("graft-profile")
    try args(0) match {
      case "time" =>
        val reps = opts.get("--reps").map(_.toInt).getOrElse(3)
        val ab = opts.get("--ab").map(Ab.parse)
        val loads = tableLoads(spark, sfDir, math.max(reps, 3))
        loads.foreach(t => println(f"[profile] table ${t.table}%-10s read.parquet min=${t.readMs}%7.1f ms  Tables.load min=${t.loadMs}%7.1f ms"))
        val recs = time(spark, names, sfDir, reps, ab, opts.getOrElse("--sink", "count"))
        ab.foreach { a =>
          val (per, med) = abRatios(recs, a)
          per.foreach { case (q, r) => println(f"[profile] ab $q%-34s ${a.b}/${a.a} = $r%.3f") }
          println(f"[profile] ab median ${a.b}/${a.a} over ${per.size} queries = $med%.3f")
        }
        opts.get("--json").foreach { f =>
          Files.writeString(Paths.get(f), json(spark, sfDir, loads, recs, ab) + "\n")
          println(s"[profile] wrote $f")
        }
      case "plans" if args(1) == "flagship" =>
        flagshipPlans(spark, sfDir, Paths.get("PLANS.md"))
        println(s"[profile] wrote PLANS.md (${flagships.size + 1} plans)")
      case "plans" =>
        val out = Paths.get("plans", opts.getOrElse("--round", "adhoc"))
        plans(spark, names, sfDir, out, opts.getOrElse("--suffix", "plan"))
          .foreach(p => println(s"[profile] wrote $p"))
    } finally spark.stop()
  }
}
