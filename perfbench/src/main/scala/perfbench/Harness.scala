package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Command line of the harness JVM (run.py builds it). */
final case class Args(workload: String, seed: Int, seconds: Double, trace: Boolean,
                      work: String, cpus: Int, modules: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toInt, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("cpus").toInt, kv("modules"), kv("out"))
  }
}

/** Everything a run reports: metrics by name with unit, the operation
  * tally, output-check failures, and diagnostics that are not metrics. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val diagnostics = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** The host index over the timed region (see [[HostIndex]]). */
  var hostIndexMs = Double.NaN
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def diag(name: String, json: String): Unit = diagnostics(name) = json
  def fail(what: String): Unit = failures += what

  def toJson: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.quote(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.quote(u)}}" }
    val ds = diagnostics.map { case (k, v) => s"${Json.quote(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}},
       |"failures": [${failures.map(Json.quote).mkString(", ")}],
       |"diagnostics": {${ds.mkString(", ")}}}""".stripMargin
  }
}

/** JSON string literal. */
object Json {
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Harness {
  def now(): Long = System.nanoTime()
  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The session every workload runs on: `local[cpus]`, shuffle partitions
    * equal to the core count, UTC, extensions registered, scratch
    * directories inside the work directory. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    GraftExtensions.register(s)
    s
  }

  /** Set-up: session start, extension registration and the workload's
    * `open` step (table schemas, a model), three times, then the warm-up
    * once. `setup_s` is the median of the three starts plus the warm-up:
    * the warm-up pays code generation and JIT, which a JVM pays only
    * once, so repeating it would time a different, already-warm thing.
    * Returns the last session, kept for the timed region. */
  def setUp(a: Args, r: Result)(open: SparkSession => Unit)
           (warm: SparkSession => Unit): SparkSession = {
    var s: SparkSession = null
    val starts = (1 to 3).map { _ =>
      if (s != null) s.stop()
      val t0 = now()
      s = session(a)
      open(s)
      secs(t0)
    }
    val t0 = now()
    warm(s)
    val warmS = secs(t0)
    r.metric("setup_s", median(starts) + warmS, "s")
    r.diag("setup_parts_s",
      s"""{"starts": ${starts.mkString("[", ", ", "]")}, "warm_up": $warmS}""")
    s
  }

  /** Drop RDDs a query left persisted, so the next one starts clean. */
  def releaseCached(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  // ---- host noise ----
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** (steal, total) jiffies of all CPUs: the time the hypervisor gave this
    * machine's CPUs to others, and all time. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def writeString(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }
}

/** How fast this host runs plain JVM code at the moment: four fixed
  * pure-JVM loops (no Spark, no I/O), each timed in wall milliseconds.
  * `spin` is integer arithmetic on one thread and on `cpus` threads at
  * once, `alloc` fills hash maps of fresh strings, `handoff` passes a value
  * back and forth between two threads 3,000 times. On a shared host these
  * slow down together with the workloads when other tenants are busy; the
  * program under test cannot change them. */
object HostIndex {
  /** Per workload, the index at which a host-adjusted time reads as
    * measured: the index's typical value on a quiet 4-vCPU host under the
    * workload's JIT settings (run.py compiles untraced catalog runs with C1
    * only, which slows the loops). */
  val referenceMs = Map("catalog" -> 60.0, "corpus" -> 45.0)

  def sample(cpus: Int): Seq[Double] = Seq(spin(1), spin(cpus), alloc(), handoff())

  /** The geometric mean over the loops of each loop's median over samples. */
  def of(samples: Seq[Seq[Double]]): Double = {
    val perLoop = samples.transpose.map(Harness.median)
    math.exp(perLoop.map(math.log).sum / perLoop.size)
  }

  private def timed(body: => Long): Double = {
    val t0 = Harness.now()
    if (body == 42L) print("")
    Harness.secs(t0) * 1000
  }

  private def xorshift(): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    acc
  }

  def spin(threads: Int): Double = timed {
    val ts = (1 to threads).map(_ => new Thread(() => if (xorshift() == 42L) print("")))
    ts.foreach(_.start())
    ts.foreach(_.join())
    threads
  }

  def alloc(): Double = timed {
    var total = 0L
    (1 to 20).foreach { _ =>
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < 20000) { m.put("k" + i, i); i += 1 }
      total += m.size
    }
    total
  }

  def handoff(): Double = {
    val there = new java.util.concurrent.SynchronousQueue[Integer]()
    val back = new java.util.concurrent.SynchronousQueue[Integer]()
    val n = 3000
    val echo = new Thread(() => (1 to n).foreach(_ => back.put(there.take())))
    echo.start()
    val ms = timed { (1 to n).foreach(i => { there.put(i); back.take() }); n }
    echo.join()
    ms
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = new Result
    val hostBefore = (Harness.loadavg(), HostIndex.of(Seq(HostIndex.sample(a.cpus))))
    val jiffiesBefore = Harness.cpuJiffies()
    val tracer = new Tracer(a.trace)
    Modules.load(a.modules)
    a.workload match {
      case "catalog" => CatalogWorkload.run(a, r, tracer)
      case "corpus" => CorpusWorkload.run(a, r, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val hostAfter = (Harness.loadavg(), HostIndex.of(Seq(HostIndex.sample(a.cpus))))
    val jiffiesAfter = Harness.cpuJiffies()
    val stealFrac = (jiffiesAfter._1 - jiffiesBefore._1).toDouble /
      math.max(1L, jiffiesAfter._2 - jiffiesBefore._2)
    hostAdjust(r, HostIndex.referenceMs(a.workload))
    r.metric("peak_rss_mb", Harness.peakRssMb(), "MB")
    val loaded = Seq(hostBefore._1, hostAfter._1).exists(_ > a.cpus)
    r.diag("host", s"""{"loadavg": [${hostBefore._1}, ${hostAfter._1}], """ +
      s""""index_ms": [${hostBefore._2}, ${r.hostIndexMs}, ${hostAfter._2}], """ +
      s""""steal_frac": $stealFrac, "loaded": $loaded}""")
    if (a.trace) {
      val spans = tracer.spans.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.quote(s.name)}, """ +
          s""""start_ms": ${tracer.epochMs(s.startNs)}, "end_ms": ${tracer.epochMs(s.endNs)}}""")
      Harness.writeString(s"${a.work}/spans.json", spans.mkString("[\n", ",\n", "\n]\n"))
    }
    Harness.writeString(a.out, r.toJson)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The end-to-end times, scaled from this run's host index (measured
    * between the timed units) to the reference index: a run on a host
    * slowed by other tenants reads as it would on the reference host. The
    * times as measured stay in the `measured` diagnostic. */
  def hostAdjust(r: Result, referenceMs: Double): Unit = {
    val factor = referenceMs / r.hostIndexMs
    val timings = Seq("setup_s", "run_s", "op_p50_ms", "op_p90_ms").filter(r.metrics.contains)
    r.diag("measured", timings.map(m => s"${Json.quote(m)}: ${r.metrics(m)._1}")
      .mkString("{", ", ", "}"))
    r.diag("host_factor", factor.toString)
    timings.foreach { m =>
      val (v, u) = r.metrics(m)
      r.metric(m, v * factor, u)
    }
  }
}
