package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import perfbench.Harness._

/** The timed region and, in traced runs, everything per-layer around it. */
object Traced {
  private var registered: Option[(SparkSession, JobListener)] = None

  /** The run's job listener, registered on first use; drained, so its
    * counters include every job that has ended. */
  def listener(s: SparkSession): JobListener = {
    val l = registered.filter(_._1 eq s).map(_._2).getOrElse {
      val l = new JobListener
      s.sparkContext.addSparkListener(l)
      registered = Some(s -> l)
      l
    }
    PerfbenchBridge.drainListeners(s.sparkContext)
    l
  }

  /** Repeats `unit` (which returns its own wall time) until `--seconds`
    * have passed: units are whole, so a run measures at least that long.
    * Sets the run's host index from samples taken between the units.
    * Traced, the units run under the tracer with the listener registered,
    * bracketed by one untraced unit before and one after (listener
    * removed): their mean is the baseline of the tracing overhead. */
  def measure[T](s: SparkSession, a: Args, r: Result, t: Tracer)
                (unit: Tracer => (Double, T)): Seq[(Double, T)] = {
    val before = if (a.trace) Some(unit(Tracer.off)._1) else None
    val tr = if (a.trace) { listener(s); t } else Tracer.off
    // the host index is sampled before the first unit and after each one,
    // while Spark is idle; two samples first compile the loops
    (1 to 2).foreach(_ => HostIndex.sample(a.cpus))
    val host = scala.collection.mutable.ListBuffer(HostIndex.sample(a.cpus))
    val t0 = now()
    val out = scala.collection.mutable.ListBuffer.empty[(Double, T)]
    while (out.isEmpty || secs(t0) < a.seconds) {
      out += unit(tr)
      host += HostIndex.sample(a.cpus)
    }
    r.hostIndexMs = HostIndex.of(host.toList)
    r.diag("unit_s", out.map(_._1).mkString("[", ", ", "]"))
    before.foreach { b =>
      val l = listener(s)
      s.sparkContext.removeSparkListener(l)
      val base = (b + unit(Tracer.off)._1) / 2
      s.sparkContext.addSparkListener(l)
      val traced = median(out.map(_._1).toSeq)
      r.metric("trace.run_s", traced, "s")
      r.metric("trace.untraced_run_s", base, "s")
      r.metric("trace.overhead_frac", traced / base - 1.0, "ratio")
    }
    out.toList
  }

  /** The `spark.*` metrics: counters of the jobs inside `windows`, per
    * window (one window is one unit of work). */
  def sparkCounters(s: SparkSession, a: Args, r: Result, t: Tracer, windows: Seq[Span]): Unit = {
    val c = Counters.of(listener(s), t, windows)
    val n = math.max(1, windows.size).toDouble
    r.metric("spark.jobs", c.jobs / n, "count")
    r.metric("spark.stages", c.stages / n, "count")
    r.metric("spark.tasks", c.tasks / n, "count")
    r.metric("spark.driver_gap_s", c.gapS / n, "s")
    r.metric("spark.task_s", c.taskS / n, "s")
    r.metric("spark.core_busy_frac", c.taskS / (c.wallS * a.cpus), "ratio")
    r.metric("spark.shuffle_write_mb", c.shuffleWriteMb / n, "MB")
    r.metric("spark.spill_mb", c.spillMb / n, "MB")
    r.metric("spark.gc_s", c.gcS / n, "s")
  }

  /** Per-layer metrics of the layers the traced workload does not use,
    * from reduced-size probes in the same session: the other workload,
    * the catalog modules outside the timed slice, churn (whose promoted
    * champion the serve probe loads), serve, Tables and the native
    * kernels. */
  def probeOthers(s: SparkSession, a: Args, r: Result, t: Tracer, own: String): Unit = {
    if (own != "catalog") CatalogWorkload.probe(s, a, r, t)
    if (own != "corpus") CorpusWorkload.probe(s, a, r, t)
    CatalogWorkload.probeModules(s, a, r, t)
    ServeProbe.probe(s, a, r, t, ChurnProbe.probe(s, a, r, t))
    Probes.tables(s, a, r, t)
    Probes.kernels(s, a, r, t)
  }
}
