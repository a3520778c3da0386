package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the id of the enclosing span
  * on the same thread (0 at top level). Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Disabled, `span` just runs its body, so untraced runs
  * carry no bookkeeping. Spans stay in memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  // nanoTime -> epoch milliseconds, to line spans up with listener events
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** The innermost open span on this thread, 0 if none. */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Times `body` as a span; its parent is the innermost open span on this
    * thread, or `parent` when the work was handed over from another one. */
  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        recorded.synchronized { recorded += Span(id, p, name, t0, t1) }
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList).sortBy(_.startNs)

  /** Append another recorder's spans (a layer probe's) under fresh ids. */
  def adopt(other: Tracer): Unit = {
    val shift = ids.get()
    val moved = other.spans.map(s => s.copy(id = s.id + shift,
      parent = if (s.parent == 0) 0 else s.parent + shift))
    ids.addAndGet(other.ids.get())
    recorded.synchronized { recorded ++= moved }
  }
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def seconds(name: String): Double = named(name).map(_.seconds).sum
}

object Tracer {
  val off = new Tracer(false)
}

/** Job, stage and task counters from the listener bus. Each job keeps its
  * own interval and totals, so any time window (a query, a pipeline stage)
  * can be attributed after the run. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val description: String) {
    @volatile var endMs: Long = -1L
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var shuffleWriteBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var gcMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, desc))
    // a stage shared with an earlier job is re-claimed: if it runs again
    // it runs for this job
    e.stageIds.foreach(s => stageOwner.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    owner(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    owner(e.stageId).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      }
    }
  private def owner(stage: Int): Option[Job] =
    Option(stageOwner.get(stage)).flatMap(id => Option(jobs.get(id)))

  /** Jobs started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[Job] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1)
      .toSeq.sortBy(_.id)

  /** Wall time in [fromMs, toMs] during which no job was running. */
  def gapMs(fromMs: Double, toMs: Double): Double = {
    val ivs = jobs.values.asScala.toSeq
      .map(j => (math.max(j.startMs.toDouble, fromMs),
        math.min(if (j.endMs < 0) toMs else j.endMs.toDouble, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = fromMs
    ivs.foreach { case (a, b) =>
      val s = math.max(a, cur)
      if (b > s) { covered += b - s; cur = b }
    }
    (toMs - fromMs) - covered
  }
}

/** Counters of the jobs inside a set of windows. */
final case class Counters(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                          shuffleWriteMb: Double, spillMb: Double, gcS: Double,
                          gapS: Double, wallS: Double)

object Counters {
  def of(l: JobListener, t: Tracer, windows: Seq[Span]): Counters = {
    val perWindow = windows.map { w =>
      val (a, b) = (t.epochMs(w.startNs), t.epochMs(w.endNs))
      (l.jobsIn(a, b), l.gapMs(a, b) / 1000.0, w.seconds)
    }
    val js = perWindow.flatMap(_._1).distinct
    Counters(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      js.map(_.taskMs).sum / 1000.0, js.map(_.shuffleWriteBytes).sum / 1e6,
      js.map(_.spillBytes).sum / 1e6, js.map(_.gcMs).sum / 1000.0,
      perWindow.map(_._2).sum, perWindow.map(_._3).sum)
  }
}
