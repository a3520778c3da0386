package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.{Model, PipelineModel}
import org.apache.spark.sql.{Row, SparkSession}

import graft.ml.Deployment
import perfbench.Harness._

/** Layer probe of serving, made in every traced run: JSON scoring
  * requests through `ml.Deployment.scoreJson` against a champion loaded
  * with `Deployment.load`. Open loop at a fixed rate from one generator
  * thread; up to `cpus` requests in flight; each request is a small batch
  * of rows, about one row in ten malformed. */
object ServeProbe {
  val ratePerSec = 4.0
  val rowsPerRequest = 4

  /** Request rows drawn from the seed: plausible churn-table values, with
    * malformed rows (broken JSON, a missing numeric, a non-numeric
    * string) mixed in. */
  def requests(seed: Int, n: Int): IndexedSeq[IndexedSeq[String]] = {
    val rng = new scala.util.Random(seed)
    def pick(xs: String*) = xs(rng.nextInt(xs.size))
    def money(lo: Double, hi: Double) = math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    IndexedSeq.fill(n) {
      IndexedSeq.fill(rowsPerRequest) {
        val tenure = 1 + rng.nextInt(72)
        val contract = pick("month-to-month", "one-year", "two-year")
        val payment = pick("electronic_check", "mailed_check", "bank_transfer", "credit_card")
        val internet = pick("fiber_optic", "dsl", "none")
        val monthly = money(20, 100)
        val total = money(100, 5000)
        val tickets = rng.nextInt(6)
        val usage = money(0, 60)
        def json(t: String, m: String) =
          s"""{"tenure": $t, "contract_type": "$contract", "payment_method": "$payment", """ +
            s""""internet_service": "$internet", "monthly_charges": $m, "total_charges": $total, """ +
            s""""num_support_tickets": $tickets, "avg_monthly_usage_gb": $usage, "churn": 0}"""
        rng.nextInt(30) match {
          case 0 => json(tenure.toString, monthly.toString).take(40)
          case 1 => json("null", monthly.toString)
          case 2 => json(tenure.toString, "\"n/a\"")
          case _ => json(tenure.toString, monthly.toString)
        }
      }
    }
  }

  /** One served request; `lateMs` is how late the generator submitted it. */
  final case class Served(index: Int, dueNs: Long, submittedNs: Long, endNs: Long,
                          rows: Option[Seq[Row]]) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def lateMs: Double = (submittedNs - dueNs) / 1e6
  }

  /** Open loop: request i is due at t0 + i / rate; a pool of `cpus`
    * threads serves them; latency counts from the due time. */
  def openLoop(s: SparkSession, a: Args, reqs: IndexedSeq[IndexedSeq[String]],
               model: Model[_], pre: PipelineModel, t: Tracer): Seq[Served] = {
    val pool = Executors.newFixedThreadPool(a.cpus)
    val out = ArrayBuffer.empty[Served]
    val loopSpan = t.current
    val t0 = now() + 20000000L
    try {
      reqs.indices.foreach { i =>
        val due = t0 + (i * 1e9 / ratePerSec).toLong
        var wait = due - now()
        while (wait > 0) { TimeUnit.NANOSECONDS.sleep(wait); wait = due - now() }
        val submitted = now()
        pool.submit(new Runnable {
          def run(): Unit = {
            val rows =
              try {
                val df = t.span("ml.Deployment.scoreJson.build", loopSpan)(
                  Deployment.scoreJson(s, reqs(i), model, pre))
                Some(t.span("ml.Deployment.scoreJson.exec", loopSpan)(df.collect().toSeq))
              } catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"[perfbench] request $i failed: ${e.getMessage}")
                None
              }
            val served = Served(i, due, submitted, now(), rows)
            out.synchronized(out += served)
          }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.toSeq.sortBy(_.index)
  }

  def layers(r: Result, t: Tracer): Unit = {
    r.metric("ml.Deployment.load_s", t.seconds("ml.Deployment.load"), "s")
    r.metric("ml.Deployment.scoreJson.build_ms",
      median(t.named("ml.Deployment.scoreJson.build").map(_.seconds * 1000)), "ms")
    r.metric("ml.Deployment.scoreJson.exec_ms",
      median(t.named("ml.Deployment.scoreJson.exec").map(_.seconds * 1000)), "ms")
  }

  /** Load the champion promoted in `dir`, then 12 requests in the open
    * loop (after 4 untimed ones). */
  def probe(s: SparkSession, a: Args, r: Result, t: Tracer, dir: String): Unit = {
    val probeT = new Tracer(true)
    val (model, pre, _) = probeT.span("ml.Deployment.load")(Deployment.load(s, dir))
    val reqs = requests(a.seed, 12)
    openLoop(s, a, reqs.take(4), model, pre, Tracer.off)
    val served = probeT.span("unit")(openLoop(s, a, reqs, model, pre, probeT))
    layers(r, probeT)
    r.metric("serve.generator_late_ms", quantile(served.map(_.lateMs), 0.99), "ms")
    r.diag("serve_probe_failed", served.count(_.rows.isEmpty).toString)
    t.adopt(probeT)
  }
}
