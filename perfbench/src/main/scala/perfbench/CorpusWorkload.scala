package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.Tables
import graft.operators.Corpus
import perfbench.Harness._

/** `corpus`: `Corpus.trainingSequences` (computed with the `noop` sink)
  * then `Corpus.pipelineAudit` over a multi-file, multi-row-group
  * amplified corpus (fixture.py `corpus`: per-copy token prefixes, so
  * copies share no shingles; the seed picks the copy order across files). */
object CorpusWorkload {
  val rates = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  final case class Outcome(audit: Seq[(String, Long, Long)], ok: Boolean)

  def unit(s: SparkSession, dir: String, t: Tracer): Outcome = t.span("unit") {
    try {
      val docs = t.span("Tables.documents")(Tables.documents(s, dir))
      val seqs = t.span("Corpus.trainingSequences.build")(
        Corpus.trainingSequences(docs, rates, minShared = 1))
      t.span("Corpus.trainingSequences.exec")(seqs.write.format("noop").mode("overwrite").save())
      releaseCached(s)
      val audit = t.span("Corpus.pipelineAudit")(
        Corpus.pipelineAudit(docs, rates, minShared = 1).collect())
      releaseCached(s)
      Outcome(audit.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq, ok = true)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] corpus run failed: ${e.getMessage}")
      Outcome(Nil, ok = false)
    }
  }

  def run(a: Args, r: Result, t: Tracer): Unit = {
    val dir = s"${a.work}/corpus"
    // the first warm run is the output check's run: packed sequences
    // collected and digested, audit collected (a separate check run would
    // cost another corpus run); two more get the timed runs past most of
    // the JIT warm-up (with one, timed runs still got ~15% faster across
    // the timed region)
    var checked: (String, Seq[(String, Long, Long)]) = null
    val s = setUp(a, r)(s => Tables.documents(s, dir).schema) { s =>
      checked = checkRun(s, dir)
      (1 to 2).foreach(_ => unit(s, dir, Tracer.off))
    }
    val units = Traced.measure(s, a, r, t) { tr =>
      val t0 = now()
      val o = unit(s, dir, tr)
      (secs(t0), o)
    }
    r.metric("run_s", median(units.map(_._1)), "s")
    r.metric("op_p50_ms", median(units.map(_._1 * 1000)), "ms")
    r.metric("op_p90_ms", quantile(units.map(_._1 * 1000), 0.9), "ms")
    r.diag("samples", units.size.toString)
    // ---- output checks, outside the timed region ----
    val expected = Expected.corpus(a)
    val (seqDigest, checkAudit) = checked
    r.diag("sequences_digest", Json.quote(seqDigest))
    r.diag("audit", auditToJson(checkAudit))
    val digestOk = expected.forall(_._1 == seqDigest)
    if (!digestOk) r.fail(s"packed-sequence digest $seqDigest, expected ${expected.get._1}")
    r.attempted = units.size
    r.failed = units.count { case (_, o) =>
      val auditOk = o.ok && o.audit == checkAudit && expected.forall(_._2 == o.audit)
      if (o.ok && !auditOk) r.fail(s"audit ${auditToJson(o.audit)} differs from the expected stage counts")
      !auditOk || !digestOk
    }
    if (a.trace) {
      layers(r, t, Traced.listener(s))
      Traced.sparkCounters(s, a, r, t, t.named("unit"))
      Traced.probeOthers(s, a, r, t, "corpus")
    }
  }

  def auditToJson(audit: Seq[(String, Long, Long)]): String =
    audit.map { case (st, n, tok) => s"""["$st", $n, $tok]""" }.mkString("[", ", ", "]")

  /** The packed sequences collected and digested in a canonical order,
    * and the audit rows. */
  def checkRun(s: SparkSession, dir: String): (String, Seq[(String, Long, Long)]) = {
    val docs = Tables.documents(s, dir)
    val seqs = Corpus.trainingSequences(docs, rates, minShared = 1)
    val rows = seqs.select(to_json(struct(seqs.columns.sorted.map(col).toSeq: _*)))
      .collect().map(_.getString(0)).sorted
    releaseCached(s)
    val audit = Corpus.pipelineAudit(docs, rates, minShared = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    releaseCached(s)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    (md.digest().take(8).map("%02x".format(_)).mkString, audit)
  }

  def layers(r: Result, t: Tracer, l: JobListener): Unit = {
    val units = math.max(1, t.named("unit").size)
    r.metric("Tables.documents_s", t.seconds("Tables.documents") / units, "s")
    r.metric("Corpus.trainingSequences.build_s",
      t.seconds("Corpus.trainingSequences.build") / units, "s")
    r.metric("Corpus.trainingSequences.exec_s",
      t.seconds("Corpus.trainingSequences.exec") / units, "s")
    r.metric("Corpus.pipelineAudit.s", t.seconds("Corpus.pipelineAudit") / units, "s")
    // per-stage split from the job descriptions the corpus path sets
    // (stageMaterialize's "mat[...]" labels, the connected-components loop)
    val windows = t.named("unit")
    val jobs = windows.flatMap(w => l.jobsIn(t.epochMs(w.startNs), t.epochMs(w.endNs))).distinct
    val byLabel = jobs.groupBy(j => if (j.description.isEmpty) "unlabelled" else j.description)
      .map { case (k, js) => k -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0 / units }
    r.metric("Corpus.stage.labelled.s", byLabel.filter(_._1 != "unlabelled").values.sum, "s")
    r.metric("Corpus.stage.unlabelled.s", byLabel.getOrElse("unlabelled", 0.0), "s")
    r.diag("corpus_stages", byLabel.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${Json.quote(k)}: $v" }.mkString("{", ", ", "}"))
  }

  /** Layer probe when another workload is traced: one run over the small
    * multi-file corpus (after one warm run). */
  def probe(s: SparkSession, a: Args, r: Result, t: Tracer): Unit = {
    val dir = s"${a.work}/corpus_small"
    unit(s, dir, Tracer.off)
    val probeT = new Tracer(true)
    unit(s, dir, probeT)
    layers(r, probeT, Traced.listener(s))
    t.adopt(probeT)
  }
}
