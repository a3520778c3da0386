package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, BloomFilterMightContain, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** Declarative runtime-bloom pruning for equijoins whose join key is
  * DERIVED (produced by a Generate / Aggregate), where Spark's own
  * `InjectRuntimeFilter` rule can never fire: that rule only traces the
  * creation-side key through Project/Filter/Join lineage down to a scan
  * with a selective predicate (`extractSelectiveFilterOverScan`), so a key
  * born from `explode(shingle_md5s(...))` + `distinct()` — the shape of
  * every fingerprint join in this engine — is invisible to it. (Verified
  * against Spark 4.1: with broadcast disabled and the bloom application
  * threshold at 0, no bloom is injected into the decontamination join.)
  *
  * So the operator plants the exact same expression shape the built-in
  * rule would have used — `might_contain(scalar-subquery(
  * bloom_filter_agg(xxhash64(key))), xxhash64(key))` — itself, with two
  * improvements over the rule's placement:
  *
  *  - the filter sits directly on the RAW exploded corpus relation, below
  *    the corpus side's own distinct aggregate, so the bloom prunes the
  *    distinct's exchange as well as the join's — the rule would only ever
  *    have pruned below the join;
  *  - the bloom builds from the PRE-distinct small side (bloom insertion
  *    is idempotent, so duplicate keys are harmless): one scan-bound
  *    partial-aggregate pass, no extra exchange, rather than re-running
  *    the small side's distinct inside the subquery.
  *
  * Correctness is unconditional: a bloom filter has false positives only,
  * so the pruned relation is a superset of the matching rows and the
  * downstream equijoin re-checks exact key equality — the join result is
  * bit-identical with pruning on or off (asserted in CorpusSpec).
  */
object BloomPrune {

  /** Prunes `corpus` to (a superset of) the rows whose `key` appears in
    * `small` — the relation the downstream join actually probes — via a
    * bloom built from `bloomSource(key)` (defaults to `small`; pass the
    * PRE-distinct form when one exists, so the subquery is a scan-bound
    * aggregate instead of re-running the distinct's exchange).
    *
    * Injection is gated by `spark.graft.bloomPrune`:
    *  - `"auto"` (default): inject iff `small` — the join side itself,
    *    so the gate reads the same relation the broadcast planner will —
    *    is estimated beyond `spark.sql.autoBroadcastJoinThreshold`, the
    *    plan-time stats test Spark's own broadcast decision and
    *    `InjectRuntimeFilter` use. In the broadcast regime the join never
    *    shuffles the corpus side, so the bloom would be pure overhead;
    *    beyond it, the bloom keeps the corpus-side exchange from shipping
    *    keys that cannot match. The estimate is size-only (no
    *    filter/distinct selectivity), so it errs CONSERVATIVE: an
    *    over-estimate injects a bloom that AQE's runtime broadcast then
    *    makes redundant — a bounded soft cost (one small-side scan plus a
    *    per-row hash test), never a lost prune where the shuffle is real.
    *    Clusters whose stats make auto misfire have the explicit
    *    overrides.
    *  - `"on"` / `"off"`: force either way (tests; known-bad stats).
    */
  def pruned(corpus: DataFrame, small: DataFrame, key: String,
             bloomSource: Option[DataFrame] = None): DataFrame = {
    val mode = corpus.sparkSession.conf
      .getOption("spark.graft.bloomPrune").getOrElse("auto")
    val inject = mode match {
      case "on"  => true
      case "off" => false
      case "auto" =>
        val thr = corpus.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        thr < 0 || small.queryExecution.optimizedPlan.stats.sizeInBytes > thr
      case other => throw new IllegalArgumentException(
        // loud like graft.Materialize's strategy check: a typo ("On",
        // "true") must not silently re-enter auto and change the plan the
        // operator audited
        s"spark.graft.bloomPrune must be on|off|auto, got '$other'")
    }
    if (!inject) corpus
    else corpus.filter(mightContain(bloomSource.getOrElse(small), key))
  }

  /** The `might_contain(scalar-subquery(bloom_filter_agg(...)))` predicate
    * itself — `BloomFilterAggregate` over `small(key)` as a global
    * aggregate (partial bloom per task, merged once; no exchange of the
    * small side's rows). */
  private def mightContain(small: DataFrame, key: String): Column = {
    val srcPlan = small.queryExecution.analyzed
    val srcKey = srcPlan.output.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(
        s"bloom source has no column '$key' (has: ${srcPlan.output.map(_.name).mkString(", ")})"))
    val bloomPlan = Aggregate(Nil,
      Seq(Alias(new BloomFilterAggregate(new XxHash64(Seq(srcKey)))
        .toAggregateExpression(), "__bloom")()),
      srcPlan)
    org.apache.spark.sql.GraftColumnBridge.column(
      BloomFilterMightContain(ScalarSubquery(bloomPlan),
        new XxHash64(Seq(UnresolvedAttribute.quoted(key)))))
  }
}
