package graft

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place an eager stage is materialized. Every operator that
  * reuses an intermediate (a self-join's two sides, a two-pass order
  * statistic, a per-round loop) materializes it here, so every such stage
  * follows one storage policy, `spark.graft.stageStorage`, and every
  * materialization job carries a `mat[...]` job description for listeners
  * and the profiler.
  *
  * Strategies:
  *  - `local` (default, also unset or `auto` outside a corpus pipeline):
  *    `localCheckpoint(eager = true)`. Blocks live on executors with the
  *    lineage truncated. Fastest locally, and what every plan assertion in
  *    the test suite pins. No fault tolerance: an executor lost at hour N
  *    of a cluster run loses its partitions and fails the job.
  *  - `disk`: [[stage]] persists `DISK_ONLY` with the lineage KEPT
  *    (executor loss recomputes the lost partitions) and [[pin]] takes a
  *    disk-backed local checkpoint. Handles are registered per session;
  *    orchestration calls [[releaseStages]] when the output is written.
  *  - `reliable`: `checkpoint(eager = true)` into the context's checkpoint
  *    directory, so the stage survives executor-host loss. The caller must
  *    have called `setCheckpointDir`; the strategy fails with a named error
  *    otherwise. Checkpoint files are not reclaimed by [[releaseStages]]:
  *    Spark deletes them at context stop, or at GC of the RDD with
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * Why a checkpoint and not `persist()` by default: the returned DataFrame
  * is handed to callers lazily, so no operator can know when it is safe to
  * unpersist. Checkpoint blocks are reference-tracked by the ContextCleaner
  * and freed when the last reference goes; a persisted relation stays
  * pinned in the cache manager until someone unpersists it, which is why
  * the `disk` strategy needs the [[releaseStages]] registry.
  *
  * [[stage]] and [[pin]] are eager under every strategy: "computed exactly
  * once" holds even when two consumers fire their first actions
  * concurrently.
  *
  * The strategy is a performance choice too: on a dup-dense corpus the
  * `local` blocks are deserialized heap objects that thrash, while `disk`
  * and `reliable` hold serialized or file blocks (figures and the
  * re-measurement recipe: plans/MEASUREMENTS.md, "Dup-density knee"). */
object Materialize {
  private val StrategyKey = "spark.graft.stageStorage"

  /** Thread-scoped strategy set by the corpus pipeline's dense-corpus probe
    * for the duration of ONE pipeline construction. A DynamicVariable, not
    * a session conf write: concurrent pipelines on one session must not
    * see each other's decisions. It outranks the session conf. */
  private[graft] val strategyOverride = new DynamicVariable[Option[String]](None)

  /** The strategy the session conf names, if any. */
  private[graft] def configured(spark: SparkSession): Option[String] =
    spark.conf.getOption(StrategyKey)

  private def strategy(spark: SparkSession): String =
    strategyOverride.value.orElse(configured(spark)).getOrElse("local") match {
      // bare `auto` outside a corpus pipeline: no density probe ran, so no
      // decision exists. The pipelines install a resolved override before
      // their first materialization, so `auto` never reaches here from them.
      case "auto" => "local"
      case s @ ("local" | "disk" | "reliable") => s
      case other =>
        // a typo silently running a multi-hour job in the non-fault-tolerant
        // default is the failure this check exists to stop
        throw new IllegalArgumentException(
          s"$StrategyKey='$other' is not a strategy: use " +
            "'local' (default, executor-local checkpoint), 'disk' " +
            "(DISK_ONLY persist, releaseStages reclaims), 'reliable' " +
            "(durable checkpoint, requires setCheckpointDir), or 'auto' " +
            "(corpus pipelines probe dup density and pick local vs disk)")
    }

  /** Materializes a deterministic intermediate that feeds 2+ consumers, so
    * the work above it runs exactly once. Under `disk` the lineage is kept:
    * a lost block is recomputed, which is safe because recomputing gives
    * the same rows. */
  def stage(df: DataFrame): DataFrame = labelled(df) {
    strategy(df.sparkSession) match {
      case "local" => df.localCheckpoint(true)
      case "disk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        // registered BEFORE the eager count: if the job dies partway, the
        // blocks its successful tasks stored are still reclaimable
        register(df.sparkSession, () => p.unpersist(blocking = false))
        p.count()
        p
      case _ => reliable(df)
    }
  }

  /** [[stage]], plus the metrics of `df`'s own `observe(name, ...)` nodes
    * read from the staging job. They are returned only under `local`,
    * whose eager job runs `df`'s own plan once, in its result stage. `disk`
    * and `reliable` run the plan inside another execution (under `disk`,
    * in the shuffle map stage of the eager count), so the map is empty and
    * the caller falls back to a count or an aggregate. Observe only above
    * the last exchange of `df`: a re-executed shuffle map stage can merge
    * its accumulator updates twice (plans/MEASUREMENTS.md, "Observed
    * metrics on an eager materialization"). */
  def stageObserved(df: DataFrame): (DataFrame, Map[String, Row]) = {
    val staged = stage(df)
    val metrics =
      if (strategy(df.sparkSession) == "local") df.queryExecution.observedMetrics
      else Map.empty[String, Row]
    (staged, metrics)
  }

  /** Materializes a relation whose values must never be recomputed: a
    * `rand` draw, a `monotonically_increasing_id`, a Bernoulli sample. A
    * recompute would produce DIFFERENT values, so the lineage is cut under
    * every strategy; `disk` keeps the cut but stores the blocks on disk. A
    * lost block fails the job loudly instead of recomputing other values. */
  def pin(df: DataFrame): DataFrame = labelled(df) {
    strategy(df.sparkSession) match {
      case "local" => df.localCheckpoint(true)
      case "disk" =>
        val p = df.localCheckpoint(true, StorageLevel.DISK_ONLY)
        register(df.sparkSession, () => release(p))
        p
      case _ => reliable(df)
    }
  }

  /** [[pin]] for the rows of `df` as an RDD whose physical row order two
    * later passes must share. Under `local` and `disk` the checkpoint fills
    * during the caller's first pass (run it inside [[labelled]]);
    * `reliable` writes the files here. */
  def pinRows(df: DataFrame): RDD[Row] = labelled(df) {
    val rdd = df.rdd
    strategy(df.sparkSession) match {
      case "local" => rdd.localCheckpoint()
      case "disk" =>
        register(df.sparkSession, () => rdd.unpersist(blocking = false))
        rdd.persist(StorageLevel.DISK_ONLY).localCheckpoint()
      case _ =>
        requireCheckpointDir(df.sparkSession.sparkContext)
        // transient persist, as in [[reliable]]
        rdd.persist(StorageLevel.DISK_ONLY)
        rdd.checkpoint()
        try rdd.count() finally rdd.unpersist(blocking = false)
        rdd
    }
  }

  /** Runs `body` with the job description `<kind>[<df's columns>]`
    * (`mat[...]` for a materialization, `collect[...]` for a driver-side
    * collect), restoring the thread's previous description afterwards. */
  def labelled[T](df: DataFrame, kind: String = "mat")(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(df.columns.take(6)
      .mkString(s"$kind[", ",", if (df.columns.length > 6) ",…]" else "]"))
    try body finally sc.setJobDescription(prev)
  }

  private def requireCheckpointDir(sc: SparkContext): Unit =
    // fail BEFORE the upstream work runs, with the fix in the message
    if (sc.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$StrategyKey=reliable requires a checkpoint " +
          "directory: call spark.sparkContext.setCheckpointDir(<durable " +
          "path>) before running the pipeline (on a cluster this must " +
          "be HDFS / object storage, not a local path)")

  /** An unpersisted reliable checkpoint computes the stage TWICE: the eager
    * count, then a second job that recomputes every partition to write the
    * files. A transient DISK_ONLY persist feeds the write job from the
    * count's blocks and is dropped before returning, so `reliable` leaves
    * no DISK_ONLY handle behind. */
  private def reliable(df: DataFrame): DataFrame = {
    requireCheckpointDir(df.sparkSession.sparkContext)
    val p = df.persist(StorageLevel.DISK_ONLY)
    try df.checkpoint(true)
    finally p.unpersist(blocking = false)
  }

  /** Frees the blocks backing one relation returned by [[stage]] or
    * [[pin]], under any strategy: a loop drops its superseded round, a
    * two-pass operator drops its input once the next layout is cut. The
    * relation must have no live consumer left: a checkpointed one fails
    * loudly when read after release. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `disk`-strategy handles per session, so [[releaseStages]] frees
    * exactly what this module stored, never a caller's own cached
    * relations. The handles hold their session strongly, so a dropped
    * session's stages live until released, as Spark's own cached relations
    * do. */
  private val persisted = mutable.Map.empty[SparkSession, mutable.Buffer[() => Unit]]

  private def register(spark: SparkSession, free: () => Unit): Unit =
    persisted.synchronized {
      persisted.getOrElseUpdate(spark, mutable.Buffer.empty) += free
    }

  /** Frees every `disk`-strategy stage and pin stored for `spark`. Call
    * after the pipeline output is written. Stages keep their lineage, so a
    * consumer still reading one recomputes it; a released pin fails its
    * next reader loudly. */
  def releaseStages(spark: SparkSession): Unit = {
    val handles = persisted.synchronized(persisted.remove(spark).getOrElse(Nil))
    handles.foreach(_())
  }
}
