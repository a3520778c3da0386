package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Seeded stratified splitting (M6) and stratified K-fold assignment (M7),
  * the Spark forms of `train_test_split(stratify=y, random_state=42)`
  * (`run_pipeline.py:51-56`) and `StratifiedKFold(n_splits, shuffle=True)`
  * (`training.py:63`).
  *
  * Mechanism: rank rows within each label stratum by a pinned `rand(seed)`
  * draw and cut by fraction / modulus. The rank is computed with the
  * repo's partition-offset order-statistics pattern
  * ([[graft.operators.Metrics.exactPercentiles]],
  * `RelationalExt.priceQuartiles`): range-repartition by (label, draw),
  * sort within partitions, collect only the tiny per-(partition, stratum)
  * counts, and assign each row `global stratum rank = stratum offset +
  * local index`. A window partitioned by the label would instead buffer
  * and sort EACH WHOLE STRATUM in a single task — with two churn classes
  * that is two tasks each sorting half of the corpus, the classic
  * 100 TB straggler (AQE splits skewed join partitions, never window
  * partitions). Here every partition sorts only its range slice, so the
  * split scales with the cluster. */
object Split {

  /** Rows with two appended columns: `__sr_rank` (0-based rank of the row
    * within its label stratum, ordered by the pinned `rand(seed)` draw)
    * and `__sr_n` (the stratum's row count).
    *
    * Materialization is CORRECTNESS here, twice over (the r14 batch-6b
    * contract): (1) the `rand(seed)` draw column is pinned
    * ([[graft.Materialize.pin]]) BEFORE the range shuffle — rand is seeded by
    * per-partition row order, which is not stable across jobs, and the
    * range partitioner's sampling pass plus the shuffle itself are
    * separate jobs (unpinned, they could see different draws, and a
    * caller's `.cache()` would silently RECOMPUTE different draws on
    * eviction — train/test overlap, CV leakage); (2) the sorted layout is
    * pinned too ([[graft.Materialize.pinRows]]) so the counts pass and the
    * rank-assign pass walk the SAME physical row order. Block loss fails
    * loudly instead of recomputing. The pinned draw's blocks are RELEASED
    * as soon as the sorted layout's own pin materializes (the counts
    * collect below) — repeated calls (grid search) never accumulate
    * block-store footprint beyond one sorted layout per live result.
    *
    * `partitions <= 0` (default) derives the range-partition count as
    * max(`spark.sql.shuffle.partitions`, input scan partitions), so the
    * sort width grows with the data instead of capping at a constant. */
  private def withStratumRank(df: DataFrame, labelCol: String, seed: Long,
                              partitions: Int = 0): DataFrame = {
    require(!df.columns.exists(c => c == "__sr_r" || c == "__sr_rank" || c == "__sr_n"),
      "input already carries a __sr_* working column")
    val spark = df.sparkSession
    val labelIdx = df.schema.fieldIndex(labelCol)
    val nParts = graft.operators.Metrics.derivedPartitions(df, partitions)
    val pinned = graft.Materialize.pin(df.withColumn("__sr_r", rand(seed)))
    val sorted = pinned
      .repartitionByRange(nParts, col(labelCol), col("__sr_r"))
      .sortWithinPartitions(col(labelCol), col("__sr_r"))
    // tiny collect: one (stratum → count) map per partition. Option-wraps
    // the label value so a NULL-label stratum is a first-class key.
    val (rdd, counts) = graft.Materialize.labelled(sorted) {
      val rdd = graft.Materialize.pinRows(sorted)
      (rdd, rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Option[Any], Long]
        it.foreach { r =>
          val k = Option(r.get(labelIdx))
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        Iterator.single((pid, m.toMap))
      }.collect())
    }
    // the collect above filled the sorted layout's pin, which cut its
    // lineage to `pinned` — release the pinned draw's blocks now instead of
    // waiting for the ContextCleaner to GC the reference
    graft.Materialize.release(pinned)
    val labels = counts.flatMap(_._2.keys).distinct
    val nPerLabel: Map[Option[Any], Long] = labels.map { l =>
      l -> counts.map(_._2.getOrElse(l, 0L)).sum
    }.toMap
    // stratum offset of each partition = the stratum's rows in partitions
    // BEFORE it (range partitioning keys on (label, draw), so a stratum's
    // rows are contiguous across the partition sequence)
    val offsets: Map[(Int, Option[Any]), Long] = {
      val running = scala.collection.mutable.Map.empty[Option[Any], Long]
        .withDefaultValue(0L)
      counts.sortBy(_._1).flatMap { case (pid, m) =>
        m.map { case (l, c) =>
          val off = running(l); running(l) = off + c; ((pid, l), off)
        }
      }.toMap
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(nPerLabel)
    val outSchema = StructType(pinned.schema.filterNot(_.name == "__sr_r") ++
      Seq(StructField("__sr_rank", LongType, nullable = false),
        StructField("__sr_n", LongType, nullable = false)))
    val rIdx = pinned.schema.fieldIndex("__sr_r")
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      val next = scala.collection.mutable.Map.empty[Option[Any], Long]
      it.map { r =>
        val l = Option(r.get(labelIdx))
        val rank = next.getOrElse(l, bcOffsets.value((pid, l)))
        next.update(l, rank + 1L)
        val base = r.toSeq.zipWithIndex.collect { case (v, i) if i != rIdx => v }
        Row.fromSeq(base ++ Seq(rank, bcN.value(l)))
      }
    }
    spark.createDataFrame(ranked, outSchema)
  }

  /** Stratified train/test split: exact per-stratum test fraction.
    *
    * CEIL cut, like sklearn: a floor cut (`rank+1 <= n·testSize`) gives
    * ZERO test rows to any stratum with n < 1/testSize — the minority
    * class silently vanishes from the test set, single-class AUC collapses
    * to its guard value, and every model fails the champion gate with no
    * error naming the real cause. */
  def stratified(df: DataFrame, labelCol: String, testSize: Double, seed: Long,
                 partitions: Int = 0): (DataFrame, DataFrame) = {
    val ranked = withStratumRank(df, labelCol, seed, partitions)
    val cut = ceil(col("__sr_n") * testSize)
    val test = ranked.filter(col("__sr_rank") + 1L <= cut).drop("__sr_rank", "__sr_n")
    val train = ranked.filter(col("__sr_rank") + 1L > cut).drop("__sr_rank", "__sr_n")
    (train, test)
  }

  /** Stratified fold ids 0..k-1, balanced within each stratum (each fold
    * gets every k-th rank of the stratum's pinned-random order). */
  def foldAssign(df: DataFrame, labelCol: String, k: Int, seed: Long,
                 partitions: Int = 0): DataFrame =
    withStratumRank(df, labelCol, seed, partitions)
      .withColumn("fold", ((col("__sr_rank") + 1L) % k).cast("int"))
      .drop("__sr_rank", "__sr_n")
}
