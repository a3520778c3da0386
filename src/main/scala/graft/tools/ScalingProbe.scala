package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}

/** Low-core scaling probe — the kernel-bound arm the r20 verdict asked
  * for (item 2): the driver's 8-vs-32-CPU bench comparison is flat at
  * sf0.1 NOT because the operators are serial but because (a) every
  * fixture table is ONE parquet file with ONE row group, so every scan
  * stage is a single task at any core count, and (b) per-query time is
  * driver/fixed-cost bound at this SF. This probe makes parallelizable
  * work VISIBLE and measures how the same declared queries scale when it
  * is:
  *
  *  1. builds a multi-row-group documents fixture: the sf0.1 corpus
  *     amplified `amp`× with every token PREFIXED by its copy index (so
  *     copies share no shingles/fingerprints/tokens — no cross-copy
  *     near-dup explosion; each copy contributes the original corpus'
  *     own work, amp× total), written as 32 parquet files;
  *  2. runs the five heaviest documents-only declared queries (text
  *     kernels: simhash, winnow, tf-idf, surprisal, quality features)
  *     against that fixture at `local[8]` and `local[32]` — fresh session
  *     per width, same `shuffle.partitions = cores` rule as Bench — warm
  *     pass then min-of-2 timed passes;
  *  3. prints per-query sec@8 / sec@32 and the ratio. Kernel/scan-bound
  *     ratios land near the 4× core ratio; whatever remains ≈ 1 is the
  *     per-query fixed floor, now separable from operator serialization.
  *
  * Usage: `sbt "runMain graft.tools.ScalingProbe [amp]"` (default 8).
  * Output is committed under `plans/r21/scaling_probe.txt` and summarized
  * in BASELINE.md so the driver's `suspect_cpus_ignored` heuristic has a
  * committed counter-signal to read. */
object ScalingProbe {
  private val queries = Seq(
    "d17_simhash_neardups", "d28_winnow_neardups", "d24_tfidf_top_terms",
    "d29_unigram_surprisal", "d5_quality_features")

  def main(args: Array[String]): Unit = {
    val amp = args.lift(0).flatMap(_.toIntOption).getOrElse(8)
    val srcDir = "/root/testdata/sf0.1"
    val outDir = "/tmp/graft_scaling_fixture"
    locally { // phase 1: the multi-row-group amplified fixture
      val spark = GraftSession.local("graft-scaling-probe", 32)
      val docs = Tables.documents(spark, srcDir)
      val amped = (0 until amp).map { i =>
        docs.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          // per-copy token prefix: copies share NO token/shingle/k-gram,
          // so self-join density stays the original corpus' own
          array_join(transform(split(col("text"), " ", -1),
            t => concat(lit(s"c$i"), t)), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionByName(_))
      amped.repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      val nFiles = new java.io.File(s"$outDir/documents.parquet")
        .listFiles().count(_.getName.endsWith(".parquet"))
      println(s"[scalingprobe] fixture: sf0.1 documents x$amp as $nFiles files")
      spark.stop()
    }
    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    for (cpus <- Seq(8, 32)) {
      val spark = GraftSession.local("graft-scaling-probe", cpus)
      queries.foreach { q =>
        SparkEntry.queries(q)(spark, outDir).count() // warm codegen/JIT
        val t0 = System.nanoTime(); SparkEntry.queries(q)(spark, outDir).count()
        val t1 = System.nanoTime(); SparkEntry.queries(q)(spark, outDir).count()
        val dt = math.min(System.nanoTime() - t1, t1 - t0) / 1e9
        results((q, cpus)) = dt
        println(f"[scalingprobe] $q%-28s cpus=$cpus%2d  $dt%7.3f s")
      }
      spark.stop()
    }
    println(f"[scalingprobe] ${"query"}%-28s ${"sec@8"}%8s ${"sec@32"}%8s  ratio (core ratio = 4.0)")
    queries.foreach { q =>
      val r8 = results((q, 8)); val r32 = results((q, 32))
      println(f"[scalingprobe] $q%-28s $r8%8.3f $r32%8.3f  ${r8 / r32}%5.2f")
    }
  }
}
