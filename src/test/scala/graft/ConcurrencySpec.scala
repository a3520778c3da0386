package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalExt

/** Shared-session citizenship of the SQL-surface queries (x21/x22/x27/x32).
  *
  * A library running on a user's SparkSession must not treat the session
  * catalog as its own: registering fixed-name temp views (`orders`,
  * `customer`) would clobber a view the user owns under that name, leave
  * residue behind, and race when two threads query different data
  * directories at once — on a real deployment the session is shared by a
  * whole application, often across threads (a thriftserver, a notebook
  * with parallel cells, an orchestrator running independent reports).
  * `RelationalExt.withViews` therefore registers per-invocation unique
  * names and drops them post-analysis; this spec pins all three visible
  * properties. */
class ConcurrencySpec extends AnyFunSuite {
  import SparkFixture.spark
  import spark.implicits._

  test("SQL-surface queries neither clobber the user's same-named view nor leave residue") {
    val before = spark.catalog.listTables().count()
    // the user's own `orders` — one sentinel row, nothing like the fixture
    Seq((42L, "mine")).toDF("user_col", "tag").createOrReplaceTempView("orders")
    try {
      val r = RelationalExt.aboveAvgOrders(spark, SparkFixture.sfDir)
      assert(r.count() > 0)
      // the user's view is untouched and still theirs
      val mine = spark.sql("SELECT * FROM orders").collect()
      assert(mine.length == 1 && mine(0).getString(1) == "mine")
      // no engine view left behind
      assert(spark.catalog.listTables().count() == before + 1)
    } finally spark.catalog.dropTempView("orders")
  }

  test("concurrent SQL-surface queries over DIFFERENT directories each see their own data") {
    // second directory: same schemas, half the orders — results must differ
    val dir2 = java.nio.file.Files.createTempDirectory("graft_conc").toString
    Tables.names.foreach { t =>
      val df = spark.read.parquet(s"${SparkFixture.sfDir}/$t.parquet")
      (if (t == "orders") df.filter(col("o_orderkey") % 2 === 0) else df)
        .write.mode("overwrite").parquet(s"$dir2/$t.parquet")
    }
    val dirs = Seq(SparkFixture.sfDir, dir2)
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "aboveAvg" -> ((s, d) => RelationalExt.aboveAvgOrders(s, d)),
        "urgent" -> ((s, d) => RelationalExt.urgentCustomers(s, d)),
        "exists" -> ((s, d) => RelationalExt.existsBigSpenders(s, d)),
        "gsets" -> ((s, d) => RelationalExt.groupingSets(s, d)))
    val serial: Map[(String, String), Seq[String]] =
      (for { d <- dirs; (qn, q) <- queries }
        yield (qn, d) -> q(spark, d).collect().map(_.toString).toSeq).toMap
    // both dirs × all four queries × 3 rounds, all in flight together
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(8))
    val futs = for { round <- 1 to 3; d <- dirs; (qn, q) <- queries } yield Future {
      (qn, d, q(spark, d).collect().map(_.toString).toSeq)
    }
    val results = Await.result(Future.sequence(futs), 5.minutes)
    results.foreach { case (qn, d, rows) =>
      assert(rows == serial((qn, d)),
        s"$qn over $d diverged from its serial result under concurrency")
    }
    // sanity: the two dirs really produce different answers (the race this
    // spec exists to catch would otherwise be invisible)
    assert(serial(("aboveAvg", dirs.head)) != serial(("aboveAvg", dirs(1))))
  }

  test("checkpoint-backed and driver-loop operators are safe under concurrent invocation") {
    // the operators with per-invocation STATE beyond the plan: localCheckpoint
    // materializations (corpus chain, bucketed as-of's pinned row ids), a
    // driver-side k-means fit (IVF), and a driver-side merge loop (BPE).
    // Two of each in flight at once must reproduce their serial results —
    // one shared SparkContext, no cross-talk between materializations.
    val d = SparkFixture.sfDir
    val queries: Seq[(String, () => Seq[String])] = Seq(
      "d43" -> (() => SparkEntry.queries("d43_training_sequences")(spark, d)
        .collect().map(_.toString).toSeq),
      "d22" -> (() => SparkEntry.queries("d22_ivf_topk")(spark, d)
        .collect().map(_.toString).toSeq),
      "x34" -> (() => SparkEntry.queries("x34_asof_bucketed")(spark, d)
        .collect().map(_.toString).toSeq),
      "d46" -> (() => SparkEntry.queries("d46_bpe_merges")(spark, d)
        .collect().map(_.toString).toSeq))
    val serial = queries.map { case (n, q) => n -> q() }.toMap
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(8))
    val futs = for { _ <- 1 to 2; (n, q) <- queries } yield Future((n, q()))
    Await.result(Future.sequence(futs), 10.minutes).foreach { case (n, rows) =>
      assert(rows == serial(n), s"$n diverged under concurrency")
    }
  }

  test("auto stage strategy is per-invocation under concurrency: a dense " +
      "pipeline's disk decision never leaks into a parallel sparse one") {
    // the reason denseCorpusStrategy's override is a DynamicVariable and
    // not a session-conf write: two threads of one application running
    // corpus pipelines over different data must each get the strategy
    // THEIR corpus warrants. Dense fixture = 100 clone-groups of 10
    // (density ~4.5 edges/doc, past the knee); sparse = 1000 distinct
    // docs. Run both concurrently under stageStorage=auto, repeatedly,
    // and assert outputs match their serial results — plus the serial
    // selection evidence (dense → DISK_ONLY stages, sparse → none),
    // which the auto-strategy CorpusSpec test pins in isolation.
    val dense = (0L until 1000L).map { i =>
      val g = i / 10
      val toks = (0 until 15).map(j => s"cgrp$g-tok$j").mkString(" ")
      (i, s"$toks ctail$i", "en", "srcX", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val sparse = (0L until 1000L).map { i =>
      (i, (0 until 15).map(j => s"cdoc$i-tok$j").mkString(" "), "en", "srcX", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    spark.conf.set("spark.graft.stageStorage", "auto")
    try {
      def run(docs: org.apache.spark.sql.DataFrame): Seq[String] =
        operators.Corpus.trainingSequences(docs, Map.empty)
          .collect().map(_.toString).sorted.toSeq
      val serialDense = run(dense)
      val serialSparse = run(sparse)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(4))
      val futs = for (_ <- 1 to 2) yield Seq(
        Future(("dense", run(dense))), Future(("sparse", run(sparse))))
      Await.result(Future.sequence(futs.flatten), 10.minutes).foreach {
        case ("dense", rows) => assert(rows == serialDense,
          "dense pipeline diverged under concurrent auto selection")
        case (_, rows) => assert(rows == serialSparse,
          "sparse pipeline diverged under concurrent auto selection")
      }
    } finally {
      spark.conf.unset("spark.graft.stageStorage")
      Materialize.releaseStages(spark)
    }
  }
}
