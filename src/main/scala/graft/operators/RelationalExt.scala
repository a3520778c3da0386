package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Second relational capability slice: window frames (running/moving
  * aggregates), ranking families, first/last value, full-outer joins,
  * scalar/IN subqueries — the latter two via the `spark.sql` interface over
  * registered views, demonstrating the engine's SQL surface alongside the
  * DataFrame API.
  *
  * Scale notes: all windows partition by a key (custkey / segment); the
  * monthly moving average windows over an already-aggregated series
  * (O(months) rows). Subquery forms compile to the same broadcast-joined
  * plans Catalyst produces for the DataFrame forms.
  */
object RelationalExt {

  private val viewEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `f` with per-invocation UNIQUE temp-view names for the requested
    * tables, dropped before returning. Fixed names (`orders`, `customer`)
    * would make the SQL surface a bad citizen on a SHARED SparkSession —
    * clobbering a view the caller registered under the same name, and
    * racing when two threads query different data directories at once
    * (the session catalog is session-global). `spark.sql` inlines a view's
    * plan at ANALYSIS time, so dropping the views immediately after `f`
    * builds its frame is safe — the returned plan no longer references
    * them — and leaves zero catalog residue. `f` receives the name map and
    * interpolates; the SQL text is otherwise the one a user would write. */
  private def withViews(s: SparkSession, dir: String, names: String*)(
      f: Map[String, String] => DataFrame): DataFrame = {
    val tag = viewEpoch.incrementAndGet()
    val m = names.map(n => n -> s"${n}_g$tag").toMap
    m.foreach { case (n, vn) => Tables.canonical(s, dir, n).createOrReplaceTempView(vn) }
    try f(m) finally m.values.foreach(s.catalog.dropTempView(_))
  }

  /** Running total per customer (frame: unbounded preceding → current). */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Trailing 3-ROW moving average over the OBSERVED monthly revenue
    * series — window over a pre-aggregated tiny relation. Row-based on
    * purpose (the common dashboard form): a month with zero orders emits
    * no series row, so the 3-row frame spans the last three observed
    * months, which can cover a longer calendar span across a gap. A
    * calendar-true 3-month frame needs a gap-filled spine first (see
    * [[graft.operators.EventOps.gapFilledHourly]] for that pattern) or a
    * rangeBetween over a month index. */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    // undated orders excluded — same convention as Relational.monthlyOrders
    val monthly = Tables.orders(s, dir)
      .where(col("o_orderdate").isNotNull)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy(col("month")).rowsBetween(-2, 0)
    monthly.select(col("month"),
        round(col("rev"), 2).as("rev"),
        round(avg(col("rev")).over(w), 2).as("rev_ma3"))
      .orderBy(col("month"))
  }

  /** Quartile assignment + per-quartile stats, exactly matching
    * `ntile(4) OVER (ORDER BY o_totalprice, o_orderkey)` — but WITHOUT the
    * global single-partition window (the classic 100×-scale killer).
    *
    * Scale shape (à la [[Metrics.aucDistributed]]): range-repartition by the
    * sort key, sort within partitions, collect only the tiny per-partition
    * row counts, then assign each row its global rank = partition offset +
    * local index and apply the ntile formula (first `N mod 4` tiles get
    * `⌈N/4⌉` rows). Two scan-parallel passes, no stage with one task;
    * bit-identical to the windowed form (asserted in RelationalSpec). */
  def priceQuartiles(s: SparkSession, dir: String): DataFrame = {
    // quartiles are over OBSERVED prices — a NULL o_totalprice carries no
    // rank (SQL aggregate semantics; the per-partition `getDouble` below
    // would otherwise throw ROW_VALUE_IS_NULL on it)
    val base = Tables.orders(s, dir)
      .select(col("o_totalprice"), col("o_orderkey"))
      .where(col("o_totalprice").isNotNull)
    // width derives from the data; the rank/ntile formula is global, so
    // the result is width-invariant
    val sorted = Metrics.rangeRanked(base, 0, col("o_totalprice"), col("o_orderkey"))
    val offsets = sorted.offsets
    val total = offsets.last
    val q = total / 4; val r = total % 4
    val quartRdd = sorted.rows.mapPartitionsWithIndex { (pid, it) =>
      var rn = offsets(pid)
      it.map { row =>
        rn += 1
        val g =
          if (q == 0L || rn <= r * (q + 1)) (rn - 1) / (q + 1) + 1
          else r + (rn - r * (q + 1) - 1) / q + 1
        (g, row.getDouble(0))
      }
    }
    s.createDataFrame(quartRdd).toDF("quartile", "o_totalprice")
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("quartile"))
  }

  /** Ranking family within market segment: rank / dense_rank /
    * percent_rank over account balance. */
  def segmentRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        Features.pround(percent_rank().over(w), 6).as("prnk"))
      .filter(col("rnk") <= 5)
      .orderBy(col("c_mktsegment"), col("rnk"), col("c_custkey"))
  }

  /** First and last order price per customer. Semantically
    * first_value/last_value over the full partition frame, but executed as a
    * single map-side-combined hash aggregate — `min_by`/`max_by` keyed on
    * (o_orderdate, o_orderkey) — instead of a window (per-partition sort)
    * followed by a `.distinct()` that shuffles one row per order back down
    * to one per customer. The (date, key) struct is unique per order, so
    * the argmin/argmax is deterministic — which assumes NON-NULL dates:
    * undated orders are excluded (same convention as monthlyOrders; a
    * NULL date field would otherwise sort FIRST inside Spark's struct
    * ordering and report an undated order as the temporally-first
    * purchase, flipping to last on engines that sort nulls last). */
  def firstLastOrder(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .where(col("o_orderdate").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(
        min_by(col("o_totalprice"),
          struct(col("o_orderdate"), col("o_orderkey"))).as("first_price"),
        max_by(col("o_totalprice"),
          struct(col("o_orderdate"), col("o_orderkey"))).as("last_price"))
      .orderBy(col("o_custkey"))

  /** Full-outer join: per-nation customer vs supplier counts (sparse
    * supplier side exercises null rows on both legs). */
  def nationCoverage(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val sup = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sup, Seq("nationkey"), "full_outer")
      .select(col("nationkey"), col("n_cust"), col("n_supp"))
      .orderBy(col("nationkey").asc_nulls_first)
  }

  /** Scalar subquery via the SQL interface: orders above the global
    * average price, per priority. */
  def aboveAvgOrders(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "orders") { v =>
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |       round(sum(o_totalprice), 2) AS sum_price
           |FROM ${v("orders")}
           |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM ${v("orders")})
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }

  /** IN-subquery via the SQL interface: customers holding an urgent order. */
  def urgentCustomers(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "orders", "customer") { v =>
      s.sql(
        s"""SELECT c_custkey, c_name FROM ${v("customer")}
           |WHERE c_custkey IN (SELECT o_custkey FROM ${v("orders")}
           |                    WHERE o_orderpriority = '1-URGENT')
           |ORDER BY c_custkey""".stripMargin)
    }

  /** Correlated EXISTS via the SQL interface (planned as a left-semi
    * join — same physical shape as IN, but with the correlated predicate
    * pushed into the join condition): customers with at least one order
    * above a fixed price in a fixed year. */
  def existsBigSpenders(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "orders", "customer") { v =>
      s.sql(
        s"""SELECT c_custkey, c_mktsegment FROM ${v("customer")} c
           |WHERE EXISTS (SELECT 1 FROM ${v("orders")} o
           |              WHERE o.o_custkey = c.c_custkey
           |                AND o.o_totalprice > 400000.0)
           |ORDER BY c_custkey""".stripMargin)
    }

  /** RANGE-framed window: per order, the count and total of the SAME
    * customer's orders within ±30 days of it — a value-range frame (all
    * peers within the bound), not a row-count frame. The order column is
    * the epoch-day integer so the frame bound is engine-portable; the sum
    * is integer cents (order-independent). Window partitions by customer —
    * fully parallel across customers. */
  def nearbyOrderMass(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"))
      .rangeBetween(-30, 30)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        Features.qlong(col("o_totalprice"), 100.0).as("cents"))
      .select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_nearby"),
        (sum(col("cents")).over(w).cast("double") / 100.0).as("nearby_mass"))
      .orderBy(col("o_orderkey"))
  }

  /** Three-way fact-dimension join: revenue by part brand. `part` and
    * `supplier` scale with SF, so no broadcast hint — AQE picks the join
    * strategy by measured size. */
  def revenueByBrand(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val sup = Tables.supplier(s, dir)
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q3-SHAPED (the join/group/top-k skeleton, not Q3's predicates):
    * top revenue orders for one market segment over ALL its orders — the
    * Q3 date filters (`o_orderdate < :date`, `l_shipdate > :date`) that
    * would make it "unshipped revenue as of :date" are deliberately
    * absent, so shipped orders rank too. 3-way join, one-side filter,
    * grouped top-k. */
  def shippingPriority(s: SparkSession, dir: String, k: Int): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5-shaped: revenue by nation within one region where the
    * supplying and ordering nations match (5-way join through region). */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q7-shaped: trade volume between (customer nation, supplier
    * nation) pairs — the same dimension joined twice under different
    * roles (both broadcast). */
  def nationPairVolume(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n1), c("c_nationkey") === col("c_nk"))
      .join(broadcast(n2), sup("s_nationkey") === col("s_nk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      // sum in integer cents: per-row terms are IEEE-identical across
      // engines, and integer summation is order-independent — so the group
      // total is deterministic where a double sum differs in the last ulp
      // (observed: 4/600 groups split by round(·,2) at sf0.01)
      .agg((sum(Features.qlong(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 100.0))
          .cast("double") / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("cust_nation"), col("supp_nation"))
  }

  /** Approximate distinct counts (HLL++) per language — values are
    * engine-specific (rows-only check); the exact form is d2_dedup_stats. */
  def approxDistinctTexts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(approx_count_distinct(col("text"), 0.01).as("approx_unique"),
        count(lit(1)).as("n_total"))
      .orderBy(col("lang"))

  /** Explicit GROUPING SETS via the SQL interface (completes the grouped
    * aggregation family next to rollup/cube). */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "orders") { v =>
      // grouping_id disambiguates a subtotal row from a group whose key
      // value is NULL (same marker as rollupPricing/cubeOrders)
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |       round(sum(o_totalprice), 2) AS sum_price,
           |       grouping_id() AS gid
           |FROM ${v("orders")}
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, gid""".stripMargin)
    }

  /** UNION vs UNION ALL semantics in one relation. */
  def unionSemantics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    val unionAllCnt = f.unionAll(p).agg(count(lit(1)).as("n_union_all"))
    val unionCnt = f.union(p).distinct().agg(count(lit(1)).as("n_union_distinct"))
    unionAllCnt.crossJoin(unionCnt)
  }
}
