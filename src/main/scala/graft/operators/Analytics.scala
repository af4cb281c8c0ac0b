package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational query surface over the driver's TPC-H-ish star schema
  * (SURVEY.md §2.3 note: the reference is single-table, so joins/group-bys
  * come "for free" as built-ins — this module pins down the shapes, their
  * scale story, and their oracle contracts).
  *
  * Scale design notes, applied throughout:
  *   - `nation`/`region` are bounded dimensions (25/5 rows at ANY scale) —
  *     always `broadcast()`, never shuffled.
  *   - fact⋈fact joins (lineitem⋈orders) shuffle on the join key; AQE
  *     handles skew/coalescing at runtime.
  *   - money aggregates accumulate in DECIMAL: exact, order-independent
  *     (same result under any partitioning — and hash-identical to the
  *     DuckDB oracle), then cast back to DOUBLE at the boundary.
  *   - top-k is ORDER BY an exact (decimal) measure with a unique key
  *     tie-break, so the selected set is deterministic across engines.
  */
object Analytics {
  import Tables.table

  /** TPC-H Q1 shape: scan-side partial aggregation; one shuffle of
    * pre-aggregated partials per (returnflag, linestatus) — 6 groups.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    // widened: see the 4-core table in Tables.widenCpu
    Tables.widenCpu(table(spark, dir, "lineitem"), col("l_orderkey"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(20,4)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(20,4)")).cast("double")
          .as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(24,8)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shape: top-10 orders by revenue for one market segment.
    * lineitem⋈orders shuffles on orderkey; the filtered customer side is
    * small after the segment filter — AQE picks a broadcast at runtime.
    * The limit orders by the EXACT decimal revenue with orderkey tie-break.
    */
  def topRevenueOrders(spark: SparkSession, dir: String,
      segment: String = "BUILDING", k: Int = 10): DataFrame = {
    val c = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === segment)
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(24,8)")).as("revenue_dec"))
      .orderBy(col("revenue_dec").desc, col("l_orderkey"))
      .limit(k)
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        col("revenue_dec").cast("double").as("revenue"))
  }

  /** TPC-H Q5 shape: revenue by nation where the supplier is local to the
    * customer. Two fact shuffles (orderkey, suppkey); nation and region are
    * broadcast — at 100 TB those joins never touch the network beyond the
    * tiny dim broadcast itself.
    */
  def localSupplierVolume(spark: SparkSession, dir: String,
      regionName: String = "ASIA"): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    val s = table(spark, dir, "supplier")
    val n = broadcast(table(spark, dir, "nation"))
    val r = broadcast(table(spark, dir, "region")
      .filter(col("r_name") === regionName))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
               c("c_nationkey") === s("s_nationkey"))
      .join(n, s("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(24,8)")).cast("double").as("revenue"))
  }

  /** TPC-H Q4 shape, adapted: count orders per priority in a date range
    * having at least one RETURNED line item (this schema has no
    * commit/receipt dates, so `l_returnflag = 'R'` carries Q4's EXISTS
    * semantics). One left-semi shuffle on orderkey — the lineitem side is
    * projected to the key before the exchange, and the returnflag filter
    * pushes to its scan.
    */
  def priorityReturnedOrders(spark: SparkSession, dir: String,
      start: String = "1996-01-01 00:00:00",
      endExcl: String = "1997-01-01 00:00:00"): DataFrame = {
    val o = Tables.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(start).cast("timestamp") &&
        col("o_orderdate") < lit(endExcl).cast("timestamp"))
    val returned = Tables.table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(returned, Seq("o_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q18 shape: customers with orders whose total quantity exceeds
    * `minQty`, top `k` by order value. The HAVING aggregate runs BEFORE
    * any join (group lineitem to one row per qualifying order — at scale
    * the big-order set is a tiny fraction), then two key joins and a
    * TakeOrderedAndProject for the global top-k. Quantity sums accumulate
    * in DECIMAL (exact HAVING boundary on any partitioning).
    */
  def largeQuantityOrders(spark: SparkSession, dir: String,
      minQty: Int = 250, k: Int = 100): DataFrame = {
    // widened on the aggregate's own key: see the 4-core table in
    // Tables.widenCpu
    val big = Tables.widenCpu(Tables.table(spark, dir, "lineitem"),
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("sum_qty_dec"))
      .filter(col("sum_qty_dec") > minQty)
    val o = Tables.table(spark, dir, "orders")
    val c = Tables.table(spark, dir, "customer")
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("sum_qty_dec").cast("double").as("sum_qty"))
  }

  /** TPC-H Q7 shape: bilateral trade volume between two nations by ship
    * year. The same bounded `nation` dimension joins in TWO roles
    * (supplier's nation, customer's nation) — each role pre-filtered to
    * the two nations of interest and broadcast, so the nation filter
    * prunes the fact stream at the join instead of post-hoc. Revenue
    * accumulates in DECIMAL(24,8) like every money sum here.
    */
  def nationTradeVolume(spark: SparkSession, dir: String,
      nationA: String = "NATION_18", nationB: String = "NATION_19"): DataFrame = {
    val pair = Seq(nationA, nationB)
    val l = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val s = table(spark, dir, "supplier")
    val n1 = broadcast(table(spark, dir, "nation")
      .filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(table(spark, dir, "nation")
      .filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    l.join(s, l("l_suppkey") === s("s_suppkey"))
      .join(n1, s("s_nationkey") === col("n1_key"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n2, c("c_nationkey") === col("n2_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(24,8)")).cast("double").as("revenue"))
  }

  /** TPC-H Q21 shape, adapted: suppliers who were the SOLE returned-line
    * supplier in a finalized multi-supplier order (this schema has no
    * commit/receipt dates, so `l_returnflag = 'R'` stands in for "late",
    * as in [[priorityReturnedOrders]]). Chained quantifiers, the deepest
    * decorrelation shape here: EXISTS (another supplier in the order)
    * AND NOT EXISTS (another supplier ALSO returned) — a left-semi and a
    * left-anti self-join on the fact table, both shuffling on orderkey
    * (same key → one exchange reused across the chain under AQE).
    */
  def soleReturnedSuppliers(spark: SparkSession, dir: String,
      k: Int = 100): DataFrame = {
    val l = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val finalized = table(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val base = l.filter(col("l_returnflag") === "R")
      .join(finalized, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val others = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val othersReturned = l.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    base
      .join(others, col("l_orderkey") === col("k2") &&
        col("l_suppkey") =!= col("s2"), "left_semi")
      .join(othersReturned, col("l_orderkey") === col("k3") &&
        col("l_suppkey") =!= col("s3"), "left_anti")
      .join(table(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** TPC-H Q8 shape: a nation's market share — the fraction of revenue in
    * a region's customer market supplied by one nation, per ship year.
    * Conditional-numerator aggregation (`sum(CASE WHEN …)/sum(…)`) over a
    * five-way join; both sums accumulate in DECIMAL and the share is one
    * double division. nation/region broadcast in both roles.
    */
  def marketShare(spark: SparkSession, dir: String,
      nationName: String = "NATION_5", regionName: String = "ASIA"): DataFrame = {
    val l = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val s = table(spark, dir, "supplier")
    val nCust = broadcast(table(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey")))
    val r = broadcast(table(spark, dir, "region")
      .filter(col("r_name") === regionName))
    val nSupp = broadcast(table(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(24,8)")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(nCust, c("c_nationkey") === col("cn_key"))
      .join(r, col("n_regionkey") === r("r_regionkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(nSupp, s("s_nationkey") === col("sn_key"))
      .groupBy(year(col("l_shipdate")).as("l_year"))
      .agg(
        sum(when(col("supp_nation") === nationName, rev)
          .otherwise(lit(0).cast("decimal(24,8)"))).cast("double")
          .as("nation_rev"),
        sum(rev).cast("double").as("total_rev"))
      .select(col("l_year"),
        round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
  }

  /** TPC-H Q20 shape, adapted (this schema has no partsupp, so lineitem
    * quantity stands in for availability): suppliers whose shipped
    * quantity of some part exceeds `mult`× the per-part average supplier
    * share — the nested-aggregate IN-subquery shape (an aggregate HAVING
    * compared against a correlated per-part aggregate), decorrelated into
    * two keyed aggregates and a partkey join. Emits how many parts each
    * supplier dominates. The threshold is share-relative, so selectivity
    * survives scale-up; comparison is a single double expression with
    * identical association order in the oracle.
    */
  def dominantPartSuppliers(spark: SparkSession, dir: String,
      mult: Double = 3.0, minSuppliers: Int = 3): DataFrame = {
    // widened on l_partkey, which also clusters the aggregate and the
    // window after it: see the 4-core table in Tables.widenCpu
    val l = Tables.widenCpu(table(spark, dir, "lineitem"),
      col("l_partkey"))
    val bySupp = l.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("sq"))
    // per-part totals derive from the (partkey, suppkey) aggregate via a
    // window on the partitioning that aggregate just produced — one
    // lineitem scan, no self-join (the groupBy-twice form scanned the
    // fact table twice); distinct-supplier count = the window row count
    // because bySupp already has one row per (part, supplier)
    val w = Window.partitionBy(col("l_partkey"))
    val dominant = bySupp
      .withColumn("pq", sum(col("sq")).over(w))
      .withColumn("ns", count(lit(1)).over(w))
      .filter(col("ns") >= minSuppliers &&
        col("sq").cast("double") >
          lit(mult) * col("pq").cast("double") / col("ns").cast("double"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominant_parts"))
    table(spark, dir, "supplier")
      .join(dominant, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominant_parts"))
  }

  /** Full-outer reconciliation: customer and supplier headcounts per
    * nation, keeping nations that have only one side (0-filled). The
    * aggregate runs BEFORE the join, so the outer join touches
    * |nations|-sized inputs regardless of fact cardinality.
    */
  def nationPartyReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = table(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  /** Left-semi: customers with at least one order (EXISTS). */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** Left-anti: customers with no PENDING order (NOT EXISTS with a
    * pushed-down filter on the probe side — every customer has some order
    * in this data, so the unfiltered variant would be vacuously empty).
    */
  def customersWithoutPendingOrders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders").filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** ROLLUP over (status, priority): count + exact money sum per level. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,4)")).cast("double")
          .as("sum_price"))

  /** Window ranking + exact running total per customer. The running-sum
    * frame orders by (date, orderkey) — unique — so the prefix is
    * well-defined; accumulation in DECIMAL keeps it engine-exact.
    */
  def customerOrderRanks(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .withColumn("price_rank", rank().over(byPrice))
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(20,4)")).over(byDate)
          .cast("double"))
      .filter(col("price_rank") <= k)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("price_rank"), col("running_spend"))
  }

  /** Scalar-subquery shape: parts priced above the mean retail price.
    * The mean is computed as exact-decimal sum / count, in double at the
    * boundary — a 1-row broadcast join, not a driver collect.
    */
  def partsAboveAveragePrice(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val avgPrice = p.agg(
      (sum(col("p_retailprice").cast("decimal(20,4)")).cast("double") /
        count(lit(1))).as("avg_price"))
    p.crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("avg_price"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
  }

  /** Set ops on a high-cardinality key (stays non-empty at every scale,
    * unlike nation-level differences which vanish as data densifies):
    * customers who placed orders EXCEPT/INTERSECT the BUILDING segment.
    */
  private def orderingCustkeys(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders").select(col("o_custkey").as("custkey")).distinct()

  private def buildingCustkeys(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey")).distinct()

  def orderingNonBuildingCustomers(spark: SparkSession, dir: String): DataFrame =
    orderingCustkeys(spark, dir).except(buildingCustkeys(spark, dir))

  def orderingBuildingCustomers(spark: SparkSession, dir: String): DataFrame =
    orderingCustkeys(spark, dir).intersect(buildingCustkeys(spark, dir))

  /** Broadcast dim⋈fact: per-brand sales stats (part is the small side). */
  def brandStats(spark: SparkSession, dir: String): DataFrame =
    // widened: see the 4-core table in Tables.widenCpu
    Tables.widenCpu(table(spark, dir, "lineitem"), col("l_partkey"))
      .join(broadcast(table(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(20,4)")).cast("double")
          .as("sum_qty"),
        (sum(col("l_extendedprice").cast("decimal(20,4)")).cast("double") /
          count(lit(1))).as("avg_price"))

  /** Register `df` under a per-call UNIQUE temp-view name, run `q` on
    * the interpolated names, and drop the views (analysis is eager at
    * `spark.sql`, so the returned plan holds resolved relations and the
    * views can go immediately). Fixed generic names
    * (createOrReplaceTempView("lineitem_v")) are session-global mutable
    * state: two concurrent plan constructions on one session would race
    * the replace-then-analyze window and silently cross-bind tables.
    */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
  private def withTempViews(spark: SparkSession,
      dfs: Seq[(String, DataFrame)])(q: Seq[String] => String): DataFrame = {
    val names = dfs.map { case (base, df) =>
      val name = s"${base}_${viewSeq.incrementAndGet()}"
      df.createOrReplaceTempView(name)
      name
    }
    try spark.sql(q(names))
    finally names.foreach(spark.catalog.dropTempView)
  }

  /** Correlated scalar subquery (TPC-H Q17 shape): revenue from lineitems
    * whose quantity is below 20% of their part's average quantity.
    * Catalyst decorrelates the subquery into an aggregate+join — the
    * plan-level feature this query pins. Per-part averages accumulate in
    * DECIMAL (order-independent) before the one double divide, so the
    * threshold compare is bit-identical to DuckDB's.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame =
    // NOT widened (r18): widenCpu(l_partkey) on the shared view measured
    // WORSE in reversed-order same-window A/Bs (0.68→0.82, 0.65→0.79
    // min-of-5) — the view is scanned twice (main branch + decorrelated
    // average), so the widen exchange is paid twice while each branch's
    // per-row work is light. Each site carries its own measured number.
    withTempViews(spark, Seq(
      "lineitem_v" -> table(spark, dir, "lineitem"),
      "part_v" -> table(spark, dir, "part"))) { case Seq(li, pt) =>
      s"""SELECT p_brand, count(*) AS n_small,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
         |    AS revenue
         |FROM $li JOIN $pt ON p_partkey = l_partkey
         |WHERE l_quantity < (
         |  SELECT 0.2 * CAST(sum(CAST(l2.l_quantity AS DECIMAL(20,4)))
         |                    AS DOUBLE) / count(*)
         |  FROM $li l2 WHERE l2.l_partkey = p_partkey)
         |GROUP BY p_brand""".stripMargin
    }

  /** Salted equi-join for skewed keys: the classic manual skew fix when
    * AQE's split isn't available (e.g. the skewed side feeds another
    * co-partitioned op). Each left row gets a deterministic salt in
    * [0, saltFactor); the right side is replicated once per salt value;
    * the join key becomes (key, salt) so one hot key spreads over
    * `saltFactor` reducers. Row-identical to the plain join — the salt
    * never reaches the output.
    *
    * Salt = hash(whole left row) mod saltFactor, so rows of the SAME hot
    * key scatter; replication multiplies only the (small) right side.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int = 8): DataFrame = {
    // pmod(_, 0) is NULL and sequence(0, -1) auto-reverses: saltFactor
    // = 0 would silently return an EMPTY join instead of failing
    require(saltFactor >= 1, s"saltFactor ($saltFactor) must be >= 1")
    val salted = left.withColumn("__salt",
      pmod(hash(left.columns.map(col).toSeq: _*), lit(saltFactor)))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** RANGE-interval window frame: per-customer trailing-30-day spend at
    * each order (event-time range frame, not a row frame — peers at the
    * same timestamp aggregate together, so the result is deterministic
    * under any tie order). DECIMAL accumulation inside the frame.
    */
  def trailingSpend(spark: SparkSession, dir: String): DataFrame =
    withTempViews(spark, Seq(
      "orders_v" -> table(spark, dir, "orders"))) { case Seq(ord) =>
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
         |    PARTITION BY o_custkey ORDER BY o_orderdate
         |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) AS spend_30d
         |FROM $ord""".stripMargin
    }

  private val lineRevenue =
    (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(24,8)")

  /** TPC-H Q10 shape: top-k customers by revenue on returned items.
    * lineitem⋈orders shuffles on orderkey; customer joins on custkey after
    * the revenue aggregate (group first, then attach names — the wide
    * string columns never ride the big shuffle); nation is broadcast.
    * Top-k orders by the exact decimal revenue, custkey tie-break.
    */
  def returnedCustomerRevenue(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val l = table(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = table(spark, dir, "orders")
    val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(lineRevenue).as("rev"))
    table(spark, dir, "customer")
      .join(rev, col("c_custkey") === col("o_custkey"))
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev").cast("double").as("revenue"))
  }

  /** TPC-H Q13 shape: distribution of per-customer order counts through a
    * LEFT OUTER join whose filter lives in the ON clause (not WHERE — a
    * WHERE would turn the outer join inner and lose 0-order customers).
    * Double aggregation: count per customer, then histogram of counts.
    * Both aggregates are key-partial; the outer join shuffles on custkey.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q14 shape: promo revenue share per ship-year — conditional
    * DECIMAL aggregation (CASE inside sum), one double division at the
    * end, rounded to a stable 6 digits. Single scan, no join skew:
    * part is the smaller side and joins on partkey.
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val zero = lit(0).cast("decimal(24,8)")
    // widened: see the 4-core table in Tables.widenCpu
    Tables.widenCpu(table(spark, dir, "lineitem"), col("l_partkey"))
      .join(table(spark, dir, "part"), col("p_partkey") === col("l_partkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(
        sum(when(col("p_type") === "PROMO", lineRevenue).otherwise(zero))
          .cast("double").as("promo_rev"),
        sum(lineRevenue).cast("double").as("total_rev"))
      .select(col("l_year"),
        round(col("promo_rev") / col("total_rev"), 6).as("promo_share"))
  }

  /** TPC-H Q19 shape: disjunctive multi-branch predicate over the
    * lineitem⋈part join — three OR'd (brand, size-range, quantity-range)
    * branches collapsing to one global revenue row. The quantity bounds
    * prune lineitem at the scan; the OR of brand/size branches prunes
    * part. Catalyst pushes the common `l_quantity <= 30` envelope down.
    */
  def disjunctivePartRevenue(spark: SparkSession, dir: String): DataFrame = {
    def branch(brand: String, sizeMax: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, sizeMax) &&
        col("l_quantity").between(qLo, qHi)
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "part"), col("p_partkey") === col("l_partkey"))
      .filter(branch("Brand#12", 15, 1, 11) ||
        branch("Brand#23", 25, 10, 20) ||
        branch("Brand#3", 35, 20, 30))
      .agg(sum(lineRevenue).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape: per-segment count/balance of well-funded customers
    * with no URGENT order — an uncorrelated scalar AVG subquery (broadcast
    * single row) feeding the filter, then a left-anti join against the
    * urgent orders. (The classic "no orders at all" form is vacuous here:
    * every customer in this data has orders.)
    */
  def idleCustomerBalance(spark: SparkSession, dir: String): DataFrame =
    withTempViews(spark, Seq(
      "q22_customer" -> table(spark, dir, "customer"),
      "q22_orders" -> table(spark, dir, "orders"))) { case Seq(cust, ord) =>
      s"""SELECT c_mktsegment, count(*) AS numcust,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS totacctbal
         |FROM $cust
         |WHERE c_acctbal > (
         |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
         |         / count(*)
         |  FROM $cust WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM $ord
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderpriority = '1-URGENT')
         |GROUP BY c_mktsegment""".stripMargin
    }

  /** TPC-H Q11 shape (partsupp-less adaptation): parts whose total
    * extended-price value exceeds a fixed fraction of the corpus total —
    * a keyed aggregate filtered against an uncorrelated global-aggregate
    * scalar (one extra map-side-partial pass, broadcast as a literal).
    */
  def importantPartValues(spark: SparkSession, dir: String,
      fraction: Double = 0.0005): DataFrame =
    // widened on the aggregate key: see the 4-core table in Tables.widenCpu
    withTempViews(spark, Seq(
      "q11_lineitem" ->
        Tables.widenCpu(table(spark, dir, "lineitem"),
          col("l_partkey")))) { case Seq(li) =>
      s"""SELECT l_partkey, CAST(val AS DOUBLE) AS value FROM (
         |  SELECT l_partkey,
         |    sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS val
         |  FROM $li GROUP BY l_partkey)
         |WHERE CAST(val AS DOUBLE) > (
         |  SELECT CAST($fraction AS DOUBLE) *
         |    CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
         |  FROM $li)""".stripMargin
    }

  /** TPC-H Q15 shape: the supplier(s) whose one-year revenue equals the
    * maximum — revenue aggregate reused for both the ranking and the
    * scalar max (exact DECIMAL equality, so ties are engine-independent).
    * The 1-row max side is broadcast; supplier attaches after the agg.
    */
  def topRevenueSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(lineRevenue).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    table(spark, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(mx), col("total_rev") === col("mx"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
  }

  /** TPC-H Q9 shape (supplycost proxied by p_retailprice — this schema
    * has no partsupp): profit per supplier nation per order year across
    * lineitem⋈part⋈supplier⋈orders⋈nation. Cost arithmetic is carried in
    * DOUBLE with fixed left-to-right association, then the profit is
    * cast DECIMAL per row and summed exactly.
    */
  def nationProfitByYear(spark: SparkSession, dir: String): DataFrame = {
    val cost = (col("p_retailprice") * col("l_quantity") * lit(0.1))
      .cast("decimal(24,8)")
    // widened: see the 4-core table in Tables.widenCpu
    Tables.widenCpu(table(spark, dir, "lineitem"), col("l_orderkey"))
      .join(table(spark, dir, "part"), col("p_partkey") === col("l_partkey"))
      .join(table(spark, dir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .join(table(spark, dir, "orders"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(spark, dir, "nation")),
        col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(sum(lineRevenue - cost).cast("double").as("sum_profit"))
  }

  /** TPC-H Q12 shape (returnflag standing in for shipmode): per-flag
    * counts of high- vs low-priority lines shipped in one year —
    * conditional integer aggregation over the lineitem⋈orders join,
    * CASE evaluated after the join, partial sums map-side.
    */
  def priorityLineCounts(spark: SparkSession, dir: String,
      shipYear: Int = 1997): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    // NOT widened (r18): widenCpu after the year filter measured flat-
    // to-worse (0.40→0.42, 0.33→0.42 min-of-5, reversed-order windows)
    // — the post-filter CASE-count work is too light to buy back the
    // exchange. Each site carries its own measured number.
    table(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === shipYear)
      .join(table(spark, dir, "orders"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q6 shape: the forecasting-revenue-change filter-aggregate —
    * no join at all; its whole point is that every predicate (date
    * range, discount band, quantity cap) reaches the parquet scan as
    * PushedFilters and the aggregate is a single map-side-partial sum.
    * The revenue product is per-row double (deterministic), summed in
    * DECIMAL.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01" &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(24,8)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    * bucket, excluding a NOT-IN supplier blocklist (negative balance).
    * The blocklist subquery is tiny → broadcast left-anti; the distinct
    * count shuffles (partkey-grouped pairs) once.
    */
  def partSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val excluded = table(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    table(spark, dir, "lineitem")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(table(spark, dir, "part"), col("p_partkey") === col("l_partkey"))
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q2 shape, adapted (no partsupp table — the minimum OFFERED
    * extended price per (part, supplier) observed in lineitem stands in
    * for ps_supplycost): for parts of one size class supplied from one
    * region, the supplier(s) whose best offer equals the per-part
    * regional minimum. The classic correlated scalar-MIN subquery
    * decorrelates into a keyed MIN re-aggregate joined back on partkey.
    *
    * Scale story: the (partkey, suppkey) MIN aggregate runs FIRST (the
    * big reduction), pruned before the shuffle by two semi-joins — the
    * size-filtered part keys and the region-filtered supplier keys (both
    * dimension-sized; AQE broadcasts them). nation⨝region is bounded and
    * broadcast. Costs compare as DECIMAL — exact equality, so the
    * min-cost set is engine-independent; the final top-k orders by
    * (acctbal, suppkey, partkey), a unique triple.
    */
  def minCostSuppliers(spark: SparkSession, dir: String,
      region: String = "EUROPE", size: Int = 15, k: Int = 100): DataFrame = {
    val nationsInRegion = broadcast(table(spark, dir, "nation")
      .join(broadcast(table(spark, dir, "region")
        .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name")))
    val suppRegion = table(spark, dir, "supplier")
      .join(nationsInRegion, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val sizedParts = table(spark, dir, "part")
      .filter(col("p_size") === size)
      .select(col("p_partkey"), col("p_brand"), col("p_type"))
    val offers = table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(sizedParts.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(suppRegion.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice").cast("decimal(20,4)")).as("cost"))
    // per-part min via a window over the SAME partkey the aggregate just
    // shuffled on — one pass; a min re-aggregate + self-join would make
    // Catalyst compute the whole offers subtree twice
    offers
      .withColumn("min_cost",
        min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("cost") === col("min_cost"))
      .join(suppRegion, col("l_suppkey") === col("s_suppkey"))
      .join(sizedParts, col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_suppkey"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("p_type"),
        col("cost").cast("double").as("cost"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"), col("p_partkey"))
      .limit(k)
  }

  /** Blocked fuzzy entity matching (record linkage): part-name pairs
    * within the same brand whose Levenshtein edit distance is ≤ `maxDist`
    * — the classic dedup/ER shape where an exact blocking key bounds the
    * candidate space and an edit-distance predicate decides.
    *
    * Scale design: the blocking key is the whole story, and records are
    * routed to one of TWO exact candidate generators by token count:
    *
    *  - MULTI-TOKEN records (> maxDist whitespace tokens): the composite
    *    key `(brand, token position, token)` over the first `bands`
    *    tokens — banded exactly like the MinHash LSH keys in Dedup.
    *    Recall is the pigeonhole: `maxDist` character edits touch at
    *    most `maxDist` tokens, so with `bands > maxDist` leading tokens
    *    at least one must match positionally. Pair count grows with
    *    catalog VOCABULARY, not quadratically with catalog size.
    *  - LOW-TOKEN records (≤ maxDist tokens — a single token can absorb
    *    the whole edit budget, so no band is guaranteed): DELETION-
    *    NEIGHBORHOOD blocking (the FastSS family): every such record
    *    emits the strings reachable by deleting ≤ maxDist characters
    *    (C(len, ≤maxDist) keys), and any two strings within `maxDist`
    *    edits share one (delete the ≤maxDist unaligned characters of an
    *    optimal alignment from each side) — so candidates are pairs
    *    agreeing on (brand, variant), and candidate volume is
    *    ∝ true near-matches + variant collisions, INDEPENDENT of block
    *    size. Non-low records within `maxDist` length of some low
    *    record (per brand) emit variants too, covering the mixed
    *    (low, multi) pairs — whitespace edits can change token counts.
    *    The r8 form paired each low record against every length-
    *    compatible same-brand record instead: on a catalog of 2-token
    *    names (this testdata) that is block² — 5M candidate pairs and
    *    ~14 s of DP at sf0.1 where the deletion block pays ~56 keys per
    *    record and DP only on real collisions.
    *
    * CAVEAT (unchanged from r8): for (multi, multi) pairs the pigeonhole
    * assumes edits stay within tokens — an edit budget spent merging and
    * splitting leading tokens ("a b c d" vs "ab c d": every banded
    * position shifts) is not a candidate. Closed-vocabulary catalogs
    * don't produce such pairs (merged words are out-of-vocabulary);
    * free-text linkage should use [[fuzzyMatchPairsQgram]]. Pairs with a
    * LOW side are always exact via deletions. LlmOpsSpec proves recall
    * 1.0 against the brand-only brute force on real data AND planted
    * adversarial pairs.
    *
    * `levenshtein` is a codegen'd built-in with the standard unit-cost
    * DP semantics in both engines (Spark `levenshtein` ≡ DuckDB
    * `levenshtein`), so the distances — and the oracle hash — agree
    * exactly. The per-pair DP is the banded 3-arg
    * `levenshtein(l, r, threshold)`: it walks an O(threshold·min(len))
    * diagonal band and early-exits with −1 — exact whenever the distance
    * is ≤ threshold. The ORACLE keeps the r8 candidate shape (banded ∪
    * low×length-window): both generators are supersets of the true pair
    * set within the covered classes and the DP decides membership, so
    * the final rows are provably identical — CORRECTNESS pins that.
    */
  def fuzzyJoinParts(spark: SparkSession, dir: String,
      maxDist: Int = 2, bands: Int = 3): DataFrame =
    fuzzyMatchPairs(table(spark, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_name")),
      maxDist, bands)

  /** All strings reachable from `name` by deleting at most `k` (≤ 2)
    * characters, distinct — the FastSS blocking key set. C(len, ≤k)
    * strings, generated in-row (no shuffle).
    */
  private def delVariants(name: Column, k: Int): Column = {
    val len = length(name)
    val d1 = when(len >= 1, transform(sequence(lit(1), len), i =>
        concat(name.substr(lit(1), i - lit(1)),
          name.substr(i + lit(1), len))))
      .otherwise(array().cast("array<string>"))
    val d2 = when(len >= 2, flatten(transform(sequence(lit(1), len - 1),
        i => transform(sequence(i + lit(1), len), j =>
          concat(name.substr(lit(1), i - lit(1)),
            name.substr(i + lit(1), j - i - lit(1)),
            name.substr(j + lit(1), len))))))
      .otherwise(array().cast("array<string>"))
    // NOT array_distinct'ed: deduping ~C(len,2) strings in-row is O(v²)
    // string compares — measured 4.9 s of a 6.3 s generate at sf0.1 —
    // while the ~2.5% duplicate variants (equal neighbors, e.g. deleting
    // either of a double letter) only add same-id bucket entries that
    // the part_a < part_b combo filter drops anyway
    k match {
      case 0 => array(name)
      case 1 => concat(array(name), d1)
      case _ => concat(array(name), d1, d2)
    }
  }

  /** The banded-blocking core over an arbitrary
    * `(p_brand, p_partkey, p_name)` frame — see [[fuzzyJoinParts]].
    * Requires `bands > maxDist` for the pigeonhole recall guarantee on
    * token-aligned names.
    *
    * `maxBucketSize` (default unlimited — exact declared semantics
    * unchanged) caps the DELETION-VARIANT buckets, the same insurance
    * the q-gram path carries as `maxBlockSize` and SRP as its bucket
    * cap: a (brand, variant) bucket of b DISTINCT names emits its ~b²
    * 2-combinations inside one row (collect_list + in-row pairing), so
    * a catalog of same-brand serial-code names (thousands of distinct
    * low-token codes within 2 deletions of a shared variant) goes
    * quadratic in ONE unsafe-row buffer — the r15 q-gram OOM's failure
    * class on the sibling path. The name-group collapse does NOT bound
    * this (it dedups identical names only). On TPC-H-shaped data the
    * buckets are family-sized (the declared query measured sub-linear
    * to factor 300 uncapped, 94.6 s at sf30), which is why the declared
    * form stays uncapped; a serial-code catalog should pass a cap
    * sized ~10–20× its true-family size, same rule as the q-gram cap.
    * A capped-out bucket's gram carries no blocking signal; pairs also
    * reachable through the banded path or a smaller bucket keep their
    * candidacy. Capping moves recall only — the DP precision filter is
    * untouched.
    */
  def fuzzyMatchPairs(parts: DataFrame, maxDist: Int,
      bands: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bands > maxDist,
      s"bands ($bands) must exceed maxDist ($maxDist) for pigeonhole recall")
    require(maxDist <= 2,
      s"the deletion-neighborhood generator enumerates <= 2 deletions " +
        s"(got maxDist=$maxDist)")
    require(maxBucketSize >= 2,
      s"maxBucketSize ($maxBucketSize) must be >= 2 (a cap of 1 would " +
        "drop every multi-member variant bucket); pass Int.MaxValue " +
        "for no cap")
    // NAME-GROUP COLLAPSE (the r10 absolute-cost attack): identical
    // (brand, name) records traverse the candidate machinery as ONE
    // representative, and the final pairs expand back from the group
    // membership. On a closed-vocabulary catalog duplicate names are
    // the norm (sf0.1: 20k parts, ~7k distinct names), and without the
    // collapse every g-member duplicate group re-emits its C(g,2)
    // pairs under ALL ~C(len,≤2) shared deletion variants — measured
    // 6.8M emitted bucket pairs deduping to 252k (27× redundancy) and
    // ~5.9 s at sf0.1; collapsed, bucket membership is per distinct
    // name and the DP runs once per distinct-name pair. Exactness is
    // untouched: edit distance is a function of the NAMES, so every
    // member pair of a surviving (nameA, nameB) rep pair shares its
    // distance, and identical-name pairs are dist 0 by definition —
    // both expansions below reproduce exactly what the uncollapsed
    // pipeline emitted (the oracle's candidate classes are also
    // name-determined, so the final sets stay provably identical).
    // null NAMES never pair in any path (a null band key never
    // join-matches; levenshtein(null, _) is null, dropped by dist >= 0)
    // — but groupBy KEEPS the null group, so without this filter
    // withinGroups would invent dist-0 pairs for duplicate null-name
    // records (r11 ADVICE). The null-BRAND filter aligns with the
    // ORACLE's brand-equality join semantics (its SQL equijoin on
    // p_brand drops nulls); it is NOT implied by the pipeline itself —
    // the deletion path buckets candidates via groupBy(p_brand, vh),
    // which keeps a null-brand group, so the uncollapsed pipeline alone
    // could emit dist-0 pairs for duplicate-name null-brand low-token
    // records (comment corrected per r12 ADVICE).
    val groups = parts
      .filter(col("p_brand").isNotNull && col("p_name").isNotNull)
      .groupBy(col("p_brand"), col("p_name"))
      .agg(sort_array(collect_set(col("p_partkey"))).as("ids"))
      .localCheckpoint()
    val reps = groups.select(col("p_brand"), col("p_name"),
      col("ids")(0).as("p_partkey"))
    val repPairs = fuzzyRepPairs(reps, maxDist, bands, maxBucketSize)
    // rep id → full member list, for both sides of the expansion
    val repIds = groups.select(col("ids")(0).as("rep"), col("ids"))
    val acrossGroups = repPairs
      .join(repIds.select(col("rep").as("part_a"), col("ids").as("ids_a")),
        Seq("part_a"))
      .join(repIds.select(col("rep").as("part_b"), col("ids").as("ids_b")),
        Seq("part_b"))
      .select(col("p_brand"),
        explode(flatten(transform(col("ids_a"), a =>
          transform(col("ids_b"), b => struct(least(a, b).as("pa"),
            greatest(a, b).as("pb")))))).as("pr"),
        col("dist"))
      .select(col("p_brand"), col("pr.pa").as("part_a"),
        col("pr.pb").as("part_b"), col("dist"))
    // identical-name pairs: every 2-combination within a group, dist 0
    val withinGroups = groups.filter(size(col("ids")) >= 2)
      .select(col("p_brand"),
        explode(flatten(transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            b => struct(a.as("pa"), b.as("pb")))))).as("pr"))
      .select(col("p_brand"), col("pr.pa").as("part_a"),
        col("pr.pb").as("part_b"), lit(0L).as("dist"))
    acrossGroups.unionByName(withinGroups)
  }

  /** [[fuzzyMatchPairs]]' candidate+DP core over records with DISTINCT
    * (brand, name) — one representative per name group. Returns
    * `(p_brand, part_a, part_b, dist)` over representative ids.
    */
  private def fuzzyRepPairs(parts: DataFrame, maxDist: Int,
      bands: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val nTok = size(split(col("p_name"), " "))
    // banded path: ONLY records where the pigeonhole guarantee holds
    // (> maxDist tokens) — low-token records are covered exactly by the
    // deletion path below, so keeping them here would only add redundant
    // candidates (on an all-2-token catalog, the entire banded branch
    // collapses to empty and AQE prunes it)
    val multi = parts.filter(nTok > maxDist)
    val banded = multi.select(col("p_brand"), col("p_partkey"),
      posexplode(slice(split(col("p_name"), " "), 1, bands))
        .as(Seq("band", "tok")))
    val a = banded.select(col("p_brand"), col("band"), col("tok"),
      col("p_partkey").as("part_a"))
    val b = banded.select(col("p_brand"), col("band"), col("tok"),
      col("p_partkey").as("part_b"))
    val bandCands = a.join(b, Seq("p_brand", "band", "tok"))
      .filter(col("part_a") < col("part_b"))
      // a pair agreeing on several bands is one candidate: dedupe BEFORE
      // the DP so the edit distance runs once per pair. The dedupe
      // exchange carries KEYS ONLY — names re-attach after the distinct
      // (two linear id-keyed joins), so the wide strings never ride the
      // candidate shuffle (the r8 wide distinct carried both names
      // through the biggest exchange in the query)
      .select(col("p_brand"), col("part_a"), col("part_b"))
    // DELETION-NEIGHBORHOOD path for low-token records (see
    // [[fuzzyJoinParts]]): low records emit their ≤maxDist-deletion
    // variants; non-low records emit variants only if some same-brand
    // low record sits within maxDist of their length (the only way a
    // (low, multi) pair can be within budget) — selected by a
    // brand+length semi-join against the tiny distinct low-length set.
    val lows = parts.filter(nTok <= maxDist)
    val lowLens = lows.select(col("p_brand"),
        explode(sequence(length(col("p_name")) - maxDist,
          length(col("p_name")) + maxDist)).as("lk"))
      .distinct()
    val lenMatched = multi
      .withColumn("lk", length(col("p_name")))
      .join(lowLens, Seq("p_brand", "lk"), "left_semi")
      .drop("lk")
    // variants travel as xxhash64 LONGS, hashed in-row before the
    // explode: the shuffle key is 8 bytes instead of a ~20-char string,
    // and a hash collision can only ADD a candidate pair, which the
    // exact DP then rejects — no false negatives (the oracle generates
    // its own candidates, so nothing here needs cross-engine hash
    // equality). Candidates come from per-(brand, variant) BUCKETS via
    // one aggregate — the jaccardPairs shape — not a self-join: the
    // variant stream is generated and shuffled ONCE, and each bucket
    // emits its 2-combinations in-row (a pair sharing many variants
    // re-emits per bucket, deduped by the distinct below). Only pairs
    // with ≥ 1 LOW member emit: (multi, multi) pairs belong to the
    // banded generator's class, and emitting them here would diverge
    // from the oracle's candidate classes.
    def variants(recs: DataFrame, isLow: Boolean): DataFrame =
      recs.select(col("p_brand"), col("p_partkey"), lit(isLow).as("low"),
        explode(transform(delVariants(col("p_name"), maxDist),
          v => xxhash64(v))).as("vh"))
    val vAll = variants(lows, isLow = true)
      .unionByName(variants(lenMatched, isLow = false))
    // mega-bucket guard BEFORE the collect_list (only built when a cap
    // is set — the unlimited default keeps the exact declared plan):
    // the size filter must precede bucket collection, or the b-member
    // struct list and its b² in-row pairs exist before anything can
    // drop them — the same placement rule as the q-gram/SRP guards
    val vKept = if (maxBucketSize == Int.MaxValue) vAll
    else vAll.join(
      vAll.groupBy(col("p_brand"), col("vh"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
        .select(col("p_brand"), col("vh")),
      Seq("p_brand", "vh"))
    val delCands = vKept.groupBy(col("p_brand"), col("vh"))
      .agg(collect_list(struct(col("p_partkey").as("id"), col("low")))
        .as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(col("p_brand"), explode(flatten(transform(col("ms"), l =>
        filter(transform(col("ms"), r => struct(
          l.getField("id").as("part_a"), r.getField("id").as("part_b"),
          (l.getField("low") || r.getField("low")).as("any_low"))),
          p => p.getField("part_a") < p.getField("part_b") &&
            p.getField("any_low"))))).as("pr"))
      .select(col("p_brand"), col("pr.part_a").as("part_a"),
        col("pr.part_b").as("part_b"))
    // names attach AFTER the narrow distinct: two id-keyed joins sized by
    // the deduped pair set (AQE broadcasts the record side when it fits;
    // at 100 TB both are plain linear shuffled joins — still cheaper than
    // shipping every candidate's two name strings through the dedupe)
    val nameOf = parts.select(col("p_partkey"), col("p_name"))
    bandCands.unionByName(delCands)
      .distinct()
      .join(nameOf.select(col("p_partkey").as("part_a"),
        col("p_name").as("name_a")), Seq("part_a"))
      .join(nameOf.select(col("p_partkey").as("part_b"),
        col("p_name").as("name_b")), Seq("part_b"))
      .select(col("p_brand"), col("part_a"), col("part_b"),
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Position-FREE fuzzy matching over arbitrary `(id, name)` records —
    * the q-gram PREFIX-FILTER join (AllPairs/SSJoin family), closing
    * [[fuzzyMatchPairs]]' documented token-boundary caveat: edits that
    * move whitespace shift banded token positions, but q-grams have no
    * positions, so the guarantee here holds for FREE TEXT.
    *
    * Recall is exact by two classical facts. (1) q-gram count bound:
    * one edit rewrites at most `q` of a padded string's q-grams, so
    * `ed(a,b) ≤ k` implies the distinct-q-gram sets share all but
    * `k·q` of either side. (2) prefix-filter theorem: under ANY global
    * total order on grams (here: rarity `(df, gram)` — rare grams make
    * small blocks), two sets missing at most `k·q` of each other must
    * collide within their `k·q + 1` first grams. Candidates are
    * therefore pairs whose rarity-prefixes share a gram; the banded
    * Levenshtein then decides exactly. Padding with q−1 sentinel chars
    * keeps the bound valid at string boundaries. (2) is vacuous for a
    * record with ≤ k·q distinct grams (short or degenerate-repetitive
    * names — every gram can be rewritten within budget), so those
    * records fall back to an explicit length-banded pairing against
    * all length-compatible records, keeping recall exact for EVERY
    * input.
    *
    * Scale: gram extraction is a map-side generate; the df attach is a
    * vocabulary-sized join (AQE-broadcast); the per-id rarity window
    * ranks ≤ |name| rows per id (no skew ceiling); the candidate join
    * keys on single grams (plus the exact `|len(a)−len(b)| ≤ maxDist`
    * length bound — k edits cannot move length more than k — applied
    * IN the join before the pair distinct), sized by the rarity
    * prefix. The known prefix-filter trade, measured here: on
    * free-vocabulary text blocks stay rare-gram-sized, but a CLOSED
    * tiny vocabulary (TPC-H part names: ~90 words) makes even the
    * rarest grams corpus-common and the filter degenerates toward
    * all-pairs (120 s at sf0.1 whole-catalog — which is why the
    * DECLARED query scopes to one brand's catalog and the whole-
    * catalog form on such data belongs to [[fuzzyMatchPairs]]'
    * token bands). Returns `(part_a, part_b, dist)` with
    * `dist ≤ maxDist`, each pair once.
    *
    * `maxBlockSize` (default unlimited = exact declared semantics
    * unchanged) is the same insurance
    * [[graft.operators.Similarity.srpLshNearDupPairs]] carries as
    * `maxBucketSize`: prefix blocks past the cap are dropped before the
    * candidate self-join. A block is keyed on ONE gram, so a block of b
    * records costs ~b² candidate rows; on closed-vocabulary catalogs
    * block sizes grow with the near-identical-name family size and
    * Σblock² goes quadratic (measured at factor 100: 229 s vs the
    * banded form's 21 s on identical data — SCALE.md r12→13). A gram
    * whose block exceeds the cap is corpus-common, i.e. carries little
    * blocking signal; a pair sharing any RARER prefix gram keeps its
    * candidacy, and the low-gram fallback below is length-keyed (not
    * gram-keyed), so short records keep exact recall regardless of the
    * cap. With a cap set, recall is no longer the exact prefix-filter
    * guarantee — a pair whose ONLY shared prefix gram is a mega-block
    * gram is lost. When that loss matters (family-structured names),
    * the banded [[fuzzyMatchPairs]] is the right tool, not a bigger cap.
    *
    * The cap must GROW with corpus size, like SRP's bandBits: a gram's
    * df grows ~linearly on a closed vocabulary, so a fixed cap that is
    * lossless at one scale is fatal a decade up — measured r14
    * (SCALE.md): cap 256 keeps 100% of pairs at sf1 but 1.3% at sf10,
    * while cap 1000 holds 98.8% at sf10 at 3.0×/decade cost (vs the
    * uncapped ~18×/decade). Size it ~10–20× the expected true-family
    * block and re-derive per decade of growth. The measured-safe sf10
    * geometry (cap 1000) is itself driver-gated as the declared
    * `fuzzy_join_parts_qgram_scaled` query; the declared toy query
    * carries a protective, oracle-mirrored cap 256 that cannot fire at
    * declared SFs (r15: the uncapped form heap-OOM'd the 8 GiB JVM at
    * factor 300 — a fixed-cost-law geometry must never be the declared
    * form; SCALE.md r15).
    *
    * Valid cap range: `maxBlockSize ≥ 2` (enforced). A cap of 1 would
    * make the guard's `bsz > 1 && bsz <= cap` filter unsatisfiable and
    * silently collapse the result to the low-gram fallback pairs;
    * callers wanting "no cap" pass the `Int.MaxValue` default (probe
    * harnesses normalize `cap <= 0` to unlimited BEFORE calling).
    */
  def fuzzyMatchPairsQgram(recs: DataFrame, maxDist: Int,
      q: Int = 3, maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(maxBlockSize >= 2,
      s"maxBlockSize must be >= 2 (a cap of $maxBlockSize would drop " +
        "every multi-member prefix block); pass Int.MaxValue for no cap")
    val pad = "#" * (q - 1)
    val prefixLen = maxDist * q + 1
    val grams = recs
      .select(col("id"), col("name"),
        concat(lit(pad), col("name"), lit(pad)).as("p"))
      .select(col("id"), col("name"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("p")) - (q - 1)),
          i => col("p").substr(i, lit(q))))).as("gram"))
    val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("gram"))
    // the ranked prefix is consumed by BOTH sides of the candidate
    // self-join — materialize the gram explode + df join + window once
    val ranked = grams.join(df, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .localCheckpoint()
    val prefixAll = ranked.filter(col("rn") <= prefixLen)
      .select(col("gram"), col("id"), col("name"),
        length(col("name")).as("len"))
    // mega-block guard BEFORE the candidate self-join (only built when a
    // cap is set — at the unlimited default it would filter nothing
    // while costing an aggregate + join per run; singleton blocks
    // already self-join to nothing). Same placement rule as SRP's
    // bucket guard: the size filter must precede pair generation, or
    // the Σblock² rows exist before anything can drop them.
    val prefix = if (maxBlockSize == Int.MaxValue) prefixAll
    else prefixAll.join(
      prefixAll.groupBy(col("gram")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > 1 && col("bsz") <= maxBlockSize)
        .select(col("gram")),
      Seq("gram"))
    val a = prefix.toDF("gram", "part_a", "name_a", "len_a")
    val b = prefix.toDF("gram", "part_b", "name_b", "len_b")
    val prefixCands = a.join(b, a("gram") === b("gram") &&
        col("part_a") < col("part_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      // keys only through the pair dedupe — names re-attach after (same
      // narrow-distinct diet as fuzzyMatchPairs)
      .select(col("part_a"), col("part_b"))
    // LOW-GRAM FALLBACK — the prefix-filter theorem is vacuous for a
    // record with ≤ maxDist·q distinct grams (every gram can be
    // rewritten within budget: e.g. 'ab' vs 'cd' at q=3, k=2 share no
    // gram at all), so such records pair against EVERY length-
    // compatible record via an explicit length-key equi-join (each
    // partner emits its 2·maxDist+1 length keys — no nested loop).
    // Cost is |lowGram| · |records per length window|: zero rows when
    // every name is long enough, and low-gram records are short or
    // degenerate-repetitive by construction.
    val nGrams = ranked.groupBy(col("id"), col("name"))
      .agg(max(col("rn")).as("ng"))
    val lows = nGrams.filter(col("ng") <= maxDist * q)
      .select(col("id").as("low_id"), col("name").as("low_name"),
        length(col("name")).as("lk"))
    val allByLen = recs.select(col("id").as("all_id"),
        col("name").as("all_name"),
        explode(sequence(length(col("name")) - maxDist,
          length(col("name")) + maxDist)).as("lk"))
    val lowCands = lows.join(allByLen, Seq("lk"))
      .filter(col("low_id") =!= col("all_id"))
      .select(least(col("low_id"), col("all_id")).as("part_a"),
        greatest(col("low_id"), col("all_id")).as("part_b"))
    val nameOf = recs.select(col("id"), col("name"))
    prefixCands.unionByName(lowCands)
      .distinct()
      .join(nameOf.select(col("id").as("part_a"),
        col("name").as("name_a")), Seq("part_a"))
      .join(nameOf.select(col("id").as("part_b"),
        col("name").as("name_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"),
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0)
  }
}
