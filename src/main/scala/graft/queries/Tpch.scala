package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Dsl._

/** TPC-H-derived query suite (reference: benchmarks/queries/q1..q22.sql),
  * adapted to the synthetic schema in TESTDATA.md: there is no partsupp
  * table and several columns (comments, addresses, ship/commit/receipt
  * dates, shipmode, container) are absent, so queries that need them are
  * re-targeted at available columns while preserving the exact operator
  * shape (scalar/correlated subqueries, semi/anti joins, case-sums,
  * group-having, views, top-k).
  *
  * All expressed Spark-first with the DataFrame API: Catalyst pushes
  * filters/projections into the parquet scans, AQE picks broadcast for the
  * dimension sides, and aggregation is two-phase automatically. Money math
  * is decimal-internal / double-final (see [[Dsl]]) so results hash-match the
  * DuckDB oracle bit-for-bit. Every query ends in a deterministic total order.
  */
object Tpch {

  type QueryFn = (SparkSession, String) => DataFrame

  private def rev(price: String = "l_extendedprice", disc: String = "l_discount"): Column =
    revenueTerm(col(price), col(disc))

  /** q1 — pricing summary report (reference: benchmarks/queries/q1.sql).
    * scan → filter → two-phase hash agg (8 groups, tiny shuffle) → sort.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    // Spread (round 14, guide §2.5): the decimal partial aggregation ran
    // one-task inside the one-row-group scan; keyed on l_shipdate (a column
    // the query already reads, so pruning is unchanged). The partial agg
    // runs above the exchange, so the seven projected columns shuffle
    // unreduced; at local[4] sf0.1 the spread still measured faster in 4
    // of 5 alternating runs (median 1.32 s without, 1.29 s with).
    val l = graft.operators.Spread(Tables.lineitem(spark, dir), col("l_shipdate"))
    val disc = oneMinus(col("l_discount"))
    val tax = onePlus(col("l_tax"))
    l.filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        d(sum(dec(col("l_quantity")))).as("sum_qty"),
        d(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        d(sum(dec(col("l_extendedprice")) * disc)).as("sum_disc_price"),
        d(sum(dec(col("l_extendedprice")) * disc * tax)).as("sum_charge"),
        (d(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
        (d(sum(dec(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
        (d(sum(dec(col("l_discount"), 4, 2))) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Oracle: String = {
    import sql._
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsum(dec("l_quantity"))} AS sum_qty,
       |  ${dsum(dec("l_extendedprice"))} AS sum_base_price,
       |  ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS sum_disc_price,
       |  ${dsum(s"${revenueTerm("l_extendedprice", "l_discount")} * ${onePlus("l_tax")}")} AS sum_charge,
       |  ${dsum(dec("l_quantity"))} / COUNT(*) AS avg_qty,
       |  ${dsum(dec("l_extendedprice"))} / COUNT(*) AS avg_price,
       |  ${dsum(dec("l_discount", 4, 2))} / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** q2 — min-acctbal European supplier per selected part (reference: q2.sql;
    * ps_supplycost→s_acctbal, part-supplier pairs derived from lineitem).
    * Correlated-min shape: groupBy-min re-joined on the group key.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val cand = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(Tables.part(spark, dir).filter(col("p_size") === 15 && col("p_type") === "STANDARD"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("s_acctbal"), col("n_name"))
    val minAcct = cand.groupBy(col("p_partkey").as("mp"))
      .agg(min(col("s_acctbal")).as("min_acct"))
    cand.join(minAcct, col("p_partkey") === col("mp") && col("s_acctbal") === col("min_acct"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"), col("p_name"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q2Oracle: String =
    """WITH cand AS (
      |  SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal, n_name
      |  FROM lineitem, part, supplier, nation, region
      |  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |    AND r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
      |FROM cand
      |WHERE s_acctbal = (SELECT min(s_acctbal) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** q3 — shipping priority (reference: q3.sql; o_shippriority→o_orderpriority).
    * big-big shuffle join lineitem⋈orders, customer side broadcast by AQE. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < ts("1996-03-15"))
      .join(Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1996-03-15")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(d(sum(rev())).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String = {
    import sql._
    s"""SELECT l_orderkey, ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS revenue,
       |  o_orderdate, o_orderpriority
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1996-03-15' AND l_shipdate > TIMESTAMP '1996-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin
  }

  /** q4 — order priority checking (reference: q4.sql; commit/receipt dates →
    * "shipped after order date"). EXISTS → left-semi join with non-equi term. */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-07-01") && col("o_orderdate") < ts("1996-10-01"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q5 — local supplier volume (reference: q5.sql). 6-way join; the
    * nation/region sides broadcast, lineitem⋈orders⋈customer shuffle on keys. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(d(sum(rev())).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String = {
    import sql._
    s"""SELECT n_name, ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
       |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
       |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin
  }

  /** q6 — forecasting revenue change (reference: q6.sql). Pure scan+filter+agg;
    * every predicate pushes to parquet. */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(d(sum(dec(col("l_extendedprice")) * dec(col("l_discount"), 4, 2))).as("revenue"))
  }

  val q6Oracle: String = {
    import sql._
    s"""SELECT ${dsum(s"${dec("l_extendedprice")} * ${dec("l_discount", 4, 2)}")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin
  }

  /** q7 — volume shipping between two nations (reference: q7.sql). Self-aliased
    * nation dim joined twice; year() derivation grouped. */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    // Round 15: r14's lineitem spread reverted here too — it
    // measured flat on the driver (0.756 s with, same without), and like q9
    // the l_orderkey exchange feeds a broadcast-probe join that derives no
    // benefit from the partitioning.
    Tables.supplier(spark, dir)
      .join(Tables.lineitem(spark, dir), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        ((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")) &&
          col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31")))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(d(sum(rev())).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Oracle: String = {
    import sql._
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year,
       |  ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS revenue
       |FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
       |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin
  }

  /** q8 — national market share (reference: q8.sql; p_type narrowed to the
    * synthetic vocabulary). Case-sum ratio over decimal volumes. */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
    val vol = rev().as("volume")
    Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .join(Tables.lineitem(spark, dir), col("p_partkey") === col("l_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate").between(ts("1995-01-01"), ts("1996-12-31")))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AMERICA")),
        col("c_rk") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .select(year(col("o_orderdate")).cast(LongType).as("o_year"), vol, col("nation"))
      .groupBy(col("o_year"))
      .agg((d(sum(when(col("nation") === "NATION_5", col("volume"))
        .otherwise(lit(0).cast(DecimalType(18, 4))))) / d(sum(col("volume")))).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Oracle: String = {
    import sql._
    val vol = revenueTerm("l_extendedprice", "l_discount")
    s"""SELECT o_year,
       |  CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
       |FROM (
       |  SELECT year(o_orderdate) AS o_year, $vol AS volume, n2.n_name AS nation
       |  FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
       |  WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
       |    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
       |    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
       |    AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY'
       |    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31') all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin
  }

  /** q9 — product type profit (reference: q9.sql; ps_supplycost →
    * p_retailprice as the cost basis). */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val amount = (rev() - dec(col("p_retailprice")) * dec(col("l_quantity"))).as("amount")
    // Round 15: the r14 lineitem spread here is REVERTED — the
    // exchange was keyed on l_orderkey under a p_partkey broadcast-probe
    // join, so no downstream consumer wanted the partitioning and the
    // driver measured 0.75x (the same evidence that reverted q5/q8/q21).
    Tables.part(spark, dir).filter(col("p_name").like("%red%"))
      .join(Tables.lineitem(spark, dir), col("p_partkey") === col("l_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).cast(LongType).as("o_year"), amount)
      .groupBy(col("nation"), col("o_year"))
      .agg(d(sum(col("amount"))).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Oracle: String = {
    import sql._
    val amount = s"${revenueTerm("l_extendedprice", "l_discount")} - ${dec("p_retailprice")} * ${dec("l_quantity")}"
    s"""SELECT nation, o_year, ${dsum("amount")} AS sum_profit
       |FROM (
       |  SELECT n_name AS nation, year(o_orderdate) AS o_year, $amount AS amount
       |  FROM part, lineitem, supplier, orders, nation
       |  WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
       |    AND s_nationkey = n_nationkey AND p_name LIKE '%red%') profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin
  }

  /** q10 — returned item reporting (reference: q10.sql; address/phone/comment
    * columns absent). */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= ts("1996-10-01") && col("o_orderdate") < ts("1997-01-01"))
      .join(Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(d(sum(rev())).as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String = {
    import sql._
    s"""SELECT c_custkey, c_name, ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS revenue,
       |  c_acctbal, n_name
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin
  }

  /** q11 — important stock identification (reference: q11.sql; partsupp value →
    * shipped value per part from one nation's suppliers). Group-having against
    * a global scalar aggregate (broadcast cross join, no driver collect). */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("ps_partkey"),
        (dec(col("l_extendedprice")) * dec(col("l_quantity"))).as("val"))
    val total = base.agg((d(sum(col("val"))) * lit(0.0001)).as("threshold"))
    base.groupBy(col("ps_partkey")).agg(d(sum(col("val"))).as("value"))
      .join(broadcast(total))
      .filter(col("value") > col("threshold"))
      .select(col("ps_partkey"), col("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  val q11Oracle: String = {
    import sql._
    val v = s"${dec("l_extendedprice")} * ${dec("l_quantity")}"
    s"""WITH base AS (
       |  SELECT l_partkey AS ps_partkey, $v AS val
       |  FROM lineitem, supplier, nation
       |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3')
       |SELECT ps_partkey, ${dsum("val")} AS value
       |FROM base
       |GROUP BY ps_partkey
       |HAVING ${dsum("val")} > (SELECT ${dsum("val")} * 0.0001 FROM base)
       |ORDER BY value DESC, ps_partkey""".stripMargin
  }

  /** q12 — shipping mode / priority classes (reference: q12.sql; l_shipmode →
    * l_returnflag, receipt-date window → ship-date window). Case-count pivot. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val high = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_returnflag").isin("N", "R"))
      .groupBy(col("l_returnflag"))
      .agg(sum(high).as("high_line_count"), sum(lit(1L) - high).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q12Oracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey AND l_returnflag IN ('N','R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q13 — customer order-count distribution (reference: q13.sql; comment
    * filter → order-status filter). Left outer join preserving empty customers. */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") =!= "P")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Oracle: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q14 — promotion effect (reference: q14.sql; p_type LIKE 'PROMO%' kept —
    * the synthetic vocabulary has a literal PROMO type). */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val promo = when(col("p_type") === "PROMO", rev()).otherwise(lit(0).cast(DecimalType(18, 4)))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-09-01") && col("l_shipdate") < ts("1996-10-01"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(((lit(100.0) * d(sum(promo))) / d(sum(rev()))).as("promo_revenue"))
  }

  val q14Oracle: String = {
    import sql._
    val v = revenueTerm("l_extendedprice", "l_discount")
    s"""SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $v ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE))
       |  / ${dsum(v)} AS promo_revenue
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey
       |  AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin
  }

  /** q15 — top supplier (reference: q15.sql). The view + scalar-max shape;
    * the max is a broadcast one-row cross join, revenue equality is exact
    * decimal so no tie-epsilon issues. */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val revenue0 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(rev()).as("total_rev_dec"))
    val maxRev = revenue0.agg(max(col("total_rev_dec")).as("max_rev"))
    Tables.supplier(spark, dir)
      .join(revenue0, col("s_suppkey") === col("supplier_no"))
      .join(broadcast(maxRev))
      .filter(col("total_rev_dec") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        d(col("total_rev_dec")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15Oracle: String = {
    import sql._
    val v = revenueTerm("l_extendedprice", "l_discount")
    s"""WITH revenue0 AS (
       |  SELECT l_suppkey AS supplier_no, SUM($v) AS total_rev_dec
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, s_acctbal, CAST(total_rev_dec AS DOUBLE) AS total_revenue
       |FROM supplier, revenue0
       |WHERE s_suppkey = supplier_no
       |  AND total_rev_dec = (SELECT max(total_rev_dec) FROM revenue0)
       |ORDER BY s_suppkey""".stripMargin
  }

  /** q16 — parts/supplier relationship (reference: q16.sql; partsupp → shipped
    * pairs, comment-complaints exclusion → negative account balance).
    * NOT IN → left-anti join; distinct supplier count. */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val badSupp = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_sk"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(badSupp), col("l_suppkey") === col("bad_sk"), "left_anti")
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Oracle: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs, part
      |WHERE l_partkey = p_partkey
      |  AND p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1,4,7,10,13,16,19,23)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q17 — small-quantity-order revenue (reference: q17.sql; container →
    * size). Correlated avg subquery → per-part aggregate re-join. */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val avgQ = l.groupBy(col("l_partkey").as("ap"))
      .agg((lit(0.2) * (d(sum(dec(col("l_quantity")))) / count(col("l_quantity")))).as("qty_threshold"))
    l.join(Tables.part(spark, dir).filter(col("p_brand") === "Brand#23" && col("p_size") === 5),
        col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg((d(sum(dec(col("l_extendedprice")))) / lit(7.0)).as("avg_yearly"))
  }

  val q17Oracle: String = {
    import sql._
    s"""SELECT ${dsum(dec("l_extendedprice"))} / 7.0 AS avg_yearly
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size = 5
       |  AND l_quantity < (
       |    SELECT 0.2 * (${dsum(dec("l_quantity"))} / COUNT(l_quantity))
       |    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin
  }

  /** q18 — large volume customers (reference: q18.sql). IN-subquery with
    * group-having → semi join against the aggregated key set. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val bigOrders = l.groupBy(col("l_orderkey").as("bo"))
      .agg(sum(dec(col("l_quantity"))).as("q")).filter(col("q") > 300)
      .select(col("bo"))
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(bigOrders, col("o_orderkey") === col("bo"), "left_semi")
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .agg(d(sum(dec(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  val q18Oracle: String = {
    import sql._
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  ${dsum(dec("l_quantity"))} AS sum_qty
       |FROM customer, orders, lineitem
       |WHERE o_orderkey IN (
       |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
       |    HAVING SUM(${dec("l_quantity")}) > 300)
       |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       |LIMIT 100""".stripMargin
  }

  /** q19 — discounted revenue (reference: q19.sql; containers → size bands).
    * Disjunctive join predicate — Catalyst splits the common equi-key out. */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("p_partkey") === col("l_partkey"))
    j.filter(
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 20 && col("l_quantity") <= 30))
      .agg(d(sum(rev())).as("revenue"))
  }

  val q19Oracle: String = {
    import sql._
    s"""SELECT ${dsum(revenueTerm("l_extendedprice", "l_discount"))} AS revenue
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey AND (
       |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity >= 1 AND l_quantity <= 11)
       |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
       |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin
  }

  /** q20 — potential part promotion (reference: q20.sql; partsupp availqty →
    * shipped-quantity threshold). Nested IN-subqueries → semi joins. */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir).filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val heavyShippers = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
      .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).as("q"))
      .filter(col("q") > 45)
      .select(col("l_suppkey").as("hs"))
      .distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_4")),
        col("s_nationkey") === col("n_nationkey"))
      .join(heavyShippers, col("s_suppkey") === col("hs"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20Oracle: String = {
    import sql._
    s"""SELECT s_name, s_acctbal
       |FROM supplier, nation
       |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_4'
       |  AND s_suppkey IN (
       |    SELECT l_suppkey FROM lineitem
       |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
       |      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |    GROUP BY l_suppkey, l_partkey
       |    HAVING SUM(${dec("l_quantity")}) > 45)
       |ORDER BY s_name""".stripMargin
  }

  /** q21 — suppliers who kept orders waiting (reference: q21.sql; receipt >
    * commit → shipped after order date). EXISTS → semi join, NOT EXISTS →
    * anti join, both with non-equi terms. */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val l1 = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val base = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_2")),
        col("s_nationkey") === col("n_nationkey"))
      .join(l1, col("s_suppkey") === col("l_suppkey"))
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
    val l2 = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("l2_ok"), col("l_suppkey").as("l2_sk"))
    val l3 = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"), col("l_shipdate").as("l3_sd"))
    base
      .join(l2, col("l_orderkey") === col("l2_ok") && col("l_suppkey") =!= col("l2_sk"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_ok") && col("l_suppkey") =!= col("l3_sk") &&
        col("l3_sd") > col("o_orderdate"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Oracle: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate)
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** q22 — global sales opportunity (reference: q22.sql; phone country code →
    * nation key). Scalar-avg subquery + anti join to orders. */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9, 11, 13)
    val c = Tables.customer(spark, dir).filter(col("c_nationkey").isin(codes: _*))
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((d(sum(dec(col("c_acctbal")))) / count(col("c_acctbal"))).as("avg_bal"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(spark, dir).filter(col("o_orderdate") >= ts("2000-01-01"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), d(sum(dec(col("c_acctbal")))).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val q22Oracle: String = {
    import sql._
    s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust, ${dsum(dec("c_acctbal"))} AS totacctbal
       |FROM customer
       |WHERE c_nationkey IN (1,3,5,7,9,11,13)
       |  AND c_acctbal > (
       |    SELECT ${dsum(dec("c_acctbal"))} / COUNT(c_acctbal) FROM customer
       |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1,3,5,7,9,11,13))
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
       |GROUP BY cntrycode
       |ORDER BY cntrycode""".stripMargin
  }

  /** name → (query fn, oracle SQL). */
  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "q1" -> ((q1 _, Some(q1Oracle))),
    "q2" -> ((q2 _, Some(q2Oracle))),
    "q3" -> ((q3 _, Some(q3Oracle))),
    "q4" -> ((q4 _, Some(q4Oracle))),
    "q5" -> ((q5 _, Some(q5Oracle))),
    "q6" -> ((q6 _, Some(q6Oracle))),
    "q7" -> ((q7 _, Some(q7Oracle))),
    "q8" -> ((q8 _, Some(q8Oracle))),
    "q9" -> ((q9 _, Some(q9Oracle))),
    "q10" -> ((q10 _, Some(q10Oracle))),
    "q11" -> ((q11 _, Some(q11Oracle))),
    "q12" -> ((q12 _, Some(q12Oracle))),
    "q13" -> ((q13 _, Some(q13Oracle))),
    "q14" -> ((q14 _, Some(q14Oracle))),
    "q15" -> ((q15 _, Some(q15Oracle))),
    "q16" -> ((q16 _, Some(q16Oracle))),
    "q17" -> ((q17 _, Some(q17Oracle))),
    "q18" -> ((q18 _, Some(q18Oracle))),
    "q19" -> ((q19 _, Some(q19Oracle))),
    "q20" -> ((q20 _, Some(q20Oracle))),
    "q21" -> ((q21 _, Some(q21Oracle))),
    "q22" -> ((q22 _, Some(q22Oracle)))
  )
}
