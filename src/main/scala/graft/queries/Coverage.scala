package graft.queries

import graft.Tables
import graft.functions.DateTimeFunctions
import graft.operators.Windows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Dsl._

/** Operator-inventory coverage suite: one oracle-checked query per operator
  * class from SURVEY.md §2 that the TPC-H suite doesn't already exercise.
  *
  * §2.1 values/empty relations · §2.2 predicates/conditionals/casts ·
  * §2.3 right/full/cross/null-safe joins · §2.4 statistical aggregates,
  * rollup/cube/grouping-sets, FILTER, array_agg, median, approx ·
  * §2.5 window functions (rank/offset/frames/distribution) ·
  * §2.6 sort-null ordering + limit/offset · §2.7 set operations ·
  * §2.9 scalar functions (string/math/regex/hash/datetime/conditional).
  *
  * Numeric strategy per [[Dsl]]; engine-divergent functions (initcap,
  * approx_*) are either kept out of oracles or registered oracle-less.
  */
object Coverage {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- §2.1 values / empty relation -------------------------------------

  def srcValues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "tag")
      .select((col("id") * 2).as("id2"), upper(col("tag")).as("tag_up"))
      .orderBy(col("id2"))
  }

  val srcValuesOracle: String =
    """SELECT CAST(id * 2 AS BIGINT) AS id2, upper(tag) AS tag_up
      |FROM (VALUES (1,'alpha'),(2,'beta'),(3,'gamma')) t(id, tag)
      |ORDER BY id2""".stripMargin

  def srcEmpty(spark: SparkSession, dir: String): DataFrame =
    spark.sql("SELECT CAST(1 AS BIGINT) AS one, 'x' AS tag")

  val srcEmptyOracle: String = "SELECT CAST(1 AS BIGINT) AS one, 'x' AS tag"

  // ---- §2.2 projection arithmetic / predicates / conditionals ------------

  def projArith(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey") + col("l_linenumber")).as("add_col"),
        (col("l_orderkey") - lit(1L)).as("sub_col"),
        (col("l_orderkey") * 3).as("mul_col"),
        (col("l_orderkey") % 7).as("mod_col"),
        expr("l_orderkey DIV 3").as("idiv_col"),
        col("l_linenumber").bitwiseAND(3).as("band_col"),
        col("l_linenumber").bitwiseOR(8).as("bor_col"),
        (-col("l_linenumber")).as("neg_col"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(50)
  }

  val projArithOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey + l_linenumber AS add_col,
      |  l_orderkey - 1 AS sub_col,
      |  l_orderkey * 3 AS mul_col,
      |  l_orderkey % 7 AS mod_col,
      |  l_orderkey // 3 AS idiv_col,
      |  l_linenumber & 3 AS band_col,
      |  l_linenumber | 8 AS bor_col,
      |  -l_linenumber AS neg_col
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin

  def predFilters(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .filter(col("p_size").between(10, 20) &&
        col("p_type").isin("PROMO", "LARGE") &&
        col("p_name").like("%bolt%") &&
        col("p_brand").ilike("brand#1%") &&
        col("p_name").rlike("b.lt") &&
        !(col("p_size") === 15) &&
        col("p_retailprice").isNotNull)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val predFiltersOracle: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size
      |FROM part
      |WHERE p_size BETWEEN 10 AND 20
      |  AND p_type IN ('PROMO','LARGE')
      |  AND p_name LIKE '%bolt%'
      |  AND p_brand ILIKE 'brand#1%'
      |  AND regexp_matches(p_name, 'b.lt')
      |  AND NOT (p_size = 15)
      |  AND p_retailprice IS NOT NULL
      |ORDER BY p_partkey""".stripMargin

  /** SIMILAR TO via plan-time regex translation (RegexFunctions); the
    * oracle uses DuckDB's native SIMILAR TO on the same patterns. */
  def predSimilar(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.RegexFunctions.{notSimilarTo, similarTo}
    Tables.part(spark, dir)
      .filter(similarTo(col("p_name"), "%(bolt|nut)%") &&
        similarTo(col("p_brand"), "Brand#_3") &&
        notSimilarTo(col("p_type"), "%BURNISHED%"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
      .orderBy(col("p_partkey"))
  }

  /** DuckDB's SIMILAR TO takes a raw regex (not SQL wildcards), so the
    * oracle applies the same plan-time translation output through DuckDB's
    * independent regex engine. */
  val predSimilarOracle: String = {
    import graft.functions.RegexFunctions.similarToRegex
    val r1 = similarToRegex("%(bolt|nut)%")
    val r2 = similarToRegex("Brand#_3")
    val r3 = similarToRegex("%BURNISHED%")
    s"""SELECT p_partkey, p_name, p_brand, p_type
       |FROM part
       |WHERE regexp_matches(p_name, '$r1')
       |  AND regexp_matches(p_brand, '$r2')
       |  AND NOT regexp_matches(p_type, '$r3')
       |ORDER BY p_partkey""".stripMargin
  }

  def condCaseCast(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Spread(Tables.events(spark, dir), col("event_id"))
      .select(col("event_id"),
        when(col("value") > 20, "high").when(col("value") > 5, "mid").otherwise("low").as("band"),
        col("event_type").try_cast(IntegerType).as("bad_cast"),
        floor(col("value")).cast(LongType).as("value_floor"),
        nullif(col("event_type"), lit("view")).as("et_nullable"),
        coalesce(nullif(col("event_type"), lit("view")), lit("(viewed)")).as("et_coalesced"),
        col("event_type").isNull.as("is_null_flag"),
        greatest(col("value"), col("user_id").cast(DoubleType)).as("greatest_col"),
        least(col("value"), col("user_id").cast(DoubleType)).as("least_col"))
      .orderBy(col("event_id"))
      .limit(100)
  }

  val condCaseCastOracle: String =
    """SELECT event_id,
      |  CASE WHEN value > 20 THEN 'high' WHEN value > 5 THEN 'mid' ELSE 'low' END AS band,
      |  TRY_CAST(event_type AS INTEGER) AS bad_cast,
      |  CAST(FLOOR(value) AS BIGINT) AS value_floor,
      |  nullif(event_type, 'view') AS et_nullable,
      |  coalesce(nullif(event_type, 'view'), '(viewed)') AS et_coalesced,
      |  event_type IS NULL AS is_null_flag,
      |  greatest(value, CAST(user_id AS DOUBLE)) AS greatest_col,
      |  least(value, CAST(user_id AS DOUBLE)) AS least_col
      |FROM events
      |ORDER BY event_id
      |LIMIT 100""".stripMargin

  // ---- §2.3 join shapes ---------------------------------------------------

  /** RIGHT OUTER: orders-in-window right-joined to all customers. */
  def joinRight(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") >= ts("2000-01-01"))
    o.join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"), "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("recent_orders"))
      .orderBy(col("c_custkey"))
      .limit(200)
  }

  val joinRightOracle: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS recent_orders
      |FROM (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
      |RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey
      |LIMIT 200""".stripMargin

  /** FULL OUTER on nation keys between customer counts and rich-supplier counts. */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).groupBy(col("c_nationkey").as("c_nk"))
      .agg(count(lit(1)).as("ncust"))
    val s = Tables.supplier(spark, dir).filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("s_nk")).agg(count(lit(1)).as("nsupp"))
    c.join(s, col("c_nk") === col("s_nk"), "full")
      .select(coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
        col("ncust"), col("nsupp"))
      .orderBy(col("nationkey").asc_nulls_first)
  }

  val joinFullOracle: String =
    """SELECT coalesce(c_nk, s_nk) AS nationkey, ncust, nsupp
      |FROM (SELECT c_nationkey AS c_nk, COUNT(*) AS ncust FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS s_nk, COUNT(*) AS nsupp
      |                 FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
      |  ON c_nk = s_nk
      |ORDER BY nationkey NULLS FIRST""".stripMargin

  /** CROSS JOIN region × market segments. */
  def joinCross(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables.customer(spark, dir).select(col("c_mktsegment")).distinct()
    Tables.region(spark, dir).crossJoin(segs)
      .select(col("r_name"), col("c_mktsegment"))
      .orderBy(col("r_name"), col("c_mktsegment"))
  }

  val joinCrossOracle: String =
    """SELECT r_name, c_mktsegment
      |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) segs
      |ORDER BY r_name, c_mktsegment""".stripMargin

  /** Null-safe equality (<=> / IS NOT DISTINCT FROM) on a nullable derived
    * key. The count-over-join is computed aggregate-below-join: per-key
    * counts first, then the <=> join on key-cardinality-sized sides, then
    * the product — identical result (pairs per key = |C_k|·|S_k|), but the
    * quadratic key fan-out never materializes. Measured 82x at 100x bench
    * scale the fan-out way; flat this way. The null-matches-null semantics
    * are still exercised: the NULL group must survive both aggregations and
    * meet in the join. */
  def joinNullsafe(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(nullif(col("c_nationkey"), lit(3)).as("c_key"))
      .groupBy(col("c_key")).agg(count(lit(1)).as("n_c"))
    val s = Tables.supplier(spark, dir)
      .select(nullif(col("s_nationkey"), lit(3)).as("s_key"))
      .groupBy(col("s_key")).agg(count(lit(1)).as("n_s"))
    c.join(s, col("c_key") <=> col("s_key"))
      .select(col("c_key"), (col("n_c") * col("n_s")).as("pairs"))
      .orderBy(col("c_key").asc_nulls_first)
  }

  val joinNullsafeOracle: String =
    """SELECT c_key, COUNT(*) AS pairs
      |FROM (SELECT nullif(c_nationkey, 3) AS c_key FROM customer) c
      |JOIN (SELECT nullif(s_nationkey, 3) AS s_key FROM supplier) s
      |  ON c_key IS NOT DISTINCT FROM s_key
      |GROUP BY c_key
      |ORDER BY c_key NULLS FIRST""".stripMargin

  // ---- §2.4 aggregates ----------------------------------------------------

  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        d(sum(dec(col("o_totalprice")))).as("sum_price"),
        (d(sum(dec(col("o_totalprice")))) / count(col("o_totalprice"))).as("avg_price"),
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  val aggStatsOracle: String = {
    import sql._
    s"""SELECT o_orderpriority,
       |  min(o_totalprice) AS min_price,
       |  max(o_totalprice) AS max_price,
       |  ${dsum(dec("o_totalprice"))} AS sum_price,
       |  ${dsum(dec("o_totalprice"))} / COUNT(o_totalprice) AS avg_price,
       |  COUNT(*) AS n,
       |  COUNT(DISTINCT o_custkey) AS n_cust
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** Linear-regression aggregates (regr_slope/intercept/r2 family). All
    * moments and the composite terms A = nΣxy−ΣxΣy, B = nΣx²−(Σx)²,
    * C = nΣy²−(Σy)² are EXACT integers over cents-scaled inputs
    * (DECIMAL(38,0) on Spark, HUGEINT on DuckDB — values stay ≤ ~1e29 at
    * sf10, far inside both), so the only float operations are the single
    * correctly-rounded scale-0 casts of A/B/C and one shared IEEE division
    * tree — bit-equal at any partitioning AND any data magnitude. (The
    * previous form cast each raw moment to DOUBLE first; the composite
    * subtractions then double-rounded differently per engine at small-SF
    * magnitudes — a latent 1-ulp hazard under testdata regeneration.)
    * The cents scaling cancels in slope and r2 (A,B,C all carry 10⁴) and
    * is divided back out of the intercept. Spark's native
    * `regr_slope`/`regr_count` run in the same aggregate and an in-plan
    * filter asserts they agree (rows vanish → gate fails), so the built-in
    * regression surface is exercised without hash-pinning its
    * float-summation order. */
  def aggRegr(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val xc = (dec(col("l_quantity")) * 100).cast(LongType)
    val yc = (dec(col("l_extendedprice"), 14, 2) * 100).cast(LongType)
    // Round 15 (guide §2.5): the decimal-moment partial aggregation
    // otherwise runs inside the one-row-group scan, whose 3 byte-splits
    // leave one task with every row (profiled 0.84 s with 29 idle cores).
    // The spread is keyed on high-cardinality l_orderkey so the partial agg
    // above it runs core-wide. It is unconditional: on an already-wide scan
    // it shuffles the four projected columns below the partial agg (the
    // guide §2.3 cost), which the split count cannot rule out.
    graft.operators.Spread(
        Tables.lineitem(spark, dir)
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
            col("l_orderkey")), col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(xc.cast(dec38)).as("sx"), sum(yc.cast(dec38)).as("sy"),
        sum((xc * xc).cast(dec38)).as("sxx"), sum((yc * yc).cast(dec38)).as("syy"),
        sum((xc * yc).cast(dec38)).as("sxy"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("native_slope"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("native_n"))
      .withColumn("n38", col("n_rows").cast(dec38))
      .withColumn("a", col("n38") * col("sxy") - col("sx") * col("sy"))
      .withColumn("b", col("n38") * col("sxx") - col("sx") * col("sx"))
      .withColumn("c", col("n38") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope", d(col("a")) / d(col("b")))
      .withColumn("intercept",
        (d(col("sy")) - col("slope") * d(col("sx"))) /
          (col("n_rows").cast(DoubleType) * 100.0))
      .withColumn("r2", (d(col("a")) * d(col("a"))) / (d(col("b")) * d(col("c"))))
      .filter(abs(col("native_slope") - col("slope")) < 1e-6 &&
        col("native_n") === col("n_rows"))
      .select(col("l_returnflag"), col("n_rows"), col("slope"), col("intercept"), col("r2"))
      .orderBy(col("l_returnflag"))
  }

  val aggRegrOracle: String = {
    import sql._
    // cents-integer moments: SUM(BIGINT) is HUGEINT in DuckDB, the
    // composite terms stay exact int128, and HUGEINT→DOUBLE is correctly
    // rounded — mirroring the Spark side's DECIMAL(38,0) construction
    val x = dec("l_quantity")
    val y = dec("l_extendedprice", 14, 2)
    s"""WITH t AS (
       |  SELECT l_returnflag,
       |    CAST($x * 100 AS BIGINT) AS xc,
       |    CAST($y * 100 AS BIGINT) AS yc
       |  FROM lineitem),
       |s AS (
       |  SELECT l_returnflag, COUNT(*) AS n_rows,
       |    SUM(xc) AS sx, SUM(yc) AS sy,
       |    SUM(xc * xc) AS sxx, SUM(yc * yc) AS syy, SUM(xc * yc) AS sxy
       |  FROM t GROUP BY l_returnflag),
       |m AS (
       |  SELECT l_returnflag, n_rows,
       |    CAST(n_rows * sxy - sx * sy AS DOUBLE) AS a,
       |    CAST(n_rows * sxx - sx * sx AS DOUBLE) AS b,
       |    CAST(n_rows * syy - sy * sy AS DOUBLE) AS c,
       |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM s)
       |SELECT l_returnflag, n_rows,
       |  a / b AS slope,
       |  (syd - a / b * sxd) / (n_rows * 100.0) AS intercept,
       |  (a * a) / (b * c) AS r2
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** Mergeable HLL distinct sketches (Datasketches HllSketch — the 100 TB
    * distinct-count path: per-partition sketches merge associatively, so a
    * global distinct costs one small-payload reduce instead of a full
    * key shuffle; `hll_union_agg` over the per-group sketches is exactly
    * the cross-partition merge a 1000-executor rollup performs). The
    * hash-gated values are the EXACT distinct counts (DuckDB recomputes
    * them); the sketch estimates run in the same plan and in-plan filters
    * assert ≤2% relative error per group AND on the unioned global sketch —
    * a broken sketch path empties the result and fails the gate. */
  def aggHll(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"))
    val globalRow = per
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("gest"))
      .crossJoin(broadcast(
        Tables.orders(spark, dir).agg(countDistinct(col("o_custkey")).as("n_cust"))))
      .filter(abs(col("gest") - col("n_cust")) <= col("n_cust") * 0.02)
      .select(lit("~total").as("o_orderpriority"), col("n_cust"))
    per
      .withColumn("est", hll_sketch_estimate(col("sk")))
      .filter(abs(col("est") - col("n_cust")) <= col("n_cust") * 0.02)
      .select(col("o_orderpriority"), col("n_cust"))
      .unionByName(globalRow)
      .orderBy(col("o_orderpriority"))
  }

  val aggHllOracle: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust
      |FROM orders GROUP BY o_orderpriority
      |UNION ALL
      |SELECT '~total', COUNT(DISTINCT o_custkey) FROM orders
      |ORDER BY o_orderpriority""".stripMargin

  /** Statistical moments — engines agree to ~1e-12 relative; rounded to 4
    * decimals for a stable hash. */
  def aggVarstd(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(var_samp(col("value")), 4).as("var_s"),
        round(var_pop(col("value")), 4).as("var_p"),
        round(stddev_samp(col("value")), 4).as("std_s"),
        round(stddev_pop(col("value")), 4).as("std_p"),
        round(covar_samp(col("value"), col("user_id").cast(DoubleType)), 4).as("covar_s"),
        round(covar_pop(col("value"), col("user_id").cast(DoubleType)), 4).as("covar_p"),
        round(corr(col("value"), col("user_id").cast(DoubleType)), 6).as("corr_vu"))
      .orderBy(col("event_type"))
  }

  val aggVarstdOracle: String =
    """SELECT event_type,
      |  round(var_samp(value), 4) AS var_s,
      |  round(var_pop(value), 4) AS var_p,
      |  round(stddev_samp(value), 4) AS std_s,
      |  round(stddev_pop(value), 4) AS std_p,
      |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_s,
      |  round(covar_pop(value, CAST(user_id AS DOUBLE)), 4) AS covar_p,
      |  round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def aggMedian(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(median(col("l_quantity")).as("median_qty"))
      .orderBy(col("l_returnflag"))
  }

  val aggMedianOracle: String =
    """SELECT l_returnflag, median(l_quantity) AS median_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    // Round 15: same spread as aggRegr — the 3x Expand + decimal partial
    // agg ran inside the one-row-group scan (anti-scaling 0.73 at
    // local[32]); spread by l_orderkey parallelizes it.
    graft.operators.Spread(
        Tables.lineitem(spark, dir)
          .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
            col("l_orderkey")), col("l_orderkey"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("l_quantity")))).as("sum_qty"),
        grouping(col("l_returnflag")).cast(LongType).as("g_rf"),
        grouping(col("l_linestatus")).cast(LongType).as("g_ls"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val aggRollupOracle: String = {
    import sql._
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${dsum(dec("l_quantity"))} AS sum_qty,
       |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
       |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  }

  def aggCube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val aggCubeOracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  def aggGsets(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey"))),
        col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first)
  }

  val aggGsetsOracle: String =
    """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
      |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin

  /** Aggregate FILTER clause (reference: AggregateExprNode.filter,
    * datafusion.proto:551-556) — expressed with Spark's native SQL FILTER. */
  def aggFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE)")
          .as("qty_highdisc"),
        expr("COUNT(*) FILTER (WHERE l_tax = 0.0)").as("n_notax"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  val aggFilterOracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_highdisc,
      |  COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_notax,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** ARRAY_AGG (reference: datafusion.proto:536) — ordering is
    * nondeterministic in both engines, so compare the sorted, joined form. */
  def aggArray(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("ids"),
        array_join(sort_array(collect_set(col("source"))), ",").as("sources"))
      .orderBy(col("lang"))
  }

  val aggArrayOracle: String =
    """SELECT lang,
      |  string_agg(doc_id, ',' ORDER BY doc_id) AS ids,
      |  string_agg(DISTINCT source, ',' ORDER BY source) AS sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Approximate aggregates (HLL / quantile sketches) — the estimates differ
    * per engine by design, so the HASH-GATED columns are the exact
    * companions plus boolean error-bound invariants computed in-plan
    * (estimate within bound of the exact value); the oracle recomputes the
    * exact columns and expects the booleans to be `true`. This upgrades the
    * former rows-only check to a full hash gate while still exercising
    * approx_count_distinct / percentile_approx end-to-end. */
  def aggApprox(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey"), col("l_quantity"))
    // Each exact companion runs in the shape that scales, instead of one
    // agg mixing countDistinct (Expand: one input copy per distinct-agg
    // group) with median (ObjectHashAggregate buffering every value of a
    // group in memory) — that combination was 32x superlinear at the sf1
    // ramp. Sketches: one two-phase hash agg, bounded buffers.
    val approx = base
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("approx_median_qty"))
    // Exact distinct: dedup then count — two keyed shuffles, no Expand,
    // partial agg on both.
    val exactParts = base
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    // Exact median over the VALUE DOMAIN (same move as aggWpercentile):
    // window the per-(flag, quantity) counts, not the fact table, so the
    // sort input is |distinct quantities| per flag regardless of row count.
    // Linear interpolation at index p = (n-1)/2 reproduces median()/
    // percentile(0.5) semantics exactly.
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val exactMedian = base
      .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        byFlag.orderBy(col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("p", (sum(col("cnt")).over(byFlag) - 1) / 2.0)
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") > floor(col("p")), col("l_quantity"))).as("v_lo"),
        min(when(col("cum") > ceil(col("p")), col("l_quantity"))).as("v_hi"),
        max(col("p")).as("p"))
      .select(col("l_returnflag"),
        (col("v_lo") + (col("v_hi") - col("v_lo")) * (col("p") - floor(col("p"))))
          .as("exact_median_qty"))
    // Three ~3-row aggregates — AQE broadcasts both joins.
    // Deterministic output = exact values + boolean error-bound invariants
    // (the agg_hll/win_mad_approx pattern): the sketch estimates feed ONLY
    // the booleans, so the DuckDB oracle recomputes the exact columns and
    // expects `true` — a broken sketch flips a boolean and the hash gate
    // fails. Three ~3-row aggregates — AQE broadcasts both joins.
    approx
      .join(exactParts, Seq("l_returnflag"))
      .join(exactMedian, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        round(col("exact_median_qty"), 4).as("exact_median_qty"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          <= col("exact_parts").cast("double") * 0.15).as("parts_ok"),
        (abs(col("approx_median_qty") - col("exact_median_qty")).cast("double")
          <= greatest(col("exact_median_qty").cast("double") * 0.05, lit(1.0)))
          .as("median_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact companions recomputed by DuckDB; the invariant booleans are
    * `true` literals — hash equality proves the sketch paths land inside
    * their error bounds (HLL++ default rsd 5% vs 15% bound; quantile sketch
    * median ± max(5%, 1)). */
  val aggApproxOracle: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  round(median(l_quantity), 4) AS exact_median_qty,
      |  true AS parts_ok, true AS median_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Weighted median (the semantic behind the reference's
    * APPROX_PERCENTILE_CONT_WITH_WEIGHT, datafusion.proto:545) computed
    * exactly: smallest value whose cumulative weight reaches half the total.
    * RANGE frames make the cumulative sum include order-by ties, so the
    * result is deterministic under any partitioning; weights aggregate in
    * decimal (exact). One shuffle per group key — scales like any window. */
  def aggWpercentile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Pre-aggregate to distinct (flag, value) BEFORE the windows: the
    // cumulative weight at v over a RANGE frame equals the sum of per-value
    // weights <= v, so windowing the grouped set is semantically identical
    // while shrinking the sort input by the duplication factor (600k rows →
    // ~150 here) — the difference between sorting the fact table and
    // sorting its value domain at 100 TB. Map-side partial agg included.
    val grouped = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"), dec(col("l_extendedprice")).as("wt"))
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(col("wt")).as("w"))
    val byRf = Window.partitionBy(col("l_returnflag"))
    val cumW = byRf.orderBy(col("l_quantity"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("cum", sum(col("w")).over(cumW))
      .withColumn("tot", sum(col("w")).over(byRf))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("wmedian_qty"))
      .orderBy(col("l_returnflag"))
  }

  val aggWpercentileOracle: String = {
    val wt = Dsl.sql.dec("l_extendedprice")
    s"""SELECT l_returnflag, min(l_quantity) AS wmedian_qty FROM (
       |  SELECT l_returnflag, l_quantity,
       |    SUM($wt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM($wt) OVER (PARTITION BY l_returnflag) AS tot
       |  FROM lineitem) t
       |WHERE cum * 2 >= tot
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Explicit repartition/coalesce (§2.8 RepartitionNode /
    * CoalescePartitionsExec): hash-repartition by the group key (a
    * semantically transparent exchange — the oracle is the plain
    * aggregate), then coalesce the result. */
  def xchRepartition(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .repartition(8, col("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), d(max(dec(col("o_totalprice")))).as("max_price"))
      .coalesce(1)
      .orderBy(col("o_orderpriority"))

  val xchRepartitionOracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  CAST(max(${Dsl.sql.dec("o_totalprice")}) AS DOUBLE) AS max_price
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** The same weighted median through the mergeable Aggregator (GROUP BY
    * shape, two-phase at any scale) — exact here because l_quantity has
    * far fewer distinct values than the sketch cap, so the window-based
    * oracle applies unchanged. */
  def aggWpercentileUdaf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Udafs.register(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_returnflag,
        |  graft_wpercentile(l_quantity, l_extendedprice, 0.5D) AS wmedian_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  // ---- §2.5 window functions ---------------------------------------------

  import org.apache.spark.sql.expressions.Window

  def winRank(spark: SparkSession, dir: String): DataFrame = {
    val bucket = floor(col("o_totalprice") / 10000.0).cast(LongType)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(bucket.desc, col("o_orderkey"))
    val wTies = Window.partitionBy(col("o_orderpriority")).orderBy(bucket.desc)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), bucket.as("bucket"),
        row_number().over(w).as("rn"),
        rank().over(wTies).as("rnk"),
        dense_rank().over(wTies).as("drnk"))
      .filter(col("rn") <= 20)
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  val winRankOracle: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS bucket,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) DESC, o_orderkey) AS rn,
      |    rank() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) DESC) AS rnk,
      |    dense_rank() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) DESC) AS drnk
      |  FROM orders) ranked
      |WHERE rn <= 20
      |ORDER BY o_orderpriority, rn""".stripMargin

  def winOffset(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables.eventsTs(spark, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_val"),
        last(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("last_val"),
        nth_value(col("value"), 2).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("second_val"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val winOffsetOracle: String =
    """SELECT user_id, event_id, value,
      |  lag(value, 1) OVER w AS prev_value,
      |  lead(value, 1) OVER w AS next_value,
      |  first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_val,
      |  last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_val,
      |  nth_value(value, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_val
      |FROM events
      |WHERE user_id < 40
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Running and sliding frames; running decimal sums stay exact. */
  def winFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = w.rowsBetween(-2, Window.currentRow)
    Tables.eventsTs(spark, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("event_id"),
        d(sum(dec(col("value"))).over(running)).as("running_sum"),
        (d(sum(dec(col("value"))).over(sliding)) / count(col("value")).over(sliding))
          .as("moving_avg"),
        count(lit(1)).over(running).as("running_n"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val winFrameOracle: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
      |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg,
      |  COUNT(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      |FROM events
      |WHERE user_id < 40
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** GROUPS frame via the dense_rank→RANGE rewrite (operators.Windows);
    * the oracle runs DuckDB's native GROUPS frame. Peer groups share a
    * frame sum, so ties need no tiebreak; decimal aggregation keeps the
    * sums exact. */
  def winGroups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), dec(col("l_extendedprice")).as("price_dec"))
    Windows.withGroupsFrame(base,
      part = Seq(col("l_returnflag")), order = col("l_quantity"),
      nPreceding = 2, nFollowing = 0,
      agg = sum(col("price_dec")), outName = "groups_sum_dec")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), d(col("groups_sum_dec")).as("groups_sum"))
      .orderBy(col("l_returnflag"), col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
  }

  /** DuckDB hasn't implemented GROUPS frames either, so the oracle states
    * the GROUPS definition explicitly — per-peer-group sums joined over the
    * trailing group range — giving an independent computation path. */
  val winGroupsOracle: String = {
    val price = Dsl.sql.dec("l_extendedprice")
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, $price AS p
       |  FROM lineitem WHERE l_orderkey < 2000),
       |ranked AS (
       |  SELECT *, dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS gr
       |  FROM base),
       |grp AS (
       |  SELECT l_returnflag, gr, SUM(p) AS gp
       |  FROM ranked GROUP BY l_returnflag, gr)
       |SELECT r.l_orderkey, r.l_linenumber, r.l_returnflag, r.l_quantity,
       |  CAST((SELECT SUM(g.gp) FROM grp g
       |        WHERE g.l_returnflag = r.l_returnflag
       |          AND g.gr BETWEEN r.gr - 2 AND r.gr) AS DOUBLE) AS groups_sum
       |FROM ranked r
       |ORDER BY r.l_returnflag, r.l_quantity, r.l_orderkey, r.l_linenumber""".stripMargin
  }

  def winDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") < 40)
      .select(col("event_type"), col("event_id"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val winDistOracle: String =
    """SELECT event_type, event_id,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM events
      |WHERE user_id < 40
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, event_id""".stripMargin

  /** IGNORE NULLS window offsets (reference: DataFusion's
    * `ignore_nulls` flag on first/last/nth/lag window exprs,
    * proto `WindowExprNode`): the gap-fill / carry-forward-last-observation
    * idiom. `purchase_value` is NULL on non-purchase rows, and each variant
    * skips those NULLs while scanning the frame. Shuffles once on user_id;
    * at corpus scale this is the standard forward-fill over event history. */
  def winIgnulls(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsTs(spark, dir)
      .filter(col("user_id") < 40)
      .withColumn("purchase_value",
        when(col("event_type") === "purchase", col("value")))
      .select(col("user_id"), col("event_id"), col("purchase_value"),
        last(col("purchase_value"), ignoreNulls = true).over(run).as("last_purchase"),
        first(col("purchase_value"), ignoreNulls = true).over(run).as("first_purchase"),
        nth_value(col("purchase_value"), 2, ignoreNulls = true).over(run)
          .as("second_purchase"),
        lag(col("purchase_value"), 1, null, ignoreNulls = true).over(w)
          .as("prev_purchase"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val winIgnullsOracle: String =
    """SELECT user_id, event_id,
      |  CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase,
      |  first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_purchase,
      |  nth_value(CASE WHEN event_type = 'purchase' THEN value END, 2 IGNORE NULLS)
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_purchase,
      |  lag(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER w AS prev_purchase
      |FROM events
      |WHERE user_id < 40
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Time-interval RANGE frames (the "events in the trailing hour" idiom —
    * DataFusion window frames with RANGE offsets): the frame bound is a
    * VALUE offset on the microsecond ordering key, not a row count, so
    * peers and gaps are handled by value arithmetic. One keyed shuffle on
    * user_id; at corpus scale this is the standard rolling-window feature
    * build (trailing count/sum + leading count per event). */
  def winTrange(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val tenMinUs = 600L * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val trailing = w.rangeBetween(-hourUs, 0)
    val leading = w.rangeBetween(0, tenMinUs)
    Tables.eventsTs(spark, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000").as("ts_us"), col("value"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        count(lit(1)).over(trailing).as("n_1h"),
        d(sum(dec(col("value"))).over(trailing)).as("sum_1h"),
        count(lit(1)).over(leading).as("n_next10m"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Running DISTINCT count as a window — a frame neither Spark nor DuckDB
    * supports natively (`COUNT(DISTINCT) OVER` is rejected), and the naive
    * rewrite (per-row set state) is O(n²) memory. The scalable form: mark
    * each user's FIRST hour with a keyed min-agg, count first-appearances
    * per hour, and take a running sum over the hour spine — distinct-ness
    * becomes an integer cumsum, exact at any partitioning. Two keyed
    * shuffles (user-first agg, hour agg) + one keyed window; nothing holds
    * per-row distinct state. */
  def winRdistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsTs(spark, dir)
      .select(col("event_type"), expr("ts_ns DIV 3600000000000").as("hr"),
        col("user_id"))
    val firstSeen = e.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("hr")).as("fh"))
    val news = firstSeen.groupBy(col("event_type"), col("fh").as("hr"))
      .agg(count(lit(1)).as("n_new"))
    val hours = e.select(col("event_type"), col("hr")).distinct()
    hours.join(news, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        sum(coalesce(col("n_new"), lit(0L)))
          .over(Window.partitionBy(col("event_type")).orderBy(col("hr")))
          .cast(LongType).as("run_distinct_users"))
      .orderBy(col("event_type"), col("hr"))
  }

  val winRdistinctOracle: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    user_id
      |  FROM events),
      |fs AS (SELECT event_type, user_id, MIN(hr) AS fh FROM e GROUP BY 1, 2),
      |news AS (SELECT event_type, fh AS hr, COUNT(*) AS n_new FROM fs GROUP BY 1, 2),
      |hours AS (SELECT DISTINCT event_type, hr FROM e)
      |SELECT h.event_type, h.hr,
      |  CAST(SUM(COALESCE(n.n_new, 0)) OVER (
      |    PARTITION BY h.event_type ORDER BY h.hr) AS BIGINT) AS run_distinct_users
      |FROM hours h LEFT JOIN news n ON h.event_type = n.event_type AND h.hr = n.hr
      |ORDER BY h.event_type, h.hr""".stripMargin

  val winTrangeOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      |  FROM events WHERE user_id < 40)
      |SELECT user_id, event_id, ts_us,
      |  CAST(COUNT(*) OVER wt AS BIGINT) AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wt AS DOUBLE) AS sum_1h,
      |  CAST(COUNT(*) OVER wl AS BIGINT) AS n_next10m
      |FROM e
      |WINDOW
      |  wt AS (PARTITION BY user_id ORDER BY ts_us
      |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
      |  wl AS (PARTITION BY user_id ORDER BY ts_us
      |         RANGE BETWEEN CURRENT ROW AND 600000000 FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin

  // ---- §2.4 greatest-per-group without a self-join -------------------------

  /** MAX_BY / MIN_BY — greatest-n-per-group in ONE aggregation pass instead
    * of the agg-then-self-join idiom (which at scale re-shuffles the corpus
    * twice and re-reads it once). The ordering key is a (value, event_id)
    * struct so ties break deterministically: struct comparison is
    * lexicographic in both the engine and the oracle's window formulation. */
  def aggArgminmax(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        max_by(col("user_id"), struct(col("value"), col("event_id"))).as("top_user"),
        max(col("value")).as("top_value"),
        min_by(col("user_id"), struct(col("value"), col("event_id"))).as("bottom_user"),
        min(col("value")).as("bottom_value"))
      .orderBy(col("event_type"))
  }

  val aggArgminmaxOracle: String =
    """WITH ranked AS (
      |  SELECT event_type, user_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id DESC) AS rd,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value ASC, event_id ASC) AS ra
      |  FROM events)
      |SELECT a.event_type,
      |  max(CASE WHEN rd = 1 THEN user_id END) AS top_user,
      |  max(CASE WHEN rd = 1 THEN value END) AS top_value,
      |  max(CASE WHEN ra = 1 THEN user_id END) AS bottom_user,
      |  max(CASE WHEN ra = 1 THEN value END) AS bottom_value
      |FROM ranked a
      |GROUP BY a.event_type
      |ORDER BY a.event_type""".stripMargin

  // ---- §2.2 SELECT * EXCLUDE ------------------------------------------------

  /** DataFusion's `SELECT * EXCLUDE(...)` projection — drop named columns,
    * keep the rest. The point at scale: the EXCLUDED columns must not be
    * read at all (documents.text dominates the table bytes; the plan guard
    * asserts the scan schema omits it). */
  def projExclude(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .drop("text", "source")
      .orderBy(col("doc_id"))
      .limit(100)
  }

  val projExcludeOracle: String =
    """SELECT * EXCLUDE (text, source) FROM documents
      |ORDER BY doc_id
      |LIMIT 100""".stripMargin

  // ---- §2.6 sort / limit / offset ----------------------------------------

  def sortNullsOffset(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .select(col("p_partkey"), nullif(col("p_size"), lit(25)).as("size_n"))
      .orderBy(col("size_n").desc_nulls_first, col("p_partkey"))
      .offset(10)
      .limit(20)
  }

  val sortNullsOffsetOracle: String =
    """SELECT p_partkey, nullif(p_size, 25) AS size_n
      |FROM part
      |ORDER BY size_n DESC NULLS FIRST, p_partkey
      |LIMIT 20 OFFSET 10""".stripMargin

  // ---- §2.7 set operations -------------------------------------------------

  def setUnionAll(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).filter(col("c_acctbal") > 9900)
      .select(col("c_custkey").as("k"))
    val b = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING" &&
      col("c_acctbal") > 9500).select(col("c_custkey").as("k"))
    a.union(b).groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
  }

  val setUnionAllOracle: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9900
      |  UNION ALL
      |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9500)
      |GROUP BY k ORDER BY k""".stripMargin

  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).filter(col("c_acctbal") > 9900)
      .select(col("c_custkey").as("k"))
    val b = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING" &&
      col("c_acctbal") > 9500).select(col("c_custkey").as("k"))
    a.union(b).distinct().orderBy(col("k"))
  }

  val setUnionOracle: String =
    """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9900
      |UNION
      |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9500
      |ORDER BY k""".stripMargin

  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    val b = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    a.intersect(b).orderBy(col("k")).limit(100)
  }

  val setIntersectOracle: String =
    """SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY k LIMIT 100""".stripMargin

  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).select(col("c_nationkey").as("k")).distinct()
    val b = Tables.supplier(spark, dir).filter(col("s_acctbal") > 9000)
      .select(col("s_nationkey").as("k"))
    a.except(b).orderBy(col("k"))
  }

  val setExceptOracle: String =
    """SELECT DISTINCT c_nationkey AS k FROM customer
      |EXCEPT
      |SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000
      |ORDER BY k""".stripMargin

  // ---- §2.9 scalar function surface ----------------------------------------

  def fnString(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        upper(left(col("text"), lit(10))).as("up10"),
        lower(right(col("source"), lit(2))).as("low2"),
        substring(col("text"), 3, 8).as("sub38"),
        length(col("text")).cast(LongType).as("len"),
        trim(concat(lit("  "), col("lang"), lit(" "))).as("trimmed"),
        lpad(col("lang"), 6, "*").as("lpadded"),
        rpad(col("lang"), 6, "-").as("rpadded"),
        replace(col("source"), lit("src"), lit("origin")).as("replaced"),
        reverse(col("lang")).as("rev_lang"),
        concat_ws("|", col("lang"), col("source")).as("joined"),
        ascii(col("lang")).cast(LongType).as("ascii0"),
        instr(col("text"), "data").cast(LongType).as("pos_data"),
        split_part(col("source"), lit("c"), lit(2)).as("split2"),
        translate(col("lang"), "en", "EN").as("translated"),
        repeat(col("lang"), 2).as("doubled"),
        col("text").startsWith("key").as("starts_key"))
      .orderBy(col("doc_id"))
      .limit(100)
  }

  val fnStringOracle: String =
    """SELECT doc_id,
      |  upper(left(text, 10)) AS up10,
      |  lower(right(source, 2)) AS low2,
      |  substring(text, 3, 8) AS sub38,
      |  CAST(length(text) AS BIGINT) AS len,
      |  trim('  ' || lang || ' ') AS trimmed,
      |  lpad(lang, 6, '*') AS lpadded,
      |  rpad(lang, 6, '-') AS rpadded,
      |  replace(source, 'src', 'origin') AS replaced,
      |  reverse(lang) AS rev_lang,
      |  concat_ws('|', lang, source) AS joined,
      |  CAST(ascii(lang) AS BIGINT) AS ascii0,
      |  CAST(instr(text, 'data') AS BIGINT) AS pos_data,
      |  split_part(source, 'c', 2) AS split2,
      |  translate(lang, 'en', 'EN') AS translated,
      |  repeat(lang, 2) AS doubled,
      |  starts_with(text, 'key') AS starts_key
      |FROM documents
      |ORDER BY doc_id
      |LIMIT 100""".stripMargin

  /** Transcendentals rounded to 6 decimals (libm last-ulp divergence);
    * sqrt/abs/floor/ceil/sign are exactly rounded IEEE ops — no rounding. */
  def fnMath(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    Tables.events(spark, dir)
      .select(col("event_id"),
        abs(v - 25.0).as("abs_c"),
        ceil(v).cast(LongType).as("ceil_c"),
        floor(v).cast(LongType).as("floor_c"),
        sqrt(v).as("sqrt_c"),
        round(exp(v / 50.0), 6).as("exp_c"),
        round(log(v + 1.0), 6).as("ln_c"),
        round(log10(v + 1.0), 6).as("log10_c"),
        round(pow(v, 2.0), 6).as("pow_c"),
        round(sin(v), 6).as("sin_c"),
        round(cos(v), 6).as("cos_c"),
        round(atan2(v, lit(10.0)), 6).as("atan2_c"),
        signum(v - 25.0).as("sign_c"))
      .orderBy(col("event_id"))
      .limit(200)
  }

  val fnMathOracle: String =
    """SELECT event_id,
      |  abs(value - 25.0) AS abs_c,
      |  CAST(ceil(value) AS BIGINT) AS ceil_c,
      |  CAST(floor(value) AS BIGINT) AS floor_c,
      |  sqrt(value) AS sqrt_c,
      |  round(exp(value / 50.0), 6) AS exp_c,
      |  round(ln(value + 1.0), 6) AS ln_c,
      |  round(log10(value + 1.0), 6) AS log10_c,
      |  round(pow(value, 2.0), 6) AS pow_c,
      |  round(sin(value), 6) AS sin_c,
      |  round(cos(value), 6) AS cos_c,
      |  round(atan2(value, 10.0), 6) AS atan2_c,
      |  CAST(sign(value - 25.0) AS DOUBLE) AS sign_c
      |FROM events
      |ORDER BY event_id
      |LIMIT 200""".stripMargin

  def fnRegex(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_id"),
        // nullif: a props payload that doesn't match extracts '' - that is
        // a NULL k, not an ANSI cast failure killing the scan
        nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(""))
          .cast(LongType).as("k_val"),
        col("event_type").rlike("^(click|view)$").as("is_cv"),
        regexp_replace(col("event_type"), "[aeiou]", "_").as("devoweled"))
      .orderBy(col("event_id"))
      .limit(200)
  }

  val fnRegexOracle: String =
    """SELECT event_id,
      |  CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k_val,
      |  regexp_matches(event_type, '^(click|view)$') AS is_cv,
      |  regexp_replace(event_type, '[aeiou]', '_', 'g') AS devoweled
      |FROM events
      |ORDER BY event_id
      |LIMIT 200""".stripMargin

  /** md5 / sha2 family + the reference's `digest(col, algo)` dispatcher
    * (reference: datafusion.proto:456). */
  def fnHash(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text").cast(BinaryType)).as("md5_c"),
        sha2(col("text").cast(BinaryType), 256).as("sha256_c"),
        graft.functions.HashFunctions.digest(col("text"), "md5").as("digest_md5"),
        graft.functions.HashFunctions.digest(col("text"), "sha256").as("digest_sha"))
      .orderBy(col("doc_id"))
      .limit(100)
  }

  val fnHashOracle: String =
    """SELECT doc_id,
      |  md5(text) AS md5_c,
      |  sha256(text) AS sha256_c,
      |  md5(text) AS digest_md5,
      |  sha256(text) AS digest_sha
      |FROM documents
      |ORDER BY doc_id
      |LIMIT 100""".stripMargin

  def fnDatetime(spark: SparkSession, dir: String): DataFrame = {
    val o = col("o_orderdate")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        year(o).cast(LongType).as("y"),
        month(o).cast(LongType).as("m"),
        dayofmonth(o).cast(LongType).as("dom"),
        quarter(o).cast(LongType).as("q"),
        date_trunc("month", o).as("month_start"),
        datediff(o.cast(DateType), lit("1995-01-01").cast(DateType)).cast(LongType).as("days_since"),
        unix_timestamp(o).as("epoch_s"),
        (o + expr("INTERVAL 3 DAY")).as("plus3d"),
        last_day(o.cast(DateType)).cast(TimestampType).as("month_end"))
      .orderBy(col("o_orderkey"))
      .limit(200)
  }

  val fnDatetimeOracle: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y,
      |  month(o_orderdate) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  quarter(o_orderdate) AS q,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
      |  o_orderdate + INTERVAL 3 DAY AS plus3d,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 200""".stripMargin

  /** DATE_BIN (reference: datafusion.proto:517) — custom column-arithmetic
    * implementation vs DuckDB's native time_bucket. */
  def fnDatebin(spark: SparkSession, dir: String): DataFrame = {
    val binned = DateTimeFunctions.dateBin(
      15L * 60 * 1000000, col("ts"), lit("1970-01-01 00:00:00").cast(TimestampType))
    Tables.eventsTs(spark, dir)
      .select(binned.as("bin"), dec(col("value")).as("v"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), d(sum(col("v"))).as("sum_value"))
      .orderBy(col("bin"))
  }

  val fnDatebinOracle: String = {
    import sql._
    s"""SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP), TIMESTAMP '1970-01-01') AS bin,
       |  COUNT(*) AS n, ${dsum(dec("value"))} AS sum_value
       |FROM events
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  def fnConditional(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir)
      .select(col("n_nationkey"),
        element_at(array(col("n_name"), col("n_name")), 1).as("arr_first"),
        struct(col("n_name").as("nm"), col("n_regionkey").as("rk")).getField("nm").as("struct_get"),
        size(array(lit(1), lit(2), lit(3))).cast(LongType).as("arr_size"),
        array_contains(array(lit(0), lit(2), lit(4)), col("n_regionkey")).as("in_even"))
      .orderBy(col("n_nationkey"))
  }

  val fnConditionalOracle: String =
    """SELECT n_nationkey,
      |  [n_name, n_name][1] AS arr_first,
      |  struct_pack(nm := n_name, rk := n_regionkey).nm AS struct_get,
      |  CAST(len([1, 2, 3]) AS BIGINT) AS arr_size,
      |  list_contains([0, 2, 4], n_regionkey) AS in_even
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** Custom functions called by name from SQL (reference: executor-side
    * function registries, execution_loop.rs:182-205). Registered as
    * expression builders, so they plan into the same codegen'd expressions
    * as the DataFrame forms. */
  def fnRegistry(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT doc_id,
        |  graft_hash64(lang) AS lang_h,
        |  graft_token_count(text) AS n_tok,
        |  graft_similar_to(source, '%(c|z)%') AS src_match,
        |  graft_digest(lang, 'sha256') AS lang_sha
        |FROM documents
        |ORDER BY doc_id
        |LIMIT 200""".stripMargin)
  }

  val fnRegistryOracle: String = {
    import graft.functions.RegexFunctions.similarToRegex
    val h = graft.functions.TextFunctions.sql.hash64("lang")
    val tc = graft.functions.TextFunctions.sql.tokenCount("text")
    s"""SELECT doc_id,
       |  $h AS lang_h,
       |  $tc AS n_tok,
       |  regexp_matches(source, '${similarToRegex("%(c|z)%")}') AS src_match,
       |  sha256(lang) AS lang_sha
       |FROM documents
       |ORDER BY doc_id
       |LIMIT 200""".stripMargin
  }

  /** Explicit generator: posexplode over an in-plan array (LATERAL VIEW
    * shape; the dedup pipelines use explode internally, this gates the
    * operator itself incl. position output). */
  def genExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey"), split(col("n_name"), "_").as("parts"))
      .select(col("n_nationkey"), posexplode(col("parts")).as(Seq("pos", "part")))
      .select(col("n_nationkey"), col("pos").cast(LongType).as("pos"), col("part"))
      .orderBy(col("n_nationkey"), col("pos"))

  val genExplodeOracle: String =
    """SELECT n_nationkey, CAST(i - 1 AS BIGINT) AS pos, parts[i] AS part
      |FROM (SELECT n_nationkey, string_split(n_name, '_') AS parts FROM nation) t,
      |  LATERAL (SELECT unnest(generate_series(1, len(t.parts))) AS i) s
      |ORDER BY n_nationkey, pos""".stripMargin

  /** Remainder of the §2.9 string list (bit_length, btrim, chr, initcap,
    * ltrim, rtrim, octet_length, to_hex). initcap has no DuckDB built-in;
    * the oracle emulates it word-wise; to_hex is case-normalized. */
  def fnString2(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        bit_length(col("lang")).cast(LongType).as("bits"),
        octet_length(col("text")).cast(LongType).as("octets"),
        btrim(concat(lit("xx"), col("lang"), lit("x")), lit("x")).as("btrimmed"),
        ltrim(concat(lit("  "), col("lang"))).as("ltrimmed"),
        rtrim(concat(col("lang"), lit("  "))).as("rtrimmed"),
        chr((ascii(col("lang")) % 26).cast(LongType) + 65).as("chr_c"),
        initcap(col("source")).as("capped"),
        lower(hex(col("doc_id"))).as("id_hex"))
      .orderBy(col("doc_id"))
      .limit(100)

  val fnString2Oracle: String =
    """SELECT doc_id,
      |  CAST(bit_length(lang) AS BIGINT) AS bits,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS octets,
      |  trim('xx' || lang || 'x', 'x') AS btrimmed,
      |  ltrim('  ' || lang) AS ltrimmed,
      |  rtrim(lang || '  ') AS rtrimmed,
      |  chr(CAST(ascii(lang) % 26 + 65 AS INTEGER)) AS chr_c,
      |  array_to_string(list_transform(string_split(source, ' '),
      |    s -> upper(s[1]) || lower(s[2:])), ' ') AS capped,
      |  lower(to_hex(doc_id)) AS id_hex
      |FROM documents
      |ORDER BY doc_id
      |LIMIT 100""".stripMargin

  /** Nondeterministic scalar surface (reference: Random proto:487, Uuid
    * proto:521, Now proto:508) — registered oracle-less (rows-only check):
    * values can't hash-match by construction. The assertions that CAN be
    * deterministic are folded into the projection (uuid shape, rand range,
    * now vs date bounds). */
  def fnNondet(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey"),
        expr("uuid()").as("uuid_c"),
        rand(42).as("rand_c"),
        current_timestamp().as("now_c"),
        current_date().as("today_c"))
      .filter(col("uuid_c").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$") &&
        col("rand_c") >= 0.0 && col("rand_c") < 1.0 &&
        col("now_c").cast("date") >= col("today_c"))
      .orderBy(col("n_nationkey"))

  // ---- pivot / unpivot / lateral -------------------------------------------

  /** PIVOT: wide per-group columns from a categorical column (reference:
    * DataFusion exposes this via CASE-aggregation; Spark has a native
    * `.pivot` that plans to the same single hash-aggregate — one shuffle on
    * the group key, no per-pivot-value scan, so it holds at any scale).
    * Counts are coalesced to 0 to match SQL `COUNT(*) FILTER`, which never
    * returns NULL; sums stay NULL for empty cells on both sides. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("l_quantity")))).as("qty"))
      .select(col("l_returnflag"),
        coalesce(col("F_n"), lit(0L)).as("n_f"),
        coalesce(col("O_n"), lit(0L)).as("n_o"),
        col("F_qty").as("qty_f"), col("O_qty").as("qty_o"))
      .orderBy(col("l_returnflag"))

  val aggPivotOracle: String = {
    import sql._
    s"""SELECT l_returnflag,
       |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
       |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o,
       |  CAST(SUM(${dec("l_quantity")}) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
       |  CAST(SUM(${dec("l_quantity")}) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** UNPIVOT: melt measure columns to (metric, value) rows via Spark's native
    * `unpivot` (no join, no explode — a single projection that emits k rows
    * per input row, pipelined inside the scan stage), then aggregate.
    * Oracle uses the portable UNION ALL formulation. */
  def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    // Spread (round 14): the 4x row expansion + decimal partial agg ran
    // one-task in the one-row-group scan. The exchange carries the six
    // projected columns BEFORE the expansion, so it moves a quarter of the
    // rows the aggregation reads; the partial agg still runs above it
    graft.operators.Spread(
        Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        col("l_orderkey"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("value")))).as("total"))
      .orderBy(col("metric"))

  val aggUnpivotOracle: String = {
    import sql._
    s"""SELECT metric, COUNT(*) AS n, ${dsum(dec("value"))} AS total
       |FROM (
       |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
       |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
       |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
       |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem) u
       |GROUP BY metric
       |ORDER BY metric""".stripMargin
  }

  /** LATERAL correlated derived table (SQL:1999 surface; Spark ≥3.2 plans the
    * correlated aggregate as a decorrelated outer join + hash aggregate — one
    * keyed shuffle, no per-row re-execution, so the lateral form costs the
    * same as the hand-written join at any scale). */
  def joinLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c_custkey, t.n_orders, t.max_price
        |FROM customer, LATERAL (
        |  SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |  FROM orders WHERE o_custkey = c_custkey) t
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin)
  }

  val joinLateralOracle: String =
    """SELECT c_custkey, t.n_orders, t.max_price
      |FROM customer, LATERAL (
      |  SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
      |  FROM orders WHERE o_custkey = c_custkey) t
      |WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  /** Array scalar + higher-order functions (reference: DataFusion's
    * array_* / list_* function family). All per-row, no shuffle — scale is
    * linear in rows regardless of cluster size. Order-sensitive results are
    * normalized (sort after distinct) because engines differ on
    * distinct-order guarantees, and array outputs are stringified — the
    * gate convention (see agg_array): the hash compare sorts rows by every
    * column, which needs scalar cells. */
  def fnCollection(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey").cast(LongType).as("k"),
        array(col("n_nationkey").cast(LongType), col("n_regionkey").cast(LongType),
          (col("n_nationkey") % 5).cast(LongType),
          col("n_regionkey").cast(LongType)).as("arr"))
      .select(col("k"),
        size(col("arr")).cast(LongType).as("arr_len"),
        array_contains(col("arr"), 3L).as("has3"),
        array_join(sort_array(array_distinct(col("arr"))), ",").as("uniq_sorted"),
        element_at(col("arr"), 2).as("second_el"),
        array_join(slice(col("arr"), 2, 2), ",").as("mid"),
        array_join(transform(col("arr"), x => x + 1L), ",").as("plus1"),
        array_join(filter(col("arr"), x => x % 2L === 0L), ",").as("evens"),
        aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("total"))
      .orderBy(col("k"))

  val fnCollectionOracle: String =
    """SELECT k,
      |  CAST(len(arr) AS BIGINT) AS arr_len,
      |  list_contains(arr, 3) AS has3,
      |  array_to_string(list_sort(list_distinct(arr)), ',') AS uniq_sorted,
      |  arr[2] AS second_el,
      |  array_to_string(list_slice(arr, 2, 3), ',') AS mid,
      |  array_to_string(list_transform(arr, x -> x + 1), ',') AS plus1,
      |  coalesce(array_to_string(list_filter(arr, x -> x % 2 = 0), ','), '') AS evens,
      |  CAST(list_aggregate(arr, 'sum') AS BIGINT) AS total
      |FROM (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k,
      |    [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT),
      |     CAST(n_nationkey % 5 AS BIGINT), CAST(n_regionkey AS BIGINT)] AS arr
      |  FROM nation) t
      |ORDER BY k""".stripMargin

  /** DISTINCT ON semantics (reference: DataFusion supports `SELECT DISTINCT
    * ON (keys) ... ORDER BY keys, tiebreak`): latest order per customer.
    * Spark lacks the syntax; the scalable re-expression is a keyed top-1
    * window — one hash shuffle on the key, rank inside the partition, no
    * global sort before the final presentation ORDER BY. */
  def sortDistinctOn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  val sortDistinctOnOracle: String =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin

  /** Boolean aggregates (reference: DataFusion AggregateFunction BOOL_AND /
    * BOOL_OR) + COUNT_IF. All map-side-combinable single-bit state — the
    * cheapest possible aggregate at scale. */
  def aggBool(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        bool_and(col("l_quantity") > 1).as("all_qty_gt1"),
        bool_or(col("l_discount") === 0.0).as("any_nodisc"),
        count_if(col("l_tax") > 0.05).as("n_hightax"))
      .orderBy(col("l_returnflag"))

  val aggBoolOracle: String =
    """SELECT l_returnflag,
      |  bool_and(l_quantity > 1) AS all_qty_gt1,
      |  bool_or(l_discount = 0.0) AS any_nodisc,
      |  COUNT(*) FILTER (WHERE l_tax > 0.05) AS n_hightax
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Ordered string aggregation: SQL:2016 LISTAGG ... WITHIN GROUP (Spark ≥4
    * native; DuckDB spells it string_agg with ORDER BY). The in-group sort
    * is per-partition-key, not global, so it scales with the widest group,
    * not the table. */
  def aggStragg(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .groupBy(col("n_regionkey").cast(LongType).as("rk"))
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("names"))
      .orderBy(col("rk"))

  val aggStraggOracle: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS rk,
      |  string_agg(n_name, ',' ORDER BY n_name) AS names
      |FROM nation
      |GROUP BY 1
      |ORDER BY rk""".stripMargin

  /** Bitwise aggregates (reference: DataFusion AggregateFunction BIT_AND /
    * BIT_OR / BIT_XOR). Single-word state, map-side combinable. */
  def aggBitwise(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        bit_and(col("l_linenumber").cast(LongType)).as("band"),
        bit_or(col("l_linenumber").cast(LongType)).as("bor"),
        bit_xor(col("l_linenumber").cast(LongType)).as("bxor"))
      .orderBy(col("l_returnflag"))

  val aggBitwiseOracle: String =
    """SELECT l_returnflag,
      |  bit_and(CAST(l_linenumber AS BIGINT)) AS band,
      |  bit_or(CAST(l_linenumber AS BIGINT)) AS bor,
      |  bit_xor(CAST(l_linenumber AS BIGINT)) AS bxor
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Regex surface remainder (reference: DataFusion regexp_match returns a
    * list — expressed here as regexp_extract_all — plus count/instr/substr).
    * Per-row codegen'd compute, no shuffle. */
  def fnRegex2(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(regexp_extract_all(col("text"), lit("[A-Za-z]{5,}"), lit(0)), ",")
          .as("long_words"),
        regexp_count(col("text"), lit("[aeiou]{2}")).cast(LongType).as("n_vowelpairs"),
        regexp_instr(col("text"), lit("[0-9]")).cast(LongType).as("first_digit_pos"),
        coalesce(regexp_substr(col("text"), lit("[A-Za-z]{5,}")), lit("")).as("first_long"))
      .orderBy(col("doc_id"))
      .limit(2000)

  val fnRegex2Oracle: String =
    """SELECT doc_id,
      |  coalesce(array_to_string(regexp_extract_all(text, '[A-Za-z]{5,}'), ','), '')
      |    AS long_words,
      |  CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_vowelpairs,
      |  CAST(CASE WHEN NOT regexp_matches(text, '[0-9]') THEN 0
      |    ELSE strpos(text, regexp_extract(text, '[0-9]')) END AS BIGINT)
      |    AS first_digit_pos,
      |  regexp_extract(text, '[A-Za-z]{5,}') AS first_long
      |FROM documents
      |WHERE text IS NOT NULL
      |ORDER BY doc_id
      |LIMIT 2000""".stripMargin

  // ---- registry -------------------------------------------------------------

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "src_values" -> ((srcValues _, Some(srcValuesOracle))),
    "src_empty" -> ((srcEmpty _, Some(srcEmptyOracle))),
    "proj_arith" -> ((projArith _, Some(projArithOracle))),
    "pred_filters" -> ((predFilters _, Some(predFiltersOracle))),
    "pred_similar" -> ((predSimilar _, Some(predSimilarOracle))),
    "cond_case_cast" -> ((condCaseCast _, Some(condCaseCastOracle))),
    "join_right" -> ((joinRight _, Some(joinRightOracle))),
    "join_full" -> ((joinFull _, Some(joinFullOracle))),
    "join_cross" -> ((joinCross _, Some(joinCrossOracle))),
    "join_nullsafe" -> ((joinNullsafe _, Some(joinNullsafeOracle))),
    "agg_stats" -> ((aggStats _, Some(aggStatsOracle))),
    "agg_regr" -> ((aggRegr _, Some(aggRegrOracle))),
    "agg_hll" -> ((aggHll _, Some(aggHllOracle))),
    "agg_varstd" -> ((aggVarstd _, Some(aggVarstdOracle))),
    "agg_median" -> ((aggMedian _, Some(aggMedianOracle))),
    "agg_rollup" -> ((aggRollup _, Some(aggRollupOracle))),
    "agg_cube" -> ((aggCube _, Some(aggCubeOracle))),
    "agg_gsets" -> ((aggGsets _, Some(aggGsetsOracle))),
    "agg_filter" -> ((aggFilter _, Some(aggFilterOracle))),
    "agg_array" -> ((aggArray _, Some(aggArrayOracle))),
    "agg_approx" -> ((aggApprox _, Some(aggApproxOracle))),
    "agg_wpercentile" -> ((aggWpercentile _, Some(aggWpercentileOracle))),
    "agg_wpercentile_udaf" -> ((aggWpercentileUdaf _, Some(aggWpercentileOracle))),
    "xch_repartition" -> ((xchRepartition _, Some(xchRepartitionOracle))),
    "win_rank" -> ((winRank _, Some(winRankOracle))),
    "win_offset" -> ((winOffset _, Some(winOffsetOracle))),
    "win_frame" -> ((winFrame _, Some(winFrameOracle))),
    "win_dist" -> ((winDist _, Some(winDistOracle))),
    "win_groups" -> ((winGroups _, Some(winGroupsOracle))),
    "win_ignulls" -> ((winIgnulls _, Some(winIgnullsOracle))),
    "win_trange" -> ((winTrange _, Some(winTrangeOracle))),
    "win_rdistinct" -> ((winRdistinct _, Some(winRdistinctOracle))),
    "sort_nulls_offset" -> ((sortNullsOffset _, Some(sortNullsOffsetOracle))),
    "set_union_all" -> ((setUnionAll _, Some(setUnionAllOracle))),
    "set_union" -> ((setUnion _, Some(setUnionOracle))),
    "set_intersect" -> ((setIntersect _, Some(setIntersectOracle))),
    "set_except" -> ((setExcept _, Some(setExceptOracle))),
    "fn_string" -> ((fnString _, Some(fnStringOracle))),
    "fn_string2" -> ((fnString2 _, Some(fnString2Oracle))),
    "fn_math" -> ((fnMath _, Some(fnMathOracle))),
    "fn_regex" -> ((fnRegex _, Some(fnRegexOracle))),
    "fn_hash" -> ((fnHash _, Some(fnHashOracle))),
    "fn_datetime" -> ((fnDatetime _, Some(fnDatetimeOracle))),
    "fn_datebin" -> ((fnDatebin _, Some(fnDatebinOracle))),
    "fn_conditional" -> ((fnConditional _, Some(fnConditionalOracle))),
    "fn_registry" -> ((fnRegistry _, Some(fnRegistryOracle))),
    "fn_nondet" -> ((fnNondet _, None)),
    "gen_explode" -> ((genExplode _, Some(genExplodeOracle))),
    "agg_pivot" -> ((aggPivot _, Some(aggPivotOracle))),
    "agg_unpivot" -> ((aggUnpivot _, Some(aggUnpivotOracle))),
    "join_lateral" -> ((joinLateral _, Some(joinLateralOracle))),
    "fn_collection" -> ((fnCollection _, Some(fnCollectionOracle))),
    "sort_distinct_on" -> ((sortDistinctOn _, Some(sortDistinctOnOracle))),
    "agg_bool" -> ((aggBool _, Some(aggBoolOracle))),
    "agg_stragg" -> ((aggStragg _, Some(aggStraggOracle))),
    "agg_argminmax" -> ((aggArgminmax _, Some(aggArgminmaxOracle))),
    "proj_exclude" -> ((projExclude _, Some(projExcludeOracle))),
    "agg_bitwise" -> ((aggBitwise _, Some(aggBitwiseOracle))),
    "fn_regex2" -> ((fnRegex2 _, Some(fnRegex2Oracle)))
  )
}
