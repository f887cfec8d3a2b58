package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality and layout operators a production 100 TB pipeline runs
  * before and after every ingest: constraint validation (`dq_checks`),
  * table statistics collection (`dq_profile`), deterministic train/val/test
  * splitting (`smp_split`), and Z-order clustering for data skipping
  * (`cls_zorder`). Every check is a single-pass conditional aggregation or
  * a keyed anti-join — nothing here sorts, collects, or all-pairs.
  */
object Quality {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- constraint validation -------------------------------------------------

  /** Expectation-suite scan: null / range / domain checks as ONE conditional
    * aggregation pass per table (count(when(...)) all partial-aggregate
    * map-side), plus a duplicate-PK check (keyed count) and a referential
    * check (left-anti join on the key). Output is one row per check with its
    * violation count — the shape of a DQ dashboard feed. At 100 TB each
    * check family is one linear scan; none of them widens rows or sorts. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_shipdate"))
    val liAgg = li.agg(
      count(lit(1)).as("n_rows"),
      count(when(col("l_shipdate").isNull, true)).as("c_null"),
      count(when(col("l_quantity") < 1 || col("l_quantity") > 50, true)).as("c_qty"),
      count(when(col("l_discount") < 0 || col("l_discount") > 1, true)).as("c_disc"))
    val liChecks = liAgg.select(
      expr("stack(3, 'li_null_shipdate', c_null, 'li_qty_range', c_qty, " +
        "'li_disc_range', c_disc) as (chk, n_bad)"),
      col("n_rows"))

    // n_rows falls out of the same grouped pass (sum of per-key counts) —
    // no second lineitem scan just for the denominator
    val liDup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)), lit(0L))
          .cast(LongType).as("n_bad"),
        sum(col("cnt")).cast(LongType).as("n_rows"))
      .select(lit("li_dup_pk").as("chk"), col("n_bad"), col("n_rows"))

    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val ordAgg = ord.agg(
      count(lit(1)).as("n_rows"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), true)).as("c_status"))
    val ordChecks = ordAgg.select(
      expr("stack(1, 'ord_status_domain', c_status) as (chk, n_bad)"),
      col("n_rows"))

    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    // the denominator reuses ordAgg's subtree — AQE's exchange reuse makes
    // the second reference free instead of a second orders scan
    val fk = ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit("ord_fk_customer").as("chk"), col("n_bad"))
      .crossJoin(ordAgg.select(col("n_rows")))

    liChecks.select(col("chk"), col("n_bad"), col("n_rows"))
      .union(liDup.select(col("chk"), col("n_bad"), col("n_rows")))
      .union(ordChecks.select(col("chk"), col("n_bad"), col("n_rows")))
      .union(fk.select(col("chk"), col("n_bad"), col("n_rows")))
      .orderBy(col("chk"))
  }

  val dqChecksOracle: String =
    """WITH lin AS (SELECT COUNT(*) AS n_rows FROM lineitem),
      |     orn AS (SELECT COUNT(*) AS n_rows FROM orders)
      |SELECT chk, n_bad, n_rows FROM (
      |  SELECT 'li_null_shipdate' AS chk,
      |    (SELECT COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) FROM lineitem) AS n_bad,
      |    (SELECT n_rows FROM lin) AS n_rows
      |  UNION ALL
      |  SELECT 'li_qty_range',
      |    (SELECT COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) FROM lineitem),
      |    (SELECT n_rows FROM lin)
      |  UNION ALL
      |  SELECT 'li_disc_range',
      |    (SELECT COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) FROM lineitem),
      |    (SELECT n_rows FROM lin)
      |  UNION ALL
      |  SELECT 'li_dup_pk',
      |    (SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) FROM (
      |       SELECT COUNT(*) AS cnt FROM lineitem
      |       GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
      |    (SELECT n_rows FROM lin)
      |  UNION ALL
      |  SELECT 'ord_status_domain',
      |    (SELECT COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders),
      |    (SELECT n_rows FROM orn)
      |  UNION ALL
      |  SELECT 'ord_fk_customer',
      |    (SELECT COUNT(*) FROM orders o
      |       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |    (SELECT n_rows FROM orn)
      |) ORDER BY chk""".stripMargin

  // ---- table statistics collection -------------------------------------------

  /** ANALYZE-style column profile: per column, null count, exact distinct
    * count, and min/max rendered to strings for a uniform schema. Each
    * column profiles in its OWN aggregation over a one-column projection —
    * parquet column pruning makes that a single-column scan apiece, and it
    * avoids the multi-countDistinct Expand (one input copy per distinct agg
    * in a shared pass — the 32x superlinear shape agg_approx documents).
    * Doubles profile through a lossless DECIMAL view so min/max strings are
    * engine-independent. */
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def prof(name: String, v: org.apache.spark.sql.Column): DataFrame =
      ord.select(v.as("v")).agg(
        count(when(col("v").isNull, true)).as("n_nulls"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).cast(StringType).as("min_s"),
        max(col("v")).cast(StringType).as("max_s"))
        .select(lit(name).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_s"), col("max_s"))
    prof("o_orderkey", col("o_orderkey"))
      .union(prof("o_custkey", col("o_custkey")))
      .union(prof("o_orderstatus", col("o_orderstatus")))
      .union(prof("o_totalprice", col("o_totalprice").cast(DecimalType(12, 2))))
      .union(prof("o_orderpriority", col("o_orderpriority")))
      .orderBy(col("col_name"))
  }

  val dqProfileOracle: String =
    """SELECT col_name, n_nulls, n_distinct, min_s, max_s FROM (
      |  SELECT 'o_orderkey' AS col_name,
      |    COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
      |    COUNT(DISTINCT o_orderkey) AS n_distinct,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
      |    COUNT(DISTINCT o_custkey),
      |    CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
      |    COUNT(DISTINCT o_orderstatus),
      |    CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
      |    COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2))),
      |    CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR),
      |    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END),
      |    COUNT(DISTINCT o_orderpriority),
      |    CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
      |  FROM orders
      |) ORDER BY col_name""".stripMargin

  // ---- deterministic train/val/test split ------------------------------------

  /** Hash-based dataset split: bucket every document by the first hex char
    * of md5(doc_id) — 0-9a-c train (13/16), d-e val (2/16), f test (1/16).
    * The split is a pure per-row function of the stable id, so it is
    * reproducible run-to-run, stable under repartitioning, and new data
    * lands in the same proportions without reshuffling old assignments —
    * the property random() splits lack. One keyed aggregation for the
    * audit counts; the split itself is shuffle-free. */
  def smpSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        substring(md5(col("doc_id").cast(StringType)), 1, 1).as("h"))
      .withColumn("split",
        when(col("h") < "d", "train")
          .when(col("h") < "f", "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))

  val smpSplitOracle: String =
    """SELECT CASE WHEN h < 'd' THEN 'train' WHEN h < 'f' THEN 'val'
      |            ELSE 'test' END AS split,
      |  lang, COUNT(*) AS n
      |FROM (SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ---- Z-order clustering ----------------------------------------------------

  /** Bits interleaved per dimension in the Z-value (8 → 16-bit Morton code). */
  private val ZBits = 8

  /** Morton/Z-order interleave of two 8-bit key dimensions — the layout
    * trick behind multi-column data skipping: sorting by the interleaved
    * value co-locates rows that are close in BOTH dimensions, so per-file
    * min/max ranges stay tight on each column and a predicate on either one
    * prunes files. The gate groups by the top Z-bits (a "file" stand-in)
    * and reports per-bucket min/max of both dimensions — tight ranges are
    * the evidence the clustering works. The interleave is 32 codegen'd
    * shift/mask terms, per-row, shuffle-free; the bucket stats are one
    * keyed aggregation. */
  def clsZorder(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select((col("user_id") % 256).as("ux"), (col("event_id") % 256).as("ey"))
    val z = (0 until ZBits).flatMap { i =>
      Seq(shiftleft(shiftright(col("ux"), i).bitwiseAND(lit(1L)), 2 * i + 1),
        shiftleft(shiftright(col("ey"), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    e.withColumn("zval", z)
      .groupBy(shiftright(col("zval"), 10).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("min_x"), max(col("ux")).as("max_x"),
        min(col("ey")).as("min_y"), max(col("ey")).as("max_y"))
      .orderBy(col("zbucket"))
  }

  val clsZorderOracle: String = {
    val terms = (0 until ZBits).flatMap { i =>
      Seq(s"(((ux >> $i) & 1) << ${2 * i + 1})", s"(((ey >> $i) & 1) << ${2 * i})")
    }.mkString(" | ")
    s"""SELECT (zval >> 10) AS zbucket, COUNT(*) AS n,
       |  MIN(ux) AS min_x, MAX(ux) AS max_x,
       |  MIN(ey) AS min_y, MAX(ey) AS max_y
       |FROM (
       |  SELECT ux, ey, ($terms) AS zval
       |  FROM (SELECT user_id % 256 AS ux, event_id % 256 AS ey FROM events))
       |GROUP BY 1 ORDER BY zbucket""".stripMargin
  }

  // ---- group top-k via the custom physical operator --------------------------

  /** Top-3 orders by price per priority class through the custom
    * [[graft.plans.TopKPerKey]] operator (bounded per-key heaps both sides
    * of one keyed exchange) rather than a row_number window (full per-key
    * sort after shuffling every row). Prices pass through unmodified — pure
    * selection, so doubles hash-match with no decimal detour. Ties break on
    * o_orderkey so the top-3 set is unique; the outer orderBy is
    * presentation only. */
  def topkGroup(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    graft.operators.TopK.perKey(ord, Seq("o_orderpriority"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val topkGroupOracle: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  // ---- distribution drift ----------------------------------------------------

  /** Distribution-drift detection between dataset versions — the monitoring
    * check ingest pipelines run before promoting a new batch. Baseline =
    * even event ids, candidate = odd (a deterministic stand-in for
    * version N vs N+1). Each event_type's `value` distribution is binned
    * into 10 fixed-width buckets over the baseline's [min, max] (clamped,
    * so outliers land in the edge bins), and drift is scored with the
    * chi-square statistic Σ (o − e)² / e with add-one smoothing — chosen
    * over PSI/KL precisely because it needs NO logarithm: every term is
    * +,−,×,÷ on exact counts, so scores are bit-exact cross-engine (the
    * txt_collocations lift argument again). The 10 per-bin terms are
    * isolated into columns and added in fixed order (the emb_pq summation
    * contract). One pass for per-bin counts (partial-agg), one broadcast
    * of the 5-row baseline stats; nothing sorts or collects. */
  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val stats = e.filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = e.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), (col("event_id") % 2).as("side"),
        least(lit(9L), greatest(lit(0L),
          floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10))))
          .as("bin"))
    val counts = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("base_n"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cur_n"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("base_n")).as("nb"), sum(col("cur_n")).as("nc"))
    val terms = counts.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("bin"),
        // e = smoothed baseline count rescaled to the candidate's mass;
        // identical operation order on both sides keeps doubles bit-exact
        ((col("cur_n") + 1).cast(DoubleType) -
          ((col("base_n") + 1).cast(DoubleType) *
            ((col("nc") + 10).cast(DoubleType) / (col("nb") + 10).cast(DoubleType))))
          .as("diff"),
        ((col("base_n") + 1).cast(DoubleType) *
          ((col("nc") + 10).cast(DoubleType) / (col("nb") + 10).cast(DoubleType)))
          .as("exp"))
    val binCols = (0L until 10L).map(b =>
      sum(when(col("bin") === b, col("diff") * col("diff") / col("exp"))
        .otherwise(0.0)).as(s"t$b"))
    terms.groupBy(col("event_type"))
      .agg(binCols.head, binCols.tail: _*)
      .select(col("event_type"),
        (0 until 10).map(b => col(s"t$b")).reduce(_ + _).as("chi2"))
      .select(col("event_type"), col("chi2"),
        (col("chi2") > 21.67).as("drifted")) // chi2_{0.99, df=9}
      .orderBy(col("event_type"))
  }

  val dqDriftOracle: String =
    """WITH e AS (SELECT event_type, event_id, value FROM events),
      |stats AS (
      |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
      |binned AS (
      |  SELECT e.event_type, e.event_id % 2 AS side,
      |    least(9, greatest(0, CAST(floor((e.value - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT))) AS bin
      |  FROM e JOIN stats s ON e.event_type = s.event_type),
      |counts AS (
      |  SELECT event_type, bin,
      |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS base_n,
      |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cur_n
      |  FROM binned GROUP BY 1, 2),
      |totals AS (
      |  SELECT event_type, SUM(base_n) AS nb, SUM(cur_n) AS nc
      |  FROM counts GROUP BY 1),
      |terms AS (
      |  SELECT c.event_type, c.bin,
      |    (CAST(c.cur_n + 1 AS DOUBLE)
      |      - (CAST(c.base_n + 1 AS DOUBLE)
      |         * (CAST(t.nc + 10 AS DOUBLE) / CAST(t.nb + 10 AS DOUBLE)))) AS diff,
      |    (CAST(c.base_n + 1 AS DOUBLE)
      |      * (CAST(t.nc + 10 AS DOUBLE) / CAST(t.nb + 10 AS DOUBLE))) AS exp
      |  FROM counts c JOIN totals t ON c.event_type = t.event_type),
      |agg AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN bin = 0 THEN diff * diff / exp ELSE 0 END) AS t0,
      |    SUM(CASE WHEN bin = 1 THEN diff * diff / exp ELSE 0 END) AS t1,
      |    SUM(CASE WHEN bin = 2 THEN diff * diff / exp ELSE 0 END) AS t2,
      |    SUM(CASE WHEN bin = 3 THEN diff * diff / exp ELSE 0 END) AS t3,
      |    SUM(CASE WHEN bin = 4 THEN diff * diff / exp ELSE 0 END) AS t4,
      |    SUM(CASE WHEN bin = 5 THEN diff * diff / exp ELSE 0 END) AS t5,
      |    SUM(CASE WHEN bin = 6 THEN diff * diff / exp ELSE 0 END) AS t6,
      |    SUM(CASE WHEN bin = 7 THEN diff * diff / exp ELSE 0 END) AS t7,
      |    SUM(CASE WHEN bin = 8 THEN diff * diff / exp ELSE 0 END) AS t8,
      |    SUM(CASE WHEN bin = 9 THEN diff * diff / exp ELSE 0 END) AS t9
      |  FROM terms GROUP BY 1)
      |SELECT event_type,
      |  (((((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7) + t8) + t9) AS chi2,
      |  (((((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7) + t8) + t9) > 21.67 AS drifted
      |FROM agg
      |ORDER BY event_type""".stripMargin

  // ---- Bloom-filter aggregate -----------------------------------------------

  /** Bits per word (62 keeps every shift below the sign bit, so the word
    * arithmetic is identical two's-complement-free on any engine). */
  private val BloomWordBits = 62
  private val BloomWords = 16
  private val BloomK = 3
  private val BloomM = BloomWordBits * BloomWords
  /** Build-side membership: a deterministic pseudo-random 1-in-7 key subset
    * (hash-selected, so membership is not readable off the key itself and
    * the probe side genuinely exercises both contingency classes). */
  private val BloomSel = 7

  private def bloomPos(j: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.hash64(
      concat(lit(j.toString), lit(":"), c.cast(StringType))) % BloomM

  /** Bloom-filter build + probe as a pure aggregate program — the data-level
    * analog of the parquet row-group Bloom pruning the reference's scan
    * layer leans on: the distinct order-placing customers build a 248-bit
    * k=3 filter (per-word `bit_or` aggregates — mergeable, map-side
    * combinable, constant 4-word state), the filter broadcasts to the probe
    * side, and every customer tests membership with pure bit arithmetic.
    * Output is the 2×2 (actual, bloom_hit) contingency — the no-false-
    * negative guarantee shows up as the missing (true, false) row, and the
    * false-positive count is measured, not estimated. md5-derived positions
    * make the filter bit-identical in any engine, so the gate is a full
    * hash-exact replay (the agg_cms/agg_theta sketch-oracle tier). */
  def aggBloom(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(spark, dir).select(col("o_custkey").as("k")).distinct()
      .filter(graft.functions.TextFunctions.hash64(
        concat(lit("s:"), col("k").cast(StringType))) % BloomSel === 0)
    val bits = keys
      .select(explode(array((0 until BloomK).map(j => bloomPos(j, col("k"))): _*)).as("p"))
      .select(expr(s"p div $BloomWordBits").as("w"),
        expr(s"shiftleft(1L, cast(p % $BloomWordBits as int))").as("b"))
    val filt = bits.agg(
      bit_or(when(col("w") === 0, col("b")).otherwise(0L)).as("w0"),
      (1 until BloomWords).map(i =>
        bit_or(when(col("w") === i, col("b")).otherwise(0L)).as(s"w$i")): _*)
    val cust = Tables.customer(spark, dir).select(col("c_custkey").as("k"))
      .join(keys.withColumn("present", lit(true)), Seq("k"), "left")
      .select(col("k"), coalesce(col("present"), lit(false)).as("actual"))
    val staged = cust.crossJoin(broadcast(filt))
      .select(Seq(col("k"), col("actual")) ++
        (0 until BloomWords).map(i => col(s"w$i")) ++
        (0 until BloomK).map(j => bloomPos(j, col("k")).as(s"p$j")): _*)
    val wordCase = (0 until BloomWords).map(i => s"WHEN $i THEN w$i").mkString(" ")
    val hit = (0 until BloomK).map { j =>
      expr(s"((shiftright(CASE p$j div $BloomWordBits $wordCase ELSE 0L END, " +
        s"cast(p$j % $BloomWordBits as int))) & 1) = 1")
    }.reduce(_ && _)
    staged.select(col("actual"), hit.as("bloom_hit"))
      .groupBy(col("actual"), col("bloom_hit"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("bloom_hit"))
  }

  val aggBloomOracle: String = {
    def pos(j: Int, k: String) =
      s"(('0x' || substr(md5('$j:' || $k::VARCHAR), 1, 15))::BIGINT) % $BloomM"
    val sel = s"(('0x' || substr(md5('s:' || k::VARCHAR), 1, 15))::BIGINT) % $BloomSel = 0"
    val wordCase = (p: String) =>
      s"CASE $p // $BloomWordBits " +
        (0 until BloomWords).map(i => s"WHEN $i THEN w$i").mkString(" ") + " ELSE 0 END"
    val hits = (0 until BloomK)
      .map(j => s"((${wordCase(s"p$j")} >> CAST(p$j % $BloomWordBits AS INT)) & 1) = 1")
      .mkString(" AND ")
    val unions = (0 until BloomK)
      .map(j => s"SELECT ${pos(j, "k")} AS p FROM keys")
      .mkString("\n        UNION ALL ")
    val filtCols = (0 until BloomWords)
      .map(i => s"bit_or(CASE WHEN w = $i THEN b ELSE 0 END) AS w$i")
      .mkString(",\n       |         ")
    val probeWords = (0 until BloomWords).map(i => s"f.w$i").mkString(", ")
    s"""WITH keys AS (
       |  SELECT k FROM (SELECT DISTINCT o_custkey AS k FROM orders) WHERE $sel),
       |bits AS (
       |  SELECT p // $BloomWordBits AS w,
       |    (CAST(1 AS BIGINT) << CAST(p % $BloomWordBits AS INT)) AS b
       |  FROM ($unions)),
       |filt AS (
       |  SELECT $filtCols
       |  FROM bits),
       |probe AS (
       |  SELECT c.c_custkey AS k, kk.k IS NOT NULL AS actual,
       |    ${pos(0, "c.c_custkey")} AS p0, ${pos(1, "c.c_custkey")} AS p1,
       |    ${pos(2, "c.c_custkey")} AS p2, $probeWords
       |  FROM customer c LEFT JOIN keys kk ON c.c_custkey = kk.k CROSS JOIN filt f)
       |SELECT actual, ($hits) AS bloom_hit, CAST(COUNT(*) AS BIGINT) AS n
       |FROM probe GROUP BY 1, 2 ORDER BY actual, bloom_hit""".stripMargin
  }

  // ---- A/B sample-ratio-mismatch check --------------------------------------

  /** Sample-ratio mismatch: the first thing an experimentation pipeline
    * checks before reading any metric — does the deterministic 50/50
    * variant assignment (md5 bucket of user_id) actually hold in the
    * observed population? χ² against the intended split, cleared of the
    * half-integer expectation: Σ(o−N/2)²/(N/2) = ((2n_a−N)² + (2n_b−N)²)
    * / (2N) — exact integers plus ONE IEEE division ⇒ bit-exact. One
    * distinct + one 1-row agg; scalar output. */
  def evtSrm(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.eventsTs(spark, dir).select(col("user_id")).distinct()
      .select((graft.functions.TextFunctions.hash64(
        concat(lit("v:"), col("user_id").cast(StringType))) % 2).as("v"))
    users
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n"), col("n_a"), col("n_b"),
        (((col("n_a") * 2 - col("n")) * (col("n_a") * 2 - col("n")) +
          (col("n_b") * 2 - col("n")) * (col("n_b") * 2 - col("n"))).cast(DoubleType) /
          (col("n") * 2).cast(DoubleType)).as("chi2"))
      .select(col("n"), col("n_a"), col("n_b"), col("chi2"),
        (col("chi2") > 3.841).as("srm"))
  }

  val evtSrmOracle: String =
    """WITH u AS (
      |  SELECT (('0x' || substr(md5('v:' || user_id::VARCHAR), 1, 15))::BIGINT) % 2 AS v
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM u)
      |SELECT n, n_a, n_b,
      |  CAST((n_a * 2 - n) * (n_a * 2 - n) + (n_b * 2 - n) * (n_b * 2 - n) AS DOUBLE)
      |    / CAST(n * 2 AS DOUBLE) AS chi2,
      |  CAST((n_a * 2 - n) * (n_a * 2 - n) + (n_b * 2 - n) * (n_b * 2 - n) AS DOUBLE)
      |    / CAST(n * 2 AS DOUBLE) > 3.841 AS srm
      |FROM a""".stripMargin

  // ---- duplicate-rate dashboard ---------------------------------------------

  /** Per-source exact-duplicate rate — the corpus-health dashboard row
    * every crawl ingest publishes: docs, distinct contents (md5), and the
    * duplicate share as one exact-integer division. A single
    * two-level agg (source × content hash, then source). */
  def dqDupstats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast(BinaryType))).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        ((col("n_docs") - col("n_distinct")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_rate"))
      .orderBy(col("source"))

  val dqDupstatsOracle: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS dup_rate
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- bitmap-index audience intersection -----------------------------------

  /** Bits per bitmap word (below the sign bit, as in agg_bloom). */
  private val BmapBits = 62

  /** Audience-overlap matrix via bitmap indexes: for every event-type pair,
    * how many distinct users did both — computed the way an OLAP bitmap
    * index does it, not with a users×users join: each (type, user-id-word)
    * holds a 62-bit membership word (one `bit_or` agg), the word tables
    * join KEYED ON THE WORD INDEX, and the overlap is Σ bit_count(a & b).
    * Shuffle volume is words (users/62), not users, and the pair join fans
    * out per word, never per user. Deterministic bits ⇒ full hash replay. */
  def aggBitmapAnd(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.eventsTs(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), expr(s"user_id div $BmapBits").as("w"),
        expr(s"shiftleft(1L, cast(user_id % $BmapBits as int))").as("b"))
      .groupBy(col("event_type"), col("w"))
      .agg(bit_or(col("b")).as("bits"))
    words.select(col("event_type").as("type_a"), col("w"), col("bits").as("ba"))
      .join(words.select(col("event_type").as("type_b"), col("w"), col("bits").as("bb")),
        Seq("w"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("bit_count(ba & bb)")).cast(LongType).as("n_both"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val aggBitmapAndOracle: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |words AS (
       |  SELECT event_type, user_id // $BmapBits AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % $BmapBits AS INT)) AS bits
       |  FROM du GROUP BY 1, 2)
       |SELECT a.event_type AS type_a, b.event_type AS type_b,
       |  CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
       |FROM words a JOIN words b ON a.w = b.w AND a.event_type < b.event_type
       |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  // ---- Gini concentration coefficient ---------------------------------------

  /** Gini coefficient of order-value concentration per priority class — the
    * standard inequality/imbalance summary (also used for dataset-balance
    * audits). With values ranked ascending (ties broken by key, so ranks
    * are total), G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx): every sum is an exact
    * decimal from one keyed rank window + one agg, and the final ratio goes
    * through the [[Dsl.splitDouble]] safe cast + one IEEE division ⇒
    * bit-exact. */
  def aggGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = Dsl.dec(col("o_totalprice"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("x"), col("o_orderkey"))
    val ranked = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), x.as("x"))
      .withColumn("i", row_number().over(w).cast(LongType))
    val sums = ranked.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(20, 2)).as("sx"),
        sum((col("i").cast(DecimalType(12, 0)) * col("x")).cast(DecimalType(26, 2)))
          .cast(DecimalType(30, 2)).as("six"))
    sums.select(col("o_orderpriority"), col("n"),
        Dsl.splitDouble(col("six") * 2 - (col("n").cast(DecimalType(12, 0)) + 1) * col("sx"), 2).as("num"),
        Dsl.splitDouble(col("n").cast(DecimalType(12, 0)) * col("sx"), 2).as("den"))
      .select(col("o_orderpriority"), col("n"), (col("num") / col("den")).as("gini"))
      .orderBy(col("o_orderpriority"))
  }

  val aggGiniOracle: String = {
    val num = Dsl.sql.splitDouble("six * 2 - (CAST(n AS DECIMAL(12,0)) + 1) * sx", 2)
    val den = Dsl.sql.splitDouble("CAST(n AS DECIMAL(12,0)) * sx", 2)
    s"""WITH ranked AS (
       |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2)) AS x,
       |    CAST(row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey) AS BIGINT) AS i
       |  FROM orders),
       |sums AS (
       |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS DECIMAL(20,2)) AS sx,
       |    CAST(SUM(CAST(CAST(i AS DECIMAL(12,0)) * x AS DECIMAL(26,2)))
       |      AS DECIMAL(30,2)) AS six
       |  FROM ranked GROUP BY o_orderpriority)
       |SELECT o_orderpriority, n, $num / $den AS gini
       |FROM sums ORDER BY o_orderpriority""".stripMargin
  }

  // ---- higher central moments (skewness / kurtosis) -------------------------

  /** Population skewness g1 and excess kurtosis g2 per event_type — the
    * distribution-shape completion of agg_varstd. Spark's built-in
    * skewness()/kurtosis() sum raw doubles (order-dependent, not
    * gate-safe); here the four power sums are EXACT decimals in one
    * map-side pass, then the central-moment algebra runs as an identical
    * staged IEEE sequence on both engines (each stage a named column /
    * CTE so association is pinned) ⇒ bit-exact. */
  def aggMoments(spark: SparkSession, dir: String): DataFrame = {
    val x = Dsl.dec(col("value"))
    val d = DoubleType
    val sums = Tables.eventsTs(spark, dir)
      .select(col("event_type"), x.as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(16, 2)).as("s1"),
        sum((col("x") * col("x")).cast(DecimalType(18, 4))).cast(DecimalType(22, 4)).as("s2"),
        sum((col("x") * col("x") * col("x")).cast(DecimalType(24, 6)))
          .cast(DecimalType(28, 6)).as("s3"),
        // x⁴ must be staged as (x²)² — a four-way product's precision
        // (12+12+12+12+3 > 38) trips Spark's precision-loss rounding on the
        // 8th decimal; (18,4)×(18,4) stays inside DECIMAL(37,8) and is exact
        sum(((col("x") * col("x")).cast(DecimalType(18, 4)) *
             (col("x") * col("x")).cast(DecimalType(18, 4))).cast(DecimalType(30, 8)))
          .cast(DecimalType(34, 8)).as("s4"))
    // DECIMAL→DOUBLE diverges across engines for int128-backed decimals
    // (see the verify recipe); split into floor-BIGINT + scaled-frac-BIGINT,
    // whose double conversions are correctly rounded everywhere, and
    // reassemble with the same two IEEE ops on both sides
    def d2(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column = {
      val pow = math.pow(10, scale)
      floor(c).cast(LongType).cast(d) +
        ((c % 1) * pow.toLong).cast(LongType).cast(d) / lit(pow)
    }
    val staged = sums.select(col("event_type"), col("n"),
        col("n").cast(d).as("nd"), d2(col("s1"), 2).as("s1d"),
        d2(col("s2"), 4).as("s2d"), d2(col("s3"), 6).as("s3d"),
        d2(col("s4"), 8).as("s4d"))
      .select(col("event_type"), col("n"),
        (col("s1d") / col("nd")).as("mu"),
        (col("s2d") / col("nd")).as("r2"),
        (col("s3d") / col("nd")).as("r3"),
        (col("s4d") / col("nd")).as("r4"))
      .select(col("event_type"), col("n"), col("mu"), col("r2"), col("r3"), col("r4"),
        (col("r2") - col("mu") * col("mu")).as("m2"))
    // a zero-variance group (single row, or every value identical) has no
    // shape moments — NULL, not an ANSI divide-by-zero killing the job
    staged.select(col("event_type"), col("n"),
        when(col("m2") > 0,
          (col("r3") - lit(3.0) * col("mu") * col("r2") +
            lit(2.0) * col("mu") * col("mu") * col("mu")) /
            (col("m2") * sqrt(col("m2")))).as("skewness"),
        when(col("m2") > 0,
          (col("r4") - lit(4.0) * col("mu") * col("r3") +
            lit(6.0) * col("mu") * col("mu") * col("r2") -
            lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")) /
            (col("m2") * col("m2")) - lit(3.0)).as("kurtosis"))
      .orderBy(col("event_type"))
  }

  val aggMomentsOracle: String =
    """WITH powers AS (
      |  SELECT event_type, x, x2, CAST(x2 * x AS DECIMAL(24,6)) AS x3,
      |    CAST(x2 * x2 AS DECIMAL(30,8)) AS x4
      |  FROM (
    SELECT event_type, CAST(value AS DECIMAL(12,2)) AS x,
      |      CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
      |        AS DECIMAL(19,4)) AS x2
      |    FROM events)),
      |sums AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS DECIMAL(16,2)) AS s1,
      |    CAST(SUM(x2) AS DECIMAL(22,4)) AS s2,
      |    CAST(SUM(x3) AS DECIMAL(28,6)) AS s3,
      |    CAST(SUM(x4) AS DECIMAL(34,8)) AS s4
      |  FROM powers GROUP BY event_type),
      |casted AS (
      |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(floor(s1) AS BIGINT) AS DOUBLE) +
      |      CAST(CAST(CAST(s1 % 1 AS DECIMAL(10,2)) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS s1d,
      |    CAST(CAST(floor(s2) AS BIGINT) AS DOUBLE) +
      |      CAST(CAST(CAST(s2 % 1 AS DECIMAL(10,4)) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS s2d,
      |    CAST(CAST(floor(s3) AS BIGINT) AS DOUBLE) +
      |      CAST(CAST(CAST(s3 % 1 AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS s3d,
      |    CAST(CAST(floor(s4) AS BIGINT) AS DOUBLE) +
      |      CAST(CAST(CAST(s4 % 1 AS DECIMAL(12,8)) * 100000000 AS BIGINT) AS DOUBLE) / 100000000.0 AS s4d
      |  FROM sums),
      |ratios AS (
      |  SELECT event_type, n, s1d / nd AS mu, s2d / nd AS r2, s3d / nd AS r3,
      |    s4d / nd AS r4
      |  FROM casted),
      |staged AS (
      |  SELECT event_type, n, mu, r2, r3, r4, r2 - mu * mu AS m2 FROM ratios)
      |SELECT event_type, n,
      |  (r3 - CAST(3.0 AS DOUBLE) * mu * r2 + CAST(2.0 AS DOUBLE) * mu * mu * mu) /
      |    (m2 * sqrt(m2)) AS skewness,
      |  (r4 - CAST(4.0 AS DOUBLE) * mu * r3 + CAST(6.0 AS DOUBLE) * mu * mu * r2 -
      |   CAST(3.0 AS DOUBLE) * mu * mu * mu * mu) / (m2 * m2) - CAST(3.0 AS DOUBLE)
      |    AS kurtosis
      |FROM staged ORDER BY event_type""".stripMargin

  // ---- Welch's unequal-variance t-test --------------------------------------

  /** Per-segment mean-shift significance: Welch's t statistic for each
    * event_type's value distribution against the rest of the stream — the
    * A/B-test primitive run after every pipeline change.
    *
    * Determinism: n/Σx/Σx² are exact integers/decimals (one
    * map-side-combined pass; the 1-row grand total broadcasts back, rest =
    * total − segment is exact decimal subtraction). Only then does the
    * statistic move to doubles, through a FIXED operation sequence —
    * decimal→double casts and IEEE ÷, ×, √ are all correctly rounded, so
    * both engines produce bit-identical t values with no epsilon anywhere.
    * No global sort; 5-row output. */
  def aggTtest(spark: SparkSession, dir: String): DataFrame = {
    val x = Dsl.dec(col("value"))
    val seg = Tables.eventsTs(spark, dir)
      .select(col("event_type"), x.as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n1"),
        sum(col("x")).cast(DecimalType(16, 2)).as("s1"),
        sum((col("x") * col("x")).cast(DecimalType(20, 4)))
          .cast(DecimalType(22, 4)).as("q1"))
    val tot = seg.agg(sum(col("n1")).as("nt"),
      sum(col("s1")).cast(DecimalType(18, 2)).as("st"),
      sum(col("q1")).cast(DecimalType(24, 4)).as("qt"))
    val d = DoubleType
    val withRest = seg.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n1"),
        col("n1").cast(d).as("n1d"), col("s1").cast(d).as("s1d"), col("q1").cast(d).as("q1d"),
        (col("nt") - col("n1")).cast(d).as("n2d"),
        (col("st") - col("s1")).cast(d).as("s2d"),
        (col("qt") - col("q1")).cast(d).as("q2d"))
    // Welch needs >= 2 samples on BOTH sides and a positive pooled
    // standard error; a single-row segment (or one whose complement is
    // empty / zero-variance) yields NULL instead of an ANSI divide-by-zero
    withRest
      .select(col("event_type"), col("n1"), col("n1d"), col("s1d"), col("n2d"), col("s2d"),
        when(col("n1d") > 1 && col("n2d") > 1,
          ((col("q1d") - (col("s1d") * col("s1d")) / col("n1d")) / (col("n1d") - 1)) / col("n1d") +
            ((col("q2d") - (col("s2d") * col("s2d")) / col("n2d")) / (col("n2d") - 1)) / col("n2d"))
          .as("se2"))
      .select(col("event_type"), col("n1").as("n"),
        when(col("se2") > 0,
          (col("s1d") / col("n1d") - col("s2d") / col("n2d")) / sqrt(col("se2")))
          .as("t_stat"))
      .orderBy(col("event_type"))
  }

  val aggTtestOracle: String =
    """WITH seg AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(16,2)) AS s1,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
      |      AS DECIMAL(20,4))) AS DECIMAL(22,4)) AS q1
      |  FROM events GROUP BY event_type),
      |tot AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS nt,
      |    CAST(SUM(s1) AS DECIMAL(18,2)) AS st,
      |    CAST(SUM(q1) AS DECIMAL(24,4)) AS qt
      |  FROM seg),
      |w AS (
      |  SELECT event_type, n1,
      |    CAST(n1 AS DOUBLE) AS n1d, CAST(s1 AS DOUBLE) AS s1d, CAST(q1 AS DOUBLE) AS q1d,
      |    CAST(nt - n1 AS DOUBLE) AS n2d,
      |    CAST(st - s1 AS DOUBLE) AS s2d,
      |    CAST(qt - q1 AS DOUBLE) AS q2d
      |  FROM seg CROSS JOIN tot)
      |SELECT event_type, n1 AS n,
      |  ((s1d / n1d - s2d / n2d) /
      |   sqrt(((q1d - (s1d * s1d) / n1d) / (n1d - 1)) / n1d +
      |        ((q2d - (s2d * s2d) / n2d) / (n2d - 1)) / n2d)) AS t_stat
      |FROM w ORDER BY event_type""".stripMargin

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "agg_bloom" -> ((aggBloom _, Some(aggBloomOracle))),
    "evt_srm" -> ((evtSrm _, Some(evtSrmOracle))),
    "agg_moments" -> ((aggMoments _, Some(aggMomentsOracle))),
    "agg_gini" -> ((aggGini _, Some(aggGiniOracle))),
    "agg_bitmap_and" -> ((aggBitmapAnd _, Some(aggBitmapAndOracle))),
    "dq_dupstats" -> ((dqDupstats _, Some(dqDupstatsOracle))),
    "agg_ttest" -> ((aggTtest _, Some(aggTtestOracle))),
    "dq_checks" -> ((dqChecks _, Some(dqChecksOracle))),
    "dq_profile" -> ((dqProfile _, Some(dqProfileOracle))),
    "dq_drift" -> ((dqDrift _, Some(dqDriftOracle))),
    "smp_split" -> ((smpSplit _, Some(smpSplitOracle))),
    "cls_zorder" -> ((clsZorder _, Some(clsZorderOracle))),
    "topk_group" -> ((topkGroup _, Some(topkGroupOracle)))
  )
}
