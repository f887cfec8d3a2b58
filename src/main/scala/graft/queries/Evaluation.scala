package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-evaluation and distribution-comparison statistics — the metrics a
  * training-data pipeline computes after scoring/filtering: exact ROC AUC
  * for a quality classifier, two-sample Kolmogorov–Smirnov drift between
  * cohorts, and autocorrelation of a business time series. Plus the XML
  * source round-trip (Spark 4's built-in xml datasource).
  *
  * Numeric strategy (see [[Dsl]]): every statistic is assembled from
  * integer/decimal(38,0) sums — rank sums, ECDF cross-products, n-scaled
  * deviation products — and only cast to DOUBLE at the very end, where
  * scale-0 decimal→double is correctly rounded in both Spark (BigDecimal)
  * and DuckDB (HUGEINT), so the final IEEE arithmetic tree is bit-identical
  * across engines at any partitioning, i.e. at any scale.
  */
object Evaluation {

  type QueryFn = (SparkSession, String) => DataFrame

  private val dec38 = DecimalType(38, 0)

  // ---- exact ROC AUC (tie-corrected rank-sum / Mann–Whitney U) -------------

  /** Exact ROC AUC of "document length predicts lang='en'", computed as the
    * tie-corrected Mann–Whitney statistic: group rows by distinct score
    * (one keyed shuffle, output cardinality = #distinct scores, not #rows),
    * then over the score-sorted group table accumulate
    * 2U = Σ_s n_pos(s)·(2·cum_neg(<s) + n_neg(s)), AUC = 2U / (2·P·N).
    * The only unpartitioned window runs over the distinct-score table —
    * bounded by the value domain, independent of corpus row count — which
    * is also why this beats the textbook per-row rank window (that one
    * sorts all N rows in a single partition). 2U is summed in
    * DECIMAL(38,0)/HUGEINT so P·N past int64 (≳3·10⁹ rows per class)
    * cannot overflow. Reference analogue: the eval stage of a quality
    * classifier (SURVEY §6 pipeline tier); AUC itself is standard
    * (Hanley–McNeil 1982).
    */
  /** The AUC core over any (sc: numeric score, pos: boolean) table —
    * EvalLawsSpec pins it against brute-force concordant/tied pair counting
    * on random tie-heavy corpora. A single-class input (P·N = 0) yields a
    * NULL auc instead of an ANSI DIVIDE_BY_ZERO killing the job (the
    * degreeAssortativity / normsPositive degenerate-input contract — a
    * 100-TB corpus slice CAN be all one label). */
  private[graft] def aucCore(scored: DataFrame): DataFrame = {
    val g = scored
      .groupBy(col("sc"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
    val w = Window.orderBy(col("sc")).rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cnb", coalesce(sum(col("n_neg")).over(w), lit(0L)))
      .agg(sum(col("n_pos")).as("pos_n"), sum(col("n_neg")).as("neg_n"),
        sum(col("n_pos").cast(dec38) *
          (col("cnb") * 2 + col("n_neg")).cast(dec38)).as("u2"))
      .select(col("pos_n"), col("neg_n"),
        when(col("pos_n") > 0 && col("neg_n") > 0,
          col("u2").cast(DoubleType) /
            (lit(2.0) * col("pos_n").cast(DoubleType) * col("neg_n").cast(DoubleType)))
          .as("auc"))
  }

  def clsAuc(spark: SparkSession, dir: String): DataFrame =
    aucCore(Tables.documents(spark, dir)
      .select(col("n_chars").as("sc"), (col("lang") === "en").as("pos")))

  val clsAucOracle: String =
    """WITH g AS (
      |  SELECT n_chars AS sc,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_pos,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_neg
      |  FROM documents GROUP BY n_chars),
      |c AS (
      |  SELECT n_pos, n_neg,
      |    COALESCE(SUM(n_neg) OVER
      |      (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
      |  FROM g)
      |SELECT CAST(SUM(n_pos) AS BIGINT) AS pos_n,
      |  CAST(SUM(n_neg) AS BIGINT) AS neg_n,
      |  CAST(SUM(CAST(n_pos AS HUGEINT) * CAST(2 * cnb + n_neg AS HUGEINT)) AS DOUBLE)
      |    / (2.0 * CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE)) AS auc
      |FROM c""".stripMargin

  // ---- two-sample Kolmogorov–Smirnov drift ---------------------------------

  /** Two-sample KS statistic between the length distributions of the even-
    * and odd-doc_id cohorts (the drift check `dq_drift`'s chi-square can't
    * do for continuous/ordinal values). Same shape as [[clsAuc]]: one keyed
    * agg to per-value cohort counts, a running-sum window over the distinct
    * values, then D = max_v |cumA(v)·nB − cumB(v)·nA| / (nA·nB) kept as an
    * integer numerator until the final cast — no float ECDF division, so
    * the argmax (`ks_at`, smallest value attaining D) is exact too. The
    * two global totals ride the same window (full-frame), so one pass.
    */
  /** The two-sample KS core over any (v: numeric value, in_a: boolean)
    * table — EvalLawsSpec pins it against a sequential exact-rational ECDF
    * sup reference. A single-cohort input (nA·nB = 0) yields a NULL ks
    * instead of an ANSI DIVIDE_BY_ZERO (same degenerate-input contract as
    * [[aucCore]]); ks_at is NULL with it (no ECDF gap exists). */
  private[graft] def ksCore(vals: DataFrame): DataFrame = {
    val g = vals
      .groupBy(col("v"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca0"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cb0"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = g
      .withColumn("ca", sum(col("ca0")).over(run))
      .withColumn("cb", sum(col("cb0")).over(run))
      .withColumn("na", sum(col("ca0")).over(all))
      .withColumn("nb", sum(col("cb0")).over(all))
      .withColumn("diff",
        abs(col("ca").cast(dec38) * col("nb").cast(dec38) -
          col("cb").cast(dec38) * col("na").cast(dec38)))
    c.withColumn("md", max(col("diff")).over(all))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("diff")).as("mdx"),
        min(when(col("diff") === col("md"), col("v"))).as("ks_at0"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("ks_at0")).as("ks_at"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("mdx").cast(DoubleType) /
            (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))).as("ks"))
  }

  def dqKs(spark: SparkSession, dir: String): DataFrame =
    ksCore(Tables.documents(spark, dir)
      .select(col("n_chars").as("v"), (col("doc_id") % 2 === 0).as("in_a")))

  val dqKsOracle: String =
    """WITH g AS (
      |  SELECT n_chars AS v,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca0,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb0
      |  FROM documents GROUP BY n_chars),
      |c AS (
      |  SELECT v,
      |    SUM(ca0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
      |    SUM(cb0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
      |    SUM(ca0) OVER () AS na, SUM(cb0) OVER () AS nb
      |  FROM g),
      |dd AS (
      |  SELECT v, na, nb,
      |    abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na) AS diff
      |  FROM c),
      |m AS (SELECT MAX(diff) AS md FROM dd)
      |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  CAST(MIN(CASE WHEN diff = (SELECT md FROM m) THEN v END) AS BIGINT) AS ks_at,
      |  CAST(MAX(diff) AS DOUBLE)
      |    / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) AS ks
      |FROM dd""".stripMargin

  // ---- autocorrelation of a daily series -----------------------------------

  /** Lag-1..7 autocorrelation of daily order revenue, integer-exact:
    * revenue is aggregated per day in whole cents (one keyed shuffle; the
    * resulting series has #days rows — bounded by the calendar, independent
    * of order count), deviations are n-scaled (n·x_t − S, eliminating the
    * rational mean), and r_k = Σ(n·x_t − S)(n·x_{t+k} − S) / Σ(n·x_t − S)²
    * is accumulated in DECIMAL(38,0)/HUGEINT. All 7 lags ride one window
    * pass (lead(dev, k) over the day-ordered series) and one aggregate.
    * Headroom: |n·x| ≤ 10⁴ days · 10¹² cents/day keeps Σdev² < 10³⁸.
    */
  def evtAcf(spark: SparkSession, dir: String): DataFrame = {
    val lags = 1 to 7
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((Dsl.dec(col("o_totalprice"), 14, 2) * 100).cast(LongType)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val w = Window.orderBy(col("day"))
    val dev = daily.crossJoin(broadcast(tot))
      .withColumn("dev", (col("n") * col("x") - col("s")).cast(dec38))
    val led = lags.foldLeft(dev) { (df, k) =>
      df.withColumn(s"d$k", lead(col("dev"), k).over(w))
    }
    val aggd = led.agg(
      sum(col("dev") * col("dev")).cast(DoubleType).as("den"),
      lags.map(k => sum(col("dev") * col(s"d$k")).cast(DoubleType).as(s"n$k")): _*)
    val stacked = lags
      .map(k => s"CAST($k AS BIGINT), n$k / den")
      .mkString(s"stack(${lags.length}, ", ", ", ") AS (lag, acf)")
    aggd.selectExpr(stacked).orderBy(col("lag"))
  }

  val evtAcfOracle: String = {
    val lags = 1 to 7
    val leads = lags.map(k => s"lead(dev, $k) OVER (ORDER BY day) AS d$k").mkString(", ")
    val sums = lags.map(k => s"SUM(dev * d$k) AS n$k").mkString(", ")
    val rows = lags.map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, CAST(n$k AS DOUBLE) / CAST(den AS DOUBLE) AS acf FROM a")
      .mkString("\n UNION ALL ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS x
       |  FROM orders GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
       |v AS (SELECT day, CAST(n * x - s AS HUGEINT) AS dev FROM daily, t),
       |l AS (SELECT dev, $leads FROM v),
       |a AS (SELECT SUM(dev * dev) AS den, $sums FROM l)
       |$rows
       |ORDER BY lag""".stripMargin
  }

  // ---- XML source round-trip (Spark 4 built-in xml datasource) -------------

  /** XML round-trip: write the nation table with Spark 4's built-in `xml`
    * datasource, read it back with the explicit schema (rowTag `nation`),
    * and aggregate. The oracle recomputes the aggregate from the parquet
    * original, so the gate proves value preservation, not just parsing —
    * same contract as the csv/json/orc/avro round-trips here. Reference
    * analogue: the pluggable-format surface of read_* in
    * client/src/context.rs:196-231 (XML itself is beyond the reference's
    * format list — a Spark-native widening).
    */
  def srcXml(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val p = SourcesDdl.tmpPath("src_xml")
    nation.write.mode("overwrite").option("rowTag", "nation").xml(p)
    spark.read.option("rowTag", "nation").schema(nation.schema).xml(p)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        sum(length(col("n_name"))).as("name_chars"))
      .orderBy(col("n_regionkey"))
  }

  val srcXmlOracle: String =
    """SELECT n_regionkey, COUNT(*) AS n_nations,
      |  CAST(SUM(length(n_name)) AS BIGINT) AS name_chars
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  // ---- SQL-standard percentile_disc --------------------------------------

  /** `PERCENTILE_DISC(p) WITHIN GROUP` quartiles per order priority — the
    * discrete (non-interpolating) percentile both engines define SQL-
    * standard (smallest value whose cume_dist ≥ p), so the result is an
    * actual input value and the gate is float-exact with zero arithmetic.
    * Complements `agg_median` (continuous) and `agg_kll` (sketch). */
  def aggPdisc(spark: SparkSession, dir: String): DataFrame =
    // Round 15 (guide §2.5): percentile_disc's partial state buffers every
    // value (no map-side reduction — 3 aggs ≈ 3 copies of the column), so on
    // a single-split scan the whole buffer build ran as one 0.48 s task.
    // The spread parallelizes it; the shuffled bytes are the same rows the
    // partial buffers already carried.
    graft.operators.Spread(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("p75"))
      .orderBy(col("o_orderpriority"))

  val aggPdiscOracle: String =
    """SELECT o_orderpriority,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- effective sample size of importance weights -------------------------

  /** Kish effective sample size of per-document importance weights (n_chars
    * stands in for the DSIR-style weight column `cur_dsir` produces):
    * ESS = (Σw)² / Σw², the standard diagnostic for how degenerate a
    * weighted sample is before resampling. Pure keyed agg — both moments
    * ride one map-side-combined pass; DECIMAL(38,0)/HUGEINT keeps (Σw)²
    * exact far past int64 (Σw ≤ 10¹⁹ before the square would clip). */
  /** The Kish effective-sample-size core over any (source, w) weight table
    * — EvalLawsSpec pins it against the direct (Σw)²/Σw² formula. A stratum
    * whose weights are ALL zero has Σw² = 0: NULL ess instead of an ANSI
    * DIVIDE_BY_ZERO (at 100 TB an all-empty-document source slice exists). */
  private[graft] def essCore(weights: DataFrame): DataFrame =
    weights
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast(dec38)).as("sw"),
        sum(col("w").cast(dec38) * col("w").cast(dec38)).as("sw2"))
      .select(col("source"), col("n"),
        when(col("sw2") > 0,
          (col("sw") * col("sw")).cast(DoubleType) / col("sw2").cast(DoubleType))
          .as("ess"),
        when(col("sw2") > 0,
          (col("sw") * col("sw")).cast(DoubleType) / col("sw2").cast(DoubleType) /
            col("n").cast(DoubleType)).as("ess_ratio"))

  def smpEss(spark: SparkSession, dir: String): DataFrame =
    essCore(Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("w")))
      .orderBy(col("source"))

  val smpEssOracle: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS HUGEINT) AS sw,
      |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sw2
      |  FROM documents GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE) AS ess,
      |  CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE) / CAST(n AS DOUBLE) AS ess_ratio
      |FROM s ORDER BY source""".stripMargin

  // ---- Benford first-digit screen ------------------------------------------

  /** Benford's-law first-digit screen over order amounts — the standard
    * fabricated-data / unit-mixing check for numeric columns. Digits are
    * taken from the cents integer's string form (no float log10 in the
    * grouping path); expected proportions log10(1+1/d) are plan-time Scala
    * literals embedded identically in the oracle SQL, so the χ² terms are
    * the same IEEE tree on both engines. One keyed agg over 9 groups; the
    * digit dimension is a 9-row VALUES join so digits with zero support
    * still appear. */
  def dqBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probs = (1 to 9).map(d => (d.toLong, math.log10(1.0 + 1.0 / d)))
    val dim = probs.toDF("digit", "p_exp")
    val obs = Tables.orders(spark, dir)
      .select(substring((Dsl.dec(col("o_totalprice"), 14, 2) * 100)
        .cast(LongType).cast(StringType), 1, 1).cast(LongType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    broadcast(dim).join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"), col("p_exp"),
        ((coalesce(col("n_obs"), lit(0L)).cast(DoubleType) -
          col("n").cast(DoubleType) * col("p_exp")) *
          (coalesce(col("n_obs"), lit(0L)).cast(DoubleType) -
            col("n").cast(DoubleType) * col("p_exp")) /
          (col("n").cast(DoubleType) * col("p_exp"))).as("chi2_term"))
      .orderBy(col("digit"))
  }

  val dqBenfordOracle: String = {
    val rows = (1 to 9)
      // %.17e (not %.17g): an exponent makes DuckDB type the literal DOUBLE
      // directly — a plain decimal literal becomes DECIMAL(17,17) first and
      // the DECIMAL→DOUBLE conversion can land 1 ulp off the JVM double.
      .map(d => s"($d, ${String.format(java.util.Locale.ROOT, "%.17e", Double.box(math.log10(1.0 + 1.0 / d)))})")
      .mkString(", ")
    s"""WITH dim(digit, p_exp) AS (VALUES $rows),
       |obs AS (
       |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
       |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    COUNT(*) AS n_obs
       |  FROM orders GROUP BY 1),
       |t AS (SELECT SUM(n_obs) AS n FROM obs)
       |SELECT CAST(dim.digit AS BIGINT) AS digit,
       |  CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs, dim.p_exp,
       |  (CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) - CAST(t.n AS DOUBLE) * dim.p_exp)
       |    * (CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) - CAST(t.n AS DOUBLE) * dim.p_exp)
       |    / (CAST(t.n AS DOUBLE) * dim.p_exp) AS chi2_term
       |FROM dim LEFT JOIN obs ON dim.digit = obs.digit, t
       |ORDER BY digit""".stripMargin
  }

  // ---- per-document token entropy ------------------------------------------

  /** Per-document Shannon entropy of the token distribution,
    * H = ln(n) − (Σ c·ln c)/n — the information-density companion to
    * `txt_diversity`'s Gini (a doc repeating one token scores 0; all-unique
    * scores ln n). Token counts come from one (doc_id, token) keyed agg;
    * the per-doc fold runs over the token-sorted count array, so the float
    * sum has ONE defined order on both engines (Spark `aggregate` over
    * `sort_array`, DuckDB `list_reduce` over `list(... ORDER BY tok)` —
    * the lmscore recipe; ln is rounded to 9 decimals to absorb libm-vs-JVM
    * ulp drift). Per-doc arrays are bounded by document vocabulary, never
    * by corpus size. */
  def txtEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
    toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sort_array(collect_list(struct(col("tok"), col("c").cast(DoubleType).as("cd"))))
          .as("cs0"))
      .select(col("doc_id"), col("n"),
        (round(log(col("n").cast(DoubleType)), 9) -
          aggregate(transform(col("cs0"), s => s.getField("cd")), lit(0.0),
            (acc, x) => acc + x * round(log(x), 9)) / col("n").cast(DoubleType))
          .as("entropy"))
      .withColumnRenamed("n", "n_tokens")
      .orderBy(col("doc_id"))
  }

  val txtEntropyOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = TextFunctions.sql.tokens("norm")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest($toks) AS tok
       |  FROM (SELECT doc_id, $norm AS norm FROM documents)),
       |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok),
       |n AS (
       |  SELECT doc_id, SUM(c) AS n,
       |    list(CAST(c AS DOUBLE) ORDER BY tok) AS cs
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  round(ln(CAST(n AS DOUBLE)), 9) -
       |    list_reduce(list_prepend(0.0, list_transform(cs, x -> x * round(ln(x), 9))),
       |      (a, b) -> a + b) / CAST(n AS DOUBLE) AS entropy
       |FROM n ORDER BY doc_id""".stripMargin
  }

  // ---- Zipf slope of the token frequency distribution ----------------------

  /** Zipf's-law fit of the corpus token distribution: regress ln(freq) on
    * ln(rank) and report slope/intercept/r² (natural corpora slope ≈ −1;
    * synthetic or templated text drifts off — a standard corpus-quality
    * diagnostic). Determinism: ln values are rounded to 9 decimals and
    * fixed-pointed to integers (×10⁹, floor(x+0.5) — Spark's double→long
    * cast truncates while DuckDB's rounds, so the explicit floor is the
    * only portable path), then all five regression moments are exact
    * DECIMAL(38,0)/HUGEINT sums — order-free, so partitioning and scale
    * can't move the hash. Rank ties break on the token string, making the
    * rank assignment itself deterministic. The rank window runs over the
    * distinct-token table (vocab-bounded, not corpus-bounded). */
  def txtZipf(spark: SparkSession, dir: String): DataFrame =
    zipfCore(Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok")))

  /** The Zipf-regression core over any single-column (tok) token table —
    * EvalLawsSpec pins it against a sequential fixed-point regression.
    * Zero-variance degenerate corpora — a single-token vocabulary (x
    * constant) or a perfectly uniform one (every count equal: y constant,
    * the exact-dedup hapax shape) — yield NULL slope/r² instead of an ANSI
    * DIVIDE_BY_ZERO. */
  private[graft] def zipfCore(toks: DataFrame): DataFrame = {
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("tok"))))
    def fix9(c: Column): Column =
      floor(round(log(c.cast(DoubleType)), 9) * 1e9 + 0.5).cast(LongType).cast(dec38)
    val m = ranked
      .select(fix9(col("r")).as("x"), fix9(col("c")).as("y"))
      .agg(count(lit(1)).as("nv"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val num = (col("nv").cast(dec38) * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
    val denX = (col("nv").cast(dec38) * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    val denY = (col("nv").cast(dec38) * col("syy") - col("sy") * col("sy")).cast(DoubleType)
    m.select(col("nv").as("n_vocab"),
        when(denX =!= 0.0, num / denX).as("slope"),
        when(denX =!= 0.0 && denY =!= 0.0, num / denX * num / denY).as("r2"))
  }

  val txtZipfOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = TextFunctions.sql.tokens("norm")
    def fix9(c: String) =
      s"CAST(floor(round(ln(CAST($c AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT)"
    s"""WITH tk AS (
       |  SELECT unnest($toks) AS tok
       |  FROM (SELECT $norm AS norm FROM documents)),
       |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
       |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM cnt),
       |f AS (SELECT CAST(${fix9("r")} AS HUGEINT) AS x,
       |             CAST(${fix9("c")} AS HUGEINT) AS y FROM rk),
       |m AS (SELECT COUNT(*) AS nv, SUM(x) AS sx, SUM(y) AS sy,
       |  SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy FROM f)
       |SELECT CAST(nv AS BIGINT) AS n_vocab,
       |  CAST(nv*sxy - sx*sy AS DOUBLE) / CAST(nv*sxx - sx*sx AS DOUBLE) AS slope,
       |  CAST(nv*sxy - sx*sy AS DOUBLE) / CAST(nv*sxx - sx*sx AS DOUBLE)
       |    * CAST(nv*sxy - sx*sy AS DOUBLE) / CAST(nv*syy - sy*sy AS DOUBLE) AS r2
       |FROM m""".stripMargin
  }

  // ---- population stability index drift ------------------------------------

  /** PSI between the even/odd-doc_id cohorts' length distributions over 10
    * equi-width bins — the binned-drift companion to [[dqKs]] (PSI is the
    * score-drift metric model-monitoring stacks report). Bin edges come
    * from broadcast global min/max in pure integer arithmetic; each bin's
    * term (pA − pB)·ln(pA/pB) uses exact-integer cross products inside the
    * ln (a·nB / b·nA — int→double is exact to 2⁵³ and correctly rounded
    * past it in both engines) with the lmscore round(ln, 9) guard. Per-bin
    * rows only — no cross-bin float total, so nothing order-dependent. */
  def dqPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ext = docs.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val binned = docs.crossJoin(broadcast(ext))
      .select(least(lit(9L), expr("((n_chars - lo) * 10) div (hi - lo + 1)")).as("bin"),
        (col("doc_id") % 2 === 0).as("a"))
      .groupBy(col("bin"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("a"), 0L).otherwise(1L)).as("nb"))
    val tots = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("ta", sum(col("na")).over(tots))
      .withColumn("tb", sum(col("nb")).over(tots))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("bin"), col("na"), col("nb"),
        ((col("na").cast(DoubleType) / col("ta").cast(DoubleType) -
          col("nb").cast(DoubleType) / col("tb").cast(DoubleType)) *
          round(log((col("na") * col("tb")).cast(DoubleType) /
            (col("nb") * col("ta")).cast(DoubleType)), 9)).as("psi_term"))
      .orderBy(col("bin"))
  }

  val dqPsiOracle: String =
    """WITH ext AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents),
      |b AS (
      |  SELECT least(9, ((n_chars - lo) * 10) // (hi - lo + 1)) AS bin,
      |    doc_id % 2 = 0 AS a
      |  FROM documents, ext),
      |g AS (
      |  SELECT bin, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS nb
      |  FROM b GROUP BY bin),
      |t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM g)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(na AS BIGINT) AS na,
      |  CAST(nb AS BIGINT) AS nb,
      |  (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
      |    - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
      |   * round(ln(CAST(na * tb AS DOUBLE) / CAST(nb * ta AS DOUBLE)), 9) AS psi_term
      |FROM g, t WHERE na > 0 AND nb > 0
      |ORDER BY bin""".stripMargin

  // ---- graph reciprocity ---------------------------------------------------

  /** Edge reciprocity of the synthesized link graph (same deterministic
    * edge rule as `graph_pagerank`: doc i → (31·i + 7k) mod N, k = 1..3):
    * the fraction of distinct directed edges whose reverse edge also
    * exists — a one-line structural health metric crawl graphs report
    * next to degree stats. Self-loops are excluded (a loop is trivially
    * its own reverse, inflating the standard dyadic definition). One
    * distinct + one keyed left-semi self-join on the reversed key; no
    * cartesian anywhere. */
  def graphRecip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("n"))
    val edges = docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array(lit(1), lit(2), lit(3))).as("k"), col("n"))
      .select(col("src"), ((col("src") * 31 + col("k") * 7) % col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    recipCore(edges)
  }

  /** The reciprocity core over any deduplicated self-loop-free (src, dst)
    * edge table — EvalLawsSpec pins it against brute-force reverse-pair
    * counting. An empty edge set yields NULL reciprocity instead of an
    * ANSI DIVIDE_BY_ZERO. */
  private[graft] def recipCore(edges: DataFrame): DataFrame = {
    val recip = edges.join(
      edges.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        when(col("n_edges") > 0,
          col("n_recip").cast(DoubleType) / col("n_edges").cast(DoubleType))
          .as("reciprocity"))
  }

  val graphRecipOracle: String =
    """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      |e AS (
      |  SELECT DISTINCT doc_id AS src, (doc_id * 31 + k * 7) % n AS dst
      |  FROM documents, nn, (VALUES (1), (2), (3)) ks(k)
      |  WHERE doc_id <> (doc_id * 31 + k * 7) % n),
      |r AS (SELECT COUNT(*) AS n_recip FROM e
      |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
      |SELECT (SELECT COUNT(*) FROM e) AS n_edges, r.n_recip,
      |  CAST(r.n_recip AS DOUBLE) / CAST((SELECT COUNT(*) FROM e) AS DOUBLE)
      |    AS reciprocity
      |FROM r""".stripMargin

  // ---- Kaplan–Meier survival over user lifetimes ---------------------------

  /** Kaplan–Meier survival of user lifetimes in the event stream: a user's
    * lifetime is last−first event in whole hours; users whose last event
    * falls within 24 hours of the stream's end are right-censored (still
    * active). Classic KM: at each distinct lifetime t, d_t churn events
    * against n_t at-risk, ln S(t) = Σ_{t'≤t} ln(1 − d/n). Shapes: one
    * keyed per-user agg (the only row-count-bounded stage), then all
    * windows run over the distinct-lifetime table (calendar-bounded). The
    * log-survival is lmscore-style fixed-point (round(ln,9) → ×10⁹ →
    * floor(x+0.5) → BIGINT running sum — integer addition is associative,
    * so DuckDB's segment-tree windowed SUM and Spark's running frame
    * agree), and the final `/1e9` is one exact-int→double op per row. The
    * terminal timepoint where n = d (S→0, ln→−∞) is excluded by contract. */
  /** The Kaplan–Meier core over any (t: long timepoint, ev: 1 = event /
    * 0 = censored) lifetime table — EvalLawsSpec pins it against a
    * sequential KM transcription (exact fixed-point log arithmetic
    * included) on random lifetime tables with planted all-censored
    * timepoints and a terminal n = d row. */
  private[graft] def survivalCore(lifetimes: DataFrame): DataFrame = {
    val g = lifetimes.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .filter(col("n_risk") > col("d"))
      .withColumn("l",
        floor(round(log((col("n_risk") - col("d")).cast(DoubleType) /
          col("n_risk").cast(DoubleType)), 9) * 1e9 + 0.5).cast(LongType))
      .withColumn("cum", sum(col("l")).over(wRun))
      .filter(col("d") > 0)
      .select(col("t").as("t_hours"), col("n_risk"), col("d"),
        (col("cum").cast(DoubleType) / 1e9).as("ln_surv"))
      .orderBy(col("t_hours"))
  }

  def evtSurvival(spark: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val e = Tables.eventsTs(spark, dir)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"))
    val tEnd = e.agg(max(col("ts_us")).as("t_end"))
    val users = e.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      .crossJoin(broadcast(tEnd))
      .select(expr(s"(last_us - first_us) div $HourUs").as("t"),
        when(col("last_us") < col("t_end") - lit(24 * HourUs), 1L).otherwise(0L).as("ev"))
    survivalCore(users)
  }

  val evtSurvivalOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |te AS (SELECT MAX(ts_us) AS t_end FROM e),
      |u AS (SELECT user_id, MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
      |      FROM e GROUP BY user_id),
      |lt AS (
      |  SELECT (last_us - first_us) // 3600000000 AS t,
      |    CASE WHEN last_us < t_end - 86400000000 THEN 1 ELSE 0 END AS ev
      |  FROM u, te),
      |g AS (SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM lt GROUP BY t),
      |r AS (
      |  SELECT t, d,
      |    CAST(SUM(d + c) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n_risk
      |  FROM g),
      |l AS (
      |  SELECT t, d, n_risk,
      |    CAST(floor(round(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9)
      |      * 1e9 + 0.5) AS BIGINT) AS lv
      |  FROM r WHERE n_risk > d),
      |s AS (
      |  SELECT t, d, n_risk,
      |    CAST(SUM(lv) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum
      |  FROM l)
      |SELECT t AS t_hours, n_risk, CAST(d AS BIGINT) AS d,
      |  CAST(cum AS DOUBLE) / 1e9 AS ln_surv
      |FROM s WHERE d > 0 ORDER BY t_hours""".stripMargin

  // ---- hapax / type-token lexical statistics -------------------------------

  /** Corpus lexical-richness roll-up: token count, vocabulary size, hapax
    * legomena count, type-token ratio, and hapax fraction — the one-row
    * companion to [[txtZipf]] (a templated corpus shows low TTR and a thin
    * hapax tail). One token-keyed agg then a 1-row reduce; the two ratios
    * are exact-int→double divisions. */
  def txtHapax(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("n_tokens"), col("vocab"), col("n_hapax"),
        (col("vocab").cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("ttr"),
        (col("n_hapax").cast(DoubleType) / col("vocab").cast(DoubleType))
          .as("hapax_ratio"))

  val txtHapaxOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = TextFunctions.sql.tokens("norm")
    s"""WITH tk AS (
       |  SELECT unnest($toks) AS tok
       |  FROM (SELECT $norm AS norm FROM documents)),
       |c AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok)
       |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
       |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
       |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
       |FROM c""".stripMargin
  }

  // ---- GROUP BY ALL / ORDER BY ALL SQL surface -----------------------------

  /** `GROUP BY ALL` + `ORDER BY ALL` — the modern-SQL ergonomic both Spark 4
    * and DuckDB implement (every non-aggregate select item becomes a
    * grouping key / sort key). The same text runs verbatim on both engines,
    * pinning that the dialect surface, not just the algebra, matches. */
  def sqlGroupAll(spark: SparkSession, dir: String): DataFrame = {
    // register only the table the query touches — registerAll's ten footer
    // reads are pure fixed overhead here (measured ~2.5s of a 2.9s runtime)
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(sqlGroupAllOracle)
  }

  val sqlGroupAllOracle: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  // ---- malformed-CSV robustness (DROPMALFORMED) ----------------------------

  /** CSV robustness: nation rows serialized as clean CSV lines plus three
    * injected corrupt lines (non-numeric key, wrong arity, trailing junk),
    * read back with `mode=DROPMALFORMED` — the survivors must be exactly
    * the valid rows, which the oracle recomputes from parquet. This is the
    * bad-row policy surface every large-scale CSV ingest needs (the
    * reference exposes CSV options at CsvScanExecNode; PERMISSIVE /
    * DROPMALFORMED / FAILFAST is Spark's tri-state). */
  def srcCsvMalformed(spark: SparkSession, dir: String): DataFrame = {
    val p = SourcesDdl.tmpPath("src_csv_malformed")
    val good = Tables.nation(spark, dir)
      .select(concat_ws(",", col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .as("value"))
    import spark.implicits._
    // every injected line carries a TYPE error — Spark's csv reader pads
    // under-arity lines with null and silently ignores extra trailing
    // tokens, so arity alone does not mark a row malformed
    val bad = Seq("not_a_number,BADLAND,9", "x,TOO,y,MANY,COLS", "abc,DEF,ghi")
      .toDF("value")
    good.union(bad).write.mode("overwrite").text(p)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(p)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_nationkey")).as("key_sum"),
        max(col("n_name")).as("last_name"))
  }

  val srcCsvMalformedOracle: String =
    """SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
      |  max(n_name) AS last_name
      |FROM nation""".stripMargin

  // ---- IQR outlier screen ---------------------------------------------------

  /** Tukey-fence outlier counts per order priority: quartiles via the
    * discrete percentile (actual data values — no interpolation float), the
    * fences Q1 − 1.5·IQR / Q3 + 1.5·IQR in exact DECIMAL arithmetic (prices
    * are 2-decimal), and conditional counts against them. The robust-screen
    * companion to `win_mad`, as a grouped aggregate instead of a window.
    * Two passes over the group (quartiles, then fence counts) joined on the
    * grouping key — both keyed, the quartile side broadcast-sized. */
  def dqIqr(spark: SparkSession, dir: String): DataFrame = {
    val price = Dsl.dec(col("o_totalprice"), 14, 2)
    val q = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2))").as("q1"),
        expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2))").as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * lit(BigDecimal("1.5")))
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * lit(BigDecimal("1.5")))
    Tables.orders(spark, dir)
      .join(broadcast(q), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(when(price < col("lo") || price > col("hi"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("o_orderpriority"), col("n"), col("n_outliers"),
        (col("n_outliers").cast(DoubleType) / col("n").cast(DoubleType))
          .as("outlier_rate"))
      .orderBy(col("o_orderpriority"))
  }

  val dqIqrOracle: String =
    """WITH q AS (
      |  SELECT o_orderpriority,
      |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2)) AS q1,
      |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2)) AS q3
      |  FROM orders GROUP BY o_orderpriority),
      |f AS (SELECT o_orderpriority, q1 - (q3 - q1) * CAST(1.5 AS DECIMAL(2,1)) AS lo,
      |             q3 + (q3 - q1) * CAST(1.5 AS DECIMAL(2,1)) AS hi FROM q)
      |SELECT o.o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DECIMAL(14,2)) < f.lo
      |    OR CAST(o.o_totalprice AS DECIMAL(14,2)) > f.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DECIMAL(14,2)) < f.lo
      |    OR CAST(o.o_totalprice AS DECIMAL(14,2)) > f.hi THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS outlier_rate
      |FROM orders o JOIN f ON o.o_orderpriority = f.o_orderpriority
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  // ---- precision/recall threshold sweep -------------------------------------

  /** Precision/recall/F1 of the "length predicts lang='en'" classifier at
    * five fixed score thresholds — the operating-point table next to
    * [[clsAuc]]'s ranking view (cls_calibration bins probability; this
    * sweeps decision cutoffs). One conditional aggregate per threshold,
    * all in a single keyed-free reduce; ratios are exact-int divisions.
    * F1 = 2TP/(2TP+FP+FN) avoids the precision·recall float product. */
  def clsPr(spark: SparkSession, dir: String): DataFrame =
    prCore(Tables.documents(spark, dir)
      .select((col("lang") === "en").as("pos"), col("n_chars").as("sc")),
      Seq(100L, 200L, 300L, 400L, 500L))
      .orderBy(col("threshold"))

  /** The threshold-sweep core over any (sc, pos) table — EvalLawsSpec pins
    * it against brute-force confusion counting per threshold. Empty
    * denominators (no predicted positives / no actual positives / nothing
    * at all) yield NULL ratios instead of an ANSI DIVIDE_BY_ZERO — a
    * threshold above every score is a legitimate sweep point. */
  private[graft] def prCore(scored: DataFrame, thresholds: Seq[Long]): DataFrame = {
    // all counts in ONE scan + reduce; stack() pivots to |thresholds| rows
    val aggd = scored.agg(
      sum(when(col("pos") && col("sc") >= thresholds.head, 1L).otherwise(0L))
        .as(s"tp${thresholds.head}"),
      thresholds.tail.flatMap(t => Seq(
        sum(when(col("pos") && col("sc") >= t, 1L).otherwise(0L)).as(s"tp$t"))) ++
        thresholds.flatMap(t => Seq(
          sum(when(!col("pos") && col("sc") >= t, 1L).otherwise(0L)).as(s"fp$t"),
          sum(when(col("pos") && col("sc") < t, 1L).otherwise(0L)).as(s"fn$t"))): _*)
    val stacked = thresholds
      .map(t => s"CAST($t AS BIGINT), tp$t, fp$t, fn$t")
      .mkString(s"stack(${thresholds.length}, ", ", ", ") AS (threshold, tp, fp, fn)")
    aggd.selectExpr(stacked)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType))
          .as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          (col("tp") * 2).cast(DoubleType) /
            (col("tp") * 2 + col("fp") + col("fn")).cast(DoubleType)).as("f1"))
  }

  val clsPrOracle: String = {
    val per = Seq(100, 200, 300, 400, 500).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS threshold,
         |  CAST(SUM(CASE WHEN lang = 'en' AND n_chars >= $t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN lang <> 'en' AND n_chars >= $t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN lang = 'en' AND n_chars < $t THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS ($per)
       |SELECT threshold, tp, fp, fn,
       |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
       |  CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) AS f1
       |FROM m ORDER BY threshold""".stripMargin
  }

  // ---- compression-codec sink round-trip ------------------------------------

  /** Parquet sink with explicit zstd compression, read back and aggregated —
    * codec choice is a first-order cost lever at 100 TB (zstd ≈ gzip ratio
    * at snappy-ish speed) and this pins that the option plumbs through and
    * preserves values. Oracle recomputes from the original table. */
  def snkZstd(spark: SparkSession, dir: String): DataFrame = {
    val p = SourcesDdl.tmpPath("snk_zstd")
    Tables.customer(spark, dir).write.mode("overwrite")
      .option("compression", "zstd").parquet(p)
    spark.read.parquet(p)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        Dsl.d(sum(Dsl.dec(col("c_acctbal"), 14, 2))).as("bal_sum"))
      .orderBy(col("c_nationkey"))
  }

  val snkZstdOracle: String =
    """SELECT c_nationkey, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS bal_sum
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---- NDCG ranking evaluation ---------------------------------------------

  /** NDCG@10 of exact cosine retrieval against the embeddings table's label
    * column as binary ground truth (relevant = shares the query's label) —
    * the graded companion to `sim_recall`'s recall@k. Determinism: the
    * 1/log₂(r+1) discounts are plan-time Scala constants fixed-pointed to
    * ×10⁹ integers (and their ideal-DCG prefix sums likewise), so DCG and
    * IDCG are exact BIGINT sums joined from two broadcast literal dims —
    * no float accumulation at any partitioning. Label counts ride one
    * keyed agg; ranking reuses the gated brute-force operator. */
  def simNdcg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 10
    val disc9 = (1 to k).map(r =>
      (r.toLong, math.round(1e9 / (math.log(r + 1.0) / math.log(2.0)))))
    val cum9 = (0 to k).map(m => (m.toLong, disc9.take(m).map(_._2).sum))
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id").isin(0, 1, 2))
    val top = graft.operators.Similarity.bruteForceTopK(q, e, k)
      .select(col("query_id"), col("corpus_id"), col("rank"))
    val lbl = e.select(col("vec_id"), col("label"))
    val labelCnt = lbl.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val rel = top
      .join(broadcast(q.select(col("vec_id").as("query_id"), col("label").as("q_lbl"))),
        Seq("query_id"))
      .join(lbl.select(col("vec_id").as("corpus_id"), col("label").as("c_lbl")),
        Seq("corpus_id"))
      .withColumn("rel", (col("q_lbl") === col("c_lbl")).cast(LongType))
    val dcg = rel
      .join(broadcast(disc9.toDF("rank", "disc9")), Seq("rank"))
      .groupBy(col("query_id"), col("q_lbl"))
      .agg(sum(col("rel") * col("disc9")).as("dcg9"), sum(col("rel")).as("n_rel10"))
    dcg
      .join(broadcast(labelCnt.withColumnRenamed("label", "q_lbl")), Seq("q_lbl"))
      .withColumn("m", least(lit(k.toLong), col("n_label") - 1))
      .join(broadcast(cum9.toDF("m", "idcg9")), Seq("m"))
      .select(col("query_id"), col("n_rel10"),
        when(col("idcg9") > 0,
          col("dcg9").cast(DoubleType) / col("idcg9").cast(DoubleType))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val simNdcgOracle: String = {
    val k = 10
    val disc9 = (1 to k).map(r =>
      (r, math.round(1e9 / (math.log(r + 1.0) / math.log(2.0)))))
    val cum9 = (0 to k).map(m => (m, disc9.take(m).map(_._2).sum))
    val discRows = disc9.map { case (r, v) => s"($r, $v)" }.mkString(", ")
    val cumRows = cum9.map { case (m, v) => s"($m, $v)" }.mkString(", ")
    s"""WITH disc(rank, disc9) AS (VALUES $discRows),
       |cum(m, idcg9) AS (VALUES $cumRows),
       |bf AS (
       |  SELECT query_id, corpus_id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${Pipeline.sqlCosine("q.embedding", "c.embedding")}, 6)
       |          DESC, c.vec_id) AS rank
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id IN (0, 1, 2) AND q.vec_id <> c.vec_id) t
       |  WHERE rank <= $k),
       |lc AS (SELECT label, COUNT(*) AS n_label FROM embeddings GROUP BY label),
       |r AS (
       |  SELECT bf.query_id, ql.label AS q_lbl, bf.rank,
       |    CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
       |  FROM bf
       |  JOIN embeddings ql ON ql.vec_id = bf.query_id
       |  JOIN embeddings cl ON cl.vec_id = bf.corpus_id),
       |d AS (
       |  SELECT query_id, q_lbl,
       |    CAST(SUM(rel * disc.disc9) AS BIGINT) AS dcg9,
       |    CAST(SUM(rel) AS BIGINT) AS n_rel10
       |  FROM r JOIN disc ON r.rank = disc.rank
       |  GROUP BY query_id, q_lbl)
       |SELECT d.query_id, d.n_rel10,
       |  CASE WHEN cum.idcg9 > 0
       |    THEN CAST(d.dcg9 AS DOUBLE) / CAST(cum.idcg9 AS DOUBLE)
       |    ELSE 0.0 END AS ndcg
       |FROM d
       |JOIN lc ON d.q_lbl = lc.label
       |JOIN cum ON cum.m = least($k, lc.n_label - 1)
       |ORDER BY d.query_id""".stripMargin
  }

  // ---- winsorized mean ------------------------------------------------------

  /** Winsorized mean (caps at the discrete p10/p90) of order totals per
    * priority — the clamp-don't-drop robust mean next to `agg_trimmed`'s
    * drop-the-tails. Caps are actual data values (percentile_disc), the
    * clamp runs in exact DECIMAL, and the sum is integer cents (scaled
    * decimals cast to double double-round differently per engine — the
    * verify-recipe hazard), so the mean is int→double / 100 / count with
    * one defined rounding per op. */
  def aggWinsor(spark: SparkSession, dir: String): DataFrame = {
    val caps = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2))").as("lo_cap"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2))").as("hi_cap"))
    Tables.orders(spark, dir)
      .join(broadcast(caps), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Dsl.d(max(col("lo_cap"))).as("lo_cap"), Dsl.d(max(col("hi_cap"))).as("hi_cap"),
        (sum((least(greatest(Dsl.dec(col("o_totalprice"), 14, 2), col("lo_cap")),
          col("hi_cap")) * 100).cast(LongType)).cast(DoubleType) / 100.0 /
          count(lit(1))).as("winsor_mean"))
      .orderBy(col("o_orderpriority"))
  }

  val aggWinsorOracle: String =
    """WITH caps AS (
      |  SELECT o_orderpriority,
      |    CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2)) AS lo_cap,
      |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DECIMAL(14,2)) AS hi_cap
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, COUNT(*) AS n,
      |  CAST(MAX(c.lo_cap) AS DOUBLE) AS lo_cap, CAST(MAX(c.hi_cap) AS DOUBLE) AS hi_cap,
      |  CAST(SUM(CAST(least(greatest(CAST(o.o_totalprice AS DECIMAL(14,2)), c.lo_cap),
      |    c.hi_cap) * 100 AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS winsor_mean
      |FROM orders o JOIN caps c ON o.o_orderpriority = c.o_orderpriority
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  // ---- DAU/MAU stickiness ---------------------------------------------------

  /** Daily-active / monthly-active stickiness per day — the product-health
    * ratio every event pipeline reports. DAU is one (day, user) distinct
    * keyed agg; MAU joins each day to its month's distinct-user count
    * (month table is calendar-bounded, broadcast). The ratio is an
    * exact-int division. */
  def evtDauMau(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsTs(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"),
        date_trunc("month", col("ts")).as("month"), col("user_id"))
    val dau = e.groupBy(col("day"), col("month"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = e.groupBy(col("month")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), Seq("month"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast(DoubleType) / col("mau").cast(DoubleType)).as("stickiness"))
      .orderBy(col("day"))
  }

  val evtDauMauOracle: String =
    """WITH e AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    date_trunc('month', CAST(ts AS TIMESTAMP)) AS month, user_id
      |  FROM events),
      |dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY day, month),
      |mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau FROM e GROUP BY month)
      |SELECT dau.day, dau.dau, mau.mau,
      |  CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
      |FROM dau JOIN mau ON dau.month = mau.month
      |ORDER BY dau.day""".stripMargin

  // ---- id-sequence completeness --------------------------------------------

  /** Sequence-gap audit over event_id — the completeness check an ingest
    * pipeline runs on a monotonically-assigned id column (kafka offsets,
    * snowflake ids): total missing ids from the span arithmetic, and the
    * number of gap runs via a keyed anti-join (an id starts a gap iff id+1
    * is absent and it isn't the max) — no window over the full id space,
    * so the check stays keyed at any scale. */
  def dqGaps(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.events(spark, dir).select(col("event_id").as("id")).distinct()
    val ext = ids.agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
      count(lit(1)).as("n_ids"))
    val gapStarts = ids
      .join(ids.select((col("id") - 1).as("id")), Seq("id"), "left_anti")
      .crossJoin(broadcast(ext)).filter(col("id") < col("hi"))
      .agg(count(lit(1)).as("n_gap_runs"))
    ext.crossJoin(gapStarts)
      .select(col("lo"), col("hi"), col("n_ids"),
        (col("hi") - col("lo") + 1 - col("n_ids")).as("n_missing"),
        col("n_gap_runs"))
  }

  val dqGapsOracle: String =
    """WITH ids AS (SELECT DISTINCT event_id AS id FROM events),
      |ext AS (SELECT MIN(id) AS lo, MAX(id) AS hi, COUNT(*) AS n_ids FROM ids),
      |g AS (
      |  SELECT COUNT(*) AS n_gap_runs FROM ids, ext
      |  WHERE id < hi AND NOT EXISTS (SELECT 1 FROM ids i2 WHERE i2.id = ids.id + 1))
      |SELECT lo, hi, CAST(n_ids AS BIGINT) AS n_ids,
      |  hi - lo + 1 - n_ids AS n_missing, CAST(n_gap_runs AS BIGINT) AS n_gap_runs
      |FROM ext, g""".stripMargin

  // ---- Herfindahl concentration --------------------------------------------

  /** Herfindahl–Hirschman concentration of order volume across clerks per
    * priority tier — the source-concentration metric a corpus pipeline
    * tracks (one crawl domain dominating a mixture is the risk `smp_mixture`
    * mitigates). HHI = Σ(c_i/n)² = Σc_i²/n², kept as two exact integer
    * moments from a two-level keyed agg; one int→double division tree at
    * the end. 10000·HHI (the antitrust convention) rides the same ints. */
  def aggHhi(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_custkey"))
      .agg(count(lit(1)).as("c"))
    per.groupBy(col("o_orderpriority"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_groups"),
        sum(col("c").cast(dec38) * col("c").cast(dec38)).as("sc2"))
      .select(col("o_orderpriority"), col("n"), col("n_groups"),
        (col("sc2").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("n").cast(DoubleType))).as("hhi"),
        (lit(10000.0) * col("sc2").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("n").cast(DoubleType))).as("hhi_10k"))
      .orderBy(col("o_orderpriority"))
  }

  val aggHhiOracle: String =
    """WITH per AS (
      |  SELECT o_orderpriority, o_custkey, COUNT(*) AS c
      |  FROM orders GROUP BY o_orderpriority, o_custkey),
      |m AS (
      |  SELECT o_orderpriority, SUM(c) AS n, COUNT(*) AS n_groups,
      |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sc2
      |  FROM per GROUP BY o_orderpriority)
      |SELECT o_orderpriority, CAST(n AS BIGINT) AS n, n_groups,
      |  CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS hhi,
      |  10000.0 * CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |    AS hhi_10k
      |FROM m ORDER BY o_orderpriority""".stripMargin

  // ---- dynamic partition overwrite -----------------------------------------

  /** Dynamic partition overwrite: write nation partitioned by region, then
    * overwrite ONE region's partition with modified rows under
    * `partitionOverwriteMode=dynamic` — the other partitions must survive
    * untouched (static mode would truncate the whole table). This is the
    * idempotent-backfill primitive every partitioned lake pipeline relies
    * on. The oracle recomputes the expected post-overwrite state from the
    * parquet original. */
  def snkDynpart(spark: SparkSession, dir: String): DataFrame = {
    val p = SourcesDdl.tmpPath("snk_dynpart")
    val nation = Tables.nation(spark, dir)
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(p)
    // backfill region 0 only: names lower-cased, one defined partition swap
    nation.filter(col("n_regionkey") === 0)
      .withColumn("n_name", lower(col("n_name")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("n_regionkey").parquet(p)
    spark.read.parquet(p)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
      .orderBy(col("n_regionkey"))
  }

  val snkDynpartOracle: String =
    """SELECT n_regionkey, COUNT(*) AS n_nations,
      |  min(CASE WHEN n_regionkey = 0 THEN lower(n_name) ELSE n_name END)
      |    AS first_name
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  val all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "agg_hhi" -> ((aggHhi _, Some(aggHhiOracle))),
    "snk_dynpart" -> ((snkDynpart _, Some(snkDynpartOracle))),
    "evt_daumau" -> ((evtDauMau _, Some(evtDauMauOracle))),
    "dq_gaps" -> ((dqGaps _, Some(dqGapsOracle))),
    "sim_ndcg" -> ((simNdcg _, Some(simNdcgOracle))),
    "agg_winsor" -> ((aggWinsor _, Some(aggWinsorOracle))),
    "dq_iqr" -> ((dqIqr _, Some(dqIqrOracle))),
    "cls_pr" -> ((clsPr _, Some(clsPrOracle))),
    "snk_zstd" -> ((snkZstd _, Some(snkZstdOracle))),
    "evt_survival" -> ((evtSurvival _, Some(evtSurvivalOracle))),
    "txt_hapax" -> ((txtHapax _, Some(txtHapaxOracle))),
    "sql_groupall" -> ((sqlGroupAll _, Some(sqlGroupAllOracle))),
    "src_csv_malformed" -> ((srcCsvMalformed _, Some(srcCsvMalformedOracle))),
    "txt_zipf" -> ((txtZipf _, Some(txtZipfOracle))),
    "dq_psi" -> ((dqPsi _, Some(dqPsiOracle))),
    "graph_recip" -> ((graphRecip _, Some(graphRecipOracle))),
    "agg_pdisc" -> ((aggPdisc _, Some(aggPdiscOracle))),
    "smp_ess" -> ((smpEss _, Some(smpEssOracle))),
    "dq_benford" -> ((dqBenford _, Some(dqBenfordOracle))),
    "txt_entropy" -> ((txtEntropy _, Some(txtEntropyOracle))),
    "cls_auc" -> ((clsAuc _, Some(clsAucOracle))),
    "dq_ks" -> ((dqKs _, Some(dqKsOracle))),
    "evt_acf" -> ((evtAcf _, Some(evtAcfOracle))),
    "src_xml" -> ((srcXml _, Some(srcXmlOracle)))
  )
}
