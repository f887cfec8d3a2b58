package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-enrichment suite — the remaining stages a training-data pipeline
  * runs between curation and training: benchmark decontamination (n-gram
  * overlap against a held-out eval set), model-based quality scoring (a
  * hashing-trick linear classifier evaluated as pure column arithmetic),
  * URL/JSON metadata extraction, and cohort retention analytics over the
  * event stream. Everything is oracle-gated; shuffles are keyed and the
  * decontamination join broadcasts the (small) eval side.
  */
object Enrich {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- benchmark decontamination --------------------------------------------

  /** Docs with `doc_id % 97 == 0` stand in for a held-out benchmark set. */
  private val EvalMod = 97
  private val DeconK = 8

  /** Benchmark decontamination: flag every training document that shares at
    * least one 8-token shingle with the eval set (the standard n-gram-overlap
    * test-set-leakage check, e.g. GPT-3 appendix C / PaLM §7). Shingles are
    * reduced to portable 64-bit hashes so the eval side is a compact
    * broadcast — at 100 TB the training side streams through a broadcast
    * semi-join with no shuffle; only the per-doc `distinct` is keyed. */
  def txtDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Spread (round 14): the shingle/hash gram build ran one-task
    val grams = graft.operators.Spread(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextFunctions.shinglesFromTokens(col("t"), DeconK)).as("g"))
      .select(col("doc_id"), TextFunctions.hash64(col("g")).as("gh"))
    val evalGrams = grams.filter(col("doc_id") % EvalMod === 0)
      .select(col("gh")).distinct()
    val hits = grams.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalGrams), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % EvalMod =!= 0)
      .join(hits.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val txtDecontaminateOracle: String = {
    val sh = TextFunctions.sql.shingles("text", DeconK)
    val h64 = TextFunctions.sql.hash64("g")
    s"""WITH sh AS (SELECT doc_id, $sh AS ss FROM documents),
       |grams AS (
       |  SELECT doc_id, $h64 AS gh
       |  FROM (SELECT doc_id, unnest(ss) AS g FROM sh)),
       |ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % $EvalMod = 0),
       |hits AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE doc_id % $EvalMod <> 0 AND gh IN (SELECT gh FROM ev))
       |SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $EvalMod <> 0
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- hashing-trick linear quality classifier ------------------------------

  /** Feature buckets and the deterministic per-bucket weight. Knuth's
    * multiplicative constant spreads bucket ids over [-1, 1] in steps of
    * 1e-3 — a stand-in for trained fastText-style classifier weights, which
    * would ship as a broadcast array literal exactly the same way. */
  private val ClsD = 512
  private val ClsMult = 2654435761L

  private def clsWeight(bucket: Column): Column =
    ((bucket * ClsMult) % 2001L - 1000L).cast(DoubleType) / 1000.0

  /** Model-based quality score: tokens → hash64 mod D buckets → per-bucket
    * weight → mean margin, thresholded at 0. The fastText/logistic-quality
    * filter shape (CCNet, GPT-3 §2.2) with the trained weights replaced by a
    * deterministic formula, evaluated entirely as per-row column arithmetic:
    * no shuffle, no UDF, no model server. The ordered `aggregate` fold keeps
    * the double sum bit-identical to the oracle's `list_reduce`. */
  def clsQuality(spark: SparkSession, dir: String): DataFrame =
    // Spread (round 14): per-token md5 scoring ran one-task in the scan
    graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
      .select(col("doc_id"),
        (aggregate(
          transform(col("t"), tok => clsWeight(TextFunctions.hash64(tok) % ClsD)),
          lit(0.0), (acc, w) => acc + w)
          / size(col("t")).cast(DoubleType)).as("m"))
      .select(col("doc_id"), col("m").as("quality_margin"),
        (col("m") > 0.0).as("keep"))
      .orderBy(col("doc_id"))

  val clsQualityOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = s"string_split_regex(trim($norm), '\\s+')"
    val h64 = TextFunctions.sql.hash64("tok")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($toks,
       |      tok -> CAST((($h64 % $ClsD) * $ClsMult) % 2001 - 1000 AS DOUBLE) / 1000.0)),
       |      (acc, w) -> acc + w) / CAST(len($toks) AS DOUBLE) AS m
       |  FROM documents)
       |SELECT doc_id, m AS quality_margin, m > 0.0 AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- URL parsing ----------------------------------------------------------

  /** URL metadata extraction with Spark's codegen'd `parse_url` (host, path,
    * query, single query parameter) over URLs synthesized from document
    * metadata — the crawl-provenance columns (domain, path, tracking params)
    * every web-corpus pipeline extracts before domain-level filtering.
    * Per-row, shuffle-free. */
  def fnUrl(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.org/docs/"),
          col("lang"), lit("/"), col("doc_id"),
          lit("?page="), col("doc_id") % 10, lit("&ref="), col("source")).as("url"))
      .select(col("doc_id"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"),
        parse_url(col("url"), lit("QUERY"), lit("page")).as("page"))
      .orderBy(col("doc_id"))

  val fnUrlOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' || source || '.example.org/docs/' || lang || '/' || doc_id
       |      || '?page=' || (doc_id % 10) || '&ref=' || source AS url
       |  FROM documents WHERE doc_id < 200)
       |SELECT doc_id, url,
       |  regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       |  regexp_extract(url, 'https://[^/]+([^?]*)', 1) AS path,
       |  regexp_extract(url, '\\?(.*)$$', 1) AS query,
       |  regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
       |FROM u ORDER BY doc_id""".stripMargin

  // ---- JSON extraction ------------------------------------------------------

  /** JSON field extraction from the event `props` payload with Spark's
    * `get_json_object` (JSONPath) — semi-structured metadata is the norm for
    * crawl/event records; extraction stays per-row and codegen-adjacent
    * (Jackson under the hood), far cheaper than a full `from_json` schema
    * parse when only one field is needed. Aggregates the extracted value to
    * prove it round-trips as a number. */
  def fnJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        // try_cast: a non-numeric k (schema drift in semi-structured
        // payloads) is a NULL, not an ANSI cast failure
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val fnJsonOracle: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       |  MIN(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
       |  MAX(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- VARIANT (open semi-structured type) ----------------------------------

  /** The Spark 4 VARIANT path over the same event payload: `parse_json` into
    * the binary variant encoding once, then typed `variant_get` extractions.
    * Against `get_json_object` (fn_json) this is the columnar-at-rest story —
    * variant values shred to typed subcolumns in parquet, so repeated
    * extractions don't re-parse text; at 100 TB the parse happens once at
    * ingest, not once per query. `try_parse_json` proves malformed payloads
    * degrade to NULL rather than failing the scan. The oracle replays the
    * extractions with DuckDB's JSON functions — the semantics gate is that
    * variant extraction equals JSON-text extraction. */
  def fnVariant(spark: SparkSession, dir: String): DataFrame =
    // Spread (round 14): two JSON parses per row ran one-task in the scan
    graft.operators.Spread(
        Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("props")),
        col("event_id"))
      .select(col("event_type"),
        // try_parse_json for the REAL payload too: a malformed props row
        // degrades to a NULL variant instead of a JsonParseException
        // killing the scan (the same contract the `bad` column proves)
        try_parse_json(col("props")).as("v"),
        try_parse_json(concat(lit("{"), col("props"))).as("bad"))
      .select(col("event_type"),
        // try_variant_get, same philosophy as try_parse_json below: schema
        // drift in the payload degrades to NULL instead of
        // INVALID_VARIANT_CAST killing the job
        try_variant_get(col("v"), "$.k", "bigint").as("k"),
        try_variant_get(col("v"), "$.k", "string").as("ks"),
        col("bad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        count(col("ks")).as("n_ks"),
        count(col("bad")).as("n_bad"))
      .orderBy(col("event_type"))

  val fnVariantOracle: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       |  COUNT(json_extract_string(props, '$$.k')) AS n_ks,
       |  CAST(0 AS BIGINT) AS n_bad
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- cohort retention -----------------------------------------------------

  /** Classic cohort retention: users grouped by first-activity date, distinct
    * active users at each day offset 0..7. Two keyed shuffles (user_id for
    * the cohort assignment, then (cohort_date, day_n) for the matrix) — the
    * cohort side is a per-user aggregate joined back on the same user_id
    * key, so AQE can plan it shuffle-hash without re-partitioning. */
  def evtRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsTs(spark, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("d"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    e.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_d"),
        datediff(col("d"), col("cohort_d")).cast(LongType).as("day_n"))
      .filter(col("day_n") <= 7)
      .groupBy(col("cohort_d"), col("day_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_d"), col("day_n"))
  }

  val evtRetentionOracle: String =
    s"""WITH e AS (SELECT user_id, date_trunc('day', ts) AS d FROM events),
       |cohort AS (SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id)
       |SELECT c.cohort_d, date_diff('day', c.cohort_d, e.d) AS day_n,
       |  COUNT(DISTINCT e.user_id) AS n_users
       |FROM e JOIN cohort c ON e.user_id = c.user_id
       |WHERE date_diff('day', c.cohort_d, e.d) <= 7
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- classifier calibration table -----------------------------------------

  private val CalBins = 10

  /** Calibration/reliability table for the quality classifier: margins from
    * [[clsQuality]] bucketed into [[CalBins]] fixed bins over [−1, 1], each
    * bin reporting how often the proxy label (lang = 'en') actually holds —
    * the reliability-diagram data every production classifier ships with.
    * The bin index floor((m+1)·5) clamped to [0,9] is the same IEEE
    * computation on both engines; counts are exact and the per-bin rate is
    * one exact-integer division ⇒ bit-exact. One map-side-combined agg
    * over the per-row margin computation; no shuffle beyond it. */
  def clsCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("lang"),
        TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
      .select(col("lang"),
        (aggregate(
          transform(col("t"), tok => clsWeight(TextFunctions.hash64(tok) % ClsD)),
          lit(0.0), (acc, w) => acc + w)
          / size(col("t")).cast(DoubleType)).as("m"))
    scored
      .select(col("lang"),
        least(greatest(floor((col("m") + 1.0) * (CalBins / 2.0)), lit(0.0)),
          lit((CalBins - 1).toDouble)).cast(LongType).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType)).as("pos_rate"))
      .orderBy(col("bin"))
  }

  val clsCalibrationOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = s"string_split_regex(trim($norm), '\\s+')"
    val h64 = TextFunctions.sql.hash64("tok")
    s"""WITH m AS (
       |  SELECT lang,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($toks,
       |      tok -> CAST((($h64 % $ClsD) * $ClsMult) % 2001 - 1000 AS DOUBLE) / 1000.0)),
       |      (acc, w) -> acc + w) / CAST(len($toks) AS DOUBLE) AS m
       |  FROM documents),
       |b AS (
       |  SELECT lang,
       |    CAST(least(greatest(floor((m + 1.0) * ${CalBins / 2.0}), 0.0),
       |      ${(CalBins - 1).toDouble}) AS BIGINT) AS bin
       |  FROM m)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS pos_rate
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ---- deterministic name-based UUIDs ---------------------------------------

  /** Name-based (v3-style) UUIDs from md5 — the DETERMINISTIC id-minting
    * path (`uuid()` is gated rows-only in fn_nondet; stable entity ids in a
    * pipeline must come from content, not randomness). The 32 md5 hex chars
    * are formatted 8-4-4-4-12 with the version nibble forced to '3' and the
    * variant nibble drawn from "89ab" by hex value — reproducible on any
    * engine, so the gate is hash-exact. Pure per-row string ops. */
  def fnUuid5(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("uuid:"), col("c_name").cast(StringType)))
    val variant = substring(lit("89ab"),
      (conv(substring(h, 17, 1), 16, 10).cast(IntegerType) % 4) + 1, lit(1))
    val uuid = concat(
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-3"),
      substring(h, 14, 3), lit("-"), variant, substring(h, 18, 3), lit("-"),
      substring(h, 21, 12))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), uuid.as("entity_uuid"))
      .filter(col("c_custkey") <= 500)
      .orderBy(col("c_custkey"))
  }

  val fnUuid5Oracle: String =
    """WITH h AS (
      |  SELECT c_custkey, md5('uuid:' || c_name) AS h FROM customer
      |  WHERE c_custkey <= 500)
      |SELECT c_custkey,
      |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-3' || substr(h, 14, 3) || '-' ||
      |  substr('89ab', CAST(('0x' || substr(h, 17, 1))::BIGINT % 4 AS INTEGER) + 1, 1) ||
      |  substr(h, 18, 3) || '-' || substr(h, 21, 12) AS entity_uuid
      |FROM h ORDER BY c_custkey""".stripMargin

  // ---- trimmed (winsorized-tail) mean ---------------------------------------

  /** 5%-trimmed mean of order value per priority class — the robust
    * location estimate that survives fat tails. Trim ranks are exact
    * integer arithmetic (⌈0.05n⌉ via (5n+99) div 100), the kept-range sum
    * is exact decimal, and the mean is a fixed two-division IEEE sequence
    * over safe magnitudes. One keyed rank window + one agg. */
  def aggTrimmed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col("o_totalprice").cast(DecimalType(12, 2))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("x"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), x.as("x"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .filter(col("rk") > expr("(5 * n + 99) div 100") &&
        col("rk") <= col("n") - expr("(5 * n + 99) div 100"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("x")).cast(DecimalType(20, 2)).as("s"))
      .select(col("o_orderpriority"), col("n_kept"),
        ((col("s") * 100).cast(LongType).cast(DoubleType) / 100.0 /
          col("n_kept").cast(DoubleType)).as("trimmed_mean"))
      .orderBy(col("o_orderpriority"))
  }

  val aggTrimmedOracle: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2)) AS x,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
      |  FROM orders),
      |kept AS (
      |  SELECT o_orderpriority, x FROM ranked
      |  WHERE rk > (5 * n + 99) // 100 AND rk <= n - (5 * n + 99) // 100),
      |agg AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    CAST(SUM(x) AS DECIMAL(20,2)) AS s
      |  FROM kept GROUP BY 1)
      |SELECT o_orderpriority, n_kept,
      |  CAST(CAST(s * 100 AS BIGINT) AS DOUBLE) / 100.0 /
      |    CAST(n_kept AS DOUBLE) AS trimmed_mean
      |FROM agg ORDER BY o_orderpriority""".stripMargin

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "txt_decontaminate" -> ((txtDecontaminate _, Some(txtDecontaminateOracle))),
    "fn_uuid5" -> ((fnUuid5 _, Some(fnUuid5Oracle))),
    "agg_trimmed" -> ((aggTrimmed _, Some(aggTrimmedOracle))),
    "cls_quality" -> ((clsQuality _, Some(clsQualityOracle))),
    "cls_calibration" -> ((clsCalibration _, Some(clsCalibrationOracle))),
    "fn_url" -> ((fnUrl _, Some(fnUrlOracle))),
    "fn_json" -> ((fnJson _, Some(fnJsonOracle))),
    "fn_variant" -> ((fnVariant _, Some(fnVariantOracle))),
    "evt_retention" -> ((evtRetention _, Some(evtRetentionOracle)))
  )
}
