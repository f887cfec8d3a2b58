package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Clustering, Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation suite — the stages a training-data pipeline runs after
  * candidate generation: duplicate-cluster resolution (connected components +
  * canonical keeper), repetition-based quality filters (Gopher-style),
  * PII detection/redaction, deterministic stratified sampling, sequence
  * packing into token budgets, per-group embedding centroids, and k-means
  * IVF-index training. All oracle-gated; every shuffle is keyed.
  */
object Curation {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- duplicate-cluster resolution -----------------------------------------

  /** SimHash near-dup pairs → connected components → per-doc cluster id,
    * cluster size, and canonical keeper flag. The step that makes pair
    * output actionable (drop all non-keepers). Uses the collapsed path (CC
    * over one node per distinct content; see
    * [[Clustering.assignClustersSimhash]]) — the oracle clusters the
    * expanded member pairs and the results are provably identical. */
  def dedCluster(spark: SparkSession, dir: String): DataFrame =
    // No final orderBy (round 11): the gate compare sorts rows itself, and
    // a global sort adds a range-sampling pass re-executing the expansion
    // join after the last exchange. (The oracle keeps ORDER BY.)
    Clustering.assignClustersSimhash(Tables.documents(spark, dir),
      "doc_id", "text", maxHamming = 8)

  /** Oracle: same simhash pairs (shared CTE), components via recursive
    * transitive closure (min reachable id = cluster id). */
  val dedClusterOracle: String =
    s"""WITH RECURSIVE ${Pipeline.simhashCtes},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE hamming <= 8
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs WHERE hamming <= 8),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |cc AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
       |asg AS (
       |  SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM asg GROUP BY 1)
       |SELECT asg.doc_id, asg.cluster_id, sz.cluster_size,
       |  asg.doc_id = asg.cluster_id AS is_keeper
       |FROM asg JOIN sz ON asg.cluster_id = sz.cluster_id
       |ORDER BY asg.doc_id""".stripMargin

  // ---- repetition quality (Gopher-style) ------------------------------------

  /** Repetition-based quality signals (Rae et al., Gopher, arXiv:2112.11446
    * §A1.1 analogs): duplicate-token fraction and top-2-gram mass fraction,
    * plus the keep/drop decision. Set-based metrics are per-row array ops
    * (no shuffle); the top-gram mass needs occurrence counts, so it is two
    * keyed aggregations — (doc, gram) then (doc) — linear at any scale. */
  def txtQuality(spark: SparkSession, dir: String): DataFrame = {
    val staged = graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("t"))).cast(LongType).as("n_distinct"),
        TextFunctions.ngramsFromTokens(col("t"), 2).as("g2"))
    val top2 = staged.select(col("doc_id"), explode(col("g2")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("n_grams"))
    staged.select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .join(top2, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_tokens")).as("dup_token_frac"),
        (col("top_cnt").cast(DoubleType) / col("n_grams")).as("top_2gram_frac"))
      .withColumn("passes_quality",
        col("dup_token_frac") <= 0.55 && col("top_2gram_frac") <= 0.05)
      .orderBy(col("doc_id"))
  }

  val txtQualityOracle: String = {
    val toks = TextFunctions.sql.tokens("text")
    val g2 = TextFunctions.sql.ngrams("text", 2)
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct,
       |    $g2 AS g2
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(g2) AS gram FROM base),
       |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
       |agg AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_grams FROM c GROUP BY 1)
       |SELECT base.doc_id, n_tokens,
       |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
       |  CAST(top_cnt AS DOUBLE) / n_grams AS top_2gram_frac,
       |  (1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) <= 0.55
       |    AND (CAST(top_cnt AS DOUBLE) / n_grams) <= 0.05 AS passes_quality
       |FROM base JOIN agg ON base.doc_id = agg.doc_id
       |ORDER BY base.doc_id""".stripMargin
  }

  // ---- PII detection / redaction --------------------------------------------

  /** RE2-and-Java-compatible patterns so the oracle replays them verbatim. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The synthetic corpus carries no PII, so the query plants deterministic
    * PII derived from doc_id (a subset of docs each for email/phone/IP) and
    * then detects + redacts it — both sides compute the same augmented text,
    * so counts and the redacted fingerprint are value-checked. Per-row
    * regex work only: codegen'd, shuffle-free, linear at 100 TB. */
  def txtPii(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val id = col("doc_id")
    val aug = concat(col("text"),
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast(StringType), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit(" call 415-555-"), lpad((id % 10000).cast(StringType), 4, "0")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from 10."), (id % 256).cast(StringType), lit(".0.1")))
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(aug, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")
    // Round 15 (ADVICE r14): the query now actually builds from `base` —
    // the r14 spread was declared but the body still read the raw table,
    // leaving the 6-regex-per-row projection on the single scan split.
    base
      .select(col("doc_id"),
        regexp_count(aug, lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(aug, lit(PhoneRe)).cast(LongType).as("n_phones"),
        regexp_count(aug, lit(Ipv4Re)).cast(LongType).as("n_ips"),
        length(redacted).cast(LongType).as("n_chars_redacted"),
        md5(redacted.cast(BinaryType)).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val txtPiiOracle: String = {
    val aug =
      s"""text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.1' ELSE '' END""".stripMargin
    s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents),
       |r AS (SELECT doc_id, aug,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g'),
       |    '$Ipv4Re', '[IP]', 'g') AS red
       |  FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(aug, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |  CAST(length(red) AS BIGINT) AS n_chars_redacted,
       |  md5(red) AS redacted_md5
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  // ---- deterministic stratified sampling ------------------------------------

  /** Hash-based stratified sampling: keep a doc iff the first 16 bits of
    * md5(doc_id) fall below the stratum's threshold (en 50%, zh 25%, rest
    * 12.5%). Deterministic and reproducible on any engine/cluster/run — the
    * property that matters for dataset versioning — and a pure per-row
    * filter: no shuffle, no RNG state, prunes at the scan at 100 TB. */
  def smpStratified(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 4)
    val threshold = when(col("lang") === "en", "8000")
      .when(col("lang") === "zh", "4000")
      .otherwise("2000")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < threshold)
      .orderBy(col("doc_id"))
  }

  val smpStratifiedOracle: String =
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket
      |  FROM documents) t
      |WHERE bucket < CASE WHEN lang = 'en' THEN '8000'
      |                    WHEN lang = 'zh' THEN '4000'
      |                    ELSE '2000' END
      |ORDER BY doc_id""".stripMargin

  // ---- sequence packing -----------------------------------------------------

  /** Contiguous greedy sequence packing: within each language shard, docs in
    * id order are packed into 2048-BPE-token bins by their running-total
    * start offset — the deterministic packing used to build fixed-budget
    * training batches. The only shuffle is the window keyed by lang (a real
    * pipeline keys by shard for the same reason: a GLOBAL ordering would
    * serialize through one partition at 100 TB, a keyed one scales with
    * shard count). */
  /** The packing core over any (doc_id, lang, n_tok) table: docs in id
    * order within each lang shard are assigned to the bin their running
    * START offset falls in — bin_id = (cum − n_tok) div budget. Contract
    * (CurationLawsSpec pins all three against a sequential reference):
    * every doc except a bin's LAST starts inside the bin's budget window
    * (a bin overruns only by its final straddling doc — and a doc larger
    * than the whole budget makes the following bin ids skip, by design);
    * per-shard token totals are conserved; and the result is invariant
    * under input partitioning/row order (the window re-sorts by doc_id). */
  private[graft] def packBins(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin_id", expr(s"(cum - n_tok) DIV $budget"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
  }

  def packTokens(spark: SparkSession, dir: String): DataFrame =
    packBins(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          TextFunctions.bpeTokenCount(col("text")).as("n_tok")),
      budget = 2048L)
      .orderBy(col("lang"), col("bin_id"))

  val packTokensOracle: String = {
    val ntok = TextFunctions.sql.bpeTokenCount("text")
    """WITH t AS (SELECT doc_id, lang, %s AS n_tok FROM documents),
      |c AS (SELECT lang, n_tok,
      |  CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM t)
      |SELECT lang, (cum - n_tok) // 2048 AS bin_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
      |FROM c
      |GROUP BY lang, bin_id
      |ORDER BY lang, bin_id""".stripMargin.format(ntok)
  }

  // ---- embedding centroids --------------------------------------------------

  /** Per-label centroid of the embedding column — the building block of IVF
    * training, topic clustering, and class prototypes. Components are summed
    * in vec_id order via a running window sum so the result is bit-exact and
    * partition-independent (order-fixed double adds); a production variant
    * that tolerates float fuzz uses plain avg() with one fewer sort. Shape:
    * one explode (64 rows per vector) + one window keyed by (label, dim) —
    * linear, no collect. */
  def embCentroid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("v").cast(DoubleType).as("v"))
    val w = Window.partitionBy(col("label"), col("pos")).orderBy(col("vec_id"))
    e.withColumn("run", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("label"), col("pos"))))
      .filter(col("rn") === col("n"))
      .select(col("label"), col("pos"), (col("run") / col("n")).as("centroid"),
        col("n").as("n_vecs"))
      .orderBy(col("label"), col("pos"))
  }

  val embCentroidOracle: String =
    """WITH e AS (
      |  SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings CROSS JOIN unnest(generate_series(1, 64)) AS t(i))
      |SELECT label, pos,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)),
      |    (x, y) -> x + y) / COUNT(*) AS centroid,
      |  COUNT(*) AS n_vecs
      |FROM e
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  // ---- embedding quantization -----------------------------------------------

  /** Int8 scalar quantization of the embedding column (per-dimension min/max
    * range, 256 buckets, midpoint reconstruction) — the compression stage of
    * a vector index at scale (4x smaller than float32 before any product
    * quantization). Everything is deterministic: min/max are order-free
    * aggregates, `floor` is exact, and the reconstruction-error bound
    * |v − recon| ≤ scale/2 is checked per vector (`all_ok` must be true for
    * every row on both engines). Shape: one explode + one tiny per-dim agg
    * broadcast back — no corpus-sized shuffle. */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("v").cast(DoubleType).as("v"))
    val stats = ex.groupBy(col("pos"))
      .agg(min(col("v")).as("dmin"), max(col("v")).as("dmax"))
    val scale = (col("dmax") - col("dmin")) / 256.0
    val q = when(col("dmax") === col("dmin"), lit(0.0))
      .otherwise(least(lit(255.0), floor((col("v") - col("dmin")) / scale)))
    ex.join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), col("pos"), col("v"), scale.as("scale"), q.as("q"),
        col("dmin"))
      .withColumn("recon", col("dmin") + (col("q") + 0.5) * col("scale"))
      .withColumn("abs_err", abs(col("v") - col("recon")))
      .withColumn("ok", col("abs_err") <= col("scale") * 0.5)
      .groupBy(col("vec_id"))
      .agg(min(when(col("pos") === 1, col("q"))).cast(LongType).as("q1"),
        min(when(col("pos") === 2, col("q"))).cast(LongType).as("q2"),
        max(col("abs_err")).as("max_abs_err"),
        (min(when(col("ok"), 1L).otherwise(0L)) === 1L).as("all_ok"))
      .orderBy(col("vec_id"))
  }

  val embQuantizeOracle: String =
    """WITH ex AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings CROSS JOIN unnest(generate_series(1, 64)) AS t(i)),
      |stats AS (SELECT pos, min(v) AS dmin, max(v) AS dmax FROM ex GROUP BY pos),
      |qr AS (
      |  SELECT vec_id, pos, v, (dmax - dmin) / 256.0 AS scale,
      |    CASE WHEN dmax = dmin THEN 0.0
      |         ELSE least(255.0, floor((v - dmin) / ((dmax - dmin) / 256.0))) END AS q,
      |    dmin
      |  FROM ex JOIN stats USING (pos)),
      |err AS (
      |  SELECT vec_id, pos, q, scale,
      |    abs(v - (dmin + (q + 0.5) * scale)) AS abs_err,
      |    abs(v - (dmin + (q + 0.5) * scale)) <= scale * 0.5 AS ok
      |  FROM qr)
      |SELECT vec_id,
      |  CAST(min(CASE WHEN pos = 1 THEN q END) AS BIGINT) AS q1,
      |  CAST(min(CASE WHEN pos = 2 THEN q END) AS BIGINT) AS q2,
      |  max(abs_err) AS max_abs_err,
      |  min(CASE WHEN ok THEN 1 ELSE 0 END) = 1 AS all_ok
      |FROM err
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin

  // ---- k-means IVF training -------------------------------------------------

  /** Two Lloyd iterations of k-means (k=8) over the embedding corpus — the
    * IVF training path. Output: per-cell member count and the first two
    * centroid components. */
  def simKmeans(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansCells(Tables.embeddings(spark, dir), k = 8, iters = 2)
      .select(col("cell_id"), col("n_members"),
        round(element_at(col("cent"), 1), 6).as("c1"),
        round(element_at(col("cent"), 2), 6).as("c2"))
      .orderBy(col("cell_id"))

  val simKmeansOracle: String = {
    val k = 8
    val iters = 2
    val sb = new StringBuilder
    sb.append(
      s"""WITH cent0 AS (
         |  SELECT vec_id AS cell_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         |  FROM embeddings WHERE vec_id < $k)""".stripMargin)
    for (i <- 1 to iters) {
      val prev = s"cent${i - 1}"
      sb.append(
        s""",
           |asg$i AS (
           |  SELECT cell_id, vec_id, embedding FROM (
           |    SELECT ct.cell_id, c.vec_id, c.embedding,
           |      row_number() OVER (PARTITION BY c.vec_id
           |        ORDER BY round(${Pipeline.sqlCosine("c.embedding", "ct.cent")}, 6) DESC, ct.cell_id) AS rn
           |    FROM embeddings c CROSS JOIN $prev ct) t
           |  WHERE rn = 1),
           |comp$i AS (
           |  SELECT cell_id, pos,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)),
           |      (x, y) -> x + y) / COUNT(*) AS comp,
           |    COUNT(*) AS n
           |  FROM (SELECT cell_id, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
           |        FROM asg$i CROSS JOIN unnest(generate_series(1, 64)) AS t(i)) e
           |  GROUP BY cell_id, pos),
           |cent$i AS (
           |  SELECT cell_id, list(comp ORDER BY pos) AS cent, min(n) AS n_members
           |  FROM comp$i GROUP BY cell_id)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT cell_id, n_members, round(cent[1], 6) AS c1, round(cent[2], 6) AS c2
         |FROM cent$iters
         |ORDER BY cell_id""".stripMargin)
    sb.toString
  }

  // ---- corpus heavy hitters -------------------------------------------------

  /** Corpus-level top terms by document frequency (plus total occurrences) —
    * the statistic behind stop-shingle caps, vocabulary builds, and corpus
    * drift monitoring. The canonical two-phase-aggregation shape: per-term
    * partial counts combine map-side, the final agg shuffles only the
    * (term, count) pairs — never documents — and the top-k compiles to
    * TakeOrderedAndProject (no global sort). Exact here; at petabyte scale
    * the same query runs unchanged, or swaps the final top-k for a
    * count-min/space-saving sketch when the term domain itself is too hot. */
  def txtTopterms(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.documents(spark, dir)
      .select(TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
    val tf = staged.select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val df = staged.select(explode(array_distinct(col("t"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    df.join(tf, Seq("term"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  val txtTopTermsOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim($norm), '\\s+') AS t FROM documents),
       |tf AS (SELECT term, COUNT(*) AS tf
       |       FROM (SELECT unnest(t) AS term FROM t) x GROUP BY 1),
       |df AS (SELECT term, COUNT(*) AS df
       |       FROM (SELECT unnest(list_distinct(t)) AS term FROM t) x GROUP BY 1)
       |SELECT df.term, df.df, tf.tf
       |FROM df JOIN tf ON df.term = tf.term
       |ORDER BY df.df DESC, df.term
       |LIMIT 20""".stripMargin
  }

  // ---- mergeable heavy-hitters sketch ---------------------------------------

  /** The [[graft.functions.Udafs.MisraGries]] sketch run over the token
    * stream with capacity 8 (below the corpus vocabulary, so evictions and
    * the error bound are genuinely exercised), validated in-plan against
    * exact counts: for every term, either it is in the summary with
    * `est ≤ true ≤ est + err`, or it is absent with `true ≤ err`. The
    * estimates themselves are partition-order-dependent (any mergeable
    * sketch is), but the INVARIANTS are not — so the output (term,
    * true_cnt, sketch_ok) is deterministic and the oracle simply states
    * that every row must check out. */
  def txtHeavyhitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Udafs
    val hh = udaf(Udafs.MisraGries)
    val terms = Tables.documents(spark, dir)
      .select(TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
      .select(explode(col("t")).as("term"))
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    val sk = terms.agg(hh(col("term")).as("sk")) // one row: (counts map, err)
    val est = element_at(col("sk.counts"), col("term"))
    exact.crossJoin(broadcast(sk))
      .select(col("term"), col("true_cnt"),
        when(est.isNotNull, est <= col("true_cnt")
          && col("true_cnt") - est <= col("sk.err"))
          .otherwise(col("true_cnt") <= col("sk.err")).as("sketch_ok"))
      .orderBy(col("term"))
  }

  val txtHeavyhittersOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH t AS (SELECT string_split_regex(trim($norm), '\\s+') AS t FROM documents)
       |SELECT term, COUNT(*) AS true_cnt, true AS sketch_ok
       |FROM (SELECT unnest(t) AS term FROM t) x
       |GROUP BY term
       |ORDER BY term""".stripMargin
  }

  // ---- end-to-end curation funnel -------------------------------------------

  /** The full curation funnel composed from the gated stages: exact-dedup
    * keepers → repetition-quality pass → stratified sample, reported as
    * per-language survivor counts at each stage. One scan feeds per-row
    * metrics; the only shuffles are the dedup group-by and the final tiny
    * count aggregation — the composition adds no new shuffle beyond its
    * parts, which is the point of keeping every stage a DataFrame. */
  def curFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // stage 1: exact-dedup keepers
    val keepers = Dedup.exact(docs, "doc_id", "text").select(col("keeper_id").as("doc_id"))
    // stage 2: repetition quality (reuse the gated metric definitions)
    val quality = txtQuality(spark, dir)
      .select(col("doc_id"), col("passes_quality"))
    // stage 3: deterministic sample membership
    val sampled = smpStratified(spark, dir).select(col("doc_id"), lit(true).as("in_sample"))
    docs.select(col("doc_id"), col("lang"))
      .join(keepers.withColumn("is_keeper", lit(true)), Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(sampled, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_keeper"), 1)).as("n_keepers"),
        count(when(col("is_keeper") && col("passes_quality"), 1)).as("n_quality"),
        count(when(col("is_keeper") && col("passes_quality")
          && col("in_sample").isNotNull, 1)).as("n_final"))
      .orderBy(col("lang"))
  }

  val curFunnelOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val toks = TextFunctions.sql.tokens("text")
    val g2 = TextFunctions.sql.ngrams("text", 2)
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($norm)),
       |base AS (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct,
       |    $g2 AS g2
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(g2) AS gram FROM base),
       |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
       |agg AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_grams FROM c GROUP BY 1),
       |quality AS (
       |  SELECT base.doc_id,
       |    (1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) <= 0.55
       |      AND (CAST(top_cnt AS DOUBLE) / n_grams) <= 0.05 AS passes_quality
       |  FROM base JOIN agg ON base.doc_id = agg.doc_id),
       |sampled AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket
       |    FROM documents) t
       |  WHERE bucket < CASE WHEN lang = 'en' THEN '8000'
       |                      WHEN lang = 'zh' THEN '4000'
       |                      ELSE '2000' END)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL) AS n_keepers,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL AND q.passes_quality) AS n_quality,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL AND q.passes_quality
       |    AND s.doc_id IS NOT NULL) AS n_final
       |FROM documents d
       |LEFT JOIN keepers k ON d.doc_id = k.doc_id
       |LEFT JOIN quality q ON d.doc_id = q.doc_id
       |LEFT JOIN sampled s ON d.doc_id = s.doc_id
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
  }

  // ---- registry -------------------------------------------------------------

  // ---- tokenizer training: BPE merge-pair counting --------------------------

  /** One round of byte-pair-encoding vocabulary induction: count adjacent
    * symbol pairs across the corpus, weighted by word frequency — the pair
    * with the max count is the next BPE merge. The load-bearing trick is the
    * same one real BPE trainers use: aggregate the corpus to a (word, freq)
    * vocabulary FIRST, then enumerate pairs over the vocabulary only. Pair
    * generation cost scales with |vocab| * avg word length, not corpus
    * tokens — at 100 TB the vocab is ~millions of rows while the corpus is
    * trillions of tokens. Two keyed shuffles (word agg, pair agg) plus a
    * TakeOrdered top-k; everything between is codegen'd projection. */
  def txtBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))
    words
      .select(col("word"), col("wfreq"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(concat(expr("substring(word, i, 1)"), lit(" "),
        expr("substring(word, i + 1, 1)")).as("pair"), col("wfreq"))
      .groupBy(col("pair")).agg(sum(col("wfreq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(30)
  }

  val txtBpePairsOracle: String =
    """WITH words AS (
      |  SELECT w AS word, COUNT(*) AS wfreq FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) t
      |  WHERE length(w) >= 2 GROUP BY w),
      |pairs AS (
      |  SELECT substr(word, CAST(i AS INTEGER), 1) || ' ' ||
      |         substr(word, CAST(i AS INTEGER) + 1, 1) AS pair, wfreq
      |  FROM words, unnest(range(1, length(word))) AS u(i))
      |SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY pair
      |ORDER BY pair_count DESC, pair
      |LIMIT 30""".stripMargin

  /** Adjacent-symbol pair counts over a (sym, wfreq) vocabulary, where sym
    * is a space-separated symbol string — the inner statistic of the BPE
    * trainer. Words that have collapsed to one symbol stop producing pairs
    * (the `size > 1` filter also keeps `sequence` ascending). */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("wfreq"), split(col("sym"), " ").as("a"))
      .filter(size(col("a")) > 1)
      .select(col("wfreq"), col("a"),
        explode(expr("sequence(1, size(a) - 1)")).as("i"))
      .select(concat(expr("element_at(a, i)"), lit(" "),
        expr("element_at(a, i + 1)")).as("pair"), col("wfreq"))
      .groupBy(col("pair")).agg(sum(col("wfreq")).as("pair_count"))

  /** The BPE trainer LOOP over an initial (sym, wfreq) vocabulary, `rounds`
    * rounds: count adjacent pairs, pick the argmax pair (count desc, pair
    * asc — fully deterministic), apply the merge, recount. Output is the
    * top-5 pair table per round; each round's rank-1 row IS the chosen
    * merge, so the result pins both the merge choices and the post-merge
    * statistics.
    *
    * Per round the driver collects exactly ONE row (the argmax pair) and
    * stamps it into the next round's plan — the same driver-per-round shape
    * as k-means centroid refresh; each round touches only the vocabulary.
    * Merge application is sentinel-padded left-to-right non-overlapping
    * `replace`, scanning continuing AFTER each replacement — so a run
    * "a a a a" merges to "aa a a", not "aa aa" — identical semantics in the
    * engine and the oracle, and the standard greedy BPE scan;
    * CurationLawsSpec pins the convention against an independent reference.
    * At production scale rounds run to a vocab budget (~50k merges). */
  private[graft] def bpeTrainRounds(vocab0: DataFrame, rounds: Int): DataFrame = {
    var vocab = graft.operators.Lineage.truncate(vocab0)
    val perRound = scala.collection.mutable.Buffer.empty[DataFrame]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = graft.operators.Lineage.truncate(bpePairCounts(vocab))
      // a vocabulary can run out of adjacent pairs before the round budget
      // (every word reduced to a single symbol) — stop at the rounds
      // actually completed instead of failing on the missing argmax
      counts.orderBy(col("pair_count").desc, col("pair"))
        .limit(1).collect().headOption match {
        case None => exhausted = true
        case Some(argmax) =>
          val top = argmax.getString(0)
          val merged = top.replace(" ", "")
          vocab = graft.operators.Lineage.truncate(vocab.select(
            trim(expr(s"replace(concat(' ', sym, ' '), ' $top ', ' $merged ')")).as("sym"),
            col("wfreq")))
          perRound += counts.orderBy(col("pair_count").desc, col("pair")).limit(5)
            .select(lit(round.toLong).as("round"), col("pair"), col("pair_count"))
          round += 1
      }
    }
    // zero completed rounds (vocab already all single symbols): the empty
    // result with the round/pair/pair_count schema, not an exception
    perRound.reduceOption(_ unionByName _).getOrElse(
      bpePairCounts(vocab).limit(0)
        .select(lit(0L).as("round"), col("pair"), col("pair_count")))
  }

  def txtBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))
    bpeTrainRounds(words
      .select(trim(array_join(split(col("word"), ""), " ")).as("sym"), col("wfreq")),
      rounds = 3)
      .orderBy(col("round"), col("pair_count").desc, col("pair"))
  }

  val txtBpeTrainOracle: String = {
    def pairCte(v: String, p: String, c: String): String =
      s"""$p AS (
         |  SELECT a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1] AS pair, wfreq
         |  FROM (SELECT str_split(sym, ' ') AS a, wfreq FROM $v) s,
         |       unnest(range(1, len(a))) AS u(i)),
         |$c AS (SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS pair_count
         |       FROM $p GROUP BY pair)""".stripMargin
    def mergeCte(vIn: String, t: String, c: String, vOut: String): String =
      s"""$t AS (SELECT pair FROM $c ORDER BY pair_count DESC, pair LIMIT 1),
         |$vOut AS (
         |  SELECT trim(replace(' ' || sym || ' ',
         |    ' ' || (SELECT pair FROM $t) || ' ',
         |    ' ' || replace((SELECT pair FROM $t), ' ', '') || ' ')) AS sym, wfreq
         |  FROM $vIn)""".stripMargin
    s"""WITH words AS (
       |  SELECT w AS word, COUNT(*) AS wfreq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
       |    FROM documents) t
       |  WHERE length(w) >= 2 GROUP BY w),
       |v1 AS (SELECT array_to_string(str_split(word, ''), ' ') AS sym, wfreq FROM words),
       |${pairCte("v1", "p1", "c1")},
       |${mergeCte("v1", "t1", "c1", "v2")},
       |${pairCte("v2", "p2", "c2")},
       |${mergeCte("v2", "t2", "c2", "v3")},
       |${pairCte("v3", "p3", "c3")}
       |SELECT round, pair, pair_count FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, pair, pair_count FROM
       |    (SELECT pair, pair_count FROM c1 ORDER BY pair_count DESC, pair LIMIT 5) x1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), pair, pair_count FROM
       |    (SELECT pair, pair_count FROM c2 ORDER BY pair_count DESC, pair LIMIT 5) x2
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), pair, pair_count FROM
       |    (SELECT pair, pair_count FROM c3 ORDER BY pair_count DESC, pair LIMIT 5) x3) u
       |ORDER BY round, pair_count DESC, pair""".stripMargin
  }

  // ---- retrieval: BM25 ranking ----------------------------------------------

  /** Okapi BM25 top-k document ranking for a fixed 3-term query (k1=1.2,
    * b=0.75) — the retrieval scorer used for corpus quality mining and
    * hard-negative selection. Float determinism across engines: ln/pow are
    * bit-identical between the JVM and DuckDB on this platform (probed), all
    * other arithmetic is IEEE ops in an identical expression tree, and the
    * per-term contributions are summed as FIXED-ORDER column additions (a
    * row-wise SUM would be partition-order-dependent). Shape at scale: one
    * keyed shuffle for per-doc term frequencies, one for doc lengths, two
    * single-row aggregates broadcast onto the scored stream, TakeOrdered
    * top-k. tf = 0 terms contribute exactly 0 (0/positive), so only docs
    * matching at least one term are scored — the semi-join a search engine
    * would do with an inverted index. */
  def txtBm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(length(col("tok")) >= 2)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val scal = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = toks.filter(col("tok").isin("data", "query", "vector"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("tok") === "data", 1L).otherwise(0L)).as("tf1"),
        sum(when(col("tok") === "query", 1L).otherwise(0L)).as("tf2"),
        sum(when(col("tok") === "vector", 1L).otherwise(0L)).as("tf3"))
    val dfs = tf.agg(
      sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
      sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
      sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
    // identical expression tree on both sides: see the oracle text
    def term(tfc: Column, dfc: Column): Column = {
      val idf = log((col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0))
      val dlNorm = col("dl") / (col("tot_dl").cast(DoubleType) / col("n_docs"))
      idf * ((tfc * lit(2.2)) / (tfc + lit(1.2) * (lit(0.25) + (lit(0.75) * dlNorm))))
    }
    tf.join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scal))
      .crossJoin(broadcast(dfs))
      .select(col("doc_id"), col("dl"),
        (term(col("tf1"), col("df1")) + term(col("tf2"), col("df2")) +
          term(col("tf3"), col("df3"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val txtBm25Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, w AS tok FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) t
      |  WHERE length(w) >= 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |scal AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
      |tf AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
      |    CAST(SUM(CASE WHEN tok = 'query' THEN 1 ELSE 0 END) AS BIGINT) AS tf2,
      |    CAST(SUM(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf3
      |  FROM toks WHERE tok IN ('data', 'query', 'vector') GROUP BY doc_id),
      |dfs AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
      |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
      |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
      |  FROM tf)
      |-- NOTE every literal is ::DOUBLE: a bare 2.2 is DECIMAL in this engine and
      |-- e.g. tf1 * 2.2 would be computed EXACTLY in decimal, drifting an ulp
      |-- from the engine-side double arithmetic.
      |SELECT t.doc_id, d.dl,
      |  ln((s.n_docs - f.df1 + 0.5::DOUBLE) / (f.df1 + 0.5::DOUBLE) + 1.0::DOUBLE)
      |    * ((t.tf1 * 2.2::DOUBLE) / (t.tf1 + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE *
      |        (d.dl / (CAST(s.tot_dl AS DOUBLE) / s.n_docs)))))) +
      |  ln((s.n_docs - f.df2 + 0.5::DOUBLE) / (f.df2 + 0.5::DOUBLE) + 1.0::DOUBLE)
      |    * ((t.tf2 * 2.2::DOUBLE) / (t.tf2 + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE *
      |        (d.dl / (CAST(s.tot_dl AS DOUBLE) / s.n_docs)))))) +
      |  ln((s.n_docs - f.df3 + 0.5::DOUBLE) / (f.df3 + 0.5::DOUBLE) + 1.0::DOUBLE)
      |    * ((t.tf3 * 2.2::DOUBLE) / (t.tf3 + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE *
      |        (d.dl / (CAST(s.tot_dl AS DOUBLE) / s.n_docs)))))) AS score
      |FROM tf t
      |JOIN dl d USING (doc_id)
      |CROSS JOIN scal s
      |CROSS JOIN dfs f
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  // ---- weighted sampling ----------------------------------------------------

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each doc draws u in (0,1) from the top 52
    * bits of md5(doc_id) — 52 so the integer is exactly representable in a
    * double — and the k docs with the largest u^(1/weight) ARE a weighted
    * sample without replacement. Hash-derived u makes the "random" draw
    * reproducible across engines, runs, and retries (the property that
    * matters when a 100 TB sampling job restarts); weight = n_chars, always
    * positive in this corpus. Per-row compute plus a TakeOrdered top-k:
    * per-partition heaps, no global sort, no shuffle of the corpus. */
  def smpWeighted(spark: SparkSession, dir: String): DataFrame = {
    val u = (expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 13), 16, 10) AS BIGINT)") +
      lit(0.5)) / lit(4503599627370496.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        // the A-Res limit for weight -> 0 is key -> 0 (never sampled);
        // guarded because ANSI throws on the 1/0 inside pow
        when(col("n_chars") > 0, pow(u, lit(1.0) / col("n_chars")))
          .otherwise(lit(0.0)).as("samp_key"))
      .orderBy(col("samp_key").desc, col("doc_id"))
      .limit(50)
  }

  val smpWeightedOracle: String =
    """SELECT doc_id, lang, n_chars,
      |  pow((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 0.5)
      |        / 4503599627370496.0,
      |      1.0 / n_chars) AS samp_key
      |FROM documents
      |ORDER BY samp_key DESC, doc_id
      |LIMIT 50""".stripMargin

  // ---- mergeable quantile sketch --------------------------------------------

  /** The [[graft.functions.Udafs.KllSketch]] quantile sketch over the
    * events value column, validated in-plan the way `txt_heavyhitters`
    * validates Misra-Gries: the per-quantile estimates themselves are
    * partition-order-dependent (any mergeable sketch's are), but the KLL
    * rank-error INVARIANT is not — for target rank t = ceil(q·n), the
    * extracted estimate v must satisfy count(x ≤ v) ≥ t − err and
    * count(x < v) ≤ t − 1 + err, where err is the sketch's own accumulated
    * compaction bound. Capacity 128 sits far below the event count, so
    * compactions (and the bound) are genuinely exercised. The output
    * (q, n, kll_ok) is deterministic; the oracle states every row checks
    * out. One pass for the sketch + one for the rank counts against the
    * broadcast 5-row quantile frame — both scale-free in state. */
  def aggKll(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Udafs
    val kll = udaf(Udafs.KllSketch)
    val kllAt = udf(Udafs.kllValueAtRank _)
    val vals = Tables.events(spark, dir)
      .select(col("value")).filter(col("value").isNotNull)
    val sk = vals.agg(kll(col("value")).as("sk"))
    val qs = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val qframe = sk
      .select(col("sk"), explode(array(qs.map(lit): _*)).as("q"))
      .select(col("q"), col("sk.n").as("n"), col("sk.err").as("err"),
        greatest(lit(1L), ceil(col("q") * col("sk.n")).cast(LongType)).as("t"),
        col("sk.levels").as("levels"))
      .withColumn("est", kllAt(col("levels"), col("t")))
      .drop("levels")
    vals.crossJoin(broadcast(qframe))
      .groupBy(col("q"), col("n"), col("err"), col("t"), col("est"))
      .agg(count(when(col("value") <= col("est"), 1)).as("n_le"),
        count(when(col("value") < col("est"), 1)).as("n_lt"))
      .select(col("q"), col("n"),
        (col("n_le") >= col("t") - col("err") &&
          col("n_lt") <= col("t") - 1 + col("err")).as("kll_ok"))
      .orderBy(col("q"))
  }

  val aggKllOracle: String =
    """SELECT CAST(q AS DOUBLE) AS q,
      |  (SELECT COUNT(value) FROM events) AS n,
      |  true AS kll_ok
      |FROM (VALUES (0.05), (0.25), (0.5), (0.75), (0.95)) t(q)
      |ORDER BY q""".stripMargin

  // ---- count-min sketch -------------------------------------------------------

  /** Count-Min sketch (Cormode & Muthukrishnan '05) over the token stream —
    * the second mergeable-sketch family, and unlike KLL/Misra-Gries it is
    * MERGE-ORDER-INDEPENDENT (cells are plain sums), so the whole sketch is
    * hash-exact against an oracle that replays it: d=3 portable hash rows ×
    * w=64 cells, each term occurrence incrementing one cell per row, and
    * est(term) = min over rows of its cell — never an undercount, collisions
    * only inflate. The Spark shape IS the scale shape: the cell table is a
    * map-side-combined groupBy bounded at d·w = 192 rows total regardless
    * of corpus size, then a broadcast join back onto the distinct terms.
    * Width 64 sits far below the vocabulary, so collisions (and the gate's
    * bite) are real. */
  def aggCms(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions.{MinhashA, MinhashB, MinhashP}
    val d = 3
    val w = 64
    // one md5 per occurrence; the d row-hashes derive from it by the
    // multiply-mod family (portable — the same trick minhashSignatures
    // uses). Hashing per occurrence is the honest stream shape: CM exists
    // precisely for keyspaces too hot to aggregate exactly first.
    def cellCol(j: Int): Column =
      ((lit(MinhashA(j)) * col("h") + lit(MinhashB(j))) % MinhashP) % w
    def withCells(df: DataFrame): DataFrame = df
      .withColumn("h", TextFunctions.hash64(col("term")) % MinhashP)
      .select(df.columns.map(col) :+
        explode(array((0 until d).map(j =>
          struct(lit(j).as("j"), cellCol(j).as("cell"))): _*)).as("jc"): _*)
      .withColumn("j", col("jc.j")).withColumn("cell", col("jc.cell"))
      .drop("jc")
    val terms = Tables.documents(spark, dir)
      .select(TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
      .select(explode(col("t")).as("term"))
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    val cells = withCells(terms)
      .groupBy(col("j"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
    withCells(exact).join(broadcast(cells), Seq("j", "cell"))
      .groupBy(col("term"), col("true_cnt"))
      .agg(min(col("cnt")).as("est"))
      .select(col("term"), col("true_cnt"), col("est"),
        (col("est") >= col("true_cnt")).as("never_undercounts"))
      .orderBy(col("term"))
  }

  val aggCmsOracle: String = {
    import TextFunctions.{MinhashA, MinhashB, MinhashP}
    val norm = TextFunctions.sql.normalize("text")
    val a = MinhashA.take(3).mkString("[", ", ", "]")
    val b = MinhashB.take(3).mkString("[", ", ", "]")
    val h = s"(('0x' || substr(md5(term), 1, 15))::BIGINT) % $MinhashP"
    s"""WITH t AS (
       |  SELECT string_split_regex(trim($norm), '\\s+') AS t FROM documents),
       |terms AS (SELECT unnest(t) AS term FROM t),
       |exact AS (SELECT term, COUNT(*) AS true_cnt FROM terms GROUP BY 1),
       |keyed AS (
       |  SELECT term, true_cnt, j,
       |    (($a[j+1] * ($h) + $b[j+1]) % $MinhashP) % 64 AS cell
       |  FROM exact CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js),
       |cells AS (
       |  SELECT j, cell, SUM(true_cnt) AS cnt
       |  FROM keyed GROUP BY 1, 2),
       |est AS (
       |  SELECT k.term, k.true_cnt, MIN(c.cnt) AS est
       |  FROM keyed k JOIN cells c ON k.j = c.j AND k.cell = c.cell
       |  GROUP BY 1, 2)
       |SELECT term, true_cnt, CAST(est AS BIGINT) AS est,
       |  est >= true_cnt AS never_undercounts
       |FROM est ORDER BY term""".stripMargin
  }

  // ---- deterministic bootstrap resampling ------------------------------------

  /** Poisson bootstrap replicates (Chamandy et al., Google 2012 — "Estimating
    * uncertainty for massive data streams"): each (doc, replicate) draws a
    * Poisson(1) multiplicity, so B resamples of an N-doc corpus stream in
    * one pass with no global state — the standard way to bootstrap
    * confidence intervals at corpus scale, where true with-replacement
    * sampling would need N draws against a shared counter. Draws are
    * DETERMINISTIC (the smp_stratified md5 contract): u = hash64(doc:rep)
    * / 2^60 inverted through the Poisson(1) CDF steps, so any engine —
    * and any rerun — produces the byte-identical resample. Per-row
    * compute + one keyed agg; replicate stats (docs drawn, multiplicity
    * mass, char mass) are exact integers. */
  def smpBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val b = 3
    val reps = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(array((1 to b).map(lit): _*)).as("rep"))
      .withColumn("u",
        TextFunctions.hash64(concat_ws(":", col("doc_id"), col("rep")))
          .cast(DoubleType) / lit(math.pow(2, 60)))
      .withColumn("cnt",
        when(col("u") < 0.36787944117144233, 0L)
          .when(col("u") < 0.7357588823428847, 1L)
          .when(col("u") < 0.9196986029286058, 2L)
          .when(col("u") < 0.9810118431238462, 3L)
          .when(col("u") < 0.9963401531726563, 4L)
          .otherwise(5L))
    reps.groupBy(col("rep"), col("lang"))
      .agg(sum(col("cnt")).as("n_drawn"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
        sum(col("cnt") * col("n_chars")).as("char_mass"))
      .orderBy(col("rep"), col("lang"))
  }

  val smpBootstrapOracle: String = {
    val h = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT)"
    s"""WITH reps AS (
       |  SELECT doc_id, lang, n_chars, rep,
       |    CAST($h AS DOUBLE) / POW(2, 60) AS u
       |  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS rep) rs),
       |cnts AS (
       |  SELECT rep, lang, n_chars,
       |    CASE WHEN u < 0.36787944117144233 THEN 0
       |         WHEN u < 0.7357588823428847 THEN 1
       |         WHEN u < 0.9196986029286058 THEN 2
       |         WHEN u < 0.9810118431238462 THEN 3
       |         WHEN u < 0.9963401531726563 THEN 4
       |         ELSE 5 END AS cnt
       |  FROM reps)
       |SELECT rep, lang,
       |  CAST(SUM(cnt) AS BIGINT) AS n_drawn,
       |  CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
       |  CAST(SUM(cnt * n_chars) AS BIGINT) AS char_mass
       |FROM cnts GROUP BY rep, lang
       |ORDER BY rep, lang""".stripMargin
  }

  // ---- collocation mining (lift-ranked bigrams) ------------------------------

  /** Statistical collocation mining — the phrase-discovery step vocabulary
    * and tokenizer pipelines run (Mikolov et al. NIPS'13 uses the same
    * score family to merge phrases): adjacent bigrams ranked by LIFT,
    * n_ab·N / (n_a·n_b). Lift is a strictly monotone transform of PMI
    * (PMI = ln lift), so ranking by it avoids ln entirely: every factor is
    * an exact integer count below 2^53 and one IEEE division is correctly
    * rounded, making scores bit-exact cross-engine with no rounding knob —
    * where an ln-based score would ride on libm's last ulp and could flip
    * near-equal ranks. A support floor (n_ab ≥ 5) applies BEFORE scoring,
    * the standard guard against degenerate 1/1 pairs.
    *
    * Scale shape: pair and unigram counts are map-side-combined two-phase
    * aggs over per-row generated streams (no window, no shuffle before the
    * partial agg); both count tables are vocabulary-bounded and broadcast
    * onto the pair table (the txt_lmscore pattern); output is top-k via
    * TakeOrdered, never a global sort. */
  def txtCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = uni.agg(sum(col("n_w")).as("n_total"))
    // the size≥2 guard matters: Spark's sequence(1, 0) steps DOWNWARD
    // (yielding index 0 → error), where DuckDB's generate_series(1, 0) is
    // empty — single-token docs must be excluded before the pair build
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("n_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("n_b"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab") * col("n_total")).cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType)).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val txtCollocationsOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH t AS (
       |  SELECT string_split_regex(trim($norm), '\\s+') AS t FROM documents),
       |uni AS (
       |  SELECT w, COUNT(*) AS n_w FROM (SELECT unnest(t) AS w FROM t) x GROUP BY 1),
       |total AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni),
       |pairs AS (
       |  SELECT w1, w2, COUNT(*) AS n_ab FROM (
       |    SELECT t[i] AS w1, t[i+1] AS w2
       |    FROM t, unnest(generate_series(1, len(t) - 1)) AS s(i)) x
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
       |SELECT w1, w2, n_ab, u1.n_w AS n_a, u2.n_w AS n_b,
       |  CAST(n_ab * n_total AS DOUBLE) / CAST(u1.n_w * u2.n_w AS DOUBLE) AS lift
       |FROM pairs
       |JOIN uni u1 ON pairs.w1 = u1.w
       |JOIN uni u2 ON pairs.w2 = u2.w
       |CROSS JOIN total
       |ORDER BY lift DESC, w1, w2 LIMIT 30""".stripMargin
  }

  // ---- KMV theta sketch (distinct counting with set operations) --------------

  /** K-minimum-values distinct sketch with theta-style set operations
    * (Bar-Yossef et al. RANDOM'02; Beyer et al. SIGMOD'07 — the KMV/theta
    * family Ballista exposes only as APPROX_DISTINCT's HLL). Unlike HLL,
    * the KMV state (the K smallest distinct md5-derived hashes) supports
    * union AND intersection estimates, and — because the K minima of a
    * deterministic hash are themselves deterministic — the whole sketch
    * replays exactly in the oracle: a full hash gate, like `agg_cms`, not
    * an invariant gate.
    *
    * Scale shape: one distinct on (segment, hash) — the only shuffle that
    * sees the stream — then the K minima per segment through the
    * [[graft.operators.TopK]] bounded-heap operator (map-side partial
    * heaps, at most K rows per segment per partition cross the wire; no
    * Window, no global sort). Set ops run on sketch STATE (≤ 2K rows),
    * never on the stream: union sketch = K smallest of the two K-min
    * sets; intersection via the union sketch's in-both fraction
    * (est ∩ = ρ · est ∪). Estimator: exact count when a sketch holds the
    * whole set (n < K), else (K−1)·2^60 / h_(K) — hash64 is uniform on
    * [0, 2^60). The exact distinct counts ride along per measure, so the
    * output exposes estimate vs truth side by side. */
  def aggTheta(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val scale = (k - 1).toDouble * math.pow(2, 60) // 63·2^60, exact double
    val dh = Tables.events(spark, dir)
      .select(col("event_type"),
        TextFunctions.hash64(col("user_id").cast(StringType)).as("h"))
      .distinct()
    val kmin = graft.operators.TopK.perKey(dh, Seq("event_type"), Seq("h" -> true), k)
    def est(nSk: Column, kth: Column): Column =
      when(nSk < k, nSk.cast(DoubleType))
        .otherwise(lit(scale) / kth.cast(DoubleType))
    val segEst = kmin.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
      .select(concat(lit("seg:"), col("event_type")).as("measure"),
        est(col("n_sk"), col("kth")).as("est"))
    val segExact = dh.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_distinct"))
      .select(concat(lit("seg:"), col("event_type")).as("measure"),
        col("exact_distinct"))
    // union/intersection of the click and purchase sketches, on state only
    val cp = kmin.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("h"))
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("in_a"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("in_b"))
    val uk = graft.operators.TopK.perKey(
      cp.withColumn("g", lit(1)), Seq("g"), Seq("h" -> true), k)
    val uStats = uk.agg(count(lit(1)).as("n_u"), max(col("h")).as("kth"),
      sum((col("in_a") * col("in_b")).cast(LongType)).as("n_both"))
    val unionRow = uStats.select(lit("union:click+purchase").as("measure"),
      est(col("n_u"), col("kth")).as("est"))
    val interRow = uStats.select(lit("inter:click+purchase").as("measure"),
      when(col("n_u") < k, col("n_both").cast(DoubleType))
        .otherwise(col("n_both").cast(DoubleType) * (lit(scale) / col("kth").cast(DoubleType)) / k)
        .as("est"))
    val eu = dh.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("h"))
      .agg(countDistinct(col("event_type")).as("ns"))
    val unionExact = eu.agg(count(lit(1)).as("exact_distinct"))
      .select(lit("union:click+purchase").as("measure"), col("exact_distinct"))
    val interExact = eu.filter(col("ns") === 2)
      .agg(count(lit(1)).as("exact_distinct"))
      .select(lit("inter:click+purchase").as("measure"), col("exact_distinct"))
    segEst.unionByName(unionRow).unionByName(interRow)
      .join(segExact.unionByName(unionExact).unionByName(interExact), Seq("measure"))
      .orderBy(col("measure"))
  }

  val aggThetaOracle: String = {
    val h = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"
    s"""WITH dh AS (SELECT DISTINCT event_type, $h AS h FROM events),
       |kmin AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM dh) WHERE rn <= 64),
       |seg AS (SELECT event_type, COUNT(*) AS n_sk, MAX(h) AS kth
       |        FROM kmin GROUP BY 1),
       |seg_est AS (
       |  SELECT 'seg:' || event_type AS measure,
       |    CASE WHEN n_sk < 64 THEN CAST(n_sk AS DOUBLE)
       |         ELSE 63 * POW(2, 60) / CAST(kth AS DOUBLE) END AS est
       |  FROM seg),
       |seg_exact AS (
       |  SELECT 'seg:' || event_type AS measure, COUNT(*) AS exact_distinct
       |  FROM dh GROUP BY 1),
       |cp AS (
       |  SELECT h,
       |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
       |  FROM kmin WHERE event_type IN ('click', 'purchase') GROUP BY 1),
       |uk AS (
       |  SELECT h, in_a, in_b FROM (
       |    SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rn FROM cp)
       |  WHERE rn <= 64),
       |ustats AS (
       |  SELECT COUNT(*) AS n_u, MAX(h) AS kth,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
       |  FROM uk),
       |eu AS (
       |  SELECT h, COUNT(DISTINCT event_type) AS ns
       |  FROM dh WHERE event_type IN ('click', 'purchase') GROUP BY 1),
       |est_rows AS (
       |  SELECT measure, est FROM seg_est
       |  UNION ALL
       |  SELECT 'union:click+purchase',
       |    CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
       |         ELSE 63 * POW(2, 60) / CAST(kth AS DOUBLE) END
       |  FROM ustats
       |  UNION ALL
       |  SELECT 'inter:click+purchase',
       |    CASE WHEN n_u < 64 THEN CAST(n_both AS DOUBLE)
       |         ELSE CAST(n_both AS DOUBLE)
       |              * (63 * POW(2, 60) / CAST(kth AS DOUBLE)) / 64 END
       |  FROM ustats),
       |exact_rows AS (
       |  SELECT measure, exact_distinct FROM seg_exact
       |  UNION ALL
       |  SELECT 'union:click+purchase', COUNT(*) FROM eu
       |  UNION ALL
       |  SELECT 'inter:click+purchase', COUNT(*) FILTER (WHERE ns = 2) FROM eu)
       |SELECT e.measure, e.est, x.exact_distinct
       |FROM est_rows e JOIN exact_rows x ON e.measure = x.measure
       |ORDER BY e.measure""".stripMargin
  }

  // ---- winnowing fingerprints ------------------------------------------------

  /** Winnowed-fingerprint near-dup pairs ([[graft.operators.Winnow]],
    * Schleimer et al. SIGMOD'03): k=4-token grams hashed, window of w=5,
    * min hash per window, docs sharing ≥2 surviving fingerprints paired
    * through the inverted index with a df≤50 stop-fingerprint cap. The
    * oracle replays the exact same selection from list primitives —
    * md5 over identical normalized grams, list_min over the same windows —
    * so the gate checks the algorithm, not a shared implementation. */
  def dedWinnow(spark: SparkSession, dir: String): DataFrame =
    // No final orderBy (round 11) — see dedCluster; the compare sorts.
    graft.operators.Winnow.pairs(Tables.documents(spark, dir), "doc_id", "text")

  val dedWinnowOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim($norm), '\\s+') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, len(t) - 3 AS ng,
       |    list_transform(generate_series(1, len(t) - 3),
       |      i -> md5(array_to_string(t[i:i+3], ' '))) AS hs
       |  FROM t WHERE len(t) >= 4),
       |f AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(1, ng - 4)),
       |    i -> list_min(hs[i:least(i+4, ng)])))) AS fp
       |  FROM g),
       |keep AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 50),
       |ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM p
       |WHERE n_shared >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- DSIR-style importance-weighted data selection ------------------------

  /** Hashed-feature buckets. */
  private val DsirK = 32
  /** Docs kept (top weights). */
  private val DsirTop = 100

  /** Importance-weighted data selection (the DSIR recipe, Xie et al.
    * NeurIPS'23): score every document by how target-like its hashed
    * bag-of-words features are, where the target distribution is estimated
    * from the English sub-corpus and the source from the whole corpus.
    * Per bucket b, the smoothed rate ratio r_b = ((n_t+1)(N_s+K)) /
    * ((n_s+1)(N_t+K)) is ONE IEEE division of two exact-integer products
    * (bit-exact, no logarithm — the linearized-score variant); a document
    * scores Σ_b c_b·r_b, folded in bucket order on both engines
    * (aggregate over the sorted struct array vs list_reduce over
    * list(... ORDER BY b)), so the double sum is bit-identical.
    *
    * Scale shape: bucket count tables are K rows total — computed with one
    * map-side-combined agg over the token stream and broadcast back; per-doc
    * scoring is one keyed (doc_id, b) agg plus one keyed doc agg; selection
    * is TakeOrdered top-[[DsirTop]], never a global sort. Nothing driver-side.
    * Integer products stay below 2^53 up to ~10^8 corpus tokens per the
    * docstring bound (N_s·n_t ≤ N_s²); beyond that, rescale to per-million
    * counts before the ratio. */
  def curDsir(spark: SparkSession, dir: String): DataFrame = {
    // Round 15 note: a memory-bounded width was tried here (toks fans out
    // into two shuffled consumers) and measured flat-to-worse than full
    // width (1.16 -> 1.24-1.53 s at sf0.1 on 32 cores): the
    // normalize+tokenize transform is heavy per row. Spread now has one
    // width for every site, memory-bounded where memory binds, so at
    // local[32] on 8 GB this site runs at 12: not yet re-measured there.
    val toks = graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
      .select(col("doc_id"), col("lang"),
        (TextFunctions.hash64(col("tok")) % DsirK).as("b"))
    val counts = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("n_s"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
    val tot = counts.agg(sum(col("n_s")).as("ns"), sum(col("n_t")).as("nt"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (((col("n_t") + 1) * (col("ns") + DsirK)).cast(DoubleType) /
          ((col("n_s") + 1) * (col("nt") + DsirK)).cast(DoubleType)).as("r"))
    toks.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(rates), Seq("b"))
      .select(col("doc_id"), col("lang"),
        struct(col("b"), (col("c").cast(DoubleType) * col("r")).as("term")).as("bt"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(aggregate(array_sort(collect_list(col("bt"))), lit(0.0),
        (acc, x) => acc + x.getField("term")).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(DsirTop)
  }

  val curDsirOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    val h64 = TextFunctions.sql.hash64("tok")
    s"""WITH u AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split_regex(trim($norm), '\\s+')) AS tok
       |  FROM documents),
       |t AS (SELECT doc_id, lang, $h64 % $DsirK AS b FROM u),
       |c AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_s,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
       |  FROM t GROUP BY b),
       |tot AS (
       |  SELECT CAST(SUM(n_s) AS BIGINT) AS ns, CAST(SUM(n_t) AS BIGINT) AS nt
       |  FROM c),
       |r AS (
       |  SELECT b, CAST((n_t + 1) * (ns + $DsirK) AS DOUBLE) /
       |            CAST((n_s + 1) * (nt + $DsirK) AS DOUBLE) AS r
       |  FROM c CROSS JOIN tot),
       |db AS (
       |  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM t GROUP BY 1, 2, 3),
       |s AS (
       |  SELECT doc_id, lang,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(c AS DOUBLE) * r.r ORDER BY db.b)), (a, x) -> a + x)
       |      AS dsir_score
       |  FROM db JOIN r ON db.b = r.b GROUP BY 1, 2)
       |SELECT doc_id, lang, dsir_score FROM s
       |ORDER BY dsir_score DESC, doc_id LIMIT $DsirTop""".stripMargin
  }

  // ---- lexical-diversity quality score --------------------------------------

  /** Lexical diversity / repetitiveness score per document: Gini-Simpson
    * index 1 − Σ(c_i/n)² over token frequencies, computed as the exact
    * rational (n² − Σc_i²)/n² — deliberately log-free (unlike Shannon
    * entropy, whose libm ln is not reproducible across engines), so the
    * score is exact integer arithmetic plus ONE IEEE division: bit-exact
    * and partitioning-invariant. Low diversity ⇔ heavy token repetition,
    * the Gopher-style repetition filter signal. Also emits the top-term
    * mass max(c)/n (the other standard repetition screen).
    *
    * Scale shape: one (doc, term) keyed agg then one doc keyed agg, both
    * map-side combinable; no broadcast, no window, no sort beyond the
    * final presentation ORDER BY. */
  def txtDiversity(spark: SparkSession, dir: String): DataFrame = {
    val termCounts = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    termCounts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("c2"),
        max(col("c")).as("cmax"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        ((col("n") * col("n") - col("c2")).cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("gini_diversity"),
        (col("cmax").cast(DoubleType) / col("n").cast(DoubleType)).as("top_term_frac"))
      .orderBy(col("doc_id"))
  }

  val txtDiversityOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim($norm), '\\s+')) AS tok
       |  FROM documents),
       |tc AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM u GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(SUM(c * c) AS BIGINT) AS c2, CAST(MAX(c) AS BIGINT) AS cmax
       |  FROM tc GROUP BY doc_id)
       |SELECT doc_id, n AS n_tokens,
       |  CAST(n * n - c2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini_diversity,
       |  CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE) AS top_term_frac
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // ---- readability scoring --------------------------------------------------

  /** Flesch-Kincaid grade level per document — the classic readability
    * quality signal (words/sentence, syllables/word). Sentences are
    * terminal-punctuation runs on the RAW text (floored at 1), syllables
    * are vowel-group runs on the normalized text — the standard regex
    * approximations, all exact integer counts. The grade formula is a fixed
    * IEEE sequence (two divisions + fixed-order fma chain) ⇒ bit-exact.
    * Pure per-row column arithmetic: no shuffle, no UDF. */
  def txtReadability(spark: SparkSession, dir: String): DataFrame = {
    val norm = TextFunctions.normalize(col("text"))
    graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        size(TextFunctions.tokens(norm)).cast(LongType).as("n_words"),
        greatest(expr("regexp_count(text, '[.!?]+')"), lit(1L)).as("n_sentences"),
        expr("regexp_count(" +
          "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), '\\\\s+', ' '))" +
          ", '[aeiouy]+')").as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(0.39) * (col("n_words").cast(DoubleType) / col("n_sentences").cast(DoubleType)) +
          lit(11.8) * (col("n_syllables").cast(DoubleType) / col("n_words").cast(DoubleType)) -
          lit(15.59)).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  val txtReadabilityOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim($norm), '\\s+')) AS BIGINT) AS n_words,
       |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
       |    CAST(len(regexp_extract_all($norm, '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) +
       |  CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) -
       |  CAST(15.59 AS DOUBLE) AS fk_grade
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---- tokenizer fertility --------------------------------------------------

  /** Tokenizer fertility per language — BPE-ish subword tokens per
    * whitespace word, the standard multilingual-tokenizer health metric
    * (high fertility ⇒ the language pays more sequence length per word).
    * Both token counts are exact integers from the registered codegen'd
    * counters; the per-language ratio is one exact-integer IEEE division.
    * One map-side-combined agg. */
  def txtFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe"),
        TextFunctions.tokenCount(col("text")).as("words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpe")).as("n_bpe"), sum(col("words")).as("n_words"))
      .select(col("lang"), col("n_docs"), col("n_bpe"), col("n_words"),
        (col("n_bpe").cast(DoubleType) / col("n_words").cast(DoubleType)).as("fertility"))
      .orderBy(col("lang"))

  val txtFertilityOracle: String = {
    val bpe = TextFunctions.sql.bpeTokenCount("text")
    val words = TextFunctions.sql.tokenCount("text")
    s"""WITH c AS (
       |  SELECT lang, $bpe AS bpe, $words AS words FROM documents)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(bpe) AS BIGINT) AS n_bpe, CAST(SUM(words) AS BIGINT) AS n_words,
       |  CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(words) AS DOUBLE) AS fertility
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- vocabulary coverage curve --------------------------------------------

  /** Top-k ranks reported (sized to the synthetic corpus's ~40-term
    * vocabulary; a web corpus would use 1e3..1e6 — the plan shape is
    * identical, a bounded TakeOrdered heap of max(CovKs) rows). */
  private val CovKs = Seq(5, 10, 25)

  /** Vocabulary coverage curve: what fraction of all token occurrences the
    * top-k most frequent terms cover, at k = 10/100/1000 — the Zipf
    * compressibility summary a tokenizer team reads before sizing a vocab.
    * Scale shape: the only global ordering is TakeOrdered over max(CovKs)
    * rows (bounded heap — the vocabulary itself is never globally sorted),
    * then a single-partition window over those k rows; term counts
    * map-side-combine; total is a 1-row broadcast. Coverage is one
    * exact-integer division per checkpoint. */
  def txtCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val total = terms.agg(sum(col("f")).as("tot"))
    val top = terms.orderBy(col("f").desc, col("tok")).limit(CovKs.max)
    val w = Window.orderBy(col("f").desc, col("tok"))
    top
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(col("f")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("rk").isin(CovKs.map(_.toLong): _*))
      .crossJoin(broadcast(total))
      .select(col("rk").as("k"), col("cum").as("n_covered"), col("tot").as("n_total"),
        (col("cum").cast(DoubleType) / col("tot").cast(DoubleType)).as("coverage"))
      .orderBy(col("k"))
  }

  val txtCoverageOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH t AS (
       |  SELECT unnest(string_split_regex(trim($norm), '\\s+')) AS tok
       |  FROM documents),
       |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM t GROUP BY tok),
       |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS tot FROM f),
       |top AS (SELECT tok, f FROM f ORDER BY f DESC, tok LIMIT ${CovKs.max}),
       |r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS rk,
       |    CAST(SUM(f) OVER (ORDER BY f DESC, tok
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM top)
       |SELECT rk AS k, cum AS n_covered, tot AS n_total,
       |  CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS coverage
       |FROM r CROSS JOIN tot WHERE rk IN (${CovKs.mkString(", ")})
       |ORDER BY k""".stripMargin
  }

  // ---- embedding norm screening ---------------------------------------------

  /** Embedding-norm hygiene screen: per label, the count of vectors whose
    * L2 norm falls outside the healthy band — the degenerate-embedding
    * detector run before any ANN indexing (zero vectors and exploded norms
    * poison cosine geometry). The squared norm folds the array
    * sequentially (array order — the one float-sum order both engines can
    * reproduce); sqrt is correctly rounded; band compares are exact. */
  def embNorms(spark: SparkSession, dir: String): DataFrame = {
    val sq = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))
    Tables.embeddings(spark, dir)
      .select(col("label"), sqrt(sq).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("norm") < 0.5 || col("norm") > 2.0, 1L).otherwise(0L)).as("n_outliers"),
        min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  val embNormsOracle: String =
    """WITH n AS (
      |  SELECT label,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS norm
      |  FROM embeddings)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN norm < 0.5 OR norm > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  MIN(norm) AS min_norm, MAX(norm) AS max_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  // ---- class-balanced downsampling ------------------------------------------

  /** Class-balanced downsampling: every language keeps exactly
    * min-class-count documents, selected by md5 rank (deterministic,
    * content-independent, reproducible on any engine) — the rebalancing
    * step before training a classifier on skewed labels. One keyed rank
    * window + a 1-row min broadcast; no global sort. */
  def smpBalanced(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val k = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt")).as("k"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(lit("b:"), col("doc_id").cast(StringType))), col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(k))
      .filter(col("rk") <= col("k"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val smpBalancedOracle: String =
    """WITH k AS (
      |  SELECT MIN(cnt) AS k FROM (
      |    SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)),
      |ranked AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('b:' || doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang FROM ranked CROSS JOIN k WHERE rk <= k
      |ORDER BY doc_id""".stripMargin

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "ded_cluster" -> ((dedCluster _, Some(dedClusterOracle))),
    "cur_dsir" -> ((curDsir _, Some(curDsirOracle))),
    "txt_diversity" -> ((txtDiversity _, Some(txtDiversityOracle))),
    "txt_readability" -> ((txtReadability _, Some(txtReadabilityOracle))),
    "txt_fertility" -> ((txtFertility _, Some(txtFertilityOracle))),
    "smp_balanced" -> ((smpBalanced _, Some(smpBalancedOracle))),
    "txt_coverage" -> ((txtCoverage _, Some(txtCoverageOracle))),
    "emb_norms" -> ((embNorms _, Some(embNormsOracle))),
    "agg_kll" -> ((aggKll _, Some(aggKllOracle))),
    "agg_cms" -> ((aggCms _, Some(aggCmsOracle))),
    "agg_theta" -> ((aggTheta _, Some(aggThetaOracle))),
    "txt_collocations" -> ((txtCollocations _, Some(txtCollocationsOracle))),
    "smp_bootstrap" -> ((smpBootstrap _, Some(smpBootstrapOracle))),
    "ded_winnow" -> ((dedWinnow _, Some(dedWinnowOracle))),
    "txt_quality" -> ((txtQuality _, Some(txtQualityOracle))),
    "txt_pii" -> ((txtPii _, Some(txtPiiOracle))),
    "smp_stratified" -> ((smpStratified _, Some(smpStratifiedOracle))),
    "pack_tokens" -> ((packTokens _, Some(packTokensOracle))),
    "emb_centroid" -> ((embCentroid _, Some(embCentroidOracle))),
    "emb_quantize" -> ((embQuantize _, Some(embQuantizeOracle))),
    "sim_kmeans" -> ((simKmeans _, Some(simKmeansOracle))),
    "txt_topterms" -> ((txtTopterms _, Some(txtTopTermsOracle))),
    "txt_heavyhitters" -> ((txtHeavyhitters _, Some(txtHeavyhittersOracle))),
    "cur_funnel" -> ((curFunnel _, Some(curFunnelOracle))),
    "txt_bpe_pairs" -> ((txtBpePairs _, Some(txtBpePairsOracle))),
    "txt_bpe_train" -> ((txtBpeTrain _, Some(txtBpeTrainOracle))),
    "txt_bm25" -> ((txtBm25 _, Some(txtBm25Oracle))),
    "smp_weighted" -> ((smpWeighted _, Some(smpWeightedOracle)))
  )
}
