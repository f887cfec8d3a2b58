package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-preparation suite — the last pipeline tier before training data is
  * fixed: semantic (embedding-cluster) deduplication, statistical-LM quality
  * scoring, and temperature-scaled domain mixing. All oracle-gated against
  * DuckDB with bit-exact float strategies (ordered left-fold sums, raw
  * prefilter before round, integer-exact count arithmetic).
  */
object ModelPrep {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- semantic dedup (SemDeDup) --------------------------------------------

  /** Cluster embeddings into IVF cells, near-dup pairs only within a cell,
    * keep the lowest id per semantic neighborhood. See
    * [[Similarity.semanticDedup]] for the scale analysis. */
  def dedSemantic(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(spark, dir), nCells = 16, threshold = 0.4)
      .orderBy(col("vec_id"))

  /** CTE fragment shared by the standalone oracle and cur_funnel2. */
  private[queries] val semCtes: String = {
    import Pipeline.sqlCosine
    s"""cent AS (
       |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${sqlCosine("c.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings c CROSS JOIN cent ct) t WHERE rn = 1),
       |dup AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE round(${sqlCosine("ea.embedding", "eb.embedding")}, 6) >= 0.4)""".stripMargin
  }

  val dedSemanticOracle: String =
    s"""WITH $semCtes
       |SELECT asg.vec_id, asg.cell_id, dup.vec_id IS NULL AS is_kept
       |FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
       |ORDER BY asg.vec_id""".stripMargin

  // ---- statistical-LM quality score -----------------------------------------

  /** Bigram language-model scoring (the CCNet-style quality filter,
    * arXiv:1911.00359 §4.3, with a corpus-trained add-one bigram LM standing
    * in for KenLM): per doc, the mean log P(w_i | w_{i-1}) under
    * P(w|prev) = (c(prev,w)+1) / (c(prev)+V). Low scores flag
    * incoherent/outlier text; the score doubles as a perplexity ranking
    * (ppl = exp(-avg_logp)).
    *
    * Scale design: counting is two map-side-combined keyed aggregations
    * (vocabulary- and bigram-bounded, not corpus-bounded); the count tables
    * broadcast back onto the token stream while they fit. At 100 TB the
    * bigram table outgrows broadcast and the count join's keys are
    * Zipf-skewed (every occurrence of "the" lands on one reducer) — that is
    * the AQE skew-join case (enabled in GraftSession; splits the hot
    * partition at runtime), with [[graft.operators.Skew.saltedJoin]] as the
    * deterministic fallback. The per-doc sum is a window keyed by doc_id.
    * Bit-exactness: each logp
    * is rounded to 9 decimals (absorbs sub-ulp libm drift between engines),
    * then summed in token order via a running window sum — matching the
    * oracle's sequential list_reduce left fold; a plain SUM would be
    * partition-order-dependent in Spark and segment-tree-shaped in DuckDB. */
  def txtLmScore(spark: SparkSession, dir: String): DataFrame = {
    // Spread (round 15): tok2 fans out into four shuffled consumers, so a
    // wide spread multiplies each consumer stage's per-task overhead —
    // width 32 measured 1.18 s vs 0.49 s at width 8 on the same host, so
    // this site gains from Spread's memory bound where it narrows.
    val tok = graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
    val lagW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // Round 15 note: a Lineage.truncate of tok2 was tried (it has four
    // consumers — c1, cbi, vocab, the bi join side — each re-running the
    // explode+lag stage above the reused spread exchange) and MEASURED
    // SLOWER (jobs-sum 1.77 s → 3.05 s at sf0.1): the per-consumer
    // aggregations dominate, and reading the materialized 1M-row token
    // stream from checkpoint storage costs more than recomputing the cheap
    // explode+lag from the 0.85 MB compressed exchange — the opposite
    // trade from ngramJaccardPairs, whose shingle+md5 transform is the
    // expensive part. Kept as the recompute-per-consumer form.
    val tok2 = tok.withColumn("wprev", lag(col("w"), 1).over(lagW))
    val bi = tok2.filter(col("wprev").isNotNull)
    val c1 = tok2.groupBy(col("w")).agg(count(lit(1)).as("c1cnt"))
      .withColumnRenamed("w", "wprev")
    val cbi = bi.groupBy(col("wprev"), col("w")).agg(count(lit(1)).as("bicnt"))
    // Round 15 (guide §2.1): vocab = COUNT(DISTINCT w) = the number of c1
    // groups (token values are non-null, so count(wprev) over c1 is exactly
    // countDistinct(w) over tok2) — derived from c1's already-shuffled
    // partials via ReusedExchange instead of a fourth full scan of the
    // token stream.
    val vocab = c1.agg(count(col("wprev")).as("vocab"))
    val lp = bi
      .join(cbi, Seq("wprev", "w"))
      .join(c1, Seq("wprev"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        round(log((col("bicnt") + lit(1.0)) / (col("c1cnt") + col("vocab"))), 9).as("logp"))
    val sw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    lp
      .withColumn("run",
        sum(col("logp")).over(sw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(sw))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rn") === col("n"))
      .select(col("doc_id"), col("n").cast(LongType).as("n_bigrams"),
        (col("run") / col("n")).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** CTE fragment shared by the standalone oracle and cur_funnel2. */
  private[queries] val lmCtes: String = {
    val toks = TextFunctions.sql.tokens("text")
    s"""base AS (SELECT doc_id, $toks AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t FROM base),
       |tok2 AS (SELECT doc_id, pos, t[pos] AS w,
       |  CASE WHEN pos >= 2 THEN t[pos-1] END AS wprev FROM tok),
       |c1 AS (SELECT w, COUNT(*) AS cnt FROM tok2 GROUP BY w),
       |cbi AS (SELECT wprev, w, COUNT(*) AS cnt FROM tok2 WHERE pos >= 2 GROUP BY wprev, w),
       |v AS (SELECT COUNT(DISTINCT w) AS vocab FROM tok2),
       |lp AS (
       |  SELECT t.doc_id, t.pos,
       |    round(ln((cbi.cnt + 1.0) / (c1.cnt + v.vocab)), 9) AS logp
       |  FROM tok2 t JOIN cbi ON t.wprev = cbi.wprev AND t.w = cbi.w
       |    JOIN c1 ON t.wprev = c1.w CROSS JOIN v
       |  WHERE t.pos >= 2),
       |lmagg AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    list_reduce(list_prepend(0.0, list(logp ORDER BY pos)), (x, y) -> x + y) AS sum_lp
       |  FROM lp GROUP BY doc_id)""".stripMargin
  }

  val txtLmScoreOracle: String =
    s"""WITH $lmCtes
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, sum_lp / n_bigrams AS avg_logp
       |FROM lmagg ORDER BY doc_id""".stripMargin

  // ---- temperature-scaled domain mixture ------------------------------------

  /** Temperature-scaled language mixing (the multilingual sampling rule of
    * arXiv:1901.07291 §3.1 / mC4, alpha = 0.5): domain l gets sampling share
    * n_l^alpha / sum_m n_m^alpha of a 50%-of-corpus budget, which up-weights
    * tail languages and down-weights the head relative to natural frequency.
    * Docs fill each quota in md5(doc_id) order — the same deterministic,
    * engine-independent rule as smp_stratified, so the chosen set is
    * reproducible across runs, engines, and cluster layouts.
    *
    * Scale design: per-domain counts are one map-side-combined agg over a
    * 2-column projection; the quota table is domain-bounded (broadcast); the
    * only data-sized shuffle is the per-domain ranking window. sqrt is
    * IEEE-exact and the tiny denominator fold is ordered by lang, so quotas
    * are bit-identical on any engine. */
  def smpMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val stats = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"), sqrt(col("n_docs").cast(DoubleType)).as("wgt"))
    val byLang = Window.orderBy(col("lang"))
    val full = Window.partitionBy(lit(1))
    val tot = stats
      .withColumn("run",
        sum(col("wgt")).over(byLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(byLang))
      .withColumn("nl", count(lit(1)).over(full))
      .withColumn("n_total", sum(col("n_docs")).over(full))
      .filter(col("rn") === col("nl"))
      .select(col("run").as("denom"), col("n_total"))
    val quota = stats.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(col("n_total") * lit(0.5) * col("wgt") / col("denom"))
          .cast(LongType).as("quota"))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)), col("doc_id"))
    docs.withColumn("rk", row_number().over(rw))
      .join(broadcast(quota), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quota"), (col("rk") <= col("quota")).as("sampled"))
      .orderBy(col("doc_id"))
  }

  val smpMixtureOracle: String =
    """WITH lc AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
      |  list_reduce(list_prepend(0.0, list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
      |    (x, y) -> x + y) AS denom
      |  FROM lc),
      |quota AS (
      |  SELECT lc.lang,
      |    CAST(floor(n_total * 0.5 * sqrt(CAST(lc.n_docs AS DOUBLE)) / denom) AS BIGINT) AS quota
      |  FROM lc CROSS JOIN tot),
      |ranked AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.lang, q.quota, r.rk <= q.quota AS sampled
      |FROM ranked r JOIN quota q ON r.lang = q.lang
      |ORDER BY r.doc_id""".stripMargin

  // ---- exact-substring span dedup -------------------------------------------

  /** Exact-substring deduplication at token-segment granularity (the
    * ExactSubstr pass of Lee et al., arXiv:2107.06499: repeated spans are
    * REMOVED from documents, not whole docs dropped). Docs are segmented
    * into non-overlapping 10-token spans; a span whose exact text occurs
    * >= 2 times corpus-wide is cut, and the survivors are re-joined in
    * order into the cleaned text.
    *
    * Scale design: segment counting is one map-side-combined agg keyed by
    * span text; the flag join is keyed the same way (the suffix-array
    * machinery of the paper is what this replaces — counting fixed-width
    * spans is the shuffle-friendly formulation). Reassembly sorts a
    * per-doc-bounded struct array (seg_idx unique within doc), never a
    * global sort. */
  /** The span-cut core over any (doc_id, text) table with a parameterized
    * span width: fixed non-overlapping `width`-token segments, a segment
    * whose exact text occurs ≥ 2 times corpus-wide is cut, survivors
    * re-join in seg_idx order (CurationLawsSpec pins the whole pipeline —
    * segmentation grid, corpus-wide counting, cut, reassembly — against a
    * sequential transcription on random corpora with planted repeats). */
  private[graft] def cutRepeatedSpans(docs: DataFrame, width: Int): DataFrame = {
    val seg = docs
      .filter(col("text").isNotNull) // see txtChunks — null text must drop
      // identically on both sides, not fabricate empty segments via size()=-1
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0L), ceil(size(col("t")) / lit(width.toDouble)) - 1),
          i => array_join(slice(col("t"), (i * width + 1).cast(IntegerType), lit(width)), " ")))
        .as(Seq("seg_idx", "seg")))
    val cnt = seg.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    seg.join(cnt, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        count(when(col("n") >= 2, 1)).as("n_dup_segments"),
        array_join(transform(
          sort_array(collect_list(when(col("n") < 2, struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        (col("n_dup_segments").cast(DoubleType) / col("n_segments")).as("dup_frac"),
        col("clean_text"))
  }

  def dedSpans(spark: SparkSession, dir: String): DataFrame =
    cutRepeatedSpans(Tables.documents(spark, dir), width = 10)
      .orderBy(col("doc_id"))

  val dedSpansOracle: String = {
    val toks = TextFunctions.sql.tokens("text")
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL),
       |seg AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS BIGINT) - 1)) AS seg_idx, t
       |  FROM base),
       |seg2 AS (
       |  SELECT doc_id, seg_idx,
       |    array_to_string(list_slice(t, seg_idx * 10 + 1, seg_idx * 10 + 10), ' ') AS seg
       |  FROM seg),
       |cnt AS (SELECT seg, COUNT(*) AS n FROM seg2 GROUP BY seg),
       |j AS (SELECT s.doc_id, s.seg_idx, s.seg, c.n FROM seg2 s JOIN cnt c ON s.seg = c.seg)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(COUNT(*) FILTER (n >= 2) AS BIGINT) AS n_dup_segments,
       |  CAST(COUNT(*) FILTER (n >= 2) AS DOUBLE) / COUNT(*) AS dup_frac,
       |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (n < 2), '') AS clean_text
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- overlapping passage chunking -----------------------------------------

  /** Fixed-budget passage chunking with overlap (size 32 tokens, stride 24 —
    * the standard retrieval/embedding prep step: every token is covered,
    * consecutive chunks share an 8-token context window). Pure per-row
    * generate — no shuffle anywhere, embarrassingly parallel at 100 TB; the
    * chunk set feeds straight into the embedding + IVF index path
    * (sim_kmeans / sim_ivf). */
  def txtChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull) // null text tokenizes to size -1 in Spark
      // but vanishes in the oracle — drop it identically on both sides
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      // ceil, not floor: the final partial window must still be emitted or
      // the last (n-32) mod 24 tokens of every document silently vanish
      .select(col("doc_id"), col("t"), posexplode(
        sequence(lit(0L), ceil(greatest(size(col("t")) - 32, lit(0)) / lit(24.0))))
        .as(Seq("p0", "chunk_id")))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("t"), (col("chunk_id") * 24 + 1).cast(IntegerType), lit(32)))
          .cast(LongType).as("n_tokens"),
        array_join(slice(col("t"), (col("chunk_id") * 24 + 1).cast(IntegerType), lit(32)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val txtChunksOracle: String = {
    val toks = TextFunctions.sql.tokens("text")
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL),
       |idx AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(0,
       |      CAST(ceil(greatest(len(t) - 32, 0) / 24.0) AS BIGINT))) AS chunk_id
       |  FROM base)
       |SELECT doc_id, chunk_id,
       |  CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_tokens,
       |  array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text
       |FROM idx ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---- skip-gram co-occurrence pairs ----------------------------------------

  /** Skip-gram (center, context) co-occurrence counts with window 2 — the
    * corpus statistic word2vec/GloVe-style embedding training consumes
    * (arXiv:1301.3781 §3.2; GloVe builds exactly this table before fitting).
    *
    * Scale design: no self-join on position — each token row emits its
    * FORWARD window by slicing the document's own token array
    * (`slice(t, i+2, 2)`), and the symmetric backward pairs come from a
    * union with the columns swapped. The generate is per-row (parallel at
    * 100 TB, zero shuffle), and the only shuffle in the whole job is the
    * final map-side-combined count aggregation keyed by (w, c) — the same
    * shape as a word-count. A position self-join keyed by doc_id would
    * re-shuffle the token stream per document instead; this never does.
    * Output is capped by the deterministic total order (cnt desc, w, c). */
  def txtSkipgrams(spark: SparkSession, dir: String): DataFrame = {
    val fwd = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(TextFunctions.tokens(col("text")).as("t"))
      .select(col("t"), posexplode(col("t")).as(Seq("p0", "w")))
      // slice is 1-based: token i=p0+1, forward window starts at i+1=p0+2
      .select(col("w"), explode(slice(col("t"), col("p0") + 2, lit(2))).as("c"))
    fwd.union(fwd.select(col("c"), col("w")))
      .groupBy(col("w"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"), col("c"))
      .limit(200)
  }

  val txtSkipgramsOracle: String = {
    val toks = TextFunctions.sql.tokens("text")
    s"""WITH base AS (SELECT $toks AS t FROM documents WHERE text IS NOT NULL),
       |tok AS (
       |  SELECT t, unnest(generate_series(1, len(t))) AS i
       |  FROM base WHERE len(t) >= 1),
       |fwd AS (
       |  SELECT t[i] AS w, unnest(list_slice(t, i + 1, i + 2)) AS c FROM tok),
       |pr AS (SELECT w, c FROM fwd UNION ALL SELECT c, w FROM fwd)
       |SELECT w, c, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM pr GROUP BY w, c
       |ORDER BY cnt DESC, w, c LIMIT 200""".stripMargin
  }

  // ---- end-to-end model-prep funnel -----------------------------------------

  /** The model-prep tier composed: exact-dedup keepers → bigram-LM quality
    * gate (avg_logp >= -3.45, corpus-trained) → semantic dedup survivors
    * (embeddings joined on doc id; docs without an embedding pass through —
    * no semantic evidence is not a drop reason). Per-language funnel counts,
    * the report a curation run ships. Every stage is the already-gated
    * operator, so the funnel adds joins keyed on doc_id and one small agg —
    * nothing that changes the scale story of its parts. */
  def curFunnel2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val keepers = graft.operators.Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("keeper_id").as("doc_id"), lit(true).as("is_keeper"))
    val lm = txtLmScore(spark, dir)
      .select(col("doc_id"), (col("avg_logp") >= -3.45).as("passes_lm"))
    val sem = dedSemantic(spark, dir).select(col("vec_id").as("doc_id"), col("is_kept"))
    docs
      .join(keepers, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_keeper"), 1)).as("n_keepers"),
        count(when(col("is_keeper") && col("passes_lm"), 1)).as("n_lm"),
        count(when(col("is_keeper") && col("passes_lm")
          && coalesce(col("is_kept"), lit(true)), 1)).as("n_final"))
      .orderBy(col("lang"))
  }

  val curFunnel2Oracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""WITH $lmCtes,
       |$semCtes,
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($norm)),
       |lmgate AS (
       |  SELECT doc_id, (sum_lp / n_bigrams) >= -3.45 AS passes_lm FROM lmagg),
       |sem AS (
       |  SELECT asg.vec_id AS doc_id, dup.vec_id IS NULL AS is_kept
       |  FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL) AS n_keepers,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL AND q.passes_lm) AS n_lm,
       |  COUNT(*) FILTER (k.doc_id IS NOT NULL AND q.passes_lm
       |    AND coalesce(s.is_kept, TRUE)) AS n_final
       |FROM documents d
       |LEFT JOIN keepers k ON d.doc_id = k.doc_id
       |LEFT JOIN lmgate q ON d.doc_id = q.doc_id
       |LEFT JOIN sem s ON d.doc_id = s.doc_id
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
  }

  // ---- product quantization --------------------------------------------------

  /** PQ codes + reconstruction error per vector
    * ([[Similarity.productQuantize]]: 4 subspaces × 16 dims, 8 codewords,
    * deterministic seeding + one Lloyd round). The per-vector error is the
    * sum of the four subspace errors added in fixed column order (each
    * subspace value is isolated with a sum over 3 exact zeros first), so
    * doubles stay bit-exact; codes are integers. The oracle replays
    * seeding, assignment, the ordered-fold mean update, and reassignment
    * from DuckDB list primitives. */
  def embPq(spark: SparkSession, dir: String): DataFrame = {
    val pq = Similarity.productQuantize(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    val codes = (0 until 4).map(m =>
      sum(when(col("m") === m, col("code")).otherwise(0L)).as(s"code$m"))
    val errs = (0 until 4).map(m =>
      sum(when(col("m") === m, col("d")).otherwise(0.0)).as(s"e$m"))
    pq.groupBy(col("vec_id"))
      .agg((codes ++ errs).head, (codes ++ errs).tail: _*)
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"),
        (col("e0") + col("e1") + col("e2") + col("e3")).as("err"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB fragment for per-subspace squared L2 in fixed fold order. */
  private def pqDist(a: String, c: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 16),
       |      i -> ($a[i] - $c[i]) * ($a[i] - $c[i]))), (x, y) -> x + y)""".stripMargin

  /** PQ training/assignment CTE chain (sub … a2), shared by the emb_pq and
    * sim_ivfpq oracles: seeds, first assignment, ordered-fold mean update,
    * refined codebook `cb1`, final codes `a2(vec_id, m, code, d)`. */
  private[queries] val pqCtes: String = {
    def dist(a: String, c: String) = pqDist(a, c)
    s"""sub AS (
       |  SELECT vec_id, m,
       |    list_transform(embedding[m*16+1 : m*16+16], v -> CAST(v AS DOUBLE)) AS sub
       |  FROM embeddings CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) ms),
       |cb0 AS (SELECT m, vec_id AS code, sub AS cent FROM sub WHERE vec_id < 8),
       |d1 AS (
       |  SELECT s.vec_id, s.m, c.code,
       |    ${dist("s.sub", "c.cent")} AS d
       |  FROM sub s JOIN cb0 c ON s.m = c.m),
       |a1 AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |    FROM d1) WHERE rn = 1),
       |ex AS (
       |  SELECT a.m, a.code, s.vec_id, t.i AS pos, s.sub[t.i] AS v
       |  FROM a1 a
       |  JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
       |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) t),
       |comp AS (
       |  SELECT m, code, pos,
       |    list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)), (x, y) -> x + y)
       |      / COUNT(*) AS comp
       |  FROM ex GROUP BY m, code, pos),
       |cb1 AS (SELECT m, code, list(comp ORDER BY pos) AS cent FROM comp GROUP BY m, code),
       |d2 AS (
       |  SELECT s.vec_id, s.m, c.code,
       |    ${dist("s.sub", "c.cent")} AS d
       |  FROM sub s JOIN cb1 c ON s.m = c.m),
       |a2 AS (
       |  SELECT vec_id, m, code, d FROM (
       |    SELECT vec_id, m, code, d,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |    FROM d2) WHERE rn = 1)""".stripMargin
  }

  val embPqOracle: String =
    s"""WITH $pqCtes
       |SELECT vec_id,
       |  CAST(SUM(CASE WHEN m = 0 THEN code ELSE 0 END) AS BIGINT) AS code0,
       |  CAST(SUM(CASE WHEN m = 1 THEN code ELSE 0 END) AS BIGINT) AS code1,
       |  CAST(SUM(CASE WHEN m = 2 THEN code ELSE 0 END) AS BIGINT) AS code2,
       |  CAST(SUM(CASE WHEN m = 3 THEN code ELSE 0 END) AS BIGINT) AS code3,
       |  (SUM(CASE WHEN m = 0 THEN d ELSE 0 END) + SUM(CASE WHEN m = 1 THEN d ELSE 0 END)
       |   + SUM(CASE WHEN m = 2 THEN d ELSE 0 END) + SUM(CASE WHEN m = 3 THEN d ELSE 0 END)) AS err
       |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- IVF-PQ asymmetric-distance search -------------------------------------

  /** The full production ANN read path ([[Similarity.ivfPqTopK]]): IVF cell
    * probe → PQ-code candidates → asymmetric distance against the broadcast
    * codebook → bounded-heap top-k. The oracle replays cells (sim_ivf's
    * chain), PQ training (the shared [[pqCtes]]), the ADC lookup, and the
    * ranking — end to end from DuckDB list primitives. */
  def simIvfpq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(e.filter(col("vec_id").isin(0, 1, 2)), e)
      .orderBy(col("query_id"), col("adc"), col("corpus_id"))
  }

  val simIvfpqOracle: String = {
    val cos = Pipeline.sqlCosine _
    s"""WITH $pqCtes,
       |cent AS (
       |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${cos("c.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings c CROSS JOIN cent ct) t WHERE rn = 1),
       |probe AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cos("q.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id IN (0, 1, 2)) t
       |  WHERE rn = 1),
       |perm AS (
       |  SELECT p.query_id, a.vec_id AS corpus_id, s.m,
       |    ${pqDist("s.sub", "cb.cent")} AS dm
       |  FROM probe p
       |  JOIN asg a ON p.cell_id = a.cell_id AND a.vec_id <> p.query_id
       |  JOIN a2 ON a2.vec_id = a.vec_id
       |  JOIN cb1 cb ON cb.m = a2.m AND cb.code = a2.code
       |  JOIN sub s ON s.vec_id = p.query_id AND s.m = a2.m),
       |adc AS (
       |  SELECT query_id, corpus_id,
       |    (SUM(CASE WHEN m = 0 THEN dm ELSE 0 END)
       |     + SUM(CASE WHEN m = 1 THEN dm ELSE 0 END)
       |     + SUM(CASE WHEN m = 2 THEN dm ELSE 0 END)
       |     + SUM(CASE WHEN m = 3 THEN dm ELSE 0 END)) AS adc
       |  FROM perm GROUP BY query_id, corpus_id)
       |SELECT query_id, corpus_id, adc FROM (
       |  SELECT query_id, corpus_id, adc,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rn
       |  FROM adc) t
       |WHERE rn <= 5
       |ORDER BY query_id, adc, corpus_id""".stripMargin
  }

  // ---- feature hashing (the hashing trick) ----------------------------------

  /** Hashed feature dimensions. */
  private val FhDims = 16

  /** Hashing-trick featurizer (Weinberger et al. ICML'09): every token is
    * hashed to one of [[FhDims]] buckets with an md5-derived sign, and each
    * document becomes a dense signed-count vector — the classic fixed-width
    * text featurization for linear classifiers at corpus scale (no
    * vocabulary build, no dictionary broadcast, collisions unbiased by the
    * ±1 sign). Counts are exact integers, so the gate is hash-exact.
    *
    * Scale shape: one explode + one map-side-combinable groupBy(doc_id)
    * carrying [[FhDims]] conditional integer sums — a single keyed shuffle
    * whose width is fixed at FhDims regardless of vocabulary; nothing is
    * broadcast and no per-term state exists outside the agg. */
  def embFeathash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val h = TextFunctions.hash64(col("term"))
    val dims = (0 until FhDims).map(i =>
      sum(when(col("b") === i, col("sgn")).otherwise(0L)).as(f"f$i%02d"))
    toks.select(col("doc_id"), (h % FhDims).as("b"),
        when(h % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"))
      .agg(dims.head, dims.tail: _*)
      .orderBy(col("doc_id"))
  }

  val embFeathashOracle: String = {
    val dims = (0 until FhDims).map(i =>
      f"CAST(COALESCE(SUM(sgn) FILTER (WHERE b = $i), 0) AS BIGINT) AS f$i%02d")
      .mkString(",\n       |  ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, ${TextFunctions.sql.hash64("term")} AS h
       |  FROM t WHERE length(term) > 0),
       |b AS (
       |  SELECT doc_id, h % $FhDims AS b,
       |    CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM f)
       |SELECT doc_id,
       |  $dims
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- k-NN graph construction ----------------------------------------------

  /** k-NN graph over the embedding corpus ([[Similarity.knnGraph]]): per
    * distinct-content positive-norm vector, edges to its 3 nearest
    * neighbors within its IVF cell — the cluster-then-link candidate
    * scheme, top-k through the bounded-heap operator. */
  def simKnng(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(spark, dir), nCells = 16, k = 3)
      .orderBy(col("src"), col("cos").desc, col("dst"))

  val simKnngOracle: String = {
    import Pipeline.{sqlCosine, sqlDot}
    s"""WITH reps AS (
       |  SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
       |re AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN reps r ON e.vec_id = r.vec_id),
       |cent AS (
       |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${sqlCosine("c.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id)
       |        AS rn
       |    FROM re c CROSS JOIN cent ct) t WHERE rn = 1),
       |scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(${sqlCosine("ea.embedding", "eb.embedding")}, 6) AS cos
       |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
       |  JOIN re ea ON ea.vec_id = a.vec_id
       |  JOIN re eb ON eb.vec_id = b.vec_id
       |  WHERE ${sqlDot("ea.embedding", "ea.embedding")} > 0
       |    AND ${sqlDot("eb.embedding", "eb.embedding")} > 0),
       |topk AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM scored)
       |SELECT src, dst, cos FROM topk WHERE rn <= 3
       |ORDER BY src, cos DESC, dst""".stripMargin
  }

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "ded_semantic" -> ((dedSemantic _, Some(dedSemanticOracle))),
    "sim_knng" -> ((simKnng _, Some(simKnngOracle))),
    "emb_feathash" -> ((embFeathash _, Some(embFeathashOracle))),
    "txt_lmscore" -> ((txtLmScore _, Some(txtLmScoreOracle))),
    "smp_mixture" -> ((smpMixture _, Some(smpMixtureOracle))),
    "ded_spans" -> ((dedSpans _, Some(dedSpansOracle))),
    "txt_chunks" -> ((txtChunks _, Some(txtChunksOracle))),
    "txt_skipgrams" -> ((txtSkipgrams _, Some(txtSkipgramsOracle))),
    "cur_funnel2" -> ((curFunnel2 _, Some(curFunnel2Oracle))),
    "emb_pq" -> ((embPq _, Some(embPqOracle))),
    "sim_ivfpq" -> ((simIvfpq _, Some(simIvfpqOracle)))
  )
}
