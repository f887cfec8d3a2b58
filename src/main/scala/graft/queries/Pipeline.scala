package graft.queries

import graft.Tables
import graft.functions.{TextFunctions, Udafs}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Dsl._

/** Training-data-pipeline operator suite: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding cosine), similarity search (brute-force
  * top-k baseline + LSH bucketed scale path), text analysis (language id,
  * quality, tokens, fingerprints), multimodal metadata decode, event
  * sessionization, and the UDF/UDAF + SQL/DDL surface.
  *
  * Every operator is shuffle-keyed (content hash / band / shingle / bucket) —
  * no driver collects, no unbounded cartesian — so the same plans run at
  * 100 TB. Oracles mirror the exact arithmetic (md5-derived 64-bit hashes,
  * ordered double folds) so even LSH bucketing hash-matches DuckDB.
  */
object Pipeline {

  type QueryFn = (SparkSession, String) => DataFrame

  // ---- dedup ---------------------------------------------------------------

  def dedExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("content_hash"))

  val dedExactOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""SELECT md5($norm) AS content_hash, min(doc_id) AS keeper_id, COUNT(*) AS n_copies
       |FROM documents
       |GROUP BY 1
       |ORDER BY content_hash""".stripMargin
  }

  def dedMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  val dedMinhashOracle: String = {
    val sig = TextFunctions.sql.minhashSignature("ss", 16)
    val sh = TextFunctions.sql.shingles("text", 3)
    s"""WITH sh AS (SELECT doc_id, $sh AS ss FROM documents),
       |sig AS (SELECT doc_id, $sig AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, sig, b,
       |    sig[b*4+1]::VARCHAR || '_' || sig[b*4+2]::VARCHAR || '_' ||
       |    sig[b*4+3]::VARCHAR || '_' || sig[b*4+4]::VARCHAR AS key
       |  FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(b)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sig_a, y.sig AS sig_b
       |  FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_filter(generate_series(1,16), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16 AS sig_agree
       |FROM pairs
       |WHERE CAST(len(list_filter(generate_series(1,16), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def dedNgram(spark: SparkSession, dir: String): DataFrame =
    // No final orderBy (round 11, same as ded_prefix/ded_contain): the gate
    // compare sorts rows itself, and a global sort adds a range-sampling
    // pass that re-executes everything after the last exchange.
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  val dedNgramOracle: String = {
    val sh = TextFunctions.sql.shingles("text", 3)
    val h = TextFunctions.sql.hash64("s")
    // Elements are hash64(shingle) — the Spark side hashes before building
    // the inverted index (round 11, shuffle-width), so the replay hashes
    // identically and counts/sizes (hence jaccard) match over hashed sets.
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(list_transform($sh, s -> $h)) AS ss
       |  FROM documents),
       |sizes AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sh FROM sh),
       |inv AS (SELECT doc_id, unnest(ss) AS shingle FROM sh),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) > 0.2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Prefix-filtered set-similarity join ([[Dedup.prefixJaccardPairs]] —
    * the AllPairs/PPJoin candidate scheme, on 3-shingle sets). The oracle
    * computes exact shingle-set Jaccard over ALL pairs from the full
    * inverted index, so the gate proves the prefix filter is lossless:
    * every pair ≥ t must survive candidate generation or the hash
    * differs. */
  def dedPrefix(spark: SparkSession, dir: String): DataFrame =
    // No final orderBy (round 11): the gate compare sorts rows itself, and
    // a global sort adds a range-sampling pass that re-executes everything
    // after the last exchange — ~1s of pure overhead on the heaviest
    // gated queries. (The oracle keeps ORDER BY; the compare re-sorts.)
    Dedup.prefixJaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  val dedPrefixOracle: String = {
    val sh = TextFunctions.sql.shingles("text", 3)
    val h = TextFunctions.sql.hash64("s")
    // Elements are hash64(shingle) — the Spark side hashes before the
    // candidate scheme (round 11, shuffle-width), so the all-pairs replay
    // hashes identically and the exactness proof is over hashed sets.
    s"""WITH t0 AS (
       |  SELECT doc_id, list_distinct(list_transform($sh, s -> $h)) AS toks
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS tok FROM t0),
       |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t0),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM toks x JOIN toks y ON x.tok = y.tok AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Directional containment near-dup join ([[Dedup.containmentPairs]],
    * C(A,B) = |S_A∩S_B|/|S_A| ≥ 4/5 on 3-shingle sets). The oracle computes
    * exact containment over ALL ordered pairs from the full inverted index,
    * so the gate proves the contained-side rarity-prefix filter lossless;
    * the integer-rational accept test (i·5 ≥ n·4 on both sides) leaves no
    * float boundary to disagree on. */
  def dedContain(spark: SparkSession, dir: String): DataFrame =
    // Unordered for the same reason as [[dedPrefix]].
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text")

  val dedContainOracle: String = {
    val sh = TextFunctions.sql.shingles("text", 3)
    val h = TextFunctions.sql.hash64("s")
    // Hashed elements, mirroring the Spark side (see dedPrefixOracle note).
    s"""WITH t0 AS (
       |  SELECT doc_id, list_distinct(list_transform($sh, s -> $h)) AS toks
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS tok FROM t0),
       |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t0),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS i
       |  FROM toks x JOIN toks y ON x.tok = y.tok AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
       |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |WHERE i * 5 >= sa.n * 4
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Perceptual-hash image near-dup pairs ([[Dedup.phashPairs]] — block-mean
    * pHash over the fake-media payloads, 4×16-bit chunk banding, Hamming ≤ 6).
    * The oracle replays blocks → cross-multiplied mean bits → signature →
    * chunk candidates → Hamming byte for byte. */
  def dedPhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.phashPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  val dedPhashOracle: String =
    """WITH chars AS (
      |  SELECT doc_id, (p - 1) * 64 // length(text) AS blk,
      |    CAST(ascii(substr(text, CAST(p AS INTEGER), 1)) AS BIGINT) AS s
      |  FROM (
      |    SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p
      |    FROM documents WHERE text IS NOT NULL)),
      |blocks AS (
      |  SELECT doc_id, blk, CAST(SUM(s) AS BIGINT) AS sb,
      |    CAST(COUNT(*) AS BIGINT) AS cb
      |  FROM chars GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, CAST(SUM(sb) AS BIGINT) AS st, CAST(SUM(cb) AS BIGINT) AS nt
      |  FROM blocks GROUP BY 1),
      |sigs AS (
      |  SELECT b.doc_id,
      |    CAST(SUM(CASE WHEN b.sb * t.nt > t.st * b.cb
      |      THEN (CASE WHEN b.blk = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |            ELSE (CAST(1 AS BIGINT) << CAST(b.blk AS INTEGER)) END)
      |      ELSE 0 END) AS BIGINT)
      |      AS phash
      |  FROM blocks b JOIN tot t ON b.doc_id = t.doc_id GROUP BY b.doc_id),
      |chunked AS (
      |  SELECT doc_id, phash, c, (phash >> (c * 16)) & 65535 AS ckey
      |  FROM sigs CROSS JOIN unnest([0, 1, 2, 3]) AS u(c)),
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.phash AS pa, y.phash AS pb
      |  FROM chunked x JOIN chunked y
      |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
      |FROM pairs WHERE bit_count(xor(pa, pb)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  def dedSimhash(spark: SparkSession, dir: String): DataFrame =
    // No final orderBy (round 11) — the gate compare sorts rows itself.
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 8)

  /** SimHash candidate-pair CTE chain (ends in `pairs(doc_a, doc_b,
    * hamming)`), shared with the cluster-resolution oracle in [[Curation]]. */
  private[queries] val simhashCtes: String = {
    val norm = TextFunctions.sql.normalize("text")
    val h64 = TextFunctions.sql.hash64("t")
    s"""toks AS (
       |  SELECT doc_id, list_transform(string_split_regex(trim($norm), '\\s+'), t -> $h64) AS hs,
       |    CAST(len(string_split_regex(trim($norm), '\\s+')) AS BIGINT) AS n
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(generate_series(0, 63), b ->
       |      CASE WHEN CAST(len(list_filter(hs, h -> (h >> b) & 1 = 1)) AS BIGINT) * 2 > n
       |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END),
       |      (x, y) -> x + y) AS simhash
       |  FROM toks),
       |chunked AS (
       |  SELECT doc_id, simhash, c, (simhash >> (c*16)) & 65535 AS ckey
       |  FROM sigs CROSS JOIN unnest([0,1,2,3]) AS t(c)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |  FROM chunked x JOIN chunked y ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id)""".stripMargin
  }

  val dedSimhashOracle: String =
    s"""WITH $simhashCtes
       |SELECT doc_a, doc_b, hamming
       |FROM pairs
       |WHERE hamming <= 8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Embedding brute-force near-dup pairs — EXACT all-pairs, distributed as
    * a keyed block-pair join (no driver materialization; see
    * [[Similarity.cosineAllPairsBlockJoin]]). PlanSpec pins the plan to a
    * keyed equi-join (no cartesian / nested-loop). */
  def dedEmbed(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineAllPairsBlockJoin(
        Tables.embeddings(spark, dir).filter(col("vec_id") < 2000))
      // cheap raw prefilter before round(): Spark's Round allocates a
      // BigDecimal per row — running it on the N^2 candidate set instead of
      // the survivors triples the query time. 0.39999 is safely below the
      // smallest value that rounds to >= 0.4 (0.3999995).
      .filter(col("raw_score") >= 0.39999)
      .select(col("id_a"), col("id_b"), round(col("raw_score"), 6).as("score"))
      .filter(col("score") >= 0.4)

  /** Ordered-fold dot product mirroring Spark's aggregate() exactly. */
  private[queries] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private[queries] def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  val dedEmbedOracle: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(${sqlCosine("a.embedding", "b.embedding")}, 6) AS score
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id < 2000 AND b.vec_id < 2000 AND a.vec_id < b.vec_id
       |  AND round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  // ---- similarity search ----------------------------------------------------

  def simTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id").isin(0, 1, 2)), e, 5)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simTopkOracle: String =
    s"""SELECT query_id, corpus_id, score, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    round(${sqlCosine("q.embedding", "c.embedding")}, 6) AS score,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${sqlCosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS rank
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id IN (0, 1, 2) AND q.vec_id <> c.vec_id) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(e.filter(col("vec_id").isin(0, 1, 2)), e,
      nCells = 16, nProbe = 4, k = 5)
      .select(col("query_id"), col("corpus_id"), col("score"), col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simIvfOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${sqlCosine("c.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings c CROSS JOIN cent ct) t WHERE rn = 1),
       |probe AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${sqlCosine("q.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id IN (0, 1, 2)) t WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS corpus_id,
       |    round(${sqlCosine("qe.embedding", "ce.embedding")}, 6) AS score
       |  FROM probe p
       |  JOIN asg a ON p.cell_id = a.cell_id
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN embeddings ce ON ce.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, corpus_id, score, rank FROM (
       |  SELECT query_id, corpus_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
       |  FROM cand) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** ANN quality evaluation: recall@5 of the IVF index against exact
    * brute-force top-5, per query — the in-pipeline index-health metric an
    * ANN deployment publishes after every rebuild. Both rankings are the
    * gated operators above (identical determinism recipe: round(cos,6) +
    * id tie-break), the overlap is a keyed semi-join, and recall is one
    * exact-integer division. */
  def simRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id").isin(0, 1, 2))
    val bf = Similarity.bruteForceTopK(q, e, 5)
      .select(col("query_id"), col("corpus_id"))
    val ivf = Similarity.ivfTopK(q, e, nCells = 16, nProbe = 4, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val hits = ivf.join(bf, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    bf.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("k").cast(DoubleType)).as("recall"))
      .orderBy(col("query_id"))
  }

  val simRecallOracle: String =
    s"""WITH bf AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${sqlCosine("q.embedding", "c.embedding")}, 6) DESC, c.vec_id)
       |        AS rank
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id IN (0, 1, 2) AND q.vec_id <> c.vec_id) t
       |  WHERE rank <= 5),
       |cent AS (
       |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT c.vec_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${sqlCosine("c.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings c CROSS JOIN cent ct) t WHERE rn = 1),
       |probe AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, ct.cell_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${sqlCosine("q.embedding", "ct.c_emb")}, 6) DESC, ct.cell_id) AS rn
       |    FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id IN (0, 1, 2)) t WHERE rn <= 4),
       |ivf AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT cand.query_id, cand.corpus_id,
       |      row_number() OVER (PARTITION BY cand.query_id
       |        ORDER BY cand.score DESC, cand.corpus_id) AS rank
       |    FROM (
       |      SELECT p.query_id, a.vec_id AS corpus_id,
       |        round(${sqlCosine("qe.embedding", "ce.embedding")}, 6) AS score
       |      FROM probe p
       |      JOIN asg a ON p.cell_id = a.cell_id
       |      JOIN embeddings qe ON qe.vec_id = p.query_id
       |      JOIN embeddings ce ON ce.vec_id = a.vec_id
       |      WHERE a.vec_id <> p.query_id) cand) t
       |  WHERE rank <= 5),
       |hits AS (
       |  SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM ivf i JOIN bf ON bf.query_id = i.query_id AND bf.corpus_id = i.corpus_id
       |  GROUP BY i.query_id)
       |SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(MAX(h.n_hits), 0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM bf b LEFT JOIN hits h ON h.query_id = b.query_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin

  /** Classifier evaluation: the (true label, predicted) confusion matrix of
    * the language-id heuristic against document metadata, with per-cell
    * share-of-true-class — the eval-harness completion of the classifier
    * tier (cls_quality → cls_calibration → confusion). Exact counts + one
    * division per cell; one map-side-combined agg + a per-label broadcast. */
  def clsConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = txtLangid(spark, dir)
      .groupBy(col("lang_meta"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang_meta")).agg(sum(col("n")).as("nt"))
    cells.join(broadcast(totals), Seq("lang_meta"))
      .select(col("lang_meta"), col("predicted"), col("n"),
        (col("n").cast(DoubleType) / col("nt").cast(DoubleType)).as("share"))
      .orderBy(col("lang_meta"), col("predicted"))
  }

  // lazy: langPatterns is declared later in the file (val-init order)
  lazy val clsConfusionOracle: String = {
    val scoreCols = langPatterns.map { case (l, p) =>
      s"CAST(len(regexp_extract_all(lower(text), '$p')) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    s"""WITH pred AS (
       |  SELECT lang_meta,
       |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |         WHEN s_de >= s_fr THEN 'de'
       |         ELSE 'fr' END AS predicted
       |  FROM (
       |    SELECT lang AS lang_meta,
       |      $scoreCols
       |    FROM documents) t),
       |cells AS (
       |  SELECT lang_meta, predicted, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |tot AS (SELECT lang_meta, CAST(SUM(n) AS BIGINT) AS nt FROM cells GROUP BY 1)
       |SELECT c.lang_meta, c.predicted, c.n,
       |  CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS share
       |FROM cells c JOIN tot t ON c.lang_meta = t.lang_meta
       |ORDER BY c.lang_meta, c.predicted""".stripMargin
  }

  def simLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshPairs(Tables.embeddings(spark, dir), dim = 64, nPlanes = 8, threshold = 0.35)
      .orderBy(col("id_a"), col("id_b"))

  val simLshOracle: String = {
    val h64 = TextFunctions.sql.hash64("(j::VARCHAR || '_' || i::VARCHAR)")
    val w = s"(CAST(($h64 % 2001) AS DOUBLE) - 1000.0) / 1000.0"
    val planeDot = s"list_reduce(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * $w), (x, y) -> x + y)"
    val bucket = s"list_reduce(list_transform(generate_series(0, 7), j -> CASE WHEN $planeDot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END), (x, y) -> x + y)"
    s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
       |SELECT x.bucket, x.vec_id AS id_a, y.vec_id AS id_b,
       |  round(${sqlCosine("x.embedding", "y.embedding")}, 6) AS score
       |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE round(${sqlCosine("x.embedding", "y.embedding")}, 6) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- text analysis ---------------------------------------------------------

  private val stopEn = "\\b(the|a|of|to|and|in|is)\\b"

  def txtStats(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = TextFunctions.tokenCount(col("text"))
    val noSpace = length(regexp_replace(col("text"), "\\s", "")).cast(LongType)
    val stopHits = regexp_count(col("text"), lit(stopEn)).cast(LongType)
    val digitHits = regexp_count(col("text"), lit("[0-9]")).cast(LongType)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_c"),
        nTokens.as("n_tokens"),
        (noSpace.cast(DoubleType) / nTokens).as("avg_token_len"),
        (stopHits.cast(DoubleType) / nTokens).as("stop_ratio"),
        // an empty document has no digit ratio (NULL), not a zero divisor
        when(length(col("text")) > 0,
          digitHits.cast(DoubleType) / length(col("text"))).as("digit_ratio"))
      // no round(): identical double arithmetic is bit-equal across engines,
      // while round-half-way algorithms differ (BigDecimal HALF_UP vs C)
      .withColumn("quality_score",
        col("stop_ratio") * 0.5 + col("avg_token_len") * 0.1)
      .orderBy(col("doc_id"))
  }

  val txtStatsOracle: String = {
    import TextFunctions.sql.tokenCount
    s"""SELECT doc_id, n_chars_c, n_tokens, avg_token_len, stop_ratio, digit_ratio,
       |  stop_ratio * 0.5 + avg_token_len * 0.1 AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_c,
       |    ${tokenCount("text")} AS n_tokens,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ${tokenCount("text")} AS avg_token_len,
       |    CAST(len(regexp_extract_all(text, '$stopEn')) AS DOUBLE) / ${tokenCount("text")} AS stop_ratio,
       |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) AS digit_ratio
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  private val langPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|of|and|to|a|in|is|that)\\b",
    "es" -> "\\b(el|la|de|que|y|los|las|un)\\b",
    "de" -> "\\b(der|die|das|und|ist|ein|nicht)\\b",
    "fr" -> "\\b(le|la|les|et|est|un|une|des)\\b")

  /** N-gram/stopword-hit language id: per-language lexicon hit counts with a
    * deterministic arg-max. (The synthetic corpus is English word soup, so
    * 'en' dominates — the operator shape is what matters.) */
  def txtLangid(spark: SparkSession, dir: String): DataFrame = {
    val scores = langPatterns.map { case (l, p) =>
      regexp_count(lower(col("text")), lit(p)).cast(LongType).as(s"s_$l")
    }
    val predicted = when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
      col("s_en") >= col("s_fr"), "en")
      .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
      .when(col("s_de") >= col("s_fr"), "de")
      .otherwise("fr")
    graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
      .select(col("doc_id") +: col("lang").as("lang_meta") +: scores: _*)
      .withColumn("predicted", predicted)
      .orderBy(col("doc_id"))
  }

  val txtLangidOracle: String = {
    val scoreCols = langPatterns.map { case (l, p) =>
      s"CAST(len(regexp_extract_all(lower(text), '$p')) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    s"""SELECT doc_id, lang_meta, s_en, s_es, s_de, s_fr,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS predicted
       |FROM (
       |  SELECT doc_id, lang AS lang_meta,
       |    $scoreCols
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  def txtFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = TextFunctions.normalize(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(norm.cast(BinaryType)).as("fp_md5"),
        TextFunctions.hash64(norm).as("fp64"))
      .orderBy(col("doc_id"))
  }

  val txtFingerprintOracle: String = {
    val norm = TextFunctions.sql.normalize("text")
    s"""SELECT doc_id, md5($norm) AS fp_md5, ${TextFunctions.sql.hash64(norm)} AS fp64
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Token counting (whitespace + BPE-ish regex) and position-sensitive
    * rolling-hash fingerprints — per-row codegen'd/linear, no shuffle. */
  def txtTokens(spark: SparkSession, dir: String): DataFrame =
    // Spread (round 14, guide §2.5): the BPE regex + rolling-hash
    // projection ran one-task inside the single-split scan stage
    graft.operators.Spread(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextFunctions.rollingHash(col("text")).as("fp_roll"))
      .orderBy(col("doc_id"))

  val txtTokensOracle: String =
    s"""SELECT doc_id,
       |  ${TextFunctions.sql.tokenCount("text")} AS n_ws_tokens,
       |  ${TextFunctions.sql.bpeTokenCount("text")} AS n_bpe_tokens,
       |  ${TextFunctions.sql.rollingHash("text")} AS fp_roll
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---- events: sessionization -------------------------------------------------

  /** 30-minute-gap sessionization via window lag + cumulative session ids —
    * the standard batch formulation (shuffle keyed by user only). */
  def evtSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    Tables.eventsTs(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(w))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val evtSessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessions AS (
      |  SELECT user_id, event_id, ts_us,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  max(ts_us) - min(ts_us) AS duration_us
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Spark's native session_window operator in batch mode, checked against
    * a first-principles oracle (lag + cumulative-flag sessions) — the same
    * code path Structured Streaming uses (streaming.Sessions). */
  def evtSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Sessions
    Sessions.sessionWindowAgg(Tables.eventsTs(spark, dir), gap = "30 minutes")
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("duration_us"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** Hopping (sliding) time windows: Spark's native `window(ts, w, slide)` —
    * each event lands in w/slide = 2 windows, assigned by pure arithmetic
    * inside the scan stage (an Expand of 2 rows per event, no join), then
    * one keyed aggregation. The oracle replays the assignment from first
    * principles: start_j = (t div slide − j)·slide for j ∈ {0,1}. */
  def evtHop(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsTs(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"), col("n"))
      .orderBy(col("w_start_us"), col("event_type"))

  val evtHopOracle: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type FROM events),
      |hops AS (
      |  SELECT ((t_us // 1800000000) - j) * 1800000000 AS w_start_us, event_type
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS j) js)
      |SELECT w_start_us, event_type, COUNT(*) AS n
      |FROM hops
      |GROUP BY w_start_us, event_type
      |ORDER BY w_start_us, event_type""".stripMargin

  val evtSessionWindowOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, min(ts_us) AS start_us, COUNT(*) AS n_events,
      |  max(ts_us) - min(ts_us) AS duration_us
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, start_us""".stripMargin

  /** Backward as-of join: each click matched to the user's latest purchase
    * at or before it (LEFT semantics). Oracle: DuckDB's native ASOF LEFT
    * JOIN — an independent implementation of the same semantic. */
  def evtAsof(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeJoins
    val ev = Tables.eventsTs(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), expr("ts_ns DIV 1000").as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
      .select(col("user_id"), col("ts_us").as("p_ts_us"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    TimeJoins.asofJoin(clicks, purchases, "user_id", "ts_us", "p_ts_us",
      Seq("p_event_id", "p_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_p_event_id"), col("asof_p_value"))
      .orderBy(col("event_id"))
  }

  val evtAsofOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |c AS (SELECT user_id, event_id, value, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS p_event_id, value AS p_value, ts_us AS p_ts_us
      |      FROM e WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id, c.ts_us,
      |  p.p_event_id AS asof_p_event_id, p.p_value AS asof_p_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us
      |ORDER BY c.event_id""".stripMargin

  /** NEAREST as-of join: each click matched to the temporally closest
    * purchase in either direction (ties → the earlier purchase). Spark
    * lacks this (DuckDB's ASOF is backward-only too), but it composes from
    * two runs of the carry-forward [[graft.operators.TimeJoins.asofJoin]]:
    * the backward pass finds the latest purchase ≤ t, the forward pass is
    * the same operator on NEGATED timestamps (carry-forward over -t ≡
    * carry-backward over t), and a per-row comparison picks the closer —
    * still no join node anywhere near the event volume, two keyed window
    * shuffles plus one keyed self-merge on the click ids. The oracle
    * states nearest-neighbor directly (rank by |Δt|, then earlier ts). */
  def evtAsofNear(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeJoins
    val ev = Tables.eventsTs(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
      .select(col("user_id"), col("ts_us").as("p_ts_us"),
        col("event_id").as("p_event_id"))
    val back = TimeJoins.asofJoin(clicks, purchases, "user_id", "ts_us", "p_ts_us",
      Seq("p_ts_us", "p_event_id"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("asof_p_ts_us").as("b_ts"), col("asof_p_event_id").as("b_id"))
    val clicksN = clicks.withColumn("n_ts", -col("ts_us"))
    val purchasesN = purchases
      .select(col("user_id"), (-col("p_ts_us")).as("np_ts"),
        col("p_ts_us"), col("p_event_id"))
    val fwd = TimeJoins.asofJoin(clicksN, purchasesN, "user_id", "n_ts", "np_ts",
      Seq("p_ts_us", "p_event_id"))
      .select(col("event_id"),
        col("asof_p_ts_us").as("f_ts"), col("asof_p_event_id").as("f_id"))
    val pickBack = col("f_ts").isNull ||
      (col("b_ts").isNotNull && col("ts_us") - col("b_ts") <= col("f_ts") - col("ts_us"))
    back.join(fwd, Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(pickBack, col("b_ts")).otherwise(col("f_ts")).as("near_ts"),
        when(pickBack, col("b_id")).otherwise(col("f_id")).as("near_id"))
      .withColumn("dt_us", col("near_ts") - col("ts_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val evtAsofNearOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |c AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts_us AS p_ts, event_id AS p_id
      |      FROM e WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.user_id, c.event_id, c.ts_us, p.p_ts, p.p_id
      |  FROM c LEFT JOIN p USING (user_id)
      |  QUALIFY row_number() OVER (PARTITION BY c.user_id, c.event_id
      |    ORDER BY abs(p.p_ts - c.ts_us), p.p_ts) = 1)
      |SELECT user_id, event_id, ts_us, p_ts AS near_ts, p_id AS near_id,
      |  p_ts - ts_us AS dt_us
      |FROM j ORDER BY user_id, event_id""".stripMargin

  /** Point-in-interval range join via binning: clicks falling within one
    * hour after a purchase by the same user. The oracle states the plain
    * inequality join; the Spark plan replaces the nested-loop fallback
    * with a keyed bin join. */
  def evtRange(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeJoins
    val hourUs = 3600L * 1000000
    val ev = Tables.eventsTs(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("p_event_id"),
        col("ts_us").as("w_start"), (col("ts_us") + hourUs).as("w_end"))
    TimeJoins.rangeJoinBinned(clicks, windows, "ts_us", "w_start", "w_end", hourUs)
      .filter(col("user_id") === col("p_user_id"))
      .select(col("event_id"), col("p_event_id"), col("user_id"),
        (col("ts_us") - col("w_start")).as("delta_us"))
      .orderBy(col("event_id"), col("p_event_id"))
  }

  val evtRangeOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |c AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user_id, event_id AS p_event_id,
      |    ts_us AS w_start, ts_us + 3600000000 AS w_end
      |    FROM e WHERE event_type = 'purchase')
      |SELECT c.event_id, p.p_event_id, c.user_id, c.ts_us - p.w_start AS delta_us
      |FROM c JOIN p ON c.user_id = p.p_user_id
      |  AND c.ts_us >= p.w_start AND c.ts_us <= p.w_end
      |ORDER BY c.event_id, p.p_event_id""".stripMargin

  /** Interval-overlap join: purchase attribution windows [ts, ts+1h]
    * overlapped against click engagement windows [ts, ts+30m] for the same
    * user — the two-sided generalization of evt_range (where one side is a
    * point). The oracle states the plain overlap inequality join; the Spark
    * plan runs [[TimeJoins.overlapJoinBinned]]'s keyed bin join with
    * arithmetic (not distinct-based) duplicate elimination. */
  def evtOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeJoins
    val hourUs = 3600L * 1000000
    val ev = Tables.eventsTs(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"),
        col("ts_us").as("p_start"), (col("ts_us") + hourUs).as("p_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_event_id"),
        col("ts_us").as("c_start"), (col("ts_us") + hourUs / 2).as("c_end"))
    TimeJoins.overlapJoinBinned(purchases, clicks, Seq("user_id"),
      "p_start", "p_end", "c_start", "c_end", hourUs)
      .select(col("p_event_id"), col("c_event_id"), col("user_id"),
        (least(col("p_end"), col("c_end")) - greatest(col("p_start"), col("c_start")))
          .as("overlap_us"))
      .orderBy(col("p_event_id"), col("c_event_id"))
  }

  val evtOverlapOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |p AS (SELECT user_id, event_id AS p_event_id, ts_us AS p_start,
      |    ts_us + 3600000000 AS p_end FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS c_event_id, ts_us AS c_start,
      |    ts_us + 1800000000 AS c_end FROM e WHERE event_type = 'click')
      |SELECT p.p_event_id, c.c_event_id, p.user_id,
      |  least(p.p_end, c.c_end) - greatest(p.p_start, c.c_start) AS overlap_us
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND p.p_start <= c.c_end AND c.c_start <= p.p_end
      |ORDER BY p.p_event_id, c.c_event_id""".stripMargin

  // ---- multimodal ---------------------------------------------------------------

  def mmDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeDocuments(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("width"), col("height"), col("n_bytes"), col("format"))
      .orderBy(col("doc_id"))

  val mmDecodeOracle: String =
    """SELECT doc_id,
      |  64 + (ascii(substr(text, 1, 1)) & 63) AS width,
      |  64 + (ascii(substr(text, 2, 1)) & 63) AS height,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  'fake' AS format
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame sampling over fake media payloads (every 2nd 64-byte frame),
    * value-checked: the oracle replays the byte math with substr/md5 (text
    * is ascii, so byte offsets == char offsets). */
  def mmFrames(spark: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"))
    frames.toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Audio-energy extraction over the fake-media payloads
    * ([[Multimodal.frameEnergy]]): 64-sample unsigned-PCM windows, per-frame
    * Σs² in exact integers — the VAD/silence-trim primitive, gate-replayed
    * byte for byte by the oracle's ascii() arithmetic. */
  def mmEnergy(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameEnergy(
      Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"))
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  val mmEnergyOracle: String =
    """SELECT doc_id, frame_idx, n_samples,
      |  CAST(list_reduce(list_prepend(0,
      |    list_transform(range(1, CAST(n_samples AS INTEGER) + 1),
      |      p -> ascii(substr(frame, p, 1)) * ascii(substr(frame, p, 1)))),
      |    (a, b) -> a + b) AS BIGINT) AS energy
      |FROM (
      |  SELECT doc_id, i AS frame_idx,
      |    CAST(least(64, length(text) - i * 64) AS BIGINT) AS n_samples,
      |    substr(text, CAST(i * 64 + 1 AS INTEGER), 64) AS frame
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(0, greatest((length(text) + 63) // 64, 1) - 1)) AS i
      |    FROM documents) s) t
      |ORDER BY doc_id, frame_idx""".stripMargin

  val mmFramesOracle: String =
    """SELECT doc_id, frame_idx, frame_len, md5(frame) AS frame_md5 FROM (
      |  SELECT doc_id, i AS frame_idx,
      |    CAST(least(64, length(text) - i * 64) AS BIGINT) AS frame_len,
      |    substr(text, CAST(i * 64 + 1 AS INTEGER), 64) AS frame
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(0, greatest((length(text) + 63) // 64, 1) - 1)) AS i
      |    FROM documents) s
      |  WHERE i % 2 = 0) t
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---- UDF / SQL / DDL surface ---------------------------------------------------

  def udfSurface(spark: SparkSession, dir: String): DataFrame = {
    Udafs.register(spark)
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_returnflag,
        |  graft_sum_squares(CAST(l_linenumber AS BIGINT)) AS sum_sq,
        |  round(graft_tax(max(l_extendedprice)), 4) AS max_taxed
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val udfSurfaceOracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_sq,
      |  round(max(l_extendedprice) * 1.1, 4) AS max_taxed
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** SQL entry point over registered views (reference: BallistaContext::sql,
    * client/src/context.rs:356). */
  def sqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  val sqlEntryOracle: String =
    """SELECT n_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Temp-view DDL (reference: CreateViewNode, datafusion.proto:204-210). */
  def ddlView(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      "CREATE OR REPLACE TEMPORARY VIEW graft_big_orders AS " +
        "SELECT * FROM orders WHERE o_totalprice > 400000")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM graft_big_orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val ddlViewOracle: String =
    """WITH graft_big_orders AS (SELECT * FROM orders WHERE o_totalprice > 400000)
      |SELECT o_orderpriority, COUNT(*) AS n
      |FROM graft_big_orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Hard-negative mining (contrastive-training data prep): per query, the
    * 5 most-similar corpus vectors with cosine in [0.1, 0.3) — similar
    * enough to be hard, dissimilar enough to be true negatives. */
  def simHardneg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(e.filter(col("vec_id").isin(0, 1, 2)), e,
        k = 5, lo = 0.1, hi = 0.3)
      .select(col("query_id"), col("corpus_id"), col("score"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simHardnegOracle: String =
    s"""SELECT query_id, corpus_id, score, rank FROM (
       |  SELECT query_id, corpus_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, corpus_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |      round(${sqlCosine("q.embedding", "c.embedding")}, 6) AS score
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id IN (0, 1, 2) AND q.vec_id <> c.vec_id) s
       |  WHERE score >= 0.1 AND score < 0.3) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // ---- typed Dataset API: per-group sequential algorithm ---------------------

  /** Longest same-type event streak per user, via the TYPED Dataset API
    * (`KeyValueGroupedDataset.mapGroups`) — the per-group imperative escape
    * hatch for logic that is genuinely sequential (the JVM analog of
    * applyInPandas; same altitude as the reference's user-defined
    * execution nodes). The group iterator is materialized and sorted in
    * memory: per-user history is bounded (the same contract sessionization
    * relies on), so state is O(one user's events), never O(corpus), and the
    * only shuffle is the groupByKey. Ties on streak length resolve to the
    * lexicographically smallest event_type; the oracle replays the whole
    * thing declaratively as gaps-and-islands SQL, so the imperative and
    * declarative forms must agree row-for-row. */
  def evtStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.eventsTs(spark, dir)
      .filter(col("user_id") < 40)
      // an untyped (NULL event_type) event cannot form or extend a streak
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e._3, e._2))
        var bestLen = 0L; var bestType = ""
        var curLen = 0L; var curType: String = null
        evs.foreach { e =>
          if (e._4 == curType) curLen += 1
          else { curType = e._4; curLen = 1 }
          if (curLen > bestLen || (curLen == bestLen && curType < bestType)) {
            bestLen = curLen; bestType = curType
          }
        }
        (uid, bestLen, bestType)
      }
      .toDF("user_id", "max_streak", "streak_type")
      .orderBy(col("user_id"))
  }

  val evtStreaksOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rnt
      |  FROM events WHERE user_id < 40),
      |streaks AS (
      |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS streak
      |  FROM seq GROUP BY user_id, event_type, rn - rnt),
      |mx AS (SELECT user_id, max(streak) AS max_streak FROM streaks GROUP BY user_id)
      |SELECT m.user_id, m.max_streak, min(s.event_type) AS streak_type
      |FROM mx m JOIN streaks s ON s.user_id = m.user_id AND s.streak = m.max_streak
      |GROUP BY m.user_id, m.max_streak
      |ORDER BY m.user_id""".stripMargin

  // ---- registry --------------------------------------------------------------------

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "ded_exact" -> ((dedExact _, Some(dedExactOracle))),
    "ded_minhash" -> ((dedMinhash _, Some(dedMinhashOracle))),
    "ded_ngram" -> ((dedNgram _, Some(dedNgramOracle))),
    "ded_prefix" -> ((dedPrefix _, Some(dedPrefixOracle))),
    "ded_contain" -> ((dedContain _, Some(dedContainOracle))),
    "ded_simhash" -> ((dedSimhash _, Some(dedSimhashOracle))),
    "ded_embed" -> ((dedEmbed _, Some(dedEmbedOracle))),
    "sim_topk" -> ((simTopk _, Some(simTopkOracle))),
    "sim_ivf" -> ((simIvf _, Some(simIvfOracle))),
    "sim_recall" -> ((simRecall _, Some(simRecallOracle))),
    "cls_confusion" -> ((clsConfusion _, Some(clsConfusionOracle))),
    "sim_lsh" -> ((simLsh _, Some(simLshOracle))),
    "txt_stats" -> ((txtStats _, Some(txtStatsOracle))),
    "txt_langid" -> ((txtLangid _, Some(txtLangidOracle))),
    "txt_fingerprint" -> ((txtFingerprint _, Some(txtFingerprintOracle))),
    "txt_tokens" -> ((txtTokens _, Some(txtTokensOracle))),
    "evt_sessionize" -> ((evtSessionize _, Some(evtSessionizeOracle))),
    "evt_session_window" -> ((evtSessionWindow _, Some(evtSessionWindowOracle))),
    "evt_hop" -> ((evtHop _, Some(evtHopOracle))),
    "evt_asof" -> ((evtAsof _, Some(evtAsofOracle))),
    "evt_asof_near" -> ((evtAsofNear _, Some(evtAsofNearOracle))),
    "evt_range" -> ((evtRange _, Some(evtRangeOracle))),
    "evt_overlap" -> ((evtOverlap _, Some(evtOverlapOracle))),
    "mm_decode" -> ((mmDecode _, Some(mmDecodeOracle))),
    "mm_frames" -> ((mmFrames _, Some(mmFramesOracle))),
    "mm_energy" -> ((mmEnergy _, Some(mmEnergyOracle))),
    "ded_phash" -> ((dedPhash _, Some(dedPhashOracle))),
    "udf_surface" -> ((udfSurface _, Some(udfSurfaceOracle))),
    "sql_entry" -> ((sqlEntry _, Some(sqlEntryOracle))),
    "ddl_view" -> ((ddlView _, Some(ddlViewOracle))),
    "evt_streaks" -> ((evtStreaks _, Some(evtStreaksOracle))),
    "sim_hardneg" -> ((simHardneg _, Some(simHardnegOracle)))
  )
}
