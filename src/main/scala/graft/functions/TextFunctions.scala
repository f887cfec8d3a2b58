package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * Everything here is a composition of codegen'd built-ins (no Scala UDFs in
  * hot paths) so it runs distributed, whole-stage-compiled, and shuffle-free
  * per row at 100 TB. The 64-bit hash is md5-derived so results are portable
  * across engines (the DuckDB oracle reproduces it with the same formula).
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** Lowercase, strip non-alphanumerics, collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), "\\s+", " "))

  /** Portable 64-bit hash: first 15 hex chars of md5 → bigint (60 bits,
    * always positive). Slower than xxhash64 but reproducible in any engine;
    * swap for xxhash64 when oracle portability is not needed. */
  def hash64(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)

  /** Word k-shingles over an already-materialized token-array column.
    * A document with fewer than k tokens has NO k-shingles — it yields the
    * empty array on BOTH engines (Spark guards with a `when`, because
    * sequence(1, 0) steps DOWNWARD; DuckDB's generate_series(1, 0) is
    * already empty). Before round 10 this was a ≥k-token input CONTRACT
    * instead: ANSI element_at threw past the array end, so one short
    * document — millions of them in any real 100-TB corpus — killed the
    * whole job (DegenerateCorpusSpec found it; the gate corpora never
    * tokenize short, so results there are unchanged).
    * IMPORTANT: `t` must be a bound attribute, not an inline expression —
    * higher-order lambdas are interpreted with no subexpression
    * elimination, so an inline `split()` here would be re-evaluated for
    * every `element_at` of every sequence position (k × positions regex
    * splits per row). Stage tokens in their own projection first. */
  def shinglesFromTokens(t: Column, k: Int): Column =
    array_distinct(when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>")))

  /** Word k-shingles (k consecutive tokens joined by a space), distinct.
    * Convenience form for tests / small inputs — prefer staging tokens
    * via [[shinglesFromTokens]] in hot paths (see note there). */
  def shingles(text: Column, k: Int): Column = shinglesFromTokens(tokens(text), k)

  /** Word n-grams WITH duplicates (unlike [[shinglesFromTokens]]) — the
    * repetition-quality metrics need occurrence counts, not the set. Same
    * staging rule: `t` must be a bound token-array attribute; same
    * short-document rule: fewer than n tokens ⇒ the empty gram list on
    * both engines (the pre-round-10 form threw ANSI element_at past the
    * array end on any short document). */
  def ngramsFromTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature constants: for K hash functions (a_i*h + b_i) mod P
    * over the element hashes, take the min. P is the Mersenne prime 2^31-1;
    * element hashes are reduced mod P first so a*h+b stays < 2^62 (no
    * overflow). The signature itself is the native
    * [[graft.plans.MinhashSignature]] kernel; [[sql.minhashSignature]]
    * replays it for the oracle. */
  val MinhashP = 2147483647L
  val MinhashA: Seq[Long] = Seq(1610612741L, 805306457L, 402653189L, 201326611L,
    100663319L, 50331653L, 25165843L, 12582917L, 6291469L, 3145739L,
    1572869L, 786433L, 393241L, 196613L, 98317L, 49157L)
  val MinhashB: Seq[Long] = Seq(12289L, 24593L, 49157L, 98317L, 196613L, 393241L,
    786433L, 1572869L, 3145739L, 6291469L, 12582917L, 25165843L,
    50331653L, 100663319L, 201326611L, 402653189L)

  /** BPE-ish subword segmentation regex (GPT-2-style coarse classes:
    * contractions, space-prefixed letter runs, digit runs, punctuation
    * runs, whitespace). Counting matches approximates LLM token counts
    * far better than whitespace splitting — RE2/Java-compatible, so the
    * oracle replays it verbatim. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** Approximate LLM token count via [[BpePattern]]. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast(LongType)

  /** Order-dependent polynomial rolling hash over normalized tokens:
    * h_i = (31·h_{i-1} + hash64(tok_i) mod P) mod 1e9+7, h_0 = 0.
    * The ordered fold makes it position-sensitive (unlike bag-of-words
    * hashes) — the classic document/passage fingerprint. */
  val RollM = 1000000007L
  def rollingHash(text: Column): Column =
    aggregate(tokens(normalize(text)), lit(0L),
      (h, t) => (h * 31L + hash64(t) % MinhashP) % RollM)

  /** SQL fragments reproducing the above for the DuckDB oracle. */
  object sql {
    def tokens(text: String): String = s"string_split_regex(trim($text), '\\s+')"
    def tokenCount(text: String): String = s"CAST(len(${tokens(text)}) AS BIGINT)"
    def normalize(text: String): String =
      s"trim(regexp_replace(regexp_replace(lower($text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"
    def hash64(c: String): String = s"(('0x' || substr(md5($c), 1, 15))::BIGINT)"
    def shingles(text: String, k: Int): String = {
      val parts = (0 until k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      // generate_series(1, 0) is empty in DuckDB: short docs ⇒ no shingles,
      // mirroring the Spark side's when-guard
      s"(SELECT list_distinct(list_transform(generate_series(1, len(t)-${k - 1}), i -> $parts)) " +
        s"FROM (SELECT ${tokens(text)} AS t))"
    }
    def ngrams(text: String, n: Int): String = {
      val parts = (0 until n).map(j => s"t[i+$j]").mkString(", ")
      s"(SELECT list_transform(generate_series(1, len(t)-${n - 1}), i -> concat_ws(' ', $parts)) " +
        s"FROM (SELECT ${tokens(text)} AS t))"
    }
    def bpeTokenCount(text: String): String =
      s"CAST(len(regexp_extract_all($text, '${BpePattern.replace("'", "''")}')) AS BIGINT)"
    def rollingHash(text: String): String = {
      val toks = tokens(normalize(text))
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($toks, " +
        s"t -> ${hash64("t")} % $MinhashP)), (h, x) -> (h * 31 + x) % $RollM)"
    }
    def minhashSignature(elemsExpr: String, k: Int = 16): String = {
      val a = MinhashA.take(k).mkString("[", ", ", "]")
      val b = MinhashB.take(k).mkString("[", ", ", "]")
      s"list_transform(generate_series(0, ${k - 1}), i -> list_min(list_transform($elemsExpr, " +
        s"e -> ($a[i+1] * (${hash64("e")} % $MinhashP) + $b[i+1]) % $MinhashP)))"
    }
  }

  /** SQL-callable forms (catalyst expression builders — stay codegen'd). */
  def register(spark: SparkSession): Unit = {
    import graft.plans.SqlExprs
    import org.apache.spark.sql.graft.ColumnBridge.registerExpression
    registerExpression(spark, "graft_hash64", es => SqlExprs.hash64(es(0)))
    registerExpression(spark, "graft_normalize", es => SqlExprs.normalize(es(0)))
    registerExpression(spark, "graft_token_count", es => SqlExprs.tokenCount(es(0)))
    registerExpression(spark, "graft_similar_to", es =>
      SqlExprs.similarTo(es(0), SqlExprs.stringLiteral(es(1), "graft_similar_to pattern")))
    // table-valued: LATERAL VIEW graft_ngrams(text, 2) g AS gram
    registerExpression(spark, "graft_ngrams", es =>
      graft.plans.NgramGenerator(es(0), SqlExprs.intLiteral(es(1), "graft_ngrams n")))
  }
}
