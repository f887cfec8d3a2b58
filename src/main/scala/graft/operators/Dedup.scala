package graft.operators

import graft.functions.TextFunctions
import graft.plans.TextExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime: every candidate-generation step is a keyed shuffle
  * (group-by content hash, band bucket, or shared shingle) — never an n²
  * cartesian. Verification only runs inside candidate buckets.
  */
object Dedup {

  /** Exact dedup: group by md5 of normalized text, keep the minimum id as
    * canonical. One shuffle on the content hash — scales linearly.
    * Round 15 note: a spread before the normalize+md5 projection was
    * tried (the projection runs single-task inside a one-split scan) and
    * MEASURED SLOWER everywhere (ded_exact 0.35 -> 0.53 s, cur_funnel
    * 0.97 -> 1.38 s, cur_funnel2 2.92 -> 3.04 s at sf0.1): shuffling the
    * text payload cost more than the serial projection.
    * Kept exchange-free — the text never shuffles. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(TextFunctions.normalize(col(textCol)).cast(BinaryType)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** K-function MinHash signatures, one row per document: `sig` is the
    * [[graft.plans.MinhashSignature]] kernel — tokenize, shingle, hash and
    * the K affine minima (min over distinct shingles of (a_i·h + b_i)
    * mod P) in one compiled per-row pass, no shingle rows and no shuffle
    * beyond the spread. Documents with NULL text or fewer than `shingleK`
    * tokens have no shingles, hence a NULL `sig`.
    *
    * COLLISION CONTRACT (`shingleSpace`, default P = 2³¹−1): a shingle's
    * element is h = (hash64(shingle) mod shingleSpace) mod P, where
    * hash64 is the 60-bit md5 prefix of [[TextFunctions.hash64]], so
    * elements live in [0, min(shingleSpace, P)). Signatures are minima
    * over the HASHED shingle set: two distinct shingles colliding makes
    * their docs share one element — within one doc a collision is
    * invisible (the set just holds the value once), across docs it can
    * shift signature slots and hence LSH agreement in either direction
    * relative to an injective hash. Birthday bound at the default: D
    * distinct shingles collide somewhere with p ≈ D²/2³² (the sf0.1 gate
    * corpus has ≈ 27k, so p ≈ 0.17), and collisions are expected once D
    * nears 2¹⁶; each perturbs at most the slots it wins, which LSH
    * tolerates by design, and the oracle reduces mod P identically. `HashCollisionLawsSpec`
    * pins the hashed-set model in a deliberately tiny space
    * (`shingleSpace = 61`); the default regime is pinned exactly by
    * `MinhashLawsSpec`. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleK: Int = 3,
                        shingleSpace: Long = TextFunctions.MinhashP): DataFrame =
    // Spread the narrow raw rows BEFORE the signature: it otherwise runs
    // inside the scan stage — one task on a single-split input (guide
    // §2.5; round 14, profiled single-task stages)
    Spread(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), col("doc_id"))
      .select(col("doc_id"),
        TextExpressions.minhashSignature(col("text"), k, shingleK, shingleSpace).as("sig"))

  /** MinHash + LSH near-dup candidates: K-hash signature, banded into
    * `bands` buckets; docs sharing any band key become a candidate pair,
    * scored by signature agreement. Shuffles: signature agg + one
    * self-join on (band index, band key) — no cartesian.
    *
    * The BAND KEY carries no collision class of its own: it is the `rows`
    * raw signature values concatenated verbatim (not a hash of them), so
    * two docs share a band key iff those signature slots are exactly
    * equal — the LSH banding contract. The only hash in the pipeline is
    * the per-shingle hash reduced into `shingleSpace` (see
    * [[minhashSignatures]]'s collision contract and birthday bound). */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 4, minAgree: Double = 0.5,
                   shingleSpace: Long = TextFunctions.MinhashP): DataFrame = {
    val rows = k / bands
    // Tier 1: signatures and banding over distinct contents only (identical
    // text ⇒ identical signature ⇒ collides in every band with agreement
    // exactly 1.0) — see collapseExact.
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val sig = minhashSignatures(reps, "doc_id", "text", k, shingleSpace = shingleSpace)
    // Docs without a signature get no band rows: concat_ws skips NULLs, so
    // banding them would put every one under the key "" — one quadratic
    // candidate bucket (the oracle's band keys for them are NULL). The guard
    // sits inside the explode because a Filter on `sig` would be pushed
    // below the spread into the scan stage, computing every signature twice.
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(when(col("sig").isNotNull, transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          concat_ws("_", (1 to rows).map(r => element_at(col("sig"), b * rows + r)): _*)
            .as("key"))))).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // dedup band collisions BEFORE scoring: docs colliding in b bands would
    // otherwise pay the interpreted K-element agreement fold b times; the
    // distinct on (pair, sigs) is exact since sigs are functions of the ids
    val repPairs = a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .select(col("rep_a"), col("rep_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast(DoubleType) / k).as("sig_agree"))
      .filter(col("sig_agree") >= minAgree)
    // Tier 2: intra-group pairs score exactly 1.0, signature or not. Null
    // texts are singleton groups by construction. Null and sub-shingleK
    // docs have no signature and no band rows, so they never cross-pair —
    // the oracle agrees, since their band keys are NULL.
    val intra = reps.filter(col("csize") > 1)
      .select(col("doc_id").as("rep_id"))
      .withColumn("sig_agree", lit(1.0))
      .filter(col("sig_agree") >= minAgree)
    expandPairs(repPairs, memb, "sig_agree")
      .unionByName(intraPairs(intra, memb, "sig_agree"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs under prefix+length
    * blocking. Candidates come from a per-block self-join keyed on
    * (normalized `pfxLen`-char prefix, `lenBucket`-char length bucket) —
    * near-identical docs land in the same block unless the edit falls in
    * the first characters, the standard prefix-blocking trade-off. Blocks
    * larger than `blockCap` are dropped before the join (stop-shingle
    * pattern: a boilerplate prefix shared by d docs costs d² pairs), and
    * the distance runs once per surviving pair on a bounded `cmpLen`
    * prefix with Spark's thresholded early-exit, so one pair costs
    * O(cmpLen·maxDist) regardless of document length. */
  def editPairs(docs: DataFrame, idCol: String, textCol: String,
                pfxLen: Int = 12, lenBucket: Int = 32, cmpLen: Int = 96,
                maxDist: Int = 20, blockCap: Long = 64L): DataFrame = {
    // Tier 1: collapse exact duplicates — blocking and Levenshtein run per
    // DISTINCT content (identical text ⇒ distance 0, no comparison needed),
    // so duplicate clusters cost O(1) candidates instead of O(d²); measured
    // 63x/decade → linear on the copy-heavy scale ramp. block_n weights
    // each representative by its cluster size, so the cap still measures
    // RAW corpus block membership exactly as uncollapsed (identical text
    // lands its whole cluster in one block).
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    // Round 14 note: a full-width spread before the normalize was tried
    // and measured slower (1.6 -> 1.9s at sf0.1). Round 15: retried at
    // the memory-bounded width (12 at local[32]) after profiling showed
    // the normalize+prefix projection as a 0.67 s single-task stage — STILL
    // slower (1.5 -> 1.83 s): the text exchange + extra stage outweigh the
    // projection at this payload size. Kept exchange-free both rounds.
    val blocked = reps
      .select(col("doc_id").as("rep_id"), col("csize"),
        TextFunctions.normalize(col("text")).as("s"))
      .select(col("rep_id"), col("csize"), col("s"),
        substring(col("s"), 1, pfxLen).as("pfx"),
        expr(s"length(s) DIV $lenBucket").as("lb"))
      .withColumn("block_n", sum(col("csize")).over(Window.partitionBy("pfx", "lb")))
      .filter(col("block_n") <= blockCap)
    val lhs = blocked.select(col("rep_id").as("rep_a"), col("s").as("sa"),
      col("pfx"), col("lb"))
    val rhs = blocked.select(col("rep_id").as("rep_b"), col("s").as("sb"),
      col("pfx"), col("lb"))
    val repPairs = lhs.join(rhs, Seq("pfx", "lb"))
      .filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b"),
        levenshtein(substring(col("sa"), 1, cmpLen),
          substring(col("sb"), 1, cmpLen), maxDist).cast(LongType).as("dist"))
      .filter(col("dist").between(0, maxDist)) // thresholded form yields -1 above maxDist
    // Tier 2: expand rep pairs to member pairs; intra-cluster pairs are the
    // exact duplicates (distance 0 by definition) within surviving blocks.
    val intra = blocked.filter(col("csize") > 1)
      .select(col("rep_id"), lit(0L).as("dist"))
    expandPairs(repPairs, memb, "dist")
      .unionByName(intraPairs(intra, memb, "dist"))
  }

  /** Exact-duplicate collapse for the near-dup pipelines: one
    * representative per distinct raw text (identical text ⇒ identical
    * shingle set / signature), plus the member map to expand pairs back.
    * At corpus scale the duplicate clusters are the dominant mass, so the
    * expensive candidate stage should cost per *unique content*, not per
    * row — collapse-then-expand is the standard two-tier production
    * design. Null texts stay singleton groups: they yield no shingles or
    * signatures and so never pair in the uncollapsed pipeline; grouping
    * them would invent pairs.
    *
    * Returns (reps(doc_id, text, csize), memb(rep_id, member_id)). */
  private[operators] def collapseExact(docs: DataFrame, idCol: String,
                                       textCol: String): (DataFrame, DataFrame) = {
    // The text payload never shuffles and md5 runs once: grouping is a
    // window over narrow (doc_id, ckey) rows — memb and the winning ids
    // are two projections of the SAME windowed frame (second consumer is a
    // ReusedExchange) — and representatives come from joining the winning
    // ids back against the scan, which AQE broadcasts when they fit; even
    // when they don't, the text moves at most once.
    val w = Window.partitionBy(col("ckey"))
    val keyed = docs.select(col(idCol).as("doc_id"),
      coalesce(md5(col(textCol).cast(BinaryType)),
        concat(lit("null:"), col(idCol).cast(StringType))).as("ckey"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("csize", count(lit(1)).over(w))
    val memb = keyed.select(col("rep_id"), col("doc_id").as("member_id"))
    val repIds = keyed.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("csize"))
    val reps = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(repIds, Seq("doc_id"))
    (reps, memb)
  }

  /** Expand representative-level pairs to all member pairs. Groups are
    * disjoint, so each unordered member pair surfaces exactly once; ids are
    * re-ordered per pair because member ids interleave across groups. */
  private[operators] def expandPairs(repPairs: DataFrame, memb: DataFrame,
                                     scoreCol: String): DataFrame =
    repPairs
      .join(memb.select(col("rep_id").as("rep_a"), col("member_id").as("m_a")), Seq("rep_a"))
      .join(memb.select(col("rep_id").as("rep_b"), col("member_id").as("m_b")), Seq("rep_b"))
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col(scoreCol))

  /** All intra-group member pairs for groups passing `scored` (keyed by
    * rep_id with a precomputed score column). */
  private[operators] def intraPairs(scored: DataFrame, memb: DataFrame,
                                    scoreCol: String): DataFrame =
    scored
      .join(memb.select(col("rep_id"), col("member_id").as("m_a")), Seq("rep_id"))
      .join(memb.select(col("rep_id"), col("member_id").as("m_b")), Seq("rep_id"))
      .filter(col("m_a") < col("m_b"))
      .select(col("m_a").as("doc_a"), col("m_b").as("doc_b"), col(scoreCol))

  /** The hashed-shingle index of the set-similarity joins, over the
    * representatives of [[collapseExact]]: one (doc_id, tok) row per
    * DISTINCT hashed `k`-shingle of each representative's text, where
    * tok = `hash`(shingle), by default the 60-bit [[TextFunctions.hash64]].
    * Shingles are distinct per doc, so a doc's row count is its set size.
    *
    * ONE build, shared behind the explicit doc-keyed `repartition`: every
    * consumer (set sizes, df tables, candidate joins, verification arrays)
    * reads the same shuffle stage, which AQE executes once and reuses, so
    * the interpreted gram transform (tokens staged separately per the
    * shinglesFromTokens contract) is not re-executed per consumer —
    * measured 17.1 s → 6.2 s on ded_prefix at sf0.1; an eager
    * localCheckpoint there benched SLOWER (12.7 s: it pays materialization
    * every run without pipelining into the first consumer); on ded_ngram
    * a checkpoint measured no faster than this exchange (2.35 s against
    * 2.49 s median at sf0.1, inside its own run-to-run spread) and runs a
    * job when the DataFrame is built.
    * Two details keep every copy of the subtree identical:
    *  - the Spread before the transform (it otherwise runs inside the
    *    one-task scan stage of a single-split input, profiled 0.76 s
    *    serial) is keyed on xxhash64(doc_id): hashing by doc_id itself
    *    would already satisfy the repartition(doc_id), the optimizer would
    *    drop that exchange, and the transform would run once per consumer;
    *  - tok's non-nullness is pinned explicitly: a join pushes an
    *    isnotnull(tok) filter into ITS copy of the subtree while other
    *    copies have none, so the copies canonicalized differently and the
    *    transform executed twice. tok is provably non-null, so the filter
    *    is a no-op that makes every copy identical.
    * For the same reason the index carries no other column (ded_ngram's
    * csize joins in downstream) and every consumer reads both columns:
    * column pruning pushes through the repartition, so a consumer that
    * reads fewer columns gets a copy of its own.
    *
    * Hashed elements (round 11): every downstream exchange carries 8-byte
    * longs instead of ~25-byte strings, and array_intersect compares
    * integers (measured 3.7 s → 1.9 s on ded_prefix at sf0.1, shuffle
    * 185 MB → 60 MB). The oracles hash identically before their all-pairs
    * replays, so gate results stay exact over HASHED shingle sets: a
    * within-doc collision merges the same two elements on both engines
    * (array_distinct post-hash here, list_distinct post-hash there), and
    * a set-similarity value can drift from its string-set value only on a
    * 60-bit md5 collision inside one pair's union (≈27k-element universe
    * at sf0.1 ⇒ P ≈ 3e-10 corpus-wide). */
  private def shingleIndex(reps: DataFrame, k: Int,
                           hash: Column => Column = TextFunctions.hash64): DataFrame =
    Spread(reps.select(col("doc_id"), col("text")), xxhash64(col("doc_id")))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("t"), k).as("ss"))
      .select(col("doc_id"), explode(
        array_distinct(transform(col("ss"), e => hash(e)))).as("tok"))
      .filter(col("tok").isNotNull)
      .repartition(col("doc_id"))

  /** Each doc's elements of a [[shingleIndex]] under the global rarity
    * order (document frequency ascending, then tok): adds `pos`, the
    * element's 1-based rank within its doc, and `n`, the doc's set size.
    * Any consistent global order keeps a prefix filter lossless;
    * rarity-first only shrinks its buckets, so df counts representatives
    * (weighting by csize would add a join for no candidate-set change).
    * No join-strategy hint on the df join (round 11): the df table is
    * heavy-hitter-sized, so AQE broadcasts it at any scale where it fits
    * (measured 3.4 s → 2.7 s on ded_prefix at sf0.1) and falls back to a
    * shuffled join when runtime sizes demand. */
  private def rarityRanked(idx: DataFrame): DataFrame = {
    val dfreq = idx.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    idx.join(dfreq, Seq("tok"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  /** Corpus-weighted document frequency of each element of an inverted
    * index idx(doc_id, tok) over representatives: (tok, df), df summing
    * the group sizes reps(doc_id, csize) of the docs that hold tok, so a
    * cap on df measures frequency over the FULL corpus (an element of one
    * content duplicated d times has df = d, exactly as uncollapsed).
    * Callers drop the elements over their cap before [[overlapCounts]]:
    * one element shared by d docs costs d² join rows, so a corpus-wide
    * boilerplate element would make its bucket quadratic at scale, and
    * it carries no discriminating signal. */
  private[operators] def weightedDf(idx: DataFrame, reps: DataFrame): DataFrame =
    idx.join(reps.select(col("doc_id"), col("csize")), Seq("doc_id"))
      .groupBy(col("tok")).agg(sum(col("csize")).as("df"))

  /** Shared elements per representative pair of a capped inverted index
    * kept(doc_id, tok): (rep_a, rep_b, n) with rep_a < rep_b and n ≥ 1.
    * The self-join is pinned shuffle_hash: its keys are high-cardinality
    * and near-uniform once capped (hottest surviving element ≤ the cap),
    * so a hash join per partition beats sort-merge's double sort of the
    * index (measured 2x on ded_ngram at sf0.1); AQE still splits skewed
    * partitions below the cap. */
  private[operators] def overlapCounts(kept: DataFrame): DataFrame = {
    val k = kept.hint("shuffle_hash")
    k.select(col("tok"), col("doc_id").as("rep_a"))
      .join(k.select(col("tok"), col("doc_id").as("rep_b")), Seq("tok"))
      .filter(col("rep_a") < col("rep_b"))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n"))
  }

  /** All document pairs whose k-shingle Jaccard exceeds `threshold`, via
    * an inverted shingle index: explode distinct shingles, self-join on
    * the shingle (only docs sharing one meet), count intersections and
    * compute |A∩B| / (|A|+|B|−|A∩B|). Exact duplicates collapse first
    * ([[collapseExact]]), so the index holds distinct contents only.
    * Shingles whose corpus frequency exceeds `maxDf` are dropped before the
    * self-join ([[weightedDf]]; deliberately lossy for boilerplate, like
    * the reference's common-token pruning). Set sizes |A|,|B| are counted
    * before the cap, so capped pairs under-estimate Jaccard (the standard
    * stop-word approximation); results are exact when no shingle exceeds
    * the cap (sf0.1's hottest shingle has df≈25).
    *
    * HASHED-ELEMENT CONTRACT (round 11): set elements are the 60-bit
    * [[TextFunctions.hash64]] of each shingle string, not the string
    * itself — the index, df aggregation, candidate self-join and size
    * counts all carry 8-byte longs. Consequences a caller should know:
    *   - Jaccard values equal the string-set values unless two DISTINCT
    *     shingle strings collide in the 60-bit space. A collision inside
    *     one pair's union drifts that pair's Jaccard: colliding across
    *     sides (or one side with the intersection) merges non-shared
    *     elements into phantom overlap and INFLATES it, while colliding
    *     two elements both already in the intersection shrinks k/U to
    *     (k−1)/(U−1) and DEFLATES it (law-pinned both ways). Corpus-wide
    *     collision probability is ~1e-10 at gate scale (≈27k-shingle
    *     universe) and ≤ n²/2⁶¹ in general — at 10¹² distinct shingles
    *     switch to the full 128-bit digest (via `shingleHash`) before
    *     trusting exactness.
    *   - A cross-doc collision also MERGES the two strings' df counts, so
    *     the `maxDf` cap is evaluated on the merged count: both strings are
    *     dropped iff their summed corpus frequency exceeds the cap. Same
    *     probability class; affects candidate recall only through the cap,
    *     never verification.
    * `DedupLawsSpec` compares against brute-force STRING-set Jaccard on
    * random corpora, and `HashCollisionLawsSpec` pins both collision
    * effects by construction. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.2,
                        maxDf: Long = 10000L,
                        // Element-hash hook: the default is the 60-bit md5
                        // prefix; a caller at 10¹²-shingle scale passes a
                        // wider digest, and HashCollisionLawsSpec passes a
                        // deliberately TINY space to make the collision
                        // semantics above observable and law-checked.
                        shingleHash: Column => Column = TextFunctions.hash64): DataFrame = {
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val idx = shingleIndex(reps, k, shingleHash)
    // true set sizes, counted before the cap. count(tok), not count(1):
    // a consumer that reads only doc_id would prune tok through the
    // repartition and stop sharing the index (see shingleIndex)
    val sizes = idx.groupBy(col("doc_id")).agg(count(col("tok")).as("n_sh"))
    // The cap drops the stop set, which is tiny (≤ corpus rows / maxDf
    // heavy hitters), so AQE broadcasts it; joining the set to KEEP, as
    // Winnow does, measured 2.1 → 3.1 s here at sf0.1. The drop is a left
    // outer join plus a null test, not a left anti-join: the optimizer
    // pushes an anti-join below the index's repartition, that copy of the
    // index stops matching the others, and the shingle hash runs twice.
    val stop = weightedDf(idx, reps).filter(col("df") > maxDf)
      .select(col("tok"), lit(true).as("stop"))
    val kept = idx.join(stop, Seq("tok"), "left").filter(col("stop").isNull)
      .select(col("doc_id"), col("tok"))
    val repPairs = overlapCounts(kept)
      .join(sizes.select(col("doc_id").as("rep_a"), col("n_sh").as("na")), Seq("rep_a"))
      .join(sizes.select(col("doc_id").as("rep_b"), col("n_sh").as("nb")), Seq("rep_b"))
      .select(col("rep_a"), col("rep_b"),
        (col("n").cast(DoubleType) / (col("na") + col("nb") - col("n"))).as("jaccard"))
      .filter(col("jaccard") > threshold)
    // Tier 2: expand back. Intra-group jaccard is computed over SURVIVING
    // shingles — s/(n+n−s) — the same value the uncollapsed join produces
    // for two identical docs after stop-shingle removal (1.0 when nothing
    // was capped); s = 0 yields 0, which the threshold filter drops, just
    // as docs with no surviving shingles never meet in the join.
    val surv = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("s_sh"))
    val intraScores = reps.filter(col("csize") > 1)
      .select(col("doc_id").as("rep_id"))
      .join(sizes.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
      .join(surv.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
      .select(col("rep_id"),
        (col("s_sh").cast(DoubleType) / (col("n_sh") * 2 - col("s_sh"))).as("jaccard"))
      .filter(col("jaccard") > threshold)
    expandPairs(repPairs, memb, "jaccard")
      .unionByName(intraPairs(intraScores, memb, "jaccard"))
  }

  /** Prefix-filtered shingle-set similarity join — the AllPairs/PPJoin
    * family (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07). Candidate
    * pairs are generated only from each set's PREFIX under a global rarity
    * order (document frequency ascending, then shingle), length
    * |A| − ⌈t·|A|⌉ + 1: any pair with Jaccard ≥ t must overlap by
    * ≥ ⌈t·max(|A|,|B|)⌉ elements, and two sets overlapping that much cannot
    * have disjoint prefixes (the prefix-filtering lemma). Where
    * [[ngramJaccardPairs]] indexes EVERY surviving shingle and needs an
    * explicit stop-shingle df cap, the prefix index holds only each doc's
    * rarest shingles — the hot elements that would blow up an
    * inverted-index bucket are exactly the ones the prefix excludes, so no
    * cap parameter exists to tune. (The residual adversarial case — docs
    * whose sets have a single element, where prefix = whole set — is
    * inherent to the algorithm family and bounded by the length filter.)
    * The element universe must be discriminative for the prefix to bite:
    * on this corpus 2-shingles have a ~930-element vocabulary with median
    * df ≈ 284 (every prefix bucket goes quadratic — measured 17s flat),
    * while 3-shingles give 27k elements with max df 25; k = 3 is the
    * default for the same reason MinHash shingles at 3.
    *
    * Stages, all keyed shuffles: df agg on shingle → per-doc rank window
    * (bounded by doc length) → prefix self-join on shingle (shuffle_hash:
    * high-cardinality near-uniform keys) → candidate-pair verification by
    * joining per-doc shingle arrays (collected from narrow (doc, shingle)
    * rows — the text itself never shuffles) and computing exact |A∩B| with
    * a codegen'd array_intersect. A length filter (min ≥ t·max, implied by J ≥ t)
    * prunes candidates before verification. Exact-duplicate collapse
    * (the round-4 tier) runs first, so all of this costs per distinct
    * content; intra-group pairs are Jaccard 1.0 by construction. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.5, shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefixJaccardPairs: threshold must be in (0, 1], got $threshold")
    // Exact rational UNDER-approximation tNum/tDen <= threshold, from the
    // double's exact binary value. Every candidate-pruning bound below runs
    // in integer arithmetic against this rational, so it is implied by
    // J >= threshold and candidate generation stays lossless at float
    // boundaries — double forms of these bounds DROP true pairs whose
    // Jaccard sits exactly on the threshold (t = 0.4 is stored as
    // 0.4000000000000000222…, so the length filter `4 >= 0.4 * 10`
    // evaluates false; caught by DedupLawsSpec). Verification still
    // compares the exact double, so accepted-pair semantics are unchanged,
    // and at the 0.5 default the rational is exact (0.5 is a binary
    // fraction) — identical pruning, identical plans.
    val tDen = 1L << 20
    val tNum = (BigDecimal(threshold) * tDen)
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    // ceil(n * tNum / tDen) as exact integers; the double division is exact
    // below 2^53 and the cast truncates toward zero (operands positive)
    def ceilMul(n: Column, num: Long, den: Long): Column =
      ((n * num + (den - 1)) / den).cast(LongType)
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val idx = shingleIndex(reps, shingleK)
    // the collected array IS the set (elements are distinct per doc)
    val arrs = idx.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("toks"))
    // The candidate SELF-join below is pinned shuffle_hash: both sides are
    // the prefix index (data-sized, symmetric; broadcast can never apply
    // past toy scale), and left to AQE it becomes a sort-merge join that
    // pays two full sorts of the index (measured 37.5s vs 5.96s at sf10;
    // the hint costs ~0.4s at sf0.1 where AQE would have broadcast one
    // side).
    val prefix = rarityRanked(idx)
      .filter(col("pos") <= col("n") - ceilMul(col("n"), tNum, tDen) + 1)
      .select(col("tok"), col("doc_id"), col("n"), col("pos"))
    // positional filter (the "PP" of PPJoin, Xiao et al. WWW'08): a join row
    // at prefix positions (pa, pb) can witness overlap at most
    // 1 + min(na−pa, nb−pb); pairs with J ≥ t need overlap
    // ≥ ⌈t/(1+t)·(na+nb)⌉, and the FIRST shared prefix token of any such
    // pair satisfies the bound — so dropping rows below it is lossless
    // (distinct needs one surviving witness) and prunes pairs whose only
    // shared rare token sits deep in the prefix (measured 309k → far fewer
    // candidate rows at sf0.1)
    // t/(1+t) over the same rational: tNum/(tNum + tDen), still exact
    val cand = prefix.select(col("tok"), col("doc_id").as("rep_a"),
        col("n").as("na"), col("pos").as("pa")).hint("shuffle_hash")
      .join(prefix.select(col("tok"), col("doc_id").as("rep_b"),
        col("n").as("nb"), col("pos").as("pb")), Seq("tok"))
      .filter(col("rep_a") < col("rep_b"))
      .filter(least(col("na"), col("nb")) * tDen >=
        greatest(col("na"), col("nb")) * tNum)
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceilMul(col("na") + col("nb"), tNum, tNum + tDen))
      .select(col("rep_a"), col("rep_b"))
      .distinct()
    val repPairs = cand
      .join(arrs.select(col("doc_id").as("rep_a"), col("toks").as("ta")), Seq("rep_a"))
      .join(arrs.select(col("doc_id").as("rep_b"), col("toks").as("tb")), Seq("rep_b"))
      .select(col("rep_a"), col("rep_b"),
        // Round 15 note: a compiled two-pointer merge-intersect UDF over
        // these sorted distinct arrays was tried here and in
        // containmentPairs and MEASURED MUCH SLOWER (ded_prefix 2.9 -> 6.5 s,
        // ded_contain 2.2 -> 3.7 s at sf0.1, plan byte-identical): the
        // Seq[Long] bridge boxes every array element per candidate pair,
        // which dwarfs array_intersect's unboxed hash-set build. Kept as
        // the codegen'd built-in.
        size(array_intersect(col("ta"), col("tb"))).as("inter"),
        size(col("ta")).as("na"), size(col("tb")).as("nb"))
      .select(col("rep_a"), col("rep_b"),
        (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // identical text ⇒ identical token set ⇒ Jaccard exactly 1.0 ≥ t; null
    // texts are singleton groups (tokens(null) is null, so they never meet
    // in the uncollapsed join either)
    val intra = reps.filter(col("csize") > 1 && col("text").isNotNull)
      .select(col("doc_id").as("rep_id"))
      .withColumn("jaccard", lit(1.0))
    expandPairs(repPairs, memb, "jaccard")
      .unionByName(intraPairs(intra, memb, "jaccard"))
  }

  /** Prefix-filtered containment-similarity join: directional near-dup pairs
    * (doc_a, doc_b) with C(A,B) = |S_A ∩ S_B| / |S_A| ≥ tNum/tDen over
    * 3-shingle sets — the doc-inside-doc detector (quotations, boilerplate
    * wrappers, partial crawls) that symmetric Jaccard misses because a small
    * doc inside a big one has tiny union-normalized similarity.
    *
    * Candidate scheme: the contained side joins only its
    * n − ⌈t·n⌉ + 1 globally-rarest shingles (pigeonhole: a pair missing all
    * of them has overlap ≤ ⌈t·n⌉ − 1 < t·n — lossless); the container side
    * must keep its full inverted index (containment places no upper bound
    * on |B|), plus the necessary size filter |B| ≥ t·|A|. The threshold is
    * carried as the exact rational tNum/tDen end to end — ⌈t·n⌉ is integer
    * arithmetic and the accept test is i·tDen ≥ n·tNum — so no
    * float-boundary row can diverge from the oracle's all-pairs replay.
    * Exact-duplicate content collapses first ([[collapseExact]]); rep-level
    * pairs expand to directional member pairs, and intra-group pairs are
    * containment exactly 1 in both directions. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       tNum: Int = 4, tDen: Int = 5, shingleK: Int = 3): DataFrame = {
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val idx = shingleIndex(reps, shingleK)
    val arrs = idx.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("toks"))
    val ranked = rarityRanked(idx)
    val prefixA = ranked
      .filter(col("pos") <= col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select(col("tok"), col("doc_id").as("rep_a"), col("n").as("na"),
        col("pos").as("pa"))
    // Positional filter (round 11 — the PPJoin bound prefixJaccardPairs
    // already carries): a join row at positions (pa, pb) under the shared
    // global rarity order witnesses overlap at most 1 + min(na−pa, nb−pb);
    // containment ≥ t needs overlap ≥ ⌈t·na⌉, and the FIRST shared token
    // of any qualifying pair sits in A's prefix (pigeonhole) with every
    // other shared token after both of its positions — that witness row
    // always satisfies the bound, so dropping rows below it is lossless
    // (distinct needs one witness). Integer ceil, no float boundary.
    // (No strategy hint here, unlike prefixJaccardPairs' symmetric
    // self-join: this join is prefix-vs-FULL-index and its exchange volume
    // stays heavy-hitter-bounded — measured identical at sf10 with and
    // without shuffle_hash, and the hint costs ~0.25s at sf0.1 where AQE
    // broadcasts the prefix side.)
    val cand = prefixA
      .join(ranked.select(col("tok"), col("doc_id").as("rep_b"), col("n").as("nb"),
        col("pos").as("pb")), Seq("tok"))
      .filter(col("rep_a") =!= col("rep_b"))
      .filter(col("nb") * tDen >= col("na") * tNum)
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        expr(s"(na * $tNum + ${tDen - 1}) div $tDen"))
      .select(col("rep_a"), col("rep_b"))
      .distinct()
    val repPairs = cand
      .join(arrs.select(col("doc_id").as("rep_a"), col("toks").as("ta")), Seq("rep_a"))
      .join(arrs.select(col("doc_id").as("rep_b"), col("toks").as("tb")), Seq("rep_b"))
      .select(col("rep_a"), col("rep_b"),
        // array_intersect kept — a merge-intersect UDF measured slower
        // (boxing); see prefixJaccardPairs round-15 note
        size(array_intersect(col("ta"), col("tb"))).as("i"), size(col("ta")).as("na"))
      .filter(col("i") * tDen >= col("na") * tNum)
      .select(col("rep_a"), col("rep_b"),
        (col("i").cast(DoubleType) / col("na").cast(DoubleType)).as("containment"))
    val expanded = repPairs
      .join(memb.select(col("rep_id").as("rep_a"), col("member_id").as("doc_a")), Seq("rep_a"))
      .join(memb.select(col("rep_id").as("rep_b"), col("member_id").as("doc_b")), Seq("rep_b"))
      .select(col("doc_a"), col("doc_b"), col("containment"))
    val intra = reps.filter(col("csize") > 1 && col("text").isNotNull)
      .select(col("doc_id").as("rep_id"))
      .join(memb.select(col("rep_id"), col("member_id").as("doc_a")), Seq("rep_id"))
      .join(memb.select(col("rep_id"), col("member_id").as("doc_b")), Seq("rep_id"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("containment"))
    expanded.unionByName(intra)
  }

  /** One-pass block-mean signature, the exact integer arithmetic of the
    * previous column pipeline (posexplode(split(text,'')) → ascii per char
    * → groupBy(doc,blk) sums → per-doc window totals → bit fold) evaluated
    * in a single compiled loop per document:
    *  - position p (code point index), block blk = p·64 div len,
    *  - s = Spark `ascii` of the character = its Unicode CODE POINT
    *    (spec-pinned against the old formula on multi-byte payloads —
    *    Spark 4's Ascii matches DuckDB's, full code point, not the first
    *    UTF-8 byte),
    *  - bit b set iff s_b·N > S·c_b over exact Longs.
    * [[OperatorsSpec]] pins bit-equality against the old column formula on
    * ASCII, Latin-1, multi-byte and supplementary-plane payloads. */
  private val phashSignature = udf { text: String =>
    val utf16 = text.length
    var n = 0L // code points == old length(text) == old explode row count
    var i = 0
    while (i < utf16) { n += 1; i += Character.charCount(text.codePointAt(i)) }
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var st = 0L
    var p = 0L
    i = 0
    while (i < utf16) {
      val cp = text.codePointAt(i)
      val s = cp.toLong
      val blk = ((p * 64L) / n).toInt
      sums(blk) += s
      counts(blk) += 1L
      st += s
      p += 1L
      i += Character.charCount(cp)
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) * n > st * counts(b)) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Block-mean perceptual hash (the pHash family, Yang et al. 2006) over a
    * media payload viewed as unsigned 8-bit samples: 64 equal blocks, bit b
    * set iff block b's mean exceeds the payload mean. The mean comparison
    * is cleared of both divisions — s_b·N > S·c_b in exact integers — so
    * signatures are bit-identical on any engine/partitioning. This is the
    * image near-dup primitive (crops/brightness shifts flip few blocks);
    * with the container's decoders stubbed, payload = utf-8 bytes, exactly
    * like [[Multimodal]]. */
  def phash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // Map-only form (round 15, guide §1.2 "the distributed algorithm"):
    // the per-character posexplode produced one row per payload byte and
    // fed a groupBy(doc,blk) exchange + per-doc window + final groupBy — a
    // len-fold row blowup that materialized the whole split array (len
    // tiny UTF8Strings, ~50 MB in flight per MB of payload) in every task;
    // 32 such concurrent tasks thrashed one local heap (driver-measured
    // 7.76 s at local[32] vs 0.80 s at 8 cores, scaling ratio 0.10). The
    // signature is a pure per-document function, so it now evaluates as
    // one compiled O(len) loop inside the scan stage: no explode, no
    // exchange, no window, no per-task state beyond the row in flight.
    // (An exchange-free higher-order-function form was tried first and
    // measured 31.7 s at sf0.1 — interpreted per-character lambdas — vs
    // ~0.1 s for the compiled loop.) Scan-stage placement keeps the work
    // split-parallel at scale; no Spread floor is needed because the
    // per-row cost is proportional to payload bytes, exactly what file
    // splits already balance.
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      // empty/null payloads have no blocks (and `div len` must never see 0)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), phashSignature(col("text")).as("phash"))

  /** Perceptual-hash near-dup pairs: 4×16-bit chunk banding (docs sharing
    * any chunk become candidates — the simhash candidate scheme, which the
    * oracle replays identically), verified by Hamming distance ≤
    * `maxHamming`. Exact-duplicate payloads collapse first; intra-group
    * pairs are Hamming 0 by construction.
    *
    * GUARANTEE BOUNDARY (pigeonhole over 4 chunks): candidate generation is
    * LOSSLESS only for Hamming ≤ 3 — up to 3 differing bits cannot touch
    * all 4 chunks. For distances 4..maxHamming the chunk join is a recall
    * heuristic (the standard banding tradeoff: a pair whose differing bits
    * spread across all four chunks never meets), which is appropriate for
    * pHash because near-dup images concentrate their flips in few blocks;
    * the gate's oracle replays the same banding, so gated results are
    * exact BY THAT CONTRACT, not by all-pairs Hamming. A caller needing
    * lossless Hamming ≤ h > 3 must band with h+1 chunks and accept
    * 2^(64/(h+1))-entropy bucket keys — at 9-bit keys the bucket self-join
    * goes quadratic in corpus/512, which is why the 16-bit/4-chunk form is
    * the scale default (Manku et al., WWW'07 use exactly 4 chunks for
    * h = 3). [[BandingLawsSpec]] pins both sides of the boundary.
    *
    * COLLISION CONTRACT: unlike the shingle/gram pipelines there is NO
    * hash in the chunk-key path — `ckey` is bits 16c..16c+15 of the
    * signature verbatim (an injective decomposition: the 4 chunk keys
    * reconstruct the phash exactly), so two docs share a chunk key iff
    * their signatures agree on those 16 bits. The only "collision" class
    * is the banding recall boundary above, which BandingLawsSpec pins
    * from both sides; there is no hash-width regime to law-test and no
    * birthday term. (Two distinct IMAGES sharing a full phash is the
    * operator's intended semantics — perceptual bucketing — not a hash
    * accident; the Hamming verification step decides membership.) */
  def phashPairs(docs: DataFrame, idCol: String, textCol: String,
                 maxHamming: Int = 6): DataFrame = {
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val repPairs = hammingPairs(
      phash(reps, "doc_id", "text").select(col("doc_id"), col("phash").as("sig")), maxHamming)
    val intra = reps.filter(col("csize") > 1 && col("text").isNotNull)
      .select(col("doc_id").as("rep_id"))
      .withColumn("hamming", lit(0L))
    expandPairs(repPairs, memb, "hamming")
      .unionByName(intraPairs(intra, memb, "hamming"))
  }

  /** SimHash: 64-bit signature where bit b is set iff the majority of token
    * hashes have bit b set (hash64 is 60-bit, so bits 60+ stay clear and the
    * sign bit never sets). Explode-then-aggregate formulation: the md5-based
    * token hash is computed exactly once per token, and the 64 per-bit
    * counts are codegen'd sum aggregates in a single shuffle keyed by doc —
    * linear scaling, no interpreted higher-order loops. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread before the normalize/tokenize/md5 transform (round 14,
    // guide §2.5 — single-split inputs run it one-task otherwise)
    val toks = Spread(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
      .select(col("doc_id"), TextFunctions.hash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1L).otherwise(0L)).as(s"c$b")
    }
    val counted = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), bitSums: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"c$b") * 2 > col("n_tok"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    counted.select(col("doc_id"), sig.as("simhash"))
  }

  /** Hamming band join over 64-bit signatures sigs(doc_id, sig): each
    * signature splits into 4 × 16-bit chunk keys, docs sharing any
    * (chunk, key) become candidates, and each distinct candidate pair is
    * verified by bit_count(a ^ b) ≤ `maxHamming`. Candidate generation is
    * lossless through Hamming 3 (pigeonhole over 4 chunks) and a banding
    * recall heuristic above it (see [[phashPairs]]). The chunk key is the
    * signature's bits verbatim, not a hash, so it adds no collision class.
    * Returns (rep_a, rep_b, hamming) with rep_a < rep_b. */
  private def hammingPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c => struct(lit(c).as("chunk"),
        shiftright(col("sig"), c * 16).bitwiseAND(65535L).as("ckey"))): _*))
        .as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.chunk"), col("ck.ckey"))
    chunked.select(col("chunk"), col("ckey"), col("doc_id").as("rep_a"), col("sig").as("sig_a"))
      .join(chunked.select(col("chunk"), col("ckey"), col("doc_id").as("rep_b"),
        col("sig").as("sig_b")), Seq("chunk", "ckey"))
      .filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .select(col("rep_a"), col("rep_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs within `maxHamming` (≤ 3 with 4 chunks). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val (repPairs, memb, intra) = simhashRepPairs(docs, idCol, textCol, maxHamming)
    expandPairs(repPairs, memb, "hamming")
      .unionByName(intraPairs(intra, memb, "hamming"))
  }

  /** Representative-level simhash pairs BEFORE member expansion, for
    * consumers (e.g. [[Clustering]]) whose downstream cost scales with edge
    * count: at corpus scale, expanding a d-copy duplicate group multiplies
    * its pairs by d² while adding no connectivity information. Returns
    * (repPairs(rep_a, rep_b, hamming), memb(rep_id, member_id),
    * intra(rep_id, hamming=0) for multi-member groups). */
  def simhashRepPairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    // Tier 1: signatures and chunk-keying over distinct contents only
    // (identical text ⇒ identical simhash ⇒ hamming exactly 0) — see
    // collapseExact.
    val (reps, memb) = collapseExact(docs, idCol, textCol)
    val repPairs = hammingPairs(
      simhash(reps, "doc_id", "text").select(col("doc_id"), col("simhash").as("sig")), maxHamming)
    // Tier 2: intra-group pairs have hamming exactly 0. Unlike the
    // shingle-based pipelines, simhash's token explode drops null texts
    // (tokens(null) = null), so a null-text doc has NO signature and never
    // pairs uncollapsed; null groups are singletons anyway, and the
    // isNotNull guard documents-and-enforces the same for any caller
    // grouping differently. Checking the text column directly keeps the
    // sig subtree single-consumer.
    val intra = reps.filter(col("csize") > 1 && col("text").isNotNull)
      .select(col("doc_id").as("rep_id"))
      .withColumn("hamming", lit(0L))
    (repPairs, memb, intra)
  }
}
