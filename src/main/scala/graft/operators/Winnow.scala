package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03) —
  * the fingerprint-SELECTION algorithm behind MOSS-style near-dup and
  * plagiarism detection: hash every k-gram, slide a window of w hashes,
  * keep the minimum of each window. Guarantees any shared run of w+k-1
  * tokens yields at least one shared fingerprint, while storing ~2/(w+1)
  * of the hashes.
  *
  * Spark-first shape (no per-element interpreted lambdas in the hot path —
  * the lesson from the round-3 shingle rewrite): tokens posexplode to rows,
  * the k-gram is assembled with codegen'd `lead` window calls, md5 runs
  * once per gram row, and the window minimum is a `min` over a ROWS frame.
  * Both windows share one (doc_id, idx) sort, so the whole selection costs
  * a single keyed shuffle; the distinct that follows reuses the doc_id
  * partitioning (no second exchange).
  */
object Winnow {

  /** One row per (doc_id, fp): the winnowed fingerprint set. Documents with
    * fewer than `k` tokens produce no grams and are dropped (nothing to
    * fingerprint); documents with fewer than `w` grams produce exactly one
    * fingerprint (the minimum over all their hashes — the truncated first
    * window), matching the oracle's `greatest(1, ng-w+1)` window count.
    *
    * COLLISION CONTRACT (`gramHash` hook, default full 128-bit `md5` hex):
    * the window minimum and the fingerprint identity both live in the
    * hashed gram space, so two DISTINCT grams colliding (a) can change
    * which gram each window selects and (b) merge fingerprints across
    * documents — a phantom shared fingerprint that [[pairs]]' df-cap then
    * counts on the merged frequency. Birthday bound at the default width:
    * G distinct grams collide somewhere with p ≈ G²/2¹²⁹ — never
    * reachable (p≈1 needs ~2⁶⁴ ≈ 2e19 grams; a 100 TB corpus holds
    * ~10¹³). The hook exists so `HashCollisionLawsSpec` can pin the
    * hashed-gram model in a deliberately tiny space; the default regime
    * is pinned by `WinnowLawsSpec`'s SIGMOD'03 transcription. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, w: Int = 5,
                   gramHash: Column => Column = md5): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    val gram = concat_ws(" ",
      col("tok") +: (1 until k).map(j => lead(col("tok"), j).over(byDoc)): _*)
    // Spread the narrow raw rows before normalize/tokenize (round 14, guide
    // §2.5): the transform otherwise runs one-task inside a single-split
    // scan stage, and the doc-keyed exchange this inserts ALSO satisfies
    // byDoc's window distribution, so the gram/md5/window stage runs wide
    // with no additional exchange.
    Spread(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")), col("doc_id"))
      .select(col("doc_id"),
        TextFunctions.tokens(TextFunctions.normalize(col("__text"))).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), size(col("t")).as("n"), posexplode(col("t")).as(Seq("idx", "tok")))
      // assemble the k-gram from the next k-1 tokens; trailing rows whose
      // gram would be short (concat_ws skips the lead() nulls) are cut
      .withColumn("gram", gram)
      .filter(col("idx") <= col("n") - k)
      .select(col("doc_id"), col("idx"), (col("n") - (k - 1)).as("ng"),
        gramHash(col("gram")).as("h"))
      .withColumn("wmin", min(col("h")).over(byDoc.rowsBetween(0, w - 1)))
      .filter(col("idx") <= greatest(lit(0), col("ng") - w))
      .groupBy(col("doc_id"), col("wmin"))
      .agg(count(lit(1)).as("_cnt"))
      .select(col("doc_id"), col("wmin").as("fp"))
  }

  /** Candidate near-dup pairs: docs sharing ≥ `minShared` winnowed
    * fingerprints, via the inverted fingerprint index (keyed self-join,
    * never all-pairs). Fingerprints shared by more than `dfCap` documents
    * are dropped first — the stop-shingle pattern of [[Dedup.weightedDf]];
    * [[Dedup.overlapCounts]] then counts the shared fingerprints.
    *
    * Exact duplicates collapse FIRST (the round-4 tier the other dedup
    * families use, [[Dedup.collapseExact]]): identical text winnows to the
    * identical fingerprint set, so selection runs once per distinct
    * content; fingerprint document-frequency is weighted by group size (the
    * cap still measures the full corpus); intra-group pairs share exactly
    * the group's surviving fingerprints and cross-group pairs expand from
    * representative pairs — member-level output, provably unchanged. The
    * sf1→sf10 ramp (100x content duplication) was trending superlinear on
    * the member-level path; post-collapse the selection cost follows
    * distinct content while the Θ(d²) pair OUTPUT remains the query's own
    * semantics. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            k: Int = 4, w: Int = 5, dfCap: Int = 50,
            minShared: Long = 2L): DataFrame = {
    val (reps, memb) = Dedup.collapseExact(docs, idCol, textCol)
    val fps = fingerprints(reps, "doc_id", "text", k, w)
      .select(col("doc_id"), col("fp").as("tok"))
    // The cap joins the set to KEEP, which stays partitioned by fingerprint
    // for the self-join; dropping the stop set as ded_ngram does measured
    // 2.4 → 3.5 s here at sf0.1 (more exchanges).
    val keep = Dedup.weightedDf(fps, reps).filter(col("df") <= dfCap).select(col("tok"))
    val kept = fps.join(keep, Seq("tok"))
    val repPairs = Dedup.overlapCounts(kept).filter(col("n") >= minShared)
      .select(col("rep_a"), col("rep_b"), col("n").as("n_shared"))
    // identical docs share ALL the group's surviving fingerprints
    val intra = kept.groupBy(col("doc_id").as("rep_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    Dedup.expandPairs(repPairs, memb, "n_shared")
      .unionByName(Dedup.intraPairs(intra, memb, "n_shared"))
  }
}
