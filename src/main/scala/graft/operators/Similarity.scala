package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact, O(Q·N) — fine when the query
  * set Q is small and broadcast). Scale path: random-hyperplane LSH buckets
  * so candidate generation is a keyed join, O(N) shuffle, no cartesian.
  *
  * Norms are precomputed per vector before any pair join (same sqrt inputs,
  * so scores are bit-identical to the inline form), and the inner dot
  * products run through the native codegen'd [[graft.plans.VecDot]].
  */
object Similarity {

  /** Cosine via double accumulation in array order — bit-reproducible. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  private def withNorm(df: DataFrame, id: String, emb: String): DataFrame =
    df.select(col("vec_id").as(id), col("embedding").as(emb),
      sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))).as(s"${id}_norm"))

  /** Brute-force top-k neighbors for each query vector. The query side is
    * expected to be small (broadcast); ranking is deterministic via
    * (rounded score desc, id) so results are stable under partitioning.
    * Zero-norm vectors are excluded on BOTH sides per the tier-wide
    * [[normsPositive]] contract — without the guard one degenerate
    * embedding in a 100-TB corpus kills the whole job (ANSI double
    * division by zero throws; caught by AnnLawsSpec). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = withNorm(queries, "query_id", "q_emb")
    val c = withNorm(corpus, "corpus_id", "c_emb")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .filter(normsPositive(col("query_id_norm"), col("corpus_id_norm")))
      .select(col("query_id"), col("corpus_id"),
        round(VectorFunctions.dot(col("q_emb"), col("c_emb")) /
          (col("query_id_norm") * col("corpus_id_norm")), 6).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most-similar corpus items whose cosine falls in [lo, hi) — below
    * the positive threshold but close enough to carry gradient. Same
    * broadcast-query + windowed-top-k shape as [[bruteForceTopK]]; the band
    * filter runs BEFORE the rank window, so the per-query sort only sees
    * band candidates (at corpus scale the band is a small fraction of N). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = withNorm(queries, "query_id", "q_emb")
    val c = withNorm(corpus, "corpus_id", "c_emb")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .filter(normsPositive(col("query_id_norm"), col("corpus_id_norm")))
      .select(col("query_id"), col("corpus_id"),
        round(VectorFunctions.dot(col("q_emb"), col("c_emb")) /
          (col("query_id_norm") * col("corpus_id_norm")), 6).as("score"))
      .filter(col("score") >= lo && col("score") < hi)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane j, dim i):
    * md5-derived hash mapped into [-1, 1]. Computed once at plan time in
    * Scala — exactly the formula TextFunctions.hash64 evaluates, so the
    * DuckDB oracle reproduces it with SQL md5. */
  def planeWeightValue(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${j}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex.take(15), 16) % 2001L) - 1000L).toDouble / 1000.0
  }

  /** Sign-bit bucket id from `nPlanes` random hyperplanes: the plane weights
    * are literal double arrays, so each sign test is one codegen'd VecDot. */
  def lshBucket(emb: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val w = array((1 to dim).map(i => lit(planeWeightValue(j, i))): _*)
      when(VectorFunctions.dot(emb, w) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** REFERENCE IMPLEMENTATION ONLY (OperatorsSpec equivalence baseline —
    * not reachable from any gated `SparkEntry.queries` entry; the gated
    * brute-force path is [[cosineAllPairsBlockJoin]], which distributes the
    * same exact semantics as a keyed join with nothing on the driver).
    *
    * All-pairs raw cosine over a corpus small enough to broadcast
    * (embedding block + norms ≈ bytes-per-vector × N — 512 KB at N=2000,
    * d=64). The block is built driver-side exactly like a broadcast-join
    * build side; scoring runs as a distributed flatMap where each task
    * loops the broadcast block in a tight JIT'd loop — no join-row
    * materialization of the arrays (a BroadcastNestedLoopJoin copies both
    * embeddings into every candidate row; at N² pairs that is gigabytes of
    * memcpy). Arithmetic is element-order identical to [[graft.plans.VecDot]]
    * (float→double madds left to right), so scores are bit-equal to the
    * declarative form. For corpora too large to broadcast, use
    * [[lshPairs]]/[[ivfTopK]]. Emits id_a < id_b raw scores; round/filter
    * downstream. */
  def cosinePairsBlocked(corpus: DataFrame, maxRows: Long = 500000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // fail fast before materializing anything on the driver: a count is one
    // cheap distributed job, a collect of an over-sized corpus is a driver OOM
    val n = vecs.count()
    require(n <= maxRows,
      s"cosinePairsBlocked: corpus has $n rows (> broadcast bound $maxRows); " +
        "use lshPairs or ivfTopK for corpora too large to broadcast")
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val block = vecs.collect().sortBy(_._1)
      .map { case (id, e) => (id, e, math.sqrt(dotd(e, e))) }
    val bc = spark.sparkContext.broadcast(block)
    vecs.flatMap { case (ida, emba) =>
      val nrmA = math.sqrt(dotd(emba, emba))
      bc.value.iterator.filter(_._1 > ida).map { case (idb, embb, nrmB) =>
        (ida, idb, dotd(emba, embb) / (nrmA * nrmB))
      }
    }.toDF("id_a", "id_b", "raw_score")
  }

  /** Exact all-pairs cosine as a distributed KEYED equi-join on block-pair
    * buckets — the scale-shaped replacement for [[cosinePairsBlocked]]'s
    * driver-side broadcast (reference: the block-partitioned all-pairs shape
    * of Vernica et al., SIGMOD'10 §3, minus the similarity prefilter —
    * brute force is exact by contract).
    *
    * Construction: block(v) = vec_id mod B. The unordered block pair (i, j),
    * i <= j, becomes one join bucket; a vector in block k is replicated as
    * the A side of buckets (k, j..B-1) — a CONTIGUOUS bucket-id range, one
    * `sequence` — and as the B side of buckets (0..k, k) — a stride-B
    * `sequence`. Every cross-block pair meets in exactly one bucket; a
    * same-block bucket (i, i) holds each pair twice, deduped by id order.
    * The join is a plain equi-join on the bucket id: O(B·N) keyed rows,
    * B(B+1)/2 independent buckets, no cartesian, and no driver-side
    * collection IN THIS CODE — Spark remains free to pick a broadcast hash
    * join when the replica side sits under the broadcast threshold (it
    * does at gate scale, and that is the right plan there; past the
    * threshold the same query graduates to a shuffled join untouched).
    * Compute is still Θ(N²) dots — brute force is inherently
    * quadratic; this makes it distribute, `B` trades task granularity
    * against the (B+1)× row replication. For corpora where N² compute
    * itself is the problem, use [[lshPairs]]/[[semanticDedup]]/[[ivfTopK]].
    *
    * Arithmetic: norms precomputed per vector ([[withNorm]]), dots through
    * the codegen'd [[graft.plans.VecDot]] — per-element products commute, so
    * emitting (least, greatest) ids yields scores bit-equal to the
    * id-ordered form. Zero-norm vectors never pair ([[normsPositive]]). */
  def cosineAllPairsBlockJoin(corpus: DataFrame, nBlocks: Int = 16): DataFrame = {
    require(nBlocks >= 1, s"cosineAllPairsBlockJoin: nBlocks must be >= 1, got $nBlocks")
    val B = lit(nBlocks)
    val v = withNorm(corpus, "vec_id", "emb")
      .withColumn("blk", pmod(col("vec_id"), B))
    val a = v.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
        col("vec_id_norm").as("norm_a"), col("blk").as("blk_a"),
        explode(sequence(col("blk") * (B + 1), (col("blk") + 1) * B - 1)).as("bp"))
    val b = v.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
        col("vec_id_norm").as("norm_b"), col("blk").as("blk_b"),
        explode(sequence(col("blk"), col("blk") * (B + 1), B)).as("bp"))
    a.join(b, Seq("bp"))
      // same-block buckets see each pair twice — keep the id-ordered copy;
      // cross-block buckets see it once in arbitrary id order — keep both
      // orders out of the output by normalizing to (least, greatest) below
      .filter(when(col("blk_a") === col("blk_b"), col("id_a") < col("id_b"))
        .otherwise(col("id_a") =!= col("id_b")))
      .filter(normsPositive(col("norm_a"), col("norm_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))).as("raw_score"))
  }

  /** Tier-1 exact collapse for vector pipelines: (vec_id, embedding, rep_id)
    * membership where rep_id = min vec_id among bit-identical embeddings.
    * Hash-aggregate + join back (cheaper than a window, which would sort the
    * full array column once per consumer — measured 4x on the sf10 ramp);
    * the join is NULL-SAFE because groupBy puts NULL embeddings in a group
    * but a plain equi-join would silently drop their rows. */
  private def collapseVectors(corpus: DataFrame): DataFrame = {
    // Round 15: explicit Spread exchange on the join/group key —
    // AQE otherwise coalesces the embedding-keyed exchanges to 2 partitions
    // on tiny bytes while the array-equality sort-merge is CPU-bound
    // (profiled 0.54 s 2-task stages inside cur_funnel2); the one explicit
    // exchange is shared by the groupBy and both join sides.
    val keyed = Spread(
      corpus.select(col("vec_id"), col("embedding")), col("embedding"))
    val grp = keyed.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep_id"))
    keyed.alias("c")
      .join(grp.alias("g"), col("c.embedding") <=> col("g.embedding"))
      .select(col("c.vec_id"), col("c.embedding"), col("g.rep_id"))
  }

  /** Pair-filter guard shared by the dedup/LSH pair joins: the DuckDB oracle
    * computes 0/0 as SQL NULL (dropped by any comparison filter), while raw
    * Java division gives NaN — which Spark SQL orders ABOVE every number, so
    * an unguarded `raw >= t` would PASS zero-norm pairs the oracle drops.
    * Requiring both norms positive pins the engine-neutral semantics:
    * zero-norm (and NULL) vectors never produce duplicate pairs. */
  private def normsPositive(a: Column, b: Column): Column = a > 0 && b > 0

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    * assign every vector to its nearest seed centroid (IVF cell), generate
    * candidate pairs only WITHIN a cell, and mark a vector as a duplicate
    * iff it has a lower-id in-cell neighbor with cosine >= `threshold`.
    * Keeping the lowest id per neighborhood is the deterministic stand-in
    * for the paper's keep-one-per-group rule.
    *
    * Scale design: this is the whole point of SemDeDup — the O(N²) cosine
    * comparison collapses to O(Σ |cell|²), and cell size is controlled by
    * `nCells` (production: nCells ~ N/1000, centroids from
    * [[kmeansCells]]). The assignment broadcast is C rows; the pair join is
    * keyed on cell_id — never a cartesian. The cheap `raw` prefilter runs
    * before `round` because Round allocates a BigDecimal per row (see
    * [[cosinePairsBlocked]]'s note); `threshold - 1e-5` is safely below the
    * smallest raw value that rounds to >= threshold at 6 decimals. */
  def semanticDedup(corpus: DataFrame, nCells: Int, threshold: Double): DataFrame = {
    // Tier 1: collapse bit-identical embeddings to one representative (min
    // id) — SemDeDup's standard exact-dedup pre-pass. Identical vectors get
    // identical (deterministic) cell assignments and cosine exactly 1.0
    // against each other, so every non-representative member of a
    // positive-norm group is a duplicate by construction (when the threshold
    // is reachable, i.e. <= 1.0), and the O(|cell|²) pair join below only
    // ever sees distinct vectors. Without this tier a d-times-duplicated
    // corpus pays d² in the cell join for a result that is decidable per
    // group (measured 81x at 100x bench scale; ~linear after). Zero-norm
    // groups are exempt per the [[normsPositive]] contract.
    val memb = collapseVectors(corpus)
    val reps = memb.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("embedding"))
    // centroids still come from the FULL corpus (vec_id < nCells), so the
    // assignment is byte-identical to the uncollapsed form.
    // Round 15 (guide §2.1): asg has THREE consumers (both sides of the
    // cell pair join and repFlag), and each re-ran the k-way cosine
    // assignment — profiled as ~0.6 s 2-task stages ×3 at sf0.1 (the
    // collapse groupBy's exchange coalesces to 2 partitions on tiny bytes
    // while the cosine work is CPU-bound). One per-run localCheckpoint
    // computes the assignment once; the checkpointed rows feed all three.
    // The Spread widens the (CPU-bound) cosine stage itself for the single
    // materialization — without it the assignment runs at the coalesced
    // 2-partition width of the collapse exchange.
    val asg = Lineage.truncate(
      nearestCells(withNorm(Spread(reps, col("vec_id")), "corpus_id", "c_vec"),
        "corpus_id", "c_vec", 1, seedCentroids(corpus, nCells)))
    val a = asg.select(col("cell_id"), col("corpus_id").as("id_a"),
      col("c_vec").as("emb_a"), col("corpus_id_norm").as("norm_a"))
    val b = asg.select(col("cell_id"), col("corpus_id").as("id_b"),
      col("c_vec").as("emb_b"), col("corpus_id_norm").as("norm_b"))
    val dupReps = a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(normsPositive(col("norm_a"), col("norm_b")))
      .withColumn("raw",
        VectorFunctions.dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("raw") >= threshold - 1e-5)
      .filter(round(col("raw"), 6) >= threshold)
      .select(col("id_b").as("rep_id")).distinct()
    // A rep flagged by a lower-id rep witness is flagged in the uncollapsed
    // join too (same bytes ⇒ same cosine); conversely any uncollapsed
    // witness u implies the rep-level witness rep(u) ≤ u with equal cosine —
    // so rep-level flags are exactly the uncollapsed flags restricted to
    // reps, and member flags follow from the group rule above. selfDup is
    // the threshold-reachability of the intra-group cosine (round(1.0) = 1.0
    // >= t): with t > 1.0 nothing can ever be a duplicate.
    val selfDup = threshold <= 1.0
    val repFlag = asg.select(col("corpus_id").as("rep_id"), col("cell_id"),
        coalesce(col("corpus_id_norm") > 0, lit(false)).as("pos_norm"))
      .join(dupReps.withColumn("rep_dup", lit(true)), Seq("rep_id"), "left")
      .select(col("rep_id"), col("cell_id"),
        coalesce(col("rep_dup"), lit(false)).as("rep_dup"), col("pos_norm"))
    memb.select(col("vec_id"), col("rep_id")).join(repFlag, Seq("rep_id"))
      .select(col("vec_id"), col("cell_id"),
        (!(col("rep_dup") ||
          (col("vec_id") =!= col("rep_id") && col("pos_norm") && lit(selfDup))))
          .as("is_kept"))
  }

  /** IVF-style ANN: partition the corpus into `nCells` inverted lists by
    * nearest centroid, probe the `nProbe` closest cells per query, and
    * brute-force only inside probed cells.
    *
    * Centroids here are the deterministic seed set (vec_id < nCells) so the
    * DuckDB oracle can replay the exact assignment; a production deployment
    * swaps in k-means means without touching the plan shape. Scale design:
    * centroids broadcast (C rows), assignment is one narrow pass over the
    * corpus, and candidate search is a keyed join on cell_id — at 100 TB
    * the assigned corpus would be written bucketed by cell_id once and the
    * per-query join becomes a pruned scan of nProbe buckets. */
  /** k-NN graph construction: each (positive-norm, distinct-content) vector
    * gets edges to its k most-cosine-similar neighbors WITHIN its IVF cell —
    * the candidate scheme every approximate kNN-graph builder (NN-Descent
    * seeding, cluster-then-link) uses so no all-pairs join ever forms.
    * Exact-duplicate vectors collapse first ([[collapseVectors]] — the
    * d²-pair disease fix the whole similarity tier uses), cells come from
    * the deterministic seed centroids, scores are round(cos, 6) with id
    * tie-breaks (the ded_semantic determinism recipe), and the top-k per
    * source routes through the bounded-heap [[graft.operators.TopK]]
    * operator — only |cell|·k rows survive candidate scoring. */
  def knnGraph(corpus: DataFrame, nCells: Int = 16, k: Int = 3): DataFrame = {
    val memb = collapseVectors(corpus)
    val reps = memb.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("embedding"))
    val asg = nearestCells(withNorm(reps, "corpus_id", "c_vec"), "corpus_id", "c_vec", 1,
      seedCentroids(corpus, nCells))
    val a = asg.select(col("cell_id"), col("corpus_id").as("src"),
      col("c_vec").as("emb_a"), col("corpus_id_norm").as("norm_a"))
    val b = asg.select(col("cell_id"), col("corpus_id").as("dst"),
      col("c_vec").as("emb_b"), col("corpus_id_norm").as("norm_b"))
    val scored = a.join(b, Seq("cell_id"))
      .filter(col("src") =!= col("dst"))
      .filter(normsPositive(col("norm_a"), col("norm_b")))
      .select(col("src"), col("dst"),
        round(VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b")), 6).as("cos"))
    graft.operators.TopK.perKey(scored, Seq("src"), Seq("cos" -> false, "dst" -> true), k)
  }

  private def seedCentroids(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"),
        sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))).as("c_nrm"))

  private def nearestCells(df: DataFrame, id: String, emb: String, keep: Int,
                           cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id)).orderBy(col("cscore").desc, col("cell_id"))
    // The norm product is guarded: ANSI mode (Spark 4 default) throws on a
    // zero divisor even for doubles, and the DuckDB oracle's 0/0 is SQL NULL
    // anyway — so a zero-norm vector gets NULL cscores against every
    // centroid (sorted last, deterministic cell_id tie-break), identically
    // in both engines.
    val nrmProd = col(s"${id}_norm") * col("c_nrm")
    df.crossJoin(broadcast(cents))
      .select(col(id), col(emb), col(s"${id}_norm"), col("cell_id"),
        round(when(nrmProd > 0,
          VectorFunctions.dot(col(emb), col("c_emb")) / nrmProd), 6).as("cscore"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= keep)
      .select(col("cell_id"), col(id), col(emb), col(s"${id}_norm"))
  }

  /** Nearest-centroid cell assignment for the corpus — the step whose output
    * gets written to storage `partitionBy(cell_id)` in a 100 TB deployment,
    * turning every probe into a partition-pruned scan of nProbe directories
    * (demonstrated end-to-end in ScalePathsSpec). */
  def ivfAssign(corpus: DataFrame, nCells: Int): DataFrame =
    nearestCells(withNorm(corpus, "corpus_id", "c_vec"), "corpus_id", "c_vec", 1,
      seedCentroids(corpus, nCells))

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              nCells: Int = 16, nProbe: Int = 4, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = seedCentroids(corpus, nCells)
    val assigned = ivfAssign(corpus, nCells)
    val probes = nearestCells(withNorm(queries, "query_id", "q_vec"), "query_id", "q_vec", nProbe, cents)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("corpus_id"))
    probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .filter(normsPositive(col("query_id_norm"), col("corpus_id_norm")))
      .select(col("query_id"), col("corpus_id"),
        round(VectorFunctions.dot(col("q_vec"), col("c_vec")) /
          (col("query_id_norm") * col("corpus_id_norm")), 6).as("score"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Lloyd's k-means over embedding vectors — the training step for the IVF
    * index ([[ivfTopK]] notes "a production deployment swaps in k-means
    * means"; this is that path, closing the loop). Deterministic end to end
    * so an external oracle can replay it bit-for-bit:
    *
    *  - seeds = the `k` lowest vec_ids (k-means++ would add RNG for quality,
    *    not correctness; swap in at will),
    *  - assignment = argmax cosine with ties broken by cell_id (scores
    *    rounded to 6dp exactly like [[ivfTopK]]),
    *  - centroid update sums components IN vec_id ORDER via a running
    *    window sum (left-to-right double adds are order-fixed, where a plain
    *    `avg` would depend on partitioning — that nondeterminism is harmless
    *    in production but would unpin the oracle).
    *
    * Scale shape per iteration: centroids broadcast (k rows), assignment is
    * one narrow pass + per-vector top-1 window, update is a keyed shuffle on
    * (cell, dim) — no cartesian, no driver collect; iterations compose as a
    * fixed-depth plan (checkpoint between rounds if iters is large).
    * Cosine here is the interpreted higher-order form rather than the native
    * [[graft.plans.VecDot]] because centroids become double arrays after the
    * first update (VecDot is float-array-specialized); k·N pairs per round is
    * centroid-bound, not corpus-bound, so this stays off the hot path. */
  def kmeansCells(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, x) => acc + x)
    // guarded like nearestCells: ANSI mode throws on a zero divisor even for
    // doubles, so one zero-norm vector (or an all-cancelling centroid) in a
    // 100-TB corpus must yield NULL cscores (assigned to the lowest cell id,
    // deterministic), never a dead training job — AnnLawsSpec plants one
    def cosD(a: Column, b: Column): Column = {
      val nrmProd = sqrt(dotD(a, a)) * sqrt(dotD(b, b))
      when(nrmProd > 0, dotD(a, b) / nrmProd)
    }

    var cents = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("cent"),
        lit(1L).as("n_members"))
    // Spread once before the loop (round 14, guide §2.5): the per-vector
    // k-way cosine assignment otherwise runs one-task inside the scan stage
    // of a single-split corpus (profiled 0.4-0.5 s per iteration), and the
    // vec_id partitioning also satisfies the assignment window's
    // distribution; the exchange is reused across iterations.
    val spreadCorpus = Spread(
      corpus.select(col("vec_id"), col("embedding")), col("vec_id"))
    for (_ <- 1 to iters) {
      val aw = Window.partitionBy(col("vec_id")).orderBy(col("cscore").desc, col("cell_id"))
      val assigned = spreadCorpus
        .crossJoin(broadcast(cents.select(col("cell_id"), col("cent"))))
        .select(col("vec_id"), col("embedding"), col("cell_id"),
          round(cosD(col("embedding"), col("cent")), 6).as("cscore"))
        .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
        .select(col("cell_id"), col("vec_id"), col("embedding"))
      val ex = assigned
        .select(col("cell_id"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cell_id"), col("vec_id"), (col("pos") + 1).as("pos"),
          col("v").cast(DoubleType).as("v"))
      val cw = Window.partitionBy(col("cell_id"), col("pos")).orderBy(col("vec_id"))
      val comp = ex
        .withColumn("run", sum(col("v")).over(
          cw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(cw))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("cell_id"), col("pos"))))
        .filter(col("rn") === col("n"))
        .select(col("cell_id"), col("pos"), (col("run") / col("n")).as("comp"), col("n"))
      // rebuild the centroid array: sort_array on (pos, comp) structs is
      // deterministic because pos is unique within a cell; the list is
      // bounded by the embedding dim, never by corpus size
      cents = comp.groupBy(col("cell_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("comp")))).as("pc"),
          min(col("n")).as("n_members"))
        .select(col("cell_id"),
          transform(col("pc"), s => s.getField("comp")).as("cent"), col("n_members"))
    }
    cents
  }

  /** Product quantization (Jégou et al. TPAMI 2011): the embedding is split
    * into `nSub` contiguous subvectors and each is quantized independently
    * against a per-subspace codebook of `k` codewords, so an N-vector
    * corpus stores nSub·log2(k) bits per vector and ANN distance tables
    * become nSub table lookups — the at-rest format IVF-PQ indexes use.
    * Completes the quantization tier: `emb_quantize` is per-dimension
    * scalar quantization; this is the vector-codebook form.
    *
    * Training is deterministic so the oracle can replay it exactly
    * (the [[kmeansCells]] contract): codebooks seed from the k smallest
    * vec_ids' subvectors, then one Lloyd refinement — assignment by
    * squared-L2 argmin (pure +,−,× on doubles in a fixed left-fold order:
    * bit-exact cross-engine with NO rounding, unlike cosine's libm sqrt),
    * tie → min code via one `min(struct(d, code))` aggregate (no window),
    * and means recomputed with vec_id-ordered running window sums (the
    * emb_centroid pattern). Scale shape per round: the codebook
    * (nSub·k rows) broadcasts; assignment is one keyed agg over
    * corpus×k rows per subspace; the mean update shuffles on
    * (subspace, code, dim) — nothing driver-side, no cartesian.
    *
    * Returns one row per (vec_id, m): the chosen code and its squared-L2
    * reconstruction error contribution. */
  def productQuantize(corpus: DataFrame, nSub: Int = 4, dimPerSub: Int = 16,
                      k: Int = 8): DataFrame =
    productQuantizeModel(corpus, nSub, dimPerSub, k)._1

  /** Squared L2 between two double arrays, folded left in index order —
    * pure +,−,× so bit-exact cross-engine with no rounding. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** [[productQuantize]] plus the trained model: returns
    * (codes(vec_id, m, code, d), codebook(m, code, cent)) so consumers
    * like [[ivfPqTopK]] can run asymmetric-distance lookups against the
    * same deterministic codebook the codes were assigned with. */
  def productQuantizeModel(corpus: DataFrame, nSub: Int = 4, dimPerSub: Int = 16,
                           k: Int = 8): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // spread before the subvector explode (round 14, guide §2.5): subs has
    // several consumers (codebook seed + two assignment passes), each
    // recomputing the parse — wide after the spread instead of one-task
    val subs = Spread(corpus.select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(col("vec_id"),
      explode(array((0 until nSub).map { m =>
        struct(lit(m).as("m"),
          transform(slice(col("embedding"), m * dimPerSub + 1, dimPerSub),
            v => v.cast(DoubleType)).as("sub"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    val cb0 = subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("code"), col("sub").as("cent"))

    // argmin via min(struct): min distance, tie → min code — one keyed agg,
    // no rank window; `first(sub)` is deterministic because every row in
    // the (vec, m) group carries the identical subvector
    def assign(cb: DataFrame): DataFrame =
      subs.join(broadcast(cb), Seq("m"))
        .select(col("vec_id"), col("m"), col("sub"),
          struct(sqDist(col("sub"), col("cent")).as("d"), col("code")).as("dc"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(col("dc")).as("best"), first(col("sub")).as("sub"))
        .select(col("vec_id"), col("m"), col("best.code").as("code"),
          col("best.d").as("d"), col("sub"))

    val ex = assign(cb0)
      .select(col("m"), col("code"), col("vec_id"),
        posexplode(col("sub")).as(Seq("pos", "v")))
    val cw = Window.partitionBy(col("m"), col("code"), col("pos"))
      .orderBy(col("vec_id"))
    val comp = ex
      .withColumn("run", sum(col("v")).over(
        cw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(cw))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("m"), col("code"), col("pos"))))
      .filter(col("rn") === col("n"))
      .select(col("m"), col("code"), col("pos"), (col("run") / col("n")).as("comp"))
    val cb1 = comp.groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("comp")))).as("pc"))
      .select(col("m"), col("code"),
        transform(col("pc"), s => s.getField("comp")).as("cent"))
    (assign(cb1).select(col("vec_id"), col("m"), col("code"), col("d")), cb1)
  }

  /** IVF-PQ asymmetric-distance search (Jégou et al. TPAMI 2011 §IV) — the
    * production ANN composition this tier has been building toward: probe
    * the query's nearest IVF cell ([[ivfTopK]]'s deterministic seed cells),
    * then rank ONLY that cell's members by approximate distance computed
    * against their PQ codes — the corpus vectors themselves are never
    * touched at query time, exactly the at-rest layout of a 100 TB ANN
    * index (cell-partitioned parquet of (vec_id, codes), codebook + query
    * subvectors broadcast). ADC(q, x) = Σ_m ‖q_m − cent(m, code_m(x))‖²:
    * per-subspace squared-L2 in fixed fold order, per-vector total added in
    * fixed column order (the emb_pq bit-exactness contract), ties → min
    * corpus id. Top-k per query runs through the bounded-heap
    * [[graft.operators.TopK]] operator — no rank window over candidates. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, nCells: Int = 8,
                nSub: Int = 4, dimPerSub: Int = 16, kCodes: Int = 8,
                k: Int = 5): DataFrame = {
    val cents = seedCentroids(corpus, nCells)
    val probes = nearestCells(withNorm(queries, "query_id", "q_vec"),
      "query_id", "q_vec", 1, cents).select(col("cell_id"), col("query_id"))
    val assigned = ivfAssign(corpus, nCells)
      .select(col("cell_id"), col("corpus_id"))
    val (codes, cb) = productQuantizeModel(corpus, nSub, dimPerSub, kCodes)
    val qsubs = queries.select(col("vec_id").as("query_id"),
      explode(array((0 until nSub).map { m =>
        struct(lit(m).as("m"),
          transform(slice(col("embedding"), m * dimPerSub + 1, dimPerSub),
            v => v.cast(DoubleType)).as("qsub"))
      }: _*)).as("s"))
      .select(col("query_id"), col("s.m").as("m"), col("s.qsub").as("qsub"))
    val perM = probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .join(codes.select(col("vec_id").as("corpus_id"), col("m"), col("code")),
        Seq("corpus_id"))
      .join(broadcast(cb), Seq("m", "code"))
      .join(broadcast(qsubs), Seq("query_id", "m"))
      .select(col("query_id"), col("corpus_id"), col("m"),
        sqDist(col("qsub"), col("cent")).as("dm"))
    val adds = (0 until nSub).map(m =>
      sum(when(col("m") === m, col("dm")).otherwise(0.0)).as(s"d$m"))
    val adc = perM.groupBy(col("query_id"), col("corpus_id"))
      .agg(adds.head, adds.tail: _*)
      .select(col("query_id"), col("corpus_id"),
        (0 until nSub).map(m => col(s"d$m")).reduce(_ + _).as("adc"))
    TopK.perKey(adc, Seq("query_id"), Seq("adc" -> true, "corpus_id" -> true), k)
      .orderBy(col("query_id"), col("adc"), col("corpus_id"))
  }

  /** LSH-bucketed near-neighbor pairs: bucket on hyperplane signs, join
    * within bucket, verify cosine ≥ threshold.
    *
    * Tier 1 collapses bit-identical embeddings to a min-id representative
    * before the bucket join (identical bytes ⇒ identical bucket, identical
    * norms, identical pair scores), so the O(bucket²) dot products run over
    * distinct vectors only; member pairs are expanded afterwards with the
    * representative's score. The pair OUTPUT is still Θ(d²) per duplicate
    * group — that is the query's own semantics — but the compute no longer
    * is (measured 79x → expansion-bound at 100x bench scale). Intra-group
    * pairs have cosine exactly 1.0 (x/x is exact in IEEE); zero-norm groups
    * are exempt per the [[normsPositive]] contract (the oracle's 0/0 is SQL
    * NULL, dropped by its threshold filter). At corpus scale the
    * production knob is nPlanes ~ log2(N / target bucket size); it is fixed
    * here so the oracle can replay the buckets. */
  def lshPairs(corpus: DataFrame, dim: Int, nPlanes: Int, threshold: Double): DataFrame = {
    val memb = collapseVectors(corpus)
    val b = memb.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("embedding"),
        sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))).as("nrm"),
        lshBucket(col("embedding"), dim, nPlanes).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("rep_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val r = b.select(col("bucket"), col("vec_id").as("rep_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    val repPairs = l.join(r, Seq("bucket"))
      .filter(col("rep_a") < col("rep_b"))
      .filter(normsPositive(col("nrm_a"), col("nrm_b")))
      .select(col("bucket"), col("rep_a"), col("rep_b"),
        round(VectorFunctions.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("score"))
      .filter(col("score") >= threshold)
    val cross = repPairs
      .join(memb.select(col("rep_id").as("rep_a"), col("vec_id").as("m_a")), Seq("rep_a"))
      .join(memb.select(col("rep_id").as("rep_b"), col("vec_id").as("m_b")), Seq("rep_b"))
      .select(col("bucket"), least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col("score"))
    val groupSizes = memb.groupBy(col("rep_id")).agg(count(lit(1)).as("csize"))
    val intra = b.join(groupSizes.withColumnRenamed("rep_id", "vec_id"), Seq("vec_id"))
      .filter(col("csize") > 1 && coalesce(col("nrm") > 0, lit(false)) &&
        lit(1.0) >= threshold)
      .select(col("bucket"), col("vec_id").as("rep_id"))
      .join(memb.select(col("rep_id"), col("vec_id").as("m_a")), Seq("rep_id"))
      .join(memb.select(col("rep_id"), col("vec_id").as("m_b")), Seq("rep_id"))
      .filter(col("m_a") < col("m_b"))
      .select(col("bucket"), col("m_a").as("id_a"), col("m_b").as("id_b"),
        lit(1.0).as("score"))
    cross.unionByName(intra)
  }
}
