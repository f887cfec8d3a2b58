package graft

import graft.operators.Dedup

/** Randomized losslessness differentials for the candidate-pruned
  * similarity joins — the operators whose scale story RESTS on a pruning
  * lemma (prefix filtering, positional filter, rarity-prefix pigeonhole,
  * stop-shingle df cap). Each is compared against an in-test brute force
  * over every document pair on corpora built to stress the lemmas: exact
  * copies (the collapse tier), single-token mutations (pairs near the
  * threshold boundary), truncations (containment pairs with asymmetric
  * sizes), across several thresholds. A pruning bug that drops a true pair
  * — the failure mode candidate generation can have silently — shows up as
  * a missing row; scores are compared exactly (both sides compute the same
  * int/int IEEE division).
  */
class DedupLawsSpec extends SparkSpec {

  private val K = 3 // shingle size used by all three operators

  /** Reference shingling: distinct k-shingles of whitespace tokens —
    * transcribed from the TextFunctions definition, computed independently. */
  private def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(K).filter(_.size == K).map(_.mkString(" ")).toSet

  /** Corpus with planted duplicate structure; every doc has >= K tokens
    * (the shingling contract). */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val words = (0 until 8).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
    var id = -1L
    def nextId() = { id += 1; id }
    (0 until 12).flatMap { _ =>
      val base = doc(4 + rng.nextInt(7))
      val toks = base.split(" ")
      val variants = Seq.newBuilder[String]
      variants += base
      if (rng.nextBoolean()) variants += base // exact copy
      if (rng.nextBoolean()) { // single-token mutation
        val i = rng.nextInt(toks.length)
        variants += toks.updated(i, words(rng.nextInt(words.size))).mkString(" ")
      }
      if (rng.nextBoolean() && toks.length > K) // truncation (containment)
        variants += toks.dropRight(1).mkString(" ")
      variants.result().map(t => (nextId(), t))
    }
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("prefix-filtered jaccard join is lossless vs brute force on random corpora") {
    // thresholds chosen to SIT ON achievable jaccard rationals (1/2, 1/3,
    // 2/3, 2/5) — the exact-boundary regime where the round-8 bug lived
    // (double 0.4 is 0.4000…0222, so a double-arithmetic length bound
    // silently dropped true pairs at j == 2/5)
    for (seed <- Seq(5L, 81L); t <- Seq(0.4, 0.5, 1.0 / 3.0, 2.0 / 3.0, 0.7)) {
      val docs = corpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = collectPairs(Dedup.prefixJaccardPairs(df, "doc_id", "text", threshold = t))
      val sets = docs.map { case (id, text) => id -> shingleSet(text) }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= t
      } yield (a, b) -> j).toMap
      assert(got == want, s"seed=$seed t=$t: missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}")
    }
  }

  test("containment join is lossless vs brute force on random corpora") {
    for (seed <- Seq(7L, 42L); (tNum, tDen) <- Seq((4, 5), (1, 2), (1, 3), (2, 3), (3, 4))) {
      val docs = corpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = collectPairs(Dedup.containmentPairs(df, "doc_id", "text", tNum, tDen))
      val sets = docs.map { case (id, text) => id -> shingleSet(text) }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        inter = (sa & sb).size
        if inter.toLong * tDen >= sa.size.toLong * tNum
      } yield (a, b) -> inter.toDouble / sa.size.toDouble).toMap
      assert(got == want, s"seed=$seed t=$tNum/$tDen: missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}")
    }
  }

  // ---- edit-distance blocking law -------------------------------------------

  /** Reference normalize — transcribed from TextFunctions.normalize:
    * lowercase, strip non-[a-z0-9 ], collapse whitespace runs, trim. */
  private def refNormalize(t: String): String =
    t.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9 ]", "").replaceAll("\\s+", " ").trim

  /** Classic O(nm) Levenshtein — independent of Spark's thresholded form. */
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val tmp = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = tmp
      }
    }
    dp(b.length)
  }

  /** Corpus for the edit law: shared prefixes (blocking collisions), exact
    * copies (the collapse tier + csize-weighted block cap), single-char
    * edits at random positions (some inside the prefix — correctly
    * unpaired, per the blocking contract the reference replicates), case
    * flips and punctuation (normalize), null and empty texts. */
  private def editCorpus(seed: Long): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val prefixes = Seq("lorem ipsum dolor", "the quick brown", "lorem ipsum dolor")
    val alpha = "abcdefg "
    var id = -1L
    def nextId() = { id += 1; id }
    val docs = Seq.newBuilder[(Long, String)]
    for (_ <- 0 until 10) {
      val base = prefixes(rng.nextInt(prefixes.size)) +
        Seq.fill(rng.nextInt(25))(alpha(rng.nextInt(alpha.length))).mkString
      docs += ((nextId(), base))
      for (_ <- 0 until rng.nextInt(3)) docs += ((nextId(), base)) // exact copies
      if (rng.nextBoolean()) { // single-char edit, anywhere (incl. the prefix)
        val pos = rng.nextInt(base.length)
        docs += ((nextId(), base.updated(pos, alpha(rng.nextInt(alpha.length - 1)))))
      }
      if (rng.nextBoolean()) // case flip + punctuation: normalize must erase both
        docs += ((nextId(), base.toUpperCase(java.util.Locale.ROOT) + "!!"))
    }
    docs += ((nextId(), null))
    docs += ((nextId(), null))
    docs += ((nextId(), "...")) // normalizes to empty
    docs.result()
  }

  test("edit-distance pairs equal the uncollapsed blocking transcription") {
    // The operator collapses exact duplicates first and weights the block
    // cap by cluster size (block_n = raw corpus membership); this law runs
    // the whole contract UNCOLLAPSED — normalize, (prefix, length-bucket)
    // blocking, raw-count cap, prefix-bounded Levenshtein — so a collapse
    // or cap-weighting bug surfaces as a row diff.
    val (pfxLen, lenBucket, cmpLen, maxDist, blockCap) = (4, 8, 24, 5, 6L)
    var capStress = false // a block over cap by RAW count but under by DISTINCT count
    var intraSeen = false // exact-copy pairs inside a surviving block
    for (seed <- Seq(17L, 71L)) {
      val docs = editCorpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = Dedup.editPairs(df, "doc_id", "text",
        pfxLen = pfxLen, lenBucket = lenBucket, cmpLen = cmpLen,
        maxDist = maxDist, blockCap = blockCap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val normed = docs.collect { case (id, t) if t != null => (id, refNormalize(t)) }
      val blocks = normed.groupBy { case (_, s) => (s.take(pfxLen), s.length / lenBucket) }
      val surviving = blocks.values.filter(_.size <= blockCap).toSeq
      val want = (for {
        block <- surviving
        (a, sa) <- block; (b, sb) <- block if a < b
        d = lev(sa.take(cmpLen), sb.take(cmpLen)).toLong
        if d <= maxDist
      } yield (a, b) -> d).toMap
      assert(got == want, s"seed=$seed: missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}, " +
        s"diff ${(got.keySet & want.keySet).filter(k => got(k) != want(k)).take(5)}")
      capStress ||= blocks.values.exists(b =>
        b.size > blockCap && b.map(_._2).distinct.size <= blockCap)
      intraSeen ||= want.values.exists(_ == 0L)
    }
    // teeth check: the corpora must actually exercise the lemmas under test —
    // a cap that counts REPS instead of raw membership only diverges on a
    // capStress block, and the collapse tier's intra expansion only shows on
    // surviving exact copies
    assert(capStress, "no block stressed the csize-weighted cap; corpus drifted")
    assert(intraSeen, "no surviving exact-copy pair; corpus drifted")
  }

  test("inverted-index ngram jaccard (cap disabled) is exact vs brute force") {
    val seed = 13L
    val docs = corpus(seed)
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val t = 0.3
    val got = collectPairs(Dedup.ngramJaccardPairs(df, "doc_id", "text",
      k = K, threshold = t, maxDf = 1000000L))
    val sets = docs.map { case (id, text) => id -> shingleSet(text) }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j > t // this operator's threshold is strict
    } yield (a, b) -> j).toMap
    assert(got == want, s"missing ${(want.keySet -- got.keySet).take(5)}, " +
      s"spurious ${(got.keySet -- want.keySet).take(5)}")
  }
}
