package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Laws for the hashed-shingle inverted index's collision semantics
  * (round-12; the round-11 rewrite made [[Dedup.ngramJaccardPairs]] carry
  * 60-bit md5-prefix hashes instead of shingle strings).
  *
  * A REAL collision in the default 60-bit space needs ~2³⁰ distinct
  * shingles by the birthday bound — unreachable in a test (and in the gate
  * corpus: ≈27k distinct shingles ⇒ P ≈ 27k²/2⁶¹ ≈ 4e-10 corpus-wide).
  * So the laws pin the semantics from both sides:
  *
  *  1. COLLISION-FREE REGIME (default hash, cap ACTIVE): the pipeline
  *     equals a brute force over FULL-WIDTH hashed sets, which on these
  *     corpora equals the STRING-set brute force — extending
  *     DedupLawsSpec's cap-disabled exactness law to the df-cap path.
  *  2. COLLISION REGIME (the same product code run through its
  *     `shingleHash` hook with a 6-bit space, so collisions are abundant):
  *     the pipeline equals a brute force over TINY-HASH sets — i.e. the
  *     documented model ("jaccard over hashed sets; colliding strings
  *     merge df counts, so the cap applies to the merged frequency") is
  *     the code's actual behavior, not just scaladoc. Teeth assertions
  *     prove the corpus really exercised a cross-doc collision, a
  *     phantom-intersection jaccard inflation, and a cap decision made on
  *     a MERGED df that neither string reaches alone.
  *  3. DRIFT DIRECTION: a pair's hashed jaccard equals its string jaccard
  *     EXACTLY unless two distinct strings in that pair's union collide —
  *     and when one does, the drift goes BOTH ways: a cross-side collision
  *     manufactures phantom overlap (inflates), while a collision between
  *     two elements already shared shrinks k/U to (k−1)/(U−1) (deflates).
  *     An earlier draft of this law asserted pure inflation and the 6-bit
  *     corpus immediately disproved it — the deflation case is real, which
  *     is why the operator scaladoc documents both directions.
  */
class HashCollisionLawsSpec extends SparkSpec {

  private val K = 3

  /** In-test transcription of TextFunctions.hash64: first 15 hex chars of
    * md5 (60 bits) parsed base-16 — computed independently of Spark. */
  private def refHash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    BigInt(d.map(b => f"$b%02x").mkString.take(15), 16).toLong
  }

  private def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(K).filter(_.size == K).map(_.mkString(" ")).toSet

  /** Unique-text corpus (no exact-duplicate tier, so the inverted index is
    * the whole story) with heavy cross-doc shingle sharing — small
    * vocabulary makes tiny-hash collisions AND df-cap pressure abundant. */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val words = (0 until 10).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
    val texts = scala.collection.mutable.LinkedHashSet.empty[String]
    while (texts.size < 24) {
      val base = doc(4 + rng.nextInt(8))
      // boilerplate prefix on ~half the docs: its shingles recur across
      // enough documents that the df cap genuinely bites (the teeth
      // assertions demand a cap decision in every regime)
      val withBp = if (rng.nextBoolean()) s"w0 w1 w2 w3 $base" else base
      texts += withBp
      val toks = withBp.split(" ")
      val i = rng.nextInt(toks.length)
      texts += toks.updated(i, words(rng.nextInt(words.size))).mkString(" ")
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  /** The documented pipeline model over an arbitrary element hash: jaccard
    * over hashed sets, df counted per HASH (colliding strings merge), cap
    * on the merged count, set sizes taken before cap removal. */
  private def bruteForce(docs: Seq[(Long, String)], hash: String => Long,
                         threshold: Double, maxDf: Long): Map[(Long, Long), Double] = {
    val hsets = docs.map { case (id, t) => id -> shingleSet(t).map(hash) }
    val df = hsets.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val stop = df.collect { case (h, n) if n > maxDf => h }.toSet
    (for {
      (a, sa) <- hsets; (b, sb) <- hsets if a < b
      inter = ((sa & sb) -- stop).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j > threshold
    } yield (a, b) -> j).toMap
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("default 60-bit hash with the df cap ACTIVE is exact vs the string-set brute force") {
    for (seed <- Seq(3L, 29L); maxDf <- Seq(3L, 6L)) {
      val docs = corpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = collectPairs(Dedup.ngramJaccardPairs(df, "doc_id", "text",
        k = K, threshold = 0.2, maxDf = maxDf))
      // full-width model == string model iff no collision; assert both, so
      // a (cosmically unlikely) md5 collision in this corpus would show as
      // a model split rather than a silent law weakening
      val wantHash = bruteForce(docs, refHash64, 0.2, maxDf)
      val strModel = {
        // string-set model: df per STRING, cap per string, jaccard on strings
        val sets = docs.map { case (id, t) => id -> shingleSet(t) }
        val dfc = sets.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
        val stop = dfc.collect { case (s, n) if n > maxDf => s }.toSet
        (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          inter = ((sa & sb) -- stop).size
          j = inter.toDouble / (sa.size + sb.size - inter)
          if j > 0.2
        } yield (a, b) -> j).toMap
      }
      assert(wantHash == strModel, s"seed=$seed maxDf=$maxDf: 60-bit md5 collided on this corpus?!")
      assert(got == wantHash, s"seed=$seed maxDf=$maxDf: " +
        s"missing ${(wantHash.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- wantHash.keySet).take(5)}")
      // teeth: the cap must actually have dropped something
      assert(strModel.nonEmpty, "corpus drifted: no pairs at all")
      withClue("cap never bit — corpus drifted") {
        val sets = docs.map { case (id, t) => id -> shingleSet(t) }
        val dfc = sets.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(dfc.values.exists(_ > maxDf))
      }
    }
  }

  test("6-bit collision regime matches the documented hashed-set model (phantoms + merged-df cap)") {
    val bits = 6
    val space = 1L << bits
    val tiny: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => pmod(graft.functions.TextFunctions.hash64(c), lit(space))
    def tinyRef(s: String): Long = {
      val h = refHash64(s) % space
      if (h < 0) h + space else h
    }
    var collisionSeen = false
    var phantomSeen = false
    var mergedCapSeen = false
    for (seed <- Seq(7L, 11L, 57L); maxDf <- Seq(4L, 7L)) {
      val docs = corpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = collectPairs(Dedup.ngramJaccardPairs(df, "doc_id", "text",
        k = K, threshold = 0.2, maxDf = maxDf, shingleHash = tiny))
      val want = bruteForce(docs, tinyRef, 0.2, maxDf)
      assert(got == want, s"seed=$seed maxDf=$maxDf: " +
        s"missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}, " +
        s"valueDiff ${(got.keySet & want.keySet).filter(k => got(k) != want(k)).take(5)}")
      // ---- teeth: the regime must really exhibit the documented effects
      val allShingles = docs.flatMap { case (_, t) => shingleSet(t) }.distinct
      collisionSeen ||= allShingles.groupBy(tinyRef).values.exists(_.distinct.size > 1)
      val strPairs = bruteForce(docs, refHash64, 0.2, maxDf)
      phantomSeen ||= (want.keySet -- strPairs.keySet).nonEmpty ||
        (want.keySet & strPairs.keySet).exists(k => want(k) > strPairs(k))
      // a hash bucket over the cap whose constituent strings are each under it
      val strDf = docs.flatMap { case (_, t) => shingleSet(t) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bucketDf = strDf.groupBy { case (s, _) => tinyRef(s) }
        .view.mapValues(_.values.sum).toMap
      mergedCapSeen ||= bucketDf.exists { case (h, n) =>
        n > maxDf && strDf.exists { case (s, m) => tinyRef(s) == h && m <= maxDf }
      }
    }
    assert(collisionSeen, "no cross-string collision in the 6-bit space — corpus drifted")
    assert(phantomSeen, "no phantom-intersection inflation observed — corpus drifted")
    assert(mergedCapSeen, "no merged-df cap decision observed — corpus drifted")
  }

  test("drift implies a union collision; collision-free pairs are exact (both drift directions occur)") {
    val bits = 6
    val space = 1L << bits
    def tinyRef(s: String): Long = {
      val h = refHash64(s) % space
      if (h < 0) h + space else h
    }
    var inflated = false
    var deflated = false
    var exactSeen = false
    for (seed <- Seq(7L, 23L, 41L)) {
      val docs = corpus(seed)
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }
      for { (a, sa) <- sets; (b, sb) <- sets if a < b } {
        val union = sa ++ sb
        val collides = union.groupBy(tinyRef).values.exists(_.size > 1)
        val ha = sa.map(tinyRef); val hb = sb.map(tinyRef)
        val js = (sa & sb).size.toDouble / (sa.size + sb.size - (sa & sb).size)
        val jh = (ha & hb).size.toDouble / (ha.size + hb.size - (ha & hb).size)
        if (!collides)
          assert(jh == js, s"seed=$seed pair=($a,$b): drift without a union collision")
        else exactSeen ||= jh == js
        inflated ||= jh > js
        deflated ||= jh < js
      }
    }
    assert(inflated, "no inflating collision (phantom overlap) observed — corpus drifted")
    assert(deflated, "no deflating collision (merged intersection elements) observed — corpus drifted")
    assert(exactSeen, "no colliding-but-exact pair observed — corpus drifted")
  }

  // ---- round 13: the same pattern for the OTHER hashed-candidate operators.
  // minhashPairs hashes shingles (60-bit) before the affine minima; Winnow
  // hashes k-grams (128-bit md5) before window-min selection. Both got the
  // same `…Hash` hook as ngramJaccardPairs; each law runs the product code
  // in a deliberately tiny space against a transcription over the SAME
  // collided hashes, with teeth proving the corpus really collided and the
  // tiny space really moved the output vs the injective regime.
  // (phashPairs has NO hash in its chunk-key path — an exact bit-slice
  // decomposition, see its collision-contract scaladoc; its only boundary
  // is the banding pigeonhole, pinned by BandingLawsSpec.)

  test("minhash pipeline through a 61-value shingle-hash space equals the hashed-set transcription") {
    import graft.functions.TextFunctions
    import TextFunctions.{MinhashA, MinhashB, MinhashP}
    val K16 = 16; val bands = 4; val rows = K16 / bands; val minAgree = 0.5
    val space = 61L // prime, < MinhashP so the staging %P is a no-op
    def tinyRef(s: String): Long = {
      val h = refHash64(s) % space
      if (h < 0) h + space else h
    }
    var collisionSeen = false
    var driftSeen = false
    for (seed <- Seq(29L, 733L, 1009L)) {
      val rng = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      def toksN(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
      var id = -1L
      def nid() = { id += 1; id }
      val docs: Seq[(Long, String)] = (0 until 10).flatMap { _ =>
        val base = toksN(5 + rng.nextInt(8))
        val out = Seq.newBuilder[Seq[String]]
        out += base
        if (rng.nextBoolean()) out += base // exact copy (collapse tier)
        if (rng.nextBoolean())
          out += base.updated(rng.nextInt(base.size), vocab(rng.nextInt(vocab.size)))
        out.result().map(t => (nid(), t.mkString(" ")))
      }
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = collectPairs(Dedup.minhashPairs(df, "doc_id", "text",
        K16, bands, minAgree, shingleSpace = space))

      // transcription over an arbitrary element hash (MinhashLawsSpec's
      // reference parameterized by the hash function)
      def transcribe(hash: String => Long): Map[(Long, Long), Double] = {
        def sig(text: String): Vector[Long] = {
          val hs = shingleSet(text).toVector.map(s => hash(s) % MinhashP).distinct
          (0 until K16).map(i => hs.map(h =>
            (MinhashA(i) * h + MinhashB(i)) % MinhashP).min).toVector
        }
        val groups = docs.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
        val sigs = groups.map(g => g.head -> sig(docs.find(_._1 == g.head).get._2)).toMap
        def bandKeys(s: Vector[Long]): Set[(Int, String)] =
          (0 until bands).map(b => b -> s.slice(b * rows, b * rows + rows).mkString("_")).toSet
        val cross = for {
          (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
          if bandKeys(sa).intersect(bandKeys(sb)).nonEmpty
          agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / K16
          if agree >= minAgree
          ma <- groups.find(_.head == a).get; mb <- groups.find(_.head == b).get
        } yield (math.min(ma, mb), math.max(ma, mb)) -> agree
        val intra = for {
          g <- groups if g.size > 1
          ma <- g; mb <- g if ma < mb
        } yield (ma, mb) -> 1.0
        (cross ++ intra).toMap
      }
      val want = transcribe(tinyRef)
      assert(got == want, s"seed=$seed: missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}, " +
        s"valueDiff ${(got.keySet & want.keySet).filter(k => got(k) != want(k)).take(5)}")
      // teeth: the 61-space really collided distinct shingles, and the
      // collided regime really moved the pipeline output vs injective
      val allShingles = docs.flatMap { case (_, t) => shingleSet(t) }.distinct
      collisionSeen ||= allShingles.groupBy(tinyRef).values.exists(_.distinct.size > 1)
      driftSeen ||= want != transcribe(refHash64)
    }
    assert(collisionSeen, "no cross-shingle collision in the 61-value space — corpus drifted")
    assert(driftSeen, "tiny space never changed the pipeline output — law has no teeth")
  }

  test("winnow fingerprints through a 16-value gram-hash space equal the hashed-gram transcription") {
    import graft.operators.Winnow
    val k = 3; val w = 4
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tinyCol = (c: org.apache.spark.sql.Column) => substring(md5(c), 1, 1)
    def tinyRef(s: String): String = md5hex(s).take(1)
    // the paper's selection over an arbitrary gram hash (WinnowLawsSpec's
    // reference parameterized by the hash)
    def refWinnow(toks: Seq[String], hash: String => String): Set[String] = {
      if (toks.size < k) return Set.empty
      val hashes = toks.sliding(k).map(g => hash(g.mkString(" "))).toVector
      if (hashes.size <= w) Set(hashes.min)
      else hashes.sliding(w).map(_.min).toSet
    }
    var collisionSeen = false
    var driftSeen = false
    var phantomShareSeen = false
    for (seed <- Seq(8341L, 97L, 511L)) {
      val rng = new scala.util.Random(seed)
      val alphabet = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
      val docs = (1 to 40).map { id =>
        val n = 1 + rng.nextInt(30)
        id.toLong -> Seq.fill(n)(alphabet(rng.nextInt(alphabet.size))).mkString(" ")
      }
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = Winnow.fingerprints(df, "doc_id", "text", k, w, gramHash = tinyCol)
        .collect()
        .groupBy(_.getAs[Long]("doc_id"))
        .view.mapValues(_.map(_.getAs[String]("fp")).toSet).toMap
      val want = docs.map { case (id, text) =>
        id -> refWinnow(text.split(" ").toSeq, tinyRef)
      }.filter(_._2.nonEmpty).toMap
      assert(got == want,
        s"seed=$seed: diverging docs ${(got.keySet ++ want.keySet).filter(d => got.get(d) != want.get(d)).take(5)}")
      // teeth
      val gramsByDoc = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
      }.toMap
      val allGrams = gramsByDoc.values.flatten.toSeq.distinct
      collisionSeen ||= allGrams.groupBy(tinyRef).values.exists(_.distinct.size > 1)
      val wide = docs.map { case (id, text) =>
        id -> refWinnow(text.split(" ").toSeq, md5hex)
      }.filter(_._2.nonEmpty).toMap
      driftSeen ||= want.exists { case (id, fps) => wide.get(id) != Some(fps) }
      // phantom shared fingerprint: two docs share a tiny-space fp while
      // sharing NO gram string — the merge pairs() would then count
      phantomShareSeen ||= want.toSeq.combinations(2).exists { case Seq((a, fa), (b, fb)) =>
        (fa & fb).nonEmpty &&
          gramsByDoc(a).toSet.intersect(gramsByDoc(b).toSet).isEmpty
      }
    }
    assert(collisionSeen, "no cross-gram collision in the 16-value space — corpus drifted")
    assert(driftSeen, "tiny space never changed any fingerprint set — law has no teeth")
    assert(phantomShareSeen, "no phantom cross-doc fingerprint share observed — corpus drifted")
  }
}
