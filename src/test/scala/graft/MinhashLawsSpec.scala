package graft

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Full-pipeline differential for MinHash+LSH.
  *
  * The whole pipeline is deterministic given the md5-based shingle hash —
  * signatures, band keys, candidate pairs, agreement scores — so unlike
  * classic randomized-permutation MinHash it admits an exact independent
  * reference: this spec transcribes the definition (min over distinct
  * k-shingles of (a_i·(h mod P) + b_i) mod P; band key = rows consecutive
  * signature slots; candidates share any band; agreement = matching slots
  * / K) in plain Scala and requires the operator's member-level output to
  * match it exactly, collapse tier and intra-group 1.0 contract included.
  * Any drift in the hash staging, the banding arithmetic, or the agreement
  * fold shows up as a map difference.
  */
class MinhashLawsSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def hash64(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  /** Spark's `split(trim(text), "\\s+")`: trim strips spaces only, and
    * the limit -1 split keeps empty edge tokens. */
  private def tokens(text: String): Vector[String] =
    text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.split("\\s+", -1).toVector

  private def shingleSet(text: String, k: Int): Set[String] =
    tokens(text).sliding(k).filter(_.size == k).map(_.mkString(" ")).toSet

  /** min over distinct k-shingles of (a_i·(h mod P) + b_i) mod P; no
    * shingles (NULL or fewer than k tokens) ⇒ no signature. */
  private def sig(text: String, K: Int, kSh: Int): Option[Vector[Long]] =
    Option(text).map(shingleSet(_, kSh)).filter(_.nonEmpty).map { ss =>
      val hs = ss.toVector.map(s => hash64(s) % TextFunctions.MinhashP)
      (0 until K).map(i => hs.map(h =>
        (TextFunctions.MinhashA(i) * h + TextFunctions.MinhashB(i)) % TextFunctions.MinhashP).min).toVector
    }

  /** Member-level pairs of the whole pipeline: band over the signatures of
    * distinct contents, keep pairs sharing a band key with agreement ≥
    * minAgree, expand to members; identical texts pair at exactly 1.0. */
  private def transcribe(docs: Seq[(Long, String)], K: Int, bands: Int,
                         minAgree: Double, kSh: Int): Map[(Long, Long), Double] = {
    val rows = K / bands
    val groups = docs.filter(_._2 != null).groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
    val sigs = groups.flatMap(g => sig(docs.find(_._1 == g.head).get._2, K, kSh).map(g.head -> _)).toMap
    def bandKeys(s: Vector[Long]): Seq[(Int, String)] =
      (0 until bands).map(b => b -> s.slice(b * rows, b * rows + rows).mkString("_"))
    val cross = for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      if bandKeys(sa).toSet.intersect(bandKeys(sb).toSet).nonEmpty
      agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / K
      if agree >= minAgree
      ma <- groups.find(_.head == a).get; mb <- groups.find(_.head == b).get
    } yield (math.min(ma, mb), math.max(ma, mb)) -> agree
    val intra = for {
      g <- groups if g.size > 1
      ma <- g; mb <- g if ma < mb
    } yield (ma, mb) -> 1.0
    (cross ++ intra).toMap
  }

  test("minhash LSH pipeline equals its exact transcription on random corpora") {
    val K = 16; val bands = 4; val minAgree = 0.5
    val kSh = 3
    for (seed <- Seq(29L, 733L)) {
      val rng = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      def toks(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
      var id = -1L
      def nid() = { id += 1; id }
      val docs: Seq[(Long, String)] = (0 until 10).flatMap { _ =>
        val base = toks(5 + rng.nextInt(8))
        val out = Seq.newBuilder[Seq[String]]
        out += base
        if (rng.nextBoolean()) out += base // exact copy
        if (rng.nextBoolean()) // 1-token mutation: high sig agreement likely
          out += base.updated(rng.nextInt(base.size), vocab(rng.nextInt(vocab.size)))
        out.result().map(t => (nid(), t.mkString(" ")))
      }
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = Dedup.minhashPairs(df, "doc_id", "text", K, bands, minAgree)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      val want = transcribe(docs, K, bands, minAgree, kSh)

      assert(got == want, s"seed=$seed: missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"spurious ${(got.keySet -- want.keySet).take(5)}")
    }
  }

  private val edgeTexts: Seq[String] = Seq(
    null, "", "   ", "one", "one two", "  one two  ",
    "\tfoo bar baz\n",            // tabs/newlines survive trim: empty edge tokens
    " \tfoo bar",                  // trim strips the space, keeps the tab
    "w1\t\tw2 \r\n w3   w4",        // mixed whitespace runs collapse
    "héllo wörld 日本語 テキスト ok", // multi-byte UTF-8
    "a b c a b c a b c a b c",      // repeated shingles
    "a b c")

  test("signature kernel equals the transcription on edge-case texts, compiled and interpreted") {
    import graft.plans.{MinhashSignature, TextExpressions}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    val K = 16; val kSh = 3
    val df = spark.createDataFrame(edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
      .repartition(2) // keep the projection off the local-relation fold: it runs compiled
    val rows = df.select(col("id"), TextFunctions.tokens(col("text")).as("toks"),
        TextExpressions.minhashSignature(col("text"), K, kSh).as("sig"))
      .collect().map(r => r.getLong(0).toInt -> r).toMap
    for ((text, i) <- edgeTexts.zipWithIndex) {
      val want = sig(text, K, kSh)
      if (text != null) // the transcription tokenizes exactly as TextFunctions.tokens
        assert(rows(i).getSeq[String](1) == tokens(text), s"tokens of ${text.toList}")
      val compiled = Option(rows(i).getSeq[Long](2)).map(_.toVector)
      assert(compiled == want, s"compiled signature of ${Option(text).map(_.toList)}")
      val interpreted = Option(MinhashSignature(Literal.create(text, StringType), K, kSh, TextFunctions.MinhashP)
        .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
        .map(_.toLongArray().toVector)
      assert(interpreted == want, s"interpreted signature of ${Option(text).map(_.toList)}")
    }
    // teeth: the corpus really has signature-less rows and a tab-edge shingle
    assert(edgeTexts.count(t => sig(t, K, kSh).isEmpty) >= 6)
    assert(shingleSet("\tfoo bar baz\n", kSh).contains(" foo bar"))
  }

  test("distinct sub-3-token docs never pair; the pipeline equals the transcription") {
    val long = (1 to 20).map(i => s"w$i")
    val docs: Seq[(Long, String)] = edgeTexts.filter(_ != null).filter(t => tokens(t).size < 3)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ Seq(
      (100L, null: String), (101L, null: String),
      (200L, long.mkString(" ")), (201L, long.updated(19, "x").mkString(" ")))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == transcribe(docs, 16, 4, 0.5, 3))
    assert(got.keySet.forall { case (a, b) => a >= 200 && b >= 200 },
      s"a sub-3-token or null doc formed a pair: ${got.keySet}")
    assert(got.contains((200L, 201L)), "the near-duplicate long docs should pair")
  }
}
