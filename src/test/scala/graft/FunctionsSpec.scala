package graft

import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect().head.get(0)

  test("hash64 matches the md5-derived reference value") {
    // '0x' || substr(md5('hello'),1,15) == 419982666956583591 (cross-checked in DuckDB)
    assert(eval1(TextFunctions.hash64(lit("hello"))) === 419982666956583591L)
  }

  test("normalize lowercases, strips punctuation, collapses whitespace") {
    assert(eval1(TextFunctions.normalize(lit("  Hello,  WORLD!! 42 "))) === "hello world 42")
  }

  test("tokenCount counts whitespace tokens") {
    assert(eval1(TextFunctions.tokenCount(lit(" a  b\tc "))) === 3L)
  }

  test("shingles produces distinct word 3-grams") {
    val got = eval1(TextFunctions.shingles(lit("a b c d a b c d"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSet
    assert(got === Set("a b c", "b c d", "c d a", "d a b"))
  }

  test("minhash signature has K entries, identical texts agree, disjoint texts don't") {
    val df = spark.createDataFrame(Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"), (3L, "x1 x2 x3 x4 x5 x6")
    )).toDF("id", "text")
    val sigs = df.select(col("id"),
      graft.plans.TextExpressions.minhashSignature(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length === 16)
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("digest dispatches to md5/sha2") {
    assert(eval1(HashFunctions.digest(lit("abc"), "md5")) === "900150983cd24fb0d6963f7d28e17f72")
    assert(eval1(HashFunctions.digest(lit("abc"), "sha256")) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    intercept[IllegalArgumentException](HashFunctions.digest(lit("abc"), "crc99"))
  }

  test("dateBin floors into stride-anchored buckets") {
    val binned = eval1(DateTimeFunctions.dateBin(
      15L * 60 * 1000000,
      lit("2024-01-01 00:07:33").cast(TimestampType),
      lit("1970-01-01 00:00:00").cast(TimestampType)))
    assert(binned.toString === "2024-01-01 00:00:00.0")
  }

  test("vector cosine of identical vectors is 1, orthogonal is 0") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    )).toDF("id", "a", "b")
    val got = df.select(col("id"), VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
  }

  test("native VecDot matches the interpreted higher-order dot bit-for-bit") {
    val df = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
    val diffs = df.select(
      (VectorFunctions.dot(col("a"), col("b")) -
        VectorFunctions.dotHof(col("a"), col("b"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diffs === 0L)
  }

  test("udafs: sum of squares is exact") {
    Udafs.register(spark)
    val got = spark.sql("SELECT graft_sum_squares(CAST(x AS BIGINT)) FROM VALUES (1),(2),(3) t(x)")
      .collect().head.getLong(0)
    assert(got === 14L)
  }

  test("SQL registry: expression-builder functions are callable by name") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT graft_token_count('a b c') AS n,
        |  graft_similar_to('abc', 'a_c') AS m,
        |  graft_digest('x', 'md5') AS dg,
        |  graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  graft_date_bin(3600000000L, TIMESTAMP '2024-05-05 10:47:13',
        |                 TIMESTAMP '2024-01-01 00:00:00') AS binned
        |""".stripMargin).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Boolean]("m"))
    assert(r.getAs[String]("dg") == java.security.MessageDigest.getInstance("MD5")
      .digest("x".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[java.sql.Timestamp]("binned").toString.startsWith("2024-05-05 10:00:00"))
  }

  test("weighted percentile: exact below cap, stable under repartitioning") {
    import spark.implicits._
    Udafs.register(spark)
    // weights force the answer away from the unweighted median
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 10.0), (4.0, 1.0)).toDF("v", "w")
    df.createOrReplaceTempView("wp_t")
    val got = spark.sql("SELECT graft_wpercentile(v, w, 0.5D) FROM wp_t")
      .collect().head.getDouble(0)
    assert(got == 3.0) // cum at 3.0 = 12 >= 0.5*13
    // partition-invariance: 1 vs 8 partitions agree
    val one = df.coalesce(1).groupBy().agg(expr("graft_wpercentile(v, w, 0.5D)")).collect().head.getDouble(0)
    val eight = df.repartition(8).groupBy().agg(expr("graft_wpercentile(v, w, 0.5D)")).collect().head.getDouble(0)
    assert(one == eight && one == 3.0)
  }

  test("literal-only arguments fail analysis with a clear message") {
    graft.functions.GraftFunctions.registerAll(spark)
    val e1 = intercept[Exception](
      spark.sql("SELECT graft_digest('x', lower('MD5'))").collect())
    assert(e1.getMessage.contains("string literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_digest('x', 'blake3')").collect())
    assert(e2.getMessage.contains("unsupported algorithm") || e2.getMessage.contains("blake3"))
  }

  test("graft_ngrams generator: tokenization contract and declarative equivalence") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "  padded   whitespace  "), // trim + \s+ collapse
      (3L, "single"),                  // fewer tokens than n -> no rows
      (4L, null.asInstanceOf[String]), // null -> no rows
      (5L, "\tfoo bar baz\n")          // trim strips spaces only: empty edge tokens
    ).toDF("id", "text")
    df.createOrReplaceTempView("ngram_t")
    val got = spark.sql(
      "SELECT id, gram FROM ngram_t LATERAL VIEW graft_ngrams(text, 2) g AS gram")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, "brown fox"), (1L, "quick brown"), (1L, "the quick"),
      (2L, "padded whitespace"),
      (5L, " foo"), (5L, "bar baz"), (5L, "baz "), (5L, "foo bar")))
    // equivalence with the declarative staged-array formulation
    val decl = df.filter($"text".isNotNull)
      .select($"id", split(trim($"text"), "\\s+").as("toks"))
      .filter(size($"toks") >= 2) // sequence(0, -1) would count DOWN in Spark
      .select($"id", explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i+1]))")).as("gram"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(decl == got)
    // n = 1 degenerates to tokens
    val ones = spark.sql(
      "SELECT gram FROM ngram_t LATERAL VIEW graft_ngrams(text, 1) g AS gram " +
        "WHERE id = 3").as[String].collect().toSeq
    assert(ones == Seq("single"))
    // non-literal n is rejected at analysis with a clear message
    val e = intercept[Exception](
      spark.sql("SELECT gram FROM ngram_t LATERAL VIEW graft_ngrams(text, id) g AS gram")
        .collect())
    assert(e.getMessage.contains("integer literal"))
  }

  test("kll sketch: rank-error invariant holds under any partitioning, err is real") {
    import spark.implicits._
    Udafs.register(spark)
    // adversarial-ish input: interleaved ramps, duplicates, negatives
    val n = 20000
    val data = (0 until n).map(i => ((i * 7919) % n).toDouble - 1000.0)
    for (parts <- Seq(1, 13)) {
      val df = data.toDF("v").repartition(parts)
      val sk = df.agg(expr("graft_kll(v)").as("sk")).selectExpr(
        "sk.levels AS levels", "sk.n AS n", "sk.err AS err").collect().head
      val levels = sk.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("levels")
        .map(_.toSeq).toSeq
      val total = sk.getAs[Long]("n")
      val err = sk.getAs[Long]("err")
      assert(total === n.toLong)
      // compaction preserves total weight exactly
      val weight = levels.zipWithIndex.map { case (l, i) => l.size.toLong << i }.sum
      assert(weight === n.toLong)
      // capacity 128 over 20k values must have compacted (bound > 0)
      assert(err > 0 && err < n / 4, s"err=$err out of useful range")
      val sorted = data.sorted
      for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
        val t = math.max(1L, math.ceil(q * total).toLong)
        val est = Udafs.kllValueAtRank(levels, t)
        val nLe = sorted.count(_ <= est).toLong
        val nLt = sorted.count(_ < est).toLong
        assert(nLe >= t - err && nLt <= t - 1 + err,
          s"q=$q parts=$parts est=$est t=$t err=$err nLe=$nLe nLt=$nLt")
      }
    }
  }

  test("similar_to translation: wildcards, alternation, class, escape, anchoring") {
    import graft.functions.RegexFunctions.similarToRegex
    assert(similarToRegex("abc") == "^abc$")
    assert(similarToRegex("%(b|d)%") == "^.*(b|d).*$")
    assert(similarToRegex("a_c") == "^a.c$")
    assert(similarToRegex("[0-9]%") == "^[0-9].*$")
    assert(similarToRegex("100\\%") == "^100\\Q%\\E$")
    assert(similarToRegex("a.b") == "^a\\.b$")
    // semantic spot-checks through Spark
    import spark.implicits._
    val df = Seq("abc", "adc", "xyz").toDF("s")
    val hits = df.filter(graft.functions.RegexFunctions.similarTo(col("s"), "a_c"))
      .as[String].collect().sorted.toSeq
    assert(hits == Seq("abc", "adc"))
  }
}
