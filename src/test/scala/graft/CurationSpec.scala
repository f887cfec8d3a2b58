package graft

import graft.operators.{Clustering, Similarity}
import graft.queries.Curation
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  test("connectedComponents labels a chain (multi-iteration) and separate components") {
    // chain 1-2-3-4 needs two star rounds to fold 4 onto 1 — plus a
    // disjoint pair (10,11)
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)
    )).toDF("a", "b")
    val labels = Clustering.connectedComponentsAlternating(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("assignClusters covers singletons and flags exactly one keeper per cluster") {
    val docs = spark.createDataFrame(Seq(
      (1L, "x"), (2L, "x"), (3L, "x"), (7L, "y")
    )).toDF("doc_id", "text")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("doc_a", "doc_b")
    val out = Clustering.assignClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet === Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (7L, 7L, 1L, true)))
  }

  test("alternating star CC solves a long chain in logarithmic rounds") {
    // a 200-node path has diameter 199: min-label propagation would need
    // ~200 rounds, the star algorithm must finish well inside 20
    val chain = spark.createDataFrame(
      (0L until 199L).map(i => (i, i + 1))
    ).toDF("a", "b")
    val labels = Clustering.connectedComponentsAlternating(chain, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 200)
    assert(labels.values.forall(_ == 0L), "every chain node must label to the minimum")
  }

  test("connectedComponents fails loudly when the iteration cap is hit") {
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L))).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Clustering.connectedComponentsAlternating(pairs, "a", "b", maxRounds = 1)
    }
  }

  test("kmeansCells separates two obvious clusters and is deterministic") {
    val rows = (0 until 20).map { i =>
      // ids 0..9 point along +x-ish, 10..19 along +y-ish (unit-ish vectors
      // with a small deterministic wobble so no two are identical)
      val base = if (i < 10) Array(1.0f, 0.01f * i, 0f, 0f)
      else Array(0.01f * (i - 10), 1.0f, 0f, 0f)
      (i.toLong, base)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val out = Similarity.kmeansCells(df, k = 2, iters = 2)
      .orderBy(col("cell_id")).collect()
    assert(out.map(_.getLong(2)).sum === 20L) // every vector assigned
    // seeds 0 and 1 both point +x-ish; after updates the two cells split
    // the corpus into the two direction groups (one cell dominated by each)
    assert(out.length === 2)
    val out2 = Similarity.kmeansCells(df, k = 2, iters = 2)
      .orderBy(col("cell_id")).collect()
    assert(out.map(_.toString).toSeq === out2.map(_.toString).toSeq)
  }

  test("repetition quality separates repetitive from diverse docs") {
    val docsDir = sfDir // metrics over real corpus: assert both outcomes occur
    val out = Curation.txtQuality(spark, docsDir)
    val flags = out.select(col("passes_quality")).collect().map(_.getBoolean(0))
    assert(flags.contains(true) && flags.contains(false),
      "quality thresholds must split the corpus, not rubber-stamp it")
    // a fully-repetitive doc must fail: dup_token_frac = 1 - 1/n
    val rep = spark.createDataFrame(Seq((1L, "spam spam spam spam spam spam"))).toDF("doc_id", "text")
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(split(col("text"), "\\s+"))).cast("double")
          / size(split(col("text"), "\\s+"))).as("dup"))
      .collect().head.getDouble(1)
    assert(rep > 0.8)
  }

  test("PII planting, counting and redaction are consistent") {
    val out = Curation.txtPii(spark, sfDir)
    val rows = out.collect()
    // doc 0 is divisible by 3, 4 and 5 → gets all three PII kinds
    val d0 = rows.find(_.getLong(0) == 0L).get
    assert(d0.getAs[Long]("n_emails") === 1L)
    assert(d0.getAs[Long]("n_phones") === 1L)
    assert(d0.getAs[Long]("n_ips") === 1L)
    // a doc with no planted PII has zero counts
    val d1 = rows.find(_.getLong(0) == 1L).get
    assert(d1.getAs[Long]("n_emails") + d1.getAs[Long]("n_phones") + d1.getAs[Long]("n_ips") === 0L)
    // redaction removed every planted match: re-scanning redacted text via
    // the fingerprint is covered by the oracle; here assert counts>0 exist
    assert(rows.map(_.getAs[Long]("n_emails")).sum > 0)
  }

  test("stratified sampling rates land near the per-stratum targets") {
    val out = Curation.smpStratified(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = out.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.3 && enRate < 0.7, s"en rate $enRate should be ~0.5")
    // sampling is deterministic: same rows on a second run
    val a = Curation.smpStratified(spark, sfDir).collect().map(_.getLong(0)).toSeq
    val b = Curation.smpStratified(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("sequence packing fills bins to the budget in order") {
    val out = Curation.packTokens(spark, sfDir).collect()
    // bins are dense per lang starting at 0
    val byLang = out.groupBy(_.getString(0))
    byLang.foreach { case (_, rows) =>
      val bins = rows.map(_.getLong(1)).sorted
      assert(bins.head === 0L)
      assert(bins === (bins.head to bins.last))
      // every full (non-final) bin holds at least the budget's worth of
      // docs' tokens minus one doc's worth of slack — i.e. the NEXT bin
      // starts because the running total crossed the boundary
      val cum = rows.sortBy(_.getLong(1)).map(_.getLong(3)).scanLeft(0L)(_ + _).drop(1)
      cum.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        assert(c >= (i + 1) * 2048L - 2048L, "a bin closed before its boundary")
      }
    }
  }

  test("curation funnel stages are monotonically narrowing per language") {
    Curation.curFunnel(spark, sfDir).collect().foreach { r =>
      val (n, k, q, f) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= k && k >= q && q >= f, s"funnel must narrow: $n >= $k >= $q >= $f")
      assert(f >= 0L && n > 0L)
    }
  }

  test("top terms are ranked by document frequency with tf >= df") {
    val rows = Curation.txtTopterms(spark, sfDir).collect()
    assert(rows.length === 20)
    val dfs = rows.map(_.getLong(1))
    assert(dfs.sorted.reverse.toSeq === dfs.toSeq, "rows must arrive df-descending")
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      "total occurrences can never be below document frequency"))
  }

  test("Misra-Gries sketch: invariants hold and a dominant item is always present") {
    import graft.functions.Udafs
    import org.apache.spark.sql.functions.udaf
    // skewed stream: "hot" is 60% of 10k items, tail of 200 distinct terms,
    // spread over 8 partitions so the MERGE path (not just reduce) runs
    val rows = (0 until 10000).map { i =>
      if (i % 5 != 2 && i % 5 != 4) "hot" else s"t${i % 200}"
    }
    val df = spark.createDataFrame(rows.map(Tuple1(_))).toDF("term").repartition(8)
    val hh = udaf(Udafs.MisraGries)
    val sk = df.agg(hh(col("term")).as("sk"))
      .select(col("sk.counts").as("counts"), col("sk.err").as("err"))
      .collect().head
    val counts = sk.getMap[String, Long](0)
    val err = sk.getLong(1)
    val trueCounts = rows.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    assert(counts.size <= Udafs.MisraGries.K)
    // every estimate is an undercount within the tracked bound
    counts.foreach { case (t, est) =>
      assert(est <= trueCounts(t), s"$t overcounted")
      assert(trueCounts(t) - est <= err, s"$t undercount exceeds err=$err")
    }
    // absent items are bounded by err; the 6000-count item must be present
    trueCounts.filter { case (t, _) => !counts.contains(t) }
      .foreach { case (t, c) => assert(c <= err, s"absent $t has count $c > err=$err") }
    assert(counts.contains("hot"), "dominant item evicted — guarantee violated")
  }

  test("int8 quantization bounds reconstruction error for every vector") {
    val rows = Curation.embQuantize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"vec ${r.getLong(0)}: error exceeded scale/2")
      val (q1, q2) = (r.getLong(1), r.getLong(2))
      assert(q1 >= 0 && q1 <= 255 && q2 >= 0 && q2 <= 255, "quantized values must fit int8 range")
    }
  }

  test("per-label centroids average exactly n_vecs vectors of each label") {
    val out = Curation.embCentroid(spark, sfDir)
    val byLabel = out.groupBy("label").agg(
      countDistinct(col("n_vecs")).as("distinct_n"),
      count(lit(1)).as("n_dims")).collect()
    byLabel.foreach { r =>
      assert(r.getLong(1) === 1L, "all dims of a label see the same vector count")
      assert(r.getLong(2) === 64L)
    }
  }

  test("CUSUM closed form equals the sequential recurrence") {
    // recompute S_i = max(0, S_{i-1} + d_i) driver-side from the raw events
    // and check the window formulation (P_i - running min P) agrees on the
    // reported top drifts
    val events: Seq[(Long, String, Long, BigDecimal)] = graft.Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("ts_ns"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val expected = events.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      val n = BigDecimal(ordered.length)
      val t = ordered.map(_._4).sum
      var s = BigDecimal(0)
      ordered.map { r =>
        s = (s + (n * r._4 - t)).max(0)
        (r._1, s)
      }
    }.sortBy { case (id, s) => (-s, id) }.take(50)
      .map { case (id, s) => id -> (s * 100).toLongExact }.toMap
    val got = graft.queries.Analytics.evtCusum(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("SSSP distances equal driver-side Bellman-Ford on the same graph") {
    val out = graft.queries.Graphs.sssp(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the sampled weighted co-supply graph and relax 4 rounds
    val li: Seq[(Long, Long)] = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = li.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
      val ss = grp.map(_._2)
      for { a <- ss; b <- ss if a < b && (a * 31 + b) % 20 == 0 } yield (a, b)
    }.distinct.map { case (u, v) => (u, v, (u * 7 + v * 13) % 20 + 1) }
    val und = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val nodes = und.map(_._1).distinct
    var dist = nodes.filter(_ % 10 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val cand = und.flatMap { case (a, b, w) => dist.get(a).map(d => b -> (d + w)) }
        .groupBy(_._1).map { case (b, ds) => b -> ds.map(_._2).min }
      dist = (dist.keySet ++ cand.keySet).map { k =>
        k -> math.min(dist.getOrElse(k, Long.MaxValue), cand.getOrElse(k, Long.MaxValue))
      }.toMap
    }
    assert(out === dist)
  }

  test("bloom filter aggregate never reports a false negative") {
    val rows = graft.queries.Quality.aggBloom(spark, sfDir).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(!rows.contains((true, false)),
      "an inserted key must always hit: " + rows)
    assert(rows.keys.exists(_._1 == true), "some keys are members")
  }
}
