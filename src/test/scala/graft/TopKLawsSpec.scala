package graft

import graft.operators.TopK
import graft.plans.{GraftStrategies, TopKPerKeyExec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

object TopKLawsSpec {
  /** `fallbackTasks` summed over the TopKPerKey nodes of an executed plan,
    * through AQE's final plan and its query stages. */
  def fallbackTasks(plan: SparkPlan): Long = plan match {
    case t: TopKPerKeyExec => t.metrics("fallbackTasks").value + fallbackTasks(t.child)
    case a: AdaptiveSparkPlanExec => fallbackTasks(a.executedPlan)
    case s: QueryStageExec => fallbackTasks(s.plan)
    case p => p.children.map(fallbackTasks).sum
  }

  /** Runs `body` with the per-task byte budget forced to 1 byte, so every
    * TopKPerKey task with input takes the sort fallback, and returns its
    * result with the fallback tasks of every query `body` ran. */
  def forcedFallback[A](spark: SparkSession)(body: => A): (A, Long) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set(GraftStrategies.TestPerTaskBytesKey, "1")
    try {
      val out = body
      ListenerBusBridge.drain(spark.sparkContext)
      (out, plans.asScala.map(fallbackTasks).sum)
    } finally {
      spark.conf.unset(GraftStrategies.TestPerTaskBytesKey)
      spark.listenerManager.unregister(listener)
    }
  }
}

/** Randomized differential test of the custom bounded-heap TopKPerKey
  * physical operator against the window-rank formulation it replaces.
  *
  * The operator is the riskiest custom code in the engine — a hand-written
  * SparkPlan with its own partial/final phases, heap ordering, keyed
  * exchange, and (since round 10) a spillable sort fallback for
  * distinct-key cardinalities past the in-memory row budget. Here the data,
  * tie structure, k, sort directions, and input partitioning all vary per
  * seeded case; the window reference (`row_number` over the same order)
  * is independent machinery end to end. The trailing unique-id sort column
  * makes both sides deterministic, so results must match as exact row
  * sets — any heap-comparator inversion, partial-phase overflow,
  * per-partition boundary bug, or fallback group-boundary bug shows up as
  * a set difference. EVERY law runs twice: once on the default heap path
  * and once with the per-task byte budget forced to 1 byte so both phases
  * take the external-sort fallback.
  */
class TopKLawsSpec extends SparkSpec {

  /** `body` on the forced sort fallback; fails unless some task took it. */
  private def onFallback[A](body: => A): A = {
    val (out, fallbacks) = TopKLawsSpec.forcedFallback(spark)(body)
    assert(fallbacks > 0L, "the forced budget drove no task onto the sort fallback")
    out
  }

  /** Top-k of (key, score, id) by (score, id) ascending, with the run's
    * fallback tasks; `bytes` forces the per-task byte budget. */
  private def countedTopK(df: DataFrame, k: Int,
                          bytes: Option[Long] = None): (Set[(Int, Int, Long)], Long) = {
    bytes.foreach(b => spark.conf.set(GraftStrategies.TestPerTaskBytesKey, b.toString))
    try {
      val out = TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), k)
      (out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet,
        TopKLawsSpec.fallbackTasks(out.queryExecution.executedPlan))
    } finally spark.conf.unset(GraftStrategies.TestPerTaskBytesKey)
  }

  test("random corpora: heap top-k equals the window-rank reference under any partitioning") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(8L, 4711L, 20260815L)) {
      val rng = new scala.util.Random(seed)
      val n = 500 + rng.nextInt(1500)
      // few keys (every group well over k) and a tiny score domain (ties
      // everywhere — the case that punishes comparator/tiebreak bugs)
      val rows = (0 until n).map(i => (rng.nextInt(8), rng.nextInt(20), i.toLong))
      val df = spark.createDataFrame(rows).toDF("key", "score", "id")
        .repartition(1 + rng.nextInt(12))
      val k = 1 + rng.nextInt(7)
      val scoreAsc = rng.nextBoolean()

      def run(): Set[(Int, Int, Long)] =
        TopK.perKey(df, Seq("key"), Seq("score" -> scoreAsc, "id" -> true), k)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet

      val order = Seq(if (scoreAsc) col("score").asc else col("score").desc, col("id").asc)
      val want = df.withColumn("rk",
          row_number().over(Window.partitionBy(col("key")).orderBy(order: _*)))
        .filter(col("rk") <= k).drop("rk")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet

      for ((label, got) <- Seq("heap" -> run(), "fallback" -> onFallback(run()))) {
        assert(got == want,
          s"seed=$seed k=$k scoreAsc=$scoreAsc path=$label: " +
            s"${label}-only ${got.diff(want).take(5)}, window-only ${want.diff(got).take(5)}")
        // and the group-size contract: exactly min(k, |group|) rows per key
        val sizes = got.groupBy(_._1).view.mapValues(_.size)
        val groupN = rows.groupBy(_._1).view.mapValues(_.size)
        assert(sizes.forall { case (key, s) => s == math.min(k, groupN(key)) })
      }
    }
  }

  test("spill fallback provably runs past the row budget and never on the default path") {
    val rng = new scala.util.Random(99)
    // high distinct-key cardinality relative to the forced budget — the
    // 100-TB latest-per-key shape (billions of keys vs a fixed budget),
    // scaled down: 1000 keys against a 1 KB budget (~8 retained rows)
    val rows = (0 until 4000).map(i => (rng.nextInt(1000), rng.nextInt(50), i.toLong))
    val df = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(7)

    // the derived byte budget dwarfs this corpus, so the default path must
    // stay on the heap
    val (heapGot, heapFallbacks) = countedTopK(df, 3)
    val (spillGot, spillFallbacks) = countedTopK(df, 3, Some(1024L))
    assert(heapFallbacks == 0L,
      s"default path must stay on the heap, saw $heapFallbacks fallback tasks")
    assert(spillFallbacks > 0L,
      "forced budget of 1 KB must drive tasks onto the external-sort fallback")
    assert(spillGot == heapGot,
      s"fallback-only ${spillGot.diff(heapGot).take(5)}, heap-only ${heapGot.diff(spillGot).take(5)}")
    // ground truth: every key keeps exactly its 3 best (score, id) rows
    val want = rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy(r => (r._2, r._3)).take(3)
    }.toSet
    assert(heapGot == want)
  }

  test("fallback survives k larger than some groups and single-row partitions") {
    val rows = (0 until 60).map(i => (i % 7, i % 3, i.toLong))
    val df = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(40)
    val want = rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy(r => (r._2, r._3)).take(20)
    }.toSet // k=20 > every group size: the operator must pass groups through whole
    val got = onFallback {
      TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), 20)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(got == want)
  }

  test("gated TopK-consumer queries are bit-identical through the forced spill fallback") {
    // end-to-end: the real gated pipelines (latest-per-key CDC, DISTINCT ON,
    // theta sketch K-min, kNN graph, IVF-PQ ranking, group top-k) with every
    // TopKPerKey task forced onto the external-sort path — the 100-TB
    // billion-key regime, exercised on the full query plans rather than a
    // synthetic frame. All six are hash-gated against DuckDB, so exact
    // row-multiset equality is the right bar.
    for (name <- Seq("cdc_apply", "sort_distinct_on", "agg_theta",
                     "sim_knng", "sim_ivfpq", "topk_group")) {
      val fn = SparkEntry.queries(name)
      def run(): Seq[String] = fn(spark, sfDir).collect().map(_.toString).toSeq.sorted
      val want = run()
      val got = onFallback(run())
      assert(got == want,
        s"$name differs through the fallback: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      assert(want.nonEmpty, s"$name returned no rows at $sfDir")
    }
  }

  test("null keys and null scores: both paths equal the window reference") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    for (seed <- Seq(3L, 777L)) {
      val rng = new scala.util.Random(seed)
      val n = 400 + rng.nextInt(800)
      // ~20% null keys (one extra group) and ~25% null scores — the heap
      // comparator, the fallback's key-grouping UnsafeRow equality, AND its
      // (keys asc, rank order) sort must all agree with the window's
      // null-group / nulls-first semantics
      val rows = (0 until n).map { i =>
        (if (rng.nextInt(5) == 0) None else Some(rng.nextInt(5)),
         if (rng.nextInt(4) == 0) None else Some(rng.nextInt(12)),
         i.toLong)
      }
      val df = rows.toDF("key", "score", "id").repartition(1 + rng.nextInt(9))
      val k = 1 + rng.nextInt(5)
      val scoreAsc = rng.nextBoolean()

      def run(): Set[(Option[Int], Option[Int], Long)] =
        TopK.perKey(df, Seq("key"), Seq("score" -> scoreAsc, "id" -> true), k)
          .collect().map(r => (
            if (r.isNullAt(0)) None else Some(r.getInt(0)),
            if (r.isNullAt(1)) None else Some(r.getInt(1)),
            r.getLong(2))).toSet

      // SortOrder(_, Ascending) is NULLS FIRST, Descending is NULLS LAST —
      // exactly col.asc / col.desc in the window formulation
      val order = Seq(if (scoreAsc) col("score").asc else col("score").desc, col("id").asc)
      val want = df.withColumn("rk",
          row_number().over(Window.partitionBy(col("key")).orderBy(order: _*)))
        .filter(col("rk") <= k).drop("rk")
        .collect().map(r => (
          if (r.isNullAt(0)) None else Some(r.getInt(0)),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          r.getLong(2))).toSet

      for ((label, got) <- Seq("heap" -> run(), "fallback" -> onFallback(run()))) {
        assert(got == want, s"seed=$seed k=$k scoreAsc=$scoreAsc path=$label: " +
          s"${label}-only ${got.diff(want).take(5)}, window-only ${want.diff(got).take(5)}")
        assert(got.exists(_._1.isEmpty), s"seed=$seed: corpus lost its null-key group")
      }
    }
  }

  // ---- derived budget (round 14) ----------------------------------------

  test("auto budget derivation: fair-share formula, floor, and slot scaling") {
    import graft.plans.TopKBudget
    // the guaranteed execution fair share: pool / (2 x slots)
    assert(TopKBudget.derivedPerTaskBytes(32L << 30, 32) == (32L << 30) / 64)
    // floor at MinBytes — tiny pools must not thrash the fallback
    assert(TopKBudget.derivedPerTaskBytes(100L << 20, 32) == TopKBudget.MinBytes)
    // monotone in the pool, antitone in slot count
    assert(TopKBudget.derivedPerTaskBytes(64L << 30, 8) >
      TopKBudget.derivedPerTaskBytes(32L << 30, 8))
    assert(TopKBudget.derivedPerTaskBytes(64L << 30, 16) <
      TopKBudget.derivedPerTaskBytes(64L << 30, 8))
    // degenerate slot counts are guarded
    assert(TopKBudget.derivedPerTaskBytes(1L << 30, 0) == (1L << 30) / 2)
  }

  test("auto mode: the derived byte budget triggers the lossless fallback (sf100 scenario scaled via the test override)") {
    // The per-task byte budget is overridden down to 128 KB so the
    // key-heavy corpus (the billion-distinct-key CDC shape, scaled)
    // exceeds it mid-task.
    val rng = new scala.util.Random(2024)
    val rows = (0 until 5000).map(i => (rng.nextInt(2500), rng.nextInt(50), i.toLong))
    val df = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(5)
    val (want, cleanFallbacks) = countedTopK(df, 2)
    assert(cleanFallbacks == 0L, "the un-starved derived budget must stay on the heap here")
    val (got, fallbacks) = countedTopK(df, 2, Some(128L * 1024))
    assert(fallbacks > 0L,
      "a byte budget of 128 KB never drove a task onto the fallback")
    assert(got == want,
      s"fallback diverged: only-fallback ${got.diff(want).take(5)}, only-heap ${want.diff(got).take(5)}")
  }

  test("fallback with forced DISK spills: identical results, real spill bytes observed") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import java.util.concurrent.atomic.AtomicLong
    val spilled = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          spilled.addAndGet(te.taskMetrics.diskBytesSpilled)
        }
    }
    val rng = new scala.util.Random(4242)
    val rows = (0 until 6000).map(i => (rng.nextInt(1200), rng.nextInt(40), i.toLong))
    val df = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(4)
    def run(): Set[(Int, Int, Long)] =
      TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val want = run() // default heap path, no spills
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(GraftStrategies.TestSpillFrequencyKey, "64") // spill every 64 inserts
    try {
      val got = onFallback(run())
      assert(got == want,
        s"disk-spill path diverged: spill-only ${got.diff(want).take(5)}, heap-only ${want.diff(got).take(5)}")
      // settle the async listener bus, then require REAL disk spill bytes
      var waited = 0
      while (spilled.get() == 0L && waited < 10000) { Thread.sleep(50); waited += 50 }
      assert(spilled.get() > 0L,
        "no diskBytesSpilled reported — the forced-spill hook never reached the sorter")
    } finally {
      spark.conf.unset(GraftStrategies.TestSpillFrequencyKey)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
