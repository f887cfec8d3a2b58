package graft

import graft.operators.{GraphOps, TopK}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** Deterministic failure injector: the FIRST attempt of partition 0 of any
  * stage that evaluates it throws; the scheduler's retry (attempt 1) passes.
  * `local[4,2]` gives every task two attempts, so an injected run completes
  * — after real task failures, real retries, and real recomputation of any
  * state the failed attempt had produced. The counter is a plain JVM
  * atomic: in local mode executors share the driver JVM, so it counts the
  * injections synchronously (no listener race).
  */
object RetryProbe extends Serializable {
  val injected = new AtomicInteger(0)
  def failFirstAttempt[T](x: T): T = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0) {
      injected.incrementAndGet()
      throw new RuntimeException("graft retry law: injected first-attempt task failure")
    }
    x
  }
}

/** Task-retry determinism laws — the Spark-native mirror of the reference's
  * executor-loss/retry simulations (reference:
  * ballista/scheduler/src/state/execution_graph.rs test mod exercises
  * failed-task and executor-lost transitions; planner.rs:260-283 rolls back
  * resolved shuffles). Spark supplies the retry machinery natively; what
  * the engine owes on top is DETERMINISM UNDER RE-EXECUTION: a retried
  * task must reproduce bit-identical results through the custom operators
  * (TopKPerKey's heaps and spill fallback, sketch UDAF buffers, graph
  * fixpoint rounds, streaming state). Each law runs an operator twice —
  * clean, and with [[RetryProbe]] injected upstream — and asserts equal
  * results, that injections actually happened, and (via a SparkListener)
  * that the scheduler really observed failed task attempts.
  */
class RetryLawsSpec extends SparkSpec {

  private val failedTasks = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Runs `body`, asserting it injected ≥ 1 failure and that the scheduler
    * saw ≥ 1 failed task attempt (listener bus is async — poll bounded). */
  private def assertingRetries[A](body: => A): A = {
    val i0 = RetryProbe.injected.get()
    val f0 = failedTasks.get()
    val out = body
    assert(RetryProbe.injected.get() > i0,
      "law ran without any injected failure — injection site never evaluated in partition 0")
    var waited = 0
    while (failedTasks.get() == f0 && waited < 10000) { Thread.sleep(50); waited += 50 }
    assert(failedTasks.get() > f0,
      "scheduler reported no failed task attempts — the injected throw never surfaced as a task failure")
    out
  }

  private val failLong = udf((x: Long) => RetryProbe.failFirstAttempt(x))
  private val failInt = udf((x: Int) => RetryProbe.failFirstAttempt(x))

  test("TopKPerKey heap path is bit-identical under first-attempt task failures") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 2000).map(i => (rng.nextInt(10), rng.nextInt(40), i.toLong))
    val clean = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(6)
    def topk(df: org.apache.spark.sql.DataFrame) =
      TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), 4)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val want = topk(clean)
    val got = assertingRetries(topk(clean.withColumn("score", failInt(col("score")))))
    assert(got == want && want.nonEmpty)
  }

  test("TopKPerKey spill fallback is bit-identical under first-attempt task failures") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 3000).map(i => (rng.nextInt(800), rng.nextInt(40), i.toLong))
    val clean = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(6)
    def topk(df: org.apache.spark.sql.DataFrame) =
      TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // every task on the sort fallback
    val (want, _) = TopKLawsSpec.forcedFallback(spark)(topk(clean))
    val (got, fallbacks) = TopKLawsSpec.forcedFallback(spark)(
      assertingRetries(topk(clean.withColumn("score", failInt(col("score"))))))
    assert(fallbacks > 0L, "no task took the sort fallback")
    assert(got == want && want.nonEmpty)
  }

  test("mergeable sketch UDAFs (KLL, Misra-Gries) are bit-identical under retries") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 5000).map(_ =>
      (rng.nextInt(4), rng.nextGaussian() * 100, s"t${rng.nextInt(50)}"))
    val clean = spark.createDataFrame(rows).toDF("g", "v", "term").repartition(6)
    def sketches(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.groupBy(col("g"))
        .agg(expr("graft_kll(v)").as("kll"), expr("graft_heavy_hitters(term)").as("hh"))
        .orderBy(col("g"))
        .collect().map(_.toString).toSeq
    val want = sketches(clean)
    val got = assertingRetries(sketches(clean.withColumn("g", failInt(col("g")))))
    assert(got == want && want.nonEmpty)
  }

  test("graph fixpoint (BFS over localCheckpoint rounds) is bit-identical under retries") {
    val rng = new scala.util.Random(41)
    val edges = spark.createDataFrame(
      (0 until 400).map(_ => (rng.nextInt(80).toLong, rng.nextInt(80).toLong))
        .filter(e => e._1 != e._2)).toDF("u", "v").repartition(6)
    def run(e: org.apache.spark.sql.DataFrame) =
      GraphOps.bfsToFixpoint(GraphOps.undirect(e), _ % 9 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = run(edges)
    val got = assertingRetries(run(edges.withColumn("u", failLong(col("u")))))
    assert(got == want && want.nonEmpty)
  }

  test("reliable checkpointing under retries: durable rounds + injected failures still bit-identical") {
    // items 2+3 of the round-10 brief composed: the cluster regime is
    // task retries happening WHILE rounds checkpoint durably
    val rng = new scala.util.Random(59)
    val edges = spark.createDataFrame(
      (0 until 300).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter(e => e._1 != e._2)).toDF("u", "v").repartition(5)
    def run(e: org.apache.spark.sql.DataFrame) =
      GraphOps.bfsToFixpoint(GraphOps.undirect(e), _ % 7 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = run(edges)
    spark.conf.set(graft.operators.Lineage.ReliableKey, "true")
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-retry-reliable").toString)
    try {
      val got = assertingRetries(run(edges.withColumn("u", failLong(col("u")))))
      assert(got == want && want.nonEmpty)
    } finally {
      spark.conf.unset(graft.operators.Lineage.ReliableKey)
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("streaming micro-batch aggregation is bit-identical under retries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(inject: Boolean, name: String): Map[Long, Long] = {
      val mem = MemoryStream[Long]
      val src = if (inject) mem.toDF().withColumn("value", failLong(col("value")))
                else mem.toDF()
      val q = src.groupBy((col("value") % 10).as("k")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory").queryName(name).start()
      try {
        mem.addData(0L until 500L: _*)
        q.processAllAvailable()
        mem.addData(500L until 900L: _*)
        q.processAllAvailable()
        spark.table(name).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally q.stop()
    }
    val want = run(inject = false, "retry_law_clean")
    val got = assertingRetries(run(inject = true, "retry_law_injected"))
    assert(got == want && want.nonEmpty)
  }
}
