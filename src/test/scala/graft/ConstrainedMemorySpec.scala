package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** Constrained-memory pass: the spill paths exist (TopKPerKey's sort
  * fallback, Spark's sort/aggregate/join spills) and must degrade to disk
  * instead of OOMing — the 100-TB contract.
  *
  * Two tiers:
  *
  * ALWAYS-ON (round 13 — previously the whole spec was env-gated, so the
  * default suite never exercised a real Spark disk spill): a dedicated
  * starved session (`spark.memory.fraction=0.05` +
  * `spark.shuffle.spill.numElementsForceSpillThreshold` — the sorter
  * spills deterministically past the element count, no heap-size
  * arithmetic to go stale) runs a sort+agg pipeline, the TopKPerKey
  * forced-fallback law, and one heavy-tier gated query, asserting
  * `diskBytesSpilled > 0` and row equality against the standard session.
  * The same three re-run on a second session with
  * `spark.memory.offHeap.enabled=true` — Tungsten then allocates sorter
  * pages off-heap (MemoryMode.OFF_HEAP), the exact allocation path
  * `TopKPerKeyExec`'s fallback hands its rows to on clusters that deploy
  * off-heap — asserting the identical rows and a real disk spill there
  * too.
  *
  * ENV-GATED (`GRAFT_SPILL=1`, optional GRAFT_SPILL_SF/FRACTION/CPUS/ONLY):
  * the sf1/sf10 heavy-tier sweep under a starved unified pool — several
  * minutes, needs ScaleUp data; evidence from committed runs lives in
  * BASELINE.md's "Forced-spill pass" note. Its tests REGISTER only when
  * enabled, so the default suite reports zero canceled tests.
  */
class ConstrainedMemorySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val enabled = sys.env.get("GRAFT_SPILL").contains("1")
  private val dataDir = sys.env.getOrElse("GRAFT_SPILL_SF", "/tmp/sf1")
  // ~0.05 × (8g − 300m) ≈ 390 MB unified pool over 8 concurrent tasks
  // ≈ 49 MB execution memory per task — roughly the per-task budget of a
  // busy 1000-executor cluster under memory oversubscription
  private val fraction = sys.env.getOrElse("GRAFT_SPILL_FRACTION", "0.05")
  private val cpus = sys.env.getOrElse("GRAFT_SPILL_CPUS", "8")

  /** Heavy tier: the families whose state grows with data (dedup candidate
    * generation, graph fixpoints, CDC latest-per-key, windowed stats) plus
    * the explicit TopK fallback consumer. `GRAFT_SPILL_ONLY=a,b` restricts
    * the run (used for the sf10 pass, where the graph fixpoints — already
    * proven to spill at sf1 — would dominate the wall-clock). */
  private val heavy = {
    val all = Seq(
      "ded_minhash", "ded_ngram", "ded_prefix", "ded_contain", "ded_winnow",
      "ded_simhash", "ded_cluster", "graph_components", "graph_bfs",
      "graph_pagerank", "cdc_apply", "win_mad", "topk_group", "agg_wpercentile",
      "txt_topterms", "evt_sessionize")
    sys.env.get("GRAFT_SPILL_ONLY") match {
      case Some(list) =>
        val only = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
        all.filter(only)
      case None => all
    }
  }

  private val spilledMem = new AtomicLong(0)
  private val spilledDisk = new AtomicLong(0)
  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        spilledMem.addAndGet(m.memoryBytesSpilled)
        spilledDisk.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Listener bus is async — wait for the spill counters to settle. */
  private def settleSpill(): Unit = {
    var last = -1L; var settled = 0
    while (settled < 3) {
      Thread.sleep(300)
      val cur = spilledMem.get() + spilledDisk.get()
      if (cur == last) settled += 1 else { settled = 0; last = cur }
    }
  }

  // ---- always-on leg ------------------------------------------------------

  private val alwaysSf = "/root/testdata/sf0.001"

  /** Deterministic sort pipeline whose sort CANNOT be optimized away: a
    * row_number window requires its child sort (a bare
    * sortWithinPartitions-before-aggregate is removed by EliminateSorts —
    * the first draft measured zero spill for exactly that reason), and the
    * fingerprint folds the rank, so a wrong sort order changes the output.
    * ~150k rows per sort task ≫ the 16384-element force threshold ⇒ the
    * per-task UnsafeExternalSorter must spill. Keys are full-range
    * xxhash64 (unique in practice) so the rank is deterministic; the
    * fingerprint terms are pmod-bounded (summing 1M full-range hashes
    * overflows the ANSI BIGINT). */
  private def sortAggQuery(spark: SparkSession): Seq[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(pmod(col("k"), lit(8L))).orderBy(col("k"))
    spark.range(0, 1200000L, 1, 8)
      .select(xxhash64(col("id")).as("k"))
      .withColumn("rn", row_number().over(w))
      .agg(sum(pmod(xxhash64(col("k"), col("rn")), lit(1000000007L))).as("fp"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** TopKPerKey with the per-task byte budget forced to 1 byte: every task
    * takes the sort fallback; under the force threshold the fallback sorter
    * spills to disk. */
  private def topkFallbackQuery(spark: SparkSession): Set[(Int, Int, Long)] = {
    val rng = new scala.util.Random(13)
    val rows = (0 until 60000).map(i => (rng.nextInt(800), rng.nextInt(40), i.toLong))
    val df = spark.createDataFrame(rows).toDF("key", "score", "id").repartition(6)
    val (top, fallbacks) = TopKLawsSpec.forcedFallback(spark)(
      graft.operators.TopK.perKey(df, Seq("key"), Seq("score" -> true, "id" -> true), 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet)
    assert(fallbacks > 0L, "no task took the sort fallback")
    top
  }

  private def heavyGate(spark: SparkSession): Seq[String] =
    RowRender.snapshot(SparkEntry.queries("ded_ngram")(spark, alwaysSf))

  /** Round 14: the AUTO TopK budget (no explicit row conf, no test
    * override) derived from this leg's genuinely starved unified pool
    * (fraction=0.05 ⇒ ~410 MB pool ⇒ ~51 MB/task fair share) must trigger
    * the lossless fallback instead of OOMing — the sf100 cdc_apply
    * scenario scaled down: 700k distinct keys in ONE task retain ~120 MB
    * of heap rows. Returns (output rows, fallback tasks). */
  private def autoBudgetQuery(spark: SparkSession): (Long, Long) = {
    val df = spark.range(0, 700000L, 1, 1)
      .selectExpr("id as key", "id % 40 as score", "id as i")
    val out = graft.operators.TopK.perKey(df, Seq("key"), Seq("score" -> true, "i" -> true), 1)
    (out.collect().length.toLong, TopKLawsSpec.fallbackTasks(out.queryExecution.executedPlan))
  }

  private case class LegResult(sortAgg: Seq[(Long, Long)],
      topk: Set[(Int, Int, Long)], gate: Seq[String], diskSpilled: Long,
      autoRows: Long = 0L, autoFallbacks: Long = 0L)

  private def runLeg(offHeap: Boolean): LegResult = {
    val b = GraftSession.builder("local[4]", 8)
      .config("spark.memory.fraction", "0.05")
      // Pin the pool arithmetic to a fixed 8 GiB system size: both Spark's
      // UnifiedMemoryManager and TopKPerKey.unifiedPoolBytes read
      // spark.testing.memory before Runtime.maxMemory, so the starved-pool
      // condition (auto budget < 700k retained rows) no longer depends on
      // the forked JVM's -Xmx (SPARK_DRIVER_MEM varies across hosts; a
      // larger heap moved the derived budget past the retention and the
      // fallback assertion went red on the driver host, round 14).
      .config("spark.testing.memory", String.valueOf(8L << 30))
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "16384")
    val bb = if (offHeap)
      b.config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", "128m")
    else b
    val s = bb.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.registerAll(s)
    s.sparkContext.addSparkListener(listener)
    try {
      val d0 = spilledDisk.get()
      val (autoRows, autoFallbacks) = autoBudgetQuery(s)
      val r = LegResult(sortAggQuery(s), topkFallbackQuery(s), heavyGate(s), 0L,
        autoRows = autoRows, autoFallbacks = autoFallbacks)
      settleSpill()
      r.copy(diskSpilled = spilledDisk.get() - d0)
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  private var reference: LegResult = _
  private var onHeapLeg: LegResult = _
  private var offHeapLeg: LegResult = _
  private var results: Map[String, (Long, Long, Long)] = Map.empty // rows, memSpill, diskSpill

  override def beforeAll(): Unit = {
    super.beforeAll()
    // Everything — including the reference computation on the shared
    // session — runs inside the one try/finally that restores the standard
    // fixture: a throw during the reference pass would otherwise abort the
    // suite with the shared session stopped/indeterminate for the suites
    // that follow (ADVICE r13).
    try {
      // reference rows on the standard shared session (full memory, no
      // force threshold) — memory pressure must never change a result
      val shared = GraftSession.getOrCreate("local[4,2]", 4)
      reference = LegResult(sortAggQuery(shared), topkFallbackQuery(shared),
        heavyGate(shared), 0L)
      shared.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      onHeapLeg = runLeg(offHeap = false)
      offHeapLeg = runLeg(offHeap = true)
      if (enabled) runHeavySweep()
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      GraftSession.getOrCreate("local[4,2]", 4)
    }
  }

  test("starved on-heap session really spills to disk (not OOM) with rows equal to the full-memory run") {
    assert(onHeapLeg.diskSpilled > 0,
      "no disk spill under fraction=0.05 + force threshold — the budget is not actually constrained")
    assert(onHeapLeg.sortAgg == reference.sortAgg && reference.sortAgg.nonEmpty)
    assert(onHeapLeg.topk == reference.topk && reference.topk.nonEmpty)
    assert(onHeapLeg.gate == reference.gate && reference.gate.nonEmpty)
  }

  test("auto-derived TopK budget triggers the lossless fallback on a starved pool (no conf, no override)") {
    assert(onHeapLeg.autoRows == 700000L,
      s"auto-mode TopK lost rows on the starved pool: ${onHeapLeg.autoRows}")
    assert(onHeapLeg.autoFallbacks > 0L,
      "the derived byte budget never triggered the fallback under fraction=0.05 — " +
        "auto sizing is not actually reading the starved pool")
    assert(offHeapLeg.autoRows == 700000L)
  }

  test("off-heap Tungsten (memory.offHeap.enabled) spills and stays row-identical") {
    assert(offHeapLeg.diskSpilled > 0,
      "no disk spill on the off-heap leg — force threshold not honored by the off-heap sorter path")
    assert(offHeapLeg.sortAgg == reference.sortAgg)
    assert(offHeapLeg.topk == reference.topk)
    assert(offHeapLeg.gate == reference.gate)
  }

  // ---- env-gated heavy sweep ----------------------------------------------

  private def runHeavySweep(): Unit = {
    // memory.fraction is a startup conf — needs a fresh context
    val starved = GraftSession.builder(s"local[$cpus]", 32)
      .config("spark.memory.fraction", fraction)
      .getOrCreate()
    starved.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.registerAll(starved)
    starved.sparkContext.addSparkListener(listener)
    try {
      results = heavy.map { name =>
        val m0 = spilledMem.get(); val d0 = spilledDisk.get()
        val rows = SparkEntry.queries(name)(starved, dataDir).count()
        settleSpill()
        name -> ((rows, spilledMem.get() - m0, spilledDisk.get() - d0))
      }.toMap
    } finally {
      starved.sparkContext.removeSparkListener(listener)
      starved.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    // machine-readable evidence for the BASELINE.md note — a per-run
    // path (env-overridable) so concurrent/successive GRAFT_SPILL runs
    // can't silently overwrite each other's evidence
    val js = results.toSeq.sortBy(_._1).map { case (n, (r, ms, ds)) =>
      s"""\"$n\":{\"rows\":$r,\"mem_spill\":$ms,\"disk_spill\":$ds}"""
    }.mkString("{", ",", "}")
    val out = sys.env.get("GRAFT_SPILL_OUT").map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Files.createTempFile("graft_spill_evidence_", ".json"))
    java.nio.file.Files.write(out, js.getBytes("UTF-8"))
    println(s"[spill] evidence written to $out")
  }

  if (enabled) {
    test("heavy tier completes under the starved memory budget") {
      // Completion (the count() above threw on any task failure) is the
      // assertion; row counts ride in the evidence JSON. rows==0 can be the
      // query's own semantics, not a failure — ded_winnow at /tmp/sf10 has
      // ZERO pairs because every fingerprint's csize-weighted df (100
      // verbatim copies per content under ScaleUp) exceeds its dfCap=50:
      // the boilerplate cap working as specified (verified against a
      // full-memory run; memory pressure cannot change a deterministic
      // query's output — that is ConfigInvarianceSpec's contract).
      assert(results.size == heavy.size)
      val empty = results.collect { case (n, (rows, _, _)) if rows == 0 => n }
      if (empty.nonEmpty) info(s"zero-output queries (verify against a full-memory run): $empty")
    }

    test("the starved run actually spilled (sort/agg state went to disk, not OOM)") {
      val spillers = results.collect { case (n, (_, ms, ds)) if ms + ds > 0 => n }.toSeq.sorted
      info(s"spilling queries: ${spillers.mkString(", ")}")
      results.toSeq.sortBy(_._1).foreach { case (n, (r, ms, ds)) =>
        info(f"$n%-18s rows=$r%-8d memSpill=${ms / 1e6}%.1fMB diskSpill=${ds / 1e6}%.1fMB")
      }
      assert(spillers.nonEmpty,
        "no query spilled — either the budget is not actually constrained or the listener missed metrics")
    }
  }
}
