package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

import scala.collection.mutable

/** Group top-k as a first-class operator — the full custom-operator ladder:
  * a logical node ([[TopKPerKey]]), a planner strategy ([[GraftStrategies]])
  * lowering it to a two-phase physical operator ([[TopKPerKeyExec]]), and
  * registration through `spark.sql.extensions=graft.GraftExtensions`
  * ([[graft.GraftExtensions]]) — the same extension path a deployed cluster
  * uses via spark-submit conf.
  *
  * Why an operator instead of `row_number() OVER (...) <= k`: the Window
  * formulation shuffles every row, then SORTS each key's entire row set to
  * rank it. This operator keeps a bounded heap of k rows per key on both
  * sides of the shuffle — partial top-k before the exchange (only keys*k
  * rows ever shuffle, the map-side-combine of top-k) and a merge after —
  * so memory is O(keys*k) per task and nothing is ever globally sorted.
  * At 100 TB the Window version's per-key sort is the bottleneck; this is
  * the shape a dedicated engine gives the operator, expressed as a
  * Catalyst extension rather than a fork.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"topKPerKey: k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial → (exchange inserted by
  * EnsureRequirements) → final. The test hooks are captured from the
  * session conf at planning time (executors never read session confs). */
object GraftStrategies extends SparkStrategy {
  /** Row-count ceiling of the per-task budget: even with bytes to spare,
    * past ~4M retained row copies the hash-of-heaps' object churn
    * dominates — fall back to the spillable sort instead. */
  val MaxRowsDefault: Int = 4 * 1024 * 1024

  /** TEST-ONLY: force the fallback's external sorter to spill every N
    * inserted records (0 = off, production default). The same hook Spark's
    * own sort tests use — it lets TopKLawsSpec prove the disk-spill path
    * end-to-end instead of trusting that the sorter would spill under real
    * memory pressure. */
  val TestSpillFrequencyKey = "spark.graft.topk.testSpillFrequency"

  /** TEST-ONLY: override the derived per-task byte budget (0 = off,
    * production default) so the fallback is law-testable at corpus sizes a
    * spec can afford; a budget of 1 byte puts every task on the fallback. */
  val TestPerTaskBytesKey = "spark.graft.topk.testPerTaskBytes"

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, ordering, k, child) =>
      val spillFreq = SQLConf.get.getConfString(TestSpillFrequencyKey, "0").toInt
      val perTaskBytes = SQLConf.get.getConfString(TestPerTaskBytesKey, "0").toLong
      val partial = TopKPerKeyExec(keys, ordering, k, planLater(child),
        partial = true, testSpillFrequency = spillFreq, testPerTaskBytes = perTaskBytes)
      TopKPerKeyExec(keys, ordering, k, partial,
        partial = false, testSpillFrequency = spillFreq, testPerTaskBytes = perTaskBytes) :: Nil
    case _ => Nil
  }
}

/** Derives [[TopKPerKeyExec]]'s per-task retained-byte budget, its only
  * budget (round 14).
  *
  * The heaps hold JVM object copies the memory manager does not track, so
  * the budget targets the task's FAIR SHARE of the unified pool: Spark
  * guarantees every task at least `pool / (2 × slots)` of execution
  * memory, and a structure holding more than that share of untracked heap
  * is exactly the shape that OOMs when every slot does it at once (the
  * round-13 sf100 cdc_apply finding). All inputs are read executor-side
  * inside the task — a 1000-executor cluster derives 1000 local answers,
  * each from its own heap and core count. */
object TopKBudget {
  /** Floor: never thrash the fallback below 16 MB of retained rows. */
  val MinBytes: Long = 16L * 1024 * 1024
  /** Per-retained-row bookkeeping estimate on top of the row payload:
    * UnsafeRow object header + copy buffer slack + priority-queue slot +
    * hash-map entry. */
  val RowOverheadBytes: Long = 64L

  /** Pure derivation — unit-law-tested: the task's guaranteed execution
    * share (pool / 2·slots), floored at [[MinBytes]]. */
  def derivedPerTaskBytes(poolBytes: Long, slots: Int): Long =
    math.max(MinBytes, poolBytes / (2L * math.max(1, slots)))

  private val Local = """local(?:\[([0-9]+|\*).*\])?""".r
  private val LocalCluster = """local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,.*\]""".r

  /** Concurrent task slots on one executor: local[N] masters run N
    * in-JVM slots; otherwise executor cores / task cpus, where unset
    * executor cores mean the whole worker (local-cluster's `c`) or, as a
    * conservative fallback, availableProcessors. */
  def taskSlots(conf: org.apache.spark.SparkConf): Int = conf.get("spark.master", "") match {
    case Local(null) => 1
    case Local("*") => Runtime.getRuntime.availableProcessors()
    case Local(n) => n.toInt
    case master =>
      val cores = conf.getInt("spark.executor.cores", master match {
        case LocalCluster(_, c) => c.toInt
        case _ => Runtime.getRuntime.availableProcessors()
      })
      math.max(1, cores / math.max(1, conf.getInt("spark.task.cpus", 1)))
  }

  /** Configured executor count: one in local mode, local-cluster's worker
    * count, otherwise `spark.executor.instances` (default 1). */
  def executors(conf: org.apache.spark.SparkConf): Int = conf.get("spark.master", "") match {
    case Local(_) => 1
    case LocalCluster(n, _) => n.toInt
    case _ => math.max(1, conf.getInt("spark.executor.instances", 1))
  }

  /** The executor's on-heap unified pool, the exact arithmetic of
    * `UnifiedMemoryManager.getMaxMemory` (execution + storage pool sizes
    * always sum to this constant however the boundary moves; the pool
    * objects themselves are Scala-protected, so the derivation reads the
    * same executor-side inputs the manager was built from):
    * `spark.memory.fraction × (heap − 300 MB reserved)`. `heap` defaults to
    * this JVM's, which is the executor's when called inside a task. */
  def unifiedPoolBytes(conf: org.apache.spark.SparkConf,
                       heap: Long = Runtime.getRuntime.maxMemory()): Long = {
    val systemMemory = conf.getLong("spark.testing.memory", heap)
    val reserved = conf.getLong("spark.testing.reservedMemory", 300L * 1024 * 1024)
    val fraction = conf.getDouble("spark.memory.fraction", 0.6)
    math.max(0L, ((systemMemory - reserved) * fraction).toLong)
  }

  /** [[unifiedPoolBytes]] of one executor, derived on the driver: in local
    * mode the executor is this JVM; elsewhere its heap is
    * `spark.executor.memory`. */
  def executorPoolBytes(conf: org.apache.spark.SparkConf): Long = conf.get("spark.master", "") match {
    case Local(_) => unifiedPoolBytes(conf)
    case _ => unifiedPoolBytes(conf, conf.getSizeAsMb("spark.executor.memory", "1g") << 20)
  }
}

/** Bounded-heap per-key top-k. `partial = true` runs before the shuffle on
  * whatever partitioning arrives (map-side combine); the final copy
  * requires a clustered distribution on the keys, so EnsureRequirements
  * inserts exactly one hash exchange between the two — over at most
  * keys*k rows per upstream partition.
  *
  * MEMORY CONTRACT: the hash-of-heaps is bounded. Each task bounds the
  * RETAINED BYTES — actual `UnsafeRow.getSizeInBytes` plus a fixed
  * per-row overhead, keys included — at its derived fair share of the
  * executor's unified pool ([[TopKBudget.derivedPerTaskBytes]]), with
  * [[GraftStrategies.MaxRowsDefault]] as a row-count ceiling. The task
  * that exceeds the budget (distinct-key cardinality or row width beyond
  * it) falls back to Spark's spillable external sort — the pruned heap
  * contents plus the rest of the input are sorted by (keys, rank order) and
  * the first k rows of each key group are streamed out. The fallback is
  * LOSSLESS: a row evicted from its heap was strictly worse than k rows of
  * its key that stayed retained (the heap keeps the best k seen so far, and
  * retained rows are only ever replaced by better ones), so no evicted row
  * can belong to the final top k. Stock Spark bounds the same shape the
  * same way — hash aggregate falls back to sort-based aggregation, and the
  * window formulation this operator replaces sorts spillably; without the
  * fallback this was the one memory-unbounded structure in the engine.
  * The fallback path requires the key types to be orderable (true of every
  * practical grouping key; same requirement as Spark's own sort fallback).
  * `fallbackTasks` in the node's SQL metrics counts the tasks that took it.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean,
    testSpillFrequency: Int = 0,
    testPerTaskBytes: Long = 0L) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "fallbackTasks" -> SQLMetrics.createMetric(sparkContext,
      "tasks that fell back to spillable sort"))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortExprs = ordering
    val attrs = output
    val limit = k
    val spillFreq = testSpillFrequency
    val perTaskBytesOverride = testPerTaskBytes
    val schema = DataTypeUtils.fromAttributes(attrs)
    // planning-schema row-width estimate (variable-width columns count
    // defaultSize) — the byte charge for the rare non-Unsafe row
    val rowWidthEst = schema.defaultSize.toLong
    val fallbackTasks = longMetric("fallbackTasks")
    child.execute().mapPartitions { iter =>
      val conf = org.apache.spark.SparkEnv.get.conf
      val byteBudget: Long =
        if (perTaskBytesOverride > 0) perTaskBytesOverride
        else TopKBudget.derivedPerTaskBytes(
          TopKBudget.unifiedPoolBytes(conf), TopKBudget.taskSlots(conf))
      def rowBytes(r: InternalRow): Long = r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong + TopKBudget.RowOverheadBytes
        case _            => rowWidthEst + TopKBudget.RowOverheadBytes
      }
      val keyGen = UnsafeProjection.create(keyExprs, attrs)
      // codegen'd comparator; compare(a, b) < 0 means a ranks before b
      val ord = RowOrdering.create(sortExprs, attrs)
      // max-heap w.r.t. the rank order: head is the worst row currently kept
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var retained = 0L
      var retainedBytes = 0L
      var overflow = false
      while (iter.hasNext && !overflow) {
        val row = iter.next()
        heaps.get(keyGen(row)) match {
          case Some(heap) =>
            if (heap.size < limit) {
              heap.enqueue(row.copy()); retained += 1; retainedBytes += rowBytes(row)
            } else if (ord.compare(row, heap.head) < 0) {
              retainedBytes -= rowBytes(heap.dequeue())
              heap.enqueue(row.copy()); retainedBytes += rowBytes(row)
            }
          case None =>
            val heap = new mutable.PriorityQueue[InternalRow]()(ord)
            heap.enqueue(row.copy())
            val key = keyGen(row).copy()
            heaps.update(key, heap)
            retained += 1
            retainedBytes += rowBytes(row) + key.getSizeInBytes + TopKBudget.RowOverheadBytes
        }
        if (retained > GraftStrategies.MaxRowsDefault || retainedBytes > byteBudget)
          overflow = true
      }
      if (!overflow) heaps.iterator.flatMap(_._2.iterator)
      else {
        fallbackTasks += 1
        // Spill path: external-sort (heap remnants ++ remaining input) by
        // (keys asc, rank order), then stream each key group's first k rows.
        // Constant zero prefixes push every comparison to the full row
        // comparator — correct for arbitrary (multi-column) grouped orders.
        val groupedOrder: Seq[SortOrder] =
          keyExprs.map(SortOrder(_, Ascending)) ++ sortExprs
        val sortOrd = RowOrdering.create(groupedOrder, attrs)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
            zero.isNull = false; zero.value = 0L; zero
          }
        }
        // Page size from the executor's memory manager (what SortExec
        // passes) — read here inside the task so allocation granularity
        // follows the executor memory config, not a constant.
        val pageSize = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes
        val sorter = UnsafeExternalRowSorter.create(
          schema, sortOrd, PrefixComparators.LONG, prefixComputer,
          pageSize, /* canUseRadixSort = */ false)
        if (spillFreq > 0) {
          // package-private test hook (same one SortExec's tests use):
          // spill to disk every spillFreq records so the disk path is
          // law-testable without fabricating executor memory pressure.
          // Reached reflectively because it is package-private; pinned to
          // the Spark 4.1 signature, so fail with a named cause rather
          // than an opaque NoSuchMethodException if an upgrade moves it.
          val m =
            try classOf[UnsafeExternalRowSorter]
              .getDeclaredMethod("setTestSpillFrequency", classOf[Int])
            catch {
              case e: NoSuchMethodException => throw new IllegalStateException(
                s"${GraftStrategies.TestSpillFrequencyKey} > 0 needs the package-private " +
                  "UnsafeExternalRowSorter.setTestSpillFrequency(Int) test hook " +
                  "(present in Spark 4.1.x); this Spark build does not have it — " +
                  "unset the conf or restore the hook", e)
            }
          m.setAccessible(true)
          m.invoke(sorter, Integer.valueOf(spillFreq))
        }
        val toUnsafe = UnsafeProjection.create(attrs, attrs)
        heaps.valuesIterator.foreach(_.foreach(r => sorter.insertRow(toUnsafe(r))))
        heaps.clear()
        while (iter.hasNext) sorter.insertRow(toUnsafe(iter.next()))
        val sorted = sorter.sort()
        // The sorter's iterator reuses one row buffer per next(), so the
        // lookahead copies EMITTED rows only (≤ keys*k; skipped rows are
        // never copied).
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = _
          private var curCount = 0
          private var ready: InternalRow = _
          private def advance(): Unit = {
            ready = null
            while (ready == null && sorted.hasNext) {
              val row = sorted.next()
              val key = keyGen(row)
              if (curKey == null || key != curKey) {
                curKey = key.copy()
                curCount = 0
              }
              if (curCount < limit) { curCount += 1; ready = row.copy() }
            }
          }
          advance()
          override def hasNext: Boolean = ready != null
          override def next(): InternalRow = { val r = ready; advance(); r }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"
}
