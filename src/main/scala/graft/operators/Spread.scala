package graft.operators

import graft.plans.TopKBudget
import org.apache.spark.SparkConf
import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism floor for CPU-heavy row work (optimization guide §2.5
  * "repartition immediately after the read", §2.2 map-task sizing).
  *
  * Expensive per-row work — tokenize, shingle, md5, JSON parse, a decimal
  * partial aggregate — runs in whatever stage contains it. When that stage
  * is the parquet scan of a one-row-group file (every local sf table; at
  * cluster scale any unsplittable or skewed input), the work runs as ONE
  * task whatever the core count. The scan's split count cannot tell this
  * case apart: a 10.8 MB one-row-group lineitem plans as 3 byte-splits of
  * which only one holds rows.
  *
  * `Spread(df, key)` therefore always inserts exactly one exchange,
  * `df.repartition(width, key)`, below the work. Callers pass the narrow
  * projected rows (ids plus the columns the work reads), the cheapest bytes
  * the pipeline ever shuffles — 3–5x smaller than the exploded shingle/gram
  * rows these pipelines already exchange. The explicit partition count keeps
  * AQE's byte-targeted coalescer off (a REPARTITION_BY_NUM exchange is never
  * coalesced), since these stages are CPU-bound, not byte-bound. Hash
  * partitioning on a key is deterministic, so retries and speculation see
  * the same rows (unlike rand-derived keys, guide §2.5).
  *
  * The width comes from configuration alone — no probe of the plan, no read
  * of live cluster state:
  *   - full  = max(spark.default.parallelism, spark.sql.shuffle.partitions),
  *     the parallelism defaulting to executors × slots from the master;
  *   - slots = concurrent tasks per executor ([[TopKBudget.taskSlots]]);
  *   - fit   = max(2, executor unified pool / 384 MB): how many tasks'
  *     transient state (shingle/token explodes, per-element array builds)
  *     one executor's pool holds at once. The pool is this JVM's heap in
  *     local mode and `spark.executor.memory` elsewhere
  *     ([[TopKBudget.executorPoolBytes]]); 384 MB is the worst pipeline's
  *     measured peak task footprint (ded_phash, 343 MB) with headroom;
  *   - width = full when fit ≥ slots, else max(2, min(full, executors × fit)).
  * Where memory does not bind the width is the full width: local[4] with
  * 3 GB → 4, local-cluster[2,2,1536] → 4. Where it binds, the width caps
  * the stage's tasks, and so the tasks running at once, at what the pools
  * hold, however many shuffle partitions are configured: at local[32] on
  * one 8 GB heap, 32 concurrent explode tasks ran ded_phash at 7.76 s where
  * 8 ran it at 0.80 s; the width there is 12.
  *
  * Salted keys: a caller that keeps its own `repartition(col(k))` above the
  * work, as one exchange shared by several consumers, passes a hash of the
  * key (`xxhash64(col(k))`) instead of `col(k)`. Spreading by `k` itself
  * would already satisfy that exchange's partitioning, the optimizer would
  * remove it, and the work would run once per consumer again; the hash keeps
  * the two partitionings distinct. */
object Spread {

  def apply(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    df.repartition(
      width(spark.sparkContext.getConf, spark.conf.get("spark.sql.shuffle.partitions").toInt), key)
  }

  private val TaskBytes = 384L << 20

  private[graft] def width(conf: SparkConf, shufflePartitions: Int): Int = {
    val slots = TopKBudget.taskSlots(conf)
    val full = math.max(shufflePartitions,
      conf.getInt("spark.default.parallelism", TopKBudget.executors(conf) * slots))
    val fit = math.max(2L, TopKBudget.executorPoolBytes(conf) / TaskBytes)
    if (fit >= slots) full
    else math.max(2L, math.min(full.toLong, TopKBudget.executors(conf) * fit)).toInt
  }
}
