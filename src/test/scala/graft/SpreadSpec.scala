package graft

import graft.operators.Spread
import graft.plans.TopKBudget
import org.apache.spark.SparkConf
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

/** `Spread` inserts one exchange whatever the scan's split count, at a
  * width derived from configuration alone. */
class SpreadSpec extends SparkSpec {

  private def width(master: String, shufflePartitions: Int, settings: (String, String)*): Int =
    Spread.width(new SparkConf(false).set("spark.master", master).setAll(settings),
      shufflePartitions)
  private def heap(bytes: Long) = "spark.testing.memory" -> bytes.toString

  test("width from configuration: full width unless the executor heap binds, then what fits") {
    // the benchmark's session: 3 GB heap, 4 slots, (3 GB - 300 MB) x 0.6 / 384 MB = 4 fit
    assert(width("local[4]", 4, heap(3L << 30)) == 4)
    // the test session
    assert(width("local[4,2]", 4, heap(7L << 30)) == 4)
    // 32 slots on one 8 GB heap: 12 tasks fit
    assert(width("local[32]", 32, heap(8L << 30)) == 12)
    // two 2-core executors of the default 1 GB executor memory, not the driver's heap:
    // 2 fit of 2 slots, so the full width 4
    assert(width("local-cluster[2,2,1536]", 4) == 4)
    // where the heap binds, more shuffle partitions than slots do not widen the spread:
    // the starved session of ConstrainedMemorySpec, whose ~394 MB pool fits 2 tasks
    assert(width("local[4]", 8, heap(8L << 30), "spark.memory.fraction" -> "0.05") == 2)
    // 200 partitions on 32 slots of one 8 GB heap: still the 12 that fit
    assert(width("local[32]", 200, heap(8L << 30)) == 12)
  }

  test("task slots per executor come from the master") {
    def slots(master: String) = TopKBudget.taskSlots(new SparkConf(false).set("spark.master", master))
    assert(slots("local") == 1)
    assert(slots("local[4,2]") == 4)
    assert(slots("local-cluster[2,2,1536]") == 2)
    assert(TopKBudget.executors(new SparkConf(false).set("spark.master", "local-cluster[2,2,1536]")) == 2)
  }

  test("a one-row-group scan that plans as several byte-splits still spreads to width busy tasks") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "256k")
    try {
      // sf0.01 lineitem: 1 MB in one row group, so 256 KB splits leave 3 of 4 empty
      val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
      val scan = spark.read.parquet(new java.io.File(sf001, "lineitem.parquet").getPath)
        .select(col("l_orderkey"), col("l_quantity"))
      val splitRows = scan.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(splitRows.length >= 2 && splitRows.count(_ > 0) == 1,
        s"precondition: several splits, one holding rows; got ${splitRows.mkString(",")}")

      val spread = Spread(scan, col("l_orderkey"))
      val origins = spread.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e.shuffleOrigin
      }
      assert(origins == Seq(REPARTITION_BY_NUM), spread.queryExecution.sparkPlan.toString)
      val width = Spread.width(spark.sparkContext.getConf,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val rows = spread.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(width >= 2 && rows.length == width && rows.count(_ > 0) == width,
        s"width $width, rows per partition ${rows.mkString(",")}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
