package graft

/** Per-job profiler for local optimization work (guide §1: measure first).
  *
  * Runs one or more registered queries through the noop sink (after one
  * warmup) and prints every Spark job the run launched, as [[JobMetrics]]
  * recorded it — wall-clock, tasks, shuffle bytes, peak task memory and
  * executor run time — so the cost of an iterative operator can be
  * attributed to its rounds instead of guessed at.
  *
  * Usage: runMain graft.Profile <sfDir> <query>[,<query>...]
  * (SPARK_GRAFT_CPUS, default this host's cores). Bench remains the timing
  * authority.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val selected = SparkEntry.named(names)
    val spark = GraftSession.local()
    graft.queries.SourcesDdl.cleanStaleScratch()
    val metrics = JobMetrics.attach(spark.sparkContext)

    selected.foreach { case (name, fn) =>
      // warmup: plan + codegen + parquet footer caches, identical to Bench
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val group = s"profile:$name"
      metrics.reset()
      spark.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      val js = metrics.jobs(Some(group))
      println(f"==== $name%s: ${total}%.3f s, ${js.size}%d jobs ====")
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${j.sec}%7.3f s ${j.tasks}%5d tasks " +
          f"shufR ${j.shuffleRead / 1e6}%8.2f MB shufW ${j.shuffleWrite / 1e6}%8.2f MB " +
          f"peak ${j.peakTaskMem / 1e6}%8.2f MB run ${j.runMs / 1e3}%7.3f s")
      }
      println(f"  jobs-sum ${js.map(_.sec).sum}%.3f s (gaps = driver/planning time)")
    }
    spark.stop()
  }
}
