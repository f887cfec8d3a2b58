package graft

/** Plan inspector for local iteration: runs registered queries and prints
  * their AQE-final physical plans (collect() first, so reuse/stage info is
  * the real executed plan, not a re-plan — see .claude/skills/verify/SKILL.md).
  *
  * Usage: runMain graft.Explain <queryName>[,<queryName>...] <sfDir> [outDir]
  * (SPARK_GRAFT_CPUS, default this host's cores). With outDir, each plan is
  * also written to <outDir>/<name>.txt.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(names, sfDir) = args.take(2)
    val outDir = args.lift(2)
    val selected = SparkEntry.named(names)
    val spark = GraftSession.local()
    graft.queries.SourcesDdl.cleanStaleScratch()
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      println(s"==== executedPlan: $name ====")
      println(plan)
      outDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), plan + "\n")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
