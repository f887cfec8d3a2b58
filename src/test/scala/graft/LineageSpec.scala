package graft

import graft.operators.{Clustering, GraphOps, Lineage}
import org.apache.spark.sql.functions._

/** The reliable-checkpoint mode of [[graft.operators.Lineage]]: every
  * iterative tier truncates lineage through `Lineage.truncate`, which is
  * `localCheckpoint` by default (executor-storage blocks — fastest, but on
  * a real cluster a lost executor kills the job because the truncated
  * lineage can't recompute the blocks) and durable `checkpoint()` under
  * `spark.graft.checkpoint.reliable=true` + a configured checkpoint dir
  * (executor loss degrades to a re-read of the last round). Results must be
  * identical either way — the mode only changes where the round state
  * lives.
  */
class LineageSpec extends SparkSpec {

  // declared (= run) first: once a checkpoint dir is set on the shared
  // SparkContext it cannot be unset, so the fail-fast contract is only
  // observable before the round-trip test below configures one
  test("reliable mode without a checkpoint dir fails fast with the conf key") {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Lineage.ReliableKey, "true")
      try {
        val e = intercept[IllegalArgumentException](
          Lineage.truncate(spark.range(3).toDF("x")))
        assert(e.getMessage.contains(Lineage.ReliableKey))
      } finally spark.conf.unset(Lineage.ReliableKey)
    }
  }

  private def withReliable[A](dir: String)(body: => A): A = {
    spark.conf.set(Lineage.ReliableKey, "true")
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally {
      spark.conf.unset(Lineage.ReliableKey)
      prev.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("graph fixpoints under reliable checkpointing: identical results, durable round state") {
    val rng = new scala.util.Random(31)
    val edges = spark.createDataFrame(
      (0 until 300).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter(e => e._1 != e._2))
      .toDF("u", "v")
    val und = GraphOps.undirect(edges)

    def bfsRun(): Set[(Long, Long)] =
      GraphOps.bfsToFixpoint(und, _ % 7 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ccRun(): Set[(Long, Long)] =
      Clustering.connectedComponentsAlternating(edges, "u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val (bfsLocal, ccLocal) = (bfsRun(), ccRun())
    val ckDir = java.nio.file.Files.createTempDirectory("graft-reliable-ck").toString
    val (bfsReliable, ccReliable) = withReliable(ckDir)((bfsRun(), ccRun()))

    assert(bfsReliable == bfsLocal && bfsReliable.nonEmpty)
    assert(ccReliable == ccLocal && ccReliable.nonEmpty)
    // the durable round state actually landed in the configured dir
    val persisted = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(persisted > 0, s"no reliable checkpoints written under $ckDir")
  }
}
