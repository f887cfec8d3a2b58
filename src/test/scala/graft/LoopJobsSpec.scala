package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.operators.{Clustering, GraphOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative operators all run their rounds through
  * [[graft.operators.Lineage.fixpoint]] / [[graft.operators.Lineage.iterate]]:
  * these laws pin the loop's two observable contracts — the fail-loud round
  * cap, and the number of Spark jobs a loop runs (every truncation is an
  * eager checkpoint job and every convergence test a probe job, so a count
  * that moves means a checkpoint, probe or count was added or dropped).
  */
class LoopJobsSpec extends SparkSpec {

  private def edges(es: Seq[(Long, Long)], a: String, b: String): DataFrame =
    spark.createDataFrame(es).toDF(a, b)

  /** 0−1−…−9: BFS from 0 needs 10 relax rounds, a 2-core peel 5 rounds,
    * star contraction more than 2 rounds. */
  private def chain = edges((0L until 9L).map(i => (i, i + 1)), "u", "v")

  test("every fixpoint operator fails loudly at its round cap, naming itself and the cap") {
    val cap = 2
    val weighted = chain.withColumn("w", lit(1L))
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "bfsToFixpoint" -> (() => GraphOps.bfsToFixpoint(GraphOps.undirect(chain), _ === 0L, cap)),
      "ssspToFixpoint" -> (() =>
        GraphOps.ssspToFixpoint(GraphOps.undirect(weighted, "w"), _ === 0L, cap)),
      "kcoreToFixpoint" -> (() => GraphOps.kcoreToFixpoint(chain, k = 2, cap)),
      "connectedComponentsAlternating" -> (() =>
        Clustering.connectedComponentsAlternating(chain, "u", "v", cap)))
    for ((op, run) <- cases) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(op) && e.getMessage.contains(s"maxRounds = $cap"),
        s"$op: cap message was '${e.getMessage}'")
    }
  }

  /** Jobs started by `body`, counted by a listener between two marker
    * jobs: the listener bus delivers events in order, so once the end
    * marker's start event arrives every job `body` ran has been seen. */
  private def jobsOf(body: => Any): Int = {
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.put(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(tag: String): Int = {
      sc.setJobGroup(tag, tag, false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(groups.poll(60, TimeUnit.SECONDS))
        .map(g => Option(g).getOrElse(fail(s"listener never saw marker job $tag")))
        .takeWhile(_ != tag).size
    }
    sc.addSparkListener(listener)
    try {
      marker("loop-jobs-start")
      body
      marker("loop-jobs-end")
    } finally sc.removeSparkListener(listener)
  }

  test("loop job counts: no added checkpoint, probe or count job") {
    // the peel graph: a triangle with a 4-edge tail, which a 2-core peel
    // strips one node per round
    val tail = edges(Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)),
      "u", "v")
    val longChain = edges((0L until 199L).map(i => (i, i + 1)), "a", "b")
    val got = Map(
      "connectedComponentsAlternating" ->
        jobsOf(Clustering.connectedComponentsAlternating(longChain, "a", "b").collect()),
      "bfsToFixpoint" -> jobsOf(GraphOps.bfsToFixpoint(GraphOps.undirect(chain), _ === 0L).collect()),
      "kcoreToFixpoint" -> jobsOf(GraphOps.kcoreToFixpoint(tail, k = 2).collect()),
      "kcorePeel" -> jobsOf(GraphOps.kcorePeel(tail, k = 2, rounds = 3).collect()))
    // Measured under the shared local[4,2] session. The star-forest loop
    // lost its pre-round probe (its shuffle-map job plus its isEmpty job);
    // kcorePeel now truncates its own input, which its callers did before.
    val want = Map(
      "connectedComponentsAlternating" -> 54,
      "bfsToFixpoint" -> 89,
      "kcoreToFixpoint" -> 29,
      "kcorePeel" -> 11)
    assert(got == want)
  }
}
