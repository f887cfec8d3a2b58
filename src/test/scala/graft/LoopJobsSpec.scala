package graft

import graft.operators.{Clustering, GraphOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative operators all run their rounds through
  * [[graft.operators.Lineage.fixpoint]] / [[graft.operators.Lineage.iterate]]:
  * these laws pin the loop's two observable contracts — the fail-loud round
  * cap, and the number of Spark jobs a loop runs (every truncation is an
  * eager checkpoint job and every convergence test a probe job, so a count
  * that moves means a checkpoint, probe or count was added or dropped).
  * The counts come from [[JobMetrics]], so this is a check of the recorder
  * too. The same counter pins the dedup operators, which have no loop, at
  * zero jobs during DataFrame construction.
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

  /** Jobs run by `body`, as the job-metrics recorder counts them. */
  private def jobsOf(body: => Any): Int = {
    val metrics = JobMetrics.attach(spark.sparkContext)
    try { body; metrics.jobs().size } finally metrics.detach()
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
    // lost its pre-round probe (its shuffle-map job plus its isEmpty job)
    // and then the checkpoint of its node set, which only the final join
    // reads; kcorePeel now truncates its own input, which its callers did
    // before.
    val want = Map(
      "connectedComponentsAlternating" -> 53,
      "bfsToFixpoint" -> 89,
      "kcoreToFixpoint" -> 29,
      "kcorePeel" -> 11)
    assert(got == want)
  }

  test("building a dedup query runs no job beyond loading its documents") {
    // loading the table runs its schema inference; construction adds none
    val load = jobsOf(Tables.documents(spark, sfDir))
    for (name <- Seq("ded_exact", "ded_edit", "ded_minhash", "ded_ngram", "ded_prefix",
        "ded_contain", "ded_winnow", "ded_simhash", "ded_phash"))
      assert(jobsOf(SparkEntry.queries(name)(spark, sfDir)) == load, name)
  }

  test("HITS construction runs as many jobs at rounds = 6 as at rounds = 2") {
    // an 80x80 complete bipartite core: its scores overflow 64 bits by
    // rounds = 6, which execution reports; construction runs only the
    // input checkpoint at any round count
    def bip = edges(for (s <- 1L to 80L; d <- 81L to 160L) yield (s, d), "src", "dst")
    val two = jobsOf(GraphOps.hits(bip, rounds = 2))
    assert(jobsOf(GraphOps.hits(bip, rounds = 6)) == two)
  }
}
