package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation for the iterative tiers (graph fixpoints, connected
  * components, BPE training, k-core peeling). Every loop in the engine must
  * cut its lineage once per round — without it the logical plan grows
  * geometrically (each round references the previous round's DataFrame
  * several times) and re-analysis cost explodes. The round loops themselves
  * live here too ([[fixpoint]], [[iterate]]), so the truncation and the
  * fail-loud round cap are written once; BPE training
  * (`Curation.bpeTrainRounds`) keeps its own loop because it collects and
  * accumulates per-round output.
  *
  * Two modes, chosen per session:
  *
  *  - DEFAULT (`spark.graft.checkpoint.reliable` unset/false):
  *    `localCheckpoint()` — blocks live in executor storage only. Fastest,
  *    and the right call on a single machine, but on a cluster a lost
  *    executor loses blocks that have no lineage left to recompute them:
  *    the job fails instead of degrading. (The reference engine has the
  *    same trade — its shuffle files die with the executor and the
  *    scheduler rolls back whole stages, scheduler `rollback_resolved_
  *    shuffles`.)
  *  - RELIABLE (`spark.graft.checkpoint.reliable=true` + a checkpoint dir
  *    via `sparkContext.setCheckpointDir`, pointed at the cluster's fault-
  *    tolerant store): `checkpoint()` — each round persists durably, so at
  *    100-TB executor churn a lost executor degrades to a re-read of the
  *    last round instead of a failed job. Opt-in because the durable write
  *    costs a full round-trip of the iteration state per round.
  */
object Lineage {
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Cuts `df`'s lineage. A DataFrame that is already a checkpoint of the
    * session's mode comes back as is, so an operator can truncate what it
    * iterates over without costing a caller that already did. */
  def truncate(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf.get(ReliableKey, "false").toBoolean
    if (reliable)
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir(<fault-tolerant path>)")
    val truncated = df.queryExecution.logical match {
      case r: LogicalRDD =>
        if (reliable) r.rdd.getCheckpointFile.isDefined else r.rdd.isCheckpointed
      case _ => false
    }
    if (truncated) df else if (reliable) df.checkpoint() else df.localCheckpoint()
  }

  /** Runs `step` from `init` until `done(summary(prev), summary(next))`
    * holds and returns that `next`. `init` and every round's output are
    * truncated before `summary` sees them, and `summary` runs once per
    * state, so a summary that is a job (a row count) is not repeated for
    * the previous round. Fails loudly, naming `op` and the cap, when
    * `maxRounds` rounds end without a fixpoint. */
  def fixpoint[S](op: String, init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      summary: DataFrame => S)(done: (S, S) => Boolean): DataFrame = {
    @tailrec def loop(prev: DataFrame, prevSummary: S, round: Int): DataFrame = {
      require(round < maxRounds, s"$op: no fixpoint after maxRounds = $maxRounds rounds")
      val next = truncate(step(prev))
      val nextSummary = summary(next)
      if (done(prevSummary, nextSummary)) next else loop(next, nextSummary, round + 1)
    }
    val start = truncate(init)
    loop(start, summary(start), 0)
  }

  /** Exactly `rounds` applications of `step` to `init`, truncating `init`
    * and every round's output. */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(truncate(init))((state, _) => truncate(step(state)))
}
