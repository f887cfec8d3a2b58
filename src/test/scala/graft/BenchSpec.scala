package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The job-metrics recorder that Bench and Profile read: a query's record
  * must be exact as soon as the action returns (the listener bus is
  * asynchronous, so this needs the drain, not a sleep), and must hold only
  * the jobs of its own job group. */
class BenchSpec extends SparkSpec {

  private def withMetrics[T](f: JobMetrics => T): T = {
    val metrics = JobMetrics.attach(spark.sparkContext)
    try f(metrics) finally metrics.detach()
  }

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** One job of two stages: 3 map tasks write the shuffle, 2 reduce tasks read it. */
  private def twoStageJob(): Unit =
    spark.sparkContext.parallelize(1 to 1000, 3).map(i => (i % 7, 1L)).reduceByKey(_ + _, 2)
      .collect()

  test("a two-stage job's record is exact right after the action, with no sleep") {
    withMetrics { metrics =>
      val r = inGroup("bench:two-stage") {
        twoStageJob()
        Bench.RunStats(1.0, metrics.jobs(Some("bench:two-stage")))
      }
      assert(r.jobs == 1 && r.tasks == 5, r)
      assert(r.shuffleWrite > 0 && r.shuffleRead > 0, r)
    }
  }

  test("jobs of a previous job group are not counted in the next run's record") {
    withMetrics { metrics =>
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      BenchSpec.started = started; BenchSpec.release = release
      // a job of the previous run that is still running when the next starts
      val previous = Future(inGroup("bench:q:1") {
        spark.sparkContext.parallelize(Seq(1), 1).map { x =>
          BenchSpec.started.countDown(); BenchSpec.release.await(); x
        }.collect()
      })
      try {
        assert(started.await(60, SECONDS), "the previous run's job never started")
        metrics.reset()
        inGroup("bench:q:2")(twoStageJob())
      } finally release.countDown()
      Await.result(previous, 60.seconds)
      assert(metrics.jobs().map(_.group).sorted == Seq("bench:q:1", "bench:q:2"))
      assert(metrics.jobs(Some("bench:q:2")).map(_.tasks) == Seq(5))
    }
  }
}

object BenchSpec {
  // tasks run in this JVM (local mode) and reach the latches through here
  @volatile var started = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}
