package graftbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.io.Source
import scala.util.control.NonFatal

/** Closed-loop benchmark client: one thread runs registered queries back to
  * back on one local session, the way a caller of `SparkEntry.queries` would.
  *
  * Usage: `graftbench.Harness <plan file> <out dir>`. The plan file holds
  * `key=value` lines (see perfbench/run.py, which writes it):
  *  - `data`, `cores`, `trace` (0 or 1), `check` (directory the warm-up pass
  *    writes each result to, as parquet, for the oracle check);
  *  - `warmup` — the untimed warm-up pass, a comma-separated query order; it
  *    writes each result to `check`;
  *  - `pass` — one line per timed pass, run in order.
  *
  * Each query is constructed (`SparkEntry.queries(name)(spark, data)`) and
  * executed through the noop sink, as `graft.Bench` does, then the suite state
  * is cleared. Writes `result.json` (timings and context) and, when traced,
  * `spans.jsonl` (see [[Tracer]]) to the out dir.
  */
object Harness {

  final case class Exec(pass: Int, name: String, startMs: Double, endMs: Double,
      error: Option[String], rddsLeft: Int)

  def main(args: Array[String]): Unit = {
    val Array(planFile, outDir) = args
    val lines = Source.fromFile(planFile, "UTF-8").getLines().toVector
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    def one(k: String): String = lines.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"plan file has no '$k'"))
    def order(v: String): Vector[String] = v.split(',').map(_.trim).filter(_.nonEmpty).toVector
    val data = one("data")
    val cores = one("cores").toInt
    val traced = one("trace") == "1"
    val checkDir = one("check")
    val warmup = order(one("warmup"))
    val passes = lines.collect { case ("pass", v) => order(v) }
    require(passes.nonEmpty, "plan file has no 'pass'")

    val clock = new Clock
    val sessionStart = clock.nowMs()
    val spark = GraftSession.getOrCreate(s"local[$cores]", cores)
    val sessionEnd = clock.nowMs()
    graft.queries.SourcesDdl.cleanStaleScratch()
    val fns = SparkEntry.queries
    val unknown = (warmup ++ passes.flatten).distinct.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // The same hygiene graft.Bench applies between queries: cached tables and
    // checkpointed RDD blocks a query leaves behind would otherwise burden
    // every later query in the pass.
    def clearSuiteState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // Warm-up pass (numbered -1): untimed, untraced; each result lands as
    // parquet in checkDir so the oracle check reads exactly what the query
    // produced.
    val warmExecs = warmup.map { name =>
      val t0 = clock.nowMs()
      val err = try {
        fns(name)(spark, data).write.mode("overwrite").parquet(s"$checkDir/$name"); None
      } catch { case NonFatal(e) => Some(describe(e)) }
      val t1 = clock.nowMs()
      clearSuiteState()
      Exec(-1, name, t0, t1, err, 0)
    }
    val setupEnd = clock.nowMs()

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.span("session", "session", None, "", sessionStart, sessionEnd))

    def runQuery(pass: Int, name: String): Exec = {
      val qid = s"p$pass.$name"
      val t0 = clock.nowMs()
      var mid = Double.NaN
      val err = try {
        tracer.foreach(_.enter(s"$qid.construct"))
        val df: DataFrame = fns(name)(spark, data)
        mid = clock.nowMs()
        tracer.foreach(_.enter(s"$qid.execute"))
        df.write.mode("overwrite").format("noop").save()
        None
      } catch { case NonFatal(e) => Some(describe(e)) }
      val t1 = clock.nowMs()
      if (mid.isNaN) mid = t1 // construction itself threw
      tracer.foreach { t =>
        t.enter("")
        t.span(qid, "query", Some(s"pass$pass"), qid, t0, t1)
        t.span(s"$qid.construct", "construct", Some(qid), qid, t0, mid)
        t.span(s"$qid.execute", "execute", Some(qid), qid, mid, t1)
      }
      val left = spark.sparkContext.getPersistentRDDs.size
      clearSuiteState()
      Exec(pass, name, t0, t1, err, left)
    }

    val managed = new ManagedMemoryPeak
    val passSpans = Vector.newBuilder[(Int, Double, Double, Long)]
    val timedExecs = Vector.newBuilder[Exec]
    for ((names, i) <- passes.zipWithIndex; p = i + 1) {
      managed.takePeak()
      val ps = clock.nowMs()
      timedExecs ++= names.map(runQuery(p, _))
      val pe = clock.nowMs()
      passSpans += ((p, ps, pe, managed.takePeak()))
      tracer.foreach { t =>
        t.span(s"pass$p", "pass", None, "", ps, pe)
        t.drain() // between passes, outside every pass's wall time
      }
    }

    managed.stop()
    val oracle = (warmup ++ passes.flatten).distinct.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
        .getBytes(StandardCharsets.UTF_8))
    tracer.foreach(_.write(Paths.get(outDir, "spans.jsonl")))

    def execJson(e: Exec): String =
      s"""{"pass":${e.pass},"name":${Json.str(e.name)},"start_ms":${e.startMs},"end_ms":${e.endMs},""" +
        s""""error":${e.error.map(Json.str).getOrElse("null")},"rdds_left":${e.rddsLeft}}"""
    val result =
      s"""{"spark_version":${Json.str(spark.version)},"java_version":${Json.str(sys.props("java.version"))},""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"cores":$cores,""" +
        s""""session_start_ms":$sessionStart,"session_end_ms":$sessionEnd,"setup_end_ms":$setupEnd,""" +
        s""""peak_rss_kb":${vmHwmKb()},"committed_heap_mb":${Runtime.getRuntime.totalMemory / (1 << 20)},""" +
        s""""passes":${passSpans.result().map { case (i, s, e, mem) =>
          s"""{"pass":$i,"start_ms":$s,"end_ms":$e,"peak_managed_mb":${mem / 1048576.0}}""" }.mkString("[", ",", "]")},""" +
        s""""warmup":${warmExecs.map(execJson).mkString("[", ",", "]")},""" +
        s""""execs":${timedExecs.result().map(execJson).mkString("[", ",\n", "]")}}"""
    Files.write(Paths.get(outDir, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"

  /** Peak resident set of this JVM (driver and, in local mode, executors). */
  private def vmHwmKb(): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }
}

/** Peak of the memory Spark's memory manager has handed out (execution
  * memory of running tasks plus storage memory of cached and checkpointed
  * blocks and broadcasts), sampled every `periodMs`. Unlike VmHWM it sees
  * the program's use of the pre-touched heap, and unlike heap use after a
  * collection it leaves out garbage. It still varies from run to run: task
  * overlap sets the execution part, and broadcast blocks stay counted until
  * the context cleaner drops them after a collection. */
final class ManagedMemoryPeak(periodMs: Long = 5) {
  @volatile private var running = true
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private def used(): Long = org.apache.spark.GraftBenchBus.managedMemoryUsed()
  private val thread = new Thread(() => {
    while (running) {
      peak.accumulateAndGet(used(), math.max(_, _))
      Thread.sleep(periodMs)
    }
  }, "graftbench-memory")
  thread.setDaemon(true)
  thread.start()

  /** The peak since the last call (or since construction), in bytes. */
  def takePeak(): Long = math.max(peak.getAndSet(used()), used())

  def stop(): Unit = { running = false; thread.join() }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * the millisecond timestamps Spark's listener events carry. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
