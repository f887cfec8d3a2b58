package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the session-level configuration surface of the reference's
  * `BallistaConfig` (reference: ballista/core/src/config.rs:182-187 defaults
  * `ballista.shuffle.partitions`=16, `ballista.batch.size`=8192) mapped onto
  * Spark-native settings. Batch size is a no-op on Spark (row-based codegen
  * pipelines + columnar parquet reader handle this internally).
  *
  * Designed for cluster scale: AQE on (runtime re-plan, skew-join handling,
  * dynamic coalescing), broadcast threshold left at Spark default so small
  * dimension tables (region/nation/supplier at any SF) broadcast instead of
  * shuffling.
  */
object GraftSession {

  /** Config keys the reference exposes (ballista/core/src/config.rs:30-45) and
    * their Spark equivalents. Anything not listed is scheduler-internal in the
    * reference and native to Spark.
    */
  val configMapping: Map[String, String] = Map(
    "ballista.job.name" -> "spark.app.name",
    "ballista.shuffle.partitions" -> "spark.sql.shuffle.partitions",
    "ballista.optimizer.hash_join_single_partition_threshold" -> "spark.sql.autoBroadcastJoinThreshold",
    // the reference's three repartition toggles all decide "re-plan the
    // exchange at runtime?" — Spark's runtime re-planner is AQE
    "ballista.repartition.joins" -> "spark.sql.adaptive.enabled",
    "ballista.repartition.aggregations" -> "spark.sql.adaptive.enabled",
    "ballista.repartition.windows" -> "spark.sql.adaptive.enabled",
    "ballista.batch.size" -> "spark.sql.parquet.columnarReaderBatchSize",
    "ballista.parquet.pruning" -> "spark.sql.parquet.filterPushdown",
    "ballista.collect_statistics" -> "spark.sql.statistics.size.autoUpdate.enabled",
    // plugin jars (plugin/udf.rs dynamic loading) ride Spark's jar conf
    "ballista.plugin_dir" -> "spark.jars",
    // the Connect endpoint is the gRPC wire (flight_sql analog)
    "ballista.grpc.client.max_message_size" -> "spark.connect.grpc.maxInboundMessageSize"
  )

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // on by default under AQE, pinned explicitly: Zipf-skewed join keys
      // (token/bigram count joins, hot foreign keys) get their oversized
      // partitions split at runtime instead of stalling one reducer
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long (ns since epoch) and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate turns explode(ss) into a size(ss)>0 filter
      // that predicate-pushdown then rewrites in terms of ss's full defining
      // expression — re-evaluating the whole (interpreted, CSE-free) array
      // build once per row per element_at. Our generator inputs are never
      // empty, so the inferred filter only costs; measured 10x slowdown on
      // the shingle-explode dedup pipelines.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // ANSI SQL mode is a SESSION CONTRACT, not an inherited default
      // (round 14): every gated result is pinned under ANSI semantics —
      // arithmetic overflow and bad casts fail LOUD instead of silently
      // wrapping or nulling, which at 100 TB is the difference between a
      // failed job and a wrong answer nobody notices. Spark 4 defaults
      // ANSI on, but plenty of production clusters set
      // spark.sql.ansi.enabled=false in spark-defaults.conf; this pin
      // (plus the fail-fast check in getOrCreate, law-pinned by
      // AnsiContractSpec) keeps a host cluster's override from silently
      // changing query semantics under the engine.
      .config("spark.sql.ansi.enabled", "true")
      // custom-operator planner strategies (TopKPerKey) — the same conf line
      // a cluster deployment puts in spark-defaults.conf
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // JDBC/Thrift entry point (the reference's Flight SQL lifecycle,
      // scheduler/src/flight_sql.rs): connections share this session's
      // state, so tables registered through the API are queryable over
      // JDBC. Static conf — must be set before the session exists.
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.ui.enabled", "false")

  /** Get-or-create a configured session and register graft SQL functions.
    * Fails fast if the ANSI session contract could not be applied (see the
    * builder's ansi pin) — a session with ANSI off would run every gated
    * query under different arithmetic/cast semantics than the ones the
    * oracle verified. */
  def getOrCreate(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    val ansi = spark.conf.get("spark.sql.ansi.enabled", "true")
    require(ansi == "true",
      s"graft requires spark.sql.ansi.enabled=true (gated results are pinned under ANSI " +
        s"semantics: overflow/bad casts fail loud instead of silently wrapping); this " +
        s"session reads '$ansi' — remove the cluster override or set it back before use")
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.registerAll(spark)
    spark
  }

  /** The core count every main runs at: SPARK_GRAFT_CPUS, default this
    * host's cores. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** [[getOrCreate]] on local[n], n = [[localCores]], with one shuffle
    * partition per core. */
  def local(): SparkSession = { val c = localCores; getOrCreate(s"local[$c]", c) }
}
