package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions: the properties that make these queries scale —
  * filter/projection pushdown into the parquet scan, broadcast joins for
  * dimension tables, two-phase (partial/final) aggregation. The equivalent
  * of the reference's distributed-planner expectations
  * (reference: scheduler/src/planner.rs:332-648), re-targeted at Catalyst.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.mode("overwrite").format("noop").save() // let AQE finalize
    df.queryExecution.executedPlan.toString
  }

  private def optimizedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = SparkEntry.queries("q1")(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("l_shipdate"), plan.take(2000))
  }

  test("q1: scan reads only the columns the query needs") {
    val plan = SparkEntry.queries("q1")(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("l_orderkey"), "column pruning failed: l_orderkey read but unused")
  }

  test("q1: aggregation is two-phase (partial then final)") {
    val plan = SparkEntry.queries("q1")(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), "no map-side partial aggregation in plan")
  }

  test("q5: dimension joins broadcast (no shuffle of nation/region)") {
    val plan = SparkEntry.queries("q5")(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "expected broadcast join for dimension tables")
  }

  test("q3: top-k sort compiles to TakeOrderedAndProject") {
    val plan = SparkEntry.queries("q3")(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "limit+sort should be top-k, not global sort")
  }

  test("q4: EXISTS compiles to a semi join") {
    val plan = optimizedPlan("q4")
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("q16: NOT IN compiles to an anti join") {
    val plan = optimizedPlan("q16")
    assert(plan.contains("LeftAnti"), plan.take(2000))
  }

  test("ded_exact: single shuffle keyed by content hash") {
    val df = SparkEntry.queries("ded_exact")(spark, sfDir)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 2, s"expected at most agg+sort exchanges, got $exchanges")
  }

  test("ded_minhash: candidate generation is a keyed join, never a cartesian") {
    val plan = executedPlan("ded_minhash")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "minhash LSH must join on (band, key), not cross-join")
    // the signature is one per-row kernel: no shingle explode, no min-aggregate
    assert(plan.contains("graft_minhash("), "signatures should come from the native kernel")
    assert(!plan.linesIterator.exists(l => l.contains("Filter") && l.contains("graft_minhash(")),
      "a filter on the signature would run the kernel a second time in the scan stage")
    assert(!plan.contains("partial_min"), "no signature min-aggregate should remain")
    val generates = plan.linesIterator.filter(_.contains("Generate ")).toSeq
    assert(generates.nonEmpty && generates.forall(_.contains("struct(band")),
      "the only Generate should explode band keys, not shingles:\n" + generates.mkString("\n"))
  }

  test("shingle pipelines carry no re-inlined generate filter") {
    // InferFiltersFromGenerate is excluded in GraftSession: its size(ss)>0
    // filter gets rewritten through the projection into a full re-evaluation
    // of the shingle build per row (measured 10x). Guard the exclusion.
    for (name <- Seq("ded_minhash", "ded_ngram")) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.toString
      assert(!plan.contains("size(array_distinct"),
        s"$name: inferred generate filter re-inlines the shingle expression")
    }
  }

  test("sim_ivf: centroid assignment broadcasts the centroid side") {
    val plan = executedPlan("sim_ivf")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange")
      || plan.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast, not shuffle the corpus")
  }

  test("join_hints: PARTITIONED mode maps to a shuffled hash join") {
    val plan = SparkEntry.queries("join_hints")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), "shuffle_hash hint should force SHJ")
    assert(plan.contains("BroadcastHashJoin"), "broadcast hint should force BHJ for nation")
  }

  test("snk_partitioned: the filter becomes a partition filter, not a row filter") {
    val df = SparkEntry.queries("snk_partitioned")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      "partition pruning did not engage: " + plan.take(1500))
  }

  test("snk_bucketed: the bucketed join plans without any exchange") {
    val df = SparkEntry.queries("snk_bucketed")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val joinSection = plan.linesIterator.dropWhile(!_.contains("SortMergeJoin")).mkString("\n")
    assert(!joinSection.contains("Exchange hashpartitioning"),
      "bucketed join should not shuffle either side:\n" + plan.take(2000))
  }

  test("skew_join: the salt participates in the join keys") {
    val df = SparkEntry.queries("skew_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("_salt"),
      "salt column must be part of the join keys:\n" + plan.take(2000))
  }

  test("src_custom: id range + projection are pushed into the custom DSv2 scan") {
    val df = SparkEntry.queries("src_custom")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSeq"), plan.take(2000))
    // WHERE id >= 1000 AND id < 3000 must narrow the generated range...
    assert(plan.contains("lo=1000") && plan.contains("hi=3000"), plan.take(2000))
    // ...and the never-read pad column must not reach the reader
    assert(!plan.contains("pad"), "column pruning failed: pad in scan\n" + plan.take(2000))
  }

  test("smp_stratified: deterministic sampling is a pure scan+filter, no shuffle") {
    val df = SparkEntry.queries("smp_stratified")(spark, sfDir)
    val pre = df.queryExecution.executedPlan.toString
    // the only exchange allowed is the final presentation orderBy
    val exchanges = pre.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"sampling should not shuffle data, got $exchanges exchanges:\n" + pre.take(1500))
  }

  test("pack_tokens: the packing window is keyed by lang, never a global sort") {
    val plan = SparkEntry.queries("pack_tokens")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windowLine = plan.linesIterator.find(_.trim.matches(".*Window .*")).getOrElse("")
    assert(windowLine.contains("lang"),
      "window must partition by lang (a global window serializes at scale):\n" + plan.take(2000))
  }

  test("sim_kmeans: centroids broadcast on every iteration; no plain cartesian") {
    val plan = executedPlan("sim_kmeans")
    assert(!plan.contains("CartesianProduct"),
      "kmeans assignment must broadcast centroids:\n" + plan.take(2000))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      "expected broadcast of the k-row centroid side:\n" + plan.take(2000))
  }

  test("ded_cluster: component iterations use keyed joins, never a cartesian") {
    val plan = executedPlan("ded_cluster")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("cur_funnel: stage joins are keyed on doc_id, never a cartesian") {
    val plan = executedPlan("cur_funnel")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("txt_heavyhitters: the one-row sketch broadcasts; counts partial-aggregate") {
    val plan = executedPlan("txt_heavyhitters")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      "the single-row sketch must broadcast to the exact counts:\n" + plan.take(1500))
    assert(plan.contains("partial_count"), "exact counts must combine map-side")
  }

  test("txt_topterms: two-phase agg with map-side combine, top-k not global sort") {
    val plan = SparkEntry.queries("txt_topterms")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), "term counts must combine map-side:\n" + plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), "top-20 should be top-k:\n" + plan.take(1500))
  }

  test("txt_decontaminate: the eval-gram side broadcasts into a semi join") {
    val plan = executedPlan("txt_decontaminate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "training grams must stream through a broadcast semi join (eval side is small):\n" +
        plan.take(1500))
  }

  test("cls_quality: per-row scoring needs no keyed shuffle") {
    // The computation itself must not REQUIRE a keyed exchange
    // (ENSURE_REQUIREMENTS). The round-14 Spread.ifNarrow repartition
    // (REPARTITION_BY_NUM, a no-op on wide scans) is an optional
    // parallelism floor, not a semantic shuffle, and is allowed.
    val plan = executedPlan("cls_quality")
    val required = plan.linesIterator
      .filter(_.contains("hashpartitioning")).filter(_.contains("ENSURE_REQUIREMENTS"))
    assert(required.isEmpty,
      "classifier scoring is per-row; only the final sort (and the optional " +
        "scan-parallelism spread) may exchange:\n" + plan.take(1500))
  }

  test("evt_retention: cohort assignment and matrix both partial-aggregate") {
    val plan = executedPlan("evt_retention")
    assert(plan.contains("partial_min") || plan.contains("partial_first"),
      "cohort min(date) must combine map-side:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("ded_semantic: cell assignment broadcasts centroids; pair join keyed, no cartesian") {
    val plan = executedPlan("ded_semantic")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      "centroid side must broadcast:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"),
      "within-cell pairs must come from a keyed join on cell_id:\n" + plan.take(1500))
  }

  test("txt_lmscore: count tables partial-aggregate; no cartesian in the LM joins") {
    val plan = executedPlan("txt_lmscore")
    assert(plan.contains("partial_count"),
      "unigram/bigram counting must combine map-side:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("smp_mixture: quota side broadcasts onto the ranked stream") {
    val plan = executedPlan("smp_mixture")
    assert(plan.contains("BroadcastHashJoin"),
      "the domain-bounded quota table must broadcast:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("ded_spans: span counting partial-aggregates; flag join keyed, no cartesian") {
    val plan = executedPlan("ded_spans")
    assert(plan.contains("partial_count"),
      "span frequency must combine map-side:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("txt_chunks: chunking is a pure per-row generate, no keyed shuffle") {
    val plan = executedPlan("txt_chunks")
    assert(!plan.contains("hashpartitioning"),
      "chunk expansion is per-row; only the final sort may exchange:\n" + plan.take(1500))
  }

  test("cur_funnel2: stage joins are keyed on doc_id, never a cartesian") {
    val plan = executedPlan("cur_funnel2")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("partial_count"),
      "funnel counts must combine map-side:\n" + plan.take(1500))
  }

  test("agg_pivot: pivot rewrites to one two-phase aggregate, no per-value scans") {
    val plan = executedPlan("agg_pivot")
    assert(plan.contains("partial_"),
      "pivot must combine map-side (single-pass CASE aggregation):\n" + plan.take(1500))
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"pivot re-scanned the table ($scans scans):\n" + plan.take(1500))
  }

  test("agg_unpivot: unpivot is a pipelined Expand, not a join or union of scans") {
    val plan = executedPlan("agg_unpivot")
    assert(plan.contains("Expand"), "unpivot should compile to Expand:\n" + plan.take(1500))
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"unpivot re-scanned the table ($scans scans):\n" + plan.take(1500))
  }

  test("join_lateral: correlated lateral decorrelates to a keyed join, no nested loop") {
    val plan = executedPlan("join_lateral")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "lateral must decorrelate, not re-execute per row:\n" + plan.take(1500))
    assert(plan.contains("partial_count"),
      "decorrelated aggregate must combine map-side:\n" + plan.take(1500))
  }

  test("evt_hop: sliding windows assign via Expand in the scan stage, no join") {
    val plan = executedPlan("evt_hop")
    assert(plan.contains("Expand"), "hop assignment should be an Expand:\n" + plan.take(1500))
    assert(plan.contains("partial_count"), "hop counts must combine map-side:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      "window assignment must not join:\n" + plan.take(1500))
  }

  test("sql_recursive: spine runs as UnionLoop; the monthly agg still partial-aggregates") {
    val plan = executedPlan("sql_recursive")
    assert(plan.contains("UnionLoop"), "recursive CTE should plan as UnionLoop:\n" + plan.take(1500))
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "per-month aggregate under the spine join must combine map-side:\n" + plan.take(1500))
  }

  test("win_ignulls: forward-fill is one keyed window, no extra shuffle or join") {
    val plan = executedPlan("win_ignulls")
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("Join"), "carry-forward must not rewrite to a join:\n" + plan.take(1500))
    // one shuffle for the user_id partitioning (plus AQE reads); never two keyed exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most one keyed exchange, got $exchanges:\n" + plan.take(2000))
  }

  test("txt_bpe_pairs: pair counting partial-aggregates and top-k avoids a global sort") {
    val plan = executedPlan("txt_bpe_pairs")
    assert(plan.contains("partial_"), "word/pair counts must combine map-side:\n" + plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-30 pairs should be TakeOrdered, not Sort+Limit:\n" + plan.take(1500))
  }

  test("txt_bm25: corpus scalars broadcast onto the scored stream; top-k is TakeOrdered") {
    val plan = executedPlan("txt_bm25")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "single-row scalar joins must broadcast:\n" + plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), "scalar joins must not be cartesian:\n" + plan.take(2000))
  }

  test("smp_weighted: sampling never shuffles the corpus; top-k merges per-partition heaps") {
    val plan = executedPlan("smp_weighted")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "weighted sampling must be per-row + TakeOrdered, no keyed shuffle:\n" + plan.take(1500))
  }

  test("proj_exclude: excluded columns never reach the scan") {
    val plan = executedPlan("proj_exclude")
    assert(!plan.contains("text") && !plan.contains("source"),
      "EXCLUDE must prune the scan schema (text dominates table bytes):\n" + plan.take(1500))
  }

  test("evt_streaks: typed mapGroups shuffles once on user_id, no join") {
    val plan = executedPlan("evt_streaks")
    assert(plan.contains("MapGroups"), plan.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one keyed exchange, got $exchanges:\n" + plan.take(2000))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("agg_argminmax: greatest-per-group is one aggregation pass, no self-join") {
    val plan = executedPlan("agg_argminmax")
    assert(plan.contains("partial_"), "max_by must partial-aggregate map-side:\n" + plan.take(1500))
    assert(!plan.contains("Join"), "MAX_BY exists to avoid the agg+self-join idiom:\n" + plan.take(1500))
  }

  test("sim_hardneg: query side broadcasts; band filter runs below the rank window") {
    val plan = executedPlan("sim_hardneg")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "3-row query side must broadcast:\n" + plan.take(2000))
    assert(plan.contains("Window"), plan.take(1500))
    // the band filter must appear under the window (fewer rows sorted per query)
    val wIdx = plan.indexOf("Window")
    assert(plan.indexOf("Filter", wIdx) > wIdx,
      "score-band filter should prune before ranking:\n" + plan.take(2000))
  }

  test("ded_edit: blocked self-join is keyed, never a cartesian") {
    val plan = optimizedPlan("ded_edit")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("agg_histogram: bucket aggregation is two-phase") {
    val plan = SparkEntry.queries("agg_histogram")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), "no map-side partial aggregation in plan")
  }

  test("src_range: generator plan reads no files") {
    val plan = SparkEntry.queries("src_range")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Range"), plan.take(1000))
    assert(!plan.contains("FileScan"), "range generator must not scan data")
  }

  test("evt_gapfill: spine explode sits above the per-type span aggregate") {
    // the generator's input is the tiny (event_type, d0, d1) aggregate —
    // two-phase agg below a Generate node, never an explode of raw events
    val plan = optimizedPlan("evt_gapfill")
    assert(plan.contains("Generate explode"), plan.take(2000))
    assert(plan.indexOf("Generate explode") < plan.indexOf("Relation"),
      "explode should sit above the aggregated span, not the raw scan")
  }

  test("ded_url: canonicalization dedups on one keyed exchange, no join") {
    val plan = executedPlan("ded_url")
    assert(plan.contains("partial_"), "canon groupBy must partial-aggregate map-side:\n" + plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one keyed exchange, got $exchanges:\n" + plan.take(2000))
  }

  test("win_mad: per-type median/MAD stats broadcast back onto events") {
    val plan = executedPlan("win_mad")
    assert(plan.contains("BroadcastHashJoin"),
      "tiny per-type stats must broadcast, never shuffle events:\n" + plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("ObjectHashAggregate"),
      "exact medians must use the spillable value-domain window, not " +
        "per-group buffering:\n" + plan.take(2000))
  }

  test("fn_struct: struct build/serialize is per-row, no shuffle-by-key or join") {
    val plan = executedPlan("fn_struct")
    assert(!plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "per-row struct projection must not shuffle by key:\n" + plan.take(1500))
  }

  test("dq_checks: validation is conditional aggregation + anti-join, never a sort or wide join") {
    val plan = executedPlan("dq_checks")
    assert(plan.contains("partial_"), "checks must partial-aggregate map-side:\n" + plan.take(1500))
    assert(plan.contains("LeftAnti"), "referential check must compile to an anti join:\n" + plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("dq_profile: each column profiles over a pruned single-column scan") {
    val plan = executedPlan("dq_profile")
    assert(!plan.contains("o_orderdate"),
      "column pruning failed: unprofiled o_orderdate read:\n" + plan.take(2000))
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("Expand"),
      "per-column profiling exists to avoid the multi-distinct Expand:\n" + plan.take(2000))
  }

  test("smp_split: hash split is per-row; only the audit count shuffles") {
    val plan = executedPlan("smp_split")
    assert(!plan.contains("Join"), plan.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one keyed exchange, got $exchanges:\n" + plan.take(2000))
  }

  test("cls_zorder: interleave is per-row codegen; bucket stats are one keyed agg") {
    val plan = executedPlan("cls_zorder")
    assert(!plan.contains("Join"), plan.take(1500))
    assert(plan.contains("partial_"), plan.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one keyed exchange, got $exchanges:\n" + plan.take(2000))
  }

  test("graph_pagerank: iterations are keyed shuffles ending in top-k, never a global sort") {
    val plan = executedPlan("graph_pagerank")
    assert(plan.contains("TakeOrderedAndProject"),
      "rank output must be top-k, not a full sort:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("partial_sum"),
      "contribution sums must partial-aggregate map-side:\n" + plan.take(2000))
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan at runtime") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.Tables.orders(spark, sfDir)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
    val fact = spark.read.parquet(p)
    // the dim must come from a file scan: a Seq-backed local relation gets
    // its filter constant-folded away, and DPP requires a surviving
    // selective Filter node on the build side
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3))
      .toDF("pri", "grp").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"grp" === 1)
    val joined = fact.join(dim, fact("o_orderpriority") === dim("pri"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a runtime partition filter on the fact scan:\n" + plan.take(2500))
  }

  test("udtf_ngrams: generator rows stream into the partial aggregation") {
    val plan = executedPlan("udtf_ngrams")
    assert(plan.contains("Generate graft_ngrams"),
      "the custom Generator should plan as a Generate node:\n" + plan.take(2000))
    assert(plan.contains("partial_count"),
      "grams must partial-aggregate map-side before the shuffle:\n" + plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must be top-k, not a global sort:\n" + plan.take(2000))
  }

  test("topk_group: custom operator plans two-phase around one keyed exchange, no Window/Sort rank") {
    val plan = executedPlan("topk_group")
    assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
      "expected both phases of the custom operator:\n" + plan.take(2500))
    assert(!plan.contains("Window"),
      "top-k must not fall back to a row_number window:\n" + plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one keyed exchange between the phases, got $exchanges:\n" + plan.take(2500))
    // the partial phase must sit BELOW the exchange (map-side combine)
    val pIdx = plan.indexOf("TopKPerKeyPartial")
    val eIdx = plan.indexOf("Exchange hashpartitioning")
    assert(eIdx >= 0 && pIdx > eIdx,
      "partial top-k should run before the shuffle:\n" + plan.take(2500))
  }

  test("cdc_apply: change-log merge plans through the bounded-heap operator, not a window") {
    val plan = executedPlan("cdc_apply")
    assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
      "latest-per-key must run on the heap operator:\n" + plan.take(2500))
    assert(!plan.contains("Window"),
      "the merge must not sort-shuffle every change row through a window:\n" + plan.take(2000))
  }

  test("TopKRewrite: the DISTINCT ON window idiom auto-rewrites to the heap operator") {
    // sort_distinct_on is written as row_number()=1 over a window — the
    // injected optimizer rule should plan it as TopKPerKey with no Window
    // node and no per-key sort anywhere in the plan
    val plan = executedPlan("sort_distinct_on")
    assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
      "row_number()=1 + drop(rn) should rewrite to TopKPerKey:\n" + plan.take(2500))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("TopKRewrite: unsafe shapes keep their Window") {
    import spark.implicits._
    val df = (0 until 60).map(i => (s"k${i % 3}", i.toLong)).toDF("key", "id")
    df.createOrReplaceTempView("tkr_t")
    // rank() admits >k rows under ties — must not rewrite
    val rank = spark.sql(
      """SELECT key, id FROM (
        |  SELECT key, id, rank() OVER (PARTITION BY key ORDER BY id) AS rn
        |  FROM tkr_t) WHERE rn <= 5""".stripMargin)
    assert(rank.queryExecution.optimizedPlan.toString.contains("Window"))
    // the rank value survives into the output — must not rewrite
    val keeps = spark.sql(
      """SELECT key, id, rn FROM (
        |  SELECT key, id, row_number() OVER (PARTITION BY key ORDER BY id) AS rn
        |  FROM tkr_t) WHERE rn <= 5""".stripMargin)
    assert(keeps.queryExecution.optimizedPlan.toString.contains("Window"))
    // the safe shape rewrites and returns the same rows
    val safe = spark.sql(
      """SELECT key, id FROM (
        |  SELECT key, id, row_number() OVER (PARTITION BY key ORDER BY id) AS rn
        |  FROM tkr_t) WHERE rn <= 5""".stripMargin)
    assert(safe.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
    assert(safe.as[(String, Long)].collect().toSet ===
      keeps.select("key", "id").as[(String, Long)].collect().toSet)
  }

  test("evt_overlap: the binned overlap join is keyed, never a nested loop") {
    val plan = executedPlan("evt_overlap")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "overlap join must run as a (key, bin) equi-join:\n" + plan.take(2000))
  }

  test("agg_regr: moment sums combine map-side in one aggregate pass") {
    val plan = executedPlan("agg_regr")
    assert(plan.contains("partial_sum") || plan.contains("partial_regr"),
      "all regression moments must partial-aggregate before the shuffle:\n" + plan.take(1500))
  }

  test("graph_components: every star round is a keyed join, never a cartesian") {
    val plan = executedPlan("graph_components")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("xch_rebalance: the REBALANCE hint reaches the optimized plan") {
    val plan = graft.queries.SourcesDdl.rebalancedFrame(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("RebalancePartitions") || plan.contains("rebalance"),
      "expected a RebalancePartitions node from the hint:\n" + plan.take(1500))
  }

  test("ded_winnow: both fingerprint windows share one doc-keyed sort") {
    val fps = graft.operators.Winnow.fingerprints(
      graft.Tables.documents(spark, sfDir), "doc_id", "text")
    val plan = fps.queryExecution.executedPlan.toString
    // lead() gram assembly and the ROWS-frame min must reuse a single
    // (doc_id, idx) sort — a second Sort means the windows didn't align
    val sorts = plan.linesIterator.count(_.contains("Sort ["))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"fingerprint selection should cost one window shuffle (+distinct), got $exchanges:\n" +
        plan.take(1500))
    assert(sorts <= 1, s"expected the two windows to share one sort, got $sorts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("agg_cms: the cell table broadcasts back onto the terms, never the reverse") {
    val plan = executedPlan("agg_cms")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the 192-row cell table must broadcast")
    assert(plan.contains("partial_count"),
      "cell counts must combine map-side (the sketch is the scale path)")
  }

  test("cdc_scd2: history build is a single keyed window, no self-join") {
    val plan = executedPlan("cdc_scd2")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("BroadcastHashJoin"),
      "SCD2 must come from lead()/row_number() over one window, not a join:\n" +
        plan.take(1500))
    assert(plan.contains("Window"), "expected a Window operator")
  }

  test("evt_pattern: one keyed collect, no join per pattern step") {
    val plan = executedPlan("evt_pattern")
    assert(!plan.contains("Join"), "pattern counting must not lower to self-joins")
    assert(plan.contains("partial_collect_list") || plan.contains("objHashAggregate")
      || plan.contains("ObjectHashAggregate"),
      "per-user sequences should aggregate in one keyed pass:\n" + plan.take(1500))
  }

  test("ded_prefix: prefix self-join keyed, never cartesian; verification is array-local") {
    val plan = executedPlan("ded_prefix")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "prefix candidate join must stay keyed:\n" + plan.take(2000))
    // The candidate SELF-join must stay the hinted shuffle-hash join: both
    // sides are the data-sized prefix index (symmetric — broadcast never
    // applies past toy scale), and without the hint AQE plans a sort-merge
    // join that pays two full sorts of the index (measured 37.5 s vs
    // 5.96 s at sf10, round 11). The df join stays AQE's choice. Anchored
    // to the tok key (round-12 ADVICE): a bare contains("ShuffledHashJoin")
    // could pass on SOME OTHER join while the candidate join regressed. In
    // this pre-AQE static plan only a HINTED join can plan as SHJ
    // (preferSortMergeJoin=true rules it out for the unhinted df join,
    // which statically shows as a tok-keyed SMJ until AQE broadcasts it),
    // so a tok-keyed SHJ is witnessed by the candidate self-join alone.
    assert("ShuffledHashJoin \\[tok#".r.findFirstIn(plan).isDefined,
      "prefix candidate self-join lost its shuffle_hash pin:\n" + plan.take(2000))
  }

  test("agg_theta: K-minima route through the bounded-heap operator, no window on the stream") {
    val plan = executedPlan("agg_theta")
    assert(plan.contains("TopKPerKey"),
      "sketch minima must use the bounded-heap operator:\n" + plan.take(2000))
    assert(!plan.contains("Window"),
      "no rank window may touch the distinct stream:\n" + plan.take(2000))
  }

  test("graph_lpa: vote argmax is a keyed aggregate, no window and no cartesian") {
    val plan = executedPlan("graph_lpa")
    assert(!plan.contains("Window"),
      "per-round argmax must be max(struct), not a rank window:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    assert(plan.contains("partial_"), "vote counts must partial-aggregate map-side")
  }

  test("evt_interp: both carry directions share one keyed sort") {
    // backward last_value and forward first_value frames use the same
    // (event_type, hr asc) ordering — one WindowExec, and the only Sorts
    // are that window's and the presentation orderBy
    val plan = executedPlan("evt_interp")
    val windows = "Window".r.findAllIn(plan).length
    assert(windows == 1, s"expected one Window operator, got $windows:\n" + plan.take(2000))
  }

  test("emb_pq: codebooks broadcast, assignment is a keyed agg, no cartesian") {
    val plan = executedPlan("emb_pq")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "nSub*k codebook rows must broadcast, never shuffle the corpus:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ddl_cache: second read hits the in-memory relation, not the parquet scan") {
    val df = SparkEntry.queries("ddl_cache")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both union branches must read "Scan In-memory table"; the FileScan
    // inside InMemoryRelation's description is the cache's DEFINITION, not
    // an executed scan
    val scans = "Scan In-memory table".r.findAllIn(plan).length
    assert(scans >= 2,
      s"both branches must read from storage memory, got $scans:\n" + plan.take(2000))
  }

  test("win_rdistinct: running distinct is first-seen aggs + cumsum, no distinct window state") {
    val plan = executedPlan("win_rdistinct")
    assert(plan.contains("partial_"), "first-seen aggs must partial-aggregate map-side")
    val windows = "Window".r.findAllIn(plan).length
    assert(windows == 1, s"expected one cumsum Window, got $windows:\n" + plan.take(2000))
  }

  test("graph_kcore: peel rounds are keyed aggs + semi-joins, never cartesian or window") {
    val plan = executedPlan("graph_kcore")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      plan.take(2000))
  }

  test("txt_collocations: count tables broadcast; top-k is TakeOrdered, not a global sort") {
    val plan = executedPlan("txt_collocations")
    assert(plan.contains("BroadcastHashJoin"),
      "vocabulary-bounded count tables must broadcast:\n" + plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-30 must be a bounded heap, not a global sort:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "pair counts must partial-aggregate map-side")
  }

  test("evt_rfm: quartile bounds broadcast; users never globally sorted (no ntile)") {
    val plan = executedPlan("evt_rfm")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      "1-row bounds must broadcast:\n" + plan.take(2000))
    assert(!plan.contains("ntile"), "scoring must not rank users globally")
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("smp_bootstrap: per-row draws + one keyed agg, no join, no window") {
    val plan = executedPlan("smp_bootstrap")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(1500))
    assert(plan.contains("partial_"), "replicate stats must partial-aggregate map-side")
  }

  test("sim_ivfpq: top-k via bounded heaps; codebook and query subs broadcast") {
    val plan = executedPlan("sim_ivfpq")
    assert(plan.contains("TopKPerKey"),
      "per-query top-k must use the bounded-heap operator:\n" + plan.take(2000))
    assert(plan.contains("BroadcastExchange"),
      "codebook/query-subvector joins must broadcast:\n" + plan.take(2000))
  }

  test("dq_drift: bin counts partial-aggregate; stats broadcast; no sort-merge join") {
    val plan = executedPlan("dq_drift")
    assert(plan.contains("partial_"), "bin counts must partial-aggregate map-side")
    assert(plan.contains("BroadcastHashJoin"),
      "baseline stats must broadcast onto the stream:\n" + plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("evt_anomaly: one keyed Window over one sort; no join anywhere") {
    val plan = executedPlan("evt_anomaly")
    val windows = "Window".r.findAllIn(plan).length
    assert(windows == 1, s"n/s/q must share one Window, got $windows:\n" + plan.take(2000))
    assert(!plan.contains("Join"), "the screen is pure window arithmetic:\n" + plan.take(2000))
  }

  test("emb_feathash: one map-side-combined keyed agg; no join, no window") {
    val plan = executedPlan("emb_feathash")
    assert(plan.contains("partial_"), "dim sums must partial-aggregate map-side")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(2000))
  }

  test("graph_sssp: relaxation rounds are keyed joins + min-aggs, never cartesian") {
    val plan = executedPlan("graph_sssp")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    assert(plan.contains("partial_min"), "relaxations must partial-aggregate map-side")
  }

  test("cur_dsir: K-row rate table broadcasts; selection is TakeOrdered, not a global sort") {
    val plan = executedPlan("cur_dsir")
    assert(plan.contains("BroadcastHashJoin"),
      "the 32-row bucket-rate table must broadcast onto the doc stream:\n" + plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must be a bounded heap:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "bucket counts must partial-aggregate map-side")
  }

  test("ded_contain: prefix join keyed, never cartesian; verification is array-local") {
    val plan = executedPlan("ded_contain")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    // the inverted-index self-join must stay an equi-join on the token key;
    // WHICH equi-join (SMJ / SHJ / broadcast) is AQE's call since the
    // shuffle_hash hints were dropped — pinning the strategy re-froze the
    // exchange even when one side is broadcastable
    assert("Join \\[tok#".r.findFirstIn(plan).isDefined,
      "the inverted-index self-join must be keyed on tok:\n" + plan.take(2000))
  }

  test("evt_cusum: type stats broadcast; both windows share one keyed sort") {
    val plan = executedPlan("evt_cusum")
    assert(plan.contains("BroadcastHashJoin"),
      "the 5-row type-stats table must broadcast:\n" + plan.take(2000))
    val sorts = "Window".r.findAllIn(plan).length
    assert(sorts == 2, s"expected stacked prefix-sum + running-min windows, got $sorts")
    assert(plan.contains("TakeOrderedAndProject"),
      "drift top-k must be a bounded heap:\n" + plan.take(2000))
  }

  test("txt_diversity: two map-side-combined keyed aggs; no join, no window") {
    val plan = executedPlan("txt_diversity")
    assert(plan.contains("partial_"), "term counts must partial-aggregate map-side")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(2000))
  }

  test("agg_ttest: one stats pass; grand total broadcasts; no sort-merge join") {
    val plan = executedPlan("agg_ttest")
    assert(plan.contains("partial_"), "moment sums must partial-aggregate map-side")
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("agg_bloom: 1-row filter broadcasts to the probe side; bit state combines map-side") {
    val plan = executedPlan("agg_bloom")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      "the 16-word filter row must broadcast:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "bit_or state must partial-aggregate map-side")
  }

  test("evt_attrib: range join is the binned keyed shuffle, never a nested loop") {
    val plan = executedPlan("evt_attrib")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "the presentation cap must be a bounded heap:\n" + plan.take(2000))
  }

  test("evt_gaps: two keyed windows, conditional-agg order statistics, no global sort") {
    val plan = executedPlan("evt_gaps")
    assert(!plan.contains("Join"), "gap quantiles need no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "the order-statistic pick must partial-aggregate")
  }

  test("txt_readability: pure per-row arithmetic, no shuffle beyond presentation sort") {
    val plan = executedPlan("txt_readability")
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("HashAggregate"), plan.take(2000))
  }

  test("sim_knng: top-k per source routes through the bounded-heap operator; no cartesian") {
    val plan = executedPlan("sim_knng")
    assert(plan.contains("TopKPerKey"),
      "per-source top-k must use the bounded-heap operator:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from the cell-keyed join:\n" + plan.take(2000))
  }

  test("cls_auc: rank sums ride the distinct-score agg — no join, partial map-side combine") {
    val plan = executedPlan("cls_auc")
    assert(!plan.contains("Join"), "AUC needs no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"),
      "per-score class counts must partial-aggregate before the shuffle")
  }

  test("dq_ks: one keyed agg + windows over distinct values only; no join") {
    val plan = executedPlan("dq_ks")
    assert(!plan.contains("Join"), "KS needs no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"),
      "per-value cohort counts must partial-aggregate before the shuffle")
  }

  test("evt_acf: daily series aggregates map-side; totals broadcast, never shuffle-joined") {
    val plan = executedPlan("evt_acf")
    assert(plan.contains("partial_"),
      "per-day revenue must partial-aggregate before the shuffle")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the 1-row totals must broadcast:\n" + plan.take(2000))
  }

  test("evaluation stats are in-range (AUC/KS in [0,1], |acf| <= 1)") {
    val auc = SparkEntry.queries("cls_auc")(spark, sfDir)
      .select(col("auc")).head().getDouble(0)
    assert(auc >= 0.0 && auc <= 1.0, s"auc=$auc")
    val ks = SparkEntry.queries("dq_ks")(spark, sfDir)
      .select(col("ks")).head().getDouble(0)
    assert(ks >= 0.0 && ks <= 1.0, s"ks=$ks")
    val acfs = SparkEntry.queries("evt_acf")(spark, sfDir)
      .select(col("acf")).collect().map(_.getDouble(0))
    assert(acfs.length == 7 && acfs.forall(a => math.abs(a) <= 1.0 + 1e-12),
      acfs.mkString(","))
  }

  test("smp_ess: both weight moments ride one map-side-combined keyed agg") {
    val plan = executedPlan("smp_ess")
    assert(!plan.contains("Join"), "ESS needs no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "weight moments must partial-aggregate")
  }

  test("dq_benford: digit counts partial-aggregate; dimension and total broadcast") {
    val plan = executedPlan("dq_benford")
    assert(plan.contains("partial_"), "digit histogram must partial-aggregate")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the 9-row dim and 1-row total must broadcast:\n" + plan.take(2000))
  }

  test("txt_entropy: token counts keyed by (doc, token); per-doc fold, no window") {
    val plan = executedPlan("txt_entropy")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "entropy is two keyed aggs + an array fold:\n" + plan.take(2000))
  }

  test("txt_zipf: regression moments are exact keyed sums; rank window is vocab-bounded") {
    val plan = executedPlan("txt_zipf")
    assert(!plan.contains("Join"), "zipf fit needs no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "token counts and moments must partial-aggregate")
  }

  test("dq_psi: extremes broadcast; bin histogram partial-aggregates") {
    val plan = executedPlan("dq_psi")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the 1-row min/max must broadcast:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "bin counts must partial-aggregate")
  }

  test("graph_recip: reverse-edge check is a keyed semi-join, no cartesian") {
    val plan = executedPlan("graph_recip")
    assert(plan.contains("LeftSemi"), "reverse edges via left-semi:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("evt_survival: one per-user keyed agg; KM windows run on the lifetime table") {
    val plan = executedPlan("evt_survival")
    assert(plan.contains("partial_"), "per-user min/max must partial-aggregate")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "stream-end total must broadcast:\n" + plan.take(2000))
  }

  test("txt_hapax: token counts partial-aggregate; single-row reduce, no window") {
    val plan = executedPlan("txt_hapax")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_"), "token counts must partial-aggregate")
  }

  test("dq_iqr: quartile fences broadcast onto the probe scan") {
    val plan = executedPlan("dq_iqr")
    assert(plan.contains("BroadcastHashJoin"),
      "the 5-row fence table must broadcast:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "fence counts must partial-aggregate")
  }

  test("cls_pr: all 15 threshold counts ride ONE scan (no union of scans)") {
    val plan = executedPlan("cls_pr")
    assert(!plan.contains("Union"), "threshold sweep must be single-pass:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "counts must partial-aggregate")
  }

  test("sim_ndcg: discount/idcg dims broadcast; ranking has no cartesian beyond the broadcast block") {
    val plan = executedPlan("sim_ndcg")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "all dim joins must broadcast:\n" + plan.take(2000))
  }

  test("agg_winsor: caps broadcast; clamped sum partial-aggregates in integer cents") {
    val plan = executedPlan("agg_winsor")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("partial_"), "clamped sums must partial-aggregate")
  }

  test("evt_daumau: month totals broadcast onto the daily distinct agg") {
    val plan = executedPlan("evt_daumau")
    assert(plan.contains("BroadcastHashJoin"),
      "the calendar-bounded MAU table must broadcast:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "distinct-user counts must partial-aggregate")
  }

  test("dq_gaps: gap starts come from a keyed anti-join, never a full-id window") {
    val plan = executedPlan("dq_gaps")
    assert(plan.contains("LeftAnti"), "id+1 absence via left-anti:\n" + plan.take(2000))
    assert(!plan.contains("Window"), "no window over the id space:\n" + plan.take(2000))
  }

  test("agg_hhi: two-level keyed agg, both levels map-side combined, no join") {
    val plan = executedPlan("agg_hhi")
    assert(!plan.contains("Join"), "HHI needs no join:\n" + plan.take(2000))
    assert(plan.contains("partial_"), "both aggregation levels must partial-aggregate")
  }

  test("ded_embed: exact all-pairs runs as a keyed block join, nothing on the driver") {
    val plan = executedPlan("ded_embed")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "block-pair buckets must equi-join on the bucket id:\n" + plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "bucket join must be a hash/merge equi-join:\n" + plan.take(2000))
    // driver-materialization guard: every leaf is a file scan and the pair
    // scoring stays declarative (codegen'd VecDot) — the retired
    // cosinePairsBlocked path collected the corpus driver-side and scored
    // through a typed flatMap (DeserializeToObject/MapPartitions)
    assert(!plan.contains("LocalTableScan") && !plan.contains("ExternalRDD")
      && !plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      "no driver-side materialization / typed-lambda scoring:\n" + plan.take(2000))
  }

  test("whole-stage codegen covers the q6 hot path") {
    val df = SparkEntry.queries("q6")(spark, sfDir)
    df.collect() // AQE finalizes the executed plan only once this QueryExecution runs
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Filter") && plan.contains("*(1) HashAggregate"),
      "q6 scan+filter+partial-agg should sit inside one codegen stage")
  }
}
