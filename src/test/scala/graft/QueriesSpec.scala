package graft

/** Smoke: every registered query executes at sf0.001 and the oracle map is
  * consistent with the query map; every query's physical plan passes
  * [[graft.plans.ScaleLint]] except the declared, justified exceptions. */
class QueriesSpec extends SparkSpec {

  /** ScaleLint exceptions, query by query. Every entry here is one of two
    * deliberate patterns, stated so a reviewer can audit the 100-TB claim
    * without re-deriving it:
    *
    *  - PARAMETER-BOUNDED BROADCAST: a keyless join whose broadcast side is
    *    bounded by an algorithm parameter (k centroids, nProbe cells, the
    *    caller's query set), not by the data. The lint cannot prove that
    *    from the plan — a filter or seed selection is not structurally
    *    bounded — so the contract is declared here instead.
    *  - CROSS JOIN SEMANTICS: the query IS a cross join (the reference's
    *    CrossJoinExecNode gate); Θ(|L|·|R|) is its meaning, and its inputs
    *    are dimension-sized.
    *
    * The check is two-way: an allowlisted rule that stops firing fails the
    * spec too, so fixed plans shed their entries. */
  private val lintAllowed: Map[String, Set[String]] = Map(
    // cross join semantics
    "join_cross" -> Set("nested-loop-join"),
    // brute-force ANN tier: broadcast of the caller's query set (bounded by
    // contract; the corpus-scale path is the IVF/LSH tier)
    "sim_topk" -> Set("nested-loop-join"),
    "sim_hardneg" -> Set("nested-loop-join"),
    "sim_ndcg" -> Set("nested-loop-join"),
    "sim_recall" -> Set("nested-loop-join"),
    "sim_knng" -> Set("nested-loop-join"),
    // k-means / IVF / PQ: broadcast of k (or nCells) centroids — parameter-
    // bounded; corpus never broadcasts
    "sim_kmeans" -> Set("nested-loop-join"),
    "sim_ivf" -> Set("nested-loop-join"),
    "sim_ivfpq" -> Set("nested-loop-join"))
  // ded_semantic / cur_funnel2 shed their nested-loop-join entries in r15:
  // semanticDedup's centroid assignment is now computed once behind a
  // Lineage.truncate, so the broadcast join no longer appears in the final
  // executed plan the lint sees.

  test("oracle keys are a subset of query keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o.diff(q)}")
    // names resolve against the same keys: trimmed, once each, and an
    // unknown name fails the run listing every unknown name
    assert(SparkEntry.named(" q1 ,q1").map(_._1) == Seq("q1"))
    val e = intercept[IllegalArgumentException](SparkEntry.named("q1,nope,bogus"))
    assert(e.getMessage.contains("nope,bogus"), e.getMessage)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001 and lints scale-clean") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      val findings = graft.plans.ScaleLint.lint(df)
      val rules = findings.map(_.rule).toSet
      val allowed = lintAllowed.getOrElse(name, Set.empty)
      assert(rules.diff(allowed).isEmpty,
        s"scale lint: ${findings.filterNot(f => allowed(f.rule)).mkString("; ")}")
      assert(allowed.diff(rules).isEmpty,
        s"stale lint allowlist entries ${allowed.diff(rules)} — the plan no longer has them; remove")
      df.write.mode("overwrite").format("noop").save()
    }
  }
}
