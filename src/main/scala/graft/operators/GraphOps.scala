package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Edge-parameterized iterative graph cores — the algorithms behind the
  * gated graph queries ([[graft.queries.Graphs]] carves edge lists from the
  * benchmark tables and delegates here), exposed over caller-supplied edge
  * DataFrames so they compose as library operators and can be law-tested on
  * arbitrary graphs (GraphLawsSpec runs them against independent sequential
  * references on randomized graphs).
  *
  * Shared design rules (the Pregel lowering every core uses):
  *  - one keyed join + keyed aggregation per round — never a cartesian,
  *    never driver-side state;
  *  - fixed round counts keep the plan depth static (bounded-hop semantics
  *    are part of each operator's contract, not an approximation footnote);
  *  - integer arithmetic end to end (hop counts, integer weights, BIGINT
  *    fixed-point ranks, vote counts) so results are bit-identical at any
  *    partitioning — no float-summation-order hazard;
  *  - round loops run through [[Lineage.fixpoint]] / [[Lineage.iterate]],
  *    which truncate the initial state and every round's output
  *    (localCheckpoint by default, durable `checkpoint()` under the opt-in
  *    reliable mode) — each round reads its input several times, so an
  *    untruncated loop replicates the input plan per round. Edge inputs
  *    that every round references are truncated once up front.
  */
object GraphOps {

  /** Undirected expansion of a directed (u, v, extra...) edge list into
    * (a, b, extra...) rows both ways. */
  def undirect(edges: DataFrame, extra: String*): DataFrame = {
    val fwd = edges.select(col("u").as("a") +: col("v").as("b") +: extra.map(col): _*)
    val rev = edges.select(col("v").as("a") +: col("u").as("b") +: extra.map(col): _*)
    fwd.unionAll(rev)
  }

  private def initialDistances(und: DataFrame, isSource: Column => Column): DataFrame =
    und.select(col("a").as("node")).distinct()
      .select(col("node"), when(isSource(col("node")), 0L).as("dist"))

  /** One synchronous relax round: every reached node offers dist + `cost`
    * to its neighbors, each node keeps its minimum (one keyed join + one
    * keyed min-agg + one left-join merge). */
  private def relaxRound(und: DataFrame, d: DataFrame, cost: Column): DataFrame = {
    val cand = und
      .join(d.filter(col("dist").isNotNull).withColumnRenamed("node", "a"), "a")
      .groupBy(col("b").as("node"))
      .agg(min(col("dist") + cost).as("cand"))
    d.join(cand, Seq("node"), "left")
      .select(col("node"), least(col("dist"), col("cand")).as("dist"))
  }

  /** Relax until no distance changes — the convergence test is one cheap
    * distributed anti-comparison of consecutive rounds, no row data on the
    * driver. */
  private def relaxToFixpoint(op: String, und: DataFrame, isSource: Column => Column,
                              cost: Column, maxRounds: Int): DataFrame = {
    val undM = Lineage.truncate(und) // see relaxBounded — one copy per round otherwise
    Lineage.fixpoint(op, initialDistances(undM, isSource), maxRounds)(
        relaxRound(undM, _, cost))(identity) { (prev, next) =>
      next.alias("n").join(prev.alias("p"), Seq("node"))
        .filter(!(col("n.dist") <=> col("p.dist"))).isEmpty
    }.filter(col("dist").isNotNull)
  }

  /** `relaxRound` references the previous round's DataFrame twice
    * (candidate join + left-join merge), so a LAZY composed loop roughly
    * doubles the logical plan per round — fine up to [[LazyRoundLimit]]
    * rounds (2^4 = 16 subtree references, the shape the gated queries
    * measure), a blowup beyond it. Larger budgets truncate lineage per
    * round instead, exactly as the fixpoint variants always have. */
  private val LazyRoundLimit = 4

  private def relaxBounded(und: DataFrame, isSource: Column => Column,
                           cost: Column, rounds: Int): DataFrame = {
    // Truncate the edge input ONCE (round 14, guide §3.3/§7.3): every round
    // references `und`, so a lazily composed loop embeds the caller's whole
    // edge-derivation subtree per reference — the r14 graph_bfs before-plan
    // carried 129 lineitem scans / 30 sort-merge joins, and ANALYSIS of
    // that tree (not execution: AQE reuse deduplicates most of it at
    // runtime) dominated the query as driver gap time.
    val undM = Lineage.truncate(und)
    val d0 = initialDistances(undM, isSource)
    val d =
      if (rounds <= LazyRoundLimit)
        Iterator.iterate(d0)(relaxRound(undM, _, cost)).drop(rounds).next()
      else Lineage.iterate(d0, rounds)(relaxRound(undM, _, cost))
    d.filter(col("dist").isNotNull)
  }

  /** Bounded multi-source BFS over an undirected (a, b) edge list: `hops`
    * synchronous relax rounds (each one keyed join + one keyed min-agg), so
    * dist(v) = exact hop distance from the nearest source over paths of at
    * most `hops` edges. Returns (node, dist) for reached nodes only. Use
    * [[bfsToFixpoint]] when full reachability is wanted and the diameter
    * is unknown. */
  def bfs(und: DataFrame, isSource: Column => Column, hops: Int): DataFrame =
    relaxBounded(und, isSource, lit(1), hops)

  /** [[bfs]] run to a FIXPOINT — exact hop distances over the whole
    * reachable set, no round budget to tune; `maxRounds` (≥ any diameter
    * you'd meet: rounds used = eccentricity of the source set + 1) is a
    * runaway guard only. */
  def bfsToFixpoint(und: DataFrame, isSource: Column => Column,
                    maxRounds: Int = 200): DataFrame =
    relaxToFixpoint("bfsToFixpoint", und, isSource, lit(1), maxRounds)

  /** Bounded-round single/multi-source shortest paths over an undirected
    * weighted (a, b, w) edge list — synchronous Bellman-Ford: after
    * `rounds` rounds dist(v) is the minimum total weight over paths of at
    * most `rounds` edges. Integer weights ⇒ exact. Use [[ssspToFixpoint]]
    * for true shortest paths with no round budget. */
  def sssp(und: DataFrame, isSource: Column => Column, rounds: Int): DataFrame =
    relaxBounded(und, isSource, col("w"), rounds)

  /** [[sssp]] run to a FIXPOINT — true shortest paths (Bellman-Ford
    * terminates within |V|−1 effective rounds on nonnegative weights;
    * GraphLawsSpec pins equality with Dijkstra). */
  def ssspToFixpoint(und: DataFrame, isSource: Column => Column,
                     maxRounds: Int = 200): DataFrame =
    relaxToFixpoint("ssspToFixpoint", und, isSource, col("w"), maxRounds)

  /** Bounded k-core peeling (Seidman 1983; Batagelj–Zaveršnik degree peel,
    * distributed) over a (u, v) edge list stored one row per undirected
    * edge: `rounds` synchronous rounds of [[peelRound]]. Reaches the true
    * k-core once `rounds` covers the longest peel cascade (GraphLawsSpec
    * pins this against sequential peeling run to fixpoint). Each round
    * reads its input three times (degree agg + two semi-joins), so the
    * input and every round's output get their lineage truncated — without
    * it the input plan would replicate 3^rounds times. Returns the
    * surviving edges. */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    Lineage.iterate(edges, rounds)(peelRound(_, k))

  /** [[kcorePeel]] iterated to a FIXPOINT — the TRUE k-core, no round
    * budget to tune (the bounded form needs rounds ≥ the longest peel
    * cascade, which a chain makes O(n)): peel until no edge drops,
    * convergence probed with one count per round. */
  def kcoreToFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 200): DataFrame =
    Lineage.fixpoint("kcoreToFixpoint", edges, maxRounds)(peelRound(_, k))(_.count())(_ == _)

  /** One peel round: drop every node with degree < k, keep edges whose BOTH
    * endpoints survive. */
  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    val keep = undirect(e).groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("a").as("node"))
    e.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      .select(col("u"), col("v"))
  }

  /** Deterministic synchronous label propagation over an undirected (a, b)
    * edge list: `rounds` rounds where every node adopts the most frequent
    * label among its neighbors, ties broken by minimum label (the argmax is
    * one `max(struct(cnt, -label))` keyed agg — no window). Every node in
    * the edge list has ≥ 1 neighbor by construction. Returns (node, label). */
  def lpa(und: DataFrame, rounds: Int): DataFrame = {
    val undM = Lineage.truncate(und) // see relaxBounded — one copy per round otherwise
    def step(lab: DataFrame): DataFrame =
      undM.join(lab.withColumnRenamed("node", "a"), "a")
        .groupBy(col("b"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("b").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    val l0 = undM.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    Iterator.iterate(l0)(step).drop(rounds).next()
  }

  /** Per-node triangle counts over a (u, v) edge list stored once per
    * undirected edge with u < v — compact-forward / Latapy 2008: every edge
    * is oriented from its lower-(degree, id) endpoint to the higher one, so
    * wedges are enumerated only at each triangle's minimum-degree vertex
    * and total wedge work is arboricity-bounded (a hub of degree d that
    * would generate d²/2 wedges under id-ordering generates none).
    * Orientation changes wedge GENERATION only — per-node triangle counts
    * are orientation-invariant (GraphLawsSpec pins this against brute-force
    * triple enumeration on random hub/clique graphs). Returns
    * (node, n_tri) for nodes in ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsTruncated(Lineage.truncate(edges))

  /** [[triangleCounts]] over an ALREADY-truncated edge list (callers that
    * truncate once and fan out, e.g. clusteringCoefficients). */
  private def triangleCountsTruncated(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val wedges = oriented.select(col("src"), col("dst").as("w1"))
      .join(oriented.select(col("src"), col("dst").as("w2")), "src")
      .filter(col("w1") < col("w2"))
    val tris = wedges.join(edges,
      col("w1") === col("u") && col("w2") === col("v"), "left_semi")
    tris.select(explode(array(col("src"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per node — 2·T(v) / (d(v)·(d(v)−1)) over
    * a (u, v) u<v edge list, via the same degree-oriented wedge enumeration
    * as [[triangleCounts]] (hub cost stays arboricity-bounded). The
    * coefficient is ONE IEEE division of exact integers ⇒ bit-exact; nodes
    * with d < 2 are excluded (undefined denominator). Returns
    * (node, d, n_tri, coeff). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = Lineage.truncate(edges) // one copy for the degree agg AND the triangle pass
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val triCounts = triangleCountsTruncated(e).withColumnRenamed("node", "id")
    deg.filter(col("d") >= 2)
      .join(triCounts, Seq("id"), "left")
      .select(col("id").as("node"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .select(col("node"), col("d"), col("n_tri"),
        ((col("n_tri") * 2).cast(DoubleType) /
          (col("d") * (col("d") - 1)).cast(DoubleType)).as("coeff"))
  }

  /** Jaccard link prediction (Liben-Nowell & Kleinberg CIKM'03) over a
    * (u, v) u<v edge list: score non-adjacent node pairs at distance 2 by
    * neighbor-set overlap, cn / (deg u + deg v − cn). Wedge MIDDLES are
    * degree-capped at `cap` (the stop-shingle pattern — a hub of degree d
    * contributes d² candidate pairs while adding little signal; pass
    * Long.MaxValue to disable); endpoint degrees in the score stay
    * UNCAPPED. Existing edges drop via a keyed anti-join. Returns
    * (u, v, cn, jaccard); top-k/ordering is the caller's. */
  def jaccardLinkPred(edges: DataFrame, cap: Long): DataFrame = {
    val e = Lineage.truncate(edges) // referenced via und (x2 sides), deg, and the anti-join
    val und = undirect(e)
    val deg = und.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val w1 = und.join(deg.filter(col("deg") <= cap).select(col("a")), Seq("a"))
    val cand = w1.select(col("a"), col("b").as("u"))
      .join(w1.select(col("a"), col("b").as("v")), Seq("a"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .join(e, Seq("u", "v"), "left_anti")
    cand
      .join(deg.select(col("a").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("a").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast(DoubleType) /
          (col("du") + col("dv") - col("cn")).cast(DoubleType)).as("jaccard"))
  }

  /** Degree assortativity (Newman 2002) over a (u, v) u<v edge list: the
    * Pearson correlation of endpoint degrees over the symmetrized edges.
    * Degree sums/moments are exact integers in ONE map-side-combined agg;
    * the coefficient is then a fixed IEEE sequence over their double casts.
    * A degree-regular (or empty) graph has zero variance — emits NULL, not
    * a divide-by-zero (ANSI mode throws on a zero divisor). Returns one row
    * (n_dir_edges, assortativity). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirect(Lineage.truncate(edges))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    val ed = und
      .join(deg.select(col("id").as("a"), col("d").as("dx")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("dy")), "b")
    val m = ed.agg(count(lit(1)).as("m"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val d = DoubleType
    m.select(col("m").as("n_dir_edges"),
        ((col("m").cast(d) * col("sxy").cast(d) - col("sx").cast(d) * col("sy").cast(d)))
          .as("num"),
        sqrt((col("m").cast(d) * col("sxx").cast(d) - col("sx").cast(d) * col("sx").cast(d)) *
             (col("m").cast(d) * col("syy").cast(d) - col("sy").cast(d) * col("sy").cast(d)))
          .as("den"))
      .select(col("n_dir_edges"),
        when(col("den") > 0.0, col("num") / col("den")).as("assortativity"))
  }

  /** HITS (Kleinberg 1999) over a directed (src, dst) edge list: `rounds`
    * alternations of a ← Σ_in h, h ← Σ_out a, each one keyed join + keyed
    * sum. Scores stay UNNORMALIZED exact BIGINTs (normalization is a
    * monotone per-round constant, so rankings are identical and no division
    * ever happens) ⇒ hash-exact at any partitioning. Returns
    * (node, hub, authority) after the final round. A score past the
    * signed 64-bit range fails loudly as the session's ANSI
    * ARITHMETIC_OVERFLOW mid-round. Construction runs no job but the
    * edge-input `Lineage.truncate`, at any `rounds`. */
  def hits(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"hits needs at least one round, got $rounds")
    val edges = Lineage.truncate(edges0) // see relaxBounded — 2 copies/round otherwise
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    def authStep(h: DataFrame): DataFrame = nodes
      .join(edges.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("a"))
    def hubStep(a: DataFrame): DataFrame = nodes
      .join(edges.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("h"))
    val (h, a) = (1 to rounds).foldLeft(
      (nodes.select(col("node"), lit(1L).as("h")), Option.empty[DataFrame])) {
      case ((hPrev, _), _) =>
        val aNext = authStep(hPrev)
        (hubStep(aNext), Some(aNext))
    }
    h.join(a.get, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** Fixed-point PageRank (damping 85/100, BIGINT fixed-point 1e6 = rank
    * 1.0) over a directed (src, dst) edge list with PER-NODE out-degree:
    * `iters` unrolled rounds of edges ⋈ ranks → keyed sum → left join onto
    * the node set (zero-indegree nodes settle at the 0.15 teleport floor).
    * All arithmetic is truncating integer `div`, bit-identical at any
    * partitioning. Dangling nodes (no out-edges) contribute nothing — the
    * truncating analog of dropping dangling mass. Parallel edges count in
    * both the degree and the contribution, as multigraph semantics
    * require. Returns (id, r). */
  def pageRank(nodes0: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val nodes = Lineage.truncate(nodes0) // referenced per unrolled round
    val withDeg = Lineage.truncate(edges.join(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")) // read every round
    def step(ranks: DataFrame): DataFrame = {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr("r div deg")).as("in_sum"))
      nodes.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("coalesce(in_sum, 0L) * 85 div 100")).as("r"))
    }
    val r0 = nodes.select(col("id"), lit(1000000L).as("r"))
    Iterator.iterate(r0)(step).drop(iters).next()
  }
}
