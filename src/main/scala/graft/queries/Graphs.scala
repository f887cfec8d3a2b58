package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph analytics over a synthesized link graph — the quality-
  * propagation step (PageRank over hyperlinks) crawl pipelines run to score
  * documents. Connected components already ships in
  * [[graft.operators.Clustering]] (`ded_cluster`); this adds the power-
  * iteration family.
  *
  * Determinism strategy: ranks are BIGINT fixed-point (1e6 = rank 1.0) and
  * every step is integer arithmetic — `div` truncation and integer sums are
  * bit-identical in Spark and DuckDB, so an unrolled iteration hash-matches
  * exactly, with no float-summation-order hazard at any partitioning/scale.
  */
object Graphs {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Unrolled power-iteration count (each is one keyed shuffle). */
  private val PrIters = 3
  /** Fixed-point scale: 1_000_000 == rank 1.0. */
  private val PrOne = 1000000L
  /** Per-node out-degree (edge synthesis emits exactly k = 1..3). */
  private val PrDeg = 3

  /** Fixed-point PageRank, damping 0.85, 3 unrolled iterations.
    *
    * Edges are synthesized deterministically from the document table:
    * doc i links to ((i*31 + 7k) mod N) for k = 1..3, so every node has
    * out-degree exactly 3 (self-loops and parallel edges kept — degree
    * stays constant, the oracle agrees). Each iteration is
    * edges ⋈ ranks (keyed on src) → groupBy(dst) sum → left join back onto
    * the node set for zero-indegree nodes: two keyed shuffles per round,
    * nothing driver-side, no cartesian — the plan shape GraphX/Pregel
    * lowers to. Output: top 100 nodes by rank (top-k, not a global sort). */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("n"))
    val edges = docs.crossJoin(n) // 1-row count broadcast onto every node
      .select(col("doc_id").as("src"), col("n"),
        explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("src"),
        ((col("src") * 31 + col("k") * 7) % col("n")).as("dst"))
    // the general per-out-degree core (graft.operators.GraphOps); on this
    // graph every node's out-degree is exactly PrDeg, so the oracle's
    // constant `r // 3` replays it bit-for-bit
    val r3 = graft.operators.GraphOps.pageRank(
      docs.select(col("doc_id").as("id")), edges, PrIters)
    r3.select(col("id").as("doc_id"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("doc_id"))
      .limit(100)
  }

  val pageRankOracle: String = {
    // one CTE pair (contribution sum, damped rank) per unrolled iteration
    val iters = (1 to PrIters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS id, CAST(SUM(r.r // $PrDeg) AS BIGINT) AS in_sum
         |  FROM e JOIN r${i - 1} r ON r.id = e.src GROUP BY e.dst),
         |r$i AS (
         |  SELECT d.doc_id AS id,
         |    150000 + COALESCE(s.in_sum, 0) * 85 // 100 AS r
         |  FROM documents d LEFT JOIN s$i s ON s.id = d.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
       |e AS (
       |  SELECT doc_id AS src, (doc_id * 31 + k * 7) % n.n AS dst
       |  FROM documents CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) AS ks(k)),
       |r0 AS (SELECT doc_id AS id, CAST($PrOne AS BIGINT) AS r FROM documents),
       |$iters
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r$PrIters
       |ORDER BY rank_fp DESC, doc_id LIMIT 100""".stripMargin
  }

  /** Triangle counting over a co-supply graph (suppliers sharing an order),
    * the clustering-coefficient primitive of graph-quality pipelines.
    *
    * Scale design (compact-forward / Latapy 2008): every edge is oriented
    * from its lower-(degree, id) endpoint to the higher one, so wedges are
    * enumerated only at each triangle's minimum-degree vertex — total wedge
    * work is bounded by sum over edges of min-degree (the arboricity bound),
    * not by hub-degree squared. A hub of degree d that would generate d²/2
    * wedges under id-ordering generates none: its edges all point inward.
    * Every join is keyed (order key, then src vertex, then the closing
    * left-semi on the edge pair); pair generation within an order is bounded
    * by lines-per-order, and the 5%-edge hash sample keeps the graph sparse
    * at any SF. No driver state, no cartesian.
    *
    * Orientation changes wedge generation only — per-node triangle counts
    * are orientation-invariant, so the oracle's plain u<v<w three-way join
    * must agree exactly. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    // undirected edge list, stored u < v, deterministically sampled to 5%
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    graft.operators.GraphOps.triangleCounts(edges)
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  val trianglesOracle: String =
    """WITH pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
      |t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (
      |  SELECT a AS node FROM t
      |  UNION ALL SELECT b FROM t
      |  UNION ALL SELECT c FROM t)
      |SELECT node, COUNT(*) AS n_tri FROM nodes
      |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20""".stripMargin

  /** Connected components over the same sampled co-supply graph as
    * [[triangles]], run through the O(log n)-round alternating
    * large-star/small-star operator ([[graft.operators.Clustering
    * .connectedComponentsAlternating]]) — the direct gate for the component
    * operator that `ded_cluster` exercises only via the dedup pipeline.
    *
    * Output is one row per component: its label (minimum member id), size,
    * and the exact sum of member ids — the sum pins MEMBERSHIP, not just
    * sizes, so two different partitions of the node set cannot collide.
    * The oracle replays min-label reachability as a DuckDB recursive CTE
    * (fine at oracle scale; the Spark side is the O(log n) scale path —
    * per-round cost bounded by the edge count, every step a keyed
    * shuffle). */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    // same deterministic 5%-sampled co-supply edge list as `triangles`
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    graft.operators.Clustering.connectedComponentsAlternating(edges, "u", "v")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
      .orderBy(col("n_nodes").desc, col("label"))
  }

  val componentsOracle: String =
    """WITH RECURSIVE pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
      |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |reach(node, label) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.node),
      |cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
      |SELECT label, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_sum
      |FROM cc GROUP BY label
      |ORDER BY n_nodes DESC, label""".stripMargin

  /** Bounded multi-source BFS: exact hop distance (≤ [[BfsHops]]) from the
    * source set (node % 10 == 0) over the same sampled co-supply graph as
    * [[components]]. Each unrolled round is one relaxation:
    * dist' = min(dist, min over in-edges of neighbor dist + 1) — an
    * edges ⋈ frontier keyed join plus a min-agg, i.e. two keyed shuffles
    * per hop and nothing driver-side (the Pregel lowering of BFS). Hop
    * counts are integers, so results are hash-exact at any partitioning.
    * The oracle replays reachability as a depth-bounded recursive CTE with
    * set semantics (each (node, dist) pair derived once). */
  private val BfsHops = 4

  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    val und = edges.select(col("u").as("a"), col("v").as("b"))
      .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
    graft.operators.GraphOps.bfs(und, _ % 10 === 0, BfsHops)
      .orderBy(col("node"))
  }

  val bfsOracle: String =
    """WITH RECURSIVE pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
      |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |reach(node, dist) AS (
      |  SELECT node, 0 FROM nodes WHERE node % 10 = 0
      |  UNION
      |  SELECT e.b, r.dist + 1 FROM reach r JOIN e ON e.a = r.node
      |  WHERE r.dist < 4),
      |bfs AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
      |SELECT node, CAST(dist AS BIGINT) AS dist FROM bfs
      |ORDER BY node""".stripMargin

  /** Deterministic synchronous label propagation (community detection;
    * Raghavan et al. 2007, made order-independent): [[LpaRounds]] unrolled
    * rounds over the sampled co-supply graph, where each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * minimum label — a pure function of the previous round, so results are
    * identical at any partitioning (the async/random-order variant of the
    * paper is NOT reproducible; this is the standard Pregel determinization).
    *
    * Per round: one keyed join (neighbor labels onto edges) + two keyed
    * aggs (vote count per (node, label), then argmax-by-(count, min label)
    * via a single `max(struct(cnt, -label))` — no window, no sort). Every
    * node in the edge list has ≥1 neighbor, so no keep-own-label branch is
    * needed. Output pins community MEMBERSHIP (size + member-id sum per
    * label), as [[components]] does. */
  private val LpaRounds = 3

  def lpa(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    val und = edges.select(col("u").as("a"), col("v").as("b"))
      .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
    graft.operators.GraphOps.lpa(und, LpaRounds)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
      .orderBy(col("n_nodes").desc, col("label"))
  }

  val lpaOracle: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS (
         |  SELECT e.b AS node, l.label, COUNT(*) AS cnt
         |  FROM e JOIN l${i - 1} l ON l.node = e.a GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pe AS (
       |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
       |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
       |$rounds
       |SELECT label, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_sum
       |FROM l$LpaRounds GROUP BY label
       |ORDER BY n_nodes DESC, label""".stripMargin
  }

  /** Bounded k-core peeling (Seidman 1983; the Batagelj-Zaveršnik degree
    * peel, distributed): [[KcoreRounds]] unrolled rounds of "drop every
    * node with degree < k, recompute degrees" over the sampled co-supply
    * graph — the standard dense-subgraph screen crawl-graph pipelines run
    * before community mining. Like [[bfs]]'s bounded hops, the fixed round
    * count makes the plan depth static; each round is one keyed degree agg
    * + two keyed semi-joins (edges whose BOTH endpoints survive), so cost
    * is bounded by the live edge count per round and nothing is
    * driver-side. Integer degrees ⇒ hash-exact at any partitioning. The
    * oracle replays the peel as an unrolled CTE chain.
    *
    * Each round references its input THREE times (degree agg + two
    * semi-joins), so without lineage truncation the expensive co-supply
    * edge build would replicate 3^rounds times in the final plan (measured
    * 9.1s at sf0.1); [[graft.operators.GraphOps.kcorePeel]] truncates the
    * edge list and every round's output, keeping it materialized once. */
  private val KcoreRounds = 3
  private val KcoreK = 3

  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    val core = graft.operators.GraphOps.kcorePeel(edges, KcoreK, KcoreRounds)
    core.select(col("u").as("a"), col("v").as("b"))
      .unionAll(core.select(col("v").as("a"), col("u").as("b")))
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg_in_core"))
      .orderBy(col("node"))
  }

  val kcoreOracle: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""k$i AS (
         |  SELECT a AS node FROM (
         |    SELECT a, COUNT(*) AS deg FROM (
         |      SELECT u AS a FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) x
         |    GROUP BY a) d WHERE deg >= $KcoreK),
         |e$i AS (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM k$i) AND v IN (SELECT node FROM k$i))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pe AS (
       |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
       |$rounds
       |SELECT a AS node, COUNT(*) AS deg_in_core FROM (
       |  SELECT u AS a FROM e$KcoreRounds UNION ALL SELECT v FROM e$KcoreRounds) x
       |GROUP BY a ORDER BY a""".stripMargin
  }

  /** Jaccard link prediction (Liben-Nowell & Kleinberg CIKM'03): score
    * non-adjacent node pairs at distance 2 by neighbor-set overlap,
    * cn / (deg u + deg v − cn) — the "suggest an edge" primitive of graph
    * curation. Wedge enumeration is the scale hazard (Σ deg² at hubs), so
    * wedge MIDDLES are degree-capped at [[LinkpredCap]] — the stop-shingle
    * pattern: a hub of degree d would contribute d² candidate pairs while
    * adding little signal; endpoint degrees in the score stay uncapped.
    * (Inert on this corpus — max sampled degree is far below the cap — but
    * load-bearing at 100 TB; the oracle replays the cap.) Keyed joins
    * throughout; existing edges drop via left-anti on the (u < v) edge
    * list; scores are exact-integer rationals in one IEEE division; output
    * is TakeOrdered top-50 with full (score, u, v) tie determinism. */
  private val LinkpredCap = 64L

  def linkpred(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    graft.operators.GraphOps.jaccardLinkPred(edges, LinkpredCap)
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(50)
  }

  val linkpredOracle: String =
    s"""WITH pe AS (
       |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
       |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
       |deg AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY 1),
       |w AS (
       |  SELECT e.a, e.b FROM e
       |  JOIN (SELECT a FROM deg WHERE deg <= $LinkpredCap) m ON e.a = m.a),
       |cand AS (
       |  SELECT x.b AS u, y.b AS v, COUNT(*) AS cn
       |  FROM w x JOIN w y ON x.a = y.a AND x.b < y.b
       |  GROUP BY 1, 2),
       |fresh AS (
       |  SELECT c.u, c.v, c.cn FROM cand c
       |  LEFT JOIN e0 ON e0.u = c.u AND e0.v = c.v
       |  WHERE e0.u IS NULL)
       |SELECT f.u, f.v, f.cn,
       |  CAST(f.cn AS DOUBLE) / CAST(du.deg + dv.deg - f.cn AS DOUBLE) AS jaccard
       |FROM fresh f
       |JOIN deg du ON du.a = f.u
       |JOIN deg dv ON dv.a = f.v
       |ORDER BY jaccard DESC, f.u, f.v LIMIT 50""".stripMargin

  /** Bounded-round weighted shortest paths (Bellman-Ford, [[SsspRounds]]
    * relaxations) from the multi-source set (node % 10 == 0) over the
    * sampled co-supply graph, with deterministic integer edge weights
    * w(u,v) = (u*7 + v*13) % 20 + 1 assigned on the canonical u<v
    * orientation (so both directions agree). After R rounds d(v) is exactly
    * the min-weight path using ≤ R edges — the Bellman-Ford invariant — so
    * the oracle can replay it as a hop-bounded recursive CTE with set
    * semantics and a final MIN.
    *
    * Scale shape: per round one edges ⋈ settled-frontier keyed join plus a
    * min-agg and a left-join merge (the Pregel lowering; same plan family as
    * [[bfs]] but carrying weighted distances). Integer arithmetic end to
    * end ⇒ hash-exact at any partitioning. Reference analog: Ballista has
    * no graph tier; this extends the engine the way GraphFrames extends
    * Spark (SURVEY §2 beyond-reference operators). */
  private val SsspRounds = 4

  def sssp(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
      .select(col("u"), col("v"),
        ((col("u") * 7 + col("v") * 13) % 20 + 1).as("w"))
    val und = edges.select(col("u").as("a"), col("v").as("b"), col("w"))
      .unionAll(edges.select(col("v").as("a"), col("u").as("b"), col("w")))
    graft.operators.GraphOps.sssp(und, _ % 10 === 0, SsspRounds)
      .orderBy(col("node"))
  }

  val ssspOracle: String =
    s"""WITH RECURSIVE pe AS (
       |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |e0 AS (
       |  SELECT u, v, (u * 7 + v * 13) % 20 + 1 AS w
       |  FROM pe WHERE (u * 31 + v) % 20 = 0),
       |e AS (SELECT u AS a, v AS b, w FROM e0
       |      UNION ALL SELECT v, u, w FROM e0),
       |nodes AS (SELECT DISTINCT a AS node FROM e),
       |reach(node, dist, hops) AS (
       |  SELECT node, CAST(0 AS BIGINT), 0 FROM nodes WHERE node % 10 = 0
       |  UNION
       |  SELECT e.b, r.dist + e.w, r.hops + 1
       |  FROM reach r JOIN e ON e.a = r.node
       |  WHERE r.hops < $SsspRounds),
       |sp AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM sp
       |ORDER BY node""".stripMargin

  /** Local clustering coefficient per node — 2·T(v) / (d(v)·(d(v)−1)) over
    * the same 5%-sampled co-supply graph as [[triangles]] (and the same
    * degree-oriented wedge enumeration, so hub cost stays arboricity-
    * bounded). The coefficient is ONE IEEE division of exact integers ⇒
    * bit-exact; nodes with d < 2 are excluded (undefined denominator).
    * Output: top 100 by coefficient via TakeOrdered. */
  def clustering(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    graft.operators.GraphOps.clusteringCoefficients(edges)
      .orderBy(col("coeff").desc, col("node"))
      .limit(100)
  }

  val clusteringOracle: String =
    """WITH pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
      |deg AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT u AS id FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY id),
      |t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tc AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri
      |  FROM (SELECT a AS id FROM t UNION ALL SELECT b FROM t
      |        UNION ALL SELECT c FROM t)
      |  GROUP BY id)
      |SELECT deg.id AS node, deg.d, COALESCE(tc.n_tri, 0) AS n_tri,
      |  CAST(COALESCE(tc.n_tri, 0) * 2 AS DOUBLE) /
      |    CAST(deg.d * (deg.d - 1) AS DOUBLE) AS coeff
      |FROM deg LEFT JOIN tc ON deg.id = tc.id
      |WHERE deg.d >= 2
      |ORDER BY coeff DESC, node LIMIT 100""".stripMargin

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — one number saying
    * whether hubs attach to hubs. Degree sums/moments are exact integers in
    * ONE map-side-combined agg; the coefficient is then a fixed IEEE
    * sequence over their double casts (the agg_ttest determinism pattern).
    * Two keyed joins to attach degrees, one scalar output row. */
  def assort(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
      .filter((col("u") * 31 + col("v")) % 20 === 0)
    graft.operators.GraphOps.degreeAssortativity(edges)
  }

  val assortOracle: String =
    """WITH pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e0 AS (SELECT u, v FROM pe WHERE (u * 31 + v) % 20 = 0),
      |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY a),
      |ed AS (
      |  SELECT dx.d AS dx, dy.d AS dy
      |  FROM e JOIN deg dx ON e.a = dx.id JOIN deg dy ON e.b = dy.id),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
      |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
      |    CAST(SUM(dy * dy) AS BIGINT) AS syy
      |  FROM ed),
      |staged AS (
      |  SELECT m,
      |    CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |      AS num,
      |    sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |         (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |      AS den
      |  FROM m)
      |SELECT m AS n_dir_edges,
      |  CASE WHEN den > 0.0 THEN num / den END AS assortativity
      |FROM staged""".stripMargin

  /** HITS hubs/authorities (Kleinberg 1999), 2 unrolled mutual-reinforcement
    * rounds over the canonically-oriented (low id → high id) sampled
    * co-supply graph: a ← Σ_in h, h ← Σ_out a — each one keyed join + sum
    * (the Pregel lowering, like [[pageRank]]). Scores stay UNNORMALIZED
    * exact integers (normalization is a monotone per-round constant, so
    * rankings are identical and no division ever happens) ⇒ hash-exact at
    * any partitioning. Output: top 20 hubs with both scores. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("src"), col("b.s").as("dst"))
      .distinct()
      .filter((col("src") * 31 + col("dst")) % 20 === 0)
    graft.operators.GraphOps.hits(edges, rounds = 2)
      .orderBy(col("hub").desc, col("node"))
      .limit(20)
  }

  val hitsOracle: String =
    """WITH pe AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |e AS (SELECT u AS src, v AS dst FROM pe WHERE (u * 31 + v) % 20 = 0),
      |nodes AS (
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
      |a1 AS (
      |  SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS a FROM nodes n
      |  LEFT JOIN (SELECT e.dst AS node, SUM(h.h) AS s FROM e
      |             JOIN h0 h ON h.node = e.src GROUP BY e.dst) s ON s.node = n.node),
      |h1 AS (
      |  SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS h FROM nodes n
      |  LEFT JOIN (SELECT e.src AS node, SUM(a.a) AS s FROM e
      |             JOIN a1 a ON a.node = e.dst GROUP BY e.src) s ON s.node = n.node),
      |a2 AS (
      |  SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS a FROM nodes n
      |  LEFT JOIN (SELECT e.dst AS node, SUM(h.h) AS s FROM e
      |             JOIN h1 h ON h.node = e.src GROUP BY e.dst) s ON s.node = n.node),
      |h2 AS (
      |  SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS h FROM nodes n
      |  LEFT JOIN (SELECT e.src AS node, SUM(a.a) AS s FROM e
      |             JOIN a2 a ON a.node = e.dst GROUP BY e.src) s ON s.node = n.node)
      |SELECT h2.node, h2.h AS hub, a2.a AS authority
      |FROM h2 JOIN a2 ON a2.node = h2.node
      |ORDER BY hub DESC, h2.node LIMIT 20""".stripMargin

  def all: Seq[(String, (QueryFn, Option[String]))] = Seq(
    "graph_clustering" -> ((clustering _, Some(clusteringOracle))),
    "graph_hits" -> ((hits _, Some(hitsOracle))),
    "graph_assort" -> ((assort _, Some(assortOracle))),
    "graph_pagerank" -> ((pageRank _, Some(pageRankOracle))),
    "graph_sssp" -> ((sssp _, Some(ssspOracle))),
    "graph_triangles" -> ((triangles _, Some(trianglesOracle))),
    "graph_components" -> ((components _, Some(componentsOracle))),
    "graph_bfs" -> ((bfs _, Some(bfsOracle))),
    "graph_lpa" -> ((lpa _, Some(lpaOracle))),
    "graph_kcore" -> ((kcore _, Some(kcoreOracle))),
    "graph_linkpred" -> ((linkpred _, Some(linkpredOracle)))
  )
}
