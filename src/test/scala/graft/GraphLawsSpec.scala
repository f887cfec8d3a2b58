package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** Randomized differentials for the iterative graph cores against
  * independent sequential references. The gated queries check each core on
  * ONE synthetic graph shape (co-supply / modular-link), with oracles that
  * replay the same round structure; these laws run the cores on random
  * graphs with planted adversarial shapes — long chains (deeper than the
  * round budget: the bounded-round contract must truncate identically),
  * hubs, isolated cliques, dangling and zero-indegree nodes — and compare
  * against direct Scala implementations of the CONTRACT (BFS level
  * expansion, Bellman-Ford by rounds, peel-to-fixpoint, synchronous vote
  * with (count, min-label) argmax, truncating fixed-point power iteration).
  */
class GraphLawsSpec extends SparkSpec {

  /** Random undirected edge set over n nodes: random pairs plus a planted
    * chain 0−1−2−…−(chainLen) (diameter control), a hub (node 1 linked
    * everywhere), and a triangle clique at the top ids. Returned u < v,
    * distinct. */
  private def randomEdges(seed: Long, n: Int, m: Int, chainLen: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    val es = scala.collection.mutable.Set.empty[(Long, Long)]
    for (_ <- 0 until m) {
      val u = rng.nextInt(n); val v = rng.nextInt(n)
      if (u != v) es += ((math.min(u, v).toLong, math.max(u, v).toLong))
    }
    for (i <- 0 until chainLen) es += ((i.toLong, (i + 1).toLong))
    for (j <- 3 until n by 7) es += ((1L, j.toLong))
    es += ((n - 3L, n - 2L)); es += ((n - 3L, n - 1L)); es += ((n - 2L, n - 1L))
    es.toSeq
  }

  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    (edges.map { case (u, v) => (u, v) } ++ edges.map { case (u, v) => (v, u) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  private def undDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    GraphOps.undirect(edges.toDF("u", "v"))
  }

  test("bounded-hop BFS equals level expansion truncated at the hop budget") {
    for (seed <- Seq(5L, 63L, 131L); hops <- Seq(2, 4, 7)) { // 7 > LazyRoundLimit: the truncating branch
      val edges = randomEdges(seed, n = 24, m = 14, chainLen = 12)
      val adj = adjacency(edges)
      val sources = adj.keySet.filter(_ % 5 == 0)
      // reference: synchronous frontier expansion, `hops` levels
      var dist = sources.map(_ -> 0L).toMap
      for (h <- 1 to hops) {
        val next = dist.keys.flatMap(adj(_)).filterNot(dist.contains).map(_ -> h.toLong)
        dist = dist ++ next
      }
      val got = GraphOps.bfs(undDf(edges), _ % 5 === 0, hops)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == dist.toSet, s"seed=$seed hops=$hops: " +
        s"missing ${(dist.toSet -- got).take(5)}, spurious ${(got -- dist.toSet).take(5)}")
    }
  }

  test("bounded-round SSSP equals Bellman-Ford truncated at the round budget") {
    for (seed <- Seq(9L, 41L, 119L); rounds <- Seq(2, 4, 7)) { // 7 > LazyRoundLimit: the truncating branch
      val rng = new scala.util.Random(seed * 31)
      val edges = randomEdges(seed, n = 24, m = 14, chainLen = 12)
      val w = edges.map(e => e -> (1L + rng.nextInt(20))).toMap
      // reference: synchronous Bellman-Ford — d_{r+1}(v) = min(d_r(v),
      // min over undirected (a,v): d_r(a) + w)
      val undRef = edges.flatMap { case (u, v) =>
        Seq((u, v, w((u, v))), (v, u, w((u, v))))
      }
      val nodes = undRef.map(_._1).distinct
      var dist: Map[Long, Long] = nodes.filter(_ % 5 == 0).map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relaxed = undRef.flatMap { case (a, b, wt) =>
          dist.get(a).map(da => b -> (da + wt))
        }.groupBy(_._1).map { case (b, cs) => b -> cs.map(_._2).min }
        dist = (dist.keySet ++ relaxed.keySet).map { v =>
          v -> math.min(dist.getOrElse(v, Long.MaxValue), relaxed.getOrElse(v, Long.MaxValue))
        }.toMap
      }
      import spark.implicits._
      val und = GraphOps.undirect(
        edges.map { case (u, v) => (u, v, w((u, v))) }.toDF("u", "v", "w"), "w")
      val got = GraphOps.sssp(und, _ % 5 === 0, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == dist.toSet, s"seed=$seed rounds=$rounds: " +
        s"missing ${(dist.toSet -- got).take(5)}, spurious ${(got -- dist.toSet).take(5)}")
    }
  }

  test("fixpoint BFS and SSSP equal full BFS and Dijkstra — no round budget") {
    // The fixpoint variants remove the bounded-round caveat, so the
    // references are the REAL algorithms: full level expansion and a
    // textbook Dijkstra. The planted chain makes eccentricities larger
    // than any small fixed budget, proving the convergence probe runs as
    // many rounds as the graph needs.
    for (seed <- Seq(15L, 53L)) {
      val rng = new scala.util.Random(seed * 7)
      val edges = randomEdges(seed, n = 24, m = 10, chainLen = 18)
      val adj = adjacency(edges)
      val sources = adj.keySet.filter(_ % 11 == 0) // sparse sources, long reach
      // full BFS level expansion, to exhaustion
      var dist = sources.map(_ -> 0L).toMap
      var level = 0L
      var cur = sources
      while (cur.nonEmpty) {
        level += 1
        val next = cur.flatMap(adj(_)).filterNot(dist.contains)
        next.foreach(v => dist += v -> level)
        cur = next
      }
      import spark.implicits._
      val und = undDf(edges)
      val gotBfs = GraphOps.bfsToFixpoint(und, _ % 11 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotBfs == dist.toSet, s"seed=$seed bfs: missing ${(dist.toSet -- gotBfs).take(5)}, " +
        s"spurious ${(gotBfs -- dist.toSet).take(5)}")

      // Dijkstra over the same graph with random positive weights
      val w = edges.map(e => e -> (1L + rng.nextInt(20))).toMap
      val wAdj = edges.flatMap { case (u, v) =>
        Seq((u, (v, w((u, v)))), (v, (u, w((u, v)))))
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      val dj = scala.collection.mutable.Map[Long, Long](sources.toSeq.map(_ -> 0L): _*)
      val settled = scala.collection.mutable.Set.empty[Long]
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), Long](-_._1))
      sources.foreach(s => pq.enqueue((0L, s)))
      while (pq.nonEmpty) {
        val (dd, u) = pq.dequeue()
        if (!settled(u)) {
          settled += u
          for ((v, wt) <- wAdj.getOrElse(u, Nil) if dj.getOrElse(v, Long.MaxValue) > dd + wt) {
            dj(v) = dd + wt; pq.enqueue((dd + wt, v))
          }
        }
      }
      val undW = GraphOps.undirect(
        edges.map { case (u, v) => (u, v, w((u, v))) }.toDF("u", "v", "w"), "w")
      val gotSssp = GraphOps.ssspToFixpoint(undW, _ % 11 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSssp == dj.toSet, s"seed=$seed sssp: missing ${(dj.toSet -- gotSssp).take(5)}, " +
        s"spurious ${(gotSssp -- dj.toSet).take(5)}")
    }
  }

  test("fixpoint k-core equals sequential peeling on a cascade-deep chain") {
    for (seed <- Seq(9L, 47L); k <- Seq(2, 3)) {
      // chainLen 14 makes the k=2 peel cascade one node per chain end per
      // round — far past any small fixed budget
      val edges = randomEdges(seed, n = 20, m = 10, chainLen = 14)
      var live = edges
      var changed = true
      while (changed) {
        val deg = adjacency(live).map { case (n, vs) => n -> vs.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = live.filter { case (u, v) => keep(u) && keep(v) }
        changed = next.size != live.size
        live = next
      }
      import spark.implicits._
      val got = GraphOps.kcoreToFixpoint(edges.toDF("u", "v"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == live.toSet, s"seed=$seed k=$k: " +
        s"missing ${(live.toSet -- got).take(5)}, spurious ${(got -- live.toSet).take(5)}")
    }
  }

  test("k-core peel with a fixpoint-covering round budget equals sequential peel-to-fixpoint") {
    for (seed <- Seq(3L, 29L); k <- Seq(2, 3)) {
      val edges = randomEdges(seed, n = 18, m = 12, chainLen = 10)
      // reference: classic sequential peeling until stable — the true k-core
      var live = edges
      var changed = true
      while (changed) {
        val deg = adjacency(live).map { case (n, vs) => n -> vs.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = live.filter { case (u, v) => keep(u) && keep(v) }
        changed = next.size != live.size
        live = next
      }
      // the planted chain peels one node per END per round at k=2; 18
      // rounds cover any cascade on 18 nodes
      import spark.implicits._
      val got = GraphOps.kcorePeel(edges.toDF("u", "v").localCheckpoint(), k, rounds = 18)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == live.toSet, s"seed=$seed k=$k: " +
        s"missing ${(live.toSet -- got).take(5)}, spurious ${(got -- live.toSet).take(5)}")
    }
  }

  test("label propagation equals the synchronous (count, min-label) vote transcription") {
    for (seed <- Seq(13L, 57L, 223L); rounds <- Seq(1, 3)) {
      val edges = randomEdges(seed, n = 20, m = 16, chainLen = 8)
      val adj = adjacency(edges)
      var label = adj.keySet.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        label = adj.map { case (node, neigh) =>
          val votes = neigh.groupBy(label).map { case (l, xs) => (l, xs.size) }
          // most frequent label, ties -> minimum label
          node -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }
      val got = GraphOps.lpa(undDf(edges), rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == label.toSet, s"seed=$seed rounds=$rounds: " +
        s"missing ${(label.toSet -- got).take(5)}, spurious ${(got -- label.toSet).take(5)}")
    }
  }

  test("alternating connected components equal union-find on random graphs") {
    // independent reference: union-find with path compression, roots kept
    // at the component minimum, on graphs with a chain longer than the
    // dense-cluster diameters the dedup gates produce
    for (seed <- Seq(19L, 73L)) {
      val edges = randomEdges(seed, n = 26, m = 18, chainLen = 14)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val want = adjacency(edges).keySet.map(n => (n, find(n)))
      import spark.implicits._
      val df = edges.toDF("u", "v")
      val gotAlt = graft.operators.Clustering.connectedComponentsAlternating(df, "u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotAlt == want, s"seed=$seed alternating: missing ${(want -- gotAlt).take(5)}, " +
        s"spurious ${(gotAlt -- want).take(5)}")
    }
  }

  test("degree-oriented triangle counts equal brute-force triple enumeration") {
    // The scale lemma is the ORIENTATION: wedges are enumerated only at the
    // minimum-(degree, id) vertex, so per-node counts must be invariant to
    // it. The planted hub (node 1) is the shape where id-ordering and
    // degree-ordering disagree most.
    for (seed <- Seq(11L, 37L)) {
      val edges = randomEdges(seed, n = 20, m = 30, chainLen = 6)
      val eset = edges.toSet
      def hasEdge(a: Long, b: Long) = eset((math.min(a, b), math.max(a, b)))
      val nodes = adjacency(edges).keySet.toSeq.sorted
      val want = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size; l <- (j + 1) until nodes.size
        (u, v, w) = (nodes(i), nodes(j), nodes(l))
        if hasEdge(u, v) && hasEdge(u, w) && hasEdge(v, w)
        n <- Seq(u, v, w)
      } yield n).groupBy(identity).map { case (n, xs) => (n, xs.size.toLong) }.toSet
      import spark.implicits._
      val got = GraphOps.triangleCounts(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"seed=$seed: missing ${(want -- got).take(5)}, " +
        s"spurious ${(got -- want).take(5)}")
      assert(want.nonEmpty, "no triangles generated; corpus drifted")
    }
  }

  test("clustering coefficients equal the per-node formula over brute-force triangles") {
    for (seed <- Seq(21L, 77L)) {
      val edges = randomEdges(seed, n = 18, m = 26, chainLen = 5)
      val eset = edges.toSet
      def hasEdge(a: Long, b: Long) = eset((math.min(a, b), math.max(a, b)))
      val adj = adjacency(edges)
      val want = adj.collect { case (n, neigh) if neigh.size >= 2 =>
        val ns = neigh.distinct
        val tri = (for { i <- ns.indices; j <- (i + 1) until ns.size
                         if hasEdge(ns(i), ns(j)) } yield 1).size.toLong
        val d = neigh.size.toLong
        (n, d, tri, tri.toDouble * 2 / (d * (d - 1)).toDouble)
      }.toSet
      import spark.implicits._
      val got = GraphOps.clusteringCoefficients(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want, s"seed=$seed: missing ${(want -- got).take(5)}, " +
        s"spurious ${(got -- want).take(5)}")
    }
  }

  test("link prediction equals brute-force distance-2 Jaccard; the middle cap prunes exactly") {
    for (seed <- Seq(33L, 85L)) {
      val edges = randomEdges(seed, n = 18, m = 20, chainLen = 6)
      val eset = edges.toSet
      val adj = adjacency(edges)
      def ref(cap: Long): Set[(Long, Long, Long, Double)] = {
        val mids = adj.filter { case (_, ns) => ns.size <= cap }.keySet
        (for {
          u <- adj.keySet; v <- adj.keySet
          if u < v && !eset((u, v))
          cn = adj(u).toSet.intersect(adj(v).toSet).count(mids)
          if cn > 0
        } yield (u, v, cn.toLong,
          cn.toDouble / (adj(u).size + adj(v).size - cn).toDouble)).toSet
      }
      import spark.implicits._
      val df = edges.toDF("u", "v")
      // cap disabled: exact distance-2 Jaccard
      val gotAll = GraphOps.jaccardLinkPred(df, Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotAll == ref(Long.MaxValue), s"seed=$seed uncapped: " +
        s"missing ${(ref(Long.MaxValue) -- gotAll).take(5)}, spurious ${(gotAll -- ref(Long.MaxValue)).take(5)}")
      // tight cap: the planted hub (node 1) is excluded as a wedge middle
      // but its own degree still enters scores uncapped
      val cap = 4L
      val gotCap = GraphOps.jaccardLinkPred(df, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotCap == ref(cap), s"seed=$seed cap=$cap: " +
        s"missing ${(ref(cap) -- gotCap).take(5)}, spurious ${(gotCap -- ref(cap)).take(5)}")
      assert(gotCap != gotAll, "cap never engaged; corpus drifted")
    }
  }

  test("degree assortativity equals the sequential Pearson over endpoint degrees") {
    for (seed <- Seq(25L, 49L)) {
      val edges = randomEdges(seed, n = 16, m = 18, chainLen = 5)
      val adj = adjacency(edges)
      val dirs = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      val (m, sx, sy, sxy, sxx, syy) = dirs.foldLeft((0L, 0L, 0L, 0L, 0L, 0L)) {
        case ((m, sx, sy, sxy, sxx, syy), (a, b)) =>
          val (dx, dy) = (adj(a).size.toLong, adj(b).size.toLong)
          (m + 1, sx + dx, sy + dy, sxy + dx * dy, sxx + dx * dx, syy + dy * dy)
      }
      val num = m.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val den = math.sqrt((m.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
        (m.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      val want = if (den > 0.0) Some(num / den) else None
      import spark.implicits._
      val row = GraphOps.degreeAssortativity(edges.toDF("u", "v")).collect().head
      assert(row.getLong(0) == m)
      val got = if (row.isNullAt(1)) None else Some(row.getDouble(1))
      assert(got == want, s"seed=$seed: got $got want $want")
    }
  }

  test("unnormalized HITS equals the sequential alternation") {
    for (seed <- Seq(7L, 91L); rounds <- Seq(1, 3)) {
      val rng = new scala.util.Random(seed)
      val n = 14
      val edges = Seq.fill(30)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (s, d) => s != d }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var h: Map[Long, Long] = nodes.map(_ -> 1L).toMap
      var a: Map[Long, Long] = Map.empty
      for (_ <- 1 to rounds) {
        a = nodes.map(v => v -> edges.collect { case (s, d) if d == v => h(s) }.sum).toMap
        h = nodes.map(v => v -> edges.collect { case (s, d) if s == v => a(d) }.sum).toMap
      }
      val want = nodes.map(v => (v, h(v), a(v))).toSet
      import spark.implicits._
      val got = GraphOps.hits(edges.toDF("src", "dst"), rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed=$seed rounds=$rounds: " +
        s"missing ${(want -- got).take(5)}, spurious ${(got -- want).take(5)}")
    }
    // a double-ended hub (dIn = dOut = 2000 at node 0) whose worst-case
    // global (dIn·dOut)^rounds bound is 6.4e19 — but no edge pairs the two
    // degrees (every edge touches a degree-1 leaf), so the true scores peak
    // near 2000^3 ≈ 8e9: rounds=3 must construct AND run to the correct
    // answer.
    import spark.implicits._
    val hub = ((1L to 2000L).map(v => (0L, v)) ++ (1L to 2000L).map(v => (v, 0L)))
      .toDF("src", "dst")
    val hubRows = GraphOps.hits(hub, rounds = 3).collect()
    assert(hubRows.length == 2001)
    // sequential alternation on the hub: a(0)=2000, h(leaf)=2000,
    // h(0)=2000, a(leaf)=2000 after r1; values square-ish per round —
    // spot-check node 0 against the closed form (h=4000^... ) via the
    // same in-test sequential reference
    val hubEdges = ((1L to 2000L).map(v => (0L, v)) ++ (1L to 2000L).map(v => (v, 0L)))
    val hubNodes = (0L to 2000L)
    var hh: Map[Long, Long] = hubNodes.map(_ -> 1L).toMap
    var aa: Map[Long, Long] = Map.empty
    for (_ <- 1 to 3) {
      aa = hubNodes.map(v => v -> hubEdges.collect { case (s, d) if d == v => hh(s) }.sum).toMap
      hh = hubNodes.map(v => v -> hubEdges.collect { case (s, d) if s == v => aa(d) }.sum).toMap
    }
    assert(hubRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      hubNodes.map(v => (v, hh(v), aa(v))).toSet)
    // ...and a graph that really overflows — a complete 80x80 bipartite
    // core concentrates ALL mass every alternation: construction must
    // SUCCEED and the real overflow at rounds=6 (true h after 6
    // alternations = 6400^6 ≈ 6.9e22) must surface as the session's loud
    // ANSI ARITHMETIC_OVERFLOW on execution, not a silent wrap
    val bip = (for (s <- 1L to 80L; d <- 81L to 160L) yield (s, d)).toDF("src", "dst")
    val planned = GraphOps.hits(bip, rounds = 6)
    val overflow = intercept[Exception](planned.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(overflow).exists(_.toLowerCase.contains("overflow")),
      messages(overflow).mkString(" | "))
  }

  test("fixed-point PageRank equals the truncating sequential power iteration") {
    for (seed <- Seq(17L, 83L, 311L)) {
      val rng = new scala.util.Random(seed)
      val n = 16
      // DIRECTED multigraph: parallel edges and self-loops allowed; some
      // nodes dangling (no out-edges), some with zero in-degree
      val edges = Seq.fill(40)((rng.nextInt(n - 4).toLong, rng.nextInt(n).toLong))
      val nodes = (0 until n).map(_.toLong)
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to 3) {
        val inSum = edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _) => r(s) / deg(s) }.sum
        }
        r = nodes.map(v => v -> (150000L + inSum.getOrElse(v, 0L) * 85L / 100L)).toMap
      }
      import spark.implicits._
      val got = GraphOps.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters = 3)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got == r.toSet, s"seed=$seed: missing ${(r.toSet -- got).take(5)}, " +
        s"spurious ${(got -- r.toSet).take(5)}")
    }
  }
}
