package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph clustering over candidate-pair output — the step that turns
  * near-duplicate PAIRS (Dedup.minhashPairs / simhashPairs / ngramJaccardPairs)
  * into duplicate CLUSTERS with one canonical keeper each, which is what a
  * training-data pipeline actually acts on (keep one doc per cluster).
  *
  * Reference scope note: the reference engine has no graph operators — this is
  * part of the beyond-reference training-data surface (brief §extensions), like
  * the pair generators it consumes.
  */
object Clustering {

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — O(log n) rounds regardless of component diameter, where
    * min-label propagation needs O(diameter) rounds: components can be long
    * chains (e.g. transitively-linked near-dups across shingled revisions),
    * and the dense star-shaped clusters dedup normally produces converge in
    * 2-3 rounds.
    *
    * Each round is two keyed aggregate+join passes over the edge list:
    *  - large-star: every node points its LARGER neighbors at the minimum
    *    of its neighborhood (long tails fold toward minima in parallel),
    *  - small-star: every node folds its smaller-or-equal neighbors onto
    *    that minimum, producing star edges.
    * The edge list only shrinks toward the final star forest (one edge per
    * non-root node), so per-round cost is bounded by the input edge count.
    *
    * @return (node, label) with label = component minimum (GraphLawsSpec
    *         checks it against union-find on random graphs)
    */
  def connectedComponentsAlternating(pairs: DataFrame, aCol: String, bCol: String,
                                     maxRounds: Int = 20): DataFrame = {
    // canonical undirected form (lo, hi), self-loops dropped
    val edges = Lineage.truncate(pairs
      .select(least(col(aCol), col(bCol)).as("lo"), greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())

    // Round 15 (second pass): each star phase computes its neighborhood
    // minimum with a WINDOW over one keyed exchange instead of a
    // groupBy-then-join — the join form shuffled the directed edge list
    // TWICE per phase (partial-agg exchange for m, raw-row exchange for the
    // join) where the window needs it once (guide §2.4: a window keyed like
    // the aggregation shares its shuffle). largeStar's intermediate
    // distinct is also dropped: its pre-distinct output is exactly one row
    // per input edge (only the v > u direction survives), smallStar's min
    // is duplicate-insensitive, and the round's final distinct subsumes it.
    // Net per round: 6 exchanges -> 3. The sf0.1 loop spent more driver
    // time scheduling its ~44 AQE-stage jobs than executing them (profiled
    // 2.2 s of gaps vs 1.4 s of loop job time); at cluster scale the same
    // change halves the shuffled bytes per round.

    def largeStar(e: DataFrame): DataFrame = {
      // neighborhoods over both directions; m(u) = min(Γ(u) ∪ {u}); both
      // directions from ONE evaluation of e via the two-struct explode
      val dir = e.select(explode(array(
          struct(col("lo").as("u"), col("hi").as("v")),
          struct(col("hi").as("u"), col("lo").as("v")))).as("d"))
        .select(col("d.u").as("u"), col("d.v").as("v"))
      val wu = Window.partitionBy(col("u"))
      dir.withColumn("m", least(min(col("v")).over(wu), col("u")))
        .filter(col("v") > col("u")) // larger neighbors re-point at the min
        // m ≤ u < v here, so (m, v) is canonical and never a self-loop
        .select(col("m").as("lo"), col("v").as("hi"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient toward the larger endpoint: u = hi, Γ⁻(u) = smaller neighbors
      val dir = e.select(col("hi").as("u"), col("lo").as("v"))
      val wu = Window.partitionBy(col("u"))
      // both output branches — smaller neighbors attach to the min, and u
      // itself attaches to the min — from ONE evaluation via a two-struct
      // explode; the final distinct is the round's only pair-level dedup
      dir.withColumn("m", min(col("v")).over(wu)) // all v < u
        .select(explode(array(
          struct(least(col("v"), col("m")).as("lo"), greatest(col("v"), col("m")).as("hi"),
            (col("v") =!= col("m")).as("keep")),
          struct(col("m").as("lo"), col("u").as("hi"), lit(true).as("keep")))).as("r"))
        .filter(col("r.keep"))
        .select(col("r.lo").as("lo"), col("r.hi").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
    }

    // Convergence test: the loop's fixpoint is exactly a STAR FOREST —
    // every edge (lo, hi) is root→leaf, i.e. no node has two parents (hi
    // appearing twice) and no node is both child and parent (hi also
    // appearing as lo). A star forest is a fixpoint of largeStar∘smallStar
    // (roots are local minima since lo < hi per edge), and Kiveris et al.
    // §3 show the fixpoint edge set is always a star forest — so testing
    // each round's output is equivalent to a next==prev comparison, but
    // costs ONE aggregation job over the checkpointed edges instead of two
    // exceptAll set-differences plus a full extra round that computes no
    // change. An input that is already a star forest is a fixpoint, so one
    // round over it returns it unchanged.
    def isStarForest(e: DataFrame): Boolean =
      e.select(explode(array(
          struct(col("lo").as("node"), lit(0).as("child")),
          struct(col("hi").as("node"), lit(1).as("child")))).as("r"))
        .groupBy(col("r.node"))
        .agg(sum(col("r.child")).as("nc"), count(lit(1)).as("n"))
        // two parents, or child-and-parent (a chain) — either breaks a star
        .filter(col("nc") > 1 || (col("nc") === 1 && col("n") > 1))
        .isEmpty
    val forest = Lineage.fixpoint("connectedComponentsAlternating", edges, maxRounds)(
      e => smallStar(largeStar(e)))(identity)((_, next) => isStarForest(next))
    // read once, so not checkpointed
    val allNodes = edges.select(col("lo").as("node"))
      .unionByName(edges.select(col("hi").as("node")))
      .distinct()
    // fixpoint is a star forest: every non-root edge is (root, node)
    allNodes.join(forest.select(col("lo").as("label"), col("hi").as("node")), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** Assign every document a duplicate-cluster id (min member id; docs in no
    * pair are their own singleton cluster) plus the cluster size and a keeper
    * flag — the canonical-selection step of a dedup pipeline. Two keyed
    * shuffles beyond the component loop. */
  def assignClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String, bCol: String): DataFrame =
    sizeAndFlag(docs.select(col(idCol).as("doc_id"))
      .join(connectedComponentsAlternating(pairs, aCol, bCol).withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id")))

  /** SimHash near-dup clusters with the component loop run on
    * REPRESENTATIVE-level pairs (one node per distinct content) instead of
    * member-level pairs: a d-copy duplicate group contributes d² expanded
    * edges but zero extra connectivity, so at corpus scale — where duplicate
    * clusters dominate — the collapsed graph is orders of magnitude smaller.
    * Result is provably identical to clustering the expanded pairs: every
    * member connects to its representative (hamming 0 ≤ max), and each
    * representative is its group's minimum id, so the component minimum over
    * reps IS the minimum over all members. */
  def assignClustersSimhash(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int): DataFrame = {
    val (repPairs, memb, _) = Dedup.simhashRepPairs(docs, idCol, textCol, maxHamming)
    // Round 15: alternating star-contraction instead of min-label
    // propagation — the sf0.1 rep graph needed ~10 propagation rounds
    // (chained near-dups), and each round costs a fixed planning/scheduling
    // floor locally and a full |edges| join at scale; the alternating form
    // is O(log n) rounds with identical labels (the component minimum).
    val labels = connectedComponentsAlternating(repPairs, "rep_a", "rep_b")
    sizeAndFlag(memb
      .join(labels.withColumnRenamed("node", "rep_id"), Seq("rep_id"), "left")
      .select(col("member_id").as("doc_id"),
        coalesce(col("label"), col("rep_id")).as("cluster_id")))
  }

  private def sizeAndFlag(assigned: DataFrame): DataFrame = {
    val sizes = assigned.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }
}
