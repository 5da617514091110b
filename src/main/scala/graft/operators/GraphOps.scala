package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Iterative graph analytics as repeated co-partitioned joins — the
  * one distributed-compute shape (fixed-point iteration) the rest of
  * the engine never needs. Connected components already exist for the
  * dup-cluster queries (Dedup large-star/small-star); this adds rank
  * propagation.
  */
object GraphOps {

  /** Fixed-iteration PageRank with INTEGER-EXACT arithmetic: ranks are
    * parts-per-trillion longs, per-edge contributions divide before
    * summing, and the damping multiply divides last — every step is
    * order-independent integer math, so any engine (or any partition
    * layout) reproduces it bit-for-bit. A float PageRank would differ
    * between engines by summation order; this one is oracle-checkable.
    *
    * Simplified model (documented, matched by the oracle): dangling
    * mass is dropped, not redistributed, and iteration count is fixed
    * rather than convergence-tested — rank ORDER at fixed iters is
    * what curation pipelines consume (e.g. centrality-weighted corpus
    * sampling à la harmonic-centrality web filtering).
    *
    * Shape at scale: edges dedupe once and memoize; each iteration is
    * one join (edges ⋈ ranks, both hash-partitioned on the same key,
    * so consecutive iterations reuse the exchange layout) + one
    * aggregate, write ∝ |nodes|. The node count is ONE driver scalar
    * (metadata, like Layout's min/max). Lineage truncates per
    * iteration so the plan never grows with the iteration count. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, massPpt: Long = 1000000000000L): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // The edge⋈degree join is LOOP-INVARIANT: hoist it out and
    // materialize once, so each iteration pays one join (ranks) instead
    // of two (guide §2.4 — remove repeated shuffles outright; the
    // degree column is 8 bytes against an edge row already shuffled
    // every round). Same integer arithmetic, same results.
    val eDeg = e.join(deg, "src").localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty graph")
    val base = ((15L * massPpt) / 100L) / n
    var ranks = nodes.select(col("node"), lit(massPpt / n).as("r"))
    for (_ <- 1 to iters) {
      val inbound = eDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      ranks = nodes
        .join(inbound, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(m, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_ppt"))
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * restricted to a SEED set — relevance flows outward from trusted
    * nodes instead of spreading uniformly, which is the whitelist
    * corpus filter ("rank every domain by its link-proximity to the
    * curated set") and the related-entity query on a knowledge graph.
    * Same integer-exact arithmetic, same per-iteration shape (one
    * co-partitioned join + aggregate, lineage truncated, |seeds| the
    * only driver scalar), same simplified dangling model as pageRank;
    * non-seed nodes receive mass ONLY through links, so unreachable
    * nodes converge to rank 0 — the property the filter relies on. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iters: Int,
      massPpt: Long = 1000000000000L): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val seedSet = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .join(nodes, "node", "left_semi")
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // Both loop-invariant joins hoist out of the iteration (guide
    // §2.4): the edge⋈degree join materializes once, and the per-node
    // teleport base — `base` for seeds, 0 otherwise — is a STATIC
    // column of the node table, so the per-iteration nodes⋈seeded
    // left-outer join disappears too. Each iteration then pays exactly
    // one join (ranks) + one aggregate + the rank rebuild join, the
    // same count as [[pageRank]]. Same integer arithmetic, same
    // results.
    val eDeg = e.join(deg, "src").localCheckpoint()
    val ns = seedSet.count()
    require(ns > 0, "personalizedPageRank needs >= 1 seed present in the graph")
    val base = ((15L * massPpt) / 100L) / ns
    val seeded = seedSet.withColumn("__seed", lit(1L))
    val nodeBase = nodes
      .join(seeded, Seq("node"), "left_outer")
      .select(col("node"), col("__seed").isNotNull.as("__is_seed"))
      .localCheckpoint()
    var ranks = nodeBase
      .select(col("node"),
        when(col("__is_seed"), lit(massPpt / ns)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val inbound = eDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      ranks = nodeBase
        .join(inbound, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (when(col("__is_seed"), lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(m, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_ppt"))
  }

  /** Synchronous label propagation for community detection — the
    * lightweight complement to PageRank (global centrality) and
    * connected components (reachability): labels flow to the locally
    * dominant neighborhood, so densely-linked clusters converge to one
    * label while bridges stay thin.
    *
    * DETERMINISTIC by construction, unlike textbook async LPA whose
    * result depends on visit order: updates are synchronous (round t+1
    * reads only round t), every node starts labeled with its own id,
    * and each round every node takes the most frequent label among its
    * neighbors with ties broken by the SMALLEST label — integer counts
    * and an integer tie-break, so any engine (and any partition
    * layout) reproduces the rounds bit-for-bit, which is what makes an
    * unrolled SQL oracle possible at all.
    *
    * Shape at scale: per round ONE join (neighbor list ⋈ labels, both
    * hash-partitioned on the node key — consecutive rounds reuse the
    * exchange layout) + two keyed aggregates; state is one label per
    * node; lineage truncates per round. The argmax-with-tie-break is
    * a single `min(struct(-count, label))` — no window funnel.
    *
    * Isolated nodes (no edges) are not in the output — they form
    * singleton communities trivially. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val und = edges
      .where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()
    val neigh = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint()
    var labels = neigh.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to iters) {
      labels = neigh
        .join(labels.select(col("v").as("u"), col("lbl")), "u")
        .groupBy("v", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("lbl"))
        .localCheckpoint()
    }
    labels.select(col("v").as("node"), col("lbl").as("label"))
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering signal (community cores, collocation cliques in a
    * term graph, spam-farm detection in a link graph).
    *
    * The scale problem with naive triangle joins is high-degree nodes:
    * wedges at a hub are quadratic in its degree. The standard fix
    * (node-iterator++ / degree orientation) is applied here: each
    * undirected edge orients from the (degree, node)-SMALLER endpoint
    * to the larger, making the graph a DAG where every node's
    * out-degree is O(√m) amortized; a triangle {x,y,z} with orientation
    * rank x<y<z is then found exactly once as the path x→y→z closed by
    * the edge x→z. All three steps are equijoins (path join on the mid
    * node, closure as a two-column LEFT SEMI) — no node ever fans out
    * by its full undirected degree. Counting is orientation-INDEPENDENT
    * (each triangle reports its 3 corners regardless of how it was
    * found), so an oracle enumerating by plain lexicographic order
    * must agree exactly.
    *
    * Input: any (srcCol, dstCol) edge list — direction, duplicates and
    * self-loops are normalized away. Output: (node, n_tri) for every
    * node in ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val o = withDeg.select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val path = o.select(col("u").as("x"), col("v").as("y"))
      .join(o.select(col("u").as("y"), col("v").as("z")), "y")
    val tris = path.join(
      o.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"), "left_semi")
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Multi-source BFS hop distance, fixed rounds — reachability WITH
    * distance, where connected components (reachability only) and
    * PageRank (global weight) don't answer "how far from the trusted
    * seed set?": the link-distance corpus filter (domains ≤ k hops
    * from a curated whitelist) and the blast-radius query on an
    * entity graph.
    *
    * Synchronous relaxation over the symmetrized edge list: round t+1
    * distances are min(dist_t, 1 + min over in-neighbors' dist_t) —
    * pure integer min-plus algebra, so the rounds are engine-exact
    * under any partition layout and an unrolled SQL oracle replays
    * them bit-for-bit. After k rounds distances ≤ k are final (BFS
    * frontier argument: a length-d shortest path relaxes once per
    * round); unreached nodes are absent from the output.
    *
    * Shape at scale: per round ONE join (edges ⋈ dists, both
    * hash-partitioned on the node key, consecutive rounds reuse the
    * exchange layout) + one map-side-combined min aggregate; state is
    * one long per reached node; lineage truncates per round; nothing
    * reaches the driver. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "shortestPaths needs rounds >= 1")
    val und = edges
      .where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()
    val e = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    var dist = sources
      .select(col(sourceCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("d"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(dist.select(col("node").as("u"), col("d")), "u")
        .select(col("v").as("node"), (col("d") + 1L).as("d"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    dist.select(col("node"), col("d").as("dist"))
  }

  /** Fixed-round k-core peeling — the dense-subgraph extractor that
    * complements triangles (local density) and label propagation
    * (partitioning): the k-core is the maximal subgraph where every
    * node keeps ≥ k neighbors INSIDE the subgraph, the standard
    * spam/boilerplate filter on link graphs and the "well-connected
    * region" selector for graph-aware corpus sampling.
    *
    * Synchronous peeling: each round computes within-subgraph degrees
    * and drops every node below k AT ONCE (and its incident edges).
    * Like pageRank/labelPropagation the round count is FIXED, not
    * convergence-tested — each round is pure integer set algebra, so
    * an unrolled SQL oracle replays it exactly; at convergence the
    * result IS the true k-core (peeling is order-insensitive: the
    * k-core is unique, and synchronous rounds reach it once no node
    * falls below k). Nodes never re-enter — degrees only shrink as
    * edges leave, so dropping is monotone and rounds only remove.
    *
    * Shape at scale: per round one keyed degree aggregate (map-side
    * combined) + two LEFT SEMI joins of the edge list against the
    * surviving-node set, all hash-partitioned on the node key;
    * lineage truncates per round; nothing reaches the driver.
    *
    * Output: (node, core_deg) for every node surviving `rounds`
    * peels, with its within-subgraph degree after the final peel. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore needs k >= 1 and rounds >= 1")
    var e = edges
      .where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
      e = e
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }
}
