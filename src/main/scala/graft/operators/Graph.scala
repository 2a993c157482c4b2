package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (SURVEY.md §2 g-family):
  * the "parts bought together" graph every recommender / market-
  * structure analysis starts from, plus the classic node-level
  * algorithms (PageRank, label-propagation communities, triangle
  * counting, k-core, common-neighbor link prediction) — all expressed
  * as DataFrame joins/aggregates so Catalyst plans them, and all in
  * ENGINE-INDEPENDENT integer arithmetic so a SQL oracle re-derives
  * every number bit-for-bit.
  *
  * Graph construction (the scale contract):
  *  - Baskets come from ONE fact shuffle (`groupBy l_orderkey` +
  *    `collect_set`), and the pair stream explodes ordered pairs from
  *    each order's sorted part set — ≤ C(items-per-order, 2) pairs per
  *    order, LINEAR in orders (q46's shape), never parts × facts.
  *  - Each node then keeps its `topK` strongest co-purchase neighbors
  *    (weight desc, id asc tie-break) — a per-node window that bounds
  *    OUT-degree at any corpus size, the standard k-NN-graph
  *    sparsification. Symmetrizing unions the two directions, so
  *    IN-degree is bounded only by popularity: a hub part picked by
  *    many nodes keeps those edges (max observed degree 200 at
  *    sf0.1). Wedge-shaped work (triangles, common neighbors) is
  *    Σ deg² — at web scale you'd additionally threshold on weight or
  *    keep only RECIPROCAL edges to cap hubs; both are filters on the
  *    edge table, not plan changes.
  *  - Every join in the family is an equi-join on a node key; no
  *    algorithm ever materializes anything denser than the wedge
  *    stream.
  *
  * Determinism: PageRank runs in Long micro-units (see [[pagerank]])
  * so partial-aggregation order can never move a bit; label
  * propagation and k-core are min/count/argmax over integers; the only
  * doubles are final presentation ratios (Jaccard), rounded to 6 dp.
  */
object Graph {

  /** Out-degree cap for the sparsified graph. */
  val topK = 8

  /** PageRank damping as the exact rational 17/20 (= 0.85), applied in
    * overflow-free Long arithmetic — see [[pagerank]].
    */
  val dampNum = 17L
  val dampDen = 20L

  /** Canonical weighted co-purchase pairs `(pa < pb, w)`: w = number
    * of orders whose baskets contain both parts. One fact shuffle; the
    * pair stream is linear in orders (basket sizes are bounded).
    */
  def copurchasePairs(lineitem: DataFrame): DataFrame = {
    val baskets = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    baskets
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"), explode(expr("slice(ps, i + 2, size(ps))")).as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("w"))
  }

  /** The analytics graph: undirected edges `(a < b, w)` after each
    * node keeps its `topK` strongest neighbors over the symmetrized
    * pair view (weight desc, neighbor id asc). An edge survives if
    * EITHER endpoint ranks it — the union-symmetrization that keeps
    * the graph navigable; `distinct` collapses the two directions
    * (the weight is direction-free, so the row is identical).
    */
  def knnEdges(pairs: DataFrame): DataFrame = {
    val dir = pairs
      .select(col("pa").as("src"), col("pb").as("dst"), col("w"))
      .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst"), col("w")))
    dir
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(col("w").desc, col("dst"))))
      .filter(col("rn") <= topK)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .distinct()
  }

  /** Directed adjacency (both directions) of the undirected edges. */
  def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst"), col("w")))

  /** Integer micro-unit PageRank, `iters` synchronous rounds.
    *
    * Semantics (all Long, all floor division, all order-free):
    *   r0(u)    = 1,000,000
    *   share(u) = r(u) div outdeg(u)
    *   r'(v)    = 150,000 + floor(17 · Σ_{u→v} share(u) / 20)
    * The damped term is computed as
    * `(s div 20)·17 + ((s mod 20)·17) div 20` — algebraically
    * floor(17s/20) but never forms `17·s`, so a hub receiving the
    * whole graph's rank (Σshare ≈ N·10⁶) stays far from Long overflow
    * even at 10⁹ nodes. Fixed-point keeps the result independent of
    * partial-aggregation order — the same determinism argument as
    * [[graft.functions.VectorMeanAgg]]'s fixed-point centroids — and
    * lets a SQL oracle replay every round exactly.
    *
    * Each round is one equi-join (adjacency ⋈ ranks on src) + one
    * `groupBy dst` sum: 2 bounded shuffles per round over the edge
    * table; the plan grows linearly in `iters` (each round references
    * the previous ranks frame once). In the symmetrized graph every
    * node has outdeg ≥ 1 and indeg ≥ 1, so no dangling-mass term is
    * needed and the groupBy preserves the node set.
    */
  /** Adjacency annotated with the out-degree of `src` — the frame the
    * iterative algorithms join against every round. Callers should
    * persist it partitioned by `src` (see
    * [[GraphQueries.cachedAdjDeg]]): the per-round join on `src` then
    * reads the cached partitioning with NO exchange, and each round
    * pays only the `groupBy dst` shuffle.
    */
  def withOutDeg(adj: DataFrame): DataFrame =
    adj.join(adj.groupBy("src").agg(count(lit(1)).as("odeg")), "src")

  def pagerank(adjOd: DataFrame, iters: Int = 8): DataFrame = {
    var ranks = adjOd.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) ranks = pagerankStep(adjOd, ranks)
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** ONE damped-sum PageRank round over a (node, r) frame — the loop
    * body of [[pagerank]], exposed so a consumer holding round k can
    * derive round k+1 without replaying rounds 1..k (g15's
    * convergence delta costs 8 rounds, not 15).
    */
  def pagerankStep(adjOd: DataFrame, ranks: DataFrame): DataFrame =
    adjOd
      .join(ranks, adjOd("src") === ranks("node"))
      .select(col("dst"), expr("r div odeg").as("share"))
      .groupBy("dst")
      .agg(sum("share").as("s"))
      .select(col("dst").as("node"),
        expr(s"150000L + (s div $dampDen) * $dampNum" +
          s" + ((s % $dampDen) * $dampNum) div $dampDen").as("r"))

  /** PERSONALIZED PageRank: [[pagerank]]'s Long recurrence with the
    * teleport mass concentrated on a SEED set instead of spread
    * uniformly — "proximity to these products" for recommendations /
    * topic-sensitive ranking (Haveliwala, WWW'02). `seeds` is a
    * (node, tele) frame (tele in micro-units, e.g. 150000·N div |S|
    * per seed so total teleport mass matches the uniform variant);
    * non-seeds teleport nothing:
    *   r0(u)    = 1,000,000
    *   r'(v)    = tele(v) + floor(17 · Σ share(u) / 20)
    * Same overflow-free decomposition, same order-free Long sums,
    * same one-groupBy-per-round plan; the seed join is a broadcast
    * (seed sets are query-sized by construction).
    */
  def personalizedPagerank(adjOd: DataFrame, seeds: DataFrame,
      iters: Int = 8): DataFrame = {
    var ranks = adjOd.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      ranks = adjOd
        .join(ranks, adjOd("src") === ranks("node"))
        .select(col("dst"), expr("r div odeg").as("share"))
        .groupBy("dst")
        .agg(sum("share").as("s"))
        .join(broadcast(seeds), col("dst") === seeds("node"), "left")
        .select(col("dst").as("node"),
          (coalesce(col("tele"), lit(0L)) +
            expr(s"(s div $dampDen) * $dampNum" +
              s" + ((s % $dampDen) * $dampNum) div $dampDen")).as("r"))
    }
    ranks.select(col("node"), col("r").as("ppr_micro"))
  }

  /** Multi-source BFS hop distance: shortest hop count from any seed
    * node, `rounds` synchronous relaxation rounds. The recurrence
    * dist'(v) = min(dist(v), min dist(u)+1) references the previous
    * frontier TWICE (self + neighbors) — the 2^rounds plan-doubling
    * trap; adding zero-cost SELF-LOOPS to the adjacency folds the
    * self term into the join, so each round is ONE equi-join + ONE
    * min-groupBy and the plan grows linearly. Unreached nodes are
    * simply absent (no ∞ sentinel to carry). Returns (node, hops).
    */
  def bfsHops(adj: DataFrame, seeds: DataFrame, rounds: Int = 8): DataFrame = {
    val adjSelf = adj.select(col("src"), col("dst"), lit(1L).as("hop"))
      .unionAll(adj.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("hop")))
    var dist = seeds.select(col("node"), lit(0L).as("hops"))
    for (_ <- 1 to rounds) {
      dist = adjSelf.join(dist, adjSelf("src") === dist("node"))
        .select(col("dst"), (col("hops") + col("hop")).as("h"))
        .groupBy("dst").agg(min("h").as("hops"))
        .select(col("dst").as("node"), col("hops"))
    }
    dist
  }

  /** Per-landmark BFS distances: [[bfsHops]] with the frontier keyed
    * by (landmark, node), so ONE labeled BFS carries all landmarks at
    * once instead of |landmarks| sequential sweeps — the classic
    * landmark/sketch trick for centrality and distance estimation at
    * graph scale (cost = one BFS × the average number of landmarks
    * whose frontier covers a node, not |landmarks| full traversals).
    * Returns (landmark, node, hops) with hops = min-hop distance
    * within `rounds`.
    */
  def landmarkDistances(adj: DataFrame, seeds: DataFrame,
      rounds: Int = 8): DataFrame = {
    // frontier-delta BFS: in an unweighted graph a (landmark, node)
    // pair's FIRST touch is already its min-hop distance, so settled
    // pairs never re-relax — each round joins only the NEW frontier
    // against the edges (total work ≈ one labeled pass over the
    // reachable set, vs. rounds × full relaxations for the naive
    // unroll — measured 4.5 s → ~1 s at sf0.1). Per-round eager
    // lineage cuts (the g5/g13 iterative contract) + provably-safe
    // early exit: an empty frontier can never produce a later one.
    var settled = seeds.select(col("node").as("landmark"),
      col("node"), lit(0L).as("hops")).localCheckpoint()
    var frontier = settled
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val cand = adj.join(frontier, adj("src") === frontier("node"))
        .select(col("landmark"), col("dst"),
          (col("hops") + lit(1L)).as("h"))
        .groupBy("landmark", "dst").agg(min("h").as("hops"))
        .select(col("landmark"), col("dst").as("node"), col("hops"))
      frontier = cand.join(settled, Seq("landmark", "node"), "left_anti")
        .localCheckpoint()
      if (frontier.isEmpty) done = true
      // settled stays a LAZY union of the already-checkpointed
      // frontiers — lineage grows one union node per round while each
      // row materializes exactly once (re-checkpointing the
      // accumulated union would copy every settled row O(rounds)
      // times; self-review r18)
      else settled = settled.unionByName(frontier)
      r += 1
    }
    settled
  }

  /** Weighted-majority label propagation, `rounds` synchronous rounds:
    * every node starts as its own label; each round it adopts the
    * label with the largest total incident edge weight among its
    * neighbors (ties to the smallest label). Integer argmax — fully
    * deterministic and SQL-replayable. Each round is one equi-join +
    * one (node, label) aggregate + one per-node argmax window; the
    * candidate stream is edge-sized.
    */
  def labelPropagation(adj: DataFrame, rounds: Int = 4): DataFrame = {
    var lbl = adj.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) {
      lbl = adj
        .join(lbl, adj("src") === lbl("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(sum("w").as("wt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("dst").orderBy(col("wt").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("lbl"))
    }
    lbl
  }

  /** Per-community MODULARITY decomposition (Newman-Girvan): for a
    * community c, contribution Q_c = e_c/m − (d_c/2m)² where e_c =
    * internal edge count, d_c = total degree and m = |E|; the graph's
    * modularity is Σ Q_c. The readout that decides whether a
    * community structure is real or noise (Q near 0). One label join
    * per edge endpoint + two community-grain aggregates; m rides a
    * 1-row broadcast. All terms are ratios of exact integers.
    */
  def communityModularity(edges: DataFrame, adj: DataFrame,
      labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a"), col("lbl"))
    val lb = labels.select(col("node").as("b"), col("lbl").as("lblB"))
    val internal = edges.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("lbl") === col("lblB"))
      .groupBy("lbl").agg(count(lit(1)).as("internal_edges"))
    val degs = adj.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(labels, col("src") === labels("node"))
      .groupBy("lbl").agg(sum("deg").as("degree_sum"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val m = edges.agg(count(lit(1)).as("m"))
    sizes
      .join(internal, Seq("lbl"), "left")
      .join(degs, Seq("lbl"))
      .crossJoin(broadcast(m))
      .select(col("lbl").as("community"), col("n_members"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double")
            / col("m")
          - (col("degree_sum").cast("double") / (col("m") * 2))
            * (col("degree_sum").cast("double") / (col("m") * 2)), 6)
          .as("contribution"))
  }

  /** Per-node triangle counts via the canonical oriented wedge join:
    * edges are kept as `a < b`, wedges `(x<y, y<z)` probe the closing
    * edge `(x, z)` — each triangle found exactly once, then exploded
    * to its three corners. Two equi-joins; the wedge stream is
    * Σ deg(y)² over middle nodes.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("a").as("x"), col("b").as("y"))
    val e2 = edges.select(col("a").as("y2"), col("b").as("z"))
    val e3 = edges.select(col("a").as("x3"), col("b").as("z3"))
    val tri = e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("triangles"))
  }

  /** ONE synchronous k-core peeling round: drop every edge with an
    * endpoint of current degree < k. Degrees come from two hash
    * aggregates (`groupBy(src|dst).count`) whose surviving keys
    * semi-join back onto the edge list — map-side partial counts, no
    * sort, where the former window form sorted the ENTIRE edge
    * relation twice per round (two full-edge sort exchanges; at 100×
    * the edges those sorts dominate the job). Factored out so
    * PlanSpec can pin the round's shape (no WindowExec).
    */
  private[graft] def kcorePeelRound(e: DataFrame, k: Int): DataFrame = {
    val keepSrc = e.groupBy("src").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= k).select("src")
    val keepDst = e.groupBy("dst").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= k).select("dst")
    e.join(keepSrc, Seq("src"), "left_semi")
      .join(keepDst, Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** Up to `rounds` synchronous peeling rounds of the k-core
    * reduction (see [[kcorePeelRound]]). The operator PINS the round
    * cap (fixpoint iteration is the production loop; a fixed unroll
    * keeps the result driver-checkable — a planted long chain in the
    * spec shows the cascade) and EARLY-EXITS once a round drops no
    * edges: peeling is monotone, so an unchanged edge count is the
    * fixpoint and the remaining rounds are provably no-ops — the
    * result is identical to the full unroll (the oracle's 8 CTEs).
    * Each round eagerly `localCheckpoint`s the surviving edges: the
    * round references its input THREE times (two degree aggregates +
    * the semi-join base), so a lazy loop re-derives the whole prefix
    * 3× per round (the g13 lineage lesson); the checkpoint makes
    * every round one bounded job, and the fixpoint count reads the
    * materialized blocks for near-free. Returns the surviving
    * directed edge list.
    */
  def kcorePeel(adj: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    var e = adj.select(col("src"), col("dst"))
    var prevEdges = -1L
    var round = 0
    var fixed = false
    while (round < rounds && !fixed) {
      e = kcorePeelRound(e, k).localCheckpoint()
      val n = e.count()
      fixed = n == prevEdges
      prevEdges = n
      round += 1
    }
    e
  }

  /** ONE synchronous k-truss peeling round: drop every edge whose
    * triangle support (triangles containing it within the CURRENT
    * edge set) is below k−2. Triangles come from the same canonical
    * oriented wedge join as [[triangleCounts]] (x<y<z, each found
    * once), exploded to their three member edges and hash-counted;
    * surviving edges semi-join back. Factored out so PlanSpec can pin
    * the round's shape (joins + hash aggregates, no window sorts).
    *
    * Requires k ≥ 3: the semi-join keeps only edges that APPEAR in the
    * support aggregate, and triangle-free edges never do — so at
    * k ≤ 2 (where every edge trivially has support ≥ k−2 = 0) this
    * round would wrongly drop all edges outside triangles.
    * [[ktrussPeel]] short-circuits that case before reaching here.
    */
  private[graft] def ktrussPeelRound(e: DataFrame, k: Int): DataFrame = {
    require(k >= 3,
      s"ktrussPeelRound requires k >= 3 (k=$k keeps every edge; ktrussPeel short-circuits it)")
    val e1 = e.select(col("a").as("x"), col("b").as("y"))
    val e2 = e.select(col("a").as("y2"), col("b").as("z"))
    val e3 = e.select(col("a").as("x3"), col("b").as("z3"))
    val tri = e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x"), col("y"), col("z"))
    val support = tri.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("y").as("a"), col("z").as("b")),
        struct(col("x").as("a"), col("z").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= k - 2)
      .select("a", "b")
    e.join(support, Seq("a", "b"), "left_semi").select(col("a"), col("b"))
  }

  /** Up to `rounds` synchronous k-truss peeling rounds: the k-truss is
    * the maximal subgraph where every edge closes ≥ k−2 triangles —
    * the community-core operator one notch stronger than the k-core
    * (every 3-truss edge is in a 2-core, not vice versa; Cohen 2008,
    * public NSA tech report "Trusses: cohesive subgraphs for social
    * network analysis"). Same house discipline as [[kcorePeel]]: a
    * pinned round cap (driver-checkable against an unrolled-CTE
    * oracle), per-round eager `localCheckpoint` (the wedge join reads
    * the frame THREE times per round — a lazy loop re-derives the
    * whole prefix 3× per round), and EARLY EXIT at the edge-count
    * fixpoint, which peeling's monotonicity makes provably identical
    * to the full unroll. Input/output: canonical `a < b` edges. Each
    * round's cost is the Σ deg² wedge stream — the same bound as one
    * [[triangleCounts]] pass, never pairs×edges.
    */
  def ktrussPeel(edges: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    // k ≤ 2 means the support threshold k−2 ≤ 0: EVERY edge qualifies,
    // including triangle-free ones the peel round's semi-join would
    // wrongly drop (they never appear in the support aggregate) —
    // the k ≤ 2 truss is the input graph itself, by definition.
    if (k <= 2) return edges.select(col("a"), col("b"))
    var e = edges.select(col("a"), col("b"))
    var prevEdges = -1L
    var round = 0
    var fixed = false
    while (round < rounds && !fixed) {
      e = ktrussPeelRound(e, k).localCheckpoint()
      val n = e.count()
      fixed = n == prevEdges
      prevEdges = n
      round += 1
    }
    e
  }

  /** ADAMIC–ADAR link prediction: non-adjacent pairs scored
    * Σ_{b ∈ common} 1/ln(deg(b)) — common neighbors weighted by how
    * SELECTIVE they are (a niche part shared by two products is far
    * stronger evidence than a bestseller hub; g6's raw count treats
    * them equally). A common neighbor has degree ≥ 2, so ln(deg) > 0
    * always. Same wedge-join shape as [[commonNeighbors]], with the
    * middle node's degree riding the adjacency (`adjDeg`), so scoring
    * adds no join.
    */
  def adamicAdar(edges: DataFrame, adjDeg: DataFrame): DataFrame =
    adamicAdarFrom(wedgeStats(adjDeg), edges)

  /** Shared WEDGE-JOIN AGGREGATE: per candidate pair (ca < cc), the
    * common-neighbor count AND the Adamic–Adar sum Σ 1/ln(deg(via)).
    * The Σ deg² wedge join is the most expensive per-entry graph
    * derivation, and g6/g10 differ only in which readout column they
    * rank by — compute it once, read it twice (GraphQueries pins it
    * in the session cache next to the edge table).
    */
  def wedgeStats(adjDeg: DataFrame): DataFrame = {
    val a1 = adjDeg.select(col("src").as("via"), col("dst").as("ca"),
      col("odeg").as("dvia"))
    val a2 = adjDeg.select(col("src").as("via2"), col("dst").as("cc"))
    a1.join(a2, col("via") === col("via2") && col("ca") < col("cc"))
      .groupBy(col("ca"), col("cc"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("dvia").cast("double"))).as("aa"))
  }

  /** [[adamicAdar]]'s readout over a precomputed [[wedgeStats]] frame. */
  def adamicAdarFrom(wedge: DataFrame, edges: DataFrame): DataFrame = {
    val ex = edges.select(col("a").as("ea"), col("b").as("eb"))
    wedge.join(ex, col("ca") === col("ea") && col("cc") === col("eb"), "left_anti")
      .select(col("ca"), col("cc"), col("common"),
        round(col("aa"), 6).as("adamic_adar"),
        round(col("aa"), 9).as("rank_key"))
  }

  /** [[commonNeighbors]]' readout over a precomputed [[wedgeStats]]
    * frame — the out-degrees read off the degree-annotated adjacency
    * instead of a fresh aggregate.
    */
  def commonNeighborsFrom(wedge: DataFrame, edges: DataFrame,
      adjDeg: DataFrame): DataFrame = {
    val ex = edges.select(col("a").as("ea"), col("b").as("eb"))
    val od = adjDeg.select(col("src"), col("odeg")).distinct()
    wedge.join(ex, col("ca") === col("ea") && col("cc") === col("eb"), "left_anti")
      .join(od.select(col("src").as("ca"), col("odeg").as("da")), Seq("ca"))
      .join(od.select(col("src").as("cc"), col("odeg").as("dc")), Seq("cc"))
      .select(col("ca"), col("cc"), col("common"),
        round(col("common").cast("double") /
          (col("da") + col("dc") - col("common")), 6).as("jaccard"))
  }

  /** Degree ASSORTATIVITY: Pearson correlation between the endpoint
    * degrees of every directed edge — do hubs link to hubs (r > 0,
    * social-network shape) or to the periphery (r < 0, the
    * hub-and-spoke shape k-NN sparsification tends to produce)?
    * Both endpoint degrees ride one self-join of the degree table
    * against the adjacency; the correlation is [[Olap.pearsonMatrix]]
    * over exact integer degrees — one edge-sized aggregate, one row
    * out.
    */
  def assortativity(adjDeg: DataFrame): DataFrame = {
    val dd = adjDeg.select(col("src").as("dn"), col("odeg").as("dt"))
      .distinct()
    val pairs = adjDeg.select(col("odeg").as("ds"), col("dst"))
      .join(dd, col("dst") === col("dn"))
      .select(col("ds"), col("dt"))
    Olap.pearsonMatrix(pairs, Seq.empty, Seq("ds", "dt"))
      .select(col("n_rows").as("n_edges"),
        col("r_ds_dt").as("assortativity"))
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT: 2·triangles(v) /
    * (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to a
    * clique (the community-tightness readout g4's raw counts don't
    * normalize). Triangle counts from the oriented wedge join;
    * degree-1 nodes are excluded (coefficient undefined), triangle-
    * free nodes coalesce to 0. The only double is the final ratio of
    * exact integers.
    */
  def clusteringCoeff(edges: DataFrame, adjDeg: DataFrame): DataFrame = {
    val dd = adjDeg.select(col("src").as("node"), col("odeg")).distinct()
    dd.filter(col("odeg") >= 2)
      .join(triangleCounts(edges), Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .select(col("node"), col("odeg").as("deg"), col("triangles"),
        ((lit(2.0) * col("triangles"))
          / (col("odeg") * (col("odeg") - 1))).as("cc"))
  }

  /** Common-neighbor link prediction: non-adjacent pairs ranked by
    * shared-neighbor count, with the neighborhood Jaccard
    * `common / (deg(a) + deg(c) − common)` as the presentation score.
    * The candidate stream is the wedge join (Σ deg² rows); the
    * anti-join against the edge list removes existing links.
    */
  def commonNeighbors(edges: DataFrame, adj: DataFrame): DataFrame = {
    val a1 = adj.select(col("src").as("via"), col("dst").as("ca"))
    val a2 = adj.select(col("src").as("via2"), col("dst").as("cc"))
    val cn = a1.join(a2, col("via") === col("via2") && col("ca") < col("cc"))
      .groupBy(col("ca"), col("cc"))
      .agg(count(lit(1)).as("common"))
    val ex = edges.select(col("a").as("ea"), col("b").as("eb"))
    val od = adj.groupBy("src").agg(count(lit(1)).as("odeg"))
    cn.join(ex, col("ca") === col("ea") && col("cc") === col("eb"), "left_anti")
      .join(od.select(col("src").as("ca"), col("odeg").as("da")), Seq("ca"))
      .join(od.select(col("src").as("cc"), col("odeg").as("dc")), Seq("cc"))
      .select(col("ca"), col("cc"), col("common"),
        round(col("common").cast("double") /
          (col("da") + col("dc") - col("common")), 6).as("jaccard"))
  }

  /** TWO-HOP REACH: per node, the count of DISTINCT nodes within two
    * hops (excluding itself) — the neighborhood-size readout behind
    * influence/coverage ranking. One wedge join (Σ deg² candidates —
    * bounded by the 8-NN out-degree cap at ANY corpus size) unioned
    * with the 1-hop edges, deduped, then a node-grain count.
    */
  def twoHopReach(adj: DataFrame): DataFrame = {
    val oneHop = adj.select(col("src"), col("dst").as("r"))
    val x = adj.select(col("src"), col("dst").as("mid"))
    val y = adj.select(col("src").as("mid2"), col("dst").as("r"))
    val twoHop = x.join(y, col("mid") === col("mid2"))
      .filter(col("src") =!= col("r"))
      .select(col("src"), col("r"))
    oneHop.unionAll(twoHop).distinct()
      .groupBy("src").agg(count(lit(1)).as("reach"))
  }
}
