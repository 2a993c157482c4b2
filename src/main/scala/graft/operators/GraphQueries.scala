package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Registry + DuckDB oracles for the graph-analytics family (g1–g6),
  * all over [[Graph]]'s co-purchase 8-NN graph.
  *
  * The edge table is a maintained artifact — built once per
  * (session, sfDir) and served to every g-query via the session cache
  * (the s13 / hierarchy-dim / dedup-component convention), so timed
  * runs measure the ALGORITHM, not five rebuilds of the same graph.
  *
  * Every oracle re-derives the graph itself (the `graphCtes` base:
  * basket pairs → per-node top-8 → symmetrize) and then UNROLLS the
  * iterative algorithm as generated CTE rounds (the s13/t21 pattern) —
  * PageRank's 8 damped-sum rounds, label propagation's 4 argmax
  * rounds, k-core's 8 peels — in the same Long arithmetic the engine
  * uses, so the gate compares exact integers (the only double is g6's
  * 6-dp Jaccard). Multiply-referenced CTEs carry `AS MATERIALIZED`
  * (DuckDB inlines by default; a CTE referenced k times per round
  * otherwise re-plans k^rounds subtrees).
  */
object GraphQueries {

  /** The cached co-purchase 8-NN edge table at `sfDir`.
    *
    * Stored artifacts here are re-rooted at their materialized
    * `InMemoryRelation` ([[graft.Artifacts.stored]], optimization
    * r21): a bare cache pins EXECUTION but leaves the full build
    * lineage in the logical plan, and the graph derivations reference
    * their inputs multiply (pairs twice in the mirror union, edges
    * twice in the adjacency, adj twice in withOutDeg), so every
    * CONSUMER re-analyzed an exponentially duplicated tree — g8's
    * final plan carried ~1.5k Exchange nodes of pure lineage and
    * Catalyst planning, not execution, dominated the g-family floors.
    * The leaf keeps the cache's columnar storage, its ACCURATE size
    * statistics (broadcast decisions unchanged), and the cached
    * plan's physical partitioning, so the src-hash layout below still
    * makes per-round joins exchange-free.
    */
  def cachedEdges(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "graph.edges", sfDir)(
      Graph.knnEdges(Graph.copurchasePairs(Tables.lineitem(s, sfDir))))

  /** Degree-annotated adjacency, persisted PARTITIONED BY `src`: the
    * second half of the stored graph artifact. The iterative
    * algorithms (g2/g3/g5) join it on `src` every round — the cached
    * hash partitioning makes that side exchange-free, so a round
    * costs one `groupBy` shuffle, not a rebuild of
    * union+degree+join.
    */
  def cachedAdjDeg(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "graph.adjdeg", sfDir)(
      Graph.withOutDeg(Graph.adjacency(cachedEdges(s, sfDir)))
        .repartition(col("src")))

  /** The label-propagation partition (4 rounds), persisted — read by
    * g3's size readout and by every consumer of g9's modularity
    * decomposition (three joins over the labels), which would
    * otherwise each replay the 4 iterative rounds.
    */
  def cachedLabels(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "graph.labels", sfDir)(
      Graph.labelPropagation(cachedAdjDeg(s, sfDir)))

  /** Round-7 PageRank frame (node, r), persisted: g2 derives round 8
    * with ONE extra step and g15 reads the 7↔8 convergence delta —
    * without the pin each replays the 7-round loop.
    */
  def cachedPr7(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "graph.pr7", sfDir)(
      Graph.pagerank(cachedAdjDeg(s, sfDir), 7)
        .select(col("node"), col("rank_micro").as("r")))

  /** The shared wedge-join aggregate (common count + Adamic–Adar sum
    * per candidate pair), persisted: g6 and g10 run the identical
    * Σ deg² wedge join and differ only in readout columns.
    */
  def cachedWedge(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "graph.wedge", sfDir)(
      Graph.wedgeStats(cachedAdjDeg(s, sfDir)))

  /** |V| of the stored graph — a property of the maintained artifact
    * (read off the cached adjacency once per (session, sfDir)), shared
    * so g7's teleport-mass arithmetic doesn't pay a distinct+count job
    * per invocation. */
  private def cachedNNodes(s: SparkSession, sfDir: String): Long =
    graft.Artifacts.memo(s, "graph.nNodes", sfDir)(
      cachedAdjDeg(s, sfDir).select(col("src")).distinct().count())

  /** (node, component_id) over the stored graph: every node labeled
    * with the minimum id in its connected component (g13). */
  private[graft] def components(s: SparkSession, sfDir: String): DataFrame =
    Dedup.connectedComponents(
      cachedAdjDeg(s, sfDir).select(col("src").as("node")).distinct(),
      cachedEdges(s, sfDir), idCol = "node", srcCol = "a", dstCol = "b")

  /** The g7/g8/g17 seed set: the `n` highest-demand parts (lineitem
    * count desc, partkey ties), COLLECTED into a literal frame
    * (codebook convention) so iterative rounds reference a
    * LocalRelation instead of re-running the demand scan per round,
    * and SESSION-CACHED (r21) next to the graph artifact it seeds —
    * three registry entries share one demand scan instead of paying
    * it per invocation. One definition — the g7/g8/g17 oracles
    * hard-code the same rule.
    */
  private def demandSeeds(s: SparkSession, sfDir: String,
      n: Int = 5): DataFrame = graft.Artifacts.memo(s, "graph.seeds", (sfDir, n)) {
    import s.implicits._
    // r22 (window audit): the top-n pick over the part-grain count
    // frame ran through an unpartitioned row_number window — a global
    // sort of a data-sized frame into one task. sort.limit(n) plans
    // as TakeOrderedAndProject (bounded heaps), same n rows under the
    // same (cnt desc, partkey) total order.
    Tables.lineitem(s, sfDir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .sort(col("cnt").desc, col("l_partkey"))
      .limit(n)
      .select(col("l_partkey"))
      .as[Long].collect().toSeq.toDF("node")
  }

  /** Top-k readout with a rank column. r22 (window audit): the old
    * shape ranked the WHOLE readout frame through an unpartitioned
    * row_number window — a global sort of a node/pair-grain frame
    * funneled into one task. `sort.limit(k)` plans as
    * TakeOrderedAndProject (per-partition bounded heaps, one bounded
    * merge — never a full global sort), provably the same k rows
    * under the same total order; the rank window then re-ranks ≤ k
    * rows — its single-partition input is bounded BY CONSTRUCTION.
    * Callers pass a total order (unique tie column last), so ranks
    * are deterministic and oracle-identical.
    */
  private def rankedTopK(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
      k: Int, cols: org.apache.spark.sql.Column*): DataFrame =
    df.sort(order: _*).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select(col("rank") +: cols: _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the graph build itself: strongest co-purchase edges
    "g1_copurchase_graph" -> ((s, d) => {
      val e = cachedEdges(s, d)
      rankedTopK(e, Seq(col("w").desc, col("a"), col("b")), 50,
        col("a").as("part_a"), col("b").as("part_b"), col("w"))
    }),
    // integer micro-unit PageRank, 8 rounds — round 8 is ONE step from
    // the shared round-7 frame (g15's pin), not a fresh 8-round loop
    "g2_pagerank" -> ((s, d) => {
      val pr = Graph.pagerankStep(cachedAdjDeg(s, d), cachedPr7(s, d))
        .select(col("node"), col("r").as("rank_micro"))
      rankedTopK(pr, Seq(col("rank_micro").desc, col("node")), 40,
        col("node").as("part"), col("rank_micro"))
    }),
    // weighted-majority label propagation, 4 rounds → community sizes
    "g3_label_prop" -> ((s, d) => {
      val lbl = cachedLabels(s, d)
      val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("n_members"))
      rankedTopK(sizes, Seq(col("n_members").desc, col("lbl")), 20,
        col("lbl").as("community"), col("n_members"))
    }),
    // per-node triangle participation
    "g4_triangles" -> ((s, d) => {
      val t = Graph.triangleCounts(cachedEdges(s, d))
      rankedTopK(t, Seq(col("triangles").desc, col("node")), 30,
        col("node").as("part"), col("triangles"))
    }),
    // 3-core after 8 peeling rounds: surviving nodes by core degree
    "g5_kcore" -> ((s, d) => {
      val core = Graph.kcorePeel(cachedAdjDeg(s, d))
        .groupBy("src").agg(count(lit(1)).as("deg"))
      rankedTopK(core, Seq(col("deg").desc, col("src")), 30,
        col("src").as("part"), col("deg"))
    }),
    // multi-source BFS: hop distance from the 5 highest-demand parts
    // over the co-purchase graph, read out as a reachability histogram
    // ("how far is the catalog from the bestsellers")
    "g8_bfs_hops" -> ((s, d) =>
      Graph.bfsHops(cachedAdjDeg(s, d), demandSeeds(s, d))
        .groupBy("hops").agg(count(lit(1)).as("n_parts"))
        .orderBy("hops")),
    // personalized PageRank from the 5 highest-demand parts:
    // "proximity to the bestsellers" for recommendation ranking
    "g7_personalized_pagerank" -> ((s, d) => {
      val adjOd = cachedAdjDeg(s, d)
      val nNodes = cachedNNodes(s, d)
      val seeds = demandSeeds(s, d)
        .withColumn("tele", lit(150000L * nNodes / 5L))
      val pr = Graph.personalizedPagerank(adjOd, seeds)
      rankedTopK(pr, Seq(col("ppr_micro").desc, col("node")), 40,
        col("node").as("part"), col("ppr_micro"))
    }),
    // LANDMARK CLOSENESS (round 18): harmonic closeness estimated
    // from the 5 demand landmarks — Σ 1/dist over reaching landmarks
    // (self-distance excluded), in exact integer micro units
    // (1000000 div hops, hops ≤ 8 → a fixed value table both engines
    // reproduce bit-for-bit). ONE labeled BFS carries all landmarks
    // (frontier keyed by (landmark, node) — the landmark/sketch trick:
    // cost scales with frontier coverage, not |landmarks| sweeps);
    // exact closeness needs all-pairs BFS, which no 100 TB graph
    // affords — landmark estimation is the production answer
    "g17_landmark_closeness" -> ((s, d) => {
      val dist = Graph.landmarkDistances(cachedAdjDeg(s, d), demandSeeds(s, d))
      val cl = dist.filter(col("hops") > 0)
        .groupBy("node")
        .agg(sum(expr("1000000L div hops")).as("closeness_micro"),
          count(lit(1)).as("n_landmarks"))
      rankedTopK(cl, Seq(col("closeness_micro").desc, col("node")), 40,
        col("node").as("part"), col("closeness_micro"), col("n_landmarks"))
    }),
    // community-quality readout: per-community modularity contribution
    // of g3's label-propagation partition (is the structure real?)
    "g9_modularity" -> ((s, d) => {
      val e = cachedEdges(s, d)
      val adj = Graph.adjacency(e)
      val q = Graph.communityModularity(e, adj, cachedLabels(s, d))
      rankedTopK(q,
        Seq(col("internal_edges").desc, col("community")), 20,
        col("community"), col("n_members"), col("internal_edges"),
        col("degree_sum"), col("contribution"))
    }),
    // Adamic–Adar link prediction: common neighbors weighted by
    // selectivity (1/ln deg) — hub co-neighbors count for less
    "g10_adamic_adar" -> ((s, d) => {
      val aa = Graph.adamicAdarFrom(cachedWedge(s, d), cachedEdges(s, d))
      rankedTopK(aa, Seq(col("rank_key").desc, col("ca"), col("cc")), 30,
        col("ca").as("part_a"), col("cc").as("part_b"),
        col("common"), col("adamic_adar"))
    }),
    // degree assortativity: do hubs link to hubs? One row out
    "g11_assortativity" -> ((s, d) =>
      Graph.assortativity(cachedAdjDeg(s, d))),
    // per-node local clustering coefficient (normalized triangles)
    "g12_clustering_coeff" -> ((s, d) => {
      val cc = Graph.clusteringCoeff(cachedEdges(s, d), cachedAdjDeg(s, d))
      rankedTopK(cc, Seq(round(col("cc"), 9).desc, col("node")), 30,
        col("node").as("part"), col("deg"), col("triangles"),
        round(col("cc"), 6).as("clustering"))
    }),
    // common-neighbor link prediction over non-adjacent pairs
    "g6_link_predict" -> ((s, d) => {
      val cn = Graph.commonNeighborsFrom(cachedWedge(s, d),
        cachedEdges(s, d), cachedAdjDeg(s, d))
      rankedTopK(cn, Seq(col("common").desc, col("ca"), col("cc")), 30,
        col("ca").as("part_a"), col("cc").as("part_b"),
        col("common"), col("jaccard"))
    }),
    // connected components → component sizes. Dedup's adaptive
    // union-find labels each node with the minimum id in its
    // component; every kept edge is in the top 8 of an endpoint, so
    // the graph has at most 8 × nodes edges (160k at sf0.1), inside
    // the 2M-edge single-task bound: one local pass. The oracle's 6
    // pointer-jumping rounds reach the same labels on every testdata
    // corpus (GraphSpec pins it).
    "g13_connected_components" -> ((s, d) => {
      val cc = components(s, d)
        .groupBy("component_id").agg(count(lit(1)).as("n_members"))
      rankedTopK(cc, Seq(col("n_members").desc, col("component_id")), 20,
        col("component_id").as("component"), col("n_members"))
    }),
    // two-hop neighborhood size (distinct reach, self excluded)
    "g14_two_hop_reach" -> ((s, d) => {
      val r = Graph.twoHopReach(cachedAdjDeg(s, d))
      rankedTopK(r, Seq(col("reach").desc, col("src")), 30,
        col("src").as("part"), col("reach"))
    }),
    // PAGERANK CONVERGENCE EVAL: the integer L1/L∞ movement between
    // rounds 7 and 8 — the "are 8 rounds enough" readout an iteration
    // budget is gated on (s15's eval-harness idea for g2). Node-grain
    // join of two node-grain frames; exact micro-unit integers
    "g15_pagerank_delta" -> ((s, d) => {
      val adj = cachedAdjDeg(s, d)
      // round 8 derived FROM round 7 via one extra step — 8 rounds
      // total, not 7 + 8 (the oracle likewise reads pr7 and pr8 off
      // one unrolled chain). The session-cached round-7 frame pins the
      // lineage for the two consumers here AND is shared with g2.
      val p7r = cachedPr7(s, d)
      val p7 = p7r.select(col("node"), col("r").as("r7"))
      val p8 = Graph.pagerankStep(adj, p7r)
        .select(col("node"), col("r").as("r8"))
      p8.join(p7, "node")
        .agg(count(lit(1)).as("n_nodes"),
          sum(abs(col("r8") - col("r7"))).as("l1_delta_micro"),
          max(abs(col("r8") - col("r7"))).as("max_delta_micro"))
    }),
    // 3-truss after ≤8 peeling rounds (every surviving edge closes ≥1
    // triangle among survivors — the community-core one notch above
    // g5's k-core): surviving nodes ranked by truss degree. Exact
    // integer peel, fixpoint early-exit ≡ the oracle's full unroll.
    "g16_ktruss" -> ((s, d) => {
      val truss = Graph.ktrussPeel(
        cachedEdges(s, d).select(col("a"), col("b")), k = 3)
      val deg = truss
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("truss_deg"))
      rankedTopK(deg, Seq(col("truss_deg").desc, col("node")), 30,
        col("node").as("part"), col("truss_deg"))
    }))

  /** Shared oracle base: baskets → canonical pairs → per-node top-8 →
    * undirected edges (+ directed adjacency). Mirrors
    * [[Graph.copurchasePairs]] / [[Graph.knnEdges]] exactly.
    */
  private val graphCtes: String =
    """WITH op AS MATERIALIZED (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       pr AS MATERIALIZED (
         SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           CAST(COUNT(*) AS BIGINT) AS w
         FROM op a JOIN op b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2),
       dirx AS (
         SELECT pa AS src, pb AS dst, w FROM pr
         UNION ALL SELECT pb, pa, w FROM pr),
       knn AS (
         SELECT src, dst, w FROM dirx
         QUALIFY row_number() OVER (
           PARTITION BY src ORDER BY w DESC, dst) <= 8),
       edges AS MATERIALIZED (
         SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, w
         FROM knn),
       adj AS MATERIALIZED (
         SELECT a AS src, b AS dst, w FROM edges
         UNION ALL SELECT b, a, w FROM edges)"""

  /** 8 unrolled PageRank rounds in the engine's exact Long arithmetic
    * (150000 + (s div 20)·17 + ((s mod 20)·17) div 20).
    */
  private def pagerankCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "pr0" else s"pr${i - 1}"
      s""",
       s$i AS (
         SELECT a.dst AS node, SUM(p.r // o.odeg) AS s
         FROM adj a JOIN $prev p ON a.src = p.node
         JOIN od o ON a.src = o.src
         GROUP BY a.dst),
       pr$i AS (
         SELECT node,
           150000 + (s // 20) * 17 + ((s % 20) * 17) // 20 AS r
         FROM s$i)"""
    }.mkString
    s""",
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       pr0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM od)""" +
      rounds
  }

  /** 8 unrolled PERSONALIZED PageRank rounds: pagerank's arithmetic
    * with the teleport mass left-joined from the seed CTE.
    */
  private def pprCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "pp0" else s"pp${i - 1}"
      s""",
       ps$i AS (
         SELECT a.dst AS node, SUM(p.r // o.odeg) AS s
         FROM adj a JOIN $prev p ON a.src = p.node
         JOIN od o ON a.src = o.src
         GROUP BY a.dst),
       pp$i AS (
         SELECT t.node,
           COALESCE(sd.tele, 0)
             + (s // 20) * 17 + ((s % 20) * 17) // 20 AS r
         FROM ps$i t LEFT JOIN seeds sd ON t.node = sd.node)"""
    }.mkString
    s""",
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       seeds AS MATERIALIZED (
         SELECT l_partkey AS node,
           (150000 * (SELECT COUNT(*) FROM od)) // 5 AS tele
         FROM (
           SELECT l_partkey,
             row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn
           FROM lineitem GROUP BY l_partkey QUALIFY rn <= 5)),
       pp0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM od)""" +
      rounds
  }

  /** 8 unrolled BFS relaxation rounds over the self-loop-augmented
    * adjacency (hop 0 self-edges fold the keep-current-distance term
    * into the one join per round).
    */
  private def bfsCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "b0" else s"b${i - 1}"
      s""",
       b$i AS (
         SELECT a.dst AS node, MIN(p.hops + a.hop) AS hops
         FROM adjself a JOIN $prev p ON a.src = p.node
         GROUP BY a.dst)"""
    }.mkString
    s""",
       adjself AS MATERIALIZED (
         SELECT src, dst, CAST(1 AS BIGINT) AS hop FROM adj
         UNION ALL
         SELECT src, src, 0 FROM (SELECT DISTINCT src FROM adj)),
       bseeds AS (
         SELECT l_partkey AS node
         FROM (
           SELECT l_partkey,
             row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn
           FROM lineitem GROUP BY l_partkey QUALIFY rn <= 5)),
       b0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM bseeds)""" + rs
  }

  /** Labeled (per-landmark) BFS unroll — bfsCtes with the frontier
    * keyed by (landmark, node); distinct CTE names so both can appear
    * in one statement.
    */
  private def lmCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "lm0" else s"lm${i - 1}"
      s""",
       lm$i AS (
         SELECT p.landmark, a.dst AS node, MIN(p.hops + a.hop) AS hops
         FROM lmadj a JOIN $prev p ON a.src = p.node
         GROUP BY p.landmark, a.dst)"""
    }.mkString
    s""",
       lmadj AS MATERIALIZED (
         SELECT src, dst, CAST(1 AS BIGINT) AS hop FROM adj
         UNION ALL
         SELECT src, src, 0 FROM (SELECT DISTINCT src FROM adj)),
       lmseeds AS (
         SELECT l_partkey AS node
         FROM (
           SELECT l_partkey,
             row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn
           FROM lineitem GROUP BY l_partkey QUALIFY rn <= 5)),
       lm0 AS (SELECT node AS landmark, node,
         CAST(0 AS BIGINT) AS hops FROM lmseeds)""" + rs
  }

  /** 4 unrolled label-propagation rounds (weighted argmax, ties to the
    * smallest label).
    */
  private def labelPropCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "lb0" else s"lb${i - 1}"
      s""",
       c$i AS (
         SELECT a.dst AS node, l.lbl, SUM(a.w) AS wt
         FROM adj a JOIN $prev l ON a.src = l.node
         GROUP BY a.dst, l.lbl),
       lb$i AS (
         SELECT node, lbl FROM c$i
         QUALIFY row_number() OVER (
           PARTITION BY node ORDER BY wt DESC, lbl) = 1)"""
    }.mkString

  /** Unrolled k-truss peels: each round keeps edges whose triangle
    * support within the current edge set is ≥ k−2. tk0 = the
    * canonical edges; triangles from the oriented x<y<z join,
    * exploded to member edges and counted. Every CTE is MATERIALIZED
    * — round i references round i−1 four times, and DuckDB would
    * otherwise re-plan the whole prefix per reference.
    */
  private def ktrussCtes(k: Int, rounds: Int): String =
    """,
       tk0 AS MATERIALIZED (SELECT a, b FROM edges)""" +
      (1 to rounds).map { i =>
        val prev = s"tk${i - 1}"
        s""",
       tktri$i AS MATERIALIZED (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM $prev e1
         JOIN $prev e2 ON e1.b = e2.a
         JOIN $prev e3 ON e3.a = e1.a AND e3.b = e2.b),
       tksup$i AS MATERIALIZED (
         SELECT a, b, COUNT(*) AS s FROM (
           SELECT x AS a, y AS b FROM tktri$i
           UNION ALL SELECT y AS a, z AS b FROM tktri$i
           UNION ALL SELECT x AS a, z AS b FROM tktri$i)
         GROUP BY a, b),
       tk$i AS MATERIALIZED (
         SELECT e.a, e.b FROM $prev e
         JOIN tksup$i s ON e.a = s.a AND e.b = s.b
         WHERE s.s >= ${k - 2})"""
      }.mkString

  /** 8 unrolled k-core peels: each round keeps edges whose endpoints
    * both still have degree ≥ k.
    */
  private def kcoreCtes(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "adj" else s"k${i - 1}"
      s""",
       k$i AS (
         SELECT src, dst FROM $prev
         QUALIFY COUNT(*) OVER (PARTITION BY src) >= $k
           AND COUNT(*) OVER (PARTITION BY dst) >= $k)"""
    }.mkString

  val oracles: Map[String, String] = Map(
    "g1_copurchase_graph" -> (graphCtes +
      """
       SELECT CAST(row_number() OVER (ORDER BY w DESC, a, b) AS BIGINT)
           AS rank,
         a AS part_a, b AS part_b, w
       FROM edges QUALIFY rank <= 50"""),
    "g2_pagerank" -> (graphCtes + pagerankCtes(8) +
      """
       SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT)
           AS rank,
         node AS part, CAST(r AS BIGINT) AS rank_micro
       FROM pr8 QUALIFY rank <= 40"""),
    "g8_bfs_hops" -> (graphCtes + bfsCtes(8) +
      """
       SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_parts
       FROM b8 GROUP BY hops"""),
    "g7_personalized_pagerank" -> (graphCtes + pprCtes(8) +
      """
       SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT)
           AS rank,
         node AS part, CAST(r AS BIGINT) AS ppr_micro
       FROM pp8 QUALIFY rank <= 40"""),
    // the labeled-BFS unroll + exact integer micro closeness
    // (1000000 // hops over reaching landmarks, self excluded)
    "g17_landmark_closeness" -> (graphCtes + lmCtes(8) +
      """
       SELECT CAST(row_number() OVER
           (ORDER BY closeness_micro DESC, node) AS BIGINT) AS rank,
         node AS part, closeness_micro, n_landmarks
       FROM (
         SELECT node,
           CAST(SUM(1000000 // hops) AS BIGINT) AS closeness_micro,
           CAST(COUNT(*) AS BIGINT) AS n_landmarks
         FROM lm8 WHERE hops > 0 GROUP BY node)
       QUALIFY rank <= 40"""),
    "g3_label_prop" -> (graphCtes +
      """,
       lb0 AS (SELECT DISTINCT src AS node, src AS lbl FROM adj)""" +
      labelPropCtes(4) +
      """
       SELECT CAST(row_number() OVER
           (ORDER BY COUNT(*) DESC, lbl) AS BIGINT) AS rank,
         lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
       FROM lb4 GROUP BY lbl QUALIFY rank <= 20"""),
    "g9_modularity" -> (graphCtes +
      """,
       lb0 AS (SELECT DISTINCT src AS node, src AS lbl FROM adj)""" +
      labelPropCtes(4) +
      """,
       deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
               FROM adj GROUP BY src),
       internal AS (
         SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS internal_edges
         FROM edges e
         JOIN lb4 la ON e.a = la.node
         JOIN lb4 lc ON e.b = lc.node
         WHERE la.lbl = lc.lbl GROUP BY la.lbl),
       degsum AS (
         SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS degree_sum
         FROM lb4 l JOIN deg d ON l.node = d.src GROUP BY l.lbl),
       sizes AS (
         SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members
         FROM lb4 GROUP BY lbl),
       mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges)
       SELECT CAST(row_number() OVER
           (ORDER BY COALESCE(internal_edges, 0) DESC, lbl) AS BIGINT)
           AS rank,
         lbl AS community, n_members,
         COALESCE(internal_edges, 0) AS internal_edges, degree_sum,
         ROUND(CAST(COALESCE(internal_edges, 0) AS DOUBLE) / mm.m
           - (CAST(degree_sum AS DOUBLE) / (mm.m * 2))
             * (CAST(degree_sum AS DOUBLE) / (mm.m * 2)), 6) AS contribution
       FROM sizes
       LEFT JOIN internal USING (lbl)
       JOIN degsum USING (lbl)
       CROSS JOIN mm
       QUALIFY rank <= 20"""),
    "g4_triangles" -> (graphCtes +
      """,
       tri AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM edges e1
         JOIN edges e2 ON e2.a = e1.b
         JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       tn AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
         FROM (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         GROUP BY node)
       SELECT CAST(row_number() OVER
           (ORDER BY triangles DESC, node) AS BIGINT) AS rank,
         node AS part, triangles
       FROM tn QUALIFY rank <= 30"""),
    "g5_kcore" -> (graphCtes + kcoreCtes(3, 8) +
      """
       SELECT CAST(row_number() OVER (ORDER BY deg DESC, node) AS BIGINT)
           AS rank,
         node AS part, deg
       FROM (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
             FROM k8 GROUP BY src)
       QUALIFY rank <= 30"""),
    "g10_adamic_adar" -> (graphCtes +
      """,
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       cn AS (
         SELECT a1.dst AS a, a2.dst AS c,
           CAST(COUNT(*) AS BIGINT) AS common,
           SUM(1.0 / ln(CAST(d1.odeg AS DOUBLE))) AS aa
         FROM adj a1
         JOIN adj a2 ON a1.src = a2.src AND a1.dst < a2.dst
         JOIN od d1 ON a1.src = d1.src
         GROUP BY 1, 2),
       nonadj AS (
         SELECT cn.a, cn.c, cn.common, cn.aa
         FROM cn LEFT JOIN edges e ON cn.a = e.a AND cn.c = e.b
         WHERE e.a IS NULL)
       SELECT CAST(row_number() OVER
           (ORDER BY ROUND(aa, 9) DESC, a, c) AS BIGINT) AS rank,
         a AS part_a, c AS part_b, common,
         ROUND(aa, 6) AS adamic_adar
       FROM nonadj QUALIFY rank <= 30"""),
    // endpoint-degree Pearson in the engine's exact shape: HUGEINT
    // sufficient statistics, identical double parenthesization
    "g11_assortativity" -> (graphCtes +
      """,
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       ep AS (
         SELECT d1.odeg AS ds, d2.odeg AS dt
         FROM adj a
         JOIN od d1 ON a.src = d1.src
         JOIN od d2 ON a.dst = d2.src),
       m AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           SUM(CAST(ds AS HUGEINT)) AS sx, SUM(CAST(dt AS HUGEINT)) AS sy,
           SUM(CAST(ds * ds AS HUGEINT)) AS sxx,
           SUM(CAST(dt * dt AS HUGEINT)) AS syy,
           SUM(CAST(ds * dt AS HUGEINT)) AS sxy
         FROM ep)
       SELECT n_edges,
         CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0 THEN
           ROUND((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         END AS assortativity
       FROM m"""),
    // g4's triangle CTE normalized by deg·(deg−1)/2
    "g12_clustering_coeff" -> (graphCtes +
      """,
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       tri AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM edges e1
         JOIN edges e2 ON e2.a = e1.b
         JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       tn AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
         FROM (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         GROUP BY node),
       cc AS (
         SELECT od.src AS node, od.odeg AS deg,
           COALESCE(tn.triangles, 0) AS triangles,
           (2.0 * COALESCE(tn.triangles, 0))
             / (od.odeg * (od.odeg - 1)) AS cc
         FROM od LEFT JOIN tn ON od.src = tn.node
         WHERE od.odeg >= 2)
       SELECT CAST(row_number() OVER
           (ORDER BY ROUND(cc, 9) DESC, node) AS BIGINT) AS rank,
         node AS part, deg, triangles, ROUND(cc, 6) AS clustering
       FROM cc QUALIFY rank <= 30"""),
    "g6_link_predict" -> (graphCtes +
      """,
       od AS MATERIALIZED (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
         FROM adj GROUP BY src),
       cn AS (
         SELECT a1.dst AS a, a2.dst AS c, CAST(COUNT(*) AS BIGINT) AS common
         FROM adj a1 JOIN adj a2
           ON a1.src = a2.src AND a1.dst < a2.dst
         GROUP BY 1, 2),
       nonadj AS (
         SELECT cn.a, cn.c, cn.common
         FROM cn LEFT JOIN edges e ON cn.a = e.a AND cn.c = e.b
         WHERE e.a IS NULL)
       SELECT CAST(row_number() OVER
           (ORDER BY n.common DESC, n.a, n.c) AS BIGINT) AS rank,
         n.a AS part_a, n.c AS part_b, n.common,
         ROUND(CAST(n.common AS DOUBLE)
           / (da.odeg + dc.odeg - n.common), 6) AS jaccard
       FROM nonadj n
       JOIN od da ON n.a = da.src
       JOIN od dc ON n.c = dc.src
       QUALIFY rank <= 30"""),
    "g13_connected_components" -> (graphCtes + ccCtes(6) +
      """
       SELECT rank, component, n_members FROM (
         SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(row_number() OVER (ORDER BY COUNT(*) DESC, lbl)
             AS BIGINT) AS rank
         FROM cc6 GROUP BY lbl)
       WHERE rank <= 20"""),
    "g14_two_hop_reach" -> (graphCtes +
      """,
       reach AS (
         SELECT src, CAST(COUNT(*) AS BIGINT) AS reach FROM (
           SELECT src, dst AS r FROM adj
           UNION
           SELECT a.src, b.dst AS r
           FROM adj a JOIN adj b ON a.dst = b.src
           WHERE a.src <> b.dst)
         GROUP BY src)
       SELECT CAST(row_number() OVER (ORDER BY reach DESC, src)
           AS BIGINT) AS rank,
         src AS part, reach
       FROM reach QUALIFY rank <= 30"""),
    // pagerankCtes(8) materializes every round — pr7 and pr8 are both
    // in scope for the delta join
    "g15_pagerank_delta" -> (graphCtes + pagerankCtes(8) +
      """
       SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS l1_delta_micro,
         CAST(MAX(ABS(a.r - b.r)) AS BIGINT) AS max_delta_micro
       FROM pr8 a JOIN pr7 b USING (node)"""),
    "g16_ktruss" -> (graphCtes + ktrussCtes(3, 8) +
      """,
       tdeg AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS truss_deg FROM (
           SELECT a AS node FROM tk8
           UNION ALL SELECT b AS node FROM tk8)
         GROUP BY node)
       SELECT CAST(row_number() OVER (ORDER BY truss_deg DESC, node) AS BIGINT)
           AS rank,
         node AS part, truss_deg
       FROM tdeg QUALIFY rank <= 30"""))

  /** Connected components as unrolled pointer-jumping min-label
    * rounds (the g13 oracle; the engine runs
    * [[Dedup.connectedComponents]]): per round, min over (own label,
    * neighbor labels, label-of-label). cc${i} is referenced three
    * times by round i+1 — MATERIALIZED, or DuckDB re-plans the whole
    * prefix per reference.
    */
  private def ccCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      val prev = s"cc${i - 1}"
      s""",
       ccnb$i AS (
         SELECT a.src AS node, MIN(p.lbl) AS nl
         FROM adj a JOIN $prev p ON a.dst = p.node
         GROUP BY 1),
       cc$i AS MATERIALIZED (
         SELECT t.node, LEAST(t.lbl, COALESCE(n.nl, t.lbl), g.lbl) AS lbl
         FROM $prev t
         LEFT JOIN ccnb$i n ON n.node = t.node
         JOIN $prev g ON g.node = t.lbl)"""
    }.mkString
    """,
       cc0 AS MATERIALIZED (
         SELECT DISTINCT src AS node, src AS lbl FROM adj)""" + rs
  }
}
