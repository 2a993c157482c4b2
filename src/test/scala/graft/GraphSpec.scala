package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Planted-graph oracles for the g-family algorithms: every algorithm
  * is checked against a hand-built (or independently re-implemented)
  * reference on a graph small enough to reason about — the DuckDB gate
  * then proves the same arithmetic at corpus scale.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDF(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("pa", "pb", "w")

  private def edgesDF(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("a", "b", "w")

  test("copurchasePairs counts co-ordering orders per canonical pair") {
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 1L), (3L, 1L)).toDF("l_orderkey", "l_partkey")
    val got = Graph.copurchasePairs(li).as[(Long, Long, Long)]
      .collect().toSet
    assert(got === Set((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("knnEdges keeps an edge iff EITHER endpoint ranks it top-8") {
    // hub 0 touches leaves 1..10 at weight 1; the leaves form a
    // weight-5 clique, so every leaf's top-8 is inside the clique and
    // no leaf ranks the hub — hub edges survive only where the HUB
    // ranks them: its weight-1 ties break by dst asc → leaves 1..8.
    val hub = (1L to 10L).map(i => (0L, i, 1L))
    val clique = for (i <- 1L to 10L; j <- (i + 1) to 10L) yield (i, j, 5L)
    val edges = Graph.knnEdges(pairsDF(hub ++ clique))
      .as[(Long, Long, Long)].collect()
    val hubNbrs = edges.collect { case (0L, b, _) => b }.toSet
    assert(hubNbrs === (1L to 8L).toSet)
    // clique edges all survive (each endpoint has ≤ 9 clique
    // neighbors; dropping needs BOTH endpoints to un-rank the edge,
    // and only the top-dst neighbor is un-ranked per side)
    assert(edges.count(_._3 == 5L) === clique.size - 1)
  }

  /** Reference PageRank: the exact Long recurrence over in-memory
    * maps, independent of any Spark plumbing.
    */
  private def refPagerank(und: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (und ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val odeg = adj.view.mapValues(_.size.toLong).toMap
    var r = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = adj.toSeq
        .flatMap { case (u, vs) => vs.map(v => v -> r(u) / odeg(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = inflow.map { case (v, s) =>
        v -> (150000L + (s / 20) * 17 + ((s % 20) * 17) / 20) }
    }
    r
  }

  test("pagerank matches the reference Long recurrence exactly") {
    // path 1-2-3-4 plus triangle 5-6-7: asymmetric degrees on the
    // path, a regular component alongside
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L))
    val adj = Graph.adjacency(edgesDF(und.map { case (a, b) => (a, b, 1L) }))
    val got = Graph.pagerank(Graph.withOutDeg(adj))
      .as[(Long, Long)].collect().toMap
    assert(got === refPagerank(und, 8))
    // interior path nodes accumulate more rank than endpoints
    assert(got(2L) > got(1L) && got(3L) > got(4L))
    // the regular triangle is the fixed point 1,000,000 exactly
    assert(got(5L) === 1000000L && got(6L) === 1000000L)
  }

  test("labelPropagation finds the two planted communities") {
    // two weight-5 triangles bridged by one weight-1 edge: 4 sync
    // rounds settle each triangle on its minimum member id
    val e = edgesDF(Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (3L, 4L, 1L), (4L, 5L, 5L), (4L, 6L, 5L), (5L, 6L, 5L)))
    val got = Graph.labelPropagation(Graph.adjacency(e))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("triangleCounts: K4 corners sit in 3 triangles; pendants in none") {
    val k4 = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L))
    val got = Graph.triangleCounts(edgesDF(k4 :+ ((1L, 5L, 1L))))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcorePeel cascades: a path unravels one layer per round") {
    // 2-core of square(1-4) + path(10..15): the square is stable, the
    // path needs THREE peeling rounds (ends first, then inward) — a
    // 2-round peel would leave survivors, proving rounds cascade
    val square = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L))
    val path = Seq((10L, 11L, 1L), (11L, 12L, 1L), (12L, 13L, 1L),
      (13L, 14L, 1L), (14L, 15L, 1L))
    val adj = Graph.adjacency(edgesDF(square ++ path))
    val after2 = Graph.kcorePeel(adj, k = 2, rounds = 2)
      .select("src").distinct().as[Long].collect().toSet
    val after8 = Graph.kcorePeel(adj, k = 2, rounds = 8)
      .select("src").distinct().as[Long].collect().toSet
    assert(after8 === Set(1L, 2L, 3L, 4L))
    assert(after2.exists(_ >= 10L), "round 2 must still hold path middles")
    // early exit: peeling is monotone, so once a round drops nothing
    // the remaining rounds are no-ops — a 100-round cap must return
    // the same core as the 8-round cap (and terminate at the fixpoint,
    // not run 100 eager jobs)
    val after100 = Graph.kcorePeel(adj, k = 2, rounds = 100)
      .select("src").distinct().as[Long].collect().toSet
    assert(after100 === after8)
  }

  test("ktrussPeel: 3-truss keeps triangles and drops tree edges; a 4-truss strip cascades to empty") {
    import spark.implicits._
    // K4 (every edge in 2 triangles) + a lone triangle (support 1) +
    // a pendant edge (no triangle): the 3-truss keeps both triangle
    // structures and sheds the pendant
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val lone = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val edges3 = (k4 ++ lone :+ ((20L, 21L))).toDF("a", "b")
    val t3 = Graph.ktrussPeel(edges3, k = 3)
      .as[(Long, Long)].collect().toSet
    assert(t3 === (k4 ++ lone).toSet)
    // 4-triangle strip (1-2-3, 2-3-4, 3-4-5, 4-5-6): the middle edge
    // starts at support 2, but peeling the strip's ends cascades
    // inward over FOUR rounds until nothing is left — while K5
    // (every edge support 3) rides through untouched. Proves rounds
    // cascade on recomputed supports, not the round-1 snapshot.
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (4L, 6L), (5L, 6L))
    val k5 = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val t4 = Graph.ktrussPeel((strip ++ k5).toDF("a", "b"), k = 4)
      .as[(Long, Long)].collect().toSet
    assert(t4 === k5.toSet)
    // k ≤ 2 truss is the input graph by definition (support threshold
    // k−2 ≤ 0 admits every edge) — including the triangle-free pendant
    // the peel round's support semi-join would wrongly drop (ADVICE
    // r17). The round itself refuses k < 3 loudly.
    val t2 = Graph.ktrussPeel(edges3, k = 2)
      .as[(Long, Long)].collect().toSet
    assert(t2 === (k4 ++ lone :+ ((20L, 21L))).toSet)
    assertThrows[IllegalArgumentException] {
      Graph.ktrussPeelRound(edges3, k = 2)
    }
  }

  test("assortativity: −1 on a star, null on a degree-regular graph") {
    // K1,3: every edge joins deg-3 hub to a deg-1 leaf → perfectly
    // disassortative
    val star = edgesDF(Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L)))
    val r1 = Graph.assortativity(Graph.withOutDeg(Graph.adjacency(star)))
      .collect().head
    assert(r1.getAs[Long]("n_edges") == 6L)
    assert(r1.getAs[Double]("assortativity") == -1.0)
    // a square is 2-regular: zero degree variance → undefined (null)
    val square = edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 1L)))
    val r2 = Graph.assortativity(Graph.withOutDeg(Graph.adjacency(square)))
      .collect().head
    assert(r2.isNullAt(r2.fieldIndex("assortativity")))
  }

  test("clusteringCoeff: K4+pendant — hub 0.5, clique corners 1.0, pendant excluded") {
    val k4p = edgesDF(Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (1L, 5L, 1L)))
    val got = Graph.clusteringCoeff(k4p,
      Graph.withOutDeg(Graph.adjacency(k4p))).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 3L, 0.5)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((3L, 3L, 1.0)))
    assert(!got.contains(5L), "degree-1 node has no defined coefficient")
  }

  test("commonNeighbors scores the square's diagonals at Jaccard 1.0") {
    val e = edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L)))
    val got = Graph.commonNeighbors(e, Graph.adjacency(e))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
  }

  test("commonNeighborsFrom over wedgeStats matches the direct operator") {
    // the shared-wedge serving path (g6/g10's session-cached frame)
    // must agree row-for-row with the independent direct derivation
    val e = edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 1L), (4L, 5L, 1L)))
    val adjDeg = Graph.withOutDeg(Graph.adjacency(e))
    val viaWedge = Graph
      .commonNeighborsFrom(Graph.wedgeStats(adjDeg), e, adjDeg)
      .as[(Long, Long, Long, Double)].collect().toSet
    val direct = Graph.commonNeighbors(e, Graph.adjacency(e))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaWedge === direct)
    assert(viaWedge.nonEmpty)
  }

  test("adamicAdar: hand-computed selectivity weights on a double wedge") {
    import spark.implicits._
    // 1 and 3 share neighbors 2 (deg 2) and 4 (deg 3): score =
    // 1/ln 2 + 1/ln 3; pairs through the hub 4 alone score 1/ln 3,
    // and (2,4) shares the two deg-2 corners -> 2/ln 2
    val e = edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 4L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L)))
    val pairs = Graph.adamicAdar(e, Graph.withOutDeg(Graph.adjacency(e)))
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(pairs((1L, 3L)) === ((2L, r6(1 / math.log(2) + 1 / math.log(3)))))
    assert(pairs((2L, 4L)) === ((2L, r6(2 / math.log(2)))))
    assert(pairs((1L, 5L)) === ((1L, r6(1 / math.log(3)))))
    assert(pairs((3L, 5L)) === ((1L, r6(1 / math.log(3)))))
    assert(pairs.size === 4 && !pairs.contains((1L, 2L)),
      "adjacent pairs excluded")
  }

  test("Graft facade: the graph-family delegations run end-to-end") {
    // one 3-item basket -> a triangle in the co-purchase graph
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val g = Graft.copurchaseGraph(li)
    assert(g.count() === 3)
    assert(Graft.pagerank(g).count() === 3)
    assert(Graft.labelPropagation(g).count() === 3)
    assert(Graft.triangleCounts(g).count() === 3)
    assert(Graft.bfsHops(g, Seq(1L).toDF("node")).count() === 3)
    // sync LPA can oscillate on a tiny triangle — just prove the
    // delegation yields a community row per surviving label
    val q = Graft.communityModularity(g, Graft.labelPropagation(g))
    assert(q.count() >= 1)
  }

  test("g registry entries produce ranked non-empty frames at sf0.001") {
    for (name <- Seq("g1_copurchase_graph", "g2_pagerank", "g3_label_prop",
        "g4_triangles", "g5_kcore", "g6_link_predict",
        "g7_personalized_pagerank", "g8_bfs_hops", "g9_modularity",
        "g10_adamic_adar", "g16_ktruss")) {
      val out = SparkEntry.queries(name)(spark, sf)
      if (name != "g8_bfs_hops") // g8 emits a (hops, n_parts) histogram
        assert(out.columns.head === "rank", s"$name leads with rank")
      val n = out.count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  /** Reference personalized PageRank: teleport only to seeds. */
  private def refPpr(und: Seq[(Long, Long)], seeds: Map[Long, Long],
      iters: Int): Map[Long, Long] = {
    val adj = (und ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val odeg = adj.view.mapValues(_.size.toLong).toMap
    var r = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = adj.toSeq
        .flatMap { case (u, vs) => vs.map(v => v -> r(u) / odeg(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = inflow.map { case (v, s) =>
        v -> (seeds.getOrElse(v, 0L) + (s / 20) * 17 + ((s % 20) * 17) / 20) }
    }
    r
  }

  test("communityModularity: hand-computed contributions on bridged triangles") {
    // two triangles bridged by one edge (the LPA fixture): each
    // community has 3 internal edges and degree sum 7 of m = 7 edges
    // -> contribution 3/7 - (7/14)^2 each
    val e = edgesDF(Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (3L, 4L, 1L), (4L, 5L, 5L), (4L, 6L, 5L), (5L, 6L, 5L)))
    val adj = Graph.adjacency(e)
    val labels = Graph.labelPropagation(adj)
    val got = Graph.communityModularity(e, adj, labels)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val c = math.floor((3.0 / 7 - 0.25) * 1e6 + 0.5) / 1e6
    assert(got === Set((1L, 3L, 3L, 7L, c), (4L, 3L, 3L, 7L, c)))
  }

  test("bfsHops: path distances from the seed; other components unreached") {
    import spark.implicits._
    // path 1-2-3-4 seeded at 1, plus a disconnected edge 10-11
    val adj = Graph.adjacency(edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L), (10L, 11L, 1L))))
    val got = Graph.bfsHops(adj, Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsHops: two seeds take the pointwise minimum distance") {
    import spark.implicits._
    val adj = Graph.adjacency(edgesDF(
      (1L to 6L).sliding(2).map(s => (s(0), s(1), 1L)).toSeq))
    val got = Graph.bfsHops(adj, Seq(1L, 6L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L,
      4L -> 2L, 5L -> 1L, 6L -> 0L))
  }

  test("personalizedPagerank matches the reference and concentrates on the seed side") {
    import spark.implicits._
    // path 1-2-3-4-5-6 with the teleport mass pinned to node 1
    val und = (1L to 5L).map(i => (i, i + 1))
    val adjOd = Graph.withOutDeg(
      Graph.adjacency(edgesDF(und.map { case (a, b) => (a, b, 1L) })))
    val seeds = Seq((1L, 1800000L)).toDF("node", "tele")
    val got = Graph.personalizedPagerank(adjOd, seeds)
      .as[(Long, Long)].collect().toMap
    assert(got === refPpr(und, Map(1L -> 1800000L), 8))
    // proximity ordering: rank decays away from the seed's neighborhood
    assert(got(2L) > got(4L) && got(4L) > got(6L))
  }

  test("pagerank delta between consecutive rounds matches the reference") {
    // path 1-2-3: engine L1(r8−r7) equals the Long-recurrence reference
    val und = Seq((1L, 2L), (2L, 3L))
    val adjOd = Graph.withOutDeg(
      Graph.adjacency(edgesDF(und.map { case (a, b) => (a, b, 1L) })))
    val p7 = Graph.pagerank(adjOd, 7).as[(Long, Long)].collect().toMap
    val p8 = Graph.pagerank(adjOd, 8).as[(Long, Long)].collect().toMap
    val r7 = refPagerank(und, 7)
    val r8 = refPagerank(und, 8)
    assert(p7 === r7 && p8 === r8)
    val l1 = p7.keys.map(k => math.abs(p8(k) - p7(k))).sum
    val ref = r7.keys.map(k => math.abs(r8(k) - r7(k))).sum
    assert(l1 === ref)
  }

  test("twoHopReach: path graph counts distinct nodes within 2 hops") {
    // path 1-2-3-4: reach(1)={2,3}, reach(2)={1,3,4}, reach(3)={1,2,4},
    // reach(4)={2,3}
    val e = edgesDF(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)))
    val got = Graph.twoHopReach(Graph.adjacency(e))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L))
  }

  test("connectedComponents: planted components get their min ids") {
    // triangle {1,2,3}, a 5-node path {10..14} (tests multi-hop
    // label travel), and an isolated edge {20,21} — on both of
    // Dedup.connectedComponentsLoop's paths: the single-task
    // union-find (default threshold) and the star rounds (forced)
    val e = edgesDF(Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (12L, 13L, 1L), (13L, 14L, 1L),
      (20L, 21L, 1L)))
    val nodes = Graph.adjacency(e).select(col("src").as("node")).distinct()
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L)
    Seq(2000000L, 0L).foreach { threshold =>
      val got = graft.operators.Dedup.connectedComponentsLoop(nodes, e,
          "node", "a", "b", maxIter = 30, threshold)
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"threshold=$threshold")
    }
  }

  /** The DuckDB oracle's g13 recurrence replayed VERBATIM: per round,
    * min over (own label, neighbor labels, label-of-label). */
  private def ccStep(adj: org.apache.spark.sql.DataFrame,
      cur: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nb = adj
      .join(cur.select(col("node").as("dst"), col("lbl").as("nl")), "dst")
      .groupBy("src").agg(min("nl").as("nl"))
      .select(col("src").as("node"), col("nl"))
    val gp = cur.select(col("node").as("g_node"), col("lbl").as("gl"))
    cur
      .join(nb, Seq("node"), "left")
      .join(gp, col("lbl") === col("g_node"))
      .select(col("node"),
        least(col("lbl"), coalesce(col("nl"), col("lbl")), col("gl"))
          .as("lbl"))
  }

  private def oldUnroll(adj: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    var lbl = adj.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) lbl = ccStep(adj, lbl).localCheckpoint()
    lbl
  }

  /** Every testdata corpus g13 is gated or benchmarked on. */
  private def corpusDirs: Seq[String] = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(java.nio.file.Paths.get(sf).resolveSibling(_).toString)

  /** The oracle's 6-round labels per corpus, computed once for the two
    * tests below. */
  private lazy val oracleR6: Map[String, org.apache.spark.sql.DataFrame] =
    corpusDirs.map { d =>
      d -> oldUnroll(graft.operators.GraphQueries.cachedAdjDeg(spark, d), 6)
    }.toMap

  test("connectedComponents: round 6 is the fixpoint on every probe-skipped corpus") {
    // g13's oracle stops after 6 rounds with no convergence probe, so
    // its labels are the true components only where round 6 is already
    // the min-label fixpoint: a 7th round changing nothing proves it on
    // every corpus the oracle runs on
    for (sfDir <- corpusDirs) {
      val adj = graft.operators.GraphQueries.cachedAdjDeg(spark, sfDir)
      val r6 = oracleR6(sfDir).as[(Long, Long)].collect().toMap
      val r7 = ccStep(adj, oracleR6(sfDir)).as[(Long, Long)].collect().toMap
      assert(r6.nonEmpty, s"no labels at $sfDir")
      assert(r7 === r6, s"a 7th round still moves labels at $sfDir")
    }
  }

  test("connectedComponents: convergence early-exit ≡ fixed-round unroll (r22)") {
    // g13 runs Dedup's connected components, which stop as soon as the
    // labels converge; the oracle unrolls a fixed 6 rounds. Row-identity
    // on (a) every corpus and (b) a 40-node path under an
    // exactly-sufficient 7-round unroll, where stopping early would
    // split the component.
    for (sfDir <- corpusDirs) {
      val got = graft.operators.GraphQueries.components(spark, sfDir)
        .as[(Long, Long)].collect().toMap
      val want = oracleR6(sfDir).as[(Long, Long)].collect().toMap
      assert(got === want, s"g13 components differ from the 6-round unroll at $sfDir")
    }
    val pathE = edgesDF((1L until 40L).map(i => (i, i + 1, 1L)))
    val path = Graph.adjacency(pathE)
    val wantPath = oldUnroll(path, 7).as[(Long, Long)].collect().toMap
    Seq(2000000L, 0L).foreach { threshold =>
      val gotPath = graft.operators.Dedup.connectedComponentsLoop(
          path.select(col("src").as("node")).distinct(), pathE,
          "node", "a", "b", maxIter = 30, threshold)
        .as[(Long, Long)].collect().toMap
      assert(gotPath === wantPath, s"threshold=$threshold")
    }
    assert(wantPath.values.toSet === Set(1L), "one component, min-id label")
  }

  test("landmarkDistances: a path graph reads hand-computed per-landmark hops and closeness") {
    // path 1-2-3-4-5, landmarks {1, 5}: dist(1, n) = n-1, dist(5, n) = 5-n
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
    val adj = Graph.adjacency(edgesDF(path))
    val seeds = Seq(1L, 5L).toDF("node")
    val got = Graph.landmarkDistances(adj, seeds, rounds = 8)
      .collect().map(r => (r.getAs[Long]("landmark"),
        r.getAs[Long]("node")) -> r.getAs[Long]("hops")).toMap
    for (n <- 1L to 5L) {
      assert(got((1L, n)) == n - 1, s"landmark 1 -> $n")
      assert(got((5L, n)) == 5 - n, s"landmark 5 -> $n")
    }
    // harmonic closeness in micro units, self excluded: node 2 =
    // 1000000/1 + 1000000 div 3; endpoints see only the far landmark
    val cl = got.toSeq.filter(_._2 > 0)
      .groupBy(_._1._2).view.mapValues(_.map(t => 1000000L / t._2).sum).toMap
    assert(cl(1L) == 250000L && cl(2L) == 1333333L && cl(3L) == 1000000L
      && cl(4L) == 1333333L && cl(5L) == 250000L)
  }
}
