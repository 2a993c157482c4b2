package graft

import org.apache.spark.sql.functions._
import graft.operators.{HierarchyAgg, HierarchyDimension, HierarchyQueries}

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  /** Hand-built 6-node hierarchy:
    * root ─ a ─ a1, a2
    *      └ b ─ b1
    */
  lazy val toy = Seq(
    ("root", 0L, "Root", "Total", null.asInstanceOf[String]),
    ("a", 1L, "A", "Mid", "root"),
    ("b", 2L, "B", "Mid", "root"),
    ("a1", 11L, "A1", "Leaf", "a"),
    ("a2", 12L, "A2", "Leaf", "a"),
    ("b1", 21L, "B1", "Leaf", "b")
  ).toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")

  lazy val dim = new HierarchyDimension(toy)

  test("flags: root and leaves identified") {
    val m = dim.flaggedNodes.collect().map(r =>
      r.getAs[String]("node_id") -> (r.getAs[Boolean]("is_root"), r.getAs[Boolean]("is_leaf"))).toMap
    assert(m("root") == (true, false))
    assert(m("a") == (false, false))
    assert(m("b") == (false, false))
    assert(Seq("a1", "a2", "b1").forall(m(_) == (false, true)))
  }

  test("reporting dim: levels and DFS sort order") {
    val rd = dim.reportingDim.collect().map(r =>
      r.getAs[String]("node_id") ->
        (r.getAs[Int]("level_number"), r.getAs[Long]("node_sort_order"))).toMap
    assert(rd("root")._1 == 1)
    assert(rd("a")._1 == 2 && rd("b")._1 == 2)
    assert(rd("a1")._1 == 3)
    // DFS: root < a < a1 < a2 < b < b1 (lexicographic path order)
    val order = Seq("root", "a", "a1", "a2", "b", "b1").map(rd(_)._2)
    assert(order == order.sorted, s"expected DFS order, got $order")
  }

  test("reporting dim: flattened level columns") {
    val a1 = dim.reportingDim.filter(col("node_id") === "a1").collect().head
    assert(a1.getAs[String]("level_1_node_id") == "root")
    assert(a1.getAs[String]("level_2_node_id") == "a")
    assert(a1.getAs[String]("level_3_node_id") == "a1")
    assert(a1.getAs[String]("level_4_node_id") == null)
  }

  test("concentrationByParent: hand-computed HHI on the toy tree") {
    // leaves: a1=100¢, a2=300¢, b1=500¢ → a=400, b=500, root=900
    val facts = Seq((11L, 100L), (12L, 300L), (21L, 500L))
      .toDF("leaf_key", "cents")
    val got = HierarchyAgg.concentrationByParent(facts, dim)
      .collect().map(r => r.getAs[String]("parent_name") ->
        ((r.getAs[Long]("n_children"), r.getAs[Double]("total_sales"),
          r.getAs[Double]("top_child_share"), r.getAs[Double]("hhi")))).toMap
    // root's children a/b: top 500/900, hhi (400²+500²)/900²
    assert(got("Root") == ((2L, 9.0, 0.555556, 0.506173)))
    // a's children 100/300: top 0.75, hhi (100²+300²)/400² = 0.625
    assert(got("A") == ((2L, 4.0, 0.75, 0.625)))
    // single child ⇒ degenerate full concentration
    assert(got("B") == ((1L, 5.0, 1.0, 1.0)))
  }

  test("siblingRank: per-parent ordering and shares on the toy tree") {
    // leaves: a1=100¢, a2=300¢, b1=500¢ → a=400, b=500, root=900
    val facts = Seq((11L, 100L), (12L, 300L), (21L, 500L))
      .toDF("leaf_key", "cents")
    val got = HierarchyAgg.siblingRank(facts, dim)
      .collect().map(r => r.getAs[String]("node_name") ->
        ((r.getAs[Long]("sibling_rank"), r.getAs[Double]("subtree_sales"),
          r.getAs[Double]("share_of_parent")))).toMap
    assert(got("B") == ((1L, 5.0, 0.555556)), "B leads root's children")
    assert(got("A") == ((2L, 4.0, 0.444444)))
    assert(got("A2") == ((1L, 3.0, 0.75)) && got("A1") == ((2L, 1.0, 0.25)))
    assert(got("B1") == ((1L, 5.0, 1.0)), "only child ranks 1 at share 1")
    assert(!got.contains("Root"), "the root has no siblings")
  }

  test("subtreeStddev: root moments match a direct computation") {
    val facts = Seq((11L, 100L), (12L, 300L), (21L, 500L))
      .toDF("leaf_key", "cents")
    val got = HierarchyAgg.subtreeStddev(facts, dim.aggregationDim)
      .collect().map(r => r.getAs[String]("product_node_name") ->
        ((r.getAs[Long]("n_orders"), r.getAs[Double]("mean_value"),
          r.getAs[Double]("stddev_value")))).toMap
    // root: {1, 3, 5} dollars → mean 3, population stddev sqrt(8/3)
    val rootSd = math.floor(math.sqrt(8.0 / 3.0) * 1e6 + 0.5) / 1e6
    assert(got("Root") == ((3L, 3.0, rootSd)))
    // leaf B1: one order → zero dispersion
    assert(got("--------------B1") == ((1L, 5.0, 0.0)))
  }

  test("h32 audit checks fire on planted violations") {
    import org.apache.spark.sql.functions._
    // add a dangling-parent node and a second root to the toy table
    val bad = toy.unionByName(Seq(
      ("x", 99L, "X", "Mid", "ghost"),
      ("r2", 98L, "R2", "Total", null.asInstanceOf[String]))
      .toDF("node_id", "node_natural_key", "node_name", "level_name",
        "parent_node_id"))
    val nodes = new HierarchyDimension(bad).flaggedNodes
    val dangling = nodes.filter(!col("is_root"))
      .join(broadcast(nodes.select(col("node_id").as("__p"))),
        col("parent_node_id") === col("__p"), "left_anti")
      .count()
    assert(dangling === 1L, "the ghost parent must be flagged")
    val extraRoots = nodes.filter(col("is_root")).count() - 1
    assert(extraRoots === 1L)
    // fact key 99 has no leaf in the TOY dim → one orphan
    val leafKeys = dim.flaggedNodes.filter(col("is_leaf"))
      .select(col("node_natural_key").cast("long").as("k"))
    val facts = Seq(11L, 99L).toDF("k")
    assert(facts.join(broadcast(leafKeys), Seq("k"), "left_anti")
      .count() === 1L)
  }

  test("h31 path labels: closure-collected lineage matches the tree") {
    // the registry derivation (ancestors collected from the closure,
    // level-sorted) on the toy dim
    import org.apache.spark.sql.functions._
    val out = dim.aggregationDim.groupBy(col("descendant_node_id"))
      .agg(max(col("descendant_node_name")).as("node_name"),
        array_join(transform(
          array_sort(collect_list(struct(
            col("ancestor_level_number").as("l"),
            col("ancestor_node_name").as("n")))),
          x => x.getField("n")), " > ").as("path"))
      .collect().map(r => r.getAs[String]("node_name") ->
        r.getAs[String]("path")).toMap
    assert(out("Root") === "Root")
    assert(out("A") === "Root > A")
    assert(out("A1") === "Root > A > A1")
    assert(out("B1") === "Root > B > B1")
  }

  test("aggregation dim: closure pairs (self included) + net_level") {
    val pairs = dim.aggregationDim
      .select("ancestor_node_id", "descendant_node_id", "net_level")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Int]("net_level")).toMap
    // 6 self pairs + 5 parent links + 3 root->grandchild = 14
    assert(pairs.size == 14, s"closure size ${pairs.size}")
    assert(pairs(("root", "a1")) == 2)
    assert(pairs(("a", "a1")) == 1)
    assert(pairs(("a1", "a1")) == 0)
    assert(!pairs.contains(("a", "b1")))
  }

  test("hierarchical rollup: root row aggregates all facts; leaf rows match facts") {
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0), (21L, 1L, 4.0, 20.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val out = HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim).collect()
    assert(out.length == 6)
    val root = out.head // ordered by sort order; root first
    assert(root.getAs[String]("product_node_name") == "Root")
    assert(root.getAs[Double]("sum_sales_amount") == 35.0)
    assert(root.getAs[Long]("distinct_customer_count") == 2L)
    assert(root.getAs[Long]("count_of_fact_records") == 3L)
    val byName = out.map(r => r.getAs[String]("product_node_name") -> r).toMap
    assert(byName("-------A").getAs[Double]("sum_sales_amount") == 15.0)
    assert(byName("--------------B1").getAs[Double]("sum_sales_amount") == 20.0)
  }

  test("bitmap rollup is row-identical to the exact two-phase rollup") {
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0), (21L, 1L, 4.0, 20.0),
      (11L, 2L, 1.0, 7.5), (21L, 3L, 2.0, 2.25))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("product_node_name"),
        r.getAs[Double]("sum_sales_amount"), r.getAs[Double]("sum_unit_quantity"),
        r.getAs[Long]("distinct_customer_count"),
        r.getAs[Long]("count_of_fact_records"))).toSeq
    val exact = canon(HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim))
    val bitmap = canon(HierarchyAgg.hierarchicalRollupBitmap(
      facts, dim.aggregationDim, maxCustomer = 64))
    assert(bitmap == exact)
  }

  test("weighted DAG: multi-parent split, conservation at the root, cycle guard") {
    import graft.operators.WeightedDag
    // diamond: d reports 70% to a, 30% to b; both roll to root
    val edges = Seq(("a", "root", 1.0), ("b", "root", 1.0),
      ("d", "a", 0.7), ("d", "b", 0.3)).toDF("child", "parent", "w")
    val closure = WeightedDag.weightedClosure(edges)
    val cm = closure.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(cm(("d", "a")) == 0.7 && cm(("d", "b")) == 0.3)
    // both paths d→root sum to the full unit: conservation's source
    assert(math.abs(cm(("d", "root")) - 1.0) < 1e-12)
    val facts = Seq(("d", 100.0), ("a", 50.0)).toDF("node", "sales")
    val out = WeightedDag.weightedRollup(facts, closure).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("root") == 150.0) // conservation: root = grand total
    assert(out("a") == 120.0)    // 50 own + 70% of d
    assert(out("b") == 30.0)     // 30% of d
    assert(out("d") == 100.0)
    // a cycle never drains the frontier — the depth bound fires
    val cyc = Seq(("x", "y", 1.0), ("y", "x", 1.0)).toDF("child", "parent", "w")
    val e = intercept[IllegalArgumentException](
      WeightedDag.weightedClosure(cyc, maxDepth = 4))
    assert(e.getMessage.contains("maxDepth"))
  }

  test("contribution rollup: ratios partition parents; root pct_of_total is 1") {
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0), (21L, 1L, 4.0, 20.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val out = HierarchyAgg.contributionRollup(facts, dim).collect()
      .map(r => r.getAs[String]("node_name") -> r).toMap
    assert(out.size == 6)
    assert(out("Root").isNullAt(out("Root").fieldIndex("pct_of_parent")))
    assert(out("Root").getAs[Double]("pct_of_total") == 1.0)
    assert(out("A").getAs[Double]("sum_sales_amount") == 15.0)
    assert(math.abs(out("A").getAs[Double]("pct_of_parent") - 15.0 / 35.0) < 1e-6)
    assert(math.abs(out("A1").getAs[Double]("pct_of_parent") - 10.0 / 15.0) < 1e-6)
    assert(out("B1").getAs[Double]("pct_of_parent") == 1.0)
    assert(math.abs(out("B1").getAs[Double]("pct_of_total") - 20.0 / 35.0) < 1e-6)
    // siblings partition their parent: A + B account for all of Root
    assert(math.abs(out("A").getAs[Double]("pct_of_parent")
      + out("B").getAs[Double]("pct_of_parent") - 1.0) < 1e-5)
  }

  test("incremental rollup MV: base + delta merge equals full recompute") {
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val adim = HierarchyQueries.dimension(spark, sf).aggregationDim
    val full = HierarchyAgg.hierarchicalRollup(facts, adim)
      .collect().map(_.mkString("|")).toSeq
    val mv = HierarchyAgg.rollupMv(
      facts.filter(pmod(col("l_partkey"), lit(7)) =!= 0), adim)
    val merged = HierarchyAgg.mergeRollupMv(
      mv, facts.filter(pmod(col("l_partkey"), lit(7)) === 0), adim)
    val inc = HierarchyAgg.finalizeRollup(merged, adim)
      .collect().map(_.mkString("|")).toSeq
    assert(inc == full)
  }

  test("incremental rollup MV: a negated delta retracts its batch exactly") {
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val adim = HierarchyQueries.dimension(spark, sf).aggregationDim
    val batch = facts.filter(pmod(col("l_partkey"), lit(7)) === 0)
    // retraction = the documented API path: merge the ORIGINAL batch
    // rows with weight -1 (the weight signs sales, quantity and mv_n)
    val retracted = HierarchyAgg.mergeRollupMv(
      HierarchyAgg.rollupMv(facts, adim), batch, adim, weight = lit(-1L))
    // FP caveat: sum(all) + sum(-batch) ≡ sum(base) only mathematically;
    // compare sums with a tolerance, exact-integer columns exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("product_node_name"),
        r.getAs[Long]("distinct_customer_count"),
        r.getAs[Long]("count_of_fact_records"),
        r.getAs[Double]("sum_sales_amount"),
        r.getAs[Double]("sum_unit_quantity"))).toSeq
    val got = rows(HierarchyAgg.finalizeRollup(retracted, adim))
    val expected = rows(HierarchyAgg.hierarchicalRollup(
      facts.filter(pmod(col("l_partkey"), lit(7)) =!= 0), adim))
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-4 && math.abs(g._5 - e._5) < 1e-4, s"$g vs $e")
    }
  }

  test("multi-hierarchy rollup: the (root, root) cell equals the corpus totals") {
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val totals = facts.agg(
      round(sum("sales_amount"), 2), round(sum("unit_quantity"), 2),
      count(lit(1))).head()
    val out = SparkEntry.queries("h10_multi_hier_agg")(spark, sf)
    val rootRoot = out
      .filter(col("geo_node_id") === "root" && col("brand_node_id") === "root")
      .select("sum_sales_amount", "sum_unit_quantity", "count_of_fact_records")
      .head()
    assert(rootRoot.getLong(2) == totals.getLong(2))
    assert(math.abs(rootRoot.getDouble(0) - totals.getDouble(0)) < 1e-2)
    assert(math.abs(rootRoot.getDouble(1) - totals.getDouble(1)) < 1e-2)
    // within each geo node, brand-level cells partition the geo total
    val perGeo = out.filter(col("brand_level") === 2)
      .groupBy("geo_node_id").agg(sum("count_of_fact_records").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val geoRoot = out
      .filter(col("brand_node_id") === "root").collect()
      .map(r => r.getAs[String]("geo_node_id") ->
        r.getAs[Long]("count_of_fact_records")).toMap
    assert(perGeo == geoRoot)
  }

  test("h12: approx multi-hier rollup keeps exact cells; KMV distinct tracks exact") {
    val exact = SparkEntry.queries("h10_multi_hier_agg")(spark, sf).collect()
      .map(r => (r.getAs[String]("geo_node_id"), r.getAs[String]("brand_node_id")) ->
        (r.getAs[Double]("sum_sales_amount"), r.getAs[Long]("count_of_fact_records")))
      .toMap
    val approx = SparkEntry.queries("h12_multi_hier_approx")(spark, sf).collect()
    assert(approx.length == exact.size)
    // exact reference for the distinct measure: customer-grain facts
    // through both closures (test-only — the engine path must never
    // pay this cross-hierarchy customer-grain shuffle)
    val geo = HierarchyQueries.dimension(spark, sf).aggregationDim.select(
      col("ancestor_node_id").as("geo_node_id"),
      col("descendant_node_natural_key").as("gk"))
    val brand = HierarchyQueries.partDimension(spark, sf).aggregationDim
      .filter(col("ancestor_level_number") <= 2)
      .select(col("ancestor_node_id").as("brand_node_id"),
        col("descendant_node_natural_key").as("pk"))
    val exactDistinct = HierarchyAgg.salesFacts(spark, sf)
      .join(broadcast(geo), col("leaf_key") === col("gk"))
      .join(broadcast(brand), col("l_partkey").cast("long") === col("pk"))
      .groupBy("geo_node_id", "brand_node_id")
      .agg(countDistinct("customer_id").as("dc"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("dc")).toMap
    approx.foreach { a =>
      val key = (a.getAs[String]("geo_node_id"), a.getAs[String]("brand_node_id"))
      val (s, n) = exact(key)
      assert(a.getAs[Double]("sum_sales_amount") == s)
      assert(a.getAs[Long]("count_of_fact_records") == n)
      val de = exactDistinct(key)
      val da = a.getAs[Long]("approx_distinct_customer_count")
      // KMV k=64: cells under 64 distinct are EXACT; above, the
      // (k−1)·M/h_k estimator runs ~12.5% stderr → 35% floor
      if (de < 64) assert(da == de, s"$key exact=$de approx=$da (sub-k cells are exact)")
      else assert(math.abs(de - da) <= math.max(3L, (de * 0.35).toLong),
        s"$key exact=$de approx=$da")
    }
  }

  test("ragged rollup: level-2 channel leaf and regions partition the root") {
    val out = SparkEntry.queries("h11_ragged_rollup")(spark, sf).collect()
    def n(r: org.apache.spark.sql.Row) = r.getAs[Long]("count_of_fact_records")
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val nOnline = facts.filter(pmod(col("customer_id"), lit(20L)) === 0).count()
    val total = facts.count()
    val byName = out.map(r =>
      r.getAs[String]("product_node_name").replaceAll("^-+", "") -> r).toMap
    assert(n(byName("Online Direct")) == nOnline, "level-2 leaf misrouted")
    assert(n(byName("All Regions")) == total)
    // root's direct children (5 regions + the online channel) partition it
    val level2 = out.filter(
      _.getAs[String]("product_level_name").matches("-{7}(Region|Channel)"))
    assert(level2.length == 6)
    assert(level2.map(n).sum == total)
  }

  test("entry: flagship query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("above maxNodes the dim auto-switches to distributed BFS leveling") {
    // 100 roots > maxNodes=10: the old behavior failed fast; now the
    // derivation runs cluster-parallel and must match the single-task
    // result exactly
    val big = spark.range(100).selectExpr("CAST(id AS STRING) AS node_id",
      "id AS node_natural_key", "'n' AS node_name", "'L' AS level_name",
      "CAST(NULL AS STRING) AS parent_node_id")
    val dist = new HierarchyDimension(big, maxNodes = 10L)
    val single = new HierarchyDimension(big)
    assert(dist.reportingDim.count() == 100)
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted
      df.selectExpr(cols: _*).collect().map(_.toString).toSet
    }
    assert(canon(dist.reportingDim) == canon(single.reportingDim))
  }

  test("distributed BFS leveling: reporting + aggregation dims identical to single-task") {
    // ~300-node binary tree (depth 9) plus the degenerate cases the
    // single-task pass handles: a 2-cycle, a missing-parent orphan,
    // and a node hanging under the cycle — all must drop identically
    val rows = (1L to 300L).map { id =>
      val parent = if (id == 1L) null else (id / 2).toString
      (id.toString, id, s"Node $id", s"L${64 - java.lang.Long.numberOfLeadingZeros(id)}", parent)
    } ++ Seq(
      ("c1", 401L, "Cycle 1", "LX", "c2"),
      ("c2", 402L, "Cycle 2", "LX", "c1"),
      ("orphan", 403L, "Orphan", "LX", "nope"),
      ("under_cycle", 404L, "Under cycle", "LX", "c1"))
    val nodes = rows.toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val dist = new HierarchyDimension(nodes, maxNodes = 100L)   // 304 > 100 → BFS
    val single = new HierarchyDimension(nodes)                  // default → single-task
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted
      df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq
    }
    // flags incl. dropped rows
    assert(canon(dist.flaggedNodes) == canon(single.flaggedNodes))
    // full reporting dim: levels, paths, DFS sort order, level_{i}_*
    assert(canon(dist.reportingDim) == canon(single.reportingDim))
    assert(dist.reportingDim.count() == 300) // the 4 degenerates dropped
    // closure with ancestor/descendant attribute families + net_level
    assert(canon(dist.aggregationDim) == canon(single.aggregationDim))
    // and the distributed plan really is distributed: no coalesce(1)
    val plan = dist.reportingDim.queryExecution.executedPlan.toString
    assert(!plan.contains("Coalesce 1"), plan.take(1500))
  }

  test("rollup approxDistinct: same sums/counts, distinct within HLL error") {
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0), (21L, 1L, 4.0, 20.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val exact = HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim).collect()
    val approx = HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim,
      approxDistinct = true).collect()
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getAs[Double]("sum_sales_amount") == a.getAs[Double]("sum_sales_amount"))
      assert(e.getAs[Long]("count_of_fact_records") == a.getAs[Long]("count_of_fact_records"))
      val (de, da) = (e.getAs[Long]("distinct_customer_count"),
        a.getAs[Long]("distinct_customer_count"))
      assert(math.abs(de - da) <= math.max(1L, (de * 0.1).toLong))
    }
  }

  test("h13: as-of selects the point-in-time hierarchy version") {
    // before the reparent date: snapshot ≡ the base hierarchy
    val pre = HierarchyQueries.asOfDimension(spark, sf, "1995-06-01")
    assert(HierarchyDimension.closureDiff(
      HierarchyQueries.dimension(spark, sf), pre).count() == 0)
    // after: n8 sits under r0 — the closure carries (r0, n8), not (r2, n8)
    val post = HierarchyQueries.asOfDimension(spark, sf, "1996-06-01")
    val pairs = post.closurePairs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("r0", "n8")) && !pairs.contains(("r2", "n8")))
    // and the rollup emits one row per node of the snapshot hierarchy
    assert(SparkEntry.queries("h13_asof_rollup")(spark, sf).count() == 31)
  }

  test("h21: incremental closure move equals the full rebuild; guards reject cycles") {
    val dim = HierarchyQueries.dimension(spark, sf)
    val incremental = HierarchyDimension
      .moveSubtreeClosure(dim.closurePairs, "n8", "r0").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // full rebuild: re-derive the dimension from the edited node table
    val moved = HierarchyAgg.regionNationNodes(spark, sf)
      .withColumn("parent_node_id",
        when(col("node_id") === "n8", lit("r0")).otherwise(col("parent_node_id")))
    val rebuilt = new HierarchyDimension(moved, knownDepth = 3)
      .closurePairs.collect().map(r => (r.getString(0), r.getString(1)))
    assert(incremental.sorted.toSeq == rebuilt.sorted.toSeq)
    // pairs stay unique (removed ∩ added overlap — shared ancestors
    // like root — must not duplicate)
    assert(incremental.length == incremental.distinct.length)
    // a move to the node's own parent is the identity
    val parent = dim.closurePairs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val noop = HierarchyDimension
      .moveSubtreeClosure(dim.closurePairs, "n8", "r2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // n8's home parent in the synthetic data: whichever region holds it
    val home = parent.collect {
      case (a, "n8") if a != "root" && a.startsWith("r") => a }.head
    val noopHome = HierarchyDimension
      .moveSubtreeClosure(dim.closurePairs, "n8", home).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(noopHome == parent)
    assert(noop != parent || home == "r2")
    // cycle guard: a node cannot move under its own descendant or itself
    intercept[IllegalArgumentException] {
      HierarchyDimension.moveSubtreeClosure(dim.closurePairs, "root", "n3")
    }
    intercept[IllegalArgumentException] {
      HierarchyDimension.moveSubtreeClosure(dim.closurePairs, "r1", "r1")
    }
  }

  test("h22: move-driven MV repair recomputes only the two spines, never the shared ancestors") {
    val dim = HierarchyQueries.dimension(spark, sf)
    val out = SparkEntry.queries("h22_move_mv_repair")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Double]("sum_sales_amount"), r.getAs[Long]("count_of_fact_records")))).toMap
    // full recompute under the rebuilt moved dimension for comparison
    val moved = HierarchyAgg.regionNationNodes(spark, sf)
      .withColumn("parent_node_id",
        when(col("node_id") === "n8", lit("r0")).otherwise(col("parent_node_id")))
    val newDim = new HierarchyDimension(moved, knownDepth = 3)
    val leaves = newDim.flaggedNodes.filter(col("is_leaf"))
      .select(col("node_id").as("leaf_node_id"),
        col("node_natural_key").as("leaf_nk"))
    val full = HierarchyAgg.salesFacts(spark, sf)
      .join(broadcast(leaves), col("leaf_key") === col("leaf_nk"))
      .join(broadcast(newDim.closurePairs),
        col("leaf_node_id") === col("descendant_node_id"))
      .groupBy("ancestor_node_id")
      .agg(round(sum("sales_amount"), 2).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out == full)
    // the invalidation set is exactly the two spines below the shared
    // ancestors: n8's home region and r0 — root's row must SURVIVE
    // (its descendant set is unchanged), i.e. equal the pre-move MV's
    val preMoveRoot = HierarchyAgg.salesFacts(spark, sf)
      .agg(round(sum("sales_amount"), 2).as("s"), count(lit(1)).as("n"))
      .head()
    assert(out("root") == ((preMoveRoot.getDouble(0), preMoveRoot.getLong(1))))
    // and the moved leaf's own row is untouched by the repair
    val n8Own = HierarchyAgg.salesFacts(spark, sf)
      .filter(col("c_nationkey") === 8)
      .agg(round(sum("sales_amount"), 2).as("s"), count(lit(1)).as("n")).head()
    assert(out("n8") == ((n8Own.getDouble(0), n8Own.getLong(1))))
  }

  test("moveMvRepair plans ZERO fact I/O: the repair reads only the MV and the closure") {
    val dim = HierarchyQueries.dimension(spark, sf)
    val closure = dim.closurePairs
    val leaves = dim.flaggedNodes.filter(col("is_leaf"))
      .select(col("node_id").as("leaf_node_id"),
        col("node_natural_key").as("leaf_nk"))
    // materialize the stored MV so its lineage (which does scan facts)
    // is cut — exactly the production state where the MV is a table
    val mv = HierarchyAgg.salesFacts(spark, sf)
      .join(broadcast(leaves), col("leaf_key") === col("leaf_nk"))
      .groupBy("leaf_node_id")
      .agg(sum("sales_amount").as("sum_raw"), count(lit(1)).as("count_of_fact_records"))
      .join(broadcast(closure), col("leaf_node_id") === col("descendant_node_id"))
      .groupBy("ancestor_node_id")
      .agg(sum("sum_raw").as("sum_raw"),
        sum("count_of_fact_records").as("count_of_fact_records"))
      .localCheckpoint()
    val repaired = HierarchyAgg.moveMvRepair(mv, closure, "n8", "r0")
    val p = repaired.queryExecution.executedPlan.toString()
    assert(!p.contains("lineitem") && !p.contains("orders") &&
      !p.contains("customer"), "the repair scheduled a fact scan:\n" + p.take(3000))
    assert(repaired.count() > 0)
  }

  test("h14: history rollup splits India across Asia/Africa at the reparent date") {
    val out = SparkEntry.queries("h14_history_rollup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count_of_fact_records")).toMap
    val li = Tables.lineitem(spark, sf).select("l_orderkey")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(spark, sf).select("n_nationkey", "n_regionkey")
    val facts = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
    def cnt(f: org.apache.spark.sql.DataFrame) = f.count()
    val n8All = cnt(facts.filter(col("c_nationkey") === 8))
    val n8Pre = cnt(facts.filter(col("c_nationkey") === 8 &&
      col("o_orderdate") < to_date(lit("1996-01-01"))))
    // n8's pre-reparent parent is whatever region the DATA assigns it
    // (synthetic testdata need not follow TPC-H geography)
    val n8Home = nat.filter(col("n_nationkey") === 8)
      .head.getAs[Number]("n_regionkey").intValue
    assert(n8Home != 0, "reparent target r0 must differ from n8's home region")
    val homeAll = cnt(facts.filter(col("n_regionkey") === n8Home))
    val africaAll = cnt(facts.filter(col("n_regionkey") === 0))
    assert(out("root") == cnt(facts))
    // home region keeps only n8's pre-cutoff facts; r0 gains the rest
    assert(out(s"r$n8Home") == homeAll - n8All + n8Pre,
      s"r$n8Home=${out(s"r$n8Home")}")
    assert(out("r0") == africaAll + (n8All - n8Pre), s"r0=${out("r0")}")
    // a region touching neither n8 nor the target is unchanged
    val other = (1 to 4).find(r => r != n8Home).get
    assert(out(s"r$other") == cnt(facts.filter(col("n_regionkey") === other)))
    // India itself keeps ALL its facts regardless of which parent
    assert(out("n8") == n8All)
  }

  test("h16: targeted MV repair equals the full recompute under the new hierarchy") {
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val v1 = HierarchyQueries.dimension(spark, sf)
    val v2 = HierarchyQueries.asOfDimension(spark, sf, "1996-06-01")
    val repaired = SparkEntry.queries("h16_targeted_mv_repair")(spark, sf).collect()
    val full = HierarchyAgg.finalizeRollup(
      HierarchyAgg.rollupMv(facts, v2.aggregationDim), v2.aggregationDim).collect()
    assert(repaired.toSeq == full.toSeq)
    // the reparent invalidates only the two affected spines: root's
    // descendant SET is unchanged, so its MV rows survive the repair
    val inv = HierarchyDimension.closureDiff(v1, v2)
      .select("ancestor_node_id").distinct().collect().map(_.getString(0)).toSet
    assert(!inv.contains("root") && inv.contains("r0"))
  }

  test("repairRollupMv stays distributed: no driver collect anywhere in HierarchyAgg") {
    // the repair's control decisions (invalidated ancestors, missing
    // fallback keys) are dim-grain frames broadcast into joins; a
    // leaf-grain collect would OOM the driver at the 100M-leaf
    // dimension the leveling fallback is built for — lint the source
    // so one can never come back
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/operators/HierarchyAgg.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    assert(!text.contains(".collect()"),
      "HierarchyAgg must not .collect(): route control frames through " +
        "broadcast joins + a 1-row isEmpty probe instead")
  }

  test("repairRollupMv: a leaf natural-key change invalidates its spine and repairs from facts") {
    // a2's natural key changes 12 → 13 with NO reparent: the node-id
    // closure pairs are identical, so the pair diff alone is blind to
    // the edit — the key guard must invalidate a2's spine, drop its
    // stale partials, and route the key-13 facts via the fallback
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0),
      (13L, 3L, 3.0, 7.0), (21L, 1L, 4.0, 20.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val newNodes = toy.withColumn("node_natural_key",
      when(col("node_id") === "a2", lit(13L)).otherwise(col("node_natural_key")))
    val newDim = new HierarchyDimension(newNodes)
    val mv = HierarchyAgg.rollupMv(facts, dim.aggregationDim)
    val repaired = HierarchyAgg.finalizeRollup(
      HierarchyAgg.repairRollupMv(mv, facts, dim, newDim),
      newDim.aggregationDim).collect()
    val full = HierarchyAgg.finalizeRollup(
      HierarchyAgg.rollupMv(facts, newDim.aggregationDim),
      newDim.aggregationDim).collect()
    assert(repaired.toSeq == full.toSeq)
    // the old key-12 facts are orphans under the new dim: both paths
    // must drop them (A2's cell reflects only the key-13 facts)
    val a2 = repaired.find(_.getAs[String]("product_node_name").endsWith("A2")).get
    assert(a2.getAs[Double]("sum_sales_amount") == 7.0)
  }

  test("repairRollupMv: a reconnected orphan leaf (absent from the old closure) repairs from facts") {
    // leaf 'x' exists in BOTH versions' node tables but its parent is
    // missing in v1 — the closure drops it, so its facts never reached
    // the MV. v2 connects it under 'b'. The candidate set must come
    // from the NEW closure (a flaggedNodes-based candidate set misses
    // this: x is is_leaf in both versions, key unchanged).
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0),
      (21L, 1L, 4.0, 20.0), (31L, 3L, 5.0, 9.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val orphan = Seq(("x", 31L, "X", "Leaf", "ghost"))
      .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val connected = Seq(("x", 31L, "X", "Leaf", "b"))
      .toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val oldDim = new HierarchyDimension(toy.unionByName(orphan))
    val newDim = new HierarchyDimension(toy.unionByName(connected))
    // precondition of the scenario: x is a leaf in both node tables
    // yet absent from the old closure
    assert(oldDim.flaggedNodes.filter(col("node_id") === "x" && col("is_leaf"))
      .count() == 1)
    assert(oldDim.aggregationDim.filter(col("descendant_node_id") === "x")
      .count() == 0)
    val mv = HierarchyAgg.rollupMv(facts, oldDim.aggregationDim)
    val repaired = HierarchyAgg.finalizeRollup(
      HierarchyAgg.repairRollupMv(mv, facts, oldDim, newDim),
      newDim.aggregationDim).collect()
    val full = HierarchyAgg.finalizeRollup(
      HierarchyAgg.rollupMv(facts, newDim.aggregationDim),
      newDim.aggregationDim).collect()
    assert(repaired.toSeq == full.toSeq)
    // the reconnected leaf's facts surface under its new spine
    val b = repaired.find(_.getAs[String]("product_node_name").endsWith("-B")).get
    assert(b.getAs[Double]("sum_sales_amount") == 29.0)
  }

  test("rollup equals a brute-force ancestor-walk reference on random trees and facts") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      // random tree, depth-capped at 7: each node parents to a random
      // earlier node that still has headroom
      val n = 15 + rnd.nextInt(20)
      var depth = Map("root" -> 1)
      val nodes = (1 to n).map { i =>
        val shallow = depth.filter(_._2 < 7).keys.toSeq.sorted
        val parent = shallow(rnd.nextInt(shallow.size))
        depth += (s"nd$i" -> (depth(parent) + 1))
        (s"nd$i", 100L + i, s"N$i", "L", parent)
      }
      val all = Seq(("root", 0L, "Root", "Total",
        null.asInstanceOf[String])) ++ nodes
      val dimR = new HierarchyDimension(
        all.toDF("node_id", "node_natural_key", "node_name", "level_name",
          "parent_node_id"))
      val parentOf = all.map(t => t._1 -> t._5).toMap
      def chain(id: String): List[String] =
        if (id == null) Nil else id :: chain(parentOf.getOrElse(id, null))
      val withKids = nodes.map(_._5).toSet
      val leaves = all.filter(t => !withKids.contains(t._1) && t._1 != "root")
      val factRows = (1 to 60).map { _ =>
        val leaf = leaves(rnd.nextInt(leaves.size))
        (leaf._2, rnd.nextInt(5).toLong, 1.0 + rnd.nextInt(3),
          rnd.nextInt(100).toDouble)
      }
      val out = HierarchyAgg.hierarchicalRollup(
        factRows.toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount"),
        dimR.aggregationDim).collect()
        .map(r => r.getAs[String]("product_node_name").dropWhile(_ == '-') -> r)
        .toMap
      // brute force: every fact lands on every ancestor of its leaf
      val keyToId = all.map(t => t._2 -> t._1).toMap
      var exp = Map.empty[String, (Double, Double, Set[Long], Long)]
      factRows.foreach { case (k, cust, q, s) =>
        chain(keyToId(k)).foreach { node =>
          val (es, eq, ec, en) = exp.getOrElse(node, (0.0, 0.0, Set.empty[Long], 0L))
          exp += (node -> (es + s, eq + q, ec + cust, en + 1))
        }
      }
      val nameOf = all.map(t => t._1 -> t._3).toMap
      assert(out.keySet == exp.keySet.map(nameOf), s"node sets differ (n=$n)")
      exp.foreach { case (node, (es, eq, ec, en)) =>
        val r = out(nameOf(node))
        assert(r.getAs[Double]("sum_sales_amount") ==
          BigDecimal(es).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, node)
        assert(r.getAs[Double]("sum_unit_quantity") ==
          BigDecimal(eq).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, node)
        assert(r.getAs[Long]("distinct_customer_count") == ec.size.toLong, node)
        assert(r.getAs[Long]("count_of_fact_records") == en, node)
      }
    }
  }

  test("whatIfDelta: only changed nodes appear; old/new/delta match the two full rollups") {
    // what-if: move leaf a2 (key 12) from a to b
    val moved = toy.withColumn("parent_node_id",
      when(col("node_id") === "a2", lit("b")).otherwise(col("parent_node_id")))
    val v2 = new HierarchyDimension(moved)
    val facts = Seq(
      (11L, 1L, 1.0, 10.0), (12L, 1L, 2.0, 20.0),
      (12L, 2L, 1.0, 5.0), (21L, 3L, 1.0, 7.0)
    ).toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val mv = HierarchyAgg.rollupMv(facts, dim.aggregationDim)
    val repaired = HierarchyAgg.repairRollupMv(mv, facts, dim, v2)
    val delta = HierarchyAgg.whatIfDelta(mv, repaired, dim, v2).collect()
      .map(r => r.getAs[String]("node_id") -> r).toMap
    // a2's subtree moved: only its old and new parents change — root,
    // the leaves themselves, and b1 keep identical totals and are absent
    assert(delta.keySet == Set("a", "b"), delta.keySet.toString)
    val a = delta("a"); val b = delta("b")
    assert(a.getAs[Double]("old_sales") == 35.0 && a.getAs[Double]("new_sales") == 10.0)
    assert(a.getAs[Double]("delta_sales") == -25.0)
    assert(b.getAs[Double]("old_sales") == 7.0 && b.getAs[Double]("new_sales") == 32.0)
    assert(b.getAs[Double]("delta_sales") == 25.0)
    assert(a.getAs[Long]("old_customers") == 2L && a.getAs[Long]("new_customers") == 1L)
    assert(b.getAs[Long]("old_customers") == 1L && b.getAs[Long]("new_customers") == 3L)
    assert(a.getAs[Long]("old_facts") == 3L && a.getAs[Long]("new_facts") == 1L)
    assert(b.getAs[Long]("old_facts") == 1L && b.getAs[Long]("new_facts") == 3L)
    assert(a.getAs[Double]("old_qty") == 4.0 && a.getAs[Double]("new_qty") == 1.0)
  }

  test("asOfRange clips validity windows and keeps every overlapping version") {
    val versioned = HierarchyQueries.versionedRegionNationNodes(spark, sf)
    // a range spanning the 1996-01-01 reparent sees BOTH n8 versions,
    // each clipped to the range
    val spanning = HierarchyDimension.asOfRange(versioned,
      to_date(lit("1995-06-01")), to_date(lit("1996-06-01")))
    val n8 = spanning.filter(col("node_id") === "n8")
      .select("parent_node_id", "valid_from", "valid_to").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDate(2).toString)).toSet
    val home = n8.map(_._1).filterNot(_ == "r0").head
    assert(n8 == Set(
      (home, "1995-06-01", "1996-01-01"),
      ("r0", "1996-01-01", "1996-06-01")))
    // a range inside one window sees exactly one version per node
    val inside = HierarchyDimension.asOfRange(versioned,
      to_date(lit("1997-01-01")), to_date(lit("1998-01-01")))
    assert(inside.filter(col("node_id") === "n8").count() == 1)
    assert(inside.groupBy("node_id").count().filter(col("count") > 1).count() == 0)
  }

  test("historyClosure: SCD2 union matches per-date as-of closures (2 edited nodes, 3 versions)") {
    def v(nid: String, key: Long, name: String, lvl: String, parent: String,
        from: String, to: String) =
      (nid, key, name, lvl, parent,
        java.sql.Date.valueOf(from), java.sql.Date.valueOf(to))
    val versioned = Seq(
      v("root", 0L, "Root", "Total", null, "1990-01-01", "9999-01-01"),
      v("a", 1L, "A", "Mid", "root", "1990-01-01", "9999-01-01"),
      v("b", 2L, "B", "Mid", "root", "1990-01-01", "9999-01-01"),
      v("a1", 11L, "A1", "Leaf", "a", "1990-01-01", "9999-01-01"),
      // a2: under a until 2000, then under b
      v("a2", 12L, "A2", "Leaf", "a", "1990-01-01", "2000-01-01"),
      v("a2", 12L, "A2", "Leaf", "b", "2000-01-01", "9999-01-01"),
      // b1: under b until 2010, then under a
      v("b1", 21L, "B1", "Leaf", "b", "1990-01-01", "2010-01-01"),
      v("b1", 21L, "B1", "Leaf", "a", "2010-01-01", "9999-01-01")
    ).toDF("node_id", "node_natural_key", "node_name", "level_name",
      "parent_node_id", "valid_from", "valid_to")
    val hc = HierarchyDimension.historyClosure(versioned).cache()
    def pairsAt(t: String): Set[(String, String)] =
      new HierarchyDimension(
        HierarchyDimension.asOf(versioned, to_date(lit(t))))
        .closurePairs.collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    def hcAt(t: String): Set[(String, String)] = {
      val d = java.sql.Date.valueOf(t)
      hc.filter(col("valid_from") <= lit(d) && lit(d) < col("valid_to"))
        .select("ancestor_node_id", "descendant_node_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    // probe every breakpoint and a midpoint of every interval: the
    // point-in-time view of the union must equal the as-of closure
    for (t <- Seq("1990-01-01", "1995-06-15", "2000-01-01", "2005-03-03",
        "2010-01-01", "2015-07-07"))
      assert(hcAt(t) == pairsAt(t), s"mismatch at $t")
    // pairs surviving a breakpoint merge: (root, a1) holds for all
    // time and must appear as ONE window, not one row per interval
    val rootA1 = hc.filter(col("ancestor_node_id") === "root" &&
      col("descendant_node_id") === "a1").collect()
    assert(rootA1.length == 1, rootA1.mkString(", "))
    assert(rootA1.head.getAs[java.sql.Date]("valid_from").toString == "1990-01-01")
    assert(rootA1.head.getAs[java.sql.Date]("valid_to").toString == "9999-01-01")
    // a2's ancestry changes at 2000: (a, a2) and (b, a2) each carry
    // exactly their own validity
    val aA2 = hc.filter(col("ancestor_node_id") === "a" &&
      col("descendant_node_id") === "a2").collect()
    assert(aA2.length == 1 &&
      aA2.head.getAs[java.sql.Date]("valid_to").toString == "2000-01-01")
    hc.unpersist()
  }

  test("historyClosure + asOf: null valid_to is the open current version (SCD2 convention)") {
    def v(nid: String, key: Long, name: String, lvl: String, parent: String,
        from: String, to: String) =
      (nid, key, name, lvl, parent, java.sql.Date.valueOf(from),
        if (to == null) null else java.sql.Date.valueOf(to))
    val versioned = Seq(
      v("root", 0L, "Root", "Total", null, "1990-01-01", null),
      v("a", 1L, "A", "Mid", "root", "1990-01-01", null),
      v("b", 2L, "B", "Mid", "root", "1990-01-01", null),
      v("a1", 11L, "A1", "Leaf", "a", "1990-01-01", null),
      v("a2", 12L, "A2", "Leaf", "a", "1990-01-01", "2000-01-01"),
      v("a2", 12L, "A2", "Leaf", "b", "2000-01-01", null)
    ).toDF("node_id", "node_natural_key", "node_name", "level_name",
      "parent_node_id", "valid_from", "valid_to")
    // asOf after the reparent must see the open a2-under-b version
    val at2005 = HierarchyDimension.asOf(versioned, to_date(lit("2005-06-01")))
    assert(at2005.filter(col("node_id") === "a2")
      .select("parent_node_id").head().getString(0) == "b")
    val hc = HierarchyDimension.historyClosure(versioned)
    def hcAt(t: String): Set[(String, String)] = {
      val d = java.sql.Date.valueOf(t)
      hc.filter(col("valid_from") <= lit(d) && lit(d) < col("valid_to"))
        .select("ancestor_node_id", "descendant_node_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    // no window may carry a null end — nulls normalize to the sentinel
    assert(hc.filter(col("valid_to").isNull || col("valid_from").isNull).count() == 0)
    assert(hcAt("1995-01-01").contains(("a", "a2")))
    assert(!hcAt("1995-01-01").contains(("b", "a2")))
    assert(hcAt("2005-01-01").contains(("b", "a2")))
    assert(!hcAt("2005-01-01").contains(("a", "a2")))
    // facts dated far beyond the last explicit breakpoint still match
    assert(hcAt("3000-01-01") == hcAt("2005-01-01"))
  }

  test("historyClosure property: scattered-edit versions match a brute-force " +
      "as-of walk; derivation is lazy and never scales with breakpoints") {
    val rnd = new scala.util.Random(42)
    val base = java.time.LocalDate.of(1990, 1, 1)
    def d(off: Int) = java.sql.Date.valueOf(base.plusDays(off.toLong))
    val HI = 20000
    // 14 nodes; node i's parent candidates are nodes < i (acyclic by
    // construction); each node re-rolls its parent at 0-3 scattered
    // breakpoints — a long-history dim whose edits each touch ONE node
    case class V(id: String, parent: String, vf: Int, vt: Int)
    val versions = scala.collection.mutable.ArrayBuffer[V]()
    versions += V("n0", null, 0, HI)
    for (i <- 1 until 14) {
      val cuts = (Seq(0, HI) ++
        Seq.fill(rnd.nextInt(4))(1 + rnd.nextInt(HI - 2))).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(f, t) => versions += V(s"n$i", s"n${rnd.nextInt(i)}", f, t)
        case _ => ()
      }
    }
    val breaks = versions.flatMap(v => Seq(v.vf, v.vt)).distinct.sorted
    assert(breaks.size >= 12, s"fixture too tame: ${breaks.size} breakpoints")
    val df = versions.toSeq.map(v => (v.id, v.parent, d(v.vf), d(v.vt)))
      .toDF("node_id", "parent_node_id", "valid_from", "valid_to")
    // job accounting: the r10 derivation collected breakpoints and built
    // a full HierarchyDimension per interval — ≥1 job at CONSTRUCTION
    // and per-breakpoint derivation work. The incremental walk must be
    // fully lazy (0 jobs to construct) and evaluate in O(depth) jobs,
    // independent of the breakpoint count.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var prev = -1; var cur = jobs.get(); var spins = 0
      while (prev != cur && spins < 50) {
        Thread.sleep(100); prev = cur; cur = jobs.get(); spins += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val hc = HierarchyDimension.historyClosure(df, knownDepth = 14)
      assert(settled() == 0, "historyClosure derivation must be fully lazy")
      val rows = hc.collect()
      val evalJobs = settled()
      assert(evalJobs < breaks.size && evalJobs <= 12,
        s"evaluation took $evalJobs jobs for ${breaks.size} breakpoints — " +
          "derivation cost must not scale with the breakpoint count")
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    // brute-force oracle: at date t, each node's live version walks its
    // parent chain to the root; pairs = (every chain node, self)
    def pairsAt(t: Int): Set[(String, String)] = {
      val par = versions.collect { case v if v.vf <= t && t < v.vt =>
        v.id -> v.parent }.toMap
      par.keySet.flatMap { n =>
        val chain = scala.collection.mutable.ArrayBuffer[String](n)
        var cur = n
        var ok = true
        while (ok && par(cur) != null) {
          val p = par(cur)
          if (!par.contains(p) || chain.size > 14) ok = false
          else { chain += p; cur = p }
        }
        if (ok) chain.toSeq.map(a => (a, n)) else Nil
      }
    }
    def hcAt(t: Int): Set[(String, String)] = {
      val at = d(t)
      got.filter(r => !r.getAs[java.sql.Date]("valid_from").after(at) &&
          at.before(r.getAs[java.sql.Date]("valid_to")))
        .map(r => (r.getAs[String]("ancestor_node_id"),
          r.getAs[String]("descendant_node_id"))).toSet
    }
    // probe every breakpoint AND a midpoint of every interval
    val mids = (1 until breaks.size)
      .filter(i => breaks(i) - breaks(i - 1) > 1)
      .map(i => (breaks(i - 1) + breaks(i)) / 2)
    val probes = (breaks.dropRight(1).toSeq ++ mids).distinct
    probes.foreach(t => assert(hcAt(t) == pairsAt(t), s"mismatch at offset $t"))
    // per pair, windows must be disjoint AND maximal (adjacent merged)
    got.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (p, rs) =>
      val ws = rs.map(r => (r.getAs[java.sql.Date]("valid_from").getTime,
        r.getAs[java.sql.Date]("valid_to").getTime)).sortBy(_._1)
      (1 until ws.length).foreach { i =>
        assert(ws(i - 1)._2 < ws(i)._1,
          s"unmerged or overlapping windows for $p")
      }
    }
  }

  test("asOfRange property: every overlapping version survives, clipped to [start, end)") {
    val rnd = new scala.util.Random(7)
    val base = java.time.LocalDate.of(1995, 1, 1)
    def d(off: Int) = java.sql.Date.valueOf(base.plusDays(off.toLong))
    // 12 nodes × 1-3 contiguous versions at seeded-random breakpoints
    val rows = (0 until 12).flatMap { i =>
      val nv = 1 + rnd.nextInt(3)
      val mids = Seq.fill(nv - 1)(1 + rnd.nextInt(3650)).sorted.distinct
      val cuts = Seq(0) ++ mids ++ Seq(4000)
      cuts.sliding(2).collect { case Seq(f, t) if f < t =>
        (s"n$i", s"p${i % 3}", d(f), d(t))
      }
    }
    val df = rows.toDF("node_id", "parent_node_id", "valid_from", "valid_to")
    val (start, end) = (d(900), d(2200))
    val got = HierarchyDimension.asOfRange(df, lit(start), lit(end))
      .select("node_id", "valid_from", "valid_to").collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDate(2))).toSet
    // brute force: overlap iff vf < end && start < vt; clip both ends
    val want = rows.collect { case (nid, _, vf, vt)
        if vf.before(end) && start.before(vt) =>
      (nid, if (vf.after(start)) vf else start,
        if (vt.before(end)) vt else end) }.toSet
    assert(got == want)
    got.foreach { case (_, vf, vt) =>
      assert(!vf.before(start) && !vt.after(end) && vf.before(vt),
        s"window [$vf, $vt) escapes [$start, $end)")
    }
  }

  test("merge hint (wide-dim shuffle fallback): result-identical, closure sort-merged") {
    // a fact slice no stored MV covers: the plan must be planned, not
    // served from the cached h16 MV (cache lookup ignores hints)
    val facts = HierarchyAgg.salesFacts(spark, sf)
      .filter(pmod(col("customer_id"), lit(2)) === 0)
    val dim = HierarchyQueries.dimension(spark, sf).aggregationDim
    val b = HierarchyAgg.hierarchicalRollup(facts, dim).collect()
    val merged = HierarchyAgg.hierarchicalRollup(facts, dim.hint("merge"))
    assert(b.toSeq == merged.collect().toSeq)
    // the outer merge hint overrides the dimension's broadcast hint:
    // the closure join plans as a sort-merge, never a broadcast build
    val p = merged.queryExecution.sparkPlan.toString
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.exists(_.contains("descendant_node_natural_key")), p)
    assert(!p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("descendant_node_natural_key")), p)
  }

  test("the dimension picks the closure join strategy: broadcast single-task, unhinted distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    // the toy tree once under the single-task leveling bound, once
    // forced onto the distributed path (maxNodes below its 6 nodes)
    val single = new HierarchyDimension(toy)
    val distributed = new HierarchyDimension(toy, maxNodes = 2L)
    val facts = Seq((11L, 1L, 2.0, 10.0), (12L, 2L, 1.0, 5.0), (21L, 1L, 3.0, 7.5))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    def closureJoinHint(d: HierarchyDimension) = {
      val df = HierarchyAgg.hierarchicalRollup(facts, d.aggregationDim)
      val hints = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.exists(_.references.exists(
            _.name == "descendant_node_natural_key")) =>
          j.hint.rightHint.flatMap(_.strategy)
      }
      assert(hints.size == 1, df.queryExecution.optimizedPlan)
      val rows = df.collect().toSeq
      (rows, hints.head,
        df.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    }
    val (singleRows, singleHint, singleRanged) = closureJoinHint(single)
    val (distRows, distHint, distRanged) = closureJoinHint(distributed)
    assert(singleHint.contains(BROADCAST))
    assert(distHint.isEmpty, s"distributed closure join hinted $distHint")
    // the same decision sorts the readout: in one task for the
    // single-task dimension, range-partitioned for the distributed one
    assert(!singleRanged, "the single-task readout planned a range exchange")
    assert(distRanged, "the distributed readout lost its range-partitioned sort")
    assert(singleRows == distRows)
    assert(singleRows.size == 6)
  }

  test("source gate: the rollup operators take no join-strategy flag") {
    import scala.jdk.CollectionConverters._
    val banned = Seq("broadcast" + "Dim", "maybe" + "Broadcast")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 80, s"scanned only ${files.size} files under src")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f.toFile, "UTF-8")
        .getLines().toSeq.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the closure and its key projections join as they come: no
    // explicit broadcast around them in the rollup operators
    val agg = scala.io.Source.fromFile(
      "src/main/scala/graft/operators/HierarchyAgg.scala", "UTF-8").mkString
    val wrapped = """broadcast\(\s*closure(Id)?Keys\(""".r.findAllIn(agg).toSeq
    assert(wrapped.isEmpty, wrapped.mkString("\n"))
  }

  test("persisted dims reload byte-equal to re-derivation and serve the rollup") {
    val dim = HierarchyQueries.dimension(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_dim_").toString
    try {
      HierarchyDimension.save(dim, dir)
      val (rdim, adim) = HierarchyDimension.load(spark, dir)
      // reload ≡ re-derivation, row for row
      assert(rdim.collect().toSet == dim.reportingDim.collect().toSet)
      assert(adim.collect().toSet == dim.aggregationDim.collect().toSet)
      // and the reloaded closure serves the flagship rollup unchanged
      val facts = HierarchyAgg.salesFacts(spark, sf)
      val fromLoaded = HierarchyAgg.hierarchicalRollup(facts, adim).collect()
      val fromDerived = HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim).collect()
      assert(fromLoaded.toSeq == fromDerived.toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("rollup: orphan facts (no hierarchy leaf) drop; null customers don't count") {
    val facts = Seq(
      (11L, Some(1L), 2.0, 10.0),
      (999L, Some(2L), 1.0, 5.0), // leaf_key not in the hierarchy
      (21L, None: Option[Long], 4.0, 20.0) // null customer
    ).toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val out = HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim).collect()
    val root = out.head
    // orphan 999 excluded everywhere (inner closure join — the
    // reference's facts⨝adim semantics)
    assert(root.getAs[Double]("sum_sales_amount") == 30.0)
    assert(root.getAs[Long]("count_of_fact_records") == 2L)
    // COUNT(DISTINCT customer_id) ignores the null, matching SQL
    assert(root.getAs[Long]("distinct_customer_count") == 1L)
  }

  test("forest: multiple roots each get their own subtree and closure") {
    val forest = Seq(
      ("r1", 1L, "R1", "Total", null.asInstanceOf[String]),
      ("r2", 2L, "R2", "Total", null.asInstanceOf[String]),
      ("r1a", 11L, "R1A", "Leaf", "r1"),
      ("r2a", 21L, "R2A", "Leaf", "r2")
    ).toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val d = new operators.HierarchyDimension(forest)
    val pairs = d.aggregationDim
      .select("ancestor_node_id", "descendant_node_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("r1", "r1"), ("r2", "r2"), ("r1a", "r1a"), ("r2a", "r2a"),
      ("r1", "r1a"), ("r2", "r2a")), pairs.toString)
  }

  test("contribution rollup on a forest: pct_of_total shares the grand total across roots") {
    val forest = Seq(
      ("r1", 1L, "R1", "Total", null.asInstanceOf[String]),
      ("r2", 2L, "R2", "Total", null.asInstanceOf[String]),
      ("r1a", 11L, "R1A", "Leaf", "r1"),
      ("r2a", 21L, "R2A", "Leaf", "r2")
    ).toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val facts = Seq((11L, 1L, 1.0, 30.0), (21L, 2L, 1.0, 10.0))
      .toDF("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val out = HierarchyAgg.contributionRollup(facts,
      new operators.HierarchyDimension(forest)).collect()
      .map(r => r.getAs[String]("node_name") -> r).toMap
    // one row per node — the grand total must NOT duplicate rows per root
    assert(out.size == 4)
    assert(math.abs(out("R1").getAs[Double]("pct_of_total") - 0.75) < 1e-6)
    assert(math.abs(out("R2").getAs[Double]("pct_of_total") - 0.25) < 1e-6)
    assert(out("R1").isNullAt(out("R1").fieldIndex("pct_of_parent")))
    assert(out("R1A").getAs[Double]("pct_of_parent") == 1.0)
  }

  test("nested sets: intervals nest exactly per the closure, disjoint otherwise") {
    val dim = HierarchyQueries.dimension(spark, sf)
    val ns = dim.nestedSets.collect()
      .map(r => r.getAs[String]("node_id") ->
        (r.getAs[Long]("lft"), r.getAs[Long]("rgt"))).toMap
    val pairs = dim.aggregationDim
      .select("ancestor_node_id", "descendant_node_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // 2n numbering: every interval inside [1, 2n], root spans it all
    val n = ns.size
    assert(ns.values.forall { case (l, r) => l >= 1 && r <= 2L * n && l < r })
    for ((a, (al, ar)) <- ns; (d, (dl, dr)) <- ns) {
      val contained = al <= dl && dr <= ar
      assert(contained == pairs.contains((a, d)),
        s"interval containment must equal closure membership for ($a,$d)")
      // intervals never partially overlap
      assert(contained || (dl <= al && ar <= dr) || ar < dl || dr < al,
        s"partial overlap between $a and $d")
    }
  }

  test("null keys in native as-of join match nothing") {
    val left = Seq((1L, Option(10L), "2024-01-10 00:00:00"), (2L, Option.empty[Long], "2024-01-10 00:00:00"))
      .toDF("id", "k", "t").withColumn("t", to_timestamp(col("t")))
    val right = Seq((100L, 10L, "2024-01-01 00:00:00")).toDF("rid", "rk", "rt")
      .withColumn("rt", to_timestamp(col("rt")))
    val out = graft.plans.AsOfJoin.asofJoinNative(left, right, "k", "rk", "t", "rt", "rid")
      .select("id", "rid").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(out(1L) == 100L)
    assert(out(2L) == null)
  }

  test("cyclic parent links terminate at maxDepth instead of hanging") {
    val cyclic = Seq(
      ("root", 0L, "Root", "Total", null.asInstanceOf[String]),
      ("x", 1L, "X", "Mid", "y"),
      ("y", 2L, "Y", "Mid", "x") // x ↔ y cycle, unreachable from root
    ).toDF("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
    val rd = new operators.HierarchyDimension(cyclic, maxDepth = 6).reportingDim
    val ids = rd.select("node_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("root"), s"cycle nodes must not appear: $ids")
  }

  test("testdata region-nation rollup: nation sums roll up to regions and root") {
    val out = HierarchyQueries.queries("h4_hier_agg")(spark, sf).collect()
    val root = out.head
    val regions = out.filter(_.getAs[String]("product_level_name") == "-------Region")
    val nations = out.filter(_.getAs[String]("product_level_name").endsWith("Nation"))
    assert(regions.length == 5 && nations.length == 25)
    def s(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("sum_sales_amount")).sum
    assert(math.abs(s(regions) - root.getAs[Double]("sum_sales_amount")) < 1e-4)
    assert(math.abs(s(nations) - root.getAs[Double]("sum_sales_amount")) < 1e-4)
  }

  test("h33 SQL surface: the spark.sql rollup equals the DataFrame engine's h4 output exactly") {
    // one engine, two syntaxes: the registered-view SQL statement must
    // reproduce the flagship rollup row-for-row (values AND order)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val sql = canon(HierarchyQueries.queries("h33_sql_rollup")(spark, sf))
    val api = canon(HierarchyQueries.queries("h4_hier_agg")(spark, sf))
    assert(sql == api)
  }

  test("SQL end-to-end: nodes CREATEd in SQL, dims registered as views, rollup in SQL — equals the DataFrame engine (r19 verdict #8)") {
    // the reference's whole workflow for a SQL-only user: node table,
    // dimensions, facts and the rollup are ALL spark.sql; the single
    // Scala call registers the engine's derived frames as temp views
    Tables.region(spark, sf).createOrReplaceTempView("sqlr_region")
    Tables.nation(spark, sf).createOrReplaceTempView("sqlr_nation")
    Tables.lineitem(spark, sf).createOrReplaceTempView("sqlr_lineitem")
    Tables.orders(spark, sf).createOrReplaceTempView("sqlr_orders")
    Tables.customer(spark, sf).createOrReplaceTempView("sqlr_customer")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW sqlr_nodes AS
      SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS node_natural_key,
             'All Regions' AS node_name, 'Total' AS level_name,
             CAST(NULL AS STRING) AS parent_node_id
      UNION ALL
      SELECT concat('r', r_regionkey), CAST(100 + r_regionkey AS BIGINT),
             r_name, 'Region', 'root' FROM sqlr_region
      UNION ALL
      SELECT concat('n', n_nationkey), CAST(n_nationkey AS BIGINT),
             n_name, 'Nation', concat('r', n_regionkey) FROM sqlr_nation
    """)
    graft.Graft.buildHierarchyViews(spark, "sqlr_nodes",
      prefix = "sqlr", knownDepth = 3)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW sqlr_facts AS
      SELECT CAST(c.c_nationkey AS BIGINT) AS leaf_key,
             c.c_custkey AS customer_id,
             l.l_quantity AS unit_quantity,
             l.l_extendedprice AS sales_amount
      FROM sqlr_lineitem l
      JOIN sqlr_orders o ON l.l_orderkey = o.o_orderkey
      JOIN sqlr_customer c ON o.o_custkey = c.c_custkey
    """)
    val sqlOut = spark.sql("""
      WITH pair AS (
        SELECT leaf_key, customer_id,
               SUM(sales_amount) AS mv_sales,
               SUM(unit_quantity) AS mv_qty, COUNT(*) AS mv_n
        FROM sqlr_facts GROUP BY leaf_key, customer_id),
      mv AS (
        SELECT /*+ BROADCAST(a) */
               a.ancestor_node_sort_order, p.customer_id,
               SUM(p.mv_sales) AS mv_sales, SUM(p.mv_qty) AS mv_qty,
               SUM(p.mv_n) AS mv_n
        FROM pair p
        JOIN sqlr_aggregation_dim a
          ON p.leaf_key = a.descendant_node_natural_key
        GROUP BY a.ancestor_node_sort_order, p.customer_id),
      agg AS (
        SELECT ancestor_node_sort_order,
               ROUND(SUM(mv_sales), 2) AS sum_sales_amount,
               ROUND(SUM(mv_qty), 2) AS sum_unit_quantity,
               COUNT(customer_id) AS distinct_customer_count,
               SUM(mv_n) AS count_of_fact_records
        FROM mv GROUP BY ancestor_node_sort_order)
      SELECT /*+ BROADCAST(lbl) */
             lpad('-', (ancestor_level_number - 1) * 7, '-')
               || ancestor_node_name AS product_node_name,
             lpad('-', (ancestor_level_number - 1) * 7, '-')
               || ancestor_level_name AS product_level_name,
             sum_sales_amount, sum_unit_quantity,
             distinct_customer_count, count_of_fact_records
      FROM agg
      JOIN (SELECT ancestor_node_sort_order, ancestor_node_name,
                   ancestor_level_name, ancestor_level_number
            FROM sqlr_aggregation_dim WHERE net_level = 0) lbl
        USING (ancestor_node_sort_order)
      ORDER BY ancestor_node_sort_order
    """)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    assert(canon(sqlOut) ==
      canon(HierarchyQueries.queries("h4_hier_agg")(spark, sf)))
  }

  test("h34 hierarchy×segment cube: segment cells sum to each node's ALL cell; ALL cells equal the h4 rollup") {
    val cube = HierarchyQueries.queries("h34_hier_attr_cube")(spark, sf)
      .collect()
    val all = cube.filter(_.getAs[String]("segment") == "ALL")
      .map(r => r.getAs[String]("product_node_name") ->
        (r.getAs[Double]("sum_sales_amount"),
          r.getAs[Long]("count_of_fact_records"))).toMap
    // per node: segment cells sum back to the ALL cell (counts exact;
    // sales to rounding tolerance — the cells are independently
    // 2dp-rounded)
    val bySeg = cube.filterNot(_.getAs[String]("segment") == "ALL")
      .groupBy(_.getAs[String]("product_node_name"))
    assert(bySeg.keySet == all.keySet)
    bySeg.foreach { case (node, rows) =>
      assert(rows.map(_.getAs[Long]("count_of_fact_records")).sum ==
        all(node)._2, node)
      assert(math.abs(rows.map(_.getAs[Double]("sum_sales_amount")).sum -
        all(node)._1) < 0.05, node)
    }
    // ALL cells ≡ the flagship rollup's node rows (same engine grain)
    val h4 = HierarchyQueries.queries("h4_hier_agg")(spark, sf).collect()
      .map(r => r.getAs[String]("product_node_name") ->
        (r.getAs[Double]("sum_sales_amount"),
          r.getAs[Long]("count_of_fact_records"))).toMap
    assert(all == h4)
  }

  test("flagship rollup invariants hold at every sf dir") {
    // the driver gates at sf0.01 and benches at sf0.1; this guards
    // SF-dependent regressions (partition-count effects, data-shape
    // assumptions) at all three generated scales in one smoke
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(d => new java.io.File(d).exists())
    sfs.foreach { d =>
      val out = HierarchyQueries.queries("h4_hier_agg")(spark, d).collect()
      val root = out.head
      val regions = out.filter(_.getAs[String]("product_level_name") == "-------Region")
      val nations = out.filter(_.getAs[String]("product_level_name").endsWith("Nation"))
      assert(regions.length == 5 && nations.length == 25, d)
      def s(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(_.getAs[Double]("sum_sales_amount")).sum
      val tot = root.getAs[Double]("sum_sales_amount")
      assert(math.abs(s(regions) - tot) < 1e-3, s"$d regions ${s(regions)} vs $tot")
      assert(math.abs(s(nations) - tot) < 1e-3, s"$d nations ${s(nations)} vs $tot")
    }
  }

  test("LCA pairs: same-nation segments meet at the nation, cross-region at root") {
    val adim = HierarchyQueries.deepDimension(spark, sf).aggregationDim
    val lca = graft.operators.HierarchyAgg.lcaPairs(adim).collect()
      .map(r => (r.getAs[String]("leaf_a"), r.getAs[String]("leaf_b")) ->
        (r.getAs[String]("lca_node_id"), r.getAs[Long]("lca_level"))).toMap
    // 125 segment leaves → C(125,2) pairs, every pair present exactly once
    assert(lca.size == 125 * 124 / 2)
    // two segments of nation 3: LCA is the nation (level 3 of 4)
    assert(lca(("s3_AUTOMOBILE", "s3_BUILDING")) == (("n3", 3L)))
    // nation 0 (region 0) × nation 1 (region 1): cross-region → root
    assert(lca(("s0_AUTOMOBILE", "s1_AUTOMOBILE")) == (("root", 1L)))
    // same region, different nations → the region
    val nations = graft.Tables.nation(spark, sf).collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[Int]("n_regionkey")).toMap
    val sameRegionPair = (0 to 24).combinations(2)
      .find { case Seq(a, b) => nations(a) == nations(b) }.get
    val Seq(na, nb) = sameRegionPair.toSeq
    // pair key order is lexicographic on node id, not numeric
    val k1 = s"s${na}_AUTOMOBILE"; val k2 = s"s${nb}_AUTOMOBILE"
    val (got, lvl) = lca.getOrElse((k1, k2), lca((k2, k1)))
    assert(got == s"r${nations(na)}" && lvl == 2L, s"$na,$nb -> $got")
  }

  test("quickstart: the reference's grocery demo rolls up to its published totals") {
    val rows = Quickstart.rollup(spark).collect()
    val byName = rows.map(r =>
      r.getAs[String]("product_node_name").replaceAll("^-+", "") -> r).toMap
    assert(rows.length == 7)
    assert(byName("All Products").getAs[Double]("sum_sales_amount") == 31.5)
    assert(byName("All Products").getAs[Long]("distinct_customer_count") == 5L)
    assert(byName("Spinach").getAs[Double]("sum_sales_amount") == 6.5)
    assert(byName("Candy").getAs[Long]("count_of_fact_records") == 3L)
    // DFS order: root first, each category directly before its UPCs
    val names = rows.map(_.getAs[String]("product_node_name").replaceAll("^-+", ""))
    assert(names.head == "All Products")
    assert(names.indexOf("Produce") < names.indexOf("Spinach"))
    assert(names.indexOf("Candy") < names.indexOf("Hershey Bar"))
  }

  test("h26 subtree top-k: root ranks equal an independent global recompute") {
    val out = SparkEntry.queries("h26_subtree_topk")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[Long]("customer_id"), r.getAs[Double]("spend")))
    // per node: ranks are 1..n and spend is non-increasing at the
    // 9-dp rank key, ties broken by the smaller customer id
    out.groupBy(_._1).foreach { case (node, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, node)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val ka = BigDecimal(a._4).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          val kb = BigDecimal(b._4).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          assert(ka > kb || (ka == kb && a._3 < b._3), node)
        case _ => ()
      }
    }
    // the root's top 3 = the global top 3 customers, recomputed with
    // a plain groupBy over the same fact frame
    val global = operators.HierarchyAgg.salesFacts(spark, sf)
      .groupBy("customer_id")
      .agg(org.apache.spark.sql.functions.sum("sales_amount").as("s"))
      .collect().map(r => (r.getAs[Long]("customer_id"), r.getAs[Double]("s")))
      .sortBy { case (id, s) =>
        (-BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP), id) }
      .take(3).map(_._1).toSeq
    val rootTop = out.filter(r => !r._1.startsWith("-"))
      .sortBy(_._2).map(_._3).toSeq
    assert(rootTop == global)
  }

  test("h27 subtree median: root equals the directly computed corpus median") {
    import spark.implicits._
    val out = SparkEntry.queries("h27_subtree_median")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vals = Tables.orders(spark, sf).select("o_totalprice")
      .as[Double].collect().sorted
    val n = vals.length
    val med = if (n % 2 == 1) vals(n / 2)
      else (vals(n / 2 - 1) + vals(n / 2)) / 2
    val root = out.find(!_._1.startsWith("-")).get._2
    assert(math.abs(root - math.floor(med * 1e6 + 0.5) / 1e6) < 1e-9)
    // every node's median lies within the corpus value range
    out.values.foreach(v => assert(v >= vals.head && v <= vals.last))
  }

  test("after a first call, building a rollup entry runs no Spark job") {
    // a build reads tables; an inferring read would run one job each,
    // and Tables memoizes the schemas
    val entries = Seq("h4_hier_agg", "h5_hier_agg_deep", "h6_hier_agg_parts",
      "h8_hier_agg_approx", "h33_sql_rollup", "h35_shuffle_dim_rollup",
      "h9_incremental_rollup")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var prev = -1; var cur = jobs.get(); var spins = 0
      while (prev != cur && spins < 50) {
        Thread.sleep(100); prev = cur; cur = jobs.get(); spins += 1
      }
      cur
    }
    entries.foreach(e => SparkEntry.queries(e)(spark, sf))
    spark.sparkContext.addSparkListener(listener)
    val built = try entries.map { e =>
      val before = settled()
      SparkEntry.queries(e)(spark, sf)
      e -> (settled() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(built.forall(_._2 == 0), s"jobs run while building: $built")
  }
}
