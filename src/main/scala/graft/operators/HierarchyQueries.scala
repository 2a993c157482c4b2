package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `SparkEntry.queries` / `oracleSql` entries for the hierarchy family
  * (SURVEY.md §2.A). The oracle SQL rebuilds the identical hierarchy in
  * DuckDB with WITH RECURSIVE — node ids are deterministic strings so
  * both engines derive the same dimension.
  */
object HierarchyQueries {

  /** Memoized per (session, sfDir) in [[graft.Artifacts]]: the
    * reference materializes its reporting/aggregation dims ONCE as
    * tables (hierarchy_dimension_table.py:75-82) and every query reuses
    * them — mirrored here by memoizing the instances (instances pin
    * their derived DataFrames).
    */
  private def cached(spark: SparkSession, kind: String, sfDir: String)(
      build: => HierarchyDimension): HierarchyDimension =
    graft.Artifacts.memo(spark, s"hierarchy.dim.$kind", sfDir)(build)

  /** The h9 fixture: the historical (node, customer) MV over the ~6/7
    * "already ingested" corpus. Stored like the dims — at 100 TB a
    * materialized view is STORED (that is its entire point), so the
    * benched operator is the incremental fold of the arriving batch,
    * not a rebuild of history.
    */
  def historicalMv(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(spark, "hierarchy.historicalMv", sfDir)(
      HierarchyAgg.rollupMv(
        HierarchyAgg.salesFacts(spark, sfDir)
          .filter(pmod(col("l_partkey"), lit(7)) =!= 0),
        dimension(spark, sfDir).aggregationDim))

  /** The h16 fixture: the full-corpus MV maintained under the
    * PRE-EDIT hierarchy — the stored view a reparent invalidates.
    */
  def fullMv(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(spark, "hierarchy.fullMv", sfDir)(
      HierarchyAgg.rollupMv(
        HierarchyAgg.salesFacts(spark, sfDir),
        dimension(spark, sfDir).aggregationDim))

  def dimension(spark: SparkSession, sfDir: String): HierarchyDimension =
    cached(spark, "region_nation", sfDir)(
      new HierarchyDimension(HierarchyAgg.regionNationNodes(spark, sfDir), knownDepth = 3))

  def deepDimension(spark: SparkSession, sfDir: String): HierarchyDimension =
    cached(spark, "region_nation_segment", sfDir)(
      new HierarchyDimension(HierarchyAgg.regionNationSegmentNodes(spark, sfDir), knownDepth = 4))

  def partDimension(spark: SparkSession, sfDir: String): HierarchyDimension =
    cached(spark, "part", sfDir)(
      new HierarchyDimension(HierarchyAgg.partNodes(spark, sfDir), knownDepth = 3))

  /** RAGGED hierarchy: region→nation leaves at level 3 PLUS a direct
    * 'Online Direct' channel leaf at level 2 — leaves at different
    * depths, the shape balanced-only rollup engines mishandle. The
    * closure derivation is depth-agnostic (explode of the per-node
    * path), so no special casing is needed; h11 proves it.
    */
  def raggedDimension(spark: SparkSession, sfDir: String): HierarchyDimension =
    cached(spark, "region_nation_online", sfDir) {
      val online = spark.range(1).select(
        lit("online").as("node_id"),
        lit(500L).as("node_natural_key"),
        lit("Online Direct").as("node_name"),
        lit("Channel").as("level_name"),
        lit("root").as("parent_node_id"))
      new HierarchyDimension(
        HierarchyAgg.regionNationNodes(spark, sfDir).unionByName(online),
        knownDepth = 3)
    }

  /** SCD2-VERSIONED node table: every node valid for all time, except
    * n8 (INDIA), which has two versions — under Asia until 1996-01-01,
    * under r0 Africa from then on. Deterministic windows so the oracle
    * can rebuild the same point-in-time snapshot.
    */
  def versionedRegionNationNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val base = HierarchyAgg.regionNationNodes(spark, sfDir)
      .withColumn("valid_from", to_date(lit("1992-01-01")))
      .withColumn("valid_to", to_date(lit("9999-01-01")))
    val n8v1 = base.filter(col("node_id") === "n8")
      .withColumn("valid_to", to_date(lit("1996-01-01")))
    val n8v2 = base.filter(col("node_id") === "n8")
      .withColumn("parent_node_id", lit("r0"))
      .withColumn("valid_from", to_date(lit("1996-01-01")))
    base.filter(col("node_id") =!= "n8").unionByName(n8v1).unionByName(n8v2)
  }

  def asOfDimension(spark: SparkSession, sfDir: String, asOf: String): HierarchyDimension =
    cached(spark, s"region_nation_asof_$asOf", sfDir)(
      new HierarchyDimension(
        HierarchyDimension.asOf(
          versionedRegionNationNodes(spark, sfDir), to_date(lit(asOf))),
        knownDepth = 3))

  /** The h14 fixture: the generic validity-tagged closure union over
    * the SCD2 node table ([[HierarchyDimension.historyClosure]]) —
    * derived once per session (the stored-dim contract, like every
    * other dim here) and broadcast by the history rollup.
    */
  def historyClosures(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(spark, "hierarchy.historyClosures", sfDir)(
      HierarchyDimension.historyClosure(
        versionedRegionNationNodes(spark, sfDir), knownDepth = 3))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TIME-VERSIONED rollup: the flagship aggregation against the
    // hierarchy AS IT WAS on 1996-06-01 — after n8's reparent, so
    // India's facts roll up under Africa. SCD2 validity windows on the
    // node table + a point-in-time filter + the unchanged engine: the
    // "restate history under the current org tree" workflow inverted.
    "h13_asof_rollup" -> ((s, d) =>
      HierarchyAgg.hierarchicalRollup(
        HierarchyAgg.salesFacts(s, d),
        asOfDimension(s, d, "1996-06-01").aggregationDim)),
    // HISTORY-CORRECT rollup (the slowly-changing-rollup): every fact
    // routes through the hierarchy version live AT ITS ORDER DATE —
    // orders before n8's 1996-01-01 reparent aggregate India under
    // Asia, later ones under Africa. Scale shape: facts pre-aggregate
    // to (leaf, order date) grain — one shuffle, map-side combine,
    // cardinality |leaves| × |dates| — then the date-windowed closure
    // union (both versions, validity-tagged, dim-sized) joins
    // broadcast with the window predicate deciding the version.
    // Perf note (r10 audit): plan verified — orders/customer joins
    // broadcast, ONE fact exchange, the closure join is hash-based
    // (equi on descendant id, date window residual). Fresh min-of-3
    // 0.99 s at sf0.1 = lineitem scan + two broadcast builds + the
    // pre-agg shuffle; that is this host's job floor for a 3-join
    // fact query, accepted per the r9 review.
    "h14_history_rollup" -> ((s, d) => {
      // the closure union comes off the generic SCD2 derivation — one
      // row per (pair, validity window), merged across breakpoints the
      // pair survives — and the rollup is the reusable API composition
      // historyClosure × historyRollup
      val li = graft.Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val ord = graft.Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val cust = graft.Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val facts = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(
          concat(lit("n"), col("c_nationkey").cast("string")).as("leaf_node_id"),
          col("o_orderdate"),
          col("l_extendedprice").as("sales_amount"),
          col("l_quantity").as("unit_quantity"))
      HierarchyAgg.historyRollup(facts, historyClosures(s, d),
        leafIdCol = "leaf_node_id", dateCol = "o_orderdate")
    }),
    "h1_nodes" -> ((s, d) => dimension(s, d).flaggedNodes),
    "h2_reporting_dim" -> ((s, d) => dimension(s, d).reportingDim),
    "h3_aggregation_dim" -> ((s, d) => dimension(s, d).aggregationDim),
    "h4_hier_agg" -> ((s, d) =>
      HierarchyAgg.hierarchicalRollup(
        HierarchyAgg.salesFacts(s, d),
        dimension(s, d).aggregationDim)),
    // SQL SURFACE for the hierarchy engine (round 19, r18 verdict #7;
    // plan reshaped round 20, r19 verdict #1): the reference's
    // user-facing story — README "Running the aggregation",
    // main.py:27-56 — for a SQL-only user. The engine's dimensional
    // frames register as temp views and the flagship rollup is ONE
    // spark.sql statement; oracle = h4's SQL verbatim, so the SQL
    // surface is hash-pinned to the DataFrame engine's output. The
    // statement is written in the pair-grain TWO-PHASE form the
    // DataFrame engine plans (HierarchyAgg.rollupMv/finalizeRollup):
    // the naive single-GROUP-BY shape pays COUNT(DISTINCT)'s Expand
    // over the closure-EXPANDED fact stream (measured 6× h4's floor);
    // here facts collapse to (leaf, customer) grain FIRST — the one
    // fact shuffle, map-side combined — then the closure join expands
    // the dimension-sized pre-agg, the MV-grain aggregate dedups
    // customers per node, and the node-grain readout counts the
    // customer groups. Same result, no Expand anywhere. The statement
    // carries no join hints: the registered closure view keeps the
    // dimension's own strategy (a broadcast hint here), which reaches
    // both the closure join and the label join. The final SELECT's
    // COALESCE(1) hint finishes the |nodes|-row readout in one task, so
    // the ORDER BY plans no range exchange (the DataFrame rollups'
    // HierarchyAgg.dfsOrdered).
    "h33_sql_rollup" -> ((s, d) => {
      dimension(s, d).aggregationDim
        .createOrReplaceTempView("g_product_aggregation_dim")
      HierarchyAgg.salesFacts(s, d).createOrReplaceTempView("g_sales_facts")
      s.sql("""
        WITH pair AS (
          SELECT CAST(leaf_key AS BIGINT) AS leaf_key, customer_id,
                 SUM(sales_amount) AS mv_sales,
                 SUM(unit_quantity) AS mv_qty,
                 COUNT(*) AS mv_n
          FROM g_sales_facts
          GROUP BY leaf_key, customer_id
        ),
        mv AS (
          SELECT a.ancestor_node_sort_order, p.customer_id,
                 SUM(p.mv_sales) AS mv_sales,
                 SUM(p.mv_qty) AS mv_qty,
                 SUM(p.mv_n) AS mv_n
          FROM pair p
          JOIN g_product_aggregation_dim a
            ON p.leaf_key = a.descendant_node_natural_key
          GROUP BY a.ancestor_node_sort_order, p.customer_id
        ),
        agg AS (
          SELECT ancestor_node_sort_order,
                 ROUND(SUM(mv_sales), 2) AS sum_sales_amount,
                 ROUND(SUM(mv_qty), 2) AS sum_unit_quantity,
                 COUNT(customer_id) AS distinct_customer_count,
                 SUM(mv_n) AS count_of_fact_records
          FROM mv
          GROUP BY ancestor_node_sort_order
        )
        SELECT /*+ COALESCE(1) */
               lpad('-', (ancestor_level_number - 1) * 7, '-')
                 || ancestor_node_name AS product_node_name,
               lpad('-', (ancestor_level_number - 1) * 7, '-')
                 || ancestor_level_name AS product_level_name,
               sum_sales_amount, sum_unit_quantity,
               distinct_customer_count, count_of_fact_records
        FROM agg
        JOIN (SELECT ancestor_node_sort_order, ancestor_node_name,
                     ancestor_level_name, ancestor_level_number
              FROM g_product_aggregation_dim
              WHERE net_level = 0) lbl
          USING (ancestor_node_sort_order)
        ORDER BY ancestor_node_sort_order
      """)
    }),
    // SQL-END-TO-END DIMENSION BUILD (round 20, r19 verdict #8): the
    // one gap in the SQL story — h33 covers the rollup but the dims
    // still needed the DataFrame API. Here the node table itself is
    // CREATEd in SQL, Graft.buildHierarchyViews registers the derived
    // frames as temp views, and the result is read back with
    // spark.sql — the reference's full workflow (node table → dims →
    // rollup) for a SQL-only user. Result ≡ h3's aggregation dim, so
    // the oracle is h3's SQL verbatim.
    "h36_sql_dim_build" -> ((s, d) => {
      graft.Tables.region(s, d).createOrReplaceTempView("g_region")
      graft.Tables.nation(s, d).createOrReplaceTempView("g_nation")
      s.sql("""
        CREATE OR REPLACE TEMPORARY VIEW g_nodes AS
        SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS node_natural_key,
               'All Regions' AS node_name, 'Total' AS level_name,
               CAST(NULL AS STRING) AS parent_node_id
        UNION ALL
        SELECT concat('r', r_regionkey),
               CAST(100 + r_regionkey AS BIGINT), r_name, 'Region', 'root'
        FROM g_region
        UNION ALL
        SELECT concat('n', n_nationkey),
               CAST(n_nationkey AS BIGINT), n_name, 'Nation',
               concat('r', n_regionkey)
        FROM g_nation
      """)
      graft.Graft.buildHierarchyViews(s, "g_nodes", knownDepth = 3)
      s.sql("SELECT * FROM graft_aggregation_dim")
    }),
    // HIERARCHY × FLAT-ATTRIBUTE CUBE (round 19): every node's
    // subtotal AND its per-market-segment breakdown in one result —
    // GROUPING SETS ((node), (node, segment)) over the closure
    // expansion, the drill-across the pure rollup can't answer. One
    // fact shuffle at (leaf, segment); the grouping-set Expand runs
    // over the dimension-sized pre-agg, never facts.
    "h34_hier_attr_cube" -> ((s, d) =>
      HierarchyAgg.hierSegmentCube(
        HierarchyAgg.salesFacts(s, d),
        dimension(s, d).aggregationDim)),
    "h5_hier_agg_deep" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key",
          HierarchyAgg.segmentLeafKey(col("c_nationkey"), col("c_mktsegment")))
      HierarchyAgg.hierarchicalRollup(facts, deepDimension(s, d).aggregationDim)
    }),
    // CONTRIBUTION analysis on the 4-level hierarchy: every node's
    // percent-of-parent and percent-of-total next to its subtotal —
    // the drill-down companion of h5. Node totals are the same
    // leaf-grain pre-agg + broadcast closure shape as every rollup;
    // the parent/root ratios are broadcast self-joins of the dim-sized
    // totals frame (facts are never touched again).
    "h17_contribution" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key",
          HierarchyAgg.segmentLeafKey(col("c_nationkey"), col("c_mktsegment")))
      HierarchyAgg.contributionRollup(facts, deepDimension(s, d))
    }),
    // wide-dimension rollup: 20k part leaves at sf0.1 — same engine,
    // dimension two orders of magnitude wider than region/nation
    "h6_hier_agg_parts" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key", col("l_partkey").cast("long"))
      // ONE explicit customer-keyed fact exchange (r22, the q43
      // shared-exchange pattern, guide §2.4): hashpartitioning on
      // customer_id satisfies BOTH MV groupBys — (leaf, customer)
      // and, across the broadcast closure join, (node, customer) —
      // so the pair-grain re-shuffle between them disappears. Worth
      // it exactly on this WIDE dimension: leaf = l_partkey is at
      // lineitem grain, so the (leaf, customer) pre-agg barely dedups
      // and partial-agg-before-shuffle bought nothing. rollupMv keeps
      // the generic partial-agg-first shape for narrow dims (h4's
      // 25-leaf rollup dedups ~40× map-side — re-keying THAT would
      // shuffle raw facts for no reason).
      HierarchyAgg.hierarchicalRollup(facts.repartition(col("customer_id")),
        partDimension(s, d).aggregationDim)
    }),
    // the PATHOLOGICALLY-WIDE-dimension fallback, driver-gated (round
    // 20, r19 verdict #4): h6's 20k-leaf rollup on the shuffle path —
    // the path for closures past executor broadcast limits, where
    // forcing a driver-side build would OOM and the dim joins must go
    // shuffle-side instead. The merge hint, placed outside the
    // dimension's own broadcast hint, overrides it and pins the
    // sort-merge strategy at every SF (test dims are broadcast-sized,
    // so without the pin the gate would quietly exercise the broadcast
    // plan anyway); results must equal the broadcast path's exactly —
    // oracle = h6's SQL verbatim.
    "h35_shuffle_dim_rollup" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key", col("l_partkey").cast("long"))
      // ONE explicit JOIN-KEYED fact exchange (r22, guide §2.4): on
      // the shuffle-dim path the closure join is a sort-merge on
      // leaf_key, so hashpartitioning(leaf_key) serves the (leaf,
      // customer) pre-agg AND the SMJ's big side — the pre-agg's own
      // exchange and the join's big-side re-exchange collapse into
      // this one. (h6's customer key would NOT satisfy the SMJ and
      // would re-shuffle the pair stream on leaf_key anyway.)
      HierarchyAgg.hierarchicalRollup(facts.repartition(col("leaf_key")),
        partDimension(s, d).aggregationDim.hint("merge"))
    }),
    // the 100 TB rollup mode: approx_count_distinct replaces the exact
    // distinct (no customer-grain re-shuffle; HLL sketches merge in
    // the partial aggregate). Sums/counts stay exact — only the
    // distinct column is approximate → rows-only driver check, with
    // the HLL-error spec in HierarchySpec as the oracle.
    "h8_hier_agg_approx" -> ((s, d) =>
      HierarchyAgg.hierarchicalRollup(
        HierarchyAgg.salesFacts(s, d),
        dimension(s, d).aggregationDim, approxDistinct = true)),
    // the THIRD distinct mode: bitmap-EXACT distinct customers at ONE
    // node-grain exchange (h8's shuffle shape, zero error) — the
    // bounded-dictionary case where q51's aggregate replaces the
    // customer-grain dedup shuffle. Result ≡ h4 → h4's oracle verbatim.
    "h23_hier_agg_bitmap" -> ((s, d) =>
      HierarchyAgg.hierarchicalRollupBitmap(
        HierarchyAgg.salesFacts(s, d),
        dimension(s, d).aggregationDim, maxCustomer = 1 << 21)),
    // INCREMENTAL EXACT DISTINCT via the stored bitmap MV — the MV a
    // distinct COUNT can't be (counts don't decompose over set
    // union; bitmaps do: new = old OR delta). h9's ingest split: the
    // delta folds into the stored node-grain bitmaps at O(delta)
    // cost, and the read-off must equal the full recompute.
    "h24_incremental_distinct" -> ((s, d) => {
      val dim = dimension(s, d).aggregationDim
      val facts = HierarchyAgg.salesFacts(s, d)
      val mv = HierarchyAgg.distinctMv(
        facts.filter(pmod(col("l_partkey"), lit(7)) =!= 0), dim,
        maxCustomer = 1 << 21)
      HierarchyAgg.readDistinctMv(
        HierarchyAgg.mergeDistinctMv(mv,
          facts.filter(pmod(col("l_partkey"), lit(7)) === 0), dim,
          maxCustomer = 1 << 21))
    }),
    // WEIGHTED-DAG rollup: multi-parent dimension with fractional
    // edge weights (70/30 ownership split) — Σ-over-paths Π-weight
    // closure, facts broadcast-joined and aggregated once
    "h25_weighted_dag" -> ((s, d) => WeightedDag.demoRollup(s, d)),
    // per-node SUBTREE MEDIAN order value: the robust companion to
    // h4's sums (whales move means; the median is the typical order) —
    // closure expand + the histogram-rank exact median, no per-node
    // value vectors
    "h27_subtree_median" -> ((s, d) => {
      val facts = graft.Tables.orders(s, d)
        .join(graft.Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("leaf_key"),
          col("o_totalprice"))
      HierarchyAgg.subtreeMedian(facts, dimension(s, d).aggregationDim,
        "o_totalprice")
    }),
    // per-parent CONCENTRATION: child count, top-child share and the
    // Herfindahl index of every internal node's direct children —
    // "is this level of the rollup diversified". Exact integer-cent
    // line quantization (q64's discipline) keeps the shares exact;
    // one fact pass, node-grain after the closure
    "h28_concentration" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key",
          HierarchyAgg.segmentLeafKey(col("c_nationkey"), col("c_mktsegment")))
        .withColumn("cents",
          floor(col("sales_amount") * 100.0 + 0.5).cast("long"))
      HierarchyAgg.concentrationByParent(facts, deepDimension(s, d))
    }),
    // per-node SIBLING RANK: each non-root node ranked among its
    // siblings by exact integer-cent subtree total, with its share of
    // the parent — h17's percent-of-parent turned into the "which
    // child leads this level" ordering; windows run at dim grain
    "h29_sibling_rank" -> ((s, d) => {
      val facts = graft.Tables.orders(s, d)
        .join(graft.Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("leaf_key"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      HierarchyAgg.siblingRank(facts, dimension(s, d))
    }),
    // per-node SUBTREE STDDEV of order value (h27's dispersion
    // companion): DECIMAL(38,0) moments of exact cents, closed-form
    // population variance, IEEE sqrt; one broadcast-closure expansion
    "h30_subtree_stddev" -> ((s, d) => {
      val facts = graft.Tables.orders(s, d)
        .join(graft.Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("leaf_key"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      HierarchyAgg.subtreeStddev(facts, dimension(s, d).aggregationDim)
    }),
    // DIMENSION-QUALITY AUDIT (q38's dbt-style shape for hierarchies):
    // four invariants as one report — fact leaf keys missing from the
    // dim's leaves (the silent-data-loss check: a rollup inner join
    // DROPS such facts), parent pointers to nonexistent nodes, extra
    // roots, and closure net_level consistency. Anti-joins against
    // broadcast dim frames + 1-row counts; the fact side collapses to
    // distinct keys before the anti-join
    "h32_dim_audit" -> ((s, d) => {
      val dm = dimension(s, d)
      val nodes = dm.flaggedNodes
      val leafKeys = nodes.filter(col("is_leaf"))
        .select(col("node_natural_key").cast("long").as("k"))
      val factLeaves = graft.Tables.customer(s, d)
        .select(col("c_nationkey").cast("long").as("k")).distinct()
      def report(name: String, n: org.apache.spark.sql.DataFrame) =
        n.select(lit(name).as("check_name"),
          col("n").cast("long").as("n_violations"))
      val orphan = report("orphan_fact_leaves",
        factLeaves.join(broadcast(leafKeys), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val dangling = report("dangling_parent",
        nodes.filter(!col("is_root"))
          .join(broadcast(nodes.select(col("node_id").as("__p"))),
            col("parent_node_id") === col("__p"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val roots = report("extra_roots",
        nodes.filter(col("is_root")).agg((count(lit(1)) - 1L).as("n")))
      val gaps = report("level_gaps",
        dm.aggregationDim.filter(col("net_level") =!=
            col("descendant_level_number") - col("ancestor_level_number"))
          .agg(count(lit(1)).as("n")))
      orphan.unionByName(dangling).unionByName(roots).unionByName(gaps)
    }),
    // MATERIALIZED PATH LABELS ("Root > Asia > India") derived from
    // the CLOSURE (ancestors collected per node, level-sorted),
    // cross-checked against the oracle's RECURSIVE path — the lineage
    // string serving layers denormalize onto every row. Dim-sized
    // aggregation; the sort key (level) is unique along a path
    "h31_path_labels" -> ((s, d) => {
      val adim = dimension(s, d).aggregationDim
      adim.groupBy(col("descendant_node_id"))
        .agg(max(col("descendant_node_name")).as("node_name"),
          max(col("descendant_level_number")).cast("long")
            .as("level_number"),
          array_join(transform(
            array_sort(collect_list(struct(
              col("ancestor_level_number").as("l"),
              col("ancestor_node_name").as("n")))),
            x => x.getField("n")), " > ").as("path"))
    }),
    // per-node TOP CONTRIBUTORS: the 3 customers with the largest
    // subtree spend under every node (h17's drill-down companion) —
    // one fact pre-agg, broadcast closure, MV-grain aggregate, then
    // the bounded-heap top-k (≤3 entries per node cross the final
    // exchange, never the customer list)
    "h26_subtree_topk" -> ((s, d) =>
      HierarchyAgg.subtreeTopCustomers(
        HierarchyAgg.salesFacts(s, d), dimension(s, d).aggregationDim)),
    // INCREMENTAL rollup maintenance: the first ~6/7 of the facts play
    // the historical corpus materialized to the (node, customer) MV
    // grain; the rest arrive as the delta batch and are folded in —
    // only the delta pays a fact-side shuffle. The oracle is the FULL
    // recompute (h4's SQL): incremental maintenance must be
    // result-identical to recomputing from scratch.
    "h9_incremental_rollup" -> ((s, d) => {
      val dim = dimension(s, d).aggregationDim
      val merged = HierarchyAgg.mergeRollupMv(
        historicalMv(s, d),
        HierarchyAgg.salesFacts(s, d).filter(pmod(col("l_partkey"), lit(7)) === 0),
        dim)
      HierarchyAgg.finalizeRollup(merged, dim)
    }),
    // RAGGED-hierarchy rollup: every 20th customer's facts route to the
    // level-2 'Online Direct' leaf, the rest to level-3 nation leaves —
    // an unbalanced tree where subtotal depth varies by branch. Same
    // engine, same plan shape as h4; only the node table and the leaf
    // key routing change.
    "h11_ragged_rollup" -> ((s, d) => {
      val facts = HierarchyAgg.salesFacts(s, d)
        .withColumn("leaf_key",
          when(pmod(col("customer_id"), lit(20L)) === 0, lit(500L))
            .otherwise(col("c_nationkey").cast("long")))
      HierarchyAgg.hierarchicalRollup(facts, raggedDimension(s, d).aggregationDim)
    }),
    // MULTI-HIERARCHY rollup: ONE fact stream rolled up through TWO
    // independent closures at once (geography × product brand) — the
    // generalized form of the reference's single-hierarchy flagship,
    // i.e. a cross-hierarchy subtotal lattice. Scale shape: facts
    // pre-aggregate to the (geo leaf, part leaf) grain — one shuffle
    // with map-side combine, cardinality bounded by the dim cross
    // product, not the fact count — then BOTH closures join with their
    // dimension's strategy (broadcast here) and the final groupBy lands
    // on ancestor-pair keys. The brand
    // closure keeps ancestors at Brand level and up (leaf-grain output
    // belongs to h6); sums/counts only — a cross-hierarchy exact
    // distinct would need customer grain (h4's pre-agg) per pair.
    "h10_multi_hier_agg" -> ((s, d) => multiHierRollup(s, d, approxDistinct = false)),
    // h10 + the reference's nunique measure (main.py:42) generalized to
    // two hierarchies: an EXACT cross-hierarchy distinct would need a
    // (leaf pair, customer)-grain pre-agg — the pair-grain MV trick
    // doesn't cross hierarchies — so the 100 TB form is a mergeable
    // sketch built once at pre-agg grain and unioned up the lattice.
    // The sketch is KMV (bottom-k, graft.functions.KmvSketch), whose
    // union is order-free and whose hash is plain integer arithmetic
    // — so unlike HLL's engine-private registers the DuckDB oracle
    // re-derives the ESTIMATE ITSELF from scratch and the entry is
    // exact-hash-checked; the KMV-error-vs-exact spec in
    // HierarchySpec guards estimator quality.
    "h12_multi_hier_approx" -> ((s, d) => multiHierRollup(s, d, approxDistinct = true)),
    // h10 + the reference's nunique (main.py:42) EXACT on the
    // two-hierarchy lattice: the opt-in for users who need the true
    // distinct, not the HLL estimate. The pair-grain MV trick doesn't
    // cross hierarchies, so the pre-agg keeps customer as a third key
    // — (geo leaf, part leaf, customer) grain, still ONE fact shuffle
    // with map-side combine, cardinality bounded by distinct observed
    // triples (<< facts) — and the lattice groupBy counts distinct
    // customers per ancestor pair (Catalyst's two-phase Expand). The
    // extra (pair, customer)-grain shuffle is the intrinsic cost of
    // exactness; h12's mergeable sketch remains the 100 TB default.
    "h15_multi_hier_exact" -> ((s, d) =>
      multiHierRollup(s, d, approxDistinct = false, exactDistinct = true)),
    // TARGETED MV REPAIR: the composition h7's diff exists for — after
    // the n8 reparent, the (node, customer) MV maintained under the
    // OLD hierarchy is repaired by recomputing ONLY the invalidated
    // ancestors (the two affected region spines; root's descendant set
    // is unchanged, so its rows survive untouched) against the NEW
    // closure, with the fact stream pre-filtered to affected leaves.
    // At 100 TB a hierarchy edit re-shuffles two subtrees' facts, not
    // the table. Oracle = the full recompute under the edited
    // hierarchy (h13's SQL): repair must be result-identical.
    "h16_targeted_mv_repair" -> ((s, d) => {
      val v1 = dimension(s, d)
      val v2 = asOfDimension(s, d, "1996-06-01")
      HierarchyAgg.finalizeRollup(
        HierarchyAgg.repairRollupMv(
          fullMv(s, d), HierarchyAgg.salesFacts(s, d), v1, v2),
        v2.aggregationDim)
    }),
    // WHAT-IF impact preview: the rollup rows the n8 reparent WOULD
    // change, with old/new/delta measures — the report an analyst
    // reads before committing the reorg. Composes the stored MV with
    // its zero-fact what-if repair: both sides aggregate MV-grain
    // rows, so the preview touches no fact rows at any scale. Oracle =
    // two full recomputes full-outer-joined on the node, changed rows
    // only — the preview must agree with actually running both worlds.
    "h18_whatif_delta" -> ((s, d) => {
      val v1 = dimension(s, d)
      val v2 = asOfDimension(s, d, "1996-06-01")
      val mv = fullMv(s, d)
      HierarchyAgg.whatIfDelta(mv,
        HierarchyAgg.repairRollupMv(mv, HierarchyAgg.salesFacts(s, d), v1, v2),
        v1, v2)
    }),
    // NESTED-SET interval encoding of the base hierarchy: subtree
    // membership as a range predicate (lft/rgt), derived arithmetic-
    // only from the DFS numbering + closure sizes the dim already
    // holds — the alternative tree representation serving engines use
    // for broadcastable interval subtree joins
    "h19_nested_sets" -> ((s, d) => dimension(s, d).nestedSets),
    // LOWEST COMMON ANCESTOR of every leaf pair on the 4-level
    // hierarchy — closure algebra only (ancestor-keyed self-join +
    // per-pair max level); the leaf-pair → LCA lookup fact pairs
    // join against. Dimension-sized by design.
    "h20_lca" -> ((s, d) =>
      HierarchyAgg.lcaPairs(deepDimension(s, d).aggregationDim)),
    // dimension MAINTENANCE: reparent one node (n8 INDIA moves from
    // Asia under r0 Africa) and diff the two closures — the
    // added/removed ancestor–descendant pairs are exactly the rows a
    // 100 TB rollup cache must invalidate after a hierarchy edit. The
    // whole computation is dim-sized; facts are never touched. Both
    // sides use the lightweight pair closure (no DFS window, no
    // attribute join) and the diff is ONE full-outer join — pairs are
    // unique per closure, so the null side labels the change — instead
    // of two exceptAll passes (four shuffles → two).
    "h7_hierarchy_diff" -> ((s, d) => {
      val moved = HierarchyAgg.regionNationNodes(s, d)
        .withColumn("parent_node_id",
          when(col("node_id") === "n8", lit("r0"))
            .otherwise(col("parent_node_id")))
      // v1 closure comes from the session-cached base dimension (the
      // one h1–h4 share); only the edited version derives fresh
      HierarchyDimension.closureDiff(
        dimension(s, d), new HierarchyDimension(moved, knownDepth = 3))
    }),
    // INCREMENTAL closure maintenance: the same n8→r0 reparent, but
    // the new closure is computed from the OLD closure alone
    // (− strictAnc×subtree ∪ newAnc×subtree) — no second dimension
    // build, no re-leveling. The oracle rebuilds the moved tree's
    // closure from scratch with WITH RECURSIVE: the hash-match proves
    // incremental ≡ rebuild across engines.
    "h21_closure_move" -> ((s, d) =>
      HierarchyDimension.moveSubtreeClosure(
        dimension(s, d).closurePairs, "n8", "r0")),
    // the h21 ∘ h16 composition: the same n8→r0 reparent repairs the
    // id-grain rollup MV with ZERO dimension rebuild and ZERO fact
    // I/O — invalidation and routing from the old closure alone,
    // recompute from the MV's own leaf self-pair partials. Oracle =
    // full recompute from facts under the MOVED tree's recursive
    // closure, so the hash-match proves delta-repair ≡ rebuild.
    "h22_move_mv_repair" -> ((s, d) => {
      val dim = dimension(s, d)
      val closure = dim.closurePairs
      val leaves = dim.flaggedNodes.filter(col("is_leaf"))
        .select(col("node_id").as("leaf_node_id"),
          col("node_natural_key").as("leaf_nk"))
      // ONE fact exchange: facts collapse to leaf grain, then the MV
      // is leaf-partials routed through the broadcast closure
      val leafAgg = HierarchyAgg.salesFacts(s, d)
        .join(broadcast(leaves), col("leaf_key") === col("leaf_nk"))
        .groupBy("leaf_node_id")
        .agg(sum("sales_amount").as("sum_raw"),
          count(lit(1)).as("count_of_fact_records"))
      val mv = leafAgg.join(broadcast(closure),
          col("leaf_node_id") === col("descendant_node_id"))
        .groupBy("ancestor_node_id")
        .agg(sum("sum_raw").as("sum_raw"),
          sum("count_of_fact_records").as("count_of_fact_records"))
      HierarchyAgg.moveMvRepair(mv, closure, "n8", "r0")
        .select(col("ancestor_node_id"),
          round(col("sum_raw"), 2).as("sum_sales_amount"),
          col("count_of_fact_records"))
    })
  )

  /** MULTI-HIERARCHY rollup: ONE fact stream rolled up through TWO
    * independent closures at once (geography × product brand) — the
    * generalized form of the reference's single-hierarchy flagship,
    * i.e. a cross-hierarchy subtotal lattice. Scale shape: facts
    * pre-aggregate to the (geo leaf, part leaf) grain — one shuffle
    * with map-side combine, cardinality bounded by the dim cross
    * product, not the fact count — then BOTH closures join with their
    * dimension's strategy (broadcast for a dimension leveled in one
    * task) and the final groupBy lands on ancestor-pair keys. The brand
    * closure keeps ancestors at Brand level and up (leaf-grain output
    * belongs to h6).
    *
    * `approxDistinct = true` adds `approx_distinct_customer_count`
    * via KMV (bottom-k) sketches ([[graft.functions.KmvSketch]], the
    * reference's `nunique` at sketch scale): `kmvSketch` at pre-agg
    * grain, `kmvUnion` up the lattice — mergeable exactly like the
    * HLL pair h8 uses, so the fact stream still pays only the
    * pre-agg shuffle, but DETERMINISTIC and SQL-re-derivable
    * (bottom-k of a union is order-free), which is what gives h12 an
    * exact DuckDB oracle where HLL's register layout is
    * engine-private. Plain mode omits the measure: the customer
    * dimension doesn't survive the pair-grain pre-agg.
    *
    * `exactDistinct = true` (h15) instead keeps `customer_id` as a
    * third pre-agg key and emits the EXACT `distinct_customer_count`
    * per ancestor pair — one more shuffle at (pair, customer) grain,
    * the intrinsic price of exactness over h12's sketch.
    */
  def multiHierRollup(s: SparkSession, d: String,
      approxDistinct: Boolean, exactDistinct: Boolean = false): DataFrame = {
    // the ×depth²-expanded fact stream carries and hashes ONLY the two
    // numeric sort-order keys; the six string/level label columns join
    // onto the 806-row aggregate afterwards (same trick as
    // the single-hierarchy engine's withLabels — the sort order is a
    // unique row_number, so it functionally determines the labels)
    val geo = dimension(s, d).aggregationDim.select(
      col("ancestor_node_sort_order").as("geo_ord"),
      col("descendant_node_natural_key").as("geo_desc_key"))
    val partDim = partDimension(s, d).aggregationDim
    // the lattice's brand axis never outputs below Brand (part grain
    // belongs to h6), so route facts part → brand with a closure-derived
    // map BEFORE the pre-agg: the pre-agg grain collapses from
    // (geo leaf × 20k parts) to (geo leaf × ~26 brands) — which is
    // what the shuffle (and h12's per-row HLL sketch payload) carries.
    // Both this map and the old part-keyed closure are part-dim-sized;
    // the grain of the pre-agg OUTPUT is what changes.
    val partToBrand = partDim
      .filter(col("net_level") === 1 && col("ancestor_level_number") === 2)
      .select(col("descendant_node_natural_key").as("pb_part_key"),
        col("ancestor_node_natural_key").as("brand_key"))
    // brand-and-up closure keyed on the BRAND's natural key
    val brand = partDim
      .filter(col("descendant_level_number") === 2)
      .select(col("ancestor_node_sort_order").as("brand_ord"),
        col("descendant_node_natural_key").as("brand_desc_key"))
    def labels(dim: HierarchyDimension, prefix: String, ord: String) =
      dim.aggregationDim.filter(col("net_level") === 0).select(
        col("ancestor_node_sort_order").as(ord),
        col("ancestor_node_id").as(s"${prefix}_node_id"),
        col("ancestor_node_name").as(s"${prefix}_node_name"),
        col("ancestor_level_number").cast("long").as(s"${prefix}_level"))
    // k=64 (stderr ~12.5%, spec floor 35%; cells under 64 distinct
    // are EXACT): the sketches live at the (leaf, brand) pre-agg
    // grain, so their ≤8·64-byte state IS the pre-agg shuffle's
    // payload
    val preMeasures = Seq(
      sum("sales_amount").as("s"), sum("unit_quantity").as("q"),
      count(lit(1)).as("n")) ++
      (if (approxDistinct) Seq(graft.functions.KmvSketch.kmvSketch(
        graft.functions.KmvSketch.kmvHash(col("customer_id").cast("long")), 64)
        .as("sk")) else Nil)
    val preKeys = Seq(col("leaf_key"), col("brand_key")) ++
      (if (exactDistinct) Seq(col("customer_id")) else Nil)
    val pre = HierarchyAgg.salesFacts(s, d)
      .join(partToBrand, col("l_partkey").cast("long") === col("pb_part_key"))
      .groupBy(preKeys: _*)
      .agg(preMeasures.head, preMeasures.tail: _*)
    val finalMeasures = Seq(
      round(sum("s"), 2).as("sum_sales_amount"),
      round(sum("q"), 2).as("sum_unit_quantity"),
      sum("n").as("count_of_fact_records")) ++
      (if (approxDistinct)
        Seq(graft.functions.KmvSketch.kmvEstimate(
          graft.functions.KmvSketch.kmvUnion(col("sk"), 64), 64)
          .as("approx_distinct_customer_count"))
      else Nil) ++
      (if (exactDistinct)
        Seq(count_distinct(col("customer_id")).as("distinct_customer_count"))
      else Nil)
    pre
      .join(geo, col("leaf_key") === col("geo_desc_key"))
      .join(brand, col("brand_key") === col("brand_desc_key"))
      .groupBy("geo_ord", "brand_ord")
      .agg(finalMeasures.head, finalMeasures.tail: _*)
      .join(labels(dimension(s, d), "geo", "geo_ord"), Seq("geo_ord"))
      .join(labels(partDimension(s, d), "brand", "brand_ord")
        .filter(col("brand_level") <= 2), Seq("brand_ord"))
      .select(Seq("geo_node_id", "geo_node_name", "geo_level",
        "brand_node_id", "brand_node_name", "brand_level",
        "sum_sales_amount", "sum_unit_quantity", "count_of_fact_records")
        .map(col) ++
        (if (approxDistinct) Seq(col("approx_distinct_customer_count")) else Nil) ++
        (if (exactDistinct) Seq(col("distinct_customer_count")) else Nil): _*)
  }

  /** Shared DuckDB prelude: nodes → flags → recursive leveling → DFS
    * sort order. Mirrors [[HierarchyDimension]] semantics exactly.
    */
  private val baseNodesSql: String = """
  SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS node_natural_key,
         'All Regions' AS node_name, 'Total' AS level_name,
         CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL
  SELECT 'r' || r_regionkey, CAST(100 + r_regionkey AS BIGINT), r_name, 'Region', 'root' FROM region
  UNION ALL
  SELECT 'n' || n_nationkey, CAST(n_nationkey AS BIGINT), n_name, 'Nation', 'r' || n_regionkey FROM nation"""

  private def prelude(deep: Boolean): String = {
    val segNodes =
      """
  UNION ALL
  SELECT 's' || n_nationkey || '_' || s.seg,
         CAST(1000 + n_nationkey * 8 + s.i AS BIGINT),
         n_name || ' ' || s.seg, 'Segment', 'n' || n_nationkey
  FROM nation, (VALUES ('AUTOMOBILE',0),('BUILDING',1),('FURNITURE',2),('HOUSEHOLD',3),('MACHINERY',4)) s(seg, i)"""
    preludeWith(s"$baseNodesSql${if (deep) segNodes else ""}")
  }

  private def raggedPrelude: String = preludeWith(s"""$baseNodesSql
  UNION ALL
  SELECT 'online', CAST(500 AS BIGINT), 'Online Direct', 'Channel', 'root'""")

  /** The hierarchy as-of 1996-06-01: n8's second SCD2 version is live,
    * so its parent is r0 (mirrors [[versionedRegionNationNodes]]).
    */
  private def movedPrelude: String = preludeWith("""
  SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS node_natural_key,
         'All Regions' AS node_name, 'Total' AS level_name,
         CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL
  SELECT 'r' || r_regionkey, CAST(100 + r_regionkey AS BIGINT), r_name, 'Region', 'root' FROM region
  UNION ALL
  SELECT 'n' || n_nationkey, CAST(n_nationkey AS BIGINT), n_name, 'Nation',
         'r' || CASE WHEN n_nationkey = 8 THEN 0 ELSE n_regionkey END FROM nation""")

  private def partPrelude: String = preludeWith("""
  SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS node_natural_key,
         'All Parts' AS node_name, 'Total' AS level_name,
         CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL
  SELECT 'b' || p_brand, CAST(1000000 + CAST(regexp_extract(p_brand, '\d+') AS BIGINT) AS BIGINT),
         p_brand, 'Brand', 'root'
  FROM (SELECT DISTINCT p_brand FROM part)
  UNION ALL
  SELECT 'p' || p_partkey, CAST(p_partkey AS BIGINT), p_name, 'Part', 'b' || p_brand FROM part""")

  private def preludeWith(nodesSql: String): String = {
    s"""WITH RECURSIVE nodes AS ($nodesSql
),
flagged AS (
  SELECT n.*,
         (n.parent_node_id IS NULL) AS is_root,
         (n.node_id NOT IN (SELECT parent_node_id FROM nodes WHERE parent_node_id IS NOT NULL)) AS is_leaf
  FROM nodes n
),
rec AS (
  SELECT f.node_id, f.node_natural_key, f.node_name, f.level_name, f.parent_node_id,
         f.is_root, f.is_leaf, 1 AS level_number,
         [struct_pack(node_id := f.node_id, node_natural_key := f.node_natural_key, node_name := f.node_name, level_name := f.level_name)] AS path
  FROM flagged f WHERE f.is_root
  UNION ALL
  SELECT f.node_id, f.node_natural_key, f.node_name, f.level_name, f.parent_node_id,
         f.is_root, f.is_leaf, r.level_number + 1,
         list_append(r.path, struct_pack(node_id := f.node_id, node_natural_key := f.node_natural_key, node_name := f.node_name, level_name := f.level_name))
  FROM flagged f JOIN rec r ON f.parent_node_id = r.node_id
),
rdim AS (
  SELECT *, CAST(row_number() OVER (ORDER BY array_to_string(list_transform(path, x -> CAST(to_json(x) AS VARCHAR)), '/')) AS BIGINT) AS node_sort_order
  FROM rec
),
adim AS (
  SELECT a.node_id AS ancestor_node_id, a.node_natural_key AS ancestor_node_natural_key,
         a.node_name AS ancestor_node_name, a.level_name AS ancestor_level_name,
         a.is_root AS ancestor_is_root, a.is_leaf AS ancestor_is_leaf,
         a.level_number AS ancestor_level_number, a.node_sort_order AS ancestor_node_sort_order,
         d.node_id AS descendant_node_id, d.node_natural_key AS descendant_node_natural_key,
         d.node_name AS descendant_node_name, d.level_name AS descendant_level_name,
         d.is_root AS descendant_is_root, d.is_leaf AS descendant_is_leaf,
         d.level_number AS descendant_level_number, d.node_sort_order AS descendant_node_sort_order,
         d.level_number - a.level_number AS net_level
  FROM (SELECT unnest(list_transform(path, x -> x.node_id)) AS anc_id, * FROM rdim) d
  JOIN rdim a ON d.anc_id = a.node_id
)"""
  }

  private def levelCols: String =
    (1 to 10).flatMap { i =>
      Seq("node_id", "node_natural_key", "node_name", "level_name").map { f =>
        s"path[$i].$f AS level_${i}_$f"
      }
    }.mkString(", ")

  private def rollupSql(deep: Boolean, leafKeyExpr: String): String =
    rollupSqlWith(prelude(deep), leafKeyExpr)

  /** st42's ground truth: the flagship rollup over the SURVIVING
    * facts — full recompute excluding the retracted slice (customers
    * ≡ 3 mod 10, even part keys), the invariant the signed durable
    * stream must reproduce after its retraction micro-batch.
    */
  private[graft] def retractionRollupSql: String =
    rollupSqlWith(prelude(false), "c.c_nationkey",
      "WHERE NOT (c.c_custkey % 10 = 3 AND l.l_partkey % 2 = 0)")

  private def rollupSqlWith(preludeSql: String, leafKeyExpr: String,
      factsWhere: String = ""): String =
    s"""$preludeSql,
facts AS (
  SELECT $leafKeyExpr AS leaf_key, l.l_quantity AS unit_quantity,
         l.l_extendedprice AS sales_amount, c.c_custkey AS customer_id
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  $factsWhere
),
agg AS (
  SELECT lpad('-', (ancestor_level_number - 1) * 7, '-') || ancestor_node_name AS product_node_name,
         lpad('-', (ancestor_level_number - 1) * 7, '-') || ancestor_level_name AS product_level_name,
         ancestor_node_sort_order,
         ROUND(SUM(sales_amount), 2) AS sum_sales_amount,
         ROUND(SUM(unit_quantity), 2) AS sum_unit_quantity,
         COUNT(DISTINCT customer_id) AS distinct_customer_count,
         COUNT(*) AS count_of_fact_records
  FROM facts f JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1, 2, 3
)
SELECT product_node_name, product_level_name, sum_sales_amount, sum_unit_quantity,
       distinct_customer_count, count_of_fact_records
FROM agg ORDER BY ancestor_node_sort_order"""

  /** h8's oracle: the h4 rollup derivation verbatim for the exact
    * columns (sums, fact counts, DFS order), with the HLL
    * `distinct_customer_count` joined from COMMITTED per-node values
    * keyed by corpus size — sound because Spark's HLL registers are
    * merge-order-independent maxima over a fixed hash, so the
    * estimate is a pure function of the input set (the codec-digest
    * argument). Regenerate the tuples with `graft.tools.OracleDigests`
    * if the testdata changes.
    */
  private def approxRollupSql: String =
    s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key, l.l_quantity AS unit_quantity,
         l.l_extendedprice AS sales_amount
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
agg AS (
  SELECT lpad('-', (ancestor_level_number - 1) * 7, '-') || ancestor_node_name AS product_node_name,
         lpad('-', (ancestor_level_number - 1) * 7, '-') || ancestor_level_name AS product_level_name,
         ancestor_node_sort_order,
         ROUND(SUM(sales_amount), 2) AS sum_sales_amount,
         ROUND(SUM(unit_quantity), 2) AS sum_unit_quantity,
         COUNT(*) AS count_of_fact_records
  FROM facts f JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1, 2, 3
),
fp AS (SELECT COUNT(*) AS k FROM lineitem),
hll(product_node_name, approx, k) AS (VALUES
           ('--------------NATION_0', 4, 6000),
           ('--------------NATION_1', 6, 6000),
           ('--------------NATION_10', 9, 6000),
           ('--------------NATION_11', 10, 6000),
           ('--------------NATION_12', 4, 6000),
           ('--------------NATION_13', 7, 6000),
           ('--------------NATION_14', 5, 6000),
           ('--------------NATION_15', 5, 6000),
           ('--------------NATION_16', 7, 6000),
           ('--------------NATION_17', 8, 6000),
           ('--------------NATION_18', 5, 6000),
           ('--------------NATION_19', 13, 6000),
           ('--------------NATION_2', 7, 6000),
           ('--------------NATION_20', 9, 6000),
           ('--------------NATION_21', 5, 6000),
           ('--------------NATION_22', 4, 6000),
           ('--------------NATION_23', 3, 6000),
           ('--------------NATION_24', 5, 6000),
           ('--------------NATION_3', 5, 6000),
           ('--------------NATION_4', 6, 6000),
           ('--------------NATION_5', 6, 6000),
           ('--------------NATION_6', 4, 6000),
           ('--------------NATION_7', 3, 6000),
           ('--------------NATION_8', 4, 6000),
           ('--------------NATION_9', 5, 6000),
           ('-------AFRICA', 32, 6000),
           ('-------AMERICA', 32, 6000),
           ('-------ASIA', 27, 6000),
           ('-------EUROPE', 22, 6000),
           ('-------MIDDLE EAST', 35, 6000),
           ('All Regions', 151, 6000),
           ('--------------NATION_0', 54, 60000),
           ('--------------NATION_1', 54, 60000),
           ('--------------NATION_10', 72, 60000),
           ('--------------NATION_11', 73, 60000),
           ('--------------NATION_12', 63, 60000),
           ('--------------NATION_13', 66, 60000),
           ('--------------NATION_14', 56, 60000),
           ('--------------NATION_15', 57, 60000),
           ('--------------NATION_16', 56, 60000),
           ('--------------NATION_17', 49, 60000),
           ('--------------NATION_18', 62, 60000),
           ('--------------NATION_19', 73, 60000),
           ('--------------NATION_2', 74, 60000),
           ('--------------NATION_20', 60, 60000),
           ('--------------NATION_21', 66, 60000),
           ('--------------NATION_22', 50, 60000),
           ('--------------NATION_23', 64, 60000),
           ('--------------NATION_24', 64, 60000),
           ('--------------NATION_3', 67, 60000),
           ('--------------NATION_4', 56, 60000),
           ('--------------NATION_5', 42, 60000),
           ('--------------NATION_6', 53, 60000),
           ('--------------NATION_7', 74, 60000),
           ('--------------NATION_8', 44, 60000),
           ('--------------NATION_9', 48, 60000),
           ('-------AFRICA', 286, 60000),
           ('-------AMERICA', 309, 60000),
           ('-------ASIA', 313, 60000),
           ('-------EUROPE', 295, 60000),
           ('-------MIDDLE EAST', 300, 60000),
           ('All Regions', 1400, 60000))
SELECT a.product_node_name, a.product_level_name, a.sum_sales_amount,
       a.sum_unit_quantity, CAST(h.approx AS BIGINT) AS distinct_customer_count,
       a.count_of_fact_records
FROM agg a
JOIN hll h ON h.product_node_name = a.product_node_name
JOIN fp ON h.k = fp.k
ORDER BY a.ancestor_node_sort_order"""

  val oracles: Map[String, String] = Map(
    "h8_hier_agg_approx" -> approxRollupSql,
    // closure diff needs only (ancestor, descendant) pairs, which have
    // a compact self-inheriting recursive form per node-table version
    "h7_hierarchy_diff" ->
      """WITH RECURSIVE n1 AS (
  SELECT 'root' AS node_id, CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL SELECT 'r' || r_regionkey, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
n2 AS (
  SELECT node_id,
         CASE WHEN node_id = 'n8' THEN 'r0' ELSE parent_node_id END AS parent_node_id
  FROM n1),
anc1 AS (
  SELECT node_id, node_id AS anc FROM n1
  UNION ALL
  SELECT n.node_id, a.anc FROM n1 n JOIN anc1 a ON n.parent_node_id = a.node_id),
anc2 AS (
  SELECT node_id, node_id AS anc FROM n2
  UNION ALL
  SELECT n.node_id, a.anc FROM n2 n JOIN anc2 a ON n.parent_node_id = a.node_id)
SELECT 'removed' AS change, anc AS ancestor_node_id, node_id AS descendant_node_id
FROM (SELECT node_id, anc FROM anc1 EXCEPT SELECT node_id, anc FROM anc2)
UNION ALL
SELECT 'added', anc, node_id
FROM (SELECT node_id, anc FROM anc2 EXCEPT SELECT node_id, anc FROM anc1)""",
    // from-scratch recursive rebuild of the MOVED tree's closure —
    // the ground truth the incremental maintenance must reproduce
    "h21_closure_move" ->
      """WITH RECURSIVE n1 AS (
  SELECT 'root' AS node_id, CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL SELECT 'r' || r_regionkey, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
n2 AS (
  SELECT node_id,
         CASE WHEN node_id = 'n8' THEN 'r0' ELSE parent_node_id END AS parent_node_id
  FROM n1),
anc2 AS (
  SELECT node_id, node_id AS anc FROM n2
  UNION ALL
  SELECT n.node_id, a.anc FROM n2 n JOIN anc2 a ON n.parent_node_id = a.node_id)
SELECT anc AS ancestor_node_id, node_id AS descendant_node_id FROM anc2""",
    // ground truth for the delta-repair: full recompute from FACTS
    // under the moved tree's closure
    "h22_move_mv_repair" ->
      """WITH RECURSIVE n1 AS (
  SELECT 'root' AS node_id, CAST(NULL AS VARCHAR) AS parent_node_id
  UNION ALL SELECT 'r' || r_regionkey, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
n2 AS (
  SELECT node_id,
         CASE WHEN node_id = 'n8' THEN 'r0' ELSE parent_node_id END AS parent_node_id
  FROM n1),
anc2 AS (
  SELECT node_id, node_id AS anc FROM n2
  UNION ALL
  SELECT n.node_id, a.anc FROM n2 n JOIN anc2 a ON n.parent_node_id = a.node_id),
facts AS (
  SELECT 'n' || c.c_nationkey AS leaf_node_id, l.l_extendedprice AS sales_amount
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT anc2.anc AS ancestor_node_id,
  ROUND(SUM(f.sales_amount), 2) AS sum_sales_amount,
  COUNT(*) AS count_of_fact_records
FROM facts f JOIN anc2 ON f.leaf_node_id = anc2.node_id
GROUP BY 1""",
    "h1_nodes" ->
      s"""${prelude(false)}
SELECT node_id, node_natural_key, node_name, level_name, parent_node_id, is_root, is_leaf FROM flagged""",
    "h2_reporting_dim" ->
      s"""${prelude(false)}
SELECT node_id, node_natural_key, node_name, level_name, parent_node_id, is_root, is_leaf,
       level_number, node_sort_order,
       CAST(to_json(struct_pack(node_id := node_id, node_natural_key := node_natural_key,
         node_name := node_name, level_name := level_name)) AS VARCHAR) AS node_json,
       $levelCols
FROM rdim""",
    "h3_aggregation_dim" ->
      s"""${prelude(false)}
SELECT * FROM adim""",
    // the SQL-built dims must equal the engine's: h3's oracle verbatim
    "h36_sql_dim_build" ->
      s"""${prelude(false)}
SELECT * FROM adim""",
    "h4_hier_agg" -> rollupSql(deep = false, "c.c_nationkey"),
    // the SQL surface is pinned to the SAME derivation as h4 — one
    // engine, two user-facing syntaxes, one oracle
    "h33_sql_rollup" -> rollupSql(deep = false, "c.c_nationkey"),
    // GROUPING SETS over the closure expansion: (node) and
    // (node, segment) cells, the global () cell dropped (it
    // duplicates the root's ALL row); labels join on sort order
    "h34_hier_attr_cube" ->
      s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key, c.c_mktsegment AS seg,
         l.l_quantity AS unit_quantity, l.l_extendedprice AS sales_amount
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
agg AS (
  SELECT ancestor_node_sort_order AS so,
         COALESCE(seg, 'ALL') AS segment,
         ROUND(SUM(sales_amount), 2) AS sum_sales_amount,
         ROUND(SUM(unit_quantity), 2) AS sum_unit_quantity,
         COUNT(*) AS count_of_fact_records
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY GROUPING SETS ((ancestor_node_sort_order),
                          (ancestor_node_sort_order, seg))
),
lbl AS (
  SELECT node_sort_order AS so,
         lpad('-', (level_number - 1) * 7, '-') || node_name
           AS product_node_name
  FROM rdim
)
SELECT product_node_name, segment, sum_sales_amount, sum_unit_quantity,
       count_of_fact_records
FROM agg JOIN lbl USING (so)""",
    // the bitmap mode must be RESULT-IDENTICAL to the exact rollup
    "h23_hier_agg_bitmap" -> rollupSql(deep = false, "c.c_nationkey"),
    // the h4 closure derivation + quantile_cont(0.5) (the q48-proven
    // interpolation parity with the histogram-rank exact median)
    "h27_subtree_median" ->
      s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT lpad('-', (ancestor_level_number - 1) * 7, '-')
    || ancestor_node_name AS product_node_name,
  ROUND(quantile_cont(f.o_totalprice, 0.5), 6) AS median_value
FROM facts f
JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
GROUP BY 1""",
    // node-grain subtree totals, parent self-join, per-parent rank
    "h29_sibling_rank" ->
      s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key,
    CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
tot AS (
  SELECT adim.ancestor_node_id AS node_id, SUM(f.cents) AS c
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1
),
kids AS (
  SELECT m.node_name, m.level_name, m.parent_node_id, t.c
  FROM tot t JOIN flagged m ON t.node_id = m.node_id
  WHERE m.parent_node_id IS NOT NULL
)
SELECT k.node_name, k.level_name,
  CAST(row_number() OVER (PARTITION BY k.parent_node_id
    ORDER BY k.c DESC, k.node_name) AS BIGINT) AS sibling_rank,
  ROUND(CAST(k.c AS DOUBLE) / 100.0, 2) AS subtree_sales,
  ROUND(CAST(k.c AS DOUBLE) / CAST(p.c AS DOUBLE), 6) AS share_of_parent
FROM kids k JOIN tot p ON k.parent_node_id = p.node_id""",
    // the h27 closure derivation + DECIMAL moment sums and the
    // identical closed-form population variance
    "h30_subtree_stddev" ->
      s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key,
    CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT lpad('-', (ancestor_level_number - 1) * 7, '-')
      || ancestor_node_name AS product_node_name,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    SUM(CAST(f.cents AS HUGEINT)) AS sx,
    SUM(CAST(f.cents * f.cents AS HUGEINT)) AS sxx
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1
)
SELECT product_node_name, n_orders,
  ROUND(CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0, 6)
    AS mean_value,
  ROUND(sqrt(greatest((CAST(n_orders AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    / (CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)), 0.0)) / 100.0, 6)
    AS stddev_value
FROM m""",
    // the same four invariants over the prelude's frames
    "h32_dim_audit" ->
      s"""${prelude(false)},
fl AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer),
lk AS (SELECT node_natural_key AS k FROM flagged WHERE is_leaf),
checks AS (
  SELECT 'orphan_fact_leaves' AS check_name,
    CAST(COUNT(*) AS BIGINT) AS n_violations
  FROM fl WHERE NOT EXISTS (SELECT 1 FROM lk WHERE lk.k = fl.k)
  UNION ALL
  SELECT 'dangling_parent', CAST(COUNT(*) AS BIGINT) FROM flagged f
  WHERE NOT f.is_root
    AND NOT EXISTS (
      SELECT 1 FROM flagged c
      JOIN nodes p ON c.parent_node_id = p.node_id
      WHERE c.node_id = f.node_id)
  UNION ALL
  SELECT 'extra_roots', CAST(COUNT(*) - 1 AS BIGINT)
  FROM flagged WHERE is_root
  UNION ALL
  SELECT 'level_gaps', CAST(COUNT(*) AS BIGINT) FROM adim
  WHERE net_level <> descendant_level_number - ancestor_level_number)
SELECT * FROM checks""",
    // the RECURSIVE path (rdim.path) vs the engine's closure-collected
    // ancestors — two independent derivations of the same lineage
    "h31_path_labels" ->
      s"""${prelude(false)}
SELECT node_id AS descendant_node_id, node_name,
  CAST(level_number AS BIGINT) AS level_number,
  array_to_string(list_transform(path, x -> x.node_name), ' > ') AS path
FROM rdim""",
    // per-node top-3 customers by subtree spend: the h4 closure
    // derivation, (node, customer) sums, rank key ROUND(spend, 9)
    "h26_subtree_topk" ->
      s"""${prelude(false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key, l.l_extendedprice AS sales_amount,
         c.c_custkey AS customer_id
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
nc AS (
  SELECT adim.ancestor_node_sort_order AS so,
         lpad('-', (ancestor_level_number - 1) * 7, '-')
           || ancestor_node_name AS product_node_name,
         f.customer_id, SUM(f.sales_amount) AS spend
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1, 2, 3
)
SELECT product_node_name, CAST(rnk AS BIGINT) AS rank, customer_id,
       ROUND(spend, 2) AS spend
FROM (SELECT *, row_number() OVER (PARTITION BY so
        ORDER BY ROUND(spend, 9) DESC, customer_id) AS rnk FROM nc)
WHERE rnk <= 3""",
    // Σ-over-paths Π-weight closure re-derived recursively; identical
    // weight literals → identical doubles → identical products
    "h25_weighted_dag" ->
      """WITH RECURSIVE edges AS (
  SELECT 'r' || r_regionkey AS child, 'root' AS parent,
         CAST(1.0 AS DOUBLE) AS w FROM region
  UNION ALL
  SELECT 'n' || n_nationkey, 'r' || n_regionkey,
         CAST(CASE WHEN n_nationkey % 2 = 1 THEN 0.7 ELSE 1.0 END AS DOUBLE)
  FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey, 'r' || ((n_regionkey + 1) % 5),
         CAST(0.3 AS DOUBLE)
  FROM nation WHERE n_nationkey % 2 = 1),
nodes AS (SELECT DISTINCT node FROM (
  SELECT child AS node FROM edges UNION ALL SELECT parent FROM edges)),
paths AS (
  SELECT node, node AS anc, CAST(1.0 AS DOUBLE) AS w FROM nodes
  UNION ALL
  SELECT p.node, e.parent, p.w * e.w FROM paths p JOIN edges e ON p.anc = e.child),
closure AS (SELECT node, anc, SUM(w) AS w FROM paths GROUP BY 1, 2),
facts AS (
  SELECT 'n' || c.c_nationkey AS node, l.l_extendedprice AS sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT anc AS node_id, ROUND(SUM(sales * w), 2) AS weighted_sales
FROM facts f JOIN closure cl ON f.node = cl.node
GROUP BY anc""",
    // the incrementally-maintained bitmap MV must read off the SAME
    // distinct counts as a full recompute over all facts
    "h24_incremental_distinct" ->
      s"""${prelude(deep = false)},
facts AS (
  SELECT c.c_nationkey AS leaf_key, c.c_custkey AS customer_id
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT ancestor_node_sort_order,
       COUNT(DISTINCT customer_id) AS distinct_customer_count
FROM facts f JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
GROUP BY ancestor_node_sort_order""",
    // point-in-time snapshot of the versioned hierarchy (n8 → r0 live)
    "h13_asof_rollup" -> rollupSqlWith(movedPrelude, "c.c_nationkey"),
    // targeted repair ≡ full recompute under the edited hierarchy
    "h16_targeted_mv_repair" -> rollupSqlWith(movedPrelude, "c.c_nationkey"),
    // nested-set formula over the prelude's rdim/adim: lft = 2·rank −
    // depth, rgt = lft + 2·subtree − 1 (preorder rank = node_sort_order)
    "h19_nested_sets" ->
      s"""${prelude(false)},
sizes AS (
  SELECT ancestor_node_id AS node_id, COUNT(*) AS subtree_size
  FROM adim GROUP BY 1)
SELECT r.node_id, r.node_natural_key, r.node_name,
  CAST(r.level_number AS BIGINT) AS level_number, r.node_sort_order,
  CAST(r.node_sort_order * 2 - r.level_number AS BIGINT) AS lft,
  CAST(r.node_sort_order * 2 - r.level_number + s.subtree_size * 2 - 1 AS BIGINT) AS rgt
FROM rdim r JOIN sizes s ON r.node_id = s.node_id""",
    // LCA = the shared ancestor at max level (common ancestors form
    // a chain, so max level is unique per pair — no tie-break needed)
    "h20_lca" ->
      s"""${prelude(true)},
leaves AS (
  SELECT descendant_node_id AS leaf, ancestor_node_id AS anc,
         ancestor_node_name AS aname, ancestor_level_number AS alvl
  FROM adim WHERE descendant_is_leaf),
pairs AS (
  SELECT a.leaf AS leaf_a, b.leaf AS leaf_b, a.anc, a.aname, a.alvl
  FROM leaves a JOIN leaves b ON a.anc = b.anc AND a.leaf < b.leaf)
SELECT leaf_a, leaf_b, arg_max(anc, alvl) AS lca_node_id,
  arg_max(aname, alvl) AS lca_node_name,
  CAST(MAX(alvl) AS BIGINT) AS lca_level
FROM pairs GROUP BY 1, 2""",
    // the what-if preview must agree with actually running both
    // worlds: base and edited rollups full-outer-joined on the node,
    // changed rows only
    "h18_whatif_delta" ->
      """WITH RECURSIVE n1 AS (
  SELECT 'root' AS node_id, CAST(NULL AS VARCHAR) AS parent
  UNION ALL SELECT 'r' || r_regionkey, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
n2 AS (
  SELECT node_id, CASE WHEN node_id = 'n8' THEN 'r0' ELSE parent END AS parent
  FROM n1),
names AS (
  SELECT 'root' AS node_id, 'All Regions' AS node_name
  UNION ALL SELECT 'r' || r_regionkey, r_name FROM region
  UNION ALL SELECT 'n' || n_nationkey, n_name FROM nation),
anc1 AS (
  SELECT node_id, node_id AS anc FROM n1
  UNION ALL SELECT n.node_id, a.anc FROM n1 n JOIN anc1 a ON n.parent = a.node_id),
anc2 AS (
  SELECT node_id, node_id AS anc FROM n2
  UNION ALL SELECT n.node_id, a.anc FROM n2 n JOIN anc2 a ON n.parent = a.node_id),
f AS (
  SELECT 'n' || c.c_nationkey AS leaf, l.l_extendedprice AS s,
         l.l_quantity AS q, c.c_custkey AS cid
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey),
a1 AS (
  SELECT a.anc, ROUND(SUM(s), 2) AS sales, ROUND(SUM(q), 2) AS qty,
         COUNT(DISTINCT cid) AS customers, COUNT(*) AS facts
  FROM f JOIN anc1 a ON a.node_id = f.leaf GROUP BY a.anc),
a2 AS (
  SELECT a.anc, ROUND(SUM(s), 2) AS sales, ROUND(SUM(q), 2) AS qty,
         COUNT(DISTINCT cid) AS customers, COUNT(*) AS facts
  FROM f JOIN anc2 a ON a.node_id = f.leaf GROUP BY a.anc)
SELECT COALESCE(a1.anc, a2.anc) AS node_id, names.node_name,
  COALESCE(a1.sales, 0) AS old_sales, COALESCE(a2.sales, 0) AS new_sales,
  ROUND(COALESCE(a2.sales, 0) - COALESCE(a1.sales, 0), 2) AS delta_sales,
  COALESCE(a1.qty, 0) AS old_qty, COALESCE(a2.qty, 0) AS new_qty,
  COALESCE(a1.customers, 0) AS old_customers,
  COALESCE(a2.customers, 0) AS new_customers,
  COALESCE(a1.facts, 0) AS old_facts, COALESCE(a2.facts, 0) AS new_facts
FROM a1 FULL OUTER JOIN a2 ON a1.anc = a2.anc
JOIN names ON names.node_id = COALESCE(a1.anc, a2.anc)
WHERE COALESCE(a1.sales, 0) <> COALESCE(a2.sales, 0)
   OR COALESCE(a1.qty, 0) <> COALESCE(a2.qty, 0)
   OR COALESCE(a1.customers, 0) <> COALESCE(a2.customers, 0)
   OR COALESCE(a1.facts, 0) <> COALESCE(a2.facts, 0)""",
    // facts route through the closure version live at their order date
    "h14_history_rollup" ->
      """WITH RECURSIVE n1 AS (
  SELECT 'root' AS node_id, CAST(NULL AS VARCHAR) AS parent
  UNION ALL SELECT 'r' || r_regionkey, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
n2 AS (
  SELECT node_id,
         CASE WHEN node_id = 'n8' THEN 'r0' ELSE parent END AS parent
  FROM n1),
anc1 AS (
  SELECT node_id, node_id AS anc FROM n1
  UNION ALL SELECT n.node_id, a.anc FROM n1 n JOIN anc1 a ON n.parent = a.node_id),
anc2 AS (
  SELECT node_id, node_id AS anc FROM n2
  UNION ALL SELECT n.node_id, a.anc FROM n2 n JOIN anc2 a ON n.parent = a.node_id),
f AS (
  SELECT 'n' || c.c_nationkey AS leaf, o.o_orderdate AS od,
         l.l_extendedprice AS s, l.l_quantity AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey),
routed AS (
  SELECT a.anc, f.s, f.q FROM f JOIN anc1 a ON a.node_id = f.leaf
  WHERE f.od < TIMESTAMP '1996-01-01 00:00:00'
  UNION ALL
  SELECT a.anc, f.s, f.q FROM f JOIN anc2 a ON a.node_id = f.leaf
  WHERE f.od >= TIMESTAMP '1996-01-01 00:00:00')
SELECT anc AS ancestor_node_id, ROUND(SUM(s), 2) AS sum_sales_amount,
       ROUND(SUM(q), 2) AS sum_unit_quantity,
       COUNT(*) AS count_of_fact_records
FROM routed GROUP BY anc""",
    // incremental maintenance ≡ full recompute (same SQL as h4)
    "h9_incremental_rollup" -> rollupSql(deep = false, "c.c_nationkey"),
    "h6_hier_agg_parts" -> rollupSqlWith(partPrelude, "l.l_partkey"),
    // the shuffle-dim fallback must reproduce the broadcast path's
    // result bit-for-bit: h6's oracle verbatim
    "h35_shuffle_dim_rollup" -> rollupSqlWith(partPrelude, "l.l_partkey"),
    "h11_ragged_rollup" -> rollupSqlWith(raggedPrelude,
      "CASE WHEN c.c_custkey % 20 = 0 THEN 500 ELSE c.c_nationkey END"),
    "h5_hier_agg_deep" -> rollupSql(deep = true,
      """1000 + c.c_nationkey * 8 +
         CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
              WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
              WHEN 'MACHINERY' THEN 4 ELSE 7 END"""),
    // percent-of-parent / percent-of-total: node totals via the same
    // closure join, ratios via parent-pointer self-join; ratios divide
    // the 2-dp-rounded totals exactly as the engine does
    "h17_contribution" ->
      s"""${prelude(true)},
facts AS (
  SELECT 1000 + c.c_nationkey * 8 +
         CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
              WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
              WHEN 'MACHINERY' THEN 4 ELSE 7 END AS leaf_key,
         l.l_extendedprice AS sales_amount
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey),
totals AS (
  SELECT adim.ancestor_node_id AS node_id,
         ROUND(SUM(f.sales_amount), 2) AS sum_sales_amount
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1),
rt AS (
  SELECT SUM(t.sum_sales_amount) AS root_sales
  FROM totals t JOIN flagged fl ON t.node_id = fl.node_id
  WHERE fl.is_root)
SELECT fl.node_name, fl.level_name, t.sum_sales_amount,
       ROUND(t.sum_sales_amount / pt.sum_sales_amount, 6) AS pct_of_parent,
       ROUND(t.sum_sales_amount / rt.root_sales, 6) AS pct_of_total
FROM totals t
JOIN flagged fl ON t.node_id = fl.node_id
LEFT JOIN totals pt ON fl.parent_node_id = pt.node_id
CROSS JOIN rt""",
    // integer-cent line quantization, HUGEINT squares, and the
    // engine's exact ratio parenthesization
    "h28_concentration" ->
      s"""${prelude(true)},
facts AS (
  SELECT 1000 + c.c_nationkey * 8 +
         CASE c.c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
              WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
              WHEN 'MACHINERY' THEN 4 ELSE 7 END AS leaf_key,
         CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey),
totals AS (
  SELECT adim.ancestor_node_id AS node_id, SUM(f.cents) AS c
  FROM facts f
  JOIN adim ON CAST(f.leaf_key AS BIGINT) = adim.descendant_node_natural_key
  GROUP BY 1),
kids AS (
  SELECT fl.parent_node_id AS pid, t.c
  FROM totals t JOIN flagged fl ON t.node_id = fl.node_id
  WHERE fl.parent_node_id IS NOT NULL),
g AS (
  SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_children,
         SUM(CAST(c AS HUGEINT)) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS s2,
         MAX(c) AS m
  FROM kids GROUP BY pid)
SELECT fp.node_name AS parent_name, fp.level_name AS parent_level,
       g.n_children,
       ROUND(CAST(s AS DOUBLE) / 100.0, 2) AS total_sales,
       ROUND(CAST(m AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top_child_share,
       ROUND(CAST(s2 AS DOUBLE)
         / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hhi
FROM g JOIN flagged fp ON g.pid = fp.node_id""",
    // two independent closures (compact anc-pair recursion per
    // hierarchy) joined to the same fact stream
    "h10_multi_hier_agg" -> multiHierSql(""),
    // h10 + the exact cross-hierarchy distinct customer count
    "h15_multi_hier_exact" -> multiHierSql(
      ",\n       COUNT(DISTINCT f.cust) AS distinct_customer_count"),
    // h10 + the KMV approximate distinct RE-DERIVED FROM SCRATCH:
    // bottom-k of a union is order-free, so the oracle hashes each
    // cell's distinct customers with the same LCG∘xorshift∘LCG
    // bijection, takes the 64th smallest, and applies the (k−1)·M/h_k
    // estimator (exact count below k) — no committed values, a real
    // cross-engine check of a SKETCHED measure
    "h12_multi_hier_approx" -> multiHierSql(
      """,
       CASE WHEN COUNT(DISTINCT f.cust) < 64 THEN COUNT(DISTINCT f.cust)
            ELSE CAST(FLOOR(63.0 * 2147483648 /
              (list_sort(list_distinct(list(f.h))))[64] + 0.5) AS BIGINT)
       END AS approx_distinct_customer_count""",
      extraFact = """,
         (1103515245 * xor((1103515245 * CAST(c.c_custkey AS BIGINT) + 12345) % 2147483648,
                           ((1103515245 * CAST(c.c_custkey AS BIGINT) + 12345) % 2147483648) // 8192)
          + 12345) % 2147483648 AS h""")
  )

  /** Shared two-hierarchy lattice oracle; `extraMeasure` is appended
    * to the SELECT measure list (h15's exact distinct, h12's KMV
    * estimator) and `extraFact` to the facts CTE's column list
    * (h12's hash).
    */
  private def multiHierSql(extraMeasure: String,
      extraFact: String = ""): String =
      raw"""WITH RECURSIVE gn AS (
  SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS k, 'All Regions' AS name,
         CAST(NULL AS VARCHAR) AS parent
  UNION ALL SELECT 'r' || r_regionkey, CAST(100 + r_regionkey AS BIGINT), r_name, 'root' FROM region
  UNION ALL SELECT 'n' || n_nationkey, CAST(n_nationkey AS BIGINT), n_name, 'r' || n_regionkey FROM nation),
glev AS (
  SELECT node_id, name, 1 AS lev FROM gn WHERE parent IS NULL
  UNION ALL SELECT c.node_id, c.name, p.lev + 1 FROM gn c JOIN glev p ON c.parent = p.node_id),
ganc AS (
  SELECT node_id, node_id AS anc FROM gn
  UNION ALL SELECT n.node_id, a.anc FROM gn n JOIN ganc a ON n.parent = a.node_id),
gclo AS (
  SELECT a.anc AS geo_node_id, gn.k AS desc_key FROM ganc a JOIN gn ON gn.node_id = a.node_id),
pn AS (
  SELECT 'root' AS node_id, CAST(-1 AS BIGINT) AS k, 'All Parts' AS name,
         CAST(NULL AS VARCHAR) AS parent
  UNION ALL
  SELECT 'b' || p_brand, CAST(1000000 + CAST(regexp_extract(p_brand, '\d+') AS BIGINT) AS BIGINT),
         p_brand, 'root'
  FROM (SELECT DISTINCT p_brand FROM part)
  UNION ALL
  SELECT 'p' || p_partkey, CAST(p_partkey AS BIGINT), p_name, 'b' || p_brand FROM part),
plev AS (
  SELECT node_id, name, 1 AS lev FROM pn WHERE parent IS NULL
  UNION ALL SELECT c.node_id, c.name, p.lev + 1 FROM pn c JOIN plev p ON c.parent = p.node_id),
panc AS (
  SELECT node_id, node_id AS anc FROM pn
  UNION ALL SELECT n.node_id, a.anc FROM pn n JOIN panc a ON n.parent = a.node_id),
pclo AS (
  SELECT a.anc AS brand_node_id, pn.k AS desc_key FROM panc a JOIN pn ON pn.node_id = a.node_id),
facts AS (
  SELECT c.c_nationkey AS geo_leaf, l.l_partkey AS part_leaf,
         c.c_custkey AS cust,
         l.l_extendedprice AS s, l.l_quantity AS q$extraFact
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT g.geo_node_id, gm.name AS geo_node_name, CAST(gm.lev AS BIGINT) AS geo_level,
       p.brand_node_id, pm.name AS brand_node_name, CAST(pm.lev AS BIGINT) AS brand_level,
       ROUND(SUM(f.s), 2) AS sum_sales_amount,
       ROUND(SUM(f.q), 2) AS sum_unit_quantity,
       COUNT(*) AS count_of_fact_records$extraMeasure
FROM facts f
JOIN gclo g ON g.desc_key = f.geo_leaf
JOIN pclo p ON p.desc_key = f.part_leaf
JOIN glev gm ON gm.node_id = g.geo_node_id
JOIN plev pm ON pm.node_id = p.brand_node_id
WHERE pm.lev <= 2
GROUP BY 1, 2, 3, 4, 5, 6"""
}
