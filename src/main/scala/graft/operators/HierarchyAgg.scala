package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Hierarchy node-table builders over the TPC-H-ish testdata, and the
  * flagship hierarchical rollup (reference: main.py:20-69).
  *
  * The reference's grocery hierarchy (root → Category → UPC) maps to
  * root → Region → Nation here; facts come from
  * lineitem ⨝ orders ⨝ customer keyed by `c_nationkey` at the leaves.
  */
object HierarchyAgg {

  /** Parent-child node table, reference schema
    * (sql/create_grocery_store_database.sql:1-14): node_id,
    * node_natural_key, node_name, level_name, parent_node_id.
    * Node ids are deterministic strings so the DuckDB oracle can build
    * the identical hierarchy.
    */
  def regionNationNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val root = spark.range(1).select(
      lit("root").as("node_id"),
      lit(-1L).as("node_natural_key"),
      lit("All Regions").as("node_name"),
      lit("Total").as("level_name"),
      lit(null).cast("string").as("parent_node_id"))
    val regions = Tables.region(spark, sfDir).select(
      concat(lit("r"), col("r_regionkey").cast("string")).as("node_id"),
      (col("r_regionkey").cast("long") + 100L).as("node_natural_key"),
      col("r_name").as("node_name"),
      lit("Region").as("level_name"),
      lit("root").as("parent_node_id"))
    val nations = Tables.nation(spark, sfDir).select(
      concat(lit("n"), col("n_nationkey").cast("string")).as("node_id"),
      col("n_nationkey").cast("long").as("node_natural_key"),
      col("n_name").as("node_name"),
      lit("Nation").as("level_name"),
      concat(lit("r"), col("n_regionkey").cast("string")).as("parent_node_id"))
    root.unionByName(regions).unionByName(nations)
  }

  /** 4-level variant: root → Region → Nation → market segment.
    * Segment natural keys are arithmetic (1000 + nationkey*8 + segIdx)
    * so the oracle can reproduce them without engine-specific hashing.
    */
  val segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def segmentIdx(c: Column): Column =
    segments.zipWithIndex.foldLeft(lit(7)) { case (acc, (s, i)) =>
      when(c === s, i).otherwise(acc)
    }

  def segmentLeafKey(nationKey: Column, seg: Column): Column =
    lit(1000L) + nationKey.cast("long") * 8L + segmentIdx(seg).cast("long")

  def regionNationSegmentNodes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = regionNationNodes(spark, sfDir)
    // one nation scan × a 5-row literal frame, not 5 scans unioned
    val segDf = segments.zipWithIndex.toDF("seg", "seg_idx")
    val segRows = Tables.nation(spark, sfDir).crossJoin(broadcast(segDf))
      .select(
        concat(lit("s"), col("n_nationkey").cast("string"), lit("_"), col("seg")).as("node_id"),
        (lit(1000L) + col("n_nationkey").cast("long") * 8L + col("seg_idx").cast("long")).as("node_natural_key"),
        concat(col("n_name"), lit(" "), col("seg")).as("node_name"),
        lit("Segment").as("level_name"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("parent_node_id"))
    base.unionByName(segRows)
  }

  /** Part hierarchy: root → Brand → Part. Much wider than the
    * region/nation dim (20k leaves at sf0.1) — exercises the closure
    * derivation at real dimension width. Brand natural keys derive
    * from the digits in the brand name (+1e6 to stay disjoint from
    * part keys).
    */
  def partNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
    val root = spark.range(1).select(
      lit("root").as("node_id"),
      lit(-1L).as("node_natural_key"),
      lit("All Parts").as("node_name"),
      lit("Total").as("level_name"),
      lit(null).cast("string").as("parent_node_id"))
    val brands = part.select(col("p_brand")).distinct().select(
      concat(lit("b"), col("p_brand")).as("node_id"),
      (lit(1000000L) + regexp_extract(col("p_brand"), "\\d+", 0).cast("long")).as("node_natural_key"),
      col("p_brand").as("node_name"),
      lit("Brand").as("level_name"),
      lit("root").as("parent_node_id"))
    val parts = part.select(
      concat(lit("p"), col("p_partkey").cast("string")).as("node_id"),
      col("p_partkey").cast("long").as("node_natural_key"),
      col("p_name").as("node_name"),
      lit("Part").as("level_name"),
      concat(lit("b"), col("p_brand")).as("parent_node_id"))
    root.unionByName(brands).unionByName(parts)
  }

  /** Sales facts: lineitem ⨝ orders ⨝ customer. At 100 TB lineitem is
    * the giant; orders⨝customer is pre-joined then the orderkey join
    * shuffles both sides on o_orderkey (AQE re-plans; customer join is
    * broadcast-eligible at dim scale).
    */
  def salesFacts(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .select(
        col("c_nationkey").cast("long").as("leaf_key"),
        col("c_nationkey"), col("c_mktsegment"),
        col("l_partkey"),
        col("c_custkey").as("customer_id"),
        col("l_quantity").as("unit_quantity"),
        col("l_extendedprice").as("sales_amount"))
  }

  /** The flagship rollup (reference: main.py:27-56): join facts to the
    * aggregation dim on the descendant natural key, group by ancestor
    * node with `lpad`-indented labels, aggregate
    * sum/sum/distinct-count/count, order by DFS sort order.
    *
    * Scale shape, in order:
    * 1. facts are pre-aggregated to (leaf, customer) grain — ONE
    *    shuffle of the giant side, with map-side partial aggregation
    *    collapsing it to the distinct-pair cardinality. This is the
    *    only point where 100 TB of rows move.
    * 2. the closure join takes the dimension's strategy (broadcast for
    *    any dimension leveled in one task), so the pre-agg stream
    *    expands ×depth without shuffling.
    * 3. the ancestor groupBy (|nodes| cardinality keys) computes the
    *    sums/counts additively from the pre-agg partials and the exact
    *    `countDistinct(customer_id)` over distinct pairs — the Expand
    *    for the mixed distinct/non-distinct aggregate runs over the
    *    pair grain, not the raw fact stream (round-1 h5/h6 cost).
    * 4. string labels join onto the nodes-sized aggregate on the
    *    numeric sort order — the expanded stream never hashes strings.
    */
  /** Dim-side join strategy: every operator here joins the closure
    * and its label frame exactly as it receives them.
    * [[HierarchyDimension.aggregationDim]] carries the strategy — a
    * broadcast hint for a dimension leveled in one task, none for a
    * distributed one; a loaded or stored closure is sized by Spark's
    * statistics; `.hint("merge")` on the closure forces the shuffle
    * path. Results are identical either way (spec-asserted).
    */
  def hierarchicalRollup(facts: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key",
      approxDistinct: Boolean = false): DataFrame = {
    // exact distinct is the reference's semantics (and the registry/
    // oracle form), computed as an EXPLICIT two-level aggregation via
    // the MV grain: level 1 groups by (node, customer) — partial
    // aggregation collapses it map-side — and level 2 counts the
    // non-null-customer groups. Same result as countDistinct, but no
    // Expand doubling the expanded fact stream (the round-1 h5/h6
    // cost). The approx mode (HLL++, mergeable) is the opt-in for
    // profiling-grade rollups.
    if (!approxDistinct)
      return finalizeRollup(rollupMv(facts, aggDim, factKey), aggDim)
    val pairAgg = facts
      .groupBy(col(factKey), col("customer_id"))
      .agg(
        sum(col("sales_amount")).as("__sales"),
        sum(col("unit_quantity")).as("__qty"),
        count(lit(1)).as("__n"))
    val aggregated = expand(pairAgg, aggDim, factKey)
      .groupBy("ancestor_node_sort_order")
      .agg(
        round(sum(col("__sales")), 2).as("sum_sales_amount"),
        round(sum(col("__qty")), 2).as("sum_unit_quantity"),
        approx_count_distinct(col("customer_id")).as("distinct_customer_count"),
        sum(col("__n")).as("count_of_fact_records"))
    withLabels(aggregated, aggDim)
  }

  /** The THIRD distinct mode of the rollup: EXACT distinct customers
    * through the [[graft.functions.BitmapDistinct]] aggregate — ONE
    * node-grain exchange like h8's HLL, but with ZERO error. The
    * exact two-phase path ([[hierarchicalRollup]]) must first
    * collapse facts to (node, customer) grain — a customer-grain
    * shuffle whose only purpose is dedup; the bitmap dedups inside
    * the aggregation buffer (word-wise OR, map-side combinable), so
    * the expanded fact stream aggregates straight to node grain in
    * one pass. Applicable whenever the customer key is a bounded
    * dictionary id (`maxCustomer` sizes the bitmap; ≤ 2^26). Result
    * is bit-identical to the exact mode — the registry checks it
    * against h4's own oracle SQL.
    */
  def hierarchicalRollupBitmap(facts: DataFrame, aggDim: DataFrame,
      maxCustomer: Int, factKey: String = "leaf_key"): DataFrame = {
    val aggregated = expand(facts, aggDim, factKey)
      .groupBy("ancestor_node_sort_order")
      .agg(
        round(sum(col("sales_amount")), 2).as("sum_sales_amount"),
        round(sum(col("unit_quantity")), 2).as("sum_unit_quantity"),
        graft.functions.BitmapDistinctAggregate
          .bitmapDistinct(col("customer_id"), maxCustomer)
          .as("distinct_customer_count"),
        count(lit(1)).as("count_of_fact_records"))
    withLabels(aggregated, aggDim)
  }

  /** INCREMENTAL EXACT DISTINCT via a stored bitmap MV — the
    * classically-impossible MV: a distinct COUNT cannot fold a delta
    * (counts don't decompose over set union), which is why h9's
    * incremental rollup stores the (node, customer) grain and q51's
    * one-shot bitmap still needs the fact scan. A stored per-node
    * BITMAP decomposes perfectly: `new = old OR delta`. The MV is
    * node-grain (|nodes| rows × domain/8 bytes sparse-encoded), a
    * delta batch costs ONE delta-sized pass + a node-grain merge, and
    * the read-off count is always EXACT — no retraction bookkeeping,
    * because set union is idempotent and monotone (deletes need the
    * h9 signed-grain path; bitmaps cover the append-only ingest that
    * dominates at 100 TB).
    */
  def distinctMv(facts: DataFrame, aggDim: DataFrame, maxCustomer: Int,
      factKey: String = "leaf_key"): DataFrame =
    expand(facts, aggDim, factKey)
      .groupBy("ancestor_node_sort_order")
      .agg(graft.functions.BitmapDistinctAggregate
        .bitmapBuild(col("customer_id"), maxCustomer).as("customer_bitmap"))

  /** Fold a delta batch into a stored distinct MV: build the delta's
    * node-grain bitmaps, union with the store, OR-merge per node. */
  def mergeDistinctMv(mv: DataFrame, deltaFacts: DataFrame, aggDim: DataFrame,
      maxCustomer: Int, factKey: String = "leaf_key"): DataFrame =
    mv.unionByName(distinctMv(deltaFacts, aggDim, maxCustomer, factKey))
      .groupBy("ancestor_node_sort_order")
      .agg(graft.functions.BitmapDistinctAggregate
        .bitmapMerge(col("customer_bitmap"), maxCustomer).as("customer_bitmap"))

  /** Read the exact distinct counts off a stored distinct MV. */
  def readDistinctMv(mv: DataFrame): DataFrame =
    mv.select(col("ancestor_node_sort_order"),
      graft.functions.BitmapDistinctAggregate
        .bitmapCardinality(col("customer_bitmap"))
        .as("distinct_customer_count"))

  private def closureKeys(aggDim: DataFrame): DataFrame =
    aggDim.select(
      col("descendant_node_natural_key"),
      col("ancestor_node_sort_order"))

  /** The rollup's fact-side join: each `facts` row × every ancestor of
    * its `factKey` leaf, with the closure's own join strategy. */
  private def expand(facts: DataFrame, aggDim: DataFrame,
      factKey: String): DataFrame =
    facts.join(closureKeys(aggDim),
      col(factKey) === col("descendant_node_natural_key"))

  /** `agg` (keyed by ancestor_node_sort_order) with each node's
    * `lpad`-indented name, and with its level name when `withLevel`.
    * CONTRACT: aggDim must come from HierarchyDimension.aggregationDim
    * (or satisfy the same invariant): ancestor_node_sort_order is a
    * non-null row_number, unique per node, so it functionally
    * determines the label pair. The closure's self-pairs
    * (net_level = 0) are exactly one row per node — labels need no
    * distinct() shuffle.
    */
  private def labeled(agg: DataFrame, aggDim: DataFrame,
      withLevel: Boolean = false): DataFrame = {
    val indent = expr("lpad('-', (ancestor_level_number - 1) * 7, '-')")
    val labels = aggDim.filter(col("net_level") === 0).select(
      Seq(col("ancestor_node_sort_order"),
        concat(indent, col("ancestor_node_name")).as("product_node_name")) ++
        (if (withLevel)
          Seq(concat(indent, col("ancestor_level_name")).as("product_level_name"))
        else Nil): _*)
    agg.join(labels, Seq("ancestor_node_sort_order"))
  }

  /** HIERARCHY × FLAT-ATTRIBUTE CUBE (round 19): every hierarchy node
    * crossed with a flat dimension attribute — the drill-ACROSS
    * companion of the flagship rollup ("this node's subtotal, and its
    * per-segment breakdown, in one result"). The lattice is
    * GROUPING SETS ((node), (node, segment)): the global () cell is
    * dropped — it duplicates the root's ALL row.
    *
    * Scale shape: ONE fact shuffle to the finest OUTPUT grain
    * (leaf, segment); the closure expands ×depth without
    * moving facts; the rollup(node, segment) grouping-set aggregate
    * computes both grains additively from the pre-agg partials (no
    * distinct, no second fact pass — the Expand doubles the pre-agg
    * stream, which is dimension-sized, never the facts). Labels join
    * on the numeric sort order at the end (the h4 discipline).
    */
  def hierSegmentCube(facts: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key", segCol: String = "c_mktsegment"): DataFrame = {
    val pre = facts.groupBy(col(factKey), col(segCol))
      .agg(
        sum(col("sales_amount")).as("__sales"),
        sum(col("unit_quantity")).as("__qty"),
        count(lit(1)).as("__n"))
    // Column-overload rollup (the String* form trips Spark 4's
    // ambiguous-self-join detector after multi-joins); grouping_id
    // 0 = (node, seg), 1 = (node), 3 = the dropped global cell
    val agg = expand(pre, aggDim, factKey)
      .rollup(col("ancestor_node_sort_order"), col(segCol))
      .agg(
        grouping_id().as("__gid"),
        round(sum(col("__sales")), 2).as("sum_sales_amount"),
        round(sum(col("__qty")), 2).as("sum_unit_quantity"),
        sum(col("__n")).as("count_of_fact_records"))
      .filter(col("__gid") <= 1)
      // label via the grouping id, not coalesce: a detail cell whose
      // segment value is genuinely NULL (gid = 0) must not collide
      // with the (node) subtotal cell (gid = 1) — NULL segments print
      // as SQL's NULL string form in the detail rows
      .withColumn("segment",
        when(col("__gid") === 1, lit("ALL")).otherwise(col(segCol)))
    dfsOrdered(labeled(agg, aggDim), aggDim,
        col("ancestor_node_sort_order"), col("segment"))
      .select("product_node_name", "segment", "sum_sales_amount",
        "sum_unit_quantity", "count_of_fact_records")
  }

  /** Label join ([[labeled]]) + final DFS ordering. */
  private def withLabels(aggregated: DataFrame, aggDim: DataFrame): DataFrame =
    dfsOrdered(labeled(aggregated, aggDim, withLevel = true), aggDim,
        col("ancestor_node_sort_order"))
      .select("product_node_name", "product_level_name", "sum_sales_amount",
        "sum_unit_quantity", "distinct_customer_count", "count_of_fact_records")

  /** A labeled per-node readout in DFS order. For a dimension leveled in
    * one task ([[HierarchyDimension.leveledInOneTask]]) the readout has
    * at most `maxNodes` rows, so it finishes in one task: `coalesce(1)`
    * gives the sort a `SinglePartition` child, which meets its ordered
    * distribution, and Spark plans neither the range exchange nor its
    * sampling job. Any other dimension keeps the range-partitioned sort.
    */
  private def dfsOrdered(readout: DataFrame, aggDim: DataFrame,
      order: Column*): DataFrame =
    (if (HierarchyDimension.leveledInOneTask(aggDim)) readout.coalesce(1)
     else readout).orderBy(order: _*)

  /** Per-node TOP CONTRIBUTORS (h26): the k customers with the largest
    * subtree spend under EVERY hierarchy node — the drill-down "who
    * drives this subtotal" readout next to h17's percent-of-parent.
    *
    * Scale shape: the (leaf, customer) pre-agg is the one fact
    * shuffle (rollupMv's), the closure join broadcasts, the
    * (node, customer) aggregate lands on MV grain, and the per-node
    * top-k runs in [[graft.functions.TopKAggregate.topkRows]]'s
    * bounded heap — ≤ k entries per node cross the final exchange,
    * never the full customer list. Rank key `round(spend, 9)`
    * (cross-engine FP-tie convention), ties to the smaller customer.
    */
  def subtreeTopCustomers(facts: DataFrame, aggDim: DataFrame, k: Int = 3,
      factKey: String = "leaf_key"): DataFrame = {
    import graft.functions.TopKAggregate.topkRows
    val pair = facts.groupBy(col(factKey), col("customer_id"))
      .agg(sum(col("sales_amount")).as("__s"))
    val nodeCust = expand(pair, aggDim, factKey)
      .groupBy(col("ancestor_node_sort_order"), col("customer_id"))
      .agg(sum(col("__s")).as("spend"))
    val top = nodeCust.groupBy("ancestor_node_sort_order")
      .agg(topkRows(round(col("spend"), 9), col("customer_id"),
        struct(col("customer_id"), col("spend")), k).as("top"))
      .select(col("ancestor_node_sort_order"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("ancestor_node_sort_order"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.customer_id").as("customer_id"),
        round(col("t.spend"), 2).as("spend"))
    labeled(top, aggDim)
      .select(col("product_node_name"), col("rank"), col("customer_id"),
        col("spend"))
  }

  /** Per-node SUBTREE MEDIAN (h27): the exact median of a fact value
    * over every node's subtree — the robust central-tendency companion
    * to h4's sums (a few whale orders move a mean; the median tells
    * you what a TYPICAL order under this node looks like). Facts
    * expand through the broadcast closure, then
    * [[Olap.exactMedianByGroup]]'s histogram-rank pass computes each
    * node's median without materializing per-node value vectors —
    * the expanded stream pays group-keyed aggregates only.
    */
  def subtreeMedian(facts: DataFrame, aggDim: DataFrame,
      valueCol: String, factKey: String = "leaf_key"): DataFrame = {
    val med = Olap.exactMedianByGroup(expand(facts, aggDim, factKey),
      "ancestor_node_sort_order", valueCol)
    labeled(med, aggDim)
      .select(col("product_node_name"),
        round(col("med"), 6).as("median_value"))
  }

  /** Rollup MATERIALIZED VIEW at (ancestor node, customer) grain — the
    * incrementally-maintainable form of the exact rollup: sums/counts
    * are additive partials, and the exact distinct-customer count
    * reads off the grain itself (rows per node). The fact stream pays
    * ONE shuffle (the (leaf, customer) pre-agg with map-side combine),
    * expands ×depth through the closure join, then lands on MV grain.
    */
  def rollupMv(facts: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key", weight: Column = lit(1L)): DataFrame =
    rollupMvFromPairs(
      facts
        .groupBy(col(factKey), col("customer_id"))
        .agg(
          sum(col("sales_amount") * weight).as("mv_sales"),
          sum(col("unit_quantity") * weight).as("mv_qty"),
          // signed row weight, not count(): a retraction batch
          // (weight = -1) must SUBTRACT from the fact-record count, or
          // mv_n drifts upward and the mv_n != 0 zero-pair drop — which
          // keeps the distinct-customer read-off exact — never fires
          sum(weight).as("mv_n")),
      aggDim, factKey)

  /** The closure half of [[rollupMv]], public for EXTERNALLY-maintained
    * (leaf, customer)-grain pair stores: the durable streaming rollup
    * (st41) reads its exactly-once MvFold store off into exactly this
    * shape. `pairs` must carry (`factKey`, customer_id, mv_sales,
    * mv_qty, mv_n) — additive partials at pair grain. Dimension-sized
    * input expands ×depth through the closure; facts were already
    * collapsed upstream.
    */
  def rollupMvFromPairs(pairs: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key"): DataFrame =
    expand(pairs, aggDim, factKey)
      .groupBy(col("ancestor_node_sort_order"), col("customer_id"))
      .agg(
        sum(col("mv_sales")).as("mv_sales"),
        sum(col("mv_qty")).as("mv_qty"),
        sum(col("mv_n")).as("mv_n"))

  /** CONTRIBUTION analysis — each node's share of its PARENT's total
    * and of the grand total: the percent-of-parent / percent-of-total
    * companion of the flagship rollup, the numbers a drill-down UI
    * shows next to every subtotal (reference: main.py:27-56 computes
    * the subtotals; this derives the ratios between adjacent levels).
    *
    * Scale shape: facts pre-aggregate to leaf grain — ONE shuffle with
    * map-side combine, the only point where fact rows move — then the
    * closure (pre-enriched with node metadata, still dim-sized) joins
    * with the dimension's strategy and node totals land on |nodes|
    * cardinality WITH their labels/parent pointers already attached.
    * The parent lookup is a broadcast self-join of that dim-sized
    * aggregate via the parent pointer; its shuffle subtree is
    * byte-identical to the main branch's, so ReuseExchange schedules
    * the fact pre-agg once. The grand total (the SUM over roots —
    * forests supported) reads off a single-partition window over the
    * SAME |nodes|-sized frame instead of a separate aggregate branch
    * — bounded by the node count, never fact-sized. Ratios divide the
    * 2-dp-rounded totals (identical in any engine) and round to 6 dp;
    * a root's pct_of_parent is null.
    */
  def contributionRollup(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame = {
    val meta = dim.flaggedNodes.select(
      col("node_id"), col("node_name"), col("level_name"),
      col("parent_node_id"), col("is_root"))
    // dim × dim enrichment on the closure side: the fact stream sees
    // ONE closure join carrying ids and labels alike. A join result
    // carries no hint, so the dimension's strategy is applied to it.
    val enriched = dim.joinSide(closureIdKeys(dim.aggregationDim)
      .join(broadcast(meta), col("ancestor_node_id") === col("node_id")))
    val totals = facts
      .groupBy(col(factKey))
      .agg(sum(col("sales_amount")).as("__s"))
      .join(enriched, col(factKey) === col("descendant_node_natural_key"))
      .groupBy(col("ancestor_node_id"), col("node_name"), col("level_name"),
        col("parent_node_id"), col("is_root"))
      .agg(round(sum(col("__s")), 2).as("sum_sales_amount"))
    val parents = totals.select(col("ancestor_node_id").as("__pid"),
      col("sum_sales_amount").as("__psales"))
    // forests: the grand total is the SUM over roots; computed as an
    // unpartitioned window over the node-sized totals (safe — |nodes|
    // rows in one task, never facts) so no extra aggregate branch
    // re-plans the totals subtree
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    totals
      .join(broadcast(parents), col("parent_node_id") === col("__pid"), "left")
      .withColumn("__rsales",
        sum(when(col("is_root"), col("sum_sales_amount"))).over(wAll))
      .select(
        col("node_name"), col("level_name"), col("sum_sales_amount"),
        round(col("sum_sales_amount") / col("__psales"), 6).as("pct_of_parent"),
        round(col("sum_sales_amount") / col("__rsales"), 6).as("pct_of_total"))
  }

  /** Per-parent CONCENTRATION: for every internal node, how evenly
    * its direct children split the subtree measure — child count,
    * top-child share, and the Herfindahl index Σ(cᵢ/Σc)² (1 = one
    * child owns everything, 1/n = even split). The "is this rollup
    * level diversified" readout next to h17's percent-of-parent.
    *
    * FP discipline (the q64 convention): `facts` must carry exact
    * integer `cents` — node totals are then order-free Long sums
    * through the closure, the squares accumulate in DECIMAL(38,0)
    * (a region's cents² clears 10²² at sf0.1 — Long partials would
    * wrap), and the only doubles are the three final ratios, shaped
    * identically in the oracle. One fact pass; everything after the
    * closure join is node-grain.
    */
  def concentrationByParent(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame = {
    val (_, meta, kids) = centTotals(facts, dim, factKey)
    val g = kids.groupBy("parent_node_id")
      .agg(count(lit(1)).as("n_children"),
        sum(col("__c").cast("decimal(19,0)")).as("__s"),
        sum(col("__c").cast("decimal(19,0)") * col("__c")).as("__s2"),
        max(col("__c")).as("__m"))
    g.join(broadcast(meta.select(col("node_id").as("__pid"),
        col("node_name").as("parent_name"),
        col("level_name").as("parent_level"))),
        col("parent_node_id") === col("__pid"))
      .select(col("parent_name"), col("parent_level"), col("n_children"),
        round(col("__s").cast("double") / 100.0, 2).as("total_sales"),
        round(col("__m").cast("double") / col("__s").cast("double"), 6)
          .as("top_child_share"),
        round(col("__s2").cast("double")
          / (col("__s").cast("double") * col("__s").cast("double")), 6)
          .as("hhi"))
  }

  private def closureIdKeys(aggDim: DataFrame): DataFrame =
    aggDim.select(
      col("descendant_node_natural_key"),
      col("ancestor_node_id"))

  /** Exact integer-cent subtree totals (`facts` carries `cents`):
    * (node totals keyed by ancestor_node_id, the node metadata, and the
    * non-root nodes' totals joined to their metadata). One fact pre-agg
    * to leaf grain; everything after the closure join is node-grain.
    */
  private def centTotals(facts: DataFrame, dim: HierarchyDimension,
      factKey: String): (DataFrame, DataFrame, DataFrame) = {
    val totals = facts
      .groupBy(col(factKey)).agg(sum(col("cents")).as("__c"))
      .join(closureIdKeys(dim.aggregationDim),
        col(factKey) === col("descendant_node_natural_key"))
      .groupBy(col("ancestor_node_id")).agg(sum("__c").as("__c"))
    val meta = dim.flaggedNodes.select(col("node_id"), col("node_name"),
      col("level_name"), col("parent_node_id"))
    val kids = totals
      .join(broadcast(meta), col("ancestor_node_id") === col("node_id"))
      .filter(col("parent_node_id").isNotNull)
    (totals, meta, kids)
  }

  /** Per-node SIBLING RANK: every non-root node ranked among its
    * siblings by exact integer-cent subtree total (ties to the node
    * name), with its share of the parent's subtotal — h17's
    * percent-of-parent turned into the "which child leads this level"
    * ordering. One fact pre-agg + closure join → node-grain
    * totals; the rank window partitions by parent over the DIM-sized
    * frame; the parent total is a broadcast self-join of that frame.
    * Fact-free nodes carry no rows (h17's convention).
    */
  def siblingRank(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame = {
    val (totals, _, kids) = centTotals(facts, dim, factKey)
    val parentTot = totals.select(col("ancestor_node_id").as("__pid"),
      col("__c").as("__pc"))
    kids.join(broadcast(parentTot), col("parent_node_id") === col("__pid"))
      .withColumn("sibling_rank", row_number().over(
        Window.partitionBy("parent_node_id")
          .orderBy(col("__c").desc, col("node_name"))).cast("long"))
      .select(col("node_name"), col("level_name"), col("sibling_rank"),
        round(col("__c").cast("double") / 100.0, 2).as("subtree_sales"),
        round(col("__c").cast("double") / col("__pc").cast("double"), 6)
          .as("share_of_parent"))
  }

  /** Per-node SUBTREE STDDEV of order value — the dispersion companion
    * to h27's median (is this node's business uniform or whale-driven).
    * DECIMAL(38,0) moment sums of exact integer cents (a Long Σx²
    * wraps at ~10⁴ × today's fact count); the closed-form population
    * variance (n·Σx² − (Σx)²)/n² runs in doubles of exact decimals at
    * the oracle's parenthesization, and sqrt is IEEE exact-rounded.
    * One closure expansion, group-keyed aggregates only.
    */
  def subtreeStddev(facts: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key"): DataFrame = {
    val m = expand(facts, aggDim, factKey).groupBy("ancestor_node_sort_order")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sxx"))
    val nd = col("n_orders").cast("double")
    // clamp: the closed form can round a zero variance a hair negative
    // in doubles, and sqrt(-ε) is NaN; the oracle clamps identically
    val varCents = greatest(
      (nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) / (nd * nd),
      lit(0.0))
    labeled(m, aggDim)
      .select(col("product_node_name"), col("n_orders"),
        round(col("sx").cast("double") / nd / 100.0, 6).as("mean_value"),
        round(sqrt(varCents) / 100.0, 6).as("stddev_value"))
  }

  /** INCREMENTAL MAINTENANCE: fold a delta fact batch into an existing
    * MV. Only the delta pays the fact-side shuffle; the stored MV
    * re-aggregates at its own (≤ |nodes| × |customers|) grain — at
    * 100 TB that is the difference between shuffling a day's ingest
    * and recomputing the historical table. Deletions/corrections fold
    * in through `weight = lit(-1L)` with the ORIGINAL (un-negated)
    * fact rows: the weight signs sales, quantity AND the row count, so
    * a full retraction cancels its batch exactly (pairs zeroed on
    * every measure are dropped below).
    */
  def mergeRollupMv(mv: DataFrame, deltaFacts: DataFrame, aggDim: DataFrame,
      factKey: String = "leaf_key", weight: Column = lit(1L)): DataFrame =
    mv.unionByName(rollupMv(deltaFacts, aggDim, factKey, weight))
      .groupBy(col("ancestor_node_sort_order"), col("customer_id"))
      .agg(
        sum(col("mv_sales")).as("mv_sales"),
        sum(col("mv_qty")).as("mv_qty"),
        sum(col("mv_n")).as("mv_n"))
      // a retraction can zero out a (node, customer) pair; keeping the
      // empty row would overcount the distinct-customer read-off
      .filter(col("mv_n") =!= 0)

  /** MOVE-DRIVEN MV REPAIR with ZERO dimension rebuild — the h21 ∘
    * h16 composition: after a subtree reparent the invalidated
    * ancestors are derivable from the OLD closure alone (the
    * SYMMETRIC DIFFERENCE of the moved node's strict ancestors and
    * the new parent's ancestors — shared ancestors keep their
    * descendant sets and their MV rows), the new routing comes from
    * [[HierarchyDimension.moveSubtreeClosure]], and the recompute
    * reads the MV's own LEAF self-pair rows (a reparent never changes
    * a leaf's own partials), so neither the new dimension nor the
    * fact table is ever touched. `mv` must be id-grain with leaf
    * self-pairs present (the [[rollupMv]] closure shape) and carry
    * RAW (unrounded) partial sums — rounding happens at read-off,
    * never in stored partials, or re-aggregated cells drift from a
    * full recompute by accumulated rounding.
    *
    * Scale: three dim-sized closure slices, one dim-sized symmetric
    * difference, broadcast routing joins against the (dim-bounded) MV
    * — the 100 TB cost of a hierarchy edit is zero fact I/O.
    */
  def moveMvRepair(mv: DataFrame, closure: DataFrame,
      nodeId: String, newParentId: String,
      measures: Seq[String] = Seq("sum_raw", "count_of_fact_records")): DataFrame = {
    val strictAnc = closure.filter(col("descendant_node_id") === nodeId &&
        col("ancestor_node_id") =!= nodeId).select("ancestor_node_id")
    val ancNew = closure.filter(col("descendant_node_id") === newParentId)
      .select("ancestor_node_id")
    val sided = strictAnc.withColumn("__s", lit(1))
      .unionByName(ancNew.withColumn("__s", lit(2)))
    val invalidated = sided.groupBy("ancestor_node_id")
      .agg(min("__s").as("__mn"), max("__s").as("__mx"))
      .filter(col("__mn") === col("__mx"))
      .select("ancestor_node_id")
    // leaves = closure nodes ancestoring nothing but themselves
    val leafIds = closure.groupBy("ancestor_node_id")
      .agg(count(lit(1)).as("__n")).filter(col("__n") === 1)
      .select(col("ancestor_node_id").as("__leaf"))
    val leafRows = mv.join(broadcast(leafIds),
        col("ancestor_node_id") === col("__leaf"))
      .drop("__leaf").withColumnRenamed("ancestor_node_id", "__leaf_id")
    val routes = HierarchyDimension
      .moveSubtreeClosure(closure, nodeId, newParentId)
      .join(broadcast(invalidated), Seq("ancestor_node_id"))
    val fresh = leafRows.join(broadcast(routes),
        col("__leaf_id") === col("descendant_node_id"))
      .groupBy("ancestor_node_id")
      .agg(measures.map(m => sum(m).as(m)).head,
        measures.map(m => sum(m).as(m)).tail: _*)
    mv.join(broadcast(invalidated), Seq("ancestor_node_id"), "left_anti")
      .unionByName(fresh)
  }

  /** TARGETED MV REPAIR after a hierarchy edit: recompute ONLY the
    * ancestors whose descendant set changed, keep every other MV row.
    * [[HierarchyDimension.closureDiff]] names the invalidated
    * ancestors (a reparent touches the two affected subtree spines —
    * not the root, whose descendant set is unchanged); additionally,
    * a leaf whose NATURAL KEY changed between versions re-routes its
    * facts even though its node-id closure pairs are identical, so
    * every ancestor of such a leaf (in either version) is invalidated
    * too and its old partials are never reused.
    *
    * ZERO-FACT repair: the MV's leaf self-pair rows ARE the
    * (leaf, customer) pre-aggregate, and a hierarchy edit never
    * changes a surviving leaf's own partials — so invalidated
    * ancestors re-aggregate from MV LEAF ROWS routed through the new
    * closure. At 100 TB a reparent touches zero fact rows. Only
    * affected leaves with no reusable partials (new leaves,
    * natural-key edits) fall back to a leaf-filtered fact scan —
    * empty in the common case, where AQE's empty-relation propagation
    * eliminates the scan at runtime.
    *
    * Kept rows translate (old sort order → new sort order) through
    * one dim-sized broadcast mapping because the DFS numbering shifts
    * with the edit; their partials are reusable precisely because a
    * non-invalidated node's descendant set — and therefore its
    * (customer, partial) rows — is identical under both versions.
    * Output: an MV valid for `newDim`, result-identical to
    * `rollupMv(facts, newDim.aggregationDim)` (the h16 oracle is the
    * full-recompute SQL).
    *
    * PRECONDITION: facts key to LEAF natural keys (of either version)
    * — the star-schema contract. A fact keyed to a node that is
    * non-leaf in both versions has no reusable self-pair partial and
    * is outside this method's repair scope.
    */
  def repairRollupMv(mv: DataFrame, facts: DataFrame,
      oldDim: HierarchyDimension, newDim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame = {
    def leafKeys(dim: HierarchyDimension) =
      dim.flaggedNodes.filter(col("is_leaf"))
        .select(col("node_id"), col("node_natural_key"))
    // natural-key edits: closure pairs are node-id keyed and blind to
    // them — invalidate every ancestor of a re-keyed leaf in BOTH
    // versions (the leaf's self-pair included, dropping its stale row)
    val keyChanged = leafKeys(oldDim).as("o")
      .join(broadcast(leafKeys(newDim).as("n")),
        col("o.node_id") === col("n.node_id"))
      // null-SAFE inequality: a key changing NULL→value (or back)
      // re-routes facts exactly like any other re-key and must
      // invalidate; plain =!= evaluates to null and silently drops it
      .filter(!(col("o.node_natural_key") <=> col("n.node_natural_key")))
      .select(col("o.node_id").as("descendant_node_id"),
        col("n.node_natural_key").as("new_key"))
    val keyChangedAnc = oldDim.closurePairs.unionByName(newDim.closurePairs)
      .join(broadcast(keyChanged.select("descendant_node_id")),
        Seq("descendant_node_id"))
      .select("ancestor_node_id")
    // pair diff as ONE aggregation (pairs are unique per closure, so a
    // pair on one side only has min side = max side) — cheaper than a
    // full-outer join's two exchange+sort legs for this inline use;
    // h7's user-facing closureDiff keeps its richer labeled output
    // coalesce(1): both closures are single-partition narrow reads of
    // the cached leveling pass, and SinglePartition satisfies the
    // aggregation's distribution — the dim-sized control job runs as
    // one task instead of paying 32-partition exchanges per stage
    val sided = oldDim.closurePairs.withColumn("__side", lit(1))
      .unionByName(newDim.closurePairs.withColumn("__side", lit(2)))
      .coalesce(1)
    val diffAnc = sided.groupBy("ancestor_node_id", "descendant_node_id")
      .agg(min("__side").as("__mn"), max("__side").as("__mx"))
      .filter(col("__mn") === col("__mx"))
      .select("ancestor_node_id")
    // Control decisions stay DISTRIBUTED, as dim-grain frames — never
    // a driver collect: at the 100M-leaf dimension the leveling
    // fallback is built for, a leaf-grain collect is a driver OOM.
    // One pinned control frame feeds every consumer plan (Spark has
    // no cross-branch subplan reuse) and broadcasts into the repair
    // joins — control metadata flows executor-to-executor, never
    // through the driver. The one driver-side decision left is the
    // 1-row isEmpty probe below, which keeps an always-empty fact
    // branch out of the plan.
    // fallback CANDIDATES are the NEW closure's leaf keys — NOT
    // flaggedNodes: a leaf both versions flag is_leaf but the OLD
    // closure dropped (depth bound / cycle guard / missing parent)
    // never reached the MV, so when the new closure includes it its
    // facts must scan; conversely a leaf the NEW closure dropped has
    // no pairs to repair and must never schedule the scan. Old-GRAIN
    // keys likewise come from the closure, not flaggedNodes, so a
    // dropped leaf's key cannot mask a fallback candidate.
    def grainKeys(dim: HierarchyDimension) = dim.aggregationDim
      .filter(col("net_level") === 0 && col("ancestor_is_leaf"))
      .select(col("descendant_node_natural_key").as("aff_key"))
    // The left-anti against the old grain leaves exactly the keys with
    // no reusable partials (a key SWAP between two leaves flags
    // candidates whose keys all retain old partials; the subtraction
    // must exclude them or the scan both runs for nothing and would
    // double-count against the reused partials). Null candidate keys
    // drop first: a null natural key can never match a fact's join
    // key, so scanning for it would be pure waste.
    val missingKeys = grainKeys(newDim).filter(col("aff_key").isNotNull)
      .join(grainKeys(oldDim), Seq("aff_key"), "left_anti")
    // ONE control frame serves both decisions (each feeds >1 consumer
    // plan and Spark has no cross-branch subplan reuse without it): a
    // tagged union, distinct per side, pinned by a LAZY localCheckpoint
    // — computed once by the isEmpty probe below, then read back by
    // every consumer plan; the only eager work is that 1-row probe,
    // the same single control job the collect-based form paid, minus
    // the collect. Lazy checkpoint, NOT cache(): each repair call
    // builds a distinct plan, so CacheManager dedup would never apply
    // and a long-lived maintenance session would accumulate one pinned
    // frame per repair — the checkpointed partitions are GC-owned and
    // release with the frame.
    val nullId = lit(null).cast(
      oldDim.flaggedNodes.schema("node_id").dataType)
    val nullKey = lit(null).cast(
      oldDim.flaggedNodes.schema("node_natural_key").dataType)
    val control = diffAnc.unionByName(keyChangedAnc)
      .select(col("ancestor_node_id").as("id"), nullKey.as("key"),
        lit("anc").as("kind"))
      .unionByName(missingKeys
        .select(nullId.as("id"), col("aff_key").as("key"),
          lit("miss").as("kind")))
      .distinct()
      .localCheckpoint(false)
    val invalidated = control.filter(col("kind") === "anc")
      .select(col("id").as("ancestor_node_id"))
    val missingKeysDf = control.filter(col("kind") === "miss")
      .select(col("key").as("aff_key"))
    val haveMissing = !missingKeysDf.isEmpty
    def idsOf(dim: HierarchyDimension, ordAs: String) =
      dim.aggregationDim.filter(col("net_level") === 0)
        .select(col("ancestor_node_sort_order").as(ordAs),
          col("ancestor_node_id"))
    // survivors: every MV row whose node is NOT invalidated, re-keyed
    // to the new DFS numbering through ONE dim-sized mapping, joined
    // with the new dimension's strategy (removed nodes drop at the
    // new-ids join)
    val translation = newDim.joinSide(idsOf(oldDim, "ancestor_node_sort_order")
      .join(idsOf(newDim, "new_ord"), Seq("ancestor_node_id"))
      .join(broadcast(invalidated), Seq("ancestor_node_id"), "left_anti")
      .select("ancestor_node_sort_order", "new_ord"))
    val kept = mv
      .join(translation, Seq("ancestor_node_sort_order"))
      .select(col("new_ord").as("ancestor_node_sort_order"),
        col("customer_id"), col("mv_sales"), col("mv_qty"), col("mv_n"))
    // the NEW closure restricted to invalidated ancestors, joined with
    // the new dimension's strategy
    val repairClosure = newDim.joinSide(newDim.aggregationDim
      .join(broadcast(invalidated), Seq("ancestor_node_id")))
    // reusable leaf partials: the old MV's leaf self-pair rows, keyed
    // by the leaf's natural key (a re-keyed leaf's OLD key no longer
    // matches the new closure, so its stale partials self-exclude)
    val oldLeafMeta = oldDim.aggregationDim
      .filter(col("net_level") === 0 && col("ancestor_is_leaf"))
      .select(col("ancestor_node_sort_order"),
        col("descendant_node_natural_key").as("leaf_key_mv"))
    val mvLeaf = mv
      .join(oldLeafMeta, Seq("ancestor_node_sort_order"))
      .select(col("leaf_key_mv"), col("customer_id"),
        col("mv_sales"), col("mv_qty"), col("mv_n"))
    val repairedFromMv = expand(mvLeaf, repairClosure, "leaf_key_mv")
      .groupBy(col("ancestor_node_sort_order"), col("customer_id"))
      .agg(sum("mv_sales").as("mv_sales"), sum("mv_qty").as("mv_qty"),
        sum("mv_n").as("mv_n"))
    // fact fallback ONLY for leaves whose partials cannot live in the
    // old MV grain — gated on the 1-row isEmpty probe: including an
    // always-empty fact branch in the plan is not free (AQE schedules
    // the fact scan's leaf stages concurrently with the broadcast that
    // would prove them unnecessary).
    val repaired = if (!haveMissing) repairedFromMv else {
      val factsForMissing = facts
        .join(broadcast(missingKeysDf), col(factKey) === col("aff_key"))
        .drop("aff_key")
      // an ancestor can aggregate both reused and fact-derived leaves
      // — merge at MV grain (dim × customers sized)
      repairedFromMv.unionByName(rollupMv(factsForMissing, repairClosure, factKey))
        .groupBy(col("ancestor_node_sort_order"), col("customer_id"))
        .agg(sum("mv_sales").as("mv_sales"), sum("mv_qty").as("mv_qty"),
          sum("mv_n").as("mv_n"))
    }
    kept.unionByName(repaired)
  }

  /** HISTORY-CORRECT rollup: route every fact through the hierarchy
    * version live AT ITS OWN DATE — the slowly-changing-rollup.
    *
    * Input contracts:
    *   - `facts` carries `leafIdCol` (the leaf NODE ID — distinct
    *     from [[rollupMv]]'s natural-key contract), `dateCol`, and the
    *     measure columns `sales_amount` / `unit_quantity`;
    *   - `closures` is [[HierarchyDimension.historyClosure]] output:
    *     `ancestor_node_id`, `descendant_node_id`, and the validity
    *     window columns (one row per pair per validity window).
    *     `leafIdCol` must differ from "descendant_node_id" or the
    *     join condition is ambiguous — alias the fact column.
    *
    * Scale shape: facts pre-aggregate to (leaf, date) grain — ONE
    * shuffle with map-side combine, cardinality |leaves| × |dates| —
    * then the dim-sized closure union joins as it comes (a stored
    * closure, like the registry's, is sized by Spark's statistics; a
    * caller hints it otherwise), the window predicate picking each
    * row's version.
    */
  def historyRollup(facts: DataFrame, closures: DataFrame,
      leafIdCol: String, dateCol: String,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    facts
      .groupBy(col(leafIdCol), col(dateCol))
      .agg(sum("sales_amount").as("__s"), sum("unit_quantity").as("__q"),
        count(lit(1)).as("__n"))
      .join(closures,
        col("descendant_node_id") === col(leafIdCol) &&
          col(dateCol) >= col(validFrom) && col(dateCol) < col(validTo))
      .groupBy("ancestor_node_id")
      .agg(round(sum("__s"), 2).as("sum_sales_amount"),
        round(sum("__q"), 2).as("sum_unit_quantity"),
        sum("__n").as("count_of_fact_records"))

  /** Serve the reference-shaped rollup from the MV: a |nodes|-sized
    * aggregate (distinct customers = count of MV rows per node) plus
    * the label join. Identical output to the exact
    * [[hierarchicalRollup]] — h9's oracle is the full-recompute SQL.
    */
  def finalizeRollup(mv: DataFrame, aggDim: DataFrame): DataFrame = {
    val aggregated = mv
      .groupBy("ancestor_node_sort_order")
      .agg(
        round(sum(col("mv_sales")), 2).as("sum_sales_amount"),
        round(sum(col("mv_qty")), 2).as("sum_unit_quantity"),
        count(col("customer_id")).as("distinct_customer_count"),
        sum(col("mv_n")).as("count_of_fact_records"))
    withLabels(aggregated, aggDim)
  }

  /** WHAT-IF delta report for a hierarchy edit: which rollup rows
    * change, and by how much, if the dimension moves from `oldDim` to
    * `newDim` — the impact preview an analyst reads BEFORE committing
    * a reorg. One row per node whose totals differ under the two
    * versions (old/new/delta sales, plus qty, exact distinct
    * customers and fact counts); unaffected nodes are absent.
    *
    * Both inputs are MVs at (node, customer) grain — the stored view
    * and its [[repairRollupMv]] what-if repair — so the whole report
    * aggregates MV-grain rows (|nodes| × |customers| cardinality,
    * never facts; with the zero-fact repair path the full what-if
    * touches no fact rows at 100 TB). Each side translates sort order
    * → node identity through its own dim-sized map (sort
    * orders are NOT comparable across versions — the DFS numbering
    * shifts with the edit), then BOTH sides union under a version tag
    * and aggregate ONCE: a single shuffle on node_id with the per-side
    * measures read off conditionally, instead of two aggregate
    * branches full-outer-joined.
    */
  def whatIfDelta(oldMv: DataFrame, newMv: DataFrame,
      oldDim: HierarchyDimension, newDim: HierarchyDimension): DataFrame = {
    def tagged(mv: DataFrame, dim: HierarchyDimension, tag: String) = {
      val nodeMap = dim.aggregationDim.select(
        col("ancestor_node_sort_order"), col("ancestor_node_id").as("node_id"),
        col("ancestor_node_name").as("__name")).distinct()
      mv.join(nodeMap, Seq("ancestor_node_sort_order"))
        .select(col("node_id"), col("__name"), col("customer_id"),
          col("mv_sales"), col("mv_qty"), col("mv_n"), lit(tag).as("__v"))
    }
    def side(tag: String, c: Column) = when(col("__v") === tag, c)
    // per-side totals as conditional aggregates over the tagged union:
    // a node absent on one side aggregates empty → null → coalesced to
    // zero, exactly the old full-outer-join null semantics
    def sales(t: String) =
      coalesce(round(sum(side(t, col("mv_sales"))), 2), lit(0.0))
    def qty(t: String) =
      coalesce(round(sum(side(t, col("mv_qty"))), 2), lit(0.0))
    tagged(oldMv, oldDim, "old")
      .unionByName(tagged(newMv, newDim, "new"))
      .groupBy("node_id")
      .agg(
        coalesce(max(side("new", col("__name"))),
          max(side("old", col("__name")))).as("node_name"),
        sales("old").as("old_sales"), sales("new").as("new_sales"),
        round(sales("new") - sales("old"), 2).as("delta_sales"),
        qty("old").as("old_qty"), qty("new").as("new_qty"),
        count(side("old", col("customer_id"))).as("old_customers"),
        count(side("new", col("customer_id"))).as("new_customers"),
        coalesce(sum(side("old", col("mv_n"))), lit(0L)).as("old_facts"),
        coalesce(sum(side("new", col("mv_n"))), lit(0L)).as("new_facts"))
      .filter(col("old_sales") =!= col("new_sales") ||
        col("old_qty") =!= col("new_qty") ||
        col("old_customers") =!= col("new_customers") ||
        col("old_facts") =!= col("new_facts"))
      .select("node_id", "node_name", "old_sales", "new_sales",
        "delta_sales", "old_qty", "new_qty", "old_customers",
        "new_customers", "old_facts", "new_facts")
  }

  /** LOWEST COMMON ANCESTOR of every leaf pair, from the closure —
    * the hierarchy-distance lookup every "how related are these two
    * things" analysis needs (org units, product categories,
    * geo rollups). Two leaves' common ancestors form a chain, so the
    * LCA is simply their shared ancestor with the maximum level:
    * self-join the leaf rows of the closure ON THE ANCESTOR KEY and
    * take the per-pair max-level row — closure algebra only, no tree
    * walk, no recursion.
    *
    * Scale shape: this is a DIMENSION-side op. The join is keyed on
    * ancestor_node_id; fanout is Σ_anc |leaves(anc)|² — quadratic in
    * leaves-under-root, fine for dimension tables (10⁴ nodes), never
    * to be pointed at facts. Fact pairs join their leaf keys to THIS
    * result instead (it is exactly the leaf-pair → LCA lookup).
    * Ancestors-per-leaf is depth-bounded, so the pre-join frame is
    * |leaves| × depth.
    */
  def lcaPairs(aggDim: DataFrame): DataFrame = {
    val leaves = aggDim.filter(col("descendant_is_leaf"))
      .select(col("descendant_node_id").as("leaf"),
        col("ancestor_node_id").as("anc"),
        col("ancestor_node_name").as("aname"),
        col("ancestor_level_number").as("alvl"))
    val a = leaves.select(col("leaf").as("leaf_a"), col("anc"),
      col("aname"), col("alvl"))
    val b = leaves.select(col("leaf").as("leaf_b"), col("anc"))
    a.join(b, Seq("anc"))
      .filter(col("leaf_a") < col("leaf_b"))
      .groupBy("leaf_a", "leaf_b")
      // common ancestors are a chain: max level IS the LCA, no ties
      .agg(
        max_by(col("anc"), col("alvl")).as("lca_node_id"),
        max_by(col("aname"), col("alvl")).as("lca_node_name"),
        max(col("alvl")).cast("long").as("lca_level"))
      .select("leaf_a", "leaf_b", "lca_node_id", "lca_node_name", "lca_level")
  }
}
