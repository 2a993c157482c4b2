package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Core OLAP operator family (SURVEY.md §2.B) over the TPC-H-ish
  * testdata, each with a DuckDB oracle.
  *
  * Numeric-parity rules (SURVEY.md §6): double aggregates are rounded
  * (2 dp where the true decimal value is exact at 2 dp, 4–6 dp for
  * derived measures) in BOTH engines; raw doubles pass through
  * untouched (bit-identical in parquet); every top-k carries a total
  * order.
  */
object OlapQueries {

  private val cutoff = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 pricing summary: the canonical multi-aggregate scan.
    // 100 TB shape: pure scan + partial agg on 6-value key space — no
    // meaningful shuffle; whole-stage codegen end to end.
    "q1_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // Predicate + projection pushdown: filters and the 4-column read
    // schema must reach the parquet scan (verified in specs via
    // explain: PushedFilters / ReadSchema).
    "q2_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_revenue"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
    }),

    // TPC-H Q3-style: 3-way join + agg + ordered top-k. The customer
    // filter shrinks the build side; orders⨝lineitem shuffles on the
    // orderkey; final top-k is TakeOrdered (no global sort).
    "q3_join_agg" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1997-06-30 00:00:00")))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Dim-chain broadcast join: region and nation are broadcast; the
    // (large) customer side never shuffles for the join.
    "q4_broadcast_join" -> ((s, d) => {
      val r = Tables.region(s, d)
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("num_customers"),
          round(sum("c_acctbal"), 2).as("total_acctbal"))
    }),

    // Deterministic top-k: orderBy+limit plans as TakeOrderedAndProject
    // (per-partition heaps + driver merge, no full sort shuffle).
    "q5_sort_limit" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    }),

    // Exact distinct counts, incl. multi-column distinct.
    "q6_distinct" -> ((s, d) => {
      // pre-aggregate the fact stream to distinct (part, supp) pairs
      // FIRST (one shuffle, map-side combine): the three distincts and
      // the total all read off the pair grain, so the multi-distinct
      // Expand (×3 row blowup) runs over |pairs|, not |facts| — at
      // 100 TB the difference between expanding a bounded key domain
      // and tripling the table
      Tables.lineitem(s, d)
        .groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("n"))
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          // count only fully-non-null pairs, like the replaced
          // countDistinct(a, b) (which skips rows with any null key)
          count(when(col("l_partkey").isNotNull &&
            col("l_suppkey").isNotNull, 1)).as("distinct_part_supp"),
          // COUNT(*) semantics on empty input: 0, never null
          coalesce(sum("n"), lit(0L)).as("total_rows"))
    }),

    // Window functions: ranking, lag, running sum — all over one
    // partition-by-customer shuffle, single window spec reused.
    "q7_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("prev_price", round(lag("o_totalprice", 1).over(w), 2))
        .withColumn("running_total",
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .select("o_custkey", "o_orderkey", "rn", "rnk", "prev_price", "running_total")
    }),

    // ROLLUP subtotal lattice over the dim chain.
    "q8_rollup" -> ((s, d) => {
      val r = Tables.region(s, d)
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        // note: rollup(String*) trips Spark 4's ambiguous-self-join
        // detector after multi-joins; the Column overload does not
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("num_customers"),
          round(sum("c_acctbal"), 2).as("total_acctbal"))
        .select(
          coalesce(col("r_name"), lit("(all)")).as("region_name"),
          coalesce(col("n_name"), lit("(all)")).as("nation_name"),
          col("num_customers"), col("total_acctbal"))
    }),

    // CUBE over two independent dimensions.
    "q9_cube" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      val o = Tables.orders(s, d).select("o_custkey", "o_orderpriority", "o_totalprice")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select("c_mktsegment", "o_orderpriority", "o_totalprice")
        .cube(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("num_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .select(
          coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("num_orders"), col("total_price"))
    }),

    // EXISTS / NOT EXISTS as left-semi / left-anti joins.
    "q10_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey")
      val o = Tables.orders(s, d).select("o_custkey")
      val has = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(lit("has_orders").as("tag"), col("c_custkey"))
      val not = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(lit("no_orders").as("tag"), col("c_custkey"))
      has.unionByName(not)
    }),

    // UNION / INTERSECT / EXCEPT (distinct set semantics).
    "q11_setops" -> ((s, d) => {
      val cn = Tables.customer(s, d).select(col("c_nationkey").as("k")).distinct()
      val sn = Tables.supplier(s, d).select(col("s_nationkey").as("k")).distinct()
      cn.union(sn).distinct().select(lit("union").as("tag"), col("k"))
        .unionByName(cn.intersect(sn).select(lit("intersect").as("tag"), col("k")))
        .unionByName(cn.except(sn).select(lit("except").as("tag"), col("k")))
    }),

    // Conditional (CASE-based) aggregation.
    "q12_conditional_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(sum(when(col("l_quantity") > 25, col("l_extendedprice")).otherwise(lit(0.0))), 2).as("rev_bulk"),
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice") * col("l_discount")).otherwise(lit(0.0))), 4).as("rev_discounted"),
          sum(when(col("l_tax") > 0.04, 1L).otherwise(0L)).as("n_taxed"),
          count(lit(1)).as("n_rows"))
    }),

    // Post-aggregation filter (HAVING).
    "q13_having" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .filter(col("sum_qty") > 100)
    }),

    // Scalar-subquery comparison (above-average filter), decorrelated
    // by Catalyst into a broadcast of the 1-row aggregate.
    "q14_subquery" -> ((s, d) => {
      val p = Tables.part(s, d)
      val avgPrice = p.agg(avg("p_retailprice").as("__avg"))
      p.join(broadcast(avgPrice))
        .filter(col("p_retailprice") > col("__avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    }),

    // Pivot to wide on fixed pivot values (counts per nation×segment).
    "q15_pivot" -> ((s, d) => {
      val segs = HierarchyAgg.segments
      val pivoted = Tables.customer(s, d)
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      segs.foldLeft(pivoted) { (df, seg) =>
        df.withColumn(seg, coalesce(col(s"`$seg`"), lit(0L)))
      }
    }),

    // DYNAMIC pivot: the column set is DISCOVERED in a first pass over
    // the pivot column (the two-pass form users reach for when the
    // value domain isn't known up front), then pivoted exactly as q15.
    // The discovery collect is pivot-domain-sized BY DEFINITION — a
    // pivot's output schema must fit a relation, so the domain is
    // dim-sized even at 100 TB facts (and the scan reads the one
    // column, pruned). Values are sorted for a deterministic schema.
    "q36_dynamic_pivot" -> ((s, d) =>
      Olap.dynamicPivot(
        Tables.orders(s, d).select("o_custkey", "o_orderpriority", "o_totalprice")
          .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey")),
        groupCols = Seq("c_mktsegment"), pivotCol = "o_orderpriority",
        agg = round(sum("o_totalprice"), 2), fill = Some(lit(0.0)))),

    // Exact interpolated percentiles (= DuckDB quantile_cont). One
    // array-percentile aggregate per column: a scalar call per
    // quantile would build three separate value buffers.
    "q16_percentile" -> ((s, d) => {
      // EXACT percentiles, 100 TB shape. Two rejected forms: Spark's
      // percentile() materializes a per-group map of every distinct
      // value (billions of doubles per flag at 100 TB — an
      // executor-memory cliff), and a per-group row_number window
      // sorts EACH WHOLE GROUP in one task (3 return flags → 3 tasks
      // owning tens of millions of rows each at scale). Two-phase
      // range-partitioned rank instead:
      //   1. a per-(group, value-bucket) histogram — one distributed
      //      aggregate over the scan;
      //   2. cumulative bucket counts (histogram-sized) locate the
      //      bucket holding each target rank and its global rank base;
      //   3. ONLY those buckets are sorted, in a window partitioned
      //      by (group, bucket) — each partition is one integer
      //      price's ties, never a whole group.
      // Interpolation at pos = (n-1)*p is percentile's own formula
      // (= DuckDB quantile_cont). l_quantity has 50 distinct values,
      // so its median reads off a frequency-weighted pre-agg (a
      // 150-row percentile input).
      val li = Tables.lineitem(s, d)
      // percentile() ignores nulls — so must the rank arithmetic:
      // null prices would otherwise rank first and shift every target
      // position by the null count
      val priced = li.filter(col("l_extendedprice").isNotNull)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val targets = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)
      // phase 1: an integer-granularity VALUE histogram — bucket =
      // floor(price). Its cardinality is bounded by the price DOMAIN
      // (~100k distinct integer prices), not the row count, so the
      // histogram is a distributed shuffle aggregate whose output
      // stays dim-sized at any SF. Monotone in v, equal values share
      // a bucket → global order = (bucket, within-bucket order).
      // (For a genuinely unbounded domain, swap floor() for
      // approx_percentile range splitters — same downstream shape.)
      val bucketed = priced.withColumn("bucket", floor(col("v")).cast("long"))
      val hist = bucketed.groupBy("l_returnflag", "bucket")
        .agg(count(lit(1)).as("bn"))
      // phase 2, FUSED: one histogram-sized window stage computes BOTH
      // the cumulative rank base and the per-group total (same
      // partitioning, one exchange), so every target position/lo/hi is
      // derivable per histogram row inline — no separate group-total
      // aggregate, no exploded target-rank frame, no second broadcast.
      // These are the only per-group-only windows in the plan, and
      // they run over domain-bounded histogram rows.
      val wCum = Window.partitionBy("l_returnflag").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("l_returnflag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = targets.foldLeft(
          hist.withColumn("cum_before",
              coalesce(sum("bn").over(wCum), lit(0L)))
            .withColumn("n", sum("bn").over(wAll))) {
        case (df, (nm, p)) =>
          df.withColumn(s"${nm}_pos", (col("n") - 1) * lit(p))
            .withColumn(s"${nm}_lo", floor(col(s"${nm}_pos")))
            .withColumn(s"${nm}_hi", ceil(col(s"${nm}_pos")))
      }
      // a bucket is HOT when any target rank lands inside it; hot rows
      // carry their rank base AND the group's target positions, so the
      // fact-side join below needs only THIS one broadcast
      def inBucket(c: String) =
        col(c) >= col("cum_before") && col(c) < col("cum_before") + col("bn")
      val hot = cum.filter(targets.map { case (nm, _) =>
        inBucket(s"${nm}_lo") || inBucket(s"${nm}_hi") }.reduce(_ || _))
        .drop("bn", "n")
      // phase 3: global rank = bucket's rank base + within-bucket
      // row_number, computed ONLY for the ≤6 hot buckets per group
      val wLocal = Window.partitionBy("l_returnflag", "bucket").orderBy("v")
      val needed = bucketed.join(broadcast(hot), Seq("l_returnflag", "bucket"))
        .withColumn("rn",
          col("cum_before") + row_number().over(wLocal).cast("long") - 1)
        .filter(targets.map { case (nm, _) =>
          col("rn") === col(s"${nm}_lo") || col("rn") === col(s"${nm}_hi")
        }.reduce(_ || _))
      val pcols = targets.map { case (nm, _) =>
        val lo = max(when(col("rn") === col(s"${nm}_lo"), col("v")))
        val hi = max(when(col("rn") === col(s"${nm}_hi"), col("v")))
        round(lo + (hi - lo) * max(col(s"${nm}_pos") - col(s"${nm}_lo")), 6)
          .as(nm)
      }
      // qty median: percentile()'s per-group state is a value→count
      // map bounded by DISTINCT values — l_quantity's 50-value domain
      // keeps it tiny at any SF, so the direct aggregate (ONE shuffle
      // of ≤50-entry partial maps with map-side merge) replaces the
      // old two-shuffle frequency pre-agg. It runs over ALL lineitems
      // and ignores nulls, so its group list IS the full flag set —
      // a group whose every price is null still emits a row
      // (quantile_cont → NULL) via the left join below, with no
      // separate distinct-groups scan.
      val qty = li.groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5D)"), 6).as("median_qty"))
      qty
        .join(needed.groupBy("l_returnflag").agg(pcols.head, pcols.tail: _*),
          Seq("l_returnflag"), "left")
        .select("l_returnflag", "p25", "p50", "p75", "median_qty")
    }),

    // Explicit GROUPING SETS (finer than rollup/cube): chosen lattice
    // cells only.
    "q18_grouping_sets" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n_orders"), col("total_price"))
    }),

    // Semi-structured extraction: JSON props column → typed value.
    "q19_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          max("k").as("max_k"), min("k").as("min_k"))
    }),

    // As-of join: each event matched to the user's most recent order
    // at event time. Runs on the NATIVE sort-merge as-of operator
    // (graft.plans.AsOfJoin: custom LogicalPlan/Strategy/Exec, linear
    // merge — no pair blow-up); Olap.asofJoin is the compositional
    // fallback with identical semantics (equality proven in specs).
    "q21_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      graft.plans.AsOfJoin.asofJoinNative(ev, o, "user_id", "o_custkey", "ts", "o_orderdate",
          "o_orderkey")
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("asof_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_orderdate"),
          col("o_totalprice").as("asof_totalprice"))
    }),

    // POINT-IN-TIME lookup — the query side of q34's SCD2 story: each
    // purchase event reads the user's state as of purchase time (most
    // recent prior state-change event), on the NATIVE as-of operator.
    // As-of against the change log ≡ interval join against the SCD2
    // dim; the as-of form needs no interval materialization.
    "q35_point_in_time" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val states = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id").as("state_event_id"),
          col("user_id").as("s_user_id"),
          col("ts").as("state_ts"), col("event_type").as("state"))
      graft.plans.AsOfJoin.asofJoinNative(purchases, states,
          "user_id", "s_user_id", "purchase_ts", "state_ts", "state_event_id")
        .select(col("purchase_id"), col("user_id"),
          col("state").as("asof_state"),
          col("state_event_id").as("asof_state_event_id"))
    }),

    // Approximate sketches (HLL distinct + quantile sketch) next to
    // their exact twins — the 100 TB path for q6/q16-style questions.
    // DRIVER-CHECKED via the q42 regime-pin pattern: accuracy 10⁶ ≥
    // any gate group size makes the GK summary's rank error
    // n/accuracy < 1 — the sketch returns EXACTLY its target-rank
    // element, independent of partial-merge order, so the quantile
    // column has a real SQL oracle. (At 10⁰⁰-row scale you'd dial
    // accuracy back down and accept the documented rank error — the
    // operator is the same code path either way.) The HLL distinct
    // count has no exact regime but IS merge-order-independent
    // (register maxima commute over a fixed hash), so its three
    // values are committed-digest-checked like the codec family.
    "q20_approx_sketch" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000000)).as("approx_median"))
        // exact twins live in q6/q16; specs assert the error bounds
    }),

    // Full outer join of two aggregated sides (nations with customers
    // but no suppliers and vice versa survive with nulls → coalesced).
    "q23_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      val sup = Tables.supplier(s, d).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
    }),

    // RANGE-frame window: per customer, orders within the trailing 30
    // days of each order (event-time range, not row count).
    "q24_range_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_epoch"))
        .rangeBetween(-30L * 86400, 0)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 200)
        // NTZ → TZ (session tz is UTC) → epoch seconds; ANSI blocks a
        // direct NTZ→long cast
        .withColumn("o_epoch", col("o_orderdate").cast("timestamp").cast("long"))
        .withColumn("n_trailing_30d", count(lit(1)).over(w))
        .withColumn("sum_trailing_30d", round(sum("o_totalprice").over(w), 4))
        .select("o_custkey", "o_orderkey", "n_trailing_30d", "sum_trailing_30d")
    }),

    // Null semantics: counts / distinct / null-safe equality over a
    // column with injected nulls.
    "q25_null_semantics" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("prio", nullif(col("o_orderpriority"), lit("1-URGENT")))
      o.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n_rows"),
        count(col("prio")).as("n_nonnull"),
        countDistinct(col("prio")).as("n_distinct_nonnull"),
        sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_nulls"),
        sum(when(col("prio") <=> lit("3-MEDIUM"), 1L).otherwise(0L)).as("n_medium_nullsafe"))
    }),

    // Remaining ranking family: ntile / percent_rank / cume_dist /
    // dense_rank over a totally-ordered window.
    "q27_rank_family" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 300)
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .select("o_orderpriority", "o_orderkey", "quartile", "pr", "cd", "drnk")
    }),

    // Correlated LATERAL subquery: per-customer top-2 orders by price
    // — the "top-n per row without a window over everything" SQL
    // surface. Spark decorrelates the ORDER BY + LIMIT lateral into a
    // ranked join; `parquet.`-literal tables keep the query
    // self-contained (no temp-view registration).
    "q28_lateral" -> ((s, d) => {
      s.sql(
        s"""SELECT c.c_custkey, t.o_orderkey AS top_orderkey,
                   t.o_totalprice AS top_totalprice
            FROM parquet.`$d/customer.parquet` c,
            LATERAL (SELECT o_orderkey, o_totalprice
                     FROM parquet.`$d/orders.parquet` o
                     WHERE o.o_custkey = c.c_custkey
                     ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
            WHERE c.c_mktsegment = 'BUILDING'""")
    }),

    // UNPIVOT / melt: wide per-flag measures back to long
    // (measure, value) rows — the inverse surface of q15_pivot.
    // Narrow per-row transform after a tiny aggregate; no extra
    // shuffle beyond the groupBy.
    "q29_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(sum("l_discount"), 2).as("sum_disc"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
    }),

    // Non-equi BAND join: facts against a tiny literal range dimension
    // (quantity bands). Plans as a broadcast nested-loop join — with a
    // broadcast side of 4 rows each fact row evaluates ≤4 range
    // predicates, the right 100 TB shape for static band tables (for
    // large interval dims you bucket the ranges instead; see
    // Olap.asofJoin for the ordered variant).
    "q30_band_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(
        ("q00_10", 0.0, 10.0), ("q10_25", 10.0, 25.0),
        ("q25_40", 25.0, 40.0), ("q40_60", 40.0, 60.0))
        .toDF("band", "lo", "hi")
      Tables.lineitem(s, d)
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("revenue"))
    }),

    // Ordered funnel: users converting view → click (after the first
    // view) → purchase (after that click). Each stage is a per-user
    // min-aggregate then an equi-join on user_id — stage N's frame is
    // a strict subset of stage N-1's, so the joins shrink monotonically
    // and everything shuffles on the high-cardinality user key.
    "q31_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("first_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("first_view"))
        .groupBy("user_id").agg(min("ts").as("first_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("first_click"))
        .groupBy("user_id").agg(min("ts").as("first_purchase"))
      v.select(lit("1_view").as("stage"), col("user_id"))
        .unionByName(c.select(lit("2_click").as("stage"), col("user_id")))
        .unionByName(p.select(lit("3_purchase").as("stage"), col("user_id")))
        .groupBy("stage").agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Cohort retention: users grouped by first-active day, counted per
    // day-offset of later activity — the standard retention triangle.
    // Activity first collapses to distinct (user, day) grain, so the
    // offset join fans out per active-day not per event.
    "q32_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val act = ev.distinct()
      val first = act.groupBy("user_id").agg(min("day").as("cohort_day"))
      act.join(first, "user_id")
        .groupBy(
          date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Skew-salted join: the heavy-key fact⨝dim shape where one key
    // holds a disproportionate share of rows. Salting splits each hot
    // key across `salts` shuffle partitions (dim side replicated
    // `salts`×) — the RESULT is identical to the plain join, which is
    // exactly what the oracle asserts; only the shuffle layout differs.
    "q33_salted_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val users = ev.select(col("user_id").as("u_id")).distinct()
        .withColumn("segment", concat(lit("seg"), pmod(col("u_id"), lit(3L))))
      Olap.saltedJoin(ev, users, "user_id", "u_id", 8, col("event_id"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
    }),

    // SCD TYPE-2 dimension build: the event log becomes a
    // slowly-changing-dimension table — one validity interval per
    // state change, valid_to = the next change's timestamp (NULL =
    // current row). One window shuffle on user_id; the standard
    // warehouse dimension-maintenance derivation (pairs with q21's
    // as-of join for point-in-time lookups).
    "q34_scd2_intervals" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("valid_to_ts", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("valid_to_ts").isNull.as("is_current"))
    }),

    // Nested aggregation: per-group collected set, emitted as a
    // canonical joined string (cross-engine-stable representation).
    "q26_nested_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"),
          count(lit(1)).as("n_rows"))
    }),

    // Time-series aggregation: month bucketing over the events table.
    "q17_time_agg" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("month", col("ts")), "yyyy-MM").as("month"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("total_value"),
          countDistinct(col("user_id")).as("distinct_users"))
    }),

    // TOP-K PER GROUP as a bounded-heap partial aggregate — the scale
    // companion of q27's window ranks. A row_number window sorts EACH
    // WHOLE GROUP in one task (3 return flags → 3 tasks owning the
    // full table at 100 TB); the TopKRowsByScore heap keeps ≤ k rows
    // per map-side buffer, so only nTasks × k candidate rows ever
    // cross the shuffle. Tie-break on a zero-padded (orderkey, line)
    // string so the heap's lexicographic order IS the oracle's sort.
    "q37_topk_per_group" -> ((s, d) => {
      import graft.functions.TopKAggregate.topkRows
      val li = Tables.lineitem(s, d)
      val tie = concat(
        lpad(col("l_orderkey").cast("string"), 12, "0"), lit("-"),
        lpad(col("l_linenumber").cast("string"), 2, "0"))
      li.groupBy("l_returnflag")
        .agg(topkRows(round(col("l_extendedprice"), 9), tie,
          struct(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")), 3).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rnk"),
          col("t.l_orderkey").as("l_orderkey"),
          col("t.l_linenumber").cast("long").as("l_linenumber"),
          col("t.l_extendedprice").as("l_extendedprice"))
    }),

    // DATA-QUALITY AUDIT: referential-integrity + constraint checks
    // over the star schema as ONE query (the dbt-test shape, engine-
    // side). The whole lineitem side is a SINGLE pass: the orders
    // lookup shuffles on the join key (both fact-sized at 100 TB),
    // part/supplier lookups broadcast, and all five verdicts land as
    // conditional aggregates of that one joined stream, unpivoted via
    // stack. Orphan-direction checks are left-anti counts on the same
    // keys; the dup-PK check is a keyed count — every shape is
    // key-partitioned, nothing quadratic, nothing collected.
    "q38_integrity_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val pt = Tables.part(s, d)
      val su = Tables.supplier(s, d)
      // The lineitem side PRE-AGGREGATES before ever meeting orders:
      // per-row verdicts (part/supplier broadcasts, qty/discount
      // rules) roll to (orderkey, linenumber) grain — which also
      // yields the dup-PK count as sum(n−1) — then to orderkey grain,
      // both with map-side combine, and only that order-grain summary
      // full-outer joins orders (both orphan directions in one join).
      // At 100 TB the fact table never shuffles raw: the join input
      // is |orders|-sized. The whole audit is 2 jobs: this pipeline
      // and the o⟗c pass.
      val g1 = li
        .join(broadcast(pt.select(col("p_partkey").as("l_partkey"),
          lit(1L).as("__has_p"))), Seq("l_partkey"), "left")
        .join(broadcast(su.select(col("s_suppkey").as("l_suppkey"),
          lit(1L).as("__has_s"))), Seq("l_suppkey"), "left")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__has_p").isNull, 1L).otherwise(0L)).as("p2"),
          sum(when(col("__has_s").isNull, 1L).otherwise(0L)).as("p3"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("p4"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("p5"))
      val g2 = g1.groupBy("l_orderkey")
        .agg(sum("n").as("n_rows"), sum(col("n") - 1).as("dup"),
          sum("p2").as("p2"), sum("p3").as("p3"),
          sum("p4").as("p4"), sum("p5").as("p5"))
      val liPass = g2
        .join(o.select(col("o_orderkey").as("l_orderkey"),
          lit(1L).as("__has_o")), Seq("l_orderkey"), "full_outer")
        .agg(
          sum(when(col("__has_o").isNull, col("n_rows"))
            .otherwise(0L)).as("v1"),
          sum(coalesce(col("p2"), lit(0L))).as("v2"),
          sum(coalesce(col("p3"), lit(0L))).as("v3"),
          sum(coalesce(col("p4"), lit(0L))).as("v4"),
          sum(coalesce(col("p5"), lit(0L))).as("v5"),
          // an order-side row with no lineitem summary = no lineitems
          count(when(col("n_rows").isNull, lit(1))).as("v6"),
          sum(coalesce(col("dup"), lit(0L))).as("v7"))
        .selectExpr("""stack(7,
            'lineitem_orphan_order', v1,
            'lineitem_orphan_part', v2,
            'lineitem_orphan_supplier', v3,
            'lineitem_nonpositive_qty', v4,
            'lineitem_discount_range', v5,
            'orders_no_lineitem', v6,
            'lineitem_dup_pk', v7) AS (check_name, n_violations)""")
      val oPass = o
        .join(c.select(col("c_custkey").as("o_custkey"),
          lit(1L).as("__has_c")), Seq("o_custkey"), "full_outer")
        .agg(
          sum(when(col("o_orderkey").isNotNull && col("__has_c").isNull,
            1L).otherwise(0L)).as("v1"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v2"),
          count(when(col("o_orderkey").isNull, lit(1))).as("v3"))
        .selectExpr("""stack(3,
            'orders_orphan_customer', v1,
            'orders_nonpositive_total', v2,
            'customer_no_orders', v3) AS (check_name, n_violations)""")
      liPass.unionByName(oPass)
    }),

    // FIXED-WIDTH histogram — the chart-distribution aggregate: the
    // bucket is pure per-row arithmetic (floor of a constant-width
    // divide — no min/max pre-pass, no sort, no sketch), so the whole
    // query is ONE map-side-combined aggregation whose key cardinality
    // is bounded by the value domain / width, not by row count. The
    // data-derived-bounds variant is q16's histogram machinery; this
    // is the streaming-friendly fixed-grid form.
    "q39_histogram" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") / 5000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 4).as("sum_price"),
          round(avg("l_quantity"), 6).as("avg_qty"))),
    // TIME-WEIGHTED average per user — the LOCF integral (each value
    // holds until the next observation; weight = its holding time),
    // the financial/metrics-rollup aggregate a plain AVG silently
    // fakes on irregular series. One user-keyed window (lead) feeding
    // one user-keyed aggregate — same exchange, no second shuffle;
    // time deltas in exact integer microseconds via unix_micros. The
    // last observation carries no weight; single-event users have no
    // interval and are excluded.
    "q40_time_weighted_avg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead("us", 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") * (col("next_us") - col("us"))) /
            (max("us") - min("us")), 4).as("twa"))
        .filter(col("n_events") >= 2)
        .select("user_id", "n_events", "twa")
    }),
    // MARKOV TRANSITION MATRIX over per-user event sequences: count of
    // each (prev_type → type) step plus the row-normalized transition
    // probability — the path-analysis primitive behind "what do users
    // do next". One user-keyed window (lag) then a type-pair
    // aggregate; the probability window runs over the AGGREGATED
    // frame (|types|² rows), so the second window is free at any
    // scale.
    "q41_transition_matrix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("p", round(
          col("n_transitions").cast("double") /
            sum("n_transitions").over(Window.partitionBy("prev_type")), 6))
        .select("prev_type", "event_type", "n_transitions", "p")
    }),

    // INCREMENTAL SCD2 MERGE (warehouse apply-changes): a stored SCD2
    // interval table (q34's shape, built from pre-cutoff events) plus
    // a late-arriving batch merge WITHOUT re-windowing history —
    // closed intervals pass through UNTOUCHED (never joined, never
    // shuffled), each user's single OPEN interval closes at that
    // user's first batch event, and the batch chains internally. The
    // h21/h22 contract on the dimension plane: merge cost is O(open
    // intervals + batch), the oracle is the FULL REBUILD over all
    // events (q34's SQL verbatim), and the hash-match proves
    // increment ≡ rebuild.
    "q45_scd2_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      def intervals(df: DataFrame) = df
        .withColumn("valid_to_ts", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"), col("ts").as("from_ts"),
          col("valid_to_ts"))
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      val ev = Tables.events(s, d)
      val existing = intervals(ev.filter(col("ts") < cutoff))
      val batch = ev.filter(col("ts") >= cutoff)
      // per-user first batch event: the close timestamp for the
      // stored table's open interval
      val bridge = batch.groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"))).as("f"))
        .select(col("user_id"), col("f.ts").as("bridge_ts"))
      val closedRows = existing.filter(col("valid_to_ts").isNotNull)
      val openPatched = existing.filter(col("valid_to_ts").isNull)
        .drop("valid_to_ts")
        .join(bridge, Seq("user_id"), "left")
        .withColumn("valid_to_ts", col("bridge_ts")).drop("bridge_ts")
      closedRows.unionByName(openPatched)
        .unionByName(intervals(batch))
        .select(col("user_id"), col("event_id"), col("state"),
          date_format(col("from_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("valid_to_ts").isNull.as("is_current"))
    }),

    // FIRST/LAST-TOUCH ATTRIBUTION: every 'purchase' conversion
    // credited to the user's first and most recent PRECEDING
    // non-conversion touchpoints ('direct' when none precede it) —
    // the marketing-attribution primitive q31's funnel doesn't give
    // (funnel asks "did the sequence complete", attribution asks
    // "which touch gets the credit"). One user-keyed window whose
    // frame ends at 1 PRECEDING (the conversion never credits
    // itself), conditional columns + first/last ignoreNulls — no
    // joins, no second shuffle; determinism from the (ts, event_id)
    // order key.
    "q44_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("touch_id",
          when(col("event_type") =!= "purchase", col("event_id")))
        .withColumn("touch_type",
          when(col("event_type") =!= "purchase", col("event_type")))
        .withColumn("ft_id", first(col("touch_id"), ignoreNulls = true).over(w))
        .withColumn("ft_type", first(col("touch_type"), ignoreNulls = true).over(w))
        .withColumn("lt_id", last(col("touch_id"), ignoreNulls = true).over(w))
        .withColumn("lt_type", last(col("touch_type"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conversion_id"),
          coalesce(col("ft_id"), lit(-1L)).as("first_touch_id"),
          coalesce(col("ft_type"), lit("direct")).as("first_touch_type"),
          coalesce(col("lt_id"), lit(-1L)).as("last_touch_id"),
          coalesce(col("lt_type"), lit("direct")).as("last_touch_type"))
    }),

    // GAP-FILL / RESAMPLE to a regular grid with LOCF — the
    // time_bucket_gapfill / WITH FILL primitive: per user an HOURLY
    // grid spanning that user's own [first, last] event hours, each
    // grid point carrying the hour's event count (0 on gaps) and the
    // last-observation-carried-forward value. Scale shape: the grid is
    // entities × horizon hours (domain-bounded, NOT event-bounded —
    // generated per entity by `sequence`, no driver loop); the
    // last-in-hour pick and the LOCF are user-keyed windows, so one
    // user-keyed exchange covers grid generation, join and carry.
    // Determinism: last-in-hour breaks ts ties by event_id; LOCF's
    // frame is rows-unbounded-preceding (grid hours are unique per
    // user, so range ≡ rows cross-engine).
    "q43_resample_locf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // ONE user-keyed exchange covers everything (r21; guide §2.4
      // "operations keyed the same way share one exchange"): the
      // explicit user_id repartition is the single fact shuffle —
      // the hour aggregate clusters by (user_id, hr) which a user_id
      // hash satisfies, the last-in-hour pick rides max_by inside
      // that same aggregate (replacing a row_number window that
      // sorted the whole fact stream per user-hour), the grid
      // aggregate clusters by user_id, the grid⨝hours join keys on
      // (user_id, hr) ⊇ user_id (subset co-partitioning), and the
      // LOCF window partitions by user_id. Plan: 6 Exchange → 2
      // (the repartition + the final readout), zero fact-stream
      // window sorts.
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("hr", date_trunc("hour", col("ts")))
        .repartition(col("user_id"))
      val hourAgg = ev
        .groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n_events"),
          // last by (ts DESC, event_id DESC) ≡ max_by on the
          // (ts, event_id) struct — event_id is unique, so the pick
          // is total-ordered and carries that row's value (nulls
          // included) exactly like the old rn = 1 window row
          max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("last_v"))
      val grid = ev.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("hr"))
      grid.join(hourAgg, Seq("user_id", "hr"), "left")
        .withColumn("locf_value", last(col("last_v"), ignoreNulls = true)
          .over(Window.partitionBy("user_id").orderBy("hr")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm").as("grid_hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          round(col("locf_value"), 6).as("locf_value"))
    }),

    // HEAVY HITTERS: top sources by document count through the
    // bounded-memory SpaceSaving aggregate
    // ([[graft.functions.FrequentItems]]) — partial buffers hold ≤
    // `capacity` items whatever the key domain's size, the shape an
    // exact groupBy can't give on a quasi-unbounded column (domains,
    // tokens, user agents at 100 TB). Run with capacity ≥ the
    // column's distinct count the summary is provably EXACT and
    // merge-order-independent (every err = 0), which is what lets
    // DuckDB oracle this entry with a plain GROUP BY; the spec
    // exercises the approximate regime on a skewed fixture.
    "q42_heavy_hitters" -> ((s, d) =>
      Tables.documents(s, d)
        .agg(graft.functions.FrequentItemsAggregate
          .frequentItems(col("source"), 32).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "h")))
        .filter(col("pos") < 10)
        .select((col("pos") + 1).cast("long").as("rank"),
          col("h.item").as("source"), col("h.count").as("cnt"),
          col("h.err").as("err"))),

    // MARKET-BASKET ANALYSIS at category grain: brand pairs
    // co-purchased within an order, with support and lift — the
    // association-mining read a merchandiser runs. Scale shape: the
    // only fact-sized exchange is the (orderkey, brand) DISTINCT; the
    // pair stream explodes ordered pairs from each order's sorted
    // brand set, so its size is ≤ C(items-per-order, 2) per order —
    // LINEAR in orders (basket sizes are domain-bounded), never
    // brands × facts. Brand marginals (|brands| rows) broadcast onto
    // the pair counts; the order total rides a 1-row broadcast.
    // Lift in DOUBLE from the first multiply — pair_cnt × n_orders as
    // int64 would overflow at warehouse scale.
    "q46_market_basket" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val pt = Tables.part(s, d)
      // ONE fact exchange: collect_set dedups brands inside the
      // per-order group (no separate DISTINCT pass), and the cached
      // basket table feeds the pair stream, the brand marginals AND
      // the order total — at 100 TB the basket table is the persisted
      // intermediate, |orders|-sized
      val baskets = li
        .join(broadcast(pt.select(col("p_partkey").as("l_partkey"),
          col("p_brand"))), Seq("l_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .transform(graft.Artifacts.pin)
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val brandCnt = baskets
        .select(explode(col("bs")).as("p_brand"))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
      val pairs = baskets
        .select(posexplode(col("bs")).as(Seq("i", "brand_a")), col("bs"))
        .select(col("brand_a"),
          explode(expr("slice(bs, i + 2, size(bs))")).as("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(count(lit(1)).as("pair_cnt"))
      pairs
        .join(broadcast(brandCnt.select(col("p_brand").as("brand_a"),
          col("cnt").as("cnt_a"))), Seq("brand_a"))
        .join(broadcast(brandCnt.select(col("p_brand").as("brand_b"),
          col("cnt").as("cnt_b"))), Seq("brand_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("brand_a"), col("brand_b"), col("pair_cnt"),
          round(col("pair_cnt").cast("double") / col("n_orders"), 6)
            .as("support"),
          round(col("pair_cnt").cast("double") * col("n_orders") /
            (col("cnt_a") * col("cnt_b")), 6).as("lift"))
    }),

    // PATH ANALYSIS: top opening journeys — each user's first three
    // event types in (ts, event_id) order joined into a path string,
    // ranked by how many users open that way. The row_number filter
    // caps the per-user carry at 3 rows BEFORE the collect (a raw
    // collect_list per user is unbounded under power users — the
    // funnel-family trap); window and groupBy share the user-keyed
    // exchange. The path-frequency table is ≤ |event_type|³ rows
    // (vocab-bounded), so the final global rank sorts a tiny frame.
    "q47_path_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val firstN = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") <= 3)
      val paths = firstN.groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
      // r22 (window audit): bounded-grain input (paths ≤ |event
      // types|³), but the uniform TakeOrderedAndProject + ≤20-row
      // re-rank shape costs nothing and keeps the audit simple
      paths.groupBy("path").agg(count(lit(1)).as("n_users"))
        .sort(col("n_users").desc, col("path")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_users").desc, col("path"))).cast("long"))
        .select(col("rank"), col("path"), col("n_users"))
    }),

    // ROBUST OUTLIER DETECTION (data-quality gate): per-event-type
    // modified z-scores from MEDIAN and MAD — the Iglewicz–Hoaglin
    // 0.6745·(x−med)/MAD statistic with the recommended 3.5 cutoff.
    // Mean/stddev outlier rules break exactly when needed most (the
    // outliers inflate the stddev that is supposed to expose them);
    // median/MAD have a 50% breakdown point. Both medians run through
    // Olap.exactMedianByGroup (q16's histogram-rank shape: no
    // per-group value maps, no whole-group sorts), group stats
    // broadcast back onto facts, and the boundary compare rounds to
    // 9 dp so a last-ulp divergence cannot flip membership
    // cross-engine.
    "q48_outliers_mad" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val med = Olap.exactMedianByGroup(ev, "event_type", "value")
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = Olap.exactMedianByGroup(
        dev.select(col("event_type"), col("adev")), "event_type", "adev")
        .withColumnRenamed("med", "mad")
      // mad = 0 (a group >50% identical values) would make robust_z
      // ±Inf/NaN and hand membership to the engines' IEEE-division
      // conventions — degenerate groups are skipped outright, the
      // same convention as olsByGroup's n < 2 guard
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("mad") =!= 0)
        .withColumn("rz",
          lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .filter(round(abs(col("rz")), 9) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("rz"), 6).as("robust_z"))
    }),

    // TIME-CONSTRAINED WINDOW FUNNEL (the windowFunnel primitive):
    // per user, the deepest view→click→purchase chain where the
    // whole chain fits inside a 6-hour window anchored at the
    // chain's FIRST event — the product-analytics question q31's
    // unconstrained eventual funnel can't answer. EXISTS-chain
    // semantics computed exactly by CASCADED RUNNING MAXES: vmax =
    // latest view strictly before each row; cvmax = max over
    // preceding clicks of THEIR vmax (the best chain-start any
    // completed view→click prefix offers); a purchase completes
    // level 3 iff t − cvmax ≤ W. Both windows and the final
    // aggregate share ONE user-keyed exchange, per-row state is
    // O(1) — no per-user event buffering, no self-joins, exact at
    // any scale.
    "q49_window_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val W = 21600L // 6 hours
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("t"))
        .withColumn("vmax",
          max(when(col("event_type") === "view", col("t"))).over(wPrev))
        .withColumn("cvmax",
          max(when(col("event_type") === "click", col("vmax"))).over(wPrev))
        .groupBy("user_id")
        .agg(max(
          when(col("event_type") === "purchase" && col("cvmax").isNotNull &&
            col("t") - col("cvmax") <= W, 3)
            .when(col("event_type") === "click" && col("vmax").isNotNull &&
              col("t") - col("vmax") <= W, 2)
            .when(col("event_type") === "view", 1)
            .otherwise(0)).cast("long").as("funnel_level"))
    }),

    // RFM CUSTOMER SCORING (recency / frequency / monetary quintiles
    // — the classic marketing segmentation). The scale discipline is
    // in HOW the quintiles are cut: a global ntile() would sort the
    // whole customer relation in ONE task; instead the four cut
    // points per metric come from Olap.exactPercentilesByGroup
    // (histogram-rank, quantile_cont interpolation — q16's proven
    // parity) and broadcast back as 1-row frames, so scores are a
    // narrow map over the customer grain. Threshold compares round
    // to 9 dp (the rank-key discipline) so an interpolation ulp
    // can't flip a bucket cross-engine. Recency scores DESCEND
    // (smaller gap = better), frequency/monetary ASCEND.
    "q50_rfm" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cust = o.groupBy("o_custkey").agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum("o_totalprice"), 2).as("monetary"))
      val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
      val c2 = cust.crossJoin(broadcast(anchor))
        .withColumn("recency_days",
          datediff(col("anchor"), col("last_order")).cast("long"))
        .drop("anchor", "last_order")
      // ONE percentile pipeline for all three metrics: stack to
      // (metric, value) rows and let the metric name be the GROUP of
      // the histogram-rank primitive — 3× fewer jobs than a
      // per-metric threshold pass, and the cut table is still 3 rows
      val stacked = c2.selectExpr(
        """stack(3, 'r', CAST(recency_days AS DOUBLE),
                    'f', CAST(frequency AS DOUBLE),
                    'm', monetary) AS (metric, v)""")
      val cutRows = Olap.exactPercentilesByGroup(stacked, "metric", "v",
        Seq(0.2, 0.4, 0.6, 0.8))
      val cuts = broadcast(cutRows.agg(
        max(when(col("metric") === "r", col("pcts"))).as("rp"),
        max(when(col("metric") === "f", col("pcts"))).as("fp"),
        max(when(col("metric") === "m", col("pcts"))).as("mp")))
      def up(v: Column, arr: Column): Column =
        (1 to 4).map(k => when(v > round(element_at(arr, k), 9), 1L)
          .otherwise(0L)).reduce(_ + _) + 1L
      def down(v: Column, arr: Column): Column =
        (1 to 4).map(k => when(v < round(element_at(arr, k), 9), 1L)
          .otherwise(0L)).reduce(_ + _) + 1L
      c2.crossJoin(cuts)
        .withColumn("r_score", down(col("recency_days"), col("rp")))
        .withColumn("f_score", up(col("frequency"), col("fp")))
        .withColumn("m_score", up(col("monetary"), col("mp")))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score"))
            .as("segment"))
    }),

    // EXACT DISTINCT over a bounded key dictionary as a BITMAP
    // aggregate (graft.functions.BitmapDistinct): count(distinct)
    // forces a second fact-sized exchange at (group, key) grain just
    // to dedup; when the key is a dictionary id (customers, products,
    // users — domains that grow with the business, not event volume)
    // the bitmap turns dedup into bit-OR — partials merge word-wise,
    // map-side combine works, ONE aggregation pass, zero error. The
    // bounded-domain exact twin of h8's HLL. Merge-order-independent
    // → plain COUNT(DISTINCT) oracle.
    "q51_bitmap_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(graft.functions.BitmapDistinctAggregate
          .bitmapDistinct(col("o_custkey"), 1 << 21)
          .as("distinct_customers"),
          count(lit(1)).as("n_orders"))),

    // SEQUENCE PATTERN MATCHING (the MATCH_RECOGNIZE surface): find
    // (user, day) event sequences matching the regex 'vc+p' — a view,
    // one-or-more clicks, then a purchase, CONTIGUOUSLY (q49's funnel
    // allows interleaved noise; pattern matching demands adjacency —
    // the stricter journey question). Each (user, day) sequence
    // renders as an initial-letter string in (ts, event_id) order and
    // the regex engine does the matching — regex quantifiers give the
    // full MATCH_RECOGNIZE pattern algebra for free. Scale shape: the
    // sequence grain is (user, DAY), so the collected string is
    // bounded by a day's events, not the user's lifetime (a
    // production unbounded variant runs the NFA in fMGWS state);
    // matches are non-overlapping greedy scans in both engines.
    "q52_pattern_match" -> ((s, d) => {
      val initial = when(col("event_type") === "view", "v")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("e")
      Tables.events(s, d)
        .select(col("user_id"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("ts"), col("event_id"), initial.as("ch"))
        .groupBy("user_id", "day")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
          x => x.getField("ch")), "").as("seq"))
        .withColumn("n_matches",
          size(expr("regexp_extract_all(seq, 'vc+p', 0)")).cast("long"))
        .filter(col("n_matches") > 0)
        .withColumn("first_match", regexp_extract(col("seq"), "vc+p", 0))
        .select(col("user_id"), col("day"), col("seq"),
          col("n_matches"), col("first_match"))
    }),

    // CUSUM DRIFT DETECTION (monitoring/changepoint family): per
    // event type, the one-sided cumulative-sum statistic over DAILY
    // volumes — cus_t = max(0, cus_{t−1} + c_t − 1.1·μ), alarming
    // when the accumulated excess tops 0.5·μ. CUSUM accumulates
    // small persistent shifts a per-day threshold misses; the
    // recurrence is NOT window-expressible (each step clamps at 0),
    // so it runs as the `aggregate` higher-order fold over each
    // type's day-ordered series — the series is (type, DAY) grain,
    // horizon-bounded at any fact scale, so the per-group array is a
    // few hundred elements however big the corpus. Identical
    // operand order keeps the fold FP-reproducible cross-engine
    // (DuckDB re-derives it as a recursive CTE).
    "q53_cusum" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val st = daily.groupBy("event_type").agg(avg("c").as("mu"))
      val series = daily.join(broadcast(st), Seq("event_type"))
        .groupBy("event_type", "mu")
        .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("xs"))
      series
        .withColumn("cus_arr", expr(
          """aggregate(xs,
               named_struct('cus', CAST(0.0 AS DOUBLE),
                            'acc', CAST(array() AS ARRAY<DOUBLE>)),
               (st, x) -> named_struct(
                 'cus', greatest(CAST(0.0 AS DOUBLE),
                                 st.cus + x.c - mu * 1.1D),
                 'acc', concat(st.acc, array(greatest(CAST(0.0 AS DOUBLE),
                                 st.cus + x.c - mu * 1.1D)))),
               st -> st.acc)"""))
        .select(col("event_type"), col("mu"),
          explode(arrays_zip(col("xs"), col("cus_arr"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.xs.d"), "yyyy-MM-dd").as("day"),
          col("z.xs.c").cast("long").as("n_events"),
          round(col("z.cus_arr"), 6).as("cusum"),
          (round(col("z.cus_arr"), 9) > col("mu") * 0.5).as("alarm"))
    }),

    // EWMA CONTROL CHART (q53's sibling in the monitoring family):
    // per event type, the exponentially-weighted moving average of
    // DAILY volumes (α = 0.25 — dyadic, so the recurrence is
    // bit-reproducible cross-engine) and the one-step-ahead forecast
    // residual c_t − ewma_{t−1}; a day alarms when |residual| tops
    // 3σ of the type's daily counts. EWMA reacts to level shifts
    // faster than q53's CUSUM accumulates them — together they are
    // the standard drift pair. Same scale shape as q53: the
    // recurrence folds over the (type, DAY)-grain series (horizon-
    // bounded at any fact scale); the DuckDB oracle re-derives it as
    // a recursive CTE with identical operand order.
    "q54_ewma_control" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val st = daily.groupBy("event_type")
        .agg(coalesce(stddev_samp(col("c")), lit(0.0)).as("sigma"))
      val series = daily.join(broadcast(st), Seq("event_type"))
        .groupBy("event_type", "sigma")
        .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("xs"))
      val folded = series.withColumn("fold", expr(
        """aggregate(xs,
             named_struct('ew', CAST(0.0 AS DOUBLE), 'fst', true,
                          'ews', CAST(array() AS ARRAY<DOUBLE>),
                          'res', CAST(array() AS ARRAY<DOUBLE>)),
             (st, x) -> named_struct(
               'ew', CASE WHEN st.fst THEN x.c
                          ELSE 0.25D * x.c + 0.75D * st.ew END,
               'fst', false,
               'ews', concat(st.ews, array(
                 CASE WHEN st.fst THEN x.c
                      ELSE 0.25D * x.c + 0.75D * st.ew END)),
               'res', concat(st.res, array(
                 CASE WHEN st.fst THEN CAST(0.0 AS DOUBLE)
                      ELSE x.c - st.ew END))),
             st -> st)"""))
        .select(col("event_type"), col("sigma"), col("xs"),
          col("fold.ews").as("ews"), col("fold.res").as("res"))
      folded
        .select(col("event_type"), col("sigma"),
          explode(arrays_zip(col("xs"), col("ews"), col("res"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.xs.d"), "yyyy-MM-dd").as("day"),
          col("z.xs.c").cast("long").as("n_events"),
          round(col("z.ews"), 6).as("ewma"),
          round(col("z.res"), 6).as("resid"),
          (round(abs(col("z.res")), 9) > col("sigma") * 3.0).as("alarm"))
    }),

    // TREND DETECTION via per-group OLS (the regression surface):
    // slope / intercept / r² of daily revenue against the day index,
    // per region — "which regions are growing, and how linearly".
    // Runs on [[Olap.olsByGroup]]: sufficient statistics in ONE
    // group-keyed aggregate (map-side combinable), closed-form fit —
    // no per-group series materialization at any fact scale. The day
    // index centers at the corpus epoch (1994-01-01) so the
    // n·Σx² − (Σx)² subtraction keeps its precision.
    "q55_ols_trend" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), date_trunc("day", col("o_orderdate")).as("d"))
        .agg(sum("o_totalprice").as("rev"))
        .withColumn("x",
          datediff(col("d"), lit("1994-01-01").cast("date")).cast("double"))
      Olap.olsByGroup(daily, Seq("r_name"), col("x"), col("rev"))
        .select(col("r_name"), col("n").as("n_days"),
          round(col("slope"), 6).as("trend_per_day"),
          round(col("intercept"), 2).as("intercept"),
          round(col("r2"), 6).as("r2"))
    }),

    // ROLLING + CUMULATIVE EXACT DISTINCT (the DAU/WAU surface):
    // per order day, customers active that day, over the trailing
    // 7 days, and ever — all EXACT. Three different scale tricks:
    // (1) daily actives pre-aggregate to a day-grain BITMAP value
    // (bitmap_build — one fact exchange, word-OR combinable);
    // (2) the 7-day window OR-merges SEVEN DAY-GRAIN BITMAPS per
    // frame (a RANGE window so calendar gaps stay correct) — the
    // classic rolling-distinct non-decomposability, made cheap
    // because the window input is days, never facts; (3) cumulative
    // distinct needs no bitmap at all — it is the running SUM of
    // first-activity counts (expanding windows decompose by first
    // occurrence; sliding windows don't, which is why (2) exists).
    // The global day-ordered windows are day-grain by construction
    // (bounded rows at 100 TB of facts).
    "q56_rolling_distinct" -> ((s, d) => {
      val ords = Tables.orders(s, d)
        .select(date_trunc("day", col("o_orderdate")).as("d"), col("o_custkey"))
      // capacity sized to the customer dictionary (~15k keys at the
      // largest gate SF, 9× headroom; out-of-domain keys fail loudly
      // by the bitmap contract) — the window OR-merges 7 buffers per
      // frame, so an oversized capacity multiplies pure merge traffic
      val daily = ords.groupBy("d")
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.BitmapDistinctAggregate
            .bitmapBuild(col("o_custkey"), 1 << 17).as("bm"))
        .withColumn("d_num",
          datediff(col("d"), lit("1992-01-01").cast("date")))
      val w7 = Window.orderBy("d_num").rangeBetween(-6, 0)
      val wCum = Window.orderBy("d_num")
        .rowsBetween(Window.unboundedPreceding, 0)
      val firsts = ords.groupBy("o_custkey").agg(min(col("d")).as("d"))
      val news = firsts.groupBy("d").agg(count(lit(1)).as("new_customers"))
      daily.join(news, Seq("d"), "left")
        .na.fill(0L, Seq("new_customers"))
        .withColumn("active_today",
          graft.functions.BitmapDistinctAggregate.bitmapCardinality(col("bm")))
        .withColumn("active_7d",
          graft.functions.BitmapDistinctAggregate.bitmapCardinality(
            graft.functions.BitmapDistinctAggregate
              .bitmapMerge(col("bm"), 1 << 17).over(w7)))
        .withColumn("cum_customers", sum("new_customers").over(wCum))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_orders"), col("active_today"), col("active_7d"),
          col("new_customers"), col("cum_customers"))
    }),

    // TEMPORAL INTERVAL ALIGNMENT (the bitemporal join surface):
    // overlay two per-user interval sets — SCD2 state intervals
    // (q34's shape, closed rows only) × activity sessions (st2's
    // 30-minute-gap shape) — emitting each intersected segment with
    // its exact microsecond overlap: "which states did the user hold
    // during each session, and for how long". The join is user-keyed
    // EQUI (both interval derivations and the align reuse the same
    // user exchange); the overlap predicate filters within a user,
    // where interval counts are event-bounded — per-user pair cost is
    // states×sessions of ONE user, never cross-user. Unbounded
    // per-key interval sets would move to q30's banded time-bucket
    // join; at this grain the equi-key carries it. Overlap bounds:
    // state intervals are half-open [from, to), sessions closed
    // [start, end]; a session point INSIDE a state yields the
    // zero-length segment (overlap_us = 0), which is kept — "the
    // state held when the user appeared" is the question asked.
    "q57_interval_align" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val wUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val states = ev
        .withColumn("to_ts", lead("ts", 1).over(wUser))
        .filter(col("to_ts").isNotNull)
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("s_from"), col("to_ts").as("s_to"))
      val flagged = ev
        .withColumn("prev_ts", lag("ts", 1).over(wUser))
        // micros gap arithmetic — the sessionize convention (a
        // seconds-truncating unix_timestamp would round boundary
        // gaps differently than the oracle's epoch_us)
        .withColumn("new_sess",
          (col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) >
              1800L * 1000000L).cast("long"))
      val sessions = flagged
        .withColumn("sess_idx", sum("new_sess").over(
          wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_idx")
        .agg(min("ts").as("b_start"), max("ts").as("b_end"))
      states.join(sessions, Seq("user_id"))
        .filter(col("s_from") <= col("b_end") && col("b_start") < col("s_to"))
        .withColumn("o_start", greatest(col("s_from"), col("b_start")))
        .withColumn("o_end", least(col("s_to"), col("b_end")))
        .filter(col("o_start") <= col("o_end"))
        .select(col("user_id"), col("state"),
          date_format(col("s_from"), "yyyy-MM-dd HH:mm:ss").as("state_from"),
          date_format(col("b_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("o_start"), "yyyy-MM-dd HH:mm:ss").as("overlap_from"),
          date_format(col("o_end"), "yyyy-MM-dd HH:mm:ss").as("overlap_to"),
          (unix_micros(col("o_end")) - unix_micros(col("o_start")))
            .as("overlap_us"))
    }),

    // CUSTOM-CALENDAR ROLLUP (the fiscal-period surface): revenue
    // over a July-start fiscal calendar — FY = calendar year + 1 from
    // July, fiscal month 1 = July, quarters cut on the fiscal axis —
    // rolled up FY → quarter → month with grouping_id labeling the
    // level. The point is the calendar REMAP is row arithmetic
    // (month/year extraction + floor-div), so a nonstandard calendar
    // costs nothing at any scale: one map, one rollup lattice
    // (q8's machinery), no calendar dimension join needed — though
    // one CAN be materialized from this same arithmetic when BI tools
    // want a conformed date dim.
    "q58_fiscal_rollup" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("m", month(col("o_orderdate")))
        .withColumn("fy",
          (year(col("o_orderdate")) + when(col("m") >= 7, 1).otherwise(0))
            .cast("long"))
        .withColumn("fm", (pmod(col("m") - 7, lit(12)) + 1).cast("long"))
        .withColumn("fq", (floor((col("fm") - 1) / 3) + 1).cast("long"))
      o.rollup(col("fy"), col("fq"), col("fm"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"),
          grouping_id().cast("long").as("lvl"))
    }),

    // A/B TEST ANALYSIS (the experimentation surface): users split
    // into variants by a DETERMINISTIC LCG assignment hash (the p2
    // discipline — rand() re-rolls under retries and is engine-
    // specific; integer arithmetic is neither), conversion = the user
    // ever purchased, and the readout is the two-proportion z-test
    // with the pooled-variance denominator. Scale shape: one
    // user-grain aggregate (conversion flags fold with max), then ONE
    // conditional aggregation lands both variants' counts on a single
    // row — no filter-and-rejoin of the variant table, no nested-loop
    // cross, nothing fact-sized past the first exchange at any scale.
    "q59_ab_test" -> ((s, d) => {
      // conversion = a high-value purchase (≥ 180), not "any
      // purchase" — on this corpus every user purchases, and a
      // degenerate pooled rate of 1 has no variance to test
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") >= 180.0, 1L).otherwise(0L))
          .as("converted"))
        .withColumn("variant",
          when((col("user_id") * 1103515245L + 12345L) % 2147483648L % 2 === 0,
            "A").otherwise("B"))
      users.agg(
          sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === "A", col("converted")).otherwise(0L))
            .as("c_a"),
          sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("variant") === "B", col("converted")).otherwise(0L))
            .as("c_b"))
        .withColumn("rate_a", col("c_a").cast("double") / col("n_a"))
        .withColumn("rate_b", col("c_b").cast("double") / col("n_b"))
        .withColumn("p_pool",
          (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")))
        .withColumn("z_stat",
          when(col("p_pool") > 0.0 && col("p_pool") < 1.0,
            (col("rate_a") - col("rate_b")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
        .select(col("n_a"), col("c_a"), round(col("rate_a"), 6).as("rate_a"),
          col("n_b"), col("c_b"), round(col("rate_b"), 6).as("rate_b"),
          round(col("rate_a") - col("rate_b"), 6).as("lift"),
          round(col("z_stat"), 6).as("z_stat"),
          coalesce(round(abs(col("z_stat")), 9) > 1.96, lit(false))
            .as("significant"))
    }),

    // PERIOD-OVER-PERIOD GROWTH (the MoM/YoY board metric): monthly
    // revenue per region with month-over-month and year-over-year
    // percent change. The comparisons are CALENDAR JOINS on a month
    // index (region, month − 1) / (region, month − 12), NOT row lags:
    // the per-region month grid has real gaps in the gate data, and a
    // row-based lag(12) silently compares against whatever month
    // happens to sit 12 rows back — q56's range-vs-rows lesson on the
    // calendar axis. A month with no prior-period row emits null
    // growth (honest, not misaligned). Everything past the first
    // aggregate is regions × months grain — domain-bounded at any
    // fact scale.
    "q60_pop_growth" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
            .as("month"))
        .agg(sum("o_totalprice").as("rev"))
        .withColumn("mi",
          expr("CAST(substring(month, 1, 4) AS INT) * 12" +
            " + CAST(substring(month, 6, 2) AS INT)"))
      val pm = monthly.select(col("r_name"), (col("mi") + 1).as("mi"),
        col("rev").as("prev_m"))
      val py = monthly.select(col("r_name"), (col("mi") + 12).as("mi"),
        col("rev").as("prev_y"))
      monthly
        .join(pm, Seq("r_name", "mi"), "left")
        .join(py, Seq("r_name", "mi"), "left")
        .select(col("r_name"), col("month"), round(col("rev"), 2).as("revenue"),
          round((col("rev") - col("prev_m")) / col("prev_m") * 100.0, 4)
            .as("mom_pct"),
          round((col("rev") - col("prev_y")) / col("prev_y") * 100.0, 4)
            .as("yoy_pct"))
    }),

    // HOLT LINEAR-TREND FORECASTING — the third member of the
    // monitoring triad (q53 CUSUM detects drift, q54 EWMA tracks
    // level; Holt adds a TREND state so the one-step-ahead forecast
    // anticipates a ramp instead of trailing it): per event type over
    // daily volumes, level_t = α·c_t + (1−α)·(level + trend),
    // trend_t = β·(level_t − level_{t−1}) + (1−β)·trend, forecast for
    // t+1 = level_t + trend_t. α = 0.5, β = 0.25 (dyadic) keep the
    // double recurrence bit-reproducible against the recursive-CTE
    // oracle; seeding is level₁ = c₁ with the trend seeded from the
    // first level change (level₂ − level₁) inside the first real
    // step. Same (type, DAY) grain fold as q53/q54 — horizon-bounded
    // at any fact scale; day 1 has no forecast and is not emitted.
    "q61_holt_forecast" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val series = daily
        .groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("xs"))
      val folded = series.withColumn("fold", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
             named_struct(
               'lv', CAST(element_at(xs, 1).c AS DOUBLE),
               'tr', CAST(0.0 AS DOUBLE), 'fst', true,
               'lvs', CAST(array() AS ARRAY<DOUBLE>),
               'trs', CAST(array() AS ARRAY<DOUBLE>),
               'fcs', CAST(array() AS ARRAY<DOUBLE>)),
             (st, x) -> named_struct(
               'lv', CASE WHEN st.fst THEN 0.5D * x.c + 0.5D * st.lv
                     ELSE 0.5D * x.c + 0.5D * (st.lv + st.tr) END,
               'tr', CASE WHEN st.fst
                     THEN (0.5D * x.c + 0.5D * st.lv) - st.lv
                     ELSE 0.25D * ((0.5D * x.c + 0.5D * (st.lv + st.tr))
                                   - st.lv) + 0.75D * st.tr END,
               'fst', false,
               'lvs', concat(st.lvs, array(
                 CASE WHEN st.fst THEN 0.5D * x.c + 0.5D * st.lv
                 ELSE 0.5D * x.c + 0.5D * (st.lv + st.tr) END)),
               'trs', concat(st.trs, array(
                 CASE WHEN st.fst
                 THEN (0.5D * x.c + 0.5D * st.lv) - st.lv
                 ELSE 0.25D * ((0.5D * x.c + 0.5D * (st.lv + st.tr))
                               - st.lv) + 0.75D * st.tr END)),
               'fcs', concat(st.fcs, array(st.lv + st.tr))),
             st -> st)"""))
        .select(col("event_type"), col("xs"),
          col("fold.lvs").as("lvs"), col("fold.trs").as("trs"),
          col("fold.fcs").as("fcs"))
      folded
        .select(col("event_type"),
          explode(arrays_zip(expr("slice(xs, 2, size(xs) - 1)").as("xs"),
            col("lvs"), col("trs"), col("fcs"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.xs.d"), "yyyy-MM-dd").as("day"),
          col("z.xs.c").cast("long").as("n_events"),
          round(col("z.lvs"), 6).as("level"),
          round(col("z.trs"), 6).as("trend"),
          round(col("z.fcs"), 6).as("forecast"),
          round(col("z.xs.c") - col("z.fcs"), 6).as("forecast_err"))
    }),

    // SKYLINE (Pareto frontier): the parts no other part beats on BOTH
    // price (lower better) and demand (lineitem count, higher better).
    // Engine = Olap.skyline2d's grid-prune + exact-sweep (one
    // fact-sized pre-aggregate, a 256-row bucket broadcast, global
    // windows only on the pruned survivor frame); the oracle is the
    // definitionally-quadratic NOT EXISTS — an INDEPENDENT derivation
    // of the same frontier
    "q62_skyline" -> ((s, d) => {
      val pop = Tables.part(s, d)
        .join(Tables.lineitem(s, d).select(col("l_partkey"), col("l_orderkey")),
          col("p_partkey") === col("l_partkey"), "left")
        .groupBy(col("p_partkey"), col("p_retailprice"))
        .agg(count(col("l_orderkey")).as("n_lines"))
      Olap.skyline2d(pop, "p_partkey", "p_retailprice", "n_lines")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("p_retailprice"), col("p_partkey"))).cast("long"))
        .select(col("rank"), col("p_partkey").as("part"),
          col("p_retailprice").as("price"), col("n_lines"))
    }),

    // SKETCH SET ALGEBRA: per market segment, KMV (bottom-64)
    // estimates of two customer cohorts (even-keyed vs odd-keyed
    // orders), their UNION (pairwise bottom-k merge of the two
    // sketches — sorted-array slice, no re-scan of the data) and the
    // inclusion–exclusion INTERSECTION estimate — the audience-overlap
    // arithmetic a 100 TB segmentation pipeline runs on stored
    // sketches instead of fact re-scans. The KMV hash/estimate are
    // pure integer/floor arithmetic (h12's), so even the ESTIMATES
    // carry an exact oracle that re-derives both sketches in SQL
    "q63_sketch_setops" -> ((s, d) => {
      import graft.functions.KmvSketch._
      val k = 64
      // ONE pass, st30's conditional-aggregate shape: the cohort split
      // lives in the null-skipping sketch inputs, so the fact frame is
      // scanned once and no per-segment join can drop a one-cohort
      // segment
      val even = pmod(col("o_orderkey"), lit(2L)) === 0L
      val merged = expr(s"slice(array_sort(array_union(ska, skb)), 1, $k)")
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), even.as("even"),
          kmvHash(col("c_custkey")).as("h"))
        .groupBy("c_mktsegment")
        .agg(kmvSketch(when(col("even"), col("h")), k).as("ska"),
          kmvSketch(when(!col("even"), col("h")), k).as("skb"))
        .select(col("c_mktsegment"),
          kmvEstimate(col("ska"), k).as("est_a"),
          kmvEstimate(col("skb"), k).as("est_b"),
          kmvEstimate(merged, k).as("est_union"))
        .withColumn("est_intersect",
          greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
    }),

    // ABC / PARETO CLASSIFICATION: parts ranked by revenue, classified
    // by cumulative share (A ≤ 0.80, B ≤ 0.95, C rest) — the inventory
    // 80/20 readout. FP discipline for cross-engine parity: each LINE
    // rounds to integer cents first and part revenue is a Long sum
    // (order-free, exact — a double sum rounded at the part grain
    // flips on .005 boundaries with aggregation order); the cumulative
    // fold then runs over identical doubles in the identical
    // (revenue desc, part) order, and the class compare uses the
    // 9-dp-rounded share. The global window runs at part grain
    // (dimension-sized); facts pay one groupBy
    "q64_abc_pareto" -> ((s, d) => {
      val byPart = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg((sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100.0 + 0.5).cast("long")).cast("double") / 100.0).as("rev"))
      Olap.abcSummary(byPart, "l_partkey", "rev")
    }),

    // CDC APPLY (the lakehouse MERGE materialization): a base snapshot
    // plus a SEQUENCED change stream (insert/update/delete) collapse
    // to the final table — last writer per key wins, a trailing delete
    // erases the row. The change stream synthesizes deterministically
    // from orders (p12's versioning convention): seq 1 updates every
    // 5th key (+10.00), seq 2 deletes every 11th, seq 3 inserts the
    // keys the base snapshot lacks (key % 7 = 0). Scale shape: ONE
    // key-grain window picks each key's last change (changes are
    // delta-sized), ONE full-outer key join applies it to the base —
    // the fact table never re-shuffles per change. Readout = per
    // priority (count, revenue in exact integer cents)
    "q65_cdc_apply" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val base = o.filter(pmod(col("o_orderkey"), lit(7L)) =!= 0L)
      val changes =
        o.filter(pmod(col("o_orderkey"), lit(5L)) === 0L)
          .select(lit(1L).as("seq"), lit("U").as("op"), col("o_orderkey"),
            col("o_orderpriority").as("c_o_orderpriority"),
            (col("cents") + 1000L).as("c_cents"))
        .unionAll(o.filter(pmod(col("o_orderkey"), lit(11L)) === 0L)
          .select(lit(2L).as("seq"), lit("D").as("op"), col("o_orderkey"),
            lit(null).cast("string").as("c_o_orderpriority"),
            lit(null).cast("long").as("c_cents")))
        .unionAll(o.filter(pmod(col("o_orderkey"), lit(7L)) === 0L)
          .select(lit(3L).as("seq"), lit("I").as("op"), col("o_orderkey"),
            col("o_orderpriority").as("c_o_orderpriority"),
            col("cents").as("c_cents")))
      Olap.cdcApply(base, changes, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          (sum("cents").cast("double") / 100.0).as("sum_totalprice"))
    }),

    // CORRELATION MATRIX (the measure-profiling surface): pairwise
    // Pearson r between the four lineitem measures, per return flag —
    // "which levers move together". FP discipline: every measure is an
    // exact integer micro-unit (qty integral, price/discount/tax at
    // their 2-dp grid), the sufficient statistics are DECIMAL(38,0)
    // sums of per-row Long products (order-free, overflow-proof to
    // ~10^38 — Long sums would wrap at ~10^5 × today's fact count),
    // and only the closed-form finalization runs in doubles, with the
    // oracle using the IDENTICAL parenthesization. ONE map-side-
    // combinable groupBy over the facts; no second pass, no window.
    "q66_corr_matrix" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qv"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("pv"),
        floor(col("l_discount") * 100.0 + 0.5).cast("long").as("dv"),
        floor(col("l_tax") * 100.0 + 0.5).cast("long").as("tv"))
      Olap.pearsonMatrix(li, Seq("l_returnflag"), Seq("qv", "pv", "dv", "tv"))
        .select(col("l_returnflag"), col("n_rows"),
          col("r_qv_pv").as("r_qty_price"), col("r_qv_dv").as("r_qty_disc"),
          col("r_qv_tv").as("r_qty_tax"), col("r_pv_dv").as("r_price_disc"),
          col("r_pv_tv").as("r_price_tax"), col("r_dv_tv").as("r_disc_tax"))
    }),

    // CHI-SQUARE INDEPENDENCE (the mix-shift detector): is market
    // segment independent of nation? Observed cell counts are exact
    // integers from ONE dimension-grain aggregate; row/column/grand
    // totals ride window sums over the CELL frame (≤ |segments|·
    // |nations| rows at any fact scale — the windows never see
    // facts). Expected counts and contributions are doubles of exact
    // integers with oracle-identical shape.
    "q67_chi2_independence" -> ((s, d) => {
      val cells = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_mktsegment", "n_name")
        .agg(count(lit(1)).as("observed"))
      Olap.chi2Cells(cells, "c_mktsegment", "n_name", "observed")
    }),

    // GINI CONCENTRATION (the inequality readout): how concentrated
    // is revenue across customers, per market segment. Per-customer
    // revenue is an exact integer-cent sum (one fact shuffle); the
    // rank index is a per-segment window over the CUSTOMER-grain
    // frame (dimension-sized); the closed form
    // G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) runs on DECIMAL(38,0)
    // sums so the only doubles are the final division.
    "q68_gini" -> ((s, d) => {
      val byCust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("cents"))
        .join(Tables.customer(s, d).select(col("c_custkey"),
          col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      Olap.giniByGroup(byCust, "c_mktsegment", "o_custkey", "cents")
        .withColumnRenamed("n_entities", "n_customers")
    }),

    // BENFORD FIRST-DIGIT PROFILE (the anomaly / fraud screen): the
    // leading significant digit of every order total against Benford's
    // log₁₀(1+1/d) expectation. The digit is exact integer string
    // arithmetic on integer cents (scaling by 100 never moves the
    // leading digit); shares divide exact counts; ONE fact aggregate
    // to a 9-row frame.
    "q69_benford" -> ((s, d) =>
      Olap.benfordProfile(
        Tables.orders(s, d).select(floor(col("o_totalprice") * 100.0 + 0.5)
          .cast("long").as("cents")), "cents")
        .withColumnRenamed("n_rows", "n_orders")),

    // DECILE LIFT / GAINS TABLE (the campaign-targeting readout):
    // customers ranked by revenue into ntile(10) deciles; per decile
    // the revenue share, cumulative share, and lift over a uniform
    // 10% slice — "how concentrated is the payoff of targeting the
    // top decile". Revenue is exact integer cents (one fact shuffle
    // to customer grain); the ntile window runs at CUSTOMER grain
    // with a total order (rev desc, custkey) so the decile split is
    // deterministic in both engines; shares divide DECIMAL(38,0)
    // sums.
    "q71_decile_lift" -> ((s, d) =>
      Olap.decileLift(
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .as("cents")), "o_custkey", "cents")),

    // JOIN-KEY SKEW PROFILE (the shuffle-planning readout): for each
    // candidate lineitem join key, cardinality / heaviest key / exact
    // p50+p99 per-key counts / max-over-mean skew — what decides
    // salting and AQE skew thresholds before a 100 TB join runs. One
    // key-grain aggregate per key; percentiles over KEY-grain counts
    "q70_skew_profile" -> ((s, d) =>
      Olap.keySkewProfile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),

    // PRICE–VOLUME–MIX waterfall (the period-over-period revenue
    // bridge): per brand, 1996→1997 ΔRev split into price / volume /
    // joint effects that sum to ΔRev by construction. ONE
    // conditionally-aggregated fact pass (year rides a CASE, not a
    // second scan); part→brand is a broadcast dim join; the effects
    // are doubles of exact integer cents/units with the oracle's
    // parenthesization. The finance readout behind "did we sell more,
    // or just at higher prices".
    "q72_price_volume_mix" -> ((s, d) => {
      val f = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), year(col("l_shipdate")).as("yr"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100.0 + 0.5).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
      Olap.priceVolumeMix(f, "p_brand", "yr", "cents", "qty", 1996, 1997)
    }),

    // FUNNEL LATENCY (q31's time dimension): seconds from first view
    // to the first strictly-later purchase, percentiled per
    // first-view day-of-week cohort. Latencies are exact integer
    // seconds; p50/p90 ride the histogram-rank exact-percentile pass
    // over the per-cohort latency frame (user-grain, never events);
    // quantile_cont interpolation parity is q16/q48's.
    "q73_funnel_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("first_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("first_view"))
        .groupBy("user_id").agg(min("ts").as("first_purchase"),
          min("first_view").as("first_view"))
      // the user-grain latency frame feeds TWO consumers (the count
      // and the percentile pass, which itself reads its input twice);
      // Spark has no cross-branch subplan reuse, so pin the small
      // frame once instead of re-running the events scan per branch
      val lat = p.select(
        dayofweek(col("first_view")).cast("long").as("cohort_dow"),
        (unix_timestamp(col("first_purchase")) -
          unix_timestamp(col("first_view"))).as("lat_sec"))
        .localCheckpoint()
      lat.groupBy("cohort_dow").agg(count(lit(1)).as("n_converts"))
        .join(Olap.exactPercentilesByGroup(lat, "cohort_dow", "lat_sec",
          Seq(0.5, 0.9)), Seq("cohort_dow"))
        .select(col("cohort_dow"), col("n_converts"),
          round(col("pcts")(0), 6).as("p50_latency_sec"),
          round(col("pcts")(1), 6).as("p90_latency_sec"))
    }),

    // AGING BUCKETS (the receivables/inventory-age report): every
    // order bucketed by its age at the corpus snapshot (max order
    // date, a 1-row broadcast anchor — q50's shape), counts and exact
    // integer-cent totals per (priority, bucket). Bucket assignment
    // is per-row arithmetic; the aggregate's key cardinality is
    // |priorities| × 4 whatever the fact count.
    "q74_aging_buckets" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority"),
        col("o_orderdate"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val anchor = o.agg(max("o_orderdate").as("snap"))
      o.crossJoin(broadcast(anchor))
        .withColumn("age_days",
          datediff(col("snap"), col("o_orderdate")).cast("long"))
        .withColumn("age_bucket",
          when(col("age_days") <= 30L, "0-30")
            .when(col("age_days") <= 60L, "31-60")
            .when(col("age_days") <= 90L, "61-90")
            .otherwise("91+"))
        .groupBy("o_orderpriority", "age_bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("cents").cast("double") / 100.0, 2).as("total_value"))
    }),

    // ROLLING OLS TREND (q55's regression over a moving window): the
    // 7-day trailing revenue slope per order priority — "is this
    // line's business accelerating, day by day". The fact stream
    // collapses to a DAY-grain frame first (one shuffle); the rolling
    // moment sums ride ROWS-frame windows over that frame in
    // DECIMAL(38,0) (q66's overflow discipline — epoch-day × cents
    // products wrap Long at scale); the closed-form slope divides
    // doubles of exact decimals at the oracle's parenthesization;
    // under-determined head windows (n < 2) → null.
    "q75_rolling_ols" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("y"))
        .withColumn("x", datediff(col("day"), lit("1970-01-01")).cast("long"))
      val w = Window.partitionBy("o_orderpriority").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,0)")).over(w)
      // the PRODUCTS cast to decimal BEFORE multiplying — a Long×Long
      // x·y wraps silently at epoch-day × 100 TB-scale daily cents;
      // the sums alone being decimal would not protect the product
      val dx = col("x").cast("decimal(38,0)")
      val dy = col("y").cast("decimal(38,0)")
      val rolled = daily
        .withColumn("n_days", count(lit(1)).over(w))
        .withColumn("sx", dsum(col("x"))).withColumn("sy", dsum(col("y")))
        .withColumn("sxy", sum(dx * dy).over(w))
        .withColumn("sxx", sum(dx * dx).over(w))
      val nd = col("n_days").cast("double")
      val den = nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      // fixed-point floor rounding, NOT round(): integer moments make
      // exact .5 decimal boundaries reachable (den | 10^k), where
      // HALF_UP-on-shortest-decimal and double-arithmetic ROUND
      // disagree — floor(x·1e6+0.5) is bit-identical in both engines
      val raw = (nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) / den / 100.0
      rolled.select(col("o_orderpriority"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_days"),
        when(col("n_days") >= 2L,
          floor(raw * 1e6 + 0.5) / 1e6).as("slope_per_day"))
    }),

    // BATCH SESSIONIZATION (st2's gaps-and-islands shape at rest):
    // per-user sessions split at >30-minute silences — session start,
    // event count, exact integer duration, micro-quantized value sum
    // (a raw double SUM's accumulation order is partition-dependent;
    // the Long micro units are order-free). Both windows are
    // user-keyed (lag + running sum on ONE user-partitioned exchange);
    // nothing global at any event scale.
    "q76_sessions" -> ((s, d) => {
      val wU = Window.partitionBy("user_id").orderBy("ts")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("vm"))
        .withColumn("gap_sec",
          unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(wU)))
        .withColumn("brk",
          when(col("gap_sec").isNull || col("gap_sec") > 1800L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("brk").over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts")))
            .as("duration_sec"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          round(sum("vm").cast("double") / 1e6, 6).as("total_value"))
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("n_events"), col("duration_sec"), col("total_value"))
    }),

    // INTER-ORDER GAP percentiles (the repurchase-cadence readout
    // behind q50's recency score): days between consecutive orders per
    // customer, percentiled per market segment. Gaps are exact integer
    // days from ONE customer-keyed lag window; p50/p90 ride the
    // histogram-rank exact-percentile pass over the gap frame.
    "q77_order_gaps" -> ((s, d) => {
      val wC = Window.partitionBy("o_custkey").orderBy("o_orderdate")
      val gaps = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"))
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag("o_orderdate", 1).over(wC))
            .cast("long"))
        .filter(col("gap_days").isNotNull)
        .join(Tables.customer(s, d).select(col("c_custkey"),
          col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
        // pinned once: the gap frame feeds the count AND the
        // percentile pass (q73's fan-out note)
        .localCheckpoint()
      gaps.groupBy("c_mktsegment").agg(count(lit(1)).as("n_gaps"))
        .join(Olap.exactPercentilesByGroup(gaps, "c_mktsegment", "gap_days",
          Seq(0.5, 0.9)), Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("n_gaps"),
          round(col("pcts")(0), 6).as("p50_gap_days"),
          round(col("pcts")(1), 6).as("p90_gap_days"))
    }),

    // DECILE TRANSITION MATRIX (q71's gains table × q41's Markov
    // shape): customers decile-ranked by 1996 revenue vs their 1997
    // decile — the churn/migration readout ("do top-decile customers
    // stay top-decile"). Two entity-grain ntile windows (q71's
    // total-order determinism), one customer-keyed join of two
    // customer-grain frames, a ≤100-row transition aggregate; the
    // row-share window runs over that 100-row frame.
    "q78_decile_transition" -> ((s, d) => {
      // r22 (window audit): the entity-grain ntile runs through
      // Olap.globalNtile's two-pass ranged rank — bit-identical
      // buckets, no single-task window over the customer frame
      def deciles(year: Int, out: String) = Olap.globalNtile(
        Tables.orders(s, d)
          .filter(org.apache.spark.sql.functions.year(col("o_orderdate"))
            === year)
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .as("cents")),
        Seq(col("cents").desc, col("o_custkey")), 10, out)
        .select(col("o_custkey"), col(out))
      val t = deciles(1996, "from_decile")
        .join(deciles(1997, "to_decile"), "o_custkey")
        .groupBy("from_decile", "to_decile")
        .agg(count(lit(1)).as("n_customers"))
      t.withColumn("row_share",
        round(col("n_customers").cast("double") /
          sum("n_customers").over(Window.partitionBy("from_decile"))
            .cast("double"), 6))
    }),

    // WEEKDAY SEASONALITY PROFILE (the calendar-mix readout behind
    // q75's trend): each day-of-week's average daily revenue indexed
    // to the overall daily average — "is Monday structurally light or
    // was this Monday bad". Facts collapse to the day grain once; the
    // 7-row dow frame and the 1-row total broadcast do the rest; the
    // index is a ratio of ratios of exact integers at the oracle's
    // parenthesization.
    "q79_weekday_profile" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("c"))
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val byDow = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("c").as("cents"))
      val tot = byDow.agg(sum("n_days").as("tn"), sum("cents").as("tc"))
      byDow.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_days"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"),
          round((col("cents").cast("double") / col("n_days").cast("double"))
            / (col("tc").cast("double") / col("tn").cast("double")), 6)
            .as("seasonality_index"))
    }),

    // COHORT LTV CURVES (q32's retention triangle with money on it):
    // customers cohorted by FIRST-ORDER month; per (cohort, month
    // offset) the active count, exact integer-cent revenue, the
    // cumulative revenue (window over the cohort×offset frame — never
    // facts) and cumulative LTV per cohort customer. The month offset
    // is pure integer arithmetic (y·12+m deltas — months_between's
    // day-aware fraction is engine-specific); cohort sizes ride a
    // broadcast of the customer-grain first-order frame.
    "q80_cohort_ltv" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val first = o.groupBy("o_custkey").agg(min("ym").as("cohort_ym"))
      // `first` is customer-grain by construction — a plain count is
      // the distinct count, without the expand/distinct step
      val sizes = first.groupBy("cohort_ym")
        .agg(count(lit(1)).as("cohort_size"))
      val cells = o.join(first, "o_custkey")
        .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym"))
          .as("month_offset"))
        .agg(countDistinct("o_custkey").as("n_active"),
          sum("cents").as("cents"))
      val wCum = Window.partitionBy("cohort_ym").orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sizes), Seq("cohort_ym"))
        .withColumn("cum_cents", sum("cents").over(wCum))
        .select(
          // (ym−1) div/mod so December reads "y-12", not "(y+1)-00"
          concat(floor((col("cohort_ym") - 1L) / 12).cast("long"), lit("-"),
            lpad((pmod(col("cohort_ym") - 1L, lit(12L)) + 1L).cast("string"),
              2, "0")).as("cohort"),
          col("month_offset"), col("n_active"), col("cohort_size"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"),
          round(col("cum_cents").cast("double") / 100.0, 2)
            .as("cum_revenue"),
          round(col("cum_cents").cast("double") /
            (col("cohort_size").cast("double") * 100.0), 6)
            .as("ltv_per_customer"))
    }),
    // GENERIC INCREMENTAL MV (round 18, r17 verdict #7): MvFold
    // unifies the two house MV contracts — h9's signed sum/count fold
    // and h24's append-only bitmap-distinct fold — behind one
    // measures API a user points at any star query. The entry drives
    // the full lifecycle on orders at (priority, order-year) grain:
    // build on the historical 4/5ths, fold in the 1/5th append batch,
    // RETRACT the o_orderkey % 7 = 0 slice of the historical rows
    // (sums/counts cancel exactly; fully-retracted groups drop), and
    // read next to an append-only bitmap MV of exact distinct
    // customers over the same lifecycle minus the retraction (bitmaps
    // refuse retraction by contract — the spec pins the matrix).
    // Oracle = FULL RECOMPUTE per measure semantics. Cents keep the
    // additive partials exact integers (the q80 convention); one
    // divide at readout.
    "q81_mv_fold" -> ((s, d) => {
      val f = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
        col("o_custkey"))
      val keys = Seq("o_orderpriority", "order_year")
      val hist = f.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val append = f.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      val retractRows = hist.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      val signed = Seq(MvSum("sum_cents", col("cents")),
        MvCount("n_orders"))
      val dist = Seq(MvBitmapDistinct("distinct_cust",
        col("o_custkey"), 1 << 21))
      val signedMv = MvFold.fold(
        MvFold.fold(MvFold.build(hist, keys, signed), append, keys, signed),
        retractRows, keys, signed, retract = true)
      val distMv = MvFold.fold(MvFold.build(hist, keys, dist),
        append, keys, dist)
      MvFold.read(signedMv, keys, signed)
        .join(MvFold.read(distMv, keys, dist), keys)
        .select(col("o_orderpriority"), col("order_year"),
          round(col("sum_cents").cast("double") / 100.0, 2).as("sum_price"),
          col("n_orders"), col("distinct_cust"))
    }),

    // INCREMENTAL QUANTILE MV (round 18): the THIRD point in q81's
    // retraction matrix — quantiles don't decompose over union (like
    // distinct counts) but equi-width bucket COUNTS do, and unlike
    // bitmaps they also decompose over set DIFFERENCE, so this MV
    // folds AND retracts exactly. Same lifecycle as q81 (build on
    // the historical 4/5ths, fold the 1/5th append, retract the %7
    // slice of history), stored at (priority, order-year, bucket)
    // grain — 4096 buckets of 16384 cents over [0, 2^26) — and read
    // off as p50/p95 via an exact integer rank-walk (answers exact
    // to one bucket width; no FP anywhere). 100 TB: facts shuffle
    // ONCE to the bounded keys×buckets grain; readout windows run
    // over MV rows only.
    "q84_quantile_mv" -> ((s, d) => {
      val f = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val keys = Seq("o_orderpriority", "order_year")
      val (lo, hi, nb) = (0L, 1L << 26, 4096)
      val hist = f.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val append = f.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      val retractRows = hist.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      val mv = MvFold.foldHist(
        MvFold.foldHist(MvFold.buildHist(hist, keys, col("cents"), lo, hi, nb),
          append, keys, col("cents"), lo, hi, nb),
        retractRows, keys, col("cents"), lo, hi, nb, retract = true)
      MvFold.readHistQuantiles(mv, keys, Seq(50, 95), lo, hi, nb)
    }),

    // SQL SURFACE PROOF (round 18): the GraftExtensions function
    // registry driven end-to-end through spark.sql — a user who only
    // speaks SQL gets the native codegen'd expressions (fingerprint64,
    // subword_estimate, vector_dot) by name, with Graft.install's
    // idempotent registration and the OptimizeSelfDot rule live in
    // the session (vector_dot(x, x) folds to one array traversal; the
    // emitted value is Σx² either way, so the oracle is rule-blind).
    // 100 TB shape: pure per-row native expressions inside
    // whole-stage codegen over an id-equi join.
    "q85_sql_surface" -> ((s, d) => {
      graft.Graft.install(s)
      Tables.documents(s, d).createOrReplaceTempView("g_docs")
      Tables.embeddings(s, d).createOrReplaceTempView("g_emb")
      s.sql("""
        SELECT d.doc_id,
          fingerprint64(d.text) AS fingerprint,
          subword_estimate(split(trim(lower(d.text)), '\\s+')) AS n_subwords,
          round(vector_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
                           CAST(e.embedding AS ARRAY<DOUBLE>)), 6) AS norm_sq
        FROM g_docs d JOIN g_emb e ON e.vec_id = d.doc_id
      """)
    }),

    // ROLLING EXACT MEDIAN (round 18): the order-statistic the
    // ewma/OLS control family (q54/q75) can't express — a trailing
    // 7-order median of spend per customer, the robust baseline for
    // per-entity anomaly flags (median shrugs off the one-off spike
    // that drags a mean). Exact integer cents in the frame kill FP
    // ambiguity; the even/odd interpolation is ONE closed formula
    // (a[(n+1) div 2] + a[n div 2 + 1]) / 2 — identical in both
    // engines by construction (the oracle computes the same list
    // expression, never DuckDB's quantile_cont). 100 TB shape:
    // partitioned by customer with a BOUNDED 7-row frame — state is
    // O(7) per running key, the window runs inside each hash
    // partition with no global sort, and the sort_array is over ≤7
    // elements per row (constant work, codegen-friendly).
    "q82_rolling_quantile" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
        .withColumn("a", sort_array(collect_list(col("cents")).over(w)))
        // raw double, no ROUND: the pair-sum is an exact integer and
        // one IEEE division is bit-identical in both engines, while
        // rounding half-cent boundaries is not (HALF_UP vs banker's)
        .withColumn("rolling_median",
          (element_at(col("a"), expr("(size(a) + 1) div 2").cast("int")) +
            element_at(col("a"), expr("size(a) div 2 + 1").cast("int")))
            .cast("double") / 200.0)
        .select(col("o_custkey"), col("o_orderkey"), col("rolling_median"))
    }),

    // SEASONAL DECOMPOSITION (round 18): classical additive
    // decompose of the daily revenue series — trend = centered
    // 7-day moving average, seasonal = mean detrended deviation per
    // weekday, residual = the rest. The q61 forecast family's
    // missing diagnostic: it answers "is Monday actually weak, or
    // is that the trend?" before anyone fits a model. EXACT INTEGERS
    // end to end (the self-review close of the first cut, whose
    // seasonal was an order-dependent double mean): the trend rides
    // as its exact (sum, count) pair, and the detrended deviation is
    // scaled by 420 — every centered frame holds 4–7 days and
    // 4,5,6,7 all divide 420 — so det420 = 420·cents − tsum·(420/n)
    // is an exact long, group sums of it are exact, and every output
    // is a FIXED chain of divisions of exact integers (bit-identical
    // in any engine, any partitioning). 100 TB shape: the series is
    // DAILY GRAIN — thousands of rows regardless of fact volume —
    // so the unpartitioned bounded window is a non-issue; the fact
    // table pays exactly one shuffle (the daily pre-aggregate).
    "q83_seasonal_decompose" -> ((s, d) => {
      val wTrend = Window.orderBy("day").rowsBetween(-3, 3)
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("cents"))
      val tr = daily
        .withColumn("tsum", sum(col("cents")).over(wTrend))
        .withColumn("tcnt", count(lit(1)).over(wTrend))
        .withColumn("wd", dayofweek(col("day")))
        .withColumn("det420",
          lit(420L) * col("cents") - col("tsum") * expr("420L div tcnt"))
      val seasonal = tr.groupBy("wd")
        .agg(sum(col("det420")).as("s420"), count(lit(1)).as("n"))
      tr.join(broadcast(seasonal), "wd")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("cents") / 100.0, 2).as("value"),
          round(col("tsum").cast("double") / col("tcnt") / 100.0, 2).as("trend"),
          round(col("s420").cast("double") / (lit(420.0) * col("n")) / 100.0, 2)
            .as("seasonal"),
          round((col("det420") * col("n") - col("s420")).cast("double")
            / (lit(420.0) * col("n")) / 100.0, 2).as("resid"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
         ROUND(AVG(l_quantity), 6) AS avg_qty,
         ROUND(AVG(l_extendedprice), 6) AS avg_price,
         ROUND(AVG(l_discount), 6) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         ROUND(l_extendedprice * l_discount, 4) AS disc_revenue,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderpriority,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q4_broadcast_join" ->
      """SELECT r_name, n_name, COUNT(*) AS num_customers,
         ROUND(SUM(c_acctbal), 2) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q5_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
    "q6_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
         COUNT(DISTINCT l_suppkey) AS distinct_supps,
         COUNT(DISTINCT (l_partkey, l_suppkey)) AS distinct_part_supp,
         COUNT(*) AS total_rows
         FROM lineitem""",
    "q7_window" ->
      """SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         ROUND(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
         ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""",
    "q8_rollup" ->
      """SELECT COALESCE(r_name, '(all)') AS region_name,
         COALESCE(n_name, '(all)') AS nation_name,
         COUNT(*) AS num_customers,
         ROUND(SUM(c_acctbal), 2) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)""",
    "q9_cube" ->
      """SELECT COALESCE(c_mktsegment, '(all)') AS segment,
         COALESCE(o_orderpriority, '(all)') AS priority,
         COUNT(*) AS num_orders,
         ROUND(SUM(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE(c_mktsegment, o_orderpriority)""",
    "q10_semi_anti" ->
      """SELECT 'has_orders' AS tag, c_custkey FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         UNION ALL
         SELECT 'no_orders' AS tag, c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q11_setops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS k FROM customer),
              sn AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
         SELECT 'union' AS tag, k FROM (SELECT k FROM cn UNION SELECT k FROM sn)
         UNION ALL
         SELECT 'intersect' AS tag, k FROM (SELECT k FROM cn INTERSECT SELECT k FROM sn)
         UNION ALL
         SELECT 'except' AS tag, k FROM (SELECT k FROM cn EXCEPT SELECT k FROM sn)""",
    "q12_conditional_agg" ->
      """SELECT l_returnflag,
         ROUND(SUM(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0.0 END), 2) AS rev_bulk,
         ROUND(SUM(CASE WHEN l_discount > 0.05 THEN l_extendedprice * l_discount ELSE 0.0 END), 4) AS rev_discounted,
         SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END)::BIGINT AS n_taxed,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q13_having" ->
      """SELECT l_partkey, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_lines
         FROM lineitem GROUP BY l_partkey HAVING SUM(l_quantity) > 100""",
    "q14_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part
         WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)""",
    "q15_pivot" ->
      """SELECT c_nationkey,
         COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS "AUTOMOBILE",
         COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS "BUILDING",
         COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS "FURNITURE",
         COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS "HOUSEHOLD",
         COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS "MACHINERY"
         FROM customer GROUP BY c_nationkey""",
    // the oracle names the values the Spark side discovers — same data,
    // so the discovered domain IS this list
    "q36_dynamic_pivot" ->
      """SELECT c_mktsegment,
         COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2), 0) AS "1-URGENT",
         COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '2-HIGH'), 2), 0) AS "2-HIGH",
         COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '3-MEDIUM'), 2), 0) AS "3-MEDIUM",
         COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED'), 2), 0) AS "4-NOT SPECIFIED",
         COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 2), 0) AS "5-LOW"
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q16_percentile" ->
      """SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
         ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
         ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
         ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q18_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
         COALESCE(o_orderpriority, '(all)') AS priority,
         COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""",
    "q19_json_extract" ->
      raw"""SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
         MAX(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS max_k,
         MIN(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS min_k
         FROM events GROUP BY event_type""",
    // q20's exact-regime oracle: accuracy 10⁶ ≥ every gate group size
    // pins the GK quantile to its exact target-rank element, which
    // empirically IS DuckDB's quantile_disc (the floor(0.5·(n−1))+1
    // rank) at both gate SFs; the HLL distinct counts are committed
    // values keyed by corpus size (merge-order-independent register
    // maxima over a fixed hash — the codec-digest pattern)
    "q20_approx_sketch" ->
      """WITH fp AS (SELECT COUNT(*) AS k FROM lineitem),
         hll(l_returnflag, approx_parts, k) AS (VALUES
           ('A', 195, 6000), ('N', 195, 6000), ('R', 195, 6000),
           ('A', 1947, 60000), ('N', 1947, 60000), ('R', 1947, 60000)),
         med AS (
           SELECT l_returnflag,
             quantile_disc(l_extendedprice, 0.5) AS approx_median
           FROM lineitem GROUP BY l_returnflag)
         SELECT h.l_returnflag, CAST(h.approx_parts AS BIGINT) AS approx_parts,
           m.approx_median
         FROM hll h JOIN fp ON h.k = fp.k JOIN med m USING (l_returnflag)""",
    "q21_asof_join" ->
      """WITH j AS (
           SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
           FROM events e LEFT JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
         SELECT event_id, user_id, o_orderkey AS asof_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS asof_orderdate,
           o_totalprice AS asof_totalprice
         FROM j WHERE rn = 1""",
    "q35_point_in_time" ->
      """WITH p AS (
           SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
         s AS (
           SELECT event_id AS state_event_id, user_id,
             CAST(ts AS TIMESTAMP) AS ts, event_type AS state
           FROM events WHERE event_type <> 'purchase'),
         j AS (
           SELECT p.purchase_id, p.user_id, s.state, s.state_event_id,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY s.ts DESC NULLS LAST, s.state_event_id DESC NULLS LAST) AS rn
           FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts)
         SELECT purchase_id, user_id, state AS asof_state,
           state_event_id AS asof_state_event_id
         FROM j WHERE rn = 1""",
    "q23_full_outer" ->
      """WITH c AS (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey),
              s AS (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey)
         SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
         FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""",
    "q24_range_window" ->
      """SELECT o_custkey, o_orderkey,
         COUNT(*) OVER w AS n_trailing_30d,
         ROUND(SUM(o_totalprice) OVER w, 4) AS sum_trailing_30d
         FROM (SELECT *, epoch(o_orderdate)::BIGINT AS o_epoch FROM orders WHERE o_custkey < 200)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_epoch
           RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""",
    "q25_null_semantics" ->
      """SELECT o_orderstatus,
         COUNT(*) AS n_rows,
         COUNT(prio) AS n_nonnull,
         COUNT(DISTINCT prio) AS n_distinct_nonnull,
         CAST(SUM(CASE WHEN prio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(SUM(CASE WHEN prio IS NOT DISTINCT FROM '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium_nullsafe
         FROM (SELECT o_orderstatus, NULLIF(o_orderpriority, '1-URGENT') AS prio FROM orders)
         GROUP BY o_orderstatus""",
    "q27_rank_family" ->
      """SELECT o_orderpriority, o_orderkey,
         CAST(ntile(4) OVER w AS INT) AS quartile,
         ROUND(percent_rank() OVER w, 6) AS pr,
         ROUND(cume_dist() OVER w, 6) AS cd,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk
         FROM orders WHERE o_custkey < 300
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)""",
    "q28_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey AS top_orderkey,
                t.o_totalprice AS top_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         WHERE c.c_mktsegment = 'BUILDING'""",
    "q29_unpivot" ->
      """WITH a AS (
           SELECT l_returnflag,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(SUM(l_extendedprice), 2) AS sum_price,
             ROUND(SUM(l_discount), 2) AS sum_disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM a""",
    "q30_band_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
           ('q00_10', 0.0, 10.0), ('q10_25', 10.0, 25.0),
           ('q25_40', 25.0, 40.0), ('q40_60', 40.0, 60.0))
         SELECT band, COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN bands
           ON l_quantity >= lo AND l_quantity < hi
         GROUP BY band""",
    "q31_funnel" ->
      """WITH v AS (
           SELECT user_id, MIN(ts) AS first_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (
           SELECT e.user_id, MIN(e.ts) AS first_click
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.first_view
           GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, MIN(e.ts) AS first_purchase
           FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.first_click
           GROUP BY e.user_id),
         stages AS (
           SELECT '1_view' AS stage, user_id FROM v
           UNION ALL SELECT '2_click', user_id FROM c
           UNION ALL SELECT '3_purchase', user_id FROM p)
         SELECT stage, COUNT(DISTINCT user_id) AS n_users
         FROM stages GROUP BY stage""",
    "q32_retention" ->
      """WITH act AS (
           SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events),
         first AS (
           SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
         SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
         FROM act a JOIN first f ON a.user_id = f.user_id
         GROUP BY 1, 2""",
    // the salted join must produce exactly the plain join's result
    "q33_salted_join" ->
      """WITH users AS (
           SELECT DISTINCT user_id AS u_id,
             'seg' || CAST(user_id % 3 AS VARCHAR) AS segment
           FROM events)
         SELECT segment, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
         FROM events e JOIN users u ON e.user_id = u.u_id
         GROUP BY segment""",
    "q26_nested_agg" ->
      """SELECT l_returnflag,
         array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
         COUNT(DISTINCT l_linestatus) AS n_statuses,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q17_time_agg" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month, event_type,
         COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value,
         COUNT(DISTINCT user_id) AS distinct_users
         FROM events GROUP BY 1, 2""",
    "q34_scd2_intervals" ->
      """SELECT user_id, event_id, event_type AS state,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(CAST(ts AS TIMESTAMP)) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""",
    // the window form IS the oracle for the heap aggregate: identical
    // sort key (rounded score desc, zero-padded tie asc)
    "q37_topk_per_group" ->
      """SELECT l_returnflag, CAST(rnk AS BIGINT) AS rnk, l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY ROUND(l_extendedprice, 9) DESC,
                 lpad(CAST(l_orderkey AS VARCHAR), 12, '0') || '-' ||
                 lpad(CAST(l_linenumber AS VARCHAR), 2, '0') ASC) AS rnk
           FROM lineitem)
         WHERE rnk <= 3""",
    // scalar-subquery-per-check audit; SUM cast for BIGINT parity
    "q38_integrity_audit" ->
      """SELECT 'lineitem_orphan_order' AS check_name,
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL) AS n_violations
         UNION ALL SELECT 'lineitem_orphan_part',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
              ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
         UNION ALL SELECT 'lineitem_orphan_supplier',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
              ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
         UNION ALL SELECT 'lineitem_nonpositive_qty',
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
         UNION ALL SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
         UNION ALL SELECT 'orders_orphan_customer',
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
         UNION ALL SELECT 'orders_nonpositive_total',
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
         UNION ALL SELECT 'lineitem_dup_pk',
           (SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) FROM
             (SELECT COUNT(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
         UNION ALL SELECT 'customer_no_orders',
           (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
         UNION ALL SELECT 'orders_no_lineitem',
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))""",
    "q39_histogram" ->
      """SELECT l_returnflag,
           CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice), 4) AS sum_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty
         FROM lineitem GROUP BY 1, 2""",
    // LOCF integral: value_i weighted by its holding time, normalized
    // by the user's observed span; last observation unweighted
    "q40_time_weighted_avg" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         w AS (
           SELECT user_id, value, us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
           FROM e)
         SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value * (next_us - us)) / (MAX(us) - MIN(us)), 4) AS twa
         FROM w GROUP BY user_id HAVING COUNT(*) >= 2""",
    // per-user lag pairs → pair counts → row-normalized probabilities
    "q41_transition_matrix" ->
      """WITH w AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         t AS (
           SELECT prev_type, event_type, COUNT(*) AS n_transitions
           FROM w WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, event_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE) /
             SUM(CAST(n_transitions AS DOUBLE)) OVER (PARTITION BY prev_type), 6) AS p
         FROM t""",
    // the incremental merge must reproduce the full rebuild: q34's
    // SQL over ALL events, verbatim
    "q45_scd2_merge" ->
      """SELECT user_id, event_id, event_type AS state,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(CAST(ts AS TIMESTAMP)) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""",
    // the same 1-PRECEDING frame + IGNORE NULLS first/last pair
    "q44_attribution" ->
      """WITH w AS (
           SELECT user_id, event_id, event_type,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_id END
               IGNORE NULLS) OVER win AS ft_id,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER win AS ft_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
               IGNORE NULLS) OVER win AS lt_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER win AS lt_type
           FROM events
           WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id AS conversion_id,
           COALESCE(ft_id, -1) AS first_touch_id,
           COALESCE(ft_type, 'direct') AS first_touch_type,
           COALESCE(lt_id, -1) AS last_touch_id,
           COALESCE(lt_type, 'direct') AS last_touch_type
         FROM w WHERE event_type = 'purchase'""",
    // grid via generate_series per user; last-in-hour by (ts,
    // event_id) desc; LOCF via last_value IGNORE NULLS
    "q43_resample_locf" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
           FROM events),
         h AS (
           SELECT user_id, hr, value,
             row_number() OVER (PARTITION BY user_id, hr
               ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, hr) AS n_events
           FROM e),
         ha AS (SELECT user_id, hr, CAST(n_events AS BIGINT) AS n_events,
                  value AS last_v FROM h WHERE rn = 1),
         spans AS (
           SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM e GROUP BY user_id),
         grid AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
           FROM spans),
         j AS (
           SELECT g.user_id, g.hr, COALESCE(ha.n_events, 0) AS n_events,
             last_value(ha.last_v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
           FROM grid g LEFT JOIN ha ON g.user_id = ha.user_id AND g.hr = ha.hr)
         SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M') AS grid_hour,
           n_events, ROUND(locf, 6) AS locf_value
         FROM j""",
    // capacity ≥ distinct sources → the SpaceSaving summary is exact
    // with zero errors; ground truth is the plain frequency ranking
    "q42_heavy_hitters" ->
      """SELECT CAST(row_number() OVER
           (ORDER BY COUNT(*) DESC, source ASC) AS BIGINT) AS rank,
         source, COUNT(*) AS cnt, CAST(0 AS BIGINT) AS err
         FROM documents GROUP BY source
         QUALIFY rank <= 10""",
    // ordered brand pairs per order via a self-join (the oracle may be
    // quadratic-in-basket; the engine's sorted-set explode is the
    // scale shape); lift/support in double from the first operation
    "q46_market_basket" ->
      """WITH ob AS (
           SELECT DISTINCT l_orderkey, p_brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
         bc AS (SELECT p_brand, COUNT(*) AS cnt FROM ob GROUP BY p_brand),
         pr AS (
           SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS pair_cnt
           FROM ob a JOIN ob b
             ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
           GROUP BY 1, 2)
         SELECT brand_a, brand_b, pair_cnt,
           ROUND(CAST(pair_cnt AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(pair_cnt AS DOUBLE) * n_orders
             / (ca.cnt * cb.cnt), 6) AS lift
         FROM pr
         JOIN bc ca ON pr.brand_a = ca.p_brand
         JOIN bc cb ON pr.brand_b = cb.p_brand
         CROSS JOIN n""",
    // first-3 path per user by the same (ts, event_id) order key;
    // deterministic global rank ties on the path string
    "q47_path_topk" ->
      """WITH seq AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
           FROM seq WHERE rn <= 3 GROUP BY user_id),
         c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
         SELECT CAST(row_number() OVER
             (ORDER BY n_users DESC, path) AS BIGINT) AS rank,
           path, n_users
         FROM c QUALIFY rank <= 20""",
    // medians via quantile_cont (q16's proven interpolation parity);
    // the 9-dp rounded boundary compare matches the engine exactly
    "q48_outliers_mad" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         dev AS (
           SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY event_type)
         SELECT d.event_id, d.event_type, d.value,
           ROUND(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
         FROM dev d JOIN mad m USING (event_type)
         WHERE m.mad <> 0
           AND ROUND(abs(0.6745 * (d.value - d.med) / m.mad), 9) > 3.5""",
    // the same cascaded running-max construction, re-derived; epoch()
    // on a second-granularity ts matches unix_timestamp exactly
    "q49_window_funnel" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
             epoch(CAST(ts AS TIMESTAMP)) AS t
           FROM events),
         w1 AS (
           SELECT *, MAX(CASE WHEN event_type = 'view' THEN t END) OVER
             (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vmax
           FROM e),
         w2 AS (
           SELECT *, MAX(CASE WHEN event_type = 'click' THEN vmax END) OVER
             (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cvmax
           FROM w1)
         SELECT user_id, CAST(MAX(CASE
             WHEN event_type = 'purchase' AND cvmax IS NOT NULL
               AND t - cvmax <= 21600 THEN 3
             WHEN event_type = 'click' AND vmax IS NOT NULL
               AND t - vmax <= 21600 THEN 2
             WHEN event_type = 'view' THEN 1
             ELSE 0 END) AS BIGINT) AS funnel_level
         FROM w2 GROUP BY user_id""",
    // quintile cuts via quantile_cont (q16 parity), 9-dp rounded
    // boundary compares; date_diff('day') = Spark's datediff
    "q50_rfm" ->
      """WITH cust AS (
           SELECT o_custkey, MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
           FROM orders GROUP BY o_custkey),
         a AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
         c2 AS (
           SELECT o_custkey, frequency, monetary,
             CAST(date_diff('day', CAST(last_order AS TIMESTAMP),
               CAST(anchor AS TIMESTAMP)) AS BIGINT) AS recency_days
           FROM cust CROSS JOIN a),
         th AS (SELECT
           quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rp,
           quantile_cont(frequency,    [0.2, 0.4, 0.6, 0.8]) AS fp,
           quantile_cont(monetary,     [0.2, 0.4, 0.6, 0.8]) AS mp
           FROM c2),
         sc AS (
           SELECT c2.*,
             CAST(1 + (recency_days < ROUND(rp[1], 9))::INT
                    + (recency_days < ROUND(rp[2], 9))::INT
                    + (recency_days < ROUND(rp[3], 9))::INT
                    + (recency_days < ROUND(rp[4], 9))::INT AS BIGINT) AS r_score,
             CAST(1 + (frequency > ROUND(fp[1], 9))::INT
                    + (frequency > ROUND(fp[2], 9))::INT
                    + (frequency > ROUND(fp[3], 9))::INT
                    + (frequency > ROUND(fp[4], 9))::INT AS BIGINT) AS f_score,
             CAST(1 + (monetary > ROUND(mp[1], 9))::INT
                    + (monetary > ROUND(mp[2], 9))::INT
                    + (monetary > ROUND(mp[3], 9))::INT
                    + (monetary > ROUND(mp[4], 9))::INT AS BIGINT) AS m_score
           FROM c2 CROSS JOIN th)
         SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
         FROM sc""",
    // the bitmap OR is merge-order-independent and exact, so the
    // ground truth is the plain two-phase distinct
    "q51_bitmap_distinct" ->
      """SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(*) AS n_orders
         FROM orders GROUP BY o_orderpriority""",
    // same sequence render, same regex; both engines scan greedy
    // non-overlapping
    "q52_pattern_match" ->
      """WITH seq AS (
           SELECT user_id,
             strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
             string_agg(CASE event_type WHEN 'view' THEN 'v'
               WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
               WHEN 'signup' THEN 's' ELSE 'e' END, ''
               ORDER BY ts, event_id) AS seq
           FROM events GROUP BY 1, 2)
         SELECT user_id, day, seq,
           CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT) AS n_matches,
           regexp_extract(seq, 'vc+p') AS first_match
         FROM seq WHERE len(regexp_extract_all(seq, 'vc+p')) > 0""",
    // the clamped recurrence as a recursive CTE, same operand order
    // as the engine's aggregate fold (FP-reproducible)
    "q53_cusum" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         stats AS (SELECT event_type, AVG(c) AS mu FROM daily GROUP BY 1),
         idx AS (
           SELECT daily.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c, s.mu,
             GREATEST(CAST(0 AS DOUBLE), i.c - s.mu * 1.1) AS cus
           FROM idx i JOIN stats s USING (event_type) WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c, r.mu,
             GREATEST(CAST(0 AS DOUBLE), r.cus + i.c - r.mu * 1.1)
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(c AS BIGINT) AS n_events,
           ROUND(cus, 6) AS cusum,
           (ROUND(cus, 9) > mu * 0.5) AS alarm
         FROM rec""",
    "q54_ewma_control" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         stats AS (
           SELECT event_type, COALESCE(stddev_samp(c), 0.0) AS sigma
           FROM daily GROUP BY 1),
         idx AS (
           SELECT daily.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c, s.sigma,
             i.c AS ew, CAST(0.0 AS DOUBLE) AS res
           FROM idx i JOIN stats s USING (event_type) WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c, r.sigma,
             0.25 * i.c + 0.75 * r.ew,
             i.c - r.ew
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(c AS BIGINT) AS n_events,
           ROUND(ew, 6) AS ewma,
           ROUND(res, 6) AS resid,
           (ROUND(ABS(res), 9) > sigma * 3.0) AS alarm
         FROM rec""",
    "q55_ols_trend" ->
      """WITH daily AS (
           SELECT r_name,
             date_trunc('day', o_orderdate) AS d,
             SUM(o_totalprice) AS rev
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2),
         pts AS (
           SELECT r_name,
             CAST(date_diff('day', DATE '1994-01-01', d) AS DOUBLE) AS x,
             CAST(rev AS DOUBLE) AS y
           FROM daily),
         suff AS (
           SELECT r_name, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
           FROM pts GROUP BY 1),
         fit AS (
           SELECT r_name, n,
             n * sxy - sx * sy AS dx,
             n * sxx - sx * sx AS vx,
             n * syy - sy * sy AS vy,
             sx, sy
           FROM suff)
         SELECT r_name, CAST(n AS BIGINT) AS n_days,
           ROUND(CASE WHEN vx <> 0 THEN dx / vx END, 6) AS trend_per_day,
           ROUND(CASE WHEN vx <> 0
             THEN (sy - (dx / vx) * sx) / n END, 2) AS intercept,
           ROUND(CASE WHEN vx <> 0 AND vy <> 0
             THEN (dx * dx) / (vx * vy) END, 6) AS r2
         FROM fit""",
    "q56_rolling_distinct" ->
      """WITH ords AS (
           SELECT date_trunc('day', o_orderdate) AS d, o_custkey
           FROM orders),
         daily AS (
           SELECT d, COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS active_today
           FROM ords GROUP BY 1),
         wau AS (
           SELECT x.d, COUNT(DISTINCT o.o_custkey) AS active_7d
           FROM daily x JOIN ords o
             ON o.d BETWEEN x.d - INTERVAL 6 DAY AND x.d
           GROUP BY 1),
         firsts AS (
           SELECT o_custkey, MIN(d) AS fd FROM ords GROUP BY 1),
         news AS (
           SELECT fd AS d, COUNT(*) AS new_customers
           FROM firsts GROUP BY 1)
         SELECT strftime(daily.d, '%Y-%m-%d') AS day,
           daily.n_orders, daily.active_today, wau.active_7d,
           COALESCE(news.new_customers, 0) AS new_customers,
           CAST(SUM(COALESCE(news.new_customers, 0))
             OVER (ORDER BY daily.d) AS BIGINT) AS cum_customers
         FROM daily
         JOIN wau ON daily.d = wau.d
         LEFT JOIN news ON daily.d = news.d""",
    "q57_interval_align" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts
           FROM events),
         states AS (
           SELECT user_id, event_type AS state, ts AS s_from,
             lead(ts) OVER w AS s_to
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         cs AS (SELECT * FROM states WHERE s_to IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sess AS (
           SELECT user_id, sess_idx,
             MIN(ts) AS b_start, MAX(ts) AS b_end
           FROM (
             SELECT *, SUM(new_sess) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
             FROM flagged)
           GROUP BY 1, 2),
         al AS (
           SELECT c.user_id, c.state, c.s_from, s.b_start,
             GREATEST(c.s_from, s.b_start) AS o_start,
             LEAST(c.s_to, s.b_end) AS o_end
           FROM cs c JOIN sess s ON c.user_id = s.user_id
           WHERE c.s_from <= s.b_end AND s.b_start < c.s_to)
         SELECT user_id, state,
           strftime(s_from, '%Y-%m-%d %H:%M:%S') AS state_from,
           strftime(b_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(o_start, '%Y-%m-%d %H:%M:%S') AS overlap_from,
           strftime(o_end, '%Y-%m-%d %H:%M:%S') AS overlap_to,
           epoch_us(o_end) - epoch_us(o_start) AS overlap_us
         FROM al WHERE o_start <= o_end""",
    "q58_fiscal_rollup" ->
      """WITH f AS (
           SELECT o_totalprice,
             CAST(year(o_orderdate)
               + CASE WHEN month(o_orderdate) >= 7 THEN 1 ELSE 0 END
               AS BIGINT) AS fy,
             CAST(((month(o_orderdate) - 7) % 12 + 12) % 12 + 1
               AS BIGINT) AS fm
           FROM orders),
         g AS (SELECT fy, fm, CAST((fm - 1) // 3 + 1 AS BIGINT) AS fq,
                 o_totalprice FROM f)
         SELECT fy, fq, fm,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders,
           CAST(GROUPING(fy, fq, fm) AS BIGINT) AS lvl
         FROM g GROUP BY ROLLUP (fy, fq, fm)""",
    "q59_ab_test" ->
      """WITH u AS (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 180.0
                      THEN 1 ELSE 0 END) AS converted,
             CASE WHEN (user_id * 1103515245 + 12345) % 2147483648 % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
           FROM events GROUP BY user_id),
         v AS (
           SELECT
             CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
               AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
               AS BIGINT) AS c_b
           FROM u),
         j AS (
           SELECT n_a, c_a, n_b, c_b,
             CAST(c_a AS DOUBLE) / n_a AS rate_a,
             CAST(c_b AS DOUBLE) / n_b AS rate_b,
             CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool
           FROM v),
         z AS (
           SELECT *, CASE WHEN p_pool > 0.0 AND p_pool < 1.0 THEN
             (rate_a - rate_b) /
               sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))
             END AS z_stat
           FROM j)
         SELECT n_a, c_a, ROUND(rate_a, 6) AS rate_a,
           n_b, c_b, ROUND(rate_b, 6) AS rate_b,
           ROUND(rate_a - rate_b, 6) AS lift,
           ROUND(z_stat, 6) AS z_stat,
           COALESCE(ROUND(ABS(z_stat), 9) > 1.96, false) AS significant
         FROM z""",
    "q60_pop_growth" ->
      """WITH monthly AS (
           SELECT r_name, strftime(date_trunc('month', o_orderdate), '%Y-%m')
               AS month,
             SUM(o_totalprice) AS rev
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2),
         mi AS (
           SELECT r_name, month, rev,
             CAST(substring(month, 1, 4) AS INT) * 12
               + CAST(substring(month, 6, 2) AS INT) AS mi
           FROM monthly)
         SELECT m.r_name, m.month, ROUND(m.rev, 2) AS revenue,
           ROUND((m.rev - pm.rev) / pm.rev * 100.0, 4) AS mom_pct,
           ROUND((m.rev - py.rev) / py.rev * 100.0, 4) AS yoy_pct
         FROM mi m
         LEFT JOIN mi pm ON m.r_name = pm.r_name AND m.mi = pm.mi + 1
         LEFT JOIN mi py ON m.r_name = py.r_name AND m.mi = py.mi + 12""",
    "q61_holt_forecast" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT daily.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c,
             i.c AS lv, CAST(0.0 AS DOUBLE) AS tr,
             CAST(NULL AS DOUBLE) AS fc, true AS fst
           FROM idx i WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c,
             CASE WHEN r.fst THEN 0.5 * i.c + 0.5 * r.lv
                  ELSE 0.5 * i.c + 0.5 * (r.lv + r.tr) END,
             CASE WHEN r.fst THEN (0.5 * i.c + 0.5 * r.lv) - r.lv
                  ELSE 0.25 * ((0.5 * i.c + 0.5 * (r.lv + r.tr)) - r.lv)
                       + 0.75 * r.tr END,
             r.lv + r.tr,
             false
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(c AS BIGINT) AS n_events,
           ROUND(lv, 6) AS level,
           ROUND(tr, 6) AS trend,
           ROUND(fc, 6) AS forecast,
           ROUND(c - fc, 6) AS forecast_err
         FROM rec WHERE rn >= 2""",
    // strict-dominance NOT EXISTS — quadratic, fine as an oracle,
    // derivation-independent of the engine's grid-prune + sweep
    "q62_skyline" ->
      """WITH pop AS (
           SELECT p_partkey, p_retailprice AS price,
             CAST(COUNT(l_orderkey) AS BIGINT) AS n_lines
           FROM part LEFT JOIN lineitem ON l_partkey = p_partkey
           GROUP BY 1, 2)
         SELECT CAST(row_number() OVER (ORDER BY price, p_partkey)
             AS BIGINT) AS rank,
           p_partkey AS part, price, n_lines
         FROM pop a
         WHERE NOT EXISTS (
           SELECT 1 FROM pop b
           WHERE b.price <= a.price AND b.n_lines >= a.n_lines
             AND (b.price < a.price OR b.n_lines > a.n_lines))""",
    // both bottom-64 sketches re-derived from the deterministic
    // 31-bit double-LCG hash; estimate = exact size below k, else
    // floor((k-1)·2^31 / h_k + 0.5); union = bottom-64 of the merged
    // distinct hash sets; intersection by inclusion–exclusion
    "q63_sketch_setops" ->
      """WITH oc AS (
           SELECT c.c_mktsegment, (o.o_orderkey % 2 = 0) AS even,
             c.c_custkey AS cust
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         h1 AS (
           SELECT DISTINCT c_mktsegment, even,
             (1103515245 * cust + 12345) % 2147483648 AS h1
           FROM oc),
         hh AS (
           SELECT DISTINCT c_mktsegment, even,
             (1103515245 * xor(h1, h1 >> 13) + 12345) % 2147483648 AS h
           FROM h1),
         ska AS (
           SELECT c_mktsegment, h,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY h) AS rn
           FROM hh WHERE even),
         skb AS (
           SELECT c_mktsegment, h,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY h) AS rn
           FROM hh WHERE NOT even),
         sku AS (
           SELECT c_mktsegment, h,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY h) AS rn
           FROM (SELECT DISTINCT c_mktsegment, h FROM hh)),
         ea AS (
           SELECT c_mktsegment,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_a
           FROM ska WHERE rn <= 64 GROUP BY 1),
         eb AS (
           SELECT c_mktsegment,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_b
           FROM skb WHERE rn <= 64 GROUP BY 1),
         eu AS (
           SELECT c_mktsegment,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_union
           FROM sku WHERE rn <= 64 GROUP BY 1)
         SELECT ea.c_mktsegment, est_a, est_b, est_union,
           GREATEST(est_a + est_b - est_union, 0) AS est_intersect
         FROM ea JOIN eb USING (c_mktsegment) JOIN eu USING (c_mktsegment)""",
    // identical FP discipline: integer-cent line amounts summed as
    // BIGINT (order-free), cumulative fold in (rev DESC, part) order,
    // 9-dp share compare
    "q64_abc_pareto" ->
      """WITH bp AS (
           SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
               * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS rev
           FROM lineitem GROUP BY l_partkey),
         sh AS (
           SELECT l_partkey, rev,
             ROUND(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(rev) OVER (), 9) AS share
           FROM bp),
         cl AS (
           SELECT rev,
             CASE WHEN share <= 0.80 THEN 'A'
                  WHEN share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
           FROM sh),
         tot AS (SELECT ROUND(SUM(rev), 2) AS tot FROM cl)
         SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(rev), 2) AS revenue,
           ROUND(ROUND(SUM(rev), 2) / tot, 6) AS pct
         FROM cl CROSS JOIN tot
         GROUP BY abc_class, tot""",
    // the same sequenced-change synthesis, last-writer window and
    // full-outer apply; money in exact integer cents throughout
    "q65_cdc_apply" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM orders),
         base AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
         changes AS (
           SELECT 1 AS seq, 'U' AS op, o_orderkey,
             o_orderpriority AS c_prio, cents + 1000 AS c_cents
           FROM o WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT 2, 'D', o_orderkey, NULL, NULL
           FROM o WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT 3, 'I', o_orderkey, o_orderpriority, cents
           FROM o WHERE o_orderkey % 7 = 0),
         last AS (
           SELECT op, o_orderkey, c_prio, c_cents FROM (
             SELECT *, row_number() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC) AS rn
             FROM changes) WHERE rn = 1),
         applied AS (
           SELECT
             CASE WHEN l.op IS NOT NULL THEN l.c_prio
                  ELSE b.o_orderpriority END AS o_orderpriority,
             CASE WHEN l.op IS NOT NULL THEN l.c_cents
                  ELSE b.cents END AS fc
           FROM base b FULL OUTER JOIN last l USING (o_orderkey)
           WHERE l.op IS NULL OR l.op <> 'D')
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(fc) AS DOUBLE) / 100.0 AS sum_totalprice
         FROM applied GROUP BY o_orderpriority""",
    // identical micro-units, HUGEINT sufficient statistics, and the
    // engine's exact finalization parenthesization
    "q66_corr_matrix" -> {
      val vars = Seq("qv", "pv", "dv", "tv")
      val sums =
        vars.map(v => s"SUM(CAST($v AS HUGEINT)) AS s_$v") ++
          (for { i <- vars.indices; j <- i until vars.length } yield
            s"SUM(CAST(${vars(i)} * ${vars(j)} AS HUGEINT))" +
              s" AS s_${vars(i)}_${vars(j)}")
      def r(x: String, y: String, as: String) = {
        val nd = "CAST(n_rows AS DOUBLE)"
        def c(s: String) = s"CAST($s AS DOUBLE)"
        val vx = s"($nd * ${c(s"s_${x}_$x")} - ${c(s"s_$x")} * ${c(s"s_$x")})"
        val vy = s"($nd * ${c(s"s_${y}_$y")} - ${c(s"s_$y")} * ${c(s"s_$y")})"
        s"""CASE WHEN $vx * $vy > 0.0 THEN
             ROUND(($nd * ${c(s"s_${x}_$y")} - ${c(s"s_$x")} * ${c(s"s_$y")})
               / sqrt($vx * $vy), 6) END AS $as"""
      }
      s"""WITH u AS (
           SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS qv,
             CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS pv,
             CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS dv,
             CAST(FLOOR(l_tax * 100.0 + 0.5) AS BIGINT) AS tv
           FROM lineitem),
         m AS (
           SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             ${sums.mkString(",\n             ")}
           FROM u GROUP BY l_returnflag)
         SELECT l_returnflag, n_rows,
           ${r("qv", "pv", "r_qty_price")},
           ${r("qv", "dv", "r_qty_disc")},
           ${r("qv", "tv", "r_qty_tax")},
           ${r("pv", "dv", "r_price_disc")},
           ${r("pv", "tv", "r_price_tax")},
           ${r("dv", "tv", "r_disc_tax")}
         FROM m"""
    },
    "q67_chi2_independence" ->
      """WITH cells AS (
           SELECT c_mktsegment, n_name, CAST(COUNT(*) AS BIGINT) AS observed
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         w AS (
           SELECT c_mktsegment, n_name, observed,
             CAST(SUM(observed) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
               * CAST(SUM(observed) OVER (PARTITION BY n_name) AS DOUBLE)
               / CAST(SUM(observed) OVER () AS DOUBLE) AS expected
           FROM cells)
         SELECT c_mktsegment, n_name, observed,
           ROUND(expected, 6) AS expected,
           ROUND((CAST(observed AS DOUBLE) - expected)
             * (CAST(observed AS DOUBLE) - expected) / expected, 6)
             AS contribution
         FROM w""",
    "q68_gini" ->
      """WITH bc AS (
           SELECT o_custkey,
             SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
           FROM orders GROUP BY o_custkey),
         rk AS (
           SELECT c_mktsegment, cents,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY cents, o_custkey) AS BIGINT) AS i
           FROM bc JOIN customer ON o_custkey = c_custkey),
         g AS (
           SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(CAST(cents AS HUGEINT)) AS s,
             SUM(CAST(i * cents AS HUGEINT)) AS si
           FROM rk GROUP BY c_mktsegment)
         SELECT c_mktsegment, n_customers,
           ROUND(CAST(s AS DOUBLE) / 100.0, 2) AS total_revenue,
           ROUND((2.0 * CAST(si AS DOUBLE)
               - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
             / (CAST(n_customers AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
         FROM g""",
    "q71_decile_lift" ->
      """WITH bc AS (
           SELECT o_custkey,
             SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         rk AS (
           SELECT cents, CAST(ntile(10) OVER
             (ORDER BY cents DESC, o_custkey) AS BIGINT) AS decile
           FROM bc),
         g AS (
           SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(CAST(cents AS HUGEINT)) AS c
           FROM rk GROUP BY 1),
         t AS (SELECT SUM(c) AS t FROM g),
         w AS (
           SELECT decile, n_customers, c,
             SUM(c) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
           FROM g)
         SELECT decile, n_customers,
           ROUND(CAST(c AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND(CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share,
           ROUND(CAST(cumc AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS cum_share,
           ROUND(CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE) * 10.0, 6) AS lift
         FROM w CROSS JOIN t""",
    "q70_skew_profile" ->
      """WITH ok AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
             FROM lineitem GROUP BY 1),
         pk AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
             FROM lineitem GROUP BY 1),
         sk AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
             FROM lineitem GROUP BY 1),
         pr AS (
           SELECT 'l_orderkey' AS join_key, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS total_rows,
             CAST(MAX(c) AS BIGINT) AS max_per_key,
             quantile_cont(c, 0.5) AS p50, quantile_cont(c, 0.99) AS p99
           FROM ok
           UNION ALL
           SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(c) AS BIGINT), CAST(MAX(c) AS BIGINT),
             quantile_cont(c, 0.5), quantile_cont(c, 0.99)
           FROM pk
           UNION ALL
           SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(c) AS BIGINT), CAST(MAX(c) AS BIGINT),
             quantile_cont(c, 0.5), quantile_cont(c, 0.99)
           FROM sk)
         SELECT join_key, n_keys, total_rows, max_per_key,
           ROUND(CAST(max_per_key AS DOUBLE)
             / CAST(total_rows AS DOUBLE), 6) AS top1_share,
           ROUND(p50, 6) AS p50_per_key,
           ROUND(p99, 6) AS p99_per_key,
           ROUND(CAST(max_per_key AS DOUBLE)
             / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6)
             AS skew_ratio
         FROM pr""",
    "q69_benford" ->
      """WITH dg AS (
           SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
               AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1),
         w AS (
           SELECT digit, n_orders,
             CAST(n_orders AS DOUBLE) / CAST(SUM(n_orders) OVER () AS DOUBLE)
               AS share,
             log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS benford
           FROM dg)
         SELECT digit, n_orders, ROUND(share, 6) AS share,
           ROUND(benford, 6) AS benford,
           ROUND(share - benford, 6) AS delta
         FROM w""",
    // the same conditional-aggregate sufficient statistics and the
    // identical effect parenthesization ((p1-p0)*q0, (q1-q0)*p0, joint)
    "q72_price_volume_mix" ->
      """WITH f AS (
           SELECT p.p_brand,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
               AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE year(l_shipdate) IN (1996, 1997)),
         g AS (
           SELECT p_brand,
             SUM(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS rev0,
             SUM(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS rev1,
             SUM(CASE WHEN yr = 1996 THEN qty ELSE 0 END) AS qty0,
             SUM(CASE WHEN yr = 1997 THEN qty ELSE 0 END) AS qty1
           FROM f GROUP BY 1
           HAVING SUM(CASE WHEN yr = 1996 THEN qty ELSE 0 END) > 0
              AND SUM(CASE WHEN yr = 1997 THEN qty ELSE 0 END) > 0)
         SELECT p_brand,
           ROUND(CAST(rev0 AS DOUBLE) / 100.0, 2) AS rev_p0,
           ROUND(CAST(rev1 AS DOUBLE) / 100.0, 2) AS rev_p1,
           CAST(qty0 AS BIGINT) AS qty0, CAST(qty1 AS BIGINT) AS qty1,
           ROUND(CAST(rev1 - rev0 AS DOUBLE) / 100.0, 2) AS delta_rev,
           ROUND((CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)
                  - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
                 * CAST(qty0 AS DOUBLE) / 100.0, 4) AS price_effect,
           ROUND(CAST(qty1 - qty0 AS DOUBLE)
                 * (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
                 / 100.0, 4) AS volume_effect,
           ROUND((CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)
                  - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
                 * CAST(qty1 - qty0 AS DOUBLE) / 100.0, 4) AS mix_effect
         FROM g""",
    // q31's first-view/first-purchase derivation; DuckDB dayofweek is
    // 0-based Sunday vs Spark's 1-based, hence the +1; date_diff
    // ('second') truncation ≡ unix_timestamp subtraction
    "q73_funnel_latency" ->
      """WITH v AS (
           SELECT user_id, MIN(ts) AS first_view FROM events
           WHERE event_type = 'view' GROUP BY 1),
         p AS (
           SELECT e.user_id, MIN(e.ts) AS first_purchase,
             MIN(v.first_view) AS first_view
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'purchase' AND e.ts > v.first_view
           GROUP BY 1),
         lat AS (
           SELECT CAST(dayofweek(CAST(first_view AS TIMESTAMP)) + 1
               AS BIGINT) AS cohort_dow,
             date_diff('second', CAST(first_view AS TIMESTAMP),
               CAST(first_purchase AS TIMESTAMP)) AS lat_sec
           FROM p)
         SELECT cohort_dow, COUNT(*) AS n_converts,
           ROUND(quantile_cont(lat_sec, 0.5), 6) AS p50_latency_sec,
           ROUND(quantile_cont(lat_sec, 0.9), 6) AS p90_latency_sec
         FROM lat GROUP BY 1""",
    "q74_aging_buckets" ->
      """WITH a AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS snap FROM orders),
         b AS (
           SELECT o_orderpriority,
             date_diff('day', CAST(o_orderdate AS DATE), a.snap) AS age_days,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM orders, a)
         SELECT o_orderpriority,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 60 THEN '31-60'
                WHEN age_days <= 90 THEN '61-90' ELSE '91+' END AS age_bucket,
           COUNT(*) AS n_orders,
           ROUND(SUM(cents) / 100.0, 2) AS total_value
         FROM b GROUP BY 1, 2""",
    // the same day-grain pre-agg, HUGEINT rolling moments over the
    // identical 7-row frame, identical closed-form parenthesization
    "q75_rolling_ols" ->
      """WITH daily AS (
           SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS y,
             CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x
           FROM orders GROUP BY 1, 2, 4),
         r AS (
           SELECT o_orderpriority, day,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
             SUM(CAST(x AS HUGEINT)) OVER w AS sx,
             SUM(CAST(y AS HUGEINT)) OVER w AS sy,
             SUM(CAST(x AS HUGEINT) * y) OVER w AS sxy,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx
           FROM daily
           WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT o_orderpriority, strftime(day, '%Y-%m-%d') AS day, n_days,
           CASE WHEN n_days >= 2 THEN
             FLOOR((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0
               * 1e6 + 0.5) / 1e6
           END AS slope_per_day
         FROM r""",
    // identical lag/running-sum windows; micro-quantized value sums
    "q76_sessions" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
           FROM events),
         g AS (
           SELECT *, date_diff('second',
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS gap
           FROM e),
         b AS (
           SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
             AS brk
           FROM g),
         s AS (
           SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM b)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
             AS duration_sec,
           ROUND(CAST(SUM(vm) AS DOUBLE) / 1e6, 6) AS total_value
         FROM s GROUP BY 1, 2""",
    // one customer-keyed lag window; quantile_cont interpolation
    // parity is q16/q48's
    "q77_order_gaps" ->
      """WITH g AS (
           SELECT o_custkey,
             CAST(date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate),
               CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
           FROM orders),
         j AS (
           SELECT c.c_mktsegment, g.gap_days
           FROM g JOIN customer c ON g.o_custkey = c.c_custkey
           WHERE g.gap_days IS NOT NULL)
         SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_days, 0.5), 6) AS p50_gap_days,
           ROUND(quantile_cont(gap_days, 0.9), 6) AS p90_gap_days
         FROM j GROUP BY 1""",
    // the same total-ordered ntile windows and the 100-row share frame
    "q78_decile_transition" ->
      """WITH d96 AS (
           SELECT o_custkey, CAST(ntile(10) OVER (ORDER BY
               SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) DESC,
               o_custkey) AS BIGINT) AS from_decile
           FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) = 1996
           GROUP BY o_custkey),
         d97 AS (
           SELECT o_custkey, CAST(ntile(10) OVER (ORDER BY
               SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) DESC,
               o_custkey) AS BIGINT) AS to_decile
           FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) = 1997
           GROUP BY o_custkey),
         t AS (
           SELECT from_decile, to_decile, CAST(COUNT(*) AS BIGINT)
             AS n_customers
           FROM d96 JOIN d97 USING (o_custkey)
           GROUP BY 1, 2)
         SELECT t.*,
           ROUND(CAST(n_customers AS DOUBLE)
             / CAST(SUM(n_customers) OVER (PARTITION BY from_decile)
               AS DOUBLE), 6) AS row_share
         FROM t""",
    // DuckDB dayofweek is 0-based Sunday vs Spark's 1-based (+1);
    // index = (dow avg) / (overall avg), both ratios of exact ints
    "q79_weekday_profile" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c
           FROM orders GROUP BY 1),
         byd AS (
           SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_days, SUM(c) AS cents
           FROM daily GROUP BY 1),
         tot AS (SELECT SUM(n_days) AS tn, SUM(cents) AS tc FROM byd)
         SELECT dow, n_days,
           ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND((CAST(cents AS DOUBLE) / CAST(n_days AS DOUBLE))
             / (CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
             AS seasonality_index
         FROM byd CROSS JOIN tot""",
    // the same integer y*12+m month arithmetic and the identical
    // cohort×offset cumulative frame
    "q80_cohort_ltv" ->
      """WITH o AS (
           SELECT o_custkey,
             CAST(year(CAST(o_orderdate AS TIMESTAMP)) * 12
               + month(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS ym,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM orders),
         f AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM o GROUP BY 1),
         sz AS (SELECT cohort_ym, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             AS cohort_size
           FROM f GROUP BY 1),
         cells AS (
           SELECT f.cohort_ym, o.ym - f.cohort_ym AS month_offset,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             SUM(o.cents) AS cents
           FROM o JOIN f ON o.o_custkey = f.o_custkey
           GROUP BY 1, 2),
         w AS (
           SELECT cells.*, sz.cohort_size,
             SUM(cents) OVER (PARTITION BY cells.cohort_ym
               ORDER BY month_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
           FROM cells JOIN sz USING (cohort_ym))
         SELECT CAST((cohort_ym - 1) // 12 AS BIGINT) || '-'
             || lpad(CAST((cohort_ym - 1) % 12 + 1 AS VARCHAR), 2, '0')
             AS cohort,
           month_offset, n_active, cohort_size,
           ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND(CAST(cum_cents AS DOUBLE) / 100.0, 2) AS cum_revenue,
           ROUND(CAST(cum_cents AS DOUBLE)
             / (CAST(cohort_size AS DOUBLE) * 100.0), 6) AS ltv_per_customer
         FROM w""",
    // FULL RECOMPUTE per measure semantics: signed measures over
    // (hist ∪ append) \ retracted — i.e. everything except the
    // o_orderkey % 7 = 0 slice of the historical (% 5 ≠ 0) rows —
    // and the append-only exact distinct over hist ∪ append (all
    // rows; bitmaps don't retract). Fully-retracted groups vanish
    // from the signed side; the inner join mirrors the MV zero-drop.
    "q81_mv_fold" ->
      """WITH f AS (
           SELECT o_orderkey, o_orderpriority,
             CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_custkey
           FROM orders),
         s AS (
           SELECT o_orderpriority, order_year,
             ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS sum_price,
             CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM f WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0)
           GROUP BY 1, 2),
         dt AS (
           SELECT o_orderpriority, order_year,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_cust
           FROM f GROUP BY 1, 2)
         SELECT s.o_orderpriority, s.order_year, s.sum_price,
           s.n_orders, dt.distinct_cust
         FROM s JOIN dt USING (o_orderpriority, order_year)""",
    // FULL RECOMPUTE of the bucketed quantile over the retained set
    // ((hist ∪ append) \ retracted, q81's slice): same bucket math
    // (width 16384 over [0, 2^26), edge clamp), same exact-integer
    // rank target ceil(pct·n/100) = (pct·n + 99) div 100, same
    // lower-edge readout.
    "q84_quantile_mv" ->
      """WITH f AS (
           SELECT o_orderkey, o_orderpriority,
             CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT * FROM f
           WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0)),
         b AS (
           SELECT o_orderpriority, order_year,
             LEAST(4095, GREATEST(0, cents // 16384)) AS bucket,
             COUNT(*) AS cnt
           FROM r GROUP BY 1, 2, 3),
         c AS (
           SELECT *,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year
                            ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year) AS n
           FROM b)
         SELECT o_orderpriority, order_year,
           MIN(CASE WHEN cum >= (50 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p50,
           MIN(CASE WHEN cum >= (95 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p95
         FROM c GROUP BY 1, 2""",
    // each native expression re-derived from first principles: t4's
    // positional fingerprint, t6's ceil(len/4) subword rule, Σx² for
    // the self-dot (whatever plan the optimizer rule picks)
    "q85_sql_surface" ->
      raw"""SELECT d.doc_id,
           CAST(COALESCE(list_sum(list_transform(range(1, length(d.text) + 1),
             i -> i * ord(substring(d.text, CAST(i AS INT), 1)))), 0) AS BIGINT)
             AS fingerprint,
           CAST(list_sum(list_transform(
             regexp_split_to_array(trim(lower(d.text)), '\s+'),
             t -> (length(t) + 3) // 4)) AS BIGINT) AS n_subwords,
           ROUND(list_sum(list_transform(e.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm_sq
         FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id""",
    // Same closed interpolation formula as the Spark side — list
    // collect + sort over the exact-cents frame, (a[(n+1) div 2] +
    // a[n div 2 + 1]) / 2 — never DuckDB's quantile_cont, whose
    // interpolation arithmetic isn't pinned to this formula.
    "q82_rolling_quantile" ->
      """WITH w AS (
           SELECT o_custkey, o_orderkey,
             list_sort(list(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
           FROM orders)
         SELECT o_custkey, o_orderkey,
           (CAST(a[(len(a) + 1) // 2] AS DOUBLE)
            + CAST(a[len(a) // 2 + 1] AS DOUBLE)) / 200.0
             AS rolling_median
         FROM w""",
    // exact-integer mirror of the entry: trend rides as its (sum,
    // count) pair, the detrended deviation is scaled by 420 (frame
    // counts 4..7 all divide 420 → exact longs, order-free group
    // sums), every output a fixed division chain of exact integers;
    // strftime %w is 0=Sunday, +1 matches Spark's dayofweek.
    "q83_seasonal_decompose" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         tr AS (
           SELECT day, cents,
             SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tsum,
             COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tcnt,
             CAST(strftime(day, '%w') AS INT) + 1 AS wd
           FROM daily),
         se AS (SELECT *, 420 * cents - tsum * (420 // tcnt) AS det420 FROM tr),
         sw AS (
           SELECT wd, CAST(SUM(det420) AS BIGINT) AS s420,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM se GROUP BY wd)
         SELECT strftime(se.day, '%Y-%m-%d') AS day,
           ROUND(cents / 100.0, 2) AS value,
           ROUND(CAST(tsum AS DOUBLE) / tcnt / 100.0, 2) AS trend,
           ROUND(CAST(s420 AS DOUBLE) / (420.0 * n) / 100.0, 2) AS seasonal,
           ROUND(CAST(det420 * n - s420 AS DOUBLE)
             / (420.0 * n) / 100.0, 2) AS resid
         FROM se JOIN sw USING (wd)"""
  )
}
