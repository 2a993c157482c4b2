package graft

import graft.operators.{HierarchyQueries, OlapQueries}

/** 100 TB plan audits (SURVEY.md §5): assert the physical plans have
  * the scale-critical shapes — pushdown reaching the scan, broadcasts
  * on dim joins, partial aggregation, top-k without a global sort.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  test("q2: filters and projection are pushed to the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual("), p)
    // column pruning: read schema restricted to referenced columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate"),
      "scan reads all columns — pruning failed")
  }

  test("q4: dim chain joins are broadcast, fact side does not shuffle for the join") {
    val p = plan("q4_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("h4 flagship: closure dim is broadcast; aggregation is partial (map-side combine)") {
    val p = plan("h4_hier_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    // partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("h33: the SQL surface plans the pair-grain two-phase rollup — no Expand, closure broadcast") {
    val df = SparkEntry.queries("h33_sql_rollup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // the naive single-GROUP-BY SQL statement pays COUNT(DISTINCT)'s
    // Expand over the closure-EXPANDED fact stream (r19 verdict #1 —
    // measured 6× h4's floor); the two-phase statement counts customer
    // groups off the MV grain, so no Expand may appear anywhere
    assert(!p.contains("Expand"),
      "the SQL surface regressed to the Expand plan:\n" + p)
    // closure + label joins broadcast; no sort-merge on the fact path
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // fact spine matches the DataFrame engine's (h4): the (leaf,
    // customer) pre-agg is the only exchange of fact-sized data, then
    // the MV-grain and node-grain aggregates — no extra shuffles over
    // what the optimized path pays
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def factShuffles(n: SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(factShuffles).sum
      case other => other.children.map(factShuffles).sum
    }
    val h33 = factShuffles(df.queryExecution.sparkPlan)
    val h4 = factShuffles(
      SparkEntry.queries("h4_hier_agg")(spark, sf).queryExecution.sparkPlan)
    assert(h33 <= h4,
      s"h33 pays $h33 shuffle exchanges vs h4's $h4:\n$p")
  }

  test("h34: attribute cube broadcasts the closure; the fact stream shuffles at most twice; Expand sits above the pre-agg") {
    val p = plan("h34_hier_attr_cube")
    // closure + label joins broadcast; no sort-merge on the fact path
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the grouping-set Expand must be ABOVE the (leaf, segment)
    // pre-aggregation: Expand doubles whatever stream it sits on, and
    // the pre-agg stream is dimension-sized while the raw fact stream
    // is not. In the plan string the pre-agg HashAggregate therefore
    // appears BELOW (after, in top-down print order, i.e. at a later
    // offset than) the Expand node.
    assert(p.contains("Expand"), p)
    val expandAt = p.indexOf("Expand")
    assert(p.indexOf("HashAggregate", expandAt) > 0,
      s"no aggregate below the Expand — it may be doubling raw facts:\n$p")
    // fact spine: the (leaf, segment) pre-agg exchange + the
    // grouping-set aggregate exchange, nothing more
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def factShuffles(n: SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(factShuffles).sum
      case other => other.children.map(factShuffles).sum
    }
    val df = SparkEntry.queries("h34_hier_attr_cube")(spark, sf)
    val count = factShuffles(df.queryExecution.sparkPlan)
    assert(count <= 2, s"$count fact-side shuffles:\n$p")
  }

  test("h35: the wide-dim fallback joins the closure shuffle-side — no broadcast build of the dim") {
    val p = plan("h35_shuffle_dim_rollup")
    // the merge hint over the dimension's broadcast hint: the closure
    // and label joins ride sort-merge (the no-driver-OOM path); the two-phase
    // distinct discipline still holds (no Expand)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Expand"), p)
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.exists(l =>
      l.contains("descendant_node_natural_key") || l.contains("leaf_key")),
      smj.mkString("\n"))
  }

  test("h10: both closures broadcast; fact side pays at most 2 shuffle exchanges") {
    val p = plan("h10_multi_hier_agg")
    // geo + brand closure joins and the orders/customer dim joins are
    // all broadcast — no SortMergeJoin anywhere on the fact path
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the fact STREAM moves at most twice — the (geo leaf, part leaf)
    // pre-agg and the final ancestor-pair aggregate. Count shuffle
    // exchanges on the fact spine only: traverse the (pre-AQE)
    // physical plan, pruning descent at broadcast build sides (the
    // dim-derivation subtrees live there and their dim-sized shuffles
    // are not fact-path cost).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def factShuffles(n: SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(factShuffles).sum
      case other => other.children.map(factShuffles).sum
    }
    val df = SparkEntry.queries("h10_multi_hier_agg")(spark, sf)
    val count = factShuffles(df.queryExecution.sparkPlan)
    assert(count <= 2, s"$count fact-side shuffles:\n$p")
  }

  test("h12: KMV sketches build in the pre-agg; fact path stays broadcast-joined") {
    val p = plan("h12_multi_hier_approx")
    // sketches at the (geo leaf, brand) grain — a partial kmv_sketch
    // must appear (the bottom-k state IS the shuffle payload), merged
    // by kmv_union at the lattice aggregate
    assert(p.contains("kmv_sketch"), p.take(2000))
    assert(p.contains("kmv_union"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("h15: exact lattice distinct keeps closures broadcast; no SortMergeJoin") {
    val p = plan("h15_multi_hier_exact")
    // the triple-key pre-agg feeds broadcast closure joins exactly like
    // h10; the exact distinct is the one extra (pair, customer)-grain
    // aggregation phase, never a join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("h16: MV repair fact path broadcasts; only the dim-sized diff sort-merges") {
    val p = plan("h16_targeted_mv_repair")
    // the kept-rows translation and the invalidated-ancestor recompute
    // join dim-sized sides broadcast; the ONLY sort-merge joins allowed
    // are closureDiff's pair diffs (keyed on ancestor_node_id) and the
    // control frame's missing-key left-anti (leaf keys vs aff_key) —
    // both sides dim-sized closures, never the fact stream
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(l =>
        l.contains("ancestor_node_id") ||
        (l.contains("aff_key") && l.contains("LeftAnti"))),
      smj.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q5: top-k plans as TakeOrderedAndProject (no global sort shuffle)") {
    val p = plan("q5_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("multimodal: metadata-only query never reads the payload source column") {
    val media = graft.operators.Multimodal.mediaTable(Tables.documents(spark, sf))
    val metaOnly = media.select("doc_id", "media_type", "width", "height")
    val p = metaOnly.queryExecution.executedPlan.toString()
    // payload = encode(text); a pruned plan reads doc_id only
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text"), p)
  }

  // AQE wraps the executed plan (AdaptiveSparkPlanExec has no public
  // children), so the join equi-keys are asserted on the plan STRING's
  // join lines — e.g. "SortMergeJoin [lang#1, jband#2L], ..." — which
  // print identically whatever join strategy the optimizer picks.
  private def joinLines(name: String): Seq[String] =
    plan(name).linesIterator.filter(_.contains("Join")).toSeq

  test("d9: source overlap is an aggregation — no join anywhere in the plan") {
    // sources are a bounded domain: the overlap matrix is a per-gram
    // collect_set + pair explode, never a gram-stream self-join
    val joins = joinLines("d9_source_overlap")
    assert(joins.isEmpty, joins.mkString("\n"))
    val p = plan("d9_source_overlap")
    assert(p.contains("collect_set"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q16: no window sorts a whole return-flag group — value ranks are bucket-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q16_percentile")(spark, sf)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected window operators in q16's plan")
    // any window that sorts the VALUE column must be partitioned by the
    // range bucket too — a (group)-only partitioning sorts each whole
    // group in one task (tens of millions of rows at 100 TB). The only
    // (group)-partitioned window allowed is the bucket-count cumsum,
    // whose input is the dim-sized (group × nBuckets) aggregate.
    wins.foreach { w =>
      val sortsValues = w.orderSpec.exists(_.child.references.exists(_.name == "v"))
      if (sortsValues)
        assert(w.partitionSpec.flatMap(_.references.map(_.name)).contains("bucket"),
          s"value-sort window not bucket-partitioned:\n$w")
    }
  }

  test("p6: the exact running-sum window sees only budget-pruned candidates") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("p6_token_budget_sample")(spark, sf)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    val exact = wins.filter(
      _.orderSpec.exists(_.child.references.exists(_.name == "quality_ppm")))
    assert(exact.nonEmpty, s"expected the exact quality-ordered window:\n$wins")
    // the per-source exact window is fine ONLY because the qbucket
    // prune join below it caps its input at ~budget tokens' worth of
    // docs — without that join it owns each source's whole corpus
    exact.foreach { w =>
      val pruned = w.collectFirst { case j: BroadcastHashJoinExec
        if (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
          .contains("qbucket") => j }
      assert(pruned.nonEmpty, s"exact window not above the qbucket prune join:\n$w")
    }
  }

  test("h17: ratios are broadcast self-joins of dim-sized totals; no sort-merge") {
    val p = plan("h17_contribution")
    // the fact stream pays ONE leaf-grain pre-agg shuffle and sees ONE
    // broadcast join (the closure pre-enriched with node meta); the
    // parent lookup is the only other join — a broadcast self-join of
    // the node-sized totals — and the grand total is a window over the
    // same frame, so no third aggregate branch re-plans the fact side
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    // the root-total branch is gone: no BroadcastNestedLoopJoin
    // (the old 1-row crossJoin) anywhere
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p7: temperature mixture has no windows; the rate table joins broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("p7_temperature_mixture")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w }.isEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
    // per-source token counts partial-aggregate before their shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p9: curriculum staging is pure per-row arithmetic — no exchange anywhere") {
    val p = plan("p9_curriculum_phases")
    // fixed cut points + LCG order key: every executor stamps its
    // partition independently; a quantile-phase design would show a
    // rank shuffle here
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Sort"), p)
  }

  test("q37: per-group top-k is a heap aggregate, not a window sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q37_topk_per_group")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w }.isEmpty, p)
    // the bounded heap rides the aggregate path (map-side partials ≤ k
    // rows each), so only nTasks × k candidates cross the shuffle
    assert(p.contains("topk_rows_by_score"), p)
    assert(p.contains("partial_topk_rows_by_score"), p)
  }

  test("d15: substring dedup pays ONE gram exchange plus the doc aggregate") {
    val p = plan("d15_substring_dedup")
    // the owner lookup is a gram-keyed EQUI join (at test SF the tiny
    // owner side broadcasts; at scale both sides reuse the single
    // gram repartition) — never a pairwise doc×doc comparison
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Join \\[gram".r.findAllIn(p).nonEmpty ||
      "HashJoin \\[gram".r.findAllIn(p).nonEmpty, p)
    // the verdict lands as a doc-keyed min aggregate, partials first
    assert(p.contains("partial_min"), p)
  }

  test("d16: copy cap is a heap aggregate on the content key — no window sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("d16_copy_cap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w }.isEmpty, p)
    // map-side partial heaps: a million-copy cluster ships ≤ k rows
    // per task, never a full sorted cluster
    assert(p.contains("partial_topk_rows_by_score"), p)
  }

  test("t16: novelty reuses one gram exchange; verdict is a doc-keyed aggregate") {
    val p = plan("t16_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    // the first-owner aggregate lands as partial min on the gram key
    assert(p.contains("partial_min"), p)
  }

  test("q38: audit broadcasts the true dims; nothing quadratic anywhere") {
    val p = plan("q38_integrity_audit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // part/supplier parent lookups ride broadcast hash joins
    assert(p.contains("BroadcastHashJoin"), p)
    // conditional verdicts partial-aggregate map-side
    assert(p.contains("partial_sum"), p)
  }

  test("p10: length batches join the broadcast bucket counts — no window, no sort-merge") {
    val p = plan("p10_length_batches")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the #buckets-row count table broadcasts; the fact side only
    // pays the map-side-combined bucket-count aggregate
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q39: fixed-width histogram is one map-side-combined aggregation") {
    val p = plan("q39_histogram")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
    // exactly one shuffle: the final aggregate's
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("h9: incremental finalize has no Expand; closure joins broadcast") {
    val p = plan("h9_incremental_rollup")
    assert(!p.contains("Expand"), "distinct must read off the MV grain, not Expand: " + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t11: DF join shuffles on the term key; corpus size is a 1-row broadcast") {
    val p = plan("t11_tfidf")
    assert(!p.contains("CartesianProduct"), p)
    val joins = joinLines("t11_tfidf")
    assert(joins.exists(_.contains("term")), joins.mkString("\n"))
    // ranking is the bounded-heap aggregate, not a per-doc window sort
    assert(p.contains("topk_rows_by_score"), p.take(2000))
    assert(!p.contains("Window"), "expected no window operator in t11's plan")
  }

  test("h7: closure diff is ONE join on the pair key — no exceptAll aggregates") {
    val p = plan("h7_hierarchy_diff")
    val joins = joinLines("h7_hierarchy_diff")
    assert(joins.count(_.contains("FullOuter")) == 1, joins.mkString("\n"))
    // the old form paid two exceptAll passes = four sort-merge legs;
    // the single full-outer join is the plan's only shuffle join
    assert(joins.count(_.contains("Join")) == 1, joins.mkString("\n"))
  }

  test("d4: blocked self-join keys on (lang, length band), not lang alone") {
    val joins = joinLines("d4_ngram_jaccard")
    // the equi-join must include the band key — a lang-only key has
    // ~4 values and degenerates to all-pairs at scale
    assert(joins.nonEmpty, "expected a self-join in the d4 plan")
    assert(joins.exists(l => l.contains("band") && l.contains("lang")),
      s"join keys lack the length band: $joins")
  }

  test("d11: batch-vs-corpus join keys on (lang, length band), not lang alone") {
    val joins = joinLines("d11_incremental_neardup")
    assert(joins.nonEmpty, "expected a batch-corpus join in the d11 plan")
    assert(joins.exists(l => l.contains("band") && l.contains("lang")),
      s"join keys lack the length band: $joins")
  }

  test("d6 edges: the jaccard threshold stays OUT of the join condition (fence)") {
    val docs = Tables.documents(spark, sf)
    val p = graft.operators.Dedup.ngramJaccard(docs)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.05)
      .queryExecution.executedPlan.toString()
    // unfenced, pushdown folds the intersect/union math into the join
    // condition where it runs per raw band match (measured 3× on d6) —
    // assert every Join line is free of the expensive expressions
    val joinWithMath = p.linesIterator
      .filter(_.contains("Join")).filter(_.contains("array_intersect"))
    assert(joinWithMath.isEmpty, joinWithMath.mkString("\n"))
    assert(p.contains("array_intersect"), p.take(1500)) // still computed somewhere
  }

  test("d5: blocked self-join keys include the LSH (table, bucket)") {
    val joins = joinLines("d5_embedding_neardup")
    assert(joins.nonEmpty, "expected a self-join in the d5 plan")
    // Catalyst may additionally pull the label-equality filter into the
    // equi-key set — (label, table, bucket) is FINER partitioning than
    // (table, bucket), which is fine; the failure mode being guarded
    // against is a label-ONLY key (~10 values → all-pairs per key).
    val pairJoin = joins.filter(_.contains("bucket"))
    assert(pairJoin.nonEmpty, s"join keys lack the LSH bucket: $joins")
  }

  test("s1: re-rank is a partial topk aggregate, not a window sort") {
    val df = SparkEntry.queries("s1_knn_brute")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("topk_by_score"), p.take(2000))
    assert(!p.contains("Window"), "expected no window operator in s1's plan")
  }

  test("q30: band join broadcasts the literal interval dim (no fact shuffle for the join)") {
    val p = plan("q30_band_join")
    // a 4-row non-equi dim must go broadcast nested-loop, never a
    // cartesian/sort-merge over the facts
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p2: stratified sample is a pure narrow filter — no shuffle anywhere") {
    val p = plan("p2_stratified_sample")
    assert(!p.contains("Exchange"), p)
  }

  test("d7: incremental dedup joins equi on the content hash, corpus pre-aggregated") {
    val p = plan("d7_incremental_dedup")
    // both probe joins key on the sha256 content hash; no nested loop
    assert(p.contains("__key"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // corpus side collapses to one row per hash before the join
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("t15: boilerplate joins on the gram key; per-doc score is aggregated, not windowed") {
    val p = plan("t15_boilerplate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), "expected no window operator in t15's plan")
    val joins = joinLines("t15_boilerplate")
    // the only join keys on the gram — the vocabulary-bounded shuffle key
    assert(joins.nonEmpty && joins.forall(_.contains("gram")), joins.mkString("\n"))
  }

  test("p8: prep pipeline joins equi on the content hash; sampling is a filter, not a shuffle") {
    val p = plan("p8_corpus_prep")
    assert(p.contains("__key"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // composing the three stages must not multiply fact-sized
    // shuffles: the content-hash exchange appears at most twice (join
    // probe + aggregate build; ReusedExchange collapses them when the
    // planner notices)
    assert("hashpartitioning\\(__key".r.findAllIn(p).length <= 2, p)
  }

  test("h18: the what-if preview aggregates MV rows — the fact fallback branch is absent") {
    val p = plan("h18_whatif_delta")
    // both sides (stored MV + zero-fact repair) read the cached MV
    // (its printed lineage still shows the original fact scans — the
    // rows come from cache); the LIVE fact branch would announce
    // itself as the repair's INNER aff_key probe join, and the n8
    // reparent must not take it (the control frame's missing-key
    // LeftAnti legitimately mentions aff_key — that is the
    // subtraction that proves the fallback unnecessary, not the scan)
    assert(p.contains("InMemoryTableScan"), p.take(2000))
    val affJoins = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("aff_key")).toSeq
    assert(affJoins.forall(_.contains("LeftAnti")),
      "what-if repair scheduled the fact fallback scan:\n" +
        affJoins.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d14: the bloom probe gates the corpus join; definitely-new rows bypass it") {
    val p = plan("d14_bloom_dedup")
    // the codegen'd bloom test appears as a plain Filter, and the
    // union's second branch (bloom misses) carries no corpus join
    assert(p.contains("might_contain_bloom"), p.take(2000))
    assert(p.contains("Union"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s7: kNN join blocks on buckets, ranks on the heap — no window, no cartesian") {
    val p = plan("s7_knn_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // per-vector ranking is the bounded-heap aggregate, not a window
    // sort over every candidate pair
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("topk_by_score"), p.take(2000))
    // candidates come from the bucket equi-join: every join line keys
    // on (table, bucket)
    val joins = joinLines("s7_knn_join")
    assert(joins.nonEmpty && joins.forall(l =>
      l.contains("table") && l.contains("bucket")), joins.mkString("\n"))
    // pair-keyed exchanges ship bare (vec_id, j_id, cos) rows: the
    // embedding arrays stay in the bucket-local join — at 768-d they
    // would otherwise cost ~12 KB of shuffle payload per candidate
    val fmt = SparkEntry.queries("s7_knn_join")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val nodes = fmt.split("\\(\\d+\\) ").toSeq
    val pairExchanges = nodes.filter(n => n.startsWith("Exchange") &&
      n.contains("hashpartitioning(vec_id") && n.contains("j_id"))
    assert(pairExchanges.nonEmpty, fmt.take(3000))
    pairExchanges.foreach { n =>
      val input = n.linesIterator.find(_.trim.startsWith("Input")).getOrElse("")
      assert(!"\\b(v|jv|qv|buckets)#".r.unanchored.matches(input),
        s"array column rides the pair-dedup exchange: $input")
    }
  }

  test("s9: filtered ANN prunes the corpus by semi-join and keys candidates on (table, bucket, label)") {
    val p = plan("s9_filtered_knn")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("topk_by_score"), p.take(2000))
    // the predicate prune is a broadcast LeftSemi against the distinct
    // query labels — the corpus never buckets non-matching rows
    assert(p.contains("LeftSemi"), p.take(3000))
    // the candidate join carries the label in its equi-key set: a
    // popular bucket never mixes labels/tenants
    val candJoins = joinLines("s9_filtered_knn").filter(_.contains("bucket"))
    assert(candJoins.nonEmpty && candJoins.forall(l =>
      l.contains("table") && l.contains("label")), candJoins.mkString("\n"))
  }

  test("q45: the SCD2 merge joins ONLY the open intervals — closed history passes through join-free") {
    val p = plan("q45_scd2_merge")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // exactly one join in the whole merge: the per-user bridge onto
    // the open intervals; the closed-rows branch and the batch chain
    // carry no join at all
    val joins = joinLines("q45_scd2_merge")
    assert(joins.length == 1 && joins.head.contains("user_id"), joins.mkString("\n"))
    assert(p.contains("Union"), p.take(2000))
  }

  test("d2: minhash candidates come from the (band, bucket) equi-join — no window, no cartesian") {
    val p = plan("d2_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // the bucket self-join keys on BOTH the band index and the band
    // key, so the shuffle key cardinality is bands × distinct keys
    val candJoins = joinLines("d2_minhash_lsh").filter(_.contains("bucket"))
    assert(candJoins.nonEmpty && candJoins.forall(_.contains("band")),
      candJoins.mkString("\n"))
  }

  test("st18 classify: centroid assignment is a narrow map, verify joins on the cluster id") {
    // the batch function behind the streaming entry (the stream adds
    // only foreachBatch + the idempotent sink around this exact plan)
    val emb = Tables.embeddings(spark, sf)
    val df = graft.operators.Similarity.incrementalSemanticDedup(
      emb.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(5L)) =!= 0),
      emb.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(5L)) === 0))
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // assignment is the codegen'd argmax expression — one row per
    // vector, no codebook join
    assert(p.contains("nearest_centroid"), p.take(2000))
    // batch×corpus candidates pair only within a cluster
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.exists(_.contains("cluster_id")), joins.mkString("\n"))
  }

  test("q49: both funnel windows and the final aggregate share ONE fact shuffle") {
    // the cascaded running maxes and the per-user max all key on
    // user_id — a second exchange would mean the window chain broke
    // the shared partitioning (string-count: AQE wrapping hides
    // children from plan.collect)
    val p = plan("q49_window_funnel")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n == 1, s"expected 1 exchange, got $n:\n$p")
  }

  test("q48/q50: percentile machinery never sorts values in a group-only window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the q16 rule applied to the factored primitive's consumers: any
    // window ordering the raw value column must be partitioned by the
    // range bucket — group-only windows may only order bucket ids
    // (histogram-sized input)
    for (name <- Seq("q48_outliers_mad", "q50_rfm")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name: expected windows from the percentile primitive")
      wins.foreach { w =>
        val sortsValues = w.orderSpec.exists(_.child.references.exists(_.name == "__v"))
        if (sortsValues)
          assert(w.partitionSpec.flatMap(_.references.map(_.name)).contains("__bucket"),
            s"$name: value-sort window not bucket-partitioned:\n$w")
      }
    }
  }

  test("s12: classification votes ride heap + hash aggregates — no window sorts") {
    val p = plan("s12_knn_classify")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("topk_by_score") || p.contains("TopKByScore") ||
      p.contains("ObjectHashAggregate"), p.take(2000))
  }

  test("h23: bitmap rollup never shuffles at customer grain; closure stays broadcast") {
    val p = plan("h23_hier_agg_bitmap")
    // the exact two-phase path needs a (node, customer) exchange just
    // to dedup; the bitmap dedups inside the aggregation buffer, so NO
    // exchange may partition on the customer key
    val badEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("customer_id"))
    assert(badEx.isEmpty, badEx.mkString("\n"))
    assert(p.contains("bitmap_distinct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("h24/h25: MV fold and DAG rollup keep facts off key-grain shuffles") {
    // h24: the bitmap MV aggregates straight to node grain — no
    // exchange may partition on the customer key (h23's rule)
    val p24 = plan("h24_incremental_distinct")
    val bad24 = p24.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("customer_id"))
    assert(bad24.isEmpty, bad24.mkString("\n"))
    assert(p24.contains("bitmap_"), p24.take(1500))
    // h25: the weighted closure joins facts by BROADCAST (the h4
    // discipline) — no sort-merge join anywhere
    val p25 = plan("h25_weighted_dag")
    assert(p25.contains("BroadcastHashJoin"), p25.take(1500))
    assert(!p25.contains("SortMergeJoin"), p25.take(1500))
  }

  test("q46: the basket table is built once (cached) and all three consumers reuse it") {
    val p = plan("q46_market_basket")
    // pairs, brand marginals and the order total must all read the
    // CACHED basket table — three InMemoryTableScans — so the fact
    // exchange that builds it runs once, not per consumer (the plan
    // string repeats the cached subtree per consumer; the scans are
    // the reuse evidence)
    val scans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 3, s"expected >=3 cached-basket scans, got $scans:\n${p.take(1500)}")
  }

  test("t19/q55: fits ride bounded heaps and sufficient statistics — no vocab sorts, no fact windows") {
    // t19: top-100 terms come from the topkRows heap, never a
    // vocabulary-wide row_number window (one task per language owning
    // the whole freq≥2 vocab at web scale)
    val p19 = plan("t19_zipf_vocab")
    assert(!p19.contains("Window"), p19.take(2000))
    assert(p19.contains("ObjectHashAggregate"), p19.take(2000))
    // q55: dims broadcast into the one OLS sufficient-stats
    // aggregate; nothing sorts, nothing windows
    val p55 = plan("q55_ols_trend")
    assert(p55.contains("BroadcastHashJoin"), p55.take(2000))
    assert(!p55.contains("SortMergeJoin"), p55.take(2000))
    assert(!p55.contains("Window"), p55.take(2000))
  }

  test("q56/d20: day-grain bitmap windows and id-keyed phash pair dedup") {
    // q56: facts collapse to day-grain bitmap partials BEFORE any
    // window — the bitmap aggregate (ObjectHashAggregate) is the only
    // fact-sized operator
    val p56 = plan("q56_rolling_distinct")
    assert(p56.contains("ObjectHashAggregate"), p56.take(2000))
    assert(p56.contains("bitmap_build"), p56.take(2000))
    // d20: candidates from the (band_idx, band_val) equi-join; the
    // pair-dedup exchange partitions on bare ids; hamming is the
    // codegen'd bit_count
    val p20 = plan("d20_phash_neardup")
    assert(p20.contains("bit_count"), p20.take(2000))
    assert(p20.contains("hashpartitioning(doc_a"), p20.take(2000))
    assert(!p20.contains("CartesianProduct"), p20.take(2000))
  }

  test("g5: a k-core peel round is hash aggregates + semi-joins — no full-edge window sorts") {
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    // one round's plan, pinned on a tiny in-memory edge list: degrees
    // must come from groupBy.count (map-side partial hash aggregate),
    // never from count(*) OVER (PARTITION BY …) — the window form
    // sorts the ENTIRE edge relation twice per round
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val round = graft.operators.Graph.kcorePeelRound(e, 3)
    val wins = round.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.isEmpty, s"peel round plans a window sort:\n$round")
    val p = round.queryExecution.executedPlan.toString()
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    // and the registered g5 entry's (post-peel) readout plan is
    // window-free too: the peel loop materializes via localCheckpoint,
    // so the final plan reads an ExistingRDD scan
    val g5 = plan("g5_kcore")
    assert(g5.contains("ExistingRDD") || g5.contains("Scan ExistingRDD"), g5.take(2000))
    // the k-truss round (g16) holds the same contract: triangle
    // supports via joins + hash aggregates, never a window sort
    val tEdges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val tRound = graft.operators.Graph.ktrussPeelRound(tEdges, 3)
    val tWins = tRound.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(tWins.isEmpty, s"truss round plans a window sort:\n$tRound")
    assert(tRound.queryExecution.executedPlan.toString().contains("LeftSemi"))
  }

  test("MvFold incremental cost: folding a delta into a PERSISTED MV scans facts exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.{MvCount, MvFold, MvSum}
    // production shape: the stored MV lives in parquet; only the
    // delta may touch the fact table. A plan with two fact scans
    // would re-pay history on every fold — the exact failure an
    // incremental MV exists to avoid.
    val keys = Seq("o_orderpriority")
    val measures = Seq(MvSum("s", col("o_totalprice")), MvCount("n"))
    val facts = Tables.orders(spark, sf)
    val mvDir = java.nio.file.Files.createTempDirectory("mv_cost")
      .resolve("mv").toString
    MvFold.build(facts.filter(col("o_orderkey") % 5 =!= 0), keys, measures)
      .write.parquet(mvDir)
    val folded = MvFold.fold(spark.read.parquet(mvDir),
      facts.filter(col("o_orderkey") % 5 === 0), keys, measures)
    val scans = folded.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.mkString
    }
    val factScans = scans.count(_.contains("orders.parquet"))
    val mvScans = scans.count(_.contains("mv_cost"))
    assert(factScans == 1, s"fact table scanned $factScans times:\n$scans")
    assert(mvScans == 1, s"MV store scanned $mvScans times:\n$scans")
    // and the delta's filter reaches its scan (history never read)
    val p = folded.queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters"), p.take(2000))
  }

  test("q1: aggregation runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    // AQE's pre-execution plan string hides codegen stages; ask for
    // the codegen explain explicitly
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(2000))
    assert(plan("q1_agg").contains("HashAggregate"))
  }
}
