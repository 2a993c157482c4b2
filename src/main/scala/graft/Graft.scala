package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators._

/** User-facing facade — the one-import surface for a user of the
  * reference (prmoore77/ibis-olap-aggregation) switching to this
  * library, plus the large-scale pipeline operators.
  *
  * {{{
  * import graft.Graft
  * val dim = Graft.hierarchy(nodesDf)                      // reference: HierarchyDimension(...)
  * val out = Graft.hierarchicalRollup(factsDf, dim)        // reference: main.py flagship
  * val dups = Graft.nearDupClusters(docsDf)                // LLM-pipeline dedup
  * val knn  = Graft.cosineTopK(embeddingsDf, k = 5)        // similarity search
  * }}}
  */
object Graft {

  /** Parent-child node table → derived hierarchy dims
    * (reference: classes/hierarchy_dimension_table.py:47-94).
    */
  def hierarchy(nodes: DataFrame,
      nodeIdCol: String = "node_id",
      parentIdCol: String = "parent_node_id",
      knownDepth: Int = -1): HierarchyDimension =
    new HierarchyDimension(nodes, nodeIdCol, parentIdCol, knownDepth = knownDepth)

  /** Flagship hierarchical rollup (reference: main.py:27-56): facts
    * keyed by `factKey` aggregated to every node of the hierarchy.
    */
  def hierarchicalRollup(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key", approxDistinct: Boolean = false): DataFrame =
    HierarchyAgg.hierarchicalRollup(facts, dim.aggregationDim, factKey, approxDistinct)

  /** Incremental-view-maintenance form of the rollup: materialize once
    * at (node, customer) grain, then fold delta batches in — only the
    * delta pays a fact shuffle. Retractions = the ORIGINAL rows with
    * `weight = functions.lit(-1L)` (the weight signs sales, quantity
    * and the row count). Serve with [[finalizeRollup]].
    */
  def rollupMv(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame =
    HierarchyAgg.rollupMv(facts, dim.aggregationDim, factKey)

  def mergeRollupMv(mv: DataFrame, deltaFacts: DataFrame,
      dim: HierarchyDimension, factKey: String = "leaf_key",
      weight: Column = org.apache.spark.sql.functions.lit(1L)): DataFrame =
    HierarchyAgg.mergeRollupMv(mv, deltaFacts, dim.aggregationDim, factKey, weight)

  def finalizeRollup(mv: DataFrame, dim: HierarchyDimension): DataFrame =
    HierarchyAgg.finalizeRollup(mv, dim.aggregationDim)

  /** Generic incremental MV over ANY star query — one measures API
    * unifying the signed sum/count fold and the append-only exact
    * bitmap distinct, with the retraction matrix enforced (see
    * [[operators.MvFold]]): build once, fold deltas, retract with the
    * original rows, read finalized.
    */
  def mvBuild(facts: DataFrame, keys: Seq[String],
      measures: Seq[operators.MvMeasure]): DataFrame =
    operators.MvFold.build(facts, keys, measures)

  def mvFold(mv: DataFrame, delta: DataFrame, keys: Seq[String],
      measures: Seq[operators.MvMeasure], retract: Boolean = false): DataFrame =
    operators.MvFold.fold(mv, delta, keys, measures, retract)

  def mvRead(mv: DataFrame, keys: Seq[String],
      measures: Seq[operators.MvMeasure]): DataFrame =
    operators.MvFold.read(mv, keys, measures)

  /** Release every cache the engine holds for `spark` — operator pins
    * and stored artifacts — and forget its memoized artifacts, so the
    * next read rebuilds them. The service-lifecycle hook for long-lived
    * sessions (see [[Artifacts]]; frames already handed out stay usable,
    * they recompute).
    */
  def releasePins(spark: SparkSession): Unit =
    Artifacts.releaseAll(spark)

  /** Run `body` and report what it did: wall time, the returned
    * frame's planning phases and analyzed-plan size, its Spark jobs,
    * stages and tasks with task time and shuffle, spill and result
    * bytes, and each micro-batch of the streams it ran (see [[Trace]]).
    * {{{
    * val (n, report) = Graft.trace(spark)(Graft.hierarchicalRollup(facts, dim).count())
    * println(report.json)
    * }}}
    */
  def trace[T](spark: SparkSession)(body: => T): (T, Trace.Report) =
    Trace(spark)(body)

  /** Persist derived dims as parquet (the reference materializes its
    * dims as stored tables, hierarchy_dimension_table.py:75-82);
    * reload with [[loadDim]] — no re-derivation.
    */
  def saveDim(dim: HierarchyDimension, dir: String): Unit =
    HierarchyDimension.save(dim, dir)

  /** (reportingDim, aggregationDim) reloaded from [[saveDim]] output. */
  def loadDim(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    HierarchyDimension.load(spark, dir)

  /** Closure diff after a hierarchy edit: the added/removed
    * (ancestor, descendant) pairs a rollup cache must invalidate.
    */
  def hierarchyDiff(before: HierarchyDimension, after: HierarchyDimension): DataFrame =
    HierarchyDimension.closureDiff(before, after)

  /** Point-in-time node set of an SCD2-versioned hierarchy — feed the
    * result to [[hierarchy]] to roll up against the tree as it was on
    * `asOfDate`.
    */
  def hierarchyAsOf(versionedNodes: DataFrame, asOfDate: Column,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    HierarchyDimension.asOf(versionedNodes, asOfDate, validFrom, validTo)

  /** Version-range companion to [[hierarchyAsOf]]: every node version
    * live during [start, end), validity windows clipped to the range.
    */
  def hierarchyAsOfRange(versionedNodes: DataFrame, start: Column, end: Column,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    HierarchyDimension.asOfRange(versionedNodes, start, end, validFrom, validTo)

  /** Validity-tagged closure union of an SCD2-versioned hierarchy —
    * the dimension side of a history-correct rollup (each fact routes
    * through the tree version live at its own date); see
    * [[operators.HierarchyDimension.historyClosure]].
    */
  def historyClosure(versionedNodes: DataFrame,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    HierarchyDimension.historyClosure(versionedNodes, validFrom, validTo)

  /** History-correct rollup over a [[historyClosure]]: every fact
    * routes through the hierarchy version live at its own date; see
    * [[operators.HierarchyAgg.historyRollup]] for the fact/closure
    * column contracts. `validFrom`/`validTo` must name the same
    * window columns the closure was built with.
    */
  def historyRollup(facts: DataFrame, closures: DataFrame,
      leafIdCol: String, dateCol: String,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    HierarchyAgg.historyRollup(facts, closures, leafIdCol, dateCol,
      validFrom, validTo)

  /** Targeted MV repair after a hierarchy edit: recompute ONLY the
    * ancestors [[hierarchyDiff]] invalidates, keep every other row of
    * the (node, customer) MV; see
    * [[operators.HierarchyAgg.repairRollupMv]].
    */
  def repairRollupMv(mv: DataFrame, facts: DataFrame,
      before: HierarchyDimension, after: HierarchyDimension): DataFrame =
    HierarchyAgg.repairRollupMv(mv, facts, before, after)

  /** Contribution analysis over the rollup: every node's
    * percent-of-parent and percent-of-total next to its subtotal;
    * see [[operators.HierarchyAgg.contributionRollup]].
    */
  def contributionRollup(facts: DataFrame, dim: HierarchyDimension,
      factKey: String = "leaf_key"): DataFrame =
    HierarchyAgg.contributionRollup(facts, dim, factKey)

  /** What-if impact preview for a hierarchy edit: the rollup rows that
    * WOULD change (old/new/delta measures) if the dimension moved from
    * `before` to `after` — typically composed with
    * [[repairRollupMv]] so the preview touches no fact rows; see
    * [[operators.HierarchyAgg.whatIfDelta]].
    */
  def whatIfDelta(oldMv: DataFrame, newMv: DataFrame,
      before: HierarchyDimension, after: HierarchyDimension): DataFrame =
    HierarchyAgg.whatIfDelta(oldMv, newMv, before, after)

  /** Two-pass dynamic pivot: value domain discovered from the data,
    * then pivoted wide; see [[operators.Olap.dynamicPivot]].
    */
  def dynamicPivot(df: DataFrame, groupCols: Seq[String], pivotCol: String,
      agg: Column, fill: Option[Column] = None): DataFrame =
    Olap.dynamicPivot(df, groupCols, pivotCol, agg, fill)

  /** Canonical-doc selection: each near-dup component keeps its
    * highest-quality member (min doc_id tie-break).
    */
  def canonicalDocs(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    DedupQueries.canonicalDocs(docs, minJaccard)

  /** Exact dedup groups on normalized text. */
  def exactDedup(docs: DataFrame): DataFrame = Dedup.exactDedup(docs)

  /** Near-duplicate clusters (minhash-LSH candidates → connected
    * components); docs need `doc_id` + `text`. When `lang` and
    * `n_chars` are present the candidates use the truth-aligned
    * BLOCKED layout ([[minhashPairsBlocked]], tuned bands) — the
    * measured serving default; without them the unblocked primitive
    * is the fallback. READ the blocking contract on
    * [[operators.Dedup.dupClusters]] before pointing this at a new
    * corpus: exact (non-null) lang match, and `maxLenDiff` (±3-char
    * default, the tuned near-identical window — widen it, or pass
    * `Int.MaxValue`, for corpora whose near-dups differ in length).
    */
  def nearDupClusters(docs: DataFrame, minEstJaccard: Double = 0.5,
      maxLenDiff: Int = 3): DataFrame =
    Dedup.dupClusters(docs, minEstJaccard, maxLenDiff)

  /** Per-doc candidate summary on the blocked tuned layout (see
    * [[operators.Dedup.minhashLshBlocked]]). */
  def minhashLshBlocked(docs: DataFrame, k: Int = 32, bands: Int = 32,
      maxLenDiff: Int = 3): DataFrame =
    Dedup.minhashLshBlocked(docs, k, bands, maxLenDiff)

  /** Similarity clusters over EXACT blocked n-gram Jaccard edges —
    * deterministic and engine-independent (DuckDB-reproducible), where
    * [[nearDupClusters]] uses hash-sketch candidates.
    */
  def jaccardClusters(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    Dedup.jaccardClusters(docs, minJaccard)

  /** Minhash-LSH candidate pairs with truth-aligned (lang, length)
    * blocking — the tuned near-dup serving path (see
    * [[operators.Dedup.minhashPairsBlocked]]; pick `bands` with
    * [[lshBandsFor]]).
    */
  def minhashPairsBlocked(docs: DataFrame, k: Int = 32, bands: Int = 32,
      maxLenDiff: Int = 3): DataFrame =
    Dedup.minhashPairsBlocked(docs, k, bands, maxLenDiff)

  /** Banding tuner: the (bands) choice whose S-curve midpoint sits
    * closest to `targetJaccard` (see [[operators.Dedup.lshBandsFor]]).
    */
  def lshBandsFor(targetJaccard: Double, k: Int = 16): Int =
    Dedup.lshBandsFor(targetJaccard, k)

  /** Connected components over an arbitrary edge list, each node
    * labeled with the minimum id in its component — exact at any
    * component diameter (single-task union-find up to 2M edges,
    * alternating large-star/small-star rounds above; see
    * [[operators.Dedup.connectedComponents]]).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", srcCol: String = "doc_a",
      dstCol: String = "doc_b"): DataFrame =
    Dedup.connectedComponents(nodes, edges, idCol, srcCol, dstCol)

  /** Incremental ingest dedup: classify a NEW batch against the
    * already-ingested corpus (new / dup_of_corpus / dup_in_batch) —
    * the corpus side is pre-aggregated to its content-hash index so
    * the full corpus is never rescanned per batch.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    Dedup.incrementalDedup(corpus, batch)

  /** [[incrementalDedup]] with a Bloom pre-filter on the corpus probe
    * — definitely-new batch docs never shuffle toward the corpus
    * index; row-identical output, see
    * [[operators.Dedup.bloomIncrementalDedup]].
    */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame =
    Dedup.bloomIncrementalDedup(corpus, batch, expectedItems, fpp)

  /** Incremental NEAR-dup: classify a new batch against the corpus's
    * blocked shingle index (batch×corpus candidates only); best corpus
    * match per batch doc by exact Jaccard, or `new`.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      minJaccard: Double = 0.5): DataFrame =
    Dedup.incrementalNearDup(corpus, batch, minJaccard)

  /** Decontamination: flag corpus docs sharing any word n-gram with a
    * held-out benchmark/eval set (keep eval text out of training data).
    */
  def decontaminate(corpus: DataFrame, eval: DataFrame, n: Int = 5): DataFrame =
    Dedup.decontaminate(corpus, eval, n)

  /** Per-eval-doc contamination fractions — the graded view whose
    * binary summary is [[decontaminate]].
    */
  def contaminationReport(corpus: DataFrame, eval: DataFrame, n: Int = 5): DataFrame =
    Dedup.contaminationReport(corpus, eval, n)

  /** Deterministic stratified sampling (arithmetic row-id hash —
    * stable under reruns and retries, unlike rand()).
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int] = Map("en" -> 30),
      defaultRate: Int = 60, stratumCol: String = "lang"): DataFrame =
    Packing.stratifiedSample(docs, rates, defaultRate, stratumCol)

  /** Corpus mixture plan: per-stratum sampling rates against a global
    * token budget (the data-mixing step of a training pipeline).
    */
  def mixturePlan(docs: DataFrame, budgetFrac: Double = 0.5,
      shares: Map[String, Double] = Map("en" -> 0.4),
      defaultShare: Double = 0.15): DataFrame =
    Packing.mixturePlan(docs, budgetFrac, shares, defaultShare)

  /** Temperature-based mixture selection: per-source shares derived
    * as tokens^α (α<1 upsamples small sources), admission via the
    * deterministic LCG percentile; see
    * [[operators.Packing.temperatureMixture]].
    */
  def temperatureMixture(docs: DataFrame, alpha: Double = 0.5,
      budgetFrac: Double = 0.5): DataFrame =
    Packing.temperatureMixture(docs, alpha, budgetFrac)

  /** CCNet-style perplexity filter: docs scored under the corpus's
    * own bigram LM, bucketed head/middle/tail by z-score bands; see
    * [[operators.TextQueries.perplexityFilter]].
    */
  def perplexityFilter(docs: DataFrame): DataFrame =
    TextQueries.perplexityFilter(docs)

  /** Cross-document boilerplate scoring: word-5-grams shared by
    * `minDf`+ distinct docs are corpus boilerplate, each doc scored
    * by its coverage fraction; see
    * [[operators.TextQueries.boilerplate]].
    */
  def boilerplate(docs: DataFrame, minDf: Long = 2L): DataFrame =
    TextQueries.boilerplate(docs, minDf)

  /** End-to-end corpus preparation: quality filter → exact dedup over
    * survivors → deterministic stratified sampling, composed as one
    * dataflow; see [[operators.Packing.corpusPrep]].
    */
  def corpusPrep(docs: DataFrame): DataFrame = Packing.corpusPrep(docs)

  /** Exact long-span substring dedup (doc-level Lee et al. verdict):
    * sharing any exact `n`-token span with a lower-id doc marks the
    * doc a span_dup; see [[operators.Dedup.substringDedup]].
    */
  def substringDedup(docs: DataFrame, n: Int = 10): DataFrame =
    Dedup.substringDedup(docs, n)

  /** Frequency-capped exact dedup: keep at most `maxCopies` copies
    * per identical-content cluster, picked deterministically;
    * see [[operators.Dedup.copyCap]].
    */
  def copyCap(docs: DataFrame, maxCopies: Int = 2): DataFrame =
    Dedup.copyCap(docs, maxCopies)

  /** Per-doc first-occurrence n-gram novelty (ppm);
    * see [[operators.TextQueries.noveltyScore]].
    */
  def noveltyScore(docs: DataFrame, n: Int = 5): DataFrame =
    TextQueries.noveltyScore(docs, n)

  /** Curriculum staging from fixed quality cut points with a
    * deterministic within-phase order key;
    * see [[operators.Packing.curriculumPhases]].
    */
  def curriculumPhases(docs: DataFrame): DataFrame =
    Packing.curriculumPhases(docs)

  /** Length-bucketed training-batch assembly (sequence bucketing);
    * see [[operators.Packing.lengthBatches]].
    */
  def lengthBatches(docs: DataFrame, batchSize: Int = 8): DataFrame =
    Packing.lengthBatches(docs, batchSize)

  /** Contiguous per-group sequence packing into fixed-capacity token
    * bins (sample packing for training batches).
    */
  def sequencePack(docs: DataFrame, capacity: Int = 512,
      groupCol: String = "lang"): DataFrame =
    Packing.sequencePack(docs, capacity, groupCol)

  /** Embedding-cosine near-duplicate pairs. LSH-blocked and therefore
    * APPROXIMATE (a pair hashing apart in all tables is missed —
    * ~1e-3 at the defaults); pass `nPlanes = 0` for the exhaustive
    * label-blocked exact contract on small inputs.
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.25,
      nPlanes: Int = 4, nTables: Int = 8): DataFrame =
    Dedup.embeddingNearDup(embeddings, threshold, nPlanes, nTables)

  /** SemDeDup-style semantic dedup: k-means clusters block the
    * candidate pairs, a vector with a lower-id cluster-mate at
    * cosine ≥ tau is labeled a semantic_dup of its lowest-id such
    * neighbor; see [[operators.Similarity.semanticDedup]]. `k` is
    * the blocking knob — grow it with the corpus (k ≈ n/1000).
    */
  def semanticDedup(embeddings: DataFrame, tau: Double = 0.9,
      k: Int = 10): DataFrame =
    Similarity.semanticDedup(embeddings, tau, k)

  /** Leakage-aware train/validation/test split + shard assignment —
    * keyed on the CONTENT fingerprint so byte-identical docs can never
    * straddle train and eval; deterministic integer arithmetic.
    */
  def splitShards(docs: DataFrame, nShards: Int = 8): DataFrame =
    Packing.splitShards(docs, nShards)

  /** Exact cosine top-k neighbors for the query set `vec_id < nQueries`. */
  def cosineTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    Similarity.bruteForceTopK(embeddings, k, nQueries)

  /** Exact cosine RANGE search: all corpus vectors with `cos >= tau`
    * per query (radius counterpart of [[cosineTopK]]).
    */
  def cosineRangeSearch(embeddings: DataFrame, tau: Double = 0.3,
      nQueries: Int = 10): DataFrame =
    Similarity.rangeSearch(embeddings, tau, nQueries)

  /** IVF approximate top-k (seeded k-means codebook). */
  def cosineTopKApprox(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      nprobe: Int = 3): DataFrame =
    Similarity.ivfTopK(embeddings, k, nQueries, nprobe)

  /** ALL-CORPUS kNN join: top-k ANN neighbors for every vector (LSH
    * bucket self-join + multiprobe); see
    * [[operators.Similarity.knnJoin]].
    */
  def knnJoin(embeddings: DataFrame, k: Int = 3): DataFrame =
    Similarity.knnJoin(embeddings, k)

  /** Lowest common ancestor of every leaf pair of a hierarchy
    * dimension — the leaf-pair relatedness lookup; see
    * [[operators.HierarchyAgg.lcaPairs]].
    */
  def lcaPairs(dim: operators.HierarchyDimension): DataFrame =
    operators.HierarchyAgg.lcaPairs(dim.aggregationDim)

  /** Exact max-inner-product top-k — the recommender-retrieval
    * objective (magnitude carries signal cosine strips); see
    * [[operators.Similarity.mipsTopK]].
    */
  def mipsTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    Similarity.mipsTopK(embeddings, k, nQueries)

  /** Top-k rows per group (window rank + filter). For additive/score
    * top-k at fact scale prefer the bounded-heap `topk_by_score`
    * aggregate (only k-sized buffers cross the shuffle); this is the
    * generic form that keeps whole rows.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
      orderCol: Column, k: Int): DataFrame =
    operators.Olap.topKPerGroup(df, partitionCols, orderCol, k)

  /** Skew-salted equi-join: hot keys split across `salts` shuffle
    * partitions, dim side replicated `salts`× (see q33 for the
    * result-identity guarantee).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int, saltSource: Column): DataFrame =
    operators.Olap.saltedJoin(big, small, bigKey, smallKey, salts, saltSource)

  /** Shuffle/plan-shape audit of a query BEFORE running it — the
    * question every 100 TB user asks first ("how many shuffles will
    * this do, and did my dim broadcast?") as a first-class API
    * instead of eyeballing `explain`. Counts physical-plan shapes on
    * the optimized (pre-AQE-execution) plan; one row per metric.
    * CartesianProduct or BroadcastNestedLoopJoin above 0 is almost
    * always a bug at scale.
    */
  def planSummary(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.{SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE hides structure behind LEAF wrappers: AdaptiveSparkPlanExec
    // wraps the whole plan, and after execution each completed stage
    // sits behind a leaf QueryStageExec. Walk through all of them so
    // the audit sees the real operators pre- AND post-execution.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Iterator[SparkPlan] = {
      val inner: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      Iterator(p) ++ inner.iterator.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan).toSeq
    def count(f: PartialFunction[SparkPlan, Int]): Long =
      nodes.collect(f).sum.toLong
    val metrics = Seq(
      "shuffle_exchanges" -> count { case _: ShuffleExchangeExec => 1 },
      "broadcast_exchanges" -> count { case _: BroadcastExchangeExec => 1 },
      "broadcast_hash_joins" -> count { case _: BroadcastHashJoinExec => 1 },
      "sort_merge_joins" -> count { case _: SortMergeJoinExec => 1 },
      "shuffled_hash_joins" -> count { case _: ShuffledHashJoinExec => 1 },
      "broadcast_nested_loop_joins" ->
        count { case _: BroadcastNestedLoopJoinExec => 1 },
      "cartesian_products" -> count { case _: CartesianProductExec => 1 },
      "windows" -> count { case _: WindowExec => 1 },
      "sorts" -> count { case _: SortExec => 1 },
      "scans" -> count { case s if s.children.isEmpty &&
        s.nodeName.toLowerCase.contains("scan") => 1 },
      "codegen_spans" -> count { case _: WholeStageCodegenExec => 1 })
    val spark = df.sparkSession
    import spark.implicits._
    metrics.toDF("metric", "n")
  }

  /** Native sort-merge as-of join (see graft.plans.AsOfJoin). */
  def asofJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      tieBreak: String): DataFrame =
    graft.plans.AsOfJoin.asofJoinNative(left, right, leftKey, rightKey,
      leftTime, rightTime, tieBreak)

  /** Gap-based sessionization (batch form; streaming twins in
    * graft.streaming.StreamingOps).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    graft.streaming.StreamingOps.sessionize(events, gapSeconds)

  /** Column profile: single-pass approx-distinct by default (the
    * 100 TB mode); `exactDistinct = true` for per-column exact counts.
    */
  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = false): DataFrame =
    Profile.profile(df, cols, exactDistinct)

  /** Batched multimodal decode with a pluggable per-partition codec
    * (see [[graft.operators.Multimodal.MediaCodec]]).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      codec: Multimodal.MediaCodec = new Multimodal.ByteStatsCodec) =
    Multimodal.extractFeatures(spark, media, codec)

  /** Permissive decode for scraped corpora: good rows carry the exact
    * strict-path stats, malformed payloads become in-band quarantine
    * records (doc_id, decoder diagnostic) instead of aborting the job
    * (see [[graft.operators.Multimodal.extractFeaturesQuarantine]]).
    */
  def extractFeaturesQuarantine(spark: SparkSession, media: DataFrame,
      codec: Multimodal.MediaCodec = new Multimodal.ByteStatsCodec) =
    Multimodal.extractFeaturesQuarantine(spark, media, codec)

  /** ViT-style patch grid over image payloads: one row per
    * `patch`×`patch` tile with its exact byte sum, channel-aware mean
    * luminance and content hash. Decode is routed through a
    * [[operators.Multimodal.RasterCodec]] — default 24-bpp BMP; pass
    * [[operators.Multimodal.SniffRaster]] to tile a mixed BMP/PGM
    * corpus by magic-byte dispatch
    * (see [[operators.Multimodal.imageTiles]]). */
  def imageTiles(spark: SparkSession, media: DataFrame, patch: Int = 4,
      codec: Multimodal.RasterCodec = new Multimodal.BmpRaster) =
    Multimodal.imageTiles(spark, media, patch, codec)

  /** Exact subimage matching over a tile frame: doc pairs sharing
    * ≥ `minShared` distinct tile content hashes, ubiquitous tiles
    * guarded out (see [[operators.Multimodal.subimageMatches]]). */
  def subimageMatches(tiles: DataFrame, minShared: Int = 2,
      maxDocsPerTile: Int = 16): DataFrame =
    Multimodal.subimageMatches(tiles, minShared, maxDocsPerTile)

  /** Predicate-filtered ANN: top-k cosine among corpus vectors
    * sharing each query's label — the filter constrains candidate
    * generation (semi-join corpus prune + label on the bucket key),
    * never post-ranking (see [[operators.Similarity.filteredLshTopK]]).
    */
  def filteredKnn(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    operators.Similarity.filteredLshTopK(embeddings, k, nQueries)

  /** IVF operating-point curve: recall@k at each probe count from one
    * codebook and one brute truth pass — the readout nprobe is tuned
    * on (see [[operators.Similarity.ivfProbeCurve]]). */
  def ivfProbeCurve(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 3)): DataFrame =
    operators.Similarity.ivfProbeCurve(embeddings, k, nQueries, nprobes)

  /** Okapi BM25 full-text top-k with the corpus's own docs as
    * queries (see [[operators.Retrieval.bm25TopK]]). */
  def bm25TopK(docs: DataFrame, k: Int = 5, nQueries: Int = 5): DataFrame =
    operators.Retrieval.bm25TopK(docs, k, nQueries)

  /** Hybrid lexical+semantic retrieval: reciprocal-rank fusion of the
    * BM25 and exact-cosine lists (see [[operators.Retrieval.hybridRrf]]). */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame, k: Int = 5,
      depth: Int = 20, nQueries: Int = 5): DataFrame =
    operators.Retrieval.hybridRrf(docs, embeddings, k, depth, nQueries)

  /** Incremental closure maintenance for a subtree reparent — the new
    * closure from the old closure alone, no dimension rebuild
    * (see [[operators.HierarchyDimension.moveSubtreeClosure]]). */
  def moveSubtreeClosure(closure: DataFrame, nodeId: String,
      newParentId: String): DataFrame =
    operators.HierarchyDimension.moveSubtreeClosure(closure, nodeId, newParentId)

  /** Bounded-memory heavy hitters over a string column: SpaceSaving
    * summary with count−err ≤ true ≤ count bounds; ≤ `capacity` items
    * per partial buffer whatever the key domain's size
    * (see [[functions.FrequentItems]]). */
  def heavyHitters(df: DataFrame, itemCol: String, capacity: Int = 64): DataFrame =
    df.agg(functions.FrequentItemsAggregate
        .frequentItems(org.apache.spark.sql.functions.col(itemCol), capacity).as("hh"))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("hh")).as("h"))
      .select("h.item", "h.count", "h.err")

  /** Exact per-group percentiles at arbitrary fractions without
    * whole-group sorts or per-group value maps — the histogram-rank
    * primitive behind q16/q48/q50 (see
    * [[operators.Olap.exactPercentilesByGroup]]). */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame =
    operators.Olap.exactPercentilesByGroup(df, groupCol, valueCol, ps)

  /** kNN label propagation: majority vote over the k exact nearest
    * labeled neighbors, deterministic tie-breaks (see
    * [[operators.Similarity.knnClassify]]). */
  def knnClassify(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 10): DataFrame =
    operators.Similarity.knnClassify(embeddings, k, nQueries)

  /** Fold a vector batch into a stored IVF-PQ index WITHOUT
    * retraining — provably identical to a frozen-codebook rebuild
    * (see [[operators.Similarity.upsertPqIndex]]). */
  def upsertPqIndex(index: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      centroids: DataFrame, batchEmb: DataFrame): DataFrame =
    operators.Similarity.upsertPqIndex(index, codebooks, centroids, batchEmb)

  /** Dictionary-grain fuzzy entity-name matching: distinct-name
    * dictionary first, shared-token blocking, exact Levenshtein
    * verify (see [[operators.Dedup.fuzzyNames]]). */
  def fuzzyNames(named: DataFrame, maxDist: Int = 2): DataFrame =
    operators.Dedup.fuzzyNames(named, maxDist)

  /** Per-group OLS (slope/intercept/r²) from one sufficient-statistics
    * aggregate — trend detection at fact scale (see
    * [[operators.Olap.olsByGroup]]). */
  def olsByGroup(df: DataFrame, groupCols: Seq[String],
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): DataFrame =
    operators.Olap.olsByGroup(df, groupCols, x, y)

  /** All image pairs within `maxHamming` (≤ 3 — provably complete
    * via 4×16-bit banding) of DCT-pHash distance (see
    * [[operators.Phash.phashPairs]]). `hashed`: (doc_id, phash). */
  def phashPairs(hashed: DataFrame, maxHamming: Int = 3): DataFrame =
    operators.Phash.phashPairs(hashed, maxHamming)

  /** 64-bit DCT perceptual hash of a 24-bpp BMP payload (see
    * [[operators.Phash.phashBmp]]). */
  def phashBmp(payload: Array[Byte], docId: Long = -1L): Long =
    operators.Phash.phashBmp(payload, docId)

  /** Graph ANN: greedy beam search over the symmetrized k-NN graph —
    * the NSW/HNSW-class navigable-graph search, deterministic walk
    * (see [[operators.Similarity.graphSearch]]). Build the graph once
    * with [[knnGraphEdges]] and pass it via `prebuiltEdges` to serve
    * many queries against a stored index. */
  def graphSearch(embeddings: DataFrame, k: Int = 5,
      prebuiltEdges: Option[DataFrame] = None): DataFrame =
    operators.Similarity.graphSearch(embeddings, k, prebuiltEdges = prebuiltEdges)

  /** The s13 graph build: symmetrized top-`degree` k-NN edges (see
    * [[operators.Similarity.knnGraphEdges]]). */
  def knnGraphEdges(embeddings: DataFrame, degree: Int = 8): DataFrame =
    operators.Similarity.knnGraphEdges(embeddings, degree)

  /** Embedding drift between snapshots: per-label fixed-point
    * centroid cosine + norms — the retrain/re-index trigger readout
    * (see [[operators.Similarity.embeddingDrift]]). */
  def embeddingDrift(embeddings: DataFrame): DataFrame =
    operators.Similarity.embeddingDrift(embeddings)

  /** Corpus snapshot diff: every doc classified added / removed /
    * modified / unchanged via an id-keyed full outer join of content
    * hashes (see [[operators.Packing.corpusDiff]]). */
  def corpusDiff(docs: DataFrame): DataFrame =
    operators.Packing.corpusDiff(docs)

  /** Per-doc exact BPE subword counts under a corpus-trained
    * deterministic-merge vocabulary (see
    * [[operators.Bpe.bpeTokens]]). */
  def bpeTokens(docs: DataFrame, nMerges: Int = 16): DataFrame =
    operators.Bpe.bpeTokens(docs, nMerges)

  /** The learned BPE merge table (rank, left, right) — the
    * persistable serving-tokenizer artifact (see
    * [[operators.Bpe.mergeTable]]). */
  def bpeMergeTable(docs: DataFrame, nMerges: Int = 16): DataFrame =
    operators.Bpe.mergeTable(docs, nMerges)

  /** Co-purchase analytics graph: undirected top-`topK`-per-node
    * edges (a, b, w) from order baskets (see
    * [[operators.Graph.copurchasePairs]]/[[operators.Graph.knnEdges]]).
    */
  def copurchaseGraph(lineitem: DataFrame): DataFrame =
    operators.Graph.knnEdges(operators.Graph.copurchasePairs(lineitem))

  /** Integer micro-unit PageRank over a directed adjacency (see
    * [[operators.Graph.pagerank]]); pass
    * [[operators.Graph.withOutDeg]] of the adjacency. */
  def pagerank(edges: DataFrame, iters: Int = 8): DataFrame =
    operators.Graph.pagerank(
      operators.Graph.withOutDeg(operators.Graph.adjacency(edges)), iters)

  /** Personalized PageRank from a (node, tele) seed frame (see
    * [[operators.Graph.personalizedPagerank]]). */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 8): DataFrame =
    operators.Graph.personalizedPagerank(
      operators.Graph.withOutDeg(operators.Graph.adjacency(edges)),
      seeds, iters)

  /** Weighted-majority label-propagation communities (see
    * [[operators.Graph.labelPropagation]]). */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame =
    operators.Graph.labelPropagation(operators.Graph.adjacency(edges), rounds)

  /** Per-node triangle counts (see
    * [[operators.Graph.triangleCounts]]). */
  def triangleCounts(edges: DataFrame): DataFrame =
    operators.Graph.triangleCounts(edges)

  /** k-core: surviving canonical edges after ≤`rounds` degree peels
    * with fixpoint early-exit (see [[operators.Graph.kcorePeel]]);
    * takes the DIRECTED adjacency. */
  def kcorePeel(adj: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame =
    operators.Graph.kcorePeel(adj, k, rounds)

  /** k-truss: the maximal subgraph where every edge closes ≥ k−2
    * triangles, via ≤`rounds` support peels with fixpoint early-exit
    * (see [[operators.Graph.ktrussPeel]]); takes canonical `a < b`
    * edges. */
  def ktrussPeel(edges: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame =
    operators.Graph.ktrussPeel(edges, k, rounds)

  /** Multi-source BFS hop distances from a (node) seed frame (see
    * [[operators.Graph.bfsHops]]). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int = 8): DataFrame =
    operators.Graph.bfsHops(operators.Graph.adjacency(edges), seeds, rounds)

  /** Shared wedge-join aggregate — per candidate pair (ca < cc), the
    * common-neighbor count and Adamic–Adar sum; feed it to
    * [[operators.Graph.commonNeighborsFrom]] /
    * [[operators.Graph.adamicAdarFrom]] so both link predictors pay
    * the Σ deg² wedge join once (see [[operators.Graph.wedgeStats]]).
    */
  def wedgeStats(edges: DataFrame): DataFrame =
    operators.Graph.wedgeStats(
      operators.Graph.withOutDeg(operators.Graph.adjacency(edges)))

  /** Per-community Newman–Girvan modularity contributions (see
    * [[operators.Graph.communityModularity]]). */
  def communityModularity(edges: DataFrame, labels: DataFrame): DataFrame =
    operators.Graph.communityModularity(edges,
      operators.Graph.adjacency(edges), labels)

  /** 2-D Pareto frontier under (min x, max y) — grid-prune + exact
    * sweep (see [[operators.Olap.skyline2d]]). */
  def skyline2d(points: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame =
    operators.Olap.skyline2d(points, idCol, xCol, yCol)

  /** ABC / Pareto classification summary (see
    * [[operators.Olap.abcSummary]]). */
  def abcSummary(byEntity: DataFrame, idCol: String,
      revCol: String): DataFrame =
    operators.Olap.abcSummary(byEntity, idCol, revCol)

  /** Materialize a base snapshot + sequenced I/U/D change stream into
    * the final table — the lakehouse MERGE shape (see
    * [[operators.Olap.cdcApply]]). */
  def cdcApply(base: DataFrame, changes: DataFrame, key: String): DataFrame =
    operators.Olap.cdcApply(base, changes, key)

  /** PMI-ranked adjacent-bigram collocations (see
    * [[operators.TextQueries.collocations]]). */
  def collocations(docs: DataFrame, minSupport: Int = 5,
      topN: Int = 30): DataFrame =
    operators.TextQueries.collocations(docs, minSupport, topN)

  /** RAKE keyword extraction over stopword-delimited phrases (see
    * [[operators.TextQueries.rakeKeywords]]). */
  def rakeKeywords(docs: DataFrame, topN: Int = 30): DataFrame =
    operators.TextQueries.rakeKeywords(docs, topN)

  /** Soft dedup: keep each doc with probability 1/|near-dup cluster|
    * via the deterministic LCG key (see
    * [[operators.Packing.softDedupSample]]). `clusters`:
    * (doc_id, component_id). */
  def softDedupSample(clusters: DataFrame): DataFrame =
    operators.Packing.softDedupSample(clusters)

  /** MMR diversified retrieval over an embeddings frame (see
    * [[operators.Similarity.mmrDiversify]]). */
  def mmrDiversify(embeddings: DataFrame, k: Int = 5,
      shortlist: Int = 20, nQueries: Int = 10): DataFrame =
    operators.Similarity.mmrDiversify(embeddings, k, shortlist, nQueries)

  /** Degree assortativity of an edge list (see
    * [[operators.Graph.assortativity]]): one row, Pearson r between
    * endpoint degrees. */
  def assortativity(edges: DataFrame): DataFrame =
    operators.Graph.assortativity(
      operators.Graph.withOutDeg(operators.Graph.adjacency(edges)))

  /** Per-node local clustering coefficient (see
    * [[operators.Graph.clusteringCoeff]]). */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    operators.Graph.clusteringCoeff(edges,
      operators.Graph.withOutDeg(operators.Graph.adjacency(edges)))

  /** Per-group pairwise Pearson correlation matrix over exact-Long
    * measure columns (see [[operators.Olap.pearsonMatrix]]). */
  def pearsonMatrix(df: DataFrame, groupCols: Seq[String],
      vars: Seq[String]): DataFrame =
    operators.Olap.pearsonMatrix(df, groupCols, vars)

  /** Per-group Gini coefficient of an exact integer-cent measure (see
    * [[operators.Olap.giniByGroup]]). */
  def giniByGroup(df: DataFrame, groupCol: String, idCol: String,
      centsCol: String): DataFrame =
    operators.Olap.giniByGroup(df, groupCol, idCol, centsCol)

  /** Chi-square independence cells over an observed contingency table
    * (see [[operators.Olap.chi2Cells]]). */
  def chi2Cells(cells: DataFrame, rowCol: String, colCol: String,
      obsCol: String): DataFrame =
    operators.Olap.chi2Cells(cells, rowCol, colCol, obsCol)

  /** Benford first-digit profile of a positive integer amount column
    * (see [[operators.Olap.benfordProfile]]). */
  def benfordProfile(df: DataFrame, centsCol: String): DataFrame =
    operators.Olap.benfordProfile(df, centsCol)

  /** Per-join-key skew profile — the pre-shuffle planning readout
    * (see [[operators.Olap.keySkewProfile]]). */
  def keySkewProfile(df: DataFrame, keys: Seq[String]): DataFrame =
    operators.Olap.keySkewProfile(df, keys)

  /** Price–volume–mix revenue waterfall between two periods
    * (see [[operators.Olap.priceVolumeMix]]). */
  def priceVolumeMix(df: DataFrame, groupCol: String, periodCol: String,
      centsCol: String, qtyCol: String, p0: Any, p1: Any): DataFrame =
    operators.Olap.priceVolumeMix(df, groupCol, periodCol, centsCol,
      qtyCol, p0, p1)

  /** Per-(lang, source) character-distribution / entropy profile
    * (see [[operators.TextQueries.charEntropyProfile]]). */
  def charEntropyProfile(docs: DataFrame): DataFrame =
    operators.TextQueries.charEntropyProfile(docs)

  /** Sibling rank: each node ranked among siblings by subtree total
    * (see [[operators.HierarchyAgg.siblingRank]]). */
  def siblingRank(facts: DataFrame, dim: HierarchyDimension): DataFrame =
    operators.HierarchyAgg.siblingRank(facts, dim)

  /** Per-node subtree standard deviation
    * (see [[operators.HierarchyAgg.subtreeStddev]]). */
  def subtreeStddev(facts: DataFrame, dim: HierarchyDimension): DataFrame =
    operators.HierarchyAgg.subtreeStddev(facts, dim.aggregationDim)

  /** kNN regression: exact mean of the k nearest neighbors' targets
    * (see [[operators.Similarity.knnRegress]]). */
  def knnRegress(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 10): DataFrame =
    operators.Similarity.knnRegress(embeddings, k, nQueries)

  /** Deterministic source-interleaved training order
    * (see [[operators.Packing.interleaveSources]]). */
  def interleaveSources(docs: DataFrame, perSource: Long = 25L): DataFrame =
    operators.Packing.interleaveSources(docs, perSource)

  /** Register graft's SQL functions + optimizer rule on a session. */
  def install(spark: SparkSession): Unit = GraftFunctions.register(spark)

  /** SQL-SURFACE dimension build (r19 verdict #8): derive the three
    * hierarchy frames from a parent-child node TEMP VIEW and register
    * them back as temp views — `<prefix>_hierarchy_nodes`,
    * `<prefix>_reporting_dim`, `<prefix>_aggregation_dim` — so the
    * reference's whole story (node table → dimensions → rollup;
    * hierarchy_dimension_table.py:75-228 + main.py:27-56) runs
    * through `spark.sql` end-to-end around this one builder call: a
    * SQL-only user CREATEs the node view in SQL, calls this, and
    * every downstream query (the h33-shaped rollup included) is pure
    * SQL against the registered views. The views are lazy logical
    * plans over the engine's derivation — same closure, same DFS
    * numbering, same flags as the DataFrame API, by construction.
    */
  def buildHierarchyViews(spark: SparkSession, nodesView: String,
      prefix: String = "graft", knownDepth: Int = -1): Unit = {
    val dim = new operators.HierarchyDimension(
      spark.table(nodesView), knownDepth = knownDepth)
    dim.flaggedNodes.createOrReplaceTempView(s"${prefix}_hierarchy_nodes")
    dim.reportingDim.createOrReplaceTempView(s"${prefix}_reporting_dim")
    dim.aggregationDim.createOrReplaceTempView(s"${prefix}_aggregation_dim")
  }
}
