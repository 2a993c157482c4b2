package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NativeTextExpressions
import graft.functions.TopKAggregate.topkByScore
import graft.functions.VectorFunctions._

/** Similarity-search operator family (SURVEY.md §2.E): top-k cosine
  * neighbors over the embeddings table.
  *
  * - brute force: exact baseline. The (small) query set is broadcast
  *   against the corpus — a narrow map over the big side, then a
  *   per-query top-k. At 100 TB this is the ground-truth/recall
  *   harness, not the serving path.
  * - LSH: random-hyperplane buckets (native codegen'd projection),
  *   multiprobe on the query side; candidates share a bucket. The
  *   shuffle is on (table, bucket), never all-pairs.
  * - IVF: coarse centroids (seeded k-means codebook), nprobe nearest
  *   lists probed per query.
  *
  * All three re-rank with [[graft.functions.TopKByScore]] — a bounded-
  * heap partial aggregate, so only nTasks × k candidate tuples cross
  * the shuffle (a `row_number` window would shuffle and sort EVERY
  * candidate pair). The sort key is `round(cos, 9)` for cross-engine
  * FP-tie parity with the DuckDB oracle; the emitted cosine is the raw
  * value rounded to 6, exactly as before.
  */
object Similarity {

  def corpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Shared top-k re-rank: candidate pairs (q_id, vec_id, cos) →
    * (q_id, rank, neighbor_id, `scoreName`). Partial aggregation:
    * map-side buffers hold ≤ k entries each.
    */
  /** Spec-only door onto [[rerank]]: the r21 graphSearch fixpoint spec
    * replays the pre-r21 full-unroll walk and must finish it with the
    * exact production re-rank to compare row-for-row. */
  private[graft] def rerankForSpec(pairs: DataFrame, k: Int): DataFrame =
    rerank(pairs, k)

  private def rerank(pairs: DataFrame, k: Int,
      scoreName: String = "cosine"): DataFrame =
    pairs
      .groupBy("q_id")
      .agg(topkByScore(round(col("cos"), 9), col("cos"), col("vec_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 6).as(scoreName))

  /** Exact brute-force top-k for queries `vec_id < nQueries`. */
  def bruteForceTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    rerank(pairs, k)
  }

  /** SCALAR-QUANTIZATION (int8) RECALL EVAL — the vector-COMPRESSION
    * axis of the ANN family (s8's PQ is the codebook path; SQ8 is the
    * simpler, ubiquitous one: 4× smaller vectors, one multiply to
    * decode). Per-dimension min/max train the quantizer; each corpus
    * vector is quantized to 255 levels and RECONSTRUCTED; queries
    * stay full-precision (the standard asymmetric setup). The readout
    * is s15's recall contract: exact top-k on raw vectors vs top-k on
    * reconstructed corpus, hits/recall per query — the number that
    * decides whether the 4× memory saving is free or not.
    *
    * Scale shape: the trainer is ONE narrow explode keyed by dim
    * (map-side combine collapses every partition to |dims| rows);
    * the (lo, hi) table broadcasts as a single array row; quantize +
    * reconstruct is a per-row zip_with (no shuffle). Degenerate dims
    * (hi = lo) reconstruct to the constant. All arithmetic is plain
    * IEEE doubles in a pinned expression order, mirrored exactly by
    * the oracle.
    */
  def sq8Recall(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val stats = c.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"), col("hi"))))
        .as("st"))
    val rec = c.crossJoin(broadcast(stats))
      .withColumn("rv", zip_with(col("v"), col("st"), (x, s) => {
        val lo = s.getField("lo")
        val w = s.getField("hi") - lo
        when(w === 0.0, lo).otherwise(
          lo + least(lit(255.0), greatest(lit(0.0),
            floor((x - lo) * lit(255.0) / w + lit(0.5)))) * w / lit(255.0))
      }))
      .select(col("vec_id"), col("rv"))
      .withColumn("rn", norm(col("rv")))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = rec.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("rv"), col("qv")) / (col("rn") * col("qn")))
    val approx = rerank(pairs, k).select(col("q_id"), col("neighbor_id"))
    val exact = bruteForceTopK(emb, k, nQueries)
      .select(col("q_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("q_id", "neighbor_id"))
      .groupBy("q_id").agg(count(lit(1)).as("h"))
    exact.groupBy("q_id").agg(count(lit(1)).as("depth"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") /
          col("depth").cast("double"), 6).as("recall"))
  }

  /** MMR DIVERSIFIED RETRIEVAL (Carbonell & Goldstein, SIGIR'98):
    * greedy re-rank of each query's exact top-`shortlist` cosine
    * candidates, picking `k` results that maximize
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — relevance traded against
    * redundancy with what's already picked, the search-results /
    * few-shot-example diversifier. The empty-set penalty is 0 (pick 1
    * is pure relevance).
    *
    * Scale shape: the expensive stage is the shortlist (brute here —
    * swap [[lshTopK]]'s bucketed candidates at corpus scale; the MMR
    * stage is identical); everything after is (queries × shortlist)-
    * sized — pairwise sims and `k` greedy rounds run on frames of
    * ≤ Q·S² rows, each round ONE anti-join + ONE max-groupBy + ONE
    * per-query argmax window, plan linear in `k`. Determinism: argmax
    * on (round(score, 9) desc, id asc); λ and 1−λ are both passed as
    * exact literals (computing 1−0.7 in doubles would NOT equal the
    * oracle's 0.3).
    */
  def mmrDiversify(emb: DataFrame, k: Int = 5, shortlist: Int = 20,
      nQueries: Int = 10, lambda: Double = 0.7,
      lambdaComp: Double = 0.3): DataFrame = {
    val c = corpus(emb)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // rerank's heap, but keeping the RAW score (MMR re-scores it)
    val short = pairs.groupBy("q_id")
      .agg(topkByScore(round(col("cos"), 9), col("cos"), col("vec_id"),
        shortlist).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("t.id").as("id"), col("t.score").as("rel"))
      .transform(graft.Artifacts.pin)
    val sv = short.join(c.select(col("vec_id").as("id"), col("v"),
      col("nrm")), Seq("id"))
    val sa = sv.select(col("q_id"), col("id").as("ia"), col("v").as("va"),
      col("nrm").as("na"))
    val sb = sv.select(col("q_id").as("qb"), col("id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    val sims = sa.join(sb, col("q_id") === col("qb") && col("ia") =!= col("ib"))
      .select(col("q_id"), col("ia"), col("ib"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
    // The greedy selection runs on the DRIVER over the collected
    // shortlist + sims — both provably (nQueries × shortlist)-sized,
    // the codebook-collect convention. A distributed 5-round
    // join/window chain here cost 30+ tiny shuffle stages (~8 s at
    // sf0.1) to rank 200 rows; the corpus-sized work (the shortlist
    // scan) stays distributed above. Scores/rank keys reproduce the
    // engine arithmetic bit-for-bit: Double ops in the same order,
    // HALF_UP 9-dp rank rounding (Spark's `round`).
    val shortC = short.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simC = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getDouble(3))).toMap
    graft.Artifacts.release(short)
    def key9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val picks = shortC.groupBy(_._1).toSeq.flatMap { case (qid, cand0) =>
      var cands = cand0.map(t => (t._2, t._3)).toVector
      var sel = Vector.empty[Long]
      (1 to k).flatMap { r =>
        if (cands.isEmpty) None
        else {
          val scored = cands.map { case (id, rel) =>
            val msim =
              if (sel.isEmpty) 0.0
              else sel.map(s => simC((qid, id, s))).max
            (id, rel, lambda * rel - lambdaComp * msim)
          }
          val (id, rel, sc0) =
            scored.minBy { case (i, _, s0) => (-key9(s0), i) }
          sel :+= id
          cands = cands.filterNot(_._1 == id)
          Some((qid, r.toLong, id, rel, sc0))
        }
      }
    }
    val session = emb.sparkSession
    import session.implicits._
    picks.toDF("q_id", "pick_rank", "vec_id", "rel", "score")
      .select(col("q_id"), col("pick_rank"), col("vec_id"),
        round(col("rel"), 6).as("relevance"),
        round(col("score"), 6).as("mmr_score"))
  }

  /** kNN CLASSIFICATION: predict each query vector's label by
    * MAJORITY VOTE among its k exact nearest neighbors in the labeled
    * train split — the embedding-space labeler a curation pipeline
    * uses to propagate sparse labels (quality tiers, topics,
    * languages) onto unlabeled vectors. Same scale shape as
    * [[bruteForceTopK]] (queries broadcast, one corpus scan, bounded
    * per-query heap); neighbor labels attach by an id-keyed join
    * AFTER the heap so the shuffle carries (q_id, id, cos) only.
    * Determinism: neighbor rank ties on (round(cos, 9) desc, id asc),
    * vote ties break to the SMALLEST label. Swap the exact scan for
    * [[lshTopK]]'s bucketed candidates at corpus scale — the vote
    * stage is identical.
    */
  def knnClassify(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val train = c.filter(col("vec_id") >= nQueries)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val pairs = train
      .crossJoin(broadcast(q.select(col("q_id"), col("qv"), col("qn"))))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .select(col("q_id"), col("vec_id"), col("cos"))
    val voted = rerank(pairs, k)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("label")), Seq("neighbor_id"))
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("q_id")
      .agg(max_by(struct(col("label"), col("votes")),
        struct(col("votes"), -col("label"))).as("b"))
      .select(col("q_id"), col("b.label").as("predicted_label"),
        col("b.votes").as("votes"))
    voted
      .join(q.select(col("q_id"),
        col("true_label").cast("long").as("true_label")), Seq("q_id"))
      .withColumn("correct", col("predicted_label") === col("true_label"))
  }

  /** kNN REGRESSION — [[knnClassify]]'s majority vote replaced by an
    * exact-mean prediction: each query predicts the mean of its 5
    * nearest train-split neighbors' numeric targets (the integer
    * label stands in). The mean divides an exact Long sum by the
    * neighbor count — the only float op, identical in both engines.
    * Same scale shape as s12: queries broadcast, ONE corpus scan,
    * bounded-heap top-k partials.
    */
  def knnRegress(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val train = c.filter(col("vec_id") >= nQueries)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        col("label").cast("long").as("true_value"),
        col("v").as("qv"), col("nrm").as("qn"))
    val pairs = train
      .crossJoin(broadcast(q.select(col("q_id"), col("qv"), col("qn"))))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .select(col("q_id"), col("vec_id"), col("cos"))
    val pred = col("sum_nv").cast("double") / col("k_used").cast("double")
    rerank(pairs, k)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("nv")), Seq("neighbor_id"))
      .groupBy("q_id")
      .agg(sum("nv").as("sum_nv"), count(lit(1)).as("k_used"))
      .join(q.select(col("q_id"), col("true_value")), Seq("q_id"))
      .select(col("q_id"), round(pred, 6).as("predicted_value"),
        col("true_value"),
        round(abs(pred - col("true_value").cast("double")), 6)
          .as("abs_error"))
  }

  /** Exact MAX-INNER-PRODUCT top-k — the recommender-retrieval
    * objective, where vector MAGNITUDE carries signal (an item's
    * popularity/confidence scale) and cosine would strip it. Same
    * scale shape as [[bruteForceTopK]]: queries broadcast, the corpus
    * is scanned once, the per-query heap is the bounded-capacity
    * topkByScore partial aggregate (map-side buffers ≤ k entries).
    * The LSH scale path for MIPS is the standard asymmetric
    * augmentation (append sqrt(M² − |x|²) to corpus vectors, 0 to
    * queries, reducing MIPS to cosine over the augmented space —
    * Shrivastava & Li, NIPS 2014) and then [[lshTopK]] as-is; at the
    * testdata's corpus sizes the exact scan is the benchmark.
    */
  def mipsTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("v"), col("qv")))
    rerank(pairs, k, scoreName = "inner_product")
  }

  /** ANN MIPS — the 100 TB scale path for [[mipsTopK]]: the asymmetric
    * augmentation (Shrivastava & Li, NIPS 2014; simple-LSH form of
    * Neyshabur & Srebro, ICML 2015) reduces max-inner-product to
    * cosine over an augmented space, then the standard
    * random-hyperplane bucketing blocks candidates exactly as
    * [[lshTopK]] does:
    *
    *   P(x) = [x / M ; sqrt(1 − |x/M|²)]   (corpus, unit-norm by
    *                                        construction; M = max |x|)
    *   Q(q) = [q ; 0]
    *
    * cos(Q(q), P(x)) = (q·x) / (M·|q|) — monotone in q·x for a fixed
    * query, so augmented-cosine ranking IS inner-product ranking.
    * Buckets hash the AUGMENTED vectors (both sides see the same
    * d+1-dim hyperplanes — sign-of-projection is scale-invariant, so
    * the query's zero-padding needs no 1/M rescale); candidates that
    * share a (table, bucket) re-rank by the EXACT inner product over
    * the raw vectors. The max-norm M is a 1-row broadcast; the shuffle
    * key is (table, bucket), never all-pairs.
    */
  def mipsLshTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nPlanes: Int = 6, nTables: Int = 8): DataFrame = {
    val c = corpus(emb)
    val maxN = c.agg(max(col("nrm")).as("__m"))
    val aug = c.crossJoin(broadcast(maxN))
      .withColumn("av", concat(
        transform(col("v"), x => x / col("__m")),
        array(sqrt(greatest(lit(0.0),
          lit(1.0) - (col("nrm") / col("__m")) * (col("nrm") / col("__m")))))))
      .withColumn("buckets",
        NativeTextExpressions.lcgBuckets(col("av"), nPlanes, nTables))
    val buckets = aug.select(col("vec_id"), col("v"),
      posexplode(col("buckets")).as(Seq("table", "bucket")))
    // query side: zero-pad, hash with the SAME d+1-dim planes, probe
    // the home bucket + one-bit flips (multiprobe), broadcast
    val qProbes = c.filter(col("vec_id") < nQueries)
      .withColumn("aq", concat(col("v"), array(lit(0.0))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        posexplode(NativeTextExpressions.lcgBuckets(
          col("aq"), nPlanes, nTables)).as(Seq("qtable", "qbucket")))
      .select(col("q_id"), col("qv"), col("qtable"),
        explode(concat(array(col("qbucket")),
          transform(array((0 until nPlanes).map(j => lit(1L << j)): _*),
            m => col("qbucket").bitwiseXOR(m)))).as("qprobe"))
    val pairs = buckets.join(broadcast(qProbes),
        col("table") === col("qtable") && col("bucket") === col("qprobe"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id", "v", "qv")
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos", dot(col("v"), col("qv")))
    rerank(pairs, k, scoreName = "inner_product")
  }

  /** Random-hyperplane LSH ANN with `nTables` independent hash tables
    * (the standard recall amplifier: a true neighbor is missed only if
    * it hashes apart in EVERY table) plus distance-1 multiprobe on the
    * query side (each query also probes the `nPlanes` buckets that
    * differ by one projection sign — the neighbors most likely to hold
    * near misses). Buckets come from the native codegen'd
    * [[graft.functions.LcgBucketsExpr]] — engine-independent integer
    * arithmetic, so the DuckDB oracle re-derives the identical
    * candidate sets (the d5 pattern; the result is approximate but
    * deterministic and exact-hash-checked). Candidates are deduped
    * across tables before the exact re-rank. The shuffle key is
    * (table, bucket) — never all-pairs.
    */
  def lshTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nPlanes: Int = 6, nTables: Int = 8): DataFrame = {
    val c = corpus(emb)
      .withColumn("buckets",
        NativeTextExpressions.lcgBuckets(col("v"), nPlanes, nTables))
    val buckets = c.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(col("buckets")).as(Seq("table", "bucket")))
    // query side: home bucket + one-bit flips (multiprobe); the query
    // set is tiny so the probe expansion is broadcast, not shuffled
    val qProbes = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        posexplode(col("buckets")).as(Seq("qtable", "qbucket")))
      .select(col("q_id"), col("qv"), col("qn"), col("qtable"),
        explode(concat(array(col("qbucket")),
          transform(array((0 until nPlanes).map(j => lit(1L << j)): _*),
            m => col("qbucket").bitwiseXOR(m)))).as("qprobe"))
    val pairs = buckets.join(broadcast(qProbes),
        col("table") === col("qtable") && col("bucket") === col("qprobe"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id", "v", "nrm", "qv", "qn")
      // union candidates across tables/probes, once each (payload
      // columns are functionally determined by the pair key)
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    rerank(pairs, k)
  }

  /** FILTERED ANN: top-k cosine neighbors per query AMONG CORPUS
    * VECTORS SHARING THE QUERY'S LABEL — the vector-store "filtered
    * search" primitive (predicate + vector in one request: nearest
    * docs in MY language / MY tenant / MY shard). Post-filtering a
    * plain top-k is wrong at low selectivity (the k survivors of an
    * unfiltered heap can all fail the predicate, returning fewer than
    * k or nothing); the predicate must constrain CANDIDATE GENERATION.
    * Two pushdowns do that here:
    *  1. the corpus is semi-joined down to the labels the query set
    *     actually carries BEFORE bucketing — at 100 TB, with the table
    *     partitioned/bucketed by the filter column, that predicate
    *     reaches the scan as partition pruning and non-matching data
    *     is never read, let alone hashed;
    *  2. the label rides the bucket equi-join KEY (table, bucket,
    *     label), so a popular bucket never mixes tenants and the
    *     candidate count is Σ per-label bucket sizes, not global ones.
    * Buckets are the LCG integer arithmetic ([[lshTopK]]'s), so the
    * DuckDB oracle re-derives the identical candidate sets and the
    * entry is exact-hash-checked despite being approximate.
    */
  def filteredLshTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    // default nPlanes is 2 fewer than lshTopK's 6: the predicate cuts
    // the candidate population to ~1/|labels| of the corpus, so the
    // same-recall bucket count shrinks by ~log2(|labels|). At scale,
    // size planes off the expected PER-PREDICATE population (the
    // [[knnJoin]] auto policy applied to n / |labels|), not the table.
    val all = corpus(emb)
    val q = all.filter(col("vec_id") < nQueries)
    // distinct predicate values of the query set: tiny → broadcast
    // semi-join; the corpus prune happens before any bucketing work
    val qLabels = q.select("label").distinct()
    val c = all.join(broadcast(qLabels), Seq("label"), "leftsemi")
      .withColumn("buckets",
        NativeTextExpressions.lcgBuckets(col("v"), nPlanes, nTables))
    val buckets = c.select(col("vec_id"), col("label"), col("v"), col("nrm"),
      posexplode(col("buckets")).as(Seq("table", "bucket")))
    val qProbes = q
      .withColumn("buckets",
        NativeTextExpressions.lcgBuckets(col("v"), nPlanes, nTables))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"),
        posexplode(col("buckets")).as(Seq("qtable", "qbucket")))
      .select(col("q_id"), col("q_label"), col("qv"), col("qn"), col("qtable"),
        explode(concat(array(col("qbucket")),
          transform(array((0 until nPlanes).map(j => lit(1L << j)): _*),
            m => col("qbucket").bitwiseXOR(m)))).as("qprobe"))
    val pairs = buckets.join(broadcast(qProbes),
        col("table") === col("qtable") && col("bucket") === col("qprobe") &&
          col("label") === col("q_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id", "v", "nrm", "qv", "qn")
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    rerank(pairs, k)
  }

  /** ALL-CORPUS kNN JOIN: top-k cosine neighbors for EVERY vector —
    * the embedding-pipeline workhorse (near-dup graphs, diversity
    * sampling, cluster seeding run this over the whole corpus, not a
    * query set). [[lshTopK]] broadcasts its tiny query side; here both
    * sides are the corpus, so candidates come from a (table, bucket)
    * EQUI-JOIN of the LSH buckets against themselves: the shuffle key
    * is the bucket, pair count is Σ|bucket|² per table — never the
    * all-pairs n². Each unordered pair is generated once (id <); the
    * dot product is evaluated bucket-locally and multiprobe/table
    * duplicates collapse in a min-by-pair aggregate whose exchange
    * carries only (id, id, cos) — embedding arrays never ride a
    * pair-keyed shuffle. The per-vector top-k is the bounded heap
    * (map-side buffers ≤ k).
    * ANN recall is hash-dependent → rows-only; the recall spec
    * measures against the exact join on the fixture.
    */
  def knnJoin(emb: DataFrame, k: Int = 3,
      nPlanes: Int = 0, nTables: Int = 8,
      targetBucketSize: Int = 8): DataFrame = {
    // nPlanes ≤ 0 → AUTO: planes ≈ log2(n / targetBucketSize), the
    // same grow-the-blocking-knob-with-the-corpus policy as [[autoK]].
    // At fixed planes the Σ|bucket|² candidate bound degrades toward
    // n² as the corpus grows; holding the expected bucket SIZE fixed
    // keeps it ~n × targetBucketSize × tables × (planes+1). One
    // metadata-cheap count sizes it.
    val planes = if (nPlanes > 0) nPlanes
      else math.min(20, math.max(4,
        (math.log(math.max(1.0, emb.count().toDouble / targetBucketSize)) /
          math.log(2.0)).ceil.toInt))
    val c = corpus(emb)
      .withColumn("buckets",
        NativeTextExpressions.lcgBuckets(col("v"), planes, nTables))
    val buckets = c.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(col("buckets")).as(Seq("table", "bucket")))
    // distance-1 multiprobe on ONE side only: a pair whose buckets
    // differ by ≤1 projection bit is found from whichever endpoint
    // carries the flip (XOR is symmetric), so probing both sides
    // would only duplicate candidates. Probe stream is
    // n × tables × (planes+1) rows — linear, the recall knob.
    val right = buckets
      .select(col("table"), col("vec_id").as("j_id"), col("v").as("jv"),
        col("nrm").as("jn"),
        explode(concat(array(col("bucket")),
          transform(array((0 until planes).map(j => lit(1L << j)): _*),
            m => col("bucket").bitwiseXOR(m)))).as("bucket"))
    // The cosine is computed BUCKET-LOCALLY, in the join's own output
    // partition, so the embedding arrays never ride a pair-keyed
    // exchange: the old shape deduped rows still carrying v/jv — at
    // 768-d production embeddings that is ~12 KB of shuffle payload
    // per candidate × the multiprobe duplication factor. Collapsing
    // duplicates with a min-by-pair aggregate instead ships 24-byte
    // (long, long, double) rows, and partial aggregation folds
    // same-partition duplicates before the exchange. min() is exact:
    // every occurrence of a pair computes the identical dot (same
    // summation order), so the aggregate only picks the one value.
    val pairsOnce = buckets.join(right, Seq("table", "bucket"))
      .filter(col("vec_id") < col("j_id"))
      .withColumn("cos", graft.functions.OptimizationFence.fence(
        dot(col("v"), col("jv")) / (col("nrm") * col("jn"))))
      .select("vec_id", "j_id", "cos")
      .groupBy("vec_id", "j_id").agg(min("cos").as("cos"))
    // mirror so both endpoints rank the pair, then per-vector top-k.
    // r22: the mirror is an inline explode-to-both-directions, not a
    // union of two references to `pairsOnce` — the union re-planned
    // the whole bucket join + min-aggregate subtree per branch (two
    // full passes unless runtime exchange reuse happened to fire);
    // the explode doubles rows in the same task instead (guide §1.2).
    val pairs = pairsOnce
      .select(explode(array(
        struct(col("vec_id"), col("j_id"), col("cos")),
        struct(col("j_id").as("vec_id"), col("vec_id").as("j_id"),
          col("cos")))).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.j_id").as("j_id"),
        col("p.cos").as("cos"))
    pairs
      .groupBy("vec_id")
      .agg(topkByScore(round(col("cos"), 9), col("cos"), col("j_id"), k).as("tk"))
      .select(col("vec_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 6).as("cosine"))
  }

  /** GRAPH ANN (s13): greedy BEAM SEARCH over the k-NN graph — the
    * NSW/HNSW-class navigable-graph idea in a deterministic,
    * oracle-expressible form. The graph is a per-vector top-`degree`
    * edge set, SYMMETRIZED (an undirected k-NN graph is the standard
    * NSW base layer) — built EXACTLY by [[exactKnnGraphEdges]] (the
    * served path; offline build cost, r19 verdict #6) or cheaply by
    * [[knnGraphEdges]]'s LSH join; search starts at the smallest
    * corpus id (≠ the query itself) and runs `hops` rounds of
    * expand-score-prune: candidates = frontier ∪ frontier's
    * neighbors, scored by exact cosine against the query, pruned to
    * the `beam` best by (round(cos,9) DESC, id ASC). The answer is
    * the top-k over every node VISITED across all hops — monotone in
    * hops, exact on anything the walk reaches.
    *
    * Where IVF/LSH cover recall via bucket geometry, the graph walk
    * covers it via connectivity — the structure that wins at high
    * dimension under filters. Every step is deterministic (no RNG, a
    * total-order tie-break at the prune), so the DuckDB oracle
    * re-derives the WHOLE search: the s7 bucket arithmetic builds the
    * same edges, and the hops unroll as CTE blocks exactly like
    * the k-means iterations.
    *
    * Scale shape: the frontier is (queries × beam) rows — broadcast
    * against the edge table (one hash join per hop, edge side never
    * re-shuffled) and against the corpus for scoring (point-lookup
    * joins; a serving deployment holds graph + vectors in an index
    * service, here each hop is a broadcast hash join). The expensive
    * part is the one-time graph BUILD — exact top-`degree` by
    * default (offline, amortized; see [[exactKnnGraphEdges]]), or
    * s7's bucket-blocked LSH join when the build budget is tight.
    */
  /** The CHEAP s13 graph build: [[knnJoin]]'s LSH-bucketed
    * top-`degree` edges, symmetrized. O(Σ|bucket|²) build cost, but
    * the missed edges cap the walk's recall (measured 0.60@5 on the
    * fixture) — use [[exactKnnGraphEdges]] when build cost is paid
    * offline (r19 verdict #6).
    */
  def knnGraphEdges(emb: DataFrame, degree: Int = 8): DataFrame = {
    val edges0 = knnJoin(emb, k = degree)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    edges0.unionByName(
        edges0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** The QUALITY s13 graph build (r19 verdict #6): EXACT top-`degree`
    * neighbors per vector — the standard offline k-NN-graph
    * construction (HNSW/NSW papers build from true neighbors; the
    * walk's recall is then bounded by connectivity, not by an LSH
    * edge set's misses). All pairs score once: the corpus broadcasts
    * against itself and the per-vector heap keeps `degree` survivors,
    * so the shuffle moves ≤ degree rows per vector, never the pair
    * stream. Build cost is O(n²·d) — an OFFLINE cost, amortized over
    * every query served against the stored graph (the s11 stored-
    * index contract); at corpus sizes past a broadcastable right side,
    * shard the build (block-row sweeps over the same heap) or fall
    * back to [[knnGraphEdges]]'s LSH build and pay the recall gap.
    */
  def exactKnnGraphEdges(emb: DataFrame, degree: Int = 16): DataFrame = {
    val c = corpus(emb)
    val left = c.select(col("vec_id"), col("v"), col("nrm"))
    val right = broadcast(c.select(
      col("vec_id").as("j_id"), col("v").as("jv"), col("nrm").as("jn")))
    val edges0 = left.crossJoin(right)
      .filter(col("j_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("v"), col("jv")) / (col("nrm") * col("jn")))
      .groupBy("vec_id")
      .agg(topkByScore(round(col("cos"), 9), col("cos"), col("j_id"),
        degree).as("tk"))
      .select(col("vec_id").as("src"), explode(col("tk")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
    edges0.unionByName(
        edges0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Corpus bound for [[graphSearch]]'s DEFAULT exact edge build —
    * past it the all-pairs crossJoin stops being an acceptable
    * implicit cost and the caller must choose a build explicitly. */
  val maxExactGraphBuild: Long = 200000L

  def graphSearch(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      degree: Int = 16, beam: Int = 16, hops: Int = 8,
      nEntries: Int = 8, prebuiltEdges: Option[DataFrame] = None): DataFrame = {
    // degree/beam defaults are SWEPT values (graft.tools.GraphAnnSweep,
    // r19 verdict #6): on the 64-d fixture, exact edges at
    // degree 16 / beam 16 / 8 entries read recall@5 0.92 (sf0.001) and
    // 0.96 (sf0.01) vs 0.62/0.64 at the old 8/8 — the walk, not just
    // the edge set, was the limiter
    val c = corpus(emb)
    // materialized LEAVES, not bare pins (r21): every hop builds a new
    // plan referencing these frames, so Catalyst re-analyzed the full
    // graph-build lineage once per hop — the leaf keeps hops 2..H as
    // memory reads AND one-node subplans
    val edges = prebuiltEdges.getOrElse {
      // DEFAULT-BUILD GUARD (r21, ADVICE r20): exactKnnGraphEdges is
      // an O(n²·d) broadcast crossJoin — correct offline at corpus
      // sizes whose right side broadcasts, quadratic disaster past
      // them. Library callers without prebuilt edges get a loud
      // refusal with the two escape hatches named instead of a
      // broadcast-limit failure (or worse, a silent n² job).
      val n = emb.count()
      require(n <= maxExactGraphBuild,
        s"graphSearch default edge build is exact O(n^2) and the corpus has " +
          s"$n vectors (> $maxExactGraphBuild): build the graph offline and " +
          "pass prebuiltEdges (exactKnnGraphEdges on a budget, or " +
          "knnGraphEdges' LSH build at reduced recall)")
      graft.Artifacts.leaf(exactKnnGraphEdges(emb, degree)) // read once per hop
    }
    // the scoring side re-scans per hop too — materialize the bare
    // (id, v, nrm) projection so hops 2..H are memory reads
    val cScore = graft.Artifacts.leaf(c.select(col("vec_id"), col("v"), col("nrm")))
    val q = graft.Artifacts.leaf(c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    // ENTRY POINTS: the nEntries smallest corpus ids not equal to the
    // query — ids are uncorrelated with embedding geometry, so these
    // are a deterministic random-ish spread standing in for HNSW's
    // upper-layer descent (a single entry on a pure k-NN graph has no
    // long-range links to cross the space with). A bounded control
    // read (the codebook-collect convention).
    val firstIds = c.select("vec_id").orderBy("vec_id").limit(nEntries + 1)
      .collect().map(_.getLong(0))
    require(firstIds.length >= 2, "graphSearch needs at least 2 corpus vectors")
    val spark = emb.sparkSession
    import spark.implicits._
    // THE FRONTIER LIVES ON THE DRIVER (r21): it is bounded by
    // queries × beam rows BY CONSTRUCTION (the beam prune), i.e. a
    // control frame under the firstIds/codebook collect convention —
    // never corpus-sized. Driving the loop from a collected frontier
    //   - cuts the hop-to-hop plan recursion outright (each hop's plan
    //     roots at a LocalRelation + the two materialized leaves), so
    //     the per-hop eager `localCheckpoint` and its write amplify
    //     away entirely, and
    //   - makes the BEAM FIXPOINT observable for free: if
    //     frontier_k == frontier_{k-1} then cand_{k+1} == cand_k,
    //     scored_{k+1} == scored_k (same candidates, same
    //     deterministic scores), so the visited set gains nothing and
    //     every later frontier repeats — the remaining hops are
    //     provably no-ops and the walk exits early with a
    //     bit-identical answer to the oracle's full 8-hop unroll
    //     (GraphSearchFixpointSpec asserts both claims).
    val qIdList = q.select("q_id").collect().map(_.getLong(0)).sorted
    var frontierPairs: Set[(Long, Long)] = qIdList.flatMap { qid =>
      firstIds.filter(_ != qid).sorted.take(nEntries).map(v => (qid, v))
    }.toSet
    // THE VISITED SET LIVES ON THE DRIVER TOO (r22, ADVICE r21 #3):
    // r21's loop kept `visited` as a lazy union of per-hop scored
    // frames, so every hop's join+score work executed TWICE — once
    // for the frontier collect and again when the final union ran for
    // dedup/rerank. Each hop now runs exactly ONE job: collect the
    // scored candidate rows (bounded by queries × beam × (degree+1)
    // BY CONSTRUCTION — the same control-frame argument as the
    // frontier), dedup them into a driver map (a revisited pair
    // scores identically — same deterministic expression over the
    // same leaves), and compute the beam prune driver-side with
    // TopKByScore's exact ordering (round(cos,9) desc via
    // Double.compare, id asc). The final rerank runs over a
    // LocalRelation of the visited map. GraphSearchFixpointSpec
    // replays the pre-r21 full-unroll loop and pins row-identity.
    def round9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val visitedMap = scala.collection.mutable.Map[(Long, Long), Double]()
    var hop = 1
    var fixed = false
    while (hop <= hops && !fixed) {
      val frontierDf = frontierPairs.toSeq.sorted.toDF("q_id", "vec_id")
      // cand may carry duplicates (frontier ∪ frontier's neighbors);
      // they dedup on the driver after the collect, so the hop job is
      // pure broadcast-join + projection — no exchange at all
      val cand = frontierDf
        .unionByName(edges.join(broadcast(frontierDf),
            edges("src") === frontierDf("vec_id"))
          .select(col("q_id"), col("dst").as("vec_id")))
        .filter(col("vec_id") =!= col("q_id"))
      val hopRows = cScore
        .join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
        .select(col("q_id"), col("vec_id"), col("cos"))
        .collect()
      val hopScores = scala.collection.mutable.Map[(Long, Long), Double]()
      hopRows.foreach { r =>
        hopScores.getOrElseUpdate((r.getLong(0), r.getLong(1)), r.getDouble(2))
      }
      hopScores.foreach { case (k2, v) => visitedMap.getOrElseUpdate(k2, v) }
      // NB: iterate the groupBy as pairs — flatMap on the Map itself
      // would rebuild a Map keyed by q_id and collapse the beam to one
      // node per query
      val next = hopScores.toSeq
        .map { case ((qid, vid), cos) => (qid, round9(cos), cos, vid) }
        .groupBy(_._1)
        .iterator
        .flatMap { case (qid, rows) =>
          rows.sortWith { (a, b) =>
            val c = java.lang.Double.compare(a._2, b._2)
            c > 0 || (c == 0 && a._4 < b._4)
          }.take(beam).map(t => (qid, t._4))
        }.toSet
      if (next == frontierPairs) fixed = true else frontierPairs = next
      hop += 1
    }
    val visitedDf = visitedMap.toSeq
      .map { case ((qid, vid), cos) => (qid, vid, cos) }
      .sortBy(t => (t._1, t._2))
      .toDF("q_id", "vec_id", "cos")
    rerank(visitedDf, k)
  }

  /** EMBEDDING DRIFT MONITOR (s14) — "did the embedding space move
    * between snapshots?", the retrain/re-index trigger an embedding
    * pipeline watches. Per label, both snapshots collapse to their
    * FIXED-POINT centroids ([[graft.functions.VectorMeanAgg]] — the
    * bit-stable, oracle-re-derivable mean), and the drift readout is
    * centroid-vs-centroid cosine plus both centroid norms: one
    * dim-sized row per label however many billions of vectors fed it.
    * Snapshots here are the deterministic vec_id parity split (the
    * d7 convention standing in for two corpus versions).
    *
    * Scale shape: two label-keyed partial-aggregating exchanges (the
    * centroid sums), then label-sized arithmetic — embeddings never
    * ride a join.
    */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val c = corpus(emb)
    def centroids(half: DataFrame, tag: String): DataFrame =
      half.groupBy("label")
        .agg(count(lit(1)).as(s"n_$tag"),
          graft.functions.VectorMeanAgg.vectorMean(col("v")).as(s"c_$tag"))
    val a = centroids(c.filter(pmod(col("vec_id"), lit(2)) === 0), "a")
    val b = centroids(c.filter(pmod(col("vec_id"), lit(2)) =!= 0), "b")
    a.join(b, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(dot(col("c_a"), col("c_b")) /
          (norm(col("c_a")) * norm(col("c_b"))), 6).as("centroid_cos"),
        round(norm(col("c_a")), 6).as("norm_a"),
        round(norm(col("c_b")), 6).as("norm_b"))
  }

  /** NEAREST-CENTROID CLASSIFIER (Rocchio): the train split collapses
    * to ONE fixed-point centroid per label ([[graft.functions.
    * VectorMeanAgg]] — bit-stable at any partitioning, so the oracle
    * re-derives the exact centroids), and each query takes the label
    * whose centroid maximizes cosine (round(cos, 9) rank, ties to the
    * smaller label). The |labels|-row centroid frame broadcasts onto
    * the query set; at serving scale this is the O(|labels|)
    * classifier that screens before a kNN fallback (s12/s17).
    */
  def centroidClassify(emb: DataFrame, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val cents = c.filter(col("vec_id") >= nQueries)
      .groupBy(col("label").cast("long").as("clab"))
      .agg(graft.functions.VectorMeanAgg.vectorMean(col("v")).as("cv"))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        col("label").cast("long").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    q.crossJoin(broadcast(cents))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qn") * norm(col("cv"))))
      .groupBy("q_id")
      .agg(max_by(struct(col("clab"), col("cos")),
          struct(round(col("cos"), 9), -col("clab"))).as("b"),
        max(col("true_label")).as("true_label"))
      .select(col("q_id"), col("b.clab").as("predicted_label"),
        round(col("b.cos"), 6).as("centroid_cos"), col("true_label"),
        (col("b.clab") === col("true_label")).as("correct"))
  }

  /** Exact cosine RANGE search: every corpus vector with
    * `cos >= tau` per query — the thresholded counterpart of top-k
    * (radius query), the primitive behind "pull everything similar
    * enough to this contamination probe / centroid / exemplar".
    * Same scale shape as [[bruteForceTopK]]: the query set is
    * broadcast, the corpus side is one narrow codegen'd map (dot +
    * norm via native expressions) with a selective filter — no
    * shuffle at all until the (tiny) result. The threshold compares
    * `round(cos, 9)` so the cut is bit-identical cross-engine.
    */
  def rangeSearch(emb: DataFrame, tau: Double = 0.3, nQueries: Int = 10): DataFrame = {
    val c = corpus(emb)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      // fenced: the τ filter would otherwise inline the dot product
      // and evaluate it twice per (corpus × query) row — see
      // [[graft.functions.OptimizationFence]]
      .withColumn("cos", graft.functions.OptimizationFence.fence(
        dot(col("v"), col("qv")) / (col("nrm") * col("qn"))))
      .filter(round(col("cos"), 9) >= tau)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic seeded k-means (the IVF coarse codebook): init =
    * the first `k` vectors by id, then `iters` rounds of
    * assign-to-nearest + element-wise FIXED-POINT mean
    * ([[graft.functions.VectorMeanAgg]]: micro-quantized integer
    * sums, so centroid bits are partitioning-independent AND
    * re-derivable by the DuckDB oracle — the s3/s8/s11 exact-oracle
    * flip). Every step is a distributed DataFrame op; fully
    * deterministic — no RNG.
    *
    * Assignment is a `max_by` hash aggregate (argmax centroid per
    * vector with the same (round(cos,9) desc, c_id asc) tie-break the
    * old window used) — partial aggregation instead of a per-vector
    * window sort.
    */
  def kmeansCentroids(c: DataFrame, k: Int, iters: Int): DataFrame = {
    // init = the k SMALLEST-id vectors (bounded top-k sort), not
    // `vec_id < k`: a filtered corpus (st18's ingest split) has id
    // gaps and would seed fewer than k — or zero — centroids; on a
    // contiguous full table the two forms are identical.
    var centroids = c.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
      .withColumn("cn", norm(col("cv")))
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(c, centroids)
      // centroid update = ONE array-valued aggregation
      // ([[graft.functions.VectorMeanAgg]]): the old compositional
      // plan (posexplode → avg by (c_id, pos) → collect_list +
      // array_sort) amplified every vector into dim position-rows and
      // paid a second shuffle just to re-assemble arrays
      centroids = assigned.groupBy("c_id")
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("v")).as("cv"))
        .withColumn("cn", norm(col("cv")))
    }
    centroids
  }

  /** Nearest-centroid assignment: the codebook (bounded at 65,536 by
    * [[autoK]]) is collected once — a dim-sized control read like
    * h16's, not a data-plane collect — and the per-vector argmax by
    * (round(cos,9) desc, c_id asc) runs inside
    * [[graft.functions.NearestCentroidExpr]]: a codegen'd primitive
    * loop, ONE ROW OUT PER VECTOR. The previous crossJoin + max_by
    * plan fed n×k rows into a partial aggregate and re-shuffled the
    * whole corpus on vec_id; this is a narrow map — no join, no
    * exchange, and every input column rides along untouched.
    */
  private def assignToCentroids(c: DataFrame, centroids: DataFrame): DataFrame = {
    val cb = centroids.select(col("c_id"), col("cv"), col("cn"))
      .collect()
      .sortBy(_.getLong(0))
    // empty corpus → empty codebook: preserve the old crossJoin plan's
    // degenerate result (zero rows, same schema) instead of requiring
    // a non-empty codebook
    if (cb.isEmpty)
      return c.select(col("vec_id"), lit(null).cast("long").as("c_id"),
        col("label"), col("v"), col("nrm")).where(lit(false))
    val ids = cb.map(_.getLong(0))
    val vecs = cb.map(_.getSeq[Double](1).toArray)
    val norms = cb.map(_.getDouble(2))
    c.withColumn("c_id", graft.functions.NearestCentroidExpr
        .nearestCentroid(col("v"), col("nrm"), ids, vecs, norms))
      .select(col("vec_id"), col("c_id"), col("label"), col("v"), col("nrm"))
  }

  /** IVF ANN: coarse centroids from seeded k-means; assign every
    * vector to its nearest centroid, probe the `nprobe` nearest lists
    * per query.
    */
  def ivfTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10, nprobe: Int = 3): DataFrame = {
    val c = corpus(emb)
    val centroids = kmeansCentroids(c, k = 10, iters = 2)
    val assigned = assignToCentroids(c, centroids)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("c_id").as("list_id"))
    // queries probe their nprobe nearest lists: bounded-heap top-nprobe
    // per query over the broadcast codebook
    val probes = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .groupBy("q_id")
      .agg(topkByScore(round(col("ccos"), 9), col("c_id").cast("double"), col("c_id"), nprobe).as("tk"),
        first("qv").as("qv"), first("qn").as("qn"))
      .select(col("q_id"), col("qv"), col("qn"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("qv"), col("qn"), col("t.id").as("list_id"))
    val pairs = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    rerank(pairs, k)
  }

  /** IVF OPERATING-POINT CURVE (s20; the probe-axis sibling of s19's
    * banding curve): recall@k of the IVF index at each
    * nprobe ∈ `nprobes`, measured against ONE brute-force truth pass
    * over ONE trained codebook — the readout an ANN deployment tunes
    * nprobe on (recall climbs with probed lists, scan cost climbs
    * linearly with them; the curve names the knee). The codebook,
    * assignments, truth frame and the max-nprobe probe ranking build
    * ONCE (pin-cached — each sweep point reads them three ways);
    * each sweep point then pays only its own bounded candidate join.
    * Probe selection is [[ivfTopK]]'s exact bounded-heap ranking
    * (round(cos,9) desc, centroid-id ties), so sweep point p
    * reproduces `ivfTopK(nprobe = p)`'s candidate set verbatim.
    */
  def ivfProbeCurve(emb: DataFrame, k: Int = 5, nQueries: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), s"bad nprobes: $nprobes")
    val c = corpus(emb)
    val centroids = kmeansCentroids(c, k = 10, iters = 2)
    val assigned = graft.Artifacts.pin(assignToCentroids(c, centroids)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("list_id")))
    val truth = graft.Artifacts.pin(bruteForceTopK(emb, k, nQueries)
      .select(col("q_id"), col("neighbor_id")))
    val probeRanked = graft.Artifacts.pin(
      c.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        .crossJoin(broadcast(centroids))
        .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .groupBy("q_id")
        .agg(topkByScore(round(col("ccos"), 9), col("c_id").cast("double"),
          col("c_id"), nprobes.max).as("tk"),
          first("qv").as("qv"), first("qn").as("qn"))
        .select(col("q_id"), col("qv"), col("qn"),
          posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("q_id"), col("qv"), col("qn"),
          (col("pos") + 1).as("prank"), col("t.id").as("list_id")))
    nprobes.map { p =>
      val probes = probeRanked.filter(col("prank") <= p)
        .select(col("q_id"), col("qv"), col("qn"), col("list_id"))
      val pairs = assigned.join(broadcast(probes), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      val approx = rerank(pairs, k).select(col("q_id"), col("neighbor_id"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nH = truth.join(approx, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      nT.crossJoin(broadcast(nH))
        .select(lit(p.toLong).as("nprobe"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** IVF-PQ index build — the memory-scale path for [[ivfTopK]]: at
    * 100 TB of 768-d embeddings the raw vectors (6 KB/row) cannot live
    * in executor memory, so the index stores PRODUCT-QUANTIZED codes:
    * the vector splits into `m` subspaces, each subspace trains its own
    * `nCodes`-entry codebook (the existing seeded k-means +
    * [[graft.functions.VectorMeanAgg]] — deterministic, no RNG), and a
    * vector is stored as m byte codes + its reconstructed norm. At
    * dim=64, m=8 that is 8 bytes of codes against 512 bytes of raw
    * doubles — 64× — and the ratio grows with dim.
    *
    * Spark shape: codebook training is m dim-sliced k-means runs
    * (dim-sized collects, like [[assignToCentroids]]'s control read);
    * ENCODING is one narrow codegen'd map over builtins — per
    * subspace an L2-argmin (`zip_with` squared-diff fold +
    * `array_position` of `array_min`; ties take the lowest code, so
    * encoding is deterministic) — no join, no shuffle, no UDF.
    * Returns (index, codebooks, coarse centroids): the index carries
    * only (vec_id, list_id, codes, rnrm).
    */
  def ivfpqIndex(emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      kCoarse: Int = 10, iters: Int = 2): (DataFrame, Seq[Seq[Seq[Double]]], DataFrame) = {
    require(nCodes >= 1 && nCodes <= 256, "nCodes must be in [1, 256] (byte-packed)")
    // the index BUILD makes ~(iters+1) passes for the coarse codebook
    // plus iters joint passes for the PQ codebooks — cache the parsed
    // corpus so each pass is a memory scan, not a parquet re-read.
    // (Production builds train on a SAMPLE and persist the index; the
    // cache models the "read once, train, encode" offline job.)
    val c = graft.Artifacts.pin(corpus(emb))
    val dim = c.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val centroids = kmeansCentroids(c, kCoarse, iters)
    val assigned = assignToCentroids(c, centroids)
      .select(col("vec_id"), col("v"), col("c_id").as("list_id"))
    // JOINT subspace training: all m codebooks advance in ONE
    // distributed pass per iteration over exploded (vec, subspace)
    // rows — m separate per-subspace k-means would launch m × iters
    // jobs over the corpus for the identical total data volume.
    // Assignment is L2 argmin (k-means proper, and the SAME metric the
    // encoder below uses — training and encoding must agree on the
    // metric or cells drift from their assignment regions); seeds are
    // the k smallest-id vectors' slices, the kmeansCentroids policy.
    val subRows = c.select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("j"))
      .select(col("j"), slice(col("v"), col("j") * sub + 1, lit(sub)).as("sv"))
    val seeds = c.orderBy("vec_id").limit(nCodes)
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    // loud contract error instead of an opaque books(j)(cd) IOOBE
    // deep inside the first training iteration
    require(seeds.length == nCodes,
      s"training corpus has only ${seeds.length} vectors; nCodes=$nCodes " +
        "PQ codebooks need at least nCodes distinct seed vectors")
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map(j =>
      seeds.toSeq.map(full => full.slice(j * sub, (j + 1) * sub).toSeq))
    for (_ <- 1 to iters) {
      val bl = typedLit(books)
      val means = subRows
        .withColumn("scores", transform(element_at(bl, col("j") + 1),
          cb => aggregate(zip_with(col("sv"), cb, (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)))
        .withColumn("code",
          (array_position(col("scores"), array_min(col("scores"))) - 1).cast("int"))
        .groupBy("j", "code")
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("sv")).as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
      // empty (subspace, code) cells keep their previous centroid —
      // the codebook must stay nCodes wide for byte-stable encoding
      books = (0 until m).map(j => (0 until nCodes).map(cd =>
        means.getOrElse((j, cd), books(j)(cd))))
    }
    val codebooks: Seq[Seq[Seq[Double]]] = books
    val index = encodePqAssigned(assigned, codebooks)
    (index, codebooks, centroids)
  }

  /** Encode parsed corpus rows against FROZEN coarse centroids + PQ
    * codebooks — the deterministic half of the index build, factored
    * so incremental maintenance ([[upsertPqIndex]]) reuses byte-for-
    * byte the same encoding the full build produces. Given the same
    * codebooks, encoding a vector yields the same (list_id, codes,
    * rnrm) whether it arrives in the original build or a later batch
    * — that determinism is what makes increment ≡ rebuild provable.
    */
  def encodePq(c: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      centroids: DataFrame): DataFrame =
    encodePqAssigned(
      assignToCentroids(c, centroids)
        .select(col("vec_id"), col("v"), col("c_id").as("list_id")),
      codebooks)

  private def encodePqAssigned(assigned: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    val codeCols = (0 until m).map { j =>
      val sv = slice(col("v"), j * sub + 1, sub)
      val scores = transform(element_at(cbLit, j + 1),
        cb => aggregate(zip_with(sv, cb, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }
    assigned
      .withColumn("codes0", array(codeCols: _*))
      .withColumn("rnrm", norm(flatten(transform(col("codes0"),
        (cd, j) => element_at(element_at(cbLit, j + 1), cd + 1)))))
      // byte-pack: 0-based code − 128 spans 0..255 inside a signed
      // tinyint — the production 256-code layout
      .withColumn("codes", transform(col("codes0"), cd => (cd - 128).cast("byte")))
      .select("vec_id", "list_id", "codes", "rnrm")
  }

  /** INCREMENTAL IVF-PQ MAINTENANCE: fold a batch of new/updated
    * vectors into a stored index WITHOUT retraining — encode the
    * batch against the frozen coarse centroids + codebooks
    * ([[encodePq]]), drop any stored rows the batch replaces (an
    * id-keyed left-anti join; the batch side is broadcast-sized in
    * steady-state ingest), and union. Cost is O(batch), never
    * O(corpus): the stored code rows are untouched bytes. Because
    * encoding is deterministic under frozen codebooks, the upserted
    * index is PROVABLY identical to rebuilding from (corpus∖batch ∪
    * batch) with the same codebooks — the h21/q45 increment≡rebuild
    * contract on the ANN plane (spec-asserted row-for-row). Codebook
    * drift under distribution shift is handled by periodic full
    * retrains, exactly as in production IVF-PQ deployments.
    */
  def upsertPqIndex(index: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      centroids: DataFrame, batchEmb: DataFrame): DataFrame = {
    val enc = encodePq(corpus(batchEmb), codebooks, centroids)
    index.join(enc.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(enc)
  }

  /** DELETE vectors from a stored IVF-PQ index: an id-keyed left-anti
    * join drops the code rows — O(index scan), no retraining, no
    * tombstones (the dropped rows simply stop being candidates).
    * `deletes` is any frame with a `vec_id` column. Together with
    * [[upsertPqIndex]] this completes the index's CRUD lifecycle
    * under frozen codebooks; heavy churn eventually warrants a
    * retrain, exactly like production IVF deployments.
    */
  def deleteFromPqIndex(index: DataFrame, deletes: DataFrame): DataFrame =
    index.join(deletes.select("vec_id"), Seq("vec_id"), "left_anti")

  /** IVF-PQ ANN query: probe `nprobe` coarse lists exactly as
    * [[ivfTopK]], score candidates by ASYMMETRIC DISTANCE — raw query
    * against the candidate's quantized reconstruction, read from the
    * compressed index only — shortlist `refine × k` per query on the
    * bounded heap, then re-rank the shortlist EXACTLY by re-attaching
    * raw vectors via an id-keyed join (the s7 payload-diet shape: the
    * scan side touches codes + norms only; raw vectors surface for
    * refine×k×queries rows). Production note: a per-query LUT
    * (subspace × code → partial dot) would turn each ADC into m table
    * lookups; here the reconstruction is inlined — same bandwidth
    * win, simpler plan.
    */
  def ivfpqTopK(emb: DataFrame, k: Int = 5, nQueries: Int = 10, nprobe: Int = 3,
      m: Int = 8, nCodes: Int = 16, refine: Int = 8): DataFrame = {
    val (index, codebooks, centroids) = ivfpqIndex(emb, m, nCodes)
    ivfpqQuery(emb, index, codebooks, centroids, k, nQueries, nprobe, refine)
  }

  /** PERSIST an IVF-PQ index (the offline build → online serve
    * boundary): code rows and coarse centroids as parquet, codebooks
    * as one (subspace, code, cv) table. At 100 TB the index is a
    * maintained artifact; queries load it and never see raw corpus
    * vectors except for their own refine rows.
    */
  def savePqIndex(dir: String, index: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], centroids: DataFrame): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    index.write.mode("overwrite").parquet(s"$dir/index")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cv, code) => (j, code, cv) }
    }.toDF("j", "code", "cv").write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Load a [[savePqIndex]] artifact; the codebook table is dim-sized
    * (m × nCodes rows) — a driver-side control read, like the
    * assignment codebooks. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Seq[Seq[Seq[Double]]], DataFrame) = {
    val index = graft.Tables.read(spark, s"$dir/index")
    val centroids = graft.Tables.read(spark, s"$dir/centroids")
    val rows = graft.Tables.read(spark, s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = rows.map(_._1).max + 1
    val codebooks = (0 until m).map { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq
    }
    (index, codebooks, centroids)
  }

  /** IVF-PQ query against a prebuilt (or [[loadPqIndex]]-loaded)
    * index — the serving-path half of [[ivfpqTopK]]. */
  def ivfpqQuery(emb: DataFrame, index: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], centroids: DataFrame,
      k: Int = 5, nQueries: Int = 10, nprobe: Int = 3,
      refine: Int = 8): DataFrame = {
    val c = corpus(emb)
    val cbLit = typedLit(codebooks)
    val probes = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .groupBy("q_id")
      .agg(topkByScore(round(col("ccos"), 9), col("c_id").cast("double"), col("c_id"), nprobe).as("tk"),
        first("qv").as("qv"), first("qn").as("qn"))
      .select(col("q_id"), col("qv"), col("qn"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("qv"), col("qn"), col("t.id").as("list_id"))
    // unpack byte code cd → 1-based codebook position cd + 129
    val reconCol = flatten(transform(col("codes"),
      (cd, j) => element_at(element_at(cbLit, j + 1), cd.cast("int") + 129)))
    val shortlist = index.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", graft.functions.OptimizationFence.fence(
        dot(col("qv"), reconCol) / (col("qn") * col("rnrm"))))
      .groupBy("q_id")
      .agg(topkByScore(round(col("adc"), 9), col("adc"), col("vec_id"), refine * k).as("tk"),
        first("qv").as("qv"), first("qn").as("qn"))
      .select(col("q_id"), col("qv"), col("qn"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("qv"), col("qn"), col("t.id").as("vec_id"))
    val pairs = shortlist
      .join(c.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    rerank(pairs, k)
  }

  /** SemDeDup-style SEMANTIC dedup: cluster the corpus with the
    * deterministic seeded k-means codebook, then within each cluster
    * mark every vector that has a lower-id cluster-mate with
    * cosine ≥ `tau` as a `semantic_dup` of its LOWEST-id such
    * neighbor; everything else is `kept`. One row per input vector —
    * the per-doc admission labels a curation pipeline joins back onto
    * the corpus (where d5 emits near-dup PAIRS, this emits the
    * cluster-scoped keep/drop decision).
    *
    * Scale shape: the codebook is dim-sized and broadcast both for
    * assignment and probing; candidate pairs are generated ONLY
    * within a cluster (the self-join shuffles on the cluster id), so
    * pair count is Σ|cluster|² — `k` is the blocking knob and should
    * grow with the corpus (k ≈ n/1000 at scale) exactly as SemDeDup
    * sizes its clusters. Threshold compares use round(cos, 9) for
    * cross-engine FP-tie parity; fully deterministic, no RNG.
    */
  /** Blocking-knob policy for [[semanticDedup]]: k ≈ n / target
    * cluster size (SemDeDup sizes its clusters this way), bounded so
    * the codebook broadcast stays dim-sized. With k growing linearly
    * in n, the within-cluster candidate bound Σ|cluster|² stays
    * ~n × targetClusterSize instead of degrading toward n² as the
    * corpus outgrows a fixed k.
    */
  def autoK(n: Long, targetClusterSize: Int = 1000): Int = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    math.max(1L, math.min(65536L,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
  }

  /** [[semanticDedup]] with the blocking knob derived from the corpus
    * size — the no-tuning entry point. Pays ONE corpus count (a
    * metadata-cheap aggregate) to size k; everything downstream is
    * identical to [[semanticDedup]].
    */
  def semanticDedupAuto(emb: DataFrame, tau: Double = 0.9,
      targetClusterSize: Int = 1000, iters: Int = 2): DataFrame =
    semanticDedup(emb, tau, autoK(emb.count(), targetClusterSize), iters)

  def semanticDedup(emb: DataFrame, tau: Double = 0.9, k: Int = 10,
      iters: Int = 2): DataFrame = {
    val c = corpus(emb)
    val centroids = kmeansCentroids(c, k, iters)
    val assigned = assignToCentroids(c, centroids)
      .select(col("vec_id"), col("c_id").as("cluster_id"), col("v"), col("nrm"))
    val mates = assigned.select(col("cluster_id"), col("vec_id").as("j_id"),
      col("v").as("jv"), col("nrm").as("jn"))
    val dups = assigned.join(mates, Seq("cluster_id"))
      .filter(col("j_id") < col("vec_id"))
      .withColumn("cos", graft.functions.OptimizationFence.fence(
        dot(col("v"), col("jv")) / (col("nrm") * col("jn"))))
      .filter(round(col("cos"), 9) >= tau)
      .groupBy("vec_id")
      .agg(min(col("j_id")).as("dup_of"),
        min_by(col("cos"), col("j_id")).as("dup_cos"))
    assigned.select(col("vec_id"), col("cluster_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        when(col("dup_of").isNull, lit("kept"))
          .otherwise(lit("semantic_dup")).as("status"),
        coalesce(col("dup_of"), col("vec_id")).as("canonical_id"),
        round(col("dup_cos"), 6).as("cos_to_canonical"))
  }

  /** STATIC semantic-dedup index over an ingested corpus — the
    * embedding-path twin of d7's content-hash index: the seeded
    * k-means codebook (trained on the CORPUS only, [[autoK]]-sized so
    * cluster population stays ~targetClusterSize as the corpus grows)
    * plus the corpus's cluster assignment. In production both are
    * persisted artifacts maintained with the corpus; per arriving
    * batch neither is recomputed. Returns (centroids, corpusIndex)
    * where corpusIndex = (cluster_id, corpus_id, cv, cn).
    */
  def semanticIndex(corpusEmb: DataFrame, targetClusterSize: Int = 1000,
      iters: Int = 2): (DataFrame, DataFrame) = {
    val c = corpus(corpusEmb)
    val k = autoK(c.count(), targetClusterSize)
    val centroids = kmeansCentroids(c, k, iters)
    val idx = assignToCentroids(c, centroids)
      .select(col("c_id").as("cluster_id"), col("vec_id").as("corpus_id"),
        col("v").as("cv"), col("nrm").as("cn"))
    (centroids, idx)
  }

  /** Classify a NEW batch of embeddings against a prebuilt
    * [[semanticIndex]]: assign each batch vector to its nearest
    * centroid (the codegen'd narrow-map argmax — no join), then
    * compare it ONLY against corpus members of that cluster
    * (batch×corpus within a cluster; never corpus×corpus, never
    * all-pairs). A batch vector with a corpus-mate at
    * round(cos,9) ≥ tau is `semantic_dup_of_corpus` of its best such
    * match (max cos, min corpus id tie-break); otherwise `new`.
    * Deterministic in (index, row) — so micro-batching is
    * semantics-free and a replayed batch rewrites identical bytes.
    */
  def classifyAgainstIndex(centroids: DataFrame, corpusIndex: DataFrame,
      batchEmb: DataFrame, tau: Double = 0.9): DataFrame = {
    val assigned = assignToCentroids(corpus(batchEmb), centroids)
      .select(col("vec_id"), col("c_id").as("cluster_id"), col("v"), col("nrm"))
    val hits = assigned.join(corpusIndex, Seq("cluster_id"))
      .withColumn("cos", graft.functions.OptimizationFence.fence(
        dot(col("v"), col("cv")) / (col("nrm") * col("cn"))))
      .filter(round(col("cos"), 9) >= tau)
      .groupBy("vec_id")
      .agg(max_by(struct(col("corpus_id"), col("cos")),
        struct(round(col("cos"), 9), -col("corpus_id"))).as("m"))
      .select(col("vec_id"), col("m.corpus_id").as("match_id"),
        col("m.cos").as("match_cos"))
    assigned.select(col("vec_id"), col("cluster_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        when(col("match_id").isNull, lit("new"))
          .otherwise(lit("semantic_dup_of_corpus")).as("status"),
        col("match_id"), round(col("match_cos"), 6).as("match_cos"))
  }

  /** Single-shot incremental semantic dedup — [[semanticIndex]] +
    * [[classifyAgainstIndex]] in one call. This is the batch oracle
    * for the streaming form (st18): classification depends only on
    * (corpus, row), so the union over any micro-batching of `batchEmb`
    * equals this result exactly.
    */
  def incrementalSemanticDedup(corpusEmb: DataFrame, batchEmb: DataFrame,
      tau: Double = 0.9, targetClusterSize: Int = 1000,
      iters: Int = 2): DataFrame = {
    val (centroids, idx) = semanticIndex(corpusEmb, targetClusterSize, iters)
    classifyAgainstIndex(centroids, idx, batchEmb, tau)
  }
}

/** Registry for the similarity family. s1/s4/s5 are exact with DuckDB
  * oracles. s2/s6/s7 are LSH-approximate but STILL exact-hash-checked:
  * their hyperplanes are the LCG integer arithmetic
  * ([[graft.functions.NativeTextExpressions.lcgBuckets]], d5's
  * pattern), so the DuckDB oracle re-derives the identical candidate
  * sets and re-ranks them — the approximation is deterministic and
  * cross-engine reproducible, and recall specs still measure it
  * against the exact baselines. s3/s8/s11 (k-means codebooks) became
  * exact-hash-checked when [[graft.functions.VectorMeanAgg]] went
  * FIXED-POINT: centroid updates are micro-quantized integer sums, so
  * the oracle re-derives BOTH k-means iterations (and the joint PQ
  * subspace training, encoding, ADC shortlist and exact refine)
  * bit-for-bit in SQL — see [[SimilarityQueries.ivfCoarseCtes]].
  */
object SimilarityQueries {

  /** Memoized s13 k-NN graph per (session, sfDir) — the stored-index
    * contract ([[graft.operators.HierarchyQueries]]'s dim cache, d6's
    * component cache): the graph is a maintained artifact built once
    * and served many times; timed s13 runs measure the WALK, not an
    * index rebuild.
    */
  private def cachedGraph(s: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.stored(s, "similarity.knnGraph", sfDir)(
      Similarity.exactKnnGraphEdges(Tables.embeddings(s, sfDir)))

  /** Memoized IVF-PQ index artifacts per (session, sfDir, corpus
    * split) — the SAME stored-index contract as [[cachedGraph]],
    * applied to the index family the code already documents as a
    * maintained artifact ([[Similarity.savePqIndex]]: "at 100 TB the
    * index is a maintained artifact; queries load it"). s8 and s22
    * build the IDENTICAL full-corpus index per invocation (≈10
    * driver-coordinated k-means/encode jobs each); s11's base-split
    * index is its frozen-codebook training artifact. Timed runs now
    * measure the SERVE path (probe → ADC shortlist → exact refine) and
    * the CRUD delta (upsert/delete), not an index retrain — retrains
    * are the offline maintenance job. Results are bit-identical (the
    * build is deterministic; only WHERE it runs moves), and the build
    * cost stays visible in the bench artifact's `warm_sec`. The
    * trained codebooks are memoized; the index and centroid frames are
    * stored beside them.
    */
  private[graft] def cachedIvfpq(s: SparkSession, sfDir: String,
      split: String): (DataFrame, Seq[Seq[Seq[Double]]], DataFrame) = {
    val key = (sfDir, split)
    val (index, books, cents) = graft.Artifacts.memo(s, "similarity.ivfpq", key) {
      val emb0 = Tables.embeddings(s, sfDir)
      val emb = split match {
        case "full" => emb0
        case "base" => emb0.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        case other => sys.error(s"unknown ivfpq split $other")
      }
      Similarity.ivfpqIndex(emb)
    }
    (graft.Artifacts.stored(s, "similarity.ivfpqIndex", key)(index), books,
      graft.Artifacts.stored(s, "similarity.ivfpqCentroids", key)(cents))
  }

  /** Force the shared graph + IVF-PQ index builds at `sfDir` so timed
    * s8/s11/s13/s22 runs read the session cache (the
    * warmDims/warmComponents convention). */
  def warmGraph(spark: SparkSession, sfDir: String): Unit = {
    cachedGraph(spark, sfDir).count()
    cachedIvfpq(spark, sfDir, "full")
    cachedIvfpq(spark, sfDir, "base")
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_brute" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    "s2_knn_lsh" -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d))),
    "s3_knn_ivf" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d))),
    "s4_range_search" -> ((s, d) => Similarity.rangeSearch(Tables.embeddings(s, d))),
    "s5_mips" -> ((s, d) => Similarity.mipsTopK(Tables.embeddings(s, d))),
    "s6_mips_lsh" -> ((s, d) => Similarity.mipsLshTopK(Tables.embeddings(s, d))),
    // all-corpus kNN join: every vector's top-3 ANN neighbors via the
    // bucket self-join (oracle re-derives buckets + probes in SQL;
    // recall spec vs the exact join)
    "s7_knn_join" -> ((s, d) => Similarity.knnJoin(Tables.embeddings(s, d))),
    // IVF-PQ: product-quantized index + ADC shortlist + exact refine
    // (exact oracle: the full pipeline re-derived in SQL — see the
    // object scaladoc; recall + compression specs besides). The index
    // is the session-cached stored artifact (r22, [[cachedIvfpq]]);
    // the timed run is the serve path.
    "s8_knn_ivfpq" -> ((s, d) => {
      val (index, books, cents) = cachedIvfpq(s, d, "full")
      Similarity.ivfpqQuery(Tables.embeddings(s, d), index, books, cents)
    }),
    // filtered ANN: predicate (label equality) pushed into candidate
    // generation — semi-join corpus prune + label on the bucket key
    "s9_filtered_knn" -> ((s, d) => Similarity.filteredLshTopK(Tables.embeddings(s, d))),
    // incremental IVF-PQ maintenance: train on 80% of the corpus,
    // upsert the held-out 20% as a batch (frozen codebooks, O(batch)
    // cost), query the grown index. Exact oracle: s8's SQL with the
    // training CTEs restricted to the base split; the spec proves
    // upsert ≡ frozen-codebook rebuild row-for-row and a recall
    // floor on the grown index.
    "s11_pq_upsert" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      // the base-split index is the stored training artifact (frozen
      // codebooks by this entry's own contract); the timed run is the
      // O(batch) upsert + the serve path (r22, [[cachedIvfpq]])
      val (index, books, cents) = cachedIvfpq(s, d, "base")
      val grown = Similarity.upsertPqIndex(index, books, cents, batch)
      Similarity.ivfpqQuery(emb, grown, books, cents)
    }),
    // TOMBSTONE DELETES on the stored IVF-PQ index (round 20; s11's
    // CRUD sibling): an id-keyed left-anti drops the code rows —
    // O(index scan), no retraining — and the deleted vectors simply
    // stop being candidates. Encoding is per-row deterministic under
    // frozen codebooks, so delete ≡ rebuild-without-deleted
    // row-for-row (spec-asserted); the oracle re-derives the full s8
    // pipeline with the deleted slice excluded exactly at the
    // shortlist (where the pruned index stops producing candidates).
    "s22_pq_delete" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // the full-corpus index is the stored artifact this entry's own
      // contract names ("TOMBSTONE DELETES on the stored IVF-PQ
      // index"); the timed run is the delete + serve path (r22)
      val (index, books, cents) = cachedIvfpq(s, d, "full")
      val pruned = Similarity.deleteFromPqIndex(index,
        emb.filter(pmod(col("vec_id"), lit(9)) === 0).select("vec_id"))
      Similarity.ivfpqQuery(emb, pruned, books, cents)
    }),
    // kNN label propagation: majority vote over the 5 exact nearest
    // train-split neighbors; ties to the smallest label
    "s12_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(Tables.embeddings(s, d))),
    // GRAPH ANN: greedy beam search over the symmetrized EXACT k-NN
    // graph (NSW-style navigable graph, deterministic walk, 8 spread
    // entry points standing in for HNSW's upper-layer descent). The
    // graph builds OFFLINE from exact top-16 neighbors (r19 verdict
    // #6 — the LSH edge set capped recall at 0.60; exact edges lift
    // it while the build cost amortizes over every query served);
    // the oracle re-derives the exact edges AND all eight unrolled
    // hops
    "s13_knn_graph" -> ((s, d) =>
      Similarity.graphSearch(Tables.embeddings(s, d),
        prebuiltEdges = Some(cachedGraph(s, d)))),
    // embedding drift between snapshots: per-label fixed-point
    // centroid cosine + norms — the retrain trigger readout
    "s14_embedding_drift" -> ((s, d) =>
      Similarity.embeddingDrift(Tables.embeddings(s, d))),
    // ANN EVALUATION HARNESS: recall@5 of the LSH path (s2) against
    // the exact path (s1), per query — the readout that gates an
    // index-parameter change before it ships. Both sides are the
    // registry's own operators; the join is (query, neighbor)-keyed
    // over two depth-k×|Q| frames, so the harness costs the two
    // retrievers and nothing more. Exact oracle: both pipelines
    // re-derived in SQL (s1's + s2's CTEs share the corpus scan)
    "s15_recall_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb)
        .select(col("q_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(emb)
        .select(col("q_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("q_id", "neighbor_id"))
        .groupBy("q_id").agg(count(lit(1)).as("h"))
      exact.groupBy("q_id").agg(count(lit(1)).as("depth"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("h"), lit(0L)).as("hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            col("depth").cast("double"), 6).as("recall"))
    }),
    // int8 scalar quantization: recall of the reconstructed-corpus
    // top-k vs the raw-vector truth (asymmetric query setup) — the
    // 4×-compression acceptance test
    "s21_sq8_recall" -> ((s, d) =>
      Similarity.sq8Recall(Tables.embeddings(s, d))),
    // MMR diversified retrieval: greedy λ·rel − (1−λ)·max-sim re-rank
    // of the exact top-20 shortlist, 5 picks per query
    "s16_mmr_diversify" -> ((s, d) =>
      Similarity.mmrDiversify(Tables.embeddings(s, d))),
    // kNN regression: exact mean of the 5 nearest train neighbors'
    // values (s12's vote → an exact Long-sum mean)
    "s17_knn_regression" -> ((s, d) =>
      Similarity.knnRegress(Tables.embeddings(s, d))),
    // nearest-centroid (Rocchio) classifier over fixed-point label
    // centroids — the O(|labels|) screen before a kNN fallback
    "s18_centroid_classify" -> ((s, d) =>
      Similarity.centroidClassify(Tables.embeddings(s, d))),
    // RECALL@K CURVE (round 17; d25's sweep idea applied to s15): LSH
    // recall against the exact top-5 at k = 1/3/5 from ONE brute pass
    // + ONE LSH pass — the operating-point curve a plane/probe change
    // is tuned on (recall@1 and recall@5 move differently under a
    // banding change; a single k hides that). The two ranked frames
    // are cache-pinned (sigs-pin convention — each k's readout is two
    // 1-row counts over them, and three lazy re-derivations would
    // triple the brute/LSH work in one plan).
    "s19_recall_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb)
        .select(col("q_id"), col("rank"), col("neighbor_id"))
        .transform(graft.Artifacts.pin)
      val approx = Similarity.lshTopK(emb)
        .select(col("q_id"), col("rank").as("a_rank"), col("neighbor_id"))
        .transform(graft.Artifacts.pin)
      Seq(1, 3, 5).map { k =>
        val ex = exact.filter(col("rank") <= k)
        val nT = ex.agg(count(lit(1)).as("n_truth"))
        val nH = ex
          .join(approx.filter(col("a_rank") <= k), Seq("q_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
        nT.crossJoin(broadcast(nH))
          .select(lit(k.toLong).as("k"), col("n_truth"), col("n_hits"),
            round(col("n_hits").cast("double") /
              col("n_truth").cast("double"), 6).as("recall"))
      }.reduce(_ unionByName _)
    }),
    // IVF PROBE CURVE (round 18): recall@5 at nprobe 1/2/3 from ONE
    // codebook + ONE brute truth pass — the probe-axis operating
    // curve (s19 sweeps the LSH banding axis). Sweep point p's
    // candidate set reproduces ivfTopK(nprobe = p) verbatim.
    "s20_ivf_probe_curve" -> ((s, d) =>
      Similarity.ivfProbeCurve(Tables.embeddings(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "s1_knn_brute" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT q_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    "s4_range_search" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
         SELECT q_id, neighbor_id, ROUND(cos, 6) AS cosine
         FROM pairs WHERE ROUND(cos, 9) >= 0.3""",
    // s1's exact ranking against the train split, then the majority
    // vote with the same deterministic tie-breaks
    "s12_knn_classify" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS nid,
             CAST(c.label AS BIGINT) AS clab,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id >= 10),
         ranked AS (
           SELECT q_id, clab, row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(cos, 9) DESC, nid ASC) AS rnk
           FROM pairs),
         votes AS (
           SELECT q_id, clab AS predicted_label, COUNT(*) AS votes
           FROM ranked WHERE rnk <= 5 GROUP BY q_id, clab),
         best AS (
           SELECT q_id, predicted_label, votes,
             row_number() OVER (PARTITION BY q_id
               ORDER BY votes DESC, predicted_label ASC) AS rr
           FROM votes)
         SELECT b.q_id, b.predicted_label, b.votes,
           CAST(q.label AS BIGINT) AS true_label,
           (b.predicted_label = CAST(q.label AS BIGINT)) AS correct
         FROM best b JOIN n q ON b.q_id = q.vec_id WHERE rr = 1""",
    // s12's exact ranking, then the exact Long-sum mean
    "s17_knn_regression" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS nid,
             CAST(c.label AS BIGINT) AS nv,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id >= 10),
         ranked AS (
           SELECT q_id, nv, row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(cos, 9) DESC, nid ASC) AS rnk
           FROM pairs),
         agg AS (
           SELECT q_id, SUM(nv) AS s, CAST(COUNT(*) AS BIGINT) AS k
           FROM ranked WHERE rnk <= 5 GROUP BY 1)
         SELECT a.q_id,
           ROUND(CAST(s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS predicted_value,
           CAST(q.label AS BIGINT) AS true_value,
           ROUND(abs(CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
             - CAST(q.label AS DOUBLE)), 6) AS abs_error
         FROM agg a JOIN n q ON a.q_id = q.vec_id""",
    // s14's exact fixed-point centroid re-derivation, then the argmax
    // with the engine's (round(cos,9) DESC, label ASC) tie-break
    "s18_centroid_classify" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sums AS (
           SELECT e.label, t.pos,
             SUM(CAST(FLOOR(e.v[t.pos] * 1e6 + 0.5) AS BIGINT)) AS smic,
             COUNT(*) AS n
           FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.v)))
             AS pos) t
           WHERE e.vec_id >= 10
           GROUP BY e.label, t.pos),
         cent AS (
           SELECT CAST(label AS BIGINT) AS clab,
             list(CAST(smic AS DOUBLE) / n / 1e6 ORDER BY pos) AS cv
           FROM sums GROUP BY label),
         q AS (
           SELECT vec_id AS q_id, CAST(label AS BIGINT) AS true_label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
           FROM e WHERE vec_id < 10),
         sc AS (
           SELECT q.q_id, c.clab, q.true_label,
             list_sum(list_transform(list_zip(q.v, c.cv), z -> z[1] * z[2]))
               / (q.qn * sqrt(list_sum(list_transform(c.cv, x -> x * x))))
               AS cos
           FROM q CROSS JOIN cent c),
         best AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(cos, 9) DESC, clab ASC) AS rr
           FROM sc)
         SELECT q_id, clab AS predicted_label, ROUND(cos, 6) AS centroid_cos,
           true_label, (clab = true_label) AS correct
         FROM best WHERE rr = 1""",
    "s5_mips" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2])) AS ip
           FROM e c JOIN e q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, ip,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(ip, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT q_id, rank, neighbor_id, ROUND(ip, 6) AS inner_product
         FROM ranked WHERE rank <= 5""",
    // full-pipeline LSH ANN oracle (the d5 pattern scaled up): LCG
    // hyperplane buckets (8 tables × 6 planes, exact integer
    // arithmetic + power-of-two division), query-side distance-1
    // multiprobe (home bucket + one-bit XOR flips), candidate dedup,
    // exact cosine re-rank — DuckDB re-derives the IDENTICAL candidate
    // sets, so even the approximate result hash-matches
    "s2_knn_lsh" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         b AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 6), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 6 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM n, (SELECT unnest(range(0, 8)) AS t) t),
         probes AS (
           SELECT vec_id AS q_id, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS probe
           FROM b, (SELECT unnest(range(-1, 6)) AS j) j
           WHERE vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, c.vec_id
           FROM probes p JOIN b c ON c.tbl = p.tbl AND c.bucket = p.probe
           WHERE c.vec_id <> p.q_id),
         pairs AS (
           SELECT cand.q_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM cand JOIN n c ON cand.vec_id = c.vec_id
                     JOIN n q ON cand.q_id = q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT q_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    // s6: the Shrivastava-Li augmentation reproduced step-for-step —
    // corpus vectors scale by the global max norm and append the
    // sqrt(1−|x/M|²) completion coordinate, queries zero-pad, the
    // SAME d+1-dim LCG planes bucket both sides, exact inner-product
    // re-rank over the raw vectors
    "s6_mips_lsh" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         m AS (SELECT MAX(nrm) AS mx FROM n),
         aug AS (
           SELECT vec_id, v, nrm,
             list_append(list_transform(v, x -> x / m.mx),
               sqrt(greatest(0.0, 1.0 - (nrm / m.mx) * (nrm / m.mx)))) AS av
           FROM n, m),
         qaug AS (
           SELECT vec_id, v, list_append(v, 0.0) AS av
           FROM n WHERE vec_id < 10),
         b AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 6), p ->
               CASE WHEN list_sum(list_transform(range(0, len(av)), d ->
                      av[d + 1] * (((1103515245 * ((t.t * 6 + p) * 131 + d) + 12345)
                                    % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM aug, (SELECT unnest(range(0, 8)) AS t) t),
         qb AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 6), p ->
               CASE WHEN list_sum(list_transform(range(0, len(av)), d ->
                      av[d + 1] * (((1103515245 * ((t.t * 6 + p) * 131 + d) + 12345)
                                    % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM qaug, (SELECT unnest(range(0, 8)) AS t) t),
         probes AS (
           SELECT vec_id AS q_id, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS probe
           FROM qb, (SELECT unnest(range(-1, 6)) AS j) j),
         cand AS (
           SELECT DISTINCT p.q_id, c.vec_id
           FROM probes p JOIN b c ON c.tbl = p.tbl AND c.bucket = p.probe
           WHERE c.vec_id <> p.q_id),
         pairs AS (
           SELECT cand.q_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2])) AS ip
           FROM cand JOIN n c ON cand.vec_id = c.vec_id
                     JOIN n q ON cand.q_id = q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, ip,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(ip, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT q_id, rank, neighbor_id, ROUND(ip, 6) AS inner_product
         FROM ranked WHERE rank <= 5""",
    // s7: the all-corpus kNN join — corpus buckets self-joined against
    // the one-sided distance-1 probe stream with AUTO-SIZED plane
    // count (np = clamp(ceil(log2(n/8)), 4, 20), re-derived in SQL
    // from the corpus count), per-pair min over duplicate probes,
    // mirrored, per-vector top-3 by (round(cos,9) desc, id)
    "s7_knn_join" ->
      ("WITH " + lshPairCtes + """,
         pairs AS (
           SELECT vec_id, j_id, cos FROM once
           UNION ALL SELECT j_id, vec_id, cos FROM once),
         ranked AS (
           SELECT vec_id, j_id, cos,
             CAST(row_number() OVER (PARTITION BY vec_id
               ORDER BY ROUND(cos, 9) DESC, j_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT vec_id, rank, j_id AS neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 3"""),
    // s9: filtered ANN — the s2 pipeline with the label predicate
    // applied at BOTH pushdown points (semi-join corpus prune via the
    // ql CTE, label equality on the candidate join), re-derived
    // exactly so the approximate result still hash-matches
    "s9_filtered_knn" ->
      """WITH e AS (
           SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         ql AS (SELECT DISTINCT label FROM n WHERE vec_id < 10),
         f AS (SELECT n.* FROM n JOIN ql ON n.label = ql.label),
         b AS (
           SELECT vec_id, label, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 4), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 4 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM f, (SELECT unnest(range(0, 8)) AS t) t),
         probes AS (
           SELECT vec_id AS q_id, label AS q_label, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS probe
           FROM b, (SELECT unnest(range(-1, 4)) AS j) j
           WHERE vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, c.vec_id
           FROM probes p JOIN b c ON c.tbl = p.tbl AND c.bucket = p.probe
                                 AND c.label = p.q_label
           WHERE c.vec_id <> p.q_id),
         pairs AS (
           SELECT cand.q_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM cand JOIN n c ON cand.vec_id = c.vec_id
                     JOIN n q ON cand.q_id = q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT q_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    // IVF-FAMILY EXACT ORACLES (s3/s8/s11): both fixed-point k-means
    // iterations re-derived in SQL (micro-quantized integer centroid
    // sums — VectorMeanAgg's committed contract — make the training
    // regime engine-independent), then nprobe probing and the exact
    // re-rank; s8/s11 add the joint PQ subspace training, encoding,
    // reconstruction-based ADC shortlist and exact refine. s11 is
    // s8 with the training corpus restricted to the base split
    // (upsert ≡ frozen-codebook rebuild, so encoding the full corpus
    // against base-trained codebooks IS the grown index).
    "s3_knn_ivf" -> ("WITH " + ivfCoarseCtes("") + "," + ivfExactTail),
    // s3's coarse CTEs + ONE probe ranking at max nprobe + per-point
    // candidate/rank/hit CTEs; truth = the s1 brute derivation at
    // k=5. Same FP rank keys (ROUND(cos,9), id ties) as the engine.
    "s20_ivf_probe_curve" ->
      ("WITH " + ivfCoarseCtes("") + "," + ivfRecallCurveSql(5, Seq(1, 2, 3))),
    "s8_knn_ivfpq" -> ("WITH " + ivfCoarseCtes("") + "," + pqCtes + "," + adcTail),
    "s11_pq_upsert" ->
      ("WITH " + ivfCoarseCtes("WHERE vec_id % 5 <> 0") + "," + pqCtes + "," + adcTail),
    // s22: the s8 re-derivation (full-corpus training — the frozen
    // codebooks) with the deleted slice excluded at the shortlist,
    // exactly where the pruned index stops producing candidates
    "s22_pq_delete" ->
      ("WITH " + ivfCoarseCtes("") + "," + pqCtes + "," +
        adcTailWhere(" AND i.vec_id % 9 <> 0")),
    // s14: micro-quantized integer centroid sums per (label, parity
    // snapshot) — VectorMeanAgg's committed contract — then the
    // centroid cosine/norm folds, all re-derived exactly
    "s14_embedding_drift" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sums AS (
           SELECT e.label, e.vec_id % 2 AS half, t.pos,
             SUM(CAST(FLOOR(e.v[t.pos] * 1e6 + 0.5) AS BIGINT)) AS smic,
             COUNT(*) AS n
           FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS pos) t
           GROUP BY e.label, e.vec_id % 2, t.pos),
         cent AS (
           SELECT label, half, MAX(n) AS n,
             list(CAST(smic AS DOUBLE) / n / 1e6 ORDER BY pos) AS cv
           FROM sums GROUP BY label, half),
         a AS (SELECT label, n AS n_a, cv AS ca FROM cent WHERE half = 0),
         b AS (SELECT label, n AS n_b, cv AS cb FROM cent WHERE half = 1)
         SELECT a.label, CAST(a.n_a AS BIGINT) AS n_a, CAST(b.n_b AS BIGINT) AS n_b,
           ROUND(list_sum(list_transform(list_zip(a.ca, b.cb), z -> z[1] * z[2]))
             / (sqrt(list_sum(list_transform(a.ca, x -> x * x)))
                * sqrt(list_sum(list_transform(b.cb, x -> x * x)))), 6) AS centroid_cos,
           ROUND(sqrt(list_sum(list_transform(a.ca, x -> x * x))), 6) AS norm_a,
           ROUND(sqrt(list_sum(list_transform(b.cb, x -> x * x))), 6) AS norm_b
         FROM a JOIN b USING (label)""",
    // s13: the s7 bucket arithmetic rebuilds the identical k-NN edge
    // set (rank ≤ 8, symmetrized), then the greedy beam walk unrolls
    // hop by hop — candidates = frontier ∪ neighbors minus the query,
    // exact cosine scoring, beam-8 prune by (round(cos,9) DESC, id
    // ASC) — and the answer ranks every node visited across the walk
    "s13_knn_graph" -> graphSearchOracle,
    // s1's exact ranking and s2's full LSH pipeline over ONE corpus
    // scan, joined on (query, neighbor) at rank ≤ 5 both sides
    "s15_recall_eval" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         expairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ex AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM expairs) WHERE rnk <= 5),
         b AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 6), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 6 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM n, (SELECT unnest(range(0, 8)) AS t) t),
         probes AS (
           SELECT vec_id AS q_id, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS probe
           FROM b, (SELECT unnest(range(-1, 6)) AS j) j
           WHERE vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, c.vec_id
           FROM probes p JOIN b c ON c.tbl = p.tbl AND c.bucket = p.probe
           WHERE c.vec_id <> p.q_id),
         appairs AS (
           SELECT cand.q_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM cand JOIN n c ON cand.vec_id = c.vec_id
                     JOIN n q ON cand.q_id = q.vec_id),
         ap AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM appairs) WHERE rnk <= 5),
         hits AS (
           SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS h
           FROM ex JOIN ap USING (q_id, neighbor_id) GROUP BY ex.q_id),
         kk AS (
           SELECT q_id, CAST(COUNT(*) AS BIGINT) AS depth
           FROM ex GROUP BY q_id)
         SELECT kk.q_id, COALESCE(h.h, CAST(0 AS BIGINT)) AS hits,
           ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE)
             / CAST(kk.depth AS DOUBLE), 6) AS recall
         FROM kk LEFT JOIN hits h ON kk.q_id = h.q_id""",
    // per-dim min/max trainer, the SAME pinned reconstruction
    // expression order as the Spark zip_with, asymmetric cosine
    // (reconstructed corpus × raw queries), s15's recall readout
    "s21_sq8_recall" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         dims AS (
           SELECT i AS dim, MIN(v[i]) AS lo, MAX(v[i]) AS hi
           FROM n, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) ix
           GROUP BY i),
         sl AS (
           SELECT list(lo ORDER BY dim) AS los,
             list(hi ORDER BY dim) AS his FROM dims),
         rq AS (
           SELECT n.vec_id,
             list_transform(range(1, len(n.v) + 1), i ->
               CASE WHEN sl.his[i] = sl.los[i] THEN sl.los[i]
                    ELSE sl.los[i] + LEAST(255.0, GREATEST(0.0,
                      floor((n.v[i] - sl.los[i]) * 255.0
                            / (sl.his[i] - sl.los[i]) + 0.5)))
                      * (sl.his[i] - sl.los[i]) / 255.0 END) AS rv
           FROM n CROSS JOIN sl),
         rn AS (
           SELECT vec_id, rv,
             sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnm
           FROM rq),
         appairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.rv, q.v), s -> s[1] * s[2]))
               / (c.rnm * q.nrm) AS cos
           FROM rn c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ap AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM appairs) WHERE rnk <= 5),
         expairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ex AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM expairs) WHERE rnk <= 5),
         hits AS (
           SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS h
           FROM ex JOIN ap USING (q_id, neighbor_id) GROUP BY ex.q_id),
         kk AS (
           SELECT q_id, CAST(COUNT(*) AS BIGINT) AS depth
           FROM ex GROUP BY q_id)
         SELECT kk.q_id, COALESCE(h.h, CAST(0 AS BIGINT)) AS hits,
           ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE)
             / CAST(kk.depth AS DOUBLE), 6) AS recall
         FROM kk LEFT JOIN hits h ON kk.q_id = h.q_id""",
    // s15's exact + LSH rank chains kept at rank grain, read at three
    // cutoffs: per k, truth = exact pairs with rnk <= k, hits = pairs
    // in BOTH rank lists at rnk <= k — micro recall over all queries
    "s19_recall_curve" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         expairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         exr AS (
           SELECT q_id, neighbor_id, rnk FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM expairs) WHERE rnk <= 5),
         b AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, 6), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 6 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM n, (SELECT unnest(range(0, 8)) AS t) t),
         probes AS (
           SELECT vec_id AS q_id, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS probe
           FROM b, (SELECT unnest(range(-1, 6)) AS j) j
           WHERE vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, c.vec_id
           FROM probes p JOIN b c ON c.tbl = p.tbl AND c.bucket = p.probe
           WHERE c.vec_id <> p.q_id),
         appairs AS (
           SELECT cand.q_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM cand JOIN n c ON cand.vec_id = c.vec_id
                     JOIN n q ON cand.q_id = q.vec_id),
         apr AS (
           SELECT q_id, neighbor_id, rnk FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
             FROM appairs) WHERE rnk <= 5),
         ks AS (SELECT unnest([1, 3, 5]) AS k),
         t AS (
           SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_truth
           FROM ks JOIN exr ON exr.rnk <= ks.k GROUP BY ks.k),
         h AS (
           SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM ks
           JOIN exr ON exr.rnk <= ks.k
           JOIN apr ON apr.q_id = exr.q_id
             AND apr.neighbor_id = exr.neighbor_id AND apr.rnk <= ks.k
           GROUP BY ks.k)
         SELECT CAST(t.k AS BIGINT) AS k, t.n_truth,
           COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / CAST(t.n_truth AS DOUBLE), 6) AS recall
         FROM t LEFT JOIN h ON t.k = h.k""",
    // the exact shortlist, pairwise sims among its members, then the
    // greedy rounds unrolled — identical λ literals and rank keys
    "s16_mmr_diversify" ->
      ("""WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS id,
             list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
               / (c.nrm * q.nrm) AS cos
           FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         short AS MATERIALIZED (
           SELECT q_id, id, cos AS rel FROM pairs
           QUALIFY row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(cos, 9) DESC, id ASC) <= 20),
         sv AS (
           SELECT s.q_id, s.id, n.v, n.nrm
           FROM short s JOIN n ON s.id = n.vec_id),
         sim AS MATERIALIZED (
           SELECT a.q_id, a.id AS ia, b.id AS ib,
             list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
               / (a.nrm * b.nrm) AS sim
           FROM sv a JOIN sv b ON a.q_id = b.q_id AND a.id <> b.id),
         pick1 AS (
           SELECT q_id, id, rel, 0.7 * rel - 0.3 * 0.0 AS score,
             CAST(1 AS BIGINT) AS pick_rank
           FROM short
           QUALIFY row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(0.7 * rel - 0.3 * 0.0, 9) DESC, id ASC) = 1),
         selall1 AS (SELECT * FROM pick1)""" +
        mmrRounds(5) +
        """
         SELECT q_id, pick_rank, id AS vec_id, ROUND(rel, 6) AS relevance,
           ROUND(score, 6) AS mmr_score
         FROM selall5""")
  )

  /** Greedy MMR rounds 2..k, unrolled (the pagerankCtes convention):
    * each round anti-joins the shortlist against the picks so far,
    * takes the max similarity to any pick, and argmaxes the
    * penalized score with the engine's exact rank key.
    */
  private def mmrRounds(k: Int): String =
    (2 to k).map { r =>
      s""",
         cand$r AS (
           SELECT s.q_id, s.id, s.rel FROM short s
           LEFT JOIN selall${r - 1} p ON s.q_id = p.q_id AND s.id = p.id
           WHERE p.id IS NULL),
         pen$r AS (
           SELECT c.q_id, c.id, c.rel, MAX(m.sim) AS msim
           FROM cand$r c
           JOIN sim m ON m.q_id = c.q_id AND m.ia = c.id
           JOIN selall${r - 1} p ON p.q_id = m.q_id AND p.id = m.ib
           GROUP BY 1, 2, 3),
         pick$r AS (
           SELECT q_id, id, rel, 0.7 * rel - 0.3 * msim AS score,
             CAST($r AS BIGINT) AS pick_rank
           FROM pen$r
           QUALIFY row_number() OVER (PARTITION BY q_id
             ORDER BY ROUND(0.7 * rel - 0.3 * msim, 9) DESC, id ASC) = 1),
         selall$r AS (
           SELECT * FROM selall${r - 1} UNION ALL SELECT * FROM pick$r)"""
    }.mkString

  /** The LCG-bucketed candidate-pair derivation shared VERBATIM by
    * the s7 and s13 oracles (params/e/n/b/probe/once CTEs): one copy
    * of the bucket arithmetic that must stay bit-identical to
    * NativeTextExpressions.lcgBuckets, so a future plane/probe policy
    * change cannot silently fork the two oracles' edge sets. */
  private def lshPairCtes: String = """params AS (
           SELECT LEAST(20, GREATEST(4,
             CAST(ceil(log2(GREATEST(COUNT(*) / 8.0, 1.0))) AS INT))) AS np
           FROM embeddings),
         e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         b AS (
           SELECT vec_id, t.t AS tbl,
             CAST(list_sum(list_transform(range(0, params.np), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * params.np + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
           FROM n, params, (SELECT unnest(range(0, 8)) AS t) t),
         probe AS (
           SELECT vec_id AS j_id, tbl,
             CASE WHEN j.j = -1 THEN bucket
                  ELSE xor(bucket, CAST(power(2, j.j) AS BIGINT)) END AS bucket
           FROM b, params, (SELECT unnest(range(-1, 20)) AS j) j
           WHERE j.j < params.np),
         once AS (
           SELECT a.vec_id, p.j_id,
             MIN(list_sum(list_transform(list_zip(x.v, y.v), s -> s[1] * s[2]))
                 / (x.nrm * y.nrm)) AS cos
           FROM b a JOIN probe p ON a.tbl = p.tbl AND a.bucket = p.bucket
                    AND a.vec_id < p.j_id
           JOIN n x ON a.vec_id = x.vec_id
           JOIN n y ON p.j_id = y.vec_id
           GROUP BY a.vec_id, p.j_id)"""

  /** The s13 oracle: s7's edge derivation + `hops` unrolled
    * expand-score-prune blocks (the k-means-unroll pattern). */
  private def graphSearchOracle: String = {
    val hops = 8
    val degree = 16 // exactKnnGraphEdges/graphSearch defaults (swept)
    val beam = 16
    val hopBlocks = (1 to hops).map { h =>
      val p = h - 1
      s"""
c$h AS MATERIALIZED (
  SELECT DISTINCT q_id, vid FROM (
    SELECT q_id, vid FROM f$p
    UNION ALL
    SELECT f.q_id, ed.dst AS vid FROM f$p f JOIN ed ON ed.src = f.vid)
  WHERE vid <> q_id),
s$h AS MATERIALIZED (
  SELECT c.q_id, c.vid,
    list_sum(list_transform(list_zip(x.v, qq.v), z -> z[1] * z[2]))
      / (x.nrm * qq.nrm) AS cos
  FROM c$h c JOIN n x ON x.vec_id = c.vid
             JOIN n qq ON qq.vec_id = c.q_id),
f$h AS MATERIALIZED (
  SELECT q_id, vid FROM (
    SELECT q_id, vid, row_number() OVER (PARTITION BY q_id
      ORDER BY ROUND(cos, 9) DESC, vid ASC) AS rn FROM s$h)
  WHERE rn <= $beam)"""
    }.mkString(",")
    """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         epairs AS (
           SELECT a.vec_id, b.vec_id AS j_id,
             list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
               / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON b.vec_id <> a.vec_id),
         rke AS (
           SELECT vec_id, j_id,
             CAST(row_number() OVER (PARTITION BY vec_id
               ORDER BY ROUND(cos, 9) DESC, j_id ASC) AS BIGINT) AS rank
           FROM epairs),
         ed0 AS (SELECT vec_id AS src, j_id AS dst FROM rke
                 WHERE rank <= """ + degree + """),
         ed AS (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM ed0
             UNION ALL SELECT dst AS src, src AS dst FROM ed0)),
         f0 AS (
           SELECT q_id, vid FROM (
             SELECT q.vec_id AS q_id, m.vec_id AS vid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY m.vec_id ASC) AS rn
             FROM n q, (SELECT vec_id FROM n ORDER BY vec_id LIMIT 9) m
             WHERE q.vec_id < 10 AND m.vec_id <> q.vec_id)
           WHERE rn <= 8),""" + hopBlocks + s""",
         vis AS (
           SELECT q_id, vid, MIN(cos) AS cos FROM (
             SELECT * FROM s1 UNION ALL SELECT * FROM s2
             UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
             UNION ALL SELECT * FROM s5 UNION ALL SELECT * FROM s6
             UNION ALL SELECT * FROM s7 UNION ALL SELECT * FROM s8)
           GROUP BY q_id, vid),
         rkg AS (
           SELECT q_id, vid, cos,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY ROUND(cos, 9) DESC, vid ASC) AS BIGINT) AS rank
           FROM vis)
         SELECT q_id, rank, vid AS neighbor_id, ROUND(cos, 6) AS cosine
         FROM rkg WHERE rank <= 5"""
  }

  /** Coarse fixed-point k-means CTE block shared by the s3/s8/s11
    * oracles: corpus parse, `trainWhere`-filtered training split,
    * 10 smallest-id seeds, two assign/update iterations (assignment =
    * argmax round(cos, 9) with smallest-c_id ties, exactly
    * NearestCentroidExpr's order; update = per-position
    * floor(x·1e6+0.5) BIGINT sums / count / 1e6, exactly
    * VectorMeanAgg's fixed-point contract), and the final full-corpus
    * assignment a3.
    */
  private def ivfCoarseCtes(trainWhere: String): String = s"""
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
tr AS (SELECT * FROM n $trainWhere),
seed AS (
  SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM tr ORDER BY vec_id LIMIT 10),
a1 AS (
  SELECT vec_id, c_id FROM (
    SELECT nn.vec_id, s.c_id,
      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(nn.v, s.cv), z -> z[1] * z[2]))
          / (nn.nrm * s.cn), 9) DESC, s.c_id ASC) AS rn
    FROM tr nn, seed s) WHERE rn = 1),
c1 AS (
  SELECT c_id, list(cx ORDER BY pos) AS cv FROM (
    SELECT a1.c_id, t.pos,
      CAST(SUM(CAST(FLOOR(tr.v[t.pos] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1e6 AS cx
    FROM a1 JOIN tr USING (vec_id),
      LATERAL (SELECT unnest(generate_series(1, len(tr.v))) AS pos) t
    GROUP BY a1.c_id, t.pos)
  GROUP BY c_id),
c1n AS (
  SELECT c_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn FROM c1),
a2 AS (
  SELECT vec_id, c_id FROM (
    SELECT nn.vec_id, s.c_id,
      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(nn.v, s.cv), z -> z[1] * z[2]))
          / (nn.nrm * s.cn), 9) DESC, s.c_id ASC) AS rn
    FROM tr nn, c1n s) WHERE rn = 1),
c2 AS (
  SELECT c_id, list(cx ORDER BY pos) AS cv FROM (
    SELECT a2.c_id, t.pos,
      CAST(SUM(CAST(FLOOR(tr.v[t.pos] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1e6 AS cx
    FROM a2 JOIN tr USING (vec_id),
      LATERAL (SELECT unnest(generate_series(1, len(tr.v))) AS pos) t
    GROUP BY a2.c_id, t.pos)
  GROUP BY c_id),
c2n AS (
  SELECT c_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn FROM c2),
a3 AS (
  SELECT vec_id, c_id AS list_id FROM (
    SELECT nn.vec_id, s.c_id,
      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(nn.v, s.cv), z -> z[1] * z[2]))
          / (nn.nrm * s.cn), 9) DESC, s.c_id ASC) AS rn
    FROM n nn, c2n s) WHERE rn = 1)"""

  /** s20's tail generator: brute truth at `k` (s1's derivation), ONE
    * probe ranking capped at max(nprobes), then per sweep point the
    * candidate/score/rank/hit CTEs and a UNION ALL readout row —
    * everything downstream of [[ivfCoarseCtes]]'s a3/c2n.
    */
  private def ivfRecallCurveSql(k: Int, nprobes: Seq[Int]): String = {
    val truth = s"""
exp AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(c.v, q.v), s -> s[1] * s[2]))
      / (c.nrm * q.nrm) AS cos
  FROM n c JOIN n q ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
exr AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, neighbor_id,
      row_number() OVER (PARTITION BY q_id
        ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
    FROM exp) WHERE rnk <= $k),
tcount AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM exr),
pr AS (
  SELECT q_id, list_id, prank FROM (
    SELECT q.vec_id AS q_id, s.c_id AS list_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(q.v, s.cv), z -> z[1] * z[2]))
          / (q.nrm * s.cn), 9) DESC, s.c_id ASC) AS prank
    FROM n q, c2n s WHERE q.vec_id < 10) WHERE prank <= ${nprobes.max})"""
    val per = nprobes.map { p => s"""
cand$p AS (
  SELECT pr.q_id, a3.vec_id
  FROM pr JOIN a3 USING (list_id)
  WHERE pr.prank <= $p AND a3.vec_id <> pr.q_id),
scored$p AS (
  SELECT c.q_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(cv.v, qv.v), z -> z[1] * z[2]))
      / (cv.nrm * qv.nrm) AS cos
  FROM cand$p c
  JOIN n cv ON cv.vec_id = c.vec_id
  JOIN n qv ON qv.vec_id = c.q_id),
rk$p AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, neighbor_id,
      row_number() OVER (PARTITION BY q_id
        ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS rnk
    FROM scored$p) WHERE rnk <= $k),
hit$p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exr JOIN rk$p USING (q_id, neighbor_id))"""
    }.mkString(",")
    val selects = nprobes.map { p => s"""
SELECT CAST($p AS BIGINT) AS nprobe, t.n_truth, h.n_hits,
  ROUND(CAST(h.n_hits AS DOUBLE) / CAST(t.n_truth AS DOUBLE), 6) AS recall
FROM tcount t, hit$p h"""
    }.mkString(" UNION ALL ")
    truth + "," + per + selects
  }

  /** s3's tail: nprobe=3 probe lists per query, candidates from the
    * probed lists, exact cosine re-rank to k=5. */
  private def ivfExactTail: String = """
pr AS (
  SELECT q_id, c_id AS list_id FROM (
    SELECT q.vec_id AS q_id, s.c_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(q.v, s.cv), z -> z[1] * z[2]))
          / (q.nrm * s.cn), 9) DESC, s.c_id ASC) AS rn
    FROM n q, c2n s WHERE q.vec_id < 10) WHERE rn <= 3),
cand AS (
  SELECT p.q_id, a3.vec_id
  FROM pr p JOIN a3 USING (list_id) WHERE a3.vec_id <> p.q_id),
scored AS (
  SELECT c.q_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(cv.v, qv.v), z -> z[1] * z[2]))
      / (cv.nrm * qv.nrm) AS cos
  FROM cand c
  JOIN n cv ON cv.vec_id = c.vec_id
  JOIN n qv ON qv.vec_id = c.q_id),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    CAST(row_number() OVER (PARTITION BY q_id
      ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

  /** The PQ half of the s8/s11 oracles: 8 subspaces × 16-code joint
    * training (two iterations, empty cells keep the previous code
    * vector), full-corpus encoding, reconstruction + rnrm — the
    * compressed index rows. */
  private def pqCtes: String = """
jj AS (SELECT unnest(generate_series(0, 7)) AS j),
b0 AS (
  SELECT jj.j, s.code, s.v[jj.j*8+1 : jj.j*8+8] AS bv
  FROM (SELECT vec_id, v,
      CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
    FROM tr ORDER BY vec_id LIMIT 16) s, jj),
sub AS (
  SELECT t.vec_id, jj.j, t.v[jj.j*8+1 : jj.j*8+8] AS sv FROM tr t, jj),
pa1 AS (
  SELECT vec_id, j, code, sv FROM (
    SELECT sub.vec_id, sub.j, b.code, sub.sv,
      row_number() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
        list_sum(list_transform(list_zip(sub.sv, b.bv),
          z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, b.code ASC) AS rn
    FROM sub JOIN b0 b ON b.j = sub.j) WHERE rn = 1),
pm1 AS (
  SELECT j, code, list(cx ORDER BY pos) AS bv FROM (
    SELECT pa1.j, pa1.code, t.pos,
      CAST(SUM(CAST(FLOOR(pa1.sv[t.pos] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1e6 AS cx
    FROM pa1, LATERAL (SELECT unnest(generate_series(1, len(pa1.sv))) AS pos) t
    GROUP BY pa1.j, pa1.code, t.pos)
  GROUP BY j, code),
b1 AS (
  SELECT b0.j, b0.code, COALESCE(pm1.bv, b0.bv) AS bv
  FROM b0 LEFT JOIN pm1 ON pm1.j = b0.j AND pm1.code = b0.code),
pa2 AS (
  SELECT vec_id, j, code, sv FROM (
    SELECT sub.vec_id, sub.j, b.code, sub.sv,
      row_number() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
        list_sum(list_transform(list_zip(sub.sv, b.bv),
          z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, b.code ASC) AS rn
    FROM sub JOIN b1 b ON b.j = sub.j) WHERE rn = 1),
pm2 AS (
  SELECT j, code, list(cx ORDER BY pos) AS bv FROM (
    SELECT pa2.j, pa2.code, t.pos,
      CAST(SUM(CAST(FLOOR(pa2.sv[t.pos] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1e6 AS cx
    FROM pa2, LATERAL (SELECT unnest(generate_series(1, len(pa2.sv))) AS pos) t
    GROUP BY pa2.j, pa2.code, t.pos)
  GROUP BY j, code),
b2 AS (
  SELECT b1.j, b1.code, COALESCE(pm2.bv, b1.bv) AS bv
  FROM b1 LEFT JOIN pm2 ON pm2.j = b1.j AND pm2.code = b1.code),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, b.code,
      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
        list_sum(list_transform(list_zip(s.sv, b.bv),
          z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, b.code ASC) AS rn
    FROM (SELECT t.vec_id, jj.j, t.v[jj.j*8+1 : jj.j*8+8] AS sv FROM n t, jj) s
    JOIN b2 b ON b.j = s.j) WHERE rn = 1),
recon AS (
  SELECT e.vec_id, flatten(list(b.bv ORDER BY e.j)) AS rv
  FROM enc e JOIN b2 b ON b.j = e.j AND b.code = e.code
  GROUP BY e.vec_id),
idx AS (
  SELECT r.vec_id, a3.list_id, r.rv,
    sqrt(list_sum(list_transform(r.rv, x -> x * x))) AS rnrm
  FROM recon r JOIN a3 USING (vec_id))"""

  /** ADC tail: probe lists, asymmetric-distance shortlist of
    * refine×k=40 against reconstructions only, exact refine to k=5.
    * `extraShortWhere` injects an extra candidate predicate — s22's
    * tombstone-delete oracle excludes the deleted slice exactly where
    * the pruned index stops producing candidates. */
  private def adcTail: String = adcTailWhere("")

  private def adcTailWhere(extraShortWhere: String): String = s"""
pr AS (
  SELECT q_id, c_id AS list_id FROM (
    SELECT q.vec_id AS q_id, s.c_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(q.v, s.cv), z -> z[1] * z[2]))
          / (q.nrm * s.cn), 9) DESC, s.c_id ASC) AS rn
    FROM n q, c2n s WHERE q.vec_id < 10) WHERE rn <= 3),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT p.q_id, i.vec_id,
      row_number() OVER (PARTITION BY p.q_id ORDER BY
        ROUND(list_sum(list_transform(list_zip(qn.v, i.rv), z -> z[1] * z[2]))
          / (qn.nrm * i.rnrm), 9) DESC, i.vec_id ASC) AS rn
    FROM pr p
    JOIN idx i USING (list_id)
    JOIN n qn ON qn.vec_id = p.q_id
    WHERE i.vec_id <> p.q_id$extraShortWhere) WHERE rn <= 40),
scored AS (
  SELECT s.q_id, s.vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(cv.v, qv.v), z -> z[1] * z[2]))
      / (cv.nrm * qv.nrm) AS cos
  FROM short s
  JOIN n cv ON cv.vec_id = s.vec_id
  JOIN n qv ON qv.vec_id = s.q_id),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    CAST(row_number() OVER (PARTITION BY q_id
      ORDER BY ROUND(cos, 9) DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""
}
