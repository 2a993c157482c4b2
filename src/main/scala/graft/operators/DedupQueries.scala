package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Registry for the dedup family (SURVEY.md §2.D). Every entry carries
  * an exact DuckDB oracle except d20, whose float-DCT pHash upstream
  * is digest-checked (committed per-Hamming digest of the full pair
  * set) with pair-set exactness in the brute-recount spec. d2/d3 use
  * the d5 pattern: engine-independent integer arithmetic (polynomial
  * codepoint hash mod 2^31−1, affine rehash per component/bit) that
  * DuckDB re-derives bit-for-bit, so even the LSH sketches are
  * exact-hash-checked; d13's single-cluster gate regime makes even
  * the k-means-blocked path SQL-expressible.
  */
object DedupQueries {

  /** Memoized exact-Jaccard components per (session, sfDir, threshold):
    * d6 and d10 run the same component pipeline (shingle → block →
    * verify → CC) in one registry pass, so the second consumer reads
    * the stored frame instead of recomputing the whole loop — the same
    * contract as [[HierarchyQueries]]'s dims ([[graft.Artifacts]]).
    */
  private def cachedClusters(s: SparkSession, sfDir: String,
      minJaccard: Double): DataFrame =
    graft.Artifacts.stored(s, "dedup.clusters", (sfDir, minJaccard))(
      Dedup.jaccardClusters(Tables.documents(s, sfDir), minJaccard = minJaccard))

  /** Memoized LSH-candidate and exact-Jaccard pair frames per
    * (session, sfDir): d22 and d25 evaluate the SAME candidate set and
    * truth pairs in one registry pass, so the second consumer reads
    * the stored frames instead of re-running both pair generators —
    * cachedClusters' contract applied to the eval harness inputs.
    */
  private def cachedEvalCand(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.stored(s, "dedup.evalCand", d) {
      val k = 32
      Dedup.minhashPairsBlocked(Tables.documents(s, d), k = k,
          bands = Dedup.lshBandsFor(0.05, k))
        .select("doc_a", "doc_b")
    }

  private def cachedEvalTruth(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.stored(s, "dedup.evalTruth", d)(
      Dedup.ngramJaccard(Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b"), col("jaccard")))

  /** The shared (doc_id, component_id) near-dup components at the
    * registry threshold — the cross-family handle (p13's soft-dedup
    * weights read it). */
  def clusters(spark: SparkSession, sfDir: String): DataFrame =
    cachedClusters(spark, sfDir, minJaccard = 0.05)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    // SERVING path on the TUNED BLOCKED layout (r16-verdict task): the
    // per-doc candidate summary reads the session-cached blocked pair
    // frame the d22/d25 evals measure (precision 0.32 / recall 0.93 at
    // τ=0.05 vs 0.0016/0.69 for the unblocked layout this entry served
    // through r16) — serving and eval now share one operating point.
    // Dedup.minhashLsh stays available as the unblocked primitive.
    "d2_minhash_lsh" -> ((s, d) =>
      Dedup.minhashCandidateSummary(Tables.documents(s, d), cachedEvalCand(s, d))),
    "d3_simhash" -> ((s, d) => Dedup.simhashDedup(Tables.documents(s, d))),
    // reads the session-cached pair frame (the d22/d25 eval truth IS
    // this operator's full output — same derivation, same 3 columns)
    "d4_ngram_jaccard" -> ((s, d) => cachedEvalTruth(s, d)),
    "d5_embedding_neardup" -> ((s, d) => Dedup.embeddingNearDup(Tables.embeddings(s, d))),
    // exact-Jaccard edges at a low threshold: the testdata corpus has
    // no true near-dups (max pair Jaccard ~0.11), so 0.05 yields real
    // multi-node components and the oracle's recursive CTE genuinely
    // exercises cross-engine component parity. The minhash-based
    // dupClusters stays the API/serving path (spec-tested on planted
    // duplicates).
    "d6_dup_clusters" -> ((s, d) => cachedClusters(s, d, minJaccard = 0.05)),
    // the minhash SERVING cluster API (dupClusters) driver-checked
    // end-to-end on its blocked default (round 17 — through r16 it
    // was spec-tested only): blocked candidates at the tuned layout,
    // est-Jaccard ≥ 0.05 (eq/32 is dyadic — both engines compare the
    // exact same doubles), adaptive connected components
    "d26_blocked_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Tables.documents(s, d), minEstJaccard = 0.05)),
    // incremental ingest: every 5th doc plays the "new batch", the
    // rest the already-ingested corpus
    "d7_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    }),
    // d7 with the Bloom pre-filter on the corpus probe: output must be
    // IDENTICAL (the bloom only prunes provably-new docs from the
    // join), so the oracle is d7's SQL verbatim
    "d14_bloom_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val docs = Tables.documents(s, d)
      Dedup.bloomIncrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    }),
    // decontamination: every 50th doc plays the held-out benchmark
    "d8_decontaminate" -> ((s, d) =>
      Dedup.decontaminate(
        Tables.documents(s, d).filter(col("doc_id") % 50 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 50 === 0))),
    // the graded per-eval-doc view of d8: contamination fraction per
    // held-out doc against the corpus's distinct gram set
    "d12_contamination_report" -> ((s, d) =>
      Dedup.contaminationReport(
        Tables.documents(s, d).filter(col("doc_id") % 50 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 50 === 0))),
    // provenance overlap matrix: for every source pair, how many
    // distinct word-5-grams they share — the cross-source contamination
    // view a corpus curator reads before mixing sources. Gram-keyed
    // equi-join (d8's shape): the shuffle key is the gram, cardinality
    // O(corpus tokens), never a per-source-pair quadratic block.
    "d9_source_overlap" -> ((s, d) => sourceOverlap(Tables.documents(s, d))),
    // canonical-doc selection: near-dup components (d6's exact-Jaccard
    // edges) keep their highest-quality member (t3's integer quality
    // score; min doc_id breaks ties) — the "which copy survives dedup"
    // policy stage. All joins are component/doc-keyed equi-joins.
    "d10_canonical_docs" -> ((s, d) =>
      canonicalDocs(Tables.documents(s, d), cachedClusters(s, d, minJaccard = 0.05))),
    // incremental NEAR-dup: d7's ingest split, near-dup semantics —
    // batch docs classified against the corpus's blocked shingle index
    // (batch×corpus candidates only, never corpus×corpus). Threshold
    // 0.05 like d6: the synthetic corpus has no true near-dups, so a
    // low bar makes real matches flow through the verify + arg-max.
    "d11_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNearDup(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        minJaccard = 0.05)
    }),
    // SemDeDup-style semantic dedup over the embeddings table:
    // deterministic k-means clusters block the candidate pairs, a
    // vector with a lower-id cluster-mate at cosine ≥ tau is a
    // semantic_dup of its lowest-id such neighbor. One label row per
    // vector. At the gate's corpus size autoK pins the single-cluster
    // regime, so the oracle is exact SQL (see the d13 oracle comment);
    // SimilaritySpec brute-force-verifies the labels on planted
    // duplicates at k > 1. The AUTO variant is the registered path:
    // k grows with the corpus (k ≈ n/targetClusterSize) so the
    // Σ|cluster|² candidate-pair bound stays linear without tuning.
    "d13_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedupAuto(Tables.embeddings(s, d), tau = 0.9)),
    // exact long-span substring dedup (Lee et al. doc-level verdict):
    // any shared exact 10-token span with a lower-id doc marks the
    // doc span_dup of the lowest such owner. Gram-keyed aggregates
    // only — no pairwise join anywhere.
    "d15_substring_dedup" -> ((s, d) =>
      Dedup.substringDedup(Tables.documents(s, d))),
    // frequency-capped exact dedup: keep ≤2 copies per content
    // cluster, LCG-picked (id-unbiased); heap aggregate, no window
    "d16_copy_cap" -> ((s, d) => Dedup.copyCap(Tables.documents(s, d))),
    // asymmetric containment (quote/subset detection): candidates
    // from shared rare 5-grams (2 ≤ df ≤ 50), exact |∩|/|A| verify
    "d17_containment" -> ((s, d) => Dedup.containment(Tables.documents(s, d))),
    // fuzzy entity-name matching at the value-dictionary grain:
    // distinct-name dictionary first, shared-token blocking, exact
    // Levenshtein ≤ 2 verify (see Dedup.fuzzyNames)
    "d18_fuzzy_names" -> ((s, d) => Dedup.fuzzyNames(Tables.part(s, d))),
    // LEAKAGE-FREE train/validation/test SPLIT: assignment at the
    // NEAR-DUP COMPONENT grain, not the document grain — p4's
    // content-hash split sends two near-duplicate documents to
    // DIFFERENT sides whenever their (non-identical) texts hash
    // apart, which leaks test data into training. Here the d6
    // component id (already memoized for d6/d10) seeds the LCG, so
    // every member of a near-dup cluster lands on the SAME side by
    // construction. The split is one narrow map over the component
    // table — no new shuffles beyond the component derivation the
    // dedup pass already paid.
    "d19_leakfree_split" -> ((s, d) => {
      val h = pmod(pmod(col("component_id"), lit(2147483648L))
        * 1103515245L + 12345L, lit(2147483648L)) % 100
      cachedClusters(s, d, minJaccard = 0.05)
        .select(col("doc_id"), col("component_id"),
          when(h < 80, "train").when(h < 90, "validation")
            .otherwise("test").as("split"))
    }),
    // IMAGE NEAR-DUP via DCT perceptual hash (the multimodal member
    // of the dedup family): each doc's synthesized image enters at
    // full AND half resolution — "the same photo ingested twice at
    // different sizes" — and the 4×16-bit banded self-join finds
    // pairs within Hamming 3 EXACTLY (pigeonhole: ≤3 flipped bits
    // cannot corrupt all four bands, so recall is complete, not
    // heuristic — brute-force-recount spec). Candidate generation is
    // d3's banded shape; the pair-dedup exchange carries bare
    // (id, id, hash) rows. The hash upstream is the float DCT codec,
    // so the gate check is a committed per-Hamming-distance digest
    // of the full pair set (MultimodalQueries.featureDigest's
    // contract: committed tuples keyed by corpus fingerprint,
    // generated by graft.tools.OracleDigests); pair-set exactness in
    // the brute-recount spec.
    "d20_phash_neardup" -> ((s, d) =>
      Phash.phashPairs(Phash.hashedVariants(s, Tables.documents(s, d)), 3)
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_a")).as("sum_a"), sum(col("doc_b")).as("sum_b"))),
    // SEMANTIC DECONTAMINATION: every 20th embedding plays the eval/
    // benchmark set; corpus vectors within cosine 0.25 of any eval
    // vector are reported at (corpus, eval) pair grain — the
    // embedding-space twin of d8's exact-gram screen (paraphrased
    // leakage shares no 10-gram but lands nearby in embedding space).
    // d5's LCG-hyperplane blocking, asymmetric and cross-label; the
    // integer-LCG planes are engine-independent, so DuckDB rebuilds
    // identical buckets and the check is an exact hash match.
    "d21_semantic_decontam" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.semanticDecontaminate(
        emb.filter(pmod(col("vec_id"), lit(20)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(20)) === 0))
    }),
    // BLOCKING-QUALITY EVAL HARNESS (s15's idea for dedup): precision/
    // recall of minhash-LSH candidate pairs against the exact Jaccard
    // ground truth at τ = 0.05. THIS HARNESS DROVE A TUNING CHANGE:
    // the r14 readout (recall 0.69 at precision 0.0016 on k=16/b=16
    // unblocked) was acted on — candidates now use the truth-aligned
    // (lang, length) blocking plus the lshBandsFor-tuned k=32 layout,
    // which moved the curve to recall 0.93 / precision 0.32 at sf0.01.
    // lshBandsFor(0.05, 32) = 32 bands → rows=1: at τ this low the
    // S-curve needs (1/τ)^r ≈ 400 bands before rows=2 is even
    // feasible, and the k=800/b=400 sweep point measured recall 0.70 /
    // precision 0.43 — dominated by blocking at 25× the hash cost
    // (see Dedup.minhashPairsBlocked's scaladoc for the full sweep)
    "d22_lsh_recall_eval" -> ((s, d) => {
      val cand = cachedEvalCand(s, d)
      val truth = cachedEvalTruth(s, d)
        .filter(col("jaccard") >= 0.05).select("doc_a", "doc_b")
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nH = cand.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hits"))
      nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          when(col("n_cand") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_hits").cast("double") /
              col("n_cand").cast("double"), 6)).as("precision"),
          when(col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_hits").cast("double") /
              col("n_truth").cast("double"), 6)).as("recall"))
    }),
    // PER-SOURCE DUPLICATE RATE (the provider-quality report): d1's
    // exact-dedup flags rolled up per source — which provider ships
    // redundant content. Composes the d1 operator verbatim (one hash
    // group pass), then a doc-grain source join and a |sources|-row
    // aggregate; the rate divides exact counts
    "d23_dup_rate_by_source" -> ((s, d) => {
      val flags = Dedup.exactDedup(Tables.documents(s, d))
        .select(col("doc_id"), col("is_dup"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(flags, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .withColumn("dup_rate",
          round(col("n_dups").cast("double") /
            col("n_docs").cast("double"), 6))
    }),
    // THRESHOLD SWEEP (d22's harness as a CURVE): LSH-candidate
    // precision/recall against exact-Jaccard ground truth at THREE
    // thresholds from one shared pair pass — the operating-point
    // chart a banding/threshold change is tuned on (and was: see
    // d22's comment for the blocked-layout change this curve drove).
    // The exact pairs and the candidate set are each computed ONCE;
    // each threshold is a filter + two 1-row counts over the (tiny)
    // pair frames
    "d25_threshold_sweep" -> ((s, d) => {
      val cand = cachedEvalCand(s, d)
      val pairs = cachedEvalTruth(s, d)
      Seq(0.03, 0.05, 0.08).map { t =>
        val truth = pairs.filter(col("jaccard") >= t)
          .select("doc_a", "doc_b")
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nH = cand.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hits"))
        val nC = cand.agg(count(lit(1)).as("n_cand"))
        nT.crossJoin(broadcast(nH)).crossJoin(broadcast(nC))
          .select(lit(t).as("threshold"), col("n_truth"), col("n_cand"),
            col("n_hits"),
            when(col("n_cand") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_hits").cast("double") /
                col("n_cand").cast("double"), 6)).as("precision"),
            when(col("n_truth") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_hits").cast("double") /
                col("n_truth").cast("double"), 6)).as("recall"))
      }.reduce(_.unionByName(_))
    }),
    // DUP-CLUSTER SIZE PROFILE: the distribution of d6's near-dup
    // component sizes (n clusters and docs per size, doc share) —
    // "how redundant is the corpus and in what shape", the readout
    // p13's 1/size sampling rate is justified by. Cluster-grain then
    // size-grain aggregates; the share window runs over the
    // |distinct sizes| frame
    "d24_cluster_profile" -> ((s, d) => {
      val sizes = clusters(s, d)
        .groupBy("component_id").agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("doc_share", round(col("n_docs").cast("double") /
          sum("n_docs").over(org.apache.spark.sql.expressions.Window
            .partitionBy()).cast("double"), 6))
    })
  )

  /** Provenance overlap matrix — see the d9 entry.
    *
    * Sources are few and bounded (a corpus has dozens of provenance
    * labels, not millions), so this is an AGGREGATION, not a join:
    * one shuffle groups the exploded gram stream by gram with a
    * map-side partial `collect_set(source)` (which also dedups
    * per-gram repeats, so no upfront distinct is needed), then grams
    * shared by ≥2 sources explode into ordered source pairs — a
    * posexplode picks `source_a`, a column-arg `slice` yields every
    * later element as `source_b` — and a second (tiny, |sources|²-
    * keyed) shuffle counts per pair. The former distinct-gram
    * self-join shuffled the full gram stream three times and paid a
    * join for what the bounded domain makes an aggregation; the join
    * shape is right only when BOTH sides are unbounded (d8's case).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"),
        explode(wordNgrams(tokens(lower(col("text"))), 5)).as("gram"))
      .groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(col("srcs"), posexplode(col("srcs")).as(Seq("i", "source_a")))
      .select(col("source_a"),
        explode(slice(col("srcs"), col("i") + lit(2), size(col("srcs"))))
          .as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Canonical-doc selection over near-dup components — see d10. */
  def canonicalDocs(docs: DataFrame, minJaccard: Double): DataFrame =
    canonicalDocs(docs, Dedup.jaccardClusters(docs, minJaccard = minJaccard))

  /** Variant over a precomputed component assignment (doc_id →
    * component_id) — the registry path feeds d6's cached components in
    * so the CC loop runs once per session, not once per consumer.
    *
    * One window pass partitioned by component: best quality and the
    * min-id-among-best canonical resolve in a single shuffle of the
    * (doc, component, quality) triple. The old best/canon self-joins
    * referenced that triple three times, recomputing the quality scan
    * per reference. Partitions are dup GROUPS — bounded and tiny at
    * any corpus scale, so the window sort never sees a large
    * partition (unlike a per-doc ranking, where TopKRowsByScore is
    * the right tool).
    */
  def canonicalDocs(docs: DataFrame, comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = docs
      .withColumn("toks", tokens(lower(col("text"))))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop", markerCount(col("toks"), enMarkers))
      .withColumn("n_long", size(filter(col("toks"), t => length(t) > 5)))
      .select(col("doc_id"), qualityPpm.as("quality_ppm"))
    val w = Window.partitionBy("component_id")
    comp.join(quality, "doc_id")
      .withColumn("best_q", max("quality_ppm").over(w))
      .withColumn("canonical_id",
        min(when(col("quality_ppm") === col("best_q"), col("doc_id"))).over(w))
      .select(col("doc_id"), col("component_id"), col("quality_ppm"),
        col("canonical_id"), (col("doc_id") === col("canonical_id")).as("keep"))
  }

  private def inList(s: Seq[String]) = graft.functions.TextFunctions.sqlInList(s)

  private val incrementalDedupSql =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         ck AS (SELECT sha256(lower(trim(text))) AS key,
                  MIN(doc_id) AS corpus_canonical
                FROM corpus GROUP BY 1),
         bk AS (SELECT doc_id, sha256(lower(trim(text))) AS key FROM batch),
         bmin AS (SELECT key, MIN(doc_id) AS batch_min FROM bk GROUP BY key)
         SELECT b.doc_id,
           CASE WHEN ck.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id > bmin.batch_min THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           COALESCE(ck.corpus_canonical,
             CASE WHEN b.doc_id > bmin.batch_min THEN bmin.batch_min
                  ELSE b.doc_id END) AS canonical_id
         FROM bk b
         JOIN bmin ON b.key = bmin.key
         LEFT JOIN ck ON b.key = ck.key"""

  /** Shared DuckDB CTE prefix deriving the BLOCKED tuned candidate
    * pair set (`cand`): k=32 poly-minhash signatures, 32 single-row
    * band keys, the (band, key) bucket self-join with `lang` as a
    * third equi-key and the ±3-char length window — the exact SQL
    * twin of [[Dedup.minhashPairsBlocked]]'s default layout. Used by
    * the d2 serving oracle and the d22 eval oracle, which must stay
    * in lockstep with the Scala path by construction.
    */
  private val blockedCandCtes: String =
    raw"""WITH t AS (
           SELECT doc_id, lang, n_chars,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(range(1, greatest(len(toks), 1)),
               i -> toks[i] || ' ' || toks[i + 1])) AS shingles
           FROM t),
         hs AS (
           SELECT doc_id, list_transform(shingles, s ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(s) + 1),
                   i -> CAST(unicode(s[i]) AS BIGINT))),
               (x, y) -> (x * 131 + y) % 2147483647)) AS hs
           FROM sh),
         sig AS (
           SELECT doc_id, list_transform(range(0, 32), c ->
             CASE WHEN len(hs) = 0 THEN 2147483647
                  ELSE list_min(list_transform(hs, h ->
                    (((1103515245 * (c + 1) + 12345) % 2147483647) * h
                     + (69069 * (c + 1) + 1) % 2147483647) % 2147483647))
             END) AS sig
           FROM hs),
         bandk AS (
           SELECT doc_id, list_transform(range(0, 32), b ->
             list_reduce(list_prepend(b + 1, sig[b + 1 : b + 1]),
               (x, y) -> (x * 131 + y) % 2147483647)) AS bk
           FROM sig),
         buckets AS (
           SELECT doc_id, bb.b AS band, bk[bb.b + 1] AS key
           FROM bandk, (SELECT unnest(range(0, 32)) AS b) bb),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
           FROM buckets a JOIN buckets b2
             ON a.band = b2.band AND a.key = b2.key
               AND a.doc_id < b2.doc_id
           JOIN t da ON da.doc_id = a.doc_id
           JOIN t db ON db.doc_id = b2.doc_id
           WHERE da.lang = db.lang
             AND abs(da.n_chars - db.n_chars) <= 3)"""

  val oracles: Map[String, String] = Map(
    // the BLOCKED candidate set (shared CTE prefix), est-filtered at
    // eq/32 >= 0.05 (exact dyadic doubles both engines), then d6's
    // recursive min-reachable-id component algebra
    "d26_blocked_dup_clusters" ->
      (blockedCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + raw""",
         est AS (
           SELECT c.doc_a, c.doc_b
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.doc_a
           JOIN sig sb ON sb.doc_id = c.doc_b
           WHERE CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN sa.sig[i + 1] = sb.sig[i + 1] THEN 1 ELSE 0 END))
             AS DOUBLE) / 32 >= 0.05),
         e AS (SELECT doc_a AS s, doc_b AS d FROM est
               UNION SELECT doc_b, doc_a FROM est),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM documents
           UNION
           SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s)
         SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id"""),
    // the BLOCKED candidate set (shared CTE prefix — the d22 eval's
    // exact layout) counted per doc: serving and eval oracles derive
    // one pair set, so they can never drift apart
    "d2_minhash_lsh" ->
      (blockedCandCtes + raw""",
         cnt AS (
           SELECT doc_id, COUNT(*) AS n FROM (
             SELECT doc_a AS doc_id FROM cand
             UNION ALL SELECT doc_b FROM cand)
           GROUP BY doc_id)
         SELECT d.doc_id, d.lang, d.n_chars,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_candidates
         FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id"""),
    // 60-bit simhash: per token the affine rehash's parity votes each
    // bit (+1 odd / −1 even), bit set iff vote sum > 0; bands are the
    // four 15-bit slices, near neighbors counted within (band, key)
    // buckets at hamming ≤ 3 via xor + bit_count — all reproduced
    // exactly in DuckDB (60 bits keeps 2^b and the hash signed-64-bit)
    "d3_simhash" ->
      raw"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         hs AS (
           SELECT doc_id, list_transform(toks, s ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(s) + 1),
                   i -> CAST(unicode(s[i]) AS BIGINT))),
               (x, y) -> (x * 131 + y) % 2147483647)) AS hs
           FROM t),
         sims AS (
           SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN list_sum(list_transform(hs, h ->
                    CASE WHEN ((((2654435761 * (b + 1) + 101) % 2147483647) * h
                               + (40503 * (b + 1) + 7) % 2147483647)
                               % 2147483647) % 2 = 1
                         THEN 1 ELSE -1 END)) > 0
                  THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sim
           FROM hs),
         buckets AS (
           SELECT doc_id, sim, kk.k AS band,
             (sim >> (15 * CAST(kk.k AS INT))) & 32767 AS key
           FROM sims, (SELECT unnest(range(0, 4)) AS k) kk),
         near AS (
           SELECT DISTINCT a.doc_id, b2.doc_id AS doc_b,
             bit_count(xor(a.sim, b2.sim)) AS hd
           FROM buckets a JOIN buckets b2
             ON a.band = b2.band AND a.key = b2.key AND a.doc_id <> b2.doc_id),
         nn AS (
           SELECT doc_id, COUNT(*) AS n_near FROM near
           WHERE hd <= 3 GROUP BY doc_id)
         SELECT s.doc_id, s.sim,
           (s.sim >> 0) & 32767 AS sb_0, (s.sim >> 15) & 32767 AS sb_1,
           (s.sim >> 30) & 32767 AS sb_2, (s.sim >> 45) & 32767 AS sb_3,
           CAST(COALESCE(nn.n_near, 0) AS BIGINT) AS n_near
         FROM sims s LEFT JOIN nn ON s.doc_id = nn.doc_id""",
    "d9_source_overlap" ->
      raw"""WITH t AS (
           SELECT doc_id, source,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT DISTINCT source, gram FROM (
             SELECT source,
               unnest(CASE WHEN len(toks) >= 5 THEN
                 list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                        toks[i+3] || ' ' || toks[i+4])
               ELSE [] END) AS gram
             FROM t))
         SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_grams
         FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         GROUP BY 1, 2""",
    "d10_canonical_docs" ->
      raw"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3 AND a.doc_id < b.doc_id
           WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.05),
         e AS (SELECT doc_a AS s, doc_b AS d FROM p
               UNION SELECT doc_b, doc_a FROM p),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM documents
           UNION
           SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
         comp AS (SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id),
         q AS (
           SELECT doc_id,
             ${graft.functions.TextFunctions.qualityPpmSql} AS quality_ppm
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                 FROM documents)),
         j AS (SELECT c.doc_id, c.component_id, q.quality_ppm
               FROM comp c JOIN q ON c.doc_id = q.doc_id),
         best AS (SELECT component_id, MAX(quality_ppm) AS best_q
                  FROM j GROUP BY component_id),
         canon AS (
           SELECT j.component_id, MIN(j.doc_id) AS canonical_id
           FROM j JOIN best ON j.component_id = best.component_id
                           AND j.quality_ppm = best.best_q
           GROUP BY j.component_id)
         SELECT j.doc_id, j.component_id, j.quality_ppm, canon.canonical_id,
           (j.doc_id = canon.canonical_id) AS keep
         FROM j JOIN canon ON j.component_id = canon.component_id""",
    "d8_decontaminate" ->
      raw"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 5 THEN
                 list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                        toks[i+3] || ' ' || toks[i+4])
               ELSE [] END) AS gram
             FROM t)),
         e AS (SELECT gram, doc_id AS eval_id FROM g WHERE doc_id % 50 = 0),
         c AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0)
         SELECT c.doc_id,
           COUNT(DISTINCT c.gram) AS n_shared_grams,
           COUNT(DISTINCT e.eval_id) AS n_eval_docs_hit
         FROM c JOIN e ON c.gram = e.gram
         GROUP BY c.doc_id""",
    // one row per EVAL doc (0-gram docs included with contamination 0)
    "d12_contamination_report" ->
      raw"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 5 THEN
                 list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                        toks[i+3] || ' ' || toks[i+4])
               ELSE [] END) AS gram
             FROM t)),
         cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 <> 0),
         e AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 = 0),
         tot AS (
           SELECT t.doc_id, CAST(COALESCE(n.cnt, 0) AS BIGINT) AS n_grams
           FROM t LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt FROM e GROUP BY doc_id) n
             ON t.doc_id = n.doc_id
           WHERE t.doc_id % 50 = 0),
         hit AS (
           SELECT e.doc_id, COUNT(*) AS n_hit
           FROM e JOIN cg ON e.gram = cg.gram GROUP BY e.doc_id)
         SELECT tot.doc_id, tot.n_grams,
           CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) /
             GREATEST(tot.n_grams, 1), 6) AS contamination
         FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""",
    "d7_incremental_dedup" -> incrementalDedupSql,
    // the bloom pre-filter may not change a single output row
    "d14_bloom_dedup" -> incrementalDedupSql,
    "d1_exact_dedup" ->
      """WITH keyed AS (
           SELECT doc_id, sha256(lower(trim(text))) AS key FROM documents),
         groups AS (
           SELECT key, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
           FROM keyed GROUP BY key)
         SELECT k.doc_id, g.canonical_id, g.group_size,
           (k.doc_id <> g.canonical_id) AS is_dup
         FROM keyed k JOIN groups g ON k.key = g.key""",
    "d4_ngram_jaccard" ->
      raw"""WITH t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
         FROM t a JOIN t b
           ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3 AND a.doc_id < b.doc_id""",
    // connected components over the same exact-Jaccard edge set the
    // Spark side uses: transitive closure via recursive CTE, component
    // id = min reachable doc_id (UNION dedups, so the recursion
    // reaches fixpoint)
    "d6_dup_clusters" ->
      raw"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3 AND a.doc_id < b.doc_id
           WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.05),
         e AS (SELECT doc_a AS s, doc_b AS d FROM p
               UNION SELECT doc_b, doc_a FROM p),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM documents
           UNION
           SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s)
         SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id""",
    // d6's component derivation + the p4 LCG arithmetic seeded by the
    // COMPONENT id — same engine-independent integer math
    "d19_leakfree_split" ->
      raw"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3 AND a.doc_id < b.doc_id
           WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.05),
         e AS (SELECT doc_a AS s, doc_b AS d FROM p
               UNION SELECT doc_b, doc_a FROM p),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM documents
           UNION
           SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
         comp AS (SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id)
         SELECT doc_id, component_id,
           CASE WHEN ((component_id % 2147483648) * 1103515245 + 12345)
                  % 2147483648 % 100 < 80 THEN 'train'
                WHEN ((component_id % 2147483648) * 1103515245 + 12345)
                  % 2147483648 % 100 < 90 THEN 'validation'
                ELSE 'test' END AS split
         FROM comp""",
    // batch-vs-corpus best near-match; |Δlen| ≤ 3 is the band±1
    // blocking's exact semantic (d4's equivalence)
    "d11_incremental_neardup" ->
      raw"""WITH t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents),
         c AS (SELECT * FROM t WHERE doc_id % 5 <> 0),
         bt AS (SELECT * FROM t WHERE doc_id % 5 = 0),
         hits AS (
           SELECT bt.doc_id, c.doc_id AS corpus_id,
             ROUND(CAST(len(list_intersect(bt.shingles, c.shingles)) AS DOUBLE) /
                   len(list_distinct(list_concat(bt.shingles, c.shingles))), 6) AS jaccard
           FROM bt JOIN c ON bt.lang = c.lang AND abs(bt.n_chars - c.n_chars) <= 3),
         best AS (
           SELECT doc_id, corpus_id AS match_id, jaccard AS match_jaccard,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY jaccard DESC, corpus_id ASC) AS rn
           FROM hits WHERE jaccard >= 0.05)
         SELECT b2.doc_id,
           CASE WHEN best.match_id IS NULL THEN 'new'
                ELSE 'near_dup_of_corpus' END AS status,
           best.match_id, best.match_jaccard
         FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) b2
         LEFT JOIN (SELECT doc_id, match_id, match_jaccard FROM best WHERE rn = 1) best
           USING (doc_id)""",
    // mirrors Dedup.embeddingNearDup's LCG-hyperplane LSH blocking
    // (8 tables x 4 planes): the plane components are integer-LCG +
    // power-of-two division — exact in both engines, so the candidate
    // sets (and hence the verified pairs) are identical
    "d5_embedding_neardup" ->
      """WITH e AS (
           SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         b AS (
           SELECT vec_id, label, t.t AS tbl,
             list_sum(list_transform(range(0, 4), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 4 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS bucket
           FROM n, (SELECT unnest(range(0, 8)) AS t) t),
         pairs AS (
           SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
           FROM b a JOIN b b2
             ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
           WHERE a.label = b2.label)
         SELECT p.vec_a, p.vec_b,
           ROUND(list_sum(list_transform(list_zip(x.v, y.v), s -> s[1] * s[2]))
                 / (x.nrm * y.nrm), 6) AS cosine
         FROM pairs p
         JOIN n x ON p.vec_a = x.vec_id
         JOIN n y ON p.vec_b = y.vec_id
         WHERE list_sum(list_transform(list_zip(x.v, y.v), s -> s[1] * s[2]))
               / (x.nrm * y.nrm) >= 0.25""",
    // d2's minhash derivation at the tuned k=32/bands=32/rows=1
    // layout for the candidates, with the truth-aligned (lang,
    // length) blocking on the bucket join; d6's exact-Jaccard pair
    // derivation for the truth, metrics on the pair-keyed intersection
    "d22_lsh_recall_eval" ->
      (blockedCandCtes + raw""",
         truth AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3
               AND a.doc_id < b.doc_id
           WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
                 >= 0.05),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
                FROM cand JOIN truth USING (doc_a, doc_b))
         SELECT n_truth, n_cand, n_hits,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE ROUND(CAST(n_hits AS DOUBLE) / n_cand, 6) END AS precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE ROUND(CAST(n_hits AS DOUBLE) / n_truth, 6) END AS recall
         FROM nt CROSS JOIN nc CROSS JOIN nh"""),
    "d21_semantic_decontam" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         b AS (
           SELECT vec_id, t.t AS tbl,
             list_sum(list_transform(range(0, 4), p ->
               CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
                      v[d + 1] * (((1103515245 * ((t.t * 4 + p) * 131 + d) + 12345)
                                   % 2147483648) / 1073741824.0 - 1.0))) >= 0
                    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS bucket
           FROM n, (SELECT unnest(range(0, 8)) AS t) t),
         pairs AS (
           SELECT DISTINCT a.vec_id AS corpus_id, b2.vec_id AS eval_id
           FROM b a JOIN b b2
             ON a.tbl = b2.tbl AND a.bucket = b2.bucket
           WHERE a.vec_id % 20 <> 0 AND b2.vec_id % 20 = 0)
         SELECT p.corpus_id, p.eval_id,
           ROUND(list_sum(list_transform(list_zip(x.v, y.v), s -> s[1] * s[2]))
                 / (x.nrm * y.nrm), 6) AS cosine
         FROM pairs p
         JOIN n x ON p.corpus_id = x.vec_id
         JOIN n y ON p.eval_id = y.vec_id
         WHERE list_sum(list_transform(list_zip(x.v, y.v), s -> s[1] * s[2]))
               / (x.nrm * y.nrm) >= 0.25""",
    // doc-level exact 10-token-span sharing; min owner all the way down
    "d15_substring_dedup" ->
      raw"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         p AS (
           SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 10 THEN
               list_distinct(list_transform(range(1, len(toks) - 8),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                      toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] || ' ' ||
                      toks[i+9]))
             ELSE [NULL] END) AS gram
           FROM t),
         g AS (
           SELECT gram, MIN(doc_id) AS own FROM p
           WHERE gram IS NOT NULL GROUP BY gram)
         SELECT p.doc_id,
           CASE WHEN MIN(CASE WHEN g.own < p.doc_id THEN g.own END) IS NULL
                THEN 'kept' ELSE 'span_dup' END AS status,
           MIN(CASE WHEN g.own < p.doc_id THEN g.own END) AS dup_of
         FROM p LEFT JOIN g ON p.gram = g.gram
         GROUP BY p.doc_id""",
    // the window form IS the oracle for the capped heap pick:
    // identical (lcg, doc_id) order, rn ≤ 2 keeps
    "d16_copy_cap" ->
      """WITH keyed AS (
           SELECT doc_id, sha256(lower(trim(text))) AS key,
             lpad(CAST(((doc_id % 2147483648) * 1103515245 + 12345)
                       % 2147483648 AS VARCHAR), 10, '0')
               || '-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS tie
           FROM documents),
         g AS (SELECT key, COUNT(*) AS n_copies FROM keyed GROUP BY key),
         r AS (SELECT doc_id, key,
                 row_number() OVER (PARTITION BY key ORDER BY tie ASC) AS rn
               FROM keyed)
         SELECT r.doc_id, CAST(r.rn AS BIGINT) AS copy_rank, g.n_copies
         FROM r JOIN g ON r.key = g.key
         WHERE r.rn <= 2""",
    // shared-rare-5-gram candidates + exact asymmetric containment,
    // re-derived step for step
    "d17_containment" ->
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
           FROM documents),
         t AS (
           SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(tk) - 3, 1)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                    tk[i+3] || ' ' || tk[i+4])) AS grams
           FROM toks),
         tt AS (SELECT * FROM t WHERE len(grams) > 0),
         ex AS (SELECT doc_id, unnest(grams) AS gram FROM tt),
         kept AS (SELECT gram FROM ex GROUP BY gram
                  HAVING COUNT(*) BETWEEN 2 AND 50),
         own AS (SELECT ex.doc_id, ex.gram FROM ex JOIN kept USING (gram)),
         cand AS (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM own x JOIN own y ON x.gram = y.gram AND x.doc_id <> y.doc_id),
         sc AS (
           SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(a.grams), 6) AS containment
           FROM cand c JOIN tt a ON c.doc_a = a.doc_id
                       JOIN tt b ON c.doc_b = b.doc_id)
         SELECT doc_a, doc_b, containment FROM sc WHERE containment >= 0.5""",
    // dictionary-grain fuzzy matching re-derived verbatim: distinct
    // names + per-name row counts, shared-token candidates UNION
    // char-trigram candidates for single-token names, exact
    // levenshtein ≤ 2 (both engines implement unit-cost edit distance)
    "d18_fuzzy_names" ->
      """WITH names AS (
           SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name),
         tok AS (
           SELECT p_name, unnest(string_split(p_name, ' ')) AS w FROM names),
         single AS (
           SELECT p_name FROM names
           WHERE strpos(p_name, ' ') = 0 AND length(p_name) >= 3),
         gram AS (
           SELECT p_name,
             unnest(list_transform(generate_series(1, length(p_name) - 2),
               i -> substr(p_name, CAST(i AS INTEGER), 3))) AS g
           FROM single),
         cand AS (
           SELECT DISTINCT name_a, name_b FROM (
             SELECT a.p_name AS name_a, b.p_name AS name_b
             FROM tok a JOIN tok b ON a.w = b.w AND a.p_name < b.p_name
             UNION ALL
             SELECT a.p_name AS name_a, b.p_name AS name_b
             FROM gram a JOIN gram b ON a.g = b.g AND a.p_name < b.p_name)),
         sc AS (
           SELECT name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
           FROM cand)
         SELECT s.name_a, s.name_b, s.dist,
           na.n_parts AS n_parts_a, nb.n_parts AS n_parts_b
         FROM sc s
         JOIN names na ON s.name_a = na.p_name
         JOIN names nb ON s.name_b = nb.p_name
         WHERE s.dist <= 2""",
    // d13 at the gate's corpus size runs in the SINGLE-CLUSTER regime
    // (autoK(n≤1000, 1000) = 1): one cluster means the k-means
    // codebook provably cannot affect membership — every vector is a
    // cluster-mate of every other — so the labeling reduces to "dup of
    // the lowest-id vector with round(cos,9) ≥ τ, else kept", exactly
    // computable in SQL. cluster_id is the seed's id = MIN(vec_id)
    // (the kmeansCentroids seeding convention). At k > 1 the blocking
    // becomes hash-engine-dependent and the ScalaTest specs take over
    // (assignment parity, planted-dup collapse).
    "d13_semantic_dedup" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         pairs AS (
           SELECT a.vec_id, b.vec_id AS j_id,
             list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
               / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON b.vec_id < a.vec_id),
         d AS (
           SELECT vec_id, MIN(j_id) AS dup_of, arg_min(cos, j_id) AS dup_cos
           FROM pairs WHERE ROUND(cos, 9) >= 0.9 GROUP BY vec_id),
         seed AS (SELECT MIN(vec_id) AS cid FROM embeddings)
         SELECT n.vec_id, seed.cid AS cluster_id,
           CASE WHEN d.dup_of IS NULL THEN 'kept'
                ELSE 'semantic_dup' END AS status,
           COALESCE(d.dup_of, n.vec_id) AS canonical_id,
           ROUND(d.dup_cos, 6) AS cos_to_canonical
         FROM n LEFT JOIN d ON n.vec_id = d.vec_id CROSS JOIN seed""",
    // COMMITTED DIGEST ORACLE for the DCT-pHash pair set (float
    // upstream — MultimodalQueries.featureDigest's contract): the
    // full ≤Hamming-3 pair set digested per distance, expected
    // tuples generated by graft.tools.OracleDigests and keyed by the
    // corpus fingerprint; pair-set exactness in the brute-recount
    // spec
    "d20_phash_neardup" ->
      """WITH fp AS (SELECT SUM(length(text)) AS k FROM documents),
         v(hamming, n_pairs, sum_a, sum_b, k) AS (VALUES
           (0, 358, 173530, 173888, 153156),
           (2, 135, 72746, 72881, 153156),
           (0, 391, 197142, 197533, 149174),
           (2, 103, 50270, 50373, 149174))
         SELECT CAST(hamming AS BIGINT) AS hamming, CAST(n_pairs AS BIGINT) AS n_pairs, CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b
         FROM v JOIN fp ON v.k = fp.k""",
    // d1's hash groups rolled up per provider
    "d23_dup_rate_by_source" ->
      """WITH keyed AS (
           SELECT doc_id, source, sha256(lower(trim(text))) AS key
           FROM documents),
         groups AS (
           SELECT key, MIN(doc_id) AS canonical_id FROM keyed GROUP BY key)
         SELECT k.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k.doc_id <> g.canonical_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dups,
           ROUND(SUM(CASE WHEN k.doc_id <> g.canonical_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
         FROM keyed k JOIN groups g ON k.key = g.key
         GROUP BY 1""",
    // d22's CTE base (signatures, bands, buckets, candidates + the
    // blocked exact-Jaccard pairs) evaluated ONCE, three thresholds
    // off a VALUES list via correlated counts
    "d25_threshold_sweep" ->
      raw"""WITH t AS (
           SELECT doc_id, lang, n_chars,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         sh AS MATERIALIZED (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(range(1, greatest(len(toks), 1)),
               i -> toks[i] || ' ' || toks[i + 1])) AS shingles
           FROM t),
         hs AS (
           SELECT doc_id, list_transform(shingles, s ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(s) + 1),
                   i -> CAST(unicode(s[i]) AS BIGINT))),
               (x, y) -> (x * 131 + y) % 2147483647)) AS hs
           FROM sh),
         sig AS (
           SELECT doc_id, list_transform(range(0, 32), c ->
             CASE WHEN len(hs) = 0 THEN 2147483647
                  ELSE list_min(list_transform(hs, h ->
                    (((1103515245 * (c + 1) + 12345) % 2147483647) * h
                     + (69069 * (c + 1) + 1) % 2147483647) % 2147483647))
             END) AS sig
           FROM hs),
         bandk AS (
           SELECT doc_id, list_transform(range(0, 32), b ->
             list_reduce(list_prepend(b + 1, sig[b + 1 : b + 1]),
               (x, y) -> (x * 131 + y) % 2147483647)) AS bk
           FROM sig),
         buckets AS (
           SELECT doc_id, bb.b AS band, bk[bb.b + 1] AS key
           FROM bandk, (SELECT unnest(range(0, 32)) AS b) bb),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
           FROM buckets a JOIN buckets b2
             ON a.band = b2.band AND a.key = b2.key
               AND a.doc_id < b2.doc_id
           JOIN sh da ON da.doc_id = a.doc_id
           JOIN sh db ON db.doc_id = b2.doc_id
           WHERE da.lang = db.lang
             AND abs(da.n_chars - db.n_chars) <= 3),
         tr AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(CAST(len(list_intersect(a.shingles, b.shingles))
                 AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
               AS j
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3
               AND a.doc_id < b.doc_id),
         th AS (SELECT unnest([0.03, 0.05, 0.08]) AS threshold),
         m AS (
           SELECT th.threshold,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM tr
               WHERE j >= th.threshold) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
               JOIN tr ON c.doc_a = tr.doc_a AND c.doc_b = tr.doc_b
               WHERE tr.j >= th.threshold) AS n_hits
           FROM th)
         SELECT threshold, n_truth, n_cand, n_hits,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE ROUND(CAST(n_hits AS DOUBLE) / n_cand, 6)
           END AS precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE ROUND(CAST(n_hits AS DOUBLE) / n_truth, 6)
           END AS recall
         FROM m""",
    // d6's recursive component derivation, then the size histogram
    "d24_cluster_profile" ->
      raw"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, n_chars,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)),
               i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\s+')[i + 1])) AS shingles
           FROM documents),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 3
               AND a.doc_id < b.doc_id
           WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.05),
         e AS (SELECT doc_a AS s, doc_b AS d FROM p
               UNION SELECT doc_b, doc_a FROM p),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM documents
           UNION
           SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
         comp AS (SELECT id AS doc_id, MIN(r) AS component_id
                  FROM reach GROUP BY id),
         sz AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY component_id),
         hist AS (
           SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM sz GROUP BY 1)
         SELECT cluster_size, n_clusters, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS doc_share
         FROM hist"""
  )
}
