package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operator family (SURVEY.md §2.D) — the core
  * LLM-training-data pipeline operators.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  * - exact: shuffle on sha256(normalized text) — fixed-width key, one
  *   aggregation, broadcast join back.
  * - minhash-LSH / simhash: candidate pairs are generated only WITHIN
  *   hash buckets (shuffle on band key, self-join per bucket) — the
  *   classic sub-quadratic near-dup pipeline.
  * - n-gram Jaccard: exact verification, but only over blocked
  *   candidate pairs — equi-keyed on (lang, length band) so the
  *   shuffle key cardinality scales with the data, not with the
  *   handful of languages.
  * - embedding near-dup: LCG-hyperplane LSH blocking (oracle-
  *   reproducible arithmetic), label + cosine threshold as verify
  *   filters.
  */
object Dedup {

  /** Exact dedup: group by content hash, canonical = min(doc_id). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      sha2(lower(trim(col("text"))), 256).as("__key"))
    val groups = keyed.groupBy("__key").agg(
      min("doc_id").as("canonical_id"),
      count(lit(1)).as("group_size"))
    keyed.join(groups, "__key")
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** Incremental exact dedup: a NEW batch of documents deduplicated
    * against an already-ingested corpus — the steady-state shape of a
    * production ingest (the corpus is 100 TB and static per run; only
    * the batch is new). Per batch doc:
    *  - `dup_of_corpus`: content hash already in the corpus
    *    (canonical = the corpus's canonical doc),
    *  - `dup_in_batch`: first seen in this batch but not by this doc
    *    (canonical = min batch doc_id for the hash),
    *  - `new`: this doc IS the hash's first occurrence anywhere.
    *
    * Scale shape: the corpus side collapses to one row per distinct
    * hash BEFORE the join (in production that pre-aggregated hash
    * index is a persisted artifact, so the 100 TB corpus is never
    * rescanned); both joins are equi on the content hash — shuffle key
    * cardinality = distinct contents.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val ck = corpus
      .select(sha2(lower(trim(col("text"))), 256).as("__key"), col("doc_id"))
      .groupBy("__key").agg(min("doc_id").as("corpus_canonical"))
    val bk = batch.select(col("doc_id"),
      sha2(lower(trim(col("text"))), 256).as("__key"))
    val bmin = bk.groupBy("__key").agg(min("doc_id").as("batch_min"))
    bk.join(bmin, "__key")
      .join(ck, Seq("__key"), "left")
      .select(col("doc_id"),
        when(col("corpus_canonical").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") > col("batch_min"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_canonical"),
          when(col("doc_id") > col("batch_min"), col("batch_min"))
            .otherwise(col("doc_id"))).as("canonical_id"))
  }

  /** [[incrementalDedup]] with a BLOOM PRE-FILTER on the corpus probe
    * — the 100 TB ingest shape: a driver-built Bloom filter over the
    * corpus's 64-bit content fingerprints (a few MB even for
    * hundreds of millions of distinct contents at 1% fpp; in
    * production a persisted side-artifact of the hash index,
    * maintained with it) ships to executors once, and only batch docs
    * the filter CANNOT rule out join the corpus index. A healthy
    * ingest is overwhelmingly new content, so the corpus-probe join
    * input shrinks to ~fpp of the batch — definitely-new docs never
    * shuffle toward the corpus at all.
    *
    * Correctness is bloom-independent: identical normalized text ⇒
    * identical fingerprint, so a bloom miss PROVES no corpus twin
    * exists, and false positives just take the exact join and find
    * nothing. Output ≡ [[incrementalDedup]] (same oracle).
    */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    def normed(df: DataFrame) = df.select(col("doc_id"),
      fingerprint(lower(trim(col("text")))).as("__fp"),
      sha2(lower(trim(col("text"))), 256).as("__key"))
    // localCheckpoint: three consumers follow (the sizing count, the
    // bloom build, the final probe join) — without it each re-derives
    // the normalize+hash aggregate from the corpus text. In production
    // this index is a persisted artifact (see d7); the checkpoint is
    // the in-session stand-in, one corpus scan total.
    val ck = normed(corpus)
      .groupBy("__key").agg(min("doc_id").as("corpus_canonical"),
        first("__fp").as("__fp"))
      .localCheckpoint()
    val fps = ck.select("__fp")
    val indexRows = fps.count()
    // Spark's stat.bloomFilter NPEs on an empty input — and an empty
    // corpus needs no filter at all: nothing can be a corpus dup
    val probe = if (indexRows == 0) lit(false) else {
      val expected =
        if (expectedItems > 0) expectedItems else math.max(1024L, indexRows)
      BloomFunctions.mightContainBloom(col("__fp"), BloomFunctions.serialize(
        fps.stat.bloomFilter("__fp", expected, fpp)))
    }
    val bk = normed(batch)
    val bmin = bk.groupBy("__key").agg(min("doc_id").as("batch_min"))
    def classify(df: DataFrame) = df.select(col("doc_id"),
      when(col("corpus_canonical").isNotNull, lit("dup_of_corpus"))
        .when(col("doc_id") > col("batch_min"), lit("dup_in_batch"))
        .otherwise(lit("new")).as("status"),
      coalesce(col("corpus_canonical"),
        when(col("doc_id") > col("batch_min"), col("batch_min"))
          .otherwise(col("doc_id"))).as("canonical_id"))
    val withMin = bk.join(bmin, "__key")
    val maybe = withMin.filter(probe)
      .join(ck.select("__key", "corpus_canonical"), Seq("__key"), "left")
    val definitelyNew = withMin.filter(!probe)
      .withColumn("corpus_canonical",
        lit(null).cast(ck.schema("corpus_canonical").dataType))
    classify(maybe).unionByName(classify(definitelyNew))
  }

  /** Decontamination — the pipeline stage that keeps benchmark/eval
    * text out of the training corpus: flag every corpus document
    * sharing at least one word `n`-gram with any eval document.
    * Returns (doc_id, n_shared_grams, n_eval_docs_hit) per flagged doc.
    *
    * Scale shape: both sides explode to distinct (doc, gram) and
    * equi-join on the gram — the shuffle key is the n-gram itself
    * (cardinality grows with the corpus, never a handful of buckets).
    * The eval side is benchmark-sized; at 100 TB you'd broadcast its
    * distinct-gram set (or a bloom filter of it) — Spark's AQE already
    * picks broadcast when the built side fits.
    */
  def decontaminate(corpus: DataFrame, eval: DataFrame, n: Int = 5): DataFrame =
    decontaminatePrepped(corpus, evalGramIndex(eval, n), n)

  /** The held-out side of [[decontaminate]] as a PREPARED INDEX: the
    * eval suite's distinct (gram, eval_id) rows — build once, probe
    * per corpus batch (the st10 persisted-index contract; st34
    * streams the corpus against this). Eval suites are small, so the
    * index broadcasts; nothing about the probe requires that.
    */
  def evalGramIndex(eval: DataFrame, n: Int = 5): DataFrame =
    eval.select(col("doc_id").as("eval_id"),
      explode(array_distinct(wordNgrams(tokens(lower(col("text"))), n))).as("gram"))
      .select("gram", "eval_id")

  /** [[decontaminate]] against a pre-built [[evalGramIndex]]: per-doc
    * results depend only on the doc's own grams and the static index,
    * so batches of corpus docs can probe independently (streaming
    * ingest, incremental re-checks) and union to the batch answer.
    */
  def decontaminatePrepped(corpus: DataFrame, evalGrams: DataFrame,
      n: Int = 5): DataFrame =
    corpus.select(col("doc_id"),
        explode(array_distinct(wordNgrams(tokens(lower(col("text"))), n))).as("gram"))
      .join(evalGrams, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs_hit"))

  /** Per-EVAL-doc contamination report — the graded view whose binary
    * summary is [[decontaminate]]: for each held-out doc, what
    * fraction of its distinct word-n-grams appears ANYWHERE in the
    * training corpus. The eval-suite owner's side of the
    * decontamination story. Scale shape: the corpus collapses to its
    * DISTINCT gram set first (one gram-keyed shuffle with map-side
    * combine — the set is vocabulary-bounded, far below the token
    * stream), the eval grams left-semi join it (eval sets are small by
    * definition, but nothing here requires that), and per-doc totals
    * come from a narrow per-row `size(array_distinct(...))` — no
    * second pass over text.
    */
  def contaminationReport(corpus: DataFrame, eval: DataFrame, n: Int = 5): DataFrame = {
    val corpusGrams = corpus
      .select(explode(array_distinct(
        wordNgrams(tokens(lower(col("text"))), n))).as("gram"))
      .distinct()
    // ONE pass over the eval text: the per-doc total rides along the
    // exploded gram rows (explode_outer keeps 0-gram docs as a single
    // null-gram row, which matches nothing and reports 0)
    val evalRows = eval
      .select(col("doc_id"), array_distinct(
        wordNgrams(tokens(lower(col("text"))), n)).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gram"))
    evalRows
      .join(corpusGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") /
          greatest(col("n_grams"), lit(1L)), 6).as("contamination"))
  }

  /** Per-doc minhash signature + banded LSH keys + candidate count —
    * the UNBLOCKED PRIMITIVE: band buckets are the only candidate
    * filter, so use it for corpora without blocking metadata or as
    * the recall-side reference; the SERVING path for real corpora is
    * [[minhashLshBlocked]]/[[minhashPairsBlocked]], whose
    * (lang, length) blocking the d22 eval measured at precision 0.32
    * vs 0.0016 for this layout at τ=0.05.
    * `sigCols` exposes band keys so the result is inspectable; the
    * candidate count comes from the bucket self-join.
    *
    * The hashing is ENGINE-INDEPENDENT arithmetic (d5's pattern): a
    * codepoint-fold polynomial hash mod 2^31−1 per shingle, an affine
    * universal-hash family per signature component, and a seeded fold
    * per band key ([[graft.functions.NativeTextExpressions]]). Every
    * step is exact 64-bit integer math in both engines, so the DuckDB
    * oracle reproduces signatures, band keys AND candidate counts
    * bit-for-bit — an exact hash-match driver check, where the old
    * xxhash64 form could only be rows-checked.
    */
  def minhashLsh(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    import graft.functions.NativeTextExpressions.{polyMinhashSig, polyBandKeys}
    require(k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val rows = k / bands
    // cached: read by both sides of the bucket self-join, and caching
    // stops projection collapse re-inlining the signature pipeline
    val sigs = docs
      .withColumn("toks", tokens(lower(col("text"))))
      .withColumn("shingles", array_distinct(wordNgrams(col("toks"), 2)))
      .withColumn("sig", polyMinhashSig(col("shingles"), k))
      .withColumn("bandkeys", polyBandKeys(col("sig"), bands, rows))
      .select("doc_id", "sig", "bandkeys")
      .transform(graft.Artifacts.pin)
    val buckets = sigs.select(col("doc_id"),
      posexplode(col("bandkeys")).as(Seq("band", "bucket")))
    // candidate pairs: same (band, bucket), a < b, deduped across bands
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val cand = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    sigs.join(cand, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        (0 until bands).map(b => element_at(col("bandkeys"), b + 1).as(s"band_$b")) :+
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"): _*)
  }

  /** BANDING TUNER for minhash LSH: pick (bands, rows) so the
    * S-curve's 50%-detection point (1/b)^(1/r) sits closest to the
    * target Jaccard (Leskovec-Rajaraman-Ullman, MMDS ch. 3). More
    * bands → catches lower similarity (more candidates, more verify
    * cost); fewer bands → tighter threshold. This makes the
    * cost/recall trade a NUMBER the caller states ("find pairs above
    * 0.5") instead of a hash-layout detail they must derive; pass the
    * result's bands straight into [[minhashPairs]]/[[minhashLsh]].
    */
  def lshBandsFor(targetJaccard: Double, k: Int = 16): Int = {
    require(targetJaccard > 0 && targetJaccard < 1, "target must be in (0,1)")
    val divisors = (1 to k).filter(k % _ == 0)
    divisors.minBy { b =>
      val threshold = math.pow(1.0 / b, b.toDouble / k) // (1/b)^(1/r)
      math.abs(threshold - targetJaccard)
    }
  }

  /** Candidate near-dup pairs from minhash LSH with estimated Jaccard
    * (used by specs; at sf the testdata has no near-dups, so the
    * per-doc summary above is the registered query).
    */
  def minhashPairs(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    import graft.functions.NativeTextExpressions.{polyMinhashSig, polyBandKeys}
    require(k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val rows = k / bands
    val sigs = docs
      .withColumn("toks", tokens(lower(col("text"))))
      .withColumn("shingles", array_distinct(wordNgrams(col("toks"), 2)))
      .withColumn("sig", polyMinhashSig(col("shingles"), k))
      .withColumn("bandkeys", polyBandKeys(col("sig"), bands, rows))
      .select("doc_id", "sig", "bandkeys")
      .transform(graft.Artifacts.pin)
    val buckets = sigs.select(col("doc_id"), col("sig"),
      posexplode(col("bandkeys")).as(Seq("band", "bucket")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        // fenced like [[ngramJaccard]]: dupClusters' threshold filter
        // must not ride into the bucket join ahead of the cheap keys
        graft.functions.OptimizationFence.fence(
          estJaccard(col("a.sig"), col("b.sig"))).as("est_jaccard"))
      .distinct()
  }

  /** [[minhashPairs]] with TRUTH-ALIGNED metadata blocking: a
    * candidate pair must also share `lang` and sit within `maxLenDiff`
    * chars — the same (language, length) block [[ngramJaccard]]
    * evaluates, so the LSH serving path and the exact-verify path
    * agree on which pairs are even eligible. Measured on the d25
    * harness at sf0.01, this blocking is the whole ballgame: the
    * unblocked k=16/b=16 bucket join emits 40 167 candidates for 63
    * truth hits at τ=0.05 (precision 0.0016); blocked at the
    * [[lshBandsFor]]-tuned k=32/b=32 layout it emits 266 for 85
    * (precision 0.32, recall 0.93). `lang` rides the bucket join as a
    * third equi-key, so buckets get SMALLER at any corpus size; the
    * length window is a cheap post-bucket filter. (rows > 1 was also
    * swept and is dominated at this τ: the S-curve needs
    * b = (1/τ)^r ≈ 400 bands for rows=2, i.e. k=800, which measured
    * recall 0.70 / precision 0.43 at 25× the hash cost — the tuner's
    * rows=1 answer stands.)
    *
    * Note the internal signature frame is pinned for the bucket
    * self-join (both sides read it; an uncached plan re-hashes the
    * corpus twice and projection collapse re-inlines the pipeline).
    * The pin is OWNED by [[graft.Artifacts]] (r17 verdict #4):
    * CacheManager still dedupes repeat invocations on the same input
    * plan, distinct inputs register per session against a bounded
    * registry (oldest pin unpersisted past the bound), and services
    * release everything with `Graft.releasePins(spark)` — the
    * grow-forever footgun of the old raw `cache()` convention is
    * retired structurally.
    */
  def minhashPairsBlocked(docs: DataFrame, k: Int = 32, bands: Int = 32,
      maxLenDiff: Int = 3): DataFrame = {
    import graft.functions.NativeTextExpressions.{polyMinhashSig, polyBandKeys}
    require(k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val rows = k / bands
    val sigs = docs
      .withColumn("toks", tokens(lower(col("text"))))
      .withColumn("shingles", array_distinct(wordNgrams(col("toks"), 2)))
      .withColumn("sig", polyMinhashSig(col("shingles"), k))
      .withColumn("bandkeys", polyBandKeys(col("sig"), bands, rows))
      .select("doc_id", "lang", "n_chars", "sig", "bandkeys")
      .transform(graft.Artifacts.pin)
    val buckets = sigs.select(col("doc_id"), col("lang"), col("n_chars"),
      col("sig"), posexplode(col("bandkeys")).as(Seq("band", "bucket")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(abs(col("a.n_chars") - col("b.n_chars")) <= maxLenDiff)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.OptimizationFence.fence(
          estJaccard(col("a.sig"), col("b.sig"))).as("est_jaccard"))
      .distinct()
  }

  /** Per-doc simhash (as 4 band keys) + count of near neighbors within
    * `maxHamming` found via band-bucket candidates.
    *
    * Like [[minhashLsh]], the hash is engine-independent: a 60-BIT
    * simhash whose per-bit votes come from the parity of an affine
    * rehash of each token's polynomial codepoint hash
    * ([[graft.functions.NativeTextExpressions.polySimhash32Compute]];
    * 60 bits keeps every derived value signed-64-bit-exact in DuckDB).
    * Bands are the four 15-bit slices — 32768 buckets per band, so the
    * blocking cardinality scales to a large corpus (8-bit bands would
    * cap at 256 buckets and go quadratic inside them); 4 bands still
    * pigeonhole-guarantee that any pair within hamming ≤ 3 shares an
    * exact band. DuckDB reproduces the votes, the band buckets and the
    * hamming counts exactly (`xor` + `bit_count` exist in both
    * engines) → exact-match oracle.
    */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    import graft.functions.NativeTextExpressions.polySimhash32
    val sigs = docs
      .withColumn("toks", tokens(lower(col("text"))))
      .withColumn("sim", polySimhash32(col("toks")))
      .select(Seq(col("doc_id"), col("sim")) ++
        (0 until 4).map(k => shiftright(col("sim"), 15 * k).bitwiseAND(lit(32767L)).as(s"sb_$k")): _*)
      .transform(graft.Artifacts.pin)
    val buckets = sigs.select(col("doc_id"), col("sim"),
        posexplode(array((0 until 4).map(k => col(s"sb_$k")): _*)).as(Seq("band", "bucket")))
    val near = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.sim"), col("b.sim")).as("hd"))
      .distinct()
      .filter(col("hd") <= maxHamming)
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    sigs.join(near, Seq("doc_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
  }

  /** Exact word-bigram Jaccard over blocked candidate pairs.
    *
    * The equi-join key is (lang, length band): bands are
    * `maxLenDiff + 1` chars wide, so every qualifying pair
    * (|Δlen| ≤ maxLenDiff) sits in the same or an adjacent band — the
    * left side probes its own band ±1 and the exact |Δlen| predicate
    * filters inside the block. The result set is IDENTICAL to a plain
    * (lang, |Δlen|) blocking, but the shuffle key has
    * O(langs × distinct-lengths/band) cardinality instead of ~4 — the
    * difference between a balanced shuffle and every row landing on a
    * handful of keys at 100 TB. Exactly one probe band matches per
    * pair (a band step of ±1 covers |Δlen| ≤ band width - 1), so no
    * dedup pass is needed.
    *
    * CORPUS-SIZE GUARD: the blocking KEY cardinality is bounded, but
    * the population WITHIN a (lang, band) block grows linearly with
    * the corpus — candidate pairs per block grow as |block|², so on a
    * web-scale corpus this operator degrades quadratically while
    * d2's minhash-LSH (whose bucket sizes are collision-bounded)
    * stays linear and is the documented serving path. Rather than
    * letting a naive caller discover that as an executor-melting job,
    * the operator checks block populations up front (one aggregate
    * over the already-cached input + a 1-row driver read) and FAILS
    * LOUDLY above `maxBandPopulation`, naming the oversized block and
    * the escape hatches (raise the cap deliberately, or use
    * [[minhashLsh]]/[[dupClusters]]). The precheck is DELIBERATELY
    * eager at operator-construction time: the whole point is to fail
    * before the quadratic join can be launched (or even planned into
    * a larger job), and the cost — one aggregate that also populates
    * the cache both join sides read — is paid by plan-only consumers
    * too (PlanLintSpec lints d4 at the smallest SF), a trade the
    * fail-fast contract makes on purpose.
    */
  def ngramJaccard(docs: DataFrame, maxLenDiff: Int = 3,
      maxBandPopulation: Long = 100000): DataFrame = {
    val bandWidth = maxLenDiff + 1
    // cached: both sides of the blocked self-join read it
    val t = docs
      .withColumn("shingles", array_distinct(wordNgrams(tokens(lower(col("text"))), 2)))
      .withColumn("band", floor(col("n_chars") / bandWidth))
      .select("doc_id", "lang", "n_chars", "band", "shingles")
      .transform(graft.Artifacts.pin)
    val oversized = t.groupBy("lang", "band")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBandPopulation)
      .limit(1).collect()
    require(oversized.isEmpty, {
      val r = oversized.head
      s"ngramJaccard: (lang=${r.get(0)}, band=${r.get(1)}) holds ${r.getLong(2)} " +
        s"docs > maxBandPopulation=$maxBandPopulation; candidate pairs grow as " +
        "the square of the block population — use minhashLsh/dupClusters for " +
        "corpora this size, or raise maxBandPopulation deliberately"
    })
    val probes = t.withColumn("jband",
      explode(array(col("band") - 1, col("band"), col("band") + 1)))
    probes.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.jband") === col("b.band") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= maxLenDiff &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        // fenced: a downstream threshold filter (jaccardClusters) must
        // test the ONCE-computed value on surviving pairs, not ride
        // into the join condition ahead of the cheap conjuncts — see
        // [[graft.functions.OptimizationFence]] (measured 3× on d6)
        graft.functions.OptimizationFence.fence(round(
          size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
          size(array_union(col("a.shingles"), col("b.shingles"))), 6)).as("jaccard"))
  }

  /** ASYMMETRIC CONTAINMENT: ordered pairs (a, b) where most of doc
    * a's 5-gram set appears inside doc b — the quote/subset detector
    * symmetric Jaccard (d4) structurally misses: a short doc quoted
    * verbatim inside a long one has tiny Jaccard (union is the long
    * doc) but containment ≈ 1. The length-band blocking of the d4
    * family is exactly WRONG here (containment targets
    * length-mismatched pairs), so candidates come from SHARED RARE
    * 5-GRAMS instead: a gram-keyed equi-join (d8's shape) over grams
    * with 2 ≤ df ≤ `maxDf` — a 5-token span essentially never
    * collides organically (d15's argument), the df floor drops
    * pair-less grams, and the df cap is the boilerplate guard
    * (corpus-hot spans are t15's business, and without the cap one
    * hot gram contributes df² candidate pairs). Exact containment
    * |g(a) ∩ g(b)| / |g(a)| verifies each candidate; docs with < 5
    * tokens have no 5-grams and drop out (the wordNgrams convention).
    */
  def containment(docs: DataFrame, tau: Double = 0.5,
      maxDf: Int = 50): DataFrame = {
    val t = docs
      .withColumn("grams",
        array_distinct(wordNgrams(tokens(lower(col("text"))), 5)))
      .select("doc_id", "grams")
      .filter(size(col("grams")) > 0)
      .transform(graft.Artifacts.pin)
    val ex = t.select(col("doc_id"), explode(col("grams")).as("gram"))
    val kept = ex.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gram")
    val owners = ex.join(kept, Seq("gram"))
    val cand = owners.as("x").join(owners.as("y"), Seq("gram"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
      .withColumn("containment", graft.functions.OptimizationFence.fence(
        round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(col("ga")), 6)))
      .filter(col("containment") >= tau)
      .select("doc_a", "doc_b", "containment")
  }

  /** FUZZY NAME MATCHING at the VALUE-DICTIONARY grain — the pairing
    * stage of entity resolution (near-identical product/vendor/entity
    * names that exact grouping treats as distinct). The decisive scale
    * move: collapse the fact table to its distinct-name dictionary
    * FIRST (one fact-sized aggregate carrying the per-name row count),
    * then do all pairing on the dictionary. Name dictionaries are
    * vocabulary-bounded — they grow with the entity domain, not the
    * corpus — so at 100 TB the pairwise stage runs on thousands of
    * rows however many billions of facts fed it; a row-grain fuzzy
    * join would be Σ df(token)² in FACT rows and is exactly the
    * blowup this shape avoids.
    *
    * Candidates come from TWO blocking channels, unioned before the
    * exact Levenshtein ≤ `maxDist` verify: (1) a shared-token
    * equi-join on the dictionary — two MULTI-token names within edit
    * distance almost always still share one full unedited token; and
    * (2) for SINGLE-token names, where one in-word edit leaves no
    * shared full token ('widget'/'widgit'), a character-3-gram
    * equi-join — an edit destroys at most 3·maxDist of a name's
    * length−2 trigrams, so single-token pairs ≥ 9 chars within
    * distance 2 are guaranteed a shared blocking trigram (shorter
    * ones almost always share one too; sub-3-char names are skipped,
    * having no trigrams). Both channels stay dictionary-sized.
    * For unbounded dictionaries (user-generated strings) add
    * [[containment]]'s df cap on the blocking key; with an
    * entity-domain dictionary it is unnecessary.
    *
    * Output: one row per matched unordered pair (`name_a` < `name_b`)
    * with the edit distance and each side's fact-row count — the
    * "how many rows would a merge re-label" impact a curator reads.
    */
  def fuzzyNames(parts: DataFrame, maxDist: Int = 2): DataFrame = {
    val names = parts.groupBy("p_name").agg(count(lit(1)).as("n_parts"))
    val tok = names.select(col("p_name"), explode(split(col("p_name"), " ")).as("w"))
    val tokCand = tok.as("a")
      .join(tok.as("b"),
        col("a.w") === col("b.w") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
    val single = names
      .filter(!col("p_name").contains(" ") && length(col("p_name")) >= 3)
    val gram = single.select(col("p_name"), explode(expr(
      "transform(sequence(1, length(p_name) - 2), i -> substr(p_name, i, 3))")).as("g"))
    val gramCand = gram.as("a")
      .join(gram.as("b"),
        col("a.g") === col("b.g") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
    val cand = tokCand.union(gramCand)
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
    cand
      .join(broadcast(names.select(col("p_name").as("name_a"),
        col("n_parts").as("n_parts_a"))), Seq("name_a"))
      .join(broadcast(names.select(col("p_name").as("name_b"),
        col("n_parts").as("n_parts_b"))), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_parts_a"), col("n_parts_b"))
  }

  /** Incremental NEAR-dup: classify a NEW batch against the ingested
    * corpus without ever re-pairing the corpus with itself. The corpus
    * side is shingled and blocked on the (lang, length-band) key — at
    * 100 TB that shingled/banded table IS the stored index, re-read
    * per batch; only batch×corpus candidates inside a block are
    * verified by exact bigram Jaccard (d4's scale-safe shape, with the
    * batch side carrying the band±1 probes). Each batch doc emits its
    * best corpus match (highest Jaccard, min corpus id tie-break on
    * the 6-dp rounded value) or `new`.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      minJaccard: Double = 0.5, maxLenDiff: Int = 3): DataFrame =
    incrementalNearDupPrepped(
      prepNearDupIndex(corpus, maxLenDiff), batch, minJaccard, maxLenDiff)

  /** The stored corpus side of [[incrementalNearDup]]: shingled and
    * banded ONCE. In production this is a persisted artifact
    * maintained with the corpus; a steady-state ingest (st10/st11)
    * builds it once and classifies every micro-batch against it —
    * re-shingling the corpus per batch is the index-rebuild
    * anti-pattern the split exists to prevent.
    */
  def prepNearDupIndex(corpus: DataFrame, maxLenDiff: Int = 3): DataFrame = {
    val bandWidth = maxLenDiff + 1
    corpus
      .withColumn("shingles",
        array_distinct(wordNgrams(tokens(lower(col("text"))), 2)))
      .withColumn("band", floor(col("n_chars") / bandWidth))
      .select("doc_id", "lang", "n_chars", "band", "shingles")
  }

  /** [[incrementalNearDup]] against a pre-built [[prepNearDupIndex]]. */
  def incrementalNearDupPrepped(index: DataFrame, batch: DataFrame,
      minJaccard: Double = 0.5, maxLenDiff: Int = 3): DataFrame = {
    val bandWidth = maxLenDiff + 1
    def prep(df: DataFrame) = df
      .withColumn("shingles",
        array_distinct(wordNgrams(tokens(lower(col("text"))), 2)))
      .withColumn("band", floor(col("n_chars") / bandWidth))
      .select("doc_id", "lang", "n_chars", "band", "shingles")
    val c = index
    val probes = prep(batch).withColumn("jband",
      explode(array(col("band") - 1, col("band"), col("band") + 1)))
    val hits = probes.as("a").join(c.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.jband") === col("b.band") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= maxLenDiff)
      .select(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("corpus_id"),
        // fenced like [[ngramJaccard]]: keep the threshold test out of
        // the join condition (it would run on raw band matches)
        graft.functions.OptimizationFence.fence(round(
          size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
          size(array_union(col("a.shingles"), col("b.shingles"))), 6)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .groupBy("doc_id")
      .agg(max_by(struct(col("corpus_id"), col("jaccard")),
        struct(col("jaccard"), -col("corpus_id"))).as("m"))
      .select(col("doc_id"), col("m.corpus_id").as("match_id"),
        col("m.jaccard").as("match_jaccard"))
    batch.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNull, "new")
          .otherwise("near_dup_of_corpus").as("status"),
        col("match_id"), col("match_jaccard"))
  }

  /** EXACT long-span substring dedup — the "deduplicating training
    * data makes language models better" (Lee et al., ACL 2022)
    * doc-level decision: a doc sharing ANY exact `n`-token span with
    * a LOWER-id doc is a `span_dup` of the lowest such doc; spans
    * this long (default 10 tokens) essentially never collide
    * organically, so sharing one is memorization-grade duplication.
    *
    * Scale shape: NO pairwise comparison anywhere. The exploded
    * per-doc distinct gram stream partitions by gram ONCE; the
    * per-gram minimum owner, the join back to each doc's grams, and
    * the per-doc minimum-owner aggregate all reuse that partitioning
    * (t15's one-gram-exchange trick), then one doc-keyed aggregate
    * lands the verdicts. A corpus-hot span (license boilerplate)
    * costs one row per carrying doc, never a pair blowup; the doc
    * decision is `min` all the way down, so it is associative,
    * partial-aggregable, and bit-identical in the oracle.
    */
  def substringDedup(docs: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 2, "substringDedup needs n >= 2 (sentinel no-collision)")
    // a gram-less (short) doc must still emit its verdict row, but a
    // NULL gram from explode_outer would hash every short doc into ONE
    // partition of the gram repartition (single-task pileup at scale).
    // Instead each short doc carries a PER-DOC sentinel gram: it
    // STARTS with a space, which no real gram can (grams are
    // nonempty whitespace-split tokens joined by single spaces), it
    // spreads uniformly, and its min owner is the doc itself — which
    // the `__own < doc_id` verdict ignores, so the doc comes out
    // `kept` with no special-casing downstream.
    val grams = docs
      .select(col("doc_id"),
        explode_outer(array_distinct(
          wordNgrams(tokens(lower(col("text"))), n))).as("__g"))
      .select(col("doc_id"),
        coalesce(col("__g"),
          concat(lit(" "), col("doc_id").cast("string"))).as("gram"))
      .repartition(col("gram"))
    val owner = grams.groupBy("gram").agg(min("doc_id").as("__own"))
    grams.join(owner, Seq("gram"))
      .groupBy("doc_id")
      .agg(min(when(col("__own") < col("doc_id"), col("__own"))).as("dup_of"))
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("kept"))
          .otherwise(lit("span_dup")).as("status"),
        col("dup_of"))
  }

  /** FREQUENCY-CAPPED exact dedup — the CommonCrawl-style "keep at
    * most N copies" policy (full dedup can HURT model quality on
    * naturally-frequent text; capping keeps duplication bounded
    * instead of eliminated). Copies that survive are picked by the
    * family's deterministic LCG stream (not min-id: capping wants an
    * id-unbiased pick so the kept copies aren't skewed toward the
    * oldest crawl), tie-broken on doc_id.
    *
    * Scale shape: one shuffle on the content hash; the per-cluster
    * pick rides [[graft.functions.TopKRowsByScore]], so each map-side
    * buffer holds ≤ maxCopies rows and a pathological million-copy
    * cluster never sorts — the window row_number() form would sort
    * every cluster in full.
    */
  def copyCap(docs: DataFrame, maxCopies: Int = 2): DataFrame = {
    import graft.functions.TopKAggregate.topkRows
    val lcgCol = pmod(
      pmod(col("doc_id"), lit(2147483648L)) * 1103515245L + 12345L,
      lit(2147483648L))
    val tie = concat(lpad(lcgCol.cast("string"), 10, "0"), lit("-"),
      lpad(col("doc_id").cast("string"), 12, "0"))
    docs
      .select(col("doc_id"),
        sha2(lower(trim(col("text"))), 256).as("__key"), tie.as("__tie"))
      .groupBy("__key")
      .agg(count(lit(1)).as("n_copies"),
        topkRows(lit(0.0), col("__tie"), struct(col("doc_id")),
          maxCopies).as("__tk"))
      .select(col("n_copies"), posexplode(col("__tk")).as(Seq("pos", "t")))
      .select(col("t.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("copy_rank"),
        col("n_copies"))
  }

  /** Connected components over candidate-pair edges via alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — each round rewires every
    * edge toward the minimum of its endpoint's neighborhood, so the
    * edge set converges to stars centered at each component's minimum
    * id in O(log²) rounds REGARDLESS of component diameter. (The
    * previous min-label propagation was O(diameter): a 1320-node
    * chain-shaped component at sf0.1 needed 29 rounds; this converges
    * in a handful.) Labels then read directly off the final stars:
    * component_id(u) = min(u, min neighbor).
    *
    * Engineering notes, each load-bearing:
    * - every round's edge set is eagerly localCheckpoint'ed — an
    *   uncheckpointed loop's plan contains the previous round's plan
    *   several times over and grows exponentially;
    * - the checkpointed frame is rebuilt with default stats
    *   ([[org.apache.spark.sql.GraftColumnBridge.freshStats]]):
    *   `localCheckpoint` carries the source plan's size estimate, and
    *   multiplying those through each round's joins grows the
    *   `sizeInBytes` BigInt geometrically until the driver spends
    *   minutes per round in BigInteger math;
    * - the loop's eager jobs run on a scoped session
    *   ([[graft.GraftSession.scoped]]) with AQE off — its
    *   stage-materialization queue has been observed to wait forever
    *   on reused self-join exchanges over stat-less checkpoint frames —
    *   and shuffle partitions sized to the edge set. The caller's
    *   session is untouched, and the returned frame is the caller's:
    *   its final join runs under the caller's settings.
    *
    * This is the engine's one connected-components implementation:
    * it turns pairwise near-dup hits into dedup GROUPS (keep min
    * doc_id per component, drop the rest) and labels g13's co-purchase
    * graph. An edge set of at most 2,000,000 edges skips the rounds:
    * one task solves it exactly by union-find (the same min-id labels).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", srcCol: String = "doc_a",
      dstCol: String = "doc_b", maxIter: Int = 30): DataFrame =
    connectedComponentsLoop(nodes, edges, idCol, srcCol, dstCol, maxIter)

  /** Materialize + truncate lineage + reset carried statistics. */
  private def materialized(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.freshStats(df.localCheckpoint(true))

  /** One star round: for every node u with neighborhood Γ(u) (from the
    * symmetrized edge list) and m(u) = min(Γ(u) ∪ {u}), emit edges
    * (v, m(u)) for the larger neighbors (large star: v > u) or the
    * smaller-or-equal ones (small star: v ≤ u, plus u itself so star
    * centers keep their own minimum). Self-loops drop; `distinct`
    * keeps the edge set from inflating.
    */
  private def starRound(e: DataFrame, large: Boolean): DataFrame = {
    val symE = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = symE.groupBy("src")
      .agg(min("dst").as("__mn"))
      .select(col("src").as("__u"), least(col("src"), col("__mn")).as("__m"))
    val rewired = symE.join(m, col("src") === col("__u"))
      .filter(if (large) col("dst") > col("src") else col("dst") <= col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
    // small star also re-links every center to its own minimum so star
    // centers don't lose their component edge
    val withCenters =
      if (large) rewired
      else rewired.unionAll(m.select(col("__u").as("src"), col("__m").as("dst")))
    withCenters.filter(col("src") =!= col("dst")).distinct()
  }

  /** Single-task exact union-find over small (src, dst) edge rows
    * (both columns share `idType`; duplicate edges are harmless):
    * returns (__id, __comp) for every
    * node that appears in an edge, component = min id by the column
    * type's own ordering (so numeric ids compare numerically, strings
    * lexically — identical semantics to the distributed path).
    */
  private def localUnionFind(spark: org.apache.spark.sql.SparkSession,
      edgeRows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType)
    val out = edgeRows.coalesce(1).mapPartitions { rows =>
      val parent = new java.util.HashMap[Any, Any]()
      def copyOf(v: Any): Any = v match {
        // values extracted from reused UnsafeRow buffers must be copied
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case other => other
      }
      def findRoot(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) {
          parent.put(r, parent.get(parent.get(r)))
          r = parent.get(r)
        }
        r
      }
      rows.foreach { row =>
        val a = copyOf(row.get(0, idType))
        val b = copyOf(row.get(1, idType))
        if (a != null && b != null) {
          parent.putIfAbsent(a, a)
          parent.putIfAbsent(b, b)
          val (ra, rb) = (findRoot(a), findRoot(b))
          if (ra != rb) {
            if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val it = parent.keySet().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = {
          val id = it.next()
          InternalRow.fromSeq(Seq(id, findRoot(id)))
        }
      }
    }
    org.apache.spark.sql.GraftColumnBridge.dataFrameFromInternalRows(
      spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__id", idType),
        org.apache.spark.sql.types.StructField("__comp", idType))),
      out)
  }

  /** [[connectedComponents]]; an edge set of at most
    * `localEdgeThreshold` edges takes the single-task union-find. */
  private[graft] def connectedComponentsLoop(nodes: DataFrame,
      edges: DataFrame, idCol: String, srcCol: String, dstCol: String,
      maxIter: Int, localEdgeThreshold: Long = 2000000L): DataFrame = {
    val caller = nodes.sparkSession
    val aqeOff = "spark.sql.adaptive.enabled" -> "false"
    val raw = GraftSession.rebind(GraftSession.scoped(caller, aqeOff), edges)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    // both paths read these rows: a later job over the same RDD skips
    // the shuffle stages the count already ran
    val rawRows = raw.queryExecution.toRdd
    // Adaptive: an edge set that comfortably fits ONE task is solved
    // exactly by a single-pass union-find (one job, no rounds) — at
    // dedup-pipeline scales the edge list is a tiny fraction of the
    // corpus, so this is the common case; the star rounds below are
    // the arbitrarily-large fallback. The raw count bounds the
    // distinct one, and union-find ignores duplicate edges, so this
    // path needs no distinct, checkpoint or signature. The payload
    // never touches the driver: coalesce(1) + a partition-local
    // algorithm.
    if (rawRows.count() <= localEdgeThreshold) {
      val labeled = localUnionFind(raw.sparkSession, rawRows, raw.schema("src").dataType)
      return nodes.select(col(idCol))
        .join(labeled, col(idCol) === col("__id"), "left")
        .select(col(idCol),
          coalesce(col("__comp"), col(idCol)).as("component_id"))
    }
    var e = materialized(org.apache.spark.sql.GraftColumnBridge
      .dataFrameFromInternalRows(raw.sparkSession, raw.schema, rawRows).distinct())
    // fixpoint signature: set equality via (count, order-independent
    // hash-XOR). bit_xor, not sum: summing 64-bit hashes overflows (an
    // error under ANSI mode), xor is overflow-free and commutative.
    val sig = (d: DataFrame) => d.agg(
      count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
    var eSig = sig(e)
    // with AQE off nothing coalesces the loop's shuffles, so size them
    // to the edge set (~100k edges per partition, floor 8) instead of
    // running every tiny stage at the session's fact-scale setting
    val loopParts = math.max(8L, math.min(
      caller.conf.get("spark.sql.shuffle.partitions").toLong,
      eSig.getLong(0) / 100000L + 1L))
    e = GraftSession.rebind(GraftSession.scoped(caller, aqeOff,
      "spark.sql.shuffle.partitions" -> loopParts.toString), e)
    var iter = 0
    var converged = eSig.getLong(0) == 0L
    while (!converged && iter < maxIter) {
      // materialize BETWEEN the stars too: the small star's plan
      // references the large star's output several times (symmetrize +
      // min-agg + rewire), and Spark recomputes unmaterialized
      // subplans per reference
      val next = materialized(
        starRound(materialized(starRound(e, large = true)), large = false))
      val nextSig = sig(next)
      converged = nextSig == eSig
      e = next
      eSig = nextSig
      iter += 1
    }
    // Star rounds converge in O(log² n); maxIter=30 covers any
    // realistic input. If the cap is ever hit anyway, labeling the
    // non-converged edge set would silently SPLIT components (the
    // round-1 truncation bug class) — fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: star rounds did not converge in $maxIter " +
          s"iterations (edge sig $eSig); raise maxIter")
    // converged edge set = stars around component minima:
    // component_id(u) = min(u, min neighbor); isolated nodes label
    // themselves. Labels stay in the id's own type (a cast-to-long
    // would null out non-numeric ids).
    val symE = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val minNbr = symE.groupBy(col("src").as("__u")).agg(min("dst").as("__mn"))
    nodes.select(col(idCol))
      .join(minNbr, col(idCol) === col("__u"), "left")
      .select(col(idCol),
        least(col(idCol), coalesce(col("__mn"), col(idCol))).as("component_id"))
  }

  /** Near-dup clusters: LSH candidate pairs filtered by estimated
    * Jaccard, grouped into components. The sub-quadratic 100 TB path
    * (candidates only from band buckets). When the corpus carries the
    * truth-aligned blocking metadata (`lang`, `n_chars`), candidates
    * come from [[minhashPairsBlocked]] at the k=32 layout with
    * [[lshBandsFor]]-tuned bands — the measured serving default (the
    * d22 eval moved precision 0.0016 → 0.32 at recall 0.93 on this
    * corpus when the blocking landed); a corpus without the metadata
    * falls back to the unblocked [[minhashPairs]] primitive.
    *
    * BLOCKING CONTRACT (read before pointing this at a new corpus):
    * under the blocked default a pair must share `lang` EXACTLY (a
    * null lang matches nothing — the same plain-equality convention
    * as the exact [[ngramJaccard]] truth; normalize or fill the
    * column first) and sit within `maxLenDiff` chars. The ±3 default
    * is the d22/d25-tuned near-IDENTICAL-document window; corpora
    * where near-dups legitimately differ in length (appended
    * boilerplate, truncation) should widen it — `Int.MaxValue`
    * disables the window while keeping the lang block and band
    * buckets.
    */
  def dupClusters(docs: DataFrame, minEstJaccard: Double = 0.5,
      maxLenDiff: Int = 3): DataFrame = {
    val k = 32
    val pairs =
      (if (Seq("lang", "n_chars").forall(docs.columns.contains))
        minhashPairsBlocked(docs, k, lshBandsFor(minEstJaccard, k), maxLenDiff)
      else minhashPairs(docs))
      .filter(col("est_jaccard") >= minEstJaccard)
    connectedComponents(docs, pairs)
  }

  /** Per-doc candidate summary over a near-dup PAIR frame: how many
    * candidate partners each doc drew (0 for docs in no pair). The
    * d2 serving readout — pairs should come from the tuned
    * [[minhashPairsBlocked]] layout (or a session-cached copy of it);
    * feeding the unblocked [[minhashPairs]] set here reports the
    * operating point the d22 eval measured at precision 0.0016.
    */
  def minhashCandidateSummary(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cand = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    // the count itself is metadata-independent — carry whichever of
    // the blocking columns the corpus actually has, so the summary
    // also serves the unblocked primitive on a bare (doc_id, text)
    // corpus instead of failing analysis on a missing column
    val meta = Seq("lang", "n_chars").filter(docs.columns.contains)
    docs.select(("doc_id" +: meta).map(col): _*)
      .join(cand, Seq("doc_id"), "left")
      .select((col("doc_id") +: meta.map(col)) :+
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"): _*)
  }

  /** [[minhashLsh]]'s per-doc summary re-based on the BLOCKED tuned
    * layout: [[minhashPairsBlocked]] candidates counted per doc — the
    * serving-path twin of the d22/d25 eval entries.
    */
  def minhashLshBlocked(docs: DataFrame, k: Int = 32, bands: Int = 32,
      maxLenDiff: Int = 3): DataFrame =
    minhashCandidateSummary(docs, minhashPairsBlocked(docs, k, bands, maxLenDiff))

  /** Similarity clusters over EXACT blocked n-gram Jaccard edges —
    * engine-independent (no xxhash), so a DuckDB recursive CTE
    * reproduces the components bit-for-bit and the driver check is an
    * exact hash match. Same component algebra as [[dupClusters]];
    * candidate generation is the (lang, length-band) blocking of
    * [[ngramJaccard]] rather than minhash bands.
    */
  def jaccardClusters(docs: DataFrame, minJaccard: Double = 0.5,
      maxLenDiff: Int = 3): DataFrame = {
    val pairs = ngramJaccard(docs, maxLenDiff).filter(col("jaccard") >= minJaccard)
    connectedComponents(docs, pairs)
  }

  /** Embedding cosine near-dup pairs, blocked on LCG-hyperplane LSH
    * buckets (`nTables` independent tables of `nPlanes` sign bits):
    * candidates share a (table, bucket) key; the label equality and the
    * cosine threshold are verify-time FILTERS, not blocking keys. The
    * shuffle key has nTables × 2^nPlanes cardinality — the round-1
    * label-only blocking collapsed the entire table onto a handful of
    * keys, an all-pairs quadratic block at 100 TB.
    *
    * The hyperplanes are integer-LCG arithmetic + power-of-two division
    * ([[graft.functions.NativeTextExpressions.lcgPlaneComponent]]) —
    * exact in both engines, so the DuckDB oracle rebuilds identical
    * buckets and the driver check stays an exact hash match.
    *
    * RECALL CONTRACT: with LSH blocking the result is approximate — a
    * true near-dup pair that hashes apart in all `nTables` tables is
    * missed (probability (1-(1-θ/π)^nPlanes)^nTables for angle θ;
    * ~1e-3 at the defaults for cosine ≥ 0.25 pairs). Pass
    * `nPlanes = 0` to restore the exhaustive label-blocked contract
    * (complete within each label, quadratic per label — small inputs
    * or high-cardinality labels only; never the 100 TB path).
    */
  /** SEMANTIC DECONTAMINATION: corpus documents whose embedding is
    * within cosine `threshold` of ANY eval/benchmark vector — the
    * embedding-space twin of [[decontaminate]]'s exact-gram screen
    * (paraphrased leakage shares no 10-gram but lands nearby in
    * embedding space). Same LCG-hyperplane blocking as
    * [[embeddingNearDup]] but ASYMMETRIC (corpus × eval, no label
    * restriction — leakage crosses tenants) and the eval side is
    * benchmark-sized, so the bucket join probes a small set; the
    * pair-dedup exchange carries bare (ids, cos). Emits the
    * contamination REPORT at pair grain: (corpus_id, eval_id,
    * cosine) — the drop list is `SELECT DISTINCT corpus_id`.
    * Recall contract = embeddingNearDup's (LSH-approximate;
    * exhaustive variant via nPlanes = 0).
    */
  /** Shared LSH-cosine core for [[semanticDecontaminate]] and
    * [[embeddingNearDup]]: (vec_id, v, nrm [, extras]) prep, the
    * LCG-plane bucket explosion, and the FENCED cosine (computed
    * before pair dedup so the dedup shuffle carries (id, id, cos),
    * never two embedding arrays — the payload-diet discipline). The
    * join topology and pair filters stay with each operator: they ARE
    * the semantic difference (symmetric same-label self-join vs
    * asymmetric corpus × eval).
    */
  private def prepVec(df: DataFrame, extras: Seq[String] = Nil): DataFrame =
    df.select((Seq(col("vec_id")) ++ extras.map(col) :+
      asDouble(col("embedding")).as("v")): _*)
      .withColumn("nrm", norm(col("v")))

  private def lshBucketed(prepped: DataFrame, nPlanes: Int, nTables: Int,
      extras: Seq[String] = Nil): DataFrame =
    prepped
      .withColumn("buckets",
        graft.functions.NativeTextExpressions.lcgBuckets(col("v"), nPlanes, nTables))
      .select((Seq(col("vec_id")) ++ extras.map(col) ++
        Seq(col("v"), col("nrm"),
          posexplode(col("buckets")).as(Seq("tbl", "bucket")))): _*)

  private def fencedCos(a: String, b: String): org.apache.spark.sql.Column =
    graft.functions.OptimizationFence.fence(
      dot(col(s"$a.v"), col(s"$b.v")) / (col(s"$a.nrm") * col(s"$b.nrm")))

  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double = 0.25, nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    val c = prepVec(corpus)
    val q = prepVec(evalSet)
    if (nPlanes <= 0) {
      // exhaustive: benchmark-sized eval side → a legitimate
      // broadcast nested loop; never the 100 TB path
      return c.as("a").join(q.as("b"), lit(true))
        .select(col("a.vec_id").as("corpus_id"), col("b.vec_id").as("eval_id"),
          fencedCos("a", "b").as("cos"))
        .filter(col("cos") >= threshold)
        .select(col("corpus_id"), col("eval_id"), round(col("cos"), 6).as("cosine"))
    }
    lshBucketed(c, nPlanes, nTables).as("a")
      .join(lshBucketed(q, nPlanes, nTables).as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("corpus_id"), col("b.vec_id").as("eval_id"),
        fencedCos("a", "b").as("cos"))
      .dropDuplicates("corpus_id", "eval_id")
      .filter(col("cos") >= threshold)
      .select(col("corpus_id"), col("eval_id"), round(col("cos"), 6).as("cosine"))
  }

  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.25,
      nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    val e = prepVec(emb, extras = Seq("label"))
    if (nPlanes <= 0) {
      // exhaustive: every same-label pair compared exactly once
      return e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          fencedCos("a", "b").as("cos"))
        .filter(col("cos") >= threshold)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
    }
    val buckets =
      lshBucketed(graft.Artifacts.pin(e), nPlanes, nTables, extras = Seq("label"))
    buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.label") === col("b.label"))
      // cosine BEFORE the pair dedup (see the shared-core note): the
      // dedup shuffle carries (id, id, cos), never two arrays; fenced
      // so the threshold filter can't inline + double-evaluate it
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        fencedCos("a", "b").as("cos"))
      // a pair can collide in several tables — count it once
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }
}
