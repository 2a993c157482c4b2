package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus with planted duplicates:
    * 0/1 exact dups; 2 a near-dup of 0 (one word changed); 3 unrelated.
    */
  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home", "en", "s0", 60L),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home", "en", "s1", 60L),
    (2L, "the quick brown fox jumps over the lazy cat and runs far away home", "en", "s2", 60L),
    (3L, "completely different text about spark query engines and data pipelines", "en", "s3", 60L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exactDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("group_size"), r.getAs[Boolean]("is_dup"))).toMap
    assert(out(0L) == (0L, 2L, false))
    assert(out(1L) == (0L, 2L, true))
    assert(out(2L) == (2L, 1L, false))
    assert(out(3L) == (3L, 1L, false))
  }

  test("minhash LSH surfaces exact and near duplicates as candidate pairs") {
    val pairs = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("est_jaccard")).toMap
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing: $pairs")
    assert(pairs((0L, 1L)) == 1.0)
    // near-dup (1 word of 14 changed → most bigram shingles shared)
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    // unrelated doc shares no band with anything
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L), s"false candidate with doc 3: $pairs")
  }


  test("LSH banding tuner: S-curve thresholds, detection rates on controlled-overlap pairs") {
    import graft.operators.Dedup
    // (1/b)^(1/r) closest to the target among divisors of k=16
    assert(Dedup.lshBandsFor(0.9) == 2)   // threshold 0.917
    assert(Dedup.lshBandsFor(0.7) == 4)   // threshold 0.707
    assert(Dedup.lshBandsFor(0.5) == 8)   // threshold 0.354
    assert(Dedup.lshBandsFor(0.05) == 16) // threshold 0.0625
    // controlled-overlap corpus: pair i shares exactly c leading
    // bigram shingles of S=20 per doc -> J = c/(2S-c); 30 pairs at
    // J~0.90 (c=19) and 30 at J~0.05 (c=2), disjoint vocabularies
    def doc(pair: Int, side: Int, c: Int): String = {
      val shared = (0 to c).map(t => s"p${pair}w$t")
      val unique = (0 until (20 - c)).map(t => s"p${pair}s${side}u$t")
      (shared ++ unique).mkString(" ")
    }
    val rows =
      (0 until 30).flatMap(i => Seq(
        (2000L + 2 * i, doc(i, 0, 19)), (2001L + 2 * i, doc(i, 1, 19)))) ++
      (0 until 30).flatMap(i => Seq(
        (3000L + 2 * i, doc(100 + i, 0, 2)), (3001L + 2 * i, doc(100 + i, 1, 2))))
    val corpus = rows.toDF("doc_id", "text")
    val bands = Dedup.lshBandsFor(0.5)
    val found = Dedup.minhashPairs(corpus, k = 16, bands = bands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hiHit = (0 until 30).count(i => found((2000L + 2 * i, 2001L + 2 * i)))
    val loHit = (0 until 30).count(i => found((3000L + 2 * i, 3001L + 2 * i)))
    // with b=8, r=2: P(detect) ~ 1-(1-J^2)^8 -> ~1.0 at J=.9, ~.02 at J=.05
    assert(hiHit >= 27, s"high-J pairs detected: $hiHit/30")
    assert(loHit <= 6, s"low-J pairs should mostly be skipped: $loHit/30")
  }

  test("simhash marks near-dups within hamming radius") {
    val out = Dedup.simhashDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_near")).toMap
    assert(out(0L) >= 1L, s"doc 0 should have near dup: $out")  // exact dup always hamming 0
    assert(out(1L) >= 1L)
    assert(out(3L) == 0L, s"doc 3 is unrelated: $out")
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, blocked pairs only") {
    val out = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 2L)) > 0.6 && out((0L, 2L)) < 1.0)
    assert(out((0L, 3L)) < 0.1)
  }

  test("ngram jaccard guard: an oversized (lang, band) block fails loudly, not quadratically") {
    import spark.implicits._
    // five same-language docs of identical length land in ONE band
    val flood = (0 until 5).map(i =>
      (100L + i, s"flood doc number $i with same length", "en", "s0", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(flood, maxBandPopulation = 3).collect()
    }
    assert(e.getMessage.contains("maxBandPopulation"), e.getMessage)
    assert(e.getMessage.contains("minhashLsh"), e.getMessage)
    // the same corpus passes when the cap is raised deliberately
    assert(Dedup.ngramJaccard(flood, maxBandPopulation = 5).collect()
      .nonEmpty)
  }

  test("containment catches the quote Jaccard misses; direction and threshold are honored") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = ("lots of framing words before the quoted passage " + quote +
      " and a very large amount of unrelated trailing material about engines " +
      "pipelines shuffles partitions executors and storage formats at scale")
    val d = Seq(
      (10L, quote, "en", "s0", quote.length.toLong),
      (11L, long, "en", "s1", long.length.toLong),
      (12L, "entirely disjoint content with no shared five gram spans here at all plus extra padding words", "en", "s2", 90L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.containment(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    // every 5-gram of the quote appears in the long doc → 1.0
    assert(out((10L, 11L)) == 1.0, out.toString)
    // the reverse direction is far below the threshold and absent
    assert(!out.contains((11L, 10L)))
    assert(!out.keys.exists(k => k._1 == 12L || k._2 == 12L))
    // and symmetric Jaccard on the same pair is tiny — the case d4
    // structurally misses even before its length-band blocking
    // (which would have excluded this length-mismatched pair anyway)
    val quoteGrams = quote.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val longGrams = long.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val jac = quoteGrams.intersect(longGrams).size.toDouble /
      quoteGrams.union(longGrams).size
    assert(jac < 0.3, f"fixture not length-mismatched enough: $jac%.2f")
  }

  test("substring dedup: an exact 10-token span marks span_dup of the lowest owner") {
    val planted = docs.unionByName(Seq(
      // grafts tokens 1-10 of doc 0 into fresh surrounding text
      (9001L, "totally novel preamble the quick brown fox jumps over the lazy dog and some closing words", "en", "s9", 60L),
      // same length scale, zero 10-token overlap
      (9002L, "nothing here matches any other document in this tiny corpus at all honestly speaking", "en", "s9", 60L),
      // sub-10-token doc: no grams at all → kept
      (9003L, "too short to carry any span", "en", "s9", 27L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Dedup.substringDedup(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"),
          Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(out(0L) == (("kept", None)))
    // doc 1 is byte-identical to 0: every span's owner is 0
    assert(out(1L) == (("span_dup", Some(0L))))
    // doc 2 changed one token INSIDE every 10-gram of its 14-token
    // text, so it shares no span with anyone
    assert(out(2L) == (("kept", None)))
    assert(out(3L) == (("kept", None)))
    assert(out(9001L) == (("span_dup", Some(0L))))
    assert(out(9002L) == (("kept", None)))
    assert(out(9003L) == (("kept", None)))
  }

  test("substring dedup agrees with a brute-force span walk on random docs") {
    val rnd = new scala.util.Random(7)
    // 2-symbol vocab → 2^10 possible spans, ~1200 drawn → real overlap
    val raw = (0L until 80L).map { i =>
      val n = 5 + rnd.nextInt(20) // some below 10 tokens → gram-less
      (i, Seq.fill(n)(if (rnd.nextBoolean()) "a" else "b").mkString(" "),
        "en", "s0", n.toLong)
    }
    val out = Dedup.substringDedup(
        raw.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("dup_of")).map(Long.unbox)).toMap
    def gramsOf(t: String): Set[String] =
      t.toLowerCase.trim.split("\\s+").toSeq.sliding(10)
        .filter(_.size == 10).map(_.mkString(" ")).toSet
    val gsets = raw.map { case (id, t, _, _, _) => id -> gramsOf(t) }.toMap
    val firstOwner = gsets.toSeq
      .flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupMapReduce(_._1)(_._2)(math.min)
    assert(out.size == raw.size)
    raw.foreach { case (id, _, _, _, _) =>
      val expected = gsets(id).map(firstOwner).filter(_ < id)
        .minOption
      assert(out(id) == expected, s"doc $id: got ${out(id)} want $expected")
    }
  }

  test("copy cap keeps at most N copies per cluster, LCG-deterministic pick") {
    // a 5-copy cluster on top of the 2-copy (0,1) cluster
    val five = Seq(100L, 101L, 102L, 103L, 104L).map(id =>
      (id, "five copies of exactly this sentence live in the corpus", "en", s"s$id", 54L))
    val planted = docs.unionByName(five.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Dedup.copyCap(planted, maxCopies = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("copy_rank"), r.getAs[Long]("n_copies"))).toMap
    // singletons kept at rank 1
    assert(out(2L) == ((1L, 1L))); assert(out(3L) == ((1L, 1L)))
    // the 2-copy cluster keeps both
    assert(out.contains(0L) && out.contains(1L))
    assert(Seq(out(0L), out(1L)).map(_._1).sorted == Seq(1L, 2L))
    // the 5-copy cluster keeps exactly the 2 smallest-LCG members
    val keptOfFive = five.map(_._1).filter(out.contains)
    assert(keptOfFive.size == 2, s"expected 2 of 5 kept: $out")
    def lcg(id: Long) = ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L
    val expected = five.map(_._1).sortBy(id => (lcg(id), id)).take(2).toSet
    assert(keptOfFive.toSet == expected,
      s"LCG pick mismatch: kept=$keptOfFive expected=$expected")
    keptOfFive.foreach(id => assert(out(id)._2 == 5L))
  }

  test("copy cap equals a brute-force capped pick on randomized clusters") {
    val rnd = new scala.util.Random(11)
    val texts = (0 until 12).map(i => s"cluster text number $i with some shared words")
    val raw = (0L until 150L).map(i =>
      (i, texts(rnd.nextInt(texts.size)), "en", "s0", 40L))
    val out = Dedup.copyCap(
        raw.toDF("doc_id", "text", "lang", "source", "n_chars"), maxCopies = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("copy_rank"), r.getAs[Long]("n_copies"))).toMap
    def lcg(id: Long) = ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L
    raw.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1)
      val expected = ids.sortBy(id => (lcg(id), id)).take(3)
      expected.zipWithIndex.foreach { case (id, i) =>
        assert(out.get(id).contains((i + 1L, ids.size.toLong)),
          s"doc $id should be kept at rank ${i + 1} of ${ids.size}")
      }
      ids.diff(expected).foreach(id =>
        assert(!out.contains(id), s"doc $id beyond the cap must drop"))
    }
  }

  test("novelty: a doc of entirely re-pasted grams scores 0, fresh text 1e6") {
    import graft.operators.TextQueries
    // 9001 re-pastes doc 0's text verbatim (0 owns every gram first);
    // 9002 is all-fresh text of the same shape
    val planted = docs.unionByName(Seq(
      (9001L, "the quick brown fox jumps over the lazy dog and runs far away home", "en", "s9", 60L),
      (9002L, "zebras gallop beneath violet skies while distant thunder rolls across empty plains", "en", "s9", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = TextQueries.noveltyScore(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), Option(r.getAs[java.lang.Long]("novelty_ppm")))).toMap
    assert(out(0L)._2 == Some(1000000L), s"doc 0 owns its grams first: $out")
    assert(out(9001L)._2 == Some(0L), s"re-paste must score 0: $out")
    assert(out(9002L)._2 == Some(1000000L), s"fresh text must score 1e6: $out")
    assert(out(0L)._1 > 0)
  }

  test("novelty equals a brute-force first-owner count on random docs") {
    import graft.operators.TextQueries
    val rnd = new scala.util.Random(13)
    val raw = (0L until 60L).map { i =>
      val n = 3 + rnd.nextInt(12) // some below 5 tokens → gram-less
      (i, Seq.fill(n)(if (rnd.nextInt(3) == 0) "x" else "y").mkString(" "),
        "en", "s0", n.toLong)
    }
    val out = TextQueries.noveltyScore(
        raw.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))).toMap
    def gramsOf(t: String): Set[String] =
      t.split(" ").toSeq.sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSet
    val gsets = raw.map { case (id, t, _, _, _) => id -> gramsOf(t) }.toMap
    val firstOwner = gsets.toSeq
      .flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupMapReduce(_._1)(_._2)(math.min)
    raw.foreach { case (id, _, _, _, _) =>
      val gs = gsets(id)
      val expected = (gs.size.toLong, gs.count(firstOwner(_) == id).toLong)
      assert(out(id) == expected, s"doc $id: got ${out(id)} want $expected")
    }
  }

  test("decontamination: per-batch prepped probes union to the single-shot gate") {
    // st34's contract: per-doc contamination depends only on the
    // doc's own grams and the static eval index, so micro-batches
    // union to exactly the batch answer
    val eval = Seq((50L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon shared here", "en", "s1", 43L),
      (2L, "beta gamma delta epsilon zeta also shared", "en", "s2", 42L),
      (3L, "nothing in common with the held out suite", "en", "s3", 42L),
      (4L, "alpha beta gamma delta epsilon zeta full overlap", "en", "s4", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val idx = Dedup.evalGramIndex(eval)
    val batched = Dedup.decontaminatePrepped(corpus.filter(col("doc_id") <= 2), idx)
      .unionByName(Dedup.decontaminatePrepped(corpus.filter(col("doc_id") > 2), idx))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(batched) === canon(Dedup.decontaminate(corpus, eval)))
    // and the planted overlaps are actually flagged (1, 2, 4 — not 3)
    assert(batched.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 4L))
  }

  test("connected components merge chained near-dup pairs into one cluster") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    // chain 0-1, 1-2 (one component) + 3-4
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(0L) == 0L && comp(1L) == 0L && comp(2L) == 0L)
    assert(comp(3L) == 3L && comp(4L) == 3L)
  }

  test("dup clusters: planted exact+near dups collapse to one component") {
    val comp = Dedup.dupClusters(docs, minEstJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(0L) == 0L && comp(1L) == 0L, comp.toString) // exact dups
    assert(comp(3L) == 3L) // unrelated stays alone
  }

  test("dup clusters blocking contract: the length window splits long-gap near-dups unless widened") {
    // identical text, but doc 11 reports a 10-char-larger n_chars
    // (appended boilerplate scenario): the ±3 default window blocks
    // the pair out — the documented near-IDENTICAL semantics — and
    // maxLenDiff=Int.MaxValue restores it without losing the lang
    // block (doc 12, same text in another lang, stays alone in both)
    val same = "the quick brown fox jumps over the lazy dog and runs far away home"
    val gap = Seq(
      (10L, same, "en", "s0", 60L),
      (11L, same, "en", "s1", 70L),
      (12L, same, "de", "s2", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val strict = Dedup.dupClusters(gap, minEstJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strict === Map(10L -> 10L, 11L -> 11L, 12L -> 12L))
    val wide = Dedup.dupClusters(gap, minEstJaccard = 0.5,
      maxLenDiff = Int.MaxValue).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide === Map(10L -> 10L, 11L -> 10L, 12L -> 12L))
  }

  test("minhashLshBlocked summary counts each doc's blocked candidates (0 for blocked-out docs)") {
    val out = Dedup.minhashLshBlocked(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_candidates")).toMap
    // 0/1 exact dups and 2 the near-dup: all same lang + n_chars, so
    // each draws the other two as candidates; 3 is unrelated text
    // (no shared band bucket) and reports 0
    assert(out(0L) == 2L && out(1L) == 2L && out(2L) == 2L, out.toString)
    assert(out(3L) == 0L)
    // and the summary works on a bare corpus (no blocking metadata):
    // counts over the unblocked primitive's pairs
    val bare = docs.select("doc_id", "text")
    val bareOut = Dedup.minhashCandidateSummary(bare, Dedup.minhashPairs(bare))
      .columns.toSeq
    assert(bareOut === Seq("doc_id", "n_candidates"))
  }

  test("leak-free split: every near-dup component lands on ONE side; docs all covered") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("leaksplit").toString
    // two heavily-overlapping docs (a near-dup pair) + two unrelated
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    Seq(
      (0L, near1, "en", "web", near1.length.toLong),
      (1L, near2, "en", "web", near2.length.toLong),
      (2L, "completely different text about database engines and storage", "en", "web", 61L),
      (3L, "another unrelated snippet mentioning sailing ships and tides", "en", "web", 61L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d19_leakfree_split")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id"),
        r.getAs[String]("split")))
    assert(out.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L, 3L)) // total coverage
    // the planted pair shares a component AND therefore a side — the
    // guarantee a content-hash split cannot give
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(0L)._2 == byId(1L)._2)
    assert(byId(0L)._3 == byId(1L)._3)
    // invariant on the full output: one split value per component
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.length == 1))
  }

  test("source overlap: distinct shared 5-grams per source pair") {
    import graft.operators.DedupQueries
    val corpus = Seq(
      (1L, "the quick brown fox jumps over it", "en", "s1", 0L),
      (2L, "the quick brown fox jumps again", "en", "s2", 0L),
      // same shared gram AGAIN within s1 — distinct keeps the count at 1
      (4L, "the quick brown fox jumps onward", "en", "s1", 0L),
      (3L, "totally different words here now", "en", "s3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupQueries.sourceOverlap(corpus).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_shared_grams")).toMap
    assert(out == Map(("s1", "s2") -> 1L)) // "the quick brown fox jumps"
  }

  test("canonical docs: each component keeps its highest-quality member") {
    import graft.operators.DedupQueries
    val rows = DedupQueries.canonicalDocs(docs, minJaccard = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component_id"), r.getAs[Long]("quality_ppm"),
          r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep"))).toMap
    // 0/1 exact dups and 2 near-dup of 0 → one component {0,1,2}; 3 alone
    assert(Set(0L, 1L, 2L).map(rows(_)._1).size == 1)
    assert(rows(3L)._1 != rows(0L)._1)
    // the canonical member has max quality (ties → min doc_id), keep ⇔ canonical
    val comp = Set(0L, 1L, 2L)
    val bestQ = comp.map(rows(_)._2).max
    val expectedCanon = comp.filter(rows(_)._2 == bestQ).min
    comp.foreach { id =>
      assert(rows(id)._3 == expectedCanon)
      assert(rows(id)._4 == (id == expectedCanon))
    }
    assert(rows(3L)._4 && rows(3L)._3 == 3L) // singleton keeps itself
  }

  test("connected components match a union-find oracle on random graphs") {
    // the r1 bug class: propagation truncated on high-diameter
    // components *silently* — so stress exactly that: long chains,
    // stars, cycles, and random sparse graphs, seeded/deterministic
    val rnd = new scala.util.Random(42)
    val cases: Seq[(Seq[Long], Seq[(Long, Long)])] = Seq(
      // 200-node chain with shuffled ids (worst case for propagation)
      {
        val perm = rnd.shuffle((0L until 200L).toVector)
        (perm, perm.sliding(2).map(p => (p(0), p(1))).toSeq)
      },
      // two cycles + isolated nodes
      ((0L until 60L).toSeq,
        (0L until 25L).map(i => (i, (i + 1) % 25)) ++
          (30L until 50L).map(i => (i, if (i == 49L) 30L else i + 1))),
      // random sparse graph
      ((0L until 300L).toSeq,
        Seq.fill(150)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
          .filter(p => p._1 != p._2))
    )
    cases.zipWithIndex.foreach { case ((ids, edges), ci) =>
      // in-test union-find oracle
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val byRoot = ids.groupBy(find)
      val truth = ids.map(i => i -> byRoot(find(i)).min).toMap
      // BOTH execution paths must agree with the oracle: the adaptive
      // single-task union-find (default for small edge sets) and the
      // distributed star rounds (forced via a zero threshold)
      Seq(2000000L, 0L).foreach { threshold =>
        val got = Dedup.connectedComponentsLoop(
            ids.toDF("doc_id"), edges.toDF("doc_a", "doc_b"),
            "doc_id", "doc_a", "doc_b", maxIter = 30, threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == truth,
          s"case $ci (threshold=$threshold): CC labels diverge from union-find")
      }
    }
  }

  test("connected components' star rounds fail loudly when maxIter is too small") {
    // a 200-node chain with shuffled ids cannot converge in one round;
    // labeling the unconverged edge set would split the component
    val perm = new scala.util.Random(42).shuffle((0L until 200L).toVector)
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsLoop(perm.toDF("doc_id"),
        perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b"),
        "doc_id", "doc_a", "doc_b", maxIter = 1, localEdgeThreshold = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("embedding near-dup finds planted high-cosine pair on testdata") {
    val out = Dedup.embeddingNearDup(Tables.embeddings(spark, sf), threshold = 0.25)
    val rows = out.collect()
    assert(rows.nonEmpty, "expected at least one >=0.25 cosine pair in sf0.001 embeddings")
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.25))
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("d22 eval inputs: identical docs are truth pairs AND all-band LSH hits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      (3L, "totally different words here now", "en", "web", 32L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val truth = operators.Dedup.ngramJaccard(docs)
      .filter(col("jaccard") >= 0.05)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth === Set((1L, 2L)))
    val cand = operators.Dedup.minhashPairs(docs, k = 16, bands = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)), "identical docs collide in every band")
  }

  test("minhashPairsBlocked: identical docs collide; cross-lang and length-gap pairs block out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      (3L, "alpha beta gamma delta epsilon", "fr", "web", 30L), // lang differs
      (4L, "alpha beta gamma delta epsilon", "en", "web", 99L)) // > maxLenDiff
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cand = operators.Dedup.minhashPairsBlocked(docs, k = 32, bands = 32)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cand === Set((1L, 2L)),
      "only the same-lang, same-length identical pair survives blocking")
    // the tuner's answer for the d22/d25 operating point: rows = 1
    assert(operators.Dedup.lshBandsFor(0.05, 32) == 32)
  }

  test("minhashPairsBlocked is exactly the unblocked candidates restricted to the block") {
    import spark.implicits._
    // a mixed corpus: same-lang/same-length pairs, a cross-lang copy,
    // a length-gap copy, and unrelated docs — the blocked candidate
    // set must equal the unblocked set post-filtered by the (lang,
    // length) predicate, i.e. blocking changes WHICH pairs are
    // eligible, never the hashing
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "web", 31L),
      (3L, "alpha beta gamma delta epsilon", "fr", "web", 30L),
      (4L, "alpha beta gamma delta epsilon", "en", "web", 99L),
      (5L, "totally different words here now", "en", "web", 32L),
      (6L, "alpha beta gamma words here now", "en", "web", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val k = 32
    val blocked = operators.Dedup.minhashPairsBlocked(docs, k = k, bands = k)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val meta = docs.select("doc_id", "lang", "n_chars")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val unblockedAll: Set[(Long, Long)] =
      operators.Dedup.minhashPairs(docs, k = k, bands = k)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val unblockedRestricted = unblockedAll.filter { case (a, b) =>
      meta(a)._1 == meta(b)._1 && math.abs(meta(a)._2 - meta(b)._2) <= 3 }
    assert(blocked === unblockedRestricted)
    assert(blocked.contains((1L, 2L)), "same-block identical pair must collide")
  }

  test("d23 dup-rate rollup: canonical owners don't count as dups") {
    import spark.implicits._
    // 'web' ships the canonical (1) + two copies (2, 4); 'feed' ships
    // one copy (3) and one unique doc (5) → web 2/3, feed 1/2
    val docs = Seq(
      (1L, "same text", "en", "web", 9L),
      (2L, "same text", "en", "web", 9L),
      (3L, "same text", "en", "feed", 9L),
      (4L, "  SAME TEXT ", "en", "web", 12L), // trim+lower folds in
      (5L, "unique", "en", "feed", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flags = operators.Dedup.exactDedup(docs)
      .select(col("doc_id"), col("is_dup"))
    val got = docs.select(col("doc_id"), col("source")).join(flags, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("d"))
      .as[(String, Long, Long)].collect()
      .map { case (k, n, d) => k -> ((n, d)) }.toMap
    assert(got("web") === ((3L, 2L)) && got("feed") === ((2L, 1L)))
  }

  test("d25 sweep: truth/hits monotone in threshold, hits bounded") {
    val out = SparkEntry.queries("d25_threshold_sweep")(spark,
      "/root/testdata/sf0.001")
      .orderBy("threshold").collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_truth"),
        r.getAs[Long]("n_cand"), r.getAs[Long]("n_hits")))
    assert(out.map(_._1).toSeq === Seq(0.03, 0.05, 0.08))
    // a stricter threshold can only shrink the truth set and the hits
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._2 >= b._2 && a._4 >= b._4 })
    // the candidate set is threshold-independent; hits bounded both ways
    assert(out.map(_._3).distinct.length === 1)
    out.foreach { case (_, t, c, h) => assert(h <= t && h <= c) }
    assert(out.head._2 > 0L, "threshold 0.03 must have ground truth")
  }

  test("d24 profile shape: sizes partition docs; shares sum to 1") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the registry aggregation on a planted component table:
    // one size-3 component + two singletons → doc shares 0.6 / 0.4
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("doc_id", "component_id")
    val sizes = comp.groupBy("component_id")
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("doc_share", round(col("n_docs").cast("double") /
        sum("n_docs").over(Window.partitionBy()).cast("double"), 6))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(hist(3L) == ((1L, 3L, 0.6)))
    assert(hist(1L) == ((2L, 2L, 0.4)))
  }
}
