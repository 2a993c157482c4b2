package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DCT perceptual image hashing (pHash) and the image near-dup join
  * built on it — the multimodal twin of the d3 simhash pipeline: text
  * near-dup keys off token grams; image near-dup keys off the
  * low-frequency DCT structure that survives re-encodes, resizes and
  * small edits.
  *
  * Kernel (the classic pHash recipe): luma → 32×32 resize → 2D
  * DCT-II → the 8×8 low-frequency block → each of the 63 AC
  * coefficients compares against their median → a 64-bit signature
  * whose Hamming distance tracks perceptual distance. The DCT here is
  * the real separable transform (spec-verified: constant image →
  * DC-only; a planted cosine mode → exactly its coefficient).
  *
  * Scale shape: the hash is a narrow per-row map at the codec (pixels
  * never leave the task — only 8 bytes per image do); candidate
  * generation is BANDED like d3 — the 64-bit hash splits into 4×16-bit
  * bands and only band-equal pairs join. By pigeonhole, a pair within
  * Hamming distance ≤ 3 cannot corrupt all 4 bands, so with the
  * default threshold the join is EXACT (complete recall), never a
  * heuristic — proven by a brute-force recount in the spec.
  */
object Phash {

  // cos(π(i+½)k/N) tables, one per transform length, computed once
  // per JVM: the transform is O(n²) multiplies either way, but a
  // cos() in the inner loop made it O(n²) LIBM CALLS per image —
  // 650M trig evaluations across a 10k-image corpus, 25 s of the
  // bench. The table turns that into pure fused multiply-adds.
  private val cosCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  private def cosTable(n: Int): Array[Array[Double]] =
    cosCache.computeIfAbsent(n, m =>
      Array.tabulate(m, m)((k, i) => math.cos(math.Pi * (i + 0.5) * k / m)))

  /** DCT-II of one row: X_k = Σ_n x_n · cos(π(n+½)k/N). Unnormalized —
    * the median threshold downstream is scale-invariant.
    */
  def dct1d(x: Array[Double]): Array[Double] = {
    val n = x.length
    val t = cosTable(n)
    val out = new Array[Double](n)
    var k = 0
    while (k < n) {
      val tk = t(k)
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x(i) * tk(i)
        i += 1
      }
      out(k) = s
      k += 1
    }
    out
  }

  /** Separable 2D DCT-II over a row-major w×h grid (rows, then
    * columns). Returns row-major coefficients.
    */
  def dct2d(g: Array[Double], w: Int, h: Int): Array[Double] = {
    require(g.length == w * h, s"grid length ${g.length} != $w x $h")
    val rows = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      val r = dct1d(java.util.Arrays.copyOfRange(g, y * w, (y + 1) * w))
      System.arraycopy(r, 0, rows, y * w, w)
      y += 1
    }
    val out = new Array[Double](w * h)
    var x = 0
    while (x < w) {
      val colIn = new Array[Double](h)
      var yy = 0
      while (yy < h) { colIn(yy) = rows(yy * w + x); yy += 1 }
      val c = dct1d(colIn)
      yy = 0
      while (yy < h) { out(yy * w + x) = c(yy); yy += 1 }
      x += 1
    }
    out
  }

  /** 64-bit perceptual hash of a row-major luma grid: nearest-resize
    * to 32×32, 2D DCT, 8×8 low block, bit i = (AC coeff > median of
    * the 63 AC coeffs). Bit 63 (the DC slot) is always 0.
    */
  def phashFromLuma(luma: Array[Double], w: Int, h: Int): Long = {
    require(w > 0 && h > 0 && luma.length == w * h,
      s"bad luma grid: $w x $h with ${luma.length} values")
    val n = 32
    // BOX-AVERAGE resize, not nearest: averaging is the low-pass blur
    // the classic pHash recipe prescribes — it is what makes the hash
    // stable under rescaling even for high-frequency content (a
    // nearest sample re-rolls the dice on every source-grid shift)
    val g = boxResize(luma, w, h, n, n)
    val d = dct2d(g, n, n)
    val ac = new Array[Double](63)
    var i = 0
    var bit = 0
    while (i < 64) {
      if (i != 0) { ac(bit) = d((i / 8) * n + (i % 8)); bit += 1 }
      i += 1
    }
    val sorted = ac.clone(); java.util.Arrays.sort(sorted)
    val median = sorted(31) // the 32nd of 63 — the true median; the
    // median element itself compares `>` false, so ~half the bits set
    var hash = 0L
    i = 0
    while (i < 63) {
      if (ac(i) > median) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** pHash of a 24-bpp uncompressed BMP payload (the decode →
    * hash-at-the-codec step). Same validation posture as BmpCodec:
    * loud failures, never silent nonsense.
    */
  def phashBmp(b: Array[Byte], docId: Long): Long = {
    val (luma, w, h) = bmpLuma(b, docId)
    phashFromLuma(luma, w, h)
  }

  /** Luma grid of a 24-bpp BMP payload, row 0 = the TOP image row
    * regardless of storage order (positive biHeight stores bottom-up,
    * negative stores top-down). pHash is NOT flip-invariant, so
    * normalizing orientation here is what makes the same image hash
    * identically across the two encodings — a stats codec can abs()
    * the height and ignore order; a perceptual hash cannot.
    */
  def bmpLuma(b: Array[Byte], docId: Long): (Array[Double], Int, Int) = {
    def le16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M',
      s"doc $docId: not a BMP payload")
    val pixelOff = le32(10)
    val w = le32(18)
    val rawH = le32(22)
    val h = math.abs(rawH)
    val topDown = rawH < 0
    require(w > 0 && h > 0 && le16(28) == 24 && le32(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val stride = ((w * 3 + 3) / 4) * 4
    require(pixelOff >= 54 && pixelOff.toLong + stride.toLong * h <= b.length,
      s"doc $docId: truncated pixel array")
    val luma = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val p = pixelOff + srcRow * stride + x * 3
        luma(y * w + x) =
          ((b(p) & 0xff) + (b(p + 1) & 0xff) + (b(p + 2) & 0xff)) / 3.0
        x += 1
      }
      y += 1
    }
    (luma, w, h)
  }

  /** Box-average resize of a row-major luma grid: each target cell is
    * the mean of its source rectangle (fractional edges weighted by
    * coverage) — an area-accurate low-pass downscale.
    */
  def boxResize(luma: Array[Double], w: Int, h: Int,
      tw: Int, th: Int): Array[Double] = {
    require(tw > 0 && th > 0)
    val out = new Array[Double](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty.toDouble * h / th
      val y1 = (ty + 1).toDouble * h / th
      var tx = 0
      while (tx < tw) {
        val x0 = tx.toDouble * w / tw
        val x1 = (tx + 1).toDouble * w / tw
        var s = 0.0; var area = 0.0
        var sy = math.floor(y0).toInt
        while (sy < math.ceil(y1).toInt && sy < h) {
          val wy = math.min(y1, sy + 1.0) - math.max(y0, sy.toDouble)
          var sx = math.floor(x0).toInt
          while (sx < math.ceil(x1).toInt && sx < w) {
            val wx = math.min(x1, sx + 1.0) - math.max(x0, sx.toDouble)
            s += luma(sy * w + sx) * wx * wy
            area += wx * wy
            sx += 1
          }
          sy += 1
        }
        out(ty * tw + tx) = if (area > 0) s / area else 0.0
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Natural-image stand-in synthesizer: a 24-bpp gray BMP whose luma
    * is 128 + Σ signed 1/f-decaying 2D cosine modes (signs and which
    * modes from the doc's text bytes). Two properties matter: (1)
    * like a photograph — and unlike cycling raw bytes into pixels —
    * the spectrum DECAYS, which is the property pHash exists to
    * exploit; (2) every 8×8-block DCT coefficient gets a STRONG
    * signed value, so the median threshold splits them far from the
    * boundary and rescale attenuation shrinks magnitudes without
    * flipping signs — a raw-byte-noise image genuinely is NOT a
    * near-dup of its own rescale (its spectrum is flat), which is why
    * the d20 fixture models photographs, not noise.
    */
  def synthSmoothBmp(w: Int, h: Int, src: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && src.nonEmpty)
    val sgn = Array.tabulate(8, 8) { (u, v) =>
      val b = src(((u * 8 + v) * 131) % src.length) & 0xff
      if ((b & 1) == 0) 1.0 else -1.0
    }
    val cosX = Array.tabulate(8, w)((u, x) =>
      math.cos(math.Pi * (x + 0.5) * u / w))
    val cosY = Array.tabulate(8, h)((v, y) =>
      math.cos(math.Pi * (y + 0.5) * v / h))
    val px = new Array[Byte](w * h * 3)
    var y = 0; var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = 128.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            if (u != 0 || v != 0)
              s += sgn(u)(v) * 12.0 / (1 + u + v) * cosX(u)(x) * cosY(v)(y)
            v += 1
          }
          u += 1
        }
        val l = math.max(0.0, math.min(255.0, math.rint(s))).toInt
        px(i) = l.toByte; px(i + 1) = l.toByte; px(i + 2) = l.toByte
        i += 3; x += 1
      }
      y += 1
    }
    Multimodal.synthBmp(w, h, px)
  }

  /** The image-dedup corpus shape: each document's synthesized image
    * at FULL resolution (img_id = 2·doc_id) and at HALF resolution
    * (img_id = 2·doc_id + 1) — "the same photo ingested twice at
    * different sizes", the canonical image near-dup scenario. pHash's
    * own 32×32 normalization absorbs the scale difference, so the
    * pair lands within the banded join's exact Hamming band.
    */
  def hashedVariants(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val w = (16 + id % 17).toInt
        val h = (16 + id % 13).toInt
        val src = if (payload == null || payload.isEmpty) Array[Byte](7) else payload
        val bmp = synthSmoothBmp(w, h, src)
        val (luma, _, _) = bmpLuma(bmp, id)
        val half = boxResize(luma, w, h, math.max(1, w / 2), math.max(1, h / 2))
        Seq((id * 2, phashFromLuma(luma, w, h)),
          (id * 2 + 1, phashFromLuma(half, math.max(1, w / 2), math.max(1, h / 2))))
      }.toDF("doc_id", "phash")
  }

  /** All pairs of `hashed` (doc_id, phash) rows within `maxHamming`
    * bits, via 4×16-bit banded self-join. EXACT (complete) for
    * maxHamming ≤ 3: a ≤3-bit difference leaves at least one of the
    * four bands untouched, so every qualifying pair meets in some
    * bucket. The pair-dedup exchange carries bare (ids, hashes) —
    * 24 bytes a row, the s7 payload-diet lesson applied from day one.
    */
  def phashPairs(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banded exactness holds only to Hamming 3, got $maxHamming")
    // cached: both sides of the band-bucket self-join read the band
    // frame, and without the pin the per-doc synth+DCT pipeline
    // upstream runs once PER SIDE (Spark has no cross-branch subplan
    // reuse — the dominant d20 cost, measured ~2× on the operator).
    // The pin lives on this INTERNAL derivation (minhashLsh's sigs
    // convention), never on the caller-supplied `hashed` frame.
    val bands = hashed.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(3))).as("band_idx"))
      .withColumn("band_val",
        expr("shiftrightunsigned(phash, band_idx * 16)")
          .bitwiseAND(lit(0xFFFFL)))
      .transform(graft.Artifacts.pin)
    val a = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("phash").as("ph_a"))
    val b = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("phash").as("ph_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      // hamming BEFORE the pair-dedup exchange: any copy of a pair
      // carries the same hashes, so the ≤ maxHamming filter is
      // dedup-invariant — and it shrinks the dedup shuffle from every
      // bucket co-occurrence down to the qualifying pairs alone
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
  }
}
