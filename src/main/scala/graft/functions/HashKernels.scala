package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Imperative kernels behind [[Kernels]], each declared there once
  * with its types and parameter ranges; the ranges are checked at plan
  * time, so a kernel does not re-check them per row. Top-level object → Scala
  * emits static forwarders, so generated (Janino) code calls
  * `graft.functions.HashKernels.xxx(...)` directly — one static call
  * per row inside WholeStageCodegen, no boxing, no InternalRow
  * round-trip (vs CodegenFallback's eval-per-row detour).
  *
  * All arithmetic matches the DuckDB oracle spellings documented in
  * graft.queries.* (64-bit modular hashes; IEEE double left folds).
  */
object HashKernels {
  val P = 1000000007L

  @inline private def foldFp(s: UTF8String, h0: Long): Long = {
    val str = s.toString
    var h = h0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  def fingerprint(s: UTF8String): Long = foldFp(s, 0L)

  /** Morton/Z-order bit interleave of two non-negative keys: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. `bits` ≤ 31 so the
    * result stays in 63 bits. The DuckDB oracle spells the SAME value
    * as an explicit shift-mask-multiply sum (see Relational.zSql), so
    * the kernel is proved exact cross-engine, not just self-consistent. */
  def zInterleave(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  def tokenFps(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = foldFp(arr.getUTF8String(i), 0L); i += 1 }
    new GenericArrayData(out)
  }

  def shingleFps(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        if (j > 0) h = (h * 31 + 32) % P
        h = foldFp(toks.getUTF8String(i + j), h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Character k-gram fingerprints: polynomial fold of every k-length
    * codepoint window (the short-text near-dup unit; word shingles are
    * [[shingleFps]]). */
  def charShingleFps(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    if (cps.length < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](cps.length - k + 1)
    var i = 0
    while (i <= cps.length - k) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 31 + cps(i + j)) % P; j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing (Schleimer/Wilkerson/Aiken, MOSS): the minimum of every
    * w-consecutive window of k-gram fingerprints — the fingerprint
    * SELECTION step that guarantees any shared substring of length
    * ≥ w + k − 1 contributes at least one common selected fingerprint,
    * while keeping ~2/(w+1) of the hashes. Returns ALL window minima
    * in window order (duplicates kept — the caller distincts at the
    * row level so both engines agree without relying on either's
    * list-distinct ordering); fewer than w fingerprints → one global
    * min; empty → empty. O(n·w) single pass, no allocation beyond the
    * output. */
  def winnowMins(fps: ArrayData, w: Int): ArrayData = {
    val n = fps.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n < w) {
      var mn = Long.MaxValue
      var i = 0
      while (i < n) { val v = fps.getLong(i); if (v < mn) mn = v; i += 1 }
      return new GenericArrayData(Array(mn))
    }
    val out = new Array[Long](n - w + 1)
    var i = 0
    while (i + w <= n) {
      var mn = Long.MaxValue
      var j = i
      while (j < i + w) { val v = fps.getLong(j); if (v < mn) mn = v; j += 1 }
      out(i) = mn
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-position MinHash multipliers: splitmix64(i) reduced to
    * [1, P−1]. INDEPENDENTLY generated constants, not a linear
    * function of i — any affine family a_i = c·(i+1) factors the whole
    * sketch as h_i(f) = (i+1)·(f·c + b) mod P, a ONE-dimensional
    * family whose per-position argmins stay correlated, giving the
    * Broder estimator a false-positive tail (measured: J≈0.03 doc
    * pairs matching 12–16 of 16 positions — see StreamScaleSpec's
    * generator; the original (2i+1) family was additionally
    * near-monotone in f). The DuckDB oracle inlines THESE values
    * (DedupQueries builds its SQL from this array — single source of
    * truth), so both engines hash identically by construction.
    * f, a_i < P ≈ 1e9 keeps f·a_i < 1.1e18 — no i64 overflow in
    * either engine. */
  val MH_A: Array[Long] = Array.tabulate(64) { i =>
    var z = i.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, P - 1) + 1
  }

  def minhashSig(fps: ArrayData, n: Int): ArrayData = {
    val m = fps.numElements()
    val out = Array.fill(n)(P)
    var j = 0
    while (j < m) {
      val f = fps.getLong(j)
      var i = 0
      while (i < n) {
        val h = (f * MH_A(i) + 104729L * (i + 1)) % P
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  def bandKeys(sig: ArrayData, b: Int, r: Int): ArrayData = {
    val out = new Array[Long](b)
    var j = 0
    while (j < b) {
      var s = j.toLong
      var t = 0
      while (t < r && j * r + t < sig.numElements()) {
        s = (s * 1000003L + sig.getLong(j * r + t)) % P
        t += 1
      }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  def simhash(fps: ArrayData, bits: Int): Long = {
    val m = fps.numElements()
    val votes = new Array[Long](bits)
    var i = 0
    while (i < m) {
      val f = fps.getLong(i)
      var j = 0
      while (j < bits) {
        votes(j) += (if (((f >> j) & 1L) == 1L) 1L else -1L)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Banded (Ukkonen-style) edit-distance bound: true iff
    * levenshtein(a, b) <= k, in O((2k+1)*n) time and O(m) space —
    * only cells within k of the diagonal can stay <= k, so the DP
    * visits a 2k+1 band and exits the moment a whole row's band
    * exceeds k. This is the scale form of the edit-distance verify:
    * the full O(n*m) algorithm is what the ORACLE runs; candidates in
    * a pipeline only need the boolean. Codepoint-based like Spark's
    * levenshtein (callers ASCII-normalize for DuckDB parity — its
    * levenshtein counts bytes). */
  def editWithin(a: UTF8String, b: UTF8String, k: Int): Boolean = {
    val sa = a.toString.codePoints().toArray
    val ta = b.toString.codePoints().toArray
    val n = sa.length; val m = ta.length
    if (math.abs(n - m) > k) return false
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, inf)
      if (i <= k) curr(0) = i
      var best = curr(0)
      val lo = math.max(1, i - k); val hi = math.min(m, i + k)
      var jj = lo
      while (jj <= hi) {
        val cost = if (sa(i - 1) == ta(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        if (prev(jj) + 1 < v) v = prev(jj) + 1
        if (curr(jj - 1) + 1 < v) v = curr(jj - 1) + 1
        if (v > inf) v = inf
        curr(jj) = v
        if (v < best) best = v
        jj += 1
      }
      if (best > k) return false
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    prev(m) <= k
  }

  /** Jaro–Winkler similarity, bit-exact to DuckDB's
    * `jaro_winkler_similarity` (verified pairwise over 400+ corpus
    * pairs): standard Jaro with match window max(|a|,|b|)/2 − 1
    * (clamped ≥ 0), transpositions halved by integer division, then
    * the Winkler boost j + p·0.1·(1−j) for a common prefix p ≤ 4 —
    * applied only when j > 0.7 (DuckDB's rapidfuzz default). DuckDB
    * quirk preserved: either string empty (including BOTH empty) →
    * 0.0. Arithmetic order matters for the bit-match: the three
    * match ratios sum left-to-right before the single ÷3, and the
    * boost multiplies (p·0.1)·(1−j) before the add — identical IEEE
    * op sequence in both engines. Codepoint-based (data ASCII;
    * DuckDB also operates on codepoints). O(|a|·window) time,
    * O(|a|+|b|) space — a per-pair verify kernel, only ever run on
    * candidate pairs a blocking equi-join already bounded. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString.codePoints().toArray
    val t = b.toString.codePoints().toArray
    val n = s.length; val m = t.length
    if (n == 0 || m == 0) return 0.0
    val w = math.max(math.max(n, m) / 2 - 1, 0)
    val ms = new Array[Boolean](n); val mt = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val hi = math.min(m, i + w + 1)
      var j = math.max(0, i - w)
      var unmatched = true
      while (j < hi && unmatched) {
        if (!mt(j) && s(i) == t(j)) {
          ms(i) = true; mt(j) = true; matches += 1; unmatched = false
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var trans = 0; var k = 0
    i = 0
    while (i < n) {
      if (ms(i)) {
        while (!mt(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val th = trans / 2
    val md = matches.toDouble
    val j0 = (md / n + md / m + (md - th) / md) / 3
    var p = 0
    val pmax = math.min(4, math.min(n, m))
    while (p < pmax && s(p) == t(p)) p += 1
    if (j0 > 0.7) j0 + p * 0.1 * (1 - j0) else j0
  }

  /** leftFloat/rightFloat are resolved at plan time from the array
    * element types (float embeddings vs double centroids). */
  def cosine(a: ArrayData, b: ArrayData, leftFloat: Boolean, rightFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData, leftFloat: Boolean, rightFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      d += x * y
      i += 1
    }
    d
  }

  def srpBucket(v: ArrayData, bits: Int): Long = {
    val n = v.numElements()
    var acc = 0L
    var p = 0
    while (p < bits) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        val x = p.toLong * 4099L + d.toLong + 1L
        val hv = ((x * x) % 999999937L) * x % 999999937L
        proj += v.getFloat(d).toDouble * (hv / 499999968.5 - 1.0)
        d += 1
      }
      acc = acc * 2 + (if (proj > 0) 1L else 0L)
      p += 1
    }
    acc
  }

  /** Banded (Sakoe–Chiba) Dynamic Time Warping distance between two
    * equal-length integer series, squared-difference cost:
    * dp(i,j) = (a_i−b_j)² + min(dp(i−1,j), dp(i,j−1), dp(i−1,j−1)),
    * cells restricted to |i−j| ≤ band. O(n·band) time, two rolling
    * rows of memory — the classic pruned-DP kernel (the time-series
    * analog of [[editWithin]]'s banded Ukkonen bound). All-integer, so
    * the result is hash-exact cross-engine; the DuckDB oracle spells
    * the SAME recurrence as an unrolled anti-diagonal CTE chain (cells
    * on one anti-diagonal are independent — the relational spelling of
    * wavefront DP), proving the banded kernel EXACT, not just
    * self-consistent. DTW ≤ squared Euclidean always (the diagonal is
    * a valid warping path), which the declared query checks on-data. */
  def dtwBand(a: ArrayData, b: ArrayData, band: Int): Long = {
    val n = a.numElements()
    require(b.numElements() == n, s"dtwBand needs equal lengths, got $n vs ${b.numElements()}")
    if (n == 0) return 0L
    val INF = Long.MaxValue / 4
    var prev = Array.fill(n)(INF)
    var cur = Array.fill(n)(INF)
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - band)
      val hi = math.min(n - 1, i + band)
      var j = lo
      while (j <= hi) {
        val d = a.getLong(i) - b.getLong(j)
        val best =
          if (i == 0 && j == 0) 0L
          else {
            var m = INF
            if (i > 0 && prev(j) < m) m = prev(j) // dp(i-1, j)
            if (j > 0 && cur(j - 1) < m) m = cur(j - 1) // dp(i, j-1)
            if (i > 0 && j > 0 && prev(j - 1) < m) m = prev(j - 1) // diag
            m
          }
        cur(j) = if (best >= INF) INF else d * d + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, INF)
      i += 1
    }
    prev(n - 1)
  }

  /** Max occurrence count of any k-token n-gram — the mode count the
    * Gopher repetition rules need ("fraction of tokens in the most
    * common n-gram"). ONE linear pass with a hash map, vs the oracle's
    * quadratic list-comprehension spelling (distinct × filter) — the
    * green hash row proves the linear kernel computes the identical
    * mode. Equality is on the joined STRING (exact, collision-free),
    * matching the oracle's `tk[i] || ' ' || tk[i+1]` compares. */
  def modalNgramCount(toks: ArrayData, k: Int): Long = {
    val n = toks.numElements()
    if (n < k) return 0L
    val m = new java.util.HashMap[String, Integer]()
    var best = 0
    var i = 0
    while (i <= n - k) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + j).toString)
        j += 1
      }
      val c = m.merge(sb.toString, 1, (a, b) => Integer.valueOf(a + b))
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }

  def byteStats(bs: Array[Byte]): InternalRow = {
    var sum = 0L; var mn = 256; var mx = -1
    var i = 0
    while (i < bs.length) {
      val v = bs(i) & 0xff
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    if (bs.isEmpty) { mn = 0; mx = 0 }
    InternalRow(bs.length.toLong, sum, mn, mx)
  }

  def byteHist(bs: Array[Byte], bins: Int): ArrayData = {
    val width = 256 / bins
    val counts = new Array[Long](bins)
    var i = 0
    while (i < bs.length) { counts((bs(i) & 0xff) / width) += 1; i += 1 }
    val n = math.max(1, bs.length).toFloat
    val out = new Array[Float](bins)
    i = 0
    while (i < bins) { out(i) = counts(i) / n; i += 1 }
    new GenericArrayData(out)
  }

  /** Integer twin of [[byteHist]]: raw bucket COUNTS, no normalization —
    * the all-integer feature for exact cross-engine comparisons
    * (L1 distances between counts never touch IEEE arithmetic). */
  def byteHistCounts(bs: Array[Byte], bins: Int): ArrayData = {
    val width = 256 / bins
    val counts = new Array[Long](bins)
    var i = 0
    while (i < bs.length) { counts((bs(i) & 0xff) / width) += 1; i += 1 }
    new GenericArrayData(counts)
  }

  /** Discrete-Laplacian energy over raw bytes:
    * Σ_{i=1..n-2} |b[i+1] − 2·b[i] + b[i-1]| — the second-difference
    * magnitude sum, the codec-free analog of the Laplacian-variance
    * sharpness/blur screen (a smooth gradient scores near 0, texture
    * and edges score high; in the byte domain: runs and ramps vs
    * alternation). All-integer, one pass, max per-term 510 so the sum
    * holds blobs to ~1.8e16 bytes in int64. Blobs shorter than 3
    * bytes have no interior point and score 0. */
  def byteLaplacianEnergy(bs: Array[Byte]): Long = {
    var e = 0L
    var i = 1
    while (i < bs.length - 1) {
      val d = (bs(i + 1) & 0xff) - 2 * (bs(i) & 0xff) + (bs(i - 1) & 0xff)
      e += math.abs(d)
      i += 1
    }
    e
  }

  /** Run-length profile over raw bytes: (n_runs, max_run,
    * run8_bytes) where a run is a maximal block of one repeated byte
    * value and run8_bytes counts bytes inside runs of length ≥ 8 —
    * the silence/stuck-frame/padding share. One pass, all-integer;
    * empty blob → (0, 0, 0). */
  def byteRunStats(bs: Array[Byte]): InternalRow = {
    var nRuns = 0L; var maxRun = 0L; var run8 = 0L
    var i = 0
    while (i < bs.length) {
      var j = i + 1
      while (j < bs.length && bs(j) == bs(i)) j += 1
      val len = (j - i).toLong
      nRuns += 1L
      if (len > maxRun) maxRun = len
      if (len >= 8L) run8 += len
      i = j
    }
    InternalRow(nRuns, maxRun, run8)
  }

  /** Area-average (box filter) resample of a row-major `w`×`h` float
    * grid to `ow`×`oh`: out(i,j) = mean of the input block
    * rows [i·h/oh, (i+1)·h/oh) × cols [j·w/ow, (j+1)·w/ow), each bound
    * clamped to at least one cell (so upsampling degrades to nearest
    * neighbor). Integer block boundaries + a fixed row-major summation
    * order make the result bit-deterministic at any parallelism — the
    * thumbnail/downsample primitive for decoded media features. */
  def resizeArea(px: Array[Float], w: Int, h: Int, ow: Int, oh: Int): Array[Float] = {
    val out = new Array[Float](ow * oh)
    var i = 0
    while (i < oh) {
      val r0 = i.toLong * h / oh; val r1 = math.max((i + 1).toLong * h / oh, r0 + 1)
      var j = 0
      while (j < ow) {
        val c0 = j.toLong * w / ow; val c1 = math.max((j + 1).toLong * w / ow, c0 + 1)
        var s = 0.0
        var r = r0
        while (r < r1) {
          var c = c0
          while (c < c1) { s += px((r * w + c).toInt); c += 1 }
          r += 1
        }
        out(i * ow + j) = (s / ((r1 - r0) * (c1 - c0))).toFloat
        j += 1
      }
      i += 1
    }
    out
  }

  /** [[resizeArea]] over Catalyst array data (the codegen call shape). */
  def resizePixels(px: ArrayData, w: Int, h: Int, ow: Int, oh: Int): ArrayData =
    new GenericArrayData(resizeArea(px.toFloatArray(), w, h, ow, oh))

  /** Positional gradient hash (dHash): split the blob into `segs`
    * equal byte segments (boundaries j·n/segs, integer), then one
    * gradient bit per adjacent pair — bit j set iff segment j+1's
    * MEAN byte value exceeds segment j's, compared cross-multiplied
    * (sum·len vs sum·len) so the whole hash is integer arithmetic.
    * All-integer matters twice: engines agree exactly, and segment
    * means stay exact for blobs of any size (a float mean would round
    * past 2^24 bytes). segs−1 bits, so segs ≤ 63 keeps the hash in a
    * positive long. Empty/short blobs degrade deterministically
    * (empty segments have sum = len = 0, so their comparisons are
    * 0 > 0 = false). */
  def byteSegGradHash(bs: Array[Byte], segs: Int): Long = {
    val n = bs.length
    val sums = new Array[Long](segs)
    val lens = new Array[Long](segs)
    var j = 0
    while (j < segs) {
      val lo = (j.toLong * n / segs).toInt
      val hi = ((j + 1).toLong * n / segs).toInt
      lens(j) = (hi - lo).toLong
      var s = 0L
      var i = lo
      while (i < hi) { s += (bs(i) & 0xff).toLong; i += 1 }
      sums(j) = s
      j += 1
    }
    var h = 0L
    j = 0
    while (j < segs - 1) {
      if (sums(j + 1) * lens(j) > sums(j) * lens(j + 1)) h |= 1L << j
      j += 1
    }
    h
  }

  /** Audio-style band-energy fingerprint — the Haitsma–Kalker bit
    * formula (sign of the time-derivative of the band-energy
    * difference) applied codec-free: the blob is cut into `frames`
    * time windows, each window's "spectrum" is the energy (byte-value
    * sum) per byte-value band (256/bands wide — the toy stand-in for
    * FFT bands), and bit (t-1)*(bands-1)+b = 1 iff
    * (E(t,b)-E(t,b+1)) - (E(t-1,b)-E(t-1,b+1)) > 0.
    * (frames-1)*(bands-1) bits, all-integer, exact. A single-byte edit
    * touches ONE frame, so it flips at most 2*(bands-1) bits — and a
    * LAST-byte edit only (bands-1): the bounded-hamming contract the
    * pairing threshold rides. */
  /** Character-entropy compression bound: [n_codepoints, distinct,
    * Σ k_c·⌊log2(n div k_c)⌋] in one pass. The third element is an
    * integer LOWER bound on the Shannon information content in bits
    * (⌊log2⌋ of the integer-division inverse frequency underestimates
    * −log2 p), so it is exact cross-engine — the real-entropy float
    * spelling (Σ p·ln p) is not. Used as a repetition/gibberish quality
    * signal: natural prose lands near ~4 bits/char, `aaaa…` near 0.
    * DuckDB oracle: per-char counts via unnest(string_split) +
    * length(bin(n // k)) − 1 (both engines print unpadded binary). */
  def charEntropyBound(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var bound = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val k = it.next()
      bound += k * (63 - java.lang.Long.numberOfLeadingZeros(n / k))
    }
    new GenericArrayData(Array(n, counts.size.toLong, bound))
  }

  /** Millibit fast-log: the integer log2 every scoring query shares —
    * whole bits from the binade (floor-log2 = 63 − nlz(q), identical
    * to the `length(bin(q)) − 1` oracle spelling for q ≥ 1) plus the
    * classic piecewise-linear fraction within the binade:
    * `b·1000 + ((q − 2^b)·1000) div 2^b`. Exactly the arithmetic of
    * graft.queries.TextQueries.textPerplexity/textZipf, centralized —
    * bit-identical across engines and any parallelism (a libm log2
    * differs in ULPs, which a hash gate cannot tolerate). Domain:
    * 1 ≤ q < 2^53 (the fraction product `(q − 2^b)·1000` must stay in
    * int64; every caller scales by 2^20 so real inputs sit far below).
    * q ≤ 0 returns Long.MinValue (callers guard; NULL-ish sentinel
    * keeps the kernel branch-predictable). */
  def log2Millis(q: Long): Long = {
    if (q <= 0L) return Long.MinValue
    val b = 63 - java.lang.Long.numberOfLeadingZeros(q)
    b * 1000L + ((q - (1L << b)) * 1000L) / (1L << b)
  }

  /** Content-defined chunk fingerprints (LBFS/rsync-family CDC) — the
    * storage-dedup primitive: the code-point stream is CUT after
    * position i (i ≥ w−1, never the last position) whenever the
    * w-wide polynomial rolling hash `(Σ_{j<w} cp[i−j]·31^j) mod P`
    * is ≡ 0 (mod mask), and each chunk reports the standard
    * `(h·31+cp) mod P` content fingerprint. Because a cut depends only
    * on the LOCAL w-window, an insertion re-synchronizes within one
    * window and every later chunk fingerprint is unchanged — the
    * shift-resistance fixed-size blocks lack (pinned by the
    * SqlFunctionsSpec locality tests). Expected chunk length ≈ mask
    * code points. One pass, O(w) per position, no allocation beyond
    * the output buffer. DuckDB oracle: the same pow-table sum over
    * range windows + per-slice list_reduce folds
    * (MultimodalQueries.mm_cdc_chunks). */
  def cdcChunkFps(s: UTF8String, w: Int, mask: Long): ArrayData = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Int](str.codePointCount(0, len))
    var i = 0
    var k = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val pow = new Array[Long](w)
    pow(0) = 1L
    var j = 1
    while (j < w) { pow(j) = pow(j - 1) * 31L % P; j += 1 }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var fp = 0L
    var idx = 0
    while (idx < n) {
      fp = (fp * 31 + cps(idx)) % P
      if (idx >= w - 1 && idx != n - 1) {
        // cp ≤ 0x10FFFF and pow < P < 2^30, so the w-term sum stays
        // far below Long overflow — one mod at the end, matching the
        // oracle's spelling exactly
        var h = 0L
        var t = 0
        while (t < w) { h += cps(idx - t) * pow(t); t += 1 }
        if (h % P % mask == 0L) { out += fp; fp = 0L }
      }
      idx += 1
    }
    out += fp
    new GenericArrayData(out.toArray)
  }

  /** [[cdcChunkFps]] over RAW BYTES — the binary-modality spelling the
    * multimodal pillar chunks real blobs with (a media container is not
    * UTF-8; the codepoint path would mangle or reject bytes ≥ 0x80 and
    * NULs). Identical cut rule and fingerprint fold with the byte value
    * (0..255) where the text kernel uses the code point, so the DuckDB
    * oracle folds the same algebra over the blob's byte-value list.
    * One pass, O(w) per position. */
  def cdcChunkFpsBin(bs: Array[Byte], w: Int, mask: Long): ArrayData = {
    val n = bs.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val pow = new Array[Long](w)
    pow(0) = 1L
    var j = 1
    while (j < w) { pow(j) = pow(j - 1) * 31L % P; j += 1 }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var fp = 0L
    var idx = 0
    while (idx < n) {
      fp = (fp * 31 + (bs(idx) & 0xff)) % P
      if (idx >= w - 1 && idx != n - 1) {
        var h = 0L
        var t = 0
        while (t < w) { h += (bs(idx - t) & 0xff).toLong * pow(t); t += 1 }
        if (h % P % mask == 0L) { out += fp; fp = 0L }
      }
      idx += 1
    }
    out += fp
    new GenericArrayData(out.toArray)
  }

  def byteBandEnergyHash(bs: Array[Byte], frames: Int, bands: Int): Long = {
    val n = bs.length
    val bandWidth = 256 / bands
    val e = Array.ofDim[Long](frames, bands)
    var t = 0
    while (t < frames) {
      val lo = (t.toLong * n / frames).toInt
      val hi = ((t + 1).toLong * n / frames).toInt
      var i = lo
      while (i < hi) {
        val v = bs(i) & 0xff
        e(t)(v / bandWidth) += v.toLong
        i += 1
      }
      t += 1
    }
    var h = 0L
    t = 1
    while (t < frames) {
      var b = 0
      while (b < bands - 1) {
        if ((e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1)) > 0)
          h |= 1L << ((t - 1) * (bands - 1) + b)
        b += 1
      }
      t += 1
    }
    h
  }

  /** Columnar encoding COST MODEL — the exact byte footprint of a long
    * series under delta + zigzag + LEB128 varint (the parquet
    * DELTA_BINARY_PACKED family's cost shape, and literally the
    * protobuf/ORC varint rule: zigzag(d) = (d<<1)^(d>>63), then one
    * byte per started 7-bit group). Element 0 encodes as its own
    * zigzag varint; element i>0 encodes the delta v[i]−v[i−1]. Returns
    * [n, 8·n (raw int64 bytes), encoded bytes] so a layout advisor can
    * rank SORT ORDERS by real storage cost: a clustered order yields
    * ±1-ish deltas (1 byte each) where a scattered order pays 3–5.
    * Contract: |values| < 2^62 so 2·|delta| never overflows — the
    * CASE spelling `2d / −2d−1` the DuckDB oracle uses is then
    * bit-identical to the shift/xor here. One pass, no allocation. */
  def varintCost(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var prev = 0L
    var bytes = 0L
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      val d = if (i == 0) v else v - prev
      prev = v
      val u = (d << 1) ^ (d >> 63)
      bytes += (if (u == 0L) 1 else (70 - java.lang.Long.numberOfLeadingZeros(u)) / 7)
      i += 1
    }
    new GenericArrayData(Array(n.toLong, 8L * n, bytes))
  }
}
