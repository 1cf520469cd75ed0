package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.graft.DatasetShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code — the
  * generated Java calls straight into these, so whole-stage codegen keeps
  * a single tight JIT-compiled loop per row with zero boxing.
  */
object Kernels {

  /** Sequential-fold cosine over float arrays in double precision —
    * exactly the fold order of the HOF formulation it replaces (and of
    * the DuckDB oracle), so results are bit-identical.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Polynomial rolling hash over codepoints: acc = (acc·base + cp) mod m.
    * Matches `aggregate(split(s,''), 0L, (acc,x) -> (acc*base+ascii(x))%m)`
    * for BMP strings (split('') yields per-char strings there).
    */
  def rollingHash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * base + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** MinHash signature over an array of element hashes:
    * sig[j] = min_x ((a_j·x) mod P + b_j) mod P with the same permutation
    * constants as the HOF/oracle formulation
    * (a_j = (2j+1)·777767 mod P, b_j = (31j+7)·999999937 mod P).
    */
  def minhashSig(hashes: ArrayData, nPerms: Int): ArrayData = {
    val P = 1000000007L
    val n = hashes.numElements()
    val out = new Array[Long](nPerms)
    var j = 0
    while (j < nPerms) {
      val a = ((2L * j + 1) * 777767L) % P
      val b = ((31L * j + 7) * 999999937L) % P
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = ((a * hashes.getLong(i)) % P + b) % P
        if (v < mn) mn = v
        i += 1
      }
      out(j) = mn
      j += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash over element hashes: bit j of the result is set when the ±1
    * vote sum across hashes' bit j is positive (bits 0 until `bits`).
    *
    * Element hashes arrive mod 1e9+7 (< 2^30), so they are first remixed
    * into the full 48-bit domain (h·0x9E3779B1 mod 2^48 — the product
    * stays < 2^62, overflow-free in any signed-64 engine). Without the
    * remix, bits 30-47 are constant zero and pigeonhole blocks over that
    * range are degenerate (every document lands in one bucket → O(n²)
    * candidate pairs).
    */
  def simhash(hashes: ArrayData, bits: Int): Long = {
    val n = hashes.numElements()
    val mask48 = (1L << 48) - 1
    // remix once per hash, not once per (hash, bit) — the bit loop below
    // reads each remixed value `bits` times
    val mixed = new Array[Long](n)
    var i = 0
    while (i < n) {
      mixed(i) = (hashes.getLong(i) * 2654435761L) & mask48
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < bits) {
      var vote = 0L
      i = 0
      while (i < n) {
        vote += 2L * ((mixed(i) >> j) & 1L) - 1L
        i += 1
      }
      if (vote > 0) res |= 1L << j
      j += 1
    }
    res
  }

  /** Tokenize → k-word shingles → rolling hash → distinct, in ONE pass.
    *
    * Matches `array_distinct(transform(<shingles of split(trim(lower(text)),
    * '\s+')>, s -> rollingHash(s)))` exactly (same tokens, same space-joined
    * shingle hashing — the joiner chars stream through the fold without
    * materializing shingle strings). One kernel call per row replaces the
    * expression-tree formulation whose per-element `element_at(split(...))`
    * re-ran the regex split for every shingle element.
    */
  def shingleHashes(text: UTF8String, k: Int, base: Long, mod: Long): ArrayData = {
    // SQL trim strips SPACES only (Java String.trim also strips \t/\n and
    // would diverge from the oracle on such inputs)
    val raw = text.toString.toLowerCase(java.util.Locale.ROOT)
    var lo = 0; var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    // limit -1 keeps trailing empty tokens — Spark's split() and DuckDB's
    // regexp_split_to_array both do; Java's default limit 0 drops them and
    // would silently diverge on text whose space-trimmed form ends in
    // non-space whitespace (e.g. a trailing newline)
    val toks = raw.substring(lo, hi).split("\\s+", -1)
    def hashTokens(from: Int, until: Int): Long = {
      var acc = 0L
      var t = from
      while (t < until) {
        if (t > from) acc = (acc * base + ' '.toInt) % mod
        val w = toks(t)
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          acc = (acc * base + cp) % mod
          i += Character.charCount(cp)
        }
        t += 1
      }
      acc
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length < k) seen.add(hashTokens(0, toks.length))
    else {
      var i = 0
      while (i + k <= toks.length) { seen.add(hashTokens(i, i + k)); i += 1 }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** LSH band hashes from the full MinHash pipeline in ONE pass: band i
    * folds sig[r·i .. r·i+r-1] as h = (h·31 + s) mod P — the same fold as
    * the SQL oracle. One kernel call per row avoids CollapseProject
    * inlining the signature pipeline into every per-band lambda reference
    * (HOF lambda bodies are invisible to codegen subexpression
    * elimination). Returns nBands longs; band_idx = array position.
    */
  def minhashBands(hashes: ArrayData, nBands: Int, rowsPerBand: Int): ArrayData = {
    val P = 1000000007L
    val sig = minhashSig(hashes, nBands * rowsPerBand)
    val out = new Array[Long](nBands)
    var i = 0
    while (i < nBands) {
      var h = sig.getLong(rowsPerBand * i)
      var o = 1
      while (o < rowsPerBand) {
        h = (h * 31 + sig.getLong(rowsPerBand * i + o)) % P
        o += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  private val P61 = (1L << 61) - 1

  /** a·b mod 2⁶¹−1 for 0 ≤ a, b < 2⁶¹−1 without 128-bit types: with the
    * product split as hi·2⁶⁴ + lo, 2⁶⁴ ≡ 8 and 2⁶¹ ≡ 1 (mod 2⁶¹−1), so
    * the residue is hi·8 + (lo ≫ 61) + (lo & M) — all three terms fit a
    * signed long (hi < 2⁵⁸) and the sum is < 2⁶², so at most two final
    * subtractions. The oracle engine computes the same product mod with
    * 128-bit integers; both are the mathematical residue, so they agree.
    */
  @inline private def mulmodP61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & P61)
    while (r >= P61) r -= P61
    r
  }

  /** Winnowing substring fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003) in ONE O(n) pass: position hashes are the base-257 polynomial
    * hash mod 2⁶¹−1 of every length-`l` codepoint window (computed
    * rolling — subtract the outgoing codepoint·257^(l−1), multiply by
    * 257, add the incoming), and the selected fingerprints are the
    * minimum VALUE of every `w` consecutive position hashes (monotone
    * deque, amortized O(1) per position). Fewer than `w` position hashes
    * → one window over all of them; fewer than `l` codepoints → empty.
    * Returns the distinct selected hashes sorted ascending.
    *
    * Matches the windowed `list_reduce((acc,c) -> (acc·257+c) mod P)` /
    * `list_aggregate('min')` formulation an oracle SQL engine evaluates
    * term-for-term in O(n·l·w): the rolling + deque form is the same
    * arithmetic, just never re-visiting a codepoint.
    */
  /** Unicode NFC normalization (canonical decomposition + canonical
    * composition, UAX #15) via the JDK's Normalizer — the same Unicode
    * data tables every conforming engine ships, so outputs are
    * byte-identical to DuckDB's `nfc_normalize`. Fast path: NFC quick
    * check via `isNormalized` avoids allocating for the (at web scale,
    * overwhelmingly dominant) already-normalized case.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** C59 kernel: codepoint-level Shannon entropy in ONE pass — returns
    * (n codepoints, k distinct, H in nats). Codepoints are sorted and
    * run-length counted, and the -p·ln(p) terms fold in ASCENDING
    * CODEPOINT order — the exact order of the oracle's
    * list_reduce(list(... ORDER BY cp)), so the float sum is
    * bit-identical cross-engine, not just close.
    */
  def charEntropy(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    var n = 0
    var i = 0
    while (i < str.length) { n += 1; i += Character.charCount(str.codePointAt(i)) }
    if (n == 0) return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0.0)
    val cps = new Array[Int](n)
    i = 0; var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i); cps(j) = cp; j += 1; i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps)
    var h = 0.0
    var k = 0L
    i = 0
    while (i < n) {
      var run = i + 1
      while (run < n && cps(run) == cps(i)) run += 1
      val p = (run - i).toDouble / n
      h += -p * math.log(p)
      k += 1L
      i = run
    }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, k, h)
  }

  def winnowHashes(s: UTF8String, l: Int, w: Int): ArrayData = {
    val str = s.toString
    var n = 0
    var i = 0
    while (i < str.length) { n += 1; i += Character.charCount(str.codePointAt(i)) }
    if (n < l) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](n)
    i = 0; var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i); cps(j) = cp; j += 1; i += Character.charCount(cp)
    }
    val m = n - l + 1
    var pw = 1L
    i = 1
    while (i < l) { pw = mulmodP61(pw, 257L); i += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < l) {
      h = mulmodP61(h, 257L) + cps(i)
      if (h >= P61) h -= P61
      i += 1
    }
    hs(0) = h
    i = 1
    while (i < m) {
      var x = h - mulmodP61(cps(i - 1).toLong, pw)
      if (x < 0) x += P61
      x = mulmodP61(x, 257L) + cps(i + l - 1)
      if (x >= P61) x -= P61
      h = x
      hs(i) = h
      i += 1
    }
    val t = math.max(1, m - w + 1)
    val sel = new Array[Long](t)
    if (m <= w) {
      var mn = hs(0)
      i = 1
      while (i < m) { if (hs(i) < mn) mn = hs(i); i += 1 }
      sel(0) = mn
    } else {
      val dq = new Array[Int](m)
      var head = 0; var tail = 0
      i = 0
      while (i < m) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) sel(i - w + 1) = hs(dq(head))
        i += 1
      }
    }
    java.util.Arrays.sort(sel)
    var k = 0
    i = 0
    while (i < sel.length) {
      if (k == 0 || sel(i) != sel(k - 1)) { sel(k) = sel(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, k))
  }

  /** Parse a profile spec (profiles joined by '|', words by ',') into hash
    * sets. Called once per `graft_stopword_hits` call, at analysis —
    * never per row.
    */
  def parseProfiles(spec: String): Array[java.util.HashSet[String]] =
    spec.split("\\|", -1).map { grp =>
      val set = new java.util.HashSet[String]()
      grp.split(",", -1).foreach(w => if (w.nonEmpty) set.add(w))
      set
    }

  /** Per-profile stopword hit counts in ONE tokenizing pass.
    *
    * `profiles` arrive pre-parsed (the spec is analysis-enforced to be a
    * string literal, so `graft_stopword_hits` parses it once and codegen
    * references the parsed array directly — no
    * per-row spec stringification or cache lookup). Tokenization matches
    * the oracle formulation
    * `filter(split(trim(lower(text)), '\s+'), w -> w IN (...))` exactly —
    * the expression-tree form re-ran the split once per profile (HOF
    * lambda bodies are invisible to codegen subexpression elimination).
    */
  def stopwordHits(text: UTF8String, profiles: Array[java.util.HashSet[String]]): ArrayData = {
    val raw = text.toString.toLowerCase(java.util.Locale.ROOT)
    var lo = 0; var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val toks = raw.substring(lo, hi).split("\\s+", -1)
    val out = new Array[Long](profiles.length)
    var i = 0
    while (i < toks.length) {
      var p = 0
      while (p < profiles.length) {
        if (profiles(p).contains(toks(i))) out(p) += 1
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Order-preserving double→long map (the Lucene sortable-bits trick):
    * signed long order of the result equals IEEE754 order of the input,
    * so any high-bit prefix is a monotone bucket function — the basis of
    * bucketed exact-rank selection with NO min/max pre-pass.
    */
  def sortableBits(v: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(v)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  /** All random-hyperplane LSH band bucket values in ONE pass over the
    * embedding: band b's value sets bit j when dot(emb, plane[b·bandBits+j])
    * ≥ 0. `planes` is the flattened plane matrix (plane p = slice
    * [p·d, (p+1)·d)). Double-precision sequential fold in array order —
    * bit-identical to the aggregate/zip_with HOF formulation and the
    * DuckDB oracle it replaces (which built nBands·bandBits separate HOF
    * expressions, each re-materializing intermediate arrays and together
    * blowing the projection out of whole-stage codegen at grown band
    * counts).
    */
  def hyperplaneBands(emb: ArrayData, planes: Array[Double],
                      nBands: Int, bandBits: Int): ArrayData = {
    val np = nBands * bandBits
    val d = planes.length / math.max(1, np)
    val n = math.min(emb.numElements(), d)
    val out = new Array[Long](nBands)
    var p = 0
    while (p < np) {
      val off = p * d
      var dot = 0.0
      var i = 0
      while (i < n) { dot += emb.getFloat(i).toDouble * planes(off + i); i += 1 }
      if (dot >= 0) out(p / bandBits) |= (1L << (p % bandBits))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Pigeonhole block values of the simhash in one pass:
    * block b = (simhash >> blockBits·b) & mask.
    */
  def simhashBlocks(hashes: ArrayData, bits: Int, nBlocks: Int, blockBits: Int): ArrayData = {
    val sh = simhash(hashes, bits)
    val mask = (1L << blockBits) - 1
    val out = new Array[Long](nBlocks)
    var b = 0
    while (b < nBlocks) { out(b) = (sh >> (blockBits * b)) & mask; b += 1 }
    new GenericArrayData(out)
  }

  /** C40 kernel: keep each segment whose (trim → lowercase) normalization
    * is first-seen, preserving order and ORIGINAL text — the one-pass
    * hash-set replacement for the `array_position(normalized, x) == own
    * index` HOF formulation, which rescans the normalized array per
    * element (O(L²) per document; 2.4× the sf10 line_dedup wall time).
    * UTF8String.trim/toLowerCase are the exact kernels Spark's trim()/
    * lower() call, so keep/drop decisions are identical to the HOF's.
    */
  def keepFirstSegs(segs: ArrayData): ArrayData = {
    val n = segs.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(8, n * 2))
    val out = new Array[AnyRef](n)
    var kept = 0
    var i = 0
    while (i < n) {
      val s = segs.getUTF8String(i)
      if (seen.add(s.trim().toLowerCase())) { out(kept) = s; kept += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, kept).asInstanceOf[Array[Any]])
  }

  /** C43 kernel: per-subspace PQ (code, dist²) encoding — tight JIT loops
    * with EXACTLY the HOF formulation's fold order (subspace ascending,
    * code ascending, dimension ascending; strict-< first-min), so codes
    * and distances are bit-identical to the aggregate()-fold version and
    * the DuckDB oracle. `cb` is the flattened codebook:
    * cb[((s·ksub)+c)·sub + j] = codebook entry (s, c) dimension j.
    */
  def pqEncode(vec: ArrayData, cb: Array[Double], m: Int, ksub: Int, sub: Int): ArrayData = {
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val voff = s * sub
      var bestC = 0L
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * sub
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = vec.getFloat(voff + j).toDouble - cb(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(s) = org.apache.spark.sql.catalyst.InternalRow(bestC, bestD)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** C45 kernel: JL random projection — out[i] = √(3/r)·Σ_j w(i,j)·x[j]
    * with w(i,j) from the shared multiplicative hash of the flat index
    * i·d + j (residue 0 → +1, 1 → −1, else 0: the Achlioptas 1/6, 1/6,
    * 2/3 split). Fold order j-ascending with one final √(3/r) multiply —
    * bit-identical to the HOF twin and the DuckDB oracle.
    */
  def randProj(vec: ArrayData, r: Int): ArrayData = {
    val d = vec.numElements()
    val scale = math.sqrt(3.0 / r)
    val out = new Array[Any](r)
    var i = 0
    while (i < r) {
      var acc = 0.0
      var j = 0
      while (j < d) {
        val m = (i.toLong * d + j) * 2654435761L % 1000000007L % 6L
        if (m == 0L) acc += vec.getFloat(j).toDouble
        else if (m == 1L) acc -= vec.getFloat(j).toDouble
        j += 1
      }
      out(i) = scale * acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** C7/C18/C42 kernel: nearest-centroid POSITION by cosine — the
    * assignment argmax as one tight JIT loop. Fold order and tie/NaN
    * handling identical to the HOF formulation (centroids ascending,
    * strict > first-max, all-NaN rows land at position 0): per centroid
    * the cosine is computed exactly like [[cosineF]] (dimension-ascending
    * double folds), so the chosen cell can never differ from the
    * aggregate()-fold version. `cents` is the flattened float codebook
    * cents[c·dims + i].
    */
  def nearestCentroid(vec: ArrayData, cents: Array[Float], k: Int, dims: Int): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val base = c * dims
      val n = math.min(vec.numElements(), dims)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getFloat(i).toDouble
        val y = cents(base + i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** C38 kernel: DSIR hashed n-gram feature buckets in ONE pass —
    * lowercase, tokenize on Java-regex-\s whitespace runs (empties
    * dropped), then emit rolling-hash(mod 2³⁰-ish prime) % b for every
    * unigram FOLLOWED BY every bigram (the `concat(arr, bigs)` order of
    * the HOF formulation). Bigram hashes continue the left token's fold
    * through a literal space (h(a⧺' '⧺b)), exactly what hashing the
    * concat_ws(" ", a, b) string produces — no bigram strings are ever
    * materialized. Matches lower() ∘ split(\s+) ∘ rolling_hash
    * bit-for-bit; parity fuzz-tested in DsirSpec.
    */
  def dsirFeatBuckets(s: UTF8String, b: Long): ArrayData = {
    val str = s.toLowerCase().toString
    val mod = 1000000007L
    val uni = new scala.collection.mutable.ArrayBuffer[Long]()
    val bi = new scala.collection.mutable.ArrayBuffer[Long]()
    var prev = -1L // previous token's full rolling hash, -1 = none
    var i = 0
    val n = str.length
    while (i < n) {
      val cp0 = str.codePointAt(i)
      if (isWs(cp0)) i += Character.charCount(cp0)
      else {
        var h = 0L
        var j = i
        while (j < n && !isWs(str.codePointAt(j))) {
          val cp = str.codePointAt(j)
          h = (h * 31 + cp) % mod
          j += Character.charCount(cp)
        }
        uni += h % b
        if (prev >= 0) {
          // continue prev's fold through ' ' (32) then this token
          var hb = (prev * 31 + 32) % mod
          var t = i
          while (t < j) {
            val cp = str.codePointAt(t)
            hb = (hb * 31 + cp) % mod
            t += Character.charCount(cp)
          }
          bi += hb % b
        }
        prev = h
        i = j
      }
    }
    new GenericArrayData((uni ++ bi).toArray)
  }

  /** Java regex \s character class (ASCII whitespace). */
  @inline private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  /** C38 kernel: featurize AND fold the bucket→weight table in one call —
    * returns (n_feats, Σ w[bucket]) with the fold in feature order
    * (unigrams then bigrams, the exact add order of the HOF
    * aggregate() and the oracle's list_reduce). `w` is bucket-indexed
    * with the unseen-bucket fallback pre-filled, so lookup is an array
    * read, not a map probe.
    */
  def dsirScore(s: UTF8String, w: Array[Double], b: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val feats = dsirFeatBuckets(s, b)
    val n = feats.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(feats.getLong(i).toInt); i += 1 }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, acc)
  }

  /** C43b kernel: asymmetric (ADC) PQ distance — Σ over subspaces of
    * dist²(query subvector, codebook[code_s]); same fold order as the
    * HOF formulation (s ascending, j ascending), bit-identical result.
    */
  def pqAdc(q: ArrayData, codes: ArrayData, cb: Array[Double], m: Int, ksub: Int, sub: Int): Double = {
    var total = 0.0
    var s = 0
    while (s < m) {
      val qoff = s * sub
      val base = (s * ksub + codes.getLong(s).toInt) * sub
      var d = 0.0
      var j = 0
      while (j < sub) {
        val diff = q.getFloat(qoff + j).toDouble - cb(base + j)
        d += diff * diff
        j += 1
      }
      total += d
      s += 1
    }
    total
  }
}

/** D3: a native kernel call is Spark's own `StaticInvoke` of one
  * [[Kernels]] method. Interpreted eval finds the method by reflection;
  * generated code calls `graft.functions.Kernels.<method>(...)` directly,
  * so whole-stage codegen keeps one JIT loop per row. A null argument
  * gives null, which also makes the call null-intolerant for filter
  * inference; no kernel returns null.
  */
object KernelCall {
  val LongArray: DataType = ArrayType(LongType, containsNull = false)

  /** `Kernels.<method>(args)`: an Expression or Column argument passes as
    * is, an array as one constant table, any other value as a literal. A
    * constant table (planes, codebook, centroids, weights, parsed
    * profiles) is a `Literal` of ObjectType, which codegen emits as one
    * reference object, so plan and generated code stay O(1) in its size.
    */
  def apply(method: String, dataType: DataType, args: Any*): Expression =
    StaticInvoke(Kernels.getClass, dataType, method, args.map {
      case e: Expression => e
      case c: Column => DatasetShim.expression(c)
      case a: Array[_] => Literal(a, ObjectType(a.getClass))
      case v => Literal(v)
    }, propagateNull = true, returnNullable = false)

  def column(method: String, dataType: DataType, args: Any*): Column =
    DatasetShim.column(apply(method, dataType, args: _*))
}

/** Registers the native expressions into the session's function registry
  * (use via `GraftSession` / `SparkSession.builder().withExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import KernelCall.LongArray

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  // a profiles spec must be a literal: it is parsed once, at analysis
  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // row kernels: each SQL name is one Kernels method (KernelCall)
    def kernel(name: String)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Kernels", name), build))
    kernel("graft_cosine")(es => KernelCall("cosineF", DoubleType, es(0), es(1)))
    kernel("graft_rolling_hash")(es => KernelCall("rollingHash", LongType, es.head, 31L, 1000000007L))
    kernel("graft_minhash_sig")(es =>
      KernelCall("minhashSig", LongArray, es(0), litInt(es(1), "nPerms")))
    kernel("graft_simhash")(es => KernelCall("simhash", LongType, es(0), litInt(es(1), "bits")))
    kernel("graft_shingle_hashes")(es =>
      KernelCall("shingleHashes", LongArray, es(0), litInt(es(1), "k"), 31L, 1000000007L))
    kernel("graft_minhash_bands")(es => KernelCall("minhashBands", LongArray, es(0),
      litInt(es(1), "nBands"), litInt(es(2), "rowsPerBand")))
    kernel("graft_stopword_hits")(es => KernelCall("stopwordHits", LongArray, es(0),
      Kernels.parseProfiles(litString(es(1), "profiles spec"))))
    kernel("graft_winnow") { es =>
      val (l, w) = (litInt(es(1), "l"), litInt(es(2), "w"))
      require(l >= 1 && w >= 1, s"graft_winnow needs l >= 1 and w >= 1, got l=$l w=$w")
      KernelCall("winnowHashes", LongArray, es(0), l, w)
    }
    kernel("graft_nfc")(es => KernelCall("nfc", StringType, es.head))
    kernel("graft_char_entropy")(es => KernelCall("charEntropy", StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("h", DoubleType, nullable = false))), es.head))
    kernel("graft_sortable_bits")(es => KernelCall("sortableBits", LongType, es.head))
    kernel("graft_keep_first")(es =>
      KernelCall("keepFirstSegs", ArrayType(StringType, containsNull = false), es.head))
    kernel("graft_dsir_feats") { es =>
      val b = litLong(es(1), "b")
      require(b > 0, s"graft_dsir_feats needs b > 0, got $b")
      KernelCall("dsirFeatBuckets", LongArray, es(0), b)
    }
    kernel("graft_simhash_blocks")(es => KernelCall("simhashBlocks", LongArray, es(0),
      litInt(es(1), "bits"), litInt(es(2), "nBlocks"), litInt(es(3), "blockBits")))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (es: Seq[Expression]) => TopKAgg(es(0), litInt(es(1), "k"))))
    ext.injectFunction((FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "graft_heavy_hitters"),
      (es: Seq[Expression]) => HeavyHittersAgg(es(0), litInt(es(1), "capacity"))))
    ext.injectFunction((FunctionIdentifier("graft_hll"),
      new ExpressionInfo(classOf[HllAgg].getName, "graft_hll"),
      (es: Seq[Expression]) => HllAgg(es(0), litInt(es(1), "p"))))
    ext.injectFunction((FunctionIdentifier("graft_moments"),
      new ExpressionInfo(classOf[MomentsAgg].getName, "graft_moments"),
      (es: Seq[Expression]) => MomentsAgg(es.head)))
    // Spark's bloom sketch pair (BloomFilterAggregate builds the filter,
    // BloomFilterMightContain probes it, both codegen-backed) exists only
    // for the engine's internal runtime-filter rewrite — neither is in
    // the public SQL registry. Expose both so plans can build and probe
    // the sketch explicitly (C23b decontaminate_bloom).
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (es: Seq[Expression]) => new BloomFilterAggregate(es(0), es(1), es(2))))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (es: Seq[Expression]) => BloomFilterMightContain(es(0), es(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.EdfIngestStrategy)
    // D6: opt-in count(DISTINCT) -> graft_hll sketch rewrite (off unless
    // spark.graft.approxDistinct=true; see ApproxDistinctRewrite)
    ext.injectOptimizerRule(session => graft.plans.ApproxDistinctRewrite(session))

    // SQL-only entry points: flagship operators as table-valued
    // functions — `SELECT * FROM graft_curate('/data/sf0.1')`. The plan
    // injected at resolution is exactly the DataFrame API operator's
    // logical plan, so SQL users get the identical optimized shape
    // (scan fusion, broadcasts, native expressions). Args must be
    // literals (they parameterize the PLAN, not a row expression).
    def injectTvf(name: String)(build: Seq[Expression] => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExtensions", name),
        (es: Seq[Expression]) => build(es).queryExecution.logical))
    def tablesAt(e: Expression): graft.Tables =
      new graft.Tables(org.apache.spark.sql.SparkSession.active, litString(e, "table dir"))
    injectTvf("graft_curate") { es =>
      graft.operators.TextAnalysis.curate(tablesAt(es.head))
    }
    injectTvf("graft_lang_id") { es =>
      graft.operators.TextAnalysis.langId(tablesAt(es.head))
    }
    injectTvf("graft_corpus_stats") { es =>
      graft.operators.TextAnalysis.corpusStats(tablesAt(es.head))
    }
    injectTvf("graft_dedup_minhash") { es =>
      graft.operators.Dedup.dedupMinhash(tablesAt(es.head))
    }
    injectTvf("graft_ann_topk") { es =>
      val id = if (es.size > 1) litLong(es(1), "query_vec_id") else 0L
      val k = if (es.size > 2) litLong(es(2), "k").toInt else 10
      graft.operators.Similarity.annTopK(tablesAt(es.head), id, k)
    }
    // the WHOLE driver query surface, generically:
    //   SELECT * FROM graft_q('q1_pricing', '/data/sf0.1')
    // every SparkEntry.queries entry is reachable from pure SQL without
    // a per-operator registration.
    injectTvf("graft_q") { es =>
      val name = litString(es(0), "query name")
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown graft query '$name'; available: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      fn(org.apache.spark.sql.SparkSession.active, litString(es(1), "table dir"))
    }
    // The reference's end-to-end task loop from pure SQL:
    //   SELECT * FROM graft_edf_ingest('<watch dir>', '<out dir>'[, '<ckpt>'])
    // drains every landed-but-unprocessed EDF file (AvailableNow — the
    // reference's one-shot loop), appends it into the output contract via
    // the replay-safe streaming sink, and returns the resulting channel
    // index as rows. The drain is DEFERRED to execution: analysis only
    // places [[graft.plans.EdfIngestPlan]], so EXPLAIN / schema
    // inspection / re-analysis stay side-effect free; semantics,
    // checkpoint default, and idempotent re-run are documented on that
    // plan (review r16 ADVICE).
    ext.injectTableFunction((FunctionIdentifier("graft_edf_ingest"),
      new ExpressionInfo("graft.functions.GraftExtensions", "graft_edf_ingest"),
      (es: Seq[Expression]) => {
        val out = litString(es(1), "out dir")
        graft.plans.EdfIngestPlan(litString(es(0), "watch dir"), out,
          if (es.size > 2) litString(es(2), "checkpoint dir") else s"$out/_checkpoint")
      }))
  }
}

/** Column-level entry points (require a session built with GraftExtensions). */
object native {
  def cosine_sim(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def rolling_hash(c: Column): Column = call_function("graft_rolling_hash", c)
  def minhash_sig(c: Column, nPerms: Int): Column = call_function("graft_minhash_sig", c, lit(nPerms))
  def simhash48(c: Column): Column = call_function("graft_simhash", c, lit(48))
}
