package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text/vector sketching hot paths.
  *
  * Why not higher-order functions: Spark's HOFs (`transform`/`aggregate`/
  * `zip_with`) are evaluated interpreted — no whole-stage codegen, no common
  * subexpression elimination — so a shingle built as
  * `transform(sequence(...), i -> concat_ws(element_at(split(text),...)))`
  * re-evaluates `split(text)` for every element access: ~1 ms/row on a
  * 54-token document (measured at sf0.1). These expressions do one pass of
  * compiled Scala per row and participate in whole-stage codegen via a
  * static call, which keeps the surrounding stage fused.
  *
  * Each expression = static kernel in [[Sketch]] + `eval`/`doGenCode` that
  * call it, so interpreted and codegen paths share one implementation.
  */
object Sketch {

  /** Distinct word n-gram shingles over a token array, joined by ' '. */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val num = tokens.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= num - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(): Array[AnyRef])
  }

  /** POSITIONAL word n-gram hashes: xxh64 (seed 42) of each length-n token
    * window joined by ' ', in window order — value-identical per position
    * to `xxhash64(array_join(slice(tokens, i, n), " "))`, as one compiled
    * pass. Unlike [[shingles]] this keeps duplicates and order (index i ↔
    * window starting at token i+1), which is what the positional-repeat
    * kernels (repeatSpans, dupShingleFrac) consume; the HOF spelling they
    * replaced evaluated interpreted and re-allocated slice+join per
    * element (measured the dominant 32-task stage of q_text_repeat_spans).
    */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val num = tokens.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](num - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= num - n) {
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(sep, parts: _*)
      out(i) =
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** k seeded xxh64 min-hashes over a set of strings (one pass per seed
    * dimension, k×|set| hashes total, no allocation beyond the signature).
    */
  def minhash(elems: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val num = elems.numElements()
    var i = 0
    while (i < num) {
      val s = elems.getUTF8String(i)
      var seed = 0
      while (seed < k) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed.toLong)
        if (h < sig(seed)) sig(seed) = h
        seed += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash: per-token xxh64, per-bit +1/−1 vote, sign → bit. */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val num = tokens.numElements()
    var i = 0
    while (i < num) {
      val s = tokens.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Fraction of positions where two long-array signatures agree — the
    * MinHash Jaccard estimator. One compiled pass, no per-element lambda.
    */
  def sigMatchFraction(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  /** All ordered (a < b) id pairs of one posting list — the candidate
    * generator of the shingle-bucket dedup join, as one compiled pass.
    * Input ids are distinct (a document contributes a shingle once);
    * sorting makes a < b canonical. Output size C(n,2) is bounded by the
    * upstream document-frequency cap.
    */
  def sortedIdPairs(docs: ArrayData): ArrayData = {
    val n = docs.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = docs.getLong(i); i += 1 }
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](ids(i), ids(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Intra-document repeat SEEDS in one compiled pass: the (pos, g) pairs
    * of [[shingleHashes]] windows whose gram hash occurs ≥ 2 times in the
    * SAME document, in window order (pos is 1-based). Fuses the
    * repeat-spans selection pipeline — window hashes → sorted-neighbor
    * duplicate-gram set → per-position membership filter — whose HOF
    * spelling (array_sort + filter(try_element_at) + transform/filter +
    * array_contains per position) evaluated interpreted and was the
    * dominant 32-task stage of q_text_repeat_spans (~11 core-seconds at
    * sf0.1 for ~1 M positions). Output values are identical: same window
    * hash (xxh64 seed 42 of the ' '-joined window), same ≥2-occurrence
    * predicate, same order.
    */
  def repeatSeeds(tokens: ArrayData, n: Int): ArrayData = {
    val num = tokens.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val m = num - n + 1
    val hs = new Array[Long](m)
    val sep = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(sep, parts: _*)
      hs(i) =
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    // duplicate-gram membership via a sorted copy (primitive, no boxing):
    // h occurs >= 2 times iff a sorted neighbor of ANY of its slots equals
    // it — binarySearch lands somewhere inside the run, so one equal
    // neighbor on either side decides.
    val sorted = hs.clone()
    java.util.Arrays.sort(sorted)
    val out = new java.util.ArrayList[Any](16)
    i = 0
    while (i < m) {
      val h = hs(i)
      val idx = java.util.Arrays.binarySearch(sorted, h)
      if ((idx > 0 && sorted(idx - 1) == h) ||
          (idx + 1 < m && sorted(idx + 1) == h)) {
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i + 1, h)))
      }
      i += 1
    }
    new GenericArrayData(out.toArray())
  }

  /** Per-document character-distribution scalars in one compiled pass:
    * (n chars, Σ count(ch)², max count(ch)) over UTF-16 code units —
    * identical to split(text, "") + per-char filters on the fixture's
    * ASCII corpus, ~60× cheaper: the HOF spelling re-filtered the whole
    * char array once per DISTINCT char per statistic (O(|alphabet|·n)
    * interpreted), which the honest-measurement bench exposed as the
    * single most expensive query in the suite (6.9 s at sf0.1).
    */
  def charStats(s: UTF8String): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val str = s.toString
    val n = str.length
    // ASCII fast path: a 128-slot array; rare non-ASCII chars overflow to
    // a map. Counts are exact either way.
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Character, Array[Long]] = null
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c < 128) ascii(c) += 1L
      else {
        if (other == null) other = new java.util.HashMap[Character, Array[Long]]()
        var cell = other.get(c)
        if (cell == null) { cell = new Array[Long](1); other.put(c, cell) }
        cell(0) += 1L
      }
      i += 1
    }
    var sumSq = 0L
    var maxCnt = 0L
    i = 0
    while (i < 128) {
      val c = ascii(i)
      sumSq += c * c
      if (c > maxCnt) maxCnt = c
      i += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        sumSq += c * c
        if (c > maxCnt) maxCnt = c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, sumSq, maxCnt))
  }

  /** Per-document bigram repetition scalars in one compiled hash-map pass:
    * (total bigrams, distinct bigrams, most-frequent bigram's count).
    * Equivalent to explode → groupBy(doc, bigram) → groupBy(doc), computed
    * without shuffling anything — the whole statistic is row-local.
    */
  def bigramStats(tokens: ArrayData): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val num = tokens.numElements()
    val total = math.max(num - 1, 0)
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    val sep = UTF8String.fromString(" ")
    var top = 0
    var i = 0
    while (i < total) {
      val bg = UTF8String.concatWs(sep, tokens.getUTF8String(i), tokens.getUTF8String(i + 1))
      var c = counts.get(bg)
      if (c == null) { c = new Array[Int](1); counts.put(bg, c) }
      c(0) += 1
      if (c(0) > top) top = c(0)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total.toLong, counts.size.toLong, top.toLong))
  }

  /** Adjacent token pairs as one compiled pass: out(i) = (t(i), t(i+1)).
    * The UTF8String elements are passed through BY REFERENCE — no string
    * copying — where the HOF formulation (`zip_with(t, slice(concat(t,
    * array('')), 2, size(t)), ...)`) materializes three intermediate
    * arrays and copies every token once per array. Measured at sf10
    * (PERF_r08.md, "sf10 probe"): q_text_bigram_logprob 30.0 → 8.6 s.
    */
  def bigramPairs(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val total = math.max(n - 1, 0)
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](tokens.getUTF8String(i), tokens.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Index of the nearest centroid by squared L2 — the IVF/k-means
    * assignment step as one compiled pass over the vector. Ties break to
    * the lowest index (deterministic). The centroid matrix is expression
    * state (KB-scale model), shipped to executors with the serialized
    * plan — nothing per-row crosses the driver.
    */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]], isFloat: Boolean): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(v.numElements(), cent.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - cent(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Strided byte downsample: every `stride`-th byte of the payload,
    * capped at `maxBytes` output bytes — reads ≤ maxBytes·stride input
    * bytes regardless of payload size (the hex+substr spelling it
    * replaced walked the full hex string once per OUTPUT byte:
    * O(len·maxBytes) per row, ~0.9 s of q_media_resize at sf0.1).
    */
  def strideBytes(b: Array[Byte], stride: Int, maxBytes: Int): Array[Byte] = {
    val nOut = math.min(maxBytes, (b.length + stride - 1) / stride)
    val out = new Array[Byte](math.max(nOut, 0))
    var i = 0
    while (i < nOut) { out(i) = b(i * stride); i += 1 }
    out
  }

  /** L2 distance from a vector to the centroid of its label — the bound
    * `labels`/`cents` pair is a driver-collected model (labels ≪ corpus by
    * contract). Element order ascending, f64 accumulation, sqrt at the end:
    * the exact arithmetic of the unrolled 64-term column expression this
    * kernel replaced (one codegen node instead of a ~400-node tree whose
    * per-action analysis cost dominated the whole query — PERF_r10 §3).
    */
  def distToLabelCentroid(v: ArrayData, label: Int, labels: Array[Int],
      cents: Array[Array[Double]], isFloat: Boolean): Double = {
    var li = 0
    while (li < labels.length && labels(li) != label) li += 1
    if (li == labels.length)
      throw new IllegalArgumentException(
        s"label $label has no centroid (model has ${labels.length} labels)")
    val cent = cents(li)
    val n = math.min(v.numElements(), cent.length)
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - cent(i)
      d += x * x
      i += 1
    }
    math.sqrt(d)
  }

  /** Cosine similarity of two numeric arrays, accumulated in f64 in element
    * order (matches the DuckDB oracle's list_sum(list_transform(...)) form
    * bit-for-bit at the rounding precision used).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    // zero-norm vectors (padding, failed encoders) define similarity 0,
    // not NaN — NaN sorts as the LARGEST double and would top every top-k
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Max cosine similarity of `v` against a model-sized vector set, as one
    * compiled pass: the per-pair arithmetic is [[cosine]]'s loop verbatim
    * (same accumulation order, same sqrt(na)*sqrt(nb) denominator, same
    * zero-norm→0 rule — the set side's values are the same doubles the
    * broadcast row would carry, collected once on the driver), so
    * max-then-quantize equals the quantize-then-max of the crossJoin
    * spelling it replaces (quantization is monotone, max commutes).
    * Callers must guard the empty set (a crossJoin with an empty side
    * yields no rows; a max over nothing has no defined value here).
    */
  def maxCosineVsSet(v: ArrayData, set: Array[Array[Double]],
      norms: Array[Double], isFloat: Boolean): Double = {
    // one extraction of v per ROW (not per pair): the 500-pair inner loop
    // then runs on plain double[] — JIT-vectorizable, no ArrayData
    // virtual calls. Accumulators are independent, so splitting cosine's
    // single interleaved loop into per-accumulator loops changes no
    // double: each accumulator sees the same addends in the same order.
    val nv = v.numElements()
    val xs = new Array[Double](nv)
    var i = 0
    while (i < nv) {
      xs(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    var naFull = 0.0
    i = 0
    while (i < nv) { naFull += xs(i) * xs(i); i += 1 }
    val sqrtNaFull = math.sqrt(naFull)
    var best = Double.NegativeInfinity
    var j = 0
    while (j < set.length) {
      val b = set(j)
      val c =
        if (b.length == nv) {
          // equal lengths (the embedding-table case): cosine()'s n =
          // min(len) covers both sides fully, so the hoisted row norm and
          // the precomputed set norm are cosine()'s na/nb exactly
          var dot = 0.0
          var k = 0
          while (k < nv) { dot += xs(k) * b(k); k += 1 }
          val denom = sqrtNaFull * norms(j)
          if (denom == 0.0) 0.0 else dot / denom
        } else {
          // length mismatch: cosine() truncates BOTH sides to min(len),
          // making na pair-dependent — replay its loop verbatim
          val n = math.min(nv, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var k = 0
          while (k < n) {
            val x = xs(k); val y = b(k)
            dot += x * y; na += x * x; nb += y * y
            k += 1
          }
          val denom = math.sqrt(na) * math.sqrt(nb)
          if (denom == 0.0) 0.0 else dot / denom
        }
      if (c > best) best = c
      j += 1
    }
    best
  }

  /** The set-side norms [[maxCosineVsSet]] hoists: sqrt of the same
    * sequential y·y accumulation cosine()'s loop performs.
    */
  def setNorms(set: Array[Array[Double]]): Array[Double] =
    set.map { b =>
      var nb = 0.0
      var i = 0
      while (i < b.length) { nb += b(i) * b(i); i += 1 }
      math.sqrt(nb)
    }

  /** Best language profile for a (lowered) token array — one compiled
    * pass over the tokens, value-identical to the HOF spelling
    * `greatest(struct(round(size(filter(toks, t -> t IN profile)) /
    * greatest(size(toks), 1), 6), lang) …)`:
    *  - hits count every occurrence (filter keeps duplicates), null
    *    tokens never match (`t === w` is null → filtered);
    *  - the score replicates Catalyst Round's HALF_UP BigDecimal path;
    *  - `greatest` over (score, lang) structs is field-order comparison —
    *    strictly-greater score wins, ties fall to the binary-greater lang.
    * Scores are finite (denominator ≥ 1), so plain double compare is the
    * nan-safe compare.
    */
  def bestLang(toks: ArrayData, langs: Array[UTF8String],
      profiles: Array[Array[UTF8String]])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val n = toks.numElements()
    val denom = math.max(n, 1).toDouble
    var bestScore = Double.NegativeInfinity
    var bestL: UTF8String = null
    var p = 0
    while (p < profiles.length) {
      val prof = profiles(p)
      var hits = 0
      var i = 0
      while (i < n) {
        if (!toks.isNullAt(i)) {
          val t = toks.getUTF8String(i)
          var j = 0
          var found = false
          while (j < prof.length && !found) {
            if (t.equals(prof(j))) found = true
            j += 1
          }
          if (found) hits += 1
        }
        i += 1
      }
      val score = java.math.BigDecimal.valueOf(hits.toDouble / denom)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (score > bestScore ||
          (score == bestScore && (bestL == null || langs(p).compareTo(bestL) > 0))) {
        bestScore = score; bestL = langs(p)
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestScore, bestL))
  }

  /** Sign-bit coarse-quantizer cell id: Σ 2^i over the first `bits` dims
    * with v(i) > 0 — value-identical to the HOF spelling
    * `aggregate(transform(sequence(0, bits-1), i -> when(v[i+1] > 0,
    * pow(2, i))...), cast long)`: the double sum of distinct powers of
    * two below 2^53 is exact, so summing longs directly changes nothing;
    * out-of-range dims contribute 0 (element_at → null → otherwise-0);
    * the comparison replicates Spark's nan-safe float semantics (NaN
    * compares GREATER than any value, so NaN > 0 is true — Java's
    * primitive `>` alone would flip it).
    */
  def signCell(v: ArrayData, bits: Int, isFloat: Boolean): Long = {
    // `1L << i` wraps silently at i >= 64 (and the documented value-identity
    // to the double-sum HOF only holds below 2^53): an out-of-domain bit
    // count must fail loudly, never alias cells (ADVICE r14). `bits` is a
    // runtime Column (adaptiveBits), so the guard lives here, per row — one
    // predictable branch, free next to the dim loop.
    require(bits <= 63,
      s"sign_cell: bits must be <= 63 (cell ids are one long), got $bits")
    val n = math.min(bits, v.numElements())
    var cell = 0L
    var i = 0
    while (i < n) {
      val positive =
        if (isFloat) {
          val x = v.getFloat(i)
          x > 0f || java.lang.Float.isNaN(x)
        } else {
          val x = v.getDouble(i)
          x > 0d || java.lang.Double.isNaN(x)
        }
      if (positive) cell |= (1L << i)
      i += 1
    }
    cell
  }

  // ---- portable (md5-based) sketch kernels ---------------------------------
  // These exist so the oracle-checked dedup queries hash identically in
  // DuckDB: md5 is the one hash both engines share, so signatures derived
  // from it (by exact integer arithmetic) replay bit-for-bit in SQL. The
  // xxh64 kernels above remain the cheap engine-local path (streaming).

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private final val MERSENNE31 = 2147483647L

  /** 60-bit base hash of a string: first 15 hex chars of its md5 (= the
    * first 8 digest bytes big-endian, low nibble dropped), reduced mod
    * 2³¹−1. DuckDB twin: `('0x' || substr(md5(s),1,15))::BIGINT % 2147483647`.
    */
  private def md5Base31(s: UTF8String): Long = {
    val dg = md5Local.get()
    dg.reset()
    val digest = dg.digest(s.getBytes)
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (digest(i) & 0xFFL); i += 1 }
    (be >>> 4) % MERSENNE31
  }

  /** Portable k-dim MinHash: per element one md5, k universal-style
    * permutations (aᵢ·h + bᵢ) mod 2³¹−1, component-wise min.
    */
  def md5Minhash(elems: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val num = elems.numElements()
    var i = 0
    while (i < num) {
      val h = md5Base31(elems.getUTF8String(i))
      var seed = 0
      while (seed < k) {
        val g = ((seed + 1L) * h + seed * 7919L) % MERSENNE31
        if (g < sig(seed)) sig(seed) = g
        seed += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Portable 64-bit SimHash as 4×16-bit chunk ints: per-token md5, bit j
    * read from hex digit j/4 at weight 2^(3−j%4), majority vote
    * 2·ones > n, chunk c packs votes 16c..16c+15 at weights 2^(j−16c).
    */
  def md5SimhashChunks(tokens: ArrayData): ArrayData = {
    val ones = new Array[Int](64)
    val num = tokens.numElements()
    var i = 0
    while (i < num) {
      val dg = md5Local.get()
      dg.reset()
      val digest = dg.digest(tokens.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        val b = digest(j >> 3) & 0xFF
        val digit = if (((j >> 2) & 1) == 0) b >>> 4 else b & 0xF
        ones(j) += (digit >>> (3 - (j & 3))) & 1
        j += 1
      }
      i += 1
    }
    val cks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var ck = 0
      var jj = 0
      while (jj < 16) {
        if (2 * ones(c * 16 + jj) > num) ck |= (1 << jj)
        jj += 1
      }
      cks(c) = ck
      c += 1
    }
    new GenericArrayData(cks)
  }
}

/** `char_stats(text)`: (n, Σcnt², max cnt) of the char distribution. */
case class CharStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("max_cnt", LongType, nullable = false)))
  override def prettyName: String = "char_stats"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.charStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.charStats($c)")
  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}

/** `word_shingles(tokens, n)`: distinct word n-gram shingles. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.shingles(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.shingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `minhash_sig(elems, k)`: k-dim MinHash signature (array<long>). */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"signature size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.minhash(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.minhash($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `simhash64(tokens)`: 64-bit SimHash signature. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `sig_match_frac(a, b)`: fraction of equal components of two long-array
  * signatures (the MinHash Jaccard estimate). Native so the LSH candidate
  * join's estimate stays inside whole-stage codegen — the zip_with/filter
  * HOF form evaluates interpreted, per candidate row.
  */
case class SigMatchFraction(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_match_frac"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got ${l.sql}, ${r.sql}")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sketch.sigMatchFraction(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sketch.sigMatchFraction($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchFraction =
    copy(left = newLeft, right = newRight)
}

/** `sorted_id_pairs(ids)`: all a < b pairs of a bigint posting list as
  * array<struct<a,b>> — candidate-pair generation for bucketed dedup
  * without a self-join: explode this over a (bucket → ids) index and the
  * only shuffle left in a pair query is the final (a, b) aggregation.
  */
case class SortedIdPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "sorted_id_pairs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.sortedIdPairs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.sortedIdPairs($c)")
  override protected def withNewChildInternal(newChild: Expression): SortedIdPairs =
    copy(child = newChild)
}

/** `bigram_pairs(tokens)`: array<struct<w1, w2>> of adjacent token pairs —
  * the bigram-generation kernel of the LM ops as a single compiled pass
  * with by-reference strings (see Sketch.bigramPairs).
  */
case class BigramPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))), containsNull = false)
  override def prettyName: String = "bigram_pairs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.bigramPairs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.bigramPairs($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)
}

/** `bigram_stats(tokens)`: struct<n_bigrams, n_distinct_bigrams,
  * top_bigram_cnt> — the Gopher repetition scalars as one row-local pass,
  * replacing an explode + double-groupBy plan that shuffled the tokenized
  * corpus for a per-document answer.
  */
case class BigramStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false),
    StructField("top_bigram_cnt", LongType, nullable = false)))
  override def prettyName: String = "bigram_stats"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.bigramStats(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.bigramStats($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramStats =
    copy(child = newChild)
}

/** `nearest_centroid(vec)`: index of the closest centroid (squared L2) —
  * the k-means/IVF assignment step. The centroid matrix is carried by the
  * expression itself (model state, k×dim doubles), so assignment is a
  * codegen'd map-side pass with zero joins and zero shuffles.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${t.sql}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.nearestCentroid(input.asInstanceOf[ArrayData], centroids, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.nearestCentroid($c, $ref, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** `stride_bytes(payload)`: strided byte downsample of a binary column
  * (see [[Sketch.strideBytes]]) — the codegen'd core of the media resize
  * stub's byte selection.
  */
case class StrideBytes(child: Expression, stride: Int, maxBytes: Int)
    extends UnaryExpression {
  require(stride >= 1 && maxBytes >= 1,
    s"need stride/maxBytes >= 1, got $stride/$maxBytes")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "stride_bytes"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.strideBytes(input.asInstanceOf[Array[Byte]], stride, maxBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.strideBytes($c, $stride, $maxBytes)")
  override protected def withNewChildInternal(newChild: Expression): StrideBytes =
    copy(child = newChild)
}

/** `dist_to_label_centroid(vec, label)`: L2 distance from a vector to its
  * label's centroid. The (labels, centroid-matrix) model is carried by the
  * expression (driver-collected, |labels|×dim doubles), so the distance is
  * one codegen'd map-side node — no broadcast join and no wide per-dim
  * column tree (see [[Sketch.distToLabelCentroid]]).
  */
case class DistToLabelCentroid(left: Expression, right: Expression,
    labels: Array[Int], centroids: Array[Array[Double]])
    extends BinaryExpression {
  require(labels.nonEmpty && labels.length == centroids.length,
    s"label/centroid model mismatch: ${labels.length} vs ${centroids.length}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dist_to_label_centroid"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, int), got ${l.sql}, ${r.sql}")
  }
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(v: Any, label: Any): Any =
    Sketch.distToLabelCentroid(v.asInstanceOf[ArrayData],
      label.asInstanceOf[Int], labels, centroids, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val labRef = ctx.addReferenceObj("labels", labels, "int[]")
    val centRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, (v, l) =>
      s"graft.functions.Sketch.distToLabelCentroid($v, $l, $labRef, $centRef, $isFloat)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DistToLabelCentroid =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim(a, b)`: cosine similarity of two float/double arrays. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<float|double> arguments, got ${l.sql}, ${r.sql}")
  }
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"cosine_sim requires array<float|double>, got $t")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sketch.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.cosine($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `max_cosine_sim(v)`: max cosine similarity of a vector against a
  * model-sized vector set carried BY the expression (driver-collected,
  * |set|×dim doubles — the [[DistToLabelCentroid]] stance). Replaces a
  * broadcast crossJoin fanout of |set| rows + partial max with one
  * codegen'd map-side call per row (see [[Sketch.maxCosineVsSet]] for the
  * bit-identity argument).
  *
  * Known limitation (shared with [[NearestCentroid]]/[[BestLang]], ADVICE
  * r14): the model state is an `Array` case-class param, and array
  * equality is reference-based, so two semantically identical instances
  * never compare equal — plan canonicalization / exchange reuse can't
  * dedup across separately-built copies. Harmless here: each operator
  * collects the model once per call and every consumer of that call
  * shares the single instance.
  */
case class MaxCosineSim(child: Expression, vecs: Array[Array[Double]])
    extends UnaryExpression {
  require(vecs.nonEmpty, "max_cosine_sim needs a non-empty vector set")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_cosine_sim"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${t.sql}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  // hoisted set-side norms (pure function of vecs — same accumulation as
  // cosine()'s nb; see Sketch.maxCosineVsSet)
  private lazy val norms: Array[Double] = Sketch.setNorms(vecs)
  override protected def nullSafeEval(v: Any): Any =
    Sketch.maxCosineVsSet(v.asInstanceOf[ArrayData], vecs, norms, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("vecs", vecs, "double[][]")
    val normRef = ctx.addReferenceObj("norms", norms, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.Sketch.maxCosineVsSet($v, $setRef, $normRef, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): MaxCosineSim =
    copy(child = newChild)
}

/** `best_lang(toks)`: winning (score, lang) over the expression-carried
  * language profiles (see [[Sketch.bestLang]]) — replaces |profiles|
  * interpreted filter-lambdas per row with one compiled pass.
  */
case class BestLang(child: Expression, langs: Array[String],
    profiles: Array[Array[String]]) extends UnaryExpression {
  require(langs.nonEmpty && langs.length == profiles.length,
    s"lang/profile model mismatch: ${langs.length} vs ${profiles.length}")
  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("lang", StringType, nullable = false)))
  override def prettyName: String = "best_lang"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  @transient private lazy val langsU: Array[UTF8String] =
    langs.map(UTF8String.fromString)
  @transient private lazy val profilesU: Array[Array[UTF8String]] =
    profiles.map(_.map(UTF8String.fromString))
  override protected def nullSafeEval(input: Any): Any =
    Sketch.bestLang(input.asInstanceOf[ArrayData], langsU, profilesU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val langsRef = ctx.addReferenceObj("langs", langsU,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val profRef = ctx.addReferenceObj("profiles", profilesU,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.bestLang($c, $langsRef, $profRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BestLang =
    copy(child = newChild)
}

/** `sign_cell(v, bits)`: sign-bit coarse-quantizer cell id (see
  * [[Sketch.signCell]]). Replaces the interpreted HOF chain
  * (sequence→transform→pow→aggregate per row) with one compiled pass;
  * `bits` stays an expression so the corpus-adaptive bit count (a
  * broadcast-count CASE) rides through unchanged.
  */
case class SignCell(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_cell"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, int), got ${l.sql}, ${r.sql}")
  }
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(v: Any, bits: Any): Any =
    Sketch.signCell(v.asInstanceOf[ArrayData], bits.asInstanceOf[Int], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, b) =>
      s"graft.functions.Sketch.signCell($v, $b, $isFloat)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignCell =
    copy(left = newLeft, right = newRight)
}

/** `md5_minhash_sig(elems, k)`: portable MinHash signature — md5-based
  * integer arithmetic a SQL oracle replays bit-for-bit (see
  * [[Sketch.md5Minhash]]). One compiled pass; the HOF spelling of the same
  * formula measured ~100× slower (interpreted lambdas, no CSE).
  */
case class Md5MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"signature size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.md5Minhash(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.md5Minhash($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Md5MinHashSig =
    copy(child = newChild)
}

/** `md5_simhash_chunks(tokens)`: portable SimHash as 4×16-bit chunk ints
  * (see [[Sketch.md5SimhashChunks]]).
  */
case class Md5SimHashChunks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "md5_simhash_chunks"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.md5SimhashChunks(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.md5SimhashChunks($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5SimHashChunks =
    copy(child = newChild)
}

/** `shingle_hashes(tokens, n)`: positional window hashes (array<long>),
  * see [[Sketch.shingleHashes]].
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.shingleHashes(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `repeat_seeds(tokens, n)`: in-document repeated-window seed pairs
  * (array<struct<pos:int, g:bigint>>), see [[Sketch.repeatSeeds]].
  */
case class RepeatSeeds(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("g", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "repeat_seeds"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sketch.repeatSeeds(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.repeatSeeds($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): RepeatSeeds =
    copy(child = newChild)
}

/** Column-API facade for the sketch expressions. */
object sketch {
  def wordShingles(tokens: Column, n: Int): Column = column(WordShingles(expression(tokens), n))
  def shingleHashes(tokens: Column, n: Int): Column =
    column(ShingleHashes(expression(tokens), n))
  def repeatSeeds(tokens: Column, n: Int): Column =
    column(RepeatSeeds(expression(tokens), n))
  def minhashSig(elems: Column, k: Int): Column = column(MinHashSig(expression(elems), k))
  def md5MinhashSig(elems: Column, k: Int): Column =
    column(Md5MinHashSig(expression(elems), k))
  def md5SimhashChunks(tokens: Column): Column =
    column(Md5SimHashChunks(expression(tokens)))
  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def bigramStats(tokens: Column): Column = column(BigramStats(expression(tokens)))
  def charStats(text: Column): Column = column(CharStats(expression(text)))
  def bigramPairs(tokens: Column): Column = column(BigramPairs(expression(tokens)))
  def sigMatchFrac(a: Column, b: Column): Column =
    column(SigMatchFraction(expression(a), expression(b)))
  def cosineSim(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))
  def maxCosineSim(v: Column, vecs: Array[Array[Double]]): Column =
    column(MaxCosineSim(expression(v), vecs))
  def signCell(v: Column, bits: Column): Column =
    column(SignCell(expression(v), expression(bits)))
  def bestLang(toks: Column, langs: Array[String],
      profiles: Array[Array[String]]): Column =
    column(BestLang(expression(toks), langs, profiles))
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroid(expression(v), centroids))
  def distToLabelCentroid(v: Column, label: Column, labels: Array[Int],
      centroids: Array[Array[Double]]): Column =
    column(DistToLabelCentroid(expression(v), expression(label), labels, centroids))
  def sortedIdPairs(ids: Column): Column = column(SortedIdPairs(expression(ids)))
  def strideBytes(payload: Column, stride: Int, maxBytes: Int): Column =
    column(StrideBytes(expression(payload), stride, maxBytes))
}
