package graft.functions

import graft.transforms.Murmur3
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-static helpers invoked from generated code (kept tiny + branch-free
  * so calls inline under WholeStageCodegen). */
object BucketUtil {
  def bucketLong(v: Long, n: Int): Int = (Murmur3.hashLong(v) & Int.MaxValue) % n
  def bucketString(s: UTF8String, n: Int): Int =
    (Murmur3.hashBytes(s.getBytes) & Int.MaxValue) % n
  def bucketBytes(b: Array[Byte], n: Int): Int =
    (Murmur3.hashBytes(b) & Int.MaxValue) % n
  def bucketDecimal(d: Decimal, n: Int): Int =
    (Murmur3.hashBytes(d.toJavaBigDecimal.unscaledValue.toByteArray) & Int.MaxValue) % n

  def truncateLong(v: Long, w: Int): Long = v - (((v % w) + w) % w)
  def truncateInt(v: Int, w: Int): Int = v - (((v % w) + w) % w)
  def truncateString(s: UTF8String, w: Int): UTF8String =
    if (s.numChars <= w) s else s.substring(0, w)
  def truncateBytes(b: Array[Byte], w: Int): Array[Byte] =
    if (b.length <= w) b else java.util.Arrays.copyOf(b, w)
  def truncateDecimal(d: Decimal, w: Int): Decimal = {
    val bd = d.toJavaBigDecimal
    val m = bd.unscaledValue.mod(java.math.BigInteger.valueOf(w.toLong))
    Decimal(new java.math.BigDecimal(bd.unscaledValue.subtract(m), bd.scale))
  }

  /** Cosine similarity of two float vectors (ArrayData of FloatType). */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Dot product of two float vectors. */
  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  /** Asymmetric SQ8 score: quantize `v` to 8-bit codes with per-dimension
    * (mins, steps), dequantize, dot with the FULL-precision query — the
    * standard asymmetric-distance computation. Per-dim quantization error
    * is at most steps(i)/2, so |sq8Dot − dot| ≤ Σ|q_i|·steps(i)/2. */
  def sq8Dot(v: ArrayData, q: ArrayData, mins: Array[Float], steps: Array[Float]): Double = {
    val n = math.min(math.min(v.numElements(), q.numElements()), mins.length)
    var dot = 0.0
    var i = 0
    while (i < n) {
      val s = steps(i)
      val deq =
        if (s == 0f) mins(i).toDouble
        else {
          var code = Math.round((v.getFloat(i) - mins(i)) / s)
          if (code < 0) code = 0
          if (code > 255) code = 255
          mins(i).toDouble + code.toDouble * s
        }
      dot += deq * q.getFloat(i)
      i += 1
    }
    dot
  }

  /** L2 norm of a float vector. */
  def normFloat(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** 64-bit FNV-1a over UTF-8 bytes — a one-pass rolling document
    * fingerprint (public-domain algorithm, Fowler–Noll–Vo). */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Index of the centroid with highest cosine similarity to vec. */
  def nearestCentroid(vec: ArrayData, centers: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var j = 0
    while (j < centers.length) {
      val sim = cosineToCenter(vec, centers(j))
      if (sim > bestSim) { bestSim = sim; best = j }
      j += 1
    }
    best
  }

  /** Indices of the `nprobe` centroids with highest cosine to vec,
    * best first (selection by repeated max — nprobe is tiny). */
  def nearestCentroids(vec: ArrayData, centers: Array[Array[Float]],
                       nprobe: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val sims = new Array[Double](centers.length)
    var j = 0
    while (j < centers.length) { sims(j) = cosineToCenter(vec, centers(j)); j += 1 }
    val n = math.min(nprobe, centers.length)
    val out = new Array[Any](n)
    val taken = new Array[Boolean](centers.length)
    var r = 0
    while (r < n) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < centers.length) {
        if (!taken(i) && sims(i) > bestSim) { bestSim = sims(i); best = i }
        i += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def cosineToCenter(vec: ArrayData, c: Array[Float]): Double = {
    val n = math.min(vec.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      val y = c(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Random-hyperplane LSH signature of a float vector: bit j is the sign
    * of dot(vec, planes(j)). One pass, no allocation. */
  def hyperplaneSig(vec: ArrayData, planes: Array[Array[Float]]): Int = {
    var sig = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val n = math.min(vec.numElements(), p.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i).toDouble * p(i); i += 1 }
      if (dot > 0) sig |= (1 << j)
      j += 1
    }
    sig
  }

  // ------------------------------------------------ product quantization

  /** PQ-encode a float vector: per subspace, pick the L2-nearest centroid;
    * returns (codes: byte[m], resid: double) with resid = ||v − v̂||, the
    * norm of the full concatenated residual (v̂ = chosen centroids). The
    * codebook is flattened — centroid `c` of subspace `s` starts at
    * `(s*ksub + c) * dsub`. Dimensions past the vector length read as 0. */
  def pqEncode(vec: ArrayData, codebooks: Array[Float], m: Int, ksub: Int,
               dsub: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val codes = new Array[Byte](m)
    var residSq = 0.0
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val idx = s * dsub + i
          val x = (if (idx < vec.numElements()) vec.getFloat(idx) else 0f).toDouble -
            codebooks(base + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best.toByte
      residSq += bestD
      s += 1
    }
    new GenericInternalRow(Array[Any](codes, math.sqrt(residSq)))
  }

  /** Per-query ADC lookup table: `lut[s*ksub + c] = dot(codebook[s][c],
    * q_s)` in double. Built once per query row; each corpus pair then
    * costs `m` array lookups instead of a `dim`-length dot. */
  def pqLut(q: ArrayData, codebooks: Array[Float], m: Int, ksub: Int,
            dsub: Int): ArrayData = {
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val idx = s * dsub + i
          d += codebooks(base + i).toDouble *
            (if (idx < q.numElements()) q.getFloat(idx) else 0f)
          i += 1
        }
        lut(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(lut)
  }

  // ---------------------------------------------- scalar quantization

  /** SQ8-encode a float vector: symmetric per-vector scale `maxAbs/127`,
    * `code_i = round(v_i/scale)` clamped to [-127,127] as one signed
    * byte. Returns (codes byte[dim], scale double, resid double) with
    * `resid = ‖v − v̂‖` (v̂_i = code_i·scale) — the same unconditional
    * Cauchy–Schwarz bound material as [[pqEncode]], with NO trained
    * codebook at all: encoding is a pure per-vector function, so an SQ8
    * index can never staleness-drift and deltas encode identically
    * forever. An all-zero (or empty) vector encodes with scale 0. */
  def sq8Encode(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i).toDouble)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = if (maxAbs == 0.0) 0.0 else maxAbs / 127.0
    val codes = new Array[Byte](n)
    var residSq = 0.0
    i = 0
    while (i < n) {
      val v = vec.getFloat(i).toDouble
      val c =
        if (scale == 0.0) 0
        else math.max(-127, math.min(127, math.round(v / scale).toInt))
      codes(i) = c.toByte
      val e = v - c * scale
      residSq += e * e
      i += 1
    }
    new GenericInternalRow(Array[Any](codes, scale, math.sqrt(residSq)))
  }

  /** STORED-code SQ8 asymmetric dot: `scale · Σ q_i·code_i` (codes
    * sign-extended) = dot(v̂, q) — the persisted-index counterpart of
    * [[sq8Dot]]'s quantize-on-the-fly form. `|result − dot(v, q)| ≤
    * ‖q‖·resid` by Cauchy–Schwarz on `q·(v − v̂)`. Dimensions past
    * either length read as 0. */
  def sq8CodesDot(codes: Array[Byte], scale: Double, q: ArrayData): Double = {
    val n = math.min(codes.length, q.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += q.getFloat(i).toDouble * codes(i)
      i += 1
    }
    acc * scale
  }

  /** Unicode-normalize a UTF8String; already-normalized input (the common
    * case) returns the original bytes after the quick-check, skipping the
    * normalize pass and the re-encode. */
  def unicodeNormalize(s: UTF8String, form: String): UTF8String = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }

  /** `bias + Σ weights(lowercase(tok))` over a token array — one probe
    * per token against a prebuilt hash map; tokens outside the vocabulary
    * contribute 0, and a NULL token is out-of-vocabulary by definition
    * (skipped, not an NPE). Each occurrence counts (bag-of-words). */
  def tokenWeightSum(arr: ArrayData, weights: java.util.HashMap[UTF8String, java.lang.Double],
                     bias: Double): Double = {
    var sum = bias
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val w = weights.get(arr.getUTF8String(i).toLowerCase)
        if (w != null) sum += w.doubleValue()
      }
      i += 1
    }
    sum
  }

  /** Greedy MMR over a best-first-sorted candidate array (see
    * [[MmrSelect]]): each round picks the unselected candidate maximizing
    * `λ·score − (1−λ)·max cos(v, selected)`, ties on position. Returns
    * the selected 0-based positions in selection order. At `λ = 1` the
    * similarity term has weight 0, so selection IS array order (plain
    * top-k) — the oracle configuration. */
  def mmrSelect(arr: ArrayData, k: Int,
                lambda: Double): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    val take = math.min(k, n)
    val scores = new Array[Double](n)
    val vecs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val st = arr.getStruct(i, 2)
      scores(i) = st.getDouble(0)
      vecs(i) = st.getArray(1)
      i += 1
    }
    val selected = new Array[Any](take)
    val picked = new Array[Boolean](n)
    // maxSim(i) = max cosine to any selected vector; every unpicked slot
    // is refreshed after each pick, so past round 0 it is always real
    val maxSim = new Array[Double](n)
    var r = 0
    while (r < take) {
      var best = -1
      var bestVal = Double.NegativeInfinity
      var j = 0
      while (j < n) {
        if (!picked(j)) {
          val value =
            if (r == 0) scores(j)
            else lambda * scores(j) - (1.0 - lambda) * maxSim(j)
          if (value > bestVal) { bestVal = value; best = j }
        }
        j += 1
      }
      // NaN-poisoned candidates (NaN score, or a NaN embedding element
      // propagating through λ·score − (1−λ)·maxSim) never win the strict
      // `>` — if EVERY unpicked value is NaN, best stays -1. Degrade to
      // the first unpicked index (array order = best-first) instead of
      // letting one bad row crash the whole task.
      if (best == -1) {
        var f = 0
        while (f < n && picked(f)) f += 1
        best = f
      }
      picked(best) = true
      selected(r) = best
      if (r + 1 < take) {
        var m = 0
        while (m < n) {
          if (!picked(m)) {
            val s = cosineFloat(vecs(m), vecs(best))
            if (r == 0 || s > maxSim(m)) maxSim(m) = s
          }
          m += 1
        }
      }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(selected)
  }

  /** Laplace-smoothed mean trigram log-likelihood against a prebuilt count
    * map: `avg ln((c + 1) / denom)` over the row's trigram array, unseen
    * trigrams probing to the count-0 floor. One map probe per trigram,
    * no join, no state — the stream-safe form of cross-corpus LM scoring.
    * Empty array → (0, null). */
  def lmAvgLogP(arr: ArrayData,
                counts: java.util.HashMap[UTF8String, java.lang.Long],
                denom: Double): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    // empty doc, or an EMPTY MODEL (denom = 0): null score, like the
    // broadcast-join batch form — not a crash
    if (n == 0 || denom <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n.toLong, null))
    var sum = 0.0
    var i = 0
    while (i < n) {
      val c = counts.get(arr.getUTF8String(i))
      val cv = if (c == null) 0L else c.longValue()
      sum += Math.log((cv + 1.0) / denom)
      i += 1
    }
    // unrounded: callers round with Spark's round() so the convention
    // matches the batch scoreWithLm / the SQL oracle exactly
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, sum / n))
  }

  /** Hamming distance between two packed sign-word arrays: one
    * XOR + popcount per word. */
  def hammingWords(a: ArrayData, b: ArrayData): Long = {
    val n = Math.min(a.numElements(), b.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    sum
  }

  /** True iff any element of the array is NULL — the guard the
    * null-propagating kernels ([[dsirScore]], [[dsirBuckets]],
    * [[randomProject]]) run before touching elements: the HOF forms they
    * replaced returned NULL when any element was NULL (a null operand
    * poisons the fold), and `getDouble`/`getUTF8String` on a null slot
    * would instead read garbage or NPE. Callers skip the scan entirely
    * when the array type declares `containsNull = false`. */
  def hasNullElement(arr: ArrayData): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** True iff any element of `arr` is in `set` — one probe per element
    * against a prebuilt hash set (the set is NOT rebuilt per row, unlike
    * `arrays_overlap` against a literal array). */
  def anyInSet(arr: ArrayData, set: java.util.HashSet[UTF8String]): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) return true
      i += 1
    }
    false
  }

  /** Count of array elements present in the set ([[anyInSet]]'s counting
    * sibling); over a distinct array this is the intersection size. */
  def countInSet(arr: ArrayData, set: java.util.HashSet[UTF8String]): Long = {
    var i = 0
    var c = 0L
    val n = arr.numElements()
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Per-token md5-nibble histogram: bucket j (0..15) counts the tokens
    * whose md5 FIRST hex nibble is j — the 16-dim hashed bag-of-words
    * feature vector of the distributed quality-classifier trainer
    * (`SELECT strpos('0123456789abcdef', substr(md5(tok),1,1))-1` in the
    * relational replay: the first hex char IS the high nibble of digest
    * byte 0). One pass, entirely within the row. */
  def nibbleHistogram(arr: ArrayData): ArrayData = {
    val h = new Array[Long](16)
    val md = md5Local.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(arr.getUTF8String(i).getBytes)
      h((md.digest()(0) & 0xff) >>> 4) += 1L
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(h)
  }

  /** Natural-log entropy of the token array's OWN unigram distribution:
    * `ln(N) − Σ c·ln c / N` over the per-token counts `c` (0.0 for an
    * empty array) — the RedPajama-v2 `unigram_entropy` quality signal.
    * One counting pass plus one pass over the distinct counts, entirely
    * within the row; the result is deterministic per row (same content →
    * same map order) and matches the relational unnest/GROUP BY replay at
    * a 6-decimal round (the d77 avg-of-logs precedent).
    *
    * KNOWN BOUNDARY-FLAKE RISK (the d78 ROUND-boundary class): the
    * c·ln c terms are summed in HashMap iteration order while the oracle
    * sums in SQL aggregation order, so the two doubles can differ in the
    * last ulp and flip a ROUND(…,6) boundary for a pathological doc.
    * Accepted rather than fixed: flooring each term to 2^-24 (the d124
    * pattern) would change the published signal for every doc to guard
    * a per-row ulp that three rounds of gates have not seen flip. */
  def unigramEntropy(arr: ArrayData): Double = {
    val n = arr.numElements()
    if (n == 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val prev = counts.get(t)
      counts.put(t, if (prev == null) 1 else prev + 1)
      i += 1
    }
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      s += c * math.log(c)
    }
    math.log(n.toDouble) - s / n
  }

  /** Per-document term frequencies in ONE pass: `array<struct<term, tf>>`
    * in FIRST-OCCURRENCE order (LinkedHashMap — same content ⇒ same
    * output, so the kernel is engine/partitioning-deterministic). The
    * map-only replacement for `explode → groupBy(doc, term)`: term
    * frequency and document length are PER-DOCUMENT quantities, so a
    * postings build that shuffles token occurrences to count them pays a
    * corpus-volume exchange for row-local arithmetic. Retained
    * UTF8Strings point into the input row buffer — consumed by the
    * enclosing projection within the same eval, the ArrayDistinct
    * precedent. */
  def termCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val prev = counts.get(t)
      if (prev == null) counts.put(t, Array(1L)) else prev(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[termCounts]] with 1-based positions: `array<struct<term, tf,
    * positions>>`, first-occurrence order, positions naturally ascending
    * (one left-to-right scan) — the row-local positional-postings kernel
    * replacing `posexplode → groupBy(term, doc) → collect_list`, whose
    * exchange carried every token occurrence. */
  def termPostings(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, scala.collection.mutable.ArrayBuffer[Int]](n * 2)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val prev = m.get(t)
      if (prev == null) {
        val b = new scala.collection.mutable.ArrayBuffer[Int](4)
        b += (i + 1); m.put(t, b)
      } else prev += (i + 1)
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val pos = e.getValue
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, pos.length.toLong,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(pos.toArray)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // Compiled once: the token separator of TextOps.tokens (Java regex \s+,
  // the exact pattern Spark's split uses)
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Element count of `split(trim(s), "\\s+")` under SPARK semantics,
    * replicated exactly so [[sentenceChunks]] counts tokens bit-identically
    * to `size(TextOps.tokens(sentence))`: Spark `trim` strips ASCII
    * spaces (0x20) ONLY (so a sentence led by '\t'/'\n' yields a leading
    * empty token), Spark `split` is Java-regex split with limit -1
    * (trailing empty tokens KEPT), and empty-after-trim short-circuits to
    * 0 via the `when` guard in TextOps.tokens. A change to
    * [[graft.ops.TextOps.tokens]] must change this too: the property test
    * `RetrievalPropertySpec` "chunkBySentences (map-only kernel) ==
    * window/groupBy reference on whitespace-hostile docs" pins the two
    * equal. */
  def sparkTokenCount(s: UTF8String): Int = {
    val t = s.trim() // UTF8String.trim: removes ' ' from both ends, like Spark trim()
    if (t.numBytes == 0) 0
    else WsPattern.split(t.toString, -1).length
  }

  /** Row-local sentence-aligned chunk assembly (see [[SentenceChunks]]):
    * given ONE document's ordered sentence array, compute each sentence's
    * whitespace token count ([[sparkTokenCount]]), assign the sentence to
    * chunk `floor(tokens_before / chunkTokens)` (the cumulative prefix is
    * monotone, so chunks are consecutive runs), and reassemble each
    * chunk's text as the " "-joined sentences in order. Output structs
    * `(chunk_idx, text, n_sentences, n_tokens)` — exactly the rows the
    * former per-doc prefix-sum window + (doc, chunk) groupBy produced,
    * computed in one pass over state bounded by the document. The output
    * strings are COPIES (StringBuilder → fromString), never aliases of
    * the input buffer. */
  def sentenceChunks(arr: ArrayData, chunkTokens: Long): ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    val sb = new java.lang.StringBuilder
    var before = 0L   // tokens in all preceding sentences of the doc
    var curChunk = 0L // chunk_idx of the run being assembled
    var nSent = 0L
    var nToks = 0L
    def flush(): Unit = if (nSent > 0) {
      out += new GenericInternalRow(Array[Any](curChunk,
        UTF8String.fromString(sb.toString), nSent, nToks))
      sb.setLength(0); nSent = 0L; nToks = 0L
    }
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val t = sparkTokenCount(s).toLong
      val chunk = before / chunkTokens
      if (nSent > 0 && chunk != curChunk) flush()
      if (nSent == 0) curChunk = chunk
      else sb.append(' ')
      sb.append(s.toString)
      nSent += 1; nToks += t; before += t
      i += 1
    }
    flush()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  // MessageDigest.getInstance per row would dominate the kernel; one
  // instance per thread, reset per gram
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** DSIR importance score — the compiled kernel behind [[DsirScoreExpr]]:
    * Σ over ADJACENT token pairs of `deltas[bucket(md5(a ⧺ ' ' ⧺ b))]`,
    * where the bucket is the digest's first `nNibs` hex nibbles as a
    * base-16 number. Operation-identical to the HOF fold it replaced
    * (i-ascending accumulation over `zip_with`-formed bigrams, bucket =
    * `conv(substring(md5_hex, 1, nNibs), 16, 10)`) and to the SQL oracle;
    * the deltas are 16-frac-bit dyadics, so the sum is exact in any
    * order — ascending kept anyway. */
  def dsirScore(toks: ArrayData, deltas: Array[Double], nNibs: Int): Double = {
    val n = toks.numElements()
    var acc = 0.0
    if (n >= 2) {
      val md = md5Local.get()
      var i = 0
      while (i + 1 < n) {
        md.reset()
        md.update(toks.getUTF8String(i).getBytes)
        md.update(' '.toByte)
        md.update(toks.getUTF8String(i + 1).getBytes)
        val digest = md.digest()
        var v = 0
        var j = 0
        while (j < nNibs) {
          val b = digest(j / 2) & 0xff
          v = v * 16 + (if (j % 2 == 0) b >>> 4 else b & 0xf)
          j += 1
        }
        acc += deltas(v)
        i += 1
      }
    }
    acc
  }

  /** The per-bigram buckets themselves ([[dsirScore]]'s other face, for
    * the HISTOGRAM side that needs one row per gram rather than the
    * folded sum): the same md5-nibble arithmetic, emitted as an int
    * array for a cheap explode — the HOF form exploded interpreted
    * bigram STRINGS and hashed them in a separate column. */
  def dsirBuckets(toks: ArrayData, nNibs: Int): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Int](math.max(0, n - 1))
    if (n >= 2) {
      val md = md5Local.get()
      var i = 0
      while (i + 1 < n) {
        md.reset()
        md.update(toks.getUTF8String(i).getBytes)
        md.update(' '.toByte)
        md.update(toks.getUTF8String(i + 1).getBytes)
        val digest = md.digest()
        var v = 0
        var j = 0
        while (j < nNibs) {
          val b = digest(j / 2) & 0xff
          v = v * 16 + (if (j % 2 == 0) b >>> 4 else b & 0xf)
          j += 1
        }
        out(i) = v
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** JL ±1 random projection of a double vector — the compiled kernel
    * behind [[RandomProjectExpr]]. Arithmetic is OPERATION-IDENTICAL to
    * the HOF form it replaced (i-ascending double accumulation, per-term
    * `vec[i] * sign(i,j)`, one final `/ √outDim`) and to the SQL oracle:
    * the sign is two minstd LCG steps over the mixed index in exact
    * 64-bit integer arithmetic (every operand < 2^45), so all three
    * produce the bitwise-identical double. */
  def randomProject(vec: ArrayData, outDim: Int, seed: Long): ArrayData = {
    val n = vec.numElements()
    val scale = math.sqrt(outDim.toDouble)
    val out = new Array[Double](outDim)
    val m = 2147483647L
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val h1 = (16807L * ((i.toLong * 4099L + j.toLong * 8191L +
          seed + 1L) % m)) % m
        val h2 = (16807L * h1) % m
        val sign = if (h2 < m / 2) -1.0 else 1.0
        acc += vec.getDouble(i) * sign
        i += 1
      }
      out(j) = acc / scale
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Asymmetric PQ distance: Σ_s lut[s*ksub + codes[s]] = dot(v̂, q).
    * |pqAdc − dot(v, q)| ≤ ||q||·resid by Cauchy–Schwarz on q·(v − v̂). */
  def pqAdc(codes: Array[Byte], lut: ArrayData, ksub: Int): Double = {
    var d = 0.0
    var s = 0
    while (s < codes.length) {
      d += lut.getDouble(s * ksub + (codes(s) & 0xff))
      s += 1
    }
    d
  }
}

/**
 * Spec-exact Iceberg bucket transform as a native Catalyst expression with
 * codegen (SURVEY.md §2.5: Spark's `hash()` is seed-42 Murmur3 with
 * different byte-encoding rules, so a custom expression is required for
 * cross-writer-compatible partition values).
 */
case class IcebergBucket(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "iceberg_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case IntegerType | LongType | DateType | TimestampType | TimestampNTZType |
           StringType | BinaryType | _: DecimalType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"iceberg_bucket does not support type $other")
    }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case IntegerType | DateType => BucketUtil.bucketLong(v.asInstanceOf[Int].toLong, n)
    case LongType | TimestampType | TimestampNTZType =>
      BucketUtil.bucketLong(v.asInstanceOf[Long], n)
    case StringType => BucketUtil.bucketString(v.asInstanceOf[UTF8String], n)
    case BinaryType => BucketUtil.bucketBytes(v.asInstanceOf[Array[Byte]], n)
    case _: DecimalType => BucketUtil.bucketDecimal(v.asInstanceOf[Decimal], n)
    case other => throw new IllegalArgumentException(s"cannot bucket $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = "graft.functions.BucketUtil"
    val fn: String => String = child.dataType match {
      case IntegerType | DateType => c => s"$u.bucketLong((long)$c, $n)"
      case LongType | TimestampType | TimestampNTZType => c => s"$u.bucketLong($c, $n)"
      case StringType => c => s"$u.bucketString($c, $n)"
      case BinaryType => c => s"$u.bucketBytes($c, $n)"
      case _: DecimalType => c => s"$u.bucketDecimal($c, $n)"
      case other => throw new IllegalArgumentException(s"cannot bucket $other")
    }
    defineCodeGen(ctx, ev, fn)
  }

  override protected def withNewChildInternal(c: Expression): IcebergBucket = copy(child = c)
}

/** Spec Iceberg truncate[W] transform (int/long/decimal/string/binary). */
case class IcebergTruncate(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "iceberg_truncate"

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case IntegerType => BucketUtil.truncateInt(v.asInstanceOf[Int], width)
    case LongType => BucketUtil.truncateLong(v.asInstanceOf[Long], width)
    case StringType => BucketUtil.truncateString(v.asInstanceOf[UTF8String], width)
    case BinaryType => BucketUtil.truncateBytes(v.asInstanceOf[Array[Byte]], width)
    case _: DecimalType => BucketUtil.truncateDecimal(v.asInstanceOf[Decimal], width)
    case other => throw new IllegalArgumentException(s"cannot truncate $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = "graft.functions.BucketUtil"
    val fn: String => String = child.dataType match {
      case IntegerType => c => s"$u.truncateInt($c, $width)"
      case LongType => c => s"$u.truncateLong($c, $width)"
      case StringType => c => s"$u.truncateString($c, $width)"
      case BinaryType => c => s"$u.truncateBytes($c, $width)"
      case _: DecimalType => c => s"$u.truncateDecimal($c, $width)"
      case other => throw new IllegalArgumentException(s"cannot truncate $other")
    }
    defineCodeGen(ctx, ev, fn)
  }

  override protected def withNewChildInternal(c: Expression): IcebergTruncate = copy(child = c)
}

/** Raw epoch-micros of a timestamp column. Spark stores both TimestampType
  * and TimestampNTZType as a long of microseconds since epoch, but rejects
  * `CAST(TIMESTAMP_NTZ AS BIGINT)` — this expression exposes the physical
  * value directly (identity codegen), independent of session timezone.
  * Used by the hour partition transform's write path. */
case class EpochMicros(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "epoch_micros"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case TimestampType | TimestampNTZType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"epoch_micros does not support type $other")
    }

  override def nullSafeEval(v: Any): Any = v.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression): EpochMicros = copy(child = c)
}

/** Cosine similarity between two `array<float>` columns — native expression
  * (codegen'd) so the ANN brute-force path stays inside WholeStageCodegen. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    BucketUtil.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BucketUtil.cosineFloat($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** `mmr_select(candidates, k, lambda)`: greedy Maximal Marginal Relevance
  * over a candidate array SORTED best-first — each round picks the
  * unselected candidate maximizing `λ·score − (1−λ)·max cos(v, selected)`
  * (ties break on array position, i.e. on the caller's (score desc, id
  * asc) sort). Input: `array<struct<score double, vec array<float>>>`;
  * output: the selected POSITIONS (0-based) in selection order —
  * type-agnostic, the caller zips ids back. O(k·C·dim) per group over a
  * BOUNDED candidate array; at `λ = 1` selection is provably plain top-k
  * order (the oracle config). */
case class MmrSelect(child: Expression, k: Int, lambda: Double)
    extends UnaryExpression {
  require(k >= 1, s"mmr_select needs k >= 1, got $k")
  require(lambda >= 0.0 && lambda <= 1.0,
    s"lambda must be in [0, 1], got $lambda")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "mmr_select"

  override def nullSafeEval(v: Any): Any =
    BucketUtil.mmrSelect(v.asInstanceOf[ArrayData], k, lambda)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BucketUtil.mmrSelect($c, $k, $lambda)")

  override protected def withNewChildInternal(c: Expression): MmrSelect =
    copy(child = c)
}

/** Hamming distance between two packed sign-word arrays (codegen'd): one
  * XOR + popcount per word — the 1-bit-quantization scoring kernel. The
  * HOF `aggregate(zip_with(...))` form it replaces never enters
  * whole-stage codegen and allocates a zipped array per pair. */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_words"

  override def nullSafeEval(a: Any, b: Any): Any =
    BucketUtil.hammingWords(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BucketUtil.hammingWords($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingWords =
    copy(left = l, right = r)
}

/** Inner product of two float vectors (codegen'd; MIPS scoring). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    BucketUtil.dotFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BucketUtil.dotFloat($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Asymmetric SQ8 inner product (codegen'd): left = corpus vector
  * (quantized on the fly against the per-dimension grid), right = full-
  * precision query. The grid (2×dim floats) ships as plan reference
  * objects. See [[BucketUtil.sq8Dot]] for the error bound. */
case class Sq8Dot(left: Expression, right: Expression,
                  mins: Array[Float], steps: Array[Float])
    extends BinaryExpression {
  require(mins.length == steps.length, "mins/steps length mismatch")
  require(mins.length <= RefObjCaps.MaxDim,
    s"SQ8 grid dim ${mins.length} exceeds plan-embed cap ${RefObjCaps.MaxDim}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    BucketUtil.sq8Dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mins, steps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("mins", mins, "float[]")
    val sref = ctx.addReferenceObj("steps", steps, "float[]")
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BucketUtil.sq8Dot($a, $b, $mref, $sref)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8Dot =
    copy(left = l, right = r)
}

/** `token_weight_sum(toks)`: a linear (fasttext-style) model score —
  * `bias + Σ weight(lower(tok))` with the vocabulary riding the plan as
  * ONE shared reference object (a 100k-term vocabulary ships once per
  * plan, not once per row or task closure). Map-only: classifier
  * inference over a corpus never joins or shuffles. */
case class TokenWeightSum(child: Expression, vocab: Array[String],
                          vals: Array[Double], bias: Double)
    extends UnaryExpression {
  require(vocab.length == vals.length, "vocab/vals length mismatch")
  require(vocab.length <= RefObjCaps.MaxLinearVocab,
    s"linear-model vocab ${vocab.length} exceeds plan-embed cap " +
      s"${RefObjCaps.MaxLinearVocab}; prune the model at train time")
  @transient private lazy val map: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](
      math.max(16, vocab.length * 2))
    var i = 0
    while (i < vocab.length) {
      m.put(UTF8String.fromString(vocab(i).toLowerCase), vals(i))
      i += 1
    }
    m
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "token_weight_sum"

  override def nullSafeEval(arr: Any): Any =
    BucketUtil.tokenWeightSum(arr.asInstanceOf[ArrayData], map, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("weights", map, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.BucketUtil.tokenWeightSum($a, $mref, $bias)")
  }

  override protected def withNewChildInternal(c: Expression): TokenWeightSum =
    copy(child = c)
}

/** `any_in_set(arr)`: does any element of a string array belong to a
  * driver-built membership set? The set travels as a BROADCAST — one
  * deserialized copy per executor JVM, shared by every task — not as a
  * plan-embedded reference object: a multi-million-gram set embedded in
  * the task binary is re-deserialized by EVERY task (N concurrent tasks
  * × the whole string array — the sf3 s74 probe OOM'd inside
  * ObjectInputStream.readString before one row was probed). Probed per
  * row with no join, no state, no shuffle in the micro-batch. */
case class AnyInSet(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[java.util.HashSet[UTF8String]])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_in_set"

  override def nullSafeEval(arr: Any): Any =
    BucketUtil.anyInSet(arr.asInstanceOf[ArrayData], bc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bref = ctx.addReferenceObj("bcSet", bc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a => s"graft.functions.BucketUtil.anyInSet(" +
      s"$a, (java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>)" +
      s"$bref.value())")
  }

  override protected def withNewChildInternal(c: Expression): AnyInSet =
    copy(child = c)
}

/** `count_in_set(arr)`: how many elements of a string array belong to a
  * driver-built membership set — [[AnyInSet]]'s counting sibling (same
  * broadcast design, see there). Over a DISTINCT gram array this IS the
  * per-document shared-gram count, which turns the contamination
  * REPORT's per-(doc, suite) join+aggregate into a map-only expression a
  * micro-batch can run with no join and no per-doc state (the s74
  * stream shape: the only stateful operator left is the per-suite
  * counter fold). */
case class CountInSet(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[java.util.HashSet[UTF8String]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_set"

  override def nullSafeEval(arr: Any): Any =
    BucketUtil.countInSet(arr.asInstanceOf[ArrayData], bc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bref = ctx.addReferenceObj("bcSet", bc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, a => s"graft.functions.BucketUtil.countInSet(" +
      s"$a, (java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>)" +
      s"$bref.value())")
  }

  override protected def withNewChildInternal(c: Expression): CountInSet =
    copy(child = c)
}

/** `unigram_entropy(tokens)`: natural-log entropy of the document's own
  * unigram distribution in ONE compiled loop over its token array (see
  * [[BucketUtil.unigramEntropy]]) — the RedPajama-v2 diversity/quality
  * signal (low entropy ⇒ repetitive or templated text). Map-only: the
  * token list never leaves its row, where the relational form unnests
  * every token through a (doc, token) GROUP BY exchange. Carries no
  * plan payload (nothing for [[RefObjCaps]]). A NULL token makes the
  * result NULL (the fold-poison semantics of the d-kernel class),
  * guarded by [[BucketUtil.hasNullElement]] and skipped entirely when
  * the array type declares `containsNull = false`. */
case class UnigramEntropy(child: Expression) extends UnaryExpression {
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "unigram_entropy"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"unigram_entropy expects array<string>, got $t")
    }

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.unigramEntropy(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.unigramEntropy($a)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.unigramEntropy($a);
      }""")

  override protected def withNewChildInternal(c: Expression): UnigramEntropy =
    copy(child = c)
}

/** `nibble_histogram(tokens)`: the 16-bucket hashed bag-of-words counts
  * (md5 first nibble per token, see [[BucketUtil.nibbleHistogram]]) in
  * ONE compiled loop — the feature extraction of the distributed
  * logistic-regression quality classifier ([[graft.ops.TextOps]]
  * trainLogReg). Map-only, carries no plan payload. A NULL token makes
  * the histogram NULL (the d-kernel fold-poison contract). */
case class NibbleHistogram(child: Expression) extends UnaryExpression {
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "nibble_histogram"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nibble_histogram expects array<string>, got $t")
    }

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.nibbleHistogram(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.nibbleHistogram($a)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.nibbleHistogram($a);
      }""")

  override protected def withNewChildInternal(c: Expression): NibbleHistogram =
    copy(child = c)
}

/** `term_counts(tokens)`: per-document `(term, tf)` pairs in ONE compiled
  * loop, first-occurrence order (see [[BucketUtil.termCounts]]) — the
  * map-only postings kernel: `explode(term_counts(tokens))` replaces the
  * `explode(tokens) → groupBy(doc, term)` shape, turning the postings
  * build's corpus-volume occurrence exchange into row-local arithmetic.
  * A NULL token makes the result NULL (the d-kernel poison contract). */
case class TermCounts(child: Expression) extends UnaryExpression {
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "term_counts"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"term_counts expects array<string>, got $t")
    }

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.termCounts(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.termCounts($a)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.termCounts($a);
      }""")

  override protected def withNewChildInternal(c: Expression): TermCounts =
    copy(child = c)
}

/** `term_postings(tokens)`: [[TermCounts]] plus 1-based ascending
  * positions per term (see [[BucketUtil.termPostings]]) — the row-local
  * positional-postings kernel for the inverted index. NULL-poison as the
  * rest of the d-kernel class. */
case class TermPostings(child: Expression) extends UnaryExpression {
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false),
      StructField("positions", ArrayType(IntegerType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "term_postings"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"term_postings expects array<string>, got $t")
    }

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.termPostings(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.termPostings($a)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.termPostings($a);
      }""")

  override protected def withNewChildInternal(c: Expression): TermPostings =
    copy(child = c)
}

/** `sentence_chunks(sentences, chunkTokens)`: sentence-aligned chunking of
  * ONE document in a single compiled loop (see
  * [[BucketUtil.sentenceChunks]]) — per-sentence whitespace token counts,
  * prefix-sum chunk assignment (`floor(tokens_before / chunkTokens)`), and
  * per-chunk text reassembly (" "-joined, order preserved). The map-only
  * replacement for the per-doc prefix-sum window + (doc, chunk)
  * `collect_list` groupBy, whose two exchanges carried the corpus'
  * sentence volume for quantities that are row-local. Unlike
  * termCounts/termPostings the output strings are COPIES (built in a
  * StringBuilder), so the result is safe across buffering operators.
  * NULL-poison on null elements, as the rest of the d-kernel class. */
case class SentenceChunks(child: Expression, chunkTokens: Long)
    extends UnaryExpression {
  require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("chunk_idx", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("n_sentences", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "sentence_chunks"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sentence_chunks expects array<string>, got $t")
    }

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.sentenceChunks(a, chunkTokens)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.sentenceChunks($a, ${chunkTokens}L)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.sentenceChunks($a, ${chunkTokens}L);
      }""")

  override protected def withNewChildInternal(c: Expression): SentenceChunks =
    copy(child = c)
}

/** `dsir_score(tokens)`: a document's DSIR log importance weight in ONE
  * compiled loop over its token array — adjacent-pair md5 bucketing +
  * delta lookup + dyadic sum (see [[BucketUtil.dsirScore]]). Replaces an
  * `aggregate`-HOF fold whose lambda ran md5/conv/substring INTERPRETED
  * per gram (HOF bodies are CodegenFallback) — the hot scoring pass of
  * data selection, the one map-only op a 100 TB selection run executes
  * corpus-wide. The trained deltas (≤ 64k doubles) ride the plan as one
  * reference object; results are bitwise-identical to the HOF form and
  * the SQL oracle. A NULL token makes the score NULL (the HOF fold's
  * semantics: a null operand poisons the sum), guarded by a cheap
  * [[BucketUtil.hasNullElement]] scan that is skipped entirely when the
  * array type declares `containsNull = false`. */
case class DsirScoreExpr(child: Expression, deltas: Array[Double])
    extends UnaryExpression {
  require(Seq(16, 256, 4096, 65536).contains(deltas.length),
    s"deltas length must be a power of 16 (nibble-addressable), got ${deltas.length}")
  private val nNibs = (math.log(deltas.length) / math.log(16)).round.toInt
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "dsir_score"

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.dsirScore(a, deltas, nNibs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dref = ctx.addReferenceObj("deltas", deltas, "double[]")
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.dsirScore($a, $dref, $nNibs)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.dsirScore($a, $dref, $nNibs);
      }""")
  }

  override protected def withNewChildInternal(c: Expression): DsirScoreExpr =
    copy(child = c)
}

/** `dsir_buckets(tokens)`: the per-bigram hash buckets as an int array —
  * [[DsirScoreExpr]]'s histogram-side face (see
  * [[BucketUtil.dsirBuckets]]): the training pass explodes these ints
  * instead of interpreted bigram strings hashed in a separate column. */
case class DsirBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression {
  require(Seq(16, 256, 4096, 65536).contains(buckets),
    s"buckets must be a power of 16 (nibble-addressable), got $buckets")
  private val nNibs = (math.log(buckets) / math.log(16)).round.toInt
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "dsir_buckets"

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    // NULL-token arrays produce NULL (see DsirScoreExpr — same fold class)
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.dsirBuckets(a, nNibs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.dsirBuckets($a, $nNibs)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.dsirBuckets($a, $nNibs);
      }""")

  override protected def withNewChildInternal(c: Expression): DsirBucketsExpr =
    copy(child = c)
}

/** `random_project(vec)`: sparse-JL ±1 projection of an array<double>
  * to `outDim` dims in ONE compiled loop. Replaces the nested
  * transform/aggregate HOF form, which is CodegenFallback and evaluated
  * a ~15-node interpreted tree per (row × outDim × inDim) term — 403 s
  * for the sf1 embeddings table where this kernel takes under a second
  * (the e50 scaling cliff found by the r15 full-suite sf1 sweep).
  * Arithmetic is operation-identical to the HOF and the SQL oracle
  * (see [[BucketUtil.randomProject]]), so results are bitwise unchanged.
  * A NULL vector element makes the whole projection NULL — the HOF's
  * semantics (a null operand poisons the aggregate fold), where reading
  * the raw slot would have silently contributed 0.0 or garbage. The
  * guard scan is skipped when the array type says `containsNull = false`
  * (the embeddings-table fast path). */
case class RandomProjectExpr(child: Expression, outDim: Int, seed: Long)
    extends UnaryExpression {
  require(outDim >= 1, s"outDim must be >= 1, got $outDim")
  require(seed >= 0, s"seed must be >= 0, got $seed")
  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable || elementsNullable
  override def prettyName: String = "random_project"

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (elementsNullable && BucketUtil.hasNullElement(a)) null
    else BucketUtil.randomProject(a, outDim, seed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!elementsNullable)
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BucketUtil.randomProject($a, $outDim, ${seed}L)")
    else nullSafeCodeGen(ctx, ev, a => s"""
      if (graft.functions.BucketUtil.hasNullElement($a)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.BucketUtil.randomProject($a, $outDim, ${seed}L);
      }""")

  override protected def withNewChildInternal(c: Expression): RandomProjectExpr =
    copy(child = c)
}

/** `lm_avg_logp(tris)`: Laplace-smoothed mean trigram log-likelihood
  * against a TRAINED count model that rides the serialized plan as one
  * shared reference object — the map-only, stream-safe form of
  * cross-corpus LM scoring ([[graft.ops.TextOps.scoreWithLm]] is the
  * broadcast-join batch form; this one needs no join and no state, so a
  * micro-batch scores documents where they arrive). `denom = total + V`
  * is precomputed at train time. Output: struct(n_trigrams, avg_logp),
  * (0, null) for docs too short to have trigrams. */
case class LmAvgLogP(child: Expression, tris: Array[String],
                     counts: Array[Long], denom: Double)
    extends UnaryExpression {
  require(tris.length == counts.length, "tris/counts length mismatch")
  require(tris.length <= RefObjCaps.MaxLmVocab,
    s"LM vocab ${tris.length} exceeds plan-embed cap ${RefObjCaps.MaxLmVocab}" +
      "; prune the model at train time (TextOps maxModelRows)")
  require(denom >= 0, s"denom must be non-negative, got $denom")
  // built once per (de)serialized expression instance, shared across rows
  @transient private lazy val map: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      math.max(16, tris.length * 2))
    var i = 0
    while (i < tris.length) {
      m.put(UTF8String.fromString(tris(i)), counts(i))
      i += 1
    }
    m
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_trigrams", LongType, nullable = false),
    StructField("avg_logp", DoubleType, nullable = true)))
  override def prettyName: String = "lm_avg_logp"

  override def nullSafeEval(arr: Any): Any =
    BucketUtil.lmAvgLogP(arr.asInstanceOf[ArrayData], map, denom)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("lmCounts", map, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.BucketUtil.lmAvgLogP($a, $mref, $denom)")
  }

  override protected def withNewChildInternal(c: Expression): LmAvgLogP =
    copy(child = c)
}

/** PQ encoding of a float vector → struct(codes: binary, resid: double).
  * The flattened codebook rides along as a codegen reference object; at
  * 100 TB the OUTPUT of this map pass is what you'd persist (m bytes +
  * 8 per vector vs 4·dim), and scans of the encoded column replace scans
  * of the raw vectors. See [[BucketUtil.pqEncode]]. */
case class PqEncode(child: Expression, codebooks: Array[Float],
                    m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {
  require(codebooks.length == m * ksub * dsub,
    s"codebook length ${codebooks.length} != m*ksub*dsub = ${m * ksub * dsub}")
  require(codebooks.length <= RefObjCaps.MaxCodebookFloats,
    s"codebook floats ${codebooks.length} exceed plan-embed cap " +
      s"${RefObjCaps.MaxCodebookFloats}")
  override def dataType: DataType = StructType(Seq(
    StructField("codes", BinaryType, nullable = false),
    StructField("resid", DoubleType, nullable = false)))
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any): Any =
    BucketUtil.pqEncode(v.asInstanceOf[ArrayData], codebooks, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.BucketUtil.pqEncode($v, $cb, $m, $ksub, $dsub)")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** Per-query PQ lookup table (array<double> of m·ksub centroid dots) —
  * computed once per query row so the per-pair ADC is m lookups. */
case class PqLut(child: Expression, codebooks: Array[Float],
                 m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {
  require(codebooks.length == m * ksub * dsub,
    s"codebook length ${codebooks.length} != m*ksub*dsub = ${m * ksub * dsub}")
  require(codebooks.length <= RefObjCaps.MaxCodebookFloats,
    s"codebook floats ${codebooks.length} exceed plan-embed cap " +
      s"${RefObjCaps.MaxCodebookFloats}")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(q: Any): Any =
    BucketUtil.pqLut(q.asInstanceOf[ArrayData], codebooks, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[]")
    defineCodeGen(ctx, ev,
      q => s"graft.functions.BucketUtil.pqLut($q, $cb, $m, $ksub, $dsub)")
  }

  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(child = c)
}

/** Asymmetric PQ distance from code bytes + a query's lookup table.
  * See [[BucketUtil.pqAdc]] for the error bound. */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(codes: Any, lut: Any): Any =
    BucketUtil.pqAdc(codes.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, l) => s"graft.functions.BucketUtil.pqAdc($c, $l, $ksub)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

/** SQ8 encoding of a float vector → struct(codes: binary, scale: double,
  * resid: double). No codebook reference object — the quantizer is a pure
  * per-vector function (see [[BucketUtil.sq8Encode]]); at 100 TB the
  * persisted output is dim + 16 bytes per vector vs 4·dim raw. */
case class Sq8Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("codes", BinaryType, nullable = false),
    StructField("scale", DoubleType, nullable = false),
    StructField("resid", DoubleType, nullable = false)))
  override def prettyName: String = "sq8_encode"

  override def nullSafeEval(v: Any): Any =
    BucketUtil.sq8Encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.BucketUtil.sq8Encode($v)")

  override protected def withNewChildInternal(c: Expression): Sq8Encode =
    copy(child = c)
}

/** STORED-code SQ8 asymmetric dot from code bytes + per-vector scale +
  * the query vector — the persisted-index counterpart of [[Sq8Dot]]'s
  * quantize-on-the-fly scoring. See [[BucketUtil.sq8CodesDot]]. */
case class Sq8CodesDot(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_codes_dot"

  override def nullSafeEval(codes: Any, scale: Any, q: Any): Any =
    BucketUtil.sq8CodesDot(codes.asInstanceOf[Array[Byte]],
      scale.asInstanceOf[Double], q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, s, q) => s"graft.functions.BucketUtil.sq8CodesDot($c, $s, $q)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8CodesDot =
    copy(first = f, second = s, third = t)
}

/** Word n-gram shingles of a text column in ONE pass per row (codegen'd).
  * Semantics match the composed `split`+`transform`+`slice` column form
  * exactly (incl. edge cases: fewer than n tokens → one shingle of all
  * tokens; blank text → one empty-string shingle), but evaluation is
  * linear — the higher-order-function form re-evaluates the tokenization
  * per gram position, which is O(tokens²) per document. */
object ShingleUtil {
  def shingles(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val trimmed = s.toString.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    val out = new java.util.LinkedHashSet[UTF8String]
    if (toks.length <= n) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[Any]])
  }
}

/** One-pass text statistics for quality scoring / language ID at corpus
  * scale. Field semantics replicate the composed column form exactly (and
  * therefore the DuckDB oracle SQL): whitespace-regex tokens of trimmed
  * text; `\s` is Java's ASCII whitespace class; subwords = per-token
  * ceil(len/4) with a floor of 1; stopword hits compare lowercased tokens
  * against each profile list. */
object TextProfileUtil {
  /** (ntok, nsub, nchar, npunct, ndigit, nletter, hits per stop list) */
  def profile(s: UTF8String,
              stops: Array[java.util.HashSet[String]]): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val nchar = str.codePointCount(0, str.length)
    var npunct = 0; var ndigit = 0; var nws = 0
    var ci = 0
    while (ci < str.length) {
      val c = str.charAt(ci)
      c match {
        case '!' | '?' | '.' | ',' | ';' | ':' => npunct += 1
        case d if d >= '0' && d <= '9' => ndigit += 1
        case _ => ()
      }
      // Java regex \s: [ \t\n\x0B\f\r]
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')
        nws += 1
      ci += 1
    }
    val trimmed = str.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    var nsub = 0
    val hits = new Array[Int](stops.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      nsub += Math.max(1, (t.length + 3) / 4)
      val lower = t.toLowerCase(java.util.Locale.ROOT)
      var j = 0
      while (j < stops.length) {
        if (stops(j).contains(lower)) hits(j) += 1
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](6 + stops.length)
    out(0) = toks.length; out(1) = nsub; out(2) = nchar
    out(3) = npunct; out(4) = ndigit; out(5) = nchar - nws
    var j = 0
    while (j < stops.length) { out(6 + j) = hits(j); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  def toSets(lists: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    lists.map { l =>
      val s = new java.util.HashSet[String]()
      l.foreach(w => s.add(w))
      s
    }.toArray
}

case class TextProfile(child: Expression, stopLists: Seq[Seq[String]])
    extends UnaryExpression {
  require(stopLists.map(_.size).sum <= RefObjCaps.MaxStopWords,
    s"stopword total ${stopLists.map(_.size).sum} exceeds plan-embed cap " +
      s"${RefObjCaps.MaxStopWords}")
  private val hitFields = stopLists.indices.map(i =>
    StructField(s"hits$i", IntegerType, nullable = false))
  override def dataType: DataType = StructType(Seq(
    StructField("ntok", IntegerType, nullable = false),
    StructField("nsub", IntegerType, nullable = false),
    StructField("nchar", IntegerType, nullable = false),
    StructField("npunct", IntegerType, nullable = false),
    StructField("ndigit", IntegerType, nullable = false),
    StructField("nletter", IntegerType, nullable = false)) ++ hitFields)
  override def prettyName: String = "text_profile"
  @transient private lazy val sets = TextProfileUtil.toSets(stopLists)
  override def nullSafeEval(v: Any): Any =
    TextProfileUtil.profile(v.asInstanceOf[UTF8String], sets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSets", sets, "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextProfileUtil.profile($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): TextProfile = copy(child = c)
}

object RepetitionStatsUtil {
  /** One pass over a document for the Gopher repetition signals:
    * (n_lines, dup_line_frac, dup_line_char_frac, n_grams,
    * top_gram_frac). Counting is by exact line/gram TEXT (no hash, so no
    * collision caveat); the per-call hash maps are bounded by the
    * document's OWN distinct line/gram counts — the same per-row bound as
    * materializing a gram array. Division order matches the SQL oracle:
    * exact integer counts cast to double, one division. */
  def stats(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    // lines: raw \n split, keep non-blank; length counts the RAW line
    // (leading/trailing spaces weigh like any other character)
    val lineCounts = new java.util.HashMap[String, long2]()
    var nLines = 0L
    var totalLineChars = 0L
    var li = 0
    val rawLines = str.split("\n", -1)
    while (li < rawLines.length) {
      val raw = rawLines(li)
      if (!raw.trim.isEmpty) {
        nLines += 1
        totalLineChars += raw.length
        val c = lineCounts.get(raw)
        if (c == null) lineCounts.put(raw, new long2(1L, raw.length.toLong))
        else c.a += 1L
      }
      li += 1
    }
    var dupChars = 0L
    val it = lineCounts.values.iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c.a > 1L) dupChars += c.a * c.b
    }
    // word n-grams: one tokenize, rolling join — counts by gram text
    val trimmed = str.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    val nGrams = Math.max(toks.length - n + 1, 0).toLong
    var maxCnt = 0L
    if (nGrams > 0) {
      val gramCounts = new java.util.HashMap[String, long2]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val g = sb.toString
        val c = gramCounts.get(g)
        val cnt = if (c == null) { gramCounts.put(g, new long2(1L, 0L)); 1L }
                  else { c.a += 1L; c.a }
        if (cnt > maxCnt) maxCnt = cnt
        i += 1
      }
    }
    val out = new Array[Any](5)
    out(0) = nLines
    out(1) = if (nLines == 0L) null
             else java.lang.Double.valueOf(1.0 - lineCounts.size.toDouble / nLines.toDouble)
    out(2) = if (nLines == 0L) null
             else java.lang.Double.valueOf(dupChars.toDouble / totalLineChars.toDouble)
    out(3) = nGrams
    out(4) = if (nGrams == 0L) null
             else java.lang.Double.valueOf(maxCnt.toDouble / nGrams.toDouble)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** Mutable pair (count, payload) so the hot loop never reboxes. */
  final class long2(var a: Long, var b: Long)
}

/** Gopher repetition signals as ONE codegen map pass — see
  * [[graft.ops.CorpusOps.repetitionSignals]] for the operator story. */
case class RepetitionStats(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = true),
    StructField("dup_line_char_frac", DoubleType, nullable = true),
    StructField("n_grams", LongType, nullable = false),
    StructField("top_gram_frac", DoubleType, nullable = true)))
  override def prettyName: String = "repetition_stats"
  override def nullSafeEval(v: Any): Any =
    RepetitionStatsUtil.stats(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStatsUtil.stats($c, $n)")
  override protected def withNewChildInternal(c: Expression): RepetitionStats = copy(child = c)
}

case class TextShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "text_shingles"
  override def nullSafeEval(v: Any): Any =
    ShingleUtil.shingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.shingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): TextShingles = copy(child = c)
}

object GramUtil {
  /** Positional word-`w`-gram md5 occurrences — the exact-substring-dedup
    * key stream: one `(p, h)` row per 1-based start position, `h` the
    * 16-byte md5 of the space-joined gram (identical bytes to
    * `md5(concat_ws(' ', slice(tokens, p, w)))` — only the hash, never the
    * text, shuffles). One tokenize pass and one rolling StringBuilder per
    * document; the composed HOF form re-ran the whitespace-regex
    * tokenization for every position (O(tokens²) per document —
    * interpreted lambdas get no subexpression elimination). */
  def positionalGramHashes(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val trimmed = s.toString.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    if (toks.length < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](toks.length - w + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val h = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i + 1, h))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct word-`w`-gram md5 HEX hashes, first-occurrence order — the
    * whole `gramSet` chain ([[positionalGramHashes]] → per-element
    * `lower(hex(...))` → `array_distinct`) in one loop: the `transform`
    * relabel ran interpreted per gram (HOF bodies are CodegenFallback),
    * taxing every contamination/novelty/overlap op corpus-wide. Output
    * bytes identical: lowercase hex of the same digests, deduped keeping
    * the first occurrence (exactly `array_distinct`'s order). */
  def gramHexSet(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val trimmed = s.toString.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    if (toks.length < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[UTF8String](
      math.max(16, (toks.length - w + 1) * 2))
    val sb = new java.lang.StringBuilder
    val hexDigits = "0123456789abcdef".toCharArray
    var i = 0
    while (i <= toks.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val h = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((h(b) & 0xf0) >>> 4).toByte
        hex(2 * b + 1) = hexDigits(h(b) & 0x0f).toByte
        b += 1
      }
      seen.add(UTF8String.fromBytes(hex))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Character trigrams WITH multiplicity, codepoint-exact (a surrogate
    * pair counts as one character, matching `substring`/`length` SQL
    * semantics and DuckDB's `strlen`/`substr`): one codepoint walk per
    * document. The `substring(text, i, 3)` HOF form re-scanned the string
    * from byte 0 for every position (UTF-8 offsets are not random-access),
    * O(len²) per document. */
  def charTrigrams(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](n + 1)
    var ci = 0
    var k = 0
    while (ci < str.length) {
      starts(k) = ci
      k += 1
      ci += Character.charCount(str.codePointAt(ci))
    }
    starts(n) = str.length
    val out = new Array[Any](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) = UTF8String.fromString(str.substring(starts(i), starts(i + 3)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** One-pass MOSS winnowing selections: word-`k`-gram md5s, then the
    * classic monotonic-deque sliding-window minimum over `w` consecutive
    * grams — O(grams) total, vs the composed HOF form's O(grams × w)
    * interpreted `array_min(slice(...))` per window (higher-order
    * functions never enter whole-stage codegen). Tie rule: (hash asc,
    * position desc) — pushing pops `<=`-equal hashes, so the RIGHTMOST
    * minimal gram survives, the robust-winnowing rule. Output: distinct
    * `(p, h)` selections in document order; `< k` tokens → empty, `<= w`
    * grams → the single whole-document window. A selected index cannot
    * recur non-consecutively (a smaller later gram that evicts it
    * outlives it in every window they share), so consecutive-duplicate
    * suppression IS global distinctness. */
  def winnowSelections(s: UTF8String, k: Int,
                       w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val trimmed = s.toString.trim
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else trimmed.split("\\s+")
    if (toks.length < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val n = toks.length - k + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Array[Byte]](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      hashes(i) = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      var j = 0
      while (j < 16) {
        val d = (a(j) & 0xff) - (b(j) & 0xff)
        if (d != 0) return d
        j += 1
      }
      0
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def row(idx: Int) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](idx + 1, hashes(idx)))
    if (n <= w) {
      var best = 0
      var j = 1
      while (j < n) { if (cmp(hashes(j), hashes(best)) <= 0) best = j; j += 1 }
      out += row(best)
    } else {
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0
      var last = -1
      var idx = 0
      var sWin = 0
      while (sWin <= n - w) {
        while (idx <= sWin + w - 1) {
          while (tail > head && cmp(hashes(idx), hashes(dq(tail - 1))) <= 0) tail -= 1
          dq(tail) = idx
          tail += 1
          idx += 1
        }
        while (dq(head) < sWin) head += 1
        if (dq(head) != last) { out += row(dq(head)); last = dq(head) }
        sWin += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

case class PositionalGramHashes(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("h", BinaryType, nullable = false))), containsNull = false)
  override def prettyName: String = "positional_gram_hashes"
  override def nullSafeEval(v: Any): Any =
    GramUtil.positionalGramHashes(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramUtil.positionalGramHashes($c, $w)")
  override protected def withNewChildInternal(c: Expression): PositionalGramHashes = copy(child = c)
}

/** `gram_hex_set(text)`: the full distinct-gram-hex chain in one codegen
  * loop (see [[GramUtil.gramHexSet]]). */
case class GramHexSet(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gram_hex_set"
  override def nullSafeEval(v: Any): Any =
    GramUtil.gramHexSet(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramUtil.gramHexSet($c, $w)")
  override protected def withNewChildInternal(c: Expression): GramHexSet =
    copy(child = c)
}

/** `winnow_fingerprints(text)`: [[GramUtil.winnowSelections]] as a
  * codegen'd column — one deque pass per document. */
case class WinnowFingerprintsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("h", BinaryType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override def nullSafeEval(v: Any): Any =
    GramUtil.winnowSelections(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramUtil.winnowSelections($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprintsExpr =
    copy(child = c)
}

case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_trigrams"
  override def nullSafeEval(v: Any): Any =
    GramUtil.charTrigrams(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramUtil.charTrigrams($c)")
  override protected def withNewChildInternal(c: Expression): CharTrigrams = copy(child = c)
}

/** 64-bit FNV-1a text fingerprint (codegen'd). */
/** Unicode normalization (NFC/NFD/NFKC/NFKD) via `java.text.Normalizer` —
  * Spark has no built-in for it. Already-normalized text (the overwhelming
  * common case) short-circuits on the `isNormalized` quick check. NFC
  * output is oracle-portable (DuckDB `nfc_normalize`); the K forms are
  * Spark-side only. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unsupported normalization form: $form")
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"
  override def nullSafeEval(v: Any): Any =
    BucketUtil.unicodeNormalize(v.asInstanceOf[UTF8String], form)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.BucketUtil.unicodeNormalize($c, "$form")""")
  override protected def withNewChildInternal(c: Expression): UnicodeNormalize =
    copy(child = c)
}

case class TextFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "text_fingerprint"
  override def nullSafeEval(v: Any): Any = BucketUtil.fnv64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketUtil.fnv64($c)")
  override protected def withNewChildInternal(c: Expression): TextFingerprint = copy(child = c)
}

/** Random-hyperplane LSH signature over an `array<float>` embedding: an
  * nbits-bit bucket id where bit j = sign(dot(vec, plane_j)). The planes are
  * generated once (seeded) on the driver and shipped as a reference object —
  * each row is a single codegen'd pass, so bucketing 100 TB of embeddings is
  * a map-only scan. */
case class HyperplaneSig(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression {
  require(planes.length <= RefObjCaps.MaxHyperplanes,
    s"nbits ${planes.length} exceeds ${RefObjCaps.MaxHyperplanes} (sig packs " +
      "into a non-negative Int)")
  require(planes.forall(_.length <= RefObjCaps.MaxDim),
    s"hyperplane dim exceeds plan-embed cap ${RefObjCaps.MaxDim}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_sig"
  override def nullSafeEval(v: Any): Any =
    BucketUtil.hyperplaneSig(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketUtil.hyperplaneSig($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
}

/** IVF cell assignment: nearest centroid by cosine (codegen'd map pass). */
case class NearestCentroid(child: Expression, centers: Array[Array[Float]])
    extends UnaryExpression {
  require(centers.length <= RefObjCaps.MaxCentroids,
    s"nlist ${centers.length} exceeds plan-embed cap ${RefObjCaps.MaxCentroids}")
  require(centers.forall(_.length <= RefObjCaps.MaxDim),
    s"centroid dim exceeds plan-embed cap ${RefObjCaps.MaxDim}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override def nullSafeEval(v: Any): Any =
    BucketUtil.nearestCentroid(v.asInstanceOf[ArrayData], centers)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centers", centers, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketUtil.nearestCentroid($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid = copy(child = c)
}

/** IVF multi-probe: the nprobe nearest centroids, best first. */
case class NearestCentroids(child: Expression, centers: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression {
  require(centers.length <= RefObjCaps.MaxCentroids,
    s"nlist ${centers.length} exceeds plan-embed cap ${RefObjCaps.MaxCentroids}")
  require(centers.forall(_.length <= RefObjCaps.MaxDim),
    s"centroid dim exceeds plan-embed cap ${RefObjCaps.MaxDim}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def nullSafeEval(v: Any): Any =
    BucketUtil.nearestCentroids(v.asInstanceOf[ArrayData], centers, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centers", centers, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BucketUtil.nearestCentroids($c, $ref, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroids = copy(child = c)
}

/** One-pass k-permutation MinHash signature (JVM helper for codegen). */
object MinHashUtil {
  /** Bit-exact with the composed HOF form
    * `aggregate(sh, array_repeat(MaxValue, k), (acc, s) => zip_with(acc,
    * transform(sequence(1, k), i => xxhash64(s, i)), least))`: Spark's
    * multi-arg xxhash64 folds children over seed 42, so per element the
    * per-seed hash is `XXH64.hashInt(i, XXH64.hashUTF8String(s, 42))`.
    * Unlike the HOF interpreter (two k-element array allocations per
    * shingle, per-element lambda dispatch), this is one tight loop. */
  def signature(arr: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // a null element leaves the fold at the seed (hash funcs skip nulls)
      val base =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var j = 1
      while (j <= k) {
        val h = XXH64.hashInt(j, base)
        if (h < mins(j - 1)) mins(j - 1) = h
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** One-pass 64-bit SimHash of a token array (JVM helper for codegen). */
object SimHashUtil {
  /** Bit-exact with the composed HOF form: per token the hash is Spark's
    * single-arg `xxhash64(t)` = `XXH64.hashUTF8String(t, 42)`; bit j of
    * the hash votes +1/−1 on bit-sum j; fingerprint bit j is set iff its
    * sum is > 0. The HOF interpreter built a 64-element vote array AND a
    * 64-element zip per token — this is two registers and a loop. */
  def simhash(arr: ArrayData): Long = {
    val sums = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // null tokens: xxhash64 skips null children → hash stays at seed 42
      val h = if (arr.isNullAt(i)) 42L
              else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }
}

/** 64-bit SimHash of a token array in ONE pass per row (codegen'd); see
  * [[SimHashUtil.simhash]] for the exact semantics contract. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 does not support type $other")
    }

  override def nullSafeEval(v: Any): Any =
    SimHashUtil.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** MinHash signature of a shingle array in ONE pass per row (codegen'd);
  * see [[MinHashUtil.signature]] for the exact semantics contract. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature does not support type $other")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashUtil.signature(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.signature($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** Column-level entry points + SQL registration. */
/** Bloom-filter membership probe, codegen'd: the sketch (built distributed
  * over the small side, merged once) ships as ONE plan reference object per
  * executor, and the probe is two hashes per row — a map-side prefilter
  * that keeps non-candidate rows out of a shuffle entirely. NO false
  * negatives by construction, so an exact join downstream restores
  * exactness; false positives only cost shuffle bytes (~fpp of the input). */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  require(bloom.bitSize() <= RefObjCaps.MaxBloomBits,
    s"Bloom sketch ${bloom.bitSize()} bits exceeds plan-embed cap " +
      s"${RefObjCaps.MaxBloomBits} (size the sketch at build: expectedItems/fpp)")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def nullSafeEval(v: Any): Any =
    bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain = copy(child = c)
}

/** Common surface of the two [[TopKByScore]] buffers: the primitive-long
  * fast path ([[TopKBuffer]]) and the generic-id path ([[TopKAnyBuffer]]).
  * A given aggregate instance only ever creates one of the two (dispatch
  * on the resolved id type), so cross-merges cannot occur. */
sealed trait TopKBuf {
  def addAny(score: Double, id: Any): Unit
  def mergeIn(other: TopKBuf): Unit
  /** Best-first (score DESC, id ASC) as struct<score,id> rows. */
  def sortedRows: Array[org.apache.spark.sql.catalyst.InternalRow]
}

/** Bounded buffer for [[TopKByScore]]: the k best (score DESC, id ASC)
  * pairs seen so far, held in a primitive-array binary heap whose ROOT is
  * the worst kept pair — a full-buffer insert is ONE primitive compare in
  * the common reject case, O(log k) on evict, and the per-row hot path
  * allocates nothing. NaN ranks above every double (Spark sort order). */
final class TopKBuffer(val k: Int) extends TopKBuf {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  // (s1,i1) ranks strictly worse than (s2,i2): lower score, or same score
  // and larger id
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1 > i2)
  }
  @inline private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val i = ids(a); ids(a) = ids(b); ids(b) = i
  }

  def add(score: Double, id: Long): Unit = {
    if (n < k) {
      scores(n) = score; ids(n) = id; n += 1
      var i = n - 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else i = 0
      }
    } else if (worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }
  }

  def merge(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.scores(i), other.ids(i)); i += 1 }
  }

  override def addAny(score: Double, id: Any): Unit =
    add(score, id.asInstanceOf[Long])
  override def mergeIn(other: TopKBuf): Unit =
    merge(other.asInstanceOf[TopKBuffer])
  override def sortedRows: Array[org.apache.spark.sql.catalyst.InternalRow] =
    sortedPairs.map { case (s, i) =>
      org.apache.spark.sql.catalyst.InternalRow(s, i)
    }

  /** Best-first (score DESC, id ASC). */
  def sortedPairs: Array[(Double, Long)] = {
    val out = Array.tabulate(n)(i => (scores(i), ids(i)))
    scala.util.Sorting.stableSort(out, (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c < 0 else a._2 < b._2
    })
    out
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * n)
    bb.putInt(k).putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(scores(i)).putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    var i = 0
    while (i < n) { b.add(bb.getDouble, bb.getLong); i += 1 }
    b
  }
}

/** Generic-id variant of [[TopKBuffer]] for any ORDERABLE id type (string,
  * int, decimal, struct, …): same binary heap, ids held as Spark internal
  * values and tie-broken by the type's interpreted ordering. Scores stay a
  * primitive array; only the id slot boxes — the right trade for the
  * string-doc-id corpora this path exists for. Serialization is handled by
  * the aggregate (UnsafeProjection over the result schema), which knows
  * the id type. */
final class TopKAnyBuffer(val k: Int, ord: Ordering[Any]) extends TopKBuf {
  private val scores = new Array[Double](k)
  private val ids = new Array[Any](k)
  private var n = 0

  @inline private def worse(s1: Double, i1: Any, s2: Double, i2: Any): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && ord.compare(i1, i2) > 0)
  }
  @inline private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val i = ids(a); ids(a) = ids(b); ids(b) = i
  }

  override def addAny(score: Double, id: Any): Unit = {
    if (n < k) {
      scores(n) = score; ids(n) = id; n += 1
      var i = n - 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else i = 0
      }
    } else if (worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }
  }

  override def mergeIn(other: TopKBuf): Unit = {
    val o = other.asInstanceOf[TopKAnyBuffer]
    var i = 0
    while (i < o.n) { addAny(o.scores(i), o.ids(i)); i += 1 }
  }

  override def sortedRows: Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val idx = Array.range(0, n).sortWith { (a, b) =>
      val c = java.lang.Double.compare(scores(b), scores(a))
      if (c != 0) c < 0 else ord.compare(ids(a), ids(b)) < 0
    }
    idx.map(i => org.apache.spark.sql.catalyst.InternalRow(scores(i), ids(i)))
  }
}

/** Map-side-combining top-k: `top_k_by(score, id, k)` aggregates to the k
  * best (score DESC, id ASC) pairs as `array<struct<score,id>>`, best
  * first. The streaming-friendly replacement for the
  * `row_number() OVER (ORDER BY score DESC) <= k` window at scale: the
  * window SORTS every candidate row behind a shuffle of all of them,
  * while this buffer reduces each map partition to ≤ k pairs per group
  * BEFORE the shuffle (ObjectHashAggregate partial merge) — for an ANN
  * candidate set of |corpus|·nprobe rows, the exchange carries
  * groups×k×16 bytes instead of the candidates. */
case class TopKByScore(score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[TopKBuf]
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  require(k >= 1, s"top_k_by needs k >= 1, got $k")
  override def left: Expression = score
  override def right: Expression = id
  // long ids take the primitive-array fast path (zero allocation per row);
  // every other orderable type goes through the generic buffer
  @transient private lazy val isLongId = id.dataType == LongType
  @transient private lazy val idOrdering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(id.dataType)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(id.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"top_k_by expects (double, <orderable id>), got (${score.dataType}, ${id.dataType})")
  override def createAggregationBuffer(): TopKBuf =
    if (isLongId) new TopKBuffer(k) else new TopKAnyBuffer(k, idOrdering)
  override def update(b: TopKBuf, input: org.apache.spark.sql.catalyst.InternalRow): TopKBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    // copyValue: eval may return a value backed by a reused row buffer
    // (UTF8String over an UnsafeRow); the heap retains it across rows
    if (s != null && i != null)
      b.addAny(s.asInstanceOf[Double],
        org.apache.spark.sql.catalyst.InternalRow.copyValue(i))
    b
  }
  override def merge(b: TopKBuf, o: TopKBuf): TopKBuf = { b.mergeIn(o); b }
  override def eval(b: TopKBuf): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(b.sortedRows)
  // the long path keeps its compact primitive layout; generic ids
  // serialize as one UnsafeRow over the result schema (type-agnostic)
  @transient private lazy val serProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[DataType](dataType))
  override def serialize(b: TopKBuf): Array[Byte] = b match {
    case p: TopKBuffer => p.toBytes
    case a: TopKAnyBuffer =>
      serProj(org.apache.spark.sql.catalyst.InternalRow(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.sortedRows)))
        .copy().getBytes
  }
  override def deserialize(bytes: Array[Byte]): TopKBuf =
    if (isLongId) TopKBuffer.fromBytes(bytes)
    else {
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      val arr = row.getArray(0)
      val b = new TopKAnyBuffer(k, idOrdering)
      var i = 0
      while (i < arr.numElements()) {
        val st = arr.getStruct(i, 2)
        b.addAny(st.getDouble(0),
          org.apache.spark.sql.catalyst.InternalRow.copyValue(st.get(1, id.dataType)))
        i += 1
      }
      b
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", id.dataType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by"
  override def withNewMutableAggBufferOffset(n: Int): TopKByScore =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKByScore =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKByScore =
    copy(score = l, id = r)
}

/** Mutable buffer for [[MisraGries]]: at most `k` tracked terms with
  * lower-bound counts, plus the exact total of non-null rows seen. The
  * classic guarantee: any term with true frequency > n/(k+1) is still
  * tracked at the end, under both row updates and summary merges
  * (Agarwal et al., "Mergeable Summaries": union counts, then subtract
  * the (k+1)-th largest and drop non-positive). */
final class MgBuffer(val k: Int) {
  val counts = new java.util.HashMap[UTF8String, java.lang.Long](k * 2)
  var n: Long = 0L

  def addOne(term: UTF8String): Unit = {
    n += 1
    val cur = counts.get(term)
    if (cur != null) counts.put(term, cur + 1L)
    else if (counts.size < k) counts.put(term.clone(), 1L)
    else {
      // decrement-all step: O(k), amortized against prior increments
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  def mergeIn(other: MgBuffer): Unit = {
    n += other.n
    val oit = other.counts.entrySet().iterator()
    while (oit.hasNext) {
      val e = oit.next()
      val cur = counts.get(e.getKey)
      if (cur != null) counts.put(e.getKey, cur + e.getValue)
      else counts.put(e.getKey, e.getValue)
    }
    if (counts.size > k) {
      // subtract the (k+1)-th largest count from everything
      val vals = new Array[Long](counts.size)
      var i = 0
      val vit = counts.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
      }
    }
  }
}

/** `misra_gries(term, k)`: one-pass mergeable heavy-hitter summary —
  * struct(n, items: array<struct<term, cnt>>), items sorted by term. Each
  * map partition reduces to ≤ k entries BEFORE the exchange (partial
  * merge), so finding frequent-term candidates costs one combinable
  * aggregate instead of a full-vocabulary shuffle; every term with true
  * frequency > n/(k+1) is guaranteed present (cnt is a lower bound — pair
  * with an exact recount of the ≤ k candidates for exact output, see
  * [[graft.ops.CorpusOps.heavyHitters]]). */
case class MisraGries(term: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[MgBuffer]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(k >= 1, s"misra_gries needs k >= 1, got $k")
  override def child: Expression = term
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (term.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"misra_gries expects a string term, got ${term.dataType}")
  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)
  override def update(b: MgBuffer, input: org.apache.spark.sql.catalyst.InternalRow): MgBuffer = {
    val t = term.eval(input)
    if (t != null) b.addOne(t.asInstanceOf[UTF8String])
    b
  }
  override def merge(b: MgBuffer, o: MgBuffer): MgBuffer = { b.mergeIn(o); b }
  private def itemRows(b: MgBuffer): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val entries = new Array[(UTF8String, Long)](b.counts.size)
    var i = 0
    val it = b.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (e.getKey, e.getValue.longValue())
      i += 1
    }
    entries.sortWith((a, b) => a._1.compareTo(b._1) < 0)
      .map(e => org.apache.spark.sql.catalyst.InternalRow(e._1, e._2))
  }
  override def eval(b: MgBuffer): Any =
    org.apache.spark.sql.catalyst.InternalRow(b.n,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(itemRows(b)))
  @transient private lazy val serProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[DataType](dataType))
  override def serialize(b: MgBuffer): Array[Byte] =
    serProj(org.apache.spark.sql.catalyst.InternalRow(eval(b))).copy().getBytes
  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val st = row.getStruct(0, 2)
    val b = new MgBuffer(k)
    b.n = st.getLong(0)
    val arr = st.getArray(1)
    var i = 0
    while (i < arr.numElements()) {
      val item = arr.getStruct(i, 2)
      b.counts.put(item.getUTF8String(0).clone(), item.getLong(1))
      i += 1
    }
    b
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
      containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"
  override def withNewMutableAggBufferOffset(n: Int): MisraGries =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MisraGries =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): MisraGries =
    copy(term = c)
}

/** Mutable buffer for [[VectorSumFixed]]: per-dimension fixed-point sums
  * plus the row count. Allocated lazily at the first vector (dimension is
  * data-driven). */
final class VecSumBuf {
  var sums: Array[Long] = null
  var count: Long = 0L
}

/** Fixed-point vector sum: `vector_sum_fixed(vec, scaleBits)` accumulates
  * `floor(x_i · 2^scaleBits)` per dimension into `array<bigint>` sums plus
  * a row count. Integer addition is associative-commutative, so the result
  * is BITWISE IDENTICAL under any partitioning / partial-aggregation order
  * — unlike a double sum, whose low bits depend on Spark's merge order.
  * This is the deterministic accumulator behind reproducible distributed
  * k-means centroid updates: quantization error is 2^-scaleBits per
  * element (1e-7 absolute at the default 24 bits for unit-norm
  * embeddings), and overflow needs > 2^(63-scaleBits) total magnitude —
  * ~5.5e11 unit-scale rows per group at 24 bits, far past any per-cluster
  * corpus. Map-side combining: the exchange carries one `dim`-long array
  * per (group, map partition), never the vectors. */
case class VectorSumFixed(vec: Expression, scaleBits: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[VecSumBuf]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(scaleBits >= 0 && scaleBits <= 48,
    s"vector_sum_fixed needs scaleBits in [0, 48], got $scaleBits")
  override def child: Expression = vec
  private val scale = (1L << scaleBits).toDouble
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    vec.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vector_sum_fixed expects array<float>, got $other")
    }
  override def createAggregationBuffer(): VecSumBuf = new VecSumBuf
  override def update(b: VecSumBuf, input: org.apache.spark.sql.catalyst.InternalRow): VecSumBuf = {
    val v = vec.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      if (b.sums == null) b.sums = new Array[Long](n)
      require(b.sums.length == n,
        s"vector_sum_fixed: ragged vectors (${b.sums.length} vs $n dims)")
      var i = 0
      while (i < n) {
        b.sums(i) += math.floor(arr.getFloat(i).toDouble * scale).toLong
        i += 1
      }
      b.count += 1
    }
    b
  }
  override def merge(b: VecSumBuf, o: VecSumBuf): VecSumBuf = {
    if (o.sums != null) {
      if (b.sums == null) b.sums = new Array[Long](o.sums.length)
      require(b.sums.length == o.sums.length,
        s"vector_sum_fixed: ragged vectors (${b.sums.length} vs ${o.sums.length} dims)")
      var i = 0
      while (i < b.sums.length) { b.sums(i) += o.sums(i); i += 1 }
      b.count += o.count
    }
    b
  }
  override def eval(b: VecSumBuf): Any = {
    val arr = if (b.sums == null) Array.empty[Long] else b.sums
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr.map(Long.box)),
      b.count)
  }
  override def serialize(b: VecSumBuf): Array[Byte] = {
    val n = if (b.sums == null) 0 else b.sums.length
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * n + 8)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(b.sums(i)); i += 1 }
    bb.putLong(b.count)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): VecSumBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new VecSumBuf
    if (n > 0) {
      b.sums = new Array[Long](n)
      var i = 0
      while (i < n) { b.sums(i) = bb.getLong; i += 1 }
    }
    b.count = bb.getLong
    b
  }
  override def dataType: DataType = StructType(Seq(
    StructField("sums", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "vector_sum_fixed"
  override def withNewMutableAggBufferOffset(n: Int): VectorSumFixed =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VectorSumFixed =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): VectorSumFixed =
    copy(vec = c)
}

object GraftFunctions {
  def iceberg_bucket(n: Int, c: Column): Column =
    ColumnBridge.column(IcebergBucket(expression(c), n))
  def iceberg_truncate(w: Int, c: Column): Column =
    ColumnBridge.column(IcebergTruncate(expression(c), w))
  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(expression(a), expression(b)))
  def epoch_micros(c: Column): Column =
    ColumnBridge.column(EpochMicros(expression(c)))
  /** Unicode normalization — form in {NFC, NFD, NFKC, NFKD}. */
  def unicode_normalize(c: Column, form: String): Column =
    ColumnBridge.column(UnicodeNormalize(expression(c), form))

  def text_fingerprint(c: Column): Column =
    ColumnBridge.column(TextFingerprint(expression(c)))
  def text_shingles(c: Column, n: Int): Column =
    ColumnBridge.column(TextShingles(expression(c), n))
  def positional_gram_hashes(c: Column, w: Int): Column =
    ColumnBridge.column(PositionalGramHashes(expression(c), w))
  /** Distinct gram hex hashes, one loop (see [[GramHexSet]]). */
  def gram_hex_set(c: Column, w: Int): Column =
    ColumnBridge.column(GramHexSet(expression(c), w))
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprintsExpr(expression(c), k, w))
  def char_trigrams(c: Column): Column =
    ColumnBridge.column(CharTrigrams(expression(c)))
  def minhash_signature(c: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(expression(c), k))
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(expression(c)))
  def text_profile(c: Column, stopLists: Seq[Seq[String]]): Column =
    ColumnBridge.column(TextProfile(expression(c), stopLists))
  def repetition_stats(c: Column, n: Int): Column =
    ColumnBridge.column(RepetitionStats(expression(c), n))
  def hyperplane_sig(c: Column, planes: Array[Array[Float]]): Column =
    ColumnBridge.column(HyperplaneSig(expression(c), planes))
  def nearest_centroid(c: Column, centers: Array[Array[Float]]): Column =
    ColumnBridge.column(NearestCentroid(expression(c), centers))
  def nearest_centroids(c: Column, centers: Array[Array[Float]], nprobe: Int): Column =
    ColumnBridge.column(NearestCentroids(expression(c), centers, nprobe))
  def bloom_might_contain(c: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    ColumnBridge.column(BloomMightContain(expression(c), bloom))
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(expression(a), expression(b)))
  def sq8_dot(v: Column, q: Column, mins: Array[Float], steps: Array[Float]): Column =
    ColumnBridge.column(Sq8Dot(expression(v), expression(q), mins, steps))

  /** True iff any element of a string-array column is in `elems`. */
  def any_in_set(arr: Column, elems: Array[String]): Column =
    ColumnBridge.column(AnyInSet(expression(arr), broadcastSet(elems)))

  /** Intersection size of a distinct string array with a broadcast
    * membership set (see [[CountInSet]]). */
  def count_in_set(arr: Column, elems: Array[String]): Column =
    ColumnBridge.column(CountInSet(expression(arr), broadcastSet(elems)))

  /** Per-row unigram entropy of a token array (see [[UnigramEntropy]]). */
  def unigram_entropy(tokens: Column): Column =
    ColumnBridge.column(UnigramEntropy(expression(tokens)))

  /** 16-bucket md5-nibble token histogram (see [[NibbleHistogram]]). */
  def nibble_histogram(tokens: Column): Column =
    ColumnBridge.column(NibbleHistogram(expression(tokens)))

  /** Per-document `(term, tf)` pairs, first-occurrence order (see
    * [[TermCounts]]) — the map-only postings kernel.
    *
    * BUFFER-LIFETIME CONTRACT: the returned array's `term` strings ALIAS
    * the input row buffer (no per-term copy — that is part of the win over
    * the exchange it replaced). The array must be consumed by a COPYING
    * operator in the same pipeline stage — an `explode`/`inline` into a
    * projection, which writes UnsafeRow copies — and must NOT be held
    * across input rows by a buffering operator (sort, aggregate
    * collect_list, cache) without an intervening projection. Every current
    * caller explodes immediately; `TermKernelBufferSpec` pins the pattern. */
  def term_counts(tokens: Column): Column =
    ColumnBridge.column(TermCounts(expression(tokens)))

  /** Per-document `(term, tf, positions)` triples (see [[TermPostings]]) —
    * the map-only positional-postings kernel. Same BUFFER-LIFETIME
    * CONTRACT as [[term_counts]]: `term` strings alias the input row
    * buffer; consume via an immediately-following explode/projection. */
  def term_postings(tokens: Column): Column =
    ColumnBridge.column(TermPostings(expression(tokens)))

  /** Sentence-aligned chunks of ONE document's ordered sentence array
    * (see [[SentenceChunks]]) — the map-only chunking kernel; output
    * strings are copies (no aliasing caveat). */
  def sentence_chunks(sentences: Column, chunkTokens: Long): Column =
    ColumnBridge.column(SentenceChunks(expression(sentences), chunkTokens))

  /** Build the probe set ONCE on the driver and broadcast it — one copy
    * per executor JVM instead of one per task (see [[AnyInSet]]).
    *
    * MEMOIZED by (application, content digest): a long-lived driver that
    * rebuilds the same plan repeatedly (a bench's 4 runs of one query, an
    * interactive session re-running a contamination report) reuses ONE
    * broadcast instead of pinning a fresh multi-million-gram copy in the
    * executor block managers per rebuild. Lifetime of each broadcast is
    * ContextCleaner-managed: it is reclaimed when the last plan (and this
    * bounded cache slot) drops the reference and the driver GC notices —
    * there is no explicit destroy, because an evicted-but-still-referenced
    * broadcast may back an in-flight streaming query, and destroy() there
    * would fail every running task that probes it. The cache holds at most
    * [[BroadcastSetCacheMax]] entries (FIFO evict = drop OUR reference
    * only), so the worst pinned-set count is bounded even across many
    * distinct sets. */
  private[graft] val BroadcastSetCacheMax = 16
  private val bcSetCache =
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[java.util.HashSet[UTF8String]]](
        32, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.broadcast.Broadcast[java.util.HashSet[UTF8String]]])
          : Boolean = size() > BroadcastSetCacheMax
    }

  private[graft] def broadcastSet(elems: Array[String])
      : org.apache.spark.broadcast.Broadcast[java.util.HashSet[UTF8String]] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    // strong 128-bit content digest (length-prefixed elements), keyed per
    // application so a restarted context never resurrects a dead broadcast
    val md = java.security.MessageDigest.getInstance("MD5")
    val lenBuf = java.nio.ByteBuffer.allocate(4)
    elems.foreach { e =>
      val b = e.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      lenBuf.clear(); lenBuf.putInt(b.length)
      md.update(lenBuf.array()); md.update(b)
    }
    val key = sc.applicationId + ":" + elems.length + ":" +
      md.digest().map("%02x".format(_)).mkString
    bcSetCache.synchronized {
      val hit = bcSetCache.get(key)
      if (hit != null) hit
      else {
        val s = new java.util.HashSet[UTF8String](math.max(16, elems.length * 2))
        elems.foreach(e => s.add(UTF8String.fromString(e)))
        val bc = sc.broadcast(s)
        bcSetCache.put(key, bc)
        bc
      }
    }
  }

  /** One-loop JL ±1 random projection (see [[RandomProjectExpr]]). */
  def random_project(vec: Column, outDim: Int, seed: Long): Column =
    ColumnBridge.column(RandomProjectExpr(expression(vec), outDim, seed))

  /** One-loop DSIR importance score over a token array
    * (see [[DsirScoreExpr]]). */
  def dsir_score(tokens: Column, deltas: Array[Double]): Column =
    ColumnBridge.column(DsirScoreExpr(expression(tokens), deltas))

  /** Per-bigram hash buckets as an int array (see [[DsirBucketsExpr]]). */
  def dsir_buckets(tokens: Column, buckets: Int): Column =
    ColumnBridge.column(DsirBucketsExpr(expression(tokens), buckets))

  /** Hamming distance over packed sign-word arrays (see [[HammingWords]]). */
  def hamming_words(a: Column, b: Column): Column =
    ColumnBridge.column(HammingWords(expression(a), expression(b)))

  /** Greedy MMR positions over a best-first candidate array (see
    * [[MmrSelect]]): array<int>, selection order. */
  def mmr_select(candidates: Column, k: Int, lambda: Double): Column =
    ColumnBridge.column(MmrSelect(expression(candidates), k, lambda))

  /** BPE subword tokens from trained merges (see [[BpeEncode]]):
    * array<string>, map-only, model as one shared plan reference. */
  def bpe_encode(text: Column, merges: Array[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(expression(text),
      merges.map(_._1), merges.map(_._2)))

  /** One-pass mergeable heavy-hitter summary (see [[MisraGries]]):
    * struct(n, items array<struct<term, cnt>>), ≤ k items. */
  def misra_gries(term: Column, k: Int): Column =
    ColumnBridge.column(MisraGries(expression(term), k)
      .toAggregateExpression())

  /** Mean Laplace-smoothed trigram log-likelihood vs a trained count map:
    * struct(n_trigrams, avg_logp), map-only (see [[LmAvgLogP]]). */
  def lm_avg_logp(tris: Column, model: Array[(String, Long)],
                  denom: Double): Column =
    ColumnBridge.column(LmAvgLogP(expression(tris),
      model.map(_._1), model.map(_._2), denom))

  /** Linear-model score over a token-array column: bias + Σ weight(tok). */
  def token_weight_sum(toks: Column, vocab: Array[String], vals: Array[Double],
                       bias: Double): Column =
    ColumnBridge.column(TokenWeightSum(expression(toks), vocab, vals, bias))

  /** PQ-encode a vector column → struct(codes: binary, resid: double). */
  def pq_encode(v: Column, codebooks: Array[Float], m: Int, ksub: Int,
                dsub: Int): Column =
    ColumnBridge.column(PqEncode(expression(v), codebooks, m, ksub, dsub))

  /** Per-query PQ ADC lookup table (array<double>, length m·ksub). */
  def pq_lut(q: Column, codebooks: Array[Float], m: Int, ksub: Int,
             dsub: Int): Column =
    ColumnBridge.column(PqLut(expression(q), codebooks, m, ksub, dsub))

  /** Asymmetric PQ distance from code bytes + a query's lookup table. */
  def pq_adc(codes: Column, lut: Column, ksub: Int): Column =
    ColumnBridge.column(PqAdc(expression(codes), expression(lut), ksub))

  /** SQ8-encode a vector column → struct(codes, scale, resid). */
  def sq8_encode(v: Column): Column =
    ColumnBridge.column(Sq8Encode(expression(v)))

  /** STORED-code SQ8 asymmetric dot (codes + scale + query vector). */
  def sq8_codes_dot(codes: Column, scale: Column, q: Column): Column =
    ColumnBridge.column(
      Sq8CodesDot(expression(codes), expression(scale), expression(q)))
  def top_k_by(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(expression(score), expression(id), k).toAggregateExpression())

  /** Exact fixed-point vector sum → struct(sums array<bigint>, n bigint);
    * bitwise-reproducible under any partitioning (see [[VectorSumFixed]]). */
  def vector_sum_fixed(vec: Column, scaleBits: Int = 24): Column =
    ColumnBridge.column(
      VectorSumFixed(expression(vec), scaleBits).toAggregateExpression())

  /** Deterministic seeded hyperplanes for [[HyperplaneSig]] (xorshift64,
    * no RNG state shared with anything else). */
  def makePlanes(nbits: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    var x = seed
    def next(): Float = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      // uniform in [-1, 1)
      ((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
    }
    Array.fill(nbits)(Array.fill(dim)(next()))
  }

  private def expression(c: Column): Expression = ColumnBridge.expression(c)

  /** Register as SQL functions: `SELECT iceberg_bucket(16, id)` — matching
    * how Spark-Iceberg exposes `system.bucket` (SURVEY.md §2.9). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("iceberg_bucket", exprs =>
      IcebergBucket(exprs(1), exprs.head.eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction("iceberg_truncate", exprs =>
      IcebergTruncate(exprs(1), exprs.head.eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction("cosine_similarity", exprs =>
      CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("unicode_normalize", exprs =>
      UnicodeNormalize(exprs(0), exprs(1).eval().toString), "built-in")
    reg.createOrReplaceTempFunction("repetition_stats", exprs =>
      RepetitionStats(exprs(0), exprs(1).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction("dot_product", exprs =>
      DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("hamming_words", exprs =>
      HammingWords(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("unigram_entropy", exprs =>
      UnigramEntropy(exprs.head), "built-in")
  }
}
