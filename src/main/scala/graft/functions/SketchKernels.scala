package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.unsafe.types.UTF8String

/** The tight-loop bodies of the sketch expressions, as one static
  * kernel per expression. Both execution paths call the SAME method:
  * interpreted eval delegates here, and each expression's `doGenCode`
  * emits a direct static call — so the expressions participate in
  * whole-stage codegen (no CodegenFallback frame, no per-row
  * interpreted dispatch) with exactly one implementation to keep
  * correct. (A Scala top-level object compiles with static
  * forwarders, so `graft.functions.SketchKernels.f(...)` is plain
  * Java to the generated code.)
  */
object SketchKernels {

  /** See [[TextStats]] for the exact SQL-arithmetic contract. */
  def textStats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes

    // n_words over space-trimmed text
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var nWords = 0
    if (hi > lo) {
      var runs = 0
      var inWs = false
      var i = lo
      while (i < hi) {
        val b = bytes(i)
        val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
          b == '\f' || b == '\r'
        if (ws && !inWs) runs += 1
        inWs = ws
        i += 1
      }
      nWords = runs + 1
    }

    // non_space: code points that are not 0x20 (count UTF-8 lead bytes)
    var nonSpace = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b != ' ' && (b & 0xC0) != 0x80) nonSpace += 1
      i += 1
    }

    // stop_n: " the " in padded lowercased text, non-overlapping
    val padded = (" " + s.toLowerCase.toString + " ").getBytes("UTF-8")
    val pat = " the ".getBytes("UTF-8")
    var stopN = 0
    var p = 0
    val limit = padded.length - pat.length
    while (p <= limit) {
      var j = 0
      while (j < pat.length && padded(p + j) == pat(j)) j += 1
      if (j == pat.length) { stopN += 1; p += pat.length } else p += 1
    }

    new GenericInternalRow(Array[Any](nWords, nonSpace, stopN))
  }

  /** See [[SimHash64]]. */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** One MessageDigest per thread: getInstance per row measured as
    * the dominant cost of a per-token md5 loop (provider lookup +
    * allocation), and MessageDigest is not thread-safe. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The integer value of the first 15 hex chars of md5(s) —
    * [[graft.operators.Dedup.md5Hash60]]'s arithmetic, computed from
    * the digest bytes directly (first 60 bits of the big-endian
    * digest) instead of via a hex string round-trip. */
  def md5Hash60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(s.getBytes) // underlying array when aligned, else a copy
    val d = md.digest()
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
    h >>> 4 // 16 hex chars read, keep the first 15 (60 bits)
  }

  /** See [[Md5SimHash60]]: engine-reproducible 60-bit simhash — one
    * md5-hash60 per token (with multiplicity), majority vote per bit
    * (bit i set iff 2·ones_i >= n). Bit-identical to the explode →
    * 60-way sum aggregate formulation by construction, including its
    * null parity: a null token counts into n without voting. */
  def md5Simhash60(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    val m = arr.numElements()
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val h = md5Hash60(arr.getUTF8String(i))
        var bit = 0
        while (bit < 60) {
          votes(bit) += ((h >>> bit) & 1L).toInt
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 60) {
      if (2 * votes(bit) >= m) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** See [[QuantizeInt8Floats]]: symmetric int8 quantization to a
    * FLOAT array (values are integers <= 127, exact in float) — the
    * arithmetic of `Similarity.quantizeInt8`'s q column
    * (floor(x / (max|x| / 127) + 0.5), all-zero when max|x| = 0),
    * computed in double exactly like the HOF projection and the
    * DuckDB oracle. One codegen'd pass instead of three interpreted
    * HOF passes (cast, abs-max, quantize) plus a fourth for the
    * float cast. Null elements quantize to 0 (unreachable via the
    * embeddings table — no null components). */
  def quantizeInt8Floats(arr: ArrayData, isDouble: Boolean): ArrayData = {
    val n = arr.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        v(i) = if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      i += 1
    }
    var mx = 0.0
    i = 0
    while (i < n) { val a = math.abs(v(i)); if (a > mx) mx = a; i += 1 }
    val out = new Array[Any](n)
    if (mx == 0.0) {
      i = 0; while (i < n) { out(i) = 0.0f; i += 1 }
    } else {
      val scale = mx / 127.0
      i = 0
      while (i < n) {
        out(i) = math.floor(v(i) / scale + 0.5).toFloat
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** The integer hyperplane matrix of [[Md5PlaneSig]]: component
    * (p, j) is (first md5 nibble of "p:j") − 8 ∈ [−8, 7] — public
    * arithmetic any engine recomputes from its own md5
    * (`Similarity.md5Hyperplane`). Deterministic, so the matrix is
    * computed once per (bits, dim) per JVM and cached. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Int]]]()

  private def planes(bits: Int, dim: Int): Array[Array[Int]] =
    planeCache.computeIfAbsent((bits.toLong << 32) | dim, _ =>
      Array.tabulate(bits, dim) { (p, j) =>
        val md = md5Local.get()
        md.reset()
        (((md.digest(s"$p:$j".getBytes("UTF-8"))(0) >> 4) & 0xF) - 8)
      })

  /** See [[Md5PlaneSig]]: integer-hyperplane LSH signature over an
    * integer-valued float vector — dot in double per plane
    * (left-to-right, exact: products <= 127·8, sums exact in
    * double), sign test >= 0 sets bit p. Bit-identical to the
    * nested-HOF formulation and to the DuckDB oracle's list
    * arithmetic. Null elements contribute 0 (unreachable). A vector
    * whose length differs from `dim` is rejected loudly: the HOF
    * formulation null-propagated a short vector through zip_with,
    * and a silent zero-pad here would diverge from it through the
    * registered md5_plane_sig SQL function. */
  def md5PlaneSig(arr: ArrayData, bits: Int, dim: Int): Long = {
    val n = arr.numElements()
    if (n != dim)
      throw new IllegalArgumentException(
        s"md5_plane_sig: vector length $n != dim $dim")
    val pl = planes(bits, dim)
    var sig = 0L
    var p = 0
    while (p < bits) {
      val row = pl(p)
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) s += arr.getFloat(i).toDouble * row(i)
        i += 1
      }
      if (s >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** See [[PqAdc]]: Σ_j lut[j][codes[j]] — the PQ asymmetric-distance
    * lookup loop. Exact when the table holds exact integer-valued
    * distances (the md5 oracle twin's case). */
  def pqAdc(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lut.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    s
  }

  /** Σ v[s+i]·w[s+i] in double, left to right, for i below `dsub` and
    * both lengths, skipping null elements of `v`: [[FloatVecDot]] of
    * SQL `slice(v, s + 1, dsub)` against `w`'s same slice. */
  private def subDot(v: ArrayData, s: Int, dsub: Int, w: Array[Float]): Double = {
    val n = math.min(math.min(dsub, v.numElements() - s), w.length - s)
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(s + i)) dot += v.getFloat(s + i).toDouble * w(s + i).toDouble
      i += 1
    }
    dot
  }

  /** See [[PqEncode]]: per subspace j, the code c minimizing
    * ||c_j||² − 2·(v_j·c_j), ties to the smaller code, doubles
    * compared in Spark's order (NaN largest, −0.0 == 0.0). A null `v`
    * encodes to all zeros (every score null, so the smallest code
    * wins). */
  def pqEncode(v: ArrayData, cents: Array[Array[Float]],
      c2: Array[Array[Double]], m: Int, dsub: Int): ArrayData = {
    val codes = new Array[Int](m)
    var j = 0
    while (v != null && j < m) {
      var bestD = 0.0
      var c = 0
      while (c < cents.length) {
        val d = c2(c)(j) - 2.0 * subDot(v, j * dsub, dsub, cents(c))
        if (c == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) {
          codes(j) = c
          bestD = d
        }
        c += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** See [[PqLut]]: lut[j][c] = ||q_j||² − 2·(q_j·c_j) + ||c_j||², in
    * that evaluation order; a null `q` gives null entries. */
  def pqLut(q: ArrayData, cents: Array[Array[Float]],
      c2: Array[Array[Double]], m: Int, dsub: Int): ArrayData =
    new GenericArrayData(Array.tabulate[Any](m) { j =>
      if (q == null) new GenericArrayData(new Array[Any](cents.length))
      else {
        val s = j * dsub
        val q2 = subDot(q, s, dsub, q.toFloatArray())
        UnsafeArrayData.fromPrimitiveArray(Array.tabulate(cents.length)(c =>
          q2 - 2.0 * subDot(q, s, dsub, cents(c)) + c2(c)(j)))
      }
    })

  /** See [[MinHash64]]. */
  def minhash64(arr: ArrayData, numPerms: Int): ArrayData = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var p = 0
        while (p < numPerms) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, p.toLong)
          if (h < sig(p)) sig(p) = h
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** See [[Md5MinHash30]]: the d30 oracle-twin signature — one
    * md5Hash60 (low 30 bits) per shingle, universal-hash min per
    * permutation ((a_j·h + b_j) mod p, products < 2^60 so exact in
    * long — the same BIGINT arithmetic DuckDB runs). Min is
    * order-independent, so this single pass is value-identical to
    * the explode → numPerms-way min aggregate it replaces. Null
    * shingles are skipped (min ignores null, matching the
    * aggregate); an EMPTY shingle array returns all-Long.MaxValue
    * sentinels — callers must exclude empty-shingle docs (the
    * aggregate form dropped them via its inner join). */
  /** Prime modulus + deterministic universal-hash constants of the
    * md5-minhash twin — THE single source both the kernel and the
    * generated DuckDB oracle SQL (via `Dedup.mhA`/`mhB` delegation)
    * read, so they cannot drift. */
  val mhPrime = 1073741789L // largest prime below 2^30
  def mhA(j: Int): Long = {
    val v = (j * 0x5DEECE66DL + 11L) % mhPrime
    if (v == 0L) 1L else v
  }
  def mhB(j: Int): Long = (j * 0x9E3779B9L + 7L) % mhPrime

  private val mhConstCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  def md5Minhash30(arr: ArrayData, numPerms: Int): ArrayData = {
    val (as, bs) = mhConstCache.computeIfAbsent(numPerms, n =>
      (Array.tabulate(n)(mhA), Array.tabulate(n)(mhB)))
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = md5Hash60(arr.getUTF8String(i)) & 0x3FFFFFFFL
        var j = 0
        while (j < numPerms) {
          val v = (h * as(j) + bs(j)) % mhPrime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** See [[Md5MinHash30FromHashes]]: [[md5Minhash30]] with the
    * per-shingle md5Hash60 step already done — the signature
    * re-derivation a REBAND runs over a dedup index's stored hashed
    * shingle sets. Value-identical to md5Minhash30 over the original
    * shingles for ANY numPerms: the universal-hash min folds each
    * element's low 30 bits, and a 60-bit collision between two
    * distinct shingles (one stored element instead of two) cannot
    * move a min over equal values. Null elements are skipped (the
    * md5Minhash30 parity; unreachable from stored sets, whose arrays
    * are containsNull = false). */
  def md5Minhash30FromHashes(arr: ArrayData, numPerms: Int): ArrayData = {
    val (as, bs) = mhConstCache.computeIfAbsent(numPerms, n =>
      (Array.tabulate(n)(mhA), Array.tabulate(n)(mhB)))
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i) & 0x3FFFFFFFL
        var j = 0
        while (j < numPerms) {
          val v = (h * as(j) + bs(j)) % mhPrime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** See [[Winnow]]. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes // UTF-8; k-grams are byte-grams
    val nGrams = math.max(bytes.length - k + 1, 1)
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val len = math.min(k, bytes.length - i)
      grams(i) = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + i, len, 42L)
      i += 1
    }
    winnowSelectLongs(grams, w)
  }

  /** See [[WinnowSelect]]: the selection phase of [[winnow]] over an
    * already-hashed gram sequence. An empty input selects nothing;
    * a null element is a hard error (dropping it would silently
    * shift every window), not garbage-in-garbage-out. */
  def winnowSelect(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"winnow_select: null gram hash at position $i")
      grams(i) = arr.getLong(i)
      i += 1
    }
    winnowSelectLongs(grams, w)
  }

  /** Winnowing selection: minimum per sliding window of `w` over the
    * positional gram-hash sequence, distinct, ascending. Shared by
    * the production path (XXH64 byte-grams) and the oracle twin
    * (md5-based grams) so the window/tie/dedup machinery itself is
    * what the twin's hash-matched oracle exercises. */
  private def winnowSelectLongs(grams: Array[Long], w: Int): ArrayData = {
    val nGrams = grams.length
    val out = new java.util.TreeSet[java.lang.Long]()
    if (nGrams <= w) {
      var m = Long.MaxValue
      var j = 0
      while (j < nGrams) { if (grams(j) < m) m = grams(j); j += 1 }
      out.add(m)
    } else {
      var j = 0
      while (j <= nGrams - w) {
        var m = Long.MaxValue
        var t = j
        while (t < j + w) { if (grams(t) < m) m = grams(t); t += 1 }
        out.add(m)
        j += 1
      }
    }
    val res = new Array[Long](out.size())
    val it = out.iterator()
    var r = 0
    while (it.hasNext) { res(r) = it.next(); r += 1 }
    new GenericArrayData(res)
  }

  /** See [[WordShingles]]. */
  def wordShingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      words(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (n < k) {
      out.add(UTF8String.concatWs(sep, words: _*))
    } else {
      var j = 0
      while (j <= n - k) {
        out.add(UTF8String.concatWs(sep,
          java.util.Arrays.copyOfRange(words, j, j + k): _*))
        j += 1
      }
    }
    val res = new Array[AnyRef](out.size())
    val it = out.iterator()
    var r = 0
    while (it.hasNext) { res(r) = it.next(); r += 1 }
    new GenericArrayData(res)
  }

  /** See [[WordGrams]]: every k-gram in positional order, with
    * multiplicity; n < k emits nothing. Null tokens render as empty
    * strings (the [[wordShingles]] convention — unreachable via
    * split, which never returns null elements). */
  def wordGrams(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      words(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val out = new Array[AnyRef](n - k + 1)
    var j = 0
    while (j <= n - k) {
      out(j) = UTF8String.concatWs(sep,
        java.util.Arrays.copyOfRange(words, j, j + k): _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** See [[MarkerCounts]]. */
  def markerCounts(text: UTF8String, markerBytes: Array[Array[Byte]]): ArrayData = {
    val padded = " " + text.toLowerCase.toString + " "
    val bytes = padded.getBytes("UTF-8")
    val out = new Array[Int](markerBytes.length)
    var m = 0
    while (m < markerBytes.length) {
      val pat = markerBytes(m)
      var i = 0
      var n = 0
      val limit = bytes.length - pat.length
      while (i <= limit) {
        var j = 0
        while (j < pat.length && bytes(i + j) == pat(j)) j += 1
        if (j == pat.length) {
          n += 1
          // non-overlapping, left-to-right — exactly how replace()
          // consumes matches, so counts equal the length arithmetic
          i += pat.length
        } else i += 1
      }
      out(m) = n
      m += 1
    }
    new GenericArrayData(out)
  }

  /** See [[RepetitionStats]]: per-DOCUMENT Gopher repetition masses
    * in one local pass — n_words, the n=1 char-mass denominator, the
    * max 2-/3-gram masses and the duplicated-5-gram mass sum. A
    * gram's mass is count × (chars of the space-joined gram − (n−1))
    * = count × Σ chars(window tokens), so the joined string's length
    * never needs materializing; the joined string IS the map key
    * (tokens are \s+-split, so joining is bijective and the window
    * char sum is constant per key). Counting is java.util.HashMap
    * over the doc's own grams — document-sized state, no shuffle. */
  def repetitionStats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val words = new Array[UTF8String](n)
    val chars = new Array[Long](n)
    var i = 0
    var denom = 0L
    while (i < n) {
      val w = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8
        else arr.getUTF8String(i)
      words(i) = w
      chars(i) = w.numChars().toLong
      denom += chars(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    // per k: count + window char sum per distinct gram
    def masses(k: Int): java.util.HashMap[UTF8String, Array[Long]] = {
      val m = new java.util.HashMap[UTF8String, Array[Long]]()
      if (n >= k) {
        var j = 0
        while (j <= n - k) {
          val g = UTF8String.concatWs(sep,
            java.util.Arrays.copyOfRange(words, j, j + k): _*)
          var s = 0L
          var t = j
          while (t < j + k) { s += chars(t); t += 1 }
          val e = m.get(g)
          if (e == null) m.put(g, Array(1L, s)) else e(0) += 1L
          j += 1
        }
      }
      m
    }
    def maxMass(k: Int): Long = {
      var best = 0L
      val it = masses(k).values().iterator()
      while (it.hasNext) {
        val e = it.next()
        val v = e(0) * e(1)
        if (v > best) best = v
      }
      best
    }
    var dup5 = 0L
    val it5 = masses(5).values().iterator()
    while (it5.hasNext) {
      val e = it5.next()
      if (e(0) >= 2L) dup5 += e(0) * e(1)
    }
    new GenericInternalRow(Array[Any](n.toLong, denom,
      maxMass(2), maxMass(3), dup5))
  }

  /** See [[TermCounts]]: per-document (term, tf) posting entries in
    * one local hash pass — term frequency is a per-DOCUMENT
    * statistic, so computing it with explode → groupBy(doc_id, term)
    * ships every posting row through a corpus-wide exchange whose
    * merge phase is a no-op (each document lives in exactly one
    * partition; the map-side partial aggregate already finished the
    * job). This kernel makes the postings of an inverted-index build
    * a pure scan projection: zero exchanges below the bucketed
    * write. Entries are term-sorted (UTF8String byte order) so the
    * output is deterministic; null tokens count as empty strings
    * (the [[wordShingles]] convention — unreachable via split). */
  def termCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val m = new java.util.TreeMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val w = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8
        else arr.getUTF8String(i)
      val e = m.get(w)
      if (e == null) m.put(w, Array(1L)) else e(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var r = 0
    while (it.hasNext) {
      val e = it.next()
      out(r) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** See [[TermPositions]]: [[termCounts]] with the evidence kept —
    * per-document (term, positions) posting entries, positions
    * 1-based token offsets in ascending order (tf = the list's
    * size). The positional form of the inverted-index build: phrase
    * and proximity queries need WHERE a term occurred, not just how
    * often, and deriving positions later means re-tokenizing the
    * corpus — the exact rescan the index exists to kill. Same
    * map-side-complete argument as termCounts; entries term-sorted;
    * null tokens count as empty strings. */
  def termPositions(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val m = new java.util.TreeMap[UTF8String, java.util.ArrayList[Int]]()
    var i = 0
    while (i < n) {
      val w = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8
        else arr.getUTF8String(i)
      var e = m.get(w)
      if (e == null) { e = new java.util.ArrayList[Int](); m.put(w, e) }
      e.add(i + 1)
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var r = 0
    while (it.hasNext) {
      val e = it.next()
      val ps = e.getValue
      val arrOut = new Array[Int](ps.size())
      var j = 0
      while (j < arrOut.length) { arrOut(j) = ps.get(j); j += 1 }
      out(r) = new GenericInternalRow(Array[Any](e.getKey,
        new GenericArrayData(arrOut)))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** See [[JaccardSortedLong]]. */
  def jaccardSorted(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    if (nx == 0 && ny == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (nx.toLong + ny - inter)
  }
}
