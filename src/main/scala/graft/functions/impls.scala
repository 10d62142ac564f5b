package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels backing the custom Catalyst expressions.
  *
  * Each is a plain static method (Scala object → static forwarder) so
  * generated whole-stage code can call it directly —
  * `graft.functions.SimHashImpl.simhash64(str)` — keeping the custom
  * operators inside the same codegen span as built-in expressions
  * (no UDF boxing, no CodegenFallback interpretation).
  *
  * All hashing is deterministic and engine-independent: FNV-1a 64 for
  * internal fingerprints (public-domain constants), MD5 where the
  * DuckDB oracle must reproduce the value (`md5()` is identical in
  * both engines).
  */
object SimHashImpl {
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over UTF-8 bytes of `s[from, until)`. */
  def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** 64-bit SimHash (Charikar, STOC 2002) over whitespace tokens: each
    * token votes ±1 per bit with its FNV-1a hash; the sign of each
    * accumulated bit forms the fingerprint. Near-duplicate documents
    * land within a small Hamming distance. */
  def simhash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val acc = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      val start = i
      while (i < n && !isSpace(bytes(i))) i += 1
      if (i > start) {
        val h = fnv1a(bytes, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r'
}

object WinnowImpl {
  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003
    * "Winnowing: Local Algorithms for Document Fingerprinting").
    *
    * Rolling FNV k-gram hashes over the byte stream; in every window of
    * `w` consecutive k-gram hashes select the minimum (rightmost on
    * ties, per the paper) — guarantees any match of length >= w+k-1 is
    * caught. Returns the DISTINCT selected fingerprints sorted
    * ascending (deterministic set representation). */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length - k + 1 // number of k-grams
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = SimHashImpl.fnv1a(bytes, i, i + k)
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (n <= w) {
      // shorter than one window: select the global min (rightmost tie)
      var best = 0
      i = 1
      while (i < n) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
      sel.add(hashes(best))
    } else {
      var start = 0
      var best = -1
      while (start + w <= n) {
        if (best < start) {
          best = start
          i = start + 1
          while (i < start + w) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
          sel.add(hashes(best))
        } else {
          val incoming = start + w - 1
          if (hashes(incoming) <= hashes(best)) { best = incoming; sel.add(hashes(best)) }
        }
        start += 1
      }
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

object MinHashImpl {
  private val threadDigest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  /** "Empty" sentinel for a min buffer entry: real components are
    * unsigned 32-bit values, so MaxValue is unreachable. */
  val Empty: Long = Long.MaxValue

  /** Digest-group prefixes "g:" for g = 0..15 → up to k = 64. */
  private val prefixes: Array[Array[Byte]] =
    (0 until 16).map(g => (g.toString + ":").getBytes("UTF-8")).toArray

  /** Slice `o` (bytes [4o, 4o+4), big-endian) of a 16-byte digest as an
    * unsigned 32-bit value — the same order as comparing the digest's
    * lowercase-hex characters [8o, 8o+8). */
  @inline private def slice(dig: Array[Byte], o: Int): Long = {
    val b = o * 4
    ((dig(b) & 0xffL) << 24) | ((dig(b + 1) & 0xffL) << 16) |
      ((dig(b + 2) & 0xffL) << 8) | (dig(b + 3) & 0xffL)
  }

  /** Fold one shingle (UTF-8 bytes [from, until)) into a running k-way
    * min buffer: component i takes the min of slice (i mod 4) of
    * md5((i div 4) || ':' || shingle) — ⌈k/4⌉ digests per shingle, not
    * k (the slicing is what makes the kernel 4× cheaper than one md5
    * per component while staying DuckDB-expressible:
    * `substr(md5((i//4) || ':' || sh), 1 + 8*(i%4), 8)`). */
  def updateMinsRange(mins: Array[Long], bytes: Array[Byte], from: Int, until: Int): Unit = {
    val d = threadDigest.get()
    val k = mins.length
    var g = 0
    var i = 0
    while (i < k) {
      d.reset()
      d.update(prefixes(g))
      d.update(bytes, from, until - from)
      val dig = d.digest()
      val lim = math.min(i + 4, k)
      var o = 0
      while (i < lim) {
        val v = slice(dig, o)
        if (v < mins(i)) mins(i) = v
        o += 1
        i += 1
      }
      g += 1
    }
  }

  /** Fold one whole shingle byte array (shared by [[MinHashAgg]]). */
  def updateMins(mins: Array[Long], shingleUtf8: Array[Byte]): Unit =
    updateMinsRange(mins, shingleUtf8, 0, shingleUtf8.length)

  /** Elementwise min-merge of two min buffers (into `a`). */
  def mergeMins(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  private def hex8(v: Long): UTF8String = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) {
      out(i) = HexChars(((v >>> ((7 - i) * 4)) & 0xfL).toInt).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Hex-encode a min buffer as the signature array of 8-hex-char
    * strings (null if the buffer never saw input). */
  def toSignature(mins: Array[Long]): ArrayData =
    if (mins.length == 0 || mins(0) == Empty) null
    else new GenericArrayData(mins.map(m => hex8(m)).asInstanceOf[Array[Any]])

  /** Single-pass k-way MinHash signature over character `shingleLen`-
    * grams: component i = min over shingles of the 8-hex-char slice
    * `substr(md5((i div 4) || ':' || shingle), 1 + 8*(i mod 4), 8)` —
    * an unsigned 32-bit min computed on raw digest bytes, identical to
    * the lexicographic min over the hex slices the DuckDB oracle takes.
    *
    * Runs map-side per document: the signature (k × 8-char hex) is
    * what shuffles in the LSH band join, never the raw text. Shingles
    * are de-dupped first (a min over a set equals the min over the
    * multiset) and hashed straight from the document's UTF-8 bytes
    * (consecutive code points are a contiguous byte range), so the
    * hot loop allocates nothing but the MD5 digests — ⌈k/4⌉ of them
    * per distinct shingle. */
  def signature(text: UTF8String, k: Int, shingleLen: Int): ArrayData = {
    require(k <= 4 * prefixes.length, s"minhash_sig: k must be <= ${4 * prefixes.length}")
    // Shingle by Unicode CODE POINTS, not UTF-16 units: Spark's
    // length()/substr() and DuckDB's len()/substr() both count code
    // points, so a UTF-16 substring would split surrogate pairs and
    // break oracle parity on any non-BMP text. A code point starts at
    // every UTF-8 byte that is not a continuation byte (10xxxxxx).
    val bytes = text.getBytes
    val n = bytes.length
    val starts = new Array[Int](n + 1)
    var ncp = 0
    var b = 0
    while (b < n) {
      if ((bytes(b) & 0xc0) != 0x80) { starts(ncp) = b; ncp += 1 }
      b += 1
    }
    starts(ncp) = n
    if (ncp < shingleLen) return null
    val seen = new java.util.HashSet[java.nio.ByteBuffer]()
    val mins = Array.fill(k)(Empty)
    var p = 0
    val last = ncp - shingleLen
    while (p <= last) {
      val from = starts(p)
      val until = starts(p + shingleLen)
      // ByteBuffer.wrap equality is content-based over [from, until)
      if (seen.add(java.nio.ByteBuffer.wrap(bytes, from, until - from)))
        updateMinsRange(mins, bytes, from, until)
      p += 1
    }
    toSignature(mins)
  }
}

object GramStatsImpl {
  /** (n_grams, n_distinct, max_run) of the word n-gram multiset of a
    * token array — bit-identical to the SQL-expression battery
    * `size(g) / size(array_distinct(g)) / maxRun(array_sort(g))` over
    * space-joined grams `g`, because whitespace tokens contain no
    * spaces, so space-joined grams are equal iff their token tuples
    * are, and distinct/run counts are order-invariant (any total
    * order groups equal grams adjacently). Grams are therefore never
    * materialized: an index sort compares token tuples in place —
    * one O(m log m) pass replaces two gram-array builds, a hash-set
    * distinct and an interpreted (CodegenFallback) aggregate fold.
    * Token counts below n yield (0, 0, 0), matching the empty-gram
    * battery. */
  def gramStats(tokens: ArrayData, n: Int): InternalRow = {
    val nt = tokens.numElements()
    val m = nt - (n - 1)
    if (m <= 0) return new GenericInternalRow(Array[Any](0, 0, 0))
    val ts = new Array[UTF8String](nt)
    var i = 0
    while (i < nt) { ts(i) = tokens.getUTF8String(i); i += 1 }
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val ai = a.intValue
        val bi = b.intValue
        var k = 0
        while (k < n) {
          val c = ts(ai + k).compareTo(ts(bi + k))
          if (c != 0) return c
          k += 1
        }
        0
      }
    })
    var distinct = 1
    var run = 1
    var best = 1
    i = 1
    while (i < m) {
      val a = idx(i - 1).intValue
      val b = idx(i).intValue
      var eq = true
      var k = 0
      while (eq && k < n) {
        if (!ts(a + k).equals(ts(b + k))) eq = false
        k += 1
      }
      if (eq) {
        run += 1
        if (run > best) best = run
      } else {
        distinct += 1
        run = 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](m, distinct, best))
  }
}

object DsirImpl {
  private val threadDigest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val Space: Byte = ' '.toByte

  /** First 60 bits of a digest mod `buckets` — identical to
    * `conv(substring(md5(g), 1, 15), 16, 10) % buckets`: hex chars
    * 1..15 are bytes 0..6 plus the high nibble of byte 7, and the
    * 60-bit value is non-negative, so `%` is the same remainder. */
  @inline private def bucket(dig: Array[Byte], buckets: Long): Long = {
    val v = ((dig(0) & 0xffL) << 52) | ((dig(1) & 0xffL) << 44) |
      ((dig(2) & 0xffL) << 36) | ((dig(3) & 0xffL) << 28) |
      ((dig(4) & 0xffL) << 20) | ((dig(5) & 0xffL) << 12) |
      ((dig(6) & 0xffL) << 4) | ((dig(7) & 0xffL) >>> 4)
    v % buckets
  }

  /** The sorted feature array [[bucketArray]] run-length encoded: the
    * (bucket, count) multiplicity structs, ascending — bit-identical
    * to the runStarts/runPairs RLE pipeline over the sorted array (one
    * kernel pass replaces its three interpreted higher-order scans). */
  def dsirPairs(tokens: ArrayData, buckets: Long): ArrayData = {
    val f = bucketArray(tokens, buckets)
    if (f.length == 0) return new GenericArrayData(Array.empty[Any])
    var runs = 1
    var i = 1
    while (i < f.length) {
      if (f(i) != f(i - 1)) runs += 1
      i += 1
    }
    val out = new Array[Any](runs)
    var r = 0
    var start = 0
    i = 1
    while (i <= f.length) {
      if (i == f.length || f(i) != f(start)) {
        out(r) = new GenericInternalRow(Array[Any](f(start), (i - start).toLong))
        r += 1
        start = i
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted hashed-n-gram bucket array of a token array (word
    * uni+bigrams, DSIR's feature map) — bit-identical to
    * `sort_array(concat(transform(t, w -> h60(w) % B),
    * transform(bigrams(t), g -> h60(g) % B)))` with
    * `h60 = conv(substring(md5(·), 1, 15), 16, 10)`: the bigram
    * digest is fed (w1, ' ', w2) incrementally, byte-identical to
    * UTF-8 of `concat_ws(" ", w1, w2)`, and no hex string, substring
    * or base-conversion string is ever allocated. */
  private def bucketArray(tokens: ArrayData, buckets: Long): Array[Long] = {
    val n = tokens.numElements()
    val total = if (n > 1) 2 * n - 1 else n
    val out = new Array[Long](total)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tb(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val d = threadDigest.get()
    i = 0
    while (i < n) {
      d.reset()
      d.update(tb(i))
      out(i) = bucket(d.digest(), buckets)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      d.reset()
      d.update(tb(i))
      d.update(Space)
      d.update(tb(i + 1))
      out(n + i) = bucket(d.digest(), buckets)
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}

object GramHashImpl {
  private val threadDigest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val Space: Byte = ' '.toByte

  /** First 60 bits of a digest — identical to
    * `conv(substring(md5(g), 1, 15), 16, 10).cast("long")` (hex chars
    * 1..15 = bytes 0..6 plus the high nibble of byte 7; the value is
    * non-negative and < 2^60, so the string cast is exact). */
  @inline private def h60(dig: Array[Byte]): Long =
    ((dig(0) & 0xffL) << 52) | ((dig(1) & 0xffL) << 44) |
      ((dig(2) & 0xffL) << 36) | ((dig(3) & 0xffL) << 28) |
      ((dig(4) & 0xffL) << 20) | ((dig(5) & 0xffL) << 12) |
      ((dig(6) & 0xffL) << 4) | ((dig(7) & 0xffL) >>> 4)

  /** h60 of the space-joined n-gram `tb[from, from+n)` — the digest is
    * fed (w_from, ' ', …, w_{from+n-1}) incrementally, byte-identical
    * to UTF-8 of `concat_ws(" ", slice(t, from+1, n))`. */
  private def gramH60(d: MessageDigest, tb: Array[Array[Byte]], from: Int, n: Int): Long = {
    d.reset()
    var k = 0
    while (k < n) {
      if (k > 0) d.update(Space)
      d.update(tb(from + k))
      k += 1
    }
    h60(d.digest())
  }

  private def tokenBytes(tokens: ArrayData): Array[Array[Byte]] = {
    val nt = tokens.numElements()
    val tb = new Array[Array[Byte]](nt)
    var i = 0
    while (i < nt) { tb(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    tb
  }

  /** (pos, gh) anchor-gram structs of a token array — bit-identical to
    * `transform(sequence(1, size(t)-(n-1)), i -> struct(i AS pos,
    * h60(concat_ws(" ", slice(t, i, n))) AS gh))` (d11's per-anchor
    * md5) without the per-gram string/hex/conv allocations. */
  def anchorGrams(tokens: ArrayData, n: Int): ArrayData = {
    val tb = tokenBytes(tokens)
    val m = tb.length - (n - 1)
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val d = threadDigest.get()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = new GenericInternalRow(Array[Any](i + 1, gramH60(d, tb, i, n)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word-n-gram h60s of a token array in first-occurrence
    * order — bit-identical to `array_distinct(transform(sequence(1,
    * size(t)-(n-1)), i -> h60(concat_ws(" ", slice(t, i, n)))))`
    * (t27's gram set). */
  def gramH60Distinct(tokens: ArrayData, n: Int): ArrayData = {
    val tb = tokenBytes(tokens)
    val m = tb.length - (n - 1)
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val d = threadDigest.get()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](m)
    var r = 0
    var i = 0
    while (i < m) {
      val h = gramH60(d, tb, i, n)
      if (seen.add(java.lang.Long.valueOf(h))) { out(r) = h; r += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, r))
  }

  /** Distinct h60s of the distinct character n-shingles of a text, in
    * first-occurrence order — bit-identical to
    * `array_distinct(transform(array_distinct(shingles(text, n)),
    * x -> h60(x)))` with code-point shingling (MinHashImpl's
    * discipline: Spark's substr counts code points), hashing each
    * DISTINCT shingle exactly once straight from the document's UTF-8
    * bytes. Texts shorter than one shingle yield an empty set (the
    * callers filter length >= n). */
  def shingleH60Set(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    val starts = new Array[Int](nb + 1)
    var ncp = 0
    var b = 0
    while (b < nb) {
      if ((bytes(b) & 0xc0) != 0x80) { starts(ncp) = b; ncp += 1 }
      b += 1
    }
    starts(ncp) = nb
    val m = ncp - (n - 1)
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val d = threadDigest.get()
    val seenSh = new java.util.HashSet[java.nio.ByteBuffer]()
    val seenH = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](m)
    var r = 0
    var p = 0
    while (p < m) {
      val from = starts(p)
      val until = starts(p + n)
      if (seenSh.add(java.nio.ByteBuffer.wrap(bytes, from, until - from))) {
        d.reset()
        d.update(bytes, from, until - from)
        val h = h60(d.digest())
        if (seenH.add(java.lang.Long.valueOf(h))) { out(r) = h; r += 1 }
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, r))
  }
}

object PqImpl {
  /** Squared L2 over subspace `m` (dims [m·dsub, m·dsub+dsub)) of two
    * float vectors, accumulated in double in index order from 0.0 —
    * op-for-op the `aggregate(zip_with(slice(a,…), slice(b,…),
    * (x−y)²), 0.0, +)` expression it replaces (which pays two array
    * slices, a zipped allocation and an interpreted fold per call).
    * `m = 0, dsub = dims` is the full-vector form. */
  def l2SqSlice(a: ArrayData, b: ArrayData, m: Int, dsub: Int): Double = {
    val from = m * dsub
    val until = math.min(from + dsub, math.min(a.numElements(), b.numElements()))
    var acc = 0.0
    var j = from
    while (j < until) {
      val d = a.getFloat(j).toDouble - b.getFloat(j).toDouble
      acc += d * d
      j += 1
    }
    acc
  }

  /** Integer dot product of two long arrays (v7's int8 coarse score)
    * — exact integer arithmetic, same left fold as
    * `aggregate(zip_with(a, b, x·y), 0L, +)`. */
  def qdot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Index-ordered exact double dot product of two float vectors —
    * same left fold as `aggregate(zip_with(a, b, x·y), 0.0, +)`
    * (v10's MIPS score). */
  def fdot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** ADC distance: Σ_m tables[m][codes[m]], summed in ascending m from
    * 0.0 — the `aggregate(zip_with(tables, codes, element_at), 0.0, +)`
    * fold without its per-row zipped allocation and interpreted
    * lambda dispatch. Null (like element_at + sum) if a code is
    * missing from its table — unreachable when codes come from the
    * same codebook; the PQ queries' equality to that fold is pinned
    * against KernelReference's expression form. */
  def adcSum(tables: ArrayData, codes: ArrayData): java.lang.Double = {
    val n = math.min(tables.numElements(), codes.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val mp = tables.getMap(i)
      val code = codes.getInt(i)
      val keys = mp.keyArray()
      val vals = mp.valueArray()
      val kn = mp.numElements()
      var k = 0
      var found = false
      while (!found && k < kn) {
        if (keys.getInt(k) == code) {
          acc += vals.getDouble(k)
          found = true
        }
        k += 1
      }
      if (!found) return null
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

object CosineImpl {
  /** Cosine similarity of two float vectors, accumulated in double in
    * index order — the same sequence of IEEE ops the DuckDB oracle
    * expression performs, so results are bit-identical, not just
    * close. Returns 0.0 for zero-norm inputs. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
