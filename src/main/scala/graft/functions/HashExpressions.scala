package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen implementations of the cross-engine deterministic
  * hashes in TextFunctions. Semantically IDENTICAL to the higher-order
  * `aggregate` formulations (and therefore to the DuckDB oracle SQL) —
  * the difference is execution: one fused loop per row instead of one
  * interpreted lambda dispatch per character/bit. On a 100 TB corpus
  * scan the HOF path pays ~10³ interpreter calls per row; these pay one
  * static call. TextFunctions keeps the HOF variants only as executable
  * documentation of the arithmetic.
  */
object HashOps {
  final val P: Long = 2147483647L

  /** 31-ary (or multiplier-m) polynomial over the string's code points
    * mod 2^31-1 — the loop form of TextFunctions.polyHash. Code points,
    * not bytes: DuckDB's ascii() yields code points on multibyte input. */
  def polyHash(s: UTF8String, mult: Long, init: Long): Long = {
    val str = s.toString
    var h = init
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Distinct word-n-gram shingle hashes in one pass — the loop form of
    * TextFunctions.shingleCodes (tokenize on single spaces dropping
    * empties, hash each n-token shingle joined by ' ' with the
    * polynomial, keep first-occurrence-distinct codes). The composed
    * column-algebra version allocates ~|shingles| intermediate strings
    * and runs three interpreted array passes per row; this is O(chars)
    * with no string materialization beyond the tokens. */
  /** Adjacent code-point pair strings of `s` in order — the CharLM
    * bigram feed (see [[CharBigrams]]). */
  def charBigrams(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    // code-point start offsets (+ end sentinel): a bigram is the
    // substring spanning two consecutive code points
    val bounds = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < n) {
      bounds.add(i)
      i += Character.charCount(str.codePointAt(i))
    }
    bounds.add(n)
    val m = bounds.size - 1
    val out = new Array[Any](math.max(0, m - 1))
    var j = 0
    while (j < m - 1) {
      out(j) = UTF8String.fromString(str.substring(bounds.get(j), bounds.get(j + 2)))
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The whitespace-tokenization contract shared by every word-level
    * native feed in this file: split on a SINGLE space, drop empties —
    * kept in lockstep with `TextFunctions.tokens` (Spark
    * `split(text, " ")` + filter) and the DuckDB oracle's
    * `string_split(text, ' ')`. One definition so the three feeds
    * can't desync. */
  private def wsTokens(s: UTF8String): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String]()
    s.toString.split(" ", -1).foreach(t => if (t.nonEmpty) toks.add(t))
    toks
  }

  /** word_gram_buckets(str, buckets): the DSIR feature→bucket feed in
    * ONE fused pass — the md5-prefix bucket of every whitespace
    * unigram AND adjacent space-joined bigram, with no intermediate
    * feature-string column, no interpreted transform lambda, and no
    * 32-hex-char md5 string per feature (the composed
    * explode(tokens ++ shingles) → conv(substr(md5(f),1,4),16,10)
    * chain allocates all three). Bucket arithmetic is bit-identical
    * to that chain: `conv` of the first 4 hex digits is the first two
    * digest bytes as a 16-bit int, and its `% buckets` for the 256
    * default is just the second byte — kept as the general 16-bit mod
    * so any buckets ≤ 65536 replays. md5 runs over the feature's
    * UTF-8 bytes, exactly what Spark's and DuckDB's md5(string)
    * hash. */
  def wordGramBuckets(s: UTF8String, buckets: Int): ArrayData = {
    val md = md5Local.get()
    val toks = wsTokens(s)
    val m = toks.size
    // each token's UTF-8 bytes encoded ONCE and reused for its unigram
    // digest and both adjacent bigram digests (a bigram's md5 over
    // "a b" is the digest of utf8(a) ++ 0x20 ++ utf8(b), so feeding the
    // cached arrays through update() is byte-identical with zero
    // per-pair String concats)
    val bytes = new Array[Array[Byte]](m)
    var b = 0
    while (b < m) {
      bytes(b) = toks.get(b).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      b += 1
    }
    val out = new Array[Long](if (m == 0) 0 else 2 * m - 1)
    def bucket(): Long = {
      val d = md.digest()
      ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets).toLong
    }
    var i = 0
    while (i < m) {
      md.reset(); md.update(bytes(i))
      out(i) = bucket()
      i += 1
    }
    var j = 0
    while (j < m - 1) {
      md.reset(); md.update(bytes(j)); md.update(' '.toByte); md.update(bytes(j + 1))
      out(m + j) = bucket()
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** repetition_counts(str): the Gopher repetition statistics
    * (Rae et al. 2021 §A1.1) as one per-document pass —
    * [max 2-gram count, n 2-grams, Σ counts of 3-grams occurring >1×,
    * n 3-grams]. Counts are EXACT (string-keyed hash maps, no hashing
    * shortcut), identical to exploding the word n-grams and
    * group-counting them — but repetition is a purely LOCAL statistic,
    * so computing it inside the scan removes the corpus-scale gram
    * explode and its shuffles entirely. Zeros in the n-gram totals
    * mark "too short to have n-grams" (the consumer maps them to
    * NULL fractions, matching the left-join-miss of the grouped
    * formulation). */
  def repetitionCounts(s: UTF8String): ArrayData = {
    val toks = wsTokens(s)
    val m = toks.size
    var max2 = 0
    if (m >= 2) {
      val counts = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < m - 1) {
        val c = counts.merge(toks.get(i) + " " + toks.get(i + 1), 1,
          (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
        if (c.intValue() > max2) max2 = c.intValue()
        i += 1
      }
    }
    var dup3 = 0L
    if (m >= 3) {
      val counts = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < m - 2) {
        counts.merge(
          toks.get(i) + " " + toks.get(i + 1) + " " + toks.get(i + 2), 1,
          (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
        i += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().intValue()
        if (c > 1) dup3 += c
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(
      max2.toLong, math.max(m - 1, 0).toLong,
      dup3, math.max(m - 2, 0).toLong))
  }

  /** char_entropy_stats(str): the per-document character-entropy
    * inputs in one pass — (n code points, distinct code points,
    * Σ cnt·ln(cnt) folded over code points in ASCENDING order). The
    * fold order is load-bearing for cross-engine parity: the grouped
    * formulation array_sorts the (char, cnt) structs before its
    * aggregate HOF, which for single code points is UTF-8 binary =
    * code-point order — exactly what sorting the code-point array
    * gives. StrictMath.log is what Spark's `log` expression calls
    * (UnaryLogExpression pins StrictMath, NOT Math — they differ in
    * the last bit on some inputs), so each term is bit-identical to
    * the column-algebra chain this fused pass replaced. */
  def charEntropyStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    var n = 0
    val cps = new Array[Int](len)
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps, 0, n)
    var d = 0L
    var sum = 0.0
    var j = 0
    while (j < n) {
      var r = j + 1
      while (r < n && cps(r) == cps(j)) r += 1
      val cnt = (r - j).toDouble
      d += 1
      sum += cnt * java.lang.StrictMath.log(cnt)
      j = r
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, d, sum))
  }

  def shingleHashes(s: UTF8String, n: Int, mult: Long, init: Long): ArrayData = {
    val toks = wsTokens(s)
    val m = toks.size
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + n <= m) {
      var h = init
      var k = 0
      while (k < n) {
        if (k > 0) h = (h * mult + ' '.toLong) % P
        val t = toks.get(k + j)
        var i = 0
        val len = t.length
        while (i < len) {
          val cp = t.codePointAt(i)
          h = (h * mult + cp) % P
          i += Character.charCount(cp)
        }
        k += 1
      }
      out.add(h)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  /** POSITIONAL word-n-gram span hashes — [[shingleHashes]] without the
    * distinct: entry j is the polynomial hash of tokens j..j+n-1, so the
    * array index IS the span's token offset. The span-level dedup
    * operator needs positions to emit removal intervals; the set-based
    * shingle form deliberately erases them. */
  def spanHashes(s: UTF8String, n: Int, mult: Long, init: Long): ArrayData = {
    val toks = wsTokens(s)
    val m = toks.size
    val cnt = math.max(m - n + 1, 0)
    val arr = new Array[Long](cnt)
    var j = 0
    while (j + n <= m) {
      var h = init
      var k = 0
      while (k < n) {
        if (k > 0) h = (h * mult + ' '.toLong) % P
        val t = toks.get(k + j)
        var i = 0
        val len = t.length
        while (i < len) {
          val cp = t.codePointAt(i)
          h = (h * mult + cp) % P
          i += Character.charCount(cp)
        }
        k += 1
      }
      arr(j) = h
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  /** Winnowing fingerprint selection over POSITIONAL span hashes (the
    * [[spanHashes]] output): for every window start j in
    * [0, max(np − w, 0)], the minimum packed key h(i)·posEnc + i over
    * the ≤ w spans i ∈ [j, min(j+w, np)), distinct, in first-win order.
    * The loop form of the Window-function formulation Dedup's
    * winnowSelectedOn used through r15 (min over rowsBetween(0, w−1),
    * filtered to full-window starts, then DISTINCT) — bit-identical
    * selected set, but computed per row inside the scan projection, so
    * the selection costs ZERO exchanges where the window form paid a
    * doc_id hash shuffle + per-doc sort + a distinct shuffle. */
  def winnowSelect(codes: ArrayData, w: Int, posEnc: Long): ArrayData = {
    val np = codes.numElements()
    if (np == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.emptyLongArray)
    // precondition: packed keys h*posEnc + i must not overflow Long —
    // holds for the mod-P span hashes (h < 2^31) this is called with,
    // but 64-bit codes (e.g. xxhash64 shingles) would silently corrupt
    // the min selection via signed wraparound. Fail loudly instead:
    // one validation pass of np compares, negligible next to the w·np
    // selection loop below. Positions share the packing: a position
    // at or past posEnc would carry into the code bits.
    require(np <= posEnc,
      s"winnowSelect: $np spans would overflow the posEnc=$posEnc position field")
    val maxCode = (Long.MaxValue - np) / posEnc
    var v = 0
    while (v < np) {
      val c = codes.getLong(v)
      require(c >= 0 && c <= maxCode,
        s"winnowSelect: code $c would overflow the posEnc=$posEnc key packing")
      v += 1
    }
    val jMax = math.max(np - w, 0)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j <= jMax) {
      val end = math.min(j + w, np)
      var m = Long.MaxValue
      var i = j
      while (i < end) {
        val key = codes.getLong(i) * posEnc + i
        if (key < m) m = key
        i += 1
      }
      out.add(m)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  /** |set(a) ∩ set(b)| over two long arrays via one open-addressed
    * probe table — the loop form of `size(array_intersect(a, b))` on
    * the set-valued code arrays every dedup verification scores
    * (shingle code arrays are distinct by construction, so the
    * distinct-intersection count IS the array_intersect size).
    * array_intersect builds a hash set AND materializes the matched
    * elements as a new array per row-pair; verification only needs the
    * COUNT, and the candidate joins evaluate this once per candidate
    * pair — the hottest scalar in the dedup tier. Matched slots are
    * consumed so duplicate elements on either side can never
    * double-count (exactly array_intersect's distinct semantics). */
  def commonCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val (small, large, ns, nl) =
      if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    // capacity target computed in Long: ns * 2 overflows Int at
    // ns >= 2^30, which would leave cap at 4 and the open-addressing
    // insert loop non-terminating. 2^29 elements (4 GiB of longs per
    // row) is already far past any realistic array cell.
    require(ns <= (1 << 29),
      s"commonCount: array of $ns elements exceeds the 2^29 bound")
    var cap = 4
    while (cap < ns.toLong * 2) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val counted = new Array[Boolean](cap)
    var i = 0
    while (i < ns) {
      val x = small.getLong(i)
      // Stafford mix13 finalizer — well-distributed slots for the
      // polynomial-hash codes (which share low-entropy low bits)
      var h = x
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var s = ((h ^ (h >>> 31)).toInt) & mask
      var done = false
      while (!done) {
        if (!used(s)) { keys(s) = x; used(s) = true; done = true }
        else if (keys(s) == x) done = true // duplicate in small: one slot
        else s = (s + 1) & mask
      }
      i += 1
    }
    var count = 0L
    i = 0
    while (i < nl) {
      val x = large.getLong(i)
      var h = x
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var s = ((h ^ (h >>> 31)).toInt) & mask
      var done = false
      while (!done) {
        if (!used(s)) done = true // not present
        else if (keys(s) == x) {
          // count each distinct value once — a duplicate in `large`
          // finds the slot already marked and adds nothing
          if (!counted(s)) { counted(s) = true; count += 1 }
          done = true
        } else s = (s + 1) & mask
      }
      i += 1
    }
    count
  }

  /** k-entry MinHash signature in one pass over the code set — the loop
    * form of k× TextFunctions.minHash: sig(i) = min over x of
    * ((2i+1)·x + 104729·i + 12345) mod P. */
  def minHashSig(codes: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = codes.numElements()
    var j = 0
    while (j < n) {
      val x = codes.getLong(j)
      var i = 0
      while (i < k) {
        val h = (x * (2 * i + 1) + 104729L * i + 12345L) % P
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig)
  }

  /** 31-bit Charikar SimHash over an array of hash codes: bit b set iff
    * more codes have bit b set than not. One pass over the codes with a
    * vote counter per bit — the loop form of the 31 per-bit folds in
    * Dedup.simHashCol. */
  def simHash31(codes: ArrayData): Long = {
    val n = codes.numElements()
    val votes = new Array[Int](31)
    var i = 0
    while (i < n) {
      val h = codes.getLong(i)
      var b = 0
      while (b < 31) {
        votes(b) += (((h >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 31) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Spread the low 32 bits of x so bit i lands at bit 2i — the
    * magic-number dilation half of Morton encoding. */
  def spread32(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton (z-order) interleave of two 32-bit values: a's bit i at
    * bit 2i, b's at bit 2i+1. Each step is five shift-mask rounds the
    * oracle replays with the same decimal mask constants. */
  def zorder2(a: Long, b: Long): Long = spread32(a) | (spread32(b) << 1)

  /** Hilbert curve index of (x, y) on an n×n grid (n a power of two) —
    * the classic iterative xy2d walk (Hilbert 1891; the quadrant-
    * rotation formulation of Warren, Hacker's Delight §16): log₂ n
    * rounds, each consuming one bit plane top-down, accumulating the
    * quadrant offset s²·(3rx ⊕ ry) and rotating/flipping the frame so
    * the next plane is measured in curve-local coordinates. Unlike the
    * Morton interleave, CONSECUTIVE indices are always grid-adjacent,
    * so any contiguous key range — not only aligned tiles — maps to a
    * compact region: the property that makes Hilbert clustering strictly
    * better than z-order for range-scan file skipping. */
  def hilbert2(x0: Long, y0: Long, n: Long): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** k-way Morton interleave — [[zorder2]] for ANY dimension count:
    * bit j of dimension i lands at result bit j·k+i (dimension 0 in
    * the lowest lane, matching zorder2's a-even/b-odd layout at k=2).
    * Each value is truncated to ⌊63/k⌋ bits so the packed result stays
    * a positive long (k=3 → 21 bits/dim, the classic 3-D Morton
    * width). The generic bit loop is value-identical to the per-k
    * magic-mask dilation sequences (the 3-D oracle replays those five
    * shift-mask rounds in SQL and hash-matches). */
  def zorderN(vals: Array[Long]): Long = {
    val k = vals.length
    // k > 63 would make bits = 0 (every key 0, clustering silently
    // gone); k = 0 would divide by zero — both must die loudly
    require(k >= 1 && k <= 63, s"zorder_n needs 1..63 dimensions, got $k")
    val bits = 63 / k
    val mask = (1L << bits) - 1
    var out = 0L
    var i = 0
    while (i < k) {
      val v = vals(i) & mask
      var j = 0
      while (j < bits) {
        out |= ((v >> j) & 1L) << (j * k + i)
        j += 1
      }
      i += 1
    }
    out
  }

  /** k-dimensional Hilbert index via Skilling's transpose algorithm
    * ("Programming the Hilbert Curve", AIP Conf. Proc. 707, 2004 —
    * the standard compact n-D formulation): undo the excess-work
    * rotation top-down, Gray-encode across dimensions, then read the
    * index off the transposed bit planes MSB-first. `b` bits per
    * dimension (grid 2^b per axis, k·b ≤ 63). Consecutive indices are
    * always grid-adjacent in exactly ONE dimension by one step — the
    * locality property BucketingSpec certifies exhaustively — so
    * arbitrary contiguous key ranges map to compact k-D regions, which
    * Morton's seam jumps cannot guarantee. */
  def hilbertN(coords: Array[Long], b: Int): Long = {
    val k = coords.length
    // k·b beyond 63 shifts the MSB planes off the top of the long —
    // a non-injective, mis-ordered key with no error; refuse instead
    // (the expression's b check can't see k, which is per-row data)
    require(k >= 1 && k * b <= 63,
      s"hilbert_n: $k dims × $b bits exceeds a positive long")
    val x = java.util.Arrays.copyOf(coords, k)
    val m = 1L << (b - 1)
    var q = m
    while (q > 1) { // inverse undo
      val p = q - 1
      var i = 0
      while (i < k) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    var i = 1
    while (i < k) { x(i) ^= x(i - 1); i += 1 } // Gray encode
    var t = 0L
    q = m
    while (q > 1) { if ((x(k - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < k) { x(i) ^= t; i += 1 }
    var d = 0L
    var j = b - 1
    while (j >= 0) { // transpose to the scalar index, MSB plane first
      i = 0
      while (i < k) {
        d = (d << 1) | ((x(i) >> j) & 1L)
        i += 1
      }
      j -= 1
    }
    d
  }

  /** Copy a curve key's dimension array out of Catalyst array data,
    * REFUSING null elements: ArrayData.getLong reads a null slot as 0,
    * which would silently assign the row coordinate 0 (wrong tile,
    * oracle divergence on any data with nulls). A caller with nullable
    * dimensions must coalesce them explicitly. */
  private def dimsOf(vals: ArrayData, what: String): Array[Long] = {
    val k = vals.numElements()
    val arr = new Array[Long](k)
    var i = 0
    while (i < k) {
      if (vals.isNullAt(i)) throw new IllegalArgumentException(
        s"$what: NULL dimension value at index $i — coalesce nullable " +
          "dimensions before building the curve key")
      arr(i) = vals.getLong(i)
      i += 1
    }
    arr
  }

  /** [[zorderN]] over Catalyst array data — the codegen entry point of
    * the ZOrderN expression. */
  def zorderNArr(vals: ArrayData): Long =
    zorderN(dimsOf(vals, "zorder_n"))

  /** [[hilbertN]] over Catalyst array data — the codegen entry point of
    * the HilbertN expression. */
  def hilbertNArr(coords: ArrayData, b: Int): Long =
    hilbertN(dimsOf(coords, "hilbert_n"), b)

  /** Scalar twin of Sketches.avalanche32 — two multiply-xor rounds mod
    * 2^32 then a final fold; bit-identical to the column algebra (and
    * to the oracle's replay) on the nonnegative inputs polyHash emits. */
  def mix32(h0: Long): Long = {
    val r1 = ((h0 ^ (h0 >>> 16)) * 73244475L) % 4294967296L
    val r2 = ((r1 ^ (r1 >>> 16)) * 73244475L) % 4294967296L
    r2 ^ (r2 >>> 16)
  }

  /** polyHash of a long's DECIMAL STRING form, computed arithmetically —
    * bit-identical to `polyHash(UTF8String.fromString(v.toString), …)`
    * (digit d is codepoint 48+d) without materializing the string. The
    * bloom probe sits inside a 100 TB fact scan; a per-row long→string
    * allocation × the scan width is pure garbage-collector pressure. */
  def polyHashLong(v: Long, mult: Long, init: Long): Long = {
    if (v == Long.MinValue) // |MinValue| overflows; rare enough to string
      return polyHash(UTF8String.fromString(v.toString), mult, init)
    var h = init
    var x = v
    if (x < 0) { h = (h * mult + 45) % P; x = -x } // '-' is codepoint 45
    var pow = 1L
    while (x / pow >= 10) pow *= 10
    while (pow > 0) {
      h = (h * mult + 48 + (x / pow) % 10) % P
      pow /= 10
    }
    h
  }

  /** Long fast path of [[bloomMightContain]]: same probes, same bits,
    * zero string materialization on the scan side. */
  def bloomMightContainLong(v: Long, words: Array[Long], k: Int, bits: Long): Boolean = {
    val h1 = mix32(polyHashLong(v, 31L, 0L))
    val h2 = mix32(polyHashLong(v, 37L, 7L))
    var i = 0
    while (i < k) {
      val p = (h1 + i * h2) % bits
      if (((words((p / 32L).toInt) >>> (p % 32L).toInt) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** k double-hashed probes of `s` against a fixed bloom bitset packed
    * as 32-bit words in longs: probe_i = (h1 + i·h2) mod bits with
    * h1 = mix32(polyHash(s, 31, 0)), h2 = mix32(polyHash(s, 37, 7)) —
    * exactly Sketches.hash32/hash37. Both hashes computed ONCE per row;
    * the column-algebra cascade re-derives them inside every probe
    * subexpression after projection collapse (8× the hash work). */
  def bloomMightContain(s: UTF8String, words: Array[Long], k: Int, bits: Long): Boolean = {
    val h1 = mix32(polyHash(s, 31L, 0L))
    val h2 = mix32(polyHash(s, 37L, 7L))
    var i = 0
    while (i < k) {
      val p = (h1 + i * h2) % bits
      if (((words((p / 32L).toInt) >>> (p % 32L).toInt) & 1L) == 0L) return false
      i += 1
    }
    true
  }
}

/** poly_hash(str): rolling polynomial hash (TextFunctions.polyHash). */
case class PolyHash(child: Expression, mult: Long, init: Long)
    extends UnaryExpression {
  override def prettyName: String = "poly_hash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.polyHash(input.asInstanceOf[UTF8String], mult, init)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.polyHash($c, ${mult}L, ${init}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** char_bigrams(str): adjacent code-point pair strings — one fused
  * pass replacing the chars-array + per-element transform/element_at
  * HOF chain (interpreted lambda dispatch per character) that fed the
  * char-LM model/scoring explode. Code-POINT boundaries, matching
  * Spark's `split(c, "")` (which never splits a surrogate pair), so
  * the native path is element-identical to the column-algebra one on
  * any input. */
case class CharBigrams(child: Expression) extends UnaryExpression {
  override def prettyName: String = "char_bigrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.charBigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.charBigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): CharBigrams =
    copy(child = newChild)
}

/** word_gram_buckets(str): md5-prefix buckets of unigrams + adjacent
  * word bigrams, fused (the DSIR hashed-feature feed). */
case class WordGramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {
  override def prettyName: String = "word_gram_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.wordGramBuckets(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.wordGramBuckets($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): WordGramBuckets =
    copy(child = newChild)
}

/** repetition_counts(str): per-doc Gopher repetition statistics
  * [max2, n2, dup3, n3] in one fused pass (no gram explode/shuffle). */
case class RepetitionCounts(child: Expression) extends UnaryExpression {
  override def prettyName: String = "repetition_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.repetitionCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.repetitionCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionCounts =
    copy(child = newChild)
}

/** char_entropy_stats(str): per-doc (n, n_distinct, Σ cnt·ln cnt) over
  * code points in one fused pass (no char explode/shuffle). */
case class CharEntropyStats(child: Expression) extends UnaryExpression {
  override def prettyName: String = "char_entropy_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sum_cnt_ln_cnt", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.charEntropyStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.charEntropyStats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
}

/** shingle_hashes(str): distinct word-n-gram polynomial hash codes. */
case class ShingleHashes(child: Expression, n: Int, mult: Long, init: Long)
    extends UnaryExpression {
  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.shingleHashes(input.asInstanceOf[UTF8String], n, mult, init)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.shingleHashes($c, $n, ${mult}L, ${init}L)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** span_hashes(str): positional word-n-gram polynomial hash codes —
  * entry j is the hash of the n-token span starting at token j. */
case class SpanHashes(child: Expression, n: Int, mult: Long, init: Long)
    extends UnaryExpression {
  override def prettyName: String = "span_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    HashOps.spanHashes(input.asInstanceOf[UTF8String], n, mult, init)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.spanHashes($c, $n, ${mult}L, ${init}L)")

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

/** winnow_select(array<long>): distinct winnowing-selected packed keys
  * (h·posEnc + pos) over positional span hashes — the fused scan-side
  * form of the window-min + distinct selection (see
  * [[HashOps.winnowSelect]]). */
case class WinnowSelect(child: Expression, w: Int, posEnc: Long)
    extends UnaryExpression {
  override def prettyName: String = "winnow_select"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashOps.winnowSelect(input.asInstanceOf[ArrayData], w, posEnc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.winnowSelect($c, $w, ${posEnc}L)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

/** common_count(array<long>, array<long>): |set(a) ∩ set(b)| — the
  * count-only form of size(array_intersect(a, b)) over set-valued
  * arrays (see [[HashOps.commonCount]]). */
case class CommonCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "common_count"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.commonCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashOps.commonCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonCount =
    copy(left = newLeft, right = newRight)
}

/** minhash_sig(array<long>): k-permutation MinHash signature. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashOps.minHashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.minHashSig($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** ngram_profile_hits(str): per-profile counts of how many of the
  * string's character n-grams appear in each profile — the scoring
  * kernel of n-gram language identification (Cavnar-Trenkle). One pass
  * over the string, zero allocations beyond the counters; the composed
  * HOF form (transform to n-gram array + per-profile filters) paid
  * ~1 ms/row in lambda interpretation. */
case class NgramProfileHits(child: Expression, n: Int, profiles: Seq[Seq[String]])
    extends UnaryExpression {
  override def prettyName: String = "ngram_profile_hits"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { p =>
      val s = new java.util.HashSet[String]()
      p.foreach(s.add); s
    }.toArray

  /** Shared by interpreted eval and generated code. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val counts = new Array[Long](sets.length)
    var i = 0
    val last = s.length - n
    while (i <= last) {
      val g = s.substring(i, i + n)
      var p = 0
      while (p < sets.length) {
        if (sets(p).contains(g)) counts(p) += 1
        p += 1
      }
      i += 1
    }
    ArrayData.toArrayData(counts)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramProfileHits", this,
      classOf[NgramProfileHits].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramProfileHits =
    copy(child = newChild)
}

/** token_stats(str): the five per-document token statistics every text
  * gate needs — [n_words, sum_len, n_distinct, stop_hits, n_alpha] —
  * in ONE pass over the string with no token array materialized.
  * Replaces five interpreted HOF lambdas (aggregate/filter/isin) plus a
  * per-token rlike in the hottest corpus scans (gopher filters, quality
  * score): those paid an interpreter dispatch per token per statistic;
  * this pays one static call per row. Semantics are IDENTICAL to the
  * HOF formulation (tokenize on single spaces dropping empties; length
  * in code points like Spark's length(); alpha = entirely [a-z] like
  * rlike '^[a-z]+$'), property-tested against it on irregular input. */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def prettyName: String = "token_stats"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  /** Shared by interpreted eval and generated code. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    var nWords = 0L
    var sumLen = 0L
    var stopHits = 0L
    var nAlpha = 0L
    val distinct = new java.util.HashSet[String]()
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val tok = s.substring(start, i)
          nWords += 1
          sumLen += tok.codePointCount(0, tok.length)
          distinct.add(tok)
          if (stopSet.contains(tok)) stopHits += 1
          var alpha = true
          var j = 0
          while (alpha && j < tok.length) {
            val c = tok.charAt(j)
            if (c < 'a' || c > 'z') alpha = false
            j += 1
          }
          if (alpha) nAlpha += 1
        }
        start = i + 1
      }
      i += 1
    }
    ArrayData.toArrayData(
      Array(nWords, sumLen, distinct.size.toLong, stopHits, nAlpha))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenStats", this, classOf[TokenStats].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** token_profile_hits(str): per-profile counts of how many whitespace
  * tokens belong to each word list — the token-level sibling of
  * [[NgramProfileHits]] and the scoring kernel of stopword language
  * identification. One tokenization pass serves ALL profiles (the HOF
  * form re-tokenized and re-filtered once per language). */
case class TokenProfileHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {
  override def prettyName: String = "token_profile_hits"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { p =>
      val s = new java.util.HashSet[String]()
      p.foreach(s.add); s
    }.toArray

  /** Shared by interpreted eval and generated code. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val counts = new Array[Long](sets.length)
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val tok = s.substring(start, i)
          var p = 0
          while (p < sets.length) {
            if (sets(p).contains(tok)) counts(p) += 1
            p += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    ArrayData.toArrayData(counts)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenProfileHits", this,
      classOf[TokenProfileHits].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenProfileHits =
    copy(child = newChild)
}

/** simhash31(array<long>): Charikar sketch of a code set. */
case class SimHash31(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash31"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashOps.simHash31(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simHash31($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash31 =
    copy(child = newChild)
}

/** zorder2(a, b): Morton interleave of two BIGINT dimension values —
  * the clustering key behind multi-dimensional data layout (Delta/
  * Iceberg `OPTIMIZE ZORDER BY`): sorting by it keeps rows close in
  * BOTH dimensions physically adjacent, so per-file min/max statistics
  * prune scans filtered on either column. Inputs are taken mod 2^32
  * (callers bucket real keys first); two 31-bit inputs keep the result
  * positive. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "zorder2"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashOps.zorder2($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

/** hilbert2(x, y): Hilbert curve index on the n×n grid — the locality-
  * preserving alternative to [[ZOrder2]] (see HashOps.hilbert2). n is a
  * plan-time constant (grid resolution), not a child expression. */
case class Hilbert2(left: Expression, right: Expression, n: Long)
    extends BinaryExpression {
  require(n > 0 && (n & (n - 1)) == 0, s"grid width must be a power of two, got $n")

  override def prettyName: String = "hilbert2"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.hilbert2(a.asInstanceOf[Long], b.asInstanceOf[Long], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashOps.hilbert2($a, $b, ${n}L)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert2 =
    copy(left = newLeft, right = newRight)
}

/** zorder_n(array(d0, d1, …)): k-way Morton interleave — [[ZOrder2]]
  * generalized to any dimension count (see HashOps.zorderN for the bit
  * layout and the ⌊63/k⌋-bit truncation). The array child keeps the
  * expression unary, so `array(a, b, c)` composes inside whole-stage
  * codegen with no variadic plumbing; elements must be non-null
  * (callers quantize with pmod first, as the layout queries do). */
case class ZOrderN(child: Expression) extends UnaryExpression {
  override def prettyName: String = "zorder_n"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashOps.zorderNArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.zorderNArr($c)")

  override protected def withNewChildInternal(newChild: Expression): ZOrderN =
    copy(child = newChild)
}

/** hilbert_n(array(d0, d1, …)): k-dimensional Hilbert index on the
  * (2^b)^k grid via Skilling's transpose (see HashOps.hilbertN). `b`
  * is a plan-time constant like [[Hilbert2]]'s grid width; k·b must
  * fit a positive long. */
case class HilbertN(child: Expression, b: Int) extends UnaryExpression {
  require(b >= 1 && b <= 62, s"bits per dimension must be in [1,62], got $b")

  override def prettyName: String = "hilbert_n"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashOps.hilbertNArr(input.asInstanceOf[ArrayData], b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.hilbertNArr($c, $b)")

  override protected def withNewChildInternal(newChild: Expression): HilbertN =
    copy(child = newChild)
}

/** bloom_might_contain(str|bigint): k double-hash probes into a FIXED
  * bloom bitset (32-bit words packed in longs) held once as a codegen
  * reference object — the fused form of the Sketches.hash32/hash37
  * probe cascade. Semantics are bit-identical to the column-algebra
  * formulation (and its DuckDB oracle replay); the difference is
  * execution: each hash computed once per row and k probes in one
  * loop, where the collapsed-projection column form re-derives both
  * hashes inside every probe subexpression and inlines the bitset
  * literal 2k times into the plan. A BIGINT child takes the
  * arithmetic decimal-digit path — same hash as hashing its string
  * form, but the 100 TB-scan side never allocates a string. */
case class BloomMightContain(child: Expression, words: Seq[Long], k: Int, bits: Long)
    extends UnaryExpression {
  require(words.length * 32L >= bits, s"bitset too small: ${words.length} words for $bits bits")

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string or bigint input, got ${t.catalogString}")
  }

  @transient private lazy val wordArr: Array[Long] = words.toArray

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case LongType =>
      HashOps.bloomMightContainLong(input.asInstanceOf[Long], wordArr, k, bits)
    case _ =>
      HashOps.bloomMightContain(input.asInstanceOf[UTF8String], wordArr, k, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", wordArr, "long[]")
    val fn = if (child.dataType == LongType) "bloomMightContainLong" else "bloomMightContain"
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.$fn($c, $ref, $k, ${bits}L)")
  }

  // keep plans readable: a 1024-word bitset has no place in a tree dump
  override def toString: String = s"$prettyName($child, ${words.length} words, k=$k, bits=$bits)"

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
