package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the two hot per-row array kernels.
  *
  * Why: Spark's higher-order functions (transform/aggregate/zip_with)
  * are evaluated INTERPRETED — each lambda step is a virtual call with
  * boxing, and nested lambdas (64 minhash functions × shingles) pay
  * that cost multiplied. These expressions generate a call into a tight
  * primitive JVM loop (Kernels) from within whole-stage codegen — the
  * "custom codegen'd Expression only if benchmarks demand" path that
  * SURVEY §7.3 reserved; benchmarks demanded it (x_minhash_neardup was
  * the slowest query in the round-3 bench).
  *
  * Semantics are BIT-IDENTICAL to the higher-order-function forms they
  * replace (same IEEE operation order for the double fold, same mod-P
  * integer chain), so callers can switch paths without touching oracle
  * hashes — GraftFunctionsSpec asserts the equivalence.
  */
object Kernels {

  val P = 2147483647L // 2^31−1, the Mersenne prime used across Dedup

  /** Element-type codes for the typed kernels: the int8-quantized
    * IVF probe reads array<tinyint> vectors, so the dot kernel speaks
    * bytes as well as floats/doubles (byte values promote to double
    * EXACTLY — |v| ≤ 127 — so int8 arithmetic in a double fold is the
    * same integers). */
  val TDouble = 0
  val TFloat = 1
  val TByte = 2

  /** Sequential-order dot product; identical fold order to
    * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)` — including a
    * null element anywhere making the whole result null (boxed return
    * so the expression can propagate it). */
  def dotT(a: ArrayData, b: ArrayData, aT: Int, bT: Int): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aT == TFloat) a.getFloat(i).toDouble
        else if (aT == TByte) a.getByte(i).toDouble
        else a.getDouble(i)
      val y = if (bT == TFloat) b.getFloat(i).toDouble
        else if (bT == TByte) b.getByte(i).toDouble
        else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Boolean-typed twin kept for direct callers (KernelProps). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double =
    dotT(a, b, if (aFloat) TFloat else TDouble, if (bFloat) TFloat else TDouble)

  /** Cosine of two numeric arrays via the dot kernel; null on null
    * input, null element, zero norm, or length mismatch. */
  def cosineT(a: ArrayData, b: ArrayData, aT: Int, bT: Int): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val ab = dotT(a, b, aT, bT)
    val aa = dotT(a, a, aT, aT)
    val bb = dotT(b, b, bT, bT)
    if (ab == null || aa == null || bb == null) return null
    val denom = math.sqrt(aa) * math.sqrt(bb)
    if (denom == 0.0) null else ab / denom
  }

  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double =
    cosineT(a, b, if (aFloat) TFloat else TDouble, if (bFloat) TFloat else TDouble)

  /** Random-hyperplane LSH bucket — the kernel twin of
    * Similarity.lshBucket: plane component (j, d) =
    * (pmod(xxhash64(j, d), 2000) − 1000) / 1000 with xxhash64's seed-42
    * int-chaining, bucket bit j set when the projection is ≥ 0.
    * GraftFunctionsSpec pins equality with the higher-order form.
    */
  def lshBucket(vec: ArrayData, bits: Int, isFloat: Boolean): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val dims = vec.numElements()
    // A null element nulls every projection fold in the higher-order
    // twin, so every when() takes the 0 branch → bucket 0. Mirror that.
    var i0 = 0
    while (i0 < dims) { if (vec.isNullAt(i0)) return 0L; i0 += 1 }
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var d = 0.0
      var i = 0
      while (i < dims) {
        val h = XXH64.hashInt(i + 1, XXH64.hashInt(j, 42L))
        val plane = (((h % 2000) + 2000) % 2000 - 1000).toDouble / 1000.0
        val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        d += v * plane
        i += 1
      }
      if (d >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Distinct k-word shingle hashes of a text, mod P — the kernel twin
    * of `shingleHashes(shingles(text, k))` in Dedup: java String.split
    * with regex " " and limit -1 (exactly Catalyst's StringSplit),
    * shingles joined with single spaces (concat_ws), first-occurrence
    * dedup (array_distinct), xxHash64 with Spark's seed 42 over the
    * UTF8 bytes (the xxhash64 function), then pmod P.
    */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val toks = text.toString.split(" ", -1)
    val n = math.max(toks.length - (k - 1), 0)
    // Dedup on the SHINGLE STRING (array_distinct's key in the HOF
    // twin), not on the post-mod-P hash: two distinct shingles that
    // collide mod P must BOTH keep their (equal) value, exactly like
    // the higher-order chain — deduping on the hash would drop one
    // and break the bit-identical equivalence x_kernel_equiv gates.
    val seen = new java.util.LinkedHashSet[String]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      val str = sb.toString
      if (seen.add(str)) {
        val s = UTF8String.fromString(str)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        out += ((h % P) + P) % P
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-query IVFADC scores of one packed code — the kernel behind
    * batched IVFADC serving (graft.ext.IvfPq.probeBatch): for each
    * query whose probed cells hold this row's cell, score =
    * cellDot[q][cell] + ((lut[q][0][code_0] + lut[q][1][code_1]) + …)
    * — EXACTLY ivfadcScore's float association (cell constant added to
    * the left-folded LUT sum), over the same driver-computed doubles,
    * so kernel scores are bit-identical to the single probe's. Queries
    * whose cells exclude the row yield null (the fan-out filter).
    * One pass: m unpack-shifts + nQ·(membership + m lookups). */
  def ivfAdcScores(code: Long, cluster: Int, t: IvfAdcTable): ArrayData = {
    val codes = new Array[Int](t.m)
    var j = 0
    while (j < t.m) {
      // (code >>> 8j) & 0xFF == pmod(code >> 8j, 256) for every j —
      // the mask keeps bits 0..7, where arithmetic and logical shifts
      // agree; matches the expression path bit-for-bit.
      codes(j) = ((code >>> (8 * j)) & 0xFFL).toInt
      j += 1
    }
    val out = new Array[Any](t.nQ)
    // kCells == 0 is FLAT mode (Pq.probeBatch — no IVF cells): every
    // query scores every row, and the score is the bare left-folded
    // LUT sum, exactly Pq.adcScore's association (no `cellDot +`
    // prefix — 0.0 + x is not always bit-identical to x).
    val flat = t.kCells == 0
    var q = 0
    while (q < t.nQ) {
      if (flat || (cluster >= 0 && cluster < t.kCells &&
          t.member(q * t.kCells + cluster))) {
        var lutSum = t.lut((q * t.m) * t.kPq + codes(0))
        var i = 1
        while (i < t.m) {
          lutSum += t.lut((q * t.m + i) * t.kPq + codes(i))
          i += 1
        }
        out(q) = if (flat) lutSum
          else t.cellDot(q * t.kCells + cluster) + lutSum
      }
      q += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query cell-gated cosine scores of one vector — the kernel
    * behind batched FLOAT and INT8 IVF serving
    * (graft.ext.IvfIndex.probeBatch / probeBatchQuantized): for each
    * query whose probed cells hold this row's cell, replay the single
    * probe's score expression EXACTLY —
    *
    *   float tier: graft_dot(v, q) / (sqrt(graft_dot(v, v)) · qdiv_q)
    *     with qdiv_q the driver-folded sqrt(graft_dot(q, q)) constant —
    *     the same doubles Similarity.cosineIn produces after constant
    *     folding, INCLUDING non-ANSI Divide's zero-divisor rule: a
    *     0-norm row (or 0-norm query) makes the denominator 0.0 and
    *     the expression path returns null, never Java's 0/0 = NaN —
    *     so the kernel null-guards the denominator the same way
    *     (NaN-first-in-desc vs nulls-last is a ranking divergence the
    *     bit-identity contract can't absorb);
    *   int8 tier (zeroNull): graft_dot(qv, qq) / (sqrt(qnorm2) · 1.0)
    *     with the when(qnorm2 === 0, null) zero-direction guard —
    *     x · 1.0 is IEEE-exact, so the shared denominator shape costs
    *     nothing.
    *
    * Queries whose cells exclude the row yield null (the fan-out
    * filter); a null element or dims mismatch nulls the affected
    * scores exactly like graft_dot's null propagation. One pass:
    * d mults for the row norm + nQ·(membership + d mults). */
  def ivfCosScores(vec: ArrayData, vecT: Int, cluster: Int,
                   t: IvfCosTable): ArrayData = {
    val out = new Array[Any](t.nQ)
    val nEl = vec.numElements()
    def elem(i: Int): Double =
      if (vecT == TFloat) vec.getFloat(i).toDouble
      else if (vecT == TByte) vec.getByte(i).toDouble
      else vec.getDouble(i)
    // Row norm² with graft_dot's null propagation: any null element →
    // the expression path's sqrt(dot(v,v)) is null → every query's
    // score is null.
    var aa = 0.0
    var i = 0
    while (i < nEl) {
      if (vec.isNullAt(i)) return new GenericArrayData(out)
      val x = elem(i)
      aa += x * x
      i += 1
    }
    // int8 tier's when(qnorm2 === 0, null) zero-direction guard; the
    // float tier's 0-norm rows null via the denominator guard below
    // (non-ANSI Divide returns null on a 0.0 divisor — the expression
    // never produces Java's 0/0 = NaN).
    if (t.zeroNull && aa == 0.0) return new GenericArrayData(out)
    val sa = math.sqrt(aa)
    val inRange = cluster >= 0 && cluster < t.kCells
    var q = 0
    while (q < t.nQ) {
      if (inRange && t.member(q * t.kCells + cluster)) {
        // dims mismatch → graft_dot(v, q) null → score null.
        if (nEl == t.d) {
          var ab = 0.0
          var j = 0
          while (j < nEl) {
            ab += elem(j) * t.q(q * t.d + j)
            j += 1
          }
          // Replicate Divide's zero-divisor → null (non-ANSI); a NaN
          // denominator (NaN element) is != 0.0 and divides to NaN on
          // both paths.
          val den = sa * t.qdiv(q)
          if (den != 0.0) out(q) = ab / den
        }
      }
      q += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash — the kernel twin of [[graft.ext.Dedup.simhash]]'s
    * nested-HOF form, which re-evaluates the split+xxhash64 token
    * array ONCE PER MASK BIT (64× per row — the nested-lambda
    * re-evaluation trap the winnow kernel's doc describes). One
    * primitive pass here: hash each whitespace token once (same
    * split(" ", -1) tokens, same seed-42 XXH64 as the `xxhash64`
    * expression), accumulate the 64 ±1 bit votes in one int array,
    * set bits where votes > 0. Vote sums are exact integer arithmetic
    * and order-independent, so the result is BIT-IDENTICAL to the HOF
    * chain (pinned in DedupSpec's kernel-equivalence case). */
  def simhash(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    import org.apache.spark.unsafe.types.UTF8String
    val toks = text.toString.split(" ", -1)
    val votes = new Array[Long](64)
    var i = 0
    while (i < toks.length) {
      val s = UTF8String.fromString(toks(i))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (if ((h & (1L << b)) != 0L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0L) sh |= (1L << b); b += 1 }
    sh
  }

  /** Winnowing fingerprints — the kernel twin of
    * `Dedup.winnowSelect(Dedup.kgramHashes(text, k), w)`: character
    * k-gram → md5 hex prefix (8 chars, lowercase — exactly Spark's
    * `md5` over the substring's UTF-8 bytes; substring is
    * codepoint-based like Catalyst's Substring), then the minimum of
    * every w-window of consecutive hashes (lexicographic — identical
    * to array_min's binary comparison on ASCII hex), deduplicated
    * preserving first occurrence (array_distinct's order). One
    * primitive pass per row; the higher-order form re-evaluates the
    * hash array per window lambda unless a materialization barrier is
    * interposed (Dedup.winnowed) — the kernel needs no barrier.
    */
  def winnow(text: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val nChars = text.numChars()
    val nGrams = nChars - (k - 1)
    if (nGrams <= 0) return new GenericArrayData(new Array[Any](0))
    val hs = new Array[String](nGrams)
    var i = 0
    while (i < nGrams) {
      val sub = text.substringSQL(i + 1, k)
      hs(i) = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(sub.getBytes).substring(0, 8)
      i += 1
    }
    val nWin = math.max(nGrams - (w - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j < nWin) {
      var m = hs(j)
      var t = j + 1
      val end = math.min(j + w, nGrams)
      while (t < end) {
        if (hs(t).compareTo(m) < 0) m = hs(t)
        t += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  /** Int-packed winnowing fingerprints — [[winnow]]'s row-width twin:
    * the 8-hex-char md5 prefix IS the digest's first 4 bytes, so each
    * fingerprint packs as that unsigned 32-bit value in a long
    * ([0, 2^32)). Fixed-width lowercase hex compares lexicographically
    * exactly as the unsigned value compares numerically, and packing
    * is a bijection on 8-hex strings, so window-min selection and
    * first-occurrence dedup pick the SAME fingerprints —
    * `lpad(lower(hex(packed)), 8, '0')` reproduces [[winnow]]'s output
    * element-for-element (GraftFunctionsSpec pins it). Why it exists:
    * the winnow inverted index explodes ~len/(w+1)·2 fingerprints per
    * doc through a corpus-wide shuffle, and an 8-byte fixed-width long
    * beats a 16-byte offset+payload UTF8String row — the measured
    * dominator of the winnow join at ScaleBench 50×. Also ~2× less
    * per-row hash work: one reused MessageDigest, no hex encode.
    */
  def winnowPacked(text: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    val nChars = text.numChars()
    val nGrams = nChars - (k - 1)
    if (nGrams <= 0) return new GenericArrayData(new Array[Long](0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val out16 = new Array[Byte](16)
    val hs = new Array[Long](nGrams)
    if (text.numBytes() == nChars) {
      // ASCII fast path: a k-codepoint substring IS a k-byte slice, so
      // hash sliding windows of the row's one byte[] — no per-k-gram
      // UTF8String/byte[] allocation (2·nGrams objects saved per row;
      // GC pressure was a measured chunk of the 50× skew wall).
      val bytes = text.getBytes
      var i = 0
      while (i < nGrams) {
        md.update(bytes, i, k)
        md.digest(out16, 0, 16) // writes + resets, no allocation
        hs(i) = ((out16(0) & 0xffL) << 24) | ((out16(1) & 0xffL) << 16) |
          ((out16(2) & 0xffL) << 8) | (out16(3) & 0xffL)
        i += 1
      }
    } else {
      var i = 0
      while (i < nGrams) {
        val sub = text.substringSQL(i + 1, k)
        md.update(sub.getBytes)
        md.digest(out16, 0, 16)
        hs(i) = ((out16(0) & 0xffL) << 24) | ((out16(1) & 0xffL) << 16) |
          ((out16(2) & 0xffL) << 8) | (out16(3) & 0xffL)
        i += 1
      }
    }
    val nWin = math.max(nGrams - (w - 1), 1)
    val seen = new java.util.LinkedHashSet[Long]()
    var j = 0
    while (j < nWin) {
      var m = hs(j)
      var t = j + 1
      val end = math.min(j + w, nGrams)
      while (t < end) {
        if (hs(t) < m) m = hs(t)
        t += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Per-band minhash-fold hashes: for band j, fold the minima of hash
    * functions h_i(x) = (a_i·x + b_i) mod P over i ∈ [j·rows, (j+1)·rows)
    * with acc' = (acc·31 + min_i) mod P. Exactly the expression chain in
    * Dedup.minhashBandsHof (empty shingle set → min = P).
    */
  def minhashBands(hs: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var acc = 1125899907L
      var k = 0
      while (k < rows) {
        val i = j * rows + k
        val a = (i.toLong * 2654435761L + 1L) % P
        val b = (i.toLong * 40503L + 7L) % P
        // Null elements are skipped — array_min ignores nulls in the
        // higher-order twin; an all-null (or empty) set minhashes to P.
        var m = Long.MaxValue
        var any = false
        var t = 0
        while (t < n) {
          if (!hs.isNullAt(t)) {
            any = true
            val v = (a * hs.getLong(t) + b) % P
            if (v < m) m = v
          }
          t += 1
        }
        if (!any) m = P
        acc = (acc * 31 + m) % P
        k += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition) — the
    * normalize-before-fingerprint step: byte-different, canonically
    * equivalent texts (precomposed é vs e + combining acute) collapse
    * to one canonical form, so hash-keyed dedup stops treating them
    * as distinct documents. java.text.Normalizer implements the same
    * Unicode normalization DuckDB's nfc_normalize (utf8proc) does, so
    * SQL oracles replay it directly. Fast path: a quick-check-clean
    * string (all ASCII, and most real text) returns the INPUT
    * UTF8String — one scan, zero allocation. */
  def nfc(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Greedy BPE segmentation of a whitespace-tokenized text against a
    * learned merge table (the APPLY step of byte-pair encoding,
    * Sennrich et al. 2016 — the training step is
    * TextAnalysis.bpeTrain): per word, repeatedly merge the
    * LOWEST-RANK adjacent symbol pair present in the table (all its
    * occurrences in the word, left to right) until none remains, then
    * emit the word's subword symbols in order. Symbols start as code
    * points, so astral-plane characters never split mid-surrogate.
    * Deterministic and per-row — the 100 TB tokenize is embarrassingly
    * parallel with the (small) merge table riding in the plan.
    * Invariant (spec-pinned): concatenating the output tokens
    * reproduces the text with spaces removed. */
  def bpeEncode(text: org.apache.spark.unsafe.types.UTF8String,
                table: BpeTable): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    val words = text.toString.split(" ", -1)
    var wi = 0
    while (wi < words.length) {
      bpeWord(words(wi), table, out)
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** One word's BPE merge via a doubly-linked symbol list + a
    * (rank, position) min-heap — O(n log n) in the word length where
    * the naive rescan-per-merge loop is O(n²) with NO length bound
    * (VERDICT r20 #1: "word" is the whole document for spaceless
    * scripts, so a 1 M-char CJK/minified-JS/base64 run must not wedge
    * a task). Behavior-identical to the rescan loop on EVERY input:
    * the heap pops the globally lowest-rank pair first, and the
    * same-rank drain below replays the old "merge ALL occurrences of
    * the chosen pair left-to-right in one pass" semantics exactly
    * (rank ↔ pair string is one-to-one, heap order within a rank is
    * ascending start offset = left-to-right, and merging (a,b) can
    * never create a new (a,b): a+b = a or a+b = b is impossible for
    * nonempty symbols). Stale heap entries — a side consumed by an
    * earlier merge — are detected by liveness + adjacency and
    * skipped, reproducing the old pass's overlap rule ("aaa" → [aa,a]).
    */
  private def bpeWord(word: String, table: BpeTable,
                      out: scala.collection.mutable.ArrayBuffer[AnyRef]): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    // Split into codepoint symbols (astral chars never split
    // mid-surrogate — the house convention).
    val sym0 = {
      val buf = new scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < word.length) {
        val n = Character.charCount(word.codePointAt(i))
        buf += word.substring(i, i + n)
        i += n
      }
      buf
    }
    val n = sym0.length
    if (n < 2) {
      var k = 0
      while (k < n) { out += UTF8String.fromString(sym0(k)); k += 1 }
      return
    }
    // Node store: ids 0..n-1 initial symbols; each merge allocates one
    // new id (≤ n-1 merges), so 2n-1 slots suffice.
    val cap = 2 * n
    val sym = new Array[String](cap)
    val nxt = new Array[Int](cap)
    val prv = new Array[Int](cap)
    val alive = new Array[Boolean](cap)
    val start = new Array[Int](cap) // original position, the tie-break
    var nNodes = n
    var i = 0
    while (i < n) {
      sym(i) = sym0(i); nxt(i) = i + 1; prv(i) = i - 1
      alive(i) = true; start(i) = i
      i += 1
    }
    nxt(n - 1) = -1
    var head = 0
    // Heap entries: {rank, start, leftId, rightId}, ordered by
    // (rank, start). (rank, start) pairs are unique over the run (a
    // pair string fixes its rank; a given start can hold a given left
    // symbol at most once), so the order is total and deterministic.
    val heap = new java.util.PriorityQueue[Array[Int]](n,
      (x: Array[Int], y: Array[Int]) =>
        if (x(0) != y(0)) Integer.compare(x(0), y(0))
        else Integer.compare(x(1), y(1)))
    // Pairs created DURING a pass are deferred to `pending` and only
    // enter the heap when the pass ends: pushed eagerly, a created
    // pair with a LOWER rank would surface at the heap top mid-drain
    // and end the pass while occurrences of the current pair remain —
    // the old code finishes every occurrence of the chosen pair
    // before rescanning (caught by the reference-model property).
    val pending = new scala.collection.mutable.ArrayBuffer[Array[Int]]()
    def push(left: Int, right: Int,
             to: Array[Int] => Unit): Unit = {
      val r = table.rank.get(sym(left) + " " + sym(right))
      if (r != null) to(Array(r.intValue(), start(left), left, right))
    }
    i = 0
    while (i < n - 1) { push(i, i + 1, e => heap.add(e)); i += 1 }
    def valid(e: Array[Int]): Boolean =
      alive(e(2)) && alive(e(3)) && nxt(e(2)) == e(3)
    def merge(e: Array[Int]): Unit = {
      val l = e(2); val r = e(3)
      val m = nNodes; nNodes += 1
      sym(m) = sym(l) + sym(r)
      start(m) = start(l)
      prv(m) = prv(l); nxt(m) = nxt(r)
      alive(m) = true; alive(l) = false; alive(r) = false
      if (prv(m) >= 0) nxt(prv(m)) = m else head = m
      if (nxt(m) >= 0) prv(nxt(m)) = m
      if (prv(m) >= 0) push(prv(m), m, pending += _)
      if (nxt(m) >= 0) push(m, nxt(m), pending += _)
    }
    while (!heap.isEmpty) {
      val e = heap.poll()
      if (valid(e)) {
        val rank = e(0)
        pending.clear()
        merge(e)
        // Same-rank drain: finish every remaining occurrence of THIS
        // pair before re-evaluating the global minimum — the old
        // code's one-pass-per-pair semantics. All same-rank entries
        // are occurrences of the same pair string (rank ↔ pair is
        // one-to-one), and a merge of (a,b) can never create a new
        // (a,b), so the drain set is exactly the pass's occurrences.
        while (heap.peek() != null && heap.peek()(0) == rank) {
          val e2 = heap.poll()
          if (valid(e2)) merge(e2)
        }
        var pi = 0
        while (pi < pending.length) { heap.add(pending(pi)); pi += 1 }
      }
    }
    var p = head
    while (p >= 0) { out += UTF8String.fromString(sym(p)); p = nxt(p) }
  }

  /** Whole-bit cost charged for a single codepoint absent from the
    * unigram inventory — large enough that any in-vocabulary path
    * wins, small enough that sums over a word never approach Long
    * overflow. Exposed for the trainer/spec. */
  val UnigramOovBits = 40L

  /** Viterbi segmentation of ONE whitespace-free word under a unigram
    * piece inventory (integer whole-bit costs): minimize the summed
    * bits; on exact ties prefer the LONGER last piece (then the
    * shorter prefix recursively — a total, deterministic order, so
    * trainer and encoder always agree). Splits on CODE POINTS (the
    * bpeEncode convention — astral characters never split
    * mid-surrogate). A codepoint with no single-char piece costs
    * [[UnigramOovBits]], so the DP always completes — crawler byte
    * soup segments, never throws. */
  def unigramSegment(word: String, table: UnigramTable): Array[String] = {
    if (word.isEmpty) return Array.empty
    // Codepoint boundaries (indices into the UTF-16 string).
    val bounds = {
      val b = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      b += 0
      while (i < word.length) {
        i += Character.charCount(word.codePointAt(i))
        b += i
      }
      b.toArray
    }
    val n = bounds.length - 1 // codepoints
    val cost = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // best last-piece length, in codepoints
    java.util.Arrays.fill(cost, Long.MaxValue)
    cost(0) = 0L
    var i = 1
    while (i <= n) {
      var len = 1
      // The candidate span s = bounds(i) - bounds(i-len) is monotone
      // nondecreasing in len, so once it exceeds table.maxLen (past the
      // always-evaluated len == 1 OOV case) no longer piece can be in
      // the inventory: break, don't just skip. Bounds the inner loop at
      // O(maxLen) per position — a 1 M-char spaceless word (CJK,
      // minified JS, base64 soup) costs O(word × maxLen), not O(word²).
      var capped = false
      while (len <= i && !capped) {
        val s = bounds(i) - bounds(i - len)
        if (s > table.maxLen && len > 1) capped = true
        else {
          val piece = word.substring(bounds(i - len), bounds(i))
          val c = table.cost.get(piece)
          val bits =
            if (c != null) c.longValue()
            else if (len == 1) UnigramOovBits
            else -1L
          if (bits >= 0L && cost(i - len) != Long.MaxValue) {
            val cand = cost(i - len) + bits
            // Strictly better, or an exact tie won by the longer
            // last piece (back(i) holds the incumbent's length).
            if (cand < cost(i) || (cand == cost(i) && len > back(i))) {
              cost(i) = cand
              back(i) = len
            }
          }
        }
        len += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) {
      val len = back(p)
      out += word.substring(bounds(p - len), bounds(p))
      p -= len
    }
    out.reverseIterator.toArray
  }

  /** Unigram-LM tokenizer APPLY (string → array<string> pieces): each
    * whitespace token Viterbi-segmented under the inventory via
    * [[unigramSegment]]; per-word outputs concatenate in order.
    * Invariant (spec-pinned, gated by x_unigram_encode): concatenating
    * the output reproduces the text with spaces removed. */
  def unigramEncode(text: org.apache.spark.unsafe.types.UTF8String,
                    table: UnigramTable): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    val words = text.toString.split(" ", -1)
    var wi = 0
    while (wi < words.length) {
      val pieces = unigramSegment(words(wi), table)
      var k = 0
      while (k < pieces.length) {
        out += UTF8String.fromString(pieces(k)); k += 1
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Packed product-quantization code of one vector — the kernel twin
    * of Pq's higher-order encode (normalize → per-subspace argmin over
    * squared-L2 to the codebook → codes packed into bits [8j, 8j+8)).
    * Bit-identical to the HOF form by accumulating every sum in its
    * left-to-right order in double: norm = sequential Σv², unit
    * element = (double)v / norm (zero norm → zeros, the withUnit
    * rule), dist = sequential Σ(u−c)², argmin = first smallest with
    * array_min's NaN-is-largest ordering. Null on a null element or a
    * vector shorter than m·sub (the HOF's null-padded-slice outcome);
    * extra trailing dims beyond m·sub are ignored for distances but
    * still feed the norm (withUnit normalizes the WHOLE vector).
    * graft_pq_encode's pin lives in x_kernel_equiv + KernelProps. */
  def pqEncode(vec: ArrayData, t: PqBooksTable, vecT: Int,
               normalize: Boolean): java.lang.Long = {
    val n = vec.numElements()
    if (n < t.m * t.sub) return null
    var i0 = 0
    while (i0 < n) { if (vec.isNullAt(i0)) return null; i0 += 1 }
    @inline def at(i: Int): Double =
      if (vecT == TFloat) vec.getFloat(i).toDouble
      else if (vecT == TByte) vec.getByte(i).toDouble
      else vec.getDouble(i)
    var norm = 1.0
    if (normalize) {
      var acc = 0.0
      var i = 0
      while (i < n) { val v = at(i); acc += v * v; i += 1 }
      norm = math.sqrt(acc)
    }
    val zero = normalize && norm == 0.0
    var packed = 0L
    var j = 0
    while (j < t.m) {
      var bestIdx = 0
      var best = Double.NaN
      var c = 0
      while (c < t.k) {
        var d = 0.0
        var i = 0
        val base = j * t.sub
        val cbase = (j * t.k + c) * t.sub
        while (i < t.sub) {
          val u = if (zero) 0.0 else at(base + i) / norm
          val diff = u - t.flat(cbase + i)
          d += diff * diff
          i += 1
        }
        // First-min-wins under array_min's ordering (NaN sorts
        // largest): a later code replaces the best only when strictly
        // smaller, so exact ties keep the earliest code.
        val better =
          if (c == 0) true
          else if (java.lang.Double.isNaN(best)) !java.lang.Double.isNaN(d)
          else !java.lang.Double.isNaN(d) && d < best
        if (better) { best = d; bestIdx = c }
        c += 1
      }
      packed += bestIdx.toLong << (8 * j)
      j += 1
    }
    packed
  }

  /** Image-header dimension extraction — PNG / JPEG / GIF, pure-JVM
    * parsing of the public container formats (PNG spec: 8-byte
    * signature then the IHDR chunk's big-endian u32 width/height;
    * JPEG/JFIF: marker-segment scan to the first SOFn frame header's
    * big-endian u16 height/width; GIF87a/89a: the logical screen
    * descriptor's little-endian u16 pair). The REAL decoder the
    * multimodal two-path contract was built for (VERDICT r19 missing
    * #5): header fields only — no pixel decode, no codec library —
    * so it runs wherever the JVM runs.
    *
    * Returns an InternalRow (format UTF8String, width Int, height
    * Int), or null when the payload matches no known signature, is
    * truncated before its dimension fields, or carries a malformed
    * marker stream — null means "not decodable", never a throw: at
    * corpus scale a crawler's byte soup must not kill the stage.
    * Zero-valued dimensions read as malformed (the specs require
    * nonzero). */
  def imageDims(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    if (bytes == null) return null
    val n = bytes.length
    def u(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def row(fmt: String, w: Int, h: Int)
        : org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(fmt),
          w, h))
    // PNG: signature + IHDR (the spec REQUIRES IHDR first; its 13-byte
    // payload starts with width/height at offsets 16/20).
    if (n >= 24 &&
        u(0) == 0x89 && u(1) == 0x50 && u(2) == 0x4e && u(3) == 0x47 &&
        u(4) == 0x0d && u(5) == 0x0a && u(6) == 0x1a && u(7) == 0x0a) {
      if (bytes(12) != 'I' || bytes(13) != 'H' ||
          bytes(14) != 'D' || bytes(15) != 'R') return null
      val w = be32(16)
      val h = be32(20)
      // The spec caps dimensions at 2^31−1; 0 is invalid.
      if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
        return row("png", w.toInt, h.toInt)
      return null
    }
    // GIF87a / GIF89a: logical screen descriptor follows the 6-byte
    // version block.
    if (n >= 10 &&
        bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') &&
        bytes(5) == 'a') {
      val w = le16(6)
      val h = le16(8)
      if (w > 0 && h > 0) return row("gif", w, h)
      return null
    }
    // BMP: "BM" file header, then a DIB header whose size field tells
    // the layout; BITMAPINFOHEADER and later (size >= 40) carry
    // little-endian i32 width/height at offsets 18/22 (height may be
    // negative = top-down rows; magnitude is the dimension).
    if (n >= 26 && bytes(0) == 'B' && bytes(1) == 'M') {
      val dibSize = le16(14).toLong | (le16(16).toLong << 16)
      if (dibSize < 40L) return null // BITMAPCOREHEADER not supported
      val wRaw = le16(18).toLong | (le16(20).toLong << 16)
      val hRaw = le16(22).toLong | (le16(24).toLong << 16)
      val w = wRaw.toInt // i32 reassembled from the two LE halves
      val h = math.abs(hRaw.toInt).toLong
      if (w > 0 && h > 0L && h <= Int.MaxValue)
        return row("bmp", w, h.toInt)
      return null
    }
    // JPEG: SOI, then marker segments until the first frame header
    // (SOF0–SOF15 minus the non-frame C4/C8/CC). Dimensions always
    // precede scan data, so hitting SOS or EOI first = malformed.
    if (n >= 4 && u(0) == 0xff && u(1) == 0xd8) {
      var i = 2
      while (i + 1 < n) {
        if (u(i) != 0xff) return null // desynced marker stream
        var m = u(i + 1)
        // 0xFF fill bytes may pad between segments.
        while (m == 0xff && i + 2 < n) { i += 1; m = u(i + 1) }
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) i += 2 // standalone
        else if (m == 0xd9 || m == 0xda) return null // EOI / SOS first
        else {
          if (i + 3 >= n) return null
          val len = be16(i + 2)
          if (len < 2) return null
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
              m != 0xcc) {
            // SOFn payload: precision u8, height u16, width u16.
            if (len < 7 || i + 8 >= n) return null
            val h = be16(i + 5)
            val w = be16(i + 7)
            if (w > 0 && h > 0) return row("jpeg", w, h)
            return null
          }
          i += 2 + len
        }
      }
      return null
    }
    null
  }

  /** WAV audio-header metadata — the audio sibling of [[imageDims]]
    * (RIFF container, public format): a "RIFF…WAVE" signature, then a
    * chunk scan (4-byte id + little-endian u32 size, chunks padded to
    * even offsets) to the "fmt " chunk, whose PCM fields are
    * little-endian — format tag u16, channels u16, sample rate u32,
    * bits-per-sample u16. Returns an InternalRow (format UTF8String
    * "wav", channels Int, sample_rate Int, bits_per_sample Int), or
    * null for anything that is not a well-formed WAV head — same
    * doctrine as imageDims: byte soup classifies, never throws. */
  def wavMeta(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    if (bytes == null || bytes.length < 36) return null
    def u(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Long =
      u(i).toLong | (u(i + 1).toLong << 8) | (u(i + 2).toLong << 16) |
        (u(i + 3).toLong << 24)
    val n = bytes.length
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E')) return null
    // The cursor is a Long: a crafted chunk size near 2^31 would
    // overflow an Int cursor into a negative index and THROW — the
    // exact crash the never-throw doctrine forbids (caught by the
    // KernelProps byte-soup fuzz while writing it).
    var iL = 12L
    while (iL + 8L <= n) {
      val i = iL.toInt
      val isFmt = bytes(i) == 'f' && bytes(i + 1) == 'm' &&
        bytes(i + 2) == 't' && bytes(i + 3) == ' '
      val size = le32(i + 4)
      if (isFmt) {
        if (size < 16L || i + 8 + 16 > n) return null
        val channels = le16(i + 10)
        val rate = le32(i + 12)
        val bits = le16(i + 22)
        if (channels > 0 && rate > 0L && rate <= Int.MaxValue && bits > 0)
          return new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString("wav"),
              channels, rate.toInt, bits))
        return null
      }
      // Chunks are word-aligned: odd sizes carry one pad byte.
      iL += 8L + size + (size & 1L)
    }
    null
  }
}

/** A learned BPE merge table: space-joined symbol pairs in rank order
  * (index = rank; lower rank = earlier-learned = higher merge
  * priority). Built once per expression instance; the transient rank
  * map rebuilds lazily per executor after plan-reference transport. */
final class BpeTable(val merges: Array[String]) extends Serializable {
  @transient lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) { m.put(merges(i), Integer.valueOf(i)); i += 1 }
    m
  }
}

/** A learned unigram-LM piece inventory for the encode kernel: each
  * entry "piece<TAB>bits" (integer whole-bit cost — the house
  * integer-surprisal trick, so Viterbi compares Longs, never floats).
  * The transient cost map and max piece length rebuild lazily per
  * executor after plan-reference transport (the BpeTable pattern). */
final class UnigramTable(val entries: Array[String]) extends Serializable {
  @transient lazy val (cost: java.util.HashMap[String, java.lang.Long],
      maxLen: Int) = {
    val m = new java.util.HashMap[String, java.lang.Long](entries.length * 2)
    var mx = 1
    var i = 0
    while (i < entries.length) {
      val e = entries(i)
      val t = e.lastIndexOf('\t')
      val p = e.substring(0, t)
      m.put(p, java.lang.Long.valueOf(e.substring(t + 1)))
      if (p.length > mx) mx = p.length
      i += 1
    }
    (m, mx)
  }
}

/** A PQ codebook flattened for the encode kernel: centroid value
  * (j, c, i) at flat((j·k + c)·sub + i), all doubles (the HOF path
  * folds Float centroids through lit(_.toDouble), so the kernel
  * stores the same widened values). */
final class PqBooksTable(val flat: Array[Double], val m: Int, val k: Int,
                         val sub: Int) extends Serializable

/** Per-batch IVFADC constants for [[GraftIvfAdcScores]], flattened for
  * tight indexing: lut[(q·m + j)·kPq + code], cellDot[q·kCells + cell],
  * member[q·kCells + cell]. */
final class IvfAdcTable(val lut: Array[Double], val cellDot: Array[Double],
                        val member: Array[Boolean], val nQ: Int, val m: Int,
                        val kPq: Int, val kCells: Int) extends Serializable

/** Constant tables for [[Kernels.ivfCosScores]], converted once from
  * the foldable struct literal and shipped as one codegen reference
  * object: q[q·d + j] = query q's component j (float tier: the widened
  * float query; int8 tier: the driver-quantized integer-valued
  * doubles), qdiv[q] = the per-query extra denominator factor (float
  * tier: the constant-folded sqrt(dot(q,q)); int8 tier: 1.0 — the
  * quantized pre-rank divides by the ROW norm only), member[q·kCells +
  * cell] = cell is in query q's probed set, zeroNull = the int8 tier's
  * when(qnorm2 === 0, null) guard. */
final class IvfCosTable(val q: Array[Double], val qdiv: Array[Double],
                        val member: Array[Boolean], val nQ: Int, val d: Int,
                        val kCells: Int, val zeroNull: Boolean)
  extends Serializable

private[functions] object GraftVecTypes {
  /** Kernels element-type code of an array expression's elements;
    * -1 when unsupported. */
  def code(e: Expression): Int = e.dataType match {
    case ArrayType(DoubleType, _) => Kernels.TDouble
    case ArrayType(FloatType, _) => Kernels.TFloat
    case ArrayType(ByteType, _) => Kernels.TByte
    case _ => -1
  }
}

/** Σ aᵢ·bᵢ in double precision over two numeric arrays (double, float,
  * or tinyint elements — the int8-quantized IVF probe dots
  * array<tinyint> against the quantized query). Null if either side is
  * null or lengths differ (mirroring zip_with's null-padding
  * behavior). */
case class GraftDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (GraftVecTypes.code(left) >= 0 && GraftVecTypes.code(right) >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<tinyint|float|double> inputs, got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else Kernels.dotT(x, y, GraftVecTypes.code(left), GraftVecTypes.code(right))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (at, bt) = (GraftVecTypes.code(left), GraftVecTypes.code(right))
      val boxed = ctx.freshName("dotBoxed")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.lang.Double $boxed = graft.functions.Kernels.dotT($a, $b, $at, $bt);
         |  if ($boxed == null) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $boxed.doubleValue(); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two numeric arrays — the marker expression the
  * approximate-similarity-join optimizer rule recognizes in join
  * conditions (and a plain fast cosine everywhere else). */
case class GraftCosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (GraftVecTypes.code(left) >= 0 && GraftVecTypes.code(right) >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cosine_sim expects array<tinyint|float|double> inputs, got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosineT(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      GraftVecTypes.code(left), GraftVecTypes.code(right))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (at, bt) = (GraftVecTypes.code(left), GraftVecTypes.code(right))
      val boxed = ctx.freshName("cosBoxed")
      s"""
         |java.lang.Double $boxed = graft.functions.Kernels.cosineT($a, $b, $at, $bt);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket id of a vector (kernel twin of
  * Similarity.lshBucket; used by the approx-join rewrite). */
case class GraftLshBucket(child: Expression, bits: Int)
    extends UnaryExpression {

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_bucket expects array<float|double>, got $dt")
    }

  override def nullSafeEval(vec: Any): Any =
    Kernels.lshBucket(vec.asInstanceOf[ArrayData], bits, isFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Kernels.lshBucket($v, $bits, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct k-word shingle hashes of a string column (string →
  * array<long>, values in [0, P)). */
case class GraftShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_shingle_hashes expects a string, got $dt")
    }

  override def nullSafeEval(text: Any): Any =
    Kernels.shingleHashes(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Kernels.shingleHashes($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Batched IVFADC scoring: `graft_ivfadc_scores(pq_code, cluster_id,
  * tables)` → array<double> with one entry per batch query — the score
  * when the query's probed cells hold the row's cell, null otherwise.
  * `tables` is ONE foldable struct literal carrying every per-query
  * constant (residual LUTs, cell-dot constants, probed-cell
  * memberships), converted once per expression instance and shipped as
  * a codegen reference object — so the generated code is a single
  * kernel call whatever the batch size (flat per-query expressions
  * blow janino past ~8 queries; the higher-order fan-out is
  * CodegenFallback). Scores replay ivfadcScore's exact association —
  * IvfPqSpec pins kernel ≡ flat-expression bit-equality per query. */
case class GraftIvfAdcScores(codeExpr: Expression, clusterExpr: Expression,
                             tablesExpr: Expression) extends TernaryExpression {

  override def first: Expression = codeExpr
  override def second: Expression = clusterExpr
  override def third: Expression = tablesExpr
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  private def tablesTypeOk: Boolean = tablesExpr.dataType match {
    case StructType(Array(
      StructField(_, ArrayType(ArrayType(ArrayType(DoubleType, _), _), _), _, _),
      StructField(_, ArrayType(ArrayType(DoubleType, _), _), _, _),
      StructField(_, ArrayType(ArrayType(IntegerType, _), _), _, _))) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (codeExpr.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivfadc_scores expects a bigint packed code, got ${codeExpr.dataType}")
    else if (clusterExpr.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivfadc_scores expects an int cluster id, got ${clusterExpr.dataType}")
    else if (!tablesTypeOk || !tablesExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_ivfadc_scores expects a foldable struct(lut3d, cellDot2d, cells2d)")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: IvfAdcTable = {
    val row = tablesExpr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    if (row == null) null
    else {
      val lut3 = row.getArray(0)
      val dot2 = row.getArray(1)
      val cells2 = row.getArray(2)
      val nQ = if (lut3 == null) 0 else lut3.numElements()
      if (nQ == 0 || dot2 == null || dot2.numElements() != nQ ||
          cells2 == null || cells2.numElements() != nQ) null
      else {
        val q0 = lut3.getArray(0)
        val m = q0.numElements()
        val kPq = if (m == 0) 0 else q0.getArray(0).numElements()
        // kCells == 0 is legal: FLAT mode (no cell term, every query a
        // member — Kernels.ivfAdcScores documents the contract).
        val kCells = dot2.getArray(0).numElements()
        if (m == 0 || kPq == 0) null
        else {
          val lut = new Array[Double](nQ * m * kPq)
          val cellDot = new Array[Double](nQ * kCells)
          val member = new Array[Boolean](nQ * kCells)
          var ok = true
          var q = 0
          while (ok && q < nQ) {
            val ql = lut3.getArray(q)
            ok = ql != null && ql.numElements() == m
            var j = 0
            while (ok && j < m) {
              val book = ql.getArray(j)
              ok = book != null && book.numElements() == kPq
              var c = 0
              while (ok && c < kPq) {
                ok = !book.isNullAt(c)
                if (ok) lut((q * m + j) * kPq + c) = book.getDouble(c)
                c += 1
              }
              j += 1
            }
            val qd = dot2.getArray(q)
            ok = ok && qd != null && qd.numElements() == kCells
            var cc = 0
            while (ok && cc < kCells) {
              ok = !qd.isNullAt(cc)
              if (ok) cellDot(q * kCells + cc) = qd.getDouble(cc)
              cc += 1
            }
            val qc = cells2.getArray(q)
            ok = ok && qc != null
            var ci = 0
            while (ok && ci < qc.numElements()) {
              ok = !qc.isNullAt(ci)
              if (ok) {
                val cell = qc.getInt(ci)
                if (cell >= 0 && cell < kCells) member(q * kCells + cell) = true
              }
              ci += 1
            }
            q += 1
          }
          if (ok) new IvfAdcTable(lut, cellDot, member, nQ, m, kPq, kCells)
          else null
        }
      }
    }
  }

  override def nullSafeEval(code: Any, cluster: Any, ignoredTables: Any): Any =
    if (table == null) null
    else Kernels.ivfAdcScores(code.asInstanceOf[Long],
      cluster.asInstanceOf[Int], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (table == null)
      GraftSketchCodegen.constantNullCode(ctx, ev,
        "org.apache.spark.sql.catalyst.util.ArrayData", "null")
    else {
      val ref = ctx.addReferenceObj("graftIvfAdc", table,
        classOf[IvfAdcTable].getName)
      nullSafeCodeGen(ctx, ev, (c, cl, _) =>
        s"${ev.value} = graft.functions.Kernels.ivfAdcScores($c, $cl, $ref);")
    }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(codeExpr = newFirst, clusterExpr = newSecond, tablesExpr = newThird)
}

/** Batched cell-gated cosine scoring: `graft_ivf_cos_scores(vec,
  * cluster_id, tables)` → array<double> with one entry per batch query
  * — the cosine (float tier) or row-norm-scaled quantized dot (int8
  * tier) when the query's probed cells hold the row's cell, null
  * otherwise. `tables` is ONE foldable struct literal
  * struct(q2d, qdiv1d, cells2d, zeroNull) carrying every per-query
  * constant, converted once per expression instance and shipped as a
  * codegen reference object — the [[GraftIvfAdcScores]] shape applied
  * to the float/int8 IVF tiers, so generated code is a single kernel
  * call whatever the batch size. Scores replay the single probes'
  * expressions exactly ([[Kernels.ivfCosScores]] documents the IEEE
  * argument); IvfIndexSpec pins batch ≡ per-query bit-equality. */
case class GraftIvfCosScores(vecExpr: Expression, clusterExpr: Expression,
                             tablesExpr: Expression) extends TernaryExpression {

  override def first: Expression = vecExpr
  override def second: Expression = clusterExpr
  override def third: Expression = tablesExpr
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  private def tablesTypeOk: Boolean = tablesExpr.dataType match {
    case StructType(Array(
      StructField(_, ArrayType(ArrayType(DoubleType, _), _), _, _),
      StructField(_, ArrayType(DoubleType, _), _, _),
      StructField(_, ArrayType(ArrayType(IntegerType, _), _), _, _),
      StructField(_, BooleanType, _, _))) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (GraftVecTypes.code(vecExpr) < 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivf_cos_scores expects an array<tinyint|float|double> vector, got ${vecExpr.dataType}")
    else if (clusterExpr.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivf_cos_scores expects an int cluster id, got ${clusterExpr.dataType}")
    else if (!tablesTypeOk || !tablesExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_ivf_cos_scores expects a foldable struct(q2d, qdiv1d, cells2d, zeroNull)")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: IvfCosTable = {
    val row = tablesExpr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    if (row == null || row.isNullAt(3)) null
    else {
      val q2 = row.getArray(0)
      val div1 = row.getArray(1)
      val cells2 = row.getArray(2)
      val zeroNull = row.getBoolean(3)
      val nQ = if (q2 == null) 0 else q2.numElements()
      if (nQ == 0 || div1 == null || div1.numElements() != nQ ||
          cells2 == null || cells2.numElements() != nQ) null
      else {
        val d = if (q2.getArray(0) == null) 0 else q2.getArray(0).numElements()
        // The probed-cell union bounds every gated cell id; sizing the
        // membership table off the max id keeps the struct free of a
        // separate kCells field. max+1 ≥ 1 so `member` is never empty.
        var kCells = 1
        var ok = d > 0
        var qi = 0
        while (ok && qi < nQ) {
          val qc = cells2.getArray(qi)
          ok = qc != null
          var ci = 0
          while (ok && ci < qc.numElements()) {
            ok = !qc.isNullAt(ci)
            if (ok && qc.getInt(ci) >= kCells) kCells = qc.getInt(ci) + 1
            ci += 1
          }
          qi += 1
        }
        if (!ok) null
        else {
          val q = new Array[Double](nQ * d)
          val qdiv = new Array[Double](nQ)
          val member = new Array[Boolean](nQ * kCells)
          var qq = 0
          while (ok && qq < nQ) {
            val qv = q2.getArray(qq)
            ok = qv != null && qv.numElements() == d
            var j = 0
            while (ok && j < d) {
              ok = !qv.isNullAt(j)
              if (ok) q(qq * d + j) = qv.getDouble(j)
              j += 1
            }
            ok = ok && !div1.isNullAt(qq)
            if (ok) {
              qdiv(qq) = div1.getDouble(qq)
              val qc = cells2.getArray(qq)
              var ci = 0
              while (ci < qc.numElements()) {
                val cell = qc.getInt(ci)
                if (cell >= 0) member(qq * kCells + cell) = true
                ci += 1
              }
            }
            qq += 1
          }
          if (ok) new IvfCosTable(q, qdiv, member, nQ, d, kCells, zeroNull)
          else null
        }
      }
    }
  }

  @transient private lazy val vecT: Int = GraftVecTypes.code(vecExpr)

  override def nullSafeEval(vec: Any, cluster: Any, ignoredTables: Any): Any =
    if (table == null) null
    else Kernels.ivfCosScores(vec.asInstanceOf[ArrayData], vecT,
      cluster.asInstanceOf[Int], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (table == null)
      GraftSketchCodegen.constantNullCode(ctx, ev,
        "org.apache.spark.sql.catalyst.util.ArrayData", "null")
    else {
      val ref = ctx.addReferenceObj("graftIvfCos", table,
        classOf[IvfCosTable].getName)
      nullSafeCodeGen(ctx, ev, (v, cl, _) =>
        s"${ev.value} = graft.functions.Kernels.ivfCosScores($v, $vecT, $cl, $ref);")
    }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vecExpr = newFirst, clusterExpr = newSecond, tablesExpr = newThird)
}

/** 64-bit SimHash of a string's whitespace tokens (string → long) —
  * kernel twin of Dedup.simhash's nested-HOF vote; see
  * Kernels.simhash. */
case class GraftSimhash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash expects a string, got $dt")
    }

  override def nullSafeEval(text: Any): Any =
    Kernels.simhash(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Kernels.simhash($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints of a string (string → array<string> of
  * 8-hex-char md5 prefixes) — kernel twin of the
  * kgramHashes→winnowSelect chain; see Kernels.winnow. */
case class GraftWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_winnow expects a string, got $dt")
    }

  override def nullSafeEval(text: Any): Any =
    Kernels.winnow(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Kernels.winnow($t, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Int-packed winnowing fingerprints (string → array<long>, each the
  * md5-prefix fingerprint as an unsigned 32-bit value) — see
  * Kernels.winnowPacked for the bijection with [[GraftWinnow]]. */
case class GraftWinnowPacked(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_winnow_packed expects a string, got $dt")
    }

  override def nullSafeEval(text: Any): Any =
    Kernels.winnowPacked(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Kernels.winnowPacked($t, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LSH band hashes of a shingle-hash array (array<long> → array<long>
  * of `bands` fold hashes, `rowsPerBand` minhashes each). */
case class GraftMinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_bands expects array<bigint>, got $dt")
    }

  override def nullSafeEval(hs: Any): Any =
    Kernels.minhashBands(hs.asInstanceOf[ArrayData], bands, rowsPerBand)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = graft.functions.Kernels.minhashBands($hs, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter membership probe: `graft_might_contain(key, sketch)`
  * where `sketch` is a FOLDABLE binary column (the serialized
  * BloomFilter, in practice a `lit(bytes)` — broadcast-sized by
  * construction, shipped once per task in the plan like any literal).
  *
  * This closes the engine's one per-row lambda: the previous UDF form
  * (BloomPrune round 5–7) was opaque to whole-stage codegen on the
  * pruned join's BIG-side scan — exactly the hot path the prune
  * exists to thin. The sketch is deserialized ONCE per expression
  * instance (transient lazy), and the generated code calls
  * `mightContainLong` on a plan-reference object — no boxing, no
  * closure dispatch.
  *
  * Null semantics: null key → null (a null key can never equi-join,
  * so a WHERE on this expression drops it — identical pruning to the
  * old UDF's `false`); null sketch → null for every row.
  */
case class GraftMightContain(valueExpr: Expression, sketchExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = valueExpr
  override def right: Expression = sketchExpr
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okVal = valueExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!okVal)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_might_contain expects an integral key, got ${valueExpr.dataType}")
    else if (sketchExpr.dataType != BinaryType || !sketchExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_might_contain expects a foldable binary sketch argument")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  // Deserialized once per expression instance — on the driver at
  // codegen time (the reference object then ships serialized inside
  // the task binary) and once per executor instance on the
  // interpreted path.
  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = sketchExpr.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
  }

  override def nullSafeEval(v: Any, ignoredSketch: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Number].longValue())

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (bloom == null)
      GraftSketchCodegen.constantNullCode(ctx, ev, "boolean", "false")
    else {
      val bf = ctx.addReferenceObj("graftBloom", bloom,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      // The sketch child is a literal: its "evaluation" below is a
      // plan-reference load, not per-row work.
      nullSafeCodeGen(ctx, ev, (v, _) =>
        s"${ev.value} = $bf.mightContainLong((long) $v);")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(valueExpr = newLeft, sketchExpr = newRight)
}

/** Count–min point-frequency probe:
  * `graft_cms_estimate(item, sketch)` with `sketch` a foldable binary
  * (serialized CountMinSketch). Executor-side twin of the driver-side
  * `cms.estimateCount(item)` loop — the generic-cardinality shape: at
  * n distinct keys the comparison stays distributed instead of
  * collecting an n-row census to the driver. String items probe with
  * the same String overload the driver path used, so estimates are
  * bit-identical. */
case class GraftCmsEstimate(valueExpr: Expression, sketchExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = valueExpr
  override def right: Expression = sketchExpr
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (valueExpr.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cms_estimate expects a string item, got ${valueExpr.dataType}")
    else if (sketchExpr.dataType != BinaryType || !sketchExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_cms_estimate expects a foldable binary sketch argument")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val cms: org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = sketchExpr.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  // Probe with the UTF-8 BYTES, not a decoded String: the sketch
  // hashes string items as their UTF-8 bytes anyway
  // (CountMinSketchImpl.getHashBuckets(String) delegates to the byte[]
  // form), so getBytes hits the identical hash path without the
  // per-row UTF8String -> java.lang.String transcode.
  override def nullSafeEval(v: Any, ignoredSketch: Any): Any =
    cms.estimateCount(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (cms == null)
      GraftSketchCodegen.constantNullCode(ctx, ev, "long", "0L")
    else {
      val ref = ctx.addReferenceObj("graftCms", cms,
        classOf[org.apache.spark.util.sketch.CountMinSketch].getName)
      nullSafeCodeGen(ctx, ev, (v, _) =>
        s"${ev.value} = $ref.estimateCount($v.getBytes());")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(valueExpr = newLeft, sketchExpr = newRight)
}

/** Unicode NFC normalization: `graft_nfc(text)` (string → string) —
  * see [[Kernels.nfc]]. Null → null; quick-check-clean strings pass
  * through without allocation. */
case class GraftNfc(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nfc expects a string, got $dt")
    }

  override def nullSafeEval(text: Any): Any =
    Kernels.nfc(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Kernels.nfc($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Tokenizer apply: `graft_bpe_encode(text, merges)` — greedy BPE
  * segmentation (string → array<string> of subword tokens) against a
  * FOLDABLE array<string> merge table ("a b" pairs in rank order, in
  * practice `lit(bpeTrain(...).toArray)`). The table is parsed into a
  * [[BpeTable]] once per expression instance — on the driver at
  * codegen time, shipped as a plan reference like the bloom/CMS
  * sketches — so the per-row work is the pure [[Kernels.bpeEncode]]
  * merge loop, fully inside whole-stage codegen. Null text → null;
  * null merge table → null for every row. */
case class GraftBpeEncode(textExpr: Expression, mergesExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = textExpr
  override def right: Expression = mergesExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (textExpr.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode expects a string text, got ${textExpr.dataType}")
    else if (!mergesExpr.dataType.isInstanceOf[ArrayType] ||
        mergesExpr.dataType.asInstanceOf[ArrayType].elementType != StringType ||
        !mergesExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_encode expects a foldable array<string> merge table")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: BpeTable = {
    val arr = mergesExpr.eval(null).asInstanceOf[ArrayData]
    if (arr == null) null
    else {
      val n = arr.numElements()
      val merges = new Array[String](n)
      var i = 0
      while (i < n) { merges(i) = arr.getUTF8String(i).toString; i += 1 }
      new BpeTable(merges)
    }
  }

  override def nullSafeEval(t: Any, ignoredMerges: Any): Any =
    Kernels.bpeEncode(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (table == null)
      GraftSketchCodegen.constantNullCode(ctx, ev,
        "org.apache.spark.sql.catalyst.util.ArrayData", "null")
    else {
      val ref = ctx.addReferenceObj("graftBpe", table,
        classOf[BpeTable].getName)
      nullSafeCodeGen(ctx, ev, (t, _) =>
        s"${ev.value} = graft.functions.Kernels.bpeEncode($t, $ref);")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(textExpr = newLeft, mergesExpr = newRight)
}

/** Encode apply: `graft_pq_encode(vec, books, normalize)` — the
  * packed-BIGINT product-quantization code of one vector, the codegen
  * kernel twin of Pq's higher-order encode (which allocates k
  * intermediate arrays per subspace per row; the kernel allocates
  * nothing). `books` is a foldable m×k×sub array<array<array<double>>>
  * literal riding the plan — converted once per expression instance,
  * shipped to executors as a codegen reference object. `normalize`
  * is a foldable boolean: true applies the withUnit rule (IvfPq packs
  * RESIDUAL codes with false — the ADC decomposition is exact only in
  * the residual's own scale). Bit-equality with the HOF form is pinned
  * in x_kernel_equiv (in-engine) and KernelProps (property model). */
case class GraftPqEncode(vecExpr: Expression, booksExpr: Expression,
                         normExpr: Expression) extends TernaryExpression {

  override def first: Expression = vecExpr
  override def second: Expression = booksExpr
  override def third: Expression = normExpr
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def booksTypeOk: Boolean = booksExpr.dataType match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (GraftVecTypes.code(vecExpr) < 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode expects an array<tinyint|float|double> vector, got ${vecExpr.dataType}")
    else if (!booksTypeOk || !booksExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode expects a foldable array<array<array<double>>> codebook")
    else if (normExpr.dataType != BooleanType || !normExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode expects a foldable boolean normalize flag")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: PqBooksTable = {
    val arr = booksExpr.eval(null).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0) null
    else {
      val m = arr.numElements()
      val b0 = arr.getArray(0)
      val k = b0.numElements()
      val sub = if (k == 0) 0 else b0.getArray(0).numElements()
      if (k == 0 || sub == 0) null
      else {
        val flat = new Array[Double](m * k * sub)
        var j = 0
        var ok = true
        while (ok && j < m) {
          val book = arr.getArray(j)
          ok = book != null && book.numElements() == k
          var c = 0
          while (ok && c < k) {
            val cent = book.getArray(c)
            ok = cent != null && cent.numElements() == sub
            var i = 0
            while (ok && i < sub) {
              ok = !cent.isNullAt(i)
              if (ok) flat((j * k + c) * sub + i) = cent.getDouble(i)
              i += 1
            }
            c += 1
          }
          j += 1
        }
        if (ok) new PqBooksTable(flat, m, k, sub) else null
      }
    }
  }

  @transient private lazy val normalize: Boolean = {
    val v = normExpr.eval(null)
    v != null && v.asInstanceOf[Boolean]
  }

  override def nullSafeEval(v: Any, ignoredBooks: Any, ignoredNorm: Any): Any =
    if (table == null) null
    else Kernels.pqEncode(v.asInstanceOf[ArrayData], table,
      GraftVecTypes.code(vecExpr), normalize)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (table == null)
      GraftSketchCodegen.constantNullCode(ctx, ev, "long", "0L")
    else {
      val ref = ctx.addReferenceObj("graftPqBooks", table,
        classOf[PqBooksTable].getName)
      val vt = GraftVecTypes.code(vecExpr)
      val boxed = ctx.freshName("pqBoxed")
      nullSafeCodeGen(ctx, ev, (v, _, _) =>
        s"""
           |java.lang.Long $boxed =
           |  graft.functions.Kernels.pqEncode($v, $ref, $vt, $normalize);
           |if ($boxed == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $boxed.longValue(); }
         """.stripMargin)
    }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vecExpr = newFirst, booksExpr = newSecond, normExpr = newThird)
}

private[functions] object GraftSketchCodegen {
  /** Generated code for an always-null result of primitive `javaType`
    * (the null-sketch degenerate case of the probe expressions). */
  private[functions] def constantNullCode(
      ctx: CodegenContext, ev: ExprCode,
      javaType: String, zero: String): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
        |boolean ${ev.isNull} = true;
        |$javaType ${ev.value} = $zero;
      """.stripMargin)
  }
}

/** Unigram-LM tokenizer encode (string + foldable inventory →
  * array<string> pieces) — the SentencePiece-style sibling of
  * [[GraftBpeEncode]]: per-word integer-bit Viterbi inside whole-stage
  * codegen, the learned inventory riding the plan as one reference
  * object (Kernels.unigramEncode / UnigramTable). Registered as
  * `graft_unigram_encode`; trained by TextAnalysis.unigramTrain. */
case class GraftUnigramEncode(textExpr: Expression, piecesExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = textExpr
  override def right: Expression = piecesExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (textExpr.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_unigram_encode expects a string text, got ${textExpr.dataType}")
    else if (!piecesExpr.dataType.isInstanceOf[ArrayType] ||
        piecesExpr.dataType.asInstanceOf[ArrayType].elementType != StringType ||
        !piecesExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_unigram_encode expects a foldable array<string> piece inventory")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: UnigramTable = {
    val arr = piecesExpr.eval(null).asInstanceOf[ArrayData]
    if (arr == null) null
    else {
      val n = arr.numElements()
      val entries = new Array[String](n)
      var i = 0
      while (i < n) { entries(i) = arr.getUTF8String(i).toString; i += 1 }
      new UnigramTable(entries)
    }
  }

  override def nullSafeEval(t: Any, ignoredPieces: Any): Any =
    Kernels.unigramEncode(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (table == null)
      GraftSketchCodegen.constantNullCode(ctx, ev,
        "org.apache.spark.sql.catalyst.util.ArrayData", "null")
    else {
      val ref = ctx.addReferenceObj("graftUnigram", table,
        classOf[UnigramTable].getName)
      nullSafeCodeGen(ctx, ev, (t, _) =>
        s"${ev.value} = graft.functions.Kernels.unigramEncode($t, $ref);")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(textExpr = newLeft, piecesExpr = newRight)
}

/** Image-header dims (binary → struct<format string, width int,
  * height int>, null when undecodable) — the codegen'd expression path
  * of the multimodal two-path decode contract, backed by
  * [[Kernels.imageDims]] (PNG / JPEG / GIF header parsing, public
  * format knowledge, pure JVM). Registered as `graft_image_dims`;
  * Multimodal.decodeImageDimsBatched is the mapPartitions twin and
  * x_image_dims gates their parity as a hard per-row bit. */
case class GraftImageDims(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GraftImageDims.schema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_image_dims expects binary, got $dt")
    }

  override def nullSafeEval(payload: Any): Any =
    Kernels.imageDims(payload.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.Kernels.imageDims($v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftImageDims {
  /** The decode schema both paths share (fields are non-null INSIDE a
    * decoded struct; undecodable payloads null the whole struct). */
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
}

/** WAV audio-header metadata (binary → struct<format string, channels
  * int, sample_rate int, bits_per_sample int>, null when undecodable)
  * — the audio sibling of [[GraftImageDims]], backed by
  * [[Kernels.wavMeta]] (RIFF chunk scan to "fmt ", pure JVM).
  * Registered as `graft_wav_meta`; x_wav_meta gates it with in-plan
  * synthesized RIFF headers. */
case class GraftWavMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GraftWavMeta.schema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_wav_meta expects binary, got $dt")
    }

  override def nullSafeEval(payload: Any): Any =
    Kernels.wavMeta(payload.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.Kernels.wavMeta($v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftWavMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false)))
}

object GraftFunctionBuilders {

  private[functions] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val dotInfo = new ExpressionInfo(classOf[GraftDot].getName, "graft_dot")
  def dotBuilder(exprs: Seq[Expression]): Expression =
    GraftDot(exprs(0), exprs(1))

  val minhashInfo =
    new ExpressionInfo(classOf[GraftMinHashBands].getName, "graft_minhash_bands")
  def minhashBuilder(exprs: Seq[Expression]): Expression =
    GraftMinHashBands(exprs(0), intLit(exprs(1), "bands"),
      intLit(exprs(2), "rowsPerBand"))

  val shingleInfo =
    new ExpressionInfo(classOf[GraftShingleHashes].getName, "graft_shingle_hashes")
  def shingleBuilder(exprs: Seq[Expression]): Expression =
    GraftShingleHashes(exprs(0), intLit(exprs(1), "k"))

  val cosineInfo =
    new ExpressionInfo(classOf[GraftCosineSim].getName, "graft_cosine_sim")
  def cosineBuilder(exprs: Seq[Expression]): Expression =
    GraftCosineSim(exprs(0), exprs(1))

  val lshInfo =
    new ExpressionInfo(classOf[GraftLshBucket].getName, "graft_lsh_bucket")
  def lshBuilder(exprs: Seq[Expression]): Expression =
    GraftLshBucket(exprs(0), intLit(exprs(1), "bits"))

  val mightContainInfo =
    new ExpressionInfo(classOf[GraftMightContain].getName, "graft_might_contain")
  def mightContainBuilder(exprs: Seq[Expression]): Expression =
    GraftMightContain(exprs(0), exprs(1))

  val cmsEstimateInfo =
    new ExpressionInfo(classOf[GraftCmsEstimate].getName, "graft_cms_estimate")
  def cmsEstimateBuilder(exprs: Seq[Expression]): Expression =
    GraftCmsEstimate(exprs(0), exprs(1))

  val simhashInfo =
    new ExpressionInfo(classOf[GraftSimhash].getName, "graft_simhash")
  def simhashBuilder(exprs: Seq[Expression]): Expression =
    GraftSimhash(exprs(0))

  val ivfAdcScoresInfo =
    new ExpressionInfo(classOf[GraftIvfAdcScores].getName, "graft_ivfadc_scores")
  def ivfAdcScoresBuilder(exprs: Seq[Expression]): Expression =
    GraftIvfAdcScores(exprs(0), exprs(1), exprs(2))

  val ivfCosScoresInfo =
    new ExpressionInfo(classOf[GraftIvfCosScores].getName, "graft_ivf_cos_scores")
  def ivfCosScoresBuilder(exprs: Seq[Expression]): Expression =
    GraftIvfCosScores(exprs(0), exprs(1), exprs(2))

  val winnowInfo =
    new ExpressionInfo(classOf[GraftWinnow].getName, "graft_winnow")
  def winnowBuilder(exprs: Seq[Expression]): Expression =
    GraftWinnow(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "w"))

  val winnowPackedInfo =
    new ExpressionInfo(classOf[GraftWinnowPacked].getName, "graft_winnow_packed")
  def winnowPackedBuilder(exprs: Seq[Expression]): Expression =
    GraftWinnowPacked(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "w"))

  val bpeEncodeInfo =
    new ExpressionInfo(classOf[GraftBpeEncode].getName, "graft_bpe_encode")
  def bpeEncodeBuilder(exprs: Seq[Expression]): Expression =
    GraftBpeEncode(exprs(0), exprs(1))

  val nfcInfo = new ExpressionInfo(classOf[GraftNfc].getName, "graft_nfc")
  def nfcBuilder(exprs: Seq[Expression]): Expression = GraftNfc(exprs(0))

  val imageDimsInfo =
    new ExpressionInfo(classOf[GraftImageDims].getName, "graft_image_dims")
  def imageDimsBuilder(exprs: Seq[Expression]): Expression =
    GraftImageDims(exprs(0))

  val unigramEncodeInfo =
    new ExpressionInfo(classOf[GraftUnigramEncode].getName,
      "graft_unigram_encode")
  def unigramEncodeBuilder(exprs: Seq[Expression]): Expression =
    GraftUnigramEncode(exprs(0), exprs(1))

  val wavMetaInfo =
    new ExpressionInfo(classOf[GraftWavMeta].getName, "graft_wav_meta")
  def wavMetaBuilder(exprs: Seq[Expression]): Expression =
    GraftWavMeta(exprs(0))

  val pqEncodeInfo =
    new ExpressionInfo(classOf[GraftPqEncode].getName, "graft_pq_encode")
  def pqEncodeBuilder(exprs: Seq[Expression]): Expression =
    GraftPqEncode(exprs(0), exprs(1), exprs(2))
}
