package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §2.10/§7.3: formatMoney and the
  * similarity hot loop are the two spots worth a codegen'd Expression
  * instead of expression composition or a Scala UDF).
  *
  * Both expressions participate in whole-stage codegen via defineCodeGen —
  * the generated Java calls a static helper, so the hot loop runs without
  * boxing, virtual dispatch, or interpreted HOF machinery.
  */

/** X5 `cents_to_price` (app/api.py:61-64) as a native expression:
  * BIGINT cents -> "$D.CC". */
case class FormatMoney(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  // Strict LongType contract: SQL misuse (e.g. a DOUBLE price) must fail at
  // analysis instead of reinterpreting bytes at runtime. (AbstractDataType is
  // private[sql], so the result type is left inferred as Seq[DataType].)
  override def inputTypes = Seq[DataType](LongType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "format_money"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(FormatMoney.format(input.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        "graft.plans.FormatMoney$.MODULE$.format(" + c + "))")

  override protected def withNewChildInternal(newChild: Expression): FormatMoney =
    copy(child = newChild)
}

object FormatMoney {
  def format(cents: Long): String = {
    val sign = if (cents < 0) "-" else ""
    val a = math.abs(cents)
    sign + "$" + (a / 100) + "." + (if (a % 100 < 10) "0" else "") + (a % 100)
  }
}

/** Cosine similarity over two ARRAY<FLOAT> embeddings as one fused loop —
  * the ANN scoring hot path (vs. posexplode+join+aggregate, which is the
  * oracle-exact formulation: this one is the throughput kernel). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  // ARRAY<FLOAT> only: the kernel reads 4-byte strides via getFloat, so an
  // ARRAY<DOUBLE> input would silently produce garbage scores. Declaring the
  // contract turns that misuse into an AnalysisException.
  override def inputTypes = Seq[DataType](ArrayType(FloatType), ArrayType(FloatType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "graft.plans.CosineSim$.MODULE$.cosine(" + a + ", " + b + ")")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** One pass: dot + both norms; 0.0 when either vector is all-zero. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Distinct char-k-gram shingle SET in one codegen'd pass (hash-set dedupe).
  * Replaces the interpreted `transform(sequence(...), substr) |> array_distinct`
  * HOF chain in the Jaccard-verification hot path — the lambda machinery
  * there is interpreted per element and was the dominant cost of
  * near-dup verification (measured ~1.5s per evaluation over 3k docs at
  * sf0.1 vs milliseconds here). Semantics match Dedup.charShingles:
  * first-occurrence order, empty array for text shorter than k. */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "shingle length must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSet.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.ShingleSet$.MODULE$.shingles(" + c + ", " + k + ")")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  /** All distinct k-char substrings, first-occurrence order. One private
    * copy of the text plus one char-boundary pass ([[CharOffsets]]); every
    * element wraps a slice of that private copy, so held elements stay safe
    * when the input points into a reused codegen buffer — and the
    * per-position `UTF8String.substring` calls (each of which re-walks the
    * char prefix: O(n²) byte steps per document) are gone. Element values
    * and their first-occurrence order are identical. */
  def shingles(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val (offs, n) = CharOffsets.of(s)
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val bytes = CharOffsets.privateCopy(s)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + k <= n) {
      seen.add(UTF8String.fromBytes(bytes, offs(i), offs(i + k) - offs(i)))
      i += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Char-boundary byte offsets of a UTF8String, ONE linear pass.
  * `UTF8String.substring(i, j)` re-walks the char prefix on every call, so
  * a per-position substring loop is O(n²) byte steps per document — the
  * shingle/gram kernels slice [offs(i), offs(i+k)) off these offsets
  * instead. Boundary stepping uses the same numBytesForFirstByte logic as
  * substring, so slices are byte-identical on any input. */
private[plans] object CharOffsets {
  /** (offsets, nChars): offsets(c) = first byte of char c for c < nChars,
    * offsets(nChars) = numBytes. The array is sized numBytes+1 (chars <=
    * bytes); slots past nChars are unused. */
  def of(s: UTF8String): (Array[Int], Int) = {
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val offs = new Array[Int](nb + 1)
    var i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + i))
      c += 1
    }
    offs(c) = nb
    (offs, c)
  }

  /** A private heap copy of the string's bytes — safe to wrap slices of
    * even when the input points into a reused codegen buffer (getBytes may
    * return the SHARED underlying array when the string spans it exactly,
    * so it cannot be used for held elements). */
  def privateCopy(s: UTF8String): Array[Byte] = {
    val nb = s.numBytes()
    val bytes = new Array[Byte](nb)
    org.apache.spark.unsafe.Platform.copyMemory(
      s.getBaseObject, s.getBaseOffset,
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, nb)
    bytes
  }
}

/** Sorted distinct XXH64 hashes of the k-char shingles of `child` — the
  * verification-side representation of a shingle set. 8 bytes per element
  * (vs 9+ char UTF8Strings), pre-sorted so intersection is an allocation-
  * free merge instead of a per-pair hash-set build. Seed 42 = Spark's
  * builtin xxhash64, asserted equal in ExpressionsSpec. Hash collisions
  * would perturb a Jaccard count with probability ~|set|^2/2^64 per pair —
  * vanishingly unlikely and caught by the oracle hash-match. */
case class HashedShingleSet(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "shingle length must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    HashedShingleSet.hashedShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.HashedShingleSet$.MODULE$.hashedShingles(" + c + ", " + k + ")")

  override protected def withNewChildInternal(newChild: Expression): HashedShingleSet =
    copy(child = newChild)
}

object HashedShingleSet {
  /** One char-boundary pass ([[CharOffsets]]), each shingle XXH64-hashed in
    * place off the input's own bytes, then sort + in-place dedupe of a
    * primitive long array. Replaces a per-position substring loop (O(n²)
    * prefix re-walks + one 9-char copy per shingle) feeding a boxing
    * HashSet<Long> — same hash values (same byte spans, same seed), and
    * sorted-distinct output is order-canonical, so results are identical. */
  def hashedShingles(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val (offs, n) = CharOffsets.of(s)
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + offs(i), offs(i + k) - offs(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** Sorted distinct XXH64 hashes (seed 42, Spark's builtin xxhash64) of the
  * word n-grams of a SINGLE-SPACE-tokenized text, in one zero-copy pass.
  *
  * With single-space separation the gram "w1 w2 w3 w4" is a contiguous byte
  * span of the input, so each gram hashes in place — no split allocation,
  * no per-gram string build, no interpreted higher-order chain, and the
  * value equals xxhash64 of `concat_ws(' ', slice(split(text,' '), i, n))`.
  * Word boundaries are byte 0x20, which never occurs in UTF-8 continuation
  * bytes, so multi-byte text is handled correctly. Texts with consecutive
  * / leading / trailing spaces deviate from the split-based formulation
  * (split yields empty tokens there); the engine's corpus contract is
  * single-spaced normalized text (see TextClean).
  */
case class WordGramHashSet(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordGramHashSet.grams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.WordGramHashSet$.MODULE$.grams(" + c + ", " + n + ")")

  override protected def withNewChildInternal(newChild: Expression): WordGramHashSet =
    copy(child = newChild)
}
object WordGramHashSet {
  def grams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = s.numBytes()
    if (len == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // word start byte-offsets (single-space separated: starts follow 0x20)
    var nWords = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    if (nWords < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(w) = i + 1; w += 1
      }
      i += 1
    }
    starts(nWords) = len + 1 // sentinel: "space" one past the end
    val seen = new java.util.HashSet[java.lang.Long]()
    var g = 0
    while (g + n <= nWords) {
      val from = starts(g)
      val until = starts(g + n) - 1 // drop the trailing separator
      seen.add(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + from, until - from, 42L))
      g += 1
    }
    val arr = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next().longValue(); j += 1 }
    java.util.Arrays.sort(arr)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Intersection size of two SORTED long arrays as one merge pass — no
  * per-pair hash-set build, no allocation. The Jaccard-verification inner
  * loop over candidate pairs. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(LongType), ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "graft.plans.SortedIntersectCount$.MODULE$.count(" + a + ", " + b + ")")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** [[SortedIntersectCount]] specialized for callers that keep only pairs
  * whose Jaccard `common / (na + nb - common)` reaches `threshold`: the
  * merge stops as soon as the remaining elements can no longer lift the
  * count to the smallest value that passes that filter. The minimum
  * passing count is found with the SAME double division the downstream
  * filter evaluates, and IEEE division is monotone in the count, so the
  * early exit can never drop a pair the filter would keep. The returned
  * count is EXACT whenever the pair passes the filter (while the true
  * count is still reachable, every remaining common element is inside
  * both remainders, so the bound never fires on a passing pair); for a
  * failing pair it may be any smaller — still failing — value. ONLY
  * sound immediately upstream of that filter. LSH candidate
  * verification is >99.9% failing pairs at scale (sf1 incremental
  * dedup: 8.15M candidates, 1.1k passes), which this turns from full
  * O(na+nb) merges into bounded prefix scans. */
case class SortedIntersectCountAtLeast(left: Expression, right: Expression,
                                       threshold: Double)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(LongType), ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count_at_least"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCountAtLeast.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "graft.plans.SortedIntersectCountAtLeast$.MODULE$.count(" + a + ", " + b +
        ", " + java.lang.Double.toString(threshold) + "D)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCountAtLeast =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCountAtLeast {
  def count(a: ArrayData, b: ArrayData, t: Double): Long = {
    val na = a.numElements(); val nb = b.numElements()
    // smallest count whose Jaccard passes `c / (na + nb - c) >= t` under
    // the downstream filter's own double arithmetic (monotone in c, so
    // binary search is sound); min(na, nb) + 1 = no reachable count passes
    var lo = 0L; var hi = math.min(na, nb).toLong + 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (mid.toDouble / (na.toLong + nb - mid).toDouble >= t) hi = mid
      else lo = mid + 1
    }
    val cMin = lo
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      if (c + math.min(na - i, nb - j) < cMin) return c
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
  * as ONE per-row pass: k-gram md5 prefixes, sliding-window minima via a
  * monotonic deque (O(n)), distinct minima out. Winnowing is per-document,
  * so the declarative explode+window formulation — which shuffles and
  * sorts one row PER GRAM (30M rows at sf0.1) just to compute a per-doc
  * value — wastes a full sort; this expression keeps the whole algorithm
  * inside the projection. Hashes are `substr(md5(gram),1,8)` exactly
  * (first 4 digest bytes, lower-hex), so results match the SQL oracle
  * bit-for-bit; minima compare lexicographically on hex = unsigned on the
  * 32-bit value. Documents with no full window yield an empty array. */
case class WinnowingFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && w >= 1, "need gram length k >= 1 and window w >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnowing_fps"

  override protected def nullSafeEval(input: Any): Any =
    WinnowingFps.fps(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.WinnowingFps$.MODULE$.fps(" + c + ", " + k + ", " + w + ")")

  override protected def withNewChildInternal(newChild: Expression): WinnowingFps =
    copy(child = newChild)
}

object WinnowingFps {
  private val hexDigits = "0123456789abcdef".toCharArray

  def fps(s: UTF8String, k: Int, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = s.numChars()
    val m = n - k + 1                       // number of grams
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (m < w) return empty                 // no full window
    // one private byte copy + char offsets (see CharOffsets: per-position
    // substring would re-walk the prefix per gram, O(n²) per document);
    // each gram md5s its span in place, the digest lands in a reused buffer
    val offs = CharOffsets.of(s)._1
    val bytes = CharOffsets.privateCopy(s)
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = new Array[Byte](16)
    val hashes = new Array[Int](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      md.digest(d, 0, 16)
      hashes(i) = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
        ((d(2) & 0xff) << 8) | (d(3) & 0xff)
      i += 1
    }
    // monotonic deque of indices; front = min of the current window
    // (unsigned compare = lexicographic on the hex rendering)
    val deque = new Array[Int](m)
    var head = 0; var tail = 0              // [head, tail)
    val seen = new java.util.LinkedHashSet[Integer]()
    i = 0
    while (i < m) {
      while (tail > head &&
        java.lang.Integer.compareUnsigned(hashes(deque(tail - 1)), hashes(i)) >= 0) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      val v = it.next().intValue()
      val cs = new Array[Char](8)
      var b = 0
      while (b < 8) { cs(b) = hexDigits((v >>> ((7 - b) * 4)) & 0xf); b += 1 }
      out(j) = UTF8String.fromString(new String(cs))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Portable 63-bit SimHash signature (Charikar 2002) in ONE per-row pass.
  * Bit semantics identical to TextAnalysis.simhash64 and the SQL oracle:
  * tokens split on single spaces (empties kept, like Spark's split with
  * limit -1); bit b of the low word is the majority vote of md5(token)'s
  * b-th hex char >= '8' (= that nibble's high bit), the 31 high-word bits
  * use the salted md5("x:"+token). Replaces an explode + 64-column
  * partial aggregation (one row per token, 63 sums each) with a fused
  * per-document loop — signatures become a map-only projection. */
case class SimhashSig(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    SimhashSig.sig(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "graft.plans.SimhashSig$.MODULE$.sig(" + c + ")")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

object SimhashSig {
  private val saltBytes = "x:".getBytes("UTF-8")

  def sig(s: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counters = new Array[Int](63)
    // a space byte (0x20) never occurs inside a UTF-8 multi-byte sequence,
    // so byte scanning splits exactly like character scanning
    val bytes = s.getBytes
    var n = 0
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        n += 1
        md.reset()
        md.update(bytes, start, i - start)
        tally(md.digest(), counters, 0, 32)
        md.reset()
        md.update(saltBytes)
        md.update(bytes, start, i - start)
        tally(md.digest(), counters, 32, 31)
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) { if (counters(j) * 2 > n) sig |= 1L << j; j += 1 }
    j = 0
    while (j < 31) { if (counters(32 + j) * 2 > n) sig |= 1L << (32 + j); j += 1 }
    sig
  }

  /** Count high nibble-bits of the first `bits` hex chars of the digest
    * (hex char b >= '8' == nibble b's top bit set). */
  private def tally(d: Array[Byte], counters: Array[Int], off: Int, bits: Int): Unit = {
    var b = 0
    while (b < bits) {
      val by = d(b >> 1) & 0xff
      val nib = if ((b & 1) == 0) by >>> 4 else by & 0xf
      if (nib >= 8) counters(off + b) += 1
      b += 1
    }
  }
}

/** All Gopher-gate word statistics of a SINGLE-SPACE-tokenized text in
  * ONE in-row pass: token count, non-space char count, exact distinct
  * token count, short-token (< 3 chars) count, stopword occurrences —
  * the five COUNTS behind TextAnalysis.qualityGates. Tokenization is
  * `split(text, " ")` with empties kept (consecutive/leading/trailing
  * spaces and the empty string each yield empty tokens), identical to
  * the HOF formulation and the SQL oracles; distinctness is exact string
  * equality over a per-row hash set, never a hash-only approximation.
  * Only counts are produced — the gate's ratio arithmetic stays in the
  * Column layer, so the doubles are bit-identical to the previous
  * size(filter(...)) chains. Replaces FIVE interpreted CodegenFallback
  * higher-order chains (filter/transform/array_distinct re-enter the
  * interpreter per element) with one fused codegen'd loop — the last
  * interpreted hot path in the corpus-scan family. */
case class GateStatsExpr(child: Expression, stop: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = GateStatsExpr.schema
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gate_stats"

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stop.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    GateStatsExpr.stats(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("gateStops", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      "graft.plans.GateStatsExpr$.MODULE$.stats(" + c + ", " + s + ")")
  }

  override protected def withNewChildInternal(newChild: Expression): GateStatsExpr =
    copy(child = newChild)
}
object GateStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars_nospace", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_short", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  def stats(s: UTF8String,
            stop: java.util.HashSet[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    val distinct = new java.util.HashSet[UTF8String]()
    var nWords = 0L
    var nChars = 0L
    var nShort = 0L
    var nStop = 0L
    var start = 0
    var i = 0
    // a space byte (0x20) never occurs inside a UTF-8 multi-byte
    // sequence, so byte scanning splits exactly like character scanning
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        val cl = tok.numChars()
        nWords += 1
        nChars += cl
        if (cl < 3) nShort += 1
        if (stop.contains(tok)) nStop += 1
        distinct.add(tok)
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nChars, distinct.size.toLong, nShort, nStop))
  }
}

/** Per-document hashed-BIGRAM bucket-score sum in ONE in-row pass: the
  * scoring half of a 256-bucket hashed-feature model (DSIR preference,
  * or any per-bucket quantized score table) fused into a single scan.
  * Tokenization is `split(text, " ")` with empties kept; feature f_i is
  * the bigram "tok_i tok_{i+1}" (concat_ws " ") — which, because
  * consecutive tokens are separated by exactly one space byte, is the
  * CONTIGUOUS byte span from tok_i's start to tok_{i+1}'s end, hashed
  * in place with zero copying. bucket = first md5 byte unsigned
  * (= conv(substr(md5(bg),1,2),16,10), the md5Bucket contract) and the
  * per-occurrence contribution is scoreQ(bucket), an integer the caller
  * pre-quantized (floor(score*1e6+0.5)) so the sum is exact and
  * order-independent. Returns (n_feats, qsum) — (0, 0) when the text
  * has fewer than two tokens.
  *
  * This is the 100 TB scoring shape: the exploded formulation shuffles
  * one row per bigram occurrence into a broadcast-join + per-doc
  * aggregation; this kernel makes model scoring a map-only projection —
  * zero shuffle, zero join — off a constant-size (256-long) model
  * artifact carried as a plan reference. */
case class BigramBucketScore(child: Expression, scoreQ: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(scoreQ.length == 256, s"scoreQ must hold 256 buckets, got ${scoreQ.length}")
  override def dataType: DataType = BigramBucketScore.schema
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bigram_bucket_score"

  @transient private lazy val scoreArr: Array[Long] = scoreQ.toArray

  override protected def nullSafeEval(input: Any): Any =
    BigramBucketScore.score(input.asInstanceOf[UTF8String], scoreArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("bigramScoreQ", scoreArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      "graft.plans.BigramBucketScore$.MODULE$.score(" + c + ", " + arr + ")")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramBucketScore =
    copy(child = newChild)
}
/** Per-document hashed-UNIGRAM bucket-score sum in ONE in-row pass — the
  * [[BigramBucketScore]] shape for per-TOKEN features (the fastText-style
  * hashed-BoW scorer, TextAnalysis.hashedBowScore): tokenization is
  * `split(text, " ")` with empties kept, bucket = first md5 byte unsigned
  * (the md5Bucket contract), and the per-token contribution is
  * scoreQ(bucket) — an integer weight, summed exactly. Returns
  * (n_toks, wsum). Replaces the token explode + broadcast weight join +
  * per-doc aggregation: map-only projection, zero shuffle, zero
  * per-token hex-string allocation (r16, guide §5/codegen). */
case class UnigramBucketScore(child: Expression, scoreQ: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(scoreQ.length == 256, s"scoreQ must hold 256 buckets, got ${scoreQ.length}")
  override def dataType: DataType = UnigramBucketScore.schema
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unigram_bucket_score"

  @transient private lazy val scoreArr: Array[Long] = scoreQ.toArray

  override protected def nullSafeEval(input: Any): Any =
    UnigramBucketScore.score(input.asInstanceOf[UTF8String], scoreArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("unigramScoreQ", scoreArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      "graft.plans.UnigramBucketScore$.MODULE$.score(" + c + ", " + arr + ")")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramBucketScore =
    copy(child = newChild)
}
object UnigramBucketScore {
  val schema: StructType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("wsum", LongType, nullable = false)))

  def score(s: UTF8String, scoreQ: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    var nToks = 0L
    var wsum = 0L
    var start = 0
    var i = 0
    // split on every 0x20 byte, empties kept (a space never occurs inside
    // a UTF-8 multi-byte sequence) — one token per [start, end) span
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, start, i - start)
        wsum += scoreQ(md.digest()(0) & 0xff)
        nToks += 1L
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nToks, wsum))
  }
}

object BigramBucketScore {
  val schema: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("qsum", LongType, nullable = false)))

  def score(s: UTF8String, scoreQ: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    // token start offsets (split on every 0x20 byte, empties kept — a
    // space never occurs inside a UTF-8 multi-byte sequence)
    var nToks = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nToks += 1; i += 1 }
    var nFeats = 0L
    var qsum = 0L
    if (nToks >= 2) {
      val starts = new Array[Int](nToks + 1)
      starts(0) = 0
      var t = 1
      i = 0
      while (i < len) {
        if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
        i += 1
      }
      starts(nToks) = len + 1 // sentinel: end(tok_j) = starts(j+1) - 1
      val md = java.security.MessageDigest.getInstance("MD5")
      var p = 0
      while (p < nToks - 1) {
        val b0 = starts(p)
        val b1 = starts(p + 2) - 1 // end of tok_{p+1}
        md.reset()
        md.update(bytes, b0, b1 - b0)
        val bucket = md.digest()(0) & 0xff
        qsum += scoreQ(bucket)
        nFeats += 1L
        p += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nFeats, qsum))
  }
}

/** All MinHash signature slots of a text's char-k-shingle set in ONE
  * in-row pass: slot s (0..7) is the minimum over shingles of hex chars
  * [(s%4)*8, (s%4)*8+8) of md5(shingle) (s < 4) / md5("x:"+shingle)
  * (s >= 4) — values identical to the exploded formulation
  * `MIN(substr(md5(g), (s%4)*8+1, 8))` in Dedup.minhashSignatures and
  * the SQL oracles (8 fixed-width lowercase-hex strings compare
  * lexicographically exactly as their unsigned 32-bit values, so the min
  * tracks as an int). Shingles are CHARACTER windows (UTF-8 char starts
  * are the bytes not matching 10xxxxxx), matching `substr(text, i, k)`;
  * min over the multiset equals min over the distinct set, so no
  * de-duplication pass is needed. Returns an EMPTY array when the text
  * has fewer than k chars (the no-shingle case shingleRows filters out).
  *
  * This is the 100 TB signing shape: the exploded formulation shuffles
  * one (doc_id, 2x32-hex) row per shingle OCCURRENCE (~20x the corpus
  * bytes) into a per-doc min aggregation; this kernel makes signing a
  * map-only projection — zero shuffle — so LSH banding, incremental
  * index signing, and the curation sink all scan-and-emit. */
case class MinhashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSigExpr.sig(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.MinhashSigExpr$.MODULE$.sig(" + c + ", " + k + ")")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}
object MinhashSigExpr {
  private val saltBytes = "x:".getBytes("UTF-8")
  private val hexDigits = "0123456789abcdef".toCharArray
  private val empty =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  def sig(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // char-start byte offsets (a UTF-8 char starts at every byte that is
    // not a continuation byte 10xxxxxx), sentinel = len
    var numChars = 0
    var i = 0
    while (i < len) { if ((bytes(i) & 0xc0) != 0x80) numChars += 1; i += 1 }
    if (numChars < k) return empty
    val starts = new Array[Int](numChars + 1)
    var c = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    starts(numChars) = len
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(8)(0xffffffffL)
    var p = 0
    while (p <= numChars - k) {
      val b0 = starts(p)
      val nb = starts(p + k) - b0
      md.reset()
      md.update(bytes, b0, nb)
      tallyMins(md.digest(), mins, 0)
      md.reset()
      md.update(saltBytes)
      md.update(bytes, b0, nb)
      tallyMins(md.digest(), mins, 4)
      p += 1
    }
    val out = new Array[Any](8)
    var j = 0
    while (j < 8) {
      val v = mins(j)
      val cs = new Array[Char](8)
      var b = 0
      while (b < 8) { cs(b) = hexDigits(((v >>> ((7 - b) * 4)) & 0xf).toInt); b += 1 }
      out(j) = UTF8String.fromString(new String(cs))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Track the 4 slot minimums of one digest: slot j covers digest bytes
    * [4j, 4j+4) read big-endian as an unsigned 32-bit value — identical
    * ordering to the lexicographic min over the hex substring. */
  private def tallyMins(d: Array[Byte], mins: Array[Long], off: Int): Unit = {
    var j = 0
    while (j < 4) {
      val v = ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
        ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)
      if (v < mins(off + j)) mins(off + j) = v
      j += 1
    }
  }
}

/** Every word n-gram of a SINGLE-SPACE-tokenized text as (pos, h) structs:
  * pos = 0-based index of the gram's first word, h = XXH64 (seed 42 =
  * Spark's builtin xxhash64) of the gram's contiguous byte span. The
  * position-carrying sibling of WordGramHashSet (which is distinct +
  * sorted, for set semantics): this one keeps EVERY occurrence in order,
  * so a consumer can map matched grams back onto word positions — the
  * representation hot-span scrubbing needs. Same single-space corpus
  * contract and zero-copy in-place hashing as WordGramHashSet.
  */
case class WordGramPosHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_gram_pos_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordGramPosHashes.grams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.WordGramPosHashes$.MODULE$.grams(" + c + ", " + n + ")")

  override protected def withNewChildInternal(newChild: Expression): WordGramPosHashes =
    copy(child = newChild)
}
object WordGramPosHashes {
  def grams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = s.numBytes()
    if (len == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var nWords = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    if (nWords < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(w) = i + 1; w += 1
      }
      i += 1
    }
    starts(nWords) = len + 1 // sentinel: "space" one past the end
    val out = new Array[Any](nWords - n + 1)
    var g = 0
    while (g + n <= nWords) {
      val from = starts(g)
      val until = starts(g + n) - 1 // drop the trailing separator
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + from, until - from, 42L)
      out(g) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](g, h))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Every adjacent word pair of a text as (h1, h2) hash structs in ONE
  * zero-copy in-row pass — the bigram-LM extraction
  * (TextAnalysis.bigramFluencyFromModel / bigramLmModel) without the
  * interpreted `zip_with(slice, slice, struct)` chain (ZipWith is
  * CodegenFallback: two GenericArrayData token copies plus a lambda frame
  * per pair) and without materializing any token string:
  *   h1 = xxhash64(w_i)         = XXH64(bytes(w_i), 42)
  *   h2 = xxhash64(w_i, w_i+1)  = XXH64(bytes(w_i+1), h1)
  * (Spark's multi-arg xxhash64 folds each argument with the running hash
  * as seed — asserted equal to the builtin in ExpressionsSpec.)
  * Tokenization is `split(text, " ")` with empties kept: boundaries are
  * every 0x20 byte (never a UTF-8 continuation byte), and each token
  * hashes in place off the input's own bytes. Texts with fewer than two
  * tokens yield an empty array (explode drops them — the join semantics
  * the scorer documents). */
case class WordBigramHashPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))), containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_bigram_hash_pairs"

  override protected def nullSafeEval(input: Any): Any =
    WordBigramHashPairs.pairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.WordBigramHashPairs$.MODULE$.pairs(" + c + ")")

  override protected def withNewChildInternal(newChild: Expression): WordBigramHashPairs =
    copy(child = newChild)
}
object WordBigramHashPairs {
  def pairs(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var nWords = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    if (nWords < 2) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(w) = i + 1; w += 1
      }
      i += 1
    }
    starts(nWords) = len + 1 // sentinel: end(tok_j) = starts(j+1) - 1
    val out = new Array[Any](nWords - 1)
    // h1 of token p is also the chain seed for pair p's h2, so each token
    // hashes exactly once as w1; w2 hashes under the pair's own seed.
    var p = 0
    while (p < nWords - 1) {
      val w1from = starts(p)
      val w1until = starts(p + 1) - 1
      val w2from = starts(p + 1)
      val w2until = starts(p + 2) - 1
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + w1from, w1until - w1from, 42L)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + w2from, w2until - w2from, h1)
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h1, h2))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Drop every word covered by an n-word span starting at any index in
  * `starts` (sorted ascending, 0-based word indices), rejoining survivors
  * with single spaces — the rebuild half of hot-span scrubbing. One merged
  * O(words + starts) pass: a cursor over the sorted starts maintains the
  * current coverage horizon, so no per-word scan of the span list (the
  * equivalent `filter(words, (w,i) -> !exists(starts, ...))` HOF chain is
  * interpreted per element AND quadratic in spans). Fully covered text
  * yields the empty string, matching `concat_ws` on an empty array. */
case class ScrubSpans(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(n >= 1, "span width must be >= 1")
  override def dataType: DataType = StringType
  override def inputTypes = Seq[DataType](StringType, ArrayType(IntegerType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "scrub_spans"

  override protected def nullSafeEval(text: Any, starts: Any): Any =
    ScrubSpans.scrub(text.asInstanceOf[UTF8String], starts.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, st) =>
      "graft.plans.ScrubSpans$.MODULE$.scrub(" + t + ", " + st + ", " + n + ")")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ScrubSpans =
    copy(left = newLeft, right = newRight)
}
object ScrubSpans {
  def scrub(s: UTF8String, starts: ArrayData, n: Int): UTF8String = {
    val ns = starts.numElements()
    if (ns == 0) return s
    val len = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[Byte](len)
    var outLen = 0
    var wordIdx = 0
    var wordStart = 0
    var ptr = 0
    var coverEnd = 0 // word indices < coverEnd are covered by a seen span
    var i = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        while (ptr < ns && starts.getInt(ptr) <= wordIdx) {
          val e = starts.getInt(ptr) + n
          if (e > coverEnd) coverEnd = e
          ptr += 1
        }
        if (wordIdx >= coverEnd) {
          if (outLen > 0) { out(outLen) = ' '; outLen += 1 }
          val w = i - wordStart
          org.apache.spark.unsafe.Platform.copyMemory(base, off + wordStart,
            out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + outLen, w)
          outLen += w
        }
        wordIdx += 1
        wordStart = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, outLen)
  }
}

/** Unicode NFC normalization (java.text.Normalizer) as a native
  * expression — Spark ships no normalization builtin, yet mixed-form text
  * (decomposed "e" + U+0301 vs composed U+00E9) breaks exact dedup,
  * shingling, and token equality. Run BEFORE any hashing/fingerprint
  * stage; NFC is idempotent, so re-normalizing committed data is safe. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "graft.plans.NfcNormalize$.MODULE$.nfc(" + c + ")")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}
object NfcNormalize {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: NFC-normalized already (the overwhelmingly common case) —
    // skip the rebuild and return the input buffer untouched
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Accent/diacritic stripping: NFD-decompose, drop combining marks
  * (\\p{M}), keep everything else — "café" -> "cafe", "naïve" -> "naive".
  * The classic search/dedup folding step; pairs with lower() for
  * accent-insensitive matching. */
case class StripAccents(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "strip_accents"

  override protected def nullSafeEval(input: Any): Any =
    StripAccents.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "graft.plans.StripAccents$.MODULE$.strip(" + c + ")")

  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
}
object StripAccents {
  def strip(s: UTF8String): UTF8String = {
    val str = s.toString
    var hasNonAscii = false
    var i = 0
    while (i < str.length && !hasNonAscii) {
      if (str.charAt(i) >= 0x80) hasNonAscii = true
      i += 1
    }
    if (!hasNonAscii) return s // ASCII never decomposes
    val d = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
        t != Character.ENCLOSING_MARK) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

/** DISTINCT word n-grams of a SINGLE-SPACE-tokenized text as STRINGS, in
  * one pass: word boundaries located once, each gram materialized as a
  * copy of its contiguous byte span (words joined by the single spaces
  * already between them), deduped via hash set in first-occurrence order.
  * The string-keyed sibling of WordGramHashSet — for consumers whose gram
  * derivation must stay oracle-visible (e.g. the bloom filter md5-hashes
  * gram TEXT, so the oracle can rebuild identical bits; a 64-bit
  * xxhash would be opaque). Replaces the `transform(sequence(...),
  * concat_ws(element_at...)) |> array_distinct` HOF chain, which Catalyst
  * evaluates as CodegenFallback — per-element interpreter re-entry that
  * dominated the decontamination scan. Texts with fewer than n words
  * yield an empty array (matching the oracle's range() guard). */
case class WordGramSet(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_gram_set"

  override protected def nullSafeEval(input: Any): Any =
    WordGramSet.grams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.WordGramSet$.MODULE$.grams(" + c + ", " + n + ")")

  override protected def withNewChildInternal(newChild: Expression): WordGramSet =
    copy(child = newChild)
}
object WordGramSet {
  def grams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var nWords = if (len == 0) 0 else 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    if (nWords < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(w) = i + 1; w += 1
      }
      i += 1
    }
    starts(nWords) = len + 1 // sentinel: "space" one past the end
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var g = 0
    while (g + n <= nWords) {
      val from = starts(g)
      val until = starts(g + n) - 1 // drop the trailing separator
      // copy out of the (possibly reused) codegen buffer before holding
      val bytes = new Array[Byte](until - from)
      org.apache.spark.unsafe.Platform.copyMemory(base, off + from, bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, until - from)
      seen.add(UTF8String.fromBytes(bytes))
      g += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Per-document bloom-filter hit count over an ARRAY<STRING> of grams, in
  * ONE codegen'd loop: for each gram, k md5-derived bit positions
  * ("i:gram" digest, first 48 bits mod mBits — byte-identical to
  * Sketches.bloomPosition / the DuckDB oracle's hex parse) are tested
  * against the PACKED filter words (62 bits per long), and the count of
  * grams with all k bits set is returned. The filter rides the expression
  * as a plan constant (mBits/62 longs — 4 KB at mBits=31744), so the
  * corpus scan stays map-only with zero fan-out: no per-gram explode, no
  * join, no shuffle, no interpreted-HOF lambda machinery (the
  * `aggregate(gs, ...)` formulation is CodegenFallback and re-enters the
  * interpreter per element — measured 7.6s vs sub-second here on the
  * sf0.1 decontamination query). */
case class BloomGramHits(child: Expression, words: Seq[Long], mBits: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(mBits > 0 && words.length.toLong * 62 == mBits,
    s"words must pack exactly mBits=$mBits bits at 62/long, got ${words.length} longs")
  require(k >= 1 && k <= 16, s"k hash functions must be in [1,16], got $k")
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_gram_hits"

  private lazy val wordsArr: Array[Long] = words.toArray

  override protected def nullSafeEval(input: Any): Any =
    BloomGramHits.count(input.asInstanceOf[ArrayData], wordsArr, mBits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", wordsArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      "graft.plans.BloomGramHits$.MODULE$.count(" + c + ", " + ref + ", " + mBits + ", " + k + ")")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomGramHits =
    copy(child = newChild)
}
object BloomGramHits {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  // "0:".."15:" hash-index prefixes, pre-encoded once
  private val Prefixes: Array[Array[Byte]] =
    Array.tabulate(16)(i => (i.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def count(gs: ArrayData, words: Array[Long], mBits: Int, k: Int): Long = {
    val digest = md5.get()
    val n = gs.numElements()
    var cnt = 0L
    var gi = 0
    while (gi < n) {
      val gramBytes = gs.getUTF8String(gi).getBytes
      var all = true
      var i = 0
      while (all && i < k) {
        digest.update(Prefixes(i))
        digest.update(gramBytes)
        val d = digest.digest() // resets for the next round
        val p = ((((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
          ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)) % mBits).toInt
        all = ((words(p / 62) >>> (p % 62)) & 1L) == 1L
        i += 1
      }
      if (all) cnt += 1
      gi += 1
    }
    cnt
  }
}

/** 1-based word positions whose md5 leads with `nibbles` zero hex chars —
  * the content-defined chunk boundaries of a SINGLE-SPACE-tokenized text
  * (TextAnalysis.cdcChunks). Byte-for-byte the engine-portable definition
  * the DuckDB oracle computes (`substr(md5(word), 1, n) = '0'*n`): MD5 of
  * each word's UTF-8 bytes, leading nibbles of digest byte 0, 1, ... The
  * interpreted-HOF formulation (filter over an indexed transform with an
  * md5 call per element) measured ~4x slower per corpus pass; this is one
  * zero-branch scan with a thread-local digest. Word semantics match
  * split(text, ' ') exactly, including empty words from consecutive /
  * leading / trailing separators and the single empty word of "".
  */
case class CdcBoundaries(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 8, "boundary nibbles in [1,8]")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_boundaries"

  override protected def nullSafeEval(input: Any): Any =
    CdcBoundaries.boundaries(input.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.CdcBoundaries$.MODULE$.boundaries(" + c + ", " + nibbles + ")")

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}
object CdcBoundaries {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def boundaries(s: UTF8String, nibbles: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val md = digest.get()
    val res = new scala.collection.mutable.ArrayBuffer[Int]()
    var w = 1
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        var ok = true
        var k = 0
        while (ok && k < nibbles) {
          val nib = if (k % 2 == 0) (d(k / 2) >> 4) & 0xF else d(k / 2) & 0xF
          ok = nib == 0
          k += 1
        }
        if (ok) res += w
        w += 1
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res.toArray)
  }
}

/** Sorted DISTINCT md5 hex digests of a text's content-defined chunks —
  * the whole per-document half of CDC chunk-overlap dedup fused into one
  * scan: boundary words (md5 leading `nibbles` zero nibbles, exactly
  * CdcBoundaries' test) close chunks, and with single-space tokenization
  * every chunk is a CONTIGUOUS byte span of the input, so each chunk
  * hashes in place — no split, no slice+join string rebuilds, no
  * corpus-wide DISTINCT exchange afterwards (the set is distinct in-row).
  * Digests are lowercase hex, byte-identical to the oracle's
  * `md5(array_to_string(ws[s:e], ' '))` under the single-space corpus
  * contract (same caveat as WordGramHashSet for abnormal spacing).
  */
case class CdcChunkHashSet(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 8, "boundary nibbles in [1,8]")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq[DataType](StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_chunk_hash_set"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunkHashSet.chunkHashes(input.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.CdcChunkHashSet$.MODULE$.chunkHashes(" + c + ", " + nibbles + ")")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkHashSet =
    copy(child = newChild)
}
object CdcChunkHashSet {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray
  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xF)
      out(2 * i + 1) = hexChars(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }
  def chunkHashes(s: UTF8String, nibbles: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val md = digest.get()
    val seen = new java.util.TreeSet[String]()
    var chunkStart = 0
    var wordStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        // word [wordStart, i): boundary test = CdcBoundaries' nibble check
        md.reset()
        md.update(bytes, wordStart, i - wordStart)
        val d = md.digest()
        var isBoundary = true
        var k = 0
        while (isBoundary && k < nibbles) {
          val nib = if (k % 2 == 0) (d(k / 2) >> 4) & 0xF else d(k / 2) & 0xF
          isBoundary = nib == 0
          k += 1
        }
        if (isBoundary || i == len) {
          // close chunk [chunkStart, i) — the contiguous span through the
          // boundary word (or the final partial span at end of text). A
          // text ending ON a boundary closes exactly once here and the
          // loop then ends, which is precisely the span-assembly
          // formulation's dropped empty trailing span.
          md.reset()
          md.update(bytes, chunkStart, i - chunkStart)
          seen.add(hex(md.digest()))
          chunkStart = i + 1
        }
        wordStart = i + 1
      }
      i += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Column wrappers + SQL registration for the native expressions. */
object GraftFunctions {
  def format_money(c: Column): Column = ColumnBridge.column(FormatMoney(ColumnBridge.expression(c)))
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def word_gram_hashes(c: Column, n: Int): Column =
    ColumnBridge.column(WordGramHashSet(ColumnBridge.expression(c), n))
  def minhash_sig(c: Column, k: Int): Column =
    ColumnBridge.column(MinhashSigExpr(ColumnBridge.expression(c), k))
  def gate_stats(c: Column, stop: Seq[String]): Column =
    ColumnBridge.column(GateStatsExpr(ColumnBridge.expression(c), stop))
  def bigram_bucket_score(c: Column, scoreQ: Seq[Long]): Column =
    ColumnBridge.column(BigramBucketScore(ColumnBridge.expression(c), scoreQ))
  def unigram_bucket_score(c: Column, scoreQ: Seq[Long]): Column =
    ColumnBridge.column(UnigramBucketScore(ColumnBridge.expression(c), scoreQ))
  def word_gram_pos_hashes(c: Column, n: Int): Column =
    ColumnBridge.column(WordGramPosHashes(ColumnBridge.expression(c), n))
  def word_bigram_hash_pairs(c: Column): Column =
    ColumnBridge.column(WordBigramHashPairs(ColumnBridge.expression(c)))
  def word_gram_set(c: Column, n: Int): Column =
    ColumnBridge.column(WordGramSet(ColumnBridge.expression(c), n))
  def scrub_spans(text: Column, starts: Column, n: Int): Column =
    ColumnBridge.column(ScrubSpans(
      ColumnBridge.expression(text), ColumnBridge.expression(starts), n))
  def cdc_boundaries(text: Column, nibbles: Int): Column =
    ColumnBridge.column(CdcBoundaries(ColumnBridge.expression(text), nibbles))
  def cdc_chunk_hash_set(text: Column, nibbles: Int): Column =
    ColumnBridge.column(CdcChunkHashSet(ColumnBridge.expression(text), nibbles))
  def nfc_normalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  def strip_accents(c: Column): Column =
    ColumnBridge.column(StripAccents(ColumnBridge.expression(c)))
  def bpe_encode(c: Column, merges: Seq[String], marker: Boolean = false): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(c), merges, marker))

  /** Inverse of `bpe_encode(_, _, marker = true)` on single-space-
    * normalized text: join tokens, turn each word-boundary marker back
    * into a space, drop the leading one. Pure builtins (translate is a
    * codegen'd single-char map) — no custom kernel needed, which is the
    * point of the marker design. */
  def bpe_decode(tokens: Column): Column = {
    import org.apache.spark.sql.functions.{array_join, ltrim, translate}
    ltrim(translate(array_join(tokens, ""), BpeEncodeExpr.Marker, " "))
  }

  /** Second argument of a SQL call that must be a foldable INT literal. */
  private[plans] def litInt(e: Expression, usage: String): Int = e match {
    case lit if lit.foldable && lit.dataType == IntegerType =>
      lit.eval().asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$usage requires a constant INT, got $other")
  }

  /** Argument that must be a foldable ARRAY<STRING> literal. */
  private[plans] def litStringSeq(e: Expression, usage: String): Seq[String] = e match {
    case arr if arr.foldable && arr.dataType == ArrayType(StringType, false) ||
        arr.foldable && arr.dataType == ArrayType(StringType, true) =>
      val elems = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[UTF8String](StringType).toSeq
      if (elems.contains(null)) throw new IllegalArgumentException(
        s"$usage requires non-null ARRAY<STRING> elements, got a NULL element")
      elems.map(_.toString)
    case other => throw new IllegalArgumentException(
      s"$usage requires a constant ARRAY<STRING>, got $other")
  }

  /** The SQL-callable native functions, as (name, builder) pairs — the
    * one table both install paths read: [[register]] (every
    * `Graft.session`) and [[GraftExtensions]] (`spark.sql.extensions`). */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("format_money", exprs => FormatMoney(exprs.head)),
    ("cosine_sim", exprs => CosineSim(exprs(0), exprs(1))),
    ("word_gram_hashes",
      exprs => WordGramHashSet(exprs(0), litInt(exprs(1), "word_gram_hashes(text, n)"))),
    ("minhash_sig",
      exprs => MinhashSigExpr(exprs(0), litInt(exprs(1), "minhash_sig(text, k)"))),
    ("gate_stats",
      exprs => GateStatsExpr(exprs(0),
        litStringSeq(exprs(1), "gate_stats(text, stopwords)"))),
    ("word_gram_pos_hashes",
      exprs => WordGramPosHashes(exprs(0), litInt(exprs(1), "word_gram_pos_hashes(text, n)"))),
    ("word_gram_set",
      exprs => WordGramSet(exprs(0), litInt(exprs(1), "word_gram_set(text, n)"))),
    ("scrub_spans",
      exprs => ScrubSpans(exprs(0), exprs(1), litInt(exprs(2), "scrub_spans(text, starts, n)"))),
    ("nfc_normalize", exprs => NfcNormalize(exprs.head)),
    ("strip_accents", exprs => StripAccents(exprs.head)),
    ("argmin_cell", exprs => ArgminCellExpr(exprs(0), exprs(1))),
    ("pq_codes",
      exprs => PqCodesExpr(exprs(0), exprs(1),
        litInt(exprs(2), "pq_codes(v, codebook, m)"))),
    ("bloom_gram_hits",
      exprs => BloomGramHits(exprs(0),
        litLongSeq(exprs(1), "bloom_gram_hits(grams, words, mBits, k)"),
        litInt(exprs(2), "bloom_gram_hits(grams, words, mBits, k)"),
        litInt(exprs(3), "bloom_gram_hits(grams, words, mBits, k)"))),
    ("bpe_encode",
      exprs => BpeEncodeExpr(exprs(0), litStringSeq(exprs(1), "bpe_encode(text, merges)"),
        marker = exprs.lift(2).exists(litBool(_, "bpe_encode(text, merges, marker)")))))

  /** Expose as SQL functions (`SELECT format_money(c), cosine_sim(a,b)`). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }

  /** Argument that must be a foldable BOOLEAN literal. */
  private[plans] def litBool(e: Expression, usage: String): Boolean = e match {
    case lit if lit.foldable && lit.dataType == BooleanType =>
      lit.eval().asInstanceOf[Boolean]
    case other => throw new IllegalArgumentException(
      s"$usage requires a constant BOOLEAN, got $other")
  }

  /** Argument that must be a foldable ARRAY<BIGINT> literal (the packed
    * bloom filter words in SQL form). */
  private[plans] def litLongSeq(e: Expression, usage: String): Seq[Long] = e match {
    case arr if arr.foldable && (arr.dataType == ArrayType(LongType, false) ||
        arr.dataType == ArrayType(LongType, true)) =>
      val data = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until data.numElements()).map { i =>
        if (data.isNullAt(i)) throw new IllegalArgumentException(
          s"$usage requires non-null ARRAY<BIGINT> elements, got a NULL element")
        data.getLong(i)
      }
    case other => throw new IllegalArgumentException(
      s"$usage requires a constant ARRAY<BIGINT>, got $other")
  }
}
