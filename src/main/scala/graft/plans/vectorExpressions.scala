package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Oracle-exact quantized vector kernels.
  *
  * The determinism contract (Similarity.vsum / SURVEY §5) quantizes every
  * per-dimension product to an integer at 1e12 and sums exactly, so
  * results are bit-identical across partitionings and engines. These
  * expressions compute the SAME long sums in one fused per-row loop,
  * replacing the posexplode + 64-way dimension join + groupBy formulation
  * (which shuffles 64 rows per pair just to add them back together).
  * Callers divide by 1e12 outside, exactly like the SQL oracle.
  *
  * Inputs are ARRAY<DOUBLE> (cast float embeddings at the call site —
  * float->double widening is exact, and refined centroids are natively
  * double).
  */
object QuantizedVec {
  final val Scale = 1e12

  def dotSum(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a.getDouble(i) * b.getDouble(i) * Scale + 0.5).toLong
      i += 1
    }
    s
  }

  def l2Sum(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += math.floor(d * d * Scale + 0.5).toLong
      i += 1
    }
    s
  }
}

abstract class QuantizedBinaryVecSum extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullIntolerant: Boolean = true
}

/** sum_i floor(a_i * b_i * 1e12 + 0.5) as a long — the quantized dot. */
case class QuantizedDotSum(left: Expression, right: Expression) extends QuantizedBinaryVecSum {
  override def prettyName: String = "quantized_dot_sum"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    QuantizedVec.dotSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "graft.plans.QuantizedVec$.MODULE$.dotSum(" + a + ", " + b + ")")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedDotSum =
    copy(left = l, right = r)
}

/** sum_i floor((a_i - b_i)^2 * 1e12 + 0.5) as a long — quantized squared L2. */
case class QuantizedL2Sum(left: Expression, right: Expression) extends QuantizedBinaryVecSum {
  override def prettyName: String = "quantized_l2_sum"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    QuantizedVec.l2Sum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      "graft.plans.QuantizedVec$.MODULE$.l2Sum(" + a + ", " + b + ")")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedL2Sum =
    copy(left = l, right = r)
}

/** nBits-bit sign-LSH bucket id in one per-row pass: bit h is set iff the
  * quantized projection of the vector onto deterministic hyperplane h is
  * positive. Hyperplane signs are the md5("h:d") high-bit convention of
  * Similarity.planeSign, precomputed once on the driver (the division by
  * 1e12 cannot change the sign, so the bit test runs on the long sum). */
case class SignLshBucketExpr(child: Expression, nBits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nBits >= 1 && nBits <= 62, "nBits must be in [1, 62]")
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(DoubleType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_lsh_bucket"

  override protected def nullSafeEval(input: Any): Any =
    SignLshBucketExpr.bucket(input.asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "graft.plans.SignLshBucketExpr$.MODULE$.bucket(" + c + ", " + nBits + ")")

  override protected def withNewChildInternal(newChild: Expression): SignLshBucketExpr =
    copy(child = newChild)
}

/** Nearest-centroid id for one vector in one fused per-row loop — the
  * IVF-family assignment kernel. `cents` is the one-row reshaped centroid
  * table (ARRAY<STRUCT<cc LONG, cv ARRAY<DOUBLE>>>, Similarity.centOneRow)
  * riding a broadcast crossJoin; the argmin folds (d2, cc) pairs with the
  * same lexicographic-least semantics as the previous
  * `aggregate(cents, least(struct(ql2, cc)))` composition — which Catalyst
  * evaluates as CodegenFallback, re-entering the interpreter per centroid
  * per row. d2 compares as the DIVIDED double (sum/1e12), exactly like the
  * struct comparison did, so ties and orderings are bit-identical. */
case class ArgminCellExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = ArgminCellExpr.InputTypes
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "argmin_cell"

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    ArgminCellExpr.argmin(v.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      "graft.plans.ArgminCellExpr$.MODULE$.argmin(" + v + ", " + c + ")")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgminCellExpr =
    copy(left = l, right = r)
}
object ArgminCellExpr {
  /** (vector, one-row centroid array) — shared with [[NearestCellsExpr]]. */
  val InputTypes: Seq[DataType] = Seq(ArrayType(DoubleType),
    ArrayType(StructType(Seq(StructField("cc", LongType),
      StructField("cv", ArrayType(DoubleType))))))

  def argmin(v: ArrayData, cents: ArrayData): Long = {
    val n = cents.numElements()
    var bestD2 = Double.MaxValue
    var bestCc = Long.MaxValue
    var i = 0
    while (i < n) {
      val row = cents.getStruct(i, 2)
      val cc = row.getLong(0)
      val d2 = QuantizedVec.l2Sum(v, row.getArray(1)) / QuantizedVec.Scale
      if (d2 < bestD2 || (d2 == bestD2 && cc < bestCc)) { bestD2 = d2; bestCc = cc }
      i += 1
    }
    bestCc
  }
}

/** The `n` nearest centroid ids for one vector, nearest first — the IVF
  * probe-ranking kernel. Same one-row centroid array and the same
  * (d2, cc) order as [[ArgminCellExpr]] (d2 the DIVIDED double), so
  * element 0 is the argmin cell and element i-1 is the cell a
  * `row_number() OVER (PARTITION BY query ORDER BY d2, cc)` window ranks
  * i-th. Ranking in-row replaces that per-query window — and its
  * shuffle — on the query side of every probe. */
case class NearestCellsExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(n >= 1, "n nearest cells must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = ArgminCellExpr.InputTypes
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    NearestCellsExpr.nearest(v.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      "graft.plans.NearestCellsExpr$.MODULE$.nearest(" + v + ", " + c + ", " + n + ")")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCellsExpr =
    copy(left = l, right = r)
}
object NearestCellsExpr {
  def nearest(v: ArrayData, cents: ArrayData, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val c = cents.numElements()
    val d2 = new Array[Double](c)
    val cc = new Array[Long](c)
    var i = 0
    while (i < c) {
      val row = cents.getStruct(i, 2)
      cc(i) = row.getLong(0)
      d2(i) = QuantizedVec.l2Sum(v, row.getArray(1)) / QuantizedVec.Scale
      i += 1
    }
    val order = (0 until c).sortWith((a, b) =>
      d2(a) < d2(b) || (d2(a) == d2(b) && cc(a) < cc(b)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      order.take(n).map(j => cc(j): Any).toArray)
  }
}

/** All m PQ codes for one vector in one fused per-row loop — the PQ encode
  * kernel. `cb` is the one-row reshaped codebook
  * (ARRAY<STRUCT<sub INT, cc LONG, cv ARRAY<DOUBLE>>>, Similarity.cbOneRow)
  * riding a broadcast crossJoin; per subspace s the kernel argmins the
  * quantized L2 between the vector's s-th slice and that subspace's
  * centroids, ties to the lower cc — replacing a
  * transform(sequence)/filter/aggregate HOF pyramid that interpreted
  * m x ksub lambda frames per row. Slice bounds replicate
  * `slice(v, s*dsub+1, dsub)` with dsub = n/m (floor). */
case class PqCodesExpr(left: Expression, right: Expression, m: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(m >= 1, "m subspaces must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq[DataType](ArrayType(DoubleType),
    ArrayType(StructType(Seq(StructField("sub", IntegerType),
      StructField("cc", LongType), StructField("cv", ArrayType(DoubleType))))))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_codes"

  override protected def nullSafeEval(v: Any, cb: Any): Any =
    PqCodesExpr.codes(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      "graft.plans.PqCodesExpr$.MODULE$.codes(" + v + ", " + c + ", " + m + ")")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqCodesExpr =
    copy(left = l, right = r)
}
object PqCodesExpr {
  def codes(v: ArrayData, cb: ArrayData, m: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val dsub = n / m
    val k = cb.numElements()
    val bestD2 = Array.fill(m)(Double.MaxValue)
    val bestCc = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < k) {
      val row = cb.getStruct(i, 3)
      val s = row.getInt(0)
      if (s >= 0 && s < m) {
        val cc = row.getLong(1)
        val cv = row.getArray(2)
        // quantized L2 between v[s*dsub, s*dsub+dsub) and cv, same
        // min-length guard as QuantizedVec.l2Sum on the materialized slice
        val len = math.min(dsub, cv.numElements())
        var sum = 0L
        var j = 0
        while (j < len) {
          val d = v.getDouble(s * dsub + j) - cv.getDouble(j)
          sum += math.floor(d * d * QuantizedVec.Scale + 0.5).toLong
          j += 1
        }
        val d2 = sum / QuantizedVec.Scale
        if (d2 < bestD2(s) || (d2 == bestD2(s) && cc < bestCc(s))) {
          bestD2(s) = d2; bestCc(s) = cc
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](m)(s => bestCc(s)))
  }
}

/** The residual/ADC QUANTIZATION ERROR of an exact-argmin PQ encode, in
  * one fused per-row loop: Σ over subspaces of the MINIMUM quantized-L2
  * integer (raw sum at QuantizedVec.Scale, NOT divided) between the
  * vector's s-th slice and any codebook entry of subspace s. Same inputs
  * as [[PqCodesExpr]] (the one-row reshaped codebook on a broadcast
  * crossJoin), same slice bounds; the min is taken on the RAW integer
  * sums — an unambiguous total order, and a valid argmin under the
  * divided-double ordering too (division by a positive constant is
  * monotone). Returning the integer keeps downstream aggregation exact
  * (decimal sums), so the codebook-drift report is bit-identical across
  * partitionings and engines. A subspace with no codebook entries
  * contributes 0 (the degenerate-codebook case — visible via the
  * encode path, not an error here). */
case class PqAdcErrExpr(left: Expression, right: Expression, m: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(m >= 1, "m subspaces must be >= 1")
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(DoubleType),
    ArrayType(StructType(Seq(StructField("sub", IntegerType),
      StructField("cc", LongType), StructField("cv", ArrayType(DoubleType))))))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_err"

  override protected def nullSafeEval(v: Any, cb: Any): Any =
    PqAdcErrExpr.err(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      "graft.plans.PqAdcErrExpr$.MODULE$.err(" + v + ", " + c + ", " + m + ")")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcErrExpr =
    copy(left = l, right = r)
}
/** [[PqAdcErrExpr]] with the residual subtraction FUSED into the loop:
  * err(v - c, cb, m) without materializing the residual array. The
  * previous composition fed `zip_with(v, cv, (a, b) => a - b)` into
  * PqAdcErrExpr — ZipWith is a CodegenFallback higher-order function, so
  * every corpus row of the drift report allocated a GenericArrayData and
  * re-entered the interpreter dim-many times (r16, guide §5 GC /
  * codegen). Arithmetic is bit-identical: d = (v_i - c_i) - cv_j in the
  * same IEEE order. Requires v and c the same length (the composition
  * would have crashed otherwise — zip_with pads the short side with
  * nulls and the kernel reads doubles). */
case class PqAdcErrResidualExpr(first: Expression, second: Expression,
                                third: Expression, m: Int)
    extends TernaryExpression with ExpectsInputTypes {
  require(m >= 1, "m subspaces must be >= 1")
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(DoubleType),
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(StructField("sub", IntegerType),
      StructField("cc", LongType), StructField("cv", ArrayType(DoubleType))))))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_err_residual"

  override protected def nullSafeEval(v: Any, c: Any, cb: Any): Any =
    PqAdcErrResidualExpr.err(v.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c, cb) =>
      "graft.plans.PqAdcErrResidualExpr$.MODULE$.err(" + v + ", " + c + ", " +
        cb + ", " + m + ")")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqAdcErrResidualExpr =
    copy(first = f, second = s, third = t)
}
object PqAdcErrResidualExpr {
  def err(v: ArrayData, c: ArrayData, cb: ArrayData, m: Int): Long = {
    val n = v.numElements()
    require(c.numElements() == n,
      s"vector/centroid length mismatch: $n vs ${c.numElements()}")
    val dsub = n / m
    val k = cb.numElements()
    val best = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < k) {
      val row = cb.getStruct(i, 3)
      val s = row.getInt(0)
      if (s >= 0 && s < m) {
        val cv = row.getArray(2)
        val len = math.min(dsub, cv.numElements())
        var sum = 0L
        var j = 0
        while (j < len) {
          val d = (v.getDouble(s * dsub + j) - c.getDouble(s * dsub + j)) -
            cv.getDouble(j)
          sum += math.floor(d * d * QuantizedVec.Scale + 0.5).toLong
          j += 1
        }
        if (sum < best(s)) best(s) = sum
      }
      i += 1
    }
    var total = 0L
    var s = 0
    while (s < m) {
      if (best(s) != Long.MaxValue) total += best(s)
      s += 1
    }
    total
  }
}

object PqAdcErrExpr {
  def err(v: ArrayData, cb: ArrayData, m: Int): Long = {
    val n = v.numElements()
    val dsub = n / m
    val k = cb.numElements()
    val best = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < k) {
      val row = cb.getStruct(i, 3)
      val s = row.getInt(0)
      if (s >= 0 && s < m) {
        val cv = row.getArray(2)
        val len = math.min(dsub, cv.numElements())
        var sum = 0L
        var j = 0
        while (j < len) {
          val d = v.getDouble(s * dsub + j) - cv.getDouble(j)
          sum += math.floor(d * d * QuantizedVec.Scale + 0.5).toLong
          j += 1
        }
        if (sum < best(s)) best(s) = sum
      }
      i += 1
    }
    var total = 0L
    var s = 0
    while (s < m) {
      if (best(s) != Long.MaxValue) total += best(s)
      s += 1
    }
    total
  }
}

/** Hamming distance between two packed sign-bit codes (ARRAY<LONG>) in one
  * fused xor+popcount loop — the stage-1 kernel of every binary-quantized
  * probe and sweep. Replaces the `aggregate(zip_with(a, b, xor|popcount))`
  * HOF composition, which Catalyst evaluates as CodegenFallback: two
  * GenericArrayData allocations and 2 x nWords interpreted lambda frames
  * PER CANDIDATE PAIR on the hottest loop the binary family has (measured
  * r16: the binary probes/sweeps spent most of their summed task time in
  * interpreted HOF frames). Null semantics replicate the HOF composition
  * exactly: a null element or a length mismatch (zip_with pads the short
  * side with nulls -> bit_count(null) -> null sum) yields NULL. */
case class HammingDistExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq[DataType](ArrayType(LongType), ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hamming_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HammingDistExpr.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val hd = ctx.freshName("hammingDist")
      s"""java.lang.Long $hd = graft.plans.HammingDistExpr$$.MODULE$$.dist($a, $b);
         |if ($hd == null) { ${ev.isNull} = true; } else { ${ev.value} = $hd.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDistExpr =
    copy(left = l, right = r)
}
object HammingDistExpr {
  /** Boxed so a length mismatch / null element can yield SQL NULL exactly
    * like the HOF formulation did. */
  def dist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }
}

object SignLshBucketExpr {
  final val MaxBits = 62
  final val MaxDim = 1024

  /** signs(h)(d) = +1.0 / -1.0 from the first hex char of md5("h:d") —
    * identical to Similarity.planeSign and the SQL oracle. Deterministic,
    * so precomputing on the driver (and re-deriving on executors via this
    * lazy val) is safe. */
  private lazy val signs: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxBits, MaxDim) { (h, d) =>
      md.reset()
      val digest = md.digest(s"$h:$d".getBytes("UTF-8"))
      // first hex char >= '8' == top bit of the first byte
      if ((digest(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  def bucket(v: ArrayData, nBits: Int): Long = {
    val n = v.numElements()
    require(n <= MaxDim, s"sign-LSH supports up to $MaxDim dims, got $n")
    val sums = new Array[Long](nBits)
    var d = 0
    while (d < n) {
      val x = v.getDouble(d)
      var h = 0
      while (h < nBits) {
        sums(h) += math.floor(x * signs(h)(d) * QuantizedVec.Scale + 0.5).toLong
        h += 1
      }
      d += 1
    }
    var b = 0L
    var h = 0
    while (h < nBits) { if (sums(h) > 0) b |= 1L << h; h += 1 }
    b
  }
}
