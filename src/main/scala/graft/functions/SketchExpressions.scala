package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the sketch hot path.
  *
  * The composable form (64 `transform`/`aggregate` higher-order calls per
  * row) evaluates interpreted with per-element boxing — measured 28 s for
  * 5 000 docs at sf0.1. These expressions do the same arithmetic in one
  * primitive JVM loop per row (a static `compute` shared by the interpreted
  * eval and the generated code), which is the per-row cost profile a 100 TB
  * scan needs. `doGenCode` emits a call to that static helper, so the
  * projection stays inside whole-stage codegen — no interpreted-eval
  * boundary, no InternalRow materialization per row. Inputs are pre-hashed
  * `array<bigint>` columns, so tokenization/shingling still happens once, in
  * codegen'd built-ins.
  */

/** MinHash signature: for each of `numPerm` permutations h_j(x) =
  * (a_j·x + b_j) mod p (p = 2^31-1), the min over the input hash array.
  * Returns array<bigint> of length numPerm; empty input ⇒ all-p sentinel.
  */
case class MinHashSig(child: Expression, numPerm: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // deterministic (a, b) pairs, interleaved (see MinHashSig.abFlat)
  private lazy val ab: Array[Long] = MinHashSig.abFlat(numPerm, seed)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], numPerm, ab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val abRef = ctx.addReferenceObj("minhashAb", ab, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSig.compute($c, $numPerm, $abRef);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  val Prime: Long = 2147483647L

  /** Deterministic (a, b) permutation constants, seeded — identical on
    * every executor and across runs — flattened as a0, b0, a1, b1, … */
  def abFlat(numPerm: Int, seed: Long): Array[Long] = {
    val r = new scala.util.Random(seed)
    val out = new Array[Long](numPerm * 2)
    var j = 0
    while (j < numPerm) {
      out(2 * j) = 1L + r.nextInt(Int.MaxValue - 1).toLong
      out(2 * j + 1) = r.nextInt(Int.MaxValue).toLong
      j += 1
    }
    out
  }

  /** One primitive loop per row; called from both eval and generated code. */
  def compute(arr: ArrayData, numPerm: Int, ab: Array[Long]): GenericArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numPerm)(Prime)
    var i = 0
    while (i < n) {
      val h = Math.floorMod(arr.getLong(i), Prime)
      var j = 0
      while (j < numPerm) {
        val v = Math.floorMod(ab(2 * j) * h + ab(2 * j + 1), Prime)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** SimHash: 64-bit signature from an array of token hashes — bit i is set
  * when the sum of ±1 votes from each hash's bit i is positive.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHashSig.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashSig.compute($c);")

  override protected def withNewChildInternal(c: Expression): SimHashSig = copy(child = c)
  override def prettyName: String = "simhash_sig"
}

object SimHashSig {
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
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
}

/** Cosine similarity between two numeric arrays (float or double elements),
  * computed in one primitive pass (dot + both norms) in double precision —
  * bit-identical to the composable `aggregate`/`zip_with` form (same
  * sequential accumulation order) but without per-element boxing. Returns
  * 0.0 when either vector has zero norm. Null if either side is null.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(CosineSim.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], leftFloat, rightFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.CosineSim.compute($l, $r, $leftFloat, $rightFloat);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  def compute(a: ArrayData, b: ArrayData, leftFloat: Boolean,
      rightFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Count of positionally equal elements between two array<bigint>
  * signatures — the MinHash estimated-Jaccard numerator, paid per LSH
  * candidate PAIR (O(numPerm) each, so |pairs|·numPerm on the verify
  * path). One primitive pass; bit-identical to the composable
  * `size(filter(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
  * _ === 1))` form on non-null elements over equal-length signatures
  * (every [[graft.functions.MinHashSig]] output has exactly numPerm
  * elements; on a fabricated mismatch this counts over the shorter
  * prefix, where zip_with's null padding also never matches). Null if
  * either side is null.
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Integer.valueOf(SigMatchCount.compute(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.SigMatchCount.compute($l, $r);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "sig_match_count"
}

object SigMatchCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** Dot product Σ_i a[i]·b[i] between two numeric arrays (float or double
  * elements), one primitive pass in double precision — bit-identical to
  * `aggregate(zip_with(asDouble(a), asDouble(b), _ * _), 0.0, _ + _)`
  * (same i-ascending accumulation order) but without the zipped-array
  * allocation and per-element lambda evaluation the interpreted
  * higher-order functions pay. This is the inner loop of every centroid
  * assignment (`simTo` runs it per (row, centroid) inside the argmax —
  * O(√nLists·d) per corpus row on the IVF/IVFADC write paths), every
  * exact rerank, and the PQ query-table build. Contract: equal-length
  * arrays (every call site zips a vector against a same-width centroid /
  * component); on a fabricated mismatch this sums the shorter prefix
  * where the zip_with form would null-poison. Null if either side is
  * null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  // element accessor kind: 0 = double, 1 = float, 2 = int (the SQ8 codes)
  private def elemKind(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _) => 1
    case ArrayType(IntegerType, _) => 2
    case _ => 0
  }
  private lazy val leftKind = elemKind(left)
  private lazy val rightKind = elemKind(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(DotProduct.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], leftKind, rightKind))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.DotProduct.compute($l, $r, $leftKind, $rightKind);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object DotProduct {
  def compute(a: ArrayData, b: ArrayData, leftKind: Int,
      rightKind: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftKind == 0) a.getDouble(i)
        else if (leftKind == 1) a.getFloat(i).toDouble
        else a.getInt(i).toDouble
      val y = if (rightKind == 0) b.getDouble(i)
        else if (rightKind == 1) b.getFloat(i).toDouble
        else b.getInt(i).toDouble
      s += x * y
      i += 1
    }
    s
  }
}

/** ADC (asymmetric distance computation) score: Σ_j table[j][codes[j]] —
  * the PQ/IVFADC sweep's inner loop (Jégou et al. TPAMI'11 §IV). One
  * primitive pass over the m codes; bit-identical to the composable
  * `aggregate(zip_with(codes, table, (c, row) => element_at(row, c + 1)),
  * 0.0, _ + _)` form (same sequential accumulation order) but without the
  * per-row zipped-array allocation and per-element lambda evaluation the
  * interpreted higher-order functions pay — this expression sits on the
  * |probed rows| × |queries| hot path of every ADC sweep. `codes` is
  * array<int>, `table` array<array<double>>; null if either side is null.
  */
case class AdcScore(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(AdcScore.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.AdcScore.compute($l, $r);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "adc_score"
}

object AdcScore {
  def compute(codes: ArrayData, table: ArrayData): Double = {
    val m = math.min(codes.numElements(), table.numElements())
    var s = 0.0
    var j = 0
    while (j < m) {
      s += table.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    s
  }
}

/** Nearest PQ sub-centroid: argmin_c ‖sv − cb[j][c]‖² — the encode/train
  * inner loop of the product quantizer (ksub·dsub multiplies per row and
  * subspace, paid on EVERY corpus row by ivfPqWrite/ivfPqAppend and per
  * Lloyd iteration by the trainer). One primitive pass; bit-identical to
  * the composable form (same i-ascending squared-difference summation,
  * same strict-< first-in-codebook tie-break — the fold's
  * `dist < acc.d2` with a MaxValue seed). `sv` is array<double>, `j` the
  * subspace index, `cb` array<array<array<double>>>; null if any input
  * is null. Contract: `sv` and the subspace's centroids have EQUAL
  * length (pqSliceOf truncates the last subspace's centroids to exactly
  * the runtime slice width) — on a fabricated mismatch this sums over
  * the shorter prefix where the fold would null-poison instead.
  */
case class PqNearestCode(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(sv: Any, j: Any, cb: Any): Any =
    java.lang.Integer.valueOf(PqNearestCode.compute(
      sv.asInstanceOf[ArrayData], j.asInstanceOf[Int],
      cb.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sv, j, cb) =>
      s"${ev.value} = graft.functions.PqNearestCode.compute($sv, $j, $cb);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression) = copy(first = f, second = s, third = t)
  override def prettyName: String = "pq_nearest_code"
}

object PqNearestCode {
  def compute(sv: ArrayData, j: Int, cb: ArrayData): Int = {
    val codes = cb.getArray(j)
    var bestD = Double.MaxValue
    var best = Int.MaxValue // the fold's seed code for an empty codebook
    var c = 0
    val ksub = codes.numElements()
    while (c < ksub) {
      val cv = codes.getArray(c)
      val n = math.min(sv.numElements(), cv.numElements())
      var dist = 0.0
      var i = 0
      while (i < n) {
        val dd = sv.getDouble(i) - cv.getDouble(i)
        dist += dd * dd
        i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }
}

/** Elementwise promotion of a numeric array to array<double> as one
  * primitive pass — the composable `transform(v, _.cast("double"))` is an
  * interpreted HigherOrderFunction paid per row on every vector-ingest
  * front. Pass-through (no copy) when the input is already
  * array<double>. Null if the array is null.
  */
case class AsDoubleVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val isFloat = elemIsFloat

  override def nullSafeEval(v: Any): Any =
    AsDoubleVec.compute(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.AsDoubleVec.compute($v, $isFloat);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "as_double_vec"
}

object AsDoubleVec {
  def compute(v: ArrayData, isFloat: Boolean): ArrayData =
    if (!isFloat) v
    else {
      val d = v.numElements()
      val out = new Array[Double](d)
      var i = 0
      while (i < d) { out(i) = v.getFloat(i).toDouble; i += 1 }
      new GenericArrayData(out)
    }
}

/** L2 norm √Σx² of a numeric array in one primitive pass (double
  * accumulation, i-ascending — bit-identical to
  * `sqrt(aggregate(asDouble(v), 0.0, (a, x) => a + x·x))`). The norm
  * column rides every ANN corpus row and query; the composable form paid
  * an interpreted aggregate per row. Null if the array is null.
  */
case class VecNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val isFloat = elemIsFloat

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(
      VecNorm.compute(v.asInstanceOf[ArrayData], isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VecNorm.compute($v, $isFloat);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "vec_norm"
}

object VecNorm {
  def compute(v: ArrayData, isFloat: Boolean): Double = {
    val d = v.numElements()
    var s = 0.0
    var i = 0
    while (i < d) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }
}

/** Unit-normalized double vector in one primitive pass — the ingest
  * front of every ANN family (promote → norm → divide was THREE
  * interpreted array passes per row in the composable form). Zero-norm
  * vectors pass through unscaled (the composable `when(nrm === 0, dv0)`
  * branch). Bit-identical: same promotion, same i-ascending norm
  * accumulation, same IEEE division. Null if the array is null.
  */
case class UnitVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val isFloat = elemIsFloat

  override def nullSafeEval(v: Any): Any =
    UnitVec.compute(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UnitVec.compute($v, $isFloat);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "unit_vec"
}

object UnitVec {
  def compute(v: ArrayData, isFloat: Boolean): ArrayData = {
    val d = v.numElements()
    val out = new Array[Double](d)
    var s = 0.0
    var i = 0
    while (i < d) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = x
      s += x * x
      i += 1
    }
    val nrm = math.sqrt(s)
    if (nrm != 0.0) {
      var j = 0
      while (j < d) { out(j) = out(j) / nrm; j += 1 }
    }
    new GenericArrayData(out)
  }
}

/** Sign-bit binarization: element i's sign (>= 0 → 1) lands in bit
  * (i mod 64) of word (i / 64) — the binary-quantization encoder (1 bit
  * per dimension, 32× under raw floats; the memory tier below PQ/SQ8 that
  * binary-IVF systems such as Faiss's IndexBinaryIVF run at extreme
  * scale). Deterministic integer output — an oracle recomputes it
  * exactly. Accepts float or double arrays; null if the vector is null.
  */
case class SignPack(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val isFloat = elemIsFloat

  override def nullSafeEval(v: Any): Any =
    SignPack.compute(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.SignPack.compute($v, $isFloat);")

  override protected def withNewChildInternal(c: Expression) =
    copy(child = c)
  override def prettyName: String = "sign_pack"
}

object SignPack {
  def compute(v: ArrayData, isFloat: Boolean): ArrayData = {
    val d = v.numElements()
    val words = new Array[Long]((d + 63) / 64)
    var i = 0
    while (i < d) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      if (x >= 0.0) words(i / 64) |= (1L << (i % 64))
      i += 1
    }
    new GenericArrayData(words)
  }
}

/** Hamming distance between two packed bit signatures (array<bigint>):
  * Σ popcount(a[w] XOR b[w]) over the common prefix — the binary-ANN
  * sweep's inner loop (one XOR + POPCNT per word against PQ's m table
  * lookups). Null if either side is null.
  */
case class HammingDist(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Integer.valueOf(HammingDist.compute(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.HammingDist.compute($l, $r);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "hamming_dist"
}

object HammingDist {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }
}

/** Random-hyperplane LSH bucket: `nBits` sign bits packed into one long,
  * in ONE primitive pass — the fused form of
  * [[graft.functions.VectorFunctions.lshBucket]]. The composable form
  * pays, per row, nBits interpreted aggregates each evaluating an
  * `xxhash64(bit, dim)` per element (nBits·d hash expression trees plus
  * zipped-array allocations); here the ±1 hyperplane weights come from
  * the same hash ([[XXH64.hashInt]] chained exactly like the two-arg
  * `xxhash64` with its 42 seed) through a per-dimension-count cache, and
  * the projection is a primitive multiply-add loop in the same i-ascending
  * order — bit-identical, including the empty-array → bucket 0 edge (the
  * composable form's null-poisoned projections fall to the `otherwise(0)`
  * branch on every bit). Accepts float or double arrays. Null if the
  * vector is null.
  */
case class LshBucketExpr(child: Expression, nBits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val isFloat = elemIsFloat
  @transient private lazy val cache = new LshWeightCache(nBits)

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      cache.bucket(v.asInstanceOf[ArrayData], isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshWeights", cache,
      classOf[LshWeightCache].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.bucket($v, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression) =
    copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

/** Per-expression-instance cache of the deterministic ±1 hyperplane
  * weights (parity of `xxhash64(bit, dim)`, seed 42 — Charikar STOC'02
  * family): nBits × d doubles, derived once per executor instance and
  * grown if a wider vector appears. The hash chain replicates Spark's
  * two-int `xxhash64` exactly: `hashInt(dim, hashInt(bit, 42))`. */
final class LshWeightCache(nBits: Int) extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  // executor threads running the same codegen'd stage share this instance:
  // volatile gives safe publication of the built matrix (a benign race may
  // build it twice with identical content)
  @transient @volatile private var weights: Array[Array[Double]] = _

  private def ensure(d: Int): Array[Array[Double]] = {
    var w = weights
    if (w == null || w(0).length < d) {
      w = Array.tabulate(nBits) { bit =>
        val seed = XXH64.hashInt(bit, 42L)
        Array.tabulate(d) { dim =>
          val h = XXH64.hashInt(dim, seed)
          if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
        }
      }
      weights = w
    }
    w
  }

  def bucket(v: ArrayData, isFloat: Boolean): Long = {
    val d = v.numElements()
    if (d == 0) return 0L // composable form: null projections → bit 0
    val w = ensure(d)
    var out = 0L
    var bit = 0
    while (bit < nBits) {
      val wb = w(bit)
      var proj = 0.0
      var i = 0
      while (i < d) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        proj += x * wb(i)
        i += 1
      }
      if (proj >= 0.0) out |= (1L << bit)
      bit += 1
    }
    out
  }
}

/** Column builders for the sketch expressions. Each builds its Catalyst
  * expression directly, so it works in any session; SQL callers reach the
  * same expressions by name through [[graft.GraftExtensions]].
  */
object SketchFunctions {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  /** MinHash signature column over a pre-hashed array<bigint> column. */
  def minhash_sig(hashes: Column, numPerm: Int, seed: Long = 42L): Column =
    column(MinHashSig(expression(hashes), numPerm, seed))

  /** SimHash column over a pre-hashed array<bigint> column. */
  def simhash_sig(hashes: Column): Column =
    column(SimHashSig(expression(hashes)))

  /** Positional match count between two signature columns via the
    * SigMatchCount Catalyst expression — the per-candidate-pair estimated-
    * Jaccard numerator as one primitive pass. */
  def sig_match_count(a: Column, b: Column): Column =
    column(SigMatchCount(expression(a), expression(b)))
}
