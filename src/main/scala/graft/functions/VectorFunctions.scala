package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Vector primitives over `Array[Float]` embedding columns, built from the
  * higher-order built-ins (`transform`/`zip_with`/`aggregate`) so the hot
  * path is codegen'd — no UDF boxing per element. All arithmetic is promoted
  * to double before accumulation for cross-engine determinism (sequential
  * fold order is fixed). The `*Fast` forms build their Catalyst expression
  * directly, so they need no function registration in the session.
  */
object VectorFunctions {

  /** Elementwise promotion to double. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via zip_with + sequential aggregate. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm and L2 norm. */
  def normSq(v: Column): Column =
    aggregate(asDouble(v), lit(0.0), (acc, x) => acc + x * x)
  def l2Norm(v: Column): Column = sqrt(normSq(v))

  /** Cosine similarity; 0.0 for zero vectors (guards ANSI div-by-zero).
    * Composable built-ins form — bit-identical to [[cosineFast]]; use that
    * on hot pair-join paths.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Cosine via the CosineSim Catalyst expression (single primitive pass per
    * pair — the form a 100 TB pair join needs).
    */
  def cosineFast(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Dot product via the DotProduct Catalyst expression (one primitive
    * pass per pair — the inner loop of centroid assignment, exact rerank,
    * and the PQ query-table build; see [[graft.functions.DotProduct]]).
    * Bit-identical to [[dot]] on the equal-length arrays every call site
    * produces. */
  def dotFast(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** ADC score Σ_j table[j][codes[j]] via the AdcScore Catalyst expression
    * (one primitive pass per row — the PQ/IVFADC sweep's hot loop; see
    * [[graft.functions.AdcScore]]). Bit-identical to the composable
    * `aggregate(zip_with(...))` form. */
  def adcFast(codes: Column, table: Column): Column =
    column(AdcScore(expression(codes), expression(table)))

  /** Nearest PQ sub-centroid via the PqNearestCode Catalyst expression —
    * the encode/train inner loop (see [[graft.functions.PqNearestCode]]).
    * Bit-identical to the composable argmin fold (strict <,
    * first-in-codebook ties). */
  def pqCodeFast(sv: Column, j: Column, cb: Column): Column =
    column(PqNearestCode(expression(sv), expression(j), expression(cb)))

  /** [[asDouble]] as one primitive pass (pass-through for array<double>);
    * see [[graft.functions.AsDoubleVec]]. */
  def asDoubleFast(v: Column): Column = column(AsDoubleVec(expression(v)))

  /** [[l2Norm]] as one primitive pass; see [[graft.functions.VecNorm]]. */
  def normFast(v: Column): Column = column(VecNorm(expression(v)))

  /** Unit-normalized double vector in one primitive pass (zero vectors
    * pass through unscaled); see [[graft.functions.UnitVec]]. */
  def unitFast(v: Column): Column = column(UnitVec(expression(v)))

  /** Sign-bit binarization into packed longs via the SignPack Catalyst
    * expression (1 bit/dim — the binary-quantization encoder; see
    * [[graft.functions.SignPack]]). */
  def signPack(v: Column): Column = column(SignPack(expression(v)))

  /** Hamming distance between packed signatures via the HammingDist
    * Catalyst expression (XOR + popcount per word; see
    * [[graft.functions.HammingDist]]). */
  def hammingDist(a: Column, b: Column): Column =
    column(HammingDist(expression(a), expression(b)))

  /** Symmetric int8 quantization scale: max(|x|) / 127 — the per-vector
    * scalar that maps the embedding onto [-127, 127]. Quantization is the
    * standard memory lever for ANN at scale (4× smaller vectors, SIMD int
    * dot products); the max-fold is order-independent, so the scale is
    * engine-exact.
    */
  def int8Scale(v: Column): Column =
    aggregate(asDouble(v), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0

  /** Elementwise int8 quantization against a per-vector [[int8Scale]].
    * All-double arithmetic (float→double promotion is exact, IEEE division
    * and half-away-from-zero rounding agree across engines), so quantized
    * codes are INTEGERS an oracle can compare exactly — no float fuzz.
    * Zero vectors (scale 0) quantize to all zeros.
    */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(asDouble(v), x =>
      when(scale === 0.0, lit(0)).otherwise(round(x / scale).cast("int")))

  /** Random-hyperplane LSH signature: `nBits` sign bits packed into a long.
    * Hyperplane weights are a deterministic ±1 pseudo-random family derived
    * from xxhash64(bit, dim) — no runtime RNG, identical on every executor.
    * Cosine-similar vectors collide with probability 1 - θ/π per bit
    * (Charikar, STOC'02). The mix MUST be a real hash: a linear-congruence
    * parity like `(bit·p1 + dim·p2) mod 2` with odd constants degenerates to
    * `(bit + dim) mod 2` — two distinct hyperplanes total, every bucket but
    * two empty, and multi-probe probing holes (found the hard way; pinned in
    * SimilaritySpec's bucket-diversity test).
    */
  def hyperplaneWeight(bit: Int, dim: Column): Column =
    when(pmod(xxhash64(lit(bit), dim), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))

  def lshBit(v: Column, bit: Int): Column = {
    val proj = aggregate(
      zip_with(asDouble(v), sequence(lit(0), size(v) - 1),
        (x, i) => x * hyperplaneWeight(bit, i)),
      lit(0.0), (acc, x) => acc + x)
    when(proj >= 0.0, lit(1L)).otherwise(lit(0L))
  }

  /** Pack `nBits` LSH sign bits into one long bucket id (composable form —
    * bit-identical to [[lshBucketFast]], which the hot paths use). */
  def lshBucket(v: Column, nBits: Int): Column =
    (0 until nBits).map(b => lshBit(v, b) * lit(1L << b)).reduce(_ + _)

  /** [[lshBucket]] as ONE primitive pass via the LshBucketExpr Catalyst
    * expression — the composable form pays nBits interpreted aggregates
    * with an xxhash64 per element each (see
    * [[graft.functions.LshBucketExpr]]); this derives the same ±1 weights
    * from the same hash once per executor and runs a multiply-add loop.
    */
  def lshBucketFast(v: Column, nBits: Int): Column =
    column(LshBucketExpr(expression(v), nBits))
}
