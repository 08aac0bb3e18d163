package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Distributed PCA over an embedding column — the dimensionality-reduction
  * pass an LLM-data pipeline runs before semantic dedup / ANN to cut vector
  * cost (project 64-d to a top-r basis, keep most of the variance).
  *
  * Shape: ONE aggregation pass accumulates the sufficient statistics
  * (n, Σx, the upper triangle of Σxxᵀ) with map-side partial aggregation —
  * the shuffle is O(partitions × d²) doubles and the corpus never moves.
  * The d×d covariance eigensolve happens on the DRIVER (cyclic Jacobi,
  * ~d³ flops — microseconds at embedding dims, the classic "small dense
  * algebra is driver work, data passes are cluster work" split, same as
  * k-means centroid updates). Projection is a map-side codegen'd
  * higher-order-function dot against the broadcast component literals.
  * Everything is deterministic: no RNG, sign-fixed eigenvectors.
  */
object Pca {

  /** Sufficient-statistics buffer: [n, Σx (d), upper-tri Σxxᵀ (d(d+1)/2)]. */
  private final class MomentsAgg(d: Int)
      extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    private val triLen = d * (d + 1) / 2
    override def zero: Array[Double] = new Array[Double](1 + d + triLen)
    override def reduce(b: Array[Double], x: Array[Double]): Array[Double] = {
      // ragged rows (shorter than the schema dimension) contribute zeros in
      // the missing tail rather than crashing the pass
      val lim = math.min(d, x.length)
      b(0) += 1.0
      var i = 0
      while (i < lim) { b(1 + i) += x(i); i += 1 }
      i = 0
      while (i < lim) {
        var k = 1 + d + i * d - i * (i - 1) / 2 // row i's tri offset
        var j = i
        while (j < lim) { b(k + (j - i)) += x(i) * x(j); j += 1 }
        i += 1
      }
      b
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Double]): Array[Double] = b
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Fitted model: population covariance eigen-decomposition, eigenpairs
    * sorted by eigenvalue descending, eigenvectors sign-fixed (the
    * largest-magnitude component is positive) so repeated fits are
    * bit-identical. */
  final case class Model(mean: Array[Double],
      eigenvalues: Array[Double], // all d, descending
      components: Array[Array[Double]], // top r rows, orthonormal
      totalVariance: Double)

  def fit(df: DataFrame, vecCol: String, r: Int): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val first = df.select(col(vecCol)).limit(1).collect()
    require(first.nonEmpty, "Pca.fit: empty input")
    val d = first(0).getSeq[Any](0).length
    require(r >= 1 && r <= d, s"r must be in [1, $d], got $r")
    val stats = df.select(V.asDouble(col(vecCol)).as("dv"))
      .as[Array[Double]]
      .select(new MomentsAgg(d).toColumn.name("m"))
      .head()
    val n = stats(0)
    require(n >= 2, s"Pca.fit: need at least 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => stats(1 + i) / n)
    // population covariance: C = Σxxᵀ/n − mean·meanᵀ
    val cov = Array.ofDim[Double](d, d)
    var k = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = stats(k) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; k += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(ix => (-values(ix), ix))
    val evalsSorted = order.map(values(_)).toArray
    val comps = order.take(r).map { ix =>
      val v = Array.tabulate(d)(row => vectors(row)(ix))
      // sign fix: largest-|component| entry positive (ties → earlier index)
      val pivot = v.indices.maxBy(p => (math.abs(v(p)), -p))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    Model(mean, evalsSorted, comps, evalsSorted.sum)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with eigenvectors as COLUMNS).
    * Deterministic sweep order; converges quadratically — 64×64 inputs
    * settle in a handful of sweeps. */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    val tol = 1e-12 * math.max(1.0, a.indices.map(i => math.abs(a(i)(i))).max)
    while (off > tol && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > tol / (d * d)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Map-side projection onto the model's components: each output row
    * carries the r-dim coordinates ⟨x − mean, cᵢ⟩. The components ride as
    * broadcast literals — no shuffle, no UDF. (Named `project` so the
    * higher-order `functions.transform` stays unshadowed in this object.)
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame = {
    val meanLit = typedLit(model.mean.toSeq)
    val compLit = typedLit(model.components.map(_.toSeq).toSeq)
    // centre ONCE per row (the transform lambda used to re-derive
    // x − mean for every component), then one DotProduct primitive pass
    // per component — bit-identical arithmetic, r× less centering work
    df.select(col(idCol), V.asDouble(col(vecCol)).as("dv"))
      .select(col(idCol), zip_with(col("dv"), meanLit, _ - _).as("cv"))
      .select(col(idCol),
        transform(compLit, comp =>
          V.dotFast(col("cv"), comp)).as("pca"))
  }

  /** One-row quality gate, the house metric-oracle split: `d` and the
    * total per-dimension population variance are engine-independent (the
    * SQL oracle recomputes both — total variance equals the covariance
    * trace, Σⱼ var_pop(xⱼ)); the solver-dependent facts ride as booleans:
    * trace ≡ Σλ (the eigensolve conserved variance), component
    * orthonormality, and a variance-captured floor for the top r.
    */
  def metrics(df: DataFrame, vecCol: String, r: Int,
      varianceFloor: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val model = fit(df, vecCol, r)
    val captured = model.eigenvalues.take(r).sum
    val traceOk = math.abs(model.totalVariance - model.eigenvalues.sum) <=
      1e-8 * math.max(1.0, model.totalVariance)
    val orthoOk = {
      val c = model.components
      val bad = for {
        i <- c.indices; j <- i until c.length
        dot = c(i).zip(c(j)).map { case (a, b) => a * b }.sum
        expect = if (i == j) 1.0 else 0.0
        if math.abs(dot - expect) > 1e-9
      } yield (i, j)
      bad.isEmpty
    }
    Seq((model.mean.length.toLong,
      BigDecimal(model.totalVariance)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      traceOk, orthoOk,
      captured >= varianceFloor * model.totalVariance))
      .toDF("d", "total_var", "trace_ok", "orthonormal_ok", "var_captured_ok")
  }
}
