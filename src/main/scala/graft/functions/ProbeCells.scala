package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Precompiled centroid model for [[ProbeCellsExpr]]: the flat or two-level
  * IVF centroid set as primitive arrays, shipped to executors inside the
  * expression (the same data the composable form bakes into plan literals —
  * the > joinThreshold broadcast-JOIN regime stays the no-literal scale
  * path). `superProbe == 0` marks the flat regime.
  *
  * Selection semantics replicate the composable
  * `slice(transform(array_sort(scored), _.cid), 1, k)` pipeline exactly:
  * candidates ordered by (−sim asc, cid asc) with Spark's double ordering
  * ([[SQLOrderingUtil.compareDoubles]] — the comparator `array_sort` uses
  * for struct<double,long> elements), cosine against a (dv, v_norm) row
  * with the −2.0 zero-denominator sentinel of `Similarity.simTo`.
  */
final class ProbeCellsModel(
    val superVecs: Array[Array[Double]], val superNorms: Array[Double],
    val childIds: Array[Array[Long]],
    val childVecs: Array[Array[Array[Double]]],
    val childNorms: Array[Array[Double]],
    val superProbe: Int, val nProbe: Int) extends Serializable {

  private def lessThan(na: Double, ca: Long, nb: Double, cb: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(na, nb)
    c < 0 || (c == 0 && ca < cb)
  }

  private def dot(x: Array[Double], c: Array[Double]): Double = {
    val n = math.min(x.length, c.length)
    var s = 0.0; var i = 0
    while (i < n) { s += x(i) * c(i); i += 1 }
    s
  }

  /** −cosine(x, centroid) with the simTo sentinel (sim −2 → neg 2). */
  private def negSim(x: Array[Double], xNorm: Double, c: Array[Double],
      cNorm: Double): Double = {
    val denom = xNorm * cNorm
    if (denom == 0.0) 2.0 else -(dot(x, c) / denom)
  }

  /** Exact sorted top-k by (neg, cid): repeated min-selection — k and n are
    * both small (k ≤ nProbe, n ≤ children of the probed supers), so k·n
    * primitive compares beat a boxed sort. Returns cids, best first. */
  private def topK(neg: Array[Double], cid: Array[Long], k: Int): Array[Long] = {
    val n = neg.length
    val out = new Array[Long](math.min(k, n))
    val used = new Array[Boolean](n)
    var o = 0
    while (o < out.length) {
      var best = -1
      var i = 0
      while (i < n) {
        if (!used(i) &&
          (best < 0 || lessThan(neg(i), cid(i), neg(best), cid(best)))) best = i
        i += 1
      }
      used(best) = true; out(o) = cid(best); o += 1
    }
    out
  }

  def probe(dv: ArrayData, vNorm: Double): ArrayData = {
    val x = dv.toDoubleArray()
    var nCand = 0
    val groups: Array[Int] =
      if (superProbe == 0) { nCand = childIds(0).length; Array(0) }
      else {
        val nS = superVecs.length
        val sNeg = new Array[Double](nS)
        val sCid = new Array[Long](nS)
        var s = 0
        while (s < nS) {
          sNeg(s) = negSim(x, vNorm, superVecs(s), superNorms(s))
          sCid(s) = s.toLong // super ids ARE 0-based indexes (IvfHierarchy)
          s += 1
        }
        val top = topK(sNeg, sCid, superProbe)
        val gs = new Array[Int](top.length)
        var g = 0
        while (g < gs.length) {
          gs(g) = top(g).toInt; nCand += childIds(gs(g)).length; g += 1
        }
        gs
      }
    val neg = new Array[Double](nCand)
    val cid = new Array[Long](nCand)
    var o = 0; var g = 0
    while (g < groups.length) {
      val gi = groups(g)
      val ids = childIds(gi); val vecs = childVecs(gi); val norms = childNorms(gi)
      var i = 0
      while (i < ids.length) {
        neg(o) = negSim(x, vNorm, vecs(i), norms(i))
        cid(o) = ids(i)
        o += 1; i += 1
      }
      g += 1
    }
    new GenericArrayData(topK(neg, cid, nProbe))
  }
}

object ProbeCellsModel {
  def flat(cents: Seq[(Long, Seq[Double], Double)],
      nProbe: Int): ProbeCellsModel =
    new ProbeCellsModel(
      Array.empty, Array.empty,
      Array(cents.map(_._1).toArray),
      Array(cents.map(_._2.toArray).toArray),
      Array(cents.map(_._3).toArray),
      0, nProbe)

  def hier(supers: Seq[(Long, Seq[Double], Double)],
      children: Seq[Seq[(Long, Seq[Double], Double)]],
      superProbe: Int, nProbe: Int): ProbeCellsModel =
    new ProbeCellsModel(
      supers.map(_._2.toArray).toArray, supers.map(_._3).toArray,
      children.map(_.map(_._1).toArray).toArray,
      children.map(_.map(_._2.toArray).toArray).toArray,
      children.map(_.map(_._3).toArray).toArray,
      superProbe, nProbe)
}

/** Fused IVF probe selection: the whole per-row `nProbe`-nearest-cells
  * computation (super scoring, child scoring, (−sim, cid) ordering, slice)
  * as ONE primitive pass. The composable pipeline it replaces —
  * `transform` + `array_sort` + `flatten` over centroid-struct literals —
  * runs entirely in interpreted HigherOrderFunctions: per (row, centroid)
  * it allocated a scored struct and paid interpreted lambda eval, which an
  * isolated probe (BASELINE.md round 9: 1M rows × nLists=1024, d=64)
  * measured at
  * ~6.7 µs/row — an order of magnitude over the raw flop cost. This
  * expression sits on every IVF/IVFADC corpus write (cell assignment is
  * `nProbe = 1`) and every literal-regime batch probe. Bit-identity with
  * the composable form is differential-spec'd (PlanAuditSpec), including
  * cosine-tie cid ordering. Null if dv or v_norm is null.
  */
case class ProbeCellsExpr(left: Expression, right: Expression,
    model: ProbeCellsModel)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(dv: Any, vNorm: Any): Any =
    model.probe(dv.asInstanceOf[ArrayData],
      vNorm.asInstanceOf[java.lang.Double].doubleValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeModel", model,
      classOf[ProbeCellsModel].getName)
    nullSafeCodeGen(ctx, ev, (dv, vn) =>
      s"${ev.value} = $ref.probe($dv, $vn);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "probe_cells"
}
