package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Property tests for the primitive-pass Catalyst expressions against
  * independently written driver-side references (same arithmetic, naive
  * Scala loops): random float vectors — including empties, exact zeros,
  * ±0.0, and saturating magnitudes — exercise the promotion, the
  * i-ascending accumulation order, the zero-norm sentinel branches, and
  * the packed-bit math that the corpus-data differentials in
  * PlanAuditSpec cannot force. Each sample ships a BATCH of vectors
  * through one Spark job so the trial count stays tractable.
  */
class ExpressionPropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(15)

  // every check also runs on a fresh session that is not the active one:
  // the fast columns must not depend on which session is active
  private lazy val sessions = Seq(spark, spark.newSession())

  // element gen with deliberate exact-0 / negative-zero mass
  private val elemGen: Gen[Float] = Gen.frequency(
    (6, Gen.chooseNum(-5.0f, 5.0f)),
    (1, Gen.const(0.0f)),
    (1, Gen.const(-0.0f)))

  private val pairsGen: Gen[List[(Array[Float], Array[Float])]] =
    Gen.choose(1, 20).flatMap(n => Gen.listOfN(n,
      Gen.choose(0, 67).flatMap { d =>
        for {
          a <- Gen.listOfN(d, elemGen)
          b <- Gen.listOfN(d, elemGen)
        } yield (a.toArray, b.toArray)
      }))

  private def refDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      s += a(i).toDouble * b(i).toDouble; i += 1
    }
    s
  }
  private def refNorm(a: Array[Float]): Double =
    math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
  private def refUnit(a: Array[Float]): Seq[Double] = {
    val n = refNorm(a)
    if (n == 0.0) a.map(_.toDouble).toSeq else a.map(_.toDouble / n).toSeq
  }

  test("dot/norm/unit expressions equal the driver references on random vectors") {
    val prop = Prop.forAll(pairsGen) { pairs => sessions.forall { s =>
      val df = s.createDataFrame(pairs).toDF("a", "b")
      val got = df.select(
        V.dotFast(col("a"), col("b")).as("dot"),
        V.normFast(col("a")).as("nrm"),
        V.unitFast(col("a")).as("unit")).collect()
      got.zip(pairs).forall { case (r, (a, b)) =>
        r.getDouble(0) == refDot(a, b) &&
          r.getDouble(1) == refNorm(a) &&
          r.getSeq[Double](2) == refUnit(a)
      }
    }}
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("sign_pack/hamming_dist equal the driver bit math on random vectors") {
    def refPack(a: Array[Float]): Seq[Long] = {
      val words = new Array[Long]((a.length + 63) / 64)
      a.zipWithIndex.foreach { case (x, i) =>
        if (x >= 0.0f) words(i / 64) |= (1L << (i % 64))
      }
      words.toSeq
    }
    val prop = Prop.forAll(pairsGen) { pairs =>
      val nonEmpty = pairs.filter(_._1.nonEmpty)
      nonEmpty.isEmpty || sessions.forall { s =>
        val df = s.createDataFrame(nonEmpty).toDF("a", "b")
        val got = df.select(
          V.signPack(col("a")).as("pa"),
          V.hammingDist(V.signPack(col("a")),
            V.signPack(col("b"))).as("h")).collect()
        got.zip(nonEmpty).forall { case (r, (a, b)) =>
          r.getSeq[Long](0) == refPack(a) &&
            r.getInt(1) == refPack(a).zip(refPack(b))
              .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
        }
      }
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("sig_match_count / adc_score equal the driver references") {
    val sigGen: Gen[List[(Array[Long], Array[Long])]] =
      Gen.choose(1, 20).flatMap(n => Gen.listOfN(n,
        Gen.choose(0, 40).flatMap { d =>
          for {
            a <- Gen.listOfN(d, Gen.chooseNum(-3L, 3L))
            b <- Gen.listOfN(d, Gen.chooseNum(-3L, 3L))
          } yield (a.toArray, b.toArray)
        }))
    val adcGen: Gen[List[(Array[Int], Seq[Seq[Double]])]] =
      Gen.choose(1, 15).flatMap(n => Gen.listOfN(n,
        for {
          m <- Gen.choose(1, 8)
          ksub <- Gen.choose(1, 6)
          codes <- Gen.listOfN(m, Gen.choose(0, ksub - 1))
          table <- Gen.listOfN(m, Gen.listOfN(ksub,
            Gen.chooseNum(-2.0, 2.0)))
        } yield (codes.toArray, table.map(_.toSeq))))
    val prop = Prop.forAll(sigGen, adcGen) { (sigs, adcs) =>
      sessions.forall { s =>
        val sigOk = {
          val got = s.createDataFrame(sigs).toDF("a", "b").select(
            graft.functions.SketchFunctions.sig_match_count(
              col("a"), col("b")).as("m")).collect()
          got.zip(sigs).forall { case (r, (a, b)) =>
            r.getInt(0) == a.zip(b).count { case (x, y) => x == y } }
        }
        val adcOk = {
          val got = s.createDataFrame(adcs).toDF("codes", "table").select(
            V.adcFast(col("codes"), col("table")).as("s")).collect()
          got.zip(adcs).forall { case (r, (codes, table)) =>
            val ref = codes.zipWithIndex.foldLeft(0.0) {
              case (acc, (c, j)) => acc + table(j)(c) }
            r.getDouble(0) == ref
          }
        }
        sigOk && adcOk
      }
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
