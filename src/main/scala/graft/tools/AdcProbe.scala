package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B probe for the ADC sweep expression: the composable
  * aggregate(zip_with(...)) higher-order form vs the primitive-pass
  * AdcScore Catalyst expression, on an isolated synthetic sweep (the
  * training/write cost that dominates the gates is absent here, so the
  * delta IS the expression cost). Also asserts bit-identity on the run.
  */
object AdcProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val m = 16; val ksub = 32
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qtable = (0 until m).map(j => (0 until ksub).map(c =>
      (j * ksub + c).toDouble / (m * ksub)))
    val rows = spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(m - 1)),
        j => pmod(xxhash64(col("id"), j), lit(ksub)).cast("int"))
        .as("codes"))
      .localCheckpoint(true)
    val hof = aggregate(zip_with(col("codes"), typedLit(qtable),
      (c, row) => element_at(row, c + 1)), lit(0.0), _ + _)
    val fast = graft.functions.VectorFunctions.adcFast(
      col("codes"), typedLit(qtable))
    def time(label: String)(f: => Double): Double = {
      val t0 = System.nanoTime()
      val s = f
      System.err.println(
        f"[adc] $label%-14s ${(System.nanoTime() - t0) / 1e9}%8.2fs sum=$s%.6f")
      s
    }
    // warm both paths once, then measure twice each
    time("hof warmup") { rows.agg(sum(hof)).head().getDouble(0) }
    time("fast warmup") { rows.agg(sum(fast)).head().getDouble(0) }
    val a = time("hof") { rows.agg(sum(hof)).head().getDouble(0) }
    val b = time("fast") { rows.agg(sum(fast)).head().getDouble(0) }
    time("hof") { rows.agg(sum(hof)).head().getDouble(0) }
    time("fast") { rows.agg(sum(fast)).head().getDouble(0) }
    assert(a == b, s"bit-identity violated: $a vs $b")
    spark.stop()
  }
}
