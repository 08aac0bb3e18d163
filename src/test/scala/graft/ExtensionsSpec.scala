package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.AutoBandedRangeJoin

/** GraftExtensions + AutoBandedRangeJoin: the rewrite must be invisible in
  * results and decisive in the plan (no BroadcastNestedLoopJoin).
  */
class ExtensionsSpec extends SparkSpec {

  private def withRule[A](binSize: Double, maxBins: Long = 100000L)(f: => A): A = {
    if (!spark.experimental.extraOptimizations.contains(AutoBandedRangeJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AutoBandedRangeJoin
    spark.conf.set(AutoBandedRangeJoin.BinSizeKey, binSize.toString)
    spark.conf.set(AutoBandedRangeJoin.MaxBinsKey, maxBins.toString)
    try f finally {
      spark.conf.unset(AutoBandedRangeJoin.BinSizeKey)
      spark.conf.unset(AutoBandedRangeJoin.MaxBinsKey)
    }
  }

  private def points = spark.range(0, 2000).select(
    col("id").as("pid"), (col("id") % 997 * 1.5).as("x"))
  private def ranges = spark.range(0, 40).select(
    col("id").as("rid"), (col("id") * 37.0).as("lo"), (col("id") * 37.0 + 55.0).as("hi"))

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("banded rewrite matches the naive range join exactly") {
    val naive = points.join(ranges, col("x") >= col("lo") && col("x") < col("hi"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(naive.nonEmpty)
    val rewritten = withRule(binSize = 37.0) {
      val df = points.join(ranges, col("x") >= col("lo") && col("x") < col("hi"))
        .select("pid", "rid")
      assert(!physical(df).contains("BroadcastNestedLoopJoin"),
        "rule must eliminate the nested-loop join:\n" + physical(df))
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    assert(rewritten.toSeq == naive.toSeq)
  }

  test("strictness variants and flipped operand order are preserved") {
    // r.lo < p.x AND p.x <= r.hi — bounds written from the range side
    val cond = col("lo") < col("x") && col("x") <= col("hi")
    val naive = points.join(ranges, cond).select("pid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val rewritten = withRule(binSize = 20.0) {
      val df = points.join(ranges, cond).select("pid", "rid")
      assert(!physical(df).contains("BroadcastNestedLoopJoin"))
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    assert(rewritten.toSeq == naive.toSeq)
  }

  test("joins with an equi key are left untouched") {
    withRule(binSize = 37.0) {
      val df = points.withColumn("k", col("pid") % 7)
        .join(ranges.withColumn("k", col("rid") % 7), Seq("k"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("_graft_band"), opt)
    }
  }

  test("disabled (binSize unset) leaves the plan alone") {
    val df = points.join(ranges, col("x") >= col("lo") && col("x") < col("hi"))
    assert(physical(df).contains("BroadcastNestedLoopJoin"))
  }

  test("a malformed binSize conf disables the rule instead of breaking the session") {
    // The conf is parsed inside the optimizer — a NumberFormatException
    // there would fail EVERY query on the session. Unparseable ⇒ disabled.
    if (!spark.experimental.extraOptimizations.contains(AutoBandedRangeJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AutoBandedRangeJoin
    spark.conf.set(AutoBandedRangeJoin.BinSizeKey, "1,000") // typo'd number
    try {
      val df = points.join(ranges,
        col("x") >= col("lo") && col("x") < col("hi"))
      assert(physical(df).contains("BroadcastNestedLoopJoin")) // untouched
      assert(df.count() > 0) // and unrelated queries keep working
      assert(spark.range(3).count() == 3)
    } finally spark.conf.unset(AutoBandedRangeJoin.BinSizeKey)
  }

  test("pathological fan-out raises instead of exploding") {
    withRule(binSize = 0.001, maxBins = 100L) {
      val df = points.join(ranges, col("x") >= col("lo") && col("x") < col("hi"))
      val e = intercept[Exception](df.count())
      assert(e.getMessage != null && e.getMessage.contains("bins"),
        s"expected the maxBins guard, got: ${e.getMessage}")
    }
  }

  test("spark.sql.extensions=graft.GraftExtensions wires functions and rule") {
    // The shared test session is built with
    // spark.sql.extensions=graft.GraftExtensions (SparkSpec) — the exact
    // cluster deployment wiring. Prove the injected surface is live with no
    // register call anywhere on this code path.
    val sig = spark.sql(
      "SELECT simhash_sig(array(1L, 2L, 3L)) AS s, " +
        "cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "nfc_normalize('\u00e9') AS n, " +
        "size(minhash_sig(array(1L, 2L), 16)) AS m, " +
        "adc_score(array(1, 0), array(array(0.1d, 0.2d), array(0.3d, 0.4d))) AS a, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head()
    assert(sig.getDouble(1) == 1.0)
    assert(sig.getString(2) == "\u00e9")
    assert(sig.getInt(3) == 16)
    assert(math.abs(sig.getDouble(4) - 0.5) < 1e-12) // 0.2 + 0.3
    assert(sig.getDouble(5) == 11.0) // 1·3 + 2·4
    val bq = spark.sql(
      "SELECT hamming_dist(sign_pack(array(1.0d, -1.0d)), " +
        "sign_pack(array(-1.0d, -1.0d))) AS h, " +
        "sig_match_count(array(1L, 2L), array(1L, 3L)) AS m, " +
        "lsh_bucket(array(1.0d, 2.0d), 4) AS b").head()
    assert(bq.getInt(0) == 1)
    assert(bq.getInt(1) == 1)
    assert(bq.getLong(2) >= 0L && bq.getLong(2) < 16L)
    val bpe = spark.sql(
      "SELECT bpe_apply(array('a','a','a','b'), 'a', 'a') AS t").head()
    assert(bpe.getSeq[String](0) == Seq("aa", "a", "b"))
    // gram front as a catalog function: matches the composed built-in form
    // (distinct k-shingle xxhash64 set of the canonical text)
    val gram = spark.sql(
      "SELECT gram_shingle_hashes('  The  QUICK fox ', 4) AS g, " +
        "array_distinct(transform(sequence(1, greatest(length(" +
        "regexp_replace(lower(trim('  The  QUICK fox ')), '\\\\s+', ' ')" +
        ") - 3, 1)), i -> xxhash64(substr(regexp_replace(lower(trim(" +
        "'  The  QUICK fox ')), '\\\\s+', ' '), i, 4)))) AS want").head()
    assert(gram.getSeq[Long](0) == gram.getSeq[Long](1),
      "gram_shingle_hashes must equal the composed form bit-for-bit")
    // optimizer rule injected at session build: active via conf alone,
    // without touching spark.experimental.extraOptimizations
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      before.filterNot(_ == AutoBandedRangeJoin)
    try {
      spark.conf.set(AutoBandedRangeJoin.BinSizeKey, "37.0")
      val df = points.join(ranges, col("x") >= col("lo") && col("x") < col("hi"))
        .select("pid", "rid")
      assert(!physical(df).contains("BroadcastNestedLoopJoin"))
      assert(df.count() == points.crossJoin(ranges)
        .where(col("x") >= col("lo") && col("x") < col("hi")).count())
    } finally {
      spark.conf.unset(AutoBandedRangeJoin.BinSizeKey)
      spark.experimental.extraOptimizations = before
    }
  }

  /** Classes Janino compiled while `f` ran. The counter is JVM-global; the
    * forked test JVM runs one suite at a time, so only `f` adds to it. */
  private def compiledDuring(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a fresh session reuses the classes another session compiled") {
    def aggregate(s: SparkSession): Array[org.apache.spark.sql.Row] =
      s.range(0, 5000).select((col("id") % 7).as("k"), (col("id") * 3).as("v"))
        .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
        .orderBy("k").collect()
    val first = aggregate(spark.newSession())
    var second: Array[org.apache.spark.sql.Row] = null
    val compiled = compiledDuring { second = aggregate(spark.newSession()) }
    assert(compiled == 0, "a second session recompiled the same stages")
    assert(second.toSeq == first.toSeq)
  }

  test("a warm stream query compiles nothing") {
    def run(): Int =
      SparkEntry.queries("ev_stream_tumbling")(spark, sf0001).collect().length
    val rows = run()
    var again = 0
    assert(compiledDuring { again = run() } == 0)
    assert(again == rows && rows > 0)
  }

  test("graft's Spark defaults fill only the keys a deployment left unset") {
    val Seq(isolation, cap) = GraftExtensions.SparkDefaults.map(_._1)
    val set = new SparkConf(false).set(isolation, "true").set(cap, "50")
    GraftExtensions.installSparkDefaults(set)
    assert(set.get(isolation) == "true" && set.get(cap) == "50")
    val unset = new SparkConf(false)
    GraftExtensions.installSparkDefaults(unset)
    assert(unset.get(isolation) == "false" && unset.get(cap) == "1000")
    // the shared test session is built with the extension, so it has both
    assert(spark.conf.get(isolation) == "false" && spark.conf.get(cap) == "1000")
  }
}
