package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{AdcScore, BpeApply, CosineSim, DotProduct, GramShingleHashes, MinHashSig, NfcNormalize, SigMatchCount, SimHashSig}
import graft.plans.{AutoBandedRangeJoin, TopKPerKeyStrategy}

/** The engine's `SparkSessionExtensions` injector — the deployment story for
  * a cluster where user sessions are created by the platform, not by graft
  * code (the reference's posture too: its query slot receives arbitrary SQL
  * from plan files, `etl/query_runner.py:32-41`). With
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * every session on the cluster gets, with no code changes:
  *
  *  - the graft scalar functions (see [[GraftExtensions.functions]]) as
  *    REAL catalog functions — visible to plain SQL, `DESCRIBE FUNCTION`,
  *    and views; and
  *  - [[graft.plans.AutoBandedRangeJoin]], which turns equality-free range
  *    joins from O(n x m) BroadcastNestedLoopJoin into banded equi-joins
  *    (opt-in per `spark.graft.rangeJoin.binSize`); and
  *  - [[graft.plans.TopKPerKeyStrategy]], planning the [[graft.plans.TopKPerKey]]
  *    logical node as partial+final bounded-heap execs (k rows per key per
  *    partition reach the shuffle, vs the window form's full-data shuffle);
  *    and
  *  - [[graft.fs.LocalFs]] as the `file://` FileSystem (and
  *    [[graft.fs.LocalAfs]] for `FileContext`) on the SparkContext's Hadoop
  *    configuration, unless the deployment configured its own. Spark ships
  *    without `libhadoop`, so the stock local FileSystem forks `chmod` for
  *    every file a lake write creates and `readlink` for every streaming
  *    checkpoint rename; graft's answers both through `java.nio`. The
  *    extension runs before Hadoop caches the `file://` instance (that
  *    happens when the session's shared state is built), so every local
  *    write of the session goes through it; and
  *  - two Spark defaults on the SparkContext's `SparkConf`
  *    ([[GraftExtensions.SparkDefaults]]) that keep a warm query from
  *    compiling its generated code again. Spark keys its code-generation
  *    cache by (task class loader, source text):
  *     - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
  *       every session gets its own executor class loader, so a new
  *       session (`newSession()`, which each stream query opens) compiles
  *       every executor-side class again even when the source is the same.
  *       graft adds no per-session artifacts (no `addArtifact`, no Spark
  *       Connect);
  *     - `spark.sql.codegen.cache.maxEntries=1000`, 10× Spark's default: a
  *       cold pass over one query of each family compiles about 170
  *       classes, and the cache splits its cap over 4 LRU segments, so at
  *       100 entries every pass evicts what the next one needs.
  *    The extension runs before the session's shared state copies the
  *    `SparkConf` and before the JVM's first compile, so both take effect.
  *    Spark reads the cache cap once per JVM, at its first compile: a
  *    session built after that keeps the cap the first one had.
  *
  * Each default (the `LocalFs` keys too) applies only where the deployment
  * left the key unset: a value the deployment configured is kept. A
  * deployment that needs per-session artifacts sets
  * `spark.sql.artifact.isolation.enabled=true` itself.
  *
  * Injection is configuration, applied uniformly at session build — no
  * ordering hazard between registration and first query. Graft's own
  * Column helpers ([[graft.functions.VectorFunctions]],
  * [[graft.functions.SketchFunctions]]) build the same expressions
  * directly, so they work in sessions without the extension too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => AutoBandedRangeJoin)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftSqlBridge.activeContext.foreach { sc =>
      graft.fs.LocalFs.install(sc.hadoopConfiguration)
      GraftExtensions.installSparkDefaults(GraftSqlBridge.conf(sc))
    }
  }
}

object GraftExtensions {

  /** The Spark keys graft sets where the deployment left them unset (see
    * the class doc for why each). */
  private[graft] val SparkDefaults: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  private[graft] def installSparkDefaults(conf: SparkConf): Unit =
    SparkDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }

  /** The catalog functions every session gets, as injector builders. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("gram_shingle_hashes"),
      new ExpressionInfo(classOf[GramShingleHashes].getName,
        "gram_shingle_hashes"),
      (es: Seq[Expression]) => es match {
        case Seq(s, Literal(k: Int, IntegerType)) => GramShingleHashes(s, k)
        case Seq(s) => GramShingleHashes(s, 8)
        case _ => throw new IllegalArgumentException(
          "gram_shingle_hashes(text[, k])")
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => es match {
        case Seq(s) => NfcNormalize(s)
        case _ => throw new IllegalArgumentException("nfc_normalize(str)")
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (es: Seq[Expression]) => es match {
        case Seq(h) => MinHashSig(h, 64, 42L)
        case Seq(h, n) => MinHashSig(h, intLit(n), 42L)
        case Seq(h, n, s) => MinHashSig(h, intLit(n), longLit(s))
        case _ => throw new IllegalArgumentException(
          "minhash_sig(hashes[, numPerm[, seed]])")
      }),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      (es: Seq[Expression]) => es match {
        case Seq(h) => SimHashSig(h)
        case _ => throw new IllegalArgumentException("simhash_sig(hashes)")
      }),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (es: Seq[Expression]) => es match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException("cosine_sim(vec, vec)")
      }),
    (FunctionIdentifier("sign_pack"),
      new ExpressionInfo(classOf[graft.functions.SignPack].getName,
        "sign_pack"),
      (es: Seq[Expression]) => es match {
        case Seq(v) => graft.functions.SignPack(v)
        case _ => throw new IllegalArgumentException("sign_pack(vec)")
      }),
    (FunctionIdentifier("hamming_dist"),
      new ExpressionInfo(classOf[graft.functions.HammingDist].getName,
        "hamming_dist"),
      (es: Seq[Expression]) => es match {
        case Seq(a, b) => graft.functions.HammingDist(a, b)
        case _ => throw new IllegalArgumentException(
          "hamming_dist(bits, bits)")
      }),
    (FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[graft.functions.LshBucketExpr].getName,
        "lsh_bucket"),
      (es: Seq[Expression]) => es match {
        case Seq(v, Literal(n: Int, IntegerType)) =>
          graft.functions.LshBucketExpr(v, n)
        case _ => throw new IllegalArgumentException(
          "lsh_bucket(vec, nBits literal)")
      }),
    (FunctionIdentifier("sig_match_count"),
      new ExpressionInfo(classOf[SigMatchCount].getName, "sig_match_count"),
      (es: Seq[Expression]) => es match {
        case Seq(a, b) => SigMatchCount(a, b)
        case _ => throw new IllegalArgumentException(
          "sig_match_count(sig, sig)")
      }),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => es match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException("dot_product(vec, vec)")
      }),
    (FunctionIdentifier("adc_score"),
      new ExpressionInfo(classOf[AdcScore].getName, "adc_score"),
      (es: Seq[Expression]) => es match {
        case Seq(c, t) => AdcScore(c, t)
        case _ => throw new IllegalArgumentException(
          "adc_score(codes, table)")
      }),
    (FunctionIdentifier("bpe_apply"),
      new ExpressionInfo(classOf[BpeApply].getName, "bpe_apply"),
      (es: Seq[Expression]) => es match {
        case Seq(arr, a, b) => BpeApply(arr, Seq((strLit(a), strLit(b))))
        case _ => throw new IllegalArgumentException(
          "bpe_apply(symbols, a, b) — one merge; chain calls for a table")
      }))

  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other =>
      throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def strLit(e: Expression): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other =>
      throw new IllegalArgumentException(s"expected string literal, got $other")
  }
  private def longLit(e: Expression): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other =>
      throw new IllegalArgumentException(s"expected long literal, got $other")
  }
}
