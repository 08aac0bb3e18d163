package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc measurement behind the dedup_semantic floor: the resolved
  * fraction of label-blocked truth pairs per SF and cluster count.
  * Measured (nLists=8, 2 Lloyd iters, τ=0.3): 0.66 / 0.84 / 0.95 at
  * sf0.001 / 0.01 / 0.1 — recall rises with corpus density; fewer, larger
  * cells trade mine cost for recall. `runMain graft.tools.SemProbe`.
  */
object SemProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); nl <- Seq(8, 16)) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val dd = graft.operators.Dedup
        .semanticDedup(emb, "vec_id", "embedding", nl, 2, 0.3)
      val removed = dd.where(col("removed")).select(col("vec_id").as("rid"))
      val truth = graft.operators.Dedup
        .embeddingNearDupPairs(emb, "vec_id", "embedding", "label", 0.3)
      val resolved = truth
        .join(removed.select(col("rid").as("id_a"), lit(true).as("ra")),
          Seq("id_a"), "left")
        .join(removed.select(col("rid").as("id_b"), lit(true).as("rb")),
          Seq("id_b"), "left")
        .where(coalesce(col("ra"), lit(false)) ||
          coalesce(col("rb"), lit(false)))
        .count()
      val nT = truth.count()
      println(s"[semprobe] $sf nLists=$nl truth=$nT resolved=$resolved " +
        f"frac=${resolved.toDouble / nT}%.3f")
    }
    // incremental (batch-vs-persisted-index) flagged fraction, by nProbe
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); nProbe <- Seq(1, 2, 3)) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val path = java.nio.file.Files.createTempDirectory("graft_sdi_").toString
      graft.operators.Similarity.ivfWrite(corpus, "vec_id", "embedding",
        path, nLists = 8, kMeansIters = 2)
      val flagged = graft.operators.Dedup.semanticDedupIncremental(
        batch, path, "vec_id", "embedding", 0.3, nProbe)
        .where(col("dup")).select(col("vec_id").as("id_b"))
      val b = batch.select(col("label").as("blk"), col("vec_id").as("id_b"),
        col("embedding").as("v_b"))
      val c = corpus.select(col("label").as("blk"), col("vec_id").as("id_c"),
        col("embedding").as("v_c"))
      val truth = b.join(c, "blk").where(round(
        graft.functions.VectorFunctions.cosineFast(
          col("v_b"), col("v_c")), 6) >= 0.3)
        .select(col("id_b")).distinct()
      val nT = truth.count()
      val nF = truth.join(flagged.distinct(), Seq("id_b"), "left_semi").count()
      println(s"[semprobe] incr $sf nProbe=$nProbe truthB=$nT flaggedB=$nF " +
        f"frac=${nF.toDouble / nT}%.3f")
    }
    spark.stop()
  }
}
