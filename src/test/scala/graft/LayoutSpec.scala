package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order layout: data is preserved, and per-file min/max pruning works on
  * BOTH interleaved columns — unlike a linear sort, which prunes only its
  * leading key.
  */
class LayoutSpec extends SparkSpec {

  test("saltsFor routes each z-run to its own partition (injective under " +
      "Spark's hash partitioning), and zCluster keeps files z-disjoint") {
    import spark.implicits._
    for (n <- Seq(4, 8, 16, 32)) {
      val salts = Layout.saltsFor(n)
      val parts = salts.toSeq.toDF("s")
        .repartition(n, col("s"))
        .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .distinct().count()
      assert(parts == n, s"saltsFor($n) must cover all $n partitions: $parts")
    }
    // file-level z-disjointness: every output file's (min,max) rectangle
    // on the z-run id is disjoint from every other file's — the property
    // pruning relies on, now guaranteed by construction instead of by the
    // sampled range partitioner
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val out = java.nio.file.Files.createTempDirectory("graft_zsj_").toString + "/t"
    Layout.writeZOrdered(li, out, Seq("l_partkey", "l_suppkey"),
      bits = 4, numFiles = 8)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val spans = files.map { f =>
      val r = spark.read.parquet(f).agg(
        min(col("l_partkey")), max(col("l_partkey"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // z-contiguity makes per-file partkey spans far narrower than the
    // global span (the pruning lever): 8 files = 32-cell Morton tiles,
    // each spanning 8 of the 16 partkey buckets ≈ half the global span
    // (plus quantile-edge slack)
    val global = li.agg(max(col("l_partkey")) - min(col("l_partkey")))
      .head().getLong(0)
    val worst = spans.map(s => s._2 - s._1).max
    assert(worst <= (global * 7) / 10,
      s"per-file z spans must be compact: worst=$worst global=$global")
  }

  test("z-ordered write preserves the data exactly") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    val out = java.nio.file.Files.createTempDirectory("graft_z_").toString + "/t"
    Layout.writeZOrdered(li, out, Seq("l_partkey", "l_suppkey"),
      bits = 4, numFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == li.count())
    assert(back.agg(sum("l_quantity")).head().getDouble(0) ==
      li.agg(sum("l_quantity")).head().getDouble(0))
  }

  test("z-cluster + snapshot stats: readRange opens a minority of files") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val t = java.nio.file.Files.createTempDirectory("graft_zsnap_")
      .resolve("li").toString
    graft.sinks.SnapshotLake.commitAppend(
      Layout.zCluster(li, Seq("l_partkey", "l_suppkey"), bits = 4, numFiles = 8),
      t, statsCols = Seq("l_partkey", "l_suppkey"))
    val total = graft.sinks.SnapshotLake.read(spark, t).inputFiles.length
    val (lo, hi) = {
      val r = li.stat.approxQuantile("l_suppkey", Array(0.1, 0.2), 0.001)
      (r(0), r(1))
    }
    val pruned = graft.sinks.SnapshotLake.readRange(spark, t, "l_suppkey", lo, hi)
    assert(pruned.inputFiles.length < total,
      s"manifest skipping on the secondary z-column must prune: " +
        s"${pruned.inputFiles.length}/$total")
    assert(pruned.count() ==
      li.where(col("l_suppkey") >= lo && col("l_suppkey") <= hi).count())
  }

  test("z-order prunes files on both columns; linear sort only on its key") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("graft_z2_").toString
    val nFiles = 8
    Layout.writeZOrdered(li, s"$base/z", Seq("l_partkey", "l_suppkey"),
      bits = 4, numFiles = nFiles)
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(s"$base/linear")
    // narrow range on the SECONDARY column, placed inside the first
    // quantile quarter so it does not straddle a top-level z split
    val (lo, hi) = {
      val r = li.stat.approxQuantile("l_suppkey", Array(0.1, 0.2), 0.001)
      (r(0), r(1))
    }
    val zCand = Layout.candidateFiles(spark, s"$base/z", "l_suppkey", lo, hi)
    val linCand = Layout.candidateFiles(spark, s"$base/linear", "l_suppkey", lo, hi)
    assert(linCand >= nFiles - 1,
      s"linear layout should NOT prune on the secondary column (got $linCand/$nFiles)")
    assert(zCand < linCand,
      s"z-order must prune on the secondary column: z=$zCand linear=$linCand")
    // the z layout still prunes on the primary column too
    val (plo, phi) = {
      val r = li.stat.approxQuantile("l_partkey", Array(0.1, 0.2), 0.001)
      (r(0), r(1))
    }
    val zPrimary = Layout.candidateFiles(spark, s"$base/z", "l_partkey", plo, phi)
    assert(zPrimary < nFiles, s"z-order must prune on the primary column too: $zPrimary")
  }

  test("same-bucketed tables join with no exchange and no sort") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_bkt_")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    try {
      Layout.writeBucketed(orders, "graft_bkt_orders",
        s"$base/orders", Seq("o_orderkey"), numBuckets = 8)
      Layout.writeBucketed(li, "graft_bkt_li",
        s"$base/li", Seq("o_orderkey"), numBuckets = 8)
      // force the non-broadcast path: at fixture scale the planner would
      // broadcast (and rightly skip bucketing); at 100 TB fact-to-fact
      // scale broadcast is off the table and THIS is the plan that runs
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sound because writeBucketed guarantees ONE file per bucket — the
      // reason Spark gates scan-reported ordering behind this flag
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = Layout.bucketedEquiJoin(spark,
        "graft_bkt_orders", "graft_bkt_li", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(!plan.contains("Sort "), s"bucket sort order must be reused:\n$plan")
      assert(joined.count() ==
        orders.join(li, Seq("o_orderkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_li")
    }
  }
}
