package graft

import graft.sinks.LakeWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `LakeWriter.registerInCatalog` of a partitioned layout: it adds exactly
  * the partitions `ALTER TABLE … RECOVER PARTITIONS` adds, and it runs no
  * Spark job doing so.
  */
class CatalogRegistrationSpec extends SparkSpec {
  import spark.implicits._

  private val db = "graft_catreg"

  /** A K2 layout over two months of lineitem (the second appended to the
    * first's path) and a K3 layout whose values need path escaping, with a
    * null value; 14 K3 partitions, more than RECOVER PARTITIONS lists on
    * the driver. Returns (name, path, partition columns, landed schema). */
  private lazy val layouts: Seq[(String, String, Seq[String], StructType)] = {
    val base = java.nio.file.Files.createTempDirectory("graft_catreg_").toString
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    def month(from: String, to: String): DataFrame =
      li.where(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
    LakeWriter.write(month("1995-01-01", "1995-02-01"), base, "k2",
      Some("l_shipdate"), 0L)
    val k2 = LakeWriter.write(month("1995-02-01", "1995-03-01"), base, "k2",
      Some("l_shipdate"), 0L)
    val values = Seq[String]("a/b", "x y", "50%", null) ++ (0 until 10).map(i => s"v$i")
    val k3 = LakeWriter.write(values.zipWithIndex.toDF("k", "n"), base, "k3",
      Some("k"), 0L)
    Seq(("k2", k2.path, k2.partitionColumns, k2.schema),
      ("k3", k3.path, k3.partitionColumns, k3.schema))
  }

  private def partitions(table: String): Set[(Map[String, String], java.net.URI)] =
    spark.sessionState.catalog.listPartitions(TableIdentifier(table, Some(db)))
      .map(p => p.spec -> p.location).toSet

  test("registered partitions equal RECOVER PARTITIONS' over the same path " +
      "(K2 strings, escaped K3 values, a null value, an appended path)") {
    layouts.foreach { case (name, path, partCols, schema) =>
      LakeWriter.registerInCatalog(spark, db, name, path, partCols, schema)
      val twin = s"${name}_recovered"
      val parts = partCols.toSet
      val cols = (schema.filterNot(f => parts(f.name)) ++
        schema.filter(f => parts(f.name)))
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"DROP TABLE IF EXISTS $db.$twin")
      spark.sql(s"CREATE TABLE $db.$twin ($cols) USING PARQUET " +
        s"PARTITIONED BY (${partCols.mkString(", ")}) LOCATION '$path'")
      spark.sql(s"ALTER TABLE $db.$twin RECOVER PARTITIONS")
      val got = partitions(name)
      assert(got.nonEmpty)
      assert(got == partitions(twin), s"$name: partitions differ")
      assert(spark.table(s"$db.$name").count() ==
        spark.read.parquet(path).count())
    }
    val k3 = partitions("k3").map(_._1("k"))
    assert(Set("a/b", "x y", "50%", "__HIVE_DEFAULT_PARTITION__").subsetOf(k3), k3)
    assert(partitions("k2").map(p => p._1("month")) == Set("1", "2"))
    assert(spark.table(s"$db.k3").where(col("k") === "a/b").count() == 1)
    assert(spark.table(s"$db.k3").where(col("k").isNull).count() == 1)
  }

  test("registering a partitioned path runs no Spark job") {
    val sentinel = "graft-catreg-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(sentinel)) sentinelSeen.countDown()
        else jobs.add(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
      }
    }
    val staged = layouts
    spark.sparkContext.addSparkListener(listener)
    try {
      staged.foreach { case (name, path, partCols, schema) =>
        LakeWriter.registerInCatalog(spark, db, s"${name}_nojob", path,
          partCols, schema)
      }
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every job registration started has been counted
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.isEmpty,
        s"registerInCatalog ran ${jobs.size} Spark job(s): $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    staged.foreach { case (name, path, _, _) =>
      assert(partitions(s"${name}_nojob").nonEmpty)
      assert(spark.table(s"$db.${name}_nojob").count() ==
        spark.read.parquet(path).count())
    }
  }
}
