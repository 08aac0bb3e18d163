package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableCatalog

/** File-source robustness: permissive (quarantine-column) reads of dirty
  * CSV / JSON-lines input. One malformed line must never abort an ingest —
  * it lands in `_corrupt_record` with the data columns null, and clean rows
  * parse unaffected.
  */
class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("price", DoubleType)))

  test("permissive CSV: clean rows parse, dirty rows quarantined") {
    val dir = Files.createTempDirectory("graft_csv_dirty_").toString
    Files.writeString(java.nio.file.Paths.get(dir, "part.csv"),
      """id,name,price
        |1,widget,9.99
        |2,gadget,not_a_number
        |3,gizmo,1.50
        |""".stripMargin)
    // cache first: Spark disallows filtering that references ONLY the
    // internal corrupt-record column of a lazy file scan
    val df = TableCatalog.loadCsvPermissive(spark, dir, schema).cache()
    try {
      val good = df.where(col(TableCatalog.CorruptRecordCol).isNull)
      val bad = df.where(col(TableCatalog.CorruptRecordCol).isNotNull)
      assert(good.count() == 2)
      assert(good.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
      assert(bad.count() == 1)
      val q = bad.head()
      assert(q.getAs[String](TableCatalog.CorruptRecordCol)
        .contains("not_a_number"))
      assert(q.isNullAt(q.fieldIndex("price")))
    } finally df.unpersist()
  }

  test("permissive JSON-lines: malformed lines quarantined verbatim") {
    val dir = Files.createTempDirectory("graft_json_dirty_").toString
    Files.writeString(java.nio.file.Paths.get(dir, "part.json"),
      """{"id": 1, "name": "widget", "price": 9.99}
        |{"id": 2, "name": "gadget", "price": }
        |not json at all
        |{"id": 3, "name": "gizmo", "price": 1.5}
        |""".stripMargin)
    val df = TableCatalog.loadJsonLinesPermissive(spark, dir, schema).cache()
    try {
      assert(df.where(col(TableCatalog.CorruptRecordCol).isNull).count() == 2)
      val bad = df.where(col(TableCatalog.CorruptRecordCol).isNotNull)
        .select(TableCatalog.CorruptRecordCol)
        .collect().map(_.getString(0))
      assert(bad.length == 2)
      assert(bad.exists(_.contains("not json at all")))
    } finally df.unpersist()
  }

  test("registerAll memoization re-registers when the sf dir changes") {
    val dirA = Files.createTempDirectory("graft_cat_a_").toString
    val dirB = Files.createTempDirectory("graft_cat_b_").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dirA/region.parquet")
    Seq((2L, "b")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dirB/region.parquet")
    val fromA = TableCatalog.sql(spark, dirA,
      "SELECT r_name FROM region").as[String].head()
    // second call with the SAME dir takes the memoized path
    TableCatalog.sql(spark, dirA, "SELECT r_name FROM region")
    // switching dirs must re-point the views, not reuse the memo
    val fromB = TableCatalog.sql(spark, dirB,
      "SELECT r_name FROM region").as[String].head()
    assert(fromA == "a" && fromB == "b")
  }

  test("strict schema-on-read still round-trips clean data (ORC)") {
    val dir = Files.createTempDirectory("graft_orc_rt_").toString
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").orc(dir)
    val back = TableCatalog.loadOrc(spark, dir, src.schema)
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("events loader is schema-adaptive: NANOS and MICROS fixtures both load") {
    // Testdata drift zeroed the whole SQL path in round 5: the driver's
    // events.parquet switched physical type TIMESTAMP(NANOS) → MICROS and
    // the loader had the old type hardcoded. This pins BOTH generations in
    // one suite so either drift direction fails here, not at the gate.
    import spark.implicits._
    val base = java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0)
    val rows = (1L to 5L).map(i =>
      (i, base.plusSeconds(i), 100L + i, s"type_$i", i * 1.5, s"{}"))

    // MICROS fixture (what the current driver testdata stores): Spark's own
    // writer emits TIMESTAMP(MICROS) for timestamp_ntz
    val microsDir = Files.createTempDirectory("graft_ev_micros_").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")

    // NANOS fixture (the previous generation): Spark cannot write
    // TIMESTAMP(NANOS), so build it with parquet-mr directly
    val nanosDir = Files.createTempDirectory("graft_ev_nanos_").toString
    TestFixtures.writeNanosEvents(s"$nanosDir/events.parquet", rows)

    for (dir <- Seq(microsDir, nanosDir)) {
      val ev = TableCatalog.load(spark, dir, "events")
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType,
        s"$dir: ts must normalize to timestamp_ntz, got ${ev.schema("ts")}")
      // registerAll (the round-5 crash site) + the SQL path end-to-end
      val got = TableCatalog.sql(spark, dir,
        "SELECT event_id, ts FROM events ORDER BY event_id")
        .as[(Long, java.time.LocalDateTime)].collect().toSeq
      assert(got == rows.map(r => (r._1, r._2)),
        s"$dir: values drifted through the loader")
    }
  }

  test("XML round-trips records through the Spark 4 native source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_t_").toString
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .limit(200)
    src.write.mode("overwrite").option("rowTag", "order").xml(dir)
    val back = TableCatalog.loadXml(spark, dir, src.schema, rowTag = "order")
    assert(back.count() == 200)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("registerAll holds no lock while another session's tables load") {
    // a copy of sf0.001 with each table as a directory, so the first load's
    // donor lookup lists it; the seam parks that listing on a latch
    val copy = Files.createTempDirectory("graft_regblock_")
    TableCatalog.AllTables.foreach { t =>
      val f = java.nio.file.Paths.get(sf0001, s"$t.parquet")
      if (Files.exists(f)) {
        val d = Files.createDirectories(copy.resolve(s"$t.parquet"))
        Files.copy(f, d.resolve("part-0.parquet"))
      }
    }
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    FsSeam.install("graft_regblock_", inner =>
      new org.apache.hadoop.fs.FilterFileSystem(inner) {
        override def listStatus(p: org.apache.hadoop.fs.Path) = {
          entered.countDown()
          release.await()
          super.listStatus(p)
        }
      })
    val blockedErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val blocked = new Thread(() =>
      try TableCatalog.registerAll(spark.newSession(), copy.toString)
      catch { case t: Throwable => blockedErr.set(t) })
    val other = spark.newSession()
    val otherDone = new java.util.concurrent.CountDownLatch(1)
    val runner = new Thread(() => {
      TableCatalog.registerAll(other, sf0001)
      otherDone.countDown()
    })
    try {
      blocked.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      runner.start()
      assert(otherDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "registerAll waited on another session's table loads")
      assert(other.table("nation").count() == 25)
    } finally {
      release.countDown()
      blocked.join()
      runner.join()
      FsSeam.uninstall()
    }
    assert(blockedErr.get == null, String.valueOf(blockedErr.get))
  }

  test("registerAll registers every table of a file: URI dir") {
    val s = spark.newSession()
    TableCatalog.registerAll(s, s"file:$sf0001")
    TableCatalog.AllTables.foreach(t =>
      assert(s.catalog.tableExists(t), s"$t not registered"))
    assert(s.table("nation").count() == 25)
    assert(s.table("events").schema("ts").dataType == TimestampNTZType)
  }

  test("a first registerAll runs no Spark job") {
    // new donor keys: the first load of each table misses FastParquet's memo
    val copy = TestFixtures.freshCopy(sf0001)
    val s = spark.newSession()
    val sentinel = "graft-regjobs-sentinel"
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
    spark.sparkContext.addSparkListener(listener)
    try {
      TableCatalog.registerAll(s, copy)
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every job registerAll started has been counted
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.isEmpty,
        s"registerAll ran ${jobs.size} Spark job(s): $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(s.table("region").count() == 5)
  }
}
