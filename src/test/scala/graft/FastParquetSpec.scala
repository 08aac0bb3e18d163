package graft

import org.apache.spark.sql.functions._
import graft.sources.FastParquet

/** Schema-memoized parquet reads: the memo must be invisible (same
  * schema/rows as a plain read), the r17 (path, mtime, length) cache key
  * must re-read when a donor file is overwritten in place — the r16
  * VERDICT staleness hazard — and the driver-side footer schema a first
  * read resolves must equal what Spark's inference job would give, for
  * every layout graft reads through the memo.
  */
class FastParquetSpec extends SparkSpec {
  import spark.implicits._

  test("memoized read ≡ plain read (schema and rows), repeated reads hit " +
      "the cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t")
    val plain = spark.read.parquet(s"$dir/t")
    val memo1 = FastParquet.read(spark, s"$dir/t")
    val memo2 = FastParquet.read(spark, s"$dir/t")
    assert(memo1.schema == plain.schema && memo2.schema == plain.schema)
    assert(memo2.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
  }

  test("an in-place-overwritten donor triggers re-inference (key carries " +
      "mtime and length)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp2_").toString
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$dir/a")
    Seq((7L, 9.5, true)).toDF("id", "d", "b").write.parquet(s"$dir/b")
    // prime the cache for a's donor
    assert(FastParquet.read(spark, s"$dir/a").schema.fieldNames.toSeq ==
      Seq("id", "s"))
    // overwrite a's donor file IN PLACE with b's (different schema);
    // bump mtime explicitly so the test never races clock granularity
    def parquetFile(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName).toPath
    val donorA = parquetFile(s"$dir/a")
    java.nio.file.Files.copy(parquetFile(s"$dir/b"), donorA,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the now-stale Hadoop checksum sidecar of the replaced donor
    java.nio.file.Files.deleteIfExists(
      donorA.resolveSibling("." + donorA.getFileName.toString + ".crc"))
    java.nio.file.Files.setLastModifiedTime(donorA,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val after = FastParquet.read(spark, s"$dir/a")
    assert(after.schema.fieldNames.toSet == Set("id", "d", "b"),
      s"overwritten donor must re-infer, got ${after.schema.fieldNames.toSeq}")
  }

  test("expectCols mismatch falls back to plain inference (schema " +
      "evolution keeps its columns)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp3_").toString
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$dir/t")
    FastParquet.read(spark, s"$dir/t").collect() // prime with (id, s)
    val df = FastParquet.read(spark, Seq(s"$dir/t"),
      expectCols = Some(Seq("id", "s", "extra")))
    // fallback = plain read of the actual files (no phantom columns, no
    // stale-cache drop): same fields as plain inference
    assert(df.schema.fieldNames.toSet == Set("id", "s"))
  }

  /** A first (memo-missing) read resolves exactly the inferred schema, or
    * fails with the same error as inference. */
  private def assertParity(s: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    def outcome(f: => org.apache.spark.sql.types.StructType) =
      scala.util.Try(f).toEither.left.map(e => e.getClass -> e.getMessage)
    val inferred = outcome(s.read.parquet(path).schema)
    val memo = outcome(FastParquet.read(s, path).schema)
    assert(memo == inferred, s"$path: footer schema $memo != inferred $inferred")
  }

  test("a first read's footer schema equals Spark's inferred schema for " +
      "every fixture table, with and without nanosAsLong") {
    val fixtures = java.nio.file.Paths.get(sf0001).getParent
    for (sf <- Seq("sf0.001", "sf0.01").map(d => fixtures.resolve(d).toString);
         nanosAsLong <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      graft.sources.TableCatalog.AllTables.foreach(t =>
        assertParity(s, TestFixtures.freshCopy(s"$sf/$t.parquet")))
    }
  }

  test("both events timestamp generations: footer schema equals inference") {
    val micros = TestFixtures.freshCopy(s"$sf0001/events.parquet")
    val nanos = java.nio.file.Files.createTempDirectory("graft_fp_nanos_")
      .resolve("events.parquet").toString
    TestFixtures.writeNanosEvents(nanos,
      Seq((1L, java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456789),
        7L, "view", 1.5, "{}")))
    for (path <- Seq(micros, nanos); nanosAsLong <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      // each (file, conf) pair needs its own donor key; NANOS without
      // nanosAsLong is Spark's PARQUET_TYPE_ILLEGAL on both paths
      assertParity(s, TestFixtures.freshCopy(path))
    }
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ts = FastParquet.read(s, TestFixtures.freshCopy(nanos)).schema("ts")
    assert(ts.dataType == org.apache.spark.sql.types.LongType)
  }

  test("the memo is keyed by the converter flags: a session with another " +
      "nanosAsLong does not get the first session's schema") {
    val nanos = java.nio.file.Files.createTempDirectory("graft_fp_flags_")
      .resolve("events.parquet").toString
    TestFixtures.writeNanosEvents(nanos,
      Seq((1L, java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456789),
        7L, "view", 1.5, "{}")))
    val first = spark.newSession()
    first.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(FastParquet.read(first, nanos).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val second = spark.newSession()
    second.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // Spark's inference fails on NANOS without nanosAsLong; so must the memo
    val err = intercept[Exception](FastParquet.read(second, nanos).schema)
    assert(err.getMessage.contains("PARQUET_TYPE_ILLEGAL"), err.getMessage)
    assertParity(second, nanos)
  }

  test("Hive-partitioned lake layout: partition columns resolve as inferred") {
    val base = java.nio.file.Files.createTempDirectory("graft_fp_k2_").toString
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
    graft.sinks.LakeWriter.write(df, base, "k2/main/orders",
      Some("o_orderdate"), 0L)
    graft.sinks.LakeWriter.write(df, base, "k3/main/orders",
      Some("o_orderstatus"), 0L)
    for (layout <- Seq("k2", "k3")) {
      val path = s"$base/$layout/main/orders"
      assertParity(spark, path)
      assert(FastParquet.read(spark, path).count() == df.count())
    }
    assert(FastParquet.read(spark, s"$base/k2/main/orders").schema
      .fieldNames.takeRight(3).toSeq == Seq("year", "month", "day"))
  }

  test("IVF cell layout (with a driver-side append): every part resolves " +
      "as inferred") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_fp_ivf_")
      .resolve("ivf").toString
    graft.operators.Similarity.ivfWrite(
      emb.where(pmod(col("vec_id"), lit(4)) =!= 0), "vec_id", "embedding",
      path, nLists = 4, kMeansIters = 1)
    graft.operators.Similarity.ivfAppend(
      emb.where(pmod(col("vec_id"), lit(4)) === 0), "vec_id", "embedding",
      path)
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).sorted.toSeq
    assert(parts.contains("corpus") && parts.contains("centroids"), parts)
    parts.foreach(p => assertParity(spark, s"$path/$p"))
    assert(FastParquet.read(spark, s"$path/corpus").schema.fieldNames
      .contains("cell"))
  }

  test("a snapshot-lake read resolves the footer schema and passes " +
      "expectCols") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_fp_snap_")
      .resolve("t").toString
    graft.sinks.SnapshotLake.commitAppend(
      (1 to 50).map(i => (i.toLong, s"r$i", i * 0.5)).toDF("id", "s", "x"), t)
    graft.sinks.SnapshotLake.commitAppend(
      (51 to 80).map(i => (i.toLong, s"r$i", i * 0.5)).toDF("id", "s", "x"), t)
    val v = graft.sinks.SnapshotLake.versions(t).max
    val files = graft.sinks.SnapshotLake.manifestFiles(t, v).map(f => s"$t/$f")
    val cols = graft.sinks.SnapshotLake.manifestCols(t, v)
    assert(cols.exists(_.toSet == Set("id", "s", "x")), cols)
    val inferred = spark.read.parquet(files: _*).schema
    val read = graft.sinks.SnapshotLake.read(spark, t)
    assert(read.schema == inferred)
    assert(read.count() == 80)
    // the manifest's union column set matches the memoized schema, so the
    // memo serves the read (a mismatch would fall back to inference)
    assert(FastParquet.read(spark, files, cols).schema == inferred)
  }
}
