package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source layer (SURVEY.md §2.1).
  *
  * The reference outsources SQL evaluation to the source RDBMS and reads the
  * result over striped JDBC (`sybaseiq_extractor.py:284-293`). Spark-native,
  * the lake itself is the source: tables are registered as temp views and the
  * plan's `Query` is evaluated by Catalyst (`spark.sql`), which restores
  * predicate pushdown + column pruning into the Parquet scans for free.
  */
object TableCatalog {

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Load one table, normalizing physical-type quirks — SCHEMA-ADAPTIVE.
    *
    * `events.ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * only accepts as a long under `nanosAsLong=true`) and plain
    * TIMESTAMP(MICROS). Hardcoding either breaks when the data regenerates,
    * so we branch on the OBSERVED Spark type after read:
    *   - LongType       → nanos-as-long: truncate ns → µs `timestamp_ntz`
    *                      (what DuckDB does reading the same file)
    *   - Timestamp(_NTZ)→ already micros: normalize to `timestamp_ntz` and
    *                      pass through
    *
    * The legacy conf is a DELIBERATE session-level catalog policy, not
    * scoped to this read: the returned (lazy) frame replans against session
    * conf at every action, so a set-then-restore would make the plan fail
    * AFTER load returned. With the conf set, nanos columns read as long
    * (handled above) and micros columns are unaffected — both generations
    * load under one session policy.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // r16: FastParquet memoizes the resolved schema per fixture file —
    // every query re-loads its tables, and each plain spark.read.parquet
    // paid a ~60 ms schema-inference job for an immutable file (guide
    // §1.4 fixed costs). The first load per path reads the footer on the
    // driver under this session's conf (so `nanosAsLong` below applies)
    // and runs no Spark job; FastParquetSpec pins the schema as equal to
    // Spark's inferred one.
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = FastParquet.read(spark, path)
      import org.apache.spark.sql.types._
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case _: TimestampNTZType => raw
        case _: TimestampType =>
          raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other =>
          throw new IllegalStateException(
            s"events.ts: unsupported physical type $other")
      }
    } else FastParquet.read(spark, path)
  }

  /** Register every parquet table under `sfDir` as temp views named after
    * the files. Memoized per session on the CURRENT dir: repeated sql()
    * calls against one sfDir (the 99-query gate) skip ~10 parquet footer
    * reads each; switching dirs re-registers because the views are
    * session-global state pointing at exactly one dir at a time.
    *
    * The frames are loaded outside the lock (a first load reads footers
    * and lists files), and the views and the recorded dir are published
    * together under it, so one session's loads never block another
    * session's registration. Table existence is checked through the
    * Hadoop FileSystem of `sfDir`, so a `file:`, `hdfs://` or `s3a://`
    * dir registers its tables like a plain local path does.
    */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registeredDir.get(spark) != sfDir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val views = AllTables.filter { t =>
        val p = new org.apache.hadoop.fs.Path(sfDir, s"$t.parquet")
        graft.FsSeam.fs(p, conf).exists(p)
      }.map(t => t -> load(spark, sfDir, t))
      registeredDir.synchronized {
        views.foreach { case (t, df) => df.createOrReplaceTempView(t) }
        registeredDir.put(spark, sfDir)
      }
    }

  /** Evaluate a plan `Query` (P1 slot) against the registered views. */
  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    registerAll(spark, sfDir)
    spark.sql(query)
  }

  /** Read a CSV export with an explicit schema (header, RFC-4180 quoting).
    * Schema-on-read is mandatory at scale: inference re-scans the input.
    */
  def loadCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(path)

  /** Read a JSON-lines export with an explicit schema (one object per line —
    * the splittable form; multiline JSON cannot be split across workers).
    */
  def loadJsonLines(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Read an ORC export with an explicit schema. ORC is the columnar
    * alternative to Parquet (native vectorized reader, predicate pushdown,
    * stripe-level column statistics) — same scale properties as the Parquet
    * path.
    */
  def loadOrc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Read an XML export with an explicit schema (Spark 4 ships the XML
    * source natively). `rowTag` names the repeated record element; XML is
    * the interchange format legacy RDBMS exports still arrive in, which is
    * exactly this engine's ingest edge.
    */
  def loadXml(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      rowTag: String = "row"): DataFrame =
    spark.read.schema(schema).option("rowTag", rowTag).xml(path)

  /** Name of the quarantine column populated by the permissive loaders. */
  val CorruptRecordCol = "_corrupt_record"

  /** Permissive CSV read: rows that fail to parse land with all data
    * columns null and the raw line preserved in [[CorruptRecordCol]] —
    * ingest never aborts on dirty input; callers split good/bad on the
    * quarantine column and route bad rows to a dead-letter sink. At 100 TB
    * a single malformed line must not kill a 6-hour ingest.
    */
  def loadCsvPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptRecordCol, org.apache.spark.sql.types.StringType))
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptRecordCol)
      .csv(path)

  /** Permissive JSON-lines read — same quarantine contract as
    * [[loadCsvPermissive]]. */
  def loadJsonLinesPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptRecordCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptRecordCol)
      .json(path)
}

/** S1's range-stride partitioning, reimplemented for lake tables.
  *
  * Generates the same stripe predicates Spark's `JDBCRelation.columnPartition`
  * generates for a JDBC read (`sybaseiq_extractor.py:289-292` semantics,
  * documented `README.md:103-107`): `numPartitions` stripes over
  * `[lowerBound, upperBound)`, first stripe unbounded below, last unbounded
  * above — so the union of stripes is always the complete relation,
  * regardless of out-of-bounds values.
  */
object StrideReader {

  /** Stripe predicates as SQL strings over `column`. */
  def stripes(column: String, lower: Long, upper: Long,
      numPartitions: Int): Seq[String] = {
    require(numPartitions > 0, "numPartitions must be positive")
    if (numPartitions == 1) Seq("1=1")
    else {
      val stride = math.max((upper - lower) / numPartitions, 1L)
      (0 until numPartitions).map { i =>
        val lo = lower + i * stride
        val hi = lower + (i + 1) * stride
        if (i == 0) s"$column < $hi"
        else if (i == numPartitions - 1) s"$column >= $lo"
        else s"$column >= $lo AND $column < $hi"
      }
    }
  }

  /** Read `df` as a union of stripe filters. Semantically the identity —
    * exists to prove stripe-completeness (union == full relation) and to
    * model the reference's parallel-ingest shape on lake data. Each stripe
    * filter pushes to the Parquet scan.
    */
  def readStriped(df: DataFrame, column: String, lower: Long, upper: Long,
      numPartitions: Int): DataFrame =
    stripes(column, lower, upper, numPartitions)
      .map(p => df.filter(expr(p)))
      .reduce(_ union _)
}

/** S1/S2/S4 — real JDBC reads, kept behind a registry for source-engine
  * pluggability (`adapt_postgre.json:2-5`). Builds the exact option set the
  * reference passes (`sybaseiq_extractor.py:284-293,315-320`); not exercised
  * by tests (no live RDBMS in the harness) but API-complete.
  */
final case class JdbcSourceConfig(
    url: String,
    user: String,
    password: String,
    driver: Option[String] = None)

object JdbcSource {

  /** S1 — partitioned read: user SQL pushed down wholesale as a derived
    * table `(query) q`, striped on `partitionColumn`. */
  def readPartitioned(spark: SparkSession, cfg: JdbcSourceConfig, query: String,
      partitionColumn: String, lowerBound: String, upperBound: String,
      numPartitions: Int): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", s"($query) q")
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions.toString)
    cfg.driver.fold(r)(d => r.option("driver", d)).load()
  }

  /** S2 — single-stream read via the `query` option. */
  def readSingle(spark: SparkSession, cfg: JdbcSourceConfig,
      query: String): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("query", query)
      .option("user", cfg.user)
      .option("password", cfg.password)
    cfg.driver.fold(r)(d => r.option("driver", d)).load()
  }
}
