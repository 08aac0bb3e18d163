package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType
import graft.operators.Transforms

/** Lake sink layer — K1/K2/K3 of SURVEY.md §2.1.
  *
  * The reference writes append-mode partitioned Parquet under
  * `{SourceName}/{SourceSchema}/{SourceTable}/` and registers the result in
  * the Glue catalog (`sybaseiq_extractor.py:156-164,239-255`). Spark-native:
  * Hive-style `partitionBy` Parquet layout, which gives Catalyst static and
  * dynamic partition pruning at read time with no extra index.
  *
  * This layer is that sink and nothing more: an append write plus catalog
  * registration. Row-level change (MERGE, latest-wins upsert, CDC apply)
  * and compaction belong to [[SnapshotLake]] alone.
  */
object WriteMode extends Enumeration {
  /** Append — the reference's only enabled mode (`MaxRetries: 0` +
    * idempotency hash make it effectively exactly-once).
    * OverwritePartitions — the safe version of the reference's dormant
    * overwrite-dedup path (`sybaseiq_extractor.py:183-204`, commented out
    * there over data-loss fears): Spark's dynamic partition overwrite only
    * replaces partitions present in the incoming data.
    */
  val Append, OverwritePartitions = Value
}

/** What one write landed: its path and layout, the Parquet file count under
  * the path, and the row count and schema of the landed frame (partition
  * columns included). */
final case class WriteResult(path: String, partitionColumns: Seq[String],
    files: Long, rows: Long, schema: StructType)

object LakeWriter {

  /** Write `df` to `basePath/lakePathSuffix`, choosing the layout exactly as
    * the reference does (`sybaseiq_extractor.py:168-171,239-250`):
    *   - date-like S3 partition column → derive year/month/day (P5), layout K2
    *   - other column → single-column layout K3
    *   - none → unpartitioned K1 with size-tiered coalesce (X2) sized by the
    *     caller's `rowCount` (the partitioned layouts ignore it)
    *
    * One pass over `df`: the write itself counts the rows it lands (a
    * `count(1)` [[org.apache.spark.sql.Observation]] on the landed frame),
    * and the result carries that count and the landed schema.
    */
  def write(df: DataFrame, basePath: String, pathSuffix: String,
      s3PartitionColumn: Option[String], rowCount: Long,
      mode: WriteMode.Value = WriteMode.Append): WriteResult = {
    val path = s"$basePath/$pathSuffix"
    val (out0, partCols) = s3PartitionColumn match {
      case Some(c) if Transforms.isDateLike(df, c) =>
        (Transforms.datePartColumns(c)(df), Seq("year", "month", "day"))
      case Some(c) =>
        (df, Seq(c))
      case None =>
        (Transforms.coalesceForSize(rowCount)(df), Nil)
    }
    // Cluster rows by the partition columns before a partitioned write: an
    // unclustered write opens one file per (task × live partition) — at 32
    // tasks over a year of days that is ~10⁴ near-empty files per load, the
    // classic small-files pathology (slow to write, slower to read). Under
    // AQE the REBALANCE hint is the right clustering: one well-sized file
    // per partition AND a skew-heavy partition (one hot day at 100 TB) is
    // split into advisory-sized tasks instead of funneling through one.
    // Plain hash repartition is the no-AQE fallback (the hint would be
    // silently ignored there, reintroducing the pathology).
    val landed = Observation()
    val observed = out0.observe(landed, count(lit(1)).as("rows"))
    val out =
      if (partCols.isEmpty) observed
      else if (df.sparkSession.sessionState.conf.adaptiveExecutionEnabled)
        observed.hint("rebalance", partCols.map(col): _*)
      else observed.repartition(partCols.map(col): _*)
    val writer = out.write
    val configured = mode match {
      case WriteMode.Append => writer.mode(SaveMode.Append)
      case WriteMode.OverwritePartitions =>
        writer.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
    }
    val withParts =
      if (partCols.nonEmpty) configured.partitionBy(partCols: _*) else configured
    withParts.parquet(path)
    val files = countParquetFiles(df.sparkSession, path)
    WriteResult(path, partCols, files, observedRows(landed), out0.schema)
  }

  /** [[write]] for a caller that does not know the row count. The
    * partitioned layouts (K2/K3) do not use it, so they take one pass over
    * `df`. Only K1 needs the count before the write, because its X2 size
    * tier depends on it: it persists `df`, counts it, lands the persisted
    * rows and unpersists, so its source is also evaluated once.
    */
  def writeCounted(df: DataFrame, basePath: String, pathSuffix: String,
      s3PartitionColumn: Option[String], mode: WriteMode.Value): WriteResult =
    if (s3PartitionColumn.nonEmpty)
      write(df, basePath, pathSuffix, s3PartitionColumn, 0L, mode)
    else {
      val pinned = df.persist()
      try write(pinned, basePath, pathSuffix, None, pinned.count(), mode)
      finally pinned.unpersist()
    }

  /** The row count a write's `count(1)` observation reported. Observations
    * complete on the listener bus after the action returns, so this waits
    * for it, boundedly. A frame with no partitions runs no task and
    * reports an empty row: it landed no rows. */
  private def observedRows(o: Observation): Long = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val row = Await.result(o.future, 5.minutes)
    if (row.length == 0) 0L else row.getLong(0)
  }

  /** Register a landed path as a catalog table `{db}.{table}` — the
    * Spark-native analogue of the reference's Glue-catalog registration
    * (`sybaseiq_extractor.py:161-164` `enableUpdateCatalog` +
    * `setCatalogInfo`). External datasource table over the written layout,
    * dropped and created again on every call, so an append to the path and
    * an evolved schema both show. A partitioned layout gets explicit
    * partition columns and its partitions are added to the catalog at once
    * ([[addLandedPartitions]]), so catalog-driven partition pruning works
    * immediately. Registration runs no Spark job.
    *
    * The DDL declares `schema`, the landed frame's own schema
    * ([[WriteResult.schema]]), so registration reads nothing back from the
    * lake and a write that landed no rows registers too. The K2
    * `year`/`month`/`day` columns are therefore STRING, as the writer lands
    * them and as the reference's Glue catalog holds them. The location is
    * written as an escaped SQL string, so a path holding `'` or `\`
    * registers.
    */
  def registerInCatalog(spark: SparkSession, db: String, table: String,
      path: String, partitionColumns: Seq[String], schema: StructType): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val partSet = partitionColumns.toSet
    val dataCols = schema.fields.filterNot(f => partSet(f.name))
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partCols = schema.fields.filter(f => partSet(f.name))
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val location = "'" + path.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val ddl =
      if (partitionColumns.isEmpty)
        s"CREATE TABLE `$db`.`$table` ($dataCols) USING PARQUET LOCATION $location"
      else
        s"""CREATE TABLE `$db`.`$table` ($dataCols, $partCols)
           |USING PARQUET PARTITIONED BY (${partitionColumns.mkString(", ")})
           |LOCATION $location""".stripMargin
    spark.sql(ddl)
    if (partitionColumns.nonEmpty)
      addLandedPartitions(spark, TableIdentifier(table, Some(db)))
  }

  /** Add every `col=value` partition directory under the table's location
    * to the catalog: the specs and locations `ALTER TABLE … RECOVER
    * PARTITIONS` adds, without its Spark job. RECOVER PARTITIONS
    * (`RepairTableCommand`) also gathers each partition's file count and
    * size, in a `parallelize` job once a table has more than
    * `spark.rdd.parallelListingThreshold` (10) partitions; nothing reads
    * those statistics. This walks the partition directories level by level
    * on the driver, keeps the names RECOVER PARTITIONS keeps (a directory
    * `name=value` whose name resolves to the next partition column; `.x`,
    * `_SUCCESS` and `_temporary` are skipped as its path filter skips them),
    * unescapes each value as it does, and adds the specs in one catalog
    * call. A location that does not exist has no partitions.
    */
  private def addLandedPartitions(spark: SparkSession,
      ident: TableIdentifier): Unit = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident)
    val root = new Path(meta.location)
    val fs = graft.FsSeam.fs(root, spark.sessionState.newHadoopConf())
    val resolver = spark.sessionState.conf.resolver
    def listed(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      st.isDirectory && !n.startsWith(".") && n != "_SUCCESS" && n != "_temporary"
    }
    def scan(dir: Path, spec: Map[String, String],
        names: Seq[String]): Seq[(Map[String, String], Path)] =
      if (names.isEmpty) Seq(spec -> dir)
      else fs.listStatus(dir).toSeq.filter(listed).flatMap { st =>
        st.getPath.getName.split("=", 2) match {
          case Array(k, v) if resolver(unescapePathName(k), names.head) =>
            scan(st.getPath, spec + (names.head -> unescapePathName(v)),
              names.tail)
          case _ => Nil
        }
      }
    val parts =
      if (!fs.exists(root)) Nil
      else scan(root, Map.empty, meta.partitionColumnNames).map {
        case (spec, dir) => CatalogTablePartition(spec,
          meta.storage.copy(locationUri = Some(dir.toUri)))
      }
    if (parts.nonEmpty) catalog.createPartitions(ident, parts, ignoreIfExists = true)
  }

  /** [[registerInCatalog]] for a path whose schema is not known: the schema
    * is inferred from the landed files (one footer-read job; partition
    * column types are inferred from the directory names). Fails on a path
    * that holds no Parquet file. */
  def registerInCatalog(spark: SparkSession, db: String, table: String,
      path: String, partitionColumns: Seq[String]): Unit =
    registerInCatalog(spark, db, table, path, partitionColumns,
      spark.read.parquet(path).schema)

  /** Parquet files under `path`, listed through the path's Hadoop
    * `FileSystem` — the one Spark landed them through — so a `file:` or
    * `s3a://` base counts as a bare local path does. A path that does not
    * exist holds none. Walks with `listStatus`: the local FileSystem's
    * `listFiles` builds a `LocatedFileStatus`, which reads each file's
    * permissions by forking `ls`. */
  private def countParquetFiles(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = graft.FsSeam.fs(root, spark.sessionState.newHadoopConf())
    def walk(dir: Path): Long = fs.listStatus(dir).map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) 1L else 0L
    }.sum
    if (fs.exists(root)) walk(root) else 0L
  }
}
