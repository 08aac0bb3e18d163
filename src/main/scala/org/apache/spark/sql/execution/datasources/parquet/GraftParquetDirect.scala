package org.apache.spark.sql.execution.datasources.parquet

import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Package-scoped bridge for DRIVER-SIDE parquet writes of metadata-sized
  * row sets (the [[org.apache.spark.sql.GraftSqlBridge]] pattern — Spark's
  * `ParquetWriteSupport` and the `InternalRow` collect surface are
  * `private[sql]`-adjacent, so the one shim lives in the owning package and
  * everything in graft stays on public API).
  *
  * Why this exists: a streaming micro-batch commit stages ~100 tiny
  * per-cell files, a few hundred kilobytes in all. Writing those parquet
  * bytes driver-side through Spark's own `ParquetWriteSupport` (same
  * schema converter, same codec, same rebase rules — files are
  * indistinguishable from task-written ones) costs single-digit
  * milliseconds per file on an IO pool, and it still beats the distributed
  * `DataFrameWriter.partitionBy` write with [[graft.fs.LocalFs]] installed
  * (which removed the per-file `chmod` forks once blamed for the gap).
  * Re-measured on 4 vCPU, interleaved runs, `driverStageMaxRows = 0`
  * forcing the distributed path:
  *  - ANN append (`sim_ann_ivf_append` shape, sf0.01, 100 rows into 16
  *    cells): driver 0.344 s vs distributed 0.512 s median, driver faster
  *    in 12 of 12 pairs;
  *  - 10× exactly-once ingest (`StreamScaleProbe` shape, batches 4–39):
  *    driver 0.486 s vs distributed 3.653 s per batch, driver faster in
  *    36 of 36.
  * The caller ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetDirect.collectInternalLimited]]-gated)
  * keeps the distributed path for real batch sizes — this is a bounded
  * small-regime fast path, the broadcast-threshold idiom applied to writes.
  */
object GraftParquetDirect {

  /** The micro-batch regime threshold shared by every driver-side write
    * fast path (the snapshot lake's staged commits, the exactly-once
    * ingest, the ANN layout appends): at or under this many rows the
    * batch collects (LIMIT-guarded — [[collectInternalLimited]]) and
    * writes driver-side; above it the distributed writer runs unchanged.
    * One constant so the regime boundary cannot silently drift between
    * modules. 32k rows of typical embedding/doc width is single-digit MB
    * on the driver — far under broadcast-sized collects Spark already
    * does — while micro-batches above this size amortize the distributed
    * writer's fixed cost anyway.
    */
  val DriverStageMaxRows = 32768

  /** Collect `df`'s rows as InternalRows iff there are at most `max` of
    * them — one Spark job, memory bounded by `max + 1` rows in all cases.
    * Returns None when the frame exceeds the cap (the caller takes the
    * distributed path; the probe job cost is bounded by the limit).
    * The returned rows are Unsafe copies — safe to hold and re-project.
    */
  def collectInternalLimited(df: DataFrame, max: Int): Option[Array[InternalRow]] = {
    val rows = df.limit(max + 1).queryExecution.executedPlan.executeCollect()
    if (rows.length > max) None else Some(rows)
  }

  /** A reusable row projection keeping `ordinals` of `schema`, for
    * splitting partition-alias columns out of collected rows. NOTE the
    * returned function reuses one Unsafe output buffer — consume each
    * projected row fully (e.g. write it) before requesting the next.
    */
  def keepOrdinals(schema: StructType, ordinals: Array[Int]): InternalRow => InternalRow = {
    val proj = UnsafeProjection.create(ordinals.map(i =>
      BoundReference(i, schema(i).dataType, schema(i).nullable)))
    r => proj(r)
  }

  private val CodecKey = "graft.parquet.direct.codec"

  /** Derive the write Configuration ON THE CALLER THREAD (SQLConf is a
    * thread-local; IO-pool workers must not re-derive session settings):
    * the keys ParquetWriteSupport.init asserts on / reads, mirrored from
    * ParquetFileFormat.prepareWrite with the active session's values, plus
    * the schema and the session's parquet codec. The result is reusable
    * across many [[writeRowsAsParquet]] calls (and threads — read-only).
    */
  def prepareWriteConf(schema: StructType,
      hadoopConf: Configuration): Configuration = {
    val hc = new Configuration(hadoopConf)
    val sqlConf = SQLConf.get
    ParquetWriteSupport.setSchema(schema, hc)
    hc.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    hc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    hc.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    hc.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    hc.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    hc.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hc.set(CodecKey,
      sqlConf.parquetCompressionCodec.toUpperCase(Locale.ROOT))
    hc
  }

  /** Write `rows` as ONE parquet file at `out`, directly (no committer, no
    * task): the caller's path must be reader-invisible until its manifest
    * publishes, which is exactly the snapshot-lake staging contract. Uses
    * Spark's own write support, so the file is byte-compatible with
    * task-written lake files (dictionary encoding, stats, rebase behavior
    * all match the session's settings captured by [[prepareWriteConf]]).
    * Returns the row count written.
    */
  def writeRowsAsParquet(prepared: Configuration, rows: Iterator[InternalRow],
      out: org.apache.hadoop.fs.Path): Long = {
    val codec = CompressionCodecName.valueOf(
      prepared.get(CodecKey, "SNAPPY"))
    class B(f: OutputFile) extends ParquetWriter.Builder[InternalRow, B](f) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration) = new ParquetWriteSupport
    }
    val writer = new B(HadoopOutputFile.fromPath(out, prepared))
      .withConf(prepared)
      .withCompressionCodec(codec)
      .build()
    var n = 0L
    try rows.foreach { r => writer.write(r); n += 1 }
    finally writer.close()
    n
  }

  /** The shared driver-side GROUPED write core: split `rows` by Hive
    * partition directory (`name=value` relative paths from
    * `partitionCols`; null partition values are rejected loudly), then
    * hand each group to `writeOne(rel, write)` on a bounded IO pool —
    * `write(out)` streams the group's DATA columns (partition columns
    * split out) as one parquet file at `out` and returns its row count.
    * The caller owns directory creation and the publish step around
    * `write`, which is exactly where the lake's staging contract
    * (reader-invisible until a manifest CAS) and the ANN layout's
    * live-directory contract (tmp + atomic rename) differ. The write
    * Configuration is derived ON THE CALLER THREAD ([[prepareWriteConf]] —
    * SQLConf is a thread-local); results return in sorted-`rel` order;
    * a failing group propagates its original exception. Small group
    * counts skip the pool (spin-up would dominate).
    */
  def writeGrouped[A](spark: org.apache.spark.sql.SparkSession,
      schema: StructType, rows: Array[InternalRow],
      partitionCols: Seq[String])(
      writeOne: (String, org.apache.hadoop.fs.Path => Long) => A): Seq[A] = {
    val pOrds = partitionCols.map(schema.fieldIndex).toArray
    // Partition dir names are rendered from RAW InternalRow values with no
    // Hive path escaping or external-value formatting (r15 ADVICE): a
    // DateType value would render as days-since-epoch and a string with
    // '/' or '=' would produce a broken/divergent path vs the distributed
    // regime. Callers only pass integral cell aliases today — enforce that
    // so the generic-looking helper cannot silently diverge for other
    // types (mirror ExternalCatalogUtils.escapePathName before relaxing).
    pOrds.foreach { o =>
      val dt = schema.fields(o).dataType
      require(dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
        s"driver-side grouped write: partition column " +
          s"${schema.fields(o).name} has type ${dt.simpleString}; only " +
          "integral types render path-safely and layout-identically to " +
          "the distributed dynamic-partition regime")
    }
    val dataOrds = schema.fields.indices.filterNot(pOrds.contains).toArray
    val dataSchema = StructType(dataOrds.map(schema.fields))
    val prepared = prepareWriteConf(dataSchema,
      spark.sessionState.newHadoopConf())
    val groups = rows.groupBy { r =>
      pOrds.map { o =>
        require(!r.isNullAt(o),
          s"null partition value for ${schema.fields(o).name} in a " +
            "driver-side grouped write — partition alias columns must " +
            "be non-null for every row")
        s"${schema.fields(o).name}=${r.get(o, schema.fields(o).dataType)}"
      }.mkString("/")
    }
    def run(rel: String): A = {
      // per-group projection: UnsafeProjection reuses its buffer — each
      // projected row is consumed by the writer before the next is built
      val proj = keepOrdinals(schema, dataOrds)
      writeOne(rel, out =>
        writeRowsAsParquet(prepared, groups(rel).iterator.map(proj), out))
    }
    // the same 64-thread IO pool SnapshotLake's metadata walks use
    // (graft.util.Par — one shared harness, one pool-sizing policy)
    graft.util.Par.map(groups.keys.toSeq.sorted, 64)(run)
  }
}
