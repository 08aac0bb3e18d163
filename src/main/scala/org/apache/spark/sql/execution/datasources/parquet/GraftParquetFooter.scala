package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Package-scoped bridge for a DRIVER-SIDE parquet schema read (the
  * [[GraftParquetDirect]] pattern: the conversion lives next to Spark's own
  * parquet source, and graft stays on public API).
  *
  * `spark.read.parquet(path).schema` infers the schema inside a one-task
  * Spark job (`ParquetFileFormat.mergeSchemasInParallel`), which reads one
  * footer and converts it. This reads that footer on the driver and
  * converts it with the same function (`readSchemaFromFooter`: the Spark
  * row-metadata schema if the writer stored one, else the parquet type
  * conversion) and a converter built from the same session flags the
  * inference job passes (binary-as-string, INT96, timestamp_ntz inference,
  * `nanosAsLong`, unknown-type annotations). No job runs.
  */
object GraftParquetFooter {

  /** The data schema Spark's inference would derive from `file` alone. */
  def schemaOf(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val (binaryAsString, int96AsTimestamp, inferNtz, nanosAsLong,
      unknownAnnotation) = converterFlags(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = binaryAsString,
      assumeInt96IsTimestamp = int96AsTimestamp,
      inferTimestampNTZ = inferNtz,
      nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = unknownAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      converter)
  }

  /** The session flags the inference job passes to the converter:
    * binary-as-string, INT96-as-timestamp, timestamp_ntz inference,
    * `nanosAsLong` and unknown-type annotations. They shape the schema, so
    * a memo of converted schemas is keyed by them too. */
  def converterFlags(spark: SparkSession)
      : (Boolean, Boolean, Boolean, Boolean, Boolean) = {
    val sql = spark.sessionState.conf
    (sql.isParquetBinaryAsString, sql.isParquetINT96AsTimestamp,
      sql.parquetInferTimestampNTZEnabled, sql.legacyParquetNanosAsLong,
      sql.parquetReaderRespectUnknownTypeAnnotation)
  }
}
