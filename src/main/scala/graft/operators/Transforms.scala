package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.RunConstant

/** The reference's fixed cleaning/enrichment chain, re-expressed as composable
  * `DataFrame => DataFrame` functions (SURVEY.md §2.2). All are pure plan
  * transformations — Catalyst sees plain Project nodes, so pushdown, pruning
  * and whole-stage codegen are unaffected; nothing here adds a shuffle.
  */
object Transforms {

  /** Audit column names. DELIBERATE deviation from the reference, which
    * lands mixed-case `migration_ExecutionHashId` in the lake (audit columns
    * are injected AFTER fix_col_names, `sybaseiq_extractor.py:119-127`):
    * this engine keeps every landed column P2-normalized so the catalog is
    * uniformly lowercase and case-insensitive engines (Athena/Hive
    * conventions) need no quoting. Spark reads either casing
    * interchangeably (caseSensitive=false), so queries against
    * reference-written data still resolve. Recorded with the SURVEY §7.4
    * quirks.
    */
  val AuditHashCol = "migration_executionhashid"
  val AuditTsCol = "migration_tp_utc"

  /** P2 — column-name normalization (`sybaseiq_extractor.py:114-115`):
    * lowercase, strip, replace every char outside [a-z0-9_] with `_`
    * (e.g. `Row ID` → `row_id`), making names catalog/Athena-safe.
    */
  def normalizeName(name: String): String =
    name.toLowerCase.trim.replaceAll("[^a-z0-9_]", "_")

  /** P2 applied to a whole frame — a single `toDF` rename, one Project node. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  /** P3 — trim every StringType column except the audit hash column
    * (`sybaseiq_extractor.py:97-111`; the exemption is `:102`). ltrim∘rtrim
    * exactly as the reference, not `trim`, to preserve behavior on
    * non-space whitespace.
    */
  def trimStringColumns(df: DataFrame): DataFrame = {
    val toTrim = df.schema.fields.collect {
      case f if f.dataType == StringType && f.name != AuditHashCol => f.name
    }.toSet
    if (toTrim.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (toTrim(c)) ltrim(rtrim(col(c))).as(c) else col(c)
    }: _*)
  }

  /** P4 — audit-column injection (`sybaseiq_extractor.py:124-125,175-176`):
    * constant UTC load timestamp + execution hash id on every row.
    *
    * The load timestamp is a [[graft.functions.RunConstant]], not a
    * `lit`: a timestamp `Literal` is written into the generated Java source,
    * so every plan part would compile its map and write stages again. The
    * landed value, its type and its non-nullability are those of
    * `lit(loadTs)`.
    */
  def auditColumns(hashId: String, loadTs: java.sql.Timestamp)(
      df: DataFrame): DataFrame =
    df.withColumn(AuditTsCol, RunConstant.of(loadTs))
      .withColumn(AuditHashCol, lit(hashId))

  /** P5 — date-part derivation for the partitioned sink
    * (`sybaseiq_extractor.py:171-174`): `year`/`month`/`day` STRING columns
    * via format patterns "y"/"M"/"d". Deliberately UNPADDED (`month=3`, not
    * `03`) — a behavioral quirk the lake layout depends on (SURVEY.md §7.4).
    */
  def datePartColumns(partCol: String)(df: DataFrame): DataFrame =
    df.withColumn("year", date_format(col(partCol), "y"))
      .withColumn("month", date_format(col(partCol), "M"))
      .withColumn("day", date_format(col(partCol), "d"))

  /** True when `col` is a Date/Timestamp column — the type dispatch that
    * selects the year/month/day layout (`sybaseiq_extractor.py:168-171`).
    */
  def isDateLike(df: DataFrame, colName: String): Boolean =
    df.schema.fields.find(_.name == colName).map(_.dataType).exists {
      case DateType | TimestampType | _: TimestampNTZType => true
      case _ => false
    }

  /** X2 — size-tiered coalesce for output-file sizing on unpartitioned
    * writes (`sybaseiq_extractor.py:149-154`): <50M rows → 8 files,
    * 50–100M → 16, ≥100M → 24. `coalesce` (no shuffle), as the reference.
    */
  def coalesceTier(rowCount: Long): Int =
    if (rowCount < 50000000L) 8
    else if (rowCount < 100000000L) 16
    else 24

  def coalesceForSize(rowCount: Long)(df: DataFrame): DataFrame =
    df.coalesce(coalesceTier(rowCount))

  /** Scale-aware alternative to the fixed X2 tiers: file count from a target
    * file size. The reference's 8/16/24 tiers produce multi-TB files at
    * 100 TB scale; sizing by bytes keeps files in the scan-friendly range
    * (128 MB–1 GB) no matter the input volume.
    */
  def filesForTargetSize(rowCount: Long, avgRowBytes: Long,
      targetFileBytes: Long = 512L << 20): Int =
    math.max(1L,
      math.min(Int.MaxValue.toLong,
        (rowCount * avgRowBytes + targetFileBytes - 1) / targetFileBytes)).toInt

  /** The full per-extraction chain in the reference's order
    * (`sybaseiq_extractor.py:119-127`): normalize → audit → trim.
    * Date-part derivation (P5) is applied by the writer only when the plan
    * requests a date-partitioned layout.
    */
  def pipeline(hashId: String, loadTs: java.sql.Timestamp)(
      df: DataFrame): DataFrame =
    trimStringColumns(auditColumns(hashId, loadTs)(normalizeColumnNames(df)))
}
