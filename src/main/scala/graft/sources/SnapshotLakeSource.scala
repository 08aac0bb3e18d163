package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sinks.SnapshotLake

/** DataSource V2 connector for the snapshot lake — the fourth custom
  * Catalyst tier (after expressions, the optimizer rule, and the planner
  * strategy): `spark.read.format("snapshot-lake")` and SQL
  * `CREATE ... USING snapshot-lake` resolve a manifest-pinned snapshot
  * and hand the EXACT file list to Spark's own ParquetTable, so filter
  * pushdown, column pruning, vectorized reads and AQE all apply unchanged
  * — the connector contributes snapshot isolation, not a scan engine.
  *
  * Options:
  *   - `path` (required): the lake table directory
  *   - `versionAsOf`: pin a committed version (default: latest)
  *   - `timestampAsOf`: epoch millis; newest version committed at or
  *     before it (mutually exclusive with `versionAsOf`)
  *
  * Reads see exactly the chosen manifest's files — commits racing the
  * query never change what it sees (the same isolation
  * [[SnapshotLake.read]] gives the DataFrame API, now addressable from
  * pure SQL). Time travel uses options rather than `VERSION AS OF` syntax
  * because the latter requires a V2 catalog implementation; the option
  * spelling works in `CREATE TEMPORARY VIEW ... USING ... OPTIONS`.
  *
  * Writes (`INSERT INTO` / `INSERT OVERWRITE` on an unpinned view) go
  * through the V1 write bridge into [[SnapshotLake.commitAppend]] /
  * [[SnapshotLake.commitOverwrite]] — the OCC manifest protocol, NOT a
  * raw file drop: the delegate's own file-writing path is unreachable
  * because the wrapper exposes only this builder. Version-pinned views
  * reject writes (inserting "into the past" would silently target
  * whatever the head happens to be).
  *
  * A temporary view resolves its snapshot ONCE, at creation — reads
  * through it are stable under concurrent commits (including its own
  * inserts); re-create the view or issue a fresh `read.format` load to
  * observe a newer head. That is the isolation semantics a snapshot
  * store should give a named reader, made explicit.
  */
class SnapshotLakeSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "snapshot-lake"

  override def supportsExternalMetadata(): Boolean = true

  private case class Resolved(table: String, pinned: Boolean,
      version: Long, paths: Seq[String])

  private def resolve(options: CaseInsensitiveStringMap): Resolved = {
    val table = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "snapshot-lake requires a 'path' option naming the table directory"))
    def longOpt(key: String): Option[Long] =
      Option(options.get(key)).map { v =>
        try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"snapshot-lake option '$key' must be a long, got '$v'")
        }
      }
    val vOpt = longOpt("versionAsOf")
    val tsOpt = longOpt("timestampAsOf")
    require(vOpt.isEmpty || tsOpt.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    // shared resolution with SnapshotLake.read / readAsOf (versionAt) so
    // the SQL and DataFrame surfaces cannot drift. Note: Spark calls
    // inferSchema and getTable as two separate provider calls, so an
    // UNPINNED load racing a concurrent commit may infer its schema from
    // version N and scan N+1 — the scan itself still reads exactly one
    // manifest (snapshot-consistent); pin versionAsOf for fully stable
    // resolution.
    val v = tsOpt.fold(SnapshotLake.resolveVersion(table, vOpt))(
      SnapshotLake.versionAt(table, _))
    val files = SnapshotLake.manifestFiles(table, v)
    require(files.nonEmpty,
      s"snapshot v$v at $table has no data files (connector reads need " +
        "at least one file to carry the schema)")
    Resolved(table, vOpt.isDefined || tsOpt.isDefined, v,
      files.map(f => s"$table/$f"))
  }

  private def delegate(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): (ParquetTable, Resolved) = {
    val r = resolve(options)
    (ParquetTable("graft-snapshot-lake", SparkSession.active, options,
      r.paths, schema, classOf[ParquetFileFormat]), r)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    delegate(options, None)._1.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val (pt, r) = delegate(
      new CaseInsensitiveStringMap(properties), Some(schema))
    new SnapshotLakeTable(pt, r.table, r.pinned, r.version)
  }
}

/** Read-delegating, commit-protocol-writing table. The ParquetTable
  * delegate supplies scans (pushdown, pruning, vectorization); writes are
  * re-routed through the manifest commit so SQL inserts get the same
  * atomicity/isolation as the programmatic API. */
private[sources] class SnapshotLakeTable(delegate: ParquetTable,
    tablePath: String, pinned: Boolean, version: Long)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"snapshot-lake($tablePath)"

  override def schema(): StructType = delegate.schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new LakeScanBuilder(
    delegate.newScanBuilder(options), tablePath, version, delegate.schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"cannot INSERT into a version-pinned snapshot-lake view of " +
        s"$tablePath — writes always target the head; create an unpinned " +
        "view to write")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ow: Boolean): Unit = {
              if (overwrite || ow)
                SnapshotLake.commitOverwrite(data, tablePath)
              else SnapshotLake.commitAppend(data, tablePath)
              ()
            }
          }
      }
    }
  }
}

/** Scan builder that answers whole-table MIN / MAX / COUNT(*) from the
  * lake's own METADATA — manifest stats sidecars for extremes
  * ([[SnapshotLake.minMaxFromStats]]) and parquet footer row counts
  * ([[SnapshotLake.countRows]]) — via DSv2 complete aggregate pushdown
  * into a [[LocalScan]]: the query plans as a LocalTableScan of one
  * precomputed row, zero executor tasks, zero data files opened. At 100 TB
  * that turns `SELECT count(*), min(x), max(x)` from a full scan into an
  * O(files) driver-side metadata read.
  *
  * Strictly correctness-first fallback chain:
  *   1. sidecar/footer metadata — only when NO filters were pushed, no
  *      GROUP BY, every aggregate is COUNT(*)/MIN/MAX on a column whose
  *      every live file has sidecar stats, and the column's type
  *      round-trips the double-typed stats exactly (double/float/int
  *      always; long only inside ±2^53);
  *   2. the delegate ParquetScanBuilder's own footer-level aggregate
  *      pushdown (`spark.sql.parquet.aggregatePushdown`);
  *   3. a plain scan — filters, pruning and vectorization forwarded
  *      untouched.
  */
private[sources] class LakeScanBuilder(delegate: ScanBuilder,
    tablePath: String, version: Long, tableSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters
    with SupportsPushDownAggregates {

  private var filtered = false
  private var metaResult: Option[(StructType, Array[InternalRow])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after a complete metadata pushdown the incoming schema is the
    // aggregate output, meaningless to the parquet delegate
    if (metaResult.isEmpty) delegate match {
      case d: SupportsPushDownRequiredColumns => d.pruneColumns(requiredSchema)
      case _ =>
    }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (filters.nonEmpty) filtered = true
    delegate match {
      case d: SupportsPushDownCatalystFilters => d.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters: Array[Predicate] = delegate match {
    case d: SupportsPushDownCatalystFilters => d.pushedFilters
    case _ => Array.empty
  }

  // Spark calls supportCompletePushDown and then pushAggregation with the
  // same Aggregation during planning; fromMetadata eagerly reads every
  // parquet footer (countRows) and the stats sidecars, so memoize per
  // Aggregation instance to read the metadata once, not twice.
  private var metaMemo
      : Option[(Aggregation, Option[(StructType, Array[InternalRow])])] = None

  private def fromMetadataMemo(agg: Aggregation)
      : Option[(StructType, Array[InternalRow])] = metaMemo match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = fromMetadata(agg)
      metaMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    fromMetadataMemo(agg).isDefined || (delegate match {
      case d: SupportsPushDownAggregates => d.supportCompletePushDown(agg)
      case _ => false
    })

  override def pushAggregation(agg: Aggregation): Boolean =
    fromMetadataMemo(agg) match {
      case s @ Some(_) => metaResult = s; true
      case None => delegate match {
        case d: SupportsPushDownAggregates => d.pushAggregation(agg)
        case _ => false
      }
    }

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case n: NamedReference if n.fieldNames().length == 1 =>
      Some(n.fieldNames()(0))
    case _ => None
  }

  /** Stats doubles → the column's native type, ONLY when the round-trip is
    * exact; None refuses the pushdown (the scan path stays correct).
    */
  private def exact(v: Double, field: StructField): Option[Any] =
    field.dataType match {
      case DoubleType => Some(v)
      case FloatType if v.toFloat.toDouble == v => Some(v.toFloat)
      case IntegerType if v.toInt.toDouble == v => Some(v.toInt)
      // strict: a true extreme of 2^53+1 quantizes to exactly 2^53 in the
      // double-typed sidecar and would round-trip "cleanly" to the wrong
      // answer — the ambiguous boundary value must refuse the pushdown
      case LongType if math.abs(v) < (1L << 53) && v.toLong.toDouble == v =>
        Some(v.toLong)
      case _ => None
    }

  private def fromMetadata(agg: Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    if (filtered || agg.groupByExpressions.nonEmpty) return None
    val minMaxCache = scala.collection.mutable.Map
      .empty[String, Option[(Double, Double)]]
    def stats(c: String): Option[(Double, Double)] =
      minMaxCache.getOrElseUpdate(c,
        SnapshotLake.minMaxFromStats(tablePath, c, Some(version)))
    def field(c: String): Option[StructField] =
      tableSchema.fields.find(_.name == c)
    val resolved: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            SnapshotLake.countRows(SparkSession.active, tablePath,
              Some(version))))
        case m: Min => for {
          c <- colName(m.column); f <- field(c); s <- stats(c)
          v <- exact(s._1, f)
        } yield (StructField(s"min($c)", f.dataType), v)
        case m: Max => for {
          c <- colName(m.column); f <- field(c); s <- stats(c)
          v <- exact(s._2, f)
        } yield (StructField(s"max($c)", f.dataType), v)
        case _: AggregateFunc => None
      }
    if (resolved.exists(_.isEmpty)) None
    else {
      val fields = resolved.flatten
      Some((StructType(fields.map(_._1)),
        Array[InternalRow](new GenericInternalRow(
          fields.map(_._2).toArray))))
    }
  }

  override def build(): Scan = metaResult match {
    case Some((schema, localRows)) => new LocalScan {
      override def rows(): Array[InternalRow] = localRows
      override def readSchema(): StructType = schema
      override def description(): String =
        s"snapshot-lake metadata aggregate v$version of $tablePath"
    }
    case None => delegate.build()
  }
}
