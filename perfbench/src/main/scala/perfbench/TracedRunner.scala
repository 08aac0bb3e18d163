package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ledger.{LedgerEntry, RunLedger, RunStatus}
import graft.operators.Transforms
import graft.plan.{ExtractionSpec, MigrationPlan, PlanValidator}
import graft.run.{Notifier, Reconciliation, RunReport}
import graft.sinks.LakeWriter
import graft.sources.{EnvCredentialsProvider, JdbcSource, JdbcSourceConfig, TableCatalog}

/** `PlanRunner.runPlansParallel` / `runSpec` issued call for
  * call through the same public entry points, in the same order, with one
  * span around each call. Kept in step with `graft.run.PlanRunner`; the
  * traced run's span coverage and its overhead over the untraced run (which
  * calls `PlanRunner` itself) show when the two drift apart.
  *
  * Spans: `<planSpan>` per plan, `run.part` per part, and inside it
  * `plan.validate`, `ledger.admit`, `sources.read`, `run.read_count`
  * (cache + count), `operators.transform`, `sinks.write`, `sinks.catalog`,
  * `ledger.put`, `run.notify`. `bench.inspect` spans hold the benchmark's
  * own bookkeeping (ledger size at admission, cached bytes).
  */
final class TracedRunner(spark: SparkSession, sfDir: String, lakeBase: String,
    ledger: RunLedger, ledgerPath: Path, notifier: Notifier, tracer: Tracer, planSpan: String) {
  // PlanRunner's defaults, which the untraced passes use
  private val credentials = EnvCredentialsProvider
  private val targetDb = "graft_lake"

  def runPlansParallel(plans: Seq[MigrationPlan], maxConcurrent: Int): Seq[Seq[RunReport]] = {
    val parent = tracer.currentOrNull
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrent, math.max(plans.size, 1)))
    try {
      val futures = plans.map(p => pool.submit(new Callable[Seq[RunReport]] {
        def call(): Seq[RunReport] = tracer.span(planSpan, parent)(p.activeSpecs.map(runSpec))
      }))
      futures.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.HOURS) }
  }

  private def readSource(spec: ExtractionSpec): DataFrame =
    spec.JDBCConnectionString.map(_.trim).filter(_.nonEmpty) match {
      case Some(url) =>
        val c = credentials.resolve(spec.CredentialsSecretArn)
        val cfg = JdbcSourceConfig(url, c.user, c.password, c.driver)
        if (spec.isPartitionedRead)
          JdbcSource.readPartitioned(spark, cfg, spec.Query,
            spec.ColumnForPartitioningOnSpark.get, spec.LowerBound.get,
            spec.UpperBound.get, spec.NumPartitions.get)
        else JdbcSource.readSingle(spark, cfg, spec.Query)
      case None => TableCatalog.sql(spark, sfDir, spec.Query)
    }

  def runSpec(spec: ExtractionSpec): RunReport = tracer.span("run.part") {
    val problems = tracer.span("plan.validate")(PlanValidator.validate(spec))
    if (problems.nonEmpty) {
      val msg = s"invalid plan: ${problems.mkString("; ")}"
      tracer.span("run.notify")(notifier.notify(s"Extraction of ${spec.SourceTable} FAILED", msg))
      RunReport(spec, RunStatus.Failed, None, None, Some(msg))
    } else runAdmitted(spec)
  }

  private def runAdmitted(spec: ExtractionSpec): RunReport = {
    val hashId = spec.executionHashId
    val startTs = Instant.now.toString
    tracer.span("bench.inspect") {
      tracer.count("admit_bytes", if (Files.exists(ledgerPath)) Files.size(ledgerPath).toDouble else 0.0)
      tracer.count("admit_lines", Fixtures.lineCount(ledgerPath).toDouble)
    }
    val admitted = tracer.span("ledger.admit")(ledger.tryAdmit(LedgerEntry(hashId, spec.SourceTable,
      status = "", expectedRows = spec.ExpectedAmountOfRecords, startTs = Some(startTs))))
    if (!admitted) {
      val report = RunReport(spec, RunStatus.Skipped, None, None,
        Some(s"JobHasRunOrIsRunning-${spec.SourceTable}-$hashId"))
      tracer.span("run.notify")(notifier.notify(s"Extraction of ${spec.SourceTable} SKIPPED", hashId))
      return report
    }
    var cached: Option[DataFrame] = None
    try {
      val df = tracer.span("sources.read")(readSource(spec))
      val rawCount = tracer.span("run.read_count") {
        df.cache()
        cached = Some(df)
        df.count()
      }
      tracer.span("bench.inspect") {
        tracer.count("rows", rawCount.toDouble)
        tracer.count("cached_bytes", cachedBytes(df))
      }
      val loadTs = java.sql.Timestamp.from(Instant.now)
      val cleaned = tracer.span("operators.transform")(Transforms.pipeline(hashId, loadTs)(df))
      val wr = tracer.span("sinks.write")(LakeWriter.write(cleaned, lakeBase, spec.lakePathSuffix,
        spec.s3PartitionColumn.map(Transforms.normalizeName), rawCount, graft.sinks.WriteMode.Append))
      tracer.span("sinks.catalog")(LakeWriter.registerInCatalog(spark, targetDb,
        Transforms.normalizeName(spec.lakeTableName), wr.path, wr.partitionColumns))
      val rec = Reconciliation(spec.ExpectedAmountOfRecords, rawCount)
      tracer.span("ledger.put")(ledger.put(LedgerEntry(hashId, spec.SourceTable, RunStatus.Succeeded,
        rowCount = Some(rawCount), expectedRows = spec.ExpectedAmountOfRecords,
        schemaTree = Some(cleaned.schema.treeString),
        startTs = Some(startTs), endTs = Some(Instant.now.toString))))
      tracer.span("run.notify")(notifier.notify(rec.subject(spec.SourceTable, RunStatus.Succeeded),
        s"expected=${rec.expected.getOrElse("-")} actual=${rec.actual}"))
      RunReport(spec, RunStatus.Succeeded, Some(rec), Some(wr), None)
    } catch {
      case e: Exception =>
        tracer.span("ledger.put")(ledger.put(LedgerEntry(hashId, spec.SourceTable, RunStatus.Failed,
          expectedRows = spec.ExpectedAmountOfRecords, startTs = Some(startTs),
          endTs = Some(Instant.now.toString), errorMessage = Some(e.getMessage))))
        tracer.span("run.notify")(notifier.notify(s"Extraction of ${spec.SourceTable} FAILED",
          String.valueOf(e.getMessage)))
        RunReport(spec, RunStatus.Failed, None, None, Some(String.valueOf(e.getMessage)))
    } finally cached.foreach(d => tracer.span("run.unpersist")(d.unpersist()))
  }

  /** In-memory size of `df`'s cache entry once materialized, bytes. */
  private def cachedBytes(df: DataFrame): Double =
    spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.toDouble)
      .getOrElse(0.0)
}
