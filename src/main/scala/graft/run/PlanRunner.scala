package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plan.{ExtractionSpec, MigrationPlan}
import graft.operators.Transforms
import graft.sinks.{LakeWriter, WriteMode, WriteResult}
import graft.sources.{CredentialsProvider, EnvCredentialsProvider,
  JdbcSource, JdbcSourceConfig, TableCatalog}
import graft.ledger.{LedgerEntry, RunLedger, RunStatus}
import java.time.Instant
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable

/** A3 — expected-vs-actual row-count reconciliation, three-state exactly as
  * the reference (`postprocess/lambda_function.py:74-98`): no expectation /
  * match / mismatch-warning.
  */
final case class Reconciliation(expected: Option[Long], actual: Long) {
  def ok: Boolean = expected.forall(_ == actual)
  /** The three SNS subject shapes (`postprocess/lambda_function.py:104,120,136`). */
  def subject(table: String, status: String): String =
    if (status != RunStatus.Succeeded) s"Extraction of $table FAILED"
    else if (ok) s"Extraction of $table SUCCEEDED"
    else s"Extraction of $table SUCCEEDED WITH WARNING"
}

/** K5 — notification sink; console impl stands in for SNS. */
trait Notifier { def notify(subject: String, body: String): Unit }
object ConsoleNotifier extends Notifier {
  def notify(subject: String, body: String): Unit =
    System.err.println(s"[notify] $subject :: $body")
}
/** Collecting impl for tests. */
final class BufferNotifier extends Notifier {
  val messages = mutable.Buffer.empty[(String, String)]
  def notify(s: String, b: String): Unit = synchronized { messages += ((s, b)) }
}

final case class RunReport(
    spec: ExtractionSpec,
    status: String,
    reconciliation: Option[Reconciliation],
    writeResult: Option[WriteResult],
    error: Option[String])

/** The engine's one-process lifecycle (SURVEY.md §3.3 Spark-native
  * equivalent): admit (X6) → evaluate Query via Catalyst (P1) → transform
  * chain (P2→P4→P5→P3→X2) → lake write (K1-K3) → count reconcile (A1/A3) →
  * ledger (K4) → notify (K5) → next part (X5), with bounded plan-level
  * parallelism (X4).
  */
final class PlanRunner(
    spark: SparkSession,
    sfDir: String,
    lakeBase: String,
    ledger: RunLedger,
    notifier: Notifier = ConsoleNotifier,
    writeMode: WriteMode.Value = WriteMode.Append,
    targetDb: String = "graft_lake",
    credentials: CredentialsProvider = EnvCredentialsProvider) {

  /** Source selection, mirroring `sybaseiq_extractor.py:283`: a plan with a
    * JDBC connection string reads from the RDBMS (striped S1 when the
    * partition-read knobs are set, single-stream S2 otherwise); plans
    * without one are evaluated by Catalyst over the lake tables (P1 made
    * native). Credentials resolve at read time and never touch the ledger.
    */
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

  /** X5 — strict sequential execution with continue-on-failure: the chain
    * proceeds after a failed part (`this.json:287-319`), collecting per-part
    * results.
    */
  def runPlan(plan: MigrationPlan): Seq[RunReport] =
    plan.activeSpecs.map(runSpec)

  /** X4 — bounded parallel execution of independent plans (the reference's
    * 50-way `MaxConcurrentRuns`, `CloudFormation/template2.yaml:640-641`).
    */
  def runPlansParallel(plans: Seq[MigrationPlan],
      maxConcurrent: Int = 50): Seq[Seq[RunReport]] = {
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrent, math.max(plans.size, 1)))
    try {
      val futures = plans.map(p => pool.submit(
        new java.util.concurrent.Callable[Seq[RunReport]] {
          def call(): Seq[RunReport] = runPlan(p)
        }))
      futures.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.HOURS) }
  }

  /** One plan part: validate → admit (X6) → read → transform → write →
    * register → reconcile → ledger → notify. X1 is one pass over the
    * source: the lake write counts the rows it lands, and that count feeds
    * the reconciliation and the ledger's `rowCount`. Only the unpartitioned
    * K1 layout persists its rows, inside [[LakeWriter.writeCounted]], to
    * size its files before writing them.
    */
  def runSpec(spec: ExtractionSpec): RunReport = {
    val problems = graft.plan.PlanValidator.validate(spec)
    if (problems.nonEmpty) {
      val msg = s"invalid plan: ${problems.mkString("; ")}"
      notifier.notify(s"Extraction of ${spec.SourceTable} FAILED", msg)
      return RunReport(spec, RunStatus.Failed, None, None, Some(msg))
    }
    val hashId = spec.executionHashId
    val startTs = Instant.now.toString
    // X6 admission: atomically decide-and-mark-in-flight via the ledger's
    // conditional write (tryAdmit), so two same-hash plans racing in
    // runPlansParallel admit exactly one — the reference performs this as
    // separate get+put (`routing/lambda_function.py:78-147`) and can double-
    // run; we fix that (SURVEY.md §7.4 "reference bugs to not replicate").
    // The in-flight marker is blank status, exactly the reference's all-null
    // init row. Credentials are never written to the ledger (X9 scrub,
    // `routing/lambda_function.py:125-127`) — LedgerEntry simply has no
    // credential fields.
    val admitted = ledger.tryAdmit(LedgerEntry(hashId, spec.SourceTable,
      status = "", expectedRows = spec.ExpectedAmountOfRecords,
      startTs = Some(startTs)))
    if (!admitted) {
      val report = RunReport(spec, RunStatus.Skipped, None, None,
        Some(s"JobHasRunOrIsRunning-${spec.SourceTable}-$hashId"))
      notifier.notify(s"Extraction of ${spec.SourceTable} SKIPPED", hashId)
      return report
    }
    try {
      val df = readSource(spec)
      val loadTs = java.sql.Timestamp.from(Instant.now)
      val cleaned = Transforms.pipeline(hashId, loadTs)(df)
      // X1 — one pass over the source: the write counts the rows it lands.
      // The transform chain and the date-part columns only add or rewrite
      // columns, never rows, so the landed count equals the raw count the
      // reference takes before its renames (`sybaseiq_extractor.py:296` vs
      // `:312`; SURVEY.md §7.4). Only the unpartitioned K1 layout persists
      // and counts before the write, inside the writer, for its size tier.
      val wr = LakeWriter.writeCounted(cleaned, lakeBase, spec.lakePathSuffix,
        spec.s3PartitionColumn.map(Transforms.normalizeName), writeMode)
      // Catalog registration `{SourceName}_{SourceTable}` in the target db,
      // as the reference's Glue sink does (`sybaseiq_extractor.py:163`),
      // declared from the landed schema.
      LakeWriter.registerInCatalog(spark, targetDb,
        Transforms.normalizeName(spec.lakeTableName), wr.path,
        wr.partitionColumns, wr.schema)
      val rec = Reconciliation(spec.ExpectedAmountOfRecords, wr.rows)
      ledger.put(LedgerEntry(hashId, spec.SourceTable, RunStatus.Succeeded,
        rowCount = Some(wr.rows), expectedRows = spec.ExpectedAmountOfRecords,
        schemaTree = Some(cleaned.schema.treeString),
        startTs = Some(startTs), endTs = Some(Instant.now.toString)))
      notifier.notify(rec.subject(spec.SourceTable, RunStatus.Succeeded),
        s"expected=${rec.expected.getOrElse("-")} actual=${rec.actual}")
      RunReport(spec, RunStatus.Succeeded, Some(rec), Some(wr), None)
    } catch {
      case e: Exception =>
        // the class name too: a message-less exception (an NPE) would
        // otherwise record a null message, which the ledger drops
        val error = e.toString
        ledger.put(LedgerEntry(hashId, spec.SourceTable, RunStatus.Failed,
          expectedRows = spec.ExpectedAmountOfRecords, startTs = Some(startTs),
          endTs = Some(Instant.now.toString), errorMessage = Some(error)))
        notifier.notify(s"Extraction of ${spec.SourceTable} FAILED",
          s"plan=$hashId table=${spec.SourceTable} error=$error")
        RunReport(spec, RunStatus.Failed, None, None, Some(error))
    }
  }
}

/** K6 — plan-file lifecycle: move the consumed plan JSON to `succeeded/` or
  * `failed/` after the run (`postprocess/lambda_function.py:21-72`). A plan
  * whose parts all succeeded goes to succeeded/, else failed/.
  */
object PlanStore {
  import java.nio.file._
  import scala.jdk.CollectionConverters._

  def moveProcessed(planFile: Path, allSucceeded: Boolean): Path = {
    val destDir = planFile.getParent.resolveSibling(
      if (allSucceeded) "succeeded" else "failed")
    Files.createDirectories(destDir)
    val dest = destDir.resolve(planFile.getFileName)
    Files.move(planFile, dest, StandardCopyOption.REPLACE_EXISTING)
    dest
  }

  /** X11's schedule-intake filter (`routing/lambda_function.py:179`): only
    * `.json` files whose name does not contain `done`. */
  def scheduledPlanFiles(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.contains("done"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
  }
}
