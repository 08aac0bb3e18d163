package perfbench

import java.nio.file.{Files, Path}
import java.time.YearMonth
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ledger.{FileLedger, LedgerEntry, RunStatus}
import graft.plan.{MigrationPlan, PlanCodec}
import graft.run.{BufferNotifier, PlanRunner, Reconciliation, RunReport}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** `extract_many_plans`: one Catalyst-evaluated plan per month plus one
  * empty window, landed in the year/month/day layout. Each iteration gets a
  * fresh lake and a fresh copy of a `FileLedger` seeded with terminal
  * entries, runs the plans through `runPlansParallel(maxConcurrent = cpus)`
  * (the run pass), runs the same plans again (the readmit pass), and checks
  * every output afterwards. Overhead-bound.
  */
final class Extraction(spark: SparkSession, cfg: Config, tracer: Tracer) extends Workload {
  import Extraction._

  private val work = Fixtures.abs(cfg.workDir)
  private val rnd = new scala.util.Random(cfg.seed)
  private var iter = 0

  private var plansJson: Vector[String] = Vector.empty
  /** Source row count and checksum per plan table. */
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  private var seedLedger: Path = _

  // A warm iteration still speeds up by ~5 % per iteration over the first
  // eight (measured on a 4-core host: 5.4 s, 4.9, 4.6, 4.3, 4.2, 3.8, 3.4,
  // 3.6); timing only from the third on keeps the few timed ones of a run
  // off the steepest part of that curve. More would not fit a full
  // benchmark round (see the README).
  override val warmups = 2

  def stage(): Unit = {
    seedLedger = Fixtures.seededLedger(work.resolve("ledger"), LedgerEntries)
    val l = graft.sources.TableCatalog.load(spark, cfg.dataDir, "lineitem")
    val o = graft.sources.TableCatalog.load(spark, cfg.dataDir, "orders")
    val joined = l.join(o.select("o_orderkey", "o_orderpriority"), l("l_orderkey") === o("o_orderkey"))
      .drop("o_orderkey")
    val months = Months.map(m => (m, tableFor(m)))
    val byMonth = Fixtures.checksumBy(joined, date_format(col("l_shipdate"), "yyyy_MM"), Cols)
    expected = months.map { case (m, t) =>
      t -> byMonth.getOrElse(f"${m.getYear}_${m.getMonthValue}%02d", (0L, BigDecimal(0)))
    }.toMap
    val order = rnd.shuffle(months)
    plansJson = order.map { case (m, t) =>
      val from = m.atDay(1); val to = m.plusMonths(1).atDay(1)
      val plan = JObject(
        "SourceName" -> JString("tpch"), "SourceDatabase" -> JString("lake"),
        "SourceSchema" -> JString("main"), "SourceTable" -> JString(t),
        "Active" -> JBool(true),
        "Query" -> JString("SELECT l.*, o.o_orderpriority FROM lineitem l JOIN orders o " +
          s"ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate >= TIMESTAMP '$from 00:00:00' " +
          s"AND l.l_shipdate < TIMESTAMP '$to 00:00:00'"),
        "ExpectedAmountOfRecords" -> JInt(expected(t)._1),
        "ColumnForPartitioningOnS3" -> JString("l_shipdate"))
      JsonMethods.compact(JsonMethods.render(plan))
    }
  }

  def iteration(traced: Boolean): IterResult = {
    iter += 1
    val lake = work.resolve(s"lake/iter-$iter")
    val ledgerPath = work.resolve(s"ledger/iter-$iter.jsonl")
    Fixtures.deleteTree(lake)
    Files.deleteIfExists(ledgerPath)
    Files.copy(seedLedger, ledgerPath)
    val ledger = new FileLedger(ledgerPath)
    val notifier = new BufferNotifier
    var runReports: Seq[RunReport] = Nil
    var readmitReports: Seq[RunReport] = Nil
    var runS = 0.0
    var readmitS = 0.0
    val t = Iteration.timed(tracer, traced, "iteration") {
      val t0 = System.nanoTime()
      val plans = tracer.span("pass.run") {
        val plans = plansJson.map(j => tracer.span("plan.parse")(PlanCodec.parse(j)))
        runReports = runPass(plans, lake, ledger, ledgerPath, notifier, traced, "run.plan")
        plans
      }
      val t1 = System.nanoTime()
      tracer.span("pass.readmit") {
        readmitReports = runPass(plans, lake, ledger, ledgerPath, notifier, traced, "readmit.plan")
      }
      runS = (t1 - t0) / 1e9
      readmitS = (System.nanoTime() - t1) / 1e9
    }
    val checks = check(lake, ledgerPath, runReports, readmitReports)
    val sinkStats = Fixtures.lakeStats(lake)
    val ledgerLines = Fixtures.lineCount(ledgerPath)
    Fixtures.deleteTree(lake)
    Files.deleteIfExists(ledgerPath)
    Files.deleteIfExists(ledgerPath.resolveSibling(ledgerPath.getFileName.toString + ".lock"))
    val extra = Map("extract_s" -> runS, "readmit_s" -> readmitS,
      "plans_per_s" -> runReports.size / runS)
    val layers = t.view.map(v => layerMetrics(v, sinkStats, ledgerLines)).getOrElse(Map.empty)
    IterResult(t.wallS, t.cpuS, extra, runReports.size + readmitReports.size,
      checks.failed, checks.errors, layers, t.view, t.heapMiB)
  }

  /** One pass over `plans`: the engine's own entry point when untraced, its
    * call-for-call replica with a span per call when traced. */
  private def runPass(plans: Seq[MigrationPlan], lake: Path, ledger: FileLedger, ledgerPath: Path,
      notifier: BufferNotifier, traced: Boolean, planSpan: String): Seq[RunReport] =
    if (!traced)
      new PlanRunner(spark, cfg.dataDir, lake.toString, ledger, notifier)
        .runPlansParallel(plans, maxConcurrent = cfg.cpus).flatten
    else
      new TracedRunner(spark, cfg.dataDir, lake.toString, ledger, ledgerPath,
        notifier, tracer, planSpan)
        .runPlansParallel(plans, maxConcurrent = cfg.cpus).flatten

  /** Untimed output checks of one iteration. */
  private def check(lake: Path, ledgerPath: Path, run: Seq[RunReport],
      readmit: Seq[RunReport]): Checks = {
    val errors = Vector.newBuilder[String]
    var failed = 0
    val succeeded = run.filter(_.status == RunStatus.Succeeded)
    run.filterNot(_.status == RunStatus.Succeeded).foreach { r =>
      failed += 1
      noteFailure(s"${r.spec.SourceTable} part ${r.spec.MigrationPart} ${r.status}: ${r.error.getOrElse("")}")
    }
    // readmit: every part that succeeded comes back SKIPPED; a part that
    // failed is admitted again and counts again if it fails again
    val okKeys = succeeded.map(r => (r.spec.SourceTable, r.spec.MigrationPart)).toSet
    readmit.foreach { r =>
      val key = (r.spec.SourceTable, r.spec.MigrationPart)
      if (okKeys(key)) {
        if (r.status != RunStatus.Skipped) {
          failed += 1
          errors += s"readmit of ${key._1} part ${key._2} was ${r.status}, expected SKIPPED"
        }
      } else if (r.status != RunStatus.Succeeded) failed += 1
    }
    val ledgerLines = readLedger(ledgerPath)
    succeeded.foreach { r =>
      val name = s"${r.spec.SourceTable} part ${r.spec.MigrationPart}"
      val want = expected(r.spec.SourceTable)._1
      val rec = r.reconciliation.getOrElse(Reconciliation(None, -1L))
      if (rec.actual != want) errors += s"$name: reconciliation actual ${rec.actual}, source has $want"
      val hash = r.spec.executionHashId
      val ok = ledgerLines.filter(e => e.executionHashId == hash && e.sourceTable == r.spec.SourceTable &&
        e.status == RunStatus.Succeeded)
      if (ok.size != 1 || ok.head.rowCount != Some(want))
        errors += s"$name: ledger holds ${ok.size} SUCCEEDED entries " +
          s"(rowCount ${ok.map(_.rowCount.getOrElse(-1L)).mkString(",")}), expected one with $want"
    }
    val landed = landedChecksums(lake)
    val keys = succeeded.map(_.spec.SourceTable).distinct
    keys.foreach { k =>
      val got = landed.getOrElse(k, (0L, BigDecimal(0)))
      if (got != expected(k))
        errors += s"$k: lake holds ${got._1} rows / checksum ${got._2}, " +
          s"source has ${expected(k)._1} / ${expected(k)._2}"
    }
    Checks(failed, errors.result())
  }

  /** Row count and checksum of the landed rows per plan table, from the
    * landed files themselves (one read covers all tables; l_shipdate stays
    * a data column). The lake is read back after both passes, so a readmit
    * that landed rows again shows as a count mismatch. */
  private def landedChecksums(lake: Path): Map[String, (Long, BigDecimal)] = {
    val files = Fixtures.parquetFiles(lake.resolve("tpch/main")).map(_.toString)
    if (files.isEmpty) Map.empty
    else Fixtures.checksumBy(spark.read.parquet(files: _*),
      regexp_extract(input_file_name(), "/main/([^/]+)/", 1), Cols)
  }

  /** Every line of the ledger file, in the fields the checks need. */
  private def readLedger(p: Path): Seq[LedgerEntry] =
    Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty).map { line =>
      val j = JsonMethods.parse(line)
      def str(k: String) = j \ k match { case JString(v) => v; case _ => "" }
      val rows = j \ "rowCount" match {
        case JInt(v) => Some(v.toLong); case JLong(v) => Some(v); case _ => None
      }
      LedgerEntry(str("executionHashId"), str("sourceTable"), str("status"), rows)
    }

  private def layerMetrics(v: TraceView, sink: (Long, Long, Long), ledgerLines: Long): Map[String, Double] = {
    val planWalls = v.named("run.plan").map(_.wallS).sorted
    def pct(p: Double) =
      if (planWalls.isEmpty) 0.0 else planWalls(math.min(planWalls.size - 1, math.ceil(p * planWalls.size).toInt - 1))
    val planSpans = v.named("run.plan") ++ v.named("readmit.plan")
    Map(
      "plan.parse_s" -> v.wall("plan.parse"),
      "ledger.admit_s" -> v.wall("ledger.admit"),
      "ledger.put_s" -> v.wall("ledger.put"),
      "ledger.admit_bytes" -> v.counter("bench.inspect", "admit_bytes"),
      "ledger.admit_lines" -> v.counter("bench.inspect", "admit_lines"),
      "ledger.lines" -> ledgerLines.toDouble,
      "sources.read_s" -> v.wall("sources.read"),
      "sources.rows" -> v.counter("bench.inspect", "rows"),
      "run.read_count_s" -> v.wall("run.read_count"),
      "run.cached_mb" -> v.counter("bench.inspect", "cached_bytes") / (1024.0 * 1024.0),
      "run.plan_p50_s" -> pct(0.5),
      "run.plan_p90_s" -> pct(0.9),
      "run.readmit_s" -> v.wall("pass.readmit"),
      "operators.transform_s" -> v.wall("operators.transform"),
      "sinks.write_s" -> v.wall("sinks.write"),
      "sinks.files" -> sink._1.toDouble,
      "sinks.partitions" -> sink._2.toDouble,
      "sinks.bytes" -> sink._3.toDouble,
      "sinks.catalog_s" -> v.wall("sinks.catalog"),
      "sinks.catalog_jobs" -> v.jobsIn("sinks.catalog").size.toDouble,
      "spark.driver_gap_s" -> planSpans.map(v.driverGapS).sum
    ) ++ Iteration.sparkTotals(v)
  }
}

object Extraction {
  final case class Checks(failed: Int, errors: Seq[String])

  /** Terminal entries in the ledger every iteration starts from. */
  val LedgerEntries = 5000
  /** One plan per month, plus a window before the data that holds no rows. */
  val Months: Vector[YearMonth] =
    (0 until 4).map(i => YearMonth.of(1997, 1).plusMonths(i.toLong)).toVector :+ YearMonth.of(1990, 1)

  val Cols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "o_orderpriority")

  def tableFor(m: YearMonth): String = f"lineitem_${m.getYear}_${m.getMonthValue}%02d"

  private val noted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Prints each distinct failed operation once; failures count into
    * `failed`, not into correctness. */
  def noteFailure(msg: String): Unit =
    if (noted.add(msg.take(300))) println(s"failed operation: ${msg.take(300)}")
}
