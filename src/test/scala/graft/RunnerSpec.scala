package graft

import graft.plan.PlanCodec
import graft.ledger.{FileLedger, InMemoryLedger, RunStatus}
import graft.run.{BufferNotifier, PlanRunner, PlanStore, Reconciliation}
import graft.sinks.WriteMode
import java.nio.file.Files

/** End-to-end tests of the control plane: admission idempotency (X6),
  * sequential continue-on-failure (X5), bounded parallelism (X4),
  * reconciliation outcomes (A3), plan-file lifecycle (K6), write layouts
  * (K1/K2/K3).
  */
class RunnerSpec extends SparkSpec {

  private def mkPlan(query: String, table: String = "lineitem",
      s3Col: String = "", expected: Long = -1, part: Int = 1): String = {
    val exp = if (expected >= 0) s""""ExpectedAmountOfRecords":$expected,""" else ""
    s"""{"SourceName":"graft","SourceDatabase":"tpch","SourceSchema":"main",
       |"SourceTable":"$table","Active":true,"MigrationPart":$part,$exp
       |"Query":"${query.replace("\"", "\\\"")}",
       |"ColumnForPartitioningOnS3":"$s3Col"}""".stripMargin
  }

  private def newRunner(notifier: BufferNotifier = new BufferNotifier) = {
    val lake = Files.createTempDirectory("graft_test_lake_").toString
    (new PlanRunner(spark, sf0001, lake, new InMemoryLedger, notifier), lake, notifier)
  }

  test("M0 slice: date-partitioned write lands year/month/day layout (K2)") {
    val (runner, lake, _) = newRunner()
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'",
      s3Col = "l_shipdate"))
    val reports = runner.runPlan(plan)
    assert(reports.head.status == RunStatus.Succeeded)
    val landed = spark.read.parquet(s"$lake/graft/main/lineitem")
    assert(landed.columns.contains("year") && landed.columns.contains("month"))
    assert(landed.columns.contains("migration_executionhashid"))
    // unpadded month dirs (quirk preserved): month=1, not month=01
    val dirs = new java.io.File(s"$lake/graft/main/lineitem/year=1995").list()
    assert(dirs.contains("month=1"), s"expected unpadded month, got ${dirs.toSeq}")
    val n = landed.count()
    assert(n == reports.head.reconciliation.get.actual)
    // catalog registration: table queryable by name, partition filter works
    val viaCatalog = spark.sql(
      "SELECT count(*) AS n FROM graft_lake.graft_lineitem WHERE year = '1995'")
      .collect()(0).getLong(0)
    assert(viaCatalog == n)
  }

  test("a K2 part whose window holds no rows succeeds, registers its full " +
      "schema and is SKIPPED on readmit") {
    val (runner, _, notifier) = newRunner()
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1990-01-01' AND l_shipdate < TIMESTAMP '1990-02-01'",
      table = "lineitem_empty", s3Col = "l_shipdate", expected = 0))
    val r = runner.runPlan(plan).head
    assert(r.status == RunStatus.Succeeded, r.error)
    assert(r.reconciliation.contains(Reconciliation(Some(0L), 0L)))
    assert(notifier.messages.exists(_._1 == "Extraction of lineitem_empty SUCCEEDED"))
    val table = spark.table("graft_lake.graft_lineitem_empty")
    assert(table.count() == 0)
    assert(table.schema.map(f => f.name -> f.dataType) ==
      r.writeResult.get.schema.map(f => f.name -> f.dataType))
    assert(Seq("l_orderkey", "migration_executionhashid", "year", "month", "day")
      .forall(table.columns.contains), table.columns.toSeq)
    assert(runner.runPlan(plan).head.status == RunStatus.Skipped)
  }

  test("the catalog declares the landed types: K2 year/month/day are STRING") {
    import org.apache.spark.sql.types.StringType
    val (runner, _, _) = newRunner()
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-02-01'",
      table = "lineitem_types", s3Col = "l_shipdate"))
    val r = runner.runPlan(plan).head
    assert(r.status == RunStatus.Succeeded, r.error)
    val schema = spark.table("graft_lake.graft_lineitem_types").schema
    assert(Seq("year", "month", "day").forall(c => schema(c).dataType == StringType))
    assert(schema.map(f => f.name -> f.dataType) ==
      r.writeResult.get.schema.map(f => f.name -> f.dataType))
    assert(spark.sql("SELECT count(*) FROM graft_lake.graft_lineitem_types " +
      "WHERE year = '1995' AND month = '1'").collect()(0).getLong(0) ==
      r.reconciliation.get.actual)
  }

  test("each part is one pass over its source (K1, K2, K3) and leaves " +
      "nothing cached, whether it succeeds or fails") {
    val (runner, _, _) = newRunner()
    val evals = spark.sparkContext.longAccumulator("source_row_evals")
    spark.udf.register("graft_count_eval", (k: Long) => { evals.add(1); k })
    spark.udf.register("graft_fail_eval",
      (k: Long) => { if (k >= 0) throw new IllegalStateException("boom"); k })
    spark.catalog.clearCache()
    val cases = Seq(
      ("lineitem", "l_orderkey", "l_shipdate",
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'"),
      ("orders", "o_orderkey", "o_orderstatus", ""),
      ("region", "r_regionkey", "", ""))
    cases.foreach { case (src, key, s3Col, where) =>
      val sourceRows = graft.sources.TableCatalog.sql(spark, sf0001,
        s"SELECT count(*) FROM $src $where").collect()(0).getLong(0)
      assert(sourceRows > 0)
      evals.reset()
      val r = runner.runPlan(PlanCodec.parse(mkPlan(
        s"SELECT *, graft_count_eval(CAST($key AS BIGINT)) AS probe FROM $src $where",
        table = s"${src}_one_pass", s3Col = s3Col))).head
      assert(r.status == RunStatus.Succeeded, r.error)
      assert(r.reconciliation.get.actual == sourceRows)
      assert(evals.sum == sourceRows,
        s"$src: ${evals.sum} evaluations of $sourceRows source rows")
      assert(spark.sharedState.cacheManager.isEmpty, s"$src left a cache entry")
    }
    val failed = runner.runPlan(PlanCodec.parse(mkPlan(
      "SELECT *, graft_fail_eval(CAST(r_regionkey AS BIGINT)) AS probe FROM region",
      table = "region_fails"))).head
    assert(failed.status == RunStatus.Failed)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed K1 part left a cache entry")
  }

  test("partitioned writes land ONE file per leaf partition (clustered)") {
    val (runner, lake, _) = newRunner()
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'",
      s3Col = "l_shipdate"))
    assert(runner.runPlan(plan).head.status == RunStatus.Succeeded)
    // without the pre-write repartition every task holds every live day:
    // tasks × partitions near-empty files (the small-files pathology)
    val root = java.nio.file.Paths.get(s"$lake/graft/main/lineitem")
    val leaves = java.nio.file.Files.walk(root).iterator()
    val perLeaf = scala.collection.mutable.Map.empty[String, Int]
    leaves.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet"))
        perLeaf.updateWith(p.getParent.toString)(c => Some(c.getOrElse(0) + 1))
    }
    assert(perLeaf.nonEmpty)
    assert(perLeaf.values.forall(_ == 1),
      s"expected 1 file per day partition, got ${perLeaf.filter(_._2 > 1).take(3)}")
  }

  test("non-date partition column uses single-column layout (K3)") {
    val (runner, lake, _) = newRunner()
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM orders", table = "orders", s3Col = "o_orderstatus"))
    assert(runner.runPlan(plan).head.status == RunStatus.Succeeded)
    val dirs = new java.io.File(s"$lake/graft/main/orders").list()
    assert(dirs.exists(_.startsWith("o_orderstatus=")), dirs.toSeq.toString)
  }

  test("unpartitioned write coalesces to 8 files for small input (K1+X2)") {
    val (runner, lake, _) = newRunner()
    val plan = PlanCodec.parse(mkPlan("SELECT * FROM region", table = "region"))
    val r = runner.runPlan(plan).head
    assert(r.status == RunStatus.Succeeded)
    assert(r.writeResult.get.files <= 8)
  }

  test("idempotency: second run of same plan is SKIPPED with tombstone (X6)") {
    val (runner, _, notifier) = newRunner()
    val plan = PlanCodec.parse(mkPlan("SELECT * FROM region", table = "region"))
    assert(runner.runPlan(plan).head.status == RunStatus.Succeeded)
    val second = runner.runPlan(plan).head
    assert(second.status == RunStatus.Skipped)
    assert(second.error.get.startsWith("JobHasRunOrIsRunning-region-"))
  }

  test("failed part: chain continues, ledger records FAILED, retry allowed (X5)") {
    val (runner, _, notifier) = newRunner()
    val plan = PlanCodec.parse(
      s"""{"SourceName":"graft","SourceDatabase":"d","SourceSchema":"s",
         |"SourceTable":"t","Active":true,"SequentialMultipleParts":true,
         |"Jobs":[
         | {"MigrationPart":1,"Query":"SELECT * FROM no_such_table"},
         | {"MigrationPart":2,"Query":"SELECT * FROM nation"}
         |]}""".stripMargin)
    val reports = runner.runPlan(plan)
    assert(reports.map(_.status) == Seq(RunStatus.Failed, RunStatus.Succeeded))
    // FAILED parts may be re-run (reference: only SUCCEEDED/in-flight skip)
    assert(runner.runPlan(plan).head.status == RunStatus.Failed)
  }

  test("a failed part whose exception has no message records the " +
      "exception class, and its notification names the plan and table") {
    val notifier = new BufferNotifier
    val lake = Files.createTempDirectory("graft_test_lake_").toString
    val ledgerPath = Files.createTempDirectory("graft_test_ledger_")
      .resolve("ledger.jsonl")
    // the source read fails before any row is read, with a bare NPE
    val failing = new graft.sources.CredentialsProvider {
      def resolve(ref: Option[String]): graft.sources.JdbcCredentials =
        throw new NullPointerException()
    }
    val runner = new PlanRunner(spark, sf0001, lake,
      new FileLedger(ledgerPath), notifier, credentials = failing)
    val plan = PlanCodec.parse(
      s"""{"SourceName":"graft","SourceDatabase":"d","SourceSchema":"s",
         |"SourceTable":"t_npe","Active":true,"MigrationPart":1,
         |"JDBCConnectionString":"jdbc:h2:mem:graft_npe",
         |"Query":"SELECT 1"}""".stripMargin)
    val r = runner.runPlan(plan).head
    assert(r.status == RunStatus.Failed)
    assert(r.error.exists(_.contains("java.lang.NullPointerException")),
      r.error)
    val hash = plan.activeSpecs.head.executionHashId
    // the ledger line reads back from disk with the error recorded
    val entry = new FileLedger(ledgerPath).get(hash, "t_npe").get
    assert(entry.status == RunStatus.Failed)
    assert(entry.errorMessage.exists(
      _.contains("java.lang.NullPointerException")), entry)
    val (subject, body) = notifier.messages.last
    assert(subject == "Extraction of t_npe FAILED")
    assert(body.contains(hash) && body.contains("t_npe") &&
      body.contains("java.lang.NullPointerException"), body)
    // a ledger line written before the fix (a null message) still parses
    Files.writeString(ledgerPath,
      """{"executionHashId":"h0","sourceTable":"t0","status":"FAILED",""" +
        """"errorMessage":null}""" + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    val old = new FileLedger(ledgerPath).get("h0", "t0").get
    assert(old.status == RunStatus.Failed && old.errorMessage.isEmpty)
  }

  test("reconciliation: match, mismatch-warning, and no-expectation (A3)") {
    assert(Reconciliation(Some(5), 5).subject("t", RunStatus.Succeeded)
      == "Extraction of t SUCCEEDED")
    assert(Reconciliation(Some(9), 5).subject("t", RunStatus.Succeeded)
      == "Extraction of t SUCCEEDED WITH WARNING")
    assert(Reconciliation(None, 5).ok)
    assert(Reconciliation(Some(9), 5).subject("t", RunStatus.Failed)
      == "Extraction of t FAILED")
  }

  test("reconciliation flows to notifier with expected-vs-actual (A3/K5)") {
    val (runner, _, notifier) = newRunner()
    val plan = PlanCodec.parse(mkPlan("SELECT * FROM nation", table = "nation",
      expected = 999))
    assert(runner.runPlan(plan).head.reconciliation.exists(!_.ok))
    assert(notifier.messages.exists(_._1.endsWith("WITH WARNING")))
  }

  test("bounded parallel plans all complete (X4)") {
    val (runner, _, _) = newRunner()
    val plans = (1 to 4).map(i => PlanCodec.parse(mkPlan(
      s"SELECT * FROM nation WHERE n_nationkey % 4 = ${i - 1}",
      table = s"nation_$i")))
    val results = runner.runPlansParallel(plans, maxConcurrent = 2)
    assert(results.flatten.size == 4, "vacuity guard: one report per plan")
    assert(results.flatten.forall(_.status == RunStatus.Succeeded))
  }

  test("admission is atomic: N identical racing plans execute exactly once (X6 fixed)") {
    val (runner, _, _) = newRunner()
    // 8 copies of the SAME plan (same executionHashId) raced through the
    // X4 parallel executor: the tryAdmit conditional write must admit
    // exactly one — the reference's separate get+put can double-run here.
    val plans = (1 to 8).map(_ =>
      PlanCodec.parse(mkPlan("SELECT * FROM region", table = "region")))
    val statuses = runner.runPlansParallel(plans, maxConcurrent = 8)
      .flatten.map(_.status)
    assert(statuses.count(_ == RunStatus.Succeeded) == 1,
      s"exactly one execution expected, got $statuses")
    assert(statuses.count(_ == RunStatus.Skipped) == 7)
  }

  test("FileLedger admission is OS-locked: separate ledger instances " +
      "racing the same key admit exactly one (X6 cross-process)") {
    import graft.ledger.{FileLedger, LedgerEntry, RunStatus}
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_race_")
    val p = dir.resolve("ledger.jsonl").toString
    // each racer holds its OWN FileLedger — the base trait's per-instance
    // monitor can't serialize them; only the FileLock + path-keyed monitor
    // in FileLedger.tryAdmit does (the spec form the r9 verdict asked for:
    // the FileLock API under concurrent threads with separate instances)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = new FileLedger(p)
            .tryAdmit(LedgerEntry("hashX", "tableX"))
        })
      }.map(_.get())
      assert(results.count(identity) == 1,
        s"expected exactly one admission, got ${results.count(identity)}")
      // a FAILED terminal status re-opens admission — again exactly once
      new FileLedger(p).put(
        LedgerEntry("hashX", "tableX", RunStatus.Failed))
      val retry = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = new FileLedger(p)
            .tryAdmit(LedgerEntry("hashX", "tableX"))
        })
      }.map(_.get())
      assert(retry.count(identity) == 1, s"re-admission after FAILED: $retry")
      // SUCCEEDED stays closed
      new FileLedger(p).put(
        LedgerEntry("hashX", "tableX", RunStatus.Succeeded))
      assert(!new FileLedger(p).tryAdmit(LedgerEntry("hashX", "tableX")))
    } finally pool.shutdown()
  }

  test("FileLedger reads survive a torn trailing line, and concurrent " +
      "put()s interleaved with admissions never crash or double-admit") {
    import graft.ledger.{FileLedger, LedgerEntry, RunStatus}
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_torn_")
    val p = dir.resolve("ledger.jsonl")
    val led = new FileLedger(p.toString)
    led.put(LedgerEntry("h1", "t1", RunStatus.Succeeded))
    // a torn in-flight append (half a JSON line, no newline flushed yet):
    // readers must skip it, not throw a parse error mid-admission
    java.nio.file.Files.write(p, "{\"executionHashId\":\"h2\",\"sour"
      .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    assert(led.get("h1", "t1").exists(_.status == RunStatus.Succeeded))
    assert(led.all.map(_.executionHashId) == Seq("h1"))
    assert(led.tryAdmit(LedgerEntry("h2", "t2"))) // unaffected key admits
    // put() takes the same OS lock as tryAdmit: hammer status updates from
    // one set of instances while others race admissions on fresh keys —
    // every admission must remain exactly-once and no read may crash
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val puts = (1 to 32).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = new FileLedger(p.toString).put(
            LedgerEntry("h2", "t2",
              if (i % 2 == 0) RunStatus.Succeeded else RunStatus.Failed))
        })
      }
      val admits = (1 to 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = new FileLedger(p.toString)
            .tryAdmit(LedgerEntry(s"race${i % 4}", "t3"))
        })
      }
      puts.foreach(_.get())
      val admitted = admits.map(_.get())
      assert(admitted.count(identity) == 4, // 4 distinct keys, one each
        s"expected 4 admissions, got ${admitted.count(identity)}")
    } finally pool.shutdown()
  }

  test("invalid plans fail fast with readable problems") {
    import graft.plan.{PlanCodec, PlanValidator}
    val bad = PlanCodec.parse(
      """{"SourceName":"","SourceDatabase":"d","SourceSchema":"s",
        |"SourceTable":"t","Active":true,"Query":"SELECT 1;",
        |"NumPartitions":4}""".stripMargin)
    val problems = PlanValidator.validate(bad)
    assert(problems.exists(_.contains("SourceName")))
    assert(problems.exists(_.contains("';'")))
    assert(problems.exists(_.contains("partitioned read requires ALL")))
    val (runner, _, notifier) = newRunner()
    val report = runner.runPlan(bad).head
    assert(report.status == RunStatus.Failed)
    assert(report.error.exists(_.startsWith("invalid plan:")))
  }

  test("HLL sketches reconcile distinct keys across runs (mergeable)") {
    import graft.run.ApproxReconciler
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    // two "runs" over disjoint halves — sketches persisted independently
    val h1 = orders.where(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 0)
    val h2 = orders.where(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 1)
    val sk = Seq(ApproxReconciler.keySketch(h1, "o_custkey"),
      ApproxReconciler.keySketch(h2, "o_custkey"))
    val est = ApproxReconciler.estimateDistinct(spark, sk)
    val exact = ApproxReconciler.exactDistinct(orders, "o_custkey")
    assert(math.abs(est - exact) <= math.max(1L, exact / 20),
      s"HLL estimate $est too far from exact $exact")
  }

  test("file ledger: latest-wins upsert by composite key (K4)") {
    val led = new FileLedger(Files.createTempDirectory("graft_led_")
      .resolve("ledger.jsonl"))
    import graft.ledger.LedgerEntry
    led.put(LedgerEntry("h1", "t1", status = ""))
    assert(!led.shouldRun("h1", "t1")) // in-flight blocks
    led.put(LedgerEntry("h1", "t1", status = RunStatus.Failed))
    assert(led.shouldRun("h1", "t1")) // failed allows retry
    led.put(LedgerEntry("h1", "t1", status = RunStatus.Succeeded))
    assert(!led.shouldRun("h1", "t1"))
    assert(led.all.size == 1)
  }

  test("plan-file lifecycle: succeeded/failed folders + schedule filter (K6/X11)") {
    val dir = Files.createTempDirectory("graft_plans_")
    val sched = dir.resolve("run_on_schedule_1")
    Files.createDirectories(sched)
    Files.writeString(sched.resolve("a.json"), "{}")
    Files.writeString(sched.resolve("b_done.json"), "{}")
    Files.writeString(sched.resolve("c.txt"), "{}")
    val files = PlanStore.scheduledPlanFiles(sched)
    assert(files.map(_.getFileName.toString) == Seq("a.json"))
    val moved = PlanStore.moveProcessed(files.head, allSucceeded = true)
    assert(moved.getParent.getFileName.toString == "succeeded")
    assert(!Files.exists(sched.resolve("a.json")))
  }

  test("schema evolution: append with a new column, catalog re-registration exposes it") {
    // the reference updates the catalog on every write (enableUpdateCatalog,
    // sybaseiq_extractor.py:161) — our analogue: re-register after append
    import graft.sinks.LakeWriter
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_evo_").toString
    val v1 = spark.read.parquet(s"$sf0001/region.parquet")
    v1.write.mode("append").parquet(s"$dir/t")
    val v2 = v1.withColumn("r_comment", concat(lit("c"), col("r_regionkey")))
    v2.write.mode("append").parquet(s"$dir/t")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.contains("r_comment"))
    assert(merged.count() == v1.count() * 2)
    assert(merged.where(col("r_comment").isNull).count() == v1.count())
    LakeWriter.registerInCatalog(spark, "graft_lake", "region_evo",
      s"$dir/t", Nil)
    assert(spark.table("graft_lake.region_evo").count() == v1.count() * 2)
  }

  test("a lake base holding a quote registers: the part SUCCEEDS once and " +
      "is SKIPPED on re-run") {
    val lake = Files.createTempDirectory("graft_o'brien_").toString
    val runner = new PlanRunner(spark, sf0001, lake, new InMemoryLedger,
      new BufferNotifier)
    val plan = PlanCodec.parse(mkPlan(
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-02-01'",
      table = "lineitem_quote", s3Col = "l_shipdate"))
    val r = runner.runPlan(plan).head
    assert(r.status == RunStatus.Succeeded, r.error)
    assert(runner.runPlan(plan).head.status == RunStatus.Skipped)
    assert(spark.table("graft_lake.graft_lineitem_quote").count() ==
      r.reconciliation.get.actual)
  }

  test("the landed audit timestamp is the run's load time and the ledger's " +
      "schema tree is the one lit(loadTs) gives") {
    import graft.operators.Transforms
    import org.apache.spark.sql.functions.lit
    val ledger = new InMemoryLedger
    val lake = Files.createTempDirectory("graft_audit_").toString
    val runner = new PlanRunner(spark, sf0001, lake, ledger, new BufferNotifier)
    val query = "SELECT * FROM orders WHERE o_orderkey < 100"
    val before = java.time.Instant.now
    val r = runner.runPlan(PlanCodec.parse(mkPlan(query,
      table = "orders_audit", s3Col = "o_orderstatus"))).head
    val after = java.time.Instant.now
    assert(r.status == RunStatus.Succeeded, r.error)
    val landed = spark.read.parquet(r.writeResult.get.path)
      .select(Transforms.AuditTsCol).distinct().collect()
      .map(_.getTimestamp(0).toInstant)
    assert(landed.length == 1)
    assert(!landed.head.isBefore(
      before.truncatedTo(java.time.temporal.ChronoUnit.MICROS)) &&
      !landed.head.isAfter(after), s"${landed.head} not in [$before, $after]")
    val viaLit = Transforms.trimStringColumns(Transforms.normalizeColumnNames(
      graft.sources.TableCatalog.sql(spark, sf0001, query))
      .withColumn(Transforms.AuditTsCol, lit(java.sql.Timestamp.from(before)))
      .withColumn(Transforms.AuditHashCol, lit("h")))
    assert(ledger.get(r.spec.executionHashId, "orders_audit")
      .flatMap(_.schemaTree).contains(viaLit.schema.treeString))
  }

  test("dynamic partition overwrite replaces only incoming partitions") {
    val lake = Files.createTempDirectory("graft_dpo_").toString
    val ledger = new InMemoryLedger
    val runner = new PlanRunner(spark, sf0001, lake, ledger,
      new BufferNotifier, WriteMode.OverwritePartitions)
    val p1 = PlanCodec.parse(mkPlan("SELECT * FROM orders", table = "orders",
      s3Col = "o_orderstatus"))
    assert(runner.runPlan(p1).head.status == RunStatus.Succeeded)
    val before = spark.read.parquet(s"$lake/graft/main/orders").count()
    // second run with different hash (different query) overwrites only 'O'
    val p2 = PlanCodec.parse(mkPlan(
      "SELECT * FROM orders WHERE o_orderstatus = 'O'", table = "orders",
      s3Col = "o_orderstatus", part = 2))
    assert(runner.runPlan(p2).head.status == RunStatus.Succeeded)
    val after = spark.read.parquet(s"$lake/graft/main/orders").count()
    assert(after == before) // O partition replaced in place, others intact
  }
}
