package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.{CommitStore, LeaseLockCommitStore, PosixLinkCommitStore, SnapshotLake}

/** Manifest-snapshot lake: atomic commits, time travel, snapshot-isolated
  * readers, optimistic version allocation, vacuum of unreferenced files.
  *
  * The FULL battery (including the 8-way genuinely concurrent race) runs
  * against BOTH [[CommitStore]] backends — the `link(2)` arbiter and the
  * lease/lock emulation — proving the commit protocol depends only on the
  * conditional-PUT contract, not on POSIX semantics.
  */
abstract class SnapshotLakeBehavior(storeName: String, store: CommitStore)
    extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_snap_").resolve("t").toString

  test(s"[$storeName] append commits accumulate; overwrite replaces; all versions readable") {
    val t = freshTable()
    val v0 = SnapshotLake.commitAppend(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, store)
    val v1 = SnapshotLake.commitAppend(Seq((3, "c")).toDF("id", "s"), t, store)
    val v2 = SnapshotLake.commitOverwrite(Seq((9, "z")).toDF("id", "s"), t, store)
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))
    assert(SnapshotLake.read(spark, t, Some(0), store).count() == 2)
    assert(SnapshotLake.read(spark, t, Some(1), store).count() == 3)
    assert(SnapshotLake.read(spark, t, store = store)
      .select("id").as[Int].collect().toSeq == Seq(9))
  }

  test(s"[$storeName] a pinned reader is isolated from later commits") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    val pinned = SnapshotLake.read(spark, t, Some(0), store)
    SnapshotLake.commitAppend(Seq((2, "b")).toDF("id", "s"), t, store)
    SnapshotLake.commitOverwrite(Seq((3, "c")).toDF("id", "s"), t, store)
    // the pinned frame still reads only v0's files
    assert(pinned.select("id").as[Int].collect().toSeq == Seq(1))
  }

  test(s"[$storeName] losing a version race retries at the next version") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    // simulate a concurrent winner claiming v1 (same file set as v0 — a
    // no-op append that won the race)
    val mdir = java.nio.file.Paths.get(t, "_manifests")
    Files.copy(mdir.resolve("v00000000000.json"),
      mdir.resolve("v00000000001.json"))
    val v = SnapshotLake.commitAppend(Seq((2, "b")).toDF("id", "s"), t, store)
    assert(v == 2L, s"allocated version $v")
    assert(SnapshotLake.read(spark, t, Some(2), store).count() == 2,
      "the retried append must re-base on the winner's manifest")
  }

  test(s"[$storeName] metadata-only MIN/MAX equals the scan; partial stats refuse") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      Seq((1, 5.5), (2, 9.25)).toDF("id", "x"), t, store,
      statsCols = Seq("x"))
    SnapshotLake.commitAppend(
      Seq((3, -2.0), (4, 7.0)).toDF("id", "x"), t, store,
      statsCols = Seq("x"))
    assert(SnapshotLake.minMaxFromStats(t, "x", store = store)
      .contains((-2.0, 9.25)))
    // a version pinned before the second commit sees only its own files
    assert(SnapshotLake.minMaxFromStats(t, "x", Some(0L), store)
      .contains((5.5, 9.25)))
    // an unstated column has no sidecar coverage → None, never a guess
    assert(SnapshotLake.minMaxFromStats(t, "id", store = store).isEmpty)
    // a stats-less commit poisons the whole-table answer (partial metadata
    // would be silently wrong)
    SnapshotLake.commitAppend(Seq((5, 99.0)).toDF("id", "x"), t, store)
    assert(SnapshotLake.minMaxFromStats(t, "x", store = store).isEmpty)
  }

  test(s"[$storeName] autoCompact rewrites only small files, carries big ones by reference") {
    val t = freshTable()
    // one adequately-sized commit + ten tiny ones
    SnapshotLake.commitAppend(
      (1 to 20000).map(i => (i, s"pad$i" * 10)).toDF("id", "s").coalesce(1),
      t, store)
    val bigFile = SnapshotLake.manifestFiles(t, 0L, store).head
    (1 to 10).foreach { b =>
      SnapshotLake.commitAppend(
        Seq((100000 + b, "tiny")).toDF("id", "s").coalesce(1), t, store) }
    val before = SnapshotLake.read(spark, t, None, store)
      .orderBy("id").collect()

    // below the small-file threshold: no-op, no new version
    assert(SnapshotLake.autoCompact(spark, t, minSmallFiles = 50,
      store = store).isEmpty)
    val v = SnapshotLake.autoCompact(spark, t, smallBytes = 64 << 10,
      minSmallFiles = 5, store = store).get
    val files = SnapshotLake.manifestFiles(t, v, store)
    assert(files.contains(bigFile),
      "the big file must be carried by reference (same path)")
    assert(files.size == 2, s"10 small files bin-packed into 1: $files")
    assert(SnapshotLake.read(spark, t, None, store)
      .orderBy("id").collect().toSeq == before.toSeq)
    // steady state after the rewrite: nothing left to do
    assert(SnapshotLake.autoCompact(spark, t, smallBytes = 64 << 10,
      minSmallFiles = 5, store = store).isEmpty)
  }

  test(s"[$storeName] autoCompact losing the CAS publishes nothing") {
    val t = freshTable()
    (1 to 6).foreach { b =>
      SnapshotLake.commitAppend(
        Seq((b, s"v$b")).toDF("id", "s").coalesce(1), t, store) }
    val head = SnapshotLake.versions(t, store).max
    // a concurrent writer claims head+1 before the compaction commits
    val mdir = java.nio.file.Paths.get(t, "_manifests")
    Files.copy(mdir.resolve(f"v$head%011d.json"),
      mdir.resolve(f"v${head + 1}%011d.json"))
    assert(SnapshotLake.autoCompact(spark, t, smallBytes = 64 << 10,
      minSmallFiles = 3, store = store, expectedBase = Some(head)).isEmpty)
    // the losing attempt left history intact; a retry at the new head wins
    assert(SnapshotLake.read(spark, t, None, store).count() == 6)
    assert(SnapshotLake.autoCompact(spark, t, smallBytes = 64 << 10,
      minSmallFiles = 3, store = store).isDefined)
    assert(SnapshotLake.read(spark, t, None, store).count() == 6)
  }

  test(s"[$storeName] tableProfile composes footers + stats + sketches, nulls on gaps") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 900).map(i => (i % 300, i * 0.5, s"s$i")).toDF("k", "x", "s")
        .repartition(2), t, store,
      statsCols = Seq("x"), ndvCols = Seq("k"))
    val p = SnapshotLake.tableProfile(spark, t, Seq("k", "x", "s"),
      store = store).collect().map(r => r.getString(0) -> r).toMap
    assert(p("x").getDouble(1) == 0.5 && p("x").getDouble(2) == 450.0)
    assert(p("x").isNullAt(3), "x has no ndv sidecar")
    assert(!p("k").isNullAt(3) &&
      math.abs(p("k").getLong(3) - 300L) <= 15L)
    assert(p("k").isNullAt(1) && p("k").isNullAt(2), "k has no stats sidecar")
    assert(p("s").isNullAt(1) && p("s").isNullAt(3))
    assert(p.values.forall(_.getLong(4) == 900L))
  }

  test(s"[$storeName] NDV sketch sidecars answer approx-distinct without a scan") {
    val t = freshTable()
    val df1 = (1 to 4000).map(i => (i % 1500, s"v$i")).toDF("k", "s")
    SnapshotLake.commitAppend(df1.repartition(2), t, store,
      ndvCols = Seq("k"))
    val df2 = (1 to 2000).map(i => (1000 + i % 1500, s"w$i")).toDF("k", "s")
    SnapshotLake.commitAppend(df2.repartition(1), t, store,
      ndvCols = Seq("k"))
    val est = SnapshotLake.approxDistinctFromSketches(spark, t, "k",
      store = store).get
    val exact = SnapshotLake.read(spark, t, None, store)
      .select(countDistinct(col("k"))).as[Long].head()
    assert(math.abs(est - exact) <= exact * 0.05,
      s"estimate $est vs exact $exact")
    // version-pinned: v0's sketches only
    val est0 = SnapshotLake.approxDistinctFromSketches(spark, t, "k",
      Some(0L), store).get
    val exact0 = SnapshotLake.read(spark, t, Some(0L), store)
      .select(countDistinct(col("k"))).as[Long].head()
    assert(math.abs(est0 - exact0) <= exact0 * 0.05)
    // unsketched column refuses; a sketch-less commit poisons the answer
    assert(SnapshotLake.approxDistinctFromSketches(spark, t, "s",
      store = store).isEmpty)
    SnapshotLake.commitAppend(Seq((9, "x")).toDF("k", "s"), t, store)
    assert(SnapshotLake.approxDistinctFromSketches(spark, t, "k",
      store = store).isEmpty)
  }

  test(s"[$storeName] buildNdvIndex retrofits missing sketches incrementally") {
    val t = freshTable()
    // first commit WITHOUT sketches, second WITH
    SnapshotLake.commitAppend(
      (1 to 2000).map(i => (i % 800, s"v$i")).toDF("k", "s")
        .repartition(2), t, store)
    SnapshotLake.commitAppend(
      (1 to 1000).map(i => (500 + i % 800, s"w$i")).toDF("k", "s")
        .repartition(1), t, store, ndvCols = Seq("k"))
    assert(SnapshotLake.approxDistinctFromSketches(spark, t, "k",
      store = store).isEmpty, "partial coverage must refuse")
    val wrote = SnapshotLake.buildNdvIndex(spark, t, Seq("k"), store = store)
    assert(wrote == 2, s"exactly the two uncovered files: $wrote")
    val est = SnapshotLake.approxDistinctFromSketches(spark, t, "k",
      store = store).get
    val exact = SnapshotLake.read(spark, t, None, store)
      .select(countDistinct(col("k"))).as[Long].head()
    assert(math.abs(est - exact) <= exact * 0.05, s"$est vs $exact")
    // idempotent: nothing left to retrofit
    assert(SnapshotLake.buildNdvIndex(spark, t, Seq("k"), store = store) == 0)
  }

  test(s"[$storeName] vacuum removes unreferenced (crashed-commit) files, keeps live ones") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    // orphan: staged data that never got a manifest (crashed writer)
    Seq((99, "x")).toDF("id", "s")
      .write.parquet(s"$t/data/deadbeef-crashed")
    // negative min age (cutoff in the future): everything counts as old —
    // this test has no in-flight writer for the threshold to protect
    val deleted = SnapshotLake.vacuum(t, minAgeMs = -60000L, store = store)
    assert(deleted >= 1)
    assert(SnapshotLake.read(spark, t, store = store).count() == 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$t/data/deadbeef-crashed")))
  }

  test(s"[$storeName] 8 genuinely concurrent appenders: all commits land, none lost") {
    val t = freshTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 8).map { i =>
      Future(SnapshotLake.commitAppend(Seq((i, s"w$i")).toDF("id", "s"), t, store))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    // every writer got a distinct version (conditional PUT is the arbiter)
    assert(versions.toSet.size == 8)
    // the latest snapshot contains ALL eight rows — no lost appends
    assert(SnapshotLake.read(spark, t, store = store).count() == 8)
  }

  test(s"[$storeName] vacuum age threshold protects in-flight stagings") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    // a writer mid-commit: staged seconds ago, manifest not yet published
    Seq((99, "x")).toDF("id", "s").write.parquet(s"$t/data/in-flight-commit")
    assert(SnapshotLake.vacuum(t, store = store) == 0L) // default 1h min age
    assert(Files.exists(java.nio.file.Paths.get(s"$t/data/in-flight-commit")))
  }

  test(s"[$storeName] compaction collapses fragments, keeps rows and history, loses races safely") {
    val t = freshTable()
    // fragment the table the way the streaming sink does: many tiny commits
    (1 to 6).foreach(i =>
      SnapshotLake.commitAppend(Seq((i, s"r$i")).toDF("id", "s"), t, store))
    val before = SnapshotLake.read(spark, t, store = store)
    val filesBefore = before.inputFiles.length
    val v = SnapshotLake.compact(spark, t, targetFiles = 1, store = store)
    assert(v.contains(6L), s"compaction should land at v6, got $v")
    val after = SnapshotLake.read(spark, t, store = store)
    assert(after.inputFiles.length == 1 && filesBefore >= 6)
    assert(after.select("id").as[Int].collect().sorted.toSeq == (1 to 6))
    // pre-compaction snapshot still time-travels
    assert(SnapshotLake.read(spark, t, Some(3), store).count() == 4)
    // CAS: a commit racing into base+1 makes compaction return None — the
    // racer's rows must never be dropped by a stale compacted manifest.
    // Simulated by pinning expectedBase to v6 while an append takes v7:
    // the compaction stages from v6 and must LOSE the conditional PUT at 7.
    SnapshotLake.commitAppend(Seq((7, "r7")).toDF("id", "s"), t, store)
    assert(SnapshotLake.compact(spark, t, store = store,
      expectedBase = Some(6L)).isEmpty,
      "compaction must lose the CAS, not clobber the concurrent commit")
    assert(SnapshotLake.read(spark, t, store = store)
      .select("id").as[Int].collect().toSet.contains(7))
  }

  test(s"[$storeName] countRows is exact across appends, COW delete, and time travel — with ZERO Spark jobs") {
    val t = freshTable()
    SnapshotLake.commitAppend((1 to 100).map(i => (i.toLong, s"r$i"))
      .toDF("id", "s"), t, store)
    SnapshotLake.commitAppend((101 to 130).map(i => (i.toLong, s"r$i"))
      .toDF("id", "s"), t, store)
    SnapshotLake.deleteWhere(spark, t, col("id") % 10 === 0, store)
    // ground truth via real scans first (they run jobs, fine)
    val want = Seq(Some(0L) -> 100L, Some(1L) -> 130L, None -> 117L)
    want.foreach { case (v, n) =>
      assert(SnapshotLake.read(spark, t, v, store).count() == n) }
    // metadata-only: the counts must come from footers alone — no job may
    // start while countRows runs (the whole point at 100 TB is that a
    // cardinality probe costs O(files) metadata, not a scan)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = want.map { case (v, _) =>
        SnapshotLake.countRows(spark, t, v, store) }
      Thread.sleep(300) // let any (unexpected) async job-start events land
      assert(got == want.map(_._2), "footer counts diverge from scans")
      assert(jobs.get() == 0,
        s"countRows launched ${jobs.get()} Spark job(s); must be metadata-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test(s"[$storeName] many-file metadata ops (parallel footer path) equal " +
      "the sequential-scan truth") {
    // ≥8 files per commit routes countRows / footerStatsLines through the
    // bounded thread pool (parFiles); results must be identical to the
    // scan, in particular the stats sidecar lines' per-file attribution
    val t = freshTable()
    val df = (1 to 2000).map(i => (i.toLong, (i % 97).toDouble))
      .toDF("id", "x").repartition(40)
    SnapshotLake.commitAppend(df, t, store, statsCols = Seq("x"),
      ndvCols = Seq("id"))
    SnapshotLake.commitAppend(
      (2001 to 2500).map(i => (i.toLong, 200.0 + i)).toDF("id", "x")
        .repartition(12), t, store, statsCols = Seq("x"))
    assert(SnapshotLake.countRows(spark, t, None, store) == 2500L)
    assert(SnapshotLake.countRows(spark, t, Some(0L), store) == 2000L)
    assert(SnapshotLake.minMaxFromStats(t, "x", None, store)
      .contains((0.0, 2700.0)))
    assert(SnapshotLake.minMaxFromStats(t, "x", Some(0L), store)
      .contains((0.0, 96.0)))
    // range read prunes by the pool-written sidecars, result exact
    val pruned = SnapshotLake.readRange(spark, t, "x", 2300.0, 2400.0,
      None, store).select("id").as[Long].collect().toSet
    assert(pruned == (2100 to 2200).map(_.toLong).toSet)
  }

  test(s"[$storeName] schema evolution: mergeSchema read unions grown schemas") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    SnapshotLake.commitAppend(
      Seq((2, "b", 9.5)).toDF("id", "s", "score"), t, store)
    val merged = SnapshotLake.read(spark, t, store = store, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "s", "score"))
    // old rows null-fill the new column; all rows present
    assert(merged.count() == 2)
    assert(merged.where($"score".isNull).select("id").as[Int]
      .collect().toSeq == Seq(1))
    // time travel to v0 still sees the original narrow schema
    assert(SnapshotLake.read(spark, t, Some(0), store, mergeSchema = true)
      .columns.toSet == Set("id", "s"))
  }

  test(s"[$storeName] commitAppendEvolve admits new columns, rejects type flips before staging") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    // add-column append passes validation and merges on read
    val v1 = SnapshotLake.commitAppendEvolve(
      Seq((2, "b", 9.5)).toDF("id", "s", "score"), t, store)
    assert(v1 == 1L)
    assert(SnapshotLake.tableSchema(spark, t, store = store)
      .fieldNames.toSet == Set("id", "s", "score"))
    // omitting an existing column is additive-legal too
    SnapshotLake.commitAppendEvolve(Seq(Tuple1(3)).toDF("id"), t, store)
    // a same-name type flip must be rejected BEFORE any staging
    val dataDir = java.nio.file.Paths.get(t, "data")
    val stagedBefore = Files.list(dataDir).count()
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.commitAppendEvolve(
        Seq((4, 7)).toDF("id", "s"), t, store) // s: string -> int
    }
    assert(e.getMessage.contains("type changes"))
    assert(Files.list(dataDir).count() == stagedBefore,
      "rejected evolution must not leave staged files")
    // the lake still reads clean after the rejection
    assert(SnapshotLake.read(spark, t, store = store, mergeSchema = true)
      .count() == 3)
  }

  test(s"[$storeName] rewrites preserve evolved columns (compact / deleteWhere / merge)") {
    // r13 lake review: every rewrite path read its snapshot WITHOUT
    // mergeSchema, so schema inference could pick a pre-evolution footer
    // and permanently strip evolved columns from the rewritten head.
    // Pre-fix the loss was INFERENCE-ORDER-DEPENDENT (Spark picks an
    // arbitrary footer when mergeSchema is off — this test can pass or
    // lose data run to run), which is exactly why the rewrite paths must
    // force mergeSchema; post-fix the union schema is deterministic and
    // this test pins it.
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a"), (2, "b")).toDF("id", "s"),
      t, store)
    SnapshotLake.commitAppendEvolve(
      Seq((3, "c", 9.5), (4, "d", 7.5)).toDF("id", "s", "score"), t, store)
    // COW delete touching ONLY the evolved file: the kept row of that
    // file must retain its evolved value through the rewrite
    assert(SnapshotLake.deleteWhere(spark, t, $"id" === 3,
      store = store).nonEmpty)
    val afterD = SnapshotLake.read(spark, t, store = store,
      mergeSchema = true)
    assert(afterD.columns.toSet == Set("id", "s", "score"))
    assert(afterD.count() == 3)
    assert(afterD.where($"id" === 4).select("score").as[Double]
      .head() == 7.5, "evolved column value lost in the COW rewrite")
    // full compaction: the single rewritten file must carry the union
    // schema and the evolved values
    assert(SnapshotLake.compact(spark, t, targetFiles = 1,
      store = store).nonEmpty)
    val afterC = SnapshotLake.read(spark, t, store = store)
    assert(afterC.columns.toSet == Set("id", "s", "score"),
      "compaction dropped the evolved column from the rewritten head")
    assert(afterC.where($"id" === 4).select("score").as[Double]
      .head() == 7.5)
    // merge updating a pre-evolution row: the touched-file rewrite and
    // the insert projection must both keep the evolved column
    assert(SnapshotLake.merge(spark, t,
      Seq((2, "B", 1.5), (9, "z", 3.5)).toDF("id", "s", "score"),
      on = Seq("id"),
      whenMatchedUpdate = Map("s" -> SnapshotLake.mergeSource("s")),
      store = store).nonEmpty)
    val afterM = SnapshotLake.read(spark, t, store = store)
    assert(afterM.columns.toSet == Set("id", "s", "score"))
    assert(afterM.count() == 4)
    assert(afterM.where($"id" === 4).select("score").as[Double]
      .head() == 7.5, "merge rewrite stripped the evolved column")
    assert(afterM.where($"id" === 9).select("score").as[Double]
      .head() == 3.5)
    assert(afterM.where($"id" === 2).select("s").as[String].head() == "B")
  }

  test(s"[$storeName] bloom pruning is conservative under type coercion") {
    // r13 lake review: the probe hashes the literal CAST to the indexed
    // column type, but Spark's comparison coerces string-vs-int BOTH ways
    // ('05' = 5 is true) — a cast-side probe ("5") would refute the file
    // holding the genuine non-canonical match ("05") and the DELETE would
    // silently skip it.
    val t = freshTable()
    SnapshotLake.commitAppend(Seq(("05", 1L), ("07", 2L)).toDF("s", "id"),
      t, store, bloomCols = Seq("s"))
    assert(spark.sql("SELECT '05' = 5").head().getBoolean(0),
      "fixture assumption: Spark coerces string-vs-int equality")
    assert(SnapshotLake.deleteWhere(spark, t, col("s") === lit(5),
      store = store).nonEmpty)
    assert(SnapshotLake.read(spark, t, store = store)
      .select("id").as[Long].collect().toSeq == Seq(2L),
      "the coerced match '05' survived the DELETE — bloom pruning " +
        "refuted a file it must treat as maybe-present")
    // and a sound same-type probe still prunes/deletes correctly
    assert(SnapshotLake.deleteWhere(spark, t, col("s") === lit("07"),
      store = store).nonEmpty)
    assert(SnapshotLake.read(spark, t, store = store).count() == 0)
  }

  test(s"[$storeName] sidecar failures never masquerade as failed commits") {
    // r13 lake review: sidecar generation runs AFTER the manifest CAS —
    // an exception propagating from it reads as a failed commit, and the
    // caller's retry double-appends durably-published data.
    val t = freshTable()
    // (a) a typo'd sidecar column is rejected BEFORE anything durable
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store,
        statsCols = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
    assert(SnapshotLake.versions(t, store).isEmpty,
      "failed sidecar validation must publish nothing")
    // (b) an IO failure in the post-publish sidecar write must NOT
    // propagate: the commit is durable, the sidecar is advisory
    val flaky = new CommitStore {
      override def putIfAbsent(dir: java.nio.file.Path, name: String,
          body: String): Boolean =
        if (name.startsWith("s"))
          throw new java.io.IOException("injected sidecar IO failure")
        else store.putIfAbsent(dir, name, body)
      override def get(dir: java.nio.file.Path, name: String): String =
        store.get(dir, name)
      override def list(dir: java.nio.file.Path): Seq[String] =
        store.list(dir)
      override def delete(dir: java.nio.file.Path, name: String): Unit =
        store.delete(dir, name)
    }
    val v = SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t,
      flaky, statsCols = Seq("id"))
    assert(v == 0L, "commit must return its version despite the sidecar")
    assert(SnapshotLake.read(spark, t, store = store).count() == 1,
      "the committed snapshot must be readable")
  }

  test(s"[$storeName] branches: set/read, audit isolation, publish fast-forward") {
    val t = freshTable()
    val v0 = SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    SnapshotLake.setBranch(t, "main", v0, store)
    // WRITE: the batch lands as an immutable commit, only `audit` moves
    val staged = SnapshotLake.commitToBranch(
      Seq((2, "b")).toDF("id", "s"), t, "audit",
      baseBranch = Some("main"), store = store)
    assert(staged == 1L)
    assert(SnapshotLake.branchVersion(t, "main", store).contains(v0),
      "main must not move at the write step")
    assert(SnapshotLake.readBranch(spark, t, "main", store).count() == 1,
      "a reader pinned to main must not see unaudited data")
    assert(SnapshotLake.readBranch(spark, t, "audit", store).count() == 2)
    // PUBLISH: metadata-only fast-forward
    val published = SnapshotLake.publishBranch(t, store = store)
    assert(published == staged)
    assert(SnapshotLake.readBranch(spark, t, "main", store)
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // a branch cannot point at an uncommitted version
    intercept[IllegalArgumentException] {
      SnapshotLake.setBranch(t, "main", 99L, store)
    }
  }

  test(s"[$storeName] rejected audit version never leaks into the next cycle's base") {
    val t = freshTable()
    val v0 = SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    SnapshotLake.setBranch(t, "main", v0, store)
    // cycle 1 stages a bad batch; the audit REJECTS it (no publish)
    SnapshotLake.commitToBranch(Seq((-9, "bad")).toDF("id", "s"), t,
      "audit", baseBranch = Some("main"), store = store)
    // cycle 2 bases on main, not on the rejected audit head
    val staged2 = SnapshotLake.commitToBranch(
      Seq((2, "b")).toDF("id", "s"), t, "audit",
      baseBranch = Some("main"), store = store)
    SnapshotLake.publishBranch(t, store = store)
    assert(SnapshotLake.readBranch(spark, t, "main", store)
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2),
      "the rejected batch's rows must not ride along")
    assert(staged2 == 2L, "the rejected version stays in history (vacuumable)")
  }

  test(s"[$storeName] concurrent branch updates serialize through the ref log") {
    val t = freshTable()
    val v0 = SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    val v1 = SnapshotLake.commitAppend(Seq((2, "b")).toDF("id", "s"), t, store)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = (0 until 8).map { i =>
      Future(SnapshotLake.setBranch(t, "main", if (i % 2 == 0) v0 else v1, store))
    }
    Await.result(Future.sequence(fs), 60.seconds)
    // all 8 updates landed (collision → retry at the next seq): the ref log
    // has 8 entries and the head is one of the written values
    val refs = store.list(java.nio.file.Paths.get(t, "_manifests"))
      .filter(_.startsWith("r_main."))
    assert(refs.size == 8, s"expected 8 ref-log entries, got ${refs.size}")
    assert(Seq(v0, v1).contains(
      SnapshotLake.branchVersion(t, "main", store).get))
  }

  test(s"[$storeName] changesBetween reads exactly the delta files of (from, to]") {
    val t = freshTable()
    val v0 = SnapshotLake.commitAppend(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, store)
    val v1 = SnapshotLake.commitAppend(Seq((3, "c")).toDF("id", "s"), t, store)
    val v2 = SnapshotLake.commitAppend(Seq((4, "d"), (5, "e")).toDF("id", "s"), t, store)
    assert(SnapshotLake.changesBetween(spark, t, v0, v1, store)
      .select("id").as[Int].collect().toSeq == Seq(3))
    assert(SnapshotLake.changesBetween(spark, t, v0, v2, store)
      .select("id").as[Int].collect().sorted.toSeq == Seq(3, 4, 5))
    // self-diff is empty but schema'd; never opens base files
    val none = SnapshotLake.changesBetween(spark, t, v1, v1, store)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "s"))
    val delta = SnapshotLake.changesBetween(spark, t, v1, v2, store)
    val v1Files = SnapshotLake.read(spark, t, Some(v1), store).inputFiles.toSet
    assert(delta.inputFiles.forall(f => !v1Files.contains(f)),
      "change feed must not open base-version files")
  }

  test(s"[$storeName] readRange skips files by sidecar stats, result identical to unpruned") {
    val t = freshTable()
    // four appends with disjoint value ranges → disjoint per-file stats
    (0 to 3).foreach { k =>
      SnapshotLake.commitAppend(
        (k * 100 until k * 100 + 50).map(i => (i.toLong, s"r$i")).toDF("v", "s")
          .coalesce(1),
        t, store, statsCols = Seq("v"))
    }
    val full = SnapshotLake.read(spark, t, store = store)
    val totalFiles = full.inputFiles.length
    assert(totalFiles >= 4)
    val pruned = SnapshotLake.readRange(spark, t, "v", 210.0, 240.0, store = store)
    // only commit k=2's file overlaps [210, 240]
    assert(pruned.inputFiles.length == totalFiles / 4,
      s"expected 1-commit file set, got ${pruned.inputFiles.length}/$totalFiles")
    val expect = full.where($"v" >= 210 && $"v" <= 240)
      .select("v").as[Long].collect().sorted.toSeq
    assert(pruned.select("v").as[Long].collect().sorted.toSeq == expect)
    // an empty range touches no files but still answers with the schema
    val none = SnapshotLake.readRange(spark, t, "v", 5000.0, 6000.0, store = store)
    assert(none.count() == 0 && none.columns.toSeq == Seq("v", "s"))
  }

  test(s"[$storeName] OPTIMIZE ZORDER: rewrite prunes on both z-columns, history intact") {
    val t = freshTable()
    // hash-scattered layout: every file spans the full range of both
    // columns, so pre-optimize stats refute nothing
    val n = 4096
    val df = (0 until n).map { i =>
      (i.toLong, ((i * 2654435761L) % n).toDouble, s"r$i")
    }.toDF("a", "b", "s").repartition(8)
    SnapshotLake.commitAppend(df, t, store, statsCols = Seq("a", "b"))
    val before = SnapshotLake.readRange(spark, t, "b", 100.0, 200.0, store = store)
    assert(before.inputFiles.length == 8,
      "hash layout must defeat min/max pruning on b")
    val v = SnapshotLake.optimizeZOrder(spark, t, Seq("a", "b"),
      numFiles = 16, store = store)
    assert(v.contains(1L))
    // rows preserved, file target honored
    val opt = SnapshotLake.read(spark, t, store = store)
    assert(opt.count() == n && opt.inputFiles.length == 16)
    // selective ranges on EITHER z-column now open a minority of files
    for (c <- Seq("a", "b")) {
      val pruned = SnapshotLake.readRange(spark, t, c, 100.0, 200.0, store = store)
      assert(pruned.inputFiles.length < 16 / 2,
        s"z-layout must prune $c: ${pruned.inputFiles.length}/16")
      val expect = opt.where(col(c) >= 100.0 && col(c) <= 200.0)
        .select("s").as[String].collect().sorted.toSeq
      assert(pruned.select("s").as[String].collect().sorted.toSeq == expect)
    }
    // time travel still reads the pre-optimize layout
    assert(SnapshotLake.read(spark, t, Some(0L), store).count() == n)
    // pinned base that lost the race publishes nothing
    assert(SnapshotLake.optimizeZOrder(spark, t, Seq("a"),
      store = store, expectedBase = Some(0L)).isEmpty)
  }

  test(s"[$storeName] readRange is conservative for commits without stats") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1L, "a")).toDF("v", "s"), t, store) // no stats
    SnapshotLake.commitAppend(Seq((100L, "b")).toDF("v", "s"), t, store,
      statsCols = Seq("v"))
    val out = SnapshotLake.readRange(spark, t, "v", 0.0, 10.0, store = store)
    // unstatted v0 file must still be read (and matches); statted v1 skipped
    assert(out.select("v").as[Long].collect().toSeq == Seq(1L))
    val total = SnapshotLake.read(spark, t, store = store).inputFiles.length
    assert(out.inputFiles.length == total - 1)
  }

  test(s"[$storeName] copy-on-write delete rewrites only touched files; history intact") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s").coalesce(1), t, store)
    SnapshotLake.commitAppend(
      (6 to 10).map(i => (i.toLong, s"b$i")).toDF("id", "s").coalesce(1), t, store)
    // file added by the SECOND commit (ids 6-10) — must survive by reference
    val untouchedFile =
      SnapshotLake.read(spark, t, Some(1L), store).inputFiles.toSet --
        SnapshotLake.read(spark, t, Some(0L), store).inputFiles.toSet
    assert(untouchedFile.size == 1)
    val v = SnapshotLake.deleteWhere(spark, t, $"id" <= 2, store)
    assert(v.contains(2L))
    val now = SnapshotLake.read(spark, t, store = store)
    assert(now.select("id").as[Long].collect().sorted.toSeq == (3L to 10L))
    // file containing ids 6-10 carried by reference, not rewritten
    assert(untouchedFile.subsetOf(now.inputFiles.toSet))
    // pre-delete rows still time-travelable
    assert(SnapshotLake.read(spark, t, Some(1L), store).count() == 10)
    // no-op delete returns the same version, publishes nothing
    assert(SnapshotLake.deleteWhere(spark, t, $"id" > 999, store).contains(2L))
    assert(SnapshotLake.versions(t, store).max == 2L)
  }

  test(s"[$storeName] delete locate phase never opens files the stats refute") {
    val t = freshTable()
    // two well-separated files, both with id stats
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s").coalesce(1),
      t, store, statsCols = Seq("id"))
    SnapshotLake.commitAppend(
      (100 to 105).map(i => (i.toLong, s"b$i")).toDF("id", "s").coalesce(1),
      t, store, statsCols = Seq("id"))
    val files = SnapshotLake.read(spark, t, store = store).inputFiles
    val highFile = files.filterNot(
      SnapshotLake.read(spark, t, Some(0L), store).inputFiles.contains(_)).head
    // candidate selection drops the id∈[100,105] file for an id<=2 delete
    val manifest = files.map(f => "data/" + f.split("/data/").last).toSeq
    val cands = SnapshotLake.pruneByStats(t, 1L, manifest, $"id" <= 2, store)
    assert(cands.size == 1 && !cands.exists(highFile.endsWith))
    // the hard pin: make the pruned file UNREADABLE — if the locate phase
    // opened it, the delete would fail; stats pruning must skip it entirely
    val hp = java.nio.file.Paths.get(new java.net.URI(highFile))
    val original = Files.readAllBytes(hp)
    Files.write(hp, "not a parquet file".getBytes)
    try {
      assert(SnapshotLake.deleteWhere(spark, t, $"id" <= 2, store)
        .contains(2L))
    } finally Files.write(hp, original)
    // carried by reference, correct rows after restore
    assert(SnapshotLake.read(spark, t, store = store)
      .select("id").as[Long].collect().sorted.toSeq ==
      (3L to 5L) ++ (100L to 105L))
    // predicates the extractor can't window (Or at top level) fall back to
    // the conservative full candidate set
    assert(SnapshotLake.pruneByStats(t, 1L, manifest,
      $"id" <= 2 || $"s" === "b", store).size == 2)
  }

  test(s"[$storeName] a zero-file snapshot (delete-all) reads back empty, not a crash") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    // delete-all: every file rewritten, zero rows survive, manifest v1 has
    // no data files (Spark's writer emits no part file for an empty task)
    assert(SnapshotLake.deleteWhere(spark, t, lit(true), store).contains(1L))
    val empty = SnapshotLake.read(spark, t, store = store)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "v")) // schema from a donor file
    assert(SnapshotLake.readRange(spark, t, "id", 0.0, 100.0,
      store = store).count() == 0)
    assert(SnapshotLake.changesBetween(spark, t, 0L, 1L, store).count() == 0)
    // history untouched: the pre-delete version still time-travels
    assert(SnapshotLake.read(spark, t, Some(0L), store).count() == 5)
  }

  test(s"[$storeName] copy-on-write update re-emits matching rows through set") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 6).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1), t, store)
    val ver = SnapshotLake.updateWhere(spark, t, $"id" % 2 === 0,
      Map("v" -> ($"v" * 100)), store)
    assert(ver.contains(1L))
    val got = SnapshotLake.read(spark, t, store = store)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got == (1 to 6).map(i =>
      (i.toLong, if (i % 2 == 0) i * 1000.0 else i * 10.0)))
  }

  test(s"[$storeName] merge applies delete-then-update on matches, inserts the rest; COW by reference") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    SnapshotLake.commitAppend(
      (100 to 105).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    val highFile =
      SnapshotLake.read(spark, t, store = store).inputFiles.toSet --
        SnapshotLake.read(spark, t, Some(0L), store).inputFiles.toSet
    assert(highFile.size == 1)
    // id 2: update (takes the source's v); id 3: delete (negative source v
    // is this merge's delete flag); id 50: no target match → insert
    val src = Seq((2L, 999.0), (3L, -1.0), (50L, 500.0)).toDF("id", "v")
    val ver = SnapshotLake.merge(spark, t, src, Seq("id"),
      whenMatchedUpdate = Map("v" -> SnapshotLake.mergeSource("v")),
      whenMatchedDelete = Some(SnapshotLake.mergeSource("v") < 0),
      store = store)
    assert(ver.contains(2L))
    val got = SnapshotLake.read(spark, t, store = store)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got == Seq(1L -> 10.0, 2L -> 999.0, 4L -> 40.0, 5L -> 50.0,
      50L -> 500.0) ++ (100 to 105).map(i => i.toLong -> i * 10.0))
    // the id∈[100,105] file is outside the source key span [2,50]: carried
    // by reference, never rewritten
    assert(highFile.subsetOf(SnapshotLake.read(spark, t, store = store)
      .inputFiles.toSet))
    // pre-merge rows still time travel
    assert(SnapshotLake.read(spark, t, Some(1L), store).count() == 11)
  }

  test(s"[$storeName] merge locate/rewrite/insert phases never open files the stats refute") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    SnapshotLake.commitAppend(
      (100 to 105).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    val highFile =
      (SnapshotLake.read(spark, t, store = store).inputFiles.toSet --
        SnapshotLake.read(spark, t, Some(0L), store).inputFiles.toSet).head
    // hard pin (the deleteWhere trick): corrupt the out-of-span file — the
    // merge succeeds only if locate, rewrite AND the not-matched anti-join
    // all skip it via the sidecar stats
    val hp = java.nio.file.Paths.get(new java.net.URI(highFile))
    val original = Files.readAllBytes(hp)
    Files.write(hp, "not a parquet file".getBytes)
    try {
      val ver = SnapshotLake.merge(spark, t,
        Seq((2L, 999.0), (7L, 70.0)).toDF("id", "v"), Seq("id"),
        whenMatchedUpdate = Map("v" -> SnapshotLake.mergeSource("v")),
        store = store)
      assert(ver.contains(2L))
    } finally Files.write(hp, original)
    assert(SnapshotLake.read(spark, t, store = store)
      .orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq(1L -> 10.0, 2L -> 999.0, 3L -> 30.0, 4L -> 40.0, 5L -> 50.0,
        7L -> 70.0) ++ (100 to 105).map(i => i.toLong -> i * 10.0))
  }

  test(s"[$storeName] zero-candidate merge keeps evolved columns on inserts without opening any footer (r13 ADVICE)") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 5).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    SnapshotLake.commitAppendEvolve(
      (10 to 15).map(i => (i.toLong, i * 10.0, s"w$i")).toDF("id", "v", "w")
        .coalesce(1), t, store, statsCols = Seq("id"))
    // hard pin: corrupt the PRE-EVOLUTION file. The source keys fall
    // outside every file's stats span → candidates = [] → pre-fix the
    // target schema was donated by one arbitrary footer (this one): the
    // merge would either crash on the corrupt footer or, with the footer
    // intact, silently drop `w` from every inserted row. Post-fix the
    // column set comes from the manifest header — no footer is opened.
    val preEvoFile = SnapshotLake.read(spark, t, Some(0L), store)
      .inputFiles.head
    val hp = java.nio.file.Paths.get(new java.net.URI(preEvoFile))
    val original = Files.readAllBytes(hp)
    Files.write(hp, "not a parquet file".getBytes)
    try {
      val src = Seq((100L, 1.0, "keep"), (101L, 2.0, "also"))
        .toDF("id", "v", "w")
      assert(SnapshotLake.merge(spark, t, src, Seq("id"), store = store)
        .contains(2L))
    } finally Files.write(hp, original)
    val got = SnapshotLake.read(spark, t, store = store, mergeSchema = true)
      .where($"id" >= 100L).orderBy("id")
      .select("id", "v", "w").as[(Long, Double, String)].collect().toSeq
    assert(got == Seq((100L, 1.0, "keep"), (101L, 2.0, "also")),
      "evolved column w must survive a zero-candidate insert-only merge")
  }

  test(s"[$storeName] manifests record the committed union column set; legacy manifests fall back") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      Seq((1L, 10.0)).toDF("id", "v"), t, store, statsCols = Seq("id"))
    assert(SnapshotLake.manifestCols(t, 0L, store)
      .contains(Seq("id", "v")))
    // evolve widens the recorded union…
    SnapshotLake.commitAppendEvolve(
      Seq((2L, 20.0, "x")).toDF("id", "v", "w"), t, store)
    assert(SnapshotLake.manifestCols(t, 1L, store)
      .contains(Seq("id", "v", "w")))
    // …and a later NARROWER append keeps it (the union never shrinks)
    SnapshotLake.commitAppend(Seq((3L, 30.0)).toDF("id", "v"), t, store)
    assert(SnapshotLake.manifestCols(t, 2L, store)
      .map(_.toSet).contains(Set("id", "v", "w")))
    // rewrite paths carry it: delete (partial rewrite) and compact (full)
    assert(SnapshotLake.deleteWhere(spark, t, $"id" === 1L, store)
      .contains(3L))
    assert(SnapshotLake.manifestCols(t, 3L, store)
      .map(_.toSet).contains(Set("id", "v", "w")))
    assert(SnapshotLake.compact(spark, t, 1, store).contains(4L))
    assert(SnapshotLake.manifestCols(t, 4L, store)
      .map(_.toSet).contains(Set("id", "v", "w")))
    // restore copies the restored version's set, not the head's
    assert(SnapshotLake.restore(t, 0L, store).contains(5L))
    assert(SnapshotLake.manifestCols(t, 5L, store)
      .contains(Seq("id", "v")))
    // legacy manifest (no cols field): reader returns None and merge falls
    // back to footer inference — strip the field in place to simulate one
    val mf = java.nio.file.Paths.get(t, "_manifests", "v00000000005.json")
    val stripped = new String(Files.readAllBytes(mf), "UTF-8")
      .replaceFirst(""""cols":\[[^\]]*\],""", "")
    Files.write(mf, stripped.getBytes("UTF-8"))
    assert(SnapshotLake.manifestCols(t, 5L, store).isEmpty)
    assert(SnapshotLake.merge(spark, t,
      Seq((9L, 90.0)).toDF("id", "v"), Seq("id"), store = store)
      .contains(6L))
    assert(SnapshotLake.read(spark, t, store = store)
      .where($"id" === 9L).count() == 1)
  }

  test(s"[$storeName] merge edges: duplicate source keys raise; null keys insert; empty snapshot inserts") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 3).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    // duplicate source keys: nondeterministic matched rewrite — must raise
    val dup = Seq((2L, 1.0), (2L, 2.0)).toDF("id", "v")
    assertThrows[IllegalArgumentException] {
      SnapshotLake.merge(spark, t, dup, Seq("id"), store = store)
    }
    // a null-keyed source row matches nothing (SQL MERGE equi-join) and
    // inserts; unchanged target files are untouched
    val withNull = Seq((Some(9L), 90.0), (None, 0.5))
      .toDF("id", "v")
    assert(SnapshotLake.merge(spark, t, withNull, Seq("id"), store = store)
      .contains(1L))
    val got = SnapshotLake.read(spark, t, store = store)
      .orderBy($"id".asc_nulls_first).as[(Option[Long], Double)]
      .collect().toSeq
    assert(got == Seq((None, 0.5), (Some(1L), 10.0), (Some(2L), 20.0),
      (Some(3L), 30.0), (Some(9L), 90.0)))
    // delete-all then merge into the zero-file snapshot: pure insert path
    assert(SnapshotLake.deleteWhere(spark, t, lit(true), store).contains(2L))
    assert(SnapshotLake.merge(spark, t, Seq((42L, 4.2)).toDF("id", "v"),
      Seq("id"), store = store).contains(3L))
    assert(SnapshotLake.read(spark, t, store = store)
      .as[(Long, Double)].collect().toSeq == Seq(42L -> 4.2))
  }

  test(s"[$storeName] merge edge regressions: null-key multiplicity, empty source, insert-only by reference") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 3).map(i => (i.toLong, i * 10.0)).toDF("id", "v").coalesce(1),
      t, store, statsCols = Seq("id"))
    val before = SnapshotLake.read(spark, t, store = store).inputFiles.toSet

    // several null-keyed source rows are NOT "duplicate keys" — they can
    // never match, so they all deterministically insert
    val nulls = Seq((Option.empty[Long], 0.1), (Option.empty[Long], 0.2),
      (Some(9L), 90.0)).toDF("id", "v")
    assert(SnapshotLake.merge(spark, t, nulls, Seq("id"), store = store)
      .contains(1L))
    assert(SnapshotLake.read(spark, t, store = store).count() == 6)

    // an empty source batch is a version no-op, not a junk empty commit
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(SnapshotLake.merge(spark, t, empty, Seq("id"), store = store)
      .contains(1L))
    assert(SnapshotLake.versions(t, store) == Seq(0L, 1L))

    // insert-only merge (no matched clause): matched rows change nothing,
    // so the original files are carried BY REFERENCE, never rewritten
    val ins = Seq((2L, 999.0), (42L, 4.2)).toDF("id", "v")
    assert(SnapshotLake.merge(spark, t, ins, Seq("id"), store = store)
      .contains(2L))
    val after = SnapshotLake.read(spark, t, store = store)
    assert(before.subsetOf(after.inputFiles.toSet),
      "insert-only merge must not rewrite matched files")
    // the matched row kept its TARGET value; only the new key inserted
    assert(after.where($"id" === 2L).select("v").as[Double].first() == 20.0)
    assert(after.where($"id" === 42L).count() == 1)
    // insert-only merge where every source row already exists: no-op
    assert(SnapshotLake.merge(spark, t, Seq((1L, 1.0)).toDF("id", "v"),
      Seq("id"), store = store).contains(2L))
    assert(SnapshotLake.versions(t, store) == Seq(0L, 1L, 2L))
  }

  test(s"[$storeName] restore re-publishes an old snapshot at head; timestamp travel addresses commits") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    Thread.sleep(5)
    SnapshotLake.commitAppend(Seq((2, "b")).toDF("id", "s"), t, store)
    Thread.sleep(5)
    SnapshotLake.commitOverwrite(Seq((9, "z")).toDF("id", "s"), t, store)
    // restore to v1: head becomes v3 carrying v1's files BY REFERENCE;
    // the rolled-back v2 stays readable for forensics
    assert(SnapshotLake.restore(t, 1L, store).contains(3L))
    assert(SnapshotLake.read(spark, t, store = store).orderBy("id")
      .as[(Int, String)].collect().toSeq == Seq(1 -> "a", 2 -> "b"))
    assert(SnapshotLake.read(spark, t, Some(2), store)
      .as[(Int, String)].collect().toSeq == Seq(9 -> "z"))
    // timestamp travel: v1's own commit instant addresses v1 (v2 is
    // strictly later thanks to the sleeps); far future = head; before
    // the first commit raises
    val t1 = SnapshotLake.commitTimestamp(t, 1L, store).get
    val t2 = SnapshotLake.commitTimestamp(t, 2L, store).get
    assert(t2 > t1)
    assert(SnapshotLake.readAsOf(spark, t, t1, store).orderBy("id")
      .as[(Int, String)].collect().toSeq == Seq(1 -> "a", 2 -> "b"))
    assert(SnapshotLake.readAsOf(spark, t, Long.MaxValue, store)
      .orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq(1 -> "a", 2 -> "b"))
    intercept[IllegalArgumentException] {
      SnapshotLake.readAsOf(spark, t, t1 - 1000L, store) }
    // restore is a CAS commit like any other: a stale expected base loses
    assert(SnapshotLake.restore(t, 0L, store, expectedBase = Some(1L)).isEmpty)
  }

  test(s"[$storeName] merge property: random clause mixes equal the relational replay") {
    // Seeded randomized differential: any combination of present/absent
    // update map, delete clause, and insert flag over random overlapping
    // target/source key sets must equal the plain-Scala MERGE replay
    // (delete-first, then update, then anti-join insert).
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 1 to 10) {
      val t = freshTable()
      val keysLo = 1L +: (2 to 10).filter(_ => rnd.nextBoolean()).map(_.toLong)
      val keysHi = 11L +: (12 to 20).filter(_ => rnd.nextBoolean()).map(_.toLong)
      def vals(ks: Seq[Long]) = ks.map(k => (k, rnd.nextInt(100).toDouble))
      val (lo, hi) = (vals(keysLo), vals(keysHi))
      SnapshotLake.commitAppend(lo.toDF("id", "v").coalesce(1), t, store,
        statsCols = Seq("id"))
      SnapshotLake.commitAppend(hi.toDF("id", "v").coalesce(1), t, store,
        statsCols = Seq("id"))
      val target = (lo ++ hi).toMap

      val src = (1 to 25).filter(_ => rnd.nextInt(3) == 0)
        .map(k => (k.toLong, rnd.nextInt(100).toDouble))
      val updOn = rnd.nextBoolean()
      val delOn = rnd.nextBoolean()
      val insOn = rnd.nextBoolean()

      val ver = SnapshotLake.merge(spark, t, src.toDF("id", "v"), Seq("id"),
        whenMatchedUpdate =
          if (updOn) Map("v" -> SnapshotLake.mergeSource("v")) else Map.empty,
        whenMatchedDelete =
          if (delOn) Some(SnapshotLake.mergeSource("v") < 20.0) else None,
        insertNotMatched = insOn, store = store)

      val srcMap = src.toMap
      val expected = target.toSeq.flatMap { case (k, v) =>
        srcMap.get(k) match {
          case Some(sv) if delOn && sv < 20.0 => None
          case Some(sv) if updOn => Some((k, sv))
          case Some(_) => Some((k, v))
          case None => Some((k, v))
        }
      } ++ (if (insOn) src.filterNot(kv => target.contains(kv._1)) else Nil)

      assert(ver.nonEmpty) // no contention here: the CAS always wins
      val got = SnapshotLake.read(spark, t, store = store)
        .as[(Long, Double)].collect().toSeq
      assert(got.sorted == expected.sorted,
        s"updOn=$updOn delOn=$delOn insOn=$insOn src=$src target=$target")
    }
  }

  test(s"[$storeName] readWhere prunes by multi-column conjunctions, result identical") {
    val t = freshTable()
    // 4 files clustered on id; v correlates (id*10) so two columns prune
    (0 to 3).foreach { k =>
      SnapshotLake.commitAppend(
        (k * 100 until k * 100 + 50).map(i => (i.toLong, i * 10.0))
          .toDF("id", "v").coalesce(1),
        t, store, statsCols = Seq("id", "v"))
    }
    val full = SnapshotLake.read(spark, t, store = store)
    val total = full.inputFiles.length
    val pred = $"id" >= 210 && $"id" <= 240 && $"v" >= 2100.0
    val pruned = SnapshotLake.readWhere(spark, t, pred, store = store)
    assert(pruned.inputFiles.length == total / 4,
      s"expected 1 file, got ${pruned.inputFiles.length}/$total")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ==
      full.where(pred).select("id").as[Long].collect().sorted.toSeq)
    // refuted-everywhere predicate: zero files, schema'd empty
    val none = SnapshotLake.readWhere(spark, t, $"id" > 9000, store = store)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
  }

  test(s"[$storeName] annotated-type stats columns prune correctly (fallback units)") {
    // parquet footers store TIMESTAMP stats in micros while readRange
    // callers compare in cast-to-double units (epoch seconds) — the footer
    // fast path must refuse annotated types and fall back to the Spark
    // aggregate, or files would be mispruned by 10^6
    val t = freshTable()
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    SnapshotLake.commitAppend(df.where($"id" === 1L).coalesce(1), t, store,
      statsCols = Seq("ts"))
    SnapshotLake.commitAppend(df.where($"id" === 2L).coalesce(1), t, store,
      statsCols = Seq("ts"))
    val lo = java.sql.Timestamp.valueOf("2019-01-01 00:00:00").getTime / 1000.0
    val hi = java.sql.Timestamp.valueOf("2021-01-01 00:00:00").getTime / 1000.0
    val out = SnapshotLake.readRange(spark, t, "ts", lo, hi, store = store)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
    // the 2024 file was genuinely skipped, proving stats exist and are in
    // the units the reader compares against
    val total = SnapshotLake.read(spark, t, store = store).inputFiles.length
    assert(out.inputFiles.length == total - 1)
  }

  test(s"[$storeName] vacuum with retention drops old versions and their exclusive files") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1, "a")).toDF("id", "s"), t, store)
    SnapshotLake.commitOverwrite(Seq((2, "b")).toDF("id", "s"), t, store)
    SnapshotLake.vacuum(t, retainVersions = 1, minAgeMs = -60000L, store = store)
    assert(SnapshotLake.versions(t, store) == Seq(1L))
    assert(SnapshotLake.read(spark, t, store = store)
      .select("id").as[Int].collect().toSeq == Seq(2))
    intercept[IllegalArgumentException] {
      SnapshotLake.read(spark, t, Some(0), store)
    }
  }

  test(s"[$storeName] bloom sidecars refute point lookups stats can't; reads and deletes never open refuted files") {
    val t = freshTable()
    // interleaved ids: BOTH files span [1,100], so min/max stats prune
    // nothing — exactly the unclustered high-cardinality layout blooms are
    // for. Odd ids in file 0, even ids in file 1.
    SnapshotLake.commitAppend(
      (1 to 100 by 2).map(i => (i.toLong, s"a$i")).toDF("id", "s").coalesce(1),
      t, store, statsCols = Seq("id"), bloomCols = Seq("id", "s"))
    SnapshotLake.commitAppend(
      (2 to 100 by 2).map(i => (i.toLong, s"b$i")).toDF("id", "s").coalesce(1),
      t, store, statsCols = Seq("id"), bloomCols = Seq("id", "s"))
    val files = SnapshotLake.read(spark, t, store = store).inputFiles
    val evenFile = files.filterNot(
      SnapshotLake.read(spark, t, Some(0L), store).inputFiles.contains(_)).head
    val manifest = files.map(f => "data/" + f.split("/data/").last).toSeq

    // stats keep both (overlapping spans); the bloom refutes the even file
    assert(SnapshotLake.pruneByStats(t, 1L, manifest, $"id" === 43L, store)
      .size == 2)
    val kept = SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === 43L, store)
    assert(kept.size == 1 && !kept.exists(evenFile.endsWith))
    // string column; int-literal probe against the bigint column (cast to
    // the indexed type before hashing); IN straddling both files keeps both
    val keptS = SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"s" === "a43", store)
    assert(keptS.size == 1 && !keptS.exists(evenFile.endsWith))
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === 43, store).size == 1)
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id".isin(43L, 44L), store).size == 2)
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id".isin(43L, 45L), store).size == 1)
    // conservative fallbacks: top-level Or is unprobeable; `= null`
    // contributes no probe; a column with no sidecar never prunes
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === 43L || $"s" === "b2", store).size == 2)
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === lit(null), store).size == 2)
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"nope" === 1L, store).size == 2)

    // hard pin (the corrupt-file trick): a point read AND a point delete
    // must never open the bloom-refuted file
    val hp = java.nio.file.Paths.get(new java.net.URI(evenFile))
    val original = Files.readAllBytes(hp)
    Files.write(hp, "not a parquet file".getBytes)
    try {
      assert(SnapshotLake.readWhere(spark, t, $"id" === 43L, store = store)
        .select("s").as[String].collect().toSeq == Seq("a43"))
      assert(SnapshotLake.deleteWhere(spark, t, $"id" === 43L, store = store)
        .contains(2L))
    } finally Files.write(hp, original)
    assert(SnapshotLake.read(spark, t, store = store).count() == 99)
    // absent key: every file refuted, schema'd empty (not a crash)
    val none = SnapshotLake.readWhere(spark, t, $"id" === 9999L,
      store = store)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "s"))
  }

  test(s"[$storeName] buildBloomIndex retrofits unindexed files; incremental; vacuum reclaims sidecars") {
    val t = freshTable()
    // v0 committed WITHOUT blooms, v1 with — the migration shape
    SnapshotLake.commitAppend(
      (1 to 50 by 2).map(i => (i.toLong, s"a$i")).toDF("id", "s").coalesce(1),
      t, store)
    SnapshotLake.commitAppend(
      (2 to 50 by 2).map(i => (i.toLong, s"b$i")).toDF("id", "s").coalesce(1),
      t, store, bloomCols = Seq("id"))
    val manifest = SnapshotLake.read(spark, t, store = store).inputFiles
      .map(f => "data/" + f.split("/data/").last).toSeq
    // the unindexed v0 file always survives; the even file's bloom holds 2
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === 2L, store).size == 2)
    // retrofit: index exactly the missing (file, column) pairs, then the
    // odd file is refutable too; a second build is a no-op
    assert(SnapshotLake.buildBloomIndex(spark, t, Seq("id"), store = store)
      == 1)
    assert(SnapshotLake.pruneByBlooms(spark, t, 1L, manifest,
      $"id" === 2L, store).size == 1)
    assert(SnapshotLake.buildBloomIndex(spark, t, Seq("id"), store = store)
      == 0)
    // vacuum with retention drops the dropped versions' bloom sidecars
    // (including the retrofit's suffixed one) — advisory, so later reads
    // still work, they just stop skipping
    SnapshotLake.commitOverwrite(Seq((9L, "z")).toDF("id", "s"), t, store)
    SnapshotLake.vacuum(t, retainVersions = 1, minAgeMs = -60000L,
      store = store)
    val mdir = java.nio.file.Paths.get(t, "_manifests")
    val residual = store.list(mdir).filter(_.startsWith("b"))
    assert(residual.isEmpty, s"bloom sidecars not reclaimed: $residual")
    assert(SnapshotLake.read(spark, t, store = store).count() == 1)
  }

  test(s"[$storeName] within one version a retrofit sidecar overrides the " +
      "commit sidecar for the same file (bloom and NDV)") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      (1 to 40).map(i => (i.toLong, s"s${i % 3}", i % 20))
        .toDF("id", "s", "k").coalesce(1),
      t, store, bloomCols = Seq("id"), ndvCols = Seq("k", "s"))
    val f = SnapshotLake.manifestFiles(t, 0L, store).head
    val mdir = java.nio.file.Paths.get(t, "_manifests")
    // plain name order would read "-retrofit" BEFORE the commit sidecar
    // ('-' < '.'); the rule is version, then retrofit, then name
    def retrofit(kind: String, header: String, fields: String): Unit =
      assert(store.putIfAbsent(mdir, s"${kind}00000000000-retrofit.json",
        s"$header\n\"$f\\t$fields\"\n]}"))
    // bloom: the retrofit entry is a 64-bit filter with bit 0 set
    assert(SnapshotLake.sidecarBlooms(t, 0L, "id", store)(f)._2 == 8192)
    retrofit("b", "{\"blooms\":[", "id\\tbigint\\t64\\t3\\tAQ==")
    val (dt, m, k, bits) = SnapshotLake.sidecarBlooms(t, 0L, "id", store)(f)
    assert((dt, m, k, bits.stream().toArray.toSeq) ==
      ("bigint", 64, 3, Seq(0)))
    // NDV: the retrofit gives column k the sketch of column s (3 values)
    def ndv(c: String) =
      SnapshotLake.approxDistinctFromSketches(spark, t, c, None, store)
    assert(ndv("k").contains(20L) && ndv("s").contains(3L))
    val sHex = "\\\\ts\\\\t([0-9A-F]+)".r
      .findFirstMatchIn(store.get(mdir, "n00000000000.json")).get.group(1)
    retrofit("n", "{\"ndv\":0,\"rows\":[", s"k\\t$sHex")
    assert(ndv("k").contains(3L))
  }

  test(s"[$storeName] vacuum reclaims the stats sidecars and both kinds " +
      "of NDV sidecar (commit and retrofit) of dropped versions") {
    val t = freshTable()
    SnapshotLake.commitAppend(Seq((1L, "a", 1)).toDF("id", "s", "k"), t,
      store, statsCols = Seq("id"), ndvCols = Seq("k"))
    assert(SnapshotLake.buildNdvIndex(spark, t, Seq("s"), store = store)
      == 1)
    SnapshotLake.commitOverwrite(Seq((2L, "b", 2)).toDF("id", "s", "k"), t,
      store, statsCols = Seq("id"), ndvCols = Seq("k"))
    val mdir = java.nio.file.Paths.get(t, "_manifests")
    def sidecarsOf(v: Long): Set[String] = store.list(mdir).filter(n =>
      Set('s', 'b', 'n')(n.head) && n.startsWith(f"${n.head}$v%011d")).toSet
    assert(sidecarsOf(0L).map(_.take(13)) ==
      Set("s00000000000.", "n00000000000.", "n00000000000-"))
    SnapshotLake.vacuum(t, retainVersions = 1, minAgeMs = -60000L,
      store = store)
    assert(sidecarsOf(0L).isEmpty, s"not reclaimed: ${sidecarsOf(0L)}")
    assert(sidecarsOf(1L) == Set("s00000000001.json", "n00000000001.json"))
    assert(SnapshotLake.minMaxFromStats(t, "id", None, store)
      .contains((2.0, 2.0)))
  }
}

class SnapshotLakePosixSpec
  extends SnapshotLakeBehavior("posix-link", PosixLinkCommitStore)

class SnapshotLakeLeaseLockSpec
  extends SnapshotLakeBehavior("lease-lock", new LeaseLockCommitStore()) {
  import spark.implicits._

  test("[lease-lock] an expired lease is stolen and the name stays claimable exactly once") {
    val dir = Files.createTempDirectory("graft_lease_")
    val store = new LeaseLockCommitStore(leaseMs = 60000L)
    // a crashed holder: lock dir with a lease that expired long ago
    val lock = dir.resolve(".lock-m1")
    Files.createDirectory(lock)
    Files.writeString(lock.resolve("lease"),
      s"dead-holder ${System.currentTimeMillis() - 10000}")
    assert(store.putIfAbsent(dir, "m1", "body-a"), "steal must succeed")
    assert(store.get(dir, "m1") == "body-a")
    assert(!store.putIfAbsent(dir, "m1", "body-b"), "second PUT must lose")
    assert(store.get(dir, "m1") == "body-a", "loser must not clobber")
    assert(store.list(dir) == Seq("m1"), "lock artifacts never listed")
  }

  test("[lease-lock] a lock dir with NO lease file is recovered by age, not wedged forever") {
    val dir = Files.createTempDirectory("graft_lease_nolease_")
    val store = new LeaseLockCommitStore(leaseMs = 60000L, acquireTimeoutMs = 5000L)
    // a holder that crashed BETWEEN mkdir(lock) and writing the lease file:
    // the lock dir exists but the lease is unreadable. Pre-fix this read
    // error was treated as "mid-create: live" on every pass, so the name
    // was never stealable and every contender spun to acquire-timeout.
    val lock = dir.resolve(".lock-m1")
    Files.createDirectory(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000L)) // older than the 60 s TTL
    assert(store.putIfAbsent(dir, "m1", "body-a"),
      "age-expired lease-less lock must be stolen")
    assert(store.get(dir, "m1") == "body-a")
  }

  test("[lease-lock] a FRESH lease-less lock dir is respected as mid-create") {
    val dir = Files.createTempDirectory("graft_lease_fresh_")
    val store = new LeaseLockCommitStore(leaseMs = 60000L, acquireTimeoutMs = 1500L)
    Files.createDirectory(dir.resolve(".lock-m1")) // mtime = now: could be mid-create
    intercept[IllegalStateException] {
      store.putIfAbsent(dir, "m1", "body-a")
    }
  }

  test("[lease-lock] link-less fallback: pause past lease loses cleanly, no clobber, one true") {
    // The zombie-writer interleaving on a store with NO exclusive-create:
    // writer A passes the fence, then pauses past its lease BEFORE the
    // fallback move; B steals the lease and publishes. Pre-fix, A's
    // ATOMIC_MOVE would REPLACE B's manifest and both calls returned true
    // (a silently lost commit). Now A's pre-move exists check sees B's
    // manifest and A loses cleanly: exactly one true, B's body survives.
    val dir = Files.createTempDirectory("graft_clobber_")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val zombie = new LeaseLockCommitStore(leaseMs = 100L,
      linklessForTest = true,
      pauseBeforeFallbackMove = () => { gate.countDown(); resume.await() })
    val stealer = new LeaseLockCommitStore(leaseMs = 100L,
      linklessForTest = true)
    val zr = new java.util.concurrent.atomic.AtomicReference[Any]("unset")
    val t = new Thread(() =>
      zr.set(try zombie.putIfAbsent(dir, "m", "ZOMBIE")
        catch { case e: Exception => e }))
    t.start()
    gate.await() // zombie is fenced and paused just before its move
    Thread.sleep(150) // let the zombie's 100 ms lease expire
    assert(stealer.putIfAbsent(dir, "m", "STEALER"), "stealer must publish")
    resume.countDown()
    t.join(30000)
    // the zombie must NOT report success — clean false (pre-move check) or
    // a reported clobber error; never a second true
    assert(zr.get != true, s"two-true lost commit: ${zr.get}")
    assert(Files.readString(dir.resolve("m")) == "STEALER",
      "stealer's manifest must survive the zombie's wake-up")
  }

  test("[lease-lock] 16 threads racing one name: exactly one winner") {
    val dir = Files.createTempDirectory("graft_lease_race_")
    val store = new LeaseLockCommitStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wins = Await.result(Future.sequence((1 to 16).map(i =>
      Future(store.putIfAbsent(dir, "hot", s"writer-$i")))), 60.seconds)
    assert(wins.count(identity) == 1)
    val winner = store.get(dir, "hot")
    assert(wins.zipWithIndex.exists { case (w, i) =>
      w && winner == s"writer-${i + 1}" })
  }
}
