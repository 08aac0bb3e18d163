package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.{PosixLinkCommitStore, SnapshotLake}

/** Manifest format v2 (r15 — delta manifests + chain-cut checkpoints +
  * commit-time row counts): the format switch only engages above
  * [[SnapshotLake.DeltaManifestThreshold]] files, so every pre-existing
  * small-table spec keeps exercising the self-contained FULL form; this
  * suite builds one genuinely-large base and pins the delta machinery —
  * resolution, rewrites, vacuum's mandatory chain-cut, the countRows fast
  * path, the retrofit, and the driver-side micro-stage commit.
  */
class ManifestFormatSpec extends SparkSpec {
  import spark.implicits._

  private val store = PosixLinkCommitStore

  private def freshTable(): String =
    Files.createTempDirectory("graft_mfv2_").resolve("t").toString

  private def rawManifest(t: String, v: Long): String =
    Files.readString(Paths.get(t, "_manifests", f"v$v%011d.json"))

  private def hasCheckpoint(t: String, v: Long): Boolean =
    Files.exists(Paths.get(t, "_manifests", f"c$v%011d.json"))

  /** One commit of `n` one-row files (ids [start, start+n)). */
  private def appendRows(t: String, start: Long, n: Int): Long =
    SnapshotLake.commitAppend(
      spark.range(start, start + n).toDF("id").repartition(
        math.min(n, 64)).coalesce(math.min(n, 64)),
      t, store)

  test("appends over a large base write DELTA manifests; reads, CDF, " +
      "countRows, COW delete and restore all resolve through the chain") {
    val t = freshTable()
    // base ABOVE the delta threshold (round-robin leaves some target
    // partitions empty, so over-provision and assert the bound)
    val v0 = SnapshotLake.commitAppend(
      spark.range(0, 900).toDF("id").repartition(900), t, store)
    val baseFiles = SnapshotLake.manifestFiles(t, v0, store).size
    assert(baseFiles >= SnapshotLake.DeltaManifestThreshold,
      s"fixture drift: base must exceed the delta threshold, got $baseFiles")
    assert(rawManifest(t, v0).contains("\"files\":["),
      "a first commit is always the FULL form")
    // appends now take the delta form: O(changed files) bytes
    val v1 = appendRows(t, 1000, 3)
    val v2 = appendRows(t, 2000, 3)
    val m1 = rawManifest(t, v1)
    assert(m1.contains(s""""base":$v0""") && m1.contains("\"adds\":["),
      s"append over a ${520}-file base must be a DELTA manifest: $m1")
    assert(m1.linesIterator.size < 20,
      "delta manifest must be O(changed files), not O(table)")
    // resolution: reads, counts, CDF all see the folded chain
    assert(SnapshotLake.read(spark, t, Some(v2), store).count() == 906)
    assert(SnapshotLake.countRows(spark, t, Some(v2), store) == 906)
    assert(SnapshotLake.changesBetween(spark, t, v1, v2, store)
      .select($"id").as[Long].collect().sorted.toSeq ==
      (2000L until 2003L))
    // row counts were recorded at commit time for every entry, and they
    // sum to the snapshot's row count
    val entries2 = SnapshotLake.manifestEntries(t, v2, store)
    assert(entries2.forall(_._2.isDefined),
      "every staged file must carry its recorded count")
    assert(entries2.flatMap(_._2).sum == 906L)
    // COW delete: a delta with removes — the touched file vanishes from
    // the resolved set, untouched files carried by reference
    val v3 = SnapshotLake.deleteWhere(spark, t, col("id") === 7L, store).get
    val m3 = rawManifest(t, v3)
    assert(m3.contains("\"removes\":["), s"COW delete must be a delta: $m3")
    assert(SnapshotLake.read(spark, t, Some(v3), store).count() == 905)
    assert(SnapshotLake.countRows(spark, t, Some(v3), store) == 905)
    // time travel is unaffected by later deltas
    assert(SnapshotLake.read(spark, t, Some(v0), store).count() == 900)
    // restore publishes a FULL manifest (independent of the old chain)
    val v4 = SnapshotLake.restore(t, v0, store).get
    assert(rawManifest(t, v4).contains("\"files\":["))
    assert(SnapshotLake.read(spark, t, Some(v4), store).count() == 900)
  }

  test("vacuum publishes mandatory chain-cut checkpoints before dropping " +
      "manifests a retained delta chain passes through") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      spark.range(0, 900).toDF("id").repartition(900), t, store)
    (1 to 4).foreach(i => appendRows(t, 1000L * i, 2))
    val vs = SnapshotLake.versions(t, store)
    assert(vs == (0L to 4L))
    // retain the top two versions: v3's chain (v3→v2→v1→v0) crosses the
    // dropped set, so vacuum must checkpoint it before deleting
    SnapshotLake.vacuum(t, retainVersions = 2, minAgeMs = -60000L,
      store = store)
    assert(SnapshotLake.versions(t, store) == Seq(3L, 4L))
    assert(hasCheckpoint(t, 3L),
      "the oldest retained delta must have been checkpointed")
    assert(SnapshotLake.read(spark, t, Some(3L), store).count() == 906)
    assert(SnapshotLake.read(spark, t, Some(4L), store).count() == 908)
    assert(SnapshotLake.countRows(spark, t, Some(4L), store) == 908)
    // dropped versions' data files stay exactly the live union's
    assert(SnapshotLake.read(spark, t, None, store)
      .where($"id" < 900).count() == 900,
      "base files referenced by retained chains must survive vacuum")
  }

  test("manifests, checkpoints and stats sidecars are STRICT JSON (r17: " +
      "the row-count tab is escaped at the string boundary), and legacy " +
      "raw-tab manifests still parse to the identical entries") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      spark.range(0, 40).toDF("id").repartition(4), t, store,
      statsCols = Seq("id"))
    appendRows(t, 100, 2)
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val mdir = Paths.get(t, "_manifests")
    val names = Files.list(mdir)
    val all = try names.iterator().asScala.map(_.getFileName.toString).toSeq
      finally names.close()
    assert(all.exists(_.startsWith("s")), "fixture: stats sidecar expected")
    all.foreach { n =>
      val txt = Files.readString(mdir.resolve(n))
      try om.readTree(txt) catch {
        case e: Exception => fail(s"$n is not strict JSON: $e\n$txt")
      }
      assert(!txt.exists(_ == '\t'), s"$n still carries a raw tab byte")
    }
    // round-trip: the escaped form resolves to counted entries
    val entries = SnapshotLake.manifestEntries(t, 1L, store)
    assert(entries.nonEmpty && entries.forall(_._2.isDefined))
    assert(SnapshotLake.countRows(spark, t, Some(1L), store) == 42)
    // legacy raw-tab bytes (every pre-r17 manifest) parse identically
    (0L to 1L).foreach { v =>
      val p = mdir.resolve(f"v$v%011d.json")
      Files.writeString(p, Files.readString(p).replace("\\t", "\t"))
    }
    assert(SnapshotLake.manifestEntries(t, 1L, store) == entries,
      "raw-tab legacy manifests must parse to the identical entries")
    assert(SnapshotLake.countRows(spark, t, Some(1L), store) == 42)
  }

  test("legacy (count-less, cumulative) manifests stay readable; " +
      "countRows falls back to footers; buildRowCountIndex retrofits") {
    val t = freshTable()
    SnapshotLake.commitAppend(
      spark.range(0, 40).toDF("id").repartition(4), t, store)
    appendRows(t, 100, 2)
    // simulate a pre-v2 table: strip the recorded row counts (and the n
    // header) from both manifests in place
    (0L to 1L).foreach { v =>
      val p = Paths.get(t, "_manifests", f"v$v%011d.json")
      val stripped = Files.readString(p)
        .replaceAll("\\\\t\\d+", "").replaceAll("\t\\d+", "")
        .replaceFirst(""""n":\d+,""", "")
      Files.writeString(p, stripped)
    }
    assert(SnapshotLake.manifestEntries(t, 1L, store)
      .forall(_._2.isEmpty), "fixture: counts must be stripped")
    // footer fallback keeps the count exact
    assert(SnapshotLake.countRows(spark, t, Some(1L), store) == 42)
    // retrofit: one footer walk, published as a counted checkpoint
    val retrofitted = SnapshotLake.buildRowCountIndex(spark, t, None, store)
    assert(retrofitted == 6, s"expected 6 uncounted files, got $retrofitted")
    assert(hasCheckpoint(t, 1L))
    assert(SnapshotLake.manifestEntries(t, 1L, store)
      .forall(_._2.isDefined), "retrofit must fill every count")
    assert(SnapshotLake.countRows(spark, t, Some(1L), store) == 42)
    // idempotent: a second call computes nothing
    assert(SnapshotLake.buildRowCountIndex(spark, t, None, store) == 0)
  }

  test("buildRowCountIndex REPLACES a mandatory chain-cut checkpoint " +
      "atomically: no delete is ever issued for it (the delete-then-" +
      "publish crash window would leave the version's only self-" +
      "contained record gone, its chain walking into vacuumed manifests)") {
    val rec = new RecordingStore
    val t = freshTable()
    SnapshotLake.commitAppend(
      spark.range(0, 900).toDF("id").repartition(900), t, rec)
    (1 to 4).foreach { i =>
      SnapshotLake.commitAppend(
        spark.range(1000L * i, 1000L * i + 2).toDF("id").repartition(2),
        t, rec)
    }
    // simulate a pre-v2 table: strip the recorded per-entry row counts
    // from every manifest in place (full and delta forms both carry them
    // as "path\tcount" entry suffixes)
    val mdir = Paths.get(t, "_manifests")
    val ms = Files.list(mdir)
    try ms.forEach { p =>
      if (p.getFileName.toString.startsWith("v"))
        Files.writeString(p, Files.readString(p)
          .replaceAll("\\\\t\\d+", "").replaceAll("\t\\d+", ""))
    } finally ms.close()
    // vacuum cuts the chain: the oldest retained version gets a MANDATORY
    // checkpoint — count-less, since the stripped manifests carry none
    SnapshotLake.vacuum(t, retainVersions = 2, minAgeMs = -60000L,
      store = rec)
    val v = SnapshotLake.versions(t, rec).min
    val ckName = f"c$v%011d.json"
    assert(hasCheckpoint(t, v), "fixture: vacuum must have checkpointed")
    assert(SnapshotLake.manifestEntries(t, v, rec).exists(_._2.isEmpty),
      "fixture: the chain-cut checkpoint must be count-less")
    rec.deletes.clear()
    val filled = SnapshotLake.buildRowCountIndex(spark, t, Some(v), rec)
    assert(filled > 0)
    // THE pin: the mandatory checkpoint was atomically replaced, never
    // deleted — there is no instant at which version v is unreadable
    assert(!rec.deletes.contains(ckName),
      s"retrofit must never delete the chain-cut checkpoint: ${rec.deletes}")
    assert(rec.replaces.contains(ckName),
      "retrofit must publish the counted checkpoint via atomic replace")
    assert(SnapshotLake.manifestEntries(t, v, rec).forall(_._2.isDefined))
    assert(SnapshotLake.countRows(spark, t, Some(v), rec) == 906)
    assert(SnapshotLake.read(spark, t, Some(v), rec).count() == 906)
    // replace is atomic whole-object semantics: no tmp residue in the dir
    val leftover = Files.list(mdir)
    try assert(!leftover.iterator().asScala.exists(
      _.getFileName.toString.endsWith(".tmp")),
      "atomic replace must not leave tmp objects")
    finally leftover.close()
  }

  private class RecordingStore extends graft.sinks.CommitStore {
    val deletes = scala.collection.mutable.ArrayBuffer.empty[String]
    val replaces = scala.collection.mutable.ArrayBuffer.empty[String]
    override def putIfAbsent(dir: java.nio.file.Path, name: String,
        body: String): Boolean =
      PosixLinkCommitStore.putIfAbsent(dir, name, body)
    override def delete(dir: java.nio.file.Path, name: String): Unit = {
      deletes += name; PosixLinkCommitStore.delete(dir, name)
    }
    override def replace(dir: java.nio.file.Path, name: String,
        body: String): Unit = {
      replaces += name; PosixLinkCommitStore.replace(dir, name, body)
    }
  }

  test("driver-side micro-stage commit ≡ the distributed staged commit " +
      "(content, schema, partition-dir shape, recorded counts)") {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDirect
    val data = spark.range(0, 97)
      .select($"id", ($"id" % 7).as("cell"), ($"id" * 2.5).as("x"),
        concat(lit("s"), $"id").as("s"))
      .withColumn("__pc_cell", $"cell")
    val tDriver = freshTable()
    val tSpark = freshTable()
    // driver path: LIMIT-guarded collect → direct parquet stage → CAS
    val rows = GraftParquetDirect.collectInternalLimited(data, 1000).get
    assert(rows.length == 97)
    val entries = SnapshotLake.stageDriverSide(spark, tDriver, data.schema,
      rows, Seq("__pc_cell"))
    assert(entries.size == 7, "one staged file per partition value")
    assert(entries.forall(e => e._1.contains("__pc_cell=") &&
      e._2.nonEmpty), s"cell-dir shape + counts: $entries")
    assert(entries.flatMap(_._2).sum == 97)
    val vD = SnapshotLake.commitPrestagedIdempotent(tDriver, "b-0", entries,
      data.columns.filterNot(_ == "__pc_cell").toSeq, store)
    // replay converges on the same version, commits nothing new
    assert(SnapshotLake.commitPrestagedIdempotent(tDriver, "b-0", entries,
      data.columns.filterNot(_ == "__pc_cell").toSeq, store) == vD)
    // distributed path over the same data
    SnapshotLake.commitAppendIdempotent(data, tSpark, "b-0", store,
      stagePartitionCols = Seq("__pc_cell"))
    val got = SnapshotLake.read(spark, tDriver, None, store)
    val want = SnapshotLake.read(spark, tSpark, None, store)
    assert(got.schema.fields.map(f => s"${f.name}:${f.dataType}").sorted
      .sameElements(
        want.schema.fields.map(f => s"${f.name}:${f.dataType}").sorted),
      s"schemas diverge: ${got.schema} vs ${want.schema}")
    val cols = want.columns.sorted.toSeq
    assert(got.select(cols.map(col): _*).orderBy($"id").collect().toSeq ==
      want.select(cols.map(col): _*).orderBy($"id").collect().toSeq,
      "driver-staged rows must equal Spark-staged rows")
    assert(SnapshotLake.countRows(spark, tDriver, None, store) == 97)
    // the driver-staged files are REAL layout-shaped parquet: a plain
    // Spark read of one staged cell dir round-trips
    val one = SnapshotLake.manifestFiles(tDriver, vD, store).head
    assert(spark.read.parquet(s"$tDriver/$one").columns.sorted.toSeq ==
      cols, "staged file content must exclude the partition alias column")
  }

  test("golden sidecars (stats, bloom, NDV, and suffixed bloom/NDV " +
      "retrofits) written by an earlier release parse to the same " +
      "per-file entries") {
    val t = GoldenSidecars.materialize()
    val want = Files.readString(GoldenSidecars.resource("expected.txt"))
    assert(GoldenSidecars.render(spark, t) == want)
  }
}

/** A lake whose `_manifests` directory was committed as test resources:
  * one manifest `v0` over three data files, the commit sidecars `s0` (stats
  * on `id`, `z`), `b0` (bloom on `id`) and `n0` (NDV on `k`), and the
  * suffixed retrofit sidecars `b0-…` / `n0-…` on `s`. The data files
  * themselves are absent; every reader used here opens sidecars only.
  * `expected.txt` is [[render]] of that directory as first written.
  */
object GoldenSidecars {
  private val store = PosixLinkCommitStore

  def resource(name: String): java.nio.file.Path =
    Paths.get(getClass.getResource(s"/golden-sidecars/$name").toURI)

  /** Copy the golden `_manifests` into a fresh table, then add one
    * single-file manifest `v<i+1>` per data file of `v0`, so that each
    * whole-snapshot metadata answer at `v<i+1>` is file i's own entry. */
  def materialize(): String = {
    val t = Files.createTempDirectory("graft_golden_").resolve("t")
    val mdir = Files.createDirectories(t.resolve("_manifests"))
    val src = Files.list(resource("_manifests"))
    try src.forEach(p => Files.copy(p, mdir.resolve(p.getFileName)))
    finally src.close()
    SnapshotLake.manifestFiles(t.toString, 0L, store).zipWithIndex
      .foreach { case (f, i) =>
        Files.writeString(mdir.resolve(f"v${i + 1}%011d.json"),
          s"""{"version":${i + 1},"n":1,"files":[\n"$f"\n]}""")
      }
    t.toString
  }

  /** One line per (kind, column, file): stats [min, max] and the NDV
    * estimate through the single-file snapshots, bloom entries through
    * the per-file bloom map at `v0`. */
  def render(spark: org.apache.spark.sql.SparkSession, t: String): String = {
    val files = SnapshotLake.manifestFiles(t, 0L, store)
    val perFile = files.zipWithIndex.flatMap { case (f, i) =>
      val v = Some(i + 1L)
      Seq("id", "z").map(c =>
        s"stats $c $f ${SnapshotLake.minMaxFromStats(t, c, v, store)}") ++
        Seq("k", "s").map(c => s"ndv $c $f " +
          SnapshotLake.approxDistinctFromSketches(spark, t, c, v, store))
    }
    val blooms = Seq("id", "s").flatMap { c =>
      SnapshotLake.sidecarBlooms(t, 0L, c, store).toSeq.sortBy(_._1).map {
        case (f, (dt, m, k, bits)) => s"bloom $c $f $dt $m $k " +
          java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
      }
    }
    (perFile ++ blooms).mkString("", "\n", "\n")
  }
}
