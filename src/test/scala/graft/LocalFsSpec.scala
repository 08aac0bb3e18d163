package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.fs.{LocalAfs, LocalFs}
import graft.sinks.LakeWriter
import graft.sources.TableCatalog
import graft.streaming.EventStreams

/** graft's local FileSystem answers `setPermission` and `getFileLinkStatus`
  * through `java.nio` instead of forking `chmod`/`readlink`. Each parity
  * test runs the same operations through the stock Hadoop classes and
  * graft's, and compares what lands on disk or what is returned. */
class LocalFsSpec extends SparkSpec {

  private val Local = URI.create("file:///")

  /** Uncached stock and graft FileSystems over `conf`. */
  private def pair(conf: Configuration): Seq[(String, FileSystem)] = {
    val stock = new org.apache.hadoop.fs.LocalFileSystem
    stock.initialize(Local, conf)
    val ours = new LocalFs
    ours.initialize(Local, conf)
    Seq("stock" -> stock, "graft" -> ours)
  }

  private def mode(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p)))

  test("created files get the stock mode under the umask, .crc sidecars included") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mask", umask)
      val modes = pair(conf).map { case (name, fs) =>
        val dir = Files.createTempDirectory(s"graft_lfs_$name").toString
        val out = fs.create(new Path(s"$dir/data.bin"))
        out.write(Array.fill[Byte](1000)(7))
        out.close()
        assert(Files.exists(Paths.get(dir, ".data.bin.crc")), s"$name: no .crc")
        (mode(s"$dir/data.bin"), mode(s"$dir/.data.bin.crc"))
      }
      assert(modes.distinct.size == 1, s"umask $umask: stock vs graft $modes")
    }
  }

  test("multi-level mkdirs sets the stock mode at every level") {
    val conf = new Configuration()
    val modes = pair(conf).map { case (name, fs) =>
      val dir = Files.createTempDirectory(s"graft_lfs_$name").toString
      assert(fs.mkdirs(new Path(s"$dir/a/b/c"), new FsPermission("750")))
      assert(fs.mkdirs(new Path(s"$dir/x/y")))
      Seq("a", "a/b", "a/b/c", "x", "x/y").map(d => mode(s"$dir/$d"))
    }
    assert(modes.distinct.size == 1, s"stock vs graft $modes")
  }

  test("FileContext rename: NONE onto an existing file throws, OVERWRITE replaces") {
    for (afs <- Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[LocalAfs])) {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", afs.getName)
      val fc = FileContext.getFileContext(Local, conf)
      assert(fc.getDefaultFileSystem.getClass == afs)
      val dir = Files.createTempDirectory("graft_lfs_fc").toString
      def put(name: String, body: String): Path = {
        val p = new Path(s"$dir/$name")
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(body.getBytes("UTF-8"))
        out.close()
        p
      }
      val src = put("src", "new")
      val dst = put("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/dst")), "UTF-8") == "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/dst")), "UTF-8") == "new")
      assert(!Files.exists(Paths.get(s"$dir/src")))
      assert(!Files.exists(Paths.get(s"$dir/.src.crc")))
      assert(Files.exists(Paths.get(s"$dir/.dst.crc")), afs.getName)
    }
  }

  test("getFileLinkStatus matches the stock answer for a symlink, a file and a missing path") {
    val dir = Files.createTempDirectory("graft_lfs_link").toString
    Files.write(Paths.get(s"$dir/file"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    val fss = pair(new Configuration())
    for (name <- Seq("file", "link"); qualified <- Seq(false, true)) {
      val seen = fss.map { case (_, fs) =>
        val p = new Path(s"$dir/$name")
        val st = fs.getFileLinkStatus(if (qualified) fs.makeQualified(p) else p)
        (st.getPath, st.isFile, st.isDirectory, st.getLen, st.isSymlink,
          if (st.isSymlink) Some(st.getSymlink) else None,
          st.getModificationTime, st.getPermission)
      }
      assert(seen.distinct.size == 1, s"$name (qualified=$qualified): $seen")
    }
    assert(fss.head._2.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    for ((name, fs) <- fss)
      intercept[java.io.FileNotFoundException](
        fs.getFileLinkStatus(new Path(s"$dir/missing")))
  }

  test("the shared test session's local FileSystems are graft's") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).getClass == classOf[LocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .getClass == classOf[LocalAfs])
  }

  test("install keeps a configured local FileSystem and replaces only the default") {
    val conf = new Configuration(false)
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    LocalFs.install(conf)
    assert(conf.get("fs.file.impl") ==
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalAfs].getName)
    val unset = new Configuration(false)
    LocalFs.install(unset)
    assert(unset.get("fs.file.impl") == classOf[LocalFs].getName)
  }

  test("a lake write to a file: URI base counts the files it landed") {
    val lake = Files.createTempDirectory("graft_lfs_uri").toUri.toString
      .stripSuffix("/")
    assert(lake.startsWith("file:"), lake)
    val days = spark.range(0, 60).select(
      expr("date_add(date'2024-03-01', cast(id % 3 as int))").as("d"),
      col("id"))
    for ((suffix, part) <- Seq("k2/main/t" -> Some("d"), "k1/main/t" -> None)) {
      val r = LakeWriter.write(days, lake, suffix, part, 60L)
      assert(r.rows == 60 && r.files > 0, r)
      assert(r.files == spark.read.parquet(r.path).inputFiles.length, r)
    }
  }

  test("a partitioned lake write and a stateful stream fork no Hadoop shell") {
    val lake = Files.createTempDirectory("graft_lfs_lake").toString
    val days = spark.range(0, 600).select(
      expr("date_add(date'2024-03-01', cast(id % 12 as int))").as("d"),
      col("id"), (col("id") * 3).as("v"))
    val streamDir = Files.createTempDirectory("graft_lfs_src").toString
    TableCatalog.load(spark, sf0001, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .repartition(2).write.mode("overwrite").parquet(streamDir)

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val jfr = Files.createTempFile("graft_lfs_", ".jfr")
    val res = try {
      rec.start()
      val written = LakeWriter.write(days, lake, "k2/main/t", Some("d"), 0L)
      val n = EventStreams.runToCompletion(
        EventStreams.streamingTumblingCounts(spark, streamDir), "lfs_tumbling").count()
      assert(n > 0)
      // a fork the recording must see, so an empty recording cannot pass
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
      written
    } finally rec.close()
    assert(res.rows == 600 && res.files >= 12, res)

    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").toSeq
    Files.delete(jfr)
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(_.getMethod.getType.getName)
    assert(starts.exists(e => e.getString("command") == "true"),
      s"the recording missed the probe fork: ${starts.map(_.getString("command"))}")
    val shell = starts.filter(e =>
      frames(e).exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty,
      s"${shell.size} Hadoop shell forks, e.g. ${shell.take(3).map(_.getString("command"))}")
  }
}
