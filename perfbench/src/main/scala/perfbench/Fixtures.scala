package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Untimed inputs: the seeded run ledger, and the order-independent row
  * checksums every output is checked against. */
object Fixtures {
  /** Row count and order-independent checksum of `df` over `cols`, grouped
    * by `key`: the sum of a per-row hash of the values rendered as strings. */
  def checksumBy(df: DataFrame, key: Column, cols: Seq[String]): Map[String, (Long, BigDecimal)] = {
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    df.groupBy(key.cast("string").as("k"))
      .agg(count(lit(1)), sum(h.cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
  }

  /** A FileLedger holding `n` terminal entries in its own line format: a
    * daily schedule of 50 tables, written once per checkout. */
  def seededLedger(dir: Path, n: Int): Path = {
    val path = dir.resolve(s"seed-$n.jsonl")
    val marker = dir.resolve(s"seed-$n.ok")
    if (!Files.exists(marker)) {
      Files.createDirectories(dir)
      Files.deleteIfExists(path)
      val ledger = new graft.ledger.FileLedger(path)
      val day0 = java.time.LocalDate.of(2023, 1, 1)
      (0 until n).foreach { i =>
        val day = day0.plusDays(i / 50L)
        val table = f"sched_table_${i % 50}%02d"
        val failed = i % 37 == 0
        ledger.put(graft.ledger.LedgerEntry(
          executionHashId = graft.plan.PlanHash.md5Hex(s"$table/$day"),
          sourceTable = table,
          status = if (failed) graft.ledger.RunStatus.Failed else graft.ledger.RunStatus.Succeeded,
          rowCount = if (failed) None else Some(1000L + i % 977),
          expectedRows = Some(1000L + i % 977),
          schemaTree = Some("root\n |-- id: long (nullable = true)\n"),
          startTs = Some(s"${day}T01:00:00Z"),
          endTs = Some(s"${day}T01:0${i % 10}:00Z"),
          errorMessage = if (failed) Some("source unavailable") else None))
      }
      Files.writeString(marker, "ok\n")
    }
    path
  }

  def lineCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val in = Files.newInputStream(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = 0L
        var r = in.read(buf)
        while (r > 0) {
          var i = 0
          while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
          r = in.read(buf)
        }
        n
      } finally in.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def parquetFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
      finally s.close()
    }

  /** Parquet files, leaf partition directories and bytes under `root`. */
  def lakeStats(root: Path): (Long, Long, Long) = {
    val files = parquetFiles(root)
    (files.size.toLong, files.map(_.getParent).distinct.size.toLong, files.map(f => Files.size(f)).sum)
  }

  def abs(p: String): Path = Paths.get(p).toAbsolutePath.normalize
}
