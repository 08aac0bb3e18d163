package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-memoized parquet reads (r16 optimization, guide §1.4/§6 — fixed
  * per-call cost): every `spark.read.parquet(...)` pays a schema-inference
  * pass before the first action — measured ~50-80 ms per call on this
  * engine's small lake/sidecar tables (`read` 60 ms vs
  * 9 ms with an explicit schema), because inference lists the files and
  * reads a parquet footer inside a one-task Spark job. The lake and ANN
  * query paths issue dozens of such reads per query (manifest file lists,
  * centroid/codebook/meta sidecars, codes/vectors tables), so inference is
  * a dominant share of their wall at bench scale and pure overhead at any
  * scale — the file sets are immutable once written.
  *
  * This helper memoizes the INFERRED schema keyed by the read's donor file
  * (the first data file of the path list): the first read of a layout runs
  * Spark's own inference (bit-identical behavior), later reads pass the
  * cached schema explicitly and skip the inference job. Soundness:
  *   - the cache key is (donor path, mtime, length) — r17, closing the r16
  *     VERDICT staleness hazard: an in-place-overwritten donor presents a
  *     new key and re-infers, so immutability is enforced by the key, not
  *     by convention;
  *   - the cached value is exactly what `spark.read.parquet` returned for
  *     a list led by that donor — not a hand-built footer conversion, so
  *     there is no converter-parity risk;
  *   - heterogeneous-schema snapshots (schema evolution) are guarded by
  *     `expectCols`: when the caller knows the expected union column set
  *     (the lake manifest records it) and the cached schema's field set
  *     differs, the read falls back to plain inference. `mergeSchema`
  *     reads never come through here.
  *
  * Donor discovery goes through the Hadoop FileSystem for the path (r17,
  * VERDICT item 5) rather than `java.nio` — on a non-POSIX store
  * (hdfs://, s3a://) the memo now works exactly where inference is most
  * expensive, instead of silently degrading to plain inference.
  */
object FastParquet {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Cache key of a path list's donor file: the head if it is a parquet
    * file, else the first `*.parquet` under it in sorted depth-first
    * order (recursing into Hive partition dirs, depth ≤ 4). The key
    * carries mtime and length so an overwritten donor never serves a
    * stale schema. None → caller falls back to plain inference.
    */
  private def donorOf(head: String,
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(head)
    try {
      val fs = graft.FsSeam.fs(p, conf)
      def keyOf(st: org.apache.hadoop.fs.FileStatus): String =
        s"${st.getPath}#${st.getModificationTime}#${st.getLen}"
      def firstParquet(d: org.apache.hadoop.fs.Path,
          depth: Int): Option[String] = {
        if (depth < 0) return None
        val entries = fs.listStatus(d).sortBy(_.getPath.getName)
        entries.collectFirst {
          case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
            keyOf(st)
        }.orElse(entries.iterator.filter(_.isDirectory)
          .map(st => firstParquet(st.getPath, depth - 1))
          .collectFirst { case Some(k) => k })
      }
      val st = fs.getFileStatus(p) // FileNotFound → IOException → None
      if (st.isFile) Some(keyOf(st)) else firstParquet(p, 4)
    } catch { case _: java.io.IOException => None }
  }

  /** `spark.read.parquet(paths…)` with the inference memoized by donor
    * file. `expectCols`: the caller's known union column set (order
    * ignored) — a cached schema with a different field set falls back to
    * plain inference instead of silently dropping evolved columns. */
  def read(spark: SparkSession, paths: Seq[String],
      expectCols: Option[Seq[String]] = None): DataFrame = {
    donorOf(paths.head, spark.sparkContext.hadoopConfiguration) match {
      case Some(d) =>
        var st = cache.get(d)
        if (st == null) {
          st = spark.read.parquet(paths: _*).schema
          if (cache.size > 8192) cache.clear() // bound long-session growth
          cache.put(d, st)
        }
        if (expectCols.forall(c => c.toSet == st.fieldNames.toSet))
          spark.read.schema(st).parquet(paths: _*)
        else spark.read.parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Single-path convenience. */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, Seq(path))
}
