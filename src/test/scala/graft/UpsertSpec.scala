package graft

import java.nio.file.Files
import graft.sinks.{PosixLinkCommitStore, SnapshotLake}
import graft.streaming.ChangeDataCapture

/** Latest-wins upsert through ChangeDataCapture + SnapshotLake.merge:
  * an incoming row whose version equals the stored row's replaces it.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val store = PosixLinkCommitStore

  test("incoming wins version ties") {
    val t = Files.createTempDirectory("graft_upsert_").resolve("tie").toString
    def apply(batch: String, op: String, payload: String): Unit =
      ChangeDataCapture.applyChangelogBatch(spark, t,
        Seq((1L, 5L, 1L, op, payload)).toDF("id", "version", "tie", "op", "payload"),
        Seq("id"), "version", "tie", "op", Seq("payload"),
        dedupPrefix = Some(batch), store = store)
    apply("b0", "I", "old")
    apply("b1", "U", "new")
    val out = SnapshotLake.read(spark, t, None, store)
      .select($"id", $"version", $"payload").as[(Long, Long, String)].collect()
    assert(out.toSeq == Seq((1L, 5L, "new")), s"got ${out.toSeq}")
  }
}
