package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.{CommitStore, PosixLinkCommitStore, SnapshotLake}

/** CDC changelog ingestion — apply a Debezium-shaped change stream
  * (op ∈ {I/U, D}, key columns, payload, event time) to a snapshot-lake
  * table with LAST-WRITE-WINS semantics and exactly-once commits: the
  * production path from a database's change feed to an analytics-readable
  * mirror table, built from the engine's own MERGE INTO.
  *
  * Per batch:
  *   1. collapse to the newest change per key — (tsCol DESC, tieCol DESC)
  *      window, one row per key (MERGE requires unique source keys);
  *   2. upserts (op ≠ 'D'): one three-clause MERGE — matched rows update
  *      ONLY when the change is at least as new as the stored row
  *      (`mergeSource(ts) >= target.ts` per column — cross-batch LWW, so
  *      an out-of-order micro-batch can never regress a row), unmatched
  *      rows insert;
  *   3. deletes (op = 'D'): a second MERGE with a conditional matched-
  *      DELETE (same LWW guard), no insert — a delete for an absent key
  *      is a no-op.
  *
  * Exactly-once: both merges commit idempotently keyed on the micro-batch
  * id ([[SnapshotLake.merge]] `dedupKey`) — a replayed batch converges on
  * the versions its first run produced. Both merges retry their
  * optimistic-CAS loss against the refreshed head, so an unrelated
  * concurrent commit (a compaction, another feed) never fails the feed.
  *
  * Cross-batch out-of-order deletes: by default the target retains no
  * memory of deleted keys, so an upsert arriving in a LATER batch than the
  * delete it precedes in event time re-inserts the row (the standard
  * tombstone-free CDC-mirror caveat). Passing `tombstoneTable` closes the
  * hole: each batch's deletes are retained as (key, delete-ts) tombstones
  * in a sidecar lake table; incoming upserts OLDER than their key's
  * tombstone are dropped before the merge (the row stays dead), upserts at
  * least as new as the tombstone re-insert AND clear it (source-wins-ties,
  * matching the merge's own `>=` LWW guard). `tombstoneRetentionMs` bounds
  * the store: tombstones older than (batch max event time − retention) are
  * vacuumed — the watermark contract; a change feed that replays history
  * further out of order than the retention window is allowed to resurrect,
  * exactly like a watermark-evicted stream state. The tombstone overwrite
  * commits AFTER the merges — idempotently keyed on the batch identity
  * when `dedupPrefix` is supplied (the streaming path always supplies it),
  * plain overwrite when it is not, matching the merges' `dedupKey = None`
  * behavior: a crash between merges and tombstone commit replays the
  * batch against the OLD tombstone state, reproduces the same filtered
  * upserts (the merges dedup on their batch key), and completes the
  * tombstone commit.
  *
  * Scale: the collapse is one window over the batch; each MERGE opens
  * O(files overlapping the batch's key span) via the stats-pruned locate,
  * not O(table) — a day of changes against a key-clustered mirror
  * rewrites a handful of files. The tombstone store holds only keys
  * deleted within the retention window (vacuumed by event time), so its
  * per-batch read + overwrite is a small table, never O(mirror).
  */
object ChangeDataCapture {

  /** Apply one (batch) changelog frame. Returns the table version after
    * the apply (unchanged when the batch is empty or replayed).
    */
  def applyChangelogBatch(spark: SparkSession, table: String,
      changes: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
      opCol: String, payloadCols: Seq[String],
      dedupPrefix: Option[String] = None,
      store: CommitStore = PosixLinkCommitStore,
      tombstoneTable: Option[String] = None,
      tombstoneRetentionMs: Option[Long] = None): Long = {
    require(keys.nonEmpty, "changelog apply needs key columns")
    require(tombstoneRetentionMs.isEmpty || tombstoneTable.nonEmpty,
      "tombstoneRetentionMs needs a tombstoneTable")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    val latest = changes
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
      // the collapse + both merges + the tombstone fold all consume this
      // one window; cut lineage so the batch is collapsed once
      .localCheckpoint(false)
    val outCols = keys ++ payloadCols :+ tsCol
    val upserts0 = latest.where(col(opCol) =!= "D")
      .select(outCols.map(col): _*)
    val deletes = latest.where(col(opCol) === "D")
      .select((keys :+ tsCol).map(col): _*)

    // tombstone guard: an upsert STRICTLY older than its key's retained
    // delete stays dead (>= re-inserts — source-wins-ties, the merge's own
    // LWW convention)
    val oldTombs: Option[DataFrame] = tombstoneTable
      .filter(tt => SnapshotLake.versions(tt, store).nonEmpty)
      .map(tt => SnapshotLake.read(spark, tt, None, store))
    val upserts = oldTombs match {
      case None => upserts0
      case Some(tb) => upserts0
        .join(tb.select((keys.map(col) :+ col(tsCol).as("__tomb_ts")): _*),
          keys, "left")
        .where(col("__tomb_ts").isNull || col(tsCol) >= col("__tomb_ts"))
        .drop("__tomb_ts")
    }

    def lww: Column = SnapshotLake.mergeSource(tsCol) >= col(tsCol)
    def retryMerge(source: DataFrame, update: Map[String, Column],
        delete: Option[Column], insert: Boolean, key: String): Long = {
      var attempts = 0
      while (attempts < 50) {
        SnapshotLake.merge(spark, table, source, keys,
          whenMatchedUpdate = update, whenMatchedDelete = delete,
          insertNotMatched = insert, store = store,
          dedupKey = dedupPrefix.map(_ + key)) match {
          case Some(v) => return v
          case None => attempts += 1 // CAS lost to a concurrent commit
        }
      }
      throw new IllegalStateException(
        s"changelog apply lost the commit race 50 times at $table")
    }

    if (SnapshotLake.versions(table, store).isEmpty) {
      // bootstrap: the first batch's upserts found the table; deletes of
      // never-inserted keys are no-ops against the MIRROR by definition
      // (they still tombstone below — the insert they precede may be late)
      SnapshotLake.commitAppendIdempotent(upserts, table,
        dedupPrefix.getOrElse("cdc-bootstrap") + "-up", store)
    } else {
      val update = (payloadCols :+ tsCol).map(c =>
        c -> when(lww, SnapshotLake.mergeSource(c)).otherwise(col(c))).toMap
      retryMerge(upserts, update, None, insert = true, "-up")
    }
    val hasDeletes = !deletes.limit(1).isEmpty
    val afterDeletes =
      if (!hasDeletes)
        SnapshotLake.versions(table, store).max
      else
        retryMerge(deletes, Map.empty, Some(lww), insert = false, "-del")

    // tombstone fold, committed LAST (see the class doc's crash argument):
    // new store = LWW-max of (retained old tombstones minus re-born keys)
    // ∪ this batch's deletes, vacuumed to the event-time retention window
    // no store yet and nothing to record → skip, so the store's FIRST
    // commit always carries a schema-donating data file
    tombstoneTable.filter(_ => oldTombs.nonEmpty || hasDeletes).foreach { tt =>
      val survivors = oldTombs match {
        case None => deletes
        case Some(tb) =>
          // every filtered upsert is at least as new as its key's
          // tombstone, so a plain anti-join clears the re-born keys
          tb.join(upserts.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(deletes)
      }
      val folded = survivors.groupBy(keys.map(col): _*)
        .agg(max(col(tsCol)).as(tsCol))
      val vacuumed = tombstoneRetentionMs match {
        case None => folded
        case Some(ret) =>
          // per-batch max event time is the watermark proxy (one bounded
          // 1-row aggregate); an all-late batch just vacuums nothing new
          Option(latest.agg(max(col(tsCol))).head().get(0)) match {
            case None => folded
            case Some(t: java.sql.Timestamp) =>
              folded.where(col(tsCol) >=
                lit(new java.sql.Timestamp(t.getTime - ret)))
            case Some(t: java.time.Instant) =>
              folded.where(col(tsCol) >=
                lit(java.sql.Timestamp.from(t.minusMillis(ret))))
            case Some(n: java.lang.Long) =>
              folded.where(col(tsCol) >= lit(n - ret))
            case Some(n: java.lang.Integer) =>
              folded.where(col(tsCol) >= lit(n.toLong - ret))
            case Some(other) => throw new IllegalArgumentException(
              s"tombstone retention needs a timestamp or integral " +
                s"$tsCol, got ${other.getClass.getName}")
          }
      }
      // an existing store may legitimately overwrite to empty (all
      // vacuumed); a FIRST commit must carry at least one data file so
      // later reads have a schema donor — skip if bootstrap-and-empty
      if (oldTombs.nonEmpty || !vacuumed.limit(1).isEmpty) {
        val out =
          vacuumed.coalesce(graft.operators.Transforms.coalesceTier(0L))
        dedupPrefix match {
          case Some(p) =>
            SnapshotLake.commitOverwriteIdempotent(out, tt, p + "-tomb", store)
          case None =>
            // no batch identity → no idempotency key, matching the merges'
            // dedupKey = None behavior. A shared constant key here would
            // dedup EVERY later batch's tombstone commit against the first
            // one (ADVICE r7): deletes after batch 1 were never tombstoned
            // and cleared tombstones never removed, while the mirror
            // merges kept applying.
            SnapshotLake.commitOverwrite(out, tt, store)
        }
      }
    }
    afterDeletes
  }

  /** The streaming entry: drive a changelog stream into the mirror table,
    * one exactly-once apply per micro-batch. The query runs under
    * `Trigger.AvailableNow`: it drains what the source holds at start and
    * ends by itself ([[EventStreams.awaitDrained]] waits for that).
    */
  def streamChangelogToLake(changes: DataFrame, table: String,
      keys: Seq[String], tsCol: String, tieCol: String, opCol: String,
      payloadCols: Seq[String], checkpointDir: String,
      store: CommitStore = PosixLinkCommitStore,
      tombstoneTable: Option[String] = None,
      tombstoneRetentionMs: Option[Long] = None): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyChangelogBatch(batch.sparkSession, table, batch, keys, tsCol,
          tieCol, opCol, payloadCols,
          dedupPrefix = Some(s"cdc-b$batchId"), store = store,
          tombstoneTable = tombstoneTable,
          tombstoneRetentionMs = tombstoneRetentionMs)
        ()
      }
      .start()
}
