package graft

import org.apache.spark.sql.functions._
import graft.sources.TableCatalog
import graft.streaming.EventStreams
import java.nio.file.Files

/** Structured Streaming surface: streaming results must equal the batch
  * form of the same event-time logic (differential test), watermark
  * included.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Streaming source dir: events normalized to micro timestamps (the
  // TIMESTAMP(NANOS) physical type is a batch-reader concern; a stream
  // source would produce micros natively).
  lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft_stream_src_").toString
    TableCatalog.load(spark, sf0001, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(d)
    d
  }
  lazy val batchEvents = spark.read.parquet(streamDir)

  test("streaming tumbling counts == batch tumbling counts") {
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingTumblingCounts(spark, streamDir), "tumbling_test")
    val batch = EventStreams.tumblingCounts(batchEvents)
    val s = streamed.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val b = batch.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    // append mode emits only windows closed by the watermark; every emitted
    // window must match batch exactly, and most windows must have emitted
    assert(s.nonEmpty)
    assert(s.subsetOf(b), s"streamed windows disagree with batch: ${s.diff(b).take(3)}")
    assert(s.size >= (b.size * 3) / 4)
  }

  test("streaming session windows == batch session windows") {
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingSessionCounts(spark, streamDir), "session_test")
    val batch = EventStreams.batchSessionCounts(batchEvents)
    val s = streamed.as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    val b = batch.as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b), s"streamed sessions disagree: ${s.diff(b).take(3)}")
  }

  test("full-outer stream-stream join == batch full join on the flushed tails") {
    // sentinel rows on both sides push the global watermark past every real
    // row's join window, so BOTH unmatched tails fully emit on a finite
    // drain (the left-join flush discipline, made symmetric)
    val dir = Files.createTempDirectory("graft_fo_src_").toString
    val mx = batchEvents.agg(max($"ts")).collect()(0).getTimestamp(0)
    def plus(days: Long) = new java.sql.Timestamp(mx.getTime + days * 86400000L)
    val sentinels = Seq(
      (-1L, plus(10), -1L, "view", 0.0, "{}"),
      (-2L, plus(15), -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batchEvents.unionByName(sentinels).write.mode("overwrite").parquet(dir)
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingViewPurchaseFullJoin(spark, dir), "fulljoin_test")
      .where($"user_id" >= 0)
      .select($"user_id", $"view_id", $"purchase_id")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    val v = batchEvents.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val p = batchEvents.where($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"))
    val batch = v.join(p,
        $"user_id" === $"p_user_id" && $"purchase_ts" >= $"view_ts" &&
          $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"),
        "fullOuter")
      .select(coalesce($"user_id", $"p_user_id").as("user_id"),
        $"view_id", $"purchase_id")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"full-outer drain must equal batch: missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
    // both unmatched shapes are genuinely present in the result
    assert(streamed.exists(_._3.isEmpty), "some view must be purchase-less")
    assert(streamed.exists(_._2.isEmpty), "some purchase must be view-less")
  }

  test("streaming dedup restores exactly-once counts from a duplicated source") {
    val dir = Files.createTempDirectory("graft_dup_src_").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    batchEvents.write.mode("append").parquet(dir) // at-least-once replay
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingDedupedTumblingCounts(spark, dir), "dedup_stream_test")
    val batch = EventStreams.tumblingCounts(batchEvents) // original, no dups
    val s = streamed.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val b = batch.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b),
      s"deduped stream must match single-delivery batch: ${s.diff(b).take(3)}")
    assert(s.size >= (b.size * 3) / 4)
  }

  test("batch session counts cover all events exactly once") {
    val total = EventStreams.batchSessionCounts(batchEvents)
      .agg(sum("n_events")).as[Long].head()
    assert(total == batchEvents.count())
  }

  test("watermark drops late data beyond the threshold") {
    // replay events, then append one very late row; with a tight watermark
    // the closed window must not re-emit
    val dir = java.nio.file.Files.createTempDirectory("graft_late_").toString
    batchEvents.write.mode("overwrite").parquet(s"$dir/b0")
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingTumblingCounts(spark, s"$dir/b0",
        watermark = "1 hour"), "late_test")
    val batch = EventStreams.tumblingCounts(spark.read.parquet(s"$dir/b0"))
    // append emits only watermark-closed windows: strictly fewer than batch,
    // and every emitted row agrees with batch
    val s = streamed.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val b = batch.select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(s.nonEmpty && s.subsetOf(b))
    assert(s.size < b.size, "tail windows past the watermark must be held back")
  }

  test("flatMapGroupsWithState final state equals batch aggregation") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventStreams.runToCompletion(
      EventStreams.statefulUserStats(spark, streamDir), "state_test",
      mode = OutputMode.Update)
    // Update mode re-emits per micro-batch: the LAST row per user is the
    // final state (single batch here, so it's also the only row).
    val latest = streamed.groupBy($"user_id")
      .agg(max(struct($"n_events", $"total_value", $"last_ts")).as("s"))
      .select($"user_id", $"s.n_events", round($"s.total_value", 4).as("tv"),
        $"s.last_ts")
      .as[(Long, Long, Double, java.sql.Timestamp)].collect().toSet
    val batch = EventStreams.batchUserStats(batchEvents)
      .select($"user_id", $"n_events", round($"total_value", 4).as("tv"),
        $"last_ts")
      .as[(Long, Long, Double, java.sql.Timestamp)].collect().toSet
    assert(latest == batch)
  }

  test("stateful decayed counters: stream final state == batch, bit-exact") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventStreams.runToCompletion(
      EventStreams.statefulDecayedCounters(spark, streamDir), "decay_test",
      mode = OutputMode.Update)
    val latest = streamed.groupBy($"user_id")
      .agg(max(struct($"n_events", $"decay_scaled")).as("s"))
      .select($"user_id", $"s.decay_scaled", $"s.n_events")
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventStreams.batchDecayedCounters(
        spark.read.parquet(streamDir))
      .select($"user_id", $"decay_scaled", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(latest == batch)

    // the merge's slicing-independence on its own: fold a synthetic event
    // stream in shuffled order / arbitrary chunks — identical final state
    val days = Seq(0L, 3L, 3L, 10L, 27L, 27L, 27L, 45L, 49L)
    def fold(ds: Seq[Long]): (Long, Long) =
      ds.foldLeft((Long.MinValue, 0L)) { case ((dm, s), d) =>
        if (s == 0L && dm == Long.MinValue) (d, 1L << 50)
        else if (d <= dm)
          (dm, s + (if (dm - d >= 51) 0L else (1L << 50) >> (dm - d)))
        else (d, (if (d - dm >= 51) 0L else s >> (d - dm)) + (1L << 50))
      }
    val want = fold(days)
    val rnd = new scala.util.Random(5)
    (1 to 20).foreach { _ =>
      assert(fold(rnd.shuffle(days)) == want, "order-independent") }
  }

  test("stateful z-score anomalies: stream == batch replay, bit-exact") {
    val streamed = EventStreams.runToCompletion(
      EventStreams.streamingValueAnomalies(spark, streamDir,
        minPrior = 5L, zThreshold = 2.0), "anom_test")
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = EventStreams.batchValueAnomalies(batchEvents,
      minPrior = 5L, zThreshold = 2.0)
      .as[(Long, Long, Long, Double)].collect().toSet
    // integer-cents state makes the two decision sequences identical —
    // EXACT doubles, no rounding slack needed
    assert(streamed.nonEmpty, "fixture should contain anomalies at z>=2")
    assert(streamed == batch)
  }

  test("stateful z-score anomalies: hand-built spike fires, history gates") {
    // user 1: ten flat-ish values (var > 0) then one wild spike; user 2:
    // too little history for any emission
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)
    val rows =
      (0 until 10).map(i =>
        (i.toLong, ts(i), 1L, "m", 10.0 + (i % 2), "{}")) ++ // 10.0/11.0 alternating
        Seq((10L, ts(10), 1L, "m", 500.0, "{}"),
          (20L, ts(0), 2L, "m", 1.0, "{}"), (21L, ts(1), 2L, "m", 99.0, "{}"))
    val d = Files.createTempDirectory("graft_anom_").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(d)
    val out = EventStreams.runToCompletion(
      EventStreams.streamingValueAnomalies(spark, d,
        minPrior = 10L, zThreshold = 3.0), "anom_hand")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // exactly the spike: mean=10.5 sd=0.5 → z=(50000c-1050c)/50c = 978.9
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((10L, 1L, 10L)))
    assert(math.abs(out.head._4 - (50000.0 - 1050.0) / 50.0) < 1e-9)
  }

  test("streaming ingestion lands in the partitioned lake via foreachBatch") {
    val lake = java.nio.file.Files.createTempDirectory("graft_slake_").toString
    // The date layout needs no row count, so each micro-batch is read once,
    // by its write: no persisted batch, no separate count action — record
    // every action and execution plan during the run and assert that.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val streamedWritePlans = try {
      val q = EventStreams.streamToLake(spark, streamDir, lake, "ev/main/events",
        hashId = "stream0")
      try q.processAllAvailable() finally q.stop()
      // the execution listener fires asynchronously — poll for the write
      // plan instead of racing a fixed sleep
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_._2.contains("WriteFiles")) &&
        System.nanoTime() < deadline) Thread.sleep(100)
      plans.asScala.toVector
    } finally spark.listenerManager.unregister(qel)
    val landed = spark.read.parquet(s"$lake/ev/main/events")
    assert(landed.count() == batchEvents.count())
    assert(landed.columns.contains("migration_executionhashid"))
    assert(landed.columns.toSet.intersect(Set("year", "month", "day")).size == 3)
    val dirs = new java.io.File(s"$lake/ev/main/events").list()
    assert(dirs.exists(_.startsWith("year=")), dirs.toSeq.toString)
    // restartability: offsets checkpoint landed next to the data
    val ckpt = new java.io.File(s"$lake/_checkpoints/ev/main/events/offsets")
    assert(ckpt.exists && ckpt.list().nonEmpty, "checkpoint offsets missing")
    val writes = streamedWritePlans.map(_._2).filter(_.contains("WriteFiles"))
    assert(writes.nonEmpty, "no write execution recorded")
    assert(!writes.exists(_.contains("InMemoryTableScan")),
      s"lake write read a persisted batch:\n${
        writes.find(_.contains("InMemoryTableScan")).getOrElse("").take(1500)}")
    assert(!streamedWritePlans.exists(_._1 == "count"),
      s"a micro-batch was counted: ${streamedWritePlans.map(_._1)}")
  }

  test("snapshot-lake streaming sink is exactly-once across kill/restart + zombie retry") {
    import graft.sinks.SnapshotLake
    val src = Files.createTempDirectory("graft_eo_src_").toString
    val table = Files.createTempDirectory("graft_eo_lake_").resolve("t").toString
    val half1 = batchEvents.where($"event_id" % 2 === 0)
    val half2 = batchEvents.where($"event_id" % 2 =!= 0)
    half1.write.mode("overwrite").parquet(src)
    // leg 1: run to completion, then STOP — the "kill" (offsets are
    // checkpointed; landed data is whatever manifests were published)
    val q1 = EventStreams.streamToSnapshotLake(spark, src, table, "ev")
    try q1.processAllAvailable() finally q1.stop()
    val afterLeg1 = SnapshotLake.read(spark, table).count()
    assert(afterLeg1 == half1.count(), "leg 1 must land exactly half1")
    // zombie retry of an already-committed batch (the post-crash re-run of
    // foreachBatch with the same batchId): must be a committed no-op —
    // version set and row count unchanged, even with different payload
    val vsBefore = SnapshotLake.versions(table)
    val dup = SnapshotLake.commitAppendIdempotent(half1, table,
      dedupKey = "stream=ev/batch=0")
    assert(vsBefore.contains(dup), "retry must return the original version")
    assert(SnapshotLake.versions(table) == vsBefore, "retry must not commit")
    assert(SnapshotLake.read(spark, table).count() == afterLeg1)
    // leg 2: more source data arrives, query restarts from the SAME
    // checkpoint — batches resume AFTER the committed offset
    half2.write.mode("append").parquet(src)
    val q2 = EventStreams.streamToSnapshotLake(spark, src, table, "ev")
    try q2.processAllAvailable() finally q2.stop()
    val finalDf = SnapshotLake.read(spark, table)
    assert(finalDf.count() == batchEvents.count(),
      "restart must deliver every row exactly once — none lost")
    assert(finalDf.select("event_id").distinct().count() == batchEvents.count(),
      "no event duplicated across the restart")
  }

  test("stream-maintained SCD2 dimension equals the batch recompute") {
    import graft.sinks.SnapshotLake
    import graft.operators.Scd2
    // CDC-log contract: batches arrive in event-time order. Stage three
    // ts-sliced files with ascending mod times; maxFilesPerTrigger=1 makes
    // each slice its own micro-batch.
    val src = Files.createTempDirectory("graft_scd2_src_")
    // slice into event-time thirds by global rank (ties broken on event_id,
    // matching the SCD2 tiebreak, so no key's events straddle out of order)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"ts", $"event_id")
    val ranked = batchEvents
      .withColumn("rn", row_number().over(w)).cache()
    val n = ranked.count()
    (0 until 3).foreach { k =>
      val lo = k * n / 3; val hi = (k + 1) * n / 3
      val slice = ranked.where($"rn" > lo && $"rn" <= hi).drop("rn")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      val tmp = Files.createTempDirectory(s"graft_scd2_sl$k" + "_").toString
      slice.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"slice$k.parquet")
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 300000L + k * 60000L))
    }
    val table = Files.createTempDirectory("graft_scd2_lake_")
      .resolve("dim").toString
    val q = EventStreams.streamScd2ToSnapshotLake(spark, src.toString, table,
      Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"),
      maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()
    // one overwrite commit per micro-batch, every state time-travelable
    assert(SnapshotLake.versions(table).size == 3)
    val streamed = SnapshotLake.read(spark, table).drop("n_events")
    val batch = Scd2.fromEvents(batchEvents, Seq("user_id"), "ts",
      Seq("event_id"), Seq("event_type")).drop("n_events")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-folded dimension diverged from batch recompute")
    ranked.unpersist()
  }

  test("streaming ANN index ingest: stream equals the sequential batch " +
      "loop, cross-batch dedup drops later near-copies") {
    import graft.operators.Similarity
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batchAll = emb.where(pmod($"vec_id", lit(5)) === 0)

    // no-dedup ingest: stream == plain union, every vector retrievable
    val p1 = Files.createTempDirectory("graft_ing1_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", p1,
      nLists = 16, kMeansIters = 1)
    val src = Files.createTempDirectory("graft_ingsrc_").resolve("b").toString
    // three deterministic micro-batches (one file each, maxFilesPerTrigger)
    (0 until 3).foreach { i =>
      batchAll.where(pmod($"vec_id" / 5, lit(3)) === i).coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val q = IndexIngest.streamAppendToIndex(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src),
      "vec_id", "embedding", p1,
      Files.createTempDirectory("graft_ingchk_").toString)
    try q.processAllAvailable() finally q.stop()
    val ids = spark.read.parquet(s"$p1/corpus")
      .select($"vec_id").as[Long].collect().toSet
    assert(ids == emb.select($"vec_id").as[Long].collect().toSet,
      "no-dedup stream ingest must index every batch vector")
    val top1 = Similarity.ivfBatchTopK(spark, p1, batchAll,
      "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false)
      .as[(Long, Long, Double)].collect()
    assert(top1.forall(_._3 == 1.0), "streamed vectors must self-retrieve")

    // dedup ingest: stream result == the SEQUENTIAL batch loop over the
    // same chunks (the differential that pins cross-batch dedup), and a
    // later batch's near-copy of an earlier accepted row is dropped
    def freshIndex(): String = {
      val p = Files.createTempDirectory("graft_ing2_").toString
      Similarity.ivfWrite(corpus, "vec_id", "embedding", p,
        nLists = 16, kMeansIters = 1)
      p
    }
    val chunks = (0 until 3).map(i =>
      batchAll.where(pmod($"vec_id" / 5, lit(3)) === i))
    val pStream = freshIndex()
    val q2 = IndexIngest.streamAppendToIndex(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src),
      "vec_id", "embedding", pStream,
      Files.createTempDirectory("graft_ingchk_").toString,
      dedupThreshold = Some(0.3))
    try q2.processAllAvailable() finally q2.stop()
    val pSeq = freshIndex()
    chunks.foreach(c => IndexIngest.appendBatch(c, "vec_id", "embedding",
      pSeq, Some(0.3)))
    def indexed(p: String): Set[Long] = spark.read.parquet(s"$p/corpus")
      .select($"vec_id").as[Long].collect().toSet
    assert(indexed(pStream) == indexed(pSeq),
      "stream ingest must equal the sequential batch loop")
    assert(indexed(pStream).size < ids.size,
      "threshold 0.3 must drop at least one near-dup on the fixtures")
  }

  test("ANN ingest auto-compaction bounds files-per-cell across many " +
      "micro-batches without changing the indexed content") {
    import graft.operators.Similarity
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batchAll = emb.where(pmod($"vec_id", lit(5)) === 0)
    val nBatches = 8
    val chunks = (0 until nBatches).map(i =>
      batchAll.where(pmod($"vec_id" / 5, lit(nBatches)) === i))
    def filesPerCell(p: String): Seq[Int] = {
      val root = new java.io.File(s"$p/corpus")
      root.listFiles().toSeq.filter(f => f.isDirectory &&
        f.getName.startsWith("cell=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet")))
    }
    def ingest(auto: Int): String = {
      val p = Files.createTempDirectory("graft_ingac_").toString
      Similarity.ivfWrite(corpus, "vec_id", "embedding", p,
        nLists = 4, kMeansIters = 1)
      chunks.foreach(c => IndexIngest.appendBatch(c, "vec_id", "embedding",
        p, dedupThreshold = None, autoCompactFilesPerCell = auto))
      p
    }
    // uncompacted control: files-per-cell grows with the batch count
    // (≥1 new file per touched cell per batch) — the unbounded-growth
    // failure mode the threshold exists to cap
    val pOff = ingest(auto = 0)
    assert(filesPerCell(pOff).max > 2,
      s"control must fragment: ${filesPerCell(pOff)}")
    // auto-compaction at 2: every batch-end sweep rewrites any cell > 2
    // files down to 1, so the final state is bounded regardless of nBatches
    val pOn = ingest(auto = 2)
    assert(filesPerCell(pOn).max <= 2,
      s"auto-compaction must bound files/cell: ${filesPerCell(pOn)}")
    def indexed(p: String): Set[Long] = spark.read.parquet(s"$p/corpus")
      .select($"vec_id").as[Long].collect().toSet
    assert(indexed(pOn) == indexed(pOff),
      "compaction must not change indexed content")
    // and the compacted layout still serves reads
    val top1 = Similarity.ivfBatchTopK(spark, pOn, batchAll,
      "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false)
      .as[(Long, Long, Double)].collect()
    assert(top1.forall(_._3 == 1.0))
  }

  test("ANN ingest recovers an interrupted compact BEFORE the dedup gate " +
      "reads the index: a replayed near-dup batch is dropped, not " +
      "re-indexed against the trashed (reader-invisible) cell") {
    import graft.operators.Similarity
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val p = Files.createTempDirectory("graft_ingrec_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", p,
      nLists = 4, kMeansIters = 1)
    val corpusIds = corpus.select($"vec_id").as[Long].collect().toSet
    // simulate a compact that died between live→trash and staged→live:
    // one cell's only copies sit in the reader-invisible trash
    val cellDir = new java.io.File(s"$p/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).maxBy(_.listFiles().length)
    val cellIds = spark.read.parquet(cellDir.toString)
      .select($"vec_id").as[Long].collect().toSet
    assert(cellIds.nonEmpty)
    val trashRoot = new java.io.File(s"$p/corpus/.compact-trash")
    trashRoot.mkdirs()
    java.nio.file.Files.writeString(
      trashRoot.toPath.resolve("_RUNID"), "crashed-run")
    assert(cellDir.renameTo(new java.io.File(trashRoot, cellDir.getName)))
    // the replayed batch: EXACT copies (same embeddings, new ids) of the
    // trashed cell's vectors — the rows the gate exists to drop
    val batch = emb.where($"vec_id".isin(cellIds.toSeq: _*))
      .withColumn("vec_id", $"vec_id" + 5000000L)
    IndexIngest.appendBatch(batch, "vec_id", "embedding", p,
      dedupThreshold = Some(0.99))
    val indexed = spark.read.parquet(s"$p/corpus")
      .select($"vec_id").as[Long].collect().toSet
    assert(indexed == corpusIds,
      "recovery must restore the trashed cell before the gate reads the " +
        s"index, so every replayed near-copy drops; got ${indexed.size} " +
        s"vs ${corpusIds.size}")
    assert(!trashRoot.exists(), "trash cleaned by the pre-gate recovery")
  }

  test("exactly-once ANN ingest preserves payload layouts: filtered " +
      "reads see ingested rows, payload-less batches fail loud") {
    import graft.operators.Similarity
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batch = emb.where(pmod($"vec_id", lit(5)) === 0 && $"label" <= 3)
    val path = Files.createTempDirectory("graft_eop_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1, payloadCols = Seq("label"))
    val lake = Files.createTempDirectory("graft_eoplk_")
      .resolve("ann").toString
    // a batch without the layout's metadata would sync NULL-payload rows
    // every filtered read silently skips — rejected before the commit
    intercept[IllegalArgumentException] {
      IndexIngest.appendBatchExactlyOnce(batch.drop("label"), "vec_id",
        "embedding", path, lake, 0L)
    }
    IndexIngest.appendBatchExactlyOnce(batch, "vec_id", "embedding",
      path, lake, 1L)
    // ingested rows self-retrieve THROUGH the filter they satisfy
    val got = Similarity.ivfBatchTopK(spark, path, batch,
      "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false,
      filter = Some($"label" <= 3)).as[(Long, Long, Double)].collect()
    assert(got.length == batch.count())
    assert(got.forall { case (q, id, cos) => q == id && cos == 1.0 })
  }

  test("exactly-once ANN ingest: forced replays at every crash window " +
      "leave no duplicate ids in the layout") {
    import graft.operators.Similarity
    import graft.sinks.SnapshotLake
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batchAll = emb.where(pmod($"vec_id", lit(5)) === 0)
    val path = Files.createTempDirectory("graft_eo1_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1)
    val lake = Files.createTempDirectory("graft_eo1lk_")
      .resolve("ann").toString
    val chunks = (0 until 3).map(i =>
      batchAll.where(pmod($"vec_id" / 5, lit(3)) === i))
    def layoutIds: Seq[Long] = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().toSeq

    // window 1 — crash AFTER sync, before the checkpoint advance: the
    // whole batch replays (the foreachBatch zombie) — lake commit is a
    // keyed no-op, sync sees its marker
    IndexIngest.appendBatchExactlyOnce(chunks(0), "vec_id", "embedding",
      path, lake, 0L)
    val afterB0 = layoutIds
    IndexIngest.appendBatchExactlyOnce(chunks(0), "vec_id", "embedding",
      path, lake, 0L)
    assert(layoutIds.sorted == afterB0.sorted,
      "full-batch replay must be a no-op")

    // window 2 — crash BETWEEN the lake commit and the layout sync: the
    // commit landed, nothing published; the replay must publish exactly
    // once (its own commit attempt is the keyed no-op)
    val (assigned1, _) = Similarity.assignToLayout(chunks(1), "vec_id",
      "embedding", path)
    SnapshotLake.commitAppendIdempotent(assigned1.repartition($"cell"),
      lake, "ann-ingest-1")
    IndexIngest.appendBatchExactlyOnce(chunks(1), "vec_id", "embedding",
      path, lake, 1L)

    // window 3 — crash MID-SYNC: publishes landed but the version marker
    // did not; the replay re-enters the sync and must skip every
    // already-published cell (exist-checked deterministic names)
    IndexIngest.appendBatchExactlyOnce(chunks(2), "vec_id", "embedding",
      path, lake, 2L)
    val vMax = SnapshotLake.versions(lake).max
    val marker = new java.io.File(s"$path/corpus/.ingested/v$vMax")
    assert(marker.exists(), "sync must write the version marker")
    assert(marker.delete())
    IndexIngest.appendBatchExactlyOnce(chunks(2), "vec_id", "embedding",
      path, lake, 2L)

    val all = layoutIds
    assert(all.size == all.distinct.size,
      s"layout must hold no duplicate ids (${all.size} vs ${all.distinct.size})")
    assert(all.toSet == emb.select($"vec_id").as[Long].collect().toSet,
      "layout must hold corpus + every ingested batch exactly once")
    // and the published files are first-class to the read path
    val top1 = Similarity.ivfBatchTopK(spark, path, batchAll,
      "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false)
      .as[(Long, Long, Double)].collect()
    assert(top1.forall(_._3 == 1.0),
      "ingested vectors must self-retrieve through the standard read")

    // stream-level kill/restart leg (the lake-sink test's pattern): leg 1
    // ingests half the stream, leg 2 restarts from the SAME checkpoint
    val path2 = Files.createTempDirectory("graft_eo2_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path2,
      nLists = 16, kMeansIters = 1)
    val lake2 = Files.createTempDirectory("graft_eo2lk_")
      .resolve("ann").toString
    val src = Files.createTempDirectory("graft_eo2src_").resolve("b").toString
    val chk = Files.createTempDirectory("graft_eo2chk_").toString
    chunks(0).coalesce(1).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runLeg(): Unit = {
      val q = IndexIngest.streamAppendToIndexExactlyOnce(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src),
        "vec_id", "embedding", path2, lake2, chk)
      try q.processAllAvailable() finally q.stop()
    }
    runLeg() // leg 1, then "kill"
    chunks(1).coalesce(1).write.mode("append").parquet(src)
    chunks(2).coalesce(1).write.mode("append").parquet(src)
    runLeg() // leg 2: restart from the same checkpoint
    val all2 = spark.read.parquet(s"$path2/corpus")
      .select($"vec_id").as[Long].collect().toSeq
    assert(all2.size == all2.distinct.size,
      "no id duplicated across the restart")
    assert(all2.toSet == emb.select($"vec_id").as[Long].collect().toSet,
      "restart must deliver every batch exactly once — none lost")

    // FAST-PATH WITNESS (r14): the sync must publish committed files by
    // link/copy (ingest-v<v>-<k>.parquet), not silently fall back to the
    // legacy re-stage job (ingest-v<v>.parquet) — a regression here is a
    // 2.5 s/batch cost that nothing else would catch until a bench run.
    // The lake's staged files must carry the cell-aligned partition dirs
    // the fast path keys on.
    val published = Files.walk(java.nio.file.Paths.get(path2, "corpus"))
    val names = try {
      import scala.jdk.CollectionConverters._
      published.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("ingest-v")).toSeq
    } finally published.close()
    assert(names.nonEmpty, "no published ingest files found in the layout")
    assert(names.forall(_.matches("ingest-v\\d+-\\d+\\.parquet")),
      s"legacy re-stage naming detected — the sync fast path regressed: " +
        s"${names.take(5)}")
    val lakeFiles = graft.sinks.SnapshotLake.manifestFiles(lake2,
      graft.sinks.SnapshotLake.versions(lake2).max)
    assert(lakeFiles.nonEmpty && lakeFiles.forall(_.contains("__pc_cell=")),
      s"lake commits are not cell-aligned: ${lakeFiles.take(3)}")
    // the window-2 manual commit above used the LEGACY (flat, cell-in-
    // content) shape — its published file proves the fallback still works
    val legacyNames = {
      val w = Files.walk(java.nio.file.Paths.get(path, "corpus"))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("ingest-v\\d+\\.parquet")).toSeq
      } finally w.close()
    }
    assert(legacyNames.nonEmpty,
      "the legacy-shape version must have published via the re-stage path")
  }

  test("ingest marker vacuum bounds .ingested growth in step with the " +
      "lake's retention, and replay safety survives the vacuum") {
    import graft.operators.Similarity
    import graft.sinks.SnapshotLake
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batchAll = emb.where(pmod($"vec_id", lit(5)) === 0)
    val path = Files.createTempDirectory("graft_eovac_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 4, kMeansIters = 1)
    val lake = Files.createTempDirectory("graft_eovaclk_")
      .resolve("ann").toString
    val nBatches = 6
    val chunks = (0 until nBatches).map(i =>
      batchAll.where(pmod($"vec_id" / 5, lit(nBatches)) === i))
    chunks.zipWithIndex.foreach { case (c, i) =>
      IndexIngest.appendBatchExactlyOnce(c, "vec_id", "embedding",
        path, lake, i.toLong)
    }
    def markerCount: Int = {
      // count only the v<N> markers (the local Hadoop FS also writes
      // .crc checksum siblings into the dir)
      val d = new java.io.File(s"$path/corpus/.ingested")
      if (d.exists()) d.listFiles().count(f =>
        f.getName.startsWith("v") && f.getName.drop(1).forall(_.isDigit))
      else 0
    }
    // O(batches) growth — the unbounded-state failure mode item 3 names
    assert(markerCount == nBatches, s"one marker per synced version")
    // with the lake's FULL history retained, every marker is still
    // load-bearing (a replayed sync could iterate any version) → no-op
    assert(IndexIngest.vacuumIngestMarkers(spark, path, lake) == 0)
    assert(markerCount == nBatches)
    // lake retention drops to 2 versions → exactly the markers older than
    // the oldest retained version become dead state
    SnapshotLake.vacuum(lake, retainVersions = 2, minAgeMs = 0)
    assert(IndexIngest.vacuumIngestMarkers(spark, path, lake)
      == nBatches - 2)
    assert(markerCount == 2, "markers bounded by the lake's retention")
    def layoutIds: Seq[Long] = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().toSeq
    val before = layoutIds
    // replay-safety twin: the foreachBatch zombie of the LAST batch —
    // keyed lake commit is a no-op, sync sees its (retained) marker
    IndexIngest.appendBatchExactlyOnce(chunks.last, "vec_id", "embedding",
      path, lake, (nBatches - 1).toLong)
    assert(layoutIds.sorted == before.sorted,
      "zombie replay after the vacuum must be a no-op")
    // and the loop keeps running: a NEW batch lands exactly once
    // orderBy before limit: an unordered limit may pick DIFFERENT rows on
    // re-evaluation (this frame is acted on twice — append, then the
    // final assertion's collect), making the exactly-once check flaky
    val extra = emb.where(pmod($"vec_id", lit(5)) =!= 0)
      .orderBy($"vec_id").limit(3)
      .withColumn("vec_id", $"vec_id" + 7000000L)
    IndexIngest.appendBatchExactlyOnce(extra, "vec_id", "embedding",
      path, lake, nBatches.toLong)
    val all = layoutIds
    assert(all.size == all.distinct.size, "no duplicates after vacuum")
    assert(all.toSet == before.toSet ++
      extra.select($"vec_id").as[Long].collect(),
      "post-vacuum batch must land exactly once")
    assert(markerCount == 3, "vacuumed markers must not regrow")
    // foreign files in the marker dir must be IGNORED, not crash the
    // maintenance call (r12 review: a bare "v" passed the digit guard
    // vacuously and "".toLong threw; >19 digits overflowed)
    val strayV = new java.io.File(s"$path/corpus/.ingested/v")
    val strayBig = new java.io.File(
      s"$path/corpus/.ingested/v99999999999999999999")
    assert(strayV.createNewFile() && strayBig.createNewFile())
    SnapshotLake.vacuum(lake, retainVersions = 2, minAgeMs = 0)
    // exactly the one genuinely-dead marker goes; the foreign files stay
    assert(IndexIngest.vacuumIngestMarkers(spark, path, lake) == 1)
    assert(strayV.exists() && strayBig.exists(),
      "foreign marker-dir files must survive the vacuum untouched")
  }

  test("ANN ingest gate also dedups WITHIN a micro-batch (same-batch " +
      "near-copies: smaller id kept, larger dropped)") {
    import graft.operators.Similarity
    import graft.streaming.IndexIngest
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val p = Files.createTempDirectory("graft_ing3_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", p,
      nLists = 16, kMeansIters = 1)
    // one batch carrying two IDENTICAL novel vectors: neither has an
    // indexed neighbor, so only the intra-batch stage can catch the pair
    val v = emb.where(pmod($"vec_id", lit(5)) === 0).limit(1)
      .select($"embedding").as[Array[Float]].head()
    val batch = Seq((900001L, v), (900002L, v)).toDF("vec_id", "embedding")
    IndexIngest.appendBatch(batch, "vec_id", "embedding", p, Some(0.99))
    val indexed = spark.read.parquet(s"$p/corpus")
      .where($"vec_id" >= 900000L).select($"vec_id").as[Long].collect().toSet
    assert(indexed == Set(900001L),
      s"same-batch near-copy must drop the larger id: $indexed")
  }

  test("streaming perceptual dedup converges to the batch grouping") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val media = Multimodal.pngDupTableFromDocuments(spark, docs, nDistinct = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft_smm_").toString
    media.write.mode("overwrite").parquet(dir)
    val streamed = graft.streaming.EventStreams.runToCompletion(
      graft.streaming.EventStreams.streamingPerceptualDedup(spark, dir),
      s"smm_${System.nanoTime()}",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = Multimodal.perceptualImageDedup(spark, media)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
  }

  test("AvailableNow drains a maxFilesPerTrigger=1 source one file per " +
      "micro-batch, and the drain stops nothing") {
    import graft.streaming.IndexIngest
    import graft.operators.Similarity
    import graft.sinks.SnapshotLake
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = Files.createTempDirectory("graft_avn_").toString
    Similarity.ivfWrite(emb.where(pmod($"vec_id", lit(5)) =!= 0),
      "vec_id", "embedding", path, nLists = 4, kMeansIters = 1)
    val lake = Files.createTempDirectory("graft_avnlk_").resolve("ann").toString
    val src = Files.createTempDirectory("graft_avnsrc_").resolve("b").toString
    val batch = emb.where(pmod($"vec_id", lit(5)) === 0)
    (0 until 3).foreach { i =>
      batch.where(pmod($"vec_id" / 5, lit(3)) === i).coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
    }
    val q = IndexIngest.streamAppendToIndexExactlyOnce(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "vec_id", "embedding", path, lake,
      Files.createTempDirectory("graft_avnck_").toString)
    EventStreams.awaitDrained(q)
    assert(!q.isActive && q.exception.isEmpty)
    assert(q.recentProgress.map(_.batchId).toSeq == Seq(0L, 1L, 2L))
    // batch 2 committed under its own key: a zombie replay of it is a no-op
    assert((0 to 2).forall(b =>
      SnapshotLake.dedupVersion(lake, s"ann-ingest-$b").nonEmpty))
    assert(spark.read.parquet(s"$path/corpus").count() == emb.count())
  }
}
