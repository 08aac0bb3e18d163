package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming-shaped surface over the `events` table (SURVEY.md §2.7: absent
  * from the reference, mandated by the north star). The same event-time
  * logic is exposed twice: batch (`DataFrame` in, used by SparkEntry's
  * oracle-checked queries) and Structured Streaming (`readStream` in,
  * watermark + windowed state), so correctness is proven on the batch form
  * and the streaming form is asserted equivalent in StreamingSpec.
  *
  * Scale notes: tumbling-window counts are a streaming shuffle keyed on
  * (window, event_type) with partial aggregation map-side; watermark bounds
  * state. At 100 TB/day the same topology holds — state size is
  * O(windows × types), not O(events).
  */
object EventStreams {

  /** Schema of the events table as the streaming reader needs it (ts already
    * normalized to micros — see TableCatalog.load). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Batch form: tumbling 1-hour event-time windows per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming form of [[tumblingCounts]] with a watermark for late data.
    * Append mode: a window emits once its watermark passes — the standard
    * late-data contract.
    */
  def streamingTumblingCounts(spark: SparkSession, sourceDir: String,
      watermark: String = "2 hours"): DataFrame = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Wait for a query started with `Trigger.AvailableNow` to process what
    * its source held at start and end by itself. A query that ended is not
    * stopped: its thread can still be finishing, and `stop()` on a live
    * thread cancels the query's job group, which logs "Failed to cancel
    * job group" twice when no job is running. A wait that is interrupted
    * still stops the query. */
  def awaitDrained(q: StreamingQuery): Unit =
    try q.awaitTermination() finally if (q.isActive) q.stop()

  /** Run a streaming DataFrame to completion against a finite source and
    * return the materialized result (memory sink). Test/driver harness for
    * the streaming path. The query checkpoints into a directory of its
    * own, deleted once the query ends; the result lives in the memory sink.
    */
  def runToCompletion(df: DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_rtc_")
    try {
      val q: StreamingQuery = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    } finally {
      val w = java.nio.file.Files.walk(checkpoint)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
    df.sparkSession.table(queryName)
  }

  /** Streaming deduplication + tumbling aggregate: at-least-once sources
    * (replayed files, retried producers) deliver duplicate events;
    * `dropDuplicatesWithinWatermark` keys state by event_id and the
    * watermark bounds how long each key is remembered — state is
    * O(events within the watermark horizon), the streaming-dedup contract
    * a 100 TB/day ingest needs (an unbounded dropDuplicates would OOM).
    */
  def streamingDedupedTumblingCounts(spark: SparkSession, sourceDir: String,
      watermark: String = "2 hours"): DataFrame = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Stream–static enrichment: each micro-batch joins the event stream
    * against a static dimension (broadcast — stateless, no stream-side
    * state), then aggregates per segment. The standard shape for enriching
    * a 100 TB/day event firehose with slowly-changing reference data: the
    * dimension rebroadcasts per batch, so a catalog refresh is picked up
    * without restarting the query.
    */
  def streamingEnrichedSegmentCounts(spark: SparkSession, sourceDir: String,
      customers: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.withWatermark("ts", watermark)
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("win"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))
  }

  /** Stream–stream interval join: views joined to purchases by the same
    * user within [view_ts, view_ts + maxGap]. Both sides carry watermarks
    * and the join condition bounds event time on both, so each side's
    * buffered state is evictable once the other side's watermark passes —
    * the state-bounding contract that makes a stream–stream join runnable
    * forever at 100 TB/day (an unbounded-condition join would buffer both
    * streams whole). Inner join ⇒ matches emit as found.
    */
  def streamingViewPurchaseJoin(spark: SparkSession, sourceDir: String,
      watermark: String = "2 hours", maxGapHours: Int = 1): DataFrame = {
    val views = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $maxGapHours HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** LEFT OUTER stream–stream interval join: like
    * [[streamingViewPurchaseJoin]], but views with NO purchase in their
    * window also emit — with null purchase columns, ONCE the watermark
    * passes the view's join window (the only moment "no match" becomes a
    * fact rather than a not-yet; this is why outer stream joins REQUIRE
    * both watermarks and a time-bounded condition — the engine refuses
    * them otherwise, because an unmatched row would wait forever).
    *
    * State bounds are the inner join's; the extra semantics are emission
    * timing only. Callers draining a FINITE source must flush the tail:
    * unmatched views inside the final watermark horizon never emit
    * (their no-match fact is never established). The gate query appends
    * far-future sentinel rows on BOTH sides (global watermark = min over
    * the two) so every real view's window closes — the same tail-cut
    * discipline as the windowed-aggregate gates, made total.
    */
  def streamingViewPurchaseLeftJoin(spark: SparkSession, sourceDir: String,
      watermark: String = "2 hours", maxGapHours: Int = 1): DataFrame = {
    val views = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $maxGapHours HOUR"),
      "leftOuter")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** FULL OUTER stream–stream interval join: unmatched rows on BOTH sides
    * emit null-padded once the watermark closes their window — views with
    * no purchase AND purchases with no preceding view. Same state bounds
    * and finite-source flush discipline as
    * [[streamingViewPurchaseLeftJoin]] (sentinels on both sides close both
    * tails; the purchase side's no-match fact needs the VIEW watermark to
    * pass `purchase_ts`, symmetric to the view side). The emitted `user_id`
    * coalesces the two key columns so both unmatched shapes carry their
    * key.
    */
  def streamingViewPurchaseFullJoin(spark: SparkSession, sourceDir: String,
      watermark: String = "2 hours", maxGapHours: Int = 1): DataFrame = {
    val views = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $maxGapHours HOUR"),
      "fullOuter")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("view_id"), col("purchase_id"), col("view_ts"),
        col("purchase_ts"))
  }

  /** Stateful sessionization via flatMapGroupsWithState-equivalent batch
    * logic lives in SparkEntry ("ev_sessionize"); the streaming variant uses
    * session_window — Spark's native gap-based session operator.
    */
  def streamingSessionCounts(spark: SparkSession, sourceDir: String,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
  }

  /** Batch equivalent of [[streamingSessionCounts]] for differential tests:
    * session_window works in batch mode too.
    */
  def batchSessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Custom streaming state (§2.7 / spark_guide.md): per-user running
    * counters maintained with flatMapGroupsWithState — the API for state
    * machines the built-in windows can't express. Emits one updated summary
    * row per user per micro-batch; state is O(users).
    */
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double,
      last_ts: java.sql.Timestamp)

  def statefulUserStats(spark: SparkSession, sourceDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .selectExpr("user_id", "value", "CAST(ts AS TIMESTAMP) AS ts")
      .as[(Long, Double, java.sql.Timestamp)]
    def update(userId: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
        state: GroupState[UserStat]): Iterator[UserStat] = {
      val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0,
        new java.sql.Timestamp(0L)))
      val next = rows.foldLeft(prev) { case (acc, (_, v, ts)) =>
        UserStat(userId, acc.n_events + 1, acc.total_value + v,
          if (ts.after(acc.last_ts)) ts else acc.last_ts)
      }
      state.update(next)
      Iterator.single(next)
    }
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Batch equivalent of [[statefulUserStats]]'s final state. */
  def batchUserStats(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"),
        max(col("ts").cast("timestamp")).as("last_ts"))

  /** State for [[statefulDecayedCounters]]: the fixed-point decayed
    * counter of the batch `ev_decay` gate, as a streaming fold. Reference
    * point is the USER's newest event day (a stream can't know the global
    * head until it ends); weights are 2^(50−k) BIGINTs in absolute
    * day-bucket space, so the two-state merge
    * `(d1,s1) ⊕ (d2,s2) = (max(d1,d2), s1 >> (dm−d1) + s2 >> (dm−d2))`
    * is associative, commutative, and EXACT while every event sits within
    * 50 half-lives of its user's newest (the bits never cross 2^0, so
    * shift-of-sum equals sum-of-shifts) — the final state is bit-identical
    * to the batch formula regardless of micro-batch slicing or arrival
    * order. Events older than 50 half-lives decay to exactly 0 in both
    * formulations only when they are already 50 behind at merge time;
    * corpora spanning more than 50 half-lives should lower the scale or
    * accept the documented boundary truncation.
    */
  final case class DecayState(user_id: Long, day_max: Long,
      decay_scaled: Long, n_events: Long)

  def statefulDecayedCounters(spark: SparkSession, sourceDir: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .selectExpr("user_id",
        "unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400 AS d")
      .as[(Long, Long)]
    def shifted(s: Long, by: Long): Long =
      if (by >= 51) 0L else s >> by
    def update(userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[DecayState]): Iterator[DecayState] = {
      val prev = state.getOption.getOrElse(
        DecayState(userId, Long.MinValue, 0L, 0L))
      val next = rows.foldLeft(prev) { case (acc, (_, d)) =>
        if (acc.n_events == 0L)
          DecayState(userId, d, 1L << 50, 1L)
        else if (d <= acc.day_max)
          DecayState(userId, acc.day_max,
            acc.decay_scaled + shifted(1L << 50, acc.day_max - d),
            acc.n_events + 1)
        else
          DecayState(userId, d,
            shifted(acc.decay_scaled, d - acc.day_max) + (1L << 50),
            acc.n_events + 1)
      }
      state.update(next)
      Iterator.single(next)
    }
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Batch equivalent of [[statefulDecayedCounters]]'s final state. */
  def batchDecayedCounters(events: DataFrame): DataFrame = {
    val d = expr("unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400")
    val dm = max(d).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")))
    events.select(col("user_id"), d.as("d"), dm.as("dm"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("dm") - col("d") <= 50,
          pow(lit(2.0), (lit(50L) - (col("dm") - col("d"))).cast("double"))
            .cast("long")).otherwise(lit(0L))).as("decay_scaled"),
        count(lit(1)).as("n_events"))
  }

  /** Per-event state for [[streamingValueAnomalies]]: exact integer prefix
    * moments in cents space. Integer state is the determinism trick — mean
    * and variance derive from exact longs at decision time, so the emitted
    * z-scores are bit-identical regardless of which engine (or which
    * micro-batch boundary) computed them.
    */
  final case class AnomalyState(n: Long, sum: Long, sumsq: Long)
  final case class Anomaly(event_id: Long, user_id: Long, n_prior: Long,
      z: Double)

  /** Streaming per-user z-score anomaly detection — the stateful "alert on
    * a value wildly off this user's own history" monitor. For each event,
    * the z-score of its value against the user's PRIOR events (ts,
    * event_id order); emitted iff the user has ≥ `minPrior` history, the
    * prior variance is positive, and |z| ≥ `zThreshold`.
    *
    * State is three longs per user (count / Σv / Σv² in cents) —
    * O(users), unbounded history NOT retained: exactly what
    * flatMapGroupsWithState is for, inexpressible with built-in windows
    * (the aggregate both gates the event and excludes it). Values are
    * fixed-pointed to cents so prefix sums are EXACT integers: the
    * detector's decisions don't depend on float summation order, which is
    * what makes a batch-engine oracle replay (and a micro-batch-boundary
    * reshuffle) bit-identical. Within a micro-batch, events are processed
    * in (ts, event_id) order; across batches the file source's arrival
    * order is the time order (the production ingest contract for any
    * sequential detector).
    */
  def streamingValueAnomalies(spark: SparkSession, sourceDir: String,
      minPrior: Long = 10L, zThreshold: Double = 3.0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
    def update(userId: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
        state: GroupState[AnomalyState]): Iterator[Anomaly] = {
      var st = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L))
      val out = Seq.newBuilder[Anomaly]
      rows.toSeq.sortBy(r => (r._3.getTime, r._1)).foreach {
        case (eid, _, _, vc) =>
          if (st.n >= minPrior) {
            val mean = st.sum.toDouble / st.n
            val varr = st.sumsq.toDouble / st.n - mean * mean
            if (varr > 0) {
              val z = (vc - mean) / math.sqrt(varr)
              if (math.abs(z) >= zThreshold)
                out += Anomaly(eid, userId, st.n, z)
            }
          }
          st = AnomalyState(st.n + 1, st.sum + vc, st.sumsq + vc * vc)
      }
      state.update(st)
      out.result().iterator
    }
    in.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Batch replay of [[streamingValueAnomalies]]: the identical decision
    * sequence via prefix-window aggregates over exact cents — used as the
    * oracle side of the batch ≡ stream differential.
    */
  def batchValueAnomalies(events: DataFrame, minPrior: Long = 10L,
      zThreshold: Double = 3.0): DataFrame = {
    val pre = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").cast("timestamp"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val v = events.select(col("event_id"), col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      round(col("value") * 100, 0).cast("long").as("vc"))
    val w = v.select(col("event_id"), col("user_id"), col("vc"),
      count(lit(1)).over(pre).as("n"),
      sum(col("vc")).over(pre).as("s"),
      sum(col("vc") * col("vc")).over(pre).as("ss"))
      .where(col("n") >= minPrior)
    val mean = col("s").cast("double") / col("n")
    val varr = col("ss").cast("double") / col("n") - mean * mean
    w.select(col("event_id"), col("user_id"), col("n").as("n_prior"),
        ((col("vc") - mean) / sqrt(varr)).as("z"), varr.as("v2"))
      .where(col("v2") > 0 && abs(col("z")) >= zThreshold)
      .drop("v2")
  }

  /** Streaming ingestion into the date-partitioned lake: readStream →
    * transform chain (audit columns + date parts) → foreachBatch →
    * LakeWriter. Each micro-batch appends through the same sink the batch
    * engine uses, so layout, audit columns, and catalog behavior are
    * identical between batch backfill and streaming tail — the
    * lambda-architecture-without-two-codebases shape.
    */
  def streamToLake(spark: SparkSession, sourceDir: String, lakeBase: String,
      pathSuffix: String, hashId: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.operators.Transforms
    import graft.sinks.{LakeWriter, WriteMode}
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.writeStream
      // Exactly-once restart contract: offsets + sink commits live next to
      // the landed data unless the caller supplies a location.
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$lakeBase/_checkpoints/$pathSuffix"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The date layout needs no row count, so the micro-batch is read
        // once, by the write.
        val loadTs = java.sql.Timestamp.from(java.time.Instant.now)
        val cleaned = Transforms.pipeline(hashId, loadTs)(batch)
        LakeWriter.writeCounted(cleaned, lakeBase, pathSuffix, Some("ts"),
          WriteMode.Append)
        ()
      }
      .start()
  }

  /** Streaming ingestion with EXACTLY-ONCE lake contents: readStream →
    * foreachBatch → [[graft.sinks.SnapshotLake.commitAppendIdempotent]],
    * keyed on the micro-batch id. foreachBatch is at-least-once (a batch
    * re-runs after crash/restart with the same batchId), so the sink makes
    * the commit idempotent instead: a retried batch that finds
    * `stream=<name>/batch=<id>` already in a manifest header commits
    * nothing, a batch whose writer died before publish left only
    * unreferenced staged files (vacuumed later), and readers see each batch
    * exactly once via atomic manifest publication — the Delta
    * txnAppId/txnVersion contract on the no-extra-jars lake.
    */
  def streamToSnapshotLake(spark: SparkSession, sourceDir: String,
      table: String, streamName: String = "events",
      store: graft.sinks.CommitStore = graft.sinks.PosixLinkCommitStore,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.writeStream
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$table/_checkpoints/$streamName"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.SnapshotLake.commitAppendIdempotent(batch, table,
          dedupKey = s"stream=$streamName/batch=$batchId", store)
        ()
      }
      .start()
  }

  /** Streaming ingest + serving-layer maintenance in one path: each
    * micro-batch lands as an idempotent fact append and immediately folds
    * into the delta-maintained aggregate
    * ([[graft.operators.IncrementalAgg.refresh]]) — the lambda-architecture
    * collapse: no separate batch re-aggregation job, O(batch) work per
    * trigger, and exactly-once END TO END. Crash between append and fold:
    * the replayed batch dedups to its already-committed fact version and
    * the fold picks up the not-yet-folded delta. Crash after the fold:
    * the replayed append dedups, the fold sees its high-water mark already
    * at head and no-ops. Either way the aggregate converges on the batch
    * recompute. */
  def streamToAggregatedLake(spark: SparkSession, sourceDir: String,
      factTable: String, aggTable: String, groupCols: Seq[String],
      valueCol: String, streamName: String = "events",
      store: graft.sinks.CommitStore = graft.sinks.PosixLinkCommitStore,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val in = spark.readStream.schema(eventSchema).parquet(sourceDir)
    in.writeStream
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$factTable/_checkpoints/$streamName"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.SnapshotLake.commitAppendIdempotent(batch, factTable,
          dedupKey = s"stream=$streamName/batch=$batchId", store)
        graft.operators.IncrementalAgg.refresh(batch.sparkSession,
          factTable, aggTable, groupCols, valueCol, store)
        ()
      }
      .start()
  }

  /** CDC-log → SCD2 dimension maintenance: each micro-batch of change
    * events folds into a snapshot-lake SCD2 table via
    * [[graft.operators.Scd2.applyChanges]] and lands as ONE idempotent
    * overwrite commit keyed on the batchId — a crash/restart replays the
    * batch and converges on its already-committed version (no
    * double-apply), and every intermediate dimension state stays
    * time-travelable.
    *
    * Contract: batches must arrive in event-time order per key — the CDC
    * log shape (a change log IS ordered; replay preserves order). Late
    * events that predate a key's open interval are the upstream log's
    * problem, exactly as in Delta/Debezium SCD pipelines.
    */
  def streamScd2ToSnapshotLake(spark: SparkSession, sourceDir: String,
      table: String, keyCols: Seq[String], tsCol: String,
      tieBreak: Seq[String], stateCols: Seq[String],
      streamName: String = "scd2",
      store: graft.sinks.CommitStore = graft.sinks.PosixLinkCommitStore,
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.sinks.SnapshotLake
    import graft.operators.Scd2
    val reader = spark.readStream.schema(eventSchema)
    val in = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    in.writeStream
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$table/_checkpoints/$streamName"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val key = s"scd2=$streamName/batch=$batchId"
        if (!batch.isEmpty &&
          SnapshotLake.dedupVersion(table, key, store).isEmpty) {
          val next =
            if (SnapshotLake.versions(table, store).isEmpty)
              Scd2.fromEvents(batch, keyCols, tsCol, tieBreak, stateCols)
            else Scd2.applyChanges(
              SnapshotLake.read(spark, table, None, store),
              batch, keyCols, tsCol, tieBreak, stateCols)
          SnapshotLake.commitOverwriteIdempotent(
            next.coalesce(1), table, key, store)
        }
        ()
      }
      .start()
  }

  /** Streaming perceptual image dedup: a media stream (binary blobs) is
    * fingerprinted map-side per micro-batch (REAL `javax.imageio` decode
    * inside the typed mapPartitions — the same per-partition iterator the
    * batch path uses) and grouped on the 64-bit dHash in Complete mode, so
    * the converged table equals [[graft.operators.Multimodal
    * .perceptualImageDedup]] on the same corpus. Aggregation state is
    * O(distinct fingerprints) — the dedup registry a multimodal ingest
    * keeps anyway; an append-mode variant would swap the group for
    * dropDuplicatesWithinWatermark on the hash. */
  def streamingPerceptualDedup(spark: SparkSession,
      sourceDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.schema(graft.operators.Multimodal.mediaSchema)
      .parquet(sourceDir)
      .select(col("media_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        graft.operators.Multimodal.dHash(bytes).map(h => (id, h)) })
      .toDF("media_id", "dhash")
      .groupBy("dhash")
      .agg(count(lit(1)).as("n_dups"), min(col("media_id")).as("keeper"))
  }

  /** Streaming VIDEO fingerprinting — the sequence composition of
    * [[streamingPerceptualDedup]]: each micro-batch splits the
    * length-prefixed frame container map-side (REAL per-frame PNG decode
    * + dHash in the typed mapPartitions) and the Complete-mode group
    * maintains each video's frame-fingerprint MULTISET statistics
    * (count / min / max / bit_xor — distinct aggregates are unsupported
    * in streaming, and these four are order-insensitive, merge-correct
    * under incremental state AND integer-exact to replay, so the
    * converged table equals the batch computation bit-for-bit and the
    * oracle can recompute it from the fixture's pixel formula). The
    * banded near-dup mine itself stays a batch job over the maintained
    * fingerprints ([[graft.operators.Multimodal.videoNearDupPairsFromHashes]])
    * — the standard streaming-ingest / batch-mine split. */
  def streamingVideoFingerprint(spark: SparkSession,
      sourceDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.schema(graft.operators.Multimodal.mediaSchema)
      .parquet(sourceDir)
      .select(col("media_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        graft.operators.Multimodal.splitFrames(bytes)
          .flatMap(graft.operators.Multimodal.dHash).map(h => (id, h)) })
      .toDF("media_id", "fhash")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        min(col("fhash")).as("fhash_min"),
        max(col("fhash")).as("fhash_max"),
        expr("bit_xor(fhash)").as("fhash_xor"))
  }
}
