package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, Similarity, Transforms}
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.sources.{StrideReader, TableCatalog}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 plus the LLM-data-pipeline extensions is
  * exposed as a named query; every query has a DuckDB oracle in
  * [[SparkEntry.oracleSql]] with IDENTICAL column names and ordering. The
  * engine-hash-dependent sketches (MinHash/SimHash/ANN) gate on quality
  * metrics instead of raw candidate sets: the oracle recomputes the
  * exact-baseline aggregates bit-for-bit and pins the recall/precision
  * floors (computed in-Spark vs the same baseline) as booleans; raw pair
  * mining is additionally exercised in the ScalaTest suites.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(s, dir, name)

  /** Redistribute a small-file single-partition input across all cores
    * before per-row compute-heavy work. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-SF recall floor for the quantized-ANN gates (VERDICT r9 item 6):
    * one global floor under the WORST sf leaves the better SFs nearly
    * ungated (ivfbq measured 0.840 at sf0.001 against a 0.5 floor — a
    * regression to 0.51 would have passed). Floors pin ~0.1 under the
    * measured value PER driver SF; unknown dirs (the bench's scaled
    * replica corpora, whose recall is a different, measured-elsewhere
    * trade) keep the conservative default — at the nLists ∝ n HIER
    * layouts the auto-nProbe floors are 0.55 (ivf/sq8) / 0.50 (bq),
    * measured on BOTH the adversarial permute corpus and the realistic
    * constant-density corpus (BASELINE.md round-11 auto-nProbe floors —
    * the two agree within 0.03, so the ceiling is the synthetic
    * embeddings' lack of cluster structure, not duplicate scatter).
    * Confirmed round 12 from the other side: on a CLUSTERED
    * (mixture-of-Gaussians, production-shaped) 200 k corpus at the same
    * hier layout, auto-default recall is 1.000 for all three tiers
    * (ivf/sq8/bq; even fixed nProbe=12 holds 0.999/0.999/0.759) —
    * pinned ≥0.85/0.85/0.75 at spec scale in SimilaritySpec's
    * clustered-corpus test, so the no-structure 0.55/0.50 numbers are
    * the fixture's bound, never the quantizer's. */
  private def sfFloor(dir: String, f001: Double, f01: Double, f1: Double,
      default: Double = 0.5): Double =
    if (dir.endsWith("sf0.001")) f001
    else if (dir.endsWith("sf0.01")) f01
    else if (dir.endsWith("sf0.1")) f1
    else default

  /** Session clone for streaming queries, shuffle partitions sized to STATE
    * overhead rather than data volume: every stateful operator commits one
    * state-store delta per shuffle partition per micro-batch (a stream-
    * stream join commits four), so 32 partitions over a ~100k-event batch
    * pay 4× the store commits of 8 for zero extra parallelism — sizing
    * shuffle partitions to expected per-batch state is standard streaming
    * practice. Cloned (newSession), never mutated: batch queries on the
    * same context keep the session default.
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // variance pins (VERDICT r6 item 6): no background state-store
    // maintenance churn inside the short-lived bench lifecycles, and no
    // async progress-log writes racing the measured window
    ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    ss.conf.set("spark.sql.streaming.metricsEnabled", "false")
    // streaming queries never run adaptively; with AQE on in the session
    // Spark only logs a warning per query saying so
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss
  }

  /** Memo for everything several queries share (see [[graft.util.SessionMemo]]):
    * fronts, ANN layouts and trained models per session; staged stream
    * fixtures per process, so a caller that opens a fresh session per pass
    * does not re-stage the same files. */
  private val memo = new graft.util.SessionMemo

  /** Video fixture parquet, memoized per sf dir and SHARED by
    * ev_stream_mm_video and mm_video_dedup: the 5 000-container PNG encode
    * is the family's dominant fixture cost, so it lands once. Built
    * spread() so the encode uses every core, written with a fixed file
    * count so downstream reads see stable partitioning. */
  private def videoMediaSrc(s: SparkSession, dir: String): String =
    memo.shared(s"mm_video:$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft_evmv_").toString
      graft.operators.Multimodal.videoNearDupTableFromDocuments(
        s, spread(tbl(s, dir, "documents")), nDistinct = 20, nFrames = 8)
        .repartition(4)
        .write.mode("overwrite").parquet(d)
      d
    }
  /** Streaming-source staging dir for the events table (micros timestamps),
    * memoized per sf dir so the ev_stream_* queries stage it once. */
  private def streamSource(s: SparkSession, dir: String): String =
    memo.shared(s"events:$dir") {
      val src = java.nio.file.Files.createTempDirectory("graft_evsrc_").toString
      // FIXED file count: the staged file list is the micro-batch
      // structure (FileStreamSource batches by files), so a floating
      // upstream scan parallelism would make per-run batch shapes — and
      // per-batch planning overhead — nondeterministic (r6 item 6)
      tbl(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
        .repartition(4).write.mode("overwrite").parquet(src)
      src
    }

  /** [[streamSource]] plus far-future sentinel rows on BOTH event types
    * (user_id −1, 10/15 days past the real maximum), so a draining outer
    * stream–stream join's global watermark (min across the two sides)
    * passes every REAL view's join window and the not-matched rows all
    * emit — the finite-source flush for outer joins (see
    * [[graft.streaming.EventStreams.streamingViewPurchaseLeftJoin]]).
    */
  private def streamSourceFlushed(s: SparkSession, dir: String): String =
    memo.shared(s"events_flushed:$dir") {
      val src = java.nio.file.Files.createTempDirectory("graft_evsrcf_").toString
      val ev = tbl(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      def plus(days: Long) = new java.sql.Timestamp(mx.getTime + days * 86400000L)
      import s.implicits._
      val sentinels = Seq(
        (-1L, plus(10), -1L, "view", 0.0, "{}"),
        (-2L, plus(15), -1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // fixed file count, same rationale as [[streamSource]]
      ev.unionByName(sentinels).repartition(4)
        .write.mode("overwrite").parquet(src)
      src
    }

  /** Shared dedup front, memoized per (session, sf dir): the gram-hash table
    * and the exact-Jaccard pair mine at the LOOSEST threshold any dedup
    * query needs — 0.2, which is the minhash PRECISION floor's loose-truth
    * set (an LSH pair counts as "fine" when its true Jaccard clears 0.2),
    * not merely the tightest consumer filter — tighter thresholds are
    * filters over it. This is
    * the production shape (the pipeline materializes the gram table and
    * pair mine once, every dedup operator reads them), and it is what the
    * four dedup gate queries would each rebuild otherwise. Checkpointed
    * lazily; keyed by session identity so test/driver sessions never share
    * RDD state.
    */
  private def dedupFront(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    memo(s, s"dedup:$dir") {
      val hashed = Dedup.gramHashes(spread(tbl(s, dir, "documents")),
        "doc_id", "text", shingleK = 8).localCheckpoint(false)
      // (gram, df) memoized alongside: three consumers (novelty, the
      // front-truncation panel, the minhash gate's cap counter) each
      // re-shuffled the exploded grams for the SAME aggregation before.
      // NOT fed to the pair mines' df-cap filter: a checkpointed table
      // on the filter-join's build side replaces the mine's inline
      // aggregation subplan and flips the g-keyed pair join to a
      // statically-planned sort-merge — measured 2× slower with 4.7 GB
      // of sort spill at the 10× probe (r16 §8; the inline form's
      // runtime-measured stages let AQE keep the fast strategy).
      val gramDf = hashed.select(col("id"), explode(col("hs0")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .localCheckpoint(false)
      // df cap 256: the quadratic-pair lever (see the operator's doc) —
      // scale-run measured, uncapped the front grows 127× at 10× data;
      // mirrored EXACTLY by the HAVING df filter in every consuming
      // oracle, so the gate still hash-checks the pair set.
      val pairs = Dedup.ngramJaccardPairsFromHashes(hashed, threshold = 0.2,
        maxDocFreq = 256).localCheckpoint(false)
      (hashed, pairs, gramDf)
    }

  /** Force-materialize the shared dedup front for `dir` (gram hashes +
    * loose pair mine), returning the two row counts. Probes call this so
    * the memoized front's cost is timed as ITS OWN line instead of riding
    * first-payer on whichever dedup family happens to probe first
    * (VERDICT r10 item 1 — front attribution). */
  private[graft] def stageDedupFront(s: SparkSession, dir: String): (Long, Long) = {
    val (hashed, pairs, gramDf) = dedupFront(s, dir)
    gramDf.count()
    (hashed.count(), pairs.count())
  }

  /** Shared co-purchase edge front, memoized per (session, sf dir) — r16:
    * all four graph gates (pagerank / triangles / triangles_estimate /
    * bfs) build the IDENTICAL symmetrized co-occurrence edge set over the
    * same 1/5 lineitem slice, each paying the groupBy + pair-expansion +
    * symmetrize build from scratch. The production shape materializes the
    * edge table once and every analytic reads it (the [[dedupFront]]
    * convention; first consumer pays the build). Values are identical, so
    * every gate's oracle is unchanged. */
  private def graphEdgeFront(s: SparkSession, dir: String): DataFrame =
    memo(s, s"graph:$dir") {
      val li = tbl(s, dir, "lineitem")
        .where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.coOccurrenceEdges(
        li, "l_partkey", "l_orderkey").localCheckpoint(false)
    }

  private def sql(s: SparkSession, dir: String, q: String): DataFrame =
    TableCatalog.sql(s, dir, q)

  // -------------------------------------------------- ANN layout front
  // (VERDICT r11 item 2 — amortize the in-gate layout builds): a persisted
  // ANN layout is IMMUTABLE once written (appends/compactions are the only
  // mutators, and only maintenance gates run them), yet every sim_ann_*
  // gate trained and landed its own copy from scratch — ~2.3-2.4 s per
  // quantized gate of pure setup, the family's dominant fixed cost
  // (BASELINE.md round-11 quantized-append attribution). Build each
  // distinct (tier, sf) BASE layout once per session into a stable temp
  // dir, memoized exactly like the dedup front: read-only gates consume
  // the shared path directly;
  // maintenance gates take a filesystem COPY (a few MB local copy, ~2
  // orders cheaper than retraining) so their mutations never leak into a
  // sibling's read. First consumer pays the build (first-payer
  // attribution in BASELINE.md) — the 100 TB posture is the same as the
  // sidecar model cache's: an index is built once and SERVED, not
  // rebuilt per query.
  private def annLayout(s: SparkSession, dir: String, tier: String)(
      build: String => Unit): String =
    memo(s, s"layout:$dir#$tier") {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft_annfront_${tier}_").toString
      build(p)
      p
    }

  /** Fresh private copy of a base layout for a gate that MUTATES it
    * (append/compact/streaming ingest) — the base stays pristine for the
    * read-only consumers. */
  private def copyLayout(base: String): String =
    graft.util.LinkCopy.copyDir(base)

  // Shared TRAINED MODELS (the sibling of annLayout): several
  // distinct layouts over the same corpus train the IDENTICAL quantizer —
  // unit-space IVF centroids are the same model for the SQ8/IVFADC/BQ
  // tiers (training reads only (id, unit vec); payload-independent), and
  // the PQ sub-codebooks are the same for the flat-PQ and IVFADC layouts.
  // Train each distinct (corpus, space, recipe) ONCE per session and hand
  // the model to every sibling build via centroidsIn/codebookIn — the
  // layout builds keep their own assignment + land passes. First consumer
  // pays (first-payer attribution, the dedupFront convention).

  /** Unit-space IVF centroids over the FULL embeddings corpus — shared by
    * the sq16/ivfpq16 fronts and the BQ gate (all nLists=16, iters=2). */
  private def unitCents16(s: SparkSession, dir: String):
      Seq[(Long, Seq[Double], Double)] =
    memo(s, s"$dir#ucents_16x2")(Similarity.trainUnitIvfCentroids(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nLists = 16, kMeansIters = 2))
  /** PQ sub-codebooks over the full corpus — shared by the flat-PQ layout
    * ("pq" front) and the IVFADC front (both m=16, ksub=32, iters=2). */
  private def pqCb16(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    memo(s, s"$dir#pqcb_16x32x2")(Similarity.trainPqCodebook(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      m = 16, ksub = 32, kMeansIters = 2))
  /** Unit-space centroids at the at-scale layout policy (nLists ∝ n,
    * iters=1) — shared by the ivfsq/ivfpq batch_scan gates. */
  private def unitCentsScan(s: SparkSession, dir: String, nLists: Int):
      Seq[(Long, Seq[Double], Double)] =
    memo(s, s"$dir#ucents_${nLists}x1")(Similarity.trainUnitIvfCentroids(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nLists, kMeansIters = 1))
  /** Unit-space centroids over the 80% maintenance corpus (nLists ∝ n,
    * iters=1) — shared by the ivfpq corpus front and the SQ append gate. */
  private def unitCentsCorpus80(s: SparkSession, dir: String, nLists: Int):
      Seq[(Long, Seq[Double], Double)] =
    memo(s, s"$dir#ucents_c80_${nLists}x1")(
      Similarity.trainUnitIvfCentroids(
        tbl(s, dir, "embeddings").where(pmod(col("vec_id"), lit(5)) =!= 0),
        "vec_id", "embedding", nLists, kMeansIters = 1))

  // The shared full-corpus bases (the `label` payload rides in EVERY
  // base so the filtered siblings can push their predicate; non-filtered
  // readers prune it at the parquet scan — centroids/codebooks are
  // payload-independent, so sharing changes no gate's result), plus the
  // 80%-corpus bases the maintenance gates copy before mutating.
  private def ivf16Front(s: SparkSession, dir: String): String =
    annLayout(s, dir, "ivf16p")(p => Similarity.ivfWrite(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", p,
      nLists = 16, kMeansIters = 2, payloadCols = Seq("label")))
  private def sq16Front(s: SparkSession, dir: String): String =
    annLayout(s, dir, "sq16p")(p => Similarity.ivfSqWrite(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", p,
      nLists = 16, kMeansIters = 2, payloadCols = Seq("label"),
      centroidsIn = Some(unitCents16(s, dir))))
  private def ivfpq16Front(s: SparkSession, dir: String): String =
    annLayout(s, dir, "ivfpq16p")(p => Similarity.ivfPqWrite(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", p,
      nLists = 16, m = 16, ksub = 32, kMeansIters = 2,
      payloadCols = Seq("label"),
      centroidsIn = Some(unitCents16(s, dir)),
      codebookIn = Some(pqCb16(s, dir))))
  /** 80%-slice IVF base for the append/compact/streaming-ingest gates —
    * consumers MUST [[copyLayout]] before mutating. */
  private def ivfCorpusFront(s: SparkSession, dir: String): String =
    annLayout(s, dir, "ivfc16")(p => Similarity.ivfWrite(
      tbl(s, dir, "embeddings").where(pmod(col("vec_id"), lit(5)) =!= 0),
      "vec_id", "embedding", p, nLists = 16, kMeansIters = 1))
  /** 80%-slice IVFADC base (nLists ∝ n keeps cells ≈125 rows) — copy
    * before mutating. */
  private def ivfpqCorpusFront(s: SparkSession, dir: String): String =
    annLayout(s, dir, "ivfpqc")({ p =>
      val corpus = tbl(s, dir, "embeddings")
        .where(pmod(col("vec_id"), lit(5)) =!= 0)
      val nLists = math.max(16, (corpus.count() / 125L).toInt)
      Similarity.ivfPqWrite(corpus, "vec_id", "embedding", p,
        nLists = nLists, m = 16, ksub = 32, kMeansIters = 1,
        centroidsIn = Some(unitCentsCorpus80(s, dir, nLists)))
    })

  /** Round-4 composite quality score in [0,1] over NON-EMPTY documents —
    * shared by `text_quality_score` and the `corpus_*` curation queries so
    * the gate pins one definition. Empty docs are excluded up front: 0/0
    * ratios are NaN, and NaN ordering differs between engines (Spark
    * NaN >= x is false, DuckDB sorts NaN above all floats).
    */
  private[graft] def qualityScored(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("double")
    val nTokens = T.tokenCount(col("text")).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val nDigits = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    val score = round(
      lit(0.4) * least(nTokens / 100.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - nPunct / nChars) +
        lit(0.3) * (lit(1.0) - nDigits / nChars), 4)
    docs.where(length(col("text")) > 0).withColumn("quality", score)
  }

  /** Scale-scoped truncation-counter pin (ADVICE r11; widened VERDICT r12
    * item 3): the LSH/SimHash bucket counters and the governed cap choice
    * are engine-hash-dependent, so their oracle values are MEASURED
    * literals valid only at the fixture scales they were measured on —
    * now BOTH driver scales (the 500-doc sf0.001/sf0.01 corpora and the
    * 5000-doc sf0.1 corpus), so the counters are VERIFIED per-sf rather
    * than NULL-unverified beyond sf0.01. At any other scale both sides
    * emit NULL via the same count(*)-keyed CASE, so an off-fixture run
    * cannot read them as a spurious regression. The exact-recomputable
    * columns (n_exact, n_grams_over_cap, floors) stay unconditional at
    * every sf.
    */
  private def pinAtMeasuredScale(s: SparkSession, dir: String,
      metrics: DataFrame, counterCols: Seq[String]): DataFrame = {
    val nd = tbl(s, dir, "documents").agg(count(lit(1)).as("_nd_pin"))
    val cols = metrics.columns.toSeq.map { c =>
      if (counterCols.contains(c))
        when(col("_nd_pin").isin(500L, 5000L), col(c))
          .otherwise(lit(null).cast("long")).as(c)
      else col(c)
    }
    metrics.crossJoin(broadcast(nd)).select(cols: _*)
  }

  /** Flagship: the M0 vertical slice (SURVEY.md §7.5) — plan JSON →
    * Catalyst-evaluated Query → P2/P4/P5/P3 chain → date-partitioned lake
    * write → ledger — then the landed table read back. Driver smoke-checks
    * rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.plan.PlanCodec
    import graft.run.PlanRunner
    import graft.ledger.InMemoryLedger
    val sfDir = "/root/testdata/sf0.001"
    val lake = java.nio.file.Files.createTempDirectory("graft_lake_").toString
    val plan = PlanCodec.parse(
      """{"SourceName":"graft","SourceDatabase":"tpch","SourceSchema":"main",
        |"SourceTable":"lineitem","Active":true,"MigrationPart":1,
        |"Query":"SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'",
        |"ColumnForPartitioningOnS3":"l_shipdate"}""".stripMargin)
    val runner = new PlanRunner(spark, sfDir, lake, new InMemoryLedger)
    val reports = runner.runPlan(plan)
    require(reports.forall(_.status == graft.ledger.RunStatus.Succeeded),
      s"flagship plan failed: ${reports.flatMap(_.error)}")
    spark.read.parquet(s"$lake/graft/main/lineitem")
  }

  // ---------------------------------------------------------------- queries

  /** Headline tag, applied AT THE DEFINITION SITE of a query (wrap its name
    * in the `queries` map literal): tagged queries are the plan-quality
    * evidence set [[graft.Explain]] renders into EXPLAIN.md. Deriving the
    * list from tags (instead of a second hand-curated list in Explain)
    * makes drift structurally impossible — a tag can only exist on a name
    * that is in the map.
    */
  private val headlineTags =
    scala.collection.mutable.LinkedHashSet.empty[String]
  private def HL(name: String): String = { headlineTags.synchronized {
    headlineTags += name }; name }

  /** Names tagged [[HL]], in definition order (forces map construction so
    * the tags are populated before first read). */
  def headline: Seq[String] = {
    val _ = queries
    headlineTags.synchronized { headlineTags.toSeq }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1 — range-striped parallel scan: union of stride predicates must
    // equal the full relation (JDBCRelation.columnPartition semantics).
    "s1_stride_scan" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      StrideReader.readStriped(li, "l_orderkey", 1L, 10000L, 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P2 — column-name normalization (`sybaseiq_extractor.py:114-115`).
    "p2_normalize_names" -> ((s, dir) => {
      val ugly = tbl(s, dir, "lineitem").select(
        col("l_orderkey").as("L OrderKey"),
        col("l_linenumber").as("L-Line#Number"),
        col("l_returnflag").as(" L ReturnFlag "))
      Transforms.normalizeColumnNames(ugly)
        .orderBy(col("l_orderkey"), col("l_line_number"))
    }),

    // S5/S6 (extension) — CSV and JSON-lines file sources with explicit
    // schema-on-read: export a table to the format, read it back through
    // the source layer, and the values must round-trip exactly (quoting,
    // nulls, numeric text). Oracle = the original table.
    // XML round trip (Spark 4 native XML source): write orders as XML
    // records, read back with explicit schema — the legacy-RDBMS-export
    // ingest edge. Timestamp columns are excluded: XML timestamp text
    // formats are writer-configurable and add nothing to the source test.
    "src_xml_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_xml_").toString
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val src = tbl(s, dir, "orders").select(cols.map(col): _*)
      src.write.mode("overwrite").option("rowTag", "order").xml(tmp)
      graft.sources.TableCatalog.loadXml(s, tmp, src.schema, rowTag = "order")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "src_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv_").toString
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate")
      val src = tbl(s, dir, "orders").select(cols.map(col): _*)
      src.write.mode("overwrite").option("header", "true")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
      TableCatalog.loadCsv(s, tmp, src.schema)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    "src_json_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_json_").toString
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate")
      val src = tbl(s, dir, "orders").select(cols.map(col): _*)
      src.write.mode("overwrite").json(tmp)
      TableCatalog.loadJsonLines(s, tmp, src.schema)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // P3 — trim all string columns (`sybaseiq_extractor.py:97-111`).
    "p3_trim_strings" -> ((s, dir) => {
      val padded = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("  "), col("text"), lit("   ")).as("text"))
      Transforms.trimStringColumns(padded).orderBy(col("doc_id"))
    }),

    // P4 — audit-column injection (`sybaseiq_extractor.py:124-125`).
    "p4_audit_columns" -> ((s, dir) => {
      val base = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"))
      Transforms.auditColumns("plan0hash",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))(base)
        .withColumn(Transforms.AuditTsCol,
          col(Transforms.AuditTsCol).cast("timestamp_ntz"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P5 — unpadded year/month/day derivation (`sybaseiq_extractor.py:171-174`).
    "p5_date_parts" -> ((s, dir) => {
      Transforms.datePartColumns("l_shipdate")(tbl(s, dir, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("year"), col("month"), col("day"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // K2 — date-partitioned sink round-trip: land lineitem through the
    // runner's own write path (LakeWriter.writeCounted, date column →
    // year/month/day layout clustered by a REBALANCE), read it back through
    // the partition layout (unpadded values round-trip through directory
    // names).
    "k2_partitioned_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_k2_").toString
      val src = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      graft.sinks.LakeWriter.writeCounted(src, out, "graft/main/lineitem",
        Some("l_shipdate"), graft.sinks.WriteMode.Append)
      s.read.parquet(s"$out/graft/main/lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("year").cast("string").as("year"),
          col("month").cast("string").as("month"),
          col("day").cast("string").as("day"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // K1 — unpartitioned sink with X2 size-tiered coalesce
    // (`sybaseiq_extractor.py:156-164` layout, `:128-137` tiering): write
    // through the runner's write path (LakeWriter.writeCounted, K1 branch),
    // read the landed files back. Round-trip equality proves the tiered
    // rewrite moved every row.
    "k1_unpartitioned_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_k1_").toString
      val src = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      graft.sinks.LakeWriter.writeCounted(src, out, "graft/main/orders",
        None, graft.sinks.WriteMode.Append)
      s.read.parquet(s"$out/graft/main/orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K3 — single-column partitioned sink (non-date S3 partition column →
    // Hive layout on that column, `sybaseiq_extractor.py:245-250`): write
    // through the runner's write path (LakeWriter.writeCounted, K3 branch),
    // read back through the partition layout (values round-trip through
    // directory names).
    "k3_column_partition_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_k3_").toString
      val src = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      graft.sinks.LakeWriter.writeCounted(src, out, "graft/main/orders",
        Some("o_orderstatus"), graft.sinks.WriteMode.Append)
      s.read.parquet(s"$out/graft/main/orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // S2 — single-stream JDBC read (`sybaseiq_extractor.py:315-320`): land
    // the nation table in an embedded Derby database over JDBC, read it
    // back through the real S2 path (the `query` option, one stream), and
    // compare against the parquet source of truth. The 25-row driver-side
    // insert loop is the test-fixture load, not the read path under test.
    "s2_single_stream" -> ((s, dir) => {
      val db = java.nio.file.Files.createTempDirectory("graft_derby_").toString
      val url = s"jdbc:derby:$db/db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE nation (n_nationkey BIGINT NOT NULL, " +
          "n_name VARCHAR(32), n_regionkey BIGINT)")
        st.close()
        val ps = conn.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
        tbl(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
          .collect().foreach { r =>
            ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
            ps.setLong(3, r.getLong(2)); ps.addBatch()
          }
        ps.executeBatch(); ps.close()
      } finally conn.close()
      graft.sources.JdbcSource.readSingle(s,
        graft.sources.JdbcSourceConfig(url, "", "",
          Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")),
        "SELECT n_nationkey, n_name, n_regionkey FROM nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // A1 — global count.
    "a1_count" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // ------------------------------------------------ SQL surface (§2.4 via
    // Catalyst: joins, windows, sorts/limits, set ops, rollup, subqueries)

    HL("q1_pricing_summary") -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q3_shipping_priority" -> ((s, dir) => sql(s, dir,
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    HL("q5_local_supplier_volume") -> ((s, dir) => sql(s, dir,
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    HL("q6_forecast_revenue") -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q7 shape (volume shipping between two nations, by year) —
    // adapted to the lite schema: supp nation from supplier, cust nation
    // via orders→customer; year cast to BIGINT on both engines
    "q7_nation_volume" -> ((s, dir) => sql(s, dir,
      """SELECT supp_nation, cust_nation, l_year,
        |  round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q10 shape (returned-item reporting): top customers by lost
    // revenue on returned lineitems
    "q10_returned_items" -> ((s, dir) => sql(s, dir,
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q14 shape (promotion effect): promo revenue share per month
    "q14_promo_effect" -> ((s, dir) => sql(s, dir,
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),

    // TPC-H Q19 shape (discounted revenue, disjunctive part predicates):
    // three OR-branches over (brand, size, quantity) — the disjunction
    // Catalyst must push into one joined scan, not three
    "q19_discounted_revenue" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity >= 1 AND l_quantity <= 21)
        |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity >= 10 AND l_quantity <= 40)
        |  OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin)),

    // TPC-H Q2 shape (minimum-cost supplier) — the lite schema has no
    // partsupp, so "supply cost" is the unit price observed on lineitems;
    // the signature correlated scalar-MIN subquery over the same multi-join
    // is preserved. Ties at the MIN produce identical output rows, so the
    // LIMIT boundary is deterministic.
    "q2_min_cost_supplier" -> ((s, dir) => sql(s, dir,
      """SELECT s_name, p_partkey, p_name,
        |  round(l_extendedprice / l_quantity, 4) AS unit_cost
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND p_size = 5
        |  AND l_extendedprice / l_quantity = (
        |    SELECT min(l2.l_extendedprice / l2.l_quantity)
        |    FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_name, p_partkey LIMIT 20""".stripMargin)),

    // TPC-H Q4 shape (order-priority checking) — correlated EXISTS; the
    // lite schema has no commit/receipt dates, so "late" is shipped more
    // than 60 days after the order date.
    "q4_order_priority" -> ((s, dir) => sql(s, dir,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q8 shape (national market share): one supplier nation's share
    // of regional revenue by year — conditional-sum ratio over an 8-table
    // join with two roles for nation.
    "q8_market_share" -> ((s, dir) => sql(s, dir,
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END)
        |    / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |) all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q9 shape (product-type profit) — no partsupp supply cost in
    // the lite schema, so cost is proxied as 60% of the part's retail
    // price; the LIKE-filtered part scan + 5-table join + (nation, year)
    // rollup is intact.
    "q9_product_profit" -> ((s, dir) => sql(s, dir,
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount)
        |      - 0.6 * p_retailprice * l_quantity AS amount
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%'
        |) profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape (important stock identification): per-part value
    // with a HAVING threshold computed by an uncorrelated scalar subquery
    // over the same filtered join (partsupp stock value → lineitem
    // revenue through one nation's suppliers).
    "q11_important_stock" -> ((s, dir) => sql(s, dir,
      """SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING sum(l_extendedprice) > (
        |  SELECT sum(l_extendedprice) * 0.001
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')
        |ORDER BY value DESC, l_partkey""".stripMargin)),

    // TPC-H Q12 shape (shipping-mode priority counts) — no l_shipmode in
    // the lite schema, so lines group by l_linestatus; the two
    // conditional counts over order priority classes are the point.
    // count(CASE ...) rather than sum(CASE ...) keeps both engines on
    // BIGINT (DuckDB widens sum-of-int to HUGEINT).
    "q12_priority_shipping" -> ((s, dir) => sql(s, dir,
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // TPC-H Q13 shape (customer order-count distribution): left outer
    // join with an extra predicate in the join condition, then a
    // double aggregation (count per customer → histogram of counts).
    HL("q13_customer_distribution") -> ((s, dir) => sql(s, dir,
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q15 shape (top supplier): revenue CTE reused twice — once as
    // the join input and once inside the scalar MAX subquery. Revenue is
    // rounded inside the CTE so the equality compares identical values on
    // both engines.
    "q15_top_supplier" -> ((s, dir) => sql(s, dir,
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship) — lineitem stands in
    // for partsupp as the part↔supplier relation; negative account
    // balance stands in for the complaints filter. NOT IN + COUNT
    // DISTINCT over a grouped join is the shape.
    "q16_supplier_cnt" -> ((s, dir) => sql(s, dir,
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q17 shape (small-quantity-order revenue): correlated scalar
    // AVG subquery per part — the canonical correlated-aggregate rewrite
    // Catalyst turns into an aggregate + join.
    HL("q17_small_qty_revenue") -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (
        |    SELECT 0.5 * avg(l2.l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): IN subquery with a
    // grouped HAVING over the fact table, re-joined and re-aggregated.
    "q18_large_volume" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS total_price,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2)
        |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin)),

    // TPC-H Q20 shape (potential part promotion): nested IN with a
    // grouped HAVING threshold — suppliers who moved significant volume
    // of the promoted brand inside the window.
    "q20_promotion_suppliers" -> ((s, dir) => sql(s, dir,
      """SELECT s_name, s_suppkey
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS plus
    // NOT EXISTS, both correlated on the same order with a different-
    // supplier predicate, and the outer o_orderdate referenced inside
    // the anti branch ("only this supplier shipped late").
    HL("q21_waiting_suppliers") -> ((s, dir) => sql(s, dir,
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)),

    // TPC-H Q22 shape (global sales opportunity) — no c_phone in the lite
    // schema, so the country code is the last digit of c_name; the
    // uncorrelated AVG scalar subquery + NOT EXISTS anti-join (here
    // window-scoped: no orders since 2000, every customer has SOME order
    // in this corpus) are the shape.
    "q22_sales_opportunity" -> ((s, dir) => sql(s, dir,
      """SELECT cntrycode, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM (
        |  SELECT substring(c_name, 18, 1) AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE substring(c_name, 18, 1) IN ('1', '3', '5', '7', '9')
        |    AND c_acctbal > (
        |      SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |) c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),

    // Recursive CTE (Spark 4.x UnionLoop): a month calendar spine
    // generated recursively from the anchor row, LEFT-joined to orders on
    // the truncated month — the classic gap-free time-series frame (months
    // with zero orders still emit a row). The recursion is driver-bounded
    // (80 levels here, governed by Spark's cteRecursionLevelLimit); the
    // join is an equi-join on the truncated date, so the spine broadcast
    // is the only addition over a plain monthly rollup.
    HL("sql_recursive_spine") -> ((s, dir) => sql(s, dir,
      """WITH RECURSIVE months(m) AS (
        |  SELECT TIMESTAMP '1995-01-01 00:00:00' AS m
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH FROM months
        |  WHERE m < TIMESTAMP '2001-08-01 00:00:00')
        |SELECT m, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue
        |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        |GROUP BY m ORDER BY m""".stripMargin)),

    "w1_rank_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", rank().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
    }),

    "w2_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "w3_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
        .orderBy(col("event_id"))
    }),

    HL("topk_orders") -> ((s, dir) =>
      tbl(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)),

    "set_ops" -> ((s, dir) => sql(s, dir,
      """SELECT k, tag FROM (
        |  (SELECT c_custkey AS k, 'with_orders' AS tag FROM customer
        |   INTERSECT SELECT o_custkey, 'with_orders' FROM orders)
        |  UNION ALL
        |  (SELECT c_custkey AS k, 'no_orders' AS tag FROM customer
        |   EXCEPT SELECT o_custkey, 'no_orders' FROM orders)
        |) t ORDER BY tag, k""".stripMargin)),

    "agg_rollup" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    "subq_exists" -> ((s, dir) => sql(s, dir,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 490000)
        |ORDER BY c_custkey""".stripMargin)),

    "subq_not_exists" -> ((s, dir) => sql(s, dir,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    "cte_region_sales" -> ((s, dir) => sql(s, dir,
      """WITH nation_sales AS (
        |  SELECT c_nationkey AS nk, round(sum(o_totalprice), 2) AS sales,
        |    count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey)
        |SELECT r_name, round(sum(sales), 2) AS region_sales,
        |  sum(n_orders) AS n_orders
        |FROM nation_sales
        |JOIN nation ON nk = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    "corr_scalar_select" -> ((s, dir) => sql(s, dir,
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT max(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey) AS max_qty
        |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin)),

    "percentiles" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Mergeable approximate quantiles — the sketch form a 100 TB scan uses
    // (approx_percentile's internal QuantileSummaries merges across
    // partitions; a single-pass exact percentile does not distribute).
    // Gate: exact p50 (oracle recomputes) + sketch-within-2% boolean.
    "agg_approx_quantile" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_exact"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50_approx"))
        .select(col("l_returnflag"), col("p50_exact"),
          (abs(col("p50_approx") - col("p50_exact")) <=
            col("p50_exact") * 0.02).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "string_agg" -> ((s, dir) => sql(s, dir,
      """SELECT n_regionkey,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    "regex_extract" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("second_word"))
        .orderBy(col("doc_id"))),

    "agg_grouping_sets" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    "agg_cube" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    "distinct_agg" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_suppkey) AS n_supp FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "join_full_outer" -> ((s, dir) => sql(s, dir,
      """SELECT c.c_custkey, o.o_custkey AS order_cust, o.n_orders
        |FROM (SELECT * FROM customer WHERE c_custkey <= 700) c
        |FULL OUTER JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_totalprice > 480000 GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey NULLS FIRST, order_cust NULLS FIRST""".stripMargin)),

    "w4_lead_ntile" -> ((s, dir) => {
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val byPrio = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
      tbl(s, dir, "orders").select(col("o_orderkey"),
        lead(col("o_orderkey"), 1).over(byDate).as("next_order"),
        ntile(4).over(byPrice).cast("long").as("quartile"),
        dense_rank().over(byPrio).cast("long").as("dr"))
        .orderBy(col("o_orderkey"))
    }),

    "w5_range_frame" -> ((s, dir) => sql(s, dir,
      """SELECT o_orderkey, count(*) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate RANGE BETWEEN INTERVAL 30 DAYS PRECEDING
        |  AND CURRENT ROW) AS trailing_30d_orders
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "str_funcs" -> ((s, dir) =>
      tbl(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 5).as("t5"),
        concat_ws("-", col("p_brand"), col("p_size").cast("string")).as("brand_size"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"))
        .orderBy(col("p_partkey"))),

    "date_funcs" -> ((s, dir) =>
      tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        last_day(col("o_orderdate")).as("month_end"))
        .orderBy(col("o_orderkey"))),

    "in_subquery" -> ((s, dir) => sql(s, dir,
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin)),

    "scalar_subquery" -> ((s, dir) => sql(s, dir,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.9
        |ORDER BY o_orderkey""".stripMargin)),

    "case_bucketing" -> ((s, dir) => sql(s, dir,
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
        |  WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    "pivot_status" -> ((s, dir) => sql(s, dir,
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "median_quantity" -> ((s, dir) => sql(s, dir,
      """SELECT l_returnflag, round(median(l_quantity), 2) AS med_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "array_ops" -> ((s, dir) =>
      // + 0.0 collapses IEEE negative zero (-0.0 + 0.0 = +0.0): at sf0.1 a
      // tiny negative first element rounds to -0.0 in one engine and 0.0
      // in the other, and the gate compares strings (r13 sf0.1 replay)
      tbl(s, dir, "embeddings").select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        (round(element_at(col("embedding"), 1).cast("double"), 4) + 0.0)
          .as("e1"),
        (round(array_max(col("embedding")).cast("double"), 4) + 0.0)
          .as("emax"))
        .orderBy(col("vec_id"))),

    "explode_tokens" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(length(col("token")).cast("long").as("tok_len"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("tok_len"))),

    // ------------------------------------------------------------- events

    "ev_hourly" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("h"), col("event_type"))),

    // Tumbling event-time window via window() — epoch-aligned, so 1-hour
    // windows coincide with date_trunc('hour'); same shape Structured
    // Streaming uses (graft.streaming.EventStreams).
    "ev_tumbling_window" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("n"))
        .orderBy(col("win_start"))),

    // Spark 4 VARIANT: semi-structured props parsed to the binary variant
    // type, round-tripped through PARQUET (the shredded physical layout),
    // then field-extracted and aggregated — the open-table-format
    // semi-structured story (Parquet/Iceberg/Delta variant), exercised
    // end to end. The oracle recomputes from the raw JSON text.
    "ev_variant_shred" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_var_")
        .resolve("v").toString
      tbl(s, dir, "events")
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .write.parquet(t)
      s.read.parquet(t)
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "int").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy(col("k_mod"))
    }),

    "ev_json_extract" -> ((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy(col("event_id"))),

    // As-of join: each purchase matched to the user's most recent prior (or
    // simultaneous) view — oracle is DuckDB's native ASOF LEFT JOIN.
    HL("ev_asof_join") -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("event_id")).as("view_event_id"))
        .select(col("user_id"), col("view_ts"), col("view_event_id"))
      graft.operators.AsOfJoin
        .asOfLeftJoin(purchases, views, "user_id", "ts", "view_ts")
        .orderBy(col("event_id"))
    }),

    HL("ev_sessionize") -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapSec = unix_timestamp(col("ts").cast("timestamp")) -
        unix_timestamp(lag(col("ts"), 1).over(byUser).cast("timestamp"))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("brk", when(gapSec > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("brk")).over(cum).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Ordered conversion funnel (view → click → purchase): each step's
    // timestamp is the user's earliest qualifying event AT OR AFTER the
    // previous step. Three stacked whole-partition windows on the same
    // key — ONE exchange, sequential dependency resolved in-plan. The
    // per-user row set (not just counts) is the oracle surface.
    "ev_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      tbl(s, dir, "events")
        .withColumn("v", min(when(col("event_type") === "view",
          col("ts"))).over(w))
        .withColumn("c", min(when(col("event_type") === "click" &&
          col("ts") >= col("v"), col("ts"))).over(w))
        .withColumn("p", min(when(col("event_type") === "purchase" &&
          col("ts") >= col("c"), col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("v")).as("view_ts"), max(col("c")).as("click_ts"),
          max(col("p")).as("purchase_ts"))
        .orderBy(col("user_id"))
    }),

    // Last-touch attribution: each purchase credited to the user's LATEST
    // view within the preceding hour. The time-bounded self-join keys on
    // user (one shuffle), the per-purchase winner resolves with a window
    // top-1 — at scale the same shape as the stream-stream interval join,
    // run in batch.
    "ev_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("purchase_id")
        .orderBy(col("v_ts").desc, col("view_id").desc)
      val ev = tbl(s, dir, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val v = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("v_ts"))
      p.join(v, Seq("user_id"))
        .where(col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("purchase_id"), col("user_id"), col("view_id"))
        .orderBy(col("purchase_id"))
    }),

    // Equi-width histogram (20 buckets over [min, max]): the global extent
    // is a 1-row broadcast; bucketing is map-side arithmetic and the
    // histogram itself one hash aggregation — the profiling shape for any
    // numeric column at 100 TB (contrast stats_profile's per-column NDV).
    "agg_histogram" -> ((s, dir) => {
      val ext = tbl(s, dir, "orders")
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      tbl(s, dir, "orders").crossJoin(broadcast(ext))
        .select(least(floor((col("o_totalprice") - col("lo")) /
            ((col("hi") - col("lo")) / 20.0)), lit(19.0))
          .cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo_v"),
          round(max(col("o_totalprice")), 2).as("hi_v"))
        .orderBy(col("bucket"))
    }),

    // Weekly cohort retention: users grouped by first-activity week;
    // one row per (cohort week, week offset) with distinct active users.
    // Two shuffles total (user window + cohort agg); date_trunc('week')
    // is ISO-Monday in both engines.
    "ev_retention" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      tbl(s, dir, "events")
        .withColumn("cohort", date_trunc("week", min(col("ts")).over(w)))
        .withColumn("wk",
          ((unix_timestamp(date_trunc("week", col("ts"))) -
            unix_timestamp(col("cohort"))) / 604800L).cast("long"))
        .groupBy(col("cohort"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("wk"))
    }),

    // Exponentially time-decayed per-user activity counter (half-life one
    // day, quantized to day buckets relative to the stream head). The
    // weight is FIXED-POINT: 2^(50-k) as a BIGINT (0 past 50 half-lives) —
    // integer sums are order-independent and engine-exact, so the oracle
    // matches bit-for-bit where a float exp() would be at the mercy of
    // libm ULPs and summation order. Map-side weighting + one hash agg;
    // the stream-head timestamp is a broadcast one-row cross join.
    "ev_decay" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val tref = ev.agg(max(col("ts")).as("tref"))
      ev.crossJoin(broadcast(tref))
        .withColumn("k",
          floor((unix_timestamp(col("tref")) - unix_timestamp(col("ts"))) /
            86400L).cast("long"))
        .withColumn("w", when(col("k") <= 50,
          pow(lit(2.0), (lit(50L) - col("k")).cast("double")).cast("long"))
          .otherwise(lit(0L)))
        .groupBy(col("user_id"))
        .agg(sum(col("w")).as("decay_scaled"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // Grouped Pearson correlation / sample covariance — the co-moment
    // aggregates (one pass, mergeable partials in both engines).
    // Per-group OLS regression via the SQL standard regr_* aggregates
    // (one hash aggregation; + 0.0 folds IEEE -0.0 as in agg_corr).
    "agg_linreg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          (round(expr("regr_slope(l_extendedprice, l_quantity)"), 4) +
            lit(0.0)).as("slope"),
          (round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4) +
            lit(0.0)).as("icept"),
          (round(expr("regr_r2(l_extendedprice, l_quantity)"), 6) +
            lit(0.0)).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"))
        .orderBy(col("l_returnflag"))),

    "agg_corr" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on the sign
          // of a rounded-to-zero negative)
          (round(corr(col("l_quantity"), col("l_extendedprice")), 6) +
            lit(0.0)).as("corr_qty_price"),
          (round(covar_samp(col("l_discount"), col("l_tax")), 6) +
            lit(0.0)).as("cov_disc_tax"))
        .orderBy(col("l_returnflag"))),

    // UNPIVOT/melt: wide metric columns to long (metric, value) rows — the
    // relational inverse of pivot_status, via the native Unpivot node (a
    // Generate-style expand, no shuffle of its own).
    "unpivot_metrics" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // Hourly resample + forward fill: the gap-fill step a time-series
    // feature pipeline runs before windowed models. The spine is generated
    // per user (hour sequence between first and last activity), left-joined
    // to the hourly aggregate, then forward-filled with the portable
    // count-over group trick (count(v) over ordered rows only increments on
    // non-null, so each gap shares its group with the last observation) —
    // no IGNORE NULLS dependence, identical semantics in DuckDB.
    "ev_gap_fill" -> ((s, dir) => {
      val hourly = tbl(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(sum(col("value")), 2).as("v"))
      val spine = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("h"))
      val wOrd = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("grp", count(col("v")).over(wOrd))
        .withColumn("v_filled", max(col("v")).over(
          Window.partitionBy(col("user_id"), col("grp"))))
        .withColumn("is_gap", col("v").isNull)
        .select(col("user_id"), col("h"), col("v_filled"), col("is_gap"))
        .orderBy(col("user_id"), col("h"))
    }),

    // Rolling z-score anomaly scoring: per-user 20-event trailing window
    // (exclusive of the current row — no self-leak); the flag derives from
    // the ROUNDED z so the threshold boundary is engine-stable. One
    // exchange on user_id serves all three window aggregates.
    "ev_anomaly" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-20, -1)
      tbl(s, dir, "events")
        .withColumn("n_win", count(col("value")).over(w))
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("z", when(col("n_win") >= 5 && col("sd") > 0,
          round((col("value") - col("mu")) / col("sd"), 6)))
        .select(col("event_id"), col("user_id"), col("value"),
          col("n_win"), col("z"), (abs(col("z")) > 3.0).as("is_anomaly"))
        .orderBy(col("event_id"))
    }),

    // ------------------------------------------- dedup / text analysis

    "dedup_exact" -> ((s, dir) =>
      Dedup.dedupExact(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // One-row corpus health check — the observability panel a curation
    // pipeline reads before/after each stage: exact-dup volume, duplicated
    // substring reach, quality-gate pass count. Three independent 1-row
    // aggregates crossJoined (benign; the metric-query idiom).
    "corpus_health" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"))
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
        .agg(
          countDistinct(col("doc_id")).as("n_span_docs"),
          coalesce(sum(col("n_grams")), lit(0L)).as("n_dup_grams"))
      val qual = qualityScored(docs).agg(
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_quality_pass"))
      base.crossJoin(spans).crossJoin(qual)
        .select(col("n_docs"),
          (col("n_docs") - col("n_distinct")).as("n_exact_dupes"),
          col("n_span_docs"), col("n_dup_grams"), col("n_quality_pass"))
    }),

    // Exact duplicate-substring spans (Lee et al. ACL'22 shape): stride-1
    // k-gram hashes, window-counted dups, maximal island merge.
    HL("dedup_dup_spans") -> ((s, dir) =>
      Dedup.duplicateSpans(tbl(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))),

    // ...and the removal composition: clip every duplicated span out of
    // every doc (decontamination/boilerplate-strip policy).
    HL("dedup_clip_spans") -> ((s, dir) =>
      Dedup.clipDuplicateSpans(tbl(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))),

    "dedup_fingerprint" -> ((s, dir) =>
      Dedup.dedupExactByFingerprint(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // spread(): the docs/embeddings fixtures arrive as a single parquet
    // row-group (1 partition) — redistribute before compute-heavy signature
    // work so all cores participate. At production scale inputs are already
    // many-partitioned and the repartition is a no-op choice.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      dedupFront(s, dir)._2.where(col("jaccard") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // Prefix-filtered EXACT similarity join (AllPairs/PPJoin): the
    // LOSSLESS scalable pair mine — rarest-first gram ordering, candidates
    // only from prefix grams, exact array-intersect verification. Oracle
    // is the UNCAPPED all-pairs exact mine (no df-256 cap): output must be
    // identical, proving zero recall loss where the capped mine trades it.
    // UnlimitedPairs is deliberate HERE ONLY: this gate proves zero recall
    // loss vs the quadratic oracle, so it must run the lossless path on the
    // fixture corpus (whose ~25% candidate density trips the default
    // corpus-linear budget by design). Production callers get the governed
    // default — see dedup_ppjoin_governed.
    HL("dedup_ppjoin") -> ((s, dir) =>
      // r16: the mine rides the memoized dedup front (same checkpointed
      // gramHashes frame + (g, df) table it would rebuild from scratch —
      // the production shape every other front consumer already runs;
      // output bit-identical, oracle unchanged)
      Dedup.prefixFilterPairs(spread(tbl(s, dir, "documents")),
        "doc_id", "text", shingleK = 8, threshold = 0.7,
        maxCandidatePairs = Some(Dedup.UnlimitedPairs),
        prehashed = Some(dedupFront(s, dir)._1),
        gramDf = Some(dedupFront(s, dir)._3))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // The DEFAULT-GOVERNED prefix mine: no budget passed, so the pre-flight
    // derives budget = 64·|docs|; on this template-heavy fixture corpus
    // (candidate density ~25% of ALL doc pairs at every measured scale) the
    // estimate trips it and the call auto-falls-back to the df-capped mine
    // — corpus-LINEAR Σ min(df,256)² work at the same threshold. This is
    // the call shape a 100 TB pipeline runs; the oracle replays the capped
    // mine (full sizes, df-capped overlap) at t=0.7 bit-for-bit.
    HL("dedup_ppjoin_governed") -> ((s, dir) =>
      // blindEmptyGuard = None: the gate pins the measured sf0.1 cliff
      // (df-capped fallback, 0 pairs at 82.6% dropped gram mass — the
      // oracle's HAVING df<=256 replays the same empty set); the engine
      // DEFAULT throws on that shape (r14 verdict item 4, DedupSpec)
      Dedup.prefixFilterPairs(spread(tbl(s, dir, "documents")),
        "doc_id", "text", shingleK = 8, threshold = 0.7,
        fallbackToCapped = true, blindEmptyGuard = None,
        // r16: memoized front (see dedup_ppjoin) — the governed pre-flight,
        // the prefix front AND the capped fallback all reuse it
        prehashed = Some(dedupFront(s, dir)._1),
        gramDf = Some(dedupFront(s, dir)._3))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash+LSH quality gate: the candidate set itself is engine-hash-
    // dependent, so the gated output is the exact-baseline pair count (the
    // DuckDB oracle recomputes it bit-for-bit) plus recall/precision floor
    // booleans vs that baseline. Measured recall/precision = 1.0 at
    // sf0.001/0.01/0.1; floors 0.7/0.8 leave margin. Raw pair mining is
    // exercised in DedupSpec.
    HL("dedup_minhash_lsh") -> ((s, dir) => {
      val (hashed, pairs, gramDf) = dedupFront(s, dir)
      // splitBucketSize=64: buckets beyond it re-key by a second band —
      // the occupancy guard the 10× probe demanded (in-bucket pair work
      // grew 100× for 10× docs, 87% from buckets > 64; BASELINE.md round 8).
      // High-jaccard truth pairs agree on every band and survive the
      // stricter sub-key (DedupSpec pin), so the recall floor holds.
      // gramDfCap=256 mirrors the front's df cap, so the gate row also
      // pins the silent-truncation counters (VERDICT r10 item 3): grams
      // the cap mutes, buckets the split re-keys, ids the bucket cap drops.
      // maxBucketSize left at the GOVERNED default (VERDICT r12 item 7):
      // the cap self-sizes from the final bucket profile against the
      // 2048-expansions/doc budget (64/doc was measured and REJECTED —
      // it forced the sf0.1 ladder floor and clipped 1246 posting ids);
      // the choice rides the row as chosen_bucket_cap, pinned per sf
      // like the counters.
      pinAtMeasuredScale(s, dir,
        Dedup.minhashQualityMetricsFromParts(hashed, pairs, "doc_id",
          numPerm = 64, bands = 32, threshold = 0.4,
          recallFloor = 0.7, precisionFloor = 0.8, splitBucketSize = 64,
          gramDfCap = 256, gramDf = Some(gramDf)),
        Seq("n_buckets_split", "n_buckets_over_cap", "n_ids_dropped",
          "chosen_bucket_cap"))
    }),

    // SimHash quality gate, same oracle split: exact count is SQL-
    // recomputable, recall (measured 0.60-0.75 across SFs; floor 0.5) is a
    // pinned boolean, and the bucket-cap truncation counters are pinned
    // per sf (VERDICT r10 item 3). Raw pairs exercised in DedupSpec.
    "dedup_simhash" -> ((s, dir) =>
      // posting cap at the GOVERNED default (VERDICT r12 item 7), the
      // choice pinned per sf as chosen_bucket_cap
      pinAtMeasuredScale(s, dir,
        Dedup.simhashQualityMetricsFromTruth(spread(tbl(s, dir, "documents")),
          dedupFront(s, dir)._2.where(col("jaccard") >= 0.8),
          "doc_id", "text", maxHamming = 3, recallFloor = 0.5),
        Seq("n_buckets_over_cap", "n_ids_dropped", "chosen_bucket_cap"))),

    // Truncation panel of the SHARED dedup front's df cap — fully SQL-
    // recomputable (gram df is a string-gram property, no engine hash):
    // distinct grams, grams the 256-cap mutes, and the exploded gram
    // occurrences those muted grams carried (the rows the pair mine never
    // sees). The exact form of "what did the cap silently drop" for
    // dedup_ngram_jaccard and every front consumer (VERDICT r10 item 3).
    "dedup_front_truncation" -> ((s, dir) => {
      val df = dedupFront(s, dir)._3
      df.agg(count(lit(1)).as("n_grams"),
        coalesce(sum(when(col("df") > 256, 1L).otherwise(0L)), lit(0L))
          .as("n_grams_over_cap"),
        coalesce(sum(when(col("df") > 256, col("df")).otherwise(0L)),
          lit(0L)).as("n_occurrences_dropped"))
    }),

    // Pairs → clusters: connected components of the exact-Jaccard near-dup
    // graph; every member mapped to its canonical (minimum) doc id. Mining
    // goes through a checkpointed gram-hash frame so the shingle pipeline
    // runs once instead of once per join/sizes branch.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(dedupFront(s, dir)._2.where(col("jaccard") >= 0.4))
        .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .orderBy(col("doc_id"))),

    // Clusters → representative SELECTION: dedup keeps ONE doc per
    // near-dup cluster, chosen by quality (longest text; doc_id breaks
    // ties) — the "keep best, drop the rest" tail of a production dedup
    // pass, where dedup_clusters only labels membership. Two window
    // functions over the (small) clustered subset; the cluster fronts are
    // the memoized mine.
    "dedup_keep_best" -> ((s, dir) => {
      val clusters = Dedup.nearDupClusters(
        dedupFront(s, dir)._2.where(col("jaccard") >= 0.4))
      val lens = tbl(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("len"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_rep"))
      clusters.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .join(lens, "doc_id")
        .withColumn("rn", row_number().over(
          w.orderBy(col("len").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(w))
        .where(col("rn") === 1)
        .select(col("cluster_rep"), col("doc_id").as("best_doc"),
          col("len").cast("long").as("best_len"), col("n_members"))
        .orderBy(col("cluster_rep"))
    }),

    // Gram-novelty curation score: the fraction of a document's distinct
    // grams seen NOWHERE else in the corpus (df = 1) — high novelty marks
    // original text, near-zero marks boilerplate/template bodies; the
    // cheap corpus-level "is this document new information" gate. Rides
    // the memoized gram front + one df aggregation (the shuffle the pair
    // mine already pays); per-doc fraction is a second small agg.
    "text_novelty" -> ((s, dir) => {
      val g = dedupFront(s, dir)._1
        .select(col("id"), explode(col("hs0")).as("g"))
      g.join(dedupFront(s, dir)._3, "g")
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
          round(avg(when(col("df") === 1, 1.0).otherwise(0.0)), 6)
            .as("novelty"))
        .select(col("id").as("doc_id"), col("n_grams"), col("n_unique"),
          col("novelty"))
        .orderBy(col("doc_id"))
    }),

    // Containment (overlap-coefficient) pairs: doc-in-doc detection — the
    // asymmetric sibling of the Jaccard mine (a quote inside a long host
    // scores ~1.0 here and fails every Jaccard threshold). Runs the
    // operator's DEFAULT, which since round 12 is the GOVERNED mine
    // (VERDICT r11 item 1: the fixed 256 cap measured 90.9× at 100×
    // constant density — the closest-to-bar number in the repo — while
    // the self-sizing cap holds 65.8×): the df cap self-sizes by an exact
    // pre-flight expansion estimate against a 2048-expansions-per-doc
    // budget, walking the 256…8 ladder. The cap choice is a pure function
    // of the string-gram df profile, so the oracle replays the CHOICE and
    // the mine bit-for-bit — chosen_cap rides the rows as a pinned
    // column, and the pairs the chosen cap trades vs the fixed-256
    // override gate (20 vs 25 at sf0.01) make the governed erosion
    // visible. No size prune by design (skew IS the signal).
    "dedup_containment" -> ((s, dir) => {
      val (hashed, _, _) = dedupFront(s, dir)
      // blindEmptyGuard = None: the gate PINS the measured sf0.1 cliff —
      // the governed mine legitimately returns zero pairs there (chosen
      // cap 256, dropped gram mass 0.83; the oracle replays the same
      // empty set), which is exactly the blind-empty shape the engine
      // DEFAULT refuses loudly (r14 verdict item 4; DedupSpec pins the
      // throw on the template-cluster corpus).
      // gramDf deliberately NOT passed (r16 §8): the checkpointed table in
      // the mine's df-filter join flipped the pair join to SMJ — 2× slower
      // at the 10× probe; the governed path's inline df subplan keeps the
      // AQE-measured fast shape.
      val (pairs, cap) = Dedup.containmentPairsGoverned(hashed,
        threshold = 0.5, blindEmptyGuard = None)
      pairs.select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"),
        lit(cap).as("chosen_cap"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The EXPLICIT fixed-cap override (df ≤ 256): the pinned-recall
    // surface for callers that need a scale-independent cap rule — kept
    // as a first-class gate so the override path stays oracle-green and
    // the governed default's recall trade stays measurable against it.
    "dedup_containment_fixed" -> ((s, dir) =>
      // gramDf deliberately NOT passed (r16 §8): the memoized checkpoint in
      // the df-filter join replaced the mine's inline aggregation subplan
      // and flipped the pair join to a statically-planned SMJ — measured
      // 7.1 → 14.5 s warm at the 10× probe with 4.7 GB sort spill
      Dedup.containmentPairsFromHashes(dedupFront(s, dir)._1,
        threshold = 0.5, maxDocFreq = 256)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b"))),

    // PageRank over the co-purchase part graph (parts sharing an order,
    // symmetrized — so no dangling mass), 3 synchronous rounds from the
    // uniform start. Each round is one join + one agg keyed on the node
    // id; the oracle unrolls the same three rounds as chained CTEs and
    // recomputes every rank (round 9 kills summation-order ULP noise).
    HL("graph_pagerank") -> ((s, dir) => {
      // gate slice: 1/5 of the order stream — graph cost scales with
      // part-degree² (wedges) and edges×iters (rank); the operator is
      // size-agnostic, the gate need not pay the full-corpus constant
      // r16: the four graph gates share the memoized edge front (identical
      // edge values — see graphEdgeFront)
      val edges = graphEdgeFront(s, dir)
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy(col("node"))
    }),

    // Triangle census of the co-purchase graph (degree-ordered
    // compact-forward: wedges enumerated at the (deg,id)-smallest vertex
    // only, so per-node wedge fan-out is O(√m) even under hubs); the
    // oracle replays the identical orientation relationally.
    HL("graph_triangles") -> ((s, dir) => {
      // same 1/5 order-stream slice as graph_pagerank (wedge work scales
      // with part-degree squared)
      // r16: the four graph gates share the memoized edge front (identical
      // edge values — see graphEdgeFront)
      val edges = graphEdgeFront(s, dir)
      graft.operators.Graph.triangleStats(edges, "src", "dst")
    }),

    // Governed triangle ESTIMATOR gated against the exact census (r13
    // item 4 — the graph family's budget knob for the 100× story): the
    // DOULION hash-coin sample must land within 15% of the exact count
    // (expected rel-σ ≤4% at gate scale, deterministic realization). The
    // oracle recomputes the exact census relationally and pins the
    // within-bar boolean TRUE — estimator drift goes RED, not unnoticed.
    "graph_triangles_estimate" -> ((s, dir) => {
      // r16: the four graph gates share the memoized edge front (identical
      // edge values — see graphEdgeFront)
      val edges = graphEdgeFront(s, dir)
      val exact = graft.operators.Graph.triangleStats(edges, "src", "dst")
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
      val est = graft.operators.Graph
        .triangleStatsEstimate(edges, "src", "dst", p = 0.5)
        .select(col("n_triangles_est"))
      exact.crossJoin(est).select(
        col("n_nodes"), col("n_edges"), col("n_triangles"),
        (abs(col("n_triangles_est") - col("n_triangles")) <=
          col("n_triangles") * 0.15).as("within_bar"))
    }),

    // Multi-source BFS over the same co-purchase slice: minimum hop
    // distance from the seed set {parts ≡ 0 mod 97} out to 3 hops,
    // frontier-expanded (each node's edges walked once). The oracle walks
    // the identical graph with a distinct-union recursive CTE and folds
    // min(dist) per node.
    "graph_bfs" -> ((s, dir) => {
      // r16: the four graph gates share the memoized edge front (identical
      // edge values — see graphEdgeFront)
      val edges = graphEdgeFront(s, dir)
      val sources = edges.select(col("src").as("node")).distinct()
        .where(col("node") % 97 === 0)
      graft.operators.Graph.bfsDistances(edges, "src", "dst",
        sources, "node", maxHops = 3)
        .select(col("node"), col("dist").cast("long").as("dist"))
        .orderBy(col("node"))
    }),

    // Corpus-level exact chunk dedup (C4/CCNet line dedup, word-window
    // form): later occurrences of a 10-word chunk seen anywhere in the
    // corpus are dropped, first (doc,pos) occurrence kept. One shuffle on
    // the chunk for keep-first, one back to the doc for reassembly.
    HL("dedup_lines") -> ((s, dir) =>
      Dedup.corpusChunkDedup(spread(tbl(s, dir, "documents")),
        "doc_id", "text", windowWords = 10)
        .orderBy(col("doc_id"))),

    "text_stats" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"),
        T.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))),

    "text_quality" -> ((s, dir) => {
      val counters = T.qualityCounters(col("text"))
        .map { case (n, c) => c.cast("long").as(n) }
      tbl(s, dir, "documents")
        .select((col("doc_id") +: counters): _*)
        .orderBy(col("doc_id"))
    }),

    // Composite quality score in [0,1]: token-count saturation + low
    // punctuation/digit density — the filterable form of the counters.
    "text_quality_score" -> ((s, dir) =>
      qualityScored(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
        .where(col("quality") >= 0.5)
        .orderBy(col("doc_id"))),

    // Model-based quality gate: hashed-feature linear classifier score
    // (the fastText shape — hashing-trick buckets, per-bucket weight,
    // mean → sigmoid) per document, computed entirely inside whole-stage
    // codegen on arrays: no explode, no shuffle, no UDF. Deterministic
    // stand-in weights (salted md5 of the bucket id) let the DuckDB
    // oracle replay the score bit-for-bit; `keep` compares the ROUNDED
    // score so the boundary is stable across engines.
    "text_quality_classifier" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          graft.functions.TextFunctions.hashedLinearScore(col("text"))
            .as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity scoring: an add-k bigram LM trained on the
    // corpus itself scores every doc; the oracle recomputes the identical
    // counts and smoothed probabilities (round 6 kills summation-order
    // ULP). The model is join-structured — the count tables stay
    // distributed, keyed on the bigram.
    HL("text_perplexity") -> ((s, dir) =>
      graft.operators.LangModel.bigramPerplexity(
        tbl(s, dir, "documents"), "doc_id", "text", k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll"), round(col("ppl"), 6).as("ppl"))
        .orderBy(col("doc_id"))),

    // BM25 ranked retrieval: query terms broadcast into a map-side isin
    // filter before any shuffle; final cut is a TakeOrderedAndProject on
    // the ROUNDED score (stable across engines/summation orders).
    HL("text_bm25") -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(tbl(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "vector", "customer"), k = 20)),

    // Index-backed BM25: postings landed partitioned by term-hash bucket,
    // the query reads ONLY its terms' partitions (|terms|/nBuckets of the
    // index at 100 TB) and must score identically to the ad-hoc path —
    // the oracle is the same SQL as text_bm25.
    "text_bm25_indexed" -> ((s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft_ii_").toString
      graft.operators.Retrieval.buildIndex(tbl(s, dir, "documents"),
        "doc_id", "text", path)
      graft.operators.Retrieval.searchIndex(s, path,
        Seq("spark", "vector", "customer"), k = 20)
    }),

    // Hybrid retrieval: BM25 lexical leg + embedding-cosine semantic leg
    // fused by reciprocal-rank fusion (rank-based, so the legs' unrelated
    // score scales never meet). Both legs are 50-deep shortlists produced
    // by their own scale paths; the fusion runs on ≤100 rows.
    HL("retrieval_hybrid_rrf") -> ((s, dir) => {
      val lex = graft.operators.Retrieval.bm25TopK(tbl(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "vector", "customer"), k = 50)
      val sem = Similarity.bruteForceTopK(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 50)
      graft.operators.Retrieval.rrfFuse(
        Seq((lex, "doc_id", "score"), (sem, "vec_id", "cos")), k = 20)
    }),

    // Bloom-reduced semi join must be result-identical to the plain semi
    // join (the oracle IS the plain semi join): the bloom pre-filter cuts
    // the probe shuffle; the exact join removes false positives.
    HL("bloom_semi_join") -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      val hot = tbl(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      graft.operators.BloomJoin.bloomSemiJoin(li, hot,
        "l_orderkey", "o_orderkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Salted skew join must be result-identical to the plain join (the
    // oracle IS the plain join) — gates the skew-mitigation operator.
    "skew_salted_join" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").withColumnRenamed("l_orderkey", "k")
      val ord = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice"))
      graft.operators.SkewJoin.saltedInnerJoin(li, ord, "k", saltFactor = 7)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("k"))
    }),

    "text_langid" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        T.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Unicode NFC normalization (custom Catalyst expression): decomposed
    // sequences are appended to every row, normalization must fold them to
    // composed form — char counts shrink, byte-identical to DuckDB's
    // nfc_normalize.
    "text_nfc" -> ((s, dir) => {
      val decomposed = concat(col("text"),
        lit(" cafe\u0301 e\u0301 A\u030A")) // combining acute x2, ring
      tbl(s, dir, "documents")
        .select(col("doc_id"), decomposed.as("dirty"))
        .select(col("doc_id"),
          T.nfcNormalize(col("dirty")).as("clean"),
          length(col("dirty")).cast("long").as("n_before"),
          length(T.nfcNormalize(col("dirty"))).cast("long").as("n_after"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (MOSS): per-window rightmost-min gram hash,
    // entirely map-side (no shuffle until the final tiny digest sort) —
    // any shared substring ≥ w+k-1 chars surfaces a common fingerprint.
    // md5 grams by design: the digest is a cross-engine reconciliation
    // artifact, and the oracle replays the selection relationally.
    HL("text_winnow") -> ((s, dir) =>
      graft.operators.Winnow.digests(spread(tbl(s, dir, "documents")),
        "doc_id", "text", k = 8, w = 4)
        .orderBy(col("doc_id"))),

    "text_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        T.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // URL canonicalization: mixed-case host, tracking params, and fragment
    // are synthesized per doc; the canon form (lowercased scheme+host ONLY,
    // tracking stripped, fragment dropped, no dangling separators) is the
    // web-corpus dedup key. Full-string oracle.
    "text_url_canonicalize" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM/Docs/Path"), col("doc_id") % 7,
        lit("/?utm_source=feed&id="), col("doc_id"),
        lit("&utm_campaign=x&gclid=abc#section-"), col("doc_id") % 3)
      tbl(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), T.canonicalizeUrl(col("url")).as("canon_url"))
        .orderBy(col("doc_id"))
    }),

    // Gopher quality rules (Rae et al. 2021 §A1.1): the published heuristic
    // battery, evaluated in PURE integer arithmetic (3n <= chars <= 10n
    // etc.) so the keep decision is engine-exact with no float compares.
    HL("text_gopher_rules") -> ((s, dir) => {
      val counters = T.gopherCounters(col("text"))
      tbl(s, dir, "documents")
        .select(col("doc_id") +: counters.map { case (n, c) => c.as(n) }: _*)
        .withColumn("keep", T.gopherKeep(col("n_words"), col("n_word_chars"),
          col("n_alpha_words"), col("n_symbols"), minWords = 20))
        .orderBy(col("doc_id"))
    }),

    // C4 line filter (Raffel et al. 2020 §2.2): keep lines ending in
    // terminal punctuation with >= 5 words. The synthetic docs carry no
    // punctuation, so the fixture builds three lines per doc from its word
    // array — an 8-word sentence (kept), a 3-word sentence (too short),
    // and a 6-word fragment with no terminal punct (dropped) — and the
    // filter must keep exactly the first. Full cleaned-string oracle.
    "text_c4_lines" -> ((s, dir) => {
      val words = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
      val lined = concat_ws("\n",
        concat(array_join(slice(words, 1, 8), " "), lit(".")),
        concat(array_join(slice(words, 9, 3), " "), lit(".")),
        array_join(slice(words, 12, 6), " "))
      tbl(s, dir, "documents").select(col("doc_id"), lined.as("lined"))
        .select(col("doc_id"),
          T.c4LineFilter(col("lined"), minWords = 5).as("clean_text"),
          size(split(col("lined"), "\n")).cast("long").as("n_lines"))
        .withColumn("n_kept", when(length(col("clean_text")) === 0, lit(0L))
          .otherwise(size(split(col("clean_text"), "\n")).cast("long")))
        .orderBy(col("doc_id"))
    }),

    // HTML boilerplate stripping: each doc is wrapped in a synthetic page
    // (tags + script/style blocks + entities) and the strip must recover
    // the text — full-string oracle, the strongest possible check. The
    // script body contains a bare '<' to prove block removal runs before
    // tag removal.
    "text_strip_html" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body class=\"x\"><p>"),
        col("text"),
        lit("</p><script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<br/>&quot;tail&quot; &amp;&nbsp;&lt;end&gt;</body></html>"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), T.stripHtml(html).as("clean_text"))
        .withColumn("n_clean", length(col("clean_text")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub: synthetic email+IP appended per row, then redacted — the
    // audit count proves the scrub saw them.
    "text_redact_pii" -> ((s, dir) => {
      val dirty = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com from 10.0.0."),
          pmod(col("doc_id"), lit(256))).as("dirty"))
      dirty.select(col("doc_id"), T.redactPii(col("dirty")).as("clean"),
        T.piiCount(col("dirty")).as("n_pii"))
        .orderBy(col("doc_id"))
    }),

    // Flagship LLM corpus-prep pipeline — the composed form of the
    // individual operators, end to end: exact dedup (md5 fingerprint,
    // min-id representative) → quality-score filter → language filter →
    // overlapping chunking with token counts. Every stage is individually
    // oracle-proven; this query gates the composition.
    HL("pipeline_corpus_prep") -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val keep = Dedup.dedupExactByFingerprint(docs, "doc_id", "text")
        .select(col("doc_id"))
      val kept = docs.join(keep, "doc_id")
      val filtered = qualityScored(kept)
        .where(col("quality") >= 0.5)
        .where(T.langId(col("text")) === "en")
      val toks = filtered.select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      toks.select(col("doc_id"),
        posexplode(T.chunkTokens(col("toks"), 50, 40))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          T.tokenCount(col("chunk")).cast("long").as("chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Fixed-size overlapping chunking (50-token windows, stride 40).
    "text_chunking" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      toks.select(col("doc_id"),
        posexplode(T.chunkTokens(col("toks"), 50, 40))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"), T.tokenCount(col("chunk")).cast("long").as("chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ------------------------------------------- similarity / embeddings

    "embed_norm" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        round(V.l2Norm(col("embedding")), 4).as("l2_norm"))
        .orderBy(col("vec_id"))),

    // Symmetric int8 quantization (the ANN memory lever: 4× smaller
    // vectors): scale materialized as an attribute FIRST — a lambda-
    // captured scale expression would re-evaluate the max-fold per element
    // (the Generate-collapse trap's transform() sibling). Quantized codes
    // are integers, so sum/saturation compare exactly; only the scale
    // itself is rounded.
    HL("embed_quantize") -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          V.int8Scale(col("embedding")).as("s"))
        .select(col("vec_id"), col("s"),
          V.quantizeInt8(col("embedding"), col("s")).as("q"))
        .select(col("vec_id"), round(col("s"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy(col("vec_id"))),

    // Hot-key profile: the pre-join skew diagnostic (share of rows + lift
    // over uniform) that decides whether/how much to salt. Partial-agg
    // groupBy + broadcast 1-row totals + TakeOrderedAndProject.
    HL("skew_hot_keys") -> ((s, dir) =>
      graft.operators.SkewJoin.hotKeyProfile(
        tbl(s, dir, "lineitem"), "l_suppkey", topN = 20)),

    // Embedding-space outlier signal: cosine of every vector to its own
    // label centroid (VecMean partial agg → broadcast → map-side score).
    "embed_outliers" -> ((s, dir) =>
      Similarity.centroidDistances(tbl(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy(col("vec_id"))),

    HL("sim_bruteforce_topk") -> ((s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 10)),

    // LSH-bucketed ANN quality gate: exact top-k count + cos-sum (DuckDB-
    // recomputable) and a recall-floor boolean over the bucket-dependent ANN
    // hits. Multi-probe Hamming radius 2 over a 4-bit signature (11 of 16
    // buckets): the fixture's 64-dim noisy embeddings give per-bit collision
    // barely above chance, so honest recall needs a wide probe — measured
    // 0.8/1.0/1.0 at sf0.001/0.01/0.1 vs single-probe 0.1; floor 0.7.
    // Raw top-k + probe-dominance in SimilaritySpec.
    HL("sim_ann_lsh") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.annQualityMetrics(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 10, nBits = 4,
          probeRadius = 2),
        "vec_id", recallFloor = 0.7)
    }),

    // IVF-cell ANN quality gate: 2 Lloyd refinement iterations (map-side
    // assignment + O(cells×dims) VecMean shuffle) then probe 8 of 16 cells.
    // 64-dim embeddings scatter true neighbors, so honest recall (query is
    // NOT a seed centroid) needs trained centroids + a wide probe —
    // measured 0.8/1.0/1.0 at sf0.001/0.01/0.1; floor 0.5.
    HL("sim_ann_ivf") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.annQualityMetrics(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
          nLists = 16, nProbe = 8, kMeansIters = 2),
        "vec_id", recallFloor = 0.5)
    }),

    // The persisted-layout IVF path: train + land the corpus partitioned by
    // cell (Hive layout) and a centroid sidecar, then answer the query by
    // reading ONLY the probed cell partitions (partition pruning pinned in
    // PlanAuditSpec). Same quality gate as sim_ann_ivf; the 1-row query-
    // vector collect is the bounded broadcast-build idiom.
    HL("sim_ann_ivf_persisted") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = ivf16Front(s, dir)
      val qVec = emb.where(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.annQualityMetrics(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Similarity.ivfReadTopK(s, path, qVec, Some(0L), 10, nProbe = 8),
        "vec_id", recallFloor = 0.5)
    }),

    // Product-quantization ANN quality gate (Jégou et al. TPAMI'11): 16×32
    // sub-codebooks (2 Lloyd iterations), 64-candidate ADC shortlist on the
    // compressed codes, exact re-rank. The codes are the 100 TB lever: a
    // persisted code table is ~(4d/m)× smaller than the raw vectors (16× at
    // d=64, m=16), so the full-corpus sweep reads a fraction of the bytes.
    // Same oracle split as the LSH/IVF gates: exact side recomputed in
    // DuckDB, codebook-dependent recall pinned as a floor boolean (measured
    // 10/10 at sf0.001/0.01/0.1 across repeated runs — the fixtures' noisy
    // 64-dim embeddings need the fine 4-dim subspaces; coarser m=8 codes
    // measured 3-7/10. Floor 0.5 leaves margin).
    HL("sim_ann_pq") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.annQualityMetrics(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
          m = 16, ksub = 32, kMeansIters = 2, rerank = 64),
        "vec_id", recallFloor = 0.5)
    }),

    // The persisted-layout PQ path: train + land the compressed codes table
    // ((4d/m)× smaller than the vectors), the unit vectors, and the
    // codebook sidecar; answer the query by sweeping ONLY the codes table
    // (the bytes win at 100 TB) and fetching the shortlisted rows for the
    // exact re-rank via a broadcast semi-join. Same gate as sim_ann_pq.
    HL("sim_ann_pq_persisted") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = annLayout(s, dir, "pq")(p => Similarity.pqWrite(
        emb, "vec_id", "embedding", p, m = 16, ksub = 32, kMeansIters = 2,
        codebookIn = Some(pqCb16(s, dir))))
      val qVec = emb.where(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.annQualityMetrics(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Similarity.pqReadTopK(s, path, qVec, Some(0L), 10, rerank = 64),
        "vec_id", recallFloor = 0.5)
    }),

    // BATCH ANN over the persisted IVF layout: a DATAFRAME of queries (every
    // 25th vector) kNN'd against the cell-partitioned index in ONE plan —
    // map-side probe assignment, static probed-cell partition pruning,
    // broadcast cell-join, TopKPerKey k-cut — no driver loop over queries.
    // Gate: macro-averaged recall vs the per-query exact batch brute force;
    // the exact side's counts and integer-scaled cos-sum recompute in
    // DuckDB. Measured mean recall 0.795/0.845/0.787 at sf0.001/0.01/0.1
    // (BASELINE.md round-9 late additions); per-SF floors ~0.1 under.
    HL("sim_ann_ivf_batch") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = ivf16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 10),
        Similarity.ivfBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8),
        "vec_id", recallFloor = sfFloor(dir, 0.69, 0.74, 0.68))
    }),

    // FILTERED ANN (predicate + vector search — the production retrieval
    // shape: "nearest en-quality docs", not just "nearest docs"): the
    // metadata predicate runs over payload attributes persisted INTO the
    // cell layout (ivfWrite payloadCols), composed INTO the pruned cell
    // scan as a parquet pushed filter — candidates are restricted BEFORE
    // the per-query top-k cut, so the k results are the best k MATCHING
    // vectors (post-filtering a top-k shortlist silently under-fills k
    // and loses recall). Gate: macro recall vs the FILTERED brute force
    // (same exact-side aggregates recomputed in DuckDB with the predicate
    // in the pair sweep). Plan pinned in PlanAuditSpec: label predicate in
    // PushedFilters alongside the probed-cell partition filter. Measured
    // mean recall 0.835/0.795/0.779 at sf0.001/0.01/0.1, zero predicate
    // leaks (BASELINE.md round-10 filtered ANN); per-SF floors ~0.1 under.
    HL("sim_ann_ivf_filtered") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = ivf16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      val pred = col("label") <= 3
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb.where(pred), "vec_id",
          "embedding", queries, "vec_id", "embedding", 10),
        Similarity.ivfBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8, filter = Some(pred)),
        "vec_id", recallFloor = sfFloor(dir, 0.73, 0.69, 0.67))
    }),

    // Filtered ANN on the QUANTIZED tier: the same predicate-before-top-k
    // contract through the SQ8 layout — payload persisted in the CODES
    // table (the shortlist source), filter applied ahead of the approx
    // sweep, rerank inheriting the filtered shortlist by id. Same gate
    // family/oracle as sim_ann_ivf_filtered. Measured mean recall
    // 0.940/0.945/0.924 at sf0.001/0.01/0.1, zero leaks (BASELINE.md
    // round-10 filtered ANN — ABOVE the raw-IVF tier's: nProbe=12 vs 8
    // and the exact rerank recovers quantization loss); per-SF floors
    // ~0.1 under.
    HL("sim_ann_ivfsq_filtered") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = sq16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      val pred = col("label") <= 3
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb.where(pred), "vec_id",
          "embedding", queries, "vec_id", "embedding", 10),
        Similarity.ivfSqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 12, rerank = 64, filter = Some(pred)),
        "vec_id", recallFloor = sfFloor(dir, 0.84, 0.84, 0.82))
    }),

    // Filtered ANN on the IVFADC tier — the filter now spans every
    // quantized read path (raw IVF / SQ8 / IVFADC): payload in the codes
    // table, predicate ahead of the ADC sweep, rerank inherits the
    // filtered shortlist. Measured mean recall 0.930/0.935/0.870 at
    // sf0.001/0.01/0.1, zero leaks; per-SF floors ~0.1 under.
    HL("sim_ann_ivfpq_filtered") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = ivfpq16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      val pred = col("label") <= 3
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb.where(pred), "vec_id",
          "embedding", queries, "vec_id", "embedding", 10),
        Similarity.ivfPqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 12, rerank = 64, filter = Some(pred)),
        "vec_id", recallFloor = sfFloor(dir, 0.83, 0.83, 0.77))
    }),

    // BATCH ANN over the persisted PQ layout: per-query ADC tables built
    // map-side on the query frame (ksub·d per query), the |Q|×|corpus|
    // sweep pays m table lookups per pair over the compressed codes table,
    // shortlists cut by TopKPerKey, exact re-rank on |Q|·rerank vector
    // rows. Same gate family as sim_ann_ivf_batch; measured mean recall
    // 0.985/0.965/0.842 at sf0.001/0.01/0.1 (BASELINE.md round 9); per-SF
    // floors ~0.1 under.
    HL("sim_ann_pq_batch") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = annLayout(s, dir, "pq")(p => Similarity.pqWrite(
        emb, "vec_id", "embedding", p, m = 16, ksub = 32, kMeansIters = 2,
        codebookIn = Some(pqCb16(s, dir))))
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 10),
        Similarity.pqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, rerank = 64),
        "vec_id", recallFloor = sfFloor(dir, 0.88, 0.86, 0.74))
    }),

    // IVFADC (Jégou et al. TPAMI'11 §V): IVF cell pruning composed IN
    // FRONT of the PQ code sweep — sim_ann_pq_batch's full-corpus ADC scan
    // (the #2-heaviest bench family) cut to nProbe/nLists of the codes
    // table, re-rank reads equally pruned. Same gate family as the other
    // batch ANN entries; measured mean recall 0.925/0.890/0.817 at
    // sf0.001/0.01/0.1 with nProbe=12 (BASELINE.md round 8); per-SF floors.
    HL("sim_ann_ivfpq_batch") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = ivfpq16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 10),
        Similarity.ivfPqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 12, rerank = 64),
        // per-SF floors ~0.1 under the measured 0.925/0.890/0.817
        "vec_id", recallFloor = sfFloor(dir, 0.82, 0.79, 0.71))
    }),

    // IVF-SQ8 (the Faiss IndexIVFScalarQuantizer shape): per-vector
    // symmetric int8 scalar quantization under IVF cell pruning — the
    // accuracy/memory middle point between raw-float IVF and PQ (d int8
    // codes + 1 scale per vector ≈ 4× under floats, far more accurate
    // than m-way PQ blocking). The approx sweep is scale·⟨codes, q⟩ via
    // one DotProduct primitive pass per (code-row, query); same probe
    // regimes + rerank as the PQ path. Same gate family; measured mean
    // recall 0.940/0.905/0.944 at sf0.001/0.01/0.1 with nProbe=12
    // (BASELINE.md round-9 late additions); per-SF floors.
    HL("sim_ann_ivfsq_batch") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = sq16Front(s, dir)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 10),
        Similarity.ivfSqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 12, rerank = 64),
        // per-SF floors ~0.1 under the measured 0.940/0.905/0.944
        "vec_id", recallFloor = sfFloor(dir, 0.84, 0.80, 0.84))
    }),

    // Incremental index maintenance: a 20% batch appended to a persisted
    // IVF layout WITHOUT retrain (assign against the existing sidecar
    // centroids, append into the cell partitions — what Faiss
    // IndexIVF.add does). Deterministic gate: every appended vector,
    // queried back through the batch read at nProbe=1, retrieves itself
    // at cos 1.0 — the assignment IS the read side's first probe cell by
    // construction (withCellAssignment/probeCellsColHier share the
    // candidate set and tie-breaks).
    HL("sim_ann_ivf_append") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val path = copyLayout(ivfCorpusFront(s, dir))
      Similarity.ivfAppend(batch, "vec_id", "embedding", path)
      Similarity.ivfBatchTopK(s, path, batch, "vec_id", "embedding",
          1, nProbe = 1, excludeSelf = false)
        .agg(count(lit(1)).as("n_queries"),
          (min(col("cos")) === 1.0).as("self_ok"))
    }),

    // Maintenance lifecycle closed end-to-end: write → two nightly appends
    // (each touched cell gains a file per batch) → compact (only
    // fragmented cells rewritten, dynamic partition overwrite) → read.
    // Deterministic facts: the read-back row count is the full corpus and
    // the compaction both fired and left every cell within the file cap.
    "sim_ann_ivf_compact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = copyLayout(ivfCorpusFront(s, dir))
      Similarity.ivfAppend(emb.where(pmod(col("vec_id"), lit(5)) === 0 &&
        pmod(col("vec_id") / 5, lit(2)) === 0), "vec_id", "embedding", path)
      Similarity.ivfAppend(emb.where(pmod(col("vec_id"), lit(5)) === 0 &&
        pmod(col("vec_id") / 5, lit(2)) === 1), "vec_id", "embedding", path)
      val n = Similarity.ivfCompact(s, path, maxFilesPerCell = 2)
      val maxAfter = new java.io.File(s"$path/corpus").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
      s.read.parquet(s"$path/corpus")
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("compacted_ok", lit(n > 0 && maxAfter <= 2))
    }),

    // IVFADC maintenance twin of sim_ann_ivf_append: a 20% batch encoded
    // with the PERSISTED codebook, assigned from the persisted centroids,
    // appended to BOTH the codes and vectors tables — no retrain. Gate:
    // every appended vector retrieves itself at cos 1.0 through the full
    // IVFADC read (ADC sweep over its probed cell → shortlist → exact
    // re-rank); nLists ∝ n keeps cells ≈125 rows so rerank=256 covers the
    // whole probed cell and the shortlist cut cannot drop self.
    HL("sim_ann_ivfpq_append") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val path = copyLayout(ivfpqCorpusFront(s, dir))
      Similarity.ivfPqAppend(batch, "vec_id", "embedding", path)
      Similarity.ivfPqBatchTopK(s, path, batch, "vec_id", "embedding",
          1, nProbe = 1, rerank = 256, excludeSelf = false)
        .agg(count(lit(1)).as("n_queries"),
          (min(col("cos")) === 1.0).as("self_ok"))
    }),

    // IVF-BQ (binary quantization — the memory FLOOR of the spectrum,
    // 1 bit/dim = 32× under raw floats; Faiss IndexBinaryIVF): sign-bit
    // words under IVF cell pruning, Hamming shortlist (XOR+POPCNT per
    // word), exact rerank. Hamming over d=64 sign bits is coarse (65
    // distinct values), hence the generous rerank. Measured mean recall
    // 0.840/0.805/0.675 at sf0.001/0.01/0.1 with nProbe=12 rerank=128
    // (BASELINE.md round-9 late additions); per-SF floors ~0.1 under those.
    HL("sim_ann_ivfbq_batch") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_").toString
      Similarity.ivfBqWrite(emb, "vec_id", "embedding", path,
        nLists = 16, kMeansIters = 2,
        centroidsIn = Some(unitCents16(s, dir)))
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.annBatchQualityMetrics(
        Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 10),
        Similarity.ivfBqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 12, rerank = 128),
        "vec_id", recallFloor = sfFloor(dir, 0.74, 0.70, 0.57))
    }),

    // SQ maintenance twin: the scalar quantizer has NO trained state (the
    // scale is per-vector), so append is assign + quantize + append into
    // both tables — the simplest of the maintenance family. Same
    // self-retrieval gate as its siblings; compaction is layout-generic
    // (ivfCompact over codes+vectors, gated in sim_ann_ivfpq_compact).
    "sim_ann_ivfsq_append" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val nLists = math.max(16, (corpus.count() / 125L).toInt)
      val path = java.nio.file.Files.createTempDirectory("graft_sqap_").toString
      Similarity.ivfSqWrite(corpus, "vec_id", "embedding", path,
        nLists = nLists, kMeansIters = 1,
        centroidsIn = Some(unitCentsCorpus80(s, dir, nLists)))
      Similarity.ivfSqAppend(batch, "vec_id", "embedding", path)
      Similarity.ivfSqBatchTopK(s, path, batch, "vec_id", "embedding",
          1, nProbe = 1, rerank = 256, excludeSelf = false)
        .agg(count(lit(1)).as("n_queries"),
          (min(col("cos")) === 1.0).as("self_ok"))
    }),

    // IVFADC compaction closed over BOTH layout tables: two appends leave
    // ≥3 files in every touched codes AND vectors cell; ivfCompact runs
    // per subdir (staged rewrite + per-cell rename swap — nothing deleted
    // before its replacement is durable) and must leave both within the
    // file cap with all rows intact.
    "sim_ann_ivfpq_compact" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val path = copyLayout(ivfpqCorpusFront(s, dir))
      Similarity.ivfPqAppend(emb.where(pmod(col("vec_id"), lit(5)) === 0 &&
        pmod(col("vec_id") / 5, lit(2)) === 0), "vec_id", "embedding", path)
      Similarity.ivfPqAppend(emb.where(pmod(col("vec_id"), lit(5)) === 0 &&
        pmod(col("vec_id") / 5, lit(2)) === 1), "vec_id", "embedding", path)
      val nCodes = Similarity.ivfCompact(s, path, "codes", maxFilesPerCell = 2)
      val nVecs = Similarity.ivfCompact(s, path, "vectors", maxFilesPerCell = 2)
      // cell dirs recursively: ivfpqCorpusFront sizes nLists ∝ corpus, so
      // above HierThreshold the layout nests cell= under super= — a
      // flat-only listing returns no cells and .max throws (r12 review)
      def maxFiles(sub: String): Int = {
        def cells(d: java.io.File): Seq[java.io.File] =
          d.listFiles().toSeq.flatMap { f =>
            if (f.getName.startsWith("cell=")) Seq(f)
            else if (f.getName.startsWith("super=")) cells(f)
            else Nil
          }
        cells(new java.io.File(s"$path/$sub"))
          .map(_.listFiles().count(_.getName.endsWith(".parquet")))
          .maxOption.getOrElse(0)
      }
      s.read.parquet(s"$path/codes").agg(count(lit(1)).as("n_codes"))
        .crossJoin(s.read.parquet(s"$path/vectors")
          .agg(count(lit(1)).as("n_vectors")))
        .withColumn("compacted_ok", lit(nCodes > 0 && nVecs > 0 &&
          maxFiles("codes") <= 2 && maxFiles("vectors") <= 2))
    }),

    // The BROADCAST-JOIN probe regime measured, not asserted (r8 verdict):
    // joinThreshold=0 forces probe assignment through the broadcast
    // centroid JOIN (supers literal, children by join + TopKPerKey cut) —
    // the 100× regime where nLists is too large for plan literals. Layout
    // forced two-level (nLists ≥ 128 > HierThreshold). excludeSelf=false:
    // every query's own row rides its first probe cell, so it always
    // returns k results (full_k pins it) and self_ok pins assignment/read
    // agreement across the join regime.
    HL("sim_ann_ivf_batch_scan_join") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nLists = math.max(128, (emb.count() / 125L).toInt)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfbj_").toString
      Similarity.ivfWrite(emb, "vec_id", "embedding", path,
        nLists = nLists, kMeansIters = 1)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.ivfBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8, excludeSelf = false, joinThreshold = 0)
        .agg(count_distinct(col("q_id")).as("n_queries"),
          (count(lit(1)) === count_distinct(col("q_id")) * 10).as("full_k"),
          (max(col("cos")) === 1.0).as("self_ok"))
    }),

    // Scale-probe variant of the IVFADC batch read: nLists ∝ n (cells
    // ≈125 rows) as in sim_ann_ivf_batch_scan, so the per-query ADC sweep
    // touches a constant candidate set and batch cost tracks |queries|.
    // Count-only oracle (every query probes ≥8 cells of ≈125 rows, and
    // rerank=64 ≥ k=10 candidates always survive → exactly k rows/query);
    // the recall floor is gated separately in sim_ann_ivfpq_batch.
    HL("sim_ann_ivfpq_batch_scan") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nLists = math.max(16, (emb.count() / 125L).toInt)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfpqs_").toString
      Similarity.ivfPqWrite(emb, "vec_id", "embedding", path,
        nLists = nLists, m = 16, ksub = 32, kMeansIters = 1,
        centroidsIn = Some(unitCentsScan(s, dir, nLists)))
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.ivfPqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8, rerank = 64)
        .agg(count_distinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
    }),

    // IVF-SQ8 at the at-scale layout policy (nLists ∝ n), same count-only
    // oracle as its ivfpq sibling: the SQ read shares the whole probe
    // machinery; its only distinct term is the int8 codes sweep.
    HL("sim_ann_ivfsq_batch_scan") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nLists = math.max(16, (emb.count() / 125L).toInt)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfsqs_").toString
      Similarity.ivfSqWrite(emb, "vec_id", "embedding", path,
        nLists = nLists, kMeansIters = 1,
        centroidsIn = Some(unitCentsScan(s, dir, nLists)))
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.ivfSqBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8, rerank = 64)
        .agg(count_distinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
    }),

    // Scale-probe variant of the batch ANN read: the AT-SCALE layout policy
    // (nLists ∝ n keeps cells ≈125 rows, the dedup_semantic convention), so
    // per-query candidate work is CONSTANT as the corpus grows and batch
    // cost is linear in |queries| — the property the scale10 entry
    // measures (queries grow 10× with the corpus; expected ratio ≈10×).
    // Deterministic count-only oracle (no brute-force side: the |Q|×n
    // exact sweep would dominate the timing and is gated separately in
    // sim_ann_ivf_batch).
    HL("sim_ann_ivf_batch_scan") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nLists = math.max(16, (emb.count() / 125L).toInt)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfbs_").toString
      Similarity.ivfWrite(emb, "vec_id", "embedding", path,
        nLists = nLists, kMeansIters = 1)
      val queries = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      Similarity.ivfBatchTopK(s, path, queries, "vec_id", "embedding",
          10, nProbe = 8)
        .agg(count_distinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"))
    }),

    // k-means clustering gate: 8 clusters, 3 Lloyd iterations over the
    // shared deterministic ivfModel path; n_total exact in the oracle,
    // the clustering facts (≤k clusters, own-centroid cohesion dominates
    // the global-mean baseline) as booleans.
    "embed_kmeans" -> ((s, dir) =>
      Similarity.kMeansMetrics(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 3)),

    // PCA gate (one-pass moments aggregation → driver Jacobi eigensolve →
    // metric split): d and the total per-dimension population variance are
    // engine-independent (total variance = covariance trace = Σⱼ var_pop —
    // the oracle recomputes both); the solver-dependent facts ride as
    // booleans (trace ≡ Σλ, orthonormality, top-8 variance floor — measured
    // captured fraction 0.20/0.20/0.16 at sf0.001/0.01/0.1 on the noisy
    // isotropic-ish fixtures; floor 0.125 = the r/d isotropic lower bound).
    "embed_pca" -> ((s, dir) =>
      graft.operators.Pca.metrics(tbl(s, dir, "embeddings"), "embedding",
        r = 8, varianceFloor = 0.125)),

    "embed_neardup_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", "label", threshold = 0.25)
        .orderBy(col("id_a"), col("id_b"))),

    // SemDeDup gate, the usual oracle split: exact aggregates (doc count,
    // label-blocked truth pairs at τ=0.3) recomputed bit-for-bit in DuckDB;
    // the cluster-dependent resolved fraction is a floor boolean (measured
    // 0.66/0.84/0.95 at sf0.001/0.01/0.1 with nLists=8 — recall rises with
    // density; floor 0.5 leaves margin). Removals are structurally sound by
    // construction — recall is the one free variable.
    HL("dedup_semantic") -> ((s, dir) => {
      // Constant-cell-size IVF (SemDeDup's k ∝ n policy): nLists grows
      // with the corpus so the per-cell pair join stays ~(250)² per cell —
      // the quadratic-in-cell-size lever the 10× scale run exposed at
      // fixed nLists (21× for 10× data). At every driver SF (≤2k vecs)
      // the formula still yields 8, so gate semantics are unchanged; the
      // one count() is a column-pruned scan.
      val emb = spread(tbl(s, dir, "embeddings"))
      val nLists = math.max(8, (emb.count() / 250L).toInt)
      Dedup.semanticDedupMetrics(emb, "vec_id",
        "embedding", "label", threshold = 0.3, nLists = nLists,
        kMeansIters = 2, resolvedFloor = 0.5)
    }),

    // Incremental SemDeDup: a new batch (vec_id % 5 == 0) deduped against
    // the persisted cell-partitioned corpus index — only touched cells are
    // read. Exact aggregates recomputed in DuckDB; the flagged fraction of
    // truth pairs is a floor boolean. Multi-probe assignment (nProbe=2:
    // each batch row also checks its second-nearest cell) lifts the
    // measured fraction from 0.71-0.96 to 0.82-1.00 across SFs at
    // nLists=8 — boundary-straddling pairs recovered; floor 0.75.
    HL("dedup_semantic_incremental") -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val path = java.nio.file.Files.createTempDirectory("graft_sdi_").toString
      Similarity.ivfWrite(spread(corpus), "vec_id", "embedding", path,
        nLists = 8, kMeansIters = 2)
      Dedup.semanticDedupIncrementalMetrics(batch, corpus, path,
        "vec_id", "embedding", "label", threshold = 0.3,
        flaggedFloor = 0.75, nProbe = 2)
    }),

    // ------------------------------------------------------- multimodal

    "mm_binary_meta" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
        .orderBy(col("doc_id"))),

    // Batch decode over binary media columns (stubbed codec, real dataflow).
    // Output is flattened to driver-sortable scalars (checksum + per-dim
    // feature columns) so the DuckDB oracle can hash-check the decode —
    // FNV-1a and chunked byte averages are exactly reproducible in list ops.
    "mm_features" -> ((s, dir) => {
      val media = graft.operators.Multimodal.mediaTableFromDocuments(
        tbl(s, dir, "documents"))
      val feats = graft.operators.Multimodal.decodeFeatures(s, media, dims = 8)
        .toDF()
      val dims = (0 until 8).map(d =>
        element_at(col("features"), d + 1).as(s"f$d"))
      feats.select((Seq(col("media_id"), col("mime"), col("n_bytes"),
        col("checksum")) ++ dims): _*)
        .orderBy(col("media_id"))
    }),

    // Frame-sampling fan-out (video-shaped dataflow) — deterministic byte
    // windows, oracled via DuckDB range + octet_length arithmetic.
    "mm_frames" -> ((s, dir) => {
      val media = graft.operators.Multimodal.mediaTableFromDocuments(
        tbl(s, dir, "documents"))
      graft.operators.Multimodal.sampleFrames(s, media, frameBytes = 32,
        stride = 64)
        .select(col("media_id"), col("frame_offset").cast("long").as("frame_offset"),
          length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy(col("media_id"), col("frame_offset"))
    }),

    // REAL codec round trip: deterministic tiny PNGs are encoded AND
    // decoded with javax.imageio on executors; width/height come from the
    // decoded pixel grid and channel means from decoded samples. PNG is
    // lossless, so the oracle recomputes the pixel formula arithmetically.
    // STREAMING perceptual image dedup: the media stream is fingerprinted
    // map-side per micro-batch (real decode in the typed mapPartitions)
    // and grouped on the dHash in Complete mode — the converged table
    // equals the batch mm_image_dedup, so it shares that oracle.
    "ev_stream_mm_dedup" -> ((s, dir) => {
      val src = memo.shared(s"mm_png:$dir") {
        val d = java.nio.file.Files.createTempDirectory("graft_evmm_").toString
        graft.operators.Multimodal.pngDupTableFromDocuments(
          s, tbl(s, dir, "documents"), nDistinct = 20)
          .write.mode("overwrite").parquet(d)
        d
      }
      val ss = streamSession(s)
      val out = graft.streaming.EventStreams.runToCompletion(
        graft.streaming.EventStreams.streamingPerceptualDedup(ss, src),
        s"evmm_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      out.select(col("dhash"), col("n_dups"), col("keeper"))
        .orderBy(col("dhash"))
    }),

    // Perceptual audio dedup: REAL WAV decode (javax.sound on executors) →
    // sign-of-energy-delta fingerprint (Haitsma–Kalker in the time domain,
    // 65 index-exact windows → 64 bits) → one hash-shuffle group. The
    // fixture plants duplicates on a shape-varying integer waveform the
    // oracle replays sample-exactly.
    "mm_audio_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.wavDupTableFromDocuments(
        s, tbl(s, dir, "documents"), nDistinct = 20)
      graft.operators.Multimodal.perceptualAudioDedup(s, media)
        .orderBy(col("ahash"))
    }),

    // Hamming-NEAR image pairs: dHash banded into 4×16-bit keys
    // (pigeonhole — lossless for distance ≤ 3), collision-only equi-join,
    // exact bit_count(xor) filter. The fixture plants exact duplicates AND
    // one-pixel-perturbed variants; the oracle is the EXACT all-pairs
    // Hamming join over formula-replayed hashes, so the banded path's
    // losslessness is what the hash compare proves.
    "mm_image_neardup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngNearDupTableFromDocuments(
        s, tbl(s, dir, "documents"), nDistinct = 20)
      graft.operators.Multimodal.imageNearDupPairs(s, media, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // STREAMING video fingerprinting: per-micro-batch container split +
    // real per-frame decode + dHash, Complete-mode per-video multiset
    // stats (count/min/max/bit_xor — the streaming-legal,
    // order-insensitive, integer-replayable statistics; distinct aggs are
    // unsupported in streaming). Converged table == the batch multiset ==
    // the DuckDB pixel-formula replay. The banded mine stays a batch job
    // over the maintained fingerprints (the ingest/mine split).
    "ev_stream_mm_video" -> ((s, dir) => {
      val src = videoMediaSrc(s, dir)
      val ss = streamSession(s)
      val out = graft.streaming.EventStreams.runToCompletion(
        graft.streaming.EventStreams.streamingVideoFingerprint(ss, src),
        s"evmv_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      out.select(col("media_id"), col("n_frames"), col("fhash_min"),
        col("fhash_max"), col("fhash_xor"))
        .orderBy(col("media_id"))
    }),

    // Perceptual VIDEO dedup — the sequence composition of the frame
    // machinery: length-prefixed real-PNG "videos" split map-side, each
    // frame dHash'd (real decode), MinHash over the frame-fingerprint SET,
    // banded LSH collision-only join, exact set-Jaccard verify on
    // candidates only. Fixture plants exact duplicates (Jaccard 1) and
    // one-frame-edited variants (7/9 ≈ 0.78); gate: exact-pair baseline
    // (video count, pair count, integer-scaled Jaccard sum — DuckDB
    // replays the frame hashes from the pixel formula) + banding recall
    // floor. At 8 bands × 2 rows the variant-pair catch probability is
    // 1−(1−0.778²)⁸ ≈ 0.999; floor 0.9.
    // media rides the SAME memoized parquet fixture as ev_stream_mm_video
    // (one PNG-container encode pass per sf dir, not one per consumer —
    // the dedup-front memoization pattern applied to the video family;
    // VERDICT r10 item 8), spread across cores for the decode.
    HL("mm_video_dedup") -> ((s, dir) => {
      val media = spread(s.read.parquet(videoMediaSrc(s, dir)))
      graft.operators.Multimodal.videoDedupMetrics(s, media,
        threshold = 0.7, bands = 8, rowsPerBand = 2, recallFloor = 0.9)
    }),

    // Perceptual image dedup: REAL decode (javax.imageio on executors) →
    // dHash fingerprint (integer luma 9×8 gradient sign bits, map-side) →
    // ONE hash-shuffle group — exact-dedup scale shape, never all-pairs.
    // The fixture plants duplicates (blob content keys on doc_id % 20);
    // the oracle replays decode+hash from the fixture's integer pixel
    // formula, so the 64-bit fingerprints are compared exactly.
    "mm_image_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngDupTableFromDocuments(
        s, tbl(s, dir, "documents"), nDistinct = 20)
      graft.operators.Multimodal.perceptualImageDedup(s, media)
        .orderBy(col("dhash"))
    }),

    "mm_image_decode" -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngTableFromDocuments(
        s, tbl(s, dir, "documents"))
      graft.operators.Multimodal.decodeMedia(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("features"), 1).as("mean_r"),
          element_at(col("features"), 2).as("mean_g"),
          element_at(col("features"), 3).as("mean_b"))
        .orderBy(col("media_id"))
    }),

    // REAL nearest-neighbor resize of the decoded PNG fixtures to a fixed
    // 3×2 grid — integer source indexing + raw channel values, so the
    // oracle recomputes every resized pixel from the fixture formula.
    HL("mm_image_resize") -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngTableFromDocuments(
        s, tbl(s, dir, "documents"))
      graft.operators.Multimodal.resizeTable(s, media, 3, 2).toDF()
        .select(col("media_id"), col("width"), col("height"),
          aggregate(col("px"), lit(0L), (acc, x) => acc + x).as("sum_px"),
          element_at(col("px"), 1).as("r0"),
          element_at(col("px"), 2).as("g0"),
          element_at(col("px"), 3).as("b0"))
        .orderBy(col("media_id"))
    }),

    // REAL audio round trip: deterministic PCM16 waveforms are encoded AND
    // decoded through javax.sound.sampled (the JDK's WAV codec) on
    // executors; sample rate / frame count / channel count come from the
    // decoded stream and Σ|sample| from the decoded samples. WAV is
    // lossless and the waveform is integer arithmetic, so the oracle
    // recomputes every column exactly — no float anywhere.
    "mm_audio_decode" -> ((s, dir) => {
      val media = graft.operators.Multimodal.wavTableFromDocuments(
        s, tbl(s, dir, "documents"))
      graft.operators.Multimodal.decodeAudioTable(s, media).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_frames"),
          col("n_channels"), col("sum_abs"))
        .orderBy(col("media_id"))
    }),

    // The actual Structured Streaming path, run to completion inside the
    // gate (memory sink). Append mode only emits windows the final
    // watermark closed, so the oracle is the batch aggregate restricted to
    // windows with end <= max(ts) - watermark; batch≡stream equality is
    // additionally pinned in StreamingSpec.
    "ev_stream_tumbling" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingTumblingCounts(ss, src),
        s"evs_${System.nanoTime()}")
      out.select(col("win_start"), col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // K7 (extension) — latest-wins upsert: a base load then a versioned
    // update batch, each applied as a changelog batch through
    // ChangeDataCapture.applyChangelogBatch — SnapshotLake.merge guarded by
    // the incoming-wins-ties rule; the read-back state must equal the SQL
    // CASE oracle.
    "k7_upsert_roundtrip" -> ((s, dir) => {
      val lake = java.nio.file.Files.createTempDirectory("graft_ups_")
        .resolve("orders").toString
      val orders = tbl(s, dir, "orders")
      def upsert(batch: DataFrame): Unit =
        graft.streaming.ChangeDataCapture.applyChangelogBatch(s, lake,
          batch.withColumn("tie", lit(0L)).withColumn("op", lit("U")),
          Seq("o_orderkey"), "version", "tie", "op",
          Seq("o_orderstatus", "o_totalprice"))
      upsert(orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), lit(1L).as("version")))
      upsert(orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit(2L).as("version")))
      graft.sinks.SnapshotLake.read(s, lake)
        .select(col("o_orderkey"), col("version"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K8 (extension) — snapshot time travel: base commit, overwrite commit,
    // then read VERSION 0 — the pre-overwrite state must round-trip exactly
    // (manifest-pinned reads; the Delta-style ACID story without the jars).
    "k8_snapshot_timetravel" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_tt_")
        .resolve("orders").toString
      val base = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      graft.sinks.SnapshotLake.commitAppend(base, t)
      graft.sinks.SnapshotLake.commitOverwrite(
        base.withColumn("o_totalprice", col("o_totalprice") * 2), t)
      graft.sinks.SnapshotLake.read(s, t, Some(0L))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K9 (extension) — file-stats data skipping: a range-clustered snapshot
    // commit records per-file min/max sidecars; readRange opens only
    // overlapping files (pruning effectiveness pinned in SnapshotLakeSpec;
    // result must equal the plain filter — the oracle).
    "k9_lake_skipping" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_skip_")
        .resolve("orders").toString
      val base = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_totalprice"))
      graft.sinks.SnapshotLake.commitAppend(base, t,
        statsCols = Seq("o_totalprice"))
      graft.sinks.SnapshotLake.readRange(s, t, "o_totalprice",
        100000.0, 200000.0)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K17 (extension) — bloom-filter point skipping: a HASH-layout commit
    // (every file spans the full key range, so min/max stats refute
    // nothing) records per-file bloom sidecars; readWhere with an IN probe
    // opens only files whose bloom may contain a probed key (pruning
    // effectiveness + never-opened pinned in SnapshotLakeSpec; result must
    // equal the plain IN filter — the oracle).
    "k17_bloom_skipping" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_bloomskip_")
        .resolve("orders").toString
      val base = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(8, col("o_orderkey"))
      graft.sinks.SnapshotLake.commitAppend(base, t,
        bloomCols = Seq("o_orderkey"))
      val probe = tbl(s, dir, "orders").select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.sinks.SnapshotLake.readWhere(s, t,
        col("o_orderkey").isin(probe: _*))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K18 (extension) — metadata-only COUNT(*): two appends + a COW delete,
    // then every version's cardinality answered from parquet FOOTERS alone
    // (SnapshotLake.countRows — zero data pages, zero Spark jobs; the
    // no-job property is pinned in SnapshotLakeSpec). The 100 TB shape for
    // the warehouse count(*) habit: O(files) metadata, never a scan.
    "k18_lake_rowcount" -> ((s, dir) => {
      import s.implicits._
      val t = java.nio.file.Files.createTempDirectory("graft_cnt_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.repartition(4), t)
      L.commitAppend(o.where(col("o_orderkey") % 3 === 0).repartition(2), t)
      L.deleteWhere(s, t, col("o_orderkey") % 5 === 0)
      Seq((L.countRows(s, t, Some(0L)), L.countRows(s, t, Some(1L)),
        L.countRows(s, t)))
        .toDF("rows_v0", "rows_v1", "rows_head")
    }),

    // K19 (extension) — schema evolution on the snapshot lake: the second
    // append ADDS o_orderpriority after commit-time validation (a
    // same-name type flip is rejected before staging — it would poison the
    // snapshot and only surface at read time); the merged read null-fills
    // the pre-evolution files. Validation is one footer-metadata pass,
    // O(files). Oracle: the same union-by-name shape in plain SQL.
    "k19_schema_evolution" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_evo_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice")), t)
      L.commitAppendEvolve(o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")), t)
      L.read(s, t, mergeSchema = true)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // K20 (extension) — write-audit-publish over branch refs: a batch lands
    // as a normal immutable commit but only the `audit` branch moves;
    // readers pinned to `main` keep the published snapshot until the audit
    // query clears the batch and `publishBranch` fast-forwards `main`
    // (metadata-only — one conditional-PUT ref write). The `baseBranch`
    // pin keeps a rejected audit version out of the next cycle's base.
    "k20_branch_wap" -> ((s, dir) => {
      import s.implicits._
      val t = java.nio.file.Files.createTempDirectory("graft_wap_")
        .resolve("orders").toString
      val L = graft.sinks.SnapshotLake
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val v0 = L.commitAppend(o.where(col("o_orderkey") % 3 === 0), t)
      L.setBranch(t, "main", v0)
      val staged = L.commitToBranch(o.where(col("o_orderkey") % 3 === 1), t,
        "audit", baseBranch = Some("main"))
      val nBefore = L.readBranch(s, t, "main").count()
      // the audit: no staged row may carry a non-positive price
      val nBad = L.read(s, t, Some(staged))
        .where(col("o_totalprice") <= 0).count()
      if (nBad == 0) L.publishBranch(t)
      val nAfter = L.readBranch(s, t, "main").count()
      Seq((nBefore, nBad, nAfter)).toDF("n_before", "n_bad", "n_after")
    }),

    // K21 (extension) — OPTIMIZE ZORDER on the lake: a hash-scattered
    // commit (8 files, every one spanning the full value range — min/max
    // stats refute nothing) is rewritten z-clustered in place; the same
    // readRange then answers from a pruned minority of files, old versions
    // still time-travel (pruning + history pinned in SnapshotLakeSpec).
    // Oracle = the plain filter.
    "k21_lake_optimize" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_opt_")
        .resolve("orders").toString
      val L = graft.sinks.SnapshotLake
      L.commitAppend(tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(8, col("o_orderkey")), t,
        statsCols = Seq("o_totalprice"))
      L.optimizeZOrder(s, t, Seq("o_custkey", "o_totalprice"), numFiles = 8)
      L.readRange(s, t, "o_totalprice", 100000.0, 200000.0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Z-order + manifest skipping end-to-end: lineitem z-clustered on
    // (l_partkey, l_suppkey) into a snapshot commit with stats on BOTH
    // z-columns, then a selective range on the SECONDARY column answered
    // through readRange — the layout makes per-file ranges compact on every
    // interleaved column, so the manifest prunes most files (two-column
    // pruning effectiveness pinned in LayoutSpec; result ≡ plain filter).
    HL("layout_zorder_scan") -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_zs_")
        .resolve("li_z").toString
      // cache the projection: the z pipeline reads it twice (quantile
      // planning, then the clustering shuffle — the range-partitioner's
      // third sampling pass was removed in r17) — at scale this is "stage
      // the projection once", not "rescan the table per pass"
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity")).cache()
      try {
        graft.sinks.SnapshotLake.commitAppend(
          graft.operators.Layout.zCluster(li, Seq("l_partkey", "l_suppkey"),
            bits = 4, numFiles = 16),
          t, statsCols = Seq("l_partkey", "l_suppkey"))
      } finally li.unpersist()
      graft.sinks.SnapshotLake.readRange(s, t, "l_suppkey", 2.0, 5.0)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // K12 (extension) — bucketed co-located join: both tables written
    // hash-bucketed + sorted on the join key (one file per bucket), so the
    // join AND the downstream per-key aggregate run with zero exchanges —
    // the pay-once-at-ingest layout for 100 TB fact-to-fact joins.
    HL("k12_bucketed_join") -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_bktq_")
      val uid = System.nanoTime()
      val (t1, t2) = (s"graft_bktq_o_$uid", s"graft_bktq_l_$uid")
      graft.operators.Layout.writeBucketed(
        tbl(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        t1, s"$base/o", Seq("o_orderkey"), numBuckets = 16)
      graft.operators.Layout.writeBucketed(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        t2, s"$base/l", Seq("o_orderkey"), numBuckets = 16)
      graft.operators.Layout.bucketedEquiJoin(s, t1, t2, Seq("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(max(col("o_totalprice")), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K11 (extension) — copy-on-write row-level DELETE: only files holding
    // matches are rewritten (two commits ⇒ the clean half is carried by
    // reference); old versions still time travel; result ≡ plain NOT-filter.
    HL("k11_lake_delete") -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_del_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.SnapshotLake.commitAppend(
        o.where(col("o_orderkey") % 2 === 0), t)
      graft.sinks.SnapshotLake.commitAppend(
        o.where(col("o_orderkey") % 2 =!= 0), t)
      graft.sinks.SnapshotLake.deleteWhere(s, t,
        col("o_totalprice") > 300000.0)
      graft.sinks.SnapshotLake.read(s, t)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K13 (extension) — three-clause COW MERGE INTO on the snapshot lake:
    // matched + source-status sentinel ⇒ delete, matched otherwise ⇒ update
    // (priority copied from the source), unmatched source ⇒ insert. The
    // table is committed range-clustered on the key with stats sidecars, so
    // the locate/rewrite/insert phases open only key-span-overlapping files
    // (pinned by the corrupt-file spec in SnapshotLakeSpec); the oracle
    // replays all three clauses relationally in DuckDB.
    HL("k13_lake_merge") -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_mrg_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
      graft.sinks.SnapshotLake.commitAppend(
        o.repartitionByRange(8, col("o_orderkey")), t,
        statsCols = Seq("o_orderkey"))
      val src = o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 14 === 0, lit("DELETE-ME"))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_orderpriority", lit("MERGED"))
        .unionByName(o.where(col("o_orderkey") % 7 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderpriority", lit("NEW")))
      val L = graft.sinks.SnapshotLake
      L.merge(s, t, src, Seq("o_orderkey"),
        whenMatchedUpdate =
          Map("o_orderpriority" -> L.mergeSource("o_orderpriority")),
        whenMatchedDelete =
          Some(L.mergeSource("o_orderstatus") === "DELETE-ME"))
      L.read(s, t)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K14 (extension) — delta-maintained materialized aggregate: three
    // fact appends, a refresh after each; every refresh reads ONLY the
    // appended files (manifest-diff CDF) and refolds the sum/count
    // partials. The final agg snapshot must equal the one-shot groupBy
    // the oracle computes over the whole fact table.
    HL("k14_incremental_agg") -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_iagg_")
      val fact = base.resolve("fact").toString
      val agg = base.resolve("agg").toString
      val o = tbl(s, dir, "orders")
      val L = graft.sinks.SnapshotLake
      val A = graft.operators.IncrementalAgg
      def cut(c: org.apache.spark.sql.Column) = o.where(c)
      L.commitAppend(cut(col("o_orderdate") <
        lit("1993-01-01").cast("timestamp")), fact)
      A.refresh(s, fact, agg, Seq("o_orderstatus"), "o_totalprice")
      L.commitAppend(cut(col("o_orderdate") >=
        lit("1993-01-01").cast("timestamp") && col("o_orderdate") <
        lit("1995-01-01").cast("timestamp")), fact)
      A.refresh(s, fact, agg, Seq("o_orderstatus"), "o_totalprice")
      L.commitAppend(cut(col("o_orderdate") >=
        lit("1995-01-01").cast("timestamp")), fact)
      A.refresh(s, fact, agg, Seq("o_orderstatus"), "o_totalprice")
      L.read(s, agg)
        .select(col("o_orderstatus"), round(col("sum_v"), 2).as("sum_price"),
          col("n_rows"))
        .orderBy(col("o_orderstatus"))
    }),

    // K22 (extension) — delta-maintained JOIN view: orders appended in
    // three date cuts against a customer dimension that itself grows
    // mid-stream (a third of the keys arrive LATE, so early refreshes park
    // their facts in the orphan store and the dim append must promote
    // them). The final read-back must equal the one-shot inner join — the
    // oracle recomputes exactly that; the incremental path (manifest-diff
    // deltas + orphan promotion, never an O(fact) rescan) is what's gated.
    HL("k22_incremental_join") -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_ijoin_")
      val (fact, dim, view) = (base.resolve("fact").toString,
        base.resolve("dim").toString, base.resolve("view").toString)
      val L = graft.sinks.SnapshotLake
      val J = graft.operators.IncrementalJoin
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      def ref() = J.refresh(s, fact, dim, view, Seq("c_custkey"))
      L.commitAppend(c.where(col("c_custkey") % 3 =!= 0), dim)
      L.commitAppend(o.where(col("o_orderdate") <
        lit("1994-01-01").cast("timestamp")), fact)
      ref()
      L.commitAppend(o.where(col("o_orderdate") >=
        lit("1994-01-01").cast("timestamp") && col("o_orderdate") <
        lit("1996-01-01").cast("timestamp")), fact)
      ref()
      L.commitAppend(c.where(col("c_custkey") % 3 === 0), dim) // late keys
      ref()
      L.commitAppend(o.where(col("o_orderdate") >=
        lit("1996-01-01").cast("timestamp")), fact)
      ref()
      J.read(s, view)
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderkey"))
    }),

    // K23 (extension) — metadata-only MIN/MAX from commit stats sidecars:
    // two stats-carrying commits, then the extremes answered from O(files)
    // sidecar lines with zero data scanned (countRows supplies the footer
    // row count the same way). The oracle recomputes min/max/count by
    // scanning — metadata must equal the scan exactly.
    "k23_lake_stats_minmax" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_mmx_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderkey") % 2 === 0), t,
        statsCols = Seq("o_totalprice"))
      L.commitAppend(o.where(col("o_orderkey") % 2 =!= 0), t,
        statsCols = Seq("o_totalprice"))
      val (mn, mx) = L.minMaxFromStats(t, "o_totalprice").getOrElse(
        throw new IllegalStateException(
          "stats sidecars must cover every committed file"))
      val n = L.countRows(s, t)
      import s.implicits._
      Seq((mn, mx, n)).toDF("min_price", "max_price", "n_rows")
        .select(round(col("min_price"), 2).as("min_price"),
          round(col("max_price"), 2).as("max_price"), col("n_rows"))
    }),

    // K24 (extension) — DSv2 COMPLETE AGGREGATE PUSHDOWN: the same
    // min/max/count, but answered by the CONNECTOR through Spark's own
    // SupportsPushDownAggregates contract — the query plans as a
    // LocalTableScan of one precomputed row (sidecar stats + footer
    // counts), zero executor tasks, zero data files opened. The pinned
    // `metadata_only` boolean asserts the plan shape; the numbers must
    // equal the oracle's full scan.
    "k24_lake_agg_pushdown" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_aggpd_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderkey") % 2 === 0), t,
        statsCols = Seq("o_totalprice"))
      L.commitAppend(o.where(col("o_orderkey") % 2 =!= 0), t,
        statsCols = Seq("o_totalprice"))
      val v = s.read.format("snapshot-lake").option("path", t).load()
      val q = v.agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      val planOk = q.queryExecution.executedPlan.toString
        .contains("LocalTableScan")
      q.select(col("n_rows"), round(col("mn"), 2).as("min_price"),
          round(col("mx"), 2).as("max_price"))
        .withColumn("metadata_only", lit(planOk))
    }),

    // K25 (extension) — NDV SKETCH SIDECARS: per-file HLL sketches ride
    // each commit; approx COUNT(DISTINCT) is answered later by pure sketch
    // algebra over O(files) sidecar lines (union of per-file sketches IS
    // the sketch of the union — the property min/max lacks), no data file
    // opened. The oracle recomputes the exact NDV; the ±5% envelope is the
    // pinned boolean (same gate shape as agg_hll_merge).
    "k25_lake_ndv_sketch" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_ndv_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderkey") % 2 === 0), t,
        ndvCols = Seq("o_custkey"))
      L.commitAppend(o.where(col("o_orderkey") % 2 =!= 0), t,
        ndvCols = Seq("o_custkey"))
      val est = L.approxDistinctFromSketches(s, t, "o_custkey").getOrElse(
        throw new IllegalStateException(
          "ndv sidecars must cover every committed file"))
      val exact = L.read(s, t)
        .select(count_distinct(col("o_custkey"))).collect()(0).getLong(0)
      import s.implicits._
      Seq((exact, math.abs(est - exact) <= exact * 0.05))
        .toDF("n_exact", "estimate_ok")
    }),

    // K26 (extension) — bin-packing AUTO-COMPACTION: ten tiny commits,
    // then the policy rewrites only the small files (the big seed file is
    // carried by reference — the pinned boolean checks its path survives
    // verbatim) and the read-back equals the union. O(small bytes), not
    // O(table): the nightly-loop OPTIMIZE.
    "k26_lake_autocompact" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_ac_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderkey") % 11 =!= 0).coalesce(1), t)
      val seed = L.manifestFiles(t, 0L).head
      // threshold scales with the data: each tiny cut is ~1% of the seed
      // file, so a quarter of the seed's size cleanly separates them at
      // every sf (a fixed byte constant failed at sf0.1 — the bench's
      // "failed" key surfaced it)
      val smallBytes = math.max(
        java.nio.file.Files.size(java.nio.file.Paths.get(t, seed)) / 4, 1024L)
      (0 to 9).foreach { b =>
        L.commitAppend(o.where(col("o_orderkey") % 110 === b * 11)
          .coalesce(1), t) }
      val v = L.autoCompact(s, t, smallBytes = smallBytes, minSmallFiles = 5)
        .getOrElse(throw new IllegalStateException(
          "ten small files must trigger the policy"))
      val carried = L.manifestFiles(t, v).contains(seed)
      val packed = L.manifestFiles(t, v).size <= 3
      L.read(s, t)
        .withColumn("seed_carried", lit(carried))
        .withColumn("packed", lit(packed))
        .orderBy(col("o_orderkey"))
    }),

    // K27 (extension) — metadata-only TABLE PROFILE: ANALYZE from the
    // sidecars alone (footer row count + stats min/max + NDV sketches),
    // one row per column, nulls where coverage is partial — zero data
    // files opened. Oracle recomputes the exact facets; the sketch
    // estimate gates through its ±5% envelope.
    "k27_lake_profile" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_prof_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_custkey") % 2 === 0), t,
        statsCols = Seq("o_totalprice"), ndvCols = Seq("o_custkey"))
      L.commitAppend(o.where(col("o_custkey") % 2 =!= 0), t,
        statsCols = Seq("o_totalprice"), ndvCols = Seq("o_custkey"))
      val exactNdv = L.read(s, t)
        .select(count_distinct(col("o_custkey"))).collect()(0).getLong(0)
      L.tableProfile(s, t, Seq("o_custkey", "o_totalprice"))
        .select(col("column"),
          round(col("min_value"), 2).as("min_value"),
          round(col("max_value"), 2).as("max_value"),
          col("n_rows"),
          when(col("ndv_est").isNull, lit(true))
            .otherwise(abs(col("ndv_est") - lit(exactNdv)) <=
              lit(exactNdv) * 0.05).as("ndv_ok"))
        .orderBy(col("column"))
    }),

    // K15 (extension) — RESTORE TABLE: a bad append rolled back by
    // re-publishing v0's file list as a new head commit (O(manifest)
    // metadata, files carried by reference, the bad commit stays readable).
    // The read-back must equal the pre-bad-commit cut.
    "k15_lake_restore" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_rst_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o.where(col("o_orderdate") <
        lit("1998-01-01").cast("timestamp")), t)
      L.commitAppend(o.where(col("o_orderdate") >=
        lit("1998-01-01").cast("timestamp")), t) // the "bad" commit
      assert(L.restore(t, 0L).contains(2L))
      L.read(s, t)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // K16 (extension) — DataSource V2 connector: the snapshot lake read
    // through plain format("snapshot-lake") with versionAsOf pinning. The
    // head is overwritten to a 1% subset AFTER v0; the pinned read must
    // still aggregate the FULL v0 snapshot (isolation through the
    // connector), with parquet pushdown intact underneath.
    HL("k16_lake_connector") -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_dsv2q_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders")
      val L = graft.sinks.SnapshotLake
      L.commitAppend(o, t)
      L.commitOverwrite(o.where(col("o_orderkey") % 100 === 0), t)
      s.read.format("snapshot-lake")
        .option("path", t).option("versionAsOf", "0").load()
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // K10 (extension) — change-data feed: rows appended in (v0, v1] read
    // from the manifest diff alone (only delta files open). Base commit =
    // pre-1995 orders, increment = the rest; the feed must equal the
    // increment exactly.
    "k10_lake_changes" -> ((s, dir) => {
      val t = java.nio.file.Files.createTempDirectory("graft_cdf_")
        .resolve("orders").toString
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      val v0 = graft.sinks.SnapshotLake.commitAppend(
        o.where(col("o_orderdate") < lit("1998-01-01").cast("timestamp")), t)
      val v1 = graft.sinks.SnapshotLake.commitAppend(
        o.where(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")), t)
      graft.sinks.SnapshotLake.changesBetween(s, t, v0, v1)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Incremental SCD2 must equal the batch recompute (same oracle modulo
    // n_events, which an interval-compressed open row cannot re-expand):
    // history is built from pre-1996 events, then applyChanges folds the
    // rest in — closed intervals pass through untouched, open intervals
    // extend or close at the first differing event.
    "scd2_incremental" -> ((s, dir) => {
      val ev = tbl(s, dir, "orders")
      val cutoff = lit("1996-01-01").cast("timestamp")
      val current = graft.operators.Scd2.fromEvents(
        ev.where(col("o_orderdate") < cutoff),
        Seq("o_custkey"), "o_orderdate", Seq("o_orderkey"),
        Seq("o_orderpriority"))
      graft.operators.Scd2.applyChanges(current,
        ev.where(col("o_orderdate") >= cutoff),
        Seq("o_custkey"), "o_orderdate", Seq("o_orderkey"),
        Seq("o_orderpriority"))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("effective_from"),
          col("effective_to").asc_nulls_last)
    }),

    // SCD2 dimension history (the lake-side shape dimension extracts land
    // in): compress the per-customer order-priority event stream into
    // validity intervals — gaps-and-islands under ONE hash partitioning on
    // the key (lag window, island agg, and lead window all reuse the same
    // exchange; no global sort). A 100 TB event table pays one shuffle.
    HL("scd2_history") -> ((s, dir) =>
      graft.operators.Scd2.fromEvents(tbl(s, dir, "orders"),
        Seq("o_custkey"), "o_orderdate", Seq("o_orderkey"),
        Seq("o_orderpriority"))
        .orderBy(col("o_custkey"), col("effective_from"),
          col("effective_to").asc_nulls_last)),

    // Stream–stream interval join (views → purchases within 1 h, same
    // user): inner joins emit every match, so the oracle is the plain
    // batch interval join.
    // flatMapGroupsWithState under the oracle gate: per-user running
    // counters in Update mode; the final emitted state per user (max
    // n_events row — counters only grow) must equal the plain batch
    // aggregate.
    // CDC changelog ingestion: the event stream recast as a Debezium-
    // shaped change feed (purchase = delete, everything else = upsert)
    // applied to a snapshot-lake mirror with last-write-wins MERGEs and
    // exactly-once per-micro-batch commits. The oracle replays the
    // newest-change-per-key collapse relationally.
    "ev_stream_cdc" -> ((s, dir) => {
      import graft.streaming.ChangeDataCapture
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val t = java.nio.file.Files.createTempDirectory("graft_cdcm_")
        .resolve("mirror").toString
      val schema = s.read.parquet(src).schema
      val ch = ss.readStream.schema(schema).parquet(src)
        .selectExpr("user_id AS k", "ts", "event_id AS tie",
          "CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op",
          "value AS v")
      val q = ChangeDataCapture.streamChangelogToLake(ch, t,
        Seq("k"), "ts", "tie", "op", Seq("v"),
        java.nio.file.Files.createTempDirectory("graft_cdck_").toString)
      graft.streaming.EventStreams.awaitDrained(q)
      graft.sinks.SnapshotLake.read(s, t)
        .select(col("k").as("user_id"), round(col("v"), 2).as("value"),
          col("ts"))
        .orderBy(col("user_id"))
    }),

    // Streaming ANN index maintenance: the %5 embedding slice streamed in
    // micro-batches into a persisted IVF layout (foreachBatch →
    // assignment against the sidecar centroids → cell-partition append —
    // no retrain), then every streamed vector queried back at nProbe=1
    // self-retrieves at cos 1.0 (the withCellAssignment ≡ first-probe-cell
    // contract). Deterministic: the no-dedup ingest path appends all rows
    // regardless of micro-batch slicing.
    "ev_stream_ann_ingest" -> ((s, dir) => {
      import graft.streaming.IndexIngest
      val emb = tbl(s, dir, "embeddings")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val path = copyLayout(ivfCorpusFront(s, dir))
      val src = java.nio.file.Files.createTempDirectory("graft_evanns_")
        .resolve("b").toString
      (0 until 3).foreach { i =>
        batch.where(pmod(col("vec_id") / 5, lit(3)) === i).coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
      }
      val ss = streamSession(s)
      val schema = s.read.parquet(src).schema
      val q = IndexIngest.streamAppendToIndex(
        ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src),
        "vec_id", "embedding", path,
        java.nio.file.Files.createTempDirectory("graft_evannk_").toString)
      graft.streaming.EventStreams.awaitDrained(q)
      Similarity.ivfBatchTopK(s, path, batch, "vec_id", "embedding",
          1, nProbe = 1, excludeSelf = false)
        .agg(count(lit(1)).as("n_queries"),
          (min(col("cos")) === 1.0).as("self_ok"))
    }),

    // EXACTLY-ONCE streaming ANN ingest (r8 verdict item 5): vectors land
    // via the lake's batchId-keyed idempotent commit, the cell layout
    // syncs from committed versions (deterministic per-cell file names,
    // exist-checked renames). The gate FORCES the crash window the
    // at-least-once path cannot survive — a zombie replay of the last
    // micro-batch after the stream completed — and pins that the layout
    // holds EXACTLY corpus+batch rows (a duplicate append would inflate
    // n_rows) with every streamed vector self-retrieving.
    "ev_stream_ann_ingest_eo" -> ((s, dir) => {
      import graft.streaming.IndexIngest
      val emb = tbl(s, dir, "embeddings")
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val path = copyLayout(ivfCorpusFront(s, dir))
      val lake = java.nio.file.Files.createTempDirectory("graft_evannel_")
        .resolve("ann").toString
      val src = java.nio.file.Files.createTempDirectory("graft_evannes_")
        .resolve("b").toString
      (0 until 3).foreach { i =>
        batch.where(pmod(col("vec_id") / 5, lit(3)) === i).coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
      }
      val ss = streamSession(s)
      val schema = s.read.parquet(src).schema
      val q = IndexIngest.streamAppendToIndexExactlyOnce(
        ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src),
        "vec_id", "embedding", path, lake,
        java.nio.file.Files.createTempDirectory("graft_evannek_").toString)
      // one file per micro-batch: batches 0, 1 and 2, the last of which
      // the zombie replay below re-runs
      graft.streaming.EventStreams.awaitDrained(q)
      // zombie replay: the post-crash re-run of the last foreachBatch
      IndexIngest.appendBatchExactlyOnce(
        batch.where(pmod(col("vec_id") / 5, lit(3)) === 2),
        "vec_id", "embedding", path, lake, 2L)
      s.read.parquet(s"$path/corpus").agg(count(lit(1)).as("n_rows"))
        .crossJoin(
          Similarity.ivfBatchTopK(s, path, batch, "vec_id", "embedding",
              1, nProbe = 1, excludeSelf = false)
            .agg((min(col("cos")) === 1.0).as("self_ok")))
    }),

    // Fixed-point decayed counters as STREAMING STATE: the ev_decay fold
    // maintained per user by flatMapGroupsWithState (reference = the
    // user's newest event day — a stream can't know the global head).
    // Integer 2^(50-k) weights make the two-state merge exact under any
    // micro-batch slicing, so the final state compares bit-for-bit against
    // the oracle's batch recompute.
    "ev_stream_decay" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.statefulDecayedCounters(ss, src),
        s"evd_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      out.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("decay_scaled"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    "ev_stream_user_stats" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.statefulUserStats(ss, src),
        s"evu_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      out.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"), col("last_ts"))
        .orderBy(col("user_id"))
    }),

    // Native session_window sessionization as a STREAM: gap-merged
    // per-user sessions with watermark-bounded state, append-mode emission
    // (only closed sessions — mirrored by the oracle's mx - 2h cut).
    HL("ev_stream_session") -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingSessionCounts(ss, src),
        s"evs_${System.nanoTime()}")
      out.select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    "ev_stream_join" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingViewPurchaseJoin(ss, src),
        s"evj_${System.nanoTime()}")
      out.select(col("user_id"), col("view_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }),

    // LEFT OUTER stream–stream interval join: the inner join's matches PLUS
    // null-extended unmatched views, each emitted only once the global
    // watermark closes its window — sentinel flush rows (user_id −1, both
    // types, filtered back out here) make the tail total, so the oracle is
    // the complete batch left join with no cut.
    HL("ev_stream_left_join") -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSourceFlushed(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingViewPurchaseLeftJoin(ss, src),
        s"evlj_${System.nanoTime()}")
      out.where(col("user_id") >= 0)
        .select(col("user_id"), col("view_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }),

    // FULL OUTER stream–stream interval join: both tails emit null-padded
    // (views with no purchase, purchases with no preceding view) once the
    // global watermark closes their windows; sentinels on both sides make
    // the finite drain total. Oracle = the plain batch FULL JOIN.
    "ev_stream_full_join" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSourceFlushed(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingViewPurchaseFullJoin(ss, src),
        s"evfj_${System.nanoTime()}")
      out.where(col("user_id") >= 0)
        .select(col("user_id"), col("view_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }),

    // Stream–static enrichment join: events stream joined to the customer
    // dimension (broadcast, stateless) then windowed per market segment.
    "ev_stream_enrich" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingEnrichedSegmentCounts(ss, src,
          tbl(ss, dir, "customer")),
        s"eve_${System.nanoTime()}")
      out.select(col("win_start"), col("c_mktsegment"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("win_start"), col("c_mktsegment"))
    }),

    // Streaming dedup: the source is written TWICE (an at-least-once replay)
    // and dropDuplicatesWithinWatermark must restore exactly-once counts —
    // the oracle is the plain batch aggregate over the ORIGINAL events,
    // watermark-restricted as in ev_stream_tumbling.
    "ev_stream_dedup" -> ((s, dir) => {
      import graft.streaming.EventStreams
      // duplicated copy of the shared staging dir (at-least-once replay) —
      // an input FIXTURE, memoized per sf dir like streamSource itself
      val src = memo.shared(s"events_dup:$dir") {
        val d = java.nio.file.Files.createTempDirectory("graft_evd_").toString
        val staged = graft.sources.FastParquet.read(s, streamSource(s, dir))
        staged.write.mode("overwrite").parquet(d)
        staged.write.mode("append").parquet(d)
        d
      }
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingDedupedTumblingCounts(ss, src),
        s"evd_${System.nanoTime()}")
      out.select(col("win_start"), col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Stateful streaming anomaly detection: per-user z-score of each value
    // against that user's PRIOR history (flatMapGroupsWithState; state =
    // three longs per user). Cents fixed-point makes the prefix moments
    // exact integers, so the decisions replay bit-identically in the
    // DuckDB prefix-window oracle — no float-summation-order slack.
    "ev_stream_anomaly" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val src = streamSource(s, dir)
      val ss = streamSession(s)
      val out = EventStreams.runToCompletion(
        EventStreams.streamingValueAnomalies(ss, src),
        s"eva_${System.nanoTime()}")
      out.select(col("event_id"), col("user_id"), col("n_prior"),
          round(col("z"), 6).as("z"))
        .orderBy(col("event_id"))
    }),

    // ---- Corpus curation (training-data pipeline): deterministic split,
    // deterministic shuffle, quantile quality filter, per-domain cap,
    // benchmark contamination. All content-hash / rank based — no RNG — so
    // every assignment reproduces exactly in the DuckDB oracle.

    // Salted-md5 80/10/10 split: pure map-side assignment, idempotent under
    // reruns and append (new docs never move existing ones between splits).
    "corpus_split" -> ((s, dir) =>
      graft.operators.Corpus.splitAssign(tbl(s, dir, "documents"),
          "doc_id", "graft1", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // Deterministic global shuffle: contiguous 0-based position by salted
    // hash — range-partitioned sort + distributed zipWithIndex, never a
    // single-task global window.
    "corpus_shuffle" -> ((s, dir) =>
      graft.operators.Corpus.globalShuffle(
          tbl(s, dir, "documents").select(col("doc_id")), "doc_id", "graft1")
        .orderBy(col("pos"))),

    // Exact per-language quality-quantile filter (keep top half per lang);
    // ties broken by doc_id so percent_rank is engine-reproducible. The
    // approx-threshold scale path is differentials-tested in CorpusSpec.
    "corpus_quality_quantile" -> ((s, dir) =>
      graft.operators.Corpus.qualityQuantileFilter(
          qualityScored(tbl(s, dir, "documents"))
            .select(col("doc_id"), col("lang"), col("quality")),
          "quality", "lang", "doc_id", 0.5)
        .orderBy(col("doc_id"))),

    // Per-domain cap: at most 10 docs per source, best-quality first —
    // WindowGroupLimit turns the rank filter into per-map top-10.
    HL("corpus_domain_cap") -> ((s, dir) =>
      graft.operators.Corpus.domainCap(
          qualityScored(tbl(s, dir, "documents"))
            .select(col("doc_id"), col("source"), col("quality")),
          "source", "quality", "doc_id", 10)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy(col("doc_id"))),

    // Benchmark contamination: share of each train doc's distinct 8-gram
    // shingles that appear anywhere in the held-out eval slice (doc_id ≡ 0
    // mod 20). Eval gram set is broadcast; corpus side is one scan.
    HL("corpus_contamination") -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(20)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
      graft.operators.Corpus.contaminationCheck(spread(train), evalSet,
          "doc_id", "text", shingleK = 8, minOverlap = 0.05)
        .select(col("id").as("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_shared"), col("overlap"))
        .orderBy(col("doc_id"))
    }),

    // Edit-distance-1 fuzzy self-join via deletion-neighborhood blocking
    // (exact for dist ≤ 1; linear key blow-up instead of O(n²) levenshtein).
    HL("fuzzy_name_pairs") -> ((s, dir) =>
      graft.operators.FuzzyJoin.editDistance1Pairs(
          tbl(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name")
        .withColumn("dist", col("dist").cast("long"))
        .orderBy(col("id_a"), col("id_b"))),

    // Distance-2 deletion blocking on a bounded block (the d2 key fan-out
    // is ~L²/2 per string — the block keeps the ORACLE's naive n² join
    // tractable; the Spark side stays the capped-bucket equi-join shape).
    HL("fuzzy_name_pairs_d2") -> ((s, dir) =>
      graft.operators.FuzzyJoin.editDistancePairs(
          tbl(s, dir, "customer").where(col("c_custkey") <= 500)
            .select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", maxDist = 2)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy(col("id_a"), col("id_b"))),

    // Entity resolution over a dirtied customer register: two deterministic
    // variant generations (a dropped digit; an appended char), multi-key
    // blocking (name suffix catches the dropped digit, digit-run catches
    // the appended char — each edit defeats exactly one key), Levenshtein
    // ≤ 1 scoring, transitive closure, min-id canonicalization. The oracle
    // replays blocking+scoring relationally and closes with a recursive CTE.
    HL("er_customers") -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val recs = c
        .select(col("c_custkey").as("rec_id"), col("c_name").as("name"))
        .unionByName(c.where(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 100000).as("rec_id"),
            concat(substring(col("c_name"), 1, 10),
              expr("substring(c_name, 12)")).as("name")))
        .unionByName(c.where(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 200000).as("rec_id"),
            concat(col("c_name"), lit("x")).as("name")))
      graft.operators.EntityResolution.resolve(recs, "rec_id", "name",
        Seq(nm => substring(nm, -4, 4),
          nm => regexp_replace(nm, "[^0-9]", "")),
        maxEdit = 1)
        .orderBy(col("id"))
    }),

    // Sliding event-time windows (1 h window, 15 min slide): every event
    // lands in exactly 4 overlapping windows — the smoothed-rates shape
    // tumbling windows can't express.
    "ev_sliding_window" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))),

    // ANALYZE-style column profile (row count, nulls, exact NDV, min/max) —
    // the stats-collection pass a lakehouse runs after ingest. NDVs run as
    // one single-column aggregate EACH (a column-pruned scan apiece): four
    // exact countDistincts in ONE aggregate plan through Expand — ×(cols+1)
    // row blow-up, measured 3-4× slower than the independent scans. At
    // 100 TB swap countDistinct for approx_count_distinct (HLL, one pass).
    // Deequ-shape data-quality constraint suite compiled into ONE
    // aggregation pass (uniqueness rides the same scan via the Expand-based
    // multi-distinct): long-form verdicts, one row per constraint. The gate
    // a pipeline runs before publishing a lake commit (pairs with the
    // k20_branch_wap audit step). Oracle recomputes every metric in SQL.
    "quality_constraints" -> ((s, dir) => {
      import graft.operators.Constraints._
      check(tbl(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        InRange("l_discount", 0.0, 0.1),
        InRange("l_quantity", 1.0, 50.0),
        AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        MatchesRegex("l_linestatus", "[OF]"),
        MinSize(100)))
    }),

    "stats_profile" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      val base = li.agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))): _*)
      val one = cols.map(c => li.agg(countDistinct(col(c)).as(s"ndv_$c")))
        .foldLeft(base)(_.crossJoin(_))
      val stackArgs = cols.map(c =>
        s"'$c', n_rows, nulls_$c, ndv_$c, min_$c, max_$c").mkString(", ")
      one.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n_rows, n_nulls, ndv, min_value, max_value)")
        .orderBy(col("column_name"))
    }),

    // Binned range join: points-in-overlapping-intervals as an equi-join on
    // bins (Spark's native plan for a pure range predicate is
    // BroadcastNestedLoopJoin — a 100 TB non-starter). 250 price bands of
    // width 600 stepping 400 (50% overlap) over lineitem prices.
    // Top-k per key through the CUSTOM PHYSICAL OPERATOR (logical node →
    // strategy → partial/final bounded-heap execs): only k rows per key
    // per input partition reach the shuffle, vs the window form shuffling
    // every order. Total order (price desc, orderkey) ⇒ deterministic.
    HL("topk_per_key_phys") -> ((s, dir) =>
      graft.plans.TopK.topKPerKey(tbl(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),

    // Same workload as range_join_bands, but the caller writes the PLAIN
    // range predicate — no bins in sight — and the injected
    // AutoBandedRangeJoin rule (spark.sql.extensions=graft.GraftExtensions)
    // rewrites the O(n×m) BroadcastNestedLoopJoin into the banded
    // equi-join. The conf stays set afterwards; the rule is
    // semantics-preserving and only fires on equality-free numeric-bounded
    // inner joins, so other queries are unaffected.
    HL("range_join_auto") -> ((s, dir) => {
      s.conf.set(graft.plans.AutoBandedRangeJoin.BinSizeKey, "400")
      val bands = s.range(0, 250).select(col("id").as("band_id"),
        (col("id") * 400).cast("double").as("lo"),
        (col("id") * 400 + 600).cast("double").as("hi"))
      val pts = tbl(s, dir, "lineitem").select(col("l_extendedprice"))
      pts.join(bands,
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("band_id"))
    }),

    // Interval-OVERLAP join (both sides are intervals — the temporal/
    // genomic shape): binned equi-join with the credit-one-bin dedup
    // (the bin holding max(a.lo, b.lo) is the pair's single winner), so
    // one shuffle and no distinct. Oracle replays the pure overlap
    // predicate as a nested join.
    "range_join_overlap" -> ((s, dir) => {
      val a = s.range(0, 250).select(col("id").as("band_id"),
        (col("id") * 400).cast("double").as("lo"),
        (col("id") * 400 + 600).cast("double").as("hi"))
      val b = tbl(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice") / 100).as("b_lo"),
        (col("o_totalprice") / 100 + 300).as("b_hi"))
      // the gate aggregate is an integer-per-row sum (round to whole
      // units BEFORE summing): a 27k-row double sum differs across
      // engines at the 6th decimal by summation order alone (r13 sf0.1
      // replay) — integer addition is associative, so the sum is exact
      // and order-free on both sides
      graft.operators.RangeJoin.intervalOverlapJoin(
          a, "lo", "hi", b, "b_lo", "b_hi", binWidth = 400)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("b_lo"), 0).cast("long")).as("sum_lo"))
        .orderBy(col("band_id"))
    }),

    HL("range_join_bands") -> ((s, dir) => {
      val bands = s.range(0, 250).select(col("id").as("band_id"),
        (col("id") * 400).cast("double").as("lo"),
        (col("id") * 400 + 600).cast("double").as("hi"))
      val pts = tbl(s, dir, "lineitem").select(col("l_extendedprice"))
      graft.operators.RangeJoin.binnedRangeJoin(pts, "l_extendedprice",
          bands, "lo", "hi", binWidth = 400)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("band_id"))
    }),

    // Correlated LATERAL subquery: top-2 orders per customer — exercises
    // Catalyst's lateral-join planning (DuckDB runs the identical SQL).
    "join_lateral" -> ((s, dir) =>
      sql(s, dir,
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer c,
          |LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |         FROM orders WHERE o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin)
        .orderBy(col("c_custkey"), col("o_orderkey"))),

    // Mergeable HLL distinct-count sketches: per-nation sketches unioned to
    // a global estimate (the map-side-mergeable shape reconciliation uses at
    // 100 TB). Exact count is oracled; the estimate is pinned within 5%.
    // Order-independent table checksum for cross-engine reconciliation
    // (the reference's A3 three-state reconcile, taken to row level): each
    // row hashes to a 48-bit integer via md5 of its canonical '|'-joined
    // form, and the checksum is the commutative modular sum — one scan,
    // one agg, no sort, identical in any engine that has md5. Wide sums
    // ride decimal(38) (Spark) / HUGEINT (DuckDB) so no overflow before
    // the mod. Int/string columns only: float formatting is not portable.
    "agg_table_checksum" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(conv(substring(md5(concat_ws("|",
            col("o_orderkey").cast("string"),
            col("o_custkey").cast("string"),
            col("o_orderstatus"), col("o_orderpriority"))), 1, 12), 16, 10)
          .cast("decimal(38,0)").as("v"))
        .agg((sum(col("v")) % lit(2305843009213693951L)).cast("long")
            .as("checksum"),
          count(lit(1)).as("n_rows"))),

    "agg_hll_merge" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val perNation = cust.groupBy(col("c_nationkey"))
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
          count_distinct(col("c_custkey")).as("n_exact_nation"))
      val merged = perNation.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        sum(col("n_exact_nation")).as("n_exact"))
      merged.select(col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("estimate_ok"))
    }),

    // Composed training-data pipeline over the NEW curation ops: exact
    // dedup (fingerprint representative) → quality floor → deterministic
    // split → per-split doc/token totals. Every stage is individually
    // oracle-proven; this pins their composition.
    "pipeline_training_data" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val reps = Dedup.dedupExactByFingerprint(docs, "doc_id", "text")
        .select(col("doc_id"))
      val deduped = docs.join(reps, "doc_id")
      val kept = qualityScored(deduped).where(col("quality") >= 0.5)
      graft.operators.Corpus.splitAssign(kept, "doc_id", "graft1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("split"))
    }),

    // Round-4 flagship composition — the FULL curation pipeline from raw
    // docs to a split corpus, built entirely from this round's first-class
    // ops: Gopher rules gate admission (integer-exact), exact dedup keeps
    // canonical docs, the GLOBAL token budget (two-phase histogram) fills
    // 50k tokens with the best quality docs corpus-wide, and the salted
    // split assigns train/val. Output: per-split doc and token totals —
    // every stage individually oracle-proven, the composition re-derived
    // end-to-end by DuckDB.
    "pipeline_curation_full" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val counters = T.gopherCounters(col("text"))
      // Checkpoints break the re-execution fan-out: `gated` feeds both the
      // fingerprint-dedup branch and the join back, `scored` is scanned
      // three times by the global-budget histogram (stats, histogram,
      // refine) — without them the regex-heavy gopher/quality counters
      // recompute per consumer (measured ~2× on this query at sf0.1).
      val gated = docs
        .select(col("doc_id") +: col("text") +: counters.map {
          case (n, c) => c.as(n) }: _*)
        .where(T.gopherKeep(col("n_words"), col("n_word_chars"),
          col("n_alpha_words"), col("n_symbols"), minWords = 20))
        .select(col("doc_id"), col("text"))
        .localCheckpoint(false)
      val reps = Dedup.dedupExactByFingerprint(gated, "doc_id", "text")
        .select(col("doc_id"))
      val deduped = gated.join(reps, "doc_id")
      val scored = qualityScored(deduped)
        .select(col("doc_id"), col("text"), col("quality"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"))
        .localCheckpoint(false)
      val budgeted = graft.operators.Corpus.tokenBudgetGlobalFilter(scored,
        "quality", "doc_id", "n_tokens", budget = 50000L)
      graft.operators.Corpus.splitAssign(budgeted, "doc_id", "graft1",
          Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("split"))
    }),

    // Vocabulary induction: corpus-wide token frequencies, top-50 with a
    // deterministic tie-break — the seed step of tokenizer training.
    // Scale: explode → hash-agg with map-side partials → TakeOrdered.
    // CMS-estimated frequencies audited against exact counts: the sketch
    // is one mergeable agg (shuffle moves sketches, not tokens) and the
    // estimate obeys (never-undercount, ≤ eps·N overcount) — the O(1)-state
    // frequency probe a streaming ingest uses instead of re-shuffling.
    HL("vocab_freq_cms") -> ((s, dir) =>
      graft.operators.Corpus.cmsHeavyHitters(
        tbl(s, dir, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("token"))
          .where(length(col("token")) > 0),
        "token", k = 20)
        .orderBy(col("freq").desc, col("token"))),

    // Exact-k-per-group deterministic sample: salted-hash order makes it
    // uniform without RNG; executed by the TopKPerKey physical operator,
    // so k rows per language per partition reach the shuffle.
    HL("corpus_sample_exact_k") -> ((s, dir) =>
      graft.plans.TopK.topKPerKey(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("lang"),
        Seq(md5(concat(lit("graftk"), col("doc_id").cast("string"))),
          col("doc_id")), 20)
        .orderBy(col("lang"), col("doc_id"))),

    // Weighted sample without replacement (Efraimidis–Spirakis A-ES):
    // inclusion odds proportional to token count, drawn from the salted
    // hash — deterministic, so the DuckDB oracle replays the exact draw
    // (hex→int via the '0x' cast). The top-k plans as
    // TakeOrderedAndProject: per-partition heaps + one k-row merge, never
    // a global sort.
    "corpus_weighted_sample" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("double").as("weight"))
        .where(col("weight") > 0)
      graft.operators.Corpus.weightedSample(d, "doc_id", col("weight"), 50,
        "graftw").orderBy(col("doc_id"))
    }),

    // BPE training pair statistics (the per-iteration aggregation of
    // Bpe.train, over the distinct-word vocab — never the corpus).
    HL("bpe_pair_counts") -> ((s, dir) =>
      graft.operators.Bpe.initialPairCounts(
        graft.operators.Bpe.wordVocab(tbl(s, dir, "documents"), "text"))
        .orderBy(col("total").desc, col("a"), col("b")).limit(10)),

    // The learned merge TABLE itself under the oracle gate (not just the
    // round-1 statistics): 5 training rounds over the ascii-word
    // sub-vocabulary (a deterministic, collation-safe subset — tiebreaks
    // compare raw bytes identically in Spark and DuckDB). The DuckDB
    // oracle replays the trainer exactly, with the 5 rounds unrolled as
    // chained materialized CTEs: per round, occurrence-weighted adjacent-
    // pair counts → argmax on (count DESC, a, b) → greedy left-to-right
    // merge, the merge applied via string replace over a wrapped
    // double-space symbol encoding (" a  b " → " ab "), whose
    // non-overlapping left-to-right replace semantics equal BpeApply's
    // greedy scan.
    HL("bpe_merge_table") -> ((s, dir) => {
      val vocab = graft.operators.Bpe
        .wordVocab(tbl(s, dir, "documents"), "text")
        .where(col("word").rlike("^[a-z]+$"))
      val merges = graft.operators.Bpe.trainFromVocab(vocab, nMerges = 5)
      import s.implicits._
      merges.toDF("rank", "a", "b", "pair_count")
        .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
          col("pair_count"))
        .orderBy(col("rank"))
    }),

    // BPE ENCODE gate — the trained merge table applied to every document
    // (BpeApply's greedy per-word scan), hash-compared as the md5 of each
    // doc's full token stream: the strongest equality the oracle can
    // express, replayed in DuckDB by the same chained-CTE trainer plus a
    // per-word replace cascade over the wrapped double-space encoding.
    "bpe_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = graft.operators.Bpe.wordVocab(docs, "text")
        .where(col("word").rlike("^[a-z]+$"))
      val merges = graft.operators.Bpe.trainFromVocab(vocab, nMerges = 5)
      val lower = docs.select(col("doc_id"),
        array_join(filter(split(trim(col("text")), "\\s+"),
          w => w.rlike("^[a-z]+$")), " ").as("t"))
        .where(length(col("t")) > 0)
      graft.operators.Bpe.encode(lower, "doc_id", "t", merges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(col("tokens"), " ")).as("tok_md5"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM tokenizer (SentencePiece family) quality gate: training is
    // deterministic but not SQL-expressible (iterative Viterbi EM), so the
    // gated row is the SQL-recomputable corpus geometry (n_docs, n_chars
    // over the [a-z]+ word stream) plus pinned invariants computed against
    // the real model: every segmentation concatenates back to its word,
    // subword tokens compress vs characters, vocab fits the target with
    // full character coverage. Algorithm differentials live in
    // UnigramLmSpec (DP ≡ exhaustive search, EM monotonicity, determinism).
    HL("text_unigram_lm") -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = graft.operators.Bpe.wordVocab(docs, "text")
        .where(col("word").rlike("^[a-z]+$"))
      val model = graft.operators.UnigramLm.trainFromVocab(vocab,
        vocabSize = 300, maxPieceLen = 5, seedSize = 600)
      val chars = model.pieces.map(_._1).filter(_.length == 1).toSet
      val observed = vocab.select(explode(split(col("word"), "")).as("c"))
        .where(length(col("c")) > 0).distinct()
        .collect().map(_.getString(0)).toSet // ≤26 rows by the rlike gate
      val lower = docs.select(col("doc_id"),
        array_join(filter(split(trim(col("text")), "\\s+"),
          w => w.rlike("^[a-z]+$")), " ").as("t"))
        .where(length(col("t")) > 0)
      lower.select(
          regexp_replace(col("t"), "\\s+", "").as("squash"),
          flatten(transform(split(col("t"), "\\s+"),
            w => graft.operators.UnigramLm.segmentColumn(w, model)))
            .as("tokens"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("squash"))).cast("long").as("n_chars"),
          (sum(when(concat_ws("", col("tokens")) === col("squash"), 0L)
            .otherwise(1L)) === 0).as("concat_ok"),
          (sum(size(col("tokens")).cast("long")) <
            sum(length(col("squash")))).as("compression_ok"))
        .withColumn("vocab_ok",
          lit(model.size <= 300 && observed.subsetOf(chars)))
    }),

    "vocab_topk" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50)),

    // Tokenizer apply: vocab ids 1..16 by (freq desc, token), OOV → 0,
    // documents re-emitted as id sequences (CSV so the compare is scalar).
    HL("text_token_ids") -> ((s, dir) =>
      graft.operators.Corpus.tokenizeToIds(tbl(s, dir, "documents"),
        "doc_id", "text", vocabSize = 16)
        .orderBy(col("doc_id"))),

    // Multiset set ops: INTERSECT ALL keeps min multiplicity, EXCEPT ALL
    // subtracts multiplicities (lineitem has one row per line, orders one
    // per key — the ALL variants are where they differ from set_ops).
    "set_ops_all" -> ((s, dir) => sql(s, dir,
      """SELECT k, tag FROM (
        |  (SELECT l_orderkey AS k, 'both' AS tag FROM lineitem
        |   INTERSECT ALL SELECT o_orderkey, 'both' FROM orders)
        |  UNION ALL
        |  (SELECT l_orderkey AS k, 'extra' AS tag FROM lineitem
        |   EXCEPT ALL SELECT o_orderkey, 'extra' FROM orders)
        |) t ORDER BY tag, k""".stripMargin)),

    // Null-safe equality join (<=>): NULL keys match each other — the
    // dedup-on-nullable-business-key semantic ordinary equi-joins drop.
    "join_null_safe" -> ((s, dir) => sql(s, dir,
      """WITH a AS (SELECT o_orderkey,
        |  CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k
        |  FROM orders),
        |b AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS k
        |  FROM customer)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_matches
        |FROM a JOIN b ON a.k <=> b.k""".stripMargin)),

    // Per-language token budget: fill 5000 tokens per lang with the best-
    // quality docs first (greedy prefix; ≤1 doc overflow per group).
    HL("corpus_token_budget") -> ((s, dir) =>
      graft.operators.Corpus.tokenBudgetFilter(
          qualityScored(tbl(s, dir, "documents"))
            .select(col("doc_id"), col("lang"), col("quality"),
              T.tokenCount(col("text")).cast("long").as("n_tokens")),
          "lang", "quality", "doc_id", "n_tokens", budget = 5000L)
        .orderBy(col("doc_id"))),

    // GLOBAL token budget: fill 20000 tokens with the best-quality docs
    // corpus-wide via the two-phase histogram (better buckets kept map-side,
    // only the crossing bucket refined by an exact window) — exact result,
    // no global sort. The oracle recomputes it as a naive global window.
    HL("corpus_token_budget_global") -> ((s, dir) =>
      graft.operators.Corpus.tokenBudgetGlobalFilter(
          qualityScored(tbl(s, dir, "documents"))
            .select(col("doc_id"), col("lang"), col("quality"),
              T.tokenCount(col("text")).cast("long").as("n_tokens")),
          "quality", "doc_id", "n_tokens", budget = 20000L)
        .orderBy(col("doc_id"))),

    // Weighted corpus mixing (the training recipe): en docs at weight 0.7
    // interleaved with the rest at 0.3 by stride scheduling — any prefix of
    // the merged order holds the sources in 7:3 proportion. Pure per-source
    // permutation + union; the oracle recomputes ranks and positions.
    HL("corpus_mix") -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Corpus.mixCorpora(Seq(
          (docs.where(col("lang") === "en"), "en", 0.7),
          (docs.where(col("lang") =!= "en"), "rest", 0.3)),
          "doc_id", "mix1")
        .select(col("doc_id"), col("src"), col("rk"), col("mix_pos"))
        .orderBy(col("mix_pos"), col("src"), col("doc_id"))
    }),

    // Deterministic stratified sampling: per-language keep rates (down-
    // sample dominant en, keep the rest whole) via salted-hash thresholds —
    // map-side, no RNG, rerun-identical.
    // Temperature (α = 0.5) language rebalancing: √-weighted per-language
    // retention targets in exact integer arithmetic, kept docs = each
    // language's salted-md5 shuffle prefix — deterministic, oracle-replayed.
    "corpus_temperature_mix" -> ((s, dir) =>
      graft.operators.Corpus.temperatureRebalance(tbl(s, dir, "documents"),
          "doc_id", "lang", "graftT", totalTarget = 300)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    "corpus_stratified_sample" -> ((s, dir) =>
      graft.operators.Corpus.stratifiedSample(tbl(s, dir, "documents"),
          "doc_id", "lang", "graft1",
          Map("en" -> 0.5, "de" -> 0.75), defaultRate = 1.0)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Incremental exact dedup: the daily-batch shape — batch docs (doc_id ≡
    // 0 mod 5) survive iff their canonical fingerprint is absent from the
    // existing-corpus index (the rest of the table). One anti-join against
    // the maintained index; the 100 TB corpus is never rescanned.
    HL("dedup_incremental") -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      graft.operators.Dedup.incrementalExact(batch,
          graft.operators.Dedup.fingerprintIndex(corpus, "text"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Sequence packing: the chunk stream laid end-to-end into 256-token
    // packs, sharded by doc_id % 8 (packing is sequential per shard,
    // parallel across shards). pack_id ≠ pack_id_end marks chunks that
    // straddle a pack boundary.
    "corpus_pack" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      val chunks = toks.select(col("doc_id"),
        posexplode(T.chunkTokens(col("toks"), 50, 40))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          T.tokenCount(col("chunk")).cast("long").as("chunk_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      graft.operators.Corpus.packSequences(chunks, "shard",
          Seq("doc_id", "chunk_idx"), "chunk_tokens", budget = 256)
        .select(col("shard"), col("doc_id"), col("chunk_idx"),
          col("chunk_tokens"), col("pack_offset"), col("pack_id"),
          col("pack_id_end"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Intra-doc repetition: fraction of word-trigram occurrences that
    // repeat an earlier trigram in the same document (Gopher-style signal).
    "text_repetition" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          T.wordNgrams(col("toks"), 3).as("tg"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("tg")).cast("long").as("n_trigrams"),
          size(array_distinct(col("tg"))).cast("long").as("n_distinct"),
          T.ngramDupFraction(col("tg")).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // S7 (extension) — ORC round-trip through the source layer (same
    // contract as the CSV/JSON round-trips; native vectorized reader).
    "src_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc_").toString
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate")
      val src = tbl(s, dir, "orders").select(cols.map(col): _*)
      src.write.mode("overwrite").orc(tmp)
      TableCatalog.loadOrc(s, tmp, src.schema)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    })
  )

  // ------------------------------------------------------------- oracles

  /** DuckDB replay of [[graft.operators.Bpe.trainFromVocab]] over the
    * ascii-word sub-vocabulary, `nRounds` merges unrolled as chained
    * MATERIALIZED CTEs (materialization is load-bearing: each round's
    * best-pair scalar is referenced several times, and inlining would
    * re-evaluate the whole chain exponentially). Symbol sequences live in
    * a wrapped double-space string encoding — " a  b  c " — so a merge is
    * one left-to-right non-overlapping replace(" a  b " → " ab "), exactly
    * BpeApply's greedy scan, and multi-char symbols can never false-match
    * inside a neighbor (every symbol carries its own single-space wrap).
    */
  private def bpeTrainCtes(nRounds: Int): String = {
    def round(r: Int) = s"""
pairs$r AS MATERIALIZED (
  SELECT a, b, CAST(sum(n) AS BIGINT) AS total FROM (
    SELECT n, p.a AS a, p.b AS b FROM (
      SELECT n, unnest([{'a': l[i], 'b': l[i+1]} for i in range(1, len(l))]) AS p
      FROM (SELECT n, string_split(trim(s, ' '), '  ') AS l FROM w${r - 1})))
  GROUP BY a, b),
best$r AS MATERIALIZED (
  SELECT $r AS rank, a, b, total FROM pairs$r
  WHERE total >= 2 ORDER BY total DESC, a, b LIMIT 1),
w$r AS MATERIALIZED (
  SELECT n, CASE WHEN (SELECT count(*) FROM best$r) = 1
    THEN replace(s, ' ' || (SELECT a FROM best$r) || '  ' || (SELECT b FROM best$r) || ' ',
                 ' ' || (SELECT a FROM best$r) || (SELECT b FROM best$r) || ' ')
    ELSE s END AS s
  FROM w${r - 1})"""
    s"""WITH vocab AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
  WHERE regexp_full_match(word, '[a-z]+') GROUP BY word),
w0 AS MATERIALIZED (
  SELECT n, ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s FROM vocab),
${(1 to nRounds).map(round).mkString(",")}"""
  }

  private def bpeMergeTableOracle(nRounds: Int): String =
    s"""${bpeTrainCtes(nRounds)}
SELECT CAST(rank AS BIGINT) AS rank, a, b, total AS pair_count
FROM (${(1 to nRounds).map(r => s"SELECT * FROM best$r").mkString(" UNION ALL ")})
ORDER BY rank"""

  /** Encode replay: the same trainer chain, then each document's ascii-word
    * stream re-segmented by the learned merges — per word (merges never
    * cross word boundaries), via the identical replace-over-wrapped-symbols
    * cascade the trainer uses, so the oracle applies BpeApply's greedy
    * left-to-right semantics exactly. Compared as per-doc token counts plus
    * the md5 of the word-ordered token stream. */
  private def bpeEncodeOracle(nRounds: Int): String = {
    def apply(r: Int) = s""",
d$r AS MATERIALIZED (
  SELECT doc_id, wi, CASE WHEN (SELECT count(*) FROM best$r) = 1
    THEN replace(s, ' ' || (SELECT a FROM best$r) || '  ' || (SELECT b FROM best$r) || ' ',
                 ' ' || (SELECT a FROM best$r) || (SELECT b FROM best$r) || ' ')
    ELSE s END AS s
  FROM d${r - 1})"""
    s"""${bpeTrainCtes(nRounds)},
docw AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_extract_all(trim(text), '\\S+'),
    x -> regexp_full_match(x, '[a-z]+')) AS ws FROM documents),
d0 AS MATERIALIZED (
  SELECT doc_id, wi, ' ' || array_to_string(string_split(ws[wi], ''), '  ') || ' ' AS s
  FROM docw, unnest(range(1, len(ws) + 1)) AS t(wi)
  WHERE len(ws) > 0)
${(1 to nRounds).map(apply).mkString("")}
SELECT doc_id,
  CAST(sum(len(string_split(trim(s, ' '), '  '))) AS BIGINT) AS n_tokens,
  md5(string_agg(array_to_string(string_split(trim(s, ' '), '  '), ' '),
    ' ' ORDER BY wi)) AS tok_md5
FROM d$nRounds GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB replay of the dHash perceptual dedup over the planted-duplicate
    * PNG fixture: the fixture's pixels are a pure integer formula of
    * (fid = doc_id % nDistinct, x, y), so decode + integer luma + the 9×8
    * nearest-neighbor sample + gradient bits replay exactly in SQL. The
    * 64-bit hash accumulates in HUGEINT and converts to the signed BIGINT
    * two's complement (same trick as the FNV checksum oracle). */
  private def dhashOracle(nDistinct: Int): String = {
    def gray(sx: String, sy: String): String =
      s"(299 * ((fid * 7 + ($sx) * 13 + ($sy) * 31) % 256) + " +
        s"587 * ((fid * 11 + ($sx) * 3 + ($sy) * 17) % 256) + " +
        s"114 * ((fid * 5 + ($sx) * 29 + ($sy) * 7) % 256)) // 1000"
    s"""WITH ids AS (SELECT doc_id, doc_id % $nDistinct AS fid FROM documents),
dims AS (SELECT doc_id, fid, 4 + fid % 13 AS w, 3 + fid % 7 AS h FROM ids),
bits AS (
  SELECT doc_id, y * 8 + x AS bi,
    CASE WHEN ${gray("((x + 1) * w) // 9", "(y * h) // 8")} >
              ${gray("(x * w) // 9", "(y * h) // 8")} THEN 1 ELSE 0 END AS b
  FROM dims, unnest(range(0, 8)) t1(y), unnest(range(0, 8)) t2(x)),
hv AS (
  SELECT doc_id, sum(CASE WHEN b = 1 THEN (1::HUGEINT << bi)
    ELSE 0::HUGEINT END) AS hu
  FROM bits GROUP BY doc_id),
hs AS (
  SELECT doc_id, CAST(CASE WHEN hu >= 9223372036854775808
    THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS dhash FROM hv)
SELECT dhash, CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS keeper
FROM hs GROUP BY dhash ORDER BY dhash"""
  }

  /** EXACT all-pairs Hamming-≤3 oracle for the banded near-dup join, over
    * the perturbed fixture: `fid = doc_id % nDistinct` keys the content,
    * every other block serves the one-pixel variant (+128 red at (0,0) —
    * a CASE inside the red term of the luma), and the pair set is the full
    * O(n²) self-join the Spark side must reproduce collision-only. */
  private def dhashNearDupOracle(nDistinct: Int): String = {
    def gray(sx: String, sy: String): String = {
      val r = s"CASE WHEN v = 1 AND ($sx) = 0 AND ($sy) = 0 " +
        s"THEN (fid * 7 + ($sx) * 13 + ($sy) * 31 + 128) % 256 " +
        s"ELSE (fid * 7 + ($sx) * 13 + ($sy) * 31) % 256 END"
      s"(299 * ($r) + " +
        s"587 * ((fid * 11 + ($sx) * 3 + ($sy) * 17) % 256) + " +
        s"114 * ((fid * 5 + ($sx) * 29 + ($sy) * 7) % 256)) // 1000"
    }
    s"""WITH ids AS (SELECT doc_id, doc_id % $nDistinct AS fid,
  (doc_id // $nDistinct) % 2 AS v FROM documents),
dims AS (SELECT doc_id, fid, v, 4 + fid % 13 AS w, 3 + fid % 7 AS h FROM ids),
bits AS (
  SELECT doc_id, y * 8 + x AS bi,
    CASE WHEN ${gray("((x + 1) * w) // 9", "(y * h) // 8")} >
              ${gray("(x * w) // 9", "(y * h) // 8")} THEN 1 ELSE 0 END AS b
  FROM dims, unnest(range(0, 8)) t1(y), unnest(range(0, 8)) t2(x)),
hv AS (
  SELECT doc_id, sum(CASE WHEN b = 1 THEN (1::HUGEINT << bi)
    ELSE 0::HUGEINT END) AS hu
  FROM bits GROUP BY doc_id),
hs AS (
  SELECT doc_id, CAST(CASE WHEN hu >= 9223372036854775808
    THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS dhash FROM hv)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
FROM hs a JOIN hs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
ORDER BY id_a, id_b"""
  }

  /** DuckDB replay of the video near-dup gate's EXACT baseline: each
    * fixture video's frame CONTENT ids are a pure formula of
    * (vid = doc_id % nDistinct, variant bit, k), each frame's dHash
    * replays from the pixel formula (same machinery as [[dhashOracle]],
    * over the distinct frame ids), and the exact pair set is the
    * shared-frame join + set Jaccard ≥ threshold the Spark gate computes.
    * Banding-dependent recall rides as the pinned-true boolean. */
  /** Shared oracle CTE chain for the video fixture: per-video frame
    * CONTENT ids from the (vid, variant, k) formula, then each distinct
    * frame's dHash replayed from the pixel formula — ends at `hs`
    * (fid → fhash). Reused by the batch near-dup gate and the streaming
    * fingerprint gate. */
  private def videoFrameCtes(nDistinct: Int, nFrames: Int): String = {
    def gray(sx: String, sy: String): String =
      s"(299 * ((fid * 7 + ($sx) * 13 + ($sy) * 31) % 256) + " +
        s"587 * ((fid * 11 + ($sx) * 3 + ($sy) * 17) % 256) + " +
        s"114 * ((fid * 5 + ($sx) * 29 + ($sy) * 7) % 256)) // 1000"
    s"""ids AS (SELECT doc_id, doc_id % $nDistinct AS vid,
  (doc_id // $nDistinct) % 2 AS v FROM documents),
fr AS (
  SELECT doc_id, CASE WHEN v = 1 AND k = vid % $nFrames
    THEN vid * 64 + 63 ELSE vid * 64 + k END AS fid
  FROM ids, unnest(range(0, $nFrames)) t(k)),
fids AS (SELECT DISTINCT fid FROM fr),
dims AS (SELECT fid, 4 + fid % 13 AS w, 3 + fid % 7 AS h FROM fids),
bits AS (
  SELECT fid, y * 8 + x AS bi,
    CASE WHEN ${gray("((x + 1) * w) // 9", "(y * h) // 8")} >
              ${gray("(x * w) // 9", "(y * h) // 8")} THEN 1 ELSE 0 END AS b
  FROM dims, unnest(range(0, 8)) t1(y), unnest(range(0, 8)) t2(x)),
hv AS (
  SELECT fid, sum(CASE WHEN b = 1 THEN (1::HUGEINT << bi)
    ELSE 0::HUGEINT END) AS hu
  FROM bits GROUP BY fid),
hs AS (
  SELECT fid, CAST(CASE WHEN hu >= 9223372036854775808
    THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS fhash FROM hv)"""
  }

  /** Multiset replay for the STREAMING video fingerprint gate: the
    * converged Complete-mode per-video stats over frame hashes
    * (duplicates included — count/min/max/bit_xor are the
    * order-insensitive, streaming-legal statistics). */
  private def videoStreamOracle(nDistinct: Int, nFrames: Int): String =
    s"""WITH ${videoFrameCtes(nDistinct, nFrames)},
vh AS (SELECT fr.doc_id, hs.fhash FROM fr JOIN hs ON fr.fid = hs.fid)
SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_frames,
  min(fhash) AS fhash_min, max(fhash) AS fhash_max,
  bit_xor(fhash) AS fhash_xor
FROM vh GROUP BY doc_id ORDER BY media_id"""

  private def videoDedupOracle(nDistinct: Int, nFrames: Int): String = {
    s"""WITH ${videoFrameCtes(nDistinct, nFrames)},
vh AS (SELECT DISTINCT fr.doc_id, hs.fhash FROM fr JOIN hs ON fr.fid = hs.fid),
sz AS (SELECT doc_id, count(*) AS n FROM vh GROUP BY doc_id),
com AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM vh a JOIN vh b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
ep AS (
  SELECT id_a, id_b,
    round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jacc
  FROM com JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.7)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_videos,
  CAST(count(*) AS BIGINT) AS n_exact_pairs,
  CAST(sum(CAST(round(jacc * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_jacc_e6,
  true AS recall_ok
FROM ep"""
  }

  /** DuckDB replay of the audio energy-delta fingerprint dedup: the shaped
    * WAV fixture's samples are a pure integer formula of
    * (fid = doc_id % nDistinct, i), so decode + 65-window |sample| energies
    * + gradient sign bits replay exactly in SQL (same HUGEINT accumulate +
    * two's-complement convert as [[dhashOracle]]). */
  private def audioHashOracle(nDistinct: Int): String =
    s"""WITH ids AS (SELECT doc_id, doc_id % $nDistinct AS fid FROM documents),
dims AS (SELECT doc_id, fid, (fid % 5 + 1) * 400 AS n FROM ids),
en AS (
  SELECT doc_id, k,
    sum(abs(((fid * 7 + i * 13 + fid * ((i * i) % 97)) % 65536) - 32768)) AS e
  FROM dims, unnest(range(0, 65)) t1(k),
       unnest(range((k * n) // 65, ((k + 1) * n) // 65)) t2(i)
  GROUP BY doc_id, k),
bits AS (
  SELECT doc_id, k AS bi,
    CASE WHEN lead(e) OVER (PARTITION BY doc_id ORDER BY k) > e
      THEN 1 ELSE 0 END AS b
  FROM en),
hv AS (
  SELECT doc_id, sum(CASE WHEN b = 1 THEN (1::HUGEINT << bi)
    ELSE 0::HUGEINT END) AS hu
  FROM bits WHERE bi < 64 GROUP BY doc_id),
hs AS (
  SELECT doc_id, CAST(CASE WHEN hu >= 9223372036854775808
    THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS ahash FROM hv)
SELECT ahash, CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS keeper
FROM hs GROUP BY ahash ORDER BY ahash"""

  def oracleSql: Map[String, String] = Map(
    "bpe_merge_table" -> bpeMergeTableOracle(5),
    "bpe_encode" -> bpeEncodeOracle(5),
    "mm_image_dedup" -> dhashOracle(20),
    "mm_audio_dedup" -> audioHashOracle(20),
    "ev_stream_mm_dedup" -> dhashOracle(20),
    "mm_image_neardup" -> dhashNearDupOracle(20),
    "mm_video_dedup" -> videoDedupOracle(20, 8),
    "ev_stream_mm_video" -> videoStreamOracle(20, 8),
    // Unigram-LM gate: SQL-recomputable corpus geometry over the same
    // [a-z]+ word stream; the model-dependent invariants are pinned TRUE
    // (the Spark side computes the real booleans against the trained model).
    "text_unigram_lm" ->
      """WITH w AS (SELECT doc_id, array_to_string(list_filter(regexp_extract_all(trim(text), '\S+'), x -> regexp_matches(x, '^[a-z]+$')), ' ') AS t FROM documents), f AS (SELECT doc_id, replace(t, ' ', '') AS squash FROM w WHERE length(t) > 0) SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(squash)) AS BIGINT) AS n_chars, true AS concat_ok, true AS compression_ok, true AS vocab_ok FROM f""",
    "s1_stride_scan" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "p2_normalize_names" ->
      "SELECT l_orderkey AS l_orderkey, l_linenumber AS l_line_number, l_returnflag AS l_returnflag FROM lineitem ORDER BY l_orderkey, l_line_number",
    "src_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey""",
    "src_xml_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice FROM orders ORDER BY o_orderkey""",
    "src_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey""",
    "p3_trim_strings" ->
      "SELECT doc_id, trim('  ' || text || '   ') AS text FROM documents ORDER BY doc_id",
    "p4_audit_columns" ->
      "SELECT l_orderkey, l_linenumber, TIMESTAMP '2026-01-01 00:00:00' AS migration_tp_utc, 'plan0hash' AS migration_executionhashid FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "p5_date_parts" ->
      "SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS VARCHAR) AS year, CAST(month(l_shipdate) AS VARCHAR) AS month, CAST(day(l_shipdate) AS VARCHAR) AS day FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "k2_partitioned_roundtrip" ->
      "SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS VARCHAR) AS year, CAST(month(l_shipdate) AS VARCHAR) AS month, CAST(day(l_shipdate) AS VARCHAR) AS day FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "k1_unpartitioned_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice FROM orders ORDER BY o_orderkey",
    "k3_column_partition_roundtrip" ->
      "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice, CAST(o_orderstatus AS VARCHAR) AS o_orderstatus FROM orders ORDER BY o_orderkey",
    "s2_single_stream" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_nationkey",
    "a1_count" -> "SELECT count(*) AS cnt FROM lineitem",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, o_orderdate, o_orderpriority FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00' GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_local_supplier_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, l_extendedprice * (1 - l_discount) AS volume FROM supplier JOIN lineitem ON s_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping GROUP BY supp_nation, cust_nation, l_year ORDER BY supp_nation, cust_nation, l_year""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, n_name FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q14_promo_effect" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""",
    "q19_discounted_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN part ON p_partkey = l_partkey WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21) OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 40) OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 50)""",
    "q2_min_cost_supplier" ->
      """SELECT s_name, p_partkey, p_name, round(l_extendedprice / l_quantity, 4) AS unit_cost FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE' AND p_size = 5 AND l_extendedprice / l_quantity = (SELECT min(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey JOIN region r2 ON n2.n_regionkey = r2.r_regionkey WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE') ORDER BY s_name, p_partkey LIMIT 20""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAYS) GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q8_market_share" ->
      """SELECT o_year, round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END) / sum(volume), 4) AS mkt_share FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey JOIN region ON n1.n_regionkey = r_regionkey JOIN nation n2 ON s_nationkey = n2.n_nationkey WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations GROUP BY o_year ORDER BY o_year""",
    "q9_product_profit" ->
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity AS amount FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%red%') profit GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
    "q11_important_stock" ->
      """SELECT l_partkey, round(sum(l_extendedprice), 2) AS value FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3' GROUP BY l_partkey HAVING sum(l_extendedprice) > (SELECT sum(l_extendedprice) * 0.001 FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3') ORDER BY value DESC, l_partkey""",
    "q12_priority_shipping" ->
      """SELECT l_linestatus, count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count, count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (SELECT c_custkey, count(o_orderkey) AS c_count FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW' GROUP BY c_custkey) c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) SELECT s_suppkey, s_name, total_revenue FROM supplier JOIN revenue ON s_suppkey = supplier_no WHERE total_revenue = (SELECT max(total_revenue) FROM revenue) ORDER BY s_suppkey""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO' AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22) AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) GROUP BY p_brand, p_type, p_size ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#13' AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    "q18_large_volume" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS total_price, round(sum(l_quantity), 2) AS sum_qty FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) ORDER BY total_price DESC, o_orderkey LIMIT 20""",
    "q20_promotion_suppliers" ->
      """SELECT s_name, s_suppkey FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#1' AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY l_suppkey HAVING sum(l_quantity) > 100) ORDER BY s_suppkey""",
    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey JOIN orders ON o_orderkey = l1.l_orderkey WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS) GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""",
    "q22_sales_opportunity" ->
      """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal FROM (SELECT substring(c_name, 18, 1) AS cntrycode, c_acctbal, c_custkey FROM customer WHERE substring(c_name, 18, 1) IN ('1', '3', '5', '7', '9') AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)) c WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') GROUP BY cntrycode ORDER BY cntrycode""",
    "sql_recursive_spine" ->
      """WITH RECURSIVE months(m) AS (SELECT TIMESTAMP '1995-01-01 00:00:00' AS m UNION ALL SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-08-01 00:00:00') SELECT m, count(o_orderkey) AS n_orders, round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m GROUP BY m ORDER BY m""",
    "w1_rank_orders" ->
      """SELECT o_custkey, o_orderkey, rk FROM (SELECT o_custkey, o_orderkey, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) t WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey""",
    "w2_running_total" ->
      """SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend FROM orders ORDER BY o_custkey, o_orderkey""",
    "w3_lag_delta" ->
      """SELECT event_id, user_id, round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta FROM events ORDER BY event_id""",
    "topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "set_ops" ->
      """SELECT k, tag FROM ((SELECT c_custkey AS k, 'with_orders' AS tag FROM customer INTERSECT SELECT o_custkey, 'with_orders' FROM orders) UNION ALL (SELECT c_custkey AS k, 'no_orders' AS tag FROM customer EXCEPT SELECT o_custkey, 'no_orders' FROM orders)) t ORDER BY tag, k""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "subq_exists" ->
      """SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 490000) ORDER BY c_custkey""",
    "subq_not_exists" ->
      """SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000) ORDER BY c_custkey""",
    "cte_region_sales" ->
      """WITH nation_sales AS (SELECT c_nationkey AS nk, round(sum(o_totalprice), 2) AS sales, count(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey) SELECT r_name, round(sum(sales), 2) AS region_sales, CAST(sum(n_orders) AS BIGINT) AS n_orders FROM nation_sales JOIN nation ON nk = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""",
    "corr_scalar_select" ->
      """SELECT o_orderkey, o_totalprice, (SELECT max(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey) AS max_qty FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""",
    "percentiles" ->
      """SELECT l_returnflag, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50, round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90 FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_approx_quantile" ->
      """SELECT l_returnflag, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50_exact, true AS approx_ok FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "regex_extract" ->
      """SELECT doc_id, coalesce(regexp_extract(text, '([a-z]+) ([a-z]+)', 2), '') AS second_word FROM documents ORDER BY doc_id""",
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders, count(DISTINCT l_suppkey) AS n_supp FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "join_full_outer" ->
      """SELECT c.c_custkey, o.o_custkey AS order_cust, o.n_orders FROM (SELECT * FROM customer WHERE c_custkey <= 700) c FULL OUTER JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders WHERE o_totalprice > 480000 GROUP BY o_custkey) o ON c.c_custkey = o.o_custkey ORDER BY c.c_custkey NULLS FIRST, order_cust NULLS FIRST""",
    "w4_lead_ntile" ->
      """SELECT o_orderkey, lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order, CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile, CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey) AS BIGINT) AS dr FROM orders ORDER BY o_orderkey""",
    "w5_range_frame" ->
      """SELECT o_orderkey, count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS trailing_30d_orders FROM orders ORDER BY o_orderkey""",
    "str_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 5) AS t5, concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size, CAST(length(p_name) AS BIGINT) AS name_len, replace(p_type, ' ', '_') AS type_u, lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad FROM part ORDER BY p_partkey""",
    "date_funcs" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, CAST(year(o_orderdate) AS BIGINT) AS y, CAST(quarter(o_orderdate) AS BIGINT) AS q, CAST(o_orderdate AS DATE) + 30 AS plus30, last_day(CAST(o_orderdate AS DATE)) AS month_end FROM orders ORDER BY o_orderkey""",
    "in_subquery" ->
      """SELECT p_partkey, p_name FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49) ORDER BY p_partkey""",
    "scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.9 ORDER BY o_orderkey""",
    "case_bucketing" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'low' WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders GROUP BY 1 ORDER BY bucket""",
    "pivot_status" ->
      """SELECT o_orderpriority, CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open, CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished, CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "median_quantity" ->
      """SELECT l_returnflag, round(median(l_quantity), 2) AS med_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "array_ops" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS e1, round(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0 AS emax FROM embeddings ORDER BY vec_id""",
    "explode_tokens" ->
      """SELECT CAST(length(token) AS BIGINT) AS tok_len, count(*) AS n FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents) t WHERE length(token) > 0 GROUP BY 1 ORDER BY 1""",
    "ev_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "ev_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS win_start, count(*) AS n FROM events GROUP BY 1 ORDER BY 1""",
    "ev_variant_shred" ->
      """WITH j AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) SELECT CAST(k % 10 AS INTEGER) AS k_mod, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k FROM j GROUP BY 1 ORDER BY k_mod""",
    "ev_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id""",
    "ev_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), v AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id FROM events WHERE event_type = 'view' GROUP BY user_id, ts) SELECT p.event_id, p.user_id, p.ts, v.view_ts, v.view_event_id FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.view_ts ORDER BY p.event_id""",
    "ev_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts, CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800 THEN 1 ELSE 0 END AS brk FROM events), s AS (SELECT user_id, event_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g) SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    // Same three chained whole-partition windows; max() over the per-user
    // constants collapses to one row per user.
    "ev_funnel" ->
      """WITH w1 AS (SELECT user_id, ts, event_type, min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS v FROM events), w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= v THEN ts END) OVER (PARTITION BY user_id) AS c FROM w1), w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= c THEN ts END) OVER (PARTITION BY user_id) AS p FROM w2) SELECT user_id, max(v) AS view_ts, max(c) AS click_ts, max(p) AS purchase_ts FROM w3 GROUP BY user_id ORDER BY user_id""",
    // Fixed-point decayed counter: identical day-bucket + 2^(50-k) BIGINT
    // weighting; integer sums match bit-for-bit (no float exp anywhere).
    // Per-user-relative replay of the stream's shift-fold (exact: 29-day
    // span < 50 half-lives, every weight an integer power of two)
    "ev_stream_cdc" ->
      """WITH c AS (SELECT user_id, ts, event_id, value, CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op FROM events), r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM c) SELECT user_id, round(value, 2) AS value, ts FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""",
    "ev_stream_ann_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS self_ok FROM embeddings WHERE vec_id % 5 = 0""",
    // exactly-once: layout row count == corpus + batch EXACTLY (the forced
    // zombie replay must not inflate it)
    "ev_stream_ann_ingest_eo" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS self_ok FROM embeddings""",
    "ev_stream_decay" ->
      """WITH e AS (SELECT user_id, CAST(epoch(ts) AS BIGINT) // 86400 AS d FROM events), m AS (SELECT user_id, max(d) AS dm FROM e GROUP BY user_id) SELECT e.user_id, CAST(sum(CASE WHEN m.dm - e.d <= 50 THEN CAST(pow(2, 50 - (m.dm - e.d)) AS BIGINT) ELSE 0 END) AS BIGINT) AS decay_scaled, count(*) AS n_events FROM e JOIN m USING (user_id) GROUP BY e.user_id ORDER BY user_id""",
    "ev_decay" ->
      """WITH r AS (SELECT max(ts) AS tref FROM events), k AS (SELECT user_id, date_diff('second', ts, (SELECT tref FROM r)) // 86400 AS k FROM events) SELECT user_id, CAST(sum(CASE WHEN k <= 50 THEN CAST(pow(2, 50 - k) AS BIGINT) ELSE 0 END) AS BIGINT) AS decay_scaled, count(*) AS n_events FROM k GROUP BY user_id ORDER BY user_id""",
    "ev_retention" ->
      """WITH f AS (SELECT user_id, ts, date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS cohort FROM events) SELECT cohort, CAST((epoch(date_trunc('week', ts)) - epoch(cohort)) / 604800 AS BIGINT) AS wk, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM f GROUP BY 1, 2 ORDER BY cohort, wk""",
    "ev_attribution" ->
      """SELECT purchase_id, user_id, view_id FROM (SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id, row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) AS rn FROM events p JOIN events v ON v.user_id = p.user_id AND p.event_type = 'purchase' AND v.event_type = 'view' AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR) t WHERE rn = 1 ORDER BY purchase_id""",
    "agg_histogram" ->
      """WITH ext AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders) SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n, round(min(o_totalprice), 2) AS lo_v, round(max(o_totalprice), 2) AS hi_v FROM orders, ext GROUP BY 1 ORDER BY 1""",
    "agg_corr" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price, round(covar_samp(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax FROM lineitem GROUP BY 1 ORDER BY 1""",
    "agg_linreg" ->
      """SELECT l_returnflag, round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope, round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS icept, round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0 AS r2, CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n FROM lineitem GROUP BY 1 ORDER BY 1""",
    "unpivot_metrics" ->
      """WITH u AS (SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) SELECT l_orderkey, l_linenumber, metric, value FROM u ORDER BY l_orderkey, l_linenumber, metric""",
    // Same spine + portable count-over forward fill; generate_series is
    // inclusive of both ends, as Spark's sequence is.
    "ev_gap_fill" ->
      """WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS h, round(sum(value), 2) AS v FROM events GROUP BY 1, 2), sp AS (SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h FROM hourly GROUP BY user_id), j AS (SELECT s.user_id, s.h, hr.v FROM sp s LEFT JOIN hourly hr ON s.user_id = hr.user_id AND s.h = hr.h), g AS (SELECT user_id, h, v, count(v) OVER (PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM j) SELECT user_id, h, max(v) OVER (PARTITION BY user_id, grp) AS v_filled, v IS NULL AS is_gap FROM g ORDER BY user_id, h""",
    "ev_anomaly" ->
      """WITH w AS (SELECT event_id, user_id, value, count(value) OVER win AS n_win, avg(value) OVER win AS mu, stddev_samp(value) OVER win AS sd FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) SELECT event_id, user_id, value, CAST(n_win AS BIGINT) AS n_win, CASE WHEN n_win >= 5 AND sd > 0 THEN round((value - mu) / sd, 6) END AS z, abs(CASE WHEN n_win >= 5 AND sd > 0 THEN round((value - mu) / sd, 6) END) > 3 AS is_anomaly FROM w ORDER BY event_id""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies FROM documents GROUP BY text ORDER BY doc_id""",
    "corpus_health" ->
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT text) AS BIGINT) AS nd FROM documents), toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents WHERE length(trim(text)) > 0 AND len(regexp_extract_all(text, '\S+')) >= 8), g AS (SELECT doc_id, u.i, array_to_string(w[u.i+1:u.i+8], ' ') AS gram FROM toks, LATERAL (SELECT unnest(range(0, len(w) - 7)) AS i) u), d AS (SELECT doc_id, i FROM (SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS n FROM g) WHERE n > 1), sp AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_span_docs, CAST(count(*) AS BIGINT) AS n_dup_grams FROM d), m AS (SELECT CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0), q AS (SELECT CAST(sum(CASE WHEN round(0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass FROM m) SELECT n_docs, n_docs - nd AS n_exact_dupes, n_span_docs, n_dup_grams, n_quality_pass FROM b, sp, q""",
    "dedup_clip_spans" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents WHERE length(trim(text)) > 0 AND len(regexp_extract_all(text, '\S+')) >= 8), g AS (SELECT doc_id, u.i, array_to_string(w[u.i+1:u.i+8], ' ') AS gram FROM toks, LATERAL (SELECT unnest(range(0, len(w) - 7)) AS i) u), d AS (SELECT doc_id, i FROM (SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS n FROM g) WHERE n > 1), m AS (SELECT doc_id, i, CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8 THEN 0 ELSE 1 END AS brk FROM d), isl AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m), spans AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e FROM isl GROUP BY doc_id, island), toksall AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents WHERE length(trim(text)) > 0), allw AS (SELECT doc_id, u.i, w[CAST(u.i+1 AS INT)] AS word FROM toksall, LATERAL (SELECT unnest(range(0, len(w))) AS i) u), cov AS (SELECT DISTINCT a.doc_id, a.i FROM allw a JOIN spans s ON a.doc_id = s.doc_id AND a.i >= s.s AND a.i <= s.e), kept AS (SELECT a.doc_id, a.i, a.word FROM allw a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.i = c.i WHERE c.i IS NULL) SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words, CAST(len(t.w) - count(k.i) AS BIGINT) AS n_removed, COALESCE(string_agg(k.word, ' ' ORDER BY k.i), '') AS clean_text FROM toksall t LEFT JOIN kept k ON t.doc_id = k.doc_id GROUP BY t.doc_id, len(t.w) ORDER BY t.doc_id""",
    "dedup_dup_spans" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents WHERE length(trim(text)) > 0 AND len(regexp_extract_all(text, '\S+')) >= 8), g AS (SELECT doc_id, u.i, array_to_string(w[u.i+1:u.i+8], ' ') AS gram FROM toks, LATERAL (SELECT unnest(range(0, len(w) - 7)) AS i) u), d AS (SELECT doc_id, i FROM (SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS n FROM g) WHERE n > 1), m AS (SELECT doc_id, i, CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8 THEN 0 ELSE 1 END AS brk FROM d), isl AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m) SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start, CAST(max(i) + 7 AS BIGINT) AS span_end, CAST(count(*) AS BIGINT) AS n_grams FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "dedup_fingerprint" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)), 6) AS jaccard FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.4 ORDER BY id_a, id_b""",
    // PPJoin oracle = the UNCAPPED exact mine: every pair the quadratic
    // all-pairs join finds at t=0.7, the prefix-filtered engine must find.
    "dedup_ppjoin" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)), 6) AS jaccard FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.7 ORDER BY id_a, id_b""",
    // Governed default = budget trip + capped fallback: the dedup_ngram_
    // jaccard replay (df-256 live-gram cap, FULL pre-cap sizes in the
    // denominator) at t=0.7.
    "dedup_ppjoin_governed" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)), 6) AS jaccard FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.7 ORDER BY id_a, id_b""",
    "dedup_clusters" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)), pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.4), edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), reach AS (WITH RECURSIVE r(id, rep) AS (SELECT src, src FROM edges UNION SELECT e.dst, r.rep FROM r JOIN edges e ON e.src = r.id) SELECT * FROM r) SELECT id AS doc_id, min(rep) AS cluster_rep FROM reach GROUP BY id ORDER BY doc_id""",
    // Same recursive-CTE cluster replay as dedup_clusters, then the
    // keep-best window: longest text wins, doc_id breaks ties.
    "dedup_keep_best" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)), pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.4), edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), reach AS (WITH RECURSIVE r(id, rep) AS (SELECT src, src FROM edges UNION SELECT e.dst, r.rep FROM r JOIN edges e ON e.src = r.id) SELECT * FROM r), clusters AS (SELECT id AS doc_id, min(rep) AS cluster_rep FROM reach GROUP BY id), ranked AS (SELECT c.cluster_rep, c.doc_id, length(d.text) AS len, row_number() OVER (PARTITION BY c.cluster_rep ORDER BY length(d.text) DESC, c.doc_id) AS rn, count(*) OVER (PARTITION BY c.cluster_rep) AS n_members FROM clusters c JOIN documents d USING (doc_id)) SELECT cluster_rep, doc_id AS best_doc, CAST(len AS BIGINT) AS best_len, CAST(n_members AS BIGINT) AS n_members FROM ranked WHERE rn = 1 ORDER BY cluster_rep""",
    // Containment replay: identical gram CTE, overlap-coefficient score
    // (min-size denominator, full pre-cap gram counts), no size prune.
    // Novelty replay: identical gram CTE (no df cap — exact statistics)
    "text_novelty" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, unnest(gs) AS g FROM grams), d AS (SELECT g, count(*) AS df FROM sh GROUP BY g) SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, round(avg(CASE WHEN d.df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty FROM sh JOIN d USING (g) GROUP BY sh.doc_id ORDER BY doc_id""",
    // Fixed-cap override gate: the scale-independent df-256 mine.
    "dedup_containment_fixed" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(count(*) * 1.0 / least(any_value(a.n_grams), any_value(b.n_grams)), 6) AS containment FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / least(any_value(a.n_grams), any_value(b.n_grams)) >= 0.5 ORDER BY id_a, id_b""",
    // Containment DEFAULT (= governed since r12): the oracle replays the
    // cap CHOICE (exact per-cap expansion estimates over the string-gram
    // df profile vs the 2048·|docs| budget, 256…8 ladder largest-first)
    // and then the mine at that cap — engine-independent end to end.
    "dedup_containment" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), gdf AS MATERIALIZED (SELECT g, count(*) AS df FROM sh GROUP BY g), est AS (SELECT coalesce(sum(CASE WHEN df <= 256 THEN df*(df-1)//2 END),0) AS e256, coalesce(sum(CASE WHEN df <= 128 THEN df*(df-1)//2 END),0) AS e128, coalesce(sum(CASE WHEN df <= 64 THEN df*(df-1)//2 END),0) AS e64, coalesce(sum(CASE WHEN df <= 32 THEN df*(df-1)//2 END),0) AS e32, coalesce(sum(CASE WHEN df <= 16 THEN df*(df-1)//2 END),0) AS e16, (SELECT count(*) * 2048 FROM documents) AS budget FROM gdf), cap AS MATERIALIZED (SELECT CASE WHEN e256 <= budget THEN 256 WHEN e128 <= budget THEN 128 WHEN e64 <= budget THEN 64 WHEN e32 <= budget THEN 32 WHEN e16 <= budget THEN 16 ELSE 8 END AS c FROM est), live AS MATERIALIZED (SELECT g FROM gdf, cap WHERE df <= c), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(count(*) * 1.0 / least(any_value(a.n_grams), any_value(b.n_grams)), 6) AS containment, (SELECT CAST(c AS INTEGER) FROM cap) AS chosen_cap FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / least(any_value(a.n_grams), any_value(b.n_grams)) >= 0.5 ORDER BY id_a, id_b""",
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars, len(regexp_extract_all(text, '\S+')) AS n_tokens, len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """SELECT doc_id, length(text) AS n_chars, len(regexp_extract_all(text, '\S+')) AS n_tokens, length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits, length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct, length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper FROM documents ORDER BY doc_id""",
    "text_quality_score" ->
      """WITH m AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0) SELECT doc_id, round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality FROM m WHERE round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) >= 0.5 ORDER BY doc_id""",
    // Hashed-linear-classifier replay: bucket = hex4(md5(salt||token)) %
    // 64, weight = hex6(md5(saltw||bucket)) scaled to [-1,1), mean →
    // sigmoid(4·mean) rounded to 6; keep compares the ROUNDED score.
    "text_quality_classifier" ->
      """WITH tk AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks FROM documents), s AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens, len(toks) AS n, COALESCE(list_sum(list_transform(toks, t -> (('0x' || substr(md5('graftqw' || CAST((('0x' || substr(md5('graftq' || t), 1, 4))::UBIGINT % 64) AS VARCHAR)), 1, 6))::UBIGINT / 16777216.0) * 2 - 1)), 0.0) AS sw FROM tk) SELECT doc_id, n_tokens, round(1.0 / (1.0 + exp(-4.0 * (CASE WHEN n > 0 THEN sw / n ELSE 0.0 END))), 6) AS score, round(1.0 / (1.0 + exp(-4.0 * (CASE WHEN n > 0 THEN sw / n ELSE 0.0 END))), 6) >= 0.5 AS keep FROM s ORDER BY doc_id""",
    "skew_salted_join" ->
      """SELECT l.l_orderkey AS k, count(*) AS n, round(sum(l.l_quantity), 2) AS qty FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY l.l_orderkey ORDER BY k""",
    // Identical add-0.5 bigram model recomputed from scratch: bigram and
    // history counts over adjacent \S+ tokens, vocab-size smoothing,
    // summed -ln p per doc (round 6 kills summation-order ULP).
    "text_perplexity" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS ws FROM documents), big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM tok, unnest(range(1, len(ws))) AS t(i)), bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2), hc AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1), voc AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (SELECT unnest(ws) AS w FROM tok) u), sc AS (SELECT b.doc_id, ln((bc.cb + 0.5) / (hc.ch + 0.5 * voc.v)) AS lp FROM big b JOIN bc USING (w1, w2) JOIN hc USING (w1) CROSS JOIN voc), ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, sum(-lp) AS nll FROM sc GROUP BY doc_id) SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, round(coalesce(a.nll, 0), 6) AS nll, round(CASE WHEN a.n_bigrams > 0 THEN exp(a.nll / a.n_bigrams) END, 6) AS ppl FROM tok t LEFT JOIN ag a USING (doc_id) ORDER BY doc_id""",
    // BM25 with k1=1.2 b=0.75 over the same \S+ tokens; ORDER BY the
    // ROUNDED score + doc_id so the k-cut is engine-stable.
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS ws FROM documents), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM tok), posting AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, unnest(ws) AS t FROM tok), fp AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl FROM posting WHERE t IN ('spark', 'vector', 'customer') GROUP BY doc_id, t), dfc AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM fp GROUP BY t), per AS (SELECT f.doc_id, ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl)) AS s FROM fp f JOIN dfc d USING (t) CROSS JOIN stats s) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, round(sum(s), 6) AS score FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""",
    "text_bm25_indexed" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS ws FROM documents), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM tok), posting AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, unnest(ws) AS t FROM tok), fp AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl FROM posting WHERE t IN ('spark', 'vector', 'customer') GROUP BY doc_id, t), dfc AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM fp GROUP BY t), per AS (SELECT f.doc_id, ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl)) AS s FROM fp f JOIN dfc d USING (t) CROSS JOIN stats s) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, round(sum(s), 6) AS score FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""",
    // RRF fusion of the text_bm25 ranking (pool 50) and the
    // sim_bruteforce_topk cosine ranking (pool 50): ranks from the ROUNDED
    // leg scores, 1/(60+rank) summed over the legs a doc appears in.
    "retrieval_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS ws FROM documents), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM tok), posting AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, unnest(ws) AS t FROM tok), fp AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl FROM posting WHERE t IN ('spark', 'vector', 'customer') GROUP BY doc_id, t), dfc AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM fp GROUP BY t), per AS (SELECT f.doc_id, ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl)) AS s FROM fp f JOIN dfc d USING (t) CROSS JOIN stats s), lex AS (SELECT doc_id, round(sum(s), 6) AS score FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50), lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM lex), q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), sem AS (SELECT e.vec_id AS doc_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, doc_id LIMIT 50), semr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM sem), u AS (SELECT doc_id, 1.0 / (60 + r) AS contrib FROM lexr UNION ALL SELECT doc_id, 1.0 / (60 + r) FROM semr) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_legs, round(sum(contrib), 6) AS rrf_score FROM u GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 20""",
    // Composition of the dedup/quality/langid/chunking oracle fragments,
    // each individually proven by its own gate row.
    "pipeline_corpus_prep" ->
      """WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))), kept AS (SELECT d.doc_id, d.text FROM documents d JOIN dd ON d.doc_id = dd.doc_id), m AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM kept WHERE length(text) > 0), q AS (SELECT doc_id, text FROM m WHERE round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) >= 0.5), sc AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM q), s AS (SELECT doc_id, text, CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INTEGER) AS s_en, CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INTEGER) AS s_de, CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' les ', ''))) / 5 AS INTEGER) AS s_fr, CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' y ', ''))) / 3 AS INTEGER) + CAST((length(p) - length(replace(p, ' los ', ''))) / 5 AS INTEGER) AS s_es FROM sc), e AS (SELECT doc_id, text FROM s WHERE (CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en' WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de' WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr' WHEN s_es > 0 THEN 'es' ELSE 'und' END) = 'en'), tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM e), ch AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 50 THEN 1 ELSE CAST(ceil((len(toks) - 50) * 1.0 / 40) AS INTEGER) + 1 END AS nc FROM tk), ex AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM ch) SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(len(list_slice(toks, i * 40 + 1, i * 40 + 50)) AS BIGINT) AS chunk_tokens FROM ex ORDER BY doc_id, chunk_idx""",
    "text_langid" ->
      """WITH sc AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents), s AS (SELECT doc_id, lang, CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INTEGER) AS s_en, CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INTEGER) + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INTEGER) AS s_de, CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' les ', ''))) / 5 AS INTEGER) AS s_fr, CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INTEGER) + CAST((length(p) - length(replace(p, ' y ', ''))) / 3 AS INTEGER) + CAST((length(p) - length(replace(p, ' los ', ''))) / 5 AS INTEGER) AS s_es FROM sc) SELECT doc_id, lang, CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en' WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de' WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr' WHEN s_es > 0 THEN 'es' ELSE 'und' END AS lang_pred FROM s ORDER BY doc_id""",
    // Winnowing replay: same positional md5 gram hashes, per-window
    // rightmost-min via (h ASC, p DESC) row_number, same pos:hash digest.
    "text_winnow" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), g AS (SELECT doc_id, list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> md5(substr(c, i, 8))) AS hs FROM docs_c), nn AS (SELECT doc_id, hs, len(hs) AS n FROM g), wins AS (SELECT doc_id, n, j, p, hs[p] AS h FROM nn, unnest(range(1, greatest(n - 3, 1) + 1)) AS t(j), unnest(range(j, least(j + 3, n) + 1)) AS s(p)), sel AS (SELECT doc_id, n, j, p, h, row_number() OVER (PARTITION BY doc_id, j ORDER BY h, p DESC) AS rn FROM wins), fp AS (SELECT DISTINCT doc_id, n, p, h FROM sel WHERE rn = 1), tagged AS (SELECT doc_id, n, lpad(CAST(p AS VARCHAR), 10, '0') || ':' || h AS tag FROM fp) SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_grams, CAST(count(*) AS BIGINT) AS n_fp, md5(array_to_string(list(tag ORDER BY tag), ',')) AS fp_digest FROM tagged GROUP BY doc_id ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id""",
    "text_nfc" ->
      """WITH d AS (SELECT doc_id, text || ' cafe' || chr(769) || ' e' || chr(769) || ' A' || chr(778) AS dirty FROM documents) SELECT doc_id, nfc_normalize(dirty) AS clean, CAST(length(dirty) AS BIGINT) AS n_before, CAST(length(nfc_normalize(dirty)) AS BIGINT) AS n_after FROM d ORDER BY doc_id""",
    "text_redact_pii" ->
      """WITH d AS (SELECT doc_id, text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS dirty FROM documents) SELECT doc_id, regexp_replace(regexp_replace(dirty, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS clean, CAST(len(regexp_extract_all(dirty, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) + len(regexp_extract_all(dirty, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_pii FROM d ORDER BY doc_id""",
    "text_chunking" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), ch AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 50 THEN 1 ELSE CAST(ceil((len(toks) - 50) * 1.0 / 40) AS INTEGER) + 1 END AS nc FROM tk), ex AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM ch) SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ') AS chunk, CAST(len(list_slice(toks, i * 40 + 1, i * 40 + 50)) AS BIGINT) AS chunk_tokens FROM ex ORDER BY doc_id, chunk_idx""",
    "embed_norm" ->
      """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm FROM embeddings ORDER BY vec_id""",
    // all-double arithmetic both sides: float→double is exact, IEEE division
    // and half-away-from-zero rounding agree → integer codes compare exactly
    "embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc FROM embeddings), q AS (SELECT vec_id, sc, list_transform(embedding, x -> CASE WHEN sc = 0 THEN 0 ELSE CAST(round(CAST(x AS DOUBLE) / sc) AS INTEGER) END) AS qv FROM s) SELECT vec_id, round(sc, 6) AS scale, CAST(list_sum(qv) AS BIGINT) AS sum_q, CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat FROM q ORDER BY vec_id""",
    "skew_hot_keys" ->
      """WITH t AS (SELECT count(*) AS tot, count(DISTINCT l_suppkey) AS ndv FROM lineitem), g AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey) SELECT g.l_suppkey, g.n, round(g.n * 1.0 / t.tot, 6) AS frac, round(g.n * t.ndv * 1.0 / t.tot, 4) AS lift FROM g, t ORDER BY n DESC, l_suppkey LIMIT 20""",

    // Three PageRank rounds unrolled as chained materialized CTEs over the
    // same symmetrized co-purchase edge list; teleport spelled (1.0-0.85)
    // so both engines compute the identical double.
    "graph_pagerank" -> {
      def rnd(r: Int) = s"""
r$r AS MATERIALIZED (
  SELECT n.node, (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(s.inflow, 0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / dg.outdeg) AS inflow
    FROM e JOIN r${r - 1} r ON e.src = r.node JOIN deg dg ON e.src = dg.node
    GROUP BY e.dst) s ON n.node = s.node)"""
      s"""WITH d0 AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0),
gs AS (SELECT l_orderkey FROM d0 GROUP BY l_orderkey HAVING count(*) BETWEEN 2 AND 1000),
d AS MATERIALIZED (SELECT d0.l_orderkey, d0.l_partkey FROM d0 JOIN gs USING (l_orderkey)),
e AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
${(1 to 3).map(rnd).mkString(",")}
SELECT node, round(rank, 9) AS rank FROM r3 ORDER BY node"""
    },
    // Same co-purchase graph; distinct-union recursion bounds the state
    // space to (node, dist≤3) pairs, min-fold per node at the end.
    "graph_bfs" ->
      """WITH RECURSIVE d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0), gs AS (SELECT l_orderkey FROM d GROUP BY l_orderkey HAVING count(*) BETWEEN 2 AND 1000), dd AS (SELECT d.l_orderkey, d.l_partkey FROM d JOIN gs USING (l_orderkey)), e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM dd a JOIN dd b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), srcs AS (SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0), r AS (SELECT node, 0 AS dist FROM srcs UNION SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.node WHERE r.dist < 3) SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM r GROUP BY node ORDER BY node""",
    // Identical degree-ordered orientation replayed relationally: canonical
    // undirected edges (same 2..1000 group-size gate), (deg,id) tuple
    // orientation, wedges at the smallest vertex, EXISTS-closure.
    "graph_triangles" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0), gs AS (SELECT l_orderkey FROM d GROUP BY l_orderkey HAVING count(*) BETWEEN 2 AND 1000), dd AS (SELECT d.l_orderkey, d.l_partkey FROM d JOIN gs USING (l_orderkey)), e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a, greatest(a.l_partkey, b.l_partkey) AS b FROM dd a JOIN dd b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), deg AS (SELECT node, count(*) AS dg FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0) t GROUP BY node), dir AS (SELECT CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS u, CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS v, CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dv FROM e0 e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node), w AS (SELECT e1.u, e1.v AS x, e1.dv AS dx, e2.v AS y, e2.dv AS dy FROM dir e1 JOIN dir e2 ON e1.u = e2.u WHERE (e1.dv, e1.v) < (e2.dv, e2.v)), tri AS (SELECT count(*) AS nt FROM w WHERE EXISTS (SELECT 1 FROM dir t WHERE t.u = w.x AND t.v = w.y)), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, sum(dg * (dg - 1) / 2) AS n_wedges FROM deg) SELECT n_nodes, n_edges, CAST(nt AS BIGINT) AS n_triangles, CASE WHEN n_wedges > 0 THEN round(nt * 3.0 / n_wedges, 6) ELSE 0.0 END AS clustering FROM nn, tot, tri""",
    // Same exact census as graph_triangles; within_bar is the Spark-side
    // estimator-vs-exact gate (the oracle pins it TRUE — a hash-coin
    // sample outside the 15% bar reads as a hash mismatch, not a skip)
    "graph_triangles_estimate" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0), gs AS (SELECT l_orderkey FROM d GROUP BY l_orderkey HAVING count(*) BETWEEN 2 AND 1000), dd AS (SELECT d.l_orderkey, d.l_partkey FROM d JOIN gs USING (l_orderkey)), e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a, greatest(a.l_partkey, b.l_partkey) AS b FROM dd a JOIN dd b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), deg AS (SELECT node, count(*) AS dg FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0) t GROUP BY node), dir AS (SELECT CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS u, CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS v, CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dv FROM e0 e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node), w AS (SELECT e1.u, e1.v AS x, e1.dv AS dx, e2.v AS y, e2.dv AS dy FROM dir e1 JOIN dir e2 ON e1.u = e2.u WHERE (e1.dv, e1.v) < (e2.dv, e2.v)), tri AS (SELECT count(*) AS nt FROM w WHERE EXISTS (SELECT 1 FROM dir t WHERE t.u = w.x AND t.v = w.y)), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg) SELECT n_nodes, n_edges, CAST(nt AS BIGINT) AS n_triangles, TRUE AS within_bar FROM nn, tot, tri""",
    "text_url_canonicalize" ->
      """WITH u AS (SELECT doc_id, 'HTTPS://WWW.' || upper(source) || '.Example.COM/Docs/Path' || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x&gclid=abc#section-' || CAST(doc_id % 3 AS VARCHAR) AS url FROM documents), s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(url, '#.*', ''), '(utm_[a-z]+|fbclid|gclid)=[^&]*&?', '', 'g'), '[?&]$', '') AS u FROM u), s2 AS (SELECT doc_id, u, regexp_extract(u, '(?i)^[a-z][a-z0-9+.-]*://[^/?]*') AS h FROM s1) SELECT doc_id, regexp_replace(lower(h) || substr(u, length(h) + 1), '/$', '') AS canon_url FROM s2 ORDER BY doc_id""",
    "text_gopher_rules" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS words, text FROM documents), c AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words, CAST(COALESCE(list_sum(list_transform(words, w -> length(w))), 0) AS BIGINT) AS n_word_chars, CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words, CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols FROM w) SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, (n_words >= 20 AND n_words <= 100000 AND n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AND n_symbols * 10 < n_words AND n_alpha_words * 5 >= n_words * 4) AS keep FROM c ORDER BY doc_id""",
    "text_c4_lines" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS words FROM documents), l AS (SELECT doc_id, string_split(concat_ws(chr(10), COALESCE(array_to_string(list_slice(words, 1, 8), ' '), '') || '.', COALESCE(array_to_string(list_slice(words, 9, 11), ' '), '') || '.', COALESCE(array_to_string(list_slice(words, 12, 17), ' '), '')), chr(10)) AS lines FROM w), k AS (SELECT doc_id, len(lines) AS n_lines, list_filter(lines, x -> regexp_matches(trim(x), '[.!?"'']$') AND len(regexp_extract_all(trim(x), '\S+')) >= 5) AS kept FROM l) SELECT doc_id, COALESCE(array_to_string(kept, chr(10)), '') AS clean_text, CAST(n_lines AS BIGINT) AS n_lines, CAST(len(kept) AS BIGINT) AS n_kept FROM k ORDER BY doc_id""",
    "text_strip_html" ->
      """WITH h AS (SELECT doc_id, '<html><head><style>p{color:red}</style></head><body class="x"><p>' || text || '</p><script type="text/javascript">var x = 1 < 2;</script><br/>&quot;tail&quot; &amp;&nbsp;&lt;end&gt;</body></html>' AS html FROM documents), s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'), '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h), s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s1), s3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&amp;', '&', 'g') AS t FROM s2) SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text, CAST(length(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS BIGINT) AS n_clean FROM s3 ORDER BY doc_id""",
    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10""",
    // Centroid components are double means whose summation order differs
    // between engines (~1e-13) — 4-dp rounding absorbs it.
    "embed_outliers" ->
      """WITH d AS (SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS c FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i) GROUP BY label, i), cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM d GROUP BY label) SELECT e.vec_id, e.label, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * centroid[i])) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(centroid, x -> x * x)))), 4) AS cos_centroid FROM embeddings e JOIN cent ON e.label = cent.label ORDER BY e.vec_id""",
    "embed_neardup_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.25 ORDER BY id_a, id_b""",
    "dedup_semantic" ->
      """WITH pairs AS (SELECT a.vec_id FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.3) SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_truth, true AS resolved_ok FROM pairs""",

    "dedup_semantic_incremental" ->
      """WITH b AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0), c AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0), p AS (SELECT b.vec_id FROM b JOIN c ON b.label = c.label WHERE round(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.3) SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_batch, CAST(count(*) AS BIGINT) AS n_truth, true AS flagged_ok FROM p""",

    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id""",
    // FNV-1a in HUGEINT (xor in UBIGINT, multiply mod 2^64) + 8 chunked
    // byte-average features; FLOAT casts reproduce float32 division
    // bit-exactly (double->float double rounding is innocuous at p=24/53).
    // Bytes are the TRUE UTF-8 encoding (codepoints expanded arithmetically
    // per UTF-8 class), matching the Spark side's encode() exactly for
    // non-ASCII text — ascii(substr) codepoints would diverge there.
    "mm_features" -> {
      val fcols = (0 until 8).map { d =>
        s"CAST(CAST(coalesce(list_sum(list_slice(bytes, $d*chunk + 1, least(${d + 1}*chunk, n_bytes))), 0) AS FLOAT) / CAST(greatest(least(${d + 1}*chunk, n_bytes) - $d*chunk, 1) AS FLOAT) AS FLOAT) AS f$d"
      }.mkString(", ")
      s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, list_transform(flatten(list_transform(list_transform(range(1, length(text) + 1), i -> unicode(substr(text, i, 1))), cp -> CASE WHEN cp < 128 THEN [cp] WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64] WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64] ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64] END)), b -> b::HUGEINT) AS bytes, greatest(octet_length(encode(text)) // 8, 1) AS chunk FROM documents), c AS (SELECT doc_id, n_bytes, chunk, bytes, CASE WHEN n_bytes = 0 THEN 0::HUGEINT ELSE list_reduce(list_concat([1469598103934665603::HUGEINT], bytes), (acc, x) -> (xor(acc::UBIGINT, x::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616) END AS cs_u FROM b) SELECT doc_id AS media_id, 'application/octet-stream' AS mime, CAST(n_bytes AS BIGINT) AS n_bytes, CAST(CASE WHEN cs_u >= 9223372036854775808 THEN cs_u - 18446744073709551616 ELSE cs_u END AS BIGINT) AS checksum, $fcols FROM c ORDER BY media_id"""
    },
    "mm_frames" ->
      """SELECT doc_id AS media_id, CAST(off AS BIGINT) AS frame_offset, CAST(least(off + 32, n) - off AS BIGINT) AS frame_bytes FROM (SELECT doc_id, octet_length(encode(text)) AS n, unnest(range(0, octet_length(encode(text)), 64)) AS off FROM documents) t ORDER BY media_id, frame_offset""",
    // The decode side is javax.imageio over real PNG bytes; the oracle
    // re-derives the same numbers from the pixel formula (lossless codec ⇒
    // decoded samples ≡ authored samples). Channel means: exact integer
    // sums, DOUBLE division, FLOAT cast — bit-identical on both engines.
    "mm_image_decode" ->
      """WITH px AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h, unnest(range(0, (4 + doc_id % 13) * (3 + doc_id % 7))) AS i FROM documents) SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, CAST(CAST(sum((doc_id * 7 + (i % w) * 13 + (i // w) * 31) % 256) AS DOUBLE) / (w * h) AS FLOAT) AS mean_r, CAST(CAST(sum((doc_id * 11 + (i % w) * 3 + (i // w) * 17) % 256) AS DOUBLE) / (w * h) AS FLOAT) AS mean_g, CAST(CAST(sum((doc_id * 5 + (i % w) * 29 + (i // w) * 7) % 256) AS DOUBLE) / (w * h) AS FLOAT) AS mean_b FROM px GROUP BY doc_id, w, h ORDER BY media_id""",
    "mm_image_resize" ->
      """WITH px AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h, unnest(range(0, 6)) AS i FROM documents), v AS (SELECT doc_id, w, h, ((i % 3) * w) // 3 AS sx, ((i // 3) * h) // 2 AS sy FROM px) SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, CAST(sum((doc_id * 7 + sx * 13 + sy * 31) % 256 + (doc_id * 11 + sx * 3 + sy * 17) % 256 + (doc_id * 5 + sx * 29 + sy * 7) % 256) AS BIGINT) AS sum_px, CAST(doc_id * 7 % 256 AS INTEGER) AS r0, CAST(doc_id * 11 % 256 AS INTEGER) AS g0, CAST(doc_id * 5 % 256 AS INTEGER) AS b0 FROM v GROUP BY doc_id, w, h ORDER BY media_id""",
    "mm_audio_decode" ->
      """SELECT doc_id AS media_id, 8000 AS sample_rate, CAST((doc_id % 5 + 1) * 400 AS BIGINT) AS n_frames, 1 AS n_channels, CAST(list_sum(list_transform(range(0, (doc_id % 5 + 1) * 400), i -> abs(((doc_id * 7 + i * 13) % 65536) - 32768))) AS BIGINT) AS sum_abs FROM documents ORDER BY media_id""",
    "ev_stream_tumbling" ->
      """WITH g AS (SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2), m AS (SELECT max(ts) AS mx FROM events) SELECT win_start, event_type, n, sum_value FROM g, m WHERE win_start + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR ORDER BY win_start, event_type""",
    // session_window semantics: merge while the next event starts STRICTLY
    // before prev_ts + gap (break at diff >= 1800 s, full micros
    // precision); session_end = last event + gap; append mode emits only
    // sessions closed by the final watermark (mx - 2 h)
    "ev_stream_user_stats" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value, max(ts) AS last_ts FROM events GROUP BY user_id ORDER BY user_id""",
    "ev_stream_session" ->
      """WITH g AS (SELECT user_id, ts, CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800 THEN 1 ELSE 0 END AS brk FROM events), s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g), agg AS (SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, CAST(count(*) AS BIGINT) AS n_events FROM s GROUP BY user_id, sid), m AS (SELECT max(ts) AS mx FROM events) SELECT user_id, session_start, session_end, n_events FROM agg, m WHERE session_end <= mx - INTERVAL 2 HOUR ORDER BY user_id, session_start""",
    "ev_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id FROM events v JOIN events p ON v.user_id = p.user_id AND v.event_type = 'view' AND p.event_type = 'purchase' AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR ORDER BY v.user_id, view_id, purchase_id""",
    // the sentinel flush makes the outer tail total: the oracle is the
    // COMPLETE batch left join, no watermark cut
    "ev_stream_left_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id FROM events v LEFT JOIN events p ON v.user_id = p.user_id AND p.event_type = 'purchase' AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR WHERE v.event_type = 'view' ORDER BY v.user_id, view_id, purchase_id NULLS FIRST""",
    "ev_stream_full_join" ->
      """SELECT coalesce(v.user_id, p.user_id) AS user_id, v.event_id AS view_id, p.event_id AS purchase_id FROM (SELECT * FROM events WHERE event_type = 'view') v FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR ORDER BY user_id, view_id NULLS FIRST, purchase_id NULLS FIRST""",
    "ev_stream_enrich" ->
      """WITH g AS (SELECT date_trunc('hour', e.ts) AS win_start, c.c_mktsegment, count(*) AS n, round(sum(e.value), 2) AS sum_value FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2), m AS (SELECT max(ts) AS mx FROM events) SELECT win_start, c_mktsegment, n, sum_value FROM g, m WHERE win_start + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR ORDER BY win_start, c_mktsegment""",
    "k7_upsert_roundtrip" ->
      """SELECT o_orderkey, CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version, round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS o_totalprice FROM orders ORDER BY o_orderkey""",
    // Dedup restores exactly-once counts, so the oracle is the same batch
    // aggregate over the original (un-duplicated) events.
    "ev_stream_dedup" ->
      """WITH g AS (SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2), m AS (SELECT max(ts) AS mx FROM events) SELECT win_start, event_type, n, sum_value FROM g, m WHERE win_start + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR ORDER BY win_start, event_type""",
    // Identical decision replay: exact cents prefix moments (HUGEINT sums
    // cast to double only at decision time), same mean/var/z expression
    // tree, same gate order — bit-identical to the stateful stream.
    "ev_stream_anomaly" ->
      """WITH v AS (SELECT event_id, user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events), w AS (SELECT event_id, user_id, vc, count(*) OVER pre AS n, sum(vc) OVER pre AS s, sum(vc * vc) OVER pre AS ss FROM v WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), z AS (SELECT event_id, user_id, n, CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS v2, (vc - CAST(s AS DOUBLE) / n) / sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS z FROM w WHERE n >= 10) SELECT event_id, user_id, CAST(n AS BIGINT) AS n_prior, round(z, 6) AS z FROM z WHERE v2 > 0 AND abs(z) >= 3.0 ORDER BY event_id""",
    // Quality-metric oracles: the exact-baseline aggregates are recomputed
    // exactly; the engine-hash-dependent recall/precision floors are pinned
    // as TRUE (the Spark side computes the true ratio vs the same baseline).
    // Truncation counters: n_grams_over_cap is recomputed exactly (gram df
    // is a string property); the bucket counters are engine-hash-dependent
    // (xxhash64 band/chunk keys) but DETERMINISTIC, so they pin as
    // MEASURED literals keyed to the fixture scales they were measured on
    // — BOTH driver scales since r13 (VERDICT r12 item 3): 0 splits /
    // 0 over-cap / 0 dropped / cap 1024 on the 500-doc corpora; 38
    // splits / 0 over-cap / cap 1024 on the 5000-doc sf0.1 corpus. At
    // any other scale BOTH sides emit NULL via the same count(*)-keyed
    // CASE (pinAtMeasuredScale / ADVICE r11), so an off-fixture run
    // cannot read the counters as a spurious regression.
    "dedup_minhash_lsh" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), gdf AS MATERIALIZED (SELECT g, count(*) AS df FROM sh GROUP BY g), live AS MATERIALIZED (SELECT g FROM gdf WHERE df <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)), pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.4) SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok, true AS precision_ok, (SELECT CAST(count(*) AS BIGINT) FROM gdf WHERE df > 256) AS n_grams_over_cap, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(0 AS BIGINT) WHEN 5000 THEN CAST(38 AS BIGINT) END AS n_buckets_split, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(0 AS BIGINT) WHEN 5000 THEN CAST(0 AS BIGINT) END AS n_buckets_over_cap, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(0 AS BIGINT) WHEN 5000 THEN CAST(0 AS BIGINT) END AS n_ids_dropped, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(1024 AS BIGINT) WHEN 5000 THEN CAST(1024 AS BIGINT) END AS chosen_bucket_cap FROM pairs""",
    "dedup_simhash" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams), live AS MATERIALIZED (SELECT g FROM sh GROUP BY g HAVING count(*) <= 256), shf AS (SELECT s.doc_id, s.n_grams, s.g FROM sh s JOIN live USING (g)), pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id HAVING count(*) * 1.0 / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.8) SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(0 AS BIGINT) WHEN 5000 THEN CAST(0 AS BIGINT) END AS n_buckets_over_cap, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(0 AS BIGINT) WHEN 5000 THEN CAST(0 AS BIGINT) END AS n_ids_dropped, CASE (SELECT count(*) FROM documents) WHEN 500 THEN CAST(1024 AS BIGINT) WHEN 5000 THEN CAST(1024 AS BIGINT) END AS chosen_bucket_cap FROM pairs""",
    // Fully SQL-recomputable truncation panel of the shared front's df cap
    "dedup_front_truncation" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), sh AS (SELECT doc_id, unnest(gs) AS g FROM grams), gdf AS (SELECT g, count(*) AS df FROM sh GROUP BY g) SELECT CAST(count(*) AS BIGINT) AS n_grams, CAST(coalesce(sum(CASE WHEN df > 256 THEN 1 END), 0) AS BIGINT) AS n_grams_over_cap, CAST(coalesce(sum(CASE WHEN df > 256 THEN df END), 0) AS BIGINT) AS n_occurrences_dropped FROM gdf""",
    "dedup_lines" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS words FROM documents WHERE length(trim(text)) > 0), c AS (SELECT doc_id, i AS pos, array_to_string(list_slice(words, i*10+1, i*10+10), ' ') AS chunk FROM w, unnest(range(0, (len(words)+9)//10)) AS t(i)), f AS (SELECT doc_id, pos, chunk, CASE WHEN row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1 THEN 0 ELSE 1 END AS dup FROM c) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(dup) AS BIGINT) AS n_dupes, COALESCE(array_to_string(list(chunk ORDER BY pos) FILTER (WHERE dup = 0), ' '), '') AS clean_text FROM f GROUP BY doc_id ORDER BY doc_id""",

    "sim_ann_lsh" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), topk AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) SELECT CAST(count(*) AS BIGINT) AS n_exact, round(sum(cos), 6) AS exact_topk_sum_cos, true AS recall_ok FROM topk""",
    "sim_ann_ivf" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), topk AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) SELECT CAST(count(*) AS BIGINT) AS n_exact, round(sum(cos), 6) AS exact_topk_sum_cos, true AS recall_ok FROM topk""",
    "sim_ann_ivf_persisted" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), topk AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) SELECT CAST(count(*) AS BIGINT) AS n_exact, round(sum(cos), 6) AS exact_topk_sum_cos, true AS recall_ok FROM topk""",
    // Batch ANN gates: the exact batch top-k (every 25th vector queries the
    // corpus, self excluded, per-query top-10 by 6-dp cos then id) is
    // recomputed pair-for-pair; the cos-sum crosses engines as an exact
    // integer (Σ round(cos·1e6)). Index-dependent macro recall rides as a
    // pinned-true floor boolean.
    "sim_ann_ivf_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivf_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id AND e.label <= 3), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfsq_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id AND e.label <= 3), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfpq_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id AND e.label <= 3), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_pq_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfpq_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfsq_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfpq_batch_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(10 * count(*) AS BIGINT) AS n_results FROM embeddings WHERE vec_id % 25 = 0""",
    "sim_ann_ivfsq_batch_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(10 * count(*) AS BIGINT) AS n_results FROM embeddings WHERE vec_id % 25 = 0""",
    "sim_ann_ivf_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS self_ok FROM embeddings WHERE vec_id % 5 = 0""",
    "sim_ann_ivf_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS compacted_ok FROM embeddings""",
    "sim_ann_ivfpq_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS self_ok FROM embeddings WHERE vec_id % 5 = 0""",
    "sim_ann_ivfsq_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS self_ok FROM embeddings WHERE vec_id % 5 = 0""",
    "sim_ann_ivfbq_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 25 = 0), pairs AS (SELECT q.q_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> q.q_id), topk AS (SELECT q_id, vec_id, cos FROM (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM pairs) WHERE rn <= 10) SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries, CAST(count(*) AS BIGINT) AS n_exact, CAST(sum(CAST(round(cos * 1e6, 0) AS BIGINT)) AS BIGINT) AS exact_sum_cos_e6, true AS recall_ok FROM topk""",
    "sim_ann_ivfpq_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_codes, CAST(count(*) AS BIGINT) AS n_vectors, true AS compacted_ok FROM embeddings""",
    "sim_ann_ivf_batch_scan_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS full_k, true AS self_ok FROM embeddings WHERE vec_id % 25 = 0""",
    // every query probes ≥8 cells of ≈125 rows → ≥10 candidates always
    // exist, so exactly k results per query
    "sim_ann_ivf_batch_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(10 * count(*) AS BIGINT) AS n_results FROM embeddings WHERE vec_id % 25 = 0""",
    "embed_kmeans" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total, true AS clusters_ok, true AS cohesion_ok FROM embeddings""",
    "embed_pca" ->
      """SELECT
        |  (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings) AS d,
        |  (SELECT round(sum(v), 4) FROM (SELECT pos, var_pop(CAST(e AS DOUBLE)) AS v FROM (SELECT unnest(embedding) AS e, generate_subscripts(embedding, 1) AS pos FROM embeddings) u GROUP BY pos) q) AS total_var,
        |  true AS trace_ok, true AS orthonormal_ok, true AS var_captured_ok""".stripMargin,

    "sim_ann_pq" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), topk AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) SELECT CAST(count(*) AS BIGINT) AS n_exact, round(sum(cos), 6) AS exact_topk_sum_cos, true AS recall_ok FROM topk""",
    "sim_ann_pq_persisted" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), topk AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) SELECT CAST(count(*) AS BIGINT) AS n_exact, round(sum(cos), 6) AS exact_topk_sum_cos, true AS recall_ok FROM topk""",
    // ---- Corpus curation: every assignment is salted-md5 / rank based, so
    // DuckDB reproduces it bit-for-bit. Split boundaries cccc/e666 are
    // Corpus.hexBoundary(0.8)/(0.9) — floor(w·65536) as 4-digit hex.
    "corpus_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n, CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS wq FROM documents GROUP BY lang), s AS (SELECT sum(wq) AS swq FROM c), t AS (SELECT lang, least(n, CAST((2 * 300 * wq + swq) // (2 * swq) AS BIGINT)) AS tgt FROM c, s), r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY md5('graftT' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) SELECT r.doc_id, r.lang FROM r JOIN t USING (lang) WHERE rn <= tgt ORDER BY doc_id""",
    "corpus_split" ->
      """SELECT doc_id, CASE WHEN substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train' WHEN substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val' ELSE 'test' END AS split FROM documents ORDER BY doc_id""",
    "corpus_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY md5('graft1' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos FROM documents ORDER BY pos""",
    "corpus_quality_quantile" ->
      """WITH m AS (SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0), q AS (SELECT doc_id, lang, round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality FROM m), r AS (SELECT doc_id, lang, quality, round(percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id), 6) AS pct_rank FROM q) SELECT doc_id, lang, quality, pct_rank FROM r WHERE pct_rank >= 0.5 ORDER BY doc_id""",
    "corpus_domain_cap" ->
      """WITH m AS (SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0), q AS (SELECT doc_id, source, round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality FROM m), r AS (SELECT doc_id, source, quality, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn FROM q) SELECT doc_id, source, quality, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 10 ORDER BY doc_id""",
    "corpus_contamination" ->
      """WITH docs_c AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c FROM documents WHERE length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) >= 8), grams AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(c) - 7, 1) + 1), i -> substr(c, i, 8))) AS gs FROM docs_c), ev AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0), tr AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0), j AS (SELECT tr.doc_id, any_value(tr.n_grams) AS n_grams, count(*) AS n_shared FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id) SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_shared AS BIGINT) AS n_shared, round(n_shared * 1.0 / n_grams, 6) AS overlap FROM j WHERE round(n_shared * 1.0 / n_grams, 6) >= 0.05 ORDER BY doc_id""",
    "src_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey""",
    "k9_lake_skipping" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_totalprice >= 100000.0 AND o_totalprice <= 200000.0 ORDER BY o_orderkey""",
    "k17_bloom_skipping" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5) ORDER BY o_orderkey""",

    // K22: the delta-maintained join view must equal the one-shot join
    "k22_incremental_join" ->
      """SELECT o.o_orderkey, c.c_custkey, c.c_name, round(o.o_totalprice, 2) AS price FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",

    // K23: metadata answer must equal the scan
    "k23_lake_stats_minmax" ->
      """SELECT round(min(o_totalprice), 2) AS min_price, round(max(o_totalprice), 2) AS max_price, count(*) AS n_rows FROM orders""",
    // K24: pushdown numbers must equal the scan; the plan shape is pinned
    "k24_lake_agg_pushdown" ->
      """SELECT count(*) AS n_rows, round(min(o_totalprice), 2) AS min_price, round(max(o_totalprice), 2) AS max_price, true AS metadata_only FROM orders""",
    // K25: exact NDV recomputed; the sketch envelope is the pinned bool
    "k25_lake_ndv_sketch" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact, true AS estimate_ok FROM orders""",
    // K26: compacted read-back equals the source cut; plan facts pinned
    "k26_lake_autocompact" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price, true AS seed_carried, true AS packed FROM orders WHERE o_orderkey % 11 <> 0 OR o_orderkey % 110 IN (0, 11, 22, 33, 44, 55, 66, 77, 88, 99) ORDER BY o_orderkey""",
    // K27: exact facets recomputed; sketch envelope pinned
    "k27_lake_profile" ->
      """SELECT 'o_custkey' AS "column", CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, count(*) AS n_rows, true AS ndv_ok FROM orders UNION ALL SELECT 'o_totalprice', round(min(o_totalprice), 2), round(max(o_totalprice), 2), count(*), true FROM orders ORDER BY "column"""",
    "k18_lake_rowcount" ->
      """SELECT
        |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS rows_v0,
        |  CAST((SELECT count(*) FROM orders) + (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS BIGINT) AS rows_v1,
        |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 0) + (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0) AS BIGINT) AS rows_head""".stripMargin,

    "k19_schema_evolution" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE NULL END AS o_orderpriority FROM orders ORDER BY o_orderkey""",

    "k20_branch_wap" ->
      """SELECT
        |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS BIGINT) AS n_before,
        |  CAST(0 AS BIGINT) AS n_bad,
        |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 3 IN (0, 1)) AS BIGINT) AS n_after""".stripMargin,

    "layout_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem WHERE l_suppkey >= 2 AND l_suppkey <= 5 ORDER BY l_orderkey, l_linenumber""",
    "k21_lake_optimize" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_totalprice >= 100000 AND o_totalprice <= 200000 ORDER BY o_orderkey""",

    "bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0) ORDER BY l_orderkey, l_linenumber""",

    "k10_lake_changes" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' ORDER BY o_orderkey""",
    "k15_lake_restore" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' ORDER BY o_orderkey""",
    // Full v0 snapshot — the post-v0 head overwrite must be invisible to
    // the version-pinned connector read.
    "k16_lake_connector" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS sum_price FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1 ORDER BY 1""",
    // One-shot recompute over the whole fact table — the fold of three
    // delta refreshes must land on the same rounded sums and exact counts.
    "k14_incremental_agg" ->
      """SELECT o_orderstatus, round(sum(o_totalprice), 2) AS sum_price, CAST(count(*) AS BIGINT) AS n_rows FROM orders GROUP BY 1 ORDER BY 1""",
    "k11_lake_delete" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE NOT (o_totalprice > 300000.0) ORDER BY o_orderkey""",
    "k12_bucketed_join" ->
      """SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty, round(max(o_totalprice), 2) AS o_totalprice FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey ORDER BY o_orderkey""",

    // Relational replay of the three-clause MERGE: source = updates
    // (%7=0; %14=0 flagged DELETE-ME) + key-offset inserts (%7=3);
    // survivors = target rows minus deletes with priority from the source
    // when matched, plus anti-joined inserts.
    "k13_lake_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 14 = 0 THEN 'DELETE-ME' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, o_orderdate, 'MERGED' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, 'NEW'
        |  FROM orders WHERE o_orderkey % 7 = 3
        |)
        |SELECT o_orderkey, o_orderstatus, o_orderpriority, round(o_totalprice, 2) AS o_totalprice FROM (
        |  SELECT t.o_orderkey, t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority,
        |    t.o_totalprice
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR s.o_orderstatus <> 'DELETE-ME'
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_orderstatus, s.o_orderpriority, s.o_totalprice
        |  FROM src s ANTI JOIN orders t ON s.o_orderkey = t.o_orderkey
        |) ORDER BY o_orderkey""".stripMargin,

    // Same islands computation as scd2_history minus n_events (an interval-
    // compressed open row cannot re-expand its event count).
    "scd2_incremental" ->
      """WITH l AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority, lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders), f AS (SELECT *, CASE WHEN rn = 1 OR prev IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg FROM l), g AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS island FROM f), i AS (SELECT o_custkey, island, min(o_orderpriority) AS o_orderpriority, min(o_orderdate) AS effective_from FROM g GROUP BY o_custkey, island), o AS (SELECT o_custkey, o_orderpriority, effective_from, lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY effective_from, island) AS effective_to FROM i) SELECT o_custkey, o_orderpriority, effective_from, effective_to, effective_to IS NULL AS is_current FROM o ORDER BY o_custkey, effective_from, effective_to NULLS LAST""",

    // Gaps-and-islands SCD2: island ids (event-ordered) are the
    // deterministic lead-window tiebreak for same-effective_from intervals.
    "scd2_history" ->
      """WITH l AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority, lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders), f AS (SELECT *, CASE WHEN rn = 1 OR prev IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg FROM l), g AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS island FROM f), i AS (SELECT o_custkey, island, min(o_orderpriority) AS o_orderpriority, min(o_orderdate) AS effective_from, count(*) AS n_events FROM g GROUP BY o_custkey, island), o AS (SELECT o_custkey, o_orderpriority, effective_from, lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY effective_from, island) AS effective_to, CAST(n_events AS BIGINT) AS n_events FROM i) SELECT o_custkey, o_orderpriority, effective_from, effective_to, effective_to IS NULL AS is_current, n_events FROM o ORDER BY o_custkey, effective_from, effective_to NULLS LAST""",

    // Time travel to v0 returns the pre-overwrite state = the plain base.
    "k8_snapshot_timetravel" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice FROM orders ORDER BY o_orderkey""",
    "fuzzy_name_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey WHERE levenshtein(a.c_name, b.c_name) <= 1 ORDER BY id_a, id_b""",
    "fuzzy_name_pairs_d2" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey WHERE a.c_custkey <= 500 AND b.c_custkey <= 500 AND levenshtein(a.c_name, b.c_name) <= 2 ORDER BY id_a, id_b""",
    // Blocking, scoring, and closure replayed relationally; DuckDB's
    // right(nm,4) ≡ Spark substring(nm,-4,4) for names ≥ 4 chars.
    "er_customers" ->
      """WITH recs AS (SELECT c_custkey AS rec_id, c_name AS name FROM customer UNION ALL SELECT c_custkey + 100000, substr(c_name, 1, 10) || substr(c_name, 12) FROM customer WHERE c_custkey % 7 = 0 UNION ALL SELECT c_custkey + 200000, c_name || 'x' FROM customer WHERE c_custkey % 11 = 0), base AS (SELECT rec_id AS id, regexp_replace(lower(trim(name)), '\s+', ' ', 'g') AS nm FROM recs), keyed AS (SELECT id, nm, 0 AS kix, right(nm, 4) AS key FROM base UNION ALL SELECT id, nm, 1, regexp_replace(nm, '[^0-9]', '', 'g') FROM base), keyed2 AS (SELECT * FROM keyed WHERE key IS NOT NULL AND length(key) > 0), live AS (SELECT kix, key FROM keyed2 GROUP BY kix, key HAVING count(*) <= 1000), blocked AS (SELECT k.* FROM keyed2 k JOIN live USING (kix, key)), cands AS (SELECT DISTINCT a.id AS id_a, a.nm AS nm_a, b.id AS id_b, b.nm AS nm_b FROM blocked a JOIN blocked b ON a.kix = b.kix AND a.key = b.key AND a.id < b.id), pairs AS (SELECT id_a, id_b FROM cands WHERE levenshtein(nm_a, nm_b) <= 1), edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), reach AS (WITH RECURSIVE r(id, rep) AS (SELECT src, src FROM edges UNION SELECT e.dst, r.rep FROM r JOIN edges e ON e.src = r.id) SELECT * FROM r), comp AS (SELECT id, min(rep) AS entity_id FROM reach GROUP BY id) SELECT b.id, COALESCE(c.entity_id, b.id) AS entity_id FROM base b LEFT JOIN comp c ON b.id = c.id ORDER BY b.id""",
    // Every event is in exactly 4 windows (1h window, 15min slide, epoch-
    // aligned); make_timestamp keeps the naive-timestamp type.
    "ev_sliding_window" ->
      """WITH x AS (SELECT ts, event_type, value, unnest(range(0, 4)) AS j FROM events), w AS (SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - j * 900) AS BIGINT) * 1000000) AS win_start, event_type, value FROM x) SELECT win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM w GROUP BY win_start, event_type ORDER BY win_start, event_type""",
    "quality_constraints" ->
      """WITH m AS (SELECT
        |  round(avg(CASE WHEN l_shipdate IS NULL THEN 1.0 ELSE 0.0 END), 6) AS m_nn,
        |  round(1.0 - count(DISTINCT (l_orderkey, l_linenumber)) * 1.0 / count(*), 6) AS m_uq,
        |  round(avg(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1.0 ELSE 0.0 END), 6) AS m_disc,
        |  round(avg(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1.0 ELSE 0.0 END), 6) AS m_qty,
        |  round(avg(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1.0 ELSE 0.0 END), 6) AS m_rf,
        |  round(avg(CASE WHEN l_linestatus IS NOT NULL AND regexp_matches(l_linestatus, '[OF]') THEN 1.0 ELSE 0.0 END), 6) AS m_ls,
        |  CAST(count(*) AS DOUBLE) AS m_n
        |FROM lineitem)
        |SELECT "constraint", metric, ok FROM (
        |  SELECT 'not_null(l_shipdate)' AS "constraint", m_nn AS metric, m_nn <= 0.0 AS ok FROM m
        |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', m_uq, m_uq = 0.0 FROM m
        |  UNION ALL SELECT 'in_range(l_discount)', m_disc, m_disc = 0.0 FROM m
        |  UNION ALL SELECT 'in_range(l_quantity)', m_qty, m_qty = 0.0 FROM m
        |  UNION ALL SELECT 'accepted_values(l_returnflag)', m_rf, m_rf = 0.0 FROM m
        |  UNION ALL SELECT 'matches_regex(l_linestatus)', m_ls, m_ls >= 1.0 FROM m
        |  UNION ALL SELECT 'min_size', m_n, m_n >= 100.0 FROM m
        |) ORDER BY "constraint"""".stripMargin,

    "stats_profile" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(l_orderkey) AS BIGINT) AS nulls_ok, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_ok, CAST(min(l_orderkey) AS VARCHAR) AS min_ok, CAST(max(l_orderkey) AS VARCHAR) AS max_ok, CAST(count(*) - count(l_quantity) AS BIGINT) AS nulls_q, CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv_q, CAST(min(l_quantity) AS VARCHAR) AS min_q, CAST(max(l_quantity) AS VARCHAR) AS max_q, CAST(count(*) - count(l_returnflag) AS BIGINT) AS nulls_rf, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS ndv_rf, CAST(min(l_returnflag) AS VARCHAR) AS min_rf, CAST(max(l_returnflag) AS VARCHAR) AS max_rf, CAST(count(*) - count(l_shipdate) AS BIGINT) AS nulls_sd, CAST(count(DISTINCT l_shipdate) AS BIGINT) AS ndv_sd, CAST(min(l_shipdate) AS VARCHAR) AS min_sd, CAST(max(l_shipdate) AS VARCHAR) AS max_sd FROM lineitem) SELECT 'l_orderkey' AS column_name, n_rows, nulls_ok AS n_nulls, ndv_ok AS ndv, min_ok AS min_value, max_ok AS max_value FROM s UNION ALL SELECT 'l_quantity', n_rows, nulls_q, ndv_q, min_q, max_q FROM s UNION ALL SELECT 'l_returnflag', n_rows, nulls_rf, ndv_rf, min_rf, max_rf FROM s UNION ALL SELECT 'l_shipdate', n_rows, nulls_sd, ndv_sd, min_sd, max_sd FROM s ORDER BY column_name""",
    "topk_per_key_phys" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    "range_join_auto" ->
      """WITH bands AS (SELECT unnest(range(0, 250)) AS band_id), b AS (SELECT band_id, band_id * 400.0 AS lo, band_id * 400.0 + 600.0 AS hi FROM bands), j AS (SELECT b.band_id, l.l_extendedprice FROM lineitem l JOIN b ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi) SELECT band_id, CAST(count(*) AS BIGINT) AS n, round(sum(l_extendedprice), 2) AS sum_price FROM j GROUP BY band_id ORDER BY band_id""",
    "range_join_overlap" ->
      """WITH a AS (SELECT i AS band_id, i * 400.0 AS lo, i * 400.0 + 600 AS hi FROM range(0, 250) t(i)), b AS (SELECT o_orderkey, o_totalprice / 100 AS b_lo, o_totalprice / 100 + 300 AS b_hi FROM orders) SELECT band_id, count(*) AS n, CAST(sum(CAST(round(b_lo, 0) AS BIGINT)) AS BIGINT) AS sum_lo FROM a JOIN b ON a.lo <= b.b_hi AND b.b_lo <= a.hi GROUP BY band_id ORDER BY band_id""",
    "range_join_bands" ->
      """WITH bands AS (SELECT unnest(range(0, 250)) AS band_id), b AS (SELECT band_id, band_id * 400.0 AS lo, band_id * 400.0 + 600.0 AS hi FROM bands), j AS (SELECT b.band_id, l.l_extendedprice FROM lineitem l JOIN b ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi) SELECT band_id, CAST(count(*) AS BIGINT) AS n, round(sum(l_extendedprice), 2) AS sum_price FROM j GROUP BY band_id ORDER BY band_id""",
    "join_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice FROM customer c, LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders WHERE o_custkey = c.c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ORDER BY c_custkey, o_orderkey""",
    // The HLL estimate itself is engine-dependent (DataSketches in Spark);
    // the oracle pins the exact distinct count and the within-5% property.
    // Same canonical row string, 48-bit md5 prefix, HUGEINT-safe mod sum
    "agg_table_checksum" ->
      """SELECT CAST(sum(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || o_orderpriority), 1, 12) AS BIGINT)) % 2305843009213693951 AS BIGINT) AS checksum, count(*) AS n_rows FROM orders""",
    "agg_hll_merge" ->
      """SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact, true AS estimate_ok FROM customer""",
    "pipeline_training_data" ->
      """WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))), kept0 AS (SELECT d.doc_id, d.text FROM documents d JOIN dd ON d.doc_id = dd.doc_id), m AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM kept0 WHERE length(text) > 0), q AS (SELECT doc_id, text FROM m WHERE round(0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) >= 0.5), sp AS (SELECT doc_id, text, CASE WHEN substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train' WHEN substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val' ELSE 'test' END AS split FROM q) SELECT split, count(*) AS n_docs, CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens FROM sp GROUP BY split ORDER BY split""",
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents), wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w WHERE length(word) > 0 GROUP BY word), p AS (SELECT substr(word, CAST(u.i AS INT), 1) AS a, substr(word, CAST(u.i AS INT) + 1, 1) AS b, n FROM wc, LATERAL (SELECT unnest(range(1, length(word))) AS i) u) SELECT a, b, CAST(sum(n) AS BIGINT) AS total FROM p GROUP BY a, b ORDER BY total DESC, a, b LIMIT 10""",
    "vocab_freq_cms" ->
      """SELECT token, freq, true AS within_bound FROM (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents) t WHERE length(token) > 0 GROUP BY token ORDER BY freq DESC, token LIMIT 20) ORDER BY freq DESC, token""",
    "corpus_sample_exact_k" ->
      """SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY md5('graftk' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) t WHERE rn <= 20 ORDER BY lang, doc_id""",
    // A-ES replay: u from the first 6 md5 hex chars (+0.5 keeps u inside
    // (0,1)), key = ln(u)/weight rounded to 9 (+0.0 folds -0.0), top-50
    // with doc_id tiebreak.
    "corpus_weighted_sample" ->
      """WITH m AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS weight FROM documents), f AS (SELECT doc_id, weight FROM m WHERE weight > 0), u AS (SELECT doc_id, weight, (('0x' || substr(md5('graftw' || CAST(doc_id AS VARCHAR)), 1, 6))::UBIGINT + 0.5) / 16777216.0 AS uu FROM f) SELECT doc_id, weight, round(ln(uu) / weight, 9) + 0.0 AS es_key FROM u ORDER BY es_key DESC, doc_id LIMIT 50""",
    "vocab_topk" ->
      """SELECT token, count(*) AS freq FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents) t WHERE length(token) > 0 GROUP BY token ORDER BY freq DESC, token LIMIT 50""",
    // composition of the gopher-gate, fingerprint-dedup, quality-score,
    // global-budget (naive window form), and salted-split recipes; 'e666'
    // is hexBoundary(0.9)
    "pipeline_curation_full" ->
      """WITH w AS (SELECT doc_id, text, regexp_extract_all(text, '\S+') AS words FROM documents), g AS (SELECT doc_id, text FROM (SELECT doc_id, text, CAST(len(words) AS BIGINT) AS n_words, CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS n_word_chars, CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words, CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols FROM w) t WHERE n_words >= 20 AND n_words <= 100000 AND n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AND n_symbols * 10 < n_words AND n_alpha_words * 5 >= n_words * 4), dd AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))), k AS (SELECT g.doc_id, g.text FROM g JOIN dd ON g.doc_id = dd.doc_id), m AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM k WHERE length(text) > 0), q AS (SELECT doc_id, round(0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality, CAST(n_tok AS BIGINT) AS n_tokens FROM m), c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb FROM q), b AS (SELECT doc_id, n_tokens FROM c WHERE tb < 50000), sp AS (SELECT doc_id, n_tokens, CASE WHEN substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train' ELSE 'val' END AS split FROM b) SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM sp GROUP BY split ORDER BY split""",
    "set_ops_all" ->
      """SELECT k, tag FROM ((SELECT l_orderkey AS k, 'both' AS tag FROM lineitem INTERSECT ALL SELECT o_orderkey, 'both' FROM orders) UNION ALL (SELECT l_orderkey AS k, 'extra' AS tag FROM lineitem EXCEPT ALL SELECT o_orderkey, 'extra' FROM orders)) t ORDER BY tag, k""",

    "text_token_ids" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents), t AS (SELECT doc_id, i AS pos, ws[i] AS tok FROM w, unnest(range(1, len(ws) + 1)) AS u(i)), f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok), v AS (SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) AS tok_id FROM f), vv AS (SELECT tok, tok_id FROM v WHERE tok_id <= 16), j AS (SELECT t.doc_id, t.pos, COALESCE(vv.tok_id, 0) AS tid, vv.tok_id AS raw FROM t LEFT JOIN vv ON t.tok = vv.tok) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(CASE WHEN raw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, array_to_string(list(tid ORDER BY pos), ',') AS ids_csv FROM j GROUP BY doc_id ORDER BY doc_id""",
    "join_null_safe" ->
      """WITH a AS (SELECT o_orderkey, CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k FROM orders), b AS (SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS k FROM customer) SELECT count(*) AS n_rows, CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_matches FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""",
    "corpus_token_budget" ->
      """WITH m AS (SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0), q AS (SELECT doc_id, lang, round(0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality, CAST(n_tok AS BIGINT) AS n_tokens FROM m), c AS (SELECT doc_id, lang, quality, n_tokens, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before FROM q) SELECT doc_id, lang, quality, n_tokens, CAST(tokens_before AS BIGINT) AS tokens_before FROM c WHERE tokens_before < 5000 ORDER BY doc_id""",
    "corpus_token_budget_global" ->
      """WITH m AS (SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS n_chars, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits FROM documents WHERE length(text) > 0), q AS (SELECT doc_id, lang, round(0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_chars) + 0.3 * (1.0 - n_digits / n_chars), 4) AS quality, CAST(n_tok AS BIGINT) AS n_tokens FROM m), c AS (SELECT doc_id, lang, quality, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before FROM q) SELECT doc_id, lang, quality, n_tokens FROM c WHERE tokens_before < 20000 ORDER BY doc_id""",
    "corpus_mix" ->
      """WITH a AS (SELECT doc_id, 'en' AS src, row_number() OVER (ORDER BY md5('mix1' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents WHERE lang = 'en'), b AS (SELECT doc_id, 'rest' AS src, row_number() OVER (ORDER BY md5('mix1' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents WHERE lang <> 'en'), u AS (SELECT doc_id, src, rk, round(CAST(rk AS DOUBLE) / CAST(0.7 AS DOUBLE), 6) AS mix_pos FROM a UNION ALL SELECT doc_id, src, rk, round(CAST(rk AS DOUBLE) / CAST(0.3 AS DOUBLE), 6) AS mix_pos FROM b) SELECT doc_id, src, CAST(rk AS BIGINT) AS rk, mix_pos FROM u ORDER BY mix_pos, src, doc_id""",
    // Sample boundaries 8000/c000 are hexBoundary(0.5)/(0.75); 'g' is the
    // rate-1.0 sentinel (above every 4-char hex bucket).
    "corpus_stratified_sample" ->
      """SELECT doc_id, lang FROM documents WHERE substr(md5('graft1' || CAST(doc_id AS VARCHAR)), 1, 4) < (CASE WHEN lang = 'en' THEN '8000' WHEN lang = 'de' THEN 'c000' ELSE 'g' END) ORDER BY doc_id""",
    "dedup_incremental" ->
      """WITH cfp AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents WHERE doc_id % 5 <> 0), b AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents WHERE doc_id % 5 = 0) SELECT doc_id, fp FROM b WHERE fp NOT IN (SELECT fp FROM cfp) ORDER BY doc_id""",
    "corpus_pack" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), ch AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 50 THEN 1 ELSE CAST(ceil((len(toks) - 50) * 1.0 / 40) AS INTEGER) + 1 END AS nc FROM tk), ex AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM ch), chunks AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(len(list_slice(toks, i * 40 + 1, i * 40 + 50)) AS BIGINT) AS chunk_tokens, doc_id % 8 AS shard FROM ex), packed AS (SELECT shard, doc_id, chunk_idx, chunk_tokens, COALESCE(SUM(chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pack_offset FROM chunks) SELECT shard, doc_id, chunk_idx, chunk_tokens, CAST(pack_offset AS BIGINT) AS pack_offset, CAST(floor(pack_offset / 256) AS BIGINT) AS pack_id, CAST(floor((pack_offset + chunk_tokens - 1) / 256) AS BIGINT) AS pack_id_end FROM packed ORDER BY doc_id, chunk_idx""",
    "text_repetition" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), g AS (SELECT doc_id, len(toks) AS n_tokens, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE list_transform(range(1, len(toks) - 2 + 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tg FROM tk) SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(len(tg) AS BIGINT) AS n_trigrams, CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct, round(CASE WHEN len(tg) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(tg)) * 1.0 / len(tg) END, 6) AS dup_frac FROM g ORDER BY doc_id"""
  )
}
