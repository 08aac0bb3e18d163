package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.{VectorFunctions => V}

/** ANN: brute-force as ground truth; LSH recall + bucket determinism. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("cosine is 1 for identical, -1 for negated vectors") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f, 3f), Array(-1f, -2f, -3f)))
      .toDF("a", "b", "neg")
    val r = df.select(
      round(V.cosine($"a", $"b"), 9).as("same"),
      round(V.cosine($"a", $"neg"), 9).as("opp"),
      V.cosine($"a", array(lit(0f), lit(0f), lit(0f))).as("zero"))
      .as[(Double, Double, Double)].head()
    assert(r._1 == 1.0 && r._2 == -1.0 && r._3 == 0.0)
  }

  test("brute-force top-k is ordered desc and excludes the query") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(!top.map(_._1).contains(0L))
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("LSH top-k results are a subset of corpus with correct cosines") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 50)
      .as[(Long, Double)].collect().toMap
    val ann = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 10, nBits = 4)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    // every ANN hit's cosine must equal the exact cosine (same arithmetic)
    ann.foreach { case (id, c) =>
      brute.get(id).foreach(exact => assert(math.abs(exact - c) < 1e-9))
    }
  }

  test("multi-probe LSH recall dominates single-probe and clears 0.8") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    def recall(radius: Int): Int =
      Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 10, nBits = 4,
        probeRadius = radius)
        .as[(Long, Double)].collect().map(_._1).toSet.intersect(brute).size
    val single = recall(0); val multi = recall(2)
    assert(multi >= single, s"multi-probe must not lose hits: $single -> $multi")
    assert(multi >= 8, s"radius-2 probe recall too low: $multi/10")
  }

  test("hyperplane family is non-degenerate: all 16 four-bit buckets occupied") {
    // regression pin for the (bit + dim) mod 2 parity collapse: a linear
    // parity "hash" yields exactly 2 distinct hyperplanes and 2 buckets,
    // silently making every multi-probe neighbor bucket an empty hole
    val n = emb.select(V.lshBucket($"embedding", 4).as("b")).distinct().count()
    assert(n == 16, s"expected 16 occupied buckets on the fixture, got $n")
  }

  test("persisted IVF layout answers identically to the in-memory IVF path") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 2)
    // cell directories on disk: the Hive layout partition pruning needs
    val cellDirs = new java.io.File(s"$path/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.length > 1, s"expected multiple cell partitions: ${cellDirs.toSeq}")
    val qVec = emb.where($"vec_id" === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val persisted = Similarity.ivfReadTopK(spark, path, qVec, Some(0L), 10,
      nProbe = 8).as[(Long, Double)].collect().toSeq
    val inMemory = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nLists = 16, nProbe = 8, kMeansIters = 2)
      .as[(Long, Double)].collect().toSeq
    assert(persisted == inMemory,
      "same model + same probes must give the same top-k either path")
  }

  test("two-level IVF layout (nLists > HierThreshold): super/cell dirs + " +
      "sidecars land, batch recall clears the floor, and the join-mode and " +
      "auto-chunked reads match the literal path exactly") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfh_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 100, kMeansIters = 1)
    // at-scale layout: super=<s>/cell=<c>/ two-level Hive dirs + both
    // sidecars (the super level is what static pruning filters on when the
    // probed-cell set outgrows an IN list)
    val superDirs = new java.io.File(s"$path/corpus").listFiles()
      .filter(_.getName.startsWith("super="))
    assert(superDirs.length > 1, s"expected >1 super partitions")
    assert(superDirs.forall(_.listFiles().exists(_.getName.startsWith("cell="))),
      "each super dir must nest cell partitions")
    assert(new java.io.File(s"$path/supercentroids").exists())
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    val ann = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 16)
    val gate = Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10),
      ann, "vec_id", recallFloor = 0.5)
    assert(gate.select("recall_ok").head().getBoolean(0),
      "two-level probe recall must clear the floor (measured 0.615 at nProbe=16)")
    val base = ann.orderBy($"q_id", $"vec_id")
      .as[(Long, Long, Double)].collect().toSeq
    // join-mode probe assignment (forced by a tiny joinThreshold): same
    // supers, same children, same (sim desc, cell asc) cut — must be
    // EXACTLY the literal two-level result
    val joinMode = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 16, joinThreshold = 1)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(joinMode == base, "join-mode read must equal the literal path")
    // auto-chunking (forced by a tiny broadcast budget): each q_id lives
    // wholly in one chunk, so the union must be the unchunked result
    val chunked = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 16, maxBroadcastBytes = 2048)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(chunked == base, "chunked read must equal the unchunked result")
  }

  test("flat-layout batch ANN auto-chunking also matches unchunked") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfc_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1, payloadCols = Seq("label"))
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    def run(budget: Long, filter: Option[org.apache.spark.sql.Column] = None) =
      Similarity.ivfBatchTopK(spark, path, queries, "vec_id", "embedding",
        10, nProbe = 8, maxBroadcastBytes = budget, filter = filter)
        .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(run(1024) == run(Long.MaxValue))
    // a filtered read restricts every chunk's scan the same way
    val filtered = run(Long.MaxValue, Some($"label" <= 3))
    assert(filtered.nonEmpty)
    assert(run(1024, Some($"label" <= 3)) == filtered)
  }

  test("join-regime batch read counts the centroid sidecar instead of " +
      "collecting its vectors, and still equals the literal read") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfjc_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 100, kMeansIters = 1)
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    def run(jt: Int) = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 16, joinThreshold = jt)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    // the append front: each row's (id, super, cell)
    def assign(jt: Int) = Similarity.assignToLayout(emb, "vec_id",
      "embedding", path, joinThreshold = jt)._1
      .select($"vec_id", $"super", $"cell").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    // the shared front as the incremental dedup probes it: nProbe = 2,
    // checkpointed, rank 0 the primary cell
    def dedupProbes(jt: Int) = {
      val (probes, hier) = Similarity.probeLayout(
        emb.select($"vec_id".as("q_id"), $"embedding"), "embedding",
        Seq("embedding"), path, 2, joinThreshold = jt)
      assert(hier)
      probes.localCheckpoint(false)
        .select($"q_id", $"rank".cast("long"), $"super", $"cell")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    }
    // every action's output columns, recorded while only the join-regime
    // read, append assignment and dedup probe run against the fresh
    // layout (nothing of it cached yet)
    val outputs =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        outputs.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val (joinMode, joinAssign, joinProbes) = try {
      val r = (run(1), assign(1), dedupProbes(1))
      // the listener fires asynchronously and in order: wait for a marker
      // action submitted after the read
      spark.range(1).toDF("listener_marker").collect()
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!outputs.asScala.exists(_.contains("listener_marker")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(outputs.asScala.exists(_.contains("listener_marker")))
      r
    } finally spark.listenerManager.unregister(qel)
    import scala.jdk.CollectionConverters._
    val collected = outputs.asScala.filter(_.contains("c_vec")).toSeq
    assert(collected.isEmpty,
      s"join regime collected centroid vectors: $collected")
    assert(joinMode.nonEmpty)
    assert(joinMode == run(4096), "join-mode read must equal the literal path")
    assert(joinAssign.length == emb.count())
    assert(joinAssign == assign(4096),
      "join-mode append assignment must equal the literal one")
    assert(joinProbes.length == 2 * emb.count())
    assert(joinProbes == dedupProbes(4096),
      "join-mode dedup probes must equal the literal ones")
  }

  test("IVFADC: recall clears the floor, shortlist cosines are exact, and " +
      "the hier + chunked reads match their baselines") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", path,
      nLists = 16, m = 16, ksub = 32, kMeansIters = 2,
      payloadCols = Seq("label"))
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    val ann = Similarity.ivfPqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64)
    val gate = Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10),
      ann, "vec_id", recallFloor = 0.5)
    assert(gate.select("recall_ok").head().getBoolean(0),
      "IVFADC recall must clear the floor (measured 0.925, BASELINE.md round 8)")
    val rows = ann.as[(Long, Long, Double)].collect()
    assert(rows.forall { case (q, _, _) => q % 25 == 0 })
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    // every reported cosine is the EXACT cosine (re-rank reads raw unit
    // vectors; only candidate SELECTION is approximate)
    val exactMap = Similarity.bruteForceBatchTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", 500)
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, c) => (q, id) -> c }.toMap
    rows.foreach { case (q, id, c) =>
      exactMap.get((q, id)).foreach(e => assert(math.abs(e - c) < 1e-9)) }
    val base = rows.sortBy(r => (r._1, r._2)).toSeq
    // chunked ≡ unchunked
    val chunked = Similarity.ivfPqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64,
      maxBroadcastBytes = 8192)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(chunked == base, "chunked IVFADC must equal unchunked")
    def runF(budget: Long) = Similarity.ivfPqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64,
      maxBroadcastBytes = budget, filter = Some($"label" <= 3))
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    val filtered = runF(Long.MaxValue)
    assert(filtered.nonEmpty)
    assert(runF(8192) == filtered,
      "chunked filtered IVFADC must equal unchunked")
    // two-level layout (nLists > HierThreshold): join-mode probe ≡ literal
    val ph = java.nio.file.Files.createTempDirectory("graft_ivfpqh_").toString
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", ph,
      nLists = 100, m = 16, ksub = 32, kMeansIters = 1)
    assert(new java.io.File(s"$ph/supercentroids").exists())
    def runH(jt: Int) = Similarity.ivfPqBatchTopK(spark, ph, queries,
      "vec_id", "embedding", 10, nProbe = 16, rerank = 64,
      joinThreshold = jt)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(runH(1) == runH(4096),
      "join-mode IVFADC read must equal the literal two-level path")
  }

  test("IVF-SQ8: recall clears the floor, reported cosines are exact, " +
      "chunked ≡ unchunked, hier join-mode ≡ literal") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsq_").toString
    Similarity.ivfSqWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 2, payloadCols = Seq("label"))
    // layout shape: int codes bounded to [-127, 127] with a double scale
    val codes = spark.read.parquet(s"$path/codes")
    val shape = codes.select(
      max(aggregate(col("codes"), lit(0),
        (a, x) => greatest(a, abs(x)))).as("max_abs"),
      min(size(col("codes"))).as("d_min")).head()
    assert(shape.getInt(0) <= 127, "int8 codes must stay within [-127, 127]")
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    val ann = Similarity.ivfSqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64)
    val gate = Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10),
      ann, "vec_id", recallFloor = 0.5)
    assert(gate.select("recall_ok").head().getBoolean(0),
      "IVF-SQ8 recall must clear the floor")
    val rows = ann.as[(Long, Long, Double)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    // re-rank reads raw unit vectors: reported cosines are EXACT
    val exactMap = Similarity.bruteForceBatchTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", 500)
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, c) => (q, id) -> c }.toMap
    rows.foreach { case (q, id, c) =>
      exactMap.get((q, id)).foreach(e => assert(math.abs(e - c) < 1e-9)) }
    val base = rows.sortBy(r => (r._1, r._2)).toSeq
    val chunked = Similarity.ivfSqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64,
      maxBroadcastBytes = 8192)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(chunked == base, "chunked IVF-SQ8 must equal unchunked")
    def runF(budget: Long) = Similarity.ivfSqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64,
      maxBroadcastBytes = budget, filter = Some($"label" <= 3))
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    val filtered = runF(Long.MaxValue)
    assert(filtered.nonEmpty)
    assert(runF(8192) == filtered,
      "chunked filtered IVF-SQ8 must equal unchunked")
    val ph = java.nio.file.Files.createTempDirectory("graft_ivfsqh_").toString
    Similarity.ivfSqWrite(emb, "vec_id", "embedding", ph,
      nLists = 100, kMeansIters = 1)
    assert(new java.io.File(s"$ph/supercentroids").exists())
    def runH(jt: Int) = Similarity.ivfSqBatchTopK(spark, ph, queries,
      "vec_id", "embedding", 10, nProbe = 16, rerank = 64,
      joinThreshold = jt)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(runH(1) == runH(4096),
      "join-mode IVF-SQ8 read must equal the literal two-level path")
  }

  test("ivfAppend: readers see the union; appended vectors retrieve " +
      "themselves at cos 1; works on flat and two-level layouts") {
    for (nLists <- Seq(16, 100)) {
      val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
      val batch = emb.where(pmod($"vec_id", lit(5)) === 0)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfa_").toString
      Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
        nLists = nLists, kMeansIters = 1)
      Similarity.ivfAppend(batch, "vec_id", "embedding", path)
      val ids = spark.read.parquet(s"$path/corpus")
        .select($"vec_id").as[Long].collect().toSet
      assert(ids == emb.select($"vec_id").as[Long].collect().toSet,
        s"nLists=$nLists: corpus read-back must be the union")
      // self-retrieval: the append assigned each row to the same cell the
      // read-side nProbe=1 probe picks (same centroids, same tie-breaks)
      val top1 = Similarity.ivfBatchTopK(spark, path, batch,
        "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false)
        .as[(Long, Long, Double)].collect()
      assert(top1.length == batch.count())
      assert(top1.forall(_._3 == 1.0),
        s"nLists=$nLists: every appended vector must score cos 1 at top-1")
    }
  }

  test("ivfAppend two-regime equivalence: the driver-direct micro-batch " +
      "landing and the forced distributed landing produce the same layout, " +
      "and the next append sweeps a stale crash tmp but not a fresh one") {
    def copyTree(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
      val walk = java.nio.file.Files.walk(s)
      try walk.forEach { p =>
        val t = d.resolve(s.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
    }
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batch = emb.where(pmod($"vec_id", lit(5)) === 0)
    val pDrv = java.nio.file.Files.createTempDirectory("graft_ivfa2_d_").toString
    val pDst = java.nio.file.Files.createTempDirectory("graft_ivfa2_x_").toString
    // ONE trained layout, cloned — both regimes append against identical
    // centroids, so any placement difference is the landing's fault
    Similarity.ivfWrite(corpus, "vec_id", "embedding", pDrv,
      nLists = 16, kMeansIters = 1)
    copyTree(pDrv, pDst)
    Similarity.ivfAppend(batch, "vec_id", "embedding", pDrv) // driver regime
    Similarity.ivfAppend(batch, "vec_id", "embedding", pDst,
      driverStageMaxRows = 0)                            // distributed regime
    def layout(p: String): (Seq[(Long, Long)], String) = {
      val df = spark.read.parquet(s"$p/corpus")
      (df.select($"cell".cast("long"), $"vec_id")
        .as[(Long, Long)].collect().sorted.toSeq,
        df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(","))
    }
    val (drvRows, drvSchema) = layout(pDrv)
    val (dstRows, dstSchema) = layout(pDst)
    assert(drvSchema == dstSchema,
      s"read-back schema must not depend on the regime: $drvSchema vs $dstSchema")
    assert(drvRows == dstRows,
      "both regimes must land every row in the same cell")
    // stale-tmp sweep: plant a dead crash remnant and a fresh in-flight tmp
    // in a cell the batch touches; the next driver-regime append must sweep
    // the stale one (age gate) and leave the fresh one alone
    val touched = new java.io.File(s"$pDrv/corpus").listFiles()
      .filter(d => d.getName.startsWith("cell=") &&
        d.listFiles().count(_.getName.endsWith(".parquet")) > 1)
    assert(touched.nonEmpty, "the append must have fragmented some cell")
    val cellDir = touched.head.toPath
    val stale = cellDir.resolve(".append-tmp-stale")
    val fresh = cellDir.resolve(".append-tmp-fresh")
    java.nio.file.Files.write(stale, Array[Byte](1))
    java.nio.file.Files.write(fresh, Array[Byte](1))
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 20 * 60 * 1000L))
    Similarity.ivfAppend(batch, "vec_id", "embedding", pDrv)
    assert(!java.nio.file.Files.exists(stale),
      "a 20-minute-old crash tmp must be swept by the next append")
    assert(java.nio.file.Files.exists(fresh),
      "a fresh tmp (concurrent appender) must survive the sweep")
    // dot-prefixed tmps are reader-invisible either way
    val n = spark.read.parquet(s"$pDrv/corpus").count()
    assert(n == corpus.count() + 2 * batch.count(),
      "reads must see exactly the landed rows, never tmp files")
  }

  test("ivfCompact: repeated appends fragment cell dirs; compaction " +
      "rewrites ONLY fragmented cells to one file, content unchanged") {
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfcp_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1)
    // 5 nightly batches -> each touched cell gains a file per append
    (0 until 5).foreach { i =>
      Similarity.ivfAppend(
        emb.where(pmod($"vec_id", lit(5)) === 0 &&
          pmod($"vec_id" / 5, lit(5)) === i),
        "vec_id", "embedding", path)
    }
    def filesPerCell: Map[String, Int] =
      new java.io.File(s"$path/corpus").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerCell
    assert(before.values.max > 4, s"appends should fragment: $before")
    val intact = before.filter(_._2 <= 4).keySet
    val content = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted
    val n = Similarity.ivfCompact(spark, path, maxFilesPerCell = 4)
    val after = filesPerCell
    assert(n == before.count(_._2 > 4), "must report the fragmented cells")
    assert(after.values.max <= 4 &&
      before.filter(_._2 > 4).keys.forall(after(_) == 1),
      s"fragmented cells must compact to one file: $after")
    intact.foreach(c => assert(after(c) == before(c),
      s"untouched cell $c must keep its files"))
    val contentAfter = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted
    assert(contentAfter.toSeq == content.toSeq, "content must be unchanged")
    // staged-swap commit protocol (ADVICE r8): the rewrite stages to a
    // dot-dir and swaps per cell — both transient dirs must be gone after
    // the commit, and a stale staging dir from a crashed run must neither
    // leak into reads (dot-prefix is reader-invisible) nor break the next
    // compact (it re-stages from scratch)
    assert(!new java.io.File(s"$path/corpus/.compact-staging").exists() &&
      !new java.io.File(s"$path/corpus/.compact-trash").exists(),
      "staging/trash must be cleaned up after the swap")
    // second compaction is a no-op
    assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 4) == 0)
    new java.io.File(s"$path/corpus/.compact-staging/cell=0").mkdirs()
    assert(spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq == content.toSeq,
      "a stale staging dir must be invisible to readers")
    assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 4) == 0)
    // crash BETWEEN the two renames (round-9 review): the cell's only
    // copy sits in trash, live dir gone — the next compact must RESTORE
    // it before its destructive re-stage, not delete the last copy
    val cellDir = new java.io.File(s"$path/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).head
    val trashed = new java.io.File(
      s"$path/corpus/.compact-trash/${cellDir.getName}")
    trashed.getParentFile.mkdirs()
    // the current protocol writes _RUNID BEFORE any rename, so a
    // crash-mid-swap always leaves a witnessed trash (legacy unwitnessed
    // trash is refused and routed to migrateLegacyTrash — see the
    // dedicated recovery test)
    java.nio.file.Files.writeString(
      trashed.getParentFile.toPath.resolve("_RUNID"), "run-x")
    assert(cellDir.renameTo(trashed), "test setup: park cell in trash")
    assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 4) == 0)
    assert(spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq == content.toSeq,
      "recovery must restore the trashed cell — no rows lost")
    assert(!new java.io.File(s"$path/corpus/.compact-trash").exists(),
      "trash must be cleaned after recovery")
  }

  test("ivfCompact crash recovery is append-safe: a live cell recreated " +
      "by a post-crash append merges with trash instead of erasing it, " +
      "and a completed publish drops trash without duplicating rows") {
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfcr_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 8, kMeansIters = 1)
    val content = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    def cellDirs = new java.io.File(s"$path/corpus").listFiles()
      .filter(_.getName.startsWith("cell="))
    // ---- case (a): crash AFTER live→trash, BEFORE staged→live, and a
    // later append/sync RECREATES the live dir with only new rows. The
    // old recovery (skip restore when live exists) silently deleted every
    // pre-crash row of the cell with the trash sweep.
    val victim = cellDirs.maxBy(_.listFiles().length)
    val trashRoot = new java.io.File(s"$path/corpus/.compact-trash")
    trashRoot.mkdirs()
    java.nio.file.Files.writeString(
      trashRoot.toPath.resolve("_RUNID"), "run-a")
    val trashed = new java.io.File(trashRoot, victim.getName)
    assert(victim.renameTo(trashed), "test setup: park cell in trash")
    // the "append recreated it" state: a fresh live dir holding one NEW
    // file (ids offset out of the corpus range, schema identical)
    val newRows = spark.read.parquet(trashed.toString)
      .withColumn("vec_id", $"vec_id" + 1000000L)
    victim.mkdirs()
    val tmpOut = java.nio.file.Files
      .createTempDirectory("graft_ivfcr_new_").toString
    newRows.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val newFile = new java.io.File(tmpOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(newFile.renameTo(new java.io.File(victim, newFile.getName)))
    val expected = (content ++
      spark.read.parquet(trashed.toString).select($"vec_id").as[Long]
        .collect().map(_ + 1000000L)).sorted
    assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 1000) == 0)
    val afterA = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterA == expected,
      "recovery must MERGE the trashed cell with the recreated live dir")
    assert(!trashRoot.exists(), "trash cleaned after recovery")
    // ---- case (b): crash AFTER staged→live publish, BEFORE trash delete
    // — live holds compact-<runId>.parquet (the publish witness), trash a
    // redundant copy of the same rows; recovery must DROP trash (merging
    // would duplicate every row of the cell)
    val victim2 = cellDirs.maxBy(_.listFiles().length)
    trashRoot.mkdirs()
    java.nio.file.Files.writeString(
      trashRoot.toPath.resolve("_RUNID"), "run-b")
    val trashed2 = new java.io.File(trashRoot, victim2.getName)
    trashed2.mkdirs()
    victim2.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        trashed2.toPath.resolve(f.getName))
    }
    // tag one live file as this run's publish witness
    val live2 = victim2.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(live2.renameTo(
      new java.io.File(victim2, "compact-run-b.parquet")))
    val beforeB = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 1000) == 0)
    val afterB = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterB == beforeB,
      "a published cell's trash copy must be dropped, not re-merged")
    assert(!trashRoot.exists())
    // ---- LEGACY trash (no _RUNID witness, pre-runId protocol): the
    // automatic recovery REFUSES it (VERDICT r12 item 6 — the legacy
    // decision procedure is retired from the unattended path) and the
    // explicit one-time migrateLegacyTrash adjudicates. Each case below
    // asserts the refusal first, then drives the migration to the same
    // end state the old auto-path guaranteed.
    def expectRefusalThenMigrate(expectRestored: Int): Unit = {
      val e = intercept[IllegalStateException] {
        Similarity.ivfCompact(spark, path, maxFilesPerCell = 1000)
      }
      assert(e.getMessage.contains("migrateLegacyTrash"),
        s"refusal must name the migration tool:\n${e.getMessage}")
      assert(trashRoot.exists(),
        "a refused recovery must leave the trash untouched")
      assert(Similarity.migrateLegacyTrash(spark, path) == expectRestored)
      assert(!trashRoot.exists(), "migration must clear the trash")
      // the automatic path proceeds cleanly once migrated
      assert(Similarity.ivfCompact(spark, path, maxFilesPerCell = 1000) == 0)
    }
    // ---- case (c): live cell present, trash holds SAME-NAMED copies —
    // indistinguishable from a crashed copy-restore, so the migration
    // RESUMES the copy (skipping every existing name): cell unchanged,
    // merging would duplicate every row (ADVICE r11).
    val victim3 = cellDirs.maxBy(_.listFiles().length)
    trashRoot.mkdirs() // NO _RUNID written
    val trashed3 = new java.io.File(trashRoot, victim3.getName)
    trashed3.mkdirs()
    victim3.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        trashed3.toPath.resolve(f.getName))
    }
    val beforeC = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    expectRefusalThenMigrate(expectRestored = 1)
    val afterC = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterC == beforeC,
      "legacy trash (no _RUNID) with live present must resume-copy to " +
        "an unchanged cell — merging would duplicate it")
    // ---- case (d): legacy trash with live MISSING — the only copies sit
    // in trash; the migration must restore them.
    val victim4 = cellDirs.maxBy(_.listFiles().length)
    trashRoot.mkdirs() // NO _RUNID
    val trashed4 = new java.io.File(trashRoot, victim4.getName)
    assert(victim4.renameTo(trashed4), "test setup: park cell in trash")
    expectRefusalThenMigrate(expectRestored = 1)
    val afterD = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterD == beforeC,
      "legacy trash with live missing must still be restored")
    // ---- case (e): legacy crash MID-RESTORE — a previous migration
    // created the live dir and copied only SOME files before dying;
    // trash still holds the complete name set (the migration COPIES for
    // exactly this reason). Bare `live exists` must NOT read as
    // published: that would delete the un-restored files with the trash
    // (r12 review). The migration must resume and lose nothing.
    val victim5 = cellDirs.maxBy(_.listFiles().length)
    assert(victim5.listFiles().count(_.getName.endsWith(".parquet")) >= 2,
      "test setup: mid-restore case needs a multi-file cell")
    trashRoot.mkdirs() // NO _RUNID
    val trashed5 = new java.io.File(trashRoot, victim5.getName)
    assert(victim5.renameTo(trashed5), "test setup: park cell in trash")
    victim5.mkdirs() // the partial restore: live recreated, ONE file in
    val firstFile = trashed5.listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    java.nio.file.Files.copy(firstFile.toPath,
      victim5.toPath.resolve(firstFile.getName))
    expectRefusalThenMigrate(expectRestored = 1)
    val afterE = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterE == beforeC,
      "crashed legacy restore must RESUME (live ⊂ trash names), " +
        "not treat the partial live dir as published and drop the rest")
    // ---- case (f): legacy GENUINELY published — live holds a data file
    // whose name is foreign to the trash set (the old protocol's staged
    // compacted file). The migration must drop the trash without merging.
    val victim6 = cellDirs.maxBy(_.listFiles().length)
    trashRoot.mkdirs() // NO _RUNID
    val trashed6 = new java.io.File(trashRoot, victim6.getName)
    trashed6.mkdirs()
    victim6.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      // trash holds the pre-compact originals under their own names...
      java.nio.file.Files.copy(f.toPath, trashed6.toPath.resolve(f.getName))
    }
    // ...and live's content is the published compacted file: same rows,
    // staged (foreign) name — rename every live file to a compact-* name
    victim6.listFiles().filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(victim6, s"compact-legacy-$i.parquet")))
      }
    expectRefusalThenMigrate(expectRestored = 0)
    val afterF = spark.read.parquet(s"$path/corpus")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(afterF == beforeC,
      "published legacy cell (foreign-named live file) must drop trash " +
        "without merging — merging would duplicate the cell")
    // the migration refuses CURRENT-protocol trash: it must never race
    // the automatic recovery on a decidable layout
    trashRoot.mkdirs()
    java.nio.file.Files.writeString(
      trashRoot.toPath.resolve("_RUNID"), "run-z")
    intercept[IllegalArgumentException] {
      Similarity.migrateLegacyTrash(spark, path)
    }
    assert(trashRoot.exists(), "refused migration must not touch trash")
    java.nio.file.Files.delete(trashRoot.toPath.resolve("_RUNID"))
    trashRoot.delete()
  }

  test("ivfPqAppend: appended vectors are retrievable through the IVFADC " +
      "read path with exact re-ranked cosines") {
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batch = emb.where(pmod($"vec_id", lit(5)) === 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpqa_").toString
    Similarity.ivfPqWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, m = 16, ksub = 32, kMeansIters = 1)
    Similarity.ivfPqAppend(batch, "vec_id", "embedding", path)
    val codeIds = spark.read.parquet(s"$path/codes")
      .select($"vec_id").as[Long].collect().toSet
    val vecIds = spark.read.parquet(s"$path/vectors")
      .select($"vec_id").as[Long].collect().toSet
    val all = emb.select($"vec_id").as[Long].collect().toSet
    assert(codeIds == all && vecIds == all)
    val top1 = Similarity.ivfPqBatchTopK(spark, path, batch,
      "vec_id", "embedding", 1, nProbe = 2, rerank = 16,
      excludeSelf = false)
      .as[(Long, Long, Double)].collect()
    assert(top1.length == batch.count())
    assert(top1.forall(_._3 == 1.0),
      "every appended vector must score cos 1 at top-1 after re-rank")
  }

  test("IVF-BQ: sign-pack/Hamming are exact, recall clears the floor, " +
      "reported cosines are exact, chunked ≡ unchunked") {
    // SignPack/HammingDist against driver-side reference bit math
    val probe = Seq((Array(1.0f, -2.0f, 0.0f, -0.5f), Array(-1.0f, 2.0f, 3.0f, 0.5f)))
      .toDF("a", "b")
    val r = probe.select(
      graft.functions.VectorFunctions.signPack(col("a")).as("pa"),
      graft.functions.VectorFunctions.signPack(col("b")).as("pb"),
      graft.functions.VectorFunctions.hammingDist(
        graft.functions.VectorFunctions.signPack(col("a")),
        graft.functions.VectorFunctions.signPack(col("b"))).as("h"))
      .head()
    // a: signs (+,-,+,-) → bits 0,2 → 0b0101 = 5; b: (-,+,+,+) → 0b1110 = 14
    assert(r.getSeq[Long](0) == Seq(5L), "sign_pack(a)")
    assert(r.getSeq[Long](1) == Seq(14L), "sign_pack(b)")
    assert(r.getInt(2) == java.lang.Long.bitCount(5L ^ 14L), "hamming")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_").toString
    Similarity.ivfBqWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 2)
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    val ann = Similarity.ivfBqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 128)
    val gate = Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10),
      ann, "vec_id", recallFloor = 0.5)
    assert(gate.select("recall_ok").head().getBoolean(0),
      "IVF-BQ recall must clear the floor (measured 0.840, BASELINE.md round 9)")
    val rows = ann.as[(Long, Long, Double)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    val exactMap = Similarity.bruteForceBatchTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", 500)
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, c) => (q, id) -> c }.toMap
    rows.foreach { case (q, id, c) =>
      exactMap.get((q, id)).foreach(e => assert(math.abs(e - c) < 1e-9)) }
    val base = rows.sortBy(x => (x._1, x._2)).toSeq
    val chunked = Similarity.ivfBqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 128,
      maxBroadcastBytes = 8192)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(chunked == base, "chunked IVF-BQ must equal unchunked")
    // two-level layout (nLists > HierThreshold): literal ≡ join-mode ≡
    // chunked, and the recall floor holds
    val ph = java.nio.file.Files.createTempDirectory("graft_ivfbqh_").toString
    Similarity.ivfBqWrite(emb, "vec_id", "embedding", ph,
      nLists = 100, kMeansIters = 1)
    assert(new java.io.File(s"$ph/supercentroids").exists())
    def runH(jt: Int, budget: Long) = Similarity.ivfBqBatchTopK(spark, ph,
      queries, "vec_id", "embedding", 10, nProbe = 16, rerank = 128,
      joinThreshold = jt, maxBroadcastBytes = budget)
    val annH = runH(4096, 8L << 20)
    assert(Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 10),
      annH, "vec_id", recallFloor = 0.5).select("recall_ok").head()
      .getBoolean(0), "two-level IVF-BQ recall must clear the floor")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    val baseH = sorted(annH)
    assert(sorted(runH(1, 8L << 20)) == baseH,
      "join-mode IVF-BQ read must equal the literal two-level path")
    assert(sorted(runH(4096, 8192)) == baseH,
      "chunked two-level IVF-BQ must equal unchunked")
  }

  test("ivfSqAppend: both tables see the union; appended vectors " +
      "retrieve themselves at cos 1 through the SQ read") {
    val corpus = emb.where(pmod($"vec_id", lit(5)) =!= 0)
    val batch = emb.where(pmod($"vec_id", lit(5)) === 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsqa_").toString
    Similarity.ivfSqWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1)
    Similarity.ivfSqAppend(batch, "vec_id", "embedding", path)
    val codeIds = spark.read.parquet(s"$path/codes")
      .select($"vec_id").as[Long].collect().toSet
    val vecIds = spark.read.parquet(s"$path/vectors")
      .select($"vec_id").as[Long].collect().toSet
    val all = emb.select($"vec_id").as[Long].collect().toSet
    assert(codeIds == all && vecIds == all)
    val top1 = Similarity.ivfSqBatchTopK(spark, path, batch,
      "vec_id", "embedding", 1, nProbe = 2, rerank = 16,
      excludeSelf = false)
      .as[(Long, Long, Double)].collect()
    assert(top1.length == batch.count())
    assert(top1.forall(_._3 == 1.0),
      "every appended vector must score cos 1 at top-1 after re-rank")
  }

  test("PQ batch ANN auto-chunking matches unchunked") {
    val path = java.nio.file.Files.createTempDirectory("graft_pqc_").toString
    Similarity.pqWrite(emb, "vec_id", "embedding", path,
      m = 16, ksub = 32, kMeansIters = 1)
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    def run(budget: Long) =
      Similarity.pqBatchTopK(spark, path, queries, "vec_id", "embedding",
        10, rerank = 64, maxBroadcastBytes = budget)
        .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(run(8192) == run(Long.MaxValue))
  }

  test("shared-trainer layouts ≡ in-place-trained layouts (centroidsIn/codebookIn)") {
    // r16 optimization: sibling tiers over one corpus reuse a single trained
    // quantizer (trainUnitIvfCentroids / trainPqCodebook) instead of each
    // re-training it. Pin that a layout built from the shared model is
    // byte-equivalent to one trained in place — centroid sidecar, codes,
    // and read results all identical.
    val cents = Similarity.trainUnitIvfCentroids(
      emb, "vec_id", "embedding", nLists = 16, kMeansIters = 2)
    val pIn = java.nio.file.Files.createTempDirectory("graft_shsq_a_").toString
    val pOwn = java.nio.file.Files.createTempDirectory("graft_shsq_b_").toString
    Similarity.ivfSqWrite(emb, "vec_id", "embedding", pIn,
      nLists = 16, kMeansIters = 2, centroidsIn = Some(cents))
    Similarity.ivfSqWrite(emb, "vec_id", "embedding", pOwn,
      nLists = 16, kMeansIters = 2)
    def sidecar(p: String) = spark.read.parquet(s"$p/centroids")
      .orderBy($"cell").collect().toSeq
    assert(sidecar(pIn) == sidecar(pOwn),
      "shared centroids must equal the in-place training")
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    def sqRead(p: String) = Similarity.ivfSqBatchTopK(spark, p, queries,
      "vec_id", "embedding", 10, nProbe = 12, rerank = 64)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(sqRead(pIn) == sqRead(pOwn),
      "SQ8 reads over shared-model layout must match in-place training")
    // PQ codebook sharing: codes tables byte-equal, reads byte-equal
    val cb = Similarity.trainPqCodebook(
      emb, "vec_id", "embedding", m = 16, ksub = 32, kMeansIters = 2)
    val qIn = java.nio.file.Files.createTempDirectory("graft_shpq_a_").toString
    val qOwn = java.nio.file.Files.createTempDirectory("graft_shpq_b_").toString
    Similarity.pqWrite(emb, "vec_id", "embedding", qIn,
      m = 16, ksub = 32, kMeansIters = 2, codebookIn = Some(cb))
    Similarity.pqWrite(emb, "vec_id", "embedding", qOwn,
      m = 16, ksub = 32, kMeansIters = 2)
    def codes(p: String) = spark.read.parquet(s"$p/codes")
      .orderBy($"vec_id").as[(Long, Seq[Int])].collect().toSeq
    assert(codes(qIn) == codes(qOwn),
      "shared-codebook codes must equal the in-place training")
    def pqRead(p: String) = Similarity.pqBatchTopK(spark, p, queries,
      "vec_id", "embedding", 10, rerank = 64)
      .orderBy($"q_id", $"vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(pqRead(qIn) == pqRead(qOwn),
      "PQ reads over shared-codebook layout must match in-place training")
    // a codebook of the wrong shape is rejected loudly
    intercept[IllegalArgumentException] {
      Similarity.pqWrite(emb, "vec_id", "embedding", qIn,
        m = 8, ksub = 32, kMeansIters = 2, codebookIn = Some(cb))
    }
    // r17: so is a right-shaped codebook trained on a DIFFERENT-dimension
    // corpus — slice clamping would otherwise mis-code silently
    val cbNarrow = cb.map(_.map(_.dropRight(1)))
    intercept[IllegalArgumentException] {
      Similarity.pqWrite(emb, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("graft_pqbad_").toString,
        m = 16, ksub = 32, kMeansIters = 2, codebookIn = Some(cbNarrow))
    }
  }

  test("LSH bucket assignment is deterministic across evaluations") {
    val b1 = emb.select($"vec_id", V.lshBucket($"embedding", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    val b2 = emb.repartition(7).select($"vec_id", V.lshBucket($"embedding", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1 == b2)
  }

  test("IVF top-k hits carry exact cosines and decent recall") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect()
    val bruteMap = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 500)
      .as[(Long, Double)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nLists = 16, nProbe = 8).as[(Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, c) =>
      bruteMap.get(id).foreach(exact => assert(math.abs(exact - c) < 1e-9))
    }
    // probing half the cells should recover a reasonable share of the top-10
    val recall = ivf.map(_._1).toSet.intersect(brute.map(_._1).toSet).size
    assert(recall >= 3, s"IVF recall too low: $recall/10")
  }

  test("k-means refinement improves (or preserves) IVF recall, cosines exact") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    def recallAt(iters: Int): Int =
      Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
        nLists = 16, nProbe = 8, kMeansIters = iters)
        .as[(Long, Double)].collect().map(_._1).toSet.intersect(brute).size
    val r0 = recallAt(0); val r2 = recallAt(2)
    assert(r2 >= 5, s"refined IVF recall too low: $r2/10")
    assert(r2 >= r0 - 1, s"refinement should not degrade recall: $r0 -> $r2")
  }

  test("semantic dedup removes planted in-cluster duplicates, keeps reps") {
    // Two well-separated directions; ids 2 and 3 are near-copies of id 1,
    // id 11 a near-copy of id 10. Greedy smaller-id rule keeps 1 and 10.
    val rows = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.999f, 0.04f, 0f)),
      (3L, Array(0.998f, -0.05f, 0f)), (4L, Array(0.7f, 0.7f, 0.1f)),
      (10L, Array(0f, 0f, 1f)), (11L, Array(0f, 0.03f, 0.999f)),
      (12L, Array(0.1f, 0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semanticDedup(rows, "vec_id", "embedding",
      nLists = 2, kMeansIters = 2, threshold = 0.98)
      .select($"vec_id", $"removed").as[(Long, Boolean)].collect().toMap
    assert(out.size == 7)
    assert(!out(1L) && out(2L) && out(3L))
    assert(!out(10L) && out(11L))
    assert(!out(4L) && !out(12L)) // below threshold: untouched
  }

  test("semantic dedup metrics: resolved fraction clears the floor on fixtures") {
    val m = graft.operators.Dedup.semanticDedupMetrics(emb, "vec_id",
      "embedding", "label", threshold = 0.3, nLists = 8, kMeansIters = 2,
      resolvedFloor = 0.5).as[(Long, Long, Boolean)].head()
    assert(m._1 == emb.count())
    assert(m._2 > 0, "fixture should contain same-label truth pairs at 0.3")
    assert(m._3, s"resolved fraction below floor (truth=${m._2})")
  }

  test("incremental semantic dedup flags batch rows with a corpus neighbor") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (10L, Array(0f, 0f, 1f)), (11L, Array(0f, 0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_sdix_").toString
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 2, kMeansIters = 2)
    val batch = Seq(
      (100L, Array(0.999f, 0.02f, 0f)), // near-copy of corpus id 1 → dup
      (101L, Array(0f, 0.02f, 0.999f)), // near-copy of corpus id 10 → dup
      (102L, Array(0.6f, 0.6f, 0.52f))  // between clusters → no 0.98 match
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semanticDedupIncremental(
      batch, path, "vec_id", "embedding", threshold = 0.98)
      .select($"vec_id", $"dup").as[(Long, Boolean)].collect().toMap
    assert(out.size == 3)
    assert(out(100L) && out(101L) && !out(102L))
  }

  test("VecMean aggregator computes element-wise means per group") {
    val data = Seq((1L, Array(1.0, 2.0)), (1L, Array(3.0, 4.0)),
      (2L, Array(10.0, 20.0))).toDS()
    val m = data.groupByKey(_._1)
      .agg(new graft.functions.VecMean().toColumn.name("mean"))
      .collect().toMap
    assert(m(1L) == Seq(2.0, 3.0))
    assert(m(2L) == Seq(10.0, 20.0))
  }

  test("centroidDistances: cluster members score high, planted outlier low") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f), 7),
      (2L, Array(1.0f, 0.0f, 0.1f), 7),
      (3L, Array(0.9f, 0.1f, 0.1f), 7),
      (4L, Array(-1.0f, 0.5f, 0.5f), 7), // planted outlier in label 7
      (5L, Array(0.0f, 1.0f, 0.0f), 8),
      (6L, Array(0.0f, 1.0f, 0.0f), 8)) // identical pair: cos to centroid = 1
      .toDF("vec_id", "embedding", "label")
    val scored = Similarity.centroidDistances(vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(5L) == 1.0 && scored(6L) == 1.0)
    assert(Seq(1L, 2L, 3L).forall(id => scored(id) > 0.8))
    assert(scored(4L) < 0.2 && scored(4L) < Seq(1L, 2L, 3L).map(scored).min)
  }

  test("all-pairs top-k emits at most k neighbors per query") {
    val k = 3
    val r = Similarity.allPairsTopK(emb.limit(100), "vec_id", "embedding", k,
      nBits = 4)
    val counts = r.groupBy("id_a").count().as[(Long, Long)].collect()
    assert(counts.nonEmpty)
    counts.foreach { case (_, n) => assert(n <= k) }
  }

  test("Aggregator-based all-pairs top-k equals the window formulation") {
    val sub = emb.limit(100)
    val win = Similarity.allPairsTopK(sub, "vec_id", "embedding", 3, nBits = 4)
      .as[(Long, Long, Double)].collect().toSet
    val agg = Similarity.allPairsTopKAgg(sub, "vec_id", "embedding", 3, nBits = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(agg == win)
  }

  test("int8 quantization: codes bounded, max saturates, zero vector safe") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),   // scale 1/127: codes 64, -127, 32
      (2L, Array(0.0f, 0.0f, 0.0f)))     // zero vector: scale 0 → all zeros
      .toDF("vec_id", "embedding")
    val q = df
      .select($"vec_id", $"embedding", V.int8Scale($"embedding").as("s"))
      .select($"vec_id", $"s", V.quantizeInt8($"embedding", $"s").as("q"))
      .as[(Long, Double, Array[Int])].collect().sortBy(_._1)
    val (_, s1, q1) = q(0)
    assert(math.abs(s1 - 1.0 / 127) < 1e-12)
    assert(q1.toSeq == Seq(64, -127, 32),
      s"round(0.5*127)=64 (HALF_UP), got ${q1.toSeq}")
    assert(q1.forall(c => c >= -127 && c <= 127))
    val (_, s2, q2) = q(1)
    assert(s2 == 0.0 && q2.toSeq == Seq(0, 0, 0))
    // real embeddings: every code within int8 range, exactly one ±127 per
    // non-zero vector is NOT required (max may tie) but at least one is
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val bad = emb
      .select($"vec_id", $"embedding", V.int8Scale($"embedding").as("s"))
      .select(V.quantizeInt8($"embedding", $"s").as("q"))
      .where(exists($"q", c => abs(c) > 127) || !exists($"q", c => abs(c) === 127))
      .count()
    assert(bad == 0, "codes must stay in [-127,127] and saturate at the max")
  }

  test("PQ top-k: full re-rank recovers the exact top-k ids") {
    // with rerank covering the whole corpus, the ADC ranking only selects
    // candidates; the exact-dot re-rank must then agree with brute force
    // on the id set (scores may differ in the last ulp of the 6-dp round)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
      m = 8, ksub = 16, kMeansIters = 1, rerank = n)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(pq == brute, s"full-rerank PQ must equal exact: $pq vs $brute")
  }

  test("PQ top-k: bounded re-rank clears the recall floor, deterministic") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    def run(): Seq[(Long, Double)] =
      Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
        m = 16, ksub = 32, kMeansIters = 2, rerank = 64)
        .as[(Long, Double)].collect().toSeq
    val a = run()
    assert(a.map(_._1).toSet.intersect(brute).size >= 7,
      s"PQ recall too low: ${a.map(_._1).toSet.intersect(brute).size}/10")
    assert(a == run(), "PQ must be deterministic across runs")
  }

  test("persisted PQ layout answers like the in-memory path") {
    val path = java.nio.file.Files.createTempDirectory("graft_pqspec_").toString
    Similarity.pqWrite(emb, "vec_id", "embedding", path,
      m = 16, ksub = 32, kMeansIters = 2)
    val qVec = emb.where($"vec_id" === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    // identical deterministic training ⇒ identical answer to the in-memory
    // path at the same parameters
    val persisted = Similarity.pqReadTopK(spark, path, qVec, Some(0L), 10,
      rerank = 64).as[(Long, Double)].collect().toSeq
    val inMem = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
      m = 16, ksub = 32, kMeansIters = 2, rerank = 64)
      .as[(Long, Double)].collect().toSeq
    assert(persisted == inMem)
    // full re-rank over the persisted layout recovers the exact top-k ids
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val full = Similarity.pqReadTopK(spark, path, qVec, Some(0L), 10,
      rerank = n).as[(Long, Double)].collect().map(_._1).toSet
    assert(full == brute)
  }

  test("kMeansMetrics: exact count, bounded clusters, cohesion beats the global mean") {
    val m = Similarity.kMeansMetrics(emb, "vec_id", "embedding",
      k = 8, iters = 3).as[(Long, Boolean, Boolean)].head()
    assert(m._1 == emb.count())
    assert(m._2, "assignments must land in <= k clusters")
    assert(m._3, "own-centroid cohesion must dominate the global mean")
    // deterministic across runs
    val m2 = Similarity.kMeansMetrics(emb, "vec_id", "embedding",
      k = 8, iters = 3).as[(Long, Boolean, Boolean)].head()
    assert(m == m2)
  }

  test("PQ top-k: ragged last subspace (m does not divide d) still works") {
    // d=64 fixtures with m=5 → dsub=13, last slice is 12 wide
    val top = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 5,
      m = 5, ksub = 8, kMeansIters = 0, rerank = 32)
      .as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("batch brute force agrees with the single-query brute force") {
    val queries = emb.where($"vec_id".isin(0L, 7L, 42L))
    val batch = Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 10)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(
        p => (-p._2, p._1)).toSeq).toMap
    for (q <- Seq(0L, 7L, 42L)) {
      val single = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"query $q")
    }
  }

  test("ivfBatchTopK answers each query exactly like ivfReadTopK") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfb_spec_")
      .toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1)
    val qIds = Seq(0L, 7L, 42L)
    val queries = emb.where($"vec_id".isin(qIds: _*))
    val batch = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 4)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(
        p => (-p._2, p._1)).toSeq).toMap
    assert(batch.keySet == qIds.toSet)
    for (q <- qIds) {
      val qVec = emb.where($"vec_id" === q)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val single = Similarity.ivfReadTopK(spark, path, qVec, Some(q), 10,
        nProbe = 4).as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"query $q")
    }
  }

  test("ivfBatchTopK clears the macro recall floor vs batch brute force") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfb_rec_")
      .toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 2)
    val queries = emb.where(pmod($"vec_id", lit(25)) === 0)
    val gate = Similarity.annBatchQualityMetrics(
      Similarity.bruteForceBatchTopK(emb, "vec_id", "embedding", queries,
        "vec_id", "embedding", 10),
      Similarity.ivfBatchTopK(spark, path, queries, "vec_id", "embedding",
        10, nProbe = 8),
      "vec_id", recallFloor = 0.5)
      .as[(Long, Long, Long, Boolean)].head()
    assert(gate._1 == 20, s"n_queries ${gate._1}") // 500 fixtures / 25
    assert(gate._2 == 200, s"n_exact ${gate._2}")
    assert(gate._4, "macro recall below floor")
  }

  test("autoNProbe sizes the default probe width to the layout") {
    // the pinned rule: min(max(12, ceil(4 * sqrt(nLists))), ceil(nLists/2))
    // — fit to the round-9 recall curve (BASELINE.md round 10): the 1x
    // layout keeps the measured gate config (8 of 16), the 10x layout gets
    // ~51 of 160 (recall ~0.77 vs 0.365 at the old fixed 12), and the
    // probed FRACTION decays as 4/sqrt(nLists), so per-query work stays
    // sub-linear under the nLists-proportional layout policy
    assert(Similarity.autoNProbe(16) == 8)
    assert(Similarity.autoNProbe(160) == 51)
    assert(Similarity.autoNProbe(1600) == 160)
    assert(Similarity.autoNProbe(1) == 1)
    // monotone in the layout, never exceeding the list count
    val widths = Seq(1L, 4L, 16L, 64L, 160L, 640L, 1600L, 16000L)
      .map(n => n -> Similarity.autoNProbe(n))
    assert(widths.sliding(2).forall { case Seq((_, a), (_, b)) => a <= b })
    assert(widths.forall { case (n, w) => w >= 1 && w <= n })
    // the companion shortlist rule: the quantized readers' exact-rerank
    // covers 8 rows per probed cell (floored at 64 and 2k), so the
    // covered fraction of the candidate pool stays constant as auto-
    // nProbe widens with the layout (the BQ 10x evidence: recall 0.451
    // at fixed rerank=128 vs 0.636 self-sized, BASELINE.md round 10)
    assert(Similarity.autoRerank(8, 10) == 64)
    assert(Similarity.autoRerank(51, 10) == 408)
    assert(Similarity.autoRerank(4, 100) == 200)
  }

  test("filtered batch ANN never returns a row failing the predicate " +
      "and fills k from matching rows beyond it") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivff_spec_")
      .toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1, payloadCols = Seq("label"))
    val pred = $"label" <= 3
    val queries = emb.where($"vec_id" % 25 === 0)
    val ann = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 16, filter = Some(pred))
    val rows = ann.join(emb.select($"vec_id", $"label"), "vec_id")
    assert(rows.where(!pred).count() == 0, "predicate leaked into top-k")
    // nProbe = all lists makes the filtered scan exhaustive: every query
    // must fill k from MATCHING rows (a post-filtered shortlist wouldn't)
    val perQ = ann.groupBy($"q_id").count().as[(Long, Long)].collect()
    assert(perQ.nonEmpty && perQ.forall(_._2 == 10),
      s"under-filled k: ${perQ.filter(_._2 != 10).mkString(",")}")
  }

  test("payload columns shadowing layout-internal names are rejected up " +
      "front on every write tier") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfres_")
      .toString
    // 'scale' is SQ8's own column; 'cell' is the partition key — either
    // would corrupt the codes table or fail late and cryptically
    val shadowed = emb.withColumn("scale", $"label" * 1.0)
      .withColumn("cell", $"label")
    intercept[IllegalArgumentException] {
      Similarity.ivfWrite(shadowed, "vec_id", "embedding", path,
        nLists = 4, payloadCols = Seq("cell"))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfSqWrite(shadowed, "vec_id", "embedding", path,
        nLists = 4, payloadCols = Seq("scale"))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqWrite(shadowed, "vec_id", "embedding", path,
        nLists = 4, m = 4, ksub = 8, payloadCols = Seq("dv"))
    }
    // the id/vector columns are equally reserved as payload
    intercept[IllegalArgumentException] {
      Similarity.ivfWrite(emb, "vec_id", "embedding", path,
        nLists = 4, payloadCols = Seq("vec_id"))
    }
  }

  test("ivfAppend preserves a payload layout's schema: appended rows stay " +
      "visible to filtered reads, payload-less batches are rejected") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivffap_")
      .toString
    val corpus = emb.where($"vec_id" % 5 =!= 0)
    val batch = emb.where($"vec_id" % 5 === 0 && $"label" <= 3)
    Similarity.ivfWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1, payloadCols = Seq("label"))
    // the footgun: an append without the layout's payload columns would
    // land NULL-metadata rows every filtered read silently skips
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(batch.drop("label"), "vec_id", "embedding", path)
    }
    Similarity.ivfAppend(batch, "vec_id", "embedding", path)
    // every appended row self-retrieves THROUGH the filter it satisfies
    val got = Similarity.ivfBatchTopK(spark, path, batch,
      "vec_id", "embedding", 1, nProbe = 1, excludeSelf = false,
      filter = Some($"label" <= 3))
      .as[(Long, Long, Double)].collect()
    assert(got.length == batch.count())
    assert(got.forall { case (q, id, cos) => q == id && cos == 1.0 })
  }

  test("quantized appends preserve payload codes tables: SQ8 filtered " +
      "self-retrieval after append, payload-less batches rejected") {
    val path = java.nio.file.Files.createTempDirectory("graft_sqfap_")
      .toString
    val corpus = emb.where($"vec_id" % 5 =!= 0)
    val batch = emb.where($"vec_id" % 5 === 0 && $"label" <= 3)
    Similarity.ivfSqWrite(corpus, "vec_id", "embedding", path,
      nLists = 16, kMeansIters = 1, payloadCols = Seq("label"))
    intercept[IllegalArgumentException] {
      Similarity.ivfSqAppend(batch.drop("label"), "vec_id", "embedding",
        path)
    }
    Similarity.ivfSqAppend(batch, "vec_id", "embedding", path)
    val got = Similarity.ivfSqBatchTopK(spark, path, batch,
      "vec_id", "embedding", 1, nProbe = 1, rerank = 64,
      excludeSelf = false, filter = Some($"label" <= 3))
      .as[(Long, Long, Double)].collect()
    assert(got.length == batch.count())
    assert(got.forall { case (q, id, cos) => q == id && cos == 1.0 })
    // payload-free layouts keep the old call shape (derived payload = Nil)
    val plain = java.nio.file.Files.createTempDirectory("graft_sqap0_")
      .toString
    Similarity.ivfSqWrite(corpus, "vec_id", "embedding", plain,
      nLists = 16, kMeansIters = 1)
    Similarity.ivfSqAppend(batch.drop("label"), "vec_id", "embedding",
      plain)
    assert(Similarity.ivfSqBatchTopK(spark, plain, batch,
      "vec_id", "embedding", 1, nProbe = 1, rerank = 64,
      excludeSelf = false)
      .as[(Long, Long, Double)].collect().forall(_._3 == 1.0))
  }

  test("pqBatchTopK answers each query exactly like pqReadTopK") {
    val path = java.nio.file.Files.createTempDirectory("graft_pqb_spec_")
      .toString
    Similarity.pqWrite(emb, "vec_id", "embedding", path,
      m = 16, ksub = 32, kMeansIters = 1)
    val qIds = Seq(0L, 7L, 42L)
    val queries = emb.where($"vec_id".isin(qIds: _*))
    val batch = Similarity.pqBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, rerank = 64)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(
        p => (-p._2, p._1)).toSeq).toMap
    assert(batch.keySet == qIds.toSet)
    for (q <- qIds) {
      val qVec = emb.where($"vec_id" === q)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val single = Similarity.pqReadTopK(spark, path, qVec, Some(q), 10,
        rerank = 64).as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"query $q")
    }
  }

  test("hier-layout auto-nProbe recall clears the clustered-corpus floors") {
    // VERDICT r11 item 5: the 0.55/0.50 hier floors are the no-structure
    // expectation of the near-uniform synthetic fixture (BASELINE r11
    // refutation), not a property of the quantizer. Production embedding
    // spaces CLUSTER; this pins the quantizer on production-shaped data —
    // a spec-scale mixture-of-Gaussians (the ScaleCorpus mog transform:
    // component centers ±2.0/dim, point noise ±0.25) under a HIER layout
    // (nLists > HierThreshold). IVF cells align with components, so auto
    // defaults must recover near-exact neighbors; a regression toward
    // Voronoi-arbitrary behavior (bad k-means init, broken probe ordering,
    // rerank shortlist collapse) drops recall to ~0.4 and fails loudly.
    import org.apache.spark.sql.Column
    val n = 6500L; val dim = 16; val comps = 40L
    def u(h: Column, amp: Double): Column =
      (pmod(h, lit(1000)).cast("double") / 1000.0 - 0.5) * (2.0 * amp)
    val mog = spark.range(0L, n, 1L, 8)
      .withColumn("component", pmod(xxhash64($"id", lit("mog_asgn")), lit(comps)))
      .select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (u(xxhash64($"component", j, lit("mog_ctr")), 2.0) +
            u(xxhash64($"id", j, lit("mog_pt")), 0.25)).cast("float"))
          .as("embedding"))
      .localCheckpoint(false)
    val queries = mog.where(pmod($"vec_id", lit(130)) === 0)
    val exact = Similarity.bruteForceBatchTopK(mog, "vec_id", "embedding",
      queries, "vec_id", "embedding", 10).localCheckpoint(false)
    def macroRecall(ann: org.apache.spark.sql.DataFrame): Double =
      exact.select($"q_id", $"vec_id".as("eid"))
        .join(ann.select($"q_id", $"vec_id".as("eid")).withColumn("m", lit(1)),
          Seq("q_id", "eid"), "left")
        .groupBy($"q_id")
        .agg(count(lit(1)).as("n"), count($"m").as("h"))
        .agg(avg($"h" / $"n")).head().getDouble(0)
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString

    val ivfPath = tmp("graft_mog_ivf_")
    Similarity.ivfWrite(mog, "vec_id", "embedding", ivfPath,
      nLists = 104, kMeansIters = 1)
    val rIvf = macroRecall(Similarity.ivfBatchTopK(spark, ivfPath,
      queries, "vec_id", "embedding", 10))
    assert(rIvf >= 0.85, f"clustered-corpus ivf auto recall $rIvf%.3f < 0.85")

    val sqPath = tmp("graft_mog_sq_")
    Similarity.ivfSqWrite(mog, "vec_id", "embedding", sqPath,
      nLists = 104, kMeansIters = 1)
    val rSq = macroRecall(Similarity.ivfSqBatchTopK(spark, sqPath,
      queries, "vec_id", "embedding", 10))
    assert(rSq >= 0.85, f"clustered-corpus sq8 auto recall $rSq%.3f < 0.85")

    val bqPath = tmp("graft_mog_bq_")
    Similarity.ivfBqWrite(mog, "vec_id", "embedding", bqPath,
      nLists = 104, kMeansIters = 1)
    val rBq = macroRecall(Similarity.ivfBqBatchTopK(spark, bqPath,
      queries, "vec_id", "embedding", 10))
    assert(rBq >= 0.75, f"clustered-corpus bq auto recall $rBq%.3f < 0.75")
  }

  test("committed 10x recall floors hold in CAP_RECALL.json (r13 item 5)") {
    // Floor pin on the COMMITTED 10× artifact (CapRecallProbe over the
    // staged constant-density docs + MoG embeddings): regenerating the
    // artifact below these floors turns the suite red instead of silently
    // committing a recall regression. Fixture-scale floors above remain
    // the always-on gates; this one is availability-gated on the artifact.
    val f = new java.io.File("CAP_RECALL.json")
    assume(f.exists(), "CAP_RECALL.json not committed in this checkout")
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def autoOf(tier: String): Double =
      ("\"" + tier + "\":\\s*\\{\\s*\"auto\":\\s*([0-9.]+)").r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
        .getOrElse(fail(s"tier $tier missing from CAP_RECALL.json"))
    // AUTO defaults must stay ≥0.99 on every quantized tier at 10× MoG
    Seq("ivf_flat", "ivf_sq8", "ivf_bq", "ivf_pq").foreach { tier =>
      val r = autoOf(tier)
      assert(r >= 0.99, f"10x MoG AUTO recall floor: $tier $r%.3f < 0.99")
    }
    // MinHash-LSH bucket-cap curve must stay flat at 1.0 across the ladder
    // (band-key buckets are fine-grained; a drop means the banding or the
    // split regressed, not a tolerable cap trade)
    val lshSection = txt.substring(txt.indexOf("minhash_lsh_bucket_cap"),
      txt.indexOf("simhash_bucket_cap"))
    val lshRecalls = """"recall_vs_top":\s*([0-9.]+)""".r
      .findAllMatchIn(lshSection).map(_.group(1).toDouble).toSeq
    assert(lshRecalls.nonEmpty && lshRecalls.forall(_ == 1.0),
      s"minhash-lsh cap curve no longer flat at 1.0: $lshRecalls")
  }
}
