package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.sources.FastParquet

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (one broadcast of the query side, one
  * codegen'd map over the corpus, one TakeOrderedAndProject — no shuffle of
  * the corpus). Scale path: LSH-bucketed search — bucket assignment is
  * map-side; the candidate join touches only same-bucket rows, so cost scales
  * with bucket occupancy, not corpus size.
  */
object Similarity {

  /** Cosine similarities of every corpus vector against the single query row
    * `queryId`, rounded to 6 dp *before* ranking so ordering is stable across
    * engines, tie-broken by id. TakeOrderedAndProject keeps this a top-k, not
    * a global sort.
    */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val query = embeddings.where(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    embeddings.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(V.cosineFast(col(vecCol), col("q_vec")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** LSH-bucketed ANN: assign every vector (and the query) a
    * `nBits`-hyperplane bucket, compute exact cosine only within the probed
    * buckets. `probeRadius = r` (multi-probe, Lv et al. VLDB'07)
    * additionally probes every bucket within Hamming distance r of the
    * query's — the vectors most likely to have landed a few hyperplanes
    * away — trading `Σ C(nBits, i), i ≤ r` probes for a recall jump with NO
    * change to the corpus side: the probe set is still a broadcast of tiny
    * rows, and the join still touches only probed buckets. Recall is
    * validated against `bruteForceTopK` in tests.
    * At 100 TB the corpus is pre-bucketed once (partitioned by bucket) and
    * each query reads probed partitions only.
    */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nBits: Int = 8, probeRadius: Int = 0): DataFrame = {
    val bucketed = embeddings.select(col(idCol), col(vecCol),
      V.lshBucketFast(col(vecCol), nBits).as("bucket"))
    val query = bucketed.where(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), col("bucket"))
    // all xor masks with ≤ probeRadius bits set, built combinatorially at
    // plan time: Σ C(nBits, i) masks are *generated* (choose the set bit
    // positions), never a 2^nBits scan — radius-1 over a 40-bit signature is
    // 41 masks, not a trillion-element filter
    require(nBits > 0 && nBits < 63, s"nBits must be in [1, 62], got $nBits")
    val masks: Seq[Long] = (0 to math.min(probeRadius, nBits)).flatMap(r =>
      (0 until nBits).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val probes =
      if (probeRadius <= 0) query
      else query.select(col("q_vec"), explode(array(
        masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    bucketed.where(col(idCol) =!= queryId)
      .join(broadcast(probes), "bucket")
      .select(col(idCol),
        round(V.cosineFast(col(vecCol), col("q_vec")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN: corpus is partitioned into `nLists` cells
    * around deterministic seed centroids (hash-order sample by id — no RNG,
    * reproducible); a query probes the `nProbe` nearest cells and computes
    * exact cosine only there. The other classic scale path next to LSH.
    *
    * Cell assignment is PURE MAP-SIDE: the ≤nLists centroid vectors are
    * pulled to the driver (one TakeOrdered scan — the same small-side shape
    * a broadcast join build uses) and baked into a literal array, so each
    * row's nearest-centroid argmax is a codegen'd fold with no corpus
    * shuffle, no per-row window, and no extra corpus count. `kMeansIters`
    * Lloyd iterations refine the seed centroids (map-side assignment +
    * O(cells×dims) VecMean shuffle per iteration) for markedly better
    * recall at the same probe width. At 100 TB the corpus is assigned once
    * and written partitioned by cell; each query then reads nProbe cells.
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nLists: Int = 16, nProbe: Int = 4,
      kMeansIters: Int = 0): DataFrame = {
    val (withNorm, cents) =
      ivfModel(embeddings, idCol, vecCol, nLists, kMeansIters)
    val assigned = withNorm
      .select(col(idCol), col(vecCol), col("dv"), col("v_norm"),
        bestCell(cents).getField("cid").as("cell"))
    val queryCells = withNorm.where(col(idCol) === queryId)
      .select(col("dv").as("q_dv"), col("v_norm").as("q_norm"),
        explode(typedLit(cents)).as("c"))
      .select(simTo(col("q_dv"), col("q_norm"), col("c")).as("c_sim"),
        col("c").getField("_1").as("cell"))
      .orderBy(col("c_sim").desc, col("cell")).limit(nProbe)
      .select(col("cell"))
    val query = embeddings.where(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    assigned.where(col(idCol) =!= queryId)
      .join(broadcast(queryCells), "cell")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(V.cosineFast(col(vecCol), col("q_vec")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Cosine of a (dv, norm) row against one centroid struct `(_1 id, _2 vec,
    * _3 norm)`; -2 sentinel for zero norms keeps the argmax total.
    */
  private def simTo(vec: Column, vecNorm: Column, c: Column): Column = {
    // DotProduct primitive: the argmax wrappers (transform/array_sort/
    // aggregate) are interpreted HigherOrderFunctions, so the O(d) inner
    // loop here was paying per-element lambda eval + a zipped-array
    // allocation per (row, centroid) — the dominant term of every
    // IVF/IVFADC corpus write's cell assignment
    val d = V.dotFast(vec, c.getField("_2"))
    val denom = vecNorm * c.getField("_3")
    when(denom === 0.0, lit(-2.0)).otherwise(d / denom)
  }

  /** nLists above which cell assignment and probe selection go through the
    * TWO-LEVEL coarse quantizer ([[IvfHierarchy]]): a flat per-row argmax
    * over the full centroid literal is O(nLists·d) per row, which turns the
    * whole build/probe quadratic once the at-scale layout policy sets
    * nLists ∝ n (the round-7 scale probe measured 36× at 10× from exactly
    * this term). Below the threshold the flat argmax is cheaper than two
    * hops. */
  private val HierThreshold = 64

  /** nLists above which centroids stop being expression literals entirely:
    * probe assignment switches to a broadcast JOIN against the centroid
    * sidecar table (480 k centroids at a 100× corpus cannot be baked into
    * a plan literal). Between [[HierThreshold]] and this bound the
    * two-level LITERAL path wins (no extra shuffle). */
  private[operators] val JoinThreshold = 4096

  /** Sentinel `nProbe` value asking the reader to SIZE ITSELF to the
    * persisted layout via [[autoNProbe]] — the default on every batch
    * reader. A fixed probe count over an nLists ∝ n layout policy means
    * the default recall silently decays as the corpus grows (the round-9
    * recall probe measured nProbe=12 recall falling 0.79 → 0.37 from
    * the 1× to the 10× layout); the explicit-nProbe override remains for
    * callers that have tuned their own recall/latency point. */
  val AutoProbe: Int = 0

  /** Layout-derived default probe width: `min(max(12, ⌈4·√nLists⌉),
    * ⌈nLists/2⌉)`. Fit to the measured recall curve on the replica
    * corpus (BASELINE.md round-9: nLists=160, nProbe 4/12/24/48 →
    * 0.165/0.365/0.561/0.759): at the 1× layout (nLists=16) it yields 8
    * — the gate config, recall 0.787 — and at the 10× layout (nLists=160)
    * it yields 51 → recall ≈0.77, holding the 1× default's recall within
    * ~0.1 instead of decaying to 0.37. Probed work per query grows
    * O(√nLists)·|cell| — sub-linear in the corpus under the cell-size-
    * constant layout policy, so the self-sizing default stays inside the
    * scale budget (the probed FRACTION decays as 4/√nLists). */
  def autoNProbe(nLists: Long): Int =
    math.min(
      math.max(12, math.ceil(4.0 * math.sqrt(nLists.toDouble)).toInt),
      math.max(1, ((nLists + 1) / 2).toInt))

  /** Sentinel rerank value asking a quantized reader ([[ivfSqBatchTopK]]/
    * [[ivfBqBatchTopK]]/[[ivfPqBatchTopK]]) to size its exact-rerank
    * shortlist to the resolved probe width: `max(64, 2k, 8·nProbe)`. A
    * fixed shortlist over a growing candidate pool (auto-nProbe scans
    * ~√nLists cells) shrinks the COVERED FRACTION as the corpus grows —
    * the binding recall constraint for the coarse (few-distinct-values)
    * approximate scores, measured on the 10× layout (nLists=160, auto
    * nProbe=51): BQ recall 0.451 at rerank=128 vs 0.636 at the
    * self-sized 408 — which also closes the 1×/10× default-recall gap
    * (0.538 vs 0.636, within the ±0.1 band alongside ivf 0.875→0.781
    * and sq8 0.875→0.796; BASELINE.md round 10). Explicit values remain
    * the tuned override. */
  val AutoRerank: Int = 0

  /** The [[AutoRerank]] sizing rule, pinned in SimilaritySpec. */
  def autoRerank(nProbe: Int, k: Int): Int =
    math.max(math.max(64, 2 * k), 8 * nProbe)

  /** The two-level coarse quantizer: ≈√nLists super-centroids trained
    * driver-side over the CENTROIDS (metadata-sized — O(nLists·√nLists·d)
    * plain-Scala flops), children grouped per super. A row assigns by
    * super-argmax (O(√nLists·d)) then child-argmax within that super
    * (≈O(√nLists·d)) — O(√nLists·d) total instead of O(nLists·d).
    * `supers` ids are 0-based indexes into `children`. */
  private[operators] case class IvfHierarchy(
      supers: Seq[(Long, Seq[Double], Double)],
      children: Seq[Seq[(Long, Seq[Double], Double)]]) {
    def superOf: Map[Long, Int] =
      children.zipWithIndex.flatMap { case (cs, i) =>
        cs.map(c => c._1 -> i) }.toMap
  }

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic driver-side grouping of `cents` into ≈√n super-cells:
    * hash-ordered seeds (the [[ivfModel]] convention), 3 Lloyd iterations
    * by cosine, empty supers dropped and re-indexed. */
  private[operators] def buildHierarchy(
      cents: Seq[(Long, Seq[Double], Double)]): IvfHierarchy = {
    val nSuper = math.max(1, math.ceil(math.sqrt(cents.size.toDouble)).toInt)
    def mix(id: Long): Long = {
      val h = id * 0x9E3779B97F4A7C15L
      ((h ^ (h >>> 31)) % 7919 + 7919) % 7919
    }
    var supers: Seq[(Seq[Double], Double)] = cents
      .sortBy(c => (mix(c._1), c._1)).take(nSuper)
      .map(c => (c._2, c._3))
    def assign(): Array[Int] = cents.map { c =>
      var best = -3.0; var bi = 0; var i = 0
      while (i < supers.length) {
        val (sv, sn) = supers(i)
        val denom = c._3 * sn
        val s = if (denom == 0.0) -2.0 else dot(c._2, sv) / denom
        if (s > best) { best = s; bi = i }
        i += 1
      }
      bi
    }.toArray
    var asg = assign()
    for (_ <- 1 to 3) {
      val d = cents.head._2.length
      val sums = Array.fill(supers.length)(new Array[Double](d))
      val counts = new Array[Int](supers.length)
      cents.zip(asg).foreach { case (c, s) =>
        counts(s) += 1
        var j = 0; while (j < d) { sums(s)(j) += c._2(j); j += 1 }
      }
      supers = supers.indices.map { s =>
        if (counts(s) == 0) supers(s)
        else {
          val m = sums(s).map(_ / counts(s)).toSeq
          (m, math.sqrt(m.map(x => x * x).sum))
        }
      }
      asg = assign()
    }
    val grouped = cents.zip(asg).groupBy(_._2)
    val occupied = grouped.keys.toSeq.sorted
    IvfHierarchy(
      occupied.zipWithIndex.map { case (s, i) =>
        (i.toLong, supers(s)._1, supers(s)._2) },
      occupied.map(s => grouped(s).map(_._1).sortBy(_._1)))
  }

  /** Per-row nearest-centroid argmax over the centroid literal `cents`
    * (strict >, so ties keep the earlier centroid in array order —
    * deterministic). Expects plain attributes `dv`/`v_norm` on the input
    * row: lambda-referenced expressions re-evaluate per element, so they
    * must be materialized in their own projection first. */
  private def bestCell(cents: Seq[(Long, Seq[Double], Double)]): Column =
    aggregate(typedLit(cents),
      struct(lit(-3.0).as("sim"), lit(Long.MaxValue).as("cid")),
      (acc, c) => {
        val s = simTo(col("dv"), col("v_norm"), c)
        when(s > acc.getField("sim"),
          struct(s.as("sim"), c.getField("_1").as("cid")))
          .otherwise(acc)
      })

  /** Append `super` and `cell` assignment columns to a frame carrying
    * plain `dv`/`v_norm` attributes. Flat argmax below [[HierThreshold]]
    * (`super` rides as a constant 0); above it, the assignment IS the
    * `nProbe = 1` [[probeCellsColHier]] expression — identical candidate
    * set (top-2 supers' children) AND identical (sim desc, cell asc)
    * tie-break — so the assigned cell is the read side's first probe cell
    * by construction, not by coincidence: a row written through this
    * assignment is always found by a probe of its own vector (the
    * [[ivfAppend]] self-retrieval contract, exact even under cosine
    * ties). `super` is the assigned CELL's super (not the row's nearest
    * super), so partition pruning by `superOf(cell)` stays exact. */
  private[operators] def withCellAssignment(df: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)]): DataFrame =
    if (cents.size <= HierThreshold)
      df.withColumn("super", lit(0L))
        .withColumn("cell", bestCell(cents).getField("cid"))
    else {
      val h = buildHierarchy(cents)
      df.withColumn("cell", element_at(probeCellsColHier(h, 1), 1))
        .withColumn("super", superOfCol(h))
    }

  /** Column mapping a row's `cell` to its super id — the ONE copy of the
    * hierarchy's super lookup (in-memory assignment and probe building
    * both attach it). */
  private def superOfCol(h: IvfHierarchy): Column =
    element_at(typedLit(h.superOf.map { case (c, s) =>
      c -> s.toLong }), col("cell"))

  /** The `nProbe` nearest cell ids for a (dv, v_norm) row, best first —
    * the multi-probe analogue of [[bestCell]] (cell boundaries are
    * arbitrary; a query near one probes its neighbors too). Ties sort by
    * cell id ascending, so with `nProbe = 1` this is exactly [[bestCell]]
    * when the centroid literal is cell-id-sorted (every caller's layout).
    * Fused into one [[graft.functions.ProbeCellsExpr]] primitive pass
    * (ProbeCellsSpec pins bit-identity with the composable pipeline);
    * `dv`/`v_norm` are evaluated once per row, so the old materialized-
    * attribute contract is no longer load-bearing — kept for plan
    * hygiene. */
  private[operators] def probeCellsCol(
      cents: Seq[(Long, Seq[Double], Double)], nProbe: Int): Column =
    probeExpr(graft.functions.ProbeCellsModel.flat(cents, nProbe))

  /** How many super-cells a hierarchical probe widens to: fixed relative
    * to nProbe (NOT to nLists), so per-row probe cost stays O(√nLists·d)
    * as the layout grows. Probing >1 super recovers queries whose true
    * nearest cells straddle a super boundary. */
  private[operators] def superProbeFor(nProbe: Int, nSuper: Int): Int =
    math.min(nSuper, math.max(2, (nProbe + 1) / 2))

  /** Two-level [[probeCellsCol]]: score the √nLists supers, keep the top
    * `superProbe`, score ONLY their children, keep the top `nProbe` cells.
    * O((1 + superProbe)·√nLists·d) per row instead of O(nLists·d). */
  private[operators] def probeCellsColHier(h: IvfHierarchy,
      nProbe: Int): Column =
    probeExpr(graft.functions.ProbeCellsModel.hier(h.supers, h.children,
      superProbeFor(nProbe, h.supers.size), nProbe))

  /** Wrap a [[graft.functions.ProbeCellsModel]] into the fused
    * [[graft.functions.ProbeCellsExpr]] over the callers' (dv, v_norm)
    * attribute convention. */
  private def probeExpr(m: graft.functions.ProbeCellsModel): Column = {
    val B = org.apache.spark.sql.GraftSqlBridge
    B.column(graft.functions.ProbeCellsExpr(
      B.expression(col("dv")), B.expression(col("v_norm")), m))
  }

  /** Shared IVF model build: the normed corpus frame (`idCol, vecCol, dv,
    * v_norm`) plus trained centroids `(cellId, vec, norm)`.
    *
    * Seed centroids are deterministic in one scan: TakeOrdered by id-hash
    * gives a reproducible pseudo-random spread without knowing the corpus
    * size (a bounded nLists-row collect — the broadcast-build idiom, not a
    * data-path collect). Lloyd refinement: each iteration is one map-side
    * assignment pass plus a VecMean aggregation whose shuffle is
    * O(cells × dims) — the corpus never moves. Seed cell ids stay the
    * stable centroid keys; cells that empty out are dropped.
    */
  private[operators] def ivfModel(embeddings: DataFrame, idCol: String, vecCol: String,
      nLists: Int, kMeansIters: Int, payloadCols: Seq[String] = Nil,
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]] = None):
      (DataFrame, Seq[(Long, Seq[Double], Double)]) = {
    val spark = embeddings.sparkSession
    val payload = payloadCols.map(col)
    val withNormPlan = embeddings
      .select(col(idCol) +: col(vecCol) +: payload :+
        V.asDoubleFast(col(vecCol)).as("dv"): _*)
      .select(col(idCol) +: col(vecCol) +: payload :+ col("dv") :+
        V.normFast(col("dv")).as("v_norm"): _*)
    // A caller holding already-trained centroids for THIS (corpus, space,
    // nLists, iters) recipe (the shared-trainer memo — train once, serve
    // every tier's layout build) skips seeding and refinement entirely;
    // the normed-corpus plan stays lazy (only the final assignment scans
    // it, so the 2 map-side scans are cheaper than a materialization).
    if (centroidsIn.isDefined) return (withNormPlan, centroidsIn.get)
    val seeds = embeddings
      .select(col(idCol).cast("long").as("c_id"), V.asDouble(col(vecCol)).as("c_vec"))
      .orderBy(pmod(xxhash64(col("c_id")), lit(7919)), col("c_id"))
      .limit(nLists).collect()
    // Refinement consumes the normed corpus once per iteration plus the
    // final assignment and query lookup — checkpoint it so the source is
    // scanned and normed once, matching the "corpus is assigned once" cost
    // model. Without iterations the plain plan's 2 map-side scans are
    // cheaper than materializing.
    val withNorm =
      if (kMeansIters > 0) withNormPlan.localCheckpoint(false) else withNormPlan
    var cents: Seq[(Long, Seq[Double], Double)] = seeds.toSeq.map { r =>
      val v = r.getSeq[Double](1)
      (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
    }
    if (kMeansIters > 0) {
      import spark.implicits._
      val vecMean = new graft.functions.VecMean().toColumn
      for (_ <- 1 to kMeansIters) {
        // two-level assignment above HierThreshold: with nLists ∝ n the
        // flat argmax made each Lloyd pass O(n·nLists·d) = quadratic
        val assignedIter = withCellAssignment(withNorm, cents)
          .select(col("dv"), col("cell"))
        val means = assignedIter.select(col("cell"), col("dv"))
          .as[(Long, Array[Double])]
          .groupByKey(_._1).agg(vecMean.name("mean")).collect()
        cents = means.toSeq.filter(_._2.nonEmpty).sortBy(_._1).map {
          case (cell, mean) =>
            (cell, mean, math.sqrt(mean.map(x => x * x).sum))
        }
      }
    }
    (withNorm, cents)
  }

  /** Train IVF centroids over the UNIT-normalized corpus — the exact
    * quantizer [[ivfSqWrite]], [[ivfPqWrite]] and [[ivfBqWrite]] each train
    * internally (training reads only `(id, unit vec)`, so it is payload-
    * independent and identical across the tiers). A caller building several
    * sibling layouts over the same corpus trains once here and passes the
    * result back via their `centroidsIn`, instead of paying the seed
    * collect + Lloyd shuffles once per tier.
    */
  def trainUnitIvfCentroids(embeddings: DataFrame, idCol: String,
      vecCol: String, nLists: Int, kMeansIters: Int):
      Seq[(Long, Seq[Double], Double)] = {
    val unit = embeddings.select(col(idCol),
      V.unitFast(col(vecCol)).as("uv"))
    ivfModel(unit, idCol, "uv", nLists, kMeansIters)._2
  }

  /** Train PQ sub-codebooks — the exact model [[pqWrite]] and
    * [[ivfPqWrite]] train internally (also payload-independent); pass the
    * result back via their `codebookIn` to amortize one training across
    * sibling layout builds of the same corpus.
    */
  def trainPqCodebook(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, kMeansIters: Int): Seq[Seq[Seq[Double]]] =
    pqModel(embeddings, idCol, vecCol, m, ksub, kMeansIters)._2

  /** Materialize the IVF layout the at-scale story needs: the corpus landed
    * PARTITIONED BY CELL (Hive layout — `cell=<id>/` directories) plus a
    * tiny centroid sidecar table. Train once, write once; every subsequent
    * read ([[ivfBatchTopK]], or [[ivfReadTopK]] for one vector) probes
    * through [[ivfCodecBatchTopK]] and touches only the probed cell
    * partitions, which the scan prunes at planning time (pinned in
    * PlanAuditSpec). At 100 TB this is the difference between scanning the
    * corpus per query and reading nProbe/nLists of it.
    *
    * `payloadCols` lands filterable metadata attributes (lang, quality,
    * license…) INSIDE the cell layout as plain parquet data columns — the
    * production filtered-ANN shape: a predicate over them reaches the
    * pruned cell scan as a parquet pushed filter ([[ivfBatchTopK]]'s
    * `filter`), so candidate generation is restricted BEFORE the top-k
    * cut instead of post-filtering the shortlist (which loses recall).
    */
  def ivfWrite(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, kMeansIters: Int = 0,
      payloadCols: Seq[String] = Nil,
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]] = None): Unit = {
    requirePayloadDisjoint(payloadCols, idCol, vecCol)
    val (withNorm, cents) =
      ivfModel(embeddings, idCol, vecCol, nLists, kMeansIters, payloadCols,
        centroidsIn)
    // above HierThreshold: TWO-LEVEL super=<s>/cell=<c>/, whose ≤√nLists
    // supers prune even when the probed cells outgrow an IN list
    val hier = cents.size > HierThreshold
    landWrite(withCellAssignment(withNorm, cents).select(
      layoutCols(idCol, col(vecCol) +: payloadCols.map(col), hier): _*),
      s"$path/corpus", hier)
    writeCentroidSidecars(embeddings.sparkSession, path, cents)
  }

  /** A layout table's columns: id, `cols`, then (two-level: super,) cell. */
  private def layoutCols(idCol: String, cols: Seq[Column],
      hier: Boolean): Seq[Column] =
    (col(idCol) +: cols) ++ (if (hier) Seq(col("super")) else Nil) :+
      col("cell")

  /** Overwrite-land a cell layout table at `root`, one output file per cell:
    * the write shuffle clusters by the same key the reads prune on. */
  private def landWrite(df: DataFrame, root: String, hier: Boolean): Unit = {
    val out = df.repartition(col("cell")).write.mode("overwrite")
    if (hier) out.partitionBy("super", "cell").parquet(root)
    else out.partitionBy("cell").parquet(root)
  }

  /** Land the centroid sidecar(s) for a cell layout: a flat `centroids`
    * table below [[HierThreshold]]; centroids + `supercentroids` (the
    * two-level coarse quantizer) above it. Shared by every tier's write. */
  private def writeCentroidSidecars(spark: SparkSession, path: String,
      cents: Seq[(Long, Seq[Double], Double)]): Unit = {
    import spark.implicits._
    if (cents.size <= HierThreshold)
      landSidecar(cents.toDF("cell", "c_vec", "c_norm"), s"$path/centroids")
    else {
      val h = buildHierarchy(cents)
      val superOf = h.superOf
      landSidecar(cents.map(c => (c._1, c._2, c._3, superOf(c._1).toLong))
        .toDF("cell", "c_vec", "c_norm", "super"), s"$path/centroids")
      landSidecar(h.supers.toDF("super", "s_vec", "s_norm"),
        s"$path/supercentroids")
    }
  }

  /** Overwrite-land a tiny model sidecar table as one file. */
  private def landSidecar(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Query a persisted IVF layout with ONE vector: a one-row
    * [[ivfBatchTopK]] (the query's `q_id` is `excludeId`, which
    * `excludeSelf` then drops), so the single read probes through the same
    * regime as the batch one — a two-level layout above [[JoinThreshold]]
    * lists collects no centroid vector — and scans ONLY the probed cell
    * partitions (a static partition filter). `(idCol, cos)` rows, ordered
    * by (cos desc, id asc).
    */
  def ivfReadTopK(spark: SparkSession, path: String,
      queryVec: Array[Float], excludeId: Option[Long], k: Int,
      nProbe: Int = AutoProbe, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    oneRowRead(spark, queryVec, excludeId, idCol)((q, excl) =>
      ivfBatchTopK(spark, path, q, "q_id", "q_vec", k, nProbe, excl, idCol,
        vecCol))

  /** A single-vector read as a one-row batch read: `excludeId` rides as the
    * row's `q_id` with `excludeSelf` set; the batch result's `(idCol, cos)`
    * come back ordered by (cos desc, id asc). */
  private def oneRowRead(spark: SparkSession, queryVec: Array[Float],
      excludeId: Option[Long], idCol: String)(
      batch: (DataFrame, Boolean) => DataFrame): DataFrame = {
    import spark.implicits._
    batch(Seq((excludeId.getOrElse(0L), queryVec)).toDF("q_id", "q_vec"),
      excludeId.isDefined)
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
  }

  /** Row count of a batch read's query frame, for sizing its broadcast
    * chunks. A local frame ([[oneRowRead]]'s one row, any `toDF` of driver
    * values) carries its rows in the plan, so counting it runs no job. */
  private def queryCount(queries: DataFrame): Long =
    queries.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong
      case _ => queries.count()
    }

  /** Exact batch top-k: the brute-force baseline for a DATAFRAME of query
    * vectors — every query row scored against every corpus row (broadcast
    * of the query side, codegen'd cosine, [[graft.plans.TopKPerKey]] k-cut:
    * per-partition bounded heaps + one shuffle of ≤ |Q|·k rows, never a
    * global sort). The recall oracle for [[ivfBatchTopK]]/[[pqBatchTopK]];
    * at 100 TB you run it only on samples — the |corpus|·|Q| cosine sweep
    * is the thing the indexed paths exist to avoid.
    * `excludeSelf` drops corpus rows whose id equals the query id (the
    * dedup convention — a query naturally matches itself at cos 1).
    */
  def bruteForceBatchTopK(embeddings: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"))
    val cands = embeddings.crossJoin(broadcast(q))
      .where(if (excludeSelf) col(idCol) =!= col("q_id") else lit(true))
      .select(col("q_id"), col(idCol),
        round(V.cosineFast(col(vecCol), col("q_vec")), 6).as("cos"))
    graft.plans.TopK.topKPerKey(cands, Seq("q_id"),
      Seq(col("cos").desc, col(idCol).asc), k)
  }

  /** Batch k-NN over a PERSISTED IVF layout ([[ivfWrite]]) for a DataFrame
    * of query vectors — the pipeline-scale read API (dedup a batch against
    * an index, retrieval for RAG evals) that the single-vector
    * [[ivfReadTopK]] cannot serve without a driver loop. The flat tier of
    * [[ivfCodecBatchTopK]] (plan shape, auto-chunking, `filter`): the
    * probed cells' raw vectors score by exact cosine, no re-rank follows.
    * `filter` ranges over the layout's payload columns ([[ivfWrite]]
    * `payloadCols`).
    */
  def ivfBatchTopK(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = AutoProbe, excludeSelf: Boolean = true,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBroadcastBytes: Long = 8L << 20, joinThreshold: Int = JoinThreshold,
      cellIsinCap: Int = 2048, filter: Option[Column] = None): DataFrame =
    ivfCodecBatchTopK(spark, path, FlatCodec(vecCol), queries, qIdCol,
      qVecCol, k, nProbe, AutoRerank, excludeSelf, idCol, maxBroadcastBytes,
      joinThreshold, cellIsinCap, filter)

  // ------------------------------------------------------ IVF codec core
  /** What one IVF tier does differently in the shared batch read
    * ([[ivfCodecBatchTopK]]), quantized write ([[ivfCodecWrite]]) and
    * append ([[ivfCodecAppend]]). The sweep scans `table` — flat `corpus`
    * (exact, final) or quantized `codes` (re-ranked from `vectors`). A
    * query carries `dv` (`queryDv` of its vector), `v_norm` and
    * `queryCols`; probe rows take `probeCols` into the sweep (`dv` as
    * `q_dv`), where `score` ranks a pair. `withCodes` adds the `codeCols`
    * landed in `table`; `writeSidecars` lands the tier's model. */
  private sealed abstract class IvfCodec(val table: String,
      val probeCols: Seq[String], val codeCols: Seq[String],
      val ascending: Boolean = false, val reranked: Boolean = true) {
    def queryDv(q: Column): Column = V.unitFast(q)
    def queryCols: Seq[Column] = Nil
    def score: Column
    def probeRowBytes(d: Long): Long
    def withCodes(df: DataFrame): DataFrame = df
    def writeSidecars(spark: SparkSession, path: String): Unit = ()
  }

  private case class FlatCodec(vecCol: String) extends IvfCodec("corpus",
      Seq("q_vec"), Seq(vecCol), reranked = false) {
    override def queryDv(q: Column) = V.asDoubleFast(q)
    override def queryCols = Seq(col("q_vec"))
    def score = round(V.cosineFast(col(vecCol), col("q_vec")), 6)
    def probeRowBytes(d: Long) = d * 4 + 64
  }

  /** Per-vector symmetric int8 codes plus one double scale; the score is
    * the int8 asymmetric distance `scale · ⟨codes, q⟩`. */
  private case object Sq8Codec
      extends IvfCodec("codes", Seq("dv"), Seq("codes", "scale")) {
    def score = col("scale") * V.dotFast(col("codes"), col("q_dv"))
    def probeRowBytes(d: Long) = d * 8 + 48
    // scale materialized as a plain attribute FIRST: quantizeInt8's lambda
    // references it per element, and a non-attribute expression there
    // re-evaluates per element (O(d²) per row)
    override def withCodes(df: DataFrame) = df
      .withColumn("scale", V.int8Scale(col("dv")))
      .withColumn("codes", V.quantizeInt8(col("dv"), col("scale")))
  }

  /** m sub-quantizer codes against the layout's codebook; each query
    * builds its m×ksub ADC table once, map-side (the [[pqBatchTopK]]
    * trade), so a sweep pair costs m lookups. */
  private case class PqCodec(meta: (Int, Int, Int, Int),
      cb: Seq[Seq[Seq[Double]]])
      extends IvfCodec("codes", Seq("dv", "qtable"), Seq("codes")) {
    private val (m, ksub, dsub, _) = meta
    override def queryCols = Seq(transform(sequence(lit(0), lit(m - 1)), j =>
      transform(element_at(typedLit(cb), (j + 1).cast("int")), cv =>
        V.dotFast(slice(col("dv"), j * lit(dsub) + lit(1), lit(dsub)), cv)))
      .as("qtable"))
    def score = V.adcFast(col("codes"), col("qtable"))
    def probeRowBytes(d: Long) = m.toLong * ksub * 8 + d * 8 + 48
    override def withCodes(df: DataFrame) =
      df.withColumn("codes", pqCodesCol(cb, m, dsub))
    override def writeSidecars(spark: SparkSession, path: String) =
      writePqSidecars(spark, path, meta, cb)
  }

  /** ⌈d/64⌉ packed sign-bit words; the score is Hamming distance, fewer
    * differing sign bits ≈ higher cosine on unit vectors. */
  private case object BqCodec extends IvfCodec("codes", Seq("dv", "q_bits"),
      Seq("bits"), ascending = true) {
    override def queryCols = Seq(V.signPack(col("dv")).as("q_bits"))
    def score = V.hammingDist(col("bits"), col("q_bits"))
    def probeRowBytes(d: Long) = d * 8 + d / 8 + 48
    override def withCodes(df: DataFrame) =
      df.withColumn("bits", V.signPack(col("dv")))
  }

  /** The batch k-NN plan of every IVF tier over its persisted layout:
    *   1. the layout's [[ProbeRegime]] resolves ONCE per call; each
    *      query's `nProbe` cells ([[autoNProbe]] by default) are assigned
    *      PURE MAP-SIDE ([[buildProbes]]) and exploded to (q_id, cell);
    *   2. the probed-cell union (≤ nLists values) becomes a static
    *      partition filter ([[cellPruneFilter]]): unprobed cells are never
    *      read;
    *   3. `filter` (FILTERED ANN over the payload columns) restricts the
    *      pruned scan BEFORE any top-k cut, so the k results are the best
    *      k MATCHING vectors; it reaches the parquet scan as a pushed
    *      filter (pinned in PlanAuditSpec);
    *   4. the probe rows broadcast-join the scan on `cell`: cost is
    *      Σ_cell |cell| · |queries probing it|, never |corpus| · |Q|;
    *   5. [[graft.plans.TopKPerKey]] cuts each query on (score, id) to k,
    *      or on quantized tiers to a `rerank` shortlist whose exact
    *      cosines come from the equally pruned `vectors`, then to k.
    * Batches beyond `maxBroadcastBytes` are AUTO-chunked (id-hash split +
    * union of the same plan per chunk).
    */
  private def ivfCodecBatchTopK(spark: SparkSession, path: String,
      codec: IvfCodec, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int, rerank: Int, excludeSelf: Boolean, idCol: String,
      maxBroadcastBytes: Long, joinThreshold: Int, cellIsinCap: Int,
      filter: Option[Column]): DataFrame = {
    val regime = resolveProbeRegime(spark, path, joinThreshold)
    val np = if (nProbe == AutoProbe) autoNProbe(regime.nLists) else nProbe
    // per-query sweep cut: the final k, or the shortlist re-ranked to k
    val cut = if (!codec.reranked) k
      else if (rerank == AutoRerank) autoRerank(np, k) else rerank
    require(cut >= k, s"rerank ($cut) must cover k ($k)")
    // staged: the probe expressions and codec lambdas read dv as an attribute
    val qPrepared = queries
      .select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"),
        codec.queryDv(col(qVecCol)).as("dv"))
      .select(col("q_id") +: col("dv") +: V.normFast(col("dv")).as("v_norm") +:
        codec.queryCols: _*)
    val scored = if (codec.reranked) "approx" else "cos"

    def one(q: DataFrame): DataFrame = {
      val probes = buildProbes(spark, path, q, codec.probeCols, np, regime)
        // read by the prune collect AND the cell join: computed once
        .localCheckpoint(false)
      val prune = cellPruneFilter(spark, probes, regime.hier, cellIsinCap)
      val sweep = FastParquet.read(spark, s"$path/${codec.table}")
        .where(prune).where(filter.getOrElse(lit(true)))
        .join(broadcast(probes.select(col("cell") +: col("q_id") +:
          codec.probeCols.map(c =>
            if (c == "dv") col(c).as("q_dv") else col(c)): _*)), "cell")
        .where(if (excludeSelf) col(idCol) =!= col("q_id") else lit(true))
        .select(col("q_id") +:
          (if (codec.reranked) Seq(col("q_dv")) else Nil) :+ col(idCol) :+
          codec.score.as(scored): _*)
      val top = graft.plans.TopK.topKPerKey(sweep, Seq("q_id"),
        Seq(if (codec.ascending) col(scored).asc else col(scored).desc,
          col(idCol).asc), cut)
      if (!codec.reranked) top
      else graft.plans.TopK.topKPerKey(
        FastParquet.read(spark, s"$path/vectors").where(prune)
          .join(broadcast(top.select(col("q_id"), col("q_dv"), col(idCol))),
            idCol)
          .select(col("q_id"), col(idCol),
            round(V.dotFast(col("dv"), col("q_dv")), 6).as("cos")),
        Seq("q_id"), Seq(col("cos").desc, col(idCol).asc), k)
    }

    // Auto-chunking over the broadcast probe rows (and re-ranked tiers'
    // shortlist rows, which carry q_dv): chunks filter the PREPARED,
    // checkpointed queries by id hash, so each q_id lives wholly in one
    // chunk and the union IS the unchunked result.
    val nQ = queryCount(queries)
    val d = regime.d.toLong
    val estBytes = nQ * (np * codec.probeRowBytes(d) +
      (if (codec.reranked) cut.toLong * (d * 8 + 32) else 0L))
    if (estBytes > maxBroadcastBytes && nQ > 1) {
      val nChunks = math.min(nQ,
        (estBytes + maxBroadcastBytes - 1) / maxBroadcastBytes).toInt
      val qc = qPrepared.localCheckpoint(false)
      (0 until nChunks).map { i =>
        one(qc.where(pmod(xxhash64(col("q_id")), lit(nChunks)) === i))
      }.reduce(_ unionByName _)
    } else one(qPrepared)
  }

  /** The write of every quantized tier over its unit corpus (`idCol`,
    * payload…, `dv`; cosine is scale-invariant, so assigning unit vectors
    * ≡ assigning raw ones): train the cells, assign, checkpoint (both
    * tables read it), then land `codes` (codes + payload: what the sweep
    * and a filtered read scan), `vectors` (payload-free, for the re-rank)
    * and the sidecars, two-level above [[HierThreshold]]. */
  private def ivfCodecWrite(unit: DataFrame, idCol: String, path: String,
      nLists: Int, kMeansIters: Int, payloadCols: Seq[String],
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]],
      codec: IvfCodec): Unit = {
    val payload = payloadCols.map(col)
    val (withNorm, cents) = ivfModel(
      unit.select(col(idCol) +: col("dv").as("uv") +: payload: _*),
      idCol, "uv", nLists, kMeansIters, payloadCols, centroidsIn)
    val hier = cents.size > HierThreshold
    val assigned = withCellAssignment(withNorm, cents)
      .select(col(idCol) +: col("dv") +: payload :+ col("super") :+
        col("cell"): _*)
      .localCheckpoint(false)
    landWrite(codec.withCodes(assigned).select(layoutCols(idCol,
      codec.codeCols.map(col) ++ payload, hier): _*), s"$path/codes", hier)
    landWrite(assigned.select(layoutCols(idCol, Seq(col("dv")), hier): _*),
      s"$path/vectors", hier)
    codec.writeSidecars(unit.sparkSession, path)
    writeCentroidSidecars(unit.sparkSession, path, cents)
  }

  /** The append of every quantized tier: no retrain — assign against the
    * PERSISTED layout ([[assignToLayout]]), encode with its model, land
    * through [[landAppend]]. VECTORS land FIRST: a crash between the two
    * appends then leaves only rerank-invisible orphans (an id absent from
    * codes never shortlists); the reverse order would let a crashed append
    * shortlist ids the rerank join silently drops. */
  private def ivfCodecAppend(batch: DataFrame, idCol: String,
      vecCol: String, path: String, codec: IvfCodec): Unit = {
    val payloadCols = appendPayloadCols(batch, path, idCol, codec)
    val payload = payloadCols.map(col)
    val (assigned0, hier) = assignToLayout(batch.select(col(idCol) +:
      payload :+ V.unitFast(col(vecCol)).as("uv"): _*), idCol, "uv", path,
      payloadCols)
    val assigned = assigned0
      .select(col(idCol) +: V.asDoubleFast(col("uv")).as("dv") +: payload :+
        col("super") :+ col("cell"): _*)
      .localCheckpoint(false) // feeds both appends
    landAppend(assigned.select(layoutCols(idCol, Seq(col("dv")), hier): _*),
      s"$path/vectors", hier)
    landAppend(codec.withCodes(assigned).select(layoutCols(idCol,
      codec.codeCols.map(col) ++ payload, hier): _*), s"$path/codes", hier)
  }

  /** What [[buildProbes]] needs of a layout, plus its list count,
    * dimension and level — resolved ONCE per batch call and shared across
    * auto-chunks (the layout flag is an FS check, and the literal regimes
    * collect centroids). */
  private sealed abstract class ProbeRegime(val nLists: Long, val d: Int,
      val hier: Boolean)
  private case class FlatRegime(cents: Seq[(Long, Seq[Double], Double)])
      extends ProbeRegime(cents.size, cents.head._2.length, false)
  private case class HierLitRegime(h: IvfHierarchy, n: Long)
      extends ProbeRegime(n, h.supers.head._2.length, true)
  private case class JoinRegime(supers: Seq[(Long, Seq[Double], Double)],
      n: Long) extends ProbeRegime(n, supers.head._2.length, true)

  /** A two-level layout COUNTS its `centroids` sidecar, so the join regime
    * never collects the nLists × d vectors it exists to keep off the
    * driver; a flat layout counts the centroids it loads anyway. */
  private def resolveProbeRegime(spark: SparkSession, path: String,
      joinThreshold: Int): ProbeRegime =
    if (!layoutIsHier(spark, path)) FlatRegime(centroidsOf(spark, path))
    else {
      val nLists = centroidCountOf(spark, path)
      if (nLists <= joinThreshold)
        HierLitRegime(hierarchyOf(spark, path), nLists)
      else JoinRegime(superCentroidsOf(spark, path), nLists)
    }

  /** Probe-cell assignment for a batch query frame against a persisted
    * cell layout — the probe step of [[ivfCodecBatchTopK]] and of
    * [[probeLayout]]. `qNormed` must carry plain attributes `q_id`, `dv`,
    * `v_norm` plus `payloadCols`; returns (q_id, payload…, super, cell,
    * rank) probe rows, up to `nProbe` per input row, `rank` 0 for its
    * first probe cell under (sim desc, cell asc). Three regimes:
    *  - flat (no supercentroids sidecar): full-centroid literal argsort —
    *    O(nLists·d) per query, right below [[HierThreshold]];
    *  - hier (≤ joinThreshold lists): two-level literal (top supers, then
    *    their children only) — O(√nLists·d) per query;
    *  - join (> joinThreshold lists): only the √nLists SUPER-centroids are
    *    a literal; children arrive by broadcast-JOINING the centroid
    *    sidecar on `super` (480 k centroids at a 100× corpus cannot be an
    *    expression literal), with the per-row nProbe cut via TopKPerKey
    *    (bounded heaps) keyed on a row id, so rows sharing a `q_id` keep
    *    their own probes as in the literal regimes. Identical output to
    *    the hier literal path: same supers, same children, same
    *    (sim desc, cell asc) cut.
    */
  private def buildProbes(spark: SparkSession, path: String,
      qNormed: DataFrame, payloadCols: Seq[String], nProbe: Int,
      regime: ProbeRegime): DataFrame = {
    val payload = payloadCols.map(col)
    regime match {
    case FlatRegime(cents) =>
      qNormed.select(col("q_id") +: payload :+ lit(0L).as("super") :+
        posexplode(probeCellsCol(cents, nProbe)).as(Seq("rank", "cell")): _*)
    case HierLitRegime(h, _) =>
      qNormed.select(col("q_id") +: payload :+
        posexplode(probeCellsColHier(h, nProbe)).as(Seq("rank", "cell")): _*)
        .withColumn("super", superOfCol(h))
    case JoinRegime(supers, _) =>
      val centTbl = FastParquet.read(spark, s"$path/centroids")
      val sp = superProbeFor(nProbe, supers.size)
      val scoredSupers = transform(typedLit(supers), c =>
        struct((-simTo(col("dv"), col("v_norm"), c)).as("neg"),
          c.getField("_1").as("cid")))
      val qSup = qNormed.withColumn("__row", monotonically_increasing_id())
        .select(col("__row") +: col("q_id") +: payload :+ col("dv") :+
          col("v_norm") :+
          explode(slice(transform(array_sort(scoredSupers),
            s => s.getField("cid")), 1, sp)).as("super"): _*)
      val cand = qSup.join(broadcast(centTbl.select(col("super"),
          col("cell"), col("c_vec"), col("c_norm"))), "super")
        .select(col("__row") +: col("q_id") +: payload :+ col("super") :+
          col("cell") :+ simTo(col("dv"), col("v_norm"),
            struct(col("cell").as("_1"), col("c_vec").as("_2"),
              col("c_norm").as("_3"))).as("c_sim"): _*)
      val order = Seq(col("c_sim").desc, col("cell").asc)
      graft.plans.TopK.topKPerKey(cand, Seq("__row"), order, nProbe)
        .select(col("q_id") +: payload :+ col("super") :+ col("cell") :+
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("__row").orderBy(order: _*)) - 1).as("rank"): _*)
    }
  }

  /** The probe front of every persisted-layout append and incremental
    * dedup: the batch readers' regime and [[buildProbes]], so above
    * `joinThreshold` lists no centroid vector is collected. `rows` carries
    * `q_id`, the vector `vecCol` and `payloadCols`; returns the probe rows
    * and the layout's two-level flag. */
  private[graft] def probeLayout(rows: DataFrame, vecCol: String,
      payloadCols: Seq[String], path: String, nProbe: Int,
      joinThreshold: Int = JoinThreshold): (DataFrame, Boolean) = {
    val regime = resolveProbeRegime(rows.sparkSession, path, joinThreshold)
    val payload = payloadCols.map(col)
    val normed = rows
      .select(col("q_id") +: payload :+ V.asDoubleFast(col(vecCol)).as("dv"): _*)
      .select(col("q_id") +: payload :+ col("dv") :+
        V.normFast(col("dv")).as("v_norm"): _*)
    (buildProbes(rows.sparkSession, path, normed, payloadCols, nProbe,
      regime), regime.hier)
  }

  /** Static partition pruning for a cell-layout scan from a probe frame:
    * the probed-cell union is bounded by nLists, so the collect is the
    * broadcast-build idiom, not a data-path collect. In the two-level
    * layout the SUPER filter (≤√nLists values) always applies; the
    * cell-level IN list only while it stays literal-sized — beyond the cap
    * the super filter plus the broadcast cell-join carry the pruning (an
    * unbounded IN list would itself be the scale bug). */
  private def cellPruneFilter(spark: SparkSession,
      probes: DataFrame, hier: Boolean, cellIsinCap: Int): Column = {
    import spark.implicits._
    val probed = probes.select(col("super"), col("cell")).distinct()
      .as[(Long, Long)].collect().toSeq.sorted
    val probedCells = probed.map(_._2).distinct.sorted
    if (!hier) col("cell").isin(probedCells: _*)
    else {
      val bySuper =
        col("super").isin(probed.map(_._1).distinct.sorted: _*)
      if (probedCells.length <= cellIsinCap)
        bySuper && col("cell").isin(probedCells: _*)
      else bySuper
    }
  }

  /** The rows of layout table `table` in the cells `probes` names (the
    * [[probeLayout]] rows of a `hier` or flat layout), pruned statically
    * through the readers' [[cellPruneFilter]]. */
  private[operators] def probedCells(spark: SparkSession, path: String,
      table: String, probes: DataFrame, hier: Boolean): DataFrame =
    FastParquet.read(spark, s"$path/$table")
      .where(cellPruneFilter(spark, probes, hier, cellIsinCap = 2048))

  /** Whether a persisted cell layout is two-level (supercentroids sidecar
    * present) — resolved through the session's HADOOP filesystem, not
    * java.nio: layouts live wherever the data does (HDFS/S3/local), and a
    * driver-local existence check on a remote URI silently reports false,
    * downgrading every reader to the flat path and corrupting appends. */
  private def layoutIsHier(
      spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/supercentroids")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  // ------------------------------------------- layout model-state cache
  /** Sidecar model state (centroids, supercentroids, PQ meta/codebook) is
    * tiny by design (≤ nLists + √nLists + m·ksub rows) and IMMUTABLE per
    * layout version: appends and compactions never touch the sidecar
    * tables — only a retrain (overwrite write) replaces their files. Yet
    * every batch read resolved the regime and every append collected
    * centroids through a fresh parquet read — a footer fetch plus a Spark
    * job per call, the dominant fixed cost of the quantized read path
    * (BASELINE.md round-11 quantized-append attribution). Cache the collected
    * values JVM-wide, keyed on the sidecar directories and validated by
    * their file listings (name:length:mtime): one metadata listStatus per
    * call instead of a job; a retrain changes the listing and misses
    * naturally. At 100 TB this is the Faiss keep-the-index-open posture —
    * model state loads once per driver, data stays on disk.
    */
  // Access-ordered LRU bounded at 64 layouts: the cache must not grow
  // monotonically in a long-lived driver cycling temp layouts (each entry
  // holds collected centroids — nLists × d doubles under the nLists ∝ n
  // posture). 64 concurrently-hot layouts is far beyond any real driver's
  // working set; eviction only costs a reload on re-touch.
  private val SidecarCacheMax = 64
  private val sidecarCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (String, Any)](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (String, Any)]): Boolean =
          size() > SidecarCacheMax
      })

  /** `kind` tells apart values of different types from the same sidecars. */
  private def cachedSidecar[T](spark: SparkSession, path: String,
      subs: Seq[String], kind: String = "")(load: => T): T = {
    val conf = spark.sessionState.newHadoopConf()
    // Stamp = per-file name:length:mtime PLUS the sidecar directory's own
    // mtime (a retrain's overwrite recreates the directory, so the dir
    // mtime moves even when a file inside keeps its name, size, and
    // second-granularity mtime — ADVICE r11). Residual contract: on a
    // filesystem with 1 s mtime granularity, two retrains inside the SAME
    // second producing identically-named, identically-sized files could
    // still collide — ruled out in practice by Spark's job-UUID part-file
    // naming, which this cache relies on as documented behavior.
    val stamp = subs.map { sub =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = dir.getFileSystem(conf)
      val dirM = fs.getFileStatus(dir).getModificationTime
      dirM + "@" + fs.listStatus(dir).collect {
        case f if f.isFile =>
          s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
      }.sorted.mkString(",")
    }.mkString(";")
    val key = new org.apache.hadoop.fs.Path(path).toString + "#" +
      subs.mkString("+") + kind
    val cur = sidecarCache.get(key)
    if (cur != null && cur._1 == stamp) cur._2.asInstanceOf[T]
    else {
      val v = load
      sidecarCache.put(key, (stamp, v))
      v
    }
  }

  /** (cell, c_vec, c_norm) sorted by cell — the flat-layout model state. */
  private def centroidsOf(spark: SparkSession, path: String):
      Seq[(Long, Seq[Double], Double)] =
    cachedSidecar(spark, path, Seq("centroids")) {
      readCentroids(spark, s"$path/centroids", "cell", "c_vec", "c_norm")
    }

  /** A centroid sidecar's (id, vec, norm) rows, sorted by id. */
  private def readCentroids(spark: SparkSession, dir: String,
      cols: String*): Seq[(Long, Seq[Double], Double)] = {
    import spark.implicits._
    FastParquet.read(spark, dir).select(cols.map(col): _*)
      .as[(Long, Seq[Double], Double)].collect().toSeq.sortBy(_._1)
  }

  /** Row count of the `centroids` sidecar — its vectors are never read. */
  private def centroidCountOf(spark: SparkSession, path: String): Long =
    cachedSidecar(spark, path, Seq("centroids"), ":count") {
      FastParquet.read(spark, s"$path/centroids").count()
    }

  /** (super, s_vec, s_norm) sorted by super — the join-regime top level. */
  private def superCentroidsOf(spark: SparkSession, path: String):
      Seq[(Long, Seq[Double], Double)] =
    cachedSidecar(spark, path, Seq("supercentroids")) {
      readCentroids(spark, s"$path/supercentroids", "super", "s_vec", "s_norm")
    }

  /** The write-time [[IvfHierarchy]] from the two sidecar tables (bounded
    * collects — ≤ nLists + √nLists rows), cached over BOTH tables' stamps:
    * the persisted one, never a rebuild — rebuilt from differently ordered
    * centroids, a near-equidistant centroid's super can flip (driver-side
    * float summation order), and a row probed or landed under a super the
    * sidecar disagrees with is pruned away by every reader. */
  private def hierarchyOf(spark: SparkSession, path: String): IvfHierarchy =
    cachedSidecar(spark, path, Seq("supercentroids", "centroids")) {
      import spark.implicits._
      val supers = superCentroidsOf(spark, path)
      val childRows = FastParquet.read(spark, s"$path/centroids")
        .select(col("super"), col("cell"), col("c_vec"), col("c_norm"))
        .as[(Long, Long, Seq[Double], Double)].collect()
        .groupBy(_._1)
      IvfHierarchy(supers,
        supers.map { case (sid, _, _) =>
          childRows.getOrElse(sid,
            Array.empty[(Long, Long, Seq[Double], Double)])
            .map(r => (r._2, r._3, r._4)).toSeq.sortBy(_._1) })
    }

  /** PQ meta (m, ksub, dsub, d) plus the ASSEMBLED codebook
    * cb(j)(code) = subvector — one cached load instead of the meta +
    * codebook read-and-regroup that every PQ read/append repeated. */
  private def pqModelOf(spark: SparkSession, path: String):
      ((Int, Int, Int, Int), Seq[Seq[Seq[Double]]]) =
    cachedSidecar(spark, path, Seq("meta", "codebook")) {
      import spark.implicits._
      val Seq(meta) = FastParquet.read(spark, s"$path/meta")
        .as[(Int, Int, Int, Int)].collect().toSeq
      val (m, ksub, _, _) = meta
      val cbRows = FastParquet.read(spark, s"$path/codebook")
        .as[(Int, Int, Seq[Double])].collect()
      val cb: Seq[Seq[Seq[Double]]] = (0 until m).map { j =>
        val byCode = cbRows.filter(_._1 == j).map(r => r._2 -> r._3).toMap
        (0 until ksub).map(byCode(_))
      }
      (meta, cb)
    }

  /** Batch k-NN over a PERSISTED PQ layout ([[pqWrite]]); [[pqReadTopK]]
    * is its one-row call. Each query precomputes its m×ksub ADC lookup table
    * ONCE, map-side on the query frame (ksub·d multiplies per QUERY, the
    * classic ADC trade), so the |corpus|·|Q| sweep over the compressed
    * codes table costs m array lookups per pair — not a d-wide dot — and
    * reads (4d/m)× fewer bytes than the raw vectors. Per-query shortlists
    * cut to `rerank` via [[graft.plans.TopKPerKey]] (bounded heaps), and
    * only the |Q|·rerank shortlisted vector rows are fetched (broadcast
    * join) for the exact re-rank.
    */
  def pqBatchTopK(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      rerank: Int = 64, excludeSelf: Boolean = true,
      idCol: String = "vec_id",
      maxBroadcastBytes: Long = 8L << 20): DataFrame = {
    import spark.implicits._
    require(rerank >= k, s"rerank ($rerank) must cover k ($k)")
    val ((m, ksub, dsub, d), cb) = pqModelOf(spark, path)
    val cbLit = typedLit(cb)
    // unit-normalize each query (the PQ layout quantizes direction), then
    // materialize its ADC table as a column: qtable[j][c] = ⟨q_j, cb_j[c]⟩
    val qUnit = queries
      .select(col(qIdCol).as("q_id"),
        V.unitFast(col(qVecCol)).as("q_dv"))
    val qTabled = qUnit.select(col("q_id"), col("q_dv"),
      transform(sequence(lit(0), lit(m - 1)), j =>
        transform(element_at(cbLit, (j + 1).cast("int")), cv =>
          V.dotFast(
            slice(col("q_dv"), j * lit(dsub) + lit(1), lit(dsub)),
            cv))).as("qtable"))
    // ADC sweep: compressed codes only; m lookups per (code-row, query),
    // through the primitive-pass AdcScore expression (the hot loop)
    val approx = V.adcFast(col("codes"), col("qtable"))
    def one(qT: DataFrame): DataFrame = {
      val shortlist = graft.plans.TopK.topKPerKey(
        FastParquet.read(spark, s"$path/codes")
          .crossJoin(broadcast(qT))
          .where(if (excludeSelf) col(idCol) =!= col("q_id") else lit(true))
          .select(col("q_id"), col("q_dv"), col(idCol), approx.as("approx")),
        Seq("q_id"), Seq(col("approx").desc, col(idCol).asc),
        math.max(rerank, k))
      // exact re-rank reads just the |Q|·rerank shortlisted vector rows
      val exact = FastParquet.read(spark, s"$path/vectors")
        .join(broadcast(shortlist.select(col("q_id"), col("q_dv"),
          col(idCol))), idCol)
        .select(col("q_id"), col(idCol),
          round(V.dotFast(col("dv"), col("q_dv")), 6).as("cos"))
      graft.plans.TopK.topKPerKey(exact, Seq("q_id"),
        Seq(col("cos").desc, col(idCol).asc), k)
    }
    // auto-chunking: the TWO broadcasts per chunk dominate the estimate —
    // the qtable frame (m·ksub + d doubles per query) and the rerank
    // shortlist, whose rows each carry q_dv (rerank·d doubles per query;
    // the round-8 review caught the shortlist term missing). Chunks filter
    // the CHECKPOINTED qtable frame — the query source and the per-query
    // ADC tables are computed once, not once per chunk.
    val nQ = queryCount(queries)
    val estBytes = nQ * (m.toLong * ksub * 8 + d.toLong * 8 + 48 +
      math.max(rerank, k).toLong * (d.toLong * 8 + 32))
    if (estBytes > maxBroadcastBytes && nQ > 1) {
      val nChunks = math.min(nQ,
        (estBytes + maxBroadcastBytes - 1) / maxBroadcastBytes).toInt
      val qc = qTabled.localCheckpoint(false)
      (0 until nChunks).map { i =>
        one(qc.where(pmod(xxhash64(col("q_id")), lit(nChunks)) === i))
      }.reduce(_ unionByName _)
    } else one(qTabled)
  }

  /** One-row quality gate for a BATCH ANN result against the exact batch
    * top-k ([[bruteForceBatchTopK]]): query count, total exact pairs and
    * the exact cos-sum are engine-independent (a SQL oracle recomputes all
    * three bit-for-bit on the 6-dp-rounded values); the index-dependent
    * macro-averaged recall (mean over queries of |ANN ∩ exact| / |exact|)
    * rides as a floor boolean. Both inputs carry (`q_id`, `idCol`, cos).
    */
  def annBatchQualityMetrics(exact: DataFrame, ann: DataFrame, idCol: String,
      recallFloor: Double): DataFrame =
    exact.select(col("q_id"), col(idCol).as("eid"), col("cos").as("ecos"))
      .join(ann.select(col("q_id"), col(idCol).as("eid"))
        .withColumn("m", lit(1)), Seq("q_id", "eid"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact_q"),
        // 6-dp cos values scale to exact integers: the cross-engine sum is
        // integer arithmetic, immune to float summation order (hundreds of
        // addends here vs the single-query gate's 10)
        sum(round(col("ecos") * 1e6).cast("long")).as("sum_cos_e6_q"),
        count(col("m")).as("n_hit_q"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_exact_q")).as("n_exact"),
        sum(col("sum_cos_e6_q")).as("exact_sum_cos_e6"),
        (avg(col("n_hit_q") / col("n_exact_q")) >= recallFloor)
          .as("recall_ok"))

  /** One-row k-means clustering gate (the house metric-oracle split): the
    * row count is engine-independent; the seed/iteration-dependent facts
    * ride as booleans — every row lands in one of ≤ k clusters, and the
    * mean cosine to the OWN (max-sim) centroid dominates the mean cosine
    * to the GLOBAL mean vector, i.e. the clustering carries structure
    * beyond the trivial 1-cluster solution. Reuses [[ivfModel]] — the same
    * deterministic seeds + Lloyd refinement the IVF/SemDeDup family runs —
    * so the gate also exercises that shared path at higher iteration
    * count. All corpus passes are map-side; the per-iteration shuffle is
    * O(k × dims) via VecMean.
    */
  def kMeansMetrics(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (withNorm, cents) = ivfModel(embeddings, idCol, vecCol, k, iters)
    val g = withNorm.select(lit(0L), col("dv")).as[(Long, Array[Double])]
      .groupByKey(_._1)
      .agg(new graft.functions.VecMean().toColumn.name("m"))
      .collect()(0)._2
    val globalCent = (0L, g.toSeq, math.sqrt(g.map(x => x * x).sum))
    withNorm
      .select(bestCell(cents).as("bc"),
        simTo(col("dv"), col("v_norm"), typedLit(globalCent)).as("g_sim"))
      .select(col("bc").getField("cid").as("cell"),
        col("bc").getField("sim").as("own_sim"), col("g_sim"))
      .agg(count(lit(1)).as("n_total"),
        (count_distinct(col("cell")) <= k).as("clusters_ok"),
        (avg(col("own_sim")) >= avg(col("g_sim"))).as("cohesion_ok"))
  }

  /** Distance-to-centroid scoring: the element-wise mean vector of each
    * label group, every member scored by cosine similarity to its OWN
    * group's centroid — the embedding-space outlier signal a curation
    * pipeline thresholds (low similarity = far from its cluster). Emits the
    * score; outlier selection is a `where` on top.
    *
    * Scale: the centroid aggregation partial-aggregates map-side (VecMean —
    * shuffle is O(labels × dims) doubles, the corpus never moves), the
    * centroid table broadcasts back, and scoring is a map-side pass.
    * The cosine is rounded to 4 dp: centroid components are cross-row
    * float sums whose grouping order differs across engines/runs (~1e-13
    * relative), so 6-dp equality would be flaky where 4-dp is stable.
    */
  def centroidDistances(embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dv = embeddings.select(col(idCol), col(labelCol),
      V.asDoubleFast(col(vecCol)).as("dv"))
    val cents = dv
      .select(col(labelCol).cast("long"), col("dv"))
      .as[(Long, Array[Double])]
      .groupByKey(_._1).agg(new graft.functions.VecMean().toColumn.name("centroid"))
      .toDF("_l", "centroid")
    dv.withColumn("_l", col(labelCol).cast("long"))
      .join(broadcast(cents), "_l")
      .select(col(idCol), col(labelCol),
        round(V.cosine(col("dv"), col("centroid")), 4).as("cos_centroid"))
  }

  /** One-row quality gate for an ANN result against the exact brute-force
    * top-k: the exact side's count and cos-sum are engine-independent (a SQL
    * oracle recomputes both bit-for-bit on the 6-dp-rounded values), and the
    * hash/partition-dependent ANN overlap is pinned as a recall-floor
    * boolean. `ann` must expose the same id column as `exact`.
    */
  def annQualityMetrics(exact: DataFrame, ann: DataFrame, idCol: String,
      recallFloor: Double): DataFrame =
    exact.select(col(idCol).as("eid"), col("cos").as("ecos"))
      .join(ann.select(col(idCol).as("eid")).withColumn("m", lit(1)),
        Seq("eid"), "left")
      .agg(count(lit(1)).as("n_exact"),
        round(sum(col("ecos")), 6).as("exact_topk_sum_cos"),
        count(col("m")).as("n_hit"))
      // recall denominator is the ACTUAL exact-top-k size, not k: with
      // fewer than k candidates a perfect ANN would otherwise fail the floor
      .select(col("n_exact"), col("exact_topk_sum_cos"),
        (col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"))

  /** Batch k-NN: top-k neighbors for EVERY query row, LSH-blocked. The
    * many-queries generalization (self-join on bucket + per-query window
    * top-k); the shape a 100 TB dedup/similarity sweep actually runs.
    */
  def allPairsTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nBits: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = embeddings.select(col(idCol), col(vecCol),
      V.lshBucketFast(col(vecCol), nBits).as("bucket"))
    val l = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b").asc)
    l.join(r, "bucket").where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(V.cosineFast(col("v_a"), col("v_b")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** Shared PQ model build: the unit-normalized corpus (`idCol`, `dv`) and
    * the trained sub-codebooks cb(j)(code) — see [[pqTopK]] for the design
    * narrative. Deterministic end to end (hash-ordered seeds, strict-<
    * argmins, empty codes keep their previous centroid).
    */
  private def pqModel(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, kMeansIters: Int,
      payloadCols: Seq[String] = Nil,
      codebookIn: Option[Seq[Seq[Seq[Double]]]] = None):
      (DataFrame, Seq[Seq[Seq[Double]]], Int, Int) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(m > 0 && ksub > 1, s"need m>0, ksub>1; got m=$m ksub=$ksub")
    // Unit-normalize so the sub-codebooks quantize direction, not magnitude,
    // and the final re-rank is a plain dot. Zero vectors pass through as-is
    // (their dot with anything is 0 — ranked last, deterministically).
    val unitPlan = unitCorpus(embeddings, idCol, vecCol, payloadCols)
    // Scanned ≥3 times (seeds, per-iteration training, encoding, query row):
    // cut lineage once so the source is read and normalized once.
    val unit = unitPlan.localCheckpoint(false)
    // Already-trained sub-codebooks for this (corpus, m, ksub, iters)
    // recipe (shared-trainer memo): skip seeding + Lloyd; d/dsub derive
    // from the codebook itself (slice widths sum to d).
    codebookIn match {
      case Some(cb0) =>
        require(cb0.size == m && cb0.forall(_.size == ksub),
          s"codebookIn shape ${cb0.size}x${cb0.headOption.map(_.size)} " +
            s"does not match m=$m ksub=$ksub")
        val d0 = cb0.map(_.head.length).sum
        // r17 (ADVICE): a codebook trained on a different-dimension corpus
        // must fail loudly — Spark's slice clamps, so a mismatched shared
        // model would silently mis-slice into wrong codes
        val dCorpus = unit.select(size(col("dv"))).limit(1)
          .collect().headOption.map(_.getInt(0))
        dCorpus.foreach(dc => require(dc == d0,
          s"codebookIn dimension $d0 does not match corpus dimension $dc"))
        return (unit, cb0, (d0 + m - 1) / m, d0)
      case None => ()
    }
    // Deterministic seed codebooks: ksub hash-ordered corpus rows, sliced
    // per subspace (same bounded-collect shape as an IVF/broadcast build).
    val seeds = unit
      .orderBy(pmod(xxhash64(col(idCol)), lit(7919)), col(idCol))
      .limit(ksub).select(col("dv")).collect().map(_.getSeq[Double](0))
    require(seeds.nonEmpty, "pqModel: empty corpus")
    val d = seeds.head.length
    val dsub = (d + m - 1) / m // last subspace may be narrower; slices align
    var cb: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => seeds.toSeq.map(pqSliceOf(_, j, dsub, d)))
    if (kMeansIters > 0) {
      // All m subspaces train in ONE job per iteration: posexplode the
      // slices, assign, VecMean by (subspace, code). Empty codes keep their
      // previous centroid (standard Lloyd practice; keeps ksub stable).
      val slicesCol = transform(sequence(lit(0), lit(m - 1)), j =>
        slice(col("dv"), j * lit(dsub) + lit(1), lit(dsub)))
      val subRows = unit.select(posexplode(slicesCol).as(Seq("j", "sv")))
      for (_ <- 1 to kMeansIters) {
        val means = subRows
          .select((col("j").cast("long") * 1000 +
            pqCodeCol(cb, col("j"), col("sv")).cast("long")).as("key"),
            col("sv"))
          .as[(Long, Array[Double])]
          .groupByKey(_._1)
          .agg(new graft.functions.VecMean().toColumn.name("mean"))
          .collect()
        val updated = means.filter(_._2.nonEmpty).map { case (key, mean) =>
          ((key / 1000).toInt, (key % 1000).toInt) -> mean.toVector
        }.toMap
        cb = cb.zipWithIndex.map { case (codes, j) =>
          codes.zipWithIndex.map { case (v, c) => updated.getOrElse((j, c), v) }
        }
      }
    }
    (unit, cb, dsub, d)
  }

  private def pqSliceOf(v: Seq[Double], j: Int, dsub: Int, d: Int): Seq[Double] =
    v.slice(j * dsub, math.min((j + 1) * dsub, d)).toVector

  /** Nearest sub-centroid (L2 argmin, strict <, first-in-codebook ties —
    * deterministic), via the [[graft.functions.PqNearestCode]] primitive-
    * pass expression — this is the encode/train inner loop, paid ksub·dsub
    * per (row, subspace) on every corpus row; the composable argmin fold
    * it replaces bit-for-bit evaluated the same arithmetic through
    * interpreted higher-order functions (BASELINE.md round 9 measured the
    * sibling ADC loop 2.9× faster as a primitive pass). */
  private def pqCodeCol(codes: Seq[Seq[Seq[Double]]], j: Column,
      sv: Column): Column =
    V.pqCodeFast(sv, j.cast("int"), typedLit(codes))

  /** Encode every row of a (id, dv) frame to its m PQ codes — map-side; the
    * per-row cost is m·ksub·dsub ≈ ksub·d multiplies, same order as one IVF
    * assignment. */
  private def pqCodesCol(cb: Seq[Seq[Seq[Double]]], m: Int,
      dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      pqCodeCol(cb, j, slice(col("dv"), j * lit(dsub) + lit(1), lit(dsub))))

  /** ADC lookup table for a unit query vector: table(j)(code) = ⟨q_j, c⟩ —
    * m×ksub doubles, driver-built like any broadcast build side. */
  private def pqAdcTable(cb: Seq[Seq[Seq[Double]]], q: Seq[Double],
      dsub: Int, d: Int): Seq[Seq[Double]] =
    cb.zipWithIndex.map { case (codes, j) =>
      val qj = pqSliceOf(q, j, dsub, d)
      codes.map(cv => cv.zip(qj).map { case (a, b) => a * b }.sum)
    }

  /** ADC score + exact re-rank over a frame carrying (`idCol`, dv, codes). */
  private def pqScore(corpus: DataFrame, idCol: String,
      table: Seq[Seq[Double]], q: Seq[Double], k: Int,
      rerank: Int): DataFrame = {
    val approx = V.adcFast(col("codes"), typedLit(table))
    corpus
      .select(col(idCol), col("dv"), approx.as("approx"))
      .orderBy(col("approx").desc, col(idCol).asc)
      .limit(math.max(rerank, k))
      .select(col(idCol),
        round(V.dotFast(col("dv"), typedLit(q)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid — "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): vectors are unit-normalized
    * (cosine ≡ dot), split into `m` subspaces, and each subspace is vector-
    * quantized against its own `ksub`-entry codebook, so a d-float embedding
    * compresses to `m` small ints. A query is answered by ADC (asymmetric
    * distance computation): build the m×ksub table of ⟨query-slice,
    * sub-centroid⟩ dots ONCE on the driver (the broadcast-build idiom — the
    * table is tiny), score every code word by `m` table lookups, keep the
    * top `rerank` candidates, and re-rank only those with the exact dot.
    *
    * Scale shape: codebook training shuffles O(m·ksub·d/m) = O(ksub·d)
    * doubles per Lloyd iteration (VecMean partial agg — the corpus never
    * moves); encoding and ADC scoring are pure map-side codegen'd
    * higher-order functions; candidate selection is TakeOrderedAndProject
    * (top-rerank, not a global sort). At 100 TB the win is the scan: a
    * persisted code table is ~(4·d)/m the size of the raw vectors (32× at
    * d=64, m=8), so the full-corpus ADC sweep reads 1/32 the bytes and the
    * exact vectors are fetched for `rerank` rows only.
    */
  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 8, ksub: Int = 16,
      kMeansIters: Int = 1, rerank: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must cover k ($k)")
    val (unit, cb, dsub, d) =
      pqModel(embeddings, idCol, vecCol, m, ksub, kMeansIters)
    val corpus = unit.where(col(idCol) =!= queryId)
      .select(col(idCol), col("dv"), pqCodesCol(cb, m, dsub).as("codes"))
    val q = unit.where(col(idCol) === queryId)
      .select(col("dv")).collect()(0).getSeq[Double](0)
    pqScore(corpus, idCol, pqAdcTable(cb, q, dsub, d), q, k, rerank)
  }

  /** Materialize the PQ layout the at-scale story needs: a CODES table
    * (id + m small ints — (4·d/m)× smaller than the raw floats), the
    * unit-normalized vector table, and a codebook sidecar. Train once,
    * write once; every subsequent query ([[pqReadTopK]]) runs its ADC sweep
    * over the compressed codes table — the 100 TB full-corpus scan reads a
    * fraction of the bytes — and touches the vector table only for the
    * `rerank` shortlisted rows (broadcast semi-join on id).
    */
  def pqWrite(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 16, ksub: Int = 32,
      kMeansIters: Int = 2,
      codebookIn: Option[Seq[Seq[Seq[Double]]]] = None): Unit = {
    val spark = embeddings.sparkSession
    val (unit, cb, dsub, d) =
      pqModel(embeddings, idCol, vecCol, m, ksub, kMeansIters, Nil,
        codebookIn)
    unit.select(col(idCol), pqCodesCol(cb, m, dsub).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    unit.select(col(idCol), col("dv"))
      .write.mode("overwrite").parquet(s"$path/vectors")
    writePqSidecars(spark, path, (m, ksub, dsub, d), cb)
  }

  /** The PQ model sidecars: the one-row (m, ksub, dsub, d) meta and the
    * codebook as (j, code, c_vec) rows — what [[pqModelOf]] reads back. */
  private def writePqSidecars(spark: SparkSession, path: String,
      meta: (Int, Int, Int, Int), cb: Seq[Seq[Seq[Double]]]): Unit = {
    import spark.implicits._
    landSidecar(cb.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (v, c) => (j, c, v) }
    }.toDF("j", "code", "c_vec"), s"$path/codebook")
    landSidecar(Seq(meta).toDF("m", "ksub", "dsub", "d"), s"$path/meta")
  }

  /** Query a persisted PQ layout with ONE vector: a one-row
    * [[pqBatchTopK]] — the same ADC sweep over the codes table and exact
    * re-rank of the shortlisted vector rows — with `excludeId` as the
    * query's `q_id`. `(idCol, cos)` rows, ordered by (cos desc, id asc).
    */
  def pqReadTopK(spark: SparkSession, path: String,
      queryVec: Array[Float], excludeId: Option[Long], k: Int,
      rerank: Int = 64, idCol: String = "vec_id"): DataFrame =
    oneRowRead(spark, queryVec, excludeId, idCol)((q, excl) =>
      pqBatchTopK(spark, path, q, "q_id", "q_vec", k, rerank, excl, idCol))

  /** IVFADC layout (Jégou, Douze, Schmid — TPAMI 2011 §V): IVF cell
    * pruning composed IN FRONT of the PQ code sweep — the layout every
    * production ANN system runs at scale. [[pqBatchTopK]] ADC-sweeps the
    * ENTIRE codes table per query batch (the measured #2-heaviest bench
    * family); here the codes land partitioned by IVF cell, so a batch
    * reads only its probed cells' codes — nProbe/nLists of the table —
    * and the exact re-rank fetches shortlist rows from an equally pruned
    * vectors table ([[ivfCodecWrite]]).
    */
  def ivfPqWrite(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, m: Int = 16, ksub: Int = 32,
      kMeansIters: Int = 2, payloadCols: Seq[String] = Nil,
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]] = None,
      codebookIn: Option[Seq[Seq[Seq[Double]]]] = None): Unit = {
    requirePayloadDisjoint(payloadCols, idCol, vecCol)
    // one checkpointed unit-normalized pass feeds the codebook training
    // and the cell assignment
    val (unit, cb, dsub, d) = pqModel(embeddings, idCol, vecCol, m, ksub,
      kMeansIters, payloadCols, codebookIn)
    ivfCodecWrite(unit, idCol, path, nLists, kMeansIters, payloadCols,
      centroidsIn, PqCodec((m, ksub, dsub, d), cb))
  }

  /** Cell-assign a batch against a persisted layout — the front of every
    * append ([[ivfAppend]], [[ivfCodecAppend]]) and of the exactly-once
    * streaming ingest ([[graft.streaming.IndexIngest]]): the `nProbe = 1`
    * [[probeLayout]], so in every regime the assigned cell is the read
    * side's first probe cell (a landed row is found by a probe of its own
    * vector) and `super` (0 on flat layouts) is the persisted sidecar's.
    * Returns the batch rows with `super`/`cell` plus the hier flag. */
  private[graft] def assignToLayout(batch: DataFrame, idCol: String,
      vecCol: String, path: String, payloadCols: Seq[String] = Nil,
      joinThreshold: Int = JoinThreshold): (DataFrame, Boolean) = {
    val cols = col(vecCol) +: payloadCols.map(col)
    val (probes, hier) = probeLayout(
      batch.select(col(idCol).as("q_id") +: cols: _*), vecCol,
      vecCol +: payloadCols, path, 1, joinThreshold)
    (probes.select(col("q_id").as(idCol) +: cols :+ col("super") :+
      col("cell"): _*), hier)
  }

  /** Internal column names the quantized layouts own. A payload column
    * shadowing one of these (e.g. a user attribute literally named
    * `scale` on an SQ8 layout) would collide with the layout's own
    * columns at write/append time and corrupt the codes table or fail
    * late with an ambiguous-column error — reject it up front. */
  private[operators] val ReservedLayoutCols: Set[String] =
    Set("dv", "v_norm", "uv", "scale", "codes", "super", "cell",
      "q_vec", "q_id", "cid")

  /** Enforced at the WRITE entry points only: a new layout must not name
    * payload columns after layout internals. Appends deliberately skip
    * the check — their payload set is DERIVED from an already-landed
    * layout, and re-validating it against the (uniform, cross-tier)
    * reserved set would permanently brick ingest into a pre-existing
    * layout whose payload legally uses a name another tier reserves
    * (e.g. `scale` on a flat raw-IVF layout, where nothing internal
    * claims it). */
  private[operators] def requirePayloadDisjoint(
      payloadCols: Seq[String], idCol: String, vecCol: String): Unit = {
    val clash = payloadCols.filter(c =>
      ReservedLayoutCols.contains(c) || c == idCol || c == vecCol)
    require(clash.isEmpty,
      s"payload column(s) ${clash.mkString(", ")} collide with the " +
        s"layout's reserved internal names " +
        s"(${ReservedLayoutCols.toSeq.sorted.mkString(", ")}) or the " +
        s"id/vector columns — rename them before landing the layout")
  }

  /** Payload columns of a layout's sweep table (`corpus` or `codes`): the
    * data columns beyond id, codes and partitions — what filtered reads
    * scan, so what appends must preserve. One footer-only schema read. */
  private def payloadColsOf(spark: SparkSession, path: String, idCol: String,
      codec: IvfCodec): Seq[String] =
    FastParquet.read(spark, s"$path/${codec.table}").schema.fieldNames.toSeq
      .filterNot((codec.codeCols ++ Seq(idCol, "super", "cell")).contains)

  private[graft] def layoutPayloadCols(spark: SparkSession, path: String,
      idCol: String, vecCol: String): Seq[String] =
    payloadColsOf(spark, path, idCol, FlatCodec(vecCol))

  /** The payload columns an append batch must carry: without them its rows
    * read back NULL metadata that every filtered read silently skips. */
  private def appendPayloadCols(batch: DataFrame, path: String,
      idCol: String, codec: IvfCodec): Seq[String] = {
    val payload = payloadColsOf(batch.sparkSession, path, idCol, codec)
    val missing = payload.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"append batch is missing the layout's payload column(s) " +
        s"${missing.mkString(", ")} — filtered reads would silently " +
        s"skip the appended rows")
    payload
  }

  /** Micro-batch threshold for [[ivfAppend]]'s driver-side write regime —
    * same rationale as the exactly-once ingest's
    * ([[graft.sinks.SnapshotLake.stageDriverSide]]): the distributed
    * dynamic-partition write measured 0.512 s against 0.344 s driver-side
    * for a 100-row append into 16 cells (method in `GraftParquetDirect`);
    * at or under this many rows the append
    * collects (LIMIT-guarded, memory bounded) and writes one file per
    * touched cell directly. Larger batches take the distributed path
    * unchanged. One shared regime constant across modules. */
  val AppendDriverStageMaxRows: Int =
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetDirect
      .DriverStageMaxRows

  /** Append a batch to a persisted IVF layout ([[ivfWrite]]) WITHOUT
    * retraining — the nightly-ingest maintenance story for a 100 TB index.
    * Each batch row is assigned to the EXISTING cell a read of its own
    * vector probes first ([[assignToLayout]]: the readers' probe regime,
    * so a two-level layout above [[JoinThreshold]] lists assigns by the
    * centroid-sidecar join) and appended as new files inside that cell's
    * partition directory, so every reader
    * ([[ivfReadTopK]], [[ivfBatchTopK]], the incremental dedup paths) sees
    * the union transparently and partition pruning is unchanged. Cost:
    * O(|batch|·assign) + a |batch|-sized partitioned append — the corpus
    * never rewrites. Centroids drift as the distribution shifts; re-train
    * ([[ivfWrite]]) when recall degrades — the standard IVF maintenance
    * trade (what Faiss `IndexIVF.add` does).
    */
  def ivfAppend(batch: DataFrame, idCol: String, vecCol: String,
      path: String,
      driverStageMaxRows: Int = AppendDriverStageMaxRows): Unit = {
    val payload = appendPayloadCols(batch, path, idCol, FlatCodec(vecCol))
    val (assigned, hier) = assignToLayout(batch, idCol, vecCol, path,
      payload)
    landAppend(assigned.select(
      layoutCols(idCol, col(vecCol) +: payload.map(col), hier): _*),
      s"$path/corpus", hier, driverStageMaxRows)
  }

  /** Land an append frame (partition columns super?/cell LAST) into a
    * live Hive cell layout at `root`: driver-direct under the micro-batch
    * threshold ([[appendRowsDriverSide]]), the distributed
    * dynamic-partition write above it. Shared by the flat corpus append
    * and every quantized tier's vectors/codes landings, so the
    * two-regime policy lands in one place. */
  private def landAppend(df: DataFrame, root: String, hier: Boolean,
      driverStageMaxRows: Int = AppendDriverStageMaxRows): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDirect
    GraftParquetDirect.collectInternalLimited(df,
      math.max(driverStageMaxRows, 0)) match {
      case Some(rows) if rows.isEmpty => ()
      case Some(rows) =>
        appendRowsDriverSide(df.sparkSession, root, df.schema, rows,
          (if (hier) Seq("super") else Nil) :+ "cell")
      case None =>
        val out = df.repartition(col("cell")).write.mode("append")
        if (hier) out.partitionBy("super", "cell").parquet(root)
        else out.partitionBy("cell").parquet(root)
    }
  }

  /** Driver-side micro-append into the LIVE cell layout: one parquet file
    * per touched cell, written to a dot-prefixed temp name and published
    * by ATOMIC RENAME — unlike lake staging (reader-invisible until a
    * manifest CAS), these directories are read concurrently, so a torn
    * direct write would crash probed reads; the rename guarantees a
    * reader sees each file fully formed or not at all (the same contract
    * Spark's committer gives the distributed path; on an object store
    * without atomic rename this degrades exactly as any rename-based
    * committer does). The protocol's own mutations — mkdirs, the publish
    * rename, the orphan sweep — go through the Hadoop `FileSystem` for
    * `root` (via the [[graft.FsSeam]] the other layout protocols use),
    * so the path works on any Hadoop FS — hdfs://, not just local — and
    * the crash matrix can kill at each boundary; the tmp file's parquet
    * BODY write resolves its own FileSystem inside Spark's write support
    * (seam-invisible), which the matrix models as "crash before publish":
    * a torn dot-tmp is reader-invisible and the sweep reclaims it. Crash
    * semantics are the at-least-once append's own: a replay may
    * duplicate rows, never tear a file.
    */
  private def appendRowsDriverSide(
      spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDirect
    val rootPath = new org.apache.hadoop.fs.Path(root)
    // resolved ONCE on the caller thread (FsSeam scope is keyed by path;
    // Hadoop FileSystem instances are cached and safe to share across the
    // write pool's threads)
    val fs = graft.FsSeam.fs(rootPath, spark.sessionState.newHadoopConf())
    GraftParquetDirect.writeGrouped(spark, schema, rows, partCols) {
      (rel, write) =>
        val dir = new org.apache.hadoop.fs.Path(rootPath, rel)
        fs.mkdirs(dir)
        val uid = java.util.UUID.randomUUID.toString
        val tmp = new org.apache.hadoop.fs.Path(dir, s".append-tmp-$uid")
        write(tmp)
        val target =
          new org.apache.hadoop.fs.Path(dir, s"part-$uid.parquet")
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(
            s"append publish rename failed: $tmp -> $target")
        // best-effort sweep of crash orphans: tmp names are UUIDs so no
        // replay can target its predecessor's leftover by name (unlike
        // the ingest's deterministic v/k tmps) — age-gate instead; a
        // live write lasts milliseconds, so anything this stale is a
        // dead crash remnant, not a concurrent appender. Listing goes
        // through the RAW filesystem where `fs` is checksummed:
        // ChecksumFileSystem.listStatus HIDES ".<name>.crc" sidecars, so
        // an orphaned crc whose data tmp died mid-crash would otherwise
        // accumulate invisibly; the `contains` match catches both the
        // data tmp and its crc sidecar in one pass.
        val staleMs = System.currentTimeMillis() - 10 * 60 * 1000L
        val sweepFs = fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem =>
            c.getRawFileSystem
          case other => other
        }
        sweepFs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (n.contains(".append-tmp-") &&
              st.getModificationTime < staleMs) {
            try sweepFs.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
    }
    ()
  }

  /** Recursive cell-dir walker over a Hive layout (cell= leaves, super=
    * intermediates) — shared by compaction, recovery, and the streaming
    * sync publish so a layout-naming change lands in ONE place. */
  private[graft] def layoutCellDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        if (p.getName.startsWith("cell=")) Seq(p)
        else if (p.getName.startsWith("super=")) layoutCellDirs(fs, p)
        else Nil
      }

  /** CRASH RECOVERY for an interrupted [[ivfCompact]] (round-9 review;
    * protocol hardened round 11): a compact that died mid-swap left a
    * cell's only OLD copies in trash. The naive skip-if-live-exists
    * restore is WRONG once compaction runs inside the ingest loop
    * (auto-compaction): an append or lake sync between the crash and the
    * recovery can RECREATE the live cell dir with only new rows, and
    * skipping the restore would silently drop every pre-crash vector when
    * trash is deleted. The swap therefore publishes each cell's compacted
    * file under the run-scoped name `compact-<runId>.parquet` and records
    * the runId in `.compact-trash/_RUNID`, making the crash point
    * decidable per cell:
    *  - live contains compact-<runId>.parquet → the publish completed,
    *    trash is a redundant copy of the same rows → drop it;
    *  - otherwise → trash holds the ONLY old copies → move its files
    *    INTO the live dir (file names are job-UUID-unique, so files a
    *    concurrent-epoch append already landed there are preserved).
    *
    * Exposed separately from [[ivfCompact]] because the streaming ingest
    * must recover BEFORE its dedup gate reads the index: the trashed
    * cell is reader-invisible, so a replayed batch gated against the
    * un-recovered layout would re-index rows it can no longer see (and
    * land them twice once recovery restores the originals). One
    * fs.exists when there is nothing to recover.
    */
  def ivfCompactRecover(spark: SparkSession,
      path: String, sub: String = "corpus"): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.FsSeam.fs(root, conf)
    val staging = new org.apache.hadoop.fs.Path(root, ".compact-staging")
    val trash = new org.apache.hadoop.fs.Path(root, ".compact-trash")
    if (fs.exists(trash)) {
      val runIdFile = new org.apache.hadoop.fs.Path(trash, "_RUNID")
      // LEGACY trash (pre-runId protocol, no per-cell publish witness) is
      // REFUSED here, not auto-decided (VERDICT r12 item 6): the legacy
      // decision procedure was the repo's subtlest correctness argument
      // and two consecutive rounds each found a real hazard in it by
      // hand. It now lives in [[migrateLegacyTrash]], an explicit
      // operator-invoked one-time migration — automatic recovery (which
      // runs unattended before every compact and inside the streaming
      // ingest pre-gate) only ever handles the decidable runId protocol.
      if (!fs.exists(runIdFile))
        throw new IllegalStateException(
          s"$trash holds LEGACY compact trash (no _RUNID witness) from a " +
            "pre-r11 crash. Automatic recovery refuses to guess: run " +
            "graft.operators.Similarity.migrateLegacyTrash(spark, path, " +
            "sub) once to adjudicate and clear it, then retry.")
      val runId: String = {
        val in = fs.open(runIdFile)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](256)
          var n = in.read(b)
          while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toString("UTF-8").trim
        } finally in.close()
      }
      layoutCellDirs(fs, trash).foreach { t =>
        val rel =
          if (t.getParent.getName.startsWith("super="))
            s"${t.getParent.getName}/${t.getName}"
          else t.getName
        val live = new org.apache.hadoop.fs.Path(root, rel)
        val published = fs.exists(
          new org.apache.hadoop.fs.Path(live, s"compact-$runId.parquet"))
        if (!published) {
          fs.mkdirs(live)
          fs.listStatus(t).filter(_.isFile).foreach { f =>
            val dst = new org.apache.hadoop.fs.Path(live, f.getPath.getName)
            if (!fs.exists(dst)) {
              // rename — the crash point stays decidable via the publish
              // witness, and file names are job-UUID-unique so nothing a
              // concurrent-epoch append landed is overwritten
              if (!fs.rename(f.getPath, dst))
                throw new java.io.IOException(s"compact recovery: cannot " +
                  s"restore ${f.getPath} to $dst")
            }
          }
        }
      }
      fs.delete(trash, true)
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    // a crash between mkdirs(trashTmp) and its publish rename leaves a
    // data-free witnessed tmp dir — remove it like staging (it holds
    // only _RUNID; no cell was trashed before the publish)
    if (fs.exists(root))
      fs.listStatus(root).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".compact-trash.tmp-"))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** ONE-TIME migration for LEGACY compact trash (pre-r11 protocol, no
    * `_RUNID` witness) — the explicit, operator-invoked home of the
    * decision procedure [[ivfCompactRecover]] refuses to run unattended
    * (VERDICT r12 item 6). Per trashed cell: published ⇔ the live dir
    * holds a data file whose name is NOT in the trash name set (the old
    * protocol's crash-after-publish leaves the staged compacted file,
    * whose name is distinct from every trashed original). Published →
    * drop the trash copy (merging would duplicate every row, ADVICE
    * r11); not published → COPY the trash files into live, skipping
    * names already there, so trash remains the complete name-set witness
    * until the single delete at the end and a re-crashed migration stays
    * decidable and idempotent.
    *
    * Honest scope (ADVICE r12): the name-set witness is decidable only
    * for restores started by THIS copy-based code. A restore crashed
    * under the pre-fix RENAME-based binary left live/trash names
    * disjoint, which reads as published and drops the un-restored
    * originals — undecidable then, undecidable now; the migration
    * inherits exactly the old behavior for that (pre-r11, crashed
    * mid-restore, never re-run since) corner.
    *
    * @return number of trashed cells restored (the rest were published
    *         and dropped) */
  def migrateLegacyTrash(spark: SparkSession,
      path: String, sub: String = "corpus"): Int = {
    val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.FsSeam.fs(root, conf)
    val trash = new org.apache.hadoop.fs.Path(root, ".compact-trash")
    if (!fs.exists(trash)) return 0
    val runIdFile = new org.apache.hadoop.fs.Path(trash, "_RUNID")
    require(!fs.exists(runIdFile),
      s"$trash carries a _RUNID witness — that is the CURRENT protocol; " +
        "run ivfCompactRecover, not the legacy migration")
    var restored = 0
    layoutCellDirs(fs, trash).foreach { t =>
      val rel =
        if (t.getParent.getName.startsWith("super="))
          s"${t.getParent.getName}/${t.getName}"
        else t.getName
      val live = new org.apache.hadoop.fs.Path(root, rel)
      val trashNames = fs.listStatus(t).filter(_.isFile)
        .map(_.getPath.getName).toSet
      val published = fs.exists(live) && fs.listStatus(live)
        .filter(_.isFile).map(_.getPath.getName)
        .exists(n => !trashNames.contains(n))
      if (published) System.err.println(
        s"[graft] legacy-trash migration: $rel has a published live " +
          "cell — dropping trash copy")
      else {
        restored += 1
        fs.mkdirs(live)
        fs.listStatus(t).filter(_.isFile).foreach { f =>
          val dst = new org.apache.hadoop.fs.Path(live, f.getPath.getName)
          if (!fs.exists(dst) && !org.apache.hadoop.fs.FileUtil.copy(
            fs, f.getPath, fs, dst, false, conf))
            throw new java.io.IOException(s"legacy-trash migration: " +
              s"cannot restore ${f.getPath} to $dst")
        }
      }
    }
    fs.delete(trash, true)
    restored
  }

  /** Compact the small files that repeated [[ivfAppend]] batches leave in
    * a persisted cell layout: each nightly append lands ≥1 file per
    * touched cell, so after N ingests a cell dir holds N small files and
    * the probed-cell read pays N footer opens per cell. Detects cells
    * whose file COUNT exceeds `maxFilesPerCell`, reads ONLY those cells
    * (partition-pruned scan), and rewrites each as one file — untouched
    * cells are never read or rewritten, so the cost is O(fragmented
    * cells), not O(table). Returns the number of compacted cells. The
    * layout counterpart of the snapshot lake's bin-packing
    * auto-compaction.
    *
    * Commit protocol (ADVICE r8 — the old dynamic-partition-overwrite
    * deleted each live cell dir before its replacement files moved in,
    * so a crash mid-commit could LOSE a cell and a concurrent reader saw
    * an empty or half-written cell): the rewrite is STAGED to a
    * dot-prefixed dir inside the layout (invisible to parquet partition
    * discovery), fully materialized, then swapped per cell with two
    * atomic renames (live→trash, staged→live). Nothing is deleted before
    * its replacement is durable; a crash leaves every cell either old or
    * new, plus at worst a stale staging dir the next compact overwrites.
    * Remaining contract: rename atomicity is per-FS (HDFS/POSIX yes;
    * object stores need their atomic-rename layer), the one-rename gap
    * means a concurrent READER can transiently miss one cell's files
    * mid-swap, and compaction still requires NO CONCURRENT WRITER on the
    * compacted cells (an append landing between the snapshot scan and
    * the swap would be dropped with the old files) — serialize appends
    * and compaction, as [[graft.streaming.IndexIngest]] does by running
    * both inside the single-writer foreachBatch loop. A crash BETWEEN a
    * cell's two renames parks its only copies in the trash dir; the next
    * compact restores them from trash before anything destructive runs.
    */
  def ivfCompact(spark: SparkSession, path: String,
      sub: String = "corpus", maxFilesPerCell: Int = 4,
      onlyCells: Option[Set[Long]] = None): Int = {
    val hier = layoutIsHier(spark, path)
    // driver-side directory walk through the HADOOP filesystem (layouts
    // live wherever the data does — HDFS/S3/local; java.nio only sees the
    // driver's disk): O(cells + files) metadata, no data read.
    //
    // `onlyCells` (r14) restricts the fragmentation SWEEP to the named
    // cell ids: the per-batch ingest loop otherwise pays one listStatus
    // PER CELL per micro-batch — O(cells) metadata RPCs that dominate at
    // production cell counts (10⁵ cells at a 100× corpus) — while only
    // the cells the batch just touched can have newly crossed the
    // threshold. The swap protocol itself is unchanged; a maintenance
    // catch-up (e.g. after running with compaction disabled) should pass
    // None for the full sweep.
    val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
    val fs = graft.FsSeam.fs(root, spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(root, ".compact-staging")
    val trash = new org.apache.hadoop.fs.Path(root, ".compact-trash")
    def cellDirs(dir: org.apache.hadoop.fs.Path) = layoutCellDirs(fs, dir)
    // recovery first — see [[ivfCompactRecover]]
    ivfCompactRecover(spark, path, sub)
    val fragmented = cellDirs(root)
      .map(dir => dir.getName.stripPrefix("cell=").toLong -> dir)
      .filter { case (id, _) => onlyCells.forall(_.contains(id)) }
      .flatMap { case (id, dir) =>
        val nFiles = fs.listStatus(dir)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (nFiles > maxFilesPerCell) Some(id -> dir) else None
      }.sortBy(_._1)
    if (fragmented.isEmpty) return 0
    // stage: one file per fragmented cell, written to the (reader-
    // invisible) staging dir — the source files stay untouched, so the
    // plan never reads a path it is replacing and no lineage cut is needed
    val rows = FastParquet.read(spark, root.toString)
      .where(col("cell").isin(fragmented.map(_._1): _*))
      .repartition(col("cell"))
    val w = rows.write.mode("overwrite")
    if (hier) w.partitionBy("super", "cell").parquet(staging.toString)
    else w.partitionBy("cell").parquet(staging.toString)
    // validate the FULL staging before any swap: abort here and no live
    // byte has moved
    val staged = fragmented.map { case (_, liveDir) =>
      val rel =
        if (hier) s"${liveDir.getParent.getName}/${liveDir.getName}"
        else liveDir.getName
      val stagedDir = new org.apache.hadoop.fs.Path(staging, rel)
      require(fs.exists(stagedDir),
        s"compaction staging missing $rel — aborting before any swap")
      (liveDir, stagedDir, new org.apache.hadoop.fs.Path(trash, rel))
    }
    // Name each cell's compacted file with THIS run's id before any swap
    // — the per-cell publish witness crash recovery keys on (see above).
    val runId = java.util.UUID.randomUUID.toString
    staged.foreach { case (_, stagedDir, _) =>
      val part = fs.listStatus(stagedDir).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      require(part.length == 1,
        s"compaction staging for $stagedDir must hold exactly one file, " +
          s"found ${part.length}")
      if (!fs.rename(part.head.getPath,
        new org.apache.hadoop.fs.Path(stagedDir, s"compact-$runId.parquet")))
        throw new java.io.IOException(
          s"compact: cannot tag staged file in $stagedDir")
    }
    // record the run id in trash FIRST: a crash anywhere after this point
    // leaves recovery able to decide publish-vs-not per cell. The trash
    // dir is published WITNESSED-ATOMICALLY (r13, found by the crash
    // matrix): mkdirs(trash) followed by create(_RUNID) has a window
    // where a crash leaves an unwitnessed current-protocol trash that
    // recovery would misread as LEGACY and refuse — so the witness is
    // written into a tmp dir and one rename publishes dir+witness
    // together. A crash before the rename leaves only the data-free tmp
    // dir, which recovery deletes like staging.
    val trashTmp = new org.apache.hadoop.fs.Path(
      root, s".compact-trash.tmp-$runId")
    fs.mkdirs(trashTmp)
    val ridOut = fs.create(
      new org.apache.hadoop.fs.Path(trashTmp, "_RUNID"), true)
    try ridOut.write(runId.getBytes("UTF-8")) finally ridOut.close()
    if (!fs.rename(trashTmp, trash))
      throw new java.io.IOException(s"compact: cannot publish $trash")
    // swap: per cell, live→trash then staged→live (both single renames)
    staged.foreach { case (liveDir, stagedDir, trashDir) =>
      fs.mkdirs(trashDir.getParent)
      if (!fs.rename(liveDir, trashDir))
        throw new java.io.IOException(s"compact: cannot trash $liveDir")
      if (!fs.rename(stagedDir, liveDir))
        throw new java.io.IOException(s"compact: cannot publish $stagedDir")
    }
    fs.delete(staging, true); fs.delete(trash, true)
    fragmented.size
  }

  /** [[ivfAppend]] for the IVFADC layout ([[ivfPqWrite]]): encode with the
    * PERSISTED codebook and centroids, append codes and vectors
    * ([[ivfCodecAppend]]). No retrain — the [[ivfAppend]] contract. */
  def ivfPqAppend(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    ivfCodecAppend(batch, idCol, vecCol, path,
      PqCodec.tupled(pqModelOf(batch.sparkSession, path)))

  /** Batch k-NN over a persisted IVFADC layout ([[ivfPqWrite]]): the PQ
    * tier of [[ivfCodecBatchTopK]]. Per-query ADC tables ride the probe
    * rows, so the sweep over ONLY the probed cells' codes costs m lookups
    * per pair — nProbe·|cell| scores per query instead of |corpus|, the
    * IVFADC contract. `filter` ranges over the codes table's payload
    * columns ([[ivfPqWrite]] `payloadCols`).
    */
  def ivfPqBatchTopK(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = AutoProbe, rerank: Int = AutoRerank,
      excludeSelf: Boolean = true, idCol: String = "vec_id",
      maxBroadcastBytes: Long = 8L << 20, joinThreshold: Int = JoinThreshold,
      cellIsinCap: Int = 2048, filter: Option[Column] = None): DataFrame =
    ivfCodecBatchTopK(spark, path, PqCodec.tupled(pqModelOf(spark, path)),
      queries, qIdCol, qVecCol, k, nProbe, rerank, excludeSelf, idCol,
      maxBroadcastBytes, joinThreshold, cellIsinCap, filter)

  /** IVF-SQ8 layout — the scalar-quantization middle point of the ANN
    * accuracy/memory family (what Faiss ships as
    * `IndexIVFScalarQuantizer`): IVF cell pruning over per-vector
    * symmetric int8 codes. Each unit vector stores as d small ints plus
    * one double scale (`round(x_i / scale)` with `scale = max|x_i|/127` —
    * [[graft.functions.VectorFunctions.int8Scale]]); the quantization is
    * all-double IEEE arithmetic, so codes are INTEGERS an oracle
    * recomputes exactly. vs PQ: ~d bytes per vector after parquet
    * bit-packing (the int32 column's values fit a byte) instead of m
    * sub-codes — 4× under raw floats, far more accurate than PQ's m-way
    * blocking; vs raw: the approx sweep reads a quarter of the bytes.
    * The layout is [[ivfCodecWrite]]'s.
    */
  def ivfSqWrite(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, kMeansIters: Int = 1,
      payloadCols: Seq[String] = Nil,
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]] = None): Unit = {
    requirePayloadDisjoint(payloadCols, idCol, vecCol)
    ivfCodecWrite(unitCorpus(embeddings, idCol, vecCol, payloadCols), idCol,
      path, nLists, kMeansIters, payloadCols, centroidsIn, Sq8Codec)
  }

  /** (id, payload…, dv = unit vector): what the quantized tiers encode. */
  private def unitCorpus(embeddings: DataFrame, idCol: String,
      vecCol: String, payloadCols: Seq[String]): DataFrame =
    embeddings.select(col(idCol) +: payloadCols.map(col) :+
      V.unitFast(col(vecCol)).as("dv"): _*)

  /** Append a batch to a persisted [[ivfSqWrite]] layout WITHOUT retrain
    * ([[ivfCodecAppend]]): the scalar quantizer has NO trained state (the
    * scale is per-vector). Compaction is layout-generic — run
    * [[ivfCompact]] over the `codes` and `vectors` subdirs.
    */
  def ivfSqAppend(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    ivfCodecAppend(batch, idCol, vecCol, path, Sq8Codec)

  /** Batch k-NN over a persisted [[ivfSqWrite]] layout: the SQ8 tier of
    * [[ivfCodecBatchTopK]], one [[graft.functions.DotProduct]] primitive
    * pass per (code row, query). `filter` ranges over the codes table's
    * payload columns ([[ivfSqWrite]] `payloadCols`).
    */
  def ivfSqBatchTopK(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = AutoProbe, rerank: Int = AutoRerank,
      excludeSelf: Boolean = true, idCol: String = "vec_id",
      maxBroadcastBytes: Long = 8L << 20, joinThreshold: Int = JoinThreshold,
      cellIsinCap: Int = 2048, filter: Option[Column] = None): DataFrame =
    ivfCodecBatchTopK(spark, path, Sq8Codec, queries, qIdCol, qVecCol, k,
      nProbe, rerank, excludeSelf, idCol, maxBroadcastBytes, joinThreshold,
      cellIsinCap, filter)

  /** IVF-BQ layout — the binary-quantization floor of the ANN memory
    * spectrum (raw → SQ8 → PQ → 1 bit/dim; what Faiss ships as
    * IndexBinaryIVF): each unit vector stores as ⌈d/64⌉ packed sign-bit
    * words ([[graft.functions.SignPack]] — 32× under raw floats, integer
    * codes an oracle recomputes exactly) under the shared IVF cell
    * layout. The approx sweep is Hamming distance (one XOR + POPCNT per
    * word, [[graft.functions.HammingDist]]); candidate SELECTION is
    * approximate, reported cosines are exact via the rerank
    * ([[ivfCodecWrite]]).
    */
  def ivfBqWrite(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, kMeansIters: Int = 1,
      centroidsIn: Option[Seq[(Long, Seq[Double], Double)]] = None): Unit =
    ivfCodecWrite(unitCorpus(embeddings, idCol, vecCol, Nil), idCol, path,
      nLists, kMeansIters, Nil, centroidsIn, BqCodec)

  /** Batch k-NN over a persisted [[ivfBqWrite]] layout: the BQ tier of
    * [[ivfCodecBatchTopK]]. Hamming over sign bits is coarser than SQ8/PQ
    * scores (d+1 distinct values), so prefer a generous `rerank`; the
    * recall gate measures the default.
    */
  def ivfBqBatchTopK(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = AutoProbe, rerank: Int = AutoRerank,
      excludeSelf: Boolean = true, idCol: String = "vec_id",
      maxBroadcastBytes: Long = 8L << 20, joinThreshold: Int = JoinThreshold,
      cellIsinCap: Int = 2048): DataFrame =
    ivfCodecBatchTopK(spark, path, BqCodec, queries, qIdCol, qVecCol, k,
      nProbe, rerank, excludeSelf, idCol, maxBroadcastBytes, joinThreshold,
      cellIsinCap, None)

  /** [[allPairsTopK]] with a typed bounded-heap Aggregator instead of a
    * window sort: the per-group state is O(k) through partial aggregation,
    * not O(candidates). Identical output (same tie-breaking).
    */
  def allPairsTopKAgg(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nBits: Int = 8): DataFrame = {
    import graft.functions.{Neighbor, TopKNeighbors}
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bucketed = embeddings.select(col(idCol), col(vecCol),
      V.lshBucketFast(col(vecCol), nBits).as("bucket"))
    val l = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    val cand = l.join(r, "bucket").where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(V.cosineFast(col("v_a"), col("v_b")), 6).as("cos"))
      .as[(Long, Long, Double)]
    val topK = new TopKNeighbors(k)
    cand.groupByKey(_._1)
      .agg(topK.toColumn)
      .flatMap { case (idA, top) => top.map(n => (idA, n.id, n.cos)) }
      .toDF("id_a", "id_b", "cos")
  }
}
