package graft

import org.apache.spark.sql.functions._
import graft.sources.TableCatalog

/** Plan-quality audit: assert the physical plans have the shape a 100 TB run
  * needs — filters and projections pushed into the parquet scan, broadcast
  * joins for dimension tables, partition pruning on Hive-layout output, and
  * whole-stage codegen on hot paths. Guards against regressions that are
  * invisible to result-correctness tests.
  */
class PlanAuditSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** Plan string AFTER execution — AQE's final plan, including the
    * WholeStageCodegen wrapping that pre-execution strings omit. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect() // count() would be a different query execution
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** The scan's PushedFilters metadata line(s) only — whole-plan
    * `contains(col)` would also match the Filter node above the scan and
    * pass with pushdown entirely broken (r13 control hardening). */
  private def pushedFiltersLines(planText: String): String =
    planText.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")

  test("q6 filter is pushed into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    val pushed = pushedFiltersLines(p)
    assert(pushed.contains("l_discount"),
      s"discount range should reach the scan's PushedFilters:\n$pushed\n$p")
  }

  test("q6 scan reads only the referenced columns") {
    val p = plan("q6_forecast_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"),
      s"projection pruning failed: $readSchema")
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q5 six-way join broadcasts the small dimensions") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q19 disjunctive part predicates stay one equi-join, no cartesian") {
    val p = plan("q19_discounted_revenue")
    assert(!p.contains("CartesianProduct"),
      "the OR branches must not degrade the equi-join to a cross product")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
    // cross-side OR conditions cannot push to either scan, but the
    // single-side implied disjunctions (brand IN, size bounds) should
    assert(p.contains("PushedFilters: ["), p.take(2000))
  }

  test("q7 two-nation volume joins broadcast the nation dims") {
    val p = plan("q7_nation_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q17 correlated scalar AVG rewrites to aggregate + equi-join") {
    // Catalyst must de-correlate: per-part averages as one aggregate
    // joined back on l_partkey — never a per-row re-scan of lineitem
    val p = plan("q17_small_qty_revenue")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("HashAggregate") &&
      (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")),
      p.take(2000))
  }

  test("q21 EXISTS/NOT EXISTS become semi/anti equi-joins on l_orderkey") {
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q2 correlated MIN subquery stays an equi-join plan, no cartesian") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("brute-force ANN broadcasts the single-row query side") {
    val p = plan("sim_bruteforce_topk")
    assert(p.contains("Broadcast"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not global sort")
  }

  test("topk_orders compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q1 aggregation is whole-stage codegen'd with partial aggregation") {
    val p = finalPlan("q1_pricing_summary")
    assert(p.contains("codegen id"), p.take(2000))
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("partition pruning on the date-partitioned lake layout") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    import graft.operators.Transforms
    Transforms.datePartColumns("l_shipdate")(
      spark.read.parquet(s"$sf0001/lineitem.parquet"))
      .repartition(col("year"))
      .write.mode("overwrite").partitionBy("year").parquet(out)
    val q = spark.read.parquet(out).where(col("year") === "1995")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.contains("year"), scan.take(2000))
    // the pruned scan selects exactly one of the year partitions
    val selected = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    val totalYears = spark.read.parquet(out).select("year").distinct().count()
    assert(selected == Seq(1), s"expected 1 selected partition, got $selected")
    assert(totalYears > 1)
  }

  test("persisted IVF read prunes to exactly the probed cell partitions") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_prune_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path, nLists = 16)
    val qVec = emb.where(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val nProbe = 4
    val q = Similarity.ivfReadTopK(spark, path, qVec, Some(0L), 10, nProbe)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("cell"),
      scan.take(2000))
    // sparkPlan, not executedPlan: AQE wraps the tree and collect() would
    // not descend into the adaptive subplan
    val selected = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.partitionSchema.fieldNames.contains("cell") =>
        f.selectedPartitions.partitionCount
    }
    val totalCells = spark.read.parquet(s"$path/corpus")
      .select("cell").distinct().count()
    assert(selected.nonEmpty && selected.forall(_ <= nProbe),
      s"scan must touch <= $nProbe of $totalCells cells, got $selected")
    assert(totalCells > nProbe)
  }

  test("filtered ANN pushes the metadata predicate into the pruned cell scan") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivff_plan_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path,
      nLists = 16, payloadCols = Seq("label"))
    val queries = emb.where(col("vec_id") % 25 === 0)
    val q = Similarity.ivfBatchTopK(spark, path, queries,
      "vec_id", "embedding", 10, nProbe = 4,
      filter = Some(col("label") <= 3))
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.partitionSchema.fieldNames.contains("cell") => f
    }
    assert(scans.nonEmpty, "no cell-partitioned corpus scan in the plan")
    val corpus = scans.head
    // the predicate must reach the parquet reader as a pushed data filter
    // (filter-before-shortlist is also what makes the recall semantics
    // right), ON TOP of the probed-cell partition pruning
    val pushed = corpus.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThanOrEqual(label,3)"), pushed)
    assert(corpus.metadata.getOrElse("PartitionFilters", "")
      .contains("cell") ||
      corpus.selectedPartitions.partitionCount <= 4,
      "probed-cell partition pruning missing from the filtered scan")
  }

  test("stride-read filters reach the scan (S1 pushdown)") {
    val p = plan("s1_stride_scan")
    assert(p.contains("PushedFilters"), p.take(2000))
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB a selective dimension predicate should reach the fact scan
    // as a runtime bloom filter (semi-join pushdown). Thresholds are lowered
    // so the tiny fixtures qualify.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf0001/orders.parquet")
        .where(col("o_totalprice") > 500000.0) // selective creation side
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"expected a runtime bloom filter in the optimized plan:\n${p.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("scd2 history pays exactly one hash shuffle (windows + agg reuse it)") {
    // lag window, island aggregation, and lead window all cluster on the
    // key: hashpartitioning(o_custkey) must be established once. The only
    // other exchange is the rangepartitioning for the presentation sort.
    val p = plan("scd2_history")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(2500)}")
  }

  test("sketch expressions compile under codegen (no interpreted fallback)") {
    // CODEGEN_ONLY makes projection creation throw if generated code fails
    // to compile, instead of silently falling back to interpreted eval.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
      import graft.operators.Dedup
      assert(Dedup.minhashSignatures(docs, "doc_id", "text").collect().length == 50)
      assert(Dedup.simhashTable(docs, "doc_id", "text").collect().length == 50)
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
      val cos = emb.select(graft.functions.VectorFunctions
        .cosineFast(col("embedding"), col("embedding")).as("c"))
      assert(cos.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
      // AsDoubleVec / VecNorm / UnitVec bit-identical to the composable
      // promote / sqrt-aggregate / when-transform-divide front, over real
      // float embeddings plus a planted zero vector (the sentinel branch)
      val vf = graft.functions.VectorFunctions
      val withZero = emb.select(col("embedding"))
        .unionByName(emb.limit(1).select(
          transform(col("embedding"), _ => lit(0.0f)).as("embedding")))
      val unitBoth = withZero.select(
        vf.asDoubleFast(col("embedding")).as("fastD"),
        vf.asDouble(col("embedding")).as("hofD"),
        vf.normFast(col("embedding")).as("fastN"),
        sqrt(aggregate(vf.asDouble(col("embedding")), lit(0.0),
          (a, x) => a + x * x)).as("hofN"),
        vf.unitFast(col("embedding")).as("fastU"))
        .withColumn("hofU",
          when(col("hofN") === 0.0, col("hofD"))
            .otherwise(transform(col("hofD"), x => x / col("hofN"))))
        .collect()
      assert(unitBoth.nonEmpty && unitBoth.forall { r =>
        r.getSeq[Double](0) == r.getSeq[Double](1) &&
          r.getDouble(2) == r.getDouble(3) &&
          r.getSeq[Double](4) == r.getSeq[Double](5)
      }, "as_double_vec/vec_norm/unit_vec must equal the composable front")
      // LshBucketExpr bit-identical to the composable nBits-aggregates
      // form over real float embeddings, across widths (the weight cache
      // must reproduce xxhash64(bit, dim) parity exactly)
      for (nBits <- Seq(4, 8, 16)) {
        val lshBoth = emb.select(
          graft.functions.VectorFunctions.lshBucketFast(
            col("embedding"), nBits).as("fast"),
          graft.functions.VectorFunctions.lshBucket(
            col("embedding"), nBits).as("hof")).collect()
        assert(lshBoth.nonEmpty && lshBoth.forall(r =>
          r.getLong(0) == r.getLong(1)),
          s"lsh_bucket must equal the composable form bit-for-bit (nBits=$nBits)")
      }
      // SigMatchCount bit-identical to the zip_with + filter form, over
      // real MinHash signatures of the documents corpus
      val sigDf = docs
        .select(
          transform(sequence(lit(1), lit(24)),
            i => xxhash64(col("text"), i)).as("ha"),
          transform(sequence(lit(1), lit(24)),
            i => xxhash64(reverse(col("text")), i)).as("hb"))
        .select(
          graft.functions.SketchFunctions.minhash_sig(col("ha"), 32)
            .as("sig_a"),
          graft.functions.SketchFunctions.minhash_sig(col("hb"), 32)
            .as("sig_b"))
      val sigBoth = sigDf.select(
        graft.functions.SketchFunctions.sig_match_count(
          col("sig_a"), col("sig_b")).as("fast"),
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))), _ === 1))
          .as("hof")).collect()
      assert(sigBoth.nonEmpty && sigBoth.forall(r =>
        r.getInt(0) == r.getInt(1)),
        "sig_match_count must equal the zip_with+filter form bit-for-bit")
      // DotProduct bit-identical to the zip_with/aggregate form, over real
      // float embeddings (promotion path) and double pairs, including the
      // centred-PCA shape ⟨x − mean, c⟩
      val dotBoth = emb.select(
        graft.functions.VectorFunctions.dotFast(
          col("embedding"), col("embedding")).as("fast"),
        graft.functions.VectorFunctions.dot(
          col("embedding"), col("embedding")).as("hof"),
        graft.functions.VectorFunctions.dotFast(
          zip_with(graft.functions.VectorFunctions.asDouble(col("embedding")),
            transform(col("embedding"), x => x.cast("double") / 2.0), _ - _),
          graft.functions.VectorFunctions.asDouble(col("embedding")))
          .as("fastC"),
        aggregate(zip_with(
          zip_with(graft.functions.VectorFunctions.asDouble(col("embedding")),
            transform(col("embedding"), x => x.cast("double") / 2.0), _ - _),
          graft.functions.VectorFunctions.asDouble(col("embedding")), _ * _),
          lit(0.0), _ + _).as("hofC"))
        .collect()
      assert(dotBoth.nonEmpty && dotBoth.forall(r =>
        r.getDouble(0) == r.getDouble(1) && r.getDouble(2) == r.getDouble(3)),
        "dot_product must equal the aggregate(zip_with(...)) form bit-for-bit")
      // AdcScore under codegen, bit-identical to the composable HOF form
      val codesDf = emb.select(
        transform(sequence(lit(0), lit(7)),
          j => pmod(xxhash64(col("vec_id"), j), lit(4)).cast("int"))
          .as("codes"),
        transform(sequence(lit(0), lit(7)), j =>
          transform(sequence(lit(0), lit(3)), c =>
            (j * 4 + c).cast("double") / 10.0)).as("qtable"))
      val both = codesDf.select(
        graft.functions.VectorFunctions.adcFast(
          col("codes"), col("qtable")).as("fast"),
        aggregate(zip_with(col("codes"), col("qtable"),
          (c, row) => element_at(row, c + 1)), lit(0.0), _ + _).as("hof"))
        .collect()
      assert(both.nonEmpty && both.forall(r =>
        r.getDouble(0) == r.getDouble(1)),
        "adc_score must equal the aggregate(zip_with(...)) form bit-for-bit")
      // PqNearestCode vs the composable argmin fold it replaced — over
      // real embedding slices, including the last-narrower-subspace shape
      // (centroid widths match the runtime slice widths, as pqSliceOf
      // guarantees in production: slice j holds min(dsub, d - j*dsub)
      // dims; a fabricated mismatch would null-poison the fold instead)
      val d2 = emb.select(size(col("embedding"))).head().getInt(0)
      val m2 = 3; val dsub2 = (d2 + m2 - 1) / m2
      def width(j: Int): Int = math.min(dsub2, d2 - j * dsub2)
      val cb2: Seq[Seq[Seq[Double]]] = (0 until m2).map(j =>
        (0 until 5).map(c => (0 until width(j))
          .map(i => (j * 31 + c * 7 + i).toDouble / 11.0)))
      val cbStruct = cb2.map(_.zipWithIndex.map { case (v, i) => (i, v) })
      val sliced = emb.select(posexplode(
        transform(sequence(lit(0), lit(m2 - 1)), j =>
          slice(graft.functions.VectorFunctions.asDouble(col("embedding")),
            j * lit(dsub2) + lit(1), lit(dsub2)))).as(Seq("j", "sv")))
      val oldFold = aggregate(
        element_at(typedLit(cbStruct), (col("j") + 1).cast("int")),
        struct(lit(Double.MaxValue).as("d2"), lit(Int.MaxValue).as("code")),
        (acc, c) => {
          val dist = aggregate(
            zip_with(col("sv"), c.getField("_2"), (a, b) => (a - b) * (a - b)),
            lit(0.0), _ + _)
          when(dist < acc.getField("d2"),
            struct(dist.as("d2"), c.getField("_1").as("code")))
            .otherwise(acc)
        }).getField("code")
      val codesBoth = sliced.select(
        graft.functions.VectorFunctions.pqCodeFast(
          col("sv"), col("j").cast("int"), typedLit(cb2)).as("fast"),
        oldFold.as("fold")).collect()
      assert(codesBoth.nonEmpty && codesBoth.forall(r =>
        r.getInt(0) == r.getInt(1)),
        "pq_nearest_code must equal the argmin fold bit-for-bit")
      val nfc = docs
        .select(concat(col("text"), lit(" e\u0301")).as("dirty"))
        .select(expr("nfc_normalize(dirty)").as("t"))
        .collect()
      assert(nfc.forall(_.getString(0).endsWith(" \u00e9")),
        "decomposed e+combining-acute must fold to composed e-acute")
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("sketch signatures are computed without any shuffle (map-side only)") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val p1 = sig.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"minhash signatures must not shuffle:\n${p1.take(1200)}")
    val sh = Dedup.simhashTable(docs, "doc_id", "text")
    val p2 = sh.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"simhash must not shuffle:\n${p2.take(1200)}")
  }

  test("hot-key profile is top-k + broadcast totals, never a collected histogram") {
    val p = plan("skew_hot_keys")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("Broadcast"), "1-row totals must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("headline set derives from HL tags: nonempty, all resolvable, flagships present") {
    val hs = Explain.Headline
    assert(hs.nonEmpty && hs.size >= 40, s"suspiciously small: ${hs.size}")
    assert(hs.distinct == hs)
    assert(hs.forall(SparkEntry.queries.contains))
    // the flagship families that must never drop out of the evidence set
    Seq("q1_pricing_summary", "dedup_minhash_lsh", "sim_ann_ivf_persisted",
      "corpus_token_budget_global", "layout_zorder_scan", "k11_lake_delete",
      "topk_per_key_phys", "bpe_merge_table").foreach(n =>
      assert(hs.contains(n), s"$n lost its HL tag"))
  }

  /** A Filter NODE line (e.g. `+- Filter (...` / `*(2) Filter (...`) —
    * NOT the scan metadata strings `PushedFilters:`/`PartitionFilters:`/
    * `DataFilters:`, which contain the bare substring "Filter" and made
    * the original `contains("Filter")` form of the budget gate pass for
    * ANY window-over-parquet plan (r13 planted-offender finding). */
  private def hasFilterNode(planText: String): Boolean =
    planText.linesIterator.exists(l =>
      !l.contains("Filters:") && l.contains("Filter "))

  test("global token budget refines ONLY the crossing bucket through its window") {
    val df = SparkEntry.queries("corpus_token_budget_global")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the single unpartitioned window must be fed by a bucket FILTER, not
    // the whole corpus — the filter is what caps the window's input to
    // ~1/nBuckets of the data
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(1500))
    val below = p.substring(winIdx)
    assert(hasFilterNode(below),
      s"window input must be bucket-filtered:\n${below.take(1200)}")
  }

  test("quantization is one map-side pass (no shuffle before the sort)") {
    import graft.functions.{VectorFunctions => V}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb
      .select(col("vec_id"), col("embedding"), V.int8Scale(col("embedding")).as("s"))
      .select(col("vec_id"), V.quantizeInt8(col("embedding"), col("s")).as("q"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"quantize must not shuffle:\n${p.take(1200)}")
  }

  /** Count physical nodes of `name` in a FormattedMode plan, restricted to
    * the FINAL (post-AQE) tree — the formatted string also prints the
    * Initial Plan and per-node details, which would double-count. Tree
    * lines read `Name (id)`; detail headers read `(id) Name` and never
    * match. */
  private def nodeCount(formatted: String, name: String): Int = {
    val end = formatted.indexOf("== Initial Plan ==")
    val tree = if (end >= 0) formatted.substring(0, end) else formatted
    // joins print qualifiers between name and id: "BroadcastHashJoin
    // Inner BuildRight (31)" — allow them, but never cross a line
    s"""$name[^(\\n]*\\(\\d+\\)""".r.findAllIn(tree).length
  }

  test("ev_funnel's three chained windows share one exchange") {
    val p = finalPlan("ev_funnel")
    // ONE hash exchange on user_id feeds all three Window operators AND
    // the final per-user aggregate (partial+final co-located); the second
    // exchange is the range partitioning for the ordered output — no
    // window re-shuffles
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
    assert(nodeCount(p, "Window") == 3, p)
  }

  test("text_bm25 broadcasts the tiny df/stats sides and top-ks the cut") {
    val p = finalPlan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"k-cut must not be a global sort:\n$p")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1, p)
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(nodeCount(p, "SortMergeJoin") == 0,
      s"df/stats joins must broadcast, not shuffle-sort:\n$p")
  }

  test("text_perplexity joins count tables by key, never cartesian") {
    val p = finalPlan("text_perplexity")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    // the only nested-loop is the 1-row vocab-size broadcast
    val bnlj = nodeCount(p, "BroadcastNestedLoopJoin")
    assert(bnlj <= 1, s"expected at most the 1-row vocab BNLJ, got $bnlj:\n$p")
  }

  test("text_quality_classifier scores map-side: no explode, no scoring shuffle") {
    val p = finalPlan("text_quality_classifier")
    assert(nodeCount(p, "Generate") == 0,
      s"token weights must fold inside the projection, never explode:\n$p")
    // the ONLY exchange is the range partitioning for the ordered output —
    // the score itself is one codegen'd projection over the scan
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 1,
      s"scoring must not shuffle (got $exchanges exchanges):\n$p")
  }

  test("corpus_weighted_sample cuts with a heap top-k, not a global sort") {
    val p = finalPlan("corpus_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES k-cut must be TakeOrderedAndProject:\n$p")
  }

  test("graph_triangles wedge mine is equi-join-only") {
    val p = finalPlan("graph_triangles")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    // the two 1-row result-assembly crosses (totals × wedge-sum × tri) are
    // the ONLY nested loops; orientation, wedge and closure joins are all
    // keyed
    val bnlj = nodeCount(p, "BroadcastNestedLoopJoin")
    assert(bnlj <= 2,
      s"wedge/orientation/closure must be equi-joins (got $bnlj BNLJ):\n$p")
  }

  test("pair mine: size prune runs inside the join, before the aggregation") {
    // The r6 scale fix: jaccard ≥ t ⟹ t·nb ≤ na ∧ t·na ≤ nb is planted as
    // a join condition, so length-skewed pairs die in codegen before the
    // pair-count aggregation (measured 41 s → 13 s on the 10× corpus).
    // The prune predicate must stay attached to the gram self-join — as a
    // post-aggregation filter it would be semantically idle.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", shingleK = 8, threshold = 0.4)
      .queryExecution.executedPlan.toString
    // the prune must appear ON a join node's condition line (SMJ or BHJ —
    // AQE picks by size), not in a standalone post-aggregation Filter
    val prunedJoin = p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("<=") && l.contains("* 0.4"))
    assert(prunedJoin,
      s"size-compatibility prune missing from the gram join condition:\n$p")
  }

  test("contamination probe joins a DISTINCT gram stream against a broadcast") {
    // The r6 scale fix: (id, gram) distincts BEFORE the eval join, so the
    // broadcast probe and the final count see one row per distinct gram
    // (within-doc repeats collapse in the partial aggregate), and no
    // expand-based double countDistinct exists anywhere in the plan.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.Corpus.contaminationCheck(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), "doc_id", "text",
        shingleK = 8, minOverlap = 0.05)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram probe must be a broadcast join:\n$p")
    assert(!p.contains("Expand"),
      s"double-countDistinct expand crept back into the plan:\n$p")
    // the distinct aggregate must sit BELOW the broadcast join (probe sees
    // distinct rows): the join line appears before the LAST HashAggregate
    // pair that implements the (id, g) distinct
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val lastAggIdx = p.lastIndexOf("HashAggregate")
    assert(joinIdx >= 0 && lastAggIdx > joinIdx,
      s"(id, gram) distinct should feed the probe side of the join:\n$p")
  }

  test("whole-surface plan sweep: no CartesianProduct anywhere; every " +
      "BroadcastNestedLoopJoin builds a tiny (scalar-gate) side") {
    // The EXPLAIN.md invariants, promoted from 75 eyeballed headline
    // plans to an automatic gate over EVERY SparkEntry query (VERDICT r9
    // item 8). A CartesianProduct is |a|·|b| work at any scale — never
    // legal here; a BroadcastNestedLoopJoin is legal ONLY as the 1-row
    // scalar-aggregate gate join (bounded by executing its build side),
    // which broadcasts a constant, not data.
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      try {
        val df = SparkEntry.queries(name)(spark, sf0001)
        val plan = df.queryExecution.executedPlan
        // collectWithSubqueries is AdaptiveSparkPlanHelper's, NOT
        // TreeNode's: AdaptiveSparkPlanExec is a LeafExecNode, so the
        // plain TreeNode traversal stops at every AQE boundary and this
        // sweep silently audits NOTHING (round-12 finding — the gate ran
        // vacuously green from r9 until the Explain annotations exposed
        // it). The helper descends through AdaptiveSparkPlanExec /
        // QueryStageExec into the real join nodes.
        if (collectWithSubqueries(plan) {
          case c: CartesianProductExec => c }.nonEmpty)
          offenders += s"$name: CartesianProduct"
        collectWithSubqueries(plan) {
          case j: BroadcastNestedLoopJoinExec => j
        }.foreach { j =>
          // static maxRows bound (scalar-agg builds prove ≤1 without
          // executing), re-planned logical fallback — see the primitive's
          // doc in Explain.bnljBuildRows. Two legal tiers: 16 rows for
          // metric-panel crosses, Explain.SampleBuildBound for the
          // allowlisted brute-force exact-baseline gates whose build is
          // the broadcast query SAMPLE (Explain.SampleBuildGates).
          val bound = Explain.bnljBound(name)
          if (Explain.bnljBuildRows(spark, j, bound) > bound)
            offenders += s"$name: BNLJ build side not provably <= $bound rows"
        }
      } catch {
        case e: Throwable =>
          offenders += s"$name: plan construction failed (${e.getMessage})"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} plan-invariant violations:\n" +
        offenders.mkString("\n"))
  }

  // -------------------------------------------------------------------
  // Planted-offender negative controls (VERDICT r12 item 5). The
  // BNLJ/Cartesian sweep ran VACUOUSLY green from r9 to r12 because its
  // traversal silently audited nothing — a gate is only trustworthy if a
  // deliberate violation makes its detection primitive fire. One control
  // per gate CLASS below, each asserting that the SAME primitive the
  // positive gates use (same traversal, same plan-string form, same
  // counter) flags a planted offender. A control that fails means the
  // corresponding positive gates are green for the wrong reason.
  // -------------------------------------------------------------------

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("control: a planted CartesianProduct behind an AQE boundary is found by the sweep's traversal") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the groupBy plants an Exchange so AQE wraps the whole query —
      // the exact topology that blinded the r9–r12 sweep
      val df = spark.range(0, 100).toDF("a").groupBy("a").count()
        .crossJoin(spark.range(0, 50).toDF("b"))
      df.collect()
      val plan = df.queryExecution.executedPlan
      val found = collectWithSubqueries(plan) {
        case c: CartesianProductExec => c }
      assert(found.nonEmpty,
        "planted CartesianProduct NOT found — the whole-surface sweep " +
          "is vacuous again (traversal no longer reaches join nodes)")
      // pin WHY the helper traversal is mandatory: through an AQE root
      // the plain TreeNode collect sees nothing (the r9–r12 bug). Only
      // asserted when AQE actually wrapped the query.
      plan match {
        case _: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec =>
          val blind = plan.collect { case c: CartesianProductExec => c }
          assert(blind.isEmpty,
            "plain TreeNode traversal now descends through AQE — the " +
              "sweep works either way, but its rationale comment is stale")
        case _ => ()
      }
    }
  }

  test("control: bnljBuildRows flags a planted oversized BNLJ build side") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = spark.range(0, 50).toDF("a").groupBy("a").count()
      .crossJoin(broadcast(spark.range(0, 200).toDF("b")))
    df.collect()
    val bnljs = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j }
    assert(bnljs.nonEmpty, "fixture drift: expected a planted BNLJ")
    assert(bnljs.exists(j => Explain.bnljBuildRows(spark, j, 16) > 16),
      "a 200-row broadcast build passed the ≤16-row gate — " +
        "bnljBuildRows under-counts and every BNLJ pin is unsound")
  }

  test("control: linkedLogical fails closed across a row-multiplying node") {
    import org.apache.spark.sql.catalyst.trees.TreeNodeTag
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // 5 source rows explode to 500: a link found BELOW the Generate
    // describes 5 rows, a 100× under-count of the subtree it's used to
    // bound (the ADVICE r12 finding against the first-link-found form)
    val df = spark.range(0, 5)
      .select(explode(sequence(lit(1), lit(100))).as("x"))
      .select((col("x") + 1).as("y"))
    val sp = df.queryExecution.sparkPlan
    val tag = TreeNodeTag[LogicalPlan]("logical_plan")
    // strip links from every non-leaf so only the bottom Range keeps one
    sp.foreach(n => if (n.children.nonEmpty) n.unsetTagValue(tag))
    val firstLink = sp.collectFirst {
      case p if p.logicalLink.isDefined => p.logicalLink.get }
    assert(firstLink.exists(_.maxRows.exists(_ <= 5L)),
      s"fixture drift: the surviving leaf link should claim ≤5 rows")
    assert(Explain.linkedLogical(sp).isEmpty,
      "linkedLogical trusted a link separated from the root by a " +
        "row-multiplying Generate — the BNLJ bound can under-count again")
  }

  test("control: a non-pushable predicate leaves the scan's PushedFilters empty of it") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val q = li.where((col("l_tax") + 1.0) > 10.0) // arithmetic: untranslatable
    val pushed = pushedFiltersLines(q.queryExecution.executedPlan.toString)
    assert(pushed.contains("PushedFilters"),
      s"scan metadata format drifted — pushdown gates can't see scans:\n$pushed")
    assert(!pushed.contains("GreaterThan"),
      s"an arithmetic predicate 'pushed' to the scan — the pushdown " +
        s"gates' PushedFilters parse is not reading real pushdown:\n$pushed")
  }

  test("control: an unpruned scan's ReadSchema shows the would-be-dropped column") {
    val p = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.contains("l_orderkey"),
      s"ReadSchema line missing or empty — the column-pruning gate's " +
        s"NOT-contains assertion is vacuous:\n$readSchema")
  }

  test("control: an unfiltered read of the partitioned layout selects ALL partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_noprune_").toString
    import graft.operators.Transforms
    Transforms.datePartColumns("l_shipdate")(
      spark.read.parquet(s"$sf0001/lineitem.parquet"))
      .repartition(col("year"))
      .write.mode("overwrite").partitionBy("year").parquet(out)
    val q = spark.read.parquet(out) // no partition predicate
    val selected = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    val totalYears = spark.read.parquet(out).select("year").distinct().count()
    assert(totalYears > 1, "fixture drift: need >1 year partition")
    assert(selected == Seq(totalYears.toInt),
      s"unpruned scan reports $selected of $totalYears partitions — " +
        "selectedPartitions.partitionCount is not measuring pruning")
  }

  test("control: planted shuffle/explode/double-distinct/SMJ/sort all fire their detectors") {
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    // shuffle — both string forms the no-shuffle gates rely on, on an
    // UNCOLLECTED df (how the map-side-only gates read their plans)
    val sh = ord.repartition(5).groupBy("o_orderstatus").count()
    val shStr = sh.queryExecution.executedPlan.toString
    assert(shStr.contains("Exchange"),
      "planted shuffle invisible to toString — every !contains(Exchange) " +
        "gate is vacuous")
    assert("Exchange hashpartitioning".r.findAllIn(shStr).nonEmpty,
      "hashpartitioning regex (scd2 gate) sees no planted hash exchange")
    sh.collect()
    val shFmt = sh.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(nodeCount(shFmt, "Exchange") >= 2, // roundrobin + hash
      s"nodeCount missed the planted exchanges:\n$shFmt")
    // explode → Generate (text_quality gate asserts == 0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    val gen = docs.select(explode(split(col("text"), " ")).as("tok"))
    gen.collect()
    assert(nodeCount(gen.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode), "Generate") >= 1,
      "planted explode invisible to nodeCount(Generate)")
    // double countDistinct → Expand (contamination gate asserts absent)
    val exp = li.agg(countDistinct("l_orderkey"), countDistinct("l_partkey"))
    assert(exp.queryExecution.executedPlan.toString.contains("Expand"),
      "planted double-distinct Expand invisible to toString")
    // forced shuffle join → SortMergeJoin (text_bm25 gate asserts == 0)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      j.collect()
      assert(nodeCount(j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode), "SortMergeJoin") >= 1,
        "planted SMJ invisible to nodeCount(SortMergeJoin)")
    }
    // global sort without limit → Sort node, NO TakeOrderedAndProject
    // (the top-k gates assert TOAP presence; this pins that the marker is
    // specific to the heap form, not any ordered output)
    val srt = ord.orderBy(col("o_totalprice").desc)
    srt.collect()
    val srtFmt = srt.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!srtFmt.contains("TakeOrderedAndProject") &&
      nodeCount(srtFmt, "Sort") >= 1,
      s"global sort compiled to TOAP? the top-k gates prove nothing:\n$srtFmt")
    // window → exactly one Window node (the exchange-sharing gates count
    // Window nodes; prove the counter sees one when one is planted)
    val win = ord.select(col("o_custkey"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate")).as("rn"))
    win.collect()
    assert(nodeCount(win.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode), "Window") == 1,
      "planted window not counted exactly once by nodeCount(Window)")
  }

  test("control: a window fed by the raw scan (no filter) fails the budget gate's detector") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val w = docs.select(col("doc_id"),
      sum(length(col("text"))).over(org.apache.spark.sql.expressions
        .Window.orderBy("doc_id")).as("cum"))
    w.collect()
    val p = w.queryExecution.executedPlan.toString
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(1200))
    val below = p.substring(winIdx)
    // the ORIGINAL contains("Filter") form passed here via the scan's
    // PushedFilters: metadata — the r13 finding that motivated
    // hasFilterNode. Keep both assertions: the first documents the trap,
    // the second proves the fixed detector refuses the offender.
    assert(below.contains("Filter"),
      "scan metadata no longer mentions Filters — trap comment stale")
    assert(!hasFilterNode(below),
      s"unfiltered window input read as filtered — budget gate vacuous:\n" +
        below.take(1200))
  }

  test("control: an unprobed IVF corpus read selects ALL cell partitions") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_noprune_").toString
    Similarity.ivfWrite(emb, "vec_id", "embedding", path, nLists = 16)
    val q = spark.read.parquet(s"$path/corpus") // no cell predicate
    val selected = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.partitionSchema.fieldNames.contains("cell") =>
        f.selectedPartitions.partitionCount
    }
    val totalCells = q.select("cell").distinct().count().toInt
    assert(totalCells > 4, "fixture drift: need >4 populated cells")
    assert(selected == Seq(totalCells),
      s"unprobed read reports $selected of $totalCells cells — the IVF " +
        "prune gate's selectedPartitions measurement is not measuring " +
        "pruning")
  }

  test("control: with whole-stage codegen disabled, the codegen marker disappears") {
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      val df = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .groupBy("l_returnflag").count()
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("codegen id"),
        "codegen marker printed with codegen off — the q1 codegen gate " +
          "can pass without codegen")
    }
  }

  test("control: with the runtime bloom filter disabled, its plan markers disappear") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf0001/orders.parquet")
        .where(col("o_totalprice") > 500000.0)
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("bloom_filter") && !p.contains("might_contain") &&
        !p.contains("BloomFilter"),
        "bloom markers present with the feature off — the bloom gate's " +
          "strings match something else")
    }
  }

  test("control: planted and ablated plans flip the join/agg/pushdown markers") {
    // Marker-fidelity controls for the positive-presence gates (the class
    // the r13 token-budget finding hit: contains("Filter") matched scan
    // metadata, so a positive gate passed vacuously). Each marker is
    // asserted PRESENT in a plan built with the feature and ABSENT in the
    // ablated twin — proving the string tracks the feature, not something
    // else in the plan text.
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus")

    // BroadcastHashJoin: hinted broadcast join has it; with broadcast
    // disabled the same join plans as SMJ/shuffled-hash without it
    val hinted = li.join(broadcast(ord), li("l_orderkey") === ord("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(hinted.contains("BroadcastHashJoin"),
      s"hinted broadcast join lacks the BHJ marker:\n${hinted.take(1200)}")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        "BHJ marker present with broadcast disabled — the broadcast " +
          s"gates' string matches something else:\n${p.take(1200)}")
    }

    // LeftSemi / LeftAnti: semi/anti joins print them; an inner join of
    // the same shape prints neither
    val semi = li.join(ord, Seq("o_orderkey").map(_ => li("l_orderkey") ===
      ord("o_orderkey")).reduce(_ && _), "left_semi")
      .queryExecution.executedPlan.toString
    val anti = li.join(ord, li("l_orderkey") === ord("o_orderkey"),
      "left_anti").queryExecution.executedPlan.toString
    val inner = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), s"semi join lacks LeftSemi marker")
    assert(anti.contains("LeftAnti"), s"anti join lacks LeftAnti marker")
    assert(!inner.contains("LeftSemi") && !inner.contains("LeftAnti"),
      "inner join carries semi/anti markers — the q21 gate is vacuous")

    // HashAggregate + partial_: an aggregation plan has both (partial_ in
    // the POST-execution formatted plan the q1 gate reads); a pure filter
    // plan has neither
    val aggDf = li.groupBy("l_returnflag").count()
    aggDf.collect()
    val aggFmt = aggDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(aggFmt.contains("HashAggregate") && aggFmt.contains("partial_"),
      s"aggregation plan lacks HashAggregate/partial_ markers")
    val filtDf = li.where(col("l_tax") > 100.0)
    filtDf.collect()
    val filtFmt = filtDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!filtFmt.contains("HashAggregate") && !filtFmt.contains("partial_"),
      "non-aggregating plan carries aggregation markers — the q1/q17 " +
        "gates are vacuous")

    // LessThanOrEqual in PushedFilters: a pushable <= lands on the scan's
    // metadata line; the non-pushable-arithmetic control pins the absence
    // side with the same parse
    val pushed = pushedFiltersLines(li.where(col("l_tax") <= 0.05)
      .queryExecution.executedPlan.toString)
    assert(pushed.contains("LessThanOrEqual"),
      s"pushable <= missing from PushedFilters — the filtered-ANN gate's " +
        s"LessThanOrEqual parse reads nothing:\n$pushed")
  }

  test("control: an unfiltered partitioned scan's PartitionFilters line is empty") {
    // string-side twin of the selectedPartitions control above: the
    // pruning gates parse the "PartitionFilters: [" line — prove the line
    // reflects the absence of pruning predicates, not just schema echo
    val out = java.nio.file.Files.createTempDirectory("graft_nopf_").toString
    import graft.operators.Transforms
    Transforms.datePartColumns("l_shipdate")(
      spark.read.parquet(s"$sf0001/lineitem.parquet"))
      .repartition(col("year"))
      .write.mode("overwrite").partitionBy("year").parquet(out)
    val p = spark.read.parquet(out).queryExecution.executedPlan.toString
    val pfLine = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pfLine.nonEmpty,
      "PartitionFilters line missing — the pruning gates can't see scans")
    assert(pfLine.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"unfiltered scan's PartitionFilters is not empty — the pruning " +
        s"gates' marker echoes something besides pruning:\n$pfLine")
  }

  test("meta: every detector primitive a gate uses has a must-fire control (r13 item 6)") {
    // The BNLJ sweep ran vacuous from r9 to r12 because nothing REQUIRED a
    // control; planted-offender controls now exist per gate class, but a
    // round-15 gate could still ship uncontrolled. This meta-test closes
    // the loop MECHANICALLY: it parses this spec's own source, extracts
    // every detection primitive each gate test uses — plan-marker string
    // literals inside contains(...), nodeCount(...) node names, typed
    // *Exec matches, and the shared detector helpers — and fails if any
    // primitive never appears in a `control:`-prefixed test.
    //
    // Granularity limits (documented, deliberate): coverage is substring
    // containment either way (a planted SortMergeJoin control covers a
    // gate's generic "Join" line-parse), and lowercase markers must be
    // registered below — CamelCase plan-node literals are picked up
    // automatically.
    val srcFile = new java.io.File("src/test/scala/graft/PlanAuditSpec.scala")
    assert(srcFile.exists(), s"spec source not found at ${srcFile.getAbsolutePath}")
    val src = new String(java.nio.file.Files.readAllBytes(srcFile.toPath), "UTF-8")

    val detectorHelpers = Set("pushedFiltersLines", "hasFilterNode",
      "nodeCount", "bnljBuildRows", "linkedLogical", "collectWithSubqueries")
    val infrastructureHelpers = Set("plan", "finalPlan", "withConf")
    // rot guards: every registered helper must still exist; every private
    // helper in this file must be classified (a new detector helper added
    // without registration fails HERE, not silently)
    detectorHelpers.filterNot(h => h == "bnljBuildRows" ||
        h == "linkedLogical" || h == "collectWithSubqueries")
      .foreach(h => assert(src.contains(s"def $h("),
        s"registered detector helper $h no longer defined in the spec"))
    val privateDefs = """private def (\w+)""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val unclassified = privateDefs -- detectorHelpers -- infrastructureHelpers
    assert(unclassified.isEmpty,
      s"unclassified private helper(s) $unclassified — register each as a " +
        "detector (needs a control) or infrastructure in the meta-test")

    // lowercase plan markers must be registered; CamelCase is automatic
    val lowerMarkers = Set("codegen id", "partial_", "hashpartitioning",
      "dynamicpruning", "bloom_filter", "might_contain")
    def markerTokens(raw: String): Set[String] = {
      // strip line comments: a plan-node name in prose is not a detector
      val body = raw.linesIterator.map { l =>
        val i = l.indexOf("//"); if (i >= 0) l.substring(0, i) else l
      }.mkString("\n")
      val fromContains = """contains\("([^"]+)"\)""".r
        .findAllMatchIn(body).map(_.group(1)).flatMap { t =>
          if (lowerMarkers(t)) Some(t)
          else if (t.nonEmpty && t.head.isUpper)
            "^[A-Za-z]+".r.findFirstIn(t)
          else None
        }
      val fromNodeCount = """nodeCount\([^,]+,\s*"([A-Za-z]+)"\)""".r
        .findAllMatchIn(body).map(_.group(1))
      val fromTyped = """(\w+)Exec\b""".r
        .findAllMatchIn(body).map(_.group(1))
        .filter(t => t.nonEmpty && t.head.isUpper)
      (fromContains ++ fromNodeCount ++ fromTyped).toSet
    }
    def helperTokens(body: String): Set[String] =
      detectorHelpers.filter(h => body.contains(h + "(")).map("helper:" + _)

    val blocks: Seq[(String, String)] = src.split("\n  test\\(\"").toSeq
      .drop(1).map { b => (b.takeWhile(_ != '"'), b) }
    val controls = blocks.filter(_._1.startsWith("control:"))
    val gates = blocks.filterNot(b => b._1.startsWith("control:") ||
      b._1.startsWith("meta:"))
    assert(controls.nonEmpty && gates.nonEmpty,
      "source parse failure: found no control or no gate test blocks")

    val controlTokens = controls.flatMap(b =>
      markerTokens(b._2) ++ helperTokens(b._2)).toSet
    val gateUses: Map[String, Seq[String]] = gates
      .flatMap { case (n, b) =>
        (markerTokens(b) ++ helperTokens(b)).map(_ -> n) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    def covered(g: String): Boolean =
      controlTokens.exists(c => c.contains(g) || g.contains(c))
    val uncovered = gateUses.keys.filterNot(covered).toSeq.sorted
    assert(uncovered.isEmpty,
      s"${uncovered.size} gate detector primitive(s) have NO planted-" +
        "offender/ablation control:\n" +
        uncovered.map(t => s"  $t  (used by: " +
          s"${gateUses(t).take(3).mkString("; ")})").mkString("\n") +
        "\nadd a `control:` test that plants/ablates each, or register " +
        "the token if it is not a detector")
  }
}
