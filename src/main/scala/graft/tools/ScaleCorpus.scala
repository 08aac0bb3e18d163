package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages a BENCH-ONLY scaled replica corpus (default 10×) of the heavy
  * query families' input tables, derived deterministically from a driver-
  * provided sf directory. This exists for one purpose: turning the bench's
  * cold-total noise into a scaling CURVE — time(10×)/time(1×) per heavy
  * family is the honest 100×-readiness signal, where single-run totals are
  * dominated by shared-front attribution and machine contention.
  *
  * Replicas are id-offset AND content-perturbed, because naive row
  * duplication changes the WORKLOAD, not just the size: 10 verbatim copies
  * of every document make every doc a 10-way near-dup cluster (the dedup
  * family's pair mine then measures a pathological corpus, not a bigger
  * one), and 10 copies of every embedding put 10 cos≈1 neighbors in every
  * cell. So:
  *  - documents: per-replica deterministic word permutation (sort words by
  *    xxhash64(word, position, replica)) — vocabulary, word counts, and
  *    document lengths are preserved (the aggregate statistics that drive
  *    cost), while shingle sets diverge across replicas (near-dup density
  *    stays realistic).
  *  - embeddings: per-replica deterministic coordinate noise (±0.4 per
  *    dim, keyed on (vec_id, dim, replica)) — norms stay O(original),
  *    cosine structure across replicas decorrelates.
  *  - lineitem: key-offset copies (value distributions repeat — fine for
  *    the z-order/stats-skipping family, which is driven by row count and
  *    clustering, not key uniqueness).
  *
  * Not an oracle input: correctness runs exclusively on the driver's
  * testdata; this corpus is only ever read by the bench's scale section.
  */
object ScaleCorpus {

  /** The heaviest families (round-4/5 verdicts), one query each. */
  val ScaleQueries: Seq[String] = Seq(
    "dedup_clusters",             // memoized gram/pair dedup front
    "dedup_semantic",             // IVF build + per-cell pair mine
    "corpus_token_budget_global", // histogram-bucketed global window
    "corpus_contamination",       // position-explode + broadcast eval join
    "layout_zorder_scan",         // quantile plan + range shuffle + commit
    "text_perplexity",            // corpus-trained bigram LM: count tables
                                  // + scoring join keyed on the bigram
    "graph_pagerank",             // 3 join+agg rounds over co-purchase edges
    "graph_triangles",            // degree-ordered compact-forward census.
    "graph_triangles_estimate",   // DOULION hash-coin estimator gated on
                                  // the exact census (r13 item 4): the
                                  // governed budget knob for the census's
                                  // Σdeg²-bound wedge mine — the ratio
                                  // tracks the census (it runs both), the
                                  // estimator-only cost shows at 100×.
    "k13_lake_merge",             // lake COW MERGE: commit + stats-pruned
                                  // locate scan + 3-clause rewrite — the
                                  // snapshot-lake family's scale read.
    "embed_pca",                  // one-pass d² moments agg + driver eigen:
                                  // the curve should be ~linear (scan-bound)
    "sim_ann_pq",                 // PQ train (per-subspace Lloyd) + encode +
                                  // ADC sweep: all map-side over the corpus
    "quality_constraints",        // single-scan constraint suite incl. the
                                  // Expand multi-distinct uniqueness check
    "text_winnow",                // winnowing fingerprints: fully map-side,
                                  // the curve should be ~linear (scan-bound)
    "dedup_containment_fixed",    // the explicit fixed-cap-256 override:
                                  // df-capped gram join WITHOUT the size
                                  // prune — the cap is its only quadratic
                                  // lever, watch it (90.9× at 100× cd was
                                  // the r11 closest-to-bar number)
    "dedup_containment",          // the DEFAULT (= budget-governed since
                                  // r12): the cap self-sizes to 2048·|docs|
                                  // expansions — the curve should stay
                                  // corpus-linear by construction
    "k22_incremental_join",       // delta-maintained join view: bootstrap +
                                  // 3 incremental refreshes over 10× orders
                                  // against the unreplicated customer dim
    "text_novelty",               // uncapped gram-df join: linear in gram
                                  // rows (df attach, no pair expansion) —
                                  // the curve should track the scan
    "dedup_ppjoin_governed",      // the prefix mine at its DEFAULT-governed
                                  // configuration (r8 verdict): budget =
                                  // 64·|docs|, pre-flight estimate trips it
                                  // on this ~25%-density corpus at every
                                  // scale, fallback runs the corpus-linear
                                  // df-capped mine — the call shape a 100×
                                  // pipeline actually executes. The
                                  // UNGOVERNED lossless curve (18-27× at
                                  // 10×: intrinsic Θ(density·n²), measured
                                  // & attributed — 317 M
                                  // pre-filter pairs, 1.47 B expansion rows
                                  // at 10×) is opt-in via UnlimitedPairs and
                                  // recorded in BASELINE.md; it no longer
                                  // rides the committed curve because the
                                  // engine's default now enforces its own
                                  // scale advice
    "dedup_minhash_lsh",          // banded LSH + df-capped exact gate: the
                                  // band-bucket join under 10× occupancy
    "sim_ann_ivf_batch_scan",     // batch ANN read, nLists ∝ n layout:
                                  // per-query candidates constant, so the
                                  // curve should track |queries| (10×)
    "sim_ann_ivfpq_batch_scan",   // IVFADC batch read, nLists ∝ n: probed
                                  // cells bound the ADC sweep, so the
                                  // curve should track |queries| too
    "sim_ann_ivfsq_batch_scan",   // IVF-SQ8 batch read, nLists ∝ n: the
                                  // int8 codes sweep under the same probe
                                  // machinery — curve should track its
                                  // ivfpq sibling's
    "sim_ann_ivf_batch_scan_join",// batch read through the BROADCAST-JOIN
                                  // probe regime (joinThreshold=0): the
                                  // 100× assignment path with no literal
                                  // centroids — curve should match the
                                  // hier-literal scan's (r8 verdict asked
                                  // for this measured, not asserted)
    "dedup_dup_spans",            // Lee et al. span mine: gram-hash
                                  // shuffle, no global sort — 1.4× warm
                                  // at 10× when added (r8 scout)
    "text_bm25_indexed",          // persisted inverted index build + term-
                                  // bucketed pruned read — 1.4× warm at
                                  // 10× when added (r8 scout)
    "corpus_pack",                // greedy sequence packing via per-bucket
                                  // window — 1.4× warm at 10× (r8 scout)
    "q13_customer_distribution",  // TPC-H Q13: outer join at 10× orders
                                  // per customer + double aggregation —
                                  // the SQL surface's fan-out probe
    "q18_large_volume",           // TPC-H Q18: grouped-HAVING IN subquery
                                  // over 10× lineitem, re-joined and
                                  // re-aggregated — two fact-table passes
    "q21_waiting_suppliers",      // TPC-H Q21: EXISTS + NOT EXISTS triple
                                  // self-correlation on l_orderkey —
                                  // replicas are order-disjoint, so the
                                  // per-order work is constant and the
                                  // curve should track the scan
    "pipeline_training_data",     // composed capstone END-TO-END (r11
                                  // verdict item 4): fingerprint dedup →
                                  // quality gate → salted split → per-split
                                  // token totals. Every stage is linear;
                                  // composition adds one groupBy shuffle on
                                  // the fingerprint and one on the split —
                                  // the curve should track the scan
    "pipeline_corpus_prep")       // composed capstone: dedup → quality +
                                  // langid gate → 50/40 token chunking.
                                  // Explode-heavy but map-side after the
                                  // dedup shuffle; the presentation sort is
                                  // EliminateSorts-dropped under the probe's
                                  // count()
    // The graph family is admissible because lineitem replicas remap BOTH
    // keys (l_orderkey and l_partkey offset per replica): the 10× corpus is
    // ten DISJOINT copies of the co-purchase graph — 10× nodes and edges at
    // preserved degree distribution — so the curve measures the operator,
    // not synthetic degree inflation (wedge work is degree-quadratic; an
    // unmapped l_partkey would make it a 100× workload labeled 10×).
    // The % 5 gate slice survives the offset (IdOffset ≡ 0 mod 5).

  private val IdOffset = 100000000L

  /** Stage `copies`× replicas of documents/embeddings/lineitem under
    * `outDir`, once (a marker file short-circuits repeat calls, so the
    * staging cost amortizes across bench runs in one round).
    *
    * `constantDensity` (VERDICT r10 item 1): the default replica transform
    * PERMUTES each document's words — stable length/vocabulary stats, but
    * word MULTISETS are preserved, so multiset-keyed signatures (SimHash,
    * and any order-free sketch) are IDENTICAL across replicas: every doc
    * becomes a `copies`-way Hamming-0 family and the true-pair count grows
    * quadratically in `copies` — the probe then measures a pathological
    * output size, not the operator. Constant-density mode additionally
    * SUBSTITUTES ~20% of word positions with a replica-tagged variant
    * (deterministic in (word, position, replica)), so replicas diverge the
    * way real near-dups do: cross-replica Jaccard collapses (P(8-gram
    * untouched) ≈ 0.8⁸ ≈ 0.17 → J ≈ 0.09, below every mine threshold) and
    * SimHash signatures separate, while WITHIN-replica planted near-dups
    * survive (similar texts get the same substitutions at matching
    * positions). Duplicate DENSITY is then constant in `copies` — the
    * workload a bigger real corpus actually presents. Embedding replicas
    * in this mode widen the per-dim noise ±1.2 (vs ±0.4), so replica
    * vectors decorrelate into genuinely distinct points instead of a
    * dense blob straddling one cell boundary (the r10 recall-floor
    * confound). Word counts, doc lengths, norms stay O(original) in both
    * modes.
    */
  def stage(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int = 10, constantDensity: Boolean = false): Unit = {
    // v7: supplier staged verbatim for the TPC-H shape probes; v6:
    // customer staged verbatim for the join-view probe; v5: orders
    // staged (key-offset) for the lake-merge probe; v4 added the
    // lineitem l_partkey offset (degree-preserving graph replica — see
    // ScaleQueries note); marker versioned so a transform change
    // invalidates a previously staged corpus. Constant-density corpora
    // carry their own marker lineage (cd_v1).
    val tag = if (constantDensity) s"${copies}_cd_v1" else s"${copies}_v7"
    val marker = java.nio.file.Paths.get(outDir, s"_STAGED_$tag")
    if (java.nio.file.Files.exists(marker)) return
    requireNoForeignMarker(outDir, mog = false)
    val t0 = System.nanoTime()

    def replicate(name: String, perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$baseDir/$name.parquet")
      val reps = (0 until copies).map(i => perturb(base, i))
      reps.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    replicate("documents", { (df, i) =>
      val off = col("doc_id") + lit(i * IdOffset)
      val text =
        if (i == 0) col("text")
        else {
          // deterministic per-replica word shuffle: stable stats, divergent
          // shingles. zip_with pairs each word with its position; the sort
          // key hashes (word, position, replica).
          // leading whitespace yields an empty first token from split —
          // drop it rather than shuffling a phantom "word" into the text
          val ws0 = filter(split(col("text"), "\\s+"),
            w => length(w) > 0)
          // constant-density: substitute ~20% of word POSITIONS with a
          // replica-tagged variant BEFORE the shuffle — diverges the word
          // multiset (SimHash separates, cross-replica Jaccard collapses)
          // while within-replica near-dups keep matching substitutions
          val ws =
            if (!constantDensity) ws0
            else zip_with(ws0, sequence(lit(0), size(ws0) - 1),
              (w, p) => when(pmod(xxhash64(w, p, lit(i)), lit(5)) === 0,
                concat(w, lit("~" + i))).otherwise(w))
          val keyed = zip_with(ws, sequence(lit(0), size(ws) - 1),
            (w, p) => struct(
              xxhash64(w, p, lit(i)).as("h"), w.as("w")))
          when(size(ws) > 1,
            array_join(transform(array_sort(keyed), s => s.getField("w")), " "))
            .otherwise(col("text"))
        }
      // n_chars recomputed from the rewritten text: the single-space
      // rejoin collapses whitespace runs, so carrying the original count
      // would leave the metadata inconsistent with the replica's text
      // (length-sensitive families would measure a misdescribed workload)
      df.select(off.as("doc_id"), text.as("text"), col("lang"),
        col("source"), length(text).cast("long").as("n_chars"))
    })

    replicate("embeddings", { (df, i) =>
      val off = col("vec_id") + lit(i * IdOffset)
      // constant-density mode triples the noise amplitude (±1.2 vs ±0.4)
      // so replica vectors are distinct points, not a dense blob around
      // the original straddling one cell boundary (recall-floor confound)
      val amp = if (constantDensity) 2.4 else 0.8
      val emb =
        if (i == 0) col("embedding")
        else zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, j) => (x + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000))
            .cast("double") / 1000.0 - 0.5) * amp).cast("float"))
      // labels offset per replica: a 10× corpus realistically has ~10×
      // MORE near-dup clusters of the same size, not the same clusters 10×
      // bigger — without this, the per-label truth blocks (a validation
      // structure) grow linearly and their pair joins quadratically, and
      // the scale curve measures the synthetic pathology instead of the
      // operator
      df.select(off.as("vec_id"), emb.as("embedding"),
        (col("label") + lit(i * 1000)).as("label"))
    })

    replicate("lineitem", { (df, i) =>
      // both graph keys offset: replica i's co-purchase graph is disjoint
      // from replica j's (10× nodes/edges, same degree distribution) —
      // an order never spans replicas and a part never gains cross-replica
      // degree. Value distributions otherwise repeat, which is what the
      // z-order/stats family wants (row count and clustering drive cost).
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * IdOffset))
        .withColumn("l_partkey", col("l_partkey") + lit(i * IdOffset))
    })

    // customer rides UNREPLICATED (verbatim copy): the join-view probe
    // keys orders on o_custkey, which the orders replicas do NOT offset —
    // a 10× corpus is then 10× orders per customer (fan-out growth, the
    // realistic shape), and the dimension side stays dimension-sized.
    spark.read.parquet(s"$baseDir/customer.parquet")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // supplier likewise rides UNREPLICATED: l_suppkey is not offset, so
    // each supplier sees 10× lineitems — dimension-sized build side,
    // fact-sized fan-out, the realistic scale-up for the TPC-H probes
    spark.read.parquet(s"$baseDir/supplier.parquet")
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    replicate("orders", { (df, i) =>
      // key-offset only: the merge probe keys everything on o_orderkey;
      // its +1e7 insert-key shift stays inside a replica's 1e8 stride, so
      // inserted keys never collide with another replica's orders
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * IdOffset))
    })

    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker,
      f"staged ${copies}x from $baseDir in ${(System.nanoTime() - t0) / 1e9}%.1fs\n")
  }

  /** Clustered (mixture-of-Gaussians) embedding corpus (VERDICT r11 item
    * 5): the replica corpora inherit the driver fixture's near-uniform
    * vectors, so IVF cells are arbitrary Voronoi partitions and recall at
    * auto defaults plateaus at the no-structure expectation (~0.64 —
    * BASELINE round-11 refutation). Production embedding spaces CLUSTER;
    * this mode stages an embeddings table drawn from a deterministic
    * mixture of K = n/200 well-separated components: centers uniform
    * ±2.0 per dim, point noise uniform ±0.25 — at 64 dims the expected
    * inter-center distance (≈13) dwarfs the intra-component spread
    * (≈1.6), the separation regime a trained text-embedding space
    * presents. Labels carry the component id (schema-compatible with the
    * driver table). Only embeddings are staged: the recall probe reads
    * nothing else. Deterministic in (row id, dim, component) via
    * xxhash64, like every other replica transform here.
    */
  def stageMog(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int = 100): Unit = {
    val marker = java.nio.file.Paths.get(outDir, s"_STAGED_${copies}_mog_v1")
    if (java.nio.file.Files.exists(marker)) return
    requireNoForeignMarker(outDir, mog = true)
    val t0 = System.nanoTime()
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val total = base.count() * copies
    val k = math.max(32L, total / 200L)
    // deterministic uniform ±amp keyed on the hash args
    def u(h: Column, amp: Double): Column =
      (pmod(h, lit(1000)).cast("double") / 1000.0 - 0.5) * (2.0 * amp)
    val rows = spark.range(0L, total, 1L, 32)
      .withColumn("component", pmod(xxhash64(col("id"), lit("mog_asgn")), lit(k)))
    rows.select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (u(xxhash64(col("component"), j, lit("mog_ctr")), 2.0) +
          u(xxhash64(col("id"), j, lit("mog_pt")), 0.25)).cast("float"))
        .as("embedding"),
      col("component").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker,
      f"staged mog n=$total k=$k dim=$dim from $baseDir in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs\n")
  }

  /** Refuse to stage one MODE over a dir staged in the other (r12 review):
    * mog writes ONLY embeddings, so mog-over-replica would leave a dir
    * whose documents/lineitem say "replica corpus" while the embeddings
    * are MoG — and the replica marker would keep short-circuiting stage()
    * as if the dir were consistent. Same-mode re-stages (a transform
    * version bump, a different copies count) rewrite every table they own
    * and stay self-consistent, so those remain allowed. */
  private def requireNoForeignMarker(outDir: String, mog: Boolean): Unit = {
    val d = new java.io.File(outDir)
    if (!d.exists()) return
    val foreign = Option(d.list()).getOrElse(Array.empty)
      .filter(_.startsWith("_STAGED_"))
      .filter(n => n.contains("_mog_") != mog)
    require(foreign.isEmpty,
      s"$outDir is already staged in the other mode (${foreign.mkString(", ")}) " +
        "— use a fresh directory per staging mode")
  }

  /** Manual staging entry point (Bench stages lazily; this pre-stages or
    * re-validates a transform change without a full bench run). */
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else ""
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "mog") stageMog(spark, base, out, copies)
    else stage(spark, base, out, copies, constantDensity = mode == "cd")
    spark.stop()
  }
}
