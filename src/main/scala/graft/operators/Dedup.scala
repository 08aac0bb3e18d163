package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale notes (100 TB): signatures are computed entirely map-side (no
  * explode, no shuffle); the only shuffles are the LSH band-bucket groupBy
  * (which touches just colliding candidates, the point of LSH) and final
  * pair dedup. The exact-pair variants (n-gram Jaccard, blocked cosine) are
  * the small-scale baselines the approximate paths are validated against.
  */
object Dedup {

  val Prime: Long = 2147483647L // 2^31-1, Mersenne — MinHash modulus

  /** Exact dedup: one representative row (min id) per distinct text.
    * Hash-groupBy — partial map-side aggregation + one shuffle on the text
    * key; at 100 TB swap the raw text key for `fingerprint(text)` (md5) to
    * keep shuffle rows small — `dedupExactByFingerprint` below.
    */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col(textCol), col("n_copies"))

  /** Exact dedup keyed on md5 fingerprint — constant-width shuffle key. */
  def dedupExactByFingerprint(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** (id, gram-hash array) — the shared front of every shingle-based
    * operator: canonical text is materialized in its own projection (the
    * shingle lambda references it per element), then each distinct k-gram
    * becomes its 8-byte xxhash64. Map-side, codegen'd, zero shuffle; both
    * the exact-Jaccard baseline and MinHash signatures derive from this one
    * frame, so quality-metric queries compute the regexp/shingle pass once.
    */
  def gramHashes(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8): DataFrame =
    // one codegen'd pass: canonicalize ONCE per row, shingle, hash,
    // distinct — the composable projection form re-ran the canonical
    // regex per shingle after CollapseProject inlining (5.7× slower at
    // sf0.1, 16 s single-core in the ppjoin front; see GramShingleHashes)
    docs.select(col(idCol).as("id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.GramShingleHashes(
          org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
          shingleK)).as("hs0"))

  /** MinHash signatures: `numPerm` min-hashes over k-char shingles.
    * h_j(s) = (a_j * xxhash64(s) + b_j) mod p, sig_j = min over shingles.
    * The numPerm mins are computed by the MinHashSig Catalyst expression in
    * a single primitive loop (the composable one-expression form re-ran the
    * regexp canonicalization per shingle AND per permutation — 50× slower).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, numPerm: Int = 64): DataFrame =
    minhashSignaturesFromHashes(gramHashes(docs, idCol, textCol, shingleK),
      idCol, numPerm)

  /** [[minhashSignatures]] over a pre-built [[gramHashes]] frame. */
  def minhashSignaturesFromHashes(hashed: DataFrame, idCol: String,
      numPerm: Int): DataFrame =
    hashed
      .select(col("id").as(idCol),
        transform(col("hs0"), h => pmod(h, lit(Prime))).as("hs"))
      .select(col(idCol),
        graft.functions.SketchFunctions
          .minhash_sig(col("hs"), numPerm).as("sig"))

  /** Banded LSH over MinHash signatures → candidate pairs with estimated
    * Jaccard (fraction of agreeing signature positions). `bands × rowsPerBand
    * = numPerm`; two docs collide in a band iff that band's signature slice
    * matches exactly, so the join only materializes plausible pairs.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame =
    // Lazy localCheckpoint: the signature table is referenced three times
    // (band explode + both candidate joins); checkpointing computes it once
    // at first use and serves the other references from storage instead of
    // re-running the shingle pipeline per reference.
    minhashLshPairsFromSigs(
      minhashSignatures(docs, idCol, textCol, shingleK, numPerm)
        .localCheckpoint(false),
      idCol, numPerm, bands, threshold)

  /** (id, band, band_hash) stream for a signature table — one row per band,
    * the band's signature slice collapsed to a 64-bit key. Factored out so
    * batch LSH ([[minhashLshPairsFromSigs]]) and incremental LSH
    * ([[incrementalNear]]) share the exact key recipe (keys built by
    * different code paths would never collide).
    */
  def bandKeys(sigs: DataFrame, idCol: String, numPerm: Int,
      bands: Int): DataFrame = {
    // A non-dividing band count silently drops trailing signature positions
    // (recall loss with no error); bands > numPerm makes every band key the
    // empty-slice constant and EVERY doc collides with every doc.
    require(bands > 0 && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    sigs.select(col(idCol),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, rows), _.cast("string"))))
      }: _*)).as(Seq("band", "band_hash")))
  }

  /** [[minhashLshPairs]] over an already-materialized signature table
    * (pass a checkpointed/cached frame — it is referenced three times).
    *
    * `maxBucketSize` caps each band bucket's posting list (sorted by id,
    * lowest kept) before pair expansion: an uncapped bucket of f ids
    * materializes f(f-1)/2 pairs inside one row value, which OOMs on
    * mega-clusters of near-identical docs. Pairs beyond the cap are
    * DROPPED — a deliberate, documented cap, sound for dedup because a
    * bucket that large is an exact-dup-grade cluster the cheaper
    * [[dedupExactByFingerprint]] pass already collapses, and every kept id
    * still pairs with the cluster's minimum id.
    */
  def minhashLshPairsFromSigs(sigs: DataFrame, idCol: String,
      numPerm: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = 1024, splitBucketSize: Int = 0): DataFrame = {
    // Band buckets are built with ONE shuffle (groupBy band+hash) and pairs
    // expand inside the posting-list array — the self-join form shuffled the
    // banded rows twice and then needed a third exchange to distinct the
    // pairs. Buckets are small by construction (a large bucket means the
    // band is too coarse), so the in-array f(f-1)/2 expansion is bounded;
    // signatures are attached to the (few) surviving candidate pairs
    // afterwards via doc-sized joins AQE broadcasts.
    //
    // `splitBucketSize` > 0 turns on the BIG-BUCKET SPLIT: buckets above
    // it re-key their members by the NEXT band's hash as well (a stricter
    // 2-band key), bounding in-bucket pair expansion by similarity rather
    // than by the positional id-order slice alone. Measured driver
    // (BASELINE.md round 8, 10× replica corpus): in-bucket pair work grew
    // 100× for 10× docs — 631 k → 63.4 M, 87% of it from buckets > 64 —
    // because a rows=2 band key is weak and bucket occupancy scales with
    // replica df. Truly-similar pairs survive the stricter key with
    // probability s^(2·rows) (high exactly where it matters, s ≈ 1);
    // moderately-similar bucket-mates — the quadratic bulk — thin out.
    // A recall trade like the cap itself, but similarity-correlated
    // instead of positional.
    val banded = bandKeys(sigs, idCol, numPerm, bands)
    minhashLshPairsFromBuckets(sigs, banded,
      lshAllBuckets(banded, idCol), idCol, numPerm, bands, threshold,
      maxBucketSize, splitBucketSize)
  }

  /** [[minhashLshPairsFromSigs]] over prebuilt banded rows + pre-split
    * buckets, so a caller that ALSO computes the truncation panel shares
    * one banding groupBy with it. */
  private[operators] def minhashLshPairsFromBuckets(sigs: DataFrame,
      banded: DataFrame, bucketsAll: DataFrame, idCol: String,
      numPerm: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = 1024, splitBucketSize: Int = 0): DataFrame =
    minhashLshPairsFromFinal(sigs,
      lshFinalBucketsFrom(banded, bucketsAll, idCol, bands,
        splitBucketSize), idCol, numPerm, threshold, maxBucketSize)

  /** The mine over an already-built FINAL bucket frame — the form the
    * governed metric path uses so the big-bucket split's groupBy+join is
    * evaluated once and shared with the cap chooser and the truncation
    * panel (r13 review: the governed default had re-evaluated it three
    * times per gate run). */
  private[operators] def minhashLshPairsFromFinal(sigs: DataFrame,
      finalBuckets: DataFrame, idCol: String, numPerm: Int,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    def expand(buckets: DataFrame): DataFrame = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    val candidates = expand(
      finalBuckets
        .select(slice(col("all_ids"), 1, maxBucketSize).as("ids")))
      .distinct()
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // SigMatchCount primitive: the composable zip_with + filter form
        // allocated two arrays and paid per-element interpreted lambda
        // eval per candidate PAIR — |pairs|·numPerm on the verify path
        (graft.functions.SketchFunctions.sig_match_count(
          col("sig_a"), col("sig_b"))
          / numPerm.toDouble).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Pre-split band buckets: (band, band_hash, sorted member list), one
    * groupBy — the shared upstream of the miner, the split, and the
    * truncation panel. */
  private[graft] def lshAllBuckets(banded: DataFrame,
      idCol: String): DataFrame =
    banded.groupBy(col("band"), col("band_hash"))
      .agg(array_sort(collect_list(col(idCol))).as("all_ids"))
      .where(size(col("all_ids")) > 1)

  /** Final LSH band buckets (UNSLICED member lists) — the single source of
    * truth for bucket construction shared by the pair miner (which slices
    * at `maxBucketSize` before expansion) and [[lshTruncationStats]] (which
    * measures how much that slice would drop). `splitBucketSize` > 0
    * re-keys buckets above it by the next band's hash (see
    * [[minhashLshPairsFromSigs]]).
    */
  private[graft] def lshFinalBuckets(banded: DataFrame, idCol: String,
      bands: Int, splitBucketSize: Int): DataFrame =
    lshFinalBucketsFrom(banded, lshAllBuckets(banded, idCol), idCol,
      bands, splitBucketSize)

  /** [[lshFinalBuckets]] over an already-built (ideally checkpointed)
    * pre-split bucket frame, so callers computing BOTH the mine and the
    * truncation panel pay the banding groupBy once. */
  private[graft] def lshFinalBucketsFrom(banded: DataFrame,
      bucketsAll: DataFrame, idCol: String, bands: Int,
      splitBucketSize: Int): DataFrame = {
    if (splitBucketSize <= 0) bucketsAll.select(col("all_ids"))
    else {
      val small = bucketsAll
        .where(size(col("all_ids")) <= splitBucketSize)
        .select(col("all_ids"))
      val bigMembers = bucketsAll
        .where(size(col("all_ids")) > splitBucketSize)
        .select(col("band"), col("band_hash"),
          explode(col("all_ids")).as(idCol))
      // each member's NEXT band hash: banded re-keyed so that (id, band)
      // lines up with the band whose bucket is being split (wrap-around)
      val nextKeys = banded.select(col(idCol),
        pmod(col("band") + lit(bands) - 1, lit(bands)).as("band"),
        col("band_hash").as("hash2"))
      val sub = bigMembers.join(nextKeys, Seq(idCol, "band"))
        .groupBy(col("band"), col("band_hash"), col("hash2"))
        .agg(array_sort(collect_list(col(idCol))).as("all_ids"))
        .where(size(col("all_ids")) > 1)
      small.unionByName(sub.select(col("all_ids")))
    }
  }

  /** Shared pre-flight bucket-cap chooser (VERDICT r12 item 7 — the same
    * governed posture as [[containmentPairsGoverned]]'s df-cap ladder,
    * applied to the POSTING-LIST caps): `sizes` is the miner's own final
    * bucket-occupancy frame (one `f`: LONG column), so the estimate —
    * total in-bucket pair expansion Σ_b C(min(f_b, cap), 2) — is exact,
    * not sampled, and adds zero shuffles when the bucket frame is the
    * checkpointed one the miner consumes anyway. Walks `capLadder`
    * largest-first and picks the first cap whose expansion fits `budget`;
    * ladder floor if none fits (bounded, documented recall trade — the
    * same trade the fixed cap makes, now budget-driven). The profile is
    * engine-hash-dependent (band/chunk keys are xxhash64), so gates pin
    * the CHOICE per sf as a measured literal, like the truncation
    * counters — unlike containment's string-exact gram-df profile, an
    * external oracle cannot replay it.
    */
  private[operators] def chooseBucketCap(sizes: DataFrame, budget: Long,
      capLadder: Seq[Int]): Int = {
    require(capLadder.nonEmpty && capLadder == capLadder.sorted.reverse,
      "capLadder must be non-empty and descending")
    val est = sizes.agg(
      {
        val m = least(col("f"), lit(capLadder.head.toLong))
        coalesce(sum((m * (m - 1) / 2).cast("long")), lit(0L))
          .as(s"e${capLadder.head}")
      },
      capLadder.tail.map { c =>
        val m = least(col("f"), lit(c.toLong))
        coalesce(sum((m * (m - 1) / 2).cast("long")), lit(0L)).as(s"e$c")
      }: _*).head()
    capLadder.zipWithIndex
      .collectFirst { case (c, i) if est.getLong(i) <= budget => c }
      .getOrElse(capLadder.last)
  }

  /** One-row truncation panel for the LSH candidate stage (VERDICT r10
    * item 3 — the silent recall/boundedness trades, surfaced as gate
    * metrics): how many pre-split buckets the big-bucket split re-keyed,
    * and how many FINAL buckets the `maxBucketSize` slice would truncate
    * (with the total ids it drops). All counts are engine-hash-dependent
    * (band keys come from xxhash64 signatures), so gates pin them as
    * deterministic per-sf values, like the recall floors.
    */
  def lshTruncationStats(sigs: DataFrame, idCol: String, numPerm: Int,
      bands: Int, maxBucketSize: Int = 1024,
      splitBucketSize: Int = 0): DataFrame = {
    val banded = bandKeys(sigs, idCol, numPerm, bands)
    lshTruncationStatsFrom(banded, lshAllBuckets(banded, idCol), idCol,
      bands, maxBucketSize, splitBucketSize)
  }

  /** [[lshTruncationStats]] over prebuilt (checkpointed) banded rows and
    * pre-split buckets — the form the minhash gate uses so the panel adds
    * ZERO banding shuffles on top of the miner's own. */
  private[operators] def lshTruncationStatsFrom(banded: DataFrame,
      bucketsAll: DataFrame, idCol: String, bands: Int,
      maxBucketSize: Int, splitBucketSize: Int): DataFrame =
    lshTruncationStatsFromFinal(bucketsAll,
      lshFinalBucketsFrom(banded, bucketsAll, idCol, bands,
        splitBucketSize), maxBucketSize, splitBucketSize)

  /** The panel over an already-built FINAL bucket frame (shared with the
    * miner and the governed cap chooser — see
    * [[minhashLshPairsFromFinal]]). */
  private[operators] def lshTruncationStatsFromFinal(bucketsAll: DataFrame,
      finalBuckets: DataFrame, maxBucketSize: Int,
      splitBucketSize: Int): DataFrame = {
    // pre-split occupancy derives from the SAME bucket frame the split and
    // miner consume — no separate count groupBy
    val preSizes = bucketsAll
      .select(size(col("all_ids")).cast("long").as("f"))
    val finSizes = finalBuckets
      .select(size(col("all_ids")).cast("long").as("f"))
    // coalesce: an empty bucket set (no collisions at tiny sf) must read
    // as zero truncation, not NULL
    val pre = preSizes.agg(
      count(lit(1)).as("n_buckets"),
      coalesce(sum(when(col("f") > splitBucketSize &&
        lit(splitBucketSize) > 0, 1L).otherwise(0L)), lit(0L))
        .as("n_buckets_split"))
    val fin = finSizes.agg(
      coalesce(sum(when(col("f") > maxBucketSize, 1L).otherwise(0L)),
        lit(0L)).as("n_buckets_over_cap"),
      coalesce(sum(when(col("f") > maxBucketSize, col("f") - maxBucketSize)
        .otherwise(0L)), lit(0L)).as("n_ids_dropped"))
    pre.crossJoin(fin)
  }

  // ---------------------------------------------------- incremental dedup

  /** Canonical-fingerprint index of an existing corpus — the structure a
    * production pipeline MAINTAINS (append per accepted batch) so daily
    * increments dedup against 100 TB without rescanning it. At scale, write
    * it bucketed on `fp` ([[graft.operators.Layout.writeBucketed]]) so the
    * per-batch anti-join co-locates without shuffling the index.
    */
  def fingerprintIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(T.fingerprint(col(textCol)).as("fp")).distinct()

  /** Exact incremental dedup: batch rows whose canonical fingerprint is NOT
    * in the corpus index survive (with their `fp` attached, ready to extend
    * the index). One anti-join; the batch side is the small side.
    */
  def incrementalExact(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String): DataFrame =
    batch
      .select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .join(index, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))

  /** Near-dup band-key index: every (band, band_hash) the corpus occupies. */
  def bandKeyIndex(corpusSigs: DataFrame, idCol: String, numPerm: Int,
      bands: Int): DataFrame =
    bandKeys(corpusSigs, idCol, numPerm, bands)
      .select(col("band"), col("band_hash")).distinct()

  /** Near-dup incremental dedup: a batch doc is dropped when ANY of its
    * MinHash band keys collides with the corpus index (the standard LSH
    * near-dup test, one-sided). Returns surviving batch signature rows.
    * Collisions are found with a semi-join on (band, band_hash); only the
    * batch's band keys (bands × |batch| rows) move.
    */
  def incrementalNear(batchSigs: DataFrame, corpusIndex: DataFrame,
      idCol: String, numPerm: Int, bands: Int): DataFrame = {
    val hit = bandKeys(batchSigs, idCol, numPerm, bands)
      .join(corpusIndex, Seq("band", "band_hash"), "left_semi")
      .select(col(idCol)).distinct()
    batchSigs.join(hit, Seq(idCol), "left_anti")
  }

  /** SimHash (Charikar): 64-bit signature where bit i is the sign of the
    * sum of ±1 votes from each token's hash bit i. Map-side only.
    * Signature bits are derived from a materialized token-hash array (see
    * [[simhashTable]]) so tokenization runs once, not 64×.
    */
  private def tokenHashes(text: Column): Column =
    transform(regexp_extract_all(lower(text), lit("\\S+"), lit(0)), xxhash64(_))

  private def simhashFromHashes(hashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val vote = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce[Column](_ bitwiseOR _)
  }

  /** Column form for ad-hoc use (single expression tree — fine for tests;
    * prefer [[simhashTable]] on data paths). */
  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** (id, simhash) table: tokenization once in built-ins, bit votes in the
    * SimHashSig Catalyst expression (single primitive loop per row). */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), tokenHashes(col(textCol)).as("ths"))
      .select(col(idCol),
        graft.functions.SketchFunctions
          .simhash_sig(col("ths")).as("sh"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found via
    * chunk blocking: with `n` chunks, distance ≤ n-1 ⇒ at least one chunk is
    * identical (pigeonhole), so candidates come from chunk-bucket collisions
    * — no cross join. Chunk count is the smallest power-of-two > maxHamming
    * (4/8/16), trading candidate volume against distance budget.
    *
    * Buckets are capped at `maxBucketSize` ids (sorted, lowest kept) before
    * pair expansion — the same bounded-bucket treatment as
    * [[minhashLshPairsFromSigs]]: a web-corpus cluster of 100k boilerplate
    * near-identicals shares every chunk value, and an uncapped self-join on
    * the chunk would materialize ~N²/2 × nChunks rows.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1024): DataFrame =
    simhashPairsFromTable(
      simhashTable(docs, idCol, textCol).localCheckpoint(false),
      idCol, maxHamming, maxBucketSize)

  /** (id, chunk, chunk_val) blocking rows for a signature table — the
    * shared front of the pair miner and [[simhashTruncationStats]]. */
  private[graft] def simhashChunked(sh: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 15, "chunk blocking supports distance <= 15 (16 chunks)")
    val nChunks = if (maxHamming <= 3) 4 else if (maxHamming <= 7) 8 else 16
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    sh.select(col(idCol),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sh"), c * width).bitwiseAND(mask)): _*))
        .as(Seq("chunk", "chunk_val")))
  }

  /** Unsliced SimHash chunk buckets — one groupBy, shared by the pair
    * miner (which slices at `maxBucketSize` before expansion) and the
    * truncation panel (which measures what that slice drops). */
  private[operators] def simhashBuckets(chunked: DataFrame,
      idCol: String): DataFrame =
    chunked.groupBy(col("chunk"), col("chunk_val"))
      .agg(array_sort(collect_list(col(idCol))).as("all_ids"))
      .where(size(col("all_ids")) > 1)

  /** One-row truncation panel for the SimHash chunk-bucket cap (VERDICT
    * r10 item 3): buckets whose posting list exceeds `maxBucketSize`
    * (their tails are sliced off before pair expansion) and the ids those
    * slices drop. Hash-dependent counts — gates pin them per sf. Pass the
    * SAME (checkpointed) signature table the miner consumes.
    */
  def simhashTruncationStats(sh: DataFrame, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1024): DataFrame =
    simhashTruncationStatsFromBuckets(
      simhashBuckets(simhashChunked(sh, idCol, maxHamming), idCol),
      maxBucketSize)

  private[operators] def simhashTruncationStatsFromBuckets(
      bucketsAll: DataFrame, maxBucketSize: Int): DataFrame =
    bucketsAll.select(size(col("all_ids")).cast("long").as("f"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("f") > maxBucketSize, 1L).otherwise(0L)),
          lit(0L)).as("n_buckets_over_cap"),
        coalesce(sum(when(col("f") > maxBucketSize, col("f") - maxBucketSize)
          .otherwise(0L)), lit(0L)).as("n_ids_dropped"))

  /** [[simhashPairs]] over a pre-built (checkpointed) signature table —
    * the form metric gates use so the signature pass runs once for the
    * mine and the truncation panel. */
  def simhashPairsFromTable(sh: DataFrame, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1024): DataFrame =
    simhashPairsFromBuckets(sh,
      simhashBuckets(simhashChunked(sh, idCol, maxHamming), idCol),
      idCol, maxHamming, maxBucketSize)

  /** [[simhashPairsFromTable]] over prebuilt (checkpointed) buckets, so a
    * caller also computing the truncation panel pays the bucket groupBy
    * once. */
  private[operators] def simhashPairsFromBuckets(sh: DataFrame,
      bucketsAll: DataFrame, idCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val buckets = bucketsAll
      .select(slice(col("all_ids"), 1, maxBucketSize).as("ids"))
      .where(size(col("ids")) > 1)
    val cand = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    // hamming is chunk-independent, so the distinct candidate set needs no
    // per-chunk min aggregation — one signature join per side suffices.
    // shuffle_hash on the SIGNATURE side: cand's size is planner-opaque
    // (explode → distinct over unanalyzed lineage), and on a dup-dense
    // corpus the candidate set is the BIG side — the 100× probe caught
    // Catalyst broadcasting it (a >1 GiB driver collect, maxResultSize
    // abort). The signature table is the per-key-small side and the hint
    // keeps both joins shuffle-local at any corpus size.
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard pairs — the ground-truth baseline for MinHash.
    * Explodes distinct shingles and equi-joins on the shingle; quadratic in
    * docs sharing a shingle, so for 100 TB use `minhashLshPairs` and keep
    * this for validation samples.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, threshold: Double = 0.5): DataFrame = {
    // Grams are hashed AFTER the explode, in a codegen'd Project over the
    // exploded stream — hashing inside the (CodegenFallback) HOF lambda
    // pre-explode costs 4-5× here because this un-checkpointed plan
    // evaluates the gram pipeline once per join branch and once per sizes
    // branch. The [[gramHashes]]+FromHashes split is for callers that
    // checkpoint the hashed frame and reuse it across operators
    // ([[minhashQualityMetricsFromParts]]).
    val canon = docs.select(col(idCol).as("id"),
      T.canonicalText(col(textCol)).as("ct"))
    val sh = canon
      .select(col("id"), T.shinglesOfCanonical(col("ct"), shingleK).as("arr"))
      .select(col("id"), size(col("arr")).as("n"), explode(col("arr")).as("g0"))
      .select(col("id"), col("n"), xxhash64(col("g0")).as("g"))
    pairsFromGramTable(sh, threshold)
  }

  /** [[ngramJaccardPairs]] over a pre-built (and checkpointed!)
    * [[gramHashes]] frame. */
  /** `gramDf`: an optional pre-computed (g, df) table over the SAME
    * `hashed` frame (the [[containmentPairsFromHashes]] memoization
    * contract) — callers that already hold one (the governed fallback,
    * the recall probes) skip this mine's internal df aggregation. */
  def ngramJaccardPairsFromHashes(hashed: DataFrame,
      threshold: Double, maxDocFreq: Int = Int.MaxValue,
      gramDf: Option[DataFrame] = None): DataFrame = {
    // n (the doc's FULL distinct-gram count) rides the gram stream from the
    // explode on — the df-cap filter below must not shrink it (capped
    // jaccard UNDERcounts overlap but keeps true set sizes).
    val g = hashed.select(col("id"), size(col("hs0")).as("n"),
      explode(col("hs0")).as("g"))
    // Document-frequency cap: a gram held by m docs contributes m²/2 rows
    // to the pair join, so posting-list length is the quadratic lever —
    // and it GROWS with corpus size (boilerplate grams appear in a fixed
    // FRACTION of docs), which is what turns the uncapped mine super-linear
    // at 10×: every df scales by 10, every common gram's pair block by 100.
    // Grams above the cap are boilerplate — shared formatting can't witness
    // near-duplication — so they are dropped from `common` while na/nb stay
    // FULL gram counts: the capped jaccard only ever UNDERcounts, and only
    // for pairs whose overlap leans on ultra-common grams. The df filter
    // shuffles on the same gram key the pair join needs, so it rides the
    // exchange the join was already paying.
    val filtered =
      if (maxDocFreq == Int.MaxValue) g
      else g.join(
        gramDf.getOrElse(
          g.groupBy(col("g")).agg(count(lit(1)).as("df")))
          .where(col("df") <= maxDocFreq).select(col("g")),
        "g")
    pairsFromGramTable(filtered, threshold)
  }

  /** Containment (overlap-coefficient) pairs over a pre-built
    * [[gramHashes]] frame: |g(A) ∩ g(B)| / min(|g(A)|, |g(B)|) ≥
    * `threshold` — the doc-in-doc detector (a short document quoted inside
    * a long one scores near 1.0 here while its Jaccard, diluted by the
    * host's size, sails under every near-dup threshold; Broder's
    * resemblance-vs-containment distinction).
    *
    * Same mine shape as [[ngramJaccardPairsFromHashes]] with two deliberate
    * differences: there is NO size-compatibility prune (size skew is the
    * signal here, not noise — the prune would discard exactly the
    * quote-in-host pairs this exists to find), so the document-frequency
    * cap is the only quadratic lever — keep it finite; and the score
    * denominator is min(na, nb), with na/nb still the FULL distinct-gram
    * counts (the cap only ever UNDERcounts the overlap).
    *
    * Measured curve on the cap (warm-code, cold-data, quiet machine):
    * sf0.1 → 30× replicas is 3.23 s → 5.26 s (1.63× for 30× data) — the
    * Σ min(df, cap)² bound clamps exactly like the pair mine's (whose 30×
    * point was hump-shaped too): once every live gram saturates the cap,
    * pair work stops growing with the corpus and the curve tracks the
    * linear gram front.
    */
  def containmentPairsFromHashes(hashed: DataFrame,
      threshold: Double, maxDocFreq: Int = GovernedCap,
      gramDf: Option[DataFrame] = None): DataFrame = {
    // DEFAULT = GOVERNED (round 12, mirroring PPJoin's r9 posture): the
    // fixed-cap mine's work still grows with the corpus (measured 90.9×
    // for 100× data at cap 256 on the constant-density corpus — the
    // closest-to-bar number in the repo), while the self-sizing cap holds
    // 65.8× under the same probe. A FIXED cap remains the explicit
    // override for callers that need a pinned recall surface.
    if (maxDocFreq == GovernedCap)
      return containmentPairsGoverned(hashed, threshold, gramDf = gramDf)._1
    val g = hashed.select(col("id"), size(col("hs0")).as("n"),
      explode(col("hs0")).as("g"))
    val filtered =
      if (maxDocFreq == Int.MaxValue) g
      else g.join(
        gramDf.getOrElse(
          g.groupBy(col("g")).agg(count(lit(1)).as("df")))
          .where(col("df") <= maxDocFreq).select(col("g")),
        "g")
    // sizes stay the r15 aggregation over `filtered` — see
    // pairsFromGramTable's note (r16 §8): the checkpoint-projection
    // variant's size estimate flipped the plan into the
    // coalesced-expansion shape, 2× wall at the 10× probe for identical
    // cpu.
    filtered.as("a").join(filtered.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(filtered.groupBy(col("id").as("id_a"))
        .agg(first(col("n")).as("na")), "id_a")
      .join(filtered.groupBy(col("id").as("id_b"))
        .agg(first(col("n")).as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common") / least(col("na"), col("nb"))).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Sentinel `maxDocFreq` for [[containmentPairsFromHashes]]: self-size
    * the df cap via [[containmentPairsGoverned]]'s pre-flight expansion
    * estimate — the operator's DEFAULT since round 12. */
  val GovernedCap: Int = -1

  /** GOVERNED containment mine — the 100 TB default posture, mirroring
    * [[prefixFilterPairs]]'s r9 budget discipline: the df cap is the
    * operator's only quadratic lever (no size prune by design — skew IS
    * the signal), and a FIXED cap's work, Σ_{df≤cap} df·(df−1)/2 join
    * expansions, still grows with the corpus (measured 90.9× for 100×
    * data on the constant-density corpus, the round-11 closest-to-bar
    * number). This variant SELF-SIZES the cap: a pre-flight estimate —
    * one small aggregation over the (g, df) table, exact, not sampled —
    * walks `capLadder` largest-first and picks the first cap whose
    * expansion estimate fits `pairBudgetPerDoc · |docs|`; if none fits,
    * the ladder floor applies (bounded, documented recall trade — grams
    * above the chosen cap drop entirely, the same trade the fixed cap
    * makes, now budget-driven). The rule is a pure function of the
    * STRING-gram df profile, so an engine-independent oracle replays the
    * cap choice and the mine bit-for-bit.
    *
    * The budget counts join EXPANSIONS (every shared-gram occurrence
    * pair), not result pairs — a doc pair sharing k live grams costs k
    * expansions before the aggregation collapses it. 2048 expansions/doc
    * is therefore a much tighter leash than it sounds (PPJoin's 64/doc
    * counts post-prefix CANDIDATE pairs, a smaller unit); on the
    * template-heavy fixture it picks cap 32 at sf0.01, visibly trading
    * 5 of 25 pairs — the erosion the truncation counters exist to pin.
    *
    * Returns (pairs, chosenCap). Pass the memoized `gramDf` where one
    * exists — the estimate then adds zero shuffles.
    */
  /** Measured cap-recall posture (r14, CAP_RECALL.json at 10× cd): on a
    * template-cluster-heavy corpus the df-cap is NOT a gentle recall
    * trade — the true near-dup pairs' shared grams can ALL exceed the cap
    * (every rung 256…8 mined ZERO of the 2 556 LSH-verified J≥0.4 pairs),
    * while signature-based LSH held recall 1.0 down to bucket cap 8. The
    * df-capped mines therefore NEVER serve as recall truth (r13 fix:
    * per-candidate exact verification + the unconditional
    * `n_grams_over_cap` counter), and corpora where near-duplication
    * rides template grams should mine with LSH/SimHash, keeping the
    * df-capped mines for the low-df regime the sf0.01 gate pins. */
  def containmentPairsGoverned(hashed: DataFrame, threshold: Double,
      expansionBudgetPerDoc: Long = 2048,
      capLadder: Seq[Int] = Seq(256, 128, 64, 32, 16, 8),
      gramDf: Option[DataFrame] = None,
      blindEmptyGuard: Option[Double] = Some(DefaultBlindEmptyMass)): (DataFrame, Int) = {
    val (pairs, cov) = containmentPairsGovernedDetailed(hashed, threshold,
      expansionBudgetPerDoc, capLadder, gramDf, blindEmptyGuard)
    (pairs, cov.chosenCap)
  }

  /** Coverage profile of a df-capped mine: how much of the corpus' gram
    * OCCURRENCE mass the cap dropped, and how many distinct grams sat over
    * it. `droppedGramMass` near 1.0 means the mine was blind to the
    * dominant (template) gram mass — on such corpora an EMPTY result is
    * indistinguishable from "no duplicates" without this signal
    * (CAP_RECALL.json r14 measured exactly that cliff at 10×). */
  final case class CapCoverage(chosenCap: Int, droppedGramMass: Double,
      gramsOverCap: Long, totalGramMass: Long) {
    def describe: String =
      f"cap=$chosenCap dropped_gram_mass=$droppedGramMass%.4f " +
        s"grams_over_cap=$gramsOverCap total_gram_mass=$totalGramMass"
  }

  /** Default dropped-gram-mass fraction above which an EMPTY governed
    * result fails loudly instead of returning (r14 verdict item 4). The
    * oracle fixtures mine non-empty pair sets at every scale with dropped
    * mass ≤0.83, and the engine never throws on a non-empty result — the
    * guard only fires for the blind-empty shape, where the measured cliff
    * corpora sit at 0.79–0.99 dropped mass with zero pairs. */
  val DefaultBlindEmptyMass: Double = 0.5

  /** [[containmentPairsGoverned]] with the coverage profile attached (r14
    * verdict item 4 — the result carries its own blindness signal). With
    * `blindEmptyGuard = Some(α)` (the DEFAULT), a mine whose chosen cap
    * dropped more than α of the gram mass AND that found ZERO pairs
    * throws an actionable error instead of returning an empty frame a
    * caller would read as "no duplicates": on template-heavy corpora the
    * true near-dup pairs' shared grams can ALL exceed the cap
    * (CAP_RECALL.json: every rung 256…8 mined zero of 2 556 LSH-verified
    * pairs at 10×), so an empty high-drop result is structurally
    * unreliable — use MinHash-LSH there. Pass None to accept the empty
    * result and inspect the returned coverage instead (the oracle gate
    * does, pinning the measured sf0.1 cliff). The guard's emptiness probe
    * checkpoints the pairs, so the caller's consumption re-uses the
    * materialized mine — no double compute on the guarded path.
    */
  def containmentPairsGovernedDetailed(hashed: DataFrame, threshold: Double,
      expansionBudgetPerDoc: Long = 2048,
      capLadder: Seq[Int] = Seq(256, 128, 64, 32, 16, 8),
      gramDf: Option[DataFrame] = None,
      blindEmptyGuard: Option[Double] = Some(DefaultBlindEmptyMass)): (DataFrame, CapCoverage) = {
    require(capLadder.nonEmpty && capLadder == capLadder.sorted.reverse,
      "capLadder must be non-empty and descending")
    val nDocs = hashed.count()
    val budget = expansionBudgetPerDoc * nDocs
    val df = gramDf.getOrElse(
      hashed.select(explode(col("hs0")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df")))
    // one pass: per-cap expansion estimates (the chooser's input) PLUS
    // per-cap retained occurrence mass and over-cap gram counts (the
    // coverage signal) — 3 aggregate columns per rung on the same small
    // (g, df) table the chooser already scans
    val nCaps = capLadder.size
    val aggs =
      capLadder.map(c =>
        coalesce(sum(when(col("df") <= c,
          (col("df") * (col("df") - 1) / 2).cast("long")).otherwise(0L)),
          lit(0L)).as(s"e$c")) ++
      capLadder.map(c =>
        coalesce(sum(when(col("df") <= c, col("df")).otherwise(0L)),
          lit(0L)).as(s"m$c")) ++
      capLadder.map(c =>
        coalesce(sum(when(col("df") > c, 1L).otherwise(0L)), lit(0L))
          .as(s"o$c")) :+
      coalesce(sum(col("df")), lit(0L)).as("total")
    val estRow = df.agg(aggs.head, aggs.tail: _*).head()
    val chosenIdx = capLadder.indices
      .find(i => estRow.getLong(i) <= budget)
      .getOrElse(nCaps - 1)
    val chosen = capLadder(chosenIdx)
    val total = estRow.getLong(3 * nCaps)
    val coverage = CapCoverage(chosen,
      if (total == 0L) 0.0
      else 1.0 - estRow.getLong(nCaps + chosenIdx).toDouble / total,
      estRow.getLong(2 * nCaps + chosenIdx), total)
    val mined = containmentPairsFromHashes(hashed, threshold,
      maxDocFreq = chosen, gramDf = Some(df))
    val pairs = blindEmptyGuard match {
      case Some(alpha) if coverage.droppedGramMass > alpha =>
        val mat = mined.localCheckpoint(false)
        if (mat.isEmpty) throw new IllegalStateException(
          s"governed containment mine found NO pairs while the chosen df " +
            s"cap dropped ${f"${coverage.droppedGramMass * 100}%.1f"}% of " +
            s"the corpus' gram mass (${coverage.describe}): the result is " +
            "indistinguishable from 'no duplicates', but the mine was " +
            "blind to the dominant (template) gram mass and true near-dup " +
            "pairs riding it are structurally unreachable at ANY cap. Use " +
            "minhashLshPairs (signature-based, recall 1.0 at bucket caps " +
            "down to 8 on the measured cliff corpus), or pass " +
            "blindEmptyGuard = None to accept the empty result and " +
            "inspect the returned coverage.")
        mat
      case _ => mined
    }
    (pairs, coverage)
  }

  /** Shared tail: the hot join carries (id, n, gram-hash) — joining on the
    * 8-byte xxhash64 of the shingle instead of the string shrinks the
    * shuffle (64-bit collision odds ~n²/2^64 — negligible). The gram
    * count `n` rides both sides ONLY to drive the size-compatibility prune
    * inside the join (jaccard ≥ t forces t·nb ≤ na and t·na ≤ nb — a
    * length-skewed pair can be discarded in codegen before it ever reaches
    * the aggregation); the pair aggregation itself keys on the bare
    * (id_a, id_b) — measured: widening the grouping key to carry na/nb
    * inflates the (pair-count)-sized hash state ~2× and ran 2.7× slower at
    * 10× than re-attaching sizes AFTER the aggregation, where the pair set
    * has already collapsed to distinct pairs and AQE broadcasts the
    * doc-sized `sizes` table. The join is a literal self-join (same plan
    * both sides) so ReuseExchange shuffles the exploded grams once.
    */
  private def pairsFromGramTable(sh: DataFrame, threshold: Double): DataFrame = {
    val t = lit(threshold)
    // Size re-attach stays the r15 groupBy(id).first(n) AGGREGATION over
    // the gram stream — NOT a narrow projection of the checkpointed hashed
    // frame, although that looks cheaper on paper (r16 §8, measured at the
    // 10× probe): the aggregation subplan collapses map-side to one row
    // per doc before its (tiny) shuffle, AQE measures it and broadcasts
    // the attach joins, and — decisively — the pair join stays in the
    // broadcast shape whose heavy expansion stage runs at the checkpoint's
    // full task count. The checkpoint-projection variant inherits the
    // full-frame (gram-array) size estimate, statically plans SMJ, and
    // AQE then coalesces the post-shuffle expansion stage to ~1/3 of the
    // cores: identical cpu (169 vs 175 cpu-s, ~10 GB spill both) at 2×
    // the wall (14.5-22 s vs 7-9 s warm @10×).
    val sz = sh.groupBy(col("id")).agg(first(col("n")).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.n") * t <= col("b.n") && col("b.n") * t <= col("a.n"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** One-row quality gate for MinHash LSH against the exact n-gram Jaccard
    * baseline. Output: the exact near-dup pair count (engine-independent — a
    * SQL oracle recomputes it bit-for-bit) plus recall/precision floor
    * booleans over the hash-dependent LSH candidate set. This is what lets
    * the correctness gate hash-check sketch *quality* without the oracle
    * having to reproduce engine hash functions: the numbers it can
    * recompute, it checks exactly; the hash-dependent ratio it checks as a
    * pinned property.
    *
    * recall   = |exact(≥threshold) ∩ lsh| / |exact(≥threshold)|
    * precision = |lsh ∩ exact(≥looseThreshold)| / |lsh|  (an LSH pair is
    * "fine" if its true Jaccard clears the loose floor — band collisions
    * legitimately surface pairs slightly under the target threshold).
    *
    * Runs over a pre-built (checkpointed) gram-hash frame
    * ([[gramHashes]]) and pre-mined truth pairs (exact Jaccard, already ≥
    * the loose threshold, [[ngramJaccardPairsFromHashes]]): the gram table
    * and pair mine are materialized once and shared across dedup
    * operators.
    */
  def minhashQualityMetricsFromParts(hashed: DataFrame, truth: DataFrame,
      idCol: String, numPerm: Int, bands: Int, threshold: Double,
      recallFloor: Double, precisionFloor: Double,
      splitBucketSize: Int = 0, maxBucketSize: Int = GovernedCap,
      gramDfCap: Int = 0, gramDf: Option[DataFrame] = None,
      looseThreshold: Double = 0.2): DataFrame = {
    val sigs = minhashSignaturesFromHashes(hashed, idCol, numPerm)
      .localCheckpoint(false)
    // banding computed ONCE: the miner and the truncation panel both
    // consume the checkpointed pre-split bucket frame (the panel would
    // otherwise re-run the banding groupBy it shares with the mine)
    val banded = bandKeys(sigs, idCol, numPerm, bands)
    val bucketsAll = lshAllBuckets(banded, idCol).localCheckpoint(false)
    // FINAL buckets built ONCE and shared by the cap chooser, the miner,
    // and the truncation panel (r13 review: evaluating
    // lshFinalBucketsFrom per consumer re-ran the big-bucket split's
    // groupBy+join three times per gate run). With no split the frame is
    // a projection of the already-checkpointed bucketsAll — checkpointing
    // again would only copy it.
    val finalBuckets = {
      val f = lshFinalBucketsFrom(banded, bucketsAll, idCol, bands,
        splitBucketSize)
      if (splitBucketSize > 0) f.localCheckpoint(false) else f
    }
    // GOVERNED default (VERDICT r12 item 7): the bucket cap self-sizes
    // from the final occupancy profile — one small agg over the bucket
    // frame the mine and panel already share. A fixed cap remains the
    // explicit override.
    val bucketCap =
      if (maxBucketSize != GovernedCap) maxBucketSize
      else chooseBucketCap(
        finalBuckets.select(size(col("all_ids")).cast("long").as("f")),
        2048L * sigs.count(), Seq(1024, 512, 256, 128, 64, 32))
    val lsh = minhashLshPairsFromFinal(sigs, finalBuckets,
      idCol, numPerm, threshold, maxBucketSize = bucketCap)
      .select(col("id_a"), col("id_b")).localCheckpoint(false)
    // Recall joins against the (df-capped) truth mine; precision verifies
    // each LSH candidate DIRECTLY (r13): the capped mine structurally
    // cannot witness template-cluster dups once the cluster's df exceeds
    // the cap — at sf0.1 it zeroed the loose-truth set and read every
    // CORRECT candidate (true jaccard ≈ 0.98) as a false positive. The
    // per-candidate verify is exact and uncapped: one array_intersect
    // over the two docs' distinct-gram arrays per candidate — O(|lsh|),
    // linear at any corpus scale. (Recall keeps the capped mine: its
    // blind spot is pinned by the unconditional n_grams_over_cap counter
    // and the front-truncation panel.)
    val exact = truth.where(col("jaccard") >= threshold)
    val recallAgg = exact
      .join(lsh.withColumn("m", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_hit"))
    val gsets = hashed.select(col("id"), col("hs0"))
    val precisionAgg = lsh
      .join(gsets.select(col("id").as("id_a"), col("hs0").as("ga")), "id_a")
      .join(gsets.select(col("id").as("id_b"), col("hs0").as("gb")), "id_b")
      .select((size(array_intersect(col("ga"), col("gb"))).cast("double") /
        (size(col("ga")) + size(col("gb")) -
          size(array_intersect(col("ga"), col("gb")))).cast("double"))
        .as("true_jaccard"))
      .agg(count(lit(1)).as("n_lsh"),
        coalesce(sum(when(col("true_jaccard") >= looseThreshold, 1L)
          .otherwise(0L)), lit(0L)).as("n_loose_hit"))
    // Truncation panel (VERDICT r10 item 3): the silent boundedness levers
    // — big-bucket splits, the bucket cap's dropped ids, and (when
    // `gramDfCap` > 0) the upstream gram-df cap the truth mine ran under —
    // surfaced as gate columns so each sf pins how much recall the caps
    // actually traded, instead of the erosion staying inferred.
    val trunc = lshTruncationStatsFromFinal(bucketsAll, finalBuckets,
      bucketCap, splitBucketSize)
    val base = recallAgg.crossJoin(precisionAgg).crossJoin(trunc)
    // `gramDf` lets the caller hand in an already-materialized (g, df)
    // table — the pipeline shape, where the front's df aggregation exists
    // once per corpus and the panel must not re-shuffle the exploded grams
    val withGram =
      if (gramDfCap <= 0) base.withColumn("n_grams_over_cap", lit(0L))
      else base.crossJoin(
        gramDf.getOrElse(
          hashed.select(explode(col("hs0")).as("g"))
            .groupBy(col("g")).agg(count(lit(1)).as("df")))
          .agg(coalesce(sum(when(col("df") > gramDfCap, 1L).otherwise(0L)),
            lit(0L)).as("n_grams_over_cap")))
    withGram.select(col("n_exact"),
      (col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"),
      (col("n_loose_hit") >= col("n_lsh") * precisionFloor).as("precision_ok"),
      col("n_grams_over_cap"), col("n_buckets_split"),
      col("n_buckets_over_cap"), col("n_ids_dropped"),
      // the governed choice rides the gate row (hash-dependent — pinned
      // per sf like the counters, not oracle-recomputed)
      lit(bucketCap.toLong).as("chosen_bucket_cap"))
  }

  /** One-row quality gate for SimHash near-dup mining: near-identical pairs
    * (`truth`: exact n-gram Jaccard already filtered ≥ the exact threshold
    * — few token edits apart) must be recovered at ≥ recallFloor by the
    * Hamming-≤maxHamming SimHash pass. Same oracle split as
    * [[minhashQualityMetricsFromParts]]: the exact count is
    * SQL-recomputable, the recall property is pinned as a boolean. Taking
    * the truth pre-mined lets one pair mine serve every dedup operator.
    */
  def simhashQualityMetricsFromTruth(docs: DataFrame, truth: DataFrame,
      idCol: String, textCol: String, maxHamming: Int,
      recallFloor: Double, maxBucketSize: Int = GovernedCap): DataFrame = {
    val exact = truth
      .select(col("id_a"), col("id_b")).localCheckpoint(false)
    // one signature pass and ONE bucket groupBy feed the mine AND the
    // truncation panel (the panel over its own chunk groupBy would
    // re-shuffle what the mine already built)
    val sigs = simhashTable(docs, idCol, textCol).localCheckpoint(false)
    val bucketsAll = simhashBuckets(
      simhashChunked(sigs, idCol, maxHamming), idCol).localCheckpoint(false)
    // GOVERNED default (VERDICT r12 item 7): posting cap self-sized from
    // the chunk-bucket profile; a fixed cap remains the explicit override
    val bucketCap =
      if (maxBucketSize != GovernedCap) maxBucketSize
      else chooseBucketCap(
        bucketsAll.select(size(col("all_ids")).cast("long").as("f")),
        2048L * sigs.count(), Seq(1024, 512, 256, 128, 64, 32))
    val sh = simhashPairsFromBuckets(sigs, bucketsAll, idCol, maxHamming,
      bucketCap)
      .select(col("id_a"), col("id_b")).localCheckpoint(false)
    // truncation panel (VERDICT r10 item 3): the bucket cap's slice is a
    // silent recall trade — pin per sf how many buckets/ids it clips
    val trunc = simhashTruncationStatsFromBuckets(bucketsAll, bucketCap)
      .select(col("n_buckets_over_cap"), col("n_ids_dropped"))
    exact.join(sh.withColumn("m", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_hit"))
      .crossJoin(trunc)
      .select(col("n_exact"),
        (col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"),
        col("n_buckets_over_cap"), col("n_ids_dropped"),
        lit(bucketCap.toLong).as("chosen_bucket_cap"))
  }

  /** Connected components over a near-dup pair graph — assigns every doc in
    * a pair the minimum doc-id of its component (the canonical
    * representative), turning pairwise matches into keep/drop decisions.
    * Two execution strategies, picked by mined-edge count (the same way AQE
    * picks broadcast joins by runtime size): a single-task union-find when
    * the edge set fits one executor task, else iterative min-label
    * propagation — each round joins labels across edges and keeps the
    * per-node minimum, converging in O(component diameter) rounds with the
    * driver only reading a convergence scalar. `maxIter` caps pathological
    * chains on the distributed path (cap-out is logged).
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10,
      localEdgeThreshold: Long = 2000000L): DataFrame = {
    // Scale-adaptive: the mined edge set is orders of magnitude smaller than
    // the corpus (only near-dup pairs survive), so when it fits a single
    // task solve with an in-partition union-find — one shuffle-free job
    // instead of O(diameter) join rounds. The default threshold budgets the
    // BOXED footprint honestly: 2M edges ≈ ≤4M java.util.HashMap entries at
    // ~64 B each plus the node buffer ≈ 300 MB in one task. The count is
    // free: `directed` must be materialized for the loop anyway, and the
    // same persisted frame backs both paths. Above the threshold,
    // distributed min-label propagation.
    val directed = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .persist()
    val nEdges = directed.count()
    if (nEdges <= localEdgeThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = directed.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        // Union-find with path halving; runs inside one executor task (NOT
        // the driver) so the dataflow stays a plain narrow transformation.
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
          }
          x
        }
        val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) { parent.put(a, a); nodes += a }
          if (!parent.containsKey(b)) { parent.put(b, b); nodes += b }
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
        }
        // Roots are unioned min-first, but transitive merges can still leave
        // a root larger than the component minimum — resolve via a min pass.
        val minOfRoot = new java.util.HashMap[Long, Long]()
        nodes.foreach { n =>
          val r = find(n)
          val m = minOfRoot.getOrDefault(r, Long.MaxValue)
          if (n < m) minOfRoot.put(r, n)
        }
        nodes.iterator.map(n => (n, minOfRoot.get(find(n))))
      }.toDF("id", "rep")
      // Materialize before unpersisting the edge input it reads from.
      val result = out.localCheckpoint()
      directed.unpersist()
      return result
    }
    val edges = directed.select(col("src"), col("dst"))
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // localCheckpoint (eager) after every round: without it the lineage
    // doubles per iteration (labels referenced twice), giving a 2^N-node
    // plan that OOMs the driver on long chains. With it, every round's plan
    // is O(1) deep — the shape iterative graph algorithms need on Spark.
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep")).localCheckpoint()
    // Convergence via the label-sum invariant: min-label propagation only
    // ever decreases reps, so the fixpoint is reached exactly when
    // sum(rep) stops changing — one cheap aggregate on the checkpointed
    // frame instead of a join per round.
    def repSum(df: DataFrame): Long =
      df.agg(sum(col("rep"))).head().getLong(0)
    var prevSum = repSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("rep"))
      val next = labels.select(col("id"), col("rep")).union(viaNeighbors)
        .groupBy(col("id")).agg(min(col("rep")).as("rep"))
        .localCheckpoint()
      val nextSum = repSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    directed.unpersist()
    // Surface cap-out: a component with diameter > maxIter exits with
    // partial labels, which would silently diverge from a transitive-closure
    // oracle (ADVICE r01). The distributed path is only taken for graphs too
    // big for the union-find task, where maxIter is a deliberate budget.
    if (!converged)
      System.err.println(s"[graft] nearDupClusters: maxIter=$maxIter reached " +
        "without label convergence — labels may be partial")
    labels
  }

  /** Corpus-level exact chunk ("line") dedup — the C4/CCNet move of removing
    * text spans that repeat ANYWHERE in the corpus, keeping the first
    * occurrence (ordered by (doc, position)). Documents are split into
    * consecutive `windowWords`-word chunks (the deterministic stand-in for
    * newline-delimited lines — the fixtures carry no newlines); every later
    * occurrence of an identical chunk is dropped and the surviving chunks
    * are reassembled in order.
    *
    * Scale: one shuffle keyed on the chunk text for the keep-first window
    * (at 100 TB shuffle on xxhash64(chunk) instead and keep the text only
    * for in-partition verification — same plan shape, constant-width key),
    * then one shuffle back to the doc for reassembly. Per-chunk state in
    * the window is a single row_number; no posting list materializes, so a
    * chunk repeated millions of times costs its copies, not their square.
    *
    * Output: (idCol, n_chunks, n_dupes, clean_text) over non-empty docs.
    */
  def corpusChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 10): DataFrame = {
    val w = windowWords
    val words = split(trim(col(textCol)), "\\s+")
    val chunks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), floor((size(words) + (w - 1)) / lit(w)).cast("int") - 1),
        i => array_join(slice(words, i * w + 1, lit(w)), " "))).as(Seq("pos", "chunk")))
    val keepW = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("pos"))
    chunks
      .withColumn("dup", when(row_number().over(keepW) === 1, 0).otherwise(1))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(col("dup")).cast("long").as("n_dupes"),
        array_join(transform(
          array_sort(collect_list(when(col("dup") === 0,
            struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** Duplicate-SUBSTRING mining (overlapping k-grams, maximal spans) —
    * the suffix-array dedup of "Deduplicating Training Data Makes Language
    * Models Better" (Lee et al., ACL 2022) re-expressed as a gram-hash
    * shuffle: corpusChunkDedup's stride-w chunking misses duplicates at
    * unaligned offsets; this operator slides a k-word window at stride 1,
    * flags every gram that occurs ≥2 times ANYWHERE in the corpus
    * (including within one document), and merges contiguous-or-overlapping
    * duplicated starts into maximal spans per document.
    *
    * Scale: grams are hashed to 8 bytes map-side (xxhash64 of the joined
    * window — the suffix array's role, without the global sort), so the
    * duplicate test is ONE shuffle on a constant-width key using a
    * window count (no posting list, no self-join); the island merge is one
    * shuffle back to the doc. Stride-1 fan-out is ~n_words rows per doc —
    * at 100 TB run the same plan with a stride >1 first pass and refine
    * only hit documents, or prefilter gram hashes with a count-min sketch;
    * both compose on top of this form.
    *
    * Precision: gram identity is xxhash64 equality, NOT text equality — a
    * 64-bit collision between two distinct grams marks both as duplicated
    * (and [[clipDuplicateSpans]] then removes legitimate text). The
    * per-pair false-positive rate is ~2^-64; by the birthday bound a corpus
    * needs ~5e9 DISTINCT grams before the expected collision count reaches
    * one, and the blast radius of a collision is one k-word span. This is
    * the deliberate trade for the constant-width shuffle key; callers
    * needing certainty carry the gram text alongside the hash and confirm
    * within the hash partition (one extra string column through the same
    * shuffle) — the count/window shape is unchanged.
    *
    * Output: one row per maximal duplicated span
    * (idCol, span_start, span_end, n_grams) — word offsets, 0-based
    * inclusive. Downstream removal/clipping is a join on idCol.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, confirmGramText: Boolean = false): DataFrame = {
    require(k >= 2, "k must be at least 2")
    val words = split(trim(col(textCol)), "\\s+")
    val tok = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), words.as("w"))
      .where(size(col("w")) >= k)
    // confirmGramText = the "callers needing certainty" path from the
    // Precision note above, made concrete: the gram TEXT rides the same
    // shuffle as one extra string column and joins the window partition
    // key, so occurrence counting is exact text equality — a 64-bit hash
    // collision between distinct grams can no longer mark either as
    // duplicated. Same plan shape (one shuffle, count window, islands);
    // the only cost is shuffle width. Default stays hash-only: the
    // expected collision count is ~0 below ~5e9 distinct grams.
    val gramExprs =
      if (confirmGramText)
        posexplode(transform(
          sequence(lit(0), size(col("w")) - k),
          i => array_join(slice(col("w"), i + 1, lit(k)), " ")))
          .as(Seq("pos", "gram"))
      else
        posexplode(transform(
          sequence(lit(0), size(col("w")) - k),
          i => xxhash64(array_join(slice(col("w"), i + 1, lit(k)), " "))))
          .as(Seq("pos", "gh"))
    val grams0 = tok.select(col(idCol), gramExprs)
    val grams =
      if (confirmGramText) grams0.withColumn("gh", xxhash64(col("gram")))
      else grams0
    val dupW =
      if (confirmGramText) Window.partitionBy(col("gh"), col("gram"))
      else Window.partitionBy(col("gh"))
    val docW = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    grams
      .withColumn("n_occ", count(lit(1)).over(dupW))
      .where(col("n_occ") > 1)
      // gaps-and-islands: a new island starts when this duplicated gram
      // neither overlaps nor touches the previous one (gap > k words)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(docW) <= k, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(docW))
      .groupBy(col(idCol), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"),
        count(lit(1)).cast("long").as("n_grams"))
      .drop("island")
  }

  /** Removal composition over [[duplicateSpans]]: drop every word covered
    * by a duplicated span from every document (the aggressive policy —
    * right for decontamination and boilerplate strip; Lee et al.'s
    * keep-one-copy variant is the same plan with a keep-first window on the
    * span key before the clip). Documents without duplicated spans pass
    * through untouched.
    *
    * Scale: spans per doc collapse to ONE array column (collect_list after
    * the span mine's own shuffles), the clip itself is a map-side
    * higher-order filter — no extra shuffle beyond a left join on the doc
    * key.
    *
    * Output: (idCol, n_words, n_removed, clean_text) over non-empty docs.
    */
  def clipDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    val words = split(trim(col(textCol)), "\\s+")
    docs
      .where(length(trim(col(textCol))) > 0)
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), words.as("w"), col("sp"))
      .withColumn("kept", when(col("sp").isNull, col("w")).otherwise(
        filter(col("w"), (_, i) => !exists(col("sp"),
          s => i.cast("long") >= s.getField("span_start") &&
            i.cast("long") <= s.getField("span_end")))))
      .select(col(idCol),
        size(col("w")).cast("long").as("n_words"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** SemDeDup-style semantic dedup: k-means-cluster the embedding space
    * (reusing the IVF model build — seed spread + Lloyd refinement), mine
    * near-dup pairs ONLY within each cluster cell, and greedily remove every
    * doc that has a smaller-id neighbor at `threshold` cosine in its cell.
    * The result keeps at least one representative per duplicate
    * neighborhood; a pair split across cells survives (that is the
    * SemDeDup recall trade, measured by [[semanticDedupMetrics]]).
    *
    * Scale: the corpus is assigned to cells map-side against a centroid
    * literal (no shuffle), the pair mine is per-cell (the cell id is the
    * block key — never a global cross join), and the removal set is an
    * id-projection groupBy. At 100 TB you persist the assignment once
    * (Similarity.ivfWrite layout) and mine cells independently.
    *
    * @return one row per input doc: (idCol, cell, removed)
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      nLists: Int = 16, kMeansIters: Int = 2,
      threshold: Double = 0.3): DataFrame = {
    val (withNorm, cents) =
      Similarity.ivfModel(embeddings, idCol, vecCol, nLists, kMeansIters)
    // Materialized projection: the assignment references dv/v_norm as
    // plain attributes inside HOF lambdas. withCellAssignment routes
    // through the two-level coarse quantizer above HierThreshold — under
    // the SemDeDup nLists ∝ n policy a flat argmax is O(n·nLists·d), the
    // same quadratic the IVF batch probe measured at 36× before r8.
    // Checkpointed because the frame feeds both sides of the pair
    // self-join plus the final flag join.
    val assigned = Similarity.withCellAssignment(withNorm, cents)
      .select(col(idCol), col("dv"), col("cell"))
      .localCheckpoint(false)
    val pairs = embeddingNearDupPairs(assigned, idCol, "dv", "cell", threshold)
    val removed = pairs.select(col("id_b").as(idCol)).distinct()
      .withColumn("__r", lit(true))
    assigned.select(col(idCol), col("cell"))
      .join(removed, Seq(idCol), "left")
      .withColumn("removed", coalesce(col("__r"), lit(false)))
      .drop("__r")
  }

  /** Quality gate for [[semanticDedup]] in the oracle-friendly split: the
    * SQL-recomputable exact aggregates (doc count, label-blocked truth-pair
    * count at the same threshold) plus a floor boolean on the
    * cluster-dependent part — the fraction of truth pairs RESOLVED (at
    * least one endpoint removed). Removals are structurally sound by
    * construction (a removed doc always has a same-cell neighbor at
    * `threshold`, and cell pairs are a subset of all pairs), so recall is
    * the one honest free variable.
    */
  def semanticDedupMetrics(embeddings: DataFrame, idCol: String,
      vecCol: String, labelCol: String, threshold: Double = 0.3,
      nLists: Int = 16, kMeansIters: Int = 2,
      resolvedFloor: Double = 0.5): DataFrame = {
    val dd = semanticDedup(embeddings, idCol, vecCol, nLists, kMeansIters,
      threshold)
    val removedIds = dd.where(col("removed")).select(col(idCol))
    val truth = embeddingNearDupPairs(embeddings, idCol, vecCol, labelCol,
      threshold)
    val ra = removedIds.select(col(idCol).as("id_a"), lit(true).as("__ra"))
    val rb = removedIds.select(col(idCol).as("id_b"), lit(true).as("__rb"))
    truth.join(ra, Seq("id_a"), "left").join(rb, Seq("id_b"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        sum(when(coalesce(col("__ra"), lit(false)) ||
          coalesce(col("__rb"), lit(false)), 1L).otherwise(0L)).as("n_res"))
      .crossJoin(embeddings.agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("n_truth"),
        (col("n_res") >= col("n_truth") * resolvedFloor).as("resolved_ok"))
  }

  /** Incremental semantic dedup of a NEW batch against a persisted corpus
    * index ([[Similarity.ivfWrite]]'s cell-partitioned layout): batch rows
    * probe their `nProbe` nearest cells map-side through the batch
    * readers' regime ([[Similarity.probeLayout]] — multi-probe: cell
    * boundaries are arbitrary, so a row near a boundary checks the
    * neighboring cell too, recovering most of the pairs single-cell
    * assignment misses), ONLY the touched cell partitions of the corpus
    * are read (the readers' static partition pruning — the reason the
    * layout exists), and a per-cell join flags every batch row with a
    * corpus neighbor at `threshold` cosine. This is the nightly-ingest
    * shape: the 100 TB corpus never rescans — each batch reads |touched
    * cells| / nLists of it, and `nProbe` dials recall against read
    * amplification (the probe join fans each batch row out nProbe ways;
    * the corpus side is unchanged).
    *
    * @return one row per batch doc: (idCol, cell, dup); `cell` is the
    *         primary (first-probe) cell
    */
  def semanticDedupIncremental(batch: DataFrame, ivfPath: String,
      idCol: String, vecCol: String, threshold: Double,
      nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1, "nProbe must be at least 1")
    val (probed, hier) = Similarity.probeLayout(
      batch.select(col(idCol).as("q_id"), col(vecCol)), vecCol, Seq(vecCol),
      ivfPath, nProbe)
    // read by the prune collect, the corpus join and the primary cell
    val probes = probed.localCheckpoint(false)
    val corpus = Similarity.probedCells(batch.sparkSession, ivfPath,
      "corpus", probes, hier)
      .select(col("cell").cast("long").as("cell"),
        V.asDoubleFast(col(vecCol)).as("cv"))
    val dupIds = probes
      .select(col("q_id"), col("cell"), V.asDoubleFast(col(vecCol)).as("dv"))
      .join(corpus, "cell")
      .where(V.cosineFast(col("dv"), col("cv")) >= threshold)
      .select(col("q_id").as(idCol)).distinct().withColumn("__d", lit(true))
    probes.where(col("rank") === 0)
      .select(col("q_id").as(idCol), col("cell"))
      .join(dupIds, Seq(idCol), "left")
      .withColumn("dup", coalesce(col("__d"), lit(false)))
      .drop("__d")
  }

  /** Quality gate for [[semanticDedupIncremental]], oracle split as usual:
    * exact aggregates (batch size, label-blocked batch-vs-corpus truth
    * pairs at `threshold`) plus a floor boolean on the fraction of truth
    * pairs whose batch endpoint was flagged (cell assignment may split a
    * pair across cells — the measured recall trade).
    */
  def semanticDedupIncrementalMetrics(batch: DataFrame, corpus: DataFrame,
      ivfPath: String, idCol: String, vecCol: String, labelCol: String,
      threshold: Double, flaggedFloor: Double, nProbe: Int = 2): DataFrame = {
    val flagged = semanticDedupIncremental(batch, ivfPath, idCol, vecCol,
      threshold, nProbe)
      .where(col("dup")).select(col(idCol).as("id_b"), lit(true).as("__f"))
    val b = batch.select(col(labelCol).as("blk"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    val c = corpus.select(col(labelCol).as("blk"), col(idCol).as("id_c"),
      col(vecCol).as("v_c"))
    val truth = b.join(c, "blk")
      .where(round(V.cosineFast(col("v_b"), col("v_c")), 6)
        >= threshold)
      .select(col("id_b"), col("id_c"))
    truth.join(flagged, Seq("id_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(coalesce(col("__f"), lit(false)), 1L).otherwise(0L)).as("n_f"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .select(col("n_batch"), col("n_truth"),
        (col("n_f") >= col("n_truth") * flaggedFloor).as("flagged_ok"))
  }

  /** Embedding-cosine near-dup pairs, blocked by a key column (e.g. a coarse
    * cluster/label or an LSH bucket) so the pair join is per-block, never a
    * global cross join.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String,
      vecCol: String, blockCol: String, threshold: Double): DataFrame = {
    val l = embeddings.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val r = embeddings.select(col(blockCol).as("blk"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    l.join(r, "blk").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(V.cosineFast(col("v_a"), col("v_b")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Prefix-filtered EXACT set-similarity join (AllPairs/PPJoin shape —
    * Bayardo et al., WWW'07; Xiao et al., WWW'08): all pairs with n-gram
    * Jaccard ≥ `threshold`, with NO recall loss and NO quadratic posting
    * lists. Complements [[ngramJaccardPairsFromHashes]]'s document-
    * frequency cap, which is the lossy lever (capped jaccard undercounts
    * overlap carried by boilerplate grams); this operator is the lossless
    * one for the high-threshold regime the filter is strong in (t ≥ 0.7).
    *
    * How it scales: grams are globally ordered rarest-first (ascending
    * document frequency, gram hash as tiebreak). If J(x,y) ≥ t, the two
    * docs must share at least one gram inside each one's PREFIX — the
    * first |x| − ⌈t·|x|⌉ + 1 grams of that ordering — so the candidate
    * join explodes ONLY prefixes. Boilerplate grams (the df² blowup in a
    * naive mine) sort LAST and rarely enter any prefix; posting lists in
    * the join are rare-gram lists, which stay short as the corpus grows.
    * Candidates then verify EXACTLY, map-side, against the full sorted
    * gram-hash arrays (`array_intersect` on 8-byte hashes), with the
    * standard size-compatibility prune (t·|x| ≤ |y| ≤ |x|/t) applied
    * inside the join before any verification work.
    *
    * Three shuffles total: df count (on the gram key), the prefix-gram
    * candidate join (same key — rides the same exchange layout), and the
    * verify join re-attaching doc arrays (doc-id key, candidate-sized).
    * Output: (id_a, id_b, jaccard) — identical to the uncapped exact mine.
    */
  /** Pre-flight candidate-workload estimate for [[prefixFilterPairs]]:
    * Σ over distinct prefix grams of c·(c−1)/2, where c is the gram's
    * PREFIX occupancy — exactly the candidate join's ordered-pair output
    * bound before the size-compatibility prune (the same Σ c² attribution
    * BASELINE.md round 8 records). One aggregation over the prefix
    * stream; the expensive join never starts.
    */
  private def prefixPairEstimate(prefix: DataFrame): Long =
    prefix.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") * (col("c") - 1) / 2).cast("long")),
        lit(0L)))
      .head().getLong(0)

  /** Sentinel for [[prefixFilterPairs]]' `maxCandidatePairs`: the caller
    * explicitly accepts the quadratic candidate workload — no pre-flight
    * estimate runs at all. Losslessness-at-any-cost must be opted INTO;
    * the default (`None`) derives a corpus-linear budget instead. */
  val UnlimitedPairs: Long = Long.MaxValue

  /** Default candidate budget per document: `None` budgets resolve to
    * `DefaultPairsPerDoc · |docs|` — candidate pairs linear in corpus, the
    * same discipline as the capped mine's df-256 clamp. On a template-heavy
    * corpus whose candidate density is a constant fraction of ALL doc pairs
    * (measured ~25% on the fixtures at 1× and 10×), the default budget
    * trips at a few hundred docs — exactly where Θ(density·n²) starts to
    * outgrow every linear stage around it. */
  val DefaultPairsPerDoc: Long = 64L

  /** `prehashed`/`gramDf` (r16 optimization — the memoized-front contract
    * every other mine already honors): a caller that holds a checkpointed
    * [[gramHashes]] frame for the SAME (docs, shingleK) and/or its (g, df)
    * aggregation passes them in, and this mine skips its own shingle pass
    * and df shuffle. Outputs are bit-identical — the internal builds are
    * exactly these frames. */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, threshold: Double = 0.7,
      maxCandidatePairs: Option[Long] = None,
      fallbackToCapped: Boolean = false,
      fallbackDocFreqCap: Int = 256,
      blindEmptyGuard: Option[Double] = Some(DefaultBlindEmptyMass),
      prehashed: Option[DataFrame] = None,
      gramDf: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // checkpointed: shared between the prefix front and the fallback path
    // (without it a budget-tripped call re-shingles the corpus from scratch
    // for the capped mine)
    val hashed = prehashed.getOrElse(
      gramHashes(docs, idCol, textCol, shingleK).localCheckpoint(false))
    val g = hashed.select(col("id"), explode(col("hs0")).as("g"))
    // global rarest-first ordering: (df, g) ascending; df shuffles on the
    // same gram key the candidate join uses
    val withDf = g.join(
      gramDf.getOrElse(g.groupBy(col("g")).agg(count(lit(1)).as("df"))), "g")
    // per-doc gram array sorted by (df, g); n = full distinct-gram count.
    // Lazily checkpointed: the frame feeds FOUR plan references (both
    // prefix sides, both verification attaches) — uncut, each reference
    // re-runs the gram+df+collect front (measured: the warm query spent
    // ~7 s of its 7 s re-deriving this table; checkpointed it computes
    // once)
    val sorted = withDf
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("sg"))
      .select(col("id"), transform(col("sg"), _.getField("g")).as("gs"),
        size(col("sg")).as("n"))
      .localCheckpoint(false)
    // prefix length |x| − ⌈t·|x|⌉ + 1 (never below 1, never above |x|),
    // WITH positions — the candidate stage is PPJoin proper, not AllPairs:
    // the join's per-pair aggregation counts shared prefix grams (opp) and
    // their max positions, and the positional filter prunes any pair whose
    // overlap UPPER BOUND (opp + the capacity after the last shared gram)
    // cannot reach the Jaccard-equivalent requirement
    // α = ⌈t/(1+t)·(na+nb)⌉. Soundness of the aggregated bound: both gram
    // lists are sorted by ONE global (df, g) order, and every shared gram
    // NOT counted in opp ranks after the last counted one (a counted gram
    // sits in both prefixes; a lower-ranked shared gram would too), so the
    // uncounted overlap fits in min(na−pa−1, nb−pb−1) slots. Measured at
    // sf0.1: 3.0 M surviving candidates → 175 k (the verification join
    // ships two full gram arrays per candidate — this filter is 17× less
    // array traffic), dedup_ppjoin 30 s → ~2 s. The 1e-6 slack keeps the
    // double ceil from over-pruning an exactly-integer α (7/17·(na+nb)).
    //
    // Scale curve, measured & attributed (10× replica corpus,
    // BASELINE.md round 8): candidate density on a template-heavy corpus
    // is a CONSTANT FRACTION of all doc pairs (~25% here at both 1× and
    // 10×; top prefix-gram occupancy 2 680 of 50 k docs), so the lossless
    // mine's intrinsic workload is Θ(density·n²) — 317 M pre-filter pairs
    // and 1.47 B expansion rows at 10×, ~100× the 1× workload, absorbed in
    // 17× wall. That quadratic term is the PRICE OF LOSSLESSNESS on such a
    // corpus, not a plan artifact: no prefix ordering can thin candidates
    // whose grams are boilerplate-shared by thousands of documents. At
    // 100 TB with this density profile, use the df-capped mine
    // (ngramJaccardPairs) or LSH and reserve this operator for corpora —
    // or post-filter slices — where rare-gram prefixes are actually rare.
    // That advice is ENFORCED below BY DEFAULT: the mine pre-flights its
    // own workload before the join starts, against a corpus-linear budget
    // unless the caller explicitly accepts the quadratic path.
    val prefix = sorted.select(col("id"), col("n"),
      posexplode(slice(col("gs"), lit(1),
        greatest(col("n") - ceil(col("n") * threshold).cast("int") + 1,
          lit(1)))).as(Seq("p", "g")))
    // Runtime guardrail, DEFAULT-ON (the engine enforcing its own written
    // 100 TB advice, not just documenting it): the lossless mine's workload
    // is Θ(candidate density · n²) — on a template-heavy corpus the density
    // is a CONSTANT fraction of all doc pairs (measured ~25% at 1× and
    // 10×), so a 100× corpus would silently attempt a ~10⁴× join. A cheap
    // Σ c·(c−1)/2 aggregation over the prefix stream (upper-bounding the
    // candidate join's output; the join itself never starts — and riding
    // the already-checkpointed `sorted` front, so the pre-flight and the
    // join share one gram/df/sort computation) either aborts with the
    // estimate in the message or auto-falls-back to the df-capped mine —
    // whose Σ min(df, cap)² work is corpus-linear — at the same threshold.
    // `None` derives budget = DefaultPairsPerDoc · |docs| (the count is a
    // metadata read off the checkpointed front); Some(UnlimitedPairs) is
    // the explicit opt-IN to the quadratic path and skips the pre-flight.
    val budget = maxCandidatePairs.getOrElse(DefaultPairsPerDoc *
      math.max(1L, sorted.count()))
    if (budget != UnlimitedPairs) {
      val est = prefixPairEstimate(prefix)
      if (est > budget) {
        if (fallbackToCapped) {
          // blind-empty guard on the df-capped fallback (r14 verdict item
          // 4, same contract as containmentPairsGovernedDetailed): an
          // EMPTY capped result with the dominant gram mass over the cap
          // is structurally unreliable — fail loudly instead of reading
          // as "no duplicates". The (g, df) table is computed ONCE,
          // checkpointed (bounded — one row per distinct gram), and
          // SHARED between the guard's mass aggregation and the capped
          // mine itself (which needed it anyway for the cap filter), so
          // the guard adds one trivial agg over the small table rather
          // than a second explode+groupBy job; the returned pair frame
          // stays LAZY in the common path (no pinned result blocks —
          // only the rare guard-decision branch probes emptiness, where
          // the frame is empty by definition).
          return blindEmptyGuard match {
            case Some(alpha) =>
              val dfTab = gramDf.getOrElse(
                g.groupBy(col("g")).agg(count(lit(1)).as("df"))
                  .localCheckpoint(false))
              val mined = ngramJaccardPairsFromHashes(hashed, threshold,
                maxDocFreq = fallbackDocFreqCap, gramDf = Some(dfTab))
              val r = dfTab.agg(
                coalesce(sum(when(col("df") > fallbackDocFreqCap,
                  col("df")).otherwise(0L)), lit(0L)).as("over"),
                coalesce(sum(col("df")), lit(0L)).as("total")).head()
              val droppedMass =
                if (r.getLong(1) == 0L) 0.0
                else r.getLong(0).toDouble / r.getLong(1)
              if (droppedMass > alpha) {
                // guard-decision branch (the rare, cliff-shaped corpus):
                // checkpoint before the emptiness probe so a non-empty
                // result is not mined twice — mirroring the sibling at
                // containmentPairsGovernedDetailed
                val mat = mined.localCheckpoint(false)
                if (mat.isEmpty) throw new IllegalStateException(
                  s"prefixFilterPairs fell back to the df-capped mine " +
                    s"(cap=$fallbackDocFreqCap) and found NO pairs while " +
                    f"the cap dropped ${droppedMass * 100}%.1f%% of the " +
                    "corpus' gram mass: the empty result is " +
                    "indistinguishable from 'no duplicates', but true " +
                    "near-dup pairs riding the over-cap (template) grams " +
                    "are structurally unreachable at any cap. Use " +
                    "minhashLshPairs, or pass blindEmptyGuard = None to " +
                    "accept the empty result.")
                mat
              } else mined
            case None =>
              ngramJaccardPairsFromHashes(hashed, threshold,
                maxDocFreq = fallbackDocFreqCap, gramDf = gramDf)
          }
        }
        throw new IllegalStateException(
          s"prefixFilterPairs pre-flight estimate of $est candidate pairs " +
            s"exceeds maxCandidatePairs=$budget" +
            (if (maxCandidatePairs.isEmpty)
              s" (default: $DefaultPairsPerDoc per doc)" else "") +
            ": the lossless prefix mine is quadratic in candidate density " +
            "on this corpus. Raise the budget deliberately, set " +
            "fallbackToCapped=true to run the df-capped mine, pass " +
            "Some(Dedup.UnlimitedPairs) to accept the quadratic workload, " +
            "or use minhashLshPairs.")
      }
    }
    val t = lit(threshold)
    // The pair aggregation keys on the bare (id_a, id_b) and carries ONLY
    // (opp, pa, pb): na/nb ride the join CONDITION (the size-compat prune
    // needs them pre-match) but are dropped before the groupBy and
    // re-attached afterwards from the doc-sized `sizes` table — the same
    // narrow-agg-state lesson the capped pair mine measured at 2.7×
    // (pairsFromGramTable doc): at 10× scale the aggregation digests
    // ~10⁸ expanded rows, and two extra first() buffers on a
    // (pair-count)-sized hash state are pure overhead.
    val sizes = sorted.select(col("id"), col("n"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.n") * t <= col("b.n") && col("b.n") * t <= col("a.n"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("__opp"),
        max(col("a.p")).as("__pa"), max(col("b.p")).as("__pb"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), "id_b")
      .where(col("__opp") +
        least(col("__na") - col("__pa") - 1, col("__nb") - col("__pb") - 1) >=
        ceil(t / (lit(1.0) + t) * (col("__na") + col("__nb")) - 1e-6))
      .select(col("id_a"), col("id_b"))
    // exact verification: full arrays re-attached (candidate-sized join),
    // intersection map-side on the 8-byte hashes
    cands
      .join(sorted.select(col("id").as("id_a"), col("gs").as("gs_a"),
        col("n").as("na")), "id_a")
      .join(sorted.select(col("id").as("id_b"), col("gs").as("gs_b"),
        col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("gs_a"), col("gs_b"))).as("common"),
        col("na"), col("nb"))
      .select(col("id_a"), col("id_b"),
        (col("common") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
