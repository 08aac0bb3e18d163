package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{CommitStore, PosixLinkCommitStore, SnapshotLake}

/** Incrementally-maintained JOIN view — the materialized inner join of an
  * append-only fact table with a key-unique, append-only dimension table,
  * refreshed from the snapshot lake's change feed. The sibling of
  * [[IncrementalAgg]] for the other half of the reference's nightly
  * recompute pattern: where IncrementalAgg folds deltas into aggregates,
  * this folds them into a denormalized join, so a 100 TB enrichment is
  * maintained by reading one day's appends instead of re-joining the world.
  *
  * The delta-join identity `Δ(F ⋈ D) = ΔF ⋈ D_new ∪ F_old ⋈ ΔD` has an
  * O(F) term: old facts matching newly-arrived dimension keys. Re-scanning
  * F_old to find them would defeat the point, so the maintainer carries an
  * ORPHAN STORE — the (typically small) set of fact rows that have not yet
  * matched any dimension key. Each [[refresh]]:
  *
  *   1. recovers the (fact, dim) high-water versions from the tag on the
  *      view table's newest commit (the [[IncrementalAgg]] convention —
  *      state rides the commit it describes, no side store to de-sync);
  *   2. reads ΔF ([[SnapshotLake.changesBetween]] — manifest diff, base
  *      files never opened) and ΔD (new dimension keys only);
  *   3. matches ΔF against the FULL current dimension (broadcast-sized by
  *      assumption — dimensions are the small side; at cluster scale this
  *      is the standard broadcast-hash enrichment join), and matches the
  *      stored orphans against ΔD only — promoted orphans join the view,
  *      the rest (plus ΔF's misses) become the new orphan store;
  *   4. APPENDS the matched delta to the view (the view itself is
  *      append-only — refreshes never rewrite matched history) and
  *      overwrites the orphan store, both through idempotent commits keyed
  *      on the folded (vF, vD) pair, so a replayed or racing refresh dedups
  *      instead of double-appending.
  *
  * Cost per refresh: O(ΔF) + O(ΔD) + O(orphans) — never O(F). Contract:
  * fact and dim histories are append-only (compaction is fine; row-level
  * DELETE/UPDATE/MERGE rewrites files and the manifest diff would re-read
  * carried rows), and the dimension is key-unique — each fact row matches
  * at most one dim row, so "matched once, immutable forever" holds and
  * appends suffice.
  */
object IncrementalJoin {

  private val TagPrefix = "joinfold-"

  private def tag(vF: Long, vD: Long) = s"$TagPrefix$vF-$vD"

  /** All folded (fact, dim) version pairs on the view, newest first — the
    * crash-repair path needs the fold BEFORE head to recompute the orphan
    * overwrite that a crash between the two commits skipped. */
  private def foldHistory(viewTable: String,
      store: CommitStore): Seq[(Long, Long)] =
    SnapshotLake.versions(viewTable, store).sorted.reverseIterator
      .flatMap(v => SnapshotLake.commitTag(viewTable, v, store))
      .collect { case t if t.startsWith(TagPrefix) =>
        val parts = t.stripPrefix(TagPrefix).split("-")
        (parts(0).toLong, parts(1).toLong) }.toSeq

  /** Whether `t` appears ANYWHERE in the orphan store's commit-tag history.
    * History scan, not newest-only: a foreign commit on top of a completed
    * overwrite (a compaction, a manual rewrite) must not make the
    * completion invisible — a newest-only check would re-enter the repair
    * path on every refresh forever (ADVICE r7). Newest-first: the sought
    * tag normally sits on the latest overwrite, so the common case is one
    * tag read, not O(history). */
  private def orphanHasTag(viewTable: String, t: String,
      store: CommitStore): Boolean =
    SnapshotLake.versions(orphanTable(viewTable), store)
      .sorted.reverseIterator.exists(v =>
        SnapshotLake.commitTag(orphanTable(viewTable), v, store).contains(t))

  private def orphanTable(viewTable: String): String = viewTable + "_orphans"

  /** Fold fact/dim appends since the last refresh into the join view at
    * `viewTable` (orphans ride at `viewTable + "_orphans"`). First call
    * bootstraps from the full snapshots. Returns the view version holding
    * the fold (unchanged when already up to date).
    */
  def refresh(spark: SparkSession, factTable: String, dimTable: String,
      viewTable: String, joinKeys: Seq[String],
      store: CommitStore = PosixLinkCommitStore): Long = {
    require(joinKeys.nonEmpty, "refresh needs at least one join key")
    val factVs = SnapshotLake.versions(factTable, store)
    val dimVs = SnapshotLake.versions(dimTable, store)
    require(factVs.nonEmpty, s"no committed fact snapshots at $factTable")
    require(dimVs.nonEmpty, s"no committed dim snapshots at $dimTable")
    val (vF, vD) = (factVs.max, dimVs.max)

    val folds = foldHistory(viewTable, store)
    // Crash repair FIRST, independent of whether new versions landed
    // (ADVICE r7: gating repair on head == (vF, vD) silently lost the
    // crashed fold's orphan updates whenever a fact/dim commit arrived
    // between the crash and the next refresh — fact rows that missed the
    // dim were never recorded as orphans, so a late dim key could never
    // promote them). Whenever the head fold's tag is missing from the
    // orphan store's history, re-run the head fold from its predecessor:
    // the orphan store still holds the predecessor state, so the same
    // inputs reproduce the identical delta — the view append dedups on its
    // tag and only the orphan overwrite takes effect.
    folds.headOption.foreach { case (hf, hd) =>
      if (!orphanHasTag(viewTable, tag(hf, hd), store)) {
        val prev = folds.drop(1).headOption
        // Replaying a NON-bootstrap head fold is only sound if the orphan
        // store still holds the PREDECESSOR fold's state — that replay
        // unions deltaFact misses into it, so a store that already
        // absorbed the head fold (its tagged version vacuumed past
        // recognition) would duplicate every orphan row. Verify
        // positively; fail loud otherwise. A BOOTSTRAP replay never reads
        // the orphan store at all (foldOnce(last = None) derives orphans
        // from the fact snapshot and commits an idempotent overwrite), so
        // it is always safe — including when foreign commits + vacuum
        // have erased the tagged history.
        val prevStateHeld = prev match {
          case None => true
          case Some((pf, pd)) => orphanHasTag(viewTable, tag(pf, pd), store)
        }
        require(prevStateHeld,
          s"cannot repair crashed fold ${tag(hf, hd)} at $viewTable: the " +
            "orphan store no longer holds the predecessor fold state " +
            "(tag history vacuumed or store rewritten); rebuild the view " +
            "from scratch")
        foldOnce(spark, factTable, dimTable, viewTable, joinKeys,
          prev, hf, hd, factVs, dimVs, store)
      }
    }
    folds.headOption match {
      case Some((lf, ld)) if lf == vF && ld == vD =>
        SnapshotLake.versions(viewTable, store).max // fully up to date
      case head =>
        foldOnce(spark, factTable, dimTable, viewTable, joinKeys, head,
          vF, vD, factVs, dimVs, store)
    }
  }

  /** One fold step: delta-join from `last` (None = bootstrap) to the
    * (`vF`, `vD`) snapshot pair, committed as a tagged view append plus a
    * tagged orphan overwrite. Shared by the normal advance and the crash
    * repair (which replays the HEAD fold — possibly at non-max versions —
    * before advancing). */
  private def foldOnce(spark: SparkSession, factTable: String,
      dimTable: String, viewTable: String, joinKeys: Seq[String],
      last: Option[(Long, Long)], vF: Long, vD: Long,
      factVs: Seq[Long], dimVs: Seq[Long], store: CommitStore): Long = {
    (last.toSeq :+ ((vF, vD))).foreach { case (lf, ld) =>
      require(factVs.contains(lf) && dimVs.contains(ld),
        s"folded versions (fact $lf, dim $ld) were vacuumed; " +
          "rebuild the view from scratch") }
    val dim = SnapshotLake.read(spark, dimTable, Some(vD), store)
    val (deltaFact, deltaDim, orphans) = last match {
      case None =>
        val f = SnapshotLake.read(spark, factTable, Some(vF), store)
        (f, dim.limit(0), f.limit(0))
      case Some((lf, ld)) =>
        val df0 =
          if (lf == vF)
            SnapshotLake.read(spark, factTable, Some(vF), store).limit(0)
          else SnapshotLake.changesBetween(spark, factTable, lf, vF, store)
        val dd =
          if (ld == vD) dim.limit(0)
          else SnapshotLake.changesBetween(spark, dimTable, ld, vD, store)
        (df0, dd,
          SnapshotLake.read(spark, orphanTable(viewTable), None, store))
    }
    // dim is the small side by contract: force the broadcast plan
    val newMatched = deltaFact.join(broadcast(dim), joinKeys, "inner")
    val promoted = orphans.join(broadcast(deltaDim), joinKeys, "inner")
    val stillOrphan = orphans
      .join(broadcast(deltaDim.select(joinKeys.map(col): _*)),
        joinKeys, "left_anti")
      .unionByName(deltaFact.join(
        broadcast(dim.select(joinKeys.map(col): _*)),
        joinKeys, "left_anti"))
    val viewDelta = newMatched.unionByName(promoted)

    // View append FIRST, orphan overwrite second: if this refresh dies
    // between them, the next one re-enters through the repair branch
    // above with the old orphan store intact, reproduces the identical
    // viewDelta (the append dedups on its tag), and completes the
    // overwrite. The former order lost promoted rows irrecoverably: a
    // shrunk orphan store with an old view tag makes the retry compute
    // promoted = empty and commit the incomplete delta under the key.
    val viewV = SnapshotLake.commitAppendIdempotent(
      viewDelta.coalesce(Transforms.coalesceTier(0L)),
      viewTable, tag(vF, vD), store)
    SnapshotLake.commitOverwriteIdempotent(
      stillOrphan.coalesce(Transforms.coalesceTier(0L)),
      orphanTable(viewTable), tag(vF, vD), store)
    viewV
  }

  /** The maintained view, as of its newest commit. */
  def read(spark: SparkSession, viewTable: String,
      store: CommitStore = PosixLinkCommitStore): DataFrame =
    SnapshotLake.read(spark, viewTable, None, store)
}
