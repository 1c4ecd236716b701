package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Reconcile

/** One xmin-style sync cycle — the dataflow of the reference's
  * `SyncDaemon::sync_table` (`src/xmin/daemon.rs:336-461`):
  *
  *   1. incremental scan: source rows with version > watermark;
  *   2. idempotent upsert of the change batch into the target, keyed by
  *      PK (replayable — `MERGE` semantics, T4);
  *   3. watermark advance;
  *   4. (periodic) delete reconciliation: target PKs absent from the
  *      source are dropped (xmin can't see deletes, `reconciler.rs`);
  *   5. wraparound (version counter reset) → full resync
  *      (`reader.rs:35-48`, daemon branch `:358-371`).
  *
  * Every step is a DataFrame transform: the upsert is an anti-join +
  * union (shuffle keyed by PK on both sides — at scale, PK-bucketed
  * storage makes it co-located), the reconcile a semi-join. No driver
  * loops over rows anywhere.
  */
object SyncCycle {

  final case class Report(changes: Long, newWatermark: Long, fullResync: Boolean)

  /** Upsert `changes` into `target` by PK: rows whose PK appears in the
    * batch are replaced, everything else is kept. Idempotent — replaying
    * the same batch yields the same target. */
  def applyUpserts(target: DataFrame, changes: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(changes.select(pkCols.map(col): _*), pkCols, "left_anti")
      .unionByName(changes)

  /** Delete propagation: keep only target rows whose PK still exists in
    * the source (the positive form of the anti-join orphan set). */
  def deleteOrphans(target: DataFrame, source: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(source.select(pkCols.map(col): _*).distinct(), pkCols, "left_semi")

  /** Orphan keys that WOULD be deleted (delegates to [[Reconcile]] —
    * the J1/J2 anti-join). */
  def orphanKeys(target: DataFrame, source: DataFrame, pkCols: Seq[String]): DataFrame =
    Reconcile.orphanedKeys(source, target, pkCols)

  /** Run one full cycle, returning the new target frame + report.
    * `reconcile=true` adds the delete pass (the reference runs it on its
    * own longer interval — daily vs hourly by default). */
  def runCycle(source: DataFrame, target: DataFrame, versionCol: String,
               pkCols: Seq[String], watermark: Long,
               reconcile: Boolean = false): (DataFrame, Report) = {
    // Wraparound must compare the stored watermark against the SOURCE's
    // current max version (reader.rs checks the live txid) — a wrapped
    // counter makes the incremental predicate match nothing, so the
    // change batch itself can never reveal it. One aggregation; it doubles
    // as the new watermark (max(changes.version) == max(source.version)
    // whenever any change exists) and counts the change batch.
    val (sourceMax, n) = IncrementalSync.scanWatermark(source, versionCol, watermark)

    if (IncrementalSync.detectWraparound(watermark, sourceMax)) {
      // full resync (read_all_rows branch): target replaced wholesale
      (source, Report(source.count(), sourceMax, fullResync = true))
    } else {
      val changes = IncrementalSync.readChanges(source, versionCol, watermark)
      val newWatermark = math.max(watermark, sourceMax)
      val upserted = applyUpserts(target, changes, pkCols)
      val merged = if (reconcile) deleteOrphans(upserted, source, pkCols) else upserted
      (merged, Report(n, newWatermark, fullResync = false))
    }
  }

  /** The polling micro-batch driver (T3, `SyncDaemon::run`
    * `daemon.rs:237-329`): run `cycles` cycles against a
    * [[graft.sinks.BucketedMergeTarget]] path, persisting the watermark in
    * `store` between cycles and reconciling every `reconcileEvery` cycles.
    * The `source` is re-evaluated per cycle (a fresh scan — new data is
    * visible).
    *
    * Write cost per cycle ∝ the change batch (only the buckets it touches
    * are rewritten — the reference's per-batch upsert contract,
    * `daemon.rs:336-461`), never ∝ the accumulated target; commits are
    * atomic manifest flips, so a crash mid-cycle loses nothing. The
    * per-cycle row count comes from the manifest's per-bucket counts —
    * pure metadata, no listing or reads of the accumulated target. */
  def runLoop(sourceProvider: () => DataFrame, targetPath: String,
              schema: String, table: String, versionCol: String,
              pkCols: Seq[String], store: SyncStateStore,
              cycles: Int, reconcileEvery: Int = 24,
              nBuckets: Int = graft.sinks.BucketedMergeTarget.DefaultBuckets): Seq[Report] = {
    import graft.sinks.BucketedMergeTarget
    val spark = sourceProvider().sparkSession
    (1 to cycles).map { i =>
      val source = sourceProvider()
      val wm = store.watermark(schema, table)
      // one scan per poll: the source max (wraparound check + new
      // watermark) and the change count come from the same aggregate
      val (sourceMax, n) = IncrementalSync.scanWatermark(source, versionCol, wm)
      val report =
        if (IncrementalSync.detectWraparound(wm, sourceMax)) {
          // full resync (read_all_rows branch): target replaced wholesale
          BucketedMergeTarget.replaceAll(source, targetPath, pkCols, versionCol, nBuckets)
          Report(source.count(), sourceMax, fullResync = true)
        } else if (!BucketedMergeTarget.exists(spark, targetPath)) {
          // A missing target with a nonzero stored watermark (wiped or
          // relocated dir) must reseed from the FULL source — merging only
          // post-watermark changes would silently drop every row at or
          // below the watermark, a permanent hole reconciliation can never
          // repair (it only deletes orphans, never restores rows).
          BucketedMergeTarget.replaceAll(source, targetPath, pkCols, versionCol, nBuckets)
          Report(source.count(), math.max(wm, sourceMax), fullResync = true)
        } else {
          if (n > 0)
            BucketedMergeTarget.merge(IncrementalSync.readChanges(source, versionCol, wm),
              targetPath, pkCols, versionCol, nBuckets)
          if (i % reconcileEvery == 0) {
            // delete reconciliation (T5): orphan keys → bucket-pruned delete
            val orphans = BucketedMergeTarget.read(spark, targetPath)
              .join(source.select(pkCols.map(col): _*).distinct(), pkCols, "left_anti")
              .select(pkCols.map(col): _*)
            BucketedMergeTarget.deleteKeys(orphans, targetPath, pkCols)
          }
          Report(n, math.max(wm, sourceMax), fullResync = false)
        }
      store.update(TableSyncState(schema, table, report.newWatermark,
        System.currentTimeMillis(),
        // manifest metadata, not a target scan — per-cycle cost must not
        // grow with accumulated data (count fallback only for manifests
        // predating per-bucket rowCounts)
        BucketedMergeTarget.rowCount(spark, targetPath)
          .getOrElse(BucketedMergeTarget.read(spark, targetPath).count())))
      report
    }
  }
}
