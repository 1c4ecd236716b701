package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (xmin-style) sync semantics — reference `src/xmin/` modules:
  *
  *   - per-table high-water mark `last_xmin` persisted between cycles
  *     (`src/xmin/state.rs:12-49`) — here a watermark value threaded by
  *     the caller (or Structured Streaming checkpoint when streaming);
  *   - change scan `WHERE version > watermark` + new max (`reader.rs:122-163`);
  *   - u32 wraparound detection: Δ > 2e9 → full resync (`reader.rs:10,35-48`);
  *   - change-count estimate (`reader.rs:317-336`);
  *   - CDC change application: group per table, upsert keyed by PK —
  *     idempotent under micro-batch replay (`src/commands/sync_sqlite.rs:129-187`);
  *   - `_latest` materialization: keep only the newest change per key
  *     (`sync_sqlite.rs:166-202`) — streaming dedup by (key, max cursor).
  */
object IncrementalSync {

  /** `XMIN_WRAPAROUND_THRESHOLD` (`src/xmin/reader.rs:10`). */
  val WraparoundThreshold: Long = 2000000000L

  /** `detect_wraparound(old,new)` (`src/xmin/reader.rs:35-48`): the
    * watermark moving *backwards* by more than the threshold means the
    * u32 txid space wrapped → full resync required. */
  def detectWraparound(oldWatermark: Long, newWatermark: Long): Boolean =
    oldWatermark > newWatermark && (oldWatermark - newWatermark) > WraparoundThreshold

  /** Incremental read: rows with `versionCol > watermark`. Lazy — no
    * driver action here, so callers compose their own aggregation over
    * the single scan (the round-1 version eagerly computed max() and
    * forced a double scan). The filter is a pushed-down predicate — at
    * scale this is a partition-pruned scan, not a full read. */
  def readChanges(df: DataFrame, versionCol: String, watermark: Long): DataFrame =
    df.filter(col(versionCol) > watermark)

  /** New high-water mark of a change batch: max version, or the previous
    * watermark when the batch is empty. One job, one scan; tolerant of
    * int/long version columns via Number (not a hard getLong). */
  def watermarkOf(changes: DataFrame, versionCol: String, previous: Long): Long = {
    val row = changes.agg(max(col(versionCol)).cast("long")).head()
    if (row.isNullAt(0)) previous else row.getAs[Number](0).longValue()
  }

  /** [[watermarkOf]] of the whole `source` together with the count of
    * its rows past `watermark`, from ONE aggregate over one scan: a sync
    * poll needs both, and an idle poll is then that aggregate alone. */
  def scanWatermark(source: DataFrame, versionCol: String, watermark: Long): (Long, Long) = {
    val row = source.agg(max(col(versionCol)).cast("long"),
      count_if(col(versionCol) > watermark)).head()
    (if (row.isNullAt(0)) watermark else row.getLong(0), row.getLong(1))
  }

  /** `estimate_changes` (`src/xmin/reader.rs:317-336`). */
  def estimateChanges(df: DataFrame, versionCol: String, watermark: Long): Long =
    df.filter(col(versionCol) > watermark).count()

  /** `_latest`-table materialization (`src/commands/sync_sqlite.rs:166-202`):
    * newest change per key wins. Implemented as max_by over the cursor —
    * a single hash aggregation (map-side combinable), not a global
    * row_number window, so it scales with keys not rows. */
  def latestByKey(changes: DataFrame, keyCols: Seq[String], cursorCol: String): DataFrame = {
    val valueCols = changes.columns.filterNot(c => keyCols.contains(c))
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(struct(valueCols.toIndexedSeq.map(col): _*), col(cursorCol)).as("__latest"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Apply a change batch the way the reference's per-table merge does
    * (upserts for insert/update ops, the delete set separately):
    * returns (upserts, deleteKeys). `opCol` ∈ insert|update|delete
    * (`sqlite-watcher/src/queue.rs:60-79`). */
  def splitChanges(changes: DataFrame, opCol: String): (DataFrame, DataFrame) = {
    val latest = changes
    (latest.filter(col(opCol) =!= "delete"), latest.filter(col(opCol) === "delete"))
  }
}
