package graft.streaming

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.BucketedMergeTarget
import graft.sinks.BucketedMergeTarget.Manifest

/** Follow a [[graft.sinks.BucketedMergeTarget]] as an incremental feed of
  * CHANGED BUCKETS — store-native change-data capture, the read half that
  * pairs with the streaming sink's write half: a store one pipeline
  * maintains becomes the live input of the next, with I/O per poll ∝ what
  * actually changed, never ∝ store size.
  *
  * This is the Spark-native analog of the reference's continuous-sync
  * follower: its xmin daemon keeps a consumer-owned `last_xmin` watermark
  * per table (`src/xmin/daemon.rs:340-346` — state lives in the
  * follower's `SyncState` file, not the source database), and its pub/sub
  * path has subscribers track a publication (`src/replication/
  * subscription.rs:40-256`). Here the watermark is the follower's
  * LAST-SEEN MANIFEST, carried in the caller's [[FollowState]] rather
  * than re-read from the store — necessarily so, because store gc retains
  * only the newest two manifests; history must live with the consumer.
  *
  * A bucket is "changed" when its owning version dir in the current
  * manifest differs from the one in the last-seen manifest (or it
  * appeared/vanished). The delta is the changed buckets' CURRENT
  * contents: keys sharing a bucket with a changed key are re-emitted, so
  * the feed is at-least-once PER KEY and upsert-shaped. Both supported
  * consumptions absorb that idempotently — latest-wins merge by cursor
  * over [[poll]]'s rows, or wholesale bucket replacement ([[replicate]]),
  * which also carries DELETE fidelity: a key deleted at the source isn't
  * in its bucket's replacement contents, so it disappears from the mirror
  * with no row-level diffing. [[replicate]] never reads rows at all: the
  * mirror's buckets are the source's, so it copies each changed bucket's
  * files as bytes ([[graft.sinks.BucketedMergeTarget.copyBuckets]]).
  */
object StoreFollower {

  /** The follower's watermark: the manifest it last emitted through.
    * Serialize `seen.map(_.version)` plus the bucket→dir map if the
    * follower itself must survive restarts — or just re-start from
    * [[Start]]: the first poll re-emits everything, and both consumption
    * modes are idempotent, so recovery is correctness-free. */
  final case class FollowState(seen: Option[Manifest])

  /** Everything committed counts as changed on the first poll. */
  val Start: FollowState = FollowState(None)

  /** One drained change set: `rows` is the current contents of
    * `changedBuckets` (no internal columns), `state` the advanced
    * watermark to carry into the next poll. */
  final case class Delta(rows: DataFrame, changedBuckets: Set[Int],
                         version: Long, state: FollowState)

  /** One poll against the store's committed state. None = no version
    * newer than `state` (nothing to do — the cheap steady-state answer:
    * one manifest read, no data I/O, no Spark job). */
  def poll(spark: SparkSession, path: String, state: FollowState): Option[Delta] =
    pending(spark, path, state).map { case (cur, changed) =>
      val rows = BucketedMergeTarget.readBuckets(spark, path, cur, changed)
        .drop(BucketedMergeTarget.BucketCol)
      Delta(rows, changed, cur.version, FollowState(Some(cur)))
    }

  /** Mirror every pending source change into `target`, bucket-for-bucket:
    * each pending source version is applied as ONE [[BucketedMergeTarget
    * .copyBuckets]] commit, which copies the changed buckets' files as
    * bytes from the source's version dirs into one new mirror version
    * dir — no Spark job, nothing read, rehashed or rewritten. Upserts,
    * deletes and emptied buckets all replicate exactly, and a replay of
    * an already-applied version copies the same files again (idempotent).
    * The mirror shares the source's bucket layout by construction, and
    * owns its copies: source gc never touches them. Loops until the
    * source has nothing newer; returns the advanced watermark.
    *
    * Contention on the TARGET (another writer committing between our
    * read and publish), or a source whose gc reclaimed a bucket dir
    * mid-copy, surfaces as an IOException — rerun; the watermark only
    * advances past a version once it lands. */
  @tailrec
  def replicate(spark: SparkSession, source: String, target: String,
                state: FollowState = Start): FollowState =
    pending(spark, source, state) match {
      case None => state
      case Some((cur, changed)) =>
        BucketedMergeTarget.copyBuckets(spark, source, cur, target, changed)
        replicate(spark, source, target, FollowState(Some(cur)))
    }

  /** The source's current manifest when it is newer than `state`, with
    * the buckets changed since: owner dir differs, plus buckets EMPTIED
    * since last seen (present before, absent now) — those carry no rows
    * but a mirror must still clear them. EXCEPTION: a compaction commit
    * over exactly our watermark is content-identical by construction
    * (only owner dirs moved) — advance past it with zero I/O instead of
    * re-reading the store. */
  private def pending(spark: SparkSession, path: String,
                      state: FollowState): Option[(Manifest, Set[Int])] =
    BucketedMergeTarget.currentManifest(spark, path)
      .filterNot(cur => state.seen.exists(_.version >= cur.version))
      .map { cur =>
        val prev = state.seen.map(_.buckets).getOrElse(Map.empty[Int, String])
        val changed =
          if (state.seen.exists(_.version == cur.compactedFrom)) Set.empty[Int]
          else cur.buckets.collect {
            case (b, d) if !prev.get(b).contains(d) => b
          }.toSet ++ (prev.keySet -- cur.buckets.keySet)
        cur -> changed
      }
}
