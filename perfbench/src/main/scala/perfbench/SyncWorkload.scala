package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checksum
import graft.sinks.BucketedMergeTarget
import graft.streaming.{StoreFollower, SyncCycle, SyncStateStore}

/** `sync_trickle`: xmin-style polling sync into a bucketed store plus a
  * store follower mirroring it, on a trickle of small commits. A commit
  * switches the source to the next pre-written snapshot (`gen.py`); each
  * poll then runs `SyncCycle.runLoop(cycles = 1)` (step 1: commit to
  * store) and `StoreFollower.replicate` (step 2: store to mirror). A run
  * makes plain polls for `--seconds`, at least [[MinPlainPolls]], then
  * one reconcile poll; the reported steps are medians over the plain
  * polls, and step 3 is the whole commit-to-mirror lag. */
object SyncWorkload extends Workload {

  /** A poll costs seconds of fixed per-commit work, so a run affords few:
    * enough for a median, not for a tail percentile. */
  val MinPlainPolls = 6
  val Schema = "public"
  val Table = "orders"
  val Pk = Seq("o_orderkey")
  val Ver = "ver"

  /** Changed-key counts of one generated batch (see `gen.py`). */
  final case class Batch(index: Int, updates: Int, inserts: Int, deletes: Int) {
    def changed: Int = updates + inserts + deletes
  }

  def snapshotPath(dir: String, b: Int): String = f"$dir/snap$b%03d"

  /** One store + mirror pair and the state a poll advances. */
  final class Pipeline(val root: Path) {
    val store: String = root.resolve("store").toString
    val mirror: String = root.resolve("mirror").toString
    val state = new SyncStateStore(root.resolve("state.json"))
    var follow: StoreFollower.FollowState = StoreFollower.Start
  }

  final case class Lag(poll: Int, reconcile: Boolean, storeMs: Double, mirrorMs: Double,
                       totalMs: Double)

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val snapDir = ctx.arg("sync")
    val batches = Files.readAllLines(Paths.get(snapDir, "batches.tsv")).asScala.toVector
      .map(_.split("\\t").map(_.toInt)).map { case Array(i, u, n, d) => Batch(i, u, n, d) }
    require(batches.size > MinPlainPolls, s"${batches.size} batches generated, a run commits more")
    out.note("batches", batches.size)
    out.note("changed_per_batch", batches.map(_.changed).sum / batches.size)
    out.note("snapshot_bytes", Fixtures.dirBytes(new java.io.File(snapshotPath(snapDir, 0))))
    var current = 0
    val source: () => DataFrame = () => spark.read.parquet(snapshotPath(snapDir, current))

    def cycle(p: Pipeline, reconcile: Boolean): Unit =
      SyncCycle.runLoop(source, p.store, Schema, Table, Ver, Pk, p.state, cycles = 1,
        reconcileEvery = if (reconcile) 1 else Int.MaxValue)
    def follow(p: Pipeline): Unit =
      p.follow = StoreFollower.replicate(spark, p.store, p.mirror, p.follow)

    // set-up: the seeding poll (a full copy into a new store) and the
    // first follow (a full mirror), three times on fresh directories
    var pipe: Pipeline = null
    val setups = (1 to 3).map { i =>
      pipe = new Pipeline(ctx.scratch(s"sync$i"))
      Region.seconds { cycle(pipe, reconcile = false); follow(pipe) }
    }
    out.metric("setup_s", ctx.sessionStartS + Stats.median(setups), "s")

    // a traced run alternates: even polls run `runLoop` and `replicate`
    // untraced, odd polls (the final reconcile one too) the same calls
    // one by one under spans; the pair gives the tracing overhead and how
    // far the decomposition sits from `runLoop`
    val tracedPoll = if (ctx.traced) Some(new Layers.SyncTrace(ctx, batches)) else None
    val lags = Vector.newBuilder[Lag]
    Region.run(ctx, out) { deadline =>
      var poll = 0
      var ok = true
      var reconcile = false
      while (ok && !reconcile) {
        poll += 1
        // the last poll reconciles: once the plain polls have had their
        // time, or when one batch is left
        reconcile = poll == batches.size ||
          (poll > MinPlainPolls && System.nanoTime() >= deadline)
        current = poll // the commit
        val t0 = System.nanoTime()
        var t1 = t0
        ok = out.attempt(s"poll $poll") {
          tracedPoll match {
            case Some(t) if poll % 2 == 1 => t.poll(pipe, source(), poll, reconcile)
            case other =>
              ctx.tracer.untraced { cycle(pipe, reconcile); t1 = System.nanoTime(); follow(pipe) }
              other.foreach(_.skipped(poll, reconcile))
          }
        }.isDefined
        val t2 = System.nanoTime()
        lags += Lag(poll, reconcile, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t2 - t0) / 1e6)
        ctx.log(f"poll $poll${if (reconcile) " (reconcile)" else ""}: ${(t2 - t0) / 1e6}%.0f ms" +
          (if (t1 > t0) f" (store ${(t1 - t0) / 1e6}%.0f, mirror ${(t2 - t1) / 1e6}%.0f)" else ""))
      }
    }
    val all = lags.result()
    // in a traced run only the untraced polls stand for the program
    val untraced = if (ctx.traced) all.filter(_.poll % 2 == 0) else all
    val plain = untraced.filterNot(_.reconcile)
    out.note("polls", all.size)
    val reconcileMs = all.lastOption.filter(_.reconcile).map(_.totalMs).getOrElse(Double.NaN)
    out.note("reconcile_lag_ms", f"$reconcileMs%.1f")

    if (!ctx.traced) Seq[(String, Lag => Double)](
      "step1_ms" -> (_.storeMs), "step2_ms" -> (_.mirrorMs), "step3_ms" -> (_.totalMs)
    ).foreach { case (name, f) =>
      val s = Stats.summary(plain.map(f))
      out.metric(name, s.median, "ms")
      out.note(name, s)
    }

    // output check, untimed: the last poll reconciled and followed, so
    // the mirror must equal the last committed source snapshot
    val want = source()
    val got = BucketedMergeTarget.read(spark, pipe.mirror).select(want.columns.map(col): _*)
    val (a, b) = (Checksum.unorderedChecksum(want).head(), Checksum.unorderedChecksum(got).head())
    out.check("mirror equals final source snapshot",
      a.getLong(1) == b.getLong(1) && a.get(0) == b.get(0))

    tracedPoll.foreach(_.report(out, plain.map(_.totalMs)))
  }
}
