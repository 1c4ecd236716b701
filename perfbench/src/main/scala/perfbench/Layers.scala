package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.BucketedMergeTarget
import graft.streaming.{IncrementalSync, StoreFollower, TableSyncState}

/** Per-layer metrics of a traced run. Every layer is timed from outside,
  * around calls into its public functions; Spark counts come from the
  * [[SparkProbe]]. A traced run prints every name in [[PerLayer]]; a
  * layer its workload does not exercise reads 0. */
object Layers {

  val PerLayer: Seq[(String, String)] = Seq(
    "snapshot.run_s" -> "s", "snapshot.jobs" -> "count", "snapshot.driver_s" -> "s",
    "operators.checksum_s" -> "s", "operators.checksum_jobs" -> "count",
    "operators.checksum_busy_frac" -> "ratio",
    "jsonb.encode_s" -> "s", "jsonb.exec_cpu_us_per_row" -> "us",
    "streaming.poll_ms" -> "ms", "streaming.scan_ms" -> "ms",
    "streaming.jobs_per_poll" -> "count", "streaming.follow_ms" -> "ms",
    "streaming.follow_poll_ms" -> "ms", "streaming.follow_buckets" -> "count",
    "sinks.merge_ms" -> "ms", "sinks.delete_ms" -> "ms", "sinks.replace_buckets_ms" -> "ms",
    "sinks.manifest_ms" -> "ms", "sinks.buckets_rewritten" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "sinks.rewrite_amplification" -> "ratio",
    "operators.reconcile_ms" -> "ms", "streaming.reconcile_lag_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tiny_jobs" -> "count", "spark.tasks" -> "count",
    "spark.exec_busy_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "self.snapshot_s" -> "s", "self.operators_s" -> "s", "self.jsonb_s" -> "s",
    "self.streaming_s" -> "s", "self.sinks_s" -> "s",
    "self.request_s" -> "s",
    "trace.unaccounted_frac" -> "ratio", "trace.overhead_pct" -> "%")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def named(ctx: Ctx, n: String): Seq[Span] = ctx.tracer.spans.filter(_.name == n)

  private def counts(ctx: Ctx, s: Span): SpanCounts = ctx.probe.get.countsOf(s.id)

  /** Counts of a span and everything nested in it. */
  private def treeCounts(ctx: Ctx, root: Span): Seq[SpanCounts] = {
    val all = ctx.tracer.spans
    def walk(s: Span): Seq[Span] = s +: all.filter(_.parent == s.id).flatMap(walk)
    walk(root).map(counts(ctx, _))
  }

  /** Engine, JVM, self-time and accounting metrics common to all workloads. */
  def common(ctx: Ctx, out: Outcome, overheadPct: Double): Unit = {
    ctx.probe.get.drain()
    val spans = ctx.tracer.spans
    val cs = spans.map(counts(ctx, _))
    out.metric("spark.jobs", cs.map(_.jobs).sum, "count")
    out.metric("spark.tiny_jobs", cs.map(_.tinyJobs).sum, "count")
    out.metric("spark.tasks", cs.map(_.tasks).sum.toDouble, "count")
    val roots = spans.filter(_.parent == 0L)
    val rootWall = roots.map(_.durNs).sum
    out.metric("spark.exec_busy_frac",
      if (rootWall > 0) cs.map(_.execRunMs).sum / (rootWall / 1e6 * ctx.cores) else 0.0, "ratio")
    out.metric("spark.shuffle_write_mb", cs.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
    out.metric("spark.spill_mb", cs.map(_.spillBytes).sum / 1048576.0, "MB")
    out.metric("jvm.gc_ms", out.region.gcMs.toDouble, "ms")
    out.metric("jvm.jit_ms", out.region.jitMs.toDouble, "ms")
    val self = Trace.selfByName(spans)
    Seq("snapshot", "operators", "jsonb", "streaming", "sinks").foreach { l =>
      out.metric(s"self.${l}_s", self.filter(_._1.startsWith(l + ".")).values.sum / 1e9, "s")
    }
    // root spans named outside every layer are request wrappers: their
    // self time is wall no layer call covers
    val unaccounted = roots.filter(r => !r.name.contains('.')).map(Trace.selfNs(_, spans)).sum
    out.metric("self.request_s", unaccounted / 1e9, "s")
    out.metric("trace.unaccounted_frac",
      if (rootWall > 0) unaccounted.toDouble / rootWall else 0.0, "ratio")
    out.metric("trace.overhead_pct", overheadPct, "%")
    // self times telescope to the request's wall unless sibling spans
    // overlapped, which would double-count
    val acc = Trace.accounting(spans)
    out.note("requests_traced", acc.size)
    out.check("spans account for each traced request's wall",
      acc.nonEmpty &&
        acc.values.forall { case (wall, self) => math.abs(self - wall) <= wall / 100 })
  }

  /** `snapshot_x<Rung>`: the copy, checksum and encode calls of each
    * traced iteration. */
  def snapshot(ctx: Ctx, out: Outcome, srcRows: Long, encodeRows: Long,
               overheadPct: Double): Unit = {
    ctx.probe.get.drain()
    val runs = named(ctx, "snapshot.run")
    out.metric("snapshot.run_s", med(runs.map(_.durNs / 1e9)), "s")
    out.metric("snapshot.jobs", med(runs.map(counts(ctx, _).jobs.toDouble)), "count")
    out.metric("snapshot.driver_s", med(runs.map { s =>
      (s.endMs - s.startMs - Trace.coveredNs(counts(ctx, s).jobIntervalsMs.toSeq, s.startMs,
        s.endMs)) / 1e3
    }), "s")
    val sums = named(ctx, "operators.checksum")
    out.metric("operators.checksum_s", med(sums.map(_.durNs / 1e9)), "s")
    out.metric("operators.checksum_jobs", med(sums.map(counts(ctx, _).jobs.toDouble)), "count")
    out.metric("operators.checksum_busy_frac", med(sums.map { s =>
      counts(ctx, s).execRunMs / ((s.durNs / 1e6) * ctx.cores) }), "ratio")
    val enc = named(ctx, "jsonb.encode")
    out.metric("jsonb.encode_s", med(enc.map(_.durNs / 1e9)), "s")
    out.metric("jsonb.exec_cpu_us_per_row",
      med(enc.map(s => counts(ctx, s).execCpuNs / 1e3 / encodeRows)), "us")
    out.note("traced_copy_rows", srcRows)
    common(ctx, out, overheadPct)
  }

  /** `sync_trickle` traced polls: the public calls `SyncCycle.runLoop`
    * makes, in its order, then the follower split into its polls and its
    * bucket replacements — the steps of `StoreFollower.replicate`. */
  final class SyncTrace(ctx: Ctx, batches: Vector[SyncWorkload.Batch]) {
    import ctx.spark
    import SyncWorkload._

    private var rewrittenRows = 0L
    private var changedRows = 0L
    private var bucketsRewritten = 0L
    private var bytesWritten = 0L
    private var filesWritten = 0L
    private var followBuckets = 0L
    private var pendingDeletes = 0L
    private var tracedPolls = 0
    private val span = ctx.tracer

    private def parquetFiles(dir: String): Set[String] = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) Set.empty
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    }

    /** Rows now held by buckets whose owning directory changed. */
    private def rowsRewritten(before: Option[BucketedMergeTarget.Manifest],
                              after: Option[BucketedMergeTarget.Manifest]): Long =
      after.map { a =>
        val prev = before.map(_.buckets).getOrElse(Map.empty[Int, String])
        a.buckets.collect {
          case (b, d) if !prev.get(b).contains(d) => a.rowCounts.getOrElse(b, 0L)
        }.sum
      }.getOrElse(0L)

    def poll(p: Pipeline, source: DataFrame, index: Int, reconcile: Boolean): Unit = {
      val req = s"poll#$index"
      val m0 = BucketedMergeTarget.currentManifest(spark, p.store)
      val files0 = parquetFiles(p.store) ++ parquetFiles(p.mirror)
      span.span("poll", req) {
        span.span("streaming.cycle", req) {
          val wm = p.state.watermark(Schema, Table)
          val sourceMax = span.span("streaming.watermark", req) {
            IncrementalSync.watermarkOf(source, Ver, wm)
          }
          val changes = IncrementalSync.readChanges(source, Ver, wm)
          val n = span.span("streaming.scan", req)(changes.count())
          if (n > 0) {
            val st = span.span("sinks.merge", req) {
              BucketedMergeTarget.merge(changes, p.store, Pk, Ver)
            }
            bucketsRewritten += st.bucketsRewritten; bytesWritten += st.bytesWritten
          }
          if (reconcile) span.span("operators.reconcile", req) {
            val orphans = BucketedMergeTarget.read(spark, p.store)
              .join(source.select(Pk.map(col): _*).distinct(), Pk, "left_anti")
              .select(Pk.map(col): _*)
            val st = span.span("sinks.delete", req) {
              BucketedMergeTarget.deleteKeys(orphans, p.store, Pk)
            }
            bucketsRewritten += st.bucketsRewritten; bytesWritten += st.bytesWritten
          }
          val rows = span.span("sinks.manifest", req) {
            BucketedMergeTarget.rowCount(spark, p.store)
          }
          span.span("streaming.state", req) {
            p.state.update(TableSyncState(Schema, Table, math.max(wm, sourceMax),
              System.currentTimeMillis(),
              rows.getOrElse(BucketedMergeTarget.read(spark, p.store).count())))
          }
        }
        span.span("streaming.follow", req) {
          var draining = true
          while (draining) {
            span.span("streaming.follow_poll", req) {
              StoreFollower.poll(spark, p.store, p.follow)
            } match {
              case None => draining = false
              case Some(d) =>
                val m = d.state.seen.get
                val st = span.span("sinks.replace_buckets", req) {
                  BucketedMergeTarget.replaceBuckets(d.rows, p.mirror, d.changedBuckets,
                    m.pkCols, m.nBuckets, m.bucketCols)
                }
                followBuckets += d.changedBuckets.size
                bytesWritten += st.bytesWritten
                p.follow = d.state
            }
          }
        }
      }
      // bookkeeping outside the request: what the store commits rewrote
      val b = batches(index - 1)
      pendingDeletes += b.deletes
      changedRows += b.updates + b.inserts
      if (reconcile) { changedRows += pendingDeletes; pendingDeletes = 0 }
      rewrittenRows += rowsRewritten(m0, BucketedMergeTarget.currentManifest(spark, p.store))
      filesWritten += ((parquetFiles(p.store) ++ parquetFiles(p.mirror)) -- files0).size
      tracedPolls += 1
    }

    /** Deletes reach the store only on reconcile polls; polls traced
      * through `runLoop` still accrue them. */
    def skipped(index: Int, reconcile: Boolean): Unit = {
      pendingDeletes += batches(index - 1).deletes
      if (reconcile) pendingDeletes = 0
    }

    def report(out: Outcome, runLoopMs: Seq[Double]): Unit = {
      ctx.probe.get.drain()
      val polls = named(ctx, "poll")
      def perRequest(name: String): Seq[Double] =
        named(ctx, name).groupBy(_.request).values.map(_.map(_.durNs).sum / 1e6).toSeq
      // the last poll is the reconcile one
      val last = polls.maxByOption(_.start)
      val decomposed = polls.filterNot(last.contains).map(_.durNs / 1e6)
      out.metric("streaming.poll_ms", med(named(ctx, "streaming.cycle").map(_.durNs / 1e6)), "ms")
      out.metric("streaming.scan_ms", med(
        (named(ctx, "streaming.watermark") ++ named(ctx, "streaming.scan"))
          .groupBy(_.request).values.map(_.map(_.durNs).sum / 1e6).toSeq), "ms")
      out.metric("streaming.jobs_per_poll", med(polls.map(p =>
        treeCounts(ctx, p).map(_.jobs).sum.toDouble)), "count")
      out.metric("streaming.follow_ms",
        med(named(ctx, "streaming.follow").map(_.durNs / 1e6)), "ms")
      out.metric("streaming.follow_poll_ms", med(perRequest("streaming.follow_poll")), "ms")
      val n = math.max(1, tracedPolls)
      out.metric("streaming.follow_buckets", followBuckets.toDouble / n, "count")
      out.metric("sinks.merge_ms", med(named(ctx, "sinks.merge").map(_.durNs / 1e6)), "ms")
      out.metric("sinks.delete_ms", med(named(ctx, "sinks.delete").map(_.durNs / 1e6)), "ms")
      out.metric("sinks.replace_buckets_ms", med(perRequest("sinks.replace_buckets")), "ms")
      out.metric("sinks.manifest_ms", med(named(ctx, "sinks.manifest").map(_.durNs / 1e6)), "ms")
      out.metric("sinks.buckets_rewritten", bucketsRewritten.toDouble / n, "count")
      out.metric("sinks.bytes_written", bytesWritten.toDouble / n, "bytes")
      out.metric("sinks.files_written", filesWritten.toDouble / n, "count")
      out.metric("sinks.rewrite_amplification",
        if (changedRows > 0) rewrittenRows.toDouble / changedRows else 0.0, "ratio")
      out.metric("operators.reconcile_ms",
        med(named(ctx, "operators.reconcile").map(_.durNs / 1e6)), "ms")
      out.metric("streaming.reconcile_lag_ms", last.fold(0.0)(_.durNs / 1e6), "ms")
      out.note("traced_polls", tracedPolls)
      // how far the traced polls sit from the untraced runLoop polls
      common(ctx, out,
        if (runLoopMs.isEmpty || decomposed.isEmpty) 0.0
        else 100 * (med(decomposed) / med(runLoopMs) - 1))
    }
  }
}
