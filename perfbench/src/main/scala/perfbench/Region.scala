package perfbench

/** The timed region of a run: lasts at least `ctx.seconds`, records the
  * heap its work leaves live as `peak_heap_mb`, and notes the CPU
  * contention, GC and JIT time it saw. */
object Region {

  final case class Totals(gcMs: Long, jitMs: Long)

  /** Wall seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The live heap in MB, taken once the region's work is done, outside
    * its timings: the heap after a full collection. The live set grows
    * from one operation to the next (Spark keeps the status of every job
    * it ran), so the end is where a sample between operations reads
    * highest; a collection mid-run would also shrink the heap and slow
    * the operation after it. The listener bus is drained first, so events
    * still queued for Spark's status listeners do not count. Spark frees
    * some memory only after a collection has found it unreachable: the
    * context cleaner drops the blocks of collected broadcasts, and
    * `unpersist` drops cached blocks asynchronously. So collections
    * repeat, [[SettleMs]] apart, until two readings agree within
    * [[SettleMb]], at most [[SettleTries]] times; the last reading is the
    * sample. */
  private def liveHeapMb(ctx: Ctx): Double = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val readings = scala.collection.mutable.ArrayBuffer.empty[Double]
    def settled = readings.size >= 2 &&
      math.abs(readings(readings.size - 1) - readings(readings.size - 2)) <= SettleMb
    var tries = 0
    while (!settled && tries < SettleTries) {
      if (tries > 0) Thread.sleep(SettleMs)
      tries += 1
      Host.HeapAfterGc.fullGc() match {
        case Some(mb) => readings += mb
        case None => ctx.log("a full collection sent no notification")
      }
    }
    ctx.log(readings.map(m => f"$m%.1f").mkString("heap after full GCs:", " ", " MB"))
    readings.lastOption.getOrElse(sys.error("no full collection reported the heap"))
  }

  val SettleMs = 150L
  val SettleMb = 0.5
  val SettleTries = 6

  def run[T](ctx: Ctx, out: Outcome)(body: Long => T): T = {
    val contention = new Host.Contention
    val gc0 = Host.gcMs
    val jit0 = Host.jitMs
    val t0 = System.nanoTime()
    val res = body(t0 + (ctx.seconds * 1e9).toLong)
    val wall = (System.nanoTime() - t0) / 1e9
    val (stall, throttle) = contention.shares
    out.region = Totals(Host.gcMs - gc0, Host.jitMs - jit0)
    out.metric("peak_heap_mb", liveHeapMb(ctx), "MB")
    out.note("region_s", f"$wall%.2f")
    out.note("psi_cpu_stall_share", f"$stall%.4f")
    out.note("cgroup_throttle_share", f"$throttle%.4f")
    out.note("region_gc_ms", out.region.gcMs)
    out.note("region_jit_ms", out.region.jitMs)
    res
  }
}
