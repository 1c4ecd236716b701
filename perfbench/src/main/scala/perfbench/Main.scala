package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer (and its Spark
  * probe in traced runs), the inputs and where to put scratch files. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val dataDir: String, val work: Path, val tracer: Tracer,
                val probe: Option[SparkProbe], val sessionStartS: Double,
                args: Map[String, String]) {
  val traced: Boolean = tracer.enabled
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def cores: Int = spark.sparkContext.defaultParallelism
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))

  /** Scratch directory of this run, emptied first. */
  def scratch(name: String): Path = {
    val p = work.resolve("run").resolve(name)
    Fixtures.deleteTree(p)
    Files.createDirectories(p)
    p
  }
}

/** What a run reports: metrics by name with unit, the operations it
  * attempted and failed, the output checks, and host facts. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var attempted = 0L
  var failed = 0L
  var region = Region.Totals(0, 0)

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(key: String, value: Any): Unit = info(key) = value.toString
  def check(name: String, ok: Boolean): Unit = checks += (name -> ok)

  /** Run a call that makes `ops` operations (table copies, polls); an
    * exception counts them all failed and is logged. */
  def attempt[T](what: String, ops: Int = 1)(body: => T): Option[T] = {
    attempted += ops
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      failed += ops
      System.err.println(s"[perfbench] $what FAILED: $e")
      None
    }
  }

  def correct: Boolean = failed == 0 && checks.forall(_._2)
}

trait Workload {
  def run(ctx: Ctx, out: Outcome): Unit
}

/** Entry point. Usage:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <sf dir> --work <scratch dir> [--sync <snapshot dir>]
  * }}}
  * Prints one JSON object as the last stdout line; exits nonzero when an
  * operation or an output check failed. */
object Main {

  val Workloads: Map[String, Workload] = Map(
    s"snapshot_x${SnapshotWorkload.Rung}" -> SnapshotWorkload,
    "sync_trickle" -> SyncWorkload)

  /** End-to-end metrics every untraced run reports. The three steps are
    * the parts of the workload's request, in the order it runs them (see
    * each workload); each is a median. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_heap_mb" -> "MB",
    "step1_ms" -> "ms", "step2_ms" -> "ms", "step3_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.getOrElse(arg("workload"), sys.error(s"unknown workload ${arg("workload")}"))
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    Host.HeapAfterGc.install()

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local(Host.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val probe = if (traced) Some(new SparkProbe(spark, tracer)) else None
    val ctx = new Ctx(spark, arg("seed").toLong, arg("seconds").toDouble, arg("data"),
      work, tracer, probe, sessionS, args)
    val out = new Outcome
    out.note("cores", Host.cores)
    out.note("max_heap_mb", f"${Host.maxHeapMb}%.0f")
    out.note("spark_version", spark.version)
    out.note("seed", ctx.seed)
    out.note("session_start_s", f"$sessionS%.3f")

    val ok =
      try { wl.run(ctx, out); out.correct }
      catch { case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        false
      }
    if (traced) {
      val f = work.resolve("run").resolve("spans.jsonl")
      Files.createDirectories(f.getParent)
      Files.write(f, Trace.toJsonLines(tracer.spans).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      out.note("spans_file", f)
    }
    probe.foreach(_.detach())
    spark.stop()

    out.checks.foreach { case (n, c) => ctx.log(s"check $n: ${if (c) "ok" else "FAILED"}") }
    ctx.log("info " + out.info.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
    // a traced run reports every per-layer metric (0 for a layer its
    // workload does not exercise), an untraced run the end-to-end ones
    val names = if (traced) Layers.PerLayer else EndToEnd
    val missing = if (traced) Nil else names.map(_._1).filterNot(out.metrics.contains)
    if (missing.nonEmpty) ctx.log(s"no value for ${missing.mkString(", ")}")
    val correct = ok && missing.isEmpty
    val metrics = names.map { case (n, u) =>
      val v = out.metrics.get(n).map(_._1).getOrElse(if (traced) 0.0 else Double.NaN)
      s""""$n":{"value":${jnum(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** Locale-independent JSON number with all its digits. */
  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
