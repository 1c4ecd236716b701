package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counts for one span: jobs (and those of at most three
  * tasks), tasks, executor time and bytes, plus each job's interval. */
final class SpanCounts {
  var jobs = 0
  var tinyJobs = 0
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attaches Spark listener counts to [[Tracer]] spans. Each span sets the
  * `perfbench.span` local property while it is open; Spark copies local
  * properties into the jobs a thread submits and into threads it starts,
  * so verify's worker pool carries the span too. A job whose property is
  * missing or names an already closed span — a pooled thread created
  * earlier — is billed to the innermost span open when it started, and
  * to no span (id 0) when none was. */
final class SparkProbe(spark: SparkSession, tracer: Tracer) {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "perfbench.span"

  // span id -> (open ms, close ms or Long.MaxValue)
  private val openAt = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private val counts = mutable.Map.empty[Long, SpanCounts]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobTasks = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  tracer.hooks(
    open = (id, _) => {
      openAt.synchronized { openAt(id) = (System.currentTimeMillis(), Long.MaxValue) }
      sc.setLocalProperty(Prop, id.toString)
    },
    close = (id, parent) => {
      val now = System.currentTimeMillis()
      openAt.synchronized { openAt.get(id).foreach { case (o, _) => openAt(id) = (o, now) } }
      sc.setLocalProperty(Prop, if (parent == 0L) null else parent.toString)
    })

  private def spanAt(ms: Long): Long = openAt.synchronized {
    openAt.filter { case (_, (o, c)) => o <= ms && ms <= c }
      .maxByOption(_._2._1).map(_._1).getOrElse(0L)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong)
        .filter(id => openAt.synchronized(openAt.get(id)).exists(_._2 >= e.time - 1))
      val id = tagged.getOrElse(spanAt(e.time))
      jobSpan(e.jobId) = id
      jobStartMs(e.jobId) = e.time
      jobTasks(e.jobId) = e.stageInfos.map(_.numTasks).sum
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      // skipped stages never complete; billing tasks by completed stage
      // keeps the task count to what actually ran
      val info = e.stageInfo
      stageJob.get(info.stageId).flatMap(jobSpan.get).foreach { id =>
        val c = counts.getOrElseUpdate(id, new SpanCounts)
        val m = info.taskMetrics
        c.tasks += info.numTasks
        if (m != null) {
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach { id =>
        val c = counts.getOrElseUpdate(id, new SpanCounts)
        c.jobs += 1
        if (jobTasks.getOrElse(e.jobId, 0) <= 3) c.tinyJobs += 1
        c.jobIntervalsMs += ((jobStartMs.getOrElse(e.jobId, e.time), e.time))
      }
    }
  }

  sc.addSparkListener(listener)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Counts billed directly to span `id` (not its children). */
  def countsOf(id: Long): SpanCounts = listener.synchronized {
    counts.getOrElse(id, new SpanCounts)
  }

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    tracer.hooks((_, _) => (), (_, _) => ())
    sc.setLocalProperty(Prop, null)
  }
}
