package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job and task accounting for the benchmark.
  *
  * Always on: a global sum of executor CPU time, which the untraced run
  * needs for its CPU metrics. With `traced`, every job is also recorded
  * with its call site (short form), start and end time, stage counts and the
  * span it ran under (the `perfbench.span` local property the harness
  * sets around each call into the library). Task metrics are attributed
  * to the span through the submitting stage's properties.
  */
final class Probe(traced: Boolean) extends SparkListener {
  import Probe._

  val cpuNanos = new AtomicLong

  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val submitted = mutable.HashSet.empty[Int]
  val bySpan = mutable.HashMap.empty[Long, Tally]

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) lock.synchronized {
    // a job's result stage is created last and is named after the call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.jobId, spanOf(e.properties), site, e.time, 0L,
      e.stageIds.toSet)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (traced) lock.synchronized {
      submitted += e.stageInfo.stageId
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNanos.addAndGet(m.executorCpuTime)
      if (traced) lock.synchronized {
        val t = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1L), new Tally)
        t.cpuNanos += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Stages a job listed but never ran (their output was reused). */
  def skipped(j: Job): Int = lock.synchronized(j.stages.count(s => !submitted(s)))

  def attach(sc: SparkContext): Probe = { sc.addSparkListener(this); this }
}

object Probe {
  val SpanKey = "perfbench.span"

  final case class Job(id: Int, span: Long, site: String, start: Long,
      var end: Long, stages: Set[Int])

  final class Tally {
    var cpuNanos = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
}
