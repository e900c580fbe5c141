package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark listener totals of one query call. */
final class Counts {
  var jobs, eagerJobs, tasks, failedTasks = 0L
  var cpuNs, runMs, schedMs = 0L
  var shuffleRead, shuffleWrite, spill, scanBytes, scanRows, sinkBytes = 0L
}

/** One trace span; times are wall-clock microseconds. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

/** Attributes Spark jobs and tasks to the benchmark call that launched them,
  * through two thread-local job properties the caller sets: the call id and
  * its phase (construct, plan or execute). Jobs launched while a call is
  * still constructing its DataFrame are its eager jobs (checkpoints, store
  * builds).
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobCall = new ConcurrentHashMap[Int, (Int, String, Long)]()
  private val stageCall = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val counts = mutable.Map.empty[Int, Counts]
  private val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  private def countsOf(call: Int): Counts = counts.getOrElseUpdate(call, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (p <- Option(e.properties); c <- Option(p.getProperty(CallKey))) {
      val phase = p.getProperty(PhaseKey)
      jobCall.put(e.jobId, (c.toInt, phase, e.time))
      e.stageIds.foreach(stageCall.put(_, c.toInt))
      val k = countsOf(c.toInt)
      k.jobs += 1
      if (phase == "construct") k.eagerJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobCall.get(e.jobId)).foreach { case (call, phase, start) =>
      jobs += ((call, phase, start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageCall.get(e.stageId)).foreach { call =>
      val k = countsOf(call)
      k.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) k.failedTasks += 1
      Option(stageSubmitted.get(e.stageId)).foreach { s =>
        k.schedMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        k.cpuNs += m.executorCpuTime
        k.runMs += m.executorRunTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spill += m.diskBytesSpilled
        k.scanBytes += m.inputMetrics.bytesRead
        k.scanRows += m.inputMetrics.recordsRead
        k.sinkBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Listener totals per call (read after the bus is drained). */
  def callCounts: Map[Int, Counts] = synchronized(counts.toMap)

  /** Completed job spans: (call, phase, startUs, endUs). */
  def jobSpans: Seq[(Int, String, Long, Long)] = synchronized {
    jobs.toSeq.map { case (c, p, s, e) => (c, p, s * 1000L, e * 1000L) }
  }
}

object Tracer {
  val CallKey = "perfbench.call"
  val PhaseKey = "perfbench.phase"

  /** A span's self time: its duration minus the part its children cover. */
  def selfUs(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, span.startUs), math.min(c.endUs, span.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    span.endUs - span.startUs - covered
  }
}
