package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-stage execution record, filled from `SparkListener` events. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var name = ""
  var submitMs = 0L
  var completeMs = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  var cpuNs, deserMs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, outputBytes = 0L
}

/** Records every stage of the traced passes. Registered by the benchmark
  * only in traced passes; the untraced passes run without it.
  */
final class StageListener extends SparkListener {
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private var jobsStarted, jobsEnded = 0

  private def rec(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobsStarted += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = rec(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    r.name = e.stageInfo.name
    r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val r = rec(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (r.submitMs == 0L) r.submitMs = e.stageInfo.submissionTime.getOrElse(r.completeMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val r = rec(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      r.taskMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.deserMs += m.executorDeserializeTime
      r.gcMs += m.jvmGCTime
      r.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until every job and stage this listener saw has ended. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      jobsStarted == jobsEnded && stages.values.forall(_.completeMs > 0)
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Stages submitted inside [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[StageRec] = synchronized {
    stages.values.filter(s => s.submitMs >= fromMs && s.submitMs <= toMs).toSeq
  }
}

object Trace {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Milliseconds of [fromMs, toMs] that no stage interval covers. */
  def uncoveredMs(fromMs: Long, toMs: Long, stages: Seq[StageRec]): Long = {
    val iv = stages.map(s => (math.max(fromMs, s.submitMs), math.min(toMs, s.completeMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered)
  }

  /** Worst stage's slowest task over its median task (stages of 2+ tasks). */
  def skew(stages: Seq[StageRec]): Double = {
    val ratios = stages.filter(_.taskMs.length >= 2).map { s =>
      val med = median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(1.0, med)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
