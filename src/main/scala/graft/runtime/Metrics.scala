package graft.runtime

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Task metrics per stage via SparkListener (SURVEY.md §1.4: the
  * reference's status/runtime outcome channel becomes listener metrics +
  * status columns). Registered per FeatureJob run, whose job totals are
  * dumped next to the manifest, and per ScalingBench timed run, which
  * prints the stage rows. Read it after `GraftShim.drainListeners`.
  */
final class GraftMetricsListener extends SparkListener {
  /** One stage's task totals; `name` and `wallMs` are set when it completes. */
  final class Stage {
    var name = ""
    var wallMs = -1L
    var completions, tasks, failedTasks, recordsRead, inputBytes = 0L
    var shuffleBytesWritten, shuffleBytesRead, spillBytes = 0L
    var cpuTimeNs, runTimeMs, gcTimeMs, peakExecutionMemory = 0L
  }

  private val stages = scala.collection.mutable.Map.empty[Int, Stage]

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(taskEnd.stageId, new Stage)
    s.tasks += 1
    if (taskEnd.reason != org.apache.spark.Success) s.failedTasks += 1
    val m = taskEnd.taskMetrics
    if (m != null) {
      s.recordsRead += m.inputMetrics.recordsRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleBytesWritten += m.shuffleWriteMetrics.bytesWritten
      s.shuffleBytesRead += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      s.cpuTimeNs += m.executorCpuTime
      s.runTimeMs += m.executorRunTime
      s.gcTimeMs += m.jvmGCTime
      s.peakExecutionMemory = math.max(s.peakExecutionMemory, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val i = sc.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new Stage)
    s.completions += 1
    s.name = i.name.takeWhile(_ != '\n').take(60)
    s.wallMs = (for (t0 <- i.submissionTime; t1 <- i.completionTime) yield t1 - t0).getOrElse(-1L)
  }

  /** (stage id, totals) in stage-id order. */
  def stageRows: Seq[(Int, Stage)] = synchronized(stages.toSeq.sortBy(_._1))

  def toJson: String = {
    val rows = stageRows.map(_._2)
    def sum(f: Stage => Long): Long = rows.map(f).sum
    s"""{"tasks":${sum(_.tasks)},"failedTasks":${sum(_.failedTasks)},""" +
      s""""recordsRead":${sum(_.recordsRead)},"shuffleBytesWritten":${sum(_.shuffleBytesWritten)},""" +
      s""""shuffleBytesRead":${sum(_.shuffleBytesRead)},"spillBytes":${sum(_.spillBytes)},""" +
      s""""cpuTimeNs":${sum(_.cpuTimeNs)},"executorRunTimeMs":${sum(_.runTimeMs)},""" +
      s""""peakExecutionMemory":${rows.map(_.peakExecutionMemory).maxOption.getOrElse(0L)},""" +
      s""""stagesCompleted":${sum(_.completions)}}"""
  }
}
