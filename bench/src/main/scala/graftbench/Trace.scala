package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Layer tracing for the traced run. Every call the benchmark makes into
  * the engine runs under a job group `pass|op|phase` set on the calling
  * thread; Spark hands the group to every job that call starts, including
  * jobs started from broadcast and subquery threads. This listener folds
  * the jobs, stages and task metrics of each group into one [[Cell]].
  * Nothing runs inside the engine: the spans are the benchmark's own
  * timers around each call. */
final class Trace extends SparkListener {
  import Trace._

  private val cells = mutable.Map[Key, Cell]()
  private val stageKey = mutable.Map[Int, Key]()
  private var unattributed = 0L

  private def cell(k: Key): Cell = cells.getOrElseUpdate(k, new Cell)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupProperty)))
    group.flatMap(parseKey) match {
      case Some(k) =>
        cell(k).jobs += 1
        e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
      case None => unattributed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => cell(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageKey.get(e.stageId).foreach { k =>
      val c = cell(k)
      val i = e.taskInfo
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      // Spark UI's scheduler delay: task wall minus the parts the executor
      // accounts for
      c.schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs that ran under no benchmark group (should stay 0). */
  def unattributedJobs: Long = synchronized(unattributed)

  def snapshot: Map[Key, Cell] = synchronized(cells.toMap)
}

object Trace {
  final case class Key(pass: Int, op: String, phase: String)

  final class Cell {
    var jobs, stages, tasks, runMs, cpuNs, schedMs = 0L
    var shuffleWrite, shuffleRead, spill, peakMem = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
  }

  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupProperty = "spark.jobGroup.id"

  val Construct = "construct"
  val Plan = "plan"
  val Exec = "exec"

  def group(pass: Int, op: String, phase: String): String = s"$pass|$op|$phase"

  private def parseKey(g: String): Option[Key] = g.split('|') match {
    case Array(p, op, ph) if p.nonEmpty && p.forall(_.isDigit) => Some(Key(p.toInt, op, ph))
    case _ => None
  }
}
