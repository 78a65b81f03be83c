package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Counts the Spark jobs, stages and tasks of the traced passes, split by
  * the phase the client thread was in when it fired them. The phase and
  * the query's sequence number travel as local properties, so jobs fired
  * inside `Q.build` (eager Prefix, Ranks and Par jobs) stay apart from the
  * final action's jobs.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val counts = mutable.Map[String, Counts]()
  private val stagePhase = mutable.Map[Int, String]()
  private val firstJobMs = mutable.Map[String, Long]()
  private val stageSeq = mutable.Map[Int, String]()
  private val seqOutput = mutable.Map[String, Long]()

  private def of(phase: String): Counts = counts.getOrElseUpdate(phase, new Counts)

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val props = Option(ev.properties)
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
    of(phase).jobs += 1
    ev.stageIds.foreach(stagePhase(_) = phase)
    props.flatMap(p => Option(p.getProperty(SeqKey))).foreach { seq =>
      if (!firstJobMs.contains(seq)) firstJobMs(seq) = ev.time
      ev.stageIds.foreach(stageSeq(_) = seq)
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    of(stagePhase.getOrElse(ev.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stagePhase.getOrElse(ev.stageId, "other"))
    c.tasks += 1
    if (ev.taskInfo != null && ev.taskInfo.failed) c.taskFailures += 1
    val m = ev.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      stageSeq.get(ev.stageId).foreach { seq =>
        seqOutput(seq) = seqOutput.getOrElse(seq, 0L) + m.outputMetrics.bytesWritten
      }
    }
  }

  def phase(name: String): Counts = synchronized(counts.getOrElse(name, new Counts).copy())

  /** Submission time (epoch ms) of each query's first Spark job. */
  def firstJobs: Map[String, Long] = synchronized(firstJobMs.toMap)

  /** Bytes each query's tasks wrote to files, by sequence number. */
  def outputs: Map[String, Long] = synchronized(seqOutput.toMap)
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
  val SeqKey = "perfbench.seq"

  final case class Counts(
      var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
      var taskFailures: Long = 0, var taskMs: Long = 0, var taskCpuNs: Long = 0,
      var gcMs: Long = 0, var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
      var spill: Long = 0, var input: Long = 0)
}
