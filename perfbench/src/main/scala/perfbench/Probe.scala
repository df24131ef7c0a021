package perfbench

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What the benchmark learns from Spark's listener bus, keyed by the job
  * group the benchmark set around each build call and each action.
  *
  * Events arrive on the bus thread after the fact; the benchmark reads
  * this state only once the SparkContext has stopped, which drains the
  * bus. Jobs, stages and tasks carry their group; SQL executions carry
  * it in their start event. RDD block updates are charged to the group
  * of the most recent job and planning phases to the most recent SQL
  * execution, which is exact in a closed loop where one query runs at a
  * time.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  val plans = mutable.ArrayBuffer[Plan]()
  val storage = mutable.Map[String, StorageAcc]()
  private val stageOwner = mutable.Map[Int, (String, Int)]()
  private val liveBlocks = mutable.Map[String, Long]()
  private var liveBytes = 0L
  private var currentGroup = ""
  private var executionGroup = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, e.time, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (g, e.jobId)))
    currentGroup = g
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stage(i.stageId, i.attemptNumber())
    st.start = i.submissionTime.getOrElse(0L)
    st.end = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).add(e.taskInfo, e.taskMetrics)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize else 0L
      liveBytes += now - liveBlocks.getOrElse(key, 0L)
      if (now == 0L) liveBlocks.remove(key) else liveBlocks(key) = now
      val acc = storage.getOrElseUpdate(currentGroup, new StorageAcc)
      if (b.storageLevel.isValid) acc.puts += 1
      acc.peakBytes = acc.peakBytes max liveBytes
    }
  }

  // Unpersisting drops an RDD's blocks without a block update per block.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    liveBlocks.keys.filter(_.startsWith(prefix)).toList.foreach { k =>
      liveBytes -= liveBlocks.remove(k).getOrElse(0L)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionGroup = s.jobGroupId.getOrElse("")
    }
    case _ =>
  }

  // Called on the same bus thread, on the end event of the execution
  // that started last (executions of one closed-loop client do not
  // overlap, and a nested one runs in its parent's group).
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    synchronized { plans += Plan(executionGroup, phases) }
  }

  private def stage(id: Int, attempt: Int): StageRec = {
    val (g, j) = stageOwner.getOrElse(id, ("", -1))
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt, g, j))
  }
}

object Probe {
  final case class Job(id: Int, group: String, start: Long, var end: Long)

  /** Planning phases of one SQL execution: phase -> (start ms, end ms). */
  final case class Plan(group: String, phases: Map[String, (Long, Long)]) {
    def ms(phase: String): Double = phases.get(phase).map(p => (p._2 - p._1).toDouble).getOrElse(0.0)
  }

  final class StorageAcc {
    var puts = 0L
    var peakBytes = 0L
  }

  /** Task totals of one stage attempt. */
  final class StageRec(val id: Int, val attempt: Int, val group: String, val jobId: Int) {
    var start = 0L
    var end = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var scanTasks = 0L
    var inRecords = 0L
    var inBytes = 0L
    var outRecords = 0L
    var outBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()

    def add(info: TaskInfo, m: TaskMetrics): Unit = {
      tasks += 1
      taskMs += info.duration
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) scanTasks += 1
        inRecords += in.recordsRead
        inBytes += in.bytesRead
        outRecords += m.outputMetrics.recordsWritten
        outBytes += m.outputMetrics.bytesWritten
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
