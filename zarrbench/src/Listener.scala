package zarrbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.scheduler._

/** Spark-side spans: every job, stage and task is tied to the benchmark
  * operation that launched it through the `zarrbench.op` local property. */
class OpListener extends SparkListener {
  import OpListener._

  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val scanStage = ConcurrentHashMap.newKeySet[Int]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[(Long, Int)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toLong).getOrElse(-1L)
    e.stageInfos.foreach { s =>
      stageOp.put(s.stageId, op)
      stages.add((op, s.stageId))
      // a stage that reads through the DSv2 connector is a scan stage
      if (s.rddInfos.exists(_.name == "DataSourceRDD")) scanStage.add(s.stageId)
    }
    jobs.add(JobRec(e.jobId, op, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(JobRec(e.jobId, -1L, -1L, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sd = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      tasks.add(TaskRec(
        op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L),
        scan = scanStage.contains(e.stageId), id = i.taskId, wallMs = i.duration,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, peakMem = m.peakExecutionMemory,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime,
        schedDelayMs = math.max(0L, sd), rowsIn = m.inputMetrics.recordsRead))
    }
  }

  def tasksOf(ops: Set[Long]): Seq[TaskRec] = tasks.toArray(Array.empty[TaskRec]).toSeq.filter(t => ops(t.op))
  def stagesOf(ops: Set[Long]): Int = stages.toArray(Array.empty[(Long, Int)]).count(s => ops(s._1))
  def jobsOf(ops: Set[Long]): Int = jobs.toArray(Array.empty[JobRec]).count(j => j.start >= 0 && ops(j.op))
  /** End time (epoch ms) of the last job launched by `op`. */
  def lastJobEnd(op: Long): Option[Long] = {
    val js = jobs.toArray(Array.empty[JobRec])
    val ids = js.filter(_.op == op).map(_.id).toSet
    js.filter(j => j.end >= 0 && ids(j.id)).map(_.end).maxOption
  }
}

object OpListener {
  val OpProperty = "zarrbench.op"
  final case class JobRec(id: Int, op: Long, start: Long, end: Long)
  final case class TaskRec(op: Long, scan: Boolean, id: Long, wallMs: Long, runMs: Long,
      cpuNs: Long, peakMem: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      gcMs: Long, schedDelayMs: Long, rowsIn: Long)
}

/** Tags each task thread with its task attempt id before the task runs
  * (`spark.plugins`), so store spans made on threads that the task starts
  * are tied to the task. */
class TaskTagPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val tc = org.apache.spark.TaskContext.get()
      SimStore.inheritedTask.set(if (tc == null) -1L else tc.taskAttemptId())
    }
    override def onTaskSucceeded(): Unit = SimStore.inheritedTask.set(-1L)
    override def onTaskFailed(reason: org.apache.spark.TaskFailedReason): Unit =
      SimStore.inheritedTask.set(-1L)
  }
}
