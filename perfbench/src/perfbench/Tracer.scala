package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records of one traced window, gathered through Spark's public listener
  * interfaces. Events arrive on listener-bus threads; every record goes into
  * a concurrent collection and is read only after `SparkBus.drain`.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskQueue = new ConcurrentLinkedQueue[Task]()
  private val writeQueue = new ConcurrentLinkedQueue[Phases]()
  private val batchQueue = new ConcurrentLinkedQueue[Batch]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskQueue.add(Task(
      stage = e.stageId,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      peakExec = m.peakExecutionMemory,
      inRows = m.inputMetrics.recordsRead,
      inBytes = m.inputMetrics.bytesRead,
      outBytes = m.outputMetrics.bytesWritten))
  }

  /** Planning phases of each full-materialization write, in posting order.
    * Other query executions (eager actions inside a query build, the sink
    * lanes' own file writes) are not the op's write and are skipped.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoopWrite(qe)) {
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
      writeQueue.add(Phases(ms("analysis"), ms("optimization"), ms("planning")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.doubleValue).getOrElse(0.0)
      batchQueue.add(Batch(
        query = p.runId.toString,
        startMs = java.time.Instant.parse(p.timestamp).toEpochMilli,
        triggerMs = ms("triggerExecution"), addBatchMs = ms("addBatch"),
        walCommitMs = ms("walCommit"), planningMs = ms("queryPlanning"),
        stateRows = p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def jobEnd(id: Int): Long = Option(jobEnds.get(id)).map(_.longValue).getOrElse(-1L)
  def jobOfStage(stage: Int): Option[Int] = Option(stageJob.get(stage))
  def tasks: Seq[Task] = taskQueue.asScala.toSeq
  def writes: Seq[Phases] = writeQueue.asScala.toSeq
  def batches: Seq[Batch] = batchQueue.asScala.toSeq
}

object Tracer {
  final case class Job(id: Int, group: String, startMs: Long)
  final case class Task(stage: Int, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, peakExec: Long,
                        inRows: Long, inBytes: Long, outBytes: Long)
  final case class Phases(analysisMs: Double, optimizerMs: Double, physicalMs: Double)
  final case class Batch(query: String, startMs: Long, triggerMs: Double, addBatchMs: Double,
                         walCommitMs: Double, planningMs: Double, stateRows: Long)

  def isNoopWrite(qe: QueryExecution): Boolean = qe.analyzed match {
    case w: V2WriteCommand => w.table.name == "noop-table"
    case _ => false
  }
}
