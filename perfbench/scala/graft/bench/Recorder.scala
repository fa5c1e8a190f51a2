package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark learns from Spark's listener buses.
  *
  * Untraced runs read only the executor-CPU sum. Traced runs also track
  * the bytes of RDD blocks held, keep one record per job (its call
  * site, mapped to a graft module, and the summed metrics of its
  * tasks), the planning time of every query execution, and every
  * streaming progress report. Readers call `BenchBus.drain` first. */
final class Recorder(traced: Boolean) extends SparkListener {
  import Recorder._

  val cpuNs = new AtomicLong

  /** (rdd id, block name) -> bytes held, memory plus disk. */
  private val blockBytes = mutable.HashMap.empty[(Int, String), Long]
  private var storage = 0L
  private var peakStorage = 0L

  /** Bytes of RDD blocks (localCheckpoint/cache) held right now. */
  def storageBytes: Long = synchronized(storage)
  /** Highest `storageBytes` since the last `resetPeak`. */
  def peakStorageBytes: Long = synchronized(peakStorage)
  def resetPeak(): Unit = synchronized { peakStorage = storage }

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val stateWrites = mutable.HashSet.empty[Long]
  val planMs = new AtomicLong
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) synchronized {
    val i = e.blockUpdatedInfo
    i.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, s"${b.name}@${i.blockManagerId.executorId}")
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      storage += now - blockBytes.getOrElse(key, 0L)
      if (now > 0) blockBytes(key) = now else blockBytes.remove(key)
      peakStorage = math.max(peakStorage, storage)
    }
  }

  // Unpersisting removes an RDD's blocks without a block update per block.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = if (traced) synchronized {
    blockBytes.keys.filter(_._1 == e.rddId).toList.foreach { k =>
      storage -= blockBytes.remove(k).getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      if (traced) synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.cpuNs += m.executorCpuTime
          j.tasks += 1
          j.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.diskBytesSpilled
          j.peakExecBytes = math.max(j.peakExecBytes, m.peakExecutionMemory)
        }
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    // A streaming query runs every job under the call site of its
    // start(), so stream jobs are told apart by their plan instead: a
    // write into a `batch_id=` partition is graft.sources.StateStore's
    // (the one writer of that layout), anything else is the stream's.
    val (file, module) =
      if (prop(StreamKey).isDefined)
        if (exec.exists(stateWrites.contains))
          ("StateStore.scala", "sources")
        else ("", "streaming")
      else (e.stageInfos.map(_.details) ++ exec.flatMap(execDetails.get)).iterator
        .map(callSite).collectFirst { case Some(s) => s }.getOrElse(("", "spark"))
    val j = new Job(e.jobId, e.time, prop(SpanKey).getOrElse(""),
      prop(PhaseKey).getOrElse(""), file, module)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      execDetails(s.executionId) = s.details
      val plan = s.physicalPlanDescription
      if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains("/batch_id="))
        stateWrites += s.executionId
    }
    case _ => ()
  }

  /** Planning time (analysis + optimization + physical planning) of
    * every query execution, from its phase tracker. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Recorder {
  /** Local properties the harness sets; jobs carry them in their properties. */
  val SpanKey = "graft.bench.span"
  val PhaseKey = "graft.bench.phase"
  /** Set by Spark on every job a streaming query runs. */
  val StreamKey = "sql.streaming.queryId"

  final class Job(val id: Int, val start: Long, val span: String, val phase: String,
                  val file: String, val module: String) {
    var end = 0L
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var overheadMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var peakExecBytes = 0L
  }

  private val Frame = """^(?:\s*at\s+)?(graft\.[\w$.]+)\(([\w$]+\.scala):\d+\)""".r

  /** The innermost graft frame of a Spark call-site stack: its source
    * file and its module, the package under `graft` (`operators`,
    * `sources`, ...; `bench` for this harness, `graft` for the root
    * package). None when no graft frame is on the stack. */
  def callSite(details: String): Option[(String, String)] =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(method, file) =>
        val parts = method.split('.')
        val module =
          if (parts.length > 3 && parts(1).headOption.exists(_.isLower)) parts(1)
          else "graft"
        (file, module)
    }
}
