package erbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-stage task totals, filled from task-end events. */
final class StageTotals(val stageId: Int, val span: String, val site: String) {
  var submitted: Long = -1L
  var completed: Long = -1L
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var recordsWritten: Long = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

final case class JobRec(span: String, site: String)

/**
 * The benchmark's own `SparkListener`: the program is never modified to be
 * measured. Always-on totals (task CPU, shuffle bytes, cached-block bytes)
 * feed the end-to-end metrics; when tracing, every stage and job is also
 * kept with the span named by the `erbench.span` local property of the
 * thread that submitted it (Spark copies local properties to the threads
 * AQE and broadcast exchanges submit from).
 */
final class Recorder extends SparkListener {
  @volatile var tracing = false

  private val cpuNs = new java.util.concurrent.atomic.AtomicLong
  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private var storedBytes = 0L
  private var peakBytes = 0L

  val stages = new ConcurrentHashMap[Int, StageTotals]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()

  /** SQL execution id -> call site of the action that started it. */
  private val executionSites = new ConcurrentHashMap[String, String]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")

  /** The program frame a job or stage was submitted from: the action of its
    * SQL execution, else (a plain RDD job) its own call site. Stages that
    * AQE submits from its own threads carry only the execution id. */
  private def site(p: java.util.Properties, own: String): String =
    Option(executionSites.get(prop(p, "spark.sql.execution.id"))).getOrElse(own)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(x.executionId.toString, x.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    jobs.put(e.jobId, JobRec(prop(e.properties, Tracer.SpanKey),
      site(e.properties, e.stageInfos.lastOption.map(_.name).getOrElse(""))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (tracing) {
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id =>
      new StageTotals(id, prop(e.properties, Tracer.SpanKey),
        site(e.properties, e.stageInfo.name)))
    s.synchronized { s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized { s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (tracing) Option(stages.get(e.stageId)).foreach { s =>
        s.synchronized {
          s.cpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.recordsWritten += m.shuffleWriteMetrics.recordsWritten +
            m.outputMetrics.recordsWritten
          s.taskMs += e.taskInfo.duration
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(blocks.put(info.blockId.name, now)).map(_.longValue).getOrElse(0L)
      storedBytes += now - before
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  /** Start a measurement window: zero the counters, peak = current level. */
  def reset(): Unit = synchronized {
    cpuNs.set(0L); shuffleBytes.set(0L); peakBytes = storedBytes
  }
  def cpuSeconds: Double = cpuNs.get / 1e9
  def shuffleMb: Double = shuffleBytes.get / 1e6
  def storedMb: Double = synchronized(storedBytes / 1e6)
  def peakMb: Double = synchronized(peakBytes / 1e6)

  def clearTrace(): Unit = { stages.clear(); jobs.clear() }
  def stageList: Seq[StageTotals] = stages.values.asScala.toSeq
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq
}

object Recorder {
  /** Listener events are delivered asynchronously: block until every event
    * posted so far has been handled. */
  def drain(sc: SparkContext): Unit = org.apache.spark.ErbenchBus.drain(sc)
}
