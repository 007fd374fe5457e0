package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run reads from outside the engine: Spark's
  * listener APIs (jobs, stages, tasks, query executions with their planning
  * phases, streaming progress), the codegen compile counters, the JVM
  * MXBeans and /proc/self/io. Events are kept in memory and attributed to
  * ops afterwards by time: the benchmark has one client thread, so a job
  * that starts inside an op's [start, end] interval belongs to that op.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  private val seenPhases = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  val stagesDone = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time, -1L, e.stageIds)
      jobs.add(j); jobById.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd => actions.add(x.time)
      case _ =>
    }
  }

  /** Each planning phase of each query execution, once, stamped with its
    * own end: the listener bus delivers the event later, possibly after the
    * op, and an action on an already-planned DataFrame plans nothing anew. */
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (p, s) =>
      if (seenPhases.add((qe.id, p)))
        phases.add(Phase(p, s.endTimeMs, (s.endTimeMs - s.startTimeMs) / 1e3))
    }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      def s(k: String): Double = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
      // stamped with the batch's trigger start, which falls inside the op
      // that added its data
      if (e.progress.numInputRows > 0)
        batches.add(Batch(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          s("addBatch"), s("walCommit"), s("queryPlanning")))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Process-wide counters read at op boundaries. */
  def counters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val io = Probe.procIo()
    Map(
      "jvm.gc_s" -> gcs.map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "jit.compile_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.classes" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "io.read_bytes" -> io.getOrElse("read_bytes", 0.0),
      "io.write_bytes" -> io.getOrElse("write_bytes", 0.0))
  }
}

object Probe {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shWrite: Long, shWriteNs: Long, shRead: Long, fetchMs: Long, spill: Long,
      inBytes: Long, inRecords: Long)
  final case class Phase(name: String, endMs: Long, seconds: Double)
  final case class Batch(startMs: Long, addBatch: Double, walCommit: Double, planning: Double)

  def procIo(): Map[String, Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) => Some(k -> v.trim.toDouble)
          case _ => None
        }
      }.toMap finally src.close()
    } catch { case _: Throwable => Map.empty }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0) finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** A span: name, start, end, parent span, op id. Kept in memory, written
  * once at the end of a traced run.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long)

final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name, System.currentTimeMillis(), -1L)
      spans += s
      stack = s.id :: stack
      try body finally {
        s.end = System.currentTimeMillis()
        stack = stack.tail
      }
    }
}
