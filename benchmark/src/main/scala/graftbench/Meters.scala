package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call counters of the Spark layers under the program, from
  * listener events only; attached for the traced part of a run.
  */
final class LayerMeter extends SparkListener with QueryExecutionListener {
  private var c = mutable.Map.empty[String, Double]
  private var intervals = Vector.empty[(Long, Long)]
  private var stateRows = Map.empty[java.util.UUID, Long]
  private var dataTriggerMs = Vector.empty[Long]
  private var tag = ""

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  def begin(callTag: String): Unit = synchronized {
    c = mutable.Map.empty; intervals = Vector.empty; stateRows = Map.empty; tag = callTag
  }
  /** The call's counters, and the task intervals as (launch, finish) ms. */
  def end(): (Map[String, Double], Seq[(Long, Long)]) = synchronized {
    add("streaming.state_rows", stateRows.values.sum.toDouble)
    (c.toMap, intervals)
  }
  /** `triggerExecution` of every trigger that processed input; triggers
    * that only flushed state are left out.
    */
  def dataTriggers: Seq[Long] = synchronized(dataTriggerMs)
  def count(k: String): Double = synchronized(c.getOrElse(k, 0.0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
    if (tags.exists(_.split(",").contains(tag))) add("scheduler.jobs", 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized(add("scheduler.stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    intervals :+= (e.taskInfo.launchTime -> e.taskInfo.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.cpu_s", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("executor.spill_mb", m.diskBytesSpilled / 1048576.0)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("sources.scan_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"plans.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = LayerMeter.this.synchronized {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.triggers", 1)
      if (p.numInputRows > 0) {
        add("streaming.data_triggers", 1)
        dataTriggerMs :+= ms("triggerExecution").toLong
      }
      add("streaming.add_batch_ms", ms("addBatch"))
      add("streaming.query_planning_ms", ms("queryPlanning"))
      add("streaming.wal_commit_ms", ms("walCommit"))
      add("streaming.commit_offsets_ms", ms("commitOffsets"))
      add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      stateRows += p.id -> p.stateOperators.map(_.numRowsTotal).sum
    }
  }
}

/** Process-wide counters read before and after each traced call: the
  * JVM's MXBeans and Spark's code generator.
  */
object ProcessCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def procCpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def read(): Map[String, Double] = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    Map(
      "jvm.proc_cpu_s" -> procCpuNs / 1e9,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble,
      "codegen.compiles" -> cg.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      "codegen.classes" -> cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble)
  }

  /** Mean generated class size in KB. The histogram keeps a sample, not
    * a sum, so class KB per call is estimated as classes times this mean.
    */
  def classMeanKb: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
      .getSnapshot.getMean / 1024.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
