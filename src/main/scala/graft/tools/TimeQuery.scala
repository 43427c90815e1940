package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool, the one profiler: time named SparkEntry queries N times
  * in one JVM to separate steady-state operator cost from cold-start
  * (codegen, parquet footer reads, JIT), with Bench's session and
  * per-iteration cache hygiene. Each iteration prints its executor
  * task CPU split by SQL action (see [[ActionCpu]]), so the split comes
  * from the production code path itself, not from a copy of it.
  *
  * Usage: TimeQuery <sfDir> <n> <name>[,<name>...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args(2).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    val sc = spark.sparkContext
    val actions = new ActionCpu
    sc.addSparkListener(actions)
    spark.range(1000000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    def take(): Seq[(String, Double)] = {
      org.apache.spark.graftshim.TaskCpuMeter.drain(sc)
      actions.take()
    }
    take(): Unit
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // wall/cpu pairs per iteration — cpu is executor task CPU (the
      // host-noise-immune number; see Bench/TaskCpuMeter scaladoc)
      val ts = (1 to n).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        // match Bench's hygiene: unload streaming state-store residue
        try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        catch { case _: Throwable => () }
        val dt = (System.nanoTime() - t0) / 1e9
        val rows = take()
        println(s"[time] $name run $i task CPU by action:")
        rows.foreach { case (label, c) => println(f"[time]   $c%8.2f s  $label") }
        (dt, rows.map(_._2).sum)
      }
      println(f"[time] $name: ${ts.map { case (t, c) => f"$t%.2f/$c%.2fcpu" }.mkString(" ")} s")
    }
    spark.stop()
  }
}

/** Sums executor task CPU (the per-task figure TaskCpuMeter adds) per
  * SQL action. A task is labelled by the description of its stage's
  * `spark.sql.execution.id` (e.g. `count at Graph.scala:804`), or by
  * the first line of the stage name when the stage ran outside an SQL
  * execution. A streaming query's micro-batch is one execution, so it
  * is one row.
  */
private final class ActionCpu extends SparkListener {
  private val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val cpuNs = mutable.LinkedHashMap.empty[String, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDesc.put(s.executionId, s.description.replaceAll("\\s+", " ").trim): Unit
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execDesc.get(id.toLong))).filter(_.nonEmpty)
    e.stageInfos.foreach { st =>
      stageLabel.put(st.stageId,
        desc.getOrElse(st.name.linesIterator.nextOption().getOrElse(""))): Unit
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val label = Option(stageLabel.get(e.stageId)).getOrElse(s"stage ${e.stageId}")
      synchronized {
        cpuNs(label) = cpuNs.getOrElse(label, 0L) +
          m.executorCpuTime + m.executorDeserializeCpuTime
      }
    }

  /** (label, task CPU s) since the last call, in first-seen order. The
    * caller drains the listener bus first. */
  def take(): Seq[(String, Double)] = synchronized {
    val rows = cpuNs.toSeq.map { case (l, ns) => (l, ns / 1e9) }
    cpuNs.clear()
    rows
  }
}
