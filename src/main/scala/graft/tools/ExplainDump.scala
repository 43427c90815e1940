package graft.tools

/** Dev tool: dump `explain("formatted")` for a comma-separated list of
  * SparkEntry queries to `<outDir>/<name>_<tag>.txt` in ONE session —
  * the round-17 optimization deliverable (plans/r17 before/after dumps)
  * without paying a JVM per query.
  *
  *   sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> q1,q2,..."
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
      println(s"[explain-dump] wrote $outDir/${name}_$tag.txt")
      spark.catalog.clearCache()
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
