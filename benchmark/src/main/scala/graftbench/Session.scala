package graftbench

import org.apache.spark.sql.SparkSession

/** The one SparkSession a run uses: the settings of `graft.Bench`'s
  * session builder (extensions, codegen cache, shuffle partitions equal
  * to the core count, UTC and the testdata read flags), plus scratch
  * directories inside the benchmark's own work directory.
  */
object Session {
  def build(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    requireExtensions(spark)
    spark
  }

  /** Fails the run when `GraftExtensions` did not take effect: tools that
    * built their own session have run without it before, and their
    * numbers then described a different planner.
    */
  private def requireExtensions(spark: SparkSession): Unit = {
    val strategies = spark.sessionState.planner.strategies.map(_.getClass.getName)
    if (!strategies.exists(_.startsWith("graft.plans.AsofJoinStrategy")))
      throw new IllegalStateException(
        "graft.plans.GraftExtensions is not active: the planner has no AsofJoinStrategy")
    val shown = Seq("spark.master", "spark.sql.extensions", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.codegen.cache.maxEntries",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.local.dir")
    shown.foreach(k => System.err.println(s"[graftbench] conf $k=${spark.conf.getOption(k).getOrElse("")}"))
    System.err.println(s"[graftbench] extensions active: ${strategies.filter(_.startsWith("graft.")).mkString(",")}")
  }
}
