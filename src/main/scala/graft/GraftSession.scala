package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a local SparkSession for this engine: Bench,
  * Verify, the fixture generator, the dev tools and the test suite all
  * plan with the same `GraftExtensions` and settings, so a plan or a
  * timing from any of them describes the planner the others use.
  */
object GraftSession {
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache holds only 100 entries
      // (spark.sql.codegen.cache.maxEntries default), and one Bench
      // chunk of 40 queries generates far more stages between a
      // query's cold and steady pass, so every heavy query's steady
      // pass silently re-generated, re-loaded and re-JIT-compiled all
      // of its stages: measured q79 29.0 s task CPU after a 12-query
      // churn vs 9.7 s immediately re-run (OPTIMIZATION_r18.md). A
      // multi-query session is exactly the workload a bigger codegen
      // cache exists for; 4096 entries hold a whole chunk's stages so
      // "steady" measures steady-state code. This is a change to how
      // the bench measures, not to the operators: the A/B against the
      // 100-entry default is in OPTIMIZATION_r18.md.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
    val spark = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate hands back an earlier session unchanged when one is
    // active, and the static extension setting is then silently ignored
    if (!spark.sessionState.planner.strategies.contains(plans.AsofJoinStrategy))
      throw new IllegalStateException(
        "graft.plans.GraftExtensions is not active: the session's planner " +
          "has no AsofJoinStrategy (an earlier session was built without it)")
    spark
  }
}
