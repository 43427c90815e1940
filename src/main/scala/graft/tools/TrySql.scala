package graft.tools

/** Dev tool: run one SQL statement against the sf0.001 tables and
  * print a few rows + the plan. Usage: TrySql "<sql>"
  */
object TrySql {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { tname =>
      spark.read.parquet(s"$dir/$tname.parquet").createOrReplaceTempView(tname)
    }
    val df = spark.sql(args(0))
    df.show(10, truncate = false)
    df.explain("formatted")
  }
}
