package graft

import org.apache.spark.sql.functions._
import graft.plans.EditDistancePrefilter

/** Pins the [[graft.plans.GraftExtensions]] optimizer surface: the
  * edit-distance length prefilter rewrites the plans it must, leaves
  * alone the plans it must not (threshold form without a
  * non-negativity guard), never changes results, and is idempotent.
  * The shared test session registers the extension via
  * `spark.sql.extensions`, so these plans come out of the REAL
  * optimizer pipeline, not a hand-driven rule application.
  */
class ExtensionsSpec extends SparkSpec {

  // through parquet, NOT a LocalRelation: the optimizer constant-folds
  // filters over local data to nothing, which would vacuously pass the
  // plan assertions below
  private lazy val fixturePath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-ext").toString
    Seq(
      ("kitten", "sitting"),       // dist 3, lendiff 1
      ("abc", "abcdefghij"),       // lendiff 7 — length-prunable at k=3
      ("same", "same"),            // dist 0
      (null.asInstanceOf[String], "x"), // null left
      ("y", null.asInstanceOf[String])  // null right
    ).toDF("a", "b").write.mode("overwrite").parquet(p)
    p
  }

  private def fixture = spark.read.parquet(fixturePath)

  private def optimizedFilter(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("levenshtein <= k filter gains the length-difference bound") {
    val df = fixture.filter(levenshtein(col("a"), col("b")) <= 3)
    val plan = optimizedFilter(df)
    assert(plan.contains("abs"), s"no length bound in:\n$plan")
    assert(plan.toLowerCase.contains("length"), s"no length bound in:\n$plan")
    // semantics unchanged: same rows as the bare predicate evaluated row-wise
    val got = df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("kitten", "sitting"), ("same", "same")))
  }

  test("thresholded levenshtein WITHOUT a >=0 guard is NOT rewritten") {
    // levenshtein(a,b,2) returns -1 above the threshold; -1 <= 3 is
    // vacuously true, so adding the length bound would change results.
    val df = fixture.filter(levenshtein(col("a"), col("b"), 2) <= 3)
    val plan = optimizedFilter(df)
    assert(!plan.contains("abs(") || !plan.contains("length("),
      s"unsound rewrite of unguarded threshold form:\n$plan")
    // the -1 rows (dist > 2) must survive, including the lendiff-7 row
    val got = df.select("a").collect().map(_.getString(0)).toSet
    assert(got === Set("kitten", "abc", "same"))
  }

  test("thresholded levenshtein WITH the >=0 guard is rewritten and exact") {
    val d = levenshtein(col("a"), col("b"), 3)
    val df = fixture.filter(d >= 0 && d <= 3)
    val plan = optimizedFilter(df)
    assert(plan.contains("abs"), s"guarded threshold form not rewritten:\n$plan")
    val got = df.select("a").collect().map(_.getString(0)).toSet
    assert(got === Set("kitten", "same"))
  }

  test("rule is idempotent on its own output") {
    val df = fixture.filter(levenshtein(col("a"), col("b")) <= 3)
    val once = df.queryExecution.optimizedPlan
    val twice = EditDistancePrefilter(once)
    assert(once.canonicalized == twice.canonicalized,
      s"second application changed the plan:\nonce=$once\ntwice=$twice")
  }

  test("q70 blocked edit-distance pairs are unchanged under the extension") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.Dedup.editDistancePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the session HAS the extension; equality vs the raw all-pairs
    // predicate computed without any levenshtein filter rewrite
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(col("text"), 1, 96).as("pfx"))
    val want = d.as("x").join(d.as("y"),
        col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n_chars").as("nx"), col("y.n_chars").as("ny"),
        levenshtein(col("x.pfx"), col("y.pfx")).cast("long").as("dist"))
      .collect()
      .filter(r => math.abs(r.getAs[Long]("nx") - r.getAs[Long]("ny")) <= 16 &&
        (r.getAs[Long]("nx") / 16L) == (r.getAs[Long]("ny") / 16L) &&
        r.getAs[Long]("dist") <= 16)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("dist")))
      .toSet
    assert(rows === want)
  }

  test("q154: the injected length bound is load-bearing in the registered query's plan") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q154_edit_dist_rule")(spark, dir)
    // the optimized plan must contain the rule-injected Ed-Join length
    // bound — q154 writes NO manual length filter, so its presence
    // proves the extension rewired the registered query end-to-end
    val opt = df.queryExecution.optimizedPlan.toString()
    assert("abs\\(+length\\(pfx".r.findFirstIn(opt).isDefined ||
      ("(?s)abs\\(.?\\(?length\\(pfx.*?- length\\(pfx".r.findFirstIn(opt).isDefined),
      s"injected length bound missing from optimized plan:\n$opt")
    // and the results equal the hand-prefiltered q70
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Dedup.editDistancePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "q154 must return exactly q70's pairs")
  }

  test("the shared test session comes from GraftSession: extensions and codegen cache") {
    assert(spark.sessionState.planner.strategies
      .contains(graft.plans.AsofJoinStrategy))
    assert(spark.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(EditDistancePrefilter))
    // Spark's default is 100 entries; Bench's steady pass needs 4096
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
  }
}
