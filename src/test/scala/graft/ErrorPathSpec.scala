package graft

import org.apache.spark.sql.types._
import graft.sources.GenericSources

/** Loud-failure contracts: misaligning configs and corrupt input must
  * error, not silently skew results.
  */
class ErrorPathSpec extends SparkSpec {

  test("PeakConfig rejects envelope params that misalign the output (SURVEY §8 Q2)") {
    // defaults are fine
    PeakConfig()
    // window 100 with smoothing 301 -> pad 150, 2*150 != 100: the
    // reference would silently emit a misaligned length-n+200 series
    val e = intercept[IllegalArgumentException] {
      PeakConfig(auxWindowSize = 100, auxSmoothingWindow = 301)
    }
    assert(e.getMessage.contains("misalign"))
    // even windows are rejected too
    intercept[IllegalArgumentException] { PeakConfig(smoothWindow = 50) }
  }

  test("FAILFAST csv read errors on corrupt rows instead of nulling them") {
    val dir = java.nio.file.Files.createTempDirectory("errcsv").toString
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/bad.csv"),
        "id,score\n1,2.5\nnot_a_number,oops\n")
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("score", DoubleType)))
      val e = intercept[Exception] {
        GenericSources.readCsv(spark, s"$dir/bad.csv", schema).collect()
      }
      assert(e.getMessage.toLowerCase.contains("malformed")
        || e.getCause != null)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("parameter contracts fail loudly, not with corrupt output") {
    import spark.implicits._
    val sig = Seq(("e", 0, 0L, 0.0, 1.0))
      .toDF("experiment_id", "channel", "sample_idx", "t", "y")
    intercept[IllegalArgumentException] {
      graft.operators.Smoothing.rollingMedian(sig, half = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Relational.bootstrapCi(spark,
        "/root/testdata/sf0.001", reps = 3)
    }
    intercept[IllegalArgumentException] { new graft.functions.TopKByValue(0) }
  }

  test("RR histograms reject a bin width that is not a positive power of two at call time") {
    import spark.implicits._
    import graft.operators.BeatMetrics
    val peaks = Seq(("e", 0, 10L, 0.1, 1.0), ("e", 0, 80L, 0.8, 1.0))
      .toDF("experiment_id", "channel", "peak_idx", "t", "peak_value")
    // 0 & (0 - 1) == 0 and Int.MinValue & (Int.MinValue - 1) == 0, so a
    // bare power-of-two bit test lets both through to the division
    for (bw <- Seq(0, Int.MinValue, -8, 6)) {
      val e1 = intercept[IllegalArgumentException](BeatMetrics.rrEntropy(peaks, bw))
      val e2 = intercept[IllegalArgumentException](BeatMetrics.tinn(peaks, bw))
      assert(Seq(e1, e2).forall(_.getMessage.contains("positive power of two")))
    }
    assert(BeatMetrics.rrEntropy(peaks, 1).count() === 1)
  }
}
