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

  test("withSmooth alone fails on a gap or a duplicated sample_idx, naming the channel") {
    import spark.implicits._
    def sig(n: Int, ch: Int, e: String) =
      (0 until n).map(i => SignalRow(e, ch, i.toLong, i / 100.0, math.sin(i / 9.0))).toDS().toDF()
    val gap = sig(200, 2, "x").filter($"sample_idx" =!= 80L)
    val dup = sig(200, 3, "y").union(sig(200, 3, "y").filter($"sample_idx" === 7L))
    Seq(gap -> "channel (experiment_id=x, channel=2)",
        dup -> "channel (experiment_id=y, channel=3)").foreach { case (in, named) =>
      val e = intercept[Exception] {
        graft.operators.Smoothing.withSmooth(in.union(sig(200, 0, "ok"))).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("dense 0-based sample_idx") && m.contains(named)),
        msgs.mkString("\n"))
    }
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
