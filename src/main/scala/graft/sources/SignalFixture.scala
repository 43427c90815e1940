package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.SignalRow

/** Deterministic synthetic signal + stimulus fixture (SURVEY §5, FIXTURES §A).
  *
  * Shaped to match the morphology of the reference's `example.png`:
  * a ~1400-level noisy baseline with ~2200-amplitude Gaussian contraction
  * bumps every 600 samples (implicit 100 Hz ⇒ one beat per 6 s). The
  * reference ships no test data (SURVEY §5.1), so this seeded fixture IS
  * the shared input both engines (Spark and the DuckDB oracle) read —
  * written once as Parquet and committed, so every round sees identical
  * bits.
  *
  * Channel layout mirrors the reference's 9-channels-per-file contract
  * (`/root/reference/utils.py:12-13`) scaled down to 4 channels for test
  * latency; each channel has its own RNG stream.
  */
object SignalFixture {
  val fixtureDir = "/root/repo/fixtures"
  val signalPath = s"$fixtureDir/signal"
  val stimPath = s"$fixtureDir/stim"

  val nSamples = 3000
  val nChannels = 4
  val experimentId = "exp001"

  private def gaussianBump(i: Int, center: Int, amp: Double, sigma: Double): Double = {
    val d = (i - center).toDouble
    amp * math.exp(-(d * d) / (2.0 * sigma * sigma))
  }

  /** Raw contraction signal rows, fully determined by the per-channel seed. */
  def signalRows: Seq[SignalRow] =
    (0 until nChannels).flatMap { ch =>
      val rng = new java.util.Random(42L + 1000L * ch)
      (0 until nSamples).map { i =>
        val bumps = (0 until 5).map { b =>
          gaussianBump(i, 300 + 600 * b, 2000.0 + 50.0 * ch, 30.0)
        }.sum
        val y = 1400.0 + 30.0 * rng.nextGaussian() + bumps
        SignalRow(experimentId, ch, i.toLong, i / 100.0, y)
      }
    }

  /** Stimulus trace: low noise floor with a sharp triangular spike 100
    * samples before each contraction bump (stimulus precedes response).
    */
  def stimRows: Seq[SignalRow] =
    (0 until nChannels).flatMap { ch =>
      val rng = new java.util.Random(4242L + 1000L * ch)
      (0 until nSamples).map { i =>
        val phase = i % 600
        val spike =
          if (phase == 200) 5.0
          else if (phase == 199 || phase == 201) 2.5
          else 0.0
        val y = spike + 0.02 * math.abs(rng.nextGaussian())
        SignalRow(experimentId, ch, i.toLong, i / 100.0, y)
      }
    }

  private def write(spark: SparkSession, rows: Seq[SignalRow], path: String): Unit = {
    import spark.implicits._
    rows.toDS().toDF()
      .coalesce(1)
      .sortWithinPartitions("experiment_id", "channel", "sample_idx")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Idempotent: generates the committed fixture only if absent. */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!new File(s"$signalPath/_SUCCESS").exists()) write(spark, signalRows, signalPath)
    if (!new File(s"$stimPath/_SUCCESS").exists()) write(spark, stimRows, stimPath)
  }

  def signal(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.read.parquet(signalPath)
  }

  def stim(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.read.parquet(stimPath)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4")
    ensure(spark)
    println(s"fixtures at $fixtureDir")
    spark.stop()
  }
}
