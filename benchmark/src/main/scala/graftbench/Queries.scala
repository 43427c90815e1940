package graftbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** A closed loop over `SparkEntry.queries`: each call builds one query's
  * frame over the testdata and runs its one action, a `noop` write, as
  * `graft.Bench` does. The seed sets the call order of every pass.
  */
final class Queries(seed: Long, sfDir: String, expected: Map[String, Queries.Digest]) extends Workload {
  val name = "query_mix"
  private val names = Queries.queryMix

  def prepare(spark: SparkSession): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains) ++ names.filterNot(expected.contains)
    require(missing.isEmpty, s"$name: no query or no expectation for ${missing.distinct.mkString(", ")}")
  }

  def nominalPassS: Double = 7.0
  def samples(q: String): Long = expected(q).rows

  def pass(passIdx: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + passIdx).shuffle(names)

  def call(spark: SparkSession, q: String, trace: Tracer): () => Boolean = {
    val df = trace.span("entry")(SparkEntry.queries(q)(spark, sfDir))
    val digest = trace.span("action")(Queries.digest(df))
    () => {
      val ok = expected.get(q).contains(digest)
      if (!ok) System.err.println(s"[graftbench] $q: got $digest, expected ${expected.get(q)}")
      ok
    }
  }

  /** `graft.Bench`'s hygiene between calls, plus dropping the memory-sink
    * views streaming calls leave, so a long run holds no earlier results.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}

object Queries {
  /** Row count and order-insensitive content hash of one result. */
  final case class Digest(rows: Long, hash: String) {
    override def toString: String = s"$rows rows, hash $hash"
  }

  /** Graph queries, which share the program's co-purchase edge memo. */
  val memoized: Set[String] = Set("q79_pagerank", "q113_triangles", "q130_two_hop",
    "q179_link_pred", "q183_hits", "q226_transitivity")

  /** One query per family, the streaming one included; a cold pass has
    * to fit in a run's set-up.
    */
  val queryMix: Seq[String] = Seq(
    "q11b_supplier_revenue", "q161_asof_native", "q224_weighted_jaccard", "q20_fingerprints",
    "q16c_ivf_topk", "q130_two_hop", "q107_cmsketch", "q88_stream_funnel")

  /** Runs the frame's one action, a `noop` write, with an observation
    * that counts the rows and sums a per-row hash on the way through, so
    * the check rides the call's only action and prunes nothing.
    */
  def digest(df: DataFrame): Digest = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f => canon(col(quote(f.name)), f.dataType)): _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      sum(shiftrightunsigned(h, 32)).as("hi"), sum(h.bitwiseAND(0xffffffffL)).as("lo"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val (hi, lo) = (m("hi"), m("lo"))
    val hash = if (hi == null) "0" else (BigInt(hi.toString) * (BigInt(1) << 32) + BigInt(lo.toString)).toString(16)
    Digest(m("n").asInstanceOf[Long], hash)
  }

  private def quote(n: String): String = "`" + n.replace("`", "``") + "`"

  /** The oracle check's canonical form: floats rounded (to 6 decimals,
    * then to single precision so large sums compare by relative
    * precision), NaN as null, -0.0 as 0.0, map entries sorted.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(isnan(c), lit(null).cast(FloatType)).otherwise(round(c, 6).cast(FloatType) + lit(0.0f))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case _ => c
  }

  /** Expectations file: one `name<TAB>rows<TAB>hash` line per query. */
  def load(path: String): Map[String, Digest] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Digest(rows.toLong, hash)
      }.toMap
}
