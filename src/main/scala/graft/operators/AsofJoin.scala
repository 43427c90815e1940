package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (SURVEY §2.6): the one join primitive the reference's
  * TTP/TTR semantics need that Spark SQL lacks natively.
  *
  * Implementation is the scalable union+window form: tag both inputs,
  * union them, and take `last(payload, ignoreNulls)` over
  * (keys, time)-ordered unbounded-preceding frames. One shuffle+sort
  * over |L|+|R| rows — no range-join row explosion, no per-key
  * driver loops — and the same partitioning a downstream key-grouped
  * operator can reuse.
  */
object AsofJoin {

  /** Backward inclusive as-of join: every left row gets the payload of
    * the latest right row with `right(rightTime) <= left(leftTime)`
    * within the same `keys` (null payload when none precedes).
    * Payload columns are attached as `prefix<name>`.
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("_t"),
          struct(payload.map(col): _*).as("_p")): _*)
      .withColumn("_side", lit(0))
    val pType = r.schema("_p").dataType
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_p", lit(null).cast(pType))
      .withColumn("_side", lit(1))
    // right (side 0) sorts before left (side 1) at equal _t ⇒ inclusive
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("_match", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"_match.$p").as(s"$prefix$p")): _*)
  }

  /** Forward inclusive as-of join: every left row gets the payload of
    * the earliest right row with `right(rightTime) >= left(leftTime)`
    * within the same `keys` — the TTR-shaped mirror of [[backward]]
    * (first-following instead of last-preceding).
    */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTime: String, rightTime: String,
              payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("_t"),
          struct(payload.map(col): _*).as("_p")): _*)
      .withColumn("_side", lit(1))
    val pType = r.schema("_p").dataType
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_p", lit(null).cast(pType))
      .withColumn("_side", lit(0))
    // left (side 0) sorts before right (side 1) at equal _t ⇒ inclusive
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(0, Window.unboundedFollowing)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("_match", first(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"_match.$p").as(s"$prefix$p")): _*)
  }

  /** The shared Q23-family inputs: left = non-click events, right =
    * clicks PRE-AGGREGATED to one row per (user_id, tsn) with a
    * latest-wins arg-max on event_id. The dedup makes the as-of
    * tie-break deterministic BY CONSTRUCTION — no engine (ours,
    * DuckDB's native ASOF, the streaming fold) has a documented
    * tie rule among equal-time right rows, so the contract removes
    * the ties instead (oracle mirrors with `arg_max(value,
    * event_id)`; the q149 streaming fold's click-ordering already
    * implements exactly this rule). Scale: the aggregate partial-
    * combines map-side, so duplicate clicks never cross the exchange.
    *
    * Times are exact integer microseconds: the driver's parquet `ts`
    * arrives either as LongType nanos (under nanosAsLong) or as a
    * micros timestamp — both paths integer-exact, == DuckDB
    * `epoch_us(ts)`.
    */
  private def clickSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsn = Relational.tsMicros(ev)
    val base = ev.select(col("event_id"), col("user_id"), tsn.as("tsn"),
      col("event_type"), col("value"))
    val l = base.filter(col("event_type") =!= "click")
      .select("event_id", "user_id", "tsn")
    val r = base.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("tsn").as("click_tsn"))
      .agg(max(struct(col("event_id"), col("value"))).getField("value")
        .as("click_value"))
    (l, r)
  }

  /** Q23 — for every non-click event, the value and time of the same
    * user's latest click at or before it (union+window form).
    */
  def prevClick(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = clickSides(s, dir)
    backward(l, r, Seq("user_id"), "tsn", "click_tsn",
      Seq("click_value", "click_tsn"), "prev_")
  }

  /** Q92 — [[prevClick]] with a TOLERANCE bound (pandas
    * merge_asof-style): matches staler than `tolUs` are nulled —
    * the real-world as-of contract where a reference older than the
    * staleness budget is worse than no reference. Runs through the
    * NATIVE exec node's tolerance path (only the nearest candidate
    * is ever in scope, so the bound is a per-row check inside the
    * merge — same shuffle, no extra pass). The union+window
    * post-projection form ([[prevClickWithinWindowed]]) is the spec
    * oracle (AsofExecSpec).
    */
  def prevClickWithin(s: SparkSession, dir: String,
                      tolUs: Long = 600000000L): DataFrame = {
    val (l, r) = clickSides(s, dir)
    graft.plans.AsofJoinPlan.backward(l, r, Seq("user_id"), "tsn",
      "click_tsn", Seq("click_value", "click_tsn"), "prev_", Some(tolUs))
  }

  /** The union+window form of [[prevClickWithin]] — kept as the
    * independent oracle AsofExecSpec checks the native tolerance
    * path against.
    */
  def prevClickWithinWindowed(s: SparkSession, dir: String,
                              tolUs: Long = 600000000L): DataFrame = {
    val base = prevClick(s, dir)
    val ok = col("prev_click_tsn").isNotNull &&
      col("tsn") - col("prev_click_tsn") <= tolUs
    base.select(col("event_id"), col("user_id"), col("tsn"),
      when(ok, col("prev_click_value")).as("prev_click_value"),
      when(ok, col("prev_click_tsn")).as("prev_click_tsn"))
  }

  /** Q161 — [[prevClick]] through the NATIVE as-of operator
    * (`graft.plans.AsofJoinNode` → `AsofJoinExec`, planned by the
    * session's injected `AsofJoinStrategy`): identical output contract
    * to Q23 (same DuckDB ASOF JOIN oracle), different physical plan —
    * a co-partitioned merge instead of union+window. AsofExecSpec pins
    * both the semantics (vs [[backward]]) and the plan (the exec node
    * is present; two clustered exchanges feed it).
    */
  def prevClickNative(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = clickSides(s, dir)
    graft.plans.AsofJoinPlan.backward(l, r, Seq("user_id"), "tsn",
      "click_tsn", Seq("click_value", "click_tsn"), "prev_")
  }

  /** Q23b — the forward mirror: for every non-click event, the same
    * user's earliest click at or after it (time-to-next-conversion
    * shape), through the NATIVE exec node's forward cursor. Checked
    * against DuckDB's native `ASOF JOIN` with the `<=` inequality;
    * the union+window [[forward]] form is the spec oracle.
    */
  def nextClick(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = clickSides(s, dir)
    graft.plans.AsofJoinPlan.forward(l, r, Seq("user_id"), "tsn",
      "click_tsn", Seq("click_value", "click_tsn"), "next_")
  }

  /** The union+window form of [[nextClick]] — the independent oracle
    * AsofExecSpec checks the native forward path against.
    */
  def nextClickWindowed(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = clickSides(s, dir)
    forward(l, r, Seq("user_id"), "tsn", "click_tsn",
      Seq("click_value", "click_tsn"), "next_")
  }
}
