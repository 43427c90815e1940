package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension surface Q11-Q13 (SURVEY §2.9): TPC-H-style join+agg,
  * windowed top-k, and event/JSON/time analytics over the driver
  * testdata.
  *
  * Scale notes (100 TB):
  *  - fact-to-fact joins (lineitem⋈orders) shuffle on the join key and
  *    are left to Catalyst/AQE (sort-merge with runtime re-plan);
  *  - dimensions (nation, region) are broadcast explicitly — they are
  *    tiny at any scale factor;
  *  - money aggregates are summed as DECIMAL: exact, order-independent
  *    (so partial aggregation is free to reorder), and bitwise-equal to
  *    the DuckDB oracle.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact money sum: DECIMAL accumulate, DOUBLE out. */
  def moneySum(c: Column): Column = sum(c.cast("decimal(20,4)")).cast("double")

  /** Q11 — revenue by nation: 5-way join, region filter, date range. */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA" &&
        o("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        o("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(n("n_name").as("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  /** Q11b — shipped revenue and supplier counts by the SUPPLIER's
    * nation (vs Q11's customer-side nation): the second classic
    * dimension path through the star schema. Both dims broadcast; the
    * only shuffle is the final aggregate on n_name.
    */
  def supplierRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("n_name"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))
  }

  /** Q12 — top-3 parts by revenue within each brand (window rank). */
  def topPartsByBrand(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val rev = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("p_brand", "p_partkey", "revenue", "rnk")
  }

  /** Q13 — per-user daily event rollup with a JSON-extracted measure.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 only reads
    * with `spark.sql.legacy.parquet.nanosAsLong=true` (set by our
    * session builders) — the column arrives as nanos-since-epoch LONG.
    * `ts div 1000` keeps the conversion in exact integer arithmetic
    * (nanos ≈ 1.7e18 exceeds double's 2^53 mantissa).
    */
  def eventsDaily(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val day = date_format(
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        to_date(expr("timestamp_micros(ts div 1000)"))
      else to_date(col("ts")),
      "yyyy-MM-dd") // string on both sides: no date-dtype ambiguity
    ev.groupBy(col("user_id"), day.as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
  }

  /** Q24 — per-user sessionization with Spark's `session_window`
    * (30-minute inactivity gap): sessions merge while consecutive
    * events are < gap apart, exactly the semantics the same operator
    * has under Structured Streaming. Output times in exact integer
    * microseconds (the nanos→micros truncation is integer division on
    * both engines).
    */
  def sessionRollup(s: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val ev = t(s, dir, "events")
    val tsm =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("timestamp_micros(ts div 1000)")
      else col("ts")
    ev.select(col("user_id"), tsm.as("tsm"), col("value"))
      .groupBy(col("user_id"),
        session_window(col("tsm"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
  }

  /** Q32 — exact value percentiles per event type (p50/p90/p99 with
    * the standard linear interpolation at rank (n-1)·p, matching
    * DuckDB's `quantile_cont` definition).
    *
    * Exact percentile sorts within each group — fine for bounded
    * group counts; at 100 TB the scale path is
    * `approx_percentile(value, p, accuracy)` (t-digest-style sketch,
    * partial+merge), which has no cross-engine oracle and therefore
    * backs the spec-level check only (RelationalFamilySpec pins the
    * approx result within the exact result's neighborhood).
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.99)).as("p99"))

  /** Q34 — pricing-summary ROLLUP over (returnflag, linestatus):
    * per-combination, per-flag subtotal, and grand-total rows. Spark
    * expands grouping sets BEFORE the partial aggregate (3× the scan
    * rows through the Expand), so for low-cardinality grouping keys we
    * pre-aggregate to one row per (flag, status) FIRST and roll up the
    * tiny aggregate table — Expand runs over ~|RF×LS| rows instead of
    * the whole fact table. Lossless: counts re-sum and the DECIMAL
    * sums are exact and associative. `gid` is the standard bit-vector
    * (first grouping column = MSB), which disambiguates "NULL because
    * aggregated" from a genuinely NULL key at any scale.
    */
  def pricingRollup(s: SparkSession, dir: String): DataFrame = {
    val pre = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("_n"),
        sum(col("l_quantity").cast("decimal(20,4)")).as("_qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,4)")).as("_rev"))
    pre.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("_n")).as("n_rows"),
        sum(col("_qty")).cast("double").as("sum_qty"),
        sum(col("_rev")).cast("double").as("revenue"),
        grouping_id().as("gid"))
  }

  /** Q42 — activity reconciliation: FULL OUTER join of the customer
    * dimension against per-user event activity — customers with no
    * events and event users with no customer row both survive, with
    * presence flags. Fact side pre-aggregated to one row per user
    * before the join (join the small thing, not the event log); a full
    * outer join cannot broadcast, so sort-merge on the key is the
    * correct shape at every scale.
    */
  def activityReconcile(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"))
    val ev = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    c.join(ev, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        col("c_name").isNotNull.as("is_customer"),
        coalesce(col("n_ev"), lit(0L)).as("n_events"))
  }

  /** Exact integer microseconds from the events `ts` column, whether it
    * arrives as nanos-since-epoch LONG (driver testdata, read with
    * `nanosAsLong`) or as a genuine TIMESTAMP (micros) — both paths are
    * integer-exact, matching DuckDB's `epoch_us(ts)`.
    */
  private[graft] def tsMicros(ev: DataFrame): Column =
    if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      expr("ts div 1000")
    else unix_micros(col("ts"))

  /** Q44 — point-in-range self join via time-bucket binning: for every
    * event, how many events of the same user fall strictly inside the
    * following `windowSec` seconds.
    *
    * The naive form is an inequality join (`f.ts > e.ts AND f.ts <=
    * e.ts + W`), which Spark can only execute as a broadcast
    * nested-loop / cartesian per user — quadratic in per-user activity
    * and not shuffle-partitionable. The scale shape used here is the
    * standard *binning* rewrite: quantize time into buckets exactly
    * `W` wide, replicate each probe row to its own bucket and the next
    * (the interval (t, t+W] can only span those two), and equi-join on
    * `(user_id, bucket)` with the range predicate demoted to a join
    * filter. The join is then an ordinary shuffled equi-join — SMJ/SHJ,
    * AQE-skew-splittable, no nested loop — and each pair is generated
    * at most once because a match's single bucket meets exactly one of
    * the two probe replicas.
    *
    * The probe's own-bucket replica always rejoins the event itself
    * (`f_us >= t_us` keeps it), so zero-follower events survive the
    * inner join and the conditional count needs no outer-join repair.
    */
  def followerCounts(s: SparkSession, dir: String,
                     windowSec: Int = 300): DataFrame = {
    val w = windowSec * 1000000L
    val evRaw = t(s, dir, "events")
    val base = evRaw.select(col("event_id"), col("user_id"),
      tsMicros(evRaw).as("t_us"))
    val bkt = expr(s"t_us div $w") // integer div: exact on epoch-micros longs
    val probes = base.withColumn("bucket", explode(array(bkt, bkt + 1L)))
    val cands = base.select(
      col("user_id").as("f_user"),
      col("t_us").as("f_us"),
      bkt.as("f_bucket"))
    probes.join(cands,
        probes("user_id") === cands("f_user") &&
          col("bucket") === col("f_bucket") &&
          col("f_us") >= col("t_us"))
      .groupBy(col("event_id"))
      .agg(sum(when(col("f_us") > col("t_us") &&
          col("f_us") <= col("t_us") + w, 1L).otherwise(0L))
        .as("n_follow"))
  }

  /** Q47 — event-rate spike detection: per (event_type, minute) counts
    * flagged when the minute's count exceeds 3× its trailing 5-minute
    * average. The trailing window is a RANGE frame over the integer
    * minute index — gaps (empty minutes) simply contribute nothing, so
    * the frame is calendar-correct without densifying the series — and
    * a spike requires a FULLY-OBSERVED trailing window (all 5 trailing
    * minutes non-empty): partial history divides by the full window
    * length and would flag every early/post-gap minute. The spike test
    * is a pure integer cross-multiplication (n·window >
    * 3·trailing_sum), engine-exact with no float division.
    *
    * Scale shape: one shuffle to the (type, minute) pre-aggregate —
    * the raw event log never enters a window — then the RANGE frame
    * runs over the tiny per-type minute series. Skew-safe for bounded
    * type cardinality; a high-cardinality key would use the q46
    * bucketed-rank pattern instead.
    */
  def rateSpikes(s: SparkSession, dir: String,
                 trailMinutes: Int = 5, factor: Int = 3): DataFrame = {
    val ev = t(s, dir, "events")
    val minutes = ev
      .select(col("event_type"),
        (tsMicros(ev) / lit(60000000L)).cast("long").as("minute"))
      .groupBy(col("event_type"), col("minute"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rangeBetween(-trailMinutes, -1)
    minutes
      .withColumn("trail_n", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("obs", count(lit(1)).over(w))
      .select(col("event_type"),
        (col("minute") * 60000000L).as("minute_us"),
        col("n"), col("trail_n"),
        (col("obs") === trailMinutes &&
          col("n") * trailMinutes > col("trail_n") * factor).as("spike"))
  }

  /** Q55 — changelog compaction (CDC latest-wins): the current state
    * table from an append-only event log — for every (user_id,
    * event_type) key the most recent event wins, ties broken by
    * event_id (unique, so the winner is total-ordered).
    *
    * Scale shape: `max` over a struct ordered (t_us, event_id, value)
    * is a plain aggregate, so partial (map-side) combine reduces every
    * input split to ≤|live keys| rows BEFORE the shuffle — compacting
    * a 100 TB changelog moves only the surviving state, not the log.
    * The window formulation (row_number over a desc sort) would
    * shuffle and sort every row; the aggregate form is the compaction
    * shape Delta/Hudi-style upsert maintenance runs. (value rides in
    * the struct tail and never decides the order: event_id is unique.)
    */
  def latestState(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.select(col("user_id"), col("event_type"),
        struct(tsMicros(ev).as("t_us"), col("event_id"), col("value")).as("st"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("st")).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.t_us").as("last_us"),
        col("m.event_id").as("last_event_id"),
        col("m.value").as("last_value"))
  }

  /** Z-order key: interleave the low `bits` bits of two dimension
    * columns (dim-a gets the even bit positions, dim-b the odd).
    * Pure shift/mask integer arithmetic — codegen'd, and replicated
    * term-for-term by the oracle.
    */
  def zkey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Q56 — z-order layout audit: events keyed by the bit-interleave of
    * (user_id, epoch-minute), bucketed by the key's high bits, with
    * per-bucket min/max of BOTH dimensions.
    *
    * This is the layout pass behind multi-dimensional data skipping
    * (Delta OPTIMIZE ZORDER): writing 100 TB range-partitioned by
    * `zkey` gives every file a bounded min/max envelope on *both*
    * user_id and time, so a scan filtered on either dimension prunes
    * files — unlike a single-column sort, which bounds only its lead
    * column. The audit output IS the skipping index: per z-bucket
    * ranges a planner would prune against. One shuffle (the bucket
    * aggregate); the key itself is a narrow projection.
    */
  def zorderLayout(s: SparkSession, dir: String, bits: Int = 16,
                   bucketBits: Int = 6): DataFrame = {
    val ev = t(s, dir, "events")
    val mask = (1L << bits) - 1
    val base = ev.select(
      col("user_id").bitwiseAND(lit(mask)).as("u"),
      (tsMicros(ev) / lit(60000000L)).cast("long")
        .bitwiseAND(lit(mask)).as("m"))
    base.withColumn("zbucket",
        shiftright(zkey(col("u"), col("m"), bits), 2 * bits - bucketBits))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("u")).as("u_min"), max(col("u")).as("u_max"),
        min(col("m")).as("m_min"), max(col("m")).as("m_max"))
  }

  /** Q60 — salted skew join surfaced on the oracle contract: per-user
    * event activity joined to the customer dimension through
    * [[SkewJoin.saltedEquiJoin]], rolled up to market segment. The
    * salt spreads each hot user_id over `saltFactor` reducers and the
    * result is row-identical to the plain equi-join (the oracle states
    * the plain join), so the skew machinery itself is hash-checked —
    * not just spec-pinned. Fact side pre-aggregates per user BEFORE
    * the join, so the salted exchange moves one row per user, and the
    * segment rollup is a tiny second shuffle.
    */
  def saltedSegmentActivity(s: SparkSession, dir: String,
                            saltFactor: Int = 8): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(col("value").cast("decimal(20,4)")).as("sum_value"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    SkewJoin.saltedEquiJoin(perUser, dim, "user_id", saltFactor)
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("n_ev")).as("n_events"),
        sum(col("sum_value")).cast("double").as("sum_value"),
        count(lit(1)).as("n_users"))
  }

  /** Q63 — forward fill (gap fill): every event enriched with its
    * user's most recent 'purchase' value — `last(..., ignoreNulls)`
    * over a running frame, the last-observation-carried-forward
    * operator sensor/state enrichment pipelines run. Null until the
    * user's first purchase (no fabricated defaults). Ordering is made
    * total by (t_us, event_id) so the carried value is deterministic
    * under timestamp ties.
    *
    * Scale shape: one shuffle on user_id, one ordered pass — the same
    * cost as any per-key window; no join against a purchases extract
    * (which would shuffle twice and still need the as-of logic).
    */
  def forwardFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        tsMicros(ev).as("t_us"), col("value"))
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select("event_id", "user_id", "t_us", "last_purchase_value")
  }

  /** Q64 — pivot: per-user event counts spread across one column per
    * event type. The value list is EXPLICIT — `pivot(col)` without it
    * runs an extra distinct pass over the fact table to discover
    * columns, a full second scan at 100 TB; with the list the plan is
    * a single aggregate. Missing combinations coalesce to 0 (count
    * semantics).
    */
  def pivotCounts(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val p = t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
      types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
  }

  /** Q64b — unpivot (melt): the Q64 wide table back to long
    * (user_id, event_type, n), dropping the fabricated zero cells so
    * the round trip reproduces the plain long aggregate exactly. The
    * unpivot is a Generate-style expansion — no shuffle beyond Q64's
    * own aggregate.
    */
  def unpivotCounts(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    pivotCounts(s, dir)
      .unpivot(Array(col("user_id")),
        types.map(tp => col(s"n_$tp").as(tp)).toArray,
        "event_type", "n")
      .filter(col("n") > 0)
  }

  /** Q65 — rank-family window functions over a tie-heavy key: rank,
    * dense_rank, percent_rank and cume_dist over the integer JSON
    * measure (ties get identical outputs, so the results are
    * deterministic without a tiebreak), plus ntile(4) over the
    * TOTAL order (k, event_id) — ntile assigns by row position, so it
    * is only deterministic under a total order. percent_rank's
    * (rank−1)/(n−1) and cume_dist's peers/n divide identical integers
    * on both engines: bitwise-equal doubles.
    */
  def rankFunctions(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val k = get_json_object(col("props"), "$.k").cast("long")
    val wTies = Window.partitionBy(col("event_type")).orderBy(col("k"))
    val wTotal = Window.partitionBy(col("event_type"))
      .orderBy(col("k"), col("event_id"))
    ev.select(col("event_id"), col("event_type"), k.as("k"))
      .withColumn("rnk", rank().over(wTies))
      .withColumn("drnk", dense_rank().over(wTies))
      .withColumn("prnk", percent_rank().over(wTies))
      .withColumn("cd", cume_dist().over(wTies))
      .withColumn("tile", ntile(4).over(wTotal))
  }

  /** Q66 — SCD2 history from the changelog: every (user, type) event
    * becomes a validity interval [valid_from, valid_to) with its value
    * in force; the current row stays open (valid_to null). `lead`
    * over the same (t_us, event_id) total order as Q55/Q63 — one
    * shuffle + one ordered pass, the standard dimension-history
    * materialization that pairs with the Q55 compaction (Q55 = the
    * latest snapshot, Q66 = the full history).
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        tsMicros(ev).as("t_us"), col("value"))
      .withColumn("valid_to", lead(col("t_us"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        col("t_us").as("valid_from"), col("valid_to"),
        col("event_id"), col("value"))
  }

  /** Q67 — fixed-width value histogram per event type (the profiling
    * pass that sizes everything else): bucket = floor(value/width).
    * Pure map-side-combinable aggregate — the full profile of a
    * 100 TB column costs one scan and a bucket-count shuffle.
    */
  def valueHistogram(s: SparkSession, dir: String,
                     width: Double = 5.0): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Q68 — distribution moments with order-independent exactness:
    * mean, population variance, and Pearson corr(value, k) per event
    * type. The float-native `var_pop`/`corr` aggregates accumulate
    * doubles in combine order — nondeterministic under shuffle — so
    * the moments are accumulated as DECIMAL power sums (Σx, Σy, Σx²,
    * Σy², Σxy: exact, any combine order) and finished in one pinned
    * double expression. Inputs quantize to DECIMAL(18,4) so products
    * stay inside both engines' decimal width; this is also the
    * scale-safe plan (map-side partials, one shuffle).
    */
  def momentStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val xs = ev.select(col("event_type"),
      col("value").cast("decimal(18,4)").as("x"),
      get_json_object(col("props"), "$.k").cast("long")
        .cast("decimal(18,4)").as("y"))
    val a = xs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    // corr is undefined when either variable is constant (n=1 or all
    // ties): denominator 0 → null, not ANSI divide-by-zero.
    val denom = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    a.select(col("event_type"), col("n"),
      (col("sx") / col("n")).as("mean_value"),
      ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
        .as("var_value"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        when(denom =!= 0.0, denom)).as("corr_vk"))
  }

  /** Q69 — peak concurrent sessions per day (interval sweep line).
    * Sessions are the explicit lag/cumsum form of the Q24 gap rule
    * (closed interval [first event, last event]); each session is
    * exploded to the integer day indexes it spans and clipped, so the
    * sweep-line window is PARTITIONED BY DAY — the textbook global
    * sweep would serialize the whole 100 TB timeline through one
    * ordered partition, while the clipped form scales with
    * days × sessions/day. With closed intervals, active-at-instant-t
    * = cum_prev + starts(t) = cum(t) + ends(t): all integer
    * arithmetic, combine-order-free.
    */
  def peakConcurrency(s: SparkSession, dir: String,
                      gapMinutes: Int = 30): DataFrame = {
    val dayUs = 86400000000L
    val gapUs = gapMinutes * 60000000L
    val ev = t(s, dir, "events")
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val sess = ev
      .select(col("user_id"), tsMicros(ev).as("t_us"), col("event_id"))
      .withColumn("new_s",
        when(col("t_us") - lag(col("t_us"), 1).over(wu) < gapUs, 0L)
          .otherwise(1L))
      .withColumn("sid",
        sum(col("new_s")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
    val clipped = sess
      .withColumn("day",
        explode(sequence(expr(s"t0 div ${dayUs}L"), expr(s"t1 div ${dayUs}L"))))
      .select(col("day"),
        greatest(col("t0"), col("day") * dayUs).as("ts_s"),
        least(col("t1"), (col("day") + 1) * dayUs - 1).as("ts_e"))
    val deltas = clipped
      .select(col("day"), col("ts_s").as("tt"),
        lit(1L).as("ds"), lit(0L).as("de"))
      .unionAll(clipped.select(col("day"), col("ts_e").as("tt"),
        lit(0L).as("ds"), lit(1L).as("de")))
      .groupBy(col("day"), col("tt"))
      .agg(sum(col("ds")).as("starts"), sum(col("de")).as("ends"))
    val wd = Window.partitionBy(col("day")).orderBy(col("tt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("active",
        sum(col("starts") - col("ends")).over(wd) + col("ends"))
      .groupBy(col("day"))
      .agg(sum(col("starts")).as("n_sessions"),
        max(col("active")).as("peak_concurrency"))
  }

  /** Q73 — user growth: per day, new users (first ever seen that
    * day), returning users, and the cumulative user count. The naive
    * count(DISTINCT) over an expanding day window rescans history per
    * day (quadratic at 100 TB); this form computes each user's first
    * day ONCE (one user-keyed aggregate), daily actives as a
    * (day, user) distinct, and the cumulative count as the two-level
    * distributed running sum (GlobalRank.globalCumSum — range-
    * partitioned local cumsums + broadcast partition offsets, never a
    * single-partition window) over the day-level aggregate.
    * All-integer: bitwise parity is free.
    */
  def userGrowth(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = t(s, dir, "events")
    val withDay = ev.select(col("user_id"), tsMicros(ev).as("us"))
      .select(col("user_id"), expr(s"us div $dayUs").as("day"))
    val active = withDay.distinct()
    val firstDay = active.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val newPerDay = firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val joined = dau(active).join(newPerDay, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_returning", col("n_active") - col("n_new"))
    GlobalRank.globalCumSum(joined, col("n_new"), "cum_users", col("day"))
  }

  private def dau(active: DataFrame): DataFrame =
    active.groupBy(col("day")).agg(count(lit(1)).as("n_active"))

  /** Q74 — conversion funnel (signup → click → purchase, strictly
    * ordered by time) per signup-day cohort. Step times resolve with
    * one conditional aggregate per stage: t1 = first signup, t2 =
    * first click AFTER t1, t3 = first purchase AFTER t2 — each stage
    * needs the previous stage's time, so the plan is a chain of
    * user-keyed aggregates over the (already user-partitioned) event
    * set, not a per-user sort. Counts are integers per cohort day.
    */
  /** The Q74/Q97 stage chain: per signed-up user, (t1, t2, t3) of the
    * strictly-ordered signup → click → purchase progression.
    */
  private def funnelTimes(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val e = ev.select(col("user_id"), col("event_type"),
      tsMicros(ev).as("t_us"))
    val s1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("t_us"))).as("t1"))
      .filter(col("t1").isNotNull)
    val s2 = e.join(s1, Seq("user_id"))
      .groupBy(col("user_id"), col("t1"))
      .agg(min(when(col("event_type") === "click" && col("t_us") > col("t1"),
        col("t_us"))).as("t2"))
    e.join(s2, Seq("user_id"))
      .groupBy(col("user_id"), col("t1"), col("t2"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("t_us") > col("t2"), col("t_us"))).as("t3"))
  }

  def funnel(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    funnelTimes(s, dir)
      .groupBy(expr(s"t1 div $dayUs").as("cohort_day"))
      .agg(count(lit(1)).as("n_signup"),
        count(col("t2")).as("n_click"),
        count(col("t3")).as("n_purchase"))
  }

  /** Q97 — conversion-latency distribution: exact p50/p90 of
    * signup→purchase time over fully-converted users (Q32's
    * interpolation contract on exact integer micros). The funnel
    * chain is the Q74 plan; the percentile runs over the
    * converted-users aggregate, not the event log.
    */
  def conversionLatency(s: SparkSession, dir: String): DataFrame =
    funnelTimes(s, dir)
      .filter(col("t3").isNotNull)
      .select((col("t3") - col("t1")).as("lat"))
      .agg(count(lit(1)).as("n_converted"),
        percentile(col("lat"), lit(0.5)).as("p50_us"),
        percentile(col("lat"), lit(0.9)).as("p90_us"))

  /** Q94 — equi-DEPTH histogram per event type (the optimizer-stats
    * companion to Q67's equi-width): ntile(b) over the total order
    * (value, event_id) — deterministic tiling requires the total
    * order — with per-tile count and [lo, hi] value bounds. One
    * shuffle + one ordered pass; at bounded type cardinality the
    * per-type sort is the Q46 bucketed-rank pattern's job if a key
    * ever gets hot.
    */
  def equiDepthHistogram(s: SparkSession, dir: String,
                         buckets: Int = 4): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("tile", ntile(buckets).over(w))
      .groupBy(col("event_type"), col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
  }

  /** Q96 — event-type co-occurrence within sessions (market-basket
    * shape): sessions via the Q69 lag/cumsum gap rule, DISTINCT
    * (user, session, type), then a self-join on the session key over
    * the distinct set — pair volume is Σ types-per-session², bounded
    * by the type vocabulary, never the event log. Integer counts.
    */
  def typeCooccurrence(s: SparkSession, dir: String,
                       gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60000000L
    val ev = t(s, dir, "events")
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val st = ev
      .select(col("user_id"), col("event_type"), tsMicros(ev).as("t_us"),
        col("event_id"))
      .withColumn("new_s",
        when(col("t_us") - lag(col("t_us"), 1).over(wu) < gapUs, 0L)
          .otherwise(1L))
      .withColumn("sid",
        sum(col("new_s")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sid"), col("event_type"))
      .distinct()
    st.as("x").join(st.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.sid") === col("y.sid") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Q75 — retention cohorts: users grouped by first-seen day, and
    * for each (cohort, day-offset) the count of cohort users active
    * that day. The join is first-day (user-keyed, computed once)
    * against the (day, user) distinct actives — both sides already
    * user-partitioned, so the cohort matrix costs one extra shuffle
    * over the DISTINCT actives, not the raw events. Integer-exact.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = t(s, dir, "events")
    val active = ev.select(col("user_id"), tsMicros(ev).as("us"))
      .select(col("user_id"), expr(s"us div $dayUs").as("day")).distinct()
    val firstDay = active.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    active.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Q77 — winsorized moments per event type: values clamped to the
    * exact [p01, p99] percentiles (Q32's interpolation contract)
    * before the Q68 DECIMAL power-sum moments — the robust-stats pass
    * where outliers saturate instead of dominating the variance. The
    * percentile table is type-level (tiny) → broadcast back onto the
    * fact scan; clamped values quantize to DECIMAL(18,6) so the sums
    * stay exact and combine-order-free.
    */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))
    val pct = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.01)).as("p01"),
        percentile(col("value"), lit(0.99)).as("p99"))
    val clamped = ev.join(broadcast(pct), Seq("event_type"))
      .withColumn("xw",
        greatest(col("p01"), least(col("p99"), col("value")))
          .cast("decimal(18,6)"))
    clamped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("p01")).as("p01"), first(col("p99")).as("p99"),
        sum(col("xw")).cast("double").as("sx"),
        sum(col("xw") * col("xw")).cast("double").as("sxx"))
      .select(col("event_type"), col("n"), col("p01"), col("p99"),
        (col("sx") / col("n")).as("mean_w"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
          .as("var_w"))
  }

  /** Q80 — longest consecutive-day activity streak per user (the
    * gaps-and-islands pattern): over the distinct (user, day) set,
    * island id = day − row_number (constant exactly across a run of
    * consecutive days), then streak lengths are island sizes. One
    * shuffle for the distinct; the window and both rollups stay
    * user-partitioned. All-integer.
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = t(s, dir, "events")
    val active = ev.select(col("user_id"), tsMicros(ev).as("us"))
      .select(col("user_id"), expr(s"us div $dayUs").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = active
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** Q81 — median absolute deviation per event type: the robust
    * spread statistic (unlike variance, one outlier moves it not at
    * all). med = exact interpolated median (Q32 contract); MAD =
    * median of |value − med|, with the type-level median broadcast
    * back between the two percentile passes. Identical double
    * subtraction and interpolation on both engines.
    */
  def madStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), percentile(col("value"), lit(0.5)).as("med"))
    ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("n"), col("med"),
        abs(col("value") - col("med")).as("ad"))
      .groupBy(col("event_type"), col("n"), col("med"))
      .agg(percentile(col("ad"), lit(0.5)).as("mad"))
  }

  /** Q114 — per-group ordinary least squares: slope / intercept / r²
    * of `value` against the event's json `k` covariate, from closed-
    * form sufficient statistics (the q68 decimal discipline: inputs
    * quantized to DECIMAL(18,4), all five sums integer-exact and
    * combine-order-free through the exchange, the regression algebra
    * finished in pinned double expressions). This is the aggregate-
    * only form of a fitted model: at 100 TB the whole fit is ONE
    * map-side-combinable pass — no gradient iterations, no driver
    * round-trips — and the same five sums serve slope, intercept, r²,
    * and corr simultaneously. Degenerate groups (constant x or y)
    * yield null coefficients via explicit zero-denominator guards,
    * not NaN arithmetic.
    */
  def olsRegression(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val xs = ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long")
          .cast("decimal(18,4)").as("x"),
        col("value").cast("decimal(18,4)").as("y"))
      .filter(col("x").isNotNull)
    val a = xs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cv = col("n") * col("sxy") - col("sx") * col("sy")
    val slope = cv / when(dx =!= 0.0, dx)
    a.select(col("event_type"), col("n"),
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
      (cv * cv / when(dx * dy =!= 0.0, dx * dy)).as("r2"))
  }

  /** Q124 — OHLC time-bucket resampling: per (event_type, hour),
    * the opening/closing values (argmin/argmax over the exact
    * (t_us, event_id) total order — deterministic under ties), the
    * high/low extremes, and the decimal-exact volume sum. The
    * standard downsample-for-dashboards operator; also the shape any
    * "first/last per bucket" compaction takes.
    *
    * Scale shape: ONE hash aggregate — open/close come from struct
    * min/max (partial-combinable like any min/max, so the exchange
    * carries one struct per (type, hour) per map task), never a sort
    * or window over the raw events. The oracle states the same
    * endpoints declaratively via rank-1 windows.
    */
  def ohlcResample(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val b = ev.select(col("event_type"), col("event_id"), col("value"),
        tsMicros(ev).as("t_us"))
      .withColumn("hour_us", expr("(t_us div 3600000000) * 3600000000"))
    b.groupBy(col("event_type"), col("hour_us"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("t_us"), col("event_id"), col("value")))
          .getField("value").as("px_open"),
        max(col("value")).as("px_high"),
        min(col("value")).as("px_low"),
        max(struct(col("t_us"), col("event_id"), col("value")))
          .getField("value").as("px_close"),
        moneySum(col("value")).as("sum_value"))
  }

  /** Q117 — robust anomaly detection: flag events whose modified
    * z-score 0.6745·(v − median)/MAD exceeds 3.5 (the Iglewicz–Hoaglin
    * rule) within their event type. Composes the q81 median/MAD
    * aggregates — robust to the very outliers being hunted, unlike
    * mean/stddev z-scores which an adversarial tail inflates.
    *
    * Scale shape: one percentile aggregate per group (group-count
    * rows), broadcast back over the fact scan — the flagging pass is
    * a narrow filtered projection, exactly the data-quality sweep
    * shape a 100 TB ingest gate needs (the percentile itself swaps
    * for the q111 bottom-k sketch when even per-group value buffers
    * are too wide). MAD = 0 groups (over half the mass on one value)
    * yield null scores and are excluded explicitly rather than
    * dividing by zero.
    */
  def madAnomalies(s: SparkSession, dir: String,
                   cutoff: Double = 3.5): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val st = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val ad = ev.join(broadcast(st), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("ad"))
    val mad = ad.groupBy(col("event_type"))
      .agg(percentile(col("ad"), lit(0.5)).as("mad"))
    ad.join(broadcast(mad), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"),
        (lit(0.6745) * (col("value") - col("med")) /
          when(col("mad") =!= 0.0, col("mad"))).as("mz"))
      .filter(abs(col("mz")) > cutoff)
  }

  /** Q84 — KMV sketch set algebra: estimated |A ∪ B| and |A ∩ B| of
    * the user sets of every event-type pair, from k-minimum-value
    * sketches only (Beyer et al., SIGMOD 2007) — the sketch-level
    * union (k smallest of the merged sketch) and the θ-rule
    * intersection (survivors below θ present in BOTH sketches),
    * alongside the exact counts for reference. At 100 TB the exact
    * pairwise intersections rescan the fact table per pair, while the
    * sketches are k longs per type: the set algebra runs entirely on
    * aggregates. KMV determinism (k smallest distinct hashes are
    * order-free) makes the estimates hash-exact across engines.
    */
  def kmvSetOps(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val space = graft.functions.TextHash.P
    val ev = t(s, dir, "events")
    val th = ev.select(col("event_type"),
      graft.functions.TextHash.polyHash(col("user_id").cast("string"))
        .as("h")).distinct()
    val wr = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = th.withColumn("r", row_number().over(wr))
      .filter(col("r") <= k).select(col("event_type"), col("h"))
    val tys = th.select(col("event_type")).distinct()
    val tp = tys.select(col("event_type").as("ta"))
      .crossJoin(tys.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    def merged(src: DataFrame): DataFrame =
      tp.join(src.as("sa"), col("sa.event_type") === col("ta"))
        .select(col("ta"), col("tb"), col("sa.h").as("h"))
        .unionAll(tp.join(src.as("sb"), col("sb.event_type") === col("tb"))
          .select(col("ta"), col("tb"), col("sb.h").as("h")))
        .groupBy(col("ta"), col("tb"), col("h"))
        .agg(count(lit(1)).as("nsrc"))
    val wu = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
    val uw = merged(sk).withColumn("r", row_number().over(wu))
      .filter(col("r") <= k)
    val estAgg = uw.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("nu"), max(col("h")).as("theta"),
        sum(when(col("nsrc") === 2, 1L).otherwise(0L)).as("c"))
      .withColumn("est_union",
        when(col("nu") < k, col("nu").cast("double"))
          .otherwise(lit((k - 1).toDouble) * space / col("theta")))
      // denominator nu (not k): saturated → nu = k, the classic c/k
      // rule; unsaturated → the sketch IS the set and est_inter = c
      .withColumn("est_inter",
        col("c").cast("double") / col("nu") * col("est_union"))
    val exact = merged(th).groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("nsrc") === 2, 1L).otherwise(0L)).as("exact_inter"))
    estAgg.join(exact, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("c"), col("est_union"),
        col("est_inter"), col("exact_union"), col("exact_inter"))
  }

  /** Q85 — debounce: suppress rapid repeats — an event is kept only
    * if ≥ `minGapUs` has passed since the PREVIOUS RAW event of the
    * same (user, type) (the one-lag form; true survivor-relative
    * debounce is inherently sequential — at scale this lag variant is
    * the shuffle-friendly standard, and the survivor-relative form
    * would be a flatMapGroups). One user-keyed shuffle, one ordered
    * pass, all-integer comparisons.
    */
  def debounce(s: SparkSession, dir: String,
               minGapUs: Long = 5000000L): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        tsMicros(ev).as("t_us"))
      .withColumn("prev", lag(col("t_us"), 1).over(w))
      .filter(col("prev").isNull || col("t_us") - col("prev") >= minGapUs)
      .select("event_id", "user_id", "event_type", "t_us")
  }

  /** Q86 — chi-square contingency cells over event_type × customer
    * market segment: observed vs expected (rowΣ·colΣ/n) and the
    * per-cell χ² contribution. The cell table is the only fact-scale
    * aggregate; marginals are PARTITIONED window sums over the tiny
    * cell aggregate, the grand total a broadcast scalar cross join
    * (integers, order-free), and each float output is one pinned
    * expression per cell — there is deliberately no cross-cell float
    * Σ (the full χ² statistic would be combine-order-dependent; the
    * caller sums the cells in any fixed order it likes).
    */
  def chiSquareCells(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val cells = ev.join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("event_type"), col("c_mktsegment"))
      .agg(count(lit(1)).as("o"))
    val rt = sum(col("o")).over(Window.partitionBy(col("event_type")))
    val ct = sum(col("o")).over(Window.partitionBy(col("c_mktsegment")))
    // the grand total is a broadcast scalar, not a partitionBy()-less
    // window (which would single-partition the cell table)
    val tot = cells.agg(sum(col("o")).as("n"))
    val withE = cells.crossJoin(broadcast(tot))
      .withColumn("e", (rt * ct).cast("double") / col("n")).drop("n")
    withE.select(col("event_type"), col("c_mktsegment"), col("o"), col("e"),
      ((col("o").cast("double") - col("e")) *
        (col("o").cast("double") - col("e")) / col("e")).as("chi2_cell"))
  }

  /** Q87 — per-type z-score normalization: the feature-prep
    * projection. mean/std derive from the Q68 exact DECIMAL power
    * sums (combine-order-free), broadcast back onto the fact scan;
    * z = (x − mean)/std is one pinned double expression per row, so
    * the normalized column is bitwise-reproducible — which makes
    * downstream sample selection by z-threshold deterministic too.
    */
  def zscore(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev
      .select(col("event_type"), col("value").cast("decimal(18,4)").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      .select(col("event_type"), (col("sx") / col("n")).as("mean_v"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
          .as("std_v"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("mean_v")) / col("std_v")).as("z"))
  }

  /** Q91 — explicit GROUPING SETS ((type), (day), ()) through the SQL
    * surface (`spark.sql` over a temp view): the asymmetric grouping
    * shape ROLLUP/CUBE can't express (no (type, day) cell), one
    * Expand + one shuffle. gid is the standard bit-vector
    * (first-listed column = MSB), reconstructed on the oracle side
    * from GROUPING() bits.
    */
  def groupingSetsCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val day = date_format(
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        to_date(expr("timestamp_micros(ts div 1000)"))
      else to_date(col("ts")),
      "yyyy-MM-dd")
    ev.select(col("event_type"), day.as("day"))
      .createOrReplaceTempView("events_gs")
    s.sql("""SELECT event_type, day, count(*) AS n_events,
      CAST(grouping_id() AS BIGINT) AS gid
      FROM events_gs GROUP BY GROUPING SETS ((event_type), (day), ())""")
  }

  /** Q93 — ANALYZE-style column statistics for the events table in
    * ONE pass: per column, row count, null count, exact NDV, and
    * numeric min/max — the stats collection that feeds size
    * estimation and data skipping. All 6 columns' aggregates compute
    * in a single cached scan (multiple count-distincts = one Expand,
    * still one pass over the data); the per-column rows are stacked
    * from the 1-row aggregate. At 100 TB exact NDV becomes the Q26
    * KMV sketch — same plan shape, bounded state.
    */
  def columnStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select(col("event_id"), tsMicros(ev).as("t_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    val cols = Seq("event_id" -> true, "t_us" -> true, "user_id" -> true,
      "event_type" -> false, "value" -> true, "props" -> false)
    val aggs = Seq(count(lit(1)).as("n")) ++ cols.flatMap { case (c, num) =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_ndv")) ++
        (if (num) Seq(min(col(c)).cast("double").as(s"${c}_min"),
          max(col(c)).cast("double").as(s"${c}_max"))
        else Seq.empty)
    }
    // Lazy cache, DELIBERATELY kept (round-18 A/B): the 1-row
    // aggregate feeds six union branches, but all six are tasks of ONE
    // job and BlockManager serializes same-block computes — the eager
    // localCheckpoint variant measured SLOWER (1.18 → 1.39 s CPU
    // in-bench; the extra checkpoint job outweighs a race that never
    // materializes here).
    val one = base.agg(aggs.head, aggs.tail: _*).cache()
    cols.map { case (c, num) =>
      one.select(lit(c).as("col_name"), col("n"),
        col(s"${c}_nulls").as("n_null"), col(s"${c}_ndv").as("ndv"),
        (if (num) col(s"${c}_min") else lit(null).cast("double")).as("min_d"),
        (if (num) col(s"${c}_max") else lit(null).cast("double")).as("max_d"))
    }.reduce(_ unionAll _)
  }

  /** Q93b — column statistics with SKETCHED NDV: the 100 TB variant of
    * [[columnStats]] its scaladoc promises. Exact `count(DISTINCT c)`
    * per column shuffles every distinct value of every column through
    * the exchange (and one Expand row per column per input row); here
    * each column's NDV comes from the Q26 KMV sketch instead — the
    * stacked (col_name, value-string) rows collapse to k=64 longs per
    * column on the MAP side, so the exchange carries 6·k longs total
    * regardless of input size. Doubles are quantized to DECIMAL(18,6)
    * before rendering so the hashed string is engine-independent
    * (shortest-roundtrip double formatting is not); sub-saturated
    * sketches (event_type: 5 values) stay exact by the KMV contract.
    * n/null/min/max remain exact single-pass aggregates — they are
    * constant-state and free.
    */
  def columnStatsKmv(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import s.implicits._
    import graft.functions.{KmvSketch, TextHash}
    val ev = t(s, dir, "events")
    val base = ev.select(col("event_id"), tsMicros(ev).as("t_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
      .cache() // feeds both the exact aggregate and the sketch pass
    val cols = Seq("event_id" -> true, "t_us" -> true, "user_id" -> true,
      "event_type" -> false, "value" -> true, "props" -> false)
    def sv(c: String): Column =
      if (c == "value") col(c).cast("decimal(18,6)").cast("string")
      else col(c).cast("string")
    val aggs = Seq(count(lit(1)).as("n")) ++ cols.flatMap { case (c, num) =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")) ++
        (if (num) Seq(min(col(c)).cast("double").as(s"${c}_min"),
          max(col(c)).cast("double").as(s"${c}_max"))
        else Seq.empty)
    }
    // Lazy cache, DELIBERATELY kept — same A/B result as columnStats
    // (the checkpoint variant measured 0.76 → 1.12 s CPU in-bench).
    val one = base.agg(aggs.head, aggs.tail: _*).cache()
    val exact = cols.map { case (c, num) =>
      one.select(lit(c).as("col_name"), col("n"),
        col(s"${c}_nulls").as("n_null"),
        (if (num) col(s"${c}_min") else lit(null).cast("double")).as("min_d"),
        (if (num) col(s"${c}_max") else lit(null).cast("double")).as("max_d"))
    }.reduce(_ unionAll _)
    val sketch = new KmvSketch(k, TextHash.P)
    val est = base
      .select(explode(array(cols.map { case (c, _) =>
        struct(lit(c).as("col_name"), sv(c).as("sv")) }: _*)).as("x"))
      .filter(col("x.sv").isNotNull)
      .select(col("x.col_name"), TextHash.polyHash(col("x.sv")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(sketch.toColumn)
      .map { case (c, o) => (c, o.est_distinct) }
      .toDF("col_name", "est_ndv")
    exact.join(broadcast(est), Seq("col_name"))
      .select(col("col_name"), col("n"), col("n_null"), col("est_ndv"),
        col("min_d"), col("max_d"))
  }

  /** Q98 — share-of-parent hierarchy rollup: per-nation revenue and
    * its share of the region total — the BI "percent of parent"
    * shape. Revenue sums are exact DECIMAL (region share = one pinned
    * double division of two exact sums); the region total is a window
    * sum OVER the nation-level aggregate (25 rows), so the hierarchy
    * costs nothing beyond Q11's join plan: dimensions broadcast, one
    * fact shuffle.
    */
  def shareOfParent(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val rev = li
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(20,4)")).as("rev"))
    val wr = Window.partitionBy(col("r_name"))
    rev
      .withColumn("region_rev", sum(col("rev")).over(wr))
      .select(col("r_name"), col("n_name"),
        col("rev").cast("double").as("revenue"),
        (col("rev").cast("double") / col("region_rev").cast("double"))
          .as("share_of_region"))
  }

  /** Q99 — session path analysis: the top event-type sequences
    * (click>view>purchase…) by session count. The path string builds
    * from a SORTED struct array ((t_us, event_id) total order inside
    * the session — `collect_list` alone has no order guarantee), so
    * the aggregation is deterministic; paths then count-rollup
    * (vocabulary-sized) and top-k by (count desc, path) via
    * takeOrdered. Sessions are the Q69 gap rule.
    */
  def sessionPaths(s: SparkSession, dir: String, gapMinutes: Int = 30,
                   k: Int = 10): DataFrame = {
    val gapUs = gapMinutes * 60000000L
    val ev = t(s, dir, "events")
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val sess = ev
      .select(col("user_id"), col("event_type"), tsMicros(ev).as("t_us"),
        col("event_id"))
      .withColumn("new_s",
        when(col("t_us") - lag(col("t_us"), 1).over(wu) < gapUs, 0L)
          .otherwise(1L))
      .withColumn("sid",
        sum(col("new_s")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sess.groupBy(col("user_id"), col("sid"))
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(
            struct(col("t_us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** Q103 — week-over-week change: weekly order revenue with the
    * previous CALENDAR week's value and the relative change — the BI
    * trend staple. "Previous" is week − 7 days by a self-join on the
    * week key, not a `lag` window: an un-partitioned lag serializes
    * the whole series through one task at scale, while the calendar
    * join is an ordinary shuffle (and is the more honest WoW
    * semantics — a gap week yields NULL change, not a comparison
    * against whatever week happened to come before it). Revenue is
    * decimal-exact; pct_change is one pinned division, null when the
    * prior calendar week has no orders.
    */
  def weekOverWeek(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val wk = o.groupBy(date_trunc("week", col("o_orderdate")).as("week"))
      .agg(sum(col("o_totalprice").cast("decimal(20,4)")).as("rev"))
    val prev = wk.select((col("week") + expr("INTERVAL 7 DAYS")).as("week"),
      col("rev").as("prev"))
    wk.join(prev, Seq("week"), "left")
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("rev").cast("double").as("revenue"),
        col("prev").cast("double").as("prev_revenue"),
        ((col("rev") - col("prev")).cast("double") /
          col("prev").cast("double")).as("pct_change"))
  }

  /** Q104 — revenue concentration (Pareto 80/20): per market segment,
    * how many customers cover 80% of segment revenue. Customers rank
    * by exact decimal spend (total order: spend desc, custkey); the
    * cumulative share test is a pure integer/decimal
    * cross-multiplication (5·cum ≥ 4·total ⇔ share ≥ 0.8 — no float
    * division inside the window), and the count rolls up from the
    * customer-level aggregate.
    */
  def paretoConcentration(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(20,4)")).as("spend"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val wseg = Window.partitionBy(col("c_mktsegment"))
    val wrank = wseg.orderBy(col("spend").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spend
      .withColumn("total", sum(col("spend")).over(wseg))
      .withColumn("cum", sum(col("spend")).over(wrank))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("cum") * 5 < col("total") * 4, 1L).otherwise(0L))
          .as("n_below80"))
      .select(col("c_mktsegment"), col("n_customers"),
        // the 80% cover set = customers strictly below the threshold
        // plus the one that crosses it
        (col("n_below80") + 1).as("n_top80"))
  }

  /** Q105 — linear interpolation at event times between the
    * surrounding purchase observations (the resampling companion to
    * Q63's forward fill): v = prev + (next − prev)·(t − tp)/(tn − tp),
    * null outside the observed range. Both neighbor fetches are
    * last/first-over-window on the SAME (t_us, event_id)-ordered
    * user partition — one shuffle, two ordered passes sharing the
    * sort; the interpolation itself is one pinned double expression
    * over integer micros.
    */
  def linearInterpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select(col("event_id"), col("user_id"),
      col("event_type"), tsMicros(ev).as("t_us"), col("value"))
    val obs = when(col("event_type") === "purchase", col("value"))
    val obsT = when(col("event_type") === "purchase", col("t_us"))
    val wb = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .withColumn("pv", last(obs, ignoreNulls = true).over(wb))
      .withColumn("pt", last(obsT, ignoreNulls = true).over(wb))
      .withColumn("nv", first(obs, ignoreNulls = true).over(wf))
      .withColumn("nt", first(obsT, ignoreNulls = true).over(wf))
      .select(col("event_id"), col("user_id"), col("t_us"),
        when(col("pt") === col("nt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("t_us") - col("pt")).cast("double") /
            (col("nt") - col("pt")).cast("double"))
          .as("v_interp"))
  }

  /** Q34b — full CUBE over (event_type, day): all four grouping sets
    * (type×day, type, day, total) in one shuffle. Same nanos→day
    * derivation as Q13.
    */
  /** Q135 — declarative data-quality constraint audit (the
    * Deequ-style pre-ingest gate): null / range / uniqueness /
    * referential-integrity checks over orders and lineitem, one
    * result row per named constraint with row and violation counts.
    *
    * Scale shape: every row-level check on a table shares ONE scan —
    * a single conditional-sum aggregate fans out to per-constraint
    * rows via `stack` over the 1-row aggregate, so adding checks
    * never adds passes. Uniqueness re-aggregates the key-count
    * aggregate (violations = Σ(c−1), exactly the duplicate surplus);
    * FK checks are LEFT ANTI joins (broadcastable dimension) counted
    * against the fact row count carried by a broadcast-scalar cross
    * join. All counts are exact int64.
    */
  def constraintAudit(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val c = t(s, dir, "customer")
    def v(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

    val oRow = o.agg(
        count(lit(1)).as("n_rows"),
        v(col("o_totalprice").isNull || col("o_totalprice") <= 0).as("v1"),
        v(col("o_orderdate").isNull).as("v2"))
      .selectExpr("n_rows",
        "stack(2, 'orders.totalprice_positive', v1, " +
          "'orders.orderdate_not_null', v2) AS (`constraint`, n_violations)")
    val lRow = l.agg(
        count(lit(1)).as("n_rows"),
        v(col("l_quantity").isNull ||
          col("l_quantity") < 1 || col("l_quantity") > 50).as("v1"),
        v(col("l_discount").isNull ||
          col("l_discount") < 0 || col("l_discount") > 1).as("v2"))
      .selectExpr("n_rows",
        "stack(2, 'lineitem.quantity_1_50', v1, " +
          "'lineitem.discount_0_1', v2) AS (`constraint`, n_violations)")
    val oUniq = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"), sum(col("c") - 1).as("n_violations"))
      .select(lit("orders.orderkey_unique").as("constraint"),
        col("n_rows"), col("n_violations"))
    val lUniq = l.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"), sum(col("c") - 1).as("n_violations"))
      .select(lit("lineitem.order_line_unique").as("constraint"),
        col("n_rows"), col("n_violations"))
    def fk(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
           name: String): DataFrame = {
      val miss = fact.join(broadcast(dim.select(col(dimKey))),
          fact(factKey) === col(dimKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      fact.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(miss))
        .select(lit(name).as("constraint"), col("n_rows"),
          col("n_violations"))
    }
    val sel = Seq("constraint", "n_rows", "n_violations")
    oRow.selectExpr(sel: _*)
      .unionAll(lRow.selectExpr(sel: _*))
      .unionAll(oUniq).unionAll(lUniq)
      .unionAll(fk(o, "o_custkey", c, "c_custkey", "orders.custkey_fk"))
      .unionAll(fk(l, "l_orderkey", o, "o_orderkey", "lineitem.orderkey_fk"))
      .withColumn("pass", (col("n_violations") === 0).cast("long"))
  }

  /** Q131 — interval-union active time per user: each event opens a
    * fixed `holdMin`-minute activity interval [t, t+hold); overlapping
    * or touching intervals merge via gaps-and-islands (an island
    * starts when the event time strictly exceeds the running max end
    * of everything before it), and per-user active time is the summed
    * union length — the "time actually spent" metric naive
    * max(t)-min(t) overstates and sum-of-holds double-counts.
    *
    * Scale shape: one user-partitioned ordered window over DISTINCT
    * (user, t) — per-user cardinality is session-bounded, the q68
    * peak-concurrency discipline (if one user ever got pathologically
    * hot the q46 two-level bucket rank applies); everything else is
    * exact integer micros through user-keyed hash aggregates.
    */
  def activeTime(s: SparkSession, dir: String, holdMin: Int = 5): DataFrame = {
    val hold = holdMin * 60000000L
    val ev = t(s, dir, "events")
    val e = ev.select(col("user_id"), tsMicros(ev).as("t_us")).distinct()
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
    val prevEnd = max(col("t_us") + hold)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val marked = e.withColumn("new_island",
      when(prevEnd.isNull || col("t_us") > prevEnd, 1L).otherwise(0L))
    val islands = marked.withColumn("island",
      sum(col("new_island"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("user_id"), col("island"))
      .agg(min(col("t_us")).as("start_us"),
        (max(col("t_us")) + hold).as("end_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_active_periods"),
        sum(col("end_us") - col("start_us")).as("active_us"))
  }

  /** Q129 — first/last-touch conversion attribution: each user's
    * FIRST purchase is the conversion; every earlier non-purchase
    * event is a touch; the first and last touch each credit their
    * event type (the marketing-channel attribution shape). All
    * endpoint picks run on the (t_us, event_id) total order, so
    * equal-timestamp events cannot flip attribution between runs —
    * the q124 OHLC tie discipline.
    *
    * Scale shape: conversion and touch endpoints are user-keyed
    * struct-min/max hash aggregates (partial-combining, no per-user
    * sort, no window over the event log); the channel roll-up runs
    * over the per-USER aggregate (rows = converted users, not
    * events). Users with no pre-conversion touch drop out, matching
    * the oracle's inner touch join.
    */
  def touchAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val e = ev.select(col("user_id"), col("event_type"),
      tsMicros(ev).as("t_us"), col("event_id"))
    val conv = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("t_us"), col("event_id"))).as("c"))
      .select(col("user_id"), col("c.t_us").as("cv_t"),
        col("c.event_id").as("cv_id"))
    val endpoints = e.filter(col("event_type") =!= "purchase")
      .join(conv, Seq("user_id"))
      .filter(col("t_us") < col("cv_t") ||
        (col("t_us") === col("cv_t") && col("event_id") < col("cv_id")))
      // (t_us, event_id) is unique, so the trailing event_type tag
      // rides along without ever deciding the struct comparison
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("t_us"), col("event_id"), col("event_type"))).as("f"),
        max(struct(col("t_us"), col("event_id"), col("event_type"))).as("l"))
    val first = endpoints.groupBy(col("f.event_type").as("channel"))
      .agg(count(lit(1)).as("n_first"))
    val last = endpoints.groupBy(col("l.event_type").as("channel"))
      .agg(count(lit(1)).as("n_last"))
    first.join(last, Seq("channel"), "full")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"))
  }

  /** Q136 — dominant supplier share, stated as a CORRELATED scalar
    * subquery on the SQL surface: per (part, supplier) shipped
    * quantity, keep pairs holding > 15% of the part's total, with the
    * share. The point of this query is the optimizer path: Catalyst's
    * `RewriteCorrelatedScalarSubquery` / `DecorrelateInnerQuery` must
    * turn both correlated subqueries (one in SELECT, one in WHERE)
    * into ONE de-correlated aggregate joined back on `partkey` — a
    * per-row re-executed subquery would be O(n·parts) and
    * `PlanQualitySpec` pins that no subquery survives in the physical
    * plan.
    *
    * Float discipline: quantities accumulate as DECIMAL(20,4) (exact,
    * order-free partial aggregation); the 0.15 threshold compares in
    * exact decimal arithmetic; `share` is the single pinned double
    * division at the end.
    */
  def dominantSupplierShare(s: SparkSession, dir: String): DataFrame = {
    // Round-18 optimization (guide §2.4): the `ps` CTE used to be a
    // plain WITH over the lineitem view, and Catalyst INLINES
    // non-materialized CTEs — so after decorrelation the plan scanned
    // and re-aggregated lineitem THREE times (p1 + one decorrelated
    // aggregate per scalar subquery; the round-18 before-plan shows
    // three full Scan parquet → HashAggregate chains). Materializing
    // ps ONCE as an adopted eager checkpoint behind the view keeps the
    // correlated-subquery SQL surface — and its PlanQualitySpec
    // decorrelation pin — while every decorrelated branch now scans
    // the ~|parts×supps| checkpoint blocks instead of re-running the
    // corpus aggregate. Same decimal sums, same rows, oracle
    // unchanged. CONSUME-ONCE (see Graph.hits).
    val ps = CheckpointOrphans.adopt(
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("qty_dec"))
        .localCheckpoint())
    ps.createOrReplaceTempView("g_q136_ps")
    s.sql(
      """SELECT partkey, suppkey,
        |  CAST(qty_dec AS DOUBLE) AS qty,
        |  CAST(qty_dec AS DOUBLE) /
        |    CAST((SELECT sum(p2.qty_dec) FROM g_q136_ps p2
        |          WHERE p2.partkey = p1.partkey) AS DOUBLE) AS share
        |FROM g_q136_ps p1
        |WHERE qty_dec * 20 > (SELECT sum(p2.qty_dec) FROM g_q136_ps p2
        |                      WHERE p2.partkey = p1.partkey) * 3
        |""".stripMargin)
  }

  /** Q137 — per-channel lag-k autocorrelation (k = 1, 5, 10) of the
    * signal trace: Pearson r between y_i and y_{i+k} over the
    * overlapping window, the standard periodicity probe that
    * complements the peak detector (a beat every ~600 samples shows
    * up as structure across the lags).
    *
    * Scale shape: ONE window pass (partition = channel, the inherent
    * time-series order — at 100 TB each channel sorts independently,
    * parallel across the fleet of (experiment, channel) series)
    * computes all three leads; `stack` fans the pair columns into
    * (k, x, z) rows WITHOUT re-reading; one hash aggregate per
    * (channel, k) carries six decimal-exact sufficient statistics
    * (order-free partial aggregation, so the exchange carries 6
    * numbers per group per map task). Final Pearson assembly is the
    * only double arithmetic, association order pinned to the oracle.
    */
  def signalAutocorr(s: SparkSession): DataFrame = {
    val sig = graft.sources.SignalFixture.signal(s)
    val w = Window.partitionBy(col("channel")).orderBy(col("sample_idx"))
    val yd = col("y").cast("decimal(18,4)")
    val pairs = sig
      .select(col("channel"), yd.as("x"),
        lead(yd, 1).over(w).as("l1"),
        lead(yd, 5).over(w).as("l5"),
        lead(yd, 10).over(w).as("l10"))
      .selectExpr("channel", "x",
        "stack(3, 1, l1, 5, l5, 10, l10) AS (k, z)")
      .filter(col("z").isNotNull)
    val a = pairs.groupBy(col("channel"), col("k"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("z")).cast("double").as("sz"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("z") * col("z")).cast("double").as("szz"),
        sum(col("x") * col("z")).cast("double").as("sxz"))
    val num = col("m") * col("sxz") - col("sx") * col("sz")
    val den = sqrt((col("m") * col("sxx") - col("sx") * col("sx")) *
      (col("m") * col("szz") - col("sz") * col("sz")))
    a.select(col("channel"), col("k"), col("m"),
      (num / when(den =!= 0.0, den)).as("r"))
  }

  /** Q150 — MULTISET set operations (the ALL variants Q140's distinct
    * forms deliberately exclude): INTERSECT ALL keeps min(m_a, m_b)
    * copies of each user_id, EXCEPT ALL keeps m_a − m_b — occurrence
    * accounting, not membership. Catalyst plans both sides through
    * partial-aggregable counts (a row_number tag under the hood), so
    * the multiset semantics still cost one shuffle per leg, no sort.
    */
  def eventSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def users(et: String): DataFrame =
      ev.filter(col("event_type") === et).select(col("user_id"))
    val clicks = users("click")
    val buys = users("purchase")
    clicks.intersectAll(buys)
      .select(lit("both_all").as("tag"), col("user_id"))
      .unionAll(clicks.exceptAll(buys)
        .select(lit("click_surplus").as("tag"), col("user_id")))
      .unionAll(buys.exceptAll(clicks)
        .select(lit("purchase_surplus").as("tag"), col("user_id")))
      .groupBy(col("tag"), col("user_id"))
      .agg(count(lit(1)).as("n"))
  }

  /** Q152 — funnel STAGE-latency percentiles: exact p50/p90 of
    * signup→click and click→purchase gaps (integer micros) over users
    * that reached each stage — Q97 gives the end-to-end latency; this
    * is the per-stage breakdown an activation-funnel owner actually
    * tunes against. Chain times come from the Q74 chained-min
    * aggregates; the percentile (Q32's interpolation contract) runs
    * over the per-user aggregate, never the event log.
    */
  def stageLatency(s: SparkSession, dir: String): DataFrame = {
    val ft = funnelTimes(s, dir)
    ft.select(col("user_id"), col("t1"), col("t2"), col("t3"))
      .selectExpr("stack(2, 'signup_to_click', t2 - t1, " +
        "'click_to_purchase', t3 - t2) AS (stage, lat)")
      .filter(col("lat").isNotNull)
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n"),
        percentile(col("lat"), lit(0.5)).as("p50_us"),
        percentile(col("lat"), lit(0.9)).as("p90_us"))
  }

  /** Q153 — session-DEPTH distribution (with the depth-1 bucket as
    * the classic bounce rate): events per session from the Q24
    * gaps-and-islands rollup, collapsed to (depth, n_sessions,
    * share). The share divides by the total once per depth row —
    * counts stay exact BIGINT; the depth histogram is bounded by the
    * longest session, so the final aggregate is tiny and the
    * broadcast of the 1-row total is free.
    */
  def sessionDepth(s: SparkSession, dir: String,
                   gapMinutes: Int = 30): DataFrame = {
    val sess = sessionRollup(s, dir, gapMinutes)
    val dist = sess.groupBy(col("n_events").as("depth"))
      .agg(count(lit(1)).as("n_sessions"))
    val total = dist.agg(sum(col("n_sessions")).as("total"))
    dist.crossJoin(broadcast(total))
      .select(col("depth"), col("n_sessions"),
        (col("n_sessions").cast("double") / col("total").cast("double"))
          .as("share"))
  }

  /** Q147 — per-channel CUSUM change-point detection on the raw
    * signal: the sample k maximizing |Σ_{i≤k} y_i − k·μ| (the
    * classic cumulative-deviation statistic; its argmax locates the
    * dominant mean shift). Everything up to the final report is EXACT:
    * with S_k the decimal cumulative sum and T the channel total,
    * n·S_k − k·T = n·(S_k − k·μ) is pure integer-scaled decimal
    * arithmetic — no float μ ever enters, so the argmax (tie → lowest
    * sample_idx) is bitwise deterministic; the reported deviation
    * divides by n ONCE at the end (the repo's single-pinned-division
    * discipline).
    *
    * Scale shape: one ordered window pass per channel for S_k (the
    * inherent sequential scan, partitioned by channel so channels
    * parallelize), the channel totals from the same partition window,
    * and the argmax via a per-channel rank — no global sort, no
    * self-join. Decimal widths are pinned (sums 24,4; counters 6,0)
    * so products stay inside DECIMAL(38) in BOTH engines — DuckDB
    * silently promotes overflowing decimal products to DOUBLE, which
    * would break exactness, so the casts are part of the contract.
    */
  def signalCusum(s: SparkSession): DataFrame = {
    val sig = graft.sources.SignalFixture.signal(s)
    val w = Window.partitionBy(col("channel")).orderBy(col("sample_idx"))
    val wAll = Window.partitionBy(col("channel"))
    val cum = sig
      .select(col("channel"), col("sample_idx"), col("y").cast("decimal(18,4)").as("v"))
      .withColumn("k", row_number().over(w).cast("decimal(6,0)"))
      .withColumn("sk", sum(col("v")).over(w).cast("decimal(24,4)"))
      .withColumn("t", sum(col("v")).over(wAll).cast("decimal(24,4)"))
      .withColumn("n", count(lit(1)).over(wAll).cast("decimal(6,0)"))
      .withColumn("dev", abs(col("n") * col("sk") - col("k") * col("t")))
    val r = Window.partitionBy(col("channel"))
      .orderBy(col("dev").desc, col("sample_idx"))
    cum.withColumn("rnk", row_number().over(r)).filter(col("rnk") === 1)
      .select(col("channel"), col("n").cast("long").as("n"),
        col("sample_idx").as("cp_idx"),
        (col("dev").cast("double") / col("n").cast("double")).as("cusum_dev"))
  }

  /** Q148 — per-type daily LAG-FEATURE table (the feature-engineering
    * shape a forecasting/training pipeline emits): previous-day and
    * previous-week counts plus a 7-row trailing sum and mean. Counts
    * are exact BIGINTs; the rolling mean is the single double
    * division per row.
    *
    * Scale shape: the raw events collapse ONCE to (type, day) counts
    * (map-side combinable); every window then runs over the
    * aggregate, partitioned by type — window input is days×types
    * rows, never events, and a year of days per type sorts within
    * one task trivially.
    */
  def lagFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val day = date_format(
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        to_date(expr("timestamp_micros(ts div 1000)"))
      else to_date(col("ts")),
      "yyyy-MM-dd")
    val daily = ev.groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wf = w.rowsBetween(-6, 0)
    daily.select(col("event_type"), col("day"), col("n"),
      lag(col("n"), 1).over(w).as("lag1"),
      lag(col("n"), 7).over(w).as("lag7"),
      sum(col("n")).over(wf).as("roll7_sum"),
      (sum(col("n")).over(wf).cast("double") /
        count(lit(1)).over(wf).cast("double")).as("roll7_mean"))
  }

  /** Q140 — explicit set-operation surface: the user populations of
    * 'click' vs 'purchase' compared with INTERSECT (both), EXCEPT
    * (click-only), and EXCEPT the other way (purchase-only), tagged.
    *
    * The point is the optimizer mapping: Catalyst rewrites
    * `intersect` to a left-SEMI join over distincts and `except` to
    * a left-ANTI join — set semantics become partial-aggregable
    * hash joins, never a sort or a cartesian. Each leg shuffles only
    * distinct user_ids (map-side combined).
    */
  def eventSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def users(et: String): DataFrame =
      ev.filter(col("event_type") === et).select(col("user_id"))
    val clicks = users("click")
    val buys = users("purchase")
    clicks.intersect(buys).select(lit("both").as("tag"), col("user_id"))
      .unionAll(clicks.except(buys)
        .select(lit("click_only").as("tag"), col("user_id")))
      .unionAll(buys.except(clicks)
        .select(lit("purchase_only").as("tag"), col("user_id")))
  }

  /** Q141 — first-order Markov transition matrix over each user's
    * event sequence: consecutive event-type pairs on the
    * tie-deterministic (t_us, event_id) total order, with the
    * transition probability n / Σn(from) as the single pinned double
    * division (the Q120/Q134 rational discipline).
    *
    * Scale shape: one user-keyed window pass builds the lag pairs
    * (per-user sequences sort independently — the inherent order);
    * the transition aggregate is |types|² ≤ tiny, and the per-from
    * totals re-aggregate THAT, never the events; the totals join
    * back broadcast.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMicros(ev).as("t_us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val m = pairs.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = m.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    m.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from")).as("p"))
  }

  /** Q142 — time-weighted average value per event type (the TWAP
    * shape): each observation holds until the next one of the same
    * type (exact integer micros via lead on the (t_us, event_id)
    * order, last observation dropped); twap = Σ value·dur / Σ dur
    * with value quantized to DECIMAL(18,4) so the weighted sum is
    * exact integer arithmetic — combine-order-free — and the final
    * division is the single double step.
    */
  def twapByType(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    val d = ev
      .select(col("event_type"), col("event_id"),
        col("value").cast("decimal(18,4)").as("v"), tsMicros(ev).as("t_us"))
      .withColumn("next_us", lead(col("t_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_us", col("next_us") - col("t_us"))
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).as("total_us"),
        sum(col("v") * col("dur_us").cast("decimal(20,0)")).as("vw"))
      .select(col("event_type"), col("n_intervals"), col("total_us"),
        (col("vw").cast("double") / col("total_us").cast("double"))
          .as("twap"))
  }

  def eventsCube(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val day = date_format(
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        to_date(expr("timestamp_micros(ts div 1000)"))
      else to_date(col("ts")),
      "yyyy-MM-dd")
    ev.select(col("event_type"), day.as("day"), col("value"))
      .cube(col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"),
        grouping_id().as("gid"))
  }

  /** Q160 — correlated LATERAL derived table on the SQL surface: the
    * top-k customers by account balance FOR EACH nation, written the
    * way a SQL user writes per-group top-k (`, LATERAL (... ORDER BY
    * ... LIMIT k)`). Catalyst DECORRELATES it — the optimized plan is
    * a WindowGroupLimit (per-partition rank pushdown, no per-nation
    * re-execution) feeding one broadcast join with nation, which is
    * exactly the hand-written two-level top-k plan; the query pins
    * that rewrite end-to-end (plan pin in PlanQualitySpec). Ties
    * break on (acctbal desc, custkey): total order, deterministic.
    */
  def lateralTopSpenders(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("graft_q160_nation")
    t(s, dir, "customer").createOrReplaceTempView("graft_q160_customer")
    s.sql(
      s"""SELECT n.n_name, t.c_custkey, t.c_acctbal
         |FROM graft_q160_nation n,
         |LATERAL (
         |  SELECT c_custkey, c_acctbal FROM graft_q160_customer c
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY c_acctbal DESC, c_custkey LIMIT $k
         |) t""".stripMargin)
  }

  /** The closed event-type vocabulary the PIVOT projects to columns.
    * Pivoting REQUIRES a declared (or pre-collected) value list; a
    * fixed list keeps the plan one-pass — Spark's values-discovering
    * overload first runs a distinct scan.
    */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Q155 — PIVOT: the per-day event matrix (one row per day, one
    * column per event type) — the wide activity table BI layers and
    * feature stores expect. Uses the relational pivot surface
    * (`RelationalGroupedDataset.pivot`), which Catalyst compiles to
    * ONE aggregate pass with a conditional-count per pivot column —
    * same shuffle as the plain groupBy (day-keyed, map-side
    * partials); absent (day, type) cells coalesce to 0. At 100 TB
    * nothing changes: the pivot width is the type vocabulary
    * (bounded), the row count is days.
    */
  def eventPivot(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val p = ev
      .select(tsMicros(ev).as("us"), col("event_type"))
      // integer `div`, not `/` — Column./ promotes to double, and a
      // float day boundary is exactly the kind of last-ulp hazard the
      // repo's float discipline bans
      .select(expr("us div 86400000000").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select(col("day") +:
      EventTypes.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
  }

  /** Q156 — UNPIVOT (melt): lineitem's three money measures rotated
    * to (metric, value) rows, then aggregated per metric — the
    * long-form rotation feeding generic per-metric quality checks
    * (one code path over any measure column). Uses the Dataset
    * `unpivot` surface, which plans as a single Expand (each input
    * row fans to 3 narrow rows in the SAME task — no shuffle, no
    * join); the only exchange is the 3-group aggregate. Sums are
    * exact decimal, one final double cast each.
    */
  def lineitemUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_quantity").cast("decimal(20,4)").as("quantity"),
        col("l_extendedprice").cast("decimal(20,4)").as("extendedprice"),
        (col("l_extendedprice").cast("decimal(20,4)") *
          col("l_discount").cast("decimal(20,4)")).as("discount_amount"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("quantity"), col("extendedprice"), col("discount_amount")),
        "metric", "v")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sum_v"),
        max(col("v")).cast("double").as("max_v"))

  /** Q157 — NTILE quartiles: customers bucketed into spend quartiles
    * WITHIN their market segment (ntile(4) over the per-segment spend
    * order), rolled up to per-(segment, quartile) totals — the
    * standard RFM-style banding. The window is PARTITIONED by segment
    * (parallel, never global); its input is the customer-level spend
    * aggregate, not orders. ntile's uneven-split rule (first
    * n mod 4 buckets get the extra row) matches DuckDB's, and the
    * (spend desc, custkey) order is total, so bucket edges are
    * deterministic; sums stay decimal until the final double cast.
    */
  /** Q166 — top-k customers per market segment through the
    * bounded-heap UDAF ([[graft.functions.TopKByValue]]) instead of a
    * rank window: each map task ships at most k (balance, custkey)
    * pairs per segment into the exchange and merges k-vs-k. The
    * row_number form sorts every segment's FULL extent per task —
    * fine at sf0.1, a multi-GB hot-group sort at 100 TB; the
    * aggregate form is O(k) state forever (the q41 reservoir
    * discipline applied to a value ranking). (c_acctbal DESC,
    * c_custkey ASC) is total — custkey is unique — so the heap result
    * equals the window oracle exactly.
    */
  def topCustomersAgg(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKByValue(k)
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_acctbal").cast("double"),
        col("c_custkey").cast("long"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .flatMap { case (seg, top) =>
        top.zipWithIndex.map { case ((bal, ck), i) =>
          (seg, ck, bal, (i + 1).toLong)
        }
      }
      .toDF("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
  }

  /** Poisson(1) inverse-CDF thresholds (CDF at k = 0..5) scaled to the
    * polyHash modulus: a hash value u ∈ [0, P) maps to bootstrap
    * weight k = #{thresholds ≤ u} — pure INTEGER comparisons, so both
    * engines derive the identical weight from the identical hash (the
    * double CDF constants enter only at threshold-construction time,
    * in one place, here). Shared with the Q173 oracle generator.
    */
  private[graft] val poissonThresholds: Seq[Long] = Seq(
    0.36787944117144233, // e^-1
    0.7357588823428847,  // + e^-1
    0.9196986029286058,  // + e^-1/2
    0.9810118431238462,  // + e^-1/6
    0.9963401531726563,  // + e^-1/24
    0.9994058151824183   // + e^-1/120
  ).map(p => math.floor(p * graft.functions.TextHash.P).toLong)

  /** Quadratic scramble mod P: polyHash is a FINGERPRINT, not a
    * uniform hash — on short digit strings ("4711:7") it is affine in
    * the last characters (consecutive replicate ids land 1 apart), so
    * thresholding it directly gives perfectly CORRELATED weights
    * across replicates. Two squaring rounds mod the prime break the
    * lattice (quadratic maps avalanche); every product stays under
    * (P−1)² < 2^63, so Spark Long and DuckDB BIGINT compute the
    * identical value with no overflow semantics in play.
    */
  /** Deterministic scramble membership over any id column — the ONE
    * Spark mirror of the oracle's memberFlagCtes arithmetic
    * (`scrambleMod(polyHash(prefix || id)) % modN = 0`), shared by the
    * doc_id splits (Dedup.memberDoc) and the vec_id splits
    * (Similarity.memberVec) so the two families cannot drift. */
  private[graft] def scrambleMember(id: Column, prefix: String,
                                    modN: Int): Column =
    scrambleMod(graft.functions.TextHash.polyHash(
      concat(lit(prefix), id.cast("string")))) % modN === 0L

  private[graft] def scrambleMod(u: Column): Column = {
    val p = lit(graft.functions.TextHash.P)
    val v1 = (u * u + lit(12345L)) % p
    val v2 = (v1 * lit(31L) + u) % p
    (v2 * v2 + lit(6789L)) % p
  }

  /** The q173 weight function: the row's base hash `u0` mixed with the
    * replicate id arithmetically, scrambled, thresholded to a
    * Poisson(1) draw. Taking `u0` (NOT the raw string) keeps the
    * expensive per-character polyHash OUT of the replicate fan-out —
    * hash once per row, then integer ops per (row, replicate). The
    * caller should materialize the scrambled hash into a real column
    * before thresholding when the fan-out is large (see
    * [[bootstrapRepMeans]]): the when-chain textually duplicates its
    * probe into every branch, which round 6 measured as a 31 s query
    * when the duplicated probe was the string hash itself.
    */
  private[graft] def bootstrapWeight(u0: Column, b: Column): Column =
    weightFromHash(scrambleMod(
      (u0 * lit(31L) + (b.cast("long") + lit(2L))) %
        lit(graft.functions.TextHash.P)))

  /** Poisson(1) threshold chain over an (ideally column-backed)
    * scrambled hash. */
  private[graft] def weightFromHash(h: Column): Column =
    poissonThresholds.zipWithIndex.reverse
      .foldLeft(lit(poissonThresholds.length.toLong): Column) {
        case (acc, (thr, k)) => when(h < lit(thr), k.toLong).otherwise(acc)
      }

  /** Q173 — deterministic Poisson-bootstrap confidence interval for
    * the per-type mean event value: every row gets a pseudo-Poisson(1)
    * resampling weight per replicate from its id hash mixed with the
    * replicate id — the standard Poisson approximation to multinomial
    * bootstrap resampling, and the ONLY bootstrap that runs as a
    * single distributed pass (true resampling draws n rows with
    * replacement, which requires global coordination; Poisson weights
    * are row-local, the classic trick for bootstrapping at scale).
    * The CI is the (2nd, B−1th) order statistics of the B replicate
    * means ≈ a 95% interval at B = 40.
    *
    * Determinism: the weight is derived from polyHash by integer
    * threshold comparisons ([[poissonThresholds]]), replicate means
    * are exact-decimal sums divided as the final operation, and the
    * order statistics are index picks from the sorted replicate-mean
    * array — every step bit-equal across engines. A zero-weight
    * replicate (probability e^{-n} per type — never at n ≥ 50 rows)
    * would yield a null mean via the nullif guard in both engines.
    *
    * Scale shape: the corpus is scanned ONCE — the unweighted base
    * mean rides the fan-out as replicate −1 with weight 1. The
    * replicate fan-out is a narrow in-task Generate (×(B+1) rows, no
    * shuffle); the only exchange carries the (type, replicate)
    * partial aggregates — (B+1)·|types| rows — and the
    * order-statistic pass sorts B-element arrays per type.
    */
  /** The single-pass (type, replicate) aggregate behind [[bootstrapCi]]
    * — exposed uncheckpointed so PlanQualitySpec can pin its shape
    * (one corpus relation, narrow Generate fan-out). */
  private[graft] def bootstrapRepMeans(s: SparkSession, dir: String,
                                       reps: Int): DataFrame = {
    val ev = t(s, dir, "events")
    // replicate -1 is the UNWEIGHTED base pass (w = 1): the corpus is
    // scanned once, and the base mean/count ride the same (type, b)
    // aggregate as the B bootstrap replicates. Staging discipline:
    // the per-character polyHash lands in `_u0` BELOW the explode
    // (once per row, Generate carries the value), and the scrambled
    // hash lands in `_h` as a real column so the threshold when-chain
    // duplicates only a column reference — inlined, the chain
    // re-evaluated the string hash ~30x per fan-out row (31 s at
    // sf0.1; 2 s staged).
    ev.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("_u0", graft.functions.TextHash.polyHash(
        col("event_id").cast("string")))
      .withColumn("b", explode(sequence(lit(-1), lit(reps - 1))))
      .withColumn("_h", scrambleMod(
        (col("_u0") * lit(31L) + (col("b").cast("long") + lit(2L))) %
          lit(graft.functions.TextHash.P)))
      .withColumn("w",
        when(col("b") === -1L, lit(1L)).otherwise(weightFromHash(col("_h"))))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w")).as("sw"),
        (sum(col("value").cast("decimal(20,6)") * col("w")).cast("double") /
          nullif(sum(col("w")), lit(0L))).as("mb"))
  }

  def bootstrapCi(s: SparkSession, dir: String, reps: Int = 40): DataFrame = {
    require(reps >= 4,
      s"bootstrap order statistics (2nd, B-1th) need B >= 4, got $reps")
    // materialize the (B+1)·|types| aggregate BEFORE the base/CI
    // branches consume it: without this Catalyst inlines the whole
    // fan-out subtree into BOTH join branches — two corpus scans and
    // two evaluations of the weight CASE (the plan pin caught exactly
    // that). The checkpoint is ~200 rows.
    val repMeans = bootstrapRepMeans(s, dir, reps).localCheckpoint()
    val base = repMeans.filter(col("b") === -1L)
      .select(col("event_type"), col("sw").as("n"), col("mb").as("mean_value"))
    val ci = repMeans.filter(col("b") =!= -1L)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("mb"))).as("ms"))
      .select(col("event_type"),
        element_at(col("ms"), 2).as("ci_lo"),
        element_at(col("ms"), reps - 1).as("ci_hi"))
    base.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n"), col("mean_value"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Q174 — Welch's t-test between deterministically hash-assigned
    * A/B variants, per event type: variant = scrambled hash of the
    * USER id mod 2 (unit of randomization is the user — all of a
    * user's events share a variant, the standard interference-safe
    * assignment), then the unequal-variance t statistic and
    * Welch–Satterthwaite degrees of freedom between the two arms'
    * value distributions. Because assignment is independent of
    * everything, this is an A/A test by construction — the pipeline
    * validation every experimentation system runs to certify its
    * assignment and its statistics before real treatments ship.
    *
    * Exactness: per-(type, variant) n/Σx/Σx² are EXACT decimal power
    * sums (the q68/q114 discipline); every double enters only in the
    * closed-form finish, with the association order mirrored
    * textually in the oracle (sqrt is correctly rounded IEEE — the
    * one libm-adjacent call that IS bit-portable). Degenerate arms
    * (n ≤ 1) yield null variance via the nullif guard in both
    * engines.
    *
    * Scale shape: one corpus scan into a partial+final hash aggregate
    * of 2·|types| rows, localCheckpoint-materialized (the q173
    * lesson: branching a lazy aggregate into a self-join inlines the
    * scan into both branches), then a tiny variant-0 ⋈ variant-1
    * join and a narrow projection of the test statistics.
    */
  def abWelch(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val h = scrambleMod(graft.functions.TextHash.polyHash(
      concat(lit("ab:"), col("user_id").cast("string"))))
    val vdec = col("value").cast("decimal(12,6)")
    val byVar = ev
      .withColumn("variant", (h % 2).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(col("value")).as("n"),
        sum(vdec).as("sx"),
        sum(vdec * vdec).as("sxx"))
      .localCheckpoint()
    def arm(v: Int, sfx: String): DataFrame =
      byVar.filter(col("variant") === v).select(col("event_type"),
        col("n").as(s"n_$sfx"), col("sx").as(s"sx_$sfx"),
        col("sxx").as(s"sxx_$sfx"))
    def meanOf(sfx: String): Column =
      col(s"sx_$sfx").cast("double") / col(s"n_$sfx")
    def varOf(sfx: String): Column =
      (col(s"sxx_$sfx").cast("double") -
        col(s"sx_$sfx").cast("double") * col(s"sx_$sfx").cast("double") /
          col(s"n_$sfx")) /
        nullif(col(s"n_$sfx") - 1L, lit(0L))
    val joined = arm(0, "a").join(arm(1, "b"), Seq("event_type"))
      .withColumn("mean_a", meanOf("a")).withColumn("mean_b", meanOf("b"))
      .withColumn("var_a", varOf("a")).withColumn("var_b", varOf("b"))
      .withColumn("se2",
        col("var_a") / col("n_a") + col("var_b") / col("n_b"))
    joined.select(col("event_type"), col("n_a"), col("n_b"),
      col("mean_a"), col("mean_b"),
      ((col("mean_a") - col("mean_b")) / sqrt(col("se2"))).as("t_stat"),
      ((col("se2") * col("se2")) /
        ((col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) /
          nullif(col("n_a") - 1L, lit(0L)) +
         (col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) /
          nullif(col("n_b") - 1L, lit(0L)))).as("dof"))
  }

  /** Q169 — recency-decayed per-user value: Σ value · 2^(−age_days),
    * the exponential recency weighting every feature store applies to
    * behavioral aggregates (half-life = 1 day here). Age anchors to
    * the corpus max timestamp (one broadcast row).
    *
    * Float discipline: 2^(−n) is EXACT in binary floating point for
    * any integer n (so `pow(2, -age)` is bit-identical across
    * engines), value·weight is ONE correctly-rounded multiply, and
    * the per-user Σ quantizes each product to DECIMAL(28,14) first
    * (the q79/q164 discipline) so partial aggregation can combine in
    * any order. Weights below the quantum round to zero identically
    * in both engines.
    *
    * Scale shape: narrow projection at the scan, one broadcast
    * scalar, one user-keyed partial+final aggregate — the whole query
    * is a single shuffle of pre-combined per-user rows.
    */
  def recencyValue(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select(col("user_id"), tsMicros(ev).as("tus"), col("value"))
    val mx = base.agg(max(col("tus")).as("max_tus"))
    base.crossJoin(broadcast(mx))
      .withColumn("age_d", expr("(max_tus - tus) div 86400000000"))
      .withColumn("c",
        (col("value") * pow(lit(2.0), -col("age_d").cast("double")))
          .cast("decimal(28,14)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("c")).cast("double").as("decayed_value"),
        max(col("tus")).as("last_tus"))
  }

  def spendQuartiles(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(20,4)")).as("spend"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("spend").desc, col("c_custkey"))
    spend.withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("segment_spend"))
  }

  /** Q203 — Hoeffding early-stopping audit on the Q174 A/B arms: per
    * event type, each arm's mean with its distribution-free Hoeffding
    * radius ε = R·√(ln(2/δ)/2n) (R = the arm's observed value range),
    * and the `separated` verdict |μ_a − μ_b| > ε_a + ε_b — the
    * anytime stopping rule racing/successive-halving systems use to
    * retire arms without parametric assumptions. A/A by construction
    * here, so `separated` should never fire (spec-pinned).
    *
    * Exactness: ln(2/δ) is ONE Scala-computed literal embedded
    * textually in both engines (no runtime libm divergence); n, Σx,
    * min, max are exact; means and radii are pinned
    * double expressions.
    *
    * Scale shape: one scan → 2·|types| aggregate rows →
    * |types|-row self-join; nothing else moves.
    */
  def hoeffdingAudit(s: SparkSession, dir: String,
                     delta: Double = 0.05): DataFrame = {
    val lTerm = math.log(2.0 / delta)
    val h = scrambleMod(graft.functions.TextHash.polyHash(
      concat(lit("ab:"), col("user_id").cast("string"))))
    val byVar = t(s, dir, "events")
      .withColumn("variant", (h % 2).cast("int"))
      .select(col("event_type"), col("variant"),
        col("value").cast("decimal(18,4)").as("v"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .localCheckpoint()
    def arm(v: Int, sfx: String): DataFrame =
      byVar.filter(col("variant") === v).select(col("event_type"),
        col("n").as(s"n_$sfx"), col("sx").as(s"sx_$sfx"),
        col("mn").as(s"mn_$sfx"), col("mx").as(s"mx_$sfx"))
    def meanOf(sfx: String): Column =
      col(s"sx_$sfx").cast("double") / col(s"n_$sfx")
    def epsOf(sfx: String): Column =
      (col(s"mx_$sfx") - col(s"mn_$sfx")).cast("double") *
        sqrt(lit(lTerm) / (lit(2.0) * col(s"n_$sfx")))
    arm(0, "a").join(arm(1, "b"), Seq("event_type"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        meanOf("a").as("mean_a"), meanOf("b").as("mean_b"),
        epsOf("a").as("eps_a"), epsOf("b").as("eps_b"),
        (abs(meanOf("a") - meanOf("b")) > epsOf("a") + epsOf("b"))
          .as("separated"))
  }

  /** Q202 — deletion-request purge audit (the right-to-be-forgotten
    * pass): a deterministic deletion list (scrambled id hash ≡ 0
    * mod `modN` — standing in for the uploaded request file) swept
    * across BOTH id spaces — event users and order customers — with
    * per-table purge/retain row counts and the value mass leaving
    * each table. Every privacy pipeline ships this audit with the
    * actual delete job; rows are counted, never silently dropped.
    *
    * Scale shape: the deletion predicate is a scan-local hash (no
    * join against a request table needed for the audit; a real list
    * would broadcast or bloom), so each table audit is one partial+
    * final aggregate over its scan. Decimal-exact value sums, one
    * closing double cast; 2-row output via narrow union.
    */
  def purgeAudit(s: SparkSession, dir: String, modN: Int = 20): DataFrame = {
    def del(idCol: Column): Column =
      scrambleMod(graft.functions.TextHash.polyHash(
        concat(lit("del:"), idCol.cast("string")))) % modN === 0L
    val ev = t(s, dir, "events")
      .select(del(col("user_id")).as("purge"),
        col("value").cast("decimal(18,4)").as("v"))
      .agg(sum(when(col("purge"), 1L).otherwise(0L)).as("n_purged"),
        sum(when(!col("purge"), 1L).otherwise(0L)).as("n_retained"),
        coalesce(sum(when(col("purge"), col("v"))), lit(0).cast("decimal(18,4)"))
          .cast("double").as("purged_value"))
      .select(lit("events").as("table_name"), col("n_purged"),
        col("n_retained"), col("purged_value"))
    val ord = t(s, dir, "orders")
      .select(del(col("o_custkey")).as("purge"),
        col("o_totalprice").cast("decimal(20,4)").as("v"))
      .agg(sum(when(col("purge"), 1L).otherwise(0L)).as("n_purged"),
        sum(when(!col("purge"), 1L).otherwise(0L)).as("n_retained"),
        coalesce(sum(when(col("purge"), col("v"))), lit(0).cast("decimal(20,4)"))
          .cast("double").as("purged_value"))
      .select(lit("orders").as("table_name"), col("n_purged"),
        col("n_retained"), col("purged_value"))
    ev.unionAll(ord)
  }

  /** Q201 — LTV cohort matrix: customers grouped by FIRST-ORDER month
    * (the acquisition cohort), revenue tracked by months-since-first
    * (cohort age) — the (cohort × age) lifetime-value triangle every
    * growth team reads. Month arithmetic is pure integers
    * (ym = year·12 + month), so cohorts and ages are exact; revenue
    * sums are decimal-exact with one closing double cast.
    *
    * Scale shape: one per-customer min aggregate (partial combine),
    * one customer-keyed equi-join back onto orders, and a
    * (cohorts × ages)-bounded final aggregate — the matrix size is
    * calendar-bounded, independent of order count.
    */
  def ltvCohorts(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
      col("o_totalprice").cast("decimal(20,4)").as("rev"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("c_ym"))
    o.join(first, "o_custkey")
      .groupBy(col("c_ym"),
        (col("ym") - col("c_ym")).cast("long").as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .select(
        format_string("%04d-%02d", expr("(c_ym - 1) div 12"),
          expr("(c_ym - 1) % 12 + 1")).as("cohort_month"),
        col("age_months"), col("n_customers"), col("n_orders"),
        col("revenue"))
  }

  /** Q194 — join-key skew advisor: per candidate join key of the
    * fact table, the key-cardinality profile that decides the join
    * strategy BEFORE the job runs — rows per key (max / mean), the
    * max key's share, and a suggested salt factor = ⌈max/mean⌉
    * (capped) — exactly the diagnostic that feeds
    * [[SkewJoin.saltedEquiJoin]] and AQE skew thresholds. Run per
    * ingest, it catches the one viral key that would stall a
    * 1000-executor join at 100 TB.
    *
    * Exactness: per-key counts, maxima, and the ceil-div salt are
    * exact longs (⌈a/b⌉ = (a+b−1) div b); mean and share are single
    * pinned divisions.
    *
    * Scale shape: per key column, ONE partial+final count aggregate
    * (the shuffle carries one row per distinct key) collapsing into a
    * one-row profile; the column fan-out is a 2-element union of
    * narrow projections.
    */
  def skewAdvisor(s: SparkSession, dir: String,
                  saltCap: Long = 32L): DataFrame = {
    val li = t(s, dir, "lineitem")
    def profile(c: String): DataFrame =
      li.select(col(c).as("k")).groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("total_rows"),
          max(col("n")).as("max_rows"))
        .select(lit(c).as("key_col"), col("n_keys"), col("total_rows"),
          col("max_rows"),
          (col("max_rows").cast("double") * col("n_keys") / col("total_rows"))
            .as("skew_ratio"),
          (col("max_rows").cast("double") / col("total_rows"))
            .as("max_share"),
          least(expr("(max_rows * n_keys + total_rows - 1) div total_rows"),
            lit(saltCap)).as("suggested_salt"))
    profile("l_partkey").unionAll(profile("l_suppkey"))
  }

  /** Q189 — temporal distribution-drift audit: per event type, the
    * value distribution of the corpus's FIRST time half vs its SECOND
    * half over a shared 10-bin equi-width grid — per-bin shares and
    * |Δshare| (the L1/PSI-style drift readout every training-data
    * refresh gates on: a type whose bins shift between halves needs
    * re-weighting or investigation before the next snapshot ships).
    *
    * Exactness: the time midpoint is an integer micros div; bin edges
    * come from per-type min/max broadcast rows, and the bin index is
    * ONE pinned double expression (floor((v−min)/(max−min)·10),
    * clamped) mirrored textually — identical IEEE doubles both
    * engines, so bin assignment cannot flip at edges. Counts are
    * longs; shares and |Δ| are single-division doubles.
    *
    * Scale shape: two tiny broadcast scalars (global time midpoint;
    * |types|-row min/max table), then ONE scan → (type, bin ≤ 10)
    * partial+final aggregate → share join against the |types|-row
    * totals. Nothing wide ever shuffles.
    */
  def driftAudit(s: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select(col("event_type"), col("value"),
      tsMicros(ev).as("tus"))
    val mid = base.agg(min(col("tus")).as("mn"), max(col("tus")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val rng = base.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = base.crossJoin(broadcast(mid))
      .join(broadcast(rng), "event_type")
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0L)).otherwise(
          least(floor((col("value") - col("vmin")) /
            (col("vmax") - col("vmin")) * lit(bins)), lit(bins - 1L))
            .cast("long")))
      .withColumn("h", when(col("tus") <= col("mid"), 1).otherwise(2))
    val counts = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("h") === 2, 1L).otherwise(0L)).as("n_second"))
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("n_first")).as("t1"), sum(col("n_second")).as("t2"))
    counts.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("bin"), col("n_first"), col("n_second"),
        (col("n_first").cast("double") / col("t1")).as("p_first"),
        (col("n_second").cast("double") / col("t2")).as("p_second"),
        abs(col("n_first").cast("double") / col("t1") -
          col("n_second").cast("double") / col("t2")).as("abs_diff"))
  }

  /** Q188 — per-source Gini concentration of document lengths: how
    * unevenly a source's token mass is spread across its documents
    * (G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending lengths) —
    * the skew audit run before per-source sampling budgets: a source
    * whose mass sits in a few giant documents needs chunking/caps,
    * one with G≈0 can be sampled uniformly.
    *
    * Exactness: ranks, rank-weighted sums, and totals are ALL exact
    * longs (ties ordered by doc_id — Σi over a tie block is
    * order-invariant, so G is tie-deterministic); the single closing
    * division is the only double.
    *
    * Scale shape: within-source ascending ranks come from ONE
    * range-partitioned two-level [[GlobalRank.globalRank]] on
    * (source, n_chars, doc_id) — never a single-partition sort, and
    * no per-source window that would serialize a giant source — with
    * per-source starts removed by a broadcast triangular join on the
    * |sources|-row count table (the q184 discipline); then one
    * per-source aggregate.
    */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      col("source"), col("n_chars"))
    val ranked = GlobalRank.globalRank(docs, "grank",
      col("source"), col("n_chars"), col("doc_id"))
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("sc"))
    val offs = srcTot.as("a")
      .join(srcTot.as("b"), col("b.source") < col("a.source"), "left")
      .groupBy(col("a.source").as("source"))
      .agg(coalesce(sum(col("b.sc")), lit(0L)).as("soff"))
    ranked.join(broadcast(offs), "source")
      .withColumn("i", col("grank") - col("soff"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("i") * col("n_chars")).as("s1"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        ((lit(2L) * col("s1") - (col("n_docs") + lit(1L)) * col("total_chars"))
          .cast("double") /
          (col("n_docs") * col("total_chars")).cast("double")).as("gini"))
  }

  /** Q187 — sequential transition mining: consecutive event-type
    * bigrams per user on the (time, event_id) total order — the
    * first-order Markov transition table behind session modeling and
    * next-action prediction, with per-transition user support (how
    * many distinct users exhibit it, the sequence-mining support
    * notion that one hyperactive user can't inflate) and the
    * conditional next-step probability per source type.
    *
    * Scale shape: ONE user-keyed window pass (lead over the total
    * order — the q99 session-path discipline) collapsing into a
    * |types|²-bounded aggregate; conditional shares come from a
    * broadcast join against the |types|-row per-source totals, and
    * the probability is a single pinned double division.
    */
  def transitionMining(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val pairs = ev.select(col("user_id"), col("event_id"),
        tsMicros(ev).as("tus"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = pairs.groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
    val fromTot = counts.groupBy(col("event_type"))
      .agg(sum(col("n_occurrences")).as("from_total"))
    counts.join(broadcast(fromTot), "event_type")
      .select(col("event_type").as("from_type"), col("next_type"),
        col("n_occurrences"), col("n_users"),
        (col("n_occurrences").cast("double") / col("from_total")).as("p_next"))
  }

  /** Q185 — Benford first-digit audit over order totals: the
    * forensic-accounting screen for fabricated/synthetic numeric
    * columns (a data-quality gate on ingested corpora — fabricated
    * money-like fields rarely follow Benford). Observed first-digit
    * counts vs the Benford expectation log10(1+1/d), with per-digit
    * χ² contributions.
    *
    * Exactness: the first digit comes from the DECIMAL STRING of the
    * exact integer cents (round(x·100) — no log10/pow on the value
    * path, so no boundary-ulp digit flips between engines); Benford
    * constants are Scala-computed double literals embedded TEXTUALLY
    * in both plans (`Double.toString` round-trips); observed shares
    * and χ² are pinned single-expression doubles against a one-row
    * broadcast total.
    *
    * Scale shape: one scan → 9-row partial+final hash aggregate; the
    * total is a broadcast scalar (Q165 discipline). Nothing else
    * moves.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val digits = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val byDigit = t(s, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val expected = digits.tail.foldLeft(
      when(col("digit") === 1, lit(digits.head._2))) {
      case (acc, (d, p)) => acc.when(col("digit") === d, lit(p))
    }
    byDigit
      .crossJoin(broadcast(byDigit.agg(sum(col("n")).as("total"))))
      .withColumn("expected_p", expected)
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total")).as("observed_p"),
        col("expected_p"),
        ((col("n").cast("double") - col("total") * col("expected_p")) *
          (col("n").cast("double") - col("total") * col("expected_p")) /
          (col("total") * col("expected_p"))).as("chi2"))
  }

  /** Q184 — Mann-Whitney U (Wilcoxon rank-sum) between the Q174 A/B
    * arms, per event type: the NONPARAMETRIC companion to Q174's
    * Welch t — the test an experimentation system reaches for when
    * value distributions are skewed (revenue-like) and means mislead.
    * Same deterministic user-hash arm assignment, so this too is an
    * A/A certification by construction. Midranks handle ties; the
    * normal approximation uses the standard tie-corrected variance.
    *
    * Exactness: everything until the closed-form finish is INTEGER —
    * per-(type, value) arm counts, prefix counts, the doubled rank
    * sum R2 = Σ ca·(2·less + cnt + 1) (doubling keeps .5 midranks in
    * longs), tie mass Σ(cnt³ − cnt). The finish is a pinned double
    * expression mirrored textually in the oracle.
    *
    * Scale shape: the corpus collapses to a distinct-(type, value)
    * histogram in one partial+final hash aggregate; prefix counts
    * come from [[GlobalRank.globalCumSum]] on (type, value) —
    * range-partitioned two-level prefix sum, NO single-partition
    * window, with per-type starts removed via a broadcast triangular
    * join on the tiny per-type totals table; then one final
    * per-type aggregate. Nothing sorts in one task at any corpus
    * size.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val h = scrambleMod(graft.functions.TextHash.polyHash(
      concat(lit("ab:"), col("user_id").cast("string"))))
    val hist = t(s, dir, "events")
      .withColumn("variant", (h % 2).cast("int"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
    val cum = GlobalRank.globalCumSum(hist, col("cnt"), "cum",
      col("event_type"), col("value"))
    val typeTot = hist.groupBy(col("event_type")).agg(sum(col("cnt")).as("tc"))
    val offs = typeTot.as("a")
      .join(typeTot.as("b"), col("b.event_type") < col("a.event_type"), "left")
      .groupBy(col("a.event_type").as("event_type"))
      .agg(coalesce(sum(col("b.tc")), lit(0L)).as("toff"))
    val stats = cum.join(broadcast(offs), "event_type")
      .withColumn("less", col("cum") - col("cnt") - col("toff"))
      .groupBy(col("event_type"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * (lit(2L) * col("less") + col("cnt") + lit(1L)))
          .as("r2a"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val nn = (col("n_a") + col("n_b")).cast("double")
    val uA = (col("r2a").cast("double") -
      col("n_a").cast("double") * (col("n_a") + lit(1L))) / lit(2.0)
    val sig2 = col("n_a").cast("double") * col("n_b") / lit(12.0) *
      ((nn + lit(1.0)) - col("ties").cast("double") / (nn * (nn - lit(1.0))))
    stats.select(col("event_type"), col("n_a"), col("n_b"),
      uA.as("u_a"),
      ((uA - col("n_a").cast("double") * col("n_b") / lit(2.0)) /
        sqrt(nullif(sig2, lit(0.0)))).as("z"))
  }

  /** Q207 — SCD Type-2 COMPACTION: collapse each user's event stream
    * into validity intervals of the tracked attribute (`event_type`),
    * merging consecutive no-op repeats into one run (gaps-and-islands
    * with a change-flag running sum). Complements Q66's per-event
    * history ([[scd2Intervals]]): Q66 keeps every changelog row as an
    * interval; this is the change-detection load that stores only
    * actual transitions, with per-run version numbers and row counts —
    * what a real dimension load writes when the upstream re-sends
    * unchanged state.
    *
    * Scale: every window partitions by `user_id` — per-user history
    * fits one task at any corpus size (a user's event count doesn't
    * grow with the fleet), and the run-collapse aggregate combines
    * partially map-side. No global sort, no self-join: one shuffle on
    * user_id serves the change flag, the version counter, AND the
    * valid_to lookahead (same partitioning reused across stages).
    */
  def scd2Dimension(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val e = ev.select(col("user_id"), col("event_id"),
      tsMicros(ev).as("tus"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    val flagged = e
      .withColumn("chg",
        when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("tus")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w2))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** Q209 — exact two-sample Kolmogorov-Smirnov D between the order
    * totals of high-priority ('1-URGENT'/'2-HIGH') and other orders.
    *
    * D = max_v |F_a(v) − F_b(v)| is computed EXACTLY as integers:
    * per-value counts, one two-level prefix sum ([[GlobalRank
    * .globalCumSums]] — both cumulatives share one range shuffle),
    * then max |ca·n_b − cb·n_a| with the single double division at
    * the very end. The max carries its arg (smallest value attaining
    * it) via a lexicographic struct-max, so the answer is
    * deterministic under ties.
    *
    * Scale: the per-value histogram is a partial-combining hash
    * aggregate; the cumulative never sorts in one partition; the
    * final max is a one-row global aggregate. Integer products stay
    * exact while n_a·n_b < 2^63 (~3·10^9 rows per side) — past that,
    * pre-aggregate into value buckets or sample; noted here rather
    * than silently widening, since DECIMAL(38) products would change
    * the oracle's type surface.
    */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val grouped = o.select(col("o_totalprice").as("v"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_a"))
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val cum = GlobalRank.globalCumSums(grouped,
      Seq(col("ca") -> "cum_a", col("cb") -> "cum_b"), col("v"))
    val tot = grouped.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val best = cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        struct(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
            .as("dnum"),
          (-col("v")).as("negv")).as("cand"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("cand")).as("best"))
    best.select(col("n_a"), col("n_b"),
      col("best.dnum").as("d_num"),
      (-col("best.negv")).as("at_value"),
      (col("best.dnum").cast("double") /
        (col("n_a") * col("n_b")).cast("double")).as("d"))
  }

  /** Q215 — discrete-time churn hazard (Nelson–Aalen): treat a user's
    * FIRST inter-event gap > `gapHours` as the churn event, at the
    * day offset (from the user's first event) of the last event
    * before the gap; users with no such gap are right-CENSORED at
    * their last observed day. Per lifetime-day: the at-risk count
    * (everyone whose observed lifetime ≥ t), churned/censored exits,
    * the discrete hazard d_t/n_t, and the cumulative hazard
    * Σ_{t'≤t} d/n — the survival-analysis readout (retention teams
    * read S(t) ≈ exp(−H(t))) that, unlike a Kaplan–Meier product,
    * needs NO cross-engine product aggregate: each hazard term
    * quantizes to DECIMAL(28,14), so the cumulative sum is exact and
    * order-independent.
    *
    * Scale: per-user windows (bounded history per task), one
    * partial-combining lifetime aggregate, then triangular joins on
    * the LIFETIME-DAY table — bounded by the observation span in
    * days, never by users — for both the at-risk suffix sum and the
    * cumulative hazard. No global sort, no partitionless window.
    */
  def churnHazard(s: SparkSession, dir: String, gapHours: Int = 48): DataFrame = {
    val gapUs = gapHours * 3600L * 1000000L
    val dayUs = 86400000000L
    val ev = t(s, dir, "events")
    val wu = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val g = ev.select(col("user_id"), col("event_id"), tsMicros(ev).as("tus"))
      .withColumn("gap", lead(col("tus"), 1).over(wu) - col("tus"))
      .withColumn("t0", min(col("tus")).over(Window.partitionBy(col("user_id"))))
    val lives = g.groupBy(col("user_id"))
      .agg(min(when(col("gap") > gapUs,
          expr(s"(tus - t0) div $dayUs"))).as("churn_day"),
        max(expr(s"(tus - t0) div $dayUs")).as("last_day"))
      .select(coalesce(col("churn_day"), col("last_day")).as("lifetime_days"),
        col("churn_day").isNull.as("censored"))
    val per = lives.groupBy(col("lifetime_days"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("n_churned"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val risk = per.as("a").join(per.as("b"),
        col("b.lifetime_days") >= col("a.lifetime_days"))
      .groupBy(col("a.lifetime_days").as("lifetime_days"))
      .agg(sum(col("b.n_churned") + col("b.n_censored")).as("n_at_risk"))
    val haz = per.join(risk, Seq("lifetime_days"))
      .withColumn("hazard",
        col("n_churned").cast("double") / col("n_at_risk").cast("double"))
    val cum = haz.as("a").join(haz.as("b"),
        col("b.lifetime_days") <= col("a.lifetime_days"))
      .groupBy(col("a.lifetime_days").as("lifetime_days"))
      .agg(sum(col("b.hazard").cast("decimal(28,14)")).cast("double")
        .as("cum_hazard"))
    haz.join(cum, Seq("lifetime_days"))
      .select(col("lifetime_days"), col("n_at_risk"), col("n_churned"),
        col("n_censored"), col("hazard"), col("cum_hazard"))
  }

  /** Q227 — stream-freshness SLO panel per event type: staleness
    * (lag of the type's newest event behind the globally newest),
    * observed span, worst and p95 inter-event gap, and the mean
    * arrival rate — the observability row a pipeline on-call reads
    * before trusting any downstream aggregate of that type.
    *
    * Exactness: all times are integer µs; gaps quantize to seconds
    * (the Q220 overflow discipline); the p95 gap is an exact order
    * statistic (value-deterministic under ties because the rank sort
    * IS the value sort); the rate is one pinned double expression.
    * Scale: one per-type lag window, per-type aggregates, a one-row
    * global-max broadcast, and a bounds-row broadcast for the rank
    * select — nothing global.
    */
  def freshnessSlo(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    val gaps = ev.select(col("event_type"), tsMicros(ev).as("tus"),
        col("event_id"))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
      .withColumn("gap", expr("gap_us div 1000000"))
    val per = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("t_min"), max(col("tus")).as("t_max"),
        max(col("gap")).as("max_gap_s"),
        sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_gaps"))
    val gmax = per.agg(max(col("t_max")).as("g_max"))
    val wg = Window.partitionBy(col("event_type")).orderBy(col("gap"))
    val ranked = gaps.filter(col("gap").isNotNull)
      .withColumn("rnk", row_number().over(wg).cast("long"))
    val k95 = per.select(col("event_type"),
      greatest(lit(1L),
        ceil(lit(0.95) * col("n_gaps").cast("double"))).as("k"))
    val p95 = ranked.join(broadcast(k95), Seq("event_type"))
      .filter(col("rnk") === col("k"))
      .select(col("event_type"), col("gap").as("p95_gap_s"))
    per.crossJoin(broadcast(gmax))
      .join(broadcast(p95), Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"),
        (col("g_max") - col("t_max")).as("staleness_us"),
        (col("t_max") - col("t_min")).as("span_us"),
        col("max_gap_s"), col("p95_gap_s"),
        (col("n_events").cast("double") /
          (nullif(col("t_max") - col("t_min"), lit(0L)).cast("double") /
            lit(3600000000.0))).as("rate_per_hour"))
  }

  /** Q225 — absorbing-chain conversion probability: from the Q187
    * first-order transition matrix, the probability of reaching the
    * `target` event type within 1..`steps` steps from each starting
    * type — a_k(s) = p(s,target) + Σ_{t≠target} p(s,t)·a_{k−1}(t),
    * the truncated absorbing-Markov readout ("how close is each
    * behavior to a purchase") that funnel counts (Q74) can't express
    * because paths may wander before converting.
    *
    * Scale/exactness: the transition matrix is |types|² ≤ tiny, so
    * every recurrence round is a broadcast-sized join; the one
    * corpus-sized cost is the per-user lead() pass. p values are the
    * same n/total doubles both engines compute; each p·a product
    * quantizes to DECIMAL(28,14) before its ≤|types|-term sum, and
    * every a_k is built over the FULL from-type domain with
    * coalesce(0) so the recurrence never drops zero terms.
    */
  def absorptionProb(s: SparkSession, dir: String,
                     target: String = "purchase", steps: Int = 4): DataFrame = {
    val ev = t(s, dir, "events")
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val pairs = ev.select(col("user_id"), col("event_type"),
        tsMicros(ev).as("tus"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(wu))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    val p = pairs.join(tot, Seq("from_type"))
      .select(col("from_type"), col("next_type"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
      .localCheckpoint()
    val dom = p.select(col("from_type")).distinct()
    val base = p.filter(col("next_type") === target)
      .select(col("from_type"), col("p").as("base"))
    def full(cont: Option[DataFrame]): DataFrame = {
      val withBase = dom.join(broadcast(base), Seq("from_type"), "left")
      val joined = cont match {
        case Some(c) => withBase.join(broadcast(c), Seq("from_type"), "left")
        case None => withBase.withColumn("cont", lit(null).cast("double"))
      }
      joined.select(col("from_type").as("stype"),
        (coalesce(col("base"), lit(0.0)) +
          coalesce(col("cont"), lit(0.0))).as("a"))
        .localCheckpoint()
    }
    var a = full(None)
    val byStep = scala.collection.mutable.ArrayBuffer[(Int, DataFrame)]((1, a))
    for (k <- 2 to steps) {
      val cont = p.filter(col("next_type") =!= target)
        .join(broadcast(a.withColumnRenamed("stype", "next_type")),
          Seq("next_type"))
        .select(col("from_type"),
          (col("p") * col("a")).cast("decimal(28,14)").as("c"))
        .groupBy(col("from_type"))
        .agg(sum(col("c")).cast("double").as("cont"))
      a = full(Some(cont))
      byStep += ((k, a))
    }
    byStep.foldLeft(dom.select(col("from_type").as("start_type"))) {
      case (acc, (k, ak)) =>
        acc.join(broadcast(ak.select(col("stype").as("start_type"),
          col("a").as(s"p_step$k"))), Seq("start_type"))
    }
  }

  /** Q222 — CDC snapshot diff: the Q55 latest-state compaction taken
    * at TWO logical times — the integer midpoint of the observed time
    * range (Q189's split rule) and stream end — diffed per event
    * type: keys added after the midpoint, keys whose latest value
    * changed, keys untouched. The reconciliation readout a
    * warehouse's incremental-load monitor publishes ("how much state
    * churned since the last snapshot"); append-only input ⇒ no
    * removed class.
    *
    * Single-pass shape: BOTH snapshots come from one scan and ONE
    * (user, type)-keyed aggregate — the mid snapshot is the same
    * struct-max with a `when(tus ≤ mid)` guard riding the same
    * shuffle — then a per-type count aggregate. Exact integers
    * throughout; the midpoint is integer-exact.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.select(col("user_id"), col("event_type"),
      tsMicros(ev).as("tus"), col("event_id"), col("value"))
    val mid = base.agg(min(col("tus")).as("mn"), max(col("tus")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val st = base.crossJoin(broadcast(mid))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max(struct(col("tus"), col("event_id"), col("value"))).as("b"),
        max(when(col("tus") <= col("mid"),
          struct(col("tus"), col("event_id"), col("value")))).as("a"))
    st.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys_final"),
        sum(when(col("a").isNotNull, 1L).otherwise(0L)).as("n_keys_mid"),
        sum(when(col("a").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("a").isNotNull &&
          col("a.event_id") =!= col("b.event_id") &&
          col("a.value") =!= col("b.value"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("a").isNotNull &&
          col("a.event_id") =!= col("b.event_id") &&
          col("a.value") === col("b.value"), 1L).otherwise(0L))
          .as("n_rewritten"),
        sum(when(col("a").isNotNull &&
          col("a.event_id") === col("b.event_id"), 1L).otherwise(0L))
          .as("n_untouched"))
  }

  /** Q218 — distribution-free median confidence interval per event
    * type: the order-statistic CI (normal approximation to the
    * binomial rank bounds — k_lo = ⌊(n − z√n)/2⌋+1, k_hi =
    * ⌈(n + z√n)/2⌉, lower median at (n+1) div 2), read directly off
    * exact order statistics. No distributional assumption on values,
    * no bootstrap replicates — the robust companion to Q173.
    *
    * Exactness: ranks come from a per-type (value, event_id) total
    * order; √/⌊⌋/⌈⌉ are IEEE-exact primitives pinned identically in
    * the oracle; the three order statistics are exact row values.
    * Contract: `events.value` is NOT NULL (fixture-guaranteed; a
    * measurement row without a value is dropped upstream). Order
    * statistics over nulls are meaningless, and the engines disagree
    * on default null placement (Spark sorts NULLS FIRST ascending,
    * DuckDB NULLS LAST) — the non-null contract is what keeps the
    * rank windows bitwise-aligned, not a shared null convention.
    * Scale: one per-type partitioned rank window, a broadcast
    * |types|-row bound table, and one conditional-max aggregate.
    */
  def medianCi(s: SparkSession, dir: String, z: Double = 1.96): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = ev.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
    val nd = col("n").cast("double")
    val ks = ranked.groupBy(col("event_type")).agg(max(col("rnk")).as("n"))
      .select(col("event_type"), col("n"),
        greatest(lit(1L),
          floor((nd - lit(z) * sqrt(nd)) / lit(2.0)) + lit(1L)).as("k_lo"),
        expr("(n + 1) div 2").as("k_med"),
        least(col("n"), ceil((nd + lit(z) * sqrt(nd)) / lit(2.0))).as("k_hi"))
    ranked.join(broadcast(ks), Seq("event_type"))
      .filter(col("rnk") === col("k_lo") || col("rnk") === col("k_med") ||
        col("rnk") === col("k_hi"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rnk") === col("k_med"), col("value"))).as("median"),
        max(when(col("rnk") === col("k_lo"), col("value"))).as("ci_lo"),
        max(when(col("rnk") === col("k_hi"), col("value"))).as("ci_hi"))
  }

  /** Q219 — RFM customer segmentation: recency (days since last
    * order), frequency (order count), monetary (exact decimal spend),
    * each scored 1–4 by GLOBAL rank quartile with best = 4. The
    * quartile is the deterministic rank formula
    * `5 − ((rank−1)·4 div n + 1)` over a best-first (metric, custkey)
    * total order — equal-width RANK quartiles, documented as such
    * (NOT SQL ntile's remainder-to-early-buckets split), so both
    * engines compute it from row_number with integer arithmetic.
    *
    * Scale: per-customer aggregate, then three [[GlobalRank
    * .globalRank]] passes (range partition + broadcast offsets — no
    * single-partition sort) on the customer-count table.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val mx = o.agg(max(col("o_orderdate")).as("dmax"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(20,4)")).as("mon"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey").as("custkey"),
        datediff(col("dmax"), col("last_order")).cast("long")
          .as("recency_days"),
        col("frequency"), col("mon"))
      // referenced by three rank passes plus the count — one scan
      .localCheckpoint()
    val total = cust.agg(count(lit(1)).as("n_cust"))
    def score(df: DataFrame, rankCol: String, outCol: String,
              order: Column*): DataFrame =
      GlobalRank.globalRank(df, rankCol, order: _*)
        .crossJoin(broadcast(total))
        .withColumn(outCol,
          lit(5L) - (expr(s"($rankCol - 1) * 4 div n_cust") + lit(1L)))
        .drop(rankCol, "n_cust")
    val scored = Seq(
      (Seq(col("recency_days").asc, col("custkey").asc), "r_score"),
      (Seq(col("frequency").desc, col("custkey").asc), "f_score"),
      (Seq(col("mon").desc, col("custkey").asc), "m_score"))
      .foldLeft(cust) { case (df, (ord, out)) =>
        score(df, s"__rk_$out", out, ord: _*)
      }
    scored.select(col("custkey"), col("recency_days"), col("frequency"),
      col("mon").cast("double").as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      (col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
        .as("segment"))
  }

  /** Q220 — Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of inter-event
    * gaps per event type: −1 ⇔ metronome, 0 ⇔ Poisson, →1 ⇔ heavy
    * bursts. The one-number answer to "can I provision this stream
    * for its mean rate?" — computed from exact integer power sums of
    * SECOND-quantized gaps (µs² sums would overflow BIGINT on
    * month-long gaps; seconds keep every square exact at any scale).
    *
    * Scale: one per-type lag window, one partial-combining aggregate;
    * σ is the population form from power sums, clamped at 0 before
    * the IEEE sqrt, with a nullif-guarded final ratio.
    */
  def burstiness(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    val gaps = ev.select(col("event_type"), tsMicros(ev).as("tus"),
        col("event_id"))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
      .withColumn("gap", expr("gap_us div 1000000"))
      .filter(col("gap").isNotNull)
    val agg = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
    val mu = col("sg").cast("double") / col("n_gaps").cast("double")
    val sigma = sqrt(greatest(
      col("sgg").cast("double") / col("n_gaps").cast("double") - mu * mu,
      lit(0.0)))
    agg.select(col("event_type"), col("n_gaps"),
      mu.as("mean_gap_s"), sigma.as("std_gap_s"),
      ((sigma - mu) / nullif(sigma + mu, lit(0.0))).as("burstiness"))
  }

  /** Q216 — day-of-week seasonality STRENGTH (η², the one-way ANOVA
    * R²): how much of the daily-count variance does the weekday
    * explain, per event type? Complements Q210's forecast gate with
    * the effect-size number (Q210 says "does lag-7 beat lag-1", this
    * says "how much of the signal IS weekly"). Peak weekday rides
    * along via a deterministic struct-argmax on the per-dow mean.
    *
    * Exactness: all sums (counts, squares) are integers; each
    * per-dow within-group term quantizes to DECIMAL(28,10) before
    * the ≤7-term sum (order-independent), and η² is one final pinned
    * double expression. Scale: everything after the Q210 calendar
    * fill is a two-level aggregate over O(types × 7) rows.
    */
  def seasonalityStrength(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev.select(col("event_type"),
        to_date(timestamp_micros(tsMicros(ev))).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val cal = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val filled = cal.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        (weekday(col("day")) + 1).cast("long").as("dow"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val perDow = filled.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("nj"), sum(col("cnt")).as("sj"),
        sum(col("cnt") * col("cnt")).as("qj"))
    val sswj = (col("qj").cast("double") -
      col("sj").cast("double") * col("sj").cast("double") /
        col("nj").cast("double")).cast("decimal(28,10)")
    val per = perDow.groupBy(col("event_type"))
      .agg(sum(col("nj")).as("n_days"), sum(col("sj")).as("s"),
        sum(col("qj")).as("q"),
        sum(sswj).cast("double").as("ss_within"),
        max(struct((col("sj").cast("double") / col("nj").cast("double"))
          .as("m"), (-col("dow")).as("nd"))).as("peak"))
    val sst = col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") /
        col("n_days").cast("double")
    per.select(col("event_type"), col("n_days"),
      sst.as("ss_total"), col("ss_within"),
      ((sst - col("ss_within")) / nullif(sst, lit(0.0))).as("eta2"),
      (-col("peak.nd")).as("peak_dow"),
      col("peak.m").as("peak_mean"))
  }

  /** Q210 — forecast-skill audit: does weekly seasonality beat
    * yesterday's value for per-type daily event volume? Per
    * event_type: MAE of the seasonal-naive forecast (count 7 days
    * back) vs the lag-1 naive, over a zero-filled full calendar
    * (missing days ARE observations of 0 — skipping them would shift
    * every lag across the gap). The ratio < 1 ⇔ the series rewards a
    * seasonal model — the go/no-go gate before fitting anything.
    *
    * Scale: daily counts are a partial-combining aggregate; the
    * calendar explode is bounded by the date span (not the row
    * count); lags partition by event_type over day-grain rows — the
    * windowed input is O(types × days), tiny at any fleet size. All
    * error sums are exact integers; one double division per type.
    */
  def forecastSkill(s: SparkSession, dir: String, season: Int = 7): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev.select(col("event_type"),
        to_date(timestamp_micros(tsMicros(ev))).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val cal = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val filled = cal.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = filled
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("ls", lag(col("cnt"), season).over(w))
      .filter(col("ls").isNotNull)
    lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_eval"),
        sum(abs(col("cnt") - col("l1"))).as("naive_err"),
        sum(abs(col("cnt") - col("ls"))).as("seasonal_err"))
      .select(col("event_type"), col("n_days_eval"),
        col("naive_err"), col("seasonal_err"),
        (col("seasonal_err").cast("double") /
          nullif(col("naive_err"), lit(0L)).cast("double")).as("mase"))
  }
}
