package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics on relational edges (see also
  * [[Dedup.connectedComponents]] for min-label propagation).
  */
object Graph {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** On-disk size of a parquet table in bytes, from filesystem
    * metadata only (no Spark job, no scan) — the signal the iterative
    * graph operators use to pick their scale regime, the same way
    * broadcast-join planning keys off byte sizes rather than row
    * counts. Returns 0 (→ small-scale regime) ONLY when the path is
    * genuinely absent, so fixture-backed specs that write only the
    * tables they need keep working. Any other failure (a transient
    * filesystem error at charter scale) fails SAFE to Long.MaxValue —
    * selecting the sort-merge / pre-partition regime — rather than
    * silently re-enabling an unbounded broadcast (round-8 ADVICE:
    * fail-open in the unsafe direction).
    */
  private def tableBytes(s: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    } catch {
      case _: java.io.FileNotFoundException => 0L
      case _: Throwable => Long.MaxValue
    }
  }

  /** Regime thresholds (bytes, conservative — parquet table size is
    * an overestimate of the derived score/edge working set):
    *  - BroadcastScoreBytes: while the vertex-dimension tables sum
    *    under this, a per-iteration score broadcast fits comfortably
    *    in executor memory and buys exchange-free iterations
    *    (PageRank ranks, HITS hub/auth). Past it, the co-partitioned
    *    sort-merge regime takes over — never an unbounded broadcast.
    *  - PrePartitionEdgeBytes: below this, the one-time
    *    repartition+cache of an iterative loop's edge list costs more
    *    (exchange + storage memory under bench pressure) than the 2–4
    *    per-round exchanges it saves — round-7 full-bench measured the
    *    trade NEGATIVE at sf0.1 (q143 3.1→4.7 s, q223 4.7→5.9 s).
    *    Past it, the saving is per-iteration × |E| and co-partitioning
    *    is the 100 TB plan (Pregel's adjacency-with-state layout).
    */
  private val BroadcastScoreBytes = 256L << 20
  private val PrePartitionEdgeBytes = 1L << 30

  /** Degree-ordered orientation of an undirected edge set: every edge
    * points from the endpoint with the smaller (degree, id) key, so
    * wedges form only at LOW-order endpoints (Σ outdeg² volume,
    * outdeg ≤ O(√|E|)). The orientation key is a STRUCT compared
    * field-wise — a struct(deg, id) is a strict total order for any
    * long degree and any long id, where the earlier packed-long form
    * (deg·2³¹ + id) silently broke ordering once ids reached 2³¹ or
    * degrees 2³². Emits (src, dst, kdst) with kdst the struct key of
    * the HIGH endpoint, used both to order wedge legs (kdst < kdst)
    * and to keep the closing (v, w) equi-join one-directional.
    */
  private def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    val ok = e
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("n")).as("ka"),
        struct(col("db").as("d"), col("b").as("n")).as("kb"))
    ok.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kdst"))
  }

  /** Q79 — PageRank over the customer↔supplier purchase graph
    * (bipartite, made undirected so every node has out-degree ≥ 1 and
    * no rank mass dangles). Fixed `iters` power iterations of
    * r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg(u).
    *
    * Float discipline: the per-target Σ of contributions is a
    * shuffle-order-dependent double sum in the naive form, so each
    * contribution r(u)/deg(u) is quantized to DECIMAL(28,14) and
    * summed exactly (any combine order), then finished in one pinned
    * double expression per iteration — the oracle unrolls the same
    * iterations with the same arithmetic, so ranks are bitwise-stable
    * across engines and runs.
    *
    * Scale shape (round 8): dual-regime like Q183 — while the vertex
    * dimension is small the rank table broadcasts and the dst-
    * partitioned edge cache makes every iteration exchange-free;
    * past the byte gate the src-partitioned cache sort-merges the
    * node-partitioned rank table and pays one edge-keyed shuffle per
    * iteration (the canonical Pregel-on-relational plan). N and the
    * teleport term are scalars. node = 2·custkey / 2·suppkey+1 keeps
    * the two key spaces disjoint.
    */
  /** Q113 — per-part triangle counts on the co-purchase graph: parts
    * are adjacent when they appear in the same order; a triangle is
    * three pairwise co-purchased parts. Top-k parts by the number of
    * triangles they sit in (the local clustering numerator — the
    * standard "tightly bundled products" signal).
    *
    * Scale shape: edge generation is a per-order self-join, quadratic
    * only in ORDER WIDTH (bounded ~7 lines in TPC-H-shaped data), so
    * it scales linearly with orders. Triangle enumeration uses the
    * degree-ordered orientation (Chiba–Nishizeki / Suri–Vassilvitskii
    * MapReduce form): every edge points from the endpoint with the
    * smaller (degree, id) key, wedges form only at each edge's
    * LOW-order endpoint, and a wedge closes iff its (v, w) pair —
    * already in orientation order — exists as an oriented edge. Wedge
    * volume is Σ outdeg(u)² with outdeg ≤ O(√|E|) on any graph, the
    * bound that keeps hub nodes from exploding the shuffle: a
    * 10⁶-degree hub contributes its edges as wedge LEGS spread over
    * higher-order endpoints instead of 10¹² wedges at itself. All
    * three joins are equi-keyed shuffles; no driver participation.
    * The oracle states the declarative a<b<c three-way join — same
    * triangles, closed form.
    */
  def triangleCounts(s: SparkSession, dir: String, k: Int = 20,
                     minSupport: Int = 2): DataFrame = {
    // undirected edge set, canonical a < b, with the standard
    // market-basket SUPPORT floor: a pair is an edge only if it
    // co-occurs in ≥ minSupport orders. One-off co-occurrences are
    // combinatorial noise (any two popular parts eventually share a
    // basket); on this data support ≥ 2 keeps 3.6k signal edges of
    // 1.2M raw pairs — the filter that makes triangle enumeration
    // scale-feasible AND statistically meaningful.
    // e rides the edgeMemo's eager checkpoint — already materialized
    // blocks, so a consumer-side .cache() would only add a redundant
    // columnar copy (and, lazily populated, the round-17 measured
    // cache-race duplication across this plan's concurrent branches)
    val e = copurchaseEdges(s, dir, minSupport)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val eo = orientByDegree(e, deg).cache()
    val wedges = eo.as("x").join(eo.as("y"),
        col("x.src") === col("y.src") && col("x.kdst") < col("y.kdst"))
      .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
    // the closing pair (v, w) is already in orientation order, so it
    // matches at most one oriented edge — a plain equi-join
    val tri = wedges.join(eo,
      wedges("v") === eo("src") && wedges("w") === eo("dst"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    // top-k via TakeOrderedAndProject (per-partition heap, k-row
    // merge) — never a global sort of the per-node count table
    GlobalRank.topKRanked(perNode, k, "rnk",
        col("n_tri").desc, col("node"))
      .select(col("node"), col("n_tri"), col("rnk"))
  }

  /** The q113 co-purchase edge set (support-floored, canonical a<b)
    * shared by the triangle and community queries.
    */
  /** Q226 — global transitivity (clustering coefficient) of the
    * co-purchase graph: 3·|triangles| / |wedges|, the probability
    * that an open two-path closes. With Q217's assortativity and
    * Q223's modularity this completes the one-number topology panel
    * (clustering ⟂ degree mixing ⟂ community strength).
    *
    * Scale: triangles reuse Q113's degree-ordered orientation (wedge
    * volume Σ outdeg², hub-safe); the wedge DENOMINATOR needs no
    * enumeration at all — Σ deg(deg−1)/2 off the degree table. One
    * global aggregate each; exact integers, one pinned division.
    */
  def transitivity(s: SparkSession, dir: String,
                   minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .cache()
    val eo = orientByDegree(e, deg).cache()
    val wedgesOriented = eo.as("x").join(eo.as("y"),
        col("x.src") === col("y.src") && col("x.kdst") < col("y.kdst"))
      .select(col("x.dst").as("v"), col("y.dst").as("w"))
    val tri = wedgesOriented.join(eo,
        wedgesOriented("v") === eo("src") && wedgesOriented("w") === eo("dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val sums = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
    sums.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((lit(3L) * col("n_triangles")).cast("double") /
          nullif(col("n_wedges"), lit(0L)).cast("double")).as("transitivity"))
  }

  /** Q217 — degree assortativity of the co-purchase graph (Newman's
    * r): the Pearson correlation of endpoint degrees over ordered
    * edge incidences — do hub products bundle with other hubs
    * (r > 0) or with the long tail (r < 0)? The one-number topology
    * summary that predicts how the graph responds to hub removal and
    * whether degree-based sampling is biased; a star is exactly −1.
    *
    * Exactness/scale: both edge orientations are materialized (the
    * symmetric marginals make Σx = Σy, Σx² = Σy², so ONE set of
    * integer power sums suffices), degrees join back on the edge
    * list, and everything reduces in one partial-combining global
    * aggregate; r is finished in a single pinned double expression.
    * The only corpus-sized costs are the Q113 edge derivation and a
    * degree join.
    */
  def assortativity(s: SparkSession, dir: String,
                    minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ordered = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val joined = ordered
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val sums = joined.agg(count(lit(1)).as("m2"),
      sum(col("du") * col("dv")).as("sxy"),
      sum(col("du")).as("sx"),
      sum(col("du") * col("du")).as("sxx"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"), sum(col("deg")).as("sum_deg"))
    val mx = col("sx").cast("double") / col("m2").cast("double")
    sums.crossJoin(nodes).select(col("n_nodes"),
      expr("m2 div 2").as("n_edges"),
      (col("sum_deg").cast("double") / col("n_nodes").cast("double"))
        .as("mean_degree"),
      col("max_degree"),
      ((col("sxy").cast("double") / col("m2").cast("double") - mx * mx) /
        nullif(col("sxx").cast("double") / col("m2").cast("double") -
          mx * mx, lit(0.0))).as("assortativity"))
  }

  /** Support-floored co-purchase edge derivation (canonical a < b),
    * the shared prefix of every graph query. Round-17 optimization
    * (guide §2.3 "aggregate before you shuffle" / §2.4 "remove
    * shuffles outright"): ONE order-keyed aggregate collects each
    * order's distinct sorted part set (collect_set dedupes in the
    * aggregation buffer — order width is bounded, ~7 parts in
    * TPC-H-shaped data, so the per-group state is O(order width))
    * and the a<b pairs explode in place — exactly the q121/q15e pair
    * discipline. The old form paid a (o,p)-keyed distinct exchange
    * PLUS a per-order self-join before the support aggregate; this
    * form reaches the same (a,b) support counts with two exchanges
    * total (o, then (a,b)) and no join. Pair multiset is identical:
    * per order, the sorted distinct part list's a<b pairs are the
    * self-join's (x.p < y.p) matches over distinct (o,p).
    * Recorded at sf0.1 (OPTIMIZATION_r17.md C3): join form 3.6 s task
    * CPU steady / 6.2 cold, this form 2.9 / 3.0.
    */
  private def copurchaseEdgesRaw(s: SparkSession, dir: String,
                                 minSupport: Int): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          b => struct(a.as("a"), b.as("b")))))).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
      .select(col("a"), col("b"))

  /** The edge memo (the lpMemo discipline, extended round 17): every
    * graph query over this graph — q113/q126/q130/q143/q159/q163/
    * q179/q217/q223/q226 — derives the identical (a, b) edge set, and
    * before this round each re-derived it independently; worse, a
    * consumer fanning the derivation into several concurrent branches
    * of ONE plan (q217's degree + orientation + marginals) raced the
    * lazy `.cache()` materialization and paid the derivation up to 4×
    * in one query (measured: q217 16–24 s task CPU for ~3 s of actual
    * work). The memoized value is an EAGER localCheckpoint of the
    * ~|E|-row support-floored table: materialized exactly once,
    * lineage-truncated, block-manager-resident, and a pure function of
    * its (session, dir, minSupport, fingerprint) key.
    */
  private[graft] val edgeMemo =
    new Memo[DataFrame]("graph_edges", cap = 8, Some(_))

  private def copurchaseEdges(s: SparkSession, dir: String,
                              minSupport: Int): DataFrame =
    edgeMemo.get(s, Memo.table(s, s"$dir/lineitem.parquet"), dir, minSupport)(
      copurchaseEdgesRaw(s, dir, minSupport).localCheckpoint())

  /** Q126 — label-propagation communities (Raghavan et al., 2007) on
    * the support-floored co-purchase graph, made DETERMINISTIC: fully
    * synchronous updates, each node adopting its neighbors' MODE
    * label with ties broken by smallest label — so the result is a
    * pure function of the graph, replayable by the oracle's unrolled
    * CTEs (the classic async-LP "label tennis" nondeterminism is
    * exactly what the sync+tie-break variant removes).
    *
    * Scale shape: one edge-keyed shuffle per iteration (join labels
    * onto edge endpoints, count votes per (node, label), argmax via a
    * node-partitioned window over the VOTE aggregate — vote rows ≤
    * edge rows, and the window partitions by node, never globally).
    * Fixed `iters` = bounded cost, the q79 unrolled-iteration
    * discipline; isolated nodes keep their own label via the left
    * join coalesce.
    */
  def lpCommunities(s: SparkSession, dir: String, iters: Int = 2,
                    minSupport: Int = 2): DataFrame =
    lpLabels(s, dir, iters, minSupport)

  /** The LP memo, keyed on (session, dir, iters, minSupport,
    * fingerprint): Q126 and Q223 both need the identical label table,
    * and before round 9 each derived it independently — the bench paid
    * the 2-iteration fixpoint twice per run (round-8 verdict,
    * next-round #3). The memoized value is a localCheckpoint'd
    * ~|V|-row table: lineage-truncated (so reuse carries no
    * re-optimization cost), block-manager-resident (so `clearCache()`
    * between bench queries doesn't evict it), and a pure function of
    * its key (sync LP with mode/min-label tie-breaks is deterministic),
    * so a memo hit is bitwise the same table a recompute would build.
    */
  private[graft] val lpMemo =
    new Memo[DataFrame]("graph_lp", cap = 8, Some(_))

  private def lpLabels(s: SparkSession, dir: String, iters: Int,
                       minSupport: Int): DataFrame =
    lpMemo.get(s, Memo.table(s, s"$dir/lineitem.parquet"), dir, iters,
        minSupport) {
      // edges ride the edge memo's checkpoint — no consumer-side cache
      lpFrom(copurchaseEdges(s, dir, minSupport), iters,
        tableBytes(s, dir, "lineitem") > PrePartitionEdgeBytes)
    }

  /** The synchronous LP loop over a canonical (a < b) edge set —
    * shared by Q126 and Q223 (which reuses the caller's cached edges
    * instead of re-deriving the co-purchase graph). Returns an EAGER
    * localCheckpoint'd label table with its internal edge cache
    * already released; the caller owns the checkpoint blocks (see
    * CheckpointBlocks).
    */
  private def lpFrom(e: DataFrame, iters: Int,
                     prePartition: Boolean): DataFrame = {
    // above the byte gate, cached pre-partitioned on dst (the q79
    // trick): every round's vote join keys the |E|-sized side on dst,
    // so the cached scan satisfies the join distribution and the
    // per-round edge exchange disappears; the label side reshuffles
    // per round but is |V|-sized. Below the gate the plain cache wins
    // (round-7 full-bench measured the repartition+storage cost
    // exceeding the 2-round saving at sf0.1) — see
    // PrePartitionEdgeBytes.
    val edRaw = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val ed = (if (prePartition) edRaw.repartition(col("dst")) else edRaw)
      .cache()
    val nodes = ed.select(col("src").as("node")).distinct()
    var lab = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = ed
        .join(lab.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("label"))
      val best = votes.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("src").as("node"), col("label").as("new_label"))
      lab = nodes.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("node")).as("label"))
    }
    // checkpoint HERE (not at the memo call site) so the loop's cached
    // edge fan-out can be released as soon as the labels materialize —
    // after lineage truncation the ed cache has no remaining reader
    val out = lab.select(col("node"), col("label").as("community"))
      .localCheckpoint()
    ed.unpersist(blocking = false)
    out
  }

  /** Q223 — modularity of the Q126 label-propagation partition:
    * per community c, the Newman contribution
    * Q_c = e_c/m − (deg_c/2m)² (intra-edge share minus the expected
    * share under the degree-preserving null model). The partition-
    * quality number that turns "LP produced labels" into "LP produced
    * STRUCTURE" — communities with Q_c ≤ 0 are no better than random
    * wiring and a curation pipeline should not act on them.
    *
    * Exactness: e_c, deg_c, m are exact integers off the same cached
    * edge set the LP loop used (one derivation, shared); each Q_c is
    * one pinned double expression. Scale: two label joins on the edge
    * list, one degree aggregate, community-keyed combines — nothing
    * beyond the Q126 cost envelope.
    */
  def modularity(s: SparkSession, dir: String, iters: Int = 2,
                 minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    // The label table is the memoized (localCheckpoint'd) Q126
    // fixpoint: within one process Q126 and Q223 now pay the LP loop
    // once between them, and the checkpoint already truncates the
    // 2-iteration lineage before it feeds BOTH the degree and the
    // intra-edge branch below.
    val comm = lpLabels(s, dir, iters, minSupport)
    val total = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val degC = deg.join(comm, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_c"))
    val intra = e
      .join(comm.select(col("node").as("a"), col("community").as("ca")), Seq("a"))
      .join(comm.select(col("node").as("b"), col("community").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val share = col("deg_c").cast("double") /
      (lit(2L) * col("m")).cast("double")
    degC.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(total))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("deg_c"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") /
          col("m").cast("double") - share * share).as("modularity"))
  }

  /** Q130 — exact 2-hop neighborhood size per node on the
    * support-floored co-purchase graph: |{w : dist(v, w) = 2}| —
    * neighbors-of-neighbors minus self minus direct neighbors (the
    * "friends of friends you don't know" reach metric, and the k=2
    * slice of graph BFS expressed relationally).
    *
    * Scale shape: the wedge self-join enumerates Σ deg(mid)² pairs —
    * the SAME cost envelope as Q113's triangle wedges, bounded by the
    * support floor exactly as there; `distinct` collapses multiplicity
    * before the anti-join, so the direct-neighbor exclusion runs on
    * the 2-hop SET, not the wedge multiset. All joins are equi-keyed
    * (node ids); no window, no global sort.
    */
  def twoHopCounts(s: SparkSession, dir: String,
                   minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    val ed = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    val two = ed.as("e1").join(ed.as("e2"),
        col("e1.dst") === col("e2.src") && col("e2.dst") =!= col("e1.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("n2"))
      .distinct()
    val strict = two.join(ed.select(col("src"), col("dst").as("n2")),
      Seq("src", "n2"), "left_anti")
    val counts = strict.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("cnt"))
    ed.select(col("src").as("node")).distinct()
      .join(counts, Seq("node"), "left")
      .select(col("node"), coalesce(col("cnt"), lit(0L)).as("n_two_hop"))
  }

  /** Q179 — link prediction on the support-floored co-purchase graph:
    * for every NON-adjacent pair with ≥ `minCommon` common neighbors,
    * the common-neighbor count and the Resource-Allocation index
    * Σ_z 1/deg(z) (Zhou, Lü & Zhang 2009 — the rational-arithmetic
    * member of the common-neighbor family, so scores are
    * engine-exact without float logs). The candidate-edge scoring
    * pass a recommender/graph-ML pipeline runs to propose new edges.
    *
    * Scale shape: wedge enumeration is the q113/q130 self-join with
    * its Σ deg(z)² cost envelope, HUB-CAPPED — wedges route only
    * through mids with deg ≤ `maxDeg` (the standard LP practice; a
    * 10⁶-degree hub would otherwise contribute 10¹² wedges and
    * carries ~zero RA signal anyway: 1/deg → 0). The cap is
    * auditable, not silent: `cappedHubs` exposes the excluded mids.
    * Contributions quantize to DECIMAL(28,14) before the exchange
    * (q79 discipline); the existing-edge exclusion is an anti-join
    * on the canonical pair; all joins equi-keyed, no windows.
    */
  def linkPrediction(s: SparkSession, dir: String, minSupport: Int = 2,
                     maxDeg: Long = 100L, minCommon: Long = 2L): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    val ed = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // RA contribution 1/deg(z) quantized ON THE MID TABLE (|V| casts,
    // not |wedges| — guide §2.3) at DECIMAL(18,14): each summand
    // 1/deg ≤ 1 fits (18,14) exactly, rounding is precision-
    // independent, and the compact-long Decimal path replaces
    // BigDecimal adds (~2× on the sum stage, recorded in
    // OPTIMIZATION_r17.md C5). Values bitwise-unchanged.
    // Round-18 (the q79 long-sum discipline): the wedge-row sum runs
    // on the contribution's UNSCALED LONG (ra × 10^14, still quantized
    // decimal(18,14) HALF_UP on the |V|-row mid table first — same
    // values). The cap bounds each contribution, not their number: a
    // mid in a wedge has deg ≥ 2, so a per-pair sum is ≤ n_common ·
    // 10^14/2, and n_common ≤ min(deg(a), deg(b)) is uncapped. The
    // long holds it up to n_common ≈ 1.8·10^5 (past that, ANSI sum
    // raises an overflow error); above 2^53 it is not double-exact,
    // so the final double goes through an EXACT decimal rescale
    // (× 1E-14, lossless) and ONE cast — the identical single rounding
    // the old decimal sum's cast performed.
    val mid = ed.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDeg)
      .select(col("z"),
        ((lit(1.0) / col("deg")).cast("decimal(18,14)") *
          lit(new java.math.BigDecimal(100000000000000L)))
          .cast("long").as("ral"))
    val wedges = ed.as("e1").join(ed.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e2.dst").as("b"),
        col("e1.dst").as("z"))
      .join(mid, "z")
    wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        // decimal(23,0): wide enough for any long sum, and
        // 23+14+1 = 38 keeps the × 1E-14 product inside precision 38 —
        // one more digit would trip Spark's precision-loss adjustment
        // and silently round the scale from 14 to 9
        (sum(col("ral")).cast("decimal(23,0)") *
          lit(new java.math.BigDecimal("1E-14")))
          .cast("double").as("ra_score"))
      .join(e, Seq("a", "b"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** The q179 hub audit: mids excluded from wedge routing by the
    * degree cap (what the cap drops — no silent truncation).
    */
  def cappedHubs(s: SparkSession, dir: String, minSupport: Int = 2,
                 maxDeg: Long = 100L): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    e.select(col("a").as("src")).unionAll(e.select(col("b").as("src")))
      .groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxDeg)
  }

  /** Q143 — multi-source BFS hop distance on the support-floored
    * co-purchase graph: every node's distance (≤ `maxHops`) to the
    * nearest SEED part (deterministic seed rule: part id divisible by
    * `seedMod`) — the "distance to curated catalog anchor" reach
    * audit, and the general-k completion of Q130's fixed 2-hop slice.
    *
    * Scale shape: the textbook relational Bellman-Ford restricted to
    * `maxHops` rounds — per round ONE edge-keyed shuffle (join the
    * current distance table onto edge sources, min-aggregate on the
    * destination) and a min-merge with the previous table; distance
    * rows are (long, long) pairs, never adjacency lists, so a hub's
    * neighborhood spreads across reducers instead of materializing at
    * one. Rounds are FIXED (not run to fixpoint), so cost is bounded
    * by construction and the oracle unrolls the identical rounds as
    * CTEs; lineage is truncated per round (the Q38 localCheckpoint
    * discipline). Unreached nodes report hops = NULL via the final
    * left join — auditable, not silently dropped.
    */
  def bfsHops(s: SparkSession, dir: String, maxHops: Int = 4,
              seedMod: Int = 50, minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    // above the byte gate, src-partitioned cache (the q79 trick):
    // each relaxation round joins the |E|-sized side on src,
    // exchange-free from the cache; below it the plain cache wins
    // (see PrePartitionEdgeBytes — round-7 bench measured the trade
    // negative at fixture scale)
    val edRaw = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val ed = (if (tableBytes(s, dir, "lineitem") > PrePartitionEdgeBytes)
      edRaw.repartition(col("src")) else edRaw).cache()
    val nodes = ed.select(col("src").as("node")).distinct().cache()
    var dist = nodes.filter(pmod(col("node"), lit(seedMod.toLong)) === 0L)
      .withColumn("hops", lit(0L)).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val relaxed = ed
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("hops") + 1L).as("hops"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
    }
    nodes.join(dist, Seq("node"), "left")
      .select(col("node"), col("hops"))
  }

  /** Q159 — seed reachability via a RECURSIVE CTE on the SQL surface
    * (`WITH RECURSIVE`, new in Spark 4.x — Catalyst's UnionLoop
    * operator): min-hop distance from the seed parts over the
    * support-floored co-purchase graph, depth-bounded by the hop
    * guard in the recursive arm. Same answer as Q143's hand-unrolled
    * Bellman-Ford restricted to reached nodes — this query pins the
    * ENGINE's recursion operator instead of the manual loop, the way
    * a SQL user would write it.
    *
    * Scale shape: each recursion step is one equi-join of the
    * frontier against the edge table (hash-keyed shuffle, exactly the
    * Q143 step) followed by a DISTINCT on (node, hop) — WITHOUT the
    * dedup, UNION ALL recursion enumerates every WALK of length ≤
    * maxHops and the working set grows ~degree^hops (combinatorial at
    * 100× edge density; the round-5 form cost 12 s on a 3.6k-edge
    * graph for this reason). With it, each level's frontier is
    * bounded by |V| and min-hop semantics are unchanged (a node's
    * first (node, hop) row survives; later duplicates of the same
    * pair collapse; the final min() still picks the smallest hop).
    */
  def recursiveReach(s: SparkSession, dir: String, maxHops: Int = 3,
                     seedMod: Int = 50, minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    // materialize the edge set ONCE before the loop: a temp view holds
    // only the logical plan, so without this every recursion step
    // re-runs the whole co-purchase derivation (two lineitem scans +
    // self-join + support aggregate) — maxHops+1 redundant passes over
    // the fact table. localCheckpoint pins the (support-floored, small)
    // edge list as in-memory blocks that each step scans directly.
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
      .createOrReplaceTempView("graft_q159_edges")
    s.sql(
      s"""WITH RECURSIVE reach(node, hop) AS (
         |  SELECT DISTINCT src AS node, 0 AS hop
         |  FROM graft_q159_edges WHERE src % $seedMod = 0
         |  UNION ALL
         |  SELECT DISTINCT e.dst, r.hop + 1
         |  FROM reach r JOIN graft_q159_edges e ON e.src = r.node
         |  WHERE r.hop < $maxHops
         |)
         |SELECT node, CAST(min(hop) AS BIGINT) AS hop
         |FROM reach GROUP BY node""".stripMargin)
  }

  /** Q163 — k-core peeling on the support-floored co-purchase graph:
    * `rounds` synchronous rounds of "drop every node with degree < k,
    * drop edges touching dropped nodes", then the surviving nodes
    * with their in-core degrees. The k-core is the classic dense-
    * substructure primitive (community seeds, spam-cluster cores);
    * the FIXED-round contract (rather than loop-to-fixpoint) is what
    * makes a declarative cross-engine oracle possible — the DuckDB
    * side unrolls the same `rounds` CTE steps, exactly the q143
    * bounded-Bellman-Ford discipline. Peeling is monotone (the edge
    * set only shrinks), so if the graph converges in fewer rounds the
    * remaining rounds are no-ops and the fixed-round answer IS the
    * k-core.
    *
    * Scale shape per round: one count aggregate + two semi-joins, all
    * equi-keyed on node id — no broadcast of anything
    * corpus-proportional, no driver data path. `localCheckpoint`
    * truncates the per-round lineage growth (the q143/q79 iterative
    * pattern). Rounds are O(log n) in practice for peeling to
    * stabilize; 8 covers the sf testdata to fixpoint.
    */
  /** One k-core peel round: drop every directed edge whose src OR dst
    * had degree < k in the incoming edge set. A degree count
    * aggregate (partial map-side combine) + two LEFT-SEMI equi-joins
    * against the surviving-node set — never a cartesian, never a
    * driver-side structure; the plan shape is pinned by
    * PlanQualitySpec. Exposed for the spec; [[kCore]] loops it.
    */
  private[graft] def peelRound(ed: DataFrame, k: Int): DataFrame = {
    val keep = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("src").as("n"))
    ed.join(keep.withColumnRenamed("n", "src"), Seq("src"), "leftsemi")
      .join(keep.withColumnRenamed("n", "dst"), Seq("dst"), "leftsemi")
      .select(col("src"), col("dst"))
  }

  def kCore(s: SparkSession, dir: String, k: Int = 3, rounds: Int = 8,
            minSupport: Int = 2): DataFrame = {
    val e = copurchaseEdges(s, dir, minSupport)
    var ed = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // localCheckpoint per round: without it the unrolled-loop lineage
      // re-executes every prior round per action (the q38 lesson)
      ed = peelRound(ed, k).localCheckpoint()
    }
    ed.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  def pageRank(s: SparkSession, dir: String, iters: Int = 3,
               damping: Double = 0.85,
               broadcastRanks: Option[Boolean] = None): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val cs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // Two regimes, auto-selected from the vertex-dimension byte size
    // (the q183 dual-regime pattern, ported round 8 after q79's 2×
    // between-run spread):
    //  - broadcast (|V| tables small): the rank table — vertex-
    //    dimension, never corpus-dimension — broadcasts into the
    //    contrib join, and the edge cache partitioned on the
    //    AGGREGATE key (dst) makes the groupBy exchange-free: ZERO
    //    edge-wide shuffles per iteration;
    //  - SMJ (|V| outgrows a safe broadcast): edges cached on the
    //    JOIN key (src) sort-merge the node-partitioned rank table
    //    exchange-free; the aggregate pays the one edge-keyed
    //    shuffle per iteration.
    // Both are the Pregel co-partitioned-adjacency trade (one shuffle
    // paid at cache time instead of per-iteration) and produce
    // bitwise-identical ranks: contributions are DECIMAL-summed
    // (combine-order-free) and the finish is one pinned double
    // expression, so the join strategy cannot alter a single bit
    // (spec-pinned in GraphSpec).
    val bc = broadcastRanks.getOrElse(
      tableBytes(s, dir, "customer") + tableBytes(s, dir, "supplier")
        <= BroadcastScoreBytes)
    val edges = cs.unionAll(cs.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col(if (bc) "dst" else "src")).cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")).cache()
    val n = deg.count()
    var rank = deg.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      // Round-17 optimization, two parts with bitwise-unchanged ranks:
      //  - the contribution r(u)/deg(u) is computed and quantized ON
      //    THE NODE TABLE before the edge join (|V| divisions + casts
      //    instead of |E| — guide §2.3, compute on the small side),
      //    then fanned out by the join: each edge carries the same
      //    decimal it used to compute in place;
      //  - DECIMAL(18,14) instead of (28,14): contributions and every
      //    per-dst partial sum are bounded by the total rank mass 1,
      //    so 4 integer digits can never overflow, rounding at scale
      //    14 is precision-independent, and precision ≤ 18 keeps
      //    Spark's Decimal on the compact-long fast path — one
      //    iteration's sum measured 9.7 s task CPU under (28,14) vs
      //    5.0 s under (18,14) at sf0.1 (OPTIMIZATION_r17.md C5).
      // Round-18 (guide §1.2 per-task work / §2.3 narrower types): the
      // |E|-row fan-out and per-dst sum now run on the contribution's
      // UNSCALED LONG (c × 10^14) instead of Decimal — a primitive
      // long sum in place of per-row Decimal boxing in the hottest
      // codegen stage of the query. Bitwise-unchanged ranks:
      //  - the quantization is the same decimal(18,14) HALF_UP cast
      //    (still on the |V|-row table); × 10^14 (exact decimal
      //    multiply, integral by construction) → long is lossless;
      //  - per-dst sums are bounded by the scaled total mass ~10^14
      //    (each dst receives ≤ the whole rank mass 1), so the long
      //    sum can never overflow AND stays below 2^53, making the
      //    final cast-to-double EXACT; dividing that exact double by
      //    the exactly-representable 1e14 is one correctly-rounded
      //    IEEE op — the same real rounded once, identical to the old
      //    Decimal(…,14).toDouble.
      val contribSrc = rank.select(col("node"),
        ((col("rank") / col("deg")).cast("decimal(18,14)") *
          lit(new java.math.BigDecimal(100000000000000L)))
          .cast("long").as("c"))
      val joined =
        if (bc) edges.join(broadcast(contribSrc), col("src") === col("node"))
        else edges.join(contribSrc, col("src") === col("node"))
      val contrib = joined
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      rank = deg.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"),
          (lit((1.0 - damping) / n) +
            lit(damping) *
              coalesce(col("sc").cast("double") / lit(1.0e14), lit(0.0)))
            .as("rank"))
    }
    rank.select(col("node"), col("rank"))
  }

  /** Q183 — HITS hubs & authorities on the customer→part purchase
    * bipartite graph (Kleinberg's mutual-reinforcement iteration:
    * hub(c) = Σ auth(p) over c's purchased parts, auth(p) = Σ hub(c)
    * over p's buyers, sum-normalized each half-step). Customers that
    * buy many high-authority parts become strong hubs; parts bought
    * by strong hubs become authorities — the classic "curator
    * account / canonical item" signal, here the bipartite analogue of
    * Q79's PageRank.
    *
    * Float discipline (the Q79 recipe): raw hub/auth masses are
    * DECIMAL sums (exact in any combine order); each normalization is
    * ONE double division per row against a one-row broadcast total,
    * immediately re-quantized to DECIMAL(28,14), so every iteration's
    * state is bitwise-identical across engines and shuffle orders.
    *
    * Scale shape (round 7): the adjacency is cached TWICE, hash-
    * partitioned on c and on p — the Pregel storage-for-shuffle trade
    * — and the per-half-step plan has two regimes, auto-selected
    * from the vertex-dimension byte size (round 8; `broadcastScores =
    * Some(...)` overrides for the equality spec):
    *  - broadcast (|V| executor-fits): the score table — (key,
    *    decimal) pairs, VERTEX-dimension cardinality, not corpus
    *    cardinality — broadcasts into the edge join, and the copy
    *    partitioned on the step's AGGREGATE key makes the groupBy
    *    exchange-free: ZERO edge-wide shuffles per half-step.
    *  - SMJ (|V| outgrows a broadcast): the copy partitioned on
    *    the step's JOIN key sort-merge-joins the score table (itself
    *    groupBy-partitioned on that key — no exchange either side);
    *    the aggregate pays the one edge-keyed shuffle per half-step.
    * Both regimes produce bitwise-identical scores (spec-pinned);
    * the normalizing total is a one-row aggregate broadcast back
    * (the Q165 scalar discipline). The oracle unrolls the identical
    * CTE chain.
    *
    * CONSUME-ONCE: the returned DataFrame rides adopted localCheckpoint
    * blocks ([[graft.operators.CheckpointOrphans.adopt]]) that are
    * released after the FIRST successful action — run exactly one
    * action over it (the driver/bench contract); a caller needing
    * multiple actions must checkpoint or persist its own copy
    * (round-13 ADVICE — the contract was documented only on adopt's
    * internal scaladoc).
    */
  def hits(s: SparkSession, dir: String, iters: Int = 2,
           broadcastScores: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // Auto regime (round 8, ADVICE fix): the old default hard-coded
    // the broadcast regime, which at charter scale is an unbounded
    // forced broadcast of vertex-dimension score tables. The regime is
    // now picked from the vertex-dimension byte size (customer + part
    // parquet footprints — a conservative OVERestimate of the (key,
    // decimal) score tables), so the safe SMJ regime engages
    // automatically once |V| outgrows an executor-comfortable
    // broadcast; `Some(true/false)` remains the explicit override for
    // the bitwise-equality spec.
    val bcast = broadcastScores.getOrElse(
      tableBytes(s, dir, "customer") + tableBytes(s, dir, "part")
        <= BroadcastScoreBytes)
    val eByC = base.repartition(col("c")).cache()
    val eByP = eByC.repartition(col("p")).cache()
    // DECIMAL(18,14) state (round-17 optimization): the initial mass
    // is exactly 1 and every later h/a is sum-normalized into [0,1],
    // so 4 integer digits can never overflow; scale-14 rounding is
    // precision-independent, so every iteration's state is
    // bitwise-identical to the old (28,14) form — but precision ≤ 18
    // keeps Decimal compact (long-backed), turning the per-half-step
    // mass sums from BigDecimal adds into long adds (~2× on the
    // q79-shaped decimal sum stage, recorded in OPTIMIZATION_r17.md C5).
    // Round-18 (guide §1.2/§2.3 — the q79 long-sum discipline): the
    // score state CROSSING the |E|-row half-step join/sum is now the
    // UNSCALED LONG of that decimal (score × 10^14) — primitive long
    // adds in the hottest codegen stage instead of per-row Decimal
    // boxing. Bitwise-unchanged scores:
    //  - a per-key raw-mass sum Σ score_l is bounded by the scaled
    //    total mass ~10^14 (each c/p receives ≤ the whole normalized
    //    mass 1) — except the first hub half-step, whose auth mass is
    //    the unnormalized 1 per part: deg(c) × 10^14, which overflows
    //    the long only past ~92,000 parts (an ANSI error, not a wrap);
    //  - the raw mass converts back to an EXACT decimal on the
    //    |V|-row aggregate output (× the exact 1E-14 literal — a
    //    lossless rescale, no division), so the normalizing total and
    //    both normalization casts see the identical exact values the
    //    decimal form produced, and the h/a quantization is the same
    //    decimal(18,14) HALF_UP cast as before.
    val Scale = new java.math.BigDecimal(100000000000000L) // 10^14
    val Unscale = new java.math.BigDecimal("1E-14")
    // exact long ↔ decimal rescales (both multiplies are exact: the
    // product of an integer-valued decimal and 1E-14 has ≤ 14
    // fractional digits; a (18,14) decimal × 10^14 is integral). The
    // first hub half-step sums the UNNORMALIZED initial mass, deg(c) ×
    // 10^14, which passes 10^18 once a customer has 10^4 parts, so the
    // raw sum widens to decimal(23,0) (any long fits), as in
    // linkPrediction; Decimal.toDouble rounds the exact value, so the
    // wider type changes no score.
    def toL(c: org.apache.spark.sql.Column) = (c * lit(Scale)).cast("long")
    def toDec(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(23,0)") * lit(Unscale))
    var auth = eByP.select(col("p")).distinct()
      .withColumn("al", toL(lit(1).cast("decimal(18,14)")))
    var hub: DataFrame = null
    // each iteration's masses are eagerly materialized, so a
    // superseded hraw/araw checkpoint is dead THE MOMENT its successor
    // lands — released immediately, which caps resident checkpoints at
    // O(1) instead of O(iters)
    var lastH: DataFrame = null
    var lastA: DataFrame = null
    var ok = false
    try {
      for (_ <- 1 to iters) {
        // materialize each mass table BEFORE branching it into its own
        // normalizing total — the q173 lesson: a lazy aggregate consumed
        // twice (scalar + main branch) inlines the whole upstream chain
        // into both, doubling work per half-step (2^(2·iters) blowup)
        val hraw = (if (bcast) eByC.join(broadcast(auth), "p")
          else eByP.join(auth, "p")).groupBy(col("c"))
          .agg(sum(col("al")).as("hrl")).localCheckpoint()
        if (lastH != null) CheckpointBlocks.release(lastH)
        lastH = hraw
        val hrd = hraw.select(col("c"), toDec(col("hrl")).as("hr"))
        hub = hrd.crossJoin(broadcast(hrd.agg(sum(col("hr")).as("sh"))))
          .select(col("c"),
            toL((col("hr").cast("double") / col("sh").cast("double"))
              .cast("decimal(18,14)")).as("hl"))
        val araw = (if (bcast) eByP.join(broadcast(hub), "c")
          else eByC.join(hub, "c")).groupBy(col("p"))
          .agg(sum(col("hl")).as("arl")).localCheckpoint()
        if (lastA != null) CheckpointBlocks.release(lastA)
        lastA = araw
        val ard = araw.select(col("p"), toDec(col("arl")).as("ar"))
        auth = ard.crossJoin(broadcast(ard.agg(sum(col("ar")).as("sa"))))
          .select(col("p"),
            toL((col("ar").cast("double") / col("sa").cast("double"))
              .cast("decimal(18,14)")).as("al"))
      }
      ok = true
    } finally {
      // the returned plan reads ONLY the last half-step checkpoints
      // (the masses were materialized eagerly), so the two adjacency
      // caches are dead weight from here — left resident they
      // pressured every later query in the bench chunk (the q121
      // in-run lesson applied to the graph family). Released in a
      // finally because a mid-loop failure doesn't end the bench
      // chunk: Bench catches the throw and clearCache() cannot evict
      // checkpoint blocks, so the failure path must also drop the
      // current checkpoints or the rest of the chunk runs under the
      // exact pressure this cleanup removes.
      eByC.unpersist(blocking = false)
      eByP.unpersist(blocking = false)
      if (!ok) {
        if (lastH != null) CheckpointBlocks.release(lastH)
        if (lastA != null) CheckpointBlocks.release(lastA)
      }
    }
    // the LAST hraw/araw checkpoints are ownerless once the returned
    // plan has been materialized — adopt them so the first successful
    // action releases their blocks instead of leaking them to session
    // end (two leaked tables per hits() call otherwise)
    // score_l ≤ 10^14 < 2^53, so the long→double cast is exact and the
    // division by the exactly-representable 1e14 is one correctly-
    // rounded IEEE op — identical to the old Decimal(18,14).toDouble
    CheckpointOrphans.adopt(
      hub.select(lit("hub").as("kind"), col("c").as("id"),
          (col("hl").cast("double") / lit(1.0e14)).as("score"))
        .unionAll(auth.select(lit("auth").as("kind"), col("p").as("id"),
          (col("al").cast("double") / lit(1.0e14)).as("score"))))
  }
}
