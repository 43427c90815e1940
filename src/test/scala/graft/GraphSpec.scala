package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: one hand-computed power iteration on a 4-node graph") {
    val dir = java.nio.file.Files.createTempDirectory("graph").toString
    try {
      // c1 buys from s1,s2 (order 10); c2 buys from s1 (order 20)
      Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((10L, 1L), (10L, 2L), (20L, 1L)).toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.pageRank(spark, dir, iters = 1).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
      // nodes: c1=2 c2=4 s1=3 s2=5; deg: c1=2 c2=1 s1=2 s2=1; N=4
      // in(c1)=.125+.25  in(c2)=.125  in(s1)=.125+.25  in(s2)=.125
      // r1 = 0.15/4 + 0.85*in
      assert(out.size === 4)
      assert(math.abs(out(2L) - 0.35625) < 1e-9)
      assert(math.abs(out(4L) - 0.14375) < 1e-9)
      assert(math.abs(out(3L) - 0.35625) < 1e-9)
      assert(math.abs(out(5L) - 0.14375) < 1e-9)
      assert(math.abs(out.values.sum - 1.0) < 1e-9, "rank mass conserved")
      // the two scale regimes (broadcast ranks vs co-partitioned SMJ)
      // are plan shapes only — ranks must agree BITWISE (decimal-
      // quantized contributions + pinned double finish), the q183
      // discipline ported to q79 in round 8
      val b = Graph.pageRank(spark, dir, iters = 1,
        broadcastRanks = Some(true)).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
      val m = Graph.pageRank(spark, dir, iters = 1,
        broadcastRanks = Some(false)).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
      assert(b === m)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("linkPrediction: RA scores on a 4-cycle; hub cap empties and is audited") {
    val dir = java.nio.file.Files.createTempDirectory("lp").toString
    try {
      // 4-cycle 1-2-3-4-1 (each edge co-occurs in 2 orders). The two
      // diagonals (1,3) and (2,4) each have 2 common neighbors of
      // degree 2 -> RA = 1/2 + 1/2 = 1.0.
      val rows = for {
        (o0, pair) <- Seq((10L, (1L, 2L)), (20L, (2L, 3L)),
          (30L, (3L, 4L)), (40L, (1L, 4L)))
        rep <- 0 to 1
        p <- Seq(pair._1, pair._2)
      } yield (o0 + rep, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.linkPrediction(spark, dir).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          ((r.getAs[Long]("n_common"), r.getAs[Double]("ra_score")))).toMap
      assert(out === Map((1L, 3L) -> ((2L, 1.0)), (2L, 4L) -> ((2L, 1.0))))
      // adjacent pairs are excluded even though they share no wedge rule
      assert(!out.contains((1L, 2L)))
      // hub cap: maxDeg=1 excludes every mid -> no predictions, and the
      // audit surfaces exactly the four capped nodes
      assert(Graph.linkPrediction(spark, dir, maxDeg = 1L).count() === 0L)
      val hubs = Graph.cappedHubs(spark, dir, maxDeg = 1L).collect()
        .map(r => r.getAs[Long]("z") -> r.getAs[Long]("deg")).toMap
      assert(hubs === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("triangleCounts: support floor prunes one-off edges; oriented count is exact") {
    val dir = java.nio.file.Files.createTempDirectory("tri").toString
    try {
      // orders 1,2 each contain parts {1,2,3}: every pair has support 2
      // -> triangle {1,2,3}. Order 3 adds {1,4}: support-1 edge, pruned.
      // Order 4 repeats {2,3} (support 3 — still one edge).
      val rows = Seq(
        (1L, 1L), (1L, 2L), (1L, 3L),
        (2L, 1L), (2L, 2L), (2L, 3L),
        (3L, 1L), (3L, 4L),
        (4L, 2L), (4L, 3L))
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.triangleCounts(spark, dir).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_tri")).toMap
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("lpCommunities: disjoint cliques converge to per-clique min labels") {
    val dir = java.nio.file.Files.createTempDirectory("lp").toString
    try {
      // two triangles {1,2,3} and {4,5,6}, each basket duplicated to
      // clear the support floor; no cross edges
      val baskets = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))
      val rows = for {
        (b, i) <- (baskets ++ baskets).zipWithIndex
        p <- b
      } yield ((i + 1).toLong, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.lpCommunities(spark, dir).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("community")).toMap
      // sync LP with (count desc, label asc) ties: iter1 sends node 1
      // to label 2 (tie of {2,3}), everyone else to the clique min;
      // iter2 pulls node 1 back — all members land on the clique min
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 4L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("triangleCounts: two triangles sharing an edge double-count the shared nodes") {
    val dir = java.nio.file.Files.createTempDirectory("tri2").toString
    try {
      // K4 minus edge {3,4}: triangles {1,2,3} and {1,2,4}; every edge
      // duplicated across two orders to clear the support floor.
      val baskets = Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L))
      val rows = for {
        (b, i) <- (baskets ++ baskets).zipWithIndex
        p <- b
      } yield ((i + 1).toLong, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.triangleCounts(spark, dir).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_tri")).toMap
      assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("peelRound fixpoint = classic k-core: 4-clique survives, pendant chain peels") {
    // Undirected graph: 4-clique {1,2,3,4} + chain 4-5-6 + pendant 7 on 5.
    // 3-core = exactly the clique (every clique node keeps degree 3);
    // the chain peels over TWO rounds (6 and 7 go first, then 5) — so
    // the test also proves iteration is load-bearing, not one pass.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L))
    var ed = (und ++ und.map(_.swap)).toDF("src", "dst")
    val after1 = Graph.peelRound(ed, 3)
    // after one round node 5 still present (degree was 3: 4,6,7)
    assert(after1.select("src").distinct().collect().map(_.getLong(0)).toSet
      .contains(5L))
    for (_ <- 1 to 3) ed = Graph.peelRound(ed, 3).localCheckpoint()
    val core = ed.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(core === Set(1L, 2L, 3L, 4L))
    // every surviving node has in-core degree exactly 3 (clique)
    val degs = ed.groupBy("src").count().collect().map(_.getLong(1)).toSet
    assert(degs === Set(3L))
  }

  test("twoHopCounts: path graph exact distance-2 sets; triangle is all-zero") {
    val dir = java.nio.file.Files.createTempDirectory("twohop").toString
    try {
      // path 1-2-3-4-5, each edge cleared past the support floor by
      // appearing in two orders
      val baskets = Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(4L, 5L))
      val rows = for {
        (b, i) <- (baskets ++ baskets).zipWithIndex
        p <- b
      } yield ((i + 1).toLong, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.twoHopCounts(spark, dir).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_two_hop")).toMap
      // dist-2 sets: 1->{3} 2->{4} 3->{1,5} 4->{2} 5->{3}
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("recursiveReach: min-hop distances on a path graph; agrees with bfsHops") {
    val dir = java.nio.file.Files.createTempDirectory("reach").toString
    try {
      // path 0-1-2-3-4 (each basket doubled past the support floor);
      // seed = node 0 (the only part with id % 50 == 0), maxHops = 3
      // → hops {0:0, 1:1, 2:2, 3:3}; node 4 is unreached at depth 3.
      val baskets = Seq(Seq(0L, 1L), Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L))
      val rows = for {
        (b, i) <- (baskets ++ baskets).zipWithIndex
        p <- b
      } yield ((i + 1).toLong, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val reach = Graph.recursiveReach(spark, dir, maxHops = 3).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("hop")).toMap
      assert(reach === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
      // the recursive CTE and the hand-unrolled Bellman-Ford (q143) are
      // the same operator at the same depth — their reached sets and
      // min-hop distances must agree exactly
      val bfs = Graph.bfsHops(spark, dir, maxHops = 3).collect()
        .filter(!_.isNullAt(1))
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("hops")).toMap
      assert(reach === bfs)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("twoHopCounts: triangle has zero strict 2-hop reach (all candidates are neighbors)") {
    val dir = java.nio.file.Files.createTempDirectory("twohop0").toString
    try {
      val rows = Seq(
        (1L, 1L), (1L, 2L), (1L, 3L),
        (2L, 1L), (2L, 2L), (2L, 3L))
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.twoHopCounts(spark, dir).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_two_hop")).toMap
      assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("hits: two hand-computed iterations on a 2x3 bipartite graph") {
    val dir = java.nio.file.Files.createTempDirectory("hits").toString
    try {
      // c1 buys p1,p2,p3 (order 10); c2 buys p1 (order 20).
      // it1: hub = (3,1)/4 = (.75,.25); auth = (1,.75,.75)/2.5 = (.4,.3,.3)
      // it2: hub = (1,.4)/1.4 = (5/7,2/7); auth = (1,5/7,5/7)/(17/7)
      //    = (7/17, 5/17, 5/17)
      Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.hits(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(out.size === 5)
      assert(math.abs(out(("hub", 1L)) - 5.0 / 7) < 1e-9)
      assert(math.abs(out(("hub", 2L)) - 2.0 / 7) < 1e-9)
      assert(math.abs(out(("auth", 1L)) - 7.0 / 17) < 1e-9)
      assert(math.abs(out(("auth", 2L)) - 5.0 / 17) < 1e-9)
      assert(math.abs(out(("auth", 3L)) - 5.0 / 17) < 1e-9)
      // each half-step is sum-normalized: both masses total 1
      assert(math.abs(out.collect { case (("hub", _), v) => v }.sum - 1) < 1e-9)
      assert(math.abs(out.collect { case (("auth", _), v) => v }.sum - 1) < 1e-9)
      // the two scale regimes (broadcast scores vs co-partitioned SMJ)
      // are plan shapes only — scores must agree BITWISE (the decimal
      // quantization makes every intermediate combine-order-free)
      val smj = Graph.hits(spark, dir, broadcastScores = Some(false)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(smj === out)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("hits: a customer with 10^4 + 1 parts does not overflow the first half-step") {
    // The first hub mass is unnormalized: c1's raw mass is 10001 parts
    // × 10^14 scaled units, past decimal(18,0)'s 10^18 − 1.
    val dir = java.nio.file.Files.createTempDirectory("hits-hub").toString
    val parts = 10001
    try {
      Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      ((1 to parts).map(p => (10L, p.toLong)) :+ ((20L, 1L)))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // serial model: h = norm(A·a), a = norm(Aᵀ·h), a0 = 1, two rounds
      val edges = (1 to parts).map(p => (1L, p.toLong)) :+ ((2L, 1L))
      def norm(m: Map[Long, Double]) = { val t = m.values.sum; m.map { case (k, v) => k -> v / t } }
      var auth = (1 to parts).map(_.toLong -> 1.0).toMap
      var hub = Map.empty[Long, Double]
      for (_ <- 1 to 2) {
        hub = norm(edges.groupBy(_._1).map { case (c, es) => c -> es.map(e => auth(e._2)).sum })
        auth = norm(edges.groupBy(_._2).map { case (p, es) => p -> es.map(e => hub(e._1)).sum })
      }
      val out = Graph.hits(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(out.size === 2 + parts)
      hub.foreach { case (c, v) => assert(math.abs(out(("hub", c)) - v) < 1e-9) }
      auth.foreach { case (p, v) => assert(math.abs(out(("auth", p)) - v) < 1e-9) }
      val smj = Graph.hits(spark, dir, broadcastScores = Some(false)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(smj === out)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("modularity: two disjoint triangles score 0.25 each (total 0.5)") {
    val dir = java.nio.file.Files.createTempDirectory("modul").toString
    try {
      // each triangle edge appears in exactly 2 two-part orders
      val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      var o = 0L
      val rows = pairs.flatMap { case (a, b) =>
        (1 to 2).flatMap { _ => o += 1; Seq((o, a), (o, b)) }
      }
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Graph.modularity(spark, dir).collect()
        .map(r => r.getAs[Long]("community") ->
          ((r.getAs[Long]("n_nodes"), r.getAs[Long]("intra_edges"),
            r.getAs[Long]("deg_c"), r.getAs[Double]("modularity")))).toMap
      // LP converges each triangle to its min node id
      assert(out.keySet === Set(1L, 4L))
      assert(out(1L) === ((3L, 3L, 6L, 0.25)))
      assert(out(4L) === ((3L, 3L, 6L, 0.25)))
      // round-9 memo pin: Q223 off Q126's memoized labels is
      // identical to a fresh-fixpoint run. First call above populated
      // the memo; compare a memo-hit (after an explicit q126 run,
      // the bench ordering) and a cold memo-miss against it.
      Graph.lpMemo.clear()
      Graph.lpCommunities(spark, dir).collect() // q126 first, as in Bench
      val hit = Graph.modularity(spark, dir).collect()
        .map(r => r.getAs[Long]("community") ->
          ((r.getAs[Long]("n_nodes"), r.getAs[Long]("intra_edges"),
            r.getAs[Long]("deg_c"), r.getAs[Double]("modularity")))).toMap
      assert(hit === out)
    } finally {
      Graph.lpMemo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("transitivity: K4 plus a 2-edge path scores 12/13") {
    val dir = java.nio.file.Files.createTempDirectory("transit").toString
    try {
      // K4 on {1..4}: 4 triangles, 12 wedges; path 10-11-12: 1 wedge
      val k4 = for {
        a <- 1L to 4L; b <- (a + 1) to 4L
      } yield (a, b)
      val pairs = k4 ++ Seq((10L, 11L), (11L, 12L))
      var o = 0L
      val rows = pairs.flatMap { case (a, b) =>
        (1 to 2).flatMap { _ => o += 1; Seq((o, a), (o, b)) }
      }
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val r = Graph.transitivity(spark, dir).collect().head
      assert(r.getAs[Long]("n_nodes") === 7L)
      assert(r.getAs[Long]("n_edges") === 8L)
      assert(r.getAs[Long]("n_wedges") === 13L)
      assert(r.getAs[Long]("n_triangles") === 4L)
      assert(r.getAs[Double]("transitivity") === 12.0 / 13.0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("assortativity: a star graph scores exactly -1") {
    val dir = java.nio.file.Files.createTempDirectory("assort").toString
    try {
      // hub part 100 co-purchased with leaves 101/102/103, each pair
      // in 2 orders (clears the support floor); no leaf-leaf orders
      val rows = for {
        (leaf, o0) <- Seq((101L, 10L), (102L, 20L), (103L, 30L))
        o <- Seq(o0, o0 + 1)
        p <- Seq(100L, leaf)
      } yield (o, p)
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val r = Graph.assortativity(spark, dir).collect()
      assert(r.length === 1)
      val row = r.head
      assert(row.getAs[Long]("n_nodes") === 4L)
      assert(row.getAs[Long]("n_edges") === 3L)
      assert(row.getAs[Double]("mean_degree") === 1.5)
      assert(row.getAs[Long]("max_degree") === 3L)
      assert(row.getAs[Double]("assortativity") === -1.0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
