package graft

import graft.operators.{ArtifactStore, CheckpointOrphans, GraftMemo, Graph,
  Memo, MemoTableUnreadable}

/** Unit pins for the memo layer: compute-outside-lock and the LRU
  * release discipline (round-12 ADVICE), the release-after-
  * materialization path for per-query checkpoints, and the one
  * [[Memo]] entry point — its clear hook, its failure rule and the
  * write-once artifact family on it.
  */
class MemoSpec extends SparkSpec {

  test("GraftMemo: a key computes once; hits return the same value") {
    val memo = new GraftMemo[String, Int](cap = 4)
    val computed = new java.util.concurrent.atomic.AtomicInteger(0)
    def v = { computed.incrementAndGet(); 42 }
    assert(memo.get("k")(v) === 42)
    assert(memo.get("k")(v) === 42)
    assert(computed.get() === 1)
  }

  test("GraftMemo: LRU eviction releases exactly the eldest entry") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new GraftMemo[String, Int](cap = 2, release = released += _)
    memo.get("a")(1)
    memo.get("b")(2)
    memo.get("a")(1) // touch a — b becomes the LRU victim
    memo.get("c")(3) // evicts b
    assert(released.toSeq === Seq(2))
    // a and c still mapped (no recompute)
    val computed = new java.util.concurrent.atomic.AtomicInteger(0)
    memo.get("a") { computed.incrementAndGet(); 99 }
    memo.get("c") { computed.incrementAndGet(); 99 }
    assert(computed.get() === 0)
  }

  test("GraftMemo: dead entries purge on access and are not served") {
    var dead = false
    val memo = new GraftMemo[String, Int](cap = 4, dead = _ => dead)
    assert(memo.get("k")(1) === 1)
    dead = true
    assert(memo.get("k")(2) === 2) // purged, recomputed
  }

  test("GraftMemo: different keys compute CONCURRENTLY (not under one lock)") {
    val memo = new GraftMemo[String, Int](cap = 4)
    // each compute parks until BOTH computes have started: possible
    // only if the map lock is not held across the compute
    val both = new java.util.concurrent.CountDownLatch(2)
    def slow(v: Int): Int = {
      both.countDown()
      assert(both.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "computes serialized behind the map lock")
      v
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => memo.get("a")(slow(1)): Integer)
      val fb = pool.submit(() => memo.get("b")(slow(2)): Integer)
      assert(fa.get(15, java.util.concurrent.TimeUnit.SECONDS) === 1)
      assert(fb.get(15, java.util.concurrent.TimeUnit.SECONDS) === 2)
    } finally pool.shutdownNow()
  }

  test("GraftMemo: a throwing compute is retried on the next access") {
    val memo = new GraftMemo[String, Int](cap = 4)
    var attempts = 0
    def flaky = {
      attempts += 1
      if (attempts == 1) sys.error("transient")
      7
    }
    intercept[RuntimeException](memo.get("k")(flaky))
    assert(memo.get("k")(flaky) === 7)
  }

  test("CheckpointOrphans: adopted checkpoint blocks release after first materialization") {
    val df = spark.range(64).toDF("x").localCheckpoint(true)
    val rdd = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.head
    assert(rdd.getStorageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "fixture must start with live checkpoint blocks")
    val adopted = CheckpointOrphans.adopt(df)
    assert(adopted.count() === 64L)
    // the execution-listener bus is async — drain, then poll briefly
    org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (rdd.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(rdd.getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "adopted checkpoint blocks must be unpersisted after the query completes")
  }

  test("GraftMemo: an in-flight entry is never evicted (no duplicate compute, no orphan)") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new GraftMemo[String, Int](cap = 1, release = released += _)
    val started = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fa = pool.submit(() => memo.get("slow") {
        started.countDown()
        assert(gate.await(10, java.util.concurrent.TimeUnit.SECONDS))
        1
      }: Integer)
      assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // over-cap inserts while "slow" is in flight: the in-flight cell
      // must survive (only DONE entries are eviction candidates)
      memo.get("b")(2)
      memo.get("c")(3) // evicts b (done), not slow (in flight)
      gate.countDown()
      assert(fa.get(10, java.util.concurrent.TimeUnit.SECONDS) === 1)
      assert(released.toSeq === Seq(2))
      // "slow" is still mapped: a hit, not a duplicate compute
      val computed = new java.util.concurrent.atomic.AtomicInteger(0)
      assert(memo.get("slow") { computed.incrementAndGet(); 99 } === 1)
      assert(computed.get() === 0)
    } finally pool.shutdownNow()
  }

  test("Memo.clear releases every block the spine, edge and LP memos hold") {
    import spark.implicits._
    val sc = spark.sparkContext
    SparkEntry.spineMemo.clear(); Graph.edgeMemo.clear(); Graph.lpMemo.clear()
    val before = sc.getPersistentRDDs.keySet.toSet
    def added: Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    // q7b memoizes the enriched and the detected spine tables
    SparkEntry.queries("q7b_peaks")(spark, "").collect()
    assert(added.size === 2, "the spine memo must hold both tables")
    SparkEntry.spineMemo.clear()
    assert(added.isEmpty, "clearing the spine memo must release every spine block")
    val dir = java.nio.file.Files.createTempDirectory("memoclear").toString
    try {
      // parts 1 and 2 share two orders: one edge at the support floor
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("l_orderkey", "l_partkey")
        .write.parquet(s"$dir/lineitem.parquet")
      // LP memoizes its labels and the edge table it was derived from
      Graph.lpCommunities(spark, dir).collect()
      assert(added.size === 2, "the edge and LP memos must hold one table each")
      Graph.edgeMemo.clear()
      assert(added.size === 1, "clearing the edge memo must release the edge table")
      Graph.lpMemo.clear()
      assert(added.isEmpty, "clearing the LP memo must release the label table")
    } finally {
      Graph.edgeMemo.clear(); Graph.lpMemo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Memo: a missing input table fails with the named error; once written, the call memoizes") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("memomissing").toString
    Graph.edgeMemo.clear(); Graph.lpMemo.clear()
    val before = sc.getPersistentRDDs.keySet.toSet
    def added: Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    try {
      val e = intercept[MemoTableUnreadable](Graph.lpCommunities(spark, dir))
      assert(e.getMessage.contains("'graph_lp'") &&
        e.getMessage.contains(s"$dir/lineitem.parquet"), e.getMessage)
      assert(added.isEmpty, "a failed fingerprint must memoize nothing")
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("l_orderkey", "l_partkey")
        .write.parquet(s"$dir/lineitem.parquet")
      val first = Graph.lpCommunities(spark, dir)
      assert(first.collect().length === 2, "one label row per node")
      assert(added.size === 2, "the edge and LP memos must hold one table each")
      assert(Graph.lpCommunities(spark, dir) eq first, "the retry must memoize")
      assert(added.size === 2)
    } finally {
      Graph.edgeMemo.clear(); Graph.lpMemo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ArtifactStore.materialized: one write per key, concurrent callers included; a rewrite writes again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memoartifact").toString
    def corpus(texts: String*): Unit = texts.toDF("text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val writing = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    def call(): String = ArtifactStore.materialized(spark, "memospec",
        Memo.table(spark, s"$dir/documents.parquet"), dir, "p") { _ =>
      writes.incrementAndGet()
      writing.countDown()
      assert(release.await(10, java.util.concurrent.TimeUnit.SECONDS))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      corpus("a b")
      val fa = pool.submit(() => call())
      assert(writing.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val fb = pool.submit(() => call()) // same key while the write runs
      Thread.sleep(200)
      release.countDown()
      val d = fa.get(15, java.util.concurrent.TimeUnit.SECONDS)
      assert(fb.get(15, java.util.concurrent.TimeUnit.SECONDS) === d)
      assert(call() === d)
      assert(writes.get() === 1, "same-key calls must share one write")
      corpus("c d") // in-place rewrite: new files, new fingerprint
      val d2 = call()
      assert(d2 !== d)
      assert(writes.get() === 2, "a rewritten table must be written again")
      assert(call() === d2)
      assert(writes.get() === 2)
    } finally {
      pool.shutdownNow()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
