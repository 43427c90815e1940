package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.graftshim.TaskCpuMeter

/** One workload of the benchmark: a closed loop with one client. */
trait Workload {
  def name: String
  /** Generates or checks the inputs; part of set-up. */
  def prepare(spark: SparkSession): Unit
  /** The calls of one pass, in order. Pass 0 is the untimed warm-up. */
  def pass(passIdx: Int): Seq[String]
  /** Runs one call and returns its output check, which runs after the
    * clock stops.
    */
  def call(spark: SparkSession, callName: String, trace: Tracer): () => Boolean
  /** Hygiene between calls. */
  def cleanup(spark: SparkSession): Unit
  /** Wall seconds of one warm pass on the reference machine (4 vCPUs). */
  def nominalPassS: Double
  /** What one successful call delivers: a recording's input samples, a
    * query's result rows. Fixed per call, so a change that avoids work
    * cannot lower the throughput it gives.
    */
  def samples(callName: String): Long
}

/** Spans of a traced run, kept in memory and written out when it ends.
  * Untraced, `span` only runs its body.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, call: Int, name: String, startNs: Long, endNs: Long)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var lastId = 0
  private var callId = 0
  /** Runs when a span ends, before the next one starts. */
  var atSpanEnd: String => Unit = _ => ()

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack ::= id
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, callId, name, t0, System.nanoTime())
        stack = stack.tail
        atSpanEnd(name)
      }
    }

  def call[T](id: Int)(f: => T): T = { callId = id; span("call")(f) }

  /** Seconds spent in spans of this name, less the time their children cover. */
  def selfSeconds(name: String): Double = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.filter(_.name == name).map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** One timed call as the end-to-end metrics see it: wall time and the
  * task CPU of the call alone, without its output check.
  */
final case class CallRecord(name: String, wallS: Double, cpuS: Double, ok: Boolean)

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
                        work: String = ".work", sf: String = "", expected: String = "",
                        record: String = "")

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--sf" :: v :: t => parse(t, a.copy(sf = v))
    case "--expected" :: v :: t => parse(t, a.copy(expected = v))
    case "--record" :: v :: t => parse(t, a.copy(record = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv.toList)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(a: Args): Unit = {
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    val spark = Session.build(cpus, a.work)
    val sc = spark.sparkContext
    val cpu = TaskCpuMeter.attach(sc)

    if (a.record.nonEmpty) return record(spark, a)

    val wl: Workload = a.workload match {
      case "recordings" => new Recordings(a.seed, a.work)
      case "query_mix" => new Queries(a.seed, a.sf, Queries.load(a.expected))
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    wl.prepare(spark)

    var nextId = 0
    var layers: Option[LayerMeter] = None
    val layerCalls = ArrayBuffer.empty[(String, Map[String, Double])]

    def runCall(q: String, trace: Tracer): CallRecord = {
      nextId += 1
      val tag = s"graftbench-call-$nextId"
      layers.foreach { l => TaskCpuMeter.drain(sc); l.begin(tag) }
      var buildJobs = 0.0
      trace.atSpanEnd = n =>
        if (n == "entry") layers.foreach { l => TaskCpuMeter.drain(sc); buildJobs = l.count("scheduler.jobs") }
      val pc0 = if (trace.on) ProcessCounters.read() else Map.empty[String, Double]
      val startMs = System.currentTimeMillis()
      sc.addJobTag(tag)
      val cpu0 = cpu.snapshotNs()
      val c0 = System.nanoTime()
      var wall, cpuS = 0.0
      var stopped = false
      // Reads the meters once, when the call returns and before its output
      // check runs, so that the check's jobs count in none of them.
      def stop(): Unit = if (!stopped) {
        stopped = true
        wall = (System.nanoTime() - c0) / 1e9
        cpuS = (cpu.snapshotNs() - cpu0) / 1e9
        layers.foreach { l =>
          val (counts, intervals) = l.end()
          val pc1 = ProcessCounters.read()
          val process = pc1.map { case (k, v) => k -> (v - pc0(k)) }
          val endMs = startMs + (wall * 1000).toLong
          val busyMs = covered(intervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) })
          layerCalls += q -> (counts ++ process ++ Map(
            "codegen.class_kb" -> process("codegen.classes") * ProcessCounters.classMeanKb,
            "scheduler.no_task_s" -> math.max(0.0, wall - busyMs / 1e3),
            "entry.build_jobs" -> buildJobs))
        }
      }
      val ok =
        try {
          val check = trace.call(nextId)(wl.call(spark, q, trace))
          stop()
          check()
        } catch {
          case e: Throwable =>
            stop()
            System.err.println(s"[graftbench] $q failed: $e")
            false
        } finally {
          sc.removeJobTag(tag)
          wl.cleanup(spark)
        }
      CallRecord(q, wall, cpuS, ok)
    }

    // Set-up: session (above), inputs, and one untimed warm-up pass.
    val warm = wl.pass(0).map(runCall(_, new Tracer(false)))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] setup ${setupS}%.2f s, warm-up calls ${warm.map(c => f"${c.name}=${c.wallS}%.2f").mkString(" ")}")

    // A fixed number of passes, sized from `seconds` and the workload's
    // nominal pass time: a time-limited loop let host noise change the pass
    // count, and later passes run faster, so the count moved the metrics.
    def timed(seconds: Double, firstPass: Int, trace: Tracer): (Vector[CallRecord], Int) = {
      val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
      val calls = (firstPass until firstPass + passes).flatMap(p => wl.pass(p).map(runCall(_, trace)))
      (calls.toVector, passes)
    }

    val untracedSeconds = if (a.trace) a.seconds / 2 else a.seconds
    val (calls, passes) = timed(untracedSeconds, 1, new Tracer(false))
    val busyS = calls.map(_.wallS).sum
    val callsPerS = calls.size / busyS
    val samples = calls.filter(_.ok).map(c => wl.samples(c.name)).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("calls_per_s", callsPerS, "1/s"),
      ("call_p50_s", median(calls.map(_.wallS)), "s"),
      ("samples_per_s", samples / busyS, "1/s"),
      ("task_cpu_s", calls.map(_.cpuS).sum / passes, "s"),
      ("rss_peak_mb", ProcessCounters.rssPeakMb, "MB"))

    val (metrics, tracedCalls) =
      if (!a.trace) (e2e, Vector.empty[CallRecord])
      else {
        val l = new LayerMeter
        sc.addSparkListener(l)
        spark.listenerManager.register(l)
        spark.streams.addListener(l.streams)
        layers = Some(l)
        val tracer = new Tracer(true)
        ProcessCounters.resetHeapPeak()
        val (tcalls, _) = timed(a.seconds - untracedSeconds, 1 + passes, tracer)
        val heapPeak = ProcessCounters.heapPeakMb
        tracer.write(s"${a.work}/trace-${a.workload}-seed${a.seed}.jsonl")
        (layerMetrics(tcalls, layerCalls.toVector, tracer, l.dataTriggers, heapPeak, callsPerS), tcalls)
      }

    val attempted = calls ++ tracedCalls
    val failed = attempted.count(!_.ok) + warm.count(!_.ok)
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }
      .mkString(s"""{"correct":${failed == 0},"attempted":${attempted.size},"failed":$failed,"metrics":{""", ",", "}}")
    System.err.println(f"[graftbench] ${a.workload}: ${attempted.size} timed calls, $failed failed, " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s since start; ${attempted.map(c => f"${c.name}=${c.wallS}%.2f").mkString(" ")}")
    spark.stop()
    println(json)
  }

  /** Total length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1

  private val perCall = Seq(
    "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count",
    "entry.build_jobs" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms", "codegen.class_kb" -> "KB",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.no_task_s" -> "s",
    "executor.cpu_s" -> "s", "executor.run_s" -> "s", "executor.gc_s" -> "s", "executor.spill_mb" -> "MB",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "streaming.triggers" -> "count", "streaming.data_triggers" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "jvm.proc_cpu_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms")

  /** Per-layer metrics of the traced calls, each per call unless its
    * name says otherwise.
    */
  private def layerMetrics(calls: Seq[CallRecord], layerCalls: Seq[(String, Map[String, Double])],
                           tracer: Tracer, dataTriggerMs: Seq[Long], heapPeakMb: Double,
                           untracedCallsPerS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, layerCalls.size).toDouble
    def total(k: String): Double = layerCalls.map(_._2.getOrElse(k, 0.0)).sum
    val memo = layerCalls.filter { case (q, _) => Queries.memoized(q) }
    val signal = Seq("smoothing", "envelopes", "peakdetect", "beatmetrics").map(l => (s"$l.self_s", tracer.selfSeconds(l) / n, "s"))
    val tracedCallsPerS = calls.size / calls.map(_.wallS).sum
    signal ++ Seq(("entry.build_s", tracer.selfSeconds("entry") / n, "s"),
      ("entry.memo_hit_ratio", if (memo.isEmpty) 0.0 else memo.count(_._2("entry.build_jobs") == 0).toDouble / memo.size, "ratio")) ++
      perCall.map { case (k, u) => (k, total(k) / n, u) } ++ Seq(
      ("streaming.data_trigger_ratio",
        if (total("streaming.triggers") == 0) 0.0 else total("streaming.data_triggers") / total("streaming.triggers"), "ratio"),
      ("streaming.trigger_p50_ms", median(dataTriggerMs.map(_.toDouble)), "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_pct", (untracedCallsPerS / tracedCallsPerS - 1) * 100, "%"))
  }

  /** Writes the expectations file: each query of the mix run once. */
  private def record(spark: SparkSession, a: Args): Unit = {
    val lines = Queries.queryMix.map { q =>
      val t0 = System.nanoTime()
      val d = Queries.digest(graft.SparkEntry.queries(q)(spark, a.sf))
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.err.println(f"[graftbench] $q: $d (${(System.nanoTime() - t0) / 1e9}%.2f s)")
      s"$q\t${d.rows}\t${d.hash}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.record), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
