package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared cross-query memo (Graph.lpMemo, TextAnalysis.bpeMemo /
  * frozenMemo, Similarity.coresetMemo): an access-ordered LRU map
  * whose VALUES are computed OUTSIDE the map lock — the round-12
  * ADVICE fix for the old pattern, which ran a full multi-job
  * training loop inside one global `synchronized` block and
  * serialized unrelated concurrent queries and sessions behind it.
  *
  * Mechanics: the map holds lazily-evaluated cells; `get` reserves a
  * cell under the lock (evicting the LRU entry when at capacity) and
  * then forces the cell's value outside it, so only same-key callers
  * block on each other (on the cell's own initializer lock) while
  * different keys compute concurrently. A throwing compute leaves
  * the cell in place and Scala's lazy-val semantics retry it on the
  * next access — a transient failure never poisons the key.
  *
  * Eviction discipline (the round-9/10 adjudicated contract,
  * unchanged): evict ONE LRU entry, releasing its checkpoint blocks
  * via `release`; entries whose value reports `dead` (owning context
  * stopped — blocks died with it) are purged on every access. Only
  * COMPLETED entries are eviction candidates: evicting an in-flight
  * cell would orphan its result's blocks and let a same-key racer
  * start a duplicate compute — instead the map briefly exceeds `cap`
  * by the number of concurrently-computing keys.
  */
private[graft] final class GraftMemo[K, V](cap: Int,
                                           release: V => Unit = (_: V) => (),
                                           dead: V => Boolean = (_: V) => false) {

  private final class Cell(f: () => V) {
    @volatile var done = false
    lazy val value: V = { val v = f(); done = true; v }
  }

  private val m =
    new java.util.LinkedHashMap[K, Cell](math.max(cap, 4), 0.75f, true)

  private def releaseQuiet(c: Cell): Unit =
    if (c.done) { try release(c.value) catch { case _: Throwable => () } }

  def get(key: K)(f: => V): V = {
    var evicted: Cell = null
    val cell = m.synchronized {
      m.entrySet().removeIf(e => e.getValue.done &&
        (try dead(e.getValue.value) catch { case _: Throwable => true }))
      val hit = m.get(key)
      if (hit != null) hit
      else {
        if (m.size >= cap) {
          // evict the LRU COMPLETED entry only: evicting an in-flight
          // cell would orphan its result's checkpoint blocks AND let a
          // same-key racer start a duplicate compute (review finding).
          // With every entry in flight the map briefly exceeds cap —
          // bounded by the number of concurrently-computing keys.
          val it = m.entrySet().iterator()
          var victim: java.util.Map.Entry[K, Cell] = null
          while (victim == null && it.hasNext) {
            val e = it.next()
            if (e.getValue.done) victim = e
          }
          if (victim != null) {
            evicted = victim.getValue
            m.remove(victim.getKey)
          }
        }
        val c = new Cell(() => f)
        m.put(key, c)
        c
      }
    }
    // the victim's blocks are released outside the map lock so a slow
    // release never serializes other keys
    if (evicted != null) releaseQuiet(evicted)
    cell.value
  }

  def clear(): Unit = {
    val vs = m.synchronized {
      val out = new java.util.ArrayList[Cell](m.values())
      m.clear()
      out
    }
    vs.forEach(releaseQuiet)
  }
}

/** Releases the block-manager residue behind a localCheckpoint'd
  * DataFrame: it is a LogicalRDD over a persisted RDD, and dropping the
  * DataFrame reference alone leaves the checkpoint blocks to eventual
  * GC + ContextCleaner (round-10 ADVICE). The memos pass it as their
  * eviction `release`; the BPE and HITS loops call it on each
  * superseded round. Best effort: a release failure degrades to the
  * old GC path, never to an error on the query path.
  */
private[graft] object CheckpointBlocks {
  def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }
}

/** Release-after-first-materialization for FINGERPRINT-BYPASS results
  * (round-12 ADVICE): when a corpus fingerprint is unavailable, the
  * memos compute without caching — but the computed result is a
  * localCheckpoint'd DataFrame whose blocks the memo would normally
  * own and release on eviction. A bypassed result had NO owner, so
  * its checkpoint blocks leaked until session end.
  *
  * [[adopt]] records the result's checkpoint RDDs and registers (once
  * per session) a QueryExecutionListener that unpersists them as soon
  * as a query materializing the plan completes SUCCESSFULLY — the
  * "consumed within the requesting query" ownership contract the
  * memos already document, applied to the ownerless path. A failed
  * action keeps the blocks so a retry of the same plan still works;
  * a bypass caller that needs MULTIPLE successful actions over one
  * result must checkpoint its own copy (same contract as holding a
  * memo value across evictions). Best-effort throughout: a sweep
  * failure degrades to the old leak-until-session-end, never to an
  * error on the query path.
  */
private[graft] object CheckpointOrphans {

  private val orphans =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def adopt(df: DataFrame): DataFrame = {
    try {
      val rdds = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      if (rdds.nonEmpty) {
        rdds.foreach(orphans.add)
        val s = df.sparkSession
        if (hooked.add(MemoKey.session(s)))
          s.listenerManager.register(
            new org.apache.spark.sql.util.QueryExecutionListener {
              override def onSuccess(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  durationNs: Long): Unit = sweep(qe)
              // a FAILED action keeps the blocks (review finding): the
              // caller's retry of the same plan must still find its
              // lineage-truncated checkpoint — release only after a
              // successful materialization
              override def onFailure(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  exception: Exception): Unit = ()
            })
      }
    } catch { case _: Throwable => () }
    df
  }

  private def sweep(
      qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    try {
      qe.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD
          if orphans.remove(lr.rdd) =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case _: Throwable => () }

  /** Test hook: the number of still-unreleased orphans. */
  private[graft] def pending: Int = orphans.size()
}
