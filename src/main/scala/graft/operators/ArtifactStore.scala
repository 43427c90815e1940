package graft.operators

import org.apache.spark.sql.SparkSession

/** Scratch-artifact plumbing shared by the persisted-index / codebook
  * queries (q285–q293): digest-named scratch roots, per-invocation
  * generation subdirectories, and a write-once materialization memo.
  *
  * Three round-12 ADVICE findings are closed here:
  *
  *  - scratch keys were the 32-bit `Tuple.hashCode` of (dir, params) —
  *    two corpus dirs could collide and silently share one temp
  *    directory. Keys are now a SHA-256 digest of the canonical
  *    parameter string ([[digest]]);
  *  - same-tag invocations OVERWROTE one directory, so a lazily-held
  *    plan over the previous generation could read deleted files or a
  *    wrong-generation artifact. Every handed-out output dir is now a
  *    fresh `gen_<n>` subdirectory ([[invocationDir]]) — immutable
  *    once written, valid for the lifetime of the JVM;
  *  - fixture-setup writes (the day-1 index a refresh/scrub consumes)
  *    were re-run and re-billed on every invocation. [[materialized]]
  *    runs a given writer AT MOST ONCE per (session, family, params,
  *    corpus fingerprint) — the memo discipline the round-12 verdict
  *    asked for (#5) — so the measured operator pays only its own
  *    O(novel) work on warm invocations.
  *
  * All scratch roots are deleted by ONE JVM shutdown hook; generation
  * dirs accumulate within a run (a few MB each at bench scale) and
  * are never deleted mid-run precisely so handed-out plans stay
  * valid. At 100 TB the analogues are immutable object-store
  * generations with lifecycle policies — the same write-once,
  * compact-later design q289 exercises.
  */
private[graft] object ArtifactStore {

  /** Collision-resistant scratch key: 16 hex chars of SHA-256 over
    * the NUL-joined parts (round-12 ADVICE — `Tuple.hashCode` is
    * 32 bits and collides across corpus dirs).
    */
  def digest(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  private val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { d =>
        try org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(d))
        catch { case _: Throwable => () }
      }))
  }

  private def root(family: String, key: String): java.nio.file.Path = {
    val p = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), s"graft_${family}_$key")
    scratchRoots.add(p.toString)
    p
  }

  private val gen = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh per-invocation output directory under the family's
    * digest-named root. Never reused, never overwritten — a returned
    * lazy plan over it stays valid until JVM exit.
    */
  def invocationDir(family: String, parts: String*): String =
    root(family, digest(parts: _*))
      .resolve(s"gen_${gen.incrementAndGet()}").toString

  /** The write-once artifact family: path values, so eviction needs no
    * release. The cap sits well above the 36 `materialized` call sites
    * and the keys their shared helpers fan out into, so one session's
    * artifacts over one corpus stay resident together; an evicted entry
    * is rewritten into a fresh generation on its next call, and its old
    * directory stays valid on disk.
    */
  private[graft] val artifacts = new Memo[String]("artifacts", cap = 256)

  /** Write-once materialization: runs `write(dir)` at most once per
    * (session, family, params, fingerprint of `table`) and returns the
    * directory; concurrent same-key callers wait for the first
    * writer, and the write runs OUTSIDE any map lock ([[Memo]]). A
    * failed write memoizes nothing, so a later call retries into a
    * fresh generation.
    */
  def materialized(s: SparkSession, family: String, table: MemoTable,
                   parts: String*)(write: String => Unit): String =
    artifacts.get(s, table, family +: parts: _*) {
      val d = invocationDir(family, parts: _*)
      write(d)
      d
    }
}
