package graft.operators

import java.nio.file.{Files, Path}

/** JVM-lifetime scratch directories. Operators that must materialize
  * an intermediate frame durably (e.g. [[Dedup.pairClusters]]) used to
  * leak one temp directory per call; directories created here are
  * registered once with a shutdown hook that deletes them recursively,
  * so repeated runs inside one JVM clean up after themselves. Deletion
  * is deferred to JVM exit on purpose — the caller returns a lazy
  * DataFrame whose scan lineage points at the scratch files.
  */
private[graft] object Scratch {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  @volatile private var hooked = false

  private def ensureHook(): Unit = if (!hooked) synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => drain(), "graft-scratch-cleanup"))
      hooked = true
    }
  }

  private def drain(): Unit = {
    var p = registered.poll()
    while (p != null) { deleteRecursively(p); p = registered.poll() }
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(c => deleteRecursively(c))
        finally children.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort on exit

  /** A fresh scratch directory, deleted recursively at JVM exit.
    *
    * Rooted in [[graft.GraftSession.localScratchRoot]] (RAM-backed
    * tmpfs when available) for the same reason shuffle files are:
    * checkpoint materializations are intermediate, JVM-scoped state
    * whose durability requirement is "survives until the downstream
    * scan", not "survives a crash" — paying variable virtio-disk
    * latency for them measures the hypervisor, not the operator. On a
    * cluster these would be `spark.local.dir`-style node-local paths
    * or an explicit durable checkpoint location chosen by the caller.
    */
  def dir(prefix: String): String = {
    ensureHook()
    val p = graft.GraftSession.localScratchRoot match {
      case Some(root) => Files.createTempDirectory(java.nio.file.Paths.get(root), prefix)
      case None       => Files.createTempDirectory(prefix)
    }
    registered.add(p)
    p.toString
  }

  private val reusable = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A STABLE scratch directory per prefix: the first call creates (and
    * registers for exit cleanup) a directory; every later call with the
    * same prefix returns the SAME path, so a staged write in
    * `overwrite` mode reclaims the previous invocation's files instead
    * of leaking one directory per call. For staging that is re-created
    * on every invocation of an operator (the graph tier stages 2–4
    * multi-GB materializations per key): a long in-process sweep —
    * bench's double execution, the 100× regression harness — would
    * otherwise accumulate hundreds of dead materializations on the
    * RAM-backed tmpfs root until JVM exit. Callers must consume the
    * returned scan before re-invoking the operator (all harnesses run
    * keys sequentially); a caller that needs two live stagings of the
    * same kind concurrently uses [[dir]]. */
  def reuseDir(prefix: String): String =
    reusable.computeIfAbsent(prefix, p => dir(p))

  /** Materialize `df` into the [[reuseDir]] for `prefix` and return a
    * scan over it — the staging idiom (write + schema'd read-back)
    * shared by the corpus-sized stagings (graph corner passes, the
    * minhash guard's bucket frame, source-sim shingles). Reuse
    * semantics as [[reuseDir]]: one directory per prefix per JVM,
    * overwritten on re-invocation, so sweeps that re-run operators
    * don't accumulate dead multi-GB materializations on tmpfs.
    * Callers needing two live stagings of one prefix use [[dir]]. */
  def stageReuse(df: org.apache.spark.sql.DataFrame, prefix: String)
      : org.apache.spark.sql.DataFrame = {
    val path = reuseDir(prefix)
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Materialize `df` into a fresh per-call [[dir]] and return the
    * directory with a schema'd scan over it: [[stageReuse]]'s idiom
    * without the shared directory, so two concurrent callers never
    * overwrite each other's staging. For a scan that outlives the call
    * (a returned lazy frame); the caller [[release]]s the directory
    * once every consumer is done, or leaves it to the exit hook. */
  def stageFresh(df: org.apache.spark.sql.DataFrame, prefix: String)
      : (String, org.apache.spark.sql.DataFrame) = {
    val path = dir(prefix)
    df.write.mode("overwrite").parquet(path)
    (path, df.sparkSession.read.schema(df.schema).parquet(path))
  }

  /** Materialize `df` into a fresh per-call [[dir]], hand a scan over
    * it to `use`, and delete the directory once `use` returns — staging
    * that two concurrent callers never share (unlike [[stageReuse]]).
    * `use` must finish consuming the scan before it returns. */
  def staged[A](df: org.apache.spark.sql.DataFrame, prefix: String)
               (use: org.apache.spark.sql.DataFrame => A): A = {
    val path = dir(prefix)
    try {
      df.write.mode("overwrite").parquet(path)
      use(df.sparkSession.read.schema(df.schema).parquet(path))
    } finally release(path)
  }

  /** Eagerly delete a scratch directory from [[dir]]/[[diskDir]] whose
    * consumer is DONE with it (all scans materialized) — long-lived
    * processes that stage per-call (the manifest delta publisher under
    * a streaming sink: one staging per micro-batch for a JVM that
    * lives for weeks) cannot defer to the exit hook, nor let its
    * exit-hook queue grow per call. Best-effort. */
  def release(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    deleteRecursively(p)
    registered.remove(p)
  }

  /** A fresh DISK-backed scratch directory (java.io.tmpdir), with the
    * same shutdown-hook cleanup as [[dir]]. For multi-GB scratch — the
    * ScaleCheck corpora run to ~15 GB — which would ENOSPC a
    * RAM-backed tmpfs root shared with `spark.local.dir` shuffle
    * space: tmpfs capacity is host RAM, while plain disk temp space is
    * plentiful, and a bulk corpus write is exactly the workload whose
    * latency the tmpfs root exists to avoid measuring. */
  def diskDir(prefix: String): String = {
    ensureHook()
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  /** Materialize `df` to a fresh scratch dir, release `handle`'s cache
    * pin, and return a scan over the materialized rows. The driver-key
    * entry points of the cache-carrying operators use this: the
    * persisted frame earns its keep DURING the one materializing
    * action (several plan branches read it), then dies with the call —
    * a verify/bench session that runs every key no longer accumulates
    * one pinned corpus-sized cache per key in the session CacheManager
    * (r7 advice). The read takes the frame's own schema explicitly so
    * an empty result (zero written part files) round-trips instead of
    * failing schema inference. */
  def materializeAndRelease(df: org.apache.spark.sql.DataFrame,
                            handle: org.apache.spark.sql.DataFrame,
                            prefix: String): org.apache.spark.sql.DataFrame = {
    val (_, scan) = stageFresh(df, prefix)
    handle.unpersist()
    scan
  }
}
