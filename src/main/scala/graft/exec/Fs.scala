package graft.exec

/** Local-filesystem scratch helpers shared by the mains and the ops
  * layer — Verify's stale-result cleanup, the streaming replays'
  * sink/checkpoint teardown, and the spec base all need the same
  * recursive delete, and per-file copies of the walk meant a fix to one
  * (fd handling, ordering) left the others divergent.
  */
object Fs {

  /** Recursive delete, children before parents, BEST-EFFORT PER PATH;
    * no-op on a missing root. The walk's paths are collected and the
    * stream closed BEFORE any delete runs — `Files.walk` holds an open
    * directory fd per level, and deleting under a live stream is
    * platform-dependent.
    *
    * Per-path tolerance matters because this is always a CLEANUP path:
    * one undeletable entry (a root-owned stale dir from a prior run as
    * another user; a state-store maintenance thread recreating a
    * snapshot between walk and delete, making the parent non-empty)
    * used to abort the remaining deletes AND propagate — failing a
    * verify pass before any query ran, or flaking a streaming replay
    * whose work had already succeeded. Now every path is attempted,
    * and residue is reported to stderr instead of thrown: a cleanup
    * must never turn completed work into a failure.
    */
  def deleteTree(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      var failed = 0
      var firstErr: Throwable = null
      paths.foreach { p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case scala.util.control.NonFatal(e) =>
          failed += 1; if (firstErr == null) firstErr = e
        }
      }
      // a parent that failed only because a child delete failed is not
      // a second error worth counting twice, but residue is residue —
      // say ONCE what was left and why
      if (failed > 0)
        System.err.println(
          s"[fs] deleteTree left $failed path(s) under $root (first: $firstErr)")
    }
  }

  /** Base directory for THROWAWAY run-scoped scratch (streaming replay
    * sinks + checkpoints, CDC staging): `SPARK_GRAFT_SCRATCH` when set,
    * else a RAM-backed tmpfs (`/dev/shm`) when one is writable, else
    * `java.io.tmpdir`. The replay scratch is deleted inside the same
    * invocation that created it, so cross-process durability was never
    * part of its contract — but every micro-batch pays the checkpoint
    * WAL's create-write-rename cycle and the state store's delta-file
    * churn against this filesystem, a fixed per-batch I/O cost that a
    * disk-backed /tmp charges to every replay. A deployment whose
    * checkpoints must survive the machine sets SPARK_GRAFT_SCRATCH (or
    * uses the real pipeline entrypoints, which take explicit checkpoint
    * locations). Resolved once per JVM; `/dev/shm` counts only with at
    * least [[MinShmBytes]] usable (see [[chooseScratch]]).
    */
  lazy val scratchBase: java.nio.file.Path = {
    val base = chooseScratch(sys.env.get("SPARK_GRAFT_SCRATCH"),
      java.nio.file.Paths.get("/dev/shm"), MinShmBytes)
    java.nio.file.Files.createDirectories(base)
    base
  }

  /** The usable space `/dev/shm` must have before scratch prefers it:
    * Docker's default `--shm-size` of 64 MB fills mid-replay, long
    * before a disk-backed tmpdir would. */
  private val MinShmBytes: Long = 1L << 30

  /** [[scratchBase]]'s choice: `explicit` when set, else `shm` when it is
    * a writable directory with at least `minUsable` bytes usable, else
    * `java.io.tmpdir`. */
  private[graft] def chooseScratch(explicit: Option[String],
      shm: java.nio.file.Path, minUsable: Long): java.nio.file.Path =
    explicit.map(java.nio.file.Paths.get(_))
      .orElse(Some(shm).filter(d => java.nio.file.Files.isDirectory(d) &&
        java.nio.file.Files.isWritable(d) &&
        d.toFile.getUsableSpace >= minUsable))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir", "/tmp")))

  /** A fresh throwaway scratch directory under [[scratchBase]] —
    * drop-in for `Files.createTempDirectory(prefix)` at the replay
    * sites, same uniqueness contract. */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchBase, prefix)

  private val exitPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      exitPaths.forEach(p =>
        try deleteTree(p) catch { case _: Exception => () })
    }, "graft-scratch-cleanup"))

  /** Register a per-PROCESS scratch root for best-effort deletion at JVM
    * exit. The per-pid naming that makes these roots race-free across
    * concurrent drivers also makes them garbage the moment this process
    * ends — no later run can ever reuse a path keyed by a dead pid, so
    * without the hook a bench loop accumulates one warehouse + staging
    * copy per process until tmp fills. */
  def deleteOnExit(path: java.nio.file.Path): Unit = {
    exitHook
    exitPaths.add(path)
  }
}
