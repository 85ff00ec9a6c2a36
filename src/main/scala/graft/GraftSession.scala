package graft
import org.apache.spark.sql.SparkSession

/** The ONE local-session configuration every entry point runs
  * (Verify, Bench, the specs). A conf added here reaches
  * both the verified engine and the benchmarked engine at once — the
  * two mains used to carry verbatim copies of this block, and a conf
  * added to one but not the other would silently benchmark a different
  * engine than the one verified. The spec base builds its session here
  * too, so the specs run the engine that ships.
  *
  * Besides the SQL confs, the session's `file:` filesystem is
  * [[graft.exec.NioLocalFileSystem]] (`spark.hadoop.fs.file.impl`):
  * Hadoop's checksummed local filesystem with permission reads and
  * writes through `java.nio`.
  */
object GraftSession {

  def build(cpus: String, master: Option[String] = None): SparkSession = {
    // per-PROCESS warehouse: bucketed_join_colocated truncates and
    // rewrites saved tables in here, so two driver JVMs (a Bench run
    // beside a Verify loop) sharing one warehouse would race
    // truncate-vs-scan — the same two-JVM hazard PersistedState's
    // procTag exists for, fixed the same way
    val scratchWarehouse =
      System.getProperty("java.io.tmpdir") + "/graft_warehouse_" +
        java.lang.ProcessHandle.current().pid()
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      // object-buffer aggregates (grouped collect_list/collect_set,
      // percentile_approx) run in ObjectHashAggregateExec: let it keep
      // hashing far past its 128-group default before the sort-based
      // fallback (64k small per-group buffers stay tens of MB per
      // partition, and the fallback remains the graceful path beyond
      // that)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 65536)
      .config("spark.sql.warehouse.dir", scratchWarehouse)
      // local permission reads and writes as system calls, not a forked
      // `ls -ld`/`chmod` per file (this Hadoop has no libhadoop); the
      // driver's listings and footers and every executor's writes go
      // through the session's Hadoop conf, so they all take it
      .config("spark.hadoop.fs.file.impl", classOf[graft.exec.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The per-pid warehouse is garbage once this process ends (no later
    // run can reuse a dead pid's path) — reclaim it at exit instead of
    // accumulating one copy per bench/verify process until tmp fills.
    // GUARDED on the live session actually USING our scratch path:
    // warehouse.dir is a STATIC conf, so a getOrCreate that returned a
    // pre-existing session silently kept ITS warehouse — possibly real
    // user data — and registering the path the session reports would
    // recursively delete that at JVM exit. A mismatch also means every
    // other conf above silently didn't apply, so say so loudly.
    val live = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    if (java.nio.file.Paths.get(live).normalize() ==
        java.nio.file.Paths.get(scratchWarehouse).normalize())
      graft.exec.Fs.deleteOnExit(java.nio.file.Paths.get(live))
    else
      System.err.println(
        s"[graft] getOrCreate returned a PRE-EXISTING session (warehouse " +
          s"$live, not the per-process scratch): static confs — warehouse, " +
          "extensions, timezone — did NOT apply; its warehouse will not " +
          "be touched at exit")
    // testdata is read-only: persisted pipeline state goes to scratch
    // instead of its production default beside the corpus
    graft.ops.PersistedState.relocateToScratch(s)
    // pin derby.system.home BEFORE any code path can boot the embedded
    // engine: the home is consulted exactly once at first boot, and a
    // raw jdbc:derby: URL reached ahead of DerbyEnv would otherwise
    // drop derby.log into the process CWD for the rest of the JVM
    graft.exec.DerbyEnv.home
    s
  }
}
