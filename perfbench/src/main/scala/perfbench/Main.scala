package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, TimestampNTZType, TimestampType}
import graft.{Copy, GraftSession, SparkEntry, Verify}
import graft.exec.{DerbyEnv, Fs, Pipeline, Scans, Sinks}
import graft.meta.Catalog
import graft.model._
import graft.plan.{Analyzer, PlanConfig}

/** Benchmark driver JVM. Runs one workload over the inputs `run.py`
  * generated and writes one JSON record of raw per-operation measurements;
  * `run.py` makes the oracle check and aggregates.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE
  */
object Main {

  final case class Opts(workload: String, seconds: Double, trace: Boolean,
      data: String, work: String, out: String)

  /** One measured operation: a copy operation (two `Copy.run`s), its traced
    * replay, or one pass over the ops_mix keys. `attempted`/`failed` count checked outputs. */
  final case class Op(kind: String, ok: Boolean, secs: Double, attempted: Int,
      failed: Int, metrics: Map[String, Double])

  /** The operator-library keys of ops_mix: the native text/similarity
    * kernels (minhash, cosine, quality scoring), a shuffle join, a window
    * sessionizer and a streaming replay into a Derby table
    * (`graft.streaming.EventStreams.streamToJdbc`, checkpoint and database
    * under the pinned scratch root). */
  val OpsKeys: Seq[String] = Seq(
    "dedup_minhash_lsh", "sim_brute_force_topk", "text_quality_score",
    "join_shuffle_fact", "events_sessionize", "events_stream_jdbc_sink")

  /** Session set-ups per run; the first pays class loading, the median is
    * reported. */
  val SetupReps = 3

  def clock(): Double = System.nanoTime() / 1e9

  /** Seconds of CPU time the hypervisor took from this machine's vCPUs
    * (the `steal` column of /proc/stat, in 1/100 s ticks). */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // exit explicitly: streaming and Derby leave non-daemon threads behind
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"))
  }

  def run(o: Opts): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = clock()
      spark = GraftSession.build(cpus)
      spark.range(1000).selectExpr("sum(id)").collect()
      setup += clock() - t0
    }
    log(s"set-up ${setup.map(x => f"$x%.2f").mkString(" ")} s")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val bench = new Bench(spark, probe, o, cpus.toInt)
    val ops = o.workload match {
      case "copy_catalog" => bench.copies()
      case "ops_mix"      => bench.opsMix()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("setup_s", setup.asJava)
    rec.put("ops", ops.map { op =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("kind", op.kind); m.put("ok", op.ok); m.put("secs", op.secs)
      m.put("attempted", op.attempted); m.put("failed", op.failed)
      m.put("metrics", op.metrics.asJava)
      m
    }.asJava)
    rec.put("key_executions", bench.keyExecutions.asJava)
    rec.put("key_failures", bench.keyFailures.asJava)
    rec.put("session_cpus", cpus.toInt)
    rec.put("heap_max_mb", Runtime.getRuntime.maxMemory() / 1e6)
    rec.put("spark_version", spark.version)
    spark.stop()
    Files.writeString(Paths.get(o.out),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(rec))
  }
}

object Bench {
  /** copy_catalog's `Copy.run` arguments: six of the ten declared tables,
    * each destination declared with its source's storage. A batch of 5000
    * rows puts the multi-file LINEITEM on the per-slice physical union,
    * events on the logical hash fan-out and orders/customer on
    * Whole+ordered; customer, supplier and orders carry identity columns,
    * embeddings an array column. The four left out (region, nation, part,
    * documents) take none of these paths and would add only their per-table
    * fixed costs to a run that has to stay short. */
  val Patterns: Seq[String] = Seq(
    "customer", "supplier", "orders", "lineitem", "events", "embeddings")
  val Conf: PlanConfig = PlanConfig(batchSize = 5000)
  val DestMeta: Map[String, TableMeta] = Catalog.tableNames.map { t =>
    val d = Catalog.declared(t)
    t -> Pipeline.cleanDest(d, d.storage)
  }.toMap

  /** The second leg of each copy operation: ORDERS into an embedded Derby
    * database (batched INSERTs, a commit per partition, `COUNT(*)`
    * reconciliation) with truncate-tables on. The database lives under the
    * pinned scratch root; its table is created by the warm-up copy, before
    * any timed one. */
  val JdbcPatterns: Seq[String] = Seq("orders")
  lazy val JdbcUrl: String = s"jdbc:derby:${DerbyEnv.home}/perfbench;create=true"
  def jdbcProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
}

/** The workloads. Every operation is checked outside its timed region; a
  * failed check counts in `failed` and yields no time. */
final class Bench(spark: SparkSession, probe: Probe, o: Main.Opts, cpus: Int) {
  import Main.{Op, clock, log}

  val keyExecutions = mutable.LinkedHashMap.empty[String, Int]
  val keyFailures = mutable.LinkedHashMap.empty[String, Int]

  private val gc = new GcProbe
  private val sysCpus = Runtime.getRuntime.availableProcessors()
  private val work = Paths.get(o.work)
  private val data = Paths.get(o.data)

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counter deltas of one operation, as per-layer metrics. */
  private def counterMetrics(d: Counters, wallS: Double, busyS: Double,
      srcRows: Long, srcFiles: Long): Map[String, Double] = Map(
    "spark.jobs" -> d.jobs.toDouble,
    "spark.task_attempt_ratio" ->
      (if (d.taskSuccesses > 0) d.taskAttempts.toDouble / d.taskSuccesses else 0.0),
    "driver.plan_ms" -> d.planMs.toDouble,
    "driver.idle_gap_s" -> math.max(0.0, wallS - busyS),
    "exec.run_s" -> d.runMs / 1e3,
    "exec.cpu_s" -> d.cpuNs / 1e9,
    "exec.gc_s" -> d.gcMs / 1e3,
    "exec.busy_share" -> d.runMs / 1e3 / (wallS * cpus),
    "sched.delay_s" -> d.schedDelayMs / 1e3,
    "scan.read_amplification" -> (if (srcRows > 0) d.recordsRead.toDouble / srcRows else 0.0),
    "scan.files_opened_ratio" -> (if (srcFiles > 0) d.scanFiles.toDouble / srcFiles else 0.0),
    "scan.input_mb" -> d.scanBytes / 1e6,
    "exchange.shuffle_write_mb" -> d.shuffleWriteBytes / 1e6,
    "sort.spill_mb" -> d.spillDiskBytes / 1e6,
    "sink.files_written" -> d.writeFiles.toDouble,
    "sink.bytes_written_mb" -> d.writeBytes / 1e6,
    "sink.rows_written_ratio" -> (if (srcRows > 0) d.recordsWritten.toDouble / srcRows else 0.0))

  /** Run `body` between two drained counter snapshots: (result, seconds,
    * counter delta, seconds during which a job ran, process metrics). The
    * process metrics are the share of the machine's CPU time the
    * hypervisor took meanwhile, the largest heap
    * occupancy left after a collection during the operation, and the live
    * heap after a full collection at its end. */
  private def measured[T](body: => T): (T, Double, Counters, Double, Map[String, Double]) = {
    // every operation starts from a collected heap
    System.gc()
    gc.reset()
    drain()
    val before = probe.snapshot()
    val e0 = System.currentTimeMillis()
    val steal0 = Main.stealSeconds()
    val t0 = clock()
    val r = body
    val secs = clock() - t0
    val steal = Main.stealSeconds() - steal0
    val e1 = System.currentTimeMillis()
    drain()
    val live = gc.liveMb()
    val proc = Map("host.steal_share" -> steal / (secs * sysCpus),
      "peak_heap_mb" -> math.max(gc.peakMb, live), "jvm.live_heap_mb" -> live)
    (r, secs, probe.snapshot() - before, probe.busyMs(e0, e1) / 1e3, proc)
  }

  /** Operations until `o.seconds` have passed, and at least `minOps`. */
  private def loop(minOps: Int)(op: Int => Unit): Unit = {
    val deadline = clock() + o.seconds
    var i = 0
    while (i < minOps || clock() < deadline) { op(i); i += 1 }
  }

  private def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet") &&
        !p.relativize(f).iterator().asScala.exists(s =>
          s.toString.startsWith("_") || s.toString.startsWith("."))).toList
      finally w.close()
    }

  // ----------------------------------------------------------------------
  // copy workloads
  // ----------------------------------------------------------------------

  /** A fresh source path over the same bytes (hard links), so each copy
    * pays the catalog phase and file listing a new process pays. */
  private def freshSource(name: String): Path = {
    def link(from: Path, to: Path): Unit =
      if (Files.isDirectory(from)) {
        Files.createDirectories(to)
        Files.list(from).iterator().asScala.toList.foreach(f => link(f, to.resolve(f.getFileName)))
      } else Files.createLink(to, from)
    val root = work.resolve(name)
    link(data, root)
    root
  }

  /** Order-independent content hash: row count and the sum of a 64-bit
    * row hash over all columns in name order, timestamps as epoch µs.
    * With `digits`, floating-point values (also inside arrays) are rounded
    * to that many decimals first, so a result recomputed with another
    * summation order hashes the same. */
  private def contentHash(df: DataFrame,
      digits: Option[Int] = None): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.toSeq.map { c =>
      (df.schema(c).dataType, digits) match {
        case (TimestampType | TimestampNTZType, _) => unix_micros(col(c).cast("timestamp"))
        case (DoubleType | FloatType, Some(n)) => round(col(c).cast("double"), n)
        case (ArrayType(DoubleType | FloatType, _), Some(n)) =>
          transform(col(c), x => round(x.cast("double"), n))
        case _ => col(c)
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The hash an ops_mix result is checked by. */
  private def hashOf(df: DataFrame) = contentHash(df, Some(6))

  /** Content hashes of `tables` under `dir`, one Spark job per table, run
    * `cpus` at a time. */
  private def hashes(dir: String, tables: Seq[String]): Map[String, (Long, java.math.BigDecimal)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = tables.map(t => Future(t -> contentHash(spark.read.parquet(s"$dir/$t.parquet"))))
      Await.result(Future.sequence(fs), Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** One copy operation is two `Copy.run`s, each over a fresh source
    * path: all declared tables to parquet destinations, then ORDERS into
    * the Derby database. Both destinations are checked afterwards, the
    * Derby table read back over JDBC. */
  def copies(): Seq[Op] = {
    val tables = Pipeline.expandTableList(Bench.Patterns)
    val jdbcTables = Pipeline.expandTableList(Bench.JdbcPatterns)
    // lazy: first needed by the warm-up copy's check, so the cold start of
    // the first Spark jobs falls into the untimed warm-up
    lazy val expected = hashes(data.toString, tables)
    val srcFiles = tables.flatMap(t => dataFiles(data.resolve(s"$t.parquet")))
    val sourceBytes = srcFiles.map(Files.size).sum
    // rows and files both legs read
    lazy val sourceRows = (tables ++ jdbcTables).map(expected(_)._1).sum
    val opFiles = srcFiles.size +
      jdbcTables.flatMap(t => dataFiles(data.resolve(s"$t.parquet"))).size

    def one(name: String, kind: String): Op = {
      val src = freshSource(s"src_$name").toString
      val jsrc = freshSource(s"srcj_$name").toString
      val dst = work.resolve(s"dst_$name").toString
      val ((code, spans), secs, d, busy, proc) = measured {
        try {
          if (kind == "traced") tracedCopy(tables, jdbcTables, src, jsrc, dst)
          else {
            val c = Copy.run(spark, src, dst, Bench.Patterns, Bench.Conf, Bench.DestMeta,
              truncateTables = true, safeCheck = "readonly", syncIdentity = true)
            (if (c != 0) c
             else Copy.run(spark, jsrc, Bench.JdbcUrl, Bench.JdbcPatterns, Bench.Conf,
               Bench.DestMeta, truncateTables = true, safeCheck = "readonly"),
             Map.empty[String, Double])
          }
        } catch { case e: Exception =>
          log(s"copy $name threw: $e")
          (-1, Map.empty[String, Double])
        }
      }
      val ok = code == 0 && {
        try {
          val got = hashes(dst, tables) ++ jdbcTables.map(t => s"jdbc:$t" ->
            contentHash(spark.read.jdbc(Bench.JdbcUrl, t, Bench.jdbcProps)))
          val want = expected ++ jdbcTables.map(t => s"jdbc:$t" -> expected(t))
          want.keys.filter(t => got(t) != want(t)).foreach(t =>
            log(s"content mismatch on $t: ${got(t)} != ${want(t)}"))
          got == want
        } catch { case e: Exception => log(s"check of copy $name threw: $e"); false }
      }
      val destBytes = tables.flatMap(t => dataFiles(Paths.get(s"$dst/$t.parquet"))).map(Files.size).sum
      log(f"$kind copy $name: $secs%.3f s, exit $code, ok $ok")
      val m = counterMetrics(d, secs, busy, sourceRows, opFiles) ++ proc ++ spans +
        ("sink.dest_bytes_ratio" -> destBytes.toDouble / sourceBytes)
      Seq(src, jsrc, dst).foreach(p => Fs.deleteTree(Paths.get(p)))
      Op(kind, ok, secs, 1, if (ok) 0 else 1, m)
    }

    // JIT warm-up on a path of its own, checked but never timed
    val ops = mutable.ArrayBuffer(one("warm", "warmup"))
    if (o.trace) loop(1) { i => ops += one(s"u$i", "untraced"); ops += one(s"t$i", "traced") }
    else loop(2) { i => ops += one(s"$i", "untraced") }
    ops.toSeq
  }

  /** Both `Copy.run`s of a copy operation replayed in their phase order
    * through the public functions, one span per call: collect → analyze →
    * safety → footprint → copy → re-stat → reconcile → identity. Each
    * table's copy is split into the extract (`copyFrame` to the noop sink)
    * and `copyTable` / `copyTableJdbc`, whose wall minus the extract is the
    * sink's load. Returns (exit code, per-layer metrics). */
  private def tracedCopy(tables: Seq[String], jdbcTables: Seq[String], src: String,
      jsrc: String, dst: String): (Int, Map[String, Double]) = {
    val spans = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def span[T](name: String)(body: => T): T = {
      val t0 = clock()
      try body finally spans(name) += clock() - t0
    }
    var workItems = 0

    def replay(tables: Seq[String], src: String, jdbc: Boolean): Boolean = {
      val leg = if (jdbc) "jdbc" else "parquet"
      val analyzed = tables.map { t =>
        require(Catalog.declared.contains(t), s"undeclared table $t")
        require(span("pipeline.safety_s")(Pipeline.safetyCheck(spark, src, t)),
          s"safety check failed for $t")
        val srcMeta = span("catalog.collect_s")(Catalog.collect(spark, src, t))
        val dstMeta = Bench.DestMeta(t)
        span("plan.analyze_s")(Analyzer.analyze(srcMeta, dstMeta, Bench.Conf)) match {
          case AnalysisOutcome.Success(items) => (srcMeta, dstMeta, items)
          case other => throw new IllegalStateException(s"$t: $other")
        }
      }
      workItems += analyzed.map(_._3.size).sum
      def footprint() = span("pipeline.footprint_s") {
        analyzed.map { case (m, _, _) => m.name -> Pipeline.sourceFootprint(spark, src, m.name) }.toMap
      }
      val pre = footprint()
      analyzed.foreach { case (srcMeta, dstMeta, items) =>
        span(s"extract.$leg") {
          Pipeline.copyFrame(spark, src, items).write.mode("overwrite").format("noop").save()
        }
        span(s"copy.$leg") {
          if (jdbc)
            Pipeline.copyTableJdbc(spark, src, Bench.JdbcUrl, Bench.jdbcProps, srcMeta,
              dstMeta, Bench.Conf, truncateDest = true)
          else
            Pipeline.copyTable(spark, src, dst, srcMeta, dstMeta, Bench.Conf,
              truncateDest = true, reconcile = false)
        }
      }
      val stable = footprint() == pre
      val reconciled = span("verify.reconcile_s") {
        analyzed.forall { case (srcMeta, dstMeta, _) =>
          val destRows =
            if (jdbc) Sinks.jdbcRowCount(Bench.JdbcUrl, dstMeta.name, Bench.jdbcProps)
            else Sinks.committedRowCount(spark, s"$dst/${dstMeta.name}.parquet")
          destRows == srcMeta.rowCount
        }
      }
      // sync-identity is on for the parquet leg only, as in the untraced copy
      val synced = jdbc || span("verify.identity_s") {
        analyzed.forall { case (srcMeta, dstMeta, _) =>
          Catalog.identityColumns.get(srcMeta.name).forall { idCol =>
            val ic = Sinks.identityCurrent(Scans.table(spark, src, srcMeta.name), idCol)
            val dest = s"$dst/${dstMeta.name}.parquet"
            Sinks.reseedIdentity(spark, dest, idCol, ic)
            Sinks.identitySeed(spark, dest).contains((idCol, ic))
          }
        }
      }
      stable && reconciled && synced
    }

    val wall0 = clock()
    val ok = replay(tables, src, jdbc = false) && replay(jdbcTables, jsrc, jdbc = true)
    val wall = clock() - wall0
    val m = Map(
      "catalog.collect_s" -> spans("catalog.collect_s"),
      "pipeline.safety_s" -> spans("pipeline.safety_s"),
      "pipeline.footprint_s" -> spans("pipeline.footprint_s"),
      "plan.analyze_ms" -> spans("plan.analyze_s") * 1e3,
      "plan.work_items" -> workItems.toDouble,
      "scan.extract_s" -> (spans("extract.parquet") + spans("extract.jdbc")),
      "sink.load_s" -> (spans("copy.parquet") - spans("extract.parquet")),
      "sink.jdbc_load_s" -> (spans("copy.jdbc") - spans("extract.jdbc")),
      "verify.reconcile_s" -> spans("verify.reconcile_s"),
      "verify.identity_s" -> spans("verify.identity_s"),
      "driver.other_s" -> (wall - spans.values.sum),
      "trace.traced_wall_s" -> wall)
    (if (ok) 0 else 2, m)
  }

  // ----------------------------------------------------------------------
  // operator library
  // ----------------------------------------------------------------------

  def opsMix(): Seq[Op] = {
    val all = SparkEntry.queries
    val fns = Main.OpsKeys.map(k => k -> all(k))
    Main.OpsKeys.foreach { k => keyExecutions(k) = 1; keyFailures(k) = 0 }

    // the dump doubles as JIT warm-up: every key once, its result written
    // for the DuckDB oracle compare run.py makes afterwards
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Main.OpsKeys.contains(k) }
    val (errors, missing) =
      Verify.run(spark, fns.toMap, oracles, o.data, work.resolve("ops_out").toString)
    (errors.keySet ++ missing).foreach(k => keyFailures(k) += 1)
    // every pass materializes each key's result as its order-independent
    // hash, which must equal the hash of the dumped, oracle-checked result
    val dumped = Main.OpsKeys.map { k =>
      k -> (try Some(hashOf(spark.read.parquet(work.resolve(s"ops_out/$k").toString)))
            catch { case e: Exception => log(s"dumped result of $k unreadable: $e"); None })
    }.toMap

    def pass(traced: Boolean): Op = {
      val keyM = mutable.LinkedHashMap.empty[String, Double]
      var failed = 0
      val (_, secs, d, busy, proc) = measured {
        fns.foreach { case (k, fn) =>
          val before = if (traced) { drain(); probe.snapshot() } else null
          val t0 = clock()
          val got =
            try Some(hashOf(fn(spark, o.data)))
            catch { case e: Exception => log(s"$k threw: $e"); None }
          val dt = clock() - t0
          val ok = got.isDefined && got == dumped(k)
          if (got.isDefined && !ok) log(s"$k: result hash ${got.get} != dumped ${dumped(k)}")
          keyExecutions(k) += 1
          if (!ok) { keyFailures(k) += 1; failed += 1 }
          keyM(s"ops.${k}_s") = if (ok) dt else 0.0
          if (traced) {
            drain()
            keyM(s"ops.${k}_plan_ms") = (probe.snapshot() - before).planMs.toDouble
          }
        }
      }
      val kind = if (traced) "traced" else "untraced"
      log(f"$kind pass: $secs%.3f s, $failed failed; " +
        Main.OpsKeys.map(k => f"$k ${keyM(s"ops.${k}_s")}%.2f").mkString(", "))
      val spans = if (!traced) Map.empty[String, Double] else Map(
        "trace.traced_wall_s" -> secs,
        "driver.other_s" -> (secs - Main.OpsKeys.map(k => keyM(s"ops.${k}_s")).sum))
      Op(kind, failed == 0, secs, Main.OpsKeys.size, failed,
        counterMetrics(d, secs, busy, 0L, 0L) ++ proc ++ keyM ++ spans)
    }
    // no untimed pass after the dump: the first pass still compiles the
    // hashing path and is the slowest, which the per-key median over the
    // passes leaves out
    val ops = mutable.ArrayBuffer.empty[Op]
    if (o.trace) loop(2) { _ => ops += pass(traced = false); ops += pass(traced = true) }
    else loop(3) { _ => ops += pass(traced = false) }
    ops.toSeq
  }
}
