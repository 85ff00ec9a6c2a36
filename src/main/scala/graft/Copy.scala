package graft

import org.apache.spark.sql.SparkSession
import graft.exec.{Dest, Pipeline, Scans, Sinks}
import graft.meta.Catalog
import graft.model._
import graft.plan.{Analyzer, PlanConfig}

/** Process entry point for a whole-catalog copy run, mapping the outcome
  * to the reference's exit-code taxonomy so a caller scripting the engine
  * can branch on the failure class — reference `Program.cs:9-27` returning
  * `SmartBulkCopy.Copy()`'s int (`SmartBulkCopy.cs:74-250`):
  *
  *   - analysis failure → the `AnalysisOutcome` enum ORDINAL
  *     (`return (int)(tar.Outcome)`, `SmartBulkCopy.cs:158-161`; enum
  *     values `TableAnalyzer.cs:10-19`) — e.g. FKs on the destination
  *     exit with 5, a temporal destination with 6;
  *   - copy-phase task errors → 3 (`SmartBulkCopy.cs:246-250`);
  *   - rowcount reconciliation mismatch → 2 (`SmartBulkCopy.cs:220-224`;
  *     the reference reuses 2 for a missing source table via the enum
  *     ordinal — a collision we reproduce faithfully);
  *   - success → 0.
  *
  * Phase order mirrors the orchestrator: expand table list → analyze ALL
  * tables (fail fast before any copy, `SmartBulkCopy.cs:155-161`) → copy
  * each → reconcile each (`CheckResults`, `SmartBulkCopy.cs:216-245`).
  * Like the reference's `tasks` workers draining one `ConcurrentQueue`
  * (`SmartBulkCopy.cs:165-194`), every phase runs its tables concurrently
  * on `tasks` driver threads ([[inOrder]]), so Spark's scheduler fills
  * the cores one table's job leaves idle with another table's tasks; the
  * phases themselves stay barriers, and every decision is taken over the
  * per-table results in list order, so exit codes do not depend on which
  * table finishes first.
  */
object Copy {

  /** Reference `TableAnalyzer.cs:10-19` ordinals (Success=0,
    * AnalysisNotCompleted=1, SourceTableDoNotExist=2,
    * DestinationTableDoNotExists=3, SecondaryIndexFoundOnDestination=4,
    * ForeignKeysFoundOnDestination=5, DestinationIsTemporalTable=6).
    * Our model merges the two not-found cases into [[AnalysisOutcome.TableNotFound]],
    * mapped to the source-side ordinal.
    */
  def analysisExitCode(o: AnalysisOutcome): Int = o match {
    case _: AnalysisOutcome.Success                       => 0
    case AnalysisOutcome.TableNotFound                    => 2
    case AnalysisOutcome.SecondaryIndexFoundOnDestination => 4
    case AnalysisOutcome.ForeignKeysFoundOnDestination    => 5
    case AnalysisOutcome.TemporalTableOnDestination       => 6
  }

  /** Run a full copy and return the process exit code (testable seam —
    * `main` wraps it in `sys.exit`).
    *
    * `destDir` names the destination ([[Dest.of]]): a filesystem path
    * lands parquet tables; a `jdbc:` URL lands batched partition-parallel
    * INSERTs into the live database (the reference's actual destination
    * shape). The run never branches on the kind: every table loads
    * through [[Pipeline.load]], reconciles through [[Dest.rows]] and
    * syncs identity through [[Dest.syncIdentity]].
    *
    * `destMeta` overrides the destination-side [[TableMeta]] per table
    * (the analog of collecting the destination catalog,
    * `SmartBulkCopy.cs:143-152`); tables without an override get a clean
    * heap destination. `postCopyHook` runs inside each table's copy
    * phase, after its load — a throw there is a copy-phase task error
    * (exit 3), and destination interference it causes (extra committed
    * files) surfaces in the reconciliation phase (exit 2), exactly the
    * two runtime failure classes the reference distinguishes.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      destDir: String,
      patterns: Seq[String],
      conf: PlanConfig = PlanConfig(),
      destMeta: Map[String, TableMeta] = Map.empty,
      postCopyHook: String => Unit = _ => (),
      /** reference `truncate-tables` (default false,
        * `SmartBulkCopyConfig.cs:104` — matched here so a caller porting
        * a reference workflow gets append-not-destroy semantics unless
        * they opt in): OFF appends, so a non-empty destination surfaces
        * as a reconciliation mismatch (exit 2). The argv entry point
        * passes true explicitly to keep its historical truncate-first
        * behavior. */
      truncateTables: Boolean = false,
      retryMaxAttempts: Int = 5,
      retryDelayIncrementMs: Long = 0L,
      /** reference `safe-check` (`SmartBulkCopy.cs:111-133`):
        * `"readonly"` snapshots each source's committed-file footprint
        * (mtime+length) before the copy phase and re-stats after — any
        * delta fails the run with 2, the immutability violation the gate
        * exists for. `"snapshot"` trusts an external snapshot (parquet
        * inputs are immutable paths; nothing to re-check); `"none"`
        * skips the stability probe entirely. */
      safeCheck: String = "readonly",
      /** reference `command-timeout` (`SmartBulkCopyConfig.cs:93-102`,
        * applied per SQL command): a per-table bound on the copy. Each
        * table's load runs under its own Spark job group; a table still
        * loading at the deadline has its job group cancelled and counts
        * as a copy-phase task error (exit 3) instead of wedging the run.
        * <=0 disables the bound. */
      commandTimeoutSec: Int = 0,
      /** reference `sync-identity` (`SmartBulkCopy.cs:227-244`): after a
        * clean CheckResults, for every copied table with an identity
        * column read the source `IDENT_CURRENT`, reseed the destination,
        * and read the seed back — an unverifiable reseed fails the run
        * with 2 (`:375-384`). */
      syncIdentity: Boolean = false,
      /** reseed executor (testable seam, defaults to the real sidecar
        * write): the spec injects a faulty reseed to prove the read-back
        * verify catches it, the reference's error branch. FILE-SINK ONLY
        * ([[Dest.Files]]): a `jdbc:` destination always reseeds the live
        * generator (its failure branch is exercised against a real
        * generator-less Derby table in CopySpec). */
      reseedIdentity: (SparkSession, String, String, Long) => Unit =
        Sinks.reseedIdentity): Int = {
    // normalize + validate the safe-check mode HERE, not just in the
    // config loader: a direct caller passing the config surface's
    // "read-only" spelling (or any typo) would otherwise silently run
    // with the immutability gate OFF — exactly the failure the gate
    // exists to catch. IllegalArgumentException maps to exit 1 in main.
    // SHARED normalizer with the loader, so the mode list cannot fork.
    val safeCheckMode = CopyConfig.normalizeSafeCheck(safeCheck)
    val dest = Dest.of(spark, destDir, reseedIdentity)
    val tables = Pipeline.expandTableList(patterns)
    // an empty expansion (e.g. a typo'd wildcard matching nothing) must
    // NOT fall through to a vacuous success: every later phase iterates
    // the empty list and the run would exit 0 having copied nothing —
    // the reference aborts when the table list is empty
    if (tables.isEmpty) {
      System.err.println(
        s"[copy] table list is empty (patterns: ${patterns.mkString(",")})")
      return analysisExitCode(AnalysisOutcome.TableNotFound)
    }

    // every phase below drains all its tables on `tasks` driver threads,
    // and ends for every table before the next phase begins
    val width = conf.tasks

    // Analysis phase: collect + analyze every table BEFORE any copy. The
    // first non-success in LIST order aborts the whole run with its code
    // (or its exception), exactly as the serial loop decided — never
    // whichever table happened to finish first. Its work items are what
    // the copy phase loads: no table is checked or analyzed twice.
    val analysis = inOrder(tables, width) { t =>
      scala.util.Try {
        if (!Catalog.declared.contains(t) || !Pipeline.safetyCheck(spark, sfDir, t))
          Left(analysisExitCode(AnalysisOutcome.TableNotFound))
        else {
          val src = Catalog.collect(spark, sfDir, t)
          val dst = destMeta.getOrElse(t, Pipeline.cleanDest(src))
          Analyzer.analyze(src, dst, conf) match {
            case AnalysisOutcome.Success(items) => Right((src, dst, items))
            case failure                        => Left(analysisExitCode(failure))
          }
        }
      }
    }
    val analyzed: Seq[(TableMeta, TableMeta, Seq[WorkItem])] = analysis.map {
      case scala.util.Success(Right(table)) => table
      case scala.util.Success(Left(code))   => return code
      case scala.util.Failure(e)            => throw e
    }
    // loads that share a destination run one after another, as one queue
    // item: two concurrent writers would race on the same table
    val byDest: Seq[Seq[(TableMeta, TableMeta, Seq[WorkItem])]] =
      analyzed.map(_._2.name).distinct.map(d => analyzed.filter(_._2.name == d))

    // safe-check "readonly": footprint snapshot BEFORE the first slice
    // reads — stability is re-verified after the copy phase.
    val preFootprint: Seq[(String, Map[String, (Long, Long)])] =
      if (safeCheckMode == "readonly")
        inOrder(analyzed, width) { case (src, _, _) =>
          src.name -> Pipeline.sourceFootprint(spark, sfDir, src.name)
        }
      else Nil

    // Copy phase: per-table errors don't stop the other tables (the
    // reference's worker pool drains the whole queue; errored items are
    // counted, `SmartBulkCopy.cs:246-250`).
    val erroredTasks = inOrder(byDest, width)(_.count { case (src, dst, items) =>
      try {
        withCommandTimeout(spark, src.name, commandTimeoutSec) {
          Pipeline.load(dest, Pipeline.copyFrame(spark, sfDir, items), dst,
            conf.batchSize, truncateTables, retryMaxAttempts, retryDelayIncrementMs)
          postCopyHook(src.name)
        }
        false
      } catch { case e: Exception =>
        // the reference's worker pool logs errored items as it counts
        // them — an exit 3 with no line naming the failed table(s) gives
        // the operator nothing to act on
        System.err.println(s"[copy] ${src.name} failed: $e")
        true
      }
    }).sum
    if (erroredTasks > 0) return 3

    // safe-check "readonly" re-stat: a source whose committed footprint
    // changed under the running slices may have fed different slices
    // different data — fail hard even if rowcounts happen to agree.
    val mutatedSources = inOrder(preFootprint, width) { case (name, before) =>
      Pipeline.sourceFootprint(spark, sfDir, name) != before
    }
    if (mutatedSources.contains(true)) return 2

    // CheckResults phase (`SmartBulkCopy.cs:216-245`): recount both ends
    // after ALL copies are done. Source side reuses the analysis-phase
    // count ONLY when the run holds evidence it is still current:
    //   - "readonly": the footprint re-stat above just proved every
    //     source byte-identical since that count was taken — a recount
    //     would double the run's source-side IO at 100 TB for zero
    //     extra verification;
    //   - "snapshot": the caller DECLARED the inputs externally
    //     immutable (an immutable snapshot path); trusting the declared
    //     count is that mode's contract — a caller who wants the gate
    //     picks readonly;
    //   - "none": no stability evidence of any kind, so CheckResults
    //     recounts the source for real, reproducing the reference's
    //     unconditional recount — otherwise a source mutated during the
    //     copy would silently pass the final rowcount gate on the
    //     stale analysis-phase number. (Catalog.collect itself keeps no
    //     memo: each run's analysis reads the footers as they are then.)
    val reconciled = inOrder(analyzed, width) { case (src, dst, _) =>
      val destRows = dest.rows(dst.name)
      val srcRows =
        if (safeCheckMode != "none" && src.rowCount > 0L) src.rowCount
        else Scans.table(spark, sfDir, src.name).count()
      srcRows == destRows
    }
    if (reconciled.contains(false)) return 2

    // SyncIdentity (`SmartBulkCopy.cs:227-244`): only after ALL rowcounts
    // check out; tables without an identity column are skipped (the
    // reference CTE's TableHasIdentity filter). Reseed to the source's
    // current value, then verify by reading the destination back. The
    // source's IDENT_CURRENT is the largest row-group max statistic in
    // its committed footers (Sinks.footerIdentityCurrent — metadata, as
    // the reference reads it); only an id the statistics cannot answer
    // exactly for is scanned.
    if (syncIdentity) {
      val synced = inOrder(byDest, width)(_.forall { case (src, dst, _) =>
        Catalog.identityColumns.get(src.name).forall { idCol =>
          val ic = Sinks.footerIdentityCurrent(
            spark, s"$sfDir/${src.name}.parquet", idCol).getOrElse(
            Sinks.identityCurrent(Scans.table(spark, sfDir, src.name), idCol))
          dest.syncIdentity(dst.name, idCol, ic)
        }
      })
      if (synced.contains(false)) return 2
    }
    0
  }

  /** Per-table copy bound — the reference's `command-timeout` realized on
    * Spark's cancellation surface: the body runs on a dedicated thread
    * whose jobs all carry one job group; at the deadline the group is
    * cancelled (`interruptOnCancel = true` interrupts running tasks) and
    * a [[java.util.concurrent.TimeoutException]] propagates to the
    * copy-phase error counter. Thread-locality of `setJobGroup` is the
    * reason for the dedicated thread: the group must tag exactly this
    * table's jobs, not whatever else the caller's thread submits next.
    */
  private[graft] def withCommandTimeout[T](
      spark: SparkSession, table: String, timeoutSec: Int)(body: => T): T = {
    if (timeoutSec <= 0) return body
    val sc = spark.sparkContext
    val groupId = s"graft-copy-$table"
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(
      daemonThreads(_ => s"graft-copy-timeout-$table"))
    val fut = exec.submit(new java.util.concurrent.Callable[T] {
      def call(): T = {
        sc.setJobGroup(groupId, s"graft copy $table", interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try fut.get(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(groupId)
        fut.cancel(true)
        throw new java.util.concurrent.TimeoutException(
          s"command-timeout: copy of $table exceeded ${timeoutSec}s")
      case e: java.util.concurrent.ExecutionException =>
        // rethrow the CAUSE unconditionally: an Error cause (OOM,
        // LinkageError) kept inside the ExecutionException wrapper would
        // be caught by the copy phase's `case e: Exception` counter and
        // downgrade a fatal JVM condition to one errored table — the
        // run would keep copying in a heap-exhausted JVM. Without a
        // timeout the same Error crashes the run; behavior must not
        // diverge on a config knob.
        throw Option[Throwable](e.getCause).getOrElse(e)
    } finally exec.shutdownNow()
  }

  /** The orchestrator's work queue — the reference's `tasks` workers
    * draining one `ConcurrentQueue` (`SmartBulkCopy.cs:165-194`): `f`
    * runs over every element of `xs` on at most `width` driver threads,
    * and the results come back in INPUT order, so a caller folding them
    * decides exactly as a serial loop over `xs` would. A failed call
    * rethrows its cause, never the `ExecutionException` wrapper (the
    * [[withCommandTimeout]] rule: an Error must stay an Error). The pool
    * is shut down on every exit, interrupting calls still running behind
    * a failure. Width 1 is the serial loop.
    */
  private[graft] def inOrder[A, B](xs: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(width, xs.size)),
      daemonThreads(n => s"graft-copy-worker-$n"))
    try {
      val futures = xs.toVector.map(x =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      futures.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw Option[Throwable](e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdownNow()
  }

  /** Named daemon threads (`name` gets a 1-based thread ordinal): the
    * copy's workers are identifiable in thread dumps (the cleanup specs
    * count survivors by prefix) and can never pin a JVM exit if an
    * interrupt is swallowed mid-shutdown. */
  private def daemonThreads(name: Int => String): java.util.concurrent.ThreadFactory =
    new java.util.concurrent.ThreadFactory {
      private val made = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, name(made.incrementAndGet()))
        t.setDaemon(true)
        t
      }
    }

  /** Config-file entry (testable seam): load the reference-schema JSON at
    * `path` and run the copy it describes. Any config-load failure exits
    * 1 — the reference crashes out of `Program.cs` main on
    * `ArgumentException`, i.e. non-zero to the shell before any copy.
    */
  def runFromConfigFile(
      spark: SparkSession,
      path: String,
      env: String => Option[String] = sys.env.get): Int = {
    // only the LOAD maps to exit 1 — a runtime failure during the copy
    // itself must keep its own class (crash, or run()'s 2/3), never be
    // mislabeled a config error
    val cfg =
      try CopyConfig.load(path, env)
      catch {
        case e @ (_: IllegalArgumentException | _: java.io.IOException) =>
          System.err.println(s"graft.Copy config error: ${e.getMessage}")
          return 1
      }
    // the reference's compatibility-mode only switches its bulk-write
    // call style (sync WriteToServer vs async, SmartBulkCopy.cs:78-80,
    // :528-535) with identical results and logs the mode; Spark writes
    // are already synchronous, so the mode is acknowledged, not silent
    if (cfg.compatibilityMode)
      System.err.println("[copy] compatibility-mode requested: write path " +
        "is already synchronous in this engine; results are identical")
    run(spark, cfg.sourceDir, cfg.destDir, cfg.tablePatterns, cfg.plan,
      truncateTables = cfg.truncateTables,
      retryMaxAttempts = cfg.retryMaxAttempt,
      // the reference's delay-increment is seconds between attempts
      // (SmartBulkCopyConfig.cs:112, attempt backoff at SmartBulkCopy.cs)
      retryDelayIncrementMs = cfg.retryDelayIncrement * 1000L,
      safeCheck = cfg.safeCheck,
      commandTimeoutSec = cfg.commandTimeout,
      syncIdentity = cfg.syncIdentity)
  }

  def main(args: Array[String]): Unit = {
    val viaConfig = args.headOption.contains("--config")
    val sfDir = args.headOption.filterNot(_ == "--config").getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val destDir = args.lift(1).filter(_ => !viaConfig).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_copy_run")
    val patterns = if (!viaConfig && args.length > 2) args.drop(2).toSeq else Seq("*")
    // the SHARED session config (GraftSession) — this main used to carry
    // a drifted verbatim copy, so copies could run under different
    // session semantics (extensions, aggregate headroom, warehouse) than
    // the verified engine
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      master = sys.env.get("SPARK_GRAFT_MASTER"))
    val code =
      try {
        if (viaConfig)
          runFromConfigFile(spark, args.lift(1).getOrElse(
            throw new IllegalArgumentException("--config needs a file path")))
        // argv path keeps its historical truncate-first behavior; the
        // config path uses the reference's false default
        else run(spark, sfDir, destDir, patterns, truncateTables = true)
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"graft.Copy usage error: ${e.getMessage}"); 1
      } finally spark.stop()
    println(s"graft.Copy exit=$code")
    sys.exit(code)
  }
}
