package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.plan.{Analyzer, PlanConfig}
import graft.meta.Catalog

/** The copy pipeline — Spark-native re-expression of the reference's
  * orchestrator (`client/SmartBulkCopy.cs:74-250`):
  *
  *   test connections → safety checks → table list → collect info →
  *   analyze → truncate → parallel copy → verify rowcounts → sync identity
  *
  * The reference drains a `ConcurrentQueue&lt;CopyInfo&gt;` with K worker
  * threads (`SmartBulkCopy.cs:165-194`); here each table's slice fan-out
  * is written in ONE job, so Spark's scheduler replaces the queue: every
  * slice is at least one task, tasks run K-wide across the cluster, and
  * task retries replace the per-item retry loop. Across tables the same
  * holds: [[graft.Copy.run]] submits every table's job at once from
  * `tasks` driver threads, and the scheduler interleaves their tasks.
  *
  * Every copy lands through ONE guarded routine, [[load]], into a
  * [[Dest]] — the reference's single `SqlBulkCopy` under one retry loop
  * (`SmartBulkCopy.cs:440-607`). Only `Dest` knows whether the
  * destination is a parquet directory or a live JDBC database.
  */
object Pipeline {

  final case class CopyResult(
      table: String,
      workItems: Int,
      sliceKind: String,
      srcRows: Long,
      dstRows: Long,
      ok: Boolean)

  /** Safety check — reference `SmartBulkCopy.cs:111-133`: the source must
    * be immutable while the parallel slices run (DB snapshot or read-only).
    * Parquet inputs are immutable by nature; the probe degrades to "the
    * source exists and is a well-formed parquet footprint" — checked via
    * the PAR1 magic bytes, without spinning up a scan (the reference's
    * probe is likewise a catalog query, not a table read).
    *
    * FALSE means the SOURCE failed the gate (absent, or first committed
    * file not parquet — including a file that VANISHES mid-probe, which
    * is itself the mutation the gate hunts). A probe that can't reach
    * the filesystem at all must NOT map to false: the reference's
    * catalog query throws on a severed connection rather than reporting
    * "unsafe", and a transient throttle read as false would abort the
    * whole run with the wrong exit class (TableNotFound) before copying
    * anything. Transient IO gets the standard retry envelope; a
    * still-failing environment propagates to the caller as the error it
    * is.
    */
  def safetyCheck(spark: SparkSession, sfDir: String, table: String): Boolean = {
    // Hadoop FileSystem, not java.io.File: the probe must work against
    // HDFS/S3 paths exactly like the scans that follow it.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    // VERDICT exceptions — the source's own bytes are absent or wrong —
    // convert to false INSIDE the retry body (retrying them is
    // pointless; and only environment errors should reach the retry
    // classifier): FNF = absent/vanished, ChecksumException = the
    // filesystem's own integrity check caught the corruption before the
    // magic compare could, EOF = file shorter than its metadata claims
    // (truncated mid-probe — itself the mutation the gate hunts).
    def verdictOrProbe(): Boolean =
      try safetyProbe(root, conf)
      catch {
        case _: java.io.FileNotFoundException           => false
        case _: org.apache.hadoop.fs.ChecksumException  => false
        case _: java.io.EOFException                    => false
      }
    Retry.withRetry(maxAttempts = 3, delayMs = 0L)(verdictOrProbe())
  }

  private def safetyProbe(
      root: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val fs = root.getFileSystem(conf)
    def isParquet(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getLen >= 8 && {
        val in = fs.open(st.getPath)
        try {
          val magic = new Array[Byte](4)
          in.readFully(0L, magic)
          new String(magic, "US-ASCII") == "PAR1"
        } finally in.close()
      }
    val st = fs.getFileStatus(root)
    if (st.isFile) isParquet(st)
    else {
      // the FIRST committed data file under the root decides the
      // verdict (one 4-byte read — the probe stays catalog-cheap like
      // the reference's): a corrupt first file FAILS the gate rather
      // than falling through to a later valid one, which would clear
      // a source the copy phase is about to choke on. Committed-ness
      // is Sinks.committedDataFile — the WHOLE predicate
      // reconciliation uses, not a re-inlined copy of it.
      val keep = Sinks.committedDataFile(Sinks.hiddenBelow(fs, root)) _
      val it = fs.listFiles(root, true)
      var verdict: Option[Boolean] = None
      while (verdict.isEmpty && it.hasNext) {
        val f = it.next()
        if (keep(f)) verdict = Some(isParquet(f))
      }
      verdict.getOrElse(false)
    }
  }

  /** Immutability footprint of one source table: committed data file →
    * (mtime, length). `safe-check: readonly` snapshots this before the
    * copy phase and re-stats after — any delta means the source was NOT
    * read-only while the parallel slices ran, the exact inconsistency
    * the reference's immutability gate exists to rule out
    * (`SmartBulkCopy.cs:111-133`; its readonly mode checks the database
    * flag server-side — a file source has no flag, so stability of the
    * footprint IS the property). Metadata-only: footer stats, no data
    * pages read.
    */
  def sourceFootprint(
      spark: SparkSession, sfDir: String, table: String): Map[String, (Long, Long)] =
    Sinks.committedFiles(spark, s"$sfDir/$table.parquet")
      .map(f => f.getPath.toString -> (f.getModificationTime, f.getLen))
      .toMap

  /** Wildcard table-list expansion — reference `SmartBulkCopy.cs:812-911`:
    * the table list is an ORDERED add/remove fold, then distinct
    * (`SmartBulkCopy.cs:138`). Each entry is applied in sequence, so
    * `["*", "-:e*", "+:events"]` ≠ `["*", "+:events", "-:e*"]` — an
    * exclude only affects names already added, and a later include can
    * re-add an excluded name. Fold semantics mirror the reference's
    * `List` exactly (`SmartBulkCopy.cs:870-904`,
    * `SmartBulkCopyConfig.cs:199-219`):
    *   - a wildcard entry (`*` in the pattern) is matched against the
    *     CATALOG; include appends every match (`List.Add` — duplicates
    *     possible), exclude calls `List.Remove` per match, which drops
    *     only the FIRST occurrence of that name;
    *   - a literal entry appends / first-occurrence-removes the name
    *     itself, whether or not the catalog contains it (the reference
    *     adds the quoted name unchecked; a missing table then fails at
    *     analysis, not here).
    */
  def expandTableList(patterns: Seq[String], catalog: Seq[String] = Catalog.tableNames): Seq[String] = {
    def matches(pat: String, name: String): Boolean = {
      // wildcard → regex, as SmartBulkCopy.cs:864-868
      val rx = ("^" + java.util.regex.Pattern.quote(pat).replace("*", "\\E.*\\Q") + "$").r
      rx.findFirstIn(name).isDefined
    }
    def removeFirst(xs: Vector[String], name: String): Vector[String] = {
      val i = xs.indexOf(name)
      if (i < 0) xs else xs.patch(i, Nil, 1)
    }
    var selected = Vector.empty[String]
    patterns.foreach { p =>
      val exclude = p.startsWith("-:")
      val pat = if (exclude || p.startsWith("+:")) p.drop(2) else p
      val names =
        if (pat.contains("*")) catalog.filter(matches(pat, _)) else Seq(pat)
      selected =
        if (exclude) names.foldLeft(selected)(removeFirst)
        else selected ++ names
    }
    selected.distinct
  }

  /** Build one table's copy DataFrame from its planned work items.
    *
    * Physical slices over a source partitioned into `<pcol>=`
    * directories stay a union of per-slice scans: each range predicate
    * prunes its own partition dirs, so N scans read disjoint bytes —
    * same total IO as one scan, and the reference shape
    * (`TableAnalyzer.cs:288-352`). Over any other layout they take the
    * one-scan fan-out below, like logical slices.
    *
    * Logical (hash-mod) slices get ONE scan + a shuffle fan-out instead:
    * a `pmod(key, N)` predicate cannot push down, so N slice scans would
    * read the table N times — fine against SQL Server (the reference
    * pushes each `%%PhysLoc%%` slice to the server), catastrophic for a
    * 100 TB parquet source. `repartition(N, sliceIdx)` reads once and
    * lands whole slices per task (disjoint + exhaustive is preserved:
    * every row goes to exactly one partition, property-tested).
    */
  def copyFrame(spark: SparkSession, sfDir: String, items: Seq[WorkItem]): DataFrame = {
    require(items.nonEmpty)
    // The single-scan fan-out is only equivalent to the union when the
    // items are the COMPLETE homogeneous slice set {0..n-1} over one
    // (keys, n) spec — a subset (e.g. a per-slice retry) or mixed specs
    // must take the per-slice union path.
    val completeLogicalSet = items.head.slice match {
      case SliceSpec.Logical(keys, n, _) if items.size == n =>
        val specs = items.map(_.slice).collect {
          case SliceSpec.Logical(k, c, i) if k == keys && c == n => i
        }
        specs.size == n && specs.sorted == (0 until n)
      case _ => false
    }
    // A complete physical set over a source with no directory partitions
    // on the partition column — one flat file, or the unpartitioned part
    // files a Spark writer leaves — gets the same treatment: there is no
    // partition directory for the per-slice range predicates to prune, so
    // N slice scans decode every file N times. One scan + a shuffle on
    // the partition ordinal reads once and lands whole partitions per
    // task. (A source partitioned into `<pcol>=` directories keeps the
    // per-slice union below — there the predicates prune disjoint
    // directories, which is strictly better than shuffling 100 TB.) The
    // ordinal function is total — every row lands in some partition —
    // matching a real RANGE partition function; coverage is still
    // enforced by the rowcount reconciliation.
    val completePhysicalCol: Option[String] = items.head.slice match {
      case SliceSpec.Physical(pcol, _) if items.size > 1 =>
        val ns = items.map(_.slice).collect {
          case SliceSpec.Physical(c, n) if c == pcol => n
        }
        Some(pcol).filter(_ => ns.size == items.size && ns.sorted == (1 to items.size))
      case _ => None
    }
    def unpartitionedOn(pcol: String): Boolean = try {
      // the committed listing through the Hadoop FS, not java.io.File:
      // the layout probe must see object stores too, or the one-scan
      // fan-out would never engage exactly where re-decoding the source
      // N times hurts most
      val root = new org.apache.hadoop.fs.Path(
        s"$sfDir/${items.head.table.name}.parquet")
      val segments = Sinks.segmentsBelow(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
      Sinks.committedFiles(spark, root.toString)
        .forall(f => !segments(f.getPath).exists(_.startsWith(s"$pcol=")))
    } catch { case _: Exception => false }

    val item = items.head
    lazy val base = Scans.project(
      Scans.table(spark, sfDir, item.table.name), item.table.excludedColumns)
    if (completeLogicalSet) {
      val SliceSpec.Logical(keys, n, _) = item.slice: @unchecked
      val key =
        if (keys.nonEmpty) abs(Scans.sliceKeyPortable(keys))
        else Scans.sliceKeyHash(base)
      // No NULL pre-filter needed: the slice key is NULL-safe by
      // construction (sliceKeyPortable coalesces each cast to 0;
      // xxhash64 never returns NULL), so `ord` is total and NULL-keyed
      // rows land in slice 0 on THIS path exactly as logicalSlice's
      // pmod predicate places them on the union path — both paths copy
      // every row (exhaustiveness is the reference's slice contract,
      // and a pre-filter here used to co-sign the union path's silent
      // NULL-row drop instead of fixing it).
      fanOut(base, n, pmod(key, lit(n.toLong)), item.orderHint)
    } else if (completePhysicalCol.exists(unpartitionedOn)) {
      val SliceSpec.Physical(pcol, _) = item.slice: @unchecked
      // Keep the union of the slice predicates as a filter BEFORE the
      // fan-out so the two code paths stay semantically identical: rows
      // outside the declared 1..N partition ranges (or with a NULL
      // partition column) are dropped here exactly as every per-slice
      // range scan would drop them — otherwise this path would silently
      // absorb them and reconciliation could pass on a source the union
      // path would flag. Contiguous RANGE slices ⇒ one pushdown-friendly
      // raw-column range predicate (same form as the slice scans).
      val pdt = base.schema(pcol).dataType // match the column's own
      // timestamp flavor (TZ vs NTZ drifts with the source writer) so the
      // predicate stays a pushable column-vs-literal compare
      val lo = lit(s"${Scans.DefaultEpochYear + 1}-01-01").cast(pdt)
      val hi = lit(s"${Scans.DefaultEpochYear + items.size + 1}-01-01").cast(pdt)
      // partitionNumber is 1-based; the fan-out takes 0-based ordinals
      fanOut(base.filter(col(pcol) >= lo && col(pcol) < hi), items.size,
        partitionNumber(col(pcol)) - 1, item.orderHint)
    } else items.map(Scans.forWorkItem(spark, sfDir, _)).reduce(_ unionAll _)
  }

  /** The one-scan fan-out: `base` shuffled so that 0-based slice ordinal
    * `ord` (in `0 until n`) lands in shuffle partition `ord`, one task per
    * whole slice, each ordered on `orderHint`. EXACT placement through
    * the plain hash shuffle (see [[ordinalHashReps]]): a raw
    * `repartition(n, ord)` collides (murmur3 mod n leaves ~1/3 of the n
    * tasks empty while one carries 2-3 whole slices), and
    * `repartitionByRange` fixes the balance only by re-executing the scan
    * subtree for its boundary sampling — a SECOND full source read at
    * 100 TB. The rep lookup (`element_at` is 1-based) costs one array
    * literal probe per row, stays inside codegen, and shuffles once. */
  private def fanOut(
      base: DataFrame, n: Int, ord: Column, orderHint: Seq[SortKey]): DataFrame =
    Scans.orderedWithinPartitions(
      base.repartition(n, element_at(lit(ordinalHashReps(n)), (ord + 1).cast("int"))),
      orderHint)

  /** Synthetic physical-partition function over the testdata: ship-year
    * ordinal (1995→1, …, 2001→7). The analog of the reference's
    * `$partition.pf(col)` RANGE partition function
    * (`tests/sql/setup-reference-sample-test-table.sql:73-82`).
    */
  def partitionNumber(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // the SHARED epoch constant — a third inline 1994 here would let the
    // repartition ordinal (and CoreQueries' grouping, which calls this)
    // silently desynchronize from the slice-range predicates and the
    // generated SQL text when the epoch moves
    year(c) - lit(Scans.DefaultEpochYear)

  /** Representative longs `r(0) .. r(n-1)` with
    * `pmod(murmur3(r(i)), n) == i` — found driver-side (expected n tries
    * per ordinal: n² cheap long hashes total, instant up to the
    * planner's 128-partition bound) so a plain hash `repartition(n, _)`
    * places slice ordinal i EXACTLY in shuffle partition i: one task per
    * whole slice. Why not the obvious alternatives: hashing the raw
    * ordinal collides (birthday bound leaves ~1/3 of the n tasks empty
    * while one carries 2-3 whole slices — measured: ordinals 0..7 into
    * 8 tasks landed 187/0/0/389/366/558/0/0 rows), and
    * `repartitionByRange` fixes balance only by re-executing the scan
    * subtree for its RangePartitioner boundary sample — a SECOND full
    * read of the source, which at 100 TB doubles the copy's source IO.
    * The driver-side hash is the exact partitioner contract
    * (`HashPartitioning.partitionIdExpression` = `pmod(murmur3(expr,
    * seed=42), n)` with `Murmur3_x86_32.hashLong` for a LongType expr);
    * the fan-out placement spec goes red if either side ever changes.
    */
  private[graft] def ordinalHashReps(n: Int): Array[Long] = {
    def pid(v: Long): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
      ((h % n) + n) % n
    }
    Array.tabulate(n) { i =>
      Iterator.iterate(i.toLong)(_ + n).find(v => pid(v) == i).get
    }
  }

  /** Destination-side TableMeta: same shape as the source, none of the
    * abort conditions (the reference aborts on destination FKs /
    * secondary indexes / temporal pairing, `TableAnalyzer.cs:39-107`).
    * The ONE definition `Copy.run`'s default destination and the bench
    * queries share — a TableMeta field added to one inline copy but not
    * the other would make the two paths analyze different destination
    * metadata. */
  def cleanDest(src: TableMeta, storage: Storage = Storage.Heap): TableMeta =
    src.copy(storage = storage, foreignKeyCount = 0, secondaryIndexCount = 0,
      history = None)

  /** Land one table's copy frame `df` as `dst` at `dest` — the one load
    * every copy takes, the reference's `SqlBulkCopy` under one retry loop
    * (`SmartBulkCopy.cs:440-607`). Against a clustered-columnstore
    * destination the insert batch is forced to >= 102400 rows, so loads
    * compress straight into columnstore segments (`:511-516`).
    *
    * `truncate` replaces the destination on every attempt, so it retries
    * blindly. Append does not: the JDBC writer commits per partition, and
    * a file commit protocol that commits per task (v2, common on object
    * stores) — or an error after job commit — leaves committed part
    * files behind, so a failed attempt may have landed some rows, and
    * re-running it would load them twice. Every attempt therefore
    * requires the destination to still hold its pre-load row count, and
    * a partial attempt fails loudly (exit 3) instead of double-loading.
    * An absent destination counts as 0 ([[Dest.rowsOrZero]]): Spark's
    * JDBC writer creates an absent table before its job runs, so an
    * attempt that committed nothing leaves an empty table, not a partial
    * append. The pre-load probe runs before the first attempt's retry
    * loop, so it has its own. (The reference's retry is always safe: its
    * bulk insert is one transaction per table.)
    */
  def load(
      dest: Dest,
      df: DataFrame,
      dst: TableMeta,
      batchRows: Int,
      truncate: Boolean,
      retryMaxAttempts: Int,
      retryDelayIncrementMs: Long): Unit = {
    val batch =
      if (dst.storage == Storage.ClusteredColumnstore) math.max(batchRows, 102400)
      else batchRows
    def retried[T](body: => T): T =
      Retry.withRetry(maxAttempts = retryMaxAttempts, delayMs = retryDelayIncrementMs)(body)
    def write(): Unit = dest.write(df, dst.name, overwrite = truncate, batch)
    if (truncate) retried(write())
    else {
      val preRows = retried(dest.rowsOrZero(dst.name))
      retried {
        val nowRows = dest.rowsOrZero(dst.name)
        if (nowRows != preRows)
          throw new IllegalStateException(
            s"${dst.name}: partial append detected (rows $preRows -> $nowRows); " +
              "append-mode load is not safely retryable")
        write()
      }
    }
  }

  /** Safety check + analysis of one table — the work items a standalone
    * copy entry point loads ([[graft.Copy.run]] runs both in its own
    * analysis phase). */
  private def planned(
      spark: SparkSession, sfDir: String, src: TableMeta, dst: TableMeta,
      conf: PlanConfig): Seq[WorkItem] = {
    require(safetyCheck(spark, sfDir, src.name), s"safety check failed for ${src.name}")
    Analyzer.analyze(src, dst, conf) match {
      case AnalysisOutcome.Success(is) => is
      case other => throw new IllegalStateException(s"${src.name}: $other")
    }
  }

  /** Copy one table end-to-end: plan → scan slices → bulk insert →
    * reconcile. `destDir` is the destination "database" ([[Dest.of]]).
    */
  def copyTable(
      spark: SparkSession,
      sfDir: String,
      destDir: String,
      src: TableMeta,
      dst: TableMeta,
      conf: PlanConfig = PlanConfig(),
      /** `truncate-tables` (reference `SmartBulkCopy.cs:391-396`,
        * default false there): ON truncates the destination first; OFF
        * appends, and any leftover rows from a previous load surface as
        * a reconciliation mismatch — exactly `CheckResults`' behavior
        * against a non-empty destination.
        */
      truncateDest: Boolean = true,
      /** `retry-connection` policy (reference
        * `SmartBulkCopyConfig.cs:110-112`): attempts per table load and
        * the per-attempt delay increment. */
      retryMaxAttempts: Int = 5,
      retryDelayIncrementMs: Long = 0L,
      /** false skips the per-table reconciliation count pair, for a
        * caller that reconciles every table afterwards itself (reference
        * `SmartBulkCopy.cs:216-245`). The returned counts are then -1
        * sentinels and `ok` is vacuously true — a caller that opts out
        * must not read them. */
      reconcile: Boolean = true): CopyResult = {
    val items = planned(spark, sfDir, src, dst, conf)
    val dest = Dest.of(spark, destDir)
    load(dest, copyFrame(spark, sfDir, items), dst, conf.batchSize, truncateDest,
      retryMaxAttempts, retryDelayIncrementMs)
    // Reconciliation mirrors the reference's metadata-view check
    // (sys.dm_db_partition_stats on both ends, SmartBulkCopy.cs:302-313):
    // source side reuses the count collected under the immutability
    // gate; destination side reads the committed state — no data pages.
    val (s, d, ok) =
      if (!reconcile) (-1L, -1L, true) // the caller reconciles later
      else {
        val srcRows =
          if (src.rowCount > 0L) src.rowCount
          else Scans.table(spark, sfDir, src.name).count()
        val dstRows = dest.rows(dst.name)
        (srcRows, dstRows, srcRows == dstRows)
      }
    val kind = items.head.slice match {
      case SliceSpec.Whole       => "none"
      case _: SliceSpec.Physical => "physical"
      case _: SliceSpec.Logical  => "logical"
    }
    CopyResult(src.name, items.size, kind, s, d, ok)
  }

  /** [[copyTable]] into a live JDBC database at `url`, without the
    * reconciliation count (the caller reconciles). */
  def copyTableJdbc(
      spark: SparkSession,
      sfDir: String,
      url: String,
      props: java.util.Properties,
      src: TableMeta,
      dst: TableMeta,
      conf: PlanConfig = PlanConfig(),
      truncateDest: Boolean = true,
      retryMaxAttempts: Int = 5,
      retryDelayIncrementMs: Long = 0L): Unit =
    load(Dest.Jdbc(url, props), copyFrame(spark, sfDir, planned(spark, sfDir, src, dst, conf)),
      dst, conf.batchSize, truncateDest, retryMaxAttempts, retryDelayIncrementMs)
}
