package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model._

/** Scan builders — the Spark realization of the reference's generated
  * `SELECT` text (`client/SmartBulkCopy.cs:422-438`, `client/CopyInfo.cs`).
  * Everything stays declarative so Catalyst pushes projections and
  * predicates into the parquet scan (check `.explain`: `PushedFilters`,
  * `ReadSchema`).
  */
object Scans {

  /** Read one testdata table. Filters/projections applied downstream are
    * pushed into this scan by Catalyst. Event time is normalized through
    * [[normalizeTs]] so no downstream operator ever sees the source's
    * physical encoding.
    *
    * The data schema comes from a parquet footer read on the driver
    * ([[footerSchema]]) — the catalog read the reference takes from
    * `sys.columns` (`TableInfoCollector.cs:391-414`) — and is handed to
    * the reader, so building the DataFrame runs no schema-inference job.
    * Partition columns are still inferred from `<col>=` directories by
    * the reader. Where the footer cannot stand in for inference, the
    * plain `spark.read.parquet` infers as before, errors included.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val reader = footerSchema(spark, path).fold(spark.read)(spark.read.schema(_))
    normalizeTs(reader.parquet(path))
  }

  /** The data schema Spark's parquet inference settles on for `path`,
    * from the footer that inference itself reads: the first visible data
    * file in path order (`ParquetUtils.inferSchema`, schema merging off),
    * converted under the session's flags (`nanosAsLong`, INT96, NTZ)
    * exactly as inference converts it. `None` — the caller infers — when
    * the path is missing, merging is on, no committed data file comes
    * first, a `_metadata`/`_common_metadata` summary or a streaming
    * sink's `_spark_metadata` log exists (inference or the reader would
    * prefer them), a data column is also a `<col>=` directory (a given
    * schema would move it), or the footer does not read. */
  private[graft] def footerSchema(
      spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) None
      else {
        val segments = Sinks.segmentsBelow(fs, root)
        val all = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        val it = fs.listFiles(root, true)
        while (it.hasNext) all += it.next()
        // InMemoryFileIndex's listing rule: `_`/`.` names are skipped
        // unless a `_` name is a partition directory (`_c=v`) or a summary
        def visible(seg: String): Boolean =
          seg.startsWith("_metadata") || seg.startsWith("_common_metadata") ||
            !((seg.startsWith("_") && !seg.contains("=")) ||
              seg.startsWith(".") || seg.endsWith("._COPYING_"))
        val summaries = all.exists(f => segments(f.getPath).exists(s =>
          s.startsWith("_metadata") || s.startsWith("_common_metadata") ||
            s == "_spark_metadata"))
        val listed = all.filter(f => segments(f.getPath).forall(visible)).toSeq
        val committed = Sinks.committedDataFile(Sinks.hiddenBelow(fs, root)) _
        val first =
          if (summaries) None
          else listed.sortBy(_.getPath.toString).headOption.filter(committed)
        val partitionCols = listed.flatMap(f => segments(f.getPath).dropRight(1))
          .filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT))
          .toSet
        first.map { f =>
          Sinks.footerFold(conf, Seq(f))(footer =>
            ParquetFileFormat.readSchemaFromFooter(
              new org.apache.parquet.hadoop.Footer(f.getPath, footer),
              new ParquetToSparkSchemaConverter(sqlConf))).head
        }.filterNot(_.fieldNames.exists(n =>
          partitionCols.contains(n.toLowerCase(java.util.Locale.ROOT))))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Normalize the event-time column to Spark's native `TimestampType`
    * whatever physical representation the source carries — the
    * type-opaque-transport property the reference builds its whole copy
    * around (`client/TableInfoCollector.cs:391-414` treats all 33 scalar
    * types as pass-through precisely so representation drift can't break
    * the pipeline). Three encodings seen in the wild for `events.ts`:
    *
    *  - parquet TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → `LongType` ns since
    *    epoch: integer-truncate to µs (`div` — no double rounding at 1e18
    *    magnitude) and reinterpret;
    *  - parquet `timestamp[us]` without timezone → `TimestampNTZType`:
    *    cast to `TimestampType`, value-preserving under the forced UTC
    *    session every entrypoint sets;
    *  - native `TimestampType` → pass-through.
    *
    * Works identically on batch and streaming frames (schema-driven, no
    * action). The testdata contract itself is pinned in
    * `TestdataContractSpec` so the NEXT representation change breaks one
    * named test instead of every downstream analysis.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast("timestamp"))
      case _ => df
    }

  /** [[normalizeTs]] then truncate to whole milliseconds (floor — exact
    * for the post-1970 corpus): the event-time grain the ms-epoch oracles
    * compare at. `unix_millis` floors sub-ms precision, so the ns→ms and
    * µs→ms paths compose to the same value whatever the source encoding.
    */
  def normalizeTsMillis(df: DataFrame, colName: String = "ts"): DataFrame = {
    val n = normalizeTs(df, colName)
    if (n.schema.fields.exists(_.name == colName))
      n.withColumn(colName, timestamp_millis(unix_millis(col(colName))))
    else n
  }

  /** Spread an under-split scan across the session's cores before
    * CPU-heavy per-row work (fused text kernels, signature hashing,
    * image decode). A single-file, single-row-group parquet table — the
    * local corpus shape — is UNSPLITTABLE below one task (Spark assigns
    * row groups by split midpoint), so every expression in the scan
    * stage runs on one core while the rest idle; the guide's unsplittable-
    * input remedy is a round-robin repartition immediately after the
    * read (§2.5). Scale-adaptive, not a local constant: `bytes` is the
    * source's on-disk size ([[tableBytes]]; -1 when unknown), the scan's
    * split count is estimated as ceil(bytes / maxPartitionBytes) — the
    * planner's own split rule, so the check costs a stat, not a
    * physical-plan build — and when that already reaches the session's
    * parallelism (any real multi-file corpus) this is the identity: no
    * exchange is added at scale, and the local exchange only moves the
    * pruned columns the caller selected. Unknown size falls back to
    * spreading (a mis-fired repartition of an already-wide scan costs one
    * balanced exchange, never correctness). Apply AFTER projecting to the
    * columns the kernel needs, so the exchange ships a proxy-sized row,
    * never an unpruned payload.
    */
  def spreadBytes(spark: SparkSession, df: DataFrame, bytes: Long): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .flatMap(v => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption)
      .getOrElse(128L * 1024 * 1024)
    val estSplits = if (bytes < 0) 1L else (bytes + maxSplit - 1) / maxSplit
    if (estSplits >= cores) df else df.repartition(cores)
  }

  /** On-disk size of one testdata table (file or directory), for
    * [[spreadBytes]]'s split estimate. Directories are walked
    * RECURSIVELY: a nested / hive-partitioned layout keeps all its data
    * files below partition subdirectories, so a top-level-only sum read
    * ~0 bytes and mis-fired the spread exchange on an already-wide
    * corpus — the exact at-scale-identity guarantee spreadBytes exists
    * to keep. The walk never descends through a directory link below
    * the table root, so a link cycle cannot recurse forever (a link to
    * a FILE still counts its target's bytes; the root itself may be a
    * link). */
  def tableBytes(sfDir: String, name: String): Long = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(s"$sfDir/$name.parquet")
    if (!Files.exists(root)) -1L
    else {
      val walk = Files.walk(root.toRealPath())
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }
  }

  /** Explicit-column-list projection, excluding computed / column-set /
    * rowversion columns — reference `CopyInfo.cs:24-27` (select-list
    * generation) + `TableInfoCollector.cs:391-414` (exclusion policy).
    * Catalyst's ColumnPruning turns this into a narrow parquet ReadSchema.
    */
  def project(df: DataFrame, excluded: Seq[String]): DataFrame = {
    val cols = df.columns.filterNot(excluded.contains(_)).map(col).toSeq
    df.select(cols: _*)
  }

  /** Deterministic, disjoint, exhaustive hash-mod slice of an immutable
    * snapshot — the `%%PhysLoc%% % N = i` logical partition of the
    * reference (`CopyInfo.cs:58-68`, `README.md:58-74`).
    *
    * Two key expressions:
    *  - [[sliceKeyPortable]]: plain integer arithmetic over key columns,
    *    computable identically by any ANSI engine (used by oracled queries);
    *  - [[sliceKeyHash]]: `xxhash64` over all columns — the scale path for
    *    tables without a compact integer key (not oracle-portable).
    * Both satisfy the reference's contract: the union of the N slices is
    * the table and pairwise intersections are empty (property-tested in
    * `graft.PlannerSpec`).
    */
  def sliceKeyPortable(keyCols: Seq[String]): Column =
    // NULL-SAFE cast: a NULL key column would make the whole fold NULL,
    // pmod(NULL, n) = NULL, and the row would match NO slice filter —
    // silently missing from every slice of a "successful" copy (the
    // reference's %%PhysLoc%% can never be NULL, so exhaustiveness is
    // its contract's given; here it must be made). NULL folds as 0 —
    // deterministic, and identical in the SQL-text twin
    // (SqlGen.whereClause) so the two paths can never disagree on a
    // row's slice. Non-null keys are untouched: coalesce(x, 0) = x.
    keyCols.map(c => coalesce(col(c).cast("long"), lit(0L)))
      .reduce((a, b) => a * lit(31L) + b)

  def sliceKeyHash(df: DataFrame): Column =
    abs(xxhash64(df.columns.map(col).toSeq: _*))

  def logicalSlice(df: DataFrame, key: Column, count: Int, index: Int): DataFrame =
    df.filter(pmod(key, lit(count.toLong)) === lit(index.toLong))

  /** Year mapped to partition ordinal 0 by the synthetic RANGE partition
    * function over the testdata (shared with [[SqlGen.whereClause]] so
    * the SQL-text and DataFrame paths can never drift apart).
    */
  val DefaultEpochYear = 1994

  /** Physical-partition scan — `WHERE $partition.pf(col) = n`
    * (`CopyInfo.cs:47-56`) in its RANGE form: the partition function
    * `pf(col) = n` expressed as raw-column bounds
    * (`col >= lo AND col < hi`). Unlike `year(col) = y`, these predicates
    * PUSH DOWN to the parquet scan (row-group min/max pruning; partition
    * pruning on a date-partitioned layout) — check `.explain`:
    * `PushedFilters: [GreaterThanOrEqual(l_shipdate,…), LessThan(…)]`.
    */
  def physicalPartitionRange(df: DataFrame, colName: String, n: Int,
      epochYear: Int = DefaultEpochYear): DataFrame = {
    // Bounds cast to the column's OWN type (TIMESTAMP vs TIMESTAMP_NTZ
    // drifts with the source writer): a literal of the matching type keeps
    // the predicate a pushable column-vs-literal compare — a mismatched
    // literal would make Catalyst cast the COLUMN and kill the row-group
    // min/max pruning this scan exists for.
    val dt = df.schema(colName).dataType
    df.filter(col(colName) >= lit(s"${epochYear + n}-01-01").cast(dt) &&
      col(colName) < lit(s"${epochYear + n + 1}-01-01").cast(dt))
  }

  /** Ordered scan — reference `SmartBulkCopy.cs:429-438`. The reference
    * orders *each partition's stream*, not the whole table, so the Spark
    * analog is `sortWithinPartitions` (a global `orderBy` would pay a
    * range-shuffle the reference never pays). Computed key columns are
    * excluded exactly as [[SqlGen.orderByClause]] excludes them — they
    * are not in the projection, so sorting on one would fail to resolve
    * here while the SQL-text twin silently skipped it.
    */
  def orderedWithinPartitions(df: DataFrame, keys: Seq[SortKey]): DataFrame = {
    val cols = keys.filterNot(_.isComputed)
      .map(k => if (k.descending) col(k.col).desc else col(k.col).asc)
    if (cols.isEmpty) df else df.sortWithinPartitions(cols: _*)
  }

  /** Build the DataFrame for one planner work item. Physical slices use
    * the pushdown-friendly range predicate on the raw partition column.
    */
  def forWorkItem(spark: SparkSession, sfDir: String, item: WorkItem): DataFrame = {
    val base = project(table(spark, sfDir, item.table.name), item.table.excludedColumns)
    val sliced = item.slice match {
      case SliceSpec.Whole => base
      case SliceSpec.Physical(pcol, n) =>
        physicalPartitionRange(base, pcol, n)
      case SliceSpec.Logical(keys, n, i) =>
        val key = if (keys.nonEmpty) abs(sliceKeyPortable(keys)) else sliceKeyHash(base)
        logicalSlice(base, key, n, i)
    }
    orderedWithinPartitions(sliced, item.orderHint)
  }
}
