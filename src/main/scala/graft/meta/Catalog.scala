package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import graft.exec.Sinks

/** Catalog collector — the Spark-native analog of the reference's
  * `client/TableInfoCollector.cs`: per-table metadata discovered at run
  * time (existence, storage topology, key columns, partitioning, size,
  * column list, temporal info, FK counts).
  *
  * The testdata parquet star schema has no `sys.*` views, so the physical
  * facts (row counts, byte sizes, column lists) are *discovered* from the
  * files, while the logical topology (index type, sort keys, partition
  * function, FKs, temporal pairing) is declared here, mirroring the
  * reference's test fixture topologies
  * (`tests/sql/setup-reference-sample-test-table.sql`,
  * `tests/Heap.cs`/`ClusteredRowstore.cs`/`ClusteredColumnstore.cs`).
  * The `meta_*` queries in [[graft.SparkEntry]] run the reference's
  * catalog-query *shapes* (multi-way equi-joins, counts, scalar
  * subqueries, union+limit probes) over these DataFrames.
  */
object Catalog {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Declared topology — the testdata re-expression of the reference's
    * fixture matrix: TPC-H LINEITEM clustered on (L_ORDERKEY, L_LINENUMBER)
    * with a DESC variant from the Issue17 regression (`tests/Issues.cs:36`),
    * heaps, a columnstore, and one system-versioned temporal pair.
    */
  val declared: Map[String, TableMeta] = Map(
    // foreignKeyCount is the reference collector's DISJUNCTIVE count —
    // FKs where the table is parent OR referenced
    // (`TableInfoCollector.cs:487-496`: `parent_object_id = t OR
    // referenced_object_id = t`) — mirroring [[foreignKeyRows]] under
    // that same counting (CopySpec pins the agreement). The disjunction
    // matters for the analyzer's abort gate: the reference stops on a
    // destination another table's FK points AT (region, part), not only
    // on one that itself declares FKs.
    "region"   -> TableMeta("main", "region", Storage.Heap, foreignKeyCount = 1),
    "nation"   -> TableMeta("main", "nation", Storage.Heap, foreignKeyCount = 3),
    "customer" -> TableMeta("main", "customer", Storage.ClusteredRowstore,
      sortKeys = Seq(SortKey("c_custkey")), foreignKeyCount = 2),
    "supplier" -> TableMeta("main", "supplier", Storage.Heap, foreignKeyCount = 2),
    "part"     -> TableMeta("main", "part", Storage.Heap, secondaryIndexCount = 1,
      foreignKeyCount = 1),
    "orders"   -> TableMeta("main", "orders", Storage.ClusteredRowstore,
      sortKeys = Seq(SortKey("o_orderkey")), foreignKeyCount = 2,
      history = Some(HistoryInfo("orders_history", "valid_from", "valid_to", 90))),
    // lineitem: clustered rowstore (l_orderkey asc, l_linenumber desc) —
    // the mixed-direction key of tests/Issues.cs:36 — physically
    // partitioned by ship-year (the $partition.pf(col) analog).
    "lineitem" -> TableMeta("main", "lineitem", Storage.ClusteredRowstore,
      sortKeys = Seq(SortKey("l_orderkey"), SortKey("l_linenumber", descending = true)),
      partitionCol = Some("l_shipdate"), partitionCount = 7, foreignKeyCount = 3,
      // projection drops the catalog-declared non-portable columns
      // (computed + rowversion — TableInfoCollector.cs:395-408); they are
      // catalog-only here, so the exclusion is policy-exercising, not
      // data-changing
      excludedColumns = Seq("l_revenue_computed", "l_rowversion")),
    "events"     -> TableMeta("main", "events", Storage.ClusteredColumnstore),
    "documents"  -> TableMeta("main", "documents", Storage.ClusteredColumnstore),
    "embeddings" -> TableMeta("main", "embeddings", Storage.ClusteredColumnstore))

  /** Tables whose key is an IDENTITY column — the `TableHasIdentity = 1`
    * set the reference's identity sync filters on (its per-table CTE
    * returns NULL for the rest and the sync skips them,
    * `SmartBulkCopy.cs:347-370`). Shared by `identity_sync` and
    * [[graft.Copy]]'s post-check sync step.
    */
  val identityColumns: Map[String, String] = Map(
    "customer" -> "c_custkey",
    "orders"   -> "o_orderkey",
    "part"     -> "p_partkey",
    "supplier" -> "s_suppkey")

  /** Collect physical facts for one table — reference
    * `TableInfoCollector.cs:170-188` (`CollectAsync`: existence → index
    * topology → counts → size → columns). Row count and byte size come
    * from the parquet footprint (`sys.dm_db_partition_stats` analog,
    * `TableInfoCollector.cs:370-389`) of the COMMITTED data files
    * ([[Sinks.committedFiles]], the predicate reconciliation and the
    * safe-check footprints read): the byte size sums their lengths and
    * the row count their footers, read on the driver — no data page is
    * read and no job runs, so every call answers for the files as they
    * are now.
    */
  def collect(spark: SparkSession, sfDir: String, name: String): TableMeta = {
    val files = Sinks.committedFiles(spark, s"$sfDir/$name.parquet")
    declared(name).copy(
      rowCount = Sinks.footerRowCount(spark.sparkContext.hadoopConfiguration, files),
      sizeBytes = files.map(_.getLen).sum)
  }

  def collectAll(spark: SparkSession, sfDir: String): Map[String, TableMeta] =
    tableNames.map(n => n -> collect(spark, sfDir, n)).toMap

  // ---------------------------------------------------------------------
  // Synthesized sys.* catalog DataFrames. Index type codes follow SQL
  // Server: 0 = heap, 1 = rowstore clustered, 5 = columnstore clustered,
  // 2 = nonclustered (reference `TableInfoCollector.cs:220-368`).
  // ---------------------------------------------------------------------

  /** History-table name → synthesized object_id (100, 101, …): each
    * temporal table points at ITS OWN history table's id — a second
    * declared temporal pair must not alias the first one's history rows.
    */
  lazy val historyTableIds: Map[String, Int] =
    tableNames.flatMap(n => declared(n).history.map(_.historyTable))
      .distinct.zipWithIndex.map { case (h, k) => h -> (100 + k) }.toMap

  /** Raw catalog rows, shared by the Spark DataFrames below and the DuckDB
    * oracle `VALUES` CTEs ([[valuesCte]]) so both sides of the correctness
    * gate are generated from one source of truth.
    */
  lazy val tableRows: Seq[(Int, String, String, Option[Int], Option[Int])] = {
    tableNames.zipWithIndex.map { case (n, i) =>
      val m = declared(n)
      (i + 1, m.schema, n, m.history.map(h => historyTableIds(h.historyTable)),
        m.history.map(_.retentionDays))
    } ++ historyTableIds.toSeq.sortBy(_._2).map { case (h, hid) =>
      (hid, "main", h, Option.empty[Int], Option.empty[Int])
    }
  }

  /** `sys.tables ⋈ sys.schemas`-shaped catalog: (object_id, schema_name,
    * table_name, history_table_id, history_retention_period).
    */
  def sysTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tableRows.toDF("object_id", "schema_name", "table_name", "history_table_id",
      "history_retention_period")
  }

  lazy val indexRows: Seq[(Int, Int, Int, String)] =
    tableNames.zipWithIndex.flatMap { case (n, i) =>
      val m = declared(n)
      val primary = m.storage match {
        case Storage.Heap                  => (i + 1, 0, 0, s"heap_$n")
        case Storage.ClusteredRowstore     => (i + 1, 1, 1, s"pk_$n")
        case Storage.ClusteredColumnstore  => (i + 1, 1, 5, s"cci_$n")
      }
      val secondary = (1 to m.secondaryIndexCount).map(k => (i + 1, 1 + k, 2, s"ix_${n}_$k"))
      primary +: secondary
    }

  /** `sys.indexes`-shaped: (object_id, index_id, index_type, index_name). */
  def sysIndexes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    indexRows.toDF("object_id", "index_id", "index_type", "index_name")
  }

  lazy val indexColumnRows: Seq[(Int, Int, Int, Int, Int, Int)] =
    tableNames.zipWithIndex.flatMap { case (n, i) =>
      val m = declared(n)
      val colIds = columnIds(n)
      // the PRINCIPAL index id must match the sys.indexes row the table
      // actually emits (heap → 0, clustered → 1) — hardcoding 1 leaves a
      // partitioned or sorted Heap's column rows dangling: no
      // (object_id, index_id) partner in sys_indexes, so a catalog join
      // silently drops them on BOTH gate sides at once
      val principal = m.storage match {
        case Storage.Heap => 0
        case _            => 1
      }
      val keyRows = m.sortKeys.zipWithIndex.map { case (k, ord) =>
        (i + 1, principal, colIds(k.col), ord + 1, if (k.descending) 1 else 0, 0)
      }
      val partRows = m.partitionCol.toSeq.map { pc =>
        (i + 1, principal, colIds(pc), 0, 0, 1)
      }
      keyRows ++ partRows
    }

  /** `sys.index_columns`-shaped: (object_id, index_id, column_id,
    * key_ordinal, is_descending_key, partition_ordinal).
    */
  def sysIndexColumns(spark: SparkSession): DataFrame = {
    import spark.implicits._
    indexColumnRows.toDF("object_id", "index_id", "column_id", "key_ordinal",
      "is_descending_key", "partition_ordinal")
  }

  /** Non-portable KIND per excluded column — (is_computed,
    * system_type_id); 189 is SQL Server's rowversion/timestamp. Keyed by
    * name so the synthetic sys.columns rows below derive from
    * `declared(n).excludedColumns` (the list the copy projection
    * actually drops) instead of a second hand-written copy of it —
    * renaming an exclusion in one representation used to fork the other
    * silently. A column excluded without a kind here fails loudly at
    * first catalog read. */
  private val nonPortableKind: Map[String, (Int, Int)] = Map(
    "l_revenue_computed" -> ((1, 0)),
    "l_rowversion"       -> ((0, 189)))

  lazy val columnRows: Seq[(Int, Int, String, Int, Int)] =
    tableNames.zipWithIndex.flatMap { case (n, i) =>
      val real = schemaColumns(n).zipWithIndex.map { case (c, j) =>
        (i + 1, j + 1, c, 0, 0)
      }
      // catalog-only non-portable columns — the reference's exclusion
      // fixture (computed + rowversion/timestamp columns that the copy
      // projection must drop, TableInfoCollector.cs:395-408), DERIVED
      // from the same declared list the projection reads
      val synthetic = declared(n).excludedColumns.zipWithIndex.map { case (c, k) =>
        val (isComputed, typeId) = nonPortableKind.getOrElse(c,
          throw new IllegalStateException(
            s"excluded column $n.$c has no non-portable kind fixture"))
        (i + 1, real.size + 1 + k, c, isComputed, typeId)
      }
      real ++ synthetic
    }

  /** `sys.columns`-shaped: (object_id, column_id, column_name, is_computed,
    * system_type_id) — reference `TableInfoCollector.cs:391-414`.
    */
  def sysColumns(spark: SparkSession): DataFrame = {
    import spark.implicits._
    columnRows.toDF("object_id", "column_id", "column_name", "is_computed",
      "system_type_id")
  }

  /** Period columns of system-versioned tables — the
    * `generated_always_type` 1/2 marks the reference reads via two
    * correlated scalar subqueries (`TableInfoCollector.cs:442-454`):
    * (object_id, column_name, generated_always_type).
    */
  lazy val periodRows: Seq[(Int, String, Int)] = tableNames.zipWithIndex.flatMap {
    case (n, i) => declared(n).history.toSeq.flatMap(h =>
      Seq((i + 1, h.periodStartColumn, 1), (i + 1, h.periodEndColumn, 2)))
  }

  def sysPeriods(spark: SparkSession): DataFrame = {
    import spark.implicits._
    periodRows.toDF("object_id", "column_name", "generated_always_type")
  }

  /** Column name → 1-based column id, from the canonical schema order. */
  def columnIds(name: String): Map[String, Int] = schemaColumns(name).zipWithIndex
    .map { case (c, i) => c -> (i + 1) }.toMap

  /** Canonical column order of the testdata tables (stable across sf). */
  val schemaColumns: Map[String, Seq[String]] = Map(
    "region"   -> Seq("r_regionkey", "r_name"),
    "nation"   -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"     -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"   -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  lazy val partitionFunctionRows: Seq[(Int, String, Int)] =
    tableNames.zipWithIndex.collect {
      case (n, i) if declared(n).partitionCount > 1 =>
        (i + 1, s"pf_$n", declared(n).partitionCount)
    }

  /** `sys.partition_schemes/functions`-shaped: one row per partitioned
    * table: (object_id, function_name, fanout) — reference
    * `TableAnalyzer.cs:313-338`.
    */
  def sysPartitionFunctions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    partitionFunctionRows.toDF("object_id", "function_name", "fanout")
  }

  private def id(n: String) = tableNames.indexOf(n) + 1

  lazy val foreignKeyRows: Seq[(String, Int, Int)] = Seq(
    ("fk_nation_region",     id("nation"),   id("region")),
    ("fk_customer_nation",   id("customer"), id("nation")),
    ("fk_supplier_nation",   id("supplier"), id("nation")),
    ("fk_orders_customer",   id("orders"),   id("customer")),
    ("fk_lineitem_orders",   id("lineitem"), id("orders")),
    ("fk_lineitem_part",     id("lineitem"), id("part")),
    ("fk_lineitem_supplier", id("lineitem"), id("supplier")))

  /** `sys.foreign_keys`-shaped: (fk_name, parent_object_id,
    * referenced_object_id) — reference `TableInfoCollector.cs:483-501`.
    */
  def sysForeignKeys(spark: SparkSession): DataFrame = {
    import spark.implicits._
    foreignKeyRows.toDF("fk_name", "parent_object_id", "referenced_object_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB-oracle side: render the same catalog rows as SQL VALUES CTEs.
  // ---------------------------------------------------------------------

  private def lit(v: Any): String = v match {
    case None            => "NULL"
    case Some(x)         => lit(x)
    case s: String       => "'" + s.replace("'", "''") + "'"
    case n               => n.toString
  }

  def valuesCte(name: String, cols: Seq[String], rows: Seq[Product]): String = {
    // empty rows would render "AS (VALUES )" — invalid SQL whose parse
    // error surfaces far from the cause, inside whichever oracle embeds
    // the CTE. The derived row collections are non-empty for the
    // declared catalog; if a fixture change empties one, fail HERE.
    require(rows.nonEmpty, s"valuesCte $name: no rows — VALUES would be invalid SQL")
    val body = rows.map(r => "(" + r.productIterator.map(lit).mkString(", ") + ")")
      .mkString(", ")
    s"$name(${cols.mkString(", ")}) AS (VALUES $body)"
  }

  def sysTablesCte: String = valuesCte("sys_tables",
    Seq("object_id", "schema_name", "table_name", "history_table_id",
      "history_retention_period"), tableRows)
  def sysIndexesCte: String = valuesCte("sys_indexes",
    Seq("object_id", "index_id", "index_type", "index_name"), indexRows)
  def sysIndexColumnsCte: String = valuesCte("sys_index_columns",
    Seq("object_id", "index_id", "column_id", "key_ordinal",
      "is_descending_key", "partition_ordinal"), indexColumnRows)
  def sysColumnsCte: String = valuesCte("sys_columns",
    Seq("object_id", "column_id", "column_name", "is_computed",
      "system_type_id"), columnRows)
  def sysPeriodsCte: String = valuesCte("sys_periods",
    Seq("object_id", "column_name", "generated_always_type"), periodRows)
  def sysPartitionFunctionsCte: String = valuesCte("sys_partition_functions",
    Seq("object_id", "function_name", "fanout"), partitionFunctionRows)
  def sysForeignKeysCte: String = valuesCte("sys_foreign_keys",
    Seq("fk_name", "parent_object_id", "referenced_object_id"), foreignKeyRows)
}
