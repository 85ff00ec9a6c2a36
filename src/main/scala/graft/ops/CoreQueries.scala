package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.{Pipeline, Scans}
import graft.meta.Catalog
import graft.model.{SliceSpec, SortKey, WorkItem}

/** The reference's own operator surface (SURVEY.md §2 A+B), re-expressed as
  * declarative Spark queries over the testdata star schema. Each entry
  * cites the reference behavior it reproduces.
  */
object CoreQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Scans.table(spark, dir, name)

  /** Per-table rowcount as a one-row DataFrame (name, row_count). */
  private def countOf(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name).agg(count(lit(1)).as("row_count"))
      .select(lit(name).as("table_name"), col("row_count"))

  val lineitemCols: Seq[String] = Catalog.schemaColumns("lineitem")

  /** Portable logical-slice key: (l_orderkey*31 + l_linenumber) — the
    * oracle-safe arithmetic stand-in for `%%PhysLoc%%` (SURVEY.md §7 risk
    * register; reference `CopyInfo.cs:58-68`).
    */
  private val liSliceKey: Column = Scans.sliceKeyPortable(Seq("l_orderkey", "l_linenumber"))
  private val liSliceKeySql = "(l_orderkey * 31 + l_linenumber)"

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // scan_project — explicit-column-list scan, never SELECT *
    // (reference CopyInfo.cs:24-27, SmartBulkCopy.cs:438,
    //  TableInfoCollector.cs:391-414).
    // ------------------------------------------------------------------
    QueryDef("scan_project",
      s"""SELECT ${lineitemCols.mkString(", ")}
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Scans.project(t(s, dir, "lineitem"), excluded = Nil)
        .select(lineitemCols.map(col): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ------------------------------------------------------------------
    // scan_logical_partition — one hash-mod slice of an unpartitioned
    // table: WHERE ABS(%%PhysLoc%%) % 9 = 3 analog (CopyInfo.cs:58-68).
    // ------------------------------------------------------------------
    QueryDef("scan_logical_partition",
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |FROM lineitem
         |WHERE $liSliceKeySql % 9 = 3
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Scans.logicalSlice(t(s, dir, "lineitem"), liSliceKey, 9, 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ------------------------------------------------------------------
    // scan_physical_partition — partition-pruned scan:
    // WHERE $partition.pf(col) = n (CopyInfo.cs:47-56, README.md:50-56).
    // Synthetic pf = ship-year ordinal; partition 3 = 1997, expressed as
    // raw-column range bounds so the predicate pushes into the parquet
    // scan (row-group/partition pruning) instead of evaluating year()
    // per row.
    // ------------------------------------------------------------------
    QueryDef("scan_physical_partition",
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Scans.physicalPartitionRange(t(s, dir, "lineitem"), "l_shipdate", 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ------------------------------------------------------------------
    // scan_ordered — ordered scan from clustered-index keys, with a
    // mixed-direction key (l_orderkey ASC, l_linenumber DESC) — the
    // Issue17 regression shape (SmartBulkCopy.cs:429-438, tests/Issues.cs:36).
    // ------------------------------------------------------------------
    QueryDef("scan_ordered",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey ASC, l_linenumber DESC""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").desc)
    },

    // ------------------------------------------------------------------
    // scan_deterministic_sample — reproducible 5% sample via a hash-mod
    // predicate on the key, NOT an RNG: at 100 TB sampling must be
    // engine- and run-independent (stats jobs, debug slices, A/B reads
    // all need the SAME rows back), which `TABLESAMPLE`'s RNG cannot
    // give across engines. The md5-fold predicate pushes into the scan
    // as a deterministic filter and both engines select identical rows
    // (hash-verified, the strongest form of the claim).
    // ------------------------------------------------------------------
    QueryDef("scan_deterministic_sample",
      """SELECT count(*) AS n_sampled,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       CAST(min(l_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(l_orderkey) AS BIGINT) AS max_key
        |FROM lineitem
        |WHERE (CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |                                    CAST(l_linenumber AS VARCHAR)), 1, 15))
        |             AS BIGINT) % 20) = 0""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr(
          """cast(conv(substring(md5(concat(cast(l_orderkey AS string), '-',
            |                              cast(l_linenumber AS string))), 1, 15),
            |         16, 10) AS bigint) % 20 = 0""".stripMargin))
        .agg(count(lit(1)).as("n_sampled"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          min(col("l_orderkey")).cast("long").as("min_key"),
          max(col("l_orderkey")).cast("long").as("max_key"))
    },

    // ------------------------------------------------------------------
    // tables_wildcard_match — catalog scan + ORDERED wildcard
    // include/exclude fold, then distinct (SmartBulkCopy.cs:812-911,
    // fold SmartBulkCopy.cs:870-904, `+:`/`-:` encoding
    // SmartBulkCopyConfig.cs:199-219). The pattern list
    // ["*", "-:e*", "+:events"] is ORDER-SENSITIVE: the exclude strips
    // events and embeddings, the later include re-adds events — so the
    // result keeps every e-table named events and drops embeddings.
    // Applying the same three entries in any exclude-last order would
    // drop events too (spec-asserted in PipelineSpec).
    // ------------------------------------------------------------------
    QueryDef("tables_wildcard_match",
      // the oracle's table list derives from the SAME catalog rows the
      // Spark side scans (declared tables + every synthesized history
      // table), never a hardcoded history-table literal — declaring a
      // second temporal pair must change both sides together or the
      // gate failure would misattribute to this unrelated query
      s"""WITH sys_tables(table_name) AS (VALUES ${
          (Catalog.tableNames ++ Catalog.historyTableIds.keys)
            .map(n => s"('$n')").mkString(", ")})
         |SELECT DISTINCT table_name FROM sys_tables
         |WHERE NOT regexp_matches(table_name, '^e.*$$')
         |   OR table_name = 'events'
         |ORDER BY table_name""".stripMargin) { (s, _) =>
      import s.implicits._
      // catalog scan first (the reference's sys.tables ⋈ sys.schemas
      // query, SmartBulkCopy.cs:832-863), then the client-side ordered
      // fold — exactly the reference's split of work
      val catalogNames = Catalog.sysTables(s)
        .select(col("table_name")).as[String].collect().toSeq
      Pipeline.expandTableList(Seq("*", "-:e*", "+:events"), catalogNames)
        .toDF("table_name")
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_table_size — sum(row_count) per table over partition stats
    // (TableInfoCollector.cs:370-389). lineitem's count is computed as the
    // sum over its physical partitions (two-level aggregation); the other
    // tables are single-partition counts.
    // ------------------------------------------------------------------
    QueryDef("meta_table_size",
      s"""SELECT table_name, row_count FROM (
         |  SELECT 'lineitem' AS table_name, CAST(sum(part_rows) AS BIGINT) AS row_count FROM (
         |    SELECT count(*) AS part_rows FROM lineitem
         |    GROUP BY date_part('year', l_shipdate) - 1994) parts
         |  ${Catalog.tableNames.filterNot(_ == "lineitem").map(n =>
               s"UNION ALL SELECT '$n', count(*) FROM $n").mkString("\n  ")}
         |) sizes ORDER BY table_name""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .groupBy(Pipeline.partitionNumber(col("l_shipdate")).as("p"))
        .agg(count(lit(1)).as("part_rows"))
        .agg(sum(col("part_rows")).as("row_count"))
        .select(lit("lineitem").as("table_name"), col("row_count"))
      val others = Catalog.tableNames.filterNot(_ == "lineitem")
        .map(n => countOf(s, dir, n).select(col("table_name"), col("row_count").cast("long")))
      others.foldLeft(li.select(col("table_name"), col("row_count").cast("long")))(_ unionAll _)
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_partition_count — physical-partition count per table
    // (TableAnalyzer.cs:296-309).
    // ------------------------------------------------------------------
    QueryDef("meta_partition_count",
      """SELECT 'lineitem' AS table_name,
        |       count(DISTINCT date_part('year', l_shipdate)) AS partition_count
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(countDistinct(year(col("l_shipdate"))).as("partition_count"))
        .select(lit("lineitem").as("table_name"), col("partition_count"))
    },

    // ------------------------------------------------------------------
    // rowcount_check — source/destination rowcount reconciliation
    // (SmartBulkCopy.cs:296-339). "Destination" here is the union of the
    // 9 disjoint logical slices — exercising the disjoint+exhaustive
    // contract the whole parallel-copy design rests on.
    // ------------------------------------------------------------------
    QueryDef("rowcount_check",
      s"""WITH src AS (SELECT count(*) AS c FROM lineitem),
         |     dst AS (SELECT count(*) AS c FROM (
         |       SELECT $liSliceKeySql % 9 AS slice FROM lineitem) sl)
         |SELECT 'lineitem' AS table_name,
         |       src.c AS src_rows, dst.c AS dst_rows,
         |       src.c = dst.c AS is_match
         |FROM src, dst""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val slices = (0 until 9).map(i => Scans.logicalSlice(li, liSliceKey, 9, i))
      val dst = slices.reduce(_ unionAll _).agg(count(lit(1)).as("dst_rows"))
      val src = li.agg(count(lit(1)).as("src_rows"))
      src.crossJoin(dst)
        .select(lit("lineitem").as("table_name"),
          col("src_rows"), col("dst_rows"),
          (col("src_rows") === col("dst_rows")).as("is_match"))
    },

    // ------------------------------------------------------------------
    // rowhash_check — CONTENT reconciliation, the upgrade over the
    // reference's rowcount-only check (SmartBulkCopy.cs compares counts;
    // a corrupted or truncated-and-padded copy passes that). Each row
    // folds a canonical rendering of its identity + payload columns
    // through md5 into a 28-bit integer; the order-INDEPENDENT sum of
    // those is the table's content checksum, so source and the
    // slice-union destination can be compared without any global sort —
    // one scan + one integer sum each side, embarrassingly parallel at
    // any scale. 28-bit terms keep the BIGINT sum exact past 3e10 rows
    // (HUGEINT on the DuckDB side, so both engines agree bit-for-bit);
    // integer columns + strings only in the rendering — float formatting
    // is not cross-engine canonical.
    // ------------------------------------------------------------------
    QueryDef("rowhash_check",
      s"""WITH src AS (
         |  SELECT count(*) AS c,
         |         CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
         |           CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
         |           CAST(l_partkey AS VARCHAR), l_returnflag, l_linestatus)),
         |           1, 7)) AS BIGINT)) AS BIGINT) AS h
         |  FROM lineitem),
         |dst AS (
         |  SELECT count(*) AS c,
         |         CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
         |           CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
         |           CAST(l_partkey AS VARCHAR), l_returnflag, l_linestatus)),
         |           1, 7)) AS BIGINT)) AS BIGINT) AS h
         |  FROM (SELECT *, $liSliceKeySql % 9 AS slice FROM lineitem) sl)
         |SELECT 'lineitem' AS table_name,
         |       src.c AS src_rows, dst.c AS dst_rows,
         |       src.h AS src_hash, dst.h AS dst_hash,
         |       src.c = dst.c AND src.h = dst.h AS is_match
         |FROM src, dst""".stripMargin) { (s, dir) =>
      val rowHash = expr(
        """cast(conv(substring(md5(concat_ws('|',
          |  cast(l_orderkey AS string), cast(l_linenumber AS string),
          |  cast(l_partkey AS string), l_returnflag, l_linestatus)),
          |  1, 7), 16, 10) AS bigint)""".stripMargin)
      val li = t(s, dir, "lineitem")
      val src = li.agg(count(lit(1)).as("src_rows"),
        sum(rowHash).cast("long").as("src_hash"))
      val slices = (0 until 9).map(i => Scans.logicalSlice(li, liSliceKey, 9, i))
      val dst = slices.reduce(_ unionAll _)
        .agg(count(lit(1)).as("dst_rows"),
          sum(rowHash).cast("long").as("dst_hash"))
      src.crossJoin(dst)
        .select(lit("lineitem").as("table_name"),
          col("src_rows"), col("dst_rows"), col("src_hash"), col("dst_hash"),
          (col("src_rows") === col("dst_rows") &&
            col("src_hash") === col("dst_hash")).as("is_match"))
    },

    // ------------------------------------------------------------------
    // scan_generated_sql — the reference's core mechanism run natively:
    // assemble `SELECT <cols> FROM t WHERE <slice> ORDER BY <keys>` as
    // TEXT (SmartBulkCopy.cs:422-438, CopyInfo.cs:24-68) and execute it
    // with spark.sql over a registered view. Same slice as
    // scan_logical_partition, so the SQL surface and the DataFrame
    // surface are interchangeable.
    // ------------------------------------------------------------------
    QueryDef("scan_generated_sql",
      s"""SELECT ${lineitemCols.mkString(", ")}
         |FROM lineitem
         |WHERE abs($liSliceKeySql) % 9 = 3
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      // declared metadata only: SqlGen renders from name/columns/slice/
      // order — the rowcount/size probes of Catalog.collect belong to
      // the collect-info phase, not the generated-SQL scan being
      // measured (the reference likewise renders from already-collected
      // TableInfo, SmartBulkCopy.cs:422-438)
      val meta = Catalog.declared("lineitem")
      val item = WorkItem(meta,
        SliceSpec.Logical(Seq("l_orderkey", "l_linenumber"), 9, 3),
        orderHint = Seq(SortKey("l_orderkey"), SortKey("l_linenumber")))
      graft.exec.SqlGen.run(s, dir, item)
    },

    // ------------------------------------------------------------------
    // identity_sync — IDENT_CURRENT analog: current max of each table's
    // identity column, used to reseed the destination
    // (SmartBulkCopy.cs:341-389).
    // ------------------------------------------------------------------
    QueryDef("identity_sync",
      """SELECT 'customer' AS table_name, max(c_custkey) AS ident_current FROM customer
        |UNION ALL SELECT 'orders', max(o_orderkey) FROM orders
        |UNION ALL SELECT 'part', max(p_partkey) FROM part
        |UNION ALL SELECT 'supplier', max(s_suppkey) FROM supplier
        |ORDER BY table_name""".stripMargin) { (s, dir) =>
      graft.meta.Catalog.identityColumns.toSeq.sortBy(_._1)
        .map { case (n, c) =>
          t(s, dir, n).agg(max(col(c)).cast("long").as("ident_current"))
            .select(lit(n).as("table_name"), col("ident_current"))
        }.reduce(_ unionAll _).orderBy(col("table_name"))
    })
}
