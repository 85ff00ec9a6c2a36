package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.exec.Scans
import graft.meta.Catalog

/** Catalog-introspection queries — the Spark re-expression of the
  * reference's `TableInfoCollector` / `TableAnalyzer` metadata SQL
  * (SURVEY.md §2 `meta_*` rows). The testdata has no `sys.*` views, so
  * the same join/aggregate shapes run over the synthesized catalog
  * DataFrames in [[graft.meta.Catalog]]; each oracle renders the same rows
  * as `VALUES` CTEs, so both sides derive from one source of truth.
  *
  * These are classic small-dimension joins: every input fits in one
  * broadcast, so Catalyst plans BroadcastHashJoins with no shuffle — the
  * right plan at any scale since catalogs stay tiny even at 100 TB of
  * data.
  */
object MetaQueries {

  /** Env-var connection-string fallback SENTINEL (reference
    * `SmartBulkCopyConfig.cs:141`): a fixed value standing in for "the
    * config had no connection string, the environment supplied it".
    * Deliberately NOT `sys.env` — a declared query must be a pure
    * function of the corpus, or the frozen bench hash becomes
    * environment-sensitive (a run with the variable set would hash
    * differently from the committed map recorded in a clean
    * environment). The LIVE env fallback itself is `CopyConfig.parse`'s
    * (spec-pinned in CopySpec with an injected environment).
    */
  private val envSourceConn: String = "env://source-connection-string"

  /** meta_schema_diff's drifted destination schema: customer with ONE
    * real column dropped and one added, so the full-outer classification
    * exercises all three statuses. The require fails loudly if a
    * testdata schema change ever makes the drop a no-op again (the
    * silent degeneration the r10 review found: a drop target that never
    * existed meant 'source_only' never appeared, on BOTH gate sides).
    */
  private val schemaDiffDropped = "c_mktsegment"
  private def schemaDiffDst: Seq[String] = {
    val src = Catalog.schemaColumns("customer")
    require(src.contains(schemaDiffDropped),
      s"meta_schema_diff: dropped column $schemaDiffDropped is not in the customer schema")
    src.filterNot(_ == schemaDiffDropped) :+ "c_loyalty_tier"
  }
  private def envSourceConnSql: String = envSourceConn.replace("'", "''")

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // meta_index_info — 3-way equi-join over the catalog: ordered key
    // columns of each rowstore clustered index, incl. per-column DESC
    // (reference TableInfoCollector.cs:220-262).
    // ------------------------------------------------------------------
    QueryDef("meta_index_info",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysIndexesCte},
         |     ${Catalog.sysIndexColumnsCte},
         |     ${Catalog.sysColumnsCte}
         |SELECT t.table_name, i.index_name, c.column_name,
         |       ic.key_ordinal, ic.is_descending_key
         |FROM sys_indexes i
         |JOIN sys_index_columns ic
         |  ON i.object_id = ic.object_id AND i.index_id = ic.index_id
         |JOIN sys_columns c
         |  ON ic.object_id = c.object_id AND ic.column_id = c.column_id
         |JOIN sys_tables t ON i.object_id = t.object_id
         |WHERE i.index_type = 1 AND ic.key_ordinal > 0
         |ORDER BY t.table_name, ic.key_ordinal""".stripMargin) { (s, _) =>
      val i  = Catalog.sysIndexes(s).filter(col("index_type") === 1)
      val ic = Catalog.sysIndexColumns(s).filter(col("key_ordinal") > 0)
      val c  = Catalog.sysColumns(s)
      val t  = Catalog.sysTables(s)
      i.join(ic, Seq("object_id", "index_id"))
        .join(c, Seq("object_id", "column_id"))
        .join(t.select(col("object_id"), col("table_name")), Seq("object_id"))
        .select(col("table_name"), col("index_name"), col("column_name"),
          col("key_ordinal"), col("is_descending_key"))
        .orderBy(col("table_name"), col("key_ordinal"))
    },

    // ------------------------------------------------------------------
    // meta_column_exclusion — the projection policy that generates every
    // copy select-list (reference TableInfoCollector.cs:391-414): per
    // table, total vs portable vs excluded (computed / rowversion)
    // column counts from the catalog.
    // ------------------------------------------------------------------
    QueryDef("meta_column_exclusion",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysColumnsCte}
         |SELECT t.table_name,
         |       count(*) AS n_columns,
         |       count(*) FILTER (WHERE c.is_computed = 0
         |                          AND c.system_type_id <> 189) AS n_portable,
         |       count(*) FILTER (WHERE c.is_computed = 1
         |                           OR c.system_type_id = 189) AS n_excluded
         |FROM sys_tables t JOIN sys_columns c ON c.object_id = t.object_id
         |GROUP BY t.table_name ORDER BY t.table_name""".stripMargin) { (s, _) =>
      val portable = col("is_computed") === 0 && col("system_type_id") =!= 189
      Catalog.sysTables(s).select(col("object_id"), col("table_name"))
        .join(Catalog.sysColumns(s), Seq("object_id"))
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n_columns"),
          count(when(portable, lit(1))).as("n_portable"),
          count(when(!portable, lit(1))).as("n_excluded"))
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_schema_diff — name-based source/destination column mapping,
    // the validation behind the reference's strict by-name one-to-one
    // mapping (SmartBulkCopy.cs:487-490: every copied column must exist
    // on the destination; extra destination columns receive no data;
    // the tool never alters schemas, docs/FAQ.md:10-16). Source =
    // customer's collected schema; destination = a drifted collected
    // schema (one column dropped, one added) — the dropped column is
    // guarded by schemaDiffDst's require so all THREE classifications
    // (mapped / source_only / dest_only) are always exercised: an
    // earlier version dropped a column the schema doesn't have, so
    // 'source_only' silently never appeared on either gate side. Full
    // outer join on the column name classifies each; missing-side
    // ordinals are -1, not NULL, to keep the compare type-exact.
    // ------------------------------------------------------------------
    QueryDef("meta_schema_diff", {
      val srcCols = Catalog.schemaColumns("customer").zipWithIndex
      val dstCols = schemaDiffDst.zipWithIndex
      val srcVals = srcCols.map { case (c, i) => s"('$c', $i)" }.mkString(", ")
      val dstVals = dstCols.map { case (c, i) => s"('$c', $i)" }.mkString(", ")
      s"""WITH src(col_name, src_ordinal) AS (VALUES $srcVals),
         |dst(col_name, dst_ordinal) AS (VALUES $dstVals)
         |SELECT coalesce(src.col_name, dst.col_name) AS col_name,
         |       CASE WHEN src.col_name IS NOT NULL AND dst.col_name IS NOT NULL
         |              THEN 'mapped'
         |            WHEN src.col_name IS NOT NULL THEN 'source_only'
         |            ELSE 'dest_only' END AS status,
         |       CAST(coalesce(src.src_ordinal, -1) AS BIGINT) AS src_ordinal,
         |       CAST(coalesce(dst.dst_ordinal, -1) AS BIGINT) AS dst_ordinal
         |FROM src FULL OUTER JOIN dst ON src.col_name = dst.col_name
         |ORDER BY col_name""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      // source side from the LIVE schema (the collector's view), the
      // destination as a collected literal — the two-collector shape of
      // the reference (SmartBulkCopy.cs:143-152)
      val src = Scans.table(s, dir, "customer").schema.fieldNames.toSeq
        .zipWithIndex.toDF("s_name", "src_ordinal")
      val dst = schemaDiffDst.zipWithIndex.toDF("d_name", "dst_ordinal")
      src.join(dst, col("s_name") === col("d_name"), "full_outer")
        .select(
          coalesce(col("s_name"), col("d_name")).as("col_name"),
          when(col("s_name").isNotNull && col("d_name").isNotNull, "mapped")
            .when(col("s_name").isNotNull, "source_only")
            .otherwise("dest_only").as("status"),
          coalesce(col("src_ordinal"), lit(-1)).cast("long").as("src_ordinal"),
          coalesce(col("dst_ordinal"), lit(-1)).cast("long").as("dst_ordinal"))
        .orderBy(col("col_name"))
    },

    // ------------------------------------------------------------------
    // meta_partition_function — 4-way inner equi-join resolving each
    // partitioned table's (partition function, partition column, fanout),
    // filtered partition_ordinal = 1 (reference TableAnalyzer.cs:313-338).
    // ------------------------------------------------------------------
    QueryDef("meta_partition_function",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysIndexesCte},
         |     ${Catalog.sysIndexColumnsCte},
         |     ${Catalog.sysColumnsCte},
         |     ${Catalog.sysPartitionFunctionsCte}
         |SELECT t.table_name, pf.function_name,
         |       c.column_name AS partition_column, pf.fanout
         |FROM sys_indexes i
         |JOIN sys_partition_functions pf ON i.object_id = pf.object_id
         |JOIN sys_index_columns ic
         |  ON i.object_id = ic.object_id AND i.index_id = ic.index_id
         | AND ic.partition_ordinal = 1
         |JOIN sys_columns c
         |  ON ic.object_id = c.object_id AND ic.column_id = c.column_id
         |JOIN sys_tables t ON i.object_id = t.object_id
         |WHERE i.index_type IN (0, 1)
         |ORDER BY t.table_name""".stripMargin) { (s, _) =>
      val i  = Catalog.sysIndexes(s).filter(col("index_type").isin(0, 1))
      val pf = Catalog.sysPartitionFunctions(s)
      val ic = Catalog.sysIndexColumns(s).filter(col("partition_ordinal") === 1)
      val c  = Catalog.sysColumns(s)
      val t  = Catalog.sysTables(s)
      i.join(pf, Seq("object_id"))
        .join(ic, Seq("object_id", "index_id"))
        .join(c, Seq("object_id", "column_id"))
        .join(t.select(col("object_id"), col("table_name")), Seq("object_id"))
        .select(col("table_name"), col("function_name"),
          col("column_name").as("partition_column"), col("fanout"))
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_secondary_index_count — count of indexes with type NOT IN
    // (0,1,5) per table (reference TableInfoCollector.cs:463-481); left
    // join keeps zero-count tables.
    // ------------------------------------------------------------------
    QueryDef("meta_secondary_index_count",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysIndexesCte}
         |SELECT t.table_name,
         |       count(i.index_name) AS secondary_index_count
         |FROM sys_tables t
         |LEFT JOIN sys_indexes i
         |  ON t.object_id = i.object_id AND i.index_type NOT IN (0, 1, 5)
         |GROUP BY t.table_name
         |ORDER BY t.table_name""".stripMargin) { (s, _) =>
      val t = Catalog.sysTables(s)
      val i = Catalog.sysIndexes(s)
      t.join(i.filter(!col("index_type").isin(0, 1, 5)),
          t("object_id") === i("object_id"), "left")
        .groupBy(col("table_name"))
        .agg(count(col("index_name")).as("secondary_index_count"))
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_fk_count — FKs where the table is parent OR referenced: the
    // disjunctive-predicate count (reference TableInfoCollector.cs:483-501).
    // ------------------------------------------------------------------
    QueryDef("meta_fk_count",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysForeignKeysCte}
         |SELECT t.table_name, count(fk.fk_name) AS fk_count
         |FROM sys_tables t
         |LEFT JOIN sys_foreign_keys fk
         |  ON t.object_id = fk.parent_object_id
         |  OR t.object_id = fk.referenced_object_id
         |GROUP BY t.table_name
         |ORDER BY t.table_name""".stripMargin) { (s, _) =>
      val t  = Catalog.sysTables(s)
      val fk = Catalog.sysForeignKeys(s)
      t.join(fk,
          t("object_id") === fk("parent_object_id") ||
          t("object_id") === fk("referenced_object_id"), "left")
        .groupBy(col("table_name"))
        .agg(count(col("fk_name")).as("fk_count"))
        .orderBy(col("table_name"))
    },

    // ------------------------------------------------------------------
    // meta_temporal_info — CASE WHEN table-type classification + self-join
    // of sys_tables on history_table_id + the two period-column scalar
    // subqueries + ISNULL/NULLIF retention (reference
    // TableInfoCollector.cs:416-461). Scalar subqueries are realized as
    // two small aggregated joins — the decorrelated form Catalyst would
    // produce anyway.
    // ------------------------------------------------------------------
    QueryDef("meta_temporal_info",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysPeriodsCte}
         |SELECT t.table_name,
         |       CASE WHEN t.history_table_id IS NOT NULL
         |            THEN 'SystemVersionedTemporal'
         |            WHEN t.object_id IN (SELECT history_table_id FROM sys_tables
         |                                 WHERE history_table_id IS NOT NULL)
         |            THEN 'HistoryTable' ELSE 'Regular' END AS table_type,
         |       h.table_name AS history_table_name,
         |       (SELECT p.column_name FROM sys_periods p
         |        WHERE p.object_id = t.object_id
         |          AND p.generated_always_type = 1) AS period_start_column,
         |       (SELECT p.column_name FROM sys_periods p
         |        WHERE p.object_id = t.object_id
         |          AND p.generated_always_type = 2) AS period_end_column,
         |       coalesce(nullif(t.history_retention_period, 0), -1) AS retention_days
         |FROM sys_tables t
         |LEFT JOIN sys_tables h ON t.history_table_id = h.object_id
         |ORDER BY t.table_name""".stripMargin) { (s, _) =>
      val t = Catalog.sysTables(s).as("t")
      val h = Catalog.sysTables(s).as("h")
      val p = Catalog.sysPeriods(s)
      val histIds = Catalog.sysTables(s)
        .filter(col("history_table_id").isNotNull)
        .select(col("history_table_id").as("hid")).distinct()
      val starts = p.filter(col("generated_always_type") === 1)
        .select(col("object_id").as("ps_oid"),
          col("column_name").as("period_start_column"))
      val ends = p.filter(col("generated_always_type") === 2)
        .select(col("object_id").as("pe_oid"),
          col("column_name").as("period_end_column"))
      t.join(h, col("t.history_table_id") === col("h.object_id"), "left")
        .join(histIds, col("t.object_id") === col("hid"), "left")
        .join(starts, col("t.object_id") === col("ps_oid"), "left")
        .join(ends, col("t.object_id") === col("pe_oid"), "left")
        .select(
          col("t.table_name"),
          when(col("t.history_table_id").isNotNull, lit("SystemVersionedTemporal"))
            .when(col("hid").isNotNull, lit("HistoryTable"))
            .otherwise(lit("Regular")).as("table_type"),
          col("h.table_name").as("history_table_name"),
          col("period_start_column"),
          col("period_end_column"),
          coalesce(nullif(col("t.history_retention_period"), lit(0)), lit(-1))
            .as("retention_days"))
        .orderBy(col("t.table_name"))
    },

    // ------------------------------------------------------------------
    // table_exists — existence probe with PARSENAME-style two-part-name
    // split (reference TableInfoCollector.cs:190-218): qualified or bare
    // names against sys_tables ⋈ schema.
    // ------------------------------------------------------------------
    QueryDef("table_exists",
      s"""WITH ${Catalog.sysTablesCte},
         |     probes(probe_name) AS (VALUES ('main.lineitem'),
         |       ('main.orders_history'), ('other.lineitem'),
         |       ('main.no_such_table'), ('region'))
         |SELECT probe_name,
         |       coalesce(max(CASE WHEN t.table_name IS NOT NULL
         |                         THEN TRUE ELSE FALSE END), FALSE) AS table_exists
         |FROM probes p
         |LEFT JOIN sys_tables t
         |  ON t.schema_name = CASE WHEN strpos(p.probe_name, '.') > 0
         |       THEN string_split(p.probe_name, '.')[1] ELSE 'main' END
         | AND t.table_name = CASE WHEN strpos(p.probe_name, '.') > 0
         |       THEN string_split(p.probe_name, '.')[2] ELSE p.probe_name END
         |GROUP BY probe_name
         |ORDER BY probe_name""".stripMargin) { (s, _) =>
      import s.implicits._
      val probes = Seq("main.lineitem", "main.orders_history", "other.lineitem",
        "main.no_such_table", "region").toDF("probe_name")
      val t = Catalog.sysTables(s)
      // PARSENAME(@t, 2) / PARSENAME(@t, 1) analog: split on '.'
      val withParts = probes
        .withColumn("p_schema",
          when(instr(col("probe_name"), ".") > 0,
            split(col("probe_name"), "\\.").getItem(0)).otherwise(lit("main")))
        .withColumn("p_table",
          when(instr(col("probe_name"), ".") > 0,
            split(col("probe_name"), "\\.").getItem(1)).otherwise(col("probe_name")))
      withParts
        .join(t, withParts("p_schema") === t("schema_name") &&
          withParts("p_table") === t("table_name"), "left")
        .groupBy(col("probe_name"))
        .agg(coalesce(max(col("table_name").isNotNull), lit(false)).as("table_exists"))
        .orderBy(col("probe_name"))
    },

    // ------------------------------------------------------------------
    // config_parse — JSON config → typed options with the tri-modal
    // `logical-partitions` parse: "auto" | "<n>gb" | "<count>"
    // (reference SmartBulkCopyConfig.cs:118-222, tri-modal at 152-170).
    // Spark-first: from_json + when/otherwise + try_cast. The
    // classification MIRRORS the live loader (CopyConfig.parse) STEP BY
    // STEP: lowercase+trim first, endsWith("gb") → dropRight(2).trim →
    // String.toInt (which accepts a leading '+', so "+8gb"/"8 gb"
    // parse; "8.5gb"/"1e2gb" reject), otherwise toInt the whole string
    // ("+24" parses), positive-only both ways, absent/empty → auto.
    // try_cast is the relational toInt: a non-integer or
    // out-of-int-range numeral goes null (where the loader throws
    // NumberFormatException), and `null > 0` is false-ish under `when`,
    // landing in 'reject' — an ANSI cast would abort the query on the
    // exact inputs the loader merely rejects. QueriesSpec cross-checks
    // every fixture's mode against the LIVE parser, the same
    // live-derivation discipline as copy_exit_codes.
    // ------------------------------------------------------------------
    QueryDef("config_parse",
      """SELECT * FROM (VALUES
        |  ('auto', 7, 100000, 'auto', CAST(NULL AS DOUBLE)),
        |  ('count', 16, 50000, 'count', 24.0),
        |  ('frac_size', 20, 75000, 'reject', CAST(NULL AS DOUBLE)),
        |  ('padded_auto', 9, 80000, 'auto', CAST(NULL AS DOUBLE)),
        |  ('plus_count', 14, 40000, 'count', 24.0),
        |  ('size', 32, 102400, 'size-gb', 8.0),
        |  ('spaced_size', 18, 90000, 'size-gb', 8.0),
        |  ('tab_size', 11, 45000, 'size-gb', 8.0),
        |  ('zero_size', 12, 60000, 'reject', CAST(NULL AS DOUBLE)))
        |  AS t(config_name, tasks, batch_size, lp_mode, lp_value)
        |ORDER BY config_name""".stripMargin) { (s, _) =>
      import s.implicits._
      val confs = Seq(
        ("auto",  """{"tasks": 7,  "batch-size": 100000, "logical-partitions": "auto"}"""),
        ("count", """{"tasks": 16, "batch-size": 50000,  "logical-partitions": "24"}"""),
        ("frac_size", """{"tasks": 20, "batch-size": 75000, "logical-partitions": "8.5gb"}"""),
        ("padded_auto", """{"tasks": 9, "batch-size": 80000, "logical-partitions": " AUTO "}"""),
        ("plus_count", """{"tasks": 14, "batch-size": 40000, "logical-partitions": "+24"}"""),
        ("size",  """{"tasks": 32, "batch-size": 102400, "logical-partitions": "8gb"}"""),
        ("spaced_size", """{"tasks": 18, "batch-size": 90000, "logical-partitions": "8 gb"}"""),
        // \t is a JSON escape (triple-quoted Scala passes it through
        // raw): the parsed value carries a REAL tab, the String.trim
        // vs trim() divergence the javaTrim mirror exists for
        ("tab_size", """{"tasks": 11, "batch-size": 45000, "logical-partitions": "8\tgb"}"""),
        ("zero_size", """{"tasks": 12, "batch-size": 60000, "logical-partitions": "0gb"}"""))
        .toDF("config_name", "raw")
      val schema = StructType(Seq(
        StructField("tasks", IntegerType),
        StructField("batch-size", IntegerType),
        StructField("logical-partitions", StringType)))
      // String.trim strips EVERY char <= U+0020 from both ends; Spark's
      // trim() strips only the ASCII space — a tab or newline inside the
      // config value would fork the mirror from the loader
      def javaTrim(c: org.apache.spark.sql.Column) =
        regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
      val parsed = confs.withColumn("j", from_json(col("raw"), schema))
        // the loader's normalization, in order: asText.toLowerCase.trim
        .withColumn("lp_norm",
          lower(javaTrim(col("j").getField("logical-partitions"))))
        // endsWith("gb") → dropRight(2).trim — the gb body keeps any
        // sign the way String.toInt will see it
        .withColumn("gb_body",
          javaTrim(regexp_replace(col("lp_norm"), "gb$", "")))
        .withColumn("gb_val", expr(
          "CASE WHEN gb_body RLIKE '^[+-]?[0-9]+$'" +
            " THEN try_cast(gb_body AS int) END"))
        .withColumn("cnt_val", expr(
          "CASE WHEN lp_norm RLIKE '^[+-]?[0-9]+$'" +
            " THEN try_cast(lp_norm AS int) END"))
      val isGb = col("lp_norm").rlike("gb$")
      val mode =
        when(col("lp_norm").isNull || col("lp_norm") === "" ||
            col("lp_norm") === "auto", lit("auto"))
          .when(isGb && col("gb_val") > 0, lit("size-gb"))
          .when(!isGb && col("cnt_val") > 0, lit("count"))
          .otherwise(lit("reject"))
      parsed.select(
          col("config_name"),
          col("j").getField("tasks").as("tasks"),
          col("j").getField("batch-size").as("batch_size"),
          mode.as("lp_mode"),
          when(mode === "size-gb", col("gb_val").cast("double"))
            .when(mode === "count", col("cnt_val").cast("double"))
            .otherwise(lit(null).cast("double")).as("lp_value"))
        .orderBy(col("config_name"))
    },

    // ------------------------------------------------------------------
    // config_stop_if — the stop-if flag surface + safe-check parse +
    // env-var connection-string fallback (reference
    // SmartBulkCopyConfig.cs:10-15 [Flags], :141 env fallback, :174-193
    // safe-check, :194-199 stop-if subtraction: flags default ON and an
    // explicit false REMOVES one). The parsed flags are then applied the
    // way the orchestrator applies them: count the catalog tables that
    // would stop the run (secondary indexes / temporal pairing) — both
    // engines derive that relationally from the shared catalog rows.
    // ------------------------------------------------------------------
    QueryDef("config_stop_if",
      s"""WITH ${Catalog.sysTablesCte},
         |${Catalog.sysIndexesCte},
         |cfg(config_name, stop_secondary_index, stop_temporal_table, safe_check, source_conn) AS (VALUES
         |  ('both_default', TRUE, TRUE, 'readonly', '$envSourceConnSql'),
         |  ('no_secondary', FALSE, TRUE, 'snapshot', '$envSourceConnSql'),
         |  ('none_stop', FALSE, FALSE, 'none', 'cfg://explicit'),
         |  ('read_only_alias', TRUE, TRUE, 'readonly', 'cfg://explicit')),
         |blockers AS (
         |  SELECT DISTINCT object_id, 'secondary' AS kind
         |  FROM sys_indexes WHERE index_type = 2
         |  UNION ALL
         |  SELECT object_id, 'temporal' AS kind
         |  FROM sys_tables WHERE history_table_id IS NOT NULL)
         |SELECT c.config_name, c.stop_secondary_index, c.stop_temporal_table,
         |       c.safe_check, c.source_conn,
         |       count(DISTINCT b.object_id) AS n_blocking_tables
         |FROM cfg c LEFT JOIN blockers b
         |  ON (b.kind = 'secondary' AND c.stop_secondary_index)
         |  OR (b.kind = 'temporal'  AND c.stop_temporal_table)
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY config_name""".stripMargin) { (s, _) =>
      import s.implicits._
      val confs = Seq(
        ("both_default",
          """{"options": {"safe-check": "readonly"}}"""),
        ("no_secondary",
          """{"options": {"safe-check": "snapshot", "stop-if": {"secondary-indexes": false}}}"""),
        ("none_stop",
          """{"source": {"connection-string": "cfg://explicit"},
             |"options": {"safe-check": "none",
             |"stop-if": {"secondary-indexes": false, "temporal-table": false}}}""".stripMargin),
        ("read_only_alias",
          """{"source": {"connection-string": "cfg://explicit"},
             |"options": {"safe-check": "read-only", "stop-if": {"temporal-table": true}}}""".stripMargin))
        .toDF("config_name", "raw")
      val schema = StructType(Seq(
        StructField("source", StructType(Seq(
          StructField("connection-string", StringType)))),
        StructField("options", StructType(Seq(
          StructField("safe-check", StringType),
          StructField("stop-if", StructType(Seq(
            StructField("secondary-indexes", BooleanType),
            StructField("temporal-table", BooleanType)))))))))
      // env fallback (SmartBulkCopyConfig.cs:141): config value wins,
      // else the process environment (env:// sentinel when unset) — the
      // shared envSourceConn val is interpolated into the oracle SQL at
      // build time too, so both sides agree whatever the environment
      val envSource = envSourceConn
      val parsed = confs.withColumn("j", from_json(col("raw"), schema))
      val stopIf = col("j").getField("options").getField("stop-if")
      val sc = lower(coalesce(
        col("j").getField("options").getField("safe-check"), lit("readonly")))
      val flags = parsed.select(
        col("config_name"),
        // flags default ON; only an explicit false removes one
        coalesce(stopIf.getField("secondary-indexes"), lit(true))
          .as("stop_secondary_index"),
        coalesce(stopIf.getField("temporal-table"), lit(true))
          .as("stop_temporal_table"),
        when(sc.isin("read-only", "readonly"), lit("readonly")).otherwise(sc)
          .as("safe_check"),
        coalesce(col("j").getField("source").getField("connection-string"),
          lit(envSource)).as("source_conn"))
      val blockers = Catalog.sysIndexes(s).filter(col("index_type") === 2)
        .select(col("object_id")).distinct()
        .withColumn("kind", lit("secondary"))
        .unionAll(Catalog.sysTables(s).filter(col("history_table_id").isNotNull)
          .select(col("object_id")).withColumn("kind", lit("temporal")))
      flags.join(blockers,
          (blockers("kind") === "secondary" && flags("stop_secondary_index")) ||
          (blockers("kind") === "temporal" && flags("stop_temporal_table")),
          "left")
        .groupBy(col("config_name"), col("stop_secondary_index"),
          col("stop_temporal_table"), col("safe_check"), col("source_conn"))
        .agg(count_distinct(col("object_id")).as("n_blocking_tables"))
        .orderBy(col("config_name"))
    },

    // ------------------------------------------------------------------
    // copy_exit_codes — the process exit-code taxonomy, derived from the
    // LIVE mapping (graft.Copy.analysisExitCode over every
    // AnalysisOutcome case, plus the two runtime codes), not literals:
    // the oracle hash then locks the contract a caller scripts against
    // (reference TableAnalyzer.cs:10-19 ordinals via
    // SmartBulkCopy.cs:158-161; runtime codes :216-250).
    // ------------------------------------------------------------------
    QueryDef("copy_exit_codes",
      """SELECT * FROM (VALUES
        |  ('analysis:ForeignKeysFoundOnDestination', 5),
        |  ('analysis:SecondaryIndexFoundOnDestination', 4),
        |  ('analysis:Success', 0),
        |  ('analysis:TableNotFound', 2),
        |  ('analysis:TemporalTableOnDestination', 6),
        |  ('runtime:CopyErrors', 3),
        |  ('runtime:RowcountMismatch', 2))
        |  AS t(outcome, exit_code)
        |ORDER BY outcome""".stripMargin) { (s, _) =>
      import s.implicits._
      import graft.model.AnalysisOutcome
      val analysis: Seq[(String, graft.model.AnalysisOutcome)] = Seq(
        "Success"                          -> AnalysisOutcome.Success(Nil),
        "TableNotFound"                    -> AnalysisOutcome.TableNotFound,
        "SecondaryIndexFoundOnDestination" -> AnalysisOutcome.SecondaryIndexFoundOnDestination,
        "ForeignKeysFoundOnDestination"    -> AnalysisOutcome.ForeignKeysFoundOnDestination,
        "TemporalTableOnDestination"       -> AnalysisOutcome.TemporalTableOnDestination)
      val rows = analysis.map { case (n, o) =>
        (s"analysis:$n", graft.Copy.analysisExitCode(o))
      } ++ Seq("runtime:RowcountMismatch" -> 2, "runtime:CopyErrors" -> 3)
      rows.toDF("outcome", "exit_code").orderBy(col("outcome"))
    },

    // ------------------------------------------------------------------
    // scan_column_stats — ANALYZE-style column statistics in ONE scan:
    // min/max/exact-NDV/null-count for the measure columns, the stats
    // a cost-based optimizer (or the copy planner's partition sizing)
    // feeds on. Spark plans the multi-distinct aggregate with one
    // Expand over the single scan — partial-aggregated, never one
    // pass per column (at 100 TB, N column passes is N× the IO bill).
    // The wide 1-row aggregate is stack()ed to one row per column for
    // the report.
    // ------------------------------------------------------------------
    QueryDef("scan_column_stats",
      """SELECT 'l_discount' AS col_name, min(l_discount)::DOUBLE AS min_v,
        |       max(l_discount)::DOUBLE AS max_v,
        |       count(DISTINCT l_discount) AS n_distinct,
        |       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_nulls,
        |       count(*) AS n_rows
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', min(l_extendedprice)::DOUBLE,
        |       max(l_extendedprice)::DOUBLE, count(DISTINCT l_extendedprice),
        |       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', min(l_quantity)::DOUBLE, max(l_quantity)::DOUBLE,
        |       count(DISTINCT l_quantity),
        |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      def stats(c: String, p: String) = Seq(
        min(col(c)).cast("double").as(s"${p}_min"),
        max(col(c)).cast("double").as(s"${p}_max"),
        count_distinct(col(c)).as(s"${p}_ndv"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"${p}_nulls"))
      val aggs = stats("l_discount", "d") ++ stats("l_extendedprice", "e") ++
        stats("l_quantity", "q") :+ count(lit(1)).as("n_rows")
      Scans.table(s, dir, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(
          """stack(3,
            |  'l_discount',      d_min, d_max, d_ndv, d_nulls,
            |  'l_extendedprice', e_min, e_max, e_ndv, e_nulls,
            |  'l_quantity',      q_min, q_max, q_ndv, q_nulls)
            |AS (col_name, min_v, max_v, n_distinct, n_nulls)""".stripMargin,
          "n_rows")
        .orderBy(col("col_name"))
    })
}
