package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Scans
import graft.meta.Catalog

/** Join / window / grouping coverage — SURVEY.md §2C: the reference
  * generates only catalog equi-joins and pushes every data-side join to
  * SQL Server, so these are the Spark-native capabilities a user of the
  * capability surface expects. Each query pins the physical strategy
  * that is right at scale: dimension sides broadcast (no shuffle),
  * fact-fact joins shuffle on the join key, the as-of join is the
  * union+window idiom (never a per-row range probe).
  */
object JoinQueries {

  /** As-of core: for each purchase, the most recent STRICTLY-earlier
    * click by the same user. Union+window idiom: one shuffle on user_id,
    * no per-row range probe. At equal ms the purchase sorts first
    * (is_click ascending), so the frame ending at the previous row
    * cannot see an equal-ms click — the strict `<` contract
    * (tie-tested in JoinSemanticsSpec).
    */
  def asOfLastClick(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
      .withColumn("last_click_ms",
        max(when(col("event_type") === "click", col("ms"))).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ms"), col("is_click"))
            .rowsBetween(Window.unboundedPreceding, -1L)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("last_click_ms"))

  /** TOP(1)-per-table election for the columnstore probe — extracted so
    * the tie case (two type-5 index rows on one table, currently
    * unreachable on the declared catalog but one fixture edit away) is
    * pinnable in a spec. The tiebreak key is `index_name` under Spark's
    * default string ordering, which is BINARY (UTF8String byte compare)
    * — the same default collation DuckDB applies to the oracle's
    * ORDER BY, so the two sides elect the same winner byte-for-byte;
    * DeterminismSpec additionally proves the election is
    * partition-count-stable, and the fixture spec pins the elected
    * winner under a case-differing tie (binary order: uppercase before
    * lowercase) so any engine/collation change trips a test.
    */
  private[graft] def columnstoreElect(tables: DataFrame,
      indexes: DataFrame): DataFrame = {
    val cs = indexes.filter(col("index_type") === 5)
      .select(col("object_id"), lit(1).as("sort_key"), col("index_name"))
    val sentinel = tables.select(col("object_id"), lit(2).as("sort_key"),
      lit("none").as("index_name"))
    // index_name tiebreaker: sort_key alone TIES if a table ever
    // carries two type-5 rows, and a tied row_number elects a
    // partition-order-dependent winner — the probe's answer would then
    // flap with parallelism. The oracle's LIMIT 1 carries the same
    // tiebreaker for the same reason.
    val w = Window.partitionBy(col("object_id"))
      .orderBy(col("sort_key"), col("index_name"))
    val best = cs.unionAll(sentinel)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // TOP(1) per table
      .select(col("object_id"), col("index_name").as("columnstore_index"))
    tables.join(best, Seq("object_id"))
      .select(col("table_name"), col("columnstore_index"))
      .orderBy(col("table_name"))
  }

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // join_broadcast_dim — fact ⋈ small dimension: broadcast hash join,
    // zero shuffle on the fact side. lineitem ⋈ part, revenue per brand.
    // ------------------------------------------------------------------
    QueryDef("join_broadcast_dim",
      """SELECT p.p_brand, count(*) AS n_items,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin) { (s, dir) =>
      val li = Scans.table(s, dir, "lineitem")
      val part = Scans.table(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("p_brand"))
    },

    // ------------------------------------------------------------------
    // join_shuffle_fact — fact ⋈ fact equi-join on the key both sides
    // shuffle on (sort-merge / shuffled-hash at scale): lineitem ⋈
    // orders, order-level totals by status.
    // ------------------------------------------------------------------
    QueryDef("join_shuffle_fact",
      """SELECT o.o_orderstatus, count(*) AS n_lineitems,
        |       round(sum(l.l_quantity), 2) AS total_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin) { (s, dir) =>
      val li = Scans.table(s, dir, "lineitem")
      val o = Scans.table(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy(col("o_orderstatus"))
    },

    // ------------------------------------------------------------------
    // join_semi_anti — existence joins: customers with orders (left
    // semi) and customers without orders (left anti); semi/anti never
    // materialize the probe side.
    // ------------------------------------------------------------------
    QueryDef("join_semi_anti",
      """SELECT 'with_orders' AS cohort, count(*) AS n_customers
        |FROM customer c WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'without_orders', count(*) FROM customer c WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY cohort""".stripMargin) { (s, dir) =>
      val c = Scans.table(s, dir, "customer")
      val o = Scans.table(s, dir, "orders")
      // both existence joins under one union — a single job, not two
      // driver-side count() actions
      def cohort(name: String, joinType: String) =
        c.join(o, c("c_custkey") === o("o_custkey"), joinType)
          .agg(count(lit(1)).as("n_customers"))
          .select(lit(name).as("cohort"), col("n_customers"))
      cohort("with_orders", "left_semi")
        .unionAll(cohort("without_orders", "left_anti"))
        .orderBy(col("cohort"))
    },

    // ------------------------------------------------------------------
    // join_bloom_prefilter — the explicit runtime-filter pattern: a
    // semi join of a 100 TB fact scan against a filtered key set,
    // where the fact side is PREFILTERED by a broadcast Bloom filter
    // BEFORE any join happens. Three stages, each the cheap one at
    // scale: (1) `bloom_bits_agg` (native mergeable aggregate) builds
    // the filter as partial per-partition bit-blocks OR-merged into ONE
    // ~8 KB blob — the build side never shuffles rows; (2) the blob
    // rides into `bloom_might_contain` as a literal — k word-probes per
    // fact row inside whole-stage codegen, dropping ~90% of the fact
    // scan before the shuffle/broadcast the join would otherwise pay on
    // all of it; (3) a residual BROADCAST semi join removes the false
    // positives, so the result is EXACTLY the semi join (the oracle is
    // the plain IN-subquery — bloom invisibility is the contract, like
    // AQE's own runtime bloom which this makes an explicit, composable
    // operator). The one-row blob collect is sketch-sized metadata (a
    // few KB), the same class as the reference's catalog reads.
    // ------------------------------------------------------------------
    QueryDef("join_bloom_prefilter",
      """SELECT l.l_suppkey, count(*) AS n_rows,
        |       round(sum(l.l_extendedprice), 2) AS sum_price
        |FROM lineitem l
        |WHERE l.l_suppkey IN (
        |  SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sup = Scans.table(s, dir, "supplier")
        .filter(col("s_acctbal") > 5000).select(col("s_suppkey"))
      // 64 Ki bits ≈ 10 bits/key up to ~6.5k build keys (~1% fp); at a
      // larger build cardinality the caller sizes numBits up — false
      // positives only ever cost a wasted row through the residual join
      val blob = sup
        .agg(expr("bloom_bits_agg(s_suppkey, 65536, 5)").as("bloom"))
        .head().getAs[Array[Byte]](0)
      Scans.table(s, dir, "lineitem")
        .filter(call_function("bloom_might_contain", lit(blob), col("l_suppkey")))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_suppkey"))
    },

    // ------------------------------------------------------------------
    // join_full_outer — full outer equi-join of two aggregates: order
    // years vs lineitem ship years, coalescing both sides. Each input is
    // pre-aggregated (tiny) before the join, so the outer join runs over
    // group keys, never raw fact rows — the at-scale form of a
    // reconciliation-style comparison.
    // ------------------------------------------------------------------
    QueryDef("join_full_outer",
      """WITH o AS (SELECT date_part('year', o_orderdate) AS y, count(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |l AS (SELECT date_part('year', l_shipdate) AS y, count(*) AS n_ship
        |      FROM lineitem GROUP BY 1)
        |SELECT CAST(coalesce(o.y, l.y) AS BIGINT) AS year,
        |       coalesce(o.n_orders, 0) AS n_orders,
        |       coalesce(l.n_ship, 0) AS n_ship
        |FROM o FULL OUTER JOIN l ON o.y = l.y
        |ORDER BY year""".stripMargin) { (s, dir) =>
      val o = Scans.table(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("oy"))
        .agg(count(lit(1)).as("n_orders"))
      val l = Scans.table(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("ly"))
        .agg(count(lit(1)).as("n_ship"))
      o.join(l, col("oy") === col("ly"), "full_outer")
        .select(coalesce(col("oy"), col("ly")).cast("long").as("year"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ship"), lit(0L)).as("n_ship"))
        .orderBy(col("year"))
    },

    // ------------------------------------------------------------------
    // join_asof — as-of join: for each purchase event, the most recent
    // prior click by the same user. Spark-native idiom: union the two
    // streams, one window pass per user carrying the last click time
    // forward — one shuffle on user_id, no per-row range probe, no
    // O(n²). (Preference order (a) of the custom-operator rules:
    // composition of existing ops.)
    // ------------------------------------------------------------------
    QueryDef("join_asof",
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ms(ts) AS ms
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id,
        |       (SELECT max(c.ms) FROM c
        |        WHERE c.user_id = p.user_id AND c.ms < p.ms) AS last_click_ms
        |FROM p ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      asOfLastClick(Scans.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ms")))
        .orderBy(col("event_id"))
    },

    // ------------------------------------------------------------------
    // join_multiway_pipeline — the 6-table star-shaped analytics join
    // (the TPC-H Q5 shape): regional revenue per nation over a 2-year
    // window, lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    // region with the local-supplier constraint (s_nationkey =
    // c_nationkey). The plan the declaration builds is the textbook
    // one: region filters FIRST and broadcasts into nation, nation
    // broadcasts into customer (the dims prune before any fact
    // shuffle), the order-date range predicate pushes into the orders
    // SCAN (row-group pruning), and only then do the fact-fact joins
    // shuffle on their keys — orders⋈customer, lineitem⋈orders,
    // then the composite (suppkey, nationkey) supplier join. At 100 TB
    // this ordering is the difference between shuffling a filtered
    // fraction and shuffling everything.
    // ------------------------------------------------------------------
    QueryDef("join_multiway_pipeline",
      """SELECT n.n_name AS nation, count(*) AS n_items,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o   ON o.o_custkey  = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey  = l.l_suppkey
        |              AND s.s_nationkey = c.c_nationkey
        |JOIN nation n   ON n.n_nationkey = c.c_nationkey
        |JOIN region r   ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name ORDER BY nation""".stripMargin) { (s, dir) =>
      val orders = Scans.table(s, dir, "orders")
      val odt = orders.schema("o_orderdate").dataType
      val nr = Scans.table(s, dir, "nation")
        .join(broadcast(Scans.table(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cN = Scans.table(s, dir, "customer")
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      // bounds cast to the column's OWN timestamp flavor so the range
      // predicate stays a pushable column-vs-literal compare (the
      // physicalPartitionRange lesson)
      val oF = orders
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(odt) &&
          col("o_orderdate") < lit("1998-01-01").cast(odt))
        .select(col("o_orderkey"), col("o_custkey"))
      val oc = oF.join(cN, col("o_custkey") === col("c_custkey"))
      Scans.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(oc, col("l_orderkey") === col("o_orderkey"))
        .join(Scans.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("nation"))
    },

    // ------------------------------------------------------------------
    // join_range — non-equi range join against a small bucket dimension:
    // quantity bands. The dim side broadcasts; the band predicate is
    // evaluated in the join (BroadcastNestedLoop on a 4-row build side —
    // the right plan when the build side is tiny).
    // ------------------------------------------------------------------
    QueryDef("join_range",
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('q1_low', 0.0, 10.0), ('q2_mid', 10.0, 25.0),
        |  ('q3_high', 25.0, 40.0), ('q4_bulk', 40.0, 1e9))
        |SELECT b.band, count(*) AS n_items,
        |       round(avg(l.l_extendedprice), 2) AS avg_price
        |FROM lineitem l JOIN bands b
        |  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY b.band ORDER BY b.band""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bands = Seq(("q1_low", 0.0, 10.0), ("q2_mid", 10.0, 25.0),
        ("q3_high", 25.0, 40.0), ("q4_bulk", 40.0, 1e9))
        .toDF("band", "lo", "hi")
      val li = Scans.table(s, dir, "lineitem")
      li.join(broadcast(bands),
          li("l_quantity") >= col("lo") && li("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"))
        .orderBy(col("band"))
    },

    // ------------------------------------------------------------------
    // window_running_total — window frame: per-customer running order
    // total in orderdate order (ROWS UNBOUNDED PRECEDING — the frame
    // spec §2C notes the reference lacks). Bounded sample keeps the
    // oracle small.
    // ------------------------------------------------------------------
    QueryDef("window_running_total",
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        |       row_number() OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |         AS order_seq
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, order_seq""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Scans.table(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          row_number().over(w).cast("long").as("order_seq"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },

    // ------------------------------------------------------------------
    // rollup_agg — hierarchical aggregation with subtotal rows
    // (ROLLUP): order counts by (status, priority) with per-status and
    // grand totals. grouping() disambiguates NULL data from subtotals.
    // ------------------------------------------------------------------
    QueryDef("rollup_agg",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
        |            AS BIGINT) AS grouping_level
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
            .cast("long").as("grouping_level"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("grouping_level"))
        .orderBy(col("status"), col("priority"))
    },

    // ------------------------------------------------------------------
    // meta_columnstore_probe — the reference's one UNION + TOP(1)
    // existence probe (TableInfoCollector.cs:306-368): "is the primary
    // index a columnstore?", answered by unioning candidate index rows
    // with a sentinel and taking the best-ranked row per table.
    // ------------------------------------------------------------------
    QueryDef("meta_columnstore_probe",
      s"""WITH ${Catalog.sysTablesCte},
         |     ${Catalog.sysIndexesCte},
         |probe AS (
         |  SELECT object_id, 1 AS sort_key, index_name
         |  FROM sys_indexes WHERE index_type = 5
         |  UNION ALL
         |  SELECT object_id, 2 AS sort_key, 'none' AS index_name
         |  FROM sys_tables)
         |SELECT t.table_name,
         |       (SELECT p.index_name FROM probe p
         |        WHERE p.object_id = t.object_id
         |        ORDER BY p.sort_key, p.index_name LIMIT 1) AS columnstore_index
         |FROM sys_tables t ORDER BY t.table_name""".stripMargin) { (s, _) =>
      columnstoreElect(Catalog.sysTables(s), Catalog.sysIndexes(s))
    })
}
