package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Scans

/** Relational-completeness operators — SURVEY.md §2C: set operations,
  * pivot, cube, order statistics, top-k per group, and skew-mitigated
  * joins. The reference pushes all of these to SQL Server; a user of the
  * capability surface gets them natively here. Each query pins the
  * at-scale physical shape: aggregations partial map-side, tiny build
  * sides broadcast, the skewed join salted so no single reducer owns a
  * hot key.
  */
object RelationalQueries {

  /** Source dirs whose bucketed tables are currently materialized — the
    * write-time layout is paid once per (JVM, source) and amortized over
    * every subsequent join (the point of bucketing); a repeat run
    * against the same source reuses the tables instead of rewriting
    * them. A SET, and the table names are corpus-keyed: a session
    * alternating corpora (Verify at sf0.01, Bench at sf0.1 in one JVM)
    * must neither clobber the other corpus's layout nor re-pay the
    * bucketed rewrite on every switch.
    */
  private val bucketedDirs = scala.collection.mutable.Set[String]()

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // setop_union_intersect_except — distinct set algebra over two
    // derivations of the nation dimension. Each set op is a shuffle on
    // the full row; counts are tiny aggregates.
    // ------------------------------------------------------------------
    QueryDef("setop_union_intersect_except",
      """WITH eu AS (SELECT n_name FROM nation JOIN region
        |            ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |     asia AS (SELECT n_name FROM nation JOIN region
        |              ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |     high AS (SELECT n_name FROM nation WHERE n_nationkey >= 10)
        |SELECT 'except' AS op, count(*) AS n FROM (
        |  SELECT * FROM eu EXCEPT SELECT * FROM high)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (
        |  SELECT * FROM eu INTERSECT SELECT * FROM high)
        |UNION ALL
        |SELECT 'union', count(*) FROM (
        |  SELECT * FROM eu UNION SELECT * FROM asia)
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val nation = Scans.table(s, dir, "nation")
      val region = Scans.table(s, dir, "region")
      def inRegion(r: String) =
        nation.join(broadcast(region.filter(col("r_name") === r)),
          col("n_regionkey") === col("r_regionkey"))
          .select(col("n_name"))
      val eu = inRegion("EUROPE")
      val asia = inRegion("ASIA")
      val high = nation.filter(col("n_nationkey") >= 10).select(col("n_name"))
      // one declarative plan (three set-op branches under one union), not
      // three driver-side count() actions — a single job at action time
      def counted(op: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      counted("except", eu.except(high))
        .unionAll(counted("intersect", eu.intersect(high)))
        .unionAll(counted("union", eu.union(asia).distinct()))
        .orderBy(col("op"))
    },

    // ------------------------------------------------------------------
    // pivot_agg — wide pivot of order counts: status values become
    // columns. One shuffle on the group key; the pivot values are
    // declared so no extra distinct-discovery job runs (the at-scale
    // form — value discovery over 100 TB is a full extra pass).
    // ------------------------------------------------------------------
    QueryDef("pivot_agg",
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, dir) =>
      Scans.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("O"), lit(0L)).as("cnt_o"),
          coalesce(col("P"), lit(0L)).as("cnt_p"))
        .orderBy(col("o_orderpriority"))
    },

    // ------------------------------------------------------------------
    // cube_agg — full CUBE over (status, order year): all four grouping
    // combinations in one pass (partial-aggregated map-side per
    // grouping-set expansion).
    // ------------------------------------------------------------------
    QueryDef("cube_agg",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, year(o_orderdate))
        |ORDER BY status, order_year""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "orders")
        .withColumn("order_year_i", year(col("o_orderdate")))
        .cube(col("o_orderstatus"), col("order_year_i"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("order_year_i").cast("string"), lit("ALL")).as("order_year"),
          col("n_orders"), col("total_price"))
        .orderBy(col("status"), col("order_year"))
    },

    // ------------------------------------------------------------------
    // agg_order_stats — order statistics per group: exact interpolated
    // percentiles (Spark `percentile` == DuckDB `quantile_cont`),
    // mean/stddev/min/max. At 100 TB the drop-in scale form is
    // approx_percentile (t-digest sketch, mergeable map-side); the exact
    // form here keeps the oracle bit-comparable.
    // ------------------------------------------------------------------
    QueryDef("agg_order_stats",
      """SELECT l_returnflag,
        |       count(*) AS n,
        |       round(avg(l_quantity), 2) AS mean_qty,
        |       round(stddev_samp(l_quantity), 2) AS sd_qty,
        |       round(quantile_cont(l_quantity, 0.5), 2) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.9), 2) AS p90_qty,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      Scans.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("l_quantity")), 2).as("mean_qty"),
          round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 2).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 2).as("p90_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ------------------------------------------------------------------
    // topk_per_group — top-3 orders per customer by price: rank inside
    // each group, never a global sort. The window shuffles once on the
    // group key; the filter on rank keeps state bounded per group.
    // ------------------------------------------------------------------
    QueryDef("topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders WHERE o_custkey < 200) r
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Scans.table(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    },

    // ------------------------------------------------------------------
    // window_lag_lead — offset window functions (lag/lead) + ntile
    // bucketing per customer in order-date order. One shuffle on the
    // partition key; offset functions carry O(1) state per row.
    // ------------------------------------------------------------------
    QueryDef("window_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |       lag(o_totalprice) OVER w AS prev_price,
        |       lead(o_totalprice) OVER w AS next_price,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Scans.table(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .drop("o_orderdate")
    },

    // ------------------------------------------------------------------
    // agg_grouping_sets — explicit GROUPING SETS: detail, per-status
    // subtotal, and grand total in ONE pass (the general form rollup and
    // cube specialize; partial-aggregated map-side per expanded set).
    // ------------------------------------------------------------------
    QueryDef("agg_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
        |            AS BIGINT) AS grouping_level
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY status, priority, grouping_level""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
            .cast("long").as("grouping_level"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("grouping_level"))
        .orderBy(col("status"), col("priority"), col("grouping_level"))
    },

    // ------------------------------------------------------------------
    // bucketed_join_colocated — co-located join via write-time
    // bucketing: both sides bucketBy(8) + sortBy on the join key, so the
    // join consumes matching buckets with NO exchange on either side —
    // the pre-shuffled layout a 100 TB fact/fact join pays for once at
    // write time and amortizes over every subsequent join
    // (plan-asserted in PlanQualitySpec).
    // ------------------------------------------------------------------
    QueryDef("bucketed_join_colocated",
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |       round(sum(o.o_totalprice), 2) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      // the in-memory catalog resets per session but the warehouse dir
      // persists — drop the table AND its stale location before writing
      def rewrite(src: String, key: String, table: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $table")
        graft.exec.Sinks.truncate(s,
          s.conf.get("spark.sql.warehouse.dir") + s"/$table")
        Scans.table(s, dir, src)
          .write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .saveAsTable(table)
      }
      val ck = PersistedState.corpusKey(dir)
      val (ordersTable, customerTable) =
        (s"graft_orders_bucketed_$ck", s"graft_customer_bucketed_$ck")
      RelationalQueries.synchronized {
        val ready = bucketedDirs.contains(dir) &&
          s.catalog.tableExists(ordersTable) &&
          s.catalog.tableExists(customerTable)
        if (!ready) {
          bucketedDirs -= dir
          rewrite("orders", "o_custkey", ordersTable)
          rewrite("customer", "c_custkey", customerTable)
          bucketedDirs += dir
        }
      }
      val o = s.table(ordersTable)
      val c = s.table(customerTable)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("c_mktsegment"))
    },

    // ------------------------------------------------------------------
    // subquery_correlated — the classic correlated-scalar-subquery shape
    // (orders priced above their customer's own average), expressed the
    // way Catalyst's decorrelation rewrites it anyway: a per-key partial
    // aggregate joined back on the key. One shuffle for the aggregate,
    // one equi-join on o_custkey (co-partitioned with the agg output, so
    // AQE reuses the exchange) — no per-row re-execution ever exists to
    // begin with, which is the 100 TB-safe form of the subquery.
    // ------------------------------------------------------------------
    QueryDef("subquery_correlated",
      // The money arithmetic runs in EXACT integer cents: a double
      // avg()'s partial sums reorder under parallelism, so its low bits
      // (and a subsequent round) are engine- and partitioning-dependent
      // — observed as a cust_avg mismatch at sf0.1. Integer sums are
      // associative, the predicate compares BIGINTs, and the reported
      // average rounds half-up in pure integer math ((2s+c) div 2c).
      """WITH c AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |ca AS (SELECT o_custkey AS ca_custkey,
        |              CAST(sum(cents) AS BIGINT) AS sum_cents,
        |              count(*) AS cnt
        |       FROM c GROUP BY 1)
        |SELECT c.o_orderkey, c.o_custkey, round(c.o_totalprice, 2) AS price,
        |       (2 * ca.sum_cents + ca.cnt) // (2 * ca.cnt) AS cust_avg_cents
        |FROM c JOIN ca ON ca.ca_custkey = c.o_custkey
        |WHERE c.cents * ca.cnt > ca.sum_cents
        |ORDER BY c.o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Scans.table(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      val custAvg = orders.groupBy(col("o_custkey").as("ca_custkey"))
        .agg(sum(col("cents")).cast("long").as("sum_cents"),
          count(lit(1)).as("cnt"))
      orders.join(custAvg, col("o_custkey") === col("ca_custkey"))
        .filter(col("cents") * col("cnt") > col("sum_cents"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          expr("(2 * sum_cents + cnt) div (2 * cnt)").as("cust_avg_cents"))
        .orderBy(col("o_orderkey"))
    },

    // ------------------------------------------------------------------
    // unpivot_agg — melt wide measure columns into (measure, value)
    // rows, then aggregate per measure: the inverse of pivot_agg and the
    // normalization step wide fact tables need before generic per-metric
    // processing. Spark's native unpivot is a zero-shuffle row expansion
    // (like Expand); the only exchange is the final tiny group-by.
    // ------------------------------------------------------------------
    QueryDef("unpivot_agg",
      """SELECT measure, count(*) AS n_rows,
        |       round(avg(value), 4) AS avg_value,
        |       round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem) m
        |GROUP BY measure ORDER BY measure""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "lineitem")
        .unpivot(
          ids = Array(col("l_orderkey")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "measure",
          valueColumnName = "value")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n_rows"),
          round(avg(col("value")), 4).as("avg_value"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("measure"))
    },

    // ------------------------------------------------------------------
    // window_ntile — equi-depth bucketing + relative rank per group:
    // ntile(4) and percent_rank over customers by balance within each
    // market segment. One shuffle on the window partition key; the
    // deterministic (balance, custkey) order makes it oracle-exact.
    // ------------------------------------------------------------------
    QueryDef("window_ntile",
      """SELECT c_custkey, c_mktsegment,
        |       ntile(4) OVER w AS balance_quartile,
        |       ((2 * (row_number() OVER w - 1) * 1000000
        |           + greatest(count(*) OVER p - 1, 1))
        |         // (2 * greatest(count(*) OVER p - 1, 1))) / 1000000.0
        |         AS pct_rank
        |FROM customer
        |WHERE c_custkey <= 500
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal, c_custkey),
        |       p AS (PARTITION BY c_mktsegment)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val p = Window.partitionBy(col("c_mktsegment"))
      // percent_rank as an integer half-up quotient: the order key ends
      // in the unique c_custkey, so there are no peers and
      // (row_number−1)/(n−1) IS percent_rank — published on the 6-dp
      // grid instead of round()'s engine-divergent half handling
      Scans.table(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("balance_quartile"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(p).as("n"))
        .select(col("c_custkey"), col("c_mktsegment"), col("balance_quartile"),
          (expr("(2 * (rn - 1) * 1000000 + greatest(n - 1, 1))" +
            " div (2 * greatest(n - 1, 1))") / lit(1000000.0)).as("pct_rank"))
        .orderBy(col("c_custkey"))
    },

    // ------------------------------------------------------------------
    // agg_string_concat — ordered string aggregation (LISTAGG/STRING_AGG):
    // nation names per region, sorted then joined. sort_array over the
    // collected list makes the result deterministic under any task
    // order — collect_list alone is partition-order-dependent and would
    // never hash-match.
    // ------------------------------------------------------------------
    QueryDef("agg_string_concat",
      """SELECT r_name, count(*) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "nation")
        .join(Scans.table(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("r_name"))
    },

    // ------------------------------------------------------------------
    // agg_approx_distinct — HyperLogLog++ sketch: mergeable map-side
    // (one small state per partition, no giant shuffle of distinct
    // keys), which is what makes distinct counting feasible at 100 TB.
    // The sketch ALONE is the declared query — at scale the exact
    // count_distinct is precisely the job the sketch exists to avoid,
    // so the exact-vs-sketch relative-error bound lives entirely in the
    // spec (same pattern as agg_approx_quantile). Rows-only oracle
    // (sketch estimates are engine-specific).
    // ------------------------------------------------------------------
    QueryDef.unoracled("agg_approx_distinct") { (s, dir) =>
      Scans.table(s, dir, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    },

    // ------------------------------------------------------------------
    // agg_approx_quantile — mergeable quantile sketch per group
    // (percentile_approx): like the HLL sketch above, the summary is
    // what makes percentiles feasible at 100 TB — each partition builds
    // a bounded sketch, sketches merge associatively at the reducer, no
    // global sort of the value column ever happens. Rows-only oracle
    // (sketch estimates are engine-specific); the spec brackets each
    // approximate quantile between exact neighboring percentiles.
    // ------------------------------------------------------------------
    QueryDef.unoracled("agg_approx_quantile") { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95"),
          percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    },

    // ------------------------------------------------------------------
    // join_skew_salted — skew-mitigated equi-join: the fact side keeps
    // its rows, the (small, but conceptually large-and-hot-keyed) build
    // side is replicated once per salt, and the join key becomes
    // (key, salt) so one hot key spreads over 8 reducers instead of
    // melting one. Result is identical to the unsalted join — which is
    // exactly what the oracle checks.
    // ------------------------------------------------------------------
    QueryDef("join_skew_salted",
      """SELECT n_name, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      val nSalts = 8
      val fact = Scans.table(s, dir, "customer")
        .withColumn("salt", pmod(col("c_custkey"), lit(nSalts)))
      val dim = Scans.table(s, dir, "nation")
        .withColumn("salt", explode(array((0 until nSalts).map(lit): _*)))
      fact.join(dim,
          fact("c_nationkey") === dim("n_nationkey") &&
          fact("salt") === dim("salt"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_acctbal"))
        .orderBy(col("n_name"))
    },

    // ------------------------------------------------------------------
    // join_null_safe — null-safe equality join (`<=>`): NULL keys MATCH
    // each other instead of dropping out — required for joining on
    // nullable dimension attributes (a plain equi-join silently loses
    // every NULL-keyed row). Spark plans `<=>` as a hash join on the
    // coalesced key, so it shuffles/broadcasts exactly like `=` — the
    // supplier side stays broadcast-sized here. Keys are derived with
    // nullif so both sides carry real NULLs.
    // ------------------------------------------------------------------
    QueryDef("join_null_safe",
      """WITH c AS (SELECT nullif(c_nationkey % 7, 3) AS k, c_custkey FROM customer),
        |s AS (SELECT nullif(s_nationkey % 7, 3) AS k, s_suppkey FROM supplier)
        |SELECT c.k AS k, count(*) AS n_pairs,
        |       CAST(sum(c.c_custkey + s.s_suppkey) AS BIGINT) AS sum_keys
        |FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
        |GROUP BY c.k ORDER BY k NULLS FIRST""".stripMargin) { (s, dir) =>
      val c = Scans.table(s, dir, "customer")
        .select(expr("nullif(c_nationkey % 7, 3)").as("k"), col("c_custkey"))
      val sup = Scans.table(s, dir, "supplier")
        .select(expr("nullif(s_nationkey % 7, 3)").as("sk"), col("s_suppkey"))
      c.join(broadcast(sup), col("k") <=> col("sk"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c_custkey") + col("s_suppkey")).cast("long").as("sum_keys"))
        .orderBy(col("k"))
    },

    // ------------------------------------------------------------------
    // agg_arg_max — argmax/argmin aggregation: the row attribute AT the
    // group's extreme (who holds the max balance per nation), computed
    // as max/min over a (value, key) struct — lexicographic struct
    // comparison gives a deterministic key tie-break, which bare
    // max_by/arg_max doesn't guarantee on either engine. Partial-
    // aggregates like any max: one tiny shuffle, O(1) state per group.
    // ------------------------------------------------------------------
    QueryDef("agg_arg_max",
      """SELECT c_nationkey,
        |       (max(struct_pack(b := c_acctbal::DOUBLE, k := c_custkey))).k
        |         AS top_custkey,
        |       round((max(struct_pack(b := c_acctbal::DOUBLE, k := c_custkey))).b, 2)
        |         AS top_acctbal,
        |       (min(struct_pack(b := c_acctbal::DOUBLE, k := c_custkey))).k
        |         AS bottom_custkey
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val pair = struct(col("c_acctbal").cast("double").as("b"),
        col("c_custkey").as("k"))
      Scans.table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(max(pair).as("mx"), min(pair).as("mn"))
        .select(col("c_nationkey"),
          col("mx.k").as("top_custkey"),
          round(col("mx.b"), 2).as("top_acctbal"),
          col("mn.k").as("bottom_custkey"))
        .orderBy(col("c_nationkey"))
    },

    // ------------------------------------------------------------------
    // window_percent_rank — relative-position window functions:
    // percent_rank (rank−1)/(n−1) and cume_dist, per nation over
    // account balance. Both are exact rational expressions of integer
    // rank/count, so the doubles agree bit-for-bit across engines
    // before the 6-dp rounding. One shuffle on the partition key.
    // ------------------------------------------------------------------
    QueryDef("window_percent_rank",
      """SELECT c_nationkey, c_custkey,
        |       ((2 * (row_number() OVER w - 1) * 1000000
        |           + greatest(count(*) OVER p - 1, 1))
        |         // (2 * greatest(count(*) OVER p - 1, 1))) / 1000000.0 AS pr,
        |       ((2 * row_number() OVER w * 1000000 + count(*) OVER p)
        |         // (2 * count(*) OVER p)) / 1000000.0 AS cd
        |FROM customer WHERE c_custkey <= 200
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal, c_custkey),
        |       p AS (PARTITION BY c_nationkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val p = Window.partitionBy(col("c_nationkey"))
      // the order key ends in the unique c_custkey, so there are no
      // peers: percent_rank = (row_number−1)/(n−1) and cume_dist =
      // row_number/n exactly — published as integer half-up quotients
      // on the 6-dp grid (round() of the rank-ratio double is the
      // engine-divergent rendering-half class the jaccard keys shed)
      Scans.table(s, dir, "customer")
        .filter(col("c_custkey") <= 200)
        .select(col("c_nationkey"), col("c_custkey"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(p).as("n"))
        .select(col("c_nationkey"), col("c_custkey"),
          (expr("(2 * (rn - 1) * 1000000 + greatest(n - 1, 1))" +
            " div (2 * greatest(n - 1, 1))") / lit(1000000.0)).as("pr"),
          (expr("(2 * rn * 1000000 + n) div (2 * n)") / lit(1000000.0))
            .as("cd"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    })
}
