package graft


/** Physical-plan shape assertions — the properties the 100 TB scale
  * story depends on, checked at the plan level so a refactor that
  * silently loses a pushdown, a broadcast, or map-side partial
  * aggregation fails CI rather than melting a cluster later.
  */
class PlanQualitySpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("narrow projections prune the parquet ReadSchema") {
    // scan_project deliberately reads the full column list (reference
    // semantics: explicit list of every portable column); the pruning
    // property shows on the narrow queries:
    val p = plan("scan_logical_partition")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"unpruned scan: $readSchema")
  }

  test("scan_physical_partition pushes the range predicate into the scan") {
    val p = plan("scan_physical_partition")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"range predicate not pushed down: $pushed")
  }

  test("join_broadcast_dim broadcasts the dimension side (no fact shuffle)") {
    val p = plan("join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the fact side must NOT be exchanged for the join (only the final
    // group-by may shuffle): no hashpartitioning exchange on l_partkey
    assert(!p.contains("hashpartitioning(l_partkey"), p.take(2000))
  }

  test("join_bloom_prefilter probes pre-join, broadcasts the residual, and entropy stays shuffle-free") {
    val p = plan("join_bloom_prefilter")
    // the bloom probe must sit in the fact SCAN stage, upstream of the
    // residual join — i.e. a Filter containing bloom_might_contain, and
    // the residual semi join is a broadcast (the fact side never
    // exchanges for the join)
    assert(p.contains("bloom_might_contain"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(2000))
    val probeAt = p.indexOf("bloom_might_contain")
    val joinAt = p.indexOf("BroadcastHashJoin")
    assert(joinAt < probeAt, // executedPlan prints top-down: join above scan filter
      "bloom probe not upstream of the residual join")
    // the only SHUFFLE exchanges are the GROUP-BY's (after partial agg)
    // and the presentation sort, both above the join — below it only the
    // build side's BroadcastExchange may appear, never a shuffle
    assert(!p.substring(joinAt).contains("Exchange hashpartitioning") &&
      !p.substring(joinAt).contains("Exchange rangepartitioning"),
      "fact side shuffled below the semi join:\n" + p.take(2000))
    assert(p.contains("partial_count"), "group-by lost map-side combine")
    // text_entropy_filter: the quality gate is row-local — its only
    // exchange is the presentation sort's range partitioning
    val e = SparkEntry.queries("text_entropy_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!e.contains("hashpartitioning"),
      "entropy gate acquired a hash shuffle:\n" + e.take(2000))
  }

  test("pipeline_zorder_layout read-back prunes z-bucket directories") {
    val p = plan("pipeline_zorder_layout")
    // the bucket predicate must prune at the file LISTING (partition
    // filter on the layout's z_bucket directories), and the exact range
    // predicates must still push into the surviving parquet scans
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("z_bucket"), s"no z_bucket partition filter: $pf")
    // the FileScan line truncates its filter lists mid-print, so assert
    // on the prefix that always survives: the shipdate bound leads the
    // pushed list, and the suppkey null-guard leads the data filters
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"),
      s"range predicate not pushed into the layout scan: $pushed")
    assert(pushed.contains("IsNotNull(l_suppkey"),
      s"suppkey predicate missing from the layout scan: $pushed")
  }

  test("join_shuffle_fact shuffles on the join key when neither side broadcasts") {
    // at test scale orders fits the broadcast threshold (and broadcasting
    // it IS the right plan); force the at-scale shape to check it:
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("join_shuffle_fact")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
      assert(p.contains("hashpartitioning(l_orderkey") &&
        p.contains("hashpartitioning(o_orderkey"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    for (name <- Seq("meta_table_size", "dedup_exact", "join_broadcast_dim",
        "events_value_histogram", "events_sliding_window")) {
      val p = plan(name)
      val hashAggs = p.linesIterator.count(l =>
        l.contains("HashAggregate") || l.contains("ObjectHashAggregate") ||
          l.contains("SortAggregate"))
      assert(hashAggs >= 2, s"$name: no partial aggregation\n${p.take(1500)}")
    }
  }

  test("native cosine_sim runs inside whole-stage codegen") {
    val df = SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir)
    df.collect() // AQE: codegen markers only appear on the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_sim"), p.take(2000))
    // the projection computing cosine_sim must sit inside a codegen
    // stage (a '*(n)' node), i.e. not fall back to interpreted eval
    val projLine = p.linesIterator.find(_.contains("cosine_sim")).get
    assert(projLine.contains("*("),
      s"cosine_sim projection not codegen'd: $projLine")
  }

  test("partitionBy layout turns year filters into directory pruning") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("bulk_insert_partitioned")(spark, sfDir).collect()
    val dest = graft.ops.PipelineQueries.tmp("bulk_insert_partitioned")
    val pruned = spark.read.parquet(dest).filter(col("ship_year") === 1997)
    val p = pruned.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("ship_year"),
      s"partition filter not applied at the file listing: $scanLine")
    // and the data filter must NOT appear as a row-level PushedFilter —
    // pruning happens at directory granularity
    assert(pruned.count() > 0)
  }

  test("bucketed join has no exchange on either side") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("bucketed_join_colocated")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(1500))
      // the join keys must not be re-shuffled: bucketed layout satisfies
      // the join's distribution requirement (only the group-by exchanges)
      assert(!p.contains("hashpartitioning(o_custkey") &&
        !p.contains("hashpartitioning(c_custkey"), p.take(2500))
      assert(p.contains("SelectedBucketsCount"), p.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("jdbc read is partition-parallel and pushes filters to the database") {
    val copy = plan("jdbc_bulk_copy")
    // 5 = four MOD slices + the IS NULL slice that keeps the predicate
    // array exhaustive over a nullable key (a NULL-keyed row matches no
    // MOD predicate and would silently vanish from the read-back)
    assert(copy.contains("numPartitions=5"),
      s"JDBC read not slice-parallel: ${copy.linesIterator.find(_.contains("JDBCRelation")).getOrElse(copy.take(800))}")
    val push = plan("jdbc_pushdown_scan")
    val scanLine = push.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("n_regionkey"),
      s"filter not pushed to the JDBC source: $scanLine")
  }

  test("topk_per_group windows on the group key, never a single partition") {
    val p = plan("topk_per_group")
    assert(p.contains("hashpartitioning(o_custkey"), p.take(2000))
  }

  test("window_running_total shuffles once on the window partition key") {
    // the trailing presentation orderBy is oracle-required; the property
    // that matters at scale is that the WINDOW itself hash-partitions on
    // the group key (one exchange) rather than sorting globally first.
    val p = plan("window_running_total")
    assert(p.contains("hashpartitioning(o_custkey"), p.take(2000))
  }

  test("window_lag_lead windows on the partition key, never a single partition") {
    val p = plan("window_lag_lead")
    assert(p.contains("hashpartitioning(o_custkey"), p.take(2000))
  }

  test("agg_grouping_sets expands sets with partial aggregation") {
    // one Expand + map-side partial HashAggregate before the shuffle —
    // the one-pass form (three separate scans would read the table 3×)
    val p = plan("agg_grouping_sets")
    assert(p.contains("Expand"), p.take(1500))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, p.take(1500))
  }

  test("sim_ivf_topk assigns cells with zero corpus shuffle") {
    // IVF cell assignment is a per-row argmax over the broadcast 16-entry
    // codebook: the corpus side must reach the probe join without ANY
    // hash-partitioned exchange (the only allowed exchanges are tiny
    // broadcasts and the 16-row codebook collapse). A regression to the
    // crossJoin + rank-window shape would shuffle 16× the corpus.
    val p = plan("sim_ivf_topk")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled during IVF assignment:\n${p.take(3000)}")
  }

  test("sim_ivf_write_layout probe prunes cell directories at the listing") {
    // the persisted IVF layout must be probed via partition pruning:
    // the scan's PartitionFilters carry a dynamic-pruning expression on
    // `cell` (fed by the broadcast probe set), so only nprobe=4 of the
    // 16 cell directories are ever listed/read
    val p = plan("sim_ivf_write_layout")
    val scanLine = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("cell")).getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"probe read does not prune the cell layout: $scanLine")
  }

  test("sim_lsh_bucket is declarative: no job until the caller's action") {
    // building the DataFrame must not run the query (the r2 shape ran a
    // driver collect() inside the builder). Scans.table reads the source
    // schema from a footer on the driver, so a declarative builder
    // submits no job at all: the gate is exactly zero.
    val bucket = jobsDuring(SparkEntry.queries("sim_lsh_bucket")(spark, sfDir))
    assert(bucket == 0, s"builder submitted $bucket job(s)")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // with shuffle.partitions sized for the big stages (32 on the bench
    // session), small aggregations would otherwise fan into dozens of
    // near-empty tasks; AQE shrinks them to the data's actual size at
    // runtime — the behavior that prevents tiny-partition storms when
    // one plan runs across 9 orders of magnitude of data
    import org.apache.spark.sql.functions._
    val df = graft.exec.Scans.table(spark, sfDir, "nation")
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
    df.collect() // AQE re-plans on materialization
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE did not coalesce the tiny aggregation:\n${p.take(1500)}")
  }

  test("source_orc_roundtrip pushes the filter into the ORC scan") {
    val p = plan("source_orc_roundtrip")
    val scanLine = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("c_custkey"))
      .getOrElse("")
    assert(scanLine.contains("LessThanOrEqual(c_custkey"),
      s"filter not pushed to ORC: ${p.take(1500)}")
  }

  test("text_fingerprint is shuffle-free up to the presentation sort") {
    // per-row shingle hashing is pure CPU over the scan: no groupBy, no
    // join, nothing to hash-partition. The ONLY exchange allowed is the
    // rangepartitioning of the oracle-required final ORDER BY — a
    // regression that introduces a hashpartitioning exchange (e.g. an
    // explode + re-group of the shingles) would shuffle every shingle of
    // a 100 TB corpus instead of folding them inside the row.
    val p = plan("text_fingerprint")
    assert(!p.contains("Exchange hashpartitioning"),
      s"fingerprint hashing shuffled the corpus:\n${p.take(2500)}")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p.take(2500))
  }

  test("pipeline_incremental_copy pushes the watermark predicate into the scan") {
    // the delta scan the op builds (PipelineQueries pipeline_incremental_copy:
    // src.filter(key > watermark)) must reach parquet as a PushedFilter,
    // pruning row groups / partitions below the watermark — the property
    // that makes incremental loads O(delta), not O(table), at 100 TB
    import org.apache.spark.sql.functions._
    val src = graft.exec.Scans.table(spark, sfDir, "orders")
    val w = src.agg(expr("max(o_orderkey) * 4 div 5")).collect()(0).getLong(0)
    val delta = src.filter(col("o_orderkey") > w)
    val scanLine = delta.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains(s"GreaterThan(o_orderkey,$w)"),
      s"watermark predicate not pushed into the delta scan: $scanLine")
  }

  test("sim_batch_topk broadcasts queries and windows per query") {
    // the corpus joins the tiny query batch via broadcast (no corpus
    // shuffle for the join) and the rank window partitions on q_id —
    // the per-query top-k parallelizes across the cluster instead of
    // funneling the scored candidates through one task
    val p = plan("sim_batch_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.contains("hashpartitioning(q_id"), p.take(2500))
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("pipeline_pack_sequences windows on the source key, never a single partition") {
    // the packing cumsum must partition by source (a real key) — a
    // global-order window would funnel the whole corpus through one task
    val p = plan("pipeline_pack_sequences")
    assert(p.contains("hashpartitioning(source"), p.take(2500))
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("broadcast threshold applies to the salted-dim join too") {
    // the salted join must still resolve as a join on (key, salt); at
    // this dim size Spark may broadcast it — both are acceptable — but
    // the aggregation on top must stay partial.
    val p = plan("join_skew_salted")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, p.take(1500))
  }

  test("row-level pipeline ops shuffle only for the tiny report rollup") {
    // domain mixing / repetition scoring / chunking are row-local
    // transforms — the ONLY exchange allowed is the per-group report
    // aggregation (plus its partial map side)
    for (name <- Seq("pipeline_domain_mix", "text_repetition_ratio",
        "text_chunk_overlap", "pipeline_train_split")) {
      val p = plan(name)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      // one hashpartitioning for the rollup + one rangepartitioning for
      // the presentation sort — never a corpus-wide reshuffle beyond
      // those. text_chunk_overlap's count(DISTINCT doc_id) legitimately
      // adds one keyed (source, doc_id) partial-dedup exchange.
      val cap = if (name == "text_chunk_overlap") 3 else 2
      assert(exchanges <= cap, s"$name: $exchanges exchanges\n${p.take(2000)}")
      val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(hashAggs >= 2, s"$name: no partial aggregation\n${p.take(1500)}")
    }
  }

  test("dedup_decontaminate probes the benchmark set via broadcast semi join") {
    // The benchmark shingle set is corpus-proportional, so the query
    // carries NO forced broadcast hint (a hint is a driver-OOM cliff at
    // the 100 TB target); the contract is that AQE broadcasts the probe
    // side at runtime while it measures small — so the lock reads the
    // FINAL adaptive plan after execution, not the static estimate.
    val df = SparkEntry.queries("dedup_decontaminate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(2500))
    // no shingle-keyed SORT-MERGE join survives at this scale: the
    // corpus side must reach the semi join unexchanged (broadcast probe)
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled on shingles:\n${p.take(2500)}")
  }

  test("sim_kmeans_iter assigns cells with zero corpus shuffle") {
    // same contract as sim_ivf_topk: the codebook collapses to one
    // broadcast row; no Exchange may touch the corpus before the cell
    // column exists. The only shuffles are the (cell, dim) mean rollup
    // and per-cell stats — both keyed, both partial-aggregated.
    val p = plan("sim_kmeans_iter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2500))
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus shuffled before assignment:\n${p.take(2500)}")
    val hashAggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
    assert(hashAggs >= 2, s"no partial aggregation\n${p.take(1500)}")
  }

  test("events_scd2_intervals reuses one user_id shuffle for both windows") {
    // both window functions partition by user_id — Catalyst must plan
    // ONE hashpartitioning(user_id) exchange and sort once per window,
    // never a SinglePartition funnel
    val p = plan("events_scd2_intervals")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"$userExchanges user_id exchanges\n${p.take(2500)}")
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("join_null_safe still plans as a broadcast hash join") {
    // `<=>` must not degrade to a nested-loop: Spark hashes the
    // coalesced key, so the null-safe join broadcasts like `=` does
    val p = plan("join_null_safe")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("agg_arg_max partial-aggregates the struct extremes") {
    // argmax carries O(1) state (one struct) per group and must
    // combine map-side like any max (struct-typed agg buffers plan as
    // SortAggregate — still a partial + final pair)
    val p = plan("agg_arg_max")
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate") ||
        l.contains("ObjectHashAggregate"))
    assert(aggs >= 2, s"no partial aggregation\n${p.take(1500)}")
    assert(p.contains("partial_max"), s"no map-side combine\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("scan_column_stats computes multi-distinct stats in one scan") {
    // the stats pass must be ONE table scan with an Expand for the
    // distinct aggregates — N per-column passes is N× the IO at 100 TB
    val p = plan("scan_column_stats")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"more than one scan\n${p.take(2000)}")
    assert(p.contains("Expand"), p.take(2000))
  }

  test("multimodal_content_dedup shuffles digests, not blobs") {
    // the groupBy key is md5(blob) computed in place (a Project below
    // the partial aggregate), so the exchange carries the digest
    // grouping expression — never the blob/text payload column
    val p = plan("multimodal_content_dedup")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.exists(_.contains("_groupingexpression")), p.take(2500))
    assert(!exchangeLines.exists(l => l.contains("text#") || l.contains("blob")),
      s"payload column crosses an exchange:\n${exchangeLines.mkString("\n")}")
    assert(p.contains("partial_min"), p.take(2500))
  }

  test("sim_pq_quantize encodes with zero corpus shuffle") {
    // same contract as the IVF/kmeans assignment: one broadcast
    // codebook row, codes computed row-locally; the only exchanges are
    // the (subspace, code) rollup and the presentation sort
    val p = plan("sim_pq_quantize")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2500))
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus shuffled before encoding:\n${p.take(2500)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"no partial aggregation\n${p.take(1500)}")
  }

  test("events_cdc_merge shuffles once on user_id") {
    val p = plan("events_cdc_merge")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"$userExchanges user_id exchanges\n${p.take(2500)}")
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("events_retention pays ONE data-proportional shuffle (user_id)") {
    // collect_set(day) dedups in the map-side partials, so the user-day
    // collapse and the per-user first day share a single
    // hashpartitioning(user_id) exchange; everything after the explode
    // is row-local until the tiny day_offset rollup. A second user or
    // (user, day) exchange — the distinct→join / distinct→window
    // forms — would reshuffle the whole user-day table again.
    val p = plan("events_retention")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"$userExchanges user_id exchanges\n${p.take(2500)}")
    // the day_offset rollup exchange is the tiny report shuffle and is
    // fine; a (user_id, day)- or day-keyed exchange is not ("day#"
    // avoids matching hashpartitioning(day_offset#…))
    val dayKeyed = p.linesIterator.filter(_.contains("Exchange"))
      .exists(l => l.contains(", day#") || l.contains("hashpartitioning(day#"))
    assert(!dayKeyed, p.take(2500))
  }

  test("kmeans training assignment is a pure Project: zero Exchange per round") {
    // the literal-codebook design's whole point: a training ROUND scans
    // the corpus once and nothing else — no broadcast join node, no
    // shuffle of any kind until the centroid rollup (which is a
    // separate, partially-aggregated plan)
    import graft.ops.SimilarityQueries
    val emb = graft.exec.Scans.table(spark, sfDir, "embeddings")
    val seeds = SimilarityQueries.kmeansSeeds(spark, sfDir)
    val p = SimilarityQueries.kmeansAssign(emb, seeds)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment shuffled the corpus:\n${p.take(2500)}")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p.take(2000))
  }

  test("sim_ivf_pq_topk prunes cells before code math, zero corpus shuffle") {
    // the full serving path stacks three 1-row broadcasts (coarse
    // codebook, query probes+LUT, sub-codebook); the cell filter sits
    // BELOW the PQ encode so pruned rows never pay code math, and the
    // corpus reaches the TakeOrdered without ever being exchanged
    val p = plan("sim_ivf_pq_topk")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus shuffled:\n${p.take(2500)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(p.contains("array_contains"), s"no cell pruning filter\n${p.take(2500)}")
  }

  test("sim_pq_adc_topk never shuffles the corpus: LUT broadcast + TakeOrdered") {
    // codes and ADC sums are row-local against two broadcast rows (the
    // sub-codebook, the query LUT); the only ordering step is a
    // distributed TakeOrdered over (dist, vec_id) — no corpus exchange
    val p = plan("sim_pq_adc_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2500))
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus shuffled before scoring:\n${p.take(2500)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
  }

  test("dedup_chunk_exact shuffles digests, never chunk text") {
    // the 100 TB property of sub-document dedup: only the 16-byte chunk
    // digest + a long instance key travel through any Exchange — the
    // text column is consumed by the row-local explode and must not
    // appear in a shuffle's output schema
    val qe = SparkEntry.queries("dedup_chunk_exact")(spark, sfDir).queryExecution
    val formatted = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted explain lists every node with its Input/Arguments column
    // set; slice out each Exchange's detail block and scan it for the
    // text column (AQE wraps the plan, so node collection can't see the
    // exchanges before execution — the explain text can)
    val blocks = formatted.split("\\n\\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(blocks.nonEmpty, s"expected at least the ownership shuffle:\n$formatted")
    blocks.foreach { b =>
      assert(!b.contains("text#"),
        s"chunk text entered a shuffle:\n$b")
    }
  }

  test("text_bm25_topk scores row-locally: no token explode, TakeOrdered top-k") {
    // tf and dl come from size/filter over the in-row token array — a
    // Generate (explode) node would mean the corpus paid a token-grain
    // shuffle for what is row-local arithmetic; the stats row joins back
    // as a broadcast and the top-10 is a distributed TakeOrdered
    val p = plan("text_bm25_topk")
    assert(!p.contains("Generate"), s"token explode in the plan:\n${p.take(2500)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(!p.contains("hashpartitioning(doc_id"),
      s"corpus shuffled before scoring:\n${p.take(2500)}")
  }

  test("pipeline_dataset_card reads the corpus exactly once") {
    // the card aggregates every metric from ONE (source, lang) partial
    // agg; totals and the majority row are windows over that tiny frame
    // — a second corpus scan (groupBy + self-join shape) is the bug
    val p = plan("pipeline_dataset_card")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"corpus scanned $scans times:\n${p.take(2500)}")
    assert(p.contains("windowspecdefinition(source"), p.take(2500))
  }

  test("events_late_data_audit windows per ingest partition, never globally") {
    // the high-water-mark window must partition on the ingest-partition
    // key — a global running max would serialize the stream audit
    val p = plan("events_late_data_audit")
    assert(p.contains("windowspecdefinition(part"), p.take(2500))
  }

  test("text_boilerplate_ngrams: pass-1 shuffles digests; text only after the cut") {
    // the 100 TB property of boilerplate mining: the token-grain
    // aggregation exchanges carry the 16-byte digest (+ doc_id), never
    // shingle text — text re-enters only via the candidate-proportional
    // recovery agg behind the broadcast of the 20 winning digests
    // (those exchanges also carry the joined n_docs/n_occ columns,
    // which is how we tell the two stages apart)
    val qe = SparkEntry.queries("text_boilerplate_ngrams")(spark, sfDir).queryExecution
    val formatted = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("BroadcastExchange"), formatted.take(2000))
    val blocks = formatted.split("\\n\\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(blocks.nonEmpty)
    blocks.foreach { b =>
      assert(!b.contains("shingle#") || b.contains("n_docs#"),
        s"shingle text entered a pre-cut shuffle:\n$b")
    }
  }

  test("pipeline_temperature_sample: stats broadcast back, one corpus rollup") {
    // the per-domain stats and the global min are tiny broadcast sides;
    // the corpus itself is shuffled ONLY by the per-domain report agg
    // (one hashpartitioning + one presentation rangepartitioning) — a
    // corpus-wide join shuffle here would be the 100 TB bottleneck
    val p = plan("pipeline_temperature_sample")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    // the stats subtree plans twice (broadcast-join side + global min),
    // so exchange counting is unstable — the invariant that matters is
    // that the corpus joins its per-domain stats WITHOUT a corpus-
    // carrying shuffle: both joins broadcast, no sort-merge join
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled into the stats join:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation:\n${p.take(1500)}")
  }

  test("sim_knn_graph: cell-bounded pairs, ranking windows on src_id") {
    // candidate edges come from the cell equi-join (never a corpus cross
    // product) and the per-source top-k window partitions on src_id — a
    // partition-less window here would serialize the whole edge set
    val qe = SparkEntry.queries("sim_knn_graph")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unbounded pairwise:\n${p.take(2500)}")
    assert(p.contains("windowspecdefinition(src_id"), p.take(2500))
  }

  test("dedup_semantic bounds the pairwise search to cells: no cartesian") {
    // the SemDeDup property: candidate pairs come from an equi-join on
    // the cell key (broadcast or cell-partitioned — either is cell-
    // bounded), NEVER a cross product over the corpus; cell assignment
    // itself is the zero-Exchange broadcast-codebook scorer, so no
    // exchange keys on vec_id before pair generation (the dedup-mark
    // distinct afterwards is candidate-proportional, not corpus-sized)
    val qe = SparkEntry.queries("dedup_semantic")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"unbounded pairwise:\n${p.take(2500)}")
    val formatted = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val blocks = formatted.split("\\n\\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    blocks.foreach { b =>
      assert(!b.contains("embedding#") || b.contains("cell#"),
        s"embeddings exchanged on a non-cell key:\n$b")
    }
  }

  test("graph_pagerank iterates over the materialized edge list, never re-deriving it") {
    val p = plan("graph_pagerank")
    // the pair join is materialized ONCE (localCheckpoint → ExistingRDD);
    // each of the 3 rounds scans that RDD instead of replaying the
    // block-join subtree — so the plan has checkpoint scans, and NO
    // within-cell pair join at all
    assert(p.contains("ExistingRDD"), s"edge list not checkpointed:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // per-round inflow aggregation keeps map-side combine
    assert(p.contains("partial_sum"), "inflow aggregation lost map-side combine")
  }

  test("sim_range_search broadcasts the query batch; corpus never shuffles") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n${p.take(2000)}")
    // only the presentation sort may exchange — never a hash shuffle of
    // corpus rows
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled:\n${p.take(2000)}")
  }

  test("multimodal_shard_manifest: one source-keyed exchange feeds window AND rollup") {
    // hashpartitioning(source) satisfies the (source, shard_id) group-by's
    // clustered distribution, so the packing window's shuffle is the ONLY
    // hash exchange — and it carries ids and byte counts, never the blob
    val qe = SparkEntry.queries("multimodal_shard_manifest")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected exactly 1 hash exchange:\n${hashEx.mkString("\n")}")
    assert(hashEx.head.contains("source"), hashEx.head)
    assert(!hashEx.head.contains("text#"), s"blob bytes shuffled: ${hashEx.head}")
  }

  test("pipeline_curriculum_order shuffles ids only, never text") {
    val qe = SparkEntry.queries("pipeline_curriculum_order")(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { ex =>
      assert(!ex.contains("text#"), s"text shuffled: $ex")
    }
    // the scan itself must not read the text column at all — the
    // curriculum signal is the n_chars column
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"text read unnecessarily: $readSchema")
  }

  test("text_zipf_coverage ranks after a TakeOrdered limit, never the vocabulary") {
    val p = plan("text_zipf_coverage")
    // the top slice is a distributed TakeOrdered; the rank/cumulative
    // windows then see ≤ 50 rows (a global window over the term table
    // would funnel the whole vocabulary through one task)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    val winAt = p.indexOf("Window")
    val takeAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt >= 0 && takeAt > winAt,
      s"window must consume the TakeOrdered output (win@$winAt take@$takeAt)")
  }

  test("events_rfm_segmentation scores row-locally: no window, boundaries broadcast") {
    val p = plan("events_rfm_segmentation")
    // quartile assignment must be a broadcast-compare, never an ntile
    // window over the user population
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
  }

  test("events_markov_transitions sequences per user: the lag window partitions on user_id") {
    val p = plan("events_markov_transitions")
    // plan lines carry tree-drawing prefixes — match on content, not start
    val winLine = p.linesIterator
      .find(l => l.contains("Window ") && l.contains("lag(")).getOrElse("")
    assert(winLine.contains("user_id"), s"lag window not user-keyed: $winLine")
  }

  test("graph_triangle_count joins on node ids: no cartesian pair explosion") {
    val p = plan("graph_triangle_count")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("join_multiway_pipeline: dims broadcast, date range reaches the orders scan") {
    val p = plan("join_multiway_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // region→nation and nation→customer prune via broadcast before any
    // fact shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    // the 2-year window is evaluated at the orders scan, not post-join
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan") && l.contains("o_orderdate")).getOrElse("")
    assert(scanLine.contains("o_orderdate"),
      s"date range not at the scan: ${scanLine.take(200)}")
  }

  test("sim_filtered_topk pushes the metadata predicate into the vector scan") {
    val p = plan("sim_filtered_topk")
    // the exact equality must be pushed — an IsNotNull(label) residue
    // alone would mean the corpus scan is back to full width
    val pushedLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(_.contains("EqualTo(label,3)")),
      s"label equality not pushed: ${pushedLines.mkString(" | ").take(300)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("graph_modularity counts with id-keyed joins only") {
    val p = plan("graph_modularity")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("events_forecast_baseline never rescans the corpus: one rollup feeds train and test") {
    // the hourly rollup is checkpointed; the executed plan must read
    // ExistingRDD, not a second parquet scan of events
    val p = plan("events_forecast_baseline")
    val parquetScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(parquetScans == 0, s"expected 0 raw event scans, got $parquetScans")
  }

  test("dedup_sketch_calibration joins stay candidate-proportional") {
    val p = plan("dedup_sketch_calibration")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // every join is doc_id-keyed — no broadcast nested loop fallback
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("events_dau_wau_mau expands windows by explode, never a nested-loop join") {
    // the sliding-distinct expansion must be the sequence/explode
    // equi-join (≤ W generated rows per user-day): a non-equi day-range
    // join degrades to BroadcastNestedLoopJoin whose compute is
    // |user-days| × |calendar| — unbounded by W as history grows
    val p = plan("events_dau_wau_mau")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Generate explode"), "window expansion not explode-based")
  }

  test("events_dau_wau_mau_hll's daily rollup pays exactly one exchange") {
    // the sketch path's at-scale claim: events aggregate straight into
    // per-day sketches, so the ONLY corpus-proportional exchange is the
    // sketch merge (partial hll_sketch_agg below it, ~KB buffers above
    // it). A (day,user) pre-distinct — the shape a review caught this
    // round — adds a second exchange that shuffles every distinct pair
    // cluster-wide and contradicts the key's reason to exist.
    val p = graft.ops.EventQueries.dauHllDaily(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "(?m)^\\s*\\+?-? ?Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${p.take(2000)}")
    assert(p.contains("partial_hll_sketch_agg"),
      "daily sketch rollup lost its map-side partial aggregation")
  }

  test("sim_cell_retrain: an under-τ layout is a strict no-op (zero rewrite)") {
    // the maintenance pass must COST nothing when the signal says the
    // layout is healthy: no write job, no file touched, no rewrite
    // counted — the lock that a nightly OPTIMIZE sweep over thousands
    // of healthy corpora is free
    import graft.ops.SimilarityQueries
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_opt_noop")
    val layout = root.resolve("layout").toString
    spark.conf.set(SimilarityQueries.RetrainTauKey, "10.0")
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      val before = fileTreeStrict(layout)
      val rewritesBefore = SimilarityQueries.retrainRewrites.get()
      val hot = SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      assert(hot.isEmpty, "under-τ census must not select a split cell")
      assert(SimilarityQueries.retrainRewrites.get() == rewritesBefore,
        "under-τ retrain performed a rewrite")
      assert(fileTreeStrict(layout) == before,
        "under-τ retrain modified the persisted layout")
    } finally {
      spark.conf.unset(SimilarityQueries.RetrainTauKey)
      deleteTree(root)
    }
  }

  test("malformed retrain confs fail fast naming the key, not a bare NFE") {
    // same class as the bench env-knob parse: a '1.1x' typo must die
    // with the conf key in the message, not an unattributable
    // NumberFormatException from inside a locked maintenance pass
    import graft.ops.SimilarityQueries
    spark.conf.set(SimilarityQueries.RetrainTauKey, "1.1x")
    try {
      val e = intercept[IllegalArgumentException] {
        SimilarityQueries.retrainTau(spark)
      }
      assert(e.getMessage.contains(SimilarityQueries.RetrainTauKey) &&
        e.getMessage.contains("1.1x"), e.getMessage)
    } finally spark.conf.unset(SimilarityQueries.RetrainTauKey)
    // a parseable value (with stray whitespace) still parses
    spark.conf.set(SimilarityQueries.RetrainTauKey, " 2.5 ")
    try assert(SimilarityQueries.retrainTau(spark) == 2.5)
    finally spark.conf.unset(SimilarityQueries.RetrainTauKey)
  }

  test("spread engages only on under-split scans (identity at scale)") {
    // the r17 unsplittable-scan fix: a local single-row-group table
    // spreads to session width before a CPU-heavy kernel, but a corpus
    // whose byte size already yields >= cores splits must pass through
    // UNTOUCHED — the helper is a local-parallelism remedy, never an
    // extra exchange at scale
    import graft.exec.Scans
    import org.apache.spark.sql.functions.col
    val docs = Scans.table(spark, sfDir, "documents").select(col("doc_id"))
    // the under-split branch requires estSplits(1) < cores; on a
    // single-core runner spreadBytes is (correctly) the identity there
    // too, so only assert engagement when the session has width to
    // spread into (the identity half below holds on any runner)
    if (spark.sparkContext.defaultParallelism > 1) {
      val spreadPlan = Scans.spreadBytes(spark, docs,
          Scans.tableBytes(sfDir, "documents"))
        .queryExecution.executedPlan.toString
      assert(spreadPlan.contains("RoundRobinPartitioning"),
        s"under-split scan not spread:\n${spreadPlan.take(500)}")
    }
    val identPlan = Scans.spreadBytes(spark, docs, 1024L * 1024 * 1024 * 1024)
      .queryExecution.executedPlan.toString
    assert(!identPlan.contains("RoundRobinPartitioning"),
      s"already-split scan got a gratuitous exchange:\n${identPlan.take(500)}")
  }

  test("tableBytes walks partitioned layouts recursively") {
    // a hive-partitioned table keeps its data files below partition
    // subdirectories; a top-level-only sum read ~0 bytes and mis-fired
    // the spread exchange on an already-wide corpus
    import graft.exec.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_tb").toFile
    try {
      val t = new java.io.File(root, "nested.parquet/part=a")
      assert(t.mkdirs())
      java.nio.file.Files.write(new java.io.File(t, "f1.parquet").toPath,
        Array.fill[Byte](4096)(1))
      assert(Scans.tableBytes(root.getPath, "nested") == 4096L,
        "nested data file not counted")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("tableBytes stays finite on a directory-symlink cycle") {
    // a link back to the table root below a partition directory: a walk
    // that follows it re-enters the tree until the path length gives out
    import graft.exec.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_tb_cycle")
    try {
      val part = root.resolve("looped.parquet/part=a")
      java.nio.file.Files.createDirectories(part)
      java.nio.file.Files.write(part.resolve("f1.parquet"), Array.fill[Byte](4096)(1))
      java.nio.file.Files.createSymbolicLink(part.resolve("back"),
        root.resolve("looped.parquet"))
      assert(Scans.tableBytes(root.toString, "looped") == 4096L,
        "the cycle was followed")
    } finally deleteTree(root)
  }

  test("gated repartitions are the identity at scale (multimodal_decode, dedup_levenshtein)") {
    // the two r17 spread sites that used to repartition UNCONDITIONALLY
    // now route through spreadBytes: under a split size small enough
    // that the corpus estimates to >= cores scan splits (the at-scale
    // shape), neither query may add a RoundRobin exchange
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    for (key <- Seq("multimodal_decode", "dedup_levenshtein")) {
      val p = SparkEntry.queries(key)(s2, sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("RoundRobinPartitioning"),
        s"$key still repartitions on an already-wide corpus:\n${p.take(800)}")
    }
  }

  test("multimodal_decode fans the decode branch out on ids, never payloads") {
    // the decode redesign's §8 contract: the ImageIO branch repartitions
    // the 8-byte doc_id column only — the round-robin exchange must have
    // a single-column input (a regression that routed the blob or text
    // through it would shuffle payload bytes to buy CPU spread)
    val qe = SparkEntry.queries("multimodal_decode")(spark, sfDir)
      .queryExecution
    val formatted = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val rr = """Exchange\nInput \[1\]: \[doc_id#\d+L\]\nArguments: RoundRobinPartitioning""".r
    assert(rr.findFirstIn(formatted).isDefined,
      s"decode fan-out exchange is not id-only:\n${formatted.take(3000)}")
  }
}
