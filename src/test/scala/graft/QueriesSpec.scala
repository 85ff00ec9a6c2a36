package graft

import org.apache.spark.sql.functions._

/** Every declared query runs at sf0.001 and returns sane results — the
  * smoke layer under the driver's DuckDB-oracle gate (which runs at
  * sf0.01). Also checks the driver-contract invariants: unique keys,
  * oracle column-name discipline, entry rows > 0.
  */
class QueriesSpec extends SparkSpecBase {

  test("registry keys are unique and every oracle has a query") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every Bench headline key is a declared query") {
    val missing = Bench.headlineKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline keys with no query: $missing")
  }

  test("decimal-widened share quotients survive corpus-scale counts") {
    // The corpus-row/token-scale share quotients (markov, pareto,
    // attribution, new-vs-returning, seasonality, zipf) compute
    // (2*n*1000000 + d) div (2*d) with n cast to DECIMAL(38,0): the
    // plain LONG numerator ANSI-overflows once n exceeds ~4.6e12 — a
    // top Zipfian term's cumulative frequency on 100 TB of text, or a
    // multi-trillion-row event rollup. Pin all three contract points:
    // the long path really does abort at that scale (the hazard is
    // real, not hypothetical), the decimal path survives it with the
    // exact half-up value, and the two paths agree on sane counts.
    def dec(n: Long, d: Long): Long =
      spark.sql(s"SELECT (2 * cast(${n}L as decimal(38,0)) * 1000000" +
        s" + ${d}L) div (2 * ${d}L) AS q").head().getLong(0)
    // realistic 100 TB text scale: 5e12 of 2.5e13 tokens = 20% share
    assert(dec(5000000000000L, 25000000000000L) == 200000L)
    // absolute ceiling: n = d near Long.MaxValue/2 → share exactly 1
    assert(dec(4600000000000000000L, 4600000000000000000L) == 1000000L)
    // identity with the long path across the sane range
    for ((n, d) <- Seq((0L, 7L), (1L, 3L), (12345L, 777L),
        (999999999L, 1000000000L), (4000000000000L, 4000000000001L))) {
      val long = spark.sql(s"SELECT (2 * ${n}L * 1000000 + ${d}L)" +
        s" div (2 * ${d}L) AS q").head().getLong(0)
      assert(dec(n, d) == long, s"decimal/long divergence at ($n, $d)")
    }
    // and the hazard itself: the unwidened long numerator aborts under
    // ANSI at the same scale the decimal path just served
    val e = intercept[Exception] {
      spark.sql("SELECT (2 * 5000000000000L * 1000000 + 25000000000000L)" +
        " div (2 * 25000000000000L)").head()
    }
    assert(e.getMessage != null && e.getMessage.contains("ARITHMETIC_OVERFLOW"),
      s"expected the long path to overflow, got: ${e.getMessage}")
  }

  // sim_lsh_topk may legitimately return few rows at tiny scale (bucket
  // sparsity); everything else must produce data at sf0.001.
  private val mayBeSparse = Set("sim_lsh_topk")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sfDir)
      val names = df.schema.fieldNames
      assert(names.distinct.size == names.size, s"duplicate column names in $name")
      val n = df.count()
      if (!mayBeSparse(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("config_parse's mode classification matches the LIVE config loader") {
    // the query models CopyConfig.parse's tri-modal parse; every fixture's
    // published lp_mode must agree with what the loader actually does —
    // 'reject' iff parse throws, otherwise the strategy class. This is
    // the drift the r10 review found twice: first the query accepted
    // fractional GB ("8.5gb") that the loader rejects, then it rejected
    // spellings the loader accepts (String.toInt takes a leading '+',
    // dropRight(2).trim takes an inner space, and the loader
    // lowercase+trims before matching 'auto') — those now have fixtures.
    val rows = SparkEntry.queries("config_parse")(spark, sfDir).collect()
    val lpByName = Map(
      "auto" -> "auto", "count" -> "24", "frac_size" -> "8.5gb",
      "padded_auto" -> " AUTO ", "plus_count" -> "+24",
      "size" -> "8gb", "spaced_size" -> "8 gb", "tab_size" -> "8\tgb",
      "zero_size" -> "0gb")
    assert(rows.map(_.getString(0)).toSet == lpByName.keySet)
    rows.foreach { r =>
      val (name, mode) = (r.getString(0), r.getString(3))
      // JSON-escape the fixture value: a raw tab inside a JSON string is
      // invalid (Jackson rejects unescaped control chars), so the
      // tab_size fixture must reach the loader as the \t escape — the
      // same bytes the query's inline JSON carries
      val jsonLp = lpByName(name).replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\t", "\\t").replace("\n", "\\n")
      val json =
        s"""{"source": {"connection-string": "/s"},
           |"destination": {"connection-string": "/d"},
           |"options": {"logical-partitions": "$jsonLp"}}""".stripMargin
      val live =
        try Some(CopyConfig.parse(json, _ => None).plan.strategy)
        catch { case _: IllegalArgumentException => None }
      (mode, live) match {
        case ("reject", None)                                        => ()
        case ("auto", Some(graft.plan.PartitionStrategy.Auto))       => ()
        case ("count", Some(graft.plan.PartitionStrategy.Count(_)))  => ()
        case ("size-gb", Some(graft.plan.PartitionStrategy.SizeGb(_))) => ()
        case other => fail(s"$name: query says $mode, live parse says $other")
      }
    }
  }

  test("meta_schema_diff exercises all three mapping classifications") {
    // the full-outer classification must produce mapped AND source_only
    // AND dest_only rows — a drop target missing from the source schema
    // silently degenerates source_only away on BOTH gate sides
    val statuses = SparkEntry.queries("meta_schema_diff")(spark, sfDir)
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses == Set("mapped", "source_only", "dest_only"))
  }

  test("sim_lsh_bucket buckets partition the corpus") {
    // the invariant the r2 query computed with a driver collect(), now
    // where it belongs: every vector lands in exactly one bucket (the
    // bucket expression is total) and every bucket id is in [0, 256)
    import graft.exec.Scans
    import graft.ops.SimilarityQueries
    val emb = Scans.table(spark, sfDir, "embeddings")
    val planes = SimilarityQueries.hyperplanes(8, 64)
    val bucketed = emb.withColumn("bucket",
      SimilarityQueries.lshBucket(col("embedding"), planes))
    val row = bucketed.agg(
      count(lit(1)).as("n"), count(col("bucket")).as("n_nonnull"),
      min(col("bucket")).as("lo"), max(col("bucket")).as("hi")).collect()(0)
    assert(row.getLong(0) == emb.count())          // exhaustive
    assert(row.getLong(1) == row.getLong(0))       // no NULL bucket
    assert(row.getInt(2) >= 0 && row.getInt(3) < 256)
  }

  test("graph_connected_components labels every node by its component minimum") {
    val rows = SparkEntry.queries("graph_connected_components")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the label is a min over the component, so it can never exceed the id
    rows.foreach(r =>
      assert(r.getAs[Long]("component_id") <= r.getAs[Long]("vec_id")))
    // and the labeled minimum must itself be a member carrying its own id
    rows.groupBy(_.getAs[Long]("component_id")).foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("vec_id")).min == cid,
        s"component $cid's minimum member is not its label")
    }
  }

  test("graph_connected_components restores the session shuffle-partition conf") {
    // the loop sizes its round shuffles to the graph and must put the
    // session default back — a leaked setting would silently resize
    // every later query's shuffles in a shared session
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    SparkEntry.queries("graph_connected_components")(spark, sfDir).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "shuffle-partition conf leaked out of the component loop")
  }

  test("graph_connected_components is safe under concurrent invocation") {
    // the cached-child-session design's claims, exercised rather than
    // reasoned: two same-caller invocations share one child (identical
    // override — benign), a caller with a DIFFERENT shuffle conf gets
    // its own child instead of retargeting the in-flight loop, an
    // unrelated query interleaves freely, and nobody's session conf
    // moves. All three component runs must equal the serial answer.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(s: org.apache.spark.sql.SparkSession): Seq[String] =
      SparkEntry.queries("graph_connected_components")(s, sfDir)
        .collect().map(_.toString).toSeq
    val serial = run(spark)
    val otherCaller = spark.newSession()
    otherCaller.conf.set("spark.sql.shuffle.partitions", "7")
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val ccRuns = Future.sequence(Seq(
      Future(run(spark)), Future(run(spark)), Future(run(otherCaller))))
    val interleaved = Future(
      SparkEntry.queries("join_broadcast_dim")(spark, sfDir).collect())
    Await.result(ccRuns, 5.minutes).foreach(r =>
      assert(r == serial, "concurrent component run diverged from serial"))
    assert(Await.result(interleaved, 5.minutes).nonEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore,
      "concurrent component runs leaked into the caller's conf")
    assert(otherCaller.conf.get("spark.sql.shuffle.partitions") == "7",
      "concurrent component runs leaked into the second caller's conf")
  }

  test("dedup_decontaminate partitions train into contaminated + clean") {
    val r = SparkEntry.queries("dedup_decontaminate")(spark, sfDir).collect()(0)
    val (nBench, nTrain) = (r.getAs[Long]("n_benchmark"), r.getAs[Long]("n_train"))
    val (nCont, nClean) = (r.getAs[Long]("n_contaminated"), r.getAs[Long]("n_clean"))
    assert(nBench > 0 && nTrain > 0)
    assert(nCont + nClean == nTrain)
  }

  test("pipeline_domain_mix keeps at most the target rate and is deterministic") {
    val rows = SparkEntry.queries("pipeline_domain_mix")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(Set(25L, 50L, 75L, 100L).contains(r.getAs[Long]("target_pct")))
      // pct=100 must admit every row (hash % 100 < 100 is total)
      if (r.getAs[Long]("target_pct") == 100L)
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_total"))
    }
    val again = SparkEntry.queries("pipeline_domain_mix")(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("text_chunk_overlap emits at least one chunk per document") {
    import graft.exec.Scans
    val perSource = SparkEntry.queries("text_chunk_overlap")(spark, sfDir).collect()
    val nDocs = Scans.table(spark, sfDir, "documents").count()
    assert(perSource.map(_.getAs[Long]("n_docs")).sum == nDocs)
    perSource.foreach(r =>
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs")))
  }

  test("sim_kmeans_iter assignment is exhaustive over the corpus") {
    import graft.exec.Scans
    val cells = SparkEntry.queries("sim_kmeans_iter")(spark, sfDir).collect()
    val n = Scans.table(spark, sfDir, "embeddings").count()
    assert(cells.map(_.getAs[Long]("n_members")).sum == n)
    cells.foreach { r =>
      val c = r.getAs[Long]("cell")
      assert(c >= 1 && c <= 8)
      // each seed vector must land in its own cell (cos(v,v)=1 is max)
      assert(r.getAs[Long]("n_members") >= 1)
    }
  }

  test("events_scd2_intervals closes all but the last interval per user") {
    val rows = SparkEntry.queries("events_scd2_intervals")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nIntervals = rows.map(_.getAs[Long]("n_intervals")).sum
    val nClosed = rows.map(_.getAs[Long]("n_closed")).sum
    import graft.exec.Scans
    val nUsers = Scans.table(spark, sfDir, "events")
      .filter(col("user_id") < 50).select(col("user_id")).distinct().count()
    // exactly one open interval per user
    assert(nIntervals - nClosed == nUsers)
    rows.foreach(r => assert(r.getAs[Long]("sum_ms") >= 0))
  }

  test("pipeline_temperature_sample flattens the skewed domain, keeps the rest") {
    val rows = SparkEntry.queries("pipeline_temperature_sample")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // domain '1' absorbs src1 + src10..src19 — it must be the strict
    // majority domain and the ONLY one below rate 1.0; every rate-1.0
    // domain keeps all its rows (the hash predicate is total at r=1)
    val big = rows.filter(_.getAs[Double]("rate") < 1.0)
    assert(big.map(_.getAs[String]("domain")).toSeq == Seq("1"))
    val b = big.head
    assert(b.getAs[Long]("n_kept") < b.getAs[Long]("n_total"))
    // α=½ flattening: kept count concentrates near rate*total (loose
    // 2σ-ish band — the admission hash is uniform over 2^40)
    val expected = b.getAs[Double]("rate") * b.getAs[Long]("n_total")
    assert(math.abs(b.getAs[Long]("n_kept") - expected) <= 3 * math.sqrt(expected))
    rows.filterNot(_.getAs[String]("domain") == "1").foreach(r =>
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_total")))
    // deterministic: same admissions on a re-run
    val again = SparkEntry.queries("pipeline_temperature_sample")(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("text_bm25_topk returns a dense descending top-10") {
    val rows = SparkEntry.queries("text_bm25_topk")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    assert(rows.length <= 10 && rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("bm25")).toSeq
    assert(scores == scores.sorted.reverse, s"not descending: $scores")
    assert(scores.forall(_ > 0.0))
  }

  test("dedup_semantic cells partition the corpus and never drop a whole cell") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("dedup_semantic")(spark, sfDir).collect()
    val n = Scans.table(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == n)
    rows.foreach { r =>
      // smallest-id survivor contract: a nonempty cell always keeps at
      // least its minimum-id member, so drops are strictly fewer than size
      assert(r.getAs[Long]("n_dropped") < r.getAs[Long]("n_vectors"))
      assert(r.getAs[Long]("id_sum_kept") > 0)
    }
  }

  test("rowhash_check reconciles content, not just counts, and detects a tamper") {
    val r = SparkEntry.queries("rowhash_check")(spark, sfDir).collect()(0)
    assert(r.getAs[Boolean]("is_match"))
    assert(r.getAs[Long]("src_rows") == r.getAs[Long]("dst_rows"))
    assert(r.getAs[Long]("src_hash") == r.getAs[Long]("dst_hash"))
    assert(r.getAs[Long]("src_hash") > 0)
    // the checksum must be CONTENT-sensitive where rowcount is blind: a
    // same-cardinality corruption (one returnflag flipped) moves the sum
    import graft.exec.Scans
    val rowHash = expr(
      """cast(conv(substring(md5(concat_ws('|',
        |  cast(l_orderkey AS string), cast(l_linenumber AS string),
        |  cast(l_partkey AS string), l_returnflag, l_linestatus)),
        |  1, 7), 16, 10) AS bigint)""".stripMargin)
    val tampered = Scans.table(spark, sfDir, "lineitem")
      .withColumn("l_returnflag", concat(col("l_returnflag"), lit("Z")))
      .agg(sum(rowHash).cast("long")).collect()(0).getLong(0)
    assert(tampered != r.getAs[Long]("src_hash"))
  }

  test("pipeline_dataset_card covers the corpus with consistent per-source stats") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("pipeline_dataset_card")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Scans.table(spark, sfDir, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_quality_pass") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_langs") >= 1)
      val share = r.getAs[Double]("top_lang_share")
      assert(share > 0.0 && share <= 1.0)
      // majority share can't be below a uniform split across languages
      assert(share >= 1.0 / r.getAs[Long]("n_langs") - 1e-9)
    }
  }

  test("sim_recall_eval reports a consistent recall fraction") {
    val r = SparkEntry.queries("sim_recall_eval")(spark, sfDir).collect()
    assert(r.length == 1)
    val (k, m) = (r(0).getAs[Long]("k"), r(0).getAs[Long]("n_matched"))
    assert(k == 10L && m >= 0L && m <= 10L)
    assert(math.abs(r(0).getAs[Double]("recall") - m / 10.0) < 1e-9)
  }

  test("events_late_data_audit partitions the stream and finds real lateness") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("events_late_data_audit")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("part")).toSeq == (0L to 7L))
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Scans.table(spark, sfDir, "events").count())
    rows.foreach { r =>
      // the bounded-delay channel must produce SOME lateness (else the
      // audit is vacuous) but can never make every event late
      assert(r.getAs[Long]("n_late") > 0)
      assert(r.getAs[Long]("n_late") < r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("max_late_s") > 0)
      assert(r.getAs[Long]("sum_late_s") >= r.getAs[Long]("max_late_s"))
    }
  }

  test("text_boilerplate_ngrams finds only multi-document 8-token shingles") {
    val rows = SparkEntry.queries("text_boilerplate_ngrams")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[String]("shingle").split(" ").length == 8)
    }
    // ranked by reach first: n_docs is non-increasing down the list
    val reach = rows.map(_.getAs[Long]("n_docs")).toSeq
    assert(reach == reach.sorted.reverse)
  }

  test("sim_knn_graph emits dense descending in-cell edges, no self-loops") {
    val rows = SparkEntry.queries("sim_knn_graph")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Long]("src_id") != r.getAs[Long]("nbr_id")))
    rows.groupBy(_.getAs[Long]("src_id")).foreach { case (_, edges) =>
      val byRank = edges.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq ==
        (1L to edges.length).toSeq)
      val sims = byRank.map(_.getAs[Double]("cos_sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("multimodal_text_pair pairs every document and gates both modalities") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("multimodal_text_pair")(spark, sfDir).collect()
    val nDocs = Scans.table(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_admitted") <= r.getAs[Long]("n_pairs"))
      // admitted sums are bounded by the gate: area ≥ 100 per admitted
      // pair, caption length within [150, 450]
      val adm = r.getAs[Long]("n_admitted")
      assert(r.getAs[Long]("area_sum") >= 100L * adm)
      assert(r.getAs[Long]("cap_len_sum") >= 150L * adm &&
        r.getAs[Long]("cap_len_sum") <= 450L * adm)
    }
    // the image side of the gate must really fire: fixture areas span
    // [64, 195], so some pairs fail the 100 px floor even with a good
    // caption — admitted strictly below the pair count overall
    assert(rows.map(_.getAs[Long]("n_admitted")).sum <
      rows.map(_.getAs[Long]("n_pairs")).sum)
  }

  test("disjoint+exhaustive slicing holds on real data") {
    import graft.exec.Scans
    val li = Scans.table(spark, sfDir, "lineitem")
    val total = li.count()
    val key = Scans.sliceKeyPortable(Seq("l_orderkey", "l_linenumber"))
    val perSlice = li.groupBy(pmod(key, lit(9L)).as("s")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perSlice.keys.forall(s => s >= 0 && s < 9))
    assert(perSlice.values.sum == total)
    // and the union-of-slices DataFrame equals the table
    val union = (0 until 9).map(i => Scans.logicalSlice(li, key, 9, i))
      .reduce(_ unionAll _)
    assert(union.count() == total)
  }

  test("sim_ivf_incremental append touches only the new batch's cells") {
    import graft.ops.SimilarityQueries
    import graft.exec.Scans
    // drive the two ingest steps into a throwaway root and snapshot the
    // file tree between them: the incremental contract is that the
    // append (a) never modifies or removes an existing file and (b) adds
    // files ONLY under cell directories where new-batch vectors land —
    // a nightly ingest costs O(batch), never a layout rebuild
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_inc_spec")
    val layout = root.resolve("layout").toString
    try {
      SimilarityQueries.writeIncBase(spark, sfDir, layout)
      val before = dataFileSizes(layout)
      SimilarityQueries.appendIncBatch(spark, sfDir, layout)
      val after = dataFileSizes(layout)
      // (a) every pre-existing file survives byte-count-identical
      before.foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"existing file disturbed: $f")
      }
      // (b) new files confined to the new batch's cell directories
      val newFiles = (after.keySet -- before.keySet).toSeq
      assert(newFiles.nonEmpty, "append added no files")
      val newCells = spark.read.parquet(layout)
        .filter(SimilarityQueries.ivfIncIsNewBatch)
        .select(col("cell")).distinct()
        .collect().map(_.get(0).toString).toSet
      newFiles.foreach { f =>
        val cellDir = f.split("/").find(_.startsWith("cell="))
          .getOrElse(fail(s"appended file outside a cell dir: $f"))
          .stripPrefix("cell=")
        assert(newCells.contains(cellDir),
          s"append wrote into an unchanged cell: $f (changed cells: $newCells)")
      }
      // and the combined layout is exactly the corpus
      assert(spark.read.parquet(layout).count() ==
        Scans.table(spark, sfDir, "embeddings").count())
    } finally deleteTree(root)
  }

  test("staged IVF layouts evict and re-stage when the embeddings schema changes") {
    import graft.ops.SimilarityQueries
    // r15 ADVICE: the read-back schema memo is keyed by (dir, embeddings
    // footer schema), but the STAGING memos were keyed by path alone — a
    // corpus RECREATED in the same JVM kept serving layout files written
    // for the old schema, and an explicit-schema read of those under the
    // new schema silently NULLs renamed/missing columns (or throws on a
    // type change). The staging memos now carry the schema fingerprint
    // and evict on mismatch, so a recreated corpus re-stages through the
    // real production write; an unchanged corpus keeps the
    // write-once-per-JVM contract.
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_evict")
    val corpus = root.resolve("corpus").toString
    def writeEmb(elem: String): Unit =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") < 120)
        .withColumn("embedding",
          expr(s"transform(embedding, x -> cast(x as $elem))"))
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    def elemType(path: String) =
      spark.read.parquet(path).schema("embedding").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    try {
      writeEmb("float")
      val r1 = SparkEntry.queries("sim_ivf_write_layout")(spark, corpus).collect()
      assert(r1.nonEmpty)
      SparkEntry.queries("sim_ivf_incremental")(spark, corpus).collect()
      val layout = SimilarityQueries.ivfLayoutPath(spark, corpus)
      val inc = SimilarityQueries.ivfIncLayoutPath(spark, corpus)
      assert(elemType(layout) == org.apache.spark.sql.types.FloatType)
      val files1 = dataFileSizes(layout).keySet
      val incFiles1 = dataFileSizes(inc).keySet
      // same schema, second invocation: memo HIT — the staged files are
      // reused verbatim (a parquet re-write would mint new part names)
      SparkEntry.queries("sim_ivf_write_layout")(spark, corpus).collect()
      assert(dataFileSizes(layout).keySet == files1,
        "re-staged without a schema change — write-once contract broken")
      // the corpus is RECREATED under a different embeddings schema
      // (float -> double element type)
      writeEmb("double")
      val r2 = SparkEntry.queries("sim_ivf_write_layout")(spark, corpus).collect()
      assert(r2.nonEmpty &&
        r2.forall(r => !r.isNullAt(r.fieldIndex("cos_sim"))),
        "post-recreate probe must serve real values, never stale-schema reads")
      assert(elemType(layout) == org.apache.spark.sql.types.DoubleType,
        "layout still carries the OLD schema's files — staging memo not evicted")
      assert(dataFileSizes(layout).keySet != files1,
        "layout files unchanged after a schema change")
      SparkEntry.queries("sim_ivf_incremental")(spark, corpus).collect()
      assert(elemType(inc) == org.apache.spark.sql.types.DoubleType,
        "incremental layout not re-staged after a schema change")
      assert(dataFileSizes(inc).keySet != incFiles1)
    } finally deleteTree(root)
  }

  test("graph_pagerank: teleport floor, sub-unit mass, inflow differentiates") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("graph_pagerank")(spark, sfDir).collect()
    val n = Scans.table(spark, sfDir, "embeddings").count()
    assert(rows.length == n, "every vector gets a rank")
    val floor = 0.15 / n - 1e-6
    val prs = rows.map(_.getAs[Double]("pagerank"))
    prs.foreach(pr => assert(pr >= floor, s"rank below the teleport floor: $pr"))
    // dangling mass is dropped (declared variant), so total mass < 1
    assert(prs.sum <= 1.0 + 1e-6, s"mass exceeds 1: ${prs.sum}")
    // the graph must actually differentiate: some node accumulates inflow
    assert(prs.max > 0.15 / n + 1e-9, "no node received any inflow")
  }

  test("sim_range_search returns exactly the rounded tau-ball") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("sim_range_search")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("cos_sim") >= 0.25))
    // cross-check the admission count against an independent in-spec
    // brute force over the collected vectors
    val vecs = Scans.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    // iterate Seq views: a for-comprehension over the Map itself would
    // yield a Map keyed by q and keep only one pair per query
    val expected = (for {
      (q, qv) <- vecs.toSeq if q < 5
      (c, cv) <- vecs.toSeq if c >= 5
      s = BigDecimal(cos(cv, qv)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if s >= BigDecimal("0.25")
    } yield (q, c)).toSet
    assert(rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
      == expected)
  }

  test("multimodal_shard_manifest shards partition each source contiguously") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("multimodal_shard_manifest")(spark, sfDir).collect()
    val docs = Scans.table(spark, sfDir, "documents")
      .select(col("source"), length(col("text").cast("binary")).cast("long").as("b"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"), sum(col("b")).as("bytes"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[Long]("bytes"))).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, shards) =>
      val ids = shards.map(_.getAs[Long]("shard_id")).sorted.toSeq
      assert(ids.head == 0L, s"$src shards must start at 0")
      // greedy byte-budget packing may SKIP ids only when one item
      // overflows multiple budget units; with ~500-byte items and a
      // 2048-byte target the ids are contiguous on this corpus
      assert(ids == (0L until ids.length).toSeq, s"$src shard ids not contiguous: $ids")
      assert(shards.map(_.getAs[Long]("n_items")).sum == docs(src)._1)
      assert(shards.map(_.getAs[Long]("shard_bytes")).sum == docs(src)._2)
      shards.foreach(sh => assert(sh.getAs[Long]("min_doc_id") <= sh.getAs[Long]("max_doc_id")))
    }
    assert(rows.map(_.getAs[Long]("n_items")).sum ==
      docs.values.map(_._1).sum)
  }

  test("pipeline_curriculum_order: quartile bands, 8-doc batches, full coverage") {
    import graft.exec.Scans
    val rows = SparkEntry.queries("pipeline_curriculum_order")(spark, sfDir).collect()
    val nDocs = Scans.table(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach(r => assert(r.getAs[Long]("n_docs") <= 8L))
    rows.groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("band")))
      .foreach { case ((src, band), batches) =>
        assert(band >= 1L && band <= 4L)
        val bids = batches.map(_.getAs[Long]("batch_id")).sorted.toSeq
        assert(bids == (0L until bids.length).toSeq,
          s"$src band $band batch ids not contiguous: $bids")
      }
    // ntile balance: within a source, band sizes differ by at most 1
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val sizes = rs.groupBy(_.getAs[Long]("band"))
        .map(_._2.map(_.getAs[Long]("n_docs")).sum)
      assert(sizes.max - sizes.min <= 1, s"$src unbalanced bands: $sizes")
    }
  }

  test("sim_cell_retrain rewrites only the split cell's partitions") {
    import graft.ops.SimilarityQueries
    import graft.exec.Scans
    // drive base + retrain into a throwaway root and snapshot the file
    // tree between them: the maintenance contract is that the repair
    // touches EXACTLY the split cell's two partition directories — the
    // O(hot cell) pass, never a layout rebuild
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_opt_spec")
    val layout = root.resolve("layout").toString
    def snapshot(): Map[String, Long] = dataFileSizes(layout)
    def cellOf(f: String): String =
      f.split("/").find(_.startsWith("cell=")).getOrElse("")
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      val before = snapshot()
      val hot = SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      assert(hot.nonEmpty,
        "the bench corpus imbalance should exceed the default τ")
      val (h, nw) = hot.get
      val after = snapshot()
      val touched = Set(s"cell=$h", s"cell=$nw")
      // every file outside the split cell survives byte-count-identical
      before.foreach { case (f, sz) =>
        if (!touched.contains(cellOf(f)))
          assert(after.get(f).contains(sz), s"untouched cell disturbed: $f")
      }
      // every added or removed file is confined to the split cell's dirs
      val changed = (after.keySet -- before.keySet) ++
        (before.keySet -- after.keySet)
      assert(changed.nonEmpty, "retrain rewrote nothing")
      changed.foreach { f =>
        assert(touched.contains(cellOf(f)),
          s"rewrite leaked outside the split cell: $f")
      }
      // membership is preserved exactly, and the split has two real sides
      val emb = Scans.table(spark, sfDir, "embeddings")
      val lay = spark.read.parquet(layout)
      assert(lay.count() == emb.count())
      assert(lay.select("vec_id").except(emb.select("vec_id")).count() == 0)
      val sides = lay
        .filter(col("cell") === h || col("cell") === nw)
        .groupBy(col("cell")).count().collect()
      assert(sides.length == 2 && sides.forall(_.getLong(1) > 0),
        s"split did not produce two non-empty sides: ${sides.mkString(",")}")
      // a SECOND pass must never overwrite the first split's new cell:
      // whatever it does, every vector is still in the layout exactly
      // once (the repeated-maintenance data-loss case)
      SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      val lay2 = spark.read.parquet(layout)
      assert(lay2.count() == emb.count(),
        "second maintenance pass changed the layout's vector count")
      assert(lay2.groupBy(col("vec_id")).count()
        .filter(col("count") > 1).isEmpty,
        "second maintenance pass duplicated vectors")
    } finally deleteTree(root)
  }

  test("sim_cell_retrain: concurrent maintainers — one wins, one throws, layout intact") {
    import graft.ops.SimilarityQueries
    import graft.exec.Scans
    // the fence's contract (reference SmartBulkCopy.cs:111-133's
    // abort-rather-than-corrupt posture): maintainer A holds the lock
    // mid-pass while maintainer B attempts entry — B must fail LOUDLY
    // before reading the census, never silently double-allocate a
    // fresh cell id
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_fence")
    val layout = root.resolve("layout").toString
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      SimilarityQueries.retrainPostLockHook = () => {
        entered.countDown()
        // bounded: a hung release must fail the test, not wedge sbt
        release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
      @volatile var aResult: Option[(Long, Long)] = None
      @volatile var aError: Throwable = null
      val a = new Thread(() => {
        try aResult = SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
        catch { case e: Throwable => aError = e }
      }, "graft-spec-maintainer-a")
      a.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "maintainer A never acquired the lock")
      // B attempts while A is mid-pass: refused at the fence. B must
      // NOT run the post-lock hook (it never holds the lock), so no
      // latch interplay — the throw is immediate.
      val refusal = intercept[IllegalStateException] {
        SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      }
      assert(refusal.getMessage.contains("concurrent maintenance"),
        s"wrong refusal: ${refusal.getMessage}")
      // ... and the refusal must not have deleted A's live lock
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(layout, SimilarityQueries.RetrainLockName)),
        "refused maintainer deleted the live lock")
      release.countDown()
      a.join(120000)
      assert(!a.isAlive, "maintainer A wedged")
      assert(aError == null, s"maintainer A failed: $aError")
      assert(aResult.nonEmpty,
        "the bench corpus imbalance should exceed the default τ")
      // layout intact: every vector exactly once, lock released
      val emb = Scans.table(spark, sfDir, "embeddings")
      val lay = spark.read.parquet(layout)
      assert(lay.count() == emb.count())
      assert(lay.groupBy(col("vec_id")).count()
        .filter(col("count") > 1).isEmpty)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(layout, SimilarityQueries.RetrainLockName)),
        "winner did not release the lock")
    } finally {
      SimilarityQueries.retrainPostLockHook = () => ()
      deleteTree(root)
    }
  }

  test("sim_cell_retrain: a fresh foreign lock refuses; a stale one breaks") {
    import graft.ops.SimilarityQueries
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_stale")
    val layout = root.resolve("layout").toString
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      val lock = java.nio.file.Paths.get(layout, SimilarityQueries.RetrainLockName)
      // a FRESH lock someone else holds (age << TTL): refuse loudly and
      // leave both the lock and the layout untouched
      java.nio.file.Files.write(lock, "pid=0 epochMs=0\n".getBytes("UTF-8"))
      val before = fileTreeStrict(layout)
      intercept[IllegalStateException] {
        SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      }
      assert(fileTreeStrict(layout) == before,
        "refused maintainer modified the layout or the foreign lock")
      // the SAME lock aged past the TTL is a crashed maintainer's:
      // break it with a warning and run the pass (which then releases)
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 3600000L))
      val hot = SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      assert(hot.nonEmpty,
        "the bench corpus imbalance should exceed the default τ")
      assert(!java.nio.file.Files.exists(lock),
        "stale-break pass did not release the re-acquired lock")
    } finally deleteTree(root)
  }

  test("sim_cell_retrain: release leaves a lock it no longer owns") {
    import graft.ops.SimilarityQueries
    // the documented TTL overlap must not CASCADE: if a breaker replaced
    // our lock mid-pass (we outlived the TTL), our release must leave
    // the breaker's live lock standing instead of admitting a third
    // maintainer by deleting it blindly
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_steal")
    val layout = root.resolve("layout").toString
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      SimilarityQueries.retrainPostLockHook = () => {
        entered.countDown()
        release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
      @volatile var aError: Throwable = null
      val a = new Thread(() => {
        try SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
        catch { case e: Throwable => aError = e }
      }, "graft-spec-outlived-maintainer")
      a.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // simulate a TTL-breaker stealing the lock while A is mid-pass
      val lock = java.nio.file.Paths.get(layout, SimilarityQueries.RetrainLockName)
      val foreign = "pid=999999 nonce=foreign-breaker\n"
      java.nio.file.Files.delete(lock)
      java.nio.file.Files.write(lock, foreign.getBytes("UTF-8"))
      release.countDown()
      a.join(120000)
      assert(!a.isAlive && aError == null, s"maintainer wedged or failed: $aError")
      // A completed its pass but must NOT have deleted the breaker's lock
      assert(java.nio.file.Files.exists(lock),
        "release deleted a lock owned by another maintainer")
      assert(new String(java.nio.file.Files.readAllBytes(lock), "UTF-8") == foreign,
        "release modified a lock owned by another maintainer")
    } finally {
      SimilarityQueries.retrainPostLockHook = () => ()
      deleteTree(root)
    }
  }

  test("sim_cell_retrain: release judges a lock rewritten without its .crc by content") {
    import graft.ops.SimilarityQueries
    // a lock rewritten by a tool that does not update the checksum
    // sidecar still carries our token: release must read it as ours
    // and delete it (with its .crc), not fail on the stale checksum
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_nocrc")
    val layout = root.resolve("layout").toString
    val lock = java.nio.file.Paths.get(layout, SimilarityQueries.RetrainLockName)
    try {
      SimilarityQueries.writeOptBase(spark, sfDir, layout)
      SimilarityQueries.retrainPostLockHook = () => {
        val ours = java.nio.file.Files.readAllBytes(lock)
        java.nio.file.Files.write(lock, ours ++ "rewritten by hand\n".getBytes("UTF-8"))
        ()
      }
      SimilarityQueries.retrainIfSkewed(spark, sfDir, layout)
      assert(!java.nio.file.Files.exists(lock),
        "release left our own lock standing after a .crc-less rewrite")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(layout, s".${SimilarityQueries.RetrainLockName}.crc")),
        "release left the lock's checksum sidecar behind")
    } finally {
      SimilarityQueries.retrainPostLockHook = () => ()
      deleteTree(root)
    }
  }

  test("SNM hot-cell bound: pairs stay ≤ 4·H·n when ALL vectors share one cell") {
    // The 100 TB skew claim (≤ 2·c·H unordered pairs per cell, linear
    // in cell size) pinned by construction: a synthetic corpus whose
    // every non-centroid vector is nearest centroid 1, so one cell
    // holds ~96% of the corpus. Goes through the REAL candidate-pair
    // pipeline (assignment → SNM blocks → block equi-join); red if the
    // block join is ever swapped for within-cell all-pairs, which on
    // this corpus yields ~c² ≈ 160k ordered pairs vs the ~13k bound.
    import spark.implicits._
    val dims = 64
    def basis(c: Int): Array[Float] =
      Array.tabulate(dims)(j => if (j == c) 1f else 0f)
    val cents = (1 to 16).map(c => (c.toLong, basis(c - 1)))
    val corpus = (17 to 416).map { i =>
      (i.toLong, Array.tabulate(dims)(j =>
        if (j == 0) 1f
        else if (j == 1) ((i % 97) + 1) * 1e-4f
        else 0f))
    }
    val emb = (cents ++ corpus).toDF("vec_id", "embedding")
    val pairs = graft.ops.SimilarityQueries.candidatePairsFrom(emb)
    val n = cents.size + corpus.size
    val h = graft.ops.SimilarityQueries.snmHalfWindow
    val cnt = pairs.count()
    // premise guard: the hot cell really formed — an accidental spread
    // across cells would collapse the count and pass vacuously
    assert(cnt >= 1000, s"hot cell did not form (only $cnt pairs)")
    // the bound: ordered pairs ≤ 4·H·n across all cells (each rank has
    // ≤ 3H−1 block-mates, so even the hot cell contributes ≤ ~3·c·H)
    assert(cnt <= 4L * h * n, s"SNM bound violated: $cnt > ${4L * h * n}")
  }
}
