package graft

import org.apache.spark.sql.functions._
import graft.exec.Scans
import graft.ops.SimilarityQueries

/** Semantic checks on the extension operators (dedup / similarity /
  * text / events) beyond "runs and matches the oracle".
  */
class ExtensionsSpec extends SparkSpecBase {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  /** The engine's tokenizer as SQL text — the tokens every text native
    * and its HOF reference share. */
  private val toks = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"

  test("dedup_exact keeps one representative per distinct text") {
    val docs = Scans.table(spark, sfDir, "documents")
    val distinctTexts = docs.select(col("text")).distinct().count()
    assert(run("dedup_exact").count() == distinctTexts)
  }

  test("jaccard similarities are within [0,1]") {
    val bad = run("dedup_ngram_jaccard")
      .filter(col("jaccard") < 0 || col("jaccard") > 1).count()
    assert(bad == 0)
  }

  test("simhash signatures are 16 hex chars") {
    val bad = run("dedup_simhash")
      .filter(!col("simhash64").rlike("^[0-9a-f]{16}$")).count()
    assert(bad == 0)
  }

  test("minhash lsh pairs are ordered and distinct") {
    val pairs = run("dedup_minhash_lsh")
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(pairs.count() == pairs.distinct().count())
  }

  test("cluster collapse assigns both ends of every candidate pair the same cluster") {
    val clusters = run("dedup_cluster_collapse")
    assert(clusters.filter(col("cluster_id") > col("doc_id")).count() == 0)
    val pairs = run("dedup_minhash_lsh")
    val withA = pairs.join(clusters.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("cluster_id", "ca"), Seq("doc_a"))
    val both = withA.join(clusters.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("cluster_id", "cb"), Seq("doc_b"))
    assert(both.filter(col("ca") =!= col("cb")).count() == 0)
  }

  test("distributed label propagation agrees with driver union-find") {
    import graft.ops.TextQueries
    val pairs = run("dedup_minhash_lsh").select(col("doc_a"), col("doc_b"))
    val viaUnionFind = TextQueries.collapseClusters(pairs)
    val viaPropagation = TextQueries.collapseClusters(pairs, driverMaxEdges = 0L)
    assert(viaUnionFind.exceptAll(viaPropagation).count() == 0 &&
      viaPropagation.exceptAll(viaUnionFind).count() == 0)
  }

  test("distributed collapse converges on a long chain within the log cap") {
    // a 300-node path has diameter 299: plain min-label propagation
    // needs ~300 rounds and would abort on the log-derived cap (~66) —
    // the pointer jump makes the cap sound (red without it)
    import graft.ops.TextQueries
    import spark.implicits._
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = TextQueries.collapseClusters(chain, driverMaxEdges = 0L)
    assert(labels.count() == 300)
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0,
      "every chain node must collapse to the component minimum 0")
  }

  test("verified LSH pairs are a subset of candidates with jaccard >= 0.5") {
    val cand = run("dedup_minhash_lsh").select(col("doc_a"), col("doc_b"))
    val verified = run("dedup_lsh_verified")
    assert(verified.filter(col("jaccard") < 0.5).count() == 0)
    assert(verified.select(col("doc_a"), col("doc_b"))
      .exceptAll(cand).count() == 0)
  }

  test("approx distinct is within the declared error of exact") {
    // the exact count_distinct lives HERE, not in the declared query —
    // at 100 TB the exact pass is the cost the sketch exists to avoid
    val r = run("agg_approx_distinct").collect()(0)
    val e = Scans.table(spark, sfDir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .collect()(0)
    def rel(exact: Long, a: Long) = math.abs(a - exact).toDouble / exact
    assert(rel(e.getAs[Long]("exact_parts"), r.getAs[Long]("approx_parts")) < 0.06)
    assert(rel(e.getAs[Long]("exact_orders"), r.getAs[Long]("approx_orders")) < 0.06)
  }

  test("approx quantiles bracket between exact neighboring percentiles") {
    val approx = run("agg_approx_quantile").collect()
    val exact = Scans.table(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.45)").as("lo50"),
        expr("percentile(value, 0.55)").as("hi50"),
        expr("percentile(value, 0.90)").as("lo95"),
        expr("percentile(value, 0.999)").as("hi95"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getAs[Double]("p50") >= e.getAs[Double]("lo50") &&
        r.getAs[Double]("p50") <= e.getAs[Double]("hi50"),
        s"${r.getString(0)}: p50 out of bracket")
      assert(r.getAs[Double]("p95") >= e.getAs[Double]("lo95") &&
        r.getAs[Double]("p95") <= e.getAs[Double]("hi95"),
        s"${r.getString(0)}: p95 out of bracket")
    }
  }

  test("native cosine_sim expression is registered and bit-equal to the composition") {
    assert(spark.catalog.functionExists("cosine_sim"))
    val emb = Scans.table(spark, sfDir, "embeddings")
    val pairs = emb.as("a").join(emb.as("b"),
      col("b.vec_id") === col("a.vec_id") + 1)
    val mismatches = pairs.select(
        SimilarityQueries.cosine(col("a.embedding"), col("b.embedding")).as("ref"),
        call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("native"))
      .filter(!(col("ref") <=> col("native"))) // bit-equal incl. NULLs
      .count()
    assert(mismatches == 0)
  }

  test("native cosine_sim matches the composition's NULL contract") {
    import spark.implicits._
    // unequal lengths and a null element must both yield NULL, exactly
    // like aggregate(zip_with(...)) over padded/null slots
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .withColumn("b2", when(element_at(col("a"), 1) === 1.0f, col("b")))
    val both = df.select(
      SimilarityQueries.cosine(col("a"), col("b")).as("ref"),
      call_function("cosine_sim", col("a"), col("b")).as("native"))
    assert(both.filter(!(col("ref") <=> col("native"))).count() == 0)
    // the unequal-length row is NULL on both sides
    assert(both.filter(col("native").isNull).count() == 1)
  }

  test("RewriteDotProduct fuses the aggregate(zip_with(...)) idiom") {
    val emb = Scans.table(spark, sfDir, "embeddings")
    val df = emb.select(
      SimilarityQueries.cosine(col("embedding"), col("embedding")).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"),
      s"expected fused dot_product in: $optimized")
    assert(!optimized.contains("aggregate("),
      s"expected no residual lambda aggregate in: $optimized")
  }

  test("RewriteDotProduct is value-invisible (rule off == rule on)") {
    val emb = Scans.table(spark, sfDir, "embeddings")
    val expr = SimilarityQueries.cosine(col("embedding"),
      reverse(col("embedding"))).as("c")
    val withRule = emb.select(expr).collect().map(_.getDouble(0)).toSeq
    val ruleName = graft.functions.RewriteDotProduct.ruleName
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val without = emb.select(expr).collect().map(_.getDouble(0)).toSeq
      assert(withRule == without) // bit-identical fold
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
      case None    => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("RewriteDotProduct leaves a -0.0-seeded fold alone") {
    // the native loops seed at +0.0; fusing a -0.0 seed would flip the
    // sign of an all-zero fold (e.g. empty arrays), so the rule must
    // match +0.0 by raw bits, not numeric == (which treats -0.0 == 0.0)
    import spark.implicits._
    val df = Seq((Seq.empty[Float], Seq.empty[Float]))
      .toDF("a", "b")
      .select(aggregate(
        zip_with(col("a"), col("b"),
          (p, q) => p.cast("double") * q.cast("double")),
        lit(-0.0), (acc, v) => acc + v).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("dot_product"),
      s"-0.0-seeded fold must not fuse:\n$optimized")
    // and the unfused empty-array fold returns the seed verbatim: -0.0
    // (a fused loop would have returned +0.0 — an oracle-visible flip)
    val bits = java.lang.Double.doubleToRawLongBits(
      df.collect()(0).getDouble(0))
    assert(bits == java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("squared-L2 idiom fuses to the native loop and is value-invisible") {
    // the ADC/PQ hot loop: (x-y)*(x-y) folded from 0.0 must fuse to
    // squared_l2 (HOF lambdas never codegen; the fused loop does)
    val emb = Scans.table(spark, sfDir, "embeddings")
    def sq(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) =>
        (p.cast("double") - q.cast("double")) * (p.cast("double") - q.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    val df = emb.select(sq(col("embedding"), reverse(col("embedding"))).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("squared_l2"),
      s"expected fused squared_l2 in: $optimized")
    // bit-identical with the rule excluded (same left-to-right fold)
    val withRule = df.collect().map(_.getDouble(0)).toSeq
    val ruleName = graft.functions.RewriteDotProduct.ruleName
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val without = df.collect().map(_.getDouble(0)).toSeq
      assert(withRule == without)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
      case None    => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
    // the declared PQ queries pick the fusion up with no query changes
    val adc = run("sim_pq_adc_topk").queryExecution.optimizedPlan.toString
    assert(adc.contains("squared_l2"),
      s"ADC distance math not fused:\n${adc.take(2000)}")
    // NULL contract: unequal lengths stay NULL through the fused loop
    import spark.implicits._
    val dirty = Seq((Seq(1.0f, 2.0f), Seq(3.0f))).toDF("a", "b")
    assert(dirty.select(sq(col("a"), col("b")).as("d")).collect()(0).isNullAt(0))
  }

  test("fused dot_product keeps the composition's NULL contract") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),          // 11.0
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f, 5.0f)))    // unequal -> NULL
      .toDF("a", "b")
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val rows = df.select(dot(col("a"), col("b")).as("d")).collect()
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0))
  }

  test("native min_shingle_md5 is registered and bit-equal to the HOF composition") {
    assert(spark.catalog.functionExists("min_shingle_md5"))
    import spark.implicits._
    // seeded generator over an alphabet that exercises every tricky
    // class: ASCII, case-folding, multi-byte (é, Σ, 中), the Turkish İ
    // whose lowercase is TWO code points (lowered length > raw length),
    // and an astral-plane emoji (4-byte UTF-8, surrogate pair in UTF-16)
    val rng = new scala.util.Random(42)
    val alphabet = "abcXYZ 0189éİßΣ中🙂\n\t"
    val tricky = Seq("", "a", "abcdefg", "abcdefgh", "abcdefghi", "ABCDEFGH",
      "İİİİİİİİİİ", "🙂🙂🙂🙂🙂🙂🙂🙂🙂", "ÄÖÜ straße ΣΊΣΥΦΟΣ", " \t\n  ")
    val rand = (1 to 300).map { _ =>
      val n = rng.nextInt(80)
      (1 to n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    def compare(df: org.apache.spark.sql.DataFrame): Unit = {
      val hof = df
        .select(col("doc_id"), length(col("text")).as("len"),
          lower(col("text")).as("lt"))
        .select(col("doc_id"), array_min(expr(
          "transform(sequence(1, greatest(len - 7, 1), 4), i -> md5(substring(lt, i, 8)))"))
          .as("fp"))
      val native = df.select(col("doc_id"),
        call_function("min_shingle_md5", col("text")).as("fp"))
      assert(native.exceptAll(hof).count() == 0 &&
        hof.exceptAll(native).count() == 0)
    }
    compare((tricky ++ rand).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    // and over the real corpus
    compare(Scans.table(spark, sfDir, "documents").select(col("doc_id"), col("text")))
    // NULL in, NULL out — same as the composition
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("hello world")))
      .toDF("doc_id", "text")
      .select(call_function("min_shingle_md5", col("text")).as("fp"))
    assert(withNull.filter(col("fp").isNull).count() == 1)
    // the declared query actually uses the fused expression
    val plan = run("text_fingerprint").queryExecution.optimizedPlan.toString
    assert(plan.contains("min_shingle_md5"),
      s"text_fingerprint not using the native expression:\n${plan.take(2000)}")
    assert(!plan.contains("lambdafunction"),
      s"residual interpreted HOF in text_fingerprint:\n${plan.take(2000)}")
  }

  test("every registered native is executed by the declared key that owns it") {
    // the extension is a precondition of these keys (no built-in
    // fallback), so each native it registers must have a key that runs
    // it — a registered native no key reaches is dead production code
    val owners = Map(
      "cosine_sim" -> "sim_brute_force_topk",
      "minhash_sigs" -> "dedup_minhash_lsh",
      "min_shingle_md5" -> "text_fingerprint",
      "shingle_md5s" -> "text_boilerplate_ngrams",
      "simhash64" -> "dedup_simhash",
      "hash_vectorize64" -> "text_hashing_vectorize",
      "token_entropy" -> "text_entropy_filter",
      "bloom_bits_agg" -> "join_bloom_prefilter",
      "bloom_might_contain" -> "join_bloom_prefilter")
    val registered = spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.functions.")))
      .map(_.name).toSet
    assert(registered == owners.keySet,
      s"registered natives ${registered.toSeq.sorted} != owned natives " +
        owners.keys.toSeq.sorted)
    // every plan a key executes, the driver-side collects inside its
    // body included (bloom_bits_agg runs as one before the probe)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan.treeString + qe.executedPlan.treeString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Unit = assert(org.apache.spark.GraftSparkInternals
      .drainListenerBus(spark.sparkContext, 60000L), "listener bus did not drain")
    spark.listenerManager.register(listener)
    try owners.groupMap(_._2)(_._1).foreach { case (key, natives) =>
      drain()
      plans.clear()
      run(key).collect()
      drain()
      val executed = plans.toArray.mkString("\n")
      // a call, not an alias: dedup_simhash's output column is named
      // simhash64 too
      val missing = natives.filterNot(fn => executed.contains(s"$fn("))
      assert(missing.isEmpty, s"$key executed no plan calling ${missing.mkString(", ")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bloom_might_contain refuses malformed blobs loudly") {
    import spark.implicits._
    val keys = Seq(1L, 2L).toDF("k")
    // too short / misaligned: must fail naming the function, not
    // surface as a BufferUnderflow or divide-by-zero from codegen
    val short = intercept[Exception] {
      keys.select(call_function("bloom_might_contain",
        lit(Array[Byte](0, 0, 0, 1)), col("k"))).collect()
    }
    assert(short.getMessage != null &&
      short.toString.contains("bloom_might_contain") ||
      Option(short.getCause).exists(_.toString.contains("bloom_might_contain")),
      s"wrong error for a short blob: $short")
    // structurally aligned but numHashes out of range: must error, not
    // probe true for every key (a <=0 hash count makes the contains
    // loop vacuous)
    val bogus = java.nio.ByteBuffer.allocate(12).putInt(-7).putLong(0L).array()
    val neg = intercept[Exception] {
      keys.select(call_function("bloom_might_contain", lit(bogus), col("k"))).collect()
    }
    assert(neg.toString.contains("bloom_might_contain") ||
      Option(neg.getCause).exists(_.toString.contains("bloom_might_contain")),
      s"wrong error for a bogus hash count: $neg")
    // and a NULL blob still answers NULL (legal input, not an error)
    val viaNull = keys.select(call_function("bloom_might_contain",
      lit(null).cast("binary"), col("k"))).collect()
    assert(viaNull.forall(_.isNullAt(0)))
  }

  test("text natives carry useICU in expression identity, stable across copy()") {
    import graft.functions.MinShingleMd5
    import org.apache.spark.sql.catalyst.expressions.Literal
    val c = Literal("abc")
    val on = MinShingleMd5(c, 8, 4, useICU = true)
    val off = MinShingleMd5(c, 8, 4, useICU = false)
    // two expressions built under opposite lowering toggles must never
    // compare equal — plan caching / exchange reuse would otherwise
    // substitute one for the other
    assert(on != off && !on.semanticEquals(off),
      "useICU is invisible to expression equality")
    // tree transforms call copy()/withNewChildInternal: the CAPTURED
    // toggle must ride along, never be re-read from live conf
    val rebuilt = on.withNewChildren(Seq(Literal("xyz")))
      .asInstanceOf[MinShingleMd5]
    assert(rebuilt.useICU, "copy() dropped the captured useICU")
  }

  test("fused simhash64 equals the composed explode+votes pipeline, shuffle-free") {
    assert(spark.catalog.functionExists("simhash64"))
    // signature equivalence over the whole corpus: one row-local call
    // vs tokenize → md5 → vote aggregate → per-digit majority assemble
    val fused = Scans.table(spark, sfDir, "documents")
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val halves = Scans.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("th"))
      .select(col("doc_id"),
        expr("cast(conv(substring(th, 1, 8), 16, 10) AS BIGINT)").as("h1"),
        expr("cast(conv(substring(th, 9, 8), 16, 10) AS BIGINT)").as("h2"))
    // the 64 vote sums as sum(CASE) columns over the two 32-bit digest
    // halves (h1 = hex digits 1-8, h2 = 9-16): digit d sits at nibble
    // 8−d of its half, so bit b = 4(d−1)+k is shiftright(h1, 4(8−d)+k)
    // & 1 for d ≤ 8 and shiftright(h2, 4(16−d)+k) & 1 for d ≥ 9
    val votes = (0 until 64).map { b =>
      val d = b / 4 + 1; val k = b % 4
      val (h, shift) = if (d <= 8) ("h1", 4 * (8 - d) + k) else ("h2", 4 * (16 - d) + k)
      expr(s"sum(CASE WHEN (shiftright($h, $shift) & 1L) = 1 THEN 1 ELSE -1 END)").as(s"s_$b")
    }
    val assemble = (1 to 16).map { d =>
      val v = (0 until 4)
        .map(k => s"(CASE WHEN s_${4 * (d - 1) + k} > 0 THEN 1 ELSE 0 END) * ${1 << k}")
        .mkString(" + ")
      s"substring('0123456789abcdef', ($v) + 1, 1)"
    }.mkString("concat(", ", ", ")")
    val composed = halves.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(assemble).as("sig"))
    assert(fused.exceptAll(composed).count() == 0 &&
      composed.exceptAll(fused).count() == 0)
    // a token-less document returns NULL (the composed pipeline drops it)
    import spark.implicits._
    val edge = Seq((1L, "!!! ???"), (2L, "Abc 123")).toDF("doc_id", "text")
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sig"))
      .collect().sortBy(_.getLong(0))
    assert(edge(0).isNullAt(1) && !edge(1).isNullAt(1))
    // the declared query is the row-local path: no Exchange anywhere
    // before the presentation sort, no explode, no aggregate
    val qe = run("dedup_simhash").queryExecution
    val p = qe.executedPlan.toString
    assert(qe.optimizedPlan.toString.contains("simhash64"),
      "dedup_simhash not using the fused expression")
    assert(!p.contains("Generate") && !p.contains("HashAggregate"),
      s"expected a row-local plan:\n${p.take(2000)}")
  }

  test("fused minhash_sigs equals the HOF composition on the corpus + edges") {
    assert(spark.catalog.functionExists("minhash_sigs"))
    def hof(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')").as("tk"))
      .select(col("doc_id"),
        expr("""transform(sequence(1, greatest(size(tk) - 2, 1), 2),
               |  i -> pmod(cast(conv(substring(md5(concat_ws(' ', try_element_at(tk, i), try_element_at(tk, i+1), try_element_at(tk, i+2))), 1, 15), 16, 10) AS BIGINT), 1000000007L))"""
          .stripMargin).as("hs"))
      .select(col("doc_id") +:
        (0 until 8).map(i =>
          expr(s"array_min(transform(hs, h -> (h * ${2 * i + 1}L + ${i}L) % 1000000007L))")
            .as(s"sig_$i")): _*)
    def fused(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), call_function("minhash_sigs", col("text")).as("mh"))
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("mh"), i + 1).as(s"sig_$i")): _*)
    val corpus = Scans.table(spark, sfDir, "documents")
    assert(fused(corpus).exceptAll(hof(corpus)).count() == 0 &&
      hof(corpus).exceptAll(fused(corpus)).count() == 0)
    // edge documents: empty, token-less, 1 token, 2 tokens, 3, 4, 5 —
    // every shingle-bound branch of the sequence/concat_ws contract
    import spark.implicits._
    val edges = Seq((0L, ""), (1L, "!!! ???"), (2L, "one"), (3L, "one two"),
      (4L, "one two three"), (5L, "a b c d"), (6L, "a b c d e"))
      .toDF("doc_id", "text")
    assert(fused(edges).exceptAll(hof(edges)).count() == 0 &&
      hof(edges).exceptAll(fused(edges)).count() == 0)
  }

  test("fused shingle_md5s equals the HOF composition on the corpus + edges") {
    assert(spark.catalog.functionExists("shingle_md5s"))
    def hof(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')").as("tk"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(tk) >= 8
               |  THEN transform(sequence(1, size(tk) - 7),
               |         i -> md5(array_join(slice(tk, i, 8), ' ')))
               |  ELSE cast(array() AS array<string>) END""".stripMargin).as("hs"))
    def fused(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), call_function("shingle_md5s", col("text")).as("hs"))
    val corpus = Scans.table(spark, sfDir, "documents")
    assert(fused(corpus).exceptAll(hof(corpus)).count() == 0 &&
      hof(corpus).exceptAll(fused(corpus)).count() == 0)
    // edges: empty, token-less, exactly 7 tokens (no shingle), exactly 8
    // (one shingle), 9 (two, stride 1), mixed-case + punctuation runs —
    // every branch of the size guard and the lowering
    import spark.implicits._
    val edges = Seq((0L, ""), (1L, "!!! ???"),
      (2L, "a b c d e f g"), (3L, "a b c d e f g h"),
      (4L, "a b c d e f g h i"), (5L, "The QUICK brown-fox:jumps,over 2 lazy DOGS now"))
      .toDF("doc_id", "text")
    assert(fused(edges).exceptAll(hof(edges)).count() == 0 &&
      hof(edges).exceptAll(fused(edges)).count() == 0)
  }

  test("fused hash_vectorize64 equals the HOF composition on the corpus + edges") {
    assert(spark.catalog.functionExists("hash_vectorize64"))
    def native(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextQueries.hashVectorizeProfile(df)
    // the reference: the same profile as a built-in HOF tree — hash
    // every token to a dim, sort, then run-length count (the entropy
    // reference's counting kernel on the hashed-dimension array); only
    // defined on the tokenizer's nonempty domain, because the
    // run-length kernel indexes into the dim array
    def hof(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), expr(
        s"""array_sort(transform($toks,
           |  t -> cast(conv(substring(md5(t), 1, 7), 16, 10) AS bigint) % 64))"""
          .stripMargin).as("st"))
      // run boundaries → per-dim counts + the dim at each run start
      .select(col("doc_id"), expr("size(st)").cast("long").as("n_tokens"),
        col("st"),
        expr("""filter(sequence(1, greatest(size(st), 1)),
               |  i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))"""
          .stripMargin).as("b"))
      .select(col("doc_id"), col("n_tokens"),
        expr("size(b)").cast("long").as("nnz"),
        expr("""zip_with(b,
               |  concat(slice(b, 2, size(b) - 1),
               |         array(CAST(n_tokens + 1 AS INT))),
               |  (lo, hi) -> hi - lo)""".stripMargin).as("counts"),
        expr("transform(b, i -> element_at(st, i))").as("dims"))
      .select(col("doc_id"), col("n_tokens"), col("nnz"),
        round(sqrt(expr(
          "aggregate(counts, 0.0D, (acc, c) -> acc + CAST(c AS DOUBLE) * c)")),
          4).as("l2_norm"),
        expr("""array_max(zip_with(counts, dims,
               |  (c, d) -> struct(c AS c, -d AS negd, d AS dim)))"""
          .stripMargin).as("top"))
      .select(col("doc_id"), col("n_tokens"), col("nnz"), col("l2_norm"),
        col("top.dim").as("top_dim"),
        col("top.c").cast("long").as("top_count"))
    // both paths are only defined on the tokenizer's nonempty domain
    // (the query's filter) — compare there
    val corpus = Scans.table(spark, sfDir, "documents")
      .filter(lower(col("text")).rlike("[a-z0-9]"))
    assert(native(corpus).exceptAll(hof(corpus)).count() == 0 &&
      hof(corpus).exceptAll(native(corpus)).count() == 0)
    // edges: 1 token, repeated token (count > 1 in one dim), many tokens
    // (collisions across all 64 dims), digits-only, mixed-case +
    // punctuation runs, unicode lowering into the token class
    import spark.implicits._
    val edges = Seq((0L, "one"), (1L, "same same same"),
      (2L, (1 to 500).map(i => s"tok$i").mkString(" ")),
      (3L, "123 456 789"), (4L, "The QUICK brown-fox:jumps,over 2 lazy DOGS"),
      (5L, "K elvin K elvin")) // KELVIN SIGN lowers to 'k'
      .toDF("doc_id", "text")
    assert(native(edges).exceptAll(hof(edges)).count() == 0 &&
      hof(edges).exceptAll(native(edges)).count() == 0)
    // the native kernel EXTENDS the contract below the domain filter:
    // a token-less document is the zero vector with no argmax
    val zero = Seq((9L, "!!! ???"), (10L, "")).toDF("doc_id", "text")
    native(zero).collect().foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getDouble(3) == 0.0 && r.isNullAt(4) && r.isNullAt(5),
        s"token-less doc must be the zero vector: $r")
    }
    // and the query's plan is row-local around the fused call: no
    // Generate (explode), no per-row HOF sort surviving
    val p = SparkEntry.queries("text_hashing_vectorize")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("hash_vectorize64"),
      "text_hashing_vectorize not using the fused expression")
    assert(!p.contains("array_sort") && !p.contains("Generate"),
      s"expected the fused row-local plan:\n${p.take(2000)}")
  }

  test("fused token_entropy equals the HOF composition on the corpus + edges") {
    assert(spark.catalog.functionExists("token_entropy"))
    def native(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextQueries.entropyProfile(df)
    // the reference: the same profile as a built-in HOF tree. Token
    // counts go by SORT + RUN-LENGTH, not per-distinct rescans (an
    // array_distinct×filter formulation is O(u·T) string compares per
    // document). greatest() keeps the boundary sequence ascending on
    // token-less docs (sequence(1,0) would DESCEND through index 0);
    // the i=1 disjunct short-circuits, so element_at never sees index
    // 0. Only defined on the tokenizer's nonempty domain, because the
    // run-length kernel indexes into the sorted-token array.
    def hof(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), expr(s"array_sort($toks)").as("st"))
      .select(col("doc_id"), expr("size(st)").cast("long").as("n_tokens"),
        expr("""filter(sequence(1, greatest(size(st), 1)),
               |  i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))"""
          .stripMargin).as("b"))
      .select(col("doc_id"), col("n_tokens"),
        expr("""round(log2(n_tokens) -
               |  aggregate(
               |    zip_with(b,
               |      concat(slice(b, 2, size(b) - 1),
               |             array(CAST(n_tokens + 1 AS INT))),
               |      (lo, hi) -> hi - lo),
               |    0.0D, (acc, c) -> acc + c * log2(c)) / n_tokens,
               |  4)""".stripMargin).as("word_entropy"))
    // both paths are only defined on the tokenizer's nonempty domain
    val corpus = Scans.table(spark, sfDir, "documents")
      .filter(lower(col("text")).rlike("[a-z0-9]"))
    assert(native(corpus).exceptAll(hof(corpus)).count() == 0 &&
      hof(corpus).exceptAll(native(corpus)).count() == 0)
    // edges: 1 token (entropy 0), all-same tokens (entropy 0 over n>1),
    // all-distinct tokens (entropy log2 n), a mixed multiset, digits,
    // unicode lowering into the token class, and a long repetitive doc
    import spark.implicits._
    val edges = Seq((0L, "one"), (1L, "same same same same"),
      (2L, "a b c d e f g h"), (3L, "a a b b b c 1 1 2"),
      (4L, "123 456 123"), (5L, "K elvin K elvin"),
      (6L, (1 to 400).map(i => s"w${i % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    assert(native(edges).exceptAll(hof(edges)).count() == 0 &&
      hof(edges).exceptAll(native(edges)).count() == 0)
    // the native kernel EXTENDS the contract below the domain filter:
    // a token-less document has 0 tokens and NULL (undefined) entropy
    val zero = Seq((9L, "!!! ???"), (10L, "")).toDF("doc_id", "text")
    native(zero).collect().foreach { r =>
      assert(r.getLong(1) == 0L && r.isNullAt(2),
        s"token-less doc must be (0, NULL): $r")
    }
    // spot-check the closed forms the fixture names
    val byId = native(edges).collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(byId(0L) == ((1L, 0.0)) && byId(1L) == ((4L, 0.0)),
      s"degenerate entropies wrong: ${byId(0L)}, ${byId(1L)}")
    assert(byId(2L) == ((8L, 3.0)), s"uniform-8 entropy wrong: ${byId(2L)}")
    // and the query's plan is row-local around the fused call
    val p = SparkEntry.queries("text_entropy_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("token_entropy"),
      "text_entropy_filter not using the fused expression")
    assert(!p.contains("array_sort") && !p.contains("Generate"),
      s"expected the fused row-local plan:\n${p.take(2000)}")
  }

  test("lossless image decode derives dims and features from real decoded pixels") {
    import graft.ops.{MediaRecord, MultimodalQueries}
    import MultimodalQueries.RasterFixtures
    for (id <- Seq(0L, 7L, 13L, 254L, 255L, 9999L)) {
      // png payloads really are PNG containers: magic bytes, not a fake
      assert(RasterFixtures.encode("png", id).take(8).map(_ & 0xff).toSeq ==
        Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a),
        s"doc $id: payload is not a PNG")
      for (fmt <- Seq("png", "bmp", "gif")) {
        val f = MultimodalQueries.decodeImage(
          MediaRecord(id, fmt, RasterFixtures.encode(fmt, id), 0, 0, 3))
        val (w, h) = RasterFixtures.dims(fmt, id)
        assert(f.width == w && f.height == h,
          s"doc $id $fmt: decoded ${f.width}x${f.height}, expected ${w}x$h")
        assert(f.n_bytes == w.toLong * h * 3)
        // mean-channel features match the two-band construction exactly
        val (e0, e1, e2, e3) = RasterFixtures.meanFeatures(fmt, id)
        assert(f.feat_0 == e0 && f.feat_1 == e1 && f.feat_2 == e2 &&
          f.feat_3 == e3, s"doc $id $fmt: feature mismatch")
      }
    }
    // decode failure is loud, not a silent stub fallback
    intercept[IllegalArgumentException] {
      MultimodalQueries.decodeImage(
        MediaRecord(1L, "png", Array[Byte](1, 2, 3), 0, 0, 3))
    }
  }

  test("jpeg decode is real and its features are tolerance-bounded") {
    import graft.ops.{MediaRecord, MultimodalQueries}
    import MultimodalQueries.RasterFixtures
    for (id <- Seq(0L, 7L, 13L, 254L, 255L, 9999L)) {
      val bytes = RasterFixtures.encode("jpeg", id)
      // a real JPEG container: SOI marker, not our fake payload
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
        s"doc $id: payload is not a JPEG")
      // the RAW decoded means land within the declared ±0.02 of the
      // analytic means (the numeric bound behind decodeJpegBounded's
      // 1.0 indicators) — dims and raster size are exact
      val f = MultimodalQueries.decodeImage(
        MediaRecord(id, "jpeg", bytes, 0, 0, 3))
      val (w, h) = RasterFixtures.dims("jpeg", id)
      assert(f.width == w && f.height == h && f.n_bytes == w.toLong * h * 3)
      val (e0, e1, e2, e3) = RasterFixtures.meanFeatures("jpeg", id)
      for ((a, e) <- Seq((f.feat_0, e0), (f.feat_1, e1), (f.feat_2, e2), (f.feat_3, e3)))
        assert(math.abs(a - e) <= 0.02,
          s"doc $id: jpeg mean $a drifted beyond tolerance of $e")
      // and the bounded wrapper therefore reports all-1.0 indicators
      val b = MultimodalQueries.decodeJpegBounded(id)
      assert(b.feat_0 == 1.0 && b.feat_1 == 1.0 && b.feat_2 == 1.0 && b.feat_3 == 1.0)
    }
  }

  test("cosine is 1.0 for identical vectors and symmetric-bounded") {
    val emb = Scans.table(spark, sfDir, "embeddings").limit(20)
    val self = emb.select(
      round(SimilarityQueries.cosine(col("embedding"), col("embedding")), 6)
        .as("c"))
    assert(self.filter(col("c") =!= 1.0).count() == 0)
    val pairs = run("dedup_embedding_cosine")
    assert(pairs.filter(col("cos_sim") < -1.0 || col("cos_sim") > 1.0).count() == 0)
  }

  test("lsh top-k results agree with brute force on shared candidates") {
    val brute = run("sim_brute_force_topk")
      .select(col("vec_id"), col("cos_sim").as("bf")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = run("sim_lsh_topk")
      .select(col("vec_id"), col("cos_sim")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // every LSH hit that brute force ranked must carry the same score
    lsh.foreach { case (id, c) =>
      brute.get(id).foreach(bf => assert(math.abs(bf - c) < 1e-9)) }
  }

  test("ivf top-k results agree with brute force on shared candidates") {
    val brute = run("sim_brute_force_topk")
      .select(col("vec_id"), col("cos_sim").as("bf")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = run("sim_ivf_topk")
      .select(col("vec_id"), col("cos_sim")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, c) =>
      brute.get(id).foreach(bf => assert(math.abs(bf - c) < 1e-9)) }
  }

  test("bloom_might_contain with a NULL literal blob is NULL, not a crash") {
    // a foldable-but-NULL blob passes analysis (BinaryType literal); the
    // expression must evaluate to NULL per null semantics — building the
    // codegen used to force deserialization of the null blob and NPE
    // before a single row ran
    val rows = spark.range(3)
      .selectExpr("bloom_might_contain(CAST(NULL AS BINARY), id) AS hit")
      .collect()
    assert(rows.length == 3 && rows.forall(_.isNullAt(0)))
  }

  test("cosine_sim accepts double arrays like the composed fallback") {
    // the zip_with/aggregate composition widens any numeric element to
    // double, so the native must too — otherwise a query over a
    // double-array column fails analysis where the composition scores
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1f, 2f, 3f)))
      .toDF("d", "f")
    val r = df.select(
      expr("cosine_sim(d, cast(f as array<double>))").as("dd"),
      expr("cosine_sim(d, f)").as("df"),
      expr("cosine_sim(f, f)").as("ff")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("quality-score ratios stay BIGINT on documents past the INT cliff") {
    // 2 * punct_count * 10^6 overflows INT at 1074 punctuation chars
    // (≈7 KB of prose) — under the session's ANSI mode the old
    // INT-typed chain THREW on such a document while the DuckDB
    // oracle's native BIGINT length() succeeded; the shared exprs must
    // evaluate, and exactly (all-punct doc → ratio 1, stopword-only
    // doc → ratio 1)
    import spark.implicits._
    val row = Seq(
      ("!" * 5000,                          "allpunct"),
      (Seq.fill(2000)("the").mkString(" "), "allstop"))
      .toDF("text", "kind")
      .select(col("kind"), graft.ops.TextQueries.punctRatioExpr.as("pr"),
        graft.ops.TextQueries.stopwordRatioExpr.as("sr"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(row("allpunct")._1 == 1.0)
    assert(row("allstop")._2 == 1.0)
  }

  test("sessionization conserves events and durations are non-negative") {
    val events = Scans.table(spark, sfDir, "events")
    val sessions = run("events_sessionize")
    assert(sessions.agg(sum(col("n_events"))).collect()(0).getLong(0)
      == events.count())
    assert(sessions.filter(col("duration_ms") < 0).count() == 0)
    // session gap property: every session is shorter than it could be if
    // a >30min gap had been missed — spot-check max intra-session gap
    val viol = sessions.filter(
      col("duration_ms") > lit(31L * 24 * 3600 * 1000)).count()
    assert(viol == 0)
  }

  test("windowed aggregation conserves events") {
    val events = Scans.table(spark, sfDir, "events")
    val agg = run("events_window_agg")
    assert(agg.agg(sum(col("n_events"))).collect()(0).getLong(0)
      == events.count())
  }

  test("streaming windowed agg matches batch on the same data") {
    val events = Scans.table(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val streamed = graft.streaming.EventStreams.windowedAgg(events)
      .orderBy(col("window_start"), col("event_type"))
    val batch = run("events_window_agg")
      .select(col("window_start"), col("event_type"), col("n_events"))
      .orderBy(col("window_start"), col("event_type"))
    val a = streamed.select(col("window_start"), col("event_type"), col("n_events"))
      .collect().toSeq
    val b = batch.collect().toSeq
    assert(a == b)
  }

  test("streaming sliding-window agg matches the batch query on the same data") {
    val events = Scans.table(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val streamed = graft.streaming.EventStreams.slidingWindowAgg(events)
      .orderBy(col("window_start_s")).collect().toSeq
    val batch = run("events_sliding_window")
      .orderBy(col("window_start_s")).collect().toSeq
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionization conserves events") {
    import spark.implicits._
    val events = Scans.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .as[(Long, Long)]
    val sessions = graft.streaming.EventStreams.sessionize(events)
    assert(sessions.agg(sum(col("nEvents"))).collect()(0).getLong(0)
      == events.count())
  }

  test("multimodal decode preserves every record with full metadata") {
    val media = run("multimodal_decode")
    val docs = Scans.table(spark, sfDir, "documents")
    // five frames per document: the stub 'video' record + one REAL
    // ImageIO-decoded record per still-image format
    assert(media.count() == 5 * docs.count())
    Seq("video", "png", "bmp", "gif", "jpeg").foreach { mt =>
      assert(media.filter(col("media_type") === mt).count() == docs.count(),
        s"missing $mt records")
    }
    assert(media.filter(col("n_bytes") <= 0).count() == 0)
    assert(media.filter(col("feat_0") < 0 || col("feat_0") > 1).count() == 0)
  }

  test("batch top-k: per-query ranks are dense and similarity-monotone") {
    val rows = run("sim_batch_topk").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq ==
        (1L to byRank.size).toSeq, s"query $q: ranks not dense")
      val sims = byRank.map(_.getAs[Double]("cos_sim")).toSeq
      assert(sims == sims.sorted.reverse, s"query $q: not similarity-ordered")
      // a query's neighbors never include itself or another query
      assert(byRank.forall(_.getAs[Long]("vec_id") >= 5))
    }
  }

  test("incremental dedup partitions the new batch into dupes + survivors") {
    val r = run("dedup_incremental").collect()(0)
    val (nNew, nDupes, nSurv) = (r.getAs[Long]("n_new"),
      r.getAs[Long]("n_dupes"), r.getAs[Long]("n_survivors"))
    assert(nNew == nDupes + nSurv)
    // the corpus genuinely exercises both outcomes at this SF
    assert(nDupes > 0, "no near-dups found against history — weak fixture?")
    assert(nSurv > 0, "everything deduped — weak fixture?")
  }

  test("unigram perplexity is exp(cross-entropy) and positive per doc") {
    val rows = run("text_unigram_perplexity").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      val ppl = r.getAs[Double]("perplexity")
      // every token has corpus probability < 1, so CE > 0 and PPL > 1;
      // the two columns are one contract: ppl = exp(ce) (up to rounding)
      assert(ce > 0.0 && ppl > 1.0)
      assert(math.abs(ppl - math.exp(ce)) / ppl < 0.01,
        s"perplexity $ppl drifted from exp($ce)")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("persisted state paths live beside the corpus unless relocated") {
    import graft.ops.{SimilarityQueries, TextQueries}
    // default: pipeline state (fingerprint index, IVF layout) belongs
    // beside the data it indexes; the conf relocates it for read-only
    // corpus storage, keyed so distinct corpora never collide
    val conf = spark.conf
    val (fp, ivf) = (conf.get("graft.fp.index.dir"), conf.get("graft.ivf.layout.dir"))
    try {
      conf.unset("graft.fp.index.dir")
      conf.unset("graft.ivf.layout.dir")
      assert(TextQueries.fpIndexPath(spark, "/data/corpus") ==
        "/data/corpus/_graft_fp_index")
      assert(SimilarityQueries.ivfLayoutPath(spark, "/data/corpus") ==
        "/data/corpus/_graft_ivf_layout")
    } finally {
      conf.set("graft.fp.index.dir", fp)
      conf.set("graft.ivf.layout.dir", ivf)
    }
    assert(TextQueries.fpIndexPath(spark, "/a") !=
      TextQueries.fpIndexPath(spark, "/b"))
    assert(SimilarityQueries.ivfLayoutPath(spark, "/a") !=
      SimilarityQueries.ivfLayoutPath(spark, "/b"))
  }

  test("persisted state falls back to scratch when the corpus is unwritable") {
    import graft.ops.{PersistedState, TextQueries}
    import spark.implicits._
    // no relocation conf + an unwritable beside-the-corpus default
    // (parent is a FILE) must degrade to scratch, not fail the query
    val conf = spark.conf
    val fp = conf.get(PersistedState.FpIndexDirKey)
    val blocker = java.nio.file.Files.createTempFile("graft_block", ".dat").toString
    try {
      conf.unset(PersistedState.FpIndexDirKey)
      val history = Seq(1L -> "alpha bravo charlie delta").toDF("doc_id", "text")
      val actual = TextQueries.ensureFpIndex(spark, blocker,
        TextQueries.fingerprintFrame(history))
      assert(actual == PersistedState.scratchFallback(blocker, "fp_index"))
      assert(spark.read.parquet(actual).count() == 1)
    } finally conf.set(PersistedState.FpIndexDirKey, fp)
  }

  test("incremental dedup index grows per ingest: batch 2 dedups against batch 1") {
    import graft.ops.TextQueries
    // a fresh index in scratch, seeded from two history docs
    val root = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val indexPath = s"$root/_graft_fp_index"
    def docs(rows: (Long, String)*) = {
      import spark.implicits._
      rows.toSeq.toDF("doc_id", "text")
    }
    val history = docs(1L -> "alpha bravo charlie delta echo foxtrot",
      2L -> "golf hotel india juliet kilo lima")
    TextQueries.appendToFpIndex(TextQueries.fingerprintFrame(history), indexPath)
    // batch 1: one dupe of history doc 1, one genuinely new doc
    val b1 = docs(10L -> "alpha bravo charlie delta echo foxtrot",
      11L -> "november oscar papa quebec romeo sierra")
    val s1 = TextQueries.ingestBatch(spark, b1, indexPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == Set(11L), s"batch 1 survivors: $s1")
    // batch 2: a dupe of batch 1's SURVIVOR (only the index growth can
    // catch it — history never contained doc 11) plus one new doc
    val b2 = docs(20L -> "november oscar papa quebec romeo sierra",
      21L -> "tango uniform victor whiskey xray yankee")
    val s2 = TextQueries.ingestBatch(spark, b2, indexPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 == Set(21L), s"batch 2 survivors: $s2")
    // the index grew by APPENDED segments — nothing was rewritten
    assert(spark.read.parquet(indexPath).count() >= 4)
  }

  test("kmeans training inertia decreases monotonically over 3 rounds") {
    import graft.ops.SimilarityQueries
    val emb = Scans.table(spark, sfDir, "embeddings")
    var codebook = SimilarityQueries.kmeansSeeds(spark, sfDir)
    val inertias = (1 to 3).map { _ =>
      val assigned = SimilarityQueries.kmeansAssign(emb, codebook)
      val inertia = assigned.agg(sum(lit(1.0) - col("cs")))
        .collect()(0).getDouble(0)
      codebook = SimilarityQueries.kmeansUpdate(assigned)
      inertia
    }
    // Lloyd's with the mean-direction update never worsens the cosine
    // objective; 6-dp rounding allows only epsilon wobble
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-4, s"inertia rose between rounds: $inertias")
    }
    assert(inertias.last < inertias.head, s"training made no progress: $inertias")
    // the declared query reports the same final state
    val rows = run("sim_kmeans_train").collect()
    assert(rows.nonEmpty && rows.map(_.getAs[Long]("n_members")).sum ==
      Scans.table(spark, sfDir, "embeddings").count(),
      "every vector must belong to exactly one cell")
  }

  test("ADC top-k recalls brute-force neighbors and orders by distance") {
    val adc = run("sim_pq_adc_topk").collect()
    assert(adc.map(_.getAs[Long]("rank")).toSeq == (1L to adc.size),
      "ranks not dense")
    val dists = adc.map(_.getAs[Double]("adc_dist")).toSeq
    assert(dists == dists.sorted, "not distance-ordered")
    assert(dists.forall(_ >= 0.0))
    // recall vs the exact scan: PQ with M=8 and a k=4 fixture
    // sub-codebook is a deliberately coarse 8-byte sketch, so the bound
    // is weak — but a DISJOINT result would mean the LUT/code wiring is
    // broken (measured overlap at this SF: 1..2 of 10)
    val exact = run("sim_brute_force_topk").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val picks = adc.map(_.getAs[Long]("vec_id")).toSeq
    assert(picks.count(exact.contains) >= 1,
      s"ADC top-10 disjoint from brute force: $picks vs $exact")
    // the stronger, fixture-robust property: ADC's picks must be
    // genuinely closer to the query (true squared L2) than the corpus
    // average — the 8-byte sketch RANKS, it doesn't sample
    val emb = Scans.table(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val trueDist = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), expr(
        """aggregate(zip_with(embedding, qv,
          |  (x, y) -> (cast(x AS double) - cast(y AS double))
          |            * (cast(x AS double) - cast(y AS double))),
          |  cast(0 AS double), (a, v) -> a + v)""".stripMargin).as("d"))
    val corpusMean = trueDist.agg(avg(col("d"))).collect()(0).getDouble(0)
    val pickMean = trueDist.filter(col("vec_id").isin(picks: _*))
      .agg(avg(col("d"))).collect()(0).getDouble(0)
    assert(pickMean < corpusMean * 0.95,
      s"ADC picks no closer than random: picks=$pickMean corpus=$corpusMean")
  }

  test("PQ sub-quantizer training agrees with the encode's code assignment") {
    // the (subspace, code) membership stats of sim_pq_train must equal
    // sim_pq_quantize's rows exactly — training updates the centroids
    // OF the encode's own assignment, never a different one
    val enc = run("sim_pq_quantize").collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("sum_vec_ids"))).toMap
    val trained = run("sim_pq_train").collect()
    assert(trained.nonEmpty)
    trained.foreach { r =>
      val key = (r.getAs[Long]("subspace"), r.getAs[Long]("code"))
      assert(enc(key) ==
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("sum_vec_ids")),
        s"membership drifted for $key")
      assert(r.getAs[Double]("centroid_norm") >= 0.0)
    }
    // every subspace's codes partition the corpus
    val total = Scans.table(spark, sfDir, "embeddings").count()
    trained.groupBy(_.getAs[Long]("subspace")).foreach { case (m, rs) =>
      assert(rs.map(_.getAs[Long]("n_vectors")).sum == total,
        s"subspace $m does not partition the corpus")
    }
  }

  test("IVF-PQ serving is consistent with plain ADC and only loses by pruning") {
    val full = run("sim_pq_adc_topk").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("adc_dist")).toMap
    val pruned = run("sim_ivf_pq_topk").collect()
    assert(pruned.map(_.getAs[Long]("rank")).toSeq == (1L to pruned.size),
      "ranks not dense")
    // the probed candidate set is a SUBSET of the full corpus, so the
    // pruned best can never beat the exhaustive ADC best…
    val fullBest = full.values.min
    assert(pruned.head.getAs[Double]("adc_dist") >= fullBest - 1e-9)
    // …and wherever the two paths return the same vector, the ADC
    // distance must be bit-identical (same codes, same LUT)
    pruned.foreach { r =>
      full.get(r.getAs[Long]("vec_id")).foreach { d =>
        assert(d == r.getAs[Double]("adc_dist"),
          s"ADC disagrees for vec ${r.getAs[Long]("vec_id")}")
      }
    }
  }

  test("sequence packing conserves tokens and numbers packs densely per source") {
    val rows = run("pipeline_pack_sequences").collect()
    val totalTokens = Scans.table(spark, sfDir, "documents")
      .select(expr("size(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''))")
        .cast("long").as("n")).agg(sum(col("n"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("sum_tokens")).sum == totalTokens,
      "packing must assign every token exactly once")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ids = rs.map(_.getAs[Long]("pack_id")).sorted.toSeq
      assert(ids == (0L until ids.size).toSeq, s"$src: pack ids not dense: $ids")
    }
  }

  test("train split is exhaustive, disjoint-by-construction and ~80/10/10") {
    val rows = run("pipeline_train_split").collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val total = Scans.table(spark, sfDir, "documents").count()
    assert(rows.values.sum == total, "splits must cover every document exactly once")
    assert(rows.keySet == Set("train", "val", "test"))
    val trainFrac = rows("train").toDouble / total
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
    // determinism: the assignment is a pure function of the key
    assert(run("pipeline_train_split").collect().toSeq ==
      run("pipeline_train_split").collect().toSeq)
  }

  test("stratified sample stays within each stratum at ~10%") {
    val rows = run("pipeline_stratified_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_total"))
    }
    val total = rows.map(_.getAs[Long]("n_total")).sum
    val sampled = rows.map(_.getAs[Long]("n_sampled")).sum
    val frac = sampled.toDouble / total
    assert(frac > 0.05 && frac < 0.15, s"sample fraction $frac")
  }

  test("bloom filter has no false negatives and merges across partitions") {
    import spark.implicits._
    assert(spark.catalog.functionExists("bloom_bits_agg"))
    assert(spark.catalog.functionExists("bloom_might_contain"))
    // deterministic key set, deliberately scattered across 8 partitions
    val keys = (0 until 500).map(i => i * 2654435761L % 1000003L)
    val df = keys.toDF("k").repartition(8)
    val blob = df.agg(expr("bloom_bits_agg(k, 65536, 5)")).head().getAs[Array[Byte]](0)
    // merge across partitions ≡ single-partition build (OR is the merge)
    val blob1 = keys.toDF("k").coalesce(1)
      .agg(expr("bloom_bits_agg(k, 65536, 5)")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(blob, blob1),
      "partition-merged blob differs from single-partition build")
    // no false negatives: every inserted key probes true
    val probed = keys.toDF("k")
      .filter(call_function("bloom_might_contain", lit(blob), col("k")))
      .count()
    assert(probed == keys.distinct.size.toLong, "bloom dropped an inserted key")
    // false-positive sanity at ~10 bits/key: well under 5% on fresh keys
    val fresh = (0 until 2000).map(i => 7000000000L + i * 104729L)
    val fp = fresh.toDF("k")
      .filter(call_function("bloom_might_contain", lit(blob), col("k")))
      .count()
    assert(fp < 100, s"false-positive rate too high: $fp/2000")
    // null keys: skipped on build, null on probe (semi-join semantics)
    val withNull = spark.sql("SELECT CAST(NULL AS BIGINT) AS k")
      .union(Seq(keys.head).toDF("k"))
    val blobN = withNull.agg(expr("bloom_bits_agg(k, 65536, 5)"))
      .head().getAs[Array[Byte]](0)
    assert(withNull.filter(
      call_function("bloom_might_contain", lit(blobN), col("k"))).count() == 1)
  }

  test("join_bloom_prefilter equals the plain semi join, bloom invisible") {
    val viaBloom = run("join_bloom_prefilter").collect().toSeq
    val sup = Scans.table(spark, sfDir, "supplier")
      .filter(col("s_acctbal") > 5000).select(col("s_suppkey"))
    val plain = Scans.table(spark, sfDir, "lineitem")
      .join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_suppkey")).collect().toSeq
    assert(viaBloom == plain)
    assert(viaBloom.nonEmpty)
  }

  test("zorder layout is result-invisible and writes a multi-bucket layout") {
    val viaLayout = run("pipeline_zorder_layout").collect().toSeq
    val sdt = Scans.table(spark, sfDir, "lineitem").schema("l_shipdate").dataType
    val plain = Scans.table(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast(sdt) &&
        col("l_shipdate") < lit("1996-01-01").cast(sdt) &&
        col("l_suppkey").between(1L, 25L))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_suppkey")).collect().toSeq
    assert(viaLayout == plain)
    assert(viaLayout.nonEmpty)
    // the layout really is multi-dimensional: several z_bucket dirs
    // exist (pruning has something to prune) and every row is conserved
    // the ONE destination-root definition (per-process since r10) — an
    // inline copy here would silently probe a path the query no longer
    // writes
    val out = graft.ops.PipelineQueries.tmp(
      s"zorder_${graft.ops.PersistedState.corpusKey(sfDir)}")
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("z_bucket="))
    assert(dirs.length > 1, s"degenerate single-bucket layout: ${dirs.length}")
    assert(spark.read.parquet(out).count() ==
      Scans.table(spark, sfDir, "lineitem").count())
  }

  test("value histogram conserves events and stays in range") {
    val rows = run("events_value_histogram").collect()
    val total = Scans.table(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total)
    // value ∈ [0, 490] ⇒ buckets within [0, 19]
    assert(rows.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0 && b <= 19 })
    assert(rows.forall(r => r.getAs[Long]("bucket_lo") == r.getAs[Long]("bucket") * 25))
  }

  test("sliding windows expand each event into exactly window/slide copies") {
    val rows = run("events_sliding_window").collect()
    val total = Scans.table(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == 4 * total,
      "1h window sliding every 15m must count each event in exactly 4 windows")
    // starts are 15-minute aligned epoch seconds
    assert(rows.forall(_.getAs[Long]("window_start_s") % 900 == 0))
  }

  test("per-day HLL sketches are duplicate-insensitive (no pre-distinct needed)") {
    // the premise that lets the sketch path skip the (day,user)
    // distinct — and with it the only corpus-proportional shuffle —
    // pinned as a property, not a comment: aggregating raw events and
    // aggregating deduped (day,user) pairs must yield the SAME per-day
    // estimate for every day (duplicate insertions cannot move an HLL
    // register, so the sketch state is a function of the distinct set)
    val ev = Scans.table(spark, sfDir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
    def daily(src: org.apache.spark.sql.DataFrame): Map[String, Long] =
      src.groupBy(col("d"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("est"))
        .collect().map(r => r.get(0).toString -> r.getAs[Long]("est")).toMap
    val raw = daily(ev)
    val deduped = daily(ev.distinct())
    assert(raw.nonEmpty && raw == deduped,
      "per-day sketch estimates differ between raw and deduped inputs")
  }

  test("HLL dau/wau/mau estimates are within 10% of the exact sliding-distinct") {
    // the sketch path (events_dau_wau_mau_hll) carries no cross-engine
    // oracle — DuckDB's HLL is a different sketch — so ITS gate is this
    // bound against the exact key, the same estimate-vs-exact treatment
    // agg_approx_distinct gets. lgConfigK=12 ⇒ ~1.6% typical relative
    // error; 10% is the loud-failure line.
    val exact = run("events_dau_wau_mau").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau")))
      .toMap
    val est = run("events_dau_wau_mau_hll").collect()
    assert(est.nonEmpty)
    assert(est.map(_.getString(0)).toSet == exact.keySet,
      "sketch and exact day spines differ")
    def rel(e: Long, a: Long): Double = math.abs(a - e).toDouble / math.max(e, 1L)
    est.foreach { r =>
      val (d, w, m) = exact(r.getString(0))
      assert(rel(d, r.getAs[Long]("dau_est")) <= 0.10,
        s"dau estimate off >10% on ${r.getString(0)}")
      assert(rel(w, r.getAs[Long]("wau_est")) <= 0.10,
        s"wau estimate off >10% on ${r.getString(0)}")
      assert(rel(m, r.getAs[Long]("mau_est")) <= 0.10,
        s"mau estimate off >10% on ${r.getString(0)}")
    }
  }
}
