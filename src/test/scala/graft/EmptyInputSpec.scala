package graft

/** Degenerate-corpus robustness sweeps: every declared query must
  * EXECUTE (plan + run + collect) against corpora with the production
  * schemas and (a) ZERO rows, (b) ONE row per table, (c) one all-NULL
  * row, (d) ALL ROWS ONE KEY. At 100 TB none is a corner case — a
  * tenant filter, a date partition, or a predicate pushdown routinely
  * reduces an input to nothing or nearly nothing, a garbage row ships
  * nulls everywhere, and real key distributions concentrate (one hot
  * user, one duplicated document, one crowded ANN cell) — and a query
  * that throws there (a bare `.head` on a collected aggregate, a NULL
  * watermark fed into a non-nullable field, an ANSI DIVIDE_BY_ZERO on
  * a single-sample variance or a zero-edge graph, a file-less layout
  * read-back) is a production outage, not a test artifact. Results are
  * NOT oracle-checked here (DuckDB's gate covers the populated corpus);
  * the contract is narrower: no query may crash.
  *
  * First runs found 13 empty-corpus crashes and 3 one-row crashes
  * across the 195-key surface; each fix is documented at its site and
  * verified populated-identical by the oracle gate.
  */
class EmptyInputSpec extends SparkSpecBase {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Degenerate corpora built this suite, deleted in [[afterAll]] — not
    * via per-call shutdown hooks, which accumulated one hook per corpus
    * and left the corpora (plus any Derby state the JDBC queries wrote
    * under them) on disk for the whole JVM (r14 ADVICE). Cleanup is
    * best-effort per directory: a straggling handle (the embedded Derby
    * engine keeps its database open JVM-wide) must not fail the suite
    * over scratch space. */
  private val scratchCorpora =
    scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  override def afterAll(): Unit =
    try scratchCorpora.foreach { d =>
      try graft.exec.Fs.deleteTree(d)
      catch { case scala.util.control.NonFatal(_) => () }
    } finally super.afterAll()

  /** Mirror of the sf0.001 corpus truncated to `rows` rows per table:
    * same schemas (read from the real footers), same `<table>.parquet`
    * layout. */
  private def truncatedCorpus(rows: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_degen_$rows")
    tables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(rows)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    dir.toString
  }

  private def sweep(dir: String): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).collect(); None }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .take(1).mkString.take(160)
        Some(s"$name: ${e.getClass.getSimpleName}: $msg")
      }
    }

  test("every declared query executes against a zero-row corpus") {
    val failures = sweep(truncatedCorpus(0))
    assert(failures.isEmpty,
      s"queries crash on an empty corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes against a one-row corpus") {
    // one row per table: single-sample variance, zero-edge graphs, an
    // empty codebook (the centroid vec_ids don't exist), self-joins
    // with no partner — the degenerate-but-nonempty class
    val failures = sweep(truncatedCorpus(1))
    assert(failures.isEmpty,
      s"queries crash on a one-row corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes against a single-hot-key corpus") {
    // The fourth production shape after empty/one-row/all-null: ALL ROWS
    // ONE KEY — one user owning every event, one document duplicated
    // across the whole corpus, one hot IVF cell holding every vector,
    // one order carrying every lineitem, one nation holding every
    // customer (the salted join's skew axis). The paths that CLAIM
    // hot-key safety (the salted join, the SNM cell bounds, the
    // cell-retrain pass) must execute here, not just on the uniform
    // corpus; the quantitative no-quadratic-blowup half of the claim is
    // pinned separately by construction (QueriesSpec's SNM hot-cell
    // bound: candidate pairs ≤ 4·H·n through the real pipeline).
    // 300 rows per table keeps even the verification-heavy dedup paths
    // (pairwise Levenshtein over one all-duplicate LSH bucket) bounded
    // while preserving the every-row-collides shape.
    import org.apache.spark.sql.functions.{broadcast, col}
    val hotCols: Map[String, Seq[String]] = Map(
      "events" -> Seq("user_id"),
      "documents" -> Seq("text", "lang", "n_chars"),
      "embeddings" -> Seq("embedding", "label"),
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_custkey"),
      "customer" -> Seq("c_nationkey"))
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_hot")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet").limit(300)
      val out = hotCols.get(t) match {
        case Some(cols) =>
          // collapse the key columns to the first row's values via a
          // 1-row broadcast cross join — type-exact, no driver literals
          val firstVals = broadcast(
            src.limit(1).select(cols.map(c => col(c).as(s"__hot_$c")): _*))
          src.drop(cols: _*).crossJoin(firstVals)
            .select(src.columns.toSeq.map(c =>
              if (cols.contains(c)) col(s"__hot_$c").as(c) else col(c)): _*)
        case None => src
      }
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    // premise guard: the corpus really is one-key — an accidental
    // passthrough would make the whole sweep pass vacuously uniform
    for ((t, cols) <- hotCols; c <- cols) {
      val distinct = spark.read.parquet(s"$dir/$t.parquet")
        .select(col(c)).distinct().count()
      assert(distinct == 1L, s"$t.$c: $distinct distinct values, want 1")
    }
    val failures = sweep(dir.toString)
    assert(failures.isEmpty,
      s"queries crash on a single-hot-key corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes against a unicode-stress corpus") {
    // Fifth production shape: NON-ASCII TEXT. 100 TB of web-scale
    // documents carry every script, emoji/ZWJ sequence, combining
    // mark, zero-width character and fullwidth form there is; a text
    // kernel (BPE counting, n-gram shingles, language id, PII scrub,
    // fingerprinting, chunking) that assumes single-byte or BMP-only
    // input crashes or mis-indexes exactly there — surrogate PAIRS are
    // the classic trap (a codePoint-blind substring splits one). The
    // documents table's text cycles a stress set (n_chars kept
    // consistent, since quality/entropy kernels read both); every
    // other table keeps production data.
    import org.apache.spark.sql.functions.{col, element_at, length, typedLit}
    val uni = Seq(
      "汉字漢字 🚀🔥 مرحبا بالعالم עברית кириллица",
      "Ωμέγα ΔΣΦ ñ é ü ß 日本語のテキスト 한국어 텍스트",
      "​zero​width​ é combining å ring",
      "👨‍👩‍👧‍👦 ZWJ family 🏳️‍🌈 flag 🤯 head",
      "Ａｆｕｌｌｗｉｄｔｈ　ｔｅｘｔ　１２３４５ ♜♞♝♛♚",
      "देवनागरी தமிழ் ไทย አማርኛ ᚠᚢᚦᚨᚱᚲ ᓀᐦᐃᔭᐍᐏᐣ",
      "mixed ASCII and ☃ unicode with tabs\tand\nnewlines inside",
      "🙂")
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_uni")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet").limit(300)
      val out =
        if (t == "documents")
          src.withColumn("text",
              element_at(typedLit(uni), (col("doc_id") % uni.size + 1).cast("int")))
            .withColumn("n_chars", length(col("text")).cast("long"))
        else src
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    val failures = sweep(dir.toString)
    assert(failures.isEmpty,
      s"queries crash on a unicode-stress corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes against a NaN/Infinity numeric corpus") {
    // Sixth shape: GARBAGE NUMERICS. A 100 TB fact table WILL carry
    // NaN and ±Infinity doubles (bad sensors, upstream 0.0/0.0,
    // float overflow) — and ANSI mode turns several otherwise-quiet
    // paths into runtime errors the moment a NaN reaches a cast or an
    // array index. events.value and lineitem's measure columns cycle
    // {NaN, +Inf, -Inf, ±1e308, ±1e19, 0} — ±1e19 pins the
    // HUGE-BUT-FINITE hole the r16 ADVICE named: it survives a
    // double→long range guard sized to Long.MaxValue (±9.22e18 passes
    // |value|≤2.3e20 through a /25 quotient guard) and then overflows
    // the downstream integer multiply (the histogram's bucket*25, the
    // A/B mean's 2*cents*100) unless those guards are sized to the
    // multiply, not the cast; corpus embedding vectors (never
    // the probe vector 0 or the codebook rows 1..16, which keep the
    // normal paths live) get one all-NaN and one Infinity-bearing
    // vector. The contract stays "no query may crash" — NaN in, NaN
    // (or filtered) out, never an exception.
    import org.apache.spark.sql.functions.{col, element_at, lit, transform, typedLit, when}
    val poison =
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        1e308, -1e308, 1e19, -1e19, 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_nan")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet").limit(300)
      val out = t match {
        case "events" =>
          src.withColumn("value",
            element_at(typedLit(poison), (col("event_id") % poison.size + 1).cast("int")))
        case "lineitem" =>
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
            .zipWithIndex.foldLeft(src) { case (df, (c, i)) =>
              df.withColumn(c, element_at(typedLit(poison),
                ((col("l_orderkey") + i) % poison.size + 1).cast("int")))
            }
        case "embeddings" =>
          src.withColumn("embedding",
            when(col("vec_id") === 50,
              transform(col("embedding"), _ => lit(Double.NaN.toFloat)))
            .when(col("vec_id") === 51,
              transform(col("embedding"),
                _ => lit(Double.PositiveInfinity.toFloat)))
            .otherwise(col("embedding")))
        case _ => src
      }
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    val failures = sweep(dir.toString)
    assert(failures.isEmpty,
      s"queries crash on a NaN/Infinity corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes bounded against a timestamp-extremes corpus") {
    // Seventh shape: TIMESTAMP EXTREMES. A 100 TB event log WILL carry
    // corrupted event times — a year-9999 sentinel that leaked out of a
    // null-substitute, an uninitialized epoch-0, a pre-Gregorian
    // garbage parse — and the failure class is NOT (only) a crash: a
    // dense spine generated from min..max of event time
    // (events_gap_fill's sequence) expands to ~70M rows per corrupt
    // row, turning a bounded rollup into an unbounded generate. One
    // bad row must not cost hours of cluster time. So this sweep gates
    // a BUDGET, not just crash-freedom: every query must finish,
    // publish a bounded result (<= 2M rows — the clamped gap_fill
    // spine sits at ~400K, everything else orders of magnitude lower),
    // and no single key may exceed a wall-clock ceiling. events.ts
    // cycles a few rows through year-9999 / epoch-0 / year-1 while the
    // rest keep real times (the one-bad-row-in-sane-data shape);
    // lineitem and orders date columns get the same treatment.
    import org.apache.spark.sql.functions.{col, lit, to_timestamp, when}
    val extremes = Seq("9999-12-31 23:00:00", "1970-01-01 00:00:00",
      "0001-01-01 00:00:00")
    def poisoned(ts: org.apache.spark.sql.Column,
        id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      extremes.zipWithIndex.foldLeft(ts) { case (c, (x, i)) =>
        when(id % 50 === i, to_timestamp(lit(x))).otherwise(c)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_ts")
    tables.foreach { t =>
      val raw = spark.read.parquet(s"$sfDir/$t.parquet").limit(300)
      // normalize event time FIRST (the raw footer may carry ns-long or
      // NTZ encodings — year 9999 does not FIT in nanosecond longs, so
      // the poison must land on the µs-grain TimestampType the engine
      // actually computes on; the written corpus then carries native
      // timestamps, one of the encodings Scans.normalizeTs declares)
      val out = t match {
        case "events" =>
          graft.exec.Scans.normalizeTs(raw)
            .withColumn("ts", poisoned(col("ts"), col("event_id")))
        case "lineitem" =>
          graft.exec.Scans.normalizeTs(raw, "l_shipdate")
            .withColumn("l_shipdate",
              poisoned(col("l_shipdate"), col("l_orderkey")))
        case "orders" =>
          graft.exec.Scans.normalizeTs(raw, "o_orderdate")
            .withColumn("o_orderdate",
              poisoned(col("o_orderdate"), col("o_orderkey")))
        case _ => raw
      }
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    // premise guard: the corrupt rows really landed (both directions)
    val yrs = spark.read.parquet(s"$dir/events.parquet")
      .select(org.apache.spark.sql.functions.year(col("ts")).as("y"))
      .agg(org.apache.spark.sql.functions.min(col("y")).as("lo"),
        org.apache.spark.sql.functions.max(col("y")).as("hi"))
      .head()
    assert(yrs.getInt(0) == 1 && yrs.getInt(1) == 9999,
      s"extreme event times missing: year span ${yrs.getInt(0)}..${yrs.getInt(1)}")
    val rowCap = 2000000L
    val secCap = 120.0
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          // count() first: the cardinality gate must fire BEFORE a
          // collect() would haul an exploded result into the driver
          // (the budget exists precisely for the unbounded-generate
          // class — OOMing the suite is not a diagnosis); under the
          // cap, collect() then evaluates every output column like the
          // other sweeps (count alone lets Catalyst prune a final
          // projection whose expression is the crash)
          val df = fn(spark, dir.toString)
          val n = df.count()
          if (n <= rowCap) df.collect()
          val secs = (System.nanoTime() - t0) / 1e9
          if (n > rowCap)
            Some(f"$name: CARDINALITY $n rows > $rowCap budget " +
              "(unbounded generate from a corrupt timestamp?)")
          else if (secs > secCap)
            Some(f"$name: TIME $secs%.1f s > $secCap%.0f s budget")
          else None
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(160)
          Some(s"$name: ${e.getClass.getSimpleName}: $msg")
        }
    }
    assert(failures.isEmpty,
      s"queries break the timestamp-extremes budget (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }

  test("every declared query executes against an all-null one-row corpus") {
    // one row per table, every column NULL: the garbage-row class — a
    // null key, a null payload, a null string bound for a live JDBC
    // destination. ONE declared expected-abort: jdbc_identity_reseed
    // copies into a live IDENTITY column, and a NULL identity key MUST
    // abort the copy (the reference's KeepIdentity behavior — SQL
    // Server rejects the batch the same way); the abort must be the
    // database's own clean rejection (a java.sql.SQLException root),
    // never a driver type-conversion obscurity or an NPE.
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_null")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      src.limit(1)
        .select(src.schema.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType)
            .as(f.name)): _*)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    scratchCorpora += dir
    val expectedAbort = "jdbc_identity_reseed"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if name == expectedAbort =>
        val thrown = intercept[Throwable] { fn(spark, dir.toString).collect() }
        // somewhere in the cause chain must sit the database's own
        // rejection (Derby nests its internal StandardException BELOW
        // the SQLException, so "deepest cause" is too deep a probe)
        val chain = Iterator.iterate(thrown)(_.getCause)
          .takeWhile(_ != null).toSeq
        assert(chain.exists(_.isInstanceOf[java.sql.SQLException]),
          s"$expectedAbort must abort with the database's own rejection; " +
            s"chain was ${chain.map(_.getClass.getSimpleName).mkString(" <- ")}")
        None
      case (name, fn) =>
        try { fn(spark, dir.toString).collect(); None }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(160)
          Some(s"$name: ${e.getClass.getSimpleName}: $msg")
        }
    }
    assert(failures.isEmpty,
      s"queries crash on an all-null corpus (${failures.size}):\n  " +
        failures.mkString("\n  "))
  }
}
