package graft

import org.apache.spark.sql.functions._
import graft.exec.{Dest, DerbyEnv, Pipeline, Retry, Scans}
import graft.meta.Catalog
import graft.model._
import graft.plan.{PartitionStrategy, PlanConfig}

/** End-to-end copy-pipeline tests — the analog of the reference's e2e CI
  * copy + rowcount reconciliation (`.github/workflows/main.yml:20-27`,
  * `SmartBulkCopy.cs:296-339`), against a tmp destination directory.
  */
class PipelineSpec extends SparkSpecBase {

  private def destDir =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  test("full copy: partitioned rowstore source reconciles") {
    val src = Catalog.collect(spark, sfDir, "lineitem")
    val dst = src.copy(foreignKeyCount = 0, secondaryIndexCount = 0, history = None)
    val r = Pipeline.copyTable(spark, sfDir, destDir, src, dst,
      PlanConfig(batchSize = 1000))
    assert(r.ok, s"reconciliation failed: $r")
    assert(r.sliceKind == "physical" && r.workItems == 7)
  }

  test("full copy: logical slices reconcile and land ordered") {
    val src = Catalog.collect(spark, sfDir, "orders")
    val dst = src.copy(storage = Storage.Heap, foreignKeyCount = 0,
      secondaryIndexCount = 0, history = None)
    val d = destDir
    val r = Pipeline.copyTable(spark, sfDir, d, src, dst,
      PlanConfig(batchSize = 100, strategy = PartitionStrategy.Count(5)))
    assert(r.ok && r.workItems == 5 && r.sliceKind == "logical")
    // destination content equals source content (value-level, not count)
    val a = Scans.table(spark, sfDir, "orders")
    val b = spark.read.parquet(s"$d/orders.parquet")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("small table takes the bypass and still reconciles") {
    val src = Catalog.collect(spark, sfDir, "region")
    // cleanDest, not src.copy(): region is REFERENCED by fk_nation_region,
    // and the reference's disjunctive FK count (parent OR referenced,
    // TableInfoCollector.cs:487-496) rightly aborts a destination another
    // table's FK points at — the real copy path strips destination FKs
    val r = Pipeline.copyTable(spark, sfDir, destDir, src,
      Pipeline.cleanDest(src, src.storage), PlanConfig())
    assert(r.ok && r.workItems == 1 && r.sliceKind == "none")
  }

  test("wildcard table-list expansion: include, exclude, distinct") {
    val all = Pipeline.expandTableList(Seq("*"))
    assert(all == Catalog.tableNames)
    assert(Pipeline.expandTableList(Seq("*", "-:e*")) ==
      Catalog.tableNames.filterNot(_.startsWith("e")))
    assert(Pipeline.expandTableList(Seq("lineitem", "+:orders", "lineitem")) ==
      Seq("lineitem", "orders"))
    assert(Pipeline.expandTableList(Seq("no_match_*")) == Nil)
  }

  test("table-list fold is ORDERED: exclude-then-re-include differs from exclude-last") {
    // reference semantics (SmartBulkCopy.cs:870-904): entries fold in
    // sequence over a List, then Distinct. The same three entries give
    // different results depending on order:
    val reIncluded = Pipeline.expandTableList(Seq("*", "-:e*", "+:events"))
    assert(reIncluded.contains("events") && !reIncluded.contains("embeddings"))
    val excludeLast = Pipeline.expandTableList(Seq("*", "+:events", "-:e*"))
    // List.Remove drops only the FIRST occurrence: events was added
    // twice ("*" then "+:events"), so one exclusion leaves it present
    assert(excludeLast.contains("events") && !excludeLast.contains("embeddings"))
    val excludedOnce = Pipeline.expandTableList(Seq("*", "-:events", "+:events", "-:events"))
    assert(!excludedOnce.contains("events"),
      "add/remove must cancel pairwise, not set-wise")
    // an exclude before anything is added is a no-op (nothing to remove)
    assert(Pipeline.expandTableList(Seq("-:orders", "*")).contains("orders"))
    assert(!Pipeline.expandTableList(Seq("*", "-:orders")).contains("orders"))
    // literal names append unchecked (the reference adds the quoted name
    // without consulting the catalog; a missing table fails at analysis)
    assert(Pipeline.expandTableList(Seq("no_such_table")) == Seq("no_such_table"))
  }

  test("retry: transient errors retry, fatal errors rethrow") {
    var n = 0
    val r = Retry.withRetry(3) {
      n += 1; if (n < 3) throw new java.io.IOException("transient"); n }
    assert(r == 3)
    var m = 0
    intercept[IllegalStateException] {
      Retry.withRetry(3) { m += 1; throw new IllegalStateException("fatal") }
    }
    assert(m == 1) // no retry on non-transient
    intercept[Retry.RetriesExhausted] {
      Retry.withRetry(2) { throw new java.io.IOException("always") }
    }
  }

  test("retry: JDBC SQLState/vendor-code whitelist classifies correctly") {
    // driver-classified transient type retries
    var a = 0
    assert(Retry.withRetry(3) { a += 1
      if (a < 2) throw new java.sql.SQLTransientConnectionException("conn lost")
      a } == 2)
    // vendor code from the reference's whitelist (Azure throttling 40613)
    var b = 0
    assert(Retry.withRetry(3) { b += 1
      if (b < 2) throw new java.sql.SQLException("unavailable", "S0001", 40613)
      b } == 2)
    // SQLState class 40 (deadlock) wrapped in a Spark-style outer
    // exception: the cause chain is unwrapped before classifying
    var c = 0
    assert(Retry.withRetry(3) { c += 1
      if (c < 2) throw new RuntimeException("Job aborted.",
        new java.sql.SQLException("deadlock victim", "40001", 1205))
      c } == 2)
    // JDBC batch failures chain the real error via getNextException,
    // not getCause (BatchUpdateException) — must still classify
    var d = 0
    assert(Retry.withRetry(3) { d += 1
      if (d < 2) {
        val batch = new java.sql.BatchUpdateException(
          "batch failed", null, 0, Array.empty[Int])
        batch.setNextException(
          new java.sql.SQLException("deadlock victim", "40001", 1205))
        throw batch
      }
      d } == 2)
    // non-transient: syntax error rethrows immediately, no retry
    var m = 0
    intercept[java.sql.SQLSyntaxErrorException] {
      Retry.withRetry(3) { m += 1
        throw new java.sql.SQLSyntaxErrorException("bad sql", "42X01") }
    }
    assert(m == 1)
    // permanent file errors fail fast even wrapped: a missing source
    // never heals by retrying the job
    var f = 0
    intercept[RuntimeException] {
      Retry.withRetry(3) { f += 1
        throw new RuntimeException("Job aborted.",
          new java.io.FileNotFoundException("gone.parquet")) }
    }
    assert(f == 1)
    // a permanent root DOMINATES a transient-looking wrapper: Hadoop
    // wraps FileNotFound in a generic IOException, and IOException alone
    // is whitelisted — the chain walk must still fail fast
    var g = 0
    intercept[java.io.IOException] {
      Retry.withRetry(3) { g += 1
        throw new java.io.IOException("read failed",
          new java.io.FileNotFoundException("gone.parquet")) }
    }
    assert(g == 1)
  }

  test("retry: transient SQL verdict beats the file carve-out; local FS fails fast") {
    // MySQL's CommunicationsException shape: a SQLState-08 connection
    // error WRAPPING an EOFException — the SQL layer's explicit
    // transient verdict must win over the EOF fail-fast carve-out, or
    // the exact connection-severed family the whitelist exists to retry
    // fails on attempt 1
    var a = 0
    assert(Retry.withRetry(3) { a += 1
      if (a < 2) throw new java.sql.SQLException(
        "Can not read response from server", "08S01",
        new java.io.EOFException("unexpected end of stream"))
      a } == 2)
    // permanent members of the IOException family never heal: disk-full
    // and access-denied must not burn maxAttempts full jobs
    var b = 0
    intercept[java.io.IOException] {
      Retry.withRetry(3) { b += 1
        throw new java.io.IOException("No space left on device") }
    }
    assert(b == 1)
    var c = 0
    intercept[java.nio.file.AccessDeniedException] {
      Retry.withRetry(3) { c += 1
        throw new java.nio.file.AccessDeniedException("/readonly/dest") }
    }
    assert(c == 1)
  }

  test("retry: message heuristic is case-insensitive; maxAttempts >= 1") {
    var a = 0
    assert(Retry.withRetry(3) { a += 1
      if (a < 2) throw new RuntimeException("Transient network error")
      a } == 2)
    // maxAttempts = 0 would silently skip the body; must refuse loudly
    intercept[IllegalArgumentException] { Retry.withRetry(0) { 42 } }
  }

  test("retry: wrapped permanent roots fail fast; negated 'transient' is permanent") {
    // disk-full WRAPPED in a generic IOException (the Hadoop/Parquet
    // commit shape): the wrapper's default-transient verdict must not
    // override the root — retrying 5 full jobs against a full disk is
    // the burn the carve-outs exist to prevent
    var a = 0
    intercept[java.io.IOException] {
      Retry.withRetry(5) { a += 1
        throw new java.io.IOException("error committing file",
          new java.io.IOException("No space left on device")) }
    }
    assert(a == 1, s"wrapped disk-full was retried $a times")
    // AccessDenied wrapped the same way
    var b = 0
    intercept[java.io.IOException] {
      Retry.withRetry(5) { b += 1
        throw new java.io.IOException("task commit failed",
          new java.nio.file.AccessDeniedException("/readonly/dest")) }
    }
    assert(b == 1)
    // a message explicitly declaring the error NON-transient must not
    // satisfy the contains("transient") heuristic
    var c = 0
    intercept[RuntimeException] {
      Retry.withRetry(5) { c += 1
        throw new RuntimeException("non-transient replication error: schema mismatch") }
    }
    assert(c == 1, s"explicitly non-transient error was retried $c times")
    // ... while a genuinely transient message still retries
    var d = 0
    assert(Retry.withRetry(3) { d += 1
      if (d < 2) throw new RuntimeException("transient replication hiccup")
      d } == 2)
  }

  test("single-scan fan-out places each slice whole, with no empty tasks") {
    // the fan-out's parallelism claim: n slices -> n tasks, one slice
    // each. A HASH repartition on the ordinal collided ordinals
    // (murmur3 mod n), leaving ~1/3 of partitions empty while one task
    // carried 2-3 whole slices — range partitioning restores ~1:1.
    val src = Catalog.collect(spark, sfDir, "orders")
    val dst = Pipeline.cleanDest(src)
    // Count(5): odd, like the planner's own auto-clamp — an even count
    // degrades to a Whole single item and would test nothing
    val items = graft.plan.Analyzer.analyze(src, dst,
      PlanConfig(batchSize = 100, strategy = PartitionStrategy.Count(5))) match {
      case AnalysisOutcome.Success(is) => is
      case other => fail(s"analysis failed: $other")
    }
    assert(items.size == 5, s"expected 5 logical slices, got ${items.size}")
    val df = Pipeline.copyFrame(spark, sfDir, items)
    val perPartition = df
      .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .count().collect()
    val nonEmpty = perPartition.length
    assert(nonEmpty == 5,
      s"expected 5 one-slice tasks, got $nonEmpty non-empty partitions: " +
        perPartition.map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(","))
    // and no partition dwarfs the others (each holds ~1/5 of the rows)
    val counts = perPartition.map(_.getLong(1))
    assert(counts.max < 2L * counts.min + 8,
      s"fan-out skew: ${counts.sorted.mkString(",")}")
  }

  test("jdbc overwrite+truncate keeps table identity (secondary index survives)") {
    import graft.exec.Scans
    val url = s"jdbc:derby:${destDir}/truncdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Scans.table(spark, sfDir, "region")
    df.write.mode("overwrite").jdbc(url, "graft_region_t", props) // create
    // out-of-band DDL the destination owner applied — a drop/recreate
    // overwrite would silently destroy it; truncate+append must not
    def withConn[T](f: java.sql.Connection => T): T = {
      val conn = java.sql.DriverManager.getConnection(url)
      try f(conn) finally conn.close()
    }
    withConn(_.createStatement().execute(
      "CREATE INDEX ix_trunc_probe ON graft_region_t(\"r_regionkey\")"))
    df.write.mode("overwrite").option("truncate", true)
      .jdbc(url, "graft_region_t", props)
    val indexSurvived = withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT COUNT(*) FROM SYS.SYSCONGLOMERATES WHERE CONGLOMERATENAME = 'IX_TRUNC_PROBE'")
      rs.next(); rs.getInt(1) == 1
    }
    assert(indexSurvived, "overwrite dropped/recreated the table (index lost)")
    assert(spark.read.jdbc(url, "graft_region_t", props).count() == df.count())
  }

  test("jdbcTableExists scopes to the current schema and matches exactly") {
    // The append guard's existence probe must answer for the table the
    // subsequent unqualified load resolves — a same-named table in
    // ANOTHER schema (another user's) must not flip the probe, and a
    // LIKE wildcard in the name must never widen the match.
    val dbRoot = graft.exec.DerbyEnv.scratchDbRoot("graft_probe_db")
    val dbPath = s"$dbRoot/probedb"
    val url = s"jdbc:derby:$dbPath;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // a same-named table in a DIFFERENT schema: invisible to the probe
      st.execute("CREATE SCHEMA OTHERUSER")
      st.execute("CREATE TABLE OTHERUSER.PROBE_T (id INT)")
      assert(!graft.exec.Sinks.jdbcTableExists(conn, "probe_t"),
        "probe matched a table in a foreign schema")
      // wildcard hygiene: STREAMXEVENTS must not satisfy "stream_events"
      // even though '_' is a live LIKE wildcard in getTables patterns
      st.execute("CREATE TABLE STREAMXEVENTS (id INT)")
      assert(!graft.exec.Sinks.jdbcTableExists(conn, "stream_events"),
        "unescaped LIKE wildcard widened the probe")
      // the real table in the CURRENT schema answers true (both the
      // exact spelling and the case-folded probe path)
      st.execute("CREATE TABLE STREAM_EVENTS (id INT)")
      assert(graft.exec.Sinks.jdbcTableExists(conn, "stream_events"))
      // a SCHEMA-QUALIFIED name probes ITS schema, not the current one:
      // the streaming upsert passes the configured name through, and a
      // false here would silently skip the idempotency DELETE on every
      // replayed batch (the dot used to be fed into the TABLE_NAME
      // pattern, matching nothing)
      assert(graft.exec.Sinks.jdbcTableExists(conn, "otheruser.probe_t"),
        "qualified probe missed a table the load resolves")
      assert(graft.exec.Sinks.jdbcTableExists(conn, "OTHERUSER.PROBE_T"))
      assert(!graft.exec.Sinks.jdbcTableExists(conn, "otheruser.absent_t"))
      assert(!graft.exec.Sinks.jdbcTableExists(conn, "no_such_schema.probe_t"))
      // the COUNT path must make the SAME split (r12 ADVICE): quoting the
      // dotted string as ONE identifier produced
      // SELECT COUNT(*) FROM "OTHERUSER.PROBE_T" — exists answered true,
      // then the count threw, and the append-retry guard ABORTED a load
      // whose first-load path would have simply run
      st.execute("INSERT INTO OTHERUSER.PROBE_T VALUES (1), (2), (3)")
      val props = new java.util.Properties()
      assert(graft.exec.Sinks.jdbcRowCountIfExists(url, "otheruser.probe_t", props)
        .contains(3L), "qualified count disagreed with the existence probe")
      assert(graft.exec.Sinks.jdbcRowCountIfExists(url, "OTHERUSER.PROBE_T", props)
        .contains(3L))
      assert(graft.exec.Sinks.jdbcRowCount(url, "OtherUser.Probe_T", props) == 3L,
        "case-folded qualified spelling must resolve to the stored one")
      assert(graft.exec.Sinks.jdbcRowCountIfExists(url, "otheruser.absent_t", props)
        .isEmpty)
      // and the unqualified path still counts in the CURRENT schema
      assert(graft.exec.Sinks.jdbcRowCountIfExists(url, "stream_events", props)
        .contains(0L))
      // AMBIGUOUS case-folds never guess: with BOTH "probe_t2" (quoted
      // DDL, stored lowercase) and PROBE_T2 (unquoted, stored upper) in
      // the schema, a mixed-case probe has two candidates — the resolver
      // must fall back to the literal spelling (failing loudly if that
      // exact spelling is absent) rather than count a coin-flip table
      st.execute("""CREATE TABLE OTHERUSER."probe_t2" (id INT)""")
      st.execute("CREATE TABLE OTHERUSER.PROBE_T2 (id INT)")
      st.execute("""INSERT INTO OTHERUSER."probe_t2" VALUES (1)""")
      // exact spellings resolve their own table through the ambiguity
      assert(graft.exec.Sinks.jdbcRowCount(url, "OTHERUSER.probe_t2", props) == 1L)
      assert(graft.exec.Sinks.jdbcRowCount(url, "OTHERUSER.PROBE_T2", props) == 0L)
      // a third spelling matches neither exactly: literal fallback, loud failure
      intercept[java.sql.SQLException] {
        graft.exec.Sinks.jdbcRowCount(url, "OTHERUSER.Probe_T2", props)
      }
      st.close()
    } finally {
      conn.close()
      graft.exec.DerbyEnv.shutdownAndDelete(dbPath, dbRoot)
    }
  }

  test("identity reseed: post-copy inserts continue the copied sequence") {
    import graft.exec.Scans
    // the declared query copies supplier into a Derby identity table,
    // reseeds, and probes one keyless insert — its row carries the
    // ACTUAL read-back values
    val r = SparkEntry.queries("jdbc_identity_reseed")(spark, sfDir).collect()(0)
    val identCurrent = r.getAs[Long]("ident_current")
    assert(r.getAs[Boolean]("continues_sequence"),
      s"reseed not observable on the destination: $r")
    assert(r.getAs[Long]("next_key") == identCurrent + 1)
    assert(Scans.table(spark, sfDir, "supplier")
      .agg(max(col("s_suppkey")).cast("long")).collect()(0).getLong(0) == identCurrent)
    // the generator must KEEP continuing, not just survive one insert
    // (DerbyEnv.dbPath — the home is per-process now, never a literal)
    val url = s"jdbc:derby:${graft.exec.DerbyEnv.dbPath("identdb")}"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val ins = conn.prepareStatement(
        """INSERT INTO graft_ident ("s_name") VALUES ('second probe')""",
        java.sql.Statement.RETURN_GENERATED_KEYS)
      ins.executeUpdate()
      val keys = ins.getGeneratedKeys
      keys.next()
      assert(keys.getLong(1) == identCurrent + 2,
        "second keyless insert must continue the sequence")
    } finally conn.close()
  }

  test("monitor emits periodic live samples while a slow copy runs") {
    import graft.exec.CopyMonitor
    import spark.implicits._
    val d = s"$destDir/slow.parquet"
    val (_, mon) = CopyMonitor.monitored(spark, reportEveryMs = 25) {
      spark.range(0, 8, 1, 4).as[Long]
        .map { x => Thread.sleep(60); x } // ~120 ms per task: a "long" copy
        .write.mode("overwrite").parquet(d)
    }
    assert(mon.samples.nonEmpty, "no periodic sample observed during the copy")
    assert(mon.samples.last.elapsedMs > 0)
    assert(mon.recordsWritten.sum() == 8)
    // and the one-shot (non-reporting) path still collects nothing
    val (_, quiet) = CopyMonitor.monitored(spark) {
      spark.range(4).count()
    }
    assert(quiet.samples.isEmpty)
  }

  test("monitored counters exclude a concurrent foreign job's tasks") {
    // a SparkListener is context-global: without job-group scoping a
    // concurrent job in the shared session would inflate the monitored
    // copy's rows and MB/s. The foreign job runs on ANOTHER thread (no
    // thread-local group tag) and is joined inside the body, so its
    // task-end events are on the bus before monitored() drains it —
    // un-scoped counters WOULD have ingested them.
    import graft.exec.CopyMonitor
    val d = s"$destDir/scoped.parquet"
    val foreign = new Thread(() =>
      spark.range(0, 5000, 1, 4).write.mode("overwrite")
        .parquet(s"$destDir/foreign.parquet"))
    val (_, mon) = CopyMonitor.monitored(spark) {
      foreign.start()
      spark.range(0, 77, 1, 2).write.mode("overwrite").parquet(d)
      foreign.join(60000)
    }
    assert(!foreign.isAlive, "foreign job did not finish inside the body")
    assert(mon.recordsWritten.sum() == 77,
      s"foreign job's records leaked into the monitor: ${mon.recordsWritten.sum()}")
    // and the group tag is restored, so a caller's own tagging survives
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("includeUntagged recovers a monitored body's own cross-thread jobs") {
    // The group tag is THREAD-LOCAL: a job the body launches from its
    // OWN worker thread (a future, a streaming micro-batch thread)
    // carries no tag and falls outside the default group scope — the
    // documented same-thread contract (r12 ADVICE). includeUntagged
    // opts such bodies back in by admitting untagged jobs too.
    import graft.exec.CopyMonitor
    val worker = new Thread(() =>
      spark.range(0, 33, 1, 2).write.mode("overwrite")
        .parquet(s"$destDir/untagged_worker.parquet"))
    val (_, mon) = CopyMonitor.monitored(spark, includeUntagged = true) {
      worker.start()
      spark.range(0, 77, 1, 2).write.mode("overwrite")
        .parquet(s"$destDir/untagged_main.parquet")
      worker.join(60000)
    }
    assert(!worker.isAlive, "worker job did not finish inside the body")
    assert(mon.recordsWritten.sum() == 110,
      s"cross-thread rows not recovered under includeUntagged: " +
        s"${mon.recordsWritten.sum()}")
    // group-tagged strangers stay excluded even under includeUntagged
    val stranger = new Thread(() => {
      spark.sparkContext.setJobGroup("stranger-group", "foreign tagged work")
      try spark.range(0, 5000, 1, 2).write.mode("overwrite")
        .parquet(s"$destDir/untagged_stranger.parquet")
      finally spark.sparkContext.clearJobGroup()
    })
    val (_, mon2) = CopyMonitor.monitored(spark, includeUntagged = true) {
      stranger.start()
      spark.range(0, 11, 1, 2).write.mode("overwrite")
        .parquet(s"$destDir/untagged_main2.parquet")
      stranger.join(60000)
    }
    assert(!stranger.isAlive)
    assert(mon2.recordsWritten.sum() == 11,
      s"a group-tagged stranger leaked in: ${mon2.recordsWritten.sum()}")
  }

  test("jdbcTableExists finds a lowercase-folding catalog's spelling") {
    // engines fold unquoted DDL to LOWER (PostgreSQL); Derby can't fold
    // that way, but quoted lowercase DDL STORES lowercase — the exact
    // catalog state a lowercase-folding engine produces — and the probe
    // must find it from any configured spelling, or the append-retry
    // guard silently disarms on such destinations
    val dbRoot = graft.exec.DerbyEnv.scratchDbRoot("graft_lcprobe_db")
    val dbPath = s"$dbRoot/lcprobedb"
    val url = s"jdbc:derby:$dbPath;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "orders_lc" (id INT)""")
      st.close()
      assert(graft.exec.Sinks.jdbcTableExists(conn, "Orders_LC"),
        "lowercase-stored spelling not found from a mixed-case probe")
      assert(graft.exec.Sinks.jdbcTableExists(conn, "orders_lc"))
      assert(!graft.exec.Sinks.jdbcTableExists(conn, "orders_lx"))
    } finally {
      conn.close()
      graft.exec.DerbyEnv.shutdownAndDelete(dbPath, dbRoot)
    }
  }

  test("safetyCheck: absent source is false; unreachable filesystem propagates") {
    // FALSE is a verdict about the SOURCE; an environment that can't
    // answer must fail loudly (the old catch-all mapped a momentary
    // probe failure to "table not found" and aborted the run wrong)
    assert(!Pipeline.safetyCheck(spark, sfDir, "definitely_absent"))
    intercept[Exception] {
      Pipeline.safetyCheck(spark, "bogus-scheme://nowhere/x", "t")
    }
  }

  test("NULL-keyed rows land in exactly one slice, in both twins") {
    // A NULL key column used to make the whole fold NULL: pmod(NULL, n)
    // matches NO slice filter, so the row silently vanished from every
    // slice of a "successful" copy — the reference's %%PhysLoc%% can
    // never be NULL, so exhaustiveness must be MADE here, not assumed.
    // Proved end-to-end through the real expressions, on both twins
    // (Scans.sliceKeyPortable and SqlGen's generated WHERE text).
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, null), (null, 30L), (null, null), (5L, 50L))
      .toDF("k1", "k2")
    val n = 3
    val key = abs(Scans.sliceKeyPortable(Seq("k1", "k2")))
    val union = (0 until n)
      .map(i => Scans.logicalSlice(df, key, n, i))
      .reduce(_ unionAll _)
    assert(union.count() == df.count(),
      "a NULL-keyed row vanished from (or duplicated into) the slice union")
    // SQL-text twin: the generated WHERE over the same frame agrees
    df.createOrReplaceTempView("nullkey_t")
    val sqlUnion = (0 until n).map { i =>
      val where = graft.exec.SqlGen.whereClause(
        SliceSpec.Logical(Seq("k1", "k2"), n, i), Seq("k1", "k2"))
      spark.sql(s"SELECT * FROM nullkey_t $where")
    }.reduce(_ unionAll _)
    assert(sqlUnion.count() == df.count(),
      "the generated-SQL twin dropped or duplicated a NULL-keyed row")
    spark.catalog.dropTempView("nullkey_t")
  }

  test("copyTable reconcile=false skips the count pair and returns sentinels") {
    val d = destDir
    val src = Catalog.collect(spark, sfDir, "region")
    val dst = src.copy(foreignKeyCount = 0, secondaryIndexCount = 0, history = None)
    val r = Pipeline.copyTable(spark, sfDir, d, src, dst,
      PlanConfig(), reconcile = false)
    assert(r.srcRows == -1L && r.dstRows == -1L && r.ok,
      s"reconcile=false must return the documented sentinels: $r")
    // the load itself still happened
    assert(spark.read.parquet(s"$d/region.parquet").count() ==
      Scans.table(spark, sfDir, "region").count())
  }

  test("monitor counts only successful task attempts") {
    // a failed/killed attempt's partial outputMetrics must not
    // double-book rows its retry writes again; local maxFailures=1
    // cannot stage a live retry, so the decision predicate is pinned
    import graft.exec.CopyMonitor
    assert(CopyMonitor.countsAttempt(org.apache.spark.Success))
    assert(!CopyMonitor.countsAttempt(org.apache.spark.UnknownReason))
    assert(!CopyMonitor.countsAttempt(
      org.apache.spark.TaskKilled("speculative duplicate")))
  }

  test("monitor gauge ignores tasks it never saw start") {
    // a task launched BEFORE the listener attached still delivers its
    // onTaskEnd — decrementing for it under-reports the gauge for the
    // whole overlap (and a floor at 0 only hides the symptom at zero)
    import org.apache.spark.scheduler._
    val mon = new graft.exec.CopyMonitor
    def info(id: Long) =
      new TaskInfo(id, 0, 0, 0, 0L, "exec", "host", TaskLocality.ANY, false)
    def end(id: Long) = SparkListenerTaskEnd(
      1, 0, "ResultTask", org.apache.spark.Success, info(id), null, null)
    mon.onTaskEnd(end(1)) // pre-attach task: never counted in
    assert(mon.activeTasks.get() == 0)
    mon.onTaskStart(SparkListenerTaskStart(1, 0, info(2)))
    assert(mon.activeTasks.get() == 1)
    mon.onTaskEnd(end(1)) // another unseen end mid-run: gauge untouched
    assert(mon.activeTasks.get() == 1)
    mon.onTaskEnd(end(2))
    assert(mon.activeTasks.get() == 0)
  }

  test("fragmented staging is corpus-keyed and never re-stages a seen dir") {
    import graft.ops.PipelineQueries
    val first = PipelineQueries.ensureFragmented(spark, sfDir)
    def census(p: String): Seq[(String, Long)] =
      new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).sortBy(_._1)
    val before = census(first)
    // a different corpus stages to a DIFFERENT path (no clobber)...
    val otherDir = "/root/testdata/sf0.01"
    val other = PipelineQueries.ensureFragmented(spark, otherDir)
    assert(other != first, "corpus staging paths must not collide")
    // ...and re-requesting the first corpus is a no-op, not a re-write
    // (the alternation a Verify-then-Bench session performs)
    assert(PipelineQueries.ensureFragmented(spark, sfDir) == first)
    assert(census(first) == before,
      "alternating corpora must not re-pay the fragmentation write")
  }

  test("copyFrame on a SUBSET of logical slices returns only those slices") {
    val src = Catalog.collect(spark, sfDir, "orders")
    val keys = Seq("o_orderkey")
    val items = (0 until 3).map(i => // 3 of 9 slices — e.g. a retry batch
      WorkItem(src, SliceSpec.Logical(keys, 9, i), orderHint = Nil))
    val subset = Pipeline.copyFrame(spark, sfDir, items)
    val key = graft.exec.Scans.sliceKeyPortable(keys)
    val expected = graft.exec.Scans.table(spark, sfDir, "orders")
      .filter(pmod(abs(key), lit(9L)) < 3).count()
    assert(subset.count() == expected)
    assert(expected < graft.exec.Scans.table(spark, sfDir, "orders").count())
  }

  test("physical fan-out adapts to layout: flat file scans once, dir layout prunes") {
    import graft.exec.Scans
    val meta = Catalog.declared("lineitem")
    val items = (1 to 7).map(n =>
      WorkItem(meta, SliceSpec.Physical("l_shipdate", n), orderHint = Nil))
    // flat single-file source (the shipped testdata): ONE scan + ordinal
    // shuffle — a per-slice union would decode the same bytes 7×
    val flat = Pipeline.copyFrame(spark, sfDir, items)
    val fp = flat.queryExecution.executedPlan.toString
    assert(fp.linesIterator.count(_.contains("Scan parquet")) == 1, fp.take(2000))
    assert(fp.contains("Exchange"), fp.take(2000))
    // an unpartitioned multi-file directory (what a Spark writer leaves):
    // no partition directory to prune either, so the same one scan — the
    // per-slice union would read all 8 files in each of the 7 scans
    val multi = java.nio.file.Files.createTempDirectory("graft_multi").toString
    Scans.table(spark, sfDir, "lineitem").repartition(8)
      .write.parquet(s"$multi/lineitem.parquet")
    assert(graft.exec.Sinks.committedFiles(spark, s"$multi/lineitem.parquet").size == 8)
    val multiFrame = Pipeline.copyFrame(spark, multi, items)
    val mp = multiFrame.queryExecution.executedPlan.toString
    assert(mp.linesIterator.count(_.contains("Scan parquet")) == 1, mp.take(2000))
    assert(mp.contains("Exchange"), mp.take(2000))
    assert(multiFrame.count() == flat.count())
    // directory-partitioned copy of the same table (month-truncated ship
    // dates bound the dir count): per-slice union, every scan pruning
    // directories via PartitionFilters, and NO shuffle anywhere
    val root = java.nio.file.Files.createTempDirectory("graft_layout").toString
    Scans.table(spark, sfDir, "lineitem")
      .withColumn("l_shipdate", date_trunc("month", col("l_shipdate")))
      .write.partitionBy("l_shipdate").parquet(s"$root/lineitem.parquet")
    val parted = Pipeline.copyFrame(spark, root, items)
    val pp = parted.queryExecution.executedPlan.toString
    assert(pp.linesIterator.count(_.contains("Scan parquet")) == 7, pp.take(3000))
    val pfLines = pp.linesIterator.filter(_.contains("PartitionFilters")).toList
    assert(pfLines.nonEmpty && pfLines.forall(_.contains("l_shipdate")),
      pfLines.mkString("\n"))
    assert(!pp.contains("Exchange"), "union path must not shuffle")
    assert(parted.count() == flat.count())
  }

  /** Stage a lineitem with 100 clean rows plus one row OUTSIDE the
    * declared 1..7 year ranges and one with a NULL partition column — the
    * dirty-data fixture for the fan-out parity and reconciliation tests.
    * `partFiles` = 1 stages a FLAT single file; more stages an
    * unpartitioned directory of that many part files. Returns the staged
    * source dir.
    */
  private def stageDirtyLineitem(partFiles: Int = 1): String = {
    import graft.exec.Scans
    val stage = java.nio.file.Files.createTempDirectory("graft_flat").toString
    val li = Scans.table(spark, sfDir, "lineitem").limit(100).cache()
    val outOfRange = li.limit(1)
      .withColumn("l_shipdate", lit("2010-06-01").cast("timestamp"))
    val nullPart = li.limit(1)
      .withColumn("l_shipdate", lit(null).cast("timestamp"))
    val dirty = li.union(outOfRange).union(nullPart)
    if (partFiles > 1)
      dirty.repartition(partFiles).write.parquet(s"$stage/lineitem.parquet")
    else {
      dirty.coalesce(1).write.parquet(s"$stage/staged")
      val part = new java.io.File(s"$stage/staged").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$stage/lineitem.parquet"))
    }
    li.unpersist()
    stage
  }

  test("flat fan-out drops out-of-range rows exactly as the slice union would") {
    import graft.exec.Scans
    // both code paths must agree on dirty data (the r2 flat path
    // silently absorbed out-of-range rows into the copy) — on a flat
    // file and on a multi-file directory, which both take the fan-out
    val meta = Catalog.declared("lineitem")
    val items = (1 to 7).map(n =>
      WorkItem(meta, SliceSpec.Physical("l_shipdate", n), orderHint = Nil))
    for (partFiles <- Seq(1, 8)) {
      val stage = stageDirtyLineitem(partFiles)
      val viaFlat = Pipeline.copyFrame(spark, stage, items)
      assert(viaFlat.queryExecution.executedPlan.toString.contains("Exchange"),
        s"$partFiles part file(s): fan-out not taken")
      val viaUnion = items.map(Scans.forWorkItem(spark, stage, _))
        .reduce(_ unionAll _)
      assert(viaFlat.count() == 100, s"$partFiles part file(s): fan-out absorbed out-of-range rows")
      assert(viaFlat.count() == viaUnion.count())
    }
  }

  test("reconciliation catches the coverage hole a dirty flat source creates") {
    // End-to-end: copyTable against the dirty flat source plans the
    // physical fan-out, both paths drop the 2 dirty rows (parity test
    // above), and the rowcount reconciliation — the reference's
    // CheckResults contract — must surface the hole instead of
    // reporting a clean copy.
    val stage = stageDirtyLineitem()
    val src = Catalog.collect(spark, stage, "lineitem")
      .copy(partitionCol = Some("l_shipdate"), partitionCount = 7)
    val dst = src.copy(storage = Storage.Heap, foreignKeyCount = 0,
      secondaryIndexCount = 0, history = None)
    // batchSize below the rowcount so the small-table bypass (a Whole
    // scan, which keeps every row) cannot engage
    val r = Pipeline.copyTable(spark, stage, destDir, src, dst,
      PlanConfig(batchSize = 10))
    assert(r.sliceKind == "physical" && r.workItems == 7, r.toString)
    assert(!r.ok, s"coverage hole not flagged: $r")
    assert(r.srcRows == r.dstRows + 2,
      s"expected exactly the 2 dirty rows missing: $r")
  }

  test("generated SQL renders a key-less logical slice via xxhash64") {
    import graft.exec.{Scans, SqlGen}
    val src = Catalog.collect(spark, sfDir, "region").copy(sortKeys = Nil)
    val items = (0 until 3).map(i =>
      WorkItem(src, SliceSpec.Logical(Nil, 3, i), orderHint = Nil))
    items.foreach { item =>
      val viaSql = SqlGen.run(spark, sfDir, item)
      val viaApi = Scans.forWorkItem(spark, sfDir, item)
      assert(viaSql.exceptAll(viaApi).count() == 0 &&
        viaApi.exceptAll(viaSql).count() == 0, s"slice ${item.slice} disagrees")
    }
    // and the three key-less slices partition the table
    val total = items.map(SqlGen.run(spark, sfDir, _).count()).sum
    assert(total == Scans.table(spark, sfDir, "region").count())
  }

  test("logical slices stay exhaustive over a NULL-bearing corpus on BOTH realizations") {
    // The r12 NULL-drop class (MOD(NULL,N) matches no slice — a row
    // silently missing from every slice of a "successful" copy), swept
    // across the remaining slice surfaces and pinned on a corpus that
    // actually CARRIES NULLs: a NULL key row, a NULL non-key row, and an
    // all-NULL row. Union-of-slices == table must hold for the KEYED
    // fold (coalesce-to-0) and the KEY-LESS xxhash64 fold, on the
    // DataFrame path (Scans.forWorkItem) and its SQL-text twin
    // (SqlGen.whereClause) — and the twins must agree slice by slice,
    // or the generated-SQL audit trail describes a different copy than
    // the one that ran.
    import graft.exec.{Scans, SqlGen}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nullslices")
    try {
      Seq[(Option[Long], Option[String])](
        (Some(1L), Some("a")), (Some(2L), None), (None, Some("x")),
        (None, None), (Some(4L), Some("d")), (Some(6L), Some("f")))
        .toDF("k", "v")
        .write.parquet(root.resolve("widgets.parquet").toString)
      val tm = TableMeta("dbo", "widgets", Storage.Heap)
      val n = 3
      for (keys <- Seq(Seq("k"), Nil)) {
        val items = (0 until n).map(i =>
          WorkItem(tm, SliceSpec.Logical(keys, n, i), orderHint = Nil))
        val api = items.map(Scans.forWorkItem(spark, root.toString, _))
        val sql = items.map(SqlGen.run(spark, root.toString, _))
        assert(api.map(_.count()).sum == 6,
          s"DataFrame slice union lost rows on NULLs (keys=$keys)")
        assert(sql.map(_.count()).sum == 6,
          s"SQL-text slice union lost rows on NULLs (keys=$keys)")
        api.zip(sql).zipWithIndex.foreach { case ((a, q), i) =>
          assert(a.exceptAll(q).count() == 0 && q.exceptAll(a).count() == 0,
            s"twins disagree on slice $i of keys=$keys")
        }
      }
      // the NULL-keyed rows land in slice 0 under the keyed fold
      // (coalesce-to-0), same placement the fan-out path pins in CopySpec
      val slice0 = Scans.forWorkItem(spark, root.toString,
        WorkItem(tm, SliceSpec.Logical(Seq("k"), n, 0), orderHint = Nil))
      assert(slice0.filter(col("k").isNull).count() == 2,
        "NULL-keyed rows not in slice 0")
    } finally deleteTree(root)
  }

  test("generated SQL text agrees with the DataFrame plan for the same work item") {
    import graft.exec.{Scans, SqlGen}
    val meta = Catalog.collect(spark, sfDir, "lineitem")
    val item = WorkItem(meta, SliceSpec.Logical(Seq("l_orderkey", "l_linenumber"), 9, 3),
      orderHint = Seq(SortKey("l_orderkey"), SortKey("l_linenumber", descending = true)))
    val viaSql = SqlGen.run(spark, sfDir, item)
    val viaApi = Scans.forWorkItem(spark, sfDir, item)
    assert(viaSql.exceptAll(viaApi).count() == 0 &&
      viaApi.exceptAll(viaSql).count() == 0)
    assert(viaSql.count() > 0)
  }

  test("an all-computed order hint emits no ORDER BY and both paths agree") {
    // an order hint of ONLY computed keys must produce parseable SQL
    // (no bare "ORDER BY") and the DataFrame twin must skip the same
    // keys — computed columns are excluded from the projection, so
    // sorting on one would fail resolution
    import graft.exec.{Scans, SqlGen}
    val computedOnly = Seq(SortKey("phantom", isComputed = true))
    assert(SqlGen.orderByClause(computedOnly) == "")
    val meta = Catalog.collect(spark, sfDir, "region")
    val item = WorkItem(meta, SliceSpec.Whole, orderHint = computedOnly)
    val viaSql = SqlGen.run(spark, sfDir, item)   // would ParseException
    val viaApi = Scans.forWorkItem(spark, sfDir, item) // would AnalysisException
    assert(viaSql.count() == viaApi.count())
  }

  test("incremental copy is idempotent across runs and reconciles") {
    val fn = SparkEntry.queries("pipeline_incremental_copy")
    val a = fn(spark, sfDir).collect().toSeq
    val b = fn(spark, sfDir).collect().toSeq
    assert(a == b) // reseed-and-append is deterministic run to run
    assert(a.head.getAs[Boolean]("is_match"))
    assert(a.head.getAs[Long]("appended_rows") > 0)
  }

  test("truncate removes the destination footprint") {
    import graft.exec.{Scans, Sinks}
    val d = s"$destDir/trunc_target.parquet"
    Sinks.bulkInsert(Scans.table(spark, sfDir, "region"), d, overwrite = true)
    assert(spark.read.parquet(d).count() > 0)
    Sinks.truncate(spark, d)
    assert(!new java.io.File(d).exists())
  }

  test("safety check fails for a missing table") {
    assert(Pipeline.safetyCheck(spark, sfDir, "lineitem"))
    assert(!Pipeline.safetyCheck(spark, sfDir, "no_such"))
  }

  test("safety check fails when the first committed data file is corrupt") {
    // the gate is a cheap first-file probe, but its verdict must be the
    // FIRST file's — falling through a failed magic check to a later
    // valid file would clear a source the copy phase is about to choke on
    import graft.exec.Scans
    val d = destDir
    Scans.table(spark, sfDir, "region").coalesce(1)
      .write.parquet(s"$d/corrupted.parquet")
    val dir = new java.io.File(s"$d/corrupted.parquet")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    // overwrite the magic bytes: committed name, garbage content
    val raf = new java.io.RandomAccessFile(part, "rw")
    try { raf.seek(0); raf.write("XXXX".getBytes("US-ASCII")) }
    finally raf.close()
    assert(!Pipeline.safetyCheck(spark, d, "corrupted"))
  }

  test("safety check sees data files nested under partition directories") {
    import graft.exec.Scans
    val d = destDir
    Scans.table(spark, sfDir, "region")
      .withColumn("pk", col("r_regionkey") % 2)
      .write.partitionBy("pk").parquet(s"$d/parted.parquet")
    assert(Pipeline.safetyCheck(spark, d, "parted"))
  }

  test("committedRowCount: many files in parallel, uncommitted attempts ignored") {
    import graft.exec.{Scans, Sinks}
    val d = destDir
    val dest = s"$d/orders.parquet"
    val src = Scans.table(spark, sfDir, "orders")
    src.repartition(24).write.parquet(dest) // 24 committed footers
    val n = src.count()
    assert(Sinks.committedRowCount(spark, dest) == n)
    // plant leftovers a crashed prior writer would leave behind: a
    // task-attempt file under _temporary and a dot-prefixed stray —
    // spark.read.parquet ignores both, so reconciliation must too
    val committed = new java.io.File(dest).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val attempt = new java.io.File(
      s"$dest/_temporary/0/task_0001/part-crashed.parquet")
    attempt.getParentFile.mkdirs()
    java.nio.file.Files.copy(committed.toPath, attempt.toPath)
    val stray = new java.io.File(s"$dest/.stale.parquet")
    java.nio.file.Files.copy(committed.toPath, stray.toPath)
    assert(Sinks.committedRowCount(spark, dest) == n,
      "uncommitted files inflated the committed count")
    assert(spark.read.parquet(dest).count() == n) // the contract we mirror
  }

  test("compaction file census works through a file:-scheme Hadoop path") {
    // pipeline_compact's whole point is object-store hygiene, so its
    // listing must go through Hadoop FileSystem — drive the same helper
    // and the same rewrite through an explicit URI scheme (the local
    // stand-in for s3a://...; java.io.File would see this path as a
    // literal "file:/..." name and return null)
    import graft.exec.{Scans, Sinks}
    val d = destDir
    val fragmented = s"file://$d/frag.parquet"
    val compacted = s"file://$d/compact.parquet"
    val src = Scans.table(spark, sfDir, "nation")
    src.repartition(8).write.parquet(fragmented)
    // a crashed-writer leftover must be invisible to the census too
    val stray = new java.io.File(s"$d/frag.parquet/_temporary/0/part-x.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    val before = Sinks.committedFiles(spark, fragmented)
    // empty partitions may skip their file; fragmentation is what matters
    assert(before.size > 2, s"expected a fragmented layout, got ${before.size}")
    assert(before.forall(!_.getPath.toString.contains("_temporary")))
    val target = math.max(1,
      math.ceil(before.map(_.getLen).sum / (32.0 * 1024 * 1024)).toInt)
    spark.read.parquet(fragmented).repartition(target)
      .write.mode("overwrite").parquet(compacted)
    assert(Sinks.committedFiles(spark, compacted).size < before.size)
    assert(Sinks.committedRowCount(spark, compacted) == src.count())
  }

  private def derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** A scratch Derby database holding no tables, removed afterwards. */
  private def withScratchDb(name: String)(body: String => Unit): Unit = {
    val dbRoot = DerbyEnv.scratchDbRoot(s"graft_${name}_db")
    val dbPath = s"$dbRoot/$name"
    try body(s"jdbc:derby:$dbPath;create=true")
    finally {
      AppendFault.armed.set(false)
      DerbyEnv.shutdownAndDelete(dbPath, dbRoot)
    }
  }

  private val retryT = TableMeta("APP", "retry_t", Storage.Heap)

  private def appendLoad(dest: Dest, df: org.apache.spark.sql.DataFrame): Unit =
    Pipeline.load(dest, df, retryT, batchRows = 10, truncate = false,
      retryMaxAttempts = 3, retryDelayIncrementMs = 0L)

  /** Append ids 0..39 to an absent `dest` through one partition whose
    * first attempt throws the transient failure before writing a row,
    * and return the ids `readBack` then finds there, sorted. */
  private def appendAfterFailedAttempt(
      dest: Dest, readBack: () => org.apache.spark.sql.DataFrame): Seq[Long] = {
    import spark.implicits._
    assert(dest.rowsOrZero(retryT.name) == 0L)
    AppendFault.armed.set(true)
    try appendLoad(dest, spark.range(0, 40, 1, 1).as[Long]
      .map(x => AppendFault.failOnce(x)).toDF("id"))
    finally assert(!AppendFault.armed.getAndSet(false), "the injected failure never fired")
    assert(dest.rows(retryT.name) == 40L)
    readBack().as[Long].collect().sorted.toSeq
  }

  test("jdbc append: a retried attempt that committed nothing lands the rows exactly once") {
    // Spark's JDBC writer creates the absent table on the driver before
    // its job runs; the failed attempt leaves it empty, and the retry's
    // guard must read that as "nothing landed", not as a partial append
    assert(Retry.isTransient(AppendFault.transient()))
    withScratchDb("retrydb") { url =>
      val ids = appendAfterFailedAttempt(Dest.of(spark, url),
        () => spark.read.jdbc(url, retryT.name, derbyProps))
      assert(ids == (0L until 40L), "rows lost or doubled by the retry")
    }
  }

  test("jdbc append: a retry after a partition committed fails the guard, never doubles") {
    import spark.implicits._
    withScratchDb("partialdb") { url =>
      val dest = Dest.of(spark, url)
      val table = retryT.name
      val props = derbyProps
      AppendFault.armed.set(true)
      // partition 0 (ids 0..19) commits; partition 1 throws once it has
      val df = spark.range(0, 40, 1, 2).as[Long]
        .mapPartitions(it => AppendFault.failAfterCommit(url, table, props, it))
        .toDF("id")
      val e = intercept[IllegalStateException](appendLoad(dest, df))
      assert(e.getMessage.contains("partial append detected"), e.getMessage)
      assert(e.getMessage.contains("rows 0 -> 20"), e.getMessage)
      val ids = spark.read.jdbc(url, table, props).as[Long].collect().sorted.toSeq
      assert(ids == (0L until 20L), "the table must hold attempt 1's commit only")
    }
  }

  test("file append: a retried attempt that committed nothing lands the rows exactly once") {
    val d = destDir
    val ids = appendAfterFailedAttempt(Dest.of(spark, d),
      () => spark.read.parquet(s"$d/${retryT.name}.parquet"))
    assert(ids == (0L until 40L), "rows lost or doubled by the retry")
  }
}

/** JVM-static fault switch for the append-retry specs: local-mode tasks
  * run in the spec's JVM, so a task sees the flag the spec armed, and
  * the first task to fire it disarms it for the retry. */
object AppendFault {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def transient(): Exception =
    new java.sql.SQLTransientConnectionException("injected transient failure")

  /** `x`, or the transient failure the first time it is called armed. */
  def failOnce(x: Long): Long =
    if (armed.getAndSet(false)) throw transient() else x

  /** Partition 1 of an armed attempt waits until `table` at `url` holds
    * committed rows (another partition's transaction), then throws the
    * transient failure; every other partition passes through. */
  def failAfterCommit(url: String, table: String, props: java.util.Properties,
      rows: Iterator[Long]): Iterator[Long] =
    if (org.apache.spark.TaskContext.getPartitionId() != 1 || !armed.getAndSet(false))
      rows
    else {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def committed = graft.exec.Sinks.jdbcRowCountIfExists(url, table, props)
        .exists(_ > 0L)
      while (!committed && System.nanoTime() < deadline) Thread.sleep(50)
      throw transient()
    }
}
