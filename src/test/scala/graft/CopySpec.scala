package graft

import graft.exec.Scans
import graft.meta.Catalog
import graft.model._
import graft.plan.PlanConfig

/** Exit-code mapping of the `graft.Copy` entry point — the analog of the
  * reference's outcome tests (`tests/Misc.cs:14-38`) plus the runtime
  * failure classes (`SmartBulkCopy.cs:216-250`): analysis failures exit
  * with the `AnalysisOutcome` ordinal (`TableAnalyzer.cs:10-19`), copy
  * errors with 3, reconciliation mismatches with 2.
  */
class CopySpec extends SparkSpecBase {

  private def destDir =
    java.nio.file.Files.createTempDirectory("graft_copy").toString

  test("clean run exits 0") {
    assert(Copy.run(spark, sfDir, destDir, Seq("region", "nation")) == 0)
  }

  test("identityCurrent is 0 on an empty source, not an NPE") {
    // the reference's IDENT_CURRENT answers on empty tables too: an
    // empty source with syncIdentity on must reseed to 0 (next value
    // restarts the sequence), and a 0 watermark selects the whole
    // source as delta — max() returning NULL must not abort the run
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("id")
    assert(exec.Sinks.identityCurrent(empty, "id") == 0L)
    val allNull = Seq[Option[Long]](None, None).toDF("id")
    assert(exec.Sinks.identityCurrent(allNull, "id") == 0L)
  }

  test("copyFrame's single-scan fan-out keeps NULL slice keys like the union") {
    // path-equivalence contract UNDER THE NULL-SAFE FOLD: a NULL slice
    // key coalesces to 0, so BOTH realizations place the row in slice 0
    // and every row is copied exactly once — exhaustiveness is the
    // reference's slice contract (%%PhysLoc%% can never be NULL), and
    // the old behavior (both paths silently DROPPING NULL-keyed rows
    // from a "successful" copy) was consistent data loss, not safety
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nullslice")
    try {
      Seq[(Option[Long], String)]((Some(1L), "a"), (Some(2L), "b"),
        (None, "x"), (Some(4L), "d"), (None, "y"), (Some(6L), "f"))
        .toDF("k", "v")
        .write.parquet(root.resolve("widgets.parquet").toString)
      val tm = TableMeta("dbo", "widgets", Storage.Heap)
      val n = 3
      val items = (0 until n).map(i =>
        WorkItem(tm, SliceSpec.Logical(Seq("k"), n, i), Nil))
      val fanned = exec.Pipeline.copyFrame(spark, root.toString, items)
      val union = items.map(Scans.forWorkItem(spark, root.toString, _))
        .reduce(_ unionAll _)
      assert(union.count() == 6, "slice union must keep the NULL-key rows")
      assert(fanned.count() == 6, "fan-out must keep the same NULL-key rows")
      assert(fanned.select("k", "v").except(union.select("k", "v")).isEmpty &&
        union.select("k", "v").except(fanned.select("k", "v")).isEmpty)
      // and the NULL-keyed rows sit in slice 0 specifically (key folds 0)
      assert(Scans.forWorkItem(spark, root.toString, items.head)
        .filter(org.apache.spark.sql.functions.col("k").isNull).count() == 2)
    } finally deleteTree(root)
  }

  test("foreign keys on the destination exit with the FK ordinal (5)") {
    val dst = Catalog.collect(spark, sfDir, "region")
      .copy(storage = Storage.Heap, secondaryIndexCount = 0, history = None,
        foreignKeyCount = 1)
    assert(Copy.run(spark, sfDir, destDir, Seq("region"),
      destMeta = Map("region" -> dst)) == 5)
  }

  test("temporal destination exits 6; secondary index exits 4") {
    val base = Catalog.collect(spark, sfDir, "region")
      .copy(storage = Storage.Heap, foreignKeyCount = 0,
        secondaryIndexCount = 0, history = None)
    assert(Copy.run(spark, sfDir, destDir, Seq("region"),
      destMeta = Map("region" ->
        base.copy(history = Some(HistoryInfo("region_history", "vf", "vt", 90))))) == 6)
    assert(Copy.run(spark, sfDir, destDir, Seq("region"),
      destMeta = Map("region" -> base.copy(secondaryIndexCount = 1))) == 4)
  }

  test("missing source table exits 2 before any copy") {
    assert(Copy.run(spark, sfDir, destDir, Seq("no_such_table")) == 2)
  }

  test("forced count mismatch exits 2") {
    val d = destDir
    // destination interference during the run: an extra committed file
    // lands in the destination after the load — reconciliation must
    // catch the inflated count, exactly CheckResults' job
    val code = Copy.run(spark, sfDir, d, Seq("region"),
      postCopyHook = t => Scans.table(spark, sfDir, t).limit(1)
        .write.mode("append").parquet(s"$d/$t.parquet"))
    assert(code == 2)
  }

  test("copy-phase task error exits 3") {
    assert(Copy.run(spark, sfDir, destDir, Seq("region", "nation"),
      postCopyHook = t =>
        if (t == "nation") throw new RuntimeException("injected task failure")) == 3)
  }

  test("config file drives a full run: include/exclude fold, options parse") {
    val d = destDir
    val cfgPath = s"$d/copy.config.json"
    // modeled on the reference's golden fixture
    // (tests/smartbulkcopy.config.test.json): include-all + excludes,
    // tri-modal logical-partitions, stop-if, retry-connection
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""{
         |  "source":      { "connection-string": "$sfDir" },
         |  "destination": { "connection-string": "$d" },
         |  "tables": { "include": [ "*" ],
         |              "exclude": [ "lineitem", "orders", "events",
         |                           "documents", "embeddings", "part",
         |                           "customer", "supplier" ] },
         |  "options": {
         |    "compatibility-mode": true,
         |    "command-timeout": 5400,
         |    "tasks": 4,
         |    "logical-partitions": "auto",
         |    "batch-size": 50000,
         |    "truncate-tables": true,
         |    "sync-identity": true,
         |    "safe-check": "read-only",
         |    "stop-if": { "secondary-indexes": true, "temporal-table": false },
         |    "retry-connection": { "delay-increment": 10, "max-attempt": 5 }
         |  }
         |}""".stripMargin)
    val cfg = CopyConfig.load(cfgPath)
    assert(cfg.tablePatterns.take(2) == Seq("+:*", "-:lineitem"))
    assert(cfg.plan.tasks == 4 && cfg.plan.batchSize == 50000)
    assert(cfg.plan.strategy == graft.plan.PartitionStrategy.Auto)
    assert(cfg.plan.stopIfSecondaryIndex && !cfg.plan.stopIfTemporalTable)
    assert(cfg.safeCheck == "readonly" && cfg.truncateTables)
    assert(cfg.commandTimeout == 5400 && cfg.syncIdentity && cfg.compatibilityMode)
    assert(Copy.runFromConfigFile(spark, cfgPath) == 0)
    // only the two small tables survive the exclude fold
    assert(new java.io.File(s"$d/region.parquet").exists())
    assert(new java.io.File(s"$d/nation.parquet").exists())
    assert(!new java.io.File(s"$d/orders.parquet").exists())
  }

  test("malformed config exits 1 before any copy") {
    val d = destDir
    def write(name: String, body: String): String = {
      val p = s"$d/$name.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), body)
      p
    }
    // the reference's ArgumentException sites: bad logical-partitions,
    // bad safe-check — plus non-JSON and a missing connection string
    assert(Copy.runFromConfigFile(spark, write("lp",
      s"""{"source": {"connection-string": "$sfDir"},
          |"destination": {"connection-string": "$d"},
          |"options": {"logical-partitions": "seven"}}""".stripMargin)) == 1)
    assert(Copy.runFromConfigFile(spark, write("sc",
      s"""{"source": {"connection-string": "$sfDir"},
          |"destination": {"connection-string": "$d"},
          |"options": {"safe-check": "maybe"}}""".stripMargin)) == 1)
    assert(Copy.runFromConfigFile(spark, write("nj", "not json at all")) == 1)
    // a scalar exclude must reject — silently parsing as "no excludes"
    // would copy (and with truncate on, destroy) excluded tables
    assert(Copy.runFromConfigFile(spark, write("ex",
      s"""{"source": {"connection-string": "$sfDir"},
          |"destination": {"connection-string": "$d"},
          |"tables": {"include": ["*"], "exclude": "lineitem"}}""".stripMargin)) == 1)
    // a fractional number must reject, never truncate (0.5 -> 0)
    assert(Copy.runFromConfigFile(spark, write("fr",
      s"""{"source": {"connection-string": "$sfDir"},
          |"destination": {"connection-string": "$d"},
          |"options": {"batch-size": 0.5}}""".stripMargin)) == 1)
    assert(Copy.runFromConfigFile(spark, write("nc", "{}"),
      env = _ => None) == 1)
    assert(Copy.runFromConfigFile(spark, s"$d/no_such_file.json") == 1)
    assert(!new java.io.File(s"$d/region.parquet").exists(),
      "a malformed config must fail before any copy")
  }

  test("truncate-tables off appends, so a re-run fails reconciliation with 2") {
    val d = destDir
    // first load into an empty destination reconciles clean either way
    assert(Copy.run(spark, sfDir, d, Seq("region"), truncateTables = false) == 0)
    // truncate ON: the re-run replaces the destination and reconciles
    assert(Copy.run(spark, sfDir, d, Seq("region"), truncateTables = true) == 0)
    // truncate OFF into the now-non-empty destination: rows double and
    // CheckResults flags the mismatch — the reference's exact failure
    // mode for forgetting truncate-tables
    assert(Copy.run(spark, sfDir, d, Seq("region"), truncateTables = false) == 2)
  }

  test("config parse: env fallback, legacy flat tables, tri-modal lp") {
    val env = Map(
      "source-connection-string" -> "/env/src",
      "destination-connection-string" -> "/env/dst")
    val cfg = CopyConfig.parse(
      """{"tables": ["region", "-:nation", "+:nation"],
        |"options": {"logical-partitions": "24"}}""".stripMargin, env.get)
    assert(cfg.sourceDir == "/env/src" && cfg.destDir == "/env/dst")
    // legacy flat array passes through verbatim — order preserved
    assert(cfg.tablePatterns == Seq("region", "-:nation", "+:nation"))
    assert(cfg.plan.strategy == graft.plan.PartitionStrategy.Count(24))
    val sized = CopyConfig.parse(
      """{"source": {"connection-string": "s"},
        |"destination": {"connection-string": "d"},
        |"options": {"logical-partitions": "8GB"}}""".stripMargin, _ => None)
    assert(sized.plan.strategy == graft.plan.PartitionStrategy.SizeGb(8.0))
    // no tables section at all → copy everything
    assert(sized.tablePatterns == Seq("*"))
    // defaults mirror the reference's field initializers
    assert(sized.plan.tasks == 7 && sized.plan.batchSize == 100000)
    assert(sized.retryMaxAttempt == 5 && sized.retryDelayIncrement == 10)
    assert(!sized.truncateTables && sized.safeCheck == "readonly")
  }

  test("config parse rejects non-positive logical-partitions at load") {
    // "0gb" would divide the planner to the max fan-out, "0"/"-3" would
    // plan a silent no-copy — all must exit at load like any other
    // malformed option, never reach the planner
    for (lp <- Seq("0gb", "-2gb", "0", "-3", "8.5gb", "1e2gb"))
      intercept[IllegalArgumentException] {
        CopyConfig.parse(
          s"""{"source": {"connection-string": "s"},
             |"destination": {"connection-string": "d"},
             |"options": {"logical-partitions": "$lp"}}""".stripMargin, _ => None)
      }
  }

  test("sync-identity reseeds the destination and verifies by read-back") {
    val d = destDir
    // supplier HAS an identity column; region does not — the sync must
    // reseed the one and skip the other (TableHasIdentity filter)
    val code = Copy.run(spark, sfDir, d, Seq("region", "supplier"),
      truncateTables = true, syncIdentity = true)
    assert(code == 0)
    val expected = exec.Sinks.identityCurrent(
      Scans.table(spark, sfDir, "supplier"), "s_suppkey")
    assert(exec.Sinks.identitySeed(spark, s"$d/supplier.parquet")
      .contains(("s_suppkey", expected)))
    assert(exec.Sinks.identitySeed(spark, s"$d/region.parquet").isEmpty,
      "a table without an identity column must not be reseeded")
    // the sidecar must stay invisible to scans and reconciliation
    assert(exec.Sinks.committedRowCount(spark, s"$d/supplier.parquet") ==
      Scans.table(spark, sfDir, "supplier").count())
  }

  test("sync-identity read-back mismatch exits 2 (reference :375-384)") {
    val d = destDir
    // a reseed that lands one short: the verify probe must catch it —
    // the reference's 'Unable to sync identity value' error branch
    val code = Copy.run(spark, sfDir, d, Seq("supplier"),
      truncateTables = true, syncIdentity = true,
      reseedIdentity = (s, path, col, seed) =>
        exec.Sinks.reseedIdentity(s, path, col, seed - 1))
    assert(code == 2)
  }

  test("config file with sync-identity: true drives the reseed end-to-end") {
    val d = destDir
    val cfgPath = s"$d/ident.config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""{
         |  "source":      { "connection-string": "$sfDir" },
         |  "destination": { "connection-string": "$d" },
         |  "tables": [ "supplier" ],
         |  "options": { "truncate-tables": true, "sync-identity": true }
         |}""".stripMargin)
    assert(Copy.runFromConfigFile(spark, cfgPath) == 0)
    val expected = exec.Sinks.identityCurrent(
      Scans.table(spark, sfDir, "supplier"), "s_suppkey")
    assert(exec.Sinks.identitySeed(spark, s"$d/supplier.parquet")
      .contains(("s_suppkey", expected)))
  }

  private def freshDerbyDb(name: String): String = {
    val home = exec.DerbyEnv.home // one-time engine home, no re-pointing
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(s"$home/$name"))
    s"jdbc:derby:$home/$name;create=true"
  }

  test("jdbc destination: config-driven copy reseeds the live identity generator") {
    // the reference's true destination shape: a live SQL database whose
    // supplier table carries an identity generator — sync-identity must
    // reseed it via ALTER TABLE … RESTART WITH so a post-copy keyless
    // insert continues the source's sequence
    val url = freshDerbyDb("copydest")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE supplier (
          |  "s_suppkey" BIGINT GENERATED BY DEFAULT AS IDENTITY
          |    (START WITH 1, INCREMENT BY 1),
          |  "s_name" VARCHAR(128),
          |  "s_nationkey" INTEGER,
          |  "s_acctbal" DOUBLE)""".stripMargin)
      st.close()
    } finally conn.close()
    // drive it through the config file — the user path the sink-kind
    // switch exists for
    val d = destDir
    val cfgPath = s"$d/jdbc.config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""{
         |  "source":      { "connection-string": "$sfDir" },
         |  "destination": { "connection-string": "$url" },
         |  "tables": [ "supplier" ],
         |  "options": { "truncate-tables": true, "sync-identity": true }
         |}""".stripMargin)
    assert(Copy.runFromConfigFile(spark, cfgPath) == 0)
    val srcRows = Scans.table(spark, sfDir, "supplier").count()
    val identCurrent = exec.Sinks.identityCurrent(
      Scans.table(spark, sfDir, "supplier"), "s_suppkey")
    // generator reseeded: next value continues AFTER the copied range
    assert(exec.Sinks.identitySeedJdbc(url, "supplier", "s_suppkey")
      .contains(identCurrent + 1))
    // behavior, not intent: a keyless insert gets exactly max+1
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val ins = c2.prepareStatement(
        """INSERT INTO supplier ("s_name") VALUES ('post-copy probe')""",
        java.sql.Statement.RETURN_GENERATED_KEYS)
      ins.executeUpdate()
      val ks = ins.getGeneratedKeys
      ks.next()
      assert(ks.getLong(1) == identCurrent + 1)
    } finally c2.close()
    // the copy itself reconciled: destination rows = source rows (+probe)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    assert(spark.read.jdbc(url, "supplier", props).count() == srcRows + 1)
  }

  test("identity sync resolves an unquoted (uppercase-stored) destination column") {
    // a destination created with UNQUOTED DDL stores TABLE and COLUMN
    // uppercase; the sync's catalog lookup and ALTER statement must find
    // the generator case-insensitively and quote the STORED spelling —
    // the lowercase caller-side name still syncs (ADVICE r7 finding)
    val url = freshDerbyDb("copydest_upper")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE supplier (
          |  s_suppkey BIGINT GENERATED BY DEFAULT AS IDENTITY
          |    (START WITH 1, INCREMENT BY 1),
          |  s_name VARCHAR(128))""".stripMargin)
      st.close()
    } finally conn.close()
    exec.Sinks.reseedIdentityJdbc(url, "supplier", "s_suppkey", 4242L)
    assert(exec.Sinks.identitySeedJdbc(url, "supplier", "s_suppkey")
      .contains(4242L))
    // behavior: a keyless insert draws exactly the restarted value
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val ins = c2.prepareStatement(
        "INSERT INTO supplier (s_name) VALUES ('probe')",
        java.sql.Statement.RETURN_GENERATED_KEYS)
      ins.executeUpdate()
      val ks = ins.getGeneratedKeys
      ks.next()
      assert(ks.getLong(1) == 4242L)
    } finally c2.close()
  }

  /** A fresh Derby database holding `APP.SUPPLIER` with an identity
    * generator plus `otherDdl` (a same-named table in another schema). */
  private def supplierWithTwin(name: String, otherDdl: String): String = {
    val url = freshDerbyDb(name)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE supplier (
          |  "s_suppkey" BIGINT GENERATED BY DEFAULT AS IDENTITY
          |    (START WITH 1, INCREMENT BY 1),
          |  "s_name" VARCHAR(128),
          |  "s_nationkey" INTEGER,
          |  "s_acctbal" DOUBLE)""".stripMargin)
      st.execute("CREATE SCHEMA OTHERUSER")
      st.execute(otherDdl)
      st.close()
    } finally conn.close()
    url
  }

  /** Copy supplier into `url` with identity sync: exits 0, reseeds the
    * current schema's table to IDENT_CURRENT + 1, and leaves the
    * other schema's `otherTable` generator at its start value. */
  private def assertSyncScopedToCurrentSchema(url: String, otherTable: String): Unit = {
    assert(Copy.run(spark, sfDir, url, Seq("supplier"),
      truncateTables = true, syncIdentity = true) == 0)
    val identCurrent = exec.Sinks.identityCurrent(
      Scans.table(spark, sfDir, "supplier"), "s_suppkey")
    assert(exec.Sinks.identitySeedJdbc(url, "supplier", "s_suppkey")
      .contains(identCurrent + 1))
    assert(exec.Sinks.identitySeedJdbc(url, otherTable, "s_suppkey").contains(1L),
      "identity sync reseeded the other schema's table")
  }

  test("identity sync ignores a same-named table in another schema") {
    val url = supplierWithTwin("copydest_twin",
      """CREATE TABLE OTHERUSER.SUPPLIER (
        |  "s_suppkey" BIGINT GENERATED BY DEFAULT AS IDENTITY
        |    (START WITH 1, INCREMENT BY 1))""".stripMargin)
    assertSyncScopedToCurrentSchema(url, "OTHERUSER.SUPPLIER")
  }

  test("identity sync ignores a quoted-lowercase twin in another schema") {
    // the twin's spelling equals the caller's exactly; the current
    // schema's uppercase-stored table is still the one the copy loaded
    val url = supplierWithTwin("copydest_lctwin",
      """CREATE TABLE OTHERUSER."supplier" (
        |  "s_suppkey" BIGINT GENERATED BY DEFAULT AS IDENTITY
        |    (START WITH 1, INCREMENT BY 1))""".stripMargin)
    assertSyncScopedToCurrentSchema(url, "OTHERUSER.supplier")
  }

  test("identity sync resolves a schema-qualified destination name") {
    val url = supplierWithTwin("copydest_qualified",
      "CREATE TABLE OTHERUSER.UNRELATED (id INT)")
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    assert(exec.Dest.Jdbc(url, props).syncIdentity("APP.supplier", "s_suppkey", 4241L))
    assert(exec.Sinks.identitySeedJdbc(url, "supplier", "s_suppkey").contains(4242L))
  }

  test("jdbc destination without an identity generator fails sync with 2") {
    // reseed against a plain column throws in the database — the
    // reference's unverifiable-reseed branch, never a silent success
    val url = freshDerbyDb("copydest_noident")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE supplier (
          |  "s_suppkey" BIGINT,
          |  "s_name" VARCHAR(128),
          |  "s_nationkey" INTEGER,
          |  "s_acctbal" DOUBLE)""".stripMargin)
      st.close()
    } finally conn.close()
    assert(Copy.run(spark, sfDir, url, Seq("supplier"),
      truncateTables = true, syncIdentity = true) == 2)
  }

  test("command-timeout cancels a wedged copy and exits 3") {
    val start = System.nanoTime()
    // the hook wedges INSIDE the table's copy phase (the retry_transient
    // injection pattern); the 2s deadline must cancel it and classify
    // the table as a copy-phase task error
    val code = Copy.run(spark, sfDir, destDir, Seq("region"),
      truncateTables = true, commandTimeoutSec = 2,
      postCopyHook = _ => Thread.sleep(120000))
    val elapsedSec = (System.nanoTime() - start) / 1e9
    assert(code == 3)
    assert(elapsedSec < 60, s"timeout must cancel, not wait out the wedge ($elapsedSec s)")
  }

  test("command-timeout leaves a fast copy untouched") {
    assert(Copy.run(spark, sfDir, destDir, Seq("region"),
      truncateTables = true, commandTimeoutSec = 600) == 0)
  }

  test("command-timeout races: cleanup invariants hold across outcomes") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // (1) body throws BEFORE the deadline: the ORIGINAL exception class
    // propagates (not ExecutionException) and the caller thread's job
    // group is untouched — the group lives only on the worker thread
    val boom = intercept[IllegalStateException] {
      Copy.withCommandTimeout(spark, "race_throw", 30) {
        throw new IllegalStateException("nope")
      }: Unit
    }
    assert(boom.getMessage == "nope")
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    // (2) repeated timeout/complete races, a REAL distributed job (and a
    // real parquet task-commit) inside the group each round: outcome is
    // the value or the classified TimeoutException, never a wedge or a
    // foreign exception; the caller's job group is clean after every round
    val scratch = java.nio.file.Files.createTempDirectory("graft_race").toString
    // untimed warm-up: codegen + committer init, so the fast rounds'
    // writes fit comfortably inside the deadline
    spark.range(1000).toDF("x").write.mode("overwrite").parquet(s"$scratch/warm")
    (1 to 6).foreach { i =>
      val fast = i % 2 == 0
      try {
        // fast rounds get a wide deadline (the write must never lose to a
        // GC pause on a loaded box — the timeout BEHAVIOR is proven by
        // the slow rounds, whose sleep dwarfs their 2 s deadline)
        val v = Copy.withCommandTimeout(spark, s"race$i", if (fast) 60 else 2) {
          spark.range(1000).toDF("x").write.mode("overwrite")
            .parquet(s"$scratch/r$i") // commit protocol inside the group
          if (!fast) Thread.sleep(5000)
          i
        }
        assert(fast && v == i, s"round $i: unexpected completion $v")
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          assert(!fast, s"round $i: fast body must not time out")
      }
      assert(sc.getLocalProperty("spark.jobGroup.id") == null,
        s"round $i leaked a job group onto the caller thread")
    }
    // (3) the session stays fully usable after cancellations — no
    // orphaned cancelled group swallows new jobs
    assert(spark.range(100).count() == 100)
    // (4) no leaked worker threads: every call shuts its executor down
    // (shutdownNow interrupts a wedged body; give reaping a moment)
    val deadline = System.nanoTime() + 5e9.toLong
    def survivors(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.getName.startsWith("graft-copy-timeout-") && t.isAlive)
    while (survivors() > 0 && System.nanoTime() < deadline) Thread.sleep(100)
    assert(survivors() == 0, "command-timeout worker threads leaked")
  }

  test("safe-check readonly detects a source mutated mid-copy; none skips") {
    // stage a MUTABLE copy of the source (testdata is read-only)
    def stage(): String = {
      val s = java.nio.file.Files.createTempDirectory("graft_mut_src").toString
      Scans.table(spark, sfDir, "region").coalesce(1)
        .write.parquet(s"$s/region.parquet")
      s
    }
    // rewrite one committed source file in place with identical bytes:
    // rowcounts still reconcile, ONLY the footprint mtime changes — the
    // exact violation the immutability gate must catch and a rowcount
    // check cannot
    def touchSource(src: String): Unit = {
      val f = new java.io.File(s"$src/region.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      Thread.sleep(1100) // outlast coarse mtime granularity
      java.nio.file.Files.write(f.toPath, bytes)
    }
    val s1 = stage()
    assert(Copy.run(spark, s1, destDir, Seq("region"), truncateTables = true,
      safeCheck = "readonly", postCopyHook = _ => touchSource(s1)) == 2)
    val s2 = stage()
    assert(Copy.run(spark, s2, destDir, Seq("region"), truncateTables = true,
      safeCheck = "none", postCopyHook = _ => touchSource(s2)) == 0)
    // and an unmutated readonly run stays clean
    assert(Copy.run(spark, s2, destDir, Seq("region"), truncateTables = true,
      safeCheck = "readonly") == 0)
  }

  test("safe-check none still recounts at CheckResults (reference recount)") {
    // With the footprint gate OFF, the run holds NO evidence that the
    // analysis-phase source count is still current — so the final
    // rowcount gate must recount the source for real, the reference's
    // unconditional CheckResults recount (SmartBulkCopy.cs:216-245).
    // Before the fix, the cached analysis count made a source that GREW
    // rows during the copy reconcile silently clean under
    // safe-check=none.
    def stage(): String = {
      val s = java.nio.file.Files.createTempDirectory("graft_grow_src").toString
      Scans.table(spark, sfDir, "region").coalesce(1)
        .write.parquet(s"$s/region.parquet")
      s
    }
    // append one real row to the SOURCE mid-run: rowcount changes, so a
    // recount catches it even though the footprint gate is off
    def growSource(src: String): Unit =
      Scans.table(spark, src, "region").limit(1)
        .write.mode("append").parquet(s"$src/region.parquet")
    val s1 = stage()
    assert(Copy.run(spark, s1, destDir, Seq("region"), truncateTables = true,
      safeCheck = "none", postCopyHook = _ => growSource(s1)) == 2)
    // snapshot mode DECLARES the inputs externally immutable — trusting
    // the analysis count is that mode's documented contract, so the
    // same mutation passes (a caller who wants the gate picks readonly)
    val s2 = stage()
    assert(Copy.run(spark, s2, destDir, Seq("region"), truncateTables = true,
      safeCheck = "snapshot", postCopyHook = _ => growSource(s2)) == 0)
  }

  test("safe-check accepts the read-only alias and rejects unknown modes") {
    // the config surface normalizes "read-only"; a direct caller must
    // get the same gate, and a typo must refuse loudly instead of
    // silently running with the immutability check off
    def stage(): String = {
      val s = java.nio.file.Files.createTempDirectory("graft_alias_src").toString
      Scans.table(spark, sfDir, "region").coalesce(1)
        .write.parquet(s"$s/region.parquet")
      s
    }
    def touchSource(src: String): Unit = {
      val f = new java.io.File(s"$src/region.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      Thread.sleep(1100)
      java.nio.file.Files.write(f.toPath, bytes)
    }
    val s = stage()
    assert(Copy.run(spark, s, destDir, Seq("region"), truncateTables = true,
      safeCheck = "read-only", postCopyHook = _ => touchSource(s)) == 2)
    intercept[IllegalArgumentException] {
      Copy.run(spark, sfDir, destDir, Seq("region"), safeCheck = "readony")
    }
  }

  test("command-timeout rethrows a fatal Error instead of counting it") {
    // an OOM-class Error inside the timeout wrapper must crash the run,
    // not be downgraded to one errored table (exit 3) while the copy
    // keeps going in a broken JVM — same behavior as with no timeout
    intercept[LinkageError] {
      Copy.withCommandTimeout(spark, "t", 30) { throw new LinkageError("boom") }
    }
  }

  test("legacy flat tables array rejects non-string entries at load") {
    intercept[IllegalArgumentException] {
      CopyConfig.parse(
        """{"source": {"connection-string": "s"},
          |"destination": {"connection-string": "d"},
          |"tables": ["*", ["-:events"]]}""".stripMargin, _ => None)
    }
  }

  test("wrongly-typed option shapes reject at load, never silently default") {
    // each of these used to parse SILENTLY to the wrong behavior: a
    // container connection-string stringifies to "" (run fails far away
    // as TableNotFound), an object logical-partitions maps to Auto
    // (dropping the user's fixed count), and a scalar stop-if leaves
    // both gates ON that the user explicitly tried to disable
    intercept[IllegalArgumentException] {
      CopyConfig.parse(
        """{"source": {"connection-string": ["/data/sf1"]},
          |"destination": {"connection-string": "d"}}""".stripMargin, _ => None)
    }
    intercept[IllegalArgumentException] {
      CopyConfig.parse(
        """{"source": {"connection-string": "s"},
          |"destination": {"connection-string": "d"},
          |"options": {"logical-partitions": {"count": 16}}}""".stripMargin,
        _ => None)
    }
    intercept[IllegalArgumentException] {
      CopyConfig.parse(
        """{"source": {"connection-string": "s"},
          |"destination": {"connection-string": "d"},
          |"options": {"stop-if": false}}""".stripMargin, _ => None)
    }
  }

  test("declared metas agree with the synthesized sys catalog rows") {
    // two representations of one fixture: TableMeta.foreignKeyCount must
    // equal this table's sysForeignKeys rows under the REFERENCE
    // collector's disjunctive counting (parent OR referenced,
    // TableInfoCollector.cs:487-496 — the count meta_fk_count publishes
    // and the analyzer's abort gate consumes), and each temporal table
    // must point at ITS OWN history table's object id — a consumer
    // crossing the representations (destMeta vs sys frames) reads the
    // same facts either way
    Catalog.tableNames.zipWithIndex.foreach { case (n, i) =>
      val declaredFks = Catalog.declared(n).foreignKeyCount
      val rowFks = Catalog.foreignKeyRows.count(
        r => r._2 == i + 1 || r._3 == i + 1)
      assert(declaredFks == rowFks,
        s"$n: declared foreignKeyCount $declaredFks != catalog rows $rowFks")
      Catalog.declared(n).history.foreach { h =>
        val hid = Catalog.historyTableIds(h.historyTable)
        val pointed = Catalog.tableRows.find(_._3 == n).flatMap(_._4)
        assert(pointed.contains(hid),
          s"$n: history_table_id $pointed != ${h.historyTable}'s id $hid")
        assert(Catalog.tableRows.exists(r => r._1 == hid && r._3 == h.historyTable),
          s"${h.historyTable}: no catalog row under its own id $hid")
      }
    }
  }

  test("analysis failure aborts BEFORE any table is copied") {
    val d = destDir
    val dst = Catalog.collect(spark, sfDir, "nation")
      .copy(storage = Storage.Heap, secondaryIndexCount = 0, history = None,
        foreignKeyCount = 1)
    // region analyzes clean but nation's FK must abort the whole run
    // during analysis — so region's destination is never written
    assert(Copy.run(spark, sfDir, d, Seq("region", "nation"),
      destMeta = Map("nation" -> dst)) == 5)
    assert(!new java.io.File(s"$d/region.parquet").exists(),
      "analysis failure must fail fast before the copy phase")
  }

  /** `t` committed under `d` with exactly its source's row count. */
  private def landed(d: String, t: String): Boolean =
    new java.io.File(s"$d/$t.parquet").exists() &&
      exec.Sinks.committedRowCount(spark, s"$d/$t.parquet") ==
        Scans.table(spark, sfDir, t).count()

  test("a failing table does not stop the others: they land and reconcile, exit 3") {
    val d = destDir
    assert(Copy.run(spark, sfDir, d, Seq("region", "nation", "supplier"),
      truncateTables = true,
      postCopyHook = t =>
        if (t == "nation") throw new RuntimeException("injected task failure")) == 3)
    assert(landed(d, "region") && landed(d, "supplier"))
  }

  test("several analysis failures: the first in list order decides the exit code") {
    // nation's destination carries an FK (5), supplier's a secondary
    // index (4): whichever is listed first must win on every run, however
    // the concurrent analyses happen to finish
    val fk = Catalog.collect(spark, sfDir, "nation").copy(storage = Storage.Heap,
      secondaryIndexCount = 0, history = None, foreignKeyCount = 1)
    val ix = Catalog.collect(spark, sfDir, "supplier").copy(storage = Storage.Heap,
      secondaryIndexCount = 1, history = None, foreignKeyCount = 0)
    val metas = Map("nation" -> fk, "supplier" -> ix)
    (1 to 5).foreach { i =>
      assert(Copy.run(spark, sfDir, destDir, Seq("region", "nation", "supplier"),
        destMeta = metas) == 5, s"repeat $i")
      assert(Copy.run(spark, sfDir, destDir, Seq("region", "supplier", "nation"),
        destMeta = metas) == 4, s"repeat $i")
    }
  }

  test("a wedged table times out alone: the others commit and no worker survives") {
    import scala.jdk.CollectionConverters._
    val tables = Seq("region", "nation", "supplier")
    // untimed warm-up: the fast tables' loads must sit well inside the
    // 2 s deadline, so codegen and the committer are initialized first
    assert(Copy.run(spark, sfDir, destDir, tables, truncateTables = true) == 0)
    val d = destDir
    val start = System.nanoTime()
    val code = Copy.run(spark, sfDir, d, tables, truncateTables = true,
      commandTimeoutSec = 2,
      postCopyHook = t => if (t == "nation") Thread.sleep(120000))
    val elapsedSec = (System.nanoTime() - start) / 1e9
    assert(code == 3)
    assert(elapsedSec < 60, s"timeout must cancel, not wait out the wedge ($elapsedSec s)")
    assert(landed(d, "region") && landed(d, "supplier"))
    def survivors(): Set[String] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && (t.getName.startsWith("graft-copy-worker-") ||
        t.getName.startsWith("graft-copy-timeout-")))
      .map(_.getName).toSet
    val deadline = System.nanoTime() + 5e9.toLong
    while (survivors().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(survivors().isEmpty, s"copy threads leaked: ${survivors()}")
  }

  test("tasks = 1 lands the same destinations and exit code as the default width") {
    // width 1 is the serial queue; a batch below the larger tables' row
    // counts puts them on sliced plans, so the slice fan-outs run too
    val tables = Seq("region", "nation", "supplier", "orders", "lineitem", "events")
    def content(d: String, t: String): Seq[String] =
      spark.read.parquet(s"$d/$t.parquet").collect().map(_.mkString("|")).sorted.toSeq
    val runs = Seq(PlanConfig(tasks = 1, batchSize = 500), PlanConfig(batchSize = 500))
      .map { conf =>
        val d = destDir
        d -> Copy.run(spark, sfDir, d, tables, conf, truncateTables = true,
          syncIdentity = true)
      }
    assert(runs.map(_._2) == Seq(0, 0))
    tables.foreach(t =>
      assert(content(runs(0)._1, t) == content(runs(1)._1, t), s"$t differs by width"))
  }

  test("catalog row count from footers equals count() on every layout") {
    import org.apache.spark.sql.functions.{col, date_trunc}
    val root = java.nio.file.Files.createTempDirectory("graft_footer_count")
    try {
      val dir = root.toString
      val li = Scans.table(spark, sfDir, "lineitem")
      // unpartitioned multi-file directory, as a Spark writer leaves it
      li.repartition(8).write.parquet(s"$dir/multi/lineitem.parquet")
      // hive-partitioned into <pcol>= directories
      li.withColumn("l_shipdate", date_trunc("year", col("l_shipdate")))
        .write.partitionBy("l_shipdate").parquet(s"$dir/hive/lineitem.parquet")
      // a committed table beside a crashed writer's `_temporary` attempt
      li.write.parquet(s"$dir/tmp/lineitem.parquet")
      val part = new java.io.File(s"$dir/tmp/lineitem.parquet").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val attempt = java.nio.file.Paths.get(
        s"$dir/tmp/lineitem.parquet/_temporary/0/_temporary/attempt_0")
      java.nio.file.Files.createDirectories(attempt)
      java.nio.file.Files.copy(part, attempt.resolve(part.getFileName))
      for (src <- Seq(sfDir, s"$dir/multi", s"$dir/hive", s"$dir/tmp"))
        assert(Catalog.collect(spark, src, "lineitem").rowCount ==
          Scans.table(spark, src, "lineitem").count(), src)
      assert(Catalog.collect(spark, s"$dir/tmp", "lineitem").rowCount == li.count(),
        "a _temporary attempt was counted")
    } finally deleteTree(root)
  }

  test("a source rewritten at the same path between runs is collected afresh") {
    // Catalog.collect reads the footers on every call: a second run in
    // the same JVM must plan and reconcile on the NEW files, not a count
    // remembered from the first run
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_rewrite")
    try {
      val src = s"$root/src"
      val d = destDir
      Scans.table(spark, sfDir, "orders").write.parquet(s"$src/orders.parquet")
      assert(Copy.run(spark, src, d, Seq("orders"), truncateTables = true) == 0)
      Scans.table(spark, src, "orders").limit(100).write.parquet(s"$root/next")
      deleteTree(Paths.get(s"$src/orders.parquet"))
      Files.move(Paths.get(s"$root/next"), Paths.get(s"$src/orders.parquet"))
      assert(Copy.run(spark, src, d, Seq("orders"), truncateTables = true) == 0)
      val (copied, source) =
        (spark.read.parquet(s"$d/orders.parquet"), spark.read.parquet(s"$src/orders.parquet"))
      assert(copied.count() == 100)
      assert(copied.exceptAll(source).isEmpty && source.exceptAll(copied).isEmpty)
    } finally deleteTree(root)
  }

  test("footer identity max equals the max() scan on every layout") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_footer_ident")
    try {
      val dir = root.toString
      def agree(d: String, t: String, c: String): Unit = {
        val scanned = exec.Sinks.identityCurrent(Scans.table(spark, d, t), c)
        assert(exec.Sinks.footerIdentityCurrent(spark, s"$d/$t.parquet", c)
          .contains(scanned), s"$d/$t.$c")
      }
      Catalog.identityColumns.foreach { case (t, c) => agree(sfDir, t, c) }
      Scans.table(spark, sfDir, "orders").repartition(8)
        .write.parquet(s"$dir/multi/orders.parquet")
      agree(s"$dir/multi", "orders", "o_orderkey")
      Seq.empty[Long].toDF("id").write.parquet(s"$dir/empty/t.parquet")
      agree(s"$dir/empty", "t", "id")
      Seq[(Option[Long], String)]((None, "a"), (None, "b")).toDF("id", "v")
        .write.parquet(s"$dir/nulls/t.parquet")
      agree(s"$dir/nulls", "t", "id")
      Seq(3, 9, -2).toDF("id").write.parquet(s"$dir/int32/t.parquet")
      agree(s"$dir/int32", "t", "id")
    } finally deleteTree(root)
  }

  test("an id the footer statistics cannot answer for takes the scan path") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_footer_ident_scan")
    try {
      val dir = root.toString
      // a DECIMAL id stored as INT32: its max() is not an integer max
      Seq(5, 7).toDF("id").selectExpr("CAST(id AS DECIMAL(9,0)) AS id")
        .write.parquet(s"$dir/decimal/t.parquet")
      assert(exec.Sinks.footerIdentityCurrent(spark, s"$dir/decimal/t.parquet", "id").isEmpty)
      // the largest ids sit in a file written without statistics: every
      // row group must answer, or the max would come from the others
      val stats = s"$dir/src/supplier.parquet"
      val supplier = Scans.table(spark, sfDir, "supplier")
      supplier.write.parquet(stats)
      supplier.withColumn("s_suppkey", $"s_suppkey" + 1000)
        .write.mode("append").option("parquet.column.statistics.enabled", "false")
        .parquet(stats)
      assert(exec.Sinks.footerIdentityCurrent(spark, stats, "s_suppkey").isEmpty)
      val expected = exec.Sinks.identityCurrent(Scans.table(spark, s"$dir/src", "supplier"),
        "s_suppkey")
      val d = destDir
      assert(Copy.run(spark, s"$dir/src", d, Seq("supplier"), truncateTables = true,
        syncIdentity = true) == 0)
      assert(exec.Sinks.identitySeed(spark, s"$d/supplier.parquet")
        .contains(("s_suppkey", expected)))
    } finally deleteTree(root)
  }
}
