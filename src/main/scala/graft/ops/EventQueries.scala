package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Scans

/** Event-stream analytics over the `events` table — batch-mode windowed
  * aggregation, sessionization and top-k (SURVEY.md §2 extension rows).
  * The same transforms run incrementally under Structured Streaming in
  * [[graft.streaming.EventStreams]]; batch mode keeps the oracle
  * DuckDB-expressible.
  *
  * The engine's event-time grain is MICROSECONDS (Spark's
  * TimestampType): a nanosecond-precision source truncates to µs on read
  * (`Scans.table`), and every oracle comparison or ordering on a raw
  * timestamp goes through `epoch_us`/`epoch_ms` so DuckDB judges at the
  * same (or a composing coarser) grain — a raw-`ts` compare in an oracle
  * would silently re-introduce the ns residue the engine has already
  * dropped (two same-µs events whose ns order opposes their event_id
  * tiebreak would sequence differently per engine).
  */
object EventQueries {

  /** Hard cap on the events_gap_fill dense-hour spine, in hours
    * (~11.4 years — far above any sane telemetry window, far below the
    * ~70M-hour spine one corrupted year-9999 event would otherwise
    * generate). The clamp is identity below the cap and is mirrored
    * verbatim into the oracle SQL, so the sane-corpus hashes are
    * untouched while a poisoned max(ts) can no longer turn the bounded
    * zero-fill into an unbounded generate. Gated by the
    * timestamp-extremes sweep in EmptyInputSpec.
    */
  private[graft] val gapFillSpineCapHours = 100000

  /** Shared by `events_cdc_merge` (the batch operator) and
    * `events_cdc_stream_equiv` (the streaming materializer's replay):
    * one oracle, two execution paths — the equivalence IS the contract.
    */
  private val cdcMergeOracle: String =
    """WITH s AS (
      |  SELECT user_id, event_type, ms FROM (
      |    SELECT user_id, event_type, epoch_ms(ts) AS ms,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events) t
      |  WHERE rn = 1)
      |SELECT user_id % 20 AS bucket, event_type,
      |       count(*) AS n_users, CAST(sum(ms // 1000) AS BIGINT) AS sum_s
      |FROM s GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** Shared by `events_session_window` (batch) and
    * `events_stream_session_equiv` (the append-mode streaming replay):
    * one oracle, two execution paths.
    */
  private val sessionWindowOracle: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |marked AS (
      |  SELECT user_id, ms,
      |         CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
      |              OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
      |                 >= 1800000
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sessions AS (
      |  SELECT user_id, ms,
      |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           AS session_seq
      |  FROM marked)
      |SELECT user_id, min(ms) AS session_start_ms,
      |       max(ms) + 1800000 AS session_end_ms, count(*) AS n_events
      |FROM sessions GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** Stage `$dir/events.parquet` behind a scratch directory (the parquet
    * file source wants a directory, not a file): one symlink with an
    * ABSOLUTE target, so a relative `SPARK_GRAFT_SF_DIR` still resolves
    * (a relative symlink target would resolve against the temp dir and
    * dangle). Callers must clean up via [[dropStagedEventsDir]] — Bench
    * replays the query several times per session, so leaking one scratch
    * dir per run would accumulate.
    */
  private def stageEventsDir(dir: String): java.nio.file.Path = {
    val streamDir = graft.exec.Fs.scratchDir("graft_cdc_stream")
    // a throw AFTER the mkdir but before the caller's try/finally is
    // armed must not leak the fresh dir (callers stage OUTSIDE their
    // replay try block — the helper owns cleanup until it returns)
    try {
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("events.parquet"),
        java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath.normalize())
      streamDir
    } catch { case e: Throwable =>
      dropStagedEventsDir(streamDir)
      throw e
    }
  }

  private def dropStagedEventsDir(streamDir: java.nio.file.Path): Unit = {
    java.nio.file.Files.deleteIfExists(streamDir.resolve("events.parquet"))
    java.nio.file.Files.deleteIfExists(streamDir)
  }

  /** Stage a sentinel-driven replay source: scratch dir + the corpus
    * file symlinked as `a_events.parquet` (FIRST by name) + the
    * far-future sentinel frame staged as the LAST micro-batch — the
    * name/mtime ordering contract the watermark-driven replays
    * (histogram, both session paths) share. ONE definition: a future
    * fix to the ordering or the sentinel ts derivation must reach all
    * three replays at once (the two-copies-could-silently-diverge rule
    * the CDC recovery helper already follows). On a staging throw the
    * helper cleans its own dir; after it returns, the caller owns
    * cleanup via [[deleteTree]].
    */
  private def stageSentinelSource(
      s: SparkSession, dir: String, prefix: String,
      extras: Seq[(String, Column)]): java.nio.file.Path = {
    val streamDir = graft.exec.Fs.scratchDir(prefix)
    try {
      val eventsLink = streamDir.resolve("a_events.parquet")
      java.nio.file.Files.createSymbolicLink(eventsLink,
        java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath.normalize())
      stageSentinelFile(streamDir, sentinelFrame(s, dir, 10, extras), eventsLink)
      streamDir
    } catch { case e: Throwable => deleteTree(streamDir); throw e }
  }

  /** The CDC replays' shared input projection: representation-agnostic
    * ts normalization down to the `LatestIn` grain — ONE definition for
    * both replay shapes (single-run file sink and restart/re-delivery),
    * identical to the batch path's derivation.
    */
  private def cdcLatestIn(s: SparkSession, raw: DataFrame)
      : org.apache.spark.sql.Dataset[graft.streaming.EventStreams.LatestIn] = {
    import s.implicits._
    Scans.normalizeTs(raw)
      .select(col("user_id").as("userId"), unix_millis(col("ts")).as("ms"),
        col("event_id").as("eventId"), col("event_type").as("eventType"))
      .as[graft.streaming.EventStreams.LatestIn]
  }

  /** Recursive scratch cleanup for file-sink + checkpoint replays (sink
    * and checkpoint directories nest metadata/state files) — the shared
    * [[graft.exec.Fs.deleteTree]] walk. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    graft.exec.Fs.deleteTree(root)

  /** events_dau_wau_mau_hll's daily rollup: events aggregate STRAIGHT
    * into per-day HLL sketches — no (day, user) distinct first. HLL
    * insertion is duplicate-insensitive, so the sketches are identical
    * to a deduped build's, and skipping the dedup means the ONLY
    * corpus-proportional exchange is partial (map-side) sketch
    * aggregation shipping |days|·|tasks| ~KB buffers — the property
    * that makes the sketch path the at-scale form (a pre-distinct
    * would shuffle every (day, user) pair cluster-wide first, exactly
    * the cost the key exists to avoid). Package-visible so the plan
    * lock can assert the single-exchange shape BEFORE the reuse
    * checkpoint in the query body truncates the visible plan.
    */
  private[graft] def dauHllDaily(s: SparkSession, dir: String): DataFrame =
    Scans.table(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .groupBy(col("d"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))

  /** Child session with the replay's state-store fan-out capped to
    * `parts` shuffle partitions, leaving the caller's conf untouched:
    * keyed streaming state costs one state-store instance per shuffle
    * partition per micro-batch, and a replay's per-user/per-window key
    * cardinality never warrants the session default (measured across
    * the replays: the store count is the dominant replay cost; a
    * production stream sizes this to its continuous key throughput
    * instead). The streaming replays' ONE isolation idiom — a conf
    * pinned here (e.g. a future state-store setting) reaches every
    * replay at once.
    */
  private def cappedSession(s0: SparkSession, parts: Int): SparkSession = {
    val c = s0.newSession()
    c.conf.set("spark.sql.shuffle.partitions", parts)
    c
  }

  /** Recover the CDC snapshot from a latest-state sink and roll it up
    * under events_cdc_merge's oracle grain: the sink may hold one row
    * per (restart, re-delivery) of a user, so recovery is the per-user
    * MAX (ms, eventId, eventType) struct — at-least-once re-delivery
    * collapses to exactly-once state — then the bucket/type rollup with
    * the integer-exact pmod-floor second truncation. ONE definition
    * shared by the memory-shaped and file-sink CDC replays: the
    * recovery-is-per-user-max property is part of the declared
    * equivalence contract, and two copies could silently diverge.
    */
  private def recoverCdcSnapshot(sink: DataFrame): DataFrame =
    sink
      .groupBy(col("userId"))
      .agg(max(struct(col("ms"), col("eventId"), col("eventType"))).as("b"))
      .select(col("userId").as("user_id"), col("b.ms").as("ms"),
        col("b.eventType").as("event_type"))
      .groupBy((col("user_id") % 20).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("(ms - pmod(ms, 1000)) div 1000")).cast("long").as("sum_s"))
      .orderBy(col("bucket"), col("event_type"))

  /** Run a finite streaming replay through the sink shape a production
    * pipeline actually runs — a parquet FILE sink with a
    * checkpointLocation — then recover the result from the COMMITTED
    * files (`spark.read` over a file-sink directory consults its
    * `_spark_metadata` transaction log, so only files the checkpoint
    * committed are visible: the restart-safe recovery path) and
    * materialize `recover`'s rollup via `localCheckpoint(eager)` BEFORE
    * the scratch sink is deleted. Every declared streaming replay goes
    * through this helper — no driver-resident memory sink anywhere in
    * the declared surface.
    */
  private def fileSinkReplay(s: SparkSession, streamed: DataFrame)
      (recover: DataFrame => DataFrame): DataFrame = {
    val scratch = graft.exec.Fs.scratchDir("graft_stream_sink")
    try {
      val q = streamed.writeStream.format("parquet")
        .option("path", scratch.resolve("sink").toString)
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      // recovery read carries the stream's OWN output schema: an empty
      // replay (empty corpus, all rows filtered) commits zero files,
      // and footer inference over a file-less sink throws — the
      // _spark_metadata-guarded read works identically either way
      recover(s.read.schema(streamed.schema)
          .parquet(scratch.resolve("sink").toString))
        .localCheckpoint(true)
    } finally deleteTree(scratch)
  }

  /** One-row sentinel frame whose `ts` sits `hours` hours past the corpus
    * max, rendered in the raw events file's OWN physical representation of
    * `ts` (long-ns / µs-NTZ / µs-timestamp) so the staged file's schema
    * always matches the stream source's whatever the testdata writer
    * emitted. Computed entirely frame-side — the max-plus-offset arithmetic
    * stays in the column's native type, no driver-side getter to class-cast
    * when the representation shifts. `extra` adds the other columns the
    * sentinel row needs (missing source columns read back as null, which
    * the parquet file source tolerates).
    */
  private def sentinelFrame(s: SparkSession, dir: String, hours: Int,
      extra: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val tsType = raw.schema("ts").dataType
    // coalesce: max(ts) is NULL over an empty corpus, and a null-ts
    // sentinel is worse than useless — it can NPE inside a stateful
    // operator's event-time getter. The epoch default keeps the
    // sentinel a valid (if vacuous) watermark driver; on any non-empty
    // corpus the coalesce is a no-op.
    val base = coalesce(max(col("ts")), tsType match {
      case org.apache.spark.sql.types.LongType => lit(0L)
      case _ => lit("1970-01-01 00:00:00").cast(tsType)
    })
    val bumped = tsType match {
      case org.apache.spark.sql.types.LongType =>
        base + lit(hours.toLong * 3600L * 1000L * 1000L * 1000L)
      case _ => base + expr(s"INTERVAL $hours HOURS")
    }
    extra.foldLeft(raw.agg(bumped.as("ts"))) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
  }

  /** Stage a one-row sentinel DataFrame as a single parquet file inside
    * `streamDir`, stamped strictly newer than `newerThan` on both the
    * name axis (`z_` prefix vs `a_`) and the mtime axis — so under
    * `maxFilesPerTrigger=1` the sentinel is deterministically the LAST
    * micro-batch whatever the file source's tie-break. A far-future
    * sentinel event drives the watermark past every real window, which
    * is what lets a FINITE replay finalize append-mode windowed state
    * the way an unbounded stream eventually would; the sentinel's own
    * open window never emits, so it needs no filtering downstream.
    */
  private def stageSentinelFile(
      streamDir: java.nio.file.Path,
      sentinelRow: DataFrame,
      newerThan: java.nio.file.Path): Unit = {
    val baseMtime = java.nio.file.Files
      .getLastModifiedTime(newerThan).toMillis // follows to the target
    stageParquetFile(sentinelRow, streamDir.resolve("sentinel_build"),
      streamDir.resolve("z_sentinel.parquet"),
      // guard against a future-dated base file: strictly newer on the
      // mtime axis whatever the base carries
      math.max(System.currentTimeMillis(), baseMtime + 60000))
  }

  /** Write `df` as ONE parquet file at `dest` (coalesced build under
    * `buildDir`, first part-file moved into place) stamped `mtimeMs` —
    * the staging primitive behind every deterministic multi-batch file
    * source: under `maxFilesPerTrigger=1` the file source orders
    * batches by (mtime, name), so the stamp IS the batch-order
    * contract. ONE definition (sentinel + time-split replays) so the
    * ordering contract cannot drift between stagings.
    */
  private def stageParquetFile(df: DataFrame, buildDir: java.nio.file.Path,
      dest: java.nio.file.Path, mtimeMs: Long): Unit = {
    df.coalesce(1).write.parquet(buildDir.toString)
    val listing = java.nio.file.Files.list(buildDir)
    val staged = try {
      val it = listing.iterator(); var moved = false
      while (it.hasNext && !moved) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, dest); moved = true
        }
      }
      moved
    } finally listing.close()
    require(staged, s"staged parquet ${dest.getFileName} not written")
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // events_gap_fill — zero-filled hourly time series: the resampling
    // step every monitoring/telemetry consumer needs (a chart or an
    // anomaly detector must see "0 events this hour", not a missing
    // row). The dense hour spine is generated DISTRIBUTED-side
    // (sequence + explode over the corpus min/max hour — no driver
    // collect), the event-type dimension is a distinct over the tiny
    // type domain, and the spine×types frame (thousands of rows)
    // broadcast-joins against the real hourly rollup — at 100 TB the
    // fact table still aggregates ONCE on (type, hour) and only the
    // small dense spine is materialized beyond it.
    //
    // SPAN CLAMP (the timestamp-extremes axis): the spine length is
    // min..max of EVENT TIME, so ONE corrupted year-9999 (or epoch-0)
    // row would expand the sequence to ~70M hours per side — not a
    // crash but an unbounded generate, the runtime-explosion class a
    // 100 TB corpus makes certain. The spine is therefore capped at
    // gapFillSpineCapHours from h0 (identity below the cap — the sane
    // corpus spans days; mirrored into the oracle SQL so hashes stay
    // pinned); hours past the clamp are reported as absent rather
    // than zero-filled, the declared bounded-output contract. The
    // timestamp-extremes sweep (EmptyInputSpec) gates the whole
    // surface under a time/cardinality budget against exactly this
    // corpus.
    // ------------------------------------------------------------------
    QueryDef("events_gap_fill",
      s"""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |                  count(*) AS n FROM events GROUP BY 1, 2),
        |bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
        |                  least(date_trunc('hour', max(ts)),
        |                        date_trunc('hour', min(ts))
        |                          + INTERVAL $gapFillSpineCapHours HOUR) AS h1
        |           FROM events),
        |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |          FROM bounds),
        |et AS (SELECT DISTINCT event_type FROM events)
        |SELECT et.event_type, epoch_ms(hours.h) AS hour_ms,
        |       coalesce(b.n, 0) AS n_events
        |FROM et CROSS JOIN hours
        |LEFT JOIN b ON b.event_type = et.event_type AND b.h = hours.h
        |ORDER BY et.event_type, hour_ms""".stripMargin) { (s, dir) =>
      // ONE corpus scan: bounds and the type domain both derive from
      // the (type, hour) rollup itself (hour-truncation commutes with
      // min/max), not from two extra passes over the raw events
      val hourly = Scans.table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val spine = hourly
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("h0"), least(col("h1"),
          col("h0") + expr(s"INTERVAL $gapFillSpineCapHours HOUR")).as("h1c"))
        .select(explode(sequence(col("h0"), col("h1c"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val types = hourly.select(col("event_type")).distinct()
      // the broadcast belongs on the RIGHT side of the left-outer join
      // (BuildRight is the only broadcastable side there): hinting only
      // the cross-join inputs leaves the outer join a sort-merge with
      // both sides exchanged unless AQE happens to rescue it — and the
      // post-aggregation rollup is exactly the small side at any scale
      broadcast(types).crossJoin(broadcast(spine))
        .join(broadcast(hourly), Seq("event_type", "h"), "left")
        .select(col("event_type"), unix_millis(col("h")).as("hour_ms"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("hour_ms"))
    },

    // ------------------------------------------------------------------
    // events_window_agg — tumbling 1-hour windows: count, distinct
    // users, value sum per (window, event_type). Spark's `window()` on
    // event time — the same construct Structured Streaming uses with a
    // watermark.
    // ------------------------------------------------------------------
    QueryDef("events_window_agg",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      // integer-CENTS sum (here and in every key summing `value`):
      // value is 2-dp money, so round(value*100) is an exact-integer
      // double on both engines and the running sum is BIGINT — exact,
      // summation-order-independent, partitioning-independent. A double
      // sum's low bits reorder under parallelism (the anomaly-zscore
      // caveat), so round(sum(value), 2) could flake near a .005
      // boundary run to run, let alone across engines.
      Scans.table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          graft.streaming.EventStreams.centsExactSum.as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("n_users"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // ------------------------------------------------------------------
    // events_sessionize — lag-gap sessionization: a new session starts
    // after a >30-minute silence per user; per-session event count and
    // duration. Pure window functions — one shuffle on user_id.
    // ------------------------------------------------------------------
    QueryDef("events_sessionize",
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |marked AS (
        |  SELECT user_id, ms,
        |         CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
        |                   > 1800000
        |              OR lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, ms,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS session_seq
        |  FROM marked)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |       min(ms) AS start_ms, max(ms) AS end_ms,
        |       max(ms) - min(ms) AS duration_ms
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      Scans.table(s, dir, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
          (max(col("ms")) - min(col("ms"))).as("duration_ms"))
        .orderBy(col("user_id"), col("session_seq"))
    },

    // ------------------------------------------------------------------
    // events_topk_users — top-5 users by event volume with deterministic
    // rank. At scale: partial aggregation map-side, then a single
    // TakeOrdered — no global sort materialization.
    // ------------------------------------------------------------------
    QueryDef("events_topk_users",
      """SELECT rank, user_id, n_events FROM (
        |  SELECT user_id, count(*) AS n_events,
        |         row_number() OVER (ORDER BY count(*) DESC, user_id) AS rank
        |  FROM events GROUP BY user_id) r
        |WHERE rank <= 5 ORDER BY rank""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        // TakeOrdered first — the rank window then covers 5 rows, not
        // every user through a single partition
        .orderBy(col("n_events").desc, col("user_id")).limit(5)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n_events").desc, col("user_id")))
            .cast("long"))
        .select(col("rank"), col("user_id"), col("n_events"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // events_session_window — Spark's NATIVE session_window operator
    // (dynamic-gap session aggregation, one shuffle on user_id; the same
    // operator works under Structured Streaming with state eviction by
    // watermark). Session = events chained closer than 30 min; window
    // end = last event + gap. Oracle: lag-gap island construction —
    // note >= gap starts a new session (session_window merges only
    // strictly-overlapping extents).
    // ------------------------------------------------------------------
    QueryDef("events_session_window", sessionWindowOracle) { (s, dir) =>
      // ms-truncated event time, NOT the raw µs ts: the oracle (and the
      // timeout replay, which runs on Timestamp.getTime) evaluates the
      // 30-minute gap on ms-floored epochs, while the native
      // session_window would compare at µs grain — a boundary gap of
      // exactly 30 min in ms but 29:59.999xxx in µs would merge here
      // and split there (the same straddle events_stream_join_equiv
      // pins via normalizeTsMillis). One grain across all three
      // session paths.
      Scans.normalizeTsMillis(Scans.table(s, dir, "events"))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("session_start_ms"),
          unix_millis(col("session_window.end")).as("session_end_ms"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_ms"))
    },

    // ------------------------------------------------------------------
    // events_funnel — conversion funnel: of users who clicked, how many
    // purchased within 1 hour of any click. The probe is a LEFT SEMI
    // join on (user_id equality + time range) — shuffle on user_id only,
    // the range check runs inside each user's partition, and the semi
    // join never materializes purchase rows.
    // ------------------------------------------------------------------
    QueryDef("events_funnel",
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
        |      WHERE event_type = 'purchase'),
        |conv AS (SELECT DISTINCT c.user_id FROM c
        |         WHERE EXISTS (SELECT 1 FROM p
        |                       WHERE p.user_id = c.user_id
        |                         AND p.ms > c.ms AND p.ms <= c.ms + 3600000))
        |, m AS (SELECT (SELECT count(DISTINCT user_id) FROM c) AS cu,
        |             (SELECT count(*) FROM conv) AS cv)
        |SELECT cu AS clicking_users, cv AS converting_users,
        |       ((2 * cv * 1000000 + greatest(cu, 1)) // (2 * greatest(cu, 1)))
        |         / 1000000.0 AS conversion_rate
        |FROM m""".stripMargin) {
      (s, dir) =>
      // ONE corpus scan: the click/purchase projection is materialized
      // once and feeds the semi-join (both sides), the distinct-user
      // count and the converting count — without this, clicks is
      // scanned twice and purchases a third time (the double-scan class
      // events_power_users_pareto eliminates the same way), which is
      // what dominates at 100 TB
      val ev = Scans.table(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
        .localCheckpoint(true)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ms").as("p_ms"))
      val converting = clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_ms") > col("ms") && col("p_ms") <= col("ms") + 3600000L,
          "left_semi")
        .select(col("user_id")).distinct()
        .agg(count(lit(1)).as("converting_users"))
      // the published rate is an integer half-up quotient at 6 dp —
      // round() of a ratio double is the non-portable step (Spark
      // rounds the shortest-decimal rendering, DuckDB the binary
      // value), the class the ab-test/forecast keys already fixed
      clicks.agg(count_distinct(col("user_id")).as("clicking_users"))
        .crossJoin(converting)
        // greatest(cu, 1): a corpus slice with zero clicks must report
        // a 0 rate, not throw DIVIDE_BY_ZERO under ANSI (converters are
        // click-gated, so cv is 0 whenever cu is)
        .select(col("clicking_users"), col("converting_users"),
          (expr("(2 * converting_users * 1000000 + greatest(clicking_users, 1))" +
            " div (2 * greatest(clicking_users, 1))") / lit(1000000.0))
            .as("conversion_rate"))
    },

    // ------------------------------------------------------------------
    // events_retention — cohort retention: for each user take their
    // first active day (d0), then count users active again at each day
    // offset 0..7. ONE corpus scan and ONE data-proportional shuffle:
    // collect_set(day) per user dedups in the map-side partials (the
    // same collapse a separate distinct would shuffle for) and lands
    // each user's whole active-day set on one reducer, where d0
    // (array_min) and every offset are row-local. Per-user state is the
    // distinct active-day set — bounded by the calendar, a few KB even
    // for a bot active daily for a decade — so the single-shuffle form
    // is also the at-scale one; the distinct→window and distinct→join
    // alternatives both pay a second full shuffle of the user-day table.
    // ------------------------------------------------------------------
    QueryDef("events_retention",
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM d GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, day FROM d)
        |SELECT date_diff('day', f.d0, act.day) AS day_offset,
        |       count(*) AS n_users
        |FROM act JOIN f ON act.user_id = f.user_id
        |WHERE date_diff('day', f.d0, act.day) <= 7
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg(collect_set(col("day")).as("days"))
        .select(array_min(col("days")).as("d0"),
          explode(col("days")).as("day"))
        .select(datediff(col("day"), col("d0")).cast("long").as("day_offset"))
        .filter(col("day_offset") <= 7)
        .groupBy(col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("day_offset"))
    },

    // ------------------------------------------------------------------
    // window_range_frame — RANGE frame (value-based, not row-based):
    // per event, activity of the same user in the TRAILING HOUR
    // (RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW over epoch ms).
    // The frame extends by timestamp value, so same-ms ties land in the
    // same frame on every engine. One shuffle on user_id.
    // ------------------------------------------------------------------
    QueryDef("window_range_frame",
      """SELECT event_id, user_id, ms,
        |       count(*) OVER w AS n_trailing_hour,
        |       (sum(CAST(round(value * 100) AS BIGINT)) OVER w) / 100.0 AS sum_trailing_hour
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ms, value
        |      FROM events WHERE user_id < 20) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ms, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      Scans.table(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ms"), col("value"))
        .select(col("event_id"), col("user_id"), col("ms"),
          count(lit(1)).over(w).as("n_trailing_hour"),
          (sum(graft.streaming.EventStreams.centsLong).over(w) / lit(100.0)).as("sum_trailing_hour"))
        .orderBy(col("user_id"), col("ms"), col("event_id"))
    },

    // ------------------------------------------------------------------
    // events_user_lifetime — per-user lifetime profile: first/last
    // activity, active-day count, total value. One shuffle on user_id,
    // O(1) state per user — the profile aggregation of a user-facing
    // pipeline. Bounded to user_id < 50 to keep the oracle small.
    // ------------------------------------------------------------------
    QueryDef("events_user_lifetime",
      """SELECT user_id,
        |       min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms,
        |       count(DISTINCT CAST(ts AS DATE)) AS active_days,
        |       count(*) AS n_events, sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(min(unix_millis(col("ts"))).as("first_ms"),
          max(unix_millis(col("ts"))).as("last_ms"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          count(lit(1)).as("n_events"),
          graft.streaming.EventStreams.centsExactSum.as("total_value"))
        .orderBy(col("user_id"))
    },

    // ------------------------------------------------------------------
    // events_anomaly_zscore — volume anomaly detection: hourly event
    // counts z-scored against the whole series; |z| > 2 flags the hour.
    // The stats pass is one tiny aggregate over the (already reduced)
    // hourly series — at scale the series is small regardless of corpus
    // size, so the two-pass shape costs one extra job over ~10⁴ rows.
    // ------------------------------------------------------------------
    QueryDef("events_anomaly_zscore",
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |stats AS (
        |  SELECT count(*) AS cnt, sum(n_events) AS sx,
        |         sum(n_events * n_events) AS sxx
        |  FROM hourly),
        |z AS (
        |  SELECT hour_start, n_events,
        |         (n_events - sx * 1.0 / cnt) /
        |           nullif(sqrt((cnt * sxx - sx * sx) * 1.0
        |                       / nullif(cnt * (cnt - 1), 0)), 0) AS zr
        |  FROM hourly CROSS JOIN stats)
        |SELECT hour_start, n_events,
        |       (CASE WHEN zr < 0 THEN -floor(-zr * 1000 + 0.5)
        |             ELSE floor(zr * 1000 + 0.5) END) / 1000.0 AS zscore,
        |       abs(zr) > 2 AS is_anomaly
        |FROM z ORDER BY hour_start""".stripMargin) { (s, dir) =>
      // Cross-engine determinism, the events_forecast_baseline
      // discipline: built-in avg/stddev_samp accumulate DOUBLES whose
      // partial sums reorder under parallelism, so their low bits (and
      // a subsequent round) are engine- and partitioning-dependent.
      // Instead mu and sigma derive from EXACT integer sums (count,
      // Σx, Σx² over hourly counts — exact in BIGINT while
      // cnt·Σx² < 2^63, i.e. far past this corpus) through the
      // IDENTICAL op sequence on both engines: one division, one
      // sqrt, both correctly-rounded IEEE — so zr is bit-identical.
      // The 3-dp rounding is floor(|z|·1000 + 0.5) with the sign
      // reapplied (round-half-away-from-zero), because round() itself
      // is the non-portable step: Spark rounds the shortest-decimal
      // RENDERING of a double, DuckDB the binary value.
      val hourly = Scans.table(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"))
      val stats = hourly.agg(
        count(lit(1)).as("cnt"), sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
      // NULLIF guards, mirrored in the oracle: a one-hour series has no
      // sample variance (cnt-1 = 0) and a CONSTANT series has sigma = 0
      // — the latter is reachable at any scale — and under ANSI both
      // divisions throw DIVIDE_BY_ZERO; the z-score of a degenerate
      // series is NULL on both engines, never an abort
      val sigma = sqrt((col("cnt") * col("sxx") - col("sx") * col("sx")) *
        lit(1.0) / nullif(col("cnt") * (col("cnt") - lit(1)), lit(0)))
      val zr = (col("n_events") - col("sx") * lit(1.0) / col("cnt")) /
        nullif(sigma, lit(0.0))
      hourly.crossJoin(broadcast(stats))
        .withColumn("zr", zr)
        .select(col("hour_start"), col("n_events"),
          (when(col("zr") < 0, -floor(-col("zr") * lit(1000) + lit(0.5)))
            .otherwise(floor(col("zr") * lit(1000) + lit(0.5))) / lit(1000.0))
            .as("zscore"),
          (abs(col("zr")) > 2).as("is_anomaly"))
        .orderBy(col("hour_start"))
    },

    // ------------------------------------------------------------------
    // events_json_props — semi-structured extraction: pull the numeric
    // `k` field out of the JSON props column and aggregate per event
    // type (get_json_object / from_json — the props-MapType extension
    // SURVEY.md §1 calls out).
    // ------------------------------------------------------------------
    QueryDef("events_json_props",
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      // spread before the per-row JSON parse — the query's dominant
      // cost, serialized by the local single-row-group scan otherwise
      // (identity on an already-split corpus; see Scans.spreadBytes)
      Scans.spreadBytes(s, Scans.table(s, dir, "events")
          .select(col("event_type"), col("props")),
          Scans.tableBytes(dir, "events"))
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // ------------------------------------------------------------------
    // events_value_histogram — fixed-width histogram of the value
    // distribution (bucket = floor(value/25)): the canonical mergeable
    // summary — each partition emits ≤20 (bucket, count, sum) partials,
    // the reducer merges tiny state. What monitoring/profiling runs over
    // 100 TB of metrics instead of sorting values. Double division and
    // floor are IEEE-exact, so bucket edges agree bit-for-bit across
    // engines.
    // ------------------------------------------------------------------
    QueryDef("events_value_histogram",
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |       CAST(floor(value / 25.0) AS BIGINT) * 25 AS bucket_lo,
        |       count(*) AS n_events,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket""".stripMargin) { (s, dir) =>
      // Range-guarded bucket: a NaN/Infinity/overflowing value (garbage
      // fact row) must land in a NULL bucket, not abort the job —
      // Spark's floor(double) RETURNS long, so the overflow happens
      // inside floor itself and try_cast around it can't help; the
      // guard rejects NaN (between is false) and any out-of-range
      // quotient before floor runs (CaseWhen branches evaluate
      // lazily). The bound is ±3.68e17 — safely inside
      // Long.MaxValue/25 — so BOTH long casts downstream of the guard
      // are covered: floor's own double→long AND the bucket_lo
      // multiply (r16 ADVICE: a finite value with |value| in
      // (9.22e18, 2.3e20] passed the old ±9.2e18 quotient guard, then
      // bucket*25 ANSI-aborted with ARITHMETIC_OVERFLOW — the exact
      // crash class this guard claims to eliminate; the garbage-
      // numerics corpus pins ±1e19 in that hole). Identity on every
      // sane value, same contract as centsLong.
      val q = col("value") / 25.0
      val bucket = when(q.between(-3.68e17, 3.68e17), floor(q))
        .otherwise(lit(null).cast("long"))
      Scans.table(s, dir, "events")
        .groupBy(bucket.as("bucket"), (bucket * 25).as("bucket_lo"))
        .agg(count(lit(1)).as("n_events"),
          graft.streaming.EventStreams.centsExactSum.as("sum_value"))
        .orderBy(col("bucket"))
    },

    // ------------------------------------------------------------------
    // events_sliding_window — 1-hour windows sliding every 15 minutes:
    // the overlapping-window class tumbling windows can't express
    // (hourly trends refreshed at sub-hour latency). Each event lands
    // in window/slide = 4 windows — Spark's `window(ts, 1h, 15m)`
    // expands then partially aggregates map-side, so the shuffle
    // carries per-(window,partition) partials, not the 4× event
    // expansion. Window starts reported as epoch seconds to keep the
    // cross-engine compare type-exact. Streaming-identical: the same
    // expression runs under a watermark in Structured Streaming.
    // ------------------------------------------------------------------
    QueryDef("events_sliding_window",
      """WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
        |w AS (SELECT ((ms // 900000) - u.k) * 900 AS window_start_s, value
        |      FROM e, unnest(generate_series(0, 3)) AS u(k))
        |SELECT window_start_s, count(*) AS n_events,
        |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM w GROUP BY 1 ORDER BY window_start_s""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          graft.streaming.EventStreams.centsExactSum.as("sum_value"))
        // epoch seconds via unix_millis (exact: window starts are whole
        // 15-min boundaries) — unlike cast-to-long this stays legal
        // whatever timestamp flavor the window carries
        .select(expr("unix_millis(window.start) div 1000").as("window_start_s"),
          col("n_events"), col("sum_value"))
        .orderBy(col("window_start_s"))
    },

    // ------------------------------------------------------------------
    // events_late_data_audit — out-of-orderness audit per ingest
    // partition: the measurement that SIZES a watermark. For each
    // arriving event, lateness = how far its event-time sits behind the
    // partition's running event-time high-water mark; the per-partition
    // rollup (late count, max, sum) is exactly what you read before
    // choosing `withWatermark`'s delay — max_late_s IS the delay that
    // would lose zero events. The corpus is event-time-ordered, so
    // arrival is modeled as a deterministic bounded-delay channel:
    // arrival_seq = event_id + md5-jitter % 32 (same arithmetic in both
    // engines — the classic bounded-reorder network model; a real
    // deployment reads arrival order from source offsets instead).
    // Ingest partition = event_id % 8 (the Kafka-ish shape), so the
    // audit windows partition 8-way on a real key — never a global
    // sort; at 100 TB the window runs per partition per time range.
    // ------------------------------------------------------------------
    QueryDef("events_late_data_audit",
      """WITH a AS (
        |  SELECT event_id % 8 AS part, event_id, ts,
        |         event_id + CAST(concat('0x', substr(md5(concat('arr-', CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 32 AS arrival
        |  FROM events),
        |o AS (
        |  SELECT part, event_id, ts,
        |         max(ts) OVER (PARTITION BY part ORDER BY arrival, event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM a)
        |SELECT part, count(*) AS n_events,
        |       CAST(count(CASE WHEN epoch_us(ts) < epoch_us(hwm) THEN 1 END)
        |            AS BIGINT) AS n_late,
        |       CAST(coalesce(max(CASE WHEN epoch_us(ts) < epoch_us(hwm)
        |                          THEN (epoch_ms(hwm) - epoch_ms(ts)) // 1000 END), 0)
        |            AS BIGINT) AS max_late_s,
        |       CAST(coalesce(sum(CASE WHEN epoch_us(ts) < epoch_us(hwm)
        |                          THEN (epoch_ms(hwm) - epoch_ms(ts)) // 1000 END), 0)
        |            AS BIGINT) AS sum_late_s
        |FROM o GROUP BY part ORDER BY part""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("part"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Scans.table(s, dir, "events")
        .select(expr("event_id % 8").as("part"), col("event_id"), col("ts"),
          (col("event_id") +
            expr("cast(conv(substring(md5(concat('arr-', cast(event_id AS string))), 1, 8), 16, 10) AS bigint) % 32")
          ).as("arrival"))
        .withColumn("hwm", max(col("ts")).over(w))
        .withColumn("late_s",
          when(col("ts") < col("hwm"),
            expr("(unix_millis(hwm) - unix_millis(ts)) div 1000")))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n_events"),
          count(col("late_s")).cast("long").as("n_late"),
          coalesce(max(col("late_s")), lit(0L)).cast("long").as("max_late_s"),
          coalesce(sum(col("late_s")), lit(0L)).cast("long").as("sum_late_s"))
        .orderBy(col("part"))
    },

    // ------------------------------------------------------------------
    // events_cdc_merge — latest-state materialization (SCD type-1 /
    // CDC compaction) over the FULL population: collapse each user's
    // change stream to its most recent row — the MERGE a
    // change-data-capture pipeline applies to keep a queryable
    // snapshot. One shuffle on user_id; row_number with a
    // (ms, event_id) DESC order makes the survivor deterministic even
    // under same-millisecond updates. The declared surface rolls the
    // per-user snapshot up to (user bucket, surviving type) counts +
    // the integer-exact sum of survivor timestamps — any user's
    // survivor changing moves two cells, so the rollup pins the whole
    // assignment without hashing ~all-users rows. The summed unit is
    // epoch SECONDS: election keeps full (ms, event_id) precision, but
    // a BIGINT millisecond sum would wrap silently past ~5.4M survivors
    // per cell (while DuckDB's HUGEINT accumulator errors instead);
    // seconds push the wrap past 5 billion per cell. At 100 TB this is
    // the compaction job that bounds a CDC table's size.
    // ------------------------------------------------------------------
    QueryDef("events_cdc_merge", cdcMergeOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").desc, col("event_id").desc)
      Scans.table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy((col("user_id") % 20).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          // FLOOR division, integer-exact: Spark's `div` truncates toward
          // zero but DuckDB's `//` floors, so a pre-1970 (negative) epoch
          // would diverge; subtracting the non-negative pmod first makes
          // both engines floor identically with no double rounding
          sum(expr("(ms - pmod(ms, 1000)) div 1000")).cast("long").as("sum_s"))
        .orderBy(col("bucket"), col("event_type"))
    },

    // ------------------------------------------------------------------
    // events_cdc_stream_equiv — the STREAMING CDC materializer under
    // the batch oracle, with the two failure modes a production ingest
    // actually faces layered on top: a RESTART (the query is stopped
    // after its first run and resumed from the same checkpoint) and
    // at-least-once RE-DELIVERY (the second run re-reads the full
    // events table as a "new" file). flatMapGroupsWithState
    // (graft.streaming.EventStreams.latestState) recovers its per-user
    // state from the checkpoint, re-delivered rows never beat the
    // survivor already in state, and no change rows are re-emitted —
    // so the committed file sink converges to EXACTLY the batch
    // merge's snapshot, hash-checked under events_cdc_merge's own
    // oracle. (events_cdc_stream_files covers the plain single-run
    // file-sink replay; this key pins the restart/replay convergence
    // contract itself in the declared surface.) Snapshot recovery from
    // the sink is exact whatever the micro-batch split: per user the
    // emissions are strictly increasing in (ms, event_id), so the
    // final state is the per-user max — one small aggregation over the
    // change stream (≈ one row per user, never the event history).
    // ------------------------------------------------------------------
    QueryDef("events_cdc_stream_equiv", cdcMergeOracle) { (s0, dir) =>
      // per-user keyed state never warrants 32 state-store instances a
      // micro-batch: an 8-partition child session caps the replay's
      // state/checkpoint IO without touching the caller's conf (same
      // economics as the join/session replays; measured on the other
      // replays, the store count is the dominant replay cost)
      val s: SparkSession = cappedSession(s0, 8)
      import graft.streaming.EventStreams
      val scratch = graft.exec.Fs.scratchDir("graft_cdc_restart")
      try {
        val srcDir = java.nio.file.Files.createDirectory(scratch.resolve("src"))
        val target =
          java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath.normalize()
        val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
        def runStream(): Unit = {
          val raw = s.readStream.schema(rawSchema).parquet(srcDir.toString)
          // identical ts derivation to the batch path — the shared
          // cdcLatestIn projection both CDC replay shapes read
          val in = cdcLatestIn(s, raw)
          val q = EventStreams.latestState(in)
            .writeStream.format("parquet")
            .option("path", scratch.resolve("sink").toString)
            .option("checkpointLocation", scratch.resolve("ckpt").toString)
            .outputMode("append")
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        // run 1: first delivery of the full table; checkpoint commits it
        java.nio.file.Files.createSymbolicLink(srcDir.resolve("a.parquet"), target)
        runStream()
        // run 2: RESTART from the checkpoint, then re-deliver the same
        // rows as a new file — the at-least-once source shape
        java.nio.file.Files.createSymbolicLink(srcDir.resolve("b.parquet"), target)
        runStream()
        // known-schema recovery, same reason as fileSinkReplay: an empty
        // replay commits zero sink files and footer inference throws —
        // the sink's rows are LatestOut by construction
        recoverCdcSnapshot(s.read
            .schema(org.apache.spark.sql.Encoders
              .product[EventStreams.LatestOut].schema)
            .parquet(scratch.resolve("sink").toString))
          // materialize before the finally deletes the sink files it reads
          .localCheckpoint(true)
      } finally deleteTree(scratch)
    },

    // ------------------------------------------------------------------
    // events_cdc_stream_files — the SAME streaming CDC replay, but
    // through the sink a 100 TB pipeline actually runs: a parquet FILE
    // sink with a checkpointLocation instead of a driver-resident
    // memory sink. The snapshot is recovered from the COMMITTED files
    // (`spark.read` over a file-sink directory consults its
    // `_spark_metadata` transaction log, so only files the checkpoint
    // committed are visible — the restart-safe recovery path), then
    // rolled up under events_cdc_merge's OWN oracle: stream replay to
    // durable files ≡ batch merge, hash-checked. Restart-from-
    // checkpoint behavior of this exact sink/state pairing is pinned
    // in StreamingSpec.
    // ------------------------------------------------------------------
    QueryDef("events_cdc_stream_files", cdcMergeOracle) { (s0, dir) =>
      // same 8-partition child-session cap as events_cdc_stream_equiv
      val s: SparkSession = cappedSession(s0, 8)
      import graft.streaming.EventStreams
      val streamDir = stageEventsDir(dir)
      try {
        val raw = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(streamDir.toString)
        val in = cdcLatestIn(s, raw)
        fileSinkReplay(s, EventStreams.latestState(in).toDF())(recoverCdcSnapshot)
      } finally dropStagedEventsDir(streamDir)
    },

    // ------------------------------------------------------------------
    // events_stream_join_equiv — the stream-stream interval join
    // (graft.streaming.EventStreams.intervalJoin) under a batch oracle:
    // replay the events table as TWO streams (clicks and views filtered
    // from one file source — a streaming self-join), join each click to
    // the same user's views in the preceding 30 minutes, and roll the
    // matched pairs up per user bucket. Inner stream-stream joins emit
    // matches eagerly (the watermark+interval bound only evicts state),
    // so the replayed pairs are exactly the batch join's — which is
    // what the DuckDB oracle computes. Epoch math stays integer-exact
    // via the same pmod-floor second truncation as the CDC rollup.
    // ------------------------------------------------------------------
    QueryDef("events_stream_join_equiv",
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS cms, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT user_id, epoch_ms(ts) AS vms, event_id AS view_id
        |           FROM events WHERE event_type = 'view')
        |SELECT c.user_id % 20 AS bucket, count(*) AS n_pairs,
        |       CAST(sum(c.cms // 1000 - v.vms // 1000) AS BIGINT) AS sum_lag_s,
        |       CAST(sum(c.click_id + v.view_id) AS BIGINT) AS id_sum
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.vms >= c.cms - 30*60*1000 AND v.vms <= c.cms
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      import graft.streaming.EventStreams
      // Stream-stream join state cost scales with shuffle partitions
      // (4 state-store instances per partition per micro-batch, each
      // with its own checkpoint IO): a child session caps the replay at
      // 4 partitions — the per-batch key cardinality never warrants 32 —
      // without touching the caller's conf. At production stream rates
      // the partition count is sized to the continuous key throughput
      // instead; the join itself is identical.
      val ss = cappedSession(s, 4)
      val scratch = graft.exec.Fs.scratchDir("graft_stream_join")
      try {
        // Pre-split the two sides ONCE into separate staged sources —
        // one filtering scan up front, so no micro-batch re-scans the
        // full events file twice (once per side). This is the staging a
        // production deployment has anyway: clicks and views arrive as
        // two distinct feeds, not as one file filtered twice.
        // MILLISECOND event time, matching the oracle's epoch_ms bounds
        // exactly: the interval predicate must evaluate on the same
        // truncation both engines use, or a same-millisecond pair whose
        // sub-ms precision straddles the bound would count on one side
        // only (the source-encoding → ms floor composes with the
        // oracle's µs → ms floor whatever the physical representation)
        // localCheckpoint makes "one filtering scan up front" literal:
        // without it each side's write re-reads and re-normalizes the
        // full events file (two corpus scans per replay, not one)
        val raw0 = Scans.normalizeTsMillis(ss.read.parquet(s"$dir/events.parquet"))
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
          .filter(col("event_type").isin("click", "view"))
          .localCheckpoint(true)
        val clickDir = scratch.resolve("clicks").toString
        val viewDir = scratch.resolve("views").toString
        raw0.filter(col("event_type") === "click").drop("event_type")
          .coalesce(1).write.parquet(clickDir)
        raw0.filter(col("event_type") === "view").drop("event_type")
          .coalesce(1).write.parquet(viewDir)
        val clicks = ss.readStream
          .schema(ss.read.parquet(clickDir).schema).parquet(clickDir)
        val views = ss.readStream
          .schema(ss.read.parquet(viewDir).schema).parquet(viewDir)
        fileSinkReplay(ss, EventStreams.intervalJoin(clicks, views)) { sink =>
          sink
            .groupBy((col("user_id") % 20).as("bucket"))
            .agg(count(lit(1)).as("n_pairs"),
              sum(expr("""(unix_millis(click_ts) - pmod(unix_millis(click_ts), 1000)) div 1000
                        - (unix_millis(view_ts) - pmod(unix_millis(view_ts), 1000)) div 1000"""))
                .cast("long").as("sum_lag_s"),
              sum(col("click_id") + col("view_id")).cast("long").as("id_sum"))
            .orderBy(col("bucket"))
        }
      } finally deleteTree(scratch)
    },

    // ------------------------------------------------------------------
    // events_stream_histogram_equiv — the watermarked windowed value
    // histogram (graft.streaming.EventStreams.histogramStream) under a
    // batch oracle, in APPEND mode through the durable file sink: a
    // window only lands once the watermark passes its close, exactly
    // as on an unbounded stream, so the finite replay drives the
    // watermark past the corpus with a far-future sentinel event
    // (staged as the LAST micro-batch; its own open window never
    // emits, so nothing needs filtering). The committed per-(hour,
    // bucket) cells are compared against DuckDB's batch rollup. Same
    // construct Structured Streaming runs continuously — `window()` +
    // watermark + append finalization — so the declared surface covers
    // all three streaming operator shapes: stateful flatMapGroups
    // (CDC), stream-stream join, windowed agg.
    // ------------------------------------------------------------------
    QueryDef("events_stream_histogram_equiv",
      """SELECT date_trunc('hour', ts) AS window_start,
        |       CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |       count(*) AS n_events, sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, bucket""".stripMargin) { (s0, dir) =>
      // (window, bucket) keyed state is a few hundred cells — the same
      // 8-partition child-session cap as the other stateful replays
      val s: SparkSession = cappedSession(s0, 8)
      import graft.streaming.EventStreams
      // sentinel 10 h after the corpus max — far past the 2 h watermark
      // delay + 1 h window, so every real window finalizes
      val streamDir = stageSentinelSource(s, dir, "graft_hist_stream",
        Seq("value" -> lit(0.0d)))
      try {
        val raw = Scans.normalizeTs(s.readStream
            .schema(s.read.parquet(s"$dir/events.parquet").schema)
            .option("maxFilesPerTrigger", 1) // sentinel lands in batch 2
            .parquet(streamDir.toString))
          .select(col("ts"), col("value"))
        fileSinkReplay(s, EventStreams.histogramStream(raw)) { sink =>
          sink
            .select(col("window_start"), col("bucket"),
              col("n_events"), col("sum_value"))
            .orderBy(col("window_start"), col("bucket"))
        }
      } finally deleteTree(streamDir)
    },

    // ------------------------------------------------------------------
    // events_stream_jdbc_sink — the streaming → transactional JDBC
    // destination (graft.streaming.EventStreams.streamToJdbc) under a
    // batch oracle: replay the purchase/signup events through
    // foreachBatch into a LIVE embedded-Derby table (each micro-batch
    // lands via the delete-then-insert upsert that makes an
    // at-least-once sink exactly-once-in-effect — replay convergence
    // itself is pinned in StreamingSpec), then read the DESTINATION
    // back and roll it up: what landed in the database must be exactly
    // what DuckDB computes from the source table. This is the
    // reference's own destination story (batched transactional inserts
    // into a SQL database) under continuous ingestion, hash-checked.
    // ------------------------------------------------------------------
    QueryDef("events_stream_jdbc_sink",
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import graft.streaming.EventStreams
      // per-run scratch database under an ABSOLUTE jdbc:derby: path — no
      // global-property mutation at query time, and nothing persists
      // under tmpdir after the run (DerbyEnv.shutdownAndDelete below)
      val dbRoot = graft.exec.DerbyEnv.scratchDbRoot("graft_stream_sink_db")
      val dbPath = s"$dbRoot/stream_sink_equiv"
      val url = s"jdbc:derby:$dbPath;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      try {
        val streamDir = stageEventsDir(dir)
        try {
          val raw = s.readStream
            .schema(s.read.parquet(s"$dir/events.parquet").schema)
            .parquet(streamDir.toString)
            .filter(col("event_type").isin("purchase", "signup"))
            .select(col("event_id"), col("user_id"), col("event_type"))
          val q = EventStreams.streamToJdbc(raw, url, "stream_events_equiv", props)
          try q.processAllAvailable() finally q.stop()
        } finally dropStagedEventsDir(streamDir)
        // localCheckpoint(eager = true) materializes the read-back NOW, so
        // the scratch database can be dropped before the result is compared
        s.read.jdbc(url, "stream_events_equiv", props)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("event_id")).cast("long").as("id_sum"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
      } finally graft.exec.DerbyEnv.shutdownAndDelete(dbPath, dbRoot)
    },

    // ------------------------------------------------------------------
    // events_stream_dedup_equiv — streaming exact dedup
    // (graft.streaming.EventStreams.dedupStream,
    // `dropDuplicatesWithinWatermark`) under a batch oracle: the events
    // table is staged TWICE behind the file source (two symlinks) with
    // maxFilesPerTrigger=1, so every event is re-delivered in a LATER
    // micro-batch — the at-least-once source shape. The dedup operator
    // must collapse the doubled stream back to exactly the original
    // set: second-file rows are dropped either as in-state duplicates
    // or as late arrivals (below the batch-1 watermark) — both drops
    // are correct for an idempotent ingest, and the rollup hash-checks
    // the survivor set against DuckDB over the single table.
    // ------------------------------------------------------------------
    QueryDef("events_stream_dedup_equiv",
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       CAST(sum(epoch_ms(ts) // 1000) AS BIGINT) AS sum_s
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s0, dir) =>
      // same 8-partition child-session cap as the other keyed replays
      val s: SparkSession = cappedSession(s0, 8)
      import graft.streaming.EventStreams
      val streamDir = graft.exec.Fs.scratchDir("graft_dedup_stream")
      try {
        val target =
          java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath.normalize()
        Seq("a.parquet", "b.parquet").foreach { n =>
          java.nio.file.Files.createSymbolicLink(streamDir.resolve(n), target)
        }
        val raw = Scans.normalizeTs(s.readStream
            .schema(s.read.parquet(s"$dir/events.parquet").schema)
            .option("maxFilesPerTrigger", 1) // re-delivery lands in batch 2
            .parquet(streamDir.toString))
          .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
        fileSinkReplay(s, EventStreams.dedupStream(raw)) { sink =>
          sink
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("event_id")).cast("long").as("id_sum"),
              sum(expr("(unix_millis(ts) - pmod(unix_millis(ts), 1000)) div 1000"))
                .cast("long").as("sum_s"))
            .orderBy(col("event_type"))
        }
      } finally deleteTree(streamDir)
    },

    // ------------------------------------------------------------------
    // events_stream_enrich_equiv — stream-STATIC enrichment under the
    // batch oracle: the continuous-ingest shape where every arriving
    // event is joined against a slowly-changing dimension snapshot
    // (here the customer table) before landing. The join is STATELESS
    // in Spark's model — no watermark, no state store; each micro-batch
    // broadcast-joins the static side — so unlike the stream-stream
    // interval join this replay carries zero state cost and any
    // micro-batch slicing of the source gives the same result set.
    // Replay the events file source joined to the static dim, land the
    // enriched rows in the sink, and roll the sink up per market
    // segment with the SAME aggregate DuckDB computes from the two
    // batch tables: stream-static enrich ≡ batch join, hash-checked.
    // ------------------------------------------------------------------
    QueryDef("events_stream_enrich_equiv",
      """SELECT c.c_mktsegment AS segment, count(*) AS n_events,
        |       CAST(sum(e.event_id) AS BIGINT) AS id_sum,
        |       round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin) { (s, dir) =>
      val streamDir = stageEventsDir(dir)
      try {
        val raw = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(streamDir.toString)
          .select(col("event_id"), col("user_id"), col("value"))
        val dim = Scans.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        fileSinkReplay(s, raw.join(dim, col("user_id") === col("c_custkey"))) { sink =>
          sink
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("event_id")).cast("long").as("id_sum"),
              graft.streaming.EventStreams.centsExactSum.as("sum_value"))
            .select(col("c_mktsegment").as("segment"), col("n_events"),
              col("id_sum"), col("sum_value"))
            .orderBy(col("segment"))
        }
      } finally dropStagedEventsDir(streamDir)
    },

    // ------------------------------------------------------------------
    // events_stream_session_equiv — streaming session_window in APPEND
    // mode under the batch oracle: a session only emits once the
    // watermark passes its close, so a finite replay needs the
    // watermark DRIVEN past the data — a sentinel file (one event for
    // the out-of-band user -1, 10 h after the corpus max, staged as
    // batch 2 via maxFilesPerTrigger=1 and ordered mtimes) finalizes
    // every real session; the sentinel's own open session never emits,
    // exactly the unbounded-stream behavior. The emitted sessions are
    // rolled up with events_session_window's OWN oracle: append-mode
    // finalization ≡ batch session_window, hash-checked.
    // ------------------------------------------------------------------
    QueryDef("events_stream_session_equiv", sessionWindowOracle) { (s, dir) =>
      // same state-store economics as the stream-stream join replay: a
      // child session caps the session-window state at 8 partitions
      val s2: SparkSession = cappedSession(s, 8)
      // sentinel: one far-future event for user -1 (real user_ids are
      // >= 0), written in the raw schema's own ts representation
      val streamDir = stageSentinelSource(s, dir, "graft_sess_stream",
        Seq("user_id" -> lit(-1L)))
      try {
        val rawSchema = s2.read.parquet(s"$dir/events.parquet").schema
        // ms grain, like the batch twin and the timeout replay: one
        // event-time grain across all three session paths (see
        // events_session_window)
        val raw = Scans.normalizeTsMillis(s2.readStream
            .schema(rawSchema)
            .option("maxFilesPerTrigger", 1)
            .parquet(streamDir.toString))
          .select(col("ts"), col("user_id"))
        val sessions = raw
          .withWatermark("ts", "1 second")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        fileSinkReplay(s2, sessions) { sink =>
          sink
            .filter(col("user_id") >= 0) // the sentinel's session never emits anyway
            .select(col("user_id"),
              unix_millis(col("session_window.start")).as("session_start_ms"),
              unix_millis(col("session_window.end")).as("session_end_ms"),
              col("n_events"))
            .orderBy(col("user_id"), col("session_start_ms"))
        }
      } finally deleteTree(streamDir)
    },

    // ------------------------------------------------------------------
    // events_stream_session_timeout — the same append-mode session
    // contract as events_stream_session_equiv, but through EXPLICIT
    // keyed state with EventTimeTimeout eviction
    // (EventStreams.sessionizeEventTime) instead of the native
    // session_window operator: per-user state holds ONE open session
    // (O(1) per active key), a data batch closes inline only the
    // sessions a later same-batch event supersedes, and every trailing
    // session is emitted by the WATERMARK-driven timeout firing — no
    // end-of-input flush anywhere, which is the eviction semantics an
    // unbounded 100 TB/day feed actually needs. The sentinel advances
    // the watermark past every real session's close; processAllAvailable
    // then runs the no-data timeout batches Spark schedules when a new
    // watermark can fire armed timeouts. Same oracle as the native
    // session_window pair: three execution paths, one contract.
    // ------------------------------------------------------------------
    QueryDef("events_stream_session_timeout", sessionWindowOracle) { (s, dir) =>
      val s2: SparkSession = cappedSession(s, 8)
      import s2.implicits._
      import graft.streaming.EventStreams
      val streamDir = stageSentinelSource(s, dir, "graft_sess_timeout",
        Seq("user_id" -> lit(-1L)))
      try {
        val rawSchema = s2.read.parquet(s"$dir/events.parquet").schema
        val raw = Scans.normalizeTs(s2.readStream
            .schema(rawSchema)
            .option("maxFilesPerTrigger", 1)
            .parquet(streamDir.toString))
          .select(col("ts"), col("user_id"))
        val typed = raw
          .withWatermark("ts", "1 second")
          .select(col("user_id").as("_1"), col("ts").as("_2"))
          .as[(Long, java.sql.Timestamp)]
        fileSinkReplay(s2, EventStreams.sessionizeEventTime(typed).toDF()) { sink =>
          sink
            .filter(col("user_id") >= 0) // sentinel's own session never times out
            .select(col("user_id"), col("session_start_ms"),
              col("session_end_ms"), col("n_events"))
            .orderBy(col("user_id"), col("session_start_ms"))
        }
      } finally deleteTree(streamDir)
    },

    // ------------------------------------------------------------------
    // events_scd2_intervals — slowly-changing-dimension (type-2)
    // interval derivation: collapse each user's event stream into
    // contiguous runs of the same event_type with [valid_from,
    // valid_to) bounds — the CDC-to-dimension-table transform. Two
    // windows, both partitioned by user_id (a real key), so the plan
    // is ONE shuffle on user_id reused by both sorts; the per-type
    // report is a tiny rollup. Millisecond epochs keep the compare
    // integer-exact; the open (last) interval per user is counted but
    // excluded from the duration sum. Full population — the rollup
    // keeps the output per-type-small whatever the user count.
    // ------------------------------------------------------------------
    QueryDef("events_scd2_intervals",
      """WITH o AS (
        |  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_ms(ts), event_id) AS prev_type
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ms,
        |         lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
        |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT event_type, count(*) AS n_intervals,
        |       CAST(count(next_ms) AS BIGINT) AS n_closed,
        |       CAST(coalesce(sum(next_ms - ms), 0) AS BIGINT) AS sum_ms
        |FROM ch GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val o = Scans.table(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      o.filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("next_ms", lead(col("ms"), 1).over(byUser))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          count(col("next_ms")).cast("long").as("n_closed"),
          coalesce(sum(col("next_ms") - col("ms")), lit(0L)).cast("long")
            .as("sum_ms"))
        .orderBy(col("event_type"))
    },

    // ------------------------------------------------------------------
    // events_markov_transitions — the first-order behavior model: per
    // event-type transition counts and row-normalized probabilities
    // from each user's time-ordered event sequence (lag over a
    // user-keyed window — ONE shuffle on user_id, the sequence never
    // leaves its partition). The transition matrix itself is
    // type-domain² rows, so the probability normalization window runs
    // over a frame that stays tiny at any corpus size. p is an exact
    // integer ratio (count/count) — both engines divide the same longs.
    // ------------------------------------------------------------------
    QueryDef("events_markov_transitions",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type,
        |       count(*) AS n_transitions,
        |       ((2 * count(*) * 1000000
        |           + sum(count(*)) OVER (PARTITION BY prev_type))
        |         // (2 * sum(count(*)) OVER (PARTITION BY prev_type)))
        |         / 1000000.0 AS p
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val counts = Scans.table(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n_transitions"))
      // p is an integer half-up quotient at 6 dp — round() of a ratio
      // double is the non-portable step (see events_funnel).
      // DECIMAL-WIDENED numerator: the share quotients whose numerator
      // is a CORPUS-ROW/TOKEN-scale count (transitions ≈ events here;
      // also pareto's power events, the per-day/per-cell event counts,
      // zipf's cumulative token frequency) overflow `2*n*1000000` as
      // LONG once n exceeds ~4.6e12 — a magnitude a fine-grained
      // 100 TB log genuinely reaches, the same multiply-not-the-cast
      // class as the value-histogram bucket. cast(n as decimal(38,0))
      // makes the numerator exact to ~1e38 (n is a long, so ≤ 1.9e25
      // reachable) while the published value is a SHARE (quotient
      // ≤ 1e6 + 1), so the BIGINT result never overflows; identical
      // long for every sane value (spec-pinned at the 9.2e18 ceiling).
      // USER/DOC-scale quotients (funnel, langid, domain_mix) stay on
      // the plain long path — their counts sit 2+ orders below the
      // threshold at 100 TB.
      counts
        .withColumn("tot",
          sum(col("n_transitions")).over(Window.partitionBy(col("prev_type"))))
        .withColumn("p",
          expr("(2 * cast(n_transitions as decimal(38,0)) * 1000000 + tot)" +
            " div (2 * tot)") / lit(1000000.0))
        .select(col("prev_type"), col("event_type").as("next_type"),
          col("n_transitions"), col("p"))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // ------------------------------------------------------------------
    // events_rfm_segmentation — recency/frequency/monetary user
    // segmentation: per-user metrics in one rollup, quartile boundaries
    // from ONE exact-percentile aggregation (a 1-row frame that
    // broadcasts), then row-local quartile scoring — never an ntile
    // window over the whole user population (a global-ORDER window is
    // the non-scalable form; boundary-compare against a broadcast
    // 3-number array keeps segmentation embarrassingly parallel at any
    // user count). Cross-engine determinism: per-user monetary rounds
    // to the 2-dp grid BEFORE the percentile, both engines interpolate
    // the same (n−1)·p linear formula over identical multisets with
    // exact-binary fractions (.25/.5/.75), so the boundaries are
    // bit-identical; quartile index 1..4 per dimension (recency scored
    // on days-since-last-event — LOWER is more recent and scores 1).
    // ------------------------------------------------------------------
    QueryDef("events_rfm_segmentation",
      """WITH mx AS (SELECT CAST(max(ts) AS DATE) AS max_d FROM events),
        |u AS (SELECT user_id,
        |             date_diff('day', CAST(max(ts) AS DATE),
        |                       (SELECT max_d FROM mx)) AS rec,
        |             count(*) AS freq,
        |             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS mon
        |      FROM events GROUP BY user_id),
        |q AS (SELECT quantile_cont(rec, [0.25, 0.5, 0.75]) AS qr,
        |             quantile_cont(freq, [0.25, 0.5, 0.75]) AS qf,
        |             quantile_cont(mon, [0.25, 0.5, 0.75]) AS qm
        |      FROM u),
        |sc AS (SELECT user_id, freq, mon,
        |              CASE WHEN rec <= qr[1] THEN 1 WHEN rec <= qr[2] THEN 2
        |                   WHEN rec <= qr[3] THEN 3 ELSE 4 END AS r_q,
        |              CASE WHEN freq <= qf[1] THEN 1 WHEN freq <= qf[2] THEN 2
        |                   WHEN freq <= qf[3] THEN 3 ELSE 4 END AS f_q,
        |              CASE WHEN mon <= qm[1] THEN 1 WHEN mon <= qm[2] THEN 2
        |                   WHEN mon <= qm[3] THEN 3 ELSE 4 END AS m_q
        |       FROM u, q)
        |SELECT r_q, f_q, m_q, count(*) AS n_users,
        |       CAST(sum(freq) AS BIGINT) AS sum_freq,
        |       round(sum(mon), 2) AS sum_monetary
        |FROM sc GROUP BY r_q, f_q, m_q
        |ORDER BY r_q, f_q, m_q""".stripMargin) { (s, dir) =>
      // ONE corpus scan: the per-user rollup is checkpointed and feeds
      // the global max day (max of per-user maxes — truncation commutes
      // with max), the quartile boundaries AND the final scoring pass;
      // without it the corpus was scanned three times
      val perUser = Scans.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(to_date(max(col("ts"))).as("u_d"), count(lit(1)).as("freq"),
          graft.streaming.EventStreams.centsExactSum.as("mon"))
        .localCheckpoint(true)
      val maxD = perUser.agg(max(col("u_d")).as("max_d"))
      val users = perUser
        .crossJoin(broadcast(maxD))
        .select(col("user_id"), datediff(col("max_d"), col("u_d")).as("rec"),
          col("freq"), col("mon"))
      val q = users.agg(
        expr("percentile(rec, array(0.25D, 0.5D, 0.75D))").as("qr"),
        expr("percentile(freq, array(0.25D, 0.5D, 0.75D))").as("qf"),
        expr("percentile(mon, array(0.25D, 0.5D, 0.75D))").as("qm"))
      def quart(v: Column, qs: Column): Column =
        when(v <= qs.getItem(0), 1).when(v <= qs.getItem(1), 2)
          .when(v <= qs.getItem(2), 3).otherwise(4)
      users.crossJoin(broadcast(q))
        .select(col("freq"), col("mon"),
          quart(col("rec"), col("qr")).as("r_q"),
          quart(col("freq"), col("qf")).as("f_q"),
          quart(col("mon"), col("qm")).as("m_q"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("freq")).cast("long").as("sum_freq"),
          round(sum(col("mon")), 2).as("sum_monetary"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },

    // ------------------------------------------------------------------
    // events_attribution — last-touch conversion attribution: each
    // purchase is credited to the user's most recent preceding
    // touchpoint (view/click), the marketing-analytics join every
    // event warehouse runs. The carry-forward is lag(touch IGNORE
    // NULLS) over the user's time-ordered sequence — ONE user-keyed
    // window shuffle, no self-join of conversions against touches
    // (the naive per-conversion subquery is quadratic per user); the
    // report is a touch-type-sized rollup with exact integer shares.
    // Purchases with no preceding touch attribute to 'none' (kept,
    // not dropped — unattributed volume is the number people argue
    // about).
    // ------------------------------------------------------------------
    QueryDef("events_attribution",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lag(CASE WHEN event_type IN ('view', 'click')
        |                  THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |           AS last_touch
        |  FROM events),
        |conv AS (SELECT coalesce(last_touch, 'none') AS touch_type
        |         FROM o WHERE event_type = 'purchase')
        |SELECT touch_type, count(*) AS n_conversions,
        |       ((2 * count(*) * 1000000 + sum(count(*)) OVER ())
        |         // (2 * sum(count(*)) OVER ())) / 1000000.0 AS share
        |FROM conv GROUP BY touch_type
        |ORDER BY touch_type""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val conv = Scans.table(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
          when(col("event_type").isin("view", "click"), col("event_type"))
            .as("touch"))
        .withColumn("last_touch", lag(col("touch"), 1, null, true).over(byUser))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("last_touch"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_conversions"))
      // share normalizes over the touch-type-sized frame (a handful of
      // rows at any corpus size), not the event stream; the published
      // share is an integer half-up quotient at 6 dp (see events_funnel)
      conv
        .withColumn("tot",
          sum(col("n_conversions")).over(Window.partitionBy()))
        .select(col("touch_type"), col("n_conversions"),
          // decimal-widened corpus-scale numerator (events_markov doc)
          (expr("(2 * cast(n_conversions as decimal(38,0)) * 1000000 + tot)" +
            " div (2 * tot)") / lit(1000000.0)).as("share"))
        .orderBy(col("touch_type"))
    },

    // ------------------------------------------------------------------
    // events_stream_attribution_equiv — the streaming attribution
    // materializer (graft.streaming.EventStreams.attributionStream,
    // flatMapGroupsWithState with O(1) last-touch state per user) under
    // the batch oracle. The replay stages the corpus as TWO time-split
    // source files (events at or before the midpoint, then the rest —
    // name- and mtime-ordered under maxFilesPerTrigger=1), so purchases
    // in batch 2 are genuinely credited to touches CARRIED IN STATE
    // from batch 1 — the cross-batch property a single-file replay
    // would never exercise. Stream replay ≡ batch lag-ignore-nulls,
    // hash-checked against events_attribution's own oracle.
    // ------------------------------------------------------------------
    QueryDef("events_stream_attribution_equiv",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lag(CASE WHEN event_type IN ('view', 'click')
        |                  THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |           AS last_touch
        |  FROM events),
        |conv AS (SELECT coalesce(last_touch, 'none') AS touch_type
        |         FROM o WHERE event_type = 'purchase')
        |SELECT touch_type, count(*) AS n_conversions,
        |       ((2 * count(*) * 1000000 + sum(count(*)) OVER ())
        |         // (2 * sum(count(*)) OVER ())) / 1000000.0 AS share
        |FROM conv GROUP BY touch_type
        |ORDER BY touch_type""".stripMargin) { (s0, dir) =>
      // same keyed-replay partition cap as the other stateful replays
      val s: SparkSession = cappedSession(s0, 8)
      import graft.streaming.EventStreams
      val scratch = graft.exec.Fs.scratchDir("graft_attr_stream")
      try {
        // FULL microsecond grain — the oracle's ORDER BY ts, event_id
        // sorts on µs timestamps, so the replay must order on the same
        // precision or same-millisecond touches could reorder between
        // the engines (ms truncation would be an unpinned-generator
        // accident, not a contract)
        val raw0 = Scans.normalizeTs(s.read.parquet(s"$dir/events.parquet"))
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        val bounds = raw0.agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi"))
        val withB = raw0.crossJoin(broadcast(bounds))
          .withColumn("us", unix_micros(col("ts")))
        val streamDir = scratch.resolve("src")
        java.nio.file.Files.createDirectory(streamDir)
        def stageOne(df: DataFrame, name: String, mtimeBump: Long): Unit =
          stageParquetFile(df, scratch.resolve(s"${name}_build"),
            streamDir.resolve(name), System.currentTimeMillis() + mtimeBump)
        val cut = (col("lo") + col("hi")) / 2
        stageOne(withB.filter(col("us") <= cut)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type")),
          "a_early.parquet", 0L)
        stageOne(withB.filter(col("us") > cut)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type")),
          "z_late.parquet", 120000L)
        import s.implicits._
        val typed = s.readStream
          .schema(s.read.parquet(streamDir.toString).schema)
          .option("maxFilesPerTrigger", 1) // batch 1 = early, batch 2 = late
          .parquet(streamDir.toString)
          .select(col("user_id").as("userId"), unix_micros(col("ts")).as("tsUs"),
            col("event_id").as("eventId"), col("event_type").as("eventType"))
          .as[EventStreams.AttrIn]
        fileSinkReplay(s, EventStreams.attributionStream(typed).toDF()) { sink =>
          val counts = sink
            .groupBy(col("touchType").as("touch_type"))
            .agg(count(lit(1)).as("n_conversions"))
          counts
            .withColumn("tot",
              sum(col("n_conversions")).over(Window.partitionBy()))
            .select(col("touch_type"), col("n_conversions"),
              (expr("(2 * n_conversions * 1000000 + tot) div (2 * tot)")
                / lit(1000000.0)).as("share"))
            .orderBy(col("touch_type"))
        }
      } finally deleteTree(scratch)
    },

    // ------------------------------------------------------------------
    // events_top_paths — user-journey mining: the 10 most common
    // 3-step event-type sequences across all users (two lags over the
    // user-keyed time order build each trigram in place — one window
    // shuffle, no per-user collect of whole sequences), counted with a
    // map-side-combined rollup and sliced with a distributed
    // TakeOrdered; the rank window sees 10 rows. The step beyond
    // events_markov_transitions' single transitions: path frequency is
    // what funnels and UX audits read.
    // ------------------------------------------------------------------
    QueryDef("events_top_paths",
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lag(event_type, 2) OVER w AS t1,
        |         lag(event_type, 1) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |tri AS (SELECT concat(t1, '>', t2, '>', event_type) AS path
        |        FROM o WHERE t1 IS NOT NULL)
        |SELECT path, freq, rank FROM (
        |  SELECT path, count(*) AS freq,
        |         row_number() OVER (ORDER BY count(*) DESC, path) AS rank
        |  FROM tri GROUP BY path) r
        |WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Scans.table(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t1", lag(col("event_type"), 2).over(w))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .filter(col("t1").isNotNull)
        .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("path")).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("path")))
            .cast("long"))
        .select(col("path"), col("freq"), col("rank"))
        .orderBy(col("rank"))
    },

    // ------------------------------------------------------------------
    // events_user_growth — the acquisition curve: per day, first-seen
    // users and the cumulative registered population. First-seen is a
    // per-user min (one user-keyed rollup — the only data-proportional
    // shuffle); the cumulative window then runs over the DAY frame,
    // bounded by the calendar, never by users or events.
    // ------------------------------------------------------------------
    QueryDef("events_user_growth",
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
        |            FROM events GROUP BY user_id),
        |nw AS (SELECT d0, count(*) AS new_users FROM fs GROUP BY d0)
        |SELECT CAST(d0 AS VARCHAR) AS day, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY d0) AS BIGINT)
        |         AS cumulative_users
        |FROM nw ORDER BY day""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"))
        .groupBy(col("d0"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum(col("new_users")).over(Window.orderBy(col("d0"))).cast("long"))
        .select(date_format(col("d0"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cumulative_users"))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // events_power_users_pareto — traffic concentration: what share of
    // all events comes from the top decile of users (the Pareto check
    // behind capacity planning, abuse detection and sampling design).
    // Per-user counts roll up once; the decile threshold is ONE exact
    // percentile row broadcast back; membership is an integer-vs-
    // boundary compare identical on both engines. 1-row report.
    // ------------------------------------------------------------------
    QueryDef("events_power_users_pareto",
      """WITH uc AS (SELECT user_id, count(*) AS n
        |            FROM events GROUP BY user_id),
        |thr AS (SELECT quantile_cont(n, 0.9) AS t FROM uc),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_users,
        |         CAST(count(CASE WHEN n >= t THEN 1 END) AS BIGINT)
        |           AS n_power_users,
        |         CAST(sum(n) AS BIGINT) AS n_events,
        |         CAST(coalesce(sum(CASE WHEN n >= t THEN n END), 0) AS BIGINT)
        |           AS n_power_events
        |  FROM uc, thr)
        |SELECT n_users, n_power_users, n_events, n_power_events,
        |       ((2 * n_power_events * 1000000 + n_events) // (2 * n_events))
        |         / 1000000.0 AS power_share
        |FROM agg""".stripMargin) { (s, dir) =>
      val uc = Scans.table(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // feeds the threshold AND the report
      val thr = uc.agg(expr("percentile(n, 0.9D)").as("t"))
      // power_share is an integer half-up quotient at 6 dp (see
      // events_funnel) — computed from the named aggregate columns in a
      // second select, never a round() of the ratio double
      uc.crossJoin(broadcast(thr))
        .agg(count(lit(1)).cast("long").as("n_users"),
          count(when(col("n") >= col("t"), 1)).cast("long")
            .as("n_power_users"),
          sum(col("n")).cast("long").as("n_events"),
          coalesce(sum(when(col("n") >= col("t"), col("n"))), lit(0L))
            .cast("long").as("n_power_events"))
        .withColumn("power_share",
          // decimal-widened corpus-scale numerator (events_markov doc)
          expr("(2 * cast(n_power_events as decimal(38,0)) * 1000000" +
            " + n_events) div (2 * n_events)") / lit(1000000.0))
    },

    // ------------------------------------------------------------------
    // events_new_vs_returning — per day, traffic split between users on
    // their FIRST active day and returning users — the acquisition-vs-
    // retention read every growth dashboard opens with. Two user-keyed
    // rollups (per-user first day; per (day, user) volume) joined on
    // user_id, then a calendar-bounded day rollup; the share is an
    // exact integer ratio.
    // ------------------------------------------------------------------
    QueryDef("events_new_vs_returning",
      """WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id, count(*) AS n
        |      FROM events GROUP BY d, user_id),
        |fs AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY user_id),
        |per_day AS (
        |  SELECT e.d,
        |         CAST(sum(CASE WHEN e.d = fs.d0 THEN n ELSE 0 END) AS BIGINT)
        |           AS new_user_events,
        |         CAST(sum(CASE WHEN e.d > fs.d0 THEN n ELSE 0 END) AS BIGINT)
        |           AS returning_events,
        |         CAST(sum(n) AS BIGINT) AS tot
        |  FROM e JOIN fs ON fs.user_id = e.user_id
        |  GROUP BY e.d)
        |SELECT CAST(d AS VARCHAR) AS day, new_user_events, returning_events,
        |       ((2 * new_user_events * 1000000 + tot) // (2 * tot))
        |         / 1000000.0 AS new_share
        |FROM per_day ORDER BY day""".stripMargin) { (s, dir) =>
      // ONE corpus scan: the per-user first day derives from the
      // (day, user) rollup itself, not a second pass over raw events;
      // new_share is an integer half-up quotient at 6 dp (see
      // events_funnel)
      val e = Scans.table(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy(col("d"), col("user_id")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val fs = e.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      e.join(fs, Seq("user_id"))
        .groupBy(col("d"))
        .agg(sum(when(col("d") === col("d0"), col("n")).otherwise(0L))
            .cast("long").as("new_user_events"),
          sum(when(col("d") > col("d0"), col("n")).otherwise(0L))
            .cast("long").as("returning_events"),
          sum(col("n")).cast("long").as("tot"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("new_user_events"), col("returning_events"),
          // decimal-widened corpus-scale numerator (events_markov doc)
          (expr("(2 * cast(new_user_events as decimal(38,0)) * 1000000 + tot)" +
            " div (2 * tot)") / lit(1000000.0)).as("new_share"))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // events_seasonality_profile — the weekly heat map: event volume
    // per (ISO weekday, hour-of-day) cell with each cell's share of
    // total traffic — the capacity-planning / anomaly-baseline profile.
    // One corpus rollup to the fixed ≤168-cell frame; the share window
    // runs over that frame, never the stream. Spark's weekday() is
    // 0=Monday, DuckDB's isodow is 1=Monday — the +1 shift is the whole
    // dialect difference, pinned here.
    // ------------------------------------------------------------------
    QueryDef("events_seasonality_profile",
      """WITH c AS (
        |  SELECT isodow(ts) AS dow, extract(hour FROM ts) AS hod,
        |         count(*) AS n_events
        |  FROM events GROUP BY dow, hod)
        |SELECT dow, hod, n_events,
        |       ((2 * n_events * 1000000 + sum(n_events) OVER ())
        |         // (2 * sum(n_events) OVER ())) / 1000000.0 AS share
        |FROM c ORDER BY dow, hod""".stripMargin) { (s, dir) =>
      // share is an integer half-up quotient at 6 dp (see events_funnel)
      Scans.table(s, dir, "events")
        .groupBy((weekday(col("ts")) + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("tot", sum(col("n_events")).over(Window.partitionBy()))
        .select(col("dow"), col("hod"), col("n_events"),
          // decimal-widened corpus-scale numerator (events_markov doc)
          (expr("(2 * cast(n_events as decimal(38,0)) * 1000000 + tot)" +
            " div (2 * tot)") / lit(1000000.0)).as("share"))
        .orderBy(col("dow"), col("hod"))
    },

    // ------------------------------------------------------------------
    // events_conversion_lag — time-to-convert: minutes from a user's
    // first view to their first purchase, summarized as count / min /
    // exact median / max over converting users. ONE corpus rollup
    // (conditional per-user minima for both event types in the same
    // pass — no per-type rescan), then a 1-row summary; the lag is
    // integer epoch-minute arithmetic so the exact-percentile median
    // interpolates an identical multiset on both engines.
    // ------------------------------------------------------------------
    QueryDef("events_conversion_lag",
      """WITH u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS v0,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p0
        |  FROM events GROUP BY user_id),
        |lg AS (SELECT CAST((epoch_ms(p0) - epoch_ms(v0)) // 60000 AS BIGINT)
        |              AS lag_min
        |       FROM u
        |       WHERE v0 IS NOT NULL AND p0 IS NOT NULL
        |         AND epoch_us(p0) >= epoch_us(v0))
        |SELECT count(*) AS n_converters,
        |       CAST(min(lag_min) AS BIGINT) AS min_lag_min,
        |       round(quantile_cont(lag_min, 0.5), 4) AS median_lag_min,
        |       CAST(max(lag_min) AS BIGINT) AS max_lag_min
        |FROM lg""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p0"))
        .filter(col("v0").isNotNull && col("p0").isNotNull &&
          col("p0") >= col("v0"))
        .select(expr("(unix_millis(p0) - unix_millis(v0)) div 60000")
          .cast("long").as("lag_min"))
        .agg(count(lit(1)).as("n_converters"),
          min(col("lag_min")).cast("long").as("min_lag_min"),
          round(expr("percentile(lag_min, 0.5D)"), 4).as("median_lag_min"),
          max(col("lag_min")).cast("long").as("max_lag_min"))
    },

    // ------------------------------------------------------------------
    // events_activity_streaks — gaps-and-islands: the distribution of
    // each user's LONGEST consecutive-day activity streak (how sticky
    // is the product?). The classic island key — activity date minus
    // the user-ordered row number is constant within a consecutive run
    // — turns streak detection into a plain (user, island) rollup: one
    // user-keyed window over the distinct user-day table, two tiny
    // rollups after it, and the published distribution is bounded by
    // the calendar, never by users.
    // ------------------------------------------------------------------
    QueryDef("events_activity_streaks",
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |            FROM events),
        |isl AS (SELECT user_id, d,
        |               d - CAST(row_number() OVER (
        |                     PARTITION BY user_id ORDER BY d) AS INTEGER)
        |                 AS grp
        |        FROM du),
        |st AS (SELECT user_id, grp, count(*) AS len
        |       FROM isl GROUP BY user_id, grp),
        |best AS (SELECT user_id, max(len) AS streak_len
        |         FROM st GROUP BY user_id)
        |SELECT streak_len, count(*) AS n_users
        |FROM best GROUP BY streak_len
        |ORDER BY streak_len""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("d"))
      Scans.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
        .withColumn("grp", date_sub(col("d"), row_number().over(byUser)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("streak_len"))
        .groupBy(col("streak_len"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_len"))
    },

    // ------------------------------------------------------------------
    // events_ab_test_eval — the experimentation readout: users assigned
    // to control/treatment by a salted deterministic hash (assignment
    // is a pure function of the user key — reproducible, stable under
    // corpus growth, never reshuffled by repartitioning), per-variant
    // purchase-value totals and means. Per-user metric rolls up ONCE
    // (user-keyed shuffle); the variant rollup is 2 rows. The mean
    // divides the already-2-dp-ROUNDED total by the user count, so
    // both engines derive it from the identical double and the 4-dp
    // round cannot straddle a boundary.
    // ------------------------------------------------------------------
    QueryDef("events_ab_test_eval",
      """WITH u AS (
        |  SELECT user_id,
        |         round(sum(CASE WHEN event_type = 'purchase' THEN value
        |                        ELSE 0 END), 2) AS pv
        |  FROM events GROUP BY user_id),
        |v AS (SELECT CASE WHEN CAST(concat('0x', substr(md5(concat('ab-',
        |                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |                  % 2 = 0
        |             THEN 'control' ELSE 'treatment' END AS variant, pv
        |      FROM u)
        |SELECT variant, count(*) AS n_users,
        |       round(sum(pv), 2) AS total_value,
        |       ((2 * CAST(round(round(sum(pv), 2) * 100) AS BIGINT) * 100
        |           + count(*)) // (2 * count(*))) / 10000.0 AS mean_value
        |FROM v GROUP BY variant ORDER BY variant""".stripMargin) { (s, dir) =>
      Scans.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("pv"))
        .withColumn("variant",
          when(expr("cast(conv(substring(md5(concat('ab-', cast(user_id AS string))), 1, 15), 16, 10) AS bigint) % 2") === 0,
            "control").otherwise("treatment"))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("pv")), 2).as("total_value"))
        // integer half-up 4-dp rounding, like events_forecast_baseline:
        // total_value is 2-dp-rounded so total*100 is an exact integer
        // (cents, non-negative purchase values), and round() of the
        // quotient double is NOT engine-portable on half boundaries
        // (Spark rounds the shortest-decimal rendering, DuckDB the
        // binary value) — the quotient (2*cents*100 + n) div (2n)
        // rounds half-up in pure integer math on both engines
        // try_cast: a user whose purchase values were NaN/Infinity
        // propagates NaN into total_value, and ANSI cast would abort
        // the eval — the NULL mean for that garbage-valued variant is
        // the honest answer; identity on finite money (centsLong doc).
        // Magnitude guard on top (r16 ADVICE): cents survives try_cast
        // up to ~9.2e18, but the 2*cents*100 integer multiplies then
        // ANSI-overflow for |total_value| above ~4.6e16 — a garbage-
        // but-finite variant sum (one 1e19 sensor value) still aborted
        // the eval. |total_value| < 4.6e14 keeps 2*cents*100 at most
        // 9.2e18 < Long.MaxValue with room for the +n_users rounding
        // term; NaN/±Inf fail the compare and fall to the same NULL.
        .withColumn("mean_value",
          when(abs(col("total_value")) < 4.6e14,
            expr("(2 * try_cast(round(total_value * 100) as bigint) * 100" +
              " + n_users) div (2 * n_users)") / lit(10000.0))
            .otherwise(lit(null).cast("double")))
        .select(col("variant"), col("n_users"), col("total_value"),
          col("mean_value"))
        .orderBy(col("variant"))
    },

    // ------------------------------------------------------------------
    // events_dau_wau_mau — the engagement dashboard row: daily active
    // users plus 7-day and 30-day rolling distinct actives per day.
    // The corpus collapses ONCE to distinct (day, user) rows — the only
    // data-proportional shuffle; each user-day then EXPLODES into the
    // ≤ W window days it covers (sequence(d, d+W−1) — exactly W rows
    // per user-day, an equi-join groupBy, never a non-equi join whose
    // nested-loop cost would grow with the calendar) and the window
    // day counts distinct contributors. Exact is affordable because
    // the user-day table, not the event stream, is the input; at
    // larger windows/cardinalities events_dau_wau_mau_hll (next) is
    // the declared sketch path.
    // ------------------------------------------------------------------
    QueryDef("events_dau_wau_mau",
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        |            FROM events),
        |spine AS (SELECT DISTINCT d FROM du),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
        |wau AS (SELECT s.d, count(DISTINCT u.user_id) AS wau
        |        FROM spine s JOIN du u
        |          ON u.d <= s.d AND u.d > s.d - INTERVAL 7 DAY
        |        GROUP BY s.d),
        |mau AS (SELECT s.d, count(DISTINCT u.user_id) AS mau
        |        FROM spine s JOIN du u
        |          ON u.d <= s.d AND u.d > s.d - INTERVAL 30 DAY
        |        GROUP BY s.d)
        |SELECT CAST(s.d AS VARCHAR) AS day, dau.dau, wau.wau, mau.mau
        |FROM spine s
        |JOIN dau ON dau.d = s.d
        |JOIN wau ON wau.d = s.d
        |JOIN mau ON mau.d = s.d
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val du = Scans.table(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .distinct()
        .localCheckpoint(true) // the one corpus rollup feeds all 4 reads
      val spine = du.select(col("d").as("day_d")).distinct()
      val dau = du.groupBy(col("d").as("dau_d"))
        .agg(count(lit(1)).as("dau"))
      // a user-day d contributes to window days d..d+w−1 (day_d ≥ d and
      // day_d < d+w ⇔ d > day_d−w): exactly w generated rows per
      // user-day, grouped on the window day — compute is |user-days|·w
      // regardless of calendar span; days past the spine max fall out
      // of the inner spine join below
      def rolling(w: Int, name: String): DataFrame =
        du.select(col("user_id"),
            explode(sequence(col("d"), date_add(col("d"), w - 1)))
              .as("day_d"))
          .groupBy(col("day_d").as(s"${name}_d"))
          .agg(countDistinct(col("user_id")).as(name))
      spine
        .join(dau, col("day_d") === col("dau_d"))
        .join(rolling(7, "wau"), col("day_d") === col("wau_d"))
        .join(rolling(30, "mau"), col("day_d") === col("mau_d"))
        .select(date_format(col("day_d"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"), col("mau"))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // events_dau_wau_mau_hll — the AT-SCALE form of the same dashboard
    // row: per-day DataSketches HLL sketches of the active-user set
    // (hll_sketch_agg — one mergeable ~KB sketch per day is all that
    // survives the user-proportional shuffle), then each day's sketch
    // fans out to the ≤30 window days it contributes to and the window
    // merges sketches (hll_union_agg), never users. After the daily
    // rollup, compute is |days|·W sketch merges — independent of user
    // cardinality, which is what makes a 365-day window over 100 TB
    // affordable where the exact key's |user-days|·W expansion is not.
    // Estimates, not exact counts → no cross-engine hash oracle
    // (DuckDB's HLL is a different sketch); rows-only here, and
    // ExtensionsSpec bounds every estimate against events_dau_wau_mau's
    // exact answer (lgConfigK=12 ⇒ ~1.6% typical relative error).
    // ------------------------------------------------------------------
    QueryDef.unoracled("events_dau_wau_mau_hll") { (s, dir) =>
      val daily = dauHllDaily(s, dir)
        .localCheckpoint(true) // one corpus rollup feeds spine + windows
      val spine = daily.select(col("d").as("day_d"))
      val est = daily
        .select(col("d"), col("sk"),
          explode(sequence(col("d"), date_add(col("d"), 29))).as("day_d"))
        .groupBy(col("day_d"))
        .agg(
          hll_sketch_estimate(
            hll_union_agg(when(col("d") === col("day_d"), col("sk"))))
            .as("dau_est"),
          hll_sketch_estimate(
            hll_union_agg(when(col("d") > date_sub(col("day_d"), 7), col("sk"))))
            .as("wau_est"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("mau_est"))
      spine.join(est, Seq("day_d"))
        .select(date_format(col("day_d"), "yyyy-MM-dd").as("day"),
          col("dau_est"), col("wau_est"), col("mau_est"))
        .orderBy(col("day"))
    },

    // ------------------------------------------------------------------
    // events_forecast_baseline — the seasonal-naive forecast eval: the
    // last day's hourly volume per event type predicted from the mean
    // of prior days at the same hour-of-day, scored with MAE and bias.
    // Every real forecasting effort starts by beating this baseline,
    // so the pipeline must produce it. ONE fused (type, day, hour)
    // rollup feeds train and test via null-skipping conditional
    // aggregates — no second corpus scan, no train-test self-join; the
    // eval frame is type×24-sized. Determinism: the prediction mean is
    // an exact integer ratio (engine-identical double) QUANTIZED to
    // the 1e-4 grid as an integer, so the per-hour error is a BIGINT,
    // the mae/bias sums are exact integer arithmetic, and even the
    // final 4-dp rounding is an integer half-up quotient — no
    // summation-order-sensitive double accumulation and no
    // double-round boundary anywhere in the published values.
    // ------------------------------------------------------------------
    QueryDef("events_forecast_baseline",
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dmax AS (SELECT max(CAST(ts AS DATE)) AS dm FROM events),
        |hx AS (SELECT event_type, CAST(h AS DATE) AS d,
        |              extract(hour FROM h) AS hod, n
        |       FROM hourly),
        |ev AS (SELECT event_type, hod,
        |              avg(CASE WHEN d < dm THEN n END) AS p,
        |              max(CASE WHEN d = dm THEN n END) AS tn
        |       FROM hx, dmax GROUP BY event_type, hod),
        |er AS (SELECT event_type,
        |              CAST(tn AS BIGINT) * 10000
        |                - coalesce(CAST(round(p * 10000) AS BIGINT), 0) AS err
        |       FROM ev WHERE tn IS NOT NULL)
        |SELECT event_type, count(*) AS n_test_hours,
        |       ((2 * sum(abs(err)) + count(*)) // (2 * count(*)))
        |         / 10000.0 AS mae,
        |       (CASE WHEN sum(err) < 0
        |             THEN -((2 * (-sum(err)) + count(*)) // (2 * count(*)))
        |             ELSE (2 * sum(err) + count(*)) // (2 * count(*)) END)
        |         / 10000.0 AS bias
        |FROM er GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val hourly = Scans.table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ONE corpus rollup feeds dmax AND the eval
      // the last day is derivable from the rollup (every event is in some
      // hour) — no second corpus scan
      val dmax = hourly.agg(max(to_date(col("h"))).as("dm"))
      hourly
        .select(col("event_type"), to_date(col("h")).as("d"),
          hour(col("h")).as("hod"), col("n"))
        .crossJoin(broadcast(dmax))
        .groupBy(col("event_type"), col("hod"))
        .agg(avg(when(col("d") < col("dm"), col("n"))).as("p"),
          max(when(col("d") === col("dm"), col("n"))).as("tn"))
        .filter(col("tn").isNotNull)
        // quantize the prediction to the 1e-4 grid as a BIGINT: round()
        // yields an exact-integer double on both engines, so the cast
        // (truncating in Spark, rounding in DuckDB) is identical on it
        .select(col("event_type"),
          (col("tn").cast("long") * lit(10000L) -
            coalesce(round(col("p") * 10000).cast("long"), lit(0L)))
            .as("err"))
        // the 4-dp ROUNDING is itself integer arithmetic — half-up
        // quotient (2S+C) div (2C) scaled by 1e-4 — because round() of
        // an exact ratio double is NOT engine-portable on half
        // boundaries (Spark rounds the shortest-decimal rendering,
        // DuckDB the binary value: 1.43535 → 1.4354 vs 1.4353, the
        // sf0.1 bias case caught in this round's local gate)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(abs(col("err"))).as("sa"),
          sum(col("err")).as("sb"))
        .select(col("event_type"), col("cnt").as("n_test_hours"),
          (expr("(2 * sa + cnt) div (2 * cnt)") / lit(10000.0)).as("mae"),
          (when(col("sb") < 0, -expr("(2 * (-sb) + cnt) div (2 * cnt)"))
            .otherwise(expr("(2 * sb + cnt) div (2 * cnt)")) / lit(10000.0))
            .as("bias"))
        .orderBy(col("event_type"))
    })
}
