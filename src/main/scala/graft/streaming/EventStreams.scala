package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — extension only: the reference is a
  * batch pipeline whose "monitor" is a poll loop
  * (`client/SmartBulkCopy.cs:665-766`), so nothing here replicates
  * reference behavior. These are the streaming duals of the batch event
  * queries in [[graft.ops.EventQueries]]: the same transforms applied to
  * a `readStream` source with watermarked event time, which is how the
  * engine would ingest a continuous event feed at scale (each micro-batch
  * shuffles only on the group keys; state is bounded by the watermark).
  */
object EventStreams {

  /** The `value` column as exact integer CENTS — the ONE definition of
    * the batch/streaming parity invariant (oracle form:
    * `CAST(round(value * 100) AS BIGINT)`): BIGINT cents are exact and
    * summation-order-independent, where `round(sum(double), 2)` could
    * flip a cent near a .005 boundary as partial-aggregation order
    * varies — and a streaming run reorders partials far more than a
    * batch one. Ten call sites across this file and
    * [[graft.ops.EventQueries]] share it so a rounding fix can never
    * fork the spec-tested twins.
    *
    * try_cast, not cast: value is a raw fact-table double, and at
    * 100 TB some rows WILL carry NaN/±Infinity (bad sensors, upstream
    * 0.0/0.0) — under ANSI mode a plain cast then aborts the whole job
    * with CAST_OVERFLOW (found by the NaN-corpus sweep). try_cast is
    * identity on every finite 2-dp money value (the oracle's CAST form
    * on the populated corpus) and turns a garbage row into a NULL the
    * sums skip — the row drops out of the aggregate instead of killing
    * the pipeline. */
  def centsLong: org.apache.spark.sql.Column =
    expr("try_cast(round(value * 100) as bigint)")

  /** `sum(value)` in cents-exact form, back in currency units — the
    * aggregate the windowed/sessionized sums publish. Windowed callers
    * compose the pieces themselves (`sum(centsLong).over(w) / 100.0`). */
  def centsExactSum: org.apache.spark.sql.Column =
    sum(centsLong) / lit(100.0)

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark — the
    * streaming form of `events_window_agg`. Works on any DataFrame with
    * (ts: Timestamp, event_type: String, user_id: Long, value: Double),
    * batch or streaming.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // integer-CENTS sum, the batch twins' invariant (EventQueries
      // events_window_agg): BIGINT cents are exact and summation-order-
      // independent, where round(sum(double), 2) could flip a cent near
      // a .005 boundary as micro-batch partial-aggregation order varies
      // — the exact flake the batch comment forbids, and a streaming
      // run reorders partials far more than a batch one
      .agg(count(lit(1)).as("n_events"),
        centsExactSum.as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes with a 2-hour watermark —
    * the streaming form of `events_sliding_window`. Each event updates
    * window/slide = 4 window states; the watermark closes (and evicts)
    * a window once event time passes its end + delay, which is what
    * bounds state on an unbounded stream despite the overlap. Batch or
    * streaming, same expression (parity spec-tested).
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      // cents-exact sum — see windowedAgg
      .agg(count(lit(1)).as("n_events"),
        centsExactSum.as("sum_value"))
      // unix_millis, not cast-to-long: stays legal whatever timestamp
      // flavor the window carries (the batch twin's own rule — a
      // TIMESTAMP_NTZ event-time column makes the cast an
      // AnalysisException while the sibling aggs accept the same frame)
      .select(expr("unix_millis(window.start) div 1000").as("window_start_s"),
        col("n_events"), col("sum_value"))

  /** Watermarked per-window fixed-width value histogram — the streaming
    * form of `events_value_histogram`. A whole-stream histogram can
    * never finalize on an unbounded input, so the streaming form
    * windows it: each (1 h window, bucket) key holds one mergeable
    * (count, sum) state cell — ≤20 buckets per window — evicted once
    * the watermark passes the window. Batch or streaming, same
    * expression (parity spec-tested).
    */
  def histogramStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"),
        floor(col("value") / 25.0).cast("long").as("bucket"))
      // cents-exact sum — see windowedAgg
      .agg(count(lit(1)).as("n_events"),
        centsExactSum.as("sum_value"))
      .select(col("window.start").as("window_start"), col("bucket"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the streaming dual of `dedup_exact`, and
    * the idempotent-ingest step of a pipeline fed by an at-least-once
    * source: keep the first arrival of each `event_id`, dropping
    * re-deliveries that arrive within the watermark horizon.
    * `dropDuplicatesWithinWatermark` evicts per-key state once the
    * watermark passes it — the only way exact dedup stays bounded on an
    * unbounded stream (plain `dropDuplicates` state grows forever).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  final case class SessionState(start: Long, last: Long, events: Long)
  final case class SessionOut(userId: Long, nEvents: Long, durationMs: Long)

  /** Session tracking with explicit keyed state — the BATCH demo form of
    * `events_sessionize` via `flatMapGroupsWithState` (one invocation
    * sees all of a key's rows; the trailing open session is flushed at
    * the end, `NoTimeout`). NOT a streaming operator: on a real stream
    * it would re-emit a still-open session every micro-batch and never
    * evict quiet users' state — the streaming form with real
    * watermark-driven eviction is [[sessionizeEventTime]].
    */
  def sessionize(events: Dataset[(Long, Long)]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events.groupByKey(_._1).flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      case (userId, rows, state: GroupState[SessionState]) =>
        // batch invocation: all rows for the key arrive at once, sorted here
        val sorted = rows.map(_._2).toSeq.sorted
        val (closed, lastState) = sorted.foldLeft(
          (Vector.empty[SessionOut], state.getOption)) {
          case ((done, None), ms) => (done, Some(SessionState(ms, ms, 1)))
          case ((done, Some(st)), ms) =>
            if (ms - st.last > gapMs)
              (done :+ SessionOut(userId, st.events, st.last - st.start),
                Some(SessionState(ms, ms, 1)))
            else (done, Some(st.copy(last = ms, events = st.events + 1)))
        }
        lastState.foreach(state.update)
        // flush the trailing open session too — in a real stream this
        // would wait for the timeout; in micro-batch tests we emit it
        val tail = lastState.map(st => SessionOut(userId, st.events, st.last - st.start))
        (closed ++ tail).iterator
    }
  }

  final case class SessionWin(user_id: Long, session_start_ms: Long,
    session_end_ms: Long, n_events: Long)

  /** Keyed state: every session of the user not yet finalized by the
    * watermark, sorted by start. Bounded: a session leaves the set the
    * moment the watermark passes its close, so the set holds at most the
    * sessions whose close lies inside the watermark delay — O(delay/gap)
    * per active user, O(1) for the delay ≤ gap configurations the
    * replays run. */
  final case class SessionSetState(sessions: Seq[SessionState])

  /** Event-time-timeout sessionization — the TRUE streaming eviction for
    * [[sessionize]]: a session emits when the event-time WATERMARK passes
    * its close (last event + gap), exactly when Spark's native
    * `session_window` would finalize it in append mode, not when the
    * batch happens to end. `flatMapGroupsWithState` with
    * `GroupStateTimeout.EventTimeTimeout`:
    *
    *  - a data batch merges the key's (watermark-filtered) rows into the
    *    kept session set under the native `session_window` rule (an
    *    event < gap after a session's last — or < gap before its start —
    *    joins it; two sessions a bridging event connects COALESCE into
    *    one). Sessions are NOT emitted inline on same-batch gaps: a
    *    session stays in state until the watermark passes its close,
    *    because until then an admissible late event can still bridge it
    *    to a later one — emitting early would publish two overlapping
    *    sessions where the native operator merges them into one;
    *  - a session whose close (last + gap) <= watermark is FINAL by
    *    construction — the watermark filter drops any event that could
    *    still reach it — so it emits and leaves the state, in the data
    *    batch that observes this or in the no-data timeout batch Spark
    *    schedules when the watermark passes the armed earliest close.
    *    Quiet users are evicted by watermark alone; no end-of-input
    *    flush anywhere.
    *
    * Output schema matches `events_session_window`'s oracle rows:
    * (user_id, session_start_ms, session_end_ms=last+gap, n_events).
    */
  def sessionizeEventTime(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionWin] = {
    import events.sparkSession.implicits._
    events
      // a NULL event time is un-sessionizable: it belongs to no window,
      // advances no watermark, and would NPE at the `.getTime` below —
      // drop it here (the windowed-aggregation operators drop null
      // event times the same way), never inside the stateful function
      .filter(_._2 != null)
      .groupByKey(_._1).flatMapGroupsWithState[SessionSetState, SessionWin](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      case (userId, rows, state: GroupState[SessionSetState]) =>
        def emit(st: SessionState) =
          SessionWin(userId, st.start, st.last + gapMs, st.events)
        val wm = state.getCurrentWatermarkMs()
        val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
        val incoming = rows.map { r =>
          val ms = r._2.getTime; SessionState(ms, ms, 1)
        }.toSeq
        // merge under the session_window rule: sorted by start, a
        // member starting < gap after the current session's last joins
        // it (>= gap starts a new one); a bridging event merges the
        // sessions on BOTH of its sides because the fold keeps
        // coalescing while the next start stays inside the gap
        val merged = (prior ++ incoming).sortBy(s => (s.start, s.last))
          .foldLeft(Vector.empty[SessionState]) {
            case (acc :+ cur, s) if s.start - cur.last < gapMs =>
              acc :+ SessionState(cur.start,
                math.max(cur.last, s.last), cur.events + s.events)
            case (acc, s) => acc :+ s
          }
        // final = the watermark passed the close: any event that could
        // still extend or bridge this session would carry ts < last+gap
        // <= wm and the watermark filter already drops it
        val (ripe, live) = merged.partition(_.last + gapMs <= wm)
        if (live.isEmpty) { if (state.exists) state.remove() }
        else {
          state.update(SessionSetState(live))
          // arm at the EARLIEST kept close; must sit past the current
          // watermark (Spark refuses a timeout at/before it), and the
          // max() clamp also covers a close that lapsed mid-batch —
          // it fires in the next no-data batch
          state.setTimeoutTimestamp(
            math.max(live.map(_.last + gapMs).min, wm + 1))
        }
        ripe.sortBy(_.start).map(emit).iterator
    }
  }

  final case class LatestIn(userId: Long, ms: Long, eventId: Long, eventType: String)
  final case class LatestOut(userId: Long, ms: Long, eventId: Long, eventType: String)

  /** Keyed latest-state materialization — the streaming dual of
    * `events_cdc_merge` via `flatMapGroupsWithState`: per-key state
    * holds the single current survivor (O(1) per key, never the change
    * history), and each micro-batch emits the keys whose survivor
    * CHANGED — the update stream a downstream snapshot table applies.
    * The survivor contract is the batch operator's exactly:
    * max (ms, event_id), so same-millisecond updates and replayed
    * micro-batches converge on the identical row. Emissions carry the
    * survivor's event_id: per user they are strictly increasing in
    * (ms, event_id), so a downstream snapshot recovers the final state
    * as the per-user max — exactly, whatever the micro-batch split
    * (the declared `events_cdc_stream_equiv` hash-checks this replay
    * against the batch operator's snapshot).
    */
  def latestState(events: Dataset[LatestIn]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId).flatMapGroupsWithState[LatestIn, LatestOut](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      case (userId, rows, state: GroupState[LatestIn]) =>
        val best = (rows ++ state.getOption.iterator)
          .maxBy(r => (r.ms, r.eventId))
        val changed = !state.getOption.contains(best)
        state.update(best)
        if (changed) Iterator(LatestOut(userId, best.ms, best.eventId, best.eventType))
        else Iterator.empty
    }
  }

  final case class AttrIn(userId: Long, tsUs: Long, eventId: Long, eventType: String)
  final case class AttrOut(userId: Long, purchaseId: Long, touchType: String)

  /** Keyed last-touch attribution — the streaming dual of
    * `events_attribution` via `flatMapGroupsWithState`: per-user state
    * holds the single most recent touchpoint (view/click) seen so far
    * (O(1) per key, never the touch history), and each purchase emits
    * one attribution row crediting the state at its position in the
    * sequence. Event time is FULL microseconds — the identical grain
    * the batch oracle's `ORDER BY ts, event_id` window sorts on, so
    * same-millisecond touches cannot reorder between the two engines.
    * Rows within a micro-batch are processed in `(tsUs, eventId)`
    * order; across batches the source must deliver in event-time order
    * (the declared replay stages a time-split source; a production
    * feed is a time-ordered log), so a purchase in a later batch is
    * credited to a touch carried in state from an earlier one — the
    * cross-batch carry the declared equivalence key exercises.
    * Purchases with no preceding touch credit 'none'.
    */
  def attributionStream(events: Dataset[AttrIn]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId).flatMapGroupsWithState[AttrIn, AttrOut](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      case (userId, rows, state: GroupState[AttrIn]) =>
        def before(a: AttrIn, b: AttrIn): Boolean =
          a.tsUs < b.tsUs || (a.tsUs == b.tsUs && a.eventId < b.eventId)
        var last = state.getOption
        val out = Vector.newBuilder[AttrOut]
        rows.toSeq.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
          r.eventType match {
            case "view" | "click" =>
              if (last.forall(before(_, r))) last = Some(r)
            case "purchase" =>
              out += AttrOut(userId, r.eventId,
                last.map(_.eventType).getOrElse("none"))
            case _ => () // signup/error are neither touch nor conversion
          }
        }
        last.foreach(state.update)
        out.result().iterator
    }
  }

  /** Stream-stream interval join — the continuous form of the batch
    * enrichment joins ([[graft.ops.JoinQueries]] `join_asof` /
    * `join_range`): two watermarked event streams joined on key with an
    * event-time interval constraint (`view.ts` within the 30 minutes
    * before `click.ts`). The interval bound + both watermarks are what
    * make this runnable forever: each side buffers only rows younger
    * than watermark + interval, so state is bounded regardless of
    * stream length — the 100 TB/day ingest shape. Works identically on
    * batch DataFrames (spec-tested).
    */
  def intervalJoin(clicks: DataFrame, views: DataFrame): DataFrame =
    clicks.withWatermark("ts", "1 hour").alias("c")
      .join(
        views.withWatermark("ts", "1 hour").alias("v"),
        expr("""c.user_id = v.user_id AND
                v.ts >= c.ts - INTERVAL 30 MINUTES AND
                v.ts <= c.ts"""))
      .select(col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("v.ts").as("view_ts"),
        col("c.event_id").as("click_id"), col("v.event_id").as("view_id"))

  /** One micro-batch's idempotent landing: delete any rows a previous
    * (crashed, replayed) attempt of the SAME batch left behind, then
    * append the batch stamped with its checkpointed id. Replaying a
    * micro-batch therefore converges to exactly one copy of its rows —
    * the delete-then-insert upsert that turns an at-least-once
    * `foreachBatch` into an exactly-once-EFFECT sink (the standard
    * pattern for idempotent JDBC sinks). Separated from the stream
    * wiring so the replay property is directly spec-testable.
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      url: String,
      table: String,
      props: java.util.Properties,
      batchSizeRows: Int = 100000): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // The delete is skipped ONLY when the table provably does not
      // exist yet (first batch against a fresh destination) — checked
      // via connection metadata, not by swallowing SQLException: a
      // TRANSIENT delete failure (lock timeout, dropped connection)
      // must propagate and fail the micro-batch, or the append below
      // would land a second copy of a replayed batch's rows and
      // silently break the exactly-once-effect contract. The probe is
      // the shared LIKE-escaped, case-fold-aware definition
      // (graft.exec.Sinks.jdbcTableExists) the JDBC append guard uses
      // too, so the wildcard-escape fix cannot fork — on THIS
      // connection, not a second one per micro-batch.
      if (graft.exec.Sinks.jdbcTableExists(conn, table)) {
        val st = conn.prepareStatement(s"""DELETE FROM $table WHERE "_batch_id" = ?""")
        try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
      }
    } finally conn.close()
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("append")
      .option("batchsize", batchSizeRows)
      .jdbc(url, table, props)
  }

  /** Streaming → transactional JDBC destination via `foreachBatch` — the
    * reference's destination story (batched transactional inserts into a
    * SQL database, `SmartBulkCopy.cs:440-561`) under continuous
    * ingestion. Each micro-batch lands through [[upsertBatch]]: replayed
    * batches (restart after a crash between write and checkpoint
    * commit) first delete their own prior rows by `_batch_id`, so the
    * destination converges to exactly one copy of every micro-batch.
    *
    * `checkpointLocation` is REQUIRED for that restart contract: batch
    * ids are only meaningful within one checkpoint lineage. A restart
    * without a durable checkpoint starts a fresh lineage at batchId 0
    * with no guarantee of the prior run's batch slicing — the upsert
    * would then DELETE the prior incarnation's rows batch-id by
    * batch-id and replace them with differently-sliced batches,
    * transiently dropping data and stranding any old batch id the new
    * lineage never reaches. Omit it only for single-incarnation
    * (test/demo) queries, which is why it defaults to None instead of
    * silently minting a temp checkpoint in callers' names.
    */
  def streamToJdbc(
      events: org.apache.spark.sql.DataFrame,
      url: String,
      table: String,
      props: java.util.Properties,
      batchSizeRows: Int = 100000,
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // Materialize the destination BEFORE the stream starts: a replay
    // that delivers zero micro-batches (empty source, everything
    // filtered) never fires foreachBatch, and a lazily-created table
    // would leave downstream readers of the destination failing on a
    // missing relation — an ingest sink's contract is a queryable
    // (possibly empty) table either way. An append of an empty frame
    // with the landed schema (incl. the `_batch_id` lineage column
    // upsertBatch stamps) creates the table iff absent and inserts
    // nothing. GUARDED by the same existence probe upsertBatch uses:
    // an unconditional append paid an extra JDBC round-trip on every
    // call, and against a pre-existing destination created WITHOUT the
    // `_batch_id` column it failed at stream construction (Spark's
    // insert-statement build rejects the unmatched column) — a legacy
    // destination must keep its first-batch failure mode, not gain a
    // construction-time one.
    val s = events.sparkSession
    if (!graft.exec.Sinks.jdbcTableExists(url, table, props))
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          events.schema.add("_batch_id", org.apache.spark.sql.types.LongType))
        .write.mode("append").jdbc(url, table, props)
    val w = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        upsertBatch(batch, batchId, url, table, props, batchSizeRows)
      }
    checkpointLocation.fold(w)(p => w.option("checkpointLocation", p)).start()
  }
}
