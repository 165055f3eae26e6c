package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts timestamp, user_id, event_type, value, props).
  *
  * The reference engine is purely bounded batch (SURVEY §2.10) — these are
  * north-star extensions. Each transform takes a DataFrame and works
  * identically on a batch frame or a `readStream` frame; watermarking and
  * output modes only engage on streaming input.
  */
object EventStream {

  /** Tumbling event-time windows with a watermark for state cleanup and
    * late-data tolerance: counts + value sum per (window, event_type).
    */
  def windowedAggregate(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes",
      slide: Option[String] = None
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        slide.fold(window(col("ts"), windowLength))(s => window(col("ts"), windowLength, s)),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("cnt"),
        col("sum_value")
      )

  /** Millisecond value of a Spark interval string like "10 minutes";
    * None when the string needs the engine's full parser (month-bearing or
    * exotic forms — `withWatermark` itself remains the authority).
    */
  private def intervalMs(interval: String): Option[Long] =
    try {
      val ci = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(interval))
      if (ci == null || ci.months != 0) None
      else Some(ci.days * 86400000L + ci.microseconds / 1000L)
    } catch { case _: Exception => None }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastSeen: Long, events: Int, totalValue: Double)
  case class SessionResult(user_id: Long, session_start: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Fold a (time-sorted) batch of one user's events into session state:
    * an event farther than the gap from the last one CLOSES the running
    * session and starts a new one. Returns (closed sessions in order,
    * live session) — callers that can only keep one result (the
    * processing-time [[sessionize]]) drop the closed ones; the event-time
    * variant emits them.
    *
    * Events are sorted WITHIN a batch, but a LATE event (within the
    * watermark) can arrive in a later micro-batch with a timestamp behind
    * the live session's lastSeen. Absorbing it must never REWIND the
    * session clock: lastSeen advances monotonically (max) and start only
    * moves backward (min) — otherwise the next on-time event would be
    * measured against the rewound clock and falsely split the session,
    * irrevocably emitting a wrong closed session in Append mode.
    */
  private def foldSessions(
      prior: Option[SessionState],
      evs: Seq[SessionEvent],
      gapMs: Long
  ): (Seq[SessionState], SessionState) = {
    val init = prior.getOrElse(SessionState(evs.head.ts.getTime, 0L, 0, 0.0))
    evs.foldLeft((Vector.empty[SessionState], init)) { case ((closed, s), e) =>
      val t = e.ts.getTime
      if (t - s.lastSeen > gapMs && s.events > 0)
        (closed :+ s, SessionState(t, t, 1, e.value))
      else
        (closed, SessionState(
          if (s.events == 0) t else math.min(s.start, t),
          math.max(s.lastSeen, t),
          s.events + 1, s.totalValue + e.value))
    }
  }

  private def mergeSession(
      prior: Option[SessionState],
      evs: Seq[SessionEvent],
      gapMs: Long
  ): SessionState = foldSessions(prior, evs, gapMs)._2

  /** Gap-based sessionization with custom state
    * (`mapGroupsWithState` + processing-time timeout): a user's session
    * closes after `gapMinutes` of WALL-CLOCK silence; closed sessions are
    * emitted with their aggregates. Demonstrates the KeyValueGroupedDataset
    * custom state surface over the events stream.
    *
    * CAVEAT (streaming): processing-time timeouts make the query schedule
    * no-data micro-batches continuously (wall time always advances, so the
    * engine must keep checking for expirable state). Run it with a real
    * `Trigger.ProcessingTime` interval, and note
    * `StreamingQuery.processAllAvailable()` never returns on such a query
    * (`noNewData` is never reached). Prefer [[sessionizeByEventTime]] for
    * deterministic, replay-stable semantics — processing-time session
    * closure depends on arrival timing, not on the data.
    *
    * EMISSION CAVEAT: `mapGroupsWithState` can return only ONE row per
    * invocation, so when a single micro-batch (or a batch frame) contains a
    * gap restart, the session closed mid-batch is merged away — only each
    * user's FINAL/live session is reliably emitted by this variant.
    * [[sessionizeByEventTime]] emits every closed session exactly once.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[SessionResult] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionResult](GroupStateTimeout.ProcessingTimeTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionResult(userId, new java.sql.Timestamp(s.start), s.events, s.totalValue)
          } else {
            val merged = mergeSession(state.getOption, batch.toSeq.sortBy(_.ts.getTime), gapMs)
            state.update(merged)
            state.setTimeoutDuration(gapMs)
            SessionResult(userId, new java.sql.Timestamp(merged.start), merged.events, merged.totalValue)
          }
      }
  }

  /** Gap-based sessionization on EVENT time (`mapGroupsWithState` +
    * event-time timeout): a user's session closes once the WATERMARK passes
    * `lastSeen + gapMinutes` — closure is a function of the data, not of
    * arrival timing, so a replay of the same stream yields the same
    * sessions. This is the variant to run at scale: state is freed by
    * watermark progress (bounded even with users that vanish), the query
    * quiesces when the watermark stops advancing (no idle no-data batch
    * loop, `processAllAvailable()` terminates), and results are
    * deterministic under retry/replay like every batch operator here.
    *
    * EMISSION CONTRACT (`flatMapGroupsWithState`, Append): every CLOSED
    * session is emitted exactly once — either when a later event restarts
    * the user past the gap (the invocation emits the prior session it is
    * closing, whether the restart arrives in the same micro-batch or a
    * later one), or when the watermark passes `lastSeen + gap` (event-time
    * timeout). The still-live session is NOT emitted while streaming — it
    * surfaces when it closes. On a bounded frame the watermark machinery is
    * elided and no timeout will ever fire, so the live session is emitted
    * along with the closed ones: batch output is ALL sessions, identical to
    * the gaps-and-islands batch gate (driver-hashed via
    * `q_events_sessions_stream`, spec-checked in MultimodalStreamingSpec).
    */
  def sessionizeByEventTime(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"
  ): Dataset[SessionResult] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    // Late-event absorption (start = min, lastSeen = max) matches batch
    // gaps-and-islands ONLY while admitted late events cannot land more
    // than a gap before the live session's start — i.e. while
    // watermarkDelay <= gap. Past that, a late event would silently merge
    // into a session it should have preceded, diverging from batch and
    // potentially overlapping a closed session already emitted in Append
    // mode. Fail the divergent configuration fast.
    intervalMs(watermarkDelay).foreach { wmMs =>
      require(
        wmMs <= gapMs,
        s"sessionizeByEventTime: watermarkDelay ($watermarkDelay = ${wmMs}ms) must be <= " +
          s"gapMinutes ($gapMinutes min = ${gapMs}ms) — a late event admitted from further back " +
          "than the gap would merge into a session whose earlier sessions are already emitted"
      )
    }
    events
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          def emit(s: SessionState) =
            SessionResult(userId, new java.sql.Timestamp(s.start), s.events, s.totalValue)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(s))
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            if (evs.isEmpty) Iterator.empty
            else {
              val (closed, live) = foldSessions(state.getOption, evs, gapMs)
              state.update(live)
              // Close when the watermark (event-time low-water mark) passes
              // the gap horizon; max() guards a session already behind the
              // current watermark from an invalid in-past timeout. On a
              // bounded frame the watermark node is elided (getCurrent
              // WatermarkMs throws) and the timeout is inert — use the raw
              // horizon and emit the live session too, since nothing else
              // ever will.
              val horizon = live.lastSeen + gapMs
              val streaming =
                try {
                  state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
                  true
                } catch {
                  case _: UnsupportedOperationException =>
                    state.setTimeoutTimestamp(horizon)
                    false
                }
              if (streaming) closed.iterator.map(emit)
              else (closed :+ live).iterator.map(emit)
            }
          }
      }
  }

  /** Streaming exact deduplication: keep the first arrival per key within
    * the watermark horizon — the streaming twin of
    * [[graft.operators.Dedup.exactDuplicates]]. State is bounded by the
    * watermark: a key's dedup record is dropped once its event time falls
    * behind `watermarkDelay`, so the operator runs indefinitely at constant
    * state (an UNBOUNDED dropDuplicates would grow forever at 100 TB/day).
    * Works identically on a batch frame (plain dropDuplicates semantics).
    *
    * @param keyCols dedup identity; for content dedup pass a content hash
    *                column (md5(text)), never the payload itself.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** Per-user funnel progress: `times(i)` = first completion micros of
    * stage i (−1 while unreached), `stage_reached` = length of the set
    * prefix (the strict cascade makes set times a prefix by construction).
    */
  case class FunnelSnapshot(user_id: Long, times: Seq[Long], stage_reached: Int)

  /** Streaming twin of [[graft.operators.EventAnalytics.funnel]]: per-user
    * funnel state advanced incrementally as events arrive. State is one
    * `times` array per user (8 bytes × stages — the smallest state any
    * funnel can carry); each invocation processes its batch in EVENT-TIME
    * order and sets stage i's time at the first event of stage i's type
    * strictly after stage i−1's completion, exactly the batch cascade.
    *
    * EQUIVALENCE CONTRACT: streamed == batch REQUIRES event-time-ordered
    * delivery ACROSS micro-batches (within a batch this operator sorts) —
    * the chronological file replay provides it, and a production deployment
    * gets it from a time-ordered log (e.g. Kafka per-key ordering by event
    * time). The cascade is NOT incrementally maintainable under arbitrary
    * disorder with bounded state: a signup arriving after a view it should
    * unlock would need every rejected event buffered to re-run — that
    * variant is a windowed-buffer operator (sessionize-style watermark
    * state), deliberately out of scope; the strict (>) comparison makes
    * equal-timestamp delivery order irrelevant, so quantile-split replay
    * chunks cannot diverge. Unreached-stage times stay −1.
    *
    * Emission (`Update` mode): a user's snapshot is emitted on first sight
    * (matching batch output, which carries stage-0 users) and again on
    * every batch that advances a stage — the furthest snapshot per user is
    * the funnel result (set-once times make equal-stage snapshots
    * identical). On a BOUNDED frame the function runs once per user and
    * emits exactly the batch funnel. No timeout: funnel state is permanent
    * by definition; a deployment bounding user cardinality would add an
    * event-time TTL exactly as [[sessionizeByEventTime]] does.
    */
  def funnelByEventTime(
      events: Dataset[FunnelEvent],
      stages: Seq[String]): Dataset[FunnelSnapshot] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], FunnelSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (userId, batch, state) =>
        val firstSight = state.getOption.isEmpty
        val times = state.getOption.getOrElse(Seq.fill(stages.size)(-1L)).toArray
        var changed = false
        batch.toArray.sortBy(e => micros(e.ts)).foreach { e =>
          stageIdx.get(e.event_type).foreach { i =>
            val tus = micros(e.ts)
            if (times(i) < 0 && (i == 0 || (times(i - 1) >= 0 && tus > times(i - 1)))) {
              times(i) = tus
              changed = true
            }
          }
        }
        state.update(times.toSeq)
        if (firstSight || changed) {
          val reached = times.takeWhile(_ >= 0).length
          Iterator.single(FunnelSnapshot(userId, times.toSeq, reached))
        } else Iterator.empty
      }
  }

  case class MonitorEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long, cents: Long)
  case class OutlierFlag(event_id: Long, user_id: Long, is_outlier: Boolean)

  /** STREAMING twin of [[graft.operators.EventAnalytics.rollingOutliers]]:
    * per-user state is a ring of the last `lookback` fixed-point values;
    * each arriving event is z-tested against that ring (the same
    * division-and-sqrt-free BIGINT inequality), emitted exactly once, and
    * pushed. State is `lookback` longs per live key — bounded forever, no
    * watermark needed (the monitor's window is row-count, not time).
    * Within a micro-batch the group sorts by (event time, event_id), so
    * under chronological replay the emitted flags equal the batch
    * operator's row-for-row (the gate shares its oracle verbatim).
    */
  def rollingOutliersByEventTime(
      events: Dataset[MonitorEvent],
      lookback: Int = 10,
      minPoints: Int = 5,
      zThreshold: Int = 3
  ): Dataset[OutlierFlag] = {
    require(lookback >= minPoints && minPoints >= 2, "need lookback >= minPoints >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], OutlierFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (userId, batch, state) =>
        var window = state.getOption.getOrElse(Seq.empty[Long]).toVector
        val out = batch.toArray.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
          val n = window.length
          val flag = n >= minPoints && {
            var s1 = 0L; var s2 = 0L
            window.foreach { v => s1 += v; s2 += v * v }
            val dev = e.cents * n - s1
            dev * dev > zThreshold.toLong * zThreshold * (n * s2 - s1 * s1)
          }
          window = (window :+ e.cents).takeRight(lookback)
          OutlierFlag(e.event_id, userId, flag)
        }
        state.update(window)
        out.iterator
      }
  }

  case class BandedDoc(bucket: String, doc_id: Long, ts: java.sql.Timestamp, sig: Array[Long])
  case class NearDupCandidate(doc_a: Long, doc_b: Long, ts: java.sql.Timestamp, est_jaccard: Double)

  /** Streaming NEAR-duplicate candidate detection — the streaming twin of
    * [[graft.operators.Dedup.minHashLshPairs]]: each document's MinHash
    * band keys route it to per-bucket state holding the recent documents
    * of that bucket, and a new arrival is compared (signature-estimate
    * Jaccard, the same estimator the batch prune uses) against bucket
    * members within `windowMinutes` of event time. Emits
    * (doc_a < doc_b, ts of the later doc, est_jaccard ≥ `minEstJaccard`).
    *
    * STATE IS BOUNDED twice: by the WATERMARK (an entry is evicted once
    * the watermark passes `ts + window` — nothing arriving later could
    * pair with it), and by `maxPerBucket` (a hot bucket keeps its most
    * recent K members; the cap is a documented recall bound, the same
    * honesty contract as ExactGuard). A pair colliding in several bands
    * emits once per band — compose with [[dedupWithinWatermark]] on
    * (doc_a, doc_b) to collapse them, exactly as the batch verifier
    * dedups band collisions. Candidates are APPROXIMATE by design (band
    * recall × estimator noise); exact-Jaccard verification happens
    * downstream against a document store, as in the batch pipeline.
    *
    * On a bounded frame the watermark machinery is elided and this
    * reduces to banded candidates restricted to the time window —
    * spec-checked equal to the streamed replay.
    */
  def nearDupCandidatesWithinWatermark(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      windowMinutes: Int = 60,
      watermarkDelay: String = "10 minutes",
      minEstJaccard: Double = 0.5,
      maxPerBucket: Int = 64
  ): Dataset[NearDupCandidate] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows     = numHashes / bands
    val windowMs = windowMinutes * 60000L
    val banded = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        graft.operators.Dedup.minHashSignature(col(textCol), n, numHashes).as("sig")
      )
      .withWatermark("ts", watermarkDelay)
      .select(
        col("doc_id"), col("ts"), col("sig"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => concat_ws(":", b.cast("string"),
              concat_ws(",", transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string"))))
          )
        ).as("bucket")
      )
      .as[BandedDoc]
    def est(a: Array[Long], b: Array[Long]): Double =
      graft.operators.Dedup.estimateJaccard(a, b)
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[List[(Long, Long, Array[Long])], NearDupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_, batch, state: GroupState[List[(Long, Long, Array[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val incoming = batch.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            if (incoming.isEmpty) Iterator.empty
            else {
              var members = state.getOption.getOrElse(Nil)
              val out = Seq.newBuilder[NearDupCandidate]
              incoming.foreach { d =>
                val t = d.ts.getTime
                members.foreach { case (oid, ots, osig) =>
                  if (oid != d.doc_id && math.abs(t - ots) <= windowMs) {
                    val e = est(d.sig, osig)
                    if (e >= minEstJaccard)
                      out += NearDupCandidate(math.min(d.doc_id, oid), math.max(d.doc_id, oid),
                        new java.sql.Timestamp(math.max(t, ots)), e)
                  }
                }
                // Cap by EVENT time (newest K), not arrival order: a
                // late-but-admitted old document must not evict a newer
                // member whose pairing window is still open. Ties break on
                // doc_id for replay determinism. K ≤ maxPerBucket keeps the
                // per-arrival sort trivial.
                members = ((d.doc_id, t, d.sig) :: members)
                  .sortBy { case (mid, mts, _) => (-mts, mid) }
                  .take(maxPerBucket)
              }
              // Watermark eviction: nothing arriving later can pair with an
              // entry whose window has passed. (Batch: watermark reads as
              // unset → keep all, the bounded-frame semantics.)
              val wm = try state.getCurrentWatermarkMs() catch { case _: UnsupportedOperationException => 0L }
              members = members.filter(_._2 + windowMs >= wm)
              if (members.isEmpty) state.remove()
              else {
                state.update(members)
                val horizon = members.map(_._2).max + windowMs
                try state.setTimeoutTimestamp(math.max(horizon, wm + 1))
                catch { case _: UnsupportedOperationException => () }
                ()
              }
              out.result().iterator
            }
          }
      }
  }

  /** Stream-static enrichment: join each streaming event to a STATIC
    * dimension frame (user profile, document metadata, model registry).
    * Stream-static joins are stateless on the stream side — Spark
    * broadcasts or re-scans the static side per micro-batch, no streaming
    * state, no watermark needed — which makes this the cheapest join shape
    * a pipeline can use and the right first choice before reaching for
    * stream-stream joins. Left join keeps unmatched events (dimension
    * misses become nulls to handle downstream, not dropped data).
    */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      on: Seq[String],
      joinType: String = "left"
  ): DataFrame =
    stream.join(dim, on, joinType)

  /** Streaming serving form of [[graft.operators.Dedup.incrementalDedup]]'s
    * match stage: documents arrive as a STREAM and are checked against a
    * PERSISTED band-partitioned signature index
    * ([[graft.operators.Dedup.persistSignatureIndex]]) — the shape a
    * continuous-ingest pipeline runs (the batch form is the nightly
    * compaction of the same contract).
    *
    * foreachBatch, not a stream-static join, deliberately: a stream-static
    * join freezes ONE static plan at query start, so every micro-batch
    * rescans the ENTIRE index — at 10⁹ indexed docs a single-doc trigger
    * pays a full-index scan. Inside foreachBatch each micro-batch is a
    * bounded frame, so the probe re-plans per trigger:
    * [[graft.operators.Dedup.matchVsPersistedIndex]] collects the batch's
    * band-key buckets and pushes them as a partition-column filter — the
    * scan touches ≤ `bands × batchDocs` of the index's `keyBuckets`
    * partitions, and the batch side rides a broadcast. Matches append to
    * `sinkPath` as parquet (exactly-once via the checkpoint + sink log).
    *
    * Emissions are per colliding PAIR (the probe dedups band collisions
    * in-plan), and the sink is EXACTLY-once by layout: each batch
    * overwrites its own `batch=<id>` subdirectory, so a retried or
    * checkpoint-replayed batch replaces its previous output instead of
    * appending a duplicate copy — read `sinkPath` as one parquet tree
    * (the discovered `batch` partition column is the idempotency
    * detail; drop it if unwanted).
    *
    * LAYOUT MIGRATION: this sink once appended flat parquet files
    * directly under `sinkPath`. The batch-subdirectory layout cannot
    * coexist with flat leftovers — partition discovery over the mix
    * fails, and a reader would otherwise silently double-count — so a
    * pre-existing FLAT sink is refused at start with a loud error:
    * point the query at a fresh `sinkPath` (or move the legacy files
    * aside) before restarting.
    */
  def matchVsPersistedIndexSink(
      stream: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      sinkPath: String,
      checkpointPath: String,
      estThreshold: Double = 0.8,
      queryName: String = "match_vs_persisted_index"
  ) = {
    // Refuse a legacy FLAT sink (data files directly under sinkPath, no
    // batch=<id> dirs) before the query starts — see the docstring.
    val sp = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = sp.getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(sp)) {
      val entries = fs.listStatus(sp)
      val flatData = entries.exists(e => e.isFile &&
        !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
      if (flatData) throw new IllegalStateException(
        s"matchVsPersistedIndexSink: $sinkPath holds FLAT parquet files from the pre-batch-layout " +
          "sink; the exactly-once batch=<id> layout cannot mix with them (partition discovery " +
          "fails and readers would double-count). Use a fresh sinkPath or move the legacy files aside.")
    }
    stream.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .matchVsPersistedIndex(batch, textCol, idCol, indexPath, estThreshold)
          .write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
      }
      .start()
  }

  /** Convenience: run a streaming frame into an in-memory sink and return
    * the query (tests and demos; production sinks are the caller's choice).
    */
  def toMemorySink(df: DataFrame, queryName: String, outputMode: OutputMode = OutputMode.Update()) =
    df.writeStream.format("memory").queryName(queryName).outputMode(outputMode).start()

  /** Stream → warehouse with effectively-once rows: each micro-batch goes
    * through the stage-and-merge upsert
    * ([[graft.sinks.JdbcUpsertSink.upsertViaStagingMerge]]), keyed on the
    * conflict target. `foreachBatch` is only at-least-once (a failure
    * between sink write and offset commit REPLAYS the batch), but a
    * replayed merge lands on the same final rows instead of appending
    * duplicates — the merge IS the idempotency layer, no sink-side batch
    * ledger needed. Pair with Update-mode aggregates (later batches
    * overwrite a key's row) or Append streams whose rows carry a natural
    * key.
    */
  def toJdbcUpsertSink(
      df: DataFrame,
      queryName: String,
      url: String,
      connectionProperties: java.util.Properties,
      schema: String,
      table: String,
      onConflict: graft.sinks.OnConflict,
      pkColumns: Seq[String] = Seq.empty,
      outputMode: OutputMode = OutputMode.Update()
  ) =
    df.writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.JdbcUpsertSink.upsertViaStagingMerge(
          batch, url, connectionProperties, schema, table, onConflict, pkColumns)
        () // foreachBatch's Scala and Java overloads both reject a Long-returning lambda
      }
      .start()
}
