package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

/** Driver-gate closures that run the STREAMING operators — the result the
  * driver hashes against DuckDB came through the Structured Streaming
  * engine (file-source replay → flatMapGroupsWithState / windowed agg →
  * memory sink), not through a batch shortcut. This promotes the
  * streaming⇄batch equivalence specs to driver-checked facts.
  *
  * REPLAY SOURCE: the fixture is written as K chronological parquet files
  * (time-quantile chunks, strictly increasing modification times) and read
  * back with `readStream.option("maxFilesPerTrigger", 1)` — each file is
  * its own micro-batch, in order, exactly like a production file-drop
  * ingestion directory. Unlike the earlier MemoryStream harness, the data
  * never rides the driver heap or the task binaries: it flows
  * executors → parquet → executors on BOTH ends (Append-mode results go
  * to a parquet file sink, so even an output that scales with the data —
  * every enriched event, every near-dup candidate — stays off the
  * driver; only Complete-mode aggregates, bounded by construction, use
  * the memory sink), so the same replay runs at any soak scale.
  *
  * Numeric domains are chosen so streaming-side arithmetic is EXACT and
  * therefore byte-comparable to the DuckDB oracle:
  *  - values are scaled to cents (exact DECIMAL(14,2)·100 as double —
  *    integer-valued, so double summation in ANY order is exact; a single
  *    final ÷100 matches DuckDB's CAST(DECIMAL AS DOUBLE) rounding);
  *  - session times live in the MILLISECOND domain, because
  *    [[EventStream.SessionEvent]] carries `java.sql.Timestamp` whose
  *    `getTime` is ms-resolution (µs floor-divided by 1000 on decode —
  *    the oracle mirrors with epoch_us(ts)//1000).
  */
object StreamGates {

  /** Recursively delete `p`, closing every directory stream (a leaked
    * `Files.list` stream is a leaked file descriptor — it adds up across
    * repeated gate/soak runs in one JVM).
    */
  private def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(rmTree(_))
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Per-JVM parent for Append-mode sink directories. The returned frame
    * reads the sink lazily through its `_spark_metadata` log, so the
    * directory must outlive the [[replayViaFiles]] call — collecting it
    * into driver memory instead would re-create the driver-heap blowup
    * the file sink exists to avoid. A shutdown hook reclaims the whole
    * root, so repeated gate/soak invocations stop accumulating under
    * /tmp across runs; checkpoints are deleted eagerly per query
    * (nothing reads a stopped gate query's checkpoint).
    */
  private lazy val appendSinkRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("stream_gate_runs")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try rmTree(p) catch { case _: Exception => () }
    ))
    p
  }

  /** Stage `src` as `chunks` chronological parquet files under `watchDir`
    * (quantile splits on `tsCol`, one file per chunk, strictly increasing
    * mtimes) ready for a `maxFilesPerTrigger=1` file-source replay. The
    * intermediate staging directory is deleted before returning.
    */
  private def stageChronologicalChunksInto(
      watchDir: java.nio.file.Path,
      src: DataFrame,
      tsCol: String,
      chunks: Int,
      flush: Seq[DataFrame]
  ): Unit = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val stageDir = Files.createTempDirectory("stream_gate_stage")

    // Chronological chunking by TS VALUE (quantile boundaries), not by a
    // global row_number: value splits need no single-partition sort, and
    // they guarantee chunk i's events all precede chunk i+1's — required
    // so the advancing watermark never discards a later chunk's rows.
    val tsMs   = unix_millis(col(tsCol)).cast("double")
    val bounds = src.select(tsMs.as("__ms")).stat
      .approxQuantile("__ms", (1 until chunks).map(_.toDouble / chunks).toArray, 0.001)
    val chunkIdx = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(tsMs > b, 1).otherwise(0)
    }

    var fileNo = 0
    def install(part: Path): Unit = {
      val target = watchDir.resolve(f"chunk_$fileNo%05d.parquet")
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      // Distinct, increasing mtimes: the file source processes oldest
      // first, so this pins the replay order deterministically.
      Files.setLastModifiedTime(
        target, java.nio.file.attribute.FileTime.fromMillis(1000000000000L + fileNo * 1000L))
      fileNo += 1
    }
    def partOf(stage: Path): Path = {
      val listing = Files.list(stage)
      // Exactly ONE data file per staged chunk dir, enforced loudly: the
      // replay install moves a single file, so a second part (e.g. a
      // future maxRecordsPerFile split of the partitioned staging write)
      // would otherwise SILENTLY drop its rows from the replay.
      try {
        val parts = listing.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        if (parts.length > 1)
          sys.error(s"expected exactly one parquet part under $stage, found ${parts.length}: " +
            parts.map(_.getFileName).mkString(", "))
        parts.headOption.getOrElse(sys.error(s"no parquet part written under $stage"))
      } finally listing.close()
    }
    def addFile(df: DataFrame): Unit = {
      val stage = stageDir.resolve(s"stage_$fileNo")
      df.repartition(1).write.mode("overwrite").parquet(stage.toString)
      install(partOf(stage))
    }
    try graft.Jobs.labeled(src.sparkSession, "stage:chunks") {
      // ONE pass stages every data chunk: the per-chunk repartition(1)
      // loop re-scanned the source K times (K write jobs, K plans) for
      // the same quantile split this single partitioned write encodes in
      // its layout — one file per __chunk value (rows hash-partition BY
      // the chunk column), renamed into replay position below. Flush
      // sentinels are tiny driver-built frames; they keep the per-file
      // write.
      val stagedAll = stageDir.resolve("all_chunks")
      src.withColumn("__chunk", chunkIdx)
        .repartition(col("__chunk"))
        .write.partitionBy("__chunk").parquet(stagedAll.toString)
      (0 until chunks).foreach { i =>
        val cd = stagedAll.resolve(s"__chunk=$i")
        if (Files.isDirectory(cd)) install(partOf(cd))
        else
          // An empty chunk (quantile ties) still needs its replay file so
          // the batch numbering matches the per-chunk-write layout.
          addFile(src.where(chunkIdx === i))
      }
      flush.foreach(addFile)
    } finally rmTree(stageDir)
  }

  /** Resolve the watch directory for a replay: staged fresh (deleted by the
    * caller via the returned cleanup flag) or, when `stageKey` is given,
    * staged AT MOST ONCE per JVM through [[graft.GateCache]] and shared by
    * every gate replaying the same source. The key is suffixed with a
    * CONTENT descriptor, not just the schema hash: the hash of the source
    * frame's canonicalized logical plan (which pins the scanned files AND
    * any filters — two same-schema, differently-filtered sources key
    * differently) plus a fingerprint of the flush sentinel rows (tiny
    * driver-built frames, collected here once). DEFENSE IN DEPTH, not a
    * guarantee: the descriptor is a 32-bit `hashCode` of the plan's
    * rendering (which for driver-built LocalRelations does not include
    * the rows), so distinct stagings are very likely — not certain — to
    * key apart; call-site key discipline remains the primary contract,
    * the descriptor catches the accidental-collision class.
    */
  private def resolveWatchDir(
      src: DataFrame,
      tsCol: String,
      chunks: Int,
      flush: Seq[DataFrame],
      stageKey: Option[String]
  ): (java.nio.file.Path, Boolean) =
    stageKey match {
      case Some(k) =>
        val dbg = sys.env.get("GRAFT_STREAM_DEBUG").contains("1")
        val t0 = System.nanoTime()
        val planHash  = src.queryExecution.logical.canonicalized.toString.hashCode
        val t1 = System.nanoTime()
        val flushHash = flush.map(f => f.schema.catalogString ::
          f.collect().toList.map(_.toString)).toString.hashCode
        val t2 = System.nanoTime()
        val key =
          s"stage:$k:$tsCol:$chunks:${src.schema.catalogString.hashCode}:$planHash:$flushHash"
        val d = graft.GateCache.dir(key)(p =>
          stageChronologicalChunksInto(java.nio.file.Paths.get(p), src, tsCol, chunks, flush))
        if (dbg) println(f"[stream-debug] planHash=${(t1 - t0) / 1e9}%.2f s " +
          f"flushHash=${(t2 - t1) / 1e9}%.2f s cacheDir=${(System.nanoTime() - t2) / 1e9}%.2f s")
        (java.nio.file.Paths.get(d), false)
      case None =>
        val watchDir = java.nio.file.Files.createTempDirectory("stream_gate_watch")
        stageChronologicalChunksInto(watchDir, src, tsCol, chunks, flush)
        (watchDir, true)
    }

  /** Write `src` as `chunks` chronological parquet files (quantile splits
    * on `tsCol`, one file per chunk, strictly increasing mtimes), then run
    * it through `build` as a `maxFilesPerTrigger=1` file-source stream
    * into a memory sink; returns the sink contents materialized to a
    * local frame, with the query stopped, the temp view dropped, and the
    * staging directory deleted.
    *
    * `flush` frames are appended as further files AFTER the data chunks —
    * watermark-flush sentinels each get their own micro-batch: one to
    * carry the watermark forward, the next to run the resulting timeouts.
    */
  private[graft] def replayViaFiles(
      spark: SparkSession,
      src: DataFrame,
      tsCol: String,
      chunks: Int,
      mode: OutputMode,
      flush: Seq[DataFrame] = Seq.empty,
      stageKey: Option[String] = None,
      windowedMonitor: Boolean = false
  )(build: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.Files
    val tResolve0 = System.nanoTime()
    val (watchDir, ownWatchDir) = resolveWatchDir(src, tsCol, chunks, flush, stageKey)
    if (sys.env.get("GRAFT_STREAM_DEBUG").contains("1"))
      println(f"[stream-debug] resolveWatchDir=${(System.nanoTime() - tResolve0) / 1e9}%.2f s")

    // Stateful streaming pays a per-micro-batch cost PER STATE PARTITION
    // (store commit + task launch × partitions × batches), and the state
    // partition count is frozen from spark.sql.shuffle.partitions at query
    // start. The fixture replay keys state by ~1.5k users — 8 partitions
    // saturate a 32-core local master for that cardinality; the session's batch setting
    // (sized for 100k-row shuffles) would triple the gate's wall clock in
    // pure state-store overhead. Scoped to the streaming query only:
    // restored before the batch post-processing runs.
    //
    // SINK: Append-mode results go to a parquet FILE SINK — output flows
    // executors → disk, never the driver heap, so a gate whose output
    // scales with the data (enrichment = every event, near-dup = every
    // candidate) soaks at any multiplier. Complete mode has no file-sink
    // support in Spark and its results are aggregates (bounded), so it
    // keeps the memory sink. The sink dir outlives this call (the
    // returned frame reads it lazily through the sink's _spark_metadata
    // log) under [[appendSinkRoot]], reclaimed at JVM exit; the
    // checkpoint is deleted as soon as the query stops.
    // `windowedMonitor` is for gates with FEW state keys and output
    // bounded by construction (the windowed drift monitors: bins-or-vocab
    // × windows) whose sentinels already drive emission through data
    // batches. It sets ONE state partition (the per-batch commit ×
    // partition product below the 8-partition default), drops the
    // engine's empty watermark-advance batches (each of which still
    // commits EVERY state partition), and sends Append output to the
    // memory sink — skipping the file sink's per-batch manifest commit;
    // the off-driver file-sink default stays mandatory for gates whose
    // output scales with the data.
    val name = s"stream_gate_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val priorShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val priorNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", if (windowedMonitor) "1" else "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", (!windowedMonitor).toString)
    val append = mode == OutputMode.Append() && !windowedMonitor
    // sink/checkpoint dirs exist only on the append (file-sink) path — the
    // memory-sink path never touches them, and an unconditionally created
    // empty sinkDir would accumulate under appendSinkRoot until JVM exit.
    val sinkDir = if (append) Some(Files.createTempDirectory(appendSinkRoot, "sink")) else None
    val ckptDir = if (append) Some(Files.createTempDirectory(appendSinkRoot, "ckpt")) else None
    val dbg = sys.env.get("GRAFT_STREAM_DEBUG").contains("1")
    val tStart = System.nanoTime()
    val query =
      try {
        val in = spark.readStream
          .schema(src.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(watchDir.toString)
        val writer = build(in).writeStream.outputMode(mode)
        if (append)
          writer.format("parquet")
            .option("path", sinkDir.get.toString)
            .option("checkpointLocation", ckptDir.get.toString)
            .start()
        else writer.format("memory").queryName(name).start()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", priorShufflePartitions)
        priorNoData match {
          case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
          case None    => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        }
      }
    try {
      val tLaunched = System.nanoTime()
      query.processAllAvailable()
      // Opt-in per-batch diagnostics (GRAFT_STREAM_DEBUG=1): batch wall
      // plus the engine's own duration breakdown — where a stream gate's
      // fixed cost actually sits.
      if (dbg) {
        val tDrained = System.nanoTime()
        println(f"[stream-debug] start=${(tLaunched - tStart) / 1e9}%.2f s " +
          f"drain=${(tDrained - tLaunched) / 1e9}%.2f s")
        query.recentProgress.foreach(p =>
          println(s"[stream-debug] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durMs=${p.durationMs}"))
      }
      if (append) spark.read.parquet(sinkDir.get.toString)
      else {
        val sunk = spark.table(name)
        spark.createDataFrame(sunk.collectAsList(), sunk.schema)
      }
    } finally {
      val tPre = System.nanoTime()
      query.stop()
      if (dbg) println(f"[stream-debug] stop=${(System.nanoTime() - tPre) / 1e9}%.2f s")
      if (!append) spark.catalog.dropTempView(name)
      ((if (ownWatchDir) Seq(watchDir) else Seq.empty) ++ ckptDir)
        .foreach(p => try rmTree(p) catch { case _: Exception => () })
    }
  }

  /** [[replayViaFiles]]' foreachBatch sibling: each micro-batch runs
    * through `perBatch` as a BOUNDED frame (so driver-side planning per
    * batch — partition-pruned probes, per-batch broadcasts — is legal) and
    * its result is appended to a parquet sink dir; returns a frame over
    * the sink. This is the serving shape for stream-vs-persisted-index
    * probes: a stream-static join cannot re-plan the static side per
    * batch, foreachBatch can.
    */
  private[graft] def replayViaForeachBatch(
      spark: SparkSession,
      src: DataFrame,
      tsCol: String,
      chunks: Int,
      stageKey: Option[String] = None
  )(perBatch: DataFrame => DataFrame): DataFrame =
    replayViaForeachBatchWithId(spark, src, tsCol, chunks, stageKey)((b, _) => perBatch(b))

  /** [[replayViaForeachBatch]] with the engine's batchId passed through —
    * for per-batch bodies whose behavior must be IDEMPOTENT under
    * Structured Streaming's retry semantics (a failed/restarted batch
    * re-runs with the SAME id): branch on the id (e.g. create vs append
    * an index on `batchId == 0`), never on driver-side mutable state,
    * which a re-run would observe already flipped.
    */
  private[graft] def replayViaForeachBatchWithId(
      spark: SparkSession,
      src: DataFrame,
      tsCol: String,
      chunks: Int,
      stageKey: Option[String] = None
  )(perBatch: (DataFrame, Long) => DataFrame): DataFrame = {
    import java.nio.file.Files
    val (watchDir, ownWatchDir) = resolveWatchDir(src, tsCol, chunks, Seq.empty, stageKey)
    val sinkDir = Files.createTempDirectory(appendSinkRoot, "sink")
    val ckptDir = Files.createTempDirectory(appendSinkRoot, "ckpt")
    val priorShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try
        spark.readStream
          .schema(src.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(watchDir.toString)
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckptDir.toString)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // Idempotent sink: each batch OVERWRITES its own id-keyed
            // subdirectory, so a retried/restarted batch replaces its
            // previous output instead of appending a duplicate copy —
            // the sink-side half of the batchId contract the per-batch
            // body keeps for the index itself.
            graft.Jobs.labeled(batch.sparkSession, s"fb:batch=$batchId")(
              perBatch(batch, batchId).write.mode("overwrite")
                .parquet(s"$sinkDir/batch=$batchId"))
          }
          .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", priorShufflePartitions)
    try {
      query.processAllAvailable()
      // drop the discovery-added batch partition column — the sink layout
      // is an idempotency detail, not part of the replayed result.
      spark.read.parquet(sinkDir.toString).drop("batch")
    } finally {
      query.stop()
      ((if (ownWatchDir) Seq(watchDir) else Seq.empty) :+ ckptDir)
        .foreach(p => try rmTree(p) catch { case _: Exception => () })
    }
  }

  /** `q_events_attribution_stream`: click→purchase attribution as a TRUE
    * stream-stream join — the one streaming join shape the other gates
    * don't cover (enrich = stream-static, serve = foreachBatch; here BOTH
    * join inputs are unbounded streams with their own watermarks and
    * engine-managed join state). The fixture replays as chronological
    * chunks; clicks and purchases are two filtered views of the same file
    * source, inner-joined on user with the event-time band
    * `click_ts ≤ purchase_ts ≤ click_ts + 30 min`. The time bound plus
    * the two watermarks is what makes the state FINITE: a click's state
    * row is evictable as soon as the watermark passes `click_ts + 30 min`
    * (no future purchase can land in its band), so state size tracks the
    * 30-minute window's event rate, not the stream's length — the
    * property that lets this run forever at 100 TB/day.
    *
    * Completeness vs the batch twin is exact under chronological replay:
    * chunks are value-split on ts, so no event is ever late, and a click
    * is only evicted once the global watermark proves every matching
    * purchase would already have arrived (eviction uses the PREVIOUS
    * batch's watermark, and any purchase within an evicted click's band
    * precedes that watermark, hence sat in an earlier-or-equal chunk).
    * Shares `q_events_attribution`'s oracle VERBATIM.
    */
  def attributionViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tpch.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(),
        stageKey = Some(s"evattr:$sfDir")) { in =>
      val clicks = in.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 second")
      val purchases = in.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 second")
      clicks.join(
        purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    }
      .select(
        col("c_user").as("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy("user_id", "click_us", "purchase_us")
  }

  /** `q_lake_timetravel_stream`: the events fixture replayed as 3
    * chronological micro-batches, each landing as ONE append commit on a
    * [[graft.sinks.VersionedTable]] (foreachBatch — the per-trigger
    * driver-side planning seam the snapshot commit needs). The gate
    * output is boundary-independent on purpose: chunk splits come from
    * approxQuantile and are not oracle-replayable, but the FINAL snapshot
    * is the whole fixture regardless of where the splits fell, and the
    * version count equals the micro-batch count. Intermediate snapshots
    * (exact prefixes of the replay) are covered by ScaleToolsSpec, where
    * the chunk contents are constructed, not sampled.
    */
  def timetravelViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val tmp = java.nio.file.Files.createTempDirectory("graft_vt_stream").toString + "/t"
    val ev = graft.Tpch.events(spark, sfDir).select(
      col("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      expr("CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)").as("cents"))
    replayViaForeachBatchWithId(spark, ev, "ts", chunks = 3,
        stageKey = Some(s"evtt:$sfDir")) { (batch, batchId) =>
      // Token = the engine's batchId: a retried/restarted batch re-runs
      // with the same id and commitIdempotent makes it a no-op instead
      // of double-appending a version (spec'd in ScaleToolsSpec
      // "commitIdempotent: a replayed micro-batch is a no-op").
      VersionedTable.commitIdempotent(spark, tmp,
        batch.select("event_id", "cents"), token = s"batch-$batchId")
      batch.limit(0) // the parquet sink is unused; the table IS the output
    }
    val nVersions = VersionedTable.latestVersion(spark, tmp)
    VersionedTable.read(spark, tmp)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("n_versions", lit(nVersions.toLong))
      .select("n_versions", "n", "s")
  }

  /** `q_events_attribution_outer_stream`: the LEFT OUTER form of the
    * stream-stream attribution join — the strictly harder mode: an inner
    * match can emit the moment both rows are present, but a NULL-padded
    * outer row may only emit once the watermark PROVES no purchase can
    * still arrive in the click's 30-minute band (early emission would be
    * wrong, late emission would be never). The engine holds each
    * unmatched click in state until the global watermark passes
    * `click_ts + 30 min`, then emits it with nulls.
    *
    * The tail of the replay needs the watermark pushed past the last
    * click's band, and the watermark of a join input advances only from
    * rows that REACH its `withWatermark` node — a sentinel filtered out
    * by the click/purchase split would advance nothing. So the flush
    * appends one far-future CLICK and one far-future PURCHASE (sentinel
    * user −1, excluded from the result), twice — the established
    * carry-then-fire sentinel pattern. Shares the batch LEFT JOIN oracle
    * verbatim.
    */
  def attributionOuterViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tpch.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
    val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
    require(maxTs != null, s"attributionOuterViaStream: events fixture at $sfDir is empty")
    val flush = Seq(1, 2).map { k =>
      Seq(
        (-1L, new java.sql.Timestamp(maxTs.getTime + k * 86400000L), "click"),
        (-1L, new java.sql.Timestamp(maxTs.getTime + k * 86400000L), "purchase"))
        .toDF("user_id", "ts", "event_type")
    }
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(), flush,
        stageKey = Some(s"evattro:$sfDir")) { in =>
      val clicks = in.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 second")
      val purchases = in.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 second")
      clicks.join(
        purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
    }
      .where(col("c_user") >= 0)
      .select(
        col("c_user").as("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy("user_id", "click_us", "purchase_us")
  }

  /** `q_events_sessions_stream`: the sf events fixture replayed through
    * [[EventStream.sessionizeByEventTime]]. Every session is emitted by the
    * streaming state machine (gap-restart or watermark timeout — two
    * far-future sentinel events flush the tail live sessions); `session_no`
    * is then assigned by start order per user, giving exactly the
    * gaps-and-islands gate shape at ms resolution.
    */
  def sessionsViaStream(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val ev = graft.Tpch.events(spark, sfDir)
      .select(
        col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        // exact cents as double — see class doc
        (col("value").cast(DecimalType(14, 2)) * 100).cast("double").as("value")
      )
    val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
    require(maxTs != null, s"sessionsViaStream: events fixture at $sfDir is empty — nothing to replay")
    val flush = Seq(1, 2).map(k =>
      Seq(EventStream.SessionEvent(-1L, new java.sql.Timestamp(maxTs.getTime + k * 86400000L), 0.0))
        .toDS().toDF().select("user_id", "ts", "value"))
    val sessions = replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(), flush,
      stageKey = Some(s"evSessions:$sfDir"))(
      in => EventStream.sessionizeByEventTime(in.as[EventStream.SessionEvent], gapMinutes).toDF())
    import org.apache.spark.sql.expressions.Window
    sessions
      .where(col("user_id") >= 0)
      .withColumn("start_ms", unix_millis(col("session_start")))
      .withColumn("session_no",
        row_number().over(Window.partitionBy("user_id").orderBy("start_ms")).cast("long"))
      .select(
        col("user_id"),
        col("session_no"),
        col("n_events").cast("long").as("n_events"),
        col("start_ms"),
        (col("total_value") / 100.0).as("total_value")
      )
      .orderBy("user_id", "session_no")
  }

  /** `q_events_window_stream`: the fixture replayed through
    * [[EventStream.windowedAggregate]] in Complete mode — the final sink
    * table is the full tumbling-window aggregation, same shape as the
    * batch `q_events_window` gate.
    */
  def windowViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tpch.events(spark, sfDir)
      .select(
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("double").as("value")
      )
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Complete(),
      stageKey = Some(s"evWindow:$sfDir"))(
      in => EventStream.windowedAggregate(in))
      .select(
        col("window_start").as("hour_start"),
        col("event_type"),
        col("cnt"),
        (col("sum_value") / 100.0).as("sum_value")
      )
      .orderBy("hour_start", "event_type")
  }

  /** `q_events_sliding_stream`: the fixture replayed through the SLIDING
    * form of [[EventStream.windowedAggregate]] (1-hour windows every
    * 15 minutes) in Complete mode — each event feeds 4 overlapping
    * windows' streaming state. Shares `q_events_sliding`'s oracle
    * verbatim (cents-exact sums, as every Complete-mode money gate).
    */
  def slidingViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tpch.events(spark, sfDir)
      .select(
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("double").as("value")
      )
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Complete(),
      stageKey = Some(s"evWindow:$sfDir"))(
      in => EventStream.windowedAggregate(in, slide = Some("15 minutes")))
      .select(
        unix_micros(col("window_start")).as("ws_us"),
        col("event_type"),
        col("cnt"),
        (col("sum_value") / 100.0).as("sum_value")
      )
      .orderBy("ws_us", "event_type")
  }

  /** `q_events_session_stream`: the fixture replayed through the NATIVE
    * `session_window` streaming aggregation (engine-managed gap merge +
    * watermark state eviction, Append mode — only CLOSED sessions emit).
    * Two far-future sentinel events drive the watermark past every real
    * session (the first closes them, the second closes the first
    * sentinel's own session so it can be filtered out). Shares
    * `q_events_session_native`'s oracle verbatim — the engine's
    * cross-micro-batch session merge must land on the batch result.
    */
  def sessionNativeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tpch.events(spark, sfDir)
      .select(
        col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        (col("value").cast(DecimalType(14, 2)) * 100).cast("double").as("value")
      )
    val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
    require(maxTs != null, s"sessionNativeViaStream: events fixture at $sfDir is empty")
    val flush = Seq(1, 2).map(k =>
      Seq(EventStream.SessionEvent(-1L, new java.sql.Timestamp(maxTs.getTime + k * 86400000L), 0.0))
        .toDS().toDF().select("user_id", "ts", "value"))
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(), flush,
      stageKey = Some(s"evSessions:$sfDir"))(in =>
      in.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value")))
      .where(col("user_id") >= 0)
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"),
        (col("total_value") / 100.0).as("total_value")
      )
      .orderBy("user_id", "start_us")
  }

  /** `q_lake_merge_stream`: the CDC batch of `q_lake_merge` arrives as a
    * STREAM — each micro-batch is applied to the day-partitioned lake
    * table through [[graft.sinks.LakeSink.mergePartitioned]] inside
    * foreachBatch (per-trigger partition-scoped rewrite). Last-write-wins
    * upserts are idempotent, so an at-least-once foreachBatch replay
    * converges to the same table; update keys are unique across the
    * batch, so the 3-chunk split reaches the exact batch-merge end state
    * and the gate shares `q_lake_merge`'s oracle VERBATIM.
    */
  def mergeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_lake_merge_s").toString + "/t"
    val base = graft.Tpch.events(spark, sfDir).select(
      col("event_id"),
      expr("(ts div 1000) div 86400000000").as("day"),
      floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
    base.write.mode("overwrite").partitionBy("day").parquet(tmp)
    val minDay = base.agg(min("day")).head.getLong(0)
    val updates = base.where(pmod(col("event_id"), lit(97)) === 0)
      .select(col("event_id"), col("day"), (col("cents") + 1000).as("cents"))
      .unionByName(base.where(pmod(col("event_id"), lit(101)) === 0)
        .select((col("event_id") + 10000000L).as("event_id"),
          lit(minDay).as("day"), lit(500L).as("cents")))
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("event_id")))
    val (watchDir, _) = resolveWatchDir(updates, "ts", 3, Seq.empty, None)
    val ckptDir = Files.createTempDirectory(appendSinkRoot, "ckpt")
    val query = spark.readStream
      .schema(updates.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watchDir.toString)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.LakeSink.mergePartitioned(
          spark, tmp, batch.drop("ts"), Seq("event_id"), "day")
        ()
      }
      .start()
    try query.processAllAvailable()
    finally {
      query.stop()
      Seq(watchDir, ckptDir).foreach(p => try rmTree(p) catch { case _: Exception => () })
    }
    spark.read.parquet(tmp)
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .orderBy("day")
  }

  /** `q_dedup_stream`: the documents fixture, given synthetic event times
    * (doc_id minutes apart), replayed chronologically through
    * [[EventStream.nearDupCandidatesWithinWatermark]] — per-bucket MinHash
    * band state, watermark eviction, signature-estimate pairing within the
    * event-time window, all through the real streaming state machine.
    *
    * The oracle is the window-restricted banded-candidate formulation the
    * MultimodalStreamingSpec equivalence states (streamed == batch within
    * the window): band collisions (8 bands × 4 rows over the 32-hash
    * signature) → |Δts| ≤ window → estimate ≥ 0.5. Per-band duplicate
    * emissions collapse under DISTINCT, exactly as the batch verifier
    * dedups band collisions. est_jaccard = k/32 is exact in binary, so
    * doubles compare byte-identically. `maxPerBucket` is set far above the
    * fixture's hottest bucket so the documented recall cap never binds
    * (the oracle doesn't model eviction — the cap stays a documented
    * bound, not gate-certified).
    */
  /** `q_text_lm_score_stream`: train the compact bigram LM on the batch
    * corpus ([[graft.operators.TextAnalysis.lmTrainCompact]]), then score
    * the SAME corpus as a file-source STREAM through the scan-local
    * scorer — the train-batch/serve-stream shape a production quality
    * filter runs. The scorer is a stateless column transform, so the
    * streamed result equals the batch result row-for-row and shares
    * `q_text_lm_score`'s oracle verbatim (milli-nat fixed point absorbs
    * summation order).
    */
  def lmScoreViaStream(spark: SparkSession, sfDir: String, nllThreshold: Double = 3.45): DataFrame = {
    import graft.operators.TextAnalysis
    val docs  = graft.Tpch.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text")
      )
    val model = TextAnalysis.lmTrainCompact(docs, "text")
    replayViaFiles(spark, docs, "ts", chunks = 3, OutputMode.Append(),
      stageKey = Some(s"docs1s:$sfDir"))(
      in => in.select(col("doc_id"), TextAnalysis.lmScoreScanLocal(model, spark)(col("text")).as("sc")))
      .select(
        col("doc_id"),
        col("sc._1").cast("long").as("n_bigrams"),
        floor(col("sc._2") * 1000 + lit(0.5)).cast("long").as("nll_milli"),
        (col("sc._2") < nllThreshold).as("kept")
      )
      .orderBy("doc_id")
  }

  /** `q_text_classifier_stream`: the pinned supervised quality classifier
    * ([[graft.operators.QualityClassifierPinned]]) served over a
    * file-source STREAM — the train-batch/serve-stream shape of
    * `q_text_lm_score_stream`, for the classifier half of the quality
    * stack. Scoring is a stateless scan-local UDF against the broadcast
    * micro-unit integer weights, so the streamed result equals the batch
    * result row-for-row and shares `q_text_classifier_score`'s oracle
    * verbatim (integer logits — no FP summation-order concern at all).
    */
  def classifierScoreViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tpch.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text")
      )
    replayViaFiles(spark, docs, "ts", chunks = 3, OutputMode.Append(),
      stageKey = Some(s"docs1s:$sfDir"))(in =>
      graft.operators.QualityClassifier.score(
        in, "text", "doc_id", graft.operators.QualityClassifierPinned.model))
      .orderBy("doc_id")
  }

  /** `q_quality_ensemble_stream`: the full filter ensemble served over a
    * file-source STREAM — every leg scan-local at serve time (classifier
    * = broadcast integer weights; LM = the compact broadcast model, whose
    * scores equal the batch join form bit-for-bit per the
    * `q_text_lm_score_local` contract; heuristics = pure row
    * expressions), so the streamed flags equal the batch ensemble's
    * row-for-row and share `q_quality_ensemble`'s oracle verbatim. The
    * train-batch/serve-stream split of the WHOLE quality stack in one
    * query.
    */
  def ensembleViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{QualityClassifier, QualityClassifierPinned, TextAnalysis}
    val base  = graft.Tpch.table(spark, sfDir, "documents")
    val model = TextAnalysis.lmTrainCompact(base, "text")
    val thr = TextAnalysis.QualityThresholds(
      minTokens = 20, maxTokens = 1000,
      maxDupTokenFrac = 0.6, maxTopBigramFrac = 0.5, minAlphaRatio = 0.5)
    val docs = base.select(
      col("doc_id"),
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
      col("text"))
    val clsKept = QualityClassifier.keptColumn(spark, QualityClassifierPinned.model)
    replayViaFiles(spark, docs, "ts", chunks = 3, OutputMode.Append(),
      stageKey = Some(s"docs1s:$sfDir")) { in =>
      in.withColumn("cls_kept", clsKept(col("text")))
        .withColumn("lm_kept",
          TextAnalysis.lmScoreScanLocal(model, spark)(col("text")).getField("_2") < 3.45)
        .transform(TextAnalysis.heuristicFlag(_, "text", thr, "heur_kept"))
        .select(col("doc_id"), col("cls_kept"), col("lm_kept"), col("heur_kept"),
          (col("cls_kept") && col("lm_kept") && col("heur_kept")).as("kept"))
    }
      .orderBy("doc_id")
  }

  /** `q_sample_importance_stream`: the DSIR importance model
    * ([[graft.operators.Sampling.importanceModel]] — 64 fixed-point
    * nano-nat log-ratios, target = the English slice) trained on the BATCH
    * corpus, then every document scored over a file-source STREAM through
    * the scan-local literal-array scorer. Stateless integer projection, so
    * the streamed weights equal the batch weights bit-for-bit; the oracle
    * is the batch replay over all docs (no top-quota — a global top-k is
    * not a streaming-Append shape; selection stays a batch concern).
    */
  def importanceViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Sampling
    val base = graft.Tpch.table(spark, sfDir, "documents")
    val model = Sampling.importanceModel(base, "text", col("lang") === "en")
    val docs = base.select(
      col("doc_id"),
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
      col("text")
    )
    replayViaFiles(spark, docs, "ts", chunks = 3, OutputMode.Append(),
      stageKey = Some(s"docs1s:$sfDir"))(in =>
      in.select(col("doc_id"), Sampling.importanceScore(model, col("text")).as("weight_fp")))
      .orderBy("doc_id")
  }

  /** `q_events_funnel_stream`: the events fixture replayed chronologically
    * through [[EventStream.funnelByEventTime]]'s per-user state machine
    * (Update mode — a user re-emits whenever a batch advances a stage; the
    * furthest snapshot per user is the funnel). Shares `q_events_funnel`'s
    * oracle verbatim: the streamed cascade must land on the batch result
    * row-for-row, including users whose stages complete across different
    * micro-batches.
    */
  def funnelViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stages = Seq("signup", "view", "click", "purchase")
    val ev = graft.Tpch.events(spark, sfDir)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
    val raw = replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Update(),
        stageKey = Some(s"evfunnel:$sfDir"))(in =>
      EventStream.funnelByEventTime(in.as[EventStream.FunnelEvent], stages).toDF())
    val best = raw
      .groupBy("user_id")
      .agg(max(struct(col("stage_reached"), col("times"))).as("m"))
    best.select(
      col("user_id") +:
        stages.indices.map { i =>
          val t = element_at(col("m.times"), i + 1)
          when(t >= 0, t).as(s"t${i + 1}")
        } :+
        col("m.stage_reached").cast("long").as("stage_reached"): _*)
      .orderBy("user_id")
  }

  /** `q_events_rolling_outlier_stream`: the per-user rolling z-monitor
    * run through the real state machine
    * ([[EventStream.rollingOutliersByEventTime]] — lookback-bounded
    * per-key state, integer-exact test), replayed chronologically.
    * Shares `q_events_rolling_outlier`'s oracle verbatim.
    */
  def rollingOutlierViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tpch.events(spark, sfDir).select(
      col("user_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("event_id"),
      floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(),
        stageKey = Some(s"evroll:$sfDir"))(in =>
      EventStream.rollingOutliersByEventTime(in.as[EventStream.MonitorEvent]).toDF())
      .orderBy("event_id")
  }

  /** `q_stats_psi_stream`: the PSI drift monitor as deployed — the
    * REFERENCE histogram (first half of the event log by event_id) is a
    * frozen batch artifact; the CURRENT side's bin counts accumulate as a
    * Complete-mode streaming aggregation while the second half replays in
    * micro-batches. The final running counts pair with the frozen
    * reference through the same add-one-smoothed fixed-point contribution
    * stage as the batch gate ([[graft.operators.Profiler.psiFromCounts]]),
    * so totals are arrival-order-proof and the gate shares `q_stats_psi`'s
    * oracle verbatim.
    */
  def psiViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Profiler
    val (binWidth, numBins) = (4000L, 16)
    val ev = graft.Tpch.events(spark, sfDir).select(
      col("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
    val mid = ev.agg(max(col("event_id").cast("long"))).head.getLong(0) / 2
    val refCounts = ev.where(col("event_id") <= mid)
      .groupBy(Profiler.psiBin(col("cents"), binWidth, numBins).as("bin"))
      .agg(count(lit(1)).as("a_cnt"))
    val curCounts = replayViaFiles(
        spark, ev.where(col("event_id") > mid), "ts", chunks = 3, OutputMode.Complete(),
        stageKey = Some(s"evpsic:$sfDir"))(
      in => in.groupBy(Profiler.psiBin(col("cents"), binWidth, numBins).as("bin"))
        .agg(count(lit(1)).as("b_cnt")))
    // Bins occupied by exactly one side must still contribute (the batch
    // path's union-tagged aggregation keeps them); full-outer + zero-fill
    // reproduces that set exactly.
    val counts = refCounts.join(curCounts, Seq("bin"), "full_outer")
      .select(
        col("bin"),
        coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
        coalesce(col("b_cnt"), lit(0L)).as("b_cnt"))
    Profiler.psiFromCounts(counts, numBins).orderBy("bin")
  }

  /** Per-JVM memo of fixture watermark anchors (max id / max ts per
    * sfDir): the windowed monitors re-derive their sentinel timestamps on
    * every invocation, and the fixture is immutable for the JVM's life —
    * a repeated gate run should not pay a batch aggregate for a constant.
    */
  private val fixtureAnchors =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, java.sql.Timestamp)]()

  /** `q_stats_psi_windowed`: the PER-WINDOW deployment shape of the PSI
    * monitor — [[psiViaStream]]'s Complete-mode running counts answer "how
    * far has the whole stream drifted", this answers "how far did EACH DAY
    * drift" (the alert a training-data pipeline actually pages on). The
    * current side aggregates as a WATERMARKED day-window count in Append
    * mode, so a window's bin counts are emitted exactly once, when the
    * watermark proves it complete — streaming state is bins ×
    * windows-in-flight, independent of stream length. Two far-future
    * sentinel rows (event_id = -1) flush the tail windows; they flow
    * THROUGH the aggregation (a pre-agg filter would be pushed below the
    * watermark node and the tail window would never flush) and their
    * far-future windows are dropped by the post-replay day bound. Each
    * emitted window then pairs with the SAME frozen reference histogram
    * through the per-group contribution stage
    * ([[graft.operators.Profiler.psiFromCountsKeyed]]) — per-window
    * smoothing totals, identical fixed-point math, so the gate shares the
    * batch per-window oracle.
    */
  def psiWindowedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Profiler
    import spark.implicits._
    val dbgT0 = System.nanoTime()
    def dbgMark(tag: String): Unit = if (sys.env.get("GRAFT_STREAM_DEBUG").contains("1"))
      println(f"[stream-debug] psiW $tag ${(System.nanoTime() - dbgT0) / 1e9}%.2f s")
    val (binWidth, numBins) = (4000L, 16)
    val ev = graft.Tpch.events(spark, sfDir).select(
      col("event_id").cast("long").as("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
    val (maxId, maxTs) = fixtureAnchors.computeIfAbsent(s"ev:$sfDir", { _ =>
      val agg = ev.agg(max(col("event_id")), max(col("ts"))).head
      require(!agg.isNullAt(1), s"psiWindowedViaStream: events fixture at $sfDir is empty")
      (agg.getLong(0), agg.getTimestamp(1))
    })
    val mid = maxId / 2
    dbgMark("agg-done")
    val refCounts = ev.where(col("event_id") <= mid)
      .groupBy(Profiler.psiBin(col("cents"), binWidth, numBins).as("bin"))
      .agg(count(lit(1)).as("a_cnt"))
    val flush = Seq(1, 2).map(k =>
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + k * 86400000L), 0L))
        .toDF("event_id", "ts", "cents"))
    // Sentinels flow THROUGH the aggregation (a pre-agg filter would be
    // pushed below the watermark node and the tail window would never
    // flush); they only ever populate their own far-future windows, which
    // the post-replay bound below drops along with anything else past the
    // last real day.
    val lastRealDayUs = (maxTs.getTime / 86400000L) * 86400000000L
    // Few state keys (bins × windows-in-flight ≈ 256): ONE state
    // partition and no empty watermark-advance batches (sentinel data
    // batches drive every emission) cut the per-batch commit product —
    // the windowed monitors' fixed cost, not their math. The stage key +
    // bounded memory sink remove the other two fixed costs (re-staging
    // chunks per invocation; the file sink's per-batch manifest commit).
    val cur = replayViaFiles(
        spark, ev.where(col("event_id") > mid), "ts", chunks = 3, OutputMode.Append(), flush,
        stageKey = Some(s"evpsiw:$sfDir"), windowedMonitor = true)(
      in => in.withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "1 day"), Profiler.psiBin(col("cents"), binWidth, numBins).as("bin"))
        .agg(count(lit(1)).as("b_cnt")))
      .select(unix_micros(col("window.start")).as("win_us"), col("bin"), col("b_cnt"))
      .where(col("win_us") <= lastRealDayUs)
    // Every emitted window scores against the full frozen-reference bin
    // set; cur-only bins enter through the outer join with a_cnt = 0 —
    // the exact bin universe the batch twin builds per window.
    val refPerWin = cur.select("win_us").distinct().crossJoin(refCounts)
    val counts = refPerWin.join(cur, Seq("win_us", "bin"), "full_outer")
      .select(
        col("win_us"), col("bin"),
        coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
        coalesce(col("b_cnt"), lit(0L)).as("b_cnt"))
    Profiler.psiFromCountsKeyed(counts, Seq("win_us"), numBins).orderBy("win_us", "bin")
  }

  /** `q_term_drift_stream`: the term-distribution drift monitor as
    * deployed — the reference snapshot's term histogram (even doc_ids) is
    * a frozen batch artifact; the current snapshot (odd doc_ids) streams
    * in micro-batches with its term counts accumulating as a
    * Complete-mode aggregation (vocabulary-sized state — Heaps-bounded,
    * same budget as the batch op's join key space). The final running
    * histogram pairs with the frozen side through
    * [[graft.operators.TextAnalysis.termDriftFromCounts]] — identical
    * smoothing and KL math, so the gate shares `q_term_drift`'s oracle
    * verbatim.
    */
  def termDriftViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = graft.Tpch.table(spark, sfDir, "documents")
    val refCounts = TextAnalysis
      .termCounts(docs.where(pmod(col("doc_id"), lit(2)) === 0), "text")
      .withColumnRenamed("c", "c_a")
    val cur = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
    val curCounts = replayViaFiles(spark, cur, "ts", chunks = 3, OutputMode.Complete(),
      stageKey = Some(s"docsodd1s:$sfDir"))(
      in => in.select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c_b")))
    TextAnalysis.termDriftFromCounts(refCounts, curCounts)
      .select(
        col("term"), col("c_a"), col("c_b"),
        floor(col("kl_ab") * 1e9 + lit(0.5)).cast("long").as("kl_ab_nano"),
        floor(col("kl_ba") * 1e9 + lit(0.5)).cast("long").as("kl_ba_nano"))
      .orderBy("term")
  }

  /** `q_term_drift_windowed`: [[termDriftViaStream]]'s per-window sibling
    * — the same frozen-reference term histogram, but the current side
    * aggregates per watermarked 2-minute event-time window in Append mode
    * (state = vocabulary × windows-in-flight; a window's term counts emit
    * exactly once). Far-future sentinel docs flush the tail; they flow
    * THROUGH the aggregation (the watermark-pushdown trap — see
    * [[psiWindowedViaStream]]) and their windows are dropped by the
    * post-replay bound. Each window then pairs with the reference through
    * [[graft.operators.TextAnalysis.termDriftFromCountsKeyed]] — its own
    * smoothing totals AND its own union-vocabulary size, identical math
    * to the batch per-window oracle.
    */
  def termDriftWindowedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = graft.Tpch.table(spark, sfDir, "documents")
    val refCounts = TextAnalysis
      .termCounts(docs.where(pmod(col("doc_id"), lit(2)) === 0), "text")
      .withColumnRenamed("c", "c_a")
    val cur = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
    val maxId = fixtureAnchors.computeIfAbsent(s"docs:$sfDir", { _ =>
      val m = docs.agg(max(col("doc_id").cast("long")), max(col("doc_id").cast("long"))).head
      (m.getLong(0), new java.sql.Timestamp(0L))
    })._1
    val maxMs = 1700000000000L + maxId * 1000L
    val lastRealWinUs = (maxMs / 120000L) * 120000000L
    val flush = Seq(1, 2).map(k =>
      Seq((-1L, new java.sql.Timestamp(maxMs + k * 86400000L), "drift flush sentinel"))
        .toDF("doc_id", "ts", "text"))
    // Same fixed-cost trim as the PSI windowed monitor: tiny state → one
    // partition, sentinel-driven emission → no empty batches, staged
    // chunks cached per JVM, bounded output → memory sink.
    val curCounts = replayViaFiles(spark, cur, "ts", chunks = 3, OutputMode.Append(), flush,
        stageKey = Some(s"docsodd1s:$sfDir"), windowedMonitor = true)(
      in => in.withWatermark("ts", "1 second")
        .select(col("ts"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(window(col("ts"), "2 minutes"), col("term"))
        .agg(count(lit(1)).as("c_b")))
      .select(unix_micros(col("window.start")).as("win_us"), col("term"), col("c_b"))
      .where(col("win_us") <= lastRealWinUs)
    val refPerWin = curCounts.select("win_us").distinct().crossJoin(refCounts)
    val counts = refPerWin.join(curCounts, Seq("win_us", "term"), "full_outer")
      .select(
        col("win_us"), col("term"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    TextAnalysis.termDriftFromCountsKeyed(counts, Seq("win_us"))
      .select(
        col("win_us"), col("term"), col("c_a"), col("c_b"),
        floor(col("kl_ab") * 1e9 + lit(0.5)).cast("long").as("kl_ab_nano"),
        floor(col("kl_ba") * 1e9 + lit(0.5)).cast("long").as("kl_ba_nano"))
      .orderBy("win_us", "term")
  }

  /** `q_events_enrich_stream`: the events fixture streamed through
    * [[EventStream.enrichWithStatic]] against the customer dimension —
    * the stream-static join shape (stateless on the stream side, no
    * watermark, dimension broadcast/rescanned per micro-batch). Left join
    * keeps dimension misses as nulls; the oracle is the plain batch
    * join.
    */
  def enrichViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tpch.events(spark, sfDir)
      .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
    val dim = graft.Tpch.table(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    replayViaFiles(spark, ev, "ts", chunks = 3, OutputMode.Append(),
        stageKey = Some(s"evenrich:$sfDir"))(
      in => EventStream.enrichWithStatic(in, dim, Seq("user_id"), "left"))
      .select(col("event_id"), col("user_id"), col("segment"))
      .orderBy("event_id")
  }

  /** `q_dedup_incremental_stream`: the second half of the documents table
    * (by doc_id, same split as the batch `q_dedup_incremental_matches`
    * gate) streamed in micro-batches against the first half's PERSISTED
    * band-partitioned signature index — each batch runs
    * [[graft.operators.Dedup.matchVsPersistedIndex]]'s partition-pruned
    * probe inside foreachBatch (the [[EventStream.matchVsPersistedIndexSink]]
    * serving shape, driven through the replay harness). The gate shares
    * the batch matches oracle verbatim — streamed serving, persisted-index
    * serving, and nightly batch must agree to the last row.
    */
  def incrementalMatchViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    val all = graft.Tpch.table(spark, sfDir, "documents")
    val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
    // Read-only probes share the batch serve gate's build (q_dedup_index_serve).
    val indexDir = graft.GateCache.dir(s"sigidx_half:$sfDir")(p =>
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"), p))
    val newDocs = all.where(col("doc_id") > splitId)
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
    replayViaForeachBatch(spark, newDocs, "ts", chunks = 3,
      stageKey = Some(s"docsUpper1s:$sfDir"))(
      b => Dedup.matchVsPersistedIndex(b, "text", "doc_id", indexDir))
      .select(col("doc_id"), col("matched_id"),
        round(col("est_jaccard") * 32).cast("long").as("est_32"))
      .distinct()
      .orderBy("doc_id", "matched_id")
  }

  /** `q_index_maintain_stream`: CONTINUOUS INGEST with automatic index
    * upkeep — the daily-crawl shape end-to-end. The lower half of the
    * documents table streams in 3 chronological micro-batches; each
    * batch appends to a persisted signature index (batch 1 creates it),
    * tombstones its own % 3 ids, and runs
    * [[graft.operators.CorpusPipeline.maintainIndexes]] with an
    * aggressive tombstone policy, so every batch's sweep decides AND
    * compacts mid-stream (generation 1, 2, 3 — emitted as audit rows,
    * deterministic because foreachBatch executes batches serially).
    * After the stream, the upper half probes the index: serving must
    * equal the fresh-build-on-survivors oracle (sigDelete replay) — a
    * stream of append/forget/maintain cycles may change cost, never
    * content.
    */
  /** The per-micro-batch body of [[indexMaintainViaStream]], factored out
    * so the retry contract is spec-drivable: append-vs-create derives
    * from the ENGINE's batchId (a retried/restarted batch 0 re-runs with
    * id 0 and re-CREATES — an idempotent generation overwrite — instead
    * of appending a duplicate copy of its band rows), the tombstone
    * append re-distincts at every consumer, and the maintenance sweep is
    * convergent — so replaying any prefix of batch ids leaves serving
    * content identical to the no-retry run
    * (StreamingRecoverySpec "index-maintain batch body is idempotent").
    */
  private[graft] def maintainBatchBody(
      spark: SparkSession,
      dir: String,
      policy: graft.operators.CorpusPipeline.IndexMaintenancePolicy,
      // No default on purpose: batch ids are per-QUERY, so two queries
      // feeding the same index under one shared default id would collide
      // on the token namespace and the second stream's batches would
      // silently skip — the exact failure the namespace prevents. Every
      // caller names its own stream.
      streamId: String
  )(b: DataFrame, batchId: Long): DataFrame = {
    import graft.operators.{CorpusPipeline, Dedup, IndexStore}
    // EXACTLY-once APPEND per (streamId, batchId): Structured Streaming
    // re-runs a failed batch with the same id. The token + high-water
    // mark ([[IndexStore.withBatchToken]]) short-circuit clean retries
    // and late replays; the append itself lands under deterministic
    // (streamId, batchId)-derived file names
    // ([[graft.operators.Dedup.appendToSignatureIndexExactlyOnce]]), so
    // even a crash IN the window between the data commit and the token
    // create converges on retry — the re-run sweeps its own partial
    // files and re-lands the same names. Batch 0 re-CREATES (an
    // idempotent generation overwrite). Delete + sweep stay OUTSIDE the
    // guard: both are idempotent on their own (tombstones re-distinct,
    // the sweep converges).
    IndexStore.withBatchToken(spark, dir, streamId, batchId) {
      val idx = Dedup.buildSignatureIndex(b, "text", "doc_id")
      if (batchId == 0) Dedup.persistSignatureIndex(idx, dir)
      else Dedup.appendToSignatureIndexExactlyOnce(idx, dir, streamId, batchId)
    }
    Dedup.deleteFromPersistedIndex(
      b.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", dir)
    val sweep = CorpusPipeline.maintainIndexes(spark, Seq(dir), policy)
    val sp = b.sparkSession
    import sp.implicits._
    // The sweep's audit rides in ITS OWN stable columns (action,
    // generation) — probe rows carry sentinels, so a cadence change
    // moves only the named audit cells, never a probe column's hash.
    Seq((
      "audit",
      sweep.select("action").head.getString(0),
      graft.operators.IndexStore.currentGeneration(spark, dir).toLong,
      -1L, -1L, 0L))
      .toDF("surface", "action", "generation", "doc_id", "matched_id", "est_32")
  }

  def indexMaintainViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{CorpusPipeline, Dedup}
    val all = graft.Tpch.table(spark, sfDir, "documents")
    val splitId = all.agg(max(col("doc_id").cast("long")).as("m")).head.getLong(0) / 2
    val dir = java.nio.file.Files.createTempDirectory("graft_maint_stream_").toString + "/idx"
    val lower = all.where(col("doc_id") <= splitId)
      .select(
        col("doc_id").cast("long").as("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
    val policy = CorpusPipeline.IndexMaintenancePolicy(maxTombstoneFraction = 0.001)
    // Create-vs-append derives from the ENGINE's batchId, not driver-side
    // state: a retried/restarted batch 0 re-runs with id 0 and therefore
    // re-CREATES (idempotent overwrite) instead of appending a duplicate
    // copy of its band rows into the index.
    val audits = replayViaForeachBatchWithId(spark, lower, "ts", chunks = 3,
      stageKey = Some(s"docsLower1s:$sfDir"))(maintainBatchBody(spark, dir, policy, "maint_sig"))
    val probe = Dedup.matchVsPersistedIndex(
        all.where(col("doc_id") > splitId), "text", "doc_id", dir)
      .select(lit("probe").as("surface"), lit("-").as("action"),
        lit(-1L).as("generation"), col("doc_id"), col("matched_id"),
        round(col("est_jaccard") * 32).cast("long").as("est_32"))
    audits.unionByName(probe).orderBy("surface", "doc_id", "matched_id", "generation", "est_32")
  }

  /** `q_data_expectations_stream`: the data-contract row rules evaluated
    * over a STREAM — each rule is a conditional sum in one Complete-mode
    * global aggregation, so the engine maintains the running fail counts
    * across micro-batches and the final totals equal the batch report
    * exactly (counts are associative; arrival order cannot move them).
    * The FK leg stays batch-side ([[graft.operators.Expectations.validateFk]]
    * — an anti-join's completeness needs the full parent, not a prefix);
    * the oracle is the batch rules replay.
    */
  def expectationsViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Expectations.Rule
    val li = graft.Tpch.table(spark, sfDir, "lineitem")
      .withColumn("ts", timestamp_millis(lit(1700000000000L) +
        col("l_orderkey") * 100L + col("l_linenumber")))
    val rules = Seq(
      Rule("qty_range", col("l_quantity").between(1, 50)),
      Rule("returnflag_domain", col("l_returnflag").isin("A", "N", "R")),
      Rule("positive_price", col("l_extendedprice") > 0),
      Rule("discount_range", col("l_discount").between(0, 0.1)))
    // coalesce(sum, 0): an empty replay window aggregates sum() to NULL
    // and would NPE at getLong below; report 0 failures instead.
    val aggs = count(lit(1)).as("n_rows") +:
      rules.map(r =>
        coalesce(sum(when(coalesce(r.predicate, lit(false)), 0L).otherwise(1L)), lit(0L))
          .as(s"f_${r.name}"))
    val totals = replayViaFiles(spark, li, "ts", chunks = 3, OutputMode.Complete(),
        stageKey = Some(s"liexpect:$sfDir"))(
      in => in.agg(aggs.head, aggs.tail: _*))
    // One row of running totals → the per-rule report rows.
    import spark.implicits._
    val row = totals.head()
    rules.zipWithIndex
      .map { case (r, i) => (r.name, row.getLong(0), row.getLong(i + 1)) }
      .toDF("rule", "n_rows", "n_fail")
      .orderBy("rule")
  }

  /** `q_corpus_pipeline_stream`: the continuously-ingesting corpus
    * pipeline END-TO-END — per arriving micro-batch of new documents:
    * (1) the full quality ensemble (classifier weights + compact LM +
    * heuristics, every leg scan-local against batch-trained artifacts),
    * (2) near-dup rejection against the HISTORICAL corpus's persisted
    * band-partitioned signature index (partition-pruned probe per batch),
    * (3) the frozen DSIR importance weight for the survivors. Each stage
    * is an independently gated operator; this pins the composition — what
    * each stage sees, in which order — under streaming execution. The
    * oracle is the three standalone chains composed in one WITH.
    */
  def corpusPipelineViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Dedup, QualityClassifier, QualityClassifierPinned, Sampling, TextAnalysis}
    val base    = graft.Tpch.table(spark, sfDir, "documents")
    val splitId = base.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
    val lmModel = TextAnalysis.lmTrainCompact(base, "text")
    val dsir    = Sampling.importanceModel(base, "text", col("lang") === "en")
    val clsKept = QualityClassifier.keptColumn(spark, QualityClassifierPinned.model)
    val thr = TextAnalysis.QualityThresholds(
      minTokens = 20, maxTokens = 1000,
      maxDupTokenFrac = 0.6, maxTopBigramFrac = 0.5, minAlphaRatio = 0.5)
    val indexDir = graft.GateCache.dir(s"sigidx_half:$sfDir")(p =>
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(base.where(col("doc_id") <= splitId), "text", "doc_id"), p))
    val newDocs = base.where(col("doc_id") > splitId)
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
    replayViaForeachBatch(spark, newDocs, "ts", chunks = 3,
      stageKey = Some(s"docsUpper1s:$sfDir")) { b =>
        val kept = b
          .withColumn("cls_kept", clsKept(col("text")))
          .withColumn("lm_kept",
            TextAnalysis.lmScoreScanLocal(lmModel, spark)(col("text")).getField("_2") < 3.45)
          .transform(TextAnalysis.heuristicFlag(_, "text", thr, "heur_kept"))
          .where(col("cls_kept") && col("lm_kept") && col("heur_kept"))
        // Probing only the survivors equals filtering the full match set
        // by survivor id — a match's existence doesn't depend on the rest
        // of the batch.
        val dup = Dedup.matchVsPersistedIndex(kept, "text", "doc_id", indexDir)
          .select(col("doc_id").as("m_id")).distinct()
        kept.join(dup, kept("doc_id") === col("m_id"), "left_anti")
          .select(col("doc_id"), Sampling.importanceScore(dsir, col("text")).as("weight_fp"))
      }
      .orderBy("doc_id")
  }

  def nearDupViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tpch.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
        col("text")
      )
    replayViaFiles(spark, docs, "ts", chunks = 3, OutputMode.Append(),
        stageKey = Some(s"docsneardup:$sfDir"))(
      in => EventStream.nearDupCandidatesWithinWatermark(
        in, "doc_id", "ts", "text",
        windowMinutes = 60, minEstJaccard = 0.5, maxPerBucket = 1000000).toDF())
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The fixed retrieval query set, staged as a 3-chunk query STREAM (per-
    * query synthetic arrival times). Per-query rankings are independent
    * (the top-k window partitions by query_id), so micro-batch splitting
    * cannot change any query's result — streamed serving against a
    * persisted index must equal the batch oracle row-for-row.
    */
  private def queryStream(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "spark join window"), (2L, "hash merge sort batch"),
      (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
    ).toDF("query_id", "q_text")
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("query_id") * 1000L))
  }

  /** `q_bm25_serve_stream`: queries arrive as a stream; each micro-batch
    * probes the TERM-BUCKETED persisted BM25 index
    * ([[graft.operators.TextAnalysis.bm25TopKFromPersisted]] inside
    * foreachBatch — partition-pruned postings reads per trigger). Shares
    * `q_bm25_topk`'s oracle verbatim.
    */
  def bm25ServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    // Shares the full-corpus build with q_bm25_index_pruned (read-only probes).
    val indexDir = graft.GateCache.dir(s"bm25idx_full:$sfDir")(p =>
      TextAnalysis.persistBm25Index(
        TextAnalysis.buildBm25Index(graft.Tpch.table(spark, sfDir, "documents"), "text", "doc_id"),
        p))
    replayViaForeachBatch(spark, queryStream(spark), "ts", chunks = 3,
        stageKey = Some("bmqstream"))(
      b => TextAnalysis.bm25TopKFromPersisted(spark, indexDir, b, "query_id", "q_text", k = 10))
      .orderBy("query_id", "rnk")
  }

  /** `q_knn_ivf_serve_stream`: embedding queries arrive as a stream; each
    * micro-batch probes the CELL-PARTITIONED persisted ANN index
    * ([[graft.operators.Similarity.ivfTopKFromPersisted]] inside
    * foreachBatch — only the probed cells' partitions are read per
    * trigger). Shares `q_knn_ivf_probe`'s oracle verbatim.
    */
  /** `q_text_excise_stream`: NEW documents arrive as a stream; each
    * micro-batch is excised against the PERSISTED corpus gram index
    * ([[graft.operators.Dedup.exciseVsPersistedGrams]] inside foreachBatch
    * — bucket-pruned index reads per trigger). A doc's verdict depends
    * only on the frozen index, never on its micro-batch peers, so
    * streamed serving shares `q_text_excise_serve`'s oracle verbatim.
    */
  def exciseServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    val all     = graft.Tpch.table(spark, sfDir, "documents")
    val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
    // Shares the half-corpus gram index with q_text_excise_serve (read-only).
    val indexDir = graft.GateCache.dir(s"gramidx_half_k30:$sfDir")(p =>
      Dedup.persistGramIndex(
        all.where(col("doc_id") <= splitId), "text", "doc_id", p, k = 30))
    val probes = all.where(col("doc_id") > splitId)
      .select(col("doc_id"), col("text"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 10L).as("ts"))
    replayViaForeachBatch(spark, probes, "ts", chunks = 3,
        stageKey = Some(s"exciseprobes:$sfDir"))(
      b => Dedup.exciseVsPersistedGrams(b, "text", "doc_id", indexDir))
      .orderBy("doc_id")
  }

  /** `q_multimodal_phash_serve_stream`: image fingerprints (dHash) arrive
    * as a stream; each micro-batch probes the BAND-PARTITIONED persisted
    * fingerprint index ([[graft.operators.Dedup.matchVsFingerprintIndex]]
    * inside foreachBatch — only colliding band partitions read per
    * trigger). A probe's matches depend only on the frozen index, never on
    * its micro-batch peers, so streamed serving shares
    * `q_multimodal_phash_serve`'s oracle verbatim. The fingerprints are
    * computed BEFORE staging — the stream carries the 63-bit hash, not the
    * image bytes, which is also the scale shape (decode once at ingest,
    * ship fingerprints to the dedup service).
    */
  def phashServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Dedup, Multimodal}
    val d = graft.Tpch.table(spark, sfDir, "documents").select(col("doc_id"))
    // Shares the full fingerprint index with q_multimodal_phash_serve
    // (read-only probes; the append/forget gates build privately).
    val indexDir = graft.GateCache.dir(s"fpidx_full:$sfDir")(p =>
      Dedup.persistFingerprintIndex(
        d.select(col("doc_id"),
          Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh")),
        "doc_id", "dh", p, maxHamming = 3, fpBits = 63))
    val probes = d.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh"),
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 10L).as("ts"))
    replayViaForeachBatch(spark, probes, "ts", chunks = 3,
        stageKey = Some(s"fpprobes:$sfDir"))(
      b => Dedup.matchVsFingerprintIndex(b.drop("ts"), "doc_id", "dh", indexDir))
      .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_id", "matched_id")
  }

  /** `q_multimodal_tar_stream`: CONTINUOUS-CRAWL WebDataset ingest — the
    * shape the batch tar source doesn't cover. Real ustar shard FILES on
    * disk (written once per JVM via the export sink, shared through
    * [[graft.GateCache]]) are consumed by a Structured Streaming
    * `binaryFile` source with `maxFilesPerTrigger`, so each micro-batch
    * holds a few whole shards — exactly how a crawler's shard drop
    * directory is tailed in production. The scan-local entry walk +
    * adjacency sample assembly ([[graft.operators.Multimodal
    * .webdatasetSamples]]) runs UNCHANGED on the streaming frame (it is a
    * stateless flatMap — no watermark, no state store), and samples land
    * in a parquet file sink per batch. `Trigger.AvailableNow` drains the
    * directory across multiple rate-limited micro-batches then stops, so
    * the gate is deterministic; sample content is micro-batch invariant,
    * so the result shares `q_multimodal_tar_extract`'s oracle verbatim.
    * The returned frame is the materialized sink (batch re-read) with the
    * extract gate's projection applied by the caller.
    */
  def webdatasetIngestViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Multimodal
    import org.apache.spark.sql.types._
    // Shard fixture: the export gate's exact samples, written as real
    // shard-N.tar files once per JVM and shared read-only.
    val shardDir = graft.GateCache.dir(s"wds_shards:$sfDir") { p =>
      val docs = graft.Tpch.table(spark, sfDir, "documents")
      val samples = docs.select(
        col("doc_id"),
        Multimodal.syntheticPngTextured(col("doc_id")).as("image"),
        col("text").as("caption"),
        concat(lit("{\"id\":"), col("doc_id").cast("string"),
          lit(",\"len\":"), length(col("text")).cast("string"), lit("}")).as("meta"))
      Multimodal.exportWebdataset(samples, "doc_id", "image", "caption", "meta", p)
    }
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    val out  = java.nio.file.Files.createTempDirectory("wds_stream_out")
    val sink = out.resolve("sink").toString
    val ckpt = out.resolve("ckpt").toString
    // 16 shards/trigger keeps the replay MULTI-batch at every fixture SF
    // (32 shards at sf0.01 → 2 batches, ~313 at sf0.1 → 20) without the
    // 40-trigger fixed cost a tighter limit costs at sf0.1 — the rate
    // limit is the knob, the parse is per-file either way.
    val src = spark.readStream.format("binaryFile")
      .schema(binSchema)
      .option("maxFilesPerTrigger", 16)
      .load(s"$shardDir/shard-*.tar")
    val samples = Multimodal.webdatasetSamples(
      src.select(lit(0L).as("shard_id"), col("content")), "shard_id", "content")
    val q = samples.writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
  }

  /** `q_jaccard_serve_stream`: new documents' trigram sets arrive as a
    * stream; each micro-batch probes the PERSISTED prefix-filter index
    * ([[graft.operators.Dedup.matchVsJaccardIndex]] inside foreachBatch —
    * two partition-pruned reads per trigger: postings by the batch's
    * prefix elements, fullsets by the surviving candidates). A probe's
    * matches depend only on the frozen index (frozen element order
    * included), so streamed serving shares `q_jaccard_serve`'s oracle
    * verbatim.
    */
  def jaccardServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    val d = graft.Tpch.table(spark, sfDir, "documents")
      .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
    // Shares the even-docs prefix-filter index with q_jaccard_serve
    // (read-only probes; the forget gate builds its own mutable copy).
    val indexDir = graft.GateCache.dir(s"jacidx_even600:$sfDir")(p =>
      Dedup.persistJaccardIndex(
        d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
    val probes = d.where(col("doc_id") % 2 === 1)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 10L))
    replayViaForeachBatch(spark, probes, "ts", chunks = 3,
        stageKey = Some(s"jacprobes:$sfDir"))(
      b => Dedup.matchVsJaccardIndex(b.drop("ts"), "bg", "doc_id", indexDir))
      .orderBy("doc_id", "matched_id")
  }

  def ivfServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{IvfPinned, Similarity}
    val emb = graft.Tpch.table(spark, sfDir, "embeddings")
    // Shares the full cell-partitioned index with q_knn_ivf_serve
    // (read-only probes; the append/delete gates build privately).
    val indexDir = graft.GateCache.dir(s"ivfidx_full:$sfDir")(p =>
      Similarity.persistIvfIndex(emb, "vec_id", "embedding", IvfPinned.centroids, p))
    val queries = emb.where("vec_id < 5")
      .select(col("vec_id"), col("embedding"),
        timestamp_millis(lit(1700000000000L) + col("vec_id") * 1000L).as("ts"))
    replayViaForeachBatch(spark, queries, "ts", chunks = 3,
        stageKey = Some(s"ivfqueries:$sfDir"))(
      b => Similarity.ivfTopKFromPersisted(spark, indexDir, b, "vec_id", "embedding",
        k = 10, nprobe = 4))
      .orderBy("query_id", "rnk")
  }

  /** `q_knn_ivf_pq_serve_stream`: embedding queries stream against the
    * PERSISTED IVF-PQ index ([[graft.operators.Similarity.ivfPqTopKFromPersisted]]
    * inside foreachBatch — thin code-column reads over the probed cells
    * per trigger, vectors touched only for each batch's shortlist). A
    * query's ranking depends only on the frozen index, so streamed
    * serving shares `q_knn_ivf_pq_serve`'s exact oracle verbatim —
    * the persisted-PQ twin of [[ivfServeViaStream]].
    */
  def ivfPqServeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{IvfPinned, Similarity}
    val emb = graft.Tpch.table(spark, sfDir, "embeddings")
    // Shares the PQ-bearing build with q_knn_ivf_pq_serve (read-only probes).
    val indexDir = graft.GateCache.dir(s"ivfpqidx_full:$sfDir") { p =>
      val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 64)
      Similarity.persistIvfPqIndex(emb, "vec_id", "embedding", IvfPinned.centroids, model, p)
    }
    val queries = emb.where("vec_id < 5")
      .select(col("vec_id"), col("embedding"),
        timestamp_millis(lit(1700000000000L) + col("vec_id") * 1000L).as("ts"))
    replayViaForeachBatch(spark, queries, "ts", chunks = 3,
        stageKey = Some(s"ivfqueries:$sfDir"))(
      b => Similarity.ivfPqTopKFromPersisted(spark, indexDir, b.drop("ts"), "vec_id", "embedding",
        k = 10, nprobe = IvfPinned.nlist, shortlist = 128))
      .orderBy("query_id", "rnk")
  }

  /** The per-micro-batch body of [[ivfPqMaintainViaStream]] —
    * [[maintainBatchBody]]'s shape for the IVF-PQ family: batch 0
    * CREATES the index (pinned coarse quantizer; PQ codebooks trained on
    * the first batch — deterministic, and exactly how production
    * bootstraps: later appends encode under the frozen books), later
    * batches append EXACTLY-ONCE (deterministic stream-batch file
    * names), each batch tombstones its own % 3 ids and runs the policy
    * sweep, whose fired compacts carry codes through rewrites and fold
    * the [[graft.operators.Similarity.PqRefreshMode.Auto]] codebook
    * drift check in.
    */
  private[graft] def maintainIvfPqBatchBody(
      spark: SparkSession,
      dir: String,
      policy: graft.operators.CorpusPipeline.IndexMaintenancePolicy,
      streamId: String
  )(b: DataFrame, batchId: Long): DataFrame = {
    import graft.operators.{CorpusPipeline, Dedup, IndexStore, IvfPinned, Similarity}
    IndexStore.withBatchToken(spark, dir, streamId, batchId) {
      if (batchId == 0) {
        val model = Similarity.pqTrain(b, "vec_id", "embedding", m = 16, k = 64)
        Similarity.persistIvfPqIndex(b, "vec_id", "embedding", IvfPinned.centroids, model, dir)
      } else
        Similarity.appendToIvfIndexExactlyOnce(b, "vec_id", "embedding", dir, streamId, batchId)
    }
    Dedup.deleteFromPersistedIndex(
      b.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", dir)
    val sweep = CorpusPipeline.maintainIndexes(spark, Seq(dir), policy)
    val sp = b.sparkSession
    import sp.implicits._
    Seq((
      "audit",
      sweep.select("action").head.getString(0),
      graft.operators.IndexStore.currentGeneration(spark, dir).toLong,
      -1L, -1L, -1L))
      .toDF("surface", "action", "generation", "query_id", "neighbor_id", "rnk")
  }

  /** The per-micro-batch body of [[bm25MaintainViaStream]] — the
    * three-relation (postings / additive term stats / doc lengths)
    * member of the maintain-stream family: batch 0 CREATES the index,
    * later batches append EXACTLY-ONCE across all three relations
    * (deterministic stream-batch file names per relation — a retry
    * converges even when the crash falls between relations), each batch
    * tombstones its % 3 ids and runs the policy sweep, whose fired
    * compacts recount doc_freq from the compacted postings mid-stream.
    */
  private[graft] def maintainBm25BatchBody(
      spark: SparkSession,
      dir: String,
      policy: graft.operators.CorpusPipeline.IndexMaintenancePolicy,
      streamId: String
  )(b: DataFrame, batchId: Long): DataFrame = {
    import graft.operators.{CorpusPipeline, Dedup, IndexStore, TextAnalysis}
    IndexStore.withBatchToken(spark, dir, streamId, batchId) {
      if (batchId == 0)
        TextAnalysis.persistBm25Index(
          TextAnalysis.buildBm25Index(b, "text", "doc_id"), dir)
      else
        TextAnalysis.appendToBm25IndexExactlyOnce(b, "text", "doc_id", dir, streamId, batchId)
    }
    Dedup.deleteFromPersistedIndex(
      b.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", dir)
    val sweep = CorpusPipeline.maintainIndexes(spark, Seq(dir), policy)
    val sp = b.sparkSession
    import sp.implicits._
    Seq((
      "audit",
      sweep.select("action").head.getString(0),
      graft.operators.IndexStore.currentGeneration(spark, dir).toLong,
      -1L, -1L, -1L, -1L))
      .toDF("surface", "action", "generation", "query_id", "doc_id", "rnk", "score_nano")
  }

  /** `q_bm25_maintain_stream`: CONTINUOUS DOCUMENT INGEST with automatic
    * BM25 upkeep — the lexical-retrieval member of the maintain-stream
    * family ([[indexMaintainViaStream]] / [[ivfPqMaintainViaStream]]'s
    * shape for the three-relation index). After the stream, the standard
    * term-bucket-pruned serve must rank EXACTLY like a fresh build on
    * the survivors: idf/avgdl derive from the stored additive statistics
    * at serve time, and the mid-stream compacts recounted doc_freq, so
    * streamed append/forget/maintain cycles may change cost, never
    * scores.
    */
  def bm25MaintainViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{CorpusPipeline, TextAnalysis}
    import spark.implicits._
    val docs = graft.Tpch.table(spark, sfDir, "documents")
    val dir  = java.nio.file.Files.createTempDirectory("graft_bm25_stream_").toString + "/idx"
    val stream = docs.select(
      col("doc_id").cast("long").as("doc_id"),
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
      col("text"))
    val policy = CorpusPipeline.IndexMaintenancePolicy(maxTombstoneFraction = 0.001)
    val audits = replayViaForeachBatchWithId(spark, stream, "ts", chunks = 3,
      stageKey = Some(s"docsAll1s:$sfDir"))(maintainBm25BatchBody(spark, dir, policy, "maint_bm25"))
    val q = Seq(
      (1L, "spark join window"), (2L, "hash merge sort batch"),
      (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
    ).toDF("query_id", "q_text")
    val probe = TextAnalysis.bm25TopKFromPersisted(spark, dir, q, "query_id", "q_text", k = 10)
      .select(lit("probe").as("surface"), lit("-").as("action"), lit(-1L).as("generation"),
        col("query_id"), col("doc_id"), col("rnk"), col("score_nano"))
    audits.unionByName(probe)
      .orderBy("surface", "query_id", "rnk", "doc_id", "generation")
  }

  /** `q_ivfpq_maintain_stream`: CONTINUOUS VECTOR INGEST with automatic
    * IVF-PQ upkeep — [[indexMaintainViaStream]]'s daily-crawl shape for
    * the billion-vector serving family. The embeddings stream in 3
    * chronological micro-batches; each appends (encoded under the
    * frozen codebooks), tombstones its % 3 ids, and runs the policy
    * sweep, so every batch's compact rewrites the PQ-bearing cells
    * mid-stream (codes carried; generation 1, 2, 3 in the audit rows).
    * After the stream, the standard persisted probe (thin ADC stage +
    * exact rescore) runs exhaustively: serving must equal the exact
    * top-k over the survivors — a stream of append/forget/maintain
    * cycles may change cost and even codebooks, never content.
    */
  def ivfPqMaintainViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{CorpusPipeline, Similarity}
    val emb = graft.Tpch.table(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream_").toString + "/idx"
    val stream = emb.select(
      col("vec_id").cast("long").as("vec_id"),
      timestamp_millis(lit(1700000000000L) + col("vec_id") * 1000L).as("ts"),
      col("embedding"))
    // ivfMaxImbalance effectively off: the audit's action column stays
    // the deterministic tombstone-fired 'compact' at every SF (the
    // retrain/refresh Auto decisions still run inside the compact; the
    // exact-rescore probe pins content whatever they decide).
    val policy = CorpusPipeline.IndexMaintenancePolicy(
      maxTombstoneFraction = 0.001, ivfMaxImbalance = 1e9)
    val audits = replayViaForeachBatchWithId(spark, stream, "ts", chunks = 3,
      stageKey = Some(s"embAll1s:$sfDir"))(maintainIvfPqBatchBody(spark, dir, policy, "maint_ivfpq"))
    val probe = Similarity.ivfPqTopKFromPersisted(spark, dir,
        emb.where("vec_id < 5"), "vec_id", "embedding",
        k = 10, nprobe = Similarity.ivfIndexNlist(spark, dir), shortlist = 128)
      .select(lit("probe").as("surface"), lit("-").as("action"),
        lit(-1L).as("generation"), col("query_id"), col("neighbor_id"), col("rnk"))
    audits.unionByName(probe).orderBy("surface", "query_id", "neighbor_id", "rnk", "generation")
  }
}
