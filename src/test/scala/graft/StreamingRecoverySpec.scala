package graft

import graft.streaming.EventStream
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint-restart evidence: a streaming query stopped mid-stream and
  * relaunched from its checkpoint must (a) resume the FILE SOURCE from the
  * committed offset — no chunk reprocessed into the sink twice, (b)
  * recover operator STATE from the state store — a funnel half-advanced
  * before the stop completes correctly after it. This is the operational
  * contract the streaming gates rely on implicitly (their happy path runs
  * a single uninterrupted query); here the restart is explicit.
  *
  * The restart is deterministic, not a kill race: chunk 1 is staged, the
  * query drains it and is STOPPED; chunks 2–3 are staged; a NEW query
  * starts on the same checkpoint + sink and drains the rest.
  */
class StreamingRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
  private def us(sec: Long) = (1700000000L + sec) * 1000000L

  it("funnel state survives a checkpoint restart; the file sink stays exactly-once") {
    import org.apache.spark.sql.functions._
    val root     = java.nio.file.Files.createTempDirectory("graft-recovery")
    val watchDir = root.resolve("watch"); java.nio.file.Files.createDirectory(watchDir)
    val sinkDir  = root.resolve("sink").toString
    val ckptDir  = root.resolve("ckpt").toString
    val stages   = Seq("signup", "view", "purchase")

    // User 1 half-completes before the restart, finishes after; user 2
    // appears only after the restart.
    val chunk1 = Seq(
      EventStream.FunnelEvent(1L, ts(10), "signup"),
      EventStream.FunnelEvent(1L, ts(20), "view"))
    val chunk2 = Seq(
      EventStream.FunnelEvent(1L, ts(30), "purchase"),
      EventStream.FunnelEvent(2L, ts(40), "signup"))

    def stage(no: Int, evs: Seq[EventStream.FunnelEvent]): Unit = {
      val tmp = root.resolve(s"stage$no")
      evs.toDS().toDF().coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, watchDir.resolve(f"chunk_$no%03d.parquet"))
    }
    val schema = chunk1.toDS().toDF().schema
    def launch() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(watchDir.toString)
        .transform(in => EventStream.funnelByEventTime(in.as[EventStream.FunnelEvent], stages).toDF())
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        // The parquet file sink rejects Update mode; foreachBatch appends
        // each batch's updated snapshots. Offsets commit AFTER the batch
        // lands, so the clean stop/restart below never re-runs a chunk.
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(sinkDir)
        }
        .start()

    try {
      stage(1, chunk1)
      val q1 = launch()
      q1.processAllAvailable(); q1.stop()

      stage(2, chunk2)
      val q2 = launch()
      q2.processAllAvailable(); q2.stop()

      val snaps = spark.read.parquet(sinkDir)
        .select(col("user_id"), col("stage_reached"), col("times"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))

      // Exactly-once on the source side: user 1 emitted once per advance
      // (stage 2 before the restart, stage 3 after), never re-emitted for
      // chunk 1 by the restarted query.
      snaps.count(_._1 == 1L) shouldBe 2
      // State recovery: the post-restart purchase completes the funnel
      // USING the pre-restart signup/view times — only possible if the
      // state store came back.
      snaps.filter(_._1 == 1L).map(_._2).sorted.toSeq shouldBe Seq(2, 3)
      snaps.find(s => s._1 == 1L && s._2 == 3).get._3 shouldBe Seq(us(10), us(20), us(30))
      snaps.filter(_._1 == 2L).map(_._2).toSeq shouldBe Seq(1)
    } finally {
      def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
      rm(root.toFile)
    }
  }

  it("rolling-monitor ring state survives a checkpoint restart") {
    import org.apache.spark.sql.functions._
    val root     = java.nio.file.Files.createTempDirectory("graft-recovery-ro")
    val watchDir = root.resolve("watch"); java.nio.file.Files.createDirectory(watchDir)
    val sinkDir  = root.resolve("sink").toString
    val ckptDir  = root.resolve("ckpt").toString

    // 6 near-constant values before the restart fill user 1's ring; the
    // post-restart spike can only flag if that ring came back from the
    // state store (a fresh query would see n = 1 < minPoints → false).
    val chunk1 = (1 to 6).map(i => EventStream.MonitorEvent(1L, ts(i * 10), i.toLong, 100L + i % 2))
    val chunk2 = Seq(
      EventStream.MonitorEvent(1L, ts(70), 7L, 9000L),  // spike → must flag
      EventStream.MonitorEvent(1L, ts(80), 8L, 100L))   // window now spike-poisoned → false

    def stage(no: Int, evs: Seq[EventStream.MonitorEvent]): Unit = {
      val tmp = root.resolve(s"stage$no")
      evs.toDS().toDF().coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, watchDir.resolve(f"chunk_$no%03d.parquet"))
    }
    val schema = chunk1.toDS().toDF().schema
    def launch() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(watchDir.toString)
        .transform(in => EventStream.rollingOutliersByEventTime(in.as[EventStream.MonitorEvent]).toDF())
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckptDir)
        .option("path", sinkDir)
        .start()

    try {
      stage(1, chunk1)
      val q1 = launch()
      q1.processAllAvailable(); q1.stop()

      stage(2, chunk2)
      val q2 = launch()
      q2.processAllAvailable(); q2.stop()

      val flags = spark.read.parquet(sinkDir)
        .select(col("event_id"), col("is_outlier"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
      flags.size shouldBe 8 // exactly-once: no chunk-1 re-emission
      (1 to 6).foreach(i => flags(i.toLong) shouldBe false)
      flags(7L) shouldBe true  // pre-restart ring recovered → spike flags
      flags(8L) shouldBe false // spike in the window inflates variance
    } finally {
      def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
      rm(root.toFile)
    }
  }

  it("stream-stream join state survives a checkpoint restart") {
    import org.apache.spark.sql.functions._
    val root     = java.nio.file.Files.createTempDirectory("graft-join-recovery")
    val watchDir = root.resolve("watch"); java.nio.file.Files.createDirectory(watchDir)
    val sinkDir  = root.resolve("sink").toString
    val ckptDir  = root.resolve("ckpt").toString

    // Clicks arrive BEFORE the restart; the only matching purchase
    // arrives AFTER it — the pair can emit only if the restarted query
    // recovered the buffered click from the join's state store.
    val chunk1 = Seq((1L, ts(10), "click"), (2L, ts(11), "click"))
    val chunk2 = Seq((1L, ts(100), "purchase"))

    def stage(no: Int, evs: Seq[(Long, java.sql.Timestamp, String)]): Unit = {
      val tmp = root.resolve(s"stage$no")
      evs.toDF("user_id", "ts", "event_type").coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, watchDir.resolve(f"chunk_$no%03d.parquet"))
    }
    val schema = chunk1.toDF("user_id", "ts", "event_type").schema
    def launch() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(watchDir.toString)
        .transform { in =>
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
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .start()

    try {
      stage(1, chunk1)
      val q1 = launch()
      q1.processAllAvailable(); q1.stop()

      stage(2, chunk2)
      val q2 = launch()
      q2.processAllAvailable(); q2.stop()

      val pairs = spark.read.parquet(sinkDir)
        .select(col("c_user"), unix_micros(col("click_ts")), unix_micros(col("purchase_ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // Exactly the one cross-restart pair: user 1's pre-restart click
      // joined to its post-restart purchase via recovered join state;
      // user 2's click never matches.
      pairs shouldBe Seq((1L, us(10), us(100)))
    } finally {
      def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
      rm(root.toFile)
    }
  }

  it("watermarked Append window counts survive a checkpoint restart, each window emitted once") {
    // The shape the round-10 drift monitors (psi/term windowed) stand on:
    // a 2-minute window half-filled BEFORE the restart must emit exactly
    // one row whose count includes the pre-restart rows — only possible
    // if the windowed aggregation state came back — and Append mode must
    // never re-emit it.
    import org.apache.spark.sql.functions._
    val root     = java.nio.file.Files.createTempDirectory("graft-recovery-win")
    val watchDir = root.resolve("watch"); java.nio.file.Files.createDirectory(watchDir)
    val sinkDir  = root.resolve("sink").toString
    val ckptDir  = root.resolve("ckpt").toString

    // W1 = [1700000000000, +120s): two rows before the restart, one
    // after; W2 gets one row; two far-future sentinels flush both.
    val chunk1 = Seq((1L, ts(10)), (2L, ts(20))).map { case (id, t) => (id, t, 1L) }
    val chunk2 = Seq((3L, ts(30), 1L), (4L, ts(130), 1L))
    val chunk3 = Seq((-1L, ts(86400), 1L))
    val chunk4 = Seq((-1L, ts(2 * 86400), 1L))

    def stage(no: Int, evs: Seq[(Long, java.sql.Timestamp, Long)]): Unit = {
      val tmp = root.resolve(s"stage$no")
      evs.toDF("event_id", "ts", "one").coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, watchDir.resolve(f"chunk_$no%03d.parquet"))
    }
    val schema = chunk1.toDF("event_id", "ts", "one").schema
    def launch() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(watchDir.toString)
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "2 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("win_us"), col("n"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .start()

    try {
      stage(1, chunk1)
      val q1 = launch()
      q1.processAllAvailable(); q1.stop()

      stage(2, chunk2); stage(3, chunk3); stage(4, chunk4)
      val q2 = launch()
      q2.processAllAvailable(); q2.stop()

      val wins = spark.read.parquet(sinkDir)
        .where(col("win_us") < us(86000))     // sentinel windows excluded
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // W1 counts rows from BOTH sides of the restart (recovered window
      // state + post-restart row) and appears exactly once; W2 likewise.
      val w1 = (1700000000000L / 120000L) * 120000000L
      wins shouldBe Seq((w1, 3L), (w1 + 120000000L, 1L))
    } finally {
      def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
      rm(root.toFile)
    }
  }

  it("webdataset binaryFile ingest resumes from the committed shard offset after a restart") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root     = java.nio.file.Files.createTempDirectory("graft-wds-recovery")
    val watchDir = root.resolve("watch"); java.nio.file.Files.createDirectory(watchDir)
    val sinkDir  = root.resolve("sink").toString
    val ckptDir  = root.resolve("ckpt").toString

    // 4 shards of 8 docs each as real tar files; shards 0-1 are consumed
    // before the restart, 2-3 after — exactly-once means every doc_id
    // appears exactly once in the sink despite the relaunch.
    val docs = (0 until 32).map(i => (i.toLong, s"caption for doc $i")).toDF("doc_id", "text")
    val samples = docs.select(
      col("doc_id"),
      Multimodal.syntheticPngTextured(col("doc_id")).as("image"),
      col("text").as("caption"),
      concat(lit("{\"id\":"), col("doc_id").cast("string"), lit("}")).as("meta"))
    val allShards = root.resolve("allshards").toString
    Multimodal.exportWebdataset(samples, "doc_id", "image", "caption", "meta",
      allShards, samplesPerShard = 8)
    val shardFiles = new java.io.File(allShards).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    shardFiles.length shouldBe 4
    def stage(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, watchDir.resolve(f.getName))
    }

    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    def launch() =
      spark.readStream.format("binaryFile").schema(binSchema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$watchDir/shard-*.tar")
        .transform(in => Multimodal.webdatasetSamples(
          in.select(lit(0L).as("shard_id"), col("content")), "shard_id", "content"))
        .select(col("key").cast("long").as("doc_id"), md5(col("caption")).as("cap_md5"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .start()

    try {
      stage(shardFiles.take(2))
      val q1 = launch()
      q1.processAllAvailable(); q1.stop()
      spark.read.parquet(sinkDir).count() shouldBe 16L

      stage(shardFiles.drop(2))
      val q2 = launch()
      q2.processAllAvailable(); q2.stop()

      val rows = spark.read.parquet(sinkDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // Exactly-once across the restart: all 32 docs, none twice.
      rows.map(_._1).sorted shouldBe (0L until 32L)
      // And the payloads round-tripped byte-exactly through tar + restart.
      val expect = docs.select(col("doc_id"), md5(col("text")).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      rows.foreach { case (id, m) => m shouldBe expect(id) }
    } finally {
      def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
      rm(root.toFile)
    }
  }

  it("index-maintain batch body is idempotent under foreachBatch retry (same batchId re-runs)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{CorpusPipeline, Dedup}
    // Structured Streaming's retry contract: a failed foreachBatch
    // invocation re-runs with the SAME batchId before the next batch
    // starts. The maintain body derives create-vs-append from that id
    // (batch 0 re-CREATES — a generation overwrite — instead of
    // appending a duplicate band copy), so a retried prefix must leave
    // serving content identical to the clean run.
    def docs(ids: Range) = ids.map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")
    val chunks = Seq(docs(1 to 30), docs(31 to 60), docs(61 to 90))
    val probe  = docs(200 to 220)
    val policy = CorpusPipeline.IndexMaintenancePolicy(maxTombstoneFraction = 0.001)
    def run(withRetries: Boolean): (String, Seq[String]) = {
      val dir = java.nio.file.Files.createTempDirectory("maint_retry_").toString + "/idx"
      val body = graft.streaming.StreamGates.maintainBatchBody(spark, dir, policy, "maint_sig") _
      chunks.zipWithIndex.foreach { case (b, i) =>
        body(b, i.toLong)
        if (withRetries && i < 2) body(b, i.toLong) // the retry re-run
      }
      (dir, Dedup.matchVsPersistedIndex(probe, "text", "doc_id", dir)
        .collect().map(_.toString).sorted.toSeq)
    }
    val (cleanDir, clean)     = run(withRetries = false)
    val (retriedDir, retried) = run(withRetries = true)
    retried shouldBe clean
    // And the index itself carries no duplicated band rows from the
    // retried appends — row-for-row the same live content.
    Dedup.loadSignatureIndex(spark, retriedDir).count() shouldBe
      Dedup.loadSignatureIndex(spark, cleanDir).count()
  }

  it("a crash between data commit and batch-token create lands exactly once on replay") {
    import graft.operators.{Dedup, IndexStore}
    // The residual window the token alone could not close: the batch's
    // parquet job commits, then the process dies before the token write.
    // The exactly-once append makes the DATA carry the claim — a retry
    // sweeps its own (possibly partial) previous files and re-lands the
    // same deterministic names — and compaction ADOPTS folded stream
    // files' tokens, so even a fold-before-retry cannot duplicate.
    val dir = java.nio.file.Files.createTempDirectory("tok_window_").toString + "/idx"
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    def idx(ids: Range) = Dedup.buildSignatureIndex(docs(ids), "text", "doc_id")
    IndexStore.withBatchToken(spark, dir, "s", 0L) {
      Dedup.persistSignatureIndex(idx(1 to 20), dir)
    } shouldBe true
    // Batch 1: data lands, token write "crashes" (never runs)…
    Dedup.appendToSignatureIndexExactlyOnce(idx(21 to 40), dir, "s", 1L)
    // …and worse, a PARTIAL leftover of an even earlier attempt exists
    // under this batch's name family.
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val someBatchFile = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var found: org.apache.hadoop.fs.Path = null
      while (it.hasNext && found == null) {
        val f = it.next()
        if (f.getPath.getName.startsWith("sb-s-1-")) found = f.getPath
      }
      found
    }
    someBatchFile should not be null
    org.apache.hadoop.fs.FileUtil.copy(fs, someBatchFile, fs,
      new org.apache.hadoop.fs.Path(someBatchFile.getParent, "sb-s-1-99.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    // The engine retries batch 1: token absent → the guarded body re-runs
    // the whole append, which must sweep the leftovers and converge.
    IndexStore.withBatchToken(spark, dir, "s", 1L) {
      Dedup.appendToSignatureIndexExactlyOnce(idx(21 to 40), dir, "s", 1L)
    } shouldBe true
    Dedup.loadSignatureIndex(spark, dir).count() shouldBe 40L // exactly once
    // Batch 2 lands, token write crashes, and a COMPACTION folds the rows
    // before the retry arrives: adoption must token it from the file
    // names so the late replay short-circuits instead of duplicating.
    Dedup.appendToSignatureIndexExactlyOnce(idx(41 to 60), dir, "s", 2L)
    Dedup.compactSignatureIndex(spark, dir)
    IndexStore.withBatchToken(spark, dir, "s", 2L) {
      fail("adopted batch must not re-run")
    } shouldBe false
    Dedup.loadSignatureIndex(spark, dir).count() shouldBe 60L
  }

  it("a compaction DISCARDS a partial (pending) stream batch instead of folding it; the retry lands whole") {
    import graft.operators.{Dedup, IndexStore, TextAnalysis}
    // The interleaving the pending marker exists for: a writer dies
    // MID-INSTALL (some of the batch's files landed, some — possibly
    // whole relations — did not), and an external maintenance compact
    // runs BEFORE the stream's retry. Folding the partial files and
    // adopting a token would lose the batch's remainder forever; folding
    // without a token would duplicate the folded subset on retry. The
    // marker makes the compact DISCARD the partial files, so the retry
    // re-lands the complete batch exactly once.
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    def crashMidInstall(dir: String, prefix: String): Unit = {
      // Post-crash state: pending marker present, one landed file gone.
      val ledger = new org.apache.hadoop.fs.Path(dir, IndexStore.BatchTokensName)
      fs.mkdirs(ledger)
      fs.create(new org.apache.hadoop.fs.Path(ledger, "s-1.pending"), true).close()
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var victim: org.apache.hadoop.fs.Path = null
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith(prefix)) victim = f.getPath
      }
      victim should not be null
      fs.delete(victim, false)
    }
    // ---- single-relation (signature) ----
    val sig = java.nio.file.Files.createTempDirectory("pend_sig_").toString + "/idx"
    IndexStore.withBatchToken(spark, sig, "s", 0L) {
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs(1 to 20), "text", "doc_id"), sig)
    }
    Dedup.appendToSignatureIndexExactlyOnce(
      Dedup.buildSignatureIndex(docs(21 to 40), "text", "doc_id"), sig, "s", 1L)
    crashMidInstall(sig, "sb-s-1-")
    Dedup.compactSignatureIndex(spark, sig) // external compact before the retry
    // NOT adopted (no token), partial files discarded with the fold…
    IndexStore.withBatchToken(spark, sig, "s", 1L) {
      Dedup.appendToSignatureIndexExactlyOnce(
        Dedup.buildSignatureIndex(docs(21 to 40), "text", "doc_id"), sig, "s", 1L)
    } shouldBe true
    // …so the retry landed the batch exactly once, nothing lost.
    Dedup.loadSignatureIndex(spark, sig).count() shouldBe 40L
    // ---- multi-relation (bm25): a whole relation can be missing ----
    val bm = java.nio.file.Files.createTempDirectory("pend_bm_").toString + "/idx"
    TextAnalysis.persistBm25Index(
      TextAnalysis.buildBm25Index(docs(1 to 30), "text", "doc_id"), bm)
    TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", bm, "s", 1L)
    // Crash "between relations": docs never landed.
    val ledger = new org.apache.hadoop.fs.Path(bm, IndexStore.BatchTokensName)
    fs.create(new org.apache.hadoop.fs.Path(ledger, "s-1.pending"), true).close()
    val itB = fs.listFiles(new org.apache.hadoop.fs.Path(s"$bm/docs"), true)
    while (itB.hasNext) { val f = itB.next(); if (f.getPath.getName.startsWith("sb-s-1-")) fs.delete(f.getPath, false) }
    TextAnalysis.compactBm25Index(spark, bm) // would have adopted the doc-less batch
    IndexStore.withBatchToken(spark, bm, "s", 1L) {
      TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", bm, "s", 1L)
    } shouldBe true
    val dd = IndexStore.dataDir(spark, bm)
    IndexStore.readRelFlat(spark, dd, "docs").count() shouldBe 60L // every doc's length row present
    val fresh = java.nio.file.Files.createTempDirectory("pend_bm_fresh_").toString
    TextAnalysis.persistBm25Index(
      TextAnalysis.buildBm25Index(docs(1 to 60), "text", "doc_id"), fresh)
    val q = Seq((1L, "alpha beta w3"), (2L, "doc42")).toDF("query_id", "q_text")
    TextAnalysis.bm25TopKFromPersisted(spark, bm, q, "query_id", "q_text", k = 10)
      .collect().map(_.toString).sorted.toSeq shouldBe
      TextAnalysis.bm25TopKFromPersisted(spark, fresh, q, "query_id", "q_text", k = 10)
        .collect().map(_.toString).sorted.toSeq
  }

  it("bm25 exactly-once append: a retried three-relation batch lands once across postings/terms/docs") {
    import graft.operators.{IndexStore, TextAnalysis}
    // The multi-relation crash case: the batch's postings, partial term
    // stats, and doc lengths land as three writes — a crash can fall
    // between them OR between the last one and the token create. The
    // deterministic per-relation names make the retry converge either way.
    val dir = java.nio.file.Files.createTempDirectory("bm25_tok_").toString + "/idx"
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    TextAnalysis.persistBm25Index(
      TextAnalysis.buildBm25Index(docs(1 to 30), "text", "doc_id"), dir)
    // Batch 1 lands fully, token write "crashes"…
    TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", dir, "s", 1L)
    // …and an even earlier PARTIAL attempt left a stray postings file
    // under this batch's name family.
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/postings"), true)
    var seed: org.apache.hadoop.fs.Path = null
    while (it.hasNext && seed == null) {
      val f = it.next()
      if (f.getPath.getName.startsWith("sb-s-1-")) seed = f.getPath
    }
    seed should not be null
    org.apache.hadoop.fs.FileUtil.copy(fs, seed, fs,
      new org.apache.hadoop.fs.Path(seed.getParent, "sb-s-1-99.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    // The engine retries: the guarded body re-runs the WHOLE append.
    IndexStore.withBatchToken(spark, dir, "s", 1L) {
      TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", dir, "s", 1L)
    } shouldBe true
    // Exactly one copy everywhere: docs has one length row per doc, and
    // serving scores identically to a fresh build on the union.
    val dd = IndexStore.dataDir(spark, dir)
    IndexStore.readRelFlat(spark, dd, "docs").count() shouldBe 60L
    val fresh = java.nio.file.Files.createTempDirectory("bm25_tok_fresh_").toString
    TextAnalysis.persistBm25Index(
      TextAnalysis.buildBm25Index(docs(1 to 60), "text", "doc_id"), fresh)
    val q = Seq((1L, "alpha beta w3"), (2L, "doc42")).toDF("query_id", "q_text")
    TextAnalysis.bm25TopKFromPersisted(spark, dir, q, "query_id", "q_text", k = 10)
      .collect().map(_.toString).sorted.toSeq shouldBe
      TextAnalysis.bm25TopKFromPersisted(spark, fresh, q, "query_id", "q_text", k = 10)
        .collect().map(_.toString).sorted.toSeq
  }

  it("matchVsPersistedIndexSink refuses a legacy FLAT sink directory (layout migration)") {
    // The sink once appended flat parquet directly under sinkPath; the
    // exactly-once batch=<id> layout cannot mix with those leftovers
    // (partition discovery fails / readers double-count), so a flat sink
    // must be refused LOUDLY before the query starts.
    val root = java.nio.file.Files.createTempDirectory("flat_sink_")
    val sinkPath = s"$root/sink"
    Seq((1L, 2L, 0.9)).toDF("doc_id", "matched_id", "est_jaccard")
      .write.parquet(sinkPath) // the legacy flat layout
    val stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .selectExpr("value as doc_id", "'x' as text")
    val e = intercept[IllegalStateException] {
      graft.streaming.EventStream.matchVsPersistedIndexSink(
        stream, "text", "doc_id", s"$root/idx", sinkPath, s"$root/ckpt")
    }
    e.getMessage should include("FLAT parquet")
    // A fresh (or already-migrated, batch=<id>-only) sink is accepted: the
    // same call against an empty path must get past the layout check (it
    // will fail later only on the missing index, proving the gate is the
    // layout, not the path).
    val e2 = intercept[Exception] {
      val q = graft.streaming.EventStream.matchVsPersistedIndexSink(
        stream, "text", "doc_id", s"$root/idx", s"$root/sink2", s"$root/ckpt2")
      try q.processAllAvailable() finally q.stop()
    }
    e2.getMessage should not include "FLAT parquet"
  }

  it("batch tokens are stream-namespaced and the ledger self-prunes") {
    import graft.operators.{Dedup, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("tok_ns_").toString + "/idx"
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    // Stream A's batch 0 creates; stream B ALSO has a batch 0 (batch ids
    // are per-query) — without the streamId namespace B's first append
    // would silently skip on A's token.
    IndexStore.withBatchToken(spark, dir, "a", 0L) {
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs(1 to 10), "text", "doc_id"), dir)
    } shouldBe true
    IndexStore.withBatchToken(spark, dir, "b", 0L) {
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docs(11 to 20), "text", "doc_id"), dir, append = true)
    } shouldBe true
    Dedup.loadSignatureIndex(spark, dir).count() shouldBe 20 // both landed
    // A retry of either (same stream, same id) short-circuits.
    IndexStore.withBatchToken(spark, dir, "b", 0L) { fail("must not re-run") } shouldBe false
    // The ledger keeps a bounded 16-id tail per stream — O(streams), not
    // O(all batches ever) — and a high-water-mark file records the max
    // committed id so even PRUNED ids stay replay-safe.
    (1L to 20L).foreach { i => IndexStore.withBatchToken(spark, dir, "a", i)(()) }
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokens = fs.listStatus(new org.apache.hadoop.fs.Path(dir, IndexStore.BatchTokensName))
      .map(_.getPath.getName).sorted.toSeq
    tokens.filter(_.startsWith("a-")).map(_.stripPrefix("a-").toLong).sorted shouldBe (4L to 20L)
    tokens should contain allOf ("a.hwm", "b-0", "b.hwm")
    // Replaying an id whose token WAS pruned (a-0..a-3) must still skip:
    // the mark records it as committed — a restart from an older or
    // recreated checkpoint would otherwise duplicate-append (id 0 would
    // even overwrite the whole index).
    IndexStore.withBatchToken(spark, dir, "a", 0L) { fail("pruned id must not re-run") } shouldBe false
    IndexStore.withBatchToken(spark, dir, "a", 3L) { fail("pruned id must not re-run") } shouldBe false
    // …while stream b (own namespace, own mark) continues unaffected.
    IndexStore.withBatchToken(spark, dir, "b", 1L)(()) shouldBe true
  }

  it("a public exactly-once append replayed after a compaction folded its batch is skipped") {
    import graft.operators.{Dedup, IndexStore, TextAnalysis}
    // Public callers append without withBatchToken; the compaction that
    // folds the batch adopts its token. A replay of the same (stream,
    // batch) after that must find the token and skip: the folded rows no
    // longer carry the batch's file names, so the append's own sweep
    // cannot recognize them.
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    val sig = java.nio.file.Files.createTempDirectory("replay_sig_").toString + "/idx"
    Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs(1 to 50), "text", "doc_id"), sig)
    val batch = Dedup.buildSignatureIndex(docs(51 to 60), "text", "doc_id")
    Dedup.appendToSignatureIndexExactlyOnce(batch, sig, "s", 1L)
    Dedup.loadSignatureIndex(spark, sig).count() shouldBe 60L
    Dedup.compactSignatureIndex(spark, sig)
    Dedup.loadSignatureIndex(spark, sig).count() shouldBe 60L
    Dedup.appendToSignatureIndexExactlyOnce(batch, sig, "s", 1L) // the replay
    Dedup.loadSignatureIndex(spark, sig).count() shouldBe 60L
    // A new batch of the same stream still lands.
    Dedup.appendToSignatureIndexExactlyOnce(
      Dedup.buildSignatureIndex(docs(61 to 65), "text", "doc_id"), sig, "s", 2L)
    Dedup.loadSignatureIndex(spark, sig).count() shouldBe 65L
    // BM25 lands three relations per batch; the replay skips all of them.
    val bm = java.nio.file.Files.createTempDirectory("replay_bm_").toString + "/idx"
    TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs(1 to 30), "text", "doc_id"), bm)
    TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", bm, "s", 1L)
    TextAnalysis.compactBm25Index(spark, bm)
    TextAnalysis.appendToBm25IndexExactlyOnce(docs(31 to 60), "text", "doc_id", bm, "s", 1L)
    IndexStore.readRelFlat(spark, IndexStore.dataDir(spark, bm), "docs").count() shouldBe 60L
  }

  it("a retried append removes every stage dir its batch left, whatever the naming") {
    import graft.operators.Dedup
    // Earlier code staged a batch under `.stage-<stream>-<batch>`; the
    // current name adds the relation. A retry must remove both, and
    // leave another batch's stage alone.
    val dir = java.nio.file.Files.createTempDirectory("stage_left_").toString + "/idx"
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta doc$i w${i % 5}"))
      .toDF("doc_id", "text")
    Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs(1 to 20), "text", "doc_id"), dir)
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = Seq(".stage-s-7", ".stage-s-7-")
    val other = ".stage-s-70-"
    (leftovers :+ other).foreach { n =>
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/$n/bucket=0", "part-00000.parquet"), true).close()
    }
    Dedup.appendToSignatureIndexExactlyOnce(
      Dedup.buildSignatureIndex(docs(21 to 30), "text", "doc_id"), dir, "s", 7L)
    leftovers.foreach(n => fs.exists(new org.apache.hadoop.fs.Path(dir, n)) shouldBe false)
    fs.exists(new org.apache.hadoop.fs.Path(dir, other)) shouldBe true
    fs.delete(new org.apache.hadoop.fs.Path(dir, other), true)
    Dedup.loadSignatureIndex(spark, dir).count() shouldBe 30L
  }
}
