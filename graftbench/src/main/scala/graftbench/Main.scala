package graftbench

import graft.SessionTuning
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one run.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * With `--trace 0` it prints every end-to-end metric; with `--trace 1` it
  * traces two operations in three and prints every per-layer metric plus
  * the tracing overhead. The last stdout line is the JSON result.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** Spark runs at `local[Cores]`: every core of the host, at most four. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Input loads per run; `setup_s` counts their median, plus the session
    * build and the warm-up operations.
    */
  val SetupReps = 3
  /** Untimed `index_ingest` batches before the timed phase; batch latency
    * levels off within them. Batch workloads set their own count.
    */
  val WarmupBatches = 6
  /** The timed phase may overrun `--seconds` to reach [[Stats.MinSamples]], up to this long. */
  val MaxTimedS = 60.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "rows_per_s" -> "rows/s",
    "cpu_s_per_op" -> "s", "peak_heap_mb" -> "MB", "bytes_out_per_in" -> "ratio", "ok_frac" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "plans.jobs" -> "count", "plans.job_wall_s" -> "s", "plans.task_cpu_s" -> "s", "plans.shuffle_write_mb" -> "MB",
    "Graft.plan_s" -> "s", "Graft.driver_gap_s" -> "s", "Graft.jobs" -> "count", "Graft.task_cpu_s" -> "s",
    "Graft.shuffle_write_mb" -> "MB",
    "sources.catalog_s" -> "s", "sources.input_rows" -> "count",
    "sinks.jobs" -> "count", "sinks.task_run_s" -> "s", "sinks.task_cpu_s" -> "s", "sinks.output_rows" -> "count",
    "functions.rows_anonymized" -> "count", "functions.write_cpu_us_per_row" -> "us",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.boundary_s" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s",
    "Dedup.probe_s" -> "s", "Dedup.append_s" -> "s", "Dedup.forget_s" -> "s", "Dedup.jobs" -> "count",
    "Dedup.task_cpu_s" -> "s", "Dedup.probe_recall" -> "ratio",
    "IndexStore.jobs" -> "count", "IndexStore.job_wall_s" -> "s", "IndexStore.output_mb" -> "MB",
    "IndexStore.files" -> "count", "IndexStore.bytes_mb" -> "MB",
    "CorpusPipeline.maintain_s" -> "s", "CorpusPipeline.compact_s" -> "s", "CorpusPipeline.compactions" -> "count",
    "CorpusPipeline.skips" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.failed_tasks" -> "count",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.ops" -> "count")

  /** One timed operation. */
  final case class Sample(id: Int, startMs: Double, endMs: Double, latencyS: Double, cpuS: Double,
      gcS: Double, gcCount: Long, ok: Boolean, traced: Boolean)

  final case class Outcome(
      samples: Seq[Sample],
      setupS: Double,
      sourceRows: Double,
      cpuS: Double,
      peakHeapMb: Double,
      bytesOutPerIn: Double,
      errors: Seq[String],
      layers: Map[String, Double],
      describe: Map[String, Any],
      artifact: Map[String, Any])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"))
    require(Set("subset_copy", "full_refresh", "index_ingest")(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a  = parse(argv)
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    SessionTuning.tune(spark)
    val sessionS = (Clock.nowMs - t0) / 1000
    val outcome =
      try a.workload match {
        case "subset_copy"  => runBatch(new SubsetCopy(spark, a.seed, a.work), a, spark, sessionS)
        case "full_refresh" => runBatch(new FullRefresh(spark, a.seed), a, spark, sessionS)
        case "index_ingest" => runStream(a, spark, sessionS)
      }
      finally spark.stop()
    report(a, outcome)
  }

  /** Per-operation numbers every workload derives from its jobs. */
  def jobLayers(jobs: Seq[JobRecord], op: (Double, Double)): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val byModule = jobs.groupBy(_.module).withDefaultValue(Nil)
    Seq("plans", "Graft", "sinks", "Dedup", "IndexStore").foreach { m =>
      val js = byModule(m)
      out(s"$m.jobs") = js.size
      out(s"$m.job_wall_s") = js.map(_.wallS).sum
      out(s"$m.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
      out(s"$m.task_run_s") = js.map(_.runMs).sum / 1e3
      out(s"$m.shuffle_write_mb") = js.map(_.shuffleWriteBytes).sum / 1048576.0
      out(s"$m.output_mb") = js.map(_.outputBytes).sum / 1048576.0
      out(s"$m.output_rows") = js.map(_.outputRows).sum.toDouble
      out(s"$m.input_rows") = js.map(_.inputRows).sum.toDouble
    }
    out("sources.input_rows") = jobs.map(_.inputRows).sum.toDouble
    out("spark.jobs") = jobs.size
    out("spark.tasks") = jobs.map(_.tasks).sum.toDouble
    out("spark.failed_tasks") = jobs.map(_.failedTasks).sum.toDouble
    out("Graft.driver_gap_s") = Stats.selfTime(op, jobs.map(j => (j.startMs, j.endMs))) / 1000
    out.toMap
  }

  private def medians(perOp: Seq[Map[String, Double]]): Map[String, Double] =
    if (perOp.isEmpty) Map.empty
    else perOp.flatMap(_.keys).distinct.map(k => k -> Stats.median(perOp.map(_.getOrElse(k, 0.0)))).toMap

  private def jobsJson(jobs: Iterable[JobRecord]): Seq[Map[String, Any]] = jobs.toSeq.map(j => Map(
    "id" -> j.id, "module" -> j.module, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
    "failed_tasks" -> j.failedTasks, "cpu_s" -> j.cpuNs / 1e9, "run_s" -> j.runMs / 1e3,
    "shuffle_write_bytes" -> j.shuffleWriteBytes, "output_bytes" -> j.outputBytes,
    "output_rows" -> j.outputRows, "input_rows" -> j.inputRows))

  private def spansJson(spans: Spans): Seq[Map[String, Any]] = spans.spans.toSeq.map(s => Map(
    "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op,
    "self_s" -> Stats.selfTime((s.startMs, s.endMs),
      spans.spans.toSeq.filter(c => c.parent >= 0 && spans.spans(c.parent) == s).map(c => (c.startMs, c.endMs))) / 1000))

  def runBatch(wl: BatchWorkload, a: Args, spark: SparkSession, sessionS: Double): Outcome = {
    val sc     = spark.sparkContext
    val errors = mutable.ArrayBuffer.empty[String]
    val spans  = new Spans(false)
    def once(id: Int): Unit = {
      sc.setLocalProperty(JobMeter.OpProperty, id.toString)
      try spans("op", id)(wl.op(id, spans))
      finally sc.setLocalProperty(JobMeter.OpProperty, null)
    }
    val loads = (1 to SetupReps).map { rep =>
      val t = Clock.nowMs
      wl.setup(rep)
      (Clock.nowMs - t) / 1000
    }
    val t = Clock.nowMs
    (1 to wl.warmupOps).foreach { w =>
      once(-w)
      errors ++= wl.verify(-w).map(e => s"warm-up: $e")
    }
    val warmS = (Clock.nowMs - t) / 1000

    Jvm.resetPeakHeap()
    val meter     = new JobMeter
    val samples   = mutable.ArrayBuffer.empty[Sample]
    val start     = Clock.nowMs
    var id        = 0
    def elapsedS  = (Clock.nowMs - start) / 1000
    if (a.trace) sc.addSparkListener(meter)
    while ((elapsedS < a.seconds || samples.size < Stats.MinSamples) && elapsedS < MaxTimedS) {
      val traced = tracedOp(a, id)
      spans.enabled = traced
      val (gc0, cpu0, t0) = (Jvm.gc(), Jvm.cpuS(), Clock.nowMs)
      val thrown = scala.util.Try(once(id)).failed.toOption
      val (t1, cpu1, gc1) = (Clock.nowMs, Jvm.cpuS(), Jvm.gc())
      val errs = thrown.map(e => Seq(s"op $id threw $e")).getOrElse(wl.verify(id))
      errors ++= errs.map(e => s"op $id: $e")
      System.err.println(f"graftbench: op $id ${(t1 - t0) / 1000}%.3f s, verified in ${(Clock.nowMs - t1) / 1000}%.3f s")
      samples += Sample(id, t0, t1, (t1 - t0) / 1000, cpu1 - cpu0, gc1._1 - gc0._1, gc1._2 - gc0._2, errs.isEmpty, traced)
      id += 1
    }
    val peak = Jvm.peakHeapMb()

    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        meter.drain(spark)
        val traced = samples.filter(_.traced).toSeq
        val perOp = traced.map { s =>
          val jobs   = meter.jobsOf(s.id, s.startMs, s.endMs)
          val base   = jobLayers(jobs, (s.startMs, s.endMs))
          val runSpan = spans.of(s.id).find(sp => sp.name.startsWith("Graft.run"))
          val firstWrite = runSpan.flatMap(sp => jobs.filter(j => (j.module == "Graft" || j.module == "sinks") &&
            j.startMs >= sp.startMs).map(_.startMs).minOption)
          val writeCpu   = base("Graft.task_cpu_s") + base("sinks.task_cpu_s")
          val writeRows  = base("Graft.output_rows") + base("sinks.input_rows")
          base ++ Map(
            "Graft.plan_s" -> runSpan.zip(firstWrite).map { case (sp, w) => (w - sp.startMs) / 1000 }.getOrElse(0.0),
            "sources.catalog_s" -> spans.named(s.id, "sources.catalog").map(_.durationS).sum,
            "sinks.output_rows" -> base("sinks.input_rows"),
            "functions.rows_anonymized" -> wl.rowsAnonymizedPerOp.toDouble,
            "functions.write_cpu_us_per_row" -> (if (writeRows > 0) writeCpu * 1e6 / writeRows else 0.0),
            "jvm.gc_s" -> s.gcS, "jvm.gc_count" -> s.gcCount.toDouble)
        }
        medians(perOp) ++ overhead(samples.toSeq)
      }
    Outcome(samples.toSeq, sessionS + Stats.median(loads) + warmS, wl.sourceRowsPerOp.toDouble * samples.size,
      samples.map(_.cpuS).sum, peak, wl.bytesOutPerIn(), errors.toSeq, layers,
      wl.describe ++ Map("load_reps_s" -> loads, "warmup_s" -> warmS, "session_s" -> sessionS),
      Map("spans" -> spansJson(spans), "jobs" -> jobsJson(meter.jobs.values)))
  }

  /** In a traced run two operations in three are traced. The other third
    * gives the untraced latency the overhead is measured against; a cycle
    * of three does not line up with the index's four-batch compaction
    * cycle, so both groups see compactions in proportion.
    */
  private def tracedOp(a: Args, i: Int): Boolean = a.trace && i % 3 != 0

  /** Traced median latency over untraced, minus one; and the traced sample count. */
  private def overhead(samples: Seq[Sample]): Map[String, Double] = {
    val (on, off) = samples.partition(_.traced)
    Map("trace.overhead_frac" ->
      (if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on.map(_.latencyS)) / Stats.median(off.map(_.latencyS)) - 1),
      "trace.ops" -> on.size.toDouble)
  }

  def runStream(a: Args, spark: SparkSession, sessionS: Double): Outcome = {
    val wl = new IndexIngest(spark, a.seed, a.work)
    val loads = (1 to SetupReps).map { rep =>
      val t = Clock.nowMs
      wl.setup(rep)
      (Clock.nowMs - t) / 1000
    }
    // The first WarmupBatches batches of the one query are the warm-up. Enough
    // files are staged to outlast the timed phase at two batches a second.
    val warmFrom = Clock.nowMs
    val staged   = math.min(DocGen.MaxFiles, WarmupBatches + math.max(Stats.MinSamples, 2 * a.seconds) + 5)
    wl.stage(staged)

    val sc          = spark.sparkContext
    val meter       = new JobMeter
    val streamMeter = new StreamMeter
    val spans       = new Spans(false)
    if (a.trace) spark.streams.addListener(streamMeter)
    var start  = Double.NaN
    var cpu0   = 0.0
    def timed  = wl.records.filter(_.batchId >= WarmupBatches)
    val stop = () => !start.isNaN && {
      val elapsed = (Clock.nowMs - start) / 1000
      (elapsed >= a.seconds && timed.size >= Stats.MinSamples) || elapsed >= MaxTimedS
    }
    val begin = (batchId: Long) => {
      if (batchId == WarmupBatches) {
        start = Clock.nowMs
        cpu0 = Jvm.cpuS()
        Jvm.resetPeakHeap()
      }
      if (a.trace && batchId == WarmupBatches) sc.addSparkListener(meter)
      batchId >= WarmupBatches && tracedOp(a, (batchId - WarmupBatches).toInt)
    }
    val q    = wl.run(stop, begin, spans)
    val peak = Jvm.peakHeapMb()
    val warmS = (start - warmFrom) / 1000
    val ran  = timed.toSeq
    require(ran.nonEmpty, "no timed micro-batch ran")
    val trigger = q.recentProgress.map(p => p.batchId -> p.durationMs.get("triggerExecution").doubleValue / 1000).toMap
    val samples = ran.map(r => Sample(r.batchId.toInt, r.startMs, r.endMs, trigger(r.batchId), r.cpuS, r.gcS,
      r.gcCount, r.error.isEmpty, r.traced))
    val warmErrors = wl.records.filter(_.batchId < WarmupBatches).flatMap(_.error).map(e => s"warm-up: $e")

    val errors = mutable.ArrayBuffer.from(warmErrors ++ ran.flatMap(_.error))
    errors ++= IndexIngest.recallError(ran.map(_.found).sum, ran.map(_.planted).sum)
    val live   = wl.indexIds()
    val want   = wl.expectedLive
    if (live != want)
      errors += s"index holds ${live.size} live ids, expected ${want.size} (${(want -- live).size} missing, ${(live -- want).size} extra)"

    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        meter.drain(spark)
        val on = ran.zipWithIndex.filter(_._1.traced)
        val perOp = on.map { case (r, i) =>
          val from = if (i > 0) ran(i - 1).endMs else r.startMs
          val jobs = meter.jobsOf(-1, from, r.endMs)
          val d    = streamMeter.durations.getOrElse(r.batchId, Map.empty).withDefaultValue(0L)
          def span(n: String) = spans.named(r.batchId.toInt, n).map(_.durationS).sum
          jobLayers(jobs, (from, r.endMs)) ++ Map(
            "streaming.trigger_s" -> d("triggerExecution") / 1e3,
            "streaming.add_batch_s" -> d("addBatch") / 1e3,
            "streaming.boundary_s" -> (d("triggerExecution") - d("addBatch")) / 1e3,
            "streaming.latest_offset_s" -> d("latestOffset") / 1e3,
            "streaming.query_planning_s" -> d("queryPlanning") / 1e3,
            "streaming.wal_commit_s" -> d("walCommit") / 1e3,
            "streaming.commit_offsets_s" -> d("commitOffsets") / 1e3,
            "Dedup.probe_s" -> span("Dedup.probe"), "Dedup.append_s" -> span("Dedup.append"),
            "Dedup.forget_s" -> span("Dedup.forget"), "CorpusPipeline.maintain_s" -> span("CorpusPipeline.maintain"),
            "IndexStore.files" -> r.indexFiles.toDouble, "IndexStore.bytes_mb" -> r.indexBytes / 1048576.0,
            "jvm.gc_s" -> r.gcS, "jvm.gc_count" -> r.gcCount.toDouble)
        }
        val tr = on.map(_._1)
        val compacting = tr.filter(_.action.startsWith("compact"))
          .map(r => spans.named(r.batchId.toInt, "CorpusPipeline.maintain").map(_.durationS).sum)
        medians(perOp) ++ overhead(samples) ++ Map(
          "CorpusPipeline.compact_s" -> (if (compacting.isEmpty) 0.0 else Stats.median(compacting)),
          "Dedup.probe_recall" -> tr.map(_.found).sum.toDouble / math.max(1, tr.map(_.planted).sum),
          "CorpusPipeline.compactions" -> tr.count(_.action.startsWith("compact")).toDouble,
          "CorpusPipeline.skips" -> tr.count(_.action == "none").toDouble)
      }
    val rows = ran.size.toDouble * DocGen.BatchDocs
    Outcome(samples, sessionS + Stats.median(loads) + warmS, rows, ran.last.cpuAtEndS - cpu0, peak,
      Files.bytes(wl.indexDir).toDouble / wl.liveTextBytes, errors.toSeq, layers,
      Map("load_reps_s" -> loads, "warmup_s" -> warmS, "session_s" -> sessionS, "staged_files" -> staged,
        "initial_docs" -> DocGen.InitialDocs, "batch_docs" -> DocGen.BatchDocs,
        "planted_share" -> DocGen.PlantedPerBatch.toDouble / DocGen.BatchDocs,
        "forget_share" -> DocGen.ForgetPermille / 1000.0,
        "compactions" -> ran.count(_.action.startsWith("compact")),
        "planted_found" -> ran.map(_.found).sum, "planted" -> ran.map(_.planted).sum),
      Map("spans" -> spansJson(spans), "jobs" -> jobsJson(meter.jobs.values),
        "batches" -> ran.map(r => Map("batch" -> r.batchId, "action" -> r.action, "found" -> r.found,
          "planted" -> r.planted, "traced" -> r.traced)),
        "stream_durations_ms" -> streamMeter.durations.toSeq.sortBy(_._1).map { case (b, d) => Map("batch" -> b) ++ d }))
  }

  def report(a: Args, o: Outcome): Unit = {
    val n       = o.samples.size
    val failed  = o.samples.count(!_.ok)
    val lat     = o.samples.map(_.latencyS)
    val tail    = Stats.tail(lat)
    val correct = o.errors.isEmpty && tail.nonEmpty
    o.errors.take(20).foreach(e => System.err.println(s"graftbench: $e"))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> o.setupS,
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail.map(_.value).getOrElse(Double.NaN),
      "rows_per_s" -> o.sourceRows / lat.sum,
      "cpu_s_per_op" -> o.cpuS / n,
      "peak_heap_mb" -> o.peakHeapMb,
      "bytes_out_per_in" -> o.bytesOutPerIn,
      "ok_frac" -> (n - failed).toDouble / n)
    val out = System.out
    out.println(s"graftbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=$Cores")
    o.describe.toSeq.sortBy(_._1).foreach { case (k, v) => out.println(f"  input $k%-22s ${Json.render(v)}") }
    EndToEnd.foreach { case (k, u) =>
      val extra = if (k == "op_tail_s") tail.map(t => f"  (p${t.percentile}%.1f of ${t.samples} samples)").getOrElse("  (too few samples)") else ""
      out.println(f"  $k%-22s ${e2e(k)}%.6g $u$extra")
    }
    out.println(f"  ${"fail_frac"}%-22s ${failed.toDouble / n}%.6g ratio  ($failed of $n failed)")
    if (a.trace) PerLayer.foreach { case (k, u) => out.println(f"  $k%-32s ${o.layers.getOrElse(k, 0.0)}%.6g $u") }

    val metrics = (if (a.trace) PerLayer.map { case (k, u) => k -> (o.layers.getOrElse(k, 0.0), u) }
                   else EndToEnd.map { case (k, u) => k -> (e2e(k), u) })
    val artifact = o.artifact ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "input" -> o.describe, "errors" -> o.errors,
      "latencies_s" -> lat, "tail_percentile" -> tail.map(_.percentile).getOrElse(0.0),
      "end_to_end" -> e2e, "per_layer" -> o.layers)
    val path = s"${a.work}/artifact.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Json.render(artifact).getBytes("UTF-8"))
    out.println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> n, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap.from(
        metrics.map { case (k, (v, u)) => k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }))))
  }
}
