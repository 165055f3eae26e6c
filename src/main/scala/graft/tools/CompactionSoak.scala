package graft.tools

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the lifecycle claim behind index compaction: probe cost GROWS
  * as append segments and tombstones accumulate across forget cycles, and
  * returns to build-fresh after `compact*` — the SCALE.md evidence for
  * the round-11 compaction work, on the two structurally different
  * families (banded signature index; BM25 postings + additive stats).
  *
  * Usage: runMain graft.tools.CompactionSoak <sfDir> [cycles] [mode: all|cycles|ladder|policy|bytes]
  * Each cycle appends a full shifted copy of the corpus and tombstones a
  * third of all live ids, then times a FIXED probe batch (best of 2).
  * After the last cycle the index is compacted and the same probe runs
  * again — the row to compare against cycle 0.
  */
object CompactionSoak {

  private def bestOf2(f: () => Long): (Double, Long) = {
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val n  = f()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    runs.minBy(_._1)
  }

  /** Files a probe of the resolved generation actually reads: physical
    * files under it PLUS the manifest-referenced base files carried in
    * donor locations (manifest carry keeps clean partitions outside the
    * generation dir, so a physical walk alone undercounts serving cost).
    */
  private def parquetFiles(spark: SparkSession, dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
    val name = new java.io.File(dir).getName
    val refs = graft.operators.IndexStore.readManifest(spark, dir).getOrElse(Seq.empty)
      .filterNot(_.dir.startsWith(name + "/")).map(_.files.size).sum
    walk(new java.io.File(dir)) + refs
  }

  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 6
    val mode   = if (args.length > 2) args(2) else "all"
    val spark = graft.Harness.session()

    val docs  = graft.Tpch.table(spark, sfDir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val probeDocs = docs.where(col("doc_id") % 17 === 3)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .cache()
    probeDocs.count()

    // ---- signature index -------------------------------------------------
    if (mode == "all" || mode == "cycles") {
    val sigDir = java.nio.file.Files.createTempDirectory("cmp_soak_sig_").toString
    Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs, "text", "doc_id"), sigDir)
    def sigProbe() = bestOf2(() =>
      Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", sigDir).count())
    // Count the LIVE generation only — after a compact the root retains
    // the previous generation (readable-until-vacuum), which is history,
    // not serving cost.
    def row(tag: String, dir: String, t: (Double, Long)): Unit = {
      val live = graft.operators.IndexStore.dataDir(spark, dir)
      println(f"[cmpsoak] $tag%-22s ${t._1}%7.2f s  ${t._2}%8d matches  ${parquetFiles(spark, live)}%5d files")
    }
    row("sig cycle0 (fresh)", sigDir, sigProbe())
    (1 to cycles).foreach { c =>
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(
          docs.select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id"), col("text")),
          "text", "doc_id"),
        sigDir, append = true)
      Dedup.deleteFromPersistedIndex(
        docs.where(col("doc_id") % 3 === (c % 3)).select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id")),
        "doc_id", sigDir)
      row(s"sig cycle$c", sigDir, sigProbe())
    }
    val tC0 = System.nanoTime()
    Dedup.compactSignatureIndex(spark, sigDir)
    println(f"[cmpsoak] sig compact took ${(System.nanoTime() - tC0) / 1e9}%.2f s")
    row("sig after-compact", sigDir, sigProbe())

    // ---- BM25 index ------------------------------------------------------
    val bmDir = java.nio.file.Files.createTempDirectory("cmp_soak_bm_").toString
    TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), bmDir)
    val spark2 = spark
    import spark2.implicits._
    val queries = Seq(
      (1L, "spark join window"), (2L, "hash merge sort batch"),
      (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
    ).toDF("query_id", "q_text")
    def bmProbe() = bestOf2(() =>
      TextAnalysis.bm25TopKFromPersisted(spark, bmDir, queries, "query_id", "q_text", k = 10).count())
    row("bm25 cycle0 (fresh)", bmDir, bmProbe())
    (1 to cycles).foreach { c =>
      TextAnalysis.appendToBm25Index(
        docs.select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id"), col("text")),
        "text", "doc_id", bmDir)
      Dedup.deleteFromPersistedIndex(
        docs.where(col("doc_id") % 3 === (c % 3)).select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id")),
        "doc_id", bmDir)
      row(s"bm25 cycle$c", bmDir, bmProbe())
    }
    val tC1 = System.nanoTime()
    TextAnalysis.compactBm25Index(spark, bmDir)
    println(f"[cmpsoak] bm25 compact took ${(System.nanoTime() - tC1) / 1e9}%.2f s")
    row("bm25 after-compact", bmDir, bmProbe())
    }

    // ---- policy-driven maintenance ----------------------------------------
    // The claim under maintainIndexes: an UNSUPERVISED per-cycle sweep with
    // the default policy keeps probe latency bounded while compacting only
    // when its signals fire (segment pressure crosses 4, or tombstone mass
    // crosses 2% of rows) — the operator never schedules a compact by hand
    // and never pays one that isn't warranted.
    if (mode == "policy") {
      val dir = java.nio.file.Files.createTempDirectory("cmp_policy_sig_").toString
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs, "text", "doc_id"), dir)
      def probe() = bestOf2(() =>
        Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", dir).count())
      def prow(tag: String, action: String, sweepS: Double, t: (Double, Long)): Unit = {
        val live = graft.operators.IndexStore.dataDir(spark, dir)
        println(f"[cmpsoak] policy $tag%-9s action=$action%-15s sweep ${sweepS}%5.2f s  " +
          f"probe ${t._1}%6.2f s  ${t._2}%8d matches  ${parquetFiles(spark, live)}%5d files")
      }
      prow("cycle0", "-", 0.0, probe())
      (1 to cycles).foreach { c =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(
            docs.select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id"), col("text")),
            "text", "doc_id"),
          dir, append = true)
        Dedup.deleteFromPersistedIndex(
          docs.where(col("doc_id") % 3 === (c % 3)).select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id")),
          "doc_id", dir)
        val t0 = System.nanoTime()
        val audit  = graft.operators.CorpusPipeline.maintainIndexes(spark, Seq(dir))
        val action = audit.select("action").head.getString(0)
        prow(s"cycle$c", action, (System.nanoTime() - t0) / 1e9, probe())
      }
    }

    if (mode == "vacuum") {
      // ---- retention policy: reclaim only past the age gate ---------------
      // Three rapid maintenance cycles retire three generations; the
      // vacuumIndexes sweep must reclaim NOTHING while they sit inside the
      // minRetentionMs window (however permissive the count horizon), then
      // reclaim exactly the dry-run-priced bytes once the age gate opens
      // (back-dated retire stamps) — with manifest-referenced donor
      // subtrees exempt and serving unchanged throughout.
      import graft.operators.{CorpusPipeline, IndexStore}
      val dir = java.nio.file.Files.createTempDirectory("cmp_vac_sig_").toString
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs, "text", "doc_id"), dir)
      (1 to 3).foreach { c =>
        Dedup.deleteFromPersistedIndex(
          docs.where(col("doc_id") % 97 === c).select("doc_id"), "doc_id", dir)
        Dedup.compactSignatureIndex(spark, dir, keepGens = 3)
      }
      val matches0 = Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", dir).count()
      def vrow(tag: String, policy: CorpusPipeline.IndexMaintenancePolicy, dry: Boolean): Long = {
        val r = CorpusPipeline.vacuumIndexes(spark, Seq(dir), policy, dryRun = dry).head
        println(f"[cmpsoak] vacuum $tag%-28s action=${r.getString(4)}%-14s " +
          f"reclaimable=${r.getLong(3) / 1e6}%8.2f MB  gen=${r.getLong(2)}")
        r.getLong(3)
      }
      val aged = CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0, minRetentionMs = 3600000L)
      val open = CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0)
      require(vrow("inside-age-window", aged, dry = false) == 0L,
        "age floor must hold everything younger than an hour")
      // Open the age gate for the GENERATION history by back-dating the
      // retire stamps; the flat-era leftovers at the root age by the root
      // dir's own clock and stay held under the 1-hour floor.
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { st =>
        if (st.getPath.getName.startsWith(IndexStore.GenPrefix)) {
          val m = new org.apache.hadoop.fs.Path(st.getPath, "_graft_retired_at")
          if (fs.exists(m)) { val o = fs.create(m, true); o.write("1000\n".getBytes("UTF-8")); o.close() }
        }
      }
      val agedGens = vrow("aged-out gens (back-dated)", aged, dry = false)
      require(agedGens > 0L, "back-dated generations must reclaim")
      // Dry run must price the remainder exactly — and delete nothing.
      val priced = vrow("dry-run (no age floor)", open, dry = true)
      val got    = vrow("reclaim (no age floor)", open, dry = false)
      require(got == priced, s"dry-run priced $priced but vacuum reclaimed $got")
      val matches1 = Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", dir).count()
      require(matches0 == matches1, s"vacuum changed serving: $matches0 -> $matches1")
      println(f"[cmpsoak] vacuum serving unchanged ($matches0 matches); reclaim fired only past the age gate")
    }

    if (mode == "all" || mode == "ladder") {
    // ---- selective-compaction cost ladder ---------------------------------
    // The claim under q_*_compact_sel: selective compact cost is
    // proportional to the DIRTY FRACTION, not the index size. Fixed
    // absolute delete set (the right-to-be-forgotten shape: a handful of
    // ids, however big the corpus), corpus ×1 then ×16, 512 key buckets so
    // a 5-doc purge dirties ≤ 40/512 partitions: selective time should
    // track the dirty fraction of the full-rewrite time at BOTH sizes,
    // and the carried (manifest-referenced, not rewritten) file count should stay
    // ≈ clean-partition count.
    def inodes(dir: String): Map[Long, Long] = { // inode -> bytes
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map(f =>
        java.nio.file.Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long] -> f.length()).toMap
    }
    def copyTree(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(s).forEach { p =>
        val d = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
        else java.nio.file.Files.copy(p, d)
      }
    }
    Seq(1, 16, 64).foreach { scale =>
      val corpus =
        if (scale == 1) docs
        else (0 until scale).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * (maxId + 1))).as("doc_id"), col("text")))
          .reduce(_.unionAll(_))
      val pristine = java.nio.file.Files.createTempDirectory(s"cmp_sel_x${scale}_").toString
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(corpus, "text", "doc_id"), pristine, keyBuckets = 512)
      def trial(selective: Boolean): (Double, Long, Long) = {
        val t = java.nio.file.Files.createTempDirectory(s"cmp_sel_trial_").toString
        copyTree(pristine, t)
        Dedup.deleteFromPersistedIndex(
          docs.where(col("doc_id") % 1000 === 7).select("doc_id"), "doc_id", t) // ~5 ids at sf0.1
        val before = inodes(t)
        val t0 = System.nanoTime()
        if (selective) Dedup.compactSignatureIndex(spark, t)
        else Dedup.compactSignatureIndex(spark, t, selective = false)
        val secs = (System.nanoTime() - t0) / 1e9
        val cur  = graft.operators.IndexStore.dataDir(spark, t)
        // Manifest carry: rewritten bytes are the PHYSICAL files of the
        // new generation; carried bytes are the manifest's recorded base
        // files still living in donor locations (one manifest line each —
        // no inode tricks needed, and the accounting holds on any FS).
        val curName = new java.io.File(cur).getName
        val manifest = graft.operators.IndexStore.readManifest(spark, cur).getOrElse(Seq.empty)
        val carriedBytes = manifest.filterNot(_.dir.startsWith(curName + "/"))
          .flatMap(_.files.map(_._2)).sum
        val rewrittenBytes = inodes(cur).values.sum
        ((secs, carriedBytes, rewrittenBytes))
      }
      // min-of-2 per mode: the first trial at each scale pays JIT/codegen
      // warmup that otherwise swamps the comparison at fixture scale.
      val (tSel, carried, rewritten) = Seq(trial(selective = true), trial(selective = true)).minBy(_._1)
      val (tFull, _, _)              = Seq(trial(selective = false), trial(selective = false)).minBy(_._1)
      // Bytes, not just seconds: at fixture scale the wall clock is
      // fixed-cost-bound (512 partition dirs of small files), but the
      // bytes NOT rewritten are the term that grows into the whole index
      // at 10⁹ docs — that is the proportionality claim.
      println(f"[cmpsoak] sel-ladder corpus=x$scale%-3d selective $tSel%6.2f s  full $tFull%6.2f s  " +
        f"carried=${carried / 1e6}%8.1f MB  rewritten=${rewritten / 1e6}%6.1f MB  " +
        f"(rewrite frac ${rewritten.toDouble / math.max(1L, carried + rewritten)}%.4f)")
    }
    }

    if (mode == "donors") {
      // ---- donor fan-in bound over a LONG lifecycle ----------------------
      // The r15 claim: N selective compacts leave clean partitions
      // referenced across ever more donor generations (one readRel union
      // branch each); the maxDonorGenerations policy escalates to a FULL
      // rewrite when the fan-in crosses the bound, so probe wall and
      // branch count stay FLAT across an arbitrarily long lifecycle
      // instead of growing with it. Each cycle: tiny forget (the
      // right-to-be-forgotten shape) + policy sweep (tombstone trigger
      // fires a selective compact every cycle; donor trigger escalates
      // at the bound).
      import graft.operators.{CorpusPipeline, IndexStore}
      val dir = java.nio.file.Files.createTempDirectory("cmp_donor_sig_").toString
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docs, "text", "doc_id"), dir, keyBuckets = 512)
      def probe() = bestOf2(() =>
        Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", dir).count())
      val policy = CorpusPipeline.IndexMaintenancePolicy(
        maxTombstoneFraction = 0.0, maxDonorGenerations = 8)
      var maxDonors = 0
      var escalations = 0
      (1 to cycles).foreach { c =>
        Dedup.deleteFromPersistedIndex(
          docs.where(col("doc_id") % 997 === (c % 997)).select("doc_id"), "doc_id", dir)
        val audit = CorpusPipeline.maintainIndexes(spark, Seq(dir), policy)
          .select("donor_gens", "action").head
        val (donors, action) = (audit.getInt(0), audit.getString(1))
        maxDonors = math.max(maxDonors, donors)
        if (action == "compact_full") escalations += 1
        if (c == 1 || c % 10 == 0 || action == "compact_full") {
          val t = probe()
          val live = IndexStore.dataDir(spark, dir)
          val branches = IndexStore.readManifest(spark, live).getOrElse(Seq.empty)
            .map(_.dir.takeWhile(_ != '/')).distinct.size
          println(f"[cmpsoak] donors cycle$c%-4d donors=$donors%2d action=$action%-14s " +
            f"branches=$branches%2d probe ${t._1}%6.2f s ${t._2}%8d matches")
        }
      }
      require(maxDonors <= policy.maxDonorGenerations + 1,
        s"donor fan-in exceeded the bound: $maxDonors (policy ${policy.maxDonorGenerations})")
      println(f"[cmpsoak] donors: $cycles cycles, max fan-in $maxDonors " +
        f"(bound ${policy.maxDonorGenerations}), $escalations full-rewrite escalations — flat by policy")
    }

    if (mode == "all" || mode == "bytes") {
      // ---- byte-mass trigger: the count-blind massive append ------------
      // One corpus-tripling backfill lands as a SINGLE append segment per
      // partition: 2 files/partition sits under the 4-segment count
      // threshold forever, yet the probe pays the unfolded mass every
      // batch. The policy's byte trigger (appended bytes beyond each
      // partition's oldest = base file, same listing, zero data pages) is what
      // fires. Control: maxAppendByteFraction = 1.0 disables it and the
      // sweep stays 'none' — the expensive probe persists.
      val dir = java.nio.file.Files.createTempDirectory("cmp_bytes_sig_").toString
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs, "text", "doc_id"), dir)
      def probe() = bestOf2(() =>
        Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", dir).count())
      def brow(tag: String, audit: String, t: (Double, Long)): Unit = {
        val live = graft.operators.IndexStore.dataDir(spark, dir)
        println(f"[cmpsoak] bytes $tag%-24s $audit%-48s probe ${t._1}%6.2f s  " +
          f"${t._2}%8d matches  ${parquetFiles(spark, live)}%5d files")
      }
      brow("fresh", "-", probe())
      val big = (1 to 3).map { c =>
        docs.select((col("doc_id") + lit(c * (maxId + 1))).as("doc_id"), col("text"))
      }.reduce(_ unionByName _)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(big, "text", "doc_id"), dir, append = true)
      def sweep(maxFrac: Double): String = {
        val r = graft.operators.CorpusPipeline.maintainIndexes(spark, Seq(dir),
          graft.operators.CorpusPipeline.IndexMaintenancePolicy(maxAppendByteFraction = maxFrac))
          .select("max_segments", "append_byte_frac", "action").head
        s"segs=${r.getInt(0)} byteFrac=${r.getDouble(1)} action=${r.getString(2)}"
      }
      brow("x3-single-append", sweep(1.0), probe())   // control: trigger off → none
      brow("x3 after byte-fired", sweep(0.5), probe()) // default fires → compact
    }

    spark.stop()
  }
}
