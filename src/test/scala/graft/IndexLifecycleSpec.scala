package graft

import graft.operators.{Dedup, IndexStore, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural contract of the generation-pointer index lifecycle
  * (build → append/delete → compact), the layer under every persisted
  * serving index family. The correctness-vs-oracle half lives in the
  * `*_compact` gates; this spec pins what an oracle cannot see:
  *
  *  - selective compaction rewrites ONLY dirty partitions (clean ones
  *    carry as MANIFEST REFERENCES into their donor locations — one
  *    manifest line, zero bytes, on any filesystem) and its result is
  *    content-identical to a full compact and a fresh build of the
  *    survivors;
  *  - the generation swap is atomic to concurrent probes (no probe ever
  *    errors or sees a mixed state while compactions race it, including
  *    a KILLED compaction);
  *  - writers (append/delete/compact) serialize on the index lease —
  *    two concurrent appenders both land, and a blocked writer fails
  *    loudly with the holder's identity when the lease never frees;
  *  - crash windows repair: an orphan staged generation is discarded,
  *    the previous generation is retained until the next compact, and
  *    [[IndexStore.vacuum]] reclaims the rest.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p))

  private def dataDir(root: String): String = IndexStore.dataDir(spark, root)

  private def parquetFilesUnder(dir: String): Seq[String] = {
    val it  = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val s = f.getPath.toString
      if (f.isFile && s.endsWith(".parquet") && !s.contains("/_graft_")) out += s
    }
    out.toSeq
  }

  /** A generation's physical rows, read through its data files: Spark
    * flags the `_gen-N` directory name itself as hidden. */
  private def genRows(dd: String): DataFrame =
    spark.read.option("basePath", dd).parquet(parquetFilesUnder(dd): _*)

  private def docsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  describe("signature-index compaction (generation swap)") {
    it("purges tombstones, folds segments, keeps meta, equals a fresh build — behind a pointer flip") {
      val dir = tmpDir("sigcmp_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), dir)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(41 to 80), "text", "doc_id"), dir, append = true)
      Dedup.deleteFromPersistedIndex(
        (1 to 80).filter(_ % 3 == 0).map(_.toLong).toDF("doc_id"), "doc_id", dir)
      val filesBefore = parquetFilesUnder(dataDir(dir)).size
      val metaBefore  = sortedRows(IndexStore.readArtifact(spark, s"$dir/_graft_index_meta").get)

      Dedup.compactSignatureIndex(spark, dir)

      val dd = dataDir(dir)
      dd should not equal dir // flat layout transitioned to generation 1
      IndexStore.currentGeneration(spark, dir) shouldBe 1
      exists(s"$dd/_graft_tombstones") shouldBe false // mask died with the masked rows
      sortedRows(IndexStore.readArtifact(spark, s"$dd/_graft_index_meta").get) shouldEqual metaBefore
      // Serving file count (physical + manifest-referenced) fell: the
      // append segments folded.
      IndexStore.relStats(spark, dd, "", "bucket").values.map(_.files).sum should be < filesBefore
      // Compacted content ≡ fresh build on the survivors (banded rows).
      val fresh = tmpDir("sigcmp_fresh_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(
          docsDf(1 to 80).where(col("doc_id") % 3 =!= 0), "text", "doc_id"), fresh)
      sortedRows(IndexStore.readRel(spark, dd, "", "bucket")) shouldEqual
        sortedRows(spark.read.parquet(fresh))
      // Probe path works against the generational layout.
      val probe = Dedup.matchVsPersistedIndex(docsDf(81 to 85), "text", "doc_id", dir)
      probe.columns.toSeq shouldEqual Seq("doc_id", "matched_id", "est_jaccard")
      // Previous snapshot (flat-era data) is retained until the next
      // compact — readable-until-vacuum. (UNREFERENCED flat-era leftovers
      // only: partitions the manifest still points into are live data and
      // survive every cleanup.)
      exists(s"$dir/_graft_tombstones") shouldBe true
      Dedup.compactSignatureIndex(spark, dir)
      IndexStore.currentGeneration(spark, dir) shouldBe 2
      exists(s"$dir/_graft_tombstones") shouldBe false // flat era reclaimed
      sortedRows(IndexStore.readRel(spark, dataDir(dir), "", "bucket")) shouldEqual
        sortedRows(spark.read.parquet(fresh))
    }

    it("selective ≡ full ≡ fresh, and clean partitions are carried by manifest reference") {
      // 160 docs spread the bands over all 64 buckets; deleting TWO ids
      // leaves most buckets untouched — exactly the small-purge shape
      // selective compaction exists for.
      def build(dir: String): Unit = {
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(docsDf(1 to 160), "text", "doc_id"), dir)
        Dedup.deleteFromPersistedIndex(Seq(7L, 110L).toDF("doc_id"), "doc_id", dir)
      }
      val sel  = tmpDir("sigsel_");  build(sel)
      val full = tmpDir("sigfull_"); build(full)

      Dedup.compactSignatureIndex(spark, sel, selective = true)
      Dedup.compactSignatureIndex(spark, full, selective = false)

      val freshDir = tmpDir("sigfresh_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(
          docsDf(1 to 160).where(!col("doc_id").isin(7L, 110L)), "text", "doc_id"), freshDir)
      val selRows = sortedRows(IndexStore.readRel(spark, dataDir(sel), "", "bucket"))
      selRows shouldEqual sortedRows(IndexStore.readRel(spark, dataDir(full), "", "bucket"))
      selRows shouldEqual sortedRows(spark.read.parquet(freshDir))
      // Clean partitions carried as MANIFEST REFERENCES into donor
      // locations (one line each, zero bytes moved on any filesystem) —
      // not physically present in the new generation…
      val genName  = new java.io.File(dataDir(sel)).getName
      val manifest = IndexStore.readManifest(spark, dataDir(sel)).get
      val carried  = manifest.filterNot(_.dir.startsWith(genName + "/"))
      carried should not be empty
      carried.foreach(e => exists(s"${dataDir(sel)}/${e.dir.split('/').last}") shouldBe false)
      // …while the dirty partitions were rewritten physically with their
      // fresh base files recorded.
      val rewritten = manifest.filter(_.dir.startsWith(genName + "/"))
      rewritten should not be empty
      rewritten.foreach(e => e.files should not be empty)
      // The full compact wrote everything physically (its manifest
      // references nothing outside itself).
      val fullGen = new java.io.File(dataDir(full)).getName
      IndexStore.readManifest(spark, dataDir(full)).get
        .filterNot(_.dir.startsWith(fullGen + "/")) shouldBe empty
    }
  }

  describe("generation swap under concurrency and crashes") {
    it("a killed compaction leaves probes untouched; the next compact repairs and lands") {
      val dir = tmpDir("sigcrash_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 30), "text", "doc_id"), dir)
      val before = sortedRows(
        Dedup.matchVsPersistedIndex(docsDf(1 to 5), "text", "doc_id", dir))
      // Simulate a compact killed mid-populate: a partial staged
      // generation exists, the pointer was never flipped.
      val staged = new org.apache.hadoop.fs.Path(dir, "_gen-00001")
      fs.mkdirs(new org.apache.hadoop.fs.Path(staged, "bucket=0"))
      sortedRows(Dedup.matchVsPersistedIndex(docsDf(1 to 5), "text", "doc_id", dir)) shouldEqual before

      Dedup.compactSignatureIndex(spark, dir) // discards the orphan, rewrites, flips

      IndexStore.currentGeneration(spark, dir) shouldBe 1
      sortedRows(Dedup.matchVsPersistedIndex(docsDf(1 to 5), "text", "doc_id", dir)) shouldEqual before
    }

    it("probes racing delete+compact never error and always see a masked-or-purged (identical) result") {
      val dir = tmpDir("sigrace_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 120), "text", "doc_id"), dir)
      Dedup.deleteFromPersistedIndex(Seq(9L, 27L).toDF("doc_id"), "doc_id", dir)
      // Tombstone-masked result — compaction must never change it, and a
      // probe overlapping the swap must see exactly it at every instant.
      val expected = sortedRows(
        Dedup.matchVsPersistedIndex(docsDf(121 to 126), "text", "doc_id", dir))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stop     = new java.util.concurrent.atomic.AtomicBoolean(false)
      val prober = new Thread(() =>
        try
          while (!stop.get()) {
            val got = sortedRows(
              Dedup.matchVsPersistedIndex(docsDf(121 to 126), "text", "doc_id", dir))
            if (got != expected)
              throw new AssertionError(s"probe saw a mixed state: ${got.size} vs ${expected.size} rows")
          }
        catch { case t: Throwable => failures.add(t) })
      prober.start()
      try
        Dedup.compactSignatureIndex(spark, dir) // flat → gen-1 (flat era retained)
      finally {
        stop.set(true)
        prober.join(60000)
      }
      failures.asScala.toList shouldBe empty
      // A second compact reclaims the flat era (keepGens = 1: in-flight
      // readers get one compact cycle of grace — a reader slower than
      // that sizes keepGens up, the VersionedTable vacuum contract).
      Dedup.compactSignatureIndex(spark, dir)
      exists(s"$dir/_graft_tombstones") shouldBe false
      sortedRows(Dedup.matchVsPersistedIndex(docsDf(121 to 126), "text", "doc_id", dir)) shouldEqual expected
    }
  }

  describe("IndexStore.inParallel") {
    it("runs every thunk, throws the first failure and attaches the others") {
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val e = the[IllegalStateException] thrownBy IndexStore.inParallel[Int](
        () => { ran.incrementAndGet(); throw new IllegalStateException("left") },
        () => { ran.incrementAndGet(); 1 },
        () => { ran.incrementAndGet(); throw new IllegalStateException("right") }
      )
      ran.get shouldBe 3
      (e +: e.getSuppressed.toSeq).map(_.getMessage).sorted shouldBe Seq("left", "right")
    }
  }

  describe("writer lease") {
    it("is mutually exclusive, re-entrant, and two interleaved appenders both land") {
      val dir = tmpDir("lease_")
      TextAnalysis.persistBm25Index(
        TextAnalysis.buildBm25Index(docsDf(1 to 20), "text", "doc_id"), dir)
      val errs    = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def appender(ids: Range) = new Thread(() =>
        try {
          barrier.await()
          TextAnalysis.appendToBm25Index(docsDf(ids), "text", "doc_id", dir)
        } catch { case t: Throwable => errs.add(t) })
      val a = appender(21 to 40)
      val b = appender(41 to 60)
      a.start(); b.start(); a.join(120000); b.join(120000)
      errs.asScala.toList shouldBe empty
      // Both batches survived — no silent loss to interleaved committers.
      spark.read.parquet(s"${dataDir(dir)}/docs").count() shouldBe 60L
      exists(s"$dir/${IndexStore.LockName}") shouldBe false // released
      // Re-entrancy: a compact (lease holder) that appends tombstone-free
      // relations internally must not self-deadlock.
      IndexStore.withWriterLease(spark, dir) {
        IndexStore.withWriterLease(spark, dir)(42)
      } shouldBe 42
    }

    it("a blocked writer fails loudly with the holder's identity; a stale lease is broken") {
      val dir = tmpDir("leaseblock_")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      IndexStore.withWriterLease(spark, dir) {
        val e = intercept[IllegalStateException] {
          val t = new java.util.concurrent.atomic.AtomicReference[Throwable]()
          val th = new Thread(() =>
            try IndexStore.withWriterLease(spark, dir, waitMs = 200)(())
            catch { case x: Throwable => t.set(x) })
          th.start(); th.join(30000)
          if (t.get() != null) throw t.get()
        }
        e.getMessage should include("writer lease")
        e.getMessage should include("pid=")
      }
      // Stale lease: plant a lock with an ancient timestamp — the next
      // writer breaks it and proceeds.
      val lock = new org.apache.hadoop.fs.Path(dir, IndexStore.LockName)
      val out  = fs.create(lock, false)
      out.write("pid=0 thread=dead ts=1000\n".getBytes("UTF-8")); out.close()
      IndexStore.withWriterLease(spark, dir, waitMs = 5000)("took over") shouldBe "took over"
    }

    it("heartbeat renewal keeps a LIVE slow writer's lease from being stolen past staleMs") {
      val dir = tmpDir("leasehb_")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val rivalErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      // Holder runs 4× the stale window but renews every 100 ms — a rival
      // arriving mid-run must see a FRESH lease (never break it) and time
      // out loudly instead of acquiring.
      IndexStore.withWriterLease(spark, dir, staleMs = 400, heartbeatMs = 100) {
        Thread.sleep(700) // several renewals past the original stamp
        val th = new Thread(() =>
          try IndexStore.withWriterLease(spark, dir, waitMs = 700, staleMs = 400)(())
          catch { case x: Throwable => rivalErr.set(x) })
        th.start(); th.join(30000)
        Thread.sleep(200) // our lease survived the rival's whole attempt
      }
      rivalErr.get() should not be null
      rivalErr.get().getMessage should include("writer lease")
      exists(s"$dir/${IndexStore.LockName}") shouldBe false // released cleanly
    }

    it("a writer stalled past staleMs resumes and FAILS its install after a rival acquired (fencing)") {
      val dir = tmpDir("leasefence_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 20), "text", "doc_id"), dir)
      val rowsBefore = sortedRows(spark.read.parquet(dataDir(dir)))
      // Writer A: heartbeats DISABLED (the suspended-VM / giant-GC-pause
      // stand-in), tiny stale window. It stalls mid-mutation; rival B
      // breaks the stale lock, appends (acquiring + releasing its own
      // lease), and A then attempts a generation install.
      val rival = new Thread(() => {
        Thread.sleep(600) // past A's staleMs
        // Same stale policy as A: sees A's un-renewed lock as abandoned,
        // breaks it, appends under its OWN lease, releases.
        IndexStore.withWriterLease(spark, dir, waitMs = 60000, staleMs = 400) {
          Dedup.persistSignatureIndex(
            Dedup.buildSignatureIndex(docsDf(21 to 30), "text", "doc_id"), dir, append = true)
        }
      })
      val e = intercept[IllegalStateException] {
        IndexStore.withWriterLease(spark, dir, staleMs = 400, heartbeatMs = 0) {
          rival.start()
          Thread.sleep(1200) // stalled: lease goes stale, rival takes + frees it
          // Re-entrant compact under A's (stolen) lease: populate runs, but
          // the install fence must refuse to flip the pointer.
          Dedup.compactSignatureIndex(spark, dir)
        }
      }
      rival.join(120000)
      e.getMessage should include("lease")
      e.getMessage should include("NOT installed")
      // No double-install: the index still serves a CONSISTENT state
      // containing every pre-stall row plus the rival's append — A's
      // staged generation was discarded, not flipped in.
      IndexStore.currentGeneration(spark, dir) shouldBe 0 // A's flip never happened
      val after = sortedRows(spark.read.parquet(dataDir(dir)))
      after.size should be > rowsBefore.size // rival's batch landed
      // A's release must NOT have deleted the lock out from under a rival
      // still holding it; here the rival already released, so it's gone.
      exists(s"$dir/${IndexStore.LockName}") shouldBe false
    }

    it("heartbeat renewal is CAS: a holder whose lease was stolen never re-stamps over the rival's") {
      // The heartbeats-ENABLED stolen-lease interleaving: a holder stalls
      // past staleMs (its heartbeat thread paused with it), a rival breaks
      // the stale lock and acquires, and the holder's heartbeats RESUME.
      // A blind re-stamp would put the holder's token back on disk — its
      // install fence would then pass and the release path would delete
      // the rival's live lock (the double-install row-loss case). CAS
      // renewal must instead leave the rival's token untouched, stop
      // renewing, and let the fence + release fail safe. The steal is
      // simulated by replacing the lock file directly (the observable
      // state is identical to a real break + re-acquire).
      val dir = tmpDir("leasecas_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 20), "text", "doc_id"), dir)
      val lock = new org.apache.hadoop.fs.Path(dir, IndexStore.LockName)
      val rivalStamp = s"pid=99999 thread=rival token=${java.util.UUID.randomUUID()} ts=${System.currentTimeMillis()}\n"
      val e = intercept[IllegalStateException] {
        IndexStore.withWriterLease(spark, dir, staleMs = 600, heartbeatMs = 100) {
          // Steal the lease mid-hold (atomic replace, like a real rival).
          val p = java.nio.file.Paths.get(new java.net.URI(fs.makeQualified(lock).toUri.toString).getPath)
          val tmp = p.resolveSibling(p.getFileName.toString + ".rival")
          java.nio.file.Files.write(tmp, rivalStamp.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Thread.sleep(450) // several heartbeat periods fire after the steal
          // The rival's stamp must still be on disk — no CAS-failed renewal
          // may have clobbered it back to ours.
          val onDisk = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          onDisk shouldBe rivalStamp
          // And an install under the stolen lease must fence-abort.
          Dedup.compactSignatureIndex(spark, dir)
        }
      }
      e.getMessage should include("NOT installed")
      // The release path must not have deleted the rival's live lock.
      val onDisk = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(fs.makeQualified(lock).toUri.toString).getPath)), "UTF-8")
      onDisk shouldBe rivalStamp
    }
  }

  describe("jaccard-index compaction") {
    it("rewrites both relations minus tombstones in ONE generation, preserving the frozen dictionary") {
      val dir  = tmpDir("jaccmp_")
      val sets = docsDf(1 to 40).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      Dedup.persistJaccardIndex(sets, "bg", "doc_id", dir, thresholdMilli = 600)
      val dictBefore = sortedRows(IndexStore.readArtifact(spark, s"$dir/_graft_jidx_dict").get)
      Dedup.deleteFromPersistedIndex(
        (1 to 40).filter(_ % 3 == 0).map(_.toLong).toDF("doc_id"), "doc_id", dir)

      Dedup.compactJaccardIndex(spark, dir)

      val dd = dataDir(dir)
      exists(s"$dd/_graft_tombstones") shouldBe false
      sortedRows(IndexStore.readArtifact(spark, s"$dd/_graft_jidx_dict").get) shouldEqual dictBefore
      spark.read.parquet(s"$dd/postings").where(col("doc_id") % 3 === 0).count() shouldBe 0L
      spark.read.parquet(s"$dd/fullsets").where(col("doc_id") % 3 === 0).count() shouldBe 0L
    }
  }

  describe("jaccard dictionary refresh on compact") {
    // Fixture shaped so the frozen order GENUINELY degrades: r1..r3 are
    // singletons at build (rarest — frozen order puts them in every
    // prefix that sees them), then every appended doc carries all three,
    // so their posting lists grow with the append while m0..m7 — build
    // mid-frequency tokens — stay comparatively rarer in the fresh
    // counts. A refresh must flip that order and evict the risers.
    def buildSets: DataFrame =
      (1 to 40).map { i =>
        val ms = (0 to 2).map(j => s"m${(i + j) % 8}")
        val rs = if (i == 40) Seq("r1", "r2", "r3") else Seq.empty
        (i.toLong, Seq("c1", "c2", "c3", "c4") ++ ms ++ Seq(s"u$i") ++ rs)
      }.toDF("doc_id", "bg")
    def appendSets: DataFrame =
      (41 to 140).map { i =>
        val ms = (0 to 4).map(j => s"m${(i + j) % 8}")
        (i.toLong, Seq("c1", "c2", "c3", "c4") ++ ms ++ Seq("r1", "r2", "r3"))
      }.toDF("doc_id", "bg")
    def riserPostings(d: String): Long =
      spark.read.parquet(s"${dataDir(d)}/postings")
        .where(col("tok").isin("r1", "r2", "r3")).count()

    it("Auto fires on drifted appends, restores prefix selectivity, and leaves the result set unchanged") {
      val dir = tmpDir("jacref_")
      Dedup.persistJaccardIndex(buildSets, "bg", "doc_id", dir, thresholdMilli = 600)
      Dedup.jaccardDictDrift(spark, dir) shouldBe 0.0 +- 1e-9 // fresh build: order exact
      Dedup.persistJaccardIndex(appendSets, "bg", "doc_id", dir, thresholdMilli = 600, append = true)
      val drift = Dedup.jaccardDictDrift(spark, dir)
      drift should be > 0.2 // the Auto default threshold
      // Probe BEFORE refresh (frozen order) — content baseline.
      val probe = (200 to 203).map { i =>
        (i.toLong, Seq("c1", "c2", "c3", "c4", "m0", "m1", "m2", "m3", "m4", "r1", "r2", "r3"))
      }.toDF("doc_id", "bg")
      val before      = sortedRows(Dedup.matchVsJaccardIndex(probe, "bg", "doc_id", dir))
      val riserBefore = riserPostings(dir)
      riserBefore should be >= 300L // frozen order kept risers in every appended prefix

      Dedup.compactJaccardIndex(spark, dir, refresh = Dedup.RefreshMode.Auto())

      // Fired: dictionary replaced, risers evicted from the appended
      // prefixes (only build doc 40 keeps r1: with u40 + 3 m's it has
      // just four fresh-rarer tokens for a 5-slot prefix — pigeonhole,
      // not drift). 303 riser posting rows collapse to 1.
      riserPostings(dir) shouldBe 1L
      Dedup.jaccardDictDrift(spark, dir) shouldBe 0.0 +- 1e-9
      IndexStore.readArtifact(spark, s"${dataDir(dir)}/_graft_jidx_dict").get
        .where(col("tok") === "r1").head.getLong(1) shouldBe 101L
      // Selectivity is a cost lever only — the probe's result set is
      // byte-identical under either order.
      sortedRows(Dedup.matchVsJaccardIndex(probe, "bg", "doc_id", dir)) shouldEqual before
      before should not be empty
    }

    it("Auto holds on same-distribution growth (ranks stable, dictionary carried)") {
      val dir = tmpDir("jacrefhold_")
      Dedup.persistJaccardIndex(buildSets, "bg", "doc_id", dir, thresholdMilli = 600)
      // Append the SAME shape (no riser skew): frequencies scale, order holds.
      val sameShape = (141 to 180).map { i =>
        val ms = (0 to 2).map(j => s"m${(i + j) % 8}")
        (i.toLong, Seq("c1", "c2", "c3", "c4") ++ ms ++ Seq(s"u$i"))
      }.toDF("doc_id", "bg")
      Dedup.persistJaccardIndex(sameShape, "bg", "doc_id", dir, thresholdMilli = 600, append = true)
      Dedup.jaccardDictDrift(spark, dir) should be < 0.2
      val dictBefore = sortedRows(IndexStore.readArtifact(spark, s"$dir/_graft_jidx_dict").get)
      Dedup.compactJaccardIndex(spark, dir, refresh = Dedup.RefreshMode.Auto())
      // Held: the frozen dictionary rode the generation swap untouched.
      sortedRows(IndexStore.readArtifact(spark, s"${dataDir(dir)}/_graft_jidx_dict").get) shouldEqual dictBefore
    }

    it("hot-set refresh: post-build boilerplate excises on a fired compact, artifact monotone") {
      // The frozen hot set is the fourth frozen artifact and decays like
      // the dictionary: boilerplate arriving AFTER the build ("nb" in
      // every appended doc) is invisible to it. The drift meter must see
      // the mass, the Auto compact must fire, and the rewrite must
      // excise the newly-hot token from postings AND fullsets while
      // installing the UPDATED (old ∪ new) hot set atomically.
      def uset(i: Int, extra: Seq[String]) =
        (i.toLong, Seq(s"u${i}a", s"u${i}b", s"u${i}c", s"u${i}d") ++ extra)
      // Build: 20 docs; "hb" in 5 of them (> cutoff ⌊0.2·20⌋ = 4 → hot at build).
      val build = (1 to 20).map(i => uset(i, if (i <= 5) Seq("hb") else Nil)).toDF("doc_id", "bg")
      val dir = tmpDir("jac_hotref_")
      Dedup.persistJaccardIndex(build, "bg", "doc_id", dir, thresholdMilli = 600,
        exciseBoilerplateFrac = Some(0.2))
      sortedRows(IndexStore.readArtifact(spark, s"$dir/_graft_jidx_hot").get) shouldEqual Seq("[hb]")
      Dedup.jaccardHotDrift(spark, dir) shouldBe 0.0 // freshly cut — nothing newly hot
      // Append: 40 docs ALL carrying "nb" — frozen-set excision cannot
      // see it, so it lands in postings and fullsets.
      val appended = (21 to 60).map(i => uset(i, Seq("nb"))).toDF("doc_id", "bg")
      Dedup.persistJaccardIndex(appended, "bg", "doc_id", dir, thresholdMilli = 600, append = true)
      IndexStore.readRel(spark, dataDir(dir), "fullsets", "dbucket")
        .where(col("tok") === "nb").count() shouldBe 40L
      val drift = Dedup.jaccardHotDrift(spark, dir)
      drift should be > 0.1 // 40 of ~280 live element occurrences
      // Auto fires on HOT drift (order drift alone is below threshold here).
      Dedup.compactJaccardIndex(spark, dir, refresh = Dedup.RefreshMode.Auto(0.05))
      val dd = dataDir(dir)
      // Updated artifact is MONOTONE: build-era hb survives, nb joins it.
      sortedRows(IndexStore.readArtifact(spark, s"$dd/_graft_jidx_hot").get) shouldEqual Seq("[hb]", "[nb]")
      // The newly-hot token left BOTH relations and the dictionary.
      IndexStore.readRel(spark, dd, "fullsets", "dbucket")
        .where(col("tok") === "nb").count() shouldBe 0L
      IndexStore.readRel(spark, dd, "postings", "bucket")
        .where(col("tok") === "nb").count() shouldBe 0L
      IndexStore.readArtifact(spark, s"$dd/_graft_jidx_dict").get
        .where(col("tok") === "nb").count() shouldBe 0L
      Dedup.jaccardHotDrift(spark, dir) shouldBe 0.0 // cured
      // Serving: a twin probe matches on real content (4/4 shared toks →
      // jaccard 1000 in the excised universe); a boilerplate-only probe
      // matches nothing.
      val probes = Seq(
        (100L, Seq("u7a", "u7b", "u7c", "u7d", "nb")),
        (101L, Seq("x1", "x2", "x3", "x4", "nb"))).toDF("doc_id", "bg")
      val m = Dedup.matchVsJaccardIndex(probes, "bg", "doc_id", dir)
        .select("doc_id", "matched_id", "jaccard_milli").collect().map(_.toString).sorted
      m shouldEqual Seq("[100,7,1000]")
      // Control: a non-excised index meters 0 and Auto cannot fire on hotness.
      val plain = tmpDir("jac_hotref_plain_")
      Dedup.persistJaccardIndex(build, "bg", "doc_id", plain, thresholdMilli = 600)
      Dedup.jaccardHotDrift(spark, plain) shouldBe 0.0
    }
  }

  describe("bm25-index compaction") {
    it("recounts doc_freq exactly (selective and full agree with a fresh build)") {
      def build(dir: String): Unit = {
        TextAnalysis.persistBm25Index(
          TextAnalysis.buildBm25Index(docsDf(1 to 30), "text", "doc_id"), dir)
        TextAnalysis.appendToBm25Index(docsDf(31 to 60), "text", "doc_id", dir)
        Dedup.deleteFromPersistedIndex(
          (1 to 60).filter(_ % 3 == 0).map(_.toLong).toDF("doc_id"), "doc_id", dir)
      }
      val sel  = tmpDir("bmsel_");  build(sel)
      val full = tmpDir("bmfull_"); build(full)

      TextAnalysis.compactBm25Index(spark, sel, selective = true)
      TextAnalysis.compactBm25Index(spark, full, selective = false)

      val freshIdx = TextAnalysis.buildBm25Index(
        docsDf(1 to 60).where(col("doc_id") % 3 =!= 0), "text", "doc_id")
      val freshTerms = sortedRows(freshIdx.terms.select("term", "doc_freq"))
      Seq(sel, full).foreach { dir =>
        val dd = dataDir(dir)
        exists(s"$dd/_graft_tombstones") shouldBe false
        IndexStore.readRel(spark, dd, "postings", "bucket")
          .where(col("doc_id") % 3 === 0).count() shouldBe 0L
        IndexStore.readRelFlat(spark, dd, "docs").where(col("doc_id") % 3 === 0).count() shouldBe 0L
        sortedRows(IndexStore.readRel(spark, dd, "terms", "bucket")
          .select("term", "doc_freq")) shouldEqual freshTerms
      }
    }
  }

  describe("bm25 selective carry (disjoint vocabularies)") {
    it("rewrites only the purged docs' term buckets and manifest-carries the rest") {
      // Natural text shares vocabulary, so a multi-doc purge dirties every
      // term bucket and the compactor (correctly) falls back to the full
      // rewrite — to pin the CARRY path, give each doc a private
      // vocabulary: purging one doc can dirty at most its own 3 terms'
      // buckets.
      val docs = (1 to 40).map(i => (i.toLong, s"w${i}a w${i}b w${i}c")).toDF("doc_id", "text")
      val dir = tmpDir("bmcarry_")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), dir)
      Dedup.deleteFromPersistedIndex(Seq(7L).toDF("doc_id"), "doc_id", dir)

      TextAnalysis.compactBm25Index(spark, dir, selective = true)

      val dd = dataDir(dir)
      val genName = new java.io.File(dd).getName
      val m = IndexStore.readManifest(spark, dd).get
      // Most postings/terms buckets carried by reference into the flat-era
      // dirs; only doc 7's own buckets rewritten physically.
      m.filter(e => e.rel == "postings" && !e.dir.startsWith(genName + "/")) should not be empty
      m.filter(e => e.rel == "terms"    && !e.dir.startsWith(genName + "/")) should not be empty
      IndexStore.readRel(spark, dd, "postings", "bucket")
        .where(col("doc_id") === 7L).count() shouldBe 0L
      val freshIdx = TextAnalysis.buildBm25Index(docs.where(col("doc_id") =!= 7L), "text", "doc_id")
      sortedRows(IndexStore.readRel(spark, dd, "terms", "bucket")
        .select("term", "doc_freq")) shouldEqual
        sortedRows(freshIdx.terms.select("term", "doc_freq"))
    }
  }

  describe("ivf-index compaction") {
    it("purges tombstoned vectors and carries the frozen centroids (selective ≡ full)") {
      def emb(ids: Range): DataFrame = ids.map { i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
      }.toDF("vec_id", "embedding")
      val cents = Array.tabulate(4)(c => Array.tabulate(8)(d => (c + d % 3).toDouble))
      def build(dir: String): Unit = {
        Similarity.persistIvfIndex(emb(1 to 40), "vec_id", "embedding", cents, dir)
        Similarity.appendToIvfIndex(emb(41 to 80), "vec_id", "embedding", dir)
        Dedup.deleteFromPersistedIndex(
          (1 to 80).filter(_ % 3 == 0).map(_.toLong).toDF("vec_id"), "vec_id", dir)
      }
      val sel  = tmpDir("ivfsel_");  build(sel)
      val full = tmpDir("ivffull_"); build(full)
      val centsBefore = sortedRows(IndexStore.readArtifact(spark, s"$sel/_graft_centroids").get)

      Similarity.compactIvfIndex(spark, sel, selective = true)
      Similarity.compactIvfIndex(spark, full, selective = false)

      val selRows = sortedRows(genRows(dataDir(sel)))
      selRows shouldEqual sortedRows(genRows(dataDir(full)))
      sortedRows(IndexStore.readArtifact(spark, s"${dataDir(sel)}/_graft_centroids").get) shouldEqual centsBefore
      val left = genRows(dataDir(sel))
      left.where(col("vec_id") % 3 === 0).count() shouldBe 0L
      left.count() shouldBe (1 to 80).count(_ % 3 != 0).toLong
    }

    it("retrain=true re-trains the quantizer on survivors and probes still rank correctly") {
      // Clustered corpus: appends land far from the original centroids, so
      // a retrain must move them.
      def emb(ids: Range, shift: Double): DataFrame = ids.map { i =>
        (i.toLong, Array.tabulate(8)(d => (shift + ((i + d) % 5) * 0.1).toFloat))
      }.toDF("vec_id", "embedding")
      val dir   = tmpDir("ivfretrain_")
      val base  = emb(1 to 40, 0.0)
      val drift = emb(41 to 80, 10.0)
      val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", nlist = 4)
      Similarity.persistIvfIndex(base, "vec_id", "embedding", cents, dir)
      Similarity.appendToIvfIndex(drift, "vec_id", "embedding", dir)
      Dedup.deleteFromPersistedIndex(Seq(5L, 50L).toDF("vec_id"), "vec_id", dir)

      Similarity.compactIvfIndex(spark, dir, retrain = Similarity.RetrainMode.Always)

      val dd = dataDir(dir)
      exists(s"$dd/_graft_tombstones") shouldBe false
      val newCents = sortedRows(IndexStore.readArtifact(spark, s"$dd/_graft_centroids").get)
      newCents should not equal sortedRows(IndexStore.readArtifact(spark, s"$dir/_graft_centroids").get)
      genRows(dd).count() shouldBe 78L
      // Full-probe (nprobe = nlist) search is exhaustive, so the ranking
      // must equal brute-force cosine top-k over the survivors whatever
      // the centroids — the invariant that makes retraining safe.
      // The retrain re-sized the quantizer to the survivors (78 vectors,
      // old nlist 4 -> sqrt-scaled, bounded 4x growth).
      Similarity.ivfIndexNlist(spark, dir) shouldBe
        Similarity.retrainNlistFor(78L, 4)
      val queries = emb(991 to 993, 5.0)
      val got = Similarity.ivfTopKFromPersisted(spark, dir, queries, "vec_id", "embedding",
        k = 3, nprobe = Similarity.ivfIndexNlist(spark, dir))
      val corpus = base.union(drift).where(!col("vec_id").isin(5L, 50L))
      val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rnk")
      sortedRows(got) shouldEqual sortedRows(brute)
    }

    it("RetrainMode.Auto retrains exactly when surviving-cell imbalance crosses the threshold") {
      def emb(ids: Range, shift: Double): DataFrame = ids.map { i =>
        (i.toLong, Array.tabulate(8)(d => (shift + ((i + d) % 5) * 0.1).toFloat))
      }.toDF("vec_id", "embedding")
      val base  = emb(1 to 40, 0.0)
      val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", nlist = 4)

      // Balanced appends (same distribution): the trigger must HOLD —
      // frozen quantizer carried byte-stable, tombstones still purged.
      val bal = tmpDir("ivfauto_bal_")
      Similarity.persistIvfIndex(base, "vec_id", "embedding", cents, bal)
      Similarity.appendToIvfIndex(emb(41 to 80, 0.0), "vec_id", "embedding", bal)
      Dedup.deleteFromPersistedIndex(Seq(5L).toDF("vec_id"), "vec_id", bal)
      val centsBefore = sortedRows(IndexStore.readArtifact(spark, s"$bal/_graft_centroids").get)
      Similarity.ivfCellImbalance(spark, bal) should be < 2.0
      Similarity.compactIvfIndex(spark, bal,
        retrain = Similarity.RetrainMode.Auto(maxImbalance = 2.0))
      sortedRows(IndexStore.readArtifact(spark, s"${dataDir(bal)}/_graft_centroids").get) shouldEqual centsBefore
      genRows(dataDir(bal)).count() shouldBe 79L

      // Drifted appends (a coherent far mode crowding into few frozen
      // cells): the trigger must FIRE — new quantizer in the same
      // generation, imbalance restored toward balance, same purge.
      val dr = tmpDir("ivfauto_dr_")
      Similarity.persistIvfIndex(base, "vec_id", "embedding", cents, dr)
      Similarity.appendToIvfIndex(emb(41 to 80, 10.0), "vec_id", "embedding", dr)
      Dedup.deleteFromPersistedIndex(Seq(5L).toDF("vec_id"), "vec_id", dr)
      val imbDrift = Similarity.ivfCellImbalance(spark, dr)
      imbDrift should be > 2.0
      Similarity.compactIvfIndex(spark, dr,
        retrain = Similarity.RetrainMode.Auto(maxImbalance = 2.0))
      sortedRows(IndexStore.readArtifact(spark, s"${dataDir(dr)}/_graft_centroids").get) should not equal centsBefore
      Similarity.ivfCellImbalance(spark, dr) should be < imbDrift
      genRows(dataDir(dr)).count() shouldBe 79L
    }
  }

  describe("CorpusPipeline.compactIndexes") {
    it("throws only after every sibling compaction finished, with every failure attached") {
      import graft.operators.CorpusPipeline
      val good = tmpDir("cmp_good_")
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), good)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(41 to 80), "text", "doc_id"), good, append = true)
      val bare = Seq(tmpDir("cmp_bare_a_"), tmpDir("cmp_bare_b_")) // no index metadata
      val e = the[IllegalArgumentException] thrownBy CorpusPipeline.compactIndexes(spark, good +: bare)
      IndexStore.currentGeneration(spark, good) shouldBe 1
      e.getMessage should include(bare(0))
      e.getSuppressed.map(_.getMessage).toSeq match {
        case Seq(m) => m should include(bare(1))
        case other  => fail(s"expected one suppressed failure, got $other")
      }
    }
  }

  describe("CorpusPipeline.maintainIndexes") {
    it("compacts only the indexes whose policy signals fire; dryRun reports without executing") {
      import graft.operators.CorpusPipeline
      // Healthy: a fresh signature build — nothing to reclaim.
      val clean = tmpDir("mnt_clean_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), clean)
      // Dirty: append segments plus a tombstone mass over the 2% default.
      val dirty = tmpDir("mnt_dirty_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), dirty)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(41 to 80), "text", "doc_id"), dirty, append = true)
      Dedup.deleteFromPersistedIndex(
        (1 to 80).filter(_ % 3 == 0).map(_.toLong).toDF("doc_id"), "doc_id", dirty)
      // Drifted IVF: an appended coherent mode far from the frozen
      // centroids — the retrain signal, not just the compact one.
      def emb(ids: Range, shift: Double): DataFrame = ids.map { i =>
        (i.toLong, Array.tabulate(8)(d => (shift + ((i + d) % 5) * 0.1).toFloat))
      }.toDF("vec_id", "embedding")
      val ivf   = tmpDir("mnt_ivf_")
      val cents = Similarity.ivfCentroids(emb(1 to 40, 0.0), "vec_id", "embedding", nlist = 4)
      Similarity.persistIvfIndex(emb(1 to 40, 0.0), "vec_id", "embedding", cents, ivf)
      Similarity.appendToIvfIndex(emb(41 to 80, 10.0), "vec_id", "embedding", ivf)

      val policy = CorpusPipeline.IndexMaintenancePolicy(ivfMaxImbalance = 2.0)
      def actions(dryRun: Boolean): Map[String, String] =
        CorpusPipeline.maintainIndexes(spark, Seq(clean, dirty, ivf), policy, dryRun = dryRun)
          .collect().map(r => r.getString(0) -> r.getAs[String]("action")).toMap

      val dry = actions(dryRun = true)
      dry(clean) shouldBe "none"
      dry(dirty) shouldBe "compact"
      dry(ivf) shouldBe "compact_retrain"
      IndexStore.currentGeneration(spark, dirty) shouldBe 0 // dryRun executed nothing
      IndexStore.currentGeneration(spark, ivf) shouldBe 0

      val run = actions(dryRun = false)
      run(dirty) shouldBe "compact"
      IndexStore.currentGeneration(spark, clean) shouldBe 0 // healthy: untouched
      IndexStore.currentGeneration(spark, dirty) shouldBe 1
      exists(s"${dataDir(dirty)}/_graft_tombstones") shouldBe false
      IndexStore.currentGeneration(spark, ivf) shouldBe 1
      // compact_retrain really retrained: the quantizer moved.
      sortedRows(IndexStore.readArtifact(spark, s"${dataDir(ivf)}/_graft_centroids").get) should not equal
        sortedRows(IndexStore.readArtifact(spark, s"$ivf/_graft_centroids").get)

      // A sweep straight after finds the compacted indexes healthy.
      val again = actions(dryRun = false)
      again(clean) shouldBe "none"
      again(dirty) shouldBe "none"
    }

    it("minRetentionMs holds a generation readable across rapid compactions count alone would reclaim") {
      import graft.operators.CorpusPipeline
      val dir = tmpDir("mnt_age_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), dir)
      Dedup.deleteFromPersistedIndex(Seq(3L).toDF("doc_id"), "doc_id", dir)
      Dedup.compactSignatureIndex(spark, dir) // → generation 1
      // A long probe resolves generation 1 NOW and reads it much later.
      val probeGen = dataDir(dir)
      probeGen should endWith("_gen-00001")
      val policy = CorpusPipeline.IndexMaintenancePolicy(
        maxTombstoneFraction = 0.001, keepGenerations = 1, minRetentionMs = 3600000L)
      def forgetAndSweep(id: Long): Unit = {
        Dedup.deleteFromPersistedIndex(Seq(id).toDF("doc_id"), "doc_id", dir)
        CorpusPipeline.maintainIndexes(spark, Seq(dir), policy)
      }
      // TWO rapid policy compactions: count-based keepGens = 1 alone would
      // have reclaimed generation 1 on the second — the age floor holds it.
      forgetAndSweep(6L) // → generation 2
      forgetAndSweep(9L) // → generation 3
      IndexStore.currentGeneration(spark, dir) shouldBe 3
      exists(s"$dir/_gen-00001") shouldBe true // probe's generation retained
      // Still complete AS A GENERATION: the probe re-reads through gen 1's
      // own manifest (references into the flat era, which the age-held
      // generation keeps protected).
      IndexStore.readRel(spark, probeGen, "", "bucket")
        .select("doc_id").distinct().count() shouldBe 39L // 40 docs − id 3
      // Vacuum RESPECTS the same floor…
      IndexStore.vacuum(spark, dir, minRetentionMs = 3600000L)
      exists(s"$dir/_gen-00001") shouldBe true
      exists(s"$dir/_gen-00002") shouldBe true
      // …and an aged-out generation reclaims: its retire stamp is the
      // clock, so back-dating it simulates the hour passing. Subtrees the
      // CURRENT manifest still references survive the reclaim (they are
      // live data — deleting them would corrupt serving); everything
      // unreferenced goes.
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_gen-00001/_graft_retired_at")
      val out = fs.create(marker, true)
      out.write("1000\n".getBytes("UTF-8")); out.close()
      val referencedNow: Set[String] =
        (IndexStore.readManifest(spark, s"$dir/_gen-00002").getOrElse(Seq.empty) ++
          IndexStore.readManifest(spark, s"$dir/_gen-00003").getOrElse(Seq.empty)).map(_.dir).toSet
      IndexStore.vacuum(spark, dir, minRetentionMs = 3600000L)
      // gen 1 survives only as referenced subtrees (or not at all).
      if (referencedNow.exists(_.startsWith("_gen-00001/")))
        exists(s"$dir/_gen-00001") shouldBe true
      // its manifest (unreferenced) was pruned either way:
      exists(s"$dir/_gen-00001/${IndexStore.ManifestName}") shouldBe false
      exists(s"$dir/_gen-00002") shouldBe true // still inside the floor
      // The unconditional vacuum keeps every byte the CURRENT generation
      // references and reclaims the rest; serving stays complete.
      IndexStore.vacuum(spark, dir)
      exists(s"$dir/_gen-00003") shouldBe true
      IndexStore.readRel(spark, dataDir(dir), "", "bucket")
        .select("doc_id").distinct().count() shouldBe 37L // ids 3, 6, 9 forgotten
    }

    it("keepGenerations widens the probe retention horizon across rapid compactions") {
      val dir = tmpDir("mnt_keep_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), dir)
      def cycle(id: Long): Unit = {
        Dedup.deleteFromPersistedIndex(Seq(id).toDF("doc_id"), "doc_id", dir)
        Dedup.compactSignatureIndex(spark, dir, keepGens = 2)
      }
      cycle(3L); cycle(6L); cycle(9L) // generations 1, 2, 3
      // A probe that resolved EITHER of the two previous generations
      // mid-flip still reads complete data (default keepGens = 1 would
      // have reclaimed generation 1 by now).
      exists(s"$dir/_gen-00001") shouldBe true
      exists(s"$dir/_gen-00002") shouldBe true
      IndexStore.currentGeneration(spark, dir) shouldBe 3
      IndexStore.readRel(spark, s"$dir/_gen-00001", "", "bucket")
        .select("doc_id").distinct().count() shouldBe 39L // complete as a generation
      // vacuum reclaims history on demand — old generations stop being
      // READABLE (their manifests go), while any subtree the CURRENT
      // manifest references survives as live data.
      IndexStore.vacuum(spark, dir)
      exists(s"$dir/_gen-00001/${IndexStore.ManifestName}") shouldBe false
      exists(s"$dir/_gen-00002/${IndexStore.ManifestName}") shouldBe false
      exists(s"$dir/_gen-00003") shouldBe true
      IndexStore.readRel(spark, dataDir(dir), "", "bucket")
        .select("doc_id").distinct().count() shouldBe 37L
    }

    it("vacuumIndexes reports and reclaims retired history under the policy horizons") {
      import graft.operators.CorpusPipeline
      val dir = tmpDir("mnt_vac_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 40), "text", "doc_id"), dir)
      def cycle(id: Long): Unit = {
        Dedup.deleteFromPersistedIndex(Seq(id).toDF("doc_id"), "doc_id", dir)
        Dedup.compactSignatureIndex(spark, dir, keepGens = 3) // hold history
      }
      cycle(3L); cycle(6L); cycle(9L) // generations 1..3, all retained
      // Age gate: everything is younger than an hour → nothing reclaimable.
      val aged = CorpusPipeline.vacuumIndexes(spark, Seq(dir),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0, minRetentionMs = 3600000L))
        .head
      aged.getString(4) shouldBe "none"
      aged.getLong(3) shouldBe 0L
      // Dry run under a permissive policy: reports reclaimable bytes,
      // deletes NOTHING.
      val dry = CorpusPipeline.vacuumIndexes(spark, Seq(dir),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0), dryRun = true).head
      dry.getString(4) shouldBe "vacuum_dry_run"
      dry.getLong(3) should be > 0L
      exists(s"$dir/_gen-00001") shouldBe true // dry run touched nothing
      // Real run: reclaims (manifest-referenced donor subtrees exempt),
      // serving stays complete.
      val real = CorpusPipeline.vacuumIndexes(spark, Seq(dir),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0)).head
      real.getString(4) shouldBe "vacuum"
      real.getLong(3) shouldBe dry.getLong(3) // dry run priced it exactly
      IndexStore.readRel(spark, dataDir(dir), "", "bucket")
        .select("doc_id").distinct().count() shouldBe 37L
      // Second pass: nothing left to reclaim.
      CorpusPipeline.vacuumIndexes(spark, Seq(dir),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0)).head.getString(4) shouldBe "none"
    }

    it("inspects every family's layout: jaccard two-relation, bm25 unpartitioned docs, gram no-tombstones") {
      import graft.operators.CorpusPipeline
      // Jaccard: tombstone mass fires (relations postings/bucket +
      // fullsets/dbucket both listed without error).
      val jac  = tmpDir("mnt_jac_")
      val sets = docsDf(1 to 40).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      Dedup.persistJaccardIndex(sets, "bg", "doc_id", jac, thresholdMilli = 600)
      Dedup.deleteFromPersistedIndex(
        (1 to 40).filter(_ % 3 == 0).map(_.toLong).toDF("doc_id"), "doc_id", jac)
      // BM25: appends add files to the UNPARTITIONED docs relation — the
      // segment criterion must see them (files minus the recorded
      // build baseline = its segments).
      val bm = tmpDir("mnt_bm_")
      TextAnalysis.persistBm25Index(
        TextAnalysis.buildBm25Index(docsDf(1 to 30), "text", "doc_id"), bm)
      (1 to 5).foreach(i => TextAnalysis.appendToBm25Index(
        docsDf(30 + i * 10 to 39 + i * 10), "text", "doc_id", bm))
      // Gram: never has tombstones; single segment per bucket → healthy.
      val gram = tmpDir("mnt_gram_")
      Dedup.persistGramIndex(docsDf(1 to 30), "text", "doc_id", gram, k = 20)
      // IVF-PQ: detects as plain "ivf" (the _graft_centroids artifact is
      // the family marker; _graft_pq rides along) and a tombstone-fired
      // compact purges it with the codes CARRIED.
      def emb(ids: Range): DataFrame = ids.map { i =>
        (i.toLong, Array.tabulate(8)(d => (((i + d) % 5) * 0.1).toFloat))
      }.toDF("vec_id", "embedding")
      val ivfpq = tmpDir("mnt_ivfpq_")
      Similarity.persistIvfPqIndex(emb(1 to 40), "vec_id", "embedding",
        Similarity.ivfCentroids(emb(1 to 40), "vec_id", "embedding", nlist = 2),
        Similarity.pqTrain(emb(1 to 40), "vec_id", "embedding", m = 4, k = 8), ivfpq)
      Dedup.deleteFromPersistedIndex(
        (1 to 40).filter(_ % 3 == 0).map(_.toLong).toDF("vec_id"), "vec_id", ivfpq)

      val rows = CorpusPipeline.maintainIndexes(spark, Seq(jac, bm, gram, ivfpq))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getAs[String]("action"))).toMap
      rows(jac) shouldBe (("jaccard", "compact"))
      rows(bm) shouldBe (("bm25", "compact"))
      rows(gram) shouldBe (("gram", "none"))
      rows(ivfpq)._1 shouldBe "ivf"
      rows(ivfpq)._2 should (equal("compact") or equal("compact_retrain"))
      IndexStore.currentGeneration(spark, jac) shouldBe 1
      IndexStore.currentGeneration(spark, bm) shouldBe 1
      IndexStore.currentGeneration(spark, gram) shouldBe 0
      IndexStore.currentGeneration(spark, ivfpq) shouldBe 1
      exists(s"${dataDir(jac)}/_graft_tombstones") shouldBe false
      // The policy compact carried the PQ columns and the codebook artifact.
      genRows(dataDir(ivfpq)).columns should contain allOf ("pq_code", "pq_norm")
      noException should be thrownBy
        Similarity.loadPqModel(spark, s"${dataDir(ivfpq)}/_graft_pq")
    }

    it("a parallel-written fresh bm25 docs relation is ONE segment, not file-count segments") {
      import graft.operators.CorpusPipeline
      // Force a many-file docs write — the shape a production build's
      // shuffle parallelism produces. Without the recorded baseline the
      // sweep would read file count as segment count, fire 'compact'
      // forever, and never converge to 'none'.
      val bm   = tmpDir("mnt_bmpar_")
      val wide = TextAnalysis.buildBm25Index(docsDf(1 to 60), "text", "doc_id")
      TextAnalysis.persistBm25Index(
        wide.copy(docs = wide.docs.repartition(16)), bm)
      parquetFilesUnder(s"${dataDir(bm)}/docs").size should be > 4 // premise: many files
      def sweep() = CorpusPipeline.maintainIndexes(spark, Seq(bm))
        .collect().map(r => r.getString(0) -> (r.getInt(2), r.getAs[String]("action"))).toMap
      val (segs, action) = sweep()(bm)
      segs shouldBe 1
      action shouldBe "none"
      // Appends count from the baseline: 5 one-file appends → 6 segments.
      (1 to 5).foreach(i => TextAnalysis.appendToBm25Index(
        docsDf(60 + i * 10 to 69 + i * 10), "text", "doc_id", bm))
      val (segs2, action2) = sweep()(bm)
      segs2 shouldBe 6
      action2 shouldBe "compact"
      // The fired compact re-records the baseline; the next sweep converges.
      val (segs3, action3) = sweep()(bm)
      segs3 shouldBe 1
      action3 shouldBe "none"
    }

    it("one massive append fires the byte-mass trigger that segment count is blind to") {
      import graft.operators.CorpusPipeline
      // The failure shape: a corpus-dwarfing backfill lands as ONE
      // append segment per partition — 2 files/partition sits under the
      // 4-segment count threshold forever, yet every probe pays the
      // unfolded mass and a drifted dictionary would never reach its
      // refresh. The byte trigger reads appended mass from the SAME
      // listing and fires.
      val dir = tmpDir("mnt_bytes_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 20), "text", "doc_id"), dir)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(21 to 2020), "text", "doc_id"), dir, append = true)
      def sweep(maxFrac: Double) = CorpusPipeline.maintainIndexes(spark, Seq(dir),
          CorpusPipeline.IndexMaintenancePolicy(maxAppendByteFraction = maxFrac))
        .select("max_segments", "append_byte_frac", "action").head
      val audit = sweep(0.5)
      audit.getInt(0) should be <= 4            // count trigger holds…
      audit.getDouble(1) should be > 0.5        // …but ~3/4 of the bytes are appended mass
      audit.getString(2) shouldBe "compact"     // byte trigger fires
      IndexStore.currentGeneration(spark, dir) shouldBe 1
      // Post-compact the appended mass is folded: the signal reads ~0
      // and the sweep converges (no rewrite churn from the new trigger).
      val after = sweep(0.5)
      after.getDouble(1) shouldBe 0.0
      after.getString(2) shouldBe "none"
      // A disabled-in-practice threshold (1.0) would not have fired on
      // the same pre-compact layout — the decision is the policy's, not
      // hardwired. (Fraction can never exceed 1.0.)
      val relaxed = tmpDir("mnt_bytes2_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 20), "text", "doc_id"), relaxed)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(21 to 2020), "text", "doc_id"), relaxed, append = true)
      CorpusPipeline.maintainIndexes(spark, Seq(relaxed),
          CorpusPipeline.IndexMaintenancePolicy(maxAppendByteFraction = 1.0))
        .select("action").head.getString(0) shouldBe "none"
      IndexStore.currentGeneration(spark, relaxed) shouldBe 0
    }

    it("donor fan-in past maxDonorGenerations escalates to a FULL consolidating rewrite") {
      import graft.operators.CorpusPipeline
      // Read-amplification debt: every selective compact leaves clean
      // partitions referenced in their donor homes, and readRel plans one
      // union branch per donor — a long lifecycle of small purges grows
      // the branch count without bound unless consolidation triggers.
      val dir = tmpDir("mnt_donor_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 400), "text", "doc_id"), dir)
      (1 to 8).foreach { i =>
        Dedup.deleteFromPersistedIndex(Seq((i * 13).toLong).toDF("doc_id"), "doc_id", dir)
        Dedup.compactSignatureIndex(spark, dir) // selective: carries clean parts
      }
      def donorAudit(policy: CorpusPipeline.IndexMaintenancePolicy, dryRun: Boolean) =
        CorpusPipeline.maintainIndexes(spark, Seq(dir), policy, dryRun = dryRun)
          .select("donor_gens", "action").head
      val policy = CorpusPipeline.IndexMaintenancePolicy(maxDonorGenerations = 3)
      val before = donorAudit(policy, dryRun = true)
      before.getInt(0) should be > 3          // fan-in accumulated across cycles
      before.getString(1) shouldBe "compact_full"
      // A permissive bound would not have fired — the decision is the
      // policy's, not hardwired.
      donorAudit(CorpusPipeline.IndexMaintenancePolicy(maxDonorGenerations = 64),
        dryRun = true).getString(1) shouldBe "none"
      val genBefore = IndexStore.currentGeneration(spark, dir)
      donorAudit(policy, dryRun = false).getString(1) shouldBe "compact_full"
      IndexStore.currentGeneration(spark, dir) shouldBe genBefore + 1
      // Consolidated: the new manifest references no donor — every
      // partition lives in its own generation, one scan branch again.
      val after = donorAudit(policy, dryRun = true)
      after.getInt(0) shouldBe 0
      after.getString(1) shouldBe "none"
      // Serving ≡ fresh build on the survivors.
      val survivors = (1 to 8).map(_ * 13L)
      val fresh = tmpDir("mnt_donor_fresh_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(
          docsDf(1 to 400).where(!col("doc_id").isin(survivors: _*)), "text", "doc_id"), fresh)
      sortedRows(Dedup.matchVsPersistedIndex(docsDf(401 to 406), "text", "doc_id", dir)) shouldEqual
        sortedRows(Dedup.matchVsPersistedIndex(docsDf(401 to 406), "text", "doc_id", fresh))
    }

    it("multi-shard bm25 docs appends count one segment per BATCH, not per file") {
      import graft.operators.CorpusPipeline
      // The docs relation appends with natural write parallelism (no
      // coalesce(1) serializing a billion-row batch through one task);
      // the sweep's segment arithmetic counts WRITE GROUPS from file
      // names, so a many-file batch is still exactly one segment.
      val bm  = tmpDir("mnt_bmshard_")
      val idx = TextAnalysis.buildBm25Index(docsDf(1 to 60), "text", "doc_id")
      TextAnalysis.persistBm25Index(idx.copy(docs = idx.docs.repartition(8)), bm)
      val baseFiles = parquetFilesUnder(s"${dataDir(bm)}/docs").size
      baseFiles should be > 4 // premise: parallel build
      def segs() = CorpusPipeline.maintainIndexes(spark, Seq(bm), dryRun = true)
        .select("max_segments").head.getInt(0)
      segs() shouldBe 1
      // One PLAIN append batch, forced multi-file.
      val inc = TextAnalysis.buildBm25Index(docsDf(61 to 120), "text", "doc_id")
      graft.operators.IndexStore.withWriterLease(spark, bm) {
        inc.docs.repartition(6).write.mode("append").parquet(s"${dataDir(bm)}/docs")
      }
      parquetFilesUnder(s"${dataDir(bm)}/docs").size should be > (baseFiles + 1) // premise: multi-file append
      segs() shouldBe 2
      // One EXACTLY-ONCE stream batch, also multi-file (sb- named shards).
      TextAnalysis.appendToBm25IndexExactlyOnce(
        docsDf(121 to 180), "text", "doc_id", bm, "st", 5L)
      segs() shouldBe 3
      parquetFilesUnder(s"${dataDir(bm)}/docs")
        .count(_.split('/').last.startsWith("sb-st-5-")) should be >= 1
      // All three batches' doc lengths are served.
      IndexStore.readRelFlat(spark, dataDir(bm), "docs").count() shouldBe 180L
    }
  }

  describe("gram-index compaction") {
    it("folds append segments and re-distincts grams — probe unchanged vs a fresh union build") {
      val dir = tmpDir("gramcmp_")
      Dedup.persistGramIndex(docsDf(1 to 30), "text", "doc_id", dir, k = 20)
      Dedup.persistGramIndex(docsDf(20 to 50), "text", "doc_id", dir, k = 20, append = true)
      val probeBefore = sortedRows(
        Dedup.exciseVsPersistedGrams(docsDf(100 to 104), "text", "doc_id", dir))
      val filesBefore = parquetFilesUnder(dataDir(dir)).size

      Dedup.compactGramIndex(spark, dir)

      val dd = dataDir(dir)
      parquetFilesUnder(dd).size should be < filesBefore
      // Overlapping increments re-contributed grams; compaction dropped
      // the duplicates.
      val grams = genRows(dd)
      grams.count() shouldBe grams.select("g").distinct().count()
      sortedRows(Dedup.exciseVsPersistedGrams(docsDf(100 to 104), "text", "doc_id", dir)) shouldEqual probeBefore
      val fresh = tmpDir("gramfresh_")
      Dedup.persistGramIndex(docsDf(1 to 50), "text", "doc_id", fresh, k = 20)
      sortedRows(grams.select("g", "bucket")) shouldEqual
        sortedRows(spark.read.parquet(fresh).select("g", "bucket"))
    }
  }

  describe("vacuum and rebuild-over-generations") {
    it("overwrite-persist on a generational root lands as a new generation; vacuum reclaims history") {
      val dir = tmpDir("regen_")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 20), "text", "doc_id"), dir)
      Dedup.compactSignatureIndex(spark, dir)
      IndexStore.currentGeneration(spark, dir) shouldBe 1
      // A REBUILD over the compacted root must not write flat data back.
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 10), "text", "doc_id"), dir)
      IndexStore.currentGeneration(spark, dir) shouldBe 2
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 10L
      IndexStore.vacuum(spark, dir)
      exists(s"$dir/_gen-00001") shouldBe false
      exists(s"$dir/_gen-00002") shouldBe true
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 10L
    }
  }

  private implicit class QueueOps(q: java.util.concurrent.ConcurrentLinkedQueue[Throwable]) {
    def asScala: Iterable[Throwable] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Throwable]
      q.forEach(t => b += t)
      b
    }
  }
}
