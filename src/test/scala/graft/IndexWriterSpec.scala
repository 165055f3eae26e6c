package graft

import graft.operators.{Dedup, IndexStore, Similarity, TextAnalysis}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What an index build leaves on disk, and under which lease. Every
  * family builds through [[IndexStore]]'s one relation writer, so one
  * rule holds for all seven and for both layouts: a rebuild holds the
  * writer lease, and leaves only its new relations and artifacts plus
  * what lives above the generations (the batch ledger). A tombstone set,
  * a stale artifact of an earlier build, or an old PQ codebook does not
  * survive it.
  */
class IndexWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")

  private def sigIndex(ids: Range): DataFrame = Dedup.buildSignatureIndex(docsDf(ids), "text", "doc_id")

  private def sets(ids: Range): DataFrame =
    docsDf(ids).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))

  private def fps(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (i.toLong * 0x9E3779B97F4A7C15L) >>> 1)).toDF("doc_id", "fp")

  private def emb(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
  }.toDF("vec_id", "embedding")

  private val cents = Array.tabulate(4)(c => Array.tabulate(8)(d => (c + d % 3).toDouble))

  /** Top-level names under `dir`, with every `col=N` partition dir folded
    * to `col=*` and checksum files left out. */
  private def listing(dir: String): Set[String] =
    new java.io.File(dir).list().toSet.filterNot(_.startsWith(".")).map { n =>
      val eq = n.indexOf('=')
      if (eq > 0 && !n.startsWith("_")) n.substring(0, eq) + "=*" else n
    }

  /** Leaves a tombstone set and a batch-ledger entry on the index. */
  private def dirty(dir: String, idCol: String): Unit = {
    Dedup.deleteFromPersistedIndex(Seq(5L).toDF(idCol), idCol, dir)
    IndexStore.withBatchToken(spark, dir, "s", 0L)(())
  }

  /** Reads list their paths under the session settings the library
    * documents (the listing threshold), as the job-count spec does. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    SessionTuning.tune(spark)
  }

  private def withLogCapture[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("index-writer-spec", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { lines.add(e.getMessage.getFormattedMessage); () }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val out = body
      val seen = Seq.newBuilder[String]
      lines.forEach(l => seen += l)
      (out, seen.result())
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }

  describe("a build holds the writer lease") {
    it("a flat rebuild waits for a held lease, then fails and leaves the lock and the index alone") {
      val dir = tmpDir("wr_lease_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      val held    = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder  = new Thread(() => IndexStore.withWriterLease(spark, dir) {
        held.countDown()
        release.await(60, TimeUnit.SECONDS)
        ()
      })
      holder.start()
      held.await(60, TimeUnit.SECONDS) shouldBe true
      try {
        sys.props("graft.lease.waitMs") = "300"
        val e = the[IllegalStateException] thrownBy
          Dedup.persistSignatureIndex(sigIndex(1 to 5), dir)
        e.getMessage should include("could not acquire writer lease")
        new java.io.File(dir, IndexStore.LockName).exists() shouldBe true
      } finally {
        sys.props -= "graft.lease.waitMs"
        release.countDown()
        holder.join()
      }
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 20L
    }
  }

  describe("a rebuild drops the old tombstones") {
    it("bm25: a doc deleted before a flat rebuild that re-adds it is served again") {
      val dir = tmpDir("wr_bm25_ts_")
      def build() = TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 20), "text", "doc_id"), dir)
      build()
      Dedup.deleteFromPersistedIndex(Seq(5L).toDF("doc_id"), "doc_id", dir)
      build()
      val hits = TextAnalysis.bm25TopKFromPersisted(spark, dir,
        Seq((1L, "doc5")).toDF("query_id", "text"), "query_id", "text", k = 3)
        .select("doc_id").as[Long].collect()
      hits should contain(5L)
      Dedup.indexTombstones(spark, dir) shouldBe None
    }

    it("jaccard: a doc deleted before a flat rebuild that re-adds it matches again") {
      val dir = tmpDir("wr_jac_ts_")
      Dedup.persistJaccardIndex(sets(1 to 20), "bg", "doc_id", dir, thresholdMilli = 600)
      Dedup.deleteFromPersistedIndex(Seq(5L).toDF("doc_id"), "doc_id", dir)
      Dedup.persistJaccardIndex(sets(1 to 20), "bg", "doc_id", dir, thresholdMilli = 600)
      val matched = Dedup.matchVsJaccardIndex(sets(5 to 5).withColumn("doc_id", lit(100L)), "bg", "doc_id", dir)
        .select("matched_id").as[Long].collect()
      matched should contain(5L)
      Dedup.indexTombstones(spark, dir) shouldBe None
    }
  }

  describe("a flat rebuild leaves only the new relations, the artifacts and the batch ledger") {
    it("signature") {
      val dir = tmpDir("wr_ls_sig_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      dirty(dir, "doc_id")
      Dedup.persistSignatureIndex(sigIndex(1 to 10), dir)
      listing(dir) shouldBe Set("bucket=*", "_SUCCESS", "_graft_index_meta", IndexStore.BatchTokensName)
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 10L
    }

    it("fingerprint") {
      val dir = tmpDir("wr_ls_fp_")
      Dedup.persistFingerprintIndex(fps(1 to 20), "doc_id", "fp", dir, maxHamming = 3)
      dirty(dir, "doc_id")
      Dedup.persistFingerprintIndex(fps(1 to 10), "doc_id", "fp", dir, maxHamming = 3)
      listing(dir) shouldBe Set("bucket=*", "_SUCCESS", "_graft_fp_meta", IndexStore.BatchTokensName)
    }

    it("gram") {
      val dir = tmpDir("wr_ls_gram_")
      Dedup.persistGramIndex(docsDf(1 to 20), "text", "doc_id", dir, k = 20)
      IndexStore.withBatchToken(spark, dir, "s", 0L)(())
      Dedup.persistGramIndex(docsDf(1 to 10), "text", "doc_id", dir, k = 20)
      listing(dir) shouldBe Set("bucket=*", "_SUCCESS", "_graft_gram_meta", IndexStore.BatchTokensName)
    }

    it("jaccard, over an excised build whose hot set and fraction must not survive") {
      val dir = tmpDir("wr_ls_jac_")
      Dedup.persistJaccardIndex(sets(1 to 20), "bg", "doc_id", dir, thresholdMilli = 600,
        exciseBoilerplateFrac = Some(0.5))
      new java.io.File(dir, "_graft_jidx_hot").exists() shouldBe true
      dirty(dir, "doc_id")
      Dedup.persistJaccardIndex(sets(1 to 10), "bg", "doc_id", dir, thresholdMilli = 600)
      listing(dir) shouldBe Set("postings", "fullsets", "_graft_jidx_dict", "_graft_jidx_meta",
        IndexStore.BatchTokensName)
    }

    it("ivf, over an ivf-pq build whose codebooks must not survive") {
      val dir = tmpDir("wr_ls_ivf_")
      Similarity.persistIvfPqIndex(emb(1 to 40), "vec_id", "embedding", cents,
        Similarity.pqTrain(emb(1 to 40), "vec_id", "embedding", m = 4, k = 8), dir)
      listing(dir) shouldBe Set("cell=*", "_SUCCESS", "_graft_centroids", "_graft_pq", "_graft_pq_stats")
      dirty(dir, "vec_id")
      Similarity.persistIvfIndex(emb(1 to 30), "vec_id", "embedding", cents, dir)
      listing(dir) shouldBe Set("cell=*", "_SUCCESS", "_graft_centroids", IndexStore.BatchTokensName)
    }

    it("bm25") {
      val dir = tmpDir("wr_ls_bm25_")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 20), "text", "doc_id"), dir)
      dirty(dir, "doc_id")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 10), "text", "doc_id"), dir)
      listing(dir) shouldBe Set("postings", "terms", "docs", "_graft_meta", IndexStore.BatchTokensName)
    }
  }

  describe("a rebuild of a generational root stages a fresh generation") {
    it("signature and bm25: the new generation holds only the new relations and artifacts") {
      val sig = tmpDir("wr_gen_sig_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), sig)
      Dedup.compactSignatureIndex(spark, sig)
      dirty(sig, "doc_id")
      Dedup.persistSignatureIndex(sigIndex(1 to 10), sig)
      IndexStore.currentGeneration(spark, sig) shouldBe 2
      listing(IndexStore.dataDir(spark, sig)) shouldBe Set("bucket=*", "_SUCCESS", "_graft_index_meta")
      listing(sig) should contain allOf(IndexStore.BatchTokensName, "_graft_current.2", "_gen-00002")
      Dedup.loadSignatureIndex(spark, sig).count() shouldBe 10L

      val bm = tmpDir("wr_gen_bm25_")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 20), "text", "doc_id"), bm)
      TextAnalysis.compactBm25Index(spark, bm)
      dirty(bm, "doc_id")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 10), "text", "doc_id"), bm)
      listing(IndexStore.dataDir(spark, bm)) shouldBe Set("postings", "terms", "docs", "_graft_meta")
      listing(bm) should contain(IndexStore.BatchTokensName)
    }
  }

  describe("a rebuild whose rows read the index it replaces") {
    it("flat root: stages generation 1 instead of clearing what it reads") {
      val dir = tmpDir("wr_self_flat_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      Dedup.persistSignatureIndex(Dedup.loadSignatureIndex(spark, dir), dir, bands = 4)
      IndexStore.currentGeneration(spark, dir) shouldBe 1
      Dedup.readSignatureIndexMeta(spark, dir).bands shouldBe 4
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 20L
    }

    it("generational root: reads the live generation and lands the next one") {
      val dir = tmpDir("wr_self_gen_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      Dedup.compactSignatureIndex(spark, dir)
      Dedup.persistSignatureIndex(Dedup.loadSignatureIndex(spark, dir), dir, bands = 4)
      Dedup.readSignatureIndexMeta(spark, dir).bands shouldBe 4
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 20L
    }
  }

  describe("tombstone reads") {
    it("a tombstoned probe logs no 'All paths were ignored' warning") {
      val dir = tmpDir("wr_warn_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      Dedup.deleteFromPersistedIndex(Seq(7L).toDF("doc_id"), "doc_id", dir)
      val ((hits, loaded), lines) = withLogCapture {
        (Dedup.matchVsPersistedIndex(docsDf(7 to 8), "text", "doc_id", dir).collect(),
          Dedup.loadSignatureIndex(spark, dir).count())
      }
      hits.map(_.getLong(1)).toSeq should (contain(8L) and not contain 7L)
      loaded shouldBe 19L
      lines.filter(_.contains("All paths were ignored")) shouldBe empty
    }

    it("a tombstone dir whose only file is empty masks nothing") {
      val dir = tmpDir("wr_empty_ts_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), dir)
      Dedup.deleteFromPersistedIndex(Seq.empty[Long].toDF("doc_id"), "doc_id", dir)
      val tsDir = new java.io.File(dir, IndexStore.TombstonesName)
      val files = tsDir.list().filter(n => !n.startsWith(".") && !n.startsWith("_"))
      files should have size 1
      spark.read.parquet(new java.io.File(tsDir, files.head).toString).count() shouldBe 0L
      Dedup.indexTombstones(spark, dir).map(_.count()) shouldBe Some(0L)
      IndexStore.tombstoneDistinctCount(spark, tsDir.toString) shouldBe 0L
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 20L
      Dedup.matchVsPersistedIndex(docsDf(7 to 7), "text", "doc_id", dir)
        .select("matched_id").as[Long].collect() should contain(7L)
    }
  }

  describe("reads that name a `_`-prefixed directory") {
    it("a probe after a generational rebuild, an excised Jaccard probe and a PQ-refresh compaction log no 'All paths were ignored'") {
      val sig = tmpDir("wr_warn_gen_")
      Dedup.persistSignatureIndex(sigIndex(1 to 20), sig)
      Dedup.compactSignatureIndex(spark, sig)
      Dedup.persistSignatureIndex(sigIndex(1 to 20), sig) // generation 2, no manifest
      val jac = tmpDir("wr_warn_jac_")
      Dedup.persistJaccardIndex(sets(1 to 20), "bg", "doc_id", jac, thresholdMilli = 600,
        exciseBoilerplateFrac = Some(0.5))
      val ivf = tmpDir("wr_warn_pq_")
      Similarity.persistIvfPqIndex(emb(1 to 40), "vec_id", "embedding", cents,
        Similarity.pqTrain(emb(1 to 40), "vec_id", "embedding", m = 4, k = 8), ivf)
      val ((hits, matched), lines) = withLogCapture {
        val hits = Dedup.matchVsPersistedIndex(docsDf(7 to 8), "text", "doc_id", sig)
          .select("matched_id").as[Long].collect()
        val matched = Dedup.matchVsJaccardIndex(sets(5 to 5).withColumn("doc_id", lit(100L)), "bg", "doc_id", jac)
          .select("matched_id").as[Long].collect()
        Similarity.compactIvfIndex(spark, ivf, pqRefresh = Similarity.PqRefreshMode.Always)
        (hits, matched)
      }
      IndexStore.currentGeneration(spark, sig) shouldBe 2
      hits should (contain(7L) and contain(8L))
      new java.io.File(jac, "_graft_jidx_hot").exists() shouldBe true
      matched should contain(5L)
      new java.io.File(IndexStore.dataDir(spark, ivf), "_graft_pq_stats").exists() shouldBe true
      lines.filter(_.contains("All paths were ignored")) shouldBe empty
    }
  }
}
