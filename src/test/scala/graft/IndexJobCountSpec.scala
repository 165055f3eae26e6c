package graft

import graft.operators.{Dedup, IndexStore, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark job counts of one selective compaction per index family, of
  * one tombstoned probe, and of one build and one append per family. Every family's tombstone mask and dirty-partition
  * rewrite go through [[IndexStore]]; the counts pin that the shared path
  * launches no more jobs than each family's own copy did. Each scenario
  * dirties a minority of partitions, so the compaction takes its selective
  * branch (checked: at least one partition is carried by reference).
  */
class IndexJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")

  /** Manifest entries of the live generation that point into an older
    * location — partitions the compaction carried instead of rewriting.
    */
  private def carried(root: String): Int = {
    val dd  = IndexStore.dataDir(spark, root)
    val gen = new org.apache.hadoop.fs.Path(dd).getName
    IndexStore.readManifest(spark, dd).getOrElse(Nil).count(e => !e.dir.startsWith(gen))
  }

  /** Counts under the session settings the library documents. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    SessionTuning.tune(spark)
  }

  describe("Spark jobs per index operation") {
    it("signature: one tombstoned probe and one selective compaction") {
      val dir = tmpDir("jobs_sig_")
      Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docsDf(1 to 60), "text", "doc_id"), dir)
      Dedup.deleteFromPersistedIndex(Seq(7L).toDF("doc_id"), "doc_id", dir)
      val (hits, probeJobs) = jobsDuring(
        Dedup.matchVsPersistedIndex(docsDf(7 to 8), "text", "doc_id", dir).collect())
      hits.map(_.getLong(1)).toSeq should (contain(8L) and not contain(7L)) // doc 7 is masked
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(61 to 61), "text", "doc_id"), dir, append = true)
      val (_, compactJobs) = jobsDuring(Dedup.compactSignatureIndex(spark, dir))
      carried(dir) should be > 0
      (probeJobs, compactJobs) shouldBe ((9, 8))
    }

    it("jaccard: one selective compaction of both relations") {
      val dir  = tmpDir("jobs_jac_")
      val sets = docsDf(1 to 40).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      Dedup.persistJaccardIndex(sets, "bg", "doc_id", dir, thresholdMilli = 600)
      Dedup.deleteFromPersistedIndex(Seq(3L).toDF("doc_id"), "doc_id", dir)
      val (_, jobs) = jobsDuring(Dedup.compactJaccardIndex(spark, dir))
      carried(dir) should be > 0
      jobs shouldBe 14
    }

    it("gram: one selective compaction") {
      val dir = tmpDir("jobs_gram_")
      Dedup.persistGramIndex(docsDf(1 to 20), "text", "doc_id", dir, k = 20)
      Dedup.persistGramIndex(Seq((99L, "zzzzzzzzzzqqqqqqqqqqab")).toDF("doc_id", "text"),
        "text", "doc_id", dir, k = 20, append = true)
      val (_, jobs) = jobsDuring(Dedup.compactGramIndex(spark, dir))
      carried(dir) should be > 0
      jobs shouldBe 3
    }

    it("ivf: one selective compaction") {
      val dir = tmpDir("jobs_ivf_")
      val emb = (1 to 40).map { i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
      }.toDF("vec_id", "embedding")
      val cents = Array.tabulate(4)(c => Array.tabulate(8)(d => (c + d % 3).toDouble))
      Similarity.persistIvfIndex(emb, "vec_id", "embedding", cents, dir)
      Dedup.deleteFromPersistedIndex(Seq(5L).toDF("vec_id"), "vec_id", dir)
      val (_, jobs) = jobsDuring(Similarity.compactIvfIndex(spark, dir))
      carried(dir) should be > 0
      // 9 while IVF read its tombstones with schema inference (mergeSchema
      // = one footer-reading job); the shared reader names its schema.
      jobs shouldBe 8
    }

    it("bm25: one selective compaction of postings, terms and docs") {
      val dir = tmpDir("jobs_bm25_")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 30), "text", "doc_id"), dir)
      Dedup.deleteFromPersistedIndex(Seq(4L).toDF("doc_id"), "doc_id", dir)
      val (_, jobs) = jobsDuring(TextAnalysis.compactBm25Index(spark, dir))
      carried(dir) should be > 0
      jobs shouldBe 14
    }
  }
  /** Every build and append goes through [[IndexStore]]'s one relation
    * writer; the counts are those each family's own writes launched. */
  describe("Spark jobs per index build and append") {
    def emb(ids: Range): DataFrame = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Array.tabulate(4)(c => Array.tabulate(8)(d => (c + d % 3).toDouble))
    def fps(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (i.toLong * 0x9E3779B97F4A7C15L) >>> 1)).toDF("doc_id", "fp")
    def sets(ids: Range): DataFrame =
      docsDf(ids).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))

    it("signature: build, exactly-once append") {
      val dir = tmpDir("jobs_sig_build_")
      val (_, build) = jobsDuring(Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docsDf(1 to 60), "text", "doc_id"), dir))
      val (_, append) = jobsDuring(Dedup.appendToSignatureIndexExactlyOnce(
        Dedup.buildSignatureIndex(docsDf(61 to 62), "text", "doc_id"), dir, "s", 0L))
      Dedup.loadSignatureIndex(spark, dir).count() shouldBe 62L
      (build, append) shouldBe ((3, 3))
    }

    it("fingerprint: build, plain append") {
      val dir = tmpDir("jobs_fp_build_")
      val (_, build) = jobsDuring(Dedup.persistFingerprintIndex(fps(1 to 40), "doc_id", "fp", dir, maxHamming = 3))
      val (_, append) = jobsDuring(
        Dedup.persistFingerprintIndex(fps(41 to 42), "doc_id", "fp", dir, maxHamming = 3, append = true))
      (build, append) shouldBe ((3, 2))
    }

    it("jaccard: build, plain append") {
      val dir = tmpDir("jobs_jac_build_")
      val (_, build) = jobsDuring(Dedup.persistJaccardIndex(sets(1 to 40), "bg", "doc_id", dir, thresholdMilli = 600))
      val (_, append) = jobsDuring(
        Dedup.persistJaccardIndex(sets(41 to 42), "bg", "doc_id", dir, thresholdMilli = 600, append = true))
      (build, append) shouldBe ((15, 9))
    }

    it("gram: build, plain append") {
      val dir = tmpDir("jobs_gram_build_")
      val (_, build) = jobsDuring(Dedup.persistGramIndex(docsDf(1 to 20), "text", "doc_id", dir, k = 20))
      val (_, append) = jobsDuring(Dedup.persistGramIndex(
        Seq((99L, "zzzzzzzzzzqqqqqqqqqqab")).toDF("doc_id", "text"), "text", "doc_id", dir, k = 20, append = true))
      (build, append) shouldBe ((4, 3))
    }

    it("ivf: build, exactly-once append") {
      val dir = tmpDir("jobs_ivf_build_")
      val (_, build) = jobsDuring(Similarity.persistIvfIndex(emb(1 to 40), "vec_id", "embedding", cents, dir))
      val (_, append) = jobsDuring(Similarity.appendToIvfIndexExactlyOnce(
        emb(41 to 42), "vec_id", "embedding", dir, "s", 0L))
      (build, append) shouldBe ((3, 2))
    }

    it("ivf-pq: build, plain append") {
      val dir   = tmpDir("jobs_ivfpq_build_")
      val model = Similarity.pqTrain(emb(1 to 40), "vec_id", "embedding", m = 4, k = 8)
      val (_, build) = jobsDuring(Similarity.persistIvfPqIndex(emb(1 to 40), "vec_id", "embedding", cents, model, dir))
      val (_, append) = jobsDuring(Similarity.appendToIvfIndex(emb(41 to 42), "vec_id", "embedding", dir))
      (build, append) shouldBe ((9, 2))
    }

    it("bm25: build, exactly-once append") {
      val dir = tmpDir("jobs_bm25_build_")
      val (_, build) = jobsDuring(TextAnalysis.persistBm25Index(
        TextAnalysis.buildBm25Index(docsDf(1 to 30), "text", "doc_id"), dir))
      val (_, append) = jobsDuring(TextAnalysis.appendToBm25IndexExactlyOnce(
        docsDf(31 to 32), "text", "doc_id", dir, "s", 0L))
      (build, append) shouldBe ((10, 9))
    }
  }
}
