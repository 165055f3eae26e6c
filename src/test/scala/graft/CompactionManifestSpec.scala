package graft

import graft.operators.{Dedup, IndexStore, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The manifest a compaction stages ([[IndexStore.compact]]): one entry
  * per (relation, partition) of every data relation, rewritten or carried,
  * written in (relation, partition) order whatever order the family's
  * concurrent branches recorded them in.
  */
class CompactionManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")

  /** (rel, part, carried) of the live generation's manifest, in file order. */
  private def manifest(root: String): Seq[(String, Int, Boolean)] = {
    val dd  = IndexStore.dataDir(spark, root)
    val gen = new org.apache.hadoop.fs.Path(dd).getName
    IndexStore.readManifest(spark, dd).get.map(e => (e.rel, e.part, !e.dir.startsWith(gen)))
  }

  describe("IndexStore.compact") {
    it("writes a BM25 and a Jaccard manifest sorted by (rel, part), with every data relation") {
      val bm = tmpDir("man_bm25_")
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docsDf(1 to 30), "text", "doc_id"), bm)
      Dedup.deleteFromPersistedIndex(Seq(4L).toDF("doc_id"), "doc_id", bm)
      TextAnalysis.compactBm25Index(spark, bm)

      val jac = tmpDir("man_jac_")
      Dedup.persistJaccardIndex(
        docsDf(1 to 40).select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg")),
        "bg", "doc_id", jac, thresholdMilli = 600)
      Dedup.deleteFromPersistedIndex(Seq(3L).toDF("doc_id"), "doc_id", jac)
      Dedup.compactJaccardIndex(spark, jac)

      for ((root, rels) <- Seq(bm -> Set("postings", "terms", "docs"), jac -> Set("postings", "fullsets"))) {
        val m    = manifest(root)
        val keys = m.map { case (rel, part, _) => (rel, part) }
        keys shouldBe keys.sorted
        keys.distinct shouldBe keys
        m.map(_._1).toSet shouldBe rels
        m.map(_._3).toSet shouldBe Set(true, false) // selective: some rewritten, some carried
      }
    }
  }
}
