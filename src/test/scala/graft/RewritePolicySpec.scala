package graft

import graft.operators.IndexStore
import graft.operators.IndexStore.RewriteDecision
import org.apache.spark.sql.functions.col

/** The selective-rewrite policy every index family's compaction shares
  * ([[IndexStore.decideRewrite]], applied by [[IndexStore.Compaction.rewrite]]):
  * dirty partitions are rewritten and clean ones carried by manifest
  * reference, unless the caller asks for a full rewrite, the relation has
  * no partitions, or at least 80% of them are dirty.
  */
class RewritePolicySpec extends SparkSpec {
  import spark.implicits._

  private val five = (0 until 5).toSet

  describe("IndexStore.decideRewrite") {
    it("rewrites every partition when 4 of 5 are dirty") {
      IndexStore.decideRewrite(selective = true, five, Set(0, 1, 2, 3)) shouldBe
        RewriteDecision(full = true, Set(0, 1, 2, 3), Nil)
    }
    it("rewrites only the dirty partitions when 3 of 5 are dirty") {
      IndexStore.decideRewrite(selective = true, five, Set(0, 2, 4)) shouldBe
        RewriteDecision(full = false, Set(0, 2, 4), Seq(1, 3))
    }
    it("rewrites every partition when the caller is not selective") {
      IndexStore.decideRewrite(selective = false, five, Set(1)) shouldBe
        RewriteDecision(full = true, Set(1), Nil)
    }
    it("rewrites in full when the relation has no partitions") {
      IndexStore.decideRewrite(selective = true, Set.empty, Set.empty) shouldBe
        RewriteDecision(full = true, Set.empty, Nil)
    }
    it("carries every partition when none is dirty") {
      IndexStore.decideRewrite(selective = true, five, Set.empty) shouldBe
        RewriteDecision(full = false, Set.empty, Seq(0, 1, 2, 3, 4))
    }
  }

  describe("IndexStore.Compaction.rewrite") {
    it("writes nothing and carries every partition of a clean relation") {
      val root = java.nio.file.Files.createTempDirectory("rewrite_clean_").resolve("idx").toString
      // Flat layout, one file per bucket: no append segment anywhere.
      (0L until 50L).toDF("doc_id").withColumn("bucket", (col("doc_id") % 5).cast("int"))
        .repartition(col("bucket")).write.partitionBy("bucket").parquet(root)
      var d: RewriteDecision = null
      IndexStore.compact(spark, root, keepGens = 1, minRetentionMs = 0L) { c =>
        d = c.rewrite("", "bucket", selective = true, idCol = Some("doc_id"))
      }
      d shouldBe RewriteDecision(full = false, Set.empty, Seq(0, 1, 2, 3, 4))
      val staged = s"$root/${IndexStore.GenPrefix}00001"
      new java.io.File(staged).list().filter(_.startsWith("bucket=")) shouldBe empty
      IndexStore.readManifest(spark, staged).get.map(e => (e.part, e.dir)) shouldBe
        (0 until 5).map(p => (p, s"bucket=$p"))
    }
  }
}
