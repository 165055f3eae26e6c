package graft

import graft.operators.IndexStore
import graft.operators.IndexStore.RewriteDecision
import org.apache.spark.sql.functions.col

/** The selective-rewrite policy every index family's compaction shares
  * ([[IndexStore.decideRewrite]], applied by [[IndexStore.rewriteDirty]]):
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

  describe("IndexStore.rewriteDirty") {
    it("writes nothing and carries every partition of a clean relation") {
      val root = java.nio.file.Files.createTempDirectory("rewrite_clean_").resolve("idx").toString
      // Flat layout, one file per bucket: no append segment anywhere.
      (0L until 50L).toDF("doc_id").withColumn("bucket", (col("doc_id") % 5).cast("int"))
        .repartition(col("bucket")).write.partitionBy("bucket").parquet(root)
      val staged = s"$root/${IndexStore.GenPrefix}00001"
      val (d, entries) = IndexStore.rewriteDirty(
        spark, root, staged, None, "", "bucket", selective = true, idCol = Some("doc_id"))
      d shouldBe RewriteDecision(full = false, Set.empty, Seq(0, 1, 2, 3, 4))
      new java.io.File(staged).exists shouldBe false
      entries.map(e => (e.part, e.dir)) shouldBe (0 until 5).map(p => (p, s"bucket=$p"))
    }
  }
}
