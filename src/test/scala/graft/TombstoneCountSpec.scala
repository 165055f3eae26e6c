package graft

import org.apache.spark.sql.functions._
import graft.operators.IndexStore

/** Focused spec for the sweep's tombstone distinct-count fast path
  * (round 16): every tier of [[IndexStore.tombstoneDistinctCount]] must
  * agree with the distributed `.distinct().count()` it replaces.
  */
class TombstoneCountSpec extends SparkSpec {
  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("ts_count").resolve("_graft_tombstones").toString

  private def appendBatch(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    // Mirrors Dedup.deleteFromPersistedIndex's writer contract:
    // per-call distinct, one file per call, append across calls.
    ids.toDF("doc_id").select(col("doc_id").cast("long").as("doc_id"))
      .distinct().coalesce(1).write.mode("append").parquet(dir)
  }

  private def distributedDistinct(dir: String): Long =
    IndexStore.readArtifact(spark, dir).get.distinct().count()

  it("returns 0 for a missing or empty relation") {
    IndexStore.tombstoneDistinctCount(spark, freshDir()) shouldBe 0L
  }

  it("single delete batch: footer count (one file is distinct by contract)") {
    val dir = freshDir()
    appendBatch(dir, Seq(1L, 2L, 3L, 2L, 1L))
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe 3L
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe distributedDistinct(dir)
  }

  it("several overlapping batches: driver-side re-distinct matches the distributed count") {
    val dir = freshDir()
    appendBatch(dir, 1L to 100L)
    appendBatch(dir, 50L to 150L)  // overlaps the first batch
    appendBatch(dir, Seq(7L, 151L))
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe 151L
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe distributedDistinct(dir)
  }

  it("large multi-batch set: falls through to the distributed count and agrees") {
    val dir = freshDir()
    appendBatch(dir, 1L to 100000L)
    appendBatch(dir, 50000L to 140000L) // total footer rows 190001 > 131072 bound
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe 140000L
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe distributedDistinct(dir)
  }

  it("large set with legacy vec_id files: every id counts") {
    import spark.implicits._
    val dir = freshDir()
    // Older IVF tombstone files name their one column vec_id.
    (1L to 140000L).toDF("vec_id").coalesce(1).write.mode("append").parquet(dir)
    appendBatch(dir, Seq(140001L))
    IndexStore.tombstoneDistinctCount(spark, dir) shouldBe 140001L
  }
}
