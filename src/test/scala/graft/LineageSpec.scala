package graft

import graft.plans.Lineage
import org.apache.spark.sql.functions.sum

/** [[Lineage.fanOutSmall]] decides from the planned query: it launches no
  * Spark job of its own (an adaptive plan's `.rdd` would run every
  * upstream shuffle, and the caller's action would run them again) and
  * passes streaming frames through.
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  describe("Lineage.fanOutSmall") {
    it("runs a derived groupBy frame's shuffle only in the caller's action") {
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      val derived = spark.range(0, 2000).selectExpr("id % 13 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("s"))
      val (out, planJobs) = jobsDuring(Lineage.fanOutSmall(derived))
      planJobs shouldBe 0
      val (rows, actionJobs) = jobsDuring(out.as[(Long, Long)].collect().toSet)
      rows shouldBe (0L until 2000L).groupBy(_ % 13).map { case (k, vs) => (k, vs.sum) }.toSet
      // One job for the shuffle map stage, one for the result: the
      // aggregate ran once.
      actionJobs should be <= 2
    }

    it("passes a streaming frame through unchanged") {
      val stream = spark.readStream.format("rate").load()
      Lineage.fanOutSmall(stream) should be theSameInstanceAs stream
    }

    it("fans a single-split scan out to the default parallelism and leaves a wide one alone") {
      val dir = java.nio.file.Files.createTempDirectory("fanout").toString
      (1 to 100).toDF("v").coalesce(1).write.parquet(s"$dir/one")
      val target = spark.sparkContext.defaultParallelism
      val small = spark.read.parquet(s"$dir/one")
      val (fanned, jobs) = jobsDuring(Lineage.fanOutSmall(small))
      jobs shouldBe 0
      fanned.rdd.getNumPartitions shouldBe target
      (1 to 100).toDF("v").repartition(target * 2).write.parquet(s"$dir/wide")
      val wide = spark.read.parquet(s"$dir/wide")
      Lineage.fanOutSmall(wide) should be theSameInstanceAs wide
    }
  }
}
