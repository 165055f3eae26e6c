package graft.tools

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Streaming WebDataset ingest at PRODUCTION shard size — the
  * measurement behind [[Multimodal.webdatasetStream]]'s byte-budget
  * pacing. The gate fixture replays 20 MB-ish shards; the export sink's
  * production shape is `samplesPerShard = 1000` (hundreds of MB per
  * shard), and `binaryFile` materializes each whole shard as ONE row —
  * so the claim that needs numbers is: with the byte budget pacing the
  * trigger, per-trigger cost and task memory stay FLAT as the shard
  * directory grows, and only the trigger COUNT scales.
  *
  * Usage: runMain graft.tools.TarStreamSoak <sfDir> [scales] [samplesPerShard] [maxBytesPerTriggerMiB]
  *   e.g.  SPARK_DRIVER_MEM=8g sbt 'runMain graft.tools.TarStreamSoak /root/testdata/sf0.1 1,2 1000 1536'
  *
  * Reports per scale: shard count/size, derived files/trigger, trigger
  * count, per-trigger seconds (max and median), max task
  * peakExecutionMemory, and max post-batch JVM used heap. Flat = the
  * per-trigger and memory columns hold while triggers scale with shards.
  */
object TarStreamSoak {

  def main(args: Array[String]): Unit = {
    val sfDir   = args(0)
    val scales  = (if (args.length > 1) args(1) else "1,2").split(",").map(_.trim.toInt)
    val perShard = if (args.length > 2) args(2).toInt else 1000
    val budget   = (if (args.length > 3) args(3).toLong else 1536L) * 1024 * 1024
    val spark = graft.Harness.session()

    // Max task peakExecutionMemory across the run — the executor-side
    // memory observable; binaryFile's whole-shard rows surface here.
    val peakTask = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    })

    val docs  = graft.Tpch.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)

    scales.foreach { s =>
      val corpus = (0 until s).map(i =>
        docs.select((col("doc_id") + lit(i.toLong * (maxId + 1))).as("doc_id"), col("text")))
        .reduce(_.unionAll(_))
      // ~600 KiB of deterministic bytes per image (the ExportSoak recipe)
      // so 1000-sample shards land at the production ~600 MB size — the
      // synthetic PNGs are only a few KiB and would understate the
      // whole-shard-per-row pressure this soak exists to measure.
      val samples = corpus.select(
        col("doc_id"),
        expr(s"cast(repeat(concat(cast(doc_id as string), 'x'), ${600 * 1024 / 8}) as binary)").as("image"),
        col("text").as("caption"),
        concat(lit("{\"id\":"), col("doc_id").cast("string"), lit("}")).as("meta"))
      val shardDir = java.nio.file.Files.createTempDirectory(s"tarsoak_x$s").toString
      val t0 = System.nanoTime()
      Multimodal.exportWebdataset(samples, "doc_id", "image", "caption", "meta", shardDir,
        samplesPerShard = perShard)
      val exportS = (System.nanoTime() - t0) / 1e9
      val shardFiles = new java.io.File(shardDir).listFiles().filter(_.getName.endsWith(".tar"))
      val totalGb    = shardFiles.map(_.length()).sum / 1e9
      val maxShardMb = shardFiles.map(_.length()).max / 1e6

      peakTask.set(0L)
      val glob = s"$shardDir/shard-*.tar"
      val stream = Multimodal.webdatasetStream(spark, glob, maxBytesPerTrigger = budget)
      val perTrigger = Multimodal.filesPerTriggerFor(shardFiles.map(_.length()).toSeq, budget)
      val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val batchHeap = scala.collection.mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bt = System.nanoTime()
          rows += b.select(count(lit(1))).head.getLong(0)
          batchSecs += (System.nanoTime() - bt) / 1e9
          val rt = Runtime.getRuntime
          batchHeap += (rt.totalMemory() - rt.freeMemory()) / 1e9
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"tarsoak_ckpt_x$s").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val med = batchSecs.sorted.apply(batchSecs.size / 2)
      println(f"[tarsoak] x$s%-2d shards=${shardFiles.length}%3d (max $maxShardMb%5.0f MB, " +
        f"total $totalGb%5.2f GB, export $exportS%5.1f s)  files/trigger=$perTrigger%2d  " +
        f"triggers=${batchSecs.size}%3d  samples=$rows%8d  " +
        f"batch s: med=$med%5.2f max=${batchSecs.max}%5.2f  " +
        f"peakTaskMem=${peakTask.get() / 1e6}%7.1f MB  maxHeap=${batchHeap.max}%5.2f GB")
      // Reclaim the multi-GB fixture before the next scale.
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(shardDir))
    }
    spark.stop()
  }
}
