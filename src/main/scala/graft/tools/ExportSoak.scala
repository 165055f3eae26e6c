package graft.tools

import org.apache.spark.sql.functions._

/** Falsifiable constant-heap proof for the WebDataset export sink at
  * PRODUCTION shard sizes: 5 shards × 1000 samples × ~1 MiB image ≈ 1 GiB
  * per shard, exported under a deliberately small heap. The pre-round-11
  * writer buffered each whole shard (plus a toByteArray copy) per task —
  * ~2–3 GiB × concurrent shard tasks, an OOM under this budget; the
  * streaming writer holds ONE sample, so the run completes and the
  * re-read must count every sample. Wall time and shard count print as
  * the SCALE.md row.
  *
  * Usage: runMain graft.tools.ExportSoak [samples] [samplesPerShard] [imageKiB]
  * (run with SPARK_DRIVER_MEM=6g to make the old writer's failure mode real)
  */
object ExportSoak {
  def main(args: Array[String]): Unit = {
    val samples  = if (args.length > 0) args(0).toInt else 5000
    val perShard = if (args.length > 1) args(1).toInt else 1000
    val imgKiB   = if (args.length > 2) args(2).toInt else 1024
    val spark = graft.Harness.session()
    import spark.implicits._

    // ~imgKiB of deterministic bytes per image, built executor-side.
    val df = spark.range(0, samples).toDF("doc_id")
      .select(
        col("doc_id"),
        expr(s"cast(repeat(concat(cast(doc_id as string), 'x'), ${imgKiB * 1024 / 8}) as binary)").as("image"),
        concat(lit("caption "), col("doc_id").cast("string")).as("caption"),
        concat(lit("{\"id\":"), col("doc_id").cast("string"), lit("}")).as("meta"))
    val out = java.nio.file.Files.createTempDirectory("export_soak_").toString
    val t0  = System.nanoTime()
    val shards = graft.operators.Multimodal.exportWebdataset(
      df, "doc_id", "image", "caption", "meta", out, samplesPerShard = perShard)
    val exportSec = (System.nanoTime() - t0) / 1e9
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".tar"))
    val bytes = files.map(_.length()).sum
    // Round-trip verification by a STREAMING local tar walk (headers read,
    // payloads skipped) — the Spark binaryFile source materializes a whole
    // shard per row, which is exactly what production readers avoid at
    // GiB shard sizes (use 100–500 MiB shards when the reader is
    // binaryFile-based; its memory bound is shard size × concurrent
    // tasks). The export side under test holds ONE sample either way.
    def countEntries(f: java.io.File): Long = {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      try {
        val header = new Array[Byte](512)
        var n = 0L
        var done = false
        while (!done) {
          in.readFully(header)
          if (header.forall(_ == 0)) done = true
          else {
            val sizeOct = new String(header, 124, 11, "US-ASCII").trim
            val size    = java.lang.Long.parseLong(sizeOct, 8)
            val skip    = size + ((512 - size % 512) % 512)
            var left    = skip
            while (left > 0) left -= in.skip(left)
            n += 1
          }
        }
        n
      } finally in.close()
    }
    val entries = files.map(countEntries).sum
    println(f"[exportsoak] $samples samples @ $perShard/shard (${imgKiB} KiB images): " +
      f"$shards shards, ${bytes / 1e9}%.2f GB, export $exportSec%.1f s, " +
      f"$entries entries walked back (expect ${3L * samples}) " +
      f"(heap ${Runtime.getRuntime.maxMemory() / (1024 * 1024)} MiB)")
    require(entries == 3L * samples, s"round trip lost entries: $entries != ${3L * samples}")
    spark.stop()
  }
}
