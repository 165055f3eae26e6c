package graft.tools

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the BM25 `docs/` append path with and without the retired
  * one-file funnel — the SCALE.md evidence for write-group segment
  * arithmetic (r15): the per-batch doc-length relation used to
  * `coalesce(1)` so the maintenance sweep could count segments as
  * files-minus-baseline, which serialized a billion-row daily batch
  * through ONE task. Segments now count DISTINCT WRITE GROUPS from file
  * names, so the append writes with natural parallelism and the
  * bookkeeping stays exact.
  *
  * Ladder: per batch scale, time (a) the thin docs relation written
  * through the old one-file funnel, (b) the same relation written with
  * natural parallelism, then run the REAL append and assert the sweep
  * reads exactly one segment more per batch however many shards landed.
  *
  * Usage: runMain graft.tools.Bm25AppendSoak [scales]   (default "1,8")
  * scale s = 200k·s docs per appended batch.
  */
object Bm25AppendSoak {

  def main(args: Array[String]): Unit = {
    val scales = (if (args.length > 0) args(0) else "1,8").split(",").map(_.trim.toInt)
    val spark = graft.Harness.session()

    def docs(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma word"), pmod(col("id"), lit(997)),
          lit(" tail"), pmod(col("id"), lit(31)), lit(" mid"), pmod(col("id"), lit(211)),
          lit(" u"), col("id")).as("text"))

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }

    scales.foreach { s =>
      val n   = 200000L * s
      val dir = java.nio.file.Files.createTempDirectory(s"bm25app_x$s").toString + "/idx"
      TextAnalysis.persistBm25Index(
        TextAnalysis.buildBm25Index(docs(1, 100000), "text", "doc_id"), dir)

      // Component ladder: the thin (doc_id, dl) relation of an n-doc
      // batch, written through the retired one-file funnel vs natural
      // parallelism (scratch dirs — the real append follows below).
      val inc = graft.plans.Lineage.truncate(
        TextAnalysis.buildBm25Index(docs(1000000, n), "text", "doc_id").docs)
      val scratch = java.nio.file.Files.createTempDirectory(s"bm25app_scratch_x$s").toString
      // Best-of-2 per mode, parallel first — a single pass confounds the
      // comparison with page-cache warmup from whichever write ran first.
      def bestWrite(tag: String, df: org.apache.spark.sql.DataFrame): Double =
        (1 to 2).map(i => time(df.write.parquet(s"$scratch/$tag$i"))._2).min
      val tParallel = bestWrite("many", inc)
      val tSerial   = bestWrite("one", inc.coalesce(1))
      val shards = new java.io.File(s"$scratch/many1").listFiles().count(_.getName.endsWith(".parquet"))

      // The real append (multi-file now) + the bookkeeping contract:
      // one batch = one segment, however many shards landed.
      val before = TextAnalysis.bm25DocsSegments(spark, graft.operators.IndexStore.dataDir(spark, dir))
      val (_, tAppend) = time(
        TextAnalysis.appendToBm25Index(docs(2000000, n), "text", "doc_id", dir))
      val after = TextAnalysis.bm25DocsSegments(spark, graft.operators.IndexStore.dataDir(spark, dir))
      require(before == 1 && after == 2,
        s"segment arithmetic broke: $before -> $after (expected 1 -> 2)")

      println(f"[bm25app] x$s%-3d batch=$n%8d docs-write: one-file=$tSerial%.2f s " +
        f"natural($shards shards)=$tParallel%.2f s (${tSerial / tParallel}%.1fx) " +
        f"full-append=$tAppend%.2f s segments 1 -> 2 exact")
    }
    spark.stop()
  }
}
