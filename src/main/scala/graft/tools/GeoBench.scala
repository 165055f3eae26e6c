package graft.tools

/** One-off A/B: adaptive band fallback old (32x4) vs recall-driven (60x10)
  * geometry on the sf0.1 documents corpus (the regime where the fallback
  * engages). Usage: runMain graft.tools.GeoBench [sfDir] [reps]
  */
object GeoBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Harness.session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time(label: String, mode: graft.operators.Dedup.CandidateMode): Unit =
      (0 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = graft.operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 3, threshold = 0.8, candidates = mode).count()
        println(f"[$label] run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n pairs)${if (i == 0) " (warmup)" else ""}")
      }
    def timeCand(label: String, nh: Int, b: Int): Unit =
      (0 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = graft.operators.Dedup.minHashLshCandidates(docs, "text", "doc_id",
          n = 3, numHashes = nh, bands = b).count()
        println(f"[$label] run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n cands)${if (i == 0) " (warmup)" else ""}")
      }
    timeCand("cand-32x4", 32, 4)
    timeCand("cand-60x10", 60, 10)
    time("old-32x4", graft.operators.Dedup.CandidateMode.MinHashBands(32, 4))
    time("new-60x10", graft.operators.Dedup.CandidateMode.MinHashRecall())
    spark.stop()
  }
}
