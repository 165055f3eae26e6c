package graft.tools

/** Times gate queries N times each (first run = warmup) — the focused
  * perf loop for one or a few operators without paying a full Bench sweep.
  * Usage: runMain graft.tools.TimeQuery <sfDir> <query>[,<query>...] [reps]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val reps  = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Harness.session()
    // Bracket every query's reps with the box-speed canary so an A/B
    // comparison can be canary-normalized.
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val c0 = graft.Harness.canary(spark)
      val times = (0 to reps).map { i =>
        val t0 = System.nanoTime()
        val n  = fn(spark, sfDir).count()
        val s  = (System.nanoTime() - t0) / 1e9
        graft.GateCache.releasePrivateCopies() // materialized; outside the timer
        println(f"[$name] run $i: $s%.3f s ($n rows)${if (i == 0) "  (warmup)" else ""}")
        s
      }
      val c1 = graft.Harness.canary(spark)
      // reps=0 → warmup-only run: no post-warmup sample to summarize.
      times.drop(1).reduceOption(_ min _).foreach { best =>
        println(f"[$name] best=$best%.3f s canary=$c0%.3f/$c1%.3f")
      }
    }
    spark.stop()
  }
}
