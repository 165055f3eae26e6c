package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","cpus":N,"queries":{...},"sf":...}.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    // JVM + codegen warmup on the smallest SF so measured times reflect
    // steady-state execution, not first-query class loading.
    try SparkEntry.queries("q_agg_group")(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }

    // Box-speed canary, reported beside the sweep. The sweep's absolute
    // seconds are only comparable across rounds when the box ran at the
    // same speed — the round-13 close-out measured the SAME code at
    // 371.7 s and 616.2 s hours apart under ambient host contention.
    // canary_sec attests the box: divide sweeps by their canaries before
    // reading a cross-round delta as a regression.
    val canary = Harness.canary(spark)

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      GateCache.releasePrivateCopies() // result materialized; outside the timer
      name -> dt
    }
    // Bracket the sweep: ambient contention can arrive MID-run (observed
    // canary 0.32 s at start of a sweep that still landed 30% slow), so
    // the artifact carries the box speed at BOTH ends.
    val canaryEnd = Harness.canary(spark)
    val qs    = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json  = f"""{"metric":"total","value":$total%.3f,"unit":"sec","canary_sec":$canary%.3f,"canary_end_sec":$canaryEnd%.3f,"cpus":${Harness.cpus},"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // Also persist the full per-query map to a file: a log-tail capture
    // can truncate the (long) JSON line, and the sweep is the round's
    // primary perf artifact (BENCH_r10 lost 145 of 221 queries that way).
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    // LAST stdout line: a <500-byte summary that survives a 2 KB log-tail
    // capture intact. At 255 queries the full line above is ~6 KB, so a
    // tail-limited consumer saw only its truncated END and parsed nothing
    // (r14+r15 drivers both got parsed:null). The summary carries the
    // totals and points at the full per-query artifact on disk.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","canary_sec":$canary%.3f,"canary_end_sec":$canaryEnd%.3f,"cpus":${Harness.cpus},"n_queries":${results.size},"full_results":"${outPath.toString}","sf":"$sfDir"}""")
    spark.stop()
  }
}
