package graft

import org.apache.spark.sql.SparkSession

/** Session tuning that [[Harness.session]] applies for every main in this
  * repo and that library users apply to their own session. None of it
  * changes what any query computes. It does two things:
  *
  *  - sets session-dynamic SQL confs, scale-parameterised
  *    (env-overridable) with local-mode defaults;
  *  - installs the fork-free `file:` filesystem, [[LocalFs]], on the
  *    session's Hadoop configuration. Without the native libhadoop,
  *    Hadoop's own local filesystem starts a `chmod` process for every
  *    file it creates and a `readlink` process for every link-status
  *    check, and a streaming micro-batch's log commits and parquet writes
  *    make dozens of each.
  *
  * Call it right after building the session: it drops the `file:`
  * instance Hadoop has already cached for the JVM, so a file that
  * instance was asked to delete on exit is deleted then.
  */
object SessionTuning {

  /** Apply the shared tuning to an already-built session. */
  def tune(spark: SparkSession): Unit = {
    // File-listing strategy for multi-directory reads. Spark launches a
    // DISTRIBUTED LISTING JOB whenever a read resolves more than this
    // many paths (default 32); the persisted index relations are
    // parquet-partitioned into 32-128 bucket dirs, so with the default
    // every cold `readRel` of a bucketed relation pays one extra
    // scheduler round-trip just to list dirs whose listing is
    // microseconds on local/HDFS metadata. The lifecycle gates do tens
    // of such reads per run (probe + sweep + compact per micro-batch),
    // so the fixed job cost dominates. At 1024 the listing stays
    // driver-side for every index layout we write while genuinely huge
    // directory fan-outs (beyond any bucket count here) still
    // distribute. Production: keep proportional to what a single
    // driver thread can list in ~a second — on S3-class stores with
    // O(100ms) LIST latency, set SPARK_GRAFT_LIST_PARALLEL_THRESHOLD
    // lower (e.g. 64) so wide layouts fan the listing out.
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "1024"))
    // AQE partition-coalescing floor (parallelism-first target). The
    // index compact/append writes shuffle 0.2-3 MB per relation here;
    // with the default 1MB floor AQE coalesces them to ONE task, which
    // then pays EVERY bucket's parquet-writer init serially (measured
    // ~1 s single-task write jobs for <1 MB of output — 32-64 dynamic
    // partition dirs x ~15 ms init). A lower floor keeps small shuffles
    // spread across tasks (bytes/floor, capped by the parallelism-first
    // rule at ~cores) while large shuffles are untouched — the floor
    // only binds when partitions are SMALL. Measured (paired A/B, same
    // box): q_jaccard_index_refresh 8.52 -> 7.43 s, q_bm25_maintain_stream
    // 9.84 -> 9.29 s at 64KB vs the 1MB default; q_rollup/q_topk_grouped
    // (small-shuffle tail) flat-to-better. Scale note: on a production
    // cluster the same floor is fine (it is a FLOOR, not a count — big
    // shuffles still target advisory size / parallelism-first); raise it
    // if tiny tasks ever dominate scheduler cost.
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION", "64KB"))
    LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }
}
