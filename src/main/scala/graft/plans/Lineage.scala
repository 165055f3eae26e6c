package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative operators (self-ref closures, label
  * propagation): each round must cut the plan back to a flat scan or the
  * compiled task doubles per iteration (see SelfRefClosure's scaladoc).
  *
  * Two materialization levels:
  *   - `localCheckpoint()` (default): executor-local blocks — fast, but a
  *     lost executor loses its blocks and fails the job. Right for
  *     interactive/local runs.
  *   - `checkpoint()` (opt-in): written to the context's checkpoint
  *     directory (HDFS/S3 on a cluster) — survives executor death, the
  *     correct mode for long 100 TB-scale iterative jobs.
  *
  * Opt in per session:
  * {{{
  *   spark.sparkContext.setCheckpointDir("hdfs://…/checkpoints")
  *   spark.conf.set(Lineage.ReliableCheckpointsConf, "true")
  * }}}
  */
object Lineage {

  /** Session conf key: "true" → use reliable checkpoints (requires
    * `SparkContext.setCheckpointDir`).
    */
  val ReliableCheckpointsConf = "spark.graft.reliableCheckpoints"

  /** Materialize `df` and truncate its lineage, honoring the session's
    * checkpoint mode.
    */
  def truncate(df: DataFrame): DataFrame = {
    val session  = df.sparkSession
    val reliable = session.conf.get(ReliableCheckpointsConf, "false").toBoolean
    if (!reliable) df.localCheckpoint()
    else if (session.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$ReliableCheckpointsConf=true requires SparkContext.setCheckpointDir(<reliable storage path>)"
      )
    else df.checkpoint()
  }

  /** Floor `df`'s partition count at the session's default parallelism
    * BEFORE a per-row-expensive derivation (shingle hashing, MinHash
    * digests): a small corpus arrives from the scan as ONE sub-128MB
    * split, so the expensive pass — and every stage until the first
    * exchange — runs on ONE core while the rest idle (measured: the
    * whole q_split_leakage_safe family flat from 8→32 cores). The
    * repartition is CONDITIONAL on the planned scan parallelism, so at
    * real scale (inputs already ≥ cores' worth of splits) it is a
    * no-op — no shuffle added; when it does fire it shuffles only the
    * projected input columns, bytes that are small precisely when it
    * fires. Results are partitioning-independent (set/hash semantics),
    * and keyless round-robin repartition is retry-deterministic
    * (sort-before-repartition, SPARK-23207).
    *
    * The count comes from the PLANNED query ([[plannedPartitions]]), not
    * `df.rdd`: on an adaptive plan with exchanges `.rdd` runs every
    * upstream shuffle to finalize the plan, and the caller's action then
    * runs them again. Streaming frames pass through unchanged (they have
    * no `.rdd` and their partitioning is the source's per trigger).
    */
  def fanOutSmall(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df
    else plannedPartitions(df) match {
      case Some(n) if n < target => df.repartition(target)
      case _                     => df
    }
  }

  /** How many partitions `df` will produce, read from its physical plan
    * without running anything: an exchange or other known output
    * partitioning gives its count, a union sums its children, an
    * operator that keeps its input's partitioning takes its widest
    * child's, and a leaf scan counts the splits of the RDD it would read
    * (file listing and split planning only, no Spark job). For an
    * adaptive plan this is the initial plan, before any stage runs, so
    * a post-shuffle count is the configured shuffle partitions, not the
    * coalesced one. None when a leaf cannot be sized that way (a scan
    * still waiting on a dynamic-pruning subquery).
    */
  private def plannedPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case u: UnionExec             => u.children.map(count).sum
      case _ => p.outputPartitioning match {
        case _: UnknownPartitioning =>
          if (p.children.nonEmpty) p.children.map(count).max
          else p match {
            case c: CodegenSupport => c.inputRDDs().map(_.getNumPartitions).sum
            case leaf              => leaf.execute().getNumPartitions
          }
        case known => known.numPartitions
      }
    }
    scala.util.Try(count(df.queryExecution.executedPlan)).toOption
  }

  /** [[truncate]] plus an explicit RELEASE handle for the checkpoint's
    * storage. Checkpointed blocks are pinned (a truncated frame cannot be
    * recomputed), so an iterative operator that truncates per round and
    * never releases leaks pinned storage every round — execution memory
    * shrinks, spills grow, and per-round cost climbs until the job crawls
    * (measured: 0.7 s → 134 s per round by round 23 of the old CC loop).
    * Call the handle once the NEXT round's checkpoint is materialized and
    * nothing will read this frame again.
    */
  def truncateReleasable(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = truncate(df)
    val rdds = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    (cp, () => { rdds.foreach(_.unpersist(false)); () })
  }
}
