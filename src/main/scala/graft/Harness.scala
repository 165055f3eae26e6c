package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every main in this repo runs on (Bench, Verify
  * and the `graft.tools` mains), and the box-speed canary they report.
  *
  * `local[cpus]` with `cpus` = `SPARK_GRAFT_CPUS`, else the JVM's
  * available processors; shuffle partitions = cpus; UTC session time
  * zone; no UI; WARN logging; [[SessionTuning.tune]]. Idempotent: a
  * second call returns the running session with the same settings.
  */
object Harness {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SessionTuning.tune(spark)
    spark
  }

  /** Seconds for a fixed pure-Spark workload (range sum through a
    * shuffle), best of 3. Wall time on a shared host swings 2-3x with
    * ambient contention, so a timing is only comparable to another
    * divided by the canary taken beside it.
    */
  def canary(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 50000000L, 1, 32)
      .selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v").count()
    (System.nanoTime() - t0) / 1e9
  }.min
}
