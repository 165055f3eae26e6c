package graft.tools

/** Runs selected gate queries against ScaleSynth corpora at increasing
  * multipliers and reports wall time, output rows, and the largest
  * "Broadcasting large task binary" the scheduler warned about — the two
  * signals SCALE.md's near-linear claims are graded on. Times are
  * best-of-`reps` (this box has ±20-25% run-to-run noise).
  *
  * Usage: runMain graft.tools.ScaleSoak <srcSfDir> <workDir> <mults-csv> <queries-csv> [reps]
  * Example: ScaleSoak /root/testdata/sf0.1 target/scale 1,3,10 q_profile,q_join_agg 2
  */
object ScaleSoak {

  /** Captures DAGScheduler "Broadcasting large task binary with size N KiB/MiB"
    * warnings via a log4j2 appender — the only place Spark surfaces compiled
    * task size. No warning at all means every binary stayed under the 1000 KiB
    * warn threshold (itself the "flat" outcome the soak wants).
    */
  private object TaskBinaryWatch {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property

    @volatile var maxKib: Double = 0.0
    private val pattern = """Broadcasting large task binary with size ([0-9.]+) (KiB|MiB)""".r.unanchored

    private val appender = new AbstractAppender(
      "graft-task-binary-watch", null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: org.apache.logging.log4j.core.LogEvent): Unit =
        event.getMessage.getFormattedMessage match {
          case pattern(size, unit) =>
            val kib = size.toDouble * (if (unit == "MiB") 1024 else 1)
            if (kib > maxKib) maxKib = kib
          case _ => ()
        }
    }

    def install(): Unit = {
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      cfg.getRootLogger.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
    }

    def reset(): Unit = maxKib = 0.0
  }

  def main(args: Array[String]): Unit = {
    val srcDir  = args(0)
    val workDir = args(1)
    val mults   = args(2).split(",").map(_.trim.toInt).toSeq
    val queries = args(3).split(",").map(_.trim).toSeq
    val reps    = if (args.length > 4) args(4).toInt else 2
    val skew    = args.length > 5 && args(5) == "skew"

    val spark = graft.Harness.session()
    TaskBinaryWatch.install()

    // The key distribution is part of the corpus identity: skewed corpora
    // get their own directories, so a soak against a workDir that already
    // holds uniform corpora can never silently benchmark uniform data
    // under a "skew" label (or vice versa).
    def dirOf(m: Int) = s"$workDir/x$m${if (skew) "_skew" else ""}"

    // Build any missing corpus, largest last so failures surface early.
    mults.foreach { m =>
      val dir = dirOf(m)
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        println(s"[soak] synthesizing x$m into $dir${if (skew) " (skewed keys)" else ""} ...")
        ScaleSynth.synthesize(spark, srcDir, dir, m, skewKeys = skew)
      }
    }

    // Warmup: JIT + codegen on the smallest corpus.
    queries.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, dirOf(mults.min)).count()
      catch { case e: Throwable => println(s"[soak] warmup $q failed: ${e.getMessage}") }
      finally graft.GateCache.releasePrivateCopies()
    }

    case class Cell(sec: Double, rows: Long, binKib: Double)
    val results = // query -> mult -> cell
      for (q <- queries) yield q -> (for (m <- mults) yield {
        val dir = dirOf(m)
        val fn  = graft.SparkEntry.queries(q)
        val runs = (1 to reps).map { _ =>
          TaskBinaryWatch.reset()
          val t0   = System.nanoTime()
          val rows = fn(spark, dir).count()
          val dt   = (System.nanoTime() - t0) / 1e9
          graft.GateCache.releasePrivateCopies() // materialized; outside the timer
          Cell(dt, rows, TaskBinaryWatch.maxKib)
        }
        val best = runs.minBy(_.sec)
        println(f"[soak] $q%-28s x$m%-3d ${best.sec}%8.2f s  ${best.rows}%10d rows  taskbin ${best.binKib}%7.0f KiB")
        m -> best
      }).toMap

    val lo = mults.min; val hi = mults.max
    println("\n| query | " + mults.map(m => s"x$m s").mkString(" | ") + s" | ratio (x$hi/x$lo vs ideal) | rows ratio | max taskbin KiB |")
    results.foreach { case (q, byMult) =>
      val tLo = byMult(lo).sec; val tHi = byMult(hi).sec
      val ideal = hi.toDouble / lo
      val times = mults.map(m => f"${byMult(m).sec}%.2f").mkString(" | ")
      val rowsR = byMult(hi).rows.toDouble / math.max(1, byMult(lo).rows)
      val maxBin = byMult.values.map(_.binKib).max
      println(f"| $q | $times | ${tHi / tLo}%.2f vs $ideal%.0f | $rowsR%.2f | $maxBin%.0f |")
    }
    spark.stop()
  }
}
