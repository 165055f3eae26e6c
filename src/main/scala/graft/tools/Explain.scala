package graft.tools

/** Prints formatted physical plans for selected gate queries — the
  * plan-audit loop for pushdown / broadcast / whole-stage-codegen checks.
  * Usage: runMain graft.tools.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
    else Seq("q_scan_filter_project", "q_agg_group", "q_semijoin", "q_propagation_2hop", "q_topn")
    val spark = graft.Harness.session()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
