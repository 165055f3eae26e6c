package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  private def site(frames: String*) = frames.mkString("\n")

  test("the innermost graft frame names the module") {
    val s = site(
      "org.apache.spark.sql.Dataset.isEmpty(Dataset.scala:650)",
      "graft.plans.SelfRefClosure$.reachableKeys(FilterPropagation.scala:180)",
      "graft.plans.FilterPropagation$.computeFilteredTables(FilterPropagation.scala:60)",
      "graft.Graft.plan(Graft.scala:63)",
      "graft.Graft.run(Graft.scala:93)",
      "graftbench.SubsetCopy.op(CopyWorkloads.scala:100)")
    assert(Modules.moduleOf(s) == "plans")
  }

  test("orchestrator, sink, source and operator frames") {
    assert(Modules.moduleOf(site("graft.Graft.$anonfun$run$4(Graft.scala:107)", "scala.concurrent.Future$.apply")) == "Graft")
    assert(Modules.moduleOf(site("graft.sinks.JdbcUpsertSink$.write(JdbcUpsertSink.scala:260)", "graft.Graft.runJdbc")) == "sinks")
    assert(Modules.moduleOf("graft.sources.JdbcCatalog$.readTable(JdbcCatalog.scala:110)") == "sources")
    assert(Modules.moduleOf("graft.operators.IndexStore$.appendBatchExactlyOnce(IndexStore.scala:1700)") == "IndexStore")
    assert(Modules.moduleOf("graft.operators.Dedup$.matchVsPersistedIndex(Dedup.scala:1730)") == "Dedup")
    assert(Modules.moduleOf("graft.operators.CorpusPipeline$.$anonfun$maintainIndexes$2(CorpusPipeline.scala:330)") == "CorpusPipeline")
    assert(Modules.moduleOf("graft.operators.TopK$.topK(TopK.scala:10)") == "operators")
    assert(Modules.moduleOf("graft.streaming.EventStream$.run(EventStream.scala:10)") == "streaming")
  }

  test("frames with a loader prefix or an 'at' prefix still map") {
    assert(Modules.moduleOf("\tat app//graft.plans.Lineage$.truncate(Lineage.scala:36)") == "plans")
    assert(Modules.moduleOf("app//graft.Graft.run(Graft.scala:93)") == "Graft")
  }

  test("the benchmark's own frames and Spark's never count") {
    assert(Modules.moduleOf(site("org.apache.spark.rdd.RDD.count(RDD.scala:1)", "graftbench.Main$.main(Main.scala:1)")) ==
      Modules.Unattributed)
    assert(Modules.moduleOf("") == Modules.Unattributed)
    assert(Modules.moduleOf(null) == Modules.Unattributed)
  }
}
