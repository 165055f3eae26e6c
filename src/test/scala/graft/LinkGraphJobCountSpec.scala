package graft

import graft.operators.LinkGraph

/** Spark job counts of one 10-round call of each PageRank variant on a
  * small graph with a dangling node. The three variants share one
  * iteration kernel; the counts pin that none launches more jobs than its
  * own loop did: the plain variant runs no dangling-mass job, and only a
  * `convergeNano` call runs the per-round convergence check.
  */
class LinkGraphJobCountSpec extends SparkSpec {
  import spark.implicits._

  /** Counts under the session settings the library documents. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    SessionTuning.tune(spark)
  }

  describe("Spark jobs per PageRank call") {
    it("plain, stochastic (with and without convergeNano) and personalized, 10 rounds") {
      // 0..7 chain into the sink 8; 8 has no out-edges.
      val sink  = (0L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
      val seeds = Seq(0L, 4L).toDF("node")
      val (_, plain) = jobsDuring(LinkGraph.pageRank(sink, "src", "dst", iterations = 10))
      val (_, stoch) = jobsDuring(LinkGraph.pageRankStochastic(sink, "src", "dst", iterations = 10))
      val (_, conv) = jobsDuring(
        LinkGraph.pageRankStochastic(sink, "src", "dst", iterations = 10, convergeNano = Some(0L)))
      val (_, pers) = jobsDuring(
        LinkGraph.pageRankPersonalized(sink, "src", "dst", seeds, "node", iterations = 10))
      (plain, stoch, conv, pers) shouldBe ((68, 98, 144, 100))
    }
  }
}
