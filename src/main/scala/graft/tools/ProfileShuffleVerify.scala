package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Phase-by-phase timing of the shuffled verification path (candidate
  * volume, distinct cost, size-prefilter selectivity, array-join cost) —
  * the measurement behind the formulation chosen in
  * [[graft.operators.Dedup]]'s `verifyPairsShuffled`.
  */
object ProfileShuffleVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session()

    val df   = spark.read.parquet(s"$sfDir/documents.parquet")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = time("docs materialize") {
      graft.plans.Lineage.truncate(
        df.select(col("doc_id").cast("long").as("doc_id"), Dedup.hashedShingles(col("text"), 3).as("shs"))
      )
    }
    println("[profile] docs=" + docs.count() +
      " total shingles=" + docs.agg(sum(size(col("shs")))).head.getLong(0))

    val rawCand = time("raw candidates (banded)") {
      graft.plans.Lineage.truncate(Dedup.minHashLshCandidatesRawForProfile(df, "text", "doc_id", 3, 32, 4))
    }
    println("[profile] raw pairs=" + rawCand.count())
    val cand = time("distinct") { graft.plans.Lineage.truncate(rawCand.distinct()) }
    println("[profile] distinct pairs=" + cand.count())

    val sizes = docs.select(col("doc_id"), size(col("shs")).as("sz"))
    val pruned = time("size prefilter") {
      graft.plans.Lineage.truncate(
        cand
          .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
          .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
          .where(least(col("sz_a"), col("sz_b")).cast("double") / greatest(col("sz_a"), col("sz_b")) >= 0.8)
          .select("doc_a", "doc_b")
      )
    }
    println("[profile] pruned pairs=" + pruned.count())

    val a = docs.toDF("doc_a", "shs_a")
    val b = docs.toDF("doc_b", "shs_b")
    val j1 = time("join A only") { graft.plans.Lineage.truncate(pruned.join(a, "doc_a")) }
    println("[profile] j1 rows=" + j1.count())
    val j2 = time("join B only") { graft.plans.Lineage.truncate(j1.join(b, "doc_b")) }
    println("[profile] j2 rows=" + j2.count())
    j2.select(col("doc_a"), col("doc_b"), Dedup.jaccardForProfile(col("shs_a"), col("shs_b")).as("j"))
      .where(col("j") >= 0.8).count() // warm
    val n = time("kernel UDF") {
      j2.select(col("doc_a"), col("doc_b"), Dedup.jaccardForProfile(col("shs_a"), col("shs_b")).as("j"))
        .where(col("j") >= 0.8)
        .count()
    }
    println("[profile] verified pairs=" + n)
    val n2 = time("kernel UDF nondeterministic") {
      val u = Dedup.jaccardForProfileNondet(col("shs_a"), col("shs_b"))
      j2.select(col("doc_a"), col("doc_b"), u.as("j")).where(col("j") >= 0.8).count()
    }
    println("[profile] verified pairs (nondet)=" + n2)
    val n3 = time("kernel array_intersect") {
      val inter = size(array_intersect(col("shs_a"), col("shs_b"))).cast("double")
      val jac   = inter / (size(col("shs_a")) + size(col("shs_b")) - inter)
      j2.select(col("doc_a"), col("doc_b"), jac.as("j")).where(col("j") >= 0.8).count()
    }
    println("[profile] verified pairs (intersect)=" + n3)
    spark.stop()
  }
}
