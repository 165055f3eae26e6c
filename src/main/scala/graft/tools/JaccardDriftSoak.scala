package graft.tools

import graft.operators.{Dedup, IndexStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures Jaccard prefix-index selectivity decay under APPEND DRIFT and
  * its cure — the SCALE.md evidence for
  * `compactJaccardIndex(refresh = RefreshMode.Auto)`, the
  * [[IvfRecallSoak]] twin for the set-similarity index.
  *
  * The failure mode: the df-order dictionary is frozen at build, so
  * tokens that were RARE then (→ chosen into every prefix that sees
  * them) but become COMMON under appends keep their giant posting lists
  * in the prefix filter — candidate fan-out grows with the corpus while
  * the result set doesn't. The soak synthesizes that drift (three
  * `riser` tokens: singleton at build, in EVERY appended doc), then
  * measures the same probe batch against:
  *
  *   frozen    — the appended index served as-is,
  *   refreshed — after `compactJaccardIndex(refresh = Always)`,
  *   fresh     — a from-scratch build on the union (the bound).
  *
  * Columns: measured dictionary drift (the Auto trigger), riser posting
  * rows (prefix mass the frozen order leaks), probe candidate pairs
  * (the quantity selectivity is ABOUT), probe wall seconds. Content is
  * asserted identical across all three (the refresh contract).
  *
  * Usage: runMain graft.tools.JaccardDriftSoak [scales] [mode]
  * (default 1,4 uniform; scale s = 10000·s build docs + 10000·s drifted
  * appends). `mode = skew` runs the HOSTILE-shingle variant: mid tokens
  * drawn from a power-law (a handful of head tokens own most posting
  * mass — prefix filtering's hardest regime) AND a fixed boilerplate
  * phrase planted in ~25%% of every segment's docs (the ScaleSynth
  * hot-shingle axis). The drift trigger and the refreshed-probe bound
  * must hold there too, not just under uniform token traffic.
  */
object JaccardDriftSoak {

  def main(args: Array[String]): Unit = {
    val scales = (if (args.length > 0) args(0) else "1,4").split(",").map(_.trim.toInt)
    val skew   = args.length > 1 && args(1) == "skew"
    val spark = graft.Harness.session()
    import spark.implicits._

    // Build doc i: 4 commons, 3 of 64 mid tokens, 1 unique.
    // Appended doc i: 4 commons, 5 mids, r1..r3 (the drift mass).
    // Same shapes as the IndexLifecycleSpec fixture, scaled.
    //
    // skew mode: mids come from a CUBED power-law over the 64-token
    // space (head tokens own ~most of the posting mass), and every
    // id % 4 == 0 doc additionally carries the fixed boilerplate phrase
    // b1 b2 b3 — planted hot shingles in BOTH eras, the regime where
    // prefix selectivity is most fragile.
    def mid(j: Int): org.apache.spark.sql.Column =
      if (!skew) concat(lit("m"), pmod(col("id") + j, lit(64)))
      else concat(lit("m"), floor(pow(
        pmod(xxhash64(col("id") + j), lit(1000L)).cast("double") / 1000.0, 3.0) * 64).cast("long"))
    def boiler: org.apache.spark.sql.Column =
      if (!skew) array()
      else when(pmod(col("id"), lit(4)) === 0, array(lit("b1"), lit("b2"), lit("b3")))
        .otherwise(array())
    def buildSets(n: Long): DataFrame =
      spark.range(1, n + 1).select(col("id").as("doc_id"),
        array_distinct(flatten(array(
          array((1 to 4).map(c => lit(s"c$c")): _*),
          array((0 to 2).map(mid): _*),
          boiler,
          array(concat(lit("u"), col("id")))))).as("bg"))
    def appendSets(n: Long): DataFrame =
      spark.range(n + 1, 2 * n + 1).select(col("id").as("doc_id"),
        array_distinct(flatten(array(
          array((1 to 4).map(c => lit(s"c$c")): _*),
          array((0 to 4).map(mid): _*),
          boiler,
          array(lit("r1"), lit("r2"), lit("r3"))))).as("bg"))
    // Probe batch: 200 docs in the appended shape (where the drifted
    // posting lists hit), ids disjoint from the corpus.
    def probeSets(n: Long): DataFrame =
      spark.range(10 * n, 10 * n + 200).select(col("id").as("doc_id"),
        array_distinct(flatten(array(
          array((1 to 4).map(c => lit(s"c$c")): _*),
          array((0 to 4).map(mid): _*),
          boiler,
          array(lit("r1"), lit("r2"), lit("r3"))))).as("bg"))

    scales.foreach { s =>
      val n     = 10000L * s
      val dir   = java.nio.file.Files.createTempDirectory(s"jacdrift_x$s").toString + "/idx"
      val probe = graft.plans.Lineage.truncate(probeSets(n))

      Dedup.persistJaccardIndex(buildSets(n), "bg", "doc_id", dir, thresholdMilli = 600)
      Dedup.persistJaccardIndex(appendSets(n), "bg", "doc_id", dir, thresholdMilli = 600, append = true)
      val drift = Dedup.jaccardDictDrift(spark, dir)

      def riserRows(d: String): Long =
        IndexStore.readRel(spark, IndexStore.dataDir(spark, d), "postings", "bucket")
          .where(col("tok").isin("r1", "r2", "r3")).count()
      // Order-independent content checksum: the refresh contract is that
      // the RESULT SET never moves, only its cost.
      def measure(d: String): (Long, Long, Double, Long) = {
        val t0   = System.nanoTime()
        val rows = Dedup.matchVsJaccardIndex(probe, "bg", "doc_id", d)
          .agg(count(lit(1)),
            bit_xor(xxhash64(col("doc_id"), col("matched_id"), col("jaccard_milli")))).head
        (rows.getLong(0), rows.getLong(1), (System.nanoTime() - t0) / 1e9, riserRows(d))
      }

      val candFrozen = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", dir)
      val (nFrozen, hFrozen, tFrozen, rFrozen) = measure(dir)
      Dedup.compactJaccardIndex(spark, dir, refresh = Dedup.RefreshMode.Always)
      val candRef = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", dir)
      val (nRef, hRef, tRef, rRef) = measure(dir)

      val freshDir = java.nio.file.Files.createTempDirectory(s"jacdrift_fresh_x$s").toString + "/idx"
      Dedup.persistJaccardIndex(
        buildSets(n).unionByName(appendSets(n)), "bg", "doc_id", freshDir, thresholdMilli = 600)
      val candFresh = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", freshDir)
      val (nFresh, hFresh, tFresh, rFresh) = measure(freshDir)

      require(nFrozen == nRef && nRef == nFresh && hFrozen == hRef && hRef == hFresh,
        s"result-set mismatch: frozen=($nFrozen,$hFrozen) refreshed=($nRef,$hRef) fresh=($nFresh,$hFresh)")
      println(f"[jacdrift] ${if (skew) "skew" else "unif"} x$s%-3d corpus=${2 * n}%8d drift=$drift%.3f " +
        f"riserPostings: frozen=$rFrozen refreshed=$rRef fresh=$rFresh  " +
        f"candidates: frozen=$candFrozen refreshed=$candRef fresh=$candFresh  " +
        f"probe(200 docs): rows=$nFrozen wall: frozen=$tFrozen%.1f s refreshed=$tRef%.1f s fresh=$tFresh%.1f s")

      // EXCISED serving variant (skew mode only — that is where planted
      // boilerplate keeps absolute candidate mass high for EVERY order;
      // the r14 ladder's residual). Same incremental construction, with
      // build-time excision at frac 0.2: the b1-b3 boilerplate (25% of
      // docs), the c commons, and the power-law head mids all excise;
      // probes excise by the index's frozen hot set automatically. The
      // refresh story above cures ORDER; this row shows the MASS collapse
      // excision adds on top. Content is gate-pinned vs the DuckDB
      // excised oracle (q_jaccard_serve_excised); the soak meters cost.
      if (skew) {
        val exDir = java.nio.file.Files.createTempDirectory(s"jacdrift_ex_x$s").toString + "/idx"
        Dedup.persistJaccardIndex(buildSets(n), "bg", "doc_id", exDir, thresholdMilli = 600,
          exciseBoilerplateFrac = Some(0.2))
        Dedup.persistJaccardIndex(appendSets(n), "bg", "doc_id", exDir, thresholdMilli = 600,
          append = true)
        val candEx = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", exDir)
        val (nEx, _, tEx, _) = measure(exDir)
        // Excision alone removes the BOILERPLATE mass; the drifted riser
        // mass is the refresh's territory — composed, both knobs cure
        // their own share of the candidate bill.
        Dedup.compactJaccardIndex(spark, exDir, refresh = Dedup.RefreshMode.Always)
        val candExRef = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", exDir)
        val (nExRef, _, tExRef, _) = measure(exDir)
        // The bound: a fresh excised build over the union sees the risers'
        // TRUE frequency (50% of the union > frac) and excises them too.
        val exFresh = java.nio.file.Files.createTempDirectory(s"jacdrift_exf_x$s").toString + "/idx"
        Dedup.persistJaccardIndex(buildSets(n).unionByName(appendSets(n)), "bg", "doc_id",
          exFresh, thresholdMilli = 600, exciseBoilerplateFrac = Some(0.2))
        val candExFresh = Dedup.jaccardProbeCandidateCount(probe, "bg", "doc_id", exFresh)
        val (nExFresh, _, tExFresh, _) = measure(exFresh)
        println(f"[jacdrift] skew x$s%-3d EXCISED(0.2): candidates: frozen=$candEx " +
          f"(${100.0 * candEx / math.max(1L, candFrozen)}%.1f%% of plain-frozen) " +
          f"refreshed=$candExRef (${100.0 * candExRef / math.max(1L, candFrozen)}%.1f%%) " +
          f"freshExcised=$candExFresh (${100.0 * candExFresh / math.max(1L, candFrozen)}%.1f%%)  " +
          f"rows: frozen=$nEx refreshed=$nExRef freshEx=$nExFresh  " +
          f"wall: $tEx%.1f/$tExRef%.1f/$tExFresh%.1f s")
      }
    }
    spark.stop()
  }
}
