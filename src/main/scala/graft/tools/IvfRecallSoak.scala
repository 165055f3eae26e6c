package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures IVF recall decay under APPEND DRIFT and its cure — the
  * SCALE.md evidence for `compactIvfIndex(retrain = Always)`.
  *
  * The failure mode: [[Similarity.appendToIvfIndex]] assigns new vectors
  * to the index's FROZEN centroids. While appends come from the same
  * distribution the quantizer trained on, that is exactly right; when a
  * NEW DOMAIN enters the corpus (the embedding story of a crawl source
  * change), its vectors crowd into whichever frozen cells sit closest,
  * cell balance decays, and an nprobe-bounded probe starts missing true
  * neighbors — silently, because every individual probe still returns k
  * rows. This soak synthesizes that drift (appended batches get a
  * constant offset on half the dimensions), then measures recall@k of
  * the SAME probe against:
  *
  *   frozen    — the appended index served as-is,
  *   retrained — after `compactIvfIndex(retrain = Always)` (Lloyd re-run
  *               on the survivors, new centroids installed in the same
  *               atomic generation flip),
  *   fresh     — a from-scratch train+build on the union corpus (the
  *               upper bound retraining aims for).
  *
  * Exact top-k comes from [[Similarity.bruteForceTopK]]; recall is
  * [[Similarity.recallAtK]]. Cell imbalance (max/mean cell population)
  * is reported alongside — it is the observable that should trigger a
  * retrain in production.
  *
  * Usage: runMain graft.tools.IvfRecallSoak <sfDir> [appendScales]
  *   e.g.  IvfRecallSoak /root/testdata/sf0.1 1,10
  * Appends <scale> drifted copies of the base corpus, so ×10 means the
  * drifted mass outweighs the trained mass 10:1 — the decay regime.
  */
object IvfRecallSoak {

  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val scales = (if (args.length > 1) args(1) else "1,10").split(",").map(_.trim.toInt)
    val spark = graft.Harness.session()
    import spark.implicits._

    val base = graft.Tpch.table(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .cache()
    val n     = base.count()
    val dim   = base.select(size(col("embedding"))).head.getInt(0)
    val nlist = 64

    // Drifted copy c: ids shifted past the base range, a +3.0 offset on
    // the first half of the dimensions — a coherent new mode, far from
    // every base-trained centroid, not just noise.
    def drifted(c: Int): DataFrame = {
      val u = udf { (v: Array[Float]) =>
        val o = v.clone()
        var i = 0
        while (i < o.length / 2) { o(i) = o(i) + 3.0f; i += 1 }
        o
      }
      base.select((col("vec_id") + lit(c.toLong * n)).as("vec_id"), u(col("embedding")).as("embedding"))
    }

    scales.foreach { s =>
      val appended = (1 to s).map(drifted).reduce(_.unionAll(_))
      val union    = graft.plans.Lineage.truncate(base.unionAll(appended))
      // Queries: a fixed hash-sample of the DRIFTED mass (50 vectors) —
      // the new domain is where frozen-centroid recall decays.
      val queries = graft.plans.Lineage.truncate(
        appended.where(col("vec_id") % lit(math.max(1L, s * n / 50)) === 1))
      val exact = graft.plans.Lineage.truncate(
        Similarity.bruteForceTopK(union, queries, "vec_id", "embedding", k = 10,
          guard = Similarity.ExactGuard.MaxWork(4L * 1000 * 1000 * 1000)))

      def recallOf(approx: DataFrame): Double = {
        val r = Similarity.recallAtK(approx, exact)
          .agg(sum("n_hits").cast("double"), sum("n_exact").cast("double")).head
        r.getDouble(0) / r.getDouble(1)
      }
      // The production trigger itself ([[Similarity.RetrainMode.Auto]]
      // evaluates exactly this) — the soak measures the same number an
      // auto-compact would decide on.
      def imbalance(dir: String): Double = Similarity.ivfCellImbalance(spark, dir)
      // The COST side of recall: rows the pruned probe actually scans per
      // query (sum of its nprobe cells' populations). Crowded frozen
      // cells can show PERFECT recall precisely because the probe
      // degenerates to a near-full scan — recall without this column is
      // meaningless under drift.
      // Probe at CONSTANT CELL COVERAGE (nprobe/nlist = 1/16, the base
      // 4-of-64 ratio): a grown quantizer is probed with proportionally
      // more (smaller) cells, so recall compares apples-to-apples and
      // the cost column isolates cell GEOMETRY, not coverage choice.
      def nprobeOf(nl: Int): Int = math.max(4, (nl + 15) / 16)
      def scannedPerQuery(dir: String, nprobe: Int): Double = {
        val dd    = graft.operators.IndexStore.dataDir(spark, dir)
        val cents = Similarity.loadCentroids(spark, s"$dd/_graft_centroids")
        val bc    = spark.sparkContext.broadcast(cents)
        val probeU = udf { (v: Array[Float]) =>
          val vd = v.map(_.toDouble)
          bc.value.indices
            .map(c => (vd.zip(bc.value(c)).map(p => p._1 * p._2).sum /
              (math.sqrt(vd.map(x => x * x).sum) * math.sqrt(bc.value(c).map(x => x * x).sum)), c))
            .sortBy { case (s0, c) => (-s0, c) }.take(nprobe).map(_._2).toArray
        }
        val counts = graft.operators.IndexStore.readRel(spark, dd, "", "cell").groupBy("cell").count()
        val probed = queries.select(col("vec_id").as("qid"), explode(probeU(col("embedding"))).as("cell"))
        val total = probed.join(counts, "cell").agg(sum("count")).head.getLong(0).toDouble
        total / queries.count()
      }

      // Frozen: train on base only, append the drifted mass.
      val frozenDir = java.nio.file.Files.createTempDirectory(s"ivf_recall_frozen_x$s").toString
      val cents     = Similarity.ivfCentroids(base, "vec_id", "embedding", nlist)
      Similarity.persistIvfIndex(base, "vec_id", "embedding", cents, frozenDir)
      Similarity.appendToIvfIndex(appended, "vec_id", "embedding", frozenDir)
      val rFrozen    = recallOf(Similarity.ivfTopKFromPersisted(
        spark, frozenDir, queries, "vec_id", "embedding", k = 10, nprobe = nprobeOf(nlist)))
      val imbFrozen  = imbalance(frozenDir)
      val scanFrozen = scannedPerQuery(frozenDir, nprobeOf(nlist))

      // Retrained: the SAME index after compactIvfIndex(retrain = Always).
      // The retrain RE-SIZES the quantizer to the grown corpus
      // (retrainNlistFor: sqrt-scaled, bounded growth) — the column the
      // frozen-nlist regime was missing: without it, a x10-grown corpus
      // re-balances into cells 10x fatter and probe cost scales with the
      // corpus even at perfect recall.
      Similarity.compactIvfIndex(spark, frozenDir, retrain = Similarity.RetrainMode.Always)
      val nlistGrown    = Similarity.ivfIndexNlist(spark, frozenDir)
      val rRetrained    = recallOf(Similarity.ivfTopKFromPersisted(
        spark, frozenDir, queries, "vec_id", "embedding", k = 10, nprobe = nprobeOf(nlistGrown)))
      val imbRetrained  = imbalance(frozenDir)
      val scanRetrained = scannedPerQuery(frozenDir, nprobeOf(nlistGrown))

      // Fresh: train + build on the union from scratch at the SAME grown
      // geometry (a from-scratch build would size nlist by the same
      // sqrt rule) — the upper bound the retrain aims for, in both
      // recall and probe cost.
      val freshDir   = java.nio.file.Files.createTempDirectory(s"ivf_recall_fresh_x$s").toString
      val centsFresh = Similarity.ivfCentroids(union, "vec_id", "embedding", nlistGrown)
      Similarity.persistIvfIndex(union, "vec_id", "embedding", centsFresh, freshDir)
      val rFresh    = recallOf(Similarity.ivfTopKFromPersisted(
        spark, freshDir, queries, "vec_id", "embedding", k = 10, nprobe = nprobeOf(nlistGrown)))
      val scanFresh = scannedPerQuery(freshDir, nprobeOf(nlistGrown))

      val corpusN = (s + 1) * n
      println(f"[ivfrecall] x$s%-3d corpus=$corpusN%8d dim=$dim nlist=$nlist->$nlistGrown nprobe=${nprobeOf(nlist)}->${nprobeOf(nlistGrown)} " +
        f"recall@10: frozen=$rFrozen%.3f retrained=$rRetrained%.3f fresh=$rFresh%.3f  " +
        f"scanned/query: frozen=${scanFrozen / corpusN}%.3f retrained=${scanRetrained / corpusN}%.3f fresh=${scanFresh / corpusN}%.3f (of corpus)  " +
        f"imbalance(max/mean): frozen=$imbFrozen%.1f retrained=$imbRetrained%.1f")
    }
    spark.stop()
  }
}
