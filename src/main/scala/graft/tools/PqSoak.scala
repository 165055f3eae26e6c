package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the product-quantization tradeoff the `q_knn_pq_*` gates pin
  * only the exact half of: per-vector memory (the reason PQ exists at
  * 10⁹ vectors — embeddings stop fitting executor memory long before
  * compute runs out), ADC-only recall@k vs the exact ranking (the
  * quality cost of the m-lookup approximation, NO rescore), and probe
  * wall time brute vs two-stage vs IVF-PQ.
  *
  * Usage: runMain graft.tools.PqSoak <sfDir> [copies]
  * `copies` > 1 appends substitution-shifted copies of the corpus (ids
  * offset, components rotated) to measure at ×N.
  */
object PqSoak {

  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val copies = if (args.length > 1) args(1).toInt else 1
    val spark = graft.Harness.session()

    val base = graft.Tpch.table(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val maxId = base.agg(max(col("vec_id"))).head.getLong(0)
    val corpus = (0 until copies).map { c =>
      if (c == 0) base
      else base.select((col("vec_id") + lit(c * (maxId + 1))).as("vec_id"),
        // Component rotation keeps the value distribution, moves identity.
        expr(s"concat(slice(embedding, ${c % 63 + 1} + 1, 9999), slice(embedding, 1, ${c % 63 + 1}))")
          .cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _).cache()
    val n    = corpus.count()
    val dims = corpus.select(size(col("embedding"))).head.getInt(0)
    val queries = corpus.where("vec_id < 20").cache(); queries.count()

    val model = Similarity.pqTrain(corpus, "vec_id", "embedding", m = 16, k = 64)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", model).cache()
    codes.count()

    def time[T](f: => T): (Double, T) = {
      val best = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
      }
      best.minBy(_._1)
    }

    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10,
      guard = Similarity.ExactGuard.Off).cache()
    val (tBrute, _) = time(exact.count())

    // ADC-ONLY ranking (no rescore): shortlist = k, rescore trivial.
    val adcOnly = Similarity.pqAdcTopK(corpus, queries, "vec_id", "embedding", model,
      k = 10, shortlist = 10)
    val (tAdc, _) = time(adcOnly.count())
    def recallOf(approx: DataFrame): Double = {
      val r = Similarity.recallAtK(approx, exact)
        .agg(sum("n_hits").cast("double"), sum("n_exact").cast("double")).head
      r.getDouble(0) / r.getDouble(1)
    }
    val recallAdc = recallOf(adcOnly)

    val twoStage = Similarity.pqAdcTopK(corpus, queries, "vec_id", "embedding", model,
      k = 10, shortlist = 128)
    val (tTwo, _) = time(twoStage.count())
    val recallTwo = recallOf(twoStage)

    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      nlist = math.max(16, math.min(256, math.round(4 * math.sqrt(n.toDouble)).toInt)))
    val ivfPq = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", cents, model,
      k = 10, nprobe = math.max(2, cents.length / 16), shortlist = 128)
    val (tIvfPq, _) = time(ivfPq.count())
    val recallIvfPq = recallOf(ivfPq)

    val bytesExact = dims * 4
    val bytesPq    = model.m + 4 // one byte per subspace + the float norm
    println(f"[pqsoak] n=$n%7d dims=$dims m=${model.m} k=${model.k} " +
      f"bytes/vec exact=$bytesExact pq=$bytesPq (x${bytesExact.toDouble / bytesPq}%.0f) " +
      f"wall: brute=$tBrute%.2f adcOnly=$tAdc%.2f twoStage=$tTwo%.2f ivfPq(nlist=${cents.length},nprobe=${math.max(2, cents.length / 16)})=$tIvfPq%.2f s " +
      f"recall@10: adcOnly=$recallAdc%.3f twoStage=$recallTwo%.3f ivfPq=$recallIvfPq%.3f")

    // ---- codebook DRIFT: frozen vs refreshed vs fresh --------------------
    // A coherent out-of-distribution mode (components 50 + structured
    // residue — nothing the build-time books ever saw) appends to a
    // persisted IVF-PQ index under the FROZEN books; the measurement is
    // ADC-ONLY recall (shortlist = k, no rescore to hide behind) for
    // queries drawn from the drifted mode, against the exact ranking
    // over the union. `refreshed` = after compactIvfIndex(pqRefresh =
    // Always) — pqTrain on the survivors riding the rewrite; `fresh` =
    // from-scratch books on the union (the bound the refresh should
    // reach). The drift METER printed beside them is what Auto gates on.
    val shift = n * 2
    val drifted = spark.range(shift, shift + n / 2).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dims - 1}), d -> cast(50 + (id * 7 + d * 3) % 13 AS float))")
        .as("embedding")).cache()
    drifted.count()
    val unionAll = corpus.unionByName(drifted).cache(); unionAll.count()
    val idxDir = java.nio.file.Files.createTempDirectory("pqsoak_drift_").toString + "/idx"
    Similarity.persistIvfPqIndex(corpus, "vec_id", "embedding", cents, model, idxDir)
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", idxDir)
    val meter = Similarity.pqDrift(spark, idxDir)
    val qD = drifted.where(col("vec_id") < shift + 20).cache(); qD.count()
    val exactD = Similarity.bruteForceTopK(unionAll, qD, "vec_id", "embedding", k = 10,
      guard = Similarity.ExactGuard.Off).cache()
    exactD.count()
    def adcRecall(m: Similarity.PqModel): Double = {
      val r = Similarity.recallAtK(
        Similarity.pqAdcTopK(unionAll, qD, "vec_id", "embedding", m, k = 10, shortlist = 10),
        exactD).agg(sum("n_hits").cast("double"), sum("n_exact").cast("double")).head
      r.getDouble(0) / r.getDouble(1)
    }
    val recallFrozen = adcRecall(model)
    val (tRefresh, _) = time(
      Similarity.compactIvfIndex(spark, idxDir, pqRefresh = Similarity.PqRefreshMode.Always))
    val refreshedModel = Similarity.loadPqModel(spark,
      s"${graft.operators.IndexStore.dataDir(spark, idxDir)}/_graft_pq")
    val recallRefreshed = adcRecall(refreshedModel)
    val freshModel = Similarity.pqTrain(unionAll, "vec_id", "embedding", m = 16, k = 64)
    val recallFresh = adcRecall(freshModel)
    println(f"[pqsoak] drift: meter=$meter%.2f (Auto fires > 0.5) ADC-only recall@10 on the drifted mode: " +
      f"frozen=$recallFrozen%.3f refreshed=$recallRefreshed%.3f fresh=$recallFresh%.3f " +
      f"(refresh compact $tRefresh%.2f s, rides the rewrite)")
    spark.stop()
  }
}
