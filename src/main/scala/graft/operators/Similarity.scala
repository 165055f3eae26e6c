package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (query set × corpus —
  * fine when the query side is small/broadcastable). The scale path is
  * deterministic random-hyperplane LSH: vectors sharing a bucket signature
  * are the only candidates, turning top-k into a bucket-local problem.
  */
object Similarity {

  /** Capacity guard for the EXACT baselines ([[bruteForceTopK]],
    * [[Dedup.embeddingNearDuplicates]]) — the same auto-gating pattern as
    * `Dedup.VerifyMode.Auto`, but these operators are exact by contract,
    * so instead of silently delegating to an approximate twin the guard
    * THROWS past the bound and names the scale-safe alternative. `Off`
    * opts out for callers who know their workload.
    */
  sealed trait ExactGuard
  object ExactGuard {
    case object Off                    extends ExactGuard
    case class MaxWork(bound: Long)    extends ExactGuard
  }

  private[operators] def guardWork(guard: ExactGuard, work: => Long, what: String, alternative: String): Unit =
    guard match {
      case ExactGuard.Off => ()
      case ExactGuard.MaxWork(bound) =>
        val w = work
        if (w > bound)
          throw new IllegalStateException(
            s"$what: exact baseline would score $w pairs (> guard bound $bound) — " +
              s"use $alternative (the sub-quadratic scale path) or pass ExactGuard.Off / a larger MaxWork bound"
          )
    }

  /** Cosine similarity of two float vectors, computed in double in index
    * order — a NATIVE Catalyst expression with codegen
    * ([[graft.functions.CosineSimilarity]]), one tier above the Scala UDF
    * it replaced: stays inside whole-stage codegen with no closure
    * serialization or encoder round-trip. (Catalyst higher-order functions
    * remain off the table — interpreted per element, measured ~50× slower
    * on pairwise scans.) The fold order matches the DuckDB oracle's
    * `list_reduce` exactly (0.0 + x == x in IEEE).
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b))
    )
  }

  /** Exact top-k neighbors for each query vector (brute force).
    *
    * Scale notes: `queries` is expected to be small — Spark broadcasts it
    * under AQE; the corpus is never shuffled, each partition scores its
    * rows and the per-query top-k is a k-bounded window. Total work is
    * |queries| × |corpus| cosine evaluations: the default guard probes
    * both counts and throws past 10^9 scored pairs, pointing at
    * [[lshTopK]] — exact APIs refuse to silently not scale.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      includeSelf: Boolean = false,
      guard: ExactGuard = ExactGuard.MaxWork(1000L * 1000 * 1000)
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    guardWork(guard, queries.count() * corpus.count(), "bruteForceTopK", "Similarity.lshTopK")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val joined = q
      .join(c, if (includeSelf) lit(true) else col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    joined
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Hard-negative mining for contrastive/embedding training: per query,
    * the top-k most similar corpus rows whose cosine falls INSIDE
    * `[minCos, maxCos)` — similar enough to be informative negatives,
    * below the near-duplicate band where a "negative" is actually a
    * positive (maxCos should sit under the dedup threshold in use).
    *
    * Exact form: the same |queries| × |corpus| scored-join shape as
    * [[bruteForceTopK]] with the band predicate applied BEFORE the
    * per-query window, so the k-bounded top-k ranks only banded rows. The
    * guard throws past the work budget and points at the celled form.
    */
  def mineHardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCos: Double,
      maxCos: Double,
      guard: ExactGuard = ExactGuard.MaxWork(1000L * 1000 * 1000)
  ): DataFrame = {
    require(minCos < maxCos, s"empty band [$minCos, $maxCos)")
    import org.apache.spark.sql.expressions.Window
    guardWork(guard, queries.count() * corpus.count(), "mineHardNegatives", "Similarity.mineHardNegativesCelled")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .where(col("cosine") >= minCos && col("cosine") < maxCos)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** [[mineHardNegatives]] at corpus scale: candidates come from the
    * query's `nprobe` closest IVF cells (frozen `centroids`), so the scored
    * join touches |queries| × (corpus/nlist)·nprobe rows instead of the
    * full cross product. Mid-band negatives live FARTHER out the cell
    * ranking than nearest neighbors do — size `nprobe` for the band, not
    * for top-1 recall (probing all cells makes it exactly
    * [[mineHardNegatives]], which is how the gate pins it).
    */
  def mineHardNegativesCelled(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCos: Double,
      maxCos: Double,
      centroids: Array[Array[Double]],
      nprobe: Int
  ): DataFrame = {
    require(minCos < maxCos, s"empty band [$minCos, $maxCos)")
    require(nprobe >= 1 && nprobe <= centroids.length, "need 1 <= nprobe <= centroids.length")
    import org.apache.spark.sql.expressions.Window
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val assignU = udf { (v: Array[Float]) => nearestCell(v.map(_.toDouble), bc.value) }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", assignU(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(nearestCells(bc, nprobe)(col("q_vec"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .where(col("cosine") >= minCos && col("cosine") < maxCos)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Maximal-marginal-relevance (Carbonell & Goldstein 1998) diversified
    * top-k: greedily select `selectK` of the query's `poolK` most-similar
    * candidates, each pick maximizing
    *
    *   λ·cos(q, c)  −  (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * — relevance minus redundancy, the standard de-duplicated retrieval
    * head over any dense retriever. λ is the rational `lambdaNum /
    * lambdaDen` and every cosine is quantized to fixed-point pico-units
    * (`floor(cos·10¹² + 0.5)`) BEFORE the greedy, so selection compares
    * INTEGERS: no cross-engine FP-comparison ambiguity anywhere in the
    * argmax (ties break on the smaller id). The DuckDB oracle replays the
    * identical integer greedy as a recursive CTE.
    *
    * Plan shape: the pool build is the guarded brute scan (swap in an ANN
    * pool upstream at corpus scale); the greedy itself is scan-local —
    * one `collect_list` per query bounded by `poolK` rows, then a UDF
    * whose work is O(selectK²·poolK) kernel calls on that bounded state.
    * No driver participation, no second shuffle.
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      poolK: Int,
      selectK: Int,
      lambdaNum: Int = 7,
      lambdaDen: Int = 10,
      guard: ExactGuard = ExactGuard.MaxWork(1000L * 1000 * 1000)
  ): DataFrame = {
    require(selectK >= 1 && selectK <= poolK, s"need 1 <= selectK <= poolK, got $selectK/$poolK")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be a rational in [0, 1], got $lambdaNum/$lambdaDen")
    import org.apache.spark.sql.expressions.Window
    guardWork(guard, queries.count() * corpus.count(), "mmrRerank", "an ANN-built pool + mmrRerank on it")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    val pool = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= poolK)
      .withColumn("cos_fp", floor(col("cosine") * 1e12 + lit(0.5)).cast("long"))

    val (lamP, lamN, kk) = (lambdaNum.toLong, (lambdaDen - lambdaNum).toLong, selectK)
    val greedyU = udf { (cands: Seq[org.apache.spark.sql.Row]) =>
      val ids   = cands.map(_.getLong(0)).toArray
      val vecs  = cands.map(_.getSeq[Float](1).toArray).toArray
      val relFp = cands.map(_.getLong(2)).toArray
      val n       = ids.length
      val chosen  = new Array[Boolean](n)
      val picked  = new Array[Int](math.min(kk, n))
      var step    = 0
      while (step < picked.length) {
        var best      = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!chosen(i)) {
            // coalesce(max over selected, 0): 0 only when nothing is
            // selected yet (step 1 — pure relevance argmax).
            var maxSim = 0L
            var any    = false
            var s      = 0
            while (s < step) {
              val cfp = math.floor(
                graft.functions.CosineKernel.compute(vecs(i), vecs(picked(s))) * 1e12 + 0.5).toLong
              if (!any || cfp > maxSim) { maxSim = cfp; any = true }
              s += 1
            }
            if (!any) maxSim = 0L
            val sc = lamP * relFp(i) - lamN * maxSim
            if (sc > bestScore || (sc == bestScore && best >= 0 && ids(i) < ids(best))) {
              bestScore = sc; best = i
            }
          }
          i += 1
        }
        picked(step) = best
        chosen(best) = true
        step += 1
      }
      picked.zipWithIndex.map { case (idx, r) => (ids(idx), (r + 1).toLong) }.toSeq
    }

    pool
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("c_vec"), col("cos_fp"))).as("cands"))
      .select(col("query_id"), explode(greedyU(col("cands"))).as("sel"))
      .select(col("query_id"), col("sel._1").as("neighbor_id"), col("sel._2").as("rnk"))
  }

  /** Deterministic pseudo-random hyperplane components: ±1 from the MD5
    * stableHash of (plane, dim) — reproducible across runs with no RNG
    * state. Cached per (planes, dims) per executor JVM so the MD5s are paid
    * once, not per row.
    */
  private object Hyperplanes {
    private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
    def signs(planes: Int, dims: Int): Array[Array[Double]] =
      cache.computeIfAbsent(
        (planes, dims),
        _ =>
          Array.tabulate(planes, dims) { (p, d) =>
            if (graft.functions.Anonymizer.stableHash(s"hp$p#$d") % 2 == 0) 1.0 else -1.0
          }
      )
  }

  /** The deterministic ±1 hyperplane matrix — public so the DuckDB oracle
    * can embed the same constants (like the anonymizer word lists).
    */
  def signMatrix(planes: Int, dims: Int): Array[Array[Double]] = Hyperplanes.signs(planes, dims)

  /** Random-hyperplane LSH bucket signature: bit p = sign(v · h_p), packed
    * into a long. Vectors with equal signatures are near-duplicate
    * candidates; Hamming-close signatures are neighbor candidates.
    */
  def hyperplaneSignature(vec: Column, numPlanes: Int): Column = {
    val u = udf { (v: Seq[Float]) =>
      val m   = Hyperplanes.signs(numPlanes, v.length)
      var sig = 0L
      var p   = 0
      while (p < numPlanes) {
        var dot = 0.0
        var d   = 0
        while (d < v.length) { dot += v(d).toDouble * m(p)(d); d += 1 }
        if (dot > 0) sig |= 1L << p
        p += 1
      }
      sig
    }
    u(vec)
  }

  /** Deterministic ±1 random projection to `outDim` dimensions — the
    * classic Johnson–Lindenstrauss dimensionality reduction for cheaper
    * downstream similarity (Achlioptas-style sign matrices, here the same
    * deterministic stableHash-seeded planes as the LSH buckets, so runs
    * reproduce bit-for-bit with no RNG state). Tight UDF with primitive
    * array params (see SCALE.md on Seq-param boxing); components summed in
    * index order so the DuckDB oracle's fold is IEEE-identical.
    */
  def randomProjection(vec: Column, outDim: Int): Column = {
    val u = udf { (v: Array[Float]) =>
      val m   = Hyperplanes.signs(outDim, v.length)
      val out = new Array[Double](outDim)
      var j = 0
      while (j < outDim) {
        var dot = 0.0
        var d   = 0
        while (d < v.length) { dot += v(d).toDouble * m(j)(d); d += 1 }
        out(j) = dot
        j += 1
      }
      out
    }
    u(vec)
  }

  /** Bucket each vector by its hyperplane signature — the ANN scale path:
    * one narrow shuffle on the signature, candidate sets are bucket-local.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, numPlanes: Int = 16): DataFrame =
    df.select(col(idCol), col(vecCol), hyperplaneSignature(col(vecCol), numPlanes).as("bucket"))

  /** Plane count sized to the corpus: 2^planes buckets targeting
    * ~`targetBucketSize` vectors per bucket (expected candidate work per
    * query stays constant as the corpus grows). Clamped to [4, 24] —
    * below 4 the buckets stop pruning, above 24 empty buckets dominate.
    * A 500-vector fixture gets 4; a 10^9-vector corpus gets 24.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Int = 64): Int = {
    val buckets = math.max(1.0, corpusSize.toDouble / math.max(1, targetBucketSize))
    math.max(4, math.min(24, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** IVF coarse-quantizer training — deterministic, no RNG: centroids
    * initialize from the `nlist` sample vectors with the smallest id-hash
    * (retry-stable, like everything in [[Sampling]]) and refine with
    * driver-side spherical-k-means Lloyd iterations over a hash-sampled
    * training set (capped at `trainCap` rows — the standard IVF recipe:
    * train the tiny quantizer on a sample, assign the full corpus
    * distributed). Empty cells keep their previous centroid.
    */
  def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      lloydIters: Int = 5,
      trainCap: Long = 100000
  ): Array[Array[Double]] = {
    require(nlist >= 1, "nlist must be >= 1")
    import org.apache.spark.sql.Row
    val n        = corpus.count()
    val fraction = math.min(1.0, trainCap.toDouble / math.max(1, n))
    val sample = corpus
      .select(Sampling.hashBucket(col(idCol)).as("__hb"), col(idCol).as("__id"), col(vecCol).as("__v"))
      .where(col("__hb") < math.round(fraction * Sampling.Buckets).max(1L))
      // Secondary sort on the id makes the sample order — and therefore the
      // centroid initialization AND the float accumulation order of every
      // Lloyd iteration — fully deterministic even under hash-bucket ties.
      .orderBy("__hb", "__id")
      .collect()
      .map { case Row(_, _, v: scala.collection.Seq[_]) => v.map(_.asInstanceOf[Float].toDouble).toArray }
    require(sample.length >= nlist, s"training sample (${sample.length}) smaller than nlist ($nlist)")

    var cents = sample.take(nlist).map(_.clone())
    var iter  = 0
    while (iter < lloydIters) {
      val sums   = Array.fill(nlist)(new Array[Double](cents(0).length))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val cell = nearestCell(v, cents)
        var d = 0
        while (d < v.length) { sums(cell)(d) += v(d); d += 1 }
        counts(cell) += 1
      }
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c)
          var d = 0
          while (d < m.length) { m(d) /= counts(c); d += 1 }
          m
        }
      }
      iter += 1
    }
    cents
  }

  /** Nearest centroid by cosine, lowest index on ties — deterministic. */
  private def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val score = cosineDD(v, cents(c))
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** UDF: a vector's `nprobe` nearest cells of the broadcast centroids,
    * by cosine descending, lowest index on ties — deterministic.
    */
  private def nearestCells(bc: Broadcast[Array[Array[Double]]], nprobe: Int): UserDefinedFunction =
    udf { (v: Array[Float]) =>
      val vd = v.map(_.toDouble)
      bc.value.indices
        .map(c => (cosineDD(vd, bc.value(c)), c))
        .sortBy { case (s, c) => (-s, c) }
        .take(nprobe)
        .map(_._2)
        .toArray
    }

  private def cosineDD(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Assign every vector its nearest-centroid cell (cosine, lowest index
    * on ties) against broadcast PRE-TRAINED centroids — one scan-local
    * UDF, zero shuffles. The partitioning primitive under every per-cell
    * operator: IVF serving ([[ivfTopKWith]]) and cell-restricted dedup
    * ([[Dedup.semDeDup]]). Output: the input columns plus `cell` INT.
    */
  def ivfAssign(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val assignU = udf { (v: Array[Float]) => nearestCell(v.map(_.toDouble), bc.value) }
    df.withColumn("cell", assignU(col(vecCol)))
  }

  /** Cosine of each row's vector to its `cellCol`-indexed centroid — the
    * per-member "prototypicality" score SemDeDup ranks cluster members by.
    * Same fold order as [[cosine]]/the oracles' cosineSql, so the doubles
    * are engine-exact.
    */
  def centroidCosine(centroids: Array[Array[Double]])(vec: Column, cell: Column): Column = {
    val u = udf { (v: Array[Float], c: Int) => cosineDD(v.map(_.toDouble), centroids(c)) }
    u(vec, cell)
  }

  /** IVF (inverted-file) approximate top-k — the data-ADAPTIVE scale path
    * next to the data-independent hyperplane LSH: the trained quantizer
    * partitions the corpus into `nlist` cells (one narrow shuffle on the
    * cell id), and each query scores only its `nprobe` closest cells.
    * Clustered corpora get balanced cells where fixed hyperplanes would
    * pile everything into few buckets.
    *
    * Scale shape: centroids are tiny and broadcast; the corpus is
    * assigned in one scan; only the small query side fans out ×nprobe.
    * With `nprobe = nlist` the candidate set is the whole corpus and the
    * result EQUALS [[bruteForceTopK]] — gate-checked against the same
    * exact-SQL oracle.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      lloydIters: Int = 5
  ): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k, ivfCentroids(corpus, idCol, vecCol, nlist, lloydIters), nprobe)

  /** [[ivfTopK]] against PRE-TRAINED centroids — repeated query batches
    * against one corpus train the quantizer once and reuse it (the normal
    * serving shape; training is the only driver-side step).
    */
  def ivfTopKWith(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && nprobe <= centroids.length, "need 1 <= nprobe <= centroids.length")
    val cents = centroids
    val bc    = corpus.sparkSession.sparkContext.broadcast(cents)
    val assignU = udf { (v: Array[Float]) =>
      nearestCell(v.map(_.toDouble), bc.value)
    }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", assignU(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(nearestCells(bc, nprobe)(col("q_vec"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Approximate top-k: exact scoring restricted to same-bucket candidates.
    *
    * `probeHamming1 = true` turns on multi-probe: each query additionally
    * probes the `numPlanes` buckets whose signature differs by one bit —
    * the standard recall/latency knob (a near neighbor that falls just on
    * the other side of ONE hyperplane is recovered). Only the small query
    * side fans out (×(numPlanes+1)); the corpus side is untouched, so the
    * shuffle stays dominated by the corpus scan.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      probeHamming1: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q0 = lshBuckets(queries, idCol, vecCol, numPlanes).toDF("query_id", "q_vec", "bucket")
    val q =
      if (!probeHamming1) q0
      else {
        val flips = (0 until numPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
        q0.withColumn("bucket", explode(array(col("bucket") +: flips: _*)))
      }
    val c = lshBuckets(corpus, idCol, vecCol, numPlanes).toDF("neighbor_id", "c_vec", "bucket")
    // Every corpus vector lives in exactly ONE bucket, so a (query, neighbor)
    // pair appears at most once even under multi-probe — no dedup needed.
    val joined = q
      .join(c, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    joined.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Persist trained IVF centroids as a tiny parquet model directory
    * (one row per cell, the centroid as array<double>) — train once with
    * [[ivfCentroids]], serve forever with [[ivfTopKWith]] across sessions
    * and clusters. The model is KBs; versioning/promotion is the caller's
    * lake convention, exactly like any other table.
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession, centroids: Array[Array[Double]], path: String): Unit =
    centroidsRel(spark, centroids).rows.write.mode("overwrite").parquet(path)

  /** The centroids as the index artifact `_graft_centroids`. */
  private def centroidsRel(spark: org.apache.spark.sql.SparkSession, centroids: Array[Array[Double]]) = {
    import spark.implicits._
    graft.operators.IndexStore.Relation.flat("_graft_centroids",
      centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cell", "centroid").coalesce(1))
  }

  /** Inverse of [[saveCentroids]]: cells come back in training order, so a
    * loaded model reproduces the saving session's assignments and probe
    * selections bit-for-bit (spec-pinned).
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] = {
    // Driver-side read (IndexStore.readTinyMetaRows): the artifact is one
    // coalesce(1) file of nlist rows, but probe paths load it per
    // invocation and the spark.read + collect form cost a
    // schema-inference job plus a collect job each time.
    graft.operators.IndexStore.readTinyMetaRows(spark, path)
      .sortBy(_("cell").asInstanceOf[Long])
      .map(_("centroid").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]).toArray)
      .toArray
  }

  /** Persist the full ANN SERVING index: the corpus assigned to its IVF
    * cells and parquet-PARTITIONED BY `cell`, with the centroids stored
    * beside the data (underscore dir — invisible to partition discovery).
    * [[ivfTopKFromPersisted]] then reads ONLY the probed cells' partition
    * directories: at 10⁹ vectors a 4-of-1024-cell probe scans ~0.4% of
    * the corpus instead of re-assigning all of it per query batch — the
    * build-once/serve-forever split for ANN, same pattern as the
    * signature and BM25 indexes.
    */
  def persistIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      path: String
  ): Unit = {
    val spark = corpus.sparkSession
    graft.operators.IndexStore.build(spark, path, Seq(
      graft.operators.IndexStore.Relation("", "cell",
        ivfAssign(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), "vec", centroids)),
      centroidsRel(spark, centroids)))
  }

  /** Incremental ingest into a [[persistIvfIndex]] directory: the new
    * batch is assigned against the index's OWN frozen centroids and its
    * rows append into their cell partitions — no existing file rewritten,
    * no re-clustering, one shuffle on the batch (the continuously-growing
    * embedding store's nightly write). Drift caveat: appended mass does
    * not move the centroids; retrain + overwrite when cell balance decays.
    */
  def appendToIvfIndex(
      newBatch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String
  ): Unit =
    graft.operators.IndexStore.append(newBatch.sparkSession, path)(dd =>
      Seq(graft.operators.IndexStore.Relation("", "cell", ivfAppendRows(newBatch, idCol, vecCol, dd))))

  /** An append batch in the stored row shape of the index at the resolved
    * data dir `dd`: (vec_id, vec) assigned to a cell by the index's FROZEN
    * centroids. A PQ-bearing index ([[persistIvfPqIndex]]) also encodes
    * the batch with its FROZEN codebooks (`pq_code`, `pq_norm`) — same
    * contract as the frozen centroids: an append never changes serving
    * geometry, only adds rows to it.
    */
  private def ivfAppendRows(newBatch: DataFrame, idCol: String, vecCol: String, dd: String): DataFrame = {
    val spark  = newBatch.sparkSession
    val cents  = loadCentroids(spark, s"$dd/_graft_centroids")
    val pqPath = new org.apache.hadoop.fs.Path(s"$dd/_graft_pq")
    val hasPq  = pqPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pqPath)
    val base =
      if (!hasPq) newBatch.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      else {
        val model = loadPqModel(spark, pqPath.toString)
        newBatch
          .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
            pqEncoder(model)(col(vecCol)).as("__e"))
          .select(col("vec_id"), col("vec"),
            col("__e._1").as("pq_code"), col("__e._2").as("pq_norm"))
      }
    ivfAssign(base, "vec", cents)
  }

  /** [[ivfTopKWith]] served from a [[persistIvfIndex]] directory with
    * PARTITION-PRUNED cell reads: the query batch's probe cells (distinct,
    * ≤ queries × nprobe values, collected driver-side — they are cell ids,
    * not data) push down as a partition-column `isin` filter, so the scan
    * plans only the colliding cell directories. Scoring and ranking are
    * the exact [[ivfTopKWith]] tail — built-now and served-from-disk
    * results are identical (gate shares the probe oracle verbatim).
    */
  def ivfTopKFromPersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val dd    = graft.operators.IndexStore.dataDir(spark, path) // resolve once per probe
    val cents = loadCentroids(spark, s"$dd/_graft_centroids")
    require(nprobe >= 1 && nprobe <= cents.length, "need 1 <= nprobe <= centroids.length")
    val bc = spark.sparkContext.broadcast(cents)
    val q = graft.plans.Lineage.truncate(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
        .withColumn("cell", explode(nearestCells(bc, nprobe)(col("q_vec")))))
    val probed = q.select("cell").distinct().as[Int].collect().sorted
    val empty = spark.emptyDataset[(Long, Long, Long)].toDF("query_id", "neighbor_id", "rnk")
    if (probed.isEmpty) empty
    else {
      val live = graft.operators.IndexStore.minusTombstoned(
        graft.operators.IndexStore.readRel(spark, dd, "", "cell")
          .where(col("cell").isin(probed.map(x => x: Any): _*)),
        "vec_id", dd)
      val c = live.select(col("vec_id").as("neighbor_id"), col("vec").as("c_vec"), col("cell"))
      val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
      q.join(c, "cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    }
  }

  /** Retrieval-quality evaluation: per query, how many of the EXACT
    * top-k neighbors the approximate retriever found — the recall@k
    * measurement every ANN tuning loop needs (numPlanes, nprobe, band
    * geometry are all recall/latency knobs; this is their meter). Inputs
    * are any two (query_id, neighbor_id, rnk) rankings (brute vs LSH, IVF
    * probe sweeps, before/after an index rebuild). Integer output
    * (`n_hits`, `n_exact`) — recall is their ratio, left to the caller so
    * the gate stays FP-free. One semi-join + two tiny aggregations on the
    * k-bounded rankings — never touches the corpus.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"))
  }

  /** When does an IVF compaction re-train the quantizer (Lloyd on the
    * surviving corpus) instead of carrying the frozen centroids through?
    *
    * [[graft.tools.IvfRecallSoak]] measured the failure mode Auto
    * automates: appended vectors bind to centroids that never saw them,
    * the drifted mass crowds into a handful of cells (imbalance 58× at
    * ×10 appends), and the nprobe probe silently degenerates to a
    * near-full scan — at 10⁹ vectors the difference between reading
    * ~0.4% and reading everything. Cell imbalance (max/mean occupied-
    * cell population, tombstone-masked) is the cheap, centroid-free
    * drift signal; one retrain restores both balance (1.4×) and the
    * fresh-trained recall bound.
    */
  sealed trait RetrainMode
  object RetrainMode {
    /** Carry the frozen centroids; compact selectively. */
    case object Never extends RetrainMode
    /** Unconditional Lloyd re-run on the survivors (full rewrite). */
    case object Always extends RetrainMode
    /** Measure surviving-cell imbalance (one thin (cell, vec_id) scan —
      * the full-width rewrite it may replace dwarfs it) and retrain only
      * above `maxImbalance`. The default 8.0 sits far above a healthy
      * Lloyd quantizer's balance (≈1–2× on the corpora the soak
      * measured) and far below drift territory (30–60×).
      */
    final case class Auto(maxImbalance: Double = 8.0) extends RetrainMode
  }

  /** The cell count a persisted IVF index currently serves with — reads
    * the live generation's centroid artifact. Callers that want an
    * EXHAUSTIVE probe after a retrain (whose nlist may have grown, see
    * [[retrainNlistFor]]) pass this as `nprobe` instead of assuming the
    * build-time constant.
    */
  def ivfIndexNlist(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    loadCentroids(spark,
      s"${graft.operators.IndexStore.dataDir(spark, path)}/_graft_centroids").length

  /** The quantizer size a RETRAIN should use for `survivors` vectors:
    * `c · √survivors` — the standard IVF sizing rule (cell population
    * ≈ √N/c keeps probe cost ∝ nprobe·√N instead of ∝ N) — clamped to
    * `[oldNlist, 4 · oldNlist]` per retrain and capped by the corpus
    * and the Lloyd training-sample budget. Rationale for the clamp:
    * a frozen-nlist retrain after 10× corpus growth re-balances cells
    * but leaves every cell 10× fatter, so probe cost silently scales
    * with the corpus; growing with √N restores it. Growth is bounded
    * 4× per retrain (≙ 16× corpus growth — beyond that one compaction
    * cycle should not jump the serving geometry in one step), and the
    * floor is the OLD nlist: shrinking is never forced, because
    * under-populated cells cost nothing to probe while a shrunken
    * quantizer would re-fatten every cell.
    */
  def retrainNlistFor(survivors: Long, oldNlist: Int, c: Double = 4.0): Int = {
    val target  = math.round(c * math.sqrt(math.max(0L, survivors).toDouble))
    val bounded = math.max(oldNlist.toLong, math.min(target, oldNlist.toLong * 4))
    math.max(1L, Seq(bounded, survivors, 50000L).min).toInt
  }

  /** Max/mean occupied-cell population of a persisted IVF index, with
    * tombstoned vectors masked out — the production retrain trigger
    * ([[RetrainMode.Auto]] evaluates exactly this; exposed for
    * monitoring so an operator can alert on drift without compacting).
    * 0.0 for an empty index.
    */
  def ivfCellImbalance(spark: org.apache.spark.sql.SparkSession, path: String): Double =
    cellImbalanceOf(ivfCellImbalanceFrame(spark, path))

  /** The thin (cell, vec_id) scan [[ivfCellImbalance]] aggregates —
    * exposed so PlanAuditSpec can pin that the probe never loads the
    * full-width vector column (the whole point of calling it "cheap
    * relative to the rewrite it may trigger").
    */
  private[graft] def ivfCellImbalanceFrame(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val live = graft.operators.IndexStore.dataDir(spark, path)
    graft.operators.IndexStore.minusTombstoned(
      graft.operators.IndexStore.readRel(spark, live, "", "cell").select(col("cell"), col("vec_id")),
      "vec_id", live)
  }

  private def cellImbalanceOf(cells: DataFrame): Double = {
    val row = cells.groupBy("cell").count()
      .agg(max(col("count")).cast("double"), avg(col("count"))).head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0) / row.getDouble(1)
  }

  /** Compact a persisted IVF index: rewrite the cell partitions minus
    * the tombstoned vectors, fold each cell's append segments into one
    * file, drop the tombstone set — the build → append/delete → compact
    * lifecycle closer, [[graft.operators.Dedup.compactSignatureIndex]]'s
    * twin for the vector store (same selective dirty-cell-only cost
    * model, same atomic generation swap — see there).
    *
    * `retrain = RetrainMode.Never` (default) carries the FROZEN
    * centroids (`_graft_centroids`) through the swap untouched, so probe
    * selection — and therefore [[ivfTopKFromPersisted]]'s result — is
    * EXACTLY a fresh [[persistIvfIndex]] of the surviving vectors under
    * the same quantizer, while probes stop paying the tombstone
    * anti-join and multi-segment cell scans.
    *
    * `RetrainMode.Always` re-runs [[ivfCentroids]] (same deterministic
    * Lloyd recipe, nlist RE-SIZED to the survivors by
    * [[retrainNlistFor]] — √N-scaled, bounded growth, never shrinks)
    * on the SURVIVING corpus and re-assigns
    * every vector — the cure for append drift: vectors appended after
    * the build bind to centroids that never saw them, so cell balance
    * and recall decay as the corpus outgrows its quantizer
    * ([[graft.tools.IvfRecallSoak]] measures the decay and this cure).
    * Re-assignment forces a full rewrite (cells change), which is free
    * relative to the retrain decision: retrain when drift is measured,
    * selective-compact when just reclaiming tombstones. The new
    * centroids install in the SAME atomic generation as the re-assigned
    * data — a concurrent probe never sees new centroids over old cells
    * or vice versa.
    *
    * `RetrainMode.Auto(maxImbalance)` makes the drift measurement part
    * of the compaction itself: retrain exactly when the surviving cells'
    * imbalance exceeds the threshold, otherwise the cheap selective
    * path. The decision is logged either way.
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      retrain: RetrainMode = RetrainMode.Never,
      retrainLloydIters: Int = 5,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L,
      pqRefresh: PqRefreshMode = PqRefreshMode.Never
  ): Unit = {
    import graft.operators.IndexStore
    IndexStore.compact(spark, path, keepGens, minRetentionMs) { c =>
      val live = c.live
      def minus(df: DataFrame): DataFrame = IndexStore.minusTombstoned(df, "vec_id", live)
      val doRetrain = retrain match {
        case RetrainMode.Never  => false
        case RetrainMode.Always => true
        case RetrainMode.Auto(maxImb) =>
          val imb = cellImbalanceOf(minus(
            IndexStore.readRel(spark, live, "", "cell", c.manifest).select(col("cell"), col("vec_id"))))
          val fire = imb > maxImb
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"compactIvfIndex($path): surviving-cell imbalance ${f"$imb%.1f"}× vs " +
              s"threshold $maxImb — ${if (fire) "RETRAINING quantizer" else "carrying frozen centroids"}")
          fire
      }
      val pqPath = new org.apache.hadoop.fs.Path(s"$live/_graft_pq")
      val hasPq  = pqPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pqPath)
      val doPqRefresh = hasPq && (pqRefresh match {
        case PqRefreshMode.Never  => false
        case PqRefreshMode.Always => true
        case PqRefreshMode.Auto(maxGrowth) =>
          val growth = pqDrift(spark, path)
          val fire   = growth > maxGrowth
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"compactIvfIndex($path): PQ quantization-error growth ${f"$growth%.3f"} vs " +
              s"threshold $maxGrowth — " +
              (if (fire) "RETRAINING codebooks (full re-encode)" else "carrying frozen codebooks"))
          fire
      })
      if (doRetrain || doPqRefresh) {
        val oldCents  = loadCentroids(spark, s"$live/_graft_centroids")
        // Carry EVERY non-partition column through the re-assignment —
        // a PQ-bearing index ([[persistIvfPqIndex]]) keeps its codes
        // unless the FINE quantizer itself is refreshing: codes quantize
        // value distributions, not cell geometry, so a retrained coarse
        // quantizer alone leaves them valid, while a fired PqRefresh
        // re-trains the codebooks on the survivors and re-encodes every
        // row riding this same full rewrite (and records a fresh drift
        // baseline, so Auto re-arms at the new distribution).
        val liveRel  = IndexStore.readRel(spark, live, "", "cell", c.manifest)
        val dataCols = liveRel.columns.filterNot(_ == "cell").map(col)
        val withOldCols = minus(liveRel)
        val (survivors, newModel) =
          if (!doPqRefresh) (withOldCols.select(dataCols: _*), None)
          else {
            val oldModel = loadPqModel(spark, pqPath.toString)
            val model = pqTrain(withOldCols.select(col("vec_id"), col("vec")),
              "vec_id", "vec", m = oldModel.m, k = oldModel.k)
            // Keep `cell` only when the coarse quantizer is NOT also
            // retraining (ivfAssign would re-derive it below).
            val keep = withOldCols.columns
              .filterNot(c => c == "pq_code" || c == "pq_norm" || (doRetrain && c == "cell"))
              .map(col)
            val reencoded = withOldCols
              .select((keep :+ pqEncoder(model)(col("vec")).as("__e")): _*)
              .withColumn("pq_code", col("__e._1"))
              .withColumn("pq_norm", col("__e._2"))
              .drop("__e")
            (reencoded, Some(model))
          }
        // PQ refresh without coarse retrain: cells are untouched — the
        // rewrite only replaces codes/norms.
        val (rows, newCents) =
          if (!doRetrain) (survivors, None)
          else {
            // √N-scaled quantizer: a grown corpus gets more cells, not
            // fatter ones ([[retrainNlistFor]] — bounded growth, never
            // shrinks).
            val newNlist = retrainNlistFor(survivors.count(), oldCents.length)
            if (newNlist != oldCents.length)
              org.slf4j.LoggerFactory.getLogger(getClass).info(
                s"compactIvfIndex($path): retrain grows nlist ${oldCents.length} -> $newNlist")
            val cents = ivfCentroids(survivors, "vec_id", "vec", nlist = newNlist,
              lloydIters = retrainLloydIters)
            (ivfAssign(survivors, "vec", cents), Some(cents))
          }
        // Retrained centroids and refreshed books install in the SAME
        // atomic generation as the rewritten rows; both win over the meta
        // carry.
        c.write((IndexStore.Relation("", "cell", rows) +:
          (newCents.map(centroidsRel(spark, _)) ++ newModel.map(pqModelRel(spark, _))).toSeq): _*)
        // The refreshed books' fresh drift baseline: its sample-sizing
        // count reads from the JUST-WRITTEN staged parquet (footer
        // statistics, no recompute of the re-encode lineage).
        newModel.foreach { m =>
          val stagedRows = IndexStore.readRel(spark, c.staged, "", "cell", None)
          val (mqe, sampled) = pqSampledMqe(stagedRows, "vec_id", "vec", m,
            knownCount = Some(stagedRows.count()))
          c.write(pqStatsRel(spark, mqe, sampled))
        }
      } else c.rewrite("", "cell", selective, idCol = Some("vec_id"))
    }
  }

  /** Symmetric int8 vector quantization: struct(scale DOUBLE,
    * q ARRAY<TINYINT>) with `q_i = floor(x_i · scale + 0.5)` and
    * `scale = 127 / max|x|` — the 4× storage cut every at-scale embedding
    * store takes before ANN serving (dequantized error ≤ 0.5/scale per
    * component). Deterministic and cross-engine exact: all arithmetic in
    * double, explicit `floor(… + 0.5)` rounding (never `math.round` /
    * SQL `round`, whose negative-half behavior differs between engines).
    * Zero and null vectors quantize to scale 0 / all-zero q. Scan-local —
    * no shuffle, runs identically on batch or stream.
    */
  def quantizeInt8(vec: Column): Column = {
    val u = udf { (v: Array[Float]) =>
      if (v == null || v.isEmpty) (0.0, Array.empty[Byte])
      else {
        var mx = 0.0
        var i  = 0
        while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1 }
        if (mx == 0.0) (0.0, new Array[Byte](v.length))
        else {
          val scale = 127.0 / mx
          val q     = new Array[Byte](v.length)
          i = 0
          while (i < v.length) {
            q(i) = math.floor(v(i).toDouble * scale + 0.5).toByte
            i += 1
          }
          (scale, q)
        }
      }
    }
    u(vec)
  }

  /** Inverse of [[quantizeInt8]]: float vector `q_i / scale` (zero scale →
    * zero vector). Kept float — the dequantized form feeds the same
    * cosine kernels as the original.
    */
  def dequantizeInt8(quantized: Column): Column = {
    val u = udf { (scale: Double, q: Array[Byte]) =>
      if (q == null || scale == 0.0) if (q == null) null else new Array[Float](q.length)
      else {
        val out = new Array[Float](q.length)
        var i   = 0
        while (i < q.length) { out(i) = (q(i) / scale).toFloat; i += 1 }
        out
      }
    }
    u(quantized.getField("_1"), quantized.getField("_2"))
  }

  // ------------------------------------------------ product quantization

  /** Product-quantization model: the vector space split into `m`
    * contiguous subspaces of `dsub = dims / m` components, each with its
    * own `k`-entry codebook. A vector encodes to m small ints (its
    * nearest codebook entry per subspace) — at m = 8, k = 256 over
    * d = 64 floats that is 8 bytes instead of 256, the ×32 memory-bound
    * scale path past [[quantizeInt8]]'s ×4 (int8 shrinks components; PQ
    * shrinks the DIMENSION count a probe touches: ADC scoring reads m
    * ints + does m table lookups per pair instead of d multiplies).
    */
  final case class PqModel(dims: Int, m: Int, k: Int, codebooks: Array[Array[Array[Float]]]) {
    def dsub: Int = dims / m
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    require(k >= 1 && k <= 256, s"k ($k) must fit one unsigned byte per code")
    require(codebooks.length == m, "one codebook per subspace")
  }

  /** Train PQ codebooks — deterministic, no RNG, the [[ivfCentroids]]
    * recipe applied per subspace: hash-sampled training rows (smallest
    * id-hash, secondary-sorted by id so initialization and float
    * accumulation order are replay-stable), init from the first `k`
    * sample subvectors, L2 Lloyd with empty cells keeping their
    * centroid. Train on a sample, encode the corpus distributed — the
    * standard recipe; the sample collect is capped by `trainCap` like
    * every driver-side model build in this repo.
    */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 256,
      lloydIters: Int = 5,
      trainCap: Long = 65536
  ): PqModel = {
    import org.apache.spark.sql.Row
    val n        = corpus.count()
    val fraction = math.min(1.0, trainCap.toDouble / math.max(1, n))
    val sample = corpus
      .select(Sampling.hashBucket(col(idCol)).as("__hb"), col(idCol).as("__id"), col(vecCol).as("__v"))
      .where(col("__hb") < math.round(fraction * Sampling.Buckets).max(1L))
      .orderBy("__hb", "__id")
      .collect()
      .map { case Row(_, _, v: scala.collection.Seq[_]) => v.map(_.asInstanceOf[Float]).toArray }
    require(sample.nonEmpty, "pqTrain: empty training sample")
    val dims = sample.head.length
    require(dims % m == 0, s"pqTrain: dims ($dims) not divisible by m ($m)")
    val dsub = dims / m
    val books = Array.tabulate(m) { sub =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      // Init from the first k subvectors (duplicates are harmless: argmin
      // takes the lowest index, and a duplicated centroid simply never
      // wins — k effective codes shrink to the sample's diversity).
      var cents = Array.tabulate(math.min(k, subs.length))(i => subs(i).clone())
      var iter = 0
      while (iter < lloydIters) {
        val sums   = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Int](cents.length)
        subs.foreach { v =>
          val c = PqModel.nearestCode(v, cents)
          var d = 0
          while (d < dsub) { sums(c)(d) += v(d); d += 1 }
          counts(c) += 1
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(d => (sums(c)(d) / counts(c)).toFloat)
        }
        iter += 1
      }
      cents
    }
    PqModel(dims, m, books.head.length, books)
  }

  object PqModel {
    /** Nearest codebook entry by L2, lowest index on ties — deterministic. */
    private[operators] def nearestCode(v: Array[Float], cents: Array[Array[Float]]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var i = 0
        while (i < v.length) { val t = v(i).toDouble - cent(i).toDouble; d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Encode a corpus against trained codebooks: per row, the m nearest
    * codebook indexes (`pq_code`, BINARY — one unsigned byte per
    * subspace, k ≤ 256 enforced) plus the decoded vector's
    * norm (`pq_norm` — |decode|² = Σ_sub |codebook_sub[code]|², needed to
    * turn ADC dot products into cosines without touching the original
    * floats at probe time). Scan-local write-side pass (one UDF kernel,
    * same tier as [[quantizeInt8]] — encode runs once per corpus, the
    * probe-side hot loop is the native [[graft.functions.PqAdcDot]]).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    df.select(col(idCol), pqEncoder(model)(col(vecCol)).as("__e"))
      .select(col(idCol), col("__e._1").as("pq_code"), col("__e._2").as("pq_norm"))

  /** The scan-local encode kernel as a reusable Column — ONE pass
    * produces (codes, norm) beside whatever else the caller selects, so
    * writers never join the encode output back to the corpus (a
    * corpus-sized shuffle at 10⁹ rows for data the same scan already
    * held).
    */
  private def pqEncoder(model: PqModel): Column => Column = {
    val books = model.codebooks
    val dsub  = model.dsub
    val enc = udf { (v: Array[Float]) =>
      if (v == null || v.length != model.dims) null
      else {
        val codes = new Array[Byte](model.m)
        var norm2 = 0.0
        var sub = 0
        while (sub < model.m) {
          val sv = java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub)
          val c  = PqModel.nearestCode(sv, books(sub))
          codes(sub) = c.toByte
          val cent = books(sub)(c)
          var i = 0
          while (i < dsub) { norm2 += cent(i).toDouble * cent(i).toDouble; i += 1 }
          sub += 1
        }
        (codes, math.sqrt(norm2).toFloat)
      }
    }
    (c: Column) => enc(c)
  }

  /** Query-side ADC lookup tables: for each query, the flat m·k float
    * table `lut[sub·k + j] = dot(q_sub, codebook_sub[j])` plus the query
    * norm — everything [[graft.functions.PqAdcDot]] needs to score a
    * corpus code word with m lookups. Queries are few; the LUT build is
    * one scan-local UDF over them and the result broadcasts.
    */
  private def pqQueryLuts(
      queries: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame = {
    val books = model.codebooks
    val dsub  = model.dsub
    val lutU = udf { (v: Array[Float]) =>
      if (v == null || v.length != model.dims) null
      else {
        val lut = new Array[Float](model.m * model.k)
        var qn  = 0.0
        var i   = 0
        while (i < v.length) { qn += v(i).toDouble * v(i).toDouble; i += 1 }
        var sub = 0
        while (sub < model.m) {
          val off = sub * model.k
          var j = 0
          while (j < books(sub).length) {
            val cent = books(sub)(j)
            var d = 0.0
            var t = 0
            while (t < dsub) { d += v(sub * dsub + t).toDouble * cent(t).toDouble; t += 1 }
            lut(off + j) = d.toFloat
            j += 1
          }
          sub += 1
        }
        (lut, math.sqrt(qn).toFloat)
      }
    }
    queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), lutU(col(vecCol)).as("__l"))
      .select(col("query_id"), col("q_vec"), col("__l._1").as("q_lut"), col("__l._2").as("q_norm"))
  }

  /** The ADC approximate cosine of a corpus code word against a query's
    * LUT: `adcDot / (q_norm · pq_norm)` — [[graft.functions.PqAdcDot]]
    * (native codegen) over columns.
    */
  def pqAdcCosine(codes: Column, lut: Column, qNorm: Column, pqNorm: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val dotCol = ColumnBridge.column(
      graft.functions.PqAdcDot(ColumnBridge.expression(codes), ColumnBridge.expression(lut)))
    when(qNorm * pqNorm === 0.0, lit(0.0)).otherwise(dotCol / (qNorm * pqNorm))
  }

  /** Two-stage PQ top-k: ADC shortlist, exact rescore — the serving
    * recipe that makes PQ safe to gate against the EXACT oracle. Stage 1
    * scores every (query, corpus) pair through the m-lookup ADC kernel
    * (corpus side reads `pq_code`+`pq_norm` — m ints + 1 float instead
    * of d floats; queries broadcast with their LUTs; corpus never
    * shuffles before its k-bounded per-query window) and keeps the top
    * `shortlist` per query; stage 2 joins the shortlist's ORIGINAL
    * vectors back (a |queries|·shortlist-row semi-join, tiny) and ranks
    * exactly with [[cosine]]. With a shortlist comfortably above k, the
    * approximate stage decides only which pairs get exact scores, not
    * the ranking — the gate pins the end result to the brute-force
    * oracle, and the recall/compression tradeoff of the ADC stage alone
    * is measured in PqSoak, not assumed.
    *
    * Scale: stage-1 work is |queries| × |corpus| like [[bruteForceTopK]]
    * but each pair costs m lookups instead of d multiplies and the
    * corpus-side scan reads ×32 fewer bytes; compose with IVF cells
    * ([[ivfPqTopK]]) to prune the candidate set itself — that pairing
    * (coarse quantizer prunes, fine quantizer scores) is IVF-PQ, the
    * standard billion-vector serving layout.
    */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      k: Int,
      shortlist: Int = 64
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val codes = pqEncode(corpus, idCol, vecCol, model)
      .withColumnRenamed(idCol, "neighbor_id")
    val qs = pqQueryLuts(queries, idCol, vecCol, model)
    val adc = codes
      .join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdcCosine(col("pq_code"), col("q_lut"), col("q_norm"), col("pq_norm")))
    val wA = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id").asc)
    val short = adc
      .withColumn("srnk", row_number().over(wA))
      .where(col("srnk") <= shortlist)
      .select("query_id", "neighbor_id", "q_vec")
    // Exact rescore over the tiny shortlist — original vectors rejoin here.
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val wE = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    short.join(c, "neighbor_id")
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Persist PQ codebooks beside an index's data — the `_graft_centroids`
    * pattern for the fine quantizer: (sub, code, centroid) rows, read
    * back in (sub, code) order so a loaded model reproduces the saving
    * session's encodings bit-for-bit.
    */
  def savePqModel(spark: org.apache.spark.sql.SparkSession, model: PqModel, path: String): Unit =
    pqModelRel(spark, model).rows.write.mode("overwrite").parquet(path)

  /** The codebooks as the index artifact `_graft_pq`. */
  private def pqModelRel(spark: org.apache.spark.sql.SparkSession, model: PqModel) = {
    import spark.implicits._
    graft.operators.IndexStore.Relation.flat("_graft_pq",
      (for { sub <- 0 until model.m; code <- model.codebooks(sub).indices }
        yield (sub, code, model.codebooks(sub)(code).toSeq))
        .toDF("sub", "code", "centroid").coalesce(1))
  }

  /** Inverse of [[savePqModel]]. */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    // Driver-side read — see [[loadCentroids]]; same per-invocation
    // two-job cost this removes, same bytes-scale artifact.
    val rows = graft.operators.IndexStore.readTinyMetaRows(spark, path)
      .map(r => (r("sub").asInstanceOf[Int], r("code").asInstanceOf[Int],
        r("centroid").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Float])))
      .sortBy(r => (r._1, r._2))
    val m     = rows.map(_._1).max + 1
    val books = Array.tabulate(m)(sub => rows.filter(_._1 == sub).sortBy(_._2).map(_._3.toArray).toArray)
    PqModel(m * books.head.head.length, m, books.head.length, books)
  }

  /** Mean squared quantization error of a hash-sampled slice of `df`
    * under `model` — the PQ drift meter. Distributed (no collect): the
    * deterministic id-hash picks ~`cap` rows, a scan-local kernel
    * encodes+decodes each and emits its squared L2 reconstruction
    * error, one aggregation averages. Cost: one thin (id, vec) sample
    * scan — negligible beside the rewrite a refresh would ride.
    */
  def pqSampledMqe(
      df: DataFrame, idCol: String, vecCol: String, model: PqModel, cap: Long = 4096,
      knownCount: Option[Long] = None): (Double, Long) = {
    val n        = knownCount.getOrElse(df.count())
    val fraction = math.min(1.0, cap.toDouble / math.max(1, n))
    val books    = model.codebooks
    val dsub     = model.dsub
    val errU = udf { (v: Array[Float]) =>
      if (v == null || v.length != model.dims) 0.0
      else {
        var err = 0.0
        var sub = 0
        while (sub < model.m) {
          val sv = java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub)
          val cent = books(sub)(PqModel.nearestCode(sv, books(sub)))
          var i = 0
          while (i < dsub) { val d = sv(i).toDouble - cent(i).toDouble; err += d * d; i += 1 }
          sub += 1
        }
        err
      }
    }
    val row = df
      .where(Sampling.hashBucket(col(idCol)) < math.round(fraction * Sampling.Buckets).max(1L))
      .agg(avg(errU(col(vecCol))), count(lit(1))).head
    if (row.isNullAt(0)) (0.0, 0L) else (row.getDouble(0), row.getLong(1))
  }

  private def pqStatsPath(dd: String) = s"$dd/_graft_pq_stats"

  /** The train-time quantization-error baseline as the index artifact
    * `_graft_pq_stats`. */
  private def pqStatsRel(spark: org.apache.spark.sql.SparkSession, mqe: Double, sampled: Long) = {
    import spark.implicits._
    graft.operators.IndexStore.Relation.flat("_graft_pq_stats", Seq((mqe, sampled)).toDF("mqe", "sampled").coalesce(1))
  }

  private def readPqStats(
      spark: org.apache.spark.sql.SparkSession, dd: String): Option[(Double, Long)] = {
    val p  = new org.apache.hadoop.fs.Path(pqStatsPath(dd))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val r = graft.operators.IndexStore.readTinyMetaRow(spark, p.toString)
      Some((r("mqe").asInstanceOf[Double], r("sampled").asInstanceOf[Long]))
    }
  }

  /** How far a persisted IVF-PQ index's FROZEN codebooks have drifted
    * from the live corpus's value distribution: the relative growth of
    * sampled mean quantization error over the baseline recorded at
    * train time (`_graft_pq_stats`) — 0 means codes reconstruct as well
    * as the day they were trained; 1.0 means reconstruction error has
    * DOUBLED (ADC shortlists silently lose recall long before that).
    * The [[ivfCellImbalance]] / [[graft.operators.Dedup.jaccardDictDrift]]
    * analogue for the fine quantizer — the last frozen artifact that
    * previously had no drift meter. 0 for indexes without PQ or without
    * a recorded baseline (pre-stats builds: measure-less, so
    * [[PqRefreshMode.Auto]] never fires on them — refresh explicitly
    * with Always once, which records one).
    */
  def pqDrift(spark: org.apache.spark.sql.SparkSession, path: String): Double = {
    val dd = graft.operators.IndexStore.dataDir(spark, path)
    val pq = new org.apache.hadoop.fs.Path(s"$dd/_graft_pq")
    if (!pq.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pq)) return 0.0
    readPqStats(spark, dd) match {
      case None | Some((0.0, _)) => 0.0
      case Some((baseline, _)) =>
        val model = loadPqModel(spark, pq.toString)
        val masked = graft.operators.IndexStore.minusTombstoned(
          graft.operators.IndexStore.readRel(spark, dd, "", "cell").select(col("vec_id"), col("vec")),
          "vec_id", dd)
        val (now, _) = pqSampledMqe(masked, "vec_id", "vec", model)
        math.max(0.0, now / baseline - 1.0)
    }
  }

  /** When does an IVF-PQ compaction RETRAIN the fine quantizer
    * (codebooks) — the [[RetrainMode]] pattern applied to the last
    * frozen artifact. Appends encode under build-time codebooks
    * (correct by contract), but value-distribution drift silently
    * degrades ADC shortlist recall; a refresh re-runs [[pqTrain]] on
    * the survivors and re-encodes every row RIDING the rewrite the
    * compact already pays.
    */
  sealed trait PqRefreshMode
  object PqRefreshMode {
    /** Carry the frozen codebooks (default). */
    case object Never extends PqRefreshMode
    /** Unconditional codebook retrain + re-encode (full rewrite). */
    case object Always extends PqRefreshMode
    /** Measure [[pqDrift]] (one sampled encode pass) and refresh only
      * above `maxGrowth`. The default 0.5 = sampled reconstruction
      * error grew 50% over the train-time baseline — far past
      * same-distribution jitter (≈0), well before the regimes where
      * the ADC shortlist visibly loses the true neighbors.
      */
    final case class Auto(maxGrowth: Double = 0.5) extends PqRefreshMode
  }

  /** [[appendToIvfIndex]] for STREAMING bodies: the encoded, cell-assigned
    * batch lands under deterministic (streamId, batchId)-derived file
    * names ([[graft.operators.IndexStore.appendExactlyOnce]]), so a
    * foreachBatch retry at ANY crash point — including between the data
    * commit and the batch-token create — converges to exactly one copy.
    * A batch the index's ledger already records
    * ([[graft.operators.IndexStore.batchCommitted]]: its token, or the
    * stream's high-water mark) is skipped, so a replay after a compaction
    * folded it does not land twice.
    */
  def appendToIvfIndexExactlyOnce(
      newBatch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      streamId: String,
      batchId: Long
  ): Unit =
    graft.operators.IndexStore.appendExactlyOnce(newBatch.sparkSession, path, streamId, batchId)(dd =>
      Seq(graft.operators.IndexStore.Relation("", "cell", ivfAppendRows(newBatch, idCol, vecCol, dd))))

  /** [[persistIvfIndex]] with the fine quantizer baked in: every row
    * stores its PQ code word and decoded norm BESIDE the full vector
    * (cell-partitioned as before), and the codebooks persist as
    * `_graft_pq` next to `_graft_centroids`. The point is the probe-side
    * scan split [[ivfPqTopKFromPersisted]] exploits: stage 1 reads ONLY
    * (cell, vec_id, pq_code, pq_norm) — m bytes + a float per row
    * instead of d floats, the columnar form of PQ's memory claim — and
    * only the shortlist's rescore touches the `vec` column. The whole
    * append/delete/compact/maintain lifecycle applies unchanged: rows
    * carry their codes through every rewrite, [[appendToIvfIndex]]
    * detects `_graft_pq` and encodes new batches with the FROZEN
    * codebooks (same contract as frozen centroids), and a compact's
    * retrain replaces centroids while codes — trained on value
    * distributions, not cell geometry — stay valid.
    */
  def persistIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: PqModel,
      path: String
  ): Unit = {
    val spark = corpus.sparkSession
    // ONE corpus pass: vector, codes, and norm from the same scan.
    val coded = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        pqEncoder(model)(col(vecCol)).as("__e"))
      .select(col("vec_id"), col("vec"),
        col("__e._1").as("pq_code"), col("__e._2").as("pq_norm"))
    // Train-time quantization-error BASELINE — the reference point
    // [[pqDrift]] measures codebook drift against (samples the CORPUS).
    val (mqe, sampled) = pqSampledMqe(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), "vec_id", "vec", model)
    graft.operators.IndexStore.build(spark, path, Seq(
      graft.operators.IndexStore.Relation("", "cell", ivfAssign(coded, "vec", centroids)),
      centroidsRel(spark, centroids), pqModelRel(spark, model), pqStatsRel(spark, mqe, sampled)))
  }

  /** Serve top-k from a [[persistIvfPqIndex]] directory: probe cells by
    * the frozen coarse quantizer (partition-pruned like
    * [[ivfTopKFromPersisted]]), ADC-score the probed cells reading ONLY
    * the thin (cell, vec_id, pq_code, pq_norm) columns (the float
    * vectors stay on disk — PlanAuditSpec pins the stage-1 read schema),
    * keep `shortlist` per query, then rescore exactly from the `vec`
    * column of the SAME pruned partitions, semi-joined to the shortlist.
    */
  def ivfPqTopKFromPersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int = 64
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val dd    = graft.operators.IndexStore.dataDir(spark, path) // resolve once per probe
    val cents = loadCentroids(spark, s"$dd/_graft_centroids")
    val model = loadPqModel(spark, s"$dd/_graft_pq")
    require(nprobe >= 1 && nprobe <= cents.length, "need 1 <= nprobe <= centroids.length")
    val bc = spark.sparkContext.broadcast(cents)
    val qs = graft.plans.Lineage.truncate(
      pqQueryLuts(queries, idCol, vecCol, model)
        .withColumn("cell", explode(nearestCells(bc, nprobe)(col("q_vec")))))
    val probed = qs.select("cell").distinct().as[Int].collect().sorted
    val empty = spark.emptyDataset[(Long, Long, Long)].toDF("query_id", "neighbor_id", "rnk")
    if (probed.isEmpty) return empty
    val cellFilter = col("cell").isin(probed.map(x => x: Any): _*)
    // Stage 1: the THIN scan — codes and norms only, never the vectors.
    val thin = graft.operators.IndexStore.minusTombstoned(
      graft.operators.IndexStore.readRel(spark, dd, "", "cell")
        .where(cellFilter)
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("pq_code"), col("pq_norm")),
      "neighbor_id", dd)
    val wA = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id").asc)
    val short = thin
      .join(broadcast(qs), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdcCosine(col("pq_code"), col("q_lut"), col("q_norm"), col("pq_norm")))
      .withColumn("srnk", row_number().over(wA))
      .where(col("srnk") <= shortlist)
      .select("query_id", "neighbor_id", "q_vec")
    // Stage 2: exact rescore — vectors read only for the shortlist, from
    // the same pruned cell partitions.
    val vecs = graft.operators.IndexStore.readRel(spark, dd, "", "cell")
      .where(cellFilter)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("c_vec"))
    val wE = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    short.join(vecs, "neighbor_id")
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** IVF-PQ: the coarse quantizer prunes cells, the fine quantizer (ADC)
    * scores inside them, exact rescore on the shortlist — the standard
    * billion-vector layout. Candidate set = the query's `nprobe` nearest
    * of `centroids.length` cells (the [[ivfTopKWith]] pruning), scored
    * at m lookups/pair, so probe work is
    * (corpus/nlist)·nprobe·m lookups instead of corpus·d multiplies.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      model: PqModel,
      k: Int,
      nprobe: Int = 4,
      shortlist: Int = 64
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val celled = ivfAssign(corpus, vecCol, centroids)
    val codes = pqEncode(celled, idCol, vecCol, model)
      .withColumnRenamed(idCol, "neighbor_id")
      .join(celled.select(col(idCol).as("neighbor_id"), col("cell")), "neighbor_id")
    // Query → its nprobe nearest cells (deterministic: cosine desc, cell asc).
    val qs = pqQueryLuts(queries, idCol, vecCol, model)
    val cellScores = (0 until centroids.length).map { c =>
      struct(centroidCosine(centroids)(col("q_vec"), lit(c)).as("s"), lit(c).as("cell"))
    }
    val probes = qs.withColumn("__cells",
        slice(array_sort(array(cellScores: _*),
          (a, b) => when(a("s") > b("s"), -1).when(a("s") < b("s"), 1)
            .otherwise(when(a("cell") < b("cell"), -1).when(a("cell") > b("cell"), 1).otherwise(0))),
          1, nprobe))
      .select(col("query_id"), col("q_vec"), col("q_lut"), col("q_norm"),
        explode(col("__cells.cell")).as("cell"))
    val adc = codes
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdcCosine(col("pq_code"), col("q_lut"), col("q_norm"), col("pq_norm")))
    val wA = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id").asc)
    val short = adc
      .withColumn("srnk", row_number().over(wA))
      .where(col("srnk") <= shortlist)
      .select("query_id", "neighbor_id", "q_vec")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val wE = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    short.join(c, "neighbor_id")
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }
}
