package graft.tools

/** Trains the frozen IVF coarse quantizer that `q_knn_ivf_probe` serves
  * with, and regenerates `operators/IvfPinned.scala` from it.
  *
  * Why pinned constants: the driver's oracle SQL is static text, while
  * trained centroids depend on the training corpus — so the gate pins the
  * quantizer the way production ANN serving does (train offline, freeze,
  * ship). Both the Spark gate and the DuckDB oracle read the SAME frozen
  * doubles (Double.toString round-trips exactly in both parsers), and
  * `OperatorsSpec` re-trains on the fixture to prove the pinned values are
  * reproducible, not hand-made.
  *
  * Usage: runMain graft.tools.TrainIvf [sfDir] [nlist] [lloydIters]
  */
object TrainIvf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val nlist = if (args.length > 1) args(1).toInt else 16
    val iters = if (args.length > 2) args(2).toInt else 5
    val spark = graft.Harness.session()

    val emb   = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist, iters)

    val rows = cents
      .map(_.map(_.toString).mkString("    Array(", ", ", ")"))
      .mkString(",\n")
    val src =
      s"""package graft.operators
         |
         |/** GENERATED by `runMain graft.tools.TrainIvf` — do not edit by hand.
         |  *
         |  * The frozen IVF coarse quantizer behind `q_knn_ivf_probe`: trained
         |  * once on the $sfDir embeddings fixture ([[Similarity.ivfCentroids]],
         |  * nlist = $nlist, lloydIters = $iters) and pinned as source constants —
         |  * the production ANN serving shape (quantizers are trained offline,
         |  * frozen, and shipped; queries never retrain). Pinning also lets the
         |  * static DuckDB oracle SQL embed the identical doubles, so the gate
         |  * checks cell assignment + probe selection + ranking bit-for-bit.
         |  * OperatorsSpec proves retraining on the fixture reproduces these
         |  * values exactly.
         |  */
         |object IvfPinned {
         |  val nlist: Int      = $nlist
         |  val dims: Int       = ${cents(0).length}
         |  val trainedOn: String = "$sfDir"
         |
         |  val centroids: Array[Array[Double]] = Array(
         |$rows
         |  )
         |}
         |""".stripMargin
    val path = "src/main/scala/graft/operators/IvfPinned.scala"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), src)
    println(s"[train-ivf] wrote ${cents.length}×${cents(0).length} centroids to $path")
    spark.stop()
  }
}
