package graft.tools

import org.apache.spark.sql.functions._

/** Trains the frozen quality-classifier weights behind
  * `q_text_classifier_score` and regenerates
  * `operators/QualityClassifierPinned.scala` — same pinning rationale as
  * [[TrainBpe]]/[[TrainIvf]]: quality models are trained offline and
  * frozen; pinned fixed-point constants let the static DuckDB oracle
  * replay the identical integer logits, and a spec proves retraining
  * reproduces them bit-for-bit (the fixed-point gradient sum is
  * partitioning-independent).
  *
  * The weak label distills the LM-perplexity filter: y = 1 iff the
  * calibrated bigram-LM filter keeps the document (nll < 3.45 — the
  * q_text_lm_calibrated threshold). The classifier learns to mimic that
  * expensive signal from hashed token counts alone.
  *
  * Usage: runMain graft.tools.TrainQualityClassifier [sfDir] [dim] [iters] [lr]
  * — each omitted argument defaults to the pinned model's own setting,
  * so a no-argument run regenerates the pinned file unchanged.
  */
object TrainQualityClassifier {
  def main(args: Array[String]): Unit = {
    import graft.operators.{QualityClassifierPinned => Pinned}
    val sfDir = if (args.length > 0) args(0) else Pinned.trainedOn
    val dim   = if (args.length > 1) args(1).toInt else Pinned.dim
    val iters = if (args.length > 2) args(2).toInt else Pinned.iters
    val lr    = if (args.length > 3) args(3).toDouble else Pinned.learningRate
    val spark = graft.Harness.session()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val labeled = docs.join(
      graft.operators.TextAnalysis
        .lmQualityScore(docs, "text", "doc_id", nllThreshold = 3.45)
        .select(col("doc_id"), col("kept").cast("int").as("label")),
      "doc_id")
    val model = graft.operators.QualityClassifier.train(labeled, "text", "label", dim, iters, lr)

    // Training diagnostics: teacher agreement and prediction split.
    val scored = graft.operators.QualityClassifier.score(docs, "text", "doc_id", model)
      .join(labeled.select(col("doc_id"), col("label")), "doc_id")
    val n     = scored.count()
    val agree = scored.where(col("kept") === (col("label") === 1)).count()
    val pos   = scored.where(col("kept")).count()
    println(s"[train-qc] teacher agreement $agree/$n, predicted-positive $pos/$n")

    val nz   = model.nonZero
    val body = nz.map { case (b, w) => s"($b, ${w}L)" }.grouped(6).map(_.mkString(", ")).mkString(",\n    ")
    val src =
      s"""package graft.operators
         |
         |/** GENERATED by `runMain graft.tools.TrainQualityClassifier` — do not
         |  * edit by hand.
         |  *
         |  * The frozen hashed-n-gram quality-classifier weights behind
         |  * `q_text_classifier_score`: logistic regression over $dim hash
         |  * buckets, $iters fixed-point gradient iterations on the $sfDir
         |  * documents fixture, distilling the calibrated LM filter
         |  * (label = nll < 3.45). Pinned as micro-unit integers so the static
         |  * DuckDB oracle replays the exact integer logits. A spec proves
         |  * retraining reproduces these weights bit-for-bit.
         |  */
         |object QualityClassifierPinned {
         |  val trainedOn: String     = "$sfDir"
         |  val dim: Int              = $dim
         |  val iters: Int            = $iters
         |  val learningRate: Double  = $lr
         |  val biasMicro: Long       = ${model.biasMicro}L
         |  val nonZero: IndexedSeq[(Int, Long)] = IndexedSeq(
         |    $body
         |  )
         |  lazy val model: QualityClassifier.Model =
         |    QualityClassifier.Model.fromSparse(dim, biasMicro, nonZero)
         |}
         |""".stripMargin
    val path = "src/main/scala/graft/operators/QualityClassifierPinned.scala"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), src)
    println(s"[train-qc] wrote ${nz.size} nonzero weights (dim=$dim, bias=${model.biasMicro}) to $path")
    spark.stop()
  }
}
