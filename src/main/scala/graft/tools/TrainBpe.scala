package graft.tools

/** Trains the frozen BPE merge table behind `q_text_bpe_real` and
  * regenerates `operators/BpePinned.scala` — same pinning rationale as
  * [[TrainIvf]]: tokenizers are trained offline and frozen; pinned
  * constants let the static DuckDB oracle replay the identical merges,
  * and a spec proves retraining reproduces them.
  *
  * Usage: runMain graft.tools.TrainBpe [sfDir] [numMerges]
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir  = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val merges = if (args.length > 1) args(1).toInt else 200
    val spark = graft.Harness.session()

    val docs    = spark.read.parquet(s"$sfDir/documents.parquet")
    val trained = graft.operators.Bpe.trainMerges(docs, "text", merges)

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = trained.map(m => "\"" + esc(m) + "\"").grouped(8).map(_.mkString(", ")).mkString(",\n    ")
    val src =
      s"""package graft.operators
         |
         |/** GENERATED by `runMain graft.tools.TrainBpe` — do not edit by hand.
         |  *
         |  * The frozen BPE merge table behind `q_text_bpe_real`: trained once on
         |  * the $sfDir documents fixture ([[Bpe.trainMerges]], ${trained.size} merges,
         |  * greedy pair-frequency with lexicographic tie-break) and pinned as
         |  * source constants so the static DuckDB oracle can replay the encode
         |  * bit-for-bit. OperatorsSpec proves retraining reproduces this table.
         |  */
         |object BpePinned {
         |  val trainedOn: String = "$sfDir"
         |  val merges: IndexedSeq[String] = IndexedSeq(
         |    $body
         |  )
         |}
         |""".stripMargin
    val path = "src/main/scala/graft/operators/BpePinned.scala"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), src)
    println(s"[train-bpe] wrote ${trained.size} merges to $path")
    spark.stop()
  }
}
