package graft.tools

import graft.functions.{Anonymizer, ScrubKernel}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Measures the native [[graft.functions.Scrub]] expression against the
  * equivalent Scala UDF on a generated string column — the evidence for
  * the §2.8 codegen upgrade. Rows default to 100× the sf0.1 customer
  * count (~1.5M) so per-row overhead dominates setup.
  *
  * Usage: runMain graft.tools.AnonBench [rows] [reps]
  */
object AnonBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 1500000L
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.Harness.session()

    // Distinct inputs so no cache effect favors either path.
    val df = spark.range(rows).select(concat(lit("Customer#"), col("id")).as("s"))
      .localCheckpoint()

    def time(label: String, c: Column): Double = {
      val runs = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        df.select(sum(length(c))).head.getLong(0)
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"  $label%-28s best ${best}%6.3f s  (runs: ${runs.map(r => f"$r%.3f").mkString(" ")})")
      best
    }

    Seq(
      ("first_name", Anonymizer.FirstName),
      ("full_name", Anonymizer.FullName),
      ("email", Anonymizer.Email),
      ("phone", Anonymizer.PhoneNumber),
      ("lorem", Anonymizer.LoremText)
    ).foreach { case (kind, fn) =>
      println(s"== $kind ($rows rows) ==")
      val u      = udf(fn(_: String))
      val tUdf   = time("udf", u(col("s")))
      val native = graft.functions.GraftFunctions
      val nc: Column = kind match {
        case "first_name" => native.firstName(col("s"))
        case "full_name"  => native.fullName(col("s"))
        case "email"      => native.email(col("s"))
        case "phone"      => native.phoneNumber(col("s"))
        case "lorem"      => native.loremText(col("s"))
      }
      val tNat = time("native expression", nc)
      println(f"  speedup ${tUdf / tNat}%5.2fx")
      // Paranoia: identical outputs on a sample.
      val mismatch = df.limit(10000)
        .select(u(col("s")).as("a"), nc.as("b"))
        .where(col("a") =!= col("b")).count()
      require(mismatch == 0, s"$kind: native and UDF outputs diverge on $mismatch rows")
      require(ScrubKernel.kindOf(fn).contains(kind), s"registry sanity: $kind")
    }

    // The parameterized member (round 10): edge widths are plan-time
    // literals on the native path, closure captures on the UDF path.
    println(s"== partial_redact(2, 2) ($rows rows) ==")
    val prUdf  = udf(Anonymizer.PartialRedact(2, 2)(_: String))
    val tPrUdf = time("udf", prUdf(col("s")))
    val prNat  = graft.functions.GraftFunctions.partialRedact(2, 2)(col("s"))
    val tPrNat = time("native expression", prNat)
    println(f"  speedup ${tPrUdf / tPrNat}%5.2fx")
    val prMismatch = df.limit(10000)
      .select(prUdf(col("s")).as("a"), prNat.as("b"))
      .where(col("a") =!= col("b")).count()
    require(prMismatch == 0, s"partial_redact: native and UDF outputs diverge on $prMismatch rows")

    spark.stop()
  }
}
