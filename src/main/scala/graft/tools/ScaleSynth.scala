package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an M× corpus from a fixture directory by unioning M
  * id-offset copies of each table — the empirical half of SCALE.md's
  * "near-linear or it isn't done" contract.
  *
  * Copy construction preserves per-copy workload statistics while keeping
  * copies DISSIMILAR, so a soak measures the engine's scaling, not an
  * artificial near-duplicate explosion:
  *
  *   - ids shift by `copy × stride` (stride = max(id)+1 of the source), and
  *     FK columns shift by the PARENT's stride, so `orders ⋈ customer` and
  *     `lineitem ⋈ orders` keep exactly one match per key at any M;
  *   - document text is Caesar-rotated per copy (letters by `copy % 26`,
  *     digits by `copy % 10`): token lengths, shingle counts, and frequency
  *     distributions are preserved EXACTLY, but trigrams of different
  *     copies land in disjoint regions of shingle space — cross-copy
  *     Jaccard is near zero, so dedup candidate work grows ~M, not M²;
  *   - embeddings rotate their components by `copy % dims` — norms and
  *     within-copy cosine structure are identical, cross-copy similarity
  *     is scrambled;
  *   - events shift event/user ids; timestamps are untouched, so per-user
  *     session shapes replicate.
  *
  * Copy 0 is the identity — a multiplier-1 synth equals the source table
  * (modulo file layout), making ratios across multipliers apples-to-apples.
  *
  * Usage: runMain graft.tools.ScaleSynth <srcSfDir> <outDir> <multiplier>
  */
object ScaleSynth {

  private val lower  = "abcdefghijklmnopqrstuvwxyz"
  private val upper  = lower.toUpperCase
  private val digits = "0123456789"

  /** Per-copy AFFINE substitution cipher for translate(): letter at index
    * j maps to index `(a·j + b) % 26` with `a` coprime to 26, giving
    * 12 × 26 = 312 distinct alphabet permutations (Caesar rotation alone
    * cycles at 26 — copies i and i+26 would be IDENTICAL text, turning
    * every doc into a cross-copy exact duplicate and inflating dedup pair
    * counts quadratically past mult 26). Digits use affine mod 10
    * (4 × 10 = 40 maps; pure-digit shingles are rare enough that the
    * residual overlap past 40 copies is noise). Copy 0 is (a=1, b=0) —
    * the identity. Pure Column expression — no UDF.
    */
  private val letterCoprimes = Vector(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private val digitCoprimes  = Vector(1, 3, 7, 9)

  private def rotText(c: org.apache.spark.sql.Column, i: Int) = {
    if (i == 0) c
    else {
      val (la, lb) = (letterCoprimes((i / 26) % 12), i % 26)
      val (da, db) = (digitCoprimes((i / 10) % 4), i % 10)
      def perm(alphabet: String, a: Int, b: Int): String =
        alphabet.indices.map(j => alphabet((a * j + b) % alphabet.length)).mkString
      val from = lower + upper + digits
      val to   = perm(lower, la, lb) + perm(upper, la, lb) + perm(digits, da, db)
      translate(c, from, to)
    }
  }

  private def maxPlusOne(df: DataFrame, idCol: String): Long =
    df.agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0) + 1L

  /** Pathological-key assignment for the skew soaks: 25% of rows land on
    * key 1 (ONE hot key — the shape AQE's skew split cannot fix when the
    * operator is an aggregation, and the worst case for a salted join; key
    * 1 rather than 0 so the hot key EXISTS in the uniform corpus' 1-based
    * key domain and join hit rates stay representative instead of the hot
    * mass dangling), the rest follow a Zipf(1) tail over [0, n) via a
    * log-uniform rank draw (`floor(n^u)` is log-uniform ⇒ P(rank k) ∝
    * 1/k). Deterministic per row (xxhash64 of the row's id + salt), pure
    * Column expression.
    */
  private def skewedKey(src: org.apache.spark.sql.Column, n: Long, salt: Int) = {
    val u = (pmod(xxhash64(src, lit(salt)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    when(u < 0.25, lit(1L))
      .otherwise(least(floor(pow(lit(n.toDouble), u)).cast("long") - 1, lit(n - 1)))
  }

  def synthesize(spark: SparkSession, srcDir: String, outDir: String, mult: Int): Unit =
    synthesize(spark, srcDir, outDir, mult, skewKeys = false)

  /** `skewKeys = true` builds the SKEW-SOAK variant: same M× volume, but
    * `orders.o_custkey` (the grouped-top-k key) and `lineitem.l_orderkey`
    * (the fact-side join key) are re-drawn from [[skewedKey]] — a quarter
    * of all rows on one key, Zipf tail on the rest — instead of the
    * uniform per-copy shift. The key DOMAINS stay those of the uniform
    * corpus, so the same gates run unchanged; only the distribution is
    * hostile.
    */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String, mult: Int,
      skewKeys: Boolean): Unit = {
    // events.parquet carries TIMESTAMP(NANOS); session-dynamic legacy flag
    // (see TESTDATA.md) — set here so every caller-supplied session works.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    val cStride = maxPlusOne(src("customer"), "c_custkey")
    val oStride = maxPlusOne(src("orders"), "o_orderkey")
    val dStride = maxPlusOne(src("documents"), "doc_id")
    val vStride = maxPlusOne(src("embeddings"), "vec_id")
    val eStride = maxPlusOne(src("events").select(col("event_id")), "event_id")
    val uStride = maxPlusOne(src("events").select(col("user_id")), "user_id")

    def write(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = src(name)
      val out  = (0 until mult).map(i => copy(base, i)).reduce(_ unionByName _)
      // Partition count grows with the data so per-partition size stays
      // roughly what the 1× fixture produces.
      out
        .repartition(math.max(4, 4 * mult))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    write("customer")((df, i) => df.withColumn("c_custkey", col("c_custkey") + lit(i * cStride)))
    write("orders") { (df, i) =>
      val shifted = df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
      if (skewKeys)
        shifted.withColumn("o_custkey", skewedKey(col("o_orderkey"), mult * cStride, salt = 7))
      else shifted.withColumn("o_custkey", col("o_custkey") + lit(i * cStride))
    }
    write("lineitem") { (df, i) =>
      if (skewKeys)
        // Salt by line number too so a hot ORDER's items still carry
        // distinct (orderkey, linenumber) identity rows.
        df.withColumn("l_orderkey",
          skewedKey(col("l_orderkey") + lit(i * oStride) + col("l_linenumber") * 1000003L,
            mult * oStride, salt = 11))
      else df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
    }
    write("documents") { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * dStride))
        .withColumn("text", rotText(col("text"), i))
      if (skewKeys)
        // Hot-SHINGLE injection — the dedup family's skew axis: one fixed
        // boilerplate phrase is appended to ~25% of all docs (hash-chosen,
        // deterministic), so its trigrams saturate the corpus WITHOUT
        // making the docs near-duplicates (each doc keeps its distinct
        // body). A frequency-uncapped posting list for those trigrams
        // would be (0.25·n)²/2 pairs; `maxShingleFreq` is the designed
        // defense and the skew ladder is its measurement.
        shifted.withColumn("text",
          when(pmod(xxhash64(col("doc_id"), lit(13)), lit(4L)) === 0,
            concat(col("text"), lit(" subscribe to our newsletter for updates today")))
            .otherwise(col("text")))
      else shifted
    }
    write("embeddings") { (df, i) =>
      val dims = 64
      val r    = i % dims
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dims - r), slice(col("embedding"), 1, r))
      // Rotation alone cycles at `dims`; negate on odd cycles so copies
      // i and i+dims are antipodal (cosine −1), not identical — supports
      // multipliers up to 2×dims without cross-copy near-dup inflation.
      val scrambled = if ((i / dims) % 2 == 1) transform(rotated, x => -x) else rotated
      df.withColumn("vec_id", col("vec_id") + lit(i * vStride))
        .withColumn("embedding", scrambled)
    }
    write("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eStride))
        .withColumn("user_id", col("user_id") + lit(i * uStride))
    }
    // Dimension tables copy through unchanged (already tiny; the soak
    // queries that touch them treat them as broadcast dims).
    Seq("region", "nation", "part", "supplier").foreach { name =>
      src(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mult) = args.take(3)
    val skew = args.length > 3 && args(3) == "skew"
    val spark = graft.Harness.session()
    synthesize(spark, srcDir, outDir, mult.toInt, skewKeys = skew)
    spark.stop()
  }
}
