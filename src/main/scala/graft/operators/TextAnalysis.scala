package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-profile heuristic), quality metrics, token counting, and
  * document fingerprinting. All Column-native except the winnowing
  * fingerprint (an inherently sequential rolling hash → UDF).
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column = Dedup.tokens(text)

  // Counts are BIGINT: 64-bit like every other count in the engine, and
  // type-aligned with DuckDB's len()/count(*) for the oracle compare.
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenization pattern (GPT-2-family shape, simplified to
    * the subset with identical semantics in Java regex and RE2): English
    * contractions, letter runs, digit runs, punctuation runs — each with
    * an optional leading space — plus whitespace runs. Frozen: the DuckDB
    * oracle embeds the same pattern.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"

  /** Token count under BPE-ish pre-tokenization (regexp segmentation). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0))).cast("long")

  /** Language-profile stopwords. Frozen — the DuckDB oracle embeds the same
    * lists via [[graft.OracleGen]]-style generation in SparkEntry.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " los ", " de "),
    "fr" -> Seq(" le ", " et ", " dans "),
    "de" -> Seq(" der ", " und ", " nicht ")
  )

  /** Occurrences of `needle` in `hay` via length arithmetic (no regex —
    * identical semantics in any engine).
    */
  def countOccurrences(hay: Column, needle: String): Column =
    (length(hay) - length(replace(hay, lit(needle), lit("")))) / needle.length

  /** Heuristic language ID: argmax of stopword-profile hit counts with a
    * fixed precedence order (en > es > fr > de on ties).
    */
  def languageId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scores = langProfiles.map { case (lang, words) =>
      lang -> words.map(w => countOccurrences(padded, w)).reduce(_ + _)
    }
    scores
      .foldRight(lit(scores.last._1)) { case ((lang, score), fallback) =>
        val beatsRest = scores.filter(_._1 != lang).map(_._2).map(score >= _).reduce(_ && _)
        when(beatsRest, lit(lang)).otherwise(fallback)
      }
  }

  /** Quality metrics: char/token counts, mean token length, alpha ratio,
    * whitespace ratio, stopword ratio. Kept as separate columns (no opaque
    * combined score) so downstream filters compose.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t    = col(textCol)
    val toks = tokens(t)
    val stop = Seq("the", "and", "of", "a", "to", "in")
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn(
        "mean_token_len",
        aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double") / greatest(size(toks), lit(1))
      )
      .withColumn(
        "alpha_ratio",
        length(regexp_replace(t, "[^a-z]", "")).cast("double") / greatest(length(t), lit(1))
      )
      .withColumn(
        "stopword_ratio",
        size(filter(toks, x => x.isin(stop: _*))).cast("double") / greatest(size(toks), lit(1))
      )
  }

  /** Corpus term statistics: per distinct token, its document frequency
    * (docs containing it) and total term frequency (occurrences across the
    * corpus). Integer-exact — the counting backbone of TF-IDF / stopword
    * discovery without float log formulas. One explode + one hash
    * aggregation; shuffle key is the token.
    */
  def termDocFrequency(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    toks
      .groupBy("term")
      .agg(countDistinct("doc_id").as("doc_freq"), count(lit(1)).as("term_freq"))
  }

  /** Corpus token-n-gram statistics: per distinct n-gram, the number of
    * documents containing it and its total occurrences — the language-model
    * corpus-stats backbone (bigram/trigram tables). One explode + one hash
    * aggregation, shuffle key = the n-gram; documents shorter than n
    * contribute nothing.
    */
  def tokenNgramCounts(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    df.select(col(idCol).as("doc_id"), explode(tokenNgrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(countDistinct("doc_id").as("doc_freq"), count(lit(1)).as("ngram_freq"))
  }

  /** Corpus-trained bigram-LM quality scoring — the CCNet/KenLM-style
    * perplexity filter every scraped-web training pipeline runs: documents
    * whose token sequences are improbable under a language model of the
    * (reference) corpus are boilerplate/garble candidates. The model is
    * add-one-smoothed bigram maximum likelihood:
    *
    *   P(w2 | w1) = (c(w1 w2) + 1) / (ctx(w1) + V)
    *
    * with `c` the corpus bigram count, `ctx(w1) = Σ_w2 c(w1 w2)` the
    * bigram-prefix count, and `V` the corpus vocabulary size. A document's
    * score is its average negative log-likelihood per bigram (nats);
    * `perplexity = exp(nll)`. Lower = more natural under the corpus.
    *
    * Output: (doc_id, n_bigrams, nll DOUBLE, kept BOOLEAN) with
    * `kept = nll < nllThreshold` (documents with < 2 tokens carry no
    * evidence: nll 0, kept). Pass `lm` to score against a model trained on
    * a DIFFERENT (clean reference) corpus — the standard CCNet setup —
    * otherwise the input corpus trains the model.
    *
    * Scale shape: counts are plain aggregations on the bigram key, scoring
    * is hash joins on the same keys, per-doc reduce at the end — no driver
    * state, nothing broadcast-unbounded. At 100 TB the count tables bucket
    * by bigram and the joins stay co-located; the shape is the same as the
    * TF-IDF operator's.
    */
  def lmQualityScore(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nllThreshold: Double,
      lm: Option[DataFrame] = None
  ): DataFrame = {
    val spark = df.sparkSession
    // (doc_id, bigram, m) — each document's bigram multiset. The scored
    // corpus' frame is materialized ONCE: in the self-trained case it
    // feeds training AND scoring (without the truncate, both sides would
    // re-tokenize and re-aggregate the whole corpus from scratch).
    def docBigrams(in: DataFrame) = in
      .select(col(idCol).cast("long").as("doc_id"), explode(tokenNgrams(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("m"))
    val scoredBigrams = graft.plans.Lineage.truncate(docBigrams(df))
    val trainBigrams  = lm.map(docBigrams).getOrElse(scoredBigrams)
    val bigramCounts = trainBigrams.groupBy("bg").agg(sum("m").as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val contextCounts = bigramCounts.groupBy("w1").agg(sum("c_bg").as("c_ctx"))
    val vocab = lm.getOrElse(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct("tok")).head.getLong(0)
    val scored = scoredBigrams
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(bigramCounts.select("bg", "c_bg"), Seq("bg"), "left")
      .join(contextCounts, Seq("w1"), "left")
      .select(
        col("doc_id"), col("m"),
        (col("m") * log((coalesce(col("c_bg"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c_ctx"), lit(0L)) + vocab))).as("contrib")
      )
      .groupBy("doc_id")
      .agg((-sum("contrib") / sum("m")).as("nll"), sum("m").cast("long").as("n_bigrams"))
    // Short documents (< 2 tokens) have no bigrams at all — carry them
    // through with zero evidence instead of dropping them.
    df.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0.0)).as("nll"),
        (coalesce(col("nll"), lit(0.0)) < nllThreshold).as("kept")
      )
  }

  /** Exact p-quantile cutoff of a FIXED-POINT integer score column. A
    * bounded score domain (milli-nats, per-mille ratios) turns the exact
    * quantile into a VALUE-HISTOGRAM problem: one map-side-combinable
    * groupBy over the ≤ `maxDistinct` distinct values, collected to the
    * driver and prefix-summed — no global sort, no approx sketch,
    * cross-engine exact. k = max(1, ceil(p·n)); the cutoff is the k-th
    * smallest value counting duplicates. ExactGuard-style bound: throws
    * past `maxDistinct` naming `approx_percentile` as the
    * unbounded-domain alternative.
    */
  def integerPercentileCutoff(
      df: DataFrame,
      valueCol: String,
      p: Double,
      maxDistinct: Long = 1000000L
  ): Long = {
    require(p > 0 && p <= 1, "p must be in (0, 1]")
    // The bound must bite BEFORE driver materialization (an unbounded
    // score domain would otherwise OOM the driver the guard exists to
    // protect): collect at most maxDistinct+1 rows — the sentinel extra
    // row proves the overflow without ever holding the full histogram.
    val capPlusOne = (math.min(maxDistinct, Int.MaxValue - 1L) + 1L).toInt
    val hist = df.groupBy(col(valueCol).cast("long").as("v")).agg(count(lit(1)).as("c"))
      .orderBy("v").limit(capPlusOne).collect()
    require(hist.nonEmpty, "integerPercentileCutoff: empty input")
    require(hist.length <= maxDistinct,
      s"integerPercentileCutoff: more than $maxDistinct distinct values exceed the histogram bound — " +
        "this exact method is for fixed-point score domains; use approx_percentile for unbounded ones")
    val n = hist.map(_.getLong(1)).sum
    val k = math.max(1L, math.ceil(p * n).toLong)
    var acc = 0L
    hist.find { r => acc += r.getLong(1); acc >= k }.get.getLong(0)
  }

  /** CCNet-style CALIBRATED LM quality filter: score the corpus with the
    * self-trained bigram LM ([[lmQualityScore]]), fix the threshold at
    * the corpus' own `keepFraction` percentile of milli-nat scores
    * ([[integerPercentileCutoff]]), and keep documents at or below it.
    * A hard-coded nll threshold doesn't transfer between corpora (this
    * round's ×100 soak showed a fixture-calibrated cut emptying a
    * re-synthesized corpus — SCALE.md); a percentile is the
    * scale-invariant form the CCNet paper uses. Ties at the cutoff are
    * all kept, so the kept fraction can slightly exceed `keepFraction`
    * (deterministic on any engine — no tie-breaking randomness).
    */
  def lmQualityFilterCalibrated(
      df: DataFrame,
      textCol: String,
      idCol: String,
      keepFraction: Double
  ): DataFrame = {
    val scored = graft.plans.Lineage.truncate(
      lmQualityScore(df, textCol, idCol, nllThreshold = Double.MaxValue)
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("nll") * 1000 + lit(0.5)).cast("long").as("nll_milli")))
    val cut = integerPercentileCutoff(scored, "nll_milli", keepFraction)
    scored.where(col("nll_milli") <= cut).withColumn("cutoff_milli", lit(cut))
  }

  /** A trained bigram LM as broadcastable driver-side maps — the SERVING
    * form of [[lmQualityScore]]'s model (KenLM ships models to workers the
    * same way). Built by [[lmTrainCompact]]; scored scan-locally by
    * [[lmScoreScanLocal]], which therefore runs UNCHANGED on a stream.
    * CAPACITY BOUND (enforced): the maps live in executor memory — train
    * on a vocabulary-capped reference corpus (the standard CCNet setup
    * scores against a clean Wikipedia-sized model, a few GB at most); the
    * join-based [[lmQualityScore]] is the unbounded-model batch path.
    */
  final case class LmModel(
      bigram: Map[String, Long],
      context: Map[String, Long],
      vocabSize: Long
  ) {
    def logProb(w1: String, bg: String): Double =
      math.log((bigram.getOrElse(bg, 0L) + 1).toDouble / (context.getOrElse(w1, 0L) + vocabSize))
  }

  /** Train a compact [[LmModel]] on `corpus` (same counts/smoothing as
    * [[lmQualityScore]]'s internal model — the two scorers agree exactly,
    * spec-pinned). `maxBigrams` guards the driver collect, ExactGuard
    * style: a model that doesn't fit a broadcast needs the join-based
    * scorer, not a bigger driver.
    */
  def lmTrainCompact(corpus: DataFrame, textCol: String, maxBigrams: Long = 10000000L): LmModel = {
    val bigramCounts = corpus
      .select(explode(tokenNgrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c"))
    val n = bigramCounts.count()
    require(
      n <= maxBigrams,
      s"lmTrainCompact: $n distinct bigrams exceeds maxBigrams = $maxBigrams — " +
        "a model this size should serve through the join-based lmQualityScore, not a broadcast map"
    )
    val bg = bigramCounts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ctx = bg.toSeq
      .groupMapReduce { case (b, _) => b.takeWhile(_ != ' ') } { case (_, c) => c }(_ + _)
    val vocab = corpus.select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct("tok")).head.getLong(0)
    LmModel(bg, ctx, vocab)
  }

  /** Scan-local LM scoring against a broadcast [[LmModel]]:
    * struct(n_bigrams long, nll double) per text. No shuffle, no state —
    * identical on batch frames and streams (the streaming spec replays it
    * through a MemoryStream). Same fold order as reading the document, so
    * repeated runs are bit-identical.
    */
  def lmScoreScanLocal(model: LmModel, spark: org.apache.spark.sql.SparkSession)(text: Column): Column = {
    val bc = spark.sparkContext.broadcast(model)
    val u = udf { (t: String) =>
      val toks = if (t == null) Array.empty[String] else t.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 2) (0L, 0.0)
      else {
        val m = bc.value
        var acc = 0.0
        var i = 0
        while (i < toks.length - 1) {
          acc += m.logProb(toks(i), toks(i) + " " + toks(i + 1))
          i += 1
        }
        (toks.length - 1L, -acc / (toks.length - 1))
      }
    }
    u(text)
  }

  /** Space-joined token n-grams of `text`, in order with repeats; empty
    * array for documents shorter than n tokens. Tight UDF kernel, NOT the
    * transform/slice/concat_ws HOF chain: Catalyst HOFs evaluate
    * interpreted per element and re-evaluate the `split` per expression
    * occurrence — the HOF form measured 4× slower on the corpus-ngram
    * gate at sf0.1.
    */
  def tokenNgrams(text: Column, n: Int): Column = {
    val u = udf { (t: String) =>
      val toks = if (t == null) Array.empty[String] else t.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Array.empty[String]
      else Array.tabulate(toks.length - n + 1) { i =>
        val sb = new StringBuilder(toks(i))
        var j = i + 1
        while (j < i + n) { sb += ' '; sb ++= toks(j); j += 1 }
        sb.result()
      }
    }
    u(text)
  }

  /** Train/test decontamination: for each corpus document, how many of its
    * DISTINCT token n-grams appear anywhere in the benchmark set — the
    * standard n-gram-overlap leak check run before training on scraped
    * data (real deployments use n≈13; the default follows that).
    *
    * Scale shape: both sides explode to (doc, gram) rows; the benchmark
    * side is distinct-ed and broadcast (benchmark suites are tiny next to
    * a training corpus), so the corpus is ONE scan + two hash
    * aggregations on doc_id — no corpus-side shuffle on the gram. Grams
    * join as strings here; at 100 TB hash them to 8-byte longs first
    * (same trick as [[Dedup.hashedShingles]]) to shrink the broadcast and
    * the aggregate keys. Documents with fewer than n tokens produce no
    * output row (they have no grams to leak).
    */
  def decontaminationOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 13,
      maxBroadcastGrams: Long = 20L * 1000 * 1000
  ): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), explode(array_distinct(tokenNgrams(col(textCol), n))).as("gram"))
    val c = graft.plans.Lineage.truncate(grams(corpus))
    // Benchmark suites are tiny next to a training corpus, so the gram set
    // broadcasts by default — but gate it the house way (VerifyMode.Auto
    // style) rather than OOM-ing the driver on a "benchmark" that is
    // really a second corpus. The probe is an UPPER BOUND — the
    // benchmark's total token count, one scan-local aggregate with no
    // explode or shuffle (distinct grams ≤ tokens) — so the common small
    // case pays almost nothing for the check.
    val bound = benchmark.agg(sum(size(tokens(col(textCol))))).head
    val benchTokens = if (bound.isNullAt(0)) 0L else bound.getLong(0)
    val benchGrams = grams(benchmark).select("gram").distinct()
    val bench = if (benchTokens <= maxBroadcastGrams) broadcast(benchGrams) else benchGrams
    val totals  = c.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val overlap = c.join(bench, "gram").groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    totals
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** [[decontaminationOverlap]]'s BLOOM-FILTER serving form — the
    * web-scale decontamination trick: build one Bloom filter over the
    * benchmark's distinct n-grams (order-independent bit-OR construction,
    * so the filter is deterministic for fixed inputs and parameters),
    * broadcast it, and count each corpus document's gram hits
    * SCAN-LOCALLY. The corpus pays ZERO gram-side shuffle and no
    * per-gram join — one scan, however big the corpus is; only the tiny
    * benchmark side is aggregated.
    *
    * The error direction is the SAFE one for decontamination: Bloom
    * filters have no false negatives, so `n_overlap_bloom ≥` the exact
    * overlap always — a false positive can only make a clean document
    * LOOK contaminated (discarded conservatively), never let a
    * contaminated one through. Expected over-count per document ≈
    * `fpp · n_grams`; size `fpp` accordingly (default 0.001 ⇒ ~1 extra
    * hit per 1000 clean grams). Output: (doc_id, n_grams,
    * n_overlap_bloom).
    */
  def decontaminationOverlapBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 13,
      fpp: Double = 0.001
  ): DataFrame = {
    require(fpp > 0 && fpp < 0.5, "fpp must be in (0, 0.5)")
    val spark = corpus.sparkSession
    val benchGrams = benchmark
      .select(explode(array_distinct(tokenNgrams(col(textCol), n))).as("gram"))
      .distinct()
    // Two passes over the (tiny) benchmark side: an exact count to size
    // the filter, then the filter build itself.
    val nBench = math.max(1L, benchGrams.count())
    val bloom  = benchGrams.stat.bloomFilter("gram", nBench, fpp)
    val bc     = spark.sparkContext.broadcast(bloom)
    val hits = udf { (grams: Seq[String]) =>
      if (grams == null) 0L
      else {
        val f = bc.value
        var c = 0L
        grams.foreach(g => if (f.mightContain(g)) c += 1)
        c
      }
    }
    corpus
      .select(col(idCol).as("doc_id"), array_distinct(tokenNgrams(col(textCol), n)).as("grams"))
      .where(size(col("grams")) > 0)
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        hits(col("grams")).as("n_overlap_bloom")
      )
  }

  /** Per-document repetition metrics — the C4/Gopher-style repetitiveness
    * filters: fraction of tokens that are repeats of an earlier token, and
    * the share of bigrams taken by the single most frequent bigram.
    * Boilerplate, keyword-stuffed, and template pages score high on both.
    *
    * Tight UDF kernel (one pass, one small hash map per document), NOT
    * Catalyst higher-order functions — the per-token inner loop is the
    * measured-hot path SCALE.md reserves for UDFs. Scan-local: no shuffle
    * at any corpus size. Null/empty text → zeros. Both fractions are one
    * IEEE division of exact integers, so the DuckDB oracle reproduces
    * them bit-for-bit with no rounding.
    */
  private val repetitionUdf = udf { (t: String) =>
    val toks = if (t == null) Array.empty[String] else t.split("\\s+").filter(_.nonEmpty)
    val nTok = toks.length
    val dupFrac =
      if (nTok == 0) 0.0
      else {
        val seen = new java.util.HashSet[String]()
        toks.foreach(seen.add)
        (nTok - seen.size).toDouble / nTok
      }
    val topBigramFrac =
      if (nTok < 2) 0.0
      else {
        val counts = new java.util.HashMap[String, Int]()
        var maxC = 0
        var i = 0
        while (i < nTok - 1) {
          val bg = toks(i) + " " + toks(i + 1)
          val c  = counts.merge(bg, 1, Integer.sum)
          if (c > maxC) maxC = c
          i += 1
        }
        maxC.toDouble / (nTok - 1)
      }
    (nTok.toLong, dupFrac, topBigramFrac)
  }

  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), repetitionUdf(col(textCol)).as("m"))
      .select(
        col("doc_id"),
        col("m._1").as("n_tokens"),
        col("m._2").as("dup_token_frac"),
        col("m._3").as("top_bigram_frac")
      )

  /** Thresholds for [[filterByQuality]] — the C4/Gopher-style rule set.
    * Defaults are permissive; tune per corpus.
    */
  case class QualityThresholds(
      minTokens: Long = 5,
      maxTokens: Long = 1000000,
      maxDupTokenFrac: Double = 0.9,
      maxTopBigramFrac: Double = 0.5,
      minAlphaRatio: Double = 0.0
  )

  /** One-call corpus quality filtering: keep documents passing EVERY
    * threshold, with the computed metrics appended (`n_tokens`,
    * `dup_token_frac`, `top_bigram_frac`, `alpha_ratio`) so downstream
    * stages can re-cut without recomputing. Scan-local — one UDF kernel
    * pass plus codegen'd column expressions; no shuffle at any corpus
    * size. All metrics are exact integer ratios, so the DuckDB oracle
    * reproduces the keep set bit-for-bit.
    */
  def filterByQuality(
      df: DataFrame,
      textCol: String,
      idCol: String,
      t: QualityThresholds = QualityThresholds()
  ): DataFrame = {
    val withM = df
      .withColumn("__rep", repetitionUdf(col(textCol)))
      .withColumn(
        "alpha_ratio",
        length(regexp_replace(col(textCol), "[^a-z]", "")).cast("double") / greatest(length(col(textCol)), lit(1))
      )
    withM
      .where(
        col("__rep._1").between(t.minTokens, t.maxTokens) &&
          col("__rep._2") <= t.maxDupTokenFrac &&
          col("__rep._3") <= t.maxTopBigramFrac &&
          col("alpha_ratio") >= t.minAlphaRatio
      )
      .select(
        df.columns.map(col) ++ Seq(
          col("__rep._1").as("n_tokens"),
          col("__rep._2").as("dup_token_frac"),
          col("__rep._3").as("top_bigram_frac"),
          col("alpha_ratio")
        ): _*
      )
  }

  /** Token-window chunking: split each document into chunks of
    * `chunkTokens` whitespace tokens advancing by `chunkTokens −
    * overlapTokens` — the standard windowing step before tokenization in
    * an LLM training pipeline (long documents become training-length
    * pieces; the overlap preserves cross-boundary context). Output is one
    * row per chunk: (doc_id, chunk_idx, chunk_text, n_tokens), chunk text
    * whitespace-normalized (tokens re-joined with single spaces). Empty
    * documents produce no chunks; the final chunk may be shorter.
    *
    * Scan-local (UDF kernel + posexplode) — no shuffle at any corpus
    * size; chunk counts are ⌈tokens / stride⌉ so output size is linear in
    * input tokens.
    */
  def chunkByTokens(
      df: DataFrame,
      textCol: String,
      idCol: String,
      chunkTokens: Int = 512,
      overlapTokens: Int = 64
  ): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0, "need chunkTokens > overlapTokens >= 0")
    val stride = chunkTokens - overlapTokens
    val u = udf { (t: String) =>
      val toks = if (t == null) Array.empty[String] else t.split("\\s+").filter(_.nonEmpty)
      val n    = toks.length
      if (n == 0) Array.empty[String]
      else Array.tabulate((n + stride - 1) / stride) { k =>
        toks.slice(k * stride, math.min(k * stride + chunkTokens, n)).mkString(" ")
      }
    }
    df.select(col(idCol).as("doc_id"), posexplode(u(col(textCol))).as(Seq("chunk_idx", "chunk_text")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        tokenCount(col("chunk_text")).as("n_tokens")
      )
  }

  /** One-row corpus statistics: document/token/char totals, exact distinct
    * vocabulary size, mean tokens per document — the "how big is this
    * corpus really" numbers every training run starts from. One scan for
    * the totals plus one explode + distinct-count for the vocabulary
    * (swap in approx_count_distinct past ~10^9 tokens, like
    * [[Profiler.DistinctMode]]).
    */
  def corpusStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val basic = df.agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks)).cast("long").as("total_tokens"),
      sum(length(col(textCol))).cast("long").as("total_chars")
    )
    val vocab = df.select(explode(toks).as("tok")).agg(countDistinct("tok").as("distinct_tokens"))
    basic
      .crossJoin(vocab)
      .withColumn("avg_doc_tokens", round(col("total_tokens").cast("double") / col("n_docs"), 4))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the cheap exact-dedup / near-copy grouping key.
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** PII-scrub patterns — frozen (the DuckDB oracle embeds the same
    * strings); deliberately restricted to syntax with identical semantics
    * in Java regex and RE2 (no lookaround, no backrefs).
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\(\\d{3}\\) \\d{3}-\\d{4}|\\d{3}-\\d{3}-\\d{4}"

  /** Replace email addresses and phone numbers in free text with typed
    * placeholders — the scrubbing pass a training corpus gets before the
    * per-FIELD anonymizers ([[graft.functions.Anonymizer]]) handle
    * structured columns. Pure codegen regexp_replace: scan-local, no
    * shuffle.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")), lit(PhonePattern), lit("<PHONE>"))

  /** URL pattern — frozen, Java-regex/RE2-identical (no lookaround). */
  val UrlPattern: String = "https?://[A-Za-z0-9./_~:%#?&=+-]+"

  /** All URLs in the text, in order (web-corpus link extraction). */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** The host part of a URL ('' when the input isn't URL-shaped). */
  def urlHost(url: Column): Column =
    regexp_extract(url, "https?://([^/]+)", 1)

  /** Term-distribution drift between two corpus snapshots — the
    * monitoring op a recurring ingestion pipeline runs to catch a source
    * going bad (spam influx, scraper breakage, language shift) before it
    * trains into a model. Per term of the UNION vocabulary, add-one
    * smoothed unigram probabilities under each snapshot
    * (`p = (c + 1) / (N + V)`) and the pointwise KL contributions in both
    * directions (`p_a·ln(p_a/p_b)` and the mirror). Summing either column
    * gives that direction's KL divergence; the per-term rows ARE the
    * diagnosis (which terms drifted). One aggregation per side on the
    * term key + a full-outer join — the TF-IDF scale shape.
    */
  def termDrift(dfA: DataFrame, dfB: DataFrame, textCol: String): DataFrame =
    termDriftFromCounts(
      termCounts(dfA, textCol).withColumnRenamed("c", "c_a"),
      termCounts(dfB, textCol).withColumnRenamed("c", "c_b"))

  /** One snapshot's term histogram (`term`, `c`) — [[termDrift]]'s
    * per-side aggregation, exposed so a streaming monitor can maintain
    * the current side incrementally.
    */
  def termCounts(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(tokens(col(textCol))).as("term"))
    .groupBy("term").agg(count(lit(1)).as("c"))

  /** [[termDrift]]'s join + KL stage over pre-computed per-side term
    * histograms (`term`, `c_a`) / (`term`, `c_b`) — split out so the
    * streamed drift monitor (frozen reference counts, Complete-mode
    * running current counts) shares the exact smoothing and KL math.
    */
  def termDriftFromCounts(a: DataFrame, b: DataFrame): DataFrame = {
    // Materialized once: the totals action and the returned projection
    // would otherwise each recompute both count sides and the join.
    val joined = graft.plans.Lineage.truncate(
      a.join(b, Seq("term"), "full_outer")
        .select(col("term"), coalesce(col("c_a"), lit(0L)).as("c_a"), coalesce(col("c_b"), lit(0L)).as("c_b")))
    // coalesce: on a token-less pair of snapshots sum() is null (and the
    // projection below evaluates over zero rows, so the /0 never runs).
    val totals = joined
      .agg(coalesce(sum("c_a"), lit(0L)), coalesce(sum("c_b"), lit(0L)), count(lit(1))).head
    val (na, nb, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val pA = (col("c_a") + 1).cast("double") / (na + v)
    val pB = (col("c_b") + 1).cast("double") / (nb + v)
    joined.select(
      col("term"), col("c_a"), col("c_b"),
      (pA * log(pA / pB)).as("kl_ab"),
      (pB * log(pB / pA)).as("kl_ba")
    )
  }

  /** [[termDriftFromCounts]] per GROUP — the windowed monitor's
    * contribution stage: `counts` carries (`keys...`, `term`, `c_a`,
    * `c_b`) and each group gets its own smoothing totals AND its own
    * vocabulary size `v` (the union vocab of that group's rows), so every
    * group's rows equal what [[termDriftFromCounts]] would produce on the
    * group alone. Totals are one row per group — broadcast; the counts
    * side never reshuffles.
    */
  def termDriftFromCountsKeyed(counts: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "use termDriftFromCounts for the unkeyed form")
    val totals = counts.groupBy(keys.map(col): _*)
      .agg(sum("c_a").as("_na"), sum("c_b").as("_nb"), count(lit(1)).as("_v"))
    val pA = (col("c_a") + 1).cast("double") / (col("_na") + col("_v"))
    val pB = (col("c_b") + 1).cast("double") / (col("_nb") + col("_v"))
    counts.join(broadcast(totals), keys)
      .select(keys.map(col) ++ Seq(
        col("term"), col("c_a"), col("c_b"),
        (pA * log(pA / pB)).as("kl_ab"),
        (pB * log(pB / pA)).as("kl_ba")): _*)
  }

  /** Tokenizer-prep vocabulary builder: the smallest count-ranked
    * vocabulary whose cumulative token mass reaches `coverage` (plus
    * everything tied with the last admitted count — a deterministic,
    * order-free cutoff). Output: (token, token_count, rank,
    * cum_fraction), rank 1 = most frequent, ties broken
    * lexicographically. The classic pre-BPE/pre-wordpiece corpus step:
    * pick the base vocabulary that covers 99.x% of tokens and map the
    * tail to <unk>.
    *
    * Scale shape: one count aggregation (map-side combined) + a window
    * over the SINGLE ordered frame of DISTINCT tokens — vocabulary-sized
    * (Heaps' law: millions of rows at 100 TB, not billions), so the
    * unpartitioned cumulative window is a deliberate, bounded exception
    * to the no-global-window rule; the corpus itself is touched once.
    */
  def vocabulary(df: DataFrame, textCol: String, coverage: Double): DataFrame = {
    require(coverage > 0 && coverage <= 1, "coverage must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("token_count"))
    val w      = Window.orderBy(col("token_count").desc, col("token"))
    val total  = Window.partitionBy()
    // Materialized once: the cutoff probe and the returned filter would
    // otherwise each run the count + single-partition-window plan.
    val ranked = graft.plans.Lineage.truncate(counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum("token_count").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_fraction", col("cum").cast("double") / sum("token_count").over(total)))
    // The cutoff is the COUNT at the first rank reaching coverage; every
    // token with that count or more is admitted (ranks above the coverage
    // rank all have ≥ that count under the desc order, and ties below it
    // come in with it — a count either is or isn't in the vocabulary).
    // A token-less corpus has no rank reaching coverage → empty vocabulary
    // (same schema), not a crash.
    val cutCount = ranked.where(col("cum_fraction") >= coverage)
      .orderBy("rank").select("token_count").limit(1).collect().headOption.map(_.getLong(0))
    ranked
      .where(cutCount.map(c => col("token_count") >= c).getOrElse(lit(false)))
      .select("token", "token_count", "rank", "cum_fraction")
  }

  /** Query parameters that identify a CLICK, not a RESOURCE — dropped by
    * [[canonicalizeUrl]] (frozen list; the standard tracking families).
    * Deliberately NOT included: `ref`, which major sites use as a
    * resource-identifying parameter (e.g. a branch selector) — dropping it
    * would merge genuinely different pages.
    */
  val TrackingParams: Set[String] = Set("fbclid", "gclid", "msclkid", "igshid")

  /** Canonical form of a URL — the key for URL-level deduplication, the
    * first dedup pass a web-scrape pipeline runs (two crawls of the same
    * page differ in tracking params, fragment, case, default port — not in
    * content worth keeping twice):
    *
    *  - scheme and authority lowercased; default port stripped
    *    (`:80` for http, `:443` for https);
    *  - fragment dropped (client-side only);
    *  - trailing path slash collapsed (`/a/` → `/a`; root `/` kept);
    *  - tracking query params dropped (`utm_*` + [[TrackingParams]]),
    *    survivors SORTED (param order is transport noise), empty query
    *    dropped entirely.
    *
    * Everything else (path case, param values, userinfo) is preserved —
    * canonicalization must never merge two genuinely different resources.
    * Non-URL-shaped / null input passes through unchanged (the lens
    * error-tolerance philosophy). Scan-local kernel, no shuffle; the
    * decomposition is one anchored regex so the DuckDB oracle replays it
    * exactly.
    */
  def canonicalizeUrl(url: Column): Column = {
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$".r
    val u = udf { (in: String) =>
      in match {
        case null => null
        case re(scheme0, auth0, path0, query0, _) =>
          val scheme = scheme0.toLowerCase
          // Case-fold only the host[:port] — userinfo before '@' is
          // case-sensitive (RFC 3986) and must survive untouched.
          val atIdx = auth0.lastIndexOf('@')
          val (userinfo, hostPort0) =
            if (atIdx >= 0) (auth0.substring(0, atIdx + 1), auth0.substring(atIdx + 1))
            else ("", auth0)
          val hostPort1 = hostPort0.toLowerCase
          val hostPort =
            if (scheme == "http" && hostPort1.endsWith(":80")) hostPort1.dropRight(3)
            else if (scheme == "https" && hostPort1.endsWith(":443")) hostPort1.dropRight(4)
            else hostPort1
          val auth = userinfo + hostPort
          val path = if (path0.length > 1 && path0.endsWith("/")) path0.dropRight(1) else path0
          val query = Option(query0).map(_.drop(1)).filter(_.nonEmpty).map { qs =>
            val keep = qs.split("&").filter { kv =>
              val key = kv.takeWhile(_ != '=').toLowerCase
              kv.nonEmpty && !key.startsWith("utm_") && !TrackingParams.contains(key)
            }.sorted
            if (keep.isEmpty) "" else "?" + keep.mkString("&")
          }.getOrElse("")
          scheme + "://" + auth + path + query
        case other => other
      }
    }
    u(url)
  }

  /** URL-level dedup: one representative (min id) + multiplicity per
    * canonical URL — [[graft.operators.Dedup.exactDuplicates]] keyed on
    * [[canonicalizeUrl]] instead of content. One hash shuffle on the
    * canonical string; at 100 TB the key is a ~100-byte URL, already
    * shuffle-friendly.
    */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.groupBy(canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Top-k salient terms per document: term frequency within the document,
    * tie-broken toward rarer terms (lower corpus document frequency), then
    * lexicographically — the TF-IDF ranking with an integer-exact order
    * (no float log in the ORDER BY, so the result is reproducible
    * bit-for-bit on any engine).
    *
    * Scale shape: one explode + two hash aggregations + a shuffle join on
    * the term key + a per-document window. The per-document window
    * partitions by doc_id — no global sort.
    */
  def topTermsPerDoc(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    // Materialized once: both the doc-frequency aggregation and the join's
    // left side read it — otherwise the explode+agg runs twice.
    val tf  = graft.plans.Lineage.truncate(toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w    = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("doc_freq").asc, col("term").asc)
    tf.join(dfq, "term")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "term", "tf", "doc_freq", "rnk")
  }

  /** BM25 top-k retrieval: score every document containing a query term
    * with Okapi BM25 (the Lucene idf variant, always positive:
    * ln(1 + (N − df + ½)/(df + ½))) and keep each query's k best.
    * Query-term multiplicity is ignored (array_distinct on the query
    * tokens — the common search-engine convention for short queries).
    *
    * Scale shape: the corpus pays ONE (doc, term) aggregation plus the
    * term doc-frequency and doc-length rollups it implies; scoring then
    * touches only the POSTINGS OF QUERY TERMS (the tiny query-term frame
    * broadcasts into the tf table — cost ∝ Σ_t df_t, never corpus ×
    * queries), one partial-aggregated sum per (query, doc), and a
    * per-query top-k window. No cartesian anywhere.
    *
    * Numeric contract: each term's contribution is floored to NANO units
    * (BIGINT) BEFORE the per-(query, doc) sum, so the total is an
    * order-free integer sum and the (score_nano desc, doc_id) rank is
    * deterministic on any engine — the [[lmQualityScore]] fixed-point
    * recipe. The double chain inside a contribution is written in one
    * fixed parenthesization, mirrored verbatim by the oracle.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame,
      textCol: String,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame =
    bm25TopKFromIndex(buildBm25Index(docs, textCol, idCol), queries, queryIdCol, queryTextCol, k, k1, b)

  /** Persisted inverted index for BM25 serving — three plain frames a
    * caller writes/reads as parquet: `postings(term, doc_id, tf)`,
    * `terms(term, doc_freq)`, `docs(doc_id, dl)`. The train-once /
    * serve-forever split ([[graft.operators.Similarity]] IVF,
    * [[graft.operators.Bpe]] merges): a 100-TB corpus pays the (doc, term)
    * aggregation ONCE; every query batch afterwards touches only its
    * terms' postings. Corpus-level scalars (N, avgdl) are re-derived from
    * `docs` with one tiny aggregate at serve time, so the artifact stays
    * three self-describing tables.
    */
  final case class Bm25Index(postings: DataFrame, terms: DataFrame, docs: DataFrame)

  /** Build the [[Bm25Index]]: one explode + one (doc, term) aggregation +
    * the doc-frequency and doc-length rollups it implies.
    */
  def buildBm25Index(docs: DataFrame, textCol: String, idCol: String): Bm25Index = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"), explode(tokens(col(textCol))).as("term"))
    // Materialized once: doc-frequency and doc-length both read the
    // (doc, term) counts.
    val tf = graft.plans.Lineage.truncate(toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    Bm25Index(
      tf,
      tf.groupBy("term").agg(count(lit(1)).as("doc_freq")),
      tf.groupBy("doc_id").agg(sum("tf").as("dl")))
  }

  /** Serve BM25 top-k from a prebuilt (possibly parquet-loaded)
    * [[Bm25Index]] — the corpus text is never touched. Identical math and
    * fixed-point contract as [[bm25TopK]] (which routes through here), so
    * built-now and loaded-from-disk indexes score bit-identically.
    */
  def bm25TopKFromIndex(
      index: Bm25Index,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = index.docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val qt = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("doc_freq") + lit(0.5)) / (col("doc_freq").cast("double") + lit(0.5)))
    val tfPart = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    val contrib = index.postings
      .join(broadcast(qt), "term")
      .join(broadcast(index.terms.join(broadcast(qt.select("term").distinct()), "term")), "term")
      .join(index.docs, "doc_id")
      .crossJoin(broadcast(stats.withColumn("avgdl", col("total_len").cast("double") / col("n_docs"))))
      .withColumn("c_nano", floor((idf * tfPart) * lit(1e9)).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("score_nano").desc, col("doc_id"))
    contrib
      .groupBy("query_id", "doc_id")
      .agg(sum("c_nano").as("score_nano"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "doc_id", "rnk", "score_nano")
  }

  /** Persist a [[Bm25Index]] with TERM-BUCKETED postings: `postings` and
    * `terms` parquet-PARTITIONED BY `bucket = xxhash64(term) % termBuckets`
    * (`docs` stays flat — corpus stats and the dl join need all of it,
    * and it is the smallest of the three). A query batch's terms hash to
    * ≤ |query terms| buckets, so [[bm25TopKFromPersisted]] reads only
    * those partition directories — at a 10⁹-doc index a 5-term query
    * scans a few buckets of postings instead of the whole relation. Same
    * pattern as the signature ([[graft.operators.Dedup.persistSignatureIndex]])
    * and IVF ([[graft.operators.Similarity.persistIvfIndex]]) indexes.
    */
  def persistBm25Index(index: Bm25Index, path: String, termBuckets: Int = 64): Unit = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    graft.operators.IndexStore.build(spark, path, bm25Relations(index, termBuckets) :+
      graft.operators.IndexStore.Relation.flat("_graft_meta", Seq(termBuckets).toDF("termBuckets").coalesce(1)))
  }

  /** The three relations of a BM25 build or append batch: `postings` and
    * `terms` partitioned by their term's bucket, `docs` flat. `docs` lands
    * with its natural write parallelism — a billion-row batch must not
    * serialize through one task; segment arithmetic stays exact because
    * the sweep counts distinct WRITE GROUPS, not files ([[bm25DocsSegments]]).
    */
  private def bm25Relations(index: Bm25Index, termBuckets: Int): Seq[graft.operators.IndexStore.Relation] = {
    val bucket = pmod(xxhash64(col("term")), lit(termBuckets.toLong)).cast("int").as("bucket")
    Seq(
      graft.operators.IndexStore.Relation("postings", "bucket", index.postings.withColumn("bucket", bucket)),
      graft.operators.IndexStore.Relation("terms", "bucket", index.terms.withColumn("bucket", bucket)),
      graft.operators.IndexStore.Relation.flat("docs", index.docs))
  }

  /** The WRITE-GROUP identity of a `docs/` data file — what one append
    * batch stamps on every file it lands, however many files that is:
    * exactly-once stream installs carry (streamId, batchId) in their
    * names (`sb-<stream>-<batch>-<k>.parquet`); committer files carry
    * their write JOB's UUID (`part-NNNNN-<uuid>[-cNNN]…` — one UUID per
    * `df.write`, shared by every task of that write). Unrecognized names
    * fall back to one group per file — the conservative direction (reads
    * as MORE segments → compacts sooner, never later).
    */
  private val PartFileJobId = """^part-\d+-([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})""".r
  private def docsWriteGroupOf(name: String): String =
    graft.operators.IndexStore.streamBatchIdOf(name) match {
      case Some((sid, bid)) => s"sb:$sid:$bid"
      case None =>
        PartFileJobId.findFirstMatchIn(name) match {
          case Some(m) => "job:" + m.group(1)
          case None    => "file:" + name
        }
    }

  /** `docs/`' append-segment count = DISTINCT WRITE GROUPS among its data
    * files (names resolved through the generation manifest): the base
    * build is one group however parallel it wrote, and each append batch
    * is one more group however many SHARDS it landed — so appends no
    * longer need `coalesce(1)` to keep this arithmetic exact, and a
    * billion-row daily batch writes with its natural parallelism instead
    * of through one serial task. Name-derived, so exact under
    * copy/restore (where mtime heuristics drift) and independent of the
    * retired `_graft_docs_base` file-count baseline (older indexes still
    * carrying that artifact read exactly under group counting too).
    */
  private[graft] def bm25DocsSegments(spark: org.apache.spark.sql.SparkSession, dataDir: String): Int =
    graft.operators.IndexStore.relFileNamesFlat(spark, dataDir, "docs")
      .map(docsWriteGroupOf).distinct.size

  /** Incremental ingest into a [[persistBm25Index]] directory — the
    * lifecycle twin of [[graft.operators.Dedup.persistSignatureIndex]]'s
    * append and [[graft.operators.Similarity.appendToIvfIndex]]: the new
    * batch's postings/partial-term-stats/doc-lengths APPEND into their
    * term buckets (no file rewritten, no existing posting touched).
    * Works because the index stores RAW additive statistics — tf rows,
    * per-batch doc_freq partials (merged on read by
    * [[bm25TopKFromPersisted]]), per-doc lengths — and idf/avgdl are
    * derived at serve time, so append-then-serve ranks EXACTLY like
    * rebuild-then-serve. Contract: batches carry NEW doc ids (a re-sent
    * id would double its postings, like the signature-index append).
    */
  def appendToBm25Index(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      path: String
  ): Unit =
    graft.operators.IndexStore.append(newDocs.sparkSession, path)(dd =>
      bm25Relations(buildBm25Index(newDocs, textCol, idCol), bm25TermBuckets(newDocs.sparkSession, dd)))

  /** [[appendToBm25Index]] for STREAMING bodies: all three relations'
    * batch files land under deterministic (streamId, batchId)-derived
    * names, bracketed by ONE pending marker
    * ([[graft.operators.IndexStore.appendExactlyOnce]]), so a foreachBatch
    * retry converges to exactly one copy of the batch's postings, partial
    * term stats, and doc lengths at ANY crash point — including between
    * the last relation's commit and the batch-token create, and
    * including a crash BETWEEN relations (a later compaction discards
    * the part-landed batch, and the retry re-lands it whole). A batch the
    * index's ledger already records is skipped, so a replay after a
    * compaction folded it does not land twice.
    */
  def appendToBm25IndexExactlyOnce(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      streamId: String,
      batchId: Long
  ): Unit =
    graft.operators.IndexStore.appendExactlyOnce(newDocs.sparkSession, path, streamId, batchId)(dd =>
      bm25Relations(buildBm25Index(newDocs, textCol, idCol), bm25TermBuckets(newDocs.sparkSession, dd)))

  /** The index's term-bucket count — a one-row meta relation, read
    * driver-side ([[graft.operators.IndexStore.readTinyMetaRows]]: no
    * schema-inference or head job; this runs per append batch and per
    * probe, where two scheduler round-trips per call dominate the one
    * int actually read).
    */
  private def bm25TermBuckets(spark: org.apache.spark.sql.SparkSession, dd: String): Int =
    graft.operators.IndexStore.readTinyMetaRow(spark, s"$dd/_graft_meta")("termBuckets")
      .asInstanceOf[Int]

  /** Compact a persisted BM25 index — the third of the
    * build → append/delete → compact lifecycle. All three relations are
    * rewritten into ONE new generation behind ONE atomic pointer flip
    * ([[graft.operators.IndexStore.compact]] — no absence window,
    * no compacted-postings-over-stale-terms state observable, crash-safe
    * at every point, writers serialized on the index lease), with the
    * selective dirty-bucket-only cost model of
    * [[graft.operators.Dedup.compactSignatureIndex]]:
    *
    *  1. `postings/`: live rows only (tombstone anti-join), append
    *     segments folded to one file per term bucket;
    *  2. `terms/`: doc-frequencies RECOUNTED from the compacted postings —
    *     one aggregation folds the per-batch additive partials AND
    *     subtracts the deleted docs exactly (a term's postings name all
    *     its live docs), so merge-on-read becomes identity again;
    *  3. `docs/`: live rows only (corpus stats re-derive from this
    *     relation at serve time);
    *  4. the tombstone set dies with the old generation.
    *
    * Ranking afterwards is EXACTLY a fresh [[persistBm25Index]] of
    * [[buildBm25Index]] on the surviving docs — idf/avgdl/N derive from
    * the stored additive stats at serve time, and those now equal the
    * fresh build's.
    */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L
  ): Unit = {
    import graft.operators.IndexStore
    IndexStore.compact(spark, path, keepGens, minRetentionMs) { c =>
      val live = c.live
      // ONE dirty set governs postings AND terms: both are partitioned by
      // the same term-bucket formula, an append touches the same buckets
      // in both, and a tombstoned doc changes doc_freq exactly in the
      // buckets its postings live in — so the postings rewrite decides
      // over its own dirty buckets plus the terms-dirty ones, and every
      // recount below can read the freshly-rewritten staged postings of
      // the same buckets.
      val tStats = IndexStore.relStats(spark, live, "terms", "bucket", c.manifest)
      // The postings→terms chain (terms recounts from the STAGED postings,
      // so it must follow them) and the independent docs rewrite run
      // CONCURRENTLY ([[IndexStore.inParallel]] — the lease is held by the
      // enclosing compaction and shared with the worker threads): compact
      // wall becomes max(chain, docs), not their sum. All three relations
      // land in ONE manifest: rewritten buckets with fresh recorded bases,
      // clean buckets as references.
      IndexStore.inParallel(
        () => {
          // 1. postings: live rows only, dirty buckets rewritten, clean carried.
          val d = c.rewrite("postings", "bucket", selective,
            idCol = Some("doc_id"), alsoDirty = tStats.filter(_._2.dirty).keySet)
          // Schema of the just-written staged postings (data columns + the
          // directory-encoded bucket) — passing it to the recount re-reads
          // below skips their schema-inference jobs.
          lazy val stagedPostingsSchema = org.apache.spark.sql.types.StructType(
            IndexStore.readRel(spark, live, "postings", "bucket", c.manifest).schema
              .filter(_.name != "bucket") :+
              org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType))
          // 2. terms: doc-frequencies RECOUNTED from the compacted postings of
          //    the same buckets (a term's postings name all its live docs), so
          //    merge-on-read becomes identity again; clean buckets carried.
          //    The recount reads the PHYSICAL staged postings — exactly the
          //    rewritten buckets, no manifest resolution needed or wanted.
          if (d.full || d.dirty.nonEmpty)
            c.write(IndexStore.Relation("terms", "bucket",
              spark.read.schema(stagedPostingsSchema).parquet(s"${c.staged}/postings")
                .groupBy("bucket", "term").agg(count(lit(1)).as("doc_freq"))))
          c.carry("terms", "bucket", if (d.full) Nil else tStats.keySet -- d.dirty)
        },
        () => {
          // 3. docs: unpartitioned thin relation (doc_id, len) — rewritten
          //    whole when it holds tombstoned rows or append segments (no
          //    partition key to prune by; the rewrite is one column-pruned
          //    scan of the thinnest relation), manifest-carried otherwise.
          //    No explicit repartition: the parquet read packs small appended
          //    segments into maxPartitionBytes-sized splits, so the rewrite
          //    folds file count to ~bytes/128MB without paying a shuffle.
          //    No baseline artifact to refresh: docs' segment arithmetic
          //    counts distinct WRITE GROUPS from file names
          //    ([[bm25DocsSegments]]), and a rewrite's files all share one
          //    job UUID — the next sweep reads 1.
          val docsDirty = IndexStore.tombstones(spark, live).isDefined || bm25DocsSegments(spark, live) > 1
          if (!selective || docsDirty)
            c.write(IndexStore.Relation.flat("docs",
              IndexStore.minusTombstoned(IndexStore.readRelFlat(spark, live, "docs", c.manifest), "doc_id", live)))
          else c.carryFlat("docs")
        })
    }
  }

  /** Serve BM25 from a [[persistBm25Index]] directory with PARTITION-PRUNED
    * postings/terms reads: the query batch's term buckets (distinct,
    * ≤ |query terms| small ints, collected driver-side) push down as a
    * partition-column `isin` filter; the pruned frames are a superset of
    * the query's terms, so delegating to [[bm25TopKFromIndex]] returns the
    * identical ranking (gate shares the retrieval oracle verbatim).
    */
  def bm25TopKFromPersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    import spark.implicits._
    val dd = graft.operators.IndexStore.dataDir(spark, path) // resolve once per probe
    val termBuckets = bm25TermBuckets(spark, dd)
    val touched = queries
      .select(explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(termBuckets.toLong)).cast("int").as("bucket"))
      .distinct().as[Int].collect().sorted
    val prune = (df: DataFrame) =>
      if (touched.isEmpty) df.where(lit(false)) else df.where(col("bucket").isin(touched.map(x => x: Any): _*))
    // Manifest parsed ONCE for all three relation reads — probes run per
    // micro-batch, and each convenience-form readRel re-opened and
    // re-parsed the generation manifest (three driver round-trips per
    // probe on an object store).
    val man = graft.operators.IndexStore.readManifest(spark, dd)
    val postings = prune(graft.operators.IndexStore.readRel(spark, dd, "postings", "bucket", man)).drop("bucket")
    // Term stats are stored ADDITIVELY (an append writes partial doc_freq
    // rows for its batch); merge-on-read re-aggregates the PRUNED slice —
    // identity for a never-appended index, a few rows per query term
    // otherwise. The log-structured-merge shape.
    val terms = prune(graft.operators.IndexStore.readRel(spark, dd, "terms", "bucket", man)).drop("bucket")
      .groupBy("term").agg(sum("doc_freq").as("doc_freq"))
    val docs = graft.operators.IndexStore.readRelFlat(spark, dd, "docs", man)
    val index =
      if (graft.operators.IndexStore.tombstones(spark, dd).isEmpty) Bm25Index(postings, terms, docs)
      else {
        // Deletes invalidate the stored per-term doc counts; recount from
        // the filtered postings (exact — a term's postings name all its
        // docs), and drop deleted docs from the corpus-stats relation.
        val livePostings = graft.operators.IndexStore.minusTombstoned(postings, "doc_id", dd)
        Bm25Index(
          livePostings,
          livePostings.groupBy("term").agg(count(lit(1)).as("doc_freq")),
          graft.operators.IndexStore.minusTombstoned(docs, "doc_id", dd))
      }
    bm25TopKFromIndex(index, queries, queryIdCol, queryTextCol, k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009): fuse N
    * rankings of the same query set by
    * `score(q, d) = Σ_sys 1/(kRrf + rank_sys(q, d))`, summing over the
    * systems that retrieved `d` for `q` — the standard way to combine a
    * lexical ([[bm25TopK]]) and a dense ([[graft.operators.Similarity]])
    * retriever without score calibration, since only RANKS enter the
    * formula. Each input frame must carry `(query_id, doc_id, rnk)` with
    * `rnk` 1-based (exactly what the retrievers here emit); ids are
    * cast to long, so a dense retriever's `neighbor_id` just needs an
    * alias.
    *
    * Numeric contract: each contribution is the EXACT integer
    * `1e9 div (kRrf + rnk)`, so the fused score is an order-free BIGINT
    * sum (the [[bm25TopK]] fixed-point recipe, but with no float anywhere)
    * and `(rrf_nano desc, doc_id)` totally orders candidates identically
    * on any engine. `n_systems` reports how many rankings contributed.
    *
    * Scale shape: the expensive work is the upstream retrievers; fusion
    * touches only their already-top-k outputs — a union of
    * O(queries × k × systems) rows, one (query, doc) hash aggregation,
    * and a per-query top-k window. No join back to the corpus.
    */
  def reciprocalRankFusion(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "reciprocalRankFusion needs at least one ranking")
    require(kRrf >= 1, "kRrf must be positive")
    import org.apache.spark.sql.expressions.Window
    val norm = rankings.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      expr(s"CAST(1000000000 DIV ($kRrf + rnk) AS BIGINT)").as("contrib")))
    val w = Window.partitionBy("query_id").orderBy(col("rrf_nano").desc, col("doc_id").asc)
    norm.reduce(_.unionAll(_))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_nano"), count(lit(1)).as("n_systems"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("query_id", "doc_id", "rnk", "rrf_nano", "n_systems")
  }

  /** Rolling polynomial hashes over character k-grams (base 257,
    * mod 1e9+7): entry `i` hashes chars `[i, i+k)`. Empty array when the
    * text is shorter than `k`. Shared kernel of [[winnowingFingerprints]]
    * and [[cdcChunks]] — and mirrored by both of their hand-built DuckDB
    * `hexpr` oracles, so a change here must land in those too.
    */
  private def rollingHashes(text: String, k: Int): Array[Long] = {
    if (text.length < k) return Array.emptyLongArray
    val base = 257L
    val mod  = 1000000007L
    var pow  = 1L // base^(k-1) mod m
    (1 until k).foreach(_ => pow = pow * base % mod)
    val m      = text.length - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    (0 until k).foreach(j => h = (h * base + text.charAt(j)) % mod)
    hashes(0) = h
    var i = 1
    while (i < m) {
      // Evict the leading char (coefficient base^(k-1)), shift, append.
      h = ((h - text.charAt(i - 1) * pow % mod + mod) % mod * base + text.charAt(i + k - 1)) % mod
      hashes(i) = h
      i += 1
    }
    hashes
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): rolling
    * polynomial hash over character k-grams, minimum per sliding window,
    * deduplicated. Sequential by nature → a deterministic Scala UDF
    * returning the selected fingerprint set.
    */
  def winnowingFingerprints(k: Int = 5, window: Int = 4): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null || text.length < k) Seq.empty[Long]
      else {
        val hashes = rollingHashes(text, k)
        val m      = hashes.length
        if (m < window) Seq(hashes.min)
        else {
          val selected = scala.collection.mutable.LinkedHashSet.empty[Long]
          var w = 0
          while (w + window <= m) {
            var mn = hashes(w)
            var j  = 1
            while (j < window) { if (hashes(w + j) < mn) mn = hashes(w + j); j += 1 }
            selected += mn
            w += 1
          }
          selected.toSeq
        }
      }
    }

  /** Content-defined chunking (the rsync/LBFS/FastCDC idea, applied to
    * text): chunk boundaries fall where a rolling hash of the last `k`
    * characters hits a divisor condition, so an insertion early in a
    * document shifts ONE chunk instead of re-aligning every fixed-width
    * window — which makes chunk fingerprints the right unit for
    * SUB-document dedup (boilerplate headers, syndicated paragraphs,
    * quoted replies) where whole-doc near-dup scoring dilutes away.
    * Expected chunk length ≈ `divisor` characters.
    *
    * Output: one row per chunk — (doc_id, chunk_idx, start_pos 1-based,
    * chunk_len, chunk_md5). Group by chunk_md5 across the corpus for
    * shared-chunk detection; join back on (doc_id, start_pos) to excise.
    *
    * `minSize`/`maxSize` bound chunk lengths (production CDC always does:
    * divisor conditions can fire adjacently or never) — `maxSize` also
    * splits documents shorter than `k`, where no content boundary can
    * fire. The UNBOUNDED form (defaults) is stateless per position and
    * replayed exactly by the DuckDB oracle; the bounds are sequential
    * state and spec-checked. Rolling hash = winnowing's polynomial
    * (base 257, mod 1e9+7), shared via [[rollingHashes]]. "Character"
    * means UTF-16 code unit (same convention as winnowing and its
    * oracle's `ord`) — supplementary-plane text would diverge from the
    * codepoint-based SQL replay; the gate corpora are BMP/ASCII. Pure
    * scan-local kernel — no shuffle; chunk md5/length are computed inside
    * the kernel so chunk text never leaves it.
    */
  def cdcChunks(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      divisor: Long = 64,
      minSize: Int = 1,
      maxSize: Int = Int.MaxValue
  ): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(divisor >= 2, "divisor must be >= 2")
    require(minSize >= 1 && maxSize >= minSize, "need 1 <= minSize <= maxSize")
    val spark = df.sparkSession
    import spark.implicits._
    val chunker = udf { (text: String) =>
      if (text == null) Array.empty[(Long, Int, Int, String)]
      else {
        def md5Hex(s: String): String = {
          val d  = java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new StringBuilder(32)
          d.foreach(b => sb.append(f"${b & 0xff}%02x"))
          sb.result()
        }
        val len    = text.length
        val hashes = rollingHashes(text, k) // empty when len < k → maxSize cuts only
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, String)]
        var lastCut = 0 // chars emitted so far
        var idx     = 0L
        def emit(upto: Int): Unit = {
          out += ((idx, lastCut + 1, upto - lastCut, md5Hex(text.substring(lastCut, upto))))
          idx += 1
          lastCut = upto
        }
        var pos = 1
        while (pos < len) {
          val soFar   = pos - lastCut
          val content = pos >= k && hashes.nonEmpty && hashes(pos - k) % divisor == divisor - 1
          if ((content && soFar >= minSize) || soFar >= maxSize) emit(pos)
          pos += 1
        }
        emit(len)
        out.toArray
      }
    }
    df.select(col(idCol).cast("long").as("doc_id"), explode(chunker(col(textCol))).as("c"))
      .select(
        col("doc_id"),
        col("c._1").as("chunk_idx"),
        col("c._2").cast("long").as("start_pos"),
        col("c._3").cast("long").as("chunk_len"),
        col("c._4").as("chunk_md5")
      )
  }

  /** C4-style corpus-level LINE deduplication: remove every line whose
    * occurrence count ACROSS THE CORPUS reaches `minRepeats` (the C4
    * recipe — a line repeated verbatim on three or more pages is
    * boilerplate: navigation, cookie banners, share buttons, copyright
    * footers), then reassemble each document from its surviving lines in
    * order. Documents whose every line was boilerplate come back with
    * empty text (and `n_lines_kept` = 0), not dropped — the caller
    * decides whether to filter them.
    *
    * Lines are matched after `trim` (leading/trailing spaces don't make
    * boilerplate unique); empty/whitespace lines count like any other
    * line, so ≥ `minRepeats` blank lines corpus-wide removes them all.
    *
    * Scale shape: explode to (doc, line_idx, line) rows; the occurrence
    * count is one map-side-combinable aggregation keyed on md5(trimmed
    * line) — fixed-width shuffle keys no matter how long lines get — and
    * the removal is a left-anti join on the same key (co-located with the
    * count's partitioning). Reassembly is one groupBy(doc) with an
    * order-restoring array_sort over (line_idx, line) structs — no
    * window, no driver state. Three shuffles total, all on hash keys.
    */
  def dedupRepeatedLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minRepeats: Int = 3
  ): DataFrame = {
    require(minRepeats >= 2, "minRepeats must be at least 2 — 1 would remove every line")
    val lines = df.select(
      col(idCol).cast("long").as("doc_id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("line_idx", "line"))
    )
    val keyed = lines.withColumn("lkey", md5(trim(col("line"))))
    val hot = keyed.groupBy("lkey").agg(count(lit(1)).as("c"))
      .where(col("c") >= minRepeats)
      .select("lkey")
    val rebuilt = keyed.join(hot, Seq("lkey"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("line_idx"), col("line")))),
            s => s.getField("line")
          ),
          "\n"
        ).as("text")
      )
    df.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text"), lit("")).as("text")
      )
  }

  /** Cap each domain's contribution to the corpus at `maxPerDomain`
    * documents — the C4-style guard against a single boilerplate-heavy
    * host dominating training data. Which documents survive is
    * deterministic: the per-domain keep order is the id-hash (salted
    * "_dq"), so re-runs and retries keep the same rows, and the cut is a
    * fair pseudo-random sample of the domain rather than "whatever sorted
    * first". Rows with a null/empty domain pass through uncapped (no
    * domain signal ≠ over-represented domain).
    *
    * SALTED TWO-PHASE plan (two shuffles, bounded reducers): a single
    * `partitionBy(domain)` window would ship a celebrity domain's ENTIRE
    * row set to one reducer before the rank cutoff — at C4 scale a single
    * host can be percent-level of the corpus, making that reducer the
    * straggler. Instead, phase 1 pre-caps per `(domain, salt)` where
    * `salt = pmod(orderHash, salts)` spreads each domain over `salts`
    * reducers; phase 2 applies the true per-domain cap over the
    * survivors, whose per-domain count is bounded by `salts ·
    * maxPerDomain` regardless of how hot the domain is. The result is
    * IDENTICAL to the single-window form: each row's rank within its salt
    * group is ≤ its rank within the whole domain (the group order is the
    * restriction of the domain order), so the global top-`maxPerDomain`
    * all survive phase 1 — proven by the celebrity-skew spec.
    *
    * ADAPTIVE: the salt phase only earns its extra shuffle when some
    * domain is big enough to straggle a reducer. A cheap count probe
    * (map-side-combinable `groupBy(domain).count` → one tiny max) checks
    * the LARGEST domain's row count first; at or below
    * `maxUnsaltedDomainRows` every domain fits one reducer comfortably
    * and the plain single-window plan runs — same result, one shuffle
    * fewer. The probe executes the upstream lineage once more: callers
    * feeding an expensive derived frame should persist it, or pass
    * `maxUnsaltedDomainRows = 0` to skip the probe and force the salted
    * plan unconditionally.
    */
  def domainQuota(
      df: DataFrame,
      domainCol: String,
      idCol: String,
      maxPerDomain: Int,
      salts: Int = 32,
      maxUnsaltedDomainRows: Long = 1000000L
  ): DataFrame = {
    require(maxPerDomain > 0, "maxPerDomain must be positive")
    require(salts > 0, "salts must be positive")
    import org.apache.spark.sql.expressions.Window
    val orderHash = HashCols.stableHash(concat(col(idCol).cast("string"), lit("_dq")))
    val nullish   = col(domainCol).isNull || col(domainCol) === ""
    val skewed =
      if (maxUnsaltedDomainRows <= 0) true
      else {
        val m = df.where(!nullish).groupBy(col(domainCol)).agg(count(lit(1)).as("c"))
          .agg(max("c")).head.get(0)
        m != null && m.asInstanceOf[Long] > maxUnsaltedDomainRows
      }
    val w2 = Window.partitionBy(col(domainCol)).orderBy(orderHash, col(idCol))
    val preCapped =
      if (!skewed) df
      else {
        val salt = pmod(orderHash, lit(salts.toLong))
        val w1   = Window.partitionBy(col(domainCol), salt).orderBy(orderHash, col(idCol))
        df.withColumn("_dq_rn1", when(nullish, lit(0)).otherwise(row_number().over(w1)))
          .where(col("_dq_rn1") <= maxPerDomain)
          .drop("_dq_rn1")
      }
    preCapped
      .withColumn("_dq_rn", when(nullish, lit(0)).otherwise(row_number().over(w2)))
      .where(col("_dq_rn") <= maxPerDomain)
      .drop("_dq_rn")
  }

  /** Token-budget selection per domain: keep each domain's best rows —
    * `scoreCol` descending (ties → id) when given, deterministic id-hash
    * order otherwise — while the INCLUSIVE running token total stays
    * within `budgetTokens`. Training-data mixtures are specified in
    * TOKENS, not rows; this is [[domainQuota]]'s weighted sibling (a row
    * is kept iff the kept-prefix total including it is ≤ budget — one
    * over-long document cannot smuggle itself in by straddling the line).
    * Null/empty domains pass untouched, same convention as
    * [[domainQuota]]. Token counts are clamped at 0: the salted-bound
    * argument below needs nonnegative weights.
    *
    * Skew shape: the salted two-phase, generalized to weighted sums —
    * with one subtlety rank capping doesn't have. Phase 1 drops a row
    * only when its salt-local EXCLUSIVE prefix (tokens strictly before
    * it, same salt) already exceeds the budget. Inclusive dropping would
    * be wrong: removing a huge early "blocker" row erases its tokens
    * from phase 2's running total and lets later rows squeeze back in.
    * With the exclusive criterion, a dropped row's own salt-predecessors
    * carry > budget tokens, all precede it globally, and all survive
    * phase 1 — so every row at or after the first drop stays over budget
    * in phase 2, and every true keeper (global inclusive ≤ budget ⇒ salt
    * exclusive ≤ budget) survives phase 1: result-identical, with any
    * phase-2 reducer bounded at ~salts · (budget + one row) tokens. The
    * same max-domain-count probe as [[domainQuota]] skips phase 1 when
    * no domain can straggle a reducer.
    */
  def tokenBudgetPerDomain(
      df: DataFrame,
      domainCol: String,
      idCol: String,
      tokenCol: String,
      budgetTokens: Long,
      scoreCol: Option[String] = None,
      salts: Int = 32,
      maxUnsaltedDomainRows: Long = 1000000L
  ): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(salts > 0, "salts must be positive")
    import org.apache.spark.sql.expressions.Window
    val orderHash = HashCols.stableHash(concat(col(idCol).cast("string"), lit("_tb")))
    val nullish   = col(domainCol).isNull || col(domainCol) === ""
    val ordering  = scoreCol match {
      case Some(s) => Seq(col(s).desc, col(idCol).asc)
      case None    => Seq(orderHash.asc, col(idCol).asc)
    }
    val toks = greatest(col(tokenCol).cast("long"), lit(0L))
    val skewed =
      if (maxUnsaltedDomainRows <= 0) true
      else {
        val m = df.where(!nullish).groupBy(col(domainCol)).agg(count(lit(1)).as("c"))
          .agg(max("c")).head.get(0)
        m != null && m.asInstanceOf[Long] > maxUnsaltedDomainRows
      }
    val preCapped =
      if (!skewed) df
      else {
        val salt = pmod(orderHash, lit(salts.toLong))
        val w1 = Window.partitionBy(col(domainCol), salt).orderBy(ordering: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("_tb_c1", when(nullish, lit(0L)).otherwise(sum(toks).over(w1) - toks))
          .where(col("_tb_c1") <= budgetTokens)
          .drop("_tb_c1")
      }
    val w2 = Window.partitionBy(col(domainCol)).orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    preCapped
      .withColumn("_tb_cum", when(nullish, lit(0L)).otherwise(sum(toks).over(w2)))
      .where(col("_tb_cum") <= budgetTokens)
      .drop("_tb_cum")
  }

  /** Greedy sequence packing: concatenate whole documents into
    * fixed-budget training sequences (no document splitting — the
    * complement of [[chunkByTokens]], which splits; real pipelines pack
    * the short tail after chunking the long head). Documents are
    * hash-assigned to `numShards` independent shards and packed greedily
    * in id order within each shard: a document that no longer fits opens
    * the next sequence; a document exceeding `maxTokens` on its own
    * occupies its sequence alone. Output: (id, shard, seq_id, seq_offset)
    * with seq_id dense per shard and seq_offset the document's token
    * start inside its sequence.
    *
    * Scale shape: ONE shuffle (repartition by shard) + a sort within
    * partitions + a single sequential pass per partition — the classic
    * secondary-sort pattern. Packing is inherently sequential PER SHARD
    * (each bin depends on every prior document), so the shard count IS
    * the parallelism knob; state per task is three longs, independent of
    * shard size. Deterministic for a fixed (corpus, numShards,
    * maxTokens): assignment and order are id-hash/id-driven, so retries
    * repack identically.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCountCol: String,
      maxTokens: Long,
      numShards: Int
  ): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(numShards > 0, "numShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = df.select(
      col(idCol).cast("long").as("id"),
      pmod(HashCols.stableHash(concat(col(idCol).cast("string"), lit("_pack"))), lit(numShards.toLong)).as("shard"),
      col(tokenCountCol).cast("long").as("cnt")
    )
    assigned
      // Explicit count: exempt from AQE coalescing — small inputs would
      // otherwise coalesce to one task and pack every shard serially.
      .repartition(numShards, col("shard"))
      .sortWithinPartitions("shard", "id")
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        var curShard = Long.MinValue
        var seqId    = 0L
        var used     = 0L
        rows.map { case (id, shard, cnt) =>
          if (shard != curShard) { curShard = shard; seqId = 0L; used = 0L }
          if (used > 0 && used + cnt > maxTokens) { seqId += 1; used = 0L }
          val offset = used
          used += cnt
          (id, shard, seqId, offset)
        }
      }
      .toDF(idCol, "shard", "seq_id", "seq_offset")
  }

  /** The pipeline's FINAL keep/drop decision: the three quality signals a
    * production filter ensembles — the supervised classifier (broadcast
    * integer weights), the bigram-LM perplexity threshold, and the
    * heuristic thresholds — each reported as its own flag plus the
    * conjunction, per document. Keeping the individual flags (not just
    * the AND) is what makes the ensemble auditable: "why was this doc
    * dropped" is a column read, not a recompute. The classifier and
    * heuristic legs are scan-local; the LM leg carries the corpus-model
    * joins of [[lmQualityScore]]; the three legs meet on one id join.
    */
  def qualityEnsemble(
      df: DataFrame,
      textCol: String,
      idCol: String,
      model: QualityClassifier.Model,
      nllThreshold: Double = 3.45,
      t: QualityThresholds = QualityThresholds()
  ): DataFrame = {
    // Classifier and heuristics are both scan-local — ONE projection over
    // one scan of the corpus, not two scans joined by id; only the LM leg
    // (whose score needs the corpus model joins) meets it on a join.
    val clsKept = QualityClassifier.keptColumn(df.sparkSession, model)
    val scanFlags = heuristicFlag(
      df.withColumn("cls_kept", clsKept(col(textCol))), textCol, t, "heur_kept")
      .select(col(idCol).cast("long").as("doc_id"), col("cls_kept"), col("heur_kept"))
    val lm = lmQualityScore(df, textCol, idCol, nllThreshold)
      .select(col("doc_id").cast("long").as("doc_id"), col("kept").as("lm_kept"))
    scanFlags.join(lm, "doc_id")
      .select(col("doc_id"), col("cls_kept"), col("lm_kept"), col("heur_kept"),
        (col("cls_kept") && col("lm_kept") && col("heur_kept")).as("kept"))
  }

  /** The heuristic keep decision as an appended flag column (scan-local,
    * streaming-legal): the [[filterByQuality]] thresholds evaluated
    * without dropping rows — the ensemble form, where "failed heuristics"
    * is data, not absence.
    */
  def heuristicFlag(df: DataFrame, textCol: String, t: QualityThresholds, outCol: String): DataFrame =
    df.withColumn("__hf_rep", repetitionUdf(col(textCol)))
      .withColumn("__hf_alpha",
        length(regexp_replace(col(textCol), "[^a-z]", "")).cast("double") /
          greatest(length(col(textCol)), lit(1)))
      .withColumn(outCol,
        col("__hf_rep._1").between(t.minTokens, t.maxTokens) &&
          col("__hf_rep._2") <= t.maxDupTokenFrac &&
          col("__hf_rep._3") <= t.maxTopBigramFrac &&
          col("__hf_alpha") >= t.minAlphaRatio)
      .drop("__hf_rep", "__hf_alpha")

  /** Blocklist hit count — the C4-style wordlist safety filter: how many
    * whitespace tokens of `text` match the frozen `words` list
    * (case-insensitive, occurrences not distinct words; the classic
    * policy drops any page with ≥ 1 hit). Pure codegen'd higher-order
    * projection against an array literal — scan-local, no join, no UDF;
    * the word list is policy-owned and passed in, never baked in.
    * Null text → 0.
    */
  def blocklistHits(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "empty blocklist")
    val wl = array(words.map(w => lit(w.toLowerCase)): _*)
    coalesce(
      size(filter(Dedup.tokens(text), t => array_contains(wl, lower(t)))).cast("long"),
      lit(0L))
  }

  /** WITHIN-document repeated-line removal (the Gopher/MassiveText
    * repetition cleanup, distinct from corpus-level [[dedupRepeatedLines]]):
    * every line keeps only its FIRST occurrence inside the same document,
    * order otherwise preserved. Pure per-row array expression
    * (`filter` with index + `array_position` first-occurrence test) —
    * scan-local, embarrassingly parallel, streaming-legal. Null → null.
    */
  def dedupLinesWithin(text: Column): Column = {
    val lines = split(text, "\n", -1)
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === (i.cast("long") + 1L)),
      "\n")
  }

  /** Corpus diff between two snapshots: per id, `added` / `removed` /
    * `changed` / `unchanged` by content MD5 — the audit step between two
    * versions of a continuously-rebuilt corpus (what changed since the
    * last training run?). One full-outer join on the id; fingerprints are
    * computed scan-side so the join carries 32-char digests, not
    * documents.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Presence is a per-side flag, NOT digest nullability: a doc present
    // in a snapshot with NULL text has a NULL md5 and would otherwise be
    // misreported as added/removed instead of changed/unchanged.
    val o = oldDf.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("_cd_old"), lit(true).as("_cd_in_old"))
    val n = newDf.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("_cd_new"), lit(true).as("_cd_in_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("_cd_in_old").isNull, lit("added"))
          .when(col("_cd_in_new").isNull, lit("removed"))
          .when(col("_cd_old") <=> col("_cd_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col("id").as(idCol), col("status"))
  }
}
