package graft.operators

import graft.plans.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Execution shape: candidate GENERATION is declarative (inverted-index /
  * bucket joins, groupBys — Catalyst plans the shuffles), while per-element
  * KERNELS (shingle hashing, signatures, Jaccard verification) are tight
  * Scala UDFs/mapPartitions — Catalyst higher-order functions evaluate
  * interpreted (no codegen) and measured 10–100× slower on these paths
  * (see SCALE.md):
  *
  *   - exact dedup: hash-groupBy on content (one shuffle on the text key);
  *   - n-gram Jaccard: stop-shingle-pruned inverted index for candidates +
  *     exact merge-scan verification over full hashed shingle sets;
  *   - MinHash+LSH: shingle→signature→band→bucket-join, the standard
  *     sub-quadratic near-dup pipeline, same kernel verification;
  *   - SimHash: 32-bit sign-aggregated fingerprint per document;
  *   - embedding cosine: broadcast-matrix pair kernel (correctness
  *     baseline; see [[Similarity]] for the LSH-bucketed scale path);
  *   - duplicateClusters: connected components over pair lists →
  *     cluster-representative dedup.
  */
object Dedup {

  /** How candidate pairs are verified against the full shingle sets.
    *
    * The broadcast-map kernel is the fast path (one broadcast, zero extra
    * shuffles, a merge-scan per pair) but bounded by the doc→shingles map
    * fitting in a broadcast — like any map-side join. The shuffled path has
    * no size bound: candidates are distinct-ed, then the shingle arrays are
    * joined in for each side (Catalyst picks sort-merge once the frames
    * outgrow the broadcast threshold) and each pair is verified by the same
    * merge-scan kernel. `Auto` measures the corpus (Σ shingles × 8 bytes)
    * and picks — the standard map-side-join auto-selection.
    *
    * The default bound is set by measurement, not broadcast capacity: the
    * broadcast map is BUILT single-threaded (collect + hash-map insert on
    * the driver), so it loses to the fully parallel shuffled join well
    * before the payload stops fitting. The x100 scale soak (SCALE.md,
    * 500k docs ≈ 150 MB estimated payload) measured broadcast-verify at
    * 26.6 s vs shuffle-verify at 19.7 s on the same candidates; 64 MB
    * keeps the broadcast kernel for the corpora where it actually wins.
    */
  sealed trait VerifyMode
  object VerifyMode {
    case object Broadcast                                      extends VerifyMode
    case object Shuffle                                        extends VerifyMode
    case class Auto(maxBroadcastBytes: Long = 64L * 1024 * 1024) extends VerifyMode
  }

  /** Distinct character n-grams of `text`, positions 1..len-n+1. For texts
    * shorter than n the whole text is the single shingle (the `greatest`
    * guard also keeps `sequence` ascending — sequence(1, 0) would count
    * DOWN in Spark).
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))), i => text.substr(i, lit(n)))
    )

  /** Sorted distinct stableHash values of the text's n-gram shingles, as a
    * tight UDF. Downstream set operations (inverted index, Jaccard
    * verification) work on 8-byte longs instead of strings — smaller
    * shuffle keys and a merge-scan intersection. Hash collisions are
    * faithfully mirrored in the DuckDB oracle (it hashes the same way), so
    * results stay comparable.
    */
  def hashedShingles(text: Column, n: Int): Column = {
    val u = udf { (t: String) =>
      val set = new java.util.TreeSet[java.lang.Long]()
      // Null-tolerant like the rest of the library (anonymizers, lenses,
      // winnowing): a null document contributes no shingles instead of
      // NPE-ing the task.
      if (t == null) ()
      else if (t.length < n) set.add(graft.functions.Anonymizer.stableHash(t).toLong)
      else {
        var i = 0
        while (i <= t.length - n) {
          set.add(graft.functions.Anonymizer.stableHash(t.substring(i, i + n)).toLong)
          i += 1
        }
      }
      val out = new Array[Long](set.size)
      val it  = set.iterator()
      var j   = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out.toSeq
    }
    u(text)
  }

  /** Exact Jaccard of two SORTED long arrays via a merge scan. Parameters
    * are primitive Array[Long], NOT Seq[Long]: the Seq form makes Spark
    * build an immutable collection with per-element boxing for every row
    * (measured 280 µs/pair — 30 s over a 109k-pair verify), while
    * Array[Long] deserializes as one `UnsafeArrayData.toLongArray` memcpy
    * (same verify ~0.3 s).
    */
  private val jaccardUdf = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Per-document count of char k-grams shared with ANY other document —
    * the exact-substring duplication signal (the "train on it twice"
    * failure mode that document-level dedup misses: boilerplate headers,
    * license blocks, templated passages repeated across otherwise-distinct
    * documents). A high shared-span count marks a document for substring
    *-level cleaning even when no whole-document near-duplicate exists.
    *
    * Scale shape: one [[hashedShingles]] pass (8-byte keys), explode, one
    * doc-frequency aggregation on the gram hash, join back, one count per
    * doc — inverted-index work, never pairwise. Documents shorter than k
    * contribute their whole text as the single gram (the shingle
    * contract).
    */
  def sharedSubstringCounts(df: DataFrame, textCol: String, idCol: String, k: Int = 50): DataFrame = {
    val docs = Lineage.truncate(
      Lineage.fanOutSmall(df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__graft_txt")))
        .select(col("doc_id"), hashedShingles(col("__graft_txt"), k).as("shs"))
    )
    val grams  = docs.select(col("doc_id"), explode(col("shs")).as("gram"))
    val shared = grams
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("docs_with_gram"))
      .where(col("docs_with_gram") >= 2)
      .select("gram")
    val counts = grams.join(shared, "gram").groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    docs
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_grams"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** One representative (min id) + multiplicity per distinct text.
    * Exact dedup = one hash shuffle on the content key; at 100 TB hash the
    * text first (`md5`) so the shuffle key is 32 bytes, not the document.
    */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** How near-dup CANDIDATE pairs are generated (verification is always the
    * exact Jaccard over full shingle sets, whatever produced the pair).
    *
    * The capped inverted index is deterministic and complete whenever
    * qualifying pairs share at least one sub-cap shingle — but on a corpus
    * whose every shingle is ubiquitous (tiny trigram vocabulary: measured
    * on the 5000-doc fixture, 377 distinct trigrams with minimum document
    * frequency 250) a fixed cap prunes EVERY shingle and the index goes
    * blind: zero candidates, silently. MinHash band keys are composites of
    * many shingles, so their selectivity survives exactly that regime.
    * `Auto` probes which regime the corpus is in and picks loudly.
    */
  sealed trait CandidateMode
  object CandidateMode {

    /** Stop-shingle-capped inverted index (deterministic recall). */
    case object InvertedIndex extends CandidateMode

    /** MinHash band collisions — probabilistic per the band s-curve, but
      * independent of shingle document frequency.
      *
      * RECALL/COST PROFILE (documented, not silent — the fallback warn log
      * states the recall for the configured geometry and threshold):
      * with b bands × r rows, a pair of true Jaccard j collides in some
      * band with probability 1−(1−j^r)^b.
      *
      *  - DEFAULT 4 bands × 8 rows: s-curve midpoint (1/4)^(1/8) ≈ 0.84 —
      *    ABOVE the operator's default 0.8 threshold, so a pair at exactly
      *    j = 0.8 is caught with only ≈ 52% probability (j = 0.9 → 99.8%).
      *    The flip side is selectivity: collision at j = 0.5 is ≈ 1.5%.
      *  - RECALL-LEANING 8 bands × 4 rows: ≈ 98.5% at j = 0.8, but ≈ 40%
      *    collision at j = 0.5 — on a vocabulary-dense corpus whose junk
      *    pair mass sits at j 0.4–0.7 (the exact regime that ENGAGES this
      *    fallback; measured on the fixture corpus), that floods the
      *    verifier with ~half of ALL pairs. The signature-estimate prune
      *    contains the exact-verify cost (measured 10.5 s → 4.7 s at sf0.1)
      *    but the collision join volume is inherent to the geometry —
      *    measured 2.7× the default's wall clock.
      *
      * There is no geometry with both ≥ 95% recall at 0.8 AND low collision
      * at 0.65 — the per-row discrimination (0.8/0.65)^r needs r ≈ 22 and
      * b ≈ 400 (≈ 9k hashes) to hold both. MEASURED COST of buying the
      * recall (sf0.1 documents corpus, GeoBench, warmed): the recall-driven
      * 6-rows × 10-bands geometry at 0.8 runs ~1.9× the old fixed
      * 8×4 fallback's wall (1.5 s → 2.9 s) on 11× the collision volume
      * (136k → 1.5M candidate rows, estimate-pruned before exact verify) —
      * the price of 52% → 95% s-curve recall at the threshold. Pick by
      * workload: pass an explicit selective geometry when cost matters
      * more than borderline-threshold recall.
      */
    case class MinHashBands(numHashes: Int = 32, bands: Int = 4) extends CandidateMode

    /** Band geometry CHOSEN FROM THE S-CURVE at the operator's threshold:
      * [[recallGeometry]] picks the most selective (rows, bands) whose
      * collision probability at the threshold clears `targetRecall` within
      * the `maxHashes` signature budget — callers state the recall they
      * need instead of guessing a geometry.
      */
    case class MinHashRecall(targetRecall: Double = 0.95, maxHashes: Int = 64) extends CandidateMode

    /** Probe the capped index's document coverage (fraction of documents
      * retaining ≥1 indexable shingle — one extra aggregation over frames
      * the index builds anyway) and fall back to band candidates when the
      * index can no longer see `minDocCoverage` of the corpus. Fallback
      * geometry: `numHashes`/`bands` when set explicitly; the default 0/0
      * means DERIVE from the s-curve at the operator's threshold
      * ([[recallGeometry]], ≥95% recall) — the fixed fallback geometry
      * that silently underrecalled at 0.7/0.8 is gone. Recall is logged
      * with numbers at switch time either way.
      */
    case class Auto(minDocCoverage: Double = 0.5, numHashes: Int = 0, bands: Int = 0) extends CandidateMode
  }

  /** The most selective band geometry whose s-curve recall at `threshold`
    * clears `targetRecall` within a `maxHashes` signature budget, returned
    * as (numHashes, bands) with rows = numHashes / bands.
    *
    * A pair of true Jaccard j collides in some band of an r-rows × b-bands
    * geometry with probability 1 − (1 − j^r)^b. For fixed r the minimum
    * feasible band count is b(r) = ⌈ln(1−target) / ln(1−t^r)⌉; larger r is
    * strictly more selective against sub-threshold pairs (collision odds
    * scale like (j/t)^r), so the chooser takes the LARGEST r whose
    * r·b(r) still fits the budget. At the defaults: t=0.7 → 4×11 (95.1%),
    * t=0.8 → 6×10 (95.2%), t=0.9 → 9×7 (96.7%) — versus 52%/88% at
    * 0.8/0.9 for a fixed 8-rows × 4-bands geometry (spec-pinned).
    */
  def recallGeometry(threshold: Double, targetRecall: Double = 0.95, maxHashes: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    var best: Option[(Int, Int)] = None
    var r = 1
    var feasible = true
    while (feasible && r <= maxHashes) {
      val pr = math.pow(threshold, r)
      val b  = math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).toInt)
      if (r.toLong * b <= maxHashes) { best = Some((r, b)); r += 1 }
      else feasible = false // b(r) is nondecreasing in r — no larger r fits
    }
    val (rows, bands) = best.getOrElse(throw new IllegalArgumentException(
      s"recallGeometry: no geometry reaches $targetRecall recall at threshold $threshold within $maxHashes hashes"))
    (rows * bands, bands)
  }

  /** The estimate-prune cutoff [[ngramJaccardPairs]] applies between band
    * collision and exact verification when the geometry's s-curve midpoint
    * (1/b)^(1/r) sits below the threshold (the flood regime): t − 3σ with
    * σ = √(t(1−t)/numHashes) keeps ≥ ~99.4% of true-threshold pairs.
    * None when the geometry is already selective. Public so the DuckDB
    * oracle generator derives the identical cutoff.
    */
  def bandPruneCutoff(threshold: Double, numHashes: Int, bands: Int): Option[Double] = {
    val rows     = numHashes / bands
    val midpoint = math.pow(1.0 / bands, 1.0 / rows)
    if (midpoint < threshold)
      Some(threshold - 3.0 * math.sqrt(threshold * (1 - threshold) / numHashes))
    else None
  }

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pairs (id_a < id_b) with EXACT n-gram Jaccard ≥ `threshold`, via
    * sub-quadratic candidate generation + array-intersection verification.
    *
    * Scale shape: a raw shingle self-join explodes as Σ_sh freq(sh)² —
    * ubiquitous shingles ("the", " th") alone contribute |docs|² pair rows
    * (measured 22M pair rows on a 500-doc fixture, 552 s). So candidates
    * come only from shingles with document frequency ≤ `maxShingleFreq`
    * (stop-shingle removal, the standard inverted-index trick), and the
    * Jaccard each candidate pair is verified with is still the EXACT
    * intersection over the FULL shingle sets. A qualifying pair is missed
    * only if the two documents share no sub-cap shingle at all — true for
    * near-dups' rare shingles on natural text, FALSE on a vocabulary-dense
    * corpus where no shingle is rare (see [[CandidateMode]]): the default
    * `Auto` detects that blind regime and generates candidates from MinHash
    * bands instead.
    */
  /** Most hot (over-cutoff) shingles the excision pre-pass will broadcast
    * before falling back to a distributed anti-join. The hot-set size is
    * bounded by avgShinglesPerDoc / frac independent of corpus row count
    * (see the excision comment in [[ngramJaccardPairs]]); 4M longs = a
    * 32 MB broadcast, far above any non-pathological frac.
    */
  val ExciseBroadcastCap: Int = 4 * 1000 * 1000

  /** Drop every shingle whose document frequency exceeds
    * `max(1, floor(frac·N))` from every document's (sorted, distinct)
    * hashed-shingle set — [[ngramJaccardPairs]]'s boilerplate-excision
    * pre-pass. Documents left with an empty set DROP (they pair with
    * nothing; downstream survivor logic keeps absent docs as their own
    * canon).
    *
    * Cost model: the hot set is provably small no matter the corpus —
    * ≤ Σ|shingles| / (frac·N) = avgShinglesPerDoc / frac entries (N
    * cancels) — so it collects to the driver and the subtraction runs
    * as a broadcast merge-scan over each document's sorted array:
    * scan-local, no shuffle beyond the frequency aggregation itself,
    * and the output stays sorted BY CONSTRUCTION (the merge-scan
    * Jaccard verifier requires sorted arrays). A corpus with zero hot
    * shingles pays only the frequency scan. Above `broadcastCap` (only
    * reachable with a pathologically small frac) the subtraction falls
    * back to the distributed anti-join + re-collect, re-sorting
    * explicitly for the same invariant.
    */
  private[graft] def exciseHotShingles(
      docs0: DataFrame,
      frac: Double,
      broadcastCap: Int = ExciseBroadcastCap
  ): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"exciseBoilerplateFrac must be in (0, 1], got $frac")
    val cutoff = math.max(1L, math.floor(frac * docs0.count()).toLong)
    val sh  = docs0.select(col("doc_id"), explode(col("shs")).as("sh"))
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df_freq"))
      .where(col("df_freq") > cutoff).select("sh")
    val hotHead = hot.limit(broadcastCap + 1).collect().map(_.getLong(0))
    if (hotHead.isEmpty) docs0 // clean corpus: excision is a no-op beyond the scan
    else if (hotHead.length <= broadcastCap) {
      val hotSorted = hotHead.sorted
      val bc = docs0.sparkSession.sparkContext.broadcast(hotSorted)
      val subtract = udf { (shs: Array[Long]) =>
        val h   = bc.value
        val out = new Array[Long](shs.length)
        var i = 0; var j = 0; var m = 0
        while (i < shs.length) {
          while (j < h.length && h(j) < shs(i)) j += 1
          if (j >= h.length || h(j) != shs(i)) { out(m) = shs(i); m += 1 }
          i += 1
        }
        java.util.Arrays.copyOf(out, m).toSeq
      }
      Lineage.truncate(
        docs0.select(col("doc_id"), subtract(col("shs")).as("shs"))
          .where(size(col("shs")) > 0))
    } else
      Lineage.truncate(
        sh.join(hot, Seq("sh"), "left_anti")
          .groupBy("doc_id").agg(sort_array(collect_list(col("sh"))).as("shs")))
  }

  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleFreq: Option[Int] = Some(100),
      verify: VerifyMode = VerifyMode.Auto(),
      candidates: CandidateMode = CandidateMode.Auto(),
      exciseBoilerplateFrac: Option[Double] = None
  ): DataFrame = {
    // One hashing pass: the inverted index derives the (doc, shingle)
    // stream from this cached frame 3× (stop-shingle counts + both join
    // sides) and verification reads it again — without the checkpoint
    // every derivation re-hashed the whole corpus. fanOutSmall: a
    // single-split scan would otherwise hash — and run every stage up to
    // the first exchange — on ONE core ([[Lineage.fanOutSmall]]).
    val docs0 = Lineage.truncate(
      Lineage.fanOutSmall(df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__graft_txt")))
        .select(col("doc_id"), hashedShingles(col("__graft_txt"), n).as("shs"))
    )
    // Boilerplate EXCISION (opt-in): drop shingles whose document
    // frequency exceeds frac·|corpus| from every document's set BEFORE
    // candidates AND verification — unlike `maxShingleFreq`, which only
    // keeps hot shingles out of the candidate index while the exact
    // verify still intersects full sets. A shared header/footer in 25% of
    // the corpus stops contributing similarity at all: candidate pairs it
    // alone created now fail verification too, so the hostile-shingle
    // premium collapses instead of being merely bounded. Semantics change
    // accordingly (Jaccard over the excised sets — "similar modulo
    // boilerplate"); on a corpus with no shingle above the cutoff the
    // result is IDENTICAL to the default path (gate-pinned).
    //
    // Scale shape: the hot set is SMALL no matter how large the corpus —
    // at most Σ_docs |shingles| / (frac·N) = avgShinglesPerDoc / frac
    // entries (N cancels: a 10⁹-doc corpus of 10 KB documents at frac
    // 0.2 has ≤ ~50k hot shingles). So the removal is one frequency
    // aggregation (the same shape maxShingleFreq already pays) + a
    // BROADCAST merge-scan subtraction applied scan-local to each
    // document's sorted array — no explode-shuffle-recollect of the full
    // shingle stream. A corpus with zero hot shingles (the common clean
    // case) pays only the frequency scan. The sorted-merge subtraction
    // also preserves array sortedness BY CONSTRUCTION, which the
    // merge-scan Jaccard verifier requires; the distributed fallback
    // (hot set over [[ExciseBroadcastCap]] — only reachable with a
    // pathologically small frac) re-sorts explicitly for the same reason.
    val docs = exciseBoilerplateFrac match {
      case None       => docs0
      case Some(frac) => exciseHotShingles(docs0, frac)
    }
    def indexed = {
      val sh = docs.select(col("doc_id"), explode(col("shs")).as("sh"))
      (maxShingleFreq match {
        case Some(k) =>
          val keep = sh.groupBy("sh").agg(count(lit(1)).as("df_freq")).where(col("df_freq") <= k).select("sh")
          sh.join(keep, "sh")
        case None => sh
      }).select("doc_id", "sh") // using-column joins put the key first — pin order before toDF renames
    }
    def indexCandidates = {
      val a = indexed.toDF("doc_a", "sh")
      val b = indexed.toDF("doc_b", "sh")
      a.join(b, a("sh") === b("sh") && a("doc_a") < b("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    }
    // Band-candidate prune ([[bandPruneCutoff]]): engages only in the
    // FLOOD regime — a geometry whose s-curve midpoint (1/b)^(1/r) sits
    // below the threshold collides heavily on sub-threshold pairs; the
    // signature-estimate cutoff t − 3σ sheds them before exact verify
    // while keeping ≥ ~99.4% of true-threshold pairs. Selective
    // geometries (midpoint above threshold) skip it: there the extra
    // distinct + signature joins would only add cost.
    def bandRecall(nh: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, nh / b), b)
    def banded(nh: Int, b: Int) =
      bandedCandidatesFromHashes(docs, nh, b, bandPruneCutoff(threshold, nh, b))
    val rawCand = candidates match {
      case CandidateMode.InvertedIndex       => indexCandidates
      case CandidateMode.MinHashBands(nh, b) => banded(nh, b)
      case CandidateMode.MinHashRecall(target, maxH) =>
        val (nh, b) = recallGeometry(threshold, target, maxH)
        banded(nh, b)
      case CandidateMode.Auto(minCov, nh0, b0) =>
        maxShingleFreq match {
          case None => indexCandidates // uncapped index never goes blind (cost, not recall, is its bound)
          case Some(_) =>
            val nDocs   = docs.count()
            val covered = indexed.select(countDistinct(col("doc_id"))).head.getLong(0)
            if (covered >= minCov * nDocs) indexCandidates
            else {
              // 0/0 = derive the geometry from the s-curve at THIS
              // threshold (≥95% recall) instead of a fixed fallback.
              val (nh, b) = if (nh0 <= 0 || b0 <= 0) recallGeometry(threshold) else (nh0, b0)
              logger.warn(
                "ngramJaccardPairs: capped inverted index covers {}/{} documents (< {}) — " +
                  "no shingle is rarer than maxShingleFreq on this corpus; switching candidate " +
                  "generation to MinHash bands ({} hashes × {} bands): recall at the {} threshold " +
                  "is ~{} (band s-curve; see CandidateMode.MinHashBands for the recall/cost trade). " +
                  "Pass candidates = CandidateMode.InvertedIndex to force the index formulation, " +
                  "or an explicit MinHashBands geometry to trade recall against collision volume.",
                covered, nDocs, minCov, nh, b, threshold, f"${bandRecall(nh, b)}%.2f"
              )
              banded(nh, b)
            }
        }
    }
    verifyPairs(rawCand, docs, threshold, verify, docsMaterialized = true)
  }

  /** MinHash permutation constants: h_i(x) = ((2i+1)·x + B(i)) mod P with
    * P = 2^31−1 (prime) and B(i) = stableHash("minhash#i"). One base MD5
    * per shingle + k cheap affine permutations — the classic optimization
    * over k independent hash functions (k× fewer digests). Deterministic
    * and replicated verbatim in the DuckDB oracle.
    */
  val MinHashPrime = 2147483647L
  def minHashOffsets(numHashes: Int): IndexedSeq[Long] =
    (0 until numHashes).map(i => graft.functions.Anonymizer.stableHash(s"minhash#$i").toLong)

  /** MinHash signature over the text's n-gram shingle set, as a tight Scala
    * UDF (one MessageDigest reused per row; the HOF formulation pays
    * interpreted per-element overhead and measured ~10× slower).
    */
  def minHashSignature(text: Column, n: Int, numHashes: Int): Column = {
    val offsets = minHashOffsets(numHashes).toArray
    val u = udf { (t: String) =>
      // Shingles replicate the Column version: positions 1..max(L-n+1, 1),
      // SQL-substr truncation → whole text when shorter than n. Null text →
      // no shingles → the all-MaxValue signature (null-tolerant, no NPE).
      val shingleSet = new scala.collection.mutable.LinkedHashSet[String]
      if (t == null) ()
      else if (t.length < n) shingleSet += t
      else {
        var i = 0
        while (i <= t.length - n) { shingleSet += t.substring(i, i + n); i += 1 }
      }
      val sig = Array.fill(numHashes)(Long.MaxValue)
      shingleSet.foreach { sh =>
        val h = graft.functions.Anonymizer.stableHash(sh).toLong
        affineMinInto(h, offsets, sig)
      }
      sig.toSeq
    }
    u(text)
  }

  /** The affine-permutation inner loop shared by every signature kernel:
    * fold min(((2i+1)·h + B_i) mod P) into `sig` for one shingle hash.
    * (2i+1)·h mod P is built INCREMENTALLY (+2h mod P per step) and the
    * mod is a conditional subtraction — all operands stay < 2P, so the
    * identities are exact and the values are bit-identical to the direct
    * multiply-mod form the DuckDB oracles replay, without the 64-bit
    * division that dominated the signature pass (~2× kernel speedup at
    * 60+ hashes).
    */
  @inline private def affineMinInto(h: Long, offsets: Array[Long], sig: Array[Long]): Unit = {
    val P    = MinHashPrime
    val twoH = (2L * h) % P
    var a    = h % P
    var i    = 0
    while (i < sig.length) {
      var v = a + offsets(i) // a < P, B_i <= P -> v < 2P: one subtraction reduces
      if (v >= P) v -= P
      if (v < sig(i)) sig(i) = v
      a += twoH
      if (a >= P) a -= P
      i += 1
    }
  }

  /** LSH candidate pairs: docs sharing any band of the MinHash signature.
    * bands × rowsPerBand must equal numHashes. Scale shape: explode to
    * (band, band_key) and shuffle on the bucket key — never all-pairs.
    */
  def minHashLshCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig  = Lineage.fanOutSmall(df.select(col(idCol).as("doc_id"), col(textCol).as("__graft_txt")))
      .select(col("doc_id"), minHashSignature(col("__graft_txt"), n, numHashes).as("sig"))
    val banded = sig.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            concat_ws(":", transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string"))).as("key")
          )
        )
      ).as("bk")
    ).select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      // Materialize once: both sides of the bucket self-join would otherwise
      // re-run the whole signature pipeline (one MD5 per shingle per doc).
      .transform(Lineage.truncate)
    val l = banded.toDF("doc_a", "band", "key")
    val r = banded.toDF("doc_b", "band", "key")
    l.join(r, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash LSH with exact-Jaccard verification of candidates — the full
    * sub-quadratic near-dup pipeline.
    *
    * Verification is a broadcast-map kernel over the RAW band-collision
    * pairs: the shingle sets (8 bytes × ~300 per doc) broadcast once as
    * primitive arrays and each partition verifies its collisions in a
    * merge-scan loop with a per-partition duplicate guard. This replaces
    * (a) a multi-million-row DISTINCT shuffle on the candidate pairs and
    * (b) two hash joins that re-deserialized the shingle array per probe —
    * measured 37 s → the kernel version at the same candidate volume.
    * Capacity bound: the doc→shingles map must fit in a broadcast (like
    * any map-side join); beyond that, swap in a shuffled join
    * formulation on the candidate keys.
    */
  def minHashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      verify: VerifyMode = VerifyMode.Auto()
  ): DataFrame = {
    // ONE shingle-hashing pass (the MD5s dominate signature cost): the
    // cached hashed sets feed BOTH the signatures (cheap affine loop —
    // min over the hashed SET equals min over the per-string multiset,
    // exactly the formulation the DuckDB oracle uses) and the exact
    // verification.
    val docs = Lineage.truncate(
      Lineage.fanOutSmall(df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__graft_txt")))
        .select(col("doc_id"), hashedShingles(col("__graft_txt"), n).as("shs"))
    )
    val rawCand = bandedCandidatesFromHashes(docs, numHashes, bands)
    verifyPairs(rawCand, docs, threshold, verify, docsMaterialized = true)
  }

  /** Band-collision pairs computed from the already-hashed shingle sets:
    * affine signatures (no digests), band keys, bucket self-join. Pairs
    * may repeat once per colliding band — the verifier dedups.
    *
    * `pruneEstBelow`: optional signature-estimate prune between collision
    * and exact verification. The 8-band geometry that makes recall at the
    * threshold ~98.5% also COLLIDES heavily in the mid-similarity range
    * (4-row bands fire at ~40% for j = 0.5) — on a vocabulary-dense corpus
    * that floods exact verification with sub-threshold pairs. The prune
    * dedups the collisions and keeps only pairs whose ESTIMATED Jaccard
    * (fraction of agreeing signature components — an unbiased estimator
    * with σ = √(j(1−j)/H)) clears the cutoff; comparing H longs is ~10×
    * cheaper than an exact shingle-set intersection, and the surviving
    * volume is what the verifier was sized for. Callers set the cutoff
    * t − 3σ so a true-threshold pair fails the prune with probability
    * ≤ ~0.6% (binomial tail), keeping combined fallback recall ≈ 98%.
    */
  private def bandedCandidatesFromHashes(
      docs: DataFrame,
      numHashes: Int,
      bands: Int,
      pruneEstBelow: Option[Double] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows    = numHashes / bands
    val offsets = minHashOffsets(numHashes).toArray
    val sigU = udf { (shs: Array[Long]) =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var k = 0
      while (k < shs.length) {
        affineMinInto(shs(k), offsets, sig)
        k += 1
      }
      sig
    }
    // Signatures are computed ONCE and materialized: banding derives from
    // this frame, and the prune (when it engages) joins back to it instead
    // of re-running the numHashes × shingles pass over the corpus.
    val sigs = docs.select(col("doc_id"), sigU(col("shs")).as("sig")).transform(Lineage.truncate)
    val banded = sigs
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              concat_ws(":", transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string"))).as("key")
            )
          )
        ).as("bk")
      ).select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val l = banded.toDF("doc_a", "band", "key")
    val r = banded.toDF("doc_b", "band", "key")
    val collisions = l.join(r, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    pruneEstBelow match {
      case None => collisions
      case Some(cutoff) =>
        val estU = udf { (a: Array[Long], b: Array[Long]) => estimateJaccard(a, b) }
        collisions.distinct()
          .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
          .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
          .where(estU(col("sig_a"), col("sig_b")) >= cutoff)
          .select("doc_a", "doc_b")
    }
  }

  /** Fraction of agreeing MinHash signature components — the unbiased
    * Jaccard estimator (σ = √(j(1−j)/H)) shared by the batch candidate
    * prune and the streaming near-dup detector
    * ([[graft.streaming.EventStream.nearDupCandidatesWithinWatermark]]).
    * Empty signatures estimate 0 (null-text documents).
    */
  private[graft] def estimateJaccard(a: Array[Long], b: Array[Long]): Double =
    if (a == null || b == null || a.length == 0) 0.0
    else {
      var eq = 0; var i = 0
      while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / a.length
    }

  /** Exact-Jaccard verification of raw candidate pairs, dispatching on
    * [[VerifyMode]]. `Auto` estimates the broadcast payload with one cheap
    * aggregate (Σ shingle count × 8 bytes + per-doc overhead) and picks the
    * broadcast kernel when it fits, the shuffled join when it doesn't —
    * the fallback that makes the operator safe at any corpus size.
    */
  private def verifyPairs(
      rawCand: DataFrame,
      docs: DataFrame,
      threshold: Double,
      mode: VerifyMode,
      docsMaterialized: Boolean = false
  ): DataFrame = mode match {
    case VerifyMode.Broadcast => verifyPairsBroadcast(rawCand, docs, threshold)
    case VerifyMode.Shuffle =>
      verifyPairsShuffled(rawCand, if (docsMaterialized) docs else Lineage.truncate(docs), threshold)
    case VerifyMode.Auto(maxBytes) =>
      // Materialize the shingle sets once — the size probe, and whichever
      // verification path follows, all reuse the same blocks instead of
      // re-running the per-document hashing.
      val cached = if (docsMaterialized) docs else Lineage.truncate(docs)
      val row    = cached.agg(sum(size(col("shs"))), count(lit(1))).head
      val totalShingles = if (row.isNullAt(0)) 0L else row.getLong(0)
      val nDocs         = row.getLong(1)
      // 8 bytes per hashed shingle + ~48 bytes map-entry/array overhead per doc.
      val estBytes = totalShingles * 8L + nDocs * 48L
      if (estBytes <= maxBytes) verifyPairsBroadcast(rawCand, cached, threshold)
      else verifyPairsShuffled(rawCand, cached, threshold)
  }

  /** Shuffled verification — the no-size-bound path.
    *
    * Shape: (1) DISTINCT the raw band collisions (pairs are 16-byte rows —
    * dedup BEFORE anything heavier); (2) size-ratio prefilter: join each
    * side's shingle COUNT (8-byte scalars) and drop pairs where
    * min(|A|,|B|) / max(|A|,|B|) < threshold — an exact Jaccard upper bound
    * (|A∩B| ≤ min, |A∪B| ≥ max), so no qualifying pair is ever dropped,
    * while most coincidental band collisions (between differently-sized
    * documents) never touch an array; (3) join the KB-sized shingle arrays
    * only for survivors and verify with the same merge-scan kernel. All
    * joins shuffle on a doc-id key; Catalyst picks sort-merge once the
    * corpus outgrows the broadcast threshold.
    */
  private def verifyPairsShuffled(rawCand: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val cand  = rawCand.distinct()
    val sizes = docs.select(col("doc_id"), size(col("shs")).as("sz"))
    val pruned = cand
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .where(least(col("sz_a"), col("sz_b")).cast("double") / greatest(col("sz_a"), col("sz_b")) >= threshold)
      .select("doc_a", "doc_b")
    val a = docs.toDF("doc_a", "shs_a")
    val b = docs.toDF("doc_b", "shs_b")
    pruned
      .join(a, "doc_a")
      .join(b, "doc_b")
      .withColumn("jaccard", jaccardUdf(col("shs_a"), col("shs_b")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Broadcast-map exact-Jaccard verification over RAW (possibly repeated)
    * candidate pairs: the doc→sorted-hashed-shingles map broadcasts once
    * as primitive arrays; each partition merges-scans its pairs behind a
    * partition-local duplicate guard; only survivors are globally
    * distinct-ed. Capacity bound: the docs map must fit in a broadcast
    * (same assumption as any map-side join) — [[VerifyMode.Auto]] falls
    * back to [[verifyPairsShuffled]] beyond it.
    */
  private def verifyPairsBroadcast(rawCand: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val spark = rawCand.sparkSession
    import spark.implicits._
    val docsMap = spark.sparkContext.broadcast(
      docs.as[(Long, Seq[Long])].collect().map { case (id, shs) => id -> shs.toArray }.toMap
    )
    val verified = rawCand.as[(Long, Long)].mapPartitions { pairs =>
      val m    = docsMap.value
      val seen = new java.util.HashSet[(Long, Long)]()
      pairs.flatMap { case (a, b) =>
        if (!seen.add((a, b))) None
        else {
          val sa = m(a); val sb = m(b)
          var i = 0; var j = 0; var inter = 0
          while (i < sa.length && j < sb.length) {
            val x = sa(i); val y = sb(j)
            if (x == y) { inter += 1; i += 1; j += 1 }
            else if (x < y) i += 1
            else j += 1
          }
          val jac = inter.toDouble / (sa.length + sb.length - inter)
          if (jac >= threshold) Some((a, b, jac)) else None
        }
      }
    }
    verified.toDF("doc_a", "doc_b", "jaccard").distinct()
  }

  /** Profiling accessors (graft.tools.ProfileShuffleVerify) — not API. */
  private[graft] def minHashLshCandidatesRawForProfile(
      df: DataFrame, textCol: String, idCol: String, n: Int, numHashes: Int, bands: Int
  ): DataFrame = minHashLshCandidatesRaw(df, textCol, idCol, n, numHashes, bands)
  private[graft] def jaccardForProfile(a: Column, b: Column): Column = jaccardUdf(a, b)
  private[graft] def jaccardForProfileNondet(a: Column, b: Column): Column =
    jaccardUdf.asNondeterministic()(a, b)

  /** Band-collision pairs WITHOUT the distinct — each pair may appear once
    * per colliding band. Feeds the kernel verifier above.
    */
  private def minHashLshCandidatesRaw(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig  = Lineage.fanOutSmall(df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__graft_txt")))
      .select(col("doc_id"), minHashSignature(col("__graft_txt"), n, numHashes).as("sig"))
    val banded = sig.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            concat_ws(":", transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string"))).as("key")
          )
        )
      ).as("bk")
    ).select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .transform(Lineage.truncate)
    val l = banded.toDF("doc_a", "band", "key")
    val r = banded.toDF("doc_b", "band", "key")
    l.join(r, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** Execution strategy for [[duplicateClusters]]. Near-dup EDGE lists are
    * usually tiny relative to the corpus (duplicates are the exception,
    * not the rule), so `Auto` counts the cached edges and runs union-find
    * on the driver below the threshold — microseconds instead of
    * driver-synchronized label-propagation rounds — falling back to the
    * distributed algorithm above it. Same (node, min-id rep) result from
    * both paths, by construction.
    */
  sealed trait ClusterMode
  object ClusterMode {
    case object Distributed                         extends ClusterMode
    case object Local                               extends ClusterMode
    case class Auto(maxEdges: Long = 10L * 1000 * 1000) extends ClusterMode
  }

  /** Transitive duplicate clusters from a near-dup pair list — connected
    * components, returned as (node, cluster_rep) for every node appearing
    * in a pair, representative = the cluster's minimum id. Ids are cast to
    * long (the same contract as the pair generators).
    *
    * Distributed path: alternating large-star/small-star contraction
    * (O(log² n) rounds, two keyed shuffles per round, edge set shrinks
    * every round — see [[clustersDistributed]]). Local path: driver
    * union-find over the collected edge list ([[ClusterMode]]).
    */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      mode: ClusterMode = ClusterMode.Auto()
  ): DataFrame = {
    // Materialize the (tiny) edge list once: the mode probe, and whichever
    // path runs, must not re-execute the expensive pair-generation plan.
    val edgesRaw = Lineage.truncate(pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))
    mode match {
      case ClusterMode.Distributed => clustersDistributed(edgesRaw)
      case ClusterMode.Local       => clustersLocal(edgesRaw)
      case ClusterMode.Auto(maxEdges) =>
        if (edgesRaw.count() <= maxEdges) clustersLocal(edgesRaw) else clustersDistributed(edgesRaw)
    }
  }

  /** Driver union-find (path compression; the smaller root absorbs the
    * larger, so every root IS its component's minimum). Bounded by
    * [[ClusterMode.Auto]]'s edge cap — 10M edges ≈ 160 MB collected.
    */
  private def clustersLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => out += ((n, find(n))))
    spark.createDataset(out.toSeq).toDF("node", "cluster_rep")
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * published scalable CC. Each round:
    *
    *   large-star: per node u over the SYMMETRIZED neighborhood,
    *     connect every strictly-larger neighbor to m = min(Γ(u) ∪ {u});
    *   small-star: per node u over canonical (hi, lo) edges, connect u
    *     and all its smaller neighbors to min(Γ₋(u)).
    *
    * Connectivity is preserved every step and the edge set contracts
    * toward one star per component centered at its minimum id —
    * O(log² n) rounds worst case, a handful in practice. This replaced a
    * min-label + pointer-jump loop that was measured STALLING on
    * structured graphs (modular-arithmetic link functions at soak scale:
    * `changed` plateaued ~1.5k for tens of rounds) — label propagation
    * moves one hop per round along neighbor edges and the id-chain jump
    * cannot shortcut geometry the id order doesn't encode, while the
    * star rounds contract the GRAPH itself, so convergence is a
    * structural guarantee, not an id-layout accident.
    *
    * Every round's frame is checkpointed (flat plans) and the previous
    * round's checkpoint is RELEASED ([[Lineage.truncateReleasable]]) —
    * the old loop leaked pinned blocks each round and its per-round cost
    * climbed 0.7 s → 134 s by round 23; with release the cost stays flat.
    */
  private def clustersDistributed(pairs: DataFrame): DataFrame = {
    val (nodes, relNodes) = Lineage.truncateReleasable(
      pairs.select(col("src").as("node")).unionByName(pairs.select(col("dst").as("node"))).distinct())
    var (edges, relE) = Lineage.truncateReleasable(
      pairs.select(greatest(col("src"), col("dst")).as("hi"), least(col("src"), col("dst")).as("lo"))
        .where(col("hi") =!= col("lo")).distinct())
    var prevCnt  = edges.count()
    var changed  = true
    var iters    = 0
    val maxIters = 100
    while (changed && iters < maxIters) {
      // LARGE-STAR. m ≤ u < v for every emitted (v, m): already canonical.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mOfU = sym.groupBy("u").agg(min("v").as("mn"))
      val large = sym.join(mOfU, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("mn"), col("u")).as("lo"))
        .distinct()
      // SMALL-STAR over large's canonical edges: hi and all its smaller
      // neighbors connect to the minimum of those neighbors.
      val mOfHi = large.groupBy("hi").agg(min("lo").as("m"))
      val withM = large.join(mOfHi, "hi")
      val (next, relNext) = Lineage.truncateReleasable(
        withM.select(col("hi"), col("m").as("lo"))
          .unionByName(
            withM.where(col("lo") =!= col("m"))
              .select(col("lo").as("hi"), col("m").as("lo")))
          .distinct())
      val nextCnt = next.count()
      changed =
        if (nextCnt != prevCnt) true
        else next.join(edges, Seq("hi", "lo"), "left_anti").limit(1).count() > 0
      relE()
      edges = next; relE = relNext; prevCnt = nextCnt
      iters += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIters star rounds — " +
          "returning partial labels would silently mis-assign cluster representatives"
      )
    // Fixpoint = stars (v, component-min). Nodes without a star edge are
    // their own representative (self-loop-only or isolated inputs).
    val out = nodes
      .join(edges.select(col("hi").as("node"), col("lo").as("cluster_rep")), Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_rep"), col("node")).as("cluster_rep"))
    val materialized = Lineage.truncate(out)
    relE(); relNodes()
    materialized
  }

  /** Deduplicated corpus: keep every row not in any duplicate cluster,
    * plus the minimum-id representative of each cluster.
    */
  def dedupByClusters(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.where(col("node") =!= col("cluster_rep")).select(col("node"))
    df.join(losers, df(idCol) === losers("node"), "left_anti")
  }

  /** [[dedupByClusters]] keeping each cluster's HIGHEST-`scoreCol` member
    * (ties → lowest id) instead of the min-id one — what a production
    * pipeline actually wants: near-dup families usually contain one clean
    * copy and several mangled ones (truncation, boilerplate injection, OCR
    * noise), and which copy has the min id is luck. Feed any per-row
    * quality signal — [[TextAnalysis.qualityMetrics]] output, an LM score
    * (negate [[TextAnalysis.lmQualityScore]]'s nll), a length prior.
    *
    * Scale shape: one window over `partitionBy(cluster)` restricted to
    * CLUSTERED rows only (the frame from [[duplicateClusters]] — tiny
    * next to the corpus), one join back; unclustered rows pass untouched.
    */
  def dedupByClustersKeepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = df.select(col(idCol).cast("long").as("_kb_id"), col(scoreCol).as("_kb_score"))
      .join(clusters, col("_kb_id") === col("node"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("_kb_score").desc, col("_kb_id"))
    val losers = scored
      .withColumn("_kb_rn", row_number().over(w))
      .where(col("_kb_rn") > 1)
      .select(col("_kb_id").as("node"))
    df.join(losers, df(idCol) === losers("node"), "left_anti")
  }

  /** The full corpus-dedup workflow in one call: EXACT-duplicate collapse,
    * near-dup pair detection (inverted-index n-gram Jaccard), transitive
    * clustering, and keep-one-per-cluster. Every stage auto-selects its
    * capacity strategy ([[VerifyMode.Auto]], [[ClusterMode.Auto]]), so the
    * same call works on a fixture and on a corpus that outgrows every
    * broadcast.
    *
    * Why exact-FIRST (round 10): a real crawl carries MASS on single
    * texts — boilerplate pages duplicated millions of times — and that
    * mass breaks a direct near-dup front both ways at once: every shingle
    * of a class larger than `maxShingleFreq` exceeds the frequency cap,
    * so the capped inverted index goes blind to exactly the duplicates
    * that matter most (they'd survive dedup SILENTLY), while lifting the
    * cap turns the class into one posting of size m emitting m²/2
    * candidate pairs. An md5-identity collapse is one linear map-side-
    * combined aggregation, removes the mass BEFORE shingling, and is
    * provably result-identical: an exact duplicate has the same shingle
    * set as its canonical copy, so every near-dup edge through it also
    * exists through the canon (connectivity unchanged), and min-id per
    * exact class composed with min-id per cluster is min-id per family.
    * NULL-text rows are their own identity (never collapsed together),
    * matching the near-dup front's no-shingles behavior.
    */
  def deduplicateCorpus(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleFreq: Option[Int] = Some(100),
      candidates: CandidateMode = CandidateMode.Auto(),
      clusterMode: ClusterMode = ClusterMode.Auto(),
      exciseBoilerplateFrac: Option[Double] = None
  ): DataFrame = {
    val id = col(idCol).cast("long")
    val identity = coalesce(md5(col(textCol).cast("binary")), concat(lit("null#"), id))
    val canonIds = df
      .groupBy(identity.as("_h")).agg(min(id).as("_cid"))
      .select("_cid")
    val canon    = df.join(canonIds, id === col("_cid"), "left_semi")
    val pairs    = ngramJaccardPairs(canon, textCol, idCol, n, threshold, maxShingleFreq,
      candidates = candidates, exciseBoilerplateFrac = exciseBoilerplateFrac)
    val clusters = duplicateClusters(pairs, mode = clusterMode)
    dedupByClusters(canon, idCol, clusters)
  }

  // ------------------------------------------------------------------
  // Incremental dedup against a persisted signature index
  // ------------------------------------------------------------------

  /** Compact MinHash signature index over a corpus: one `(doc_id, sig)` row
    * per document, `numHashes` longs each (~280 bytes at the default 32) —
    * the ONLY state [[incrementalDedup]] needs about the existing corpus.
    * At 100 TB the corpus text is petabyte-class but this index is
    * ~280 GB per 10⁹ documents of scan-friendly parquet, and it is never
    * rewritten: each increment appends its survivors' signatures.
    */
  def buildSignatureIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 32
  ): DataFrame =
    // fanOutSmall: the MD5-per-shingle signature UDF must not run on the
    // single split a small corpus scans as ([[Lineage.fanOutSmall]]).
    Lineage.fanOutSmall(df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__graft_txt")))
      .select(col("doc_id"), minHashSignature(col("__graft_txt"), n, numHashes).as("sig"))

  /** [[incrementalDedup]] output. `survivors`: new rows admitted to the
    * corpus (index misses, deduplicated among themselves). `matchedVsIndex`:
    * `(doc_id, matched_id, est_jaccard)` — which index doc each rejected
    * new doc collided with, for observability/provenance. `updatedIndex`:
    * input index ∪ survivors' signatures, write-back ready.
    */
  final case class IncrementalDedupResult(
      survivors: DataFrame,
      matchedVsIndex: DataFrame,
      updatedIndex: DataFrame)

  /** Dedup an incoming batch against an EXISTING corpus without touching
    * the corpus text — the daily-crawl-vs-100-TB-corpus shape. The corpus
    * is represented only by its [[buildSignatureIndex]] signatures; a new
    * doc is rejected when it band-collides with an indexed doc AND the
    * signature-estimated Jaccard (fraction of agreeing components — the
    * unbiased estimator, exact k/numHashes arithmetic) clears
    * `estThreshold`. Index misses are then deduplicated among themselves
    * with the full exact-verify batch pipeline ([[deduplicateCorpus]] —
    * their text IS on hand).
    *
    * Scale shape: the new batch is the SMALL side by contract (one crawl
    * increment vs the whole corpus), so its band keys and signatures ride
    * broadcast joins and the INDEX IS NEVER SHUFFLED — the match costs two
    * index scans (band probe + estimate verify), zero wide exchanges on
    * the big side. Past broadcast size (a "batch" of ~10⁸ docs),
    * [[VerifyMode.Auto]] switches to the hint-free join form, which
    * shuffles on (band, key) / doc id — no mode flag or source edit needed.
    *
    * Estimate-based index matching trades exactness for never re-reading
    * corpus text: at the default 32 hashes, σ(est) = √(j(1−j)/32) ≈ 0.07
    * at j = 0.8 — a borderline-threshold pair may land either side of the
    * cut (both engines compute the same verdict; the GATE is exact). Raise
    * `numHashes` to tighten; within-batch pairs are always exact-verified.
    */
  def incrementalDedup(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      index: DataFrame,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      estThreshold: Double = 0.8,
      threshold: Double = 0.8,
      matchMode: VerifyMode = VerifyMode.Auto()
  ): IncrementalDedupResult = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val newSigs = Lineage.truncate(buildSignatureIndex(newDocs, textCol, idCol, n, numHashes))
    val matched = matchMode match {
      case VerifyMode.Broadcast => matchVsIndexKernel(newSigs, index, numHashes, bands, estThreshold)
      case VerifyMode.Shuffle   => matchVsIndexJoined(newSigs, index, numHashes, bands, estThreshold)
      case VerifyMode.Auto(maxBytes) =>
        // numHashes longs + per-entry overhead, ×(bands+1) map fan-out.
        val estBytes = newSigs.count() * (numHashes * 8L + 48L) * (bands + 1)
        if (estBytes <= maxBytes) matchVsIndexKernel(newSigs, index, numHashes, bands, estThreshold)
        else matchVsIndexJoined(newSigs, index, numHashes, bands, estThreshold)
    }
    val matchedIds = matched.select(col("doc_id").as("_inc_matched")).distinct()
    val remaining = newDocs.join(
      matchedIds, newDocs(idCol).cast("long") === col("_inc_matched"), "left_anti")
    val survivors = deduplicateCorpus(remaining, textCol, idCol, n, threshold)
    IncrementalDedupResult(
      survivors,
      matched,
      index.unionByName(buildSignatureIndex(survivors, textCol, idCol, n, numHashes)))
  }

  /** Scan-local index match — the fast path: the new batch's band buckets
    * broadcast as one hash map; a single mapPartitions over the INDEX scan
    * computes each indexed doc's band keys in the kernel, probes the map,
    * and estimate-verifies candidates inline behind a per-row duplicate
    * guard. ZERO joins, ZERO shuffles, no collision-pair materialization —
    * on a dense-vocabulary corpus (where low-entropy band keys make the
    * join formulation materialize tens of millions of collision rows and
    * DISTINCT them) this is the difference between seconds and minutes.
    * Capacity bound: the new batch's signature map must fit in a
    * broadcast — [[VerifyMode.Auto]] falls back to [[matchVsIndexJoined]]
    * past it. Pairs are unique by construction (one output set per index
    * row, nid-guarded), so no terminal distinct is needed.
    */
  private def matchVsIndexKernel(
      newSigs: DataFrame,
      index: DataFrame,
      numHashes: Int,
      bands: Int,
      estThreshold: Double
  ): DataFrame = {
    val spark = newSigs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    val buckets = new java.util.HashMap[(Int, Seq[Long]), List[(Long, Array[Long])]]()
    newSigs.as[(Long, Seq[Long])].collect().foreach { case (nid, sigSeq) =>
      val sig = sigSeq.toArray
      (0 until bands).foreach { b =>
        val key = (b, sig.slice(b * rows, (b + 1) * rows).toSeq)
        buckets.merge(key, List(nid -> sig), (old, one) => one ::: old)
      }
    }
    val bc = spark.sparkContext.broadcast(buckets)
    index.as[(Long, Seq[Long])].mapPartitions { it =>
      val m = bc.value
      it.flatMap { case (oid, osigSeq) =>
        val osig = osigSeq.toArray
        val seen = new java.util.HashSet[Long]()
        (0 until bands).iterator.flatMap { b =>
          val cands = m.get((b, osig.slice(b * rows, (b + 1) * rows).toSeq))
          if (cands == null) Iterator.empty
          else cands.iterator.flatMap { case (nid, nsig) =>
            if (!seen.add(nid)) None
            else {
              val e = estimateJaccard(nsig, osig)
              if (e >= estThreshold) Some((nid, oid, e)) else None
            }
          }
        }
      }
    }.toDF("doc_id", "matched_id", "est_jaccard")
  }

  /** Join-formulated index match — the no-size-bound fallback: band keys
    * of both sides bucket-join, collision pairs DISTINCT, then the
    * signatures join back for the estimate. Same result set as the kernel
    * by construction (spec-pinned).
    *
    * Deliberately carries NO broadcast hints: this path is selected
    * precisely when the new batch exceeded the kernel's broadcast bound
    * (or the caller forced [[VerifyMode.Shuffle]]), so pinning the new
    * side into a broadcast here would re-create the OOM the mode switch
    * exists to avoid. The optimizer (autoBroadcastJoinThreshold + AQE)
    * still broadcasts any side that measures small at runtime; past that
    * the joins shuffle on (band, key) / doc id — the scale-safe shape.
    */
  private def matchVsIndexJoined(
      newSigs: DataFrame,
      index: DataFrame,
      numHashes: Int,
      bands: Int,
      estThreshold: Double
  ): DataFrame = {
    val nbd = bandKeys(newSigs, numHashes, bands).toDF("nid", "band", "key")
    val obd = bandKeys(index, numHashes, bands).toDF("oid", "band", "key")
    val hits = nbd
      .join(obd, Seq("band", "key"))
      .select("nid", "oid")
      .distinct()
    val estU = udf { (a: Seq[Long], b: Seq[Long]) =>
      estimateJaccard(a.toArray, b.toArray)
    }
    hits
      .join(index.toDF("oid", "osig"), "oid")
      .join(newSigs.toDF("nid", "nsig"), "nid")
      .withColumn("est_jaccard", estU(col("nsig"), col("osig")))
      .where(col("est_jaccard") >= estThreshold)
      .select(col("nid").as("doc_id"), col("oid").as("matched_id"), col("est_jaccard"))
  }

  /** `(doc_id, sig)` → `(doc_id, band, key)`: the LSH band keys of a
    * signature frame (rows = numHashes / bands consecutive components,
    * stringified and joined — same key construction as the in-corpus
    * candidate generators above).
    */
  private[graft] def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandedSignatures(sigs, numHashes, bands).select("doc_id", "band", "key")

  /** `(doc_id, sig)` → `(doc_id, sig, band, key)`: [[bandKeys]] with the
    * signature retained — the banded SERVING form the persisted index
    * stores and a probe estimate-verifies against without a second join.
    */
  private[graft] def bandedSignatures(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(
      col("doc_id"),
      col("sig"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            concat_ws(":", transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string"))).as("key")
          )
        )
      ).as("bk")
    ).select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  // ------------------------------------------------------------------
  // Persisted band-partitioned signature index (disk serving form)
  // ------------------------------------------------------------------

  /** Partition bucket of a band key: `pmod(xxhash64(band, key), keyBuckets)`.
    * Deterministic across writers and probes — the ONLY contract the
    * pruning depends on.
    */
  private def bandBucket(keyBuckets: Int): Column =
    pmod(xxhash64(col("band"), col("key")), lit(keyBuckets.toLong)).cast("int")

  /** Build/serve parameters of a persisted signature index, stored beside
    * the data (underscore-prefixed subdir — invisible to parquet partition
    * discovery) so a prober needs only the path: n and numHashes pin the
    * signature function, bands the key geometry, keyBuckets the partition
    * layout. A probe with mismatched parameters would silently miss every
    * collision; reading them from the index makes that unrepresentable.
    */
  final case class SignatureIndexMeta(n: Int, numHashes: Int, bands: Int, keyBuckets: Int)

  private def metaPath(path: String) = s"$path/_graft_index_meta"

  /** Read back the [[SignatureIndexMeta]] of a persisted index. */
  def readSignatureIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String): SignatureIndexMeta = {
    // Driver-side single-row read (IndexStore.readTinyMetaRows): the
    // spark.read + head form cost a schema-inference job plus a head job
    // per call — per probe, per append, per compact.
    val r = IndexStore.readTinyMetaRow(spark, metaPath(IndexStore.dataDir(spark, path)))
    SignatureIndexMeta(r("n").asInstanceOf[Int], r("numHashes").asInstanceOf[Int],
      r("bands").asInstanceOf[Int], r("keyBuckets").asInstanceOf[Int])
  }

  /** Persist a [[buildSignatureIndex]] frame in its banded serving form:
    * parquet rows `(band, key, doc_id, sig)` PARTITIONED BY
    * `bucket = pmod(xxhash64(band, key), keyBuckets)`. A probe computes its
    * batch's buckets from the same formula and reads ONLY the colliding
    * partition directories — at 10⁹ indexed docs a single-doc probe touches
    * ≤ `bands` of `keyBuckets` partitions instead of rescanning the index
    * (the [[matchVsPersistedIndex]] / serving-path contract; spec-pinned by
    * PlanAuditSpec's partition-count assertion).
    *
    * Storage: the signature is stored once per band (×bands vs the compact
    * index), the price of a join-free single-scan probe; band keys are
    * low-entropy strings that parquet dictionary-encodes away. `append`
    * adds an increment's survivors to an EXISTING index (same meta
    * enforced) — the nightly-ingest write-back shape; nothing is rewritten.
    */
  def persistSignatureIndex(
      index: DataFrame,
      path: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      keyBuckets: Int = 64,
      append: Boolean = false
  ): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = index.sparkSession
    import spark.implicits._
    val banded = IndexStore.Relation("", "bucket",
      bandedSignatures(index, numHashes, bands).withColumn("bucket", bandBucket(keyBuckets)))
    if (append)
      IndexStore.append(spark, path) { _ =>
        val m = readSignatureIndexMeta(spark, path)
        require(m == SignatureIndexMeta(n, numHashes, bands, keyBuckets),
          s"persistSignatureIndex(append): parameters $n/$numHashes/$bands/$keyBuckets do not match the existing index $m")
        Seq(banded)
      }
    else
      IndexStore.build(spark, path, Seq(banded, IndexStore.Relation.flat("_graft_index_meta",
        Seq((n, numHashes, bands, keyBuckets)).toDF("n", "numHashes", "bands", "keyBuckets").coalesce(1))))
  }

  /** [[persistSignatureIndex]]'s append for STREAMING bodies: the batch
    * lands under deterministic (streamId, batchId)-derived file names
    * via [[graft.operators.IndexStore.appendExactlyOnce]], so a
    * foreachBatch retry — at ANY crash point, including between the data
    * commit and the batch-token create — converges to exactly one copy
    * of the batch's band rows. A batch the index's ledger already records
    * (its token, which a compaction that folded it creates, or the
    * stream's high-water mark — [[IndexStore.batchCommitted]]) is
    * skipped. Same meta contract as the plain append.
    */
  def appendToSignatureIndexExactlyOnce(
      index: DataFrame,
      path: String,
      streamId: String,
      batchId: Long
  ): Unit =
    IndexStore.appendExactlyOnce(index.sparkSession, path, streamId, batchId) { _ =>
      val m = readSignatureIndexMeta(index.sparkSession, path)
      Seq(IndexStore.Relation("", "bucket",
        bandedSignatures(index, m.numHashes, m.bands).withColumn("bucket", bandBucket(m.keyBuckets))))
    }

  /** LOGICAL deletes for a persisted index of ANY family (signature,
    * fingerprint, Jaccard, IVF, BM25) — the right-to-be-forgotten
    * lifecycle a long-lived index needs. A doc's signature lives in EVERY
    * band row, i.e. spread across ALL bucket partitions (and a BM25 doc
    * across all its terms' buckets), so an eager delete would rewrite the
    * whole index; instead the ids append to the index's tombstone set
    * ([[IndexStore.appendTombstones]]) and every read path anti-joins the
    * broadcast-small set. Delete cost: O(|deleted ids|), zero index
    * partitions touched. A compaction rewrites the partitions holding
    * deleted rows and drops the set; a rebuild (overwrite persist) drops
    * it too.
    */
  def deleteFromPersistedIndex(ids: DataFrame, idCol: String, path: String): Unit =
    IndexStore.appendTombstones(ids, idCol, path)

  /** The index's tombstoned ids (`doc_id`), if any were ever deleted. */
  def indexTombstones(spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    IndexStore.tombstones(spark, IndexStore.dataDir(spark, path))

  /** COMPACT a persisted signature index: rewrite the banded rows minus
    * the tombstoned docs, fold every touched partition's append segments
    * into one file, and drop the tombstone set — completing the
    * build → append/delete → compact lifecycle. Probe results afterwards
    * are EXACTLY a fresh [[persistSignatureIndex]] of the surviving docs
    * (same meta, same bucket formula; the rewrite only removes masked
    * rows, so [[matchVsPersistedIndex]]'s pruning contract is unchanged),
    * but a probe no longer pays the anti-join or the multi-segment scans.
    *
    * `selective = true` (the default) rewrites ONLY DIRTY partitions —
    * those with append segments or at least one tombstoned row, found by
    * one directory listing plus one column-pruned (bucket, doc_id) scan —
    * and carries clean partitions into the new generation by MANIFEST
    * REFERENCE (one line each, zero bytes on any filesystem):
    * purging 0.1% of a 10⁹-doc index costs the dirty 0.1%, not a
    * full-corpus rewrite. When ≥80% of partitions are dirty the full
    * rewrite is cheaper and runs instead. Either way the result installs
    * as a NEW GENERATION behind an atomic pointer flip
    * ([[IndexStore.compact]]): concurrent probes resolve a
    * complete generation at every instant — no absence window, no mixed
    * state, crash-safe at every point — and writers serialize on the
    * index lease.
    */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L
  ): Unit =
    compactBandedBucketIndex(spark, path, selective, keepGens, minRetentionMs)

  /** [[compactSignatureIndex]] for the fingerprint index — identical
    * mechanics (same banded bucket layout, same tombstone contract, same
    * `_graft_fp_meta` carried through the swap).
    */
  def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L
  ): Unit =
    compactBandedBucketIndex(spark, path, selective, keepGens, minRetentionMs)

  /** Shared selective compactor of the two banded `bucket`-partitioned
    * families (signature, fingerprint): see [[compactSignatureIndex]].
    */
  private def compactBandedBucketIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean,
      keepGens: Int,
      minRetentionMs: Long
  ): Unit =
    IndexStore.compact(spark, path, keepGens, minRetentionMs) {
      _.rewrite("", "bucket", selective, idCol = Some("doc_id"))
    }

  /** Compact a persisted Jaccard prefix index: both data relations
    * (`postings`, `fullsets`) are rewritten minus the tombstoned docs
    * with their append segments folded, then the tombstone set is
    * dropped. By default the FROZEN element-frequency dictionary is
    * untouched — the pigeonhole prefix guarantee holds for ANY fixed
    * total order, so probes after compaction return exactly the pairs a
    * fresh build on the surviving docs would (the exact threshold test
    * is order-independent; only prefix selectivity could differ, never
    * the result set).
    *
    * `refresh` REFRESHES that frozen order while the rewrite is being
    * paid for anyway ([[RefreshMode]] — the
    * [[Similarity.compactIvfIndex]] retrain-on-compact argument):
    * `Always` recomputes frequencies from the survivors and re-derives
    * every prefix; `Auto` measures [[jaccardDictDrift]] first and
    * refreshes only past its threshold, so the periodic maintenance
    * sweep restores prefix selectivity exactly when drifted appends
    * have degraded it. Either way the result set is unchanged (gates
    * share the frozen-order oracle); only probe COST moves.
    *
    * `selective = true` rewrites only DIRTY partitions of each relation
    * and manifest-carries the rest ([[compactSignatureIndex]]'s cost
    * model). Dirtiness: `postings` needs the column-pruned
    * (bucket, doc_id) scan (a doc's prefix elements hash anywhere), but
    * `fullsets` is partitioned by `dbucket = pmod(xxhash64(doc_id),
    * docBuckets)` — ID-derived, so its tombstone-touched partitions
    * compute from the tombstone set alone, no scan at all. Both
    * relations land in ONE new generation behind ONE atomic pointer flip
    * ([[IndexStore.compact]]), so a concurrent probe can never
    * see compacted postings against un-compacted fullsets — the
    * per-relation in-place rewrite this replaces had exactly that
    * window (tombstone-masked, so correct, but now impossible by
    * construction, and the index path is never absent mid-swap).
    */
  def compactJaccardIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L,
      refresh: RefreshMode = RefreshMode.Never
  ): Unit =
    IndexStore.compact(spark, path, keepGens, minRetentionMs) { c =>
      val live = c.live
      val (tmI, keyBuckets, docBuckets) = readJaccardIndexMetaAt(spark, live)
      // `fullsets` is partitioned by `dbucket = pmod(xxhash64(doc_id),
      // docBuckets)`: its tombstoned partitions follow from the ids alone.
      def rewriteFullsets(): Unit =
        c.rewrite("fullsets", "dbucket", selective, idCol = Some("doc_id"),
          partOfId = Some(id => pmod(xxhash64(id), lit(docBuckets.toLong)).cast("int")))
      val fracOpt = readExciseFracAt(spark, live)
      val doRefresh = refresh match {
        case RefreshMode.Never  => false
        case RefreshMode.Always => true
        case RefreshMode.Auto(maxDrift) =>
          // Two frozen artifacts, one trigger: the (dfreq, tok) ORDER
          // (dictionary drift) and — for excised indexes — the hot SET
          // (mass in tokens that crossed the cutoff since the build).
          // Either decaying past the threshold fires the refresh; the
          // fired rewrite cures both in the same pass.
          val drift = jaccardDictDriftAt(spark, live)
          val hotD  = if (fracOpt.isDefined) jaccardHotDriftAt(spark, live) else 0.0
          val fire  = drift > maxDrift || hotD > maxDrift
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"compactJaccardIndex($path): dictionary drift ${f"$drift%.3f"}, hot-set drift " +
              f"$hotD%.3f vs threshold $maxDrift — " +
              (if (fire) "REFRESHING (full prefix re-derivation)" else "carrying frozen order"))
          fire
      }
      // The two relations (and the refresh path's frozen artifacts) land in
      // DISJOINT staged directories, so their rewrites overlap
      // ([[IndexStore.inParallel]] — the enclosing compaction's lease is
      // shared with the worker threads): compact wall ≈ max(postings,
      // fullsets) instead of their sum.
      if (doRefresh) {
        // Fresh frequencies from the survivors' FULL sets, prefixes
        // re-derived under the new (dfreq, tok) order — a changed order
        // moves prefix membership, so postings rewrite entirely; the
        // replacement dictionary installs in the SAME atomic generation
        // (a probe never ranks by one order against the other's
        // postings).
        val liveToks0 = Lineage.truncate(IndexStore.minusTombstoned(
          IndexStore.readRel(spark, live, "fullsets", "dbucket", c.manifest), "doc_id", live).select("doc_id", "tok"))
        // Excised index: re-evaluate HOTNESS against the live corpus
        // under the build's frozen fraction — boilerplate that arrived
        // after the build excises now, riding the rewrite being paid
        // for anyway (the retrain-on-compact argument applied to the
        // hot set). Monotone: the updated frozen set is old ∪ new.
        val newHot = fracOpt.flatMap { frac =>
          val n = liveToks0.select("doc_id").distinct().count()
          if (n == 0L) None
          else {
            val cutoff = math.max(1L, math.floor(frac * n).toLong)
            val h = Lineage.truncate(
              liveToks0.groupBy("tok").agg(count(lit(1)).as("dfreq"))
                .where(col("dfreq") > cutoff).select("tok"))
            if (h.isEmpty) None else Some(h)
          }
        }
        val liveToks = newHot match {
          case Some(h) =>
            Lineage.truncate(liveToks0.join(
              org.apache.spark.sql.functions.broadcast(h), Seq("tok"), "left_anti"))
          case None => liveToks0
        }
        val freshDict = Lineage.truncate(
          liveToks.groupBy("tok").agg(count(lit(1)).as("dfreq")))
        // liveToks/freshDict are checkpointed above, so the two staged
        // writes below read shared materialized inputs — independent.
        IndexStore.inParallel(
          () => c.write(
            IndexStore.Relation("postings", "bucket", jaccardPrefix(liveToks, freshDict, tmI.toLong)
              .withColumn("bucket", pmod(xxhash64(col("tok")), lit(keyBuckets.toLong)).cast("int"))),
            IndexStore.Relation.flat("_graft_jidx_dict", freshDict)), // wins over meta carry
          () => newHot match {
            case Some(h) =>
              // Newly-hot tokens must leave the FULL SETS too (sizes and
              // intersections live in the shared excised universe), so
              // the selective cost model escalates to a full fullsets
              // rewrite and the UPDATED frozen hot set installs in the
              // same atomic generation — a probe never excises by one set
              // against the other's relations.
              val oldHot = readJaccardHot(spark, live).fold(h.limit(0))(_.select("tok"))
              c.write(
                IndexStore.Relation.flat("_graft_jidx_hot", oldHot.unionByName(h).distinct()), // wins over meta carry
                IndexStore.Relation("fullsets", "dbucket", liveToks
                  .withColumn("dbucket", pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)).cast("int"))))
            case None =>
              // `fullsets` content is order-independent: without a hot-set
              // update its rewrite keeps the selective dirty-partition
              // cost model even when the order refreshed.
              rewriteFullsets()
          })
      } else
        IndexStore.inParallel(
          () => c.rewrite("postings", "bucket", selective, idCol = Some("doc_id")),
          () => rewriteFullsets())
    }

  /** Reload the COMPACT `(doc_id, sig)` index from a persisted banded one
    * (each doc stores its full signature in every band row — band 0 alone
    * recovers the exact [[buildSignatureIndex]] frame), minus any
    * tombstoned docs. The nightly-batch re-entry point: feed to
    * [[incrementalDedup]].
    */
  def loadSignatureIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val dd = IndexStore.dataDir(spark, path) // resolve once — never mixes generations
    IndexStore.minusTombstoned(
      IndexStore.readRel(spark, dd, "", "bucket").where(col("band") === 0).select("doc_id", "sig"),
      "doc_id", dd)
  }

  /** Match a new batch against a PERSISTED banded index, reading only the
    * partitions the batch's own band keys hash to — the serving probe of a
    * 100-TB incremental dedup. Build/serve parameters come from the index's
    * stored meta. The batch's distinct buckets (≤ min(batch×bands,
    * keyBuckets) values) are collected driver-side and pushed as a
    * partition-column `isin` filter, which prunes at PLANNING time: a
    * single-doc micro-batch scans ≤ bands/keyBuckets of the index, not all
    * of it. Within the pruned scan the probe is one equi-join on
    * (bucket, band, key) — the batch side is micro-batch-small, so AQE
    * broadcasts it — then the exact k/numHashes estimate, pair-deduped.
    * Same result set as [[incrementalDedup]]'s matchedVsIndex over the
    * equivalent compact index (gate `q_dedup_index_serve` shares
    * `q_dedup_incremental_matches`' oracle verbatim).
    */
  def matchVsPersistedIndex(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      estThreshold: Double = 0.8
  ): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val dd = IndexStore.dataDir(spark, indexPath) // resolve once per probe
    val m  = readSignatureIndexMeta(spark, dd)
    val nbd = Lineage.truncate(
      bandedSignatures(
        buildSignatureIndex(newDocs, textCol, idCol, m.n, m.numHashes), m.numHashes, m.bands)
        .withColumn("bucket", bandBucket(m.keyBuckets))
        .select(col("doc_id").as("nid"), col("sig").as("nsig"), col("bucket"), col("band"), col("key")))
    val touched = nbd.select("bucket").distinct().as[Int].collect().sorted
    val empty = spark.emptyDataset[(Long, Long, Double)].toDF("doc_id", "matched_id", "est_jaccard")
    if (touched.isEmpty) empty
    else {
      val idx = IndexStore.minusTombstoned(
        IndexStore.readRel(spark, dd, "", "bucket")
          .where(col("bucket").isin(touched.map(b => b: Any): _*))
          .select(col("doc_id").as("oid"), col("sig").as("osig"), col("bucket"), col("band"), col("key")),
        "oid", dd)
      val estU = udf { (a: Seq[Long], b: Seq[Long]) => estimateJaccard(a.toArray, b.toArray) }
      nbd.join(idx, Seq("bucket", "band", "key"))
        // A pair colliding in k bands appears k times with identical sigs —
        // dedup BEFORE the estimate so the verify kernel runs once per pair.
        .select("nid", "oid", "nsig", "osig").distinct()
        .withColumn("est_jaccard", estU(col("nsig"), col("osig")))
        .where(col("est_jaccard") >= estThreshold)
        .select(col("nid").as("doc_id"), col("oid").as("matched_id"), col("est_jaccard"))
    }
  }

  /** Whitespace tokens with empties dropped (shared with [[TextAnalysis]]). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Distinct space-joined word n-grams — the set elements for
    * [[jaccardJoinExact]] on natural text. The n-gram order sizes the
    * element space: single words saturate on a small vocabulary (31
    * distinct words make every pair of long docs near-identical at the
    * set level) and saturated spaces are prefix filtering's worst case
    * (every element is common, postings are long); n = 3 over the same
    * vocabulary yields ~30k distinct elements and ~10-row postings.
    * Prefer the largest n that still tolerates the edit distance you
    * consider "near" — each single-word edit destroys n n-grams.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    // Tight UDF, not transform/element_at over tokens(text): Catalyst
    // inlines the split() alias into EVERY element access, re-tokenizing
    // the document O(len·n) times (measured 23 s for 5k docs vs sub-second
    // here — same pathology [[hashedShingles]] documents). The UDF splits
    // once and emits first-occurrence-ordered distinct n-grams, matching
    // array_distinct semantics.
    val u = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val tk = t.split("\\s+").filterNot(_.isEmpty)
        if (tk.length < n) Array.empty[String]
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          var i = 0
          while (i + n <= tk.length) {
            val sb = new java.lang.StringBuilder(tk(i))
            var k = 1
            while (k < n) { sb.append(' ').append(tk(i + k)); k += 1 }
            seen += sb.toString
            i += 1
          }
          seen.toArray
        }
      }
    }
    u(text)
  }

  /** [[wordNgrams]] at n = 2. */
  def wordBigrams(text: Column): Column = wordNgrams(text, 2)

  /** EXACT-threshold set-similarity self-join with prefix filtering — the
    * deterministic complement to [[minHashLshPairs]]: every pair with
    * set-Jaccard ≥ threshold, no probabilistic recall loss, still
    * sub-quadratic. The classic AllPairs/PPJoin shape (Bayardo et al.
    * WWW'07; Xiao et al. WWW'08), re-expressed declaratively:
    *
    *  1. elements ranked GLOBALLY by ascending document frequency (rarest
    *     first, ties by value) — one groupBy + one window;
    *  2. each doc keeps only its PREFIX, the first |A| − ⌈t·|A|⌉ + 1
    *     elements in that order. Pigeonhole: two docs with Jaccard ≥ t
    *     overlap in ≥ ⌈t·max(|A|,|B|)⌉ elements, so their prefixes must
    *     share one — joining prefixes on the element loses NO qualifying
    *     pair;
    *  3. candidates = prefix ⋈ prefix on the element (+ the size filter
    *     t·|A| ≤ |B| ∧ t·|B| ≤ |A| pushed into the join), distinct-ed;
    *  4. exact verify: candidates re-join the full element sets and count
    *     the true intersection; the keep test is integer-exact —
    *     O·(1000+t_milli) ≥ t_milli·(|A|+|B|)  ⟺  O/(|A|+|B|−O) ≥ t.
    *
    * 100 TB shape: the frequency ordering is the skew defense — prefix
    * elements are by construction the RAREST in the corpus, so the
    * inverted-index join has short postings and no hot keys (the "spark
    * says"-type stopword that would explode a naive token join is ranked
    * last and never enters a prefix unless the doc is almost all
    * stopwords). Verification cost is |candidates| × avg-set-size, the
    * quantity prefix filtering exists to minimize. Three keyed shuffles
    * (doc, element, doc) + the candidate join; no driver materialization.
    *
    * `setCol` is an array column of set elements (dedup'd here — multiset
    * inputs are legal); pair it with [[wordBigrams]] for text. Returns
    * (doc_a, doc_b, inter, size_a, size_b, jaccard_milli), doc_a < doc_b,
    * jaccard_milli = ⌊1000·O/|A∪B|⌋.
    */
  def jaccardJoinExact(
      df: DataFrame,
      setCol: String,
      idCol: String,
      thresholdMilli: Int
  ): DataFrame = {
    require(thresholdMilli > 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in (0, 1000], got $thresholdMilli")
    import org.apache.spark.sql.expressions.Window
    val tm = thresholdMilli.toLong
    val tok = df
      .select(col(idCol).cast("long").as("doc_id"), explode(col(setCol)).as("tok"))
      .distinct()
    val sized = tok.withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val ranked = sized
      .join(dfreq, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dfreq"), col("tok"))))
    // Prefix length |A| − ⌈t·|A|⌉ + 1, all-integer: ⌈t_milli·sz/1000⌉.
    val prefix = Lineage.truncate(
      ranked.where(col("rn") <= col("sz") - expr(s"(sz * $tm + 999) div 1000") + 1)
        .select("doc_id", "tok", "sz"))
    val cand = prefix.toDF("doc_a", "tok", "size_a")
      .join(prefix.toDF("doc_b", "tok", "size_b"), Seq("tok"))
      .where(col("doc_a") < col("doc_b") &&
        col("size_a") * 1000L >= col("size_b") * tm &&
        col("size_b") * 1000L >= col("size_a") * tm)
      .select("doc_a", "doc_b", "size_a", "size_b")
      .distinct()
    val inter = cand
      .join(tok.toDF("doc_a", "tok"), Seq("doc_a"))
      .join(tok.toDF("doc_b", "tok"), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .where(col("inter") * (1000L + tm) >= lit(tm) * (col("size_a") + col("size_b")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"), col("size_b"),
        expr("(1000 * inter) div (size_a + size_b - inter)").as("jaccard_milli"))
  }

  /** [[jaccardJoinExact]]'s SERVING form: persist the prefix-filter state
    * so new batches probe without rescanning (or re-ranking) the corpus.
    * Three parts under `path`:
    *
    *  - `postings/` — the indexed docs' PREFIX elements `(tok, doc_id,
    *    sz)`, partitioned by `bucket = pmod(xxhash64(tok), keyBuckets)`:
    *    a probe reads only the partitions its own prefix elements hash to;
    *  - `fullsets/` — every indexed doc's FULL element set, partitioned by
    *    `dbucket = pmod(xxhash64(doc_id), docBuckets)`: exact verification
    *    reads only the candidate docs' partitions;
    *  - `_graft_jidx_dict` — the element→document-frequency table FROZEN
    *    at build time. The pigeonhole guarantee needs both sides' prefixes
    *    under ONE total order; probes rank their elements by the frozen
    *    (dfreq, tok) order, with unseen elements at dfreq 0 (they cannot
    *    collide with any indexed doc, and the lemma is purely positional,
    *    so any consistent order is CORRECT — df-order is the performance
    *    heuristic that keeps postings short).
    *
    * `append` adds docs under the frozen order (correct for any fixed
    * order; selectivity drifts as true frequencies diverge — rebuild to
    * refresh). Tombstones are shared with the other persisted indexes
    * ([[deleteFromPersistedIndex]]).
    *
    * `exciseBoilerplateFrac` composes BOILERPLATE EXCISION ahead of the
    * index (the [[ngramJaccardPairs]] pre-pass, persisted): at build,
    * elements in more than `max(1, ⌊frac·N⌋)` documents are dropped from
    * every set BEFORE sizes, prefixes, postings, and fullsets derive —
    * and the hot set freezes beside the dictionary
    * (`_graft_jidx_hot`), so probes and appends excise by EXACTLY the
    * same set (pigeonhole stays sound: both sides' prefixes derive from
    * the same excised universe under the same threshold). A shared
    * header/footer in 25% of the corpus then contributes NOTHING to
    * candidate generation or verification — the refresh ladder showed
    * order refresh alone restores selectivity but not absolute candidate
    * mass; excision is what collapses the mass. Semantics become
    * "similar modulo boilerplate" (documents whose whole set is
    * boilerplate drop — they pair with nothing); on a corpus with no
    * element above the cutoff the index is byte-identical to the
    * default. Like the dictionary, the hot set is frozen at build:
    * appends and dictionary refreshes keep it (drift in what is "hot"
    * is a rebuild concern, measured by the same drift meter).
    */
  def persistJaccardIndex(
      df: DataFrame,
      setCol: String,
      idCol: String,
      path: String,
      thresholdMilli: Int,
      keyBuckets: Int = 64,
      docBuckets: Int = 64,
      append: Boolean = false,
      exciseBoilerplateFrac: Option[Double] = None
  ): Unit = {
    require(thresholdMilli > 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in (0, 1000], got $thresholdMilli")
    exciseBoilerplateFrac.foreach(f => require(f > 0.0 && f <= 1.0,
      s"exciseBoilerplateFrac must be in (0, 1], got $f"))
    val spark = df.sparkSession
    import spark.implicits._
    val tok0 = df
      .select(col(idCol).cast("long").as("doc_id"), explode(col(setCol)).as("tok"))
      .distinct()
    def minusHot(t: DataFrame, hot: DataFrame): DataFrame =
      t.join(org.apache.spark.sql.functions.broadcast(hot.select("tok")), Seq("tok"), "left_anti")
    // postings and fullsets of the docs' (excised) elements `tok`, prefixes
    // ranked by `dict`.
    def relations(tok: DataFrame, dict: DataFrame): Seq[IndexStore.Relation] = Seq(
      IndexStore.Relation("postings", "bucket", jaccardPrefix(tok, dict, thresholdMilli.toLong)
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(keyBuckets.toLong)).cast("int"))),
      IndexStore.Relation("fullsets", "dbucket", tok
        .withColumn("dbucket", pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)).cast("int"))))
    if (append)
      IndexStore.append(spark, path) { dir =>
        val m = readJaccardIndexMetaAt(spark, dir)
        require(m == (thresholdMilli, keyBuckets, docBuckets),
          s"persistJaccardIndex(append): parameters ($thresholdMilli,$keyBuckets,$docBuckets) do not match the existing index $m")
        // Excise by the FROZEN hot set (same universe as the index).
        val tok = readJaccardHot(spark, dir).fold(tok0)(minusHot(tok0, _))
        relations(tok, readJaccardDict(spark, dir))
      }
    else {
      // Hot set is provably small (≤ avgElemsPerDoc / frac entries — N
      // cancels), so it freezes on the driver: one tiny artifact, and the
      // subtraction broadcasts a local relation. The FRACTION persists
      // beside it (`_graft_jidx_excise`) so a refresh compact can
      // re-evaluate hotness against the live corpus under the same policy
      // ([[jaccardHotDrift]] / [[compactJaccardIndex]]).
      val excision = exciseBoilerplateFrac.map { frac =>
        val n      = tok0.select("doc_id").distinct().count()
        val cutoff = math.max(1L, math.floor(frac * n).toLong)
        val hot    = tok0.groupBy("tok").agg(count(lit(1)).as("dfreq")).where(col("dfreq") > cutoff).select("tok")
        (frac, spark.createDataFrame(hot.collectAsList(), hot.schema))
      }
      val tok  = excision.fold(tok0) { case (_, hot) => minusHot(tok0, hot) }
      val dict = tok.groupBy("tok").agg(count(lit(1)).as("dfreq"))
      IndexStore.build(spark, path, relations(tok, dict) ++ Seq(
        IndexStore.Relation.flat("_graft_jidx_dict", dict),
        IndexStore.Relation.flat("_graft_jidx_meta", Seq((thresholdMilli, keyBuckets, docBuckets))
          .toDF("thresholdMilli", "keyBuckets", "docBuckets").coalesce(1))) ++
        excision.toSeq.flatMap { case (frac, hot) => Seq(
          IndexStore.Relation.flat("_graft_jidx_hot", hot),
          IndexStore.Relation.flat("_graft_jidx_excise", Seq(frac).toDF("frac").coalesce(1))) })
    }
  }

  /** The PPJoin prefix of every doc's element set under `dict`'s
    * (dfreq, tok) total order — the derivation [[persistJaccardIndex]]
    * freezes at build and [[compactJaccardIndex]]'s dictionary refresh
    * re-runs under fresh frequencies. `tok` is the distinct
    * (doc_id, tok) element relation; elements absent from `dict` rank
    * at dfreq 0 (rarest — they cannot collide with any indexed doc).
    */
  private def jaccardPrefix(
      tok: DataFrame, dict: DataFrame, tm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Lineage.truncate(
      tok.withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        .join(dict, Seq("tok"), "left")
        .withColumn("dfreq", coalesce(col("dfreq"), lit(0L)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("dfreq"), col("tok"))))
        .where(col("rn") <= col("sz") - expr(s"(sz * $tm + 999) div 1000") + 1)
        .select("tok", "doc_id", "sz"))
  }

  /** How far the FROZEN df-order dictionary of a persisted Jaccard index
    * has drifted from the live corpus's true document frequencies — the
    * [[Similarity.ivfCellImbalance]] analogue for the prefix index, and
    * what [[RefreshMode.Auto]] evaluates inside
    * [[compactJaccardIndex]].
    *
    * Metric: posting-mass-weighted mean FORWARD percentile displacement.
    * Every token currently sitting in stored prefixes (mass = its
    * posting rows, tombstones masked) contributes
    * `max(0, pct_fresh(tok) − pct_frozen(tok))` — how much of the
    * vocabulary's frequency order the token climbed since its prefix
    * membership was decided. Rare-stayed-rare tokens contribute 0; a
    * once-rare token that appends made common (so its posting list is
    * where candidate fan-out now explodes) contributes its full climb.
    * Range [0, 1]; 0 = order intact. Only the forward direction counts:
    * tokens that became RARER than frozen rank believed make prefixes
    * cheaper, never costlier.
    *
    * Cost: two thin (doc_id, tok) column scans (postings mass, fullsets
    * fresh counts) + percentile CDFs built over the DISTINCT dfreq
    * values (power-law vocabularies collapse to few distinct counts, so
    * the unpartitioned cum-sum window is tiny however large the vocab) —
    * cheap relative to the rewrite a refresh triggers, measurable
    * without compacting for monitoring.
    */
  def jaccardDictDrift(spark: org.apache.spark.sql.SparkSession, path: String): Double =
    jaccardDictDriftAt(spark, IndexStore.dataDir(spark, path))

  private def jaccardDictDriftAt(
      spark: org.apache.spark.sql.SparkSession, dd: String): Double = {
    import org.apache.spark.sql.expressions.Window
    def live(rel: String, partCol: String, man: Option[Seq[IndexStore.ManifestEntry]]): DataFrame =
      IndexStore.minusTombstoned(
        IndexStore.readRel(spark, dd, rel, partCol, man).select("doc_id", "tok"), "doc_id", dd)
    val frozen = readJaccardDict(spark, dd)
    val man = IndexStore.readManifest(spark, dd) // parsed ONCE for both relations
    val fresh = live("fullsets", "dbucket", man).groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val mass = live("postings", "bucket", man).groupBy("tok").agg(count(lit(1)).as("mass"))
    // Percentile of each token in a dict's (dfreq asc) order via the
    // distinct-dfreq CDF: pct = |entries with strictly smaller dfreq| / |vocab|.
    def pct(dict: DataFrame, out: String): DataFrame = {
      val total = dict.count()
      if (total == 0L) return dict.select(col("tok"), lit(0.0).as(out))
      val cum = dict.groupBy("dfreq").agg(count(lit(1)).as("cnt"))
        .withColumn("below", coalesce(
          sum("cnt").over(Window.orderBy("dfreq").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("dfreq", "below")
      dict.join(org.apache.spark.sql.functions.broadcast(cum), Seq("dfreq"))
        .select(col("tok"), (col("below").cast("double") / total.toDouble).as(out))
    }
    val row = mass
      .join(pct(frozen, "pf"), Seq("tok"), "left")
      .join(pct(fresh, "pn"), Seq("tok"), "left")
      .select(col("mass"),
        greatest(lit(0.0), coalesce(col("pn"), lit(0.0)) - coalesce(col("pf"), lit(0.0))).as("d"))
      .agg(sum(col("mass") * col("d")), sum("mass")).head
    if (row.isNullAt(1) || row.getLong(1) == 0L) 0.0
    else row.getDouble(0) / row.getLong(1).toDouble
  }

  /** The excision fraction an index was built with, if any
    * (`_graft_jidx_excise`, frozen at build beside the hot set).
    */
  private def readExciseFracAt(
      spark: org.apache.spark.sql.SparkSession, dd: String): Option[Double] = {
    val p  = new org.apache.hadoop.fs.Path(s"$dd/_graft_jidx_excise")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(IndexStore.readTinyMetaRow(spark, p.toString)("frac").asInstanceOf[Double])
  }

  /** How much of the live corpus's element mass sits in tokens that ARE
    * hot under the index's own excision policy but are NOT in the
    * frozen hot set — the drift meter for the FOURTH frozen artifact
    * (the boilerplate hot set joins the dictionary, the IVF centroids,
    * and the PQ codebooks in the frozen-at-build family, and like them
    * it decays: boilerplate that arrives AFTER the build — a new
    * site template in the daily crawl — is invisible to the frozen
    * set, so its mass re-enters candidate generation and verification).
    *
    * Metric: Σ dfreq over newly-hot tokens / Σ dfreq over all live
    * tokens, computed on the live (already-excised-at-ingest,
    * tombstone-masked) fullsets with the SAME `max(1, ⌊frac·N⌋)`
    * cutoff the build used (frac from `_graft_jidx_excise`, N = live
    * doc count). Range [0, 1]; 0 for indexes without excision. Cost:
    * one thin (doc_id, tok) scan + one aggregation — the
    * [[jaccardDictDrift]] shape.
    *
    * What [[RefreshMode.Auto]] evaluates inside [[compactJaccardIndex]]
    * alongside the dictionary drift: a fired refresh then RE-EVALUATES
    * hotness against the live corpus and excises the newly hot tokens
    * from postings AND fullsets in the same atomic generation
    * (monotone — once-excised tokens stay excised; already-ingested
    * sets cannot get them back).
    */
  def jaccardHotDrift(spark: org.apache.spark.sql.SparkSession, path: String): Double =
    jaccardHotDriftAt(spark, IndexStore.dataDir(spark, path))

  private def jaccardHotDriftAt(
      spark: org.apache.spark.sql.SparkSession, dd: String): Double =
    readExciseFracAt(spark, dd) match {
      case None => 0.0
      case Some(frac) =>
        val live = IndexStore.minusTombstoned(
          IndexStore.readRel(spark, dd, "fullsets", "dbucket").select("doc_id", "tok"), "doc_id", dd)
        val n = live.select("doc_id").distinct().count()
        if (n == 0L) return 0.0
        val cutoff = math.max(1L, math.floor(frac * n).toLong)
        val row = live.groupBy("tok").agg(count(lit(1)).as("dfreq"))
          .agg(
            sum(when(col("dfreq") > cutoff, col("dfreq")).otherwise(lit(0L))),
            sum(col("dfreq"))).head
        if (row.isNullAt(1) || row.getLong(1) == 0L) 0.0
        else (if (row.isNullAt(0)) 0L else row.getLong(0)).toDouble / row.getLong(1).toDouble
    }

  /** When should a compaction REFRESH the index's frozen statistics —
    * the [[Similarity.RetrainMode]] pattern applied to the Jaccard
    * prefix dictionary. Correctness never needs a refresh (the
    * pigeonhole lemma holds for any fixed total order); prefix
    * SELECTIVITY does: appends under a drifted order leave once-rare,
    * now-common elements in prefixes, whose posting lists are exactly
    * where candidate fan-out grows.
    */
  sealed trait RefreshMode
  object RefreshMode {
    /** Carry the frozen dictionary; compact selectively (default). */
    case object Never extends RefreshMode
    /** Recompute frequencies from the survivors and re-derive every
      * prefix under the new order (full postings rewrite).
      */
    case object Always extends RefreshMode
    /** Measure [[jaccardDictDrift]] and refresh only above `maxDrift`.
      * The default 0.2 means: prefixes' posting mass climbed ≥ 20% of
      * the vocabulary order on average — well past tombstone jitter
      * (∼0) and same-distribution growth (ranks stable under uniform
      * scaling), well before the hostile regimes where probe cost
      * visibly degrades.
      */
    final case class Auto(maxDrift: Double = 0.2) extends RefreshMode
  }

  private def readJaccardIndexMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int) =
    readJaccardIndexMetaAt(spark, IndexStore.dataDir(spark, path))

  /** Meta read against an already-resolved data dir (see [[IndexStore.tombstones]]). */
  private def readJaccardIndexMetaAt(
      spark: org.apache.spark.sql.SparkSession, dataDir: String): (Int, Int, Int) = {
    val r = IndexStore.readTinyMetaRow(spark, s"$dataDir/_graft_jidx_meta")
    (r("thresholdMilli").asInstanceOf[Int], r("keyBuckets").asInstanceOf[Int],
      r("docBuckets").asInstanceOf[Int])
  }

  /** The frozen Jaccard artifacts of the data dir `dd`, each read with its
    * OWN footer-derived schema ([[IndexStore.readArtifact]]): `tok` is
    * whatever element type the build's set column had (strings and long
    * hashed shingles are both idiomatic), so a hardcoded `tok STRING` DDL
    * would fail the read on a non-string index with a parquet conversion
    * error. The hot set exists only for an excised build; every index
    * carries the dictionary.
    */
  private def readJaccardHot(spark: org.apache.spark.sql.SparkSession, dd: String): Option[DataFrame] =
    IndexStore.readArtifact(spark, s"$dd/_graft_jidx_hot")

  private def readJaccardDict(spark: org.apache.spark.sql.SparkSession, dd: String): DataFrame =
    IndexStore.readArtifact(spark, s"$dd/_graft_jidx_dict").getOrElse(
      throw new IllegalStateException(s"no data file under the frozen Jaccard dictionary $dd/_graft_jidx_dict"))

  /** Probe a [[persistJaccardIndex]] with a new batch: every (new, indexed)
    * pair with set-Jaccard ≥ the index's threshold, exactly. Two pruned
    * reads — the batch's prefix elements select their postings partitions,
    * then the surviving candidates' doc ids select their fullsets
    * partitions — so a single-doc probe touches a few partitions of each,
    * never the corpus. Honors tombstones. Returns (doc_id, matched_id,
    * inter, size_a, size_b, jaccard_milli); `doc_id` is the probe's.
    */
  /** The probe's CANDIDATE stage against a RESOLVED index generation:
    * (excised probe element relation, candidate pairs, thresholdMilli,
    * docBuckets) — shared by [[matchVsJaccardIndex]] and the
    * candidate-mass instrument ([[jaccardProbeCandidateCount]]), so the
    * soak meters exactly the pairs the serve path verifies.
    */
  private def jaccardProbeCandStage(
      newDf: DataFrame, setCol: String, idCol: String, dd: String,
      man: Option[Seq[IndexStore.ManifestEntry]]):
      (DataFrame, Option[DataFrame], Long, Int) = {
    import org.apache.spark.sql.expressions.Window
    val spark = newDf.sparkSession
    import spark.implicits._
    val (tmI, keyBuckets, docBuckets) = readJaccardIndexMetaAt(spark, dd)
    val tm = tmI.toLong
    val dict = readJaccardDict(spark, dd)
    // Excise by the index's FROZEN hot set when one exists
    // ([[persistJaccardIndex]]'s exciseBoilerplateFrac): probe sets must
    // live in the same excised universe as the indexed sets — sizes,
    // prefixes, and intersections all derive post-excision, so the
    // pigeonhole prefix guarantee and the exact threshold test stay
    // sound under the shared semantics ("similar modulo boilerplate").
    val ntok0 = newDf.select(col(idCol).cast("long").as("nid"), explode(col(setCol)).as("tok")).distinct()
    val ntok = Lineage.truncate(readJaccardHot(spark, dd).fold(ntok0)(hot =>
      ntok0.join(org.apache.spark.sql.functions.broadcast(hot.select("tok")), Seq("tok"), "left_anti")))
    val nprefix = Lineage.truncate(
      ntok.withColumn("sa", count(lit(1)).over(Window.partitionBy("nid")))
        .join(dict, Seq("tok"), "left")
        .withColumn("dfreq", coalesce(col("dfreq"), lit(0L)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("nid").orderBy(col("dfreq"), col("tok"))))
        .where(col("rn") <= col("sa") - expr(s"(sa * $tm + 999) div 1000") + 1)
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(keyBuckets.toLong)).cast("int"))
        .select("bucket", "tok", "nid", "sa"))
    val touched = nprefix.select("bucket").distinct().as[Int].collect().sorted
    if (touched.isEmpty) return (ntok, None, tm, docBuckets)
    val postings = IndexStore.minusTombstoned(
      IndexStore.readRel(spark, dd, "postings", "bucket", man)
        .where(col("bucket").isin(touched.map(b => b: Any): _*))
        .select(col("bucket"), col("tok"), col("doc_id").as("oid"), col("sz").as("sb")),
      "oid", dd)
    // Lazy on purpose: the candidate join is evaluated twice (once
    // projected to candidate doc buckets, once in the verify pipeline) —
    // both evaluations read only the PRUNED postings partitions, and a
    // truncating checkpoint here would hide the pruned scan from the
    // executed plan (the thing PlanAuditSpec pins). Micro-batch probes
    // make the recompute cheap; the alternative (one materialization)
    // trades a tiny re-read for opaque provenance.
    val cand = nprefix.join(postings, Seq("bucket", "tok"))
      .where(col("sa") * 1000L >= col("sb") * tm && col("sb") * 1000L >= col("sa") * tm)
      .select("nid", "oid", "sa", "sb")
      .distinct()
    (ntok, Some(cand), tm, docBuckets)
  }

  /** CANDIDATE MASS of a probe batch against a persisted Jaccard index —
    * the pre-verification pair count prefix selectivity is ABOUT
    * (the [[graft.tools.JaccardDriftSoak]] instrument; excision and
    * dictionary refresh both exist to move this number, never the
    * result set beyond their stated semantics).
    */
  private[graft] def jaccardProbeCandidateCount(
      newDf: DataFrame, setCol: String, idCol: String, indexPath: String): Long = {
    val dd = IndexStore.dataDir(newDf.sparkSession, indexPath)
    jaccardProbeCandStage(newDf, setCol, idCol, dd,
      IndexStore.readManifest(newDf.sparkSession, dd))._2.map(_.count()).getOrElse(0L)
  }

  def matchVsJaccardIndex(
      newDf: DataFrame,
      setCol: String,
      idCol: String,
      indexPath: String
  ): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val dd = IndexStore.dataDir(spark, indexPath) // resolve once per probe
    // Manifest parsed ONCE for the probe's two pruned relation reads
    // (postings here, fullsets below) — probes run per micro-batch, and
    // the convenience-form readRel re-parsed it per relation.
    val man = IndexStore.readManifest(spark, dd)
    val (ntok, candOpt, tm, docBuckets) = jaccardProbeCandStage(newDf, setCol, idCol, dd, man)
    val empty = spark.emptyDataset[(Long, Long, Long, Long, Long, Long)]
      .toDF("doc_id", "matched_id", "inter", "size_a", "size_b", "jaccard_milli")
    if (candOpt.isEmpty) return empty
    val cand = candOpt.get
    val candBuckets = cand
      .select(pmod(xxhash64(col("oid")), lit(docBuckets.toLong)).cast("int").as("dbucket"))
      .distinct().as[Int].collect().sorted
    if (candBuckets.isEmpty) return empty
    val fullsets = IndexStore.readRel(spark, dd, "fullsets", "dbucket", man)
      .where(col("dbucket").isin(candBuckets.map(b => b: Any): _*))
      .select(col("doc_id").as("oid"), col("tok"))
    cand
      .join(ntok, Seq("nid"))
      .join(fullsets, Seq("oid", "tok"))
      .groupBy("nid", "oid", "sa", "sb")
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") * (1000L + tm) >= lit(tm) * (col("sa") + col("sb")))
      .select(col("nid").as("doc_id"), col("oid").as("matched_id"), col("inter"),
        col("sa").as("size_a"), col("sb").as("size_b"),
        expr("(1000 * inter) div (sa + sb - inter)").as("jaccard_milli"))
  }

  /** 32-bit SimHash: bit j set iff Σ over tokens of ±1 (sign of token-hash
    * bit j) is positive. Token multiplicity acts as the classic weight.
    *
    * Tight UDF kernel (one stableHash + 32 bit-tests per token), NOT
    * Catalyst higher-order functions: the HOF formulation evaluates
    * interpreted per element (no codegen) — the per-token inner loop is
    * exactly the hot path SCALE.md's doctrine reserves for UDF kernels.
    * Null text → fingerprint 0 (no tokens vote). Mirrored verbatim by the
    * DuckDB oracle's list-comprehension formulation.
    */
  def simHash32(text: Column): Column = {
    val u = udf { (t: String) =>
      val counts = new Array[Int](32)
      if (t != null) {
        val toks = t.split("\\s+")
        var k = 0
        while (k < toks.length) {
          val tok = toks(k)
          if (tok.nonEmpty) {
            val h = graft.functions.Anonymizer.stableHash(tok)
            var j = 0
            while (j < 32) {
              if (((h >>> j) & 1) == 1) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
          k += 1
        }
      }
      var sig = 0L
      var j   = 0
      while (j < 32) { if (counts(j) > 0) sig |= 1L << j; j += 1 }
      sig
    }
    u(text)
  }

  /** Pairs of documents whose SimHash fingerprints differ in ≤ maxHamming
    * bits — all-pairs formulation. O(n²): correctness baseline for small
    * fingerprint frames only; use [[simHashPairsBanded]] at scale.
    */
  def simHashPairs(fingerprints: DataFrame, idCol: String, fpCol: String, maxHamming: Int): DataFrame = {
    val a = fingerprints.select(col(idCol).as("doc_a"), col(fpCol).as("fp_a"))
    val b = fingerprints.select(col(idCol).as("doc_b"), col(fpCol).as("fp_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** [[simHashPairs]] at scale: EXACT same result set, sub-quadratic.
    *
    * Pigeonhole banding: split the 32-bit fingerprint into `maxHamming + 1`
    * contiguous bit-bands — two fingerprints within `maxHamming` bits must
    * agree EXACTLY on at least one band (at most `maxHamming` bands can
    * contain a differing bit). Candidates come from equi-joining on each
    * (band index, band value) bucket — one narrow shuffle, never all-pairs
    * — then `bit_count(xor)` verifies and DISTINCT collapses multi-band
    * collisions. Completeness is a theorem, not a heuristic, so this is a
    * drop-in replacement wherever the fingerprint frame outgrows a join.
    */
  def simHashPairsBanded(
      fingerprints: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      fpBits: Int = 32
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < fpBits, "need 0 <= maxHamming < fpBits")
    // Band b covers bits [floor(b·bits/bands), floor((b+1)·bits/bands)) —
    // an even disjoint cover of all fpBits for any bands ≤ fpBits.
    val banded = fingerprintBands(fingerprints, idCol, fpCol, maxHamming, fpBits)
    val l = banded.toDF("doc_a", "fp_a", "band", "key")
    val r = banded.toDF("doc_b", "fp_b", "band", "key")
    l.join(r, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** The pigeonhole band rows of a fixed-width fingerprint: band b covers
    * bits [⌊b·bits/bands⌋, ⌊(b+1)·bits/bands⌋) with bands = maxHamming+1,
    * so two fingerprints within `maxHamming` MUST agree on ≥ one whole
    * band. Shared by [[simHashPairsBanded]] (all-pairs) and the persisted
    * fingerprint index (serve-time probe).
    */
  private def fingerprintBands(df: DataFrame, idCol: String, fpCol: String, maxHamming: Int, fpBits: Int): DataFrame = {
    val bands = maxHamming + 1
    df.select(
      col(idCol).as("doc_id"),
      col(fpCol).as("fp"),
      explode(array((0 until bands).map { b =>
        val lo    = b * fpBits / bands
        val width = (b + 1) * fpBits / bands - lo
        struct(
          lit(b).as("band"),
          shiftrightunsigned(col(fpCol), lo).bitwiseAND(lit((1L << width) - 1)).as("key")
        )
      }: _*)).as("bk")
    ).select(col("doc_id"), col("fp"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Persist a FINGERPRINT near-dup index (dHash/SimHash — any ≤ 64-bit
    * perceptual or content fingerprint), band-partitioned exactly like the
    * MinHash signature index: rows (doc_id, fp, band, key) bucketed by
    * hash(band, key) so a probe reads only colliding partitions. The
    * image/multimodal member of the incremental-dedup lifecycle family
    * (text = MinHash signatures, embeddings = IVF cells, images = this).
    */
  def persistFingerprintIndex(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      path: String,
      maxHamming: Int,
      fpBits: Int = 63,
      keyBuckets: Int = 64,
      append: Boolean = false
  ): Unit = {
    require(maxHamming >= 0 && maxHamming < fpBits, "need 0 <= maxHamming < fpBits")
    val spark = df.sparkSession
    import spark.implicits._
    val banded = IndexStore.Relation("", "bucket", fingerprintBands(df, idCol, fpCol, maxHamming, fpBits)
      .withColumn("bucket", pmod(xxhash64(col("band"), col("key")), lit(keyBuckets.toLong)).cast("int")))
    if (append)
      IndexStore.append(spark, path) { _ =>
        val m = readFingerprintIndexMeta(spark, path)
        require(m == (maxHamming, fpBits, keyBuckets),
          s"persistFingerprintIndex(append): parameters ($maxHamming,$fpBits,$keyBuckets) do not match the existing index $m")
        Seq(banded)
      }
    else
      IndexStore.build(spark, path, Seq(banded, IndexStore.Relation.flat("_graft_fp_meta",
        Seq((maxHamming, fpBits, keyBuckets)).toDF("maxHamming", "fpBits", "keyBuckets").coalesce(1))))
  }

  private def readFingerprintIndexMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int) = {
    val r = IndexStore.readTinyMetaRow(spark, s"${IndexStore.dataDir(spark, path)}/_graft_fp_meta")
    (r("maxHamming").asInstanceOf[Int], r("fpBits").asInstanceOf[Int],
      r("keyBuckets").asInstanceOf[Int])
  }

  /** Probe a [[persistFingerprintIndex]] with a new batch: the batch's
    * band keys prune to their partitions (planning-time `isin`), the
    * pigeonhole guarantees no ≤ maxHamming pair is missed, and the exact
    * popcount verifies candidates. Honors the index's tombstones
    * ([[deleteFromPersistedIndex]] — same lifecycle).
    * Returns (doc_id, matched_id, hamming).
    */
  def matchVsFingerprintIndex(
      newDf: DataFrame,
      idCol: String,
      fpCol: String,
      indexPath: String
  ): DataFrame = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val dd = IndexStore.dataDir(spark, indexPath) // resolve once per probe
    val (maxHamming, fpBits, keyBuckets) = readFingerprintIndexMeta(spark, dd)
    val nbd = Lineage.truncate(
      fingerprintBands(newDf, idCol, fpCol, maxHamming, fpBits)
        .withColumn("bucket", pmod(xxhash64(col("band"), col("key")), lit(keyBuckets.toLong)).cast("int"))
        .select(col("doc_id").as("nid"), col("fp").as("nfp"), col("bucket"), col("band"), col("key")))
    val touched = nbd.select("bucket").distinct().as[Int].collect().sorted
    val empty = spark.emptyDataset[(Long, Long, Int)].toDF("doc_id", "matched_id", "hamming")
    if (touched.isEmpty) empty
    else {
      val idx = IndexStore.minusTombstoned(
        IndexStore.readRel(spark, dd, "", "bucket")
          .where(col("bucket").isin(touched.map(b => b: Any): _*))
          .select(col("doc_id").as("oid"), col("fp").as("ofp"), col("bucket"), col("band"), col("key")),
        "oid", dd)
      nbd.join(idx, Seq("bucket", "band", "key"))
        .select("nid", "oid", "nfp", "ofp").distinct()
        .withColumn("hamming", bit_count(col("nfp").bitwiseXOR(col("ofp"))))
        .where(col("hamming") <= maxHamming)
        .select(col("nid").as("doc_id"), col("oid").as("matched_id"), col("hamming"))
    }
  }

  /** Brute-force embedding near-duplicate pairs (cosine ≥ threshold).
    *
    * O(n²) correctness baseline, executed as a broadcast-matrix kernel:
    * the corpus (id, unit-norm-free vectors) is broadcast once and each
    * partition scores its rows against it in a primitive-array loop —
    * a BroadcastNestedLoopJoin + per-pair UDF measured ~100× slower from
    * per-call Seq conversions. The distributed side scales with
    * partitioning; the broadcast side is the explicit capacity bound
    * (use [[Similarity.lshBuckets]] when the corpus outgrows a broadcast).
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      guard: Similarity.ExactGuard = Similarity.ExactGuard.MaxWork(1000L * 1000)
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Seq[Float])]
    // Guard on corpus ROWS (not pairs): the broadcast of the full matrix is
    // what breaks first — 10^6 × 64-dim floats ≈ 256 MB. Past the bound the
    // exact baseline refuses and names the LSH twin.
    Similarity.guardWork(guard, src.count(), "embeddingNearDuplicates", "Dedup.embeddingNearDuplicatesLsh")
    val mat = spark.sparkContext.broadcast(
      src.collect().map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    )
    val pairs = src.mapPartitions { rows =>
      val m = mat.value
      rows.flatMap { case (idA, vSeq) =>
        val va = vSeq.toArray
        m.iterator.filter(_._1 > idA).flatMap { case (idB, vb) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          val n = math.min(va.length, vb.length)
          while (i < n) {
            val x = va(i).toDouble; val y = vb(i).toDouble
            dot += x * y; na += x * x; nb += y * y
            i += 1
          }
          val cos = dot / math.sqrt(na * nb)
          if (cos >= threshold) Some((idA, idB, cos)) else None
        }
      }
    }
    pairs
      .toDF("id_a", "id_b", "cosine")
      // round(x, 6) on a DOUBLE so the oracle compare is insensitive to
      // last-ulp float noise. (A narrow DECIMAL lands in parquet as INT32,
      // which the typed-value hasher treats differently than DuckDB's
      // native DECIMAL — DOUBLE is the stable cross-engine form.)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos_r"))
  }

  /** LSH-bucketed embedding near-duplicate pairs — the scale path for
    * [[embeddingNearDuplicates]]: vectors are bucketed by their
    * deterministic random-hyperplane signature ([[Similarity.lshBuckets]]),
    * and only same-bucket pairs are scored. One narrow shuffle on the
    * bucket key, never all-pairs, no broadcast of the corpus — survives any
    * corpus size (recall is tuned by `numPlanes`: more planes → smaller
    * buckets → faster and lower recall; near-duplicates at high cosine
    * agree on almost every hyperplane sign, so recall stays high where it
    * matters). Same output contract as the brute-force baseline.
    */
  def embeddingNearDuplicatesLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 8
  ): DataFrame = {
    val bucketed = Similarity
      .lshBuckets(df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")), "id", "vec", numPlanes)
    val l = bucketed.toDF("id_a", "vec_a", "bucket")
    val r = bucketed.toDF("id_b", "vec_b", "bucket")
    l.join(r, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos_r"))
  }

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023): assign
    * every vector to its nearest pre-trained IVF centroid, find
    * cosine-near-duplicate pairs WITHIN each cell only, cluster them
    * transitively, and keep per cluster the member FARTHEST from its
    * centroid (lowest centroid-cosine; ties → lowest id) — semantic
    * near-dup families collapse to their least-prototypical member, which
    * preserves corpus diversity (the paper's selection rule).
    *
    * Scale shape — per-cell work only: assignment is one scan against the
    * broadcast centroids (zero shuffles); the pair join is keyed on the
    * cell id, so candidate generation is |cell|²-bounded instead of
    * corpus² (cells are balanced by the trained quantizer, unlike
    * fixed-hyperplane LSH buckets); clustering and keep-best touch only
    * clustered rows. Works unchanged on 10⁹ vectors: no broadcast of the
    * corpus, no all-pairs stage, shuffles keyed on cell / cluster ids.
    *
    * Returns the surviving rows of `df` (original columns).
    */
  def semDeDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      clusterMode: ClusterMode = ClusterMode.Auto()
  ): DataFrame = {
    val assigned = Lineage.truncate(
      Similarity.ivfAssign(
        df.select(col(idCol).cast("long").as("sd_id"), col(vecCol).as("sd_vec")), "sd_vec", centroids))
    val l = assigned.select(col("sd_id").as("doc_a"), col("sd_vec").as("vec_a"), col("cell"))
    val r = assigned.select(col("sd_id").as("doc_b"), col("sd_vec").as("vec_b"), col("cell"))
    val pairs = l.join(r, "cell")
      .where(col("doc_a") < col("doc_b"))
      .where(Similarity.cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select("doc_a", "doc_b")
    val clusters = duplicateClusters(pairs, mode = clusterMode)
    // Keep-best score: NEGATED centroid cosine (keep the farthest-from-
    // centroid member). Scored frame joins back on id so `df`'s own
    // columns pass through untouched.
    val scored = df.join(
      assigned.select(
        col("sd_id"),
        negate(Similarity.centroidCosine(centroids)(col("sd_vec"), col("cell"))).as("_sd_score")),
      df(idCol).cast("long") === col("sd_id"))
    dedupByClustersKeepBest(scored, idCol, "_sd_score", clusters)
      .drop("sd_id", "_sd_score")
  }

  /** Exact cross-document substring EXCISION — the rewrite form of
    * substring-level dedup (the k-gram formulation of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * [[sharedSubstringCounts]] measures how much of a document is
    * boilerplate; this operator actually REMOVES it. Every maximal run of
    * characters covered by k-grams that also occur in at least one OTHER
    * document is cut out; the surviving segments are stitched back
    * together in order.
    *
    * Semantics (deterministic, engine-replayable — the DuckDB oracle
    * recomputes them verbatim):
    *   1. every 1-indexed position `p ∈ [1, len−k+1]` contributes the
    *      character k-gram `substring(text, p, k)`;
    *   2. a gram is DUPLICATED iff it occurs in ≥ 2 distinct documents
    *      (cross-document only — a phrase repeated inside one document is
    *      that document's own business);
    *   3. per document, duplicated-gram hit intervals `[p, p+k)` are
    *      merged into maximal islands (touching intervals merge: coverage
    *      is gap-free when the next hit starts exactly at the running
    *      end);
    *   4. islands are excised; `clean_text` is the concatenation of the
    *      kept complement, `n_spans`/`n_removed_chars` the audit counts.
    *
    * Execution shape: one explode to (doc, pos, gram) — O(total chars)
    * rows — a groupBy on the gram for the duplicated set, one join back,
    * then a per-document window (island merge) and groupBy (span
    * collect). The stitch itself is a per-DOCUMENT kernel UDF (one call
    * per doc, not per gram — the HOF-vs-kernel tradeoff documented in the
    * object Scaladoc doesn't bite at doc granularity, but the kernel
    * keeps it allocation-tight anyway).
    *
    * Scale: the gram shuffle key is the raw k-char string by default —
    * exact, oracle-bit-identical, and k·|corpus| shuffle bytes. At 100 TB
    * flip `hashedKeys=true`: grams shuffle/join as `xxhash64` longs
    * (8 bytes vs k), trading a ~2⁻⁶⁴-per-pair collision (which could only
    * ever excise one spurious k-char span) for a k/8× smaller exchange —
    * the same hashed-key contract [[exactDuplicates]] documents for
    * content keys. Everything downstream of the gram join is per-document
    * local after one doc_id shuffle.
    */
  def exciseSharedSubstrings(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 50,
      hashedKeys: Boolean = false
  ): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val docs = Lineage.truncate(
      df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")))
    val gramKey: Column => Column = g => if (hashedKeys) xxhash64(g) else g
    val grams = positionalGrams(docs, k).withColumn("g", gramKey(col("g")))
    val dup = grams
      .groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("g")
    val hits = grams.join(dup, "g").select("doc_id", "pos")
    exciseByHits(docs, hits, k)
  }

  /** (doc_id, pos, g): every 1-indexed position's character k-gram. Docs
    * shorter than k contribute nothing.
    */
  private def positionalGrams(docs: DataFrame, k: Int): DataFrame =
    docs
      .where(length(col("text")) >= k)
      .select(col("doc_id"), col("text"), explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"), substring(col("text"), col("p"), lit(k)).as("g"))

  /** Shared tail of every excision form: duplicated-gram hit positions →
    * merged islands (per-doc running-max window) → complement stitch.
    * The groupBys reuse the window's doc_id partitioning (plan-pinned at
    * one exchange for this whole tail).
    */
  private def exciseByHits(docs: DataFrame, hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc   = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val rem = hits
      .withColumn("new_island", when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("isl", sum(col("new_island")).over(byDoc))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
    val perDoc = rem
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("n_removed_chars"))

    // Per-document stitch: spans are sorted, disjoint, 1-indexed with
    // exclusive ends; keep [cursor, s) before each span, then the tail.
    val excise = udf { (text: String, spans: Seq[org.apache.spark.sql.Row]) =>
      // java.lang.StringBuilder: the Scala wrapper lacks the 3-arg
      // (CharSequence, from, to) append and would auto-tuple it.
      val sb     = new java.lang.StringBuilder(text.length)
      var cursor = 1
      spans.foreach { r =>
        val s = r.getLong(0).toInt
        val e = r.getLong(1).toInt
        if (s > cursor) sb.append(text, cursor - 1, s - 1)
        cursor = e
      }
      if (cursor <= text.length) sb.append(text, cursor - 1, text.length)
      sb.toString
    }
    docs
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(excise(col("text"), col("spans"))).as("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed_chars"), lit(0L)).as("n_removed_chars"))
  }

  // ------------------------------------------------------------------
  // Persisted gram index (disk serving form of substring excision)
  // ------------------------------------------------------------------

  /** Build/serve parameters of a persisted gram index — same
    * read-the-layout-from-the-index contract as [[SignatureIndexMeta]]:
    * a probe with a different k or bucket count would silently miss, so
    * the parameters travel with the data.
    */
  final case class GramIndexMeta(k: Int, gramBuckets: Int)

  private def gramMetaPath(path: String) = s"$path/_graft_gram_meta"
  private def gramBucket(buckets: Int): Column =
    pmod(xxhash64(col("g")), lit(buckets.toLong)).cast("int")

  /** Read back the [[GramIndexMeta]] of a persisted gram index. */
  def readGramIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String): GramIndexMeta = {
    val r = IndexStore.readTinyMetaRow(spark, gramMetaPath(IndexStore.dataDir(spark, path)))
    GramIndexMeta(r("k").asInstanceOf[Int], r("gramBuckets").asInstanceOf[Int])
  }

  /** Persist the corpus' DISTINCT character k-grams, parquet-partitioned
    * by `bucket = pmod(xxhash64(g), gramBuckets)` — the serving index for
    * [[exciseVsPersistedGrams]]. Distinct-ing first keeps the index
    * proportional to the corpus' gram VOCABULARY, not its length; `append`
    * adds an increment's grams without rewriting (duplicate grams across
    * increments are harmless — the probe is a semi-join).
    */
  def persistGramIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      k: Int = 50,
      gramBuckets: Int = 64,
      append: Boolean = false
  ): Unit = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val grams = IndexStore.Relation("", "bucket",
      positionalGrams(docs, k).select("g").distinct().withColumn("bucket", gramBucket(gramBuckets)))
    if (append)
      IndexStore.append(spark, path) { _ =>
        val m = readGramIndexMeta(spark, path)
        require(m == GramIndexMeta(k, gramBuckets),
          s"persistGramIndex(append): parameters $k/$gramBuckets do not match the existing index $m")
        Seq(grams)
      }
    else
      IndexStore.build(spark, path, Seq(grams, IndexStore.Relation.flat("_graft_gram_meta",
        Seq((k, gramBuckets)).toDF("k", "gramBuckets").coalesce(1))))
  }

  /** Compact a persisted gram index: fold each partition's append
    * segments into one file and RE-DISTINCT the grams (increments may
    * re-contribute grams the base already holds — harmless to the
    * semi-join probe, pure storage/scan waste). No tombstones here: the
    * index stores the corpus's gram VOCABULARY, not per-doc rows, so the
    * only dirtiness criterion is multi-segment partitions; `selective`
    * rewrites just those and manifest-carries the rest into the new
    * generation ([[compactSignatureIndex]]'s cost and atomicity model).
    * Probes afterwards return exactly what a fresh [[persistGramIndex]]
    * of the union corpus would.
    */
  def compactGramIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      selective: Boolean = true,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L
  ): Unit =
    IndexStore.compact(spark, path, keepGens, minRetentionMs) {
      _.rewrite("", "bucket", selective, idCol = None, shape = _.select("g", "bucket").distinct())
    }

  /** Excise from NEW documents every maximal span covered by k-grams that
    * exist in a PERSISTED corpus gram index — the serving form of
    * [[exciseSharedSubstrings]] (there the contamination source is the
    * batch itself; here it is the indexed corpus, and probe-batch docs are
    * NOT compared to each other). The probe reads ONLY the partitions the
    * batch's own grams hash to: distinct buckets pushed as a
    * partition-column isin filter, pruned at planning time — a one-doc
    * batch touches ≤ its-gram-count of gramBuckets directories however
    * large the indexed corpus (PlanAuditSpec pins the strict subset).
    * Output schema is identical to [[exciseSharedSubstrings]].
    */
  def exciseVsPersistedGrams(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String
  ): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val dd   = IndexStore.dataDir(spark, indexPath) // resolve once per probe
    val m    = readGramIndexMeta(spark, dd)
    val docs = Lineage.truncate(
      newDocs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")))
    val grams = Lineage.truncate(
      positionalGrams(docs, m.k).withColumn("bucket", gramBucket(m.gramBuckets)))
    val touched = grams.select("bucket").distinct().as[Int].collect().sorted
    val hits =
      if (touched.isEmpty) spark.emptyDataset[(Long, Long)].toDF("doc_id", "pos")
      else {
        val idx = IndexStore.readRel(spark, dd, "", "bucket")
          .where(col("bucket").isin(touched.map(b => b: Any): _*))
          .select("bucket", "g").distinct()
        grams.join(idx, Seq("bucket", "g"), "left_semi").select("doc_id", "pos")
      }
    exciseByHits(docs, hits, m.k)
  }
}
