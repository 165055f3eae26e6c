package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call corpus preparation — the standard LLM preprocessing chain in
  * the order production pipelines run it:
  *
  *   1. EXACT dedup: md5(text) identity, keep the minimum-id copy
  *      (the [[Dedup.exactDuplicates]] contract).
  *   2. Quality filter: whitespace token count ≥ `minTokens` AND
  *      duplicate-token fraction ≤ `maxDupTokenFrac`
  *      (the C4/Gopher-style [[TextAnalysis.repetitionMetrics]] signals).
  *   3. LM perplexity filter: add-one bigram LM trained on the quality
  *      survivors, keep docs with nll < `nllThreshold`
  *      (CCNet-style [[TextAnalysis.lmQualityScore]]).
  *   4. Deterministic hash split: train/val/test by id-hash buckets
  *      ([[Sampling.assignSplit]] — retry-stable, resplit-free).
  *
  * Returns one row per SURVIVING document: (doc_id, n_tokens, nll,
  * split). Every stage is one of the independently gated operators; this
  * is the composition a real user runs, and it is itself driver-hashed
  * end-to-end (`q_corpus_prepare`) so the stage seams — which corpus each
  * stage sees, in which order — are pinned, not just the stages.
  *
  * Scale shape: the sum of its parts, nothing new — one md5 aggregation +
  * semi-join (exact dedup), scan-local quality metrics, the LM's
  * bigram-keyed aggregations and joins, and a pure-column split. No
  * driver state, no collect, no window over the corpus. For near-dup
  * aware preparation, run [[Dedup.deduplicateCorpus]] before this and
  * [[Sampling.leakageSafeSplit]] instead of stage 4 — both gated
  * separately.
  */
object CorpusPipeline {

  def prepare(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minTokens: Long = 20L,
      maxDupTokenFrac: Double = 0.5,
      nllThreshold: Double = 3.45,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  ): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    // 1. Exact dedup — min id per content hash, semi-joined back.
    val canon = base
      .groupBy(md5(col("text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    chain(base.join(canon, Seq("doc_id"), "left_semi"),
      minTokens, maxDupTokenFrac, nllThreshold, splits)
  }

  /** [[prepare]] with NEAR-duplicate-aware stage 1: the full
    * [[Dedup.deduplicateCorpus]] cluster dedup (inverted-index n-gram
    * Jaccard → connected components → keep the min-id representative)
    * replaces the md5 exact dedup — which it subsumes, since exact
    * duplicates cluster at jaccard = 1. After families are collapsed to
    * one representative each, the plain hash split IS leakage-safe (no
    * near-twin of a test doc can sit in train — it was deduplicated
    * away); keep losers instead with [[Sampling.leakageSafeSplit]] when
    * the corpus must retain its duplicates.
    */
  def prepareNearDupAware(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      jaccardThreshold: Double = 0.8,
      minTokens: Long = 20L,
      maxDupTokenFrac: Double = 0.5,
      nllThreshold: Double = 3.45,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  ): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    chain(Dedup.deduplicateCorpus(base, "text", "doc_id", n, jaccardThreshold),
      minTokens, maxDupTokenFrac, nllThreshold, splits)
  }

  /** Right-to-be-forgotten across every persisted SERVING surface in one
    * call. All five graft index families (MinHash signature, image
    * fingerprint, Jaccard prefix, IVF cell, BM25 postings) keep their
    * deletes in the one tombstone set [[IndexStore]] owns
    * ([[IndexStore.appendTombstones]], masked on every probe/load path by
    * [[IndexStore.minusTombstoned]]), so a forget request fans out as
    * |paths| calls of [[Dedup.deleteFromPersistedIndex]]: cost O(|ids|)
    * PER SURFACE, zero index partitions touched, serving uninterrupted.
    * The erasure is effective at probe time immediately; the next
    * compaction of each index ([[compactIndexes]], or a
    * [[maintainIndexes]] sweep) rewrites the partitions holding forgotten
    * rows and drops the set.
    *
    * Returns a receipt frame (index_path, forgotten_ids) for the audit
    * trail a deletion request needs. Spec-verified end-to-end across all
    * five surfaces (ForgetFlowSpec): after one call, no probe of any
    * surface returns a forgotten id.
    */
  def forgetDocuments(ids: DataFrame, idCol: String, indexPaths: Seq[String]): DataFrame = {
    require(indexPaths.nonEmpty, "forgetDocuments: no index paths given")
    val spark = ids.sparkSession
    import spark.implicits._
    val n = ids.select(col(idCol)).distinct().count()
    indexPaths.foreach(p => Dedup.deleteFromPersistedIndex(ids, idCol, p))
    indexPaths.map(p => (p, n)).toDF("index_path", "forgotten_ids")
  }

  /** One-call COMPACTION across every persisted index family — the
    * reclamation companion to [[forgetDocuments]]: after enough forget
    * cycles the tombstone anti-joins and append segments dominate probe
    * cost, and this fans the rewrite out the same way the forget fanned
    * the deletes. The family is detected from the index's own frozen
    * metadata artifact (each family stores exactly one distinctive
    * `_`-prefixed dir beside its data), so a mixed list of paths needs no
    * caller-side bookkeeping. Returns an audit frame
    * (index_path, family).
    *
    * `ivfRetrain` is forwarded to [[Similarity.compactIvfIndex]] for any
    * IVF index in the list — pass [[Similarity.RetrainMode.Auto]] to
    * fold the append-drift check (surviving-cell imbalance) into the
    * periodic compaction sweep, so a drifted vector index re-trains its
    * quantizer in the same pass that reclaims its tombstones.
    * `jaccardRefresh` is the same lever for the Jaccard prefix index's
    * frozen df-order dictionary ([[Dedup.RefreshMode]]).
    */
  def compactIndexes(
      spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String],
      selective: Boolean = true,
      ivfRetrain: Similarity.RetrainMode = Similarity.RetrainMode.Never,
      jaccardRefresh: Dedup.RefreshMode = Dedup.RefreshMode.Never
  ): DataFrame = {
    require(indexPaths.nonEmpty, "compactIndexes: no index paths given")
    import spark.implicits._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Distinct indexes are independent rewrites over disjoint directories:
    // run them as CONCURRENT Spark jobs (one driver thread each) so the
    // cluster pipelines the five scans/shuffles instead of idling between
    // them — the same submit-parallelism Graft's level-parallel copy uses.
    // Every compaction finishes before the call returns or throws.
    graft.Parallel.all(indexPaths.map { p => () =>
      val family = detectFamily(spark, p)
      family.compact(spark, p, CompactRequest(selective, ivfRetrain, jaccardRefresh))
      (p, family.name)
    }).toDF("index_path", "family")
  }

  /** What one compaction of an index is asked to do: the family
    * compactors' shared knobs and each family's own drift levers. */
  private final case class CompactRequest(
      selective: Boolean,
      ivfRetrain: Similarity.RetrainMode,
      jaccardRefresh: Dedup.RefreshMode,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L,
      pqRefresh: Similarity.PqRefreshMode = Similarity.PqRefreshMode.Never)

  /** One persisted-index family: its name, the distinctive frozen
    * metadata artifact that identifies it (each family stores exactly one
    * beside its data), its partitioned data relations (relation subpath,
    * partition column — `""` for single-relation families whose data sits
    * at the generation root — what the maintenance sweep inspects for
    * append-segment pressure), and its compaction.
    */
  private final case class Family(
      name: String,
      marker: String,
      relations: Seq[(String, String)],
      compact: (org.apache.spark.sql.SparkSession, String, CompactRequest) => Unit)

  /** Every family, in detection order. */
  private val families = Seq(
    Family("signature", "_graft_index_meta", Seq(("", "bucket")),
      (s, p, r) => Dedup.compactSignatureIndex(s, p, r.selective, r.keepGens, r.minRetentionMs)),
    Family("fingerprint", "_graft_fp_meta", Seq(("", "bucket")),
      (s, p, r) => Dedup.compactFingerprintIndex(s, p, r.selective, r.keepGens, r.minRetentionMs)),
    Family("jaccard", "_graft_jidx_meta", Seq(("postings", "bucket"), ("fullsets", "dbucket")),
      (s, p, r) => Dedup.compactJaccardIndex(s, p, r.selective, r.keepGens, r.minRetentionMs,
        refresh = r.jaccardRefresh)),
    Family("ivf", "_graft_centroids", Seq(("", "cell")),
      (s, p, r) => Similarity.compactIvfIndex(s, p, r.selective, retrain = r.ivfRetrain,
        keepGens = r.keepGens, minRetentionMs = r.minRetentionMs, pqRefresh = r.pqRefresh)),
    Family("bm25", "_graft_meta", Seq(("postings", "bucket"), ("terms", "bucket")),
      (s, p, r) => TextAnalysis.compactBm25Index(s, p, r.selective, r.keepGens, r.minRetentionMs)),
    Family("gram", "_graft_gram_meta", Seq(("", "bucket")),
      (s, p, r) => Dedup.compactGramIndex(s, p, r.selective, r.keepGens, r.minRetentionMs)))

  /** Which persisted-index family lives at `root`, detected from its
    * marker artifact (resolved against the current generation — the
    * artifact moves with the data once the index has been compacted).
    */
  private def detectFamily(spark: org.apache.spark.sql.SparkSession, root: String): Family = {
    val dd = new org.apache.hadoop.fs.Path(IndexStore.dataDir(spark, root))
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    families.find(f => fs.exists(new org.apache.hadoop.fs.Path(dd, f.marker))).getOrElse(
      throw new IllegalArgumentException(
        s"$root carries no known index metadata artifact (${families.map(_.marker).mkString(" / ")})"))
  }

  /** When is an index WORTH compacting — the operational policy
    * [[maintainIndexes]] evaluates. All three signals are cheap relative
    * to the rewrite they may trigger: segment pressure is a directory
    * listing, tombstone mass is a footer count over the tombstone files
    * against a footer count over every data file (driver-side, no Spark
    * job, each footer opened with the session's Hadoop conf — well under
    * a millisecond of CPU apiece,
    * [[graft.operators.IndexStore.footerRowCount]]), and the IVF
    * imbalance is one thin (cell, vec_id) scan.
    *
    * `maxTombstoneFraction` compares tombstoned IDS against index ROWS —
    * for families storing several rows per document (signature bands,
    * BM25 postings) the measured fraction UNDERSTATES the true document
    * fraction, so the trigger is conservative; lower the threshold for
    * aggressive reclamation.
    *
    * `maxAppendByteFraction` is the byte-MASS twin of the segment-count
    * trigger, read from the SAME directory listing (zero data pages):
    * the fraction of relation bytes beyond each partition's RECORDED
    * base (the generation manifest's file list — see
    * [[graft.operators.IndexStore.relStats]]; oldest-by-mtime fallback
    * for never-compacted indexes)
    * — i.e. the appended mass a compact would fold. Count alone is
    * blind to segment size: one corpus-doubling backfill lands as a
    * single segment per partition, sits under any count threshold
    * forever, and every probe pays the unfolded mass while a drifted
    * Jaccard dictionary never reaches the compact (and its Auto
    * refresh) that would cure it. The 0.5 default fires when appends
    * outweigh the compacted base — the point where a rewrite costs at
    * most ~2× the data it reclaims scanning debt on.
    *
    * `keepGenerations` is the probe retention horizon BY COUNT: a fired
    * compact retains that many PREVIOUS generations
    * (readable-until-vacuum), so a probe that resolved an old generation
    * survives up to that many subsequent compactions mid-read.
    * `minRetentionMs` is the horizon BY AGE: a generation additionally
    * stays until it has been retired at least this long — count alone
    * can be outrun by rapid per-batch sweeps (q_index_maintain_stream
    * fires compactions seconds apart; at cluster scale one fat
    * analytical probe outlives several), an age floor sized to the probe
    * SLA cannot. A generation is reclaimed only when BOTH allow.
    */
  /** `maxDonorGenerations` bounds READ-AMPLIFICATION fan-in: every
    * selective compact leaves clean partitions referenced in their donor
    * generations, and the manifest-resolved read plans one union branch
    * per (donor, relation) — over a long lifecycle of selective compacts
    * the branch count otherwise grows without bound. When a generation's
    * manifest references more than this many donors, the sweep escalates
    * that index's next compact to a FULL rewrite (action `compact_full`),
    * consolidating every partition into one physical home. The check is
    * one manifest read (already in hand for the other signals).
    */
  final case class IndexMaintenancePolicy(
      maxSegmentsPerPartition: Int = 4,
      maxTombstoneFraction: Double = 0.02,
      ivfMaxImbalance: Double = 8.0,
      keepGenerations: Int = 1,
      minRetentionMs: Long = 0L,
      maxAppendByteFraction: Double = 0.5,
      maxDonorGenerations: Int = 8
  )

  /** Policy-driven maintenance sweep over a mixed list of persisted
    * indexes: inspect each (append-segment COUNT pressure, append byte
    * MASS, tombstone mass, IVF cell imbalance), decide, and compact ONLY
    * the indexes that warrant it — the scheduled-job form of the
    * lifecycle, so an operator points one sweep at every index the
    * pipeline owns instead of hand-tracking which daily-crawl appends
    * have piled up where.
    *
    * Actions: `none` (healthy), `compact` (selective rewrite — segment
    * fold and/or tombstone purge; a fired Jaccard compact folds the
    * dictionary-drift Auto refresh in), `compact_full` (donor-generation
    * fan-in past the policy bound: a FULL rewrite consolidates every
    * manifest-carried partition into one physical home — the only cure
    * for union-branch debt, which a selective compact would re-carry),
    * `compact_retrain` (IVF whose surviving-cell imbalance crossed the
    * policy threshold: the compact re-runs Lloyd on the survivors,
    * [[Similarity.RetrainMode]] — itself a full rewrite, so it also
    * consolidates). Flagged indexes compact as concurrent Spark jobs
    * ([[compactIndexes]]' submit parallelism). `dryRun = true` reports
    * the decisions without executing any of them.
    *
    * Returns (index_path, family, max_segments, tombstone_rows,
    * data_rows, ivf_imbalance, append_byte_frac, donor_gens, action) —
    * `ivf_imbalance` is null for non-IVF families.
    */
  def maintainIndexes(
      spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String],
      policy: IndexMaintenancePolicy = IndexMaintenancePolicy(),
      dryRun: Boolean = false
  ): DataFrame = {
    require(indexPaths.nonEmpty, "maintainIndexes: no index paths given")
    import spark.implicits._
    import scala.concurrent.ExecutionContext.Implicits.global
    val conf = spark.sparkContext.hadoopConfiguration

    // Inspection is read-only (listings + footer counts + the IVF thin
    // scan) — run it concurrently across indexes like the compacts.
    val audits = graft.Parallel.all(indexPaths.map { p => () =>
      val family = detectFamily(spark, p)
      val live   = IndexStore.dataDir(spark, p)
      val rels   = family.relations
      // ONE listing per relation location yields both maintenance
      // signals: segment COUNT (file fan-out — what every probe's scan
      // pays) and append byte MASS (bytes beyond each partition's
      // RECORDED base — what one huge backfill segment contributes while
      // staying under any count threshold). The base comes from the
      // generation manifest where one exists (recorded at compact time —
      // exact under carry/copy/restore) and falls back to the flat-era
      // oldest-file heuristic for never-compacted indexes. Count alone
      // is blind to segment size; mass alone is blind to
      // many-tiny-files fan-out; together they cover both failure
      // shapes with zero data pages read.
      val man = IndexStore.readManifest(spark, live) // parsed ONCE for every signal below
      val stats = rels.flatMap { case (rel, partCol) =>
        IndexStore.relStats(spark, live, rel, partCol, man).values
      }
      val segCounts   = stats.map(_.segments)
      val totalBytes  = stats.map(_.bytes).sum
      val appendBytes = stats.map(s => s.bytes - s.baseBytes).sum
      val appendByteFrac =
        if (totalBytes == 0L) 0.0 else appendBytes.toDouble / totalBytes.toDouble
      // BM25's docs relation is unpartitioned and written with whatever
      // parallelism built it, so raw file count is NOT segment count:
      // segments = distinct WRITE GROUPS among its file names
      // ([[TextAnalysis.bm25DocsSegments]] — one group per build/append
      // batch, however many shards each landed).
      val docsSegs =
        if (family.name != "bm25") 0
        else TextAnalysis.bm25DocsSegments(spark, live)
      val maxSegments = (segCounts ++ Seq(docsSegs)).foldLeft(0)(math.max)
      // DISTINCT ids: deleteFromPersistedIndex dedupes within a call but
      // appends across calls, so a re-deleted id would otherwise count
      // twice and fire the tombstone-fraction trigger spuriously (serving
      // is unaffected — the probe masks re-distinct).
      // Cheapest-correct path (guide §1/§6): one delete batch ⇒ footer
      // count; several small batches ⇒ driver-side re-distinct; only a
      // genuinely large multi-batch set pays a Spark job (and then with
      // an explicit schema — the old mergeSchema=true read cost a
      // footer-inference job PLUS the distinct-count job, per index per
      // sweep per micro-batch).
      val tombstoneRows = graft.Jobs.labeled(spark, "idx:sweep:tombstones")(
        IndexStore.tombstoneDistinctCount(spark, new org.apache.hadoop.fs.Path(live, IndexStore.TombstonesName).toString))
      // Parquet footer statistic — no data pages read, and no Spark job
      // either: footers record exact row counts, so the sweep's
      // denominator comes from the same driver-side metadata walk as the
      // other signals (a distributed count() here cost two scheduler
      // round-trips per index per sweep — per micro-batch in the
      // maintain-stream gates). One footer per data file, every batch:
      // affordable only because each opens with the session's Hadoop
      // conf instead of parsing a fresh one.
      val dataRows = rels.headOption.map { case (rel, partCol) =>
        val dp = new org.apache.hadoop.fs.Path(if (rel.isEmpty) live else s"$live/$rel")
        val manifested = man.exists(_.exists(_.rel == rel))
        if (manifested || dp.getFileSystem(conf).exists(dp))
          IndexStore.footerRowCount(spark, live, rel, partCol, man)
        else 0L
      }.getOrElse(0L)
      val imbalance =
        if (family.name == "ivf") Some(Similarity.ivfCellImbalance(spark, p)) else None
      val donorGens = IndexStore.donorGenerations(live, man)

      val action =
        if (imbalance.exists(_ > policy.ivfMaxImbalance)) "compact_retrain"
        // Donor fan-in past the bound escalates to a FULL rewrite even
        // when the other signals are quiet: the debt here is union-branch
        // count, which only consolidation pays down — a selective compact
        // would re-carry the same references.
        else if (donorGens > policy.maxDonorGenerations) "compact_full"
        else if (maxSegments > policy.maxSegmentsPerPartition ||
          appendByteFrac > policy.maxAppendByteFraction ||
          tombstoneRows.toDouble > policy.maxTombstoneFraction * math.max(1L, dataRows))
          "compact"
        else "none"
      (p, family, maxSegments, tombstoneRows, dataRows,
        imbalance.map(i => math.rint(i * 1000) / 1000),
        math.rint(appendByteFrac * 1000) / 1000, donorGens, action)
    })

    if (!dryRun)
      graft.Parallel.all(audits.filter(_._9 != "none").map { case (p, family, _, _, _, _, _, _, action) => () =>
        // Imbalance was just measured; Always skips re-measuring it.
        val mode =
          if (action == "compact_retrain") Similarity.RetrainMode.Always
          else Similarity.RetrainMode.Never
        // A fired compact folds every frozen-artifact drift check in
        // (Auto modes): the rewrite is being paid for anyway, so a
        // drifted Jaccard order refreshes in the same pass — and a
        // PQ-bearing IVF index whose sampled quantization error grew
        // past the Auto threshold retrains its codebooks riding the
        // same rewrite (the retrain-on-compact argument applied to
        // the last frozen artifact).
        family.compact(spark, p, CompactRequest(selective = action != "compact_full",
          ivfRetrain = mode,
          jaccardRefresh = Dedup.RefreshMode.Auto(),
          keepGens = policy.keepGenerations, minRetentionMs = policy.minRetentionMs,
          pqRefresh = Similarity.PqRefreshMode.Auto()))
      })
    audits.map(a => a.copy(_2 = a._2.name)).toDF("index_path", "family", "max_segments", "tombstone_rows",
      "data_rows", "ivf_imbalance", "append_byte_frac", "donor_gens", "action")
  }

  /** Policy-driven RETENTION sweep over a mixed list of persisted
    * indexes — [[maintainIndexes]]' companion for the OTHER half of the
    * storage story: maintenance decides when to REWRITE (fold segments,
    * purge tombstones, refresh drifted artifacts); vacuum decides when
    * history may be RECLAIMED. One call reports (and, unless `dryRun`,
    * executes) per index how many bytes of retired generations are
    * reclaimable under the policy's two horizons — `keepGenerations`
    * (count) and `minRetentionMs` (age since retire) — with
    * manifest-referenced donor subtrees always exempt (they are live
    * data however old the generation that physically holds them; see
    * [[graft.operators.IndexStore.vacuum]]).
    *
    * Returns (index_path, family, current_generation, reclaimable_bytes,
    * action) — `action` ∈ none | vacuum (| vacuum_dry_run).
    */
  def vacuumIndexes(
      spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String],
      policy: IndexMaintenancePolicy = IndexMaintenancePolicy(),
      dryRun: Boolean = false
  ): DataFrame = {
    require(indexPaths.nonEmpty, "vacuumIndexes: no index paths given")
    import spark.implicits._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rows = graft.Parallel.all(indexPaths.map { p => () =>
      val family = detectFamily(spark, p).name
      val cur    = IndexStore.currentGeneration(spark, p)
      val bytes  = IndexStore.vacuum(spark, p,
        minRetentionMs = policy.minRetentionMs,
        keepGens = policy.keepGenerations, dryRun = dryRun)
      val action =
        if (bytes == 0L) "none" else if (dryRun) "vacuum_dry_run" else "vacuum"
      (p, family, cur.toLong, bytes, action)
    })
    rows.toDF("index_path", "family", "current_generation", "reclaimable_bytes", "action")
  }

  /** Stages 2–4 (quality → LM → split), shared by both dedup fronts. */
  private def chain(
      deduped: DataFrame,
      minTokens: Long,
      maxDupTokenFrac: Double,
      nllThreshold: Double,
      splits: Seq[(String, Double)]
  ): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2 (the LM stage needs at least one bigram)")
    // 2. Quality filter on the dedup survivors.
    val quality = TextAnalysis.repetitionMetrics(deduped, "text", "doc_id")
      .where(col("n_tokens") >= minTokens && col("dup_token_frac") <= maxDupTokenFrac)
      .select("doc_id", "n_tokens")
    // Materialized once: the LM stage reads this frame three times (bigram
    // counts, vocabulary count, final join) — without the truncate each
    // read re-runs the dedup join and the quality metrics from the scan.
    val qualityDocs = graft.plans.Lineage.truncate(deduped.join(quality, "doc_id"))
    // 3. LM filter — the model trains on the quality survivors themselves
    //    (self-trained; pass a reference corpus through lmQualityScore
    //    directly when a clean LM corpus exists).
    val kept = TextAnalysis.lmQualityScore(qualityDocs, "text", "doc_id", nllThreshold)
      .where(col("kept"))
      .select(col("doc_id"), col("nll"))
    // 4. Deterministic split over the survivors.
    Sampling.assignSplit(
      qualityDocs.select("doc_id", "n_tokens").join(kept, "doc_id"), "doc_id", splits)
      .select(col("doc_id"), col("n_tokens"), col("nll"), col("split"))
  }
}
