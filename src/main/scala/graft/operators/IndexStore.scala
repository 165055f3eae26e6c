package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Options, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col}
import org.apache.spark.sql.types.StructType

/** Generation-pointer storage layer shared by every persisted serving
  * index family (MinHash signature, image fingerprint, Jaccard prefix,
  * IVF cell, BM25 postings, gram vocabulary) — the concurrency and
  * cost model that makes the build → append/delete → compact lifecycle
  * production-grade:
  *
  *  - '''Atomic serve-during-compact, RENAME-FREE publish.''' A
  *    compaction never mutates the live data in place: it writes a
  *    complete new GENERATION directory (`_gen-00001`, `_gen-00002`, …)
  *    beside the old one and then PUBLISHES it by CREATING a versioned
  *    pointer file `_graft_current.<n>` with create-exclusive semantics —
  *    the file's NAME is the commit (readers resolve highest-n-wins and
  *    never open it), so publication needs no rename at all and is
  *    atomic on every filesystem that gives atomic create-exclusive:
  *    POSIX local, HDFS, and strongly-consistent object stores (an S3
  *    conditional PUT), where the previous rename-based flip was
  *    copy+delete, non-atomic, and often unsupported at the
  *    [[org.apache.hadoop.fs.FileContext]] layer. A concurrent probe
  *    resolves the pointer ONCE at entry and reads a complete,
  *    immutable-to-it generation: there is no window where the index
  *    path is absent and no window where a multi-relation index (BM25's
  *    postings/terms/docs, Jaccard's postings/fullsets) can be seen
  *    half-swapped — the in-place retire→install rename protocol this
  *    replaces had both. (A legacy content-bearing `_graft_current`
  *    file is still READ for layout compatibility; the first publish
  *    through this code supersedes and removes it.)
  *    The previous generation is retained (readable-until-vacuum, the
  *    [[graft.sinks.VersionedTable]] contract) so probes that resolved it
  *    mid-flip finish; it is reclaimed by the NEXT compaction or an
  *    explicit [[vacuum]].
  *
  *  - '''Tombstones.''' A delete appends ids to the generation's one
  *    tombstone set ([[TombstonesName]], [[appendTombstones]]) for every
  *    family; every probe and load masks it ([[minusTombstoned]]), and
  *    every compaction drops it ([[compact]]). The families never touch
  *    the set's files themselves.
  *
  *  - '''Selective (dirty-partition-only) compaction, MANIFEST-carried.'''
  *    Every family compacts through ONE path, [[compact]]: it takes the
  *    lease and stages the next generation ([[swapGeneration]]), parses
  *    the live manifest once, hands the family a [[Compaction]] whose
  *    `rewrite`/`write`/`carry`/`carryFlat` record the staged
  *    generation's manifest entries, drops the tombstone set, and writes
  *    the manifest itself. A full-index rewrite at 10⁹ docs to purge 0.1%
  *    of rows inverts the amortization argument, so the families share
  *    one policy ([[Compaction.rewrite]], its cutover in
  *    [[decideRewrite]]; an IVF retrain or a Jaccard dictionary refresh
  *    still rewrites in full through [[Compaction.write]]): rewrite
  *    ONLY dirty partitions — those holding append segments or
  *    tombstoned rows — unless 80% or more are dirty, and carry every
  *    clean partition into the new generation BY
  *    REFERENCE: the generation's `_graft_manifest` lists, per
  *    (relation, partition), the partition's physical HOME directory
  *    (root-relative — possibly an older generation, possibly the
  *    flat-era root) plus its recorded base files. A carry is ONE
  *    MANIFEST LINE on any filesystem — local, HDFS, object store —
  *    where the previous hardlink carry was metadata-only on POSIX but
  *    silently degraded to a full byte copy of every clean partition
  *    everywhere else (exactly where 100-TB indexes live). Readers
  *    resolve relations through the manifest ([[readRel]]): referenced
  *    dirs group by parent into one partition-discovered scan per donor
  *    generation, unioned — filter pushdown and partition pruning intact
  *    per branch. Generation reclamation honors references:
  *    [[cleanup]] keeps any donor directory a retained generation's
  *    manifest still points into (pruning the UNREFERENCED subtrees, so
  *    retained bytes stay ∝ referenced data, not donor-generation size).
  *    The recorded base files also replace mtime-inferred base/segment
  *    accounting: dirtiness is `files present > files recorded`, and
  *    appended byte mass is `bytes present − bytes recorded`
  *    ([[relStats]]) — exact under copy/restore, where mtime heuristics
  *    drift. Compact cost is proportional to the dirty fraction, not the
  *    index size ([[graft.tools.CompactionSoak]] measures exactly that).
  *
  *  - '''One relation writer.''' A family only declares its relations
  *    ([[Relation]]: name, partition column or none, rows; metadata and
  *    frozen artifacts are flat `_`-prefixed relations), and the store
  *    lands them. [[build]] takes the writer lease and empties the target
  *    once, up front — a fresh staged generation, or a flat root cleared
  *    in place but for the lease and the batch ledger — then writes every
  *    relation concurrently; [[append]] resolves the live data dir once
  *    under the lease and appends every relation concurrently;
  *    [[appendExactlyOnce]] adds the batch ledger, one pending marker and
  *    deterministic-name installs; a compaction writes its staged
  *    generation through [[Compaction.write]]. Every job the writer launches
  *    carries an `idx:<kind>:<relation>` label.
  *
  *  - '''Multi-writer safety.''' Builds, appends, tombstone deletes,
  *    and compactions serialize on a per-index writer LEASE
  *    (`_graft_writer_lock`, create-exclusive — the
  *    [[graft.sinks.VersionedTable]] commit-claim idea applied to a
  *    mutable directory): two jobs appending the same index (the
  *    daily-crawl × backfill shape) can no longer interleave their
  *    FileOutputCommitter temporaries and silently lose files — the
  *    second writer waits, then fails LOUDLY with the holder's identity
  *    if the lease never frees. Probes never lock. The holder HEARTBEATS
  *    (re-stamps the lock every `staleMs / 3`), so staleness means missed
  *    heartbeats — a dead writer's lease is broken after `staleMs` of
  *    silence, while a live compaction that runs hours keeps renewing. A
  *    holder that was nonetheless stolen (paused past the window) is
  *    FENCED at install: [[swapGeneration]] re-checks the lease token
  *    before flipping the pointer and aborts rather than double-install.
  *
  * Layout compatibility: an index that has never been compacted keeps
  * the flat layout (data directly under its root — no pointer file) and
  * every code path treats it identically; the first compaction (or a
  * rebuild whose rows read the flat root itself, see [[build]])
  * transitions the root to generations. The pointer stores the
  * generation's RELATIVE name so a copied index directory (fixture
  * copy-on-write, DR restore) stays self-contained.
  *
  * Session tuning: embedding applications should apply
  * [[graft.SessionTuning.tune]] to their session — the bucketed
  * relation reads here assume its file-listing threshold (otherwise
  * every cold read of a 32–128-bucket relation pays a distributed
  * listing job; pinned by `SessionTuningSpec`).
  */
private[graft] object IndexStore {

  /** Legacy content-bearing pointer file (read-only compatibility).
    * Current publishes create `_graft_current.<n>` instead — the NAME is
    * the commit, see [[flipPointer]].
    */
  val PointerName = "_graft_current"
  val LockName    = "_graft_writer_lock"
  /** Streaming batch-token dir (at-most-once appends per foreachBatch
    * batchId — see [[graft.streaming.StreamGates.maintainBatchBody]]).
    * Lives ABOVE the generations like the pointer and lock: a token
    * records that a batch's write committed into SOME generation, which
    * stays true across every subsequent compaction — reclaiming it with
    * the flat era would reopen the duplicate-append retry window the
    * token exists to close.
    */
  val BatchTokensName = "_graft_stream_batches"
  val GenPrefix   = "_gen-"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation numbers of the VERSIONED pointer files present at the
    * root (`_graft_current.<n>`). One listing; names only — the files
    * are never opened, so there is no torn-read or delete race however
    * the filesystem sequences a concurrent publish/prune.
    */
  private def versionedPointers(fs: FileSystem, root: Path): Seq[Int] =
    try fs.listStatus(root).iterator.map(_.getPath.getName).flatMap { n =>
      if (!n.startsWith(PointerName + ".")) None
      else {
        val sfx = n.substring(PointerName.length + 1)
        if (sfx.nonEmpty && sfx.forall(_.isDigit)) Some(sfx.toInt) else None
      }
    }.toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Resolve the index root to its live DATA directory: the current
    * generation when a pointer exists, the root itself for flat
    * (never-compacted) layouts. Probe paths call this ONCE at entry and
    * use the result throughout, so one operation never mixes
    * generations however many relations it reads. Resolution order:
    * highest versioned pointer (`_graft_current.<n>` — name-encoded, no
    * file open), else the legacy content-bearing `_graft_current`, else
    * flat.
    */
  def dataDir(spark: SparkSession, root: String): String = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val vers = versionedPointers(fs, rp)
    if (vers.nonEmpty) return new Path(root, f"$GenPrefix${vers.max}%05d").toString
    val ptr = new Path(root, PointerName)
    if (!fs.exists(ptr)) root
    else {
      val in = fs.open(ptr)
      val gen =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(gen.startsWith(GenPrefix), s"corrupt index pointer $ptr: '$gen'")
      new Path(root, gen).toString
    }
  }

  /** Current generation number; 0 for flat (never-compacted) roots. */
  def currentGeneration(spark: SparkSession, root: String): Int = {
    val d = dataDir(spark, root)
    if (d == root) 0
    else new Path(d).getName.stripPrefix(GenPrefix).toInt
  }

  /** The index ROOT a resolved data dir belongs to: its parent for a
    * generation dir, itself for the flat layout. Manifest entries record
    * root-relative paths, so readers recover the root from the dir they
    * already hold.
    */
  private def rootOf(dd: String): String = {
    val p = new Path(dd)
    if (p.getName.startsWith(GenPrefix)) p.getParent.toString else dd
  }

  // ------------------------------------------- filesystem commit primitives
  //
  // The `file:` branches below go through java.nio for semantics Hadoop's
  // local filesystem does not give: an O_EXCL create (its
  // create(overwrite=false) is exists-then-create) and an ATOMIC_MOVE
  // replace (its FileContext rename with OVERWRITE deletes the target,
  // then renames). Speed is not the reason: under
  // [[graft.SessionTuning.tune]] Hadoop's `file:` filesystem is
  // [[graft.LocalFs]], which starts no `chmod`/`readlink` process either.

  /** The [[org.apache.hadoop.fs.FileContext]] for `p`'s scheme, or None
    * when the scheme has no AbstractFileSystem binding (S3-class object
    * stores) — callers then choose an object-store-shaped fallback
    * instead of failing, and the choice is per-operation: metadata
    * replaces become single overwrite PUTs (atomic per object on
    * strongly-consistent stores), data-file installs fall back to
    * `FileSystem.rename` (copy+delete there — non-atomic, but the
    * deterministic-name install protocol converges on retry regardless,
    * see [[install]]), and generation PUBLISH never
    * renames at all ([[flipPointer]] is create-exclusive).
    */
  private def fileContextOf(
      spark: SparkSession, fs: FileSystem, p: Path): Option[org.apache.hadoop.fs.FileContext] =
    try Some(org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(p).toUri, spark.sparkContext.hadoopConfiguration))
    catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }

  /** Create `p` with CONTENT, atomically failing if it already exists —
    * the commit primitive of the lock claim and the generation publish.
    * On `file:` go straight to O_CREAT|O_EXCL (the local FileSystem's
    * checksum wrapper implements create(overwrite=false) as
    * exists-then-create, a TOCTOU hole); elsewhere
    * `create(overwrite=false)` — HDFS's namenode and strongly-consistent
    * object stores (conditional PUT) both honor it atomically.
    */
  private def createExclusive(fs: FileSystem, p: Path, content: String): Unit =
    if (fs.getScheme == "file") {
      val np = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      java.nio.file.Files.write(np, content.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW, // atomic O_EXCL
        java.nio.file.StandardOpenOption.WRITE)
      ()
    } else {
      val out = fs.create(p, /* overwrite = */ false)
      try out.write(content.getBytes("UTF-8"))
      finally out.close()
    }

  /** Atomically REPLACE a small metadata file's content (lock heartbeat,
    * high-water mark). POSIX local: nio ATOMIC_MOVE. FileContext-capable
    * schemes (HDFS): tmp + rename(OVERWRITE). Object-store schemes with
    * no FileContext: one overwrite create — a per-object PUT, atomic on
    * strongly-consistent stores (a reader sees the old or the new
    * content, never a spliced one).
    */
  private def replaceSmallFile(
      spark: SparkSession, fs: FileSystem, dst: Path, content: String): Unit =
    if (fs.getScheme == "file") {
      val np  = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      val tmp = np.resolveSibling(np.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, np,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } else fileContextOf(spark, fs, dst) match {
      case Some(fc) =>
        val tmp = fs.makeQualified(new Path(dst.getParent, dst.getName + ".tmp"))
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8"))
        finally out.close()
        fc.rename(tmp, fs.makeQualified(dst), Options.Rename.OVERWRITE)
      case None =>
        val out = fs.create(dst, true)
        try out.write(content.getBytes("UTF-8"))
        finally out.close()
    }

  /** Install a DATA file at its final (deterministic) name, replacing
    * any previous attempt's copy. POSIX local gets the atomic replace
    * from nio ATOMIC_MOVE, other FileContext-capable schemes from
    * rename(OVERWRITE); object-store schemes fall back to delete +
    * `FileSystem.rename` — non-atomic as a pair, but safe here by
    * protocol: install names are deterministic per (streamId, batchId,
    * k), the installer first swept its own previous attempt, and a
    * retry converges to exactly one copy (and on real object stores the
    * destination OBJECT still appears atomically — stores have no
    * partial objects).
    */
  private def installDataFile(
      spark: SparkSession, fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.getScheme == "file") {
      val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      java.nio.file.Files.move(s, d,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } else fileContextOf(spark, fs, dst) match {
      case Some(fc) =>
        fc.rename(fs.makeQualified(src), fs.makeQualified(dst), Options.Rename.OVERWRITE)
      case None =>
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"IndexStore: could not install $src at $dst")
    }

  /** Move a file WITHOUT overwrite (the lease tomb dance). Returns false
    * when the source vanished or the move lost a race. Object-store
    * fallback is `FileSystem.rename` — there the tomb protocol's
    * atomicity narrows to the store's own rename, which is the honest
    * maximum without conditional-write APIs; the CAS heartbeat + install
    * fence still bound the damage to at-most-one-installer.
    */
  private def moveNoOverwrite(
      spark: SparkSession, fs: FileSystem, src: Path, dst: Path): Boolean =
    if (fs.getScheme == "file") {
      val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      try { java.nio.file.Files.move(s, d, java.nio.file.StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: java.io.IOException => false }
    } else fileContextOf(spark, fs, src) match {
      case Some(fc) =>
        try { fc.rename(fs.makeQualified(src), fs.makeQualified(dst)); true }
        catch { case _: java.io.IOException => false }
      case None =>
        try !fs.exists(dst) && fs.rename(src, dst)
        catch { case _: java.io.IOException => false }
    }

  // ------------------------------------------------------------- manifest

  /** One (relation, partition) of a generation's manifest: where the
    * partition's data physically lives (`dir`, relative to the index
    * ROOT — its own generation for rewritten partitions, an older
    * generation or the flat-era root for carried ones) and the BASE
    * data files recorded there at compact time (name → size). Files
    * present beyond the recorded base are append segments — the
    * recorded form of the dirtiness/byte-mass signals, replacing mtime
    * inference. `part = -1` marks an unpartitioned relation (one entry,
    * whole-directory granularity).
    */
  final case class ManifestEntry(rel: String, part: Int, dir: String, files: Seq[(String, Long)])

  val ManifestName = "_graft_manifest"

  /** Write a generation's manifest (TSV, one line per entry — written
    * into the STAGED dir before the pointer flips, so readers only ever
    * see complete manifests). File names from parquet committers carry
    * no tabs/commas/equals; rel and dir are repo-controlled.
    */
  def writeManifest(spark: SparkSession, genDir: String, entries: Seq[ManifestEntry]): Unit = {
    val p   = new Path(genDir, ManifestName)
    val fs  = fsOf(spark, p)
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder
      entries.foreach { e =>
        sb.append(e.rel).append('\t').append(e.part).append('\t').append(e.dir).append('\t')
          .append(e.files.map { case (n, s) => s"$n=$s" }.mkString(",")).append('\n')
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
  }

  /** Read a generation's manifest; None for flat-era / never-compacted /
    * pre-manifest generations (readers then fall back to plain
    * directory reads — full layout compatibility).
    */
  def readManifest(spark: SparkSession, genDir: String): Option[Seq[ManifestEntry]] = {
    val p  = new Path(genDir, ManifestName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(text.linesIterator.filter(_.nonEmpty).map { line =>
        val Array(rel, part, dir, files @ _*) = line.split('\t').padTo(4, ""): @unchecked
        val fl = files.headOption.filter(_.nonEmpty).map(_.split(',').toSeq.map { f =>
          val i = f.lastIndexOf('=')
          (f.substring(0, i), f.substring(i + 1).toLong)
        }).getOrElse(Seq.empty)
        ManifestEntry(rel, part.toInt, dir, fl)
      }.toSeq)
    }
  }

  /** How many DONOR locations a generation's manifest still references —
    * distinct OLDER generations (or the flat-era root, counted as one)
    * whose directories carry partitions for this generation by
    * reference. This is the read-amplification fan-in: [[readRel]] plans
    * one union branch per (donor parent, relation), so over a long
    * lifecycle of selective compacts the branch count grows without
    * bound unless a consolidation trigger escalates a compact to a full
    * rewrite ([[graft.operators.CorpusPipeline.IndexMaintenancePolicy]]'s
    * `maxDonorGenerations`). 0 for un-manifested layouts and for
    * generations whose manifest points only at themselves.
    */
  def donorGenerations(dd: String, manifest: Option[Seq[ManifestEntry]]): Int = manifest match {
    case None => 0
    case Some(entries) =>
      val ddName = new Path(dd).getName
      entries.iterator.map { e =>
        val top = e.dir.takeWhile(_ != '/')
        if (top.startsWith(GenPrefix)) top else "<root>"
      }.filterNot(_ == ddName).toSet.size
  }

  /** Every physical directory holding data for `(dd, rel)`, per
    * partition: the manifest's recorded homes plus any physical
    * `partCol=N` dirs under the live generation itself (appends since
    * the last compact land there; rewritten partitions appear in both
    * and dedupe). No manifest → just the physical dirs (flat/legacy
    * layout, today's behavior).
    */
  private def resolvePartDirs(
      spark: SparkSession, dd: String, rel: String, partCol: String,
      manifest: Option[Seq[ManifestEntry]]): Map[Int, Seq[Path]] = {
    val root   = rootOf(dd)
    val relDir = if (rel.isEmpty) new Path(dd) else new Path(dd, rel)
    val fs     = fsOf(spark, relDir)
    val physical = partDirs(fs, relDir, partCol).toMap
    manifest match {
      case None => physical.map { case (p, d) => p -> Seq(d) }
      case Some(entries) =>
        val recorded = entries.filter(e => e.rel == rel && e.part >= 0)
          .map(e => e.part -> fs.makeQualified(new Path(root, e.dir))).toMap
        if (recorded.isEmpty) physical.map { case (p, d) => p -> Seq(d) } // rel not manifested
        else
          (recorded.keySet ++ physical.keySet).iterator.map { p =>
            val dirs = (recorded.get(p).toSeq ++ physical.get(p).map(fs.makeQualified).toSeq).distinct
            p -> dirs
          }.toMap
    }
  }

  /** [[resolvePartDirs]] for an UNPARTITIONED relation (whole-dir
    * granularity): the manifest's recorded home(s) plus the live
    * generation's own dir if present.
    */
  private def resolveFlatDirs(
      spark: SparkSession, dd: String, rel: String,
      manifest: Option[Seq[ManifestEntry]]): Seq[Path] = {
    val root   = rootOf(dd)
    val relDir = new Path(dd, rel)
    val fs     = fsOf(spark, relDir)
    val physical = if (fs.exists(relDir)) Seq(fs.makeQualified(relDir)) else Seq.empty
    manifest match {
      case None => physical
      case Some(entries) =>
        val recorded = entries.filter(e => e.rel == rel && e.part == -1)
          .map(e => fs.makeQualified(new Path(root, e.dir)))
        (recorded ++ physical).distinct
    }
  }

  /** Manifest-resolved read of a partCol-partitioned relation
    * (`rel = ""` for single-relation indexes whose data sits at the
    * generation root). Referenced dirs GROUP BY PARENT — one
    * partition-discovered scan per donor location (`basePath` = the
    * donor's relation dir, so the partition column infers exactly as a
    * plain directory read would) — and the groups union. Catalyst pushes
    * partition filters into every branch (an always-false branch prunes
    * to an empty relation at planning time), so probe-side `isin`
    * pruning is unchanged. With no manifest this is byte-for-byte
    * `spark.read.parquet(dd/rel)`.
    */
  def readRel(spark: SparkSession, dd: String, rel: String, partCol: String): DataFrame =
    readRel(spark, dd, rel, partCol, readManifest(spark, dd))

  /** [[readRel]] against an already-PARSED manifest — one manifest read
    * serves every relStats/readRel/carry call a compactor makes
    * against the same generation (several driver-side open/read
    * round-trips saved per probe on HDFS/object stores).
    */
  def readRel(
      spark: SparkSession, dd: String, rel: String, partCol: String,
      manifest: Option[Seq[ManifestEntry]]): DataFrame = {
    val relDir = if (rel.isEmpty) dd else new Path(dd, rel).toString
    if (manifest.isEmpty) return readPartitionedDirFast(spark, relDir, partCol)
    val byPart = resolvePartDirs(spark, dd, rel, partCol, manifest)
    if (byPart.isEmpty) return spark.read.parquet(relDir) // empty index: today's behavior
    val groups = byPart.values.flatten.toSeq.distinct.groupBy(_.getParent.toString)
    // Driver-side footer reads supply every branch's schema (the exact
    // schema inference with mergeSchema=false would compute — it too
    // reads a single data file's footer — minus its per-branch Spark
    // job; probes pay that job per relation per invocation). The first
    // dir's schema is the global one, and every other partition dir must
    // agree with it ([[uniformDirSchema]]).
    val schema = uniformDirSchema(spark, groups.toSeq.sortBy(_._1).flatMap(_._2.sorted))
      .map(s => StructType(
        s.fields :+ org.apache.spark.sql.types.StructField(
          partCol, org.apache.spark.sql.types.IntegerType)))
    groups.toSeq.sortBy(_._1).map { case (parent, dirs) =>
      val rd = spark.read.option("basePath", parent)
      schema.foreach(rd.schema)
      rd.parquet(dirs.map(_.toString).sorted: _*)
    }.reduce(_ unionByName _)
  }

  /** [[readRel]] for an UNPARTITIONED relation (BM25 `docs/`). */
  def readRelFlat(spark: SparkSession, dd: String, rel: String): DataFrame =
    readRelFlat(spark, dd, rel, readManifest(spark, dd))

  def readRelFlat(
      spark: SparkSession, dd: String, rel: String,
      manifest: Option[Seq[ManifestEntry]]): DataFrame = {
    val dirs = resolveFlatDirs(spark, dd, rel, manifest)
    if (dirs.isEmpty) spark.read.parquet(new Path(dd, rel).toString)
    else {
      val rd = spark.read
      footerDataSchema(spark, dirs).foreach(rd.schema)
      rd.parquet(dirs.map(_.toString): _*)
    }
  }

  /** Read a `partCol=N`-laid-out parquet directory with its data schema
    * resolved DRIVER-SIDE (one footer) instead of via the inference job.
    * Byte-for-byte `spark.read.parquet(dir)` otherwise — same file set,
    * same partition-column discovery semantics (the explicit schema
    * types `partCol` int, which is what directory inference yields for
    * every layout the index writers produce). It names the partition
    * dirs under `basePath` = `dir`, not `dir` itself: a rebuilt
    * generation carries no manifest, and naming its `_`-prefixed
    * `_gen-N` dir makes Spark log "All paths were ignored".
    */
  private def readPartitionedDirFast(
      spark: SparkSession, dir: String, partCol: String): DataFrame = {
    val dp    = new Path(dir)
    val parts = partDirs(fsOf(spark, dp), dp, partCol).map(_._2).sortBy(_.getName)
    footerDataSchema(spark, parts) match {
      case Some(s) =>
        spark.read.schema(org.apache.spark.sql.types.StructType(
          s.fields :+ org.apache.spark.sql.types.StructField(
            partCol, org.apache.spark.sql.types.IntegerType)))
          .option("basePath", dir).parquet(parts.map(_.toString): _*)
      case None => spark.read.parquet(dir)
    }
  }

  /** The `partCol=N` partition dirs directly under `dir`, with their N;
    * none when `dir` does not exist. */
  private def partDirs(fs: FileSystem, dir: Path, partCol: String): Seq[(Int, Path)] =
    try fs.listStatus(dir).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .map(st => st.getPath.getName.substring(partCol.length + 1).toInt -> st.getPath).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** A small flat `_`-prefixed artifact (the Jaccard dictionary or hot
    * set) read from its data FILES with the first file's footer schema:
    * the artifact's column types follow the caller's data (`tok` is
    * whatever the build's set-element type was — long hashed shingles are
    * as idiomatic as strings), and one driver footer read replaces the
    * schema-inference job. Naming the `_`-prefixed dir itself would make
    * Spark log "All paths were ignored". None when the dir is absent or
    * holds no data file.
    */
  def readArtifact(spark: SparkSession, dir: String): Option[DataFrame] = {
    val dp    = new Path(dir)
    val files = dataFilePaths(fsOf(spark, dp), dp)
    files.headOption.map(f => spark.read.schema(footerSchema(spark, f)).parquet(files.map(_.toString): _*))
  }

  /** The schema every partition dir of one [[readRel]] shares, from ONE
    * footer per dir (its first data file in name order), and a loud
    * failure when two dirs disagree on their EFFECTIVE Spark schema —
    * the nullability-forced column name→type map (parquet is read by
    * NAME, so column order and required/optional repetition may
    * legitimately differ between a fresh build and a compact rewrite; a
    * MISSING or type-changed column is the drift that would otherwise
    * read back as silent nulls / corrupt casts under the single global
    * schema). Every dir is checked, not one per donor generation: a
    * bucket rewritten with a drifted schema inside one generation reads
    * through the same global schema as a drifted donor. The dirs are
    * listed and their footers opened concurrently ([[footerParMap]]), so
    * the check costs one listing and one footer round-trip, not one per
    * dir. Only each dir's first file is read, so a drifted APPEND segment
    * beside a conforming base is not caught. None when no dir holds a
    * data file yet.
    */
  private def uniformDirSchema(spark: SparkSession, dirs: Seq[Path]): Option[StructType] = {
    val schemas = footerParMap(dirs)(d => firstDataFile(spark, d).map(f => f -> footerSchema(spark, f)))
      .flatten
    def typesByName(s: StructType) = s.fields.map(fl => fl.name -> fl.dataType).toMap
    schemas.headOption.foreach { case (f0, s0) =>
      schemas.drop(1).foreach { case (f, s) =>
        if (typesByName(s) != typesByName(s0)) sys.error(
          s"readRel: donor generations disagree on file schema — $f (under ${f.getParent.getParent}) " +
            s"has\n${typesByName(s)}\nbut $f0 (under ${f0.getParent.getParent}) has\n${typesByName(s0)}\n" +
            "Every partition dir of one relation, in every donor generation, must share one column " +
            "name->type set; a staged generation that widens/narrows the schema must rewrite " +
            "carried donors too.")
      }
    }
    schemas.headOption.map(_._2)
  }

  /** The FIRST data file of `d` in name order, qualified. */
  private def firstDataFile(spark: SparkSession, d: Path): Option[Path] =
    dataFilePaths(fsOf(spark, d), d).headOption

  /** The Spark schema of the FIRST data file under `dirs` (name order),
    * converted from its parquet footer on the driver — the same file
    * mergeSchema=false inference would read, without the Spark job it
    * launches to read it. None when no data file exists yet.
    */
  private def footerDataSchema(spark: SparkSession, dirs: Seq[Path]): Option[StructType] =
    dirs.iterator.flatMap(firstDataFile(spark, _)).nextOption().map(footerSchema(spark, _))

  /** One file's footer schema as Spark reads it. Nullability is forced on
    * every field: file-source inference does the same to inferred
    * schemas (HadoopFsRelation), so the explicit schema must match or
    * branch schemas could disagree.
    */
  private def footerSchema(spark: SparkSession, f: Path): StructType = {
    val msg = withFooter(spark, f)(_.getFooter.getFileMetaData.getSchema)
    val converted = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(msg)
    StructType(converted.fields.map(f =>
      f.copy(nullable = true, dataType = nullableDeep(f.dataType))))
  }

  // ---------------------------------------------- driver-side parquet reads

  /** Open `f`'s footer with the SESSION's Hadoop conf — the one way this
    * object opens a parquet file on the driver (with [[withGroups]] for
    * record reads). parquet-hadoop's one-argument
    * `ParquetFileReader.open(InputFile)` and `ParquetReader.builder(
    * readSupport, path)` each construct a fresh `new Configuration()`,
    * which re-parses `core-default.xml`/`core-site.xml` from the
    * classpath: 10–15 ms of driver CPU per file, against well under a
    * millisecond for the footer itself. The maintenance sweep opens
    * every data file's footer on every micro-batch ([[footerRowCount]]),
    * so that parse was about a quarter of a streaming ingest's CPU.
    */
  private def withFooter[T](spark: SparkSession, f: Path)(read: ParquetFileReader => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(f, conf), HadoopReadOptions.builder(conf).build())
    try read(in) finally in.close()
  }

  /** Every record of `f` as a parquet example [[Group]], read on the
    * driver with the session's Hadoop conf (see [[withFooter]]). The
    * iterator is valid only inside `read`.
    */
  private def withGroups[T](spark: SparkSession, f: Path)(read: Iterator[Group] => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rdr = new GroupReaderBuilder(HadoopInputFile.fromPath(f, conf), new HadoopParquetConfiguration(conf))
      .build()
    try read(Iterator.continually(rdr.read()).takeWhile(_ != null))
    finally rdr.close()
  }

  /** `ParquetReader.Builder`'s (InputFile, conf) constructor is protected. */
  private final class GroupReaderBuilder(f: InputFile, conf: ParquetConfiguration)
      extends ParquetReader.Builder[Group](f, conf) {
    override protected def getReadSupport: ReadSupport[Group] = new GroupReadSupport()
  }

  /** `read` applied to every path concurrently on the driver, results in
    * input order — listings and footer opens are latency-bound metadata
    * I/O (one round-trip each on an object store), not CPU.
    */
  private def footerParMap[T](paths: Seq[Path])(read: Path => T): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    if (paths.size <= 1) paths.map(read)
    else Await.result(Future.sequence(paths.map(p => Future(read(p)))), Duration.Inf)
  }

  /** Recursively mark nested element/field types nullable — the shape
    * `StructType.asNullable` (private[sql]) produces. */
  private def nullableDeep(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(nullable = true, dataType = nullableDeep(f.dataType))))
      case a: ArrayType => ArrayType(nullableDeep(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullableDeep(m.keyType), nullableDeep(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Per-partition (files present, bytes present, base files recorded,
    * base bytes recorded) of a relation — the dirtiness and byte-mass
    * signals from RECORDED metadata where a manifest exists (exact under
    * copy/restore), falling back to the flat-era listing heuristic
    * (oldest-file-is-base) otherwise. One driver-side listing per
    * physical location, zero data pages.
    */
  final case class RelPartStat(files: Int, bytes: Long, baseFiles: Int, baseBytes: Long) {
    def segments: Int = math.max(1, files - baseFiles + 1)
    def dirty: Boolean = files > baseFiles
  }

  private def dataFilesOf(fs: FileSystem, dir: Path): Seq[(String, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName -> f.getLen).toSeq

  /** The data files of `dir`, qualified, in name order. */
  private def dataFilePaths(fs: FileSystem, dir: Path): Seq[Path] =
    dataFilesOf(fs, dir).map(_._1).sorted.map(n => fs.makeQualified(new Path(dir, n)))

  def relStats(
      spark: SparkSession, dd: String, rel: String, partCol: String): Map[Int, RelPartStat] =
    relStats(spark, dd, rel, partCol, readManifest(spark, dd))

  /** [[relStats]] against an already-parsed manifest (see the [[readRel]]
    * overload). The no-manifest-entry fallback treats stream-batch files
    * (`sb-<streamId>-<batchId>-<k>.parquet` — names that ARE commit
    * claims, never a compacted base) as APPEND SEGMENTS: a partition
    * created entirely by stream appends since the last compact must not
    * read as clean-with-zero-append-mass just because its oldest file is
    * one large sb- backfill (the maxAppendByteFraction trigger exists
    * for exactly that file).
    */
  def relStats(
      spark: SparkSession, dd: String, rel: String, partCol: String,
      manifest: Option[Seq[ManifestEntry]]): Map[Int, RelPartStat] = {
    val fs = fsOf(spark, new Path(dd))
    val recordedBase: Map[Int, Seq[(String, Long)]] = manifest match {
      case Some(entries) =>
        entries.filter(e => e.rel == rel && e.part >= 0).map(e => e.part -> e.files).toMap
      case None => Map.empty
    }
    resolvePartDirs(spark, dd, rel, partCol, manifest).map { case (p, dirs) =>
      val present = dirs.flatMap(d => dataFilesOf(fs, d))
      val (bf, bb) = recordedBase.get(p) match {
        case Some(rec) => (rec.size, rec.map(_._2).sum)
        case None => // flat-era fallback: oldest NON-STREAM file is the base
          val all = dirs.flatMap(d =>
            if (!fs.exists(d)) Seq.empty
            else fs.listStatus(d).toSeq
              .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
          val base = all.filterNot(f => isStreamBatchFile(f.getPath.getName))
          if (base.isEmpty) (0, 0L)
          else (1, base.minBy(f => (f.getModificationTime, -f.getLen)).getLen)
      }
      p -> RelPartStat(present.size, present.map(_._2).sum, bf, bb)
    }
  }

  /** Data-file NAMES of an unpartitioned relation, manifest-resolved —
    * for callers that derive segment identity from names (stream-batch
    * files carry (streamId, batchId); committer files carry their write
    * job's UUID), so "how many appends" no longer assumes one file per
    * append. One driver-side listing per physical location.
    */
  def relFileNamesFlat(spark: SparkSession, dd: String, rel: String): Seq[String] = {
    val fs = fsOf(spark, new Path(dd))
    resolveFlatDirs(spark, dd, rel, readManifest(spark, dd)).flatMap(d => dataFilesOf(fs, d)).map(_._1)
  }

  // ------------------------------------------------------------- tombstones

  /** The generation's logical-delete set: parquet files of one BIGINT id
    * column under the data dir (`_`-prefixed, so relation scans skip it).
    * It dies with the rows it masks — every compaction drops it
    * ([[compact]]), and a build carries nothing.
    */
  val TombstonesName = "_graft_tombstones"

  /** LOGICAL delete: append `ids` (cast to `doc_id BIGINT`, distinct
    * within the call, one file) to the live generation's tombstone set,
    * under the writer lease. O(|ids|); no data partition is touched —
    * every read path masks the set ([[minusTombstoned]]) until a
    * compaction rewrites the rows it touches.
    */
  def appendTombstones(ids: DataFrame, idCol: String, root: String): Unit =
    append(ids.sparkSession, root)(_ => Seq(Relation.flat(TombstonesName,
      ids.select(col(idCol).cast("long").as("doc_id")).distinct().coalesce(1))))

  /** Every id row of a tombstone dir, read from its data FILES: naming
    * the `_`-prefixed dir itself makes Spark log "All paths were ignored"
    * on every read. The explicit schema skips the schema-inference job;
    * it names both columns ever written, `doc_id` now and `vec_id` in
    * older IVF tombstone files, and each file fills the one it has, so a
    * dir mixing the two loses no id. None when the dir holds no data file.
    * Each file is one path for Spark to list, so past the session's
    * parallel-discovery threshold (1024 under [[graft.SessionTuning.tune]])
    * the listing itself becomes a Spark job; one delete call writes one
    * file, and a compaction drops the set.
    */
  private def tombstoneIds(spark: SparkSession, dir: Path): Option[DataFrame] = {
    val files = dataFilePaths(fsOf(spark, dir), dir).map(_.toString)
    if (files.isEmpty) None
    else Some(spark.read.schema("doc_id BIGINT, vec_id BIGINT").parquet(files: _*)
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id")))
  }

  /** The distinct tombstoned ids (`doc_id`) of a RESOLVED data dir, None
    * when nothing was ever deleted. Probe paths resolve the generation
    * once at entry and pass that dir, so one operation never mixes the
    * tombstones of one generation with the rows of another.
    */
  def tombstones(spark: SparkSession, dd: String): Option[DataFrame] =
    tombstoneIds(spark, new Path(dd, TombstonesName)).map(_.distinct())

  /** `df` minus the rows whose `idCol` is tombstoned in the resolved data
    * dir `dd` — the mask every probe, load and compaction applies. */
  def minusTombstoned(df: DataFrame, idCol: String, dd: String): DataFrame =
    minus(df, idCol, tombstones(df.sparkSession, dd))

  /** The broadcast anti-join behind [[minusTombstoned]]: the tombstone set
    * is small by construction (a compaction drops it). */
  private def minus(df: DataFrame, idCol: String, ts: Option[DataFrame]): DataFrame = ts match {
    case Some(t) =>
      val ids = t.select(col("doc_id").as("_graft_ts_id"))
      df.join(broadcast(ids), col(idCol) === ids("_graft_ts_id"), "left_anti")
    case None => df
  }

  /** Exact DISTINCT count of a tombstone relation's ids, cheapest-correct
    * path first (guide §1/§6 — the sweep pays
    * this per index per micro-batch, and it previously cost a
    * mergeSchema-inference job plus a distributed distinct-count job):
    *  - no dir / no data file: 0 — no Spark job;
    *  - ONE data file: the footer record count. The writer contract
    *    ([[graft.operators.Dedup.deleteFromPersistedIndex]]: per-call
    *    `.distinct().coalesce(1)` append) makes a single file globally
    *    distinct — no Spark job;
    *  - several files but few total rows (footer sum ≤ 131072): the ids
    *    are re-distincted across batches DRIVER-side via the parquet
    *    Group API (~1 MB of longs at the bound) — no Spark job;
    *  - else: ONE distributed distinct-count through the tombstone
    *    reader ([[tombstoneIds]]: explicit schema, no inference job, and
    *    older `vec_id` files count by their ids).
    * Footers and records open with the session's Hadoop conf
    * ([[withFooter]], [[withGroups]]): a sub-millisecond footer each.
    */
  def tombstoneDistinctCount(spark: SparkSession, dir: String): Long = {
    val dp = new Path(dir)
    val fs = fsOf(spark, dp)
    if (!fs.exists(dp)) return 0L
    val files = dataFilePaths(fs, dp)
    if (files.isEmpty) return 0L
    def rowsOf(f: Path): Long = withFooter(spark, f)(_.getRecordCount)
    if (files.size == 1) return rowsOf(files.head)
    val total = files.map(rowsOf).sum
    if (total <= 131072L) {
      val seen = new java.util.HashSet[java.lang.Long]()
      var sawNull = false
      files.foreach { f =>
        withGroups(spark, f)(_.foreach { g =>
          val pt = g.getType.getType(0)
          require(pt.isPrimitive && pt.asPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
            s"tombstoneDistinctCount: expected a single INT64 column in $f, found ${g.getType}")
          if (g.getFieldRepetitionCount(0) == 0) sawNull = true
          else seen.add(g.getLong(0, 0))
        })
      }
      seen.size.toLong + (if (sawNull) 1L else 0L)
    } else
      tombstoneIds(spark, dp).fold(0L)(_.distinct().count())
  }

  /** Row count of a partCol-partitioned relation from PARQUET FOOTER
    * metadata alone — the same number `readRel(...).count()` returns
    * (footers record exact per-row-group counts; both count raw stored
    * rows, tombstones included), without launching a Spark job: the
    * maintenance sweep reads this once per index per micro-batch, where
    * a distributed count's two scheduler round-trips dwarf the footer
    * reads. Footers open concurrently on the driver with the session's
    * Hadoop conf ([[withFooter]]) — O(files) metadata I/O at well under a
    * millisecond of CPU each, zero data pages, the same cost class as
    * [[relStats]]' listings.
    */
  def footerRowCount(
      spark: SparkSession, dd: String, rel: String, partCol: String,
      manifest: Option[Seq[ManifestEntry]]): Long = {
    val fs = fsOf(spark, new Path(dd))
    val files = resolvePartDirs(spark, dd, rel, partCol, manifest)
      .values.flatten.toSeq.distinct
      .flatMap(d => dataFilePaths(fs, d))
    footerParMap(files)(f => withFooter(spark, f)(_.getRecordCount)).sum
  }

  // ------------------------------------------------- tiny metadata relations

  /** Driver-side read of a TINY metadata relation (single-digit rows of
    * primitive columns — the `_graft_*_meta` / `_graft_pq_stats` family,
    * written `coalesce(1)`) WITHOUT a Spark job. `spark.read.parquet +
    * head` on such a file costs a schema-inference job plus a head job
    * (two scheduler round-trips and two plan compilations) — and the
    * lifecycle gates pay that per micro-batch, per probe, per compact,
    * where it dominates the actual bytes by orders of magnitude. Reading
    * the handful of rows with parquet-hadoop's Group API on the driver
    * ([[withGroups]], with the session's Hadoop conf — no per-file conf
    * parse) is O(one footer + one page) of local I/O, the same class of
    * metadata walk as [[relStats]]. Returns one column→value map per
    * row, files in name order; INT32/INT64/DOUBLE/FLOAT/BOOLEAN/BINARY
    * (as UTF-8 String) columns only — exactly what the meta writers
    * produce. NOT for data relations: everything here is materialized
    * on the driver.
    */
  def readTinyMetaRows(spark: SparkSession, dir: String): Seq[Map[String, Any]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val dp   = new Path(dir)
    val fs   = fsOf(spark, dp)
    // BINARY decodes as UTF-8 ONLY when the footer annotates it a string —
    // an unannotated (raw bytes) column must fail loudly, not come back
    // mojibake (ADVICE r15).
    def utf8Checked(pt: org.apache.parquet.schema.PrimitiveType, read: => String): String =
      pt.getLogicalTypeAnnotation match {
        case _: org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation => read
        case ann => sys.error(
          s"readTinyMetaRows: BINARY column ${pt.getName} in $dir is not UTF8-annotated (was $ann)")
      }
    def primOf(g: Group, i: Int): Any =
      g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
        case INT32   => g.getInteger(i, 0)
        case INT64   => g.getLong(i, 0)
        case DOUBLE  => g.getDouble(i, 0)
        case FLOAT   => g.getFloat(i, 0)
        case BOOLEAN => g.getBoolean(i, 0)
        case BINARY  => utf8Checked(g.getType.getType(i).asPrimitiveType, g.getString(i, 0))
        case other   => sys.error(s"readTinyMetaRows: unsupported column type $other in $dir")
      }
    // A Spark-written ARRAY column: `optional group f (LIST) { repeated
    // group list { <element> } }` (3-level), or a legacy repeated
    // primitive (2-level). Elements come back as their primitive values.
    def listOf(g: Group, i: Int): Seq[Any] = {
      val inner = g.getGroup(i, 0)
      val it    = inner.getType
      if (it.getFieldCount != 1)
        sys.error(s"readTinyMetaRows: unsupported group shape for ${g.getType.getType(i).getName} in $dir")
      val n = inner.getFieldRepetitionCount(0)
      if (it.getType(0).isPrimitive) (0 until n).map(j =>
        it.getType(0).asPrimitiveType.getPrimitiveTypeName match {
          case INT32   => inner.getInteger(0, j)
          case INT64   => inner.getLong(0, j)
          case DOUBLE  => inner.getDouble(0, j)
          case FLOAT   => inner.getFloat(0, j)
          case BOOLEAN => inner.getBoolean(0, j)
          case BINARY  => utf8Checked(it.getType(0).asPrimitiveType, inner.getString(0, j))
          case other   => sys.error(s"readTinyMetaRows: unsupported element type $other in $dir")
        })
      else (0 until n).map(j => primOf(inner.getGroup(0, j), 0))
    }
    def rowOf(g: Group): Map[String, Any] = {
      val t = g.getType
      (0 until t.getFieldCount).flatMap { i =>
        val f = t.getType(i)
        if (g.getFieldRepetitionCount(i) == 0) None
        else if (f.isPrimitive) Some(f.getName -> primOf(g, i))
        else Some(f.getName -> listOf(g, i))
      // Null-valued fields are ABSENT from the map; accessing one must
      // name the column and the path, not throw an opaque
      // NoSuchElementException (ADVICE r15).
      }.toMap.withDefault(k =>
        sys.error(s"readTinyMetaRows: column $k is null or absent in $dir"))
    }
    dataFilesOf(fs, dp).map(_._1).sorted.flatMap { name =>
      withGroups(spark, fs.makeQualified(new Path(dp, name)))(_.map(rowOf).toList)
    }
  }

  /** [[readTinyMetaRows]]' single-row form — the shape of every index
    * meta file. Fails loudly on an empty relation (a meta that vanished
    * is corruption, not a default).
    */
  def readTinyMetaRow(spark: SparkSession, dir: String): Map[String, Any] = {
    val rows = readTinyMetaRows(spark, dir)
    require(rows.nonEmpty, s"readTinyMetaRow: no rows under $dir")
    rows.head
  }

  // ---------------------------------------------------------------- lease

  /** Roots whose lease this thread already holds, mapped to the lease's
    * fencing TOKEN — writer entry points nest (compactIndexes → family
    * compactor → append helpers), and a re-acquire of a held lease must
    * be a no-op, not a self-deadlock. The token identifies THIS
    * acquisition: the install fence ([[swapGeneration]]) re-reads the
    * lock at flip time and aborts if the token on disk is not ours.
    */
  private val held = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Run independent write thunks CONCURRENTLY under the lease(s) THIS
    * thread already holds, returning their results in input order.
    *
    * [[withWriterLease]]'s re-entrancy is thread-local, so a child
    * thread spawned inside a lease self-deadlocks re-acquiring it (it
    * waits on the parent's own lock file); this helper copies the
    * parent's held-lease context into FRESH worker threads so a
    * multi-relation populate/append overlaps its independent writes and
    * its wall time approaches max(writes) instead of sum(writes) —
    * guide §2.6 (a job's tail leaves executors idle; the next
    * independent job's tasks back-fill them). Spark's job-description /
    * scheduler-pool local properties propagate automatically
    * (SparkContext.localProperties is an InheritableThreadLocal and the
    * threads are created from the calling thread), so [[graft.Jobs]]
    * labels attribute correctly.
    *
    * Contract: thunks must be INDEPENDENT — they may not write the same
    * relation directory or read one another's output. Failures fail the
    * whole call: every thunk runs to completion (no partial-state
    * ambiguity beyond what a crash already produces at any point — the
    * callers' staged-generation / pending-batch-marker protocols cover
    * exactly these part-landed states), then the first error rethrows
    * with every other one attached via `addSuppressed`.
    */
  def inParallel[T](thunks: (() => T)*): Seq[T] = {
    require(thunks.nonEmpty, "inParallel: no thunks")
    if (thunks.size == 1) return Seq(thunks.head())
    val ctx  = held.get()
    val pend = pendingHeld.get()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val out  = new Array[Any](thunks.size)
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        held.set(ctx)        // share the parent's lease tokens (re-entrant fast path)
        pendingHeld.set(pend) // and its pending-batch markers: a nested
        // withPendingBatch in a worker must take the outermost-owns-it
        // fast path, NOT delete the shared marker while a sibling
        // relation is still installing.
        try out(i) = t()
        catch { case e: Throwable => errs.add(e) }
        finally { held.remove(); pendingHeld.remove() }
      }, s"graft-index-parallel-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(errs.poll()).foreach { first =>
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    out.toSeq.asInstanceOf[Seq[T]]
  }

  /** Shared daemon scheduler for lease heartbeats — renewals are one tiny
    * atomic file replace each, so one thread serves every concurrently
    * held lease (the family compactors hold at most a handful at once).
    */
  private lazy val heartbeatPool: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newScheduledThreadPool(1, (r: Runnable) => {
      val t = new Thread(r, "graft-index-lease-heartbeat")
      t.setDaemon(true)
      t
    })

  private def readLock(fs: FileSystem, lock: Path): String =
    try {
      val in = fs.open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } catch { case _: java.io.IOException => "" } // absent / vanished mid-read

  private def lockTokenOf(content: String): Option[String] =
    "token=(\\S+)".r.findFirstMatchIn(content).map(_.group(1))

  /** Heartbeat renewal is COMPARE-AND-SWAP, not a blind re-stamp: read
    * the lock first and replace it ONLY while the on-disk token is still
    * this acquisition's. A holder that stalled past the stale window
    * (GC pause, suspended VM) whose lock a rival broke and re-acquired
    * must NOT put its own token back — that would make the rival's
    * install fence pass for the stalled writer and the release path
    * delete the rival's live lease (the double-install interleaving the
    * fence exists to prevent). On mismatch the renewal reports the lease
    * LOST: the heartbeat cancels itself, no further stamp is written,
    * and both [[fenceOrAbort]] and the release path then fail safe off
    * the rival's on-disk token. The read→replace pair is not itself
    * atomic — in the residual millisecond race (rival breaks + acquires
    * BETWEEN our read and our rename) the rival's next CAS renewal sees
    * our token, marks ITSELF lost, and its fence aborts: either
    * interleaving ends with at most ONE writer installing.
    *
    * @return true if renewed; false if the lease is no longer ours.
    */
  private def renewLease(
      spark: SparkSession, fs: FileSystem, lock: Path, me: String, token: String): Boolean = {
    if (!lockTokenOf(readLock(fs, lock)).contains(token)) return false
    replaceSmallFile(spark, fs, lock, s"$me token=$token ts=${System.currentTimeMillis()}\n")
    true
  }

  /** Break an apparently-stale lease SAFELY: atomically rename the lock
    * aside to a tomb, verify the tomb still carries the stale content we
    * observed, and only then delete it. A plain re-read-then-delete has a
    * TOCTOU hole — a live holder's heartbeat can renew BETWEEN the
    * confirming read and the delete, and the waiter then deletes a
    * just-renewed lease (recurring every heartbeat under short staleMs).
    * The rename closes it: the renewal's atomic replace either landed
    * before the rename (tomb content differs from what we observed →
    * restore the lock by renaming the tomb back and do NOT break) or
    * lands after it (the holder's NEXT CAS renewal finds its token gone
    * and marks the lease lost — never a silent double-hold). If the
    * restore itself loses a race with a fresh acquirer, the tomb is
    * discarded: the displaced holder's CAS heartbeat marks it lost and
    * its install fence aborts, so again at most one writer installs.
    *
    * @return true if the stale lock was removed and the caller may try
    *         to acquire; false if the holder proved live (lock restored
    *         or already replaced).
    */
  private def breakStaleLease(
      spark: SparkSession, fs: FileSystem, lock: Path, observed: String): Boolean = {
    val tomb  = new Path(lock.getParent, LockName + ".tomb-" + java.util.UUID.randomUUID())
    val moved = moveNoOverwrite(spark, fs, lock, tomb) // false → vanished / someone else broke it
    if (!moved) return false
    if (readLock(fs, tomb) == observed) { // still the stale stamp — break it
      try fs.delete(tomb, false) catch { case _: java.io.IOException => () }
      true
    } else {
      // Renewed under us — put it back (no-overwrite: a rival may have
      // already created a fresh lock, in which case the displaced
      // holder's CAS heartbeat marks it lost and its fence aborts).
      val restored = moveNoOverwrite(spark, fs, tomb, lock)
      if (!restored) try fs.delete(tomb, false) catch { case _: java.io.IOException => () }
      false
    }
  }

  /** Run `body` holding the index's writer lease. Mutators (build,
    * append, tombstone delete, compact) all pass through here; concurrent
    * writers serialize, and one that cannot acquire within `waitMs`
    * fails loudly with the holder's identity instead of interleaving
    * writes.
    *
    * Liveness vs. staleness: the HOLDER re-stamps the lock file every
    * `heartbeatMs` (default `staleMs / 3`, daemon scheduler), so
    * staleness means MISSED HEARTBEATS — a dead writer's lock is broken
    * after `staleMs` of silence (logged), while a live compaction that
    * legitimately runs hours keeps renewing and is never stolen. A
    * holder that WAS stolen (paused past `staleMs` with heartbeats
    * disabled — a stop-the-world GC longer than the stale window, or a
    * suspended VM) discovers it at install time: [[swapGeneration]]
    * fences on the lease token before flipping the pointer, and the
    * release path deletes the lock only if the token on disk is still
    * this acquisition's. `heartbeatMs = 0` disables renewal (test hook
    * for exactly that stolen-lease scenario).
    */
  def withWriterLease[T](
      spark: SparkSession,
      root: String,
      // Defaults are JVM-tunable (-Dgraft.lease.waitMs/-Dgraft.lease.staleMs,
      // i.e. spark.driver.extraJavaOptions on a cluster): every mutator
      // funnels through here with the defaults, so an operator sizes the
      // wait to the job's patience and the stale window to the heartbeat
      // SLA without threading parameters through the family APIs.
      waitMs: Long = sys.props.get("graft.lease.waitMs").map(_.toLong).getOrElse(120000L),
      staleMs: Long = sys.props.get("graft.lease.staleMs").map(_.toLong).getOrElse(30L * 60 * 1000),
      heartbeatMs: Long = -1L
  )(body: => T): T = {
    val lock = new Path(root, LockName)
    val fs   = fsOf(spark, lock)
    val key  = fs.makeQualified(new Path(root)).toString
    if (held.get().contains(key)) return body // re-entrant: already ours
    val token = java.util.UUID.randomUUID().toString
    val me = s"pid=${ProcessHandle.current().pid()} thread=${Thread.currentThread().getName}"
    val stamp = () => s"$me token=$token ts=${System.currentTimeMillis()}\n"
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        fs.mkdirs(new Path(root))
        // The claim must be ATOMIC create-exclusive ([[createExclusive]]:
        // O_CREAT|O_EXCL on file: — the local checksum wrapper's
        // create(overwrite = false) is exists-then-create, a TOCTOU hole
        // two simultaneous acquirers both slip through, observed under
        // suite load — and create(overwrite = false) elsewhere, atomic on
        // HDFS and strongly-consistent object stores).
        createExclusive(fs, lock, stamp())
        acquired = true
      } catch {
        case _: java.io.IOException => // exists (or raced) — inspect holder
          val holder = readLock(fs, lock)
          val ts = "ts=(\\d+)".r.findFirstMatchIn(holder).map(_.group(1).toLong)
          if (ts.exists(System.currentTimeMillis() - _ > staleMs)) {
            log.warn(s"IndexStore: breaking stale writer lease on $root (holder: $holder)")
            // Rename-aside-verify-delete, NOT read-compare-delete: a live
            // holder's heartbeat renewing between the confirming read and
            // the delete must not lose its lease (see [[breakStaleLease]]).
            if (holder.nonEmpty) breakStaleLease(spark, fs, lock, holder)
          } else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"IndexStore: could not acquire writer lease on $root within ${waitMs}ms " +
                s"(held by: ${if (holder.isEmpty) "unknown" else holder}); " +
                "concurrent appends/compactions serialize — retry, or break the lease if the holder is dead")
          else Thread.sleep(50)
      }
    }
    // Default cadence staleMs/3 — no 1000 ms floor ABOVE the window: the
    // old max(1000, staleMs/3) silently disabled renewal whenever
    // staleMs < 1 s (every heartbeat already counted as missed). An
    // explicit heartbeatMs that can't beat the stale window is clamped
    // loudly for the same reason.
    val hbEvery = {
      val requested = if (heartbeatMs < 0) math.max(1L, staleMs / 3) else heartbeatMs
      if (requested > 0 && requested * 2 > staleMs) {
        val clamped = math.max(1L, staleMs / 3)
        log.warn(
          s"IndexStore: heartbeat ${requested}ms cannot protect a ${staleMs}ms stale window " +
            s"(needs ≤ staleMs/2) — clamping to ${clamped}ms")
        clamped
      } else requested
    }
    val hbTaskRef = new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.ScheduledFuture[_]]()
    val hbTask =
      if (hbEvery == 0) None
      else Some(heartbeatPool.scheduleAtFixedRate(
        () => try {
                if (!renewLease(spark, fs, lock, me, token)) {
                  // CAS failed: the lease was broken and (possibly)
                  // re-acquired while we stalled. Never re-stamp — stop
                  // renewing and let fenceOrAbort / the release path fail
                  // safe off the rival's on-disk token.
                  log.warn(
                    s"IndexStore: writer lease on $root LOST (token no longer on disk) — " +
                      "heartbeat stopped; any install by this writer will be fenced")
                  Option(hbTaskRef.get()).foreach(_.cancel(false))
                }
              } catch { case e: Exception =>
                log.warn(s"IndexStore: lease heartbeat on $root failed: $e") },
        hbEvery, hbEvery, java.util.concurrent.TimeUnit.MILLISECONDS))
    hbTask.foreach(hbTaskRef.set)
    held.set(held.get() + (key -> token))
    try body
    finally {
      held.set(held.get() - key)
      hbTask.foreach(_.cancel(false))
      // Release ONLY our own lease: if it was stolen while we ran, the
      // lock now carries the rival's token — deleting it would free a
      // lease we do not hold.
      try if (lockTokenOf(readLock(fs, lock)).contains(token)) fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** The fencing token of the lease THIS thread holds on `root`, if any. */
  private def heldTokenFor(spark: SparkSession, root: String): Option[String] =
    held.get().get(fsOf(spark, new Path(root)).makeQualified(new Path(root)).toString)

  // ------------------------------------------------------- generation swap

  /** Install a new generation: `populate(liveDataDir, stagedGenDir)`
    * writes the COMPLETE replacement (reading from the live dir is fine —
    * it is a sibling, never overwritten), `_`-prefixed metadata artifacts
    * the populate did not itself write are carried over when `carryMeta`
    * (a compaction; a build carries nothing) — never the tombstone set,
    * which dies with the rows it masks — the
    * pointer flips atomically, and generations older than `keepGens`
    * behind are reclaimed. Crash story: a populate that dies leaves an
    * orphan staged dir the next swap deletes and rewrites; a crash after
    * the flip leaves only over-retained old generations the next swap's
    * cleanup (or [[vacuum]]) reclaims; the flip itself is one atomic
    * CREATE of a versioned pointer file ([[flipPointer]] — rename-free,
    * object-store-safe), so a reader resolves the old or the new
    * generation, never neither, at every crash point.
    */
  private def swapGeneration(
      spark: SparkSession,
      root: String,
      carryMeta: Boolean,
      keepGens: Int = 1,
      minRetentionMs: Long = 0L
  )(populate: (String, String) => Unit): Unit =
    withWriterLease(spark, root) {
      val conf = spark.sparkContext.hadoopConfiguration
      val rp   = new Path(root)
      val fs   = fsOf(spark, rp)
      val live = dataDir(spark, root)
      val cur  = currentGeneration(spark, root)
      val next = cur + 1
      val genName = f"$GenPrefix$next%05d"
      val staged  = new Path(root, genName)
      fs.delete(staged, true) // orphan of a killed compact
      // Stream-batch files this rewrite is about to fold carry their
      // commit claim in their NAMES — token them before folding. FENCE
      // FIRST: adoption tokens batches and (for partial installs)
      // DELETES their files, so a compactor that stalled past the stale
      // window and lost its lease must abort HERE, before it can adopt
      // a rival's live mid-install batch as crashed and delete the
      // rival's files (the discard branch re-checks the lease again
      // immediately before its destructive delete).
      fenceOrAbort(spark, root, staged)
      adoptStreamBatchTokens(spark, root, live)
      graft.Jobs.labeled(spark, s"idx:compact:${rp.getName}")(populate(live, staged.toString))
      fenceOrAbort(spark, root, staged)
      if (!fs.exists(staged)) fs.mkdirs(staged) // empty index is a legal state
      if (carryMeta) {
        val livePath = new Path(live)
        fs.listStatus(livePath).foreach { st =>
          val name = st.getPath.getName
          val isMeta = name.startsWith("_") && name != "_SUCCESS" &&
            !name.startsWith(PointerName) && name != LockName && name != BatchTokensName &&
            // Never carry the OLD manifest: its homes and recorded bases
            // describe the outgoing generation. The populate writes the
            // staged generation's own (or none — legacy directory reads).
            name != ManifestName && name != RetiredMarker &&
            !name.startsWith(GenPrefix) && !name.endsWith(".tmp") && name != TombstonesName
          // populate may have written a REPLACEMENT artifact (retrained
          // centroids, refreshed dictionary) — never clobber it.
          if (isMeta && !fs.exists(new Path(staged, name)))
            FileUtil.copy(fs, st.getPath, fs, new Path(staged, name), false, conf)
        }
      }
      fenceOrAbort(spark, root, staged) // final check adjacent to the flip
      flipPointer(spark, root, genName)
      stampRetired(fs, new Path(live)) // the outgoing generation's retire time
      cleanup(spark, root, next, keepGens, minRetentionMs)
    }

  private val RetiredMarker = "_graft_retired_at"

  /** Stamp the moment a generation stopped being current — the clock
    * [[cleanup]]'s age-based retention reads. Written AFTER the flip
    * (so the marker never rides carryMeta into a new generation) into
    * the retiring directory itself; for the flat-era layout that is the
    * index root, and the marker file is reclaimed with the legacy data.
    */
  private def stampRetired(fs: FileSystem, retiringDir: Path): Unit =
    try {
      val out = fs.create(new Path(retiringDir, RetiredMarker), true)
      try out.write(s"${System.currentTimeMillis()}\n".getBytes("UTF-8"))
      finally out.close()
    } catch { case _: java.io.IOException => () } // best-effort: absent marker = conservative mtime fallback

  /** When did this generation retire? The marker when present; the
    * directory's modification time otherwise (pre-marker indexes — an
    * earlier instant than the true retire time, so the fallback reclaims
    * slightly sooner, never later, than exact accounting would).
    */
  private def retiredAtOf(fs: FileSystem, genDir: Path): Long = {
    val m = new Path(genDir, RetiredMarker)
    try {
      if (fs.exists(m)) {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } else fs.getFileStatus(genDir).getModificationTime
    } catch { case _: Exception => 0L } // unreadable → ancient (count-based behavior)
  }

  /** Install FENCE: a generation may only be published by the writer that
    * still OWNS the lease. A holder paused past the stale window (GC
    * pause, suspended VM, severed then restored network) resumes with
    * its lock long since broken — and possibly re-acquired by a rival
    * whose own compaction already installed. Publishing our (now
    * doubly-stale) generation over theirs would silently drop their
    * rows, so re-read the lock and ABORT the install when the token on
    * disk is not this acquisition's: the staged dir is deleted (it is
    * orphan work — the next swap would reclaim it anyway) and the caller
    * gets a loud exception to retry against the index's new state. Run
    * once after the (long) populate and once adjacent to the flip — the
    * generation CAS analogue of [[graft.sinks.VersionedTable]]'s
    * idempotent commit claim.
    */
  /** Is the on-disk lock token still THIS acquisition's? The cheap lease
    * re-check behind the install fence, run standalone immediately
    * before any destructive step taken on the lease's authority (the
    * adoption discard branch's file deletes).
    */
  private def leaseStillOurs(spark: SparkSession, root: String): Boolean = {
    val lock = new Path(root, LockName)
    val mine = heldTokenFor(spark, root)
    mine.nonEmpty && lockTokenOf(readLock(fsOf(spark, lock), lock)) == mine
  }

  private def fenceOrAbort(spark: SparkSession, root: String, staged: Path): Unit = {
    val lock = new Path(root, LockName)
    val fs   = fsOf(spark, lock)
    val mine = heldTokenFor(spark, root)
    val disk = lockTokenOf(readLock(fs, lock))
    if (mine.isEmpty || disk != mine) {
      try fs.delete(staged, true)
      catch { case _: java.io.IOException => () }
      throw new IllegalStateException(
        s"IndexStore: writer lease on $root lost before install " +
          s"(our token: ${mine.getOrElse("<none>")}; on disk: ${disk.getOrElse("<absent>")}) — " +
          "the lease was broken as stale and possibly re-acquired while this writer was stalled; " +
          "its staged generation was discarded, NOT installed. Re-read the index state and retry.")
    }
  }

  /** PUBLISH a generation — rename-free: CREATE `_graft_current.<n>`
    * with create-exclusive semantics. The name alone is the commit
    * (readers resolve highest-n-wins from one listing and never open
    * the file; content is informational), so the flip is atomic on
    * every filesystem with atomic create-exclusive — POSIX local, HDFS,
    * strongly-consistent object stores — where the rename-based replace
    * this supersedes was copy+delete on S3-class stores. A failed
    * create is LOUD: under the writer lease only a fenced rival (or a
    * replayed crashed swap) can have published this n, and installing
    * over it would be exactly the double-install the fence prevents.
    * After the create, older pointer files and the legacy
    * content-bearing pointer are pruned best-effort — readers that
    * already listed have their answer, and a crash here is repaired by
    * the next publish's prune.
    */
  private def flipPointer(spark: SparkSession, root: String, genName: String): Unit = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val n  = genName.stripPrefix(GenPrefix).toInt
    try createExclusive(fs, new Path(root, s"$PointerName.$n"), genName + "\n")
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"IndexStore: generation pointer $PointerName.$n at $root already exists or could not " +
            "be created — another writer published this generation (this writer was fenced or is " +
            "replaying a crashed swap); its staged work must not be installed over the rival's.", e)
    }
    versionedPointers(fs, rp).filter(_ < n).foreach { m =>
      try fs.delete(new Path(root, s"$PointerName.$m"), false)
      catch { case _: java.io.IOException => () }
    }
    try fs.delete(new Path(root, PointerName), false) // legacy pointer, superseded
    catch { case _: java.io.IOException => () }
  }

  private def genNumber(name: String): Option[Int] =
    if (name.startsWith(GenPrefix)) scala.util.Try(name.stripPrefix(GenPrefix).toInt).toOption
    else None

  /** Reclaim generations older than `keepGens` behind `current`, and —
    * once the flat-era snapshot (generation 0) ages out of the keep
    * window — the legacy data and metadata still sitting at the root.
    *
    * `minRetentionMs > 0` adds an AGE gate (Delta's
    * `deletedFileRetentionDuration` analogue): a generation is
    * reclaimable only when BOTH the count window and its time-since-
    * retire allow. Count alone is not a probe guarantee — N rapid
    * maintenance cycles (the per-batch q_index_maintain_stream shape)
    * can burn through any keepGens while one long analytical probe
    * still reads the generation it resolved at entry; an age floor
    * sized to the probe SLA cannot be outrun by compaction frequency.
    *
    * MANIFEST references gate everything above: a directory a SURVIVING
    * generation's manifest still points into is live data however old
    * the generation that physically holds it. Donor locations protected
    * only by reference are pruned to exactly the referenced subtrees
    * (bytes retained stay ∝ referenced partitions, not donor-generation
    * size); they are reclaimed by a later cleanup once the last
    * referencing survivor is itself gone or has rewritten the partition.
    * One level suffices — manifests record PHYSICAL homes, never chains.
    */
  private def cleanup(
      spark: SparkSession, root: String, current: Int, keepGens: Int, minRetentionMs: Long,
      dryRun: Boolean = false): Long = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    var reclaimed = 0L
    def treeBytes(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (st.isFile) st.getLen
      else fs.listStatus(p).map(c => if (c.isFile) c.getLen else treeBytes(c.getPath)).sum
    }
    def remove(p: Path): Unit = {
      reclaimed += (try treeBytes(p) catch { case _: java.io.IOException => 0L })
      if (!dryRun) { fs.delete(p, true); () }
    }
    val now = System.currentTimeMillis()
    def oldEnough(dir: Path): Boolean =
      minRetentionMs <= 0 || now - retiredAtOf(fs, dir) > minRetentionMs
    val entries = fs.listStatus(rp).toSeq
    // Survivors: the current generation, those inside the count window,
    // and those still inside the age window. Their manifests' referenced
    // dirs (root-relative) must outlive this cleanup.
    val survivorDirs = entries.flatMap { st =>
      genNumber(st.getPath.getName) match {
        case Some(g) if g >= current - keepGens || !oldEnough(st.getPath) => Some(st.getPath)
        case _ => None
      }
    }
    val referenced: Set[String] = survivorDirs
      .flatMap(d => readManifest(spark, d.toString).getOrElse(Seq.empty))
      .map(_.dir).toSet
    def refsUnder(topName: String): Set[String] = {
      val pfx = topName + "/"
      (if (referenced.contains(topName)) Set("") else Set.empty[String]) ++
        referenced.collect { case r if r.startsWith(pfx) => r.stripPrefix(pfx) }
    }
    // Keep exactly `keep`-relative subtrees of `base`; delete the rest.
    // "" in keep ⇒ the whole base survives. Returns true if anything kept.
    def pruneAllBut(base: Path, keep: Set[String]): Boolean =
      if (keep.contains("")) true
      else if (keep.isEmpty) { remove(base); false }
      else {
        var kept = false
        fs.listStatus(base).foreach { c =>
          val name = c.getPath.getName
          if (name == RetiredMarker) () // cheap; keeps age accounting intact
          else {
            val sub = keep.collect {
              case k if k == name => ""
              case k if k.startsWith(name + "/") => k.stripPrefix(name + "/")
            }
            if (sub.isEmpty) remove(c.getPath)
            else kept = pruneAllBut(c.getPath, sub) || kept
          }
        }
        if (!kept && !dryRun) { fs.delete(base, true); () } // children already metered
        kept
      }
    val dropLegacy = current - keepGens >= 1 && oldEnough(rp) // generation 0 out of window AND aged
    entries.foreach { st =>
      val name = st.getPath.getName
      genNumber(name) match {
        case Some(g) =>
          if (g < current - keepGens && oldEnough(st.getPath))
            pruneAllBut(st.getPath, refsUnder(name))
        case None =>
          val keep = name.startsWith(PointerName) || name == LockName ||
            name == BatchTokensName || name.endsWith(".tmp")
          if (!keep && dropLegacy) pruneAllBut(st.getPath, refsUnder(name))
      }
    }
    reclaimed
  }

  /** Drop every non-current generation NOW (and any flat-era leftovers) —
    * except, when `minRetentionMs > 0`, generations that retired less
    * than that long ago (a probe inside its SLA may still read them).
    * Call with the default only when no probe can still hold a resolved
    * old generation; the automatic cleanup in [[swapGeneration]] covers
    * the common case.
    */
  def vacuum(
      spark: SparkSession, root: String, minRetentionMs: Long = 0L,
      keepGens: Int = 0, dryRun: Boolean = false): Long = {
    val cur = currentGeneration(spark, root)
    if (cur > 0) cleanup(spark, root, cur, keepGens, minRetentionMs, dryRun) else 0L
  }

  // ------------------------------------------------ selective compaction

  /** The stream's committed high-water mark; -1 when absent/unreadable
    * (token-only behavior — the conservative fallback direction).
    */
  private def readHwmMark(fs: FileSystem, hwm: Path): Long =
    try {
      if (!fs.exists(hwm)) -1L
      else {
        val in = fs.open(hwm)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    } catch { case _: Exception => -1L }

  /** Has (streamId, batchId) already committed into `root` — its token
    * exists, or the stream's high-water mark is at or above it (the
    * token was pruned)? [[withBatchToken]] asks it before running its
    * write, and every family's public exactly-once append asks it once
    * per batch, under the writer lease, before writing anything: a
    * replay of a batch a compaction already folded (and adopted —
    * [[adoptStreamBatchTokens]]) can no longer be recognized by its file
    * names, so only the ledger can stop it from landing twice.
    */
  private[graft] def batchCommitted(
      spark: SparkSession, root: String, streamId: String, batchId: Long): Boolean = {
    require(!streamId.exists(c => c == '/' || c == '\\'), s"streamId must be path-safe: $streamId")
    val ledger = new Path(root, BatchTokensName)
    val token  = new Path(ledger, s"$streamId-$batchId")
    val fs     = fsOf(spark, token)
    if (fs.exists(token)) return true
    val mark = readHwmMark(fs, new Path(ledger, s"$streamId.hwm"))
    if (batchId <= mark) {
      log.warn(
        s"IndexStore: stream '$streamId' re-ran batch $batchId at $root, which the " +
          s"high-water-mark ($mark) records as ALREADY COMMITTED though its token was pruned — " +
          "skipping the write. If this is a NEW logical stream reusing a recreated checkpoint, " +
          "give it a fresh streamId; replaying under the old id would duplicate-append.")
      true
    } else false
  }

  /** At-most-once write per (streamId, batchId) — the foreachBatch retry
    * guard every index-mutating stream body needs: Structured Streaming
    * re-runs a failed batch with the SAME id, so `write` runs only if no
    * token for this (stream, id) exists, and the token is created AFTER
    * the write commits (the [[graft.sinks.VersionedTable.commitIdempotent]]
    * pattern at the file layer). The once-residual window between job
    * commit and token create is closed when the body routes its append
    * through [[appendExactlyOnce]] (deterministic names make the
    * retry itself converge, and compaction ADOPTS folded stream files'
    * tokens) — the token is then a fast path and a late-replay guard,
    * never the sole correctness layer.
    *
    * `streamId` namespaces the ledger: batch ids are per-QUERY, so two
    * different streams appending to the same index both have a batch 0 —
    * an unnamespaced token would make the second stream silently skip
    * its first write. The ledger self-prunes to a bounded tail per
    * stream, BACKED by a per-stream high-water-mark file
    * (`<streamId>.hwm`, atomically replaced after every commit): a
    * restart from an older checkpoint that re-runs a batchId whose token
    * was pruned is caught by the mark — the write is SKIPPED with a loud
    * warning instead of silently duplicate-appending (batch 0 would even
    * overwrite the whole index). A genuinely NEW logical stream that
    * recreates its checkpoint must use a fresh streamId — the mark
    * cannot distinguish "replayed old batch" from "new stream reusing
    * old ids", and skipping is the safe reading of both.
    * Returns true if `write` ran, false if the token or mark
    * short-circuited.
    */
  def withBatchToken(
      spark: SparkSession, root: String, streamId: String, batchId: Long)(write: => Unit): Boolean = {
    if (batchCommitted(spark, root, streamId, batchId)) return false
    write
    commitBatchToken(spark, root, streamId, batchId)
    val ledger = new Path(root, BatchTokensName)
    val fs     = fsOf(spark, ledger)
    val prefix = s"$streamId-"
    // Tail depth 16: a retry re-runs the current batch and a restart the
    // last committed one — anything deeper is covered by the mark, the
    // tail just keeps the common cases token-fast.
    fs.listStatus(ledger).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix)) {
        val id = name.substring(prefix.length)
        if (id.forall(_.isDigit) && id.nonEmpty && id.toLong < batchId - 16) fs.delete(st.getPath, false)
      }
    }
    true
  }

  // ------------------------------------------- exactly-once stream appends

  /** File-name prefix of exactly-once stream-batch appends: the name IS
    * the batch's commit claim (`sb-<streamId>-<batchId>-<k>.parquet`).
    */
  private val StreamBatchPrefix = "sb-"
  private val StreamBatchName = """^sb-(.+)-(\d+)-(\d+)\.parquet$""".r

  /** Is this data-file name an exactly-once stream-batch install
    * (`sb-<streamId>-<batchId>-<k>.parquet`)? Such a file is an APPEND
    * by construction — never a compacted base ([[relStats]]' fallback) —
    * and its (streamId, batchId) identity survives copy/restore.
    */
  private[graft] def isStreamBatchFile(name: String): Boolean =
    StreamBatchName.pattern.matcher(name).matches()

  /** The (streamId, batchId) identity of a stream-batch file name, if it
    * is one — lets relations count DISTINCT BATCHES instead of files
    * (a multi-file batch is still one append segment).
    */
  private[graft] def streamBatchIdOf(name: String): Option[(String, Long)] = name match {
    case StreamBatchName(sid, bid, _) => Some((sid, bid.toLong))
    case _                            => None
  }

  /** Pending markers this thread currently holds (nested exactly-once
    * installs — a multi-relation append brackets ALL its relations under
    * one marker, and the per-relation calls must not drop it early).
    */
  private val pendingHeld = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def pendingPath(root: String, streamId: String, batchId: Long): Path =
    new Path(new Path(root, BatchTokensName), s"$streamId-$batchId.pending")

  /** Bracket a (streamId, batchId) install with a PENDING marker: created
    * before the first byte moves into serving position, removed only
    * after the LAST install lands. The marker is what lets a compaction
    * distinguish a COMPLETE un-tokened batch (no marker → the crash fell
    * between install and token: adopt it) from a PARTIAL one (marker
    * present → the crash fell mid-install: DISCARD its files rather than
    * folding them, so the retry re-lands the whole batch — folding a
    * partial batch and tokening it would silently lose the rest forever,
    * while folding without tokening would duplicate the folded subset on
    * retry). Sound because installs and compactions serialize on the
    * writer lease: a pending marker observed by a lease-holding compact
    * can only belong to a CRASHED attempt, never a live one. Re-entrant:
    * nested calls (the multi-relation wrapper around per-relation
    * installs) keep the outermost marker.
    */
  def withPendingBatch[T](
      spark: SparkSession, root: String, streamId: String, batchId: Long)(body: => T): T = {
    val marker = pendingPath(root, streamId, batchId)
    val fs     = fsOf(spark, marker)
    val key    = fs.makeQualified(marker).toString
    if (pendingHeld.get().contains(key)) return body // nested: outermost owns it
    fs.mkdirs(marker.getParent)
    // The marker create must SUCCEED or the install must NOT run: an
    // unmarked install that crashes midway reads to a later compaction as
    // token-missing + no marker = COMPLETE, gets adopted (token + HWM
    // raised), and the retry short-circuits — the batch's un-landed
    // remainder would be lost forever. Aborting here lets Structured
    // Streaming retry the batch with no byte moved. (Overwrite-create, so
    // an already-present marker from a crashed attempt is a refresh, not
    // a failure.)
    try fs.create(marker, true).close()
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"IndexStore: could not create pending marker $marker — aborting the install before " +
            "any byte moves (an unmarked partial install would later be adopted as complete, " +
            "silently losing the batch's remainder). Retry the batch.", e)
    }
    pendingHeld.set(pendingHeld.get() + key)
    sweepStageDirs(spark, root, streamId, batchId)
    try {
      val r = body
      // Delete ONLY on success: the marker must survive a crash/exception
      // so the next compact treats the attempt as partial.
      try fs.delete(marker, false) catch { case _: java.io.IOException => () }
      r
    } finally pendingHeld.set(pendingHeld.get() - key)
  }

  /** Delete every staged-write dir a previous attempt of (streamId,
    * batchId) left at `root`: the relation-qualified
    * `.stage-<streamId>-<batchId>-<rel>` dirs and the older unqualified
    * `.stage-<streamId>-<batchId>`. Runs once per batch, at the outermost
    * [[withPendingBatch]] and before any relation stages, so concurrent
    * relation installs of this batch never delete each other's stage.
    * Stage dirs are only live inside an install, and installs serialize
    * on the writer lease, so whatever matches here is a crashed attempt's.
    */
  private def sweepStageDirs(spark: SparkSession, root: String, streamId: String, batchId: Long): Unit = {
    val rp    = new Path(root)
    val fs    = fsOf(spark, rp)
    val stage = s".stage-$streamId-$batchId"
    try fs.listStatus(rp).foreach { st =>
      val name = st.getPath.getName
      if (name == stage || name.startsWith(stage + "-")) fs.delete(st.getPath, true)
    }
    catch { case _: java.io.FileNotFoundException => () }
  }

  // ------------------------------------------------------ relation writer

  /** One relation of an index write: `name` under the data dir (`""` =
    * the data dir itself), parquet-partitioned by `partCol` or flat, and
    * its rows. Metadata and frozen artifacts (meta rows, centroids,
    * codebooks, dictionaries) are flat relations with `_`-prefixed names,
    * which relation scans skip.
    */
  final case class Relation(name: String, partCol: Option[String], rows: DataFrame)

  object Relation {
    def apply(name: String, partCol: String, rows: DataFrame): Relation = Relation(name, Some(partCol), rows)
    def flat(name: String, rows: DataFrame): Relation = Relation(name, None, rows)
  }

  private def relPath(dir: String, name: String): String =
    if (name.isEmpty) dir else new Path(dir, name).toString

  /** The one way a relation lands on disk: `repartition(partCol)` (whole
    * partitions per task, one file per partition per task) and
    * `partitionBy(partCol)`, or a plain write for a flat relation, always
    * APPENDING to `path` — a build or a compaction has emptied or freshly
    * staged its target, so several relations can land in one directory
    * tree at once without any write deleting another's. Every job carries
    * the `idx:<kind>:<relation>` label.
    */
  private def writeRel(spark: SparkSession, kind: String, path: String, r: Relation): Unit =
    graft.Jobs.labeled(spark, s"idx:$kind:${if (r.name.isEmpty) "data" else r.name}") {
      val w = r.partCol match {
        case Some(pc) => r.rows.repartition(col(pc)).write.partitionBy(pc)
        case None     => r.rows.write
      }
      w.mode("append").parquet(path)
    }

  /** Every relation of `rels` into `dir`, concurrently ([[inParallel]]). */
  private def writeAll(spark: SparkSession, kind: String, dir: String, rels: Seq[Relation]): Unit = {
    inParallel(rels.map(r => () => writeRel(spark, kind, relPath(dir, r.name), r)): _*)
    ()
  }

  /** BUILD: replace the index at `root` with exactly `rels`, under the
    * writer lease. The target is emptied once, up front, and then every
    * relation writes concurrently. A generational root gets a fresh
    * staged generation ([[swapGeneration]], nothing carried), so a
    * rebuild never interrupts serving. A flat root is cleared in place
    * except for what lives above the generations — the lease and the
    * batch ledger — so the old tombstone set and any artifact the new
    * build does not write (an earlier build's PQ codebooks or Jaccard hot
    * set) go with the old rows. A flat rebuild whose rows read the root
    * itself ([[readsUnder]]) would read what the clear deleted, so it
    * stages generation 1 instead and reads the flat data it replaces.
    */
  def build(spark: SparkSession, root: String, rels: Seq[Relation]): Unit =
    withWriterLease(spark, root) {
      if (dataDir(spark, root) != root || readsUnder(spark, root, rels))
        swapGeneration(spark, root, carryMeta = false)(
          (_, staged) => writeAll(spark, "build", staged, rels))
      else {
        val rp = new Path(root)
        val fs = fsOf(spark, rp)
        fs.listStatus(rp).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith(LockName) && n != BatchTokensName) fs.delete(st.getPath, true)
        }
        writeAll(spark, "build", root, rels)
      }
    }

  /** Does any relation's plan scan a path at or under `root`? */
  private def readsUnder(spark: SparkSession, root: String, rels: Seq[Relation]): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rq = fsOf(spark, new Path(root)).makeQualified(new Path(root)).toString
    rels.exists(_.rows.queryExecution.analyzed.exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists { p => val q = p.toString; q == rq || q.startsWith(rq + "/") }
        case _ => false
      }
      case _ => false
    })
  }

  /** PLAIN APPEND: under the writer lease, resolve the live data dir once
    * and append every relation `rels(dataDir)` declares, concurrently. */
  def append(spark: SparkSession, root: String)(rels: String => Seq[Relation]): Unit =
    withWriterLease(spark, root) {
      val dd = dataDir(spark, root)
      writeAll(spark, "append", dd, rels(dd))
    }

  /** EXACTLY-ONCE streaming append of every relation `rels(dataDir)`
    * declares, as batch (streamId, batchId). Under the writer lease: a
    * batch the ledger already records ([[batchCommitted]]) is skipped;
    * otherwise ONE pending marker ([[withPendingBatch]]) brackets every
    * relation — a crash between relations reads to a later compaction as
    * a partial batch, whose landed subset it discards — and each relation
    * installs concurrently under deterministic names ([[install]]), so a
    * foreachBatch retry converges to exactly one copy of the batch at any
    * crash point, token or no token.
    */
  def appendExactlyOnce(spark: SparkSession, root: String, streamId: String, batchId: Long)(
      rels: String => Seq[Relation]): Unit =
    withWriterLease(spark, root) {
      if (!batchCommitted(spark, root, streamId, batchId))
        withPendingBatch(spark, root, streamId, batchId) {
          val dd = dataDir(spark, root)
          inParallel(rels(dd).map(r => () => install(spark, root, dd, r, streamId, batchId)): _*)
          ()
        }
    }

  /** Install one relation of a stream batch — closes the residual window
    * [[withBatchToken]] documents (a crash between the parquet job commit
    * and the token create re-appended once on retry) by making the DATA
    * itself carry the claim:
    *
    *  1. the batch writes to a staged dir (`.stage-<stream>-<batch>-<rel>`,
    *     unique per relation so concurrent installs do not collide, and
    *     invisible to readers; a previous attempt's is gone —
    *     [[sweepStageDirs]]), then
    *  2. any files of the same (streamId, batchId) a previous (crashed,
    *     partial) attempt left in the live relation are swept, and
    *  3. the staged files move into the live partition dirs (or the live
    *     relation dir, for a flat relation) under DETERMINISTIC names
    *     `sb-<streamId>-<batchId>-<k>.parquet`.
    *
    * A retry therefore converges: it re-stages the same rows (Structured
    * Streaming replays a batchId with identical data), deletes its own
    * leftovers, and re-lands the same names. The per-file installs use the
    * atomic replace where the FS provides one and a converging
    * copy+delete where it does not ([[installDataFile]]). Compactions
    * complete the story: [[swapGeneration]] ADOPTS any stream-named files
    * it is about to fold — creating their missing batch tokens and raising
    * the high-water-mark — so a batch whose data landed but whose token
    * write crashed can never be re-appended after its rows were folded
    * beyond name-level recognition.
    */
  private def install(
      spark: SparkSession, root: String, dd: String, r: Relation, streamId: String, batchId: Long): Unit = {
    val target = new Path(relPath(dd, r.name))
    val fs     = fsOf(spark, target)
    val stage  = new Path(root, s".stage-$streamId-$batchId-${r.name}")
    writeRel(spark, "install", stage.toString, r)
    // The dirs a batch lands in: every partition dir, or the relation dir.
    def landingDirs(d: Path): Seq[Path] = r.partCol match {
      case None     => Seq(d)
      case Some(pc) => partDirs(fs, d, pc).map(_._2)
    }
    val pfx = s"$StreamBatchPrefix$streamId-$batchId-"
    landingDirs(target).foreach { d =>
      if (fs.exists(d)) fs.listStatus(d).foreach { f =>
        if (f.isFile && f.getPath.getName.startsWith(pfx)) fs.delete(f.getPath, false)
      }
    }
    landingDirs(stage).foreach { sd =>
      val dst = if (r.partCol.isEmpty) target else new Path(target, sd.getName)
      fs.mkdirs(dst)
      dataFilesOf(fs, sd).map(_._1).sorted.zipWithIndex.foreach { case (n, k) =>
        installDataFile(spark, fs, new Path(sd, n), new Path(dst, s"$pfx$k.parquet"))
      }
    }
    fs.delete(stage, true)
  }

  /** Create the (streamId, batchId) token and raise the stream's
    * high-water-mark — shared by [[withBatchToken]]'s commit path and
    * compaction's stream-file ADOPTION.
    */
  private def commitBatchToken(
      spark: SparkSession, root: String, streamId: String, batchId: Long): Unit = {
    val ledger = new Path(root, BatchTokensName)
    val hwm    = new Path(ledger, s"$streamId.hwm")
    val fs     = fsOf(spark, ledger)
    fs.mkdirs(ledger)
    try fs.create(new Path(ledger, s"$streamId-$batchId"), false).close()
    catch { case _: java.io.IOException => () } // already there
    val mark = readHwmMark(fs, hwm)
    if (batchId > mark) replaceSmallFile(spark, fs, hwm, s"$batchId\n")
  }

  /** ADOPT-or-DISCARD stream-batch files about to be folded by a
    * compaction. For every `sb-<streamId>-<batchId>-…` data file in the
    * live tree whose token is missing, the PENDING marker decides which
    * crash window the writer died in:
    *
    *  - no marker → the batch landed COMPLETELY and only the token
    *    write was lost: adopt it (create the token + raise the
    *    high-water mark) before the rewrite destroys name-level
    *    recognition, so a late replay short-circuits instead of
    *    duplicating;
    *  - marker present → the writer died MID-INSTALL and the files are
    *    a partial subset (possibly missing whole relations): DELETE
    *    them (and the marker) rather than folding — folding + tokening
    *    would silently lose the batch's missing remainder forever,
    *    while folding without tokening would duplicate the folded
    *    subset when the retry re-lands the full batch. With the files
    *    gone and no token, the retry's deterministic re-land is exactly
    *    once.
    *
    * Sound because this runs under the writer lease, which every
    * install also takes: an observed marker can only belong to a
    * crashed (or fenced) attempt, never a live one. One recursive
    * listing of the live generation's physical tree (small: dirty
    * partitions + segments).
    */
  private def adoptStreamBatchTokens(spark: SparkSession, root: String, live: String): Unit = {
    val lp = new Path(live)
    val fs = fsOf(spark, lp)
    if (!fs.exists(lp)) return
    val found = scala.collection.mutable.Map.empty[(String, Long), List[Path]]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) { if (!name.startsWith("_") && !name.startsWith(".")) walk(st.getPath) }
        else name match {
          case StreamBatchName(sid, bid, _) =>
            val k = (sid, bid.toLong)
            found.update(k, st.getPath :: found.getOrElse(k, Nil))
          case _ => ()
        }
      }
    walk(lp)
    found.toSeq.sortBy(_._1).foreach { case ((sid, bid), files) =>
      val token = new Path(new Path(root, BatchTokensName), s"$sid-$bid")
      if (!fs.exists(token)) {
        val pending = pendingPath(root, sid, bid)
        if (fs.exists(pending)) {
          // Re-verify the lease IMMEDIATELY before the destructive
          // delete: a compactor that stalled between the swap-entry fence
          // and here, lost its lease, and resumed would otherwise delete
          // what is now a RIVAL's live mid-install batch (rival's pending
          // marker present, token not yet written) — the rival completes
          // and tokens, and the deleted rows are never re-landed.
          if (!leaseStillOurs(spark, root))
            throw new IllegalStateException(
              s"IndexStore: writer lease on $root lost before discarding partial stream batch " +
                s"($sid, $bid) — the marker may belong to a live rival's in-flight install; " +
                "aborting the compaction instead of deleting its files.")
          log.warn(
            s"IndexStore: discarding PARTIAL stream batch ($sid, $bid) at $root before compaction " +
              s"(its writer crashed mid-install — pending marker present; ${files.size} partial " +
              "file(s) removed so the retry re-lands the complete batch exactly once)")
          files.foreach(f => try fs.delete(f, false) catch { case _: java.io.IOException => () })
          try fs.delete(pending, false) catch { case _: java.io.IOException => () }
        } else {
          log.info(
            s"IndexStore: compaction of $root folds stream batch ($sid, $bid), which landed " +
              "completely but has no batch token — it was appended outside withBatchToken (a " +
              "public exactly-once append), or its writer stopped between data commit and token " +
              "create. Recording its token so a replay is skipped.")
          commitBatchToken(spark, root, sid, bid)
        }
      }
    }
  }

  // ------------------------------------------------------------ compaction

  /** What a compaction does with one partitioned relation: rewrite every
    * partition (`full`), or rewrite only `dirty` and carry `carry` by
    * manifest reference.
    */
  final case class RewriteDecision(full: Boolean, dirty: Set[Int], carry: Seq[Int])

  /** The cutover every family compactor shares: a full rewrite when the
    * caller asks for one, when the relation has no partitions yet, or when
    * at least 80% of its partitions are dirty, where the full rewrite is
    * the cheaper one. Otherwise the dirty partitions are rewritten and
    * every other one is carried.
    */
  private[graft] def decideRewrite(selective: Boolean, parts: Set[Int], dirty: Set[Int]): RewriteDecision = {
    val full = !selective || parts.isEmpty || dirty.size * 5 >= parts.size * 4
    RewriteDecision(full, dirty, if (full) Nil else (parts -- dirty).toSeq.sorted)
  }

  /** COMPACT the index at `root` — the one compaction path of every
    * family. Under the writer lease it stages the next generation
    * ([[swapGeneration]]: stream-batch adoption, the install fences, the
    * pointer flip, retention by `keepGens` and `minRetentionMs`), parses
    * the live manifest ONCE, and runs `body` against a [[Compaction]]:
    * the family rewrites, writes and carries its relations through the
    * handle, which records each one's manifest entries. Then the staged
    * manifest is written from those entries, sorted by (relation,
    * partition). `_`-prefixed artifacts the body did not write are
    * carried, except the tombstone set: a compaction always drops it, so
    * the body must mask it from every per-document relation it rewrites
    * ([[Compaction.rewrite]] does) and carry only clean partitions.
    */
  def compact(spark: SparkSession, root: String, keepGens: Int, minRetentionMs: Long)(
      body: Compaction => Unit): Unit =
    swapGeneration(spark, root, carryMeta = true, keepGens, minRetentionMs) { (live, staged) =>
      val c = new Compaction(spark, root, live, staged, readManifest(spark, live))
      body(c)
      writeManifest(spark, staged, c.entries)
    }

  /** One compaction in progress ([[compact]]): the live generation it
    * replaces, the generation it stages, the live manifest parsed once,
    * and the four ways a relation reaches the staged generation, each
    * recording its manifest entries. Safe to use from concurrent
    * [[inParallel]] branches (the entries are a concurrent queue; the
    * branches must still write disjoint relations).
    */
  final class Compaction private[IndexStore] (
      spark: SparkSession,
      root: String,
      val live: String,
      val staged: String,
      val manifest: Option[Seq[ManifestEntry]]) {

    private val fs       = fsOf(spark, new Path(root))
    private val rootQ    = fs.makeQualified(new Path(root)).toString
    private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[ManifestEntry]()

    private[IndexStore] def entries: Seq[ManifestEntry] = {
      import scala.jdk.CollectionConverters._
      recorded.asScala.toSeq.sortBy(e => (e.rel, e.part))
    }

    /** `dir` as the base of (rel, part): root-relative, its data files recorded. */
    private def record(rel: String, part: Int, dir: Path): Unit = {
      recorded.add(ManifestEntry(rel, part,
        fs.makeQualified(dir).toString.stripPrefix(rootQ).stripPrefix("/"), dataFilesOf(fs, dir)))
      ()
    }

    /** Write `rels` into the staged generation, concurrently, and record
      * every data relation (a name not starting with `_`) as a fresh
      * base: one entry per partition dir, or one for a flat relation.
      * Artifacts (`_`-prefixed) win over the carry of the live ones.
      */
    def write(rels: Relation*): Unit = {
      writeAll(spark, "compact", staged, rels)
      rels.filterNot(_.name.startsWith("_")).foreach { r =>
        val relDir = new Path(relPath(staged, r.name))
        r.partCol match {
          case Some(pc) => partDirs(fs, relDir, pc).foreach { case (p, d) => record(r.name, p, d) }
          case None     => if (fs.exists(relDir)) record(r.name, -1, relDir)
        }
      }
    }

    /** Carry the clean partitions `parts` of `rel` by reference: each
      * keeps its current physical home — the live manifest's entry when
      * one exists (so reference chains never deepen), the live
      * generation's own dir otherwise (flat-era source, all present files
      * becoming the recorded base — legal because a CLEAN partition has
      * no segments).
      */
    def carry(rel: String, partCol: String, parts: Iterable[Int]): Unit = {
      val prior = manifest.getOrElse(Nil).filter(e => e.rel == rel && e.part >= 0).map(e => e.part -> e).toMap
      parts.foreach { p =>
        prior.get(p) match {
          case Some(e) => recorded.add(e)
          case None =>
            val pd = new Path(new Path(relPath(live, rel)), s"$partCol=$p")
            if (fs.exists(pd)) record(rel, p, pd)
        }
      }
    }

    /** [[carry]] for an unpartitioned relation, carried whole. */
    def carryFlat(rel: String): Unit =
      manifest.flatMap(_.find(e => e.rel == rel && e.part == -1)) match {
        case Some(e) => recorded.add(e); ()
        case None =>
          val d = new Path(live, rel)
          if (fs.exists(d)) record(rel, -1, d)
      }

    /** One compaction step of a `partCol`-partitioned relation (`rel =
      * ""` for an index whose data sits at the generation root):
      *
      *  - dirty = partitions holding append segments ([[relStats]]) ∪
      *    partitions holding a tombstoned row ∪ `alsoDirty`. With
      *    `idCol = None` the relation has no per-document rows and no
      *    tombstones are read. The tombstoned partitions come from one
      *    column-pruned (partCol, idCol) scan semi-joined to the broadcast
      *    tombstone set, or, when the partition is a function of the id
      *    (`partOfId`), from the tombstone set alone;
      *  - [[decideRewrite]] picks full or selective;
      *  - the rewritten partitions are read (`isin(dirty)` when
      *    selective), tombstone-masked, `shape`d and [[write]]n; the
      *    others are [[carry]]d.
      */
    def rewrite(
        rel: String,
        partCol: String,
        selective: Boolean,
        idCol: Option[String],
        partOfId: Option[Column => Column] = None,
        alsoDirty: Set[Int] = Set.empty,
        shape: DataFrame => DataFrame = identity
    ): RewriteDecision = {
      val stats = relStats(spark, live, rel, partCol, manifest)
      val src   = readRel(spark, live, rel, partCol, manifest)
      val ts    = idCol.flatMap(_ => tombstones(spark, live))
      val tombstoned = (idCol, ts) match {
        case (Some(id), Some(t)) => partOfId match {
          case Some(f) => t.select(f(col("doc_id"))).distinct().collect().map(_.getInt(0)).toSet
          case None    => tombstonedParts(src, partCol, id, t)
        }
        case _ => Set.empty[Int]
      }
      val d = decideRewrite(selective, stats.keySet,
        stats.filter(_._2.dirty).keySet ++ tombstoned ++ alsoDirty)
      if (d.full || d.dirty.nonEmpty) {
        val in = if (d.full) src else src.where(col(partCol).isin(d.dirty.toSeq.sorted.map(p => p: Any): _*))
        write(Relation(rel, partCol, shape(idCol.fold(in)(minus(in, _, ts)))))
      }
      carry(rel, partCol, d.carry)
      d
    }
  }

  /** Partitions holding at least one TOMBSTONED row. One column-pruned
    * scan of (partition column, id column) semi-joined to the
    * broadcast-small tombstone set: at 10⁹ rows this reads one thin
    * column, against the full-width rewrite it saves.
    */
  private def tombstonedParts(rel: DataFrame, partCol: String, idCol: String, ts: DataFrame): Set[Int] = {
    val r   = rel.select(col(partCol), col(idCol))
    val ids = ts.select(col("doc_id").as("_graft_ts_id"))
    r.join(broadcast(ids), r(idCol) === ids("_graft_ts_id"), "left_semi")
      .select(col(partCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
  }

}
