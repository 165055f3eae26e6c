package graftbench

import graft.operators.{CorpusPipeline, Dedup}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded documents for `index_ingest`. Every staged file holds
  * [[DocGen.BatchDocs]] new documents; [[DocGen.PlantedPerBatch]] of them are
  * near-duplicates (one word replaced) of distinct initially indexed
  * documents, and a seeded share is marked to be forgotten.
  */
final class DocGen(seed: Long) {
  import DocGen._
  private val rnd   = new SplittableRandom(seed)
  private val vocab = Vector.fill(Vocabulary)(Iterator.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
  private def text(): Array[String] = Array.fill(WordsPerDoc)(vocab(rnd.nextInt(Vocabulary)))

  val initial: IndexedSeq[(Long, String)] = (1 to InitialDocs).map(i => (i.toLong, text().mkString(" ")))
  private val initialText = initial.toMap
  // Each planted duplicate copies a different initial document, so a probe
  // has exactly one right answer for it.
  private val plantSources = {
    val ids = mutable.ArrayBuffer.from(initial.map(_._1))
    (ids.indices.reverse).foreach { i => val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
    ids.iterator
  }
  private var nextId = InitialDocs.toLong

  /** (doc id, text, forget, planted source or null) */
  def batch(): IndexedSeq[(Long, String, Boolean, java.lang.Long)] = (0 until BatchDocs).map { i =>
    nextId += 1
    val forget = rnd.nextInt(1000) < ForgetPermille
    if (i < PlantedPerBatch) {
      val src   = plantSources.next()
      val words = initialText(src).split(' ')
      words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(Vocabulary))
      (nextId, words.mkString(" "), forget, java.lang.Long.valueOf(src))
    } else (nextId, text().mkString(" "), forget, null)
  }
}

object DocGen {
  val Vocabulary      = 5000
  val WordsPerDoc     = 40
  val InitialDocs     = 1000
  val BatchDocs       = 40
  val PlantedPerBatch = 4
  val ForgetPermille  = 150
  val KeyBuckets      = 8
  /** Files a run may stage: each planted duplicate needs its own initial document. */
  val MaxFiles        = InitialDocs / PlantedPerBatch - 10

  val schema: StructType = StructType(Seq(
    StructField("DOC_ID", LongType), StructField("TEXT", StringType),
    StructField("FORGET", BooleanType), StructField("PLANT_OF", LongType)))
}

/** What the foreachBatch body saw for one micro-batch. */
final case class BatchRecord(
    batchId: Long,
    startMs: Double,
    endMs: Double,
    cpuS: Double,
    cpuAtEndS: Double,
    gcS: Double,
    gcCount: Long,
    found: Int,
    planted: Int,
    action: String,
    traced: Boolean,
    indexFiles: Long,
    indexBytes: Long,
    error: Option[String])

object IndexIngest {

  /** Least share of a run's planted near-duplicates its probes must find.
    * One word changed in forty keeps a pair far above the probe's
    * similarity threshold; runs find all of them or all but one.
    */
  val MinRecall = 0.8

  /** The planted (doc, source) pairs a probe found, and an error when it
    * returned a pair that was not planted.
    */
  def checkBatch(batchId: Long, matches: Set[(Long, Long)], planted: Set[(Long, Long)]): (Int, Option[String]) = {
    val bad = matches -- planted
    (planted.count(matches), if (bad.isEmpty) None else Some(s"batch $batchId: ${bad.size} matches that were not planted"))
  }

  /** An error when a run's probes found under [[MinRecall]] of the planted
    * pairs, so that a probe returning nothing cannot pass.
    */
  def recallError(found: Int, planted: Int): Option[String] =
    if (planted > 0 && found >= MinRecall * planted) None
    else Some(s"probes found $found of $planted planted near-duplicates, under the floor of $MinRecall")
}

/** `index_ingest`: one streaming query over staged files, one file per
  * micro-batch, each batch probing, appending, forgetting and maintaining
  * a persisted signature index.
  */
final class IndexIngest(spark: SparkSession, seed: Long, work: String) {
  private var gen: DocGen = _
  private var dir: String = _
  private var src: String = _
  private var rep         = 0
  private var staged      = IndexedSeq.empty[IndexedSeq[(Long, String, Boolean, java.lang.Long)]]
  val records = mutable.ArrayBuffer.empty[BatchRecord]

  /** Writes `n` files of new documents, one per micro-batch, oldest first. */
  def stage(n: Int): Unit = {
    staged = IndexedSeq.fill(n)(gen.batch())
    val rows = staged.flatten.map { case (id, t, f, p) => Row(id, t, f, p) }
    // One slice per file, in order: part k of the write is batch k.
    spark.createDataFrame(spark.sparkContext.parallelize(rows, n), DocGen.schema).write.parquet(src)
    val parts = new java.io.File(src).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(parts.length == n, s"staged ${parts.length} files, wanted $n")
    // The file source takes files oldest first.
    parts.zipWithIndex.foreach { case (f, k) => f.setLastModified(1700000000000L + k * 1000L) }
  }

  /** Generates the documents and builds the initial index. */
  def setup(r: Int): Unit = {
    rep = r
    gen = new DocGen(seed)
    records.clear()
    dir = s"$work/r$rep/index"
    src = s"$work/r$rep/src"
    val initial = spark.createDataFrame(gen.initial.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("DOC_ID", LongType), StructField("TEXT", StringType))))
    // A thousand documents fill eight buckets; the default 64 would leave
    // most bucket files nearly empty.
    Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(initial, "TEXT", "DOC_ID"), dir, keyBuckets = DocGen.KeyBuckets)
  }

  /** Runs one AvailableNow query over the staged files, one file per
    * micro-batch. `begin(batchId)` runs before a batch's work and says
    * whether to trace it; once `stop()` holds, a batch does no work and the
    * query is stopped.
    */
  def run(stop: () => Boolean, begin: Long => Boolean, spans: Spans): StreamingQuery = {
    val sc       = spark.sparkContext
    val stopping = new java.util.concurrent.CountDownLatch(1)
    val body: (DataFrame, Long) => Unit = (b, batchId) =>
      if (stop()) stopping.countDown()
      else {
        // Streaming labels its jobs with the query's call site; clearing it
        // lets each job carry the stack of the graft call that launched it.
        sc.clearCallSite()
        val on = begin(batchId)
        spans.enabled = on
        val op      = batchId.toInt
        val planted = staged(op).collect { case (id, _, _, p) if p != null => (id, p.longValue) }.toSet
        val gc0     = Jvm.gc()
        val cpu0    = Jvm.cpuS()
        val t0      = Clock.nowMs
        val result = scala.util.Try {
          spans("batch", op) {
            val matches = spans("Dedup.probe", op)(
              Dedup.matchVsPersistedIndex(b, "TEXT", "DOC_ID", dir).select("doc_id", "matched_id").collect()
                .map(r => (r.getLong(0), r.getLong(1))).toSet)
            // IndexStore.withBatchToken is internal to graft; this public
            // append is itself exactly-once per (stream, batch id).
            spans("Dedup.append", op)(
              Dedup.appendToSignatureIndexExactlyOnce(Dedup.buildSignatureIndex(b, "TEXT", "DOC_ID"), dir, "ingest", batchId))
            spans("Dedup.forget", op)(Dedup.deleteFromPersistedIndex(b.where(col("FORGET")).select("DOC_ID"), "DOC_ID", dir))
            val action = spans("CorpusPipeline.maintain", op)(
              CorpusPipeline.maintainIndexes(spark, Seq(dir)).select("action").head().getString(0))
            (matches, action)
          }
        }
        val t1   = Clock.nowMs
        val cpu1 = Jvm.cpuS()
        val gc1  = Jvm.gc()
        val (found, action, err) = result match {
          case scala.util.Success((m, a)) =>
            val (f, e) = IndexIngest.checkBatch(batchId, m, planted)
            (f, a, e)
          case scala.util.Failure(e) => (0, "error", Some(s"batch $batchId: $e"))
        }
        records += BatchRecord(batchId, t0, t1, cpu1 - cpu0, cpu1, gc1._1 - gc0._1, gc1._2 - gc0._2,
          found, planted.size, action, on,
          if (on) Files.count(dir) else 0L, if (on) Files.bytes(dir) else 0L, err)
      }
    val q = spark.readStream.schema(DocGen.schema).option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/r$rep/checkpoint")
      .foreachBatch(body)
      .start()
    while (q.isActive && !stopping.await(20, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
    if (q.isActive) q.stop()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q
  }

  /** Documents whose batch body ran. */
  def ingested: Seq[(Long, String, Boolean, java.lang.Long)] = records.toSeq.flatMap(r => staged(r.batchId.toInt))

  /** Live ids the index must hold: initial ∪ ingested − forgotten, from the
    * generator and the batches that ran.
    */
  def expectedLive: Set[Long] =
    gen.initial.map(_._1).toSet ++ ingested.collect { case (id, _, false, _) => id }

  /** Text bytes of the documents the index should hold. */
  def liveTextBytes: Long = {
    val live = expectedLive
    (gen.initial ++ ingested.map(d => (d._1, d._2)))
      .collect { case (id, t) if live(id) => t.getBytes("UTF-8").length.toLong }.sum
  }

  def indexIds(): Set[Long] =
    Dedup.loadSignatureIndex(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet

  def indexDir: String = dir
}
