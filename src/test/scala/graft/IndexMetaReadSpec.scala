package graft

import graft.operators.IndexStore
import org.apache.hadoop.conf.Configuration

/** The driver-side parquet metadata reads of [[IndexStore]] open files
  * with the session's Hadoop conf. parquet-hadoop's one-argument open
  * paths construct a fresh default-loading `Configuration` per file,
  * which re-parses the classpath's core-default.xml/core-site.xml — the
  * per-batch maintenance sweep then spent most of its CPU there. Every
  * `Configuration` registers itself in the class's static weak
  * `REGISTRY`, so the new live entries across the reads count the
  * constructions (a conf collected before the count is missed, so the
  * count can only err low). Only confs that load the default resources
  * are counted: Hadoop's `openFile` builder holds its options in a
  * `new Configuration(false)` per stream, which parses nothing.
  */
class IndexMetaReadSpec extends SparkSpec {
  import spark.implicits._

  private def field(name: String) = {
    val f = classOf[Configuration].getDeclaredField(name)
    f.setAccessible(true)
    f
  }
  private val registry     = field("REGISTRY")
  private val loadDefaults = field("loadDefaults")

  private def registered(): Seq[Configuration] = classOf[Configuration].synchronized {
    val out = Seq.newBuilder[Configuration]
    registry.get(null).asInstanceOf[java.util.Map[Configuration, Object]]
      .keySet.forEach(c => if (c != null) out += c)
    out.result()
  }

  /** Default-loading Configurations constructed by `body` that are still
    * alive after it. The ones alive before are held strongly, so none of
    * them can drop out of the registry and hide a new one.
    */
  private def confsCreatedBy[T](body: => T): (T, Int) = {
    val before = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Configuration, java.lang.Boolean]())
    registered().foreach(before.add)
    val out = body
    (out, registered().count(c => !before.contains(c) && loadDefaults.getBoolean(c)))
  }

  it("reads footers, tombstones and meta rows of a 40-file relation without loading a Configuration") {
    val root = java.nio.file.Files.createTempDirectory("meta_conf").toString
    val rel  = s"$root/data"
    // 8 buckets x 5 files = 40 data files.
    spark.range(0, 400).selectExpr("id AS doc_id", "CAST(id % 8 AS INT) AS bucket")
      .repartition(5).write.partitionBy("bucket").parquet(rel)
    val ts = s"$root/tombstones"
    (0 until 3).foreach(k =>
      Seq(k.toLong, k + 10L).toDF("doc_id").coalesce(1).write.mode("append").parquet(ts))
    val meta = s"$root/meta"
    Seq((64, 128L, "x")).toDF("n", "numHashes", "tag").coalesce(1).write.parquet(meta)
    val files = new java.io.File(rel).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    files should be >= 32

    def readAll() = (
      IndexStore.footerRowCount(spark, rel, "", "bucket", None),
      IndexStore.tombstoneDistinctCount(spark, ts),
      IndexStore.readTinyMetaRow(spark, meta))
    readAll() // class loading and first-use initialization happen once
    val ((rows, tombstones, metaRow), created) = confsCreatedBy(readAll())
    rows shouldBe 400L
    tombstones shouldBe 6L
    metaRow("n") shouldBe 64
    metaRow("tag") shouldBe "x"
    created shouldBe 0
  }
}
