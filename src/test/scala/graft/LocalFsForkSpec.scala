package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.streaming.Trigger

/** Pins what [[LocalFs]] is for: after [[SessionTuning.tune]], a
  * partitioned parquet write, a `FileContext` rename and a streaming
  * query's checkpoint commits make Hadoop start no child process. The same
  * operations through Hadoop's stock local filesystem start at least one
  * each (its `chmod` and `readlink`), so the tuned half's zero is
  * meaningful. Process starts are read from a JFR recording of
  * `jdk.ProcessStart` alone; Spark's own (an `rm -rf` of a finished
  * session's artifact dir, which may land in a later operation's window)
  * are told apart by the stack that started them.
  */
class LocalFsForkSpec extends SparkSpec {

  /** Commands of the processes Hadoop code started while `body` ran. */
  private def processStartsDuring(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body
    finally r.stop()
    val dump = Files.createTempFile("process_starts", ".jfr")
    try {
      r.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
        .map(_.getString("command"))
    } finally { r.close(); Files.deleteIfExists(dump) }
  }

  private def partitionedWrite(): Unit = {
    val dir = Files.createTempDirectory("fork_write").resolve("out").toString
    spark.range(0, 16).selectExpr("id", "id % 4 AS p").write.partitionBy("p").parquet(dir)
  }

  private def overwritingRename(): Unit = {
    val hc  = spark.sparkContext.hadoopConfiguration
    val dir = new Path(Files.createTempDirectory("fork_rename").toUri)
    val fs  = dir.getFileSystem(hc)
    Seq("src", "dst").foreach { n =>
      val out = fs.create(new Path(dir, n))
      try out.write(n.getBytes("UTF-8")) finally out.close()
    }
    FileContext.getFileContext(dir.toUri, hc)
      .rename(new Path(dir, "src"), new Path(dir, "dst"), Options.Rename.OVERWRITE)
  }

  private def availableNowQuery(): Unit = {
    val dir = Files.createTempDirectory("fork_stream")
    val in  = Files.createDirectory(dir.resolve("in"))
    Seq("a", "b").foreach(n => Files.write(in.resolve(s"$n.json"), s"""{"v":"$n"}\n""".getBytes("UTF-8")))
    val q = spark.readStream.schema("v STRING").option("maxFilesPerTrigger", "1")
      .json(in.toUri.toString)
      .writeStream.format("parquet")
      .option("checkpointLocation", dir.resolve("ck").toUri.toString)
      .trigger(Trigger.AvailableNow())
      .start(dir.resolve("out").toUri.toString)
    q.awaitTermination()
  }

  private val operations = Seq(
    "partitionBy parquet write" -> (() => partitionedWrite()),
    "FileContext.rename(OVERWRITE)" -> (() => overwritingRename()),
    "two-file AvailableNow query" -> (() => availableNowQuery()))

  describe("LocalFs") {
    it("leaves writes, renames and streaming commits without child processes") {
      val hc = spark.sparkContext.hadoopConfiguration
      try {
        // Hadoop's stock bindings, with the JVM-wide cached instance dropped.
        hc.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
        hc.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
        FileSystem.getLocal(hc).close()
        FileSystem.getLocal(hc) should not be a[LocalFs.Local]
        operations.foreach { case (name, op) =>
          withClue(s"stock $name: ")(processStartsDuring(op()) should not be empty)
        }
      } finally SessionTuning.tune(spark)

      operations.foreach { case (name, op) =>
        withClue(s"tuned $name: ")(processStartsDuring(op()) shouldBe empty)
      }
    }
  }
}
