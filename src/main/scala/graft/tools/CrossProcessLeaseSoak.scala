package graft.tools

import graft.operators.{Dedup, IndexStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CROSS-PROCESS writer-lease soak — the daily-crawl × backfill shape
  * the in-JVM two-appender spec cannot prove: two SEPARATE JVMs (no
  * shared ThreadLocal re-entrancy set, two independent FileSystem
  * views) appending to and compacting the SAME persisted signature
  * index concurrently for ~20 interleaved cycles each. The invariant:
  * every batch either LANDS COMPLETELY or its writer fails LOUDLY —
  * the lease may serialize or reject work, it may never let two
  * committers interleave and silently lose files.
  *
  * Driver mode (default): seeds the index, forks two worker JVMs with
  * this classpath (same add-opens the build uses), waits, then audits —
  * every doc id from every cycle a worker REPORTED COMMITTED must be
  * present exactly once (band 0 row per doc), and no unreported id may
  * be present. Exit 1 on any loss/duplication.
  *
  * Worker mode (argv: worker <dir> <id> <cycles> <docs>): per cycle,
  * append a disjoint batch of new docs (ids namespaced by worker), and
  * every 5th cycle run a full compact — so compactions interleave with
  * the rival's appends and the generation-swap fence gets exercised
  * across processes. Prints `committed <cycle>` per landed batch.
  *
  * SCALE.md row: 2 workers × 20 cycles × 50 docs, zero lost rows.
  *
  * Kill mode (argv: kill): the heartbeat-staleness contract across
  * JVMs, both directions — a SIGKILLed holder's silent lease is broken
  * after `graft.lease.staleMs` and the rival lands; a LIVE holder under
  * the same short stale window keeps renewing and the rival WAITS the
  * hold out instead of stealing. See [[killDriver]].
  */
object CrossProcessLeaseSoak {

  private def docs(spark: SparkSession, ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta doc$i word${i % 7} tail${i % 3}"))
      .toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("worker") => worker(args)
    case Some("holder") => holder(args)
    case Some("single") => single(args)
    case Some("kill")   => killDriver(args)
    case _              => driver(args)
  }

  /** Acquire the writer lease and HOLD it (heartbeats on) — the victim
    * process of the kill scenario and the long-runner of the live-hold
    * scenario. Prints `holding` once the lease is acquired.
    */
  private def holder(args: Array[String]): Unit = {
    val Array(_, dir, holdMsS) = args.take(3)
    val spark = graft.Harness.session()
    IndexStore.withWriterLease(spark, dir) {
      println("holding"); Console.flush()
      Thread.sleep(holdMsS.toLong)
    }
    println("released")
    spark.stop()
  }

  /** One append batch, then exit — the rival writer of both kill-mode
    * scenarios. Prints `landed <ms>` with its own wall time.
    */
  private def single(args: Array[String]): Unit = {
    val Array(_, dir, idS) = args.take(3)
    val spark = graft.Harness.session()
    val t0 = System.nanoTime()
    val ids = (0 until 50).map(k => idS.toLong * 10000000L + k)
    Dedup.persistSignatureIndex(
      Dedup.buildSignatureIndex(docs(spark, ids), "text", "doc_id"), dir, append = true)
    println(s"landed ${(System.nanoTime() - t0) / 1000000}")
    spark.stop()
  }

  /** Kill-mode driver: cross-JVM proof of the heartbeat-staleness
    * contract, both directions.
    *
    *  1. DEAD holder: fork a holder, kill -9 it mid-hold (heartbeats
    *     stop with the process), fork a rival with
    *     `-Dgraft.lease.staleMs=5000` — it must break the silent lock
    *     after ~5 s and land its append.
    *  2. LIVE holder: fork a holder that holds 15 s under the same 5 s
    *     stale window (its heartbeats re-stamp every ~1.6 s), fork the
    *     rival immediately — it must WAIT out the hold (never steal a
    *     renewing lease) and then land.
    *
    * Audit: both appends present exactly once; scenario-2 rival wall
    * time ≥ the holder's remaining hold (it waited, didn't steal).
    */
  private def killDriver(args: Array[String]): Unit = {
    val dir   = java.nio.file.Files.createTempDirectory("graft_xproc_kill_").toString + "/idx"
    val spark = graft.Harness.session()
    Dedup.persistSignatureIndex(
      Dedup.buildSignatureIndex(docs(spark, (1L to 100L)), "text", "doc_id"), dir)

    def awaitLine(f: java.io.File, needle: String, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (f.exists() && scala.io.Source.fromFile(f).getLines().exists(_.startsWith(needle)))
          return true
        Thread.sleep(200)
      }
      false
    }
    def lastLanded(f: java.io.File): Option[Long] =
      scala.io.Source.fromFile(f).getLines()
        .collect { case l if l.startsWith("landed ") => l.split(" ")(1).toLong }
        .toSeq.lastOption

    // Scenario 1: dead holder, rival breaks after heartbeat silence.
    val (h1, ho1) = forkClass(dir, "holder", Seq(dir, "600000"), Seq("-Dgraft.lease.staleMs=5000"))
    require(awaitLine(ho1, "holding", 60000), "holder 1 never acquired")
    h1.destroyForcibly(); h1.waitFor() // SIGKILL: no release path runs
    val (r1, ro1) = forkClass(dir, "single", Seq(dir, "7"),
      Seq("-Dgraft.lease.staleMs=5000", "-Dgraft.lease.waitMs=60000"))
    val rc1 = r1.waitFor()
    val broke = lastLanded(ro1)

    // Scenario 2: live holder under the SAME short stale window — the
    // rival waits out the renewing lease instead of stealing it.
    val (h2, ho2) = forkClass(dir, "holder", Seq(dir, "15000"), Seq("-Dgraft.lease.staleMs=5000"))
    require(awaitLine(ho2, "holding", 60000), "holder 2 never acquired")
    val tRival = System.nanoTime()
    val (r2, ro2) = forkClass(dir, "single", Seq(dir, "8"),
      Seq("-Dgraft.lease.staleMs=5000", "-Dgraft.lease.waitMs=60000"))
    val rc2 = r2.waitFor()
    val rivalWallMs = (System.nanoTime() - tRival) / 1000000
    h2.waitFor()
    val heldToEnd = scala.io.Source.fromFile(ho2).getLines().exists(_.startsWith("released"))

    val got = IndexStore.readRel(spark, IndexStore.dataDir(spark, dir), "", "bucket")
      .where(col("band") === 0).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1L to 100L) ++ (0 until 50).map(k => 7L * 10000000L + k) ++
      (0 until 50).map(k => 8L * 10000000L + k)
    val missing = want.filterNot(got.contains)
    val dupes   = got.filter(_._2 != 1L)
    println(f"[xproc-kill] dead-holder: rival rc=$rc1 landed=${broke.getOrElse(-1L)} ms " +
      f"(stale window 5000) | live-holder: rival rc=$rc2 wall=$rivalWallMs ms " +
      f"(hold 15000, released=$heldToEnd) | docs missing=${missing.size} dupes=${dupes.size}")
    spark.stop()
    // broke (scenario 1) is informational only: the dead lease's 5 s
    // silence can fully elapse during the rival's own JVM/Spark startup,
    // so its observed wall has no reliable lower bound — the hard
    // invariants are that it LANDED (rc 0) with no loss/duplication.
    val stoleLive = rivalWallMs < 12000 // landed before a 15 s live hold could end
    if (rc1 != 0 || rc2 != 0 || missing.nonEmpty || dupes.nonEmpty || stoleLive || !heldToEnd)
      sys.exit(1)
  }

  private def forkClass(
      dir: String, mode: String, extra: Seq[String], props: Seq[String]): (Process, java.io.File) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val out = java.io.File.createTempFile(s"xproc_$mode", ".log")
    val cmd = Seq(javaBin) ++ addOpens ++ props ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.CrossProcessLeaseSoak", mode) ++ extra
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out)
    (pb.start(), out)
  }

  private val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def worker(args: Array[String]): Unit = {
    val Array(_, dir, idS, cyclesS, perS) = args.take(5)
    val (id, cycles, per) = (idS.toInt, cyclesS.toInt, perS.toInt)
    val spark = graft.Harness.session()
    (0 until cycles).foreach { c =>
      val ids = (0 until per).map(k => id * 10000000L + c * 10000L + k)
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(docs(spark, ids), "text", "doc_id"), dir, append = true)
      // The append ran under the lease and returned: the batch is durable.
      println(s"committed $id $c")
      if (c % 5 == 4) {
        Dedup.compactSignatureIndex(spark, dir)
        println(s"compacted $id $c")
      }
    }
    spark.stop()
  }

  private def driver(args: Array[String]): Unit = {
    val cycles = if (args.length > 0) args(0).toInt else 20
    val per    = if (args.length > 1) args(1).toInt else 50
    val dir    = java.nio.file.Files.createTempDirectory("graft_xproc_lease_").toString + "/idx"
    val spark  = graft.Harness.session()

    Dedup.persistSignatureIndex(
      Dedup.buildSignatureIndex(docs(spark, (1L to 100L)), "text", "doc_id"), dir)

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    def fork(id: Int): (Process, java.io.File) = {
      val out = java.io.File.createTempFile(s"xproc_w$id", ".log")
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.CrossProcessLeaseSoak",
        "worker", dir, id.toString, cycles.toString, per.toString)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val t0 = System.nanoTime()
    val (p1, o1) = fork(1)
    val (p2, o2) = fork(2)
    val rc1 = p1.waitFor()
    val rc2 = p2.waitFor()
    val secs = (System.nanoTime() - t0) / 1e9

    // Committed cycles per worker, from the workers' own reports.
    def committed(f: java.io.File, id: Int): Set[Int] =
      scala.io.Source.fromFile(f).getLines()
        .collect { case l if l.startsWith(s"committed $id ") => l.split(" ")(2).toInt }
        .toSet
    val c1 = committed(o1, 1)
    val c2 = committed(o2, 2)

    // Audit: one band-0 row per expected doc — no loss, no duplication.
    val expected: Set[Long] =
      (1L to 100L).toSet ++
        c1.flatMap(c => (0 until per).map(k => 1 * 10000000L + c * 10000L + k)) ++
        c2.flatMap(c => (0 until per).map(k => 2 * 10000000L + c * 10000L + k))
    val got = IndexStore.readRel(spark, IndexStore.dataDir(spark, dir), "", "bucket")
      .where(col("band") === 0).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val missing = expected.filterNot(got.contains)
    val dupes   = got.filter(_._2 != 1L)
    val stray   = got.keySet -- expected

    println(f"[xproc-lease] workers rc=($rc1,$rc2) cycles=(${c1.size},${c2.size})/$cycles " +
      f"docs=${expected.size} present=${got.size} missing=${missing.size} " +
      f"dupes=${dupes.size} stray=${stray.size} wall=$secs%.1f s")
    if (missing.nonEmpty) println(s"[xproc-lease] MISSING: ${missing.toSeq.sorted.take(20)}")
    if (dupes.nonEmpty)   println(s"[xproc-lease] DUPES: ${dupes.toSeq.sortBy(_._1).take(20)}")
    if (stray.nonEmpty)   println(s"[xproc-lease] STRAY: ${stray.toSeq.sorted.take(20)}")
    spark.stop()
    if (missing.nonEmpty || dupes.nonEmpty || stray.nonEmpty || rc1 != 0 || rc2 != 0)
      sys.exit(1)
  }
}
