package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs. One session per JVM (Test / fork := true
  * gives the suite its own JVM; getOrCreate makes suites sharing the JVM reuse it).
  */
trait SparkSpec extends AnyFunSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // Keep the session alive across suites in the same JVM — stopping it in
  // afterAll would break sibling suites; the JVM exit cleans up.

  /** Runs `body` and counts the Spark jobs it started. The listener bus is
    * asynchronous but delivers in order, so once a marker job run
    * afterwards is seen, every earlier job's start has been counted.
    */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc     = spark.sparkContext
    val jobs   = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null)) marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      marker.await(60, TimeUnit.SECONDS) shouldBe true
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}
