package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for all suites (tests fork one JVM; the session is
  * created once and never stopped mid-run). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    // same extension set as the Bench/Verify sessions, so every suite
    // exercises the plans the driver actually runs
    .withExtensions(graft.plans.GraftExtensions.install)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Occurrences of `needle` in a rendered plan string — shared by the
    * plan-shape assertions across suites. */
  def planCount(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  /** `body`'s result plus the descriptions of the described Spark jobs it
    * ran, in start order, as a `SparkListener` saw them. A marker job closes
    * the window: listener events arrive in order, so once the marker is seen
    * every earlier job has been seen too. */
  def jobTags[T](body: => T): (T, Seq[String]) = {
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      graft.operators.Phase.described(spark, marker)(spark.range(1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!tags.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains(marker), "listener bus did not deliver the marker job")
      (out, tags.asScala.toSeq.takeWhile(_ != marker))
    } finally sc.removeSparkListener(listener)
  }
}
