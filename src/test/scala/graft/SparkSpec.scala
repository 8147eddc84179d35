package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for all suites (tests fork one JVM; the session is
  * created once and never stopped mid-run). */
object TestSpark {
  /** Bench's session at a fixed 4 cores, so suites see 4 shuffle partitions
    * on any machine. */
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` with the session confs `kv` set; afterwards each key gets its
    * prior value back, or is unset if it had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `read` over `q` planned with the engine's top-k rewrites
    * (TopOnePerKeyRule, TopKPerKeyRule) excluded from the optimizer: the
    * plain window form a rewrite must match. Asserts that the plan really
    * has neither rewrite in it. */
  def withoutTopKRules[T](q: => org.apache.spark.sql.DataFrame)(
      read: org.apache.spark.sql.DataFrame => T): T =
    withConf("spark.sql.optimizer.excludedRules" ->
        "graft.plans.TopOnePerKeyRule,graft.plans.TopKPerKeyRule") {
      val df = q
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case n: graft.plans.GroupTopKNode => n }.isEmpty &&
        !plan.toString.contains("max_by"), plan.toString)
      read(df)
    }

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
