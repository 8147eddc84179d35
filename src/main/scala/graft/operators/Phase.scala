package graft.operators

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{Observation, Row, SparkSession}

import scala.concurrent.Await
import scala.concurrent.duration._

/** Phase plumbing shared by the multi-job operators ([[ConnectedComponents]],
  * [[PageRank]], [[HybridServe]]): every job a phase submits carries the
  * phase's name as its Spark job description, so a `SparkListener` (or the
  * UI) attributes jobs to `cc.round3` or `pagerank.round2/5` without any side
  * channel; two independent phases overlap on a thread of their own, never
  * on a shared pool; and a metric observed on a phase's checkpoint job is
  * read with a bound, on the calling thread (also `pipeline.Engine`'s step
  * metrics). */
private[graft] object Phase {

  private val DescriptionKey = "spark.job.description"

  /** How long an observed metric may take to arrive once the action that
    * carried it has returned. Spark delivers it with the action itself; the
    * bound turns a delivery regression into a clear error, never a hang. */
  val ObservedBound: FiniteDuration = 60.seconds

  /** Runs `body` with `desc` as the description of every Spark job it
    * submits from this thread, then restores the caller's description. */
  def described[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(DescriptionKey, caller)
  }

  /** Runs `a` on the calling thread and `b` on a fresh daemon thread, so
    * two independent phases overlap, and returns both results once both
    * are done. The thread copies the caller's Spark local properties when
    * it starts (job description, scheduler pool), which a pooled thread
    * would not: its jobs are attributed like the caller's. The thread is
    * always joined; then `a`'s failure is rethrown if it failed, else
    * `b`'s, so a check inside `a` keeps priority over `b`'s result. */
  def concurrently[A, B](a: => A)(b: => B): (A, B) = {
    var rb: Either[Throwable, B] = null
    val t = new Thread(() => rb = try Right(b) catch { case e: Throwable => Left(e) },
      "graft-phase")
    t.setDaemon(true)
    t.start()
    // join() makes the thread's write of rb visible here
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
    }
  }

  /** The metrics `obs` observed, waited for at most `bound` with no extra
    * thread. A timeout raises an error naming `operator` and `phase`. */
  def observed(obs: Observation, operator: String, phase: String,
               bound: FiniteDuration = ObservedBound): Row =
    try Await.result(obs.future, bound)
    catch { case _: TimeoutException =>
      throw new IllegalStateException(s"$operator ($phase): the metrics " +
        s"observed on the phase's job were not delivered within $bound of " +
        "the action that carried them; check the session's listener bus")
    }
}
