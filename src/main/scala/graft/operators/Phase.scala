package graft.operators

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{Observation, Row, SparkSession}

import scala.concurrent.Await
import scala.concurrent.duration._

/** Phase plumbing shared by the multi-job operators ([[ConnectedComponents]],
  * [[PageRank]], [[HybridServe]]): every job a phase submits carries the
  * phase's name as its Spark job description, so a `SparkListener` (or the
  * UI) attributes jobs to `cc.round3` or `pagerank.round2/5` without any side
  * channel; and a metric observed on a phase's checkpoint job is read with a
  * bound, on the calling thread. */
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
