package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The harness's output: one JSON object per line, written as it happens
  * and closed at exit. Thread-safe (listener callbacks arrive on Spark's
  * listener-bus thread). */
final class Records(path: String) {
  private val w = new BufferedWriter(new FileWriter(path))

  def emit(fields: (String, Any)*): Unit = synchronized {
    w.write(Json.obj(fields))
    w.write('\n')
  }

  def check(name: String, failure: Option[String]): Unit =
    emit("t" -> "check", "name" -> name, "ok" -> failure.isEmpty, "detail" -> failure.getOrElse(""))

  def metric(name: String, value: Double, unit: String): Unit =
    emit("t" -> "metric", "name" -> name, "value" -> value, "unit" -> unit)

  def close(): Unit = synchronized(w.close())
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Spark's own listener APIs, registered by the benchmark for a traced
  * pass: job and stage records from a SparkListener, planning-phase times
  * from a QueryExecutionListener. Jobs are attributed to operations later,
  * by time interval. */
final class Tracer(spark: SparkSession, rec: Records) {
  private final class StageAcc {
    var tasks = 0; var failed = 0
    var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inB = 0L; var srB = 0L; var swB = 0L; var spillB = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val stages = mutable.HashMap.empty[(Int, Int), StageAcc]
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Seq[Int])]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, stageIds) =>
        rec.emit("t" -> "job", "id" -> e.jobId, "start" -> t0.toDouble, "end" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded), "stages" -> stageIds)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      a.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inB += m.inputMetrics.bytesRead
        a.srB += m.shuffleReadMetrics.totalBytesRead
        a.swB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages.remove((i.stageId, i.attemptNumber())).foreach { a =>
        val d = a.durations.sorted
        rec.emit("t" -> "stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
          "start" -> i.submissionTime.getOrElse(0L).toDouble,
          "end" -> i.completionTime.getOrElse(0L).toDouble,
          "tasks" -> a.tasks, "failed" -> a.failed,
          "busy_s" -> a.busyMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
          "input_b" -> a.inB, "shuffle_read_b" -> a.srB, "shuffle_write_b" -> a.swB,
          "spill_b" -> a.spillB,
          "task_max_s" -> (if (d.isEmpty) 0.0 else d.last / 1e3),
          "task_median_s" -> (if (d.isEmpty) 0.0 else d(d.size / 2) / 1e3))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.emitPhases(rec, funcName, qe, ok = true, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Tracer.emitPhases(rec, funcName, qe, ok = false, 0L)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Deregister once the listener bus has delivered every event of the
    * traced work. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Tracer {
  /** One executed QueryExecution: its planning-phase times, stamped with
    * the time its planning started (for attribution by interval). */
  def emitPhases(rec: Records, func: String, qe: QueryExecution, ok: Boolean, execNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs.toDouble)
      .getOrElse(Clock.now())
    rec.emit("t" -> "qe", "func" -> func, "ok" -> ok, "at" -> at,
      "analysis_s" -> ms("analysis") / 1e3, "optimize_s" -> ms("optimization") / 1e3,
      "planning_s" -> ms("planning") / 1e3, "exec_s" -> execNs / 1e9)
  }
}
