package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Per-step execution report (SURVEY.md §3.1 step 8; reference `StepReport`
  * wurzel/executors/base_executor.py:53-64, 348-357: load/exec/save
  * timings, input/result counts, contract metrics). Spark collapses
  * load/save into the exec plan, so one wall-time plus the observed
  * metrics covers the same information. */
final case class StepReport(
    step: String,
    history: String,
    execSeconds: Double,
    rows: Long,
    metrics: Map[String, Any],
    /** Spark-measured duration of the materializing action, captured by a
      * QueryExecutionListener keyed on this step's CollectMetrics node
      * (reference StepReport exec timing, base_executor.py:53-64) — excludes
      * driver-side plan build, unlike the wall-clock execSeconds. -1 when
      * the listener event did not arrive within the bounded wait. */
    actionSeconds: Double = -1.0)

/** Programmatic entry point (SURVEY.md §3.2; reference
  * `with BaseStepExecutor() as ex: ex(Step, inputs, out)` →
  * `Engine.run(step, inputDf): (DataFrame, StepReport)`).
  *
  * Metrics ride an `observe()` (CollectMetrics) node — they are computed in
  * the SAME pass as the materializing action, no second scan. Compose steps
  * with `Pipeline` when one fused Catalyst plan (no per-step action) is
  * wanted; `Engine.run` mirrors the reference's materialize-per-step
  * semantics and fires `finalizeStep` like the reference's finalize hook.
  */
object Engine {

  def run(step: Step, in: DataFrame): (DataFrame, StepReport) = {
    val spark = in.sparkSession
    val t0 = System.nanoTime()
    val out = step.run(in)
    val obsName = s"graft_${step.name}_${java.util.UUID.randomUUID().toString.take(8)}"
    val obs = Observation(obsName)
    val metricCols =
      if (out.columns.contains("md") && out.columns.contains("keywords"))
        count(lit(1)).as("rows") +: graft.contracts.ContractMetrics.markdownMetrics.tail
      else Seq(count(lit(1)).as("rows"))
    val observed = out.observe(obs, metricCols.head, metricCols.tail: _*)
    // Attach real per-action exec time via QueryExecutionListener, matched
    // to THIS step through its uniquely-named CollectMetrics node (A4
    // fidelity: timings come from Spark's execution callback, not only the
    // driver wall clock). Events post async; bounded poll below.
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      val capturedNs = new java.util.concurrent.atomic.AtomicLong(-1L)
      private def matches(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.logical.collectFirst {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
              if c.name == obsName => c
        }.isDefined
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (matches(qe)) capturedNs.compareAndSet(-1L, durationNs)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (rows, actionNs) = try {
      val n = observed.count() // the materializing action; observation resolves here
      var waited = 0
      while (listener.capturedNs.get() < 0 && waited < 200) { Thread.sleep(10); waited += 1 }
      (n, listener.capturedNs.get())
    } finally spark.listenerManager.unregister(listener)
    step.finalizeStep(spark)
    val row = graft.operators.Phase.observed(obs, "Engine", step.name)
    val metrics = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    val report = StepReport(
      step.name, step.name, (System.nanoTime() - t0) / 1e9, rows, metrics,
      actionSeconds = if (actionNs < 0) -1.0 else actionNs / 1e9)
    (observed, report)
  }

  /** Run a whole pipeline step-by-step with reports (reference returns
    * list[(result, StepReport)], base_executor.py:376-403). */
  def runPipeline(p: Pipeline, in: DataFrame): (DataFrame, Seq[StepReport]) = {
    var df = in
    val reports = p.steps.map { s =>
      val (out, rep) = run(s, df)
      df = out
      rep.copy(history = p.steps.takeWhile(_ != s).map(_.name).mkString("-") match {
        case "" => s.name
        case prefix => prefix + "-" + s.name
      })
    }
    (df, reports)
  }
}
