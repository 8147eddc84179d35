package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerKeyRuleSpec extends SparkSpec {
  // the shared session runs the rules and the strategy through GraftExtensions
  import spark.implicits._

  private val df = Seq(
    (1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L), (1L, 4L, 40L),
    (2L, 5L, 5L), (2L, 6L, 15L), (3L, 7L, 1L))
    .toDF("g", "id", "score")

  private def w = Window.partitionBy($"g").orderBy($"score".desc, $"id")

  private def topKNodes(q: org.apache.spark.sql.DataFrame) =
    q.queryExecution.optimizedPlan.collect { case n: GroupTopKNode => n }

  test("rn <= k rewrites to heap top-k under the ranking window; filter dropped; values identical") {
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    assert(topKNodes(q).nonEmpty)
    assert(!q.queryExecution.optimizedPlan.toString.contains("Filter"))
    val got = q.orderBy("g", "rn").as[(Long, Long, Long, Int)].collect().toSeq
    val expected = withoutTopKRules(
      df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2).orderBy("g", "rn"))(
      _.as[(Long, Long, Long, Int)].collect().toSeq)
    assert(got == expected)
  }

  test("k=1 with uniform directions is claimed by the min_by/max_by rule, not the heap") {
    val uniform = Window.partitionBy($"g").orderBy($"score".desc, $"id".desc)
    val q = df.withColumn("rn", row_number().over(uniform)).filter($"rn" === 1)
    assert(topKNodes(q).isEmpty) // TopOnePerKeyRule rewrote to Aggregate first
    assert(q.queryExecution.optimizedPlan.toString.contains("max_by"))
  }

  test("k=1 with mixed sort directions falls through to the heap rewrite") {
    val mixed = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    // TopOne bails on mixed directions only when they differ; make them differ
    val q = df.withColumn("rn", row_number().over(mixed)).filter($"rn" <= 1)
    // either rule may claim it depending on guards; the plan must have no
    // window-over-full-data + filter left
    val s = q.queryExecution.optimizedPlan.toString
    assert(topKNodes(q).nonEmpty || s.contains("max_by"), s)
    assert(q.select("id").as[Long].collect().toSet == Set(4L, 6L, 7L))
  }

  test("an inferred WindowGroupLimit is replaced, not stacked under the heap") {
    // Spark's InferWindowGroupLimit runs in an earlier batch than
    // session-installed rules; without the strip the heap would nest under
    // WGL's per-partition sorts — the exact cost it exists to avoid
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    val optimized = q.queryExecution.optimizedPlan
    assert(optimized.collect { case n: GroupTopKNode => n }.nonEmpty)
    assert(optimized.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => n
    }.isEmpty, optimized.toString)
    // physical: exactly one exchange; the only Sort is the k-row ranking
    // window's (the raw input is never sorted)
    q.collect()
    val plan = (q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(planCount(plan, "Exchange hashpartitioning") == 1, plan)
    assert(planCount(plan, "Sort [") == 1, plan)
  }

  test("mirrored k > rn form rewrites like rn < k") {
    val q = df.withColumn("rn", row_number().over(w)).filter(lit(3) > $"rn")
    assert(topKNodes(q).exists(_.k == 2))
  }

  test("nondeterministic partition exprs arrive materialized (analyzer project), keeping the rewrite sound") {
    // ExtractWindowExpressions pulls non-trivial partition/order exprs into
    // a child Project, so rand() is evaluated ONCE per row as a column and
    // the window (and the heap node) group by the materialized attribute —
    // the rule's determinism guard is defense-in-depth for direct plans
    val salted = Window.partitionBy($"g", floor(rand(1) * 10)).orderBy($"score".desc, $"id")
    val q = df.withColumn("rn", row_number().over(salted)).filter($"rn" <= 2)
    val nodes = topKNodes(q)
    assert(nodes.nonEmpty)
    assert(nodes.head.grouping.forall(e =>
      e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference] && e.deterministic))
  }

  test("guards: rank(), huge k, and rank-2-only filters stay in window form") {
    val r = df.withColumn("rn", rank().over(w)).filter($"rn" <= 2)
    assert(topKNodes(r).isEmpty)
    val huge = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 200000)
    assert(topKNodes(huge).isEmpty)
    val eq2 = df.withColumn("rn", row_number().over(w)).filter($"rn" === 2)
    assert(topKNodes(eq2).isEmpty)
  }

  test("NULL order keys keep exact window semantics through the rewrite") {
    val withNulls = Seq(
      (1L, 1L, Some(10L)), (1L, 2L, None), (1L, 3L, Some(30L)),
      (2L, 4L, None), (2L, 5L, None))
      .toDF("g", "id", "score")
    val wn = Window.partitionBy($"g").orderBy($"score".desc_nulls_last, $"id")
    val q = withNulls.withColumn("rn", row_number().over(wn)).filter($"rn" <= 2)
    assert(topKNodes(q).nonEmpty)
    val got = q.orderBy("g", "rn").select("g", "id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (1L, 1L), (2L, 4L), (2L, 5L)))
  }
}
