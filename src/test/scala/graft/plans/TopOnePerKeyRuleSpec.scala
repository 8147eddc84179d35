package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopOnePerKeyRuleSpec extends SparkSpec {
  // the shared session runs the rule through GraftExtensions
  import spark.implicits._

  private val df = Seq(
    (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 5L, 20L, "e"),
    (2L, 3L, 5L, "c"), (2L, 4L, 5L, "d"), (3L, 9L, 1L, "z"))
    .toDF("user_id", "event_id", "ts", "event_type")

  private def w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)

  private def windowNodes(q: org.apache.spark.sql.DataFrame) =
    q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("rewrites row_number()=1 into max_by aggregation; values identical") {
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(windowNodes(q).isEmpty, s"window survived:\n$optimized")
    assert(optimized.contains("max_by"), s"no max_by aggregate:\n$optimized")
    val out = q.select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set((1L, 5L, 20L, "e"), (2L, 4L, 5L, "d"), (3L, 9L, 1L, "z")))
  }

  test("ascending order keys rewrite to min_by; kept rn column re-binds to 1") {
    val asc = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val q = df.withColumn("rn", row_number().over(asc)).filter($"rn" === 1)
    assert(windowNodes(q).isEmpty)
    assert(q.queryExecution.optimizedPlan.toString.contains("min_by"))
    val out = q.select("user_id", "event_id", "rn").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 1L, 1), (2L, 3L, 1), (3L, 9L, 1)))
  }

  test("guards: rank(), rn=2, mixed directions, nullable keys stay window form") {
    def hasWindow(q: org.apache.spark.sql.DataFrame): Boolean =
      windowNodes(q).nonEmpty
    // rank keeps ties — not equivalent
    assert(hasWindow(df.withColumn("rn", rank().over(w)).filter($"rn" === 1)))
    // top-2 is not top-1
    assert(hasWindow(df.withColumn("rn", row_number().over(w)).filter($"rn" === 2)))
    // mixed directions have no single struct ordering
    val mixed = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".desc)
    assert(hasWindow(df.withColumn("rn", row_number().over(mixed)).filter($"rn" === 1)))
    // nullable order key: min_by skips null ords, row_number does not — bail
    val nullable = df.withColumn("mts", when($"ts" > 5, $"ts"))
    val nw = Window.partitionBy($"user_id").orderBy($"mts".asc)
    assert(hasWindow(nullable.withColumn("rn", row_number().over(nw)).filter($"rn" === 1)))
  }

  test("rewrite matches the window form on a larger random-ish dataset") {
    val big = (1 to 2000).map { i =>
      (i % 37L, i.toLong, (i * 2654435761L) % 1000L, s"e$i")
    }.toDF("user_id", "event_id", "ts", "event_type")
    def q = big.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val rewritten = q
    val reference = withoutTopKRules(q)(_.as[(Long, Long, Long, String)].collect().toSet)
    assert(rewritten.as[(Long, Long, Long, String)].collect().toSet == reference)
    assert(rewritten.queryExecution.optimizedPlan.toString.contains("max_by"))
  }
}
