package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  test("per-group top-k matches the window-function form exactly (incl. deterministic ties)") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 5000).map(i =>
      (s"g${rnd.nextInt(20)}", i.toLong, rnd.nextInt(50))).toDF("g", "id", "score")
      .repartition(8)
    val top = GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id").asc), 3)
      .orderBy("g", "id").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .drop("rn").orderBy("g", "id").collect().toSeq
    assert(top == expected)
  }

  test("k larger than any group returns every row; k=1 returns the per-group best") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 20), ("b", 3L, 5)).toDF("g", "id", "score")
    val all = GroupTopK.topK(df, Seq("g"), Seq(col("score").desc), 10)
    assert(all.count() == 3)
    val best = GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id")), 1)
      .select("id").as[Long].collect().toSet
    assert(best == Set(2L, 3L))
  }

  test("partial-phase chunked flushing stays exact (memory bound per chunk)") {
    // flush after every 2 distinct groups: a group split across chunks
    // ships up to k rows per chunk, and the final phase re-prunes exactly
    withConf("spark.graft.topk.partialFlushGroups" -> "2") {
      val rnd = new scala.util.Random(11)
      val df = (1 to 3000).map(i =>
        (s"g${rnd.nextInt(40)}", i.toLong, rnd.nextInt(30))).toDF("g", "id", "score")
        .repartition(6)
      val top = GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id").asc), 3)
        .orderBy("g", "id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .drop("rn").orderBy("g", "id").collect().toSeq
      assert(top == expected)
    }
  }

  test("sort-based final phase: group cardinality >> partialFlushGroups stays exact under a small heap budget") {
    // 5000 distinct groups against a partial flush budget of 16: the hash
    // final would hold all 5000 groups' heaps; finalMode=sort streams them
    // behind Spark's external SortExec instead — O(1) operator state
    withConf("spark.graft.topk.partialFlushGroups" -> "16",
             "spark.graft.topk.finalMode" -> "sort") {
      val rnd = new scala.util.Random(23)
      val df = (1 to 20000).map(i =>
        (s"g${rnd.nextInt(5000)}", i.toLong, rnd.nextInt(100))).toDF("g", "id", "score")
        .repartition(8)
      val top = GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id").asc), 2)
      val plan = finalPlan(top)
      assert(plan.contains("GroupTopKSort"), plan)
      assert(plan.contains("Sort ["), plan) // EnsureRequirements inserted the external sort
      val got = top.orderBy("g", "id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .drop("rn").orderBy("g", "id").collect().toSeq
      assert(got == expected)
    }
  }

  test("finalMode=hash keeps the heap final; auto without stats defaults to hash") {
    val df = (1 to 500).map(i => (s"g${i % 5}", i.toLong, i % 13)).toDF("g", "id", "score")
      .repartition(4)
    val plan = finalPlan(GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id")), 2))
    assert(!plan.contains("GroupTopKSort"), plan)
  }

  test("ambiguous or missing group columns fail fast instead of binding silently") {
    val df = Seq(("a", 1)).toDF("g", "x")
    intercept[IllegalArgumentException] {
      GroupTopK.topK(df, Seq("nope"), Seq(col("x")), 1)
    }
    val dup = df.select(col("g"), col("x").as("v"), (col("x") * 2).as("v"))
    intercept[IllegalArgumentException] {
      GroupTopK.topK(dup, Seq("v"), Seq(col("g")), 1)
    }
  }

  test("plans two phases around one exchange: map-side partial prunes before the shuffle") {
    val df = (1 to 1000).map(i => (s"g${i % 4}", i.toLong, i % 97)).toDF("g", "id", "score")
      .repartition(8)
    val plan = finalPlan(GroupTopK.topK(df, Seq("g"), Seq(col("score").desc, col("id")), 2))
    def count(needle: String): Int = plan.sliding(needle.length).count(_ == needle)
    assert(count("GroupTopK") == 2, plan) // partial + final
    assert(count("Exchange hashpartitioning") == 1, plan) // between the phases
    // the partial phase bounds what the exchange moves: <= k * groups rows
    // per input partition (8 partitions x 4 groups x k=2 = at most 64 rows
    // shuffled out of 1000)
  }
}
