package graft.operators

import graft.SparkSpec

/** Co-located joins via bucketing (SURVEY.md §4 / builder guidance:
  * "repartition/bucketing for co-located joins"). Both sides bucketed on
  * the join key by the same bucket count join with NO exchange — at 100 TB
  * this removes the dominant shuffle from repeated fact-fact joins. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("joining two tables bucketed on the key runs without a shuffle exchange") {
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force non-broadcast
      val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      df.write.mode("overwrite").bucketBy(8, "k").saveAsTable("bkt_a")
      df.write.mode("overwrite").bucketBy(8, "k").saveAsTable("bkt_b")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 1000)
      // control: the same join on unbucketed data DOES shuffle
      val plain = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      val shuffled = plain.join(plain.withColumnRenamed("v", "v2"), "k")
        .queryExecution.executedPlan.toString
      assert(shuffled.contains("Exchange hashpartitioning"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
