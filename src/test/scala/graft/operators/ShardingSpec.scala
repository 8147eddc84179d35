package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  // 500 docs, token weights 1..40, deterministic pseudo-random order key
  private lazy val corpus = (0 until 500)
    .map(i => (i.toLong, (i * 2654435761L % 40 + 1), f"k${i * 7919 % 500}%03d"))
    .toDF("id", "tok", "ord")

  private def windowReference(budget: Long): Seq[(Long, Long)] = {
    // the single-task global window the distributed form must reproduce
    val w = Window.orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    corpus.withColumn("start", coalesce(sum(col("tok")).over(w), lit(0L)))
      .select(col("id"), floor(col("start") / budget).cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
  }

  private def assigned(budget: Long, ranges: Int): Seq[(Long, Long)] =
    Sharding.assignShards(corpus, "tok", budget, Seq("ord", "id"), ranges)
      .select(col("id"), col("shard_id")).as[(Long, Long)].collect().sorted.toSeq

  test("distributed prefix-sum assignment equals the global window form") {
    assert(assigned(100L, 8) == windowReference(100L))
  }

  test("assignment is invariant to the number of ranges (boundary sampling)") {
    val ref = assigned(100L, 1)
    assert(assigned(100L, 3) == ref)
    assert(assigned(100L, 32) == ref)
  }

  test("assignment holds under a coarse range sampler: both passes read one partitioning") {
    // a 1-row sample per partition makes every execution of the range
    // exchange draw its own boundaries
    val ref = windowReference(100L)
    withConf("spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "1") {
      (1 to 4).foreach(_ => assert(assigned(100L, 8) == ref))
    }
  }

  test("shards are contiguous in the total order and never split a doc") {
    val rows = Sharding.assignShards(corpus, "tok", 100L, Seq("ord", "id"), 8)
      .select(col("ord"), col("id"), col("tok"), col("shard_id"))
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // shard ids are non-decreasing along the order: contiguity
    assert(rows.map(_._4) == rows.map(_._4).sorted)
    // each shard's token sum stays under budget + one overflowing doc
    val maxTok = rows.map(_._3).max
    val sums = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum)
    sums.foreach { case (sid, s) => assert(s <= 100L + maxTok, s"shard $sid sum $s") }
    // every shard but the last is actually filled to the budget
    val last = rows.map(_._4).max
    sums.filter(_._1 != last).foreach { case (sid, s) =>
      assert(s >= 100L - maxTok, s"shard $sid underfilled: $s")
    }
  }

  test("null token weights count as zero") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "tok")
    val out = Sharding.assignShards(df, "tok", 10L, Seq("id"), 2)
      .select(col("id"), col("shard_id")).as[(Long, Long)].collect().sorted.toSeq
    // starts: 0, 5, 5 -> shards 0, 0, 0
    assert(out == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("writeShards: one directory per shard, summary matches the assignment") {
    val path = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val summary = Sharding.writeShards(corpus, "tok", 500L, Seq("ord", "id"), path, 4)
      .as[(Long, Long, Long)].collect().toSeq
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted.toSeq
    assert(dirs == summary.map(s => s"shard_id=${s._1}").sorted)
    assert(summary.map(_._2).sum == 500L) // every doc in exactly one shard
    val expected = Sharding.assignShards(corpus, "tok", 500L, Seq("ord", "id"), 4)
      .groupBy("shard_id").agg(count(lit(1)), sum(col("tok")))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(summary.sortBy(_._1) == expected)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}
