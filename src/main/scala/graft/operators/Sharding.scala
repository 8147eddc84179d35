package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.jdk.CollectionConverters._

/** Token-budget sharding — the training-output stage a 100 TB corpus build
  * ends with: carve the curated corpus into shards of ~`budgetTokens`
  * tokens each, deterministically, so a data loader can stream
  * fixed-work units and a re-run of the same corpus produces byte-identical
  * shard membership (resumable builds, reproducible ablations).
  *
  * A naive global running sum is a single-task window at scale
  * (`sum over (ORDER BY ...)` sorts the WHOLE corpus into one ordered
  * stream). This is instead the classic two-pass distributed prefix sum:
  *
  *   1. range-partition by the caller's TOTAL order and sort within
  *      partitions (one shuffle — same Exchange a global sort would need);
  *   2. per-partition token subtotals to the driver (ONE ROW PER PARTITION
  *      — bounded, like the centroid collects in IvfIndex) and exclusive
  *      prefix offsets back out as a broadcast;
  *   3. a map-side pass adds partition offset + local running sum: each
  *      row's global start offset, `shard_id = start / budgetTokens`.
  *
  * Both passes must read ONE range partitioning: every execution of a
  * range exchange samples its own boundaries (RangePartitioner seeds its
  * reservoir with the sampled RDD's id, new on each run), and subtotals
  * taken over one set of boundaries give wrong offsets on another. So both
  * passes map one RDD of the sorted, range-partitioned input: its exchange
  * samples once, and the second pass re-reads that exchange's shuffle
  * output (lost shuffle blocks are recomputed under the same boundaries).
  * The result is then the global exclusive prefix sum for any boundaries
  * the sampler drew.
  * A document landing astride a budget boundary belongs to the shard its
  * START offset falls in (shards overflow by at most one document, never
  * split one).
  *
  * `orderCols` MUST be a total order (include a unique id tiebreak):
  * ties straddling a range boundary would otherwise make prefix sums
  * ambiguous. The content-hash ordering of q46 (`sha256(text), doc_id`)
  * is the canonical choice — it decorrelates shard membership from
  * ingest order, so every shard is an unbiased corpus sample.
  *
  * The input is computed and shuffled once, by the subtotal pass when
  * `assignShards` is called; each later execution of the result re-sorts
  * the shuffled partitions, and stores nothing beyond Spark's own shuffle
  * files.
  */
object Sharding {

  /** Add `shard_id` (long, 0-based) per the token-budget prefix-sum rule.
    * `numRanges <= 0` uses spark.sql.shuffle.partitions. */
  def assignShards(df: DataFrame, tokenCol: String, budgetTokens: Long,
                   orderCols: Seq[String], numRanges: Int = 0): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(orderCols.nonEmpty, "orderCols must define a total order")
    val spark = df.sparkSession
    val n = if (numRanges > 0) numRanges
            else spark.sessionState.conf.numShufflePartitions
    val oc = orderCols.map(col)
    // null token counts weigh 0 (a null would NPE the primitive getLong)
    val withTok = df.withColumn("__tok", coalesce(col(tokenCol).cast(LongType), lit(0L)))
    val parted = withTok.repartitionByRange(n, oc: _*).sortWithinPartitions(oc: _*)
    val tokIdx = parted.schema.fieldIndex("__tok")

    // pass 1: per-partition subtotals — one (pid, sum) per partition. The
    // action builds `parted.rdd`, whose one range exchange samples the
    // boundaries; it runs as a SQL action, so listeners see its plan. An
    // action's accumulator takes each partition's successful task once
    val sums = spark.sparkContext.collectionAccumulator[(Int, Long)]("assignShards.subtotals")
    parted.foreachPartition { (it: Iterator[Row]) =>
      var s = 0L
      it.foreach(r => s += r.getLong(tokIdx))
      sums.add((TaskContext.getPartitionId(), s))
    }
    val offsets = new Array[Long](n)
    var acc = 0L
    sums.value.asScala.sortBy(_._1).foreach { case (pid, s) => offsets(pid) = acc; acc += s }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: map-side global offset = partition offset + local running
    // sum, over the same RDD and so the same boundaries
    val assigned = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = bcOffsets.value(pid)
      it.map { r =>
        val start = run
        run += r.getLong(tokIdx)
        Row.fromSeq(r.toSeq :+ (start / budgetTokens))
      }
    }
    spark.createDataFrame(assigned, parted.schema.add("shard_id", LongType, nullable = false))
      .drop("__tok")
  }

  /** Materialize shards: one directory per shard (`shard_id=K/`), and
    * return the bounded per-shard summary (shard_id, n_docs, sum_tokens)
    * the caller can persist as a manifest. The shard write re-clusters by
    * shard_id so each shard directory is written by one task (shards are
    * budget-bounded, so a shard always fits a task). */
  def writeShards(df: DataFrame, tokenCol: String, budgetTokens: Long,
                  orderCols: Seq[String], path: String,
                  numRanges: Int = 0): DataFrame = {
    val assigned = assignShards(df, tokenCol, budgetTokens, orderCols, numRanges)
    assigned.repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    assigned.sparkSession.read.parquet(path)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast(LongType)).as("sum_tokens"))
      .orderBy(col("shard_id"))
  }
}
