package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import scala.jdk.CollectionConverters._

/** Physical-plan audit of the declared queries (SURVEY.md §4): the scale
  * properties the engine is designed around — filter pushdown into the
  * parquet scan, column pruning, broadcast star joins, partial
  * aggregation, top-k without a total sort, hash-only dedup exchanges,
  * single-exchange splitter pipelines — asserted against the REAL query
  * definitions over real (sf0.001) parquet, so a plan regression fails CI
  * rather than surfacing as a 100 TB incident. AQE query stages are leaf
  * wrappers, so assertions run on the rendered final plan after
  * materialization.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    Catalog.all.find(_.name == name).get.build(spark, sf)

  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count() // materialize so AQE settles
    settled(df.queryExecution.executedPlan)
  }

  /** A run plan rendered as it ran: AQE's final plan when adaptive. */
  private def settled(plan: SparkPlan): String = (plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }).toString

  test("q01: filters are pushed into the parquet scan and columns pruned") {
    val plan = finalPlan(q("q01_filter_project"))
    assert(plan.contains("PushedFilters: [Is"), plan.linesIterator.take(30).mkString("\n"))
    // the scan reads only the referenced lineitem columns, not all 16
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("q06: star join broadcasts every dim — no fact-side shuffle join") {
    val plan = finalPlan(q("q06_join_star"))
    assert(planCount(plan, "BroadcastHashJoin") >= 3, plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // audited at the broadcast threshold Bench times (GraftSession: 64 MB)
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) == (64L << 20))
  }

  test("q02: aggregation is two-phase (map-side partial + final)") {
    val plan = finalPlan(q("q02_agg_pricing"))
    assert(planCount(plan, "HashAggregate") >= 2, plan.take(2000))
  }

  test("q15: top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(q("q15_topk"))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q23: exact dedup shuffles the 64-byte sha, never document bodies") {
    val plan = finalPlan(q("q23_dedup_exact"))
    assert(plan.contains("Exchange hashpartitioning(text_sha"), plan.take(2000))
    // the text column must not survive past the scan's projection
    assert(!plan.contains("Exchange hashpartitioning(text#"), plan.take(2000))
  }

  test("q54/q66: splitter pipelines run on ONE explicit range exchange (no sampling re-execution)") {
    Seq("q54_structured_chunks", "q66_nested_chunks").foreach { name =>
      val plan = finalPlan(q(name))
      assert(planCount(plan, "Exchange") == 1, s"$name:\n${plan.take(2000)}")
      assert(plan.contains("Exchange rangepartitioning"), name)
    }
  }

  test("q70: the optimizer rule actually rewrites the window form to the heap operator") {
    val df = q("q70_topk_rewrite")
    assert(df.queryExecution.optimizedPlan.collect {
      case n: graft.plans.GroupTopKNode => n
    }.nonEmpty, df.queryExecution.optimizedPlan.toString)
    val plan = finalPlan(df)
    assert(planCount(plan, "GroupTopK") == 2, plan.take(2000)) // partial + final execs
  }

  test("q71: salted agg is two shuffled phases, each with map-side partials") {
    val plan = finalPlan(q("q71_salted_agg"))
    // phase 1 shuffles on (key, salt), phase 2 on key alone; each phase is
    // itself a partial+final HashAggregate pair -> 4 HashAggregates total
    assert(plan.contains("Exchange hashpartitioning(l_returnflag#") &&
      plan.contains("__salt"), plan.take(3000))
    assert(planCount(plan, "HashAggregate") >= 4, plan.take(3000))
  }

  test("q67: stream-dedup replay keeps one key exchange and one (key, arrival) sort") {
    val plan = finalPlan(q("q67_stream_dedup"))
    assert(planCount(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
    assert(planCount(plan, "Sort [") <= 2, plan.take(2000)) // replay sort + output sortWithinPartitions
  }

  test("q76: one corpus scan, benchmark grams broadcast, gram stream never shuffles") {
    val plan = finalPlan(q("q76_decontaminate"))
    // the overlap join broadcasts the benchmark grams
    assert(planCount(plan, "BroadcastHashJoin") >= 1, plan.take(3000))
    // single-pass shape: ONE scan of the documents parquet (grams computed
    // once), and the only hash exchanges are the benchmark-side distinct
    // (tiny by definition) and the per-doc count — never exploded grams
    assert(planCount(plan, "FileScan parquet") == 2, plan.take(3000)) // corpus + bench
    assert(planCount(plan, "Exchange hashpartitioning") <= 2, plan.take(3000))
  }

  test("q78: hot-line census shuffles the 8-byte line hash, never line text; rebuild has no window") {
    val plan = finalPlan(q("q78_line_dedup"))
    assert(plan.contains("Exchange hashpartitioning(lh#"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning(line#"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000)) // array_sort regroup, not a window sort
  }

  test("q79: greedy packing is ONE shard exchange + secondary sort — no window, no extra shuffle") {
    val plan = finalPlan(q("q79_sequence_packing"))
    assert(planCount(plan, "Exchange hashpartitioning") == 1, plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q33/q52/q97: the LSH fan-out cap censuses via groupBy+join — no per-band window sort") {
    // a Window.partitionBy(band) census would funnel the hot band this cap
    // exists to defuse into ONE sorting task; the groupBy form absorbs it
    // with map-side partial aggregation
    Seq("q33_minhash_near_dups", "q52_winnow_fingerprint", "q97_winnow_pairs").foreach { name =>
      val plan = finalPlan(q(name))
      assert(!plan.contains("Window"), s"$name:\n${plan.take(2000)}")
    }
  }

  test("q90/q93: the Zipf-skewed token joins broadcast the vocabulary-sized LM side") {
    Seq("q90_lm_quality" -> 1, "q93_bigram_lm" -> 2).foreach { case (name, minBhj) =>
      val plan = finalPlan(q(name))
      // LM join(s) + the 1-row total/threshold joins are all broadcast —
      // the exploded corpus side never shuffles INTO a join (the LM's own
      // vocabulary-building groupBy shuffle is fine: vocabulary-sized)
      assert(planCount(plan, "BroadcastHashJoin") >= minBhj, s"$name:\n${plan.take(3000)}")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"$name:\n${plan.take(3000)}")
    }
  }

  test("q74/q82: hash sampling is a pure map-side filter — zero exchanges before the output sort") {
    Seq("q74_sample_hash", "q82_mixture_sample").foreach { name =>
      val plan = finalPlan(q(name))
      assert(planCount(plan, "Exchange hashpartitioning") == 0, s"$name:\n${plan.take(2000)}")
      assert(plan.contains("PushedFilters") || plan.contains("Filter"), name)
    }
  }

  test("q100: shard assignment is a window-free distributed prefix sum") {
    // the oracle is a global `sum over (ORDER BY ...)` — a single-task
    // sort at scale; the engine must reproduce it with range partition +
    // broadcast offsets + map-side running sum, so the assignment side of
    // the plan has NO WindowExec and exactly one range Exchange
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = actions.add(f -> settled(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobTags waits until the shared listener queue, which also carries
    // the execution listeners, has delivered every earlier event
    val (df, _) = try jobTags(q("q100_token_shards"))
      finally spark.listenerManager.unregister(listener)
    val plan = finalPlan(df)
    assert(!plan.contains("Window"), plan.take(3000))
    // that one range exchange on the content-hash total order runs once,
    // in assignShards' subtotal action, and the assignment pass re-reads
    // its RDD: the final plan has none (its rangepartitioning is the
    // output ORDER BY), and neither half of the computation has a Window
    assert(planCount(plan, "Exchange rangepartitioning(h#") == 0, plan.take(3000))
    val passes = actions.asScala.collect { case ("foreachPartition", p) => p }.toSeq
    assert(passes.size == 1 &&
      planCount(passes.head, "Exchange rangepartitioning(h#") == 1, actions)
    assert(!passes.head.contains("Window"), passes.head.take(3000))
  }

  test("q101: bucketed fact-fact join runs with no Exchange on the join key") {
    // with broadcast off (the 100 TB condition: neither fact side fits),
    // the bucketed layout must carry the join on scan partitioning alone —
    // the only hash exchange left is the small post-join agg on priority
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = finalPlan(q("q101_bucketed_join"))
      assert(plan.contains("SortMergeJoin"), plan.take(2500))
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan.take(2500))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan.take(2500))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_q101_orders")
      spark.sql("DROP TABLE IF EXISTS graft_q101_lineitem")
    }
  }

  test("q102: BM25 scoring scans map-side into the heap prune — no scoring join, no corpus window") {
    // idf weights are driver-embedded literals, so the plan must contain NO
    // join at all; the heap prune (partial+final GroupTopK) is the only
    // aggregation-side pair, and the rank window runs on <= k rows per
    // query AFTER the prune's exchange
    val plan = finalPlan(q("q102_bm25_topk"))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(planCount(plan, "GroupTopK") == 2, plan.take(3000))
  }

  test("q106: the index builds in ONE fused census pass — heap-bounded agg, no join, no window") {
    // r15: the index build must never sort a term's full posting list AND
    // must tokenize the corpus exactly once: champion selection, df and cf
    // all ride one partially-aggregated champion_agg (its per-term heap is
    // m-bounded in both phases), rank falls out of the heap's sorted drain
    // — no stats join, no rank window, one build-side exchange
    val plan = finalPlan(q("q106_champion_index"))
    assert(planCount(plan, "champion_agg") == 2, plan.take(3000)) // partial + final
    assert(planCount(plan, "Generate explode") == 1, plan.take(3000)) // ONE census pass
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("q87: duplicated-window census is groupBy+join-back — no per-hash window sort") {
    // a corpus-hot boilerplate window must be absorbed by map-side
    // aggregate partials, never funneled into one WindowExec sort task
    val plan = finalPlan(q("q87_dup_spans"))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q92: composed corpus build carries NO per-key window — census and canonical pick are aggregates") {
    val plan = finalPlan(q("q92_corpus_build"))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q107: soft-dedup keep decision is a filter, never a per-cluster window") {
    // cluster sizes come from groupBy+join (skew-absorbed), the rate and
    // hash-bucket predicate are map-side — no WindowExec anywhere
    val plan = finalPlan(q("q107_soft_dedup"))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q108: iteration state is checkpoint-truncated — the final plan is one bounded round") {
    // every PageRank round ends in an eager localCheckpoint, so the final
    // executed plan must read scanned RDD blocks (the checkpoint), not
    // re-derive five rounds of joins; the only WindowExec belongs to the
    // per-user lag edge derivation, which is itself behind the checkpoint
    val plan = finalPlan(q("q108_pagerank"))
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }
}
