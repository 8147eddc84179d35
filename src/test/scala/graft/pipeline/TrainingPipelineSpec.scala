package graft.pipeline

import graft.SparkSpec
import graft.operators._
import org.apache.spark.sql.functions._

/** End-to-end composition of the LLM-training-data operators over real
  * corpus parquet: quality gate -> eval-set decontamination -> boilerplate
  * line strip -> near-dup cluster resolution -> deterministic sampling ->
  * sequence packing. Each stage is the operator the per-query oracles
  * check in isolation; this spec proves they CHAIN — schemas line up, row
  * accounting stays exact, and the final packing covers exactly the
  * surviving docs. */
class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("gate -> decontaminate -> strip -> dedup -> sample -> pack composes with exact row accounting") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source")
    val n0 = docs.count()

    // 1. quality gate (map-side), thresholds tuned to the synthetic corpus
    // (small shared vocabulary -> high duplicate-word fraction by design,
    // multilingual -> the English stopword rule off)
    val gated = QualityFilter.keep(docs, "text",
      QualityFilter.GopherConfig(minTokens = 20, minStopwords = 0,
        maxDupWordFrac = 0.95))
    val n1 = gated.count()
    assert(n1 > 300 && n1 <= n0)

    // 2. decontamination vs a planted benchmark slice
    val bench = docs.filter(col("doc_id") % 53 === 0)
    val decon = Decontaminate.clean(gated, bench, "doc_id", "text", n = 8)
    val n2 = decon.count()
    // every surviving gated doc that IS a benchmark doc must be gone
    assert(decon.filter(col("doc_id") % 53 === 0).count() == 0)
    assert(n2 <= n1)

    // 3. boilerplate strip keeps every row (possibly emptied), same schema
    val stripped = Dedup.stripHotLines(decon, "doc_id", "text", maxDocs = 40)
    assert(stripped.count() == n2)
    assert(stripped.columns.toSeq == decon.columns.toSeq)

    // 4. near-dup cluster resolution, keep canonical per cluster
    val verdicts = Dedup.resolveClusters(stripped, "doc_id",
      Dedup.minhashPairs(stripped, "doc_id", "text"))
    assert(verdicts.count() == n2) // one verdict per doc, none lost
    val canon = stripped.join(
      verdicts.filter(!col("is_duplicate")).select("doc_id"), Seq("doc_id"), "left_semi")
    val n4 = canon.count()
    assert(n4 > 0 && n4 <= n2)

    // 5. deterministic 50% sample nests inside the 100% "sample"
    val sampled = Sampling.byHash(canon, "doc_id", 5000)
    val n5 = sampled.count()
    assert(n5 > 0 && n5 < n4)

    // 6. packing covers exactly the sampled docs, no multi-doc pack overflows
    val packs = Packing.greedy(sampled, "doc_id", "text", budget = 512, shards = 4)
    assert(packs.count() == n5)
    assert(packs.select("doc_id").distinct().count() == n5)
    val overflow = Packing.packStats(packs, 512)
      .filter(col("n_docs") > 1 && col("tok_sum") > 512).count()
    assert(overflow == 0)
  }

  test("span strip -> LM mixture -> versioned sink serves the curated corpus atomically") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val n0 = docs.count()

    // 1. ExactSubstr span removal (every doc survives, possibly rebuilt)
    val stripped = Dedup.stripDupSpans(docs, "doc_id", "text", w = 15)
    assert(stripped.count() == n0)

    // 2. CCNet mixture: LM buckets drive the weighted sampler
    val bucketed = LmScore.qualityBuckets(
      LmScore.surprise(stripped, "doc_id", "text",
        LmScore.unigramLm(stripped, "text")))
    val rate = when(col("bucket") === "head", 10000L)
      .when(col("bucket") === "middle", 5000L).otherwise(1000L)
    val kept = Sampling.byHashWeighted(
      stripped.join(bucketed.select("doc_id", "bucket"), Seq("doc_id")),
      "doc_id", rate)
    val nKept = kept.count()
    assert(nKept > 0 && nKept < n0)

    // 3. versioned sink: write, serve through the alias, re-curate, re-swap
    val root = java.nio.file.Files.createTempDirectory("curated").toString
    val sink = new graft.sinks.VersionedTableSink(root, "corpus")
    val v1 = sink.write(kept.select("doc_id", "text", "bucket"))
    assert(sink.readCurrent(spark).count() == nKept)

    // a stricter re-curation (tail dropped entirely) publishes v2 and the
    // alias repoints atomically; served rows are exactly the new set
    val v2 = sink.write(kept.filter(col("bucket") =!= "tail")
      .select("doc_id", "text", "bucket"))
    assert(v2 == v1 + 1)
    val served = sink.readCurrent(spark)
    assert(served.count() == kept.filter(col("bucket") =!= "tail").count())
    assert(served.filter(col("bucket") === "tail").count() == 0)
  }

  test("curated corpus persists bucketed; the downstream dedup join re-reads it Exchange-free") {
    // the q101 writer proves the layout; this proves the COMPOSITION: a
    // pipeline stage persists its output through writeBucketed and the
    // next stage's doc_id join consumes the bucket partitioning from the
    // scan alone — the 100 TB condition (neither side broadcastable), so
    // the re-read join must carry NO Exchange on the join key
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.queryExecution.toRdd.count()
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
    }
    val dir = tmpDir("graft_tp_bkt")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
      val curated = QualityFilter.keep(docs, "text",
        QualityFilter.GopherConfig(minTokens = 20, minStopwords = 0,
          maxDupWordFrac = 0.95))
      val verdicts = Dedup.resolveClusters(curated, "doc_id",
        Dedup.minhashPairs(curated, "doc_id", "text"))
      graft.sinks.DataLayout.writeBucketed(curated, "tp_corpus",
        s"$dir/corpus", 8, "doc_id")
      graft.sinks.DataLayout.writeBucketed(verdicts, "tp_verdicts",
        s"$dir/verdicts", 8, "doc_id")
      val keepIds = graft.sinks.DataLayout.table(spark, "tp_verdicts")
        .filter(!col("is_duplicate")).select("doc_id")
      val rejoined = graft.sinks.DataLayout.table(spark, "tp_corpus")
        .join(keepIds, Seq("doc_id"), "left_semi")
      val plan = finalPlan(rejoined)
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(planCount(plan, "Exchange hashpartitioning") == 0, plan.take(2000))
      // row accounting survives the round-trip through the layout
      assert(rejoined.count() == verdicts.filter(!col("is_duplicate")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS tp_corpus")
      spark.sql("DROP TABLE IF EXISTS tp_verdicts")
    }
  }
}
