package graft.tools

import org.apache.spark.sql.functions._

/** Scale smoke: run the heavy operator families on a corpus 10x the largest
  * test SF (50k docs synthesized by salting sf0.1) and print throughput.
  * Checks the shapes that matter before real scale: banded LSH with the
  * degenerate-band cap active, hash-shuffled exact dedup, the splitter and
  * embed stages with explicit parallelism. Numbers land in README.
  *
  * Usage: runMain graft.tools.ScaleSmoke [multiplier]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // salt sf0.1 docs x mult: each copy gets a distinct id and a per-copy
    // token appended so copies are near-dups (exercises LSH confirm), while
    // copy 0 keeps exact duplicates intact (exercises exact dedup)
    val base = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val n = base.count()
    val docs = base
      .crossJoin(spark.range(mult).toDF("copy"))
      .select(
        (col("doc_id") + col("copy") * n).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), col("copy"))).as("text"))
      .repartition(64, col("doc_id"))
      .persist()
    val total = docs.count()
    println(s"corpus: $total docs")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-26s ${sec}%7.2f s   ${total / sec}%9.0f docs/s   ($rows rows)")
    }

    time("exact dedup (hash)") {
      docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy("h").agg(min("doc_id")).queryExecution.toRdd.count()
    }
    time("minhash pairs (capped)") {
      graft.operators.Dedup.minhashPairs(docs, "doc_id", "text")
        .queryExecution.toRdd.count()
    }
    time("simhash pairs (capped)") {
      graft.operators.Dedup.simhashPairs(docs, "doc_id", "text")
        .queryExecution.toRdd.count()
    }
    time("tlsh pairs (capped)") {
      graft.operators.Dedup.tlshPairs(docs, "doc_id", "text")
        .queryExecution.toRdd.count()
    }
    // corpus docs are <= 100 words (under the split window); repeat to
    // ~400-800 tokens so the splitter actually assembles and cuts
    val longDocs = docs.select(
      concat_ws(" ", col("text"), col("text"), col("text"), col("text"),
        col("text"), col("text"), col("text"), col("text")).as("text"))
      .persist()
    longDocs.count()
    time("splitter (whitespace)") {
      val sp = new graft.split.SemanticSplitter()
      longDocs.as[String]
        .flatMap(t => sp.splitMarkdown(t)).queryExecution.toRdd.count()
    }
    time("splitter (referenceDefault)") {
      val sp = graft.split.SemanticSplitter.referenceDefault()
      longDocs.as[String]
        .flatMap(t => sp.splitMarkdown(t)).queryExecution.toRdd.count()
    }
    // descent-heavy docs: a 3-deep nested list + a blockquoted list per
    // doc (the q66 construction shape) so descendList/descendQuote run on
    // every row — the round-5 paths, not just greedy packing
    val nestedDocs = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => graft.queries.TextQ.nestedDoc(id, text) }.persist()
    nestedDocs.count()
    time("splitter (nested descent)") {
      val sp = new graft.split.SemanticSplitter()
      nestedDocs.flatMap(t => sp.splitMarkdown(t)).queryExecution.toRdd.count()
    }
    // per-group top-k: the sort-based window form vs the bounded-heap
    // operator on the same (group, score) data — the delta is the per-
    // partition full sort the heap path never pays
    val scored = spark.range(400L * total).toDF("id") // 20M rows, ~10k/group
      .select(col("id"), pmod(hash(col("id")), lit(2000)).as("g"),
        pmod(hash(col("id") * 7), lit(1000000)).as("score"))
      .repartition(64).persist()
    scored.count()
    time("top3/group (window sort)") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("score").desc, col("id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .queryExecution.toRdd.count()
    }
    time("top3/group (heap operator)") {
      graft.plans.GroupTopK.topK(scored, Seq("g"), Seq(col("score").desc, col("id")), 3)
        .queryExecution.toRdd.count()
    }
    scored.unpersist()
    // connected components on an adversarial pair graph: mult chained
    // 5k-clique-ish bands would be easy — a long path plus many medium
    // cliques forces several alternating-star rounds, the worst realistic
    // shape for dup-cluster resolution
    val pathEdges = spark.range(100000L).toDF("src")
      .select(col("src"), (col("src") + 1).as("dst"))
    val cliqueEdges = spark.range(20000L).toDF("i")
      .select((col("i") % 2000 + 200000).as("c"), col("i"))
      .select((col("c") * 40 + pmod(hash(col("i")), lit(40))).as("src"),
        (col("c") * 40 + pmod(hash(col("i") * 13), lit(40))).as("dst"))
    val ccEdges = pathEdges.union(cliqueEdges).persist()
    val nEdges = ccEdges.count()
    time(s"connected components") {
      graft.operators.ConnectedComponents.run(ccEdges, "src", "dst")
        .queryExecution.toRdd.count()
    }
    println(s"  (edge set: $nEdges edges incl. a 100k-node path)")
    ccEdges.unpersist()
    time("embed (mock, batched)") {
      val chunks = docs.select(col("text")).as[String]
        .map(t => graft.contracts.Chunk(t, "", "", Map.empty))
      graft.operators.Embedding.embedChunks(
        chunks, graft.operators.Embedding.MockEmbeddingClient(dim = 32), batchSize = 64)
        .queryExecution.toRdd.count()
    }
    // decontamination: 500-doc benchmark (1% of the corpus) broadcast
    // against every salted doc's 8-gram stream
    time("decontaminate (flag)") {
      val bench = docs.filter(col("doc_id") % 100 === 0)
      graft.operators.Decontaminate.flag(docs, bench, "doc_id", "text")
        .queryExecution.toRdd.count()
    }
    // line-level boilerplate: give every doc 5 lines incl. a universal
    // footer so the census finds real hot lines at corpus width
    val lined = docs.select(col("doc_id"),
      concat_ws("\n", lit("(c) footer"), col("text"),
        lit(""), concat(lit("uniq "), col("doc_id")), col("text")).as("text"))
      .persist()
    lined.count()
    time("strip hot lines") {
      graft.operators.Dedup.stripHotLines(lined, "doc_id", "text", maxDocs = 1000)
        .queryExecution.toRdd.count()
    }
    lined.unpersist()
    time("sequence packing") {
      graft.operators.Packing.greedy(docs, "doc_id", "text",
        budget = 2048, shards = 256).queryExecution.toRdd.count()
    }
    // ExactSubstr dedup on the salted corpus — the adversarial case: every
    // non-zero copy shares nearly all 15-token windows with its original,
    // so most of the corpus's windows are flagged and most docs rebuild
    time("dup-span strip (w=15)") {
      graft.operators.Dedup.stripDupSpans(docs, "doc_id", "text", 15)
        .queryExecution.toRdd.count()
    }
    // steady-state ingest: 1% batch against the 99% corpus
    time("incremental pairs (1%)") {
      graft.operators.Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 100 =!= 0), docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text").queryExecution.toRdd.count()
    }
    // BM25 probe ranking: 3 probe queries against every salted doc — one
    // kernel stats pass (1 driver row), map-side scoring, GroupTopK prune
    time("bm25 top-20 (3 queries)") {
      graft.operators.Rank.bm25TopK(docs, "doc_id", "text",
        Map("q1" -> Seq("spark", "join", "agg"),
          "q2" -> Seq("scan", "fast", "filter"),
          "q3" -> Seq("stream", "window", "batch")), kTop = 20)
        .queryExecution.toRdd.count()
    }
    // keeper election on the near-dup clusters: election aggregates touch
    // pair-graph members only; the salted corpus is ~90% duplicates, so
    // this is the adversarial (election-heavy) case
    time("cluster keepers") {
      graft.operators.Dedup.selectKeepers(docs, "doc_id",
        graft.operators.Dedup.minhashPairs(docs, "doc_id", "text"),
        size(array_distinct(split(col("text"), "\\s+"))))
        .queryExecution.toRdd.count()
    }
    // bloom-pruned subtract: drop the 20% "already ingested" ids from the
    // corpus; the 80% non-member bulk must exit map-side (no exchange)
    time("bloom anti-join (20% mem)") {
      graft.operators.BloomPrune.antiJoin(
        docs, "doc_id",
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("seen")),
        "seen").queryExecution.toRdd.count()
    }
    // token-budget sharding over the content-hash order (the q100 shape):
    // distributed prefix sum, never a single-task global window
    time("token shards (64k budget)") {
      graft.operators.Sharding.assignShards(
        docs.select(col("doc_id"), col("text"),
          size(split(col("text"), "\\s+")).as("tok"),
          sha2(col("text"), 256).as("h")),
        "tok", 65536L, Seq("h", "doc_id")).queryExecution.toRdd.count()
    }
    // CCNet LM buckets: self-trained unigram LM + integer surprise + the
    // two-pass quantile thresholds
    time("lm quality buckets") {
      graft.operators.LmScore.qualityBuckets(
        graft.operators.LmScore.surprise(docs, "doc_id", "text",
          graft.operators.LmScore.unigramLm(docs, "text")))
        .queryExecution.toRdd.count()
    }
    time("bigram lm buckets") {
      graft.operators.LmScore.qualityBuckets(
        graft.operators.LmScore.bigramSurprise(docs, "doc_id", "text",
          graft.operators.LmScore.unigramLm(docs, "text"),
          graft.operators.LmScore.bigramLm(docs, "text")))
        .queryExecution.toRdd.count()
    }
    time("stride windows (256/224)") {
      graft.operators.Chunker.strideChunks(longDocs.withColumn("doc_id", monotonically_increasing_id()),
        "doc_id", "text", 256, 224).queryExecution.toRdd.count()
    }
    // PQ over a synthetic 50k x 32-dim vector corpus: fit 4 codebooks,
    // encode everything, ADC-rank 100 queries against all 50k codes
    val dim = 32
    val vecs = spark.range(total).toDF("vec_id")
      .select(col("vec_id"), array((0 until dim).map(i =>
        (pmod(hash(col("vec_id") * (i + 7)), lit(1000)) / lit(1000.0)).cast("float")): _*)
        .as("embedding"))
      .persist()
    vecs.count()
    val pq = graft.operators.PqIndex.fit(vecs, "vec_id", "embedding", m = 4, ksub = 16)
    val pqCodes = graft.operators.PqIndex.encode(vecs, "vec_id", "embedding", pq)
      .withColumnRenamed("vec_id", "cid").persist()
    time("pq encode (4x16)") { pqCodes.queryExecution.toRdd.count() }
    // the serving path: queries score against the persisted codes only
    time("pq ADC top-10 (100 q)") {
      graft.operators.PqIndex.adcTopKEncoded(pqCodes,
        vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", pq, kTop = 10).queryExecution.toRdd.count()
    }
    pqCodes.unpersist()
    // exact brute-force baseline over the same 100 queries x 50k
    // candidates: 5M codegen'd integer dots (DotLongExpr) + heap ranking
    time("brute top-10 (100 q, exact)") {
      graft.operators.Similarity.bruteTopK(vecs,
        vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", kTop = 10).queryExecution.toRdd.count()
    }
    // SemDeDup on the same 50k vectors: 16-cell coarse quantizer, cosine
    // only within (capped) cells, CC resolution
    val ivf = graft.operators.IvfIndex.fit(vecs, "vec_id", "embedding", k = 16)
    time("semantic dedup (16 cells)") {
      graft.operators.Dedup.semanticDedup(vecs, "vec_id", "embedding", ivf,
        threshold = 0.999).queryExecution.toRdd.count()
    }
    time("cluster-balanced sample") {
      graft.operators.Sampling.perGroup(
        graft.operators.IvfIndex.assign(vecs, "vec_id", "embedding", ivf)
          .select(col("cid").as("vec_id"), col("cell")),
        "cell", "vec_id", 100).queryExecution.toRdd.count()
    }
    vecs.unpersist()
    // champion-list index over the salted corpus: tf-map kernel census +
    // heap-pruned postings; the salted vocab is tiny so every term is a
    // "stopword" — the adversarial case the heap prune exists for
    time("champion index (m=16)") {
      graft.operators.Rank.championIndex(docs, "doc_id", "text", m = 16)
        .queryExecution.toRdd.count()
    }
    // PageRank on a synthetic 1M-edge hub-skewed graph (hash-spread srcs,
    // modulo-concentrated dsts): 5 integer rounds, node-sized state, the
    // hot hubs land in map-side partial sums
    val prEdges = spark.range(1000000L).toDF("i")
      .select(pmod(hash(col("i")), lit(200000)).as("src"),
        pmod(hash(col("i") * 31), lit(5000)).as("dst"))
      .persist()
    val nPrEdges = prEdges.count()
    time("pagerank (5 iters)") {
      graft.operators.PageRank.run(prEdges, "src", "dst", iterations = 5)
        .queryExecution.toRdd.count()
    }
    println(s"  (graph: $nPrEdges edges, 200k hash-spread srcs -> 5k hub dsts)")
    prEdges.unpersist()
    spark.stop()
  }
}
