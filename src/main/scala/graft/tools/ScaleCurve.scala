package graft.tools

import org.apache.spark.sql.functions._

/** Scale-curve record for the judge-top CC-family queries (q72 dup
  * clusters, q103 keeper election, q107 soft dedup, q91 SemDeDup, q110
  * dangling PageRank): run each operator COMPOSITION at 1x / 10x / 100x
  * document multipliers over salted sf0.1 and print wall seconds, so
  * COVERAGE.md can record how the checkpoint-dominated flat costs
  * amortize as data grows (the sf0.1 bench numbers for these queries are
  * mostly fixed per-CC-round localCheckpoint overhead, not data work).
  *
  * Corpus shape mirrors ScaleSmoke: every copy of a document appends a
  * per-copy token, so copies are NEAR-dups of their original — at mult=m
  * each original seeds an m-member duplicate cluster, the adversarial
  * (election/resolution-heavy) case. Vectors jitter one dimension per
  * copy (still >0.999 cosine to the original at 64 dims); the PageRank
  * graph scales edges AND nodes 1:1 with mult.
  *
  * Usage: runMain graft.tools.ScaleCurve [mult ...]   (default: 1 10 100)
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 100)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text").persist()
    val nBase = base.count()
    val embBase = graft.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding").persist()
    val nEmb = embBase.count()
    val dim = embBase.select(size(col("embedding"))).as[Int].head()

    for (mult <- mults) {
      val docs = base
        .crossJoin(spark.range(mult).toDF("copy"))
        .select((col("doc_id") + col("copy") * nBase).as("doc_id"),
          when(col("copy") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v"), col("copy"))).as("text"))
        .repartition(64, col("doc_id")).persist()
      val nDocs = docs.count()
      // per-copy jitter on ONE dimension keeps copies >0.999-cosine
      // near-dups of their original (the SemDeDup threshold band)
      val vecs = embBase
        .crossJoin(spark.range(mult).toDF("copy"))
        .select((col("vec_id") + col("copy") * nEmb).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + col("copy").cast("float") * lit(1e-4f))
              .otherwise(x)).as("embedding"))
        .repartition(64, col("vec_id")).persist()
      val nVecs = vecs.count()
      val centroids = embBase.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(graft.functions.Kernels.quantNormUdf(col("embedding")).getField("_1").as("qv"))
        .as[Seq[Long]].collect().map(_.toArray)
      val ivf = graft.operators.IvfIndex.Model(centroids)
      // hub-skewed graph, nodes and edges both scale with mult
      val edges = spark.range(100000L * mult).toDF("i")
        .select(pmod(hash(col("i")), lit(20000L * mult)).as("src"),
          pmod(hash(col("i") * 31), lit(500L * mult)).as("dst"))
        .repartition(64).persist()
      val nEdges = edges.count()
      println(s"== mult=$mult: $nDocs docs, $nVecs vecs (dim $dim), $nEdges edges")

      def time(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE mult=$mult $name%-16s ${sec}%8.2f s  ($rows rows)")
      }
      // SCALE_SERVE_ONLY=1 skips the CC-family shapes (re-measure just
      // the serving curve without the ~10 min dedup recompute)
      val serveOnly = sys.env.get("SCALE_SERVE_ONLY").contains("1")
      def pairs = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text", 12, 4, 0.6)
      if (!serveOnly) {
      time("q72_clusters") {
        graft.operators.Dedup.resolveClusters(docs, "doc_id", pairs)
          .queryExecution.toRdd.count()
      }
      time("q103_keepers") {
        graft.operators.Dedup.selectKeepers(docs, "doc_id", pairs,
          size(array_distinct(split(col("text"), "\\s+"))))
          .queryExecution.toRdd.count()
      }
      time("q107_soft_dedup") {
        graft.operators.Dedup.softDedupSample(docs, "doc_id", pairs)
          .queryExecution.toRdd.count()
      }
      time("q91_semdedup") {
        graft.operators.Dedup.semanticDedup(vecs, "vec_id", "embedding", ivf,
          threshold = 0.999).queryExecution.toRdd.count()
      }
      time("q110_pagerank") {
        graft.operators.PageRank.run(edges, "src", "dst", iterations = 5,
          redistributeDangling = true).queryExecution.toRdd.count()
      }
      }

      // q117 SERVING flatness: build the hybrid artifacts (champion
      // index + IVF cells + PQ codes, cells store partitioned BY cell)
      // with the cell COUNT scaled to the corpus (constant expected cell
      // size, the real-deployment sizing rule), then measure the serve
      // phase alone — per-query work is cell-bounded, so serve latency
      // should stay ~flat while the corpus grows 100x
      val root = java.nio.file.Files.createTempDirectory(s"graft_scale_serve_$mult").toString
      try {
        val kCells = 16 * mult
        val centroids = vecs.orderBy(col("vec_id")).limit(kCells)
          .select(graft.functions.Kernels.quantNormUdf(col("embedding")).getField("_1").as("qv"))
          .as[Seq[Long]].collect().map(_.toArray)
        val ivfS = graft.operators.IvfIndex.Model(centroids)
        val subDim = dim / 2
        val pqS = graft.operators.PqIndex.Model(
          (0 until 2).map(j => centroids.take(16).map(v =>
            java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))).toArray)
        val tBuild0 = System.nanoTime()
        graft.operators.Rank.championIndex(docs, "doc_id", "text", m = 8)
          .write.mode("overwrite").parquet(s"$root/index")
        // repartition BY CELL before the partitioned write: without it
        // every upstream task writes its own file into every cell dir
        // (64 tasks x 16*mult cells ~ 100k tiny files at 100x, and the
        // serve-time scan pays per-file open/footer costs even with
        // partition pruning); with it each cell is ONE file
        graft.operators.PqIndex.encodeCells(vecs, "vec_id", "embedding", ivfS, pqS)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$root/cells")
        println(f"SCALE mult=$mult build_artifacts ${(System.nanoTime() - tBuild0) / 1e9}%8.2f s")
        val savedIndex = spark.read.parquet(s"$root/index")
        val savedCells = spark.read.parquet(s"$root/cells")
        // a long-running server lists the stores once and serves many
        // batches — materialize the file indexes (the 16*mult partition
        // dirs) OUTSIDE the timed serve so the measurement is the
        // steady-state per-batch latency, not the one-time listing
        savedIndex.count(); savedCells.count()
        val qvec = vecs.filter(col("vec_id") < 3)
        def serveBatch(terms: Map[String, Seq[String]]): Long = {
          val lex = graft.operators.Rank.bm25FromIndex(savedIndex, nDocs,
              terms, kTop = 20)
            .select(col("query_id"), col("id").as("doc_id"), col("rank"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("adist").asc, col("cid").asc)
          val vec = graft.operators.PqIndex.ivfAdcTopK(savedCells, qvec,
              "vec_id", "embedding", ivfS, pqS, kTop = 20, nprobe = 2)
            .withColumn("rank", row_number().over(w))
            .select(when(col("qid") === 0, "qa").when(col("qid") === 1, "qb")
                .otherwise("qc").as("query_id"),
              col("cid").as("doc_id"), col("rank"))
          graft.operators.Rank.rrfFuse(Seq(lex, vec), kRrf = 60, kTop = 10)
            .queryExecution.toRdd.count()
        }
        time("q117_serve") {
          serveBatch(Map("qa" -> Seq("spark", "join"),
            "qb" -> Seq("scan", "filter"), "qc" -> Seq("stream", "batch")))
        }
        // second timed batch on the warm stores (per-batch steady state)
        time("q117_serve_2") {
          serveBatch(Map("qa" -> Seq("spark", "agg"),
            "qb" -> Seq("scan", "fast"), "qc" -> Seq("window", "batch")))
        }
        // 1000-QUERY batch gear (round 12), through the HybridServe API:
        // the lexical leg runs the q114/q116 DataFrame equi-join form
        // (no driver literals, no per-query plans) and the vector leg
        // probes cells for all 1000 query vectors in the same one-plan
        // join — per-query cost amortizes inside the batch join, so the
        // per-batch wall should grow far slower than 333x the 3-query
        // batch. Terms picked deterministically from the corpus vocab.
        val vocab = Seq("spark", "join", "scan", "filter", "stream",
          "batch", "agg", "fast", "window")
        val vocabCol = array(vocab.map(lit): _*)
        val batchQ = vecs.filter(col("vec_id") < 1000)
          .select(concat(lit("q"), col("vec_id")).as("query_id"),
            array(
              element_at(vocabCol, (pmod(col("vec_id"), lit(9)) + 1).cast("int")),
              element_at(vocabCol, (pmod(col("vec_id") * 7 + 3, lit(9)) + 1).cast("int"))
            ).as("terms"),
            col("embedding"))
        // Artifacts carry the canonical index schema (id column named "id",
        // loss ledger zero on a fresh build)
        val arts = graft.operators.HybridServe.Artifacts(
          savedIndex.withColumnRenamed("doc_id", "id").withColumn("loss", lit(0L)),
          nDocs, ivfS, pqS, savedCells)
        time("q117_serve_1k") {
          graft.operators.HybridServe.serve(arts, batchQ)
            .queryExecution.toRdd.count()
        }
        time("q117_serve_1k_2") {
          graft.operators.HybridServe.serve(arts, batchQ,
              cfg = graft.operators.HybridServe.ServeConfig(kTopPerLeg = 20, kTop = 10))
            .queryExecution.toRdd.count()
        }
        // r13 INGEST leg: a FIXED 500-doc batch arrives at the 1x/10x/100x
        // store. ingest never re-reads stored corpus text or embeddings:
        // its wall is the membership probe (one cid-column scan of the
        // cells store), the batch's own census + encode, and the
        // index-sized champion merge — so the curve should track the INDEX
        // (vocab x m postings), not the corpus. The timed action
        // materializes the merged index (the merge work); the cells side
        // of an ingest is a map-side encode of the batch plus a lazy
        // union, exercised by the serve legs above.
        val batchDocs = base.limit(500)
          .select((col("doc_id") + lit(nBase) * lit(1000L)).as("doc_id"),
            concat(col("text"), lit(" ingestbatch")).as("text"))
        val batchEmb = embBase.limit(500)
          .select((col("vec_id") + lit(nEmb) * lit(1000L)).as("vec_id"),
            col("embedding"))
        time("q121_ingest") {
          graft.operators.HybridServe.ingest(arts, batchDocs, "doc_id", "text",
              batchEmb, "vec_id", "embedding")
            .index.queryExecution.toRdd.count()
        }
        // r13 REMOVE leg: a FIXED 500-doc stale batch (original rows as
        // stored) prunes from the same store — wall is the membership
        // probe, the stale batch's census (stats subtraction), and the
        // broadcast anti-join over the index
        time("q121_remove") {
          graft.operators.HybridServe.remove(arts,
              docs.filter(col("doc_id") < 500), "doc_id", "text")
            .index.queryExecution.toRdd.count()
        }
        // r14 UPSERT leg (completes the mutation measurement matrix):
        // remove∘ingest with a fixed 500-doc changed batch — the wall
        // should be ~the sum of the two legs above (the composition adds
        // no extra pass: removal's output index frame feeds the merge
        // lazily). Timed action materializes the maintained index.
        time("q121_upsert") {
          graft.operators.HybridServe.upsert(arts,
              docs.filter(col("doc_id") < 500),
              docs.filter(col("doc_id") < 500)
                .select(col("doc_id"), concat(col("text"), lit(" upsertv2")).as("text")),
              "doc_id", "text",
              vecs.filter(col("vec_id") < 500), "vec_id", "embedding")
            .index.queryExecution.toRdd.count()
        }
        // r15 MAYBECOMPACT legs (completes the lifecycle measurement
        // matrix): the degraded store is the remove leg's output. The
        // NO-OP path (threshold 1.0 never trips) is the steady-state
        // maintenance-cycle cost — one bounded index-sized aggregate, so
        // it must track the index curve like ingest/remove. The TRIGGERED
        // path (threshold 0.0) pays the full corpus re-read + versioned
        // commit — the amortized cost the monitor exists to schedule.
        val degraded = graft.operators.HybridServe.remove(arts,
          docs.filter(col("doc_id") < 500), "doc_id", "text")
        val eager = degraded.copy(
          index = degraded.index.localCheckpoint(),
          cells = degraded.cells.localCheckpoint())
        val survDocs = docs.filter(col("doc_id") >= 500)
        val survVecs = vecs.filter(col("vec_id") >= 500)
        time("compact_noop") {
          if (graft.operators.HybridServe.maybeCompact(spark, eager,
            survDocs, "doc_id", "text", survVecs, "vec_id", "embedding",
            s"$root/vt", "hybrid", threshold = 1.0).isEmpty) 0L else 1L
        }
        time("compact_rebuild") {
          graft.operators.HybridServe.maybeCompact(spark, eager,
            survDocs, "doc_id", "text", survVecs, "vec_id", "embedding",
            s"$root/vt", "hybrid", threshold = 0.0)
            .map(_._1.toLong).getOrElse(0L)
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      }
      docs.unpersist(); vecs.unpersist(); edges.unpersist()
    }
    spark.stop()
  }
}
