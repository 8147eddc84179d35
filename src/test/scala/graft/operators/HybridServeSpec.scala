package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The q115 capstone contract: once the champion index and the PQ codes are
  * persisted, serving (index-only BM25 + ADC over codes + RRF fusion) must
  * never read the corpus again — the steady-state 100 TB shape where build
  * cost amortizes and query latency is bounded by index size. The value
  * path is oracle-checked by q115; this spec pins the PLAN: every file scan
  * in the serving query belongs to the stored index or the stored codes,
  * and neither the documents nor the embeddings table appears. */
class HybridServeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark join spark agg"),
    (2L, "spark scan"),
    (3L, "filter scan scan scan"),
    (4L, "window batch stream stream")
  ).toDF("doc_id", "text")

  // 4-dim embeddings, 2 subspaces x 2 dims; ids align with doc ids
  private def embeddings = Seq(
    (1L, Array(1.0f, 0.1f, 0.0f, 0.2f)),
    (2L, Array(0.9f, 0.2f, 0.1f, 0.1f)),
    (3L, Array(0.0f, 1.0f, 0.8f, 0.0f)),
    (4L, Array(0.1f, 0.9f, 1.0f, 0.1f))
  ).toDF("vec_id", "embedding")

  test("serving plan scans ONLY the persisted index and codes — never the corpus tables") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_serve").toString
    try {
      // the "tables": corpus text + corpus embeddings, as parquet
      corpus.write.parquet(s"$root/docs_tbl")
      embeddings.write.parquet(s"$root/emb_tbl")
      val docsT = spark.read.parquet(s"$root/docs_tbl")
      val embT = spark.read.parquet(s"$root/emb_tbl")

      // BUILD phase (amortized): champion index + PQ codebooks + codes
      val subDim = 2
      val books = (0 until 2).map { j =>
        embT.filter($"vec_id" < 3).orderBy($"vec_id")
          .select(slice(
            graft.functions.Kernels.quantNormUdf($"embedding").getField("_1"),
            j * subDim + 1, subDim).as("sv"))
          .as[Seq[Long]].collect().map(_.toArray)
      }.toArray
      val pq = PqIndex.Model(books)
      Rank.championIndex(docsT, "doc_id", "text", m = 8)
        .write.parquet(s"$root/index_store")
      PqIndex.encode(embT, "vec_id", "embedding", pq)
        .withColumnRenamed("vec_id", "cid")
        .write.parquet(s"$root/codes_store")

      // SERVE phase: stored artifacts + client-supplied queries only (the
      // query vectors arrive as a local relation, not a table scan)
      val savedIndex = spark.read.parquet(s"$root/index_store")
      val savedCodes = spark.read.parquet(s"$root/codes_store")
      val qvec = Seq(
        (0L, Array(1.0f, 0.1f, 0.1f, 0.1f)),
        (1L, Array(0.0f, 1.0f, 0.9f, 0.0f))
      ).toDF("vec_id", "embedding")
      val lex = Rank.bm25FromIndex(savedIndex, nDocs = 4L,
          Map("qa" -> Seq("spark"), "qb" -> Seq("scan")), kTop = 3)
        .select($"query_id", $"id".as("doc_id"), $"rank")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"adist".asc, $"cid".asc)
      val vec = PqIndex.adcTopKEncoded(savedCodes, qvec, "vec_id", "embedding", pq, kTop = 3)
        .withColumn("rank", row_number().over(w))
        .select(when($"qid" === 0, "qa").otherwise("qb").as("query_id"),
          $"cid".as("doc_id"), $"rank")
      val fused = Rank.rrfFuse(Seq(lex, vec), kRrf = 60, kTop = 3)

      // serving works: both sources fuse, ranks are contiguous per query
      val rows = fused.select($"query_id", $"doc_id", $"rank", $"n_sources")
        .as[(String, Long, Int, Long)].collect()
      assert(rows.nonEmpty)
      assert(rows.groupBy(_._1).forall { case (_, rs) =>
        rs.map(_._3).sorted.toSeq == (1 to rs.length) })
      assert(rows.exists(_._4 == 2L)) // at least one doc found by BOTH paths

      // THE capstone assertion: every file scan is index or codes; the
      // corpus tables are absent from the serving plan
      val scanPaths = fused.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scanPaths.nonEmpty)
      assert(scanPaths.forall(p =>
        p.contains("index_store") || p.contains("codes_store")), scanPaths.toString)
      assert(!scanPaths.exists(p => p.contains("docs_tbl") || p.contains("emb_tbl")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** Deterministic tiny models from the first 3 embedding vectors —
    * 3 IVF cells, 2 sub-spaces x 3 codewords. */
  private def tinyModels(embT: org.apache.spark.sql.DataFrame) = {
    val subDim = 2
    val qv = embT.filter($"vec_id" < 3).orderBy($"vec_id")
      .select(graft.functions.Kernels.quantNormUdf($"embedding").getField("_1").as("qv"))
      .as[Seq[Long]].collect().map(_.toArray)
    (IvfIndex.Model(qv),
      PqIndex.Model((0 until 2).map(j => qv.map(v =>
        java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))).toArray))
  }

  /** The serve-phase query batch: both legs per query, with qb excluding
    * its own corpus row (its vector IS doc 1's embedding shape). */
  private def queryBatch = Seq(
    ("qa", Seq("spark"), Array(1.0f, 0.1f, 0.1f, 0.1f), 0L),
    ("qb", Seq("scan"), Array(0.0f, 1.0f, 0.9f, 0.0f), 1L)
  ).toDF("query_id", "terms", "embedding", "exclude_id")

  test("IVF-probed serving through the HybridServe API: only the saved stores are scanned, cells scan pruned by partition filters") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_api").toString
    try {
      corpus.write.parquet(s"$root/docs_tbl")
      embeddings.write.parquet(s"$root/emb_tbl")
      val docsT = spark.read.parquet(s"$root/docs_tbl")
      val embT = spark.read.parquet(s"$root/emb_tbl")

      // BUILD + SAVE + LOAD through the API only
      val (ivf, pq) = tinyModels(embT)
      val arts = HybridServe.buildWith(docsT, "doc_id", "text",
        embT, "vec_id", "embedding", ivf, pq)
      val saved = HybridServe.save(spark, arts, s"$root/store")
      // the count save() measured DURING its write jobs (Observation
      // metrics — no read-back scan) must equal a from-disk recount
      assert(saved == spark.read.parquet(s"$root/store/index_store").count() +
        spark.read.parquet(s"$root/store/cells_store").count())
      val loaded = HybridServe.load(spark, s"$root/store")

      // SERVE from the loaded artifacts + a client-supplied batch
      val fused = HybridServe.serve(loaded, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      val rows = fused.select($"query_id", $"doc_id", $"rank", $"n_sources")
        .as[(String, Long, Int, Long)].collect()
      assert(rows.nonEmpty)
      assert(rows.groupBy(_._1).forall { case (_, rs) =>
        rs.map(_._3).sorted.toSeq == (1 to rs.length) })
      assert(rows.exists(_._4 == 2L)) // at least one doc found by BOTH legs
      // exclude_id honored: qb's vector leg dropped doc 1, so doc 1 can
      // only reach qb through the lexical leg (n_sources == 1)
      assert(rows.filter(r => r._1 == "qb" && r._2 == 1L).forall(_._4 == 1L))

      // NO exclude_id column: nothing excludes, and string query ids
      // must not cross-type-compare against long candidate ids (the
      // ANSI-cast regression the always-typed exclusion path prevents)
      val noExcl = HybridServe.serve(loaded, queryBatch.drop("exclude_id"),
          cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
        .select($"query_id", $"doc_id", $"n_sources")
        .as[(String, Long, Long)].collect()
      assert(noExcl.nonEmpty)
      assert(noExcl.map(_._1).toSet == Set("qa", "qb"))

      // plan: every file scan is inside the saved store (corpus tables
      // absent), and the cells scan carries a partition filter on the
      // probed cell ids
      val scans = fused.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
      val scanPaths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(scanPaths.nonEmpty)
      assert(scanPaths.forall(_.contains("/store/")), scanPaths.toString)
      assert(!scanPaths.exists(p => p.contains("docs_tbl") || p.contains("emb_tbl")))
      val cellScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("cells_store")))
      assert(cellScans.nonEmpty)
      assert(cellScans.forall(_.partitionFilters.nonEmpty),
        cellScans.map(_.partitionFilters).toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("restart from disk via the API alone ranks bit-identically; the API's own cells write is one file per cell") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_restart").toString
    try {
      // many upstream partitions — the exact shape that triggers the
      // tasks-x-cells small-files trap if the writer forgets the
      // repartition (ScaleCurve measured it at 24x serve time)
      val embT = embeddings.repartition(8)
      val (ivf, pq) = tinyModels(embT)
      val arts = HybridServe.buildWith(corpus, "doc_id", "text",
        embT, "vec_id", "embedding", ivf, pq)
      val cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
      def collectServe(a: HybridServe.Artifacts) =
        HybridServe.serve(a, queryBatch, cfg = cfg)
          .select($"query_id", $"doc_id", $"rank", $"rrf_micro", $"n_sources")
          .as[(String, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq

      val fresh = collectServe(arts)
      assert(fresh.nonEmpty)

      // RESTART: save, then serve from ONLY what load returns
      HybridServe.save(spark, arts, s"$root/store")
      val loaded = HybridServe.load(spark, s"$root/store")
      assert(loaded.nDocs == arts.nDocs)
      assert(loaded.pq.m == pq.m && loaded.pq.ksub == pq.ksub && loaded.pq.subDim == pq.subDim)
      for (j <- 0 until pq.m; c <- 0 until pq.ksub)
        assert(loaded.pq.codebooks(j)(c).toSeq == pq.codebooks(j)(c).toSeq,
          s"codebook ($j,$c) moved")
      val restarted = collectServe(loaded)
      assert(restarted == fresh, s"restarted ranking diverged:\n$restarted\nvs\n$fresh")

      // encoding with the loaded model stays bit-identical (the codes
      // store stays valid across restarts)
      val codesA = PqIndex.encode(embT, "vec_id", "embedding", pq)
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      val codesB = PqIndex.encode(embT, "vec_id", "embedding", loaded.pq)
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      assert(codesA == codesB)

      // THE layout assertion on the API's own write: each cell directory
      // holds exactly one data file, even with 8 upstream partitions
      val cellDirs = new java.io.File(s"$root/store/cells_store").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.nonEmpty)
      cellDirs.foreach { d =>
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1,
          s"${d.getName} has ${parts.length} files — the one-file-per-cell layout broke")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("ingest is exact: serving after ingest == serving a from-scratch build over the union") {
    val embT = embeddings
    val (ivf, pq) = tinyModels(embT)
    val cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
    def serveRows(a: HybridServe.Artifacts) =
      HybridServe.serve(a, queryBatch, cfg = cfg)
        .select($"query_id", $"doc_id", $"rank", $"rrf_micro", $"n_sources")
        .as[(String, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq

    // stored set over docs 1-2, then docs 3-4 arrive as a batch
    val a0 = HybridServe.buildWith(corpus.filter($"doc_id" <= 2), "doc_id", "text",
      embT.filter($"vec_id" <= 2), "vec_id", "embedding", ivf, pq)
    val a1 = HybridServe.ingest(a0, corpus.filter($"doc_id" > 2), "doc_id", "text",
      embT.filter($"vec_id" > 2), "vec_id", "embedding")
    assert(a1.nDocs == 4)
    val full = HybridServe.buildWith(corpus, "doc_id", "text",
      embT, "vec_id", "embedding", ivf, pq)
    val ingested = serveRows(a1)
    assert(ingested.nonEmpty)
    assert(ingested == serveRows(full),
      s"ingest diverged from from-scratch:\n$ingested\nvs\n${serveRows(full)}")

    // overlap guard: re-ingesting already-stored ids fails fast
    assertThrows[IllegalArgumentException] {
      HybridServe.ingest(a1, corpus.filter($"doc_id" <= 2), "doc_id", "text",
        embT.filter($"vec_id" <= 2), "vec_id", "embedding").index.count()
    }
  }

  test("mutation preconditions are enforced from the persisted config: a minDf-pruned store rejects ingest/remove, a lowercase mismatch rejects serve") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_guard").toString
    try {
      val (ivf, pq) = tinyModels(embeddings)
      // built PRUNED (champMinDf = 2) — legal for serving, ineligible for
      // exact incremental maintenance
      val pruned = HybridServe.buildWith(corpus, "doc_id", "text",
        embeddings, "vec_id", "embedding", ivf, pq,
        HybridServe.BuildConfig(champMinDf = 2L))
      HybridServe.save(spark, pruned, s"$root/store")
      // the loaded store KNOWS it was built pruned — the guard fires on
      // artifacts restored from disk, not just on the builder's in-memory set
      val loaded = HybridServe.load(spark, s"$root/store")
      assert(loaded.build.champMinDf == 2L)
      val eIngest = intercept[IllegalArgumentException] {
        HybridServe.ingest(loaded, corpus.limit(0), "doc_id", "text",
          embeddings.limit(0), "vec_id", "embedding")
      }
      assert(eIngest.getMessage.contains("champMinDf = 1"))
      assert(eIngest.getMessage.contains("rebuild"))
      val eRemove = intercept[IllegalArgumentException] {
        HybridServe.remove(loaded, corpus.filter($"doc_id" === 1), "doc_id", "text")
      }
      assert(eRemove.getMessage.contains("champMinDf = 1"))
      // serve-side coupling: lowercasing query terms against an index that
      // was built case-preserving (or vice versa) is a silent-empty-leg
      // trap, so the mismatch fails loudly
      val eServe = intercept[IllegalArgumentException] {
        HybridServe.serve(loaded, queryBatch,
          cfg = HybridServe.ServeConfig(lowercase = false))
      }
      assert(eServe.getMessage.contains("lowercase"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("remove is exact when lists are full (m >= df): serve == from-scratch build over the survivors, and unknown stale ids fail fast") {
    val (ivf, pq) = tinyModels(embeddings)
    val cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
    def serveRows(a: HybridServe.Artifacts) =
      HybridServe.serve(a, queryBatch, cfg = cfg)
        .select($"query_id", $"doc_id", $"rank", $"rrf_micro", $"n_sources")
        .as[(String, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq

    val full = HybridServe.buildWith(corpus, "doc_id", "text",
      embeddings, "vec_id", "embedding", ivf, pq)
    // doc 3 goes stale — the stale frame is its row AS STORED
    val removed = HybridServe.remove(full, corpus.filter($"doc_id" === 3),
      "doc_id", "text")
    assert(removed.nDocs == 3)
    val fromScratch = HybridServe.buildWith(corpus.filter($"doc_id" =!= 3),
      "doc_id", "text", embeddings.filter($"vec_id" =!= 3),
      "vec_id", "embedding", ivf, pq)
    val got = serveRows(removed)
    assert(got.nonEmpty)
    assert(got == serveRows(fromScratch),
      s"remove diverged from from-scratch:\n$got\nvs\n${serveRows(fromScratch)}")
    // the stale doc is gone from BOTH legs
    assert(!got.exists(_._2 == 3L))
    // full lists here (champM=8 >= every df), so nothing degraded
    assert(HybridServe.compactionDue(removed).count() == 0)
    // subtracting a doc that was never stored would corrupt df/cf — guarded
    assertThrows[IllegalArgumentException] {
      HybridServe.remove(full,
        Seq((99L, "ghost")).toDF("doc_id", "text"), "doc_id", "text")
    }
  }

  /** The upsert batch: doc 2 under its id with new content, and new doc 5. */
  private def upsertBatch = Seq((2L, "spark batch spark"), (5L, "stream filter"))
    .toDF("doc_id", "text")

  private def upsertEmbeddings = Seq(
    (2L, Array(0.8f, 0.3f, 0.1f, 0.2f)),
    (5L, Array(0.2f, 0.8f, 0.9f, 0.2f))
  ).toDF("vec_id", "embedding")

  test("upsert re-ingests under the SAME id and serves like a from-scratch build of the updated corpus; lifecycle survives save/load") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_upsert").toString
    try {
      val (ivf, pq) = tinyModels(embeddings)
      val cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
      def serveRows(a: HybridServe.Artifacts) =
        HybridServe.serve(a, queryBatch, cfg = cfg)
          .select($"query_id", $"doc_id", $"rank", $"rrf_micro", $"n_sources")
          .as[(String, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq

      val full = HybridServe.buildWith(corpus, "doc_id", "text",
        embeddings, "vec_id", "embedding", ivf, pq)
      // doc 2 changes content (update) and doc 5 arrives (create) — the
      // reference's create-vs-update batch, in one upsert call
      val fresh = upsertBatch
      val freshEmb = upsertEmbeddings
      val up = HybridServe.upsert(full, corpus.filter($"doc_id" === 2),
        fresh, "doc_id", "text", freshEmb, "vec_id", "embedding")
      assert(up.nDocs == 5)

      val newCorpus = corpus.filter($"doc_id" =!= 2).unionByName(fresh)
      val newEmb = embeddings.filter($"vec_id" =!= 2).unionByName(freshEmb)
      val fromScratch = HybridServe.buildWith(newCorpus, "doc_id", "text",
        newEmb, "vec_id", "embedding", ivf, pq)
      val got = serveRows(up)
      assert(got.nonEmpty)
      assert(got == serveRows(fromScratch),
        s"upsert diverged from from-scratch:\n$got\nvs\n${serveRows(fromScratch)}")

      // the mutated set persists and restarts through the normal lifecycle
      HybridServe.save(spark, up, s"$root/store")
      val reloaded = HybridServe.load(spark, s"$root/store")
      assert(reloaded.nDocs == 5 && reloaded.build == up.build)
      assert(serveRows(reloaded) == got)
      // removal compacted physically: the persisted cells store no longer
      // carries the stale encoding (one row per surviving id)
      assert(spark.read.parquet(s"$root/store/cells_store").count() == 5)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("upsert on a loaded store returns a materialized index: no exchange and no input-table scan left in it, the stored cells still serve partition-pruned, and serving equals a from-scratch build") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_upsertplan").toString
    try {
      corpus.write.parquet(s"$root/docs_tbl")
      embeddings.write.parquet(s"$root/emb_tbl")
      upsertBatch.write.parquet(s"$root/fresh_tbl")
      upsertEmbeddings.write.parquet(s"$root/fresh_emb_tbl")
      val docsT = spark.read.parquet(s"$root/docs_tbl")
      val embT = spark.read.parquet(s"$root/emb_tbl")
      val (ivf, pq) = tinyModels(embT)
      HybridServe.save(spark, HybridServe.buildWith(docsT, "doc_id", "text",
        embT, "vec_id", "embedding", ivf, pq), s"$root/store")
      val up = HybridServe.upsert(HybridServe.load(spark, s"$root/store"),
        docsT.filter($"doc_id" === 2), spark.read.parquet(s"$root/fresh_tbl"),
        "doc_id", "text", spark.read.parquet(s"$root/fresh_emb_tbl"),
        "vec_id", "embedding")
      // the merge ran once, inside upsert: the returned index re-runs no
      // shuffle or broadcast and reads none of the input tables
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val idxPlan = up.index.queryExecution.executedPlan
      val exchanges = aqe.collect(idxPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.isEmpty, idxPlan.toString)
      val idxScans = aqe.collect(idxPlan) { case f: FileSourceScanExec => f }
        .flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(!idxScans.exists(p => p.contains("_tbl")), idxScans.toString)
      // the stored cells stay a lazy scan: serving prunes them by cell
      val fused = HybridServe.serve(up, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      val cellScans = fused.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("cells_store")) => f
      }
      assert(cellScans.nonEmpty)
      assert(cellScans.forall(_.partitionFilters.nonEmpty),
        cellScans.map(_.partitionFilters).toString)
      val fromScratch = HybridServe.buildWith(
        corpus.filter($"doc_id" =!= 2).unionByName(upsertBatch), "doc_id", "text",
        embeddings.filter($"vec_id" =!= 2).unionByName(upsertEmbeddings),
        "vec_id", "embedding", ivf, pq)
      val got = slackServeRows(up)
      assert(got.nonEmpty)
      assert(got == slackServeRows(fromScratch),
        s"upsert diverged from from-scratch:\n$got\nvs\n${slackServeRows(fromScratch)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("an upsert's jobs are described by lifecycle phase, and the caller's job description comes back") {
    val (ivf, pq) = tinyModels(embeddings)
    val full = HybridServe.buildWith(corpus, "doc_id", "text",
      embeddings, "vec_id", "embedding", ivf, pq)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, tags) = jobTags(HybridServe.upsert(full, corpus.filter($"doc_id" === 2),
        upsertBatch, "doc_id", "text", upsertEmbeddings, "vec_id", "embedding"))
      val phases = tags.filter(_.startsWith("serve.")).toSet
      assert(phases == Set("serve.remove.guard", "serve.remove.stats",
        "serve.ingest.guard", "serve.ingest.merge"), tags.toString)
      assert(!tags.contains("caller"), tags.toString)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("every job a build runs is described by build phase: both model fits and both stores") {
    val cfg = HybridServe.BuildConfig(ivfK = 2, pqKsub = 2, iters = 1)
    // an undescribed job would carry the caller's description instead
    val (_, tags) = jobTags(Phase.described(spark, "caller")(HybridServe.build(
      corpus, "doc_id", "text", embeddings, "vec_id", "embedding", cfg)))
    assert(tags.forall(_.startsWith("serve.build.")), tags.toString)
    assert(tags.toSet == Set("serve.build.ivf", "serve.build.pq",
      "serve.build.index", "serve.build.cells"), tags.toString)
  }

  test("serving a removed set adds no exchange: the stale anti-joins broadcast, and the cells scan keeps its partition filter") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_rmplan").toString
    try {
      corpus.write.parquet(s"$root/docs_tbl")
      embeddings.write.parquet(s"$root/emb_tbl")
      val docsT = spark.read.parquet(s"$root/docs_tbl")
      val embT = spark.read.parquet(s"$root/emb_tbl")
      val (ivf, pq) = tinyModels(embT)
      val arts = HybridServe.buildWith(docsT, "doc_id", "text",
        embT, "vec_id", "embedding", ivf, pq)
      HybridServe.save(spark, arts, s"$root/store")
      val removed = HybridServe.remove(HybridServe.load(spark, s"$root/store"),
        docsT.filter($"doc_id" === 3), "doc_id", "text")
      val fused = HybridServe.serve(removed, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      assert(fused.count() > 0)
      val plan = fused.queryExecution.sparkPlan
      // the anti-joins the removal added are broadcast — a shuffled
      // anti-join here would mean the tombstone side shuffled the INDEX
      // (or the cells store) at serve time
      val antiJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(antiJoins.nonEmpty)
      assert(antiJoins.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        antiJoins.map(_.nodeName).toString)
      // partition pruning on the cells store survives the anti-join
      val cellScans = plan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("cells_store")) => f
      }
      assert(cellScans.nonEmpty)
      assert(cellScans.forall(_.partitionFilters.nonEmpty),
        cellScans.map(_.partitionFilters).toString)
      // r15: the returned index carries NO stats aggregate — the per-term
      // adjustment ran ONCE, driver-side, inside remove()'s bounded guard
      // pass, so every downstream action (ingest's merge, save, serve)
      // re-reads the index without re-running a groupBy (the r14 shape
      // re-aggregated per action; ScaleCurve measured the upsert
      // composition at 1.7x its legs because of it). The only aggregates
      // left are keys-only distincts over the batch-sized stale ids.
      val aggs = removed.index.queryExecution.sparkPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.nonEmpty => a
      }
      assert(aggs.isEmpty, aggs.map(_.nodeName).toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  // ---- round-14: champSlack backfill, roster guards, schema contract ----

  /** 6-doc corpus where "scan" has df=4 — deep enough that a small champM
    * leaves real slack postings and real discarded postings. */
  private def slackCorpus = Seq(
    (1L, "spark join spark agg"),
    (2L, "spark scan"),
    (3L, "filter scan scan scan"),
    (4L, "window batch stream stream"),
    (5L, "scan batch"),
    (6L, "scan stream")
  ).toDF("doc_id", "text")

  private def slackEmbeddings = Seq(
    (1L, Array(1.0f, 0.1f, 0.0f, 0.2f)),
    (2L, Array(0.9f, 0.2f, 0.1f, 0.1f)),
    (3L, Array(0.0f, 1.0f, 0.8f, 0.0f)),
    (4L, Array(0.1f, 0.9f, 1.0f, 0.1f)),
    (5L, Array(0.5f, 0.5f, 0.4f, 0.3f)),
    (6L, Array(0.2f, 0.3f, 0.9f, 0.6f))
  ).toDF("vec_id", "embedding")

  private def slackServeRows(a: HybridServe.Artifacts) =
    HybridServe.serve(a, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      .select($"query_id", $"doc_id", $"rank", $"rrf_micro", $"n_sources")
      .as[(String, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq

  test("champSlack: removing a champion of a df > champM term backfills from the slack and serves EXACTLY like a from-scratch survivor build") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    // champM=1, slack=1: "spark" (df=2 > champM) stores doc1 (champion,
    // tf 2) + doc2 (slack); "scan" (df=4) stores doc3 (champion, tf 3) +
    // doc2 (slack, tf-tie id-asc)
    val cfg = HybridServe.BuildConfig(champM = 1, champSlack = 1)
    val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
    // the stored index carries m+s postings; serving uses only the top m —
    // a terms-only query for "spark" sees champion doc 1, never slack doc 2
    assert(full.index.filter($"term" === "spark").count() == 2)
    val lexOnly = Seq(("qx", Seq("spark"))).toDF("query_id", "terms")
    val lexDocs = HybridServe.serve(full, lexOnly,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      .select($"doc_id").as[Long].collect().toSet
    assert(lexDocs == Set(1L), s"slack row leaked into serving: $lexDocs")

    // doc 1 goes stale — "spark" loses its ONLY serving champion
    val removed = HybridServe.remove(full, slackCorpus.filter($"doc_id" === 1),
      "doc_id", "text")
    val fromScratch = HybridServe.buildWith(slackCorpus.filter($"doc_id" =!= 1),
      "doc_id", "text", slackEmbeddings.filter($"vec_id" =!= 1),
      "vec_id", "embedding", ivf, pq, cfg)
    val got = slackServeRows(removed)
    assert(got.nonEmpty)
    assert(got == slackServeRows(fromScratch),
      s"slack-backfilled remove diverged from from-scratch:\n$got\nvs\n${slackServeRows(fromScratch)}")
    // the promotion is visible: doc 2 now serves "spark" (rank 1)
    assert(removed.index.filter($"term" === "spark" && $"id" === 2L && $"rank" === 1)
      .count() == 1)
    // within the slack budget nothing is degraded
    assert(HybridServe.compactionDue(removed).count() == 0)
  }

  test("champSlack exhaustion: a term losing more stored postings than its slack degrades LOUDLY in compactionDue") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    // champM=2, slack=1: "scan" (df=4) stores docs 3 (tf 3), 2, 5 — doc 6
    // was discarded by the build's top-(m+s) heap
    val cfg = HybridServe.BuildConfig(champM = 2, champSlack = 1)
    val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
    // docs 2 AND 3 go stale: "scan" loses 2 stored postings > slack 1
    val removed = HybridServe.remove(full,
      slackCorpus.filter($"doc_id".isin(2L, 3L)), "doc_id", "text")
    val due = HybridServe.compactionDue(removed)
      .as[(String, Long, Long)].collect().toSeq
    assert(due == Seq(("scan", 2L, 1L)),
      s"expected scan (df 2, have 1) to be flagged, got $due")
    // the degradation is recall-shaped, never score-shaped: the surviving
    // posting still serves with exact stats (df=2 — doc 6 counts even
    // though its posting is unrecoverable)
    val scanRows = removed.index.filter($"term" === "scan")
      .select($"id", $"df").as[(Long, Long)].collect().toSeq
    assert(scanRows == Seq((5L, 2L)))
  }

  test("maybeCompact: no-op within tolerance, versioned rebuild past it, and the rebuilt store serves like a from-scratch survivor build") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_compact").toString
    try {
      val (ivf, pq) = tinyModels(slackEmbeddings)
      val cfg = HybridServe.BuildConfig(champM = 2, champSlack = 1)
      val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
        slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
      val removed = HybridServe.remove(full,
        slackCorpus.filter($"doc_id".isin(2L, 3L)), "doc_id", "text")
      val survivors = slackCorpus.filter(!$"doc_id".isin(2L, 3L))
      val survEmb = slackEmbeddings.filter(!$"vec_id".isin(2L, 3L))
      // within tolerance: nothing rebuilt, nothing committed
      assert(HybridServe.maybeCompact(spark, removed, survivors, "doc_id", "text",
        survEmb, "vec_id", "embedding", root, "hybrid", threshold = 0.9).isEmpty)
      assert(new graft.sinks.VersionedTableSink(root, "hybrid").aliasedVersion().isEmpty)
      // past tolerance: rebuild + versioned commit + alias swap
      val (v, rebuilt) = HybridServe.maybeCompact(spark, removed,
        survivors, "doc_id", "text", survEmb, "vec_id", "embedding",
        root, "hybrid", threshold = 0.0).get
      assert(v == 1)
      assert(new graft.sinks.VersionedTableSink(root, "hybrid").aliasedVersion().contains(1))
      assert(HybridServe.compactionDue(rebuilt).count() == 0)
      // the aliased store IS the from-scratch survivor build
      val current = HybridServe.loadCurrent(spark, root, "hybrid")
      val fromScratch = HybridServe.buildWith(survivors, "doc_id", "text",
        survEmb, "vec_id", "embedding", ivf, pq, cfg)
      assert(slackServeRows(current) == slackServeRows(fromScratch))
      // the degraded term serves FULLY again post-compaction ("scan"
      // recovered doc 6's posting from the corpus re-read)
      assert(current.index.filter($"term" === "scan").count() == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("the slack filter reaches the index store's parquet scan: slack rows never leave the scan at serve time") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_slackplan").toString
    try {
      val (ivf, pq) = tinyModels(slackEmbeddings)
      val arts = HybridServe.buildWith(slackCorpus, "doc_id", "text",
        slackEmbeddings, "vec_id", "embedding", ivf, pq,
        HybridServe.BuildConfig(champM = 2, champSlack = 1))
      HybridServe.save(spark, arts, s"$root/store")
      val loaded = HybridServe.load(spark, s"$root/store")
      val fused = HybridServe.serve(loaded, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
      assert(fused.count() > 0)
      val idxScans = fused.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("index_store")) => f
      }
      assert(idxScans.nonEmpty)
      // the rank <= champM serving filter is a pushed parquet filter on
      // the index scan — at 100 TB the slack rows (removal backfill
      // budget) are skipped by row-group stats, not shuffled and dropped
      assert(idxScans.exists(_.dataFilters.exists(_.toString.contains("rank"))),
        idxScans.map(_.dataFilters).toString)
      assert(idxScans.exists(f => f.metadata.get("PushedFilters")
          .exists(p => p.contains("LessThanOrEqual(rank") || p.contains("rank"))),
        idxScans.map(_.metadata.get("PushedFilters")).toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("index schema contract is name-based: renamed columns fail loudly, reordered columns serve identically") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq,
      HybridServe.BuildConfig(champM = 2, champSlack = 1))
    // a renamed column would have been silently mislabeled by a positional
    // rebind (the pre-r14 hazard); now every consumer refuses it
    val renamed = full.copy(index = full.index.withColumnRenamed("df", "docfreq"))
    for (op <- Seq(
        () => HybridServe.remove(renamed,
          slackCorpus.filter($"doc_id" === 1), "doc_id", "text").index.count(),
        () => HybridServe.compactionDue(renamed).count(),
        () => slackServeRows(renamed))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("canonical"), e.getMessage)
    }
    // a REORDERED frame is re-ordered by name, not mislabeled
    val reordered = full.copy(index =
      full.index.select($"tf", $"id", $"loss", $"rank", $"cf", $"df", $"term"))
    assert(slackServeRows(reordered) == slackServeRows(full))
    assert(HybridServe.remove(reordered, slackCorpus.filter($"doc_id" === 1),
        "doc_id", "text").index.orderBy($"term", $"rank").collect().toSeq ==
      HybridServe.remove(full, slackCorpus.filter($"doc_id" === 1),
        "doc_id", "text").index.orderBy($"term", $"rank").collect().toSeq)
  }

  test("membership roster is index UNION cells: a text-only doc (no embedding) blocks re-ingest and is removable") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    // doc 7 is lexically indexed but has NO embedding — the roster shape
    // save()'s scaladoc supports (lexical index and cells store need not
    // cover the same ids)
    val corpus7 = slackCorpus.unionByName(
      Seq((7L, "spark lexonly")).toDF("doc_id", "text"))
    val full = HybridServe.buildWith(corpus7, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq,
      HybridServe.BuildConfig(champM = 8))
    assert(full.index.filter($"id" === 7L).count() > 0)
    assert(full.cells.filter($"cid" === 7L).count() == 0)
    // re-ingesting the text-only doc would double-count its df/cf — the
    // cells-only probe missed this (r13 ADVICE); the roster catches it
    val e = intercept[IllegalArgumentException] {
      HybridServe.ingest(full, Seq((7L, "spark lexonly")).toDF("doc_id", "text"),
        "doc_id", "text", slackEmbeddings.limit(0), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("already in the stored serving set"))
    // ...and the text-only doc is REMOVABLE (the cells anti-join is a
    // no-op for it) — the mirror-image guard gap
    val removed = HybridServe.remove(full,
      Seq((7L, "spark lexonly")).toDF("doc_id", "text"), "doc_id", "text")
    assert(removed.nDocs == full.nDocs - 1)
    assert(removed.index.filter($"id" === 7L).count() == 0)
    val fromScratch = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq,
      HybridServe.BuildConfig(champM = 8))
    assert(slackServeRows(removed) == slackServeRows(fromScratch))
  }

  test("legacy meta (pre-config save) loads with the unknown-provenance sentinel: serving works, mutations refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_legacy").toString
    try {
      val (ivf, pq) = tinyModels(embeddings)
      val arts = HybridServe.buildWith(corpus, "doc_id", "text",
        embeddings, "vec_id", "embedding", ivf, pq)
      HybridServe.save(spark, arts, s"$root/store")
      // simulate a round-12 store: meta carries ONLY n_docs
      Seq(arts.nDocs).toDF("n_docs").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/store/meta")
      val legacy = HybridServe.load(spark, s"$root/store")
      assert(legacy.build.champMinDf == HybridServe.LegacyUnknownMinDf)
      // serving still works — and the lowercase cross-check is SKIPPED
      // (unknown provenance), not guessed from defaults
      assert(HybridServe.serve(legacy, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1))
        .count() > 0)
      assert(HybridServe.serve(legacy, queryBatch,
        cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1,
          lowercase = false)).count() >= 0)
      // mutations refuse: a pre-config store actually built pruned would
      // merge silently-approximately — exactly what the guard prevents
      for (msg <- Seq(
          intercept[IllegalArgumentException](HybridServe.ingest(legacy,
            corpus.limit(0), "doc_id", "text",
            embeddings.limit(0), "vec_id", "embedding")).getMessage,
          intercept[IllegalArgumentException](HybridServe.remove(legacy,
            corpus.filter($"doc_id" === 1), "doc_id", "text")).getMessage)) {
        assert(msg.contains("legacy") && msg.contains("provenance"), msg)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a stale frame that does not match the stored rows FAILS FAST at remove() time instead of masking the corruption") {
    val (ivf, pq) = tinyModels(embeddings)
    val full = HybridServe.buildWith(corpus, "doc_id", "text",
      embeddings, "vec_id", "embedding", ivf, pq)
    // doc 2 as stored is "spark scan" (cf contribution 1 to "spark"); the
    // caller hands a WRONG text whose subtraction would drive "spark"'s
    // cf negative — pre-r14 a df>=1 filter silently dropped such rows,
    // r14 raised lazily from the first downstream action, r15's
    // driver-side adjustment fails fast in remove()'s own guard pass
    val e = intercept[IllegalArgumentException](HybridServe.remove(full,
      Seq((2L, "spark spark spark spark scan")).toDF("doc_id", "text"),
      "doc_id", "text"))
    assert(e.getMessage != null && e.getMessage.contains("AS STORED"),
      s"expected the stale-mismatch failure, got: $e")
  }

  // ---- round-15: loss ledger, tombstones, merge cap, cells contract ----

  test("vanished-term tombstone: removing a term's EVERY stored posting keeps its stats, flags compactionDue, serves nothing — and maybeCompact restores exact serving") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_tomb").toString
    try {
      val (ivf, pq) = tinyModels(slackEmbeddings)
      // champM=1, slack=1: "scan" (df=4, ranking 3,2,5,6 by tf desc id asc)
      // stores docs 3 (champion, tf 3) and 2 (slack); docs 5 and 6 were
      // discarded by the build's top-2 heap
      val cfg = HybridServe.BuildConfig(champM = 1, champSlack = 1)
      val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
        slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
      // docs 2 AND 3 go stale: "scan" loses BOTH stored postings while
      // docs 5 and 6 (unstored) still contain it — the r14 blind spot
      val removed = HybridServe.remove(full,
        slackCorpus.filter($"doc_id".isin(2L, 3L)), "doc_id", "text")
      // the tombstone: a stats-only row with exact adjusted df/cf and the
      // whole budget spent
      val tombRows = removed.index.filter($"term" === "scan")
        .select($"df", $"cf", $"id".isNull, $"tf", $"loss")
        .as[(Long, Long, Boolean, Long, Long)].collect().toSeq
      assert(tombRows == Seq((2L, 2L, true, 0L, 2L)), tombRows.toString)
      // the monitor SEES the vanished term (have = 0), not just short lists
      val due = HybridServe.compactionDue(removed)
        .as[(String, Long, Long)].collect().toSet
      assert(due.contains(("scan", 2L, 0L)), due.toString)
      // serving skips the tombstone: a "scan" query returns nothing
      // lexically (recall degradation, loudly monitored — never a wrong
      // score and never a null candidate id)
      val lexOnly = Seq(("qx", Seq("scan"))).toDF("query_id", "terms")
      val servedCfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
      assert(HybridServe.serve(removed, lexOnly, cfg = servedCfg).count() == 0)
      // the tombstone persists through save/load
      HybridServe.save(spark, removed, s"$root/store")
      val reloaded = HybridServe.load(spark, s"$root/store")
      assert(reloaded.index.filter($"term" === "scan" && $"id".isNull).count() == 1)
      // a REBUILD (maybeCompact past tolerance) recovers the discarded
      // postings from the corpus and serves the term exactly again
      val survivors = slackCorpus.filter(!$"doc_id".isin(2L, 3L))
      val survEmb = slackEmbeddings.filter(!$"vec_id".isin(2L, 3L))
      val (_, rebuilt) = HybridServe.maybeCompact(spark, reloaded,
        survivors, "doc_id", "text", survEmb, "vec_id", "embedding",
        root, "hybrid", threshold = 0.0).get
      assert(HybridServe.compactionDue(rebuilt).count() == 0)
      assert(rebuilt.index.filter($"loss" =!= 0L).count() == 0)
      val servedScan = HybridServe.serve(rebuilt, lexOnly, cfg = servedCfg)
        .select($"doc_id").as[Long].collect().toSet
      // survivor ranking for "scan" is 5, 6 (tf tie, id asc) — champM=1
      assert(servedScan == Set(5L), servedScan.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("the slack budget does NOT replenish across an ingest merge: the merged list caps at m+s-loss, so a later remove degrades loudly instead of promoting an untrusted posting") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    val cfg = HybridServe.BuildConfig(champM = 1, champSlack = 1)
    val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
    // remove champion doc 3: "scan" spends 1 of its 2-posting budget
    // (stored 3,2 -> survivor 2; docs 5,6 remain discarded-and-unstored)
    val a1 = HybridServe.remove(full, slackCorpus.filter($"doc_id" === 3),
      "doc_id", "text")
    assert(a1.index.filter($"term" === "scan")
      .select($"id", $"rank", $"loss").as[(Long, Int, Long)].collect().toSeq ==
      Seq((2L, 1, 1L)))
    // ingest doc 7 ("scan", tf 1): pre-r15 the merge refilled the list to
    // m+s=2 rows (2 then 7), and a later removal of doc 2 would PROMOTE
    // doc 7 into the serving slot — wrong, because the survivors' true
    // top-1 is the discarded doc 5. The cap keeps the merged list at
    // m+s-loss = 1 trusted row; df/cf still merge exactly.
    val a2 = HybridServe.ingest(a1,
      Seq((7L, "scan")).toDF("doc_id", "text"), "doc_id", "text",
      slackEmbeddings.limit(0), "vec_id", "embedding")
    val scanRows = a2.index.filter($"term" === "scan")
      .select($"id", $"rank", $"df", $"cf", $"loss")
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    assert(scanRows == Seq((2L, 1, 4L, 4L, 1L)), scanRows.toString)
    // now doc 2 goes stale: with the untrusted posting never stored, the
    // term VANISHES into a tombstone and the monitor flags it — instead
    // of silently serving doc 7 as a fake champion
    val a3 = HybridServe.remove(a2, slackCorpus.filter($"doc_id" === 2),
      "doc_id", "text")
    val lexOnly = Seq(("qx", Seq("scan"))).toDF("query_id", "terms")
    val servedCfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
    assert(HybridServe.serve(a3, lexOnly, cfg = servedCfg).count() == 0)
    val due = HybridServe.compactionDue(a3).as[(String, Long, Long)].collect().toSet
    assert(due.contains(("scan", 3L, 0L)), due.toString)
    // a tombstoned term's stats keep merging exactly: re-arriving postings
    // update df/cf (serve-time idf counts unstored survivors — docs 5, 6)
    // but stay unserved until a rebuild
    val a4 = HybridServe.ingest(a3,
      Seq((8L, "scan scan")).toDF("doc_id", "text"), "doc_id", "text",
      slackEmbeddings.limit(0), "vec_id", "embedding")
    val tombAfter = a4.index.filter($"term" === "scan")
      .select($"df", $"cf", $"id".isNull, $"loss")
      .as[(Long, Long, Boolean, Long)].collect().toSeq
    assert(tombAfter == Seq((4L, 5L, true, 2L)), tombAfter.toString)
    assert(HybridServe.serve(a4, lexOnly, cfg = servedCfg).count() == 0)
    assert(HybridServe.compactionDue(a4).as[(String, Long, Long)].collect()
      .toSet.contains(("scan", 4L, 0L)))
  }

  test("within the slack budget, remove-then-ingest serves EXACTLY like a from-scratch build over survivors + batch (the capped merge preserves the trusted prefix)") {
    val (ivf, pq) = tinyModels(slackEmbeddings)
    val cfg = HybridServe.BuildConfig(champM = 1, champSlack = 1)
    val full = HybridServe.buildWith(slackCorpus, "doc_id", "text",
      slackEmbeddings, "vec_id", "embedding", ivf, pq, cfg)
    // remove champion doc 3 ("scan" spends 1 of its slack budget), then
    // ingest two new docs mentioning the touched term — the merged list
    // caps at m+s-loss = 1, which is still >= champM, so serving stays
    // EXACT against a from-scratch build of the union
    val removed = HybridServe.remove(full, slackCorpus.filter($"doc_id" === 3),
      "doc_id", "text")
    val batch = Seq((7L, "scan stream extra"), (8L, "spark fresh"))
      .toDF("doc_id", "text")
    val batchEmb = Seq(
      (7L, Array(0.3f, 0.4f, 0.5f, 0.6f)),
      (8L, Array(0.7f, 0.2f, 0.3f, 0.1f))
    ).toDF("vec_id", "embedding")
    val merged = HybridServe.ingest(removed, batch, "doc_id", "text",
      batchEmb, "vec_id", "embedding")
    val unionCorpus = slackCorpus.filter($"doc_id" =!= 3).unionByName(batch)
    val unionEmb = slackEmbeddings.filter($"vec_id" =!= 3).unionByName(batchEmb)
    val fromScratch = HybridServe.buildWith(unionCorpus, "doc_id", "text",
      unionEmb, "vec_id", "embedding", ivf, pq, cfg)
    val got = slackServeRows(merged)
    assert(got.nonEmpty)
    assert(got == slackServeRows(fromScratch),
      s"remove+ingest diverged from from-scratch union:\n$got\nvs\n${slackServeRows(fromScratch)}")
    // nothing is degraded: the one spent slack posting is within budget
    assert(HybridServe.compactionDue(merged).count() == 0)
    // ...and the loss ledger survived the merge (the budget did NOT
    // silently replenish)
    assert(merged.index.filter($"term" === "scan").select($"loss")
      .as[Long].collect().forall(_ == 1L))
  }

  test("cells store schema contract at load: a renamed cells column fails loudly at load time, not mid-serve") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_cellschema").toString
    try {
      val (ivf, pq) = tinyModels(embeddings)
      val arts = HybridServe.buildWith(corpus, "doc_id", "text",
        embeddings, "vec_id", "embedding", ivf, pq)
      HybridServe.save(spark, arts, s"$root/store")
      val broken = spark.read.parquet(s"$root/store/cells_store")
        .withColumnRenamed("cid", "candidate")
      broken.write.mode("overwrite").parquet(s"$root/store/cells_broken")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/store/cells_store"))
      org.apache.commons.io.FileUtils.moveDirectory(
        new java.io.File(s"$root/store/cells_broken"),
        new java.io.File(s"$root/store/cells_store"))
      val e = intercept[IllegalArgumentException](
        HybridServe.load(spark, s"$root/store"))
      assert(e.getMessage.contains("cells store"), e.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("pre-r15 index stores (no loss column) load with a zero loss ledger and serve unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_preloss").toString
    try {
      val (ivf, pq) = tinyModels(embeddings)
      val arts = HybridServe.buildWith(corpus, "doc_id", "text",
        embeddings, "vec_id", "embedding", ivf, pq)
      val fresh = slackServeRows(arts)
      HybridServe.save(spark, arts, s"$root/store")
      // simulate a round-14 store: index_store without the loss column
      val noLoss = spark.read.parquet(s"$root/store/index_store").drop("loss")
      noLoss.write.mode("overwrite").parquet(s"$root/store/index_r14")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/store/index_store"))
      org.apache.commons.io.FileUtils.moveDirectory(
        new java.io.File(s"$root/store/index_r14"),
        new java.io.File(s"$root/store/index_store"))
      val loaded = HybridServe.load(spark, s"$root/store")
      assert(loaded.index.columns.contains("loss"))
      assert(loaded.index.filter($"loss" =!= 0L).count() == 0)
      assert(slackServeRows(loaded) == fresh)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("versioned lifecycle: saveVersioned commits and alias-swaps, loadCurrent follows the alias, old versions retire") {
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_versioned").toString
    try {
      val embT = embeddings
      val (ivf, pq) = tinyModels(embT)
      val arts = HybridServe.buildWith(corpus, "doc_id", "text",
        embT, "vec_id", "embedding", ivf, pq)
      val v1 = HybridServe.saveVersioned(spark, arts, root, "hybrid", historyLen = 1)
      assert(v1 == 1)
      // a rebuild (e.g. nightly) versions again; alias moves atomically
      val v2 = HybridServe.saveVersioned(spark, arts, root, "hybrid", historyLen = 1)
      assert(v2 == 2)
      val sink = new graft.sinks.VersionedTableSink(root, "hybrid", historyLen = 1)
      assert(sink.aliasedVersion().contains(2))
      // historyLen=1 retires v1 (never the aliased v2)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sink.versionDir(1))))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(sink.versionDir(2))))

      // loadCurrent serves from the aliased version, identically to a
      // direct load of that version dir
      val current = HybridServe.loadCurrent(spark, root, "hybrid")
      val cfg = HybridServe.ServeConfig(kTopPerLeg = 3, kTop = 3, nprobe = 1)
      val a = HybridServe.serve(current, queryBatch, cfg = cfg)
        .select($"query_id", $"doc_id", $"rank").as[(String, Long, Int)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
      val b = HybridServe.serve(HybridServe.load(spark, sink.versionDir(2)),
          queryBatch, cfg = cfg)
        .select($"query_id", $"doc_id", $"rank").as[(String, Long, Int)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
      assert(a.nonEmpty && a == b)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
