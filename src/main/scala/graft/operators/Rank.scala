package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical relevance ranking — Okapi BM25 (Robertson et al., TREC-3), the
  * lexical complement to the embedding ANN stack ([[Similarity]],
  * [[IvfIndex]], [[PqIndex]]). The reference delegates retrieval entirely to
  * its vector stores (wurzel/steps/qdrant/step.py, milvus/step.py — cosine
  * only); a curation engine also needs term-level scoring: probe-query
  * auditing ("which corpus docs answer our eval questions" — the lexical
  * side of [[Decontaminate]]), quality-by-query sampling, and hybrid
  * lexical+vector retrieval.
  *
  * Scale design (100 TB corpus, probe-sized query set):
  *  - The query side is SMALL by construction (a probe set, like
  *    [[Similarity]]'s broadcast queries); the corpus is the big side and
  *    is never joined, shuffled, or collected.
  *  - Pass 1 tokenizes each doc ONCE in a tight-loop kernel UDF that keeps
  *    only probe-vocabulary term frequencies, then computes corpus size N,
  *    total token count, and per-term document frequencies in one
  *    partially-aggregated `groupBy().agg` — exactly ONE 1-row result
  *    reaches the driver (|terms|+2 longs, bounded like [[IvfIndex]]'s
  *    centroid collect).
  *  - Pass 2 re-scans and scores entirely map-side: idf weights are
  *    driver-embedded literals (|terms|-sized — below even broadcast), so
  *    scoring is a codegen-able projection with NO join. The only exchange
  *    in the whole plan is GroupTopKExec's bounded k-per-query shuffle,
  *    fed by map-side partial heaps.
  *
  * Determinism: scores are integer micro-units — each term contribution is
  * floor'd at 1e-6 granularity (the [[LmScore]] micro-nat convention) so
  * per-doc sums are exact in any partition order; ranking ties break on the
  * doc id. The idf is the standard BM25+ form ln(1 + (N-df+0.5)/(df+0.5))
  * (always positive, so stopword-heavy probe terms can't flip signs).
  */
object Rank {

  /** [[championIndex]]'s columns, positionally; the impact index adds two. */
  private val TfIndexCols = Seq("term", "df", "cf", "rank", "id", "tf")
  private val ImpactIndexCols = TfIndexCols ++ Seq("dl", "impact_micro")

  /** One tight-loop pass per doc: (token_count, tf over `terms` only).
    * Token semantics match the oracle's `string_split_regex(text, '\s+')`
    * (leading whitespace yields an empty first token on both engines). */
  private def tfUdf(terms: Seq[String], lowercase: Boolean) = {
    val keep = terms.toSet
    udf((text: String) => {
      if (text == null) (0, Map.empty[String, Int])
      else {
        val base = if (lowercase) text.toLowerCase else text
        val toks = base.split("\\s+")
        val m = scala.collection.mutable.HashMap.empty[String, Int]
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (keep.contains(t)) m.update(t, m.getOrElse(t, 0) + 1)
          i += 1
        }
        (toks.length, m.toMap)
      }
    })
  }

  /** Each query's distinct terms, case-folded like the text. */
  private def queryTerms(queries: Map[String, Seq[String]], lowercase: Boolean,
                         op: String): Map[String, Seq[String]] = {
    require(queries.nonEmpty, s"$op: need at least one query")
    queries.map { case (q, ts) =>
      val n = ts.map(t => if (lowercase) t.toLowerCase else t).distinct
      require(n.nonEmpty, s"$op: query '$q' has no terms")
      q -> n
    }
  }

  /** BM25 length normalization (1-b) + b*dl/avgdl. */
  private def lengthNorm(dl: Column, b: Double, avgdl: Double): Column =
    lit(1 - b) + lit(b) * dl.cast("double") / lit(avgdl)

  /** One term's BM25 contribution floor(idf * tf(k1+1) / (tf + k1*norm))
    * as a long. The double arithmetic is left-associated exactly as the
    * q102/q111/q112/q113 oracles write it, so both engines floor the same
    * value. */
  private def contribution(idf: Column, tf: Column, k1: Double, norm: Column): Column =
    floor(idf * ((tf * lit(k1 + 1)) / (tf + lit(k1) * norm))).cast("long")

  /** The one ranked top-k tail: GroupTopKExec's map-side heaps prune each
    * `group` to k rows before the only exchange (REPOSE-style pruning under
    * a global bound), then `rank` numbers those ≤ k rows 1..k by `order`,
    * which must be total within a group. GroupTopK already bounds each
    * group, so no `rank <= k` filter follows. */
  private def rankedTopK(df: DataFrame, group: String, order: Seq[Column],
                         k: Int): DataFrame =
    graft.plans.GroupTopK.topK(df, Seq(group), order, k)
      .withColumn("rank", row_number().over(Window.partitionBy(col(group)).orderBy(order: _*)))

  /** BM25 scores of every doc against every query: (query_id, idCol,
    * score_micro), docs with no matching term (or a zero-micro score)
    * dropped. `queries` maps query id -> term list. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queries: Map[String, Seq[String]],
                 k1: Double = 1.2, b: Double = 0.75,
                 lowercase: Boolean = true): DataFrame = {
    val qTerms = queryTerms(queries, lowercase, "bm25Scores")
    val allTerms = qTerms.values.flatten.toSeq.distinct.sorted
    val f = tfUdf(allTerms, lowercase)
    def proj = docs
      .select(col(idCol), f(col(textCol).cast("string")).as("__f"))
      .select(col(idCol), col("__f._1").as("__dl"), col("__f._2").as("__tf"))

    // Pass 1: one partial-aggregated corpus pass -> a single driver row.
    val aggCols =
      sum(col("__dl").cast("long")).as("sumdl") +:
      allTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("__tf").getItem(t).isNotNull, 1L).otherwise(0L)).as(s"df_$i")
      }
    val stats = proj.agg(count(lit(1)).as("n"), aggCols: _*).head()
    val n = stats.getLong(0)
    require(n > 0, "bm25Scores: empty corpus")
    val avgdl = stats.getLong(1).toDouble / n.toDouble
    val idf: Map[String, Long] = allTerms.zipWithIndex.map { case (t, i) =>
      val dft = stats.getLong(2 + i)
      t -> math.floor(1e6 * math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))).toLong
    }.toMap

    // Pass 2: map-side scoring against driver-embedded idf literals
    val norm = lengthNorm(col("__dl"), b, avgdl)
    def termScore(t: String): Column =
      when(col("__tf").getItem(t).isNotNull,
        contribution(lit(idf(t)).cast("double"), col("__tf").getItem(t).cast("double"), k1, norm))
        .otherwise(lit(0L))
    val perQuery = qTerms.keys.toSeq.sorted.map { q =>
      struct(lit(q).as("query_id"), qTerms(q).map(termScore).reduce(_ + _).as("score_micro"))
    }
    proj.select(col(idCol), explode(array(perQuery: _*)).as("__q"))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        col("__q.score_micro").as("score_micro"))
      .filter(col("score_micro") > 0)
  }

  /** Top-k docs per query by BM25: (query_id, idCol, score_micro, rank),
    * rank 1..kTop by (score desc, id asc). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Map[String, Seq[String]], kTop: Int,
               k1: Double = 1.2, b: Double = 0.75,
               lowercase: Boolean = true): DataFrame = {
    require(kTop > 0, "bm25TopK: kTop must be positive")
    rankedTopK(bm25Scores(docs, idCol, textCol, queries, k1, b, lowercase),
      "query_id", Seq(col("score_micro").desc, col(idCol).asc), kTop)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * several per-query rankings into one — the hybrid-retrieval combiner
    * for the lexical and vector stacks, which score on incomparable scales
    * but rank comparably. Each input frame has (query_id, doc_id, rank);
    * each source adds floor(1e6 / (kRrf + rank)) micro-units, summed per
    * (query_id, doc_id) and ranked with ties broken on doc_id.
    *
    * @return (query_id, doc_id, rrf_micro, n_sources, rank) — n_sources is
    *         how many input rankings contained the doc. */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60, kTop: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(kRrf > 0 && kTop > 0, "rrfFuse: kRrf and kTop must be positive")
    val contribs = rankings.map(_.select(col("query_id"), col("doc_id"),
      floor(lit(1e6) / (lit(kRrf).cast("double") + col("rank").cast("double")))
        .cast("long").as("__c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("rrf_micro"), count(lit(1)).as("n_sources"))
    rankedTopK(fused, "query_id", Seq(col("rrf_micro").desc, col("doc_id").asc), kTop)
  }

  /** Both builders' one fused pass over a (term, idCol, tf, ...) census:
    * df/cf partial sums and the m-bounded champion heap
    * ([[graft.plans.ChampionAgg]]) ride a single partially-aggregated
    * groupBy(term), so a stopword's full posting list is never
    * materialized. The heap drains in (ord desc, id asc) order, so rank is
    * the drain position; `posting` projects the drained struct `__p`
    * (`id`, `ord`, payload `p0`, `p1`, ...) after the id column. */
  private def championLists(census: DataFrame, idCol: String, ord: Column,
                            payload: Seq[Column], m: Int, minDf: Long,
                            posting: Seq[Column]): DataFrame = {
    val bridge = org.apache.spark.sql.classic.GraftPlanBridge
    val heap = graft.plans.ChampionAgg(bridge.staticExpr(col("tf")), bridge.staticExpr(ord),
      bridge.staticExpr(col(idCol)), payload.map(bridge.staticExpr), m)
    census.groupBy(col("term"))
      .agg(bridge.column(heap.toAggregateExpression()).as("__ch"))
      .filter(col("__ch.df") >= minDf)
      .select(col("term"), col("__ch.df").as("df"), col("__ch.cf").as("cf"),
        posexplode(col("__ch.posts")).as(Seq("__pos", "__p")))
      .select(Seq(col("term"), col("df"), col("cf"),
        (col("__pos") + 1).cast("int").as("rank"), col("__p.id").as(idCol)) ++ posting: _*)
  }

  /** Champion-list inverted index (impact-ordered posting prefixes —
    * Manning/Raghavan/Schütze, *Introduction to Information Retrieval*
    * §7.1.3): per term, document frequency, collection frequency and the
    * top-`m` postings by term frequency — the persistable index
    * [[bm25FromIndex]] serves arbitrary queries from without re-scanning
    * text. One kernel pass per doc emits its tf map
    * ([[graft.functions.Kernels.termFreq]]), whose explode is the census;
    * [[championLists]] does the rest in one exchange. `minDf` prunes the
    * hapax long tail.
    *
    * @return (term, df, cf, rank, idCol, tf), rank 1..m by (tf desc, id
    *         asc) — ties broken on id so the index is deterministic. */
  def championIndex(docs: DataFrame, idCol: String, textCol: String,
                    m: Int, minDf: Long = 1L,
                    lowercase: Boolean = true): DataFrame = {
    require(m > 0, "championIndex: m must be positive")
    require(minDf >= 1, "championIndex: minDf must be >= 1")
    val census = docs
      .select(col(idCol), explode(graft.functions.Kernels.termFreqUdf(lowercase)(
        col(textCol).cast("string"))).as(Seq("term", "tf")))
      .select(col("term"), col(idCol), col("tf").cast("long").as("tf"))
    championLists(census, idCol, col("tf"), Nil, m, minDf, Seq(col("__p.ord").as("tf")))
  }

  /** The (doc count, total token count) 1-row frame behind
    * [[championIndexImpact]]'s computed-avgdl path — a NATIVE codegen'd
    * column scan, no kernel UDF and no second tokenize pass: `dl` is
    * `size(split(text, "\s+", -1))`. The `limit = -1` split keeps trailing
    * empty tokens exactly like the kernel's `Pattern.split(text, -1)`
    * ([[graft.functions.Kernels.tokenize]]) and the oracles'
    * `string_split_regex`; null text counts as dl 0, as in
    * [[graft.functions.Kernels.termFreqDl]]. Package-visible so the spec
    * can assert the no-UDF plan and the kernel dl parity. */
  private[graft] def avgdlStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(when(col(textCol).isNull, lit(0))
        .otherwise(size(split(col(textCol).cast("string"), "\\s+", -1))).as("__dl"))
      .agg(count(lit(1)), sum(col("__dl").cast("long")))

  /** Impact-ordered champion lists — IIR §7.1.3's refinement of
    * [[championIndex]]: postings are ranked by the length-normalized tf
    * impact
    *
    *   impact_micro = floor(1e6 * tf(k1+1) / (tf + k1((1-b) + b*dl/avgdl)))
    *
    * so a short focused doc outranks a long one with the same term count.
    * idf is left out: it is constant within a term's list, so it cannot
    * change which docs are champions (serving multiplies it in). `dl`
    * rides the census kernel pass ([[graft.functions.Kernels.termFreqDl]]);
    * `avgdl` is one native [[avgdlStats]] scan, or `fixedAvgdl`.
    *
    * Pinning `fixedAvgdl` keeps INCREMENTAL builds mergeable: impact is then
    * a pure per-(term, doc) value and [[mergeChampionIndexesImpact]] is
    * exact. The pin is index metadata, not an approximation; what drifts
    * is the model. Monitor |avgdl_true - avgdl_pinned| / avgdl_pinned with
    * [[avgdlStats]], carry the pin while it is small, and rebuild (re-pin)
    * past the deployment's tolerance — ~10-20% is the classic trigger, where
    * stale impacts start reordering champions (RankSpec pins such a case).
    *
    * @return (term, df, cf, rank, idCol, tf, dl, impact_micro), rank 1..m
    *         by (impact desc, id asc). */
  def championIndexImpact(docs: DataFrame, idCol: String, textCol: String,
                          m: Int, minDf: Long = 1L, lowercase: Boolean = true,
                          k1: Double = 1.2, b: Double = 0.75,
                          fixedAvgdl: Option[Double] = None): DataFrame = {
    require(m > 0, "championIndexImpact: m must be positive")
    require(minDf >= 1, "championIndexImpact: minDf must be >= 1")
    require(fixedAvgdl.forall(_ > 0), "championIndexImpact: fixedAvgdl must be positive")
    val f = graft.functions.Kernels.termFreqDlUdf(lowercase)
    def census = docs
      .select(col(idCol), f(col(textCol).cast("string")).as("__f"))
      .select(col(idCol), col("__f._1").cast("long").as("dl"),
        explode(col("__f._2")).as(Seq("term", "tf")))
      .select(col("term"), col(idCol), col("tf").cast("long").as("tf"), col("dl"))
    val avgdl = fixedAvgdl.getOrElse {
      val st = avgdlStats(docs, textCol).head()
      require(st.getLong(0) > 0, "championIndexImpact: empty corpus")
      st.getLong(1).toDouble / st.getLong(0).toDouble
    }
    val impact = contribution(lit(1e6), col("tf").cast("double"), k1,
      lengthNorm(col("dl"), b, avgdl))
    championLists(census.withColumn("impact_micro", impact), idCol,
      col("impact_micro"), Seq(col("tf"), col("dl")), m, minDf,
      Seq(col("__p.p0").as("tf"), col("__p.p1").as("dl"), col("__p.ord").as("impact_micro")))
  }

  /** Merge two champion indexes built over DISJOINT corpora — the
    * incremental-maintenance path (the [[Dedup.minhashIndex]] pattern for
    * the lexical side): index the arriving batch alone, merge with the
    * stored index, never re-scan corpus text. Exact: a global top-m
    * posting is top-m within its own half, so top-m(A ∪ B) ==
    * top-m(top-m(A) ∪ top-m(B)), and df/cf add because the corpora are
    * disjoint — the merge is bit-identical to a from-scratch build (the
    * q109 oracle is q106's formulation).
    *
    * Build the halves with `minDf = 1` and apply `minDf` HERE: a term below
    * the threshold in each half can cross it in the union.
    * `validateDisjoint = true` fails fast (a bounded limit-1 probe) when the
    * halves share document ids, which would otherwise double-count df/cf. */
  def mergeChampionIndexes(a: DataFrame, b: DataFrame, m: Int,
                           minDf: Long = 1L,
                           validateDisjoint: Boolean = false): DataFrame =
    mergeChampions("mergeChampionIndexes", TfIndexCols, "tf", a, b, m, minDf,
      validateDisjoint)

  /** [[mergeChampionIndexes]] for two [[championIndexImpact]] indexes,
    * ordered by impact. Exact only when both halves share one
    * `fixedAvgdl`. */
  def mergeChampionIndexesImpact(a: DataFrame, b: DataFrame, m: Int,
                                 minDf: Long = 1L,
                                 validateDisjoint: Boolean = false): DataFrame =
    mergeChampions("mergeChampionIndexesImpact", ImpactIndexCols, "impact_micro",
      a, b, m, minDf, validateDisjoint)

  /** The one merge body: summed per-term stats joined to the re-pruned
    * union of both halves' postings (≤ 2m rows per term). */
  private def mergeChampions(op: String, cols: Seq[String], ord: String,
                             a: DataFrame, b: DataFrame, m: Int, minDf: Long,
                             validateDisjoint: Boolean): DataFrame = {
    require(m > 0, s"$op: m must be positive")
    require(minDf >= 1, s"$op: minDf must be >= 1")
    // positional rename: the builders keep the caller's id column name
    val (ha, hb) = (a.toDF(cols: _*), b.toDF(cols: _*))
    if (validateDisjoint) {
      val overlap = ha.select(col("id")).distinct()
        .join(hb.select(col("id")).distinct(), Seq("id"), "left_semi")
        .limit(1).count()
      require(overlap == 0, s"$op: halves share document ids — corpora must be disjoint")
    }
    // the half tag keeps the per-term stats rows distinct even when both
    // halves coincidentally share identical (df, cf)
    val u = ha.withColumn("__half", lit(0)).unionByName(hb.withColumn("__half", lit(1)))
    val stats = u.select(col("__half"), col("term"), col("df"), col("cf")).distinct()
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
      .filter(col("df") >= minDf)
    // each posting: term plus every column after (df, cf, rank)
    val postings = u.select((col("term") +: cols.drop(4).map(col)): _*)
    rankedTopK(postings, "term", Seq(col(ord).desc, col("id").asc), m)
      .join(stats, Seq("term"))
      .select(cols.map(col): _*)
  }

  private def requireServe(op: String, nDocs: Long, kTop: Int,
                           avgdl: Double = 1.0): Unit = {
    require(nDocs > 0, s"$op: nDocs must be positive")
    require(avgdl > 0, s"$op: avgdl must be positive")
    require(kTop > 0, s"$op: kTop must be positive")
  }

  /** Map front end: the query vocabulary is an `isin` filter pushed into
    * the index scan, and each posting fans out to its queries through a
    * typed-literal lookup + explode — no join and no driver action. */
  private def mapCandidates(idx: DataFrame, queries: Map[String, Seq[String]],
                            lowercase: Boolean, op: String): DataFrame = {
    val qTerms = queryTerms(queries, lowercase, op)
    val allTerms = qTerms.values.flatten.toSeq.distinct.sorted
    val termQueries: Map[String, Seq[String]] = allTerms.map(t =>
      t -> qTerms.filter(_._2.contains(t)).keys.toSeq.sorted).toMap
    idx.filter(col("term").isin(allTerms: _*))
      .withColumn("query_id", explode(typedlit(termQueries).getItem(col("term"))))
  }

  /** Frame front end: (query_id, term) rows, case-folded and deduplicated,
    * meet the index in ONE equi-join on term. Join sides are left to
    * Catalyst/AQE: the index is ≤ m rows per term, the query side is the
    * batch — the smaller broadcasts, and a skewed hot term splits. */
  private def frameCandidates(idx: DataFrame, queries: DataFrame,
                              lowercase: Boolean, op: String): DataFrame = {
    require(queries.columns.contains("query_id") && queries.columns.contains("term"),
      s"$op: queries needs (query_id, term) columns")
    val qterm = if (lowercase) lower(col("term")) else col("term")
    idx.join(queries.select(col("query_id"), qterm.as("term")).distinct(), Seq("term"))
  }

  /** The one BM25 serve body over candidate postings (query_id, id, tf,
    * df, ...): idf is a codegen'd column over the index's df (Spark's
    * `log`, i.e. `StrictMath.log`), `norm` the length normalization, and
    * the (query, doc) sums a candidate-sized hash agg before
    * [[rankedTopK]]. Docs scoring 0 are dropped. */
  private def serve(cands: DataFrame, nDocs: Long, kTop: Int, k1: Double,
                    norm: Column): DataFrame = {
    val idf = floor(lit(1e6) *
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .cast("double")
    val sc = cands.withColumn("__c", contribution(idf, col("tf").cast("double"), k1, norm))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("__c")).as("score_micro"))
      .filter(col("score_micro") > 0)
    rankedTopK(sc, "query_id", Seq(col("score_micro").desc, col("id").asc), kTop)
  }

  /** Index-only BM25 serving from a stored [[championIndex]] — the
    * early-termination path champion lists exist for (IIR §7.1.3): the
    * corpus never participates, only each query term's ≤ m champion
    * postings are candidates, and idf comes from the index's df column.
    * The index stores no doc lengths, so this is exact BM25 with b = 0,
    * contribution idf(t) * tf(k1+1)/(tf+k1) — equal to [[bm25TopK]] at
    * `b = 0` whenever m ≥ every query term's df (the RankSpec pin). Query
    * terms absent from the index contribute no candidates.
    *
    * @param nDocs corpus size N for idf — index metadata the caller
    *              carries (the index itself only knows surviving terms).
    * @return (query_id, id, score_micro, rank), rank 1..kTop per query by
    *         (score desc, id asc); docs scoring 0 dropped. */
  def bm25FromIndex(index: DataFrame, nDocs: Long,
                    queries: Map[String, Seq[String]], kTop: Int,
                    k1: Double = 1.2, lowercase: Boolean = true): DataFrame = {
    requireServe("bm25FromIndex", nDocs, kTop)
    serve(mapCandidates(index.toDF(TfIndexCols: _*), queries, lowercase, "bm25FromIndex"),
      nDocs, kTop, k1, lit(1.0))
  }

  /** [[bm25FromIndex]] for BATCH query loads: queries arrive as (query_id,
    * term) rows (extra columns ignored), so a 100k-query batch stays
    * distributed instead of becoming plan literals. Scores are the Map
    * form's (the RankSpec equivalence pin). */
  def bm25FromIndex(index: DataFrame, nDocs: Long, queries: DataFrame,
                    kTop: Int, k1: Double, lowercase: Boolean): DataFrame = {
    requireServe("bm25FromIndex", nDocs, kTop)
    serve(frameCandidates(index.toDF(TfIndexCols: _*), queries, lowercase, "bm25FromIndex"),
      nDocs, kTop, k1, lit(1.0))
  }

  /** [[bm25FromIndex]] batch overload with the Map form's defaults. */
  def bm25FromIndexBatch(index: DataFrame, nDocs: Long, queries: DataFrame,
                         kTop: Int): DataFrame =
    bm25FromIndex(index, nDocs, queries, kTop, k1 = 1.2, lowercase = true)

  /** [[bm25FromIndex]] over a [[championIndexImpact]] index, whose stored
    * (tf, dl) let serving replay the full length-normalized BM25 per
    * candidate (`impact_micro` only chose the champions). With m ≥ every
    * query term's df the result equals [[bm25TopK]] over the corpus (the
    * RankSpec pin).
    *
    * @param avgdl the normalization length the index was built with —
    *              `fixedAvgdl`, or the corpus average the build measured;
    *              index metadata the caller carries alongside nDocs.
    * @return (query_id, id, score_micro, rank), as [[bm25FromIndex]]. */
  def bm25FromIndexImpact(index: DataFrame, nDocs: Long, avgdl: Double,
                          queries: Map[String, Seq[String]], kTop: Int,
                          k1: Double = 1.2, b: Double = 0.75,
                          lowercase: Boolean = true): DataFrame = {
    requireServe("bm25FromIndexImpact", nDocs, kTop, avgdl)
    serve(mapCandidates(index.toDF(ImpactIndexCols: _*), queries, lowercase,
      "bm25FromIndexImpact"), nDocs, kTop, k1, lengthNorm(col("dl"), b, avgdl))
  }

  /** [[bm25FromIndexImpact]] for BATCH query loads, as the
    * [[bm25FromIndex]] DataFrame overload. */
  def bm25FromIndexImpact(index: DataFrame, nDocs: Long, avgdl: Double,
                          queries: DataFrame, kTop: Int, k1: Double,
                          b: Double, lowercase: Boolean): DataFrame = {
    requireServe("bm25FromIndexImpact", nDocs, kTop, avgdl)
    serve(frameCandidates(index.toDF(ImpactIndexCols: _*), queries, lowercase,
      "bm25FromIndexImpact"), nDocs, kTop, k1, lengthNorm(col("dl"), b, avgdl))
  }

  /** [[bm25FromIndexImpact]] batch overload with the Map form's defaults. */
  def bm25FromIndexImpactBatch(index: DataFrame, nDocs: Long, avgdl: Double,
                               queries: DataFrame, kTop: Int): DataFrame =
    bm25FromIndexImpact(index, nDocs, avgdl, queries, kTop,
      k1 = 1.2, b = 0.75, lowercase = true)
}
