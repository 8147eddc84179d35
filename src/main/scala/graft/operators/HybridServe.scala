package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The hybrid-retrieval serving LIFECYCLE as one engine API — the
  * build/save/load/serve/ingest/remove/upsert/compact packaging of the
  * q117 composition (champion-list lexical index + IVF coarse quantizer +
  * PQ codebooks + cell-partitioned codes, fused by RRF), mirroring how the
  * reference packages a vector collection's lifecycle as a reusable step
  * (collection create/upsert/alias-swap/retire,
  * wurzel/steps/qdrant/step.py:35-283) rather than a recipe the user
  * reassembles by hand.
  *
  * Phases and their scale shapes:
  *  - BUILD (amortized, corpus-sized): one [[Rank.championIndex]] pass over
  *    the text, one [[PqIndex.encodeCells]] map-side pass over the
  *    embeddings; the IVF/PQ models are either caller-fitted
  *    ([[buildWith]]) or fitted here ([[build]]).
  *  - SAVE: all four artifacts persist as parquet. The cells store goes
  *    through [[PqIndex.writeCells]], so the measured one-file-per-cell
  *    layout rule is baked into the writer and cannot be forgotten.
  *    [[saveVersioned]] rides the [[graft.sinks.VersionedTableSink]]
  *    protocol (count-verified manifest commit, atomic alias swap,
  *    retirement of stale versions) so serving artifacts get the same
  *    crash-safe version lifecycle as any other collection.
  *  - LOAD: models come back as bounded driver state (kilobytes); the
  *    index and cells stores stay as lazy DataFrames — a restarted server
  *    never re-fits and never re-reads the corpus. The index store's
  *    schema is VALIDATED against the canonical column set on the way in.
  *  - SERVE (per query batch): index-only BM25 over the batch vocabulary
  *    ([[Rank.bm25FromIndex]] DataFrame form — one equi-join, no driver
  *    collect), IVF-probed ADC over the cells store
  *    ([[PqIndex.ivfAdcTopK]] — per-query work is cell-bounded and the
  *    partitioned store prunes to the probed cells), RRF fusion
  *    ([[Rank.rrfFuse]]). graft.tools.ScaleCurve measured this serve
  *    phase FLAT across 100x corpus growth.
  *  - MUTATE ([[ingest]]/[[remove]]/[[upsert]]): index-sized incremental
  *    maintenance. Each ingest materializes its merged index and only the
  *    batch's new cells, so the next serve, remove or save does not re-run
  *    the merge, and the stored cells stay a lazy (partition-pruned)
  *    scan. With [[BuildConfig.champSlack]] > 0 removal is EXACT
  *    until a term loses more than `champSlack` stored postings
  *    (cumulatively since the last rebuild), monitored by
  *    [[compactionDue]] and compacted by [[maybeCompact]].
  */
object HybridServe {

  /** Build-phase knobs. `champM`/`champSlack`/`champMinDf`/`lowercase`
    * parameterize the champion index; `ivfK`, `pqM`, `pqKsub`, `iters`
    * parameterize the [[build]] overload's model fits (ignored by
    * [[buildWith]]).
    *
    * `champSlack` is the removal-exactness budget: the index PERSISTS the
    * top-(champM + champSlack) postings per term while [[serve]] ranks
    * from the top-champM survivors. A slack posting is a pre-paid
    * backfill — when [[remove]] deletes a champion, the next-ranked
    * stored posting promotes into the vacated serving slot, so removal
    * serves EXACTLY like a from-scratch build of the survivors until a
    * term has lost more than `champSlack` stored postings since the last
    * rebuild (a stored top-(m+s) list is a prefix of the full ranking,
    * so as long as >= m stored postings survive they ARE the survivors'
    * true top-m). Storage cost is (m+s)/m versus a slack-less index;
    * serve cost is unchanged (the slack rows filter out of the lexical
    * leg before scoring). */
  final case class BuildConfig(
      champM: Int = 8,
      champSlack: Int = 0,
      champMinDf: Long = 1L,
      lowercase: Boolean = true,
      ivfK: Int = 16,
      pqM: Int = 2,
      pqKsub: Int = 16,
      iters: Int = 3)

  /** Sentinel `champMinDf` marking a store whose meta predates the
    * persisted [[BuildConfig]] (round-12 and earlier saves): the build
    * knobs are UNKNOWN PROVENANCE, so the mutation paths refuse it (a
    * pre-config store actually built pruned would merge
    * silently-approximately — the exact failure [[requireMergeable]]
    * advertises it prevents) while [[serve]] still works, skipping only
    * the lowercase cross-check it cannot perform. A real build can never
    * produce this value ([[Rank.championIndex]] requires minDf >= 1). */
  val LegacyUnknownMinDf: Long = -1L

  /** The canonical index schema every stored/mutated index carries:
    * [[Rank.championIndex]]'s output with the caller's id column
    * normalized to `id`, plus the per-term `loss` counter (r15). All
    * consumers select BY NAME against this contract (never
    * positionally), so a reordered frame is re-ordered and a
    * renamed/extra column fails loudly instead of silently mislabeling
    * df/cf in a subtraction.
    *
    * `loss` is the term's cumulative count of stored postings DISCARDED
    * below its list boundary since the last rebuild — the bookkeeping
    * that makes the slack budget honest across remove/ingest cycles.
    * The maintained invariant: a term's stored list is ALWAYS a true
    * prefix of the current corpus's full (tf desc, id asc) ranking —
    * either COMPLETE (`have == df`, nothing was ever discarded below
    * it) or exactly `champM + champSlack - loss` postings long. [[remove]]
    * increments `loss` for incomplete terms; the ingest merge CAPS a
    * term's merged list at `champM + champSlack - loss` (deeper merged
    * positions could hold postings that outrank ones discarded at
    * build, so they are untrusted and never stored); `loss` resets only
    * at a rebuild. A term with `loss == champM + champSlack` has no
    * trustworthy postings at all and is kept as a TOMBSTONE: a
    * stats-only row (null id, tf 0, null rank) that preserves the
    * term's exact df/cf through future merges (so serve-time idf never
    * undercounts) while [[serve]] skips it and [[compactionDue]] flags
    * it as fully degraded. */
  private[operators] val IndexColumns = Seq("term", "df", "cf", "rank", "id", "tf", "loss")

  /** Validate `index` against [[IndexColumns]] and normalize column ORDER
    * by name — the name-based schema contract every mutation/serve path
    * goes through. */
  private def requireIndexSchema(index: DataFrame, op: String): DataFrame = {
    require(index.columns.toSet == IndexColumns.toSet,
      s"$op: index schema ${index.columns.mkString("(", ", ", ")")} does not " +
        s"match the canonical ${IndexColumns.mkString("(", ", ", ")")} — refusing " +
        "to guess which column is which (a positional rebind would silently " +
        "mislabel df/cf). Build through HybridServe, or rename your columns.")
    index.select(IndexColumns.map(col): _*)
  }

  /** Serve-phase knobs: per-leg depth, fusion constants, probe width.
    * `lowercase` must agree with the index's build-time setting —
    * lowercasing query terms against a mixed-case index (or vice versa)
    * would silently empty the lexical leg, so [[serve]] validates it
    * against the persisted [[BuildConfig]]. */
  final case class ServeConfig(
      kTopPerLeg: Int = 20,
      kRrf: Int = 60,
      kTop: Int = 10,
      nprobe: Int = 2,
      k1: Double = 1.2,
      lowercase: Boolean = true)

  /** The complete serving artifact set. `index` and `cells` are frames
    * (persisted stores after [[load]]); the index carries the canonical
    * [[IndexColumns]] schema. `ivf`/`pq` are kilobytes of
    * driver/broadcast model state; `nDocs` is the index's corpus size
    * (idf metadata the index itself cannot carry); `build` is the
    * [[BuildConfig]] the index was built with — persisted in the meta
    * store by [[save]] and restored by [[load]], so the mutation paths
    * ([[ingest]], [[remove]], [[upsert]]) can ENFORCE their exactness
    * preconditions on a loaded store instead of trusting the caller to
    * remember how it was built, and [[serve]] can reject a query-term
    * normalization that disagrees with the index's. */
  final case class Artifacts(
      index: DataFrame,
      nDocs: Long,
      ivf: IvfIndex.Model,
      pq: PqIndex.Model,
      cells: DataFrame,
      build: BuildConfig = BuildConfig())

  /** Build all four artifacts from caller-fitted models — the form the
    * oracle queries use (deterministic models from pinned vectors) and the
    * form a deployment uses when models are fitted on a sample or carried
    * forward from the previous version (the carry-vs-retrain policy on
    * [[PqIndex.encode]]). The index persists champM + champSlack postings
    * per term (the slack rows are [[remove]]'s backfill budget; [[serve]]
    * ranks only the top champM). */
  def buildWith(corpus: DataFrame, docIdCol: String, textCol: String,
                embeddings: DataFrame, vecIdCol: String, vecCol: String,
                ivf: IvfIndex.Model, pq: PqIndex.Model,
                cfg: BuildConfig = BuildConfig()): Artifacts = {
    require(cfg.champSlack >= 0, "buildWith: champSlack must be >= 0")
    require(cfg.champMinDf != LegacyUnknownMinDf,
      "buildWith: champMinDf = -1 is the legacy-meta sentinel, not a build knob")
    // nDocs RIDES the index census as an observed metric (r15, the CC
    // checksum trick): championIndex consumes the corpus exactly once (one
    // fused aggregate pass), so a CollectMetrics count on the corpus node
    // arrives with the index checkpoint job — the separate corpus.count()
    // action this replaces was a SECOND full corpus scan per build.
    val nObs = org.apache.spark.sql.Observation()
    val index = Rank.championIndex(
        corpus.observe(nObs, count(lit(1)).as("n")), docIdCol, textCol,
        m = cfg.champM + cfg.champSlack, minDf = cfg.champMinDf,
        lowercase = cfg.lowercase)
      // championIndex's id column keeps the caller's name; normalize it to
      // the canonical schema HERE, at the one site where the adjacent call
      // pins which column that is — downstream everything is by-name
      .withColumnRenamed(docIdCol, "id")
      // a rebuild stores every term's true top-(m+s) prefix: nothing has
      // been discarded below any list boundary yet
      .withColumn("loss", lit(0L))
    // Both stores MATERIALIZE eagerly (r15, as ingest's end does): a
    // built-but-unsaved artifact set is consumed by several independent
    // actions (a mutation's roster guard + stats pass + the serve/save
    // itself), and each action would otherwise re-run the corpus-sized
    // build pipeline from scratch — measured ~2 full census passes per
    // action at r15 start. Checkpointed state is
    // index-/cells-sized (exactly what save would write), never
    // corpus-sized; save over the checkpoint writes from cached blocks
    // instead of re-tokenizing. The two build actions (index census with
    // the observed nDocs riding it, cells encode) are INDEPENDENT jobs
    // over different inputs, so they run concurrently (guide §2.6 — later
    // jobs back-fill the earlier jobs' idle task slots) instead of
    // serially. The checkpoints are artifacts the caller owns.
    val spark = corpus.sparkSession
    val (idx, cells) = Phase.concurrently(
      Phase.described(spark, "serve.build.index")(
        requireIndexSchema(index, "buildWith").localCheckpoint()))(
      Phase.described(spark, "serve.build.cells")(
        PqIndex.encodeCells(embeddings, vecIdCol, vecCol, ivf, pq).localCheckpoint()))
    // the census action has completed, so its observed corpus count is
    // already delivered; the bounded read turns a delivery regression into
    // a clear error instead of a hang
    val n = Phase.observed(nObs, "HybridServe.buildWith", "index census")
      .getAs[Long]("n")
    Artifacts(idx, n, ivf, pq, cells, cfg)
  }

  /** [[buildWith]] with the models fitted here: IVF centroids via
    * [[IvfIndex.fit]] (deterministic k-means over the quantized
    * embeddings), PQ codebooks via [[PqIndex.fit]]. */
  def build(corpus: DataFrame, docIdCol: String, textCol: String,
            embeddings: DataFrame, vecIdCol: String, vecCol: String,
            cfg: BuildConfig = BuildConfig()): Artifacts = {
    // the two fits read the embeddings independently: overlap them
    val spark = corpus.sparkSession
    val (ivf, pq) = Phase.concurrently(
      Phase.described(spark, "serve.build.ivf")(
        IvfIndex.fit(embeddings, vecIdCol, vecCol, cfg.ivfK, cfg.iters)))(
      Phase.described(spark, "serve.build.pq")(
        PqIndex.fit(embeddings, vecIdCol, vecCol, cfg.pqM, cfg.pqKsub, cfg.iters)))
    buildWith(corpus, docIdCol, textCol, embeddings, vecIdCol, vecCol, ivf, pq, cfg)
  }

  /** The mutation paths' shared exactness precondition, ENFORCED (not
    * convention): the stored index must carry UNPRUNED terms
    * (`champMinDf = 1` at build) — a term below a higher threshold in
    * each half can cross it in a merged union, and a pruned term's
    * df/cf are unrecoverable at subtraction time. The [[BuildConfig]]
    * travels inside [[Artifacts]] and the meta store, so a LOADED
    * store is checked too — a minDf-50 build fails here loudly instead
    * of merging silently-approximately, and a store whose meta predates
    * the persisted config ([[LegacyUnknownMinDf]]) is refused outright:
    * its build knobs are unknown, so its mergeability cannot be
    * established (rebuild once through [[build]] to re-enter the
    * incremental path; serving such a store still works). */
  private def requireMergeable(a: Artifacts, op: String): Unit = {
    require(a.build.champMinDf != LegacyUnknownMinDf,
      s"$op: the stored meta predates the persisted build config (legacy " +
        "save) — its champMinDf/lowercase provenance is unknown, so exact " +
        "incremental maintenance cannot be established. Rebuild once (build + " +
        "saveVersioned) to record the config; serving the store still works.")
    require(a.build.champMinDf == 1L,
      s"$op: the stored index was built with champMinDf = ${a.build.champMinDf}; " +
        "exact incremental maintenance requires champMinDf = 1 (unpruned terms — " +
        "a pruned term's postings and df/cf cannot be reconstructed). Either " +
        "rebuild once with champMinDf = 1 and carry forward from there, or stay " +
        "on the full-rebuild-per-version path (build + saveVersioned).")
  }

  /** The stored serving set's membership roster: every id in the lexical
    * index or the cells store. Both stores contribute — a doc can be
    * lexically indexed without an embedding, or embedded with lexically
    * empty text ([[save]]'s scaladoc supports both shapes) — so guarding
    * against only one store would let [[ingest]] double-count a
    * text-only doc's df/cf (or [[remove]] refuse to delete it). One
    * distinct over index-plus-cells-sized ids, used inside a single
    * bounded guard job per mutation. */
  private def rosterIds(a: Artifacts, op: String): DataFrame =
    a.cells.select(col("cid").as("__rid"))
      .unionByName(requireIndexSchema(a.index, op)
        // tombstone rows carry a null id — stats bookkeeping, not members
        .filter(col("id").isNotNull).select(col("id").as("__rid")))
      .distinct()

  /** Incremental ingest — the reference's upsert-create analog, composed
    * from the engine's two exact merge paths: the arriving batch indexes
    * ALONE ([[Rank.championIndex]] with minDf 1), merges with the
    * stored index ([[mergeIndexes]] — bit-identical to a from-scratch
    * build over the union wherever the stored half is still a full
    * top-(m+s) prefix, the roster probe guards double-counting), and the
    * batch's embeddings encode against the FROZEN models
    * ([[PqIndex.encodeCells]] — encoding is a pure per-row function of
    * the codebook, so appended cells equal a from-scratch encode) and
    * union into the cells frame. Neither the stored corpus text nor the
    * stored embeddings are ever re-read.
    *
    * The merged index (index-sized) and the batch's new cells
    * (batch-sized) MATERIALIZE before ingest returns (eager
    * localCheckpoint, as in [[buildWith]]; the checkpoints are artifacts
    * the caller owns). So the next serve, [[remove]] guard or [[save]]
    * reads them instead of re-running the batch's census and encode and
    * the merge, each of which reads the caller's batch lineage. The
    * stored cells stay as they came in, so a loaded store keeps its
    * cell-partition pruning at serve time.
    *
    * THE SLACK BUDGET DOES NOT REPLENISH ACROSS A MERGE. A term that
    * lost `loss` stored postings to [[remove]] since the last rebuild
    * has discarded postings below its list boundary that a merged list
    * position might need — so the merge CAPS that term's list at
    * champM + champSlack - loss (the [[IndexColumns]] prefix invariant)
    * instead of silently refilling the deep positions with
    * possibly-wrong postings. A term whose loss has consumed the whole
    * budget stays a tombstone even when the batch re-arrives with the
    * term: its df/cf merge exactly (serve-time idf counts the unstored
    * survivors), but no posting is served until a rebuild re-reads the
    * corpus — recall-shaped degradation, visible in [[compactionDue]],
    * never a wrong score. Only a rebuild ([[build]]/[[maybeCompact]])
    * resets loss.
    *
    * All knobs come from `a.build` (the config the stored index was
    * actually built with — persisted by [[save]]), and the stored index
    * must satisfy [[requireMergeable]]; the merged index stays minDf-1
    * so the NEXT ingest is exact too. Models carry frozen — monitor
    * drift per the carry-vs-retrain policy on [[PqIndex.encode]]; a
    * retrain is a fresh [[build]]. Persist the result with
    * [[saveVersioned]]: the union writes as a NEW version (one file per
    * cell again), the alias swaps, and the previous version retires on
    * schedule. */
  def ingest(a: Artifacts, corpus: DataFrame, docIdCol: String, textCol: String,
             embeddings: DataFrame, vecIdCol: String, vecCol: String): Artifacts = {
    requireMergeable(a, "ingest")
    val spark = a.index.sparkSession
    val batchIndex = Rank.championIndex(corpus, docIdCol, textCol,
        m = a.build.champM + a.build.champSlack, minDf = 1L,
        lowercase = a.build.lowercase)
      .withColumnRenamed(docIdCol, "id")
      // a fresh batch half is a full top-(m+s) prefix of its own corpus
      .withColumn("loss", lit(0L))
    val merged = mergeIndexes(
      requireIndexSchema(a.index, "ingest"),
      requireIndexSchema(batchIndex, "ingest"),
      mTotal = a.build.champM + a.build.champSlack)
    // ONE guard job doubling as the nDocs count: the batch's ids probe the
    // full membership roster (index ids UNION cells ids — a text-only doc
    // has no cells row, and re-ingesting it would silently double-count
    // its df/cf in the merge). It overlaps the merge and the encode; its
    // require runs on the calling thread, so its failure is rethrown first.
    val (nNew, (index, newCells)) = Phase.concurrently {
      val probe = Phase.described(spark, "serve.ingest.guard")(
        corpus.select(col(docIdCol).as("__rid"))
          .join(rosterIds(a, "ingest").withColumn("__hit", lit(1)), Seq("__rid"), "left")
          .agg(count(lit(1)).as("n"), count(col("__hit")).as("overlap")).head())
      require(probe.getLong(1) == 0,
        "ingest: batch contains ids already in the stored serving set — corpora " +
          "must be disjoint (updating a stored doc is upsert: remove, then ingest)")
      probe.getLong(0)
    }(Phase.concurrently(
      Phase.described(spark, "serve.ingest.merge")(merged.localCheckpoint()))(
      Phase.described(spark, "serve.ingest.merge")(
        PqIndex.encodeCells(embeddings, vecIdCol, vecCol, a.ivf, a.pq)
          .select(col("cid"), col("cell"), col("codes")).localCheckpoint())))
    Artifacts(index, a.nDocs + nNew, a.ivf, a.pq,
      a.cells.select(col("cid"), col("cell"), col("codes")).unionByName(newCells),
      a.build)
  }

  /** The lifecycle's loss-aware champion merge over DISJOINT corpora —
    * [[Rank.mergeChampionIndexes]]'s algebra (a global top-k posting is
    * top-k within its half, so merging two true prefixes and re-ranking
    * yields a true prefix of the union; df/cf add) extended with the
    * [[IndexColumns]] prefix invariant:
    *  - the per-term `loss` carries forward (max across halves — a term
    *    in both takes the stored half's, a batch-only term starts at 0);
    *  - the merged list is CAPPED at `mTotal - loss`: positions beyond
    *    that could be outranked by postings the build/remove history
    *    discarded, so storing them would let a later [[remove]] promote
    *    a wrong posting into a serving slot with no monitor signal;
    *  - a term whose loss consumed the whole budget keeps a TOMBSTONE
    *    stats row (null id, tf 0) so its exact df/cf survive the merge.
    * Tombstone rows never enter the posting re-rank (null ids are
    * filtered before the top-k), only the stats sum. Everything is
    * index-sized: one stats groupBy over the distinct per-(half, term)
    * stats rows, one bounded GroupTopK + re-rank window over <= 2*mTotal
    * rows per term. */
  private def mergeIndexes(stored: DataFrame, batch: DataFrame,
                           mTotal: Int): DataFrame = {
    val idType = stored.schema("id").dataType
    val u = stored.withColumn("__half", lit(0))
      .unionByName(batch.withColumn("__half", lit(1)))
    // the half tag keeps the per-term stats rows distinct even when both
    // halves coincidentally share identical (df, cf, loss)
    val stats = u.select(col("__half"), col("term"), col("df"), col("cf"),
        col("loss")).distinct()
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"),
        max(col("loss")).as("loss"))
    val champs = graft.plans.GroupTopK.topK(
      u.filter(col("id").isNotNull).select(col("term"), col("id"), col("tf")),
      Seq("term"), Seq(col("tf").desc, col("id").asc), mTotal)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("id").asc)
    val ranked = champs.join(stats, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(mTotal.toLong) - col("loss"))
      .select(IndexColumns.map(col): _*)
    // loss == mTotal is exactly the tombstone regime: the cap filter kept
    // nothing, so the term's stats survive as a posting-less row (every
    // other term keeps >= 1 row: a real prefix of length mTotal - loss
    // exists by the invariant, or the term is batch-fresh with loss 0)
    val tomb = stats.filter(col("loss") >= lit(mTotal.toLong))
      .select(col("term"), col("df"), col("cf"),
        lit(null).cast("int").as("rank"), lit(null).cast(idType).as("id"),
        lit(0L).as("tf"), col("loss"))
    ranked.unionByName(tomb)
  }

  /** Document removal — the reference's prune-stale analog
    * (wurzel/steps/wonderful/step.py:207-230 deletes the stale set-diff
    * every run; elevenlabs/step.py:167-230 deletes before re-upload):
    * drop `stale` documents from the serving set WITHOUT rebuilding or
    * re-reading the surviving corpus. `stale` must be the stale rows AS
    * STORED (id + the text that was indexed — in the reference pipeline
    * shape these come from the previous corpus version, which is exactly
    * what a prune-stale set-diff holds).
    *
    * What removal does, and how exact it is:
    *  - VECTOR leg: fully exact. The cells store holds EVERY candidate's
    *    codes, so an anti-join on the stale ids leaves precisely the
    *    surviving corpus's from-scratch encoding.
    *  - LEXICAL stats: fully exact. The stale batch re-indexes alone
    *    (one pass over the stale rows, never the survivors) and its
    *    per-term (df, cf) subtract from the stored stats; nDocs
    *    decrements — so serve-time idf equals a from-scratch build over
    *    the survivors. This is why [[requireMergeable]] applies: pruned
    *    stats could not be subtracted. An adjustment that would drive a
    *    surviving term's df below 1 (or any stat negative, or a df-0
    *    term's cf positive) can only mean the stale frame does not
    *    match the stored rows, and FAILS FAST at remove() time (r15 —
    *    the adjustment is computed in the same bounded guard pass that
    *    validates membership; pre-r14 a df >= 1 filter silently dropped
    *    such rows, r14 raised lazily from the first downstream action).
    *  - CHAMPION LISTS: stale postings anti-join away and the surviving
    *    postings of each affected term RE-RANK (slack PROMOTION: the
    *    stored list is a prefix of the term's full tf ranking, so the
    *    next-ranked slack posting moves into the vacated serving slot).
    *    Serving is therefore EXACT — identical to a from-scratch build
    *    of the survivors — until a term has lost more than
    *    `build.champSlack` stored postings since the last rebuild
    *    (cumulatively: each incomplete term's losses accrue in the
    *    persisted `loss` column, and the ingest merge never refills the
    *    spent budget — [[IndexColumns]]); past that the list goes SHORT
    *    (a recall degradation, never a wrong score: every posting still
    *    served carries its exact tf/df). The deeper postings a short
    *    list would need were discarded by the build's top-(m+s) heap
    *    and are unrecoverable without a rebuild. With slack 0 this
    *    degenerates to the m >= df full-list exactness the q121 oracle
    *    pins; q124 pins the slack-backfilled case (champions of
    *    df > champM terms removed, serving hash-identical to a
    *    from-scratch survivor build).
    *  - VANISHED TERMS: a term whose EVERY stored posting is removed
    *    while its adjusted df stays >= 1 (unstored surviving docs still
    *    contain it) keeps a TOMBSTONE stats row — null id, tf 0,
    *    loss = m+s — instead of silently dropping out of the index.
    *    The tombstone preserves the term's exact df/cf for future
    *    ingest merges (serve-time idf never undercounts), [[serve]]
    *    skips it, and [[compactionDue]] reports it as fully degraded
    *    (have = 0) — so the one state where serving could silently
    *    diverge from the survivor oracle is loudly monitored instead.
    *    q129 pins this regime end-to-end.
    * Monitor degradation with [[compactionDue]] (slack-exhausted and
    * vanished terms); compaction is the versioned rebuild
    * [[maybeCompact]] runs when the degraded share crosses the
    * deployment's recall tolerance.
    *
    * Scale shape: the anti-joins and the stats join broadcast the stale
    * side (a prune batch is small relative to a 100 TB corpus by
    * assumption — a corpus-scale removal IS a rebuild), and the
    * promotion re-rank windows ONLY the affected terms (stale-vocabulary
    * x (m+s) rows — batch-sized, never index-sized), so [[serve]] over
    * the result adds no index-wide exchange; work is index-sized at
    * worst, never survivor-corpus-sized. [[save]] persists the filtered
    * frames, so the next version is physically compacted postings-wise. */
  def remove(a: Artifacts, stale: DataFrame, docIdCol: String,
             textCol: String): Artifacts = {
    requireMergeable(a, "remove")
    // The stale-id set MATERIALIZES once (r16): the roster probe, the
    // stats group's id join and every downstream action's anti-join
    // broadcasts (index + cells) read this checkpoint instead of each
    // re-executing the caller's stale lineage, which in the prune-stale
    // pipeline shape is itself a corpus semi-join (q129/q130). The stats
    // group still runs that lineage once: `staleStats` below needs the
    // stale rows' text, so it is built from `stale`, not from this
    // checkpoint. Checkpointed state is batch-id-sized (the same bound
    // that justifies broadcasting it); the buildWith/ingest eager-
    // materialization pattern applied at the mutation's input.
    val stored = requireIndexSchema(a.index, "remove")
    val spark = stored.sparkSession
    import spark.implicits._
    val staleIds = Phase.described(spark, "serve.remove.guard")(
      stale.select(col(docIdCol).as("__sid")).distinct().localCheckpoint())
    // the stale batch's exact per-term stats, from its own rows alone
    // (championIndex computes df/cf before the champion prune, so m=1
    // minimizes work without affecting the stats)
    val staleStats = Rank.championIndex(stale, docIdCol, textCol,
        m = 1, minDf = 1L, lowercase = a.build.lowercase)
      .select(col("term"), col("df").as("__rdf"), col("cf").as("__rcf"))
    // ONE guard job doubling as the nDocs decrement count: every stale id
    // must be in the stored serving set's roster (index ids UNION cells
    // ids — a text-only doc has no cells row but is genuinely stored, and
    // must be removable; the cells anti-join is simply a no-op for it) —
    // subtracting a never-added doc's stats would silently corrupt df/cf
    // (the ingest disjointness guard's mirror image), so an unknown id
    // fails fast. The guard overlaps the group job below (guide §2.6; the
    // two read independent inputs); its require runs on the calling thread,
    // so its failure is rethrown first.
    // ONE bounded group job over the stale vocabulary's stored rows
    // computes each affected term's pre-removal posting count, its
    // surviving count, and the stats deltas — then the adjustment, loss
    // accrual, corruption checks, and tombstone detection all run
    // DRIVER-SIDE on the collected rows. The collect is stale-VOCABULARY
    // sized — bounded by the same prune-batches-are-small assumption
    // that justifies broadcasting staleStats (a corpus-scale removal IS
    // a rebuild) — and doing it here means the returned index frame
    // carries no per-action stats recompute: every downstream action
    // (ingest's guard + merge, save, serve) re-reads the index twice
    // (untouched + touched), never re-runs the stats aggregate.
    val (nStale, grp) = Phase.concurrently {
      val probe = Phase.described(spark, "serve.remove.guard")(
        staleIds.withColumnRenamed("__sid", "__rid")
          .join(rosterIds(a, "remove").withColumn("__hit", lit(1)), Seq("__rid"), "left")
          .agg(count(lit(1)).as("n"), count(col("__hit")).as("known")).head())
      require(probe.getLong(0) == probe.getLong(1),
        "remove: stale ids not present in the stored serving set — stale rows " +
          "must come from the previously stored corpus version")
      probe.getLong(0)
    }(Phase.described(spark, "serve.remove.stats")(stored
      .join(broadcast(staleStats), Seq("term"))
      .join(broadcast(staleIds), col("id") === col("__sid"), "left")
      .groupBy(col("term"))
      .agg(first(col("df")).as("df0"), first(col("cf")).as("cf0"),
        first(col("loss")).as("loss0"),
        first(col("__rdf")).as("rdf"), first(col("__rcf")).as("rcf"),
        count(col("id")).as("prevHave"),
        count(when(col("__sid").isNull && col("id").isNotNull, lit(1)))
          .as("surv"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect()))
    val adjRows = Vector.newBuilder[(String, Long, Long, Long)]
    val tombRows = Vector.newBuilder[(String, Long, Long, Long)]
    for ((term, df0, cf0, loss0, rdf, rcf, prevHave, surv) <- grp) {
      val dfN = df0 - rdf
      val cfN = cf0 - rcf
      // corruption floors (fail fast — this is the same guard pass that
      // validated membership): a surviving stored posting's own doc
      // counts toward df, so df < 1 with survivors — or any negative
      // adjustment, or a df-0 term with leftover cf — can only mean the
      // stale text does not match what was indexed
      val corrupt =
        if (surv >= 1) dfN < 1 || cfN < 0
        else dfN < 0 || cfN < 0 || (dfN == 0 && cfN > 0)
      require(!corrupt,
        s"remove: adjusted df/cf went below the floor for term '$term' — the " +
          "stale rows do not match what was indexed (stale must be the " +
          "previous corpus version AS STORED)")
      // loss accrues ONLY for incomplete terms (prevHave < df means
      // postings were discarded below the list boundary at build/merge
      // time, so each removal genuinely erodes the trusted prefix); a
      // COMPLETE term's list stays the survivors' full posting set no
      // matter how much of it is removed, so its budget never spends
      val lossN = loss0 + (if (prevHave < df0) prevHave - surv else 0L)
      if (surv >= 1) adjRows += ((term, dfN, cfN, lossN))
      // vanished terms with surviving unstored docs become tombstones:
      // stats-only rows that keep df/cf exact for future merges while
      // serve skips them and compactionDue flags them (have = 0). A
      // term whose adjusted df reached 0 is genuinely gone and drops.
      // Only incomplete terms can vanish this way (a complete term's
      // every stored posting removed means every doc with the term was
      // stale, driving df to 0), so the tombstone's loss is
      // loss0 + prevHave = the whole m+s budget — consistent with the
      // merge's cap algebra.
      else if (dfN >= 1) tombRows += ((term, dfN, cfN, lossN))
    }
    val adjDf = adjRows.result()
      .toDF("term", "__dfN", "__cfN", "__lossN")
    // the affected vocabulary, as a driver-built literal: grp holds
    // every stored term the stale batch mentions (terms in the stale
    // text but absent from the index have no stored rows to touch), so
    // the returned index plan re-reads ONLY the index and the stale-id
    // distinct — never the stale batch's census
    val affectedTerms = broadcast(
      grp.map(_._1).toSeq.toDF("term"))
    val tagged = stored
      .join(broadcast(staleIds), col("id") === col("__sid"), "left_anti")
    // terms the stale batch never mentions pass through untouched — no
    // stats change, no rank change, no loss change, no exchange. The
    // anti-join on the affected VOCABULARY also drops a re-removed
    // tombstone term's old stats row (its refreshed tombstone, if df
    // still >= 1, re-enters below).
    val untouched = tagged.join(affectedTerms, Seq("term"), "left_anti")
      .select(IndexColumns.map(col): _*)
    // survivors of affected terms PROMOTE by re-ranking (the stored list
    // is a prefix of the term's full tf ranking, so the next-ranked
    // slack posting moves into the vacated serving slot); the window
    // covers only stale-vocabulary terms, each <= m+s rows, and the
    // adjusted stats arrive as a driver-built broadcast literal
    val touched = tagged.filter(col("id").isNotNull)
      .select(col("term"), col("id"), col("tf"))
      .join(broadcast(adjDf), Seq("term"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("tf").desc, col("id").asc)))
      .select(col("term"), col("__dfN").as("df"), col("__cfN").as("cf"),
        col("rank"), col("id"), col("tf"), col("__lossN").as("loss"))
    val idType = stored.schema("id").dataType
    val tomb = tombRows.result().toDF("term", "df", "cf", "loss")
      .select(col("term"), col("df"), col("cf"),
        lit(null).cast("int").as("rank"), lit(null).cast(idType).as("id"),
        lit(0L).as("tf"), col("loss"))
    val cells = a.cells.select(col("cid"), col("cell"), col("codes"))
      .join(broadcast(staleIds), col("cid") === col("__sid"), "left_anti")
    Artifacts(untouched.unionByName(touched).unionByName(tomb),
      a.nDocs - nStale, a.ivf, a.pq, cells, a.build)
  }

  /** Document update — the reference's create-vs-update upsert
    * (wurzel/steps/elevenlabs/step.py:167-230: changed docs delete then
    * re-upload under the same id; new docs create): [[remove]] the
    * stale versions, then [[ingest]] the fresh rows. Because removal
    * physically drops the stale ids from the index and cells frames,
    * the re-ingest of the SAME ids passes the disjointness guard — no
    * synthetic version-suffixed ids needed. `stale` = the previous
    * versions of the changed docs (as stored); `fresh` = the incoming
    * batch (updated docs under their ids, plus any genuinely new ids);
    * `freshEmb` = the incoming batch's embeddings. Exactness is
    * [[remove]]'s + [[ingest]]'s: stats and the vector leg exact,
    * champion lists exact until a term overdraws its champSlack
    * backfill budget. What materializes is [[ingest]]'s: the merged index
    * and the batch's new cells. [[remove]]'s driver-side stats make its
    * returned frames cheap to re-read, so ingest's guard and merge read
    * them directly. */
  def upsert(a: Artifacts, stale: DataFrame, fresh: DataFrame,
             docIdCol: String, textCol: String,
             freshEmb: DataFrame, vecIdCol: String, vecCol: String): Artifacts =
    ingest(remove(a, stale, docIdCol, textCol),
      fresh, docIdCol, textCol, freshEmb, vecIdCol, vecCol)

  /** Removal-degradation monitor, the compaction trigger [[remove]]'s
    * scaladoc promises: terms whose stored list can no longer serve the
    * full from-scratch champion list — fewer surviving postings than
    * `least(champM, df)`. With slack this is exactly SLACK EXHAUSTION:
    * promotion keeps serving exact while >= champM stored postings
    * survive (or the list is complete), so a term appears here only once
    * its cumulative removals overdraw the champSlack budget and recall
    * genuinely degrades. A term whose every stored posting was removed
    * while unstored docs still contain it persists as a TOMBSTONE
    * (null-id stats row, [[remove]]) and reports here with have = 0 —
    * the monitor sees fully-vanished terms, not just shortened lists.
    * One index-sized aggregate; compact by rebuilding ([[maybeCompact]],
    * or [[build]] + [[saveVersioned]] by hand) when the degraded share
    * crosses the deployment's recall tolerance.
    * @return (term, df, have) — degraded terms only. */
  def compactionDue(a: Artifacts): DataFrame =
    requireIndexSchema(a.index, "compactionDue")
      .groupBy(col("term"))
      // count(id) skips nulls, so a tombstone's have is 0, not 1
      .agg(first(col("df")).as("df"), count(col("id")).as("have"))
      .filter(col("have") < least(lit(a.build.champM.toLong), col("df")))
      .select(col("term"), col("df"), col("have"))

  /** The compaction POLICY hook closing the mutation lifecycle — the
    * reference's retirement loop is policy-driven the same way
    * (wurzel/steps/qdrant/retirement.py:19-117 decides per collection
    * whether a version retires): measure the degraded share (terms
    * [[compactionDue]] would flag, over all index terms — one bounded
    * aggregate job) and, when it exceeds `threshold`, rebuild from the
    * CURRENT corpus via [[buildWith]] (models carry frozen — compaction
    * restores champion lists; refreshing drifted models is a separate
    * policy decision, the carry-vs-retrain note on [[PqIndex.encode]])
    * and commit it with [[saveVersioned]] (alias swap, old version
    * retires on schedule).
    *
    * @param corpus/embeddings the current SURVIVING corpus — compaction
    *        is the one lifecycle step that re-reads it (that is what a
    *        rebuild is); everything else stays index-sized.
    * @param threshold degraded-term share in [0, 1] above which the
    *        rebuild fires; 0 compacts on any degradation.
    * @return Some((committed version, rebuilt artifacts)) when compaction
    *         ran, None when the store is within tolerance (no-op: no
    *         rebuild, no new version). */
  def maybeCompact(spark: SparkSession, a: Artifacts,
                   corpus: DataFrame, docIdCol: String, textCol: String,
                   embeddings: DataFrame, vecIdCol: String, vecCol: String,
                   root: String, name: String, threshold: Double,
                   historyLen: Int = 10): Option[(Int, Artifacts)] = {
    require(threshold >= 0.0 && threshold <= 1.0,
      "maybeCompact: threshold is a share in [0, 1]")
    val m = a.build.champM.toLong
    val st = requireIndexSchema(a.index, "maybeCompact")
      .groupBy(col("term"))
      // count(id) skips nulls: a tombstone counts as fully degraded
      .agg(first(col("df")).as("df"), count(col("id")).as("have"))
      .agg(count(lit(1)).as("terms"),
        sum(when(col("have") < least(lit(m), col("df")), 1L).otherwise(0L))
          .as("degraded"))
      .head()
    val terms = st.getLong(0)
    val degraded = if (st.isNullAt(1)) 0L else st.getLong(1)
    if (terms == 0L || degraded.toDouble / terms.toDouble <= threshold) None
    else {
      val rebuilt = buildWith(corpus, docIdCol, textCol,
        embeddings, vecIdCol, vecCol, a.ivf, a.pq, a.build)
      Some((saveVersioned(spark, rebuilt, root, name, historyLen), rebuilt))
    }
  }

  /** Persist the artifact set under `dir`: `index_store`, `ivf_store`,
    * `pq_store`, `cells_store` (via [[PqIndex.writeCells]] — the
    * one-file-per-cell layout is this writer's contract, not a caller
    * convention) and a 1-row `meta` carrying nDocs plus the
    * [[BuildConfig]], so a loaded store knows how it was built and the
    * mutation paths can enforce their preconditions. Returns the index
    * + cells row count — [[saveVersioned]]'s verified payload count,
    * summed over both stores so a lexically-empty corpus with valid
    * vectors (or vice versa) still commits; only a genuinely empty
    * artifact set reads as the empty payload the sink refuses to alias.
    * The counts are MEASURED DURING THE WRITE JOBS ([[Observation]]
    * metrics riding the write actions) — a read-back count would be a
    * second full scan of each store per save, a real job at 100 TB. */
  def save(spark: SparkSession, a: Artifacts, dir: String): Long =
    Phase.described(spark, "serve.save") {
      import spark.implicits._
      val idxObs = org.apache.spark.sql.Observation()
      val cellObs = org.apache.spark.sql.Observation()
      // the cells store (a shuffle by cell, then the write) overlaps the
      // index store and the three one-row-group stores
      Phase.concurrently {
        a.index.observe(idxObs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$dir/index_store")
        IvfIndex.save(spark, a.ivf, s"$dir/ivf_store")
        PqIndex.save(spark, a.pq, s"$dir/pq_store")
        Seq((a.nDocs, a.build.champM, a.build.champSlack, a.build.champMinDf,
            a.build.lowercase, a.build.ivfK, a.build.pqM, a.build.pqKsub,
            a.build.iters))
          .toDF("n_docs", "champ_m", "champ_slack", "champ_min_df", "lowercase",
            "ivf_k", "pq_m", "pq_ksub", "iters")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/meta")
      }(PqIndex.writeCells(a.cells.observe(cellObs, count(lit(1)).as("n")),
        s"$dir/cells_store"))
      // an empty store's write action still runs, so its observation
      // simply reports 0 toward the verified count
      def n(o: org.apache.spark.sql.Observation, store: String): Long =
        Phase.observed(o, "HybridServe.save", s"$store write").getAs[Long]("n")
      n(idxObs, "index_store") + n(cellObs, "cells_store")
    }

  /** Rehydrate [[Artifacts]] from a [[save]]d directory: the models load
    * into driver state (bounded collects — centroid and codebook rows),
    * the index and cells stores stay lazy parquet scans. BOTH stores'
    * schemas are validated by NAME on the way in: the index's fixed
    * columns must be present (the one remaining column is the id,
    * normalized to the canonical `id` — stores written before the
    * canonicalization carry the builder's id column name), and the
    * cells store must carry exactly (cid, cell, codes) — a renamed or
    * reordered cells column fails loudly HERE rather than mislabeling
    * positionally mid-serve. Back-compat: an index store without `loss`
    * (round-14 and earlier saves) loads as loss 0 — equivalent to the
    * pre-r15 behavior of treating the stored depth as fully trusted; a
    * meta without `champ_slack` (round-13 saves) loads as slack 0; a
    * meta without the config columns at all (round-12 and earlier)
    * loads with the [[LegacyUnknownMinDf]] sentinel — servable, but the
    * mutation paths refuse it until a rebuild records real provenance.
    * A server restarted from this alone ranks bit-identically to the
    * builder (HybridServeSpec pins it). */
  def load(spark: SparkSession, dir: String): Artifacts =
    Phase.described(spark, "serve.load") {
      // the meta store is one row: read it with one action, fields by name
      val meta = spark.read.parquet(s"$dir/meta").head()
      val metaCols = meta.schema.fieldNames.toSet
      val build =
        if (metaCols.contains("champ_m"))
          BuildConfig(meta.getAs[Int]("champ_m"),
            if (metaCols.contains("champ_slack")) meta.getAs[Int]("champ_slack") else 0,
            meta.getAs[Long]("champ_min_df"), meta.getAs[Boolean]("lowercase"),
            meta.getAs[Int]("ivf_k"), meta.getAs[Int]("pq_m"),
            meta.getAs[Int]("pq_ksub"), meta.getAs[Int]("iters"))
        else
          // pre-config meta: UNKNOWN provenance, marked with the sentinel so
          // requireMergeable refuses what it cannot verify (ADVICE r13)
          BuildConfig(champMinDf = LegacyUnknownMinDf)
      val rawIndex0 = spark.read.parquet(s"$dir/index_store")
      // r14-and-earlier stores predate the loss column: nothing had been
      // discarded beyond what those rounds' semantics already tolerated,
      // so they load with a fresh (zero) loss ledger
      val rawIndex =
        if (rawIndex0.columns.contains("loss")) rawIndex0
        else rawIndex0.withColumn("loss", lit(0L))
      val fixed = IndexColumns.toSet - "id"
      val idCand = rawIndex.columns.filterNot(fixed)
      require(fixed.subsetOf(rawIndex.columns.toSet) && idCand.length == 1,
        s"load: index store schema ${rawIndex0.columns.mkString("(", ", ", ")")} " +
          s"does not match (term, df, cf, rank, <id>, tf[, loss]) — refusing to " +
          "serve from a store whose columns cannot be identified by name")
      val rawCells = spark.read.parquet(s"$dir/cells_store")
      require(rawCells.columns.toSet == Set("cid", "cell", "codes"),
        s"load: cells store schema ${rawCells.columns.mkString("(", ", ", ")")} " +
          "does not match the canonical (cid, cell, codes) — refusing to guess " +
          "which column is which (a positional rebind would silently mislabel " +
          "candidate ids vs cells). Write through HybridServe/PqIndex.writeCells.")
      Artifacts(
        index = requireIndexSchema(
          rawIndex.withColumnRenamed(idCand.head, "id"), "load"),
        nDocs = meta.getAs[Long]("n_docs"),
        ivf = IvfIndex.load(spark, s"$dir/ivf_store"),
        pq = PqIndex.load(spark, s"$dir/pq_store"),
        cells = rawCells.select(col("cid"), col("cell"), col("codes")),
        build = build)
    }

  /** [[save]] as a crash-safe versioned collection: the artifact set
    * writes as `<name>_v{N}` under `root`, commits via the
    * [[graft.sinks.VersionedTableSink]] manifest protocol (the payload
    * count is the index + cells stores' verified row count), atomically swaps the
    * `<name>.alias` pointer, and retires versions beyond `historyLen` —
    * the reference's collection create/alias-swap/retire lifecycle
    * (wurzel/steps/qdrant/step.py:224-257, retirement.py). Returns the
    * committed version. */
  def saveVersioned(spark: SparkSession, a: Artifacts, root: String,
                    name: String, historyLen: Int = 10): Int =
    new graft.sinks.VersionedTableSink(root, name, historyLen)
      .writeVia(dir => save(spark, a, dir))

  /** [[load]] through the alias pointer of a [[saveVersioned]] root. */
  def loadCurrent(spark: SparkSession, root: String, name: String): Artifacts = {
    val sink = new graft.sinks.VersionedTableSink(root, name)
    val v = sink.aliasedVersion().getOrElse(
      throw new IllegalStateException(s"no alias for $name under $root"))
    load(spark, sink.versionDir(v))
  }

  /** Serve one query batch against the artifact set. `queries` columns:
    *  - `query_id` — any type; the fused output key.
    *  - `terms` (array<string>, optional column): the lexical leg's query
    *    terms. A null/empty array skips the lexical leg for that query.
    *  - a vector column named by `vecCol` (optional column): the vector
    *    leg's embedding. Null skips the vector leg for that query.
    *  - `exclude_id` (optional column, candidate-id-typed): a candidate to
    *    drop from that query's vector leg (self-exclusion for
    *    more-like-this queries whose vector IS a corpus member). Null
    *    excludes nothing.
    * Both legs rank to `kTopPerLeg`, then RRF fuses to `kTop`:
    * (query_id, doc_id, rank, rrf_micro, n_sources). Everything is one
    * batch-sized plan — no driver collect, no corpus scan: the lexical
    * leg joins the batch vocabulary against the index store (filtered to
    * the top-champM serving postings when the index carries champSlack
    * overflow rows — the slack exists for [[remove]]'s backfill, not for
    * scoring), the vector leg equi-joins probed cell ids against the
    * cells store (partition pruning does the rest). */
  def serve(a: Artifacts, queries: DataFrame, vecCol: String = "embedding",
            cfg: ServeConfig = ServeConfig()): DataFrame = {
    val cols = queries.columns.toSet
    require(cols.contains("query_id"), "serve: queries needs a query_id column")
    require(cols.contains("terms") || cols.contains(vecCol),
      s"serve: queries needs a terms and/or $vecCol column")
    if (a.build.champMinDf != LegacyUnknownMinDf)
      // a legacy store's build-time lowercase setting is unknown — the
      // cross-check is skipped there (documented on load), never guessed
      require(cfg.lowercase == a.build.lowercase,
        s"serve: cfg.lowercase = ${cfg.lowercase} but the index was built with " +
          s"lowercase = ${a.build.lowercase} — query terms must normalize the way " +
          "the indexed text did or the lexical leg silently returns nothing " +
          "(the build setting is persisted in the meta store and restored by load)")
    val legs = Seq.newBuilder[DataFrame]
    if (cols.contains("terms")) {
      // tombstone rows (null id — vanished terms' stats bookkeeping) never
      // score; the IsNotNull filter pushes into the index scan alongside
      // the slack filter
      val index = requireIndexSchema(a.index, "serve")
        .filter(col("id").isNotNull)
      // slack rows are removal backfill, not serving candidates: rank is
      // kept contiguous by build/merge/promotion, so rank <= champM IS the
      // from-scratch champion list of the current serving set
      val servedIndex =
        if (a.build.champSlack > 0) index.filter(col("rank") <= a.build.champM)
        else index
      // explode drops null/empty term arrays — those queries simply have
      // no lexical leg, the serving contract (not an error)
      val lexQ = queries.select(col("query_id"), explode(col("terms")).as("term"))
      // bm25FromIndex takes championIndex's 6-column shape; the loss
      // ledger is mutation bookkeeping the scorer never needs
      legs += Rank.bm25FromIndex(
          servedIndex.select((IndexColumns.filterNot(_ == "loss")).map(col): _*),
          a.nDocs, lexQ, cfg.kTopPerLeg, cfg.k1, cfg.lowercase)
        .select(col("query_id"), col("id").as("doc_id"), col("rank"))
    }
    if (cols.contains(vecCol)) {
      // ALWAYS serve through the typed-exclusion path: query ids here
      // are fused output keys (often strings), not candidate ids, so the
      // qid =!= cid default would cross-type-cast and (under ANSI) throw
      // — a missing exclude_id means "exclude nothing" (NULL never
      // null-safe-equals any candidate id)
      val vecQ0 = queries.filter(col(vecCol).isNotNull)
      val vecQ = if (cols.contains("exclude_id")) vecQ0
                 else vecQ0.withColumn("exclude_id", lit(null))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("adist").asc, col("cid").asc)
      legs += PqIndex.ivfAdcTopK(a.cells, vecQ, "query_id", vecCol,
          a.ivf, a.pq, cfg.kTopPerLeg, cfg.nprobe, Some("exclude_id"))
        .withColumn("rank", row_number().over(w))
        .select(col("qid").as("query_id"), col("cid").as("doc_id"), col("rank"))
    }
    Rank.rrfFuse(legs.result(), cfg.kRrf, cfg.kTop)
  }
}
