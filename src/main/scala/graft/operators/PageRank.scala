package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list in EXACT integer arithmetic —
  * link-graph centrality for corpus curation. Web-scale training pipelines
  * rank crawl hosts/pages by graph centrality to pick high-quality seeds
  * (Common Crawl publishes harmonic/PageRank host rankings for exactly this
  * use); the same operator ranks pages in a clickstream transition graph
  * (q108) or hosts in a hyperlink graph. Complements
  * [[ConnectedComponents]]: CC answers "which nodes form one group", this
  * answers "which nodes matter most inside the link structure".
  *
  * Determinism: ranks are integers scaled by `scale`; every division is
  * integral (`div` — floor for the non-negative values that occur here) and
  * every sum is an integer hash-aggregate, so results are partition-order
  * independent and a symbolic replay of the recurrence (the q108 DuckDB
  * oracle's chained CTEs) matches bit-for-bit. The recurrence per
  * iteration, with damping d = dampingPct/100 and N nodes:
  *
  *   share(u)  = pr(u) div outdeg(u)
  *   pr'(v)    = ((100-dampingPct) * scale) div (100 * N)
  *             + (dampingPct * (sum_{u->v} share(u) + dang)) div 100
  *
  * where `dang` = (sum of pr over nodes with no out-edges) div N when
  * `redistributeDangling` is on, else 0. OFF by default (the common
  * simplification — ranks then measure relative, not normalized,
  * centrality); ON gives the normalized-mass variant at the cost of one
  * extra node-sized aggregate per round — a 1-row frame broadcast into
  * the round's own plan, not a separate driver action. Edges are
  * deduplicated and self-loops removed, so the graph is simple and
  * unweighted.
  *
  * `stopDelta` adds early stopping: each round's max |pr' - pr| is observed
  * on the round's own checkpoint job and iteration stops once it is within
  * the threshold (in `scale` units). `iterations` stays the hard bound, so
  * the default (None) keeps the fixed-iteration contract q108 replays.
  *
  * Scale shape (100 TB graphs, billions of nodes; no driver-side path):
  *  - state is (node, odeg, pr) — node-sized; odeg = 0 marks a dangling
  *    node. Set-up is one aggregate over src ∪ dst that also observes N.
  *  - each round is ONE aggregate: edges joined to the ranks of nodes with
  *    out-links give a share per edge, each node's own zero-share row
  *    (carrying odeg and the previous pr) is unioned in, and a partially
  *    aggregated `groupBy(node)` sums them — a hot destination is absorbed
  *    map-side, never sorted in one task. The join strategy is AQE's.
  *  - each round's ranks are localCheckpoint'd EAGERLY (CC's lesson: no
  *    plan truncation makes round i cost O(i)); its jobs are described
  *    `pagerank.round<i>/<iterations>`, so an early stop is visible.
  */
object PageRank {

  /** PageRank after exactly `iterations` rounds.
    *
    * @param edges  DataFrame with two id columns (castable to long);
    *               duplicates and self-loops are dropped.
    * @return       DataFrame(node LONG, pr LONG): one row per distinct node
    *               appearing in any edge, pr in `scale` units. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int = 5, dampingPct: Int = 85,
          scale: Long = 1000000000000L,
          redistributeDangling: Boolean = false,
          stopDelta: Option[Long] = None): DataFrame = {
    require(iterations >= 0 && iterations <= 1000,
      s"PageRank: iterations must be in [0, 1000], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"PageRank: dampingPct must be in [0, 100], got $dampingPct")
    // Upper bound, not just positivity: the teleport constant multiplies
    // scale by up to 100, and the damping step multiplies a mass sum that
    // can reach ~1.5*scale (inbound shares + redistributed dangling) by
    // up to 100 — /200 keeps every intermediate inside Long exactly.
    require(scale > 0 && scale <= Long.MaxValue / 200,
      s"PageRank: scale must be in (0, ${Long.MaxValue / 200}], got $scale")
    require(stopDelta.forall(_ >= 0), "PageRank: stopDelta must be >= 0")
    val spark = edges.sparkSession
    import Phase.described

    val (ed, nodes, n) = described(spark, "pagerank.setup") {
      val ed = edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      val nObs = Observation()
      val nodes = ed.select(col("src").as("node"), lit(1L).as("o"))
        .union(ed.select(col("dst").as("node"), lit(0L).as("o")))
        .groupBy(col("node")).agg(sum(col("o")).as("odeg"))
        .observe(nObs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      (ed, nodes, Phase.observed(nObs, "PageRank", "pagerank.setup").getAs[Long]("n"))
    }
    require(n > 0, "PageRank: empty graph")

    // Driver-side exact integer constants (Long arithmetic, no parity risk)
    val init = scale / n
    val teleport = ((100L - dampingPct) * scale) / (100L * n)
    val newPr = lit(teleport) + expr(s"($dampingPct * (m" +
      (if (redistributeDangling) " + __dang" else "") + ")) div 100")

    // the initial ranks are a constant projection over the checkpointed
    // node table: depth-1 lineage over cached blocks, no job of their own
    var ranks = nodes.withColumn("pr", lit(init))
    var i = 0
    var settled = false
    while (i < iterations && !settled) {
      i += 1
      val shares = ed.join(ranks.filter(col("odeg") > 0L), col("src") === col("node"))
        .select(col("dst").as("node"), lit(0L).as("odeg"),
          expr("pr div odeg").as("share"), lit(null).cast("long").as("prev"))
      val own = ranks.select(col("node"), col("odeg"), lit(0L).as("share"), col("pr").as("prev"))
      val summed = shares.union(own).groupBy(col("node"))
        .agg(max(col("odeg")).as("odeg"), sum(col("share")).as("m"), max(col("prev")).as("prev"))
      // dangling mass: a 1-row aggregate broadcast INTO the round's plan;
      // `div` is the same floor division as the driver-side Long arithmetic
      val round = if (!redistributeDangling) summed else summed.crossJoin(broadcast(
        ranks.filter(col("odeg") === 0L).agg(expr(s"coalesce(sum(pr), 0L) div ${n}L").as("__dang"))))
      val phase = s"pagerank.round$i/$iterations"
      val obs = Observation()
      val next = described(spark, phase) {
        round.select(col("node"), col("odeg"), newPr.as("pr"), col("prev"))
          .observe(obs, max(abs(col("pr") - col("prev"))).as("delta"))
          .drop("prev")
          .localCheckpoint(true)
      }
      settled = stopDelta.exists(_ >= Phase.observed(obs, "PageRank", phase).getAs[Long]("delta"))
      ranks.unpersist()
      ranks = next
    }
    ed.unpersist()
    nodes.unpersist()
    ranks.select(col("node"), col("pr"))
  }
}
