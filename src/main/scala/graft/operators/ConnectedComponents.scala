package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the missing half of
  * the near-dup story: pair emitters (Dedup.minhashPairs / simhashPairs /
  * embeddingPairs / tlshPairs) produce EDGES, and a training-data pipeline
  * needs CLUSTERS with one canonical representative per cluster
  * (north-star dedup resolution; the reference stops at per-field drop,
  * wurzel/steps/duplication.py:21-51, so this is engine surface).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC '14). Each half-round computes the per-node
  * neighborhood minimum as a groupBy aggregate joined back to the edges —
  * NOT a window over the node id: a window sorts each neighborhood inside
  * one task, so a degenerate star center (the exact shape late CC rounds
  * produce) becomes a single straggler task, while the groupBy absorbs the
  * hot node with map-side partial aggregation and the join's probe side
  * stays AQE-splittable. The edge set provably shrinks toward a forest of
  * stars centered at component minima in O(log^2 n) rounds on any graph —
  * and in 1-2 rounds on the near-clique clusters duplicate detection
  * actually produces. Labels are component MINIMA, so the output is
  * deterministic and oracle-checkable (a transitive-closure recursive CTE
  * computes the same labels).
  *
  * Residual cutover: before EVERY round (and on the oriented input) the
  * edge count observed on the last checkpoint is compared with
  * `localEdgeLimit`; once it fits, the remaining edges are collected and
  * solved by union-find. A star round keeps the node set and each
  * component's minimum, so any round's edge set gives the fixpoint's labels
  * exactly. Inputs above the limit whose star forest fits under it (dense
  * near-duplicate clusters) leave the distributed path after a round or
  * two; a long path or a million-spoke star stays distributed to the
  * fixpoint, and `localEdgeLimit = 0` keeps the full distributed path.
  *
  * Scale notes (100 TB): per-round state is the oriented distinct edge
  * list, shuffled on node id, checkpointed each round (cache + lineage cut)
  * with its count+checksum convergence metric OBSERVED on that same job;
  * the driver sees at most `localEdgeLimit` edges. Every phase's jobs are
  * described (`cc.orient`, `cc.round<i>`, `cc.local edges=<n>`,
  * `cc.labels`), so a listener sees which path ran.
  */
object ConnectedComponents {

  /** Session conf key for [[run]]'s driver-side cutover (edge count at or
    * below which the rest runs by union-find); default 100000 edges = ~1.6 MB
    * collected, a broadcast build side's size class. 0 disables the local
    * path; a value above [[LocalEdgeLimitMax]] is rejected where it is read. */
  val LocalEdgeLimitKey = "spark.graft.graph.localEdgeLimit"
  val LocalEdgeLimitDefault = 100000L
  /** Hard cap on [[LocalEdgeLimitKey]]: ~160 MB of edges collected. */
  val LocalEdgeLimitMax = 10000000L

  /** Component labels for every node appearing in `edges`.
    *
    * @param edges  DataFrame with two id columns (castable to long);
    *               self-loops, duplicates and reversed duplicates are fine.
    * @param localEdgeLimit driver-side cutover (edges); 0 = always
    *               distributed; negative = read the [[LocalEdgeLimitKey]]
    *               session conf.
    * @return       DataFrame(node LONG, component LONG) — one row per
    *               distinct node; `component` is the minimum node id of the
    *               node's connected component. Isolated ids that never
    *               appear in `edges` are absent (callers left-join).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          maxIter: Int = 25, localEdgeLimit: Long = -1L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import Phase.described
    val limit = edgeLimit(spark, localEdgeLimit)

    // Orient (u > v), drop self-loops and duplicates: the canonical edge
    // form both star steps preserve. Every round's edge set is
    // localCheckpoint'd EAGERLY — the cache and the plan truncation at once
    // (without it Catalyst re-analysis makes round i cost O(i): 130 s -> 8 s
    // on a 100k-node path + 120k-edge graph at local[32]). The checksum and
    // the edge count ride that job as observed metrics: one action a round.
    def checkpointed(df: DataFrame, phase: String): (DataFrame, (Long, Long)) =
      described(spark, phase) {
        val obs = org.apache.spark.sql.Observation()
        val cp = df.observe(obs, count(lit(1)).as("n"),
            coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("sig"))
          .localCheckpoint(true)
        val m = Phase.observed(obs, "ConnectedComponents", phase)
        (cp, (m.getAs[Long]("n"), m.getAs[Long]("sig")))
      }

    var (e, prevSig) = checkpointed(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter($"a" =!= $"b" && $"a".isNotNull && $"b".isNotNull)
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .distinct(), "cc.orient")

    // The cutover (adaptive plan choice, made at the operator level): once
    // a round's edge set fits, more star rounds are pure fixed job latency,
    // so the rest runs as one bounded collect (≤ limit × 16 bytes) and
    // returns a local relation that downstream joins broadcast.
    def fits = limit > 0L && prevSig._1 <= limit
    var converged = prevSig._1 == 0L
    var iter = 0
    while (!fits && !converged && iter < maxIter) {
      iter += 1
      val (next, sig) = checkpointed(smallStar(largeStar(e)), s"cc.round$iter")
      e.unpersist()
      e = next
      converged = sig == prevSig
      prevSig = sig
    }
    if (fits) return described(spark, s"cc.local edges=${prevSig._1}")(solveLocally(e))

    // At the fixpoint the edge set is a forest of stars (member -> min);
    // the min(component) re-group covers a maxIter bailout, where edges may
    // not yet form proper stars. Checkpointed, so the working set can go.
    val labels = described(spark, "cc.labels") {
      e.select($"u".as("node"), $"v".as("component"))
        .union(e.select($"v".as("node"), $"v".as("component")))
        .groupBy($"node").agg(min($"component").as("component"))
        .localCheckpoint(true)
    }
    e.unpersist()
    labels
  }

  /** The cutover limit: an explicit non-negative argument, else the session
    * conf, which must lie in [0, [[LocalEdgeLimitMax]]]. */
  private def edgeLimit(spark: SparkSession, arg: Long): Long =
    if (arg >= 0L) arg
    else {
      val conf = spark.conf.get(LocalEdgeLimitKey, LocalEdgeLimitDefault.toString).toLong
      require(conf >= 0L && conf <= LocalEdgeLimitMax,
        s"$LocalEdgeLimitKey=$conf must be in [0, $LocalEdgeLimitMax]: the local " +
          "path collects up to that many edges (16 bytes each) to the driver")
      conf
    }

  /** Union-find over a (checkpointed, oriented) edge set, collected to the
    * driver: attaching the larger root under the smaller makes every root
    * its component's minimum, the same label the distributed rounds give. */
  private def solveLocally(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val es = e.as[(Long, Long)].collect()
    e.unpersist()
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    for ((u, v) <- es) {
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
    }
    val out = Vector.newBuilder[(Long, Long)]
    parent.keySet().forEach(node => out += ((node, find(node))))
    out.result().toDF("node", "component")
  }

  /** Large-star: every node links its LARGER neighbors to the minimum of
    * its neighborhood (incl. itself). The neighborhood min is a groupBy on
    * the node joined back — skew-safe for degenerate star centers (see
    * object doc). */
  private def largeStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
    val mins = sym.groupBy($"u").agg(min(least($"v", $"u")).as("m"))
    // no distinct here: the output feeds smallStar's aggregate + final
    // distinct, which absorb duplicates — saves one exchange per round
    sym.join(mins, Seq("u"))
      .filter($"v" > $"u")
      .select($"v".as("u"), $"m".as("v"))
  }

  /** Small-star: every node links its smaller neighbors — and itself — to
    * the minimum of its smaller neighborhood. Input and output stay in
    * (u > v) canonical orientation. */
  private def smallStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val mins = e.groupBy($"u").agg(min($"v").as("m"))
    val withM = e.join(mins, Seq("u"))
    val linkNeighbors = withM.select($"v".as("u"), $"m".as("v"))
    val linkSelf = withM.select($"u", $"m".as("v"))
    linkNeighbors.union(linkSelf)
      .filter($"u" =!= $"v")
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()
  }
}
