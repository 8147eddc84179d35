package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Oriented distinct non-loop edge count: what the cutover compares. */
  private def oriented(edges: Seq[(Long, Long)]): Long =
    edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct.size.toLong

  private def cc(edges: Seq[(Long, Long)], maxIter: Int = 25,
                 localEdgeLimit: Long = -1L): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst", maxIter,
        localEdgeLimit)
      .as[(Long, Long)].collect().toMap

  test("two disjoint cliques label as their minima") {
    val k1 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val k2 = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val got = cc(k1 ++ k2)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("a 64-node path converges to one component within the round budget") {
    // worst case for naive label propagation (diameter 63); the alternating
    // star rounds must close it in O(log n) iterations. localEdgeLimit = 0
    // forces the DISTRIBUTED rounds (the default would solve this
    // driver-side and never exercise them).
    val path = (1L until 64L).map(i => (i, i + 1))
    val got = cc(path, maxIter = 10, localEdgeLimit = 0L)
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("driver-side small-graph path labels exactly like the distributed rounds") {
    // r16 cutover equivalence pin: same edge set through both paths, labels
    // must be identical — component minima, one row per distinct node.
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.tabulate(3 * n)(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq.tabulate(n / 10)(i => (i.toLong, i.toLong)) // self-loops
      val local = cc(edges, localEdgeLimit = Long.MaxValue)
      val dist = cc(edges, localEdgeLimit = 0L)
      assert(local == dist, s"trial $trial: local/distributed labels diverge")
    }
  }

  test("residual cutover: a forest that fits after round 1 finishes on the driver with the same labels") {
    // near-clique blocks over shuffled ids (the shape near-duplicate pairs
    // produce): the input is above the limit, the round-1 star forest
    // (about one edge per non-minimum node) is below it
    val rnd = new scala.util.Random(20261017L)
    val ids = rnd.shuffle((0L until 300L).toVector)
    val edges = ids.grouped(12).toSeq.flatMap { b =>
      for { i <- b.indices; j <- b.indices if i < j && rnd.nextDouble() < 0.7 }
        yield (b(i), b(j))
    }
    val input = oriented(edges)
    val limit = input / 2
    val (residual, tags) = jobTags(cc(edges, localEdgeLimit = limit))
    assert(tags.head == "cc.orient" && tags.contains("cc.round1"), tags)
    val local = tags.collect { case t if t.startsWith("cc.local edges=") =>
      t.stripPrefix("cc.local edges=").toLong }
    assert(local.distinct.size == 1 && local.head <= limit && limit < input, tags)
    assert(!tags.contains("cc.labels"), tags)
    assert(residual == cc(edges, localEdgeLimit = 0L))
    assert(residual == cc(edges, localEdgeLimit = Long.MaxValue))
  }

  test("job descriptions name CC's path, and the caller's description is restored") {
    val path = (1L until 40L).map(i => (i, i + 1))
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, local) = jobTags(cc(path))
      assert(local.distinct == Seq("cc.orient", "cc.local edges=39"))
      // localEdgeLimit = 0 disables the local path: every round runs
      // distributed; collecting the labels is the caller's own job
      val (_, dist) = jobTags(cc(path, localEdgeLimit = 0L))
      val ccTags = dist.filter(_.startsWith("cc."))
      assert(ccTags.head == "cc.orient" && ccTags.contains("cc.round1") &&
        ccTags.last == "cc.labels" && !dist.exists(_.startsWith("cc.local")) &&
        dist.last == "caller", dist)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("localEdgeLimit conf: 0 disables the local path, above the hard cap is rejected") {
    val key = ConnectedComponents.LocalEdgeLimitKey
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    withConf(key -> "0") {
      val (got, tags) = jobTags(cc(edges))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
      assert(!tags.exists(_.startsWith("cc.local")), tags)
      // even an empty edge set (0 edges <= limit 0) stays distributed: its
      // labels are a checkpoint, not the local path's local relation (an
      // empty input runs no jobs, so the tags cannot tell the paths apart)
      def isLocal(limit: Long) = ConnectedComponents.run(Seq.empty[(Long, Long)]
        .toDF("src", "dst"), "src", "dst", localEdgeLimit = limit).queryExecution
        .logical.collectLeaves().forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(!isLocal(0L) && isLocal(1L))
      for (bad <- Seq(ConnectedComponents.LocalEdgeLimitMax + 1, -5L)) {
        spark.conf.set(key, bad.toString)
        val e = intercept[IllegalArgumentException](cc(edges))
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad.toString))
      }
      spark.conf.set(key, ConnectedComponents.LocalEdgeLimitMax.toString)
      assert(cc(edges)(8L) == 7L)
    }
  }

  test("a bounded observed-metric read names the operator and phase on timeout") {
    import scala.concurrent.duration._
    val never = org.apache.spark.sql.Observation()
    val e = intercept[IllegalStateException](
      Phase.observed(never, "ConnectedComponents", "cc.round7", 50.millis))
    assert(e.getMessage.contains("ConnectedComponents") && e.getMessage.contains("cc.round7"))
  }

  test("self-loops, duplicate and reversed edges are harmless") {
    val got = cc(Seq((5L, 5L), (2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L)))
    // (5,5) is a pure self-loop: node 5 has no real edge and is absent
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty edge list yields an empty, correctly-typed frame") {
    val out = ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    assert(out.columns.toSeq == Seq("node", "component"))
    assert(out.count() == 0)
  }

  test("bridge between two cliques merges them") {
    val k1 = Seq((1L, 2L), (2L, 3L))
    val k2 = Seq((10L, 11L), (11L, 12L))
    val got = cc(k1 ++ k2 :+ (3L, 10L))
    assert(got.values.toSet == Set(1L))
  }

  test("a planted 1M-edge star (degenerate hot node) resolves without a straggler task") {
    // the exact shape late CC rounds produce: one center, 10^6 spokes. The
    // old Window.partitionBy(node) neighborhood-min sorted all 2M
    // symmetrized rows of the center inside ONE task; the groupBy+join
    // form absorbs the hot node map-side. Runs distributed (spark.range),
    // nothing star-sized ever reaches the driver.
    val n = 1000000L
    val star = spark.range(2L, n + 2L)
      .select(lit(1L).as("src"), col("id").as("dst"))
    val out = ConnectedComponents.run(star, "src", "dst", maxIter = 6)
    val agg = out.agg(count(lit(1)), sum(when(col("component") === 1L, 1L).otherwise(0L)))
      .head()
    assert(agg.getLong(0) == n + 1)
    assert(agg.getLong(1) == n + 1)
  }

  test("resolveClusters: singleton docs keep their own id, members point to the min") {
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((2L, 4L), (4L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(docs, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, false), (2L, 2L, false), (3L, 3L, false), (4L, 2L, true),
      (5L, 5L, false), (6L, 2L, true), (7L, 7L, false), (8L, 7L, true)))
  }

  test("resolveClusters keeps exactly one canonical per cluster") {
    val docs = (1L to 100L).toDF("doc_id")
    // chain 10..29 + clique 50..54
    val pairs = ((10L until 29L).map(i => (i, i + 1)) ++
      (for { a <- 50L to 54L; b <- 50L to 54L if a < b } yield (a, b)))
      .toDF("id_a", "id_b")
    val out = Dedup.resolveClusters(docs, "doc_id", pairs)
    val perCluster = out.groupBy("cluster_id")
      .agg(sum(when(!col("is_duplicate"), 1L).otherwise(0L)).as("canon"))
      .as[(Long, Long)].collect().toMap
    assert(perCluster.values.forall(_ == 1L))
    assert(out.filter(col("is_duplicate")).count() == 19 + 4)
  }
}
