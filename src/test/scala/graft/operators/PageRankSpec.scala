package graft.operators

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Reference recurrence — the exact integer arithmetic run() promises,
    * recursed driver-side over an adjacency map. */
  private def handRank(edges: Set[(Long, Long)], iterations: Int,
                       dampingPct: Long = 85L,
                       scale: Long = 1000000000000L,
                       redistributeDangling: Boolean = false): Map[Long, Long] = {
    val ed = edges.filter { case (a, b) => a != b }
    val nodes = ed.flatMap { case (a, b) => Seq(a, b) }
    val n = nodes.size.toLong
    val outdeg = ed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = (100L - dampingPct) * scale / (100L * n)
    var pr = nodes.map(_ -> scale / n).toMap
    for (_ <- 0 until iterations) {
      val dang = if (redistributeDangling)
        nodes.filterNot(outdeg.contains).toSeq.map(pr).sum / n else 0L
      val in = ed.toSeq.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / outdeg(u) }.sum).toMap
      pr = nodes.map(v =>
        v -> (teleport + dampingPct * (in.getOrElse(v, 0L) + dang) / 100L)).toMap
    }
    pr
  }

  private def run(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst"), "src", "dst", iterations)
      .as[(Long, Long)].collect().toMap

  test("two-node cycle matches the hand recurrence at every iteration count") {
    val ed = Seq((1L, 2L), (2L, 1L))
    for (t <- Seq(0, 1, 3, 5))
      assert(run(ed, t) == handRank(ed.toSet, t), s"iterations=$t")
  }

  test("hub-and-spokes: the hub accumulates rank, dangling mass is dropped") {
    // 2,3,4 -> 1; node 1 has no out-edges (dangling)
    val ed = Seq((2L, 1L), (3L, 1L), (4L, 1L))
    val got = run(ed, 5)
    assert(got == handRank(ed.toSet, 5))
    assert(got(1L) > got(2L)) // hub outranks spokes
    assert(got(2L) == got(3L) && got(3L) == got(4L)) // symmetric spokes tie
  }

  test("duplicate edges and self-loops are dropped before ranking") {
    val clean = run(Seq((1L, 2L), (2L, 1L)), 3)
    val noisy = run(Seq((1L, 2L), (1L, 2L), (1L, 1L), (2L, 1L), (2L, 2L)), 3)
    assert(noisy == clean)
  }

  test("result is partition-order independent") {
    val ed = (1L to 40L).map(i => (i, i % 7 + 100L)) ++ Seq((100L, 1L), (103L, 2L))
    val base = PageRank.run(ed.toDF("src", "dst"), "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    val repart = PageRank.run(ed.toDF("src", "dst").repartition(13), "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    assert(base == repart)
    assert(base == handRank(ed.toSet, 4))
  }

  test("dangling redistribution matches the hand recurrence and conserves more mass") {
    // 2,3,4 -> 1; node 1 is a pure sink whose mass is dropped by default
    val ed = Seq((2L, 1L), (3L, 1L), (4L, 1L))
    val got = PageRank.run(ed.toDF("src", "dst"), "src", "dst", 5,
        redistributeDangling = true)
      .as[(Long, Long)].collect().toMap
    assert(got == handRank(ed.toSet, 5, redistributeDangling = true))
    // redistributed mass flows back to every node: total rank exceeds the
    // dropped-mass variant's on the same graph
    val dropped = run(ed, 5)
    assert(got.values.sum > dropped.values.sum)
    assert(got(1L) > got(2L)) // hub still outranks spokes
  }

  test("graph with no dangling nodes: redistribution is a no-op (dang = 0 every round)") {
    val ed = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val on = PageRank.run(ed.toDF("src", "dst"), "src", "dst", 4,
        redistributeDangling = true).as[(Long, Long)].collect().toMap
    assert(on == run(ed, 4))
  }

  test("stopDelta: converged ranks stop early and match the settled fixed-iteration result") {
    // a 2-cycle settles fast; with a generous epsilon the early stop must
    // return ranks identical to SOME fixed iteration count <= the bound,
    // and a zero epsilon only stops at a true fixed point
    val ed = Seq((1L, 2L), (2L, 1L))
    val early = PageRank.run(ed.toDF("src", "dst"), "src", "dst", 50,
        stopDelta = Some(0L)).as[(Long, Long)].collect().toMap
    // at a true fixed point, one more iteration changes nothing
    val fixed = (1 to 5).map(t => run(ed, t)).dropWhile(_ != early)
    assert(fixed.nonEmpty && fixed.take(2).distinct.size == 1)
  }

  test("seeded random graph with dangling and in-link-free nodes matches the hand recurrence") {
    // sources are 0..39 and 50..59, destinations 0..49: 40..49 are
    // dangling, 50..59 have no in-links; self-loops and duplicates included
    val rnd = new scala.util.Random(20261017L)
    val ed = Seq.tabulate(300) { _ =>
      val u = rnd.nextInt(50)
      ((if (u >= 40) u + 10 else u).toLong, rnd.nextInt(50).toLong)
    }
    val dsts = ed.map(_._2).toSet
    assert(dsts.exists(_ >= 40L) && ed.exists(_._1 >= 50L) && ed.exists { case (a, b) => a == b })
    for (dangling <- Seq(false, true); t <- Seq(0, 1, 5)) {
      val got = PageRank.run(ed.toDF("src", "dst"), "src", "dst", t,
          redistributeDangling = dangling).as[(Long, Long)].collect().toMap
      assert(got == handRank(ed.toSet, t, redistributeDangling = dangling),
        s"redistributeDangling=$dangling iterations=$t")
    }
  }

  test("each round's jobs are described; an early stop ends below the bound") {
    val ed = Seq((1L, 2L), (2L, 1L), (2L, 3L))
    def rounds(tags: Seq[String]) = tags.filter(_.startsWith("pagerank.round")).distinct
    val (_, fixed) = jobTags(run(ed, 3))
    assert(fixed.contains("pagerank.setup"))
    assert(rounds(fixed) == Seq("pagerank.round1/3", "pagerank.round2/3", "pagerank.round3/3"))
    val (_, early) = jobTags(PageRank.run(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
      "src", "dst", 50, stopDelta = Some(0L)).collect())
    assert(rounds(early).head == "pagerank.round1/50" && rounds(early).size < 50, early)
  }

  test("guards: empty graph, bad damping, bad iteration count fail fast") {
    intercept[IllegalArgumentException](
      PageRank.run(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst", 5))
    intercept[IllegalArgumentException](
      PageRank.run(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", -1))
    intercept[IllegalArgumentException](
      PageRank.run(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", 5, dampingPct = 101))
  }
}
