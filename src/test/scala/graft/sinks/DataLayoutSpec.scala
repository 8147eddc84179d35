package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** DataLayout: the three physical-layout guarantees the 100 TB write path
  * sells — (1) sorted-bucket joins with neither Exchange nor Sort, plus
  * planning-time bucket pruning; (2) range-clustered files whose footer
  * min/max stats skip row groups on range predicates; (3) parquet bloom
  * filters that skip row groups on point lookups stats can't exclude.
  * Skipping is asserted on the scan's own numOutputRows metric — the rows
  * the reader actually surfaced — not on query results.
  */
class DataLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  /** Rows the parquet reader surfaced (post row-group/page skip). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("sorted-bucket join: no Exchange, no Sort, one file per bucket") {
    val dir = tmpDir("graft_layout_bkt")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = (1 to 20000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 20000).filter(_ % 3 == 0).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      DataLayout.writeBucketed(a, "layout_bkt_a", s"$dir/a", 8, "k")
      DataLayout.writeBucketed(b, "layout_bkt_b", s"$dir/b", 8, "k")

      // layout invariant the Sort-elimination depends on: one file per bucket
      val files = new java.io.File(s"$dir/a").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).toSeq
      assert(files.size == 8, s"expected 8 bucket files, got ${files.map(_.getName)}")

      def join() = DataLayout.table(spark, "layout_bkt_a")
        .join(DataLayout.table(spark, "layout_bkt_b"), "k")
      val plan = finalPlan(join())
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(planCount(plan, "Exchange hashpartitioning") == 0, plan.take(1500))
      assert(join().count() == 20000 / 3)

      // with the bucket-order trust conf on (safe under the writer's
      // one-file-per-bucket invariant), the per-bucket Sorts go too
      withConf("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val sorted = finalPlan(join())
        val standaloneSorts = sorted.linesIterator
          .filter(l => l.contains("Sort [") && !l.contains("SortMergeJoin")).toSeq
        assert(standaloneSorts.isEmpty,
          s"bucket sort order not reused:\n${standaloneSorts.mkString("\n")}")
        assert(planCount(sorted, "Exchange hashpartitioning") == 0, sorted.take(1500))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS layout_bkt_a")
      spark.sql("DROP TABLE IF EXISTS layout_bkt_b")
    }
  }

  test("point filter on the bucket key prunes to a single bucket at planning time") {
    val dir = tmpDir("graft_layout_prune")
    // the auto-bucketed-scan heuristic only looks at join/agg benefit and
    // would drop the bucketed scan for a bare lookup — pruning needs it on
    try withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val a = (1 to 20000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      DataLayout.writeBucketed(a, "layout_bkt_p", s"$dir/p", 8, "k")
      val plan = finalPlan(DataLayout.table(spark, "layout_bkt_p").filter(col("k") === 12345L))
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(1500))
    } finally {
      spark.sql("DROP TABLE IF EXISTS layout_bkt_p")
    }
  }

  test("range-clustered files skip row groups on a range predicate; unclustered read everything") {
    val n = 80000
    val clustered = tmpDir("graft_layout_clu") + "/t"
    val unclustered = tmpDir("graft_layout_unc") + "/t"
    // xxhash-shuffled insertion order = worst case for incidental clustering
    val df = spark.range(n.toLong).select(col("id").as("k"), xxhash64(col("id")).as("noise"))
      .orderBy("noise")
    DataLayout.writeClustered(df, clustered, Seq("k"), files = 8)
    df.repartition(8).write.mode("overwrite").parquet(unclustered)

    val pred = col("k") >= 1000L && col("k") < 6000L
    val cluRows = scanRows(spark.read.parquet(clustered).filter(pred))
    val uncRows = scanRows(spark.read.parquet(unclustered).filter(pred))
    // clustered: the 5k-row range lives in one 10k-row file = one row group
    assert(cluRows <= n / 4, s"clustered scan surfaced $cluRows of $n rows")
    assert(uncRows == n, s"unclustered scan should read all rows, got $uncRows")
  }

  test("bloom filter skips row groups on point lookups min/max stats cannot exclude") {
    val n = 120000
    val withBloom = tmpDir("graft_layout_bloom") + "/t"
    val noBloom = tmpDir("graft_layout_nobloom") + "/t"
    // even keys only, clustered on NOISE (not k) so every file and row
    // group spans ~the full key range — min/max stats can never exclude an
    // in-range probe; only the bloom filter can prove an odd key absent.
    // Dictionary encoding for k is disabled in BOTH layouts (writeClustered
    // does it for bloom columns; the control gets it via extraOptions) so
    // the control can't skip via parquet's dictionary filter either.
    val base = spark.range(n.toLong)
      .select((col("id") * 2).as("k"), xxhash64(col("id")).as("noise"))
    DataLayout.writeClustered(base, withBloom, Seq("noise"), files = 2,
      bloomCols = Seq("k"), bloomNdv = n.toLong)
    DataLayout.writeClustered(base, noBloom, Seq("noise"), files = 2,
      extraOptions = Map("parquet.enable.dictionary#k" -> "false"))

    // footer-level proof: the bloom layout carries a filter for k, the
    // control does not
    def bloomOffset(dir: String): Long = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val cols = r.getFooter.getBlocks.get(0).getColumns
        (0 until cols.size).map(cols.get)
          .find(_.getPath.toDotString == "k").get.getBloomFilterOffset
      } finally r.close()
    }
    assert(bloomOffset(withBloom) >= 0, "bloom filter missing from footer")
    assert(bloomOffset(noBloom) < 0, "control layout unexpectedly has a bloom filter")

    val probe = col("k") === 99999L // odd => absent, but inside every range
    val bloomRows = scanRows(spark.read.parquet(withBloom).filter(probe))
    val plainRows = scanRows(spark.read.parquet(noBloom).filter(probe))
    assert(bloomRows == 0, s"bloom layout surfaced $bloomRows rows for an absent key")
    assert(plainRows == n.toLong, s"control should surface all rows, got $plainRows")
  }
}
