package perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{ConnectedComponents, HybridServe, PageRank}
import graft.queries.Catalog

/** The benchmark's JVM side. It reads a plan written by run.py, drives the
  * engine's public entry points, and writes one JSON record per line:
  * operations with their phases, Spark jobs and stages (traced passes
  * only), query-execution phase times, output-check verdicts and probe
  * measurements. All metrics are computed from these records by run.py.
  *
  * Usage: Harness <plan.json>
  *
  * Passes (the `pass` of each operation record):
  *  - warm:   each planned catalog job once, its output written as parquet
  *            for the oracle check.
  *  - timed:  the measured runs, untraced; graph and serve results are
  *            collected here for their checks.
  *  - traced: (trace mode) the same operations again with the listeners on.
  *  - probe:  (trace mode) one call into each measured layer.
  * Operations run one at a time on a single client thread; the main thread
  * waits for each with a deadline. */
object Harness {

  final class Plan(n: JsonNode) {
    val trace: Boolean = n.get("trace").asBoolean
    val cpus: Int = n.get("cpus").asInt
    val data: String = n.get("data").asText
    val work: String = n.get("work").asText
    val out: String = n.get("out").asText
    val catalog: Seq[String] = n.get("catalog").elements().asScala.map(_.asText).toSeq
    val warm: Seq[String] = n.get("warm").elements().asScala.map(_.asText).toSeq
    /** Whether the run times the operator legs: the seeded graph calls and
      * the serve lifecycle. */
    val legs: Boolean = n.get("legs").asBoolean
    val serveCalls: Int = n.get("serve_calls").asInt
    val deadlineS: Long = n.get("deadline_s").asLong
    val membership: Map[String, Seq[String]] = n.get("membership").fields().asScala
      .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asText).toSeq).toMap
    def tables: String = s"$data/tables"
  }

  def session(cpus: Int): SparkSession = {
    // the session graft.Bench times
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(graft.plans.GraftExtensions.install)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = new Plan(new ObjectMapper().readTree(new File(args(0))))
    val rec = new Records(plan.out)
    val spark = session(plan.cpus)
    rec.emit("t" -> "conf", "cpus" -> plan.cpus,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "session_ready_ms" -> Clock.now(),
      "conf" -> spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") ||
        k == "spark.master" || k.startsWith("spark.graft.") }.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" })
    val client = Executors.newSingleThreadExecutor()
    val runner = new Runner(spark, plan, rec, client)
    var code = 0
    try runner.runAll()
    catch { case e: Throwable =>
      System.err.println(s"perfbench harness: ${e}")
      e.printStackTrace()
      code = 1
    } finally {
      rec.close()
      client.shutdownNow()
      client.awaitTermination(30, TimeUnit.SECONDS)
      spark.stop()
    }
    System.exit(code)
  }

  /** One operation's body gets this to record its phases. */
  final class Op {
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def phase[T](name: String)(body: => T): T = {
      val t0 = Clock.now()
      try body finally phases += ((name, t0, Clock.now()))
    }
  }

  final class Runner(spark: SparkSession, plan: Plan, val rec: Records,
                     client: java.util.concurrent.ExecutorService) {
    private var pass = "warm"
    private val queries = Catalog.all.map(q => q.name -> q).toMap
    private val graphs = new Graphs(spark, plan.data)
    lazy val lifecycle = new Lifecycle(spark, plan, rec)

    /** Run `body` on the client thread with the plan's deadline. A throw
      * or a timeout records the operation as failed. */
    def op(name: String, kind: String)(body: Op => Unit): Boolean = {
      val o = new Op
      val t0 = Clock.now()
      val f = client.submit(new Runnable { def run(): Unit = body(o) })
      val err: Option[String] =
        try { f.get(plan.deadlineS, TimeUnit.SECONDS); None }
        catch {
          case _: TimeoutException =>
            f.cancel(true)
            spark.sparkContext.cancelAllJobs()
            Some(s"deadline of ${plan.deadlineS}s passed")
          case e: java.util.concurrent.ExecutionException =>
            Some(String.valueOf(e.getCause).linesIterator.nextOption().getOrElse("error"))
        }
      val t1 = Clock.now()
      rec.emit("t" -> "op", "pass" -> pass, "name" -> name, "kind" -> kind,
        "start" -> t0, "end" -> t1, "ok" -> err.isEmpty, "err" -> err.getOrElse(""),
        "phases" -> o.phases.toSeq.map { case (n, a, b) => Seq(n, a, b) })
      err.isEmpty
    }

    def runAll(): Unit = {
      val outDir = s"${plan.work}/out"
      val assigned = plan.membership.values.flatten.toSeq
      require(assigned.sorted == Catalog.all.map(_.name).sorted,
        "workloads.json must put every declared query in exactly one workload; " +
          s"unassigned: ${Catalog.all.map(_.name).diff(assigned).mkString(",")}; " +
          s"unknown or repeated: ${assigned.diff(Catalog.all.map(_.name)).mkString(",")}")
      rec.emit("t" -> "oracle_sql", "sql" -> plan.warm.map(n =>
        Seq(n, queries(n).oracle.getOrElse(""))))
      if (plan.legs || plan.trace) graphs.guardCutover()
      // Every catalog job runs warm first (its output written for the
      // oracle check), so the JIT has settled further and each job's
      // generated code is in the session's codegen cache when the timed
      // runs start; then each timed job runs once timed.
      pass = "warm"
      plan.warm.foreach { n =>
        op(n, "catalog") { o =>
          val df = o.phase("queries.build")(queries(n).build(spark, plan.tables))
          o.phase("queries.exec")(df.write.mode("overwrite").parquet(s"$outDir/$n"))
        }
      }
      pass = "timed"
      plan.catalog.foreach(catalogJob)
      legs()
      if (plan.trace) {
        traced { pass = "traced"; plan.catalog.foreach(catalogJob); legs() }
        traced { pass = "probe"; new Probes(spark, plan, graphs, this).runAll() }
        // every executor runs in this JVM (local mode): the driver heap's
        // peak is the whole run's; pools peak at different times, so the
        // sum is an upper bound
        rec.metric("peak_heap_mb", java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), "MB")
      }
      if (plan.legs) {
        pass = "check"
        lifecycle.checkAgainstRebuild(this)
      }
    }

    private def traced(body: => Unit): Unit = {
      val tr = new Tracer(spark, rec)
      tr.start()
      try body finally tr.stop()
    }

    private def catalogJob(n: String): Unit =
      op(n, "catalog") { o =>
        val df = o.phase("queries.build")(queries(n).build(spark, plan.tables))
        o.phase("queries.exec")(df.queryExecution.toRdd.count())
        // toRdd is not a Dataset action, so the QueryExecutionListener
        // does not see it: record its planning tracker here
        if (pass == "traced") Tracer.emitPhases(rec, "toRdd", df.queryExecution, ok = true, 0L)
      }

    private def legs(): Unit = if (plan.legs) {
      // The operator legs have no warm-up call of their own (the catalog
      // pass exercises the same operators). Every pass times the call and
      // the same materialization; the timed pass then collects the
      // operator's (checkpointed) result outside the timed interval and
      // checks it.
      val checked = pass == "timed"
      graphs.legs.foreach { g =>
        var result: DataFrame = null
        val ok = op(g, "graph") { o =>
          result = o.phase(g) {
            val df = graphs.run(g)
            df.queryExecution.toRdd.count()
            df
          }
        }
        if (checked) {
          val verdict =
            if (!ok) Some("operation failed")
            else try graphs.check(g, result.collect())
            catch { case e: Exception => Some(s"result not readable: $e") }
          rec.check(g, verdict)
        }
      }
      lifecycle.run(this, plan.serveCalls, check = checked, tag = pass)
    }
  }

  /** The seeded graph legs and their driver-side reference results. */
  final class Graphs(spark: SparkSession, data: String) {
    val names: Seq[String] = Seq("operators.cc.small", "operators.cc.large",
      "operators.pagerank.small", "operators.pagerank.large")
    /** The operators workload's legs. PageRank has no small-input path, so its
      * small edge set runs only as a layer probe. */
    val legs: Seq[String] = names.filterNot(_ == "operators.pagerank.small")
    private def edges(size: String): DataFrame = spark.read.parquet(s"$data/graph_$size.parquet")
    private def size(g: String) = g.substring(g.lastIndexOf('.') + 1)
    private lazy val pairs: Map[String, Array[(Long, Long)]] =
      Seq("small", "large").map(s => s -> edges(s).collect().map(r => (r.getLong(0), r.getLong(1)))).toMap

    def run(g: String): DataFrame =
      if (g.startsWith("operators.cc.")) ConnectedComponents.run(edges(size(g)), "src", "dst")
      else PageRank.run(edges(size(g)), "src", "dst")

    /** Oriented distinct non-loop edges: the count CC's cutover compares. */
    def orientedEdges(size: String): Long =
      pairs(size).iterator.filter { case (a, b) => a != b }
        .map { case (a, b) => if (a > b) (a, b) else (b, a) }.toSet.size.toLong

    /** Neither graph leg may silently change path: small stays at or below
      * the local-path cutover, large above it, at the session's conf. */
    def guardCutover(): Unit = {
      val limit = spark.conf.getOption(ConnectedComponents.LocalEdgeLimitKey)
        .map(_.toLong).getOrElse(ConnectedComponents.LocalEdgeLimitDefault)
      val (s, l) = (orientedEdges("small"), orientedEdges("large"))
      require(s <= limit && l > limit,
        s"graph cutover guard: small=$s large=$l edges, local-path limit=$limit")
    }

    /** None when `rows` equal the driver-side reference, else why not. */
    def check(g: String, rows: Array[Row]): Option[String] = {
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = if (g.startsWith("operators.cc.")) Reference.components(pairs(size(g)))
                 else Reference.pageRank(pairs(size(g)))
      if (got == want) None
      else Some(s"${got.size} nodes, ${want.size} expected; " +
        s"${want.count { case (k, v) => !got.get(k).contains(v) }} differ")
    }
  }

  /** Driver-side references for the graph checks. */
  object Reference {
    /** Minimum node id per connected component, by union-find. */
    def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.map(k => k -> find(k)).toMap
    }

    /** PageRank.run's recurrence at its defaults, in exact Long arithmetic. */
    def pageRank(edges: Array[(Long, Long)], iterations: Int = 5, dampingPct: Int = 85,
                 scale: Long = 1000000000000L): Map[Long, Long] = {
      val ed = edges.filter { case (a, b) => a != b }.distinct
      val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct
      val n = nodes.length.toLong
      val outdeg = ed.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val teleport = ((100L - dampingPct) * scale) / (100L * n)
      var pr: Map[Long, Long] = nodes.map(_ -> scale / n).toMap
      for (_ <- 0 until iterations) {
        val m = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        ed.foreach { case (u, v) => m(v) += pr(u) / outdeg(u) }
        pr = nodes.map(v => v -> (teleport + (dampingPct * m(v)) / 100)).toMap
      }
      pr
    }
  }

  /** The serve workload's lifecycle: build, a closed-loop stream of serve
    * batches and mutations, publish and reload, serves from the reload. */
  final class Lifecycle(spark: SparkSession, plan: Plan, rec: Records) {
    private val docs = Tables.load(spark, plan.tables, "documents")
    private val emb = Tables.load(spark, plan.tables, "embeddings")
    private val corpus = docs.join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    private lazy val vectors: Map[Long, Seq[Float]] =
      emb.select("vec_id", "embedding").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    private val calls: Seq[JsonNode] =
      new ObjectMapper().readTree(new File(s"${plan.data}/serve_stream.json")).elements().asScala.toSeq
    val cfg = HybridServe.BuildConfig(champM = 100000, champMinDf = 1L)
    private val querySchema = StructType(Seq(
      StructField("query_id", StringType), StructField("terms", ArrayType(StringType)),
      StructField("embedding", ArrayType(FloatType)), StructField("exclude_id", LongType)))

    // state of the last timed pass, for the rebuild check
    private var removed = Set.empty[Long]
    private var upserted = Set.empty[Long]
    private var built: HybridServe.Artifacts = _
    private val served = mutable.ArrayBuffer.empty[(JsonNode, Array[Row])]

    def batch(call: JsonNode): DataFrame = {
      val rows = call.get("queries").elements().asScala.map { q =>
        val vid = q.get("vec_id").asLong
        Row(q.get("query_id").asText, q.get("terms").elements().asScala.map(_.asText).toSeq,
          vectors(vid), vid)
      }.toSeq
      spark.createDataFrame(rows.asJava, querySchema)
    }

    private def ids(call: JsonNode): Seq[Long] = call.get("ids").elements().asScala.map(_.asLong).toSeq
    private def refreshed(df: DataFrame): DataFrame =
      df.select(col("doc_id"), concat(lit("upsert refresh "), col("text")).as("text"))

    def run(r: Runner, nCalls: Int, check: Boolean, tag: String): Unit = {
      var a: HybridServe.Artifacts = null
      var gone = Set.empty[Long]
      var fresh = Set.empty[Long]
      r.op("serve.build", "lifecycle") { o =>
        a = o.phase("operators.serve.build")(
          HybridServe.build(corpus, "doc_id", "text", emb, "vec_id", "embedding", cfg))
      }
      if (a == null) return
      calls.take(nCalls).foreach { call =>
        call.get("op").asText match {
          case "serve" =>
            r.op("serve.query", "lifecycle") { o =>
              o.phase("operators.serve.query")(HybridServe.serve(a, batch(call)).collect())
            }
          case kind =>
            val touched = ids(call)
            val stale = corpus.filter(col("doc_id").isin(touched: _*))
            r.op(s"serve.$kind", "lifecycle") { o =>
              a = o.phase(s"operators.serve.$kind")(
                if (kind == "remove") HybridServe.remove(a, stale, "doc_id", "text")
                else HybridServe.upsert(a, stale, refreshed(stale), "doc_id", "text",
                  emb.filter(col("vec_id").isin(touched: _*)), "vec_id", "embedding"))
            }
            if (kind == "remove") gone ++= touched else fresh ++= touched
        }
      }
      val root = s"${plan.work}/index_$tag"
      var loaded: HybridServe.Artifacts = null
      r.op("serve.publish", "lifecycle") { o =>
        o.phase("sinks.save")(HybridServe.saveVersioned(spark, a, root, "bench"))
        loaded = o.phase("sinks.load")(HybridServe.loadCurrent(spark, root, "bench"))
      }
      if (loaded == null) return
      if (check) { served.clear(); removed = gone; upserted = fresh; built = a }
      // the reloaded index serves the stream's first batches again: these
      // are the sample the rebuild check compares
      calls.filter(_.get("op").asText == "serve").take(2).foreach { call =>
        r.op("serve.query_loaded", "lifecycle") { o =>
          val rows = o.phase("operators.serve.query")(HybridServe.serve(loaded, batch(call)).collect())
          if (check) served += ((call, rows))
        }
      }
    }

    /** The mutated, published and reloaded index must serve exactly like a
      * fresh build of the surviving corpus with the same models. */
    def checkAgainstRebuild(r: Runner): Unit = {
      if (built == null || served.isEmpty) {
        rec.check("serve.rebuild_equivalence", Some("lifecycle did not complete"))
        return
      }
      val keep = corpus.filter(!col("doc_id").isin(removed.toSeq: _*))
      val isFresh = col("doc_id").isin(upserted.toSeq: _*)
      val survivors = keep.select(col("doc_id"),
        when(isFresh, concat(lit("upsert refresh "), col("text"))).otherwise(col("text")).as("text"))
      val survEmb = emb.filter(!col("vec_id").isin(removed.toSeq: _*))
      val ok = r.op("serve.rebuild_reference", "check") { _ =>
        val ref = HybridServe.buildWith(survivors, "doc_id", "text", survEmb, "vec_id", "embedding",
          built.ivf, built.pq, cfg)
        val bad = served.count { case (call, rows) =>
          HybridServe.serve(ref, batch(call)).collect().map(_.toString).sorted.toSeq !=
            rows.map(_.toString).sorted.toSeq
        }
        rec.check("serve.rebuild_equivalence",
          if (bad == 0) None else Some(s"$bad of ${served.size} query batches differ from a fresh build"))
      }
      if (!ok) rec.check("serve.rebuild_equivalence", Some("reference rebuild failed"))
    }
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener event times. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}
