package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Kernels
import graft.operators.{Dedup, Rank}
import graft.pipeline.{DropDuplicationStep, Engine, UrlFilterStep}
import graft.split.{BpeTokenizer, MdFormatLite, SemanticSplitter}

/** One timed call into each measured layer, for the traced run's
  * per-layer metrics. Driver-side kernels run one thread over the
  * generated corpus; Spark operators run on the corpus frame. The graph
  * calls and the serve lifecycle run here unless the workload's own traced
  * pass made them. */
final class Probes(spark: SparkSession, plan: Harness.Plan, graphs: Harness.Graphs,
                   r: Harness.Runner) {
  private val docs = Tables.load(spark, plan.tables, "documents")
  private lazy val texts: Array[String] = docs.select("text").collect().map(_.getString(0))

  /** Microseconds per document of `f` over the corpus, after one untimed
    * pass over it. */
  private def perDoc(name: String)(f: String => Any): Unit =
    r.op(name, "probe") { o =>
      // results feed a sink that is used afterwards, so the JIT cannot
      // drop the calls as dead code
      var sink = 0
      texts.foreach(t => sink += f(t).hashCode & 1)
      val t0 = System.nanoTime()
      o.phase(name)(texts.foreach(t => sink += f(t).hashCode & 1))
      r.rec.metric(name + "_us_per_doc", (System.nanoTime() - t0) / 1e3 / texts.length, "us")
      if (sink < 0) println(sink)
    }

  def runAll(): Unit = {
    val splitter = SemanticSplitter.referenceDefault()
    val bpe = BpeTokenizer.parity()
    perDoc("split.mdformat")(MdFormatLite.normalize)
    perDoc("split.semantic")(splitter.splitMarkdown)
    perDoc("split.bpe")(t => bpe.encode(t).length)
    perDoc("functions.minhash")(t => Kernels.minhashSig(t, 12, 3).length)
    perDoc("functions.simhash")(t => Kernels.simhashFp(t, 64))
    perDoc("functions.winnow")(t => Kernels.winnow(t, 3, 4).length)
    perDoc("functions.termfreq")(t => Kernels.termFreqDl(t, true)._1)

    r.op("operators.dedup.minhash_pairs", "probe") { o =>
      o.phase("operators.dedup.minhash_pairs")(
        Dedup.minhashPairs(docs, "doc_id", "text").queryExecution.toRdd.count())
    }
    r.op("operators.rank.champion_index", "probe") { o =>
      o.phase("operators.rank.champion_index")(
        Rank.championIndex(docs, "doc_id", "text", m = 8).queryExecution.toRdd.count())
    }
    r.op("pipeline.run", "probe") { o =>
      val shaped = docs.select(col("text").as("md"), col("lang").as("keywords"),
        concat(lit("https://kb.local/doc-"), md5(col("text"))).as("url"))
      o.phase("pipeline.run")(
        Engine.runPipeline(DropDuplicationStep() >> UrlFilterStep("a1"), shaped))
    }
    // the operators workload's traced pass already made these calls
    graphs.names.filterNot(g => plan.legs && graphs.legs.contains(g)).foreach { g =>
      r.op(g, "probe") { o => o.phase(g)(graphs.run(g).queryExecution.toRdd.count()) }
    }
    if (!plan.legs) r.lifecycle.run(r, plan.serveCalls, check = false, tag = "probe")
  }
}
