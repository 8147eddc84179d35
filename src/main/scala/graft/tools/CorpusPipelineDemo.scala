package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text._
import graft.operators.{Dedup, Embedding, Similarity}
import graft.sinks.VersionedTableSink

/** End-to-end LLM training-data pipeline over the real corpus (north-star
  * composition): quality + language filter -> exact dedup -> MinHash
  * near-dup removal -> token-window chunking -> embedding -> ANN smoke ->
  * versioned sink. Every stage is the library operator the queries/tests
  * cover; this main proves they compose on one lazy plan chain.
  */
object CorpusPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = Tables.load(spark, sf, "documents")
    println(s"input docs          = ${docs.count()}")

    // 1. quality + language gate (text analysis operators)
    val t = tokens(col("text"))
    val scored = docs
      .withColumn("n_tokens", size(t))
      .withColumn("stop_ratio",
        size(filter(t, x => x.isin(EnStop: _*))).cast("double") / size(t))
      .withColumn("pred_lang", langId(t))
    val kept = scored.filter(col("n_tokens") >= 20 && col("stop_ratio") <= 0.6)
    println(s"after quality gate  = ${kept.count()}")

    // 2. exact dedup on content hash, then near-dup removal via MinHash LSH
    val exact = Dedup.exact(kept, Seq("text"), "doc_id")
    val nearDupIds = Dedup.minhashPairs(exact.select("doc_id", "text"), "doc_id", "text")
      .select(col("id_b").as("doc_id")).distinct()
    val unique = exact.join(nearDupIds, Seq("doc_id"), "left_anti")
    println(s"after exact dedup   = ${exact.count()}")
    println(s"after near-dup drop = ${unique.count()}")

    // 3. chunk + embed (mock client stands in for the TEI endpoint)
    val chunks = unique
      .select(col("text"), col("lang"), col("source"), col("doc_id"))
      .as[(String, String, String, Long)]
      .flatMap { case (text, lang, source, id) =>
        new graft.split.SemanticSplitter().splitDoc(
          graft.contracts.MarkdownDoc(text, lang, source, Map("doc_id" -> id.toString)))
      }
    val embedded = Embedding.embedChunks(chunks, Embedding.MockEmbeddingClient(dim = 16))
    println(s"chunks embedded     = ${embedded.count()}")

    // 4. ANN smoke over the produced vectors (LSH-bucketed top-k)
    val vecs = embedded.toDF()
      .select(col("metadata").getItem("doc_id").cast("long").as("vec_id"), col("vector"))
    val ann = Similarity.lshTopK(vecs, vecs.limit(5), "vec_id", "vector", kTop = 3)
    println(s"ann pairs           = ${ann.count()}")

    // 5. versioned sink with alias swap
    val sink = new VersionedTableSink(s"$out/kb", "corpus")
    val v = sink.write(embedded.toDF())
    println(s"sink version v$v rows = ${sink.readCurrent(spark).count()}")
    spark.stop()
    println("CORPUS PIPELINE OK")
  }
}
