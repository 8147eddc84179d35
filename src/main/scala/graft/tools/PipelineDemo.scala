package graft.tools

import java.nio.file.{Files, Paths}
import graft.operators.Embedding
import graft.pipeline.{DropDuplicationStep, UrlFilterStep}
import graft.sinks.VersionedTableSink
import graft.sources.MarkdownSource
import graft.split.{SemanticSplitter, SplitStep}

/** End-to-end example of the reference pipeline re-expressed on Spark
  * (README usage; mirrors examples/pipeline/pipelinedemo.py in the
  * reference): markdown folder -> front-matter parse -> dedup -> semantic
  * split -> mock embedding -> versioned collection sink with alias swap.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("graft-demo").toString
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(s"$docsDir/sub"))
    Files.writeString(Paths.get(s"$docsDir/a.md"),
      "---\nkeywords: alpha,beta\nurl: https://kb.local/a\n---\n# Alpha\n\n" +
        (1 to 400).map(i => s"word$i").mkString(" "))
    Files.writeString(Paths.get(s"$docsDir/sub/b.md"),
      "# Beta\n\n## Detail\n\n" + (1 to 300).map(i => s"tok$i").mkString(" ") +
        "\n\n| a | b |\n| --- | --- |\n" + (1 to 40).map(i => s"| r$i | v$i |").mkString("\n"))
    Files.writeString(Paths.get(s"$docsDir/dup.md"),
      "---\nkeywords: alpha,beta\nurl: https://kb.local/a2\n---\n# Alpha\n\n" +
        (1 to 400).map(i => s"word$i").mkString(" "))

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // source -> project -> dedup (reference: ManualMarkdown >> DropDuplication)
    val docs = MarkdownSource.read(spark, docsDir)
    val deduped = (DropDuplicationStep(Seq("md")) >> UrlFilterStep("neverejn")).run(docs.toDF())
    println(s"docs=${docs.count()} deduped=${deduped.count()}")

    // split (reference: SimpleSplitterStep with 256/32/64 windows)
    val splitStep = new SplitStep(new SemanticSplitter(tokenLimit = 64, buffer = 8, tokenMin = 4))
    val chunks = splitStep.split(deduped.as[graft.contracts.MarkdownDoc])
    val chunkRows = chunks.collect()
    splitStep.assertNotAllSkipped()
    println(s"chunks=${chunkRows.length} " +
      s"maxTokens=${chunkRows.map(_.metadata("token_len").toInt).max}")

    // embed (reference: EmbeddingStep against TEI; mock client here)
    val embedded = Embedding.embedChunks(chunks, Embedding.MockEmbeddingClient(dim = 8))
    println(s"embedded=${embedded.count()} dim=${embedded.head().vector.length}")

    // versioned sink with alias swap + retirement (reference: QdrantConnectorStep)
    val sink = new VersionedTableSink(s"$work/kb", "demo", historyLen = 2)
    val v1 = sink.write(embedded.toDF())
    val v2 = sink.write(embedded.toDF())
    println(s"versions=${sink.versions().mkString(",")} alias=v${sink.aliasedVersion().get} " +
      s"rows=${sink.readCurrent(spark).count()}")
    assert(v2 == v1 + 1)
    spark.stop()
    println("DEMO OK")
  }
}
