package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text._
import graft.operators.{Chunker, Dedup, Rank, Sampling}
import QueryDef._

/** Document/text operators over the `documents` table (SURVEY.md §2.8, §2.9,
  * §2.10 W1, §2.4 A1-A3; north-star text analysis + dedup).
  */
object TextQ {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // q98's materialized minhash index, one per sf dir per JVM (cleaned on exit)
  private val q98IndexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  sys.addShutdownHook {
    q98IndexPaths.values().forEach { p =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }
  }

  /** The q66 nested-structure document: a 3-deep nested list plus a
    * blockquote wrapping a single oversized list, every block's
    * whitespace-token width fixed by construction (requires the corpus
    * contract of >= 10 words per doc: 75 reps of the shortest doc give the
    * 746 words the slices consume). ONE definition shared by the q66 UDF,
    * the SemanticSplitterSpec oracle mirror, and ScaleSmoke — the DuckDB
    * oracle models these exact offsets, so a drifted copy would silently
    * decouple bench/test shapes from the correctness gate. */
  def nestedDoc(id: Long, text: String): String = {
    val base = text.trim.split("\\s+")
    val rep = Array.fill(75)(base).flatten
    def sl(a: Int, b: Int) = rep.slice(a, b).mkString(" ")
    val cs = (0 until 10).map(j => s"    - ${sl(20 + 29 * j, 49 + 29 * j)}").mkString("\n")
    val qs = (0 until 12).map(j => s"> - ${sl(398 + 29 * j, 427 + 29 * j)}").mkString("\n")
    s"# Doc $id\n\n- ${sl(0, 10)}\n  - ${sl(10, 20)}\n$cs\n  - ${sl(310, 339)}\n- ${sl(339, 398)}\n\n$qs"
  }

  // DuckDB snippets reused across oracles.
  private val W = "string_split_regex(text, '\\s+')"

  /** CTE chain modeling `Dedup.minhashPairs(k=12, r=4, capPerBand=256)`
    * exactly (3-gram shingles, md5-derived hash family, default-on
    * degenerate-band sub-bucketing) — shared by q33 (the pair set) and
    * q72 (cluster resolution over the same pair set) so the two oracles
    * can never drift apart. */
  private val minhashPairCtes: String =
    s"""tk AS (SELECT doc_id, $W AS w FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
       |  ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s FROM tk),
       |mh AS (SELECT doc_id, s, list_transform(range(0, 12), j ->
       |  coalesce(list_min(list_transform(list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)),
       |    h -> ((31*j + 97) * h + 907*j + 13) % 1000000007)), 9223372036854775807)) AS m
       |  FROM sh),
       |bd AS (SELECT doc_id, s, unnest(list_transform(range(0, 3), b ->
       |  CAST(b AS VARCHAR) || ':' || CAST(m[4*b+1] AS VARCHAR) || ':' || CAST(m[4*b+2] AS VARCHAR) || ':' || CAST(m[4*b+3] AS VARCHAR) || ':' || CAST(m[4*b+4] AS VARCHAR))) AS band FROM mh),
       |bc AS (SELECT doc_id, s, band, count(*) OVER (PARTITION BY band) AS n FROM bd),
       |capped AS (SELECT doc_id, s,
       |  CASE WHEN n > 256 THEN band || '#' || CAST(
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#band'), 1, 15)) AS BIGINT)
       |    % CAST(ceil(n / 256.0) AS BIGINT) AS VARCHAR)
       |  ELSE band END AS band FROM bc),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q23_dedup_exact",
      // Shuffle the content HASH, not the content: grouping on sha256 makes
      // the exchange payload 64 bytes/row instead of the full document —
      // the difference between shuffling 100 TB and shuffling 600 GB at
      // corpus scale. Same result set (modulo 2^-128 collision odds).
      (s, d) => docs(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))
        .groupBy(col("text_sha"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
        .select(col("doc_id"), col("dup_count"), col("text_sha"))
        .orderBy(col("doc_id")),
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count, sha256(text) AS text_sha
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    QueryDef("q24_distinct_projection",
      (s, d) => docs(s, d)
        .select(col("lang"), col("n_chars")).distinct()
        .orderBy(col("lang"), col("n_chars")),
      Some("""SELECT DISTINCT lang, n_chars FROM documents ORDER BY lang, n_chars""".stripMargin)),

    QueryDef("q25_content_hashes",
      (s, d) => docs(s, d)
        .select(
          col("doc_id"),
          sha256Hex(col("text")).as("sha"),
          md5(col("text")).as("md5h"),
          identityHash(Seq(col("doc_id"), col("lang"), col("n_chars"), col("source"), col("text")))
            .as("identity_sha"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, sha256(text) AS sha, md5(text) AS md5h,
        |sha256(concat_ws(' ', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR), source, text)) AS identity_sha
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q26_token_counts",
      (s, d) => docs(s, d)
        .select(
          col("doc_id"),
          big(tokenCount(col("text"))).as("n_tokens"),
          big(length(col("text"))).as("len_chars"),
          big(length(regexp_replace(col("text"), "\\s", ""))).as("len_no_ws"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS len_chars,
        |CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS len_no_ws
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q27_stopword_filter",
      (s, d) => {
        val t = tokens(col("text"))
        val stop = EnStop
        docs(s, d)
          .select(
            col("doc_id"),
            big(size(t)).as("n_tokens"),
            big(size(filter(t, x => x.isin(stop: _*)))).as("n_stop"),
            big(size(removeStopwords(t, stop))).as("n_content"))
          .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_tokens, n_stop, n_content,
        |CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio FROM (
        |  SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter($W, x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stop,
        |  CAST(len(list_filter($W, x -> x NOT IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_content
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q28_lang_id",
      (s, d) => {
        val t = tokens(col("text"))
        val (en, de, es, fr) = langScores(t)
        docs(s, d)
          .select(col("doc_id"), big(en).as("en_score"), big(de).as("de_score"),
            big(es).as("es_score"), big(fr).as("fr_score"), langId(t).as("predicted_lang"),
            col("lang").as("declared_lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, en_score, de_score, es_score, fr_score,
        |CASE WHEN greatest(en_score, de_score, es_score, fr_score) = 0 THEN 'und'
        |     WHEN en_score = greatest(en_score, de_score, es_score, fr_score) THEN 'en'
        |     WHEN de_score = greatest(en_score, de_score, es_score, fr_score) THEN 'de'
        |     WHEN es_score = greatest(en_score, de_score, es_score, fr_score) THEN 'es'
        |     ELSE 'fr' END AS predicted_lang,
        |lang AS declared_lang FROM (
        |  SELECT doc_id, lang,
        |  CAST(len(list_filter($W, x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS en_score,
        |  CAST(len(list_filter($W, x -> x IN ('der','die','das','und','ist','ein'))) AS BIGINT) AS de_score,
        |  CAST(len(list_filter($W, x -> x IN ('el','la','de','que','y','los'))) AS BIGINT) AS es_score,
        |  CAST(len(list_filter($W, x -> x IN ('le','la','et','les','des','un'))) AS BIGINT) AS fr_score
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q29_quality_score",
      (s, d) => {
        val t = tokens(col("text"))
        val base = docs(s, d).select(
          col("doc_id"),
          big(size(t)).as("n_tokens"),
          big(length(regexp_replace(col("text"), "\\s", ""))).as("len_no_ws"),
          big(size(filter(t, x => x.isin(EnStop: _*)))).as("n_stop"))
        base
          .withColumn("mean_word_len", col("len_no_ws").cast("double") / col("n_tokens"))
          .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
          .withColumn("quality_score",
            when(col("n_tokens").between(20, 1000), lit(0.5)).otherwise(lit(0.0))
              + when(col("stop_ratio") >= 0.05 && col("stop_ratio") <= 0.6, lit(0.3)).otherwise(lit(0.0))
              + when(col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0, lit(0.2)).otherwise(lit(0.0)))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_tokens, len_no_ws, n_stop,
        |CAST(len_no_ws AS DOUBLE) / n_tokens AS mean_word_len,
        |CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |(CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
        | + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.6 THEN 0.3 ELSE 0.0 END
        | + CASE WHEN CAST(len_no_ws AS DOUBLE) / n_tokens >= 3.0 AND CAST(len_no_ws AS DOUBLE) / n_tokens <= 10.0 THEN 0.2 ELSE 0.0 END) AS quality_score
        |FROM (
        |  SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS len_no_ws,
        |  CAST(len(list_filter($W, x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q30_fingerprint",
      (s, d) => {
        val t = tokens(col("text"))
        spread(docs(s, d))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(t, 1, 8))).as("prefix_fp"),
            big(graft.functions.Kernels.shingleCountUdf(3)(col("text"))).as("n_shingles3"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, md5(array_to_string(($W)[1:8], ' ')) AS prefix_fp,
        |CAST(len(CASE WHEN len($W) < 3 THEN CAST([] AS VARCHAR[])
        |  ELSE list_distinct(list_transform(range(1, len($W) - 1),
        |    i -> ($W)[i] || ' ' || ($W)[i+1] || ' ' || ($W)[i+2])) END) AS BIGINT) AS n_shingles3
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q31_simhash",
      (s, d) => Dedup.withSimhash(spread(docs(s, d)), "text", 48)
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, unnest($W) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w || '#sh'), 1, 15)) AS BIGINT) AS hv FROM t),
        |bb AS (SELECT doc_id, i,
        |  CASE WHEN SUM(CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END) > 0
        |       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(generate_series(0, 47)) AS i) g GROUP BY doc_id, i)
        |SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bb GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("q32_minhash_signature",
      (s, d) => Dedup.withMinhash(spread(docs(s, d)), "text", 12, 4)
        .select(col("doc_id"),
          element_at(col("minhash"), 1).as("mh0"),
          element_at(col("minhash"), 2).as("mh1"),
          element_at(col("minhash"), 12).as("mh11"),
          concat_ws("|", col("bands")).as("bands_s"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
        |  ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s FROM tk),
        |hs AS (SELECT doc_id, list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)) AS hv FROM sh),
        |mh AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  coalesce(list_min(list_transform(hv, h -> ((31*j + 97) * h + 907*j + 13) % 1000000007)), 9223372036854775807)) AS m
        |  FROM hs)
        |SELECT doc_id, m[1] AS mh0, m[2] AS mh1, m[12] AS mh11,
        |array_to_string(list_transform(range(0, 3), b ->
        |  CAST(b AS VARCHAR) || ':' || CAST(m[4*b+1] AS VARCHAR) || ':' || CAST(m[4*b+2] AS VARCHAR) || ':' || CAST(m[4*b+3] AS VARCHAR) || ':' || CAST(m[4*b+4] AS VARCHAR)), '|') AS bands_s
        |FROM mh ORDER BY doc_id""".stripMargin)),

    QueryDef("q33_minhash_near_dups",
      // The oracle models the default-on capPerBand=256 sub-bucketing
      // (Dedup.capBandFanout) exactly like q34's: window count per band ->
      // ceil(n/256) sub-buckets -> hash60(doc_id || '#band') picks the
      // sub-bucket. At sf<=0.1 no minhash band exceeds 256 (the CASE is a
      // no-op) but at any larger verify scale a hot band stays hash-exact
      // instead of silently diverging. The capped join itself is exercised
      // by DedupSpec's oracle-model parity test on planted skew.
      (s, d) => Dedup.minhashPairs(spread(docs(s, d)), "doc_id", "text", 12, 4, 0.6)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $minhashPairCtes
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q34_simhash_near_dups",
      // The homogeneous corpus collapses simhash band 1 at sf0.1 (438
      // members > capPerBand 256), so this query ALSO exercises the
      // degenerate-band cap: the oracle models the sub-bucketing exactly
      // (window count per band -> ceil(size/256) sub-buckets -> hash60 of
      // the id picks the sub-bucket) — possible because capBandFanout uses
      // the engine's md5/hash60 scheme, not Spark's Murmur3.
      (s, d) => Dedup.simhashPairs(spread(docs(s, d)), "doc_id", "text", 48, 16, 2)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH t AS (SELECT doc_id, unnest($W) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w || '#sh'), 1, 15)) AS BIGINT) AS hv FROM t),
        |bb AS (SELECT doc_id, i,
        |  CASE WHEN SUM(CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END) > 0
        |       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(generate_series(0, 47)) AS i) g GROUP BY doc_id, i),
        |fp AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bb GROUP BY doc_id),
        |bd AS (SELECT doc_id, simhash, unnest(list_transform(range(0, 3), b ->
        |  CAST(b AS VARCHAR) || ':' || CAST((simhash >> (b * 16)) & 65535 AS VARCHAR))) AS band FROM fp),
        |bc AS (SELECT doc_id, simhash, band, count(*) OVER (PARTITION BY band) AS n FROM bd),
        |capped AS (SELECT doc_id, simhash,
        |  CASE WHEN n > 256 THEN band || '#' || CAST(
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#band'), 1, 15)) AS BIGINT)
        |    % CAST(ceil(n / 256.0) AS BIGINT) AS VARCHAR)
        |  ELSE band END AS band FROM bc),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 2 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q39_token_chunks",
      (s, d) => Chunker.fixedTokenChunks(docs(s, d), "doc_id", "text", 50)
        .select(col("doc_id"), big(col("chunk_index")).as("chunk_index"),
          big(col("chunks_count")).as("chunks_count"), big(col("token_len")).as("token_len"),
          col("chunk_sha"))
        .orderBy(col("doc_id"), col("chunk_index")),
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |ck AS (SELECT doc_id, CAST(ceil(len(w) / 50.0) AS INT) AS chunks_count, k,
        |  array_to_string(w[k*50+1 : (k+1)*50], ' ') AS chunk_text
        |  FROM tk, (SELECT unnest(generate_series(0, 199)) AS k) g WHERE k * 50 < len(w))
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_index, CAST(chunks_count AS BIGINT) AS chunks_count,
        |CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS token_len,
        |sha256(chunk_text) AS chunk_sha
        |FROM ck ORDER BY doc_id, chunk_index""".stripMargin)),

    QueryDef("q40_chunk_metrics",
      (s, d) => {
        val chunks = Chunker.fixedTokenChunks(docs(s, d), "doc_id", "text", 50)
          .join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        Chunker.chunkMetrics(chunks, "lang")
          .select(col("lang"), big(col("chunk_count")).as("chunk_count"),
            big(col("total_tokens")).as("total_tokens"), big(col("min_tokens")).as("min_tokens"),
            big(col("max_tokens")).as("max_tokens"), col("avg_tokens"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $W AS w FROM documents),
        |ck AS (SELECT doc_id, lang, k,
        |  len(string_split_regex(array_to_string(w[k*50+1 : (k+1)*50], ' '), '\\s+')) AS token_len
        |  FROM tk, (SELECT unnest(generate_series(0, 199)) AS k) g WHERE k * 50 < len(w))
        |SELECT lang, COUNT(*) AS chunk_count, CAST(SUM(token_len) AS BIGINT) AS total_tokens,
        |CAST(MIN(token_len) AS BIGINT) AS min_tokens, CAST(MAX(token_len) AS BIGINT) AS max_tokens,
        |CAST(SUM(token_len) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM ck GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q41_front_matter",
      (s, d) => {
        val md = concat(
          lit("---\nkeywords: "), col("lang"), lit(","), col("source"),
          lit("\nurl: https://corpus.local/"), col("source"), lit("/"), col("doc_id"),
          lit("\n---\n# Doc "), col("doc_id"), lit("\n"), col("text"))
        docs(s, d)
          .withColumn("md", md)
          .select(
            col("doc_id"),
            frontMatterField(col("md"), "keywords").as("keywords"),
            frontMatterField(col("md"), "url").as("url"),
            filenameFromUrl(frontMatterField(col("md"), "url")).as("filename"),
            titleFromMd(frontMatterBody(col("md"))).as("title"),
            big(length(frontMatterBody(col("md")))).as("body_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id,
        |  '---' || chr(10) || 'keywords: ' || lang || ',' || source
        |   || chr(10) || 'url: https://corpus.local/' || source || '/' || CAST(doc_id AS VARCHAR)
        |   || chr(10) || '---' || chr(10) || '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text AS md
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  regexp_extract(md, '(?s)^---\n(.*?)\n---\n(.*)$', 1) AS hdr,
        |  regexp_extract(md, '(?s)^---\n(.*?)\n---\n(.*)$', 2) AS body FROM m)
        |SELECT doc_id,
        |CASE WHEN regexp_matches(hdr, '(?m)^[ ]*\t') THEN '' ELSE regexp_extract(hdr, '(?m)^[ ]*keywords:[ \t]*(.*?)[ \t]*$', 1) END AS keywords,
        |CASE WHEN regexp_matches(hdr, '(?m)^[ ]*\t') THEN '' ELSE regexp_extract(hdr, '(?m)^[ ]*url:[ \t]*(.*?)[ \t]*$', 1) END AS url,
        |regexp_replace(regexp_extract(CASE WHEN regexp_matches(hdr, '(?m)^[ ]*\t') THEN '' ELSE regexp_extract(hdr, '(?m)^[ ]*url:[ \t]*(.*?)[ \t]*$', 1) END, '^https?://[^/]+/(.*)$', 1), '/+$', '') || '.md' AS filename,
        |regexp_extract(body, '(?m)^# (.*)$', 1) AS title,
        |CAST(length(body) AS BIGINT) AS body_len
        |FROM p ORDER BY doc_id""".stripMargin)),

    QueryDef("q42_mask_urls",
      (s, d) => {
        val synth = concat(lit("see https://corpus.local/"), col("source"), lit("/"),
          col("doc_id"), lit(" and http://x.io/a?b=1 then "), substring(col("text"), 1, 40))
        docs(s, d)
          .select(col("doc_id"), maskUrls(synth).as("masked"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |regexp_replace('see https://corpus.local/' || source || '/' || CAST(doc_id AS VARCHAR)
        |  || ' and http://x.io/a?b=1 then ' || substr(text, 1, 40),
        |  'https?://[^\s]+', 'LINK', 'g') AS masked
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q43_semantic_chunks",
      // The production SemanticSplitter (256/32/64, whitespace tokens)
      // distributed over the corpus as a typed flatMap. Corpus docs are
      // single-paragraph plain text, so the splitter's behavior reduces to
      // whole-doc-if-short / 256-token hard cuts with the min-64 tail drop —
      // which is exactly what the oracle replicates in SQL.
      (s, d) => {
        import s.implicits._
        val splitter = new graft.split.SemanticSplitter()
        val chunks = Tables.load(s, d, "documents")
          .select(col("text"), col("lang"), col("source"), col("doc_id"))
          // parallelize the per-doc splitter across cores: the corpus is one
          // small parquet split, and AQE would coalesce any implicit small
          // shuffle to a single partition (explicit numPartitions is kept)
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .as[(String, String, String, Long)]
          .flatMap { case (text, lang, source, id) =>
            splitter.splitDoc(graft.contracts.MarkdownDoc(
              text, lang, source, Map("doc_id" -> id.toString)))
          }
        chunks.select(
            col("metadata").getItem("doc_id").cast("long").as("doc_id"),
            col("metadata").getItem("chunk_index").cast("long").as("chunk_index"),
            col("metadata").getItem("chunks_count").cast("long").as("chunks_count"),
            col("metadata").getItem("token_len").cast("long").as("token_len"),
            sha2(col("md"), 256).as("chunk_sha"))
          // disjoint doc_id ranges + full within-partition sort = total
          // order without a range-sampling pass over the splitter
          .sortWithinPartitions(col("doc_id"), col("chunk_index"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $W AS w FROM documents),
        |whole AS (SELECT doc_id, 0 AS k, text AS chunk_text, len(w) AS token_len
        |  FROM tk WHERE len(w) <= 288),
        |cut AS (SELECT doc_id, k, array_to_string(w[k*256+1 : (k+1)*256], ' ') AS chunk_text,
        |  CASE WHEN len(w) - k*256 >= 256 THEN 256 ELSE len(w) - k*256 END AS token_len
        |  FROM tk, (SELECT unnest(generate_series(0, 99)) AS k) g
        |  WHERE len(w) > 288 AND k*256 < len(w)),
        |kept AS (SELECT * FROM whole UNION ALL SELECT * FROM cut WHERE token_len >= 64),
        |idx AS (SELECT doc_id, chunk_text, token_len,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS chunk_index,
        |  COUNT(*) OVER (PARTITION BY doc_id) AS chunks_count FROM kept)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
        |CAST(chunks_count AS BIGINT) AS chunks_count, CAST(token_len AS BIGINT) AS token_len,
        |sha256(chunk_text) AS chunk_sha
        |FROM idx ORDER BY doc_id, chunk_index""".stripMargin)),

    QueryDef("q49_token_truncate",
      (s, d) => {
        val t = tokens(col("text"))
        docs(s, d)
          .select(col("doc_id"),
            sha2(concat_ws(" ", slice(t, 1, 30)), 256).as("trunc_sha"),
            big(least(size(t), lit(30))).as("trunc_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
        |sha256(array_to_string(($W)[1:30], ' ')) AS trunc_sha,
        |CAST(least(len($W), 30) AS BIGINT) AS trunc_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q52_winnow_fingerprint",
      // Winnowing (Schleimer et al. 2003): rolling min over word-3-gram
      // hashes, window 4 — the scale-friendly document sketch (any shared
      // run of >= 6 words yields a shared fingerprint). Kernel on the Spark
      // side, replayed symbolically by the oracle.
      (s, d) => spread(docs(s, d))
        .select(col("doc_id"),
          graft.functions.Kernels.winnowUdf(3, 4)(col("text")).as("f"))
        .select(col("doc_id"), big(size(col("f"))).as("n_fp"),
          element_at(col("f"), 1).as("fp_min"),
          expr("element_at(f, size(f))").as("fp_max"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |hs AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN CAST([] AS BIGINT[]) ELSE
        |  list_transform(range(1, len(w) - 1), i ->
        |    CAST(concat('0x', substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 7)) AS BIGINT)) END AS h
        |  FROM tk),
        |fp AS (SELECT doc_id, CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
        |  WHEN len(h) <= 4 THEN [list_min(h)]
        |  ELSE list_sort(list_distinct(list_transform(range(1, len(h) - 2), s -> list_min(h[s : s+3])))) END AS f
        |  FROM hs)
        |SELECT doc_id, CAST(len(f) AS BIGINT) AS n_fp, f[1] AS fp_min, f[len(f)] AS fp_max
        |FROM fp ORDER BY doc_id""".stripMargin)),

    QueryDef("q44_contract_metrics",
      (s, d) => docs(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_declared_chars"),
          big(sum(length(col("text")))).as("sum_chars"),
          big(sum(tokenCount(col("text")).cast("long"))).as("sum_tokens"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_declared_chars,
        |CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |CAST(SUM(len($W)) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q45_descriptive_stats",
      (s, d) => {
        val agged = docs(s, d).groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(col("n_chars")).as("s"),
            sum(col("n_chars") * col("n_chars")).as("sq"),
            percentile(col("n_chars"), lit(0.25)).as("p25"),
            percentile(col("n_chars"), lit(0.5)).as("p50"),
            percentile(col("n_chars"), lit(0.75)).as("p75"))
        agged.select(col("lang"), col("n"), col("min_chars"), col("max_chars"),
            col("s").as("sum_chars"),
            (col("s").cast("double") / col("n").cast("double")).as("avg_chars"),
            ((col("sq").cast("double") - (col("s").cast("double") * col("s").cast("double")) / col("n").cast("double"))
              / (col("n") - 1).cast("double")).as("var_chars"),
            col("p25"), col("p50"), col("p75"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, n, min_chars, max_chars, CAST(sum_chars AS BIGINT) AS sum_chars,
        |CAST(sum_chars AS DOUBLE) / CAST(n AS DOUBLE) AS avg_chars,
        |(CAST(sq AS DOUBLE) - (CAST(sum_chars AS DOUBLE) * CAST(sum_chars AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_chars,
        |p25, p50, p75 FROM (
        |  SELECT lang, COUNT(*) AS n, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  SUM(n_chars) AS sum_chars, SUM(n_chars * n_chars) AS sq,
        |  quantile_cont(n_chars, 0.25) AS p25, quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |  FROM documents GROUP BY lang)
        |ORDER BY lang""".stripMargin)),

    QueryDef("q46_sort_by_hash",
      (s, d) => docs(s, d)
        .select(col("doc_id"), sha256Hex(col("text")).as("h"))
        .orderBy(col("h"), col("doc_id")),
      Some("""SELECT doc_id, sha256(text) AS h FROM documents ORDER BY h, doc_id""".stripMargin)),

    QueryDef("q47_version_next",
      (s, d) => docs(s, d)
        .agg(max(regexp_extract(col("source"), "src(\\d+)", 1).cast("long")).as("max_v"))
        .select(lit("src").as("prefix"), (col("max_v") + 1).as("next_version"))
        .orderBy(col("prefix")),
      Some("""SELECT 'src' AS prefix,
        |CAST(MAX(CAST(regexp_extract(source, 'src(\d+)', 1) AS BIGINT)) + 1 AS BIGINT) AS next_version
        |FROM documents ORDER BY prefix""".stripMargin)),

    QueryDef("q48_url_filter",
      (s, d) => docs(s, d)
        .filter(!lower(col("source")).contains("1"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source FROM documents
        |WHERE NOT contains(lower(source), '1') ORDER BY doc_id""".stripMargin)),

    QueryDef("q54_structured_chunks",
      // The splitter's STRUCTURED path under oracle coverage (round-1
      // verdict top ask): a markdown document with an H1, two H2 sections,
      // fixed-width paragraphs, and a pipe table is synthesized
      // deterministically from each corpus row, then split by the REAL
      // SemanticSplitter (hierarchy parse, section descent, greedy packing,
      // running-header carry) as a distributed typed flatMap.
      //
      // The construction fixes every block's whitespace-token count
      // (H1=3, H2=3, paragraphs 120/120/60, table 5+5+8*5=50; total 359 >
      // limit+buffer) so the greedy assembly provably lands the same way
      // for every document: chunk0 = H1+SecA+p1+p2 flushed at 246 >= 224,
      // chunk1 = SecB+table+p3 (113) which the header-carry stage prefixes
      // with the carried `# Doc <id>` H1 (116 tokens). The oracle rebuilds
      // both chunk strings symbolically and pins index, count, token_len,
      // and sha256 — so the hierarchy parse, boundary descent, table block
      // handling, min-token filter, and header carry are all hash-checked.
      (s, d) => {
        import s.implicits._
        // 31 repetitions guarantee >= 305 words from the shortest (10-word)
        // corpus doc; slices use fixed word windows so chunk content is a
        // pure function of (doc_id, text) on both engines. Scale shapes:
        // the construction runs as ONE JVM UDF call per row (a Column
        // formulation — even under bindOnce — evaluates a several-hundred-
        // node expression tree inside an interpreted HOF lambda, measured
        // 3x slower), and the sort happens EARLY on the cheap scan — a
        // trailing orderBy's range-sampling pass would execute the whole
        // splitter flatMap twice. flatMap preserves partition-local order
        // and range partitions stay monotonic, so the final
        // sortWithinPartitions yields a total (doc_id, chunk_index) order
        // without a second shuffle or a sampling pass.
        val mkMd = udf { (id: Long, text: String) =>
          val base = text.trim.split("\\s+")
          val rep = Array.fill(31)(base).flatten
          val rows = (1 to 8).map(i => s"| r$i | ${rep(296 + i)} |").mkString("\n")
          s"# Doc $id\n\n## Section A\n\npA ${rep.slice(0, 119).mkString(" ")}" +
            s"\n\npB ${rep.slice(119, 238).mkString(" ")}" +
            s"\n\n## Section B\n\n| k | v |\n| --- | --- |\n$rows" +
            s"\n\npC ${rep.slice(238, 297).mkString(" ")}"
        }
        val md = mkMd(col("doc_id"), col("text"))
        val splitter = new graft.split.SemanticSplitter()
        val chunks = docs(s, d)
          .select(col("doc_id"), col("text"))
          // explicit numPartitions: AQE would coalesce this small shuffle
          // to ONE partition and run the expensive flatMap single-threaded
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), md.as("md"))
          .as[(Long, String)]
          .flatMap { case (id, m) =>
            splitter.splitDoc(graft.contracts.MarkdownDoc(
              m, "", "", Map("doc_id" -> id.toString)))
          }
        chunks.select(
            col("metadata").getItem("doc_id").cast("long").as("doc_id"),
            col("metadata").getItem("chunk_index").cast("long").as("chunk_index"),
            col("metadata").getItem("chunks_count").cast("long").as("chunks_count"),
            col("metadata").getItem("token_len").cast("long").as("token_len"),
            sha2(col("md"), 256).as("chunk_sha"))
          .sortWithinPartitions(col("doc_id"), col("chunk_index"))
      },
      Some("""WITH rep AS (SELECT doc_id,
        |  string_split_regex(trim(repeat(trim(text) || ' ', 31)), '\s+') AS w FROM documents),
        |p AS (SELECT doc_id,
        |  array_to_string(w[1:119], ' ') AS c1,
        |  array_to_string(w[120:238], ' ') AS c2,
        |  array_to_string(w[239:297], ' ') AS c3,
        |  '| r1 | ' || w[298] || ' |' || chr(10) || '| r2 | ' || w[299] || ' |' || chr(10) ||
        |  '| r3 | ' || w[300] || ' |' || chr(10) || '| r4 | ' || w[301] || ' |' || chr(10) ||
        |  '| r5 | ' || w[302] || ' |' || chr(10) || '| r6 | ' || w[303] || ' |' || chr(10) ||
        |  '| r7 | ' || w[304] || ' |' || chr(10) || '| r8 | ' || w[305] || ' |' AS trows
        |  FROM rep),
        |chunks AS (
        |  SELECT doc_id, 0 AS chunk_index,
        |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || '## Section A' ||
        |    chr(10) || chr(10) || 'pA ' || c1 || chr(10) || chr(10) || 'pB ' || c2 AS md,
        |    246 AS token_len FROM p
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || '## Section B' ||
        |    chr(10) || chr(10) || '| k | v |' || chr(10) || '| --- | --- |' || chr(10) ||
        |    trows || chr(10) || chr(10) || 'pC ' || c3,
        |    116 FROM p)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
        |CAST(2 AS BIGINT) AS chunks_count, CAST(token_len AS BIGINT) AS token_len,
        |sha256(md) AS chunk_sha
        |FROM chunks ORDER BY doc_id, chunk_index""".stripMargin)),

    QueryDef("q55_sentence_chunks",
      // Sentence-leaf descent under oracle coverage: a 40-sentence
      // paragraph (each sentence exactly 9 corpus words + the safe
      // terminator word 'end.', 10 whitespace tokens) exceeds the window,
      // so the splitter with sentenceLeaves=true accumulates sentences
      // until the [224, 288] emit window: 23 sentences (230 tokens) flush,
      // the remaining 17 (170) spill to a second chunk — same landing for
      // every doc by construction. The oracle rebuilds both sentence
      // groups joined by \n and pins index/count/token_len/sha256,
      // hash-checking the sentence split, the abbreviation merge-back's
      // non-interference, and the accumulation windows.
      (s, d) => {
        import s.implicits._
        // one JVM UDF call per row — see q54's scale-shape note
        val mkMd = udf { (text: String) =>
          val base = text.trim.split("\\s+")
          val rep = Array.fill(36)(base).flatten
          (1 to 40).map(i => rep.slice((i - 1) * 9, i * 9).mkString(" ") + " end.")
            .mkString(" ")
        }
        val md = mkMd(col("text"))
        val splitter = new graft.split.SemanticSplitter(sentenceLeaves = true)
        val chunks = docs(s, d)
          .select(col("doc_id"), col("text"))
          // explicit numPartitions: AQE would coalesce this small shuffle
          // to ONE partition and run the expensive flatMap single-threaded
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), md.as("md"))
          .as[(Long, String)]
          .flatMap { case (id, m) =>
            splitter.splitDoc(graft.contracts.MarkdownDoc(
              m, "", "", Map("doc_id" -> id.toString)))
          }
        chunks.select(
            col("metadata").getItem("doc_id").cast("long").as("doc_id"),
            col("metadata").getItem("chunk_index").cast("long").as("chunk_index"),
            col("metadata").getItem("chunks_count").cast("long").as("chunks_count"),
            col("metadata").getItem("token_len").cast("long").as("token_len"),
            sha2(col("md"), 256).as("chunk_sha"))
          .sortWithinPartitions(col("doc_id"), col("chunk_index"))
      },
      Some {
        def sent(i: Int) = s"array_to_string(w[${(i - 1) * 9 + 1}:${i * 9}], ' ') || ' end.'"
        val g1 = (1 to 23).map(sent).mkString(" || chr(10) || ")
        val g2 = (24 to 40).map(sent).mkString(" || chr(10) || ")
        "WITH rep AS (SELECT doc_id, " +
          "string_split_regex(trim(repeat(trim(text) || ' ', 36)), '\\s+') AS w FROM documents), " +
          "chunks AS (" +
          s"SELECT doc_id, 0 AS chunk_index, $g1 AS md, 230 AS token_len FROM rep " +
          "UNION ALL " +
          s"SELECT doc_id, 1, $g2, 170 FROM rep) " +
          "SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index, " +
          "CAST(2 AS BIGINT) AS chunks_count, CAST(token_len AS BIGINT) AS token_len, " +
          "sha256(md) AS chunk_sha FROM chunks ORDER BY doc_id, chunk_index"
      }),

    QueryDef("q66_nested_chunks",
      // The round-4 nested-descent paths under oracle coverage (round-4
      // verdict top ask): each corpus row synthesizes a doc whose list
      // nests 3 deep AND whose blockquote wraps a single oversized list,
      // so BOTH descendList (recursive shallowest-indent split: whole
      // list 412 tok > 288 splits at indent 0; the A1 subtree 352 splits
      // at indent 2; the B1 subtree 311 at indent 4) and the fixed
      // descendQuote single-inner-block route (quote 372 -> strip
      // markers -> one ListBlock 360 -> splitSection item descent +
      // greedy re-pack to 240/120) are exercised on every row. Fixed
      // whitespace-token widths (H1=3; A1/B1 intro 11; ten C items,
      // B2 30 each; A2 60; twelve quote items 30 each) make the greedy
      // assembly land identically per doc: chunk0 = H1+A1+B1+C1..C7
      // flushed at 235 >= 224; chunk1 = C8..C10+B2+A2 (180) flushed when
      // the 240-token quote pack q1 can't join; chunk2 = q1; chunk3 = q2
      // (120); header carry prefixes `# Doc <id>` (3 tok) onto chunks
      // 1-3. The oracle rebuilds all four strings symbolically and pins
      // index/count/token_len/sha256 — item-boundary integrity, marker
      // stripping, re-pack windows, and header carry are all hash-checked.
      (s, d) => {
        import s.implicits._
        // one JVM UDF call per row — see q54's scale-shape note
        val mkMd = udf((id: Long, text: String) => nestedDoc(id, text))
        val md = mkMd(col("doc_id"), col("text"))
        val splitter = new graft.split.SemanticSplitter()
        val chunks = docs(s, d)
          .select(col("doc_id"), col("text"))
          // explicit numPartitions: AQE would coalesce this small shuffle
          // to ONE partition and run the expensive flatMap single-threaded
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), md.as("md"))
          .as[(Long, String)]
          .flatMap { case (id, m) =>
            splitter.splitDoc(graft.contracts.MarkdownDoc(
              m, "", "", Map("doc_id" -> id.toString)))
          }
        chunks.select(
            col("metadata").getItem("doc_id").cast("long").as("doc_id"),
            col("metadata").getItem("chunk_index").cast("long").as("chunk_index"),
            col("metadata").getItem("chunks_count").cast("long").as("chunks_count"),
            col("metadata").getItem("token_len").cast("long").as("token_len"),
            sha2(col("md"), 256).as("chunk_sha"))
          .sortWithinPartitions(col("doc_id"), col("chunk_index"))
      },
      Some {
        val nn = " || chr(10) || chr(10) || "
        // 1-indexed inclusive DuckDB slices mirroring the Scala 0-indexed
        // exclusive ones above
        def c(j: Int) = s"'    - ' || array_to_string(w[${21 + 29 * j}:${49 + 29 * j}], ' ')"
        def qa(j: Int) = s"'- ' || array_to_string(w[${399 + 29 * j}:${427 + 29 * j}], ' ')"
        val h = "'# Doc ' || CAST(doc_id AS VARCHAR)"
        val a1 = "'- ' || array_to_string(w[1:10], ' ')"
        val b1 = "'  - ' || array_to_string(w[11:20], ' ')"
        val b2 = "'  - ' || array_to_string(w[311:339], ' ')"
        val a2 = "'- ' || array_to_string(w[340:398], ' ')"
        val chunk0 = (Seq(h, a1, b1) ++ (0 to 6).map(c)).mkString(nn)
        val chunk1 = (Seq(h) ++ (7 to 9).map(c) ++ Seq(b2, a2)).mkString(nn)
        val chunk2 = (Seq(h) ++ (0 to 7).map(qa)).mkString(nn)
        val chunk3 = (Seq(h) ++ (8 to 11).map(qa)).mkString(nn)
        "WITH rep AS (SELECT doc_id, " +
          "string_split_regex(trim(repeat(trim(text) || ' ', 75)), '\\s+') AS w FROM documents), " +
          "chunks AS (" +
          s"SELECT doc_id, 0 AS chunk_index, $chunk0 AS md, 235 AS token_len FROM rep " +
          s"UNION ALL SELECT doc_id, 1, $chunk1, 183 FROM rep " +
          s"UNION ALL SELECT doc_id, 2, $chunk2, 243 FROM rep " +
          s"UNION ALL SELECT doc_id, 3, $chunk3, 123 FROM rep) " +
          "SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index, " +
          "CAST(4 AS BIGINT) AS chunks_count, CAST(token_len AS BIGINT) AS token_len, " +
          "sha256(md) AS chunk_sha FROM chunks ORDER BY doc_id, chunk_index"
      }),

    QueryDef("q68_regex_sentences",
      // The reference RegexSentenceSplitter port under oracle coverage:
      // each corpus row synthesizes a 6-sentence text planting every
      // merge-back family — "Dr." (abbreviation), "3.14" (decimal, and
      // no split mid-number), "A. B." (initials, two merges), "No. 42"
      // (ordinal), "Wait..." (ellipsis; corpus words are lowercase so the
      // capital-start lookahead blocks the split — and if a word ever is
      // capitalized, the ellipsis merge-back rejoins to the same string,
      // so the outcome is invariant either way). Corpus words appear only
      // in boundary-neutral positions (never adjacent to a terminator);
      // fixed capitalized starters follow every real boundary, so the
      // split lands identically per doc and DuckDB rebuilds all six
      // sentences symbolically. Like q54/q66, relies on the corpus
      // contract of >= 10 words per doc (w[6] always exists).
      // Scale shape: range-partition the CHEAP
      // scan first, then UDF + posexplode run once per row and the final
      // sortWithinPartitions yields a total order without a sampling pass
      // re-executing the splitter (q54's lesson).
      (s, d) => {
        val md = concat(
          lit("Dr. Primus saw "), element_at(col("w"), 1),
          lit(" and "), element_at(col("w"), 2),
          lit(" finis. It was 3.14 by then finis. A. B. Carter met "),
          element_at(col("w"), 3),
          lit(" finis. No. 42 was "), element_at(col("w"), 4),
          lit(" finis. Wait... "), element_at(col("w"), 5),
          lit(" came finis. Ultima "), element_at(col("w"), 6), lit(" finis."))
        docs(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
            posexplode(graft.functions.Sentences.referenceSentencesUdf(md))
              .as(Seq("sent_idx", "sent")))
          .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
            sha2(col("sent"), 256).as("sent_sha"))
          .sortWithinPartitions(col("doc_id"), col("sent_idx"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sents AS (
        |  SELECT doc_id, 0 AS sent_idx,
        |    'Dr. Primus saw ' || w[1] || ' and ' || w[2] || ' finis.' AS sent FROM w
        |  UNION ALL SELECT doc_id, 1, 'It was 3.14 by then finis.' FROM w
        |  UNION ALL SELECT doc_id, 2, 'A. B. Carter met ' || w[3] || ' finis.' FROM w
        |  UNION ALL SELECT doc_id, 3, 'No. 42 was ' || w[4] || ' finis.' FROM w
        |  UNION ALL SELECT doc_id, 4, 'Wait... ' || w[5] || ' came finis.' FROM w
        |  UNION ALL SELECT doc_id, 5, 'Ultima ' || w[6] || ' finis.' FROM w)
        |SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, sha256(sent) AS sent_sha
        |FROM sents ORDER BY doc_id, sent_idx""".stripMargin)),

    QueryDef("q69_group_topk",
      // The custom whole-operator stack under oracle coverage (§2.14 tier
      // (c): LogicalPlan + SparkStrategy + partial/final physical execs):
      // top-3 documents per language by (n_chars DESC, doc_id) through
      // GroupTopKExec's bounded heaps — map-side partial prunes each scan
      // partition to <= 3 rows per lang BEFORE the exchange, so the
      // shuffle moves O(k x groups x partitions), not the corpus. The
      // oracle is the sort-based window formulation of the same
      // semantics; ties are deterministic via the doc_id tiebreak.
      (s, d) => {
        val top = graft.plans.GroupTopK.topK(
          docs(s, d).select(col("lang"), col("doc_id"), col("n_chars")),
          Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc), 3)
        top.select(col("lang"), col("doc_id"), big(col("n_chars")).as("n_chars"))
          .orderBy(col("lang"), col("n_chars").desc, col("doc_id"))
      },
      Some("""SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT lang, doc_id, n_chars,
        |      row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 3 ORDER BY lang, n_chars DESC, doc_id""".stripMargin)),

    QueryDef("q56_multimodal_features",
      // Multimodal plumbing under oracle coverage: binary media columns are
      // synthesized from the corpus (bytes = UTF-8 text, modality cycles by
      // doc_id), then the REAL Multimodal.decode runs — mapPartitions with
      // batch-shaped decoder calls over an explicitly-parallelized input —
      // and the oracle recomputes the StubDecoder's md5-derived features
      // symbolically. What this hash-checks: the binary encode, the
      // batch-decode contract (1:1, order-preserving), the typed feature
      // schema incl. modality-dependent nullable fields, and the
      // deterministic feature math. A production codec replaces only the
      // MediaDecoder; this plumbing is what scales.
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, "image")
            .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
            .otherwise("video").as("modality"),
          encode(col("text"), "UTF-8").as("bytes"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("media_id"))
        graft.operators.Multimodal.decode(media)
          .select(
            col("media_id"), col("modality"), col("byte_len"),
            col("width"), col("height"), col("duration_ms"),
            aggregate(
              transform(col("feature"), x => round(x.cast("double") * 1000.0).cast("long")),
              lit(0L), (a, x) => a + x).as("fsum"))
          .sortWithinPartitions(col("media_id"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS k,
        |  md5(substr(text, 1, 64) || '#mm') AS h,
        |  CAST(length(text) AS BIGINT) AS byte_len FROM documents)
        |SELECT media_id,
        |CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |byte_len,
        |CASE WHEN k = 0 THEN CAST(CAST(concat('0x', substr(h, 1, 4)) AS BIGINT) % 4096 AS INTEGER) END AS width,
        |CASE WHEN k = 0 THEN CAST(CAST(concat('0x', substr(h, 5, 4)) AS BIGINT) % 4096 AS INTEGER) END AS height,
        |CASE WHEN k <> 0 THEN CAST(CAST(concat('0x', substr(h, 9, 4)) AS BIGINT) % 600000 AS BIGINT) END AS duration_ms,
        |CAST(list_sum(list_transform([0, 2, 4, 6, 8, 10, 12, 14],
        |  i -> CAST(concat('0x', substr(h, i + 1, 4)) AS BIGINT) % 1000)) AS BIGINT) AS fsum
        |FROM m ORDER BY media_id""".stripMargin)),

    QueryDef("q57_frame_sampling",
      // Frame-sampling plumbing (every-nth fixed-stride slices of a video
      // byte stream via sequence+transform+posexplode — all codegen'd, no
      // UDF): synthesized video bytes from the corpus, md5 digest per
      // sampled frame. The byte slicing itself is what the oracle
      // hash-checks; a container-format parser replaces only the cut
      // points. floor(len/32) guarantees every sampled 16-byte frame is
      // full, so frame_len pins the slice bounds too.
      (s, d) => {
        val media = docs(s, d)
          .filter(pmod(col("doc_id"), lit(3)) === 2)
          .select(col("doc_id").as("media_id"), lit("video").as("modality"),
            encode(col("text"), "UTF-8").as("bytes"))
        graft.operators.Multimodal.sampleFrames(media, everyNth = 2, frameBytes = 16)
          .select(col("media_id"), col("frame_index").cast("long").as("frame_index"),
            md5(col("frame_bytes")).as("frame_md5"),
            length(col("frame_bytes")).cast("long").as("frame_len"))
          .orderBy(col("media_id"), col("frame_index"))
      },
      Some("""WITH v AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, unnest(range(0, CAST(floor(length(text) / 32.0) AS BIGINT))) AS i, text FROM v)
        |SELECT media_id, CAST(i AS BIGINT) AS frame_index,
        |md5(substr(text, CAST(i * 32 + 1 AS INTEGER), 16)) AS frame_md5,
        |CAST(16 AS BIGINT) AS frame_len
        |FROM f ORDER BY media_id, frame_index""".stripMargin)),

    QueryDef("q58_pipeline_compose",
      // The Step >> combinator under oracle coverage: DropDuplication (by
      // md) >> UrlFilter composed into ONE Catalyst plan over a
      // markdown-shaped projection of the corpus, with the pipeline's
      // history stamp on every row (runWithHistory). dropDuplicates keeps
      // an ARBITRARY duplicate, so every downstream-visible column is a
      // pure function of md (url = content hash) — duplicate-invariant and
      // therefore oracle-replicable regardless of which survivor wins.
      (s, d) => {
        val shaped = docs(s, d).select(
          col("text").as("md"),
          col("lang").as("keywords"),
          concat(lit("https://kb.local/doc-"), md5(col("text"))).as("url"))
        val p = graft.pipeline.DropDuplicationStep() >>
          graft.pipeline.UrlFilterStep("A1") // case-folded -> matches 'a1' in the hex
        p.runWithHistory(shaped)
          .select(sha2(col("md"), 256).as("md_sha"), col("url"), col("history"))
          .orderBy(col("url"))
      },
      Some("""WITH dd AS (SELECT DISTINCT text FROM documents),
        |u AS (SELECT text, 'https://kb.local/doc-' || md5(text) AS url FROM dd),
        |filt AS (SELECT * FROM u WHERE NOT contains(lower(url), 'a1'))
        |SELECT sha256(text) AS md_sha, url,
        |'DropDuplication-UrlFilter' AS history
        |FROM filt ORDER BY url""".stripMargin)),

    QueryDef("q59_html_to_md",
      // html->markdown conversion (F8-F10) under oracle coverage: HTML is
      // synthesized per corpus row (heading, paragraph with a link, a
      // 2-item list, bold tail), the REAL HtmlToMd.convert runs as a UDF,
      // and the oracle rebuilds the exact expected markdown string —
      // pinning heading/list/link/bold rendering and the converter's
      // block-separation rules byte-for-byte.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val html = concat(
          lit("<h1>"), col("source"), lit(" "), col("doc_id").cast("string"), lit("</h1>"),
          lit("<p>"), element_at(w, 1), lit(" "), element_at(w, 2),
          lit(" <a href=\"https://kb.local/"), col("doc_id").cast("string"),
          lit("\">doc link</a>.</p>"),
          lit("<ul><li>"), element_at(w, 3), lit("</li><li>"), element_at(w, 4),
          lit("</li></ul>"),
          lit("<p>End <b>"), element_at(w, 5), lit("</b>.</p>"))
        val conv = udf((h: String) => graft.functions.HtmlToMd.convert(h))
        spread(docs(s, d))
          .select(col("doc_id"), conv(html).as("md"))
          .select(col("doc_id"), sha2(col("md"), 256).as("md_sha"),
            length(col("md")).cast("long").as("md_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, source, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '# ' || source || ' ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  t[1] || ' ' || t[2] || ' [doc link](https://kb.local/' || CAST(doc_id AS VARCHAR) || ').' ||
        |  chr(10) || chr(10) || '- ' || t[3] || chr(10) || '- ' || t[4] || chr(10) ||
        |  'End **' || t[5] || '**.' AS md
        |  FROM w)
        |SELECT doc_id, sha256(md) AS md_sha, CAST(length(md) AS BIGINT) AS md_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q61_sentence_merge_back",
      // F7's abbreviation merge-back under oracle coverage: three sentences
      // are synthesized per doc with 'Nr.' and 'Dr.' planted MID-sentence —
      // a naive terminator split would yield five fragments; the
      // merge-back must rejoin exactly at the abbreviation points, giving
      // three. The oracle rebuilds the three expected sentences directly;
      // the digest breaks if the splitter either over-splits (no merge) or
      // under-splits (merge across real boundaries).
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val text = concat(
          lit("Alpha "), element_at(w, 1), lit(" Nr. "), element_at(w, 2), lit(" one. "),
          lit("Beta "), element_at(w, 3), lit(" three. "),
          lit("Gamma "), element_at(w, 4), lit(" Dr. "), element_at(w, 5), lit(" five."))
        val sentUdf = udf((t: String) => graft.functions.Sentences.split(t))
        docs(s, d)
          .select(col("doc_id"), sentUdf(text).as("sents"))
          .select(col("doc_id"),
            size(col("sents")).cast("long").as("n_sentences"),
            sha2(concat_ws("|", col("sents")), 256).as("sent_sha"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  ('Alpha ' || t[1] || ' Nr. ' || t[2] || ' one.') || '|' ||
        |  ('Beta ' || t[3] || ' three.') || '|' ||
        |  ('Gamma ' || t[4] || ' Dr. ' || t[5] || ' five.') AS joined
        |  FROM w)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_sentences, sha256(joined) AS sent_sha
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q62_md_to_plain",
      // F2's structural walk under oracle coverage: markdown synthesized
      // per corpus row exercises every rule at once — heading markers
      // dropped, link text kept (target masked upstream of the walk would
      // be wrong: the URL vanishes WITH the markup), image dropped
      // entirely, fence body verbatim, bold unwrapped, bare URL masked to
      // LINK. The oracle rebuilds the exact expected plain text.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("# Head "), element_at(w, 1),
          lit("\n\nSee [the "), element_at(w, 2), lit(" page](https://kb.local/"),
          col("doc_id").cast("string"), lit(") and ![pic](img.png) plus **"),
          element_at(w, 3), lit("** now.\n\n```\ncode "), element_at(w, 4),
          lit(" #keep |x|\n```\n\nTail https://ex.io/"), col("doc_id").cast("string"),
          lit(" end"))
        val plainUdf = udf((m: String) => graft.split.MarkdownText.toPlain(m))
        docs(s, d)
          .select(col("doc_id"), plainUdf(md).as("plain"))
          .select(col("doc_id"), sha2(col("plain"), 256).as("plain_sha"),
            length(col("plain")).cast("long").as("plain_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  'Head ' || t[1] || chr(10) ||
        |  'See the ' || t[2] || ' page and  plus ' || t[3] || ' now.' || chr(10) ||
        |  'code ' || t[4] || ' #keep |x|' || chr(10) ||
        |  'Tail LINK end' AS plain
        |  FROM w)
        |SELECT doc_id, sha256(plain) AS plain_sha, CAST(length(plain) AS BIGINT) AS plain_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q63_mdformat_lite",
      // F11's canonicalization math under oracle coverage: a deliberately
      // ragged 2x2 pipe table (cell widths vary per corpus row), messy
      // bullets, a blank-line run, a non-consecutively numbered ordered
      // list (R8: every item renders with the first item's number), and a
      // truncated link (R9: the dangling [ escapes). The oracle recomputes
      // the mdformat-tables column widths (max over header/delimiter/data
      // cell lengths, min 3) and rebuilds the padded table, dash-stretched
      // separator, '-' bullets, renumbered items, escaped bracket, and
      // collapsed blanks byte-for-byte.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("Intro "), element_at(w, 1),
          lit("\n\n\n|k|v|\n|---|---|\n|"), element_at(w, 2), lit("|"), element_at(w, 3),
          lit("|\n| "), element_at(w, 4), lit(" |"), element_at(w, 5),
          lit("|\n\n* item "), element_at(w, 6),
          lit("\n\n2. first "), element_at(w, 7),
          lit("\n5. second "), element_at(w, 8),
          lit("\n\nSee ["), element_at(w, 9))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |wd AS (SELECT doc_id, t,
        |  CAST(greatest(3, length(t[2]), length(t[4])) AS INTEGER) AS c1,
        |  CAST(greatest(3, length(t[3]), length(t[5])) AS INTEGER) AS c2 FROM w),
        |e AS (SELECT doc_id,
        |  'Intro ' || t[1] || chr(10) || chr(10) ||
        |  '| ' || rpad('k', c1, ' ') || ' | ' || rpad('v', c2, ' ') || ' |' || chr(10) ||
        |  '| ' || repeat('-', c1) || ' | ' || repeat('-', c2) || ' |' || chr(10) ||
        |  '| ' || rpad(t[2], c1, ' ') || ' | ' || rpad(t[3], c2, ' ') || ' |' || chr(10) ||
        |  '| ' || rpad(t[4], c1, ' ') || ' | ' || rpad(t[5], c2, ' ') || ' |' || chr(10) || chr(10) ||
        |  '- item ' || t[6] || chr(10) || chr(10) ||
        |  '2. first ' || t[7] || chr(10) ||
        |  '2. second ' || t[8] || chr(10) || chr(10) ||
        |  'See \\[' || t[9] AS canon
        |  FROM wd)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q118_mdformat_structure",
      // Round-11 structural canonicalization (F11) under oracle coverage:
      // setext headings convert to ATX ('=' underline -> h1, '-' -> h2),
      // thematic breaks ('* * *') render as mdformat's 70-underscore
      // line, NESTED ordered lists renumber per level with the nested
      // indent normalized to the parent marker's width (R8c: each level
      // takes ITS first number), and loose ')'-marker items across blank
      // lines renumber as one list (R8b). The oracle rebuilds the
      // canonical bytes symbolically, like q63.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          element_at(w, 1), lit("\n=====\n\n"),
          element_at(w, 2), lit("\n---\n\n* * *\n\npara "), element_at(w, 3),
          lit("\n\n1. a\n   5. b\n   7. c\n2. d\n\n3) x\n\n9) y"))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '# ' || t[1] || chr(10) || chr(10) ||
        |  '## ' || t[2] || chr(10) || chr(10) ||
        |  repeat('_', 70) || chr(10) || chr(10) ||
        |  'para ' || t[3] || chr(10) || chr(10) ||
        |  '1. a' || chr(10) || '   5. b' || chr(10) || '   5. c' || chr(10) || '1. d' || chr(10) || chr(10) ||
        |  '3) x' || chr(10) || chr(10) || '3) y' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q119_mdformat_inline",
      // Round-11 inline/text canonicalization (F11) under oracle
      // coverage: blockquote recursion (R15/R15b: one '>' + one space
      // per level, quoted content re-formatted — the nested quote
      // interrupts the quoted paragraph, so a bare '>' separator line
      // appears between them), unnecessary-escape DROPPING mid-line
      // (\, and \% decode; a line-start ordered-marker 1\. keeps its
      // escape), indented CODE passing through verbatim (no text-token
      // escapes inside), and a backslash hard line break preserved.
      // Symbolic byte rebuild, like q63/q118.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit(">quote "), element_at(w, 1), lit("\n>>deep\n\n"),
          lit("a\\, "), element_at(w, 2), lit(" 100\\% ok\n\n1\\. not list\n\n"),
          lit("    code ["), element_at(w, 3), lit("] *x*\n\nbrk\\\n"), element_at(w, 4))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '> quote ' || t[1] || chr(10) || '>' || chr(10) || '> > deep' || chr(10) || chr(10) ||
        |  'a, ' || t[2] || ' 100% ok' || chr(10) || chr(10) ||
        |  '1\\. not list' || chr(10) || chr(10) ||
        |  '    code [' || t[3] || '] *x*' || chr(10) || chr(10) ||
        |  'brk\\' || chr(10) || t[4] AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q120_mdformat_r12",
      // Round-12 canonicalization closures (F11) under oracle coverage:
      // a LAZY quote continuation joins the quoted paragraph and renders
      // WITH markers (R15c), an ordered item's indented continuation
      // line re-indents to the content column while the list renumbers
      // (R8d), a LAZY item continuation re-indents to the content column
      // (R8e), a bullet nested in an ordered item is structural and the
      // ordered list renumbers around it (R8f), a TAB item indent
      // measures as a 4-column stop and renders as spaces (R8g), a
      // closing-sequence-only ATX heading ('# #') renders as the bare
      // empty-heading marker, and a spaced '-' run after an open
      // paragraph — never a setext underline — interrupts as a thematic
      // break. Symbolic byte rebuild, like q63/q118/q119.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("> quote "), element_at(w, 1), lit("\nlazy "), element_at(w, 2),
          lit("\n\n2. first "), element_at(w, 3),
          lit("\n   cont "), element_at(w, 4),
          lit("\n5. second "), element_at(w, 5),
          lit("\n\n# #\n\nok\n- - -\n\nend "), element_at(w, 6),
          lit("\n\n1. x "), element_at(w, 7),
          lit("\n   - y "), element_at(w, 8),
          lit("\n9. z\nlzy\n\n4. p "), element_at(w, 9),
          lit("\n\t8. q"))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '> quote ' || t[1] || chr(10) || '> lazy ' || t[2] || chr(10) || chr(10) ||
        |  '2. first ' || t[3] || chr(10) || '   cont ' || t[4] || chr(10) ||
        |  '2. second ' || t[5] || chr(10) || chr(10) ||
        |  '#' || chr(10) || chr(10) ||
        |  'ok' || chr(10) || chr(10) ||
        |  repeat('_', 70) || chr(10) || chr(10) ||
        |  'end ' || t[6] || chr(10) || chr(10) ||
        |  '1. x ' || t[7] || chr(10) || '   - y ' || t[8] || chr(10) ||
        |  '1. z' || chr(10) || '   lzy' || chr(10) || chr(10) ||
        |  '1. p ' || t[9] || chr(10) || '   8. q' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q122_mdformat_r13",
      // Round-13 R8h closure (F11) under oracle coverage: FENCED CODE
      // nested in an ordered item carries through renumbering — the
      // fence renders at the item's content column, its bytes (an
      // item-shaped line, a blank line, bracket/emphasis hazards) stay
      // VERBATIM and escape-exempt, the list renumbers around it and
      // stays TIGHT — and a QUOTE line at the content column re-indents
      // there with the list renumbering past it (and a HEADING at the
      // content column normalizes in place); a quoted LIST inside
      // the ')' item re-formats RECURSIVELY (its own items take the
      // first number); a marker-type switch ('9)') still starts its own
      // list, as does the '4.' after it — whose fence is LOOSE (blank
      // line between item and fence: the scanner's run carry qualifies
      // it, and the blank is preserved). Symbolic byte rebuild, like
      // q63/q118/q119/q120.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("2. item "), element_at(w, 1),
          lit("\n   ```scala\n   3. "), element_at(w, 2),
          lit(" [x]\n\n   val y = "), element_at(w, 3),
          lit("\n   ```\n7. next "), element_at(w, 4),
          lit("\n   ## mid "), element_at(w, 2),
          lit("\n   > quoth "), element_at(w, 5),
          lit("\n9) other "), element_at(w, 6),
          lit("\n   > 5. uno "), element_at(w, 9),
          lit("\n   > 7. dos"),
          lit("\n\n4. loose "), element_at(w, 7),
          lit("\n\n   ```\n   tail "), element_at(w, 8),
          lit("\n   ```"))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '2. item ' || t[1] || chr(10) ||
        |  '   ```scala' || chr(10) ||
        |  '   3. ' || t[2] || ' [x]' || chr(10) || chr(10) ||
        |  '   val y = ' || t[3] || chr(10) ||
        |  '   ```' || chr(10) ||
        |  '2. next ' || t[4] || chr(10) ||
        |  '   ## mid ' || t[2] || chr(10) ||
        |  '   > quoth ' || t[5] || chr(10) ||
        |  '9) other ' || t[6] || chr(10) ||
        |  '   > 5. uno ' || t[9] || chr(10) ||
        |  '   > 5. dos' || chr(10) || chr(10) ||
        |  '4. loose ' || t[7] || chr(10) || chr(10) ||
        |  '   ```' || chr(10) ||
        |  '   tail ' || t[8] || chr(10) ||
        |  '   ```' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q123_mdformat_table_in_item",
      // Round-13 R8h table-in-item closure (F11) under oracle coverage:
      // a pipe table at an ordered item's content column re-renders IN
      // PLACE through the mdformat-tables math (cells trimmed, columns
      // padded to the widest cell with the delimiter row participating,
      // alignment colons preserved) at the content column — previously
      // the grouper hoisted it to column 0 and split the list — and the
      // list renumbers around it ('8.' takes the first item's '3.').
      // The oracle recomputes the widths and rebuilds the indented
      // bytes, like q63's top-level table leg.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("3. row "), element_at(w, 1),
          lit("\n   |k|"), element_at(w, 2),
          lit("|\n   |-|:-:|\n   |"), element_at(w, 3),
          lit("| v |\n8. end "), element_at(w, 4))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |wd AS (SELECT doc_id, t,
        |  CAST(greatest(3, length(t[3])) AS INTEGER) AS c1,
        |  CAST(greatest(3, length(t[2])) AS INTEGER) AS c2 FROM w),
        |e AS (SELECT doc_id,
        |  '3. row ' || t[1] || chr(10) ||
        |  '   | ' || rpad('k', c1, ' ') || ' | ' || rpad(t[2], c2, ' ') || ' |' || chr(10) ||
        |  '   | ' || repeat('-', c1) || ' | :' || repeat('-', c2 - 2) || ': |' || chr(10) ||
        |  '   | ' || rpad(t[3], c1, ' ') || ' | ' || rpad('v', c2, ' ') || ' |' || chr(10) ||
        |  '3. end ' || t[4] AS canon
        |  FROM wd)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q125_mdformat_setext_item",
      // Round-14 setext-in-item closure (F11) under oracle coverage: a
      // '-'/'=' underline at an item's content column JOINS the item's
      // open paragraph into an ATX heading (merged into the head line,
      // multi-line content joining with spaces — mdformat's reading of
      // an item-nested setext heading), renumbering carries through the
      // headed items, a marker-type switch (')') still starts its own
      // list, a dash run with NO open paragraph (a heading closed it)
      // renders as the item's 70-underscore thematic break, and the
      // whole run stays one tight list. Symbolic byte rebuild, like
      // q63/q118-q120/q122/q123.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("5. title "), element_at(w, 1),
          lit("\n   ---\n9. alpha "), element_at(w, 2),
          lit("\n   beta "), element_at(w, 3),
          lit("\n   ===\n2) block "), element_at(w, 4),
          lit("\n   # mid "), element_at(w, 5),
          lit("\n   ----\n7) tail "), element_at(w, 6))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '5. ## title ' || t[1] || chr(10) ||
        |  '5. # alpha ' || t[2] || ' beta ' || t[3] || chr(10) ||
        |  '2) block ' || t[4] || chr(10) ||
        |  '   # mid ' || t[5] || chr(10) ||
        |  '   ' || repeat('_', 70) || chr(10) ||
        |  '2) tail ' || t[6] AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q126_mdformat_loose_item",
      // Round-14 LOOSE-defer closure (F11) under oracle coverage: block
      // syntax separated from its list item by BLANK LINES — a '*'
      // thematic break, a setext paragraph ("beta\n---" -> "## beta"),
      // a heading, a quote group, and a pipe table, each opening its own
      // block inside a live loose run — renders at the item's content
      // column with the run renumbering THROUGH all of it ('9.' takes
      // '3.'); previously every one of these hoisted to a column-0
      // block and split the list. The table re-renders through the R6
      // math at the column (q123's width rules). Symbolic byte rebuild,
      // like q63/q118-q120/q122/q123/q125.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val md = concat(
          lit("3. alpha "), element_at(w, 1),
          lit("\n\n   ***\n\n   beta "), element_at(w, 2),
          lit("\n   ---\n\n   # mid "), element_at(w, 3),
          lit("\n\n   > quoth "), element_at(w, 4),
          lit("\n\n   |k|"), element_at(w, 5),
          lit("|\n   |-|:-:|\n   |"), element_at(w, 6),
          lit("| v |\n\n9. tail "), element_at(w, 7))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"), fmtUdf(md).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |wd AS (SELECT doc_id, t,
        |  CAST(greatest(3, length(t[6])) AS INTEGER) AS c1,
        |  CAST(greatest(3, length(t[5])) AS INTEGER) AS c2 FROM w),
        |e AS (SELECT doc_id,
        |  '3. alpha ' || t[1] || chr(10) || chr(10) ||
        |  '   ' || repeat('_', 70) || chr(10) || chr(10) ||
        |  '   ## beta ' || t[2] || chr(10) || chr(10) ||
        |  '   # mid ' || t[3] || chr(10) || chr(10) ||
        |  '   > quoth ' || t[4] || chr(10) || chr(10) ||
        |  '   | ' || rpad('k', c1, ' ') || ' | ' || rpad(t[5], c2, ' ') || ' |' || chr(10) ||
        |  '   | ' || repeat('-', c1) || ' | :' || repeat('-', c2 - 2) || ': |' || chr(10) ||
        |  '   | ' || rpad(t[6], c1, ' ') || ' | ' || rpad('v', c2, ' ') || ' |' || chr(10) || chr(10) ||
        |  '3. tail ' || t[7] AS canon
        |  FROM wd)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q127_mdformat_wrap",
      // Late-r14 --wrap extension (F11) under oracle coverage, four
      // legs: (A) `--wrap no` joins paragraph lines — including a QUOTE
      // with a lazy continuation (the container recursion re-fills the
      // inner document) and a simple LIST (each item's words join after
      // the marker, wrapListBlock) — a join that is fully symbolic in
      // SQL because single-space joining is length-independent; (B)
      // `--wrap 10` greedily re-fills fixed text — the paragraph at 10
      // columns, quote content at 10-2 (marker width), item content at
      // 10-3 (content column), mdformat's indent accounting; (C)
      // `--wrap no` through an ITEM-NESTED quote (flushQuotes threads
      // the mode), symbolic; (D) `--wrap 12` on an item-nested quote —
      // content fills at 12-(3+2), the cumulative indent. Hash compare
      // like q63/q118-q126.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val mdA = concat(
          lit("a "), element_at(w, 1), lit("\nb "), element_at(w, 2),
          lit("\n\n> q "), element_at(w, 3),
          lit("\nlazy\n\n1. i "), element_at(w, 4), lit("\n   cont\n2. z"))
        val mdB = lit("eins zwei drei vier\n\n> fuenf sechs sieben acht" +
          "\n\n1. neun zehn elf zwoelf")
        val mdC = concat(lit("1. i "), element_at(w, 5),
          lit("\n   > p q\n   > r\n2. z"))
        val mdD = lit("1. neun\n   > aaa bbb ccc\n2. s")
        val fmtUdf = udf((m: String, mode: String) => {
          val wr = mode match {
            case "no" => graft.split.MdFormatLite.Wrap.No
            case n    => graft.split.MdFormatLite.Wrap.Width(n.toInt)
          }
          graft.split.MdFormatLite.normalize(m, wr)
        })
        spread(docs(s, d))
          .select(col("doc_id"),
            concat(fmtUdf(mdA, lit("no")), lit("\n====\n"),
              fmtUdf(mdB, lit("10")), lit("\n====\n"),
              fmtUdf(mdC, lit("no")), lit("\n====\n"),
              fmtUdf(mdD, lit("12"))).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  'a ' || t[1] || ' b ' || t[2] || chr(10) || chr(10) ||
        |  '> q ' || t[3] || ' lazy' || chr(10) || chr(10) ||
        |  '1. i ' || t[4] || ' cont' || chr(10) || '1. z' || chr(10) ||
        |  '====' || chr(10) ||
        |  'eins zwei' || chr(10) || 'drei vier' || chr(10) || chr(10) ||
        |  '> fuenf' || chr(10) || '> sechs' || chr(10) || '> sieben' || chr(10) || '> acht' || chr(10) || chr(10) ||
        |  '1. neun' || chr(10) || '   zehn' || chr(10) || '   elf' || chr(10) || '   zwoelf' || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. i ' || t[5] || chr(10) || '   > p q r' || chr(10) || '1. z' || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. neun' || chr(10) || '   > aaa bbb' || chr(10) || '   > ccc' || chr(10) || '1. s' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q128_mdformat_quote_count",
      // Late-r14 lifted 1:1 quote-group gate (F11) under oracle
      // coverage: item-nested quote groups whose inner re-format
      // CHANGES the line count — (A) a quoted setext joins to ATX,
      // shrinking the group 2 -> 1; (B) an inner blank run collapses to
      // one bare ">"; (C) a paragraph followed by a nested quote gains
      // the separating blank mdformat inserts, rendered as ">" — each
      // with the run renumbering through the quote. Previously all
      // three fell back to per-line recursion (A kept 2 lines, B kept
      // both blanks, C stayed blank-less). Symbolic byte rebuild.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val mdA = concat(lit("1. a "), element_at(w, 1),
          lit("\n   > t "), element_at(w, 2),
          lit("\n   > ===\n2. b "), element_at(w, 3))
        val mdB = concat(lit("1. q "), element_at(w, 4),
          lit("\n   > p\n   >\n   >\n   > r "), element_at(w, 5), lit("\n2. s"))
        val mdC = concat(lit("1. h "), element_at(w, 6),
          lit("\n   > x [y]\n   > > d\n2. e"))
        val fmtUdf = udf((m: String) => graft.split.MdFormatLite.normalize(m))
        spread(docs(s, d))
          .select(col("doc_id"),
            concat(fmtUdf(mdA), lit("\n====\n"), fmtUdf(mdB),
              lit("\n====\n"), fmtUdf(mdC)).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '1. a ' || t[1] || chr(10) || '   > # t ' || t[2] || chr(10) || '1. b ' || t[3] || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. q ' || t[4] || chr(10) || '   > p' || chr(10) || '   >' || chr(10) || '   > r ' || t[5] || chr(10) || '1. s' || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. h ' || t[6] || chr(10) || '   > x \\[y\\]' || chr(10) || '   >' || chr(10) || '   > > d' || chr(10) || '1. e' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q131_mdformat_wrap2",
      // r15 wrap/loose extensions (F11) under oracle coverage, seven
      // legs: (A) `no` joins a BULLET's 2-column loose continuation
      // block (the generalized wrapIndentedParagraph; symbolic — joins
      // are length-independent); (B) `12` re-fills that 2-column block
      // (fill width 12-2); (C) `12` fills NESTED levels — the outer
      // ordered item at 12-3 and the nested bullet at its own 12-5
      // column (wrapListBlock's level stack); (D) `12` fills a
      // WIDE-MARKER 4-column loose continuation (previously an
      // indented-code claim broke the run; now it attaches, fills at
      // 12-4, and the trailing item renumbers); (E) `no` keeps a
      // block-shaped item rest ("# h") verbatim and joins the following
      // continuation as its OWN paragraph unit (never merged into the
      // heading); (F) keep-mode LAZY '=' absorption — the underline
      // cannot be lazy, so it renders as escaped paragraph text at the
      // content column; (G) keep-mode 2-column loose setext inside a
      // bullet item joins to the item's ATX heading instead of hoisting
      // to column 0. Hash compare like q63/q118-q128.
      (s, d) => {
        val w = split(col("text"), "\\s+")
        val mdA = concat(lit("- a "), element_at(w, 1),
          lit("\n\n  cc dd\n  ee\n\n- b"))
        val mdB = lit("- aa\n\n  ff gg hh ii jj kk\n\n- bb")
        val mdC = lit("1. aa bb cc dd ee ff\n   - gg hh ii jj kk ll mm nn")
        val mdD = lit("10. aa\n\n    ff gg hh ii jj\n\n12. b")
        val mdE = concat(lit("1. # h\n   cont more\n   words "),
          element_at(w, 2), lit("\n2. z"))
        val mdF = lit("2. lazy one\n===")
        val mdG = lit("- a\n\n  p\n  ===\n- b")
        val fmtUdf = udf((m: String, mode: String) => {
          val wr = mode match {
            case "keep" => graft.split.MdFormatLite.Wrap.Keep
            case "no"   => graft.split.MdFormatLite.Wrap.No
            case n      => graft.split.MdFormatLite.Wrap.Width(n.toInt)
          }
          graft.split.MdFormatLite.normalize(m, wr)
        })
        spread(docs(s, d))
          .select(col("doc_id"),
            concat(fmtUdf(mdA, lit("no")), lit("\n====\n"),
              fmtUdf(mdB, lit("12")), lit("\n====\n"),
              fmtUdf(mdC, lit("12")), lit("\n====\n"),
              fmtUdf(mdD, lit("12")), lit("\n====\n"),
              fmtUdf(mdE, lit("no")), lit("\n====\n"),
              fmtUdf(mdF, lit("keep")), lit("\n====\n"),
              fmtUdf(mdG, lit("keep"))).as("canon"))
          .select(col("doc_id"), sha2(col("canon"), 256).as("canon_sha"),
            length(col("canon")).cast("long").as("canon_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $W AS t FROM documents),
        |e AS (SELECT doc_id,
        |  '- a ' || t[1] || chr(10) || chr(10) || '  cc dd ee' || chr(10) || chr(10) || '- b' || chr(10) ||
        |  '====' || chr(10) ||
        |  '- aa' || chr(10) || chr(10) || '  ff gg hh' || chr(10) || '  ii jj kk' || chr(10) || chr(10) || '- bb' || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. aa bb cc' || chr(10) || '   dd ee ff' || chr(10) || '   - gg hh' || chr(10) || '     ii jj' || chr(10) || '     kk ll' || chr(10) || '     mm nn' || chr(10) ||
        |  '====' || chr(10) ||
        |  '10. aa' || chr(10) || chr(10) || '    ff gg hh' || chr(10) || '    ii jj' || chr(10) || chr(10) || '10. b' || chr(10) ||
        |  '====' || chr(10) ||
        |  '1. # h' || chr(10) || '   cont more words ' || t[2] || chr(10) || '1. z' || chr(10) ||
        |  '====' || chr(10) ||
        |  '2. lazy one' || chr(10) || '   \\===' || chr(10) ||
        |  '====' || chr(10) ||
        |  '- a' || chr(10) || chr(10) || '  # p' || chr(10) || '- b' AS canon
        |  FROM w)
        |SELECT doc_id, sha256(canon) AS canon_sha, CAST(length(canon) AS BIGINT) AS canon_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("q65_minhash_union",
      // The typed UDAF (Aggregator via udaf, §2.14) under oracle coverage:
      // per-source MinHash union — elementwise min of the per-doc
      // signatures equals the signature of the union of the shingle sets
      // (min commutes with set union), composed map-side. The oracle
      // recomputes the per-doc signatures (q32's formulation) and takes
      // per-index group minima.
      (s, d) => {
        val sigs = Dedup.withMinhash(docs(s, d), "text", 12, 4)
          .select(col("source"), col("minhash"))
        val union = org.apache.spark.sql.functions.udaf(
          new graft.functions.MinhashUnionAgg(12))
        sigs.groupBy(col("source"))
          .agg(union(col("minhash")).as("sig"))
          .select(col("source"),
            element_at(col("sig"), 1).as("u0"),
            element_at(col("sig"), 7).as("u6"),
            element_at(col("sig"), 12).as("u11"),
            aggregate(col("sig"), lit(0L), (a, x) => a + x).as("usum"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, $W AS w FROM documents),
        |sh AS (SELECT doc_id, source, CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
        |  ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s FROM tk),
        |hs AS (SELECT doc_id, source, list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)) AS hv FROM sh),
        |mh AS (SELECT doc_id, source, list_transform(range(0, 12), j ->
        |  coalesce(list_min(list_transform(hv, h -> ((31*j + 97) * h + 907*j + 13) % 1000000007)), 9223372036854775807)) AS m
        |  FROM hs),
        |flat AS (SELECT source, j, min(m[j + 1]) AS mn
        |  FROM mh, (SELECT unnest(range(0, 12)) AS j) g GROUP BY source, j),
        |u AS (SELECT source,
        |  min(CASE WHEN j = 0 THEN mn END) AS u0,
        |  min(CASE WHEN j = 6 THEN mn END) AS u6,
        |  min(CASE WHEN j = 11 THEN mn END) AS u11,
        |  CAST(SUM(mn) AS BIGINT) AS usum
        |  FROM flat GROUP BY source)
        |SELECT source, u0, u6, u11, usum FROM u ORDER BY source""".stripMargin)),

    QueryDef("q72_dup_clusters",
      // Near-dup RESOLUTION: the q33 pair set -> connected components
      // (alternating large-star/small-star rounds) -> min-id canonical per
      // cluster. The oracle rebuilds the identical pair set (shared CTE
      // chain) and labels components with a transitive-closure recursive
      // CTE — tractable at oracle scale, while the Spark side runs the
      // O(log n)-round distributed algorithm a 100 TB pair graph needs.
      (s, d) => Dedup.resolveClusters(docs(s, d), "doc_id",
          Dedup.minhashPairs(spread(docs(s, d)), "doc_id", "text", 12, 4, 0.6))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $minhashPairCtes,
        |filt AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.6),
        |ed AS (SELECT id_a AS u, id_b AS v FROM filt UNION SELECT id_b, id_a FROM filt),
        |reach AS (SELECT u, v FROM ed
        |  UNION SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u WHERE e.v <> r.u),
        |lbl AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id FROM reach GROUP BY u)
        |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
        |  coalesce(l.cluster_id, d.doc_id) <> d.doc_id AS is_duplicate
        |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("q73_repetition",
      // Gopher/MassiveText repetition filters (Rae et al. 2021, appendix A)
      // — the quality gate between dedup and training: duplicate-word
      // fraction, most-frequent-2-gram character fraction, duplicate-5-gram
      // character fraction. All per-row map-side arithmetic (one UDF token
      // pass + array built-ins), zero shuffles before the final sort; the
      // fractions divide the same exact integers on both engines.
      (s, d) => {
        import graft.functions.Kernels
        val t = tokens(col("text"))
        spread(docs(s, d))
          .withColumn("__t", t)
          .withColumn("__rs", Kernels.repStatsUdf(2, 5)(col("text")))
          .select(
            col("doc_id"),
            big(size(col("__t"))).as("n_words"),
            big(size(array_distinct(col("__t")))).as("n_distinct_words"),
            (lit(1.0) - size(array_distinct(col("__t"))).cast("double")
              / size(col("__t")).cast("double")).as("dup_word_frac"),
            col("__rs._1").as("top_2gram"),
            ((col("__rs._2") * length(col("__rs._1"))).cast("double")
              / length(col("text")).cast("double")).as("top2_char_frac"),
            least(lit(1.0), col("__rs._3").cast("double")
              / length(col("text")).cast("double")).as("dup5_char_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $W AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram FROM tk),
        |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram),
        |top2 AS (SELECT doc_id, gram, cnt FROM (SELECT doc_id, gram, cnt,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn FROM c2) WHERE rn = 1),
        |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3), i ->
        |  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS gram FROM tk),
        |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram),
        |d5 AS (SELECT doc_id, CAST(coalesce(SUM(CASE WHEN cnt > 1 THEN cnt * len(gram) END), 0) AS BIGINT) AS dup_chars FROM c5 GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
        |  top2.gram AS top_2gram,
        |  CAST(top2.cnt * len(top2.gram) AS DOUBLE) / CAST(len(t.text) AS DOUBLE) AS top2_char_frac,
        |  least(1.0, CAST(coalesce(d5.dup_chars, 0) AS DOUBLE) / CAST(len(t.text) AS DOUBLE)) AS dup5_char_frac
        |FROM tk t JOIN top2 ON t.doc_id = top2.doc_id LEFT JOIN d5 ON t.doc_id = d5.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    QueryDef("q74_sample_hash",
      // Deterministic Bernoulli-by-hash sampling (Sampling.byHash): a pure
      // map-side filter on hash60(doc_id) % 10000 — selection is a function
      // of row identity alone, so reruns/rescales/appends never flip a
      // decision, unlike rand()/TABLESAMPLE. 20% rate here.
      (s, d) => Sampling.byHash(docs(s, d), "doc_id", 2000)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT) % 10000 < 2000
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q75_sample_stratified",
      // Exact k-per-stratum sampling (Sampling.perGroup): the 20 smallest
      // hash ranks per lang via the GroupTopKExec bounded-heap operator —
      // one shuffle on the stratum key, O(k) heap per group, no full sort.
      (s, d) => Sampling.perGroup(docs(s, d), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin)),

    QueryDef("q76_decontaminate",
      // Benchmark decontamination (Decontaminate.flag): every corpus doc
      // sharing >= 1 distinct word 8-gram with the "benchmark" slice
      // (doc_id % 53 = 0 stands in for an eval suite) is flagged. The
      // benchmark gram set is hashed, deduped, and broadcast, so the corpus
      // side joins map-side and only contaminated grams reach the count
      // shuffle. The oracle joins on the gram STRINGS — identical modulo
      // 2^-60 hash-collision odds, same documented bound as the LSH bands.
      (s, d) => {
        val corpus = spread(docs(s, d))
        val bench = corpus.filter(col("doc_id") % 53 === 0)
        graft.operators.Decontaminate.flag(corpus, bench, "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) < 8 THEN CAST([] AS VARCHAR[])
        |  ELSE list_distinct(list_transform(range(1, len(w) - 6), i ->
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) END AS s FROM tk),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 53 = 0),
        |cg AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |ov AS (SELECT cg.doc_id, count(*) AS overlap_grams FROM cg JOIN bench USING (g) GROUP BY cg.doc_id)
        |SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_grams,
        |  CAST(coalesce(ov.overlap_grams, 0) AS BIGINT) AS overlap_grams,
        |  coalesce(ov.overlap_grams, 0) >= 1 AS contaminated
        |FROM sh LEFT JOIN ov ON sh.doc_id = ov.doc_id
        |ORDER BY sh.doc_id""".stripMargin)),

    QueryDef("q77_pii_mask",
      // PII redaction (text.maskPii): email -> IPv4 -> phone regex chain,
      // all codegen'd regexp_replace in the RE2-compatible subset so DuckDB
      // applies the byte-identical patterns. The synthesized planted PII is
      // unambiguous by construction (phone digits lpad'd to 5) so both
      // engines' leftmost-match semantics agree trivially.
      (s, d) => {
        val synth = concat(
          lit("reach "), col("source"), lit("."), col("doc_id"),
          lit("@corp.example.com or +49-170-"),
          lpad(col("doc_id").cast("string"), 5, "0"),
          lit(" node 10.0."), pmod(col("doc_id"), lit(256)), lit(".17 "),
          substring(col("text"), 1, 40))
        docs(s, d)
          .select(col("doc_id"), maskPii(synth).as("masked"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(
        |  'reach ' || source || '.' || CAST(doc_id AS VARCHAR) || '@corp.example.com or +49-170-'
        |    || lpad(CAST(doc_id AS VARCHAR), 5, '0') || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17 '
        |    || substr(text, 1, 40),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\+\d{1,3}[ -]?\d{2,4}[ -]?\d{3,8}', '<PHONE>', 'g') AS masked
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q78_line_dedup",
      // Line-level boilerplate strip (Dedup.stripHotLines): lines verbatim
      // in > 40 distinct docs vanish from every doc, position order kept.
      // The synthesized corpus plants a global footer (500 docs), a
      // per-source nav line (~100 docs each), and a per-doc unique line;
      // with maxDocs=40 the first two strip and the unique lines plus the
      // body text survive. The hot census runs on 8-byte line hashes; the
      // oracle's census joins the line strings — identical modulo the
      // documented 2^-60 collision odds.
      (s, d) => {
        val synth = concat_ws("\n",
          lit("(c) corpus footer - all rights reserved"),
          concat(lit("nav: home / "), col("source")),
          concat(lit("uniq "), col("doc_id")),
          lit(""),
          substring(col("text"), 1, 60))
        val base = docs(s, d).select(col("doc_id"), synth.as("body"))
        Dedup.stripHotLines(base, "doc_id", "body", maxDocs = 40)
          .select(col("doc_id"), sha2(col("body"), 256).as("body_sha"),
            big(size(split(col("body"), "\n"))).as("n_lines"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id,
        |  '(c) corpus footer - all rights reserved' || chr(10) ||
        |  'nav: home / ' || source || chr(10) ||
        |  'uniq ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
        |  substr(text, 1, 60) AS body FROM documents),
        |sp AS (SELECT doc_id, string_split(body, chr(10)) AS ln FROM m),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(ln) + 1),
        |  i -> {'pos': i, 'line': ln[i]})) AS s FROM sp),
        |lf AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM l),
        |hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM lf WHERE line <> '')
        |  GROUP BY line HAVING count(*) > 40),
        |kept AS (SELECT doc_id, pos, line FROM lf WHERE line NOT IN (SELECT line FROM hot)),
        |rb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS body FROM kept GROUP BY doc_id)
        |SELECT m.doc_id, sha256(coalesce(rb.body, '')) AS body_sha,
        |  CAST(len(string_split(coalesce(rb.body, ''), chr(10))) AS BIGINT) AS n_lines
        |FROM m LEFT JOIN rb ON m.doc_id = rb.doc_id
        |ORDER BY m.doc_id""".stripMargin)),

    QueryDef("q79_sequence_packing",
      // Greedy sequence packing (Packing.greedy): docs hash-shard into 8
      // shards, order by (hash, id) within each, and fill 256-token packs
      // greedily — one groupByKey shuffle with a secondary sort streaming
      // an O(1)-state accumulator (flatMapSortedGroups), the Spark idiom
      // for sequential per-group logic a window cumsum can't express. The
      // oracle replays the identical greedy recurrence as a recursive CTE
      // chained on the per-shard row_number.
      (s, d) => graft.operators.Packing.greedy(docs(s, d), "doc_id", "text",
          budget = 256, shards = 8)
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE tk AS (SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS tok,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#pack'), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |o AS (SELECT doc_id, tok, h, h % 8 AS shard,
        |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn FROM tk),
        |g AS (
        |  SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack,
        |    CAST(tok AS BIGINT) AS acc, CAST(0 AS BIGINT) AS slot
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.tok,
        |    CASE WHEN g.acc + o.tok > 256 THEN g.pack + 1 ELSE g.pack END,
        |    CASE WHEN g.acc + o.tok > 256 THEN CAST(o.tok AS BIGINT) ELSE g.acc + o.tok END,
        |    CASE WHEN g.acc + o.tok > 256 THEN CAST(0 AS BIGINT) ELSE g.slot + 1 END
        |  FROM g JOIN o ON o.shard = g.shard AND o.rn = g.rn + 1)
        |SELECT doc_id, shard, pack, slot, CAST(tok AS BIGINT) AS tok
        |FROM g ORDER BY doc_id""".stripMargin)),

    QueryDef("q80_quality_gate",
      // Composite Gopher gate (QualityFilter.gopherGate): the first failing
      // rule (word_count -> mean_word_len -> alpha_ratio -> stopwords ->
      // dup_word_frac -> bullet_lines -> ellipsis_lines) names the drop
      // reason; keep = no rule failed. ONE kernel pass per row
      // (Kernels.gopherStats, all-integer outputs) + cheap threshold
      // arithmetic, zero shuffles before the output sort — both engines
      // divide the same exact integers so the comparisons agree.
      (s, d) => graft.operators.QualityFilter
        .gopherGate(docs(s, d), "doc_id", "text",
          graft.operators.QualityFilter.GopherConfig(minTokens = 30))
        .orderBy(col("doc_id")),
      Some(s"""WITH m AS (SELECT doc_id, text, $W AS w,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |x AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) AS mean_word_len,
        |  CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
        |  len(list_filter(w, t -> t IN ('the','a','and','of','to','in','is'))) AS n_stop,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_frac,
        |  CAST(len(list_filter(ln, l -> substr(l, 1, 2) IN ('- ', '* '))) AS DOUBLE) / len(ln) AS bullet_ratio,
        |  CAST(len(list_filter(ln, l -> ends_with(l, '...'))) AS DOUBLE) / len(ln) AS ellipsis_ratio
        |  FROM m),
        |r AS (SELECT doc_id, n_tokens,
        |  CASE WHEN NOT (n_tokens BETWEEN 30 AND 100000) THEN 'word_count'
        |       WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
        |       WHEN alpha_ratio < 0.8 THEN 'alpha_ratio'
        |       WHEN n_stop < 2 THEN 'stopwords'
        |       WHEN dup_frac > 0.3 THEN 'dup_word_frac'
        |       WHEN bullet_ratio > 0.9 THEN 'bullet_lines'
        |       WHEN ellipsis_ratio > 0.3 THEN 'ellipsis_lines'
        |       ELSE NULL END AS reason
        |  FROM x)
        |SELECT doc_id, n_tokens, reason IS NULL AS keep, reason
        |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef("q81_top_terms",
      // Corpus vocabulary profile: stopword-filtered term frequencies per
      // source, top 5 via the GroupTopKExec bounded-heap operator on a
      // REAL text aggregate (q69/q70 cover it on synthetic scores). Plan:
      // explode -> partial/final count on (source, term) -> partial heap
      // prune BEFORE the exchange -> final heap; the shuffle after the agg
      // moves O(k x groups x partitions), never the term list.
      (s, d) => {
        val stop = EnStop ++ DeStop ++ EsStop ++ FrStop
        val terms = docs(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("term"))
          .filter(!col("term").isin(stop: _*) && col("term") =!= "")
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("cnt"))
        graft.plans.GroupTopK.topK(terms,
            Seq("source"), Seq(col("cnt").desc, col("term").asc), 5)
          .select(col("source"), col("term"), col("cnt"))
          .orderBy(col("source"), col("cnt").desc, col("term"))
      },
      Some(s"""WITH t AS (SELECT source, unnest($W) AS term FROM documents),
        |f AS (SELECT source, term FROM t WHERE term <> '' AND term NOT IN (
        |  'the','a','and','of','to','in','is','der','die','das','und','ist','ein',
        |  'el','la','de','que','y','los','le','et','les','des','un')),
        |c AS (SELECT source, term, count(*) AS cnt FROM f GROUP BY source, term),
        |r AS (SELECT source, term, cnt,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rn FROM c)
        |SELECT source, term, cnt FROM r WHERE rn <= 5
        |ORDER BY source, cnt DESC, term""".stripMargin)),

    QueryDef("q82_mixture_sample",
      // Training-mixture reweighting (Sampling.byHashWeighted): per-language
      // sampling rates (en 80 %, de 50 %, es/fr 30 %, zh 10 %) as a CASE
      // column over the same nested hash buckets as q74 — a pure map-side
      // filter whose selection both engines reproduce exactly, and whose
      // en-rows are a superset of any lower-rate run's.
      (s, d) => {
        val rate = when(col("lang") === "en", 8000L)
          .when(col("lang") === "de", 5000L)
          .when(col("lang").isin("es", "fr"), 3000L)
          .otherwise(1000L)
        Sampling.byHashWeighted(docs(s, d), "doc_id", rate)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT) % 10000
        |  < CASE WHEN lang = 'en' THEN 8000 WHEN lang = 'de' THEN 5000
        |         WHEN lang IN ('es', 'fr') THEN 3000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q84_url_canonical",
      // URL canonicalization (text.canonicalizeUrl) — the prerequisite for
      // URL-level dedup of web crawls: lowercase scheme/host, default-port
      // and fragment strip, tracking-param drop, param sort, trailing-slash
      // strip. Every step is a deterministic regex/array op both engines
      // apply byte-identically; the synthesized URLs exercise each step.
      (s, d) => {
        val synth = concat(
          lit("HTTPS://CDN.Example.COM:443/docs/"), col("source"),
          lit("/"), col("doc_id"),
          lit("/?utm_campaign=x&ref="), col("lang"),
          lit("&utm_source=y#sec"), col("doc_id"))
        spread(docs(s, d))
          .select(col("doc_id"), canonicalizeUrl(synth).as("canon"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
        |  'HTTPS://CDN.Example.COM:443/docs/' || source || '/' || CAST(doc_id AS VARCHAR)
        |    || '/?utm_campaign=x&ref=' || lang || '&utm_source=y#sec' || CAST(doc_id AS VARCHAR) AS raw
        |  FROM documents),
        |p AS (SELECT doc_id, regexp_replace(raw, '#.*', '') AS nf FROM u),
        |q AS (SELECT doc_id,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p),
        |a AS (SELECT doc_id, scheme, rest,
        |  regexp_extract(regexp_extract(rest, '^([^/?]*)', 1), '^([^@]*@)', 1) AS userinfo,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^@]*@', '')) AS hostport
        |  FROM q),
        |r AS (SELECT doc_id, scheme, userinfo,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host,
        |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM a),
        |s AS (SELECT doc_id, scheme, userinfo, host,
        |  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
        |  list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))) AS params
        |  FROM r)
        |SELECT doc_id, scheme || '://' || userinfo || host || path ||
        |  CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS canon
        |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("q85_text_normalize",
      // Unicode hygiene (text.normalizeText): NFC composition + C0/C1
      // control strip. The synth plants a decomposed e + COMBINING ACUTE
      // (composes to U+00E9), a BEL control (stripped), and a tab
      // (kept) — Java's Normalizer and DuckDB's nfc_normalize implement
      // the same Unicode algorithm, so lengths and sha256 bytes match.
      (s, d) => {
        val synth = concat(
          lit("Cafe"), lit("e\u0301"), lit(" menu\u0007item\u0085x\t"),
          substring(col("text"), 1, 30))
        docs(s, d)
          .select(col("doc_id"),
            normalizeText(synth).as("norm"))
          .select(col("doc_id"),
            big(length(col("norm"))).as("norm_len"),
            sha2(col("norm"), 256).as("norm_sha"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id,
        |  'Cafe' || 'e' || chr(769) || ' menu' || chr(7) || 'item' || chr(133) || 'x' || chr(9) || substr(text, 1, 30) AS raw
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  nfc_normalize(regexp_replace(raw, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]', '', 'g')) AS norm
        |  FROM m)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len, sha256(norm) AS norm_sha
        |FROM n ORDER BY doc_id""".stripMargin)),

    QueryDef("q87_dup_spans",
      // ExactSubstr dedup (Lee et al. 2022) at 15-token window granularity
      // (Dedup.stripDupSpans): every occurrence of a duplicated window
      // except the global first is stripped; the corpus genuinely carries
      // duplicated spans (857 duplicated 15-gram windows at sf0.01), so
      // both the census and the rebuild do real work. The oracle replays
      // the census on gram STRINGS (Spark shuffles only the 60-bit window
      // hash — the documented 2^-60 collision odds, line-dedup precedent)
      // and the coverage-mask rebuild symbolically.
      (s, d) => {
        val base = spread(docs(s, d)).select(col("doc_id"), col("text"),
          big(size(tokens(col("text")))).as("n_tokens"))
        Dedup.stripDupSpans(base, "doc_id", "text", w = 15)
          .select(col("doc_id"), col("n_tokens"), col("dup_windows"),
            col("covered_tokens"), sha2(col("text"), 256).as("kept_sha"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $W AS t FROM documents),
        |wins AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 14], ' ') AS g
        |  FROM tk, LATERAL unnest(range(1, CASE WHEN len(t) >= 15 THEN len(t) - 13 ELSE 1 END)) AS u(i)),
        |wc AS (SELECT doc_id, pos,
        |  count(*) OVER (PARTITION BY g) AS n,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM wins),
        |fl AS (SELECT doc_id, list_sort(list(pos)) AS ps, count(*) AS dup_windows
        |  FROM wc WHERE n > 1 AND rn > 1 GROUP BY doc_id),
        |out AS (SELECT tk.doc_id, len(t) AS n_tokens,
        |  coalesce(fl.dup_windows, 0) AS dup_windows,
        |  CASE WHEN fl.ps IS NULL THEN 0 ELSE
        |    len(list_filter(range(0, len(t)), i -> len(list_filter(fl.ps, p -> p <= i AND i < p + 15)) > 0)) END AS covered,
        |  CASE WHEN fl.ps IS NULL THEN text ELSE
        |    coalesce(array_to_string(list_transform(
        |      list_filter(range(0, len(t)), i -> len(list_filter(fl.ps, p -> p <= i AND i < p + 15)) = 0),
        |      i -> t[i + 1]), ' '), '') END AS kept
        |  FROM tk LEFT JOIN fl USING (doc_id))
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |CAST(dup_windows AS BIGINT) AS dup_windows, CAST(covered AS BIGINT) AS covered_tokens,
        |sha256(kept) AS kept_sha
        |FROM out ORDER BY doc_id""".stripMargin)),

    QueryDef("q88_incremental_pairs",
      // Incremental ingest dedup (Dedup.minhashPairsIncremental): docs with
      // even ids are the already-resolved corpus, odd ids the arriving
      // batch. Bands (and the cap's sub-bucketing) are computed over the
      // union — identical to q33's — so the oracle is the SAME shared pair
      // CTE chain with an at-least-one-new filter; the engine must produce
      // exactly the batch-involving subset of q33's pair set.
      (s, d) => {
        val all = docs(s, d)
        Dedup.minhashPairsIncremental(
            all.filter(col("doc_id") % 2 === 0), all.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", 12, 4, 0.6)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $minhashPairCtes
        |SELECT id_a, id_b, jaccard FROM pairs
        |WHERE jaccard >= 0.6 AND (id_a % 2 = 1 OR id_b % 2 = 1)
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q89_stride_chunks",
      // LM-pretraining sliding windows (Chunker.strideChunks): 48-token
      // windows at stride 32, so consecutive chunks share 16 tokens of
      // left context. Same map-side posexplode shape as q39's hard cut.
      (s, d) => Chunker.strideChunks(docs(s, d), "doc_id", "text", 48, 32)
        .select(col("doc_id"), big(col("chunk_index")).as("chunk_index"),
          big(col("chunks_count")).as("chunks_count"), big(col("token_len")).as("token_len"),
          col("chunk_sha"))
        .orderBy(col("doc_id"), col("chunk_index")),
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |ck AS (SELECT doc_id, CAST(ceil(len(w) / 32.0) AS INT) AS chunks_count, k,
        |  array_to_string(w[k*32+1 : k*32+48], ' ') AS chunk_text
        |  FROM tk, (SELECT unnest(generate_series(0,
        |    (SELECT CAST(ceil(max(len(w)) / 32.0) AS INT) FROM tk))) AS k) g
        |  WHERE k * 32 < len(w))
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_index, CAST(chunks_count AS BIGINT) AS chunks_count,
        |CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS token_len,
        |sha256(chunk_text) AS chunk_sha
        |FROM ck ORDER BY doc_id, chunk_index""".stripMargin)),

    QueryDef("q90_lm_quality",
      // CCNet-style LM quality bucketing (LmScore): self-trained unigram
      // LM, integer micro-nat surprise per token (exact sums any order),
      // head/middle/tail split at the 0.25/0.75 quantiles of mean
      // surprise. The only doubles are single divisions of exact integers
      // plus the q45-proven percentile interpolation.
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val scored = graft.operators.LmScore.surprise(
          base, "doc_id", "text", graft.operators.LmScore.unigramLm(base, "text"))
        graft.operators.LmScore.qualityBuckets(scored)
          .select(col("doc_id"), big(col("sum_surprise")).as("sum_surprise"),
            big(col("n_tokens")).as("n_tokens"), col("avg_surprise"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($W) AS token FROM documents),
        |lm AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM lm),
        |sc AS (SELECT doc_id,
        |  CAST(sum(CAST(-floor(ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_surprise,
        |  count(*) AS n_tokens
        |  FROM tok JOIN lm USING (token) CROSS JOIN tot GROUP BY doc_id),
        |av AS (SELECT doc_id, sum_surprise, n_tokens,
        |  CAST(sum_surprise AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_surprise FROM sc),
        |th AS (SELECT quantile_cont(avg_surprise, 0.25) AS t_lo,
        |  quantile_cont(avg_surprise, 0.75) AS t_hi FROM av)
        |SELECT doc_id, sum_surprise, CAST(n_tokens AS BIGINT) AS n_tokens, avg_surprise,
        |CASE WHEN avg_surprise <= t_lo THEN 'head' WHEN avg_surprise > t_hi THEN 'tail'
        |ELSE 'middle' END AS bucket
        |FROM av CROSS JOIN th ORDER BY doc_id""".stripMargin)),

    QueryDef("q93_bigram_lm",
      // Conditional (bigram) LM surprise with add-one smoothing: s(w1,w2)
      // = -floor(1e6 * ln((c2+1)/(c1+V))) summed over the n-1 transitions
      // (LmScore.bigramSurprise), bucketed like q90. Exact integers inside
      // one ln per transition; V is the vocabulary size.
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val scored = graft.operators.LmScore.bigramSurprise(base, "doc_id", "text",
          graft.operators.LmScore.unigramLm(base, "text"),
          graft.operators.LmScore.bigramLm(base, "text"))
        graft.operators.LmScore.qualityBuckets(scored)
          .select(col("doc_id"), big(col("sum_surprise")).as("sum_surprise"),
            big(col("n_tokens")).as("n_transitions"), col("avg_surprise"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM tk),
        |cnt1 AS (SELECT t, count(*) AS c1 FROM tok GROUP BY t),
        |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cnt1),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM tk WHERE len(w) >= 2),
        |cnt2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY bg),
        |sc AS (SELECT doc_id,
        |  CAST(sum(CAST(-floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_surprise,
        |  count(*) AS n_transitions
        |  FROM big JOIN cnt2 USING (bg)
        |  JOIN cnt1 ON cnt1.t = split_part(big.bg, ' ', 1)
        |  CROSS JOIN voc GROUP BY doc_id),
        |av AS (SELECT doc_id, sum_surprise, n_transitions,
        |  CAST(sum_surprise AS DOUBLE) / CAST(n_transitions AS DOUBLE) AS avg_surprise FROM sc),
        |th AS (SELECT quantile_cont(avg_surprise, 0.25) AS t_lo,
        |  quantile_cont(avg_surprise, 0.75) AS t_hi FROM av)
        |SELECT doc_id, sum_surprise, CAST(n_transitions AS BIGINT) AS n_transitions, avg_surprise,
        |CASE WHEN avg_surprise <= t_lo THEN 'head' WHEN avg_surprise > t_hi THEN 'tail'
        |ELSE 'middle' END AS bucket
        |FROM av CROSS JOIN th ORDER BY doc_id""".stripMargin)),

    QueryDef("q94_top_dup_spans",
      // Boilerplate census report: the 20 most-duplicated 15-token spans
      // corpus-wide (Dedup.dupWindows analysis surface) with occurrence
      // and distinct-doc counts. The span text is recovered by slicing the
      // FIRST occurrence's doc at its recorded position — cheap (20 rows)
      // and byte-identical to the gram the census hashed. Global top-k =
      // orderBy+limit (TakeOrderedAndProject); ties break on the window
      // hash, which the oracle recomputes with the same md5 scheme.
      (s, d) => {
        val base = spread(docs(s, d)).select(col("doc_id"), col("text"))
        val agg = Dedup.dupWindows(base, "doc_id", "text", 15)
          .groupBy(col("wh"))
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"),
            min(struct(col("doc_id"), col("pos"))).as("first"))
          .filter(col("n_occ") > 1)
          .orderBy(col("n_occ").desc, col("wh")).limit(20)
        agg.join(base, agg("first.doc_id") === base("doc_id"))
          .select(col("wh"), big(col("n_occ")).as("n_occ"), big(col("n_docs")).as("n_docs"),
            sha2(concat_ws(" ",
              slice(tokens(col("text")), col("first.pos") + 1, lit(15))), 256).as("span_sha"))
          .orderBy(col("n_occ").desc, col("wh"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $W AS t FROM documents),
        |wins AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 14], ' ') AS g
        |  FROM tk, LATERAL unnest(range(1, CASE WHEN len(t) >= 15 THEN len(t) - 13 ELSE 1 END)) AS u(i)),
        |ag AS (SELECT g, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |  FROM wins GROUP BY g HAVING count(*) > 1),
        |top AS (SELECT g, n_occ, n_docs,
        |  CAST(concat('0x', substr(md5(g || '#win'), 1, 15)) AS BIGINT) AS wh
        |  FROM ag ORDER BY n_occ DESC, wh LIMIT 20)
        |SELECT wh, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs,
        |sha256(g) AS span_sha
        |FROM top ORDER BY n_occ DESC, wh""".stripMargin)),

    QueryDef("q96_ccnet_mixture",
      // The CCNet endpoint: LM quality buckets DRIVE the training mixture —
      // head kept at 100 %, middle at 50 %, tail at 10 % — by feeding
      // q90's buckets into q82's content-addressed weighted sampler. Same
      // nested hash buckets, so re-running with a raised tail rate only
      // ADDS rows. The oracle chains q90's scoring/threshold CTEs into
      // q82's hash-rate predicate.
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val bucketed = graft.operators.LmScore.qualityBuckets(
          graft.operators.LmScore.surprise(base, "doc_id", "text",
            graft.operators.LmScore.unigramLm(base, "text")))
        val rate = when(col("bucket") === "head", 10000L)
          .when(col("bucket") === "middle", 5000L).otherwise(1000L)
        graft.operators.Sampling.byHashWeighted(bucketed, "doc_id", rate)
          .select(col("doc_id"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($W) AS token FROM documents),
        |lm AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM lm),
        |sc AS (SELECT doc_id,
        |  CAST(sum(CAST(-floor(ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_surprise,
        |  count(*) AS n_tokens
        |  FROM tok JOIN lm USING (token) CROSS JOIN tot GROUP BY doc_id),
        |av AS (SELECT doc_id, CAST(sum_surprise AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_surprise FROM sc),
        |th AS (SELECT quantile_cont(avg_surprise, 0.25) AS t_lo,
        |  quantile_cont(avg_surprise, 0.75) AS t_hi FROM av),
        |bk AS (SELECT doc_id,
        |  CASE WHEN avg_surprise <= t_lo THEN 'head' WHEN avg_surprise > t_hi THEN 'tail'
        |  ELSE 'middle' END AS bucket FROM av CROSS JOIN th)
        |SELECT doc_id, bucket FROM bk
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT) % 10000
        |  < CASE WHEN bucket = 'head' THEN 10000 WHEN bucket = 'middle' THEN 5000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q97_winnow_pairs",
      // Winnowing-fingerprint pairs (Dedup.winnowPairs): the DETERMINISTIC
      // near-dup candidate generator — any shared verbatim run of >= 6
      // words (n+w-1) must produce a shared fingerprint, a guarantee the
      // probabilistic MinHash bands cannot make. The oracle extends q52's
      // fingerprint CTEs with the fan-out-cap sub-bucketing (q33 scheme;
      // inert at this scale — max fp membership 7 — but exact at any) and
      // the shared-count join. 103 pairs at sf0.01, max 37 shared.
      (s, d) => Dedup.winnowPairs(spread(docs(s, d)), "doc_id", "text", 3, 4, minShared = 2)
        .select(col("id_a"), col("id_b"), big(col("n_shared")).as("n_shared"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH tk AS (SELECT doc_id, $W AS w FROM documents),
        |hs AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN CAST([] AS BIGINT[]) ELSE
        |  list_transform(range(1, len(w) - 1), i ->
        |    CAST(concat('0x', substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 7)) AS BIGINT)) END AS h
        |  FROM tk),
        |fp AS (SELECT doc_id, CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
        |  WHEN len(h) <= 4 THEN [list_min(h)]
        |  ELSE list_sort(list_distinct(list_transform(range(1, len(h) - 2), s -> list_min(h[s : s+3])))) END AS f
        |  FROM hs),
        |ex AS (SELECT doc_id, unnest(f) AS fpv FROM fp),
        |bc AS (SELECT doc_id, fpv, count(*) OVER (PARTITION BY fpv) AS nb FROM ex),
        |capped AS (SELECT doc_id, CASE WHEN nb > 256 THEN CAST(fpv AS VARCHAR) || '#' || CAST(
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#band'), 1, 15)) AS BIGINT)
        |    % CAST(ceil(nb / 256.0) AS BIGINT) AS VARCHAR)
        |  ELSE CAST(fpv AS VARCHAR) END AS fpv FROM bc),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM capped a JOIN capped b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM p WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q98_index_pairs",
      // Operationalized incremental LSH (Dedup.minhashIndex +
      // minhashPairsAgainstIndex): the even-id corpus contributes ONLY its
      // persisted (id, sh, bands) index rows — materialized to parquet
      // first, exactly the steady-state ingest shape where the corpus text
      // is never re-read or re-signatured — and the odd-id batch is
      // signatured here. Raw band keys are per-doc deterministic, so the
      // pair set must equal q88's (the from-text incremental run on the
      // same docs): the oracle IS q88's.
      (s, d) => {
        val all = docs(s, d)
        // the persisted index is written ONCE per (JVM, sf dir) — Bench
        // re-invokes each query fn reps times and a fresh temp dir per
        // call would both leak dirs and hide an eager write job inside
        // "construction"; the memoized path is also truer to the shape
        // under test (build index once, pair many batches against it)
        val idxPath = q98IndexPaths.computeIfAbsent(d, { d0 =>
          val p = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
          Dedup.minhashIndex(docs(s, d0).filter(col("doc_id") % 2 === 0), "doc_id", "text")
            .write.mode("overwrite").parquet(p)
          p
        })
        Dedup.minhashPairsAgainstIndex(
            s.read.parquet(idxPath), spread(all.filter(col("doc_id") % 2 === 1)),
            "doc_id", "text", 12, 4, 0.6)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $minhashPairCtes
        |SELECT id_a, id_b, jaccard FROM pairs
        |WHERE jaccard >= 0.6 AND (id_a % 2 = 1 OR id_b % 2 = 1)
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q92_corpus_build",
      // The training-corpus build, composed end-to-end from the operators
      // above into ONE decision record per doc: Gopher gate on the
      // original text (q80), ExactSubstr span strip (q87), exact dedup on
      // the REBUILT text (q23's sha-group shape), benchmark
      // decontamination of the rebuilt text (q76's 8-gram flag,
      // doc_id % 53 slice), final_keep = passed gate AND canonical AND
      // clean. Each stage's oracle CTEs are the proven q80/q87/q76
      // formulations renamed and wired so downstream stages read upstream
      // OUTPUT (grams over the stripped text, not the original).
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        // thresholds adapted to the synthetic corpus (small shared
        // vocabulary, no English stopwords): the strict q80 defaults gate
        // 499/500 docs, which would make every downstream stage vacuous
        val gate = graft.operators.QualityFilter
          .gopherGate(base, "doc_id", "text",
            graft.operators.QualityFilter.GopherConfig(
              minTokens = 30, minStopwords = 0, maxDupWordFrac = 0.9))
          .select(col("doc_id"), col("keep").as("gopher_keep"))
        val stripped = Dedup.stripDupSpans(base, "doc_id", "text", w = 15)
          .select(col("doc_id"), col("text"), col("covered_tokens"))
        // canonical pick as groupBy + join-back, not min() over
        // Window.partitionBy(__sha): a corpus-hot identical rebuild (mass
        // boilerplate collapsing to one sha) would funnel into one window
        // task, while the aggregate partials absorb it map-side and the
        // one-row-per-sha build side broadcasts under AQE
        val withSha = stripped.withColumn("__sha", sha2(col("text"), 256))
        val shaMin = withSha.groupBy(col("__sha"))
          .agg(min(col("doc_id")).as("__canon_id"))
        val canon = withSha.join(shaMin, Seq("__sha"))
          .withColumn("is_canonical", col("doc_id") === col("__canon_id"))
          .drop("__canon_id")
        val deco = graft.operators.Decontaminate
          .flag(stripped, stripped.filter(col("doc_id") % 53 === 0), "doc_id", "text", n = 8)
          .select(col("doc_id"), col("contaminated"))
        canon.join(gate, Seq("doc_id")).join(deco, Seq("doc_id"))
          .select(col("doc_id"), col("gopher_keep"), col("covered_tokens"),
            col("is_canonical"), col("contaminated"),
            (col("gopher_keep") && col("is_canonical") && !col("contaminated")).as("final_keep"),
            col("__sha").as("kept_sha"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $W AS t FROM documents),
        |wins AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 14], ' ') AS g
        |  FROM tk, LATERAL unnest(range(1, CASE WHEN len(t) >= 15 THEN len(t) - 13 ELSE 1 END)) AS u(i)),
        |wc AS (SELECT doc_id, pos,
        |  count(*) OVER (PARTITION BY g) AS n,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM wins),
        |fl AS (SELECT doc_id, list_sort(list(pos)) AS ps, count(*) AS dup_windows
        |  FROM wc WHERE n > 1 AND rn > 1 GROUP BY doc_id),
        |strip AS (SELECT tk.doc_id,
        |  CASE WHEN fl.ps IS NULL THEN 0 ELSE
        |    len(list_filter(range(0, len(t)), i -> len(list_filter(fl.ps, p -> p <= i AND i < p + 15)) > 0)) END AS covered_tokens,
        |  CASE WHEN fl.ps IS NULL THEN text ELSE
        |    coalesce(array_to_string(list_transform(
        |      list_filter(range(0, len(t)), i -> len(list_filter(fl.ps, p -> p <= i AND i < p + 15)) = 0),
        |      i -> t[i + 1]), ' '), '') END AS kept
        |  FROM tk LEFT JOIN fl USING (doc_id)),
        |gm AS (SELECT doc_id, text, $W AS w, string_split(text, chr(10)) AS ln FROM documents),
        |gx AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) AS mean_word_len,
        |  CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
        |  len(list_filter(w, t -> t IN ('the','a','and','of','to','in','is'))) AS n_stop,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_frac,
        |  CAST(len(list_filter(ln, l -> substr(l, 1, 2) IN ('- ', '* '))) AS DOUBLE) / len(ln) AS bullet_ratio,
        |  CAST(len(list_filter(ln, l -> ends_with(l, '...'))) AS DOUBLE) / len(ln) AS ellipsis_ratio
        |  FROM gm),
        |gate AS (SELECT doc_id,
        |  (n_tokens BETWEEN 30 AND 100000) AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_ratio >= 0.8 AND dup_frac <= 0.9
        |   AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 AS gopher_keep
        |  FROM gx),
        |canon AS (SELECT doc_id, kept, covered_tokens,
        |  min(doc_id) OVER (PARTITION BY kept) = doc_id AS is_canonical FROM strip),
        |ks AS (SELECT doc_id, string_split_regex(kept, '\\s+') AS kw FROM strip),
        |ksh AS (SELECT doc_id, CASE WHEN len(kw) < 8 THEN CAST([] AS VARCHAR[])
        |  ELSE list_distinct(list_transform(range(1, len(kw) - 6), i ->
        |    kw[i] || ' ' || kw[i+1] || ' ' || kw[i+2] || ' ' || kw[i+3] || ' ' || kw[i+4] || ' ' || kw[i+5] || ' ' || kw[i+6] || ' ' || kw[i+7])) END AS s FROM ks),
        |bench AS (SELECT DISTINCT unnest(s) AS bg FROM ksh WHERE doc_id % 53 = 0),
        |cg AS (SELECT doc_id, unnest(s) AS bg FROM ksh),
        |ov AS (SELECT cg.doc_id, count(*) AS overlap_grams FROM cg JOIN bench USING (bg) GROUP BY cg.doc_id),
        |deco AS (SELECT ksh.doc_id, coalesce(ov.overlap_grams, 0) >= 1 AS contaminated
        |  FROM ksh LEFT JOIN ov ON ksh.doc_id = ov.doc_id)
        |SELECT c.doc_id, g.gopher_keep, CAST(c.covered_tokens AS BIGINT) AS covered_tokens,
        |  c.is_canonical, dc.contaminated,
        |  g.gopher_keep AND c.is_canonical AND NOT dc.contaminated AS final_keep,
        |  sha256(c.kept) AS kept_sha
        |FROM canon c JOIN gate g ON c.doc_id = g.doc_id JOIN deco dc ON c.doc_id = dc.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    QueryDef("q100_token_shards",
      // Token-budget sharding (operators/Sharding.assignShards) — the
      // training-output stage: content-hash total order (q46's
      // sha256(text), doc_id), whitespace token weights (q26's count),
      // 2000-token budget. The engine computes each doc's global start
      // offset via the two-pass distributed prefix sum (range partition +
      // per-partition subtotal offsets, never a single-task global
      // window); the oracle IS the single global window — floor(exclusive
      // cumulative sum / budget) — which the distributed assignment must
      // reproduce exactly, boundary-sampling invariance included. Per-doc
      // membership plus per-shard totals, both pinned.
      (s, d) => {
        val assigned = graft.operators.Sharding.assignShards(
          spread(docs(s, d)).select(col("doc_id"), col("text"),
            big(tokenCount(col("text"))).as("n_tokens"),
            sha256Hex(col("text")).as("h")),
          "n_tokens", 2000L, Seq("h", "doc_id"))
        assigned.groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
            min(col("doc_id")).as("min_doc"), big(sum(col("doc_id"))).as("doc_id_sum"))
          .orderBy(col("shard_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, sha256(text) AS h,
        |  CAST(len($W) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  coalesce(SUM(n_tokens) OVER (ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start FROM t),
        |a AS (SELECT doc_id, n_tokens, CAST(floor(start / 2000) AS BIGINT) AS shard_id FROM c)
        |SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS min_doc, CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        |FROM a GROUP BY shard_id ORDER BY shard_id""".stripMargin)),

    QueryDef("q102_bm25_topk",
      // Okapi BM25 probe-query ranking (operators/Rank.bm25TopK): three
      // fixed probe queries over the documents corpus, k=15 each. Corpus
      // side: one kernel tokenize pass for (N, avgdl, per-term df) -> a
      // single driver row; scoring is map-side against embedded integer
      // micro-unit idf literals; the only exchange is GroupTopKExec's
      // bounded k-per-query prune. The oracle replays the identical
      // double arithmetic (left-associated, micro-floor per term) so the
      // BIGINT scores match exactly.
      (s, d) => Rank.bm25TopK(docs(s, d), "doc_id", "text",
          Map("agg_pipeline" -> Seq("spark", "join", "agg"),
            "scan_perf" -> Seq("scan", "fast", "filter"),
            "stream_state" -> Seq("stream", "window", "batch")),
          kTop = 15)
        .select(col("query_id"), col("doc_id"), big(col("rank")).as("rank"),
          col("score_micro"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH dd AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |dl AS (SELECT doc_id, w, len(w) AS dl FROM dd),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q(query_id, term) AS (VALUES
        |  ('agg_pipeline', 'spark'), ('agg_pipeline', 'join'), ('agg_pipeline', 'agg'),
        |  ('scan_perf', 'scan'), ('scan_perf', 'fast'), ('scan_perf', 'filter'),
        |  ('stream_state', 'stream'), ('stream_state', 'window'), ('stream_state', 'batch')),
        |terms AS (SELECT DISTINCT term FROM q),
        |dfreq AS (SELECT t.term,
        |  sum(CASE WHEN list_contains(dl.w, t.term) THEN 1 ELSE 0 END) AS dft
        |  FROM terms t CROSS JOIN dl GROUP BY t.term),
        |idf AS (SELECT term, CAST(floor(1e6 * ln(1 + ((SELECT n FROM st) - dft + 0.5e0)
        |  / (dft + 0.5e0))) AS BIGINT) AS idf FROM dfreq),
        |tfq AS (SELECT dl.doc_id, q.query_id, q.term,
        |  len(list_filter(dl.w, x -> x = q.term)) AS tf, dl.dl
        |  FROM dl CROSS JOIN q),
        |co AS (SELECT doc_id, query_id,
        |  CAST(floor(i.idf * ((tf * (1.2e0 + 1)) / (tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * dl / (SELECT avgdl FROM st))))) AS BIGINT) AS c
        |  FROM tfq JOIN idf i USING (term) WHERE tf > 0),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |  FROM co GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM sc WHERE score_micro > 0)
        |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro FROM rk
        |WHERE rank <= 15 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("q103_cluster_keeper",
      // Keeper election per duplicate cluster (Dedup.selectKeepers): the
      // q72 cluster resolution plus a QUALITY-based pick — highest
      // distinct-word count wins, id breaks ties. Election aggregates run
      // over pair-graph members only (singletons never shuffle); the pick
      // is max(struct(quality, -id)) — no per-cluster window. The oracle
      // reuses q72's recursive transitive closure and elects with a
      // window (tractable at oracle scale).
      (s, d) => {
        val base = spread(docs(s, d))
        Dedup.selectKeepers(base, "doc_id",
            Dedup.minhashPairs(base, "doc_id", "text", 12, 4, 0.6),
            size(array_distinct(split(col("text"), "\\s+"))))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairCtes,
        |filt AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.6),
        |ed AS (SELECT id_a AS u, id_b AS v FROM filt UNION SELECT id_b, id_a FROM filt),
        |reach AS (SELECT u, v FROM ed
        |  UNION SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u WHERE e.v <> r.u),
        |lbl AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id FROM reach GROUP BY u),
        |qv AS (SELECT doc_id, len(list_distinct($W)) AS q FROM documents),
        |mem AS (SELECT l.doc_id, l.cluster_id, qv.q FROM lbl l JOIN qv USING (doc_id)),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM mem GROUP BY 1),
        |rk AS (SELECT doc_id, cluster_id,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn FROM mem)
        |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
        |  coalesce(s.cluster_size, 1) AS cluster_size,
        |  CASE WHEN l.cluster_id IS NULL THEN true ELSE (r.rn = 1) END AS is_keeper
        |FROM documents d
        |LEFT JOIN lbl l ON d.doc_id = l.doc_id
        |LEFT JOIN sz s ON l.cluster_id = s.cluster_id
        |LEFT JOIN rk r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("q105_temperature_mix",
      // Temperature-resampled language mixture (Sampling.temperatureMixture,
      // alpha=0.5): each language keeps sqrt(n_min/n_lang) of its docs —
      // the smallest language keeps all, English (the largest) is thinned
      // hardest. Rates come from one tiny count agg broadcast back; the
      // selection is the same content-addressed map-side hash filter as
      // q74/q82, and sqrt's correct rounding makes the basis-point floors
      // bit-identical across engines.
      (s, d) => Sampling.temperatureMixture(docs(s, d), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("rate_bp"))
        .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang, CAST(floor(1e4 * (sqrt(CAST((SELECT nmin FROM m) AS DOUBLE))
        |  / sqrt(CAST(n AS DOUBLE)))) AS BIGINT) AS rate_bp FROM c)
        |SELECT d.doc_id, d.lang, r.rate_bp FROM documents d JOIN r USING (lang)
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT) % 10000 < r.rate_bp
        |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("q106_champion_index",
      // Champion-list inverted index (Rank.championIndex, IIR §7.1.3):
      // the persistable serving-side index that complements q102's
      // probe-side BM25. One kernel pass per doc emits the tf MAP (within-
      // doc repetition collapses before any exchange), per-term df/cf is
      // one partial-aggregated groupBy, and champion selection rides
      // GroupTopKExec's bounded heaps so a stopword's posting list is
      // never materialized. minDf=50 prunes the rare tail ('dup', df=25 at
      // sf0.01); the oracle replays the census + window formulation.
      (s, d) => Rank.championIndex(docs(s, d), "doc_id", "text",
          m = 8, minDf = 50L)
        .select(col("term"), col("df"), col("cf"), big(col("rank")).as("rank"),
          col("doc_id"), col("tf"))
        .orderBy(col("term"), col("rank")),
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |tl AS (SELECT doc_id, unnest(w) AS term FROM tk),
        |tfc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2),
        |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank FROM tfc)
        |SELECT r.term, s.df, s.cf, CAST(r.rank AS BIGINT) AS rank, r.doc_id, r.tf
        |FROM rk r JOIN st s USING (term) WHERE r.rank <= 8
        |ORDER BY r.term, r.rank""".stripMargin)),

    QueryDef("q107_soft_dedup",
      // Duplicate-aware SOFT dedup (Dedup.softDedupSample): members of a
      // near-dup cluster of size n survive with probability 1/n — in
      // expectation one doc per cluster, but the survivor varies by
      // content hash (diversity selectKeepers' hard election discards).
      // Rates are exact integer basis points 10000 div n on q72's cluster
      // resolution; the keep decision is q74/q82's content-addressed hash
      // filter, so it composes with every other sample. The oracle chains
      // the shared minhash-pair CTEs, the recursive closure, and the
      // byHashWeighted predicate.
      (s, d) => {
        val base = spread(docs(s, d))
        Dedup.softDedupSample(base, "doc_id",
            Dedup.minhashPairs(base, "doc_id", "text", 12, 4, 0.6))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashPairCtes,
        |filt AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.6),
        |ed AS (SELECT id_a AS u, id_b AS v FROM filt UNION SELECT id_b, id_a FROM filt),
        |reach AS (SELECT u, v FROM ed
        |  UNION SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u WHERE e.v <> r.u),
        |lbl AS (SELECT u AS doc_id, least(min(v), u) AS cluster_id FROM reach GROUP BY u),
        |alldocs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM alldocs GROUP BY 1),
        |rated AS (SELECT a.doc_id, a.cluster_id, s.cluster_size,
        |  greatest(CAST(1 AS BIGINT), CAST(10000 // s.cluster_size AS BIGINT)) AS rate_bp
        |  FROM alldocs a JOIN sz s USING (cluster_id))
        |SELECT doc_id, cluster_id, cluster_size, rate_bp FROM rated
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)) AS BIGINT) % 10000 < rate_bp
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q109_index_merge",
      // Incremental champion-index maintenance (Rank.mergeChampionIndexes):
      // index the even- and odd-id halves SEPARATELY (the stored index +
      // arriving batch shape, Dedup.minhashIndex's pattern for the lexical
      // side), then merge — df/cf add across disjoint corpora, champions
      // re-prune over <= 2m bounded rows per term, minDf applies at merge
      // time (pruning at build time would break mergeability). The merge
      // invariant — a global top-m posting is top-m within its half — makes
      // the result bit-identical to a from-scratch build, so the oracle IS
      // q106's from-scratch formulation.
      (s, d) => {
        val base = docs(s, d)
        val even = Rank.championIndex(base.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", m = 8)
        val odd = Rank.championIndex(base.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", m = 8)
        Rank.mergeChampionIndexes(even, odd, m = 8, minDf = 50L)
          .select(col("term"), col("df"), col("cf"), big(col("rank")).as("rank"),
            col("id").as("doc_id"), col("tf"))
          .orderBy(col("term"), col("rank"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |tl AS (SELECT doc_id, unnest(w) AS term FROM tk),
        |tfc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2),
        |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank FROM tfc)
        |SELECT r.term, s.df, s.cf, CAST(r.rank AS BIGINT) AS rank, r.doc_id, r.tf
        |FROM rk r JOIN st s USING (term) WHERE r.rank <= 8
        |ORDER BY r.term, r.rank""".stripMargin)),

    QueryDef("q111_bm25_serve",
      // Index-only BM25 serving (Rank.bm25FromIndex — the early-
      // termination path IIR §7.1.3 builds champion lists FOR): q102's
      // three probe queries scored FROM q106's champion index (m=8,
      // minDf=50). Candidates are champion postings only, idf comes from
      // the index's df column, and b=0 because the index stores no doc
      // lengths — corpus text is never re-scanned (the corpus contributes
      // only its doc count N). idf is a column over the index's df and
      // query membership a map-side typed-literal lookup, so serving adds
      // NO join and no driver action. The oracle replays the index CTEs,
      // then the identical left-associated double arithmetic index-side.
      (s, d) => {
        val corpus = docs(s, d)
        val index = Rank.championIndex(corpus, "doc_id", "text",
          m = 8, minDf = 50L)
        Rank.bm25FromIndex(index, corpus.count(),
            Map("agg_pipeline" -> Seq("spark", "join", "agg"),
              "scan_perf" -> Seq("scan", "fast", "filter"),
              "stream_state" -> Seq("stream", "window", "batch")),
            kTop = 10)
          .select(col("query_id"), col("id").as("doc_id"),
            big(col("rank")).as("rank"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |tl AS (SELECT doc_id, unnest(w) AS term FROM tk),
        |tfc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2),
        |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank FROM tfc),
        |idx AS (SELECT r.term, s.df, r.doc_id, r.tf FROM rk r JOIN st s USING (term) WHERE r.rank <= 8),
        |q(query_id, term) AS (VALUES
        |  ('agg_pipeline', 'spark'), ('agg_pipeline', 'join'), ('agg_pipeline', 'agg'),
        |  ('scan_perf', 'scan'), ('scan_perf', 'fast'), ('scan_perf', 'filter'),
        |  ('stream_state', 'stream'), ('stream_state', 'window'), ('stream_state', 'batch')),
        |idf AS (SELECT term, CAST(floor(1e6 * ln(1 + ((SELECT count(*) FROM documents) - df + 0.5e0)
        |  / (df + 0.5e0))) AS BIGINT) AS idf
        |  FROM (SELECT DISTINCT term, df FROM idx) WHERE term IN (SELECT term FROM q)),
        |co AS (SELECT q.query_id, i.doc_id,
        |  CAST(floor(f.idf * ((i.tf * (1.2e0 + 1)) / (i.tf + 1.2e0))) AS BIGINT) AS c
        |  FROM idx i JOIN q ON i.term = q.term JOIN idf f ON i.term = f.term),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |rnk AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM sc WHERE score_micro > 0)
        |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro FROM rnk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("q112_impact_champions",
      // Impact-ordered champion lists (Rank.championIndexImpact, IIR
      // §7.1.3's w(d,t) refinement of q106): postings ranked by the BM25
      // length-normalized tf impact in integer micro units — a short
      // focused doc outranks a long one with equal tf. idf is excluded
      // from the key (constant within a posting list, can't reorder it);
      // dl rides the same single kernel pass as the tf map; avgdl is one
      // 1-row driver aggregate embedded as a literal. Same scale shape as
      // q106: map-side census, GroupTopK bounded heaps, stats join after
      // the prune. The oracle replays the identical left-associated
      // double arithmetic.
      (s, d) => Rank.championIndexImpact(docs(s, d), "doc_id", "text",
          m = 8, minDf = 50L)
        .select(col("term"), col("df"), col("cf"), big(col("rank")).as("rank"),
          col("doc_id"), col("tf"), col("dl"), col("impact_micro"))
        .orderBy(col("term"), col("rank")),
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |dlt AS (SELECT doc_id, w, len(w) AS dl FROM tk),
        |st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlt),
        |tl AS (SELECT doc_id, dl, unnest(w) AS term FROM dlt),
        |tfc AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2, 3),
        |imp AS (SELECT term, doc_id, tf, dl,
        |  CAST(floor(1e6 * ((tf * (1.2e0 + 1)) / (tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * dl / (SELECT avgdl FROM st))))) AS BIGINT) AS impact_micro
        |  FROM tfc),
        |stt AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf, dl, impact_micro,
        |  row_number() OVER (PARTITION BY term ORDER BY impact_micro DESC, doc_id) AS rank
        |  FROM imp)
        |SELECT r.term, s.df, s.cf, CAST(r.rank AS BIGINT) AS rank, r.doc_id,
        |  r.tf, CAST(r.dl AS BIGINT) AS dl, r.impact_micro
        |FROM rk r JOIN stt s USING (term) WHERE r.rank <= 8
        |ORDER BY r.term, r.rank""".stripMargin)),

    QueryDef("q114_bm25_serve_batch",
      // Batch-query index serving (Rank.bm25FromIndex DataFrame overload):
      // q111's serving semantics with the query set arriving as a
      // (query_id, term) FRAME instead of driver literals — the gear for
      // 100k-query serving loads, where typed-literal maps would bloat
      // the plan and a driver idf collect would not scale. One term join
      // fans index postings to queries, idf is a codegen'd expression
      // over the index's df column, NO driver collect anywhere. Results
      // are bit-identical to the Map form, so the oracle IS q111's
      // formulation.
      (s, d) => {
        import s.implicits._
        val corpus = docs(s, d)
        val index = Rank.championIndex(corpus, "doc_id", "text",
          m = 8, minDf = 50L)
        val qdf = Seq(
          ("agg_pipeline", "spark"), ("agg_pipeline", "join"), ("agg_pipeline", "agg"),
          ("scan_perf", "scan"), ("scan_perf", "fast"), ("scan_perf", "filter"),
          ("stream_state", "stream"), ("stream_state", "window"), ("stream_state", "batch"))
          .toDF("query_id", "term")
        Rank.bm25FromIndexBatch(index, corpus.count(), qdf, kTop = 10)
          .select(col("query_id"), col("id").as("doc_id"),
            big(col("rank")).as("rank"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |tl AS (SELECT doc_id, unnest(w) AS term FROM tk),
        |tfc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2),
        |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank FROM tfc),
        |idx AS (SELECT r.term, s.df, r.doc_id, r.tf FROM rk r JOIN st s USING (term) WHERE r.rank <= 8),
        |q(query_id, term) AS (VALUES
        |  ('agg_pipeline', 'spark'), ('agg_pipeline', 'join'), ('agg_pipeline', 'agg'),
        |  ('scan_perf', 'scan'), ('scan_perf', 'fast'), ('scan_perf', 'filter'),
        |  ('stream_state', 'stream'), ('stream_state', 'window'), ('stream_state', 'batch')),
        |idf AS (SELECT term, CAST(floor(1e6 * ln(1 + ((SELECT count(*) FROM documents) - df + 0.5e0)
        |  / (df + 0.5e0))) AS BIGINT) AS idf
        |  FROM (SELECT DISTINCT term, df FROM idx) WHERE term IN (SELECT term FROM q)),
        |co AS (SELECT q.query_id, i.doc_id,
        |  CAST(floor(f.idf * ((i.tf * (1.2e0 + 1)) / (i.tf + 1.2e0))) AS BIGINT) AS c
        |  FROM idx i JOIN q ON i.term = q.term JOIN idf f ON i.term = f.term),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |rnk AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM sc WHERE score_micro > 0)
        |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro FROM rnk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("q113_bm25_serve_impact",
      // Length-normalized index-only serving (Rank.bm25FromIndexImpact):
      // q111's serving shape upgraded to the impact index — the stored
      // (tf, dl) let the server replay the FULL b=0.75 BM25 ratio per
      // champion posting (q111's tf index forced b=0), so truncated-to-
      // champions scores now match corpus-side bm25TopK arithmetic
      // exactly. The corpus contributes only its metadata (N, avgdl — one
      // native no-UDF stats action); candidates are champion postings
      // only, idf is a column over the index's df, membership a
      // typed-literal lookup — NO join, no corpus re-scan. The oracle
      // chains q112's index CTEs with q111's serving CTEs, swapping in
      // the normalized contribution.
      (s, d) => {
        val corpus = docs(s, d)
        val st = Rank.avgdlStats(corpus, "text").head()
        val n = st.getLong(0)
        val avgdl = st.getLong(1).toDouble / n.toDouble
        val index = Rank.championIndexImpact(corpus, "doc_id", "text",
          m = 8, minDf = 50L, fixedAvgdl = Some(avgdl))
        Rank.bm25FromIndexImpact(index, n, avgdl,
            Map("agg_pipeline" -> Seq("spark", "join", "agg"),
              "scan_perf" -> Seq("scan", "fast", "filter"),
              "stream_state" -> Seq("stream", "window", "batch")),
            kTop = 10)
          .select(col("query_id"), col("id").as("doc_id"),
            big(col("rank")).as("rank"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |dlt AS (SELECT doc_id, w, len(w) AS dl FROM tk),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlt),
        |tl AS (SELECT doc_id, dl, unnest(w) AS term FROM dlt),
        |tfc AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2, 3),
        |imp AS (SELECT term, doc_id, tf, dl,
        |  CAST(floor(1e6 * ((tf * (1.2e0 + 1)) / (tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * dl / (SELECT avgdl FROM st))))) AS BIGINT) AS impact_micro
        |  FROM tfc),
        |stt AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf, dl, impact_micro,
        |  row_number() OVER (PARTITION BY term ORDER BY impact_micro DESC, doc_id) AS rank
        |  FROM imp),
        |idx AS (SELECT r.term, s.df, r.doc_id, r.tf, r.dl
        |  FROM rk r JOIN stt s USING (term) WHERE r.rank <= 8),
        |q(query_id, term) AS (VALUES
        |  ('agg_pipeline', 'spark'), ('agg_pipeline', 'join'), ('agg_pipeline', 'agg'),
        |  ('scan_perf', 'scan'), ('scan_perf', 'fast'), ('scan_perf', 'filter'),
        |  ('stream_state', 'stream'), ('stream_state', 'window'), ('stream_state', 'batch')),
        |idf AS (SELECT term, CAST(floor(1e6 * ln(1 + ((SELECT n FROM st) - df + 0.5e0)
        |  / (df + 0.5e0))) AS BIGINT) AS idf
        |  FROM (SELECT DISTINCT term, df FROM idx) WHERE term IN (SELECT term FROM q)),
        |co AS (SELECT q.query_id, i.doc_id,
        |  CAST(floor(f.idf * ((i.tf * (1.2e0 + 1)) / (i.tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * i.dl / (SELECT avgdl FROM st))))) AS BIGINT) AS c
        |  FROM idx i JOIN q ON i.term = q.term JOIN idf f ON i.term = f.term),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |rnk AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM sc WHERE score_micro > 0)
        |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro FROM rnk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("q116_bm25_serve_impact_batch",
      // Batch-query serving on the IMPACT index (Rank.bm25FromIndexImpact
      // DataFrame overload): q113's length-normalized serving semantics
      // with q114's batch-query shape — the 100k-query gear for the
      // normalized index, closing the serving family's last asymmetry.
      // One term equi-join fans postings to queries; idf AND the b=0.75
      // length normalization are codegen'd expressions over the index's
      // (df, tf, dl) columns plus the avgdl literal — zero driver
      // collects. Results are bit-identical to the Map form, so the
      // oracle IS q113's formulation (its q CTE is already a VALUES
      // join).
      (s, d) => {
        import s.implicits._
        val corpus = docs(s, d)
        val st = Rank.avgdlStats(corpus, "text").head()
        val n = st.getLong(0)
        val avgdl = st.getLong(1).toDouble / n.toDouble
        val index = Rank.championIndexImpact(corpus, "doc_id", "text",
          m = 8, minDf = 50L, fixedAvgdl = Some(avgdl))
        val qdf = Seq(
          ("agg_pipeline", "spark"), ("agg_pipeline", "join"), ("agg_pipeline", "agg"),
          ("scan_perf", "scan"), ("scan_perf", "fast"), ("scan_perf", "filter"),
          ("stream_state", "stream"), ("stream_state", "window"), ("stream_state", "batch"))
          .toDF("query_id", "term")
        Rank.bm25FromIndexImpactBatch(index, n, avgdl, qdf, kTop = 10)
          .select(col("query_id"), col("id").as("doc_id"),
            big(col("rank")).as("rank"), col("score_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
        |dlt AS (SELECT doc_id, w, len(w) AS dl FROM tk),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlt),
        |tl AS (SELECT doc_id, dl, unnest(w) AS term FROM dlt),
        |tfc AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tl GROUP BY 1, 2, 3),
        |imp AS (SELECT term, doc_id, tf, dl,
        |  CAST(floor(1e6 * ((tf * (1.2e0 + 1)) / (tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * dl / (SELECT avgdl FROM st))))) AS BIGINT) AS impact_micro
        |  FROM tfc),
        |stt AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1 HAVING count(*) >= 50),
        |rk AS (SELECT term, doc_id, tf, dl, impact_micro,
        |  row_number() OVER (PARTITION BY term ORDER BY impact_micro DESC, doc_id) AS rank
        |  FROM imp),
        |idx AS (SELECT r.term, s.df, r.doc_id, r.tf, r.dl
        |  FROM rk r JOIN stt s USING (term) WHERE r.rank <= 8),
        |q(query_id, term) AS (VALUES
        |  ('agg_pipeline', 'spark'), ('agg_pipeline', 'join'), ('agg_pipeline', 'agg'),
        |  ('scan_perf', 'scan'), ('scan_perf', 'fast'), ('scan_perf', 'filter'),
        |  ('stream_state', 'stream'), ('stream_state', 'window'), ('stream_state', 'batch')),
        |idf AS (SELECT term, CAST(floor(1e6 * ln(1 + ((SELECT n FROM st) - df + 0.5e0)
        |  / (df + 0.5e0))) AS BIGINT) AS idf
        |  FROM (SELECT DISTINCT term, df FROM idx) WHERE term IN (SELECT term FROM q)),
        |co AS (SELECT q.query_id, i.doc_id,
        |  CAST(floor(f.idf * ((i.tf * (1.2e0 + 1)) / (i.tf + 1.2e0 * ((1 - 0.75e0)
        |    + 0.75e0 * i.dl / (SELECT avgdl FROM st))))) AS BIGINT) AS c
        |  FROM idx i JOIN q ON i.term = q.term JOIN idf f ON i.term = f.term),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM co GROUP BY 1, 2),
        |rnk AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM sc WHERE score_micro > 0)
        |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro FROM rnk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))
  )
}
