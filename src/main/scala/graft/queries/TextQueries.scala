package graft.queries

import graft.core.{Fixtures, Tables}
import graft.operators.{Dedup, TextAnalysis}
import graft.oracle.DuckSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Text analysis, tokenizer, language-model and ranking queries: each query's
  * Spark plan is declared beside its DuckDB oracle SQL. */
object TextQueries {
  import Fixtures.Stopwords
  import Shared._

  /** Documents with deterministically INJECTED PII spans (the fixture
    * corpus is synthetic and PII-free): emails on doc_id % 7, phones on
    * % 11, IPv4 on % 13 — shared by the redaction query and the exposure
    * report so both replay the identical corpus. */
  private def piiInjectedDocs(s: SparkSession, d: String): DataFrame = {
    val ds = col("doc_id").cast("string")
    par(s, docs(s, d))
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact u"), ds, lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"), lit(".9"))).otherwise(lit(""))))
  }

  /** The [[TextAnalysis.qualityScore]] formula as DuckDB SQL, with the
    * same IEEE double association as the Column tree. */
  private def qualitySql(t: String): String = {
    val nw = nWordsSql(t); val ns = nStopSql(t)
    val awl = s"(CAST(length($t) - ($nw - 1) AS DOUBLE) / CAST($nw AS DOUBLE))"
    s"""((LEAST(CAST(length($t) AS DOUBLE) / 500.0, 1.0)
       |    + LEAST((CAST($ns AS DOUBLE) / CAST($nw AS DOUBLE)) * 10.0, 1.0))
       |   + CASE WHEN $awl >= 3.0 AND $awl <= 8.0 THEN 1.0 ELSE 0.5 END) / 3.0""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // --- text analysis (north star)
    QuerySpec("text_features", ((s, d) =>
      TextAnalysis.docFeatures(par(s, docs(s, d))).orderBy(col("doc_id"))),
      {
        val nw = nWordsSql("text"); val ns = nStopSql("text")
        s"""SELECT doc_id,
           |  $nw AS n_words,
           |  CAST(length(text) AS INT) AS n_chars,
           |  CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS n_tokens_est,
           |  CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRegex}')) AS INT) AS n_tokens_re,
           |  $ns AS n_stopwords,
           |  CASE WHEN (CAST($ns AS DOUBLE) / CAST($nw AS DOUBLE)) >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
           |  md5(lower(text)) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("text_quality", ((s, d) =>
      par(s, docs(s, d)).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.avgWordLen(col("text")).as("avg_word_len"))
        .orderBy(col("doc_id"))),
      {
        val nw = nWordsSql("text"); val ns = nStopSql("text")
        s"""SELECT doc_id,
           |  ((LEAST(chars / 500.0, 1.0) + LEAST((nsd / nwd) * 10.0, 1.0))
           |    + CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) / 3.0 AS quality,
           |  awl AS avg_word_len
           |FROM (
           |  SELECT doc_id,
           |    CAST(length(text) AS DOUBLE) AS chars,
           |    CAST($nw AS DOUBLE) AS nwd,
           |    CAST($ns AS DOUBLE) AS nsd,
           |    CAST(length(text) - ($nw - 1) AS DOUBLE) / CAST($nw AS DOUBLE) AS awl
           |  FROM documents
           |) ORDER BY doc_id""".stripMargin
      }),
    // Gopher-style rule gate (Rae et al. 2021 App. A1): per-rule booleans
    // + the conjunction, all integer cross-multiplied comparisons — the
    // map-side filter pass of a curation pipeline, with per-rule columns
    // for the rejection-rate data card
    QuerySpec("text_gopher_rules", ((s, d) =>
      TextAnalysis.gopherRules(par(s, docs(s, d))).orderBy(col("doc_id"))),
        s"""WITH s AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS INT) AS chars,
           |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopListSql)) AS INT) AS n_stop,
           |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
           |  FROM documents)
           |SELECT doc_id, n_words, n_stop, n_distinct,
           |  (n_words >= 20 AND n_words <= 80) AS r_word_count,
           |  (chars >= n_words * 3 AND chars <= n_words * 8) AS r_mean_word_len,
           |  (n_stop * 50 >= n_words) AS r_stopwords,
           |  (n_distinct * 2 >= n_words) AS r_distinct,
           |  (n_words >= 20 AND n_words <= 80 AND chars >= n_words * 3 AND chars <= n_words * 8
           |    AND n_stop * 50 >= n_words AND n_distinct * 2 >= n_words) AS keep
           |FROM s ORDER BY doc_id""".stripMargin),
    // the repetition arm of the Gopher family: duplicate-word fraction and
    // top-bigram share as integer cross-multiplied rules, raw counts
    // included for the data card; per-row, zero shuffle
    QuerySpec("text_gopher_repetition", ((s, d) =>
      TextAnalysis.gopherRepetitionRules(par(s, docs(s, d))).orderBy(col("doc_id"))),
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |base AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS ndw FROM w),
          |grams AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
          |  FROM w WHERE len(w) >= 2
          |), gmax AS (
          |  SELECT doc_id, MAX(c) AS max2
          |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
          |  GROUP BY doc_id
          |)
          |SELECT b.doc_id AS doc_id, CAST(nw AS INT) AS n_words,
          |  CAST(nw - ndw AS INT) AS n_dup_words,
          |  CAST(COALESCE(max2, 0) AS BIGINT) AS max_bigram_count,
          |  ((nw - ndw) * 10 <= nw * 3) AS r_dup_words,
          |  (COALESCE(max2, 0) * 5 <= nw - 1) AS r_top_bigram,
          |  ((nw - ndw) * 10 <= nw * 3 AND COALESCE(max2, 0) * 5 <= nw - 1) AS keep
          |FROM base b LEFT OUTER JOIN gmax g ON b.doc_id = g.doc_id
          |ORDER BY doc_id""".stripMargin),
    // CCNet-style perplexity bucketing (Wenzek et al. 2020): held-out docs
    // labeled head/middle/tail against fixed per-token LM-score thresholds;
    // the compare is exact decimal (sum_lp vs t·n), no float division
    QuerySpec("text_perplexity_buckets", ((s, d) => {
      val all = par(s, docs(s, d))
      graft.operators.LangModel.perplexityBuckets(
          all.filter(col("doc_id") % 10 === 0),
          all.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("doc_id"))
    }),
        """WITH train AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
          |tb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM train, unnest(range(1, len(w))) AS t(i)),
          |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tb GROUP BY w1, w2),
          |c1 AS (SELECT w1, COUNT(*) AS c1 FROM tb GROUP BY w1),
          |vocab AS (SELECT COUNT(DISTINCT u.word) AS v FROM train, unnest(w) AS u(word)),
          |held AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 <> 0),
          |hb AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM held, unnest(range(1, len(w))) AS t(i)),
          |scored AS (
          |  SELECT hb.doc_id,
          |    CAST(ROUND(LN((COALESCE(c12.c12, 0) + 1.0) / (COALESCE(c1.c1, 0) + vocab.v)), 6)
          |      AS DECIMAL(18,6)) AS lp
          |  FROM hb LEFT JOIN c12 ON hb.w1 = c12.w1 AND hb.w2 = c12.w2
          |          LEFT JOIN c1 ON hb.w1 = c1.w1
          |          CROSS JOIN vocab)
          |SELECT doc_id, COUNT(*) AS n_bigrams,
          |  CASE WHEN SUM(lp) < CAST(-3.55 AS DECIMAL(18,6)) * COUNT(*) THEN 'tail'
          |       WHEN SUM(lp) >= CAST(-3.49 AS DECIMAL(18,6)) * COUNT(*) THEN 'head'
          |       ELSE 'middle' END AS bucket
          |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("text_winnow_fingerprints", ((s, d) =>
      TextAnalysis.winnowFingerprints(par(s, docs(s, d).filter(col("doc_id") % 10 === 0)))
        .orderBy(col("doc_id"), col("fp"))),
        """SELECT doc_id, fp FROM (
          |  SELECT doc_id, unnest(
          |    CASE WHEN len(hs) >= 5 THEN list_distinct(list_transform(range(0, len(hs) - 4), j -> list_min(hs[j+1:j+5])))
          |         WHEN len(hs) > 0 THEN [list_min(hs)]
          |         ELSE CAST([] AS BIGINT[]) END) AS fp
          |  FROM (
          |    SELECT doc_id, list_filter(
          |      list_transform(range(0, greatest(len(w) - 4, 0) + 1),
          |        i -> CASE WHEN len(w) >= 4 THEN CAST(('0x' || substr(md5(array_to_string(w[i+1:i+4], ' ')), 1, 8)) AS BIGINT) END),
          |      h -> h IS NOT NULL) AS hs
          |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0)
          |  )
          |) ORDER BY doc_id, fp""".stripMargin),
    // one-row corpus data card: the summary a curation run publishes
    // next to its output (doc/token/language counts, mean quality,
    // exact-dup rate) — one flat aggregation; the quality mean sums
    // 9-decimal-quantized per-row scores in exact decimals so the single
    // double division is engine-exact
    QuerySpec("corpus_stats_card", ((s, d) => {
      val dd = par(s, docs(s, d)).withColumn("q",
        round(TextAnalysis.qualityScore(col("text")), 9).cast(DecimalType(18, 9)))
      dd.agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenEstimate(col("text"))).as("n_tokens_est"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("q")).cast("double") / count(lit(1)).cast("double")).as("mean_quality"),
          countDistinct(md5(col("text"))).as("n_unique_texts"))
        .withColumn("exact_dup_rate",
          lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs").cast("double"))
    }),
      {
        val nw = nWordsSql("text"); val ns = nStopSql("text")
        s"""WITH scored AS (
           |  SELECT lang, text,
           |    ((LEAST(chars / 500.0, 1.0) + LEAST((nsd / nwd) * 10.0, 1.0))
           |      + CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) / 3.0 AS quality
           |  FROM (
           |    SELECT lang, text,
           |      CAST(length(text) AS DOUBLE) AS chars,
           |      CAST($nw AS DOUBLE) AS nwd,
           |      CAST($ns AS DOUBLE) AS nsd,
           |      CAST(length(text) - ($nw - 1) AS DOUBLE) / CAST($nw AS DOUBLE) AS awl
           |    FROM documents))
           |SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT) AS n_tokens_est,
           |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(SUM(CAST(ROUND(quality, 9) AS DECIMAL(18,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
           |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           |  ${DuckSql.fmt(1.0)} - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate
           |FROM scored""".stripMargin
      }),
    // overlapping word-window chunking (chunk → embed → index is the
    // standard long-doc pipeline; stride < width gives overlap)
    QuerySpec("text_chunks", ((s, d) => {
      val width = 50
      val stride = 25
      val ws = docs(s, d).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      ws.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), greatest(ceil((size(col("w")) - lit(width)) / lit(stride.toDouble)), lit(0)).cast("int")),
            i => concat_ws(" ", slice(col("w"), i * stride + 1, lit(width))))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          md5(col("col")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
        """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
          |  md5(array_to_string(w[i*25+1 : i*25+50], ' ')) AS chunk_md5
          |FROM (
          |  SELECT doc_id, w,
          |    unnest(range(0, CAST(GREATEST(CEIL((len(w) - 50) / 25.0), 0) AS BIGINT) + 1)) AS i
          |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 20 = 0)
          |)
          |ORDER BY doc_id, chunk_idx""".stripMargin),
    // long-document retrieval via LATE CHUNKING: BM25 scored at CHUNK
    // granularity (50-word windows, stride 25 — doc-level BM25 dilutes a
    // locally-relevant passage inside a long document), top-50 chunks
    // retrieved, then collapsed to documents by max chunk score — the
    // retrieve-chunks/dedup-by-doc serving shape of a passage-retrieval
    // deploy. Reuses the proven bm25TopK kernel with the chunk set as its
    // corpus: stats/df reduce to broadcast scalars over chunks, one
    // codegen'd scoring pass, distributed top-k, |top| rows to the doc agg
    QuerySpec("text_chunk_bm25_doc", ((s, d) => {
      val width = 50
      val stride = 25
      val ws = par(s, docs(s, d)).select(col("doc_id"), split(col("text"), " ").as("w"))
      val chunks = ws.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), greatest(ceil((size(col("w")) - lit(width)) / lit(stride.toDouble)), lit(0)).cast("int")),
            i => concat_ws(" ", slice(col("w"), i * stride + 1, lit(width))))))
        .select((col("doc_id") * 1000 + col("pos")).as("chunk_id"),
          col("col").as("text"))
      TextAnalysis.bm25TopK(chunks, Seq("spark", "table", "query"), 50,
          idCol = "chunk_id")
        .withColumn("doc_id", floor(col("chunk_id") / 1000).cast(LongType))
        .groupBy(col("doc_id"))
        .agg(max(col("bm25")).as("doc_bm25"),
          count(lit(1)).cast(LongType).as("n_chunks_hit"))
        .orderBy(col("doc_bm25").desc, col("doc_id").asc)
        .limit(K)
    }),
      {
        val terms = Seq("spark", "table", "query")
        val k1 = 1.2; val b = 0.75
        def tf(t: String) =
          s"CAST(len(list_filter(string_split(text, ' '), w -> w = '$t')) AS DOUBLE)"
        val termExprs = terms.zipWithIndex.map { case (t, i) =>
          s"""LN((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
             | * (${tf(t)} * ${DuckSql.fmt(k1 + 1.0)})
             | / (${tf(t)} + ${DuckSql.fmt(k1)} * (${DuckSql.fmt(1.0 - b)} + ${DuckSql.fmt(b)} * dl / avgdl))"""
            .stripMargin.replace("\n", "")
        }
        val dfSelects = terms.zipWithIndex.map { case (t, i) =>
          s"SUM(CASE WHEN list_contains(string_split(text, ' '), '$t') THEN 1 ELSE 0 END) AS df_$i"
        }.mkString(", ")
        s"""WITH ch AS (
           |  SELECT doc_id * 1000 + i AS chunk_id,
           |    array_to_string(w[i*25+1 : i*25+50], ' ') AS text
           |  FROM (
           |    SELECT doc_id, w,
           |      unnest(range(0, CAST(GREATEST(CEIL((len(w) - 50) / 25.0), 0) AS BIGINT) + 1)) AS i
           |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
           |stats AS (
           |  SELECT COUNT(*) AS n_docs,
           |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
           |  FROM ch),
           |dfs AS (SELECT $dfSelects FROM ch),
           |scored AS (
           |  SELECT chunk_id, ROUND(${termExprs.mkString(" + ")}, 6) AS bm25
           |  FROM (SELECT chunk_id, text, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           |        FROM ch) d
           |  CROSS JOIN stats CROSS JOIN dfs
           |  ORDER BY bm25 DESC, chunk_id ASC LIMIT 50)
           |SELECT CAST(FLOOR(chunk_id / 1000) AS BIGINT) AS doc_id,
           |  MAX(bm25) AS doc_bm25, COUNT(*) AS n_chunks_hit
           |FROM scored GROUP BY 1
           |ORDER BY doc_bm25 DESC, doc_id ASC LIMIT $K""".stripMargin
      }),
    // digit redaction (PII-scrub shape): every digit run → '#'; md5 of the
    // scrubbed text keeps the compare compact
    QuerySpec("text_redact_digits", ((s, d) =>
      par(s, docs(s, d)).select(col("doc_id"),
          md5(regexp_replace(col("text"), "[0-9]+", "#")).as("redacted_md5"))
        .orderBy(col("doc_id"))),
        "SELECT doc_id, md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5 FROM documents ORDER BY doc_id"),
    // corpus-level document frequency: top 20 non-stopword terms
    QuerySpec("text_top_terms", ((s, d) =>
      par(s, docs(s, d))
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
        .filter(col("term") =!= "" && !col("term").isin(Stopwords: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(20)),
      {
        s"""SELECT term, COUNT(*) AS df FROM (
           |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents
           |) WHERE term <> '' AND term NOT IN $stopListSql
           |GROUP BY term ORDER BY df DESC, term ASC LIMIT 20""".stripMargin
      }),
    // exact heavy hitters (per-partition Misra-Gries superset + exact
    // recount — groupBy only ever sees the tiny candidate set)
    QuerySpec("text_heavy_terms", ((s, d) => {
      val terms = par(s, docs(s, d))
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      graft.operators.Freq.heavyHitters(terms, "term", minShare = 0.005)
        .withColumnRenamed("key", "term")
        .orderBy(col("term"))
    }),
        """WITH terms AS (
          |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
          |), nonempty AS (
          |  SELECT term FROM terms WHERE term <> ''
          |)
          |SELECT term, COUNT(*) AS n FROM nonempty
          |GROUP BY term
          |HAVING COUNT(*) >= CEIL(CAST('0.005' AS DOUBLE) * (SELECT COUNT(*) FROM nonempty))
          |ORDER BY term""".stripMargin),
    // count-min sketch (Freq.countMinSketch): d×w cell counts from the
    // md5 hash family — the one sketch that is fully SQL-replayable, so
    // unlike HLL/KLL (rows-only agg_sketches) the whole build+lookup is
    // hash-checked: top-10 terms' exact counts vs their CMS estimates
    // (est >= exact always; equality iff no cell collision)
    QuerySpec("text_countmin_counts", ((s, d) => {
      val toks = par(s, docs(s, d))
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val sketch = graft.operators.Freq.countMinSketch(toks, "term", depth = 4, width = 512)
      val probes = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("term").asc).limit(10)
      graft.operators.Freq.countMinLookup(sketch, probes, "term", depth = 4, width = 512)
        .orderBy(col("term"))
    }),
        """WITH toks AS (
          |  SELECT term FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          |  WHERE term <> ''
          |), cells AS MATERIALIZED (
          |  SELECT i,
          |    CAST(('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '|' || term), 1, 8)) AS BIGINT) % 512 AS cell,
          |    COUNT(*) AS n
          |  FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
          |  GROUP BY 1, 2
          |), probes AS (
          |  SELECT term, COUNT(*) AS exact_n FROM toks GROUP BY term
          |  ORDER BY exact_n DESC, term ASC LIMIT 10
          |)
          |SELECT p.term, p.exact_n, MIN(c.n) AS cm_est
          |FROM probes p JOIN cells c
          |  ON c.cell = CAST(('0x' || substr(md5('cm' || CAST(c.i AS VARCHAR) || '|' || p.term), 1, 8)) AS BIGINT) % 512
          |GROUP BY p.term, p.exact_n
          |ORDER BY p.term""".stripMargin),
    // per-doc top TF-IDF term; scored as tf/df (idf-monotone per doc and
    // IEEE-division-exact in both engines — no transcendental ln drift)
    QuerySpec("text_tfidf_top_term", ((s, d) => {
      val terms = docs(s, d).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
      tf.join(df_, "term")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"))
    }),
        """WITH terms AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |  FROM documents WHERE doc_id % 20 = 0
          |), tf AS (
          |  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY doc_id, term
          |), df AS (
          |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
          |)
          |SELECT doc_id, term, tf, df FROM (
          |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
          |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
          |      ORDER BY (CAST(tf.tf AS DOUBLE) / df.df) DESC, tf.term ASC) AS rk
          |  FROM tf JOIN df ON tf.term = df.term
          |) WHERE rk = 1 ORDER BY doc_id""".stripMargin),
    // --- round-3: training-data quality signals
    QuerySpec("text_repetition", ((s, d) =>
      TextAnalysis.repetitionSignals(par(s, docs(s, d))).orderBy(col("doc_id"))),
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |base AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS ndw FROM w),
           |grams AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
           |  FROM w WHERE len(w) >= 2
           |), gmax AS (
           |  SELECT doc_id, MAX(c) AS max2
           |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
           |  GROUP BY doc_id
           |)
           |SELECT b.doc_id AS doc_id, CAST(nw AS INT) AS n_words,
           |  CAST(nw - ndw AS DOUBLE) / CAST(nw AS DOUBLE) AS dup_word_frac,
           |  COALESCE(CAST(max2 AS DOUBLE) / CAST(nw - 1 AS DOUBLE), ${DuckSql.fmt(0.0)}) AS top_bigram_frac
           |FROM base b LEFT OUTER JOIN gmax g ON b.doc_id = g.doc_id
           |ORDER BY doc_id""".stripMargin),
    // language-ID evaluation crosstab: declared lang × heuristic prediction
    QuerySpec("text_lang_confusion", ((s, d) =>
      par(s, docs(s, d))
        .groupBy(col("lang"), TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),
      {
        val nw = nWordsSql("text"); val ns = nStopSql("text")
        s"""SELECT lang,
           |  CASE WHEN (CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE)) >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
           |  COUNT(*) AS n
           |FROM (SELECT lang, $nw AS nw, $ns AS ns FROM documents)
           |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
      }),
    // SUPERVISED classifier training (operators/NaiveBayes): multinomial
    // NB fit on the even-id half (two flat aggregations — the closed-form
    // MLE, no iterations), scored on the odd-id half; ln terms quantized
    // to DECIMAL(18,9) so the argmax replays bit-for-bit in the oracle
    QuerySpec("text_nb_confusion", ((s, d) => {
      val dd = docs(s, d)
      graft.operators.NaiveBayes.confusion(
          par(s, dd.filter(col("doc_id") % 2 === 0)),
          dd.filter(col("doc_id") % 2 === 1))
        .orderBy(col("label_true"), col("predicted"))
    }),
        """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
          |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
          |nt AS (
          |  SELECT lang AS cls, w FROM (
          |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM train)
          |  WHERE w <> ''),
          |cw AS (SELECT cls, w, COUNT(*) AS cw FROM nt GROUP BY 1, 2),
          |classes AS (SELECT lang AS cls, COUNT(*) AS nd FROM train GROUP BY 1),
          |cc AS (
          |  SELECT c.cls, COALESCE(x.cc0, 0) AS cc FROM classes c
          |  LEFT JOIN (SELECT cls, COUNT(*) AS cc0 FROM nt GROUP BY 1) x ON x.cls = c.cls),
          |vv AS (SELECT COUNT(DISTINCT w) AS v FROM nt),
          |ndoc AS (SELECT COUNT(*) AS nd FROM train),
          |priors AS (
          |  SELECT cls,
          |    CAST(ROUND(LN(CAST(nd AS DOUBLE) / CAST((SELECT nd FROM ndoc) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS prior_lp
          |  FROM classes),
          |unseen AS (
          |  SELECT cls,
          |    CAST(ROUND(LN(CAST(1 AS DOUBLE) / CAST(cc + (SELECT v FROM vv) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS unseen_lp
          |  FROM cc),
          |lik AS (
          |  SELECT cw.cls, cw.w,
          |    CAST(ROUND(LN(CAST(cw.cw + 1 AS DOUBLE) / CAST(cc.cc + (SELECT v FROM vv) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
          |  FROM cw JOIN cc ON cw.cls = cc.cls),
          |tt AS (
          |  SELECT doc_id, w FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test)
          |  WHERE w <> ''),
          |ll AS (
          |  SELECT t.doc_id, u.cls, SUM(COALESCE(l.lp, u.unseen_lp)) AS ll
          |  FROM tt t
          |  CROSS JOIN unseen u
          |  LEFT JOIN lik l ON l.cls = u.cls AND l.w = t.w
          |  GROUP BY t.doc_id, u.cls),
          |scores AS (
          |  SELECT d.doc_id, d.lang AS label_true, c.cls,
          |    p.prior_lp + COALESCE(ll.ll, CAST(0 AS DECIMAL(28,9))) AS score
          |  FROM test d
          |  CROSS JOIN (SELECT cls FROM classes) c
          |  LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.cls = c.cls
          |  JOIN priors p ON p.cls = c.cls),
          |pred AS (
          |  SELECT doc_id, label_true, cls AS predicted,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
          |  FROM scores)
          |SELECT label_true, predicted, COUNT(*) AS n
          |FROM pred WHERE rn = 1
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // quantile normalization across sources (batch-effect correction):
    // each doc's quality is replaced by the POOLED distribution's value
    // at the doc's within-SOURCE percentile — sources with inflated or
    // deflated score scales become comparable in actual pooled units
    // (zscore assumes a shape, percentile stops at ranks; this rebuilds
    // values). Histogram collapse + two broadcast range joins into the
    // pooled [cum_start, cum_end) rank ranges; no corpus sort
    QuerySpec("text_quality_qnorm", ((s, d) => {
      val q4 = round(TextAnalysis.qualityScore(col("text")), 4)
        .cast(DecimalType(9, 4))
      graft.operators.Governance.quantileNormalize(
          par(s, docs(s, d)).select(col("doc_id"), col("source"), col("text")),
          "source", q4)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"),
          col("score_q").cast("double").as("quality"), col("pctl"), col("qnorm"))
        .orderBy(col("doc_id"))
    }),
        s"""WITH scored AS (
           |  SELECT doc_id, source,
           |    CAST(round(${qualitySql("text")}, 4) AS DECIMAL(9,4)) AS score_q
           |  FROM documents),
           |hist AS (SELECT source, score_q, COUNT(*) AS c FROM scored GROUP BY source, score_q),
           |pr AS (
           |  SELECT source, score_q,
           |    CASE WHEN SUM(c) OVER (PARTITION BY source) > 1
           |      THEN round(CAST(COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY score_q ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           |        / CAST(SUM(c) OVER (PARTITION BY source) - 1 AS DOUBLE), 9)
           |      ELSE 0.0 END AS pctl
           |  FROM hist),
           |ranked AS (
           |  SELECT s.doc_id, s.source, s.score_q, p.pctl
           |  FROM scored s JOIN pr p ON s.source = p.source AND s.score_q = p.score_q),
           |pooled AS (SELECT score_q, COUNT(*) AS c FROM ranked GROUP BY score_q),
           |ph AS (
           |  SELECT score_q, cum_start, cum_start + c AS cum_end FROM (
           |    SELECT score_q, c,
           |      COALESCE(SUM(c) OVER (ORDER BY score_q ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_start
           |    FROM pooled)),
           |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM pooled),
           |wi AS (
           |  SELECT r.doc_id, r.source, r.score_q, r.pctl,
           |    r.pctl * CAST(n_total - 1 AS DOUBLE) AS idx
           |  FROM ranked r CROSS JOIN nt),
           |w2 AS (
           |  SELECT *, CAST(FLOOR(idx) AS BIGINT) AS lo, CAST(CEIL(idx) AS BIGINT) AS hi,
           |    idx - CAST(CAST(FLOOR(idx) AS BIGINT) AS DOUBLE) AS frac
           |  FROM wi)
           |SELECT w2.doc_id, w2.source, CAST(w2.score_q AS DOUBLE) AS quality, w2.pctl,
           |  round(CAST(l.score_q AS DOUBLE)
           |    + (CAST(h.score_q AS DOUBLE) - CAST(l.score_q AS DOUBLE)) * w2.frac, 6) AS qnorm
           |FROM w2
           |JOIN ph l ON w2.lo >= l.cum_start AND w2.lo < l.cum_end
           |JOIN ph h ON w2.hi >= h.cum_start AND w2.hi < h.cum_end
           |WHERE w2.doc_id % 7 = 0 ORDER BY w2.doc_id""".stripMargin),
    // frequent term-pair mining (market-basket level 2, A-PRIORI pruned):
    // only terms that are frequent ALONE (df ≥ support, the a-priori
    // bound) enter the per-doc pair generation, so the doc×token² blowup
    // is capped by the frequent vocabulary, not the raw one; stopwords
    // excluded so the pairs are informative. PMI ranks by lift over the
    // token stream — this is its SUPPORT-count sibling, the co-occurrence
    // dictionary a phrase detector thresholds
    QuerySpec("text_frequent_pairs", ((s, d) => {
      val minSupport = 25
      val toks = par(s, docs(s, d))
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w") =!= "" && !col("w").isInCollection(Stopwords))
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minSupport)
      val ft = toks.join(broadcast(freq.select(col("w"))), "w")
      ft.as("a").join(ft.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport)
        .orderBy(col("support").desc, col("w1"), col("w2"))
        .limit(30)
    }),
        s"""WITH toks AS (
           |  SELECT doc_id, w FROM (
           |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
           |    FROM documents)
           |  WHERE w <> '' AND w NOT IN $stopListSql),
           |freq AS (SELECT w FROM (SELECT w, COUNT(*) AS df FROM toks GROUP BY w)
           |         WHERE df >= 25),
           |ft AS (SELECT t.doc_id, t.w FROM toks t JOIN freq f ON t.w = f.w)
           |SELECT a.w AS w1, b.w AS w2, COUNT(*) AS support
           |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
           |GROUP BY a.w, b.w
           |HAVING COUNT(*) >= 25
           |ORDER BY support DESC, w1, w2 LIMIT 30""".stripMargin),
    // NDCG@10 of the BM25 page against term-FREQUENCY relevance grades
    // (raw occurrence counts, which BM25's tf saturation deliberately does
    // NOT chase — so run ≠ ideal and the metric is non-vacuous):
    // the offline ranking-quality readout (lexical sibling of
    // ann_ivf_recall). Discounts ship as driver-computed literals and
    // per-rank terms are 9-decimal-quantized, so DCG/IDCG/NDCG replay
    // engine-exact; the ideal ranking is a distributed top-k, never a
    // full sort
    QuerySpec("rank_ndcg_bm25", ((s, d) => {
      val all = par(s, docs(s, d))
      val terms = Seq("spark", "table", "query")
      val run = graft.operators.Rerank.rankPage(
        TextAnalysis.bm25TopK(all, terms, k = K), "doc_id", "bm25")
      val rel = all.select(col("doc_id"),
        terms.map(t =>
          size(filter(split(col("text"), " "), w => w === t)).cast("long"))
          .reduce(_ + _).as("grade"))
      graft.operators.Rerank.ndcgAtK(run, rel, "doc_id", k = K)
    }),
      {
        val discVals = (1 to K).map(r =>
          s"($r, ${DuckSql.fmt(1.0 / (math.log(r + 1.0) / math.log(2.0)))})").mkString(", ")
        val gradeSql = Seq("spark", "table", "query").map(t =>
          s"len(list_filter(string_split(text, ' '), w -> w = '$t'))")
          .mkString(" + ")
        s"""WITH page AS (${bm25ScoredSql(K)}),
           |run AS (SELECT doc_id,
           |          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
           |        FROM page),
           |rel AS (SELECT doc_id, CAST($gradeSql AS BIGINT) AS grade FROM documents),
           |discounts(rank, disc) AS (VALUES $discVals),
           |d AS (
           |  SELECT SUM(CAST(round(CAST(g.grade AS DOUBLE) * w.disc, 9) AS DECIMAL(18,9))) AS dcg
           |  FROM run r JOIN rel g USING (doc_id) JOIN discounts w ON w.rank = r.rank),
           |ideal AS (
           |  SELECT grade, ROW_NUMBER() OVER (ORDER BY grade DESC, doc_id ASC) AS rank
           |  FROM rel ORDER BY grade DESC, doc_id ASC LIMIT $K),
           |idl AS (
           |  SELECT SUM(CAST(round(CAST(i.grade AS DOUBLE) * w.disc, 9) AS DECIMAL(18,9))) AS idcg
           |  FROM ideal i JOIN discounts w ON w.rank = i.rank)
           |SELECT CAST($K AS INT) AS k,
           |  round(CAST(dcg AS DOUBLE), 6) AS dcg,
           |  round(CAST(idcg AS DOUBLE), 6) AS idcg,
           |  round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
           |FROM d, idl""".stripMargin
      }),
    // hashed-bag-of-words linear classifier (fastText shape, fixed integer
    // weights): per-row aggregate, zero shuffles
    QuerySpec("text_classifier_score", ((s, d) =>
      par(s, docs(s, d)).select(col("doc_id"),
          TextAnalysis.classifierRawScore(col("text")).as("raw_score"),
          TextAnalysis.nWords(col("text")).as("n_words"))
        .withColumn("score", col("raw_score").cast("double") / col("n_words").cast("double"))
        .withColumn("keep", (col("score") >= 0.0).cast("int"))
        .orderBy(col("doc_id"))),
      {
        val nw = nWordsSql("text")
        s"""SELECT doc_id, raw_score, n_words,
           |  CAST(raw_score AS DOUBLE) / CAST(n_words AS DOUBLE) AS score,
           |  CAST(CAST(raw_score AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.0 AS INT) AS keep
           |FROM (
           |  SELECT doc_id,
           |    CAST(list_sum(list_transform(string_split(text, ' '), w -> (${Dedup.md5Int32Sql("w")} % 21) - 10)) AS BIGINT) AS raw_score,
           |    $nw AS n_words
           |  FROM documents
           |) ORDER BY doc_id""".stripMargin
      }),
    // cross-language quality calibration: raw quality scores are only
    // comparable WITHIN a language, so the gate runs on the per-language
    // percentile. Computed via the histogram collapse (score quantized to
    // 4 decimals → per-(lang, score) counts → running-below window over
    // the ≤10^4-bucket histogram → broadcast join back), NOT a row-level
    // per-language sort of the corpus
    // score_q is the integer-exact 10^-4-unit quality score and pctl the
    // exact nano-unit percent-rank — both pure-BIGINT quantizations, so
    // neither the histogram bucket nor the keep gate can flip on an
    // engine-dependent double rounding
    QuerySpec("text_quality_percentile", ((s, d) => {
      val q4 = TextAnalysis.qualityScoreScaled(col("text"), 4)
      graft.operators.Governance.percentileByGroup(
          par(s, docs(s, d)).select(col("doc_id"), col("lang"), col("text")),
          "lang", q4)
        .filter(col("doc_id") % 3 === 0)
        .withColumn("pctl",
          graft.operators.Governance.pctlNanos(col("pct_below"), col("pct_n")))
        .select(col("doc_id"), col("lang"), col("score_q"), col("pctl"),
          (col("pctl") >= 200000000L).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |    ${qualityScaledSql("text", 4)} AS score_q
           |  FROM documents),
           |hist AS (SELECT lang, score_q, COUNT(*) AS c FROM scored GROUP BY lang, score_q),
           |pr AS (
           |  SELECT lang, score_q,
           |    COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY score_q ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
           |    SUM(c) OVER (PARTITION BY lang) AS n
           |  FROM hist)
           |SELECT s.doc_id, s.lang, s.score_q,
           |  CAST(CASE WHEN p.n > 1
           |    THEN (p.below * 2000000000 + (p.n - 1)) // ((p.n - 1) * 2)
           |    ELSE 0 END AS BIGINT) AS pctl,
           |  CAST(CASE WHEN p.n > 1
           |    THEN (p.below * 2000000000 + (p.n - 1)) // ((p.n - 1) * 2)
           |    ELSE 0 END >= 200000000 AS INT) AS keep
           |FROM scored s JOIN pr p ON s.lang = p.lang AND s.score_q = p.score_q
           |WHERE s.doc_id % 3 = 0 ORDER BY s.doc_id""".stripMargin),
    // corpus n-gram diversity per language: distinct trigrams / total
    // trigram occurrences — the type/token health statistic that drops
    // when a crawl is template-heavy or a generator loops. Totals need no
    // explode (per-row max(words-2,0), summed map-side); only the
    // distinct count walks exploded per-doc gram sets
    QuerySpec("text_ngram_diversity", ((s, d) =>
      TextAnalysis.ngramDiversity(par(s, docs(s, d)), n = 3)
        .orderBy(col("lang"))),
        s"""WITH tot AS (
           |  SELECT lang,
           |    CAST(SUM(GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT) - 2, 0)) AS BIGINT) AS n_grams
           |  FROM documents GROUP BY lang),
           |dist AS (
           |  SELECT lang, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
           |  FROM (
           |    SELECT lang, unnest($ssetSql) AS g
           |    FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
           |  ) GROUP BY lang)
           |SELECT t.lang, t.n_grams, d.n_distinct,
           |  CASE WHEN t.n_grams > 0
           |    THEN CAST(d.n_distinct AS DOUBLE) / CAST(t.n_grams AS DOUBLE) END AS diversity
           |FROM tot t JOIN dist d ON t.lang = d.lang ORDER BY t.lang""".stripMargin),
    // T5-style span corruption (denoising-objective example construction):
    // md5-deterministic ~20% token masking, consecutive masked runs
    // collapsed to numbered <extra_id_k> sentinels in the input, spans
    // emitted sentinel-prefixed as the target. One token explode + ONE
    // (doc, pos) shuffle shared by both windows + per-doc reconstruction
    QuerySpec("prep_span_corruption", ((s, d) =>
      TextAnalysis.spanCorrupt(par(s, docs(s, d).filter(col("doc_id") % 10 === 0)),
          maskMod = 5)
        .orderBy(col("doc_id"))),
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(range(0, len(w))) AS pos, w
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w
           |        FROM documents WHERE doc_id % 10 = 0)),
           |t2 AS (
           |  SELECT doc_id, pos, w[pos + 1] AS word,
           |    (${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 5) = 0 AS m
           |  FROM toks),
           |f AS (
           |  SELECT *, m AND NOT COALESCE(LAG(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS run_start
           |  FROM t2),
           |kk AS (
           |  SELECT *, SUM(CASE WHEN run_start THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
           |  FROM f),
           |p AS (
           |  SELECT doc_id, pos, run_start, m,
           |    CASE WHEN NOT m THEN word
           |         WHEN run_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' END AS piece_in,
           |    CASE WHEN run_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' || ' ' || word
           |         WHEN m THEN word END AS piece_tgt
           |  FROM kk)
           |SELECT doc_id,
           |  COALESCE(string_agg(piece_in, ' ' ORDER BY pos), '') AS input_text,
           |  COALESCE(string_agg(piece_tgt, ' ' ORDER BY pos), '') AS target_text,
           |  CAST(SUM(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
           |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // cross-language z-score calibration of the quality score: per-lang
    // mean/std from EXACT decimal power sums (the agg_corr_stats
    // contract) broadcast back onto the corpus — the standardization a
    // mixed-language quality gate needs (raw scores aren't comparable
    // across languages; sibling of the percentile calibration, but
    // parametric). Quality quantized to 9 decimals pre-sum so the power
    // sums are order- and engine-exact
    QuerySpec("text_quality_zscore", ((s, d) => {
      val q = round(TextAnalysis.qualityScore(col("text")), 9)
        .cast(DecimalType(18, 9))
      val scored = par(s, docs(s, d)).select(col("doc_id"), col("lang"), q.as("q"))
      // the sums are EXACT decimals; they cast to identical doubles in
      // both engines, and from there the mean/std arithmetic is the same
      // IEEE expression tree (decimal×decimal×n would instead hit Spark's
      // precision-loss scale reduction, which DuckDB doesn't replicate)
      val stats = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sqq"))
        .select(col("lang"), col("n"),
          (col("sq").cast("double") / col("n").cast("double")).as("mean_q"),
          sqrt((col("n").cast("double") * col("sqq").cast("double") -
              col("sq").cast("double") * col("sq").cast("double")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0))).as("std_q"))
      scored.join(broadcast(stats), "lang")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          col("q").cast("double").as("quality"),
          round((col("q").cast("double") - col("mean_q")) / col("std_q"), 6).as("z"))
        .orderBy(col("doc_id"))
    }),
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |    CAST(round(${qualitySql("text")}, 9) AS DECIMAL(18,9)) AS q
           |  FROM documents),
           |stats AS (
           |  SELECT lang, COUNT(*) AS n, SUM(q) AS sq, SUM(q * q) AS sqq
           |  FROM scored GROUP BY lang),
           |st AS (
           |  SELECT lang, n,
           |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
           |    SQRT((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
           |        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
           |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS std_q
           |  FROM stats)
           |SELECT s.doc_id, s.lang, CAST(s.q AS DOUBLE) AS quality,
           |  round((CAST(s.q AS DOUBLE) - st.mean_q) / st.std_q, 6) AS z
           |FROM scored s JOIN st ON s.lang = st.lang
           |WHERE s.doc_id % 3 = 0 ORDER BY s.doc_id""".stripMargin),
    // out-of-vocabulary rate against the corpus top-200 vocabulary — the
    // gibberish-detector quality signal (vocab broadcasts)
    QuerySpec("text_oov_rate", ((s, d) =>
      TextAnalysis.oovRate(par(s, docs(s, d)), v = 200).orderBy(col("doc_id"))),
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          |vocab AS (SELECT w AS vw FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w ORDER BY c DESC, w ASC LIMIT 200))
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |  CAST(COUNT(*) FILTER (vw IS NULL) AS BIGINT) AS n_oov,
          |  CAST(COUNT(*) FILTER (vw IS NULL) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
          |FROM tok LEFT JOIN vocab ON w = vw
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // PII scrub (emails/phones/IPv4 → typed sentinels): the fixture
    // corpus is synthetic and PII-free, so leakage is INJECTED from
    // doc_id arithmetic (both engines replay the injection — the
    // audit_referential pattern). Per-source rollup carries the exact
    // counts plus a hash-sum of every redacted text, pinning the
    // replacement output byte-for-byte. Pure per-row regex — no shuffle
    // before the final rollup
    QuerySpec("text_pii_redact", ((s, d) =>
      TextAnalysis.piiRedact(piiInjectedDocs(s, d), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("n_email"),
          sum(col("n_phone")).as("n_phone"),
          sum(col("n_ip")).as("n_ip"),
          sum(Dedup.md5Int32(col("redacted"))).as("redacted_hashsum"))
        .orderBy(col("source"))),
      {
        val em = TextAnalysis.PiiEmail
        val ph = TextAnalysis.PiiPhone
        val ip = TextAnalysis.PiiIp
        s"""WITH injected AS (
           |  SELECT doc_id, source, text ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           |    CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.9' ELSE '' END AS text
           |  FROM documents),
           |s1 AS (SELECT doc_id, source,
           |    CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
           |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1 FROM injected),
           |s2 AS (SELECT doc_id, source, n_email,
           |    CAST(len(regexp_extract_all(t1, '$ph')) AS BIGINT) AS n_phone,
           |    regexp_replace(t1, '$ph', '<PHONE>', 'g') AS t2 FROM s1),
           |s3 AS (SELECT doc_id, source, n_email, n_phone,
           |    CAST(len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_ip,
           |    regexp_replace(t2, '$ip', '<IP>', 'g') AS redacted FROM s2)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n_email) AS BIGINT) AS n_email,
           |  CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           |  CAST(SUM(n_ip) AS BIGINT) AS n_ip,
           |  CAST(SUM(${Dedup.md5Int32Sql("redacted")}) AS BIGINT) AS redacted_hashsum
           |FROM s3 GROUP BY source ORDER BY source""".stripMargin
      }),
    // per-source PII EXPOSURE report (r13, re-adding the capability the
    // b06e9a9→5193e6 add/revert cycle dropped): docs-carrying-PII per
    // class + any-class rate + occurrence totals, per source — the
    // governance readout a curation pipeline gates releases on, composed
    // from the SAME single pattern set the redaction pass uses (no second
    // regex table). One map-side per-source aggregation over the per-row
    // counts; streams at 100 TB
    QuerySpec("text_pii_report", ((s, d) =>
      TextAnalysis.piiReport(
        TextAnalysis.piiRedact(piiInjectedDocs(s, d), "text"), "source")
        .orderBy(col("source"))),
      {
        val em = TextAnalysis.PiiEmail
        val ph = TextAnalysis.PiiPhone
        val ip = TextAnalysis.PiiIp
        s"""WITH injected AS (
           |  SELECT doc_id, source, text ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           |    CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.9' ELSE '' END AS text
           |  FROM documents),
           |s1 AS (SELECT doc_id, source,
           |    CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
           |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1 FROM injected),
           |s2 AS (SELECT doc_id, source, n_email,
           |    CAST(len(regexp_extract_all(t1, '$ph')) AS BIGINT) AS n_phone,
           |    regexp_replace(t1, '$ph', '<PHONE>', 'g') AS t2 FROM s1),
           |s3 AS (SELECT doc_id, source, n_email, n_phone,
           |    CAST(len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_ip FROM s2)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
           |  CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
           |  CAST(SUM(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ip,
           |  CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_any,
           |  CAST(SUM(n_email) AS BIGINT) AS occ_email,
           |  CAST(SUM(n_phone) AS BIGINT) AS occ_phone,
           |  CAST(SUM(n_ip) AS BIGINT) AS occ_ip,
           |  CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS pii_doc_rate
           |FROM s3 GROUP BY source ORDER BY source""".stripMargin
      }),
    // bigram LM quality scoring (perplexity-filter shape): train on the
    // doc_id%10==0 slice, score the held-out doc_id%10==5 slice
    QuerySpec("text_bigram_lm", ((s, d) => {
      val all = par(s, docs(s, d))
      graft.operators.LangModel.scoreHeldOut(
          all.filter(col("doc_id") % 10 === 0),
          all.filter(col("doc_id") % 10 === 5))
        .orderBy(col("doc_id"))
    }),
        """WITH train AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
          |tb AS (SELECT w[i] AS w1, w[i+1] AS w2
          |       FROM train, unnest(range(1, len(w))) AS t(i)),
          |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tb GROUP BY w1, w2),
          |c1 AS (SELECT w1, COUNT(*) AS c1 FROM tb GROUP BY w1),
          |vocab AS (SELECT COUNT(DISTINCT u.word) AS v FROM train, unnest(w) AS u(word)),
          |held AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 5),
          |hb AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
          |       FROM held, unnest(range(1, len(w))) AS t(i)),
          |scored AS (
          |  SELECT hb.doc_id,
          |    CAST(ROUND(LN((COALESCE(c12.c12, 0) + 1.0) / (COALESCE(c1.c1, 0) + vocab.v)), 6)
          |      AS DECIMAL(18,6)) AS lp
          |  FROM hb LEFT JOIN c12 ON hb.w1 = c12.w1 AND hb.w2 = c12.w2
          |          LEFT JOIN c1 ON hb.w1 = c1.w1
          |          CROSS JOIN vocab)
          |SELECT doc_id, COUNT(*) AS n_bigrams,
          |  CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_logp
          |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // inverted-index postings (lexical retrieval index — the text sibling
    // of the Grid cell index): word → sorted posting list + df. Lists
    // sort AFTER collection (collect_set order is partition-dependent)
    QuerySpec("text_inverted_postings", ((s, d) =>
      TextAnalysis.invertedPostings(
          par(s, docs(s, d).filter(col("doc_id") % 10 === 0)), minDf = 2)
        .select(col("w"), col("df"),
          concat_ws(",", transform(col("doc_ids"), i => i.cast("string"))).as("postings"))
        .orderBy(col("w"))),
        """SELECT w, COUNT(*) AS df, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
          |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
          |      FROM documents WHERE doc_id % 10 = 0)
          |GROUP BY w HAVING COUNT(*) >= 2 ORDER BY w""".stripMargin),
    // Okapi BM25 ranking for a fixed query-term bag: corpus stats reduce
    // to broadcast scalars, scoring is one codegen'd pass + distributed
    // top-k. Scores rounded before ranking so sub-ulp ln() drift can't
    // flip the cross-engine order
    QuerySpec("text_bm25_topk", ((s, d) =>
      TextAnalysis.bm25TopK(par(s, docs(s, d)),
        terms = Seq("spark", "table", "query"), k = K)),
      bm25ScoredSql(K)),
    // Zipf slope of the corpus term-frequency distribution: least-squares
    // fit of ln(freq) ~ ln(rank) over the top-100 terms — the healthiness
    // statistic of a text corpus (natural text ≈ -1). Per-term lns are
    // decimal-quantized BEFORE the power sums so the fit is exact integer
    // arithmetic until one final double division
    QuerySpec("text_zipf_slope", ((s, d) => {
      val ranked = TextAnalysis.topVocab(par(s, docs(s, d)), v = 100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("w").asc)))
      val q = ranked.select(
        round(log(col("rank").cast("double")), 6).cast(DecimalType(18, 6)).as("x"),
        round(log(col("c").cast("double")), 6).cast(DecimalType(18, 6)).as("y"))
      q.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          ((col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / col("n"))
            / (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n")))
            .as("zipf_slope"))
    }),
        """WITH tv AS (
          |  SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank FROM (
          |    SELECT w, COUNT(*) AS c FROM (
          |      SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |    GROUP BY w ORDER BY c DESC, w ASC LIMIT 100)),
          |q AS (
          |  SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
          |         CAST(ROUND(LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
          |  FROM tv)
          |SELECT COUNT(*) AS n,
          |  (CAST(SUM(x * y) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE) / COUNT(*))
          |    / (CAST(SUM(x * x) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS zipf_slope
          |FROM q""".stripMargin),
    // BPE tokenizer training (vocabulary learning): corpus → word-freq
    // table (the one corpus-scale shuffle) → iterative weighted pair
    // merges on the compact dictionary. Fully oracle-checked — DuckDB
    // replays the unrolled training loop (Bpe.oracleSql)
    QuerySpec("text_bpe_merges", ((s, d) =>
      graft.operators.Bpe.train(par(s, docs(s, d)), nMerges = 4)),
      graft.operators.Bpe.oracleSql(4)),
    // BPE encode with the learned merges: per-doc token/char counts — the
    // sequence-length statistic the packing stage consumes
    QuerySpec("text_bpe_token_counts", ((s, d) =>
      graft.operators.Bpe.trainAndEncode(par(s, docs(s, d)), nMerges = 4)
        .orderBy(col("doc_id"))),
      graft.operators.Bpe.encodeOracleSql(4)),
    // byte-level BPE (r16, GPT-2 family): the symbol alphabet is the UTF-8
    // BYTE sequence (hex-pair symbols), so any string decomposes and the
    // tokenizer has no OOV hole — the byte fallback the code-point
    // tokenizers lack. Same unrolled-training-loop oracle contract as
    // text_bpe_merges (ByteBpe.oracleSql)
    QuerySpec("text_bytebpe_merges", ((s, d) =>
      graft.operators.ByteBpe.train(par(s, docs(s, d)), nMerges = 4)),
      graft.operators.ByteBpe.oracleSql(4)),
    // byte-level encode: per-doc token/byte counts under the learned
    // merges — n_bytes is the no-OOV invariant ceiling (zero merges ⇒
    // n_tokens == n_bytes for EVERY document, unseen scripts included)
    QuerySpec("text_bytebpe_token_counts", ((s, d) =>
      graft.operators.ByteBpe.trainAndEncode(par(s, docs(s, d)), nMerges = 4)
        .orderBy(col("doc_id"))),
      graft.operators.ByteBpe.encodeOracleSql(4)),
    // unigram-LM (SentencePiece-family) tokenizer training (r14): seed
    // substring counts → hard-EM Viterbi rounds with micro-unit quantized
    // log-probs → prune to target vocab + chars → final usage counts.
    // Every intermediate is integer/decimal-exact, so the ENTIRE training
    // loop replays as unrolled DuckDB CTEs (Unigram.vocabOracleSql) —
    // same contract as text_bpe_merges
    QuerySpec("text_unigram_vocab", ((s, d) =>
      graft.operators.Unigram.train(par(s, docs(s, d)))._1),
      graft.operators.Unigram.vocabOracleSql()),
    // unigram encode: per-doc Viterbi token/char counts under the trained
    // vocab — the sequence-length statistic for packing, over the
    // broadcast distinct-word dictionary like text_bpe_token_counts
    QuerySpec("text_unigram_token_counts", ((s, d) =>
      graft.operators.Unigram.trainAndEncode(par(s, docs(s, d)))
        .orderBy(col("doc_id"))),
      graft.operators.Unigram.encodeOracleSql()),
    // unigram-vocab fertility by source — the same tokenizer-efficiency
    // row for the SECOND tokenizer family, so the data card can compare
    // BPE vs unigram compression on each source
    QuerySpec("text_unigram_fertility", ((s, d) =>
      graft.operators.Unigram.trainAndFertility(par(s, docs(s, d)))
        .orderBy(col("source"))),
      graft.operators.Unigram.fertilityOracleSql()),
    // per-source tokenizer fertility (tokens/word, chars/token) under the
    // learned merges — the tokenizer-efficiency row of the corpus data
    // card; |sources| output rows at any corpus size
    QuerySpec("text_token_fertility", ((s, d) =>
      graft.operators.Bpe.trainAndFertility(par(s, docs(s, d)), nMerges = 4,
          groupCol = "source")
        .orderBy(col("source"))),
      graft.operators.Bpe.fertilityOracleSql(4)),
    // corpus-level boilerplate removal (C4-style "drop lines repeated
    // across documents", over width-3 word segments): explode → distinct-
    // count → anti-join → position-ordered reconstruction; 231 repeated
    // segments at sf0.01 make the removal path non-vacuous
    QuerySpec("text_boilerplate_removal", ((s, d) =>
      TextAnalysis.boilerplateRemove(par(s, docs(s, d)), width = 3, minDocs = 3)
        .orderBy(col("doc_id"))),
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |base AS (SELECT doc_id, CAST(ceil(len(w) / 3.0) AS INT) AS n_segments, w FROM d),
          |segs AS (
          |  SELECT doc_id, struct_extract(s, 'pos') AS seg_pos, struct_extract(s, 'seg') AS seg
          |  FROM (SELECT doc_id, unnest(list_transform(range(0, n_segments),
          |          i -> {'pos': i, 'seg': array_to_string(w[i*3+1:i*3+3], ' ')})) AS s
          |        FROM base)),
          |common AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3),
          |kept AS (
          |  SELECT doc_id, COUNT(*) AS n_kept,
          |    string_agg(seg, ' ' ORDER BY seg_pos) AS clean_text
          |  FROM segs WHERE seg NOT IN (SELECT seg FROM common)
          |  GROUP BY doc_id)
          |SELECT b.doc_id, b.n_segments,
          |  CAST(b.n_segments - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
          |  COALESCE(k.clean_text, '') AS clean_text
          |FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
          |ORDER BY b.doc_id""".stripMargin),
    // chi-square independence over the lang × source contingency table
    // (corpus-composition drift test): marginals and observed counts are
    // three tiny aggregations of one scan; zero cells enter with their
    // expected mass (marginal cross join ⟕ observed); per-cell terms are
    // 9-decimal-quantized so the summed statistic is engine-exact
    QuerySpec("text_chi2_lang_source", ((s, d) => {
      val dd = docs(s, d)
      val rt = dd.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
      val ct = dd.groupBy(col("source")).agg(count(lit(1)).as("ct"))
      val o = dd.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val nn = dd.agg(count(lit(1)).as("nn"))
      val e = (col("rt") * col("ct")).cast("double") / col("nn")
      val dev = col("o").cast("double") - col("e")
      rt.crossJoin(ct).crossJoin(broadcast(nn))
        .join(o, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .withColumn("e", e)
        .withColumn("term", round(dev * dev / col("e"), 9).cast(DecimalType(28, 9)))
        .agg(count(lit(1)).as("n_cells"), sum(col("term")).cast("double").as("chi2"))
    }),
        """WITH rt AS (SELECT lang, COUNT(*) AS rt FROM documents GROUP BY lang),
          |ct AS (SELECT source, COUNT(*) AS ct FROM documents GROUP BY source),
          |obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
          |nn AS (SELECT COUNT(*) AS nn FROM documents),
          |cells AS (
          |  SELECT r.lang, c.source, COALESCE(obs.o, 0) AS o,
          |    CAST(r.rt * c.ct AS DOUBLE) / nn.nn AS e
          |  FROM rt r CROSS JOIN ct c CROSS JOIN nn
          |  LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source)
          |SELECT COUNT(*) AS n_cells,
          |  CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 9)
          |                AS DECIMAL(28,9))) AS DOUBLE) AS chi2
          |FROM cells""".stripMargin),
    // rank-based AUC of the fastText-shape classifier against the binary
    // en/non-en label — the calibration statistic a quality-gate deploy
    // monitors. Pair counting over the per-SCORE histogram (concordant +
    // half of ties), so everything but the final division is integer-
    // exact; the running-negatives window is over |distinct scores| rows
    // (at 100 TB, bucket the scores first — the histogram, not the
    // corpus, bounds the window)
    QuerySpec("rank_auc_classifier", ((s, d) => {
      val g = par(s, docs(s, d))
        .select(TextAnalysis.classifierRawScore(col("text")).as("score"),
          (col("lang") === "en").cast("int").as("pos"))
        .groupBy(col("score"))
        .agg(sum(col("pos")).as("pos_g"), sum(lit(1) - col("pos")).as("neg_g"))
      val below = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("neg_below", coalesce(sum(col("neg_g")).over(below), lit(0L)))
        .agg(sum(col("pos_g")).as("n_pos"), sum(col("neg_g")).as("n_neg"),
          sum(col("pos_g") * col("neg_below")).as("conc"),
          sum(col("pos_g") * col("neg_g")).as("tied"))
        .select(col("n_pos"), col("n_neg"),
          ((lit(2L) * col("conc") + col("tied")).cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
    }),
        s"""WITH g AS (
           |  SELECT score, SUM(pos) AS pos_g, SUM(1 - pos) AS neg_g FROM (
           |    SELECT CAST(list_sum(list_transform(string_split(text, ' '), w -> (${Dedup.md5Int32Sql("w")} % 21) - 10)) AS BIGINT) AS score,
           |      CAST(lang = 'en' AS INT) AS pos
           |    FROM documents) GROUP BY score),
           |b AS (
           |  SELECT pos_g, neg_g,
           |    COALESCE(SUM(neg_g) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
           |  FROM g)
           |SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos, CAST(SUM(neg_g) AS BIGINT) AS n_neg,
           |  CAST(2 * SUM(pos_g * neg_below) + SUM(pos_g * neg_g) AS DOUBLE)
           |    / CAST(2 * SUM(pos_g) * SUM(neg_g) AS DOUBLE) AS auc
           |FROM b""".stripMargin),
    // PMI bigram collocations: corpus bigram/unigram counts → pointwise
    // mutual information ranking (Church–Hanks). One aggregation per
    // count table, 1-row broadcast totals, |vocab|-sized count joins; all
    // five ln terms 9-decimal-quantized so rank AND value are engine-exact
    QuerySpec("text_pmi_bigrams", ((s, d) =>
      TextAnalysis.pmiBigrams(par(s, docs(s, d)), minCount = 5, k = 20)),
      {
        def q(v: String) =
          s"CAST(round(ln(CAST($v AS DOUBLE)), 9) AS DECIMAL(18,9))"
        s"""WITH words_t AS (SELECT string_split(text, ' ') AS w FROM documents),
           |grams AS (
           |  SELECT w[i+1] AS x, w[i+2] AS y
           |  FROM (SELECT w, unnest(range(0, len(w) - 1)) AS i
           |        FROM words_t WHERE len(w) >= 2)),
           |uni AS (SELECT unnest(w) AS t FROM words_t),
           |cxy AS (SELECT x, y, COUNT(*) AS n FROM grams GROUP BY x, y),
           |cx AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
           |tot AS (SELECT (SELECT COUNT(*) FROM uni) AS nuni,
           |               (SELECT COUNT(*) FROM grams) AS nbi)
           |SELECT x, y, n,
           |  CAST(${q("n")} - ${q("nbi")} - ${q("a.c")} - ${q("b.c")}
           |    + ${q("nuni")} + ${q("nuni")} AS DOUBLE) AS pmi
           |FROM cxy JOIN cx a ON a.t = cxy.x JOIN cx b ON b.t = cxy.y
           |CROSS JOIN tot
           |WHERE n >= 5
           |ORDER BY pmi DESC, x ASC, y ASC LIMIT 20""".stripMargin
      }),
    // per-document letter-distribution Shannon entropy (Gopher-family
    // quality signal): 26 translate length-diffs per row — no explode,
    // ZERO shuffles; exact-decimal weighted ln sum, one double division
    QuerySpec("text_letter_entropy", ((s, d) =>
      TextAnalysis.letterEntropy(docs(s, d)).orderBy(col("doc_id"))),
      {
        def q(v: String) =
          s"CAST(round(ln(CAST($v AS DOUBLE)), 9) AS DECIMAL(18,9))"
        val cCols = TextAnalysis.Letters.map(ch =>
          s"(length(t) - length(replace(t, '$ch', ''))) AS c_$ch").mkString(", ")
        val nExpr = TextAnalysis.Letters.map(ch => s"c_$ch").mkString(" + ")
        val terms = TextAnalysis.Letters.map { ch =>
          s"CASE WHEN c_$ch > 0 THEN CAST(CAST(c_$ch AS DECIMAL(10,0)) * ${q(s"c_$ch")} AS DECIMAL(29,9)) ELSE CAST(0 AS DECIMAL(29,9)) END"
        }.mkString("(", " + ", ")")
        s"""WITH t0 AS (SELECT doc_id, lower(text) AS t FROM documents),
           |c0 AS (SELECT doc_id, $cCols FROM t0),
           |n0 AS (SELECT *, ($nExpr) AS n FROM c0)
           |SELECT doc_id, n AS n_letters,
           |  CAST(CAST(CAST(n AS DECIMAL(10,0)) * ${q("n")} AS DECIMAL(29,9)) - $terms AS DOUBLE)
           |    / CAST(n AS DOUBLE) AS entropy
           |FROM n0 WHERE n >= 1 ORDER BY doc_id""".stripMargin
      }),
    // per-source language-mix Shannon entropy — the diversity statistic a
    // corpus governance report tracks per provider (0 = monolingual,
    // ln(5) ≈ 1.609 = uniform over the fixture's five languages). One
    // |src×lang| aggregation; the −Σ p·ln p terms are 9-decimal-quantized
    // pre-sum (the chi2/PMI ln contract) so the statistic is engine-exact
    QuerySpec("text_lang_mix_entropy", ((s, d) => {
      val cnt = docs(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
      cnt.join(tot, "source")
        .withColumn("p", col("n").cast("double") / col("n_src").cast("double"))
        .withColumn("term",
          round(-col("p") * log(col("p")), 9).cast(DecimalType(18, 9)))
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(col("term")).cast("double").as("lang_entropy"))
        .orderBy(col("source"))
    }),
        """WITH cnt AS (
          |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM documents GROUP BY source, lang),
          |tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_src FROM cnt GROUP BY source)
          |SELECT source, MAX(n_src) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_langs,
          |  CAST(SUM(CAST(round(-(CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE))
          |    * ln(CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE)), 9) AS DECIMAL(18,9))) AS DOUBLE)
          |    AS lang_entropy
          |FROM cnt JOIN tot USING (source)
          |GROUP BY source ORDER BY source""".stripMargin),
    // GLOBAL row_number over every order WITHOUT the single-task
    // unpartitioned window: range repartition + per-partition offsets +
    // parallel intra-partition ranking (operators/Ranking). The rank
    // assignment is unique under the total order, so the oracle's plain
    // OVER (ORDER BY ...) replays it exactly
    QuerySpec("rank_global_scalable", ((s, d) =>
      graft.operators.Ranking.globalRowNumber(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), "rnk")
        .orderBy(col("rnk"))),
        """SELECT o_orderkey, o_totalprice,
          |  CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
          |FROM orders ORDER BY rnk""".stripMargin),
    // --- round-7: exact substring-repeat dedup via suffix arrays (the
    // Lee et al. primitive the hashed n-gram spans approximate). Both are
    // pure per-document maps — each task builds ONE doc's SA, no shuffle,
    // no cross-doc state — so the corpus-scale cost is a single pass.
    // per-doc longest intra-doc repeated substring (max adjacent-LCP):
    // the doc-level repetitiveness statistic; brute O(m²) oracle bounded
    // to the %5 doc subset
    QuerySpec("text_longest_repeat_sa", ((s, d) => {
      val lr = udf((t: String) => graft.operators.SuffixArray.longestRepeat(t))
      par(s, docs(s, d)).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lr(col("text")).cast("bigint").as("longest_repeat"))
        .orderBy(col("doc_id"))
    }),
      // brute replay of the suffix-array longest intra-doc repeat: a length
      // L repeats in a doc iff some L-gram occurs ≥ 2 times — enumerate
      // every (L, start) pair (O(m²) rows, bounded by the %5 doc subset)
      // Suffix-sort + adjacent-LCP form (r17): the longest substring
      // occurring at ≥2 distinct positions equals the max longest-common-
      // prefix over ADJACENT suffixes in sorted order (any repeat of
      // length L makes two suffixes share an L-prefix, and sorted order
      // puts the maximizing pair next to each other; overlapping
      // occurrences included — e.g. "aaa" → suffixes "aaa"/"aa", LCP 2).
      // The previous all-grams form materialized every substring of every
      // length — O(len³) characters, 22 s and a near-2GB spike in the r16
      // driver's starved sweep; this is O(len²) and <0.2 s, same rows.
        """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
          |sfx AS (
          |  SELECT doc_id, substr(text, CAST(i AS INT)) AS s
          |  FROM (SELECT doc_id, text, UNNEST(generate_series(1, length(text))) AS i FROM d)),
          |ord AS (
          |  SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS rn
          |  FROM sfx),
          |adj AS (
          |  SELECT a.doc_id, a.rn, a.s AS s1, b.s AS s2,
          |    LEAST(length(a.s), length(b.s)) AS ml
          |  FROM ord a JOIN ord b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
          |lcp AS (
          |  SELECT doc_id, rn,
          |    COALESCE(MIN(CASE WHEN substr(s1, CAST(i AS INT), 1) <> substr(s2, CAST(i AS INT), 1) THEN i END) - 1, ml) AS l
          |  FROM (SELECT doc_id, rn, s1, s2, ml, UNNEST(generate_series(1, ml)) AS i FROM adj)
          |  GROUP BY doc_id, rn, ml),
          |best AS (SELECT doc_id, MAX(l) AS lr FROM lcp GROUP BY doc_id)
          |SELECT d.doc_id, CAST(COALESCE(b.lr, 0) AS BIGINT) AS longest_repeat
          |FROM d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    // per-doc characters covered by an intra-doc repeated substring of
    // length ≥ 10 — the duplicated-text mass a substring-level dedup would
    // cut. SA coverage ≡ exact 10-gram coverage (SuffixArraySpec), which
    // is what the linear-cost oracle replays over the FULL corpus
    QuerySpec("text_repeat_coverage_sa", ((s, d) => {
      val cov = udf((t: String) => graft.operators.SuffixArray.repeatCoverage(t, 10))
      par(s, docs(s, d))
        .select(col("doc_id"), cov(col("text")).cast("bigint").as("covered_chars"))
        .orderBy(col("doc_id"))
    }),
      // exact 10-gram coverage ≡ SA repeat coverage (the SuffixArraySpec
      // identity): duplicated-gram starts expand to their 10 positions,
      // DISTINCT-counted per doc — linear in corpus characters
        """WITH g AS (
          |  SELECT doc_id, i, substr(text, CAST(i AS INT), 10) AS gr
          |  FROM (SELECT doc_id, text, UNNEST(generate_series(1, length(text) - 9)) AS i
          |        FROM documents WHERE length(text) >= 10)),
          |dup AS (
          |  SELECT doc_id, i FROM (
          |    SELECT doc_id, i, COUNT(*) OVER (PARTITION BY doc_id, gr) AS c FROM g)
          |  WHERE c > 1),
          |cov AS (
          |  SELECT doc_id, COUNT(DISTINCT i + o) AS covered
          |  FROM dup CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS o)
          |  GROUP BY doc_id)
          |SELECT d.doc_id, CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_chars
          |FROM documents d LEFT JOIN cov c USING (doc_id) ORDER BY d.doc_id""".stripMargin)
  )
}
