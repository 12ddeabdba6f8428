package graft.queries

import graft.core.Tables
import graft.functions.Distances
import graft.index.Grid
import graft.multimodal.Multimodal
import graft.operators.{Dedup, TextAnalysis}
import graft.oracle.DuckSql
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Curation-pipeline, multimodal, governance, audit and drift queries: each
  * query's Spark plan is declared beside its DuckDB oracle SQL. */
object PipelineQueries {
  import Shared._

  /** Query histogram for media_embed_knn (= fixture image 1's embedding). */
  private val MediaQ8: Array[Double] =
    Array(0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5)

  /** The full curation-pipeline CTE chain (gate → exact dedup → MinHash
    * sigs → LSH buckets → verified edges → recursive CC `clusters`) —
    * shared by the pipeline_curation result query and the funnel report,
    * so both oracles replay literally the same stages. */
  private def curationChainSql: String =
    s"""WITH RECURSIVE gated AS (
       |  ${qualityGateSql(0.3, "en")}
       |), exact AS (
       |  SELECT doc_id, text FROM gated
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY md5(text))
       |), words_t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM exact
       |), sig AS (
       |  SELECT doc_id, $minsSql
       |  FROM (
       |    SELECT doc_id, ${Dedup.md5Int32Sql("shingle")} AS h FROM (
       |      SELECT doc_id, unnest($ssetSql) AS shingle FROM words_t
       |    )
       |  ) GROUP BY doc_id
       |), buckets AS (
       |  $cappedBandBucketsSql
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, $ssetSql AS sset FROM words_t
       |), edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) / CAST(len(list_distinct(list_cat(sa.sset, sb.sset))) AS DOUBLE) AS jac
       |    FROM cand JOIN sets sa ON sa.doc_id = cand.id_a JOIN sets sb ON sb.doc_id = cand.id_b
       |  ) WHERE jac >= ${DuckSql.fmt(0.5)}
       |), sym AS MATERIALIZED (
       |  SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges
       |), reach(id, lab) AS (
       |  SELECT DISTINCT src AS id, src AS lab FROM sym
       |  UNION
       |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
       |), clusters AS (
       |  SELECT id, MIN(lab) AS canonical FROM reach GROUP BY id
       |), lsh_drops AS (
       |  SELECT band, bkey, COUNT(*) AS n_docs FROM ($bandSelectsSql)
       |  GROUP BY band, bkey HAVING COUNT(*) > ${Dedup.LshMaxBucket}
       |)""".stripMargin

  /** DuckDB replay of Multimodal.{mediaFromDocuments, extractFeatures}:
    * the stub decode's Long-wraparound polynomial checksum folds in
    * HUGEINT mod 2^64 (list_reduce over the text's chars — the fixture is
    * ASCII, so code points == UTF-8 bytes), then re-signs; width/height
    * read power-of-two bit fields (identical for signed/unsigned), and
    * the frame counts correct the arithmetic-shift sign extension with
    * (m - 2^44 mod m) offsets for the non-power-of-two moduli. */
  private def mediaFeaturesSql: String =
    """WITH u AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    list_reduce(
      |      list_prepend(CAST(17 AS HUGEINT), list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
      |      (acc, x) -> (acc * 31 + x) % CAST('18446744073709551616' AS HUGEINT)
      |    ) AS uh
      |  FROM documents
      |), f AS (
      |  SELECT media_id, kind, n_bytes,
      |    CAST(CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
      |         THEN uh - CAST('18446744073709551616' AS HUGEINT) ELSE uh END AS BIGINT) AS checksum,
      |    CAST(16 + uh % 1024 AS INT) AS width,
      |    CAST(16 + (uh // 1024) % 1024 AS INT) AS height,
      |    CAST(uh // 1048576 AS BIGINT) AS h20,
      |    (uh >= CAST('9223372036854775808' AS HUGEINT)) AS neg
      |  FROM u
      |)
      |SELECT media_id, kind, n_bytes, checksum, width, height,
      |  CAST(CASE kind
      |    WHEN 'video' THEN 1 + (h20 % 300 + CASE WHEN neg THEN 284 ELSE 0 END) % 300
      |    WHEN 'audio' THEN 1 + (h20 % 48000 + CASE WHEN neg THEN 3584 ELSE 0 END) % 48000
      |    ELSE 1 END AS INT) AS n_frames
      |FROM f""".stripMargin

  /** quality score + lang_pred over a relation providing (doc_id, text). */
  private def qualityGateSql(minQuality: Double, lang: String): String = {
    val nw = nWordsSql("text"); val ns = nStopSql("text")
    s"""SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       |        + LEAST((CAST($ns AS DOUBLE) / CAST($nw AS DOUBLE)) * 10.0, 1.0))
       |       + CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) / 3.0 AS quality,
       |      CASE WHEN (CAST($ns AS DOUBLE) / CAST($nw AS DOUBLE)) >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
       |    FROM (SELECT doc_id, text,
       |            CAST(length(text) - ($nw - 1) AS DOUBLE) / CAST($nw AS DOUBLE) AS awl
       |          FROM documents)
       |  ) WHERE quality >= ${DuckSql.fmt(minQuality)} AND lang_pred = '$lang'""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // embedding-space distribution drift: PSI per label between the
    // even-id (reference) and odd-id (current) halves of the corpus, with
    // the proven Grid cells as bins — the drift monitor for an embedding
    // distribution (re-train the IVF codebook when cells shift), composing
    // two hash-proven kernels; two |corpus|→|labels|×|cells| aggregations
    QuerySpec("drift_embedding_cells", ((s, d) =>
      graft.operators.Drift.psi(
          Grid.withCellId(emb(s, d), "embedding", gridCfg)
            .select(col("label"), col("cell_id"), (col("vec_id") % 2 === 0).as("is_ref")),
          "label", "cell_id", "is_ref",
          nBins = gridCfg.numCells.toInt)
        .orderBy(col("label"))),
        s"""WITH binned AS (
           |  SELECT label, ${Grid.cellIdSql(e, gridCfg)} AS bin,
           |    (vec_id % 2 = 0) AS is_ref
           |  FROM embeddings
           |), counts AS (
           |  SELECT label, bin,
           |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           |  FROM binned GROUP BY 1, 2
           |), tot AS (
           |  SELECT label,
           |    CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur
           |  FROM counts GROUP BY 1
           |), terms AS (
           |  SELECT c.label,
           |    (CAST(n_ref AS DOUBLE) + CAST('0.5' AS DOUBLE)) / (CAST(t_ref AS DOUBLE) + CAST('${gridCfg.numCells * 0.5}' AS DOUBLE)) AS pa,
           |    (CAST(n_cur AS DOUBLE) + CAST('0.5' AS DOUBLE)) / (CAST(t_cur AS DOUBLE) + CAST('${gridCfg.numCells * 0.5}' AS DOUBLE)) AS pb
           |  FROM counts c JOIN tot t USING (label)
           |)
           |SELECT label,
           |  CAST(SUM(CAST(ROUND((pa - pb) * LN(pa / pb), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi
           |FROM terms GROUP BY label ORDER BY label""".stripMargin),
    // end-to-end curation: quality/lang gate → exact dedup → LSH near-dup
    // clustering → canonical keep. The WHOLE pipeline is oracle-checked —
    // the DuckDB mirror composes the proven per-stage SQL fragments.
    QuerySpec("pipeline_curation", ((s, d) => {
      val (curated, _) = graft.pipeline.Curation.curate(par(s, docs(s, d)),
        withFunnel = false)
      curated.select(col("doc_id")).orderBy(col("doc_id"))
    }),
      {
        s"""$curationChainSql
           |SELECT doc_id FROM exact
           |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> canonical)
           |ORDER BY doc_id""".stripMargin
      }),
    // the funnel report of the SAME pipeline: per-stage survivor counts
    // (input → gate → exact dedup → near-dup dedup) — the observability
    // surface a production curation run ships to its dashboard; the
    // oracle recomputes every stage from the shared SQL chain
    QuerySpec("pipeline_funnel_report", ((s, d) => {
      import s.implicits._
      val (_, funnel) = graft.pipeline.Curation.curate(par(s, docs(s, d)),
        withFunnel = true)
      funnel.zipWithIndex
        .map { case ((stage, n), i) => (i.toLong, stage, n) }
        .toDF("stage_idx", "stage", "n_rows")
        .orderBy(col("stage_idx"))
    }),
      // funnel observability over the SAME chain: per-stage survivor
      // counts (input → gate → exact dedup → near-dup dedup)
      {
        s"""$curationChainSql,
           |curated AS (
           |  SELECT doc_id FROM exact
           |  WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> canonical))
           |SELECT * FROM (
           |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
           |    (SELECT COUNT(*) FROM documents) AS n_rows
           |  UNION ALL SELECT 1, 'quality_lang_gate', (SELECT COUNT(*) FROM gated)
           |  UNION ALL SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM exact)
           |  UNION ALL SELECT 3, 'near_dup_dedup', (SELECT COUNT(*) FROM curated)
           |  UNION ALL SELECT 4, 'lsh_dropped_buckets', (SELECT COUNT(*) FROM lsh_drops)
           |  UNION ALL SELECT 5, 'lsh_dropped_docs',
           |    (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) FROM lsh_drops)
           |) ORDER BY stage_idx""".stripMargin
      }),
    // GOVERNED-RELEASE funnel (r15): the privacy-gated publication flow a
    // corpus release runs end-to-end — quality/language gate (map-side)
    // → exact dedup (one hash shuffle) → k-anonymity SUPPRESSION on the
    // release quasi-identifiers (source, length bucket; null-safe
    // anti-join against the tiny violating list) → per-step row counts.
    // Each count is an independent aggregation job (the Profile.audit
    // shape); nothing in the chain holds driver state
    QuerySpec("pipeline_release_funnel", ((s, d) => {
      import graft.operators.{Dedup, Governance}
      val all = par(s, docs(s, d))
      val gated = graft.pipeline.Curation.qualityLangGate(all)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val deduped = Dedup.exactDedup(gated)
      val withQ = deduped
        .withColumn("cb", floor(col("n_chars") / 50).cast("int"))
      val released = Governance.kSuppress(withQ, Seq("source", "cb"), k = 5L)
      // r16 fused head (guide §1.2): steps 1-3 are conditional aggregates
      // of ONE corpus scan (gate predicate evaluated once; exact-dedup
      // survivors == countDistinct(md5(text)) over passers — the
      // CurationSpec pin); only the k-anonymity step still needs its own
      // branch (its count depends on the suppress anti-join). Previously
      // four union branches re-scanned the corpus and re-ran the gate.
      val pass = graft.pipeline.Curation.gatePassPredicate()
      // two-level aggregation (groupBy dedup key, then totals) instead of
      // countDistinct: avoids the mixed-distinct Expand; gate runs once/row
      val head3 = all
        .select(md5(col("text")).as("__k"), pass.cast("long").as("__p"))
        .groupBy(col("__k"))
        .agg(count(lit(1)).as("__c"), sum(col("__p")).as("__ps"))
        .agg(sum(col("__c")).as("n1"), sum(col("__ps")).as("n2"),
          sum((col("__ps") > 0).cast("long")).as("n3"))
        .select(explode(array(
          struct(lit("1_input").as("step"), col("n1").as("n_rows")),
          struct(lit("2_quality_lang").as("step"), col("n2").as("n_rows")),
          struct(lit("3_exact_dedup").as("step"), col("n3").as("n_rows")))).as("r"))
        .select(col("r.step"), col("r.n_rows"))
      head3.unionByName(
          released.agg(count(lit(1)).as("n_rows"))
            .select(lit("4_k_anon_release").as("step"), col("n_rows")))
        .orderBy(col("step"))
    }),
        s"""WITH gated AS (
           |  SELECT d.doc_id, d.text, d.source, d.n_chars
           |  FROM (
           |  ${qualityGateSql(0.3, "en")}
           |  ) g JOIN documents d ON d.doc_id = g.doc_id),
           |dedup AS (
           |  SELECT doc_id, source, n_chars FROM (
           |    SELECT doc_id, source, n_chars,
           |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM gated) WHERE rn = 1),
           |withq AS (
           |  SELECT doc_id, source, CAST(FLOOR(n_chars / 50) AS INT) AS cb FROM dedup),
           |viol AS (
           |  SELECT source, cb FROM withq GROUP BY 1, 2 HAVING COUNT(*) < 5),
           |released AS (
           |  SELECT * FROM withq q WHERE NOT EXISTS (
           |    SELECT 1 FROM viol v
           |    WHERE v.source IS NOT DISTINCT FROM q.source
           |      AND v.cb IS NOT DISTINCT FROM q.cb))
           |SELECT * FROM (
           |  SELECT '1_input' AS step, (SELECT COUNT(*) FROM documents) AS n_rows
           |  UNION ALL SELECT '2_quality_lang', (SELECT COUNT(*) FROM gated)
           |  UNION ALL SELECT '3_exact_dedup', (SELECT COUNT(*) FROM dedup)
           |  UNION ALL SELECT '4_k_anon_release', (SELECT COUNT(*) FROM released)
           |) ORDER BY step""".stripMargin),
    // end-to-end PRETRAINING data prep: quality/language gate →
    // benchmark decontamination → exact dedup → per-doc token stats. Like
    // pipeline_curation, the WHOLE composition is oracle-checked — the
    // DuckDB mirror chains the proven per-stage SQL fragments
    QuerySpec("pipeline_pretrain", ((s, d) => {
      val all = par(s, docs(s, d))
      val gated = graft.pipeline.Curation.qualityLangGate(all)
        .select(col("doc_id"), col("text"))
      val bench = all.filter(col("doc_id") % 50 === 0)
      val train = gated.filter(col("doc_id") % 50 =!= 0)
      val flags = graft.operators.Decontam.ngramOverlap(train, bench, n = 4)
      val clean = train
        .join(flags.filter(!col("contaminated")).select(col("doc_id")), "doc_id")
      Dedup.exactDedup(clean)
        .select(col("doc_id"), TextAnalysis.nWords(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
        s"""WITH gated AS (
           |  ${qualityGateSql(0.3, "en")}
           |), bench_g AS (
           |  SELECT DISTINCT ${Dedup.md5LongSql("g")} AS gh FROM (
           |    SELECT unnest(list_distinct(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' ')))) AS g
           |    FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 50 = 0))
           |), train AS (
           |  SELECT doc_id, text FROM gated WHERE doc_id % 50 <> 0
           |), train_g AS (
           |  SELECT doc_id, ${Dedup.md5LongSql("g")} AS gh FROM (
           |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' ')))) AS g
           |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train))
           |), contaminated AS (
           |  SELECT DISTINCT t.doc_id FROM train_g t JOIN bench_g USING (gh)
           |), clean AS (
           |  SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
           |), kept AS (
           |  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY md5(text)
           |)
           |SELECT c.doc_id, CAST(len(string_split(c.text, ' ')) AS INT) AS n_tokens
           |FROM clean c JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),
    // pretrain prep v2 — the round-10 curation stack composed end-to-end:
    // Gopher rule gate (map-side integer flags, pushed into the scan) →
    // CCNet perplexity-bucket filter (drop 'tail' under an LM trained on
    // the %10 slice) → exact dedup → deterministic epoch shuffle. Text
    // never moves after the gate: the bucket join carries only (doc_id,
    // digest, n_tokens); dedup is a struct-MIN groupBy on the digest; the
    // shuffle stage is one hash exchange + per-shard sort. Like
    // pipeline_pretrain, the WHOLE composition is oracle-checked by
    // chaining the proven per-stage SQL fragments
    QuerySpec("pipeline_pretrain_v2", ((s, d) => {
      val all = par(s, docs(s, d))
      val train = all.filter(col("doc_id") % 10 === 0)
      val gated = all.filter(col("doc_id") % 10 =!= 0 &&
        TextAnalysis.gopherKeep(col("text")))
      val buckets = graft.operators.LangModel.perplexityBuckets(train, gated)
        .filter(col("bucket") =!= "tail")
        .select(col("doc_id"), col("bucket"))
      val meta = gated.select(col("doc_id"), md5(col("text")).as("__digest"),
        TextAnalysis.nWords(col("text")).as("n_tokens"))
      val canon = buckets.join(meta, "doc_id")
        .groupBy(col("__digest"))
        .agg(min(struct(col("doc_id"), col("bucket"), col("n_tokens"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.bucket").as("bucket"),
          col("r.n_tokens").as("n_tokens"))
      graft.operators.Governance.epochShuffle(canon, col("doc_id"),
          seed = 7,
          // count-derived from the INPUT corpus (memoized catalog lookup —
          // counting `canon` itself would run the whole pipeline twice);
          // an upper bound of the survivors, which only makes shards
          // smaller than the target, never a skew cliff
          nShards = graft.operators.Governance.shardCountFor(docCount(s, d)))
        .orderBy(col("doc_id"))
    }),
      {
        val h = Dedup.md5Int32Sql("'7:' || CAST(k.doc_id AS VARCHAR)")
        s"""WITH gop AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id,
           |      CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           |      CAST(length(text) - len(string_split(text, ' ')) + 1 AS INT) AS chars,
           |      CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopListSql)) AS INT) AS n_stop,
           |      CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
           |    FROM documents WHERE doc_id % 10 <> 0)
           |  WHERE n_words >= 20 AND n_words <= 80 AND chars >= n_words * 3 AND chars <= n_words * 8
           |    AND n_stop * 50 >= n_words AND n_distinct * 2 >= n_words
           |), train AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
           |tb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM train, unnest(range(1, len(w))) AS t(i)),
           |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tb GROUP BY w1, w2),
           |c1 AS (SELECT w1, COUNT(*) AS c1 FROM tb GROUP BY w1),
           |vocab AS (SELECT COUNT(DISTINCT u.word) AS v FROM train, unnest(w) AS u(word)),
           |held AS (SELECT d.doc_id, string_split(d.text, ' ') AS w FROM documents d JOIN gop USING (doc_id)),
           |hb AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM held, unnest(range(1, len(w))) AS t(i)),
           |scored AS (
           |  SELECT hb.doc_id,
           |    CAST(ROUND(LN((COALESCE(c12.c12, 0) + 1.0) / (COALESCE(c1.c1, 0) + vocab.v)), 6)
           |      AS DECIMAL(18,6)) AS lp
           |  FROM hb LEFT JOIN c12 ON hb.w1 = c12.w1 AND hb.w2 = c12.w2
           |          LEFT JOIN c1 ON hb.w1 = c1.w1
           |          CROSS JOIN vocab),
           |buck AS (
           |  SELECT doc_id,
           |    CASE WHEN SUM(lp) < CAST(-3.55 AS DECIMAL(18,6)) * COUNT(*) THEN 'tail'
           |         WHEN SUM(lp) >= CAST(-3.49 AS DECIMAL(18,6)) * COUNT(*) THEN 'head'
           |         ELSE 'middle' END AS bucket
           |  FROM scored GROUP BY doc_id),
           |kept AS (
           |  SELECT b.doc_id, b.bucket, md5(d.text) AS digest,
           |    CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
           |  FROM buck b JOIN documents d USING (doc_id) WHERE b.bucket <> 'tail'),
           |canon AS (SELECT digest, MIN(doc_id) AS doc_id FROM kept GROUP BY digest),
           |ch AS (
           |  SELECT k.doc_id, k.bucket, k.n_tokens, ($h) AS h
           |  FROM kept k JOIN canon c ON k.digest = c.digest AND k.doc_id = c.doc_id),
           |ns AS (SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS n FROM documents)
           |SELECT doc_id, bucket, n_tokens, CAST(h % ns.n AS INT) AS shard,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY h % ns.n ORDER BY h, doc_id) AS INT) AS pos
           |FROM ch, ns ORDER BY doc_id""".stripMargin
      }),
    // --- multimodal plumbing (north star): binary payload, REAL decoder
    // on the id-shifted decode-fixture rows (media_id >= RealDecodeIdMin),
    // stub contract on corpus rows BY CONSTRUCTION (r16 — the r15 form
    // attempted the header-only decode on every image row, so the
    // stub-replay oracle held only because no corpus text payload happened
    // to start with an image magic; the id gate makes the choice
    // structural). The corpus is the text-payload media table UNIONed with
    // the id-shifted real-decode fixture, so the codec genuinely FIRES
    // inside this gated query: fixture image rows land their REAL decoded
    // dims (oracle rows carry the known-by-construction dims; checksums/
    // byte counts derive from the same deterministic payload bytes),
    // document rows and the junk/audio fixture rows replay the stub
    // fallback byte-exactly as before.
    QuerySpec("media_features", ((s, d) => {
      val corpus = Multimodal.mediaFromDocuments(par(s, docs(s, d)))
      val fx = Multimodal.realDecodeFixture(s)
        .select((col("media_id") + 1000000000L).as("media_id"),
          col("kind"), col("payload"))
      Multimodal.extractFeaturesReal(corpus.unionByName(fx))
        .toDF().orderBy(col("media_id"))
    }),
      {
        // fixture expected rows (r15): REAL-decoding image rows carry the
        // known-by-construction dims (frames = 1 stills); the junk and
        // non-image rows fall back to the stub, replayed driver-side over
        // the same deterministic payload bytes (which also supply
        // n_bytes and the polynomial checksum — payload identity, not
        // decode logic).
        val knownDims = Map(1L -> (8, 5, 1), 2L -> (20, 10, 1),
          3L -> (12, 7, 1), 4L -> (9, 9, 1), 5L -> (16, 4, 1))
        val fxRows = Multimodal.realDecodeFixtureRows.map { case (id, kind, payload) =>
          val checksum = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
          val (w, h, f) = knownDims.getOrElse(id, Multimodal.stubDecode(payload, kind))
          s"(CAST(${id + 1000000000L} AS BIGINT), '$kind', " +
            s"CAST(${payload.length} AS BIGINT), CAST($checksum AS BIGINT), $w, $h, $f)"
        }.mkString(",\n  ")
        s"""SELECT * FROM (
           |$mediaFeaturesSql
           |UNION ALL
           |SELECT * FROM (VALUES
           |  $fxRows) AS fx(media_id, kind, n_bytes, checksum, width, height, n_frames)
           |) ORDER BY media_id""".stripMargin
      }),
    // exact media dedup over the BINARY payload column (md5 of raw bytes —
    // the digest a 100 TB blob store dedups on; portable because md5 of a
    // UTF-8 payload equals DuckDB's md5 of the source text). The fixture
    // has no duplicate payloads, so a deterministic slice is re-keyed as
    // fresh ids — the digest/count/canonical path runs on NON-empty output
    // (an all-empty hash match proves nothing)
    QuerySpec("media_dedup_exact", ((s, d) => {
      val base = par(s, docs(s, d))
      val dups = base.filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Multimodal.dedupExactGroups(
        Multimodal.mediaFromDocuments(base.unionByName(dups)))
    }),
        """WITH alldocs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 3)
          |SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
          |FROM alldocs GROUP BY digest HAVING COUNT(*) >= 2 ORDER BY digest""".stripMargin),
    // REAL image decode through the gate (r12): deterministic solid-color
    // PNG/BMP/GIF payloads encoded driver-side, decoded by the actual
    // javax.imageio codec on executors — width/height/mean-luminance are
    // exact for lossless formats, so the oracle is the expected-value
    // table and the whole row set hash-checks. Junk bytes and non-image
    // kinds pin the decoded=0 fallback contract.
    QuerySpec("media_decode_real", ((s, d) =>
      Multimodal.decodeStats(Multimodal.realDecodeFixture(s))
        .toDF().orderBy(col("media_id"))),
      // expected-value table for the REAL-decode fixture: solid colors in
      // lossless formats decode to exactly the drawn pixels, so integer
      // ITU-R 601 luminance is a constant per row ((299R+587G+114B)/1000)
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), 1, 8, 5, 1, 255),
          |  (CAST(2 AS BIGINT), 1, 20, 10, 1, 0),
          |  (CAST(3 AS BIGINT), 1, 12, 7, 1, 128),
          |  (CAST(4 AS BIGINT), 1, 9, 9, 1, 76),
          |  (CAST(5 AS BIGINT), 1, 16, 4, 1, 45),
          |  (CAST(6 AS BIGINT), 0, -1, -1, -1, -1),
          |  (CAST(7 AS BIGINT), 0, -1, -1, -1, -1)
          |) AS t(media_id, decoded, width, height, n_frames, luma)
          |ORDER BY media_id""".stripMargin),
    // REAL-decode EMBEDDING retrieval through the gate (r14): lossless
    // block/gradient rasters → javax.imageio decode on executors →
    // real-pixel luminance histogram (embedMediaDecoded, dim=8) → exact-L2
    // top-5 against a literal query histogram — the media→vector→kNN
    // bridge end-to-end on real pixels. Every histogram mass is dyadic
    // (k/1024 pixels, k/32 junk bytes), so the FLOAT embedding equals the
    // oracle's DOUBLE literals bit-for-bit and the ranking hash-checks
    QuerySpec("media_embed_knn", ((s, d) => {
      val embedded = Multimodal.embedMediaDecoded(
        Multimodal.embedKnnFixture(s), dim = 8).toDF()
      embedded.select(col("media_id"), col("kind"),
          Distances.squaredL2Lit(col("embedding"), MediaQ8).as("dist"))
        .orderBy(col("dist").asc, col("media_id").asc)
        .limit(5)
    }),
      // expected-value embeddings of the real-decode retrieval fixture:
      // per-image luminance masses from the documented pixel patterns
      // (k/1024 — dyadic, float==double) and the junk row's byte
      // histogram recomputed here from the same constant string (k/32);
      // the DISTANCES and the ranking are recomputed by DuckDB
      {
        def frac(counts: Map[Int, Int], denom: Int): String =
          (0 until 8).map(b => s"(${counts.getOrElse(b, 0)}.0/$denom)")
            .mkString("[", ", ", "]")
        val junkCounts = Multimodal.EmbedJunk.getBytes("UTF-8")
          .groupBy(b => math.floorMod(b.toInt, 8)).map { case (k, v) => k -> v.length }
        val rows = Seq(
          (1L, "image", frac(Map(0 -> 512, 7 -> 512), 1024)),
          (2L, "image", frac(Map(0 -> 512, 7 -> 512), 1024)),
          (3L, "image", frac(Map(0 -> 768, 7 -> 256), 1024)),
          (4L, "image", frac(Map(4 -> 1024), 1024)),
          (5L, "image", frac((0 until 8).map(_ -> 128).toMap, 1024)),
          (6L, "image", frac(junkCounts, 32))
        ).map { case (id, kind, e) => s"(CAST($id AS BIGINT), '$kind', $e)" }
          .mkString(",\n  ")
        s"""WITH m AS (SELECT * FROM (VALUES
           |  $rows) AS t(media_id, kind, embedding))
           |SELECT media_id, kind,
           |  ${DuckSql.squaredL2Lit("embedding", MediaQ8)} AS dist
           |FROM m ORDER BY dist ASC, media_id ASC LIMIT 5""".stripMargin
      }),
    // video frame-sampling plan: stride-spaced frame indices per video
    // payload (the fan-out manifest a decode stage consumes; video has no
    // JDK codec, so these counts ride the documented stub fallback — the
    // REAL-frame-count arm is media_frame_sample_real below)
    QuerySpec("media_frame_sample_plan", ((s, d) =>
      Multimodal.frameSamplePlan(
          Multimodal.extractFeaturesReal(Multimodal.mediaFromDocuments(par(s, docs(s, d)))),
          stride = 10)
        .orderBy(col("media_id"), col("frame_idx"))),
        s"""SELECT media_id, n_frames,
           |  CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx
           |FROM ($mediaFeaturesSql)
           |WHERE kind = 'video'
           |ORDER BY media_id, frame_idx""".stripMargin),
    // REAL multi-frame sampling (r15): animated GIFs — the one multi-frame
    // format with a JDK codec — encoded driver-side with known frame
    // counts, frame counts read on executors from the actual container
    // (ImageReader.getNumImages, header-only, no pixel decoded), then the
    // same stride plan. Junk bytes pin the stub fallback (1 frame). The
    // oracle is the fixture's expected-value table
    QuerySpec("media_frame_sample_real", ((s, d) =>
      Multimodal.frameSamplePlan(
          // realIdMin = 0: the input is ENTIRELY the decode fixture, so the
          // real codec fires on every image row (the junk-bytes row still
          // pins the stub fallback by genuinely failing the header parse)
          Multimodal.extractFeaturesReal(Multimodal.gifFixture(s), realIdMin = 0L),
          stride = 2, kinds = Seq("image"))
        .orderBy(col("media_id"), col("frame_idx"))),
      // expected-value table: REAL frame counts of the gifFixture rows
      // (7- and 3-frame animated GIFs, a 1-frame still, junk -> stub 1)
      // unrolled through the stride-2 plan
        """SELECT media_id, n_frames, frame_idx FROM (VALUES
          |  (CAST(1 AS BIGINT), 7, 0), (CAST(1 AS BIGINT), 7, 2),
          |  (CAST(1 AS BIGINT), 7, 4), (CAST(1 AS BIGINT), 7, 6),
          |  (CAST(2 AS BIGINT), 3, 0), (CAST(2 AS BIGINT), 3, 2),
          |  (CAST(3 AS BIGINT), 1, 0),
          |  (CAST(4 AS BIGINT), 1, 0)
          |) AS t(media_id, n_frames, frame_idx)
          |ORDER BY media_id, frame_idx""".stripMargin),
    // perceptual-hash near-dup over media payloads: binary payload →
    // (stub) decoded token stream → 60-bit SimHash → pigeonhole banded
    // Hamming pairing, recall 1 with no cross product. A real pHash swaps
    // in at the feature extractor; the binary→fingerprint→banded-join
    // plumbing is what's pinned. Near-dup payloads INJECTED (perturbed
    // copies of %28 docs) so the pairing is non-vacuous
    QuerySpec("media_phash_neardup", ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 4 === 0)
      val perturbed = docs(s, d).filter(col("doc_id") % 28 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zz qq")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      val media = Multimodal.mediaFromDocuments(
        par(s, base.unionByName(perturbed)))
      Dedup.simHashNearDupPairs(
          media.select(col("media_id").as("doc_id"),
            col("payload").cast("string").as("text")),
          "text", "doc_id", maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),
      simhashPairsSql(
        """SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
          |    UNION ALL
          |    SELECT doc_id + 1000000, text || ' zz qq' FROM documents
          |    WHERE doc_id % 28 = 0""".stripMargin, 8)),
    // perceptual near-dup on REAL decoded pixels (r13, closing the r12
    // stub gap): deterministic block-patterned PNG/BMP payloads decode
    // through the actual javax.imageio codec on executors, fingerprint via
    // the integer average-hash (Multimodal.perceptualHash), and pair by
    // the pigeonhole banded-Hamming join. Re-encodings of one raster pair
    // at Hamming 0, a 3-block edit at Hamming 3, junk bytes fall back to a
    // digest fingerprint and stay unpaired — the expected-value oracle is
    // derivable by hand from the fixture's block layout (see
    // Multimodal.phashFixture)
    QuerySpec("media_phash_real", ((s, d) =>
      Dedup.bandedHammingPairs(
          Multimodal.perceptualHash(Multimodal.phashFixture(s)).toDF(),
          "phash", "media_id", maxHamming = 8, sigBits = 64)
        .orderBy(col("id_a"), col("id_b"))),
      // expected-value table for the REAL-pixel perceptual pairing (the
      // media_decode_real pattern: a codec is not SQL): Hamming distances
      // follow from the fixture's block layout — identical rasters 0, the
      // 3-flipped-block variant 3, everything else past the threshold
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 0),
          |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), 3),
          |  (CAST(1 AS BIGINT), CAST(7 AS BIGINT), 3),
          |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 3),
          |  (CAST(2 AS BIGINT), CAST(7 AS BIGINT), 3),
          |  (CAST(3 AS BIGINT), CAST(7 AS BIGINT), 0)
          |) AS t(id_a, id_b, hamming)
          |ORDER BY id_a, id_b""".stripMargin),
    // PSI distribution-drift monitor (operators/Drift): per event type,
    // compare the value distribution of the second half-month against the
    // first (10 fixed bins, Laplace-smoothed proportions) — the gate a
    // pipeline runs before admitting a new crawl/period into the training
    // mix. ln terms 9-decimal-quantized (repo transcendental rule)
    QuerySpec("drift_psi_value", ((s, d) =>
      graft.operators.Drift.psi(
        Tables.events(s, d)
          .withColumn("bin",
            least(floor(col("value") / lit(50.0)), lit(9.0)).cast("long"))
          .withColumn("is_ref", dayofmonth(col("ts")) <= 15),
        "event_type", "bin", "is_ref", nBins = 10)
        .orderBy(col("event_type"))),
        """WITH binned AS (
          |  SELECT event_type,
          |    CAST(LEAST(FLOOR(value / CAST('50.0' AS DOUBLE)), CAST('9.0' AS DOUBLE)) AS BIGINT) AS bin,
          |    (day(ts) <= 15) AS is_ref
          |  FROM events
          |), counts AS (
          |  SELECT event_type, bin,
          |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
          |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          |  FROM binned GROUP BY 1, 2
          |), tot AS (
          |  SELECT event_type,
          |    CAST(SUM(n_ref) AS BIGINT) AS t_ref, CAST(SUM(n_cur) AS BIGINT) AS t_cur
          |  FROM counts GROUP BY 1
          |), terms AS (
          |  SELECT c.event_type,
          |    (CAST(n_ref AS DOUBLE) + CAST('0.5' AS DOUBLE)) / (CAST(t_ref AS DOUBLE) + CAST('5.0' AS DOUBLE)) AS pa,
          |    (CAST(n_cur AS DOUBLE) + CAST('0.5' AS DOUBLE)) / (CAST(t_cur AS DOUBLE) + CAST('5.0' AS DOUBLE)) AS pb
          |  FROM counts c JOIN tot t USING (event_type)
          |)
          |SELECT event_type,
          |  CAST(SUM(CAST(ROUND((pa - pb) * LN(pa / pb), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi
          |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin),
    // referential-integrity audit: FK orphan + PK duplicate checks, with
    // violations INJECTED deterministically (3 orphaned lineitem rows, 2
    // duplicated embedding ids) so the audit path is exercised non-vacuously
    QuerySpec("audit_referential", ((s, d) => {
      import graft.operators.Profile
      val li = Tables.lineitem(s, d)
      val badLi = li.orderBy(col("l_orderkey"), col("l_linenumber")).limit(3)
        .withColumn("l_orderkey", -col("l_orderkey") - 1)
      val liAug = li.unionByName(badLi)
      val embAll = emb(s, d)
      val embAug = embAll.unionByName(embAll.orderBy(col("vec_id")).limit(2))
      Profile.audit(Seq(
        "lineitem_orphan_order" ->
          Profile.orphans(liAug, Tables.orders(s, d), "l_orderkey", "o_orderkey"),
        "orders_orphan_customer" ->
          Profile.orphans(Tables.orders(s, d), Tables.customer(s, d), "o_custkey", "c_custkey"),
        "customer_orphan_nation" ->
          Profile.orphans(Tables.customer(s, d), Tables.nation(s, d), "c_nationkey", "n_nationkey"),
        "embeddings_dup_pk" -> Profile.dupKeys(embAug, "vec_id"),
        "orders_dup_pk" -> Profile.dupKeys(Tables.orders(s, d), "o_orderkey")))
        .orderBy(col("check_name"))
    }),
        """WITH li_aug AS (
          |  SELECT l_orderkey FROM lineitem
          |  UNION ALL
          |  SELECT -l_orderkey - 1 AS l_orderkey
          |  FROM (SELECT l_orderkey, l_linenumber FROM lineitem
          |        ORDER BY l_orderkey, l_linenumber LIMIT 3)),
          |emb_aug AS (
          |  SELECT vec_id FROM embeddings
          |  UNION ALL
          |  SELECT vec_id FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 2))
          |SELECT * FROM (
          |  -- NOT EXISTS, not NOT IN: the operator is an anti join, which
          |  -- keeps NULL-keyed child rows as orphans; NOT IN would return
          |  -- NULL (drop them) the moment either side holds a NULL
          |  SELECT 'lineitem_orphan_order' AS check_name, COUNT(*) AS n_bad
          |  FROM li_aug l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          |  UNION ALL
          |  SELECT 'orders_orphan_customer', COUNT(*)
          |  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          |  UNION ALL
          |  SELECT 'customer_orphan_nation', COUNT(*)
          |  FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
          |  UNION ALL
          |  SELECT 'embeddings_dup_pk', COUNT(*)
          |  FROM (SELECT vec_id FROM emb_aug GROUP BY vec_id HAVING COUNT(*) > 1)
          |  UNION ALL
          |  SELECT 'orders_dup_pk', COUNT(*)
          |  FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
          |) ORDER BY check_name""".stripMargin),
    // data-quality EXPECTATIONS suite (the dbt-test / Great-Expectations
    // shape): declarative per-rule predicates over one table, evaluated
    // in ONE conditional-aggregation pass — n_checked/n_failed per rule,
    // no per-rule rescans. Two rules are deliberately violated by the
    // fixture so the failure path is non-vacuous
    QuerySpec("audit_expectations", ((s, d) => {
      val li = Tables.lineitem(s, d)
      val rules: Seq[(String, Column)] = Seq(
        ("quantity_in_1_50", col("l_quantity").between(1, 50)),
        ("discount_le_008", col("l_discount") >= 0.0 && col("l_discount") <= 0.08),
        ("shipdate_not_null", col("l_shipdate").isNotNull),
        ("price_positive", col("l_extendedprice") > 0.0),
        ("price_under_60k", col("l_extendedprice") < 60000.0))
      val agg = li.agg(count(lit(1)).as("n_checked"),
        rules.map { case (n, p) =>
          sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L)).as(s"f_$n") }: _*)
      val rows = rules.map { case (n, _) =>
        agg.select(lit(n).as("rule"), col("n_checked"),
          col(s"f_$n").as("n_failed")) }
      rows.reduce(_.unionByName(_))
        .withColumn("passed", (col("n_failed") === 0L).cast("int"))
        .orderBy(col("rule"))
    }),
      {
        def failSql(pred: String) =
          s"CAST(SUM(CASE WHEN NOT COALESCE($pred, FALSE) THEN 1 ELSE 0 END) AS BIGINT)"
        val preds = Seq(
          ("quantity_in_1_50", "l_quantity BETWEEN 1 AND 50"),
          ("discount_le_008",
            s"l_discount >= ${DuckSql.fmt(0.0)} AND l_discount <= ${DuckSql.fmt(0.08)}"),
          ("shipdate_not_null", "l_shipdate IS NOT NULL"),
          ("price_positive", s"l_extendedprice > ${DuckSql.fmt(0.0)}"),
          ("price_under_60k", s"l_extendedprice < ${DuckSql.fmt(60000.0)}"))
        val aggCols = preds.zipWithIndex
          .map { case ((_, p), i) => s"${failSql(p)} AS f$i" }.mkString(", ")
        val rows = preds.zipWithIndex.map { case ((n, _), i) =>
          s"""SELECT '$n' AS rule, n_checked, f$i AS n_failed,
             |  CAST(CASE WHEN f$i = 0 THEN 1 ELSE 0 END AS INT) AS passed FROM a""".stripMargin }
        s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_checked, $aggCols FROM lineitem)
           |${rows.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY rule""".stripMargin
      }),
    // per-source bounded A-ES priority sample (Efraimidis-Spirakis
    // without replacement): top-20 by the deterministic -ln(u)/w key per
    // source. Planned as the map-side-combinable bounded aggregator (the
    // KnnTopK device), so each map task ships <= R rows per key to the
    // shuffle — never the corpus; StreamSampleSpec pins the streaming
    // state form EXACTLY equal under any arrival order (the priority is a
    // pure row function, so the sample is a function of the set)
    // k-ANONYMITY privacy audit (r14): every released row must share its
    // quasi-identifier combination (nation, market segment, account-
    // balance bucket) with >= k-1 others. One map-side-combinable
    // aggregation to the bounded group table + a 1-row summary; the
    // fixture has real under-k groups at BOTH SFs (891 at sf0.01, 29 at
    // sf0.1), so the gate exercises a failing audit, not a vacuous pass
    QuerySpec("governance_k_anonymity", ((s, d) =>
      graft.operators.Governance.kAnonymityReport(
        Tables.customer(s, d)
          .withColumn("ab_bucket", floor(col("c_acctbal") / 1000).cast("int")),
        Seq("c_nationkey", "c_mktsegment", "ab_bucket"), k = 5L)),
        """WITH g AS (
          |  SELECT c_nationkey, c_mktsegment,
          |    CAST(FLOOR(c_acctbal / 1000) AS INT) AS ab_bucket,
          |    COUNT(*) AS gn
          |  FROM customer GROUP BY 1, 2, 3)
          |SELECT CAST(5 AS BIGINT) AS k,
          |  COUNT(*) AS n_groups,
          |  CAST(SUM(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
          |  CAST(SUM(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
          |  CAST(MIN(gn) AS BIGINT) AS min_group_size,
          |  CASE WHEN MIN(gn) >= 5 THEN 1 ELSE 0 END AS anonymous
          |FROM g""".stripMargin),
    // the violating-combination detail a release pipeline would
    // generalize or suppress (smallest = most identifying, first)
    QuerySpec("governance_k_anon_violations", ((s, d) =>
      graft.operators.Governance.kAnonymityViolations(
          Tables.customer(s, d)
            .withColumn("ab_bucket", floor(col("c_acctbal") / 1000).cast("int")),
          Seq("c_nationkey", "c_mktsegment", "ab_bucket"), k = 5L)
        .orderBy(col("group_size"), col("c_nationkey"), col("c_mktsegment"),
          col("ab_bucket"))),
        """SELECT c_nationkey, c_mktsegment,
          |  CAST(FLOOR(c_acctbal / 1000) AS INT) AS ab_bucket,
          |  COUNT(*) AS group_size
          |FROM customer GROUP BY 1, 2, 3 HAVING COUNT(*) < 5
          |ORDER BY group_size, c_nationkey, c_mktsegment, ab_bucket""".stripMargin),
    // ENFORCEMENT: suppress under-k rows, re-audit the released table —
    // the output is the re-audit report, which must come back
    // anonymous=1 with zero rows at risk (k-anonymity by construction)
    QuerySpec("governance_k_suppress_audit", ((s, d) => {
      import graft.operators.Governance
      val quasi = Seq("c_nationkey", "c_mktsegment", "ab_bucket")
      val cust = Tables.customer(s, d)
        .withColumn("ab_bucket", floor(col("c_acctbal") / 1000).cast("int"))
      val released = Governance.kSuppress(cust, quasi, k = 5L)
      Governance.kAnonymityReport(released, quasi, k = 5L)
        .withColumn("n_released", lit(1L) * released.count())
    }),
        """WITH q AS (
          |  SELECT c_custkey, c_nationkey, c_mktsegment,
          |    CAST(FLOOR(c_acctbal / 1000) AS INT) AS ab_bucket
          |  FROM customer),
          |viol AS (
          |  SELECT c_nationkey, c_mktsegment, ab_bucket
          |  FROM q GROUP BY 1, 2, 3 HAVING COUNT(*) < 5),
          |released AS (
          |  SELECT * FROM q WHERE NOT EXISTS (
          |    SELECT 1 FROM viol v
          |    WHERE v.c_nationkey IS NOT DISTINCT FROM q.c_nationkey
          |      AND v.c_mktsegment IS NOT DISTINCT FROM q.c_mktsegment
          |      AND v.ab_bucket IS NOT DISTINCT FROM q.ab_bucket)),
          |g AS (
          |  SELECT c_nationkey, c_mktsegment, ab_bucket, COUNT(*) AS gn
          |  FROM released GROUP BY 1, 2, 3)
          |SELECT CAST(5 AS BIGINT) AS k,
          |  COUNT(*) AS n_groups,
          |  CAST(SUM(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
          |  CAST(SUM(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
          |  CAST(MIN(gn) AS BIGINT) AS min_group_size,
          |  CASE WHEN MIN(gn) >= 5 THEN 1 ELSE 0 END AS anonymous,
          |  (SELECT COUNT(*) FROM released) AS n_released
          |FROM g""".stripMargin),
    // GENERALIZE-then-suppress (r15): coarsen the numeric quasi-identifier
    // (account-balance bucket 1000 -> 4000) BEFORE suppressing — the
    // standard release flow when suppression alone loses too many rows.
    // Output: one re-audit row per strategy; both come back anonymous=1
    // by construction, and the generalized flow releases strictly more
    // rows (the point of generalization), which the gate hash-pins
    QuerySpec("governance_k_generalize", ((s, d) => {
      import graft.operators.Governance
      val quasi = Seq("c_nationkey", "c_mktsegment", "ab_bucket")
      def flow(bucketWidth: Int, step: String) = {
        val cust = Tables.customer(s, d)
          .withColumn("ab_bucket", floor(col("c_acctbal") / bucketWidth).cast("int"))
        val released = Governance.kSuppress(cust, quasi, k = 5L)
        Governance.kAnonymityReport(released, quasi, k = 5L)
          .withColumn("step", lit(step))
          .withColumn("n_released", lit(1L) * released.count())
      }
      flow(1000, "suppress_only")
        .unionByName(flow(4000, "generalize_then_suppress"))
        .select(col("step"), col("k"), col("n_groups"), col("n_violating_groups"),
          col("n_rows_at_risk"), col("min_group_size"), col("anonymous"),
          col("n_released"))
        .orderBy(col("step"))
    }),
      {
        def flowSql(w: Int, tag: String, step: String) =
          s"""q_$tag AS (
             |  SELECT c_custkey, c_nationkey, c_mktsegment,
             |    CAST(FLOOR(c_acctbal / $w) AS INT) AS ab_bucket
             |  FROM customer),
             |viol_$tag AS (
             |  SELECT c_nationkey, c_mktsegment, ab_bucket
             |  FROM q_$tag GROUP BY 1, 2, 3 HAVING COUNT(*) < 5),
             |rel_$tag AS (
             |  SELECT * FROM q_$tag q WHERE NOT EXISTS (
             |    SELECT 1 FROM viol_$tag v
             |    WHERE v.c_nationkey IS NOT DISTINCT FROM q.c_nationkey
             |      AND v.c_mktsegment IS NOT DISTINCT FROM q.c_mktsegment
             |      AND v.ab_bucket IS NOT DISTINCT FROM q.ab_bucket)),
             |g_$tag AS (
             |  SELECT c_nationkey, c_mktsegment, ab_bucket, COUNT(*) AS gn
             |  FROM rel_$tag GROUP BY 1, 2, 3),
             |r_$tag AS (
             |  SELECT '$step' AS step, CAST(5 AS BIGINT) AS k,
             |    COUNT(*) AS n_groups,
             |    CAST(SUM(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
             |    CAST(SUM(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
             |    CAST(MIN(gn) AS BIGINT) AS min_group_size,
             |    CASE WHEN MIN(gn) >= 5 THEN 1 ELSE 0 END AS anonymous,
             |    (SELECT COUNT(*) FROM rel_$tag) AS n_released
             |  FROM g_$tag)""".stripMargin
        s"""WITH ${flowSql(1000, "s", "suppress_only")},
           |${flowSql(4000, "g", "generalize_then_suppress")}
           |SELECT * FROM r_g UNION ALL SELECT * FROM r_s
           |ORDER BY step""".stripMargin
      }),
    // l-diversity: within every (nation, balance-bucket) group the
    // market segment must take >= 2 distinct values, else membership in
    // the group leaks the segment — k-anonymity's stronger sibling
    QuerySpec("governance_l_diversity", ((s, d) =>
      graft.operators.Governance.lDiversityReport(
        Tables.customer(s, d)
          .withColumn("ab_bucket", floor(col("c_acctbal") / 1000).cast("int")),
        Seq("c_nationkey", "ab_bucket"), "c_mktsegment", l = 2L)),
        """WITH g AS (
          |  SELECT c_nationkey, CAST(FLOOR(c_acctbal / 1000) AS INT) AS ab_bucket,
          |    COUNT(*) AS gn, COUNT(DISTINCT c_mktsegment) AS gl
          |  FROM customer GROUP BY 1, 2)
          |SELECT CAST(2 AS BIGINT) AS l,
          |  COUNT(*) AS n_groups,
          |  CAST(SUM(CASE WHEN gl < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
          |  CAST(SUM(CASE WHEN gl < 2 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
          |  CAST(MIN(gl) AS BIGINT) AS min_diversity,
          |  CASE WHEN MIN(gl) >= 2 THEN 1 ELSE 0 END AS diverse
          |FROM g""".stripMargin),
    // the unbounded-sensitive-domain scale path (r15): per-group HLL++
    // distinct audited against exact at gate scale — a sketch out of its
    // 3-rsd contract in ANY group flips hll_all_within and fails the
    // hash gate; the summary columns stay the exact, engine-portable
    // report. Sensitive column = c_name (one distinct value per customer
    // — the unbounded-domain cardinality where exact per-group
    // distinct sets start to hurt)
    QuerySpec("governance_l_diversity_approx", ((s, d) =>
      graft.operators.Governance.lDiversityApproxAudit(
        Tables.customer(s, d)
          .withColumn("ab_bucket", floor(col("c_acctbal") / 1000).cast("int")),
        Seq("c_nationkey", "ab_bucket"), "c_name", l = 2L)),
      // exact replay + literal flag (the Spark side computes the real
      // per-group sketch-vs-exact flag — the agg_sketches device)
        """WITH g AS (
          |  SELECT c_nationkey, CAST(FLOOR(c_acctbal / 1000) AS INT) AS ab_bucket,
          |    COUNT(*) AS gn, COUNT(DISTINCT c_name) AS gl
          |  FROM customer GROUP BY 1, 2)
          |SELECT CAST(2 AS BIGINT) AS l,
          |  COUNT(*) AS n_groups,
          |  CAST(SUM(CASE WHEN gl < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
          |  CAST(SUM(CASE WHEN gl < 2 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
          |  CAST(MIN(gl) AS BIGINT) AS min_diversity,
          |  CASE WHEN MIN(gl) >= 2 THEN 1 ELSE 0 END AS diverse,
          |  1 AS hll_all_within
          |FROM g""".stripMargin)
  )
}
