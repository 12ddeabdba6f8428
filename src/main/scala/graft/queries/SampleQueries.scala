package graft.queries

import graft.core.{Fixtures, Tables}
import graft.operators.{Dedup, TextAnalysis}
import graft.oracle.DuckSql
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Sampling, splitting, packing and batching queries: each query's Spark plan
  * is declared beside its DuckDB oracle SQL. */
object SampleQueries {
  import Fixtures.Dim
  import Shared._

  /** Unrolled greedy k-center CTE chain (`e`, `c0..c{k-1}`, `d1..`) for
    * the coreset oracles. The selection is data-dependent, so DuckDB
    * REPLAYS the greedy loop itself: seed = min vec_id, then k−1
    * argmax-of-min-distance steps, each LEAST-folding the new center's
    * left-assoc squared L2 into the running min — bit-equal to
    * VecMinDistL2's recomputed min (min is associative and exact).
    * Assumes ≥ k distinct vectors (the suite pins early-stop Scala-side).
    * `baseSql` is the candidate relation — the full corpus by default, the
    * md5-ordered page for the sampled variant. */
  private def kcenterChainSql(k: Int,
      baseSql: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    def sq(a: String, b: String) = DuckSql.squaredL2Cols(a, b, Dim)
    // Every d_i/c_i is MATERIALIZED: d_i is referenced twice (by c_i and
    // d_{i+1}), and DuckDB inlines plain CTEs per reference, so the un-hinted
    // chain re-evaluated d_1 2^(k-1) times — the r16 driver's oracle sweep
    // spent 15-17 s per coreset query on a 500-row fixture (measured: 15.3 s
    // → 0.56 s with the hints, byte-identical result).
    val parts = Seq(
      s"e AS MATERIALIZED ($baseSql)",
      "c0 AS MATERIALIZED (SELECT vec_id, embedding FROM e ORDER BY vec_id ASC LIMIT 1)",
      s"d1 AS MATERIALIZED (SELECT e.vec_id, e.embedding, ${sq("e.embedding", "c0.embedding")} AS md FROM e CROSS JOIN c0)") ++
      (1 until k).flatMap { i =>
        Seq(s"c$i AS MATERIALIZED (SELECT vec_id, embedding, md FROM d$i ORDER BY md DESC, vec_id ASC LIMIT 1)") ++
          (if (i < k - 1)
            Seq(s"d${i + 1} AS MATERIALIZED (SELECT d$i.vec_id, d$i.embedding, " +
              s"LEAST(d$i.md, ${sq(s"d$i.embedding", s"c$i.embedding")}) AS md " +
              s"FROM d$i CROSS JOIN c$i)")
          else Seq.empty)
      }
    parts.mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    // deterministic hash-mod sampling (portable: md5-derived bucket, not
    // engine-specific rand/hash) — the reproducible-subset primitive
    QuerySpec("sample_documents_hashmod", ((s, d) =>
      docs(s, d)
        .filter(pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(100)) < 10)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),
        "SELECT doc_id, n_chars FROM documents WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100) < 10 ORDER BY doc_id"),
    // deterministic weighted Bernoulli (importance) sampling: per-row keep
    // probability from a quality proxy, accepted by hash threshold — the
    // same md5 gate as hashmod sampling but with a CONTINUOUS per-row
    // rate. Reproducible across runs/engines (no RNG state), and embar-
    // rassingly parallel: one codegen'd pass, zero shuffles before sort
    QuerySpec("sample_weighted_bernoulli", ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          least(col("n_chars") / 500.0, lit(1.0)).as("p"),
          pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(1048576L)).as("h"))
        .filter(col("h") < col("p") * 1048576.0)
        .select(col("doc_id"), col("p"))
        .orderBy(col("doc_id"))),
        s"""SELECT doc_id, p FROM (
           |  SELECT doc_id, LEAST(n_chars / 500.0, 1.0) AS p,
           |    (${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")}) % 1048576 AS h
           |  FROM documents)
           |WHERE h < p * 1048576.0 ORDER BY doc_id""".stripMargin),
    // deterministic stratified sample: ≤20 rows per stratum by md5 order
    // (portable, rerun-stable — no rand())
    QuerySpec("sample_stratified_events", ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(Dedup.md5Int32(col("event_id").cast("string")).asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select(col("event_type"), col("rk"), col("event_id"))
        .orderBy(col("event_type"), col("rk"))
    }),
        s"""SELECT event_type, CAST(rk AS INT) AS rk, event_id FROM (
           |  SELECT event_type, event_id,
           |    ROW_NUMBER() OVER (PARTITION BY event_type
           |      ORDER BY ${Dedup.md5Int32Sql("CAST(event_id AS VARCHAR)")} ASC, event_id ASC) AS rk
           |  FROM events
           |) WHERE rk <= 20 ORDER BY event_type, rk""".stripMargin),
    // greedy sequence packing into 512-token bins within 8 hash groups —
    // the trainer-batching step; sequential carry proven against a
    // DuckDB recursive-CTE fold
    QuerySpec("pack_sequences_greedy", ((s, d) =>
      graft.operators.Pack.greedyPack(
        docs(s, d).withColumn("tok", TextAnalysis.tokenEstimate(col("text"))),
        "doc_id", "tok", capacity = 512L, numGroups = 8)
        .orderBy(col("doc_id"))),
        """WITH RECURSIVE t AS MATERIALIZED (
          |  SELECT doc_id % 8 AS grp, doc_id, CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS tok,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
          |  FROM documents
          |), r AS (
          |  SELECT grp, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin, tok AS fill
          |  FROM t WHERE rn = 1
          |  UNION ALL
          |  SELECT t.grp, t.rn, t.doc_id, t.tok,
          |    CASE WHEN r.fill + t.tok > 512 THEN r.bin + 1 ELSE r.bin END,
          |    CASE WHEN r.fill + t.tok > 512 THEN t.tok ELSE r.fill + t.tok END
          |  FROM r JOIN t ON t.grp = r.grp AND t.rn = r.rn + 1
          |)
          |SELECT grp, doc_id, tok AS n_tokens, bin AS bin_idx, fill AS bin_fill
          |FROM r ORDER BY doc_id""".stripMargin),
    // domain-mixture sampling: per-lang target rates via the deterministic
    // md5-mod gate — the corpus-mixing step of a pre-training pipeline
    QuerySpec("sample_domain_mix", ((s, d) => {
      import s.implicits._
      val rates = Seq(("en", 500), ("de", 200), ("fr", 200), ("es", 100), ("zh", 50))
        .toDF("r_lang", "permille")
      docs(s, d).join(broadcast(rates), col("lang") === col("r_lang"))
        .filter(pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(1000L)) < col("permille"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),
        s"""SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM documents
           |JOIN (VALUES ('en', 500), ('de', 200), ('fr', 200), ('es', 100), ('zh', 50)) AS r(r_lang, permille)
           |  ON lang = r_lang
           |WHERE (${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")} % 1000) < permille
           |GROUP BY lang ORDER BY lang""".stripMargin),
    // per-source document cap: at most 10 docs per source, kept in
    // (quality DESC, doc_id) order — the Common-Crawl per-host cap that
    // stops one domain from dominating the mixture. row_number <= n plans
    // as WindowGroupLimitExec: each map task keeps its local top-n per
    // key BEFORE the shuffle, so the exchange is bounded by n·keys·tasks
    // qq is the integer-exact nano-unit quality score (BIGINT), so the
    // kept-set boundary can never ride a double rounding half-tie
    QuerySpec("sample_source_cap", ((s, d) => {
      val q = par(s, docs(s, d)).withColumn("qq",
        TextAnalysis.qualityScoreScaled(col("text"), 9))
      graft.operators.Governance.capPerKey(q, "source", 10,
          Seq(col("qq").desc, col("doc_id").asc))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          max(col("qq")).as("best_q"), min(col("qq")).as("worst_kept_q"))
        .orderBy(col("source"))
    }),
        s"""SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           |  MAX(qq) AS best_q, MIN(qq) AS worst_kept_q
           |FROM (
           |  SELECT source, doc_id, qq,
           |    row_number() OVER (PARTITION BY source ORDER BY qq DESC, doc_id ASC) AS rnk
           |  FROM (SELECT source, doc_id,
           |          ${qualityScaledSql("text", 9)} AS qq
           |        FROM documents)
           |) WHERE rnk <= 10
           |GROUP BY source ORDER BY source""".stripMargin),
    // cross-split contamination audit: near-dup pairs (the proven
    // MinHash-LSH path) whose members land in DIFFERENT deterministic
    // k-fold splits — exactly the train/eval leakage a dedup-after-split
    // pipeline ships. |pairs| rows into a |folds|² aggregation
    QuerySpec("split_leakage_audit", ((s, d) => {
      def fold(c: Column) =
        pmod(Dedup.md5Int32(c.cast("string")), lit(5L))
      Dedup.minHashLshNearDupPairs(par(s, docs(s, d)), "text", "doc_id",
          shingleWidth = 3, numHashes = 8, bands = 4, threshold = 0.5,
          docCountHint = docCount(s, d))
        .select(fold(col("id_a")).as("fold_a"), fold(col("id_b")).as("fold_b"))
        .groupBy(col("fold_a"), col("fold_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_fold", (col("fold_a") =!= col("fold_b")).cast("int"))
        .orderBy(col("fold_a"), col("fold_b"))
    }),
      {
        val foldSql = (c: String) =>
          s"(${Dedup.md5Int32Sql(s"CAST($c AS VARCHAR)")} % 5)"
        s"""WITH sig AS (
           |  SELECT doc_id, $minsSql
           |  FROM (
           |    SELECT doc_id, ${Dedup.md5Int32Sql("shingle")} AS h FROM (
           |      SELECT doc_id, unnest($ssetSql) AS shingle
           |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |    )
           |  ) GROUP BY doc_id
           |), buckets AS (
           |  $cappedBandBucketsSql
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           |), sets AS (
           |  SELECT doc_id, $ssetSql AS sset
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |), pairs AS (
           |  SELECT id_a, id_b FROM (
           |    SELECT id_a, id_b,
           |      CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) / CAST(len(list_distinct(list_cat(sa.sset, sb.sset))) AS DOUBLE) AS jac
           |    FROM cand JOIN sets sa ON sa.doc_id = cand.id_a JOIN sets sb ON sb.doc_id = cand.id_b
           |  ) WHERE jac >= ${DuckSql.fmt(0.5)})
           |SELECT fold_a, fold_b, COUNT(*) AS n_pairs,
           |  CAST(fold_a <> fold_b AS INT) AS cross_fold
           |FROM (SELECT ${foldSql("id_a")} AS fold_a, ${foldSql("id_b")} AS fold_b FROM pairs)
           |GROUP BY fold_a, fold_b ORDER BY fold_a, fold_b""".stripMargin
      }),
    // DSIR importance resampling (Xie et al. 2023, word-bigram variant):
    // every raw doc weighted by ln p_target − ln p_raw under two bigram
    // LMs (target = the curated 1-in-10 slice, raw = the rest), then the
    // top-100 budget selected by the ratio — the data-selection step
    // between raw crawl and training mix. Model tables broadcast; the
    // ratio is an EXACT decimal difference of the two per-doc sums, so
    // ordering replays bit-for-bit; selection is a distributed top-k
    // (TakeOrderedAndProject), never a global sort
    QuerySpec("sample_dsir_importance", ((s, d) => {
      val all = par(s, docs(s, d))
      graft.operators.LangModel.dsirLogRatios(
          all.filter(col("doc_id") % 10 === 0),
          all.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("log_ratio").desc, col("doc_id").asc)
        .limit(100)
    }),
        """WITH tt AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
          |ttb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM tt, unnest(range(1, len(w))) AS t(i)),
          |tc12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM ttb GROUP BY w1, w2),
          |tc1 AS (SELECT w1, COUNT(*) AS c1 FROM ttb GROUP BY w1),
          |tv AS (SELECT COUNT(DISTINCT u.word) AS v FROM tt, unnest(w) AS u(word)),
          |rt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 <> 0),
          |rtb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM rt, unnest(range(1, len(w))) AS t(i)),
          |rc12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM rtb GROUP BY w1, w2),
          |rc1 AS (SELECT w1, COUNT(*) AS c1 FROM rtb GROUP BY w1),
          |rv AS (SELECT COUNT(DISTINCT u.word) AS v FROM rt, unnest(w) AS u(word)),
          |hb AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM rt, unnest(range(1, len(w))) AS t(i)),
          |st AS (
          |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS lp_t FROM (
          |    SELECT hb.doc_id,
          |      CAST(ROUND(LN((COALESCE(tc12.c12, 0) + 1.0) / (COALESCE(tc1.c1, 0) + tv.v)), 6)
          |        AS DECIMAL(18,6)) AS lp
          |    FROM hb LEFT JOIN tc12 ON hb.w1 = tc12.w1 AND hb.w2 = tc12.w2
          |            LEFT JOIN tc1 ON hb.w1 = tc1.w1
          |            CROSS JOIN tv)
          |  GROUP BY doc_id),
          |sr AS (
          |  SELECT doc_id, SUM(lp) AS lp_r FROM (
          |    SELECT hb.doc_id,
          |      CAST(ROUND(LN((COALESCE(rc12.c12, 0) + 1.0) / (COALESCE(rc1.c1, 0) + rv.v)), 6)
          |        AS DECIMAL(18,6)) AS lp
          |    FROM hb LEFT JOIN rc12 ON hb.w1 = rc12.w1 AND hb.w2 = rc12.w2
          |            LEFT JOIN rc1 ON hb.w1 = rc1.w1
          |            CROSS JOIN rv)
          |  GROUP BY doc_id)
          |SELECT st.doc_id, st.n_bigrams, CAST(st.lp_t - sr.lp_r AS DOUBLE) AS log_ratio
          |FROM st JOIN sr ON st.doc_id = sr.doc_id
          |ORDER BY log_ratio DESC, st.doc_id ASC LIMIT 100""".stripMargin),
    // deterministic k-fold cross-validation split: md5-mod fold assignment
    // (reproducible across engines/runs, no RNG state) + per-fold balance
    // stats — the train/eval split step of a training-data pipeline
    QuerySpec("sample_kfold_assign", ((s, d) =>
      docs(s, d)
        .withColumn("fold", pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(5)))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("fold"))),
        s"""SELECT fold, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           |FROM (SELECT lang, n_chars,
           |        (${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")}) % 5 AS fold
           |      FROM documents)
           |GROUP BY fold ORDER BY fold""".stripMargin),
    // weighted sampling WITHOUT replacement (Efraimidis–Spirakis): key =
    // -ln(u)/w with u a deterministic md5 uniform and w a quality proxy;
    // the k smallest keys ARE the weighted sample — RNG-free, reproducible,
    // one codegen'd pass + distributed top-k (keys rounded to 6 decimals
    // before ranking so sub-ulp ln() drift can't flip the order)
    QuerySpec("sample_weighted_noreplace", ((s, d) =>
      docs(s, d).select(col("doc_id"), col("n_chars"),
          round(
            -log((pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(1048576))
              .cast("double") + 1.0) / 1048577.0) /
            least(col("n_chars").cast("double") / 500.0, lit(1.0)), 6).as("es_key"))
        .orderBy(col("es_key").asc, col("doc_id").asc)
        .limit(50)),
        s"""SELECT doc_id, n_chars,
           |  ROUND((-LN((CAST((${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")}) % 1048576 AS DOUBLE) + 1.0) / 1048577.0))
           |    / LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0), 6) AS es_key
           |FROM documents ORDER BY es_key ASC, doc_id ASC LIMIT 50""".stripMargin),
    // token-budget mixture planning: per-language corpus token mass → the
    // keep rate that hits a fixed per-language budget (min(1, B/tokens)) —
    // the sizing step that precedes sample_domain_mix's md5-gated
    // execution; one aggregation, rates derived from broadcastable totals
    QuerySpec("sample_token_budget_plan", ((s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenEstimate(col("text"))).as("tokens"))
        .withColumn("rate",
          least(lit(1.0), lit(50000.0) / col("tokens").cast("double")))
        .withColumn("expected_tokens",
          round(col("rate") * col("tokens").cast("double"), 3))
        .orderBy(col("lang"))),
        s"""SELECT lang, n_docs, tokens,
           |  LEAST(1.0, ${DuckSql.fmt(50000.0)} / CAST(tokens AS DOUBLE)) AS rate,
           |  ROUND(LEAST(1.0, ${DuckSql.fmt(50000.0)} / CAST(tokens AS DOUBLE)) * CAST(tokens AS DOUBLE), 3) AS expected_tokens
           |FROM (
           |  SELECT lang, COUNT(*) AS n_docs,
           |    CAST(SUM(CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT) AS tokens
           |  FROM documents GROUP BY lang)
           |ORDER BY lang""".stripMargin),
    // temperature-weighted domain mixing (the T5/mT5 alpha-sampling rule):
    // per-language mass n^alpha normalized into mixture weights q, keep
    // rate min(1, T·q/n), then the SAME md5-permille gate executes the
    // plan — both the sizing math (pow quantized to 9 decimals, decimal
    // window total) and the gated sample are oracle-replayed. One corpus
    // aggregation + one broadcast-join scan; the window runs over |langs|
    QuerySpec("sample_temperature_mix", ((s, d) => {
      val alpha = 0.3
      val plan = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          round(pow(col("n_docs").cast("double"), lit(alpha)), 9)
            .cast(DecimalType(18, 9)))
        .withColumn("q", round(col("w").cast("double") /
          sum(col("w")).over(Window.partitionBy()).cast("double"), 9))
        .withColumn("rate",
          least(lit(1.0), round(lit(1000.0) * col("q") / col("n_docs").cast("double"), 9)))
        .select(col("lang"), col("n_docs"), col("rate"))
      val sampled = docs(s, d).join(broadcast(plan), "lang")
        .filter(pmod(Dedup.md5Int32(col("doc_id").cast("string")), lit(1000000L)) <
          floor(col("rate") * lit(1000000.0)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
      plan.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"))
        .orderBy(col("lang"))
    }),
        s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
           |planw AS (SELECT lang, n_docs,
           |    CAST(ROUND(POW(CAST(n_docs AS DOUBLE), ${DuckSql.fmt(0.3)}), 9) AS DECIMAL(18,9)) AS w
           |  FROM counts),
           |planq AS (SELECT lang, n_docs,
           |    ROUND(CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE), 9) AS q
           |  FROM planw),
           |plan AS (SELECT lang, n_docs,
           |    LEAST(1.0, ROUND(${DuckSql.fmt(1000.0)} * q / CAST(n_docs AS DOUBLE), 9)) AS rate
           |  FROM planq),
           |sampled AS (
           |  SELECT d.lang, COUNT(*) AS n_sampled, CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
           |  FROM documents d JOIN plan p ON d.lang = p.lang
           |  WHERE (${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")} % 1000000)
           |    < CAST(FLOOR(rate * ${DuckSql.fmt(1000000.0)}) AS BIGINT)
           |  GROUP BY d.lang)
           |SELECT p.lang, p.n_docs, p.rate,
           |  CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           |  CAST(COALESCE(s.id_sum, 0) AS BIGINT) AS id_sum
           |FROM plan p LEFT JOIN sampled s ON p.lang = s.lang
           |ORDER BY p.lang""".stripMargin),
    // length-bucketed batching report (dynamic-batching prep): docs
    // bucketed by whitespace-token count (width 16), per bucket the
    // padding arithmetic a batched trainer/inference server pays when
    // padding to the bucket max — batches of 32, padded = n_docs·max_len,
    // efficiency = Σlen/padded. One |docs|→|buckets| aggregation; the
    // integer sums are exact, the single division is rounded at 9
    QuerySpec("batch_length_buckets", ((s, d) =>
      par(s, docs(s, d))
        .select(TextAnalysis.nWords(col("text")).cast(LongType).as("len"))
        .withColumn("bucket", floor(col("len") / 16).cast(LongType))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("len")).as("max_len"),
          sum(col("len")).as("sum_len"))
        .withColumn("n_batches", ceil(col("n_docs").cast("double") / 32.0).cast(LongType))
        .withColumn("padded_tokens", (col("n_docs") * col("max_len")).cast(LongType))
        .withColumn("pad_waste", (col("padded_tokens") - col("sum_len")).cast(LongType))
        .withColumn("efficiency",
          round(col("sum_len").cast("double") / col("padded_tokens").cast("double"), 9))
        .orderBy(col("bucket"))),
        """WITH lens AS (
          |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
          |b AS (
          |  SELECT CAST(FLOOR(len / 16) AS BIGINT) AS bucket, COUNT(*) AS n_docs,
          |    MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS sum_len
          |  FROM lens GROUP BY 1)
          |SELECT bucket, n_docs, max_len, sum_len,
          |  CAST(CEIL(CAST(n_docs AS DOUBLE) / 32.0) AS BIGINT) AS n_batches,
          |  CAST(n_docs * max_len AS BIGINT) AS padded_tokens,
          |  CAST(n_docs * max_len - sum_len AS BIGINT) AS pad_waste,
          |  ROUND(CAST(sum_len AS DOUBLE) / CAST(n_docs * max_len AS DOUBLE), 9) AS efficiency
          |FROM b ORDER BY bucket""".stripMargin),
    // deterministic round-robin source interleaving (training-order
    // construction): rank docs within each source by doc_id, dense-index
    // the sources, global position = (rank-1)·n_sources + source_idx — no
    // contiguous training window is dominated by one source. The source
    // index/count come from a |sources|-row aggregate (broadcast back);
    // the per-source rank is one key-local window; first 100 positions
    QuerySpec("sample_interleave_sources", ((s, d) => {
      val srcs = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_src_docs"))
      val idx = srcs
        .withColumn("source_idx",
          row_number().over(Window.orderBy(col("source"))).cast(LongType))
        .withColumn("n_sources", count(lit(1)).over(Window.partitionBy()).cast(LongType))
      val ranked = docs(s, d)
        .withColumn("r", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast(LongType))
      ranked.join(broadcast(idx), "source")
        .withColumn("pos", (col("r") - 1) * col("n_sources") + (col("source_idx") - 1))
        .select(col("pos"), col("source"), col("doc_id"))
        .orderBy(col("pos"), col("source"))
        .limit(100)
    }),
        """WITH idx AS (
          |  SELECT source,
          |    CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS source_idx,
          |    CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
          |  FROM (SELECT DISTINCT source FROM documents)),
          |ranked AS (
          |  SELECT doc_id, source,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS r
          |  FROM documents)
          |SELECT (r.r - 1) * i.n_sources + (i.source_idx - 1) AS pos, r.source, r.doc_id
          |FROM ranked r JOIN idx i ON r.source = i.source
          |ORDER BY pos, r.source LIMIT 100""".stripMargin),
    // deterministic sharded epoch shuffle: shard = md5(seed‖id) mod N,
    // per-shard position by the same hash — a seed-keyed pseudo-random
    // permutation via a PARTITIONED window (never the single-partition
    // global-sort cliff); every row's position recomputable from (seed,id).
    // N is COUNT-derived (⌈n/64⌉ — 8 at the 500-doc fixture, so historical
    // hashes hold), keeping per-shard window partitions bounded at any
    // corpus size instead of O(corpus/8)
    QuerySpec("sample_epoch_shuffle", ((s, d) =>
      graft.operators.Governance.epochShuffle(
          docs(s, d).select(col("doc_id")), col("doc_id"), seed = 7,
          nShards = graft.operators.Governance.shardCountFor(docCount(s, d)))
        .orderBy(col("doc_id"))),
      {
        val h = Dedup.md5Int32Sql("'7:' || CAST(doc_id AS VARCHAR)")
        // shard count replays Governance.shardCountFor: ⌈n/64⌉
        s"""WITH ns AS (SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS n FROM documents),
           |h AS (SELECT doc_id, ($h) AS h FROM documents)
           |SELECT doc_id, CAST(h % ns.n AS INT) AS shard,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY h % ns.n ORDER BY h, doc_id) AS INT) AS pos
           |FROM h, ns ORDER BY doc_id""".stripMargin
      }),
    // shard-export integrity manifest (r11): per shard of the epoch
    // shuffle, row count + token mass + md5 over the doc ids in POSITION
    // order — what a training-data exporter publishes next to its shard
    // files so consumers can verify nothing was truncated or re-ordered.
    // Pure function of (seed, ids) ⇒ the digest itself hash-checks
    QuerySpec("sample_shard_manifest", ((s, d) =>
      graft.operators.Governance.shardManifest(
          graft.operators.Governance.epochShuffle(
            docs(s, d).select(col("doc_id"),
              TextAnalysis.nWords(col("text")).cast("long").as("n_tok")),
            col("doc_id"), seed = 7,
            nShards = graft.operators.Governance.shardCountFor(docCount(s, d))),
          col("doc_id"), col("n_tok"))
        .orderBy(col("shard"))),
      {
        val h = Dedup.md5Int32Sql("'7:' || CAST(doc_id AS VARCHAR)")
        s"""WITH ns AS (SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS n FROM documents),
           |h AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, ($h) AS h
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, n_tok, CAST(h % ns.n AS INT) AS shard,
           |    ROW_NUMBER() OVER (PARTITION BY h % ns.n ORDER BY h, doc_id) AS pos
           |  FROM h, ns)
           |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS content_digest
           |FROM s GROUP BY shard ORDER BY shard""".stripMargin
      }),
    // fractional-epoch upsampling: per-source rate in [1.00, 3.99] from
    // the source-name hash; each doc emits ⌊rate⌋ copies plus a
    // deterministic id-hash-selected extra — the materialized "2.5
    // epochs of wiki" training mixture, replayed row-for-row by the
    // oracle's generate_series. Map-side only: no shuffle before the
    // presentation sort
    QuerySpec("sample_epoch_upsample", ((s, d) => {
      val rate = lit(1.0) +
        pmod(Dedup.md5Int32(col("source")), lit(300L)).cast("double") / lit(100.0)
      graft.operators.Governance.epochUpsample(
          docs(s, d).select(col("doc_id"), col("source"))
            .withColumn("rate", round(rate, 2)),
          col("doc_id"), col("rate"))
        .select(col("doc_id"), col("source"), col("rate"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),
      {
        val srcH = Dedup.md5Int32Sql("source")
        val idH = Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")
        s"""WITH r AS (
           |  SELECT doc_id, source, (100 + ($srcH % 300)) AS cents
           |  FROM documents),
           |n AS (
           |  SELECT doc_id, source, cents,
           |    (cents // 100) +
           |      CASE WHEN ($idH % 100) < (cents % 100) THEN 1 ELSE 0 END AS n_copies
           |  FROM r)
           |SELECT doc_id, source,
           |  round(CAST(cents AS DOUBLE) / CAST('100.0' AS DOUBLE), 2) AS rate,
           |  CAST(unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS INT) AS copy_idx
           |FROM n WHERE n_copies >= 1
           |ORDER BY doc_id, copy_idx""".stripMargin
      }),
    // the FULL mixture-rate axis through one operator: per-source rates
    // spanning [0.30, 3.27] — sources below 1.0 Bernoulli-DOWNsample,
    // above 1.0 fractionally upsample; per-source realized copy counts
    // and rates, every branch replayed by the oracle
    QuerySpec("sample_mixture_rates", ((s, d) => {
      val rate = round(lit(0.3) +
        pmod(Dedup.md5Int32(col("source")), lit(298L)).cast("double") / lit(100.0), 2)
      graft.operators.Governance.epochUpsample(
          docs(s, d).select(col("doc_id"), col("source"))
            .withColumn("rate", rate),
          col("doc_id"), col("rate"))
        .groupBy(col("source"), col("rate"))
        .agg(countDistinct(col("doc_id")).as("n_docs_kept"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("source"))
    }),
      {
        val srcH = Dedup.md5Int32Sql("source")
        val idH = Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")
        s"""WITH r AS (
           |  SELECT doc_id, source, (30 + ($srcH % 298)) AS cents
           |  FROM documents),
           |n AS (
           |  SELECT doc_id, source, cents,
           |    (cents // 100) +
           |      CASE WHEN ($idH % 100) < (cents % 100) THEN 1 ELSE 0 END AS n_copies
           |  FROM r)
           |SELECT source, round(CAST(cents AS DOUBLE) / CAST('100.0' AS DOUBLE), 2) AS rate,
           |  CAST(COUNT(DISTINCT CASE WHEN n_copies >= 1 THEN doc_id END) AS BIGINT) AS n_docs_kept,
           |  CAST(SUM(n_copies) AS BIGINT) AS n_copies
           |FROM n GROUP BY source, cents ORDER BY source""".stripMargin
      }),
    // Greedy k-center coreset (farthest-first traversal, Gonzalez 1985)
    // over the embedding corpus: the 8 maximally-spread exemplars.
    // k scans — each ONE codegen'd VecMinDistL2 pass + distributed top-1
    // (TakeOrderedAndProject, no shuffle); driver holds the 8 centers
    // only. The selection is data-DEPENDENT, so DuckDB replays the whole
    // greedy chain bit-for-bit as unrolled argmax-of-min-distance CTEs
    QuerySpec("sample_coreset_kcenter", ((s, d) =>
      graft.operators.Coreset.kCenterSelect(emb(s, d), k = 8)),
      {
        val steps = (0 until 8).map { i =>
          if (i == 0)
            s"SELECT CAST(0 AS INT) AS step, vec_id, ${DuckSql.fmt(-1.0)} AS r_cov FROM c0"
          else s"SELECT CAST($i AS INT) AS step, vec_id, md AS r_cov FROM c$i"
        }.mkString("\nUNION ALL ")
        s"WITH ${kcenterChainSql(8)}\n$steps\nORDER BY step"
      }),
    // the same 8 exemplars as a stratification device: nearest-center
    // assignment (VecArgMinL2, first-min tiebreak) + per-center
    // population and covering radius — one assignment scan + an
    // 8-row aggregate; max(max_d) is the k-center objective the greedy
    // 2-approximates
    QuerySpec("sample_coreset_assign", ((s, d) =>
      graft.operators.Coreset.kCenterAssignSummary(emb(s, d), k = 8)),
      {
        val dists = (0 until 8)
          .map(i => DuckSql.squaredL2Cols("e.embedding", s"c$i.embedding", Dim))
          .mkString(",\n    ")
        val crosses = (0 until 8).map(i => s"CROSS JOIN c$i").mkString(" ")
        s"""WITH ${kcenterChainSql(8)},
           |lst AS (
           |  SELECT e.vec_id, [$dists] AS l
           |  FROM e $crosses),
           |assigned AS (
           |  SELECT vec_id, CAST(list_position(l, list_min(l)) - 1 AS INT) AS step,
           |    list_min(l) AS d
           |  FROM lst)
           |SELECT step, CAST(COUNT(*) AS BIGINT) AS n, MAX(d) AS max_d
           |FROM assigned GROUP BY step ORDER BY step""".stripMargin
      }),
    // sampled-page k-center (r16): ONE scan draws the 64-row deterministic
    // md5-ordered candidate page, the greedy's 8 rounds then run against
    // the page — bounding the exact path's k corpus scans at one + k page
    // passes (the 100 TB form; CoresetSpec pins the corpus-objective
    // quality bound vs exact greedy). Oracle replays page + greedy chain
    QuerySpec("sample_coreset_kcenter_page", ((s, d) =>
      graft.operators.Coreset.kCenterSelectSampled(emb(s, d), k = 8, page = 64)),
      {
        val idH = Dedup.md5Int32Sql("CAST(vec_id AS VARCHAR)")
        val pageSql =
          s"""SELECT vec_id, embedding FROM embeddings
             |  ORDER BY $idH ASC, vec_id ASC LIMIT 64""".stripMargin
        val steps = (0 until 8).map { i =>
          if (i == 0)
            s"SELECT CAST(0 AS INT) AS step, vec_id, ${DuckSql.fmt(-1.0)} AS r_cov FROM c0"
          else s"SELECT CAST($i AS INT) AS step, vec_id, md AS r_cov FROM c$i"
        }.mkString("\nUNION ALL ")
        s"WITH ${kcenterChainSql(8, pageSql)}\n$steps\nORDER BY step"
      }),
    QuerySpec("sample_priority_per_source", ((s, d) =>
      graft.streaming.StreamSample.prioritySample(
          docs(s, d), col("source"), col("doc_id"),
          least(col("n_chars").cast("double") / 500.0, lit(1.0)), r = 20)
        .withColumnRenamed("key", "source")
        .orderBy(col("source"), col("rank"))),
        s"""WITH scored AS (
           |  SELECT source, doc_id,
           |    ROUND((-LN((CAST((${Dedup.md5Int32Sql("CAST(doc_id AS VARCHAR)")}) % 1048576 AS DOUBLE) + 1.0) / 1048577.0))
           |      / LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0), 6) AS es_key
           |  FROM documents)
           |SELECT source, CAST(rn AS INT) AS rank, doc_id, es_key FROM (
           |  SELECT source, doc_id, es_key,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY es_key ASC, doc_id ASC) AS rn
           |  FROM scored)
           |WHERE rn <= 20 ORDER BY source, rank""".stripMargin),
    // greedy MAX-COVERAGE selection (the (1-1/e) submodular greedy): the
    // 5 documents jointly covering the most distinct tokens — the
    // set-system sibling of the k-center coreset (spread in embedding
    // space there, vocabulary captured here). k rounds of one anti-join +
    // one partial-aggregated gain count + distributed top-1; the covered
    // set stays on the cluster (bounded by VOCABULARY, not corpus). The
    // data-dependent chain replays in DuckDB as unrolled MATERIALIZED CTEs
    QuerySpec("sample_coverage_greedy", ((s, d) =>
      graft.operators.Coverage.selectByWordCoverage(
        docs(s, d).filter(col("doc_id") % 2 === 0), k = 5)),
      {
        // unrolled greedy chain: u1 = all distinct (doc, token) pairs;
        // s_i = argmax marginal gain over u_i; u_{i+1} = u_i minus the
        // winner's tokens. MATERIALIZED: each u_i is referenced twice.
        val k = 5
        val steps = (1 to k).flatMap { i =>
          Seq(
            s"""s$i AS MATERIALIZED (
               |  SELECT doc_id, COUNT(*) AS gain FROM u$i GROUP BY doc_id
               |  ORDER BY gain DESC, doc_id ASC LIMIT 1)""".stripMargin) ++
            (if (i < k)
              Seq(s"""u${i + 1} AS MATERIALIZED (
                     |  SELECT u$i.doc_id, u$i.sh FROM u$i
                     |  WHERE sh NOT IN (
                     |    SELECT DISTINCT sh FROM u$i JOIN s$i USING (doc_id)))""".stripMargin)
            else Seq.empty)
        }
        val sel = (1 to k).map(i =>
          s"SELECT CAST(${i - 1} AS INT) AS step, doc_id, CAST(gain AS BIGINT) AS gain FROM s$i")
          .mkString("\nUNION ALL ")
        s"""WITH u1 AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS sh
           |  FROM documents WHERE doc_id % 2 = 0),
           |${steps.mkString(",\n")}
           |$sel
           |ORDER BY step""".stripMargin
      }),
    // GROUP-COHERENT holdout: the fold is a hash of the SOURCE, so every
    // document of a source lands in one fold — the split that stops
    // within-source near-duplicates from straddling train/eval (doc-level
    // hashing cannot guarantee that). Emits per-fold source/doc counts;
    // coherence is structural (fold is a function of source)
    QuerySpec("sample_group_holdout", ((s, d) =>
      docs(s, d)
        .withColumn("fold", pmod(Dedup.md5Int32(col("source")), lit(5L)))
        .groupBy(col("fold"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"))
        .orderBy(col("fold"))),
      {
        val h = Dedup.md5Int32Sql("source")
        s"""SELECT ($h % 5) AS fold,
           |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
           |FROM documents GROUP BY fold ORDER BY fold""".stripMargin
      })
  )
}
