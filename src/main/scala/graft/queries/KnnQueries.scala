package graft.queries

import graft.core.{Fixtures, Tables}
import graft.functions.Distances
import graft.index.{Grid, GridConfig}
import graft.operators.{CosineJoin, Dedup, Knn, Mips, TextAnalysis}
import graft.oracle.DuckSql
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Exact kNN, vector statistics, similarity search, re-ranking and
  * similarity-graph queries: each query's Spark plan is declared beside its
  * DuckDB oracle SQL. */
object KnnQueries {
  import Fixtures.{Dim, InvDiag64, InvFull8, Planes16, Q64}
  import Shared._

  private val Q8 = Q64.take(8)

  /** Similarity-graph edge list over a size-targeted sample: the EXACT
    * cosine-threshold pair join ([[CosineJoin.pairsExact]] — partitioned
    * equi-join with admissible cell-pair pruning, never a nested loop),
    * canonical `src < dst` orientation. Cells scale with the sample
    * (targetCellSize 32). */
  private def simEdges(s: SparkSession, d: String, target: Long, tau: Double): DataFrame =
    // k derives from the sample TARGET (sample size ≈ target by
    // construction), sparing pairsExactAutoK's extra count job
    CosineJoin.pairsExact(
      sampleTarget(s, d, target)._1.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", Dim, tau, k = math.max(4, (target / 32).toInt))
      .select(col("id_a").as("src"), col("id_b").as("dst"))

  /** 2-D grid for density clustering: 32×32 cells over the embedding's two
    * leading dims. Deliberately TIGHTER than the data's ~[-0.5, 0.5] spread
    * (out-of-bounds clamps to edge cells) and fine enough that the Gaussian
    * center forms one multi-cell component while the tails break into
    * isolated core cells — at sf0.01 the query yields ~10 clusters, so the
    * hash gate exercises CC merging AND the singleton path, not a single
    * blob. */
  private[graft] val densityCfg =
    GridConfig(dim = Dim, lower = -0.4, upper = 0.4, partsPerDim = 32, gridDims = 2)
  private[graft] val DensityMinPts = 3L

  /** Squared-L2 radius for the range-search queries (between the 5th and
    * 10th percentile of fixture query-to-corpus distances — selective but
    * decidedly non-empty, so the oracle hash exercises the distance path). */
  private val Radius = 2.0

  /** SQ8 quantization step for the fixture embedding range (~[-0.5, 0.5]). */
  private val SqScale = 0.005

  /** Unrolled DuckDB replay of Rerank.mmr's greedy selection: candidate
    * page + pair matrix CTEs, then one argmax CTE per selection step (the
    * selected-set max joins `pairs` against the union of prior steps).
    * All sims are ROUND(·, 9) doubles — a 9-decimal value is uniquely
    * recovered by a DOUBLE, so every comparison matches the driver loop
    * bit-for-bit. */
  private def mmrSql(nCand: Int, k: Int, lambda: Double): String = {
    val lam = DuckSql.fmt(lambda)
    val om = DuckSql.fmt(1.0 - lambda)
    val cos = DuckSql.cosineSimLit("embedding", Q64)
    val pcos = DuckSql.cosineSimCols("a.embedding", "b.embedding", Dim)
    // MATERIALIZED throughout: cand/pairs are referenced by every step and
    // each s_i by all later steps (twice each: IN + NOT IN); plain CTEs are
    // inlined per reference, so the un-hinted chain recomputed the 64-dim
    // pair matrix exponentially (28 s in the r16 driver's sweep at 500 rows).
    val steps = (1 to k).map { i =>
      if (i == 1)
        s"""s1 AS MATERIALIZED (
           |  SELECT vec_id, ($lam * simq - $om * CAST('0.0' AS DOUBLE)) AS score
           |  FROM cand ORDER BY score DESC, vec_id ASC LIMIT 1)"""
          .stripMargin
      else {
        val sel = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
        s"""s$i AS MATERIALIZED (
           |  SELECT c.vec_id, ($lam * c.simq - $om * m.mx) AS score
           |  FROM cand c
           |  JOIN (SELECT p.i, MAX(p.s) AS mx FROM pairs p
           |        WHERE p.j IN ($sel) GROUP BY p.i) m ON m.i = c.vec_id
           |  WHERE c.vec_id NOT IN ($sel)
           |  ORDER BY score DESC, c.vec_id ASC LIMIT 1)"""
          .stripMargin
      }
    }.mkString(",\n")
    val finalRows = (1 to k)
      .map(i => s"SELECT CAST($i AS INT) AS rank, vec_id, score AS mmr_score FROM s$i")
      .mkString("\n  UNION ALL ")
    s"""WITH cand AS MATERIALIZED (
       |  SELECT vec_id, embedding, ROUND($cos, 9) AS simq
       |  FROM embeddings ORDER BY simq DESC, vec_id ASC LIMIT $nCand),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS i, b.vec_id AS j, ROUND($pcos, 9) AS s
       |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
       |$steps
       |SELECT * FROM (
       |  $finalRows
       |) ORDER BY rank""".stripMargin
  }

  /** Unrolled DuckDB replay of Pca.topComponent: Gram CTE (dims² exact
    * decimal sums), then one (matvec, normalize) CTE pair per power
    * iteration — every expression left-associated to match the driver
    * loop's IEEE arithmetic. */
  private def pcaSql(dims: Int, iters: Int): String = {
    def e(i: Int) = s"CAST(embedding[${i + 1}] AS DOUBLE)"
    val gramCols = (for (i <- 0 until dims; j <- 0 until dims) yield
      s"CAST(SUM(CAST(ROUND((${e(i)}) * (${e(j)}), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g_${i}_$j")
      .mkString(",\n    ")
    val seed = DuckSql.fmt(1.0 / math.sqrt(dims.toDouble))
    val its = (1 to iters).map { it =>
      def prev(j: Int) = if (it == 1) seed else s"c$j"
      val from = if (it == 1) "gram" else s"gram, n${it - 1}"
      val ws = (0 until dims).map { i =>
        (0 until dims).map(j => s"g_${i}_$j * (${prev(j)})")
          .mkString("(", " + ", ")") + s" AS w$i"
      }.mkString(",\n    ")
      val nsq = (0 until dims).map(i => s"w$i * w$i").mkString("(", " + ", ")")
      val cs = (0 until dims).map(i => s"w$i / SQRT($nsq) AS c$i").mkString(",\n    ")
      s"""i$it AS (SELECT $ws FROM $from),
         |n$it AS (SELECT $cs FROM i$it)""".stripMargin
    }.mkString(",\n")
    val rows = (0 until dims)
      .map(i => s"SELECT CAST($i AS INT) AS dim_idx, c$i AS component FROM n$iters")
      .mkString("\n  UNION ALL ")
    s"""WITH gram AS (
       |  SELECT $gramCols
       |  FROM embeddings),
       |$its
       |SELECT * FROM (
       |  $rows
       |) ORDER BY dim_idx""".stripMargin
  }
  private lazy val knnJoinSql = {
    val pd = DuckSql.squaredL2Cols("q_embedding", "embedding", Dim)
    s"""SELECT query_id, vec_id, dist, CAST(rn AS INT) AS rn FROM (
       |  SELECT query_id, vec_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn
       |  FROM (
       |    SELECT q.vec_id AS query_id, d.vec_id AS vec_id, $pd AS dist
       |    FROM (SELECT vec_id, embedding AS q_embedding FROM embeddings WHERE vec_id < 5) q
       |    CROSS JOIN embeddings d
       |  )
       |) WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // --- reference surface: filtered kNN under 4 metrics (SURVEY §2.1 #1-2, #12-17)
    QuerySpec("knn_l2_brute", ((s, d) =>
      Knn.bruteForce(emb(s, d), Distances.squaredL2Lit(col("embedding"), Q64), K)),
      knnSql(sq, K)),
    QuerySpec("knn_l2_filtered", ((s, d) =>
      Knn.bruteForce(emb(s, d), Distances.squaredL2Lit(col("embedding"), Q64), K,
        pred = Some(col("label") === 3))),
      knnSql(sq, K, "WHERE label = 3")),
    QuerySpec("knn_l1", ((s, d) =>
      Knn.bruteForce(emb(s, d), Distances.l1Lit(col("embedding"), Q64), K)),
      knnSql(DuckSql.l1Lit(e, Q64), K)),
    QuerySpec("knn_linf", ((s, d) =>
      Knn.bruteForce(emb(s, d), Distances.lInfLit(col("embedding"), Q64), K)),
      knnSql(DuckSql.lInfLit(e, Q64), K)),
    QuerySpec("knn_mahalanobis", ((s, d) =>
      Knn.bruteForce(emb(s, d), Distances.mahalanobisDiagLit(col("embedding"), Q64, InvDiag64), K)),
      knnSql(DuckSql.mahalanobisDiagLit(e, Q64, InvDiag64), K)),
    // full-covariance Mahalanobis over an 8-dim slice (keeps the oracle SQL
    // at 64 terms; the operator itself is dim-generic — see VecExprSpec).
    // r10: routed through the facade's MahalanobisFull Metric (factorized
    // inverse + Gershgorin·sqL2 admissible cell bound) — the reference's
    // default metric surface, selectable without dropping to Distances
    QuerySpec("knn_mahalanobis_full", ((s, d) => {
      import s.implicits._
      val cfg8 = GridConfig(dim = 8, lower = -0.6, upper = 0.6, partsPerDim = 4, gridDims = 3)
      val db = graft.api.VectorDatabase.fromDataFrame(s,
        emb(s, d).withColumn("embedding", slice(col("embedding"), 1, 8))
          .select(col("vec_id"), col("embedding"), col("label")),
        cfg8, metric = graft.api.MahalanobisFull(InvFull8, 8))
      s.createDataset(db.findKNearestNeighbors(Q8, K)).toDF()
    }),
        s"""SELECT vec_id, label, ${DuckSql.mahalanobisFullLit("e8", Q8, InvFull8)} AS dist
           |FROM (SELECT vec_id, label, embedding[1:8] AS e8 FROM embeddings)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // pruned == brute (exactness of the widening loop; oracle is the brute
    // SQL). threshold 0 runs the loop: the fixture is below the brute path's
    // 200k-row threshold
    QuerySpec("knn_l2_pruned", ((s, d) =>
      Knn.prunedSearchDf(s, Grid.withCellId(emb(s, d), "embedding", gridCfg), gridCfg, Q64, K,
        bruteForceThreshold = 0)),
      knnSql(sq, K)),
    // QUANTILE-calibrated grid (r11): bucket edges at the data's own exact
    // interpolated percentiles (one calibration aggregation, memoized like
    // every catalog stat), so cells stay balanced on skewed embeddings
    // where equal width piles up. Pruning is exact (interval bounds +
    // the geometry-generic widening loop), so the oracle is the plain
    // brute-force kNN SQL — any inadmissible bound would hash-fail here
    QuerySpec("knn_l2_quantile_grid", ((s, d) => {
      val qc = qgridCfg(s, d)
      Knn.prunedSearchDf(s, Grid.withCellId(emb(s, d), "embedding", qc), qc, Q64, K,
        bruteForceThreshold = 0)
    }),
      // exact pruning ⇒ the quantile-grid search answers the SAME query
      knnSql(sq, K)),
    QuerySpec("knn_l2_pruned_filtered", ((s, d) =>
      Knn.prunedSearchDf(s, Grid.withCellId(emb(s, d), "embedding", gridCfg), gridCfg, Q64, K,
        pred = Some(col("label") === 3), bruteForceThreshold = 0)),
      knnSql(sq, K, "WHERE label = 3")),
    // similarity search (north star): cosine top-k
    QuerySpec("sim_cosine_topk", ((s, d) =>
      emb(s, d)
        .select(col("vec_id"), col("label"),
          Distances.cosineSimLit(col("embedding"), Q64).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(K)),
        s"SELECT vec_id, label, ${DuckSql.cosineSimLit(e, Q64)} AS cos_sim FROM embeddings ORDER BY cos_sim DESC, vec_id ASC LIMIT $K"),
    // ColBERT-style late-interaction retrieval: the packed 64-d vector is
    // viewed as 4 sub-vectors of 16 ("token embeddings"), score = MaxSim =
    // Σ_i max_j dot(q_i, doc_j). Per-row codegen'd expression (same
    // multiply count as 4 full dots), zero shuffles, TakeOrderedAndProject
    // top-k; sub-dots 9-decimal-rounded so max/sum replay bit-for-bit
    QuerySpec("sim_maxsim_topk", ((s, d) =>
      emb(s, d)
        .select(col("vec_id"), col("label"),
          graft.operators.LateInteraction.maxSimLit(col("embedding"), Q64, 4).as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc)
        .limit(K)),
        s"SELECT vec_id, label, ${DuckSql.maxSimLit(e, Q64, 4)} AS maxsim FROM embeddings ORDER BY maxsim DESC, vec_id ASC LIMIT $K"),
    // Matryoshka truncation eval: recall@10 of PREFIX-16-dim L2 top-k
    // against full 64-dim top-k per held-out query — the dimension-vs-
    // accuracy dial of truncatable (MRL) embeddings. Prefix-L2 is
    // squaredL2Cols over the first 16 elements, so unlike the kmeans-
    // trained ann_ivf_recall this eval is EXACT and fully hash-checked.
    // Cost shape: |queries| × |corpus| scored once, ranked twice — the
    // standard eval-harness cost, queries are a small broadcast sample
    QuerySpec("vec_truncate_recall", ((s, d) => {
      // count-derived query page (~20 queries at ANY SF; a fixed % 67
      // fraction grew |queries| — and the |queries|×|corpus| eval —
      // linearly with the corpus)
      val mq = math.max(1L, (embCount(s, d) + 19) / 20)
      val qs = emb(s, d).filter(col("vec_id") % mq === 7)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = emb(s, d).crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          Distances.squaredL2Cols(col("embedding"), col("qv"), Dim).as("d_full"),
          Distances.squaredL2Cols(col("embedding"), col("qv"), 16).as("d_pre"))
      val wf = Window.partitionBy(col("query_id")).orderBy(col("d_full"), col("vec_id"))
      val wp = Window.partitionBy(col("query_id")).orderBy(col("d_pre"), col("vec_id"))
      scored
        .withColumn("rf", row_number().over(wf))
        .withColumn("rp", row_number().over(wp))
        .filter(col("rf") <= K)
        .groupBy(col("query_id"))
        .agg(sum(when(col("rp") <= K, 1).otherwise(0)).cast(LongType).as("overlap"),
          round(sum(when(col("rp") <= K, 1).otherwise(0)).cast("double") / K, 3).as("recall10"))
        .orderBy(col("query_id"))
    }),
        s"""WITH qs AS (
           |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % ${modSql(20)} = 7),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${DuckSql.squaredL2Cols("c.embedding", "q.qv", Dim)} AS d_full,
           |    ${DuckSql.squaredL2Cols("c.embedding", "q.qv", 16)} AS d_pre
           |  FROM embeddings c CROSS JOIN qs q),
           |ranked AS (
           |  SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d_full, vec_id) AS rf,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d_pre, vec_id) AS rp
           |  FROM scored)
           |SELECT query_id,
           |  CAST(SUM(CASE WHEN rp <= $K THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
           |  ROUND(CAST(SUM(CASE WHEN rp <= $K THEN 1 ELSE 0 END) AS DOUBLE) / $K, 3) AS recall10
           |FROM ranked WHERE rf <= $K
           |GROUP BY query_id ORDER BY query_id""".stripMargin),
    // batch MaxSim join: multi-vector late-interaction retrieval for a
    // SET of queries — a SIZE-TARGETED query page (~20 queries at any SF;
    // the r7 `% 101` fraction grew the page — and the scored cross
    // product — linearly with the corpus) broadcast against the corpus,
    // per-query top-3 via the bounded KnnTopK aggregator on NEGATED
    // maxsim (negation is IEEE-exact, so (−maxsim ASC, id ASC) ≡
    // (maxsim DESC, id ASC)): the shuffle carries ≤ 3 rows per query per
    // map task, never the |queries|×|corpus| scored set a full Window
    // would sort (pinned in PlanShapeSpec)
    QuerySpec("sim_maxsim_join", ((s, d) => {
      val m = math.max(1L, (embCount(s, d) + 19) / 20)
      val qs = emb(s, d).filter(col("vec_id") % m === 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val cands = emb(s, d).crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          (-graft.operators.LateInteraction.maxSimCols(col("qv"), col("embedding"), Dim, 4))
            .as("dist"))
      graft.operators.KnnTopK.topK(cands, 3)
        .select(col("query_id"), col("vec_id"), (-col("dist")).as("maxsim"), col("rn"))
        .orderBy(col("query_id"), col("rn"))
    }),
        s"""WITH qs AS (
           |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % ${modSql(20)} = 3),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${DuckSql.maxSimCols("q.qv", "c.embedding", Dim, 4)} AS maxsim
           |  FROM embeddings c CROSS JOIN qs q),
           |ranked AS (
           |  SELECT query_id, vec_id, maxsim,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY maxsim DESC, vec_id ASC) AS INT) AS rn
           |  FROM scored)
           |SELECT query_id, vec_id, maxsim, rn FROM ranked
           |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin),
    // two-stage late-interaction serving path: cheap single-vector dot
    // generates a top-50 candidate page, MaxSim re-ranks only the page —
    // the ColBERT deployment shape (candidate generation + late
    // interaction), so the nSub² sub-dot cost is paid on 50 rows, not the
    // corpus. Both stages totally ordered, so the composition is exact
    // w.r.t. its own two-stage definition and fully hash-checked
    QuerySpec("sim_maxsim_refine", ((s, d) => {
      val cand = emb(s, d)
        .select(col("vec_id"), col("embedding"),
          Distances.dotLit(col("embedding"), Q64).as("coarse"))
        .orderBy(col("coarse").desc, col("vec_id").asc)
        .limit(50)
      cand.select(col("vec_id"),
          graft.operators.LateInteraction.maxSimLit(col("embedding"), Q64, 4).as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc)
        .limit(K)
    }),
        s"""SELECT vec_id, ${DuckSql.maxSimLit(e, Q64, 4)} AS maxsim
           |FROM embeddings WHERE vec_id IN (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${DuckSql.dotLit(e, Q64)} AS coarse FROM embeddings
           |    ORDER BY coarse DESC, vec_id ASC LIMIT 50))
           |ORDER BY maxsim DESC, vec_id ASC LIMIT $K""".stripMargin),
    // per-dimension corpus statistics (the SQ8 calibration pass): min/max
    // per embedding dimension — exact float comparisons — plus the mean
    // over 2^-24-quantized values (floor(v·2^24) is an exact integer sum;
    // double→decimal casts of raw floats would round differently per
    // engine) and the implied symmetric int8 scale 127/max|·|. One
    // explode + one map-side-combinable aggregation to |dims| rows
    QuerySpec("vec_dim_stats", ((s, d) =>
      emb(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"), col("v").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          sum(floor(col("v") * 16777216.0).cast(LongType)).as("sq24"))
        .select(col("dim"), col("n"), col("min_v"), col("max_v"),
          round(col("sq24").cast("double") / (col("n").cast("double") * 16777216.0), 9)
            .as("mean_q24"),
          round(lit(127.0) / greatest(abs(col("min_v")), abs(col("max_v"))), 6)
            .as("scale127"))
        .orderBy(col("dim"))),
        """WITH el AS (
          |  SELECT dim, CAST(embedding[dim + 1] AS DOUBLE) AS v
          |  FROM (SELECT embedding, unnest(range(0, len(embedding))) AS dim
          |        FROM embeddings)),
          |st AS (
          |  SELECT dim, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v,
          |    CAST(SUM(CAST(FLOOR(v * 16777216.0) AS BIGINT)) AS BIGINT) AS sq24
          |  FROM el GROUP BY dim)
          |SELECT CAST(dim AS INT) AS dim, n, min_v, max_v,
          |  ROUND(CAST(sq24 AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0), 9) AS mean_q24,
          |  ROUND(127.0 / GREATEST(ABS(min_v), ABS(max_v)), 6) AS scale127
          |FROM st ORDER BY dim""".stripMargin),
    // max-inner-product search (the Dot metric end-to-end; retrieval-style
    // scoring where magnitude matters, unlike cosine)
    QuerySpec("sim_dot_topk", ((s, d) =>
      emb(s, d)
        .select(col("vec_id"), col("label"),
          Distances.dotLit(col("embedding"), Q64).as("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc)
        .limit(K)),
        s"SELECT vec_id, label, ${DuckSql.dotLit(e, Q64)} AS dot FROM embeddings ORDER BY dot DESC, vec_id ASC LIMIT $K"),
    // MIPS with norm-band pruning (operators/Mips): score = w·dot(q,v) over
    // the factorized store (w = static-quality boost, band = the weight
    // bucket); bands scanned in descending Cauchy-Schwarz bound order with
    // geometric widening. threshold 0 forces the loop (cf. knn_l2_pruned);
    // oracle is the brute weighted-dot SQL — pruned must equal it exactly
    QuerySpec("sim_dot_pruned", ((s, d) =>
      Mips.prunedTopK(s,
        emb(s, d)
          .withColumn("weight", (lit(1) + col("vec_id") % 10).cast("double"))
          .withColumn("band", (col("vec_id") % 10).cast("long")),
        Q64, K, bruteForceThreshold = 0)),
        s"SELECT vec_id, label, CAST(1 + vec_id % 10 AS DOUBLE) * (${DuckSql.dotLit(e, Q64)}) AS dot FROM embeddings ORDER BY dot DESC, vec_id ASC LIMIT $K"),
    // batch kNN join (SURVEY §2.1 #1 batch form): the engine's one exact
    // brute-force join, KnnJoinPlan → KnnJoinExec (per-partition bounded
    // top-k + k-bounded merge)
    QuerySpec("knn_join_l2", ((s, d) =>
      KnnJoinPlan.join(
        emb(s, d).filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        emb(s, d), k = 3)
        .orderBy(col("query_id"), col("rn"))),
      knnJoinSql),
    // scale variant: two cell-restricted passes of KnnJoinExec, a seed over
    // each query's first cells and a pass over the cells its bounds cannot
    // cut (no |Q|×|db| cross product) — exact, same oracle as the cross form.
    // threshold 0: the declared query must exercise the passes it is named
    // for (production callers keep the cost-based default)
    QuerySpec("knn_join_l2_cells", ((s, d) =>
      graft.operators.KnnCellJoin.join(
        emb(s, d).filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        Grid.withCellId(emb(s, d), "embedding", gridCfg), gridCfg, k = 3,
        bruteForceThreshold = 0)
        .orderBy(col("query_id"), col("rn"))),
      knnJoinSql),
    // QUANTILE-grid batch kNN join (r13): the same two-pass cell join over
    // cells whose grid bounds come from the calibrated boundary table instead
    // of the uniform bucket formula — the batch sibling of
    // knn_l2_quantile_grid, for skewed corpora where equal-width cells
    // pile up (19,980 vs 977,885 max-cell at 1M rows, SCALE_NOTES). Same
    // brute-force oracle as every kNN-join form: pruning must not change
    // the answer
    QuerySpec("knn_join_quantile", ((s, d) =>
      graft.operators.KnnCellJoin.join(
        emb(s, d).filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        Grid.withCellId(emb(s, d), "embedding", qgridCfg(s, d)),
        qgridCfg(s, d), k = 3, bruteForceThreshold = 0)
        .orderBy(col("query_id"), col("rn"))),
      knnJoinSql),
    // the same join through its first-class plan name (custom LogicalPlan
    // → SparkStrategy → KnnJoinExec); same oracle
    QuerySpec("knn_join_l2_plan", ((s, d) =>
      KnnJoinPlan.join(
        emb(s, d).filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        emb(s, d), k = 3)
        .orderBy(col("query_id"), col("rn"))),
      knnJoinSql),
    // the skew-safe name: KnnJoinExec's shuffle carries at most k rows per
    // query per map task, whatever the candidate skew; same oracle
    QuerySpec("knn_join_l2_agg", ((s, d) =>
      KnnJoinPlan.join(
        emb(s, d).filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        emb(s, d), k = 3)
        .orderBy(col("query_id"), col("rn"))),
      knnJoinSql),
    // batch embedding (north star): feature-hashing text embedder, sparse
    // form (exact integer sums — oracle-portable)
    QuerySpec("embed_feature_hash", ((s, d) =>
      graft.operators.Embed.featureHashSparse(
          par(s, docs(s, d).filter(col("doc_id") % 10 === 0)), dim = 64)
        .orderBy(col("doc_id"), col("idx"))),
        s"""SELECT doc_id, idx, CAST(SUM(sign) AS BIGINT) AS val FROM (
           |  SELECT doc_id, (h % 64) AS idx,
           |    CASE WHEN CAST(FLOOR(h / 64.0) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sign
           |  FROM (
           |    SELECT doc_id, ${Dedup.md5Int32Sql("w")} AS h
           |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |          FROM documents WHERE doc_id % 10 = 0)
           |  )
           |) GROUP BY doc_id, idx HAVING CAST(SUM(sign) AS BIGINT) <> 0
           |ORDER BY doc_id, idx""".stripMargin),
    // Johnson-Lindenstrauss random projection: 64-dim embeddings → 8 dims
    // via fixed gaussian hyperplanes (the same literals the LSH uses, kept
    // as VALUES instead of signs). Per-row codegen'd dot products, zero
    // shuffles — the cheap front-end before indexing at 100 TB
    QuerySpec("embed_random_projection", ((s, d) =>
      emb(s, d).filter(col("vec_id") % 5 === 0)
        .select(col("vec_id") +: (0 until 8).map(j =>
          Distances.dotLit(col("embedding"), Planes16(j)).as(s"rp_$j")): _*)
        .orderBy(col("vec_id"))),
        s"""SELECT vec_id, ${(0 until 8).map(j =>
            s"${DuckSql.dotLit(e, Planes16(j))} AS rp_$j").mkString(",\n  ")}
           |FROM embeddings WHERE vec_id % 5 = 0 ORDER BY vec_id""".stripMargin),
    // PQ reconstruction-error report: per subspace, the mean/max squared
    // distance between each sub-vector and its NEAREST codeword (= the
    // quantization error the ADC scan inherits) — the statistic that
    // decides ksub/m sizing and flags a stale codebook. One scan, the 8
    // per-row errors carried as an array then exploded to |m| groups;
    // errors 9-decimal-quantized so the decimal mean is engine-exact
    QuerySpec("vec_pq_error", ((s, d) => {
      val model = FixedPqModel
      // native min-distance kernel per subspace slice: same value as
      // least() over the unrolled per-centroid sums (min is exact), but a
      // compact generated loop — the 16×32×4-term unrolled tree spent its
      // time in janino compilation, not execution
      val errs = (0 until model.m).map { j =>
        val sub = slice(col("embedding"), j * model.dsub + 1, model.dsub)
        round(org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.VecMinDistL2(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(sub),
              model.codebooks(j))), 9)
          .cast(DecimalType(18, 9))
      }
      emb(s, d)
        .select(posexplode(array(errs: _*)).as(Seq("subspace", "err")))
        .groupBy(col("subspace"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("err")).cast("double") / count(lit(1)).cast("double"), 9)
            .as("mean_err"),
          max(col("err")).cast("double").as("max_err"))
        .orderBy(col("subspace"))
    }),
      {
        val model = FixedPqModel
        def subDistSql(off: Int, cent: Array[Double]): String =
          cent.indices.map { i =>
            val dd = s"(embedding[${off + i + 1}]::DOUBLE - (${DuckSql.fmt(cent(i))}))"
            s"($dd * $dd)"
          }.mkString("(", " + ", ")")
        val branches = (0 until model.m).map { j =>
          val ds = (0 until model.ksub)
            .map(c => subDistSql(j * model.dsub, model.codebooks(j)(c)))
            .mkString("[", ",\n      ", "]")
          s"SELECT $j AS subspace, CAST(ROUND(list_min($ds), 9) AS DECIMAL(18,9)) AS err FROM embeddings"
        }.mkString("\n  UNION ALL ")
        s"""WITH e AS (
           |  $branches)
           |SELECT CAST(subspace AS INT) AS subspace, COUNT(*) AS n,
           |  ROUND(CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS mean_err,
           |  CAST(MAX(err) AS DOUBLE) AS max_err
           |FROM e GROUP BY subspace ORDER BY subspace""".stripMargin
      }),
    // corpus-diversity estimate: mean pairwise cosine similarity is an
    // O(n²) statistic — at corpus scale it is ESTIMATED from the cross
    // product of two small deterministic md5 subsets (disjoint draws, so
    // pairs are i.i.d.-ish without sampling the quadratic space), with a
    // 95% CI from the sample variance. Cosines 9-decimal-quantized into
    // exact decimal power sums; estimator math in identical IEEE doubles
    QuerySpec("vec_pairwise_sim_estimate", ((s, d) => {
      // count-derived hash modulus: ~25 rows per arm (= the historical
      // % 20 at the 500-row fixture) at ANY corpus size — a fixed 1/20
      // hash slice made the cross product grow n²/400
      val mh = math.max(2L, (embCount(s, d) + 24) / 25)
      val h = pmod(Dedup.md5Int32(col("vec_id").cast("string")), lit(mh))
      val a = emb(s, d).filter(h === 0).select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb(s, d).filter(h === 1).select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val cs = round(Distances.cosineSimCols(col("va"), col("vb"), Dim), 9)
        .cast(DecimalType(18, 9))
      val g = a.crossJoin(b).select(cs.as("c"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"))
      val nD = col("n_pairs").cast("double")
      val mean = col("sc").cast("double") / nD
      val varS = (nD * col("scc").cast("double") -
        col("sc").cast("double") * col("sc").cast("double")) / (nD * (nD - 1.0))
      val se = sqrt(varS / nD)
      g.select(col("n_pairs"),
        round(mean, 6).as("mean_cos"),
        round(sqrt(varS), 6).as("std_cos"),
        round(mean - lit(1.96) * se, 6).as("ci_low"),
        round(mean + lit(1.96) * se, 6).as("ci_high"))
    }),
      {
        val h = s"(${Dedup.md5Int32Sql("CAST(vec_id AS VARCHAR)")} % (SELECT GREATEST(2, (COUNT(*) + 24) // 25) FROM embeddings))"
        val cs = DuckSql.cosineSimCols("a.va", "b.vb", Dim)
        s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE $h = 0),
           |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings WHERE $h = 1),
           |g AS (
           |  SELECT COUNT(*) AS n_pairs,
           |    SUM(c) AS sc, SUM(c * c) AS scc
           |  FROM (SELECT CAST(ROUND($cs, 9) AS DECIMAL(18,9)) AS c
           |        FROM a CROSS JOIN b)),
           |m AS (
           |  SELECT n_pairs,
           |    CAST(sc AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mean,
           |    (CAST(n_pairs AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
           |      / (CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) - 1.0)) AS var_s
           |  FROM g)
           |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           |  ROUND(mean, 6) AS mean_cos,
           |  ROUND(SQRT(var_s), 6) AS std_cos,
           |  ROUND(mean - ${DuckSql.fmt(1.96)} * SQRT(var_s / CAST(n_pairs AS DOUBLE)), 6) AS ci_low,
           |  ROUND(mean + ${DuckSql.fmt(1.96)} * SQRT(var_s / CAST(n_pairs AS DOUBLE)), 6) AS ci_high
           |FROM m""".stripMargin
      }),
    // vector-norm extremes per label: min/max are order-independent double
    // aggregates (exact cross-engine, unlike double sums)
    QuerySpec("vec_norm_extremes", ((s, d) =>
      emb(s, d)
        .select(col("label"),
          sqrt(Distances.squaredL2Lit(col("embedding"),
            Array.fill(Dim)(0.0))).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"))
        .orderBy(col("label"))),
        s"""SELECT label, COUNT(*) AS n, MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
           |FROM (SELECT label, sqrt(${DuckSql.squaredL2Lit("embedding", Array.fill(Dim)(0.0))}) AS nrm FROM embeddings)
           |GROUP BY label ORDER BY label""".stripMargin),
    // int8 scalar-quantized kNN: deterministic fixed-scale quantization →
    // pure integer distance — the one ANN variant with an EXACT oracle
    QuerySpec("knn_sq8_topk", ((s, d) =>
      emb(s, d).select(col("vec_id"), col("label"),
          graft.operators.Quantize.sq8DistLit(col("embedding"), SqScale, Q64).as("dist_sq8"))
        .orderBy(col("dist_sq8").asc, col("vec_id").asc)
        .limit(K)),
        s"""SELECT vec_id, label, ${graft.operators.Quantize.sq8DistLitSql(e, SqScale, Q64)} AS dist_sq8
           |FROM embeddings ORDER BY dist_sq8 ASC, vec_id ASC LIMIT $K""".stripMargin),
    // SQ8 serving path: the pure-integer quantized distance generates a
    // top-50 candidate page (the scan that runs over the 4×-smaller int8
    // codes at scale), exact float L2 re-ranks only the page — the
    // memory-bandwidth shape of a quantized ANN deploy. Fixed scale ⇒
    // codes aren't data-derived, so BOTH stages hash-check end-to-end
    QuerySpec("knn_sq8_refine", ((s, d) => {
      val cand = emb(s, d)
        .select(col("vec_id"), col("embedding"),
          graft.operators.Quantize.sq8DistLit(col("embedding"), SqScale, Q64).as("dist_sq8"))
        .orderBy(col("dist_sq8").asc, col("vec_id").asc)
        .limit(50)
      cand.select(col("vec_id"),
          Distances.squaredL2Lit(col("embedding"), Q64).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(K)
    }),
        s"""SELECT vec_id, ${DuckSql.squaredL2Lit(e, Q64)} AS dist
           |FROM embeddings WHERE vec_id IN (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${graft.operators.Quantize.sq8DistLitSql(e, SqScale, Q64)} AS dist_sq8
           |    FROM embeddings ORDER BY dist_sq8 ASC, vec_id ASC LIMIT 50))
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // radius (range) search — the other half of the vector-DB read API:
    // all rows within squared-L2 distance r of the query
    QuerySpec("knn_radius", ((s, d) =>
      Knn.radiusSearch(emb(s, d), Distances.squaredL2Lit(col("embedding"), Q64), Radius)),
      {
        s"""SELECT vec_id, label, dist FROM (SELECT vec_id, label, $sq AS dist FROM embeddings)
           |WHERE dist <= ${DuckSql.fmt(Radius)} ORDER BY dist ASC, vec_id ASC""".stripMargin
      }),
    // cell-pruned radius: candidate cells known up front (bound ≤ r), one
    // scan, no widening loop; same oracle as the brute form (exactness)
    QuerySpec("knn_radius_pruned", ((s, d) =>
      Knn.prunedRadius(Grid.withCellId(emb(s, d), "embedding", gridCfg),
        Distances.squaredL2Lit(col("embedding"), Q64), Radius,
        Grid.cellLowerBoundSqL2(Q64, _, gridCfg))),
        s"""SELECT vec_id, label, dist FROM (SELECT vec_id, label, $sq AS dist FROM embeddings)
           |WHERE dist <= ${DuckSql.fmt(Radius)} ORDER BY dist ASC, vec_id ASC""".stripMargin),
    // per-label centroid of the embedding space (class prototypes)
    QuerySpec("vec_label_centroids", ((s, d) =>
      graft.operators.Embed.labelCentroids(emb(s, d))
        .select(col("label"), col("dim_idx").cast("long").as("dim_idx"), col("centroid"))
        .orderBy(col("label"), col("dim_idx"))),
        s"""SELECT label, i AS dim_idx,
           |  CAST(SUM(CAST(ROUND(CAST($e[i+1] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
           |    / (1000000.0 * COUNT(*)) AS centroid
           |FROM embeddings, unnest(range(0, $Dim)) AS t(i)
           |GROUP BY label, i ORDER BY label, i""".stripMargin),
    // leave-one-out 1-NN label accuracy (embedding-space evaluation)
    QuerySpec("knn_classify_loo", ((s, d) =>
      graft.operators.KnnClassify.looAccuracy(emb(s, d), Dim, queryMod = 20L)
        .orderBy(col("label"))),
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
           |           FROM embeddings WHERE vec_id % 20 = 0),
           |pairs AS (
           |  SELECT q.qid, q.qlabel, e.label AS plabel, e.vec_id AS vid,
           |    ${DuckSql.squaredL2Cols("q.qe", s"e.$e", Dim)} AS dist
           |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
           |best AS (SELECT qid, qlabel, plabel,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM pairs)
           |SELECT qlabel AS label, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
           |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
    // hard-negative mining for contrastive training: each anchor's nearest
    // neighbor with a DIFFERENT label — the shared KnnClassify kernel with
    // the label-inequality predicate pushed below the rank
    QuerySpec("knn_hard_negatives", ((s, d) =>
      graft.operators.KnnClassify.hardNegatives(emb(s, d), Dim, queryMod = 20L)
        .orderBy(col("qid"))),
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
           |           FROM embeddings WHERE vec_id % 20 = 0),
           |pairs AS (
           |  SELECT q.qid, e.vec_id AS vid, e.label AS neg_label,
           |    ${DuckSql.squaredL2Cols("q.qe", s"e.$e", Dim)} AS dist
           |  FROM q, embeddings e WHERE e.label <> q.qlabel),
           |best AS (SELECT qid, vid, neg_label, dist,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM pairs)
           |SELECT qid, vid AS hard_negative_id, neg_label, dist
           |FROM best WHERE rn = 1 ORDER BY qid""".stripMargin),
    // behavior-trajectory similarity join (the REPOSE/trajectory-search
    // problem at the engine level): each user's event history becomes a
    // SET of ordered event-type bigrams ("click>view"), then the EXACT
    // prefix-filter set-similarity kernel finds all user pairs with
    // Jaccard ≥ 0.96 — similar-behavior discovery without the user×user
    // cross product (recall 1 by the PPJoin prefix argument). Ordering
    // uses second-resolution epoch + event_id, the cross-engine total
    // order the sessionize oracle established
    QuerySpec("user_behavior_simjoin", ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long").asc, col("event_id").asc)
      val big = Tables.events(s, d).filter(col("user_id") % 3 === 0)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), concat(col("prev"), lit(">"), col("event_type")).as("bg"))
      val behaviors = big.groupBy(col("user_id"))
        .agg(concat_ws(" ", array_sort(collect_set(col("bg")))).as("behavior"))
      graft.operators.SetSimJoin.jaccardJoin(behaviors, t = 0.96,
          textCol = "behavior", idCol = "user_id")
        .orderBy(col("id_a"), col("id_b"))
    }),
        """WITH bg AS (
          |  SELECT user_id, prev || '>' || event_type AS bg
          |  FROM (
          |    SELECT user_id, event_type,
          |      LAG(event_type) OVER (PARTITION BY user_id
          |        ORDER BY (epoch_ns(ts) // 1000000000) ASC, event_id ASC) AS prev
          |    FROM events WHERE user_id % 3 = 0)
          |  WHERE prev IS NOT NULL),
          |ws AS (SELECT user_id, list_distinct(list(bg)) AS wset FROM bg GROUP BY user_id)
          |SELECT id_a, id_b, jac FROM (
          |  SELECT a.user_id AS id_a, b.user_id AS id_b,
          |    CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
          |      / CAST(len(list_distinct(list_cat(a.wset, b.wset))) AS DOUBLE) AS jac
          |  FROM ws a JOIN ws b ON a.user_id < b.user_id)
          |WHERE jac >= CAST('0.96' AS DOUBLE) ORDER BY id_a, id_b""".stripMargin),
    // hybrid retrieval: BM25 lexical page + cosine vector page fused by
    // reciprocal-rank fusion — scores are exact integer `scale DIV
    // (60+rank)` contributions, so the fused order is engine-exact
    QuerySpec("rerank_rrf_hybrid", ((s, d) => {
      val dd = par(s, docs(s, d))
      val lex = graft.operators.Rerank.rankPage(
        TextAnalysis.bm25TopK(dd, terms = Seq("spark", "table", "query"), k = 20),
        "doc_id", "bm25")
      val vec = graft.operators.Rerank.rankPage(
        emb(s, d).select(col("vec_id").as("doc_id"),
            Distances.cosineSimLit(col("embedding"), Q64).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("doc_id").asc).limit(20),
        "doc_id", "cos_sim")
      graft.operators.Rerank.rrf(lex, vec, "doc_id", k = K)
    }),
        s"""WITH lex_scored AS (${bm25ScoredSql(20)}),
           |lex AS (SELECT doc_id,
           |          CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank_a
           |        FROM lex_scored),
           |vec_scored AS (
           |  SELECT vec_id AS doc_id, ${DuckSql.cosineSimLit("embedding", Q64)} AS cos_sim
           |  FROM embeddings ORDER BY cos_sim DESC, doc_id ASC LIMIT 20),
           |vec AS (SELECT doc_id,
           |          CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS INT) AS rank_b
           |        FROM vec_scored)
           |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, rank_a, rank_b,
           |  COALESCE(1000000000000 // (60 + rank_a), 0)
           |    + COALESCE(1000000000000 // (60 + rank_b), 0) AS rrf_score
           |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
           |ORDER BY rrf_score DESC, doc_id ASC LIMIT $K""".stripMargin),
    // diversified top-k: maximal marginal relevance over the top-20 cosine
    // page — distributed scoring + pair matrix, driver-side k-step argmax
    // (the sims are 9-decimal-rounded doubles, so the unrolled DuckDB
    // replay of the greedy selection is bit-exact)
    QuerySpec("rerank_mmr_diverse", ((s, d) =>
      graft.operators.Rerank.mmr(emb(s, d), Q64, Dim, nCand = 20, k = 5)
        .orderBy(col("rank"))),
      mmrSql(nCand = 20, k = 5, lambda = 0.7)),
    // similarity-graph structure: nodes/edges/triangles/max-degree of the
    // cosine pair graph — how clustered is the near-duplicate structure
    // (triangles via the two-join wedge iterator, each counted once)
    QuerySpec("graph_similarity_summary", ((s, d) =>
      graft.operators.GraphOps.summary(simEdges(s, d, target = 200, tau = 0.25))),
      {
        val cs = DuckSql.cosineSimCols("a.embedding", "b.embedding", Dim)
        s"""WITH ve AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % ${modSql(200)} = 0),
           |edges AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst
           |  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
           |  WHERE $cs >= ${DuckSql.fmt(0.25)}),
           |deg AS (
           |  SELECT node, COUNT(*) AS degree
           |  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
           |  GROUP BY node)
           |SELECT
           |  (SELECT COUNT(*) FROM deg) AS n_nodes,
           |  (SELECT COUNT(*) FROM edges) AS n_edges,
           |  (SELECT COUNT(*) FROM edges e1
           |     JOIN edges e2 ON e1.dst = e2.src
           |     JOIN edges e3 ON e1.src = e3.src AND e2.dst = e3.dst) AS n_triangles,
           |  (SELECT MAX(degree) FROM deg) AS max_degree""".stripMargin
      }),
    // PageRank over the same similarity graph (GraphOps.pageRank): 3 fixed
    // supersteps, each one join + one aggregation on node id; per-edge
    // contributions 9-decimal-quantized so the unrolled SQL oracle replays
    // the whole loop (the Pca fixed-iteration contract, on a graph)
    QuerySpec("graph_pagerank", ((s, d) =>
      graft.operators.GraphOps.pageRank(
        simEdges(s, d, target = 200, tau = 0.25), iters = 3).orderBy(col("node"))),
      {
        val cs = DuckSql.cosineSimCols("a.embedding", "b.embedding", Dim)
        val baseSql =
          "(CAST(1 AS DOUBLE) - CAST('0.85' AS DOUBLE)) / CAST((SELECT n FROM nn) AS DOUBLE)"
        val iters = (1 to 3).map { i =>
          val prev = if (i == 1) "pr0" else s"pr${i - 1}"
          // floor-quantized nano-unit contributions: FLOOR on a double
          // product is the identical IEEE op in both engines (ROUND is not
          // — Spark HALF_UPs the exact decimal, DuckDB scales-and-rounds,
          // and they split at half boundaries)
          s"""it$i AS MATERIALIZED (
             |  SELECT d.dst AS node,
             |    SUM(CAST(FLOOR((p.pr / p.deg) * 1e9) AS BIGINT)) AS s9
             |  FROM dir d JOIN $prev p ON d.src = p.node GROUP BY 1),
             |pr$i AS MATERIALIZED (
             |  SELECT q.node, q.deg,
             |    (FLOOR(($baseSql + CAST('0.85' AS DOUBLE) * (CAST(t.s9 AS DOUBLE) / 1e9)) * 1e9) / 1e9) AS pr
             |  FROM it$i t JOIN deg q ON q.node = t.node)""".stripMargin
        }.mkString(",\n")
        // MATERIALIZED: dir is referenced by deg + every it_i, edges0 twice
        // by dir, deg by every pr_i — per-reference inlining re-ran the
        // 64-dim similarity cross join ~8x (2.8 s in the r16 driver sweep).
        s"""WITH ve AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % ${modSql(200)} = 0),
           |edges0 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst
           |  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
           |  WHERE $cs >= ${DuckSql.fmt(0.25)}),
           |dir AS MATERIALIZED (SELECT src, dst FROM edges0 UNION ALL SELECT dst AS src, src AS dst FROM edges0),
           |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM dir GROUP BY 1),
           |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
           |pr0 AS MATERIALIZED (
           |  SELECT node, deg,
           |    (FLOOR((CAST(1 AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)) * 1e9) / 1e9) AS pr
           |  FROM deg),
           |$iters
           |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      }),
    // multi-source BFS hop distances over a denser similarity graph (the
    // vec_id % 5 sample, cos >= 0.25): distance from the label-1 anchor
    // set in 3 fixed supersteps — each superstep joins only the FRONTIER
    // (nodes first reached last round) against the edge list; hops are
    // integers so the unrolled oracle needs no quantization at all
    QuerySpec("graph_bfs_hops", ((s, d) => {
      val (ve, _) = sampleTarget(s, d, 250)
      val seeds = ve.filter(col("label") === 1).select(col("vec_id").as("node"))
      graft.operators.GraphOps.bfsHops(
          simEdges(s, d, target = 250, tau = 0.25), seeds, maxHops = 3)
        .orderBy(col("node"))
    }),
      {
        val cs = DuckSql.cosineSimCols("a.embedding", "b.embedding", Dim)
        val steps = (1 to 3).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, MIN(hop) AS hop FROM (
             |    SELECT node, hop FROM d${i - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, CAST($i AS BIGINT) AS hop
             |    FROM dir e JOIN (SELECT node FROM d${i - 1} WHERE hop = ${i - 1}) f
             |      ON e.src = f.node)
             |  GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % ${modSql(250)} = 0),
           |edges0 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst
           |  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
           |  WHERE $cs >= ${DuckSql.fmt(0.25)}),
           |dir AS MATERIALIZED (SELECT src, dst FROM edges0 UNION ALL SELECT dst AS src, src AS dst FROM edges0),
           |d0 AS MATERIALIZED (SELECT DISTINCT vec_id AS node, CAST(0 AS BIGINT) AS hop FROM ve WHERE label = 1),
           |$steps
           |SELECT node, hop FROM d3 ORDER BY node""".stripMargin
      }),
    // semi-supervised label propagation on the same graph: every 4th
    // sampled node keeps its true label (clamped seeds), 2 rounds of
    // plurality voting with min-label tie-break — integer votes, so the
    // loop replays engine-exact; the winner per node is ONE aggregation
    // (max of (cnt, -label) structs), not a rank window
    QuerySpec("graph_label_prop", ((s, d) => {
      val (ve, m) = sampleTarget(s, d, 250)
      // clamped seeds: every 4th sampled node (vec_id % 4m == 0 — the
      // size-targeted analog of the old %5-sample/%20-seed split)
      val seeds = ve.filter(col("vec_id") % (4 * m) === 0)
        .select(col("vec_id").as("node"), col("label"))
      graft.operators.GraphOps.labelProp(
          simEdges(s, d, target = 250, tau = 0.25), seeds, iters = 2)
        .orderBy(col("node"))
    }),
      {
        val cs = DuckSql.cosineSimCols("a.embedding", "b.embedding", Dim)
        val rounds = (1 to 2).map { i =>
          val prev = if (i == 1) "seeds" else s"l${i - 1}"
          s"""v$i AS MATERIALIZED (
             |  SELECT d.dst, l.label, COUNT(*) AS cnt
             |  FROM dir d JOIN $prev l ON d.src = l.node GROUP BY d.dst, l.label),
             |w$i AS MATERIALIZED (
             |  SELECT dst AS node, label FROM (
             |    SELECT dst, label,
             |      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
             |    FROM v$i) WHERE rn = 1),
             |l$i AS MATERIALIZED (
             |  SELECT node, label FROM seeds
             |  UNION ALL
             |  SELECT node, label FROM w$i w
             |  WHERE NOT EXISTS (SELECT 1 FROM seeds s WHERE s.node = w.node))""".stripMargin
        }.mkString(",\n")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % ${modSql(250)} = 0),
           |edges0 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst
           |  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
           |  WHERE $cs >= ${DuckSql.fmt(0.25)}),
           |dir AS MATERIALIZED (SELECT src, dst FROM edges0 UNION ALL SELECT dst AS src, src AS dst FROM edges0),
           |seeds AS MATERIALIZED (SELECT vec_id AS node, CAST(label AS BIGINT) AS label
           |          FROM ve WHERE vec_id % (4 * ${modSql(250)}) = 0),
           |$rounds
           |SELECT node, label FROM l2 ORDER BY node""".stripMargin
      }),
    // distributed PCA (top principal direction of the first 8 dims): the
    // corpus collapses to its 8×8 second-moment Gram matrix in ONE
    // aggregation pass (decimal-exact sums), then fixed-seed power
    // iteration on the driver — the whole pipeline, Gram + 3 iterations +
    // normalizations, is replayed by the unrolled SQL oracle bit-for-bit
    QuerySpec("vec_pca_top_component", ((s, d) =>
      graft.operators.Pca.topComponent(emb(s, d), dims = 8, iters = 3)
        .orderBy(col("dim_idx"))),
      pcaSql(dims = 8, iters = 3)),
    // grid-density clustering (the corpus-scale DBSCAN analog): points →
    // 2-D cell histogram (the ONE corpus-scale shuffle; |cells| rows out
    // regardless of input size) → core cells ≥ minPts → 8-neighbor
    // adjacency as an equi-join → connected components. Pairwise point
    // distances never materialize
    QuerySpec("cluster_density_grid", ((s, d) =>
      graft.operators.DensityCluster.gridClusterSummary(
          emb(s, d), "embedding", densityCfg, minPts = DensityMinPts)
        .select(col("cluster"), col("n_cells"), col("n_points"))
        .orderBy(col("cluster"))),
      {
        val bx = Grid.bucketSql("embedding", 0, densityCfg)
        val by = Grid.bucketSql("embedding", 1, densityCfg)
        s"""WITH RECURSIVE cells AS (
           |  SELECT bx, by, COUNT(*) AS n
           |  FROM (SELECT $bx AS bx, $by AS by FROM embeddings) GROUP BY bx, by),
           |core AS (
           |  SELECT CAST(bx AS BIGINT) * ${densityCfg.partsPerDim} + by AS cell, bx, by, n
           |  FROM cells WHERE n >= $DensityMinPts),
           |edges AS (
           |  SELECT a.cell AS src, b.cell AS dst FROM core a JOIN core b
           |  ON abs(a.bx - b.bx) <= 1 AND abs(a.by - b.by) <= 1 AND a.cell < b.cell),
           |sym AS MATERIALIZED (SELECT src, dst FROM edges
           |        UNION SELECT dst AS src, src AS dst FROM edges),
           |reach(id, lab) AS (
           |  SELECT DISTINCT src AS id, src AS lab FROM sym
           |  UNION
           |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id),
           |labels AS (SELECT id, MIN(lab) AS canonical FROM reach GROUP BY id)
           |SELECT cluster, COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_points
           |FROM (SELECT core.n AS n, COALESCE(l.canonical, core.cell) AS cluster
           |      FROM core LEFT JOIN labels l ON l.id = core.cell)
           |GROUP BY cluster ORDER BY cluster""".stripMargin
      }),
    // per-point cluster assignment (the DBSCAN output contract): broadcast
    // the grid-bounded label table against the point scan; noise = -1
    QuerySpec("cluster_density_assign", ((s, d) =>
      graft.operators.DensityCluster.assign(
          emb(s, d), "vec_id", "embedding", densityCfg, minPts = DensityMinPts)
        .orderBy(col("vec_id"))),
      {
        val bx = Grid.bucketSql("embedding", 0, densityCfg)
        val by = Grid.bucketSql("embedding", 1, densityCfg)
        s"""WITH RECURSIVE cells AS (
           |  SELECT bx, by, COUNT(*) AS n
           |  FROM (SELECT $bx AS bx, $by AS by FROM embeddings) GROUP BY bx, by),
           |core AS (
           |  SELECT CAST(bx AS BIGINT) * ${densityCfg.partsPerDim} + by AS cell, bx, by, n
           |  FROM cells WHERE n >= $DensityMinPts),
           |edges AS (
           |  SELECT a.cell AS src, b.cell AS dst FROM core a JOIN core b
           |  ON abs(a.bx - b.bx) <= 1 AND abs(a.by - b.by) <= 1 AND a.cell < b.cell),
           |sym AS MATERIALIZED (SELECT src, dst FROM edges
           |        UNION SELECT dst AS src, src AS dst FROM edges),
           |reach(id, lab) AS (
           |  SELECT DISTINCT src AS id, src AS lab FROM sym
           |  UNION
           |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id),
           |labels AS (SELECT id, MIN(lab) AS canonical FROM reach GROUP BY id),
           |cl AS (SELECT core.cell, COALESCE(l.canonical, core.cell) AS cluster
           |       FROM core LEFT JOIN labels l ON l.id = core.cell)
           |SELECT e.vec_id, COALESCE(cl.cluster, -1) AS cluster
           |FROM (SELECT vec_id, CAST($bx AS BIGINT) * ${densityCfg.partsPerDim} + $by AS cell
           |      FROM embeddings) e
           |LEFT JOIN cl ON cl.cell = e.cell
           |ORDER BY e.vec_id""".stripMargin
      }),
    // k-th-NN-distance outlier scores (Ramaswamy SIGMOD'00) over a scored
    // subset vs the full corpus — the embedding-noise gate of a curation
    // pipeline. kth dist = MAX over the k nearest (order-independent ⇒
    // engine-exact); self-pair excluded
    QuerySpec("knn_outlier_kth_dist", ((s, d) => {
      val db = emb(s, d)
      graft.operators.Outlier.kthNnDistance(
          db, db.filter(col("vec_id") % 7 === 0), k = 5, dim = Dim,
          threshold = 2.5)
        .orderBy(col("vec_id"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q_embedding", "embedding", Dim)
        s"""SELECT query_id AS vec_id, MAX(dist) AS kth_dist,
           |  COUNT(*) AS n_neighbors,
           |  CAST(CASE WHEN MAX(dist) > ${DuckSql.fmt(2.5)} THEN 1 ELSE 0 END AS INT) AS is_outlier
           |FROM (
           |  SELECT query_id, dist,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn
           |  FROM (
           |    SELECT q.query_id, d.vec_id, $pd AS dist
           |    FROM (SELECT vec_id AS query_id, embedding AS q_embedding
           |          FROM embeddings WHERE vec_id % 7 = 0) q
           |    CROSS JOIN embeddings d
           |    WHERE d.vec_id <> q.query_id))
           |WHERE rn <= 5 GROUP BY query_id ORDER BY vec_id""".stripMargin
      })
  )
}
