package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Retrieval re-ranking operators over the kNN/BM25 building blocks — the
  * post-retrieval stage of a vector-search deployment (the reference stops
  * at raw kNN, vectordb/kd_tree_database.py:285-304; a production engine
  * fuses lexical + vector rankings and diversifies the final page).
  *
  * Scale shape: both operators run their heavy stage distributed (corpus
  * scoring + top-N via `TakeOrderedAndProject`) and only the bounded
  * candidate page (N ≈ tens) reaches the fusion/selection logic, so the
  * corpus size never appears after the first stage.
  */
object Rerank {

  /** Reciprocal-rank fusion of two ranked lists (Cormack et al.):
    * score(d) = Σ_lists 1/(rrfK + rank_d). Computed in EXACT integer
    * arithmetic — each contribution is `scale div (rrfK + rank)` (floor
    * division of positives, identical in Spark and DuckDB `//`) — so the
    * fused order is engine-exact with no float drift.
    *
    * Inputs are (id, rank) pages from upstream retrievers (rank 1-based,
    * bounded N); an id missing from one list contributes 0 from that list.
    */
  def rrf(a: DataFrame, b: DataFrame, idCol: String, k: Int,
      rrfK: Int = 60, scale: Long = 1000000000000L): DataFrame = {
    val fa = a.select(col(idCol), col("rank").as("rank_a"))
    val fb = b.select(col(idCol), col("rank").as("rank_b"))
    // `DIV` is true integer (floor-of-positives) division — Spark's `/` on
    // longs is DOUBLE division and would reintroduce float drift
    fa.join(fb, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_a").cast(IntegerType), col("rank_b").cast(IntegerType),
        (coalesce(expr(s"$scale DIV ($rrfK + rank_a)"), lit(0L)) +
         coalesce(expr(s"$scale DIV ($rrfK + rank_b)"), lit(0L)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Attach a dense 1-based rank to a scored page: `(id, rank)` ordered by
    * (score desc, id asc). The page is already bounded (≤ N rows), so the
    * unpartitioned window is a single-task sort over N rows, not a scale
    * hazard. */
  def rankPage(page: DataFrame, idCol: String, scoreCol: String): DataFrame =
    page.select(col(idCol), col(scoreCol))
      .withColumn("rank",
        row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol).asc)))
      .select(col(idCol), col("rank"))

  /** NDCG@k of a ranked retrieval page against graded relevance — the
    * standard offline quality readout of a retrieval deploy (its lexical
    * sibling is `ann_ivf_recall` on the vector side).
    *
    * `run` is the (id, rank) page (1-based, ≤ k rows); `rel` maps ids to
    * integer relevance grades (missing id → grade 0). The ideal ranking
    * is the corpus-wide top-k by (grade DESC, id ASC) — a distributed
    * `TakeOrderedAndProject`, never a full sort. Discount weights
    * 1/log2(rank+1) are computed ONCE driver-side and shipped as
    * literals, per-rank terms are 9-decimal-quantized, so DCG, IDCG and
    * their ratio replay engine-exact.
    *
    * Returns one row: (k, dcg, idcg, ndcg), rounded to 6 decimals. */
  def ndcgAtK(run: DataFrame, rel: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = run.sparkSession
    import spark.implicits._
    val discounts = (1 to k)
      .map(r => (r, 1.0 / (math.log(r + 1.0) / math.log(2.0))))
      .toDF("rank", "disc")
    def dcgOf(page: DataFrame): DataFrame = page
      .join(broadcast(discounts), Seq("rank"))
      .agg(sum(round(col("grade").cast("double") * col("disc"), 9)
        .cast(DecimalType(18, 9))).as("dcg"))
    val runGraded = run.join(rel, Seq(idCol), "left_outer")
      .select(col("rank"), coalesce(col("grade"), lit(0L)).as("grade"))
    val ideal = rel
      .orderBy(col("grade").desc, col(idCol).asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("grade").desc, col(idCol).asc)))
    val d = dcgOf(runGraded).select(col("dcg"))
    val i = dcgOf(ideal).select(col("dcg").as("idcg"))
    d.crossJoin(i).select(lit(k).as("k"),
      round(col("dcg").cast("double"), 6).as("dcg"),
      round(col("idcg").cast("double"), 6).as("idcg"),
      round(col("dcg").cast("double") / col("idcg").cast("double"), 6).as("ndcg"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein):
    * from the top-`nCand` cosine candidates, greedily select k documents
    * maximizing `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`.
    *
    * Stage 1 (distributed): corpus cosine scoring + top-nCand
    * (`TakeOrderedAndProject`) and the nCand² candidate-pair similarity
    * matrix — both engine-exact (sims rounded to 9 decimals, which a DOUBLE
    * represents uniquely, so cross-engine comparisons can never flip).
    * Stage 2 (driver): the inherently sequential k-step argmax over the
    * bounded page — O(k·nCand) scalar IEEE ops on collected rows; this is
    * the page-rerank stage of a retrieval stack, NOT a scan (the corpus
    * never reaches the driver). All stage-2 arithmetic is plain double
    * `λ*simq - (1-λ)*maxSim` in fixed operand order so a SQL replay
    * (generated unrolled, see KnnQueries.mmrSql) reproduces it bit-for-bit.
    *
    * Returns (rank 1..k, vec_id, mmr_score). Ties break on smaller id.
    */
  def mmr(emb: DataFrame, q: Array[Double], dim: Int,
      nCand: Int = 20, k: Int = 5, lambda: Double = 0.7): DataFrame = {
    val spark = emb.sparkSession
    val cand = emb.select(col("vec_id"), col("embedding"),
        round(Distances.cosineSimLit(col("embedding"), q), 9).as("simq"))
      .orderBy(col("simq").desc, col("vec_id").asc)
      .limit(nCand)
      .cache()
    val pairs = cand.select(col("vec_id").as("i"), col("embedding").as("ea"))
      .crossJoin(cand.select(col("vec_id").as("j"), col("embedding").as("eb")))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        round(Distances.cosineSimCols(col("ea"), col("eb"), dim), 9).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val page = cand.select(col("vec_id"), col("simq")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    cand.unpersist()

    val oneMinus = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(page: _*)
    while (selected.length < k && remaining.nonEmpty) {
      var bestId = -1L; var bestScore = Double.NegativeInfinity
      for ((id, simq) <- remaining) {
        // max pair-sim to the already-selected set (true max — sims can be
        // negative, mirroring SQL MAX); 0.0 only for the first pick
        var maxSim = if (selected.isEmpty) 0.0 else Double.NegativeInfinity
        for ((sid, _) <- selected) {
          val s = pairs((id, sid))
          if (s > maxSim) maxSim = s
        }
        val score = lambda * simq - oneMinus * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestId = id; bestScore = score
        }
      }
      selected += ((bestId, bestScore))
      remaining.remove(bestId)
    }

    val rows = selected.zipWithIndex.map { case ((id, score), i) =>
      Row(i + 1, id, score)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("mmr_score", DoubleType, nullable = false))))
  }
}
