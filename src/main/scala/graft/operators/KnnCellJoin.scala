package graft.operators

import graft.api.SquaredL2
import graft.functions.VecMetric
import graft.index.{Grid, GridGeometry}
import graft.plans.{KnnJoinExec, KnnJoinPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact batch kNN join with per-query candidate-cell pruning: the scale form of the brute
  * [[graft.plans.KnnJoinPlan]], planned on the driver as two cell-restricted passes of its
  * [[KnnJoinExec]]. Each query ranks the non-empty cells by the single-query search's bounds
  * ([[Knn.cellStats]], [[Knn.cellBound]], [[Knn.rank]]). The seed pass scores its first round
  * of cells ([[Knn.roundEnd]]); its kth distance τ (+∞ below k rows) bounds the true kth from
  * above. The pruned pass scores the other cells [[Knn.stops]]'s test keeps (`!(bound > τ)`: a
  * NaN bound or τ keeps a cell), its early exit starting at τ: the REPOSE shape (ICDE 2021), a
  * local bounded top-k under a per-query threshold. Exact: the bounds are admissible for the
  * exec's kernel for every [[GridGeometry]], the exec cuts only pairs strictly past τ (ties at
  * τ break on id), and the cells are disjoint. */
object KnnCellJoin {

  /** Identical results to the brute [[graft.plans.KnnJoinPlan]] join (the oracle contract):
    * `queries` (query_id, embedding) against `indexedDb` (vec_id, embedding, cell_id), as
    * (query_id, vec_id, dist, rn). A row whose distance is null is never returned; a stored
    * vector of another length that a pass reads fails as in the brute join. A store of at most
    * `bruteForceThreshold` rows, or with more cells than the driver holds stats for, runs the
    * brute join. */
  def join(queries: DataFrame, indexedDb: DataFrame, cfg: GridGeometry, k: Int,
      bruteForceThreshold: Long = 200000L): DataFrame = {
    // Query-side dim validation (the reference asserts vector shape on every
    // call, kd_tree_database.py:84-85): a null or short query embedding fails.
    val qs = Grid.requireDim(queries, "embedding", cfg.dim)
      .select(col("query_id"), col("embedding"))
      .localCheckpoint(true)
    val rows = qs.collect()
    val stats = Knn.cellStats(indexedDb, cfg) match {
      case Some(st) if st.valuesIterator.map(_.rows).sum > bruteForceThreshold => st
      case _ => return KnnJoinPlan.join(qs, indexedDb, k)
    }
    val spark = qs.sparkSession
    import spark.implicits._
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val ranked = vecs.map(_.map(_.toDouble)).map(q => Knn.rank(stats,
      Knn.cellBound(SquaredL2.cellBound(q, _, cfg), SquaredL2.boxBound(q, _, _), Some(stats))))
    val seedEnd = ranked.map(r => Knn.roundEnd(0, r.length, k, j => r(j.toInt)._3).toInt)
    // both passes key the queries by row index: a query id may repeat
    val qtab = vecs.toSeq.zipWithIndex.map(_.swap).toDF("query_id", "embedding")
    def pass(admit: Int => (Array[Long], Double)): Array[KnnTopK.Result] = {
      val cells = rows.indices.map(i => i.toLong -> admit(i)).toMap
      val union = cells.valuesIterator.flatMap(_._1).toSeq.distinct
      if (union.isEmpty) Array.empty
      else KnnJoinPlan.join(qtab, indexedDb.filter(col("cell_id").isin(union: _*)), k,
        VecMetric.SqL2, "query_id", Some(cells)).as[KnnTopK.Result].collect()
    }
    val seed = pass(i => (ranked(i).take(seedEnd(i)).map(_._1), Double.PositiveInfinity))
    val kth = seed.collect { case r if r.rn == k => r.query_id.toInt -> r.dist }.toMap
    val rest = pass { i =>
      val tau = kth.getOrElse(i, Double.PositiveInfinity)
      (ranked(i).drop(seedEnd(i)).collect { case (c, b, _) if !(b > tau) => c }, tau)
    }
    // each query's top-k of both passes; rows sharing a query id merge, as
    // KnnJoinExec merges them
    val ids = rows.map(_.getAs[Number](0).longValue)
    (seed ++ rest).groupBy(r => ids(r.query_id.toInt)).toSeq.flatMap { case (id, rs) =>
      rs.sortWith((x, y) => KnnJoinExec.before(x.dist, x.vec_id, y.dist, y.vec_id)).take(k)
        .zipWithIndex.map { case (r, n) => KnnTopK.Result(id, r.vec_id, r.dist, n + 1) }
    }.toDF()
  }
}
