package graft.operators

import graft.api.SquaredL2
import graft.functions.Distances
import graft.index.{Grid, GridGeometry}
import graft.plans.{KnnJoinExec, KnnJoinPlan}
import graft.plans.KnnJoinExec.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact batch kNN join with per-query candidate-cell pruning — the
  * engine's other batch join, the scale form of the brute-force
  * [[graft.plans.KnnJoinPlan]]: instead of |Q| × |db| distances, each
  * query joins only the db cells its own widening reaches.
  *
  * It widens as the single-query search does ([[Knn.prunedSearch]]), on
  * the same decisions, written once in [[Knn]]: the store's per-cell stats
  * ([[Knn.cellStats]]), each query's non-empty cells ranked by the
  * squared-L2 grid bound raised to the cell's data-box bound
  * ([[Knn.cellBound]], [[Knn.rank]]), the round size ([[Knn.roundEnd]]) and
  * the stop rule ([[Knn.stops]]). The box bound prunes in every dim, so
  * the join prunes on 64-dim vectors gridded in 3 dims as well as on
  * fully gridded low-dim data. This is the REPOSE shape (ICDE 2021): a
  * local bounded top-k per query under that query's own threshold.
  *
  * Exactness: the bounds are admissible for the squared-L2 column kernel
  * ([[Distances.squaredL2Cols]]) with the query's float coordinates widened
  * to double, as the kernel reads them, for every [[GridGeometry]]. Cells
  * are disjoint, so the per-round top-k merged into the kept top-k
  * ([[KnnJoinExec.merge]], top-k(S ∪ D) = merge(top-k(S), top-k(D))) is
  * the top-k of every scanned cell, and a query stops only when no
  * unscanned cell can beat its kth distance, or when its cells run out (a
  * NaN or far out-of-bounds query ends that way).
  *
  * Scale: per round, one collect — a broadcast (query, cell) pair table
  * joined to the store filtered by `cell_id IN` the round's cells (file
  * pruning on a cell-partitioned store), ranked by the bounded
  * [[KnnTopK.topK]] aggregator and collected (≤ |Q|·k rows). The queries, their rankings and
  * their kept top-k live on the driver: the query side is small by the
  * join's contract. Finished queries leave the loop.
  */
object KnnCellJoin {

  /** Exact batch kNN join: identical results to the brute
    * [[graft.plans.KnnJoinPlan]] join (the oracle contract). `queries`
    * provides (query_id, embedding), `indexedDb` (vec_id, embedding,
    * cell_id); the result is (query_id, vec_id, dist, rn). A stored row
    * whose distance is null (a null coordinate) is never returned. A store
    * of at most `bruteForceThreshold` rows, or one whose geometry has more
    * cells than the driver holds stats for, runs the brute-force join. */
  def join(queries: DataFrame, indexedDb: DataFrame, cfg: GridGeometry, k: Int,
      bruteForceThreshold: Long = 200000L): DataFrame = {
    // Query-side dim validation (the reference asserts vector shape on every
    // call, kd_tree_database.py:84-85): a null or short query embedding fails.
    val qs = Grid.requireDim(queries, "embedding", cfg.dim)
      .select(col("query_id"), col("embedding"))
      .localCheckpoint(true)
    val rows = qs.collect()
    // Cost-based path choice (same rule as Knn.prunedSearch): below the
    // threshold the widening rounds cost more than one brute-force join.
    // Identical results either way (specs pin threshold = 0).
    val stats = Knn.cellStats(indexedDb, cfg) match {
      case Some(st) if st.valuesIterator.map(_.rows).sum > bruteForceThreshold => st
      case _ => return KnnJoinPlan.join(qs, indexedDb, k)
    }
    val spark = qs.sparkSession
    import spark.implicits._
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val ranked = vecs.map { v =>
      val q = v.map(_.toDouble)
      Knn.rank(stats, Knn.cellBound(SquaredL2.cellBound(q, _, cfg), SquaredL2.boxBound(q, _, _),
        Some(stats)))
    }
    val nCells = stats.size.toLong
    // the query side of every round, keyed by row index: a query id may repeat
    val qtab = vecs.toSeq.zipWithIndex.map(_.swap).toDF("query_id", "q_embedding")
    val scanned = Array.fill(rows.length)(0L)
    val kept = Array.fill(rows.length)(new TopK(Array.emptyLongArray, Array.emptyDoubleArray))
    var live: Seq[Int] = rows.indices
    while (live.nonEmpty) {
      val ends = live.map(i => Knn.roundEnd(scanned(i), nCells, k, j => ranked(i)(j.toInt)._3))
      val pairs = live.zip(ends).flatMap { case (i, end) =>
        (scanned(i) until end).map(j => (i, ranked(i)(j.toInt)._1))
      }
      val cands = broadcast(pairs.toDF("query_id", "cell_id").join(qtab, "query_id"))
        .join(indexedDb.filter(col("cell_id").isin(pairs.map(_._2).distinct: _*)), "cell_id")
        .select(col("query_id"), col("vec_id"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), cfg.dim).as("dist"))
      KnnTopK.topK(cands, k).as[KnnTopK.Result].collect().groupBy(_.query_id).foreach {
        case (i, rs) =>
          val r = rs.sortBy(_.rn)
          kept(i.toInt) = KnnJoinExec.merge(kept(i.toInt), new TopK(r.map(_.vec_id), r.map(_.dist)), k)
      }
      live.zip(ends).foreach { case (i, end) => scanned(i) = end }
      live = live.filterNot(i => Knn.stops(scanned(i), nCells, j => ranked(i)(j.toInt)._2,
        kept(i).ids.length, k, kept(i).dists(k - 1)))
    }
    // rows sharing a query id merge, as KnnJoinExec merges them
    val ids = rows.map(_.getAs[Number](0).longValue)
    rows.indices.groupBy(ids(_)).toSeq.flatMap { case (id, is) =>
      val t = is.map(kept(_)).reduce(KnnJoinExec.merge(_, _, k))
      t.ids.indices.map(r => KnnTopK.Result(id, t.ids(r), t.dists(r), r + 1))
    }.toDF()
  }
}
