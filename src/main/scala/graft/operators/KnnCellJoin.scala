package graft.operators

import graft.functions.Distances
import graft.index.{Grid, GridGeometry}
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact batch kNN join with per-query candidate-cell pruning — the
  * engine's other batch join, the scale form of the brute-force
  * [[graft.plans.KnnJoinPlan]]: instead of |Q| × |db| distances, each
  * query joins only the db cells inside its current search box, and
  * unfinished queries widen their box geometrically.
  *
  * Exactness: the box `[q − s, q + s]` per gridded dim contains every
  * point within L2 distance `s` of `q` (any point outside has some
  * |coord diff| > s, hence squared distance > s²). So once a query holds
  * k hits with kth squared distance ≤ s², nothing outside the box can
  * beat them — the same admissible-bound argument as the single-query
  * widening loop (SURVEY §4 O1), vectorized over the query set.
  *
  * Scale: per round, ONE equi-join on cell_id between the (small,
  * broadcastable) exploded query×cells side and the cell-partitioned
  * store — file-level pruning applies; rounds are O(log diameter); the
  * finished queries leave the loop, so later (expensive, wide-box)
  * rounds run on the stragglers only. The finished/remaining sets are
  * query ids held on the driver (the query side is broadcast every round
  * anyway, so its ids fit there by construction): each round costs two
  * jobs, the checkpointed top-k and the finished-id collect.
  *
  * One join for every [[GridGeometry]]: the loop sees the grid only
  * through the geometry's bucket Column (applied to the box endpoints),
  * its box-covers-all test and its widening radii, so the equal-width
  * [[graft.index.GridConfig]] and the quantile-calibrated
  * [[graft.index.QuantileGridConfig]] (whose balanced cells are exactly
  * what skewed corpora need — 19,980 vs 977,885 max-cell at 1M rows,
  * SCALE_NOTES) share one implementation. The box argument above never
  * references bucket geometry, so exactness is untouched: a point outside
  * the candidate cells of `[q−s, q+s]` sits in some dim's bucket strictly
  * outside the span's bucket range, hence its coordinate is beyond a
  * boundary that itself lies outside the span — squared distance > s².
  *
  * Dimensionality regime (measured in ScaleProbe): certification compares
  * the FULL-dim kth distance against the gridded-dims box, so when most
  * of the distance lives in ungridded dims (e.g. 64-dim vectors, 3
  * gridded) no box short of everything certifies and the loop degenerates
  * to a full scan plus round overhead — use [[graft.plans.KnnJoinPlan]]
  * (exact) or [[Ann]] (IVF/LSH, approximate) there. In low-dim
  * fully-gridded data (geo, PCA'd embeddings) the first rounds certify
  * and the join touches a small cell fraction.
  */
object KnnCellJoin {

  /** All cell ids intersecting the per-dim bucket box of `[q−s, q+s]`,
    * as ONE Column expression (flattened cross-product of per-dim bucket
    * ranges — gridDims is plan-time constant). */
  private[operators] def cellsInBox(v: Column, cfg: GridGeometry, s: Double): Column = {
    val ranges = (0 until cfg.gridDims).map { d =>
      val q = element_at(v, d + 1).cast("double")
      sequence(cfg.bucket(q - lit(s), d).cast("long"), cfg.bucket(q + lit(s), d).cast("long"))
    }
    // fold dims into flat cell ids: acc × nextDimRange
    ranges.zipWithIndex.tail.foldLeft(ranges.head) { case (acc, (rng, d)) =>
      flatten(transform(acc, c => transform(rng, b => c + b * lit(cfg.weight(d)))))
    }
  }

  /** The box of THIS query covers every grid cell (so its round-result is
    * definitionally final — also the escape hatch for < k total rows and
    * far-out-of-bounds queries whose kth bound can never certify). */
  private def coversAll(v: Column, cfg: GridGeometry, s: Double): Column =
    (0 until cfg.gridDims).map { d =>
      cfg.boxCovers(element_at(v, d + 1).cast("double"), d, s)
    }.reduce(_ && _)

  /** Exact batch kNN join: identical results to the brute
    * [[graft.plans.KnnJoinPlan]] join (the oracle contract). `queries`
    * provides (query_id, embedding), `indexedDb` (vec_id, embedding,
    * cell_id). Queries that never certify (NaN components, absurdly far
    * out-of-bounds) stop widening at the geometry's `joinMaxRadius` and
    * get exact brute-force results instead of looping forever. */
  def join(queries: DataFrame, indexedDb: DataFrame, cfg: GridGeometry, k: Int,
      bruteForceThreshold: Long = 200000L): DataFrame = {
    // Query-side dim validation (the reference asserts vector shape on every
    // call, kd_tree_database.py:84-85): a null or short query embedding would
    // otherwise vanish from cellsInBox/coversAll and loop forever.
    val qs0 = Grid.requireDim(queries, "embedding", cfg.dim)
      .select(col("query_id"), col("embedding"))
      .localCheckpoint(true)
    // Exact brute-force join over a query subset — the fast path for small
    // stores AND the escape hatch for uncertifiable stragglers.
    def bruteOn(qs: DataFrame): DataFrame = KnnJoinPlan.join(qs, indexedDb, k)
    // Cost-based path choice (same rule as Knn.prunedSearch): below the
    // threshold the widening loop's per-round jobs cost more than one
    // brute-force join; above it, cell pruning skips most of the db per
    // query. Identical results either way (specs pin threshold = 0).
    if (indexedDb.count() <= bruteForceThreshold) return bruteOn(qs0)

    val allIds = qs0.select(col("query_id")).collect().map(_.get(0))
    var remainingIds: Set[Any] = allIds.toSet
    // membership as `isin` literal filters over the checkpointed queries
    def remaining: DataFrame =
      if (remainingIds.size == allIds.length) qs0
      else qs0.filter(col("query_id").isin(remainingIds.toSeq: _*))
    var s = cfg.joinStartRadius
    val accParts = Seq.newBuilder[DataFrame]
    while (remainingIds.nonEmpty && s <= cfg.joinMaxRadius) {
      val rem = remaining
      val cand = rem.withColumn("cell_id", explode(cellsInBox(col("embedding"), cfg, s)))
      // bounded top-k AGGREGATOR, not a window: the shuffle carries ≤ k
      // rows per query per map task — a window would shuffle and sort
      // EVERY candidate pair (measured 7× slower at 1M rows in ScaleProbe)
      val topk = KnnTopK.topK(
          broadcast(cand.withColumnRenamed("embedding", "q_embedding"))
            .join(indexedDb, "cell_id")
            .select(col("query_id"), col("vec_id"),
              Distances.squaredL2Cols(col("q_embedding"), col("embedding"), cfg.dim).as("dist")),
          k)
        .localCheckpoint(true)
      // DONE: k hits with kth dist <= s² (nothing outside the box can beat
      // them), or the box already spans every cell.
      val certified = topk.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"))
        .filter(col("n") === k && col("kth") <= lit(s * s))
        .select(col("query_id"))
      val fullCover = rem.filter(coversAll(col("embedding"), cfg, s))
        .select(col("query_id"))
      val finished = certified.unionByName(fullCover).distinct()
        .collect().map(_.get(0)).toSet
      if (finished.nonEmpty) {
        accParts += topk.filter(col("query_id").isin(finished.toSeq: _*))
        remainingIds --= finished
      }
      s *= 4
    }
    // Escape hatch for stragglers the box logic can never certify: exact
    // brute force — always correct, and no more work than the all-cells box
    // they were widening toward.
    if (remainingIds.nonEmpty) accParts += bruteOn(remaining)
    accParts.result().reduceOption(_ unionByName _)
      .getOrElse(qs0.sparkSession.emptyDataFrame)
  }
}
