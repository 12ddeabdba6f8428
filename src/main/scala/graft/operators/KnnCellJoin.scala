package graft.operators

import graft.functions.Distances
import graft.index.{Grid, GridGeometry}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact batch kNN join with per-query candidate-cell pruning — the scale
  * form of [[KnnJoin]]: instead of |Q| × |db| distances (broadcast cross),
  * each query joins only the db cells inside its current search box, and
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
  * finished-query set leaves the loop, so later (expensive, wide-box)
  * rounds run on the stragglers only.
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
  * to a full scan plus round overhead — use [[KnnTopK]] (exact) or
  * [[Ann]] (IVF/LSH, approximate) there. In low-dim fully-gridded data
  * (geo, PCA'd embeddings) the first rounds certify and the join touches
  * a small cell fraction.
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

  /** Exact batch kNN join: identical results to the brute [[KnnJoin]]
    * (the oracle contract). Queries that never certify (NaN components,
    * absurdly far out-of-bounds) stop widening at the geometry's
    * `joinMaxRadius` and get exact brute-force results instead of looping
    * forever. */
  def join(queries: DataFrame, indexedDb: DataFrame, cfg: GridGeometry, k: Int,
      queryIdCol: String = "query_id", dbIdCol: String = "vec_id",
      vecCol: String = "embedding", bruteForceThreshold: Long = 200000L,
      driverIdLimit: Int = DriverIdLimit): DataFrame = {
    val spark = queries.sparkSession
    val dim = cfg.dim
    // Query-side dim validation (the reference asserts vector shape on every
    // call, kd_tree_database.py:84-85): a null or short query embedding would
    // otherwise vanish from cellsInBox/coversAll and loop forever.
    val qs0 = Grid.requireDim(queries, vecCol, dim)
      .select(col(queryIdCol), col(vecCol).as("q_embedding"))
      .localCheckpoint(true)
    // Exact aggregator cross join over a query subset — the fast path for
    // small stores AND the escape hatch for uncertifiable stragglers.
    def bruteOn(qs: DataFrame): DataFrame =
      KnnTopK.topK(
          indexedDb.crossJoin(broadcast(qs))
            .select(col(queryIdCol).as("query_id"), col(dbIdCol).as("vec_id"),
              Distances.squaredL2Cols(col("q_embedding"), col(vecCol), dim).as("dist")),
          k)
        .withColumnRenamed("query_id", queryIdCol)
        .withColumnRenamed("vec_id", dbIdCol)
    // Cost-based path choice (same rule as Knn.prunedSearch): below the
    // threshold the widening loop's per-round jobs cost more than one
    // aggregator cross join; above it, cell pruning skips most of the db
    // per query. Identical results either way (specs pin threshold = 0).
    if (indexedDb.count() <= bruteForceThreshold) return bruteOn(qs0)

    // Driver-tracked finished set for SMALL query batches (the common
    // serving shape; the query side is broadcast every round anyway, so
    // its ids fit on the driver by construction). Cuts the per-round job
    // count from ~5 (topk checkpoint + acc checkpoint + remaining
    // checkpoint + isEmpty + finished join) to 2 (topk checkpoint +
    // finished-id collect): membership tests become `isin` literal
    // filters over the checkpointed query table instead of joins. Large
    // batches (isin over 10k+ literals bloats the plan) keep the
    // DataFrame anti-join loop below.
    if (driverIdLimit > 0) {
      val idProbe = qs0.select(col(queryIdCol)).limit(driverIdLimit + 1).collect()
      if (idProbe.length <= driverIdLimit)
        return joinDriverTracked(qs0, indexedDb, k, cfg,
          queryIdCol, dbIdCol, vecCol,
          idProbe.map(_.get(0)), bruteOn)
    }

    var s = cfg.joinStartRadius
    var remaining = qs0
    var acc: Option[DataFrame] = None

    while (!remaining.isEmpty && s <= cfg.joinMaxRadius) {
      val cand = remaining
        .withColumn("cell_id", explode(cellsInBox(col("q_embedding"), cfg, s)))
      // bounded top-k AGGREGATOR, not a window: the shuffle carries ≤ k
      // rows per query per map task — a window would shuffle and sort
      // EVERY candidate pair (measured 7× slower at 1M rows in ScaleProbe)
      val topk = KnnTopK.topK(
          broadcast(cand).join(indexedDb, "cell_id")
            .select(col(queryIdCol).as("query_id"), col(dbIdCol).as("vec_id"),
              Distances.squaredL2Cols(col("q_embedding"), col(vecCol), dim).as("dist")),
          k)
        .withColumnRenamed("query_id", queryIdCol)
        .withColumnRenamed("vec_id", dbIdCol)
        .localCheckpoint(true)
      // DONE: k hits with kth dist <= s² (nothing outside the box can beat
      // them), or the box already spans every cell.
      val certified = topk.groupBy(col(queryIdCol))
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"))
        .filter(col("n") === k && col("kth") <= lit(s * s))
        .select(col(queryIdCol))
      val fullCover = remaining.filter(coversAll(col("q_embedding"), cfg, s))
        .select(col(queryIdCol))
      val finishedIds = certified.unionByName(fullCover).distinct()
      val taken = topk.join(finishedIds, queryIdCol)
      acc = Some(acc.map(_.unionByName(taken)).getOrElse(taken).localCheckpoint(true))
      remaining = remaining.join(finishedIds, Seq(queryIdCol), "left_anti")
        .localCheckpoint(true)
      s *= 4
    }
    // Escape hatch for stragglers the box logic can never certify: exact
    // brute force — always correct, and no more work than the all-cells box
    // they were widening toward.
    if (!remaining.isEmpty) {
      val taken = bruteOn(remaining)
      acc = Some(acc.map(_.unionByName(taken)).getOrElse(taken))
    }
    acc.getOrElse(spark.emptyDataFrame)
  }

  /** Query batches up to this size run the driver-tracked loop (ids in a
    * driver set, membership via isin literals). */
  private val DriverIdLimit = 10000

  /** The widening loop with the finished/remaining bookkeeping held on
    * the driver — same rounds, same certification rule, same results as
    * the DataFrame loop; only the set algebra moved off the cluster. */
  private def joinDriverTracked(qs0: DataFrame, indexedDb: DataFrame,
      k: Int, cfg: GridGeometry,
      queryIdCol: String, dbIdCol: String, vecCol: String,
      allIds: Array[Any],
      bruteOn: DataFrame => DataFrame): DataFrame = {
    var remainingIds: Set[Any] = allIds.toSet
    var s = cfg.joinStartRadius
    val accParts = Seq.newBuilder[DataFrame]
    while (remainingIds.nonEmpty && s <= cfg.joinMaxRadius) {
      val rem =
        if (remainingIds.size == allIds.length) qs0
        else qs0.filter(col(queryIdCol).isin(remainingIds.toSeq: _*))
      val cand = rem
        .withColumn("cell_id", explode(cellsInBox(col("q_embedding"), cfg, s)))
      val topk = KnnTopK.topK(
          broadcast(cand).join(indexedDb, "cell_id")
            .select(col(queryIdCol).as("query_id"), col(dbIdCol).as("vec_id"),
              Distances.squaredL2Cols(col("q_embedding"), col(vecCol), cfg.dim).as("dist")),
          k)
        .withColumnRenamed("query_id", queryIdCol)
        .withColumnRenamed("vec_id", dbIdCol)
        .localCheckpoint(true)
      val certified = topk.groupBy(col(queryIdCol))
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"))
        .filter(col("n") === k && col("kth") <= lit(s * s))
        .select(col(queryIdCol))
      val fullCover = rem.filter(coversAll(col("q_embedding"), cfg, s))
        .select(col(queryIdCol))
      val finished = certified.unionByName(fullCover).distinct()
        .collect().map(_.get(0)).toSet
      if (finished.nonEmpty) {
        accParts += topk.filter(col(queryIdCol).isin(finished.toSeq: _*))
        remainingIds --= finished
      }
      s *= 4
    }
    if (remainingIds.nonEmpty)
      accParts += bruteOn(
        if (remainingIds.size == allIds.length) qs0
        else qs0.filter(col(queryIdCol).isin(remainingIds.toSeq: _*)))
    accParts.result().reduceOption(_ unionByName _)
      .getOrElse(qs0.sparkSession.emptyDataFrame)
  }
}
