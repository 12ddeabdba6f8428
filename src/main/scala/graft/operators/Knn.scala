package graft.operators

import graft.functions.Distances
import graft.index.{Grid, GridGeometry}
import graft.plans.KnnJoinExec
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Filtered k-nearest-neighbor search — the reference's flagship query
  * (reference API: vectordb/database.py:31-48, impl:
  * vectordb/kd_tree_database.py:285-304).
  *
  * Semantics preserved exactly (SURVEY.md §7 hard parts):
  *  - the metadata filter applies BEFORE top-k selection
  *    (kd_tree_database.py:186-190);
  *  - default metric is SQUARED L2 (kd_tree_database.py:243, no sqrt);
  *  - deterministic total order `(dist ASC, id ASC)` replaces the
  *    reference's insertion-order tie-break.
  *
  * Physical plan: `Scan → Filter → Project(+dist) → TakeOrderedAndProject`
  * — Spark's distributed top-k (per-partition heap + driver merge), the
  * built-in equivalent of the reference's per-leaf truncate-and-merge
  * (kd_tree_database.py:159-161, 191-195). No full sort, no full shuffle;
  * scales linearly with executors at 100 TB.
  */
object Knn {

  /** Brute-force exact kNN: distance over every (filtered) row + top-k. */
  def bruteForce(
      db: DataFrame,
      distExpr: Column,
      k: Int,
      idCol: String = "vec_id",
      pred: Option[Column] = None,
      keep: Seq[String] = Seq("vec_id", "label")): DataFrame = {
    val filtered = pred.map(db.filter).getOrElse(db)
    filtered
      .withColumn("dist", distExpr)
      .select((keep.map(col) :+ col("dist")): _*)
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Result row of a pruned search (kept scalar so it round-trips through
    * createDataFrame deterministically). */
  final case class Neighbor(vec_id: Long, label: Int, dist: Double)

  /** Exact kNN with grid-partition pruning and iterative candidate-cell
    * widening — the batch re-expression of the reference's best-first tree
    * descent with plane-distance bounds (kd_tree_database.py:149-221,
    * SURVEY.md §4 O1).
    *
    * Non-empty cells are ranked by a closed-form lower bound (priced on
    * executors; the driver pages in ranked prefixes only — see
    * [[prunedSearchBound]]), the nearest cells are scanned (Catalyst pushes
    * the `cell_id isin` predicate into the scan → partition pruning on a
    * cell-partitioned table), and the prefix widens until the kth distance
    * is ≤ the next unscanned cell's bound — the same stop rule as the
    * reference's `bound > current_neighbors[-1]` break
    * (kd_tree_database.py:213-218).
    *
    * `cellCountsCache` (cell_id → rows, see [[cellCounts]]) is computed
    * once per index build and reused across queries — the analog of the
    * tree structure itself. With it, a query runs only its scan rounds;
    * without it, each call first aggregates the stats over the whole store.
    * `VectorDatabase` holds one such map per snapshot. Each widening round
    * scans only the cells it adds (see [[widen]]).
    * Works over either [[GridGeometry]] (equal-width or quantile cells).
    */
  def prunedSearch(
      indexed: DataFrame,
      cfg: GridGeometry,
      q: Array[Double],
      k: Int,
      pred: Option[Column] = None,
      cellBound: (Array[Double], Long, GridGeometry) => Double = Grid.cellLowerBoundSqL2,
      distExpr: Option[Column] = None,
      cellCountsCache: Option[Map[Long, Long]] = None,
      bruteForceThreshold: Long = 200000L): Seq[Neighbor] =
    prunedSearchBound(indexed,
      distExpr.getOrElse(Distances.squaredL2Lit(col("embedding"), q)), k,
      cell => cellBound(q, cell, cfg), pred, cellCountsCache,
      bruteForceThreshold)

  /** Core of [[prunedSearch]]: the ranking + widening loop over an OPAQUE
    * cell lower-bound function, so any cell partitioning that can price a
    * cell reuses the same exact search.
    * Correctness needs only admissibility: `bound(cell)` ≤ the true
    * distance from the query to every point bucketed into `cell`.
    *
    * Driver memory is O(cells actually scanned), NOT O(total cells): with
    * no `cellCountsCache`, per-cell stats are aggregated distributed, the
    * bound is priced on executors (`bound` ships in a deterministic UDF —
    * every in-repo geometry closure is a pure function of plan-time
    * constants), and the driver pulls only geometrically growing RANKED
    * PREFIXES via distributed top-k. At 10⁸ cells (a 100 TB store at
    * targetLeafSize rows/cell) the old collect-and-sort was a multi-GB
    * driver map (r12 verdict); now the driver holds the scanned prefix
    * only — the same reasoning as the prune rule's MaxEnumCells cap
    * (plans/GridPrune.scala). A non-serializable custom `bound` falls back
    * to the legacy driver-side ranking (correct, small stores only). */
  def prunedSearchBound(
      indexed: DataFrame,
      dist: Column,
      k: Int,
      bound: Long => Double,
      pred: Option[Column] = None,
      cellCountsCache: Option[Map[Long, Long]] = None,
      bruteForceThreshold: Long = 200000L): Seq[Neighbor] = {

    cellCountsCache match {
      case Some(cc) => rankedSearch(indexed, dist, k, bound, pred, cc, bruteForceThreshold)
      case None =>
        prunedSearchDistributed(indexed, dist, k, bound, pred, bruteForceThreshold)
    }
  }

  /** Per-cell row counts (cell_id → rows) of a cell-indexed store: one
    * aggregation job, O(non-empty cells) driver memory. A parquet
    * partition column reads back as INT, so the key is normalized to Long. */
  def cellCounts(indexed: DataFrame): Map[Long, Long] =
    indexed.groupBy(col("cell_id").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Cached-stats path: the caller holds the stats map (index-build
    * artifact, amortized across queries), so the cells are ranked on the
    * driver and the query runs no job over the whole store. */
  private def rankedSearch(
      indexed: DataFrame,
      dist: Column,
      k: Int,
      bound: Long => Double,
      pred: Option[Column],
      cc: Map[Long, Long],
      bruteForceThreshold: Long): Seq[Neighbor] = {
    if (cc.isEmpty) return Seq.empty // empty DB → empty result (tests:70-77)
    val ranked: Array[(Long, Double, Long)] = cc.toArray
      .map { case (cell, n) => (cell, bound(cell), n) }
      .sortBy { case (cell, b, _) => (b, cell) }
    widen(indexed, dist, k, pred, bruteForceThreshold,
      nCells = ranked.length.toLong, totalRows = cc.values.sum,
      entry = i => ranked(i.toInt))
  }

  /** No-cache path: stats + bound pricing stay on the cluster; the driver
    * sees ranked prefixes only. */
  private def prunedSearchDistributed(
      indexed: DataFrame,
      dist: Column,
      k: Int,
      bound: Long => Double,
      pred: Option[Column],
      bruteForceThreshold: Long): Seq[Neighbor] = {
    // Cheap row probe FIRST: a count() scans no columns, and the
    // under-threshold (brute) path needs no cell stats at all — building
    // and persisting the priced table before the threshold check cost the
    // fixture-scale pruned queries ~+0.1 s each (r13 bench).
    val totalRows = indexed.count()
    if (totalRows == 0L) return Seq.empty // empty DB → empty result (tests:70-77)
    if (totalRows <= bruteForceThreshold) return bruteScan(indexed, dist, k, pred)
    // One aggregation job builds the |cells|-row stats table; the bound UDF
    // prices each cell where its stats row lives. Persisted because the
    // widening loop re-sorts it per prefix fetch (O(log cells) fetches).
    val priced = indexed
      .groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lb", udf(bound).apply(col("cell_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (totalRows is already known from the count() probe above; this
      // materializing action only needs the cell count)
      val nCells = priced.agg(count(lit(1)).as("c")).head().getLong(0)

      // Ranked-prefix pager: entry(i) = i-th cell in (lb ASC, cell_id ASC)
      // order — the identical total order the legacy driver sort used, so
      // widening decisions (and therefore results) are unchanged. Fetch
      // sizes double, so a search that certifies after scanning p cells
      // costs O(log p) extra top-k jobs and O(p) driver memory.
      var prefix: Array[(Long, Double, Long)] = Array.empty
      def entry(i: Long): (Long, Double, Long) = {
        if (i >= prefix.length) {
          val want = math.max(i + 1L, math.max(prefix.length * 2L, 256L))
          val fetch = math.min(math.min(want, nCells), Int.MaxValue.toLong).toInt
          prefix = priced
            .orderBy(col("lb").asc, col("cell_id").asc)
            .limit(fetch)
            .select(col("cell_id"), col("lb"), col("n"))
            .collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        }
        prefix(i.toInt)
      }
      widen(indexed, dist, k, pred, bruteForceThreshold, nCells, totalRows, entry)
    } catch {
      // A custom bound whose closure can't ship (captures a session, a
      // connection, …) fails at task serialization — fall back to pricing
      // on the driver. Same results; O(cells) driver memory, so only sane
      // for small stores (the pre-r13 behavior).
      case e: Throwable if isNotSerializable(e) =>
        rankedSearch(indexed, dist, k, bound, pred, cellCounts(indexed), bruteForceThreshold)
    } finally priced.unpersist(false)
  }

  private def isNotSerializable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[java.io.NotSerializableException])

  /** The under-threshold path: one codegen'd full scan + distributed
    * top-k, no index machinery. */
  private def bruteScan(indexed: DataFrame, dist: Column, k: Int,
      pred: Option[Column]): Seq[Neighbor] = {
    val filtered = pred.map(indexed.filter).getOrElse(indexed)
    filtered
      .withColumn("dist", dist)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .collect()
      .map(r => Neighbor(r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSeq
  }

  /** The widening loop over an abstract ranked-cell accessor. `entry(i)`
    * must return the i-th non-empty cell as (cell_id, lowerBound, rowCount)
    * in (bound ASC, cell_id ASC) order, for 0 ≤ i < nCells.
    *
    * Each round scans only the cells added since the last round and merges
    * their top-k into the kept top-k on the driver under the same total
    * order `(dist ASC, vec_id ASC)`. Cells are disjoint, so the merge equals
    * the top-k of every scanned cell: the stop rule sees the same kth
    * distance as a rescan of the whole prefix would, and no cell is read
    * twice. */
  private def widen(
      indexed: DataFrame,
      dist: Column,
      k: Int,
      pred: Option[Column],
      bruteForceThreshold: Long,
      nCells: Long,
      totalRows: Long,
      entry: Long => (Long, Double, Long)): Seq[Neighbor] = {

    // Cost-based path choice: below the threshold, one codegen'd full scan
    // is cheaper than the widening loop's multiple scan+collect jobs (the
    // per-job overhead, not the data, dominates small stores). Above it,
    // candidate-cell pruning skips whole files. Same exact result either
    // way — the specs pin pruned ≡ brute with bruteForceThreshold = 0.
    if (totalRows <= bruteForceThreshold) return bruteScan(indexed, dist, k, pred)

    def scanCells(cells: Seq[Long]): Seq[Neighbor] = {
      val base = indexed.filter(col("cell_id").isin(cells: _*))
      val filtered = pred.map(base.filter).getOrElse(base)
      filtered
        .withColumn("dist", dist)
        .select(col("vec_id"), col("label"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(k)
        .collect()
        .map(r => Neighbor(r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSeq
    }

    // Widening loop. Because the filter can empty out any cell, count-based
    // sizing is a heuristic only; correctness comes from the bound check.
    var scanned = 0L
    var acc: Seq[Neighbor] = Seq.empty
    var done = false
    while (!done && scanned < nCells) {
      // Each round is a full Spark job (scan + top-k + collect), so round
      // count dominates latency. First round: take cells covering ≥ 8k rows
      // (filters and boundary effects make exactly-k too optimistic — one
      // extra cell is far cheaper than another round). Later rounds: double
      // the scanned prefix, so total rounds stay O(log cells).
      var take = scanned
      var cum = 0L
      val target = math.max(8L * k, 1L)
      while (take < nCells && (cum < target || take < math.max(scanned * 2, scanned + 1))) {
        cum += entry(take)._3
        take += 1
      }
      acc = mergeTopK(acc, scanCells((scanned until take).map(entry(_)._1)), k)
      scanned = take
      val kth = if (acc.size >= k) acc.last.dist else Double.PositiveInfinity
      done = scanned >= nCells || entry(scanned)._2 > kth
    }
    acc
  }

  /** Top-k of two result lists under the scan's `(dist ASC, vec_id ASC)`
    * order, [[graft.plans.KnnJoinExec.before]]: doubles compare as Spark's
    * sort does, NaN after every number, −0.0 equal to 0.0. */
  private[graft] def mergeTopK(a: Seq[Neighbor], b: Seq[Neighbor], k: Int): Seq[Neighbor] =
    (a ++ b).sortWith((x, y) => KnnJoinExec.before(x.dist, x.vec_id, y.dist, y.vec_id))
      .take(k)

  /** Radius (range) search — the other half of a vector-DB read API next
    * to top-k: every row within distance `r`, ordered `(dist ASC, id ASC)`.
    * Same plan shape as [[bruteForce]] minus the limit; the distance
    * predicate evaluates inside the scan's codegen stage, so at 100 TB it
    * is a single filtered scan with no shuffle. */
  def radiusSearch(
      db: DataFrame,
      distExpr: Column,
      r: Double,
      idCol: String = "vec_id",
      pred: Option[Column] = None,
      keep: Seq[String] = Seq("vec_id", "label")): DataFrame = {
    val filtered = pred.map(db.filter).getOrElse(db)
    filtered
      .withColumn("dist", distExpr)
      .filter(col("dist") <= lit(r))
      .select((keep.map(col) :+ col("dist")): _*)
      .orderBy(col("dist").asc, col(idCol).asc)
  }

  /** Cell-pruned radius search: unlike kNN, the pruning set is KNOWN up
    * front — exactly the cells whose closed-form lower bound is ≤ r — so
    * there is no widening loop, just one scan over the candidate cells
    * (partition pruning on a cell-partitioned store). Exact: a cell with
    * bound > r cannot contain a point within r. The non-empty cells come
    * from `cellCountsCache` when the caller holds the stats (as in
    * [[prunedSearch]]), else from one distinct-cells job. */
  def prunedRadius(
      indexed: DataFrame,
      cfg: GridGeometry,
      q: Array[Double],
      r: Double,
      pred: Option[Column] = None,
      cellBound: (Array[Double], Long, GridGeometry) => Double = Grid.cellLowerBoundSqL2,
      distExpr: Option[Column] = None,
      cellCountsCache: Option[Map[Long, Long]] = None): DataFrame = {
    val nonEmpty = cellCountsCache.map(_.keys.toArray).getOrElse(
      indexed.select(col("cell_id")).distinct().collect()
        .map(_.getAs[Number](0).longValue()))
    val cells = nonEmpty.filter(cell => cellBound(q, cell, cfg) <= r)
    val dist = distExpr.getOrElse(Distances.squaredL2Lit(col("embedding"), q))
    val base =
      if (cells.isEmpty) indexed.filter(lit(false))
      else indexed.filter(col("cell_id").isin(cells.toSeq: _*))
    val filtered = pred.map(base.filter).getOrElse(base)
    filtered
      .withColumn("dist", dist)
      .filter(col("dist") <= lit(r))
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
  }

  /** DataFrame wrapper around [[prunedSearch]] for the driver contract. */
  def prunedSearchDf(
      spark: SparkSession,
      indexed: DataFrame,
      cfg: GridGeometry,
      q: Array[Double],
      k: Int,
      pred: Option[Column] = None,
      bruteForceThreshold: Long = 200000L): DataFrame = {
    import spark.implicits._
    val rows = prunedSearch(indexed, cfg, q, k, pred,
      bruteForceThreshold = bruteForceThreshold)
    spark.createDataset(rows).toDF()
  }
}
