package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Max-inner-product search (MIPS) with norm-band pruning — the dot-metric
  * sibling of [[Knn.prunedSearch]]'s cell pruning (reference flagship read,
  * vectordb/kd_tree_database.py:149-221, re-expressed for the DESC-score
  * metric the plane-distance bound cannot serve: inner product is not a
  * metric, so cell lower bounds do not apply; the usable bound is
  * Cauchy-Schwarz, dot(q, x) <= |q|·|x|).
  *
  * The store keeps scaled vectors FACTORIZED as (weight w, unit-ish part v)
  * with x = w·v — at 100 TB that is also the layout you want (magnitude
  * out-of-line, direction quantizable; cf. [[Quantize]]). Scores use the
  * scalar identity dot(q, w·v) = w·dot(q, v): one codegen'd float→double
  * dot per row times a double weight, bit-identical to the brute form (and
  * to the DuckDB oracle) because no scaled float vector is ever
  * materialized.
  *
  * Pruning: rows are banded by a store-time `band` column (any bucketing of
  * the magnitude; the declared queries band on the integer weight). Per
  * band the driver collects (rows, max w·|v|) once — the index analog of
  * [[Knn.prunedSearch]]'s cellStats. The search runs on Knn's one widening
  * loop, with the bands as its cells: it ranks `dist = −(w·dot(q, v))`
  * ascending and each band by its negated Cauchy-Schwarz bound, so bands
  * are scanned in DESCENDING bound order, each read once, widening
  * geometrically until the kth best score >= the next unscanned band's
  * bound. Exact: a band whose bound is below the kth score cannot improve
  * the top-k. Negation is exact, so `dot = −dist` is bit-identical to the
  * brute score. On a band-partitioned store the `band isin` predicate is
  * file-level pruning, so a hot-k query touches only the high-magnitude
  * slice of the corpus.
  */
object Mips {

  /** Result row (scalar fields only — deterministic createDataset). */
  final case class Scored(vec_id: Long, label: Int, dot: Double)

  /** Per-band (rows, max w·|v|) — one aggregation over the store, cacheable
    * across queries like an index. Norms are driver-bound math only (the
    * returned scores never use them), so plain double aggregate is fine.
    * Weights must be non-negative (they are factored magnitudes): a
    * negative w flips the score sign and w·|v| stops bounding it, so the
    * same pass validates min(w) >= 0. */
  def bandStats(indexed: DataFrame): Map[Long, (Long, Double)] = {
    val wnorm = col("weight") *
      sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
    val rows = indexed.groupBy(col("band"))
      .agg(count(lit(1)).as("n"), max(wnorm).as("mx"),
        min(col("weight")).as("wmin"),
        // aggregates SKIP nulls, so a null weight would silently drop out
        // of min/max and corrupt the bound — count them explicitly
        sum(when(col("weight").isNull, 1L).otherwise(0L)).as("n_null"))
      .collect()
    rows.foreach { r =>
      require(r.getLong(4) == 0L,
        s"Mips: band ${r.get(0)} has ${r.getLong(4)} NULL weight(s); " +
          "weights must be non-null magnitudes")
      require(r.getDouble(3) >= 0.0,
        s"Mips: weight must be non-negative (band ${r.get(0)} has " +
          s"min weight ${r.getDouble(3)}); factor magnitudes, not signs")
    }
    // a band whose every norm is null (null coordinates) has no defined
    // score: its max over no rows is -Inf, so it ranks last
    rows.map(r => r.getAs[Number](0).longValue() ->
      (r.getLong(1), if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2))).toMap
  }

  /** Exact weighted-dot top-k with band pruning: returns
    * (vec_id, label, dot = w·dot(q, v)) ordered (dot DESC, vec_id ASC),
    * equal to the brute scan (MipsSpec pins it with threshold 0). A row
    * whose score is null (a null coordinate) is never returned, and a NaN
    * score ranks after every number: the order of Knn's one loop.
    *
    * `bruteForceThreshold` is [[Knn.prunedSearch]]'s cost-based path
    * choice: below it, one codegen'd scan beats the widening loop's
    * multi-job overhead; above it, band pruning skips whole files. */
  def prunedTopK(
      spark: SparkSession,
      indexed: DataFrame,
      q: Array[Double],
      k: Int,
      pred: Option[Column] = None,
      bandStatsCache: Option[Map[Long, (Long, Double)]] = None,
      bruteForceThreshold: Long = 200000L): DataFrame = {
    import spark.implicits._
    val stats = bandStatsCache.getOrElse(bandStats(indexed))
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    // conservative ulp guard: the bound gates STOPPING only, so inflating
    // it can cost an extra band scan but never a wrong result
    val hits = Knn.rankedSearch(indexed,
      -(col("weight") * Distances.dotLit(col("embedding"), q)), k,
      band => -(qNorm * stats(band)._2 * (1 + 1e-9) + 1e-12), pred,
      stats.map { case (band, (n, _)) => band -> Knn.CellStats(n, None) },
      bruteForceThreshold, cellCol = "band")
    spark.createDataset(hits.map(n => Scored(n.vec_id, n.label, -n.dist))).toDF()
  }
}
