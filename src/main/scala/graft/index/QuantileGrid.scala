package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Calibration and drift maintenance of the quantile-calibrated grid
  * ([[QuantileGridConfig]]). Bucket edges come from the exact interpolated
  * percentile — the proven `agg_percentiles` kernel — in one aggregation
  * job over the corpus, rounded to 6 decimals (the repo's quantized-boundary
  * rule: both engines then bucket with the identical double), and ride as
  * plan literals in the bucketing expression. Everything past the edges —
  * cell ids, bounds, pruning, the cell join — is the shared [[Grid]] code. */
object QuantileGrid {

  /** Calibrate a quantile grid from the data: per gridded dimension the
    * exact interpolated percentiles at j/partsPerDim (j = 1..parts-1),
    * rounded HALF_UP to 6 decimals. ONE aggregation job (all dims' edge
    * arrays in a single pass); at 100 TB run it on a sample or reuse the
    * store's maintained stats — the grid stays valid (just less balanced)
    * under drift, exactly like the equal-width geometry. */
  def calibrate(df: DataFrame, vecCol: String, partsPerDim: Int,
      gridDims: Int, dim: Int): QuantileGridConfig = {
    require(partsPerDim >= 2 && gridDims >= 1)
    val qs = (1 until partsPerDim).map(_.toDouble / partsPerDim)
    val aggs = (0 until gridDims).map { d =>
      percentile(element_at(col(vecCol), d + 1).cast(DoubleType),
        array(qs.map(lit): _*)).as(s"b_$d")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bs = (0 until gridDims).map { d =>
      row.getSeq[Double](d).map(b =>
        java.math.BigDecimal.valueOf(b)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()).toSeq
    }
    QuantileGridConfig(dim, bs)
  }

  /** [[calibrate]] on a DETERMINISTIC sample — the 100 TB path: the exact
    * interpolated percentile holds per-value counts in its aggregation
    * buffer (O(distinct values) memory), which a corpus-scale float column
    * overruns. Boundaries only need to balance cells, so an md5-gated
    * sample of ~`sampleTarget` rows (modulus ⌈n/target⌉ from the caller's
    * catalog count — the repo's size-targeted-sampling contract) calibrates
    * within sampling error at constant memory, RNG-free and replayable.
    * The grid stays CORRECT for any boundaries (pruning admissibility
    * never depends on where the edges sit — PropertySpec sweeps random
    * boundary tables); sampling only trades balance precision. */
  def calibrateSampled(df: DataFrame, vecCol: String, idCol: String,
      partsPerDim: Int, gridDims: Int, dim: Int,
      rowCount: Long, sampleTarget: Long = 100000L): QuantileGridConfig = {
    require(rowCount >= 0 && sampleTarget > 0)
    val m = math.max(1L, (rowCount + sampleTarget - 1) / sampleTarget)
    val sampled =
      if (m <= 1L) df
      else df.filter(pmod(
        graft.operators.Dedup.md5Long(col(idCol).cast("string")), lit(m)) === 0L)
    calibrate(sampled, vecCol, partsPerDim, gridDims, dim)
  }

  /** DuckDB replay of [[calibrate]] for one dim: `quantile_cont` at the
    * same fractions, rounded to the same 6 decimals. */
  def calibrateSql(col: String, dimIdx: Int, partsPerDim: Int): String = {
    import graft.oracle.DuckSql.fmt
    (1 until partsPerDim).map { j =>
      s"ROUND(quantile_cont(CAST($col[${dimIdx + 1}] AS DOUBLE), ${fmt(j.toDouble / partsPerDim)}), 6)"
    }.mkString("[", ", ", "]")
  }

  /** Re-calibration maintenance — the quantile sibling of [[Grid.maintain]]
    * (whose trigger is leaf overflow; here the trigger is DRIFT): boundary
    * tables are computed from a snapshot of the data, and a distribution
    * that drifts since calibration re-skews the cells. When the observed
    * max cell population exceeds `imbalanceFactor` × the uniform share
    * (n / numCells), recalibrate the boundaries from the CURRENT state and
    * re-bucket in one pass; otherwise a no-op (same state, same config).
    * Call after large ingest batches — at 100 TB the rewrite is one
    * repartition-by-cell job amortized over the batch that tripped it,
    * and the trigger statistic is the |cells|-row index-health aggregate
    * every probe already maintains. */
  def maintain(state: DataFrame, vecCol: String, cfg: QuantileGridConfig,
      imbalanceFactor: Double = 8.0): (DataFrame, QuantileGridConfig) = {
    require(imbalanceFactor > 1.0)
    require(cfg.partsPerDim.distinct.size == 1,
      "maintain recalibrates uniform per-dim bucket counts")
    val stats = state.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("n")).head()
    if (stats.isNullAt(0)) return (state, cfg) // empty state
    val (mx, n) = (stats.getLong(0), stats.getLong(1))
    val uniformShare = math.max(1.0, n.toDouble / cfg.numCells)
    if (mx <= imbalanceFactor * uniformShare) (state, cfg)
    else {
      val cfg2 = calibrate(state, vecCol, cfg.partsPerDim.head, cfg.gridDims, cfg.dim)
      (Grid.withCellId(state.drop("cell_id"), vecCol, cfg2), cfg2)
    }
  }
}
