package graft

import graft.functions.Distances
import graft.index.{Grid, GridConfig, QuantileGrid}
import graft.operators.Knn
import org.apache.spark.sql.functions._

/** Quantile-calibrated grid (r11): data-adaptive bucket edges must keep
  * the pruned search EXACT (≡ brute force) on skewed data where the
  * equal-width grid degenerates, and the mixed-radix plumbing must
  * round-trip between the Column expression and the driver math. */
class QuantileGridSpec extends SparkSpecBase {
  import spark.implicits._

  /** Exponential-ish coordinates (rate 3, capped at 2): most mass piles
    * near 0 — the distribution shape the equal-width grid handles worst. */
  private def skewed(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong,
        Array.fill(dim)(math.min(2.0, -math.log(rnd.nextDouble()) / 3.0).toFloat),
        i % 5)
    }.toDF("vec_id", "embedding", "label")
  }

  test("calibrate: ascending 6-decimal edges; column cell_id == driver cellOf on every row") {
    val df = skewed(500, 4, 11)
    val cfg = QuantileGrid.calibrate(df, "embedding", partsPerDim = 4, gridDims = 3, dim = 4)
    assert(cfg.partsPerDim == Seq(4, 4, 4) && cfg.numCells == 64L)
    assert(cfg.weights == Seq(1L, 4L, 16L))
    cfg.boundaries.foreach { bs =>
      assert(bs.size == 3 && bs == bs.sorted)
      bs.foreach(b => assert(BigDecimal(b).scale <= 6))
    }
    val v = Array(0.1, 0.5, 1.7, 0.0)
    val dec = Grid.decode(Grid.cellOf(v, cfg), cfg)
    (0 until 3).foreach(d => assert(dec(d) == cfg.bucketOf(v(d), d)))
    Grid.withCellId(df, "embedding", cfg)
      .select("embedding", "cell_id").collect().foreach { r =>
        val vv = r.getSeq[Float](0).map(_.toDouble).toArray
        assert(r.getLong(1) == Grid.cellOf(vv, cfg))
      }
  }

  test("pruned ≡ brute on skewed data — one-scan path AND forced widening loop") {
    val df = skewed(400, 4, 23)
    val cfg = QuantileGrid.calibrate(df, "embedding", 4, 3, 4)
    val indexed = Grid.withCellId(df, "embedding", cfg).cache()
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { _ =>
      val q = Array.fill(4)(-math.log(rnd.nextDouble()) / 3.0)
      val brute = Knn.bruteForce(df, Distances.squaredL2Lit(col("embedding"), q), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      for (th <- Seq(0L, 200000L)) {
        val pruned = Knn
          .prunedSearchDf(spark, indexed, cfg, q, 10, bruteForceThreshold = th)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
        assert(pruned == brute, s"threshold=$th q=${q.toSeq}")
      }
    }
  }

  test("interval bound is admissible: bound(q, cell(p)) ≤ sqL2(q, p) for every row") {
    val df = skewed(300, 4, 5)
    val cfg = QuantileGrid.calibrate(df, "embedding", 4, 3, 4)
    val pts = df.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val qs = Seq(
      Array(0.0, 0.0, 0.0, 0.0), Array(2.0, 2.0, 2.0, 2.0),
      Array(0.3, 1.0, 0.05, 0.7), Array(-1.0, 3.0, 0.4, 0.2))
    for (q <- qs; p <- pts) {
      val bound = Grid.cellLowerBoundSqL2(q, Grid.cellOf(p, cfg), cfg)
      val d = p.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(bound <= d + 1e-12, s"q=${q.toSeq} p=${p.toSeq}: $bound > $d")
    }
  }

  test("balance: quantile cells beat equal-width cells by >2x max population on skewed data") {
    val df = skewed(2000, 4, 31).cache()
    val qcfg = QuantileGrid.calibrate(df, "embedding", 4, 3, 4)
    val ecfg = GridConfig(4, lower = 0.0, upper = 2.0, partsPerDim = 4, gridDims = 3)
    def maxCell(dfc: org.apache.spark.sql.DataFrame): Long =
      dfc.groupBy("cell_id").count().agg(max("count")).head().getLong(0)
    val qMax = maxCell(Grid.withCellId(df, "embedding", qcfg))
    val eMax = maxCell(Grid.withCellId(df, "embedding", ecfg))
    assert(qMax * 2 < eMax, s"quantile max $qMax vs equal-width max $eMax")
  }

  test("calibrateSampled: constant-memory path stays balanced and pruning stays exact") {
    val df = skewed(3000, 4, 41).cache()
    val cfg = QuantileGrid.calibrateSampled(df, "embedding", "vec_id",
      partsPerDim = 4, gridDims = 3, dim = 4, rowCount = 3000, sampleTarget = 500)
    // sampled boundaries still balance: max cell well under the skewed
    // equal-width pile-up (uniform share would be 3000/64 ≈ 47)
    val mx = Grid.withCellId(df, "embedding", cfg)
      .groupBy("cell_id").count().agg(max("count")).head().getLong(0)
    assert(mx < 8L * 3000 / 64, s"sampled calibration left a hot cell of $mx")
    // pruning correctness never depends on boundary placement
    val q = Array(0.4, 0.1, 0.9, 0.2)
    val brute = Knn.bruteForce(df, Distances.squaredL2Lit(col("embedding"), q), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val pruned = Knn.prunedSearchDf(spark,
        Grid.withCellId(df, "embedding", cfg), cfg, q, 10,
        bruteForceThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(pruned == brute)
    // sampleTarget ≥ n → identical to exact calibration
    assert(QuantileGrid.calibrateSampled(df, "embedding", "vec_id", 4, 3, 4,
      rowCount = 3000, sampleTarget = 3000)
      == QuantileGrid.calibrate(df, "embedding", 4, 3, 4))
  }

  test("maintain: drift re-calibrates and re-balances; steady state is a no-op") {
    // calibrate on near-uniform data, then drift the distribution hard:
    // the stale boundaries pile the skewed state into the low cells
    val uniform = {
      val rnd = new scala.util.Random(3)
      (0 until 1500).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat() * 2f), 0))
        .toDF("vec_id", "embedding", "label")
    }
    val cfg0 = QuantileGrid.calibrate(uniform, "embedding", 4, 3, 4)
    val drifted = skewed(1500, 4, 17)
    val staleState = Grid.withCellId(drifted, "embedding", cfg0).cache()
    def maxCell(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("cell_id").count().agg(max("count")).head().getLong(0)
    val staleMax = maxCell(staleState)
    assert(staleMax > 8.0 * 1500 / 64, "fixture not drifted enough to trip the trigger")
    val (rebucketed, cfg1) = QuantileGrid.maintain(staleState, "embedding", cfg0)
    assert(cfg1 != cfg0, "maintain must recalibrate under drift")
    assert(maxCell(rebucketed) * 2 < staleMax, "recalibration must re-balance")
    // steady state: the freshly calibrated grid is a no-op
    val fresh = rebucketed.cache()
    val (same, cfg2) = QuantileGrid.maintain(fresh, "embedding", cfg1)
    assert(cfg2 == cfg1 && (same eq fresh))
    // empty state: no-op, never divides by zero
    val empty = staleState.filter(lit(false))
    val (e, ce) = QuantileGrid.maintain(empty, "embedding", cfg1)
    assert(ce == cfg1 && e.count() == 0)
  }

  test("declared queries: quantile-grid kNN equals the brute flagship; cell counts cover the corpus") {
    val knn = SparkEntry.queries("knn_l2_quantile_grid")(spark, sfDir).collect()
    val brute = SparkEntry.queries("knn_l2_brute")(spark, sfDir).collect()
    assert(knn.map(r => (r.getLong(0), r.getDouble(2))).toSeq
      == brute.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    val cells = SparkEntry.queries("index_quantile_cells")(spark, sfDir).collect()
    val total = cells.map(_.getLong(1)).sum
    assert(total == spark.read.parquet(s"$sfDir/embeddings.parquet").count())
  }
}
