package graft

import graft.functions.Distances
import graft.index.{Grid, GridConfig, QuantileGrid}
import graft.plans.GridRadiusPruning
import org.apache.spark.sql.functions._

/** Automatic radius pruning over QUANTILE-calibrated stores: the grid
  * rule must inject an admissible cell list from the interval bounds,
  * reach the scan as a partition filter, never bind a foreign geometry of
  * either kind, and inject once when both kinds are registered. */
class QuantileGridPruneRuleSpec extends SparkSpecBase {
  import spark.implicits._

  // skewed 2-D data (exponential-ish toward 0) — the regime the quantile
  // grid exists for; 8x8 = 64 cells, query near the dense corner
  private lazy val pts = {
    val rnd = new scala.util.Random(42)
    (0 until 500).map { i =>
      (i.toLong, Array(
        math.min(1.0, -math.log(rnd.nextDouble()) / 5.0).toFloat,
        math.min(1.0, -math.log(rnd.nextDouble()) / 5.0).toFloat))
    }
  }
  private lazy val df = pts.toDF("vec_id", "embedding")
  private lazy val qcfg =
    QuantileGrid.calibrate(df, "embedding", partsPerDim = 8, gridDims = 2, dim = 2)
  private lazy val store = {
    val p = java.nio.file.Files.createTempDirectory("graft_qprune_rule").toString
    Grid.withCellId(df, "embedding", qcfg)
      .write.mode("overwrite").partitionBy("cell_id").parquet(p)
    p
  }
  private val q = Array(0.05, 0.05)
  private val r = 0.01

  private def clearRegistries(): Unit = spark.conf.unset(GridRadiusPruning.ConfKey)

  test("radius filter over a quantile store auto-gains cell pruning; result identical to plain") {
    clearRegistries()
    GridRadiusPruning.register(spark, qcfg, store)
    val indexed = spark.read.parquet(store)
    val dist = Distances.squaredL2Lit(col("embedding"), q)
    val pruned = indexed.filter(dist <= lit(r)).select("vec_id")
    val opt = pruned.queryExecution.optimizedPlan.toString
    assert(opt.contains("cell_id") && opt.contains(" IN "),
      s"no pruning conjunct injected:\n$opt")
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters") &&
      phys.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell_id"),
      s"pruning did not reach the scan:\n$phys")
    val got = pruned.collect().map(_.getLong(0)).sorted.toSeq
    clearRegistries()
    val plain = indexed.filter(dist <= lit(r)).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == plain && got.nonEmpty)
  }

  test("all four reference metrics prune admissibly (≡ brute membership) on the quantile geometry") {
    clearRegistries()
    GridRadiusPruning.register(spark, qcfg, store)
    val indexed = spark.read.parquet(store)
    val w = Array(2.0, 0.5)
    val cases: Seq[(org.apache.spark.sql.Column, Array[Float] => Double, Double)] = Seq(
      (Distances.squaredL2Lit(col("embedding"), q),
        v => { val a = v(0) - q(0); val b = v(1) - q(1); a * a + b * b }, 0.01),
      (Distances.l1Lit(col("embedding"), q),
        v => math.abs(v(0) - q(0)) + math.abs(v(1) - q(1)), 0.12),
      (Distances.lInfLit(col("embedding"), q),
        v => math.max(math.abs(v(0) - q(0)), math.abs(v(1) - q(1))), 0.09),
      (Distances.mahalanobisDiagLit(col("embedding"), q, w),
        v => { val a = v(0) - q(0); val b = v(1) - q(1); a * a * w(0) + b * b * w(1) }, 0.02))
    cases.zipWithIndex.foreach { case ((distCol, distFn, rad), i) =>
      val got = indexed.filter(distCol <= lit(rad))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val expect = pts.filter { case (_, v) => distFn(v) <= rad }.map(_._1).toSet
      assert(got == expect, s"metric case $i: got ${got.size}, expect ${expect.size}")
      assert(expect.nonEmpty, s"metric case $i vacuous")
    }
  }

  /** Flat (non-partitioned) store: cell_id stays a DATA column, so the
    * fingerprint metadata survives the parquet footer — the same binding
    * path GridPruneRuleSpec exercises (a LocalRelation would be constant-
    * folded before the rule could fire). */
  private def flatStore(cfg: graft.index.GridGeometry): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_qprune_md").toString
    Grid.withCellId(df, "embedding", cfg)
      .write.mode("overwrite").parquet(p)
    p
  }

  test("quantile rule refuses a foreign fingerprint; equal-width rule never binds a quantile column") {
    clearRegistries()
    // register a DIFFERENT quantile geometry (other boundaries) — the
    // fingerprinted column must refuse to prune
    val foreign = qcfg.copy(boundaries = qcfg.boundaries.map(_.map(_ + 0.123)))
    GridRadiusPruning.register(spark, foreign)
    // also register an unbound equal-width config of the same dim: the
    // column's quantile fingerprint key means it can never bind it either
    val ew = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 8, gridDims = 2)
    GridRadiusPruning.register(spark, ew)
    val dist = Distances.squaredL2Lit(col("embedding"), q)
    val opt = spark.read.parquet(flatStore(qcfg)).filter(dist <= lit(r))
      .queryExecution.optimizedPlan.toString
    assert(!opt.matches("(?s).*cell_id#\\d+L? IN.*"),
      s"foreign geometry pruned a column it must refuse:\n$opt")
    // the other direction: an equal-width-stamped column with only a
    // same-dim quantile geometry registered must refuse too
    clearRegistries()
    GridRadiusPruning.register(spark, qcfg)
    val optEw = spark.read.parquet(flatStore(ew)).filter(dist <= lit(r))
      .queryExecution.optimizedPlan.toString
    assert(!optEw.matches("(?s).*cell_id#\\d+L? IN.*"),
      s"quantile geometry pruned an equal-width column:\n$optEw")
    clearRegistries()
  }

  test("matching fingerprint prunes the stored column; both geometries coexist at fixed point") {
    clearRegistries()
    GridRadiusPruning.register(spark, qcfg)
    GridRadiusPruning.register(spark,
      GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 8, gridDims = 2))
    val dist = Distances.squaredL2Lit(col("embedding"), q)
    val stored = spark.read.parquet(flatStore(qcfg))
    val pruned = stored.filter(dist <= lit(r)).select("vec_id")
    val opt = pruned.queryExecution.optimizedPlan.toString
    // exactly one IN injected (the cell_id-reference guard stops a second)
    assert(opt.matches("(?s).*cell_id#\\d+L? IN.*"),
      s"fingerprinted column did not prune:\n$opt")
    assert(" IN ".r.findAllIn(opt).size == 1, s"double injection:\n$opt")
    val got = pruned.collect().map(_.getLong(0)).sorted.toSeq
    clearRegistries()
    val plain = stored.filter(dist <= lit(r)).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == plain && got.nonEmpty)
  }

  test("declared store_autoprune_radius_quantile equals the plain radius answer") {
    clearRegistries()
    val out = SparkEntry.queries("store_autoprune_radius_quantile")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val plainQ = graft.core.Fixtures.Q64.take(2)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), slice(col("embedding"), 1, 2).as("embedding"))
    val plain = emb
      .withColumn("dist", Distances.squaredL2Lit(col("embedding"), plainQ))
      .filter(col("dist") <= 0.01)
      .select(col("vec_id"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == plain.toSeq && out.nonEmpty)
    clearRegistries()
  }

  test("re-bucketing a path from equal-width to quantile cells evicts the stale equal-width binding") {
    // the SAME path first holds an equal-width store, then is rewritten
    // with the calibrated quantile geometry and re-registered: the
    // equal-width entry for that path must be gone, or it binds first and
    // injects its inadmissible `cell_id IN (0,1,8)` against quantile cells.
    // A fresh session, so the registrations below are its first ones.
    val fresh = spark.newSession()
    val ew = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 8, gridDims = 2)
    val p = java.nio.file.Files.createTempDirectory("graft_qprune_rebkt").toString
    Grid.withCellId(df, "embedding", ew)
      .write.mode("overwrite").partitionBy("cell_id").parquet(p)
    GridRadiusPruning.register(fresh, ew, p)
    Grid.withCellId(df, "embedding", qcfg)
      .write.mode("overwrite").partitionBy("cell_id").parquet(p)
    GridRadiusPruning.register(fresh, qcfg, p)
    val got = fresh.read.parquet(p)
      .filter(Distances.squaredL2Lit(col("embedding"), q) <= lit(r))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = pts.filter { case (_, v) =>
      val dx = v(0).toDouble - q(0); val dy = v(1).toDouble - q(1)
      dx * dx + dy * dy <= r
    }.map(_._1).toSet
    assert(want.nonEmpty, "radius vacuous")
    assert(got == want, s"stale binding dropped rows: pruned ${got.size} vs brute ${want.size}")
  }

  test("over-cap geometry (numCells > MaxEnumCells) degrades to no pruning, result unchanged") {
    clearRegistries()
    // 1025² ≈ 1.05M cells — past the driver-enumeration cap: optimizing a
    // query must NOT walk a million cells per pass; the rule skips and the
    // plain filter answers (always-correct degradation)
    val edges = (1 to 1024).map(_ / 1025.0)
    val hugeCfg = graft.index.QuantileGridConfig(2, Seq(edges, edges))
    assert(hugeCfg.numCells > GridRadiusPruning.MaxEnumCells)
    GridRadiusPruning.register(spark, hugeCfg, store)
    val indexed = spark.read.parquet(store)
    val dist = Distances.squaredL2Lit(col("embedding"), q)
    val pruned = indexed.filter(dist <= lit(r)).select("vec_id")
    val opt = pruned.queryExecution.optimizedPlan.toString
    assert(!opt.contains(" IN "), s"over-cap geometry still injected pruning:\n$opt")
    clearRegistries()
    val plain = indexed.filter(dist <= lit(r)).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    GridRadiusPruning.register(spark, hugeCfg, store)
    val got = pruned.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == plain)
    clearRegistries()
  }
}
