package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The downstream grid code, written once over [[GridGeometry]]: cell-id
  * Columns and their driver-side twins, the four metric cell lower bounds,
  * plus the equal-width-only pieces (DuckDB bucketing SQL, z-order ids and
  * the leaf-overflow [[maintain]]). */
object Grid {

  /** Rows-per-cell-targeting depth pick: the batch analog of the reference's
    * leaf-overflow splitting (kd_tree_database.py:98-102). */
  def depthFor(rowCount: Long, targetLeafSize: Long, partsPerDim: Int, dim: Int): Int = {
    val cellsNeeded = math.max(1L, rowCount / math.max(1L, targetLeafSize))
    val d = math.ceil(math.log(cellsNeeded.toDouble) / math.log(partsPerDim.toDouble)).toInt
    math.min(math.max(1, d), dim)
  }

  /** Bucket index of gridded dim `dimIdx` of vector column `v`: the
    * geometry's [[GridGeometry.bucket]] over the coordinate cast to double. */
  def bucket(v: Column, dimIdx: Int, g: GridGeometry): Column =
    g.bucket(element_at(v, dimIdx + 1).cast(DoubleType), dimIdx)

  def bucketSql(col: String, dimIdx: Int, cfg: GridConfig): String = {
    import graft.oracle.DuckSql.fmt
    s"CAST(LEAST(${cfg.partsPerDim - 1}, GREATEST(0, FLOOR(((CAST($col[${dimIdx + 1}] AS DOUBLE) - (${fmt(cfg.lower)})) / (${fmt(cfg.upper - cfg.lower)})) * (${fmt(cfg.partsPerDim.toDouble)})))) AS INT)"
  }

  /** cell_id = Σ bucket_d * weight(d) over the gridded dims (integer
    * math — association-safe). */
  def cellId(v: Column, g: GridGeometry): Column =
    (0 until g.gridDims).map { d =>
      bucket(v, d, g).cast(LongType) * lit(g.weight(d))
    }.reduce(_ + _)

  def cellIdSql(col: String, cfg: GridConfig): String =
    (0 until cfg.gridDims).map { d =>
      s"(CAST(${bucketSql(col, d, cfg)} AS BIGINT) * ${cfg.weight(d)})"
    }.mkString("(", " + ", ")")

  /** Add the cell_id column, stamped with the geometry fingerprint in its
    * metadata (key [[GridGeometry.fpMetaKey]]) so
    * [[graft.plans.GridRadiusPruning]] can bind the column to the exact
    * grid that produced it (metadata survives projections; parquet
    * PARTITION columns lose it — bind those stores by path via
    * `GridRadiusPruning.register(spark, cfg, storePath)`). For a
    * persisted index at scale, follow with
    * `.repartition(col("cell_id")).write.partitionBy("cell_id")` so reads
    * get file-level pruning. */
  def withCellId(df: DataFrame, vecCol: String, g: GridGeometry): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(g.fpMetaKey, g.fingerprint).build()
    df.withColumn("cell_id", cellId(col(vecCol), g).as("cell_id", md))
  }

  /** Z-order (Morton) cell id: same bucket tuple as [[cellId]], but with the
    * per-dimension bucket BITS interleaved, so cells that are close in space
    * get close ids. That is the property a 100 TB store layout wants:
    * writing the index sorted by z-cell (`repartitionByRange` + local sort)
    * clusters spatial neighborhoods into the same files, and a candidate
    * cell box from the kNN pruner becomes a SMALL SET OF CONTIGUOUS id
    * ranges → parquet row-group min/max skipping, where the row-major
    * [[cellId]] would scatter one box across strided ids. Pure non-negative
    * integer math (shift + mod), emitted identically for DuckDB by
    * [[zCellIdSql]]. Requires power-of-two partsPerDim. */
  def zCellId(v: Column, cfg: GridConfig): Column = {
    val bits = java.lang.Integer.numberOfTrailingZeros(cfg.partsPerDim)
    require((1 << bits) == cfg.partsPerDim, "z-order needs power-of-two partsPerDim")
    require(bits * cfg.gridDims <= 63,
      s"z-order id needs ${bits * cfg.gridDims} bits (> 63): " +
        s"partsPerDim=${cfg.partsPerDim} x gridDims=${cfg.gridDims} overflows Long")
    val terms = for (d <- 0 until cfg.gridDims; b <- 0 until bits) yield
      (shiftright(bucket(v, d, cfg), b).cast(LongType) % lit(2L)) *
        lit(1L << (b * cfg.gridDims + d))
    terms.reduce(_ + _)
  }

  def zCellIdSql(col: String, cfg: GridConfig): String = {
    val bits = java.lang.Integer.numberOfTrailingZeros(cfg.partsPerDim)
    require((1 << bits) == cfg.partsPerDim, "z-order needs power-of-two partsPerDim")
    require(bits * cfg.gridDims <= 63,
      s"z-order id needs ${bits * cfg.gridDims} bits (> 63): " +
        s"partsPerDim=${cfg.partsPerDim} x gridDims=${cfg.gridDims} overflows Long")
    (for (d <- 0 until cfg.gridDims; b <- 0 until bits) yield
      s"(((CAST(${bucketSql(col, d, cfg)} AS BIGINT) // ${1L << b}) % 2) * ${1L << (b * cfg.gridDims + d)})"
    ).mkString("(", " + ", ")")
  }

  /** Target config for a corpus size: deepen the grid while depth < dim;
    * once every dimension is gridded, WIDEN partsPerDim instead — the
    * batch analog of the reference re-splitting the same dimension with
    * narrower buckets (its split dim cycles `depth % dim` forever,
    * kd_tree_database.py:19-22, so leaf size stays bounded at any corpus
    * size even for dim=2 data; the r5 clamp at `gridDims ≤ dim` let
    * low-dim cells grow linearly with the corpus instead). Cell count
    * stays ≥ rows/targetLeafSize either way. */
  def configFor(rowCount: Long, targetLeafSize: Long, cfg: GridConfig): GridConfig = {
    val cellsNeeded = math.max(1L, rowCount / math.max(1L, targetLeafSize))
    val depth = depthFor(rowCount, targetLeafSize, cfg.partsPerDim, cfg.dim)
    if (math.pow(cfg.partsPerDim.toDouble, depth.toDouble) >= cellsNeeded)
      cfg.copy(gridDims = math.max(cfg.gridDims, depth))
    else {
      // fully gridded at the current width still overflows: narrow the
      // buckets so partsPerDim'^dim ≥ cellsNeeded
      val p = math.ceil(math.pow(cellsNeeded.toDouble, 1.0 / cfg.dim)).toInt
      cfg.copy(gridDims = cfg.dim, partsPerDim = math.max(cfg.partsPerDim, p))
    }
  }

  /** Batch analog of the reference's leaf-overflow split
    * (kd_tree_database.py:98-102: a leaf exceeding max_leaf_size
    * redistributes into children one level deeper): when the row count
    * calls for a deeper OR finer grid than the state was bucketed with
    * ([[configFor]]), re-bucket every row in one pass and return the
    * widened config. No-op (same state, same cfg) while the current
    * geometry suffices — call it after large insert batches. At 100 TB
    * the rewrite is one repartition-by-cell job, amortized over the batch
    * that tripped it. */
  def maintain(state: DataFrame, cfg: GridConfig, targetLeafSize: Long,
      vecCol: String = "embedding"): (DataFrame, GridConfig) = {
    val n = state.count()
    val cfg2 = configFor(n, targetLeafSize, cfg)
    if (cfg2 == cfg) (state, cfg)
    else (state.withColumn("cell_id", cellId(col(vecCol), cfg2)), cfg2)
  }

  /** Runtime dimension validation on ingest (the reference asserts vector
    * shape on insert, kd_tree_database.py:84-85). Implemented as a FILTER
    * whose predicate raises on a wrong-sized or null vector — a filter
    * cannot be pruned away like an unused check column would be;
    * `assert_true` returns null on success so the predicate is always
    * true for valid rows. */
  def requireDim(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.filter(coalesce(
      assert_true(col(vecCol).isNotNull && size(col(vecCol)) === dim,
        lit(s"ingest validation: $vecCol must be a non-null vector of dim $dim")),
      lit(true)))

  // ---- driver-side math (candidate-cell ranking for pruned search) ----

  /** Driver-side cell id of a vector — same math as the [[cellId]] Column. */
  def cellOf(v: Array[Double], g: GridGeometry): Long =
    (0 until g.gridDims).map(d => g.bucketOf(v(d), d).toLong * g.weight(d)).sum

  /** Decode cell id back into per-dim bucket indices (mixed radix). */
  def decode(cellId: Long, g: GridGeometry): Array[Int] = {
    val out = new Array[Int](g.gridDims)
    var rest = cellId
    var d = 0
    while (d < g.gridDims) {
      out(d) = (rest % g.radix(d)).toInt
      rest /= g.radix(d)
      d += 1
    }
    out
  }

  /** Distance from q(d) to bucket b(d)'s interval on dim d: 0 inside, and
    * no bound on an edge bucket's open side (bucketing clamps, so edge
    * cells absorb out-of-range mass). The right-open side still bounds
    * below: points are < hi, so the infimum gap for q above hi is q − hi.
    * Shared by the four metric bounds. */
  @inline private def dimGap(q: Array[Double], b: Array[Int], d: Int,
      g: GridGeometry): Double = {
    val lo = g.bucketLo(d, b(d))
    val hi = g.bucketHi(d, b(d))
    val x = q(d)
    if (x < lo) lo - x else if (x > hi) x - hi else 0.0
  }

  /** Exact squared-L2 lower bound from query point q to any point inside the
    * cell — per-dim distance to the bucket interval, summed over gridded
    * dims. This is tighter than the reference's single-plane bound
    * (kd_tree_database.py:164-181) and still a valid lower bound, so the
    * widening loop terminates with the exact answer. Ungridded dims
    * contribute 0 (conservative). */
  def cellLowerBoundSqL2(q: Array[Double], cell: Long, g: GridGeometry): Double = {
    val b = decode(cell, g)
    var s = 0.0; var d = 0
    while (d < g.gridDims) { val gap = dimGap(q, b, d, g); s += gap * gap; d += 1 }
    s
  }

  /** L1 lower bound: sum of per-dim gaps. */
  def cellLowerBoundL1(q: Array[Double], cell: Long, g: GridGeometry): Double = {
    val b = decode(cell, g)
    var s = 0.0; var d = 0
    while (d < g.gridDims) { s += dimGap(q, b, d, g); d += 1 }
    s
  }

  /** L∞ lower bound: max per-dim gap. */
  def cellLowerBoundLInf(q: Array[Double], cell: Long, g: GridGeometry): Double = {
    val b = decode(cell, g)
    var m = 0.0; var d = 0
    while (d < g.gridDims) { val gap = dimGap(q, b, d, g); if (gap > m) m = gap; d += 1 }
    m
  }

  /** Mahalanobis-diagonal lower bound: inverse-variance-weighted gaps². */
  def cellLowerBoundMahalanobisDiag(q: Array[Double], cell: Long, g: GridGeometry,
      invDiag: Array[Double]): Double = {
    val b = decode(cell, g)
    var s = 0.0; var d = 0
    while (d < g.gridDims) { val gap = dimGap(q, b, d, g); s += gap * gap * invDiag(d); d += 1 }
    s
  }
}
