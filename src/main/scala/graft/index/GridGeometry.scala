package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The bucket geometry of a flat grid index — the ONLY thing that differs
  * between the equal-width [[GridConfig]] and the data-quantile
  * [[QuantileGridConfig]]. Everything downstream is written once over this
  * trait: cell-id encoding/decoding and the four metric cell lower bounds
  * ([[Grid]]), the radius-pruning optimizer rule
  * ([[graft.plans.GridRadiusPruning]]), the pruned kNN search
  * ([[graft.operators.Knn.prunedSearch]]) and the batch cell join
  * ([[graft.operators.KnnCellJoin.join]]).
  *
  * Gridded dim d has `radix(d)` buckets; bucket b covers `[bucketLo, bucketHi)`
  * with the two edge buckets open-ended (bucketing clamps, so out-of-range
  * mass lands there). Cell id = Σ bucket_d · weight(d), mixed radix.
  */
sealed trait GridGeometry {
  def dim: Int
  def gridDims: Int
  def numCells: Long
  /** Buckets on gridded dim d. */
  def radix(d: Int): Int
  /** Positional weight of gridded dim d in the cell id. */
  def weight(d: Int): Long
  /** Lower edge of bucket b on dim d (-inf for bucket 0). */
  def bucketLo(d: Int, b: Int): Double
  /** Upper edge of bucket b on dim d (+inf for the last bucket). */
  def bucketHi(d: Int, b: Int): Double
  /** Driver-side bucket of coordinate x on dim d — same math as [[bucket]]. */
  def bucketOf(x: Double, d: Int): Int
  /** Bucket of a DOUBLE coordinate Column on dim d (IntegerType). Builds
    * `cell_id`. */
  def bucket(x: Column, d: Int): Column
  /** Stable geometry fingerprint, stamped into the `cell_id` column's
    * metadata under [[fpMetaKey]] by [[Grid.withCellId]]: it binds a cell_id
    * column to the EXACT geometry that produced it. */
  def fingerprint: String
  def fpMetaKey: String
  /** Registry encoding, read back by [[GridGeometry.parse]]. */
  def encoded: String

  protected def md5Prefix(canonical: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
}

object GridGeometry {
  /** Column-metadata keys of the two kinds' fingerprints: distinct, so a
    * column stamped by one kind never binds a geometry of the other. */
  val EqualWidthFpKey = "graft.grid.fp"
  val QuantileFpKey = "graft.qgrid.fp"
  val FpMetaKeys: Seq[String] = Seq(EqualWidthFpKey, QuantileFpKey)

  /** Inverse of [[GridGeometry.encoded]]. */
  def parse(s: String): GridGeometry = s.split(":", -1) match {
    case Array("g", p) =>
      val a = p.split(",")
      GridConfig(a(0).toInt, a(1).toDouble, a(2).toDouble, a(3).toInt, a(4).toInt)
    case Array("q", d, bs) =>
      QuantileGridConfig(d.toInt, bs.split('|').toSeq.map(_.split(',').toSeq.map(_.toDouble)))
    case _ => throw new IllegalArgumentException(s"not a grid geometry: $s")
  }
}

/** Grid index configuration — the Spark re-expression of the reference's
  * KD-tree tuning knobs (reference: vectordb/kd_tree_database.py:12-16,
  * 234-249: dim, lower_bound, upper_bound, num_splits_per_dimension,
  * max_leaf_size).
  *
  * The reference splits one dimension per tree level into
  * `num_splits_per_dimension + 1` equal-width parts, cycling dimensions with
  * depth (kd_tree_database.py:19-22, 59-70). For depth ≤ dim that is exactly
  * a flat equal-width grid over the first `gridDims` dimensions — which is
  * what we build: a deterministic `cell_id` COLUMN instead of a driver-side
  * tree, so candidate-cell pruning becomes partition pruning / an `isin`
  * filter that Catalyst pushes to the parquet scan. At 100 TB the indexed
  * table is written `partitionBy("cell_id")` so pruning skips whole files.
  *
  * @param partsPerDim buckets per gridded dimension (= reference
  *                    num_splits_per_dimension + 1)
  * @param gridDims    number of leading dimensions that are gridded (= tree
  *                    depth; the reference grows depth on leaf overflow — we
  *                    pick it from the row count, see [[Grid.depthFor]])
  */
final case class GridConfig(
    dim: Int,
    lower: Double = -1.0,
    upper: Double = 1.0,
    partsPerDim: Int = 4,
    gridDims: Int = 3) extends GridGeometry {
  require(partsPerDim >= 2, "need at least 2 buckets per dim")
  require(gridDims >= 1 && gridDims <= dim, "gridDims must be in [1, dim]")
  val numCells: Long = math.pow(partsPerDim.toDouble, gridDims.toDouble).toLong
  /** Bucket edges for gridded dim d: lower + j*width, j=0..partsPerDim. */
  val width: Double = (upper - lower) / partsPerDim

  def radix(d: Int): Int = partsPerDim
  def weight(d: Int): Long = math.pow(partsPerDim.toDouble, d.toDouble).toLong
  def bucketLo(d: Int, b: Int): Double =
    if (b == 0) Double.NegativeInfinity else lower + b * width
  def bucketHi(d: Int, b: Int): Double =
    if (b == partsPerDim - 1) Double.PositiveInfinity else lower + b * width + width

  def bucketOf(x: Double, d: Int): Int = {
    val b = math.floor(((x - lower) / (upper - lower)) * partsPerDim).toLong
    math.min(partsPerDim - 1L, math.max(0L, b)).toInt
  }

  /** Mirrors the reference's floor formula with both-end clamping
    * (kd_tree_database.py:59-70 clamps only the ==upper edge; we clamp both
    * so out-of-bounds vectors land in edge cells instead of breaking —
    * SURVEY.md §7 "out-of-bounds vectors" trap). Exact same arithmetic is
    * emitted for the DuckDB oracle by [[Grid.bucketSql]]. */
  def bucket(x: Column, d: Int): Column =
    least(
      lit(partsPerDim - 1L),
      greatest(
        lit(0L),
        floor(((x - lit(lower)) / lit(upper - lower)) * lit(partsPerDim.toDouble))
      )
    ).cast(IntegerType)

  lazy val fingerprint: String = md5Prefix(s"$dim,$lower,$upper,$partsPerDim,$gridDims")
  def fpMetaKey: String = GridGeometry.EqualWidthFpKey
  def encoded: String = s"g:$dim,$lower,$upper,$partsPerDim,$gridDims"
}

/** Quantile-calibrated grid — the data-adaptive option next to
  * [[GridConfig]]'s equal-width buckets.
  *
  * The reference's grid is balanced ONLY for uniformly distributed data
  * (its own docstring, reference kd_tree_database.py:226-233); a skewed
  * embedding distribution piles most rows into a few equal-width cells,
  * and pruned search degrades toward a full scan of the hot cells. Here
  * each gridded dimension's bucket edges sit at the DATA's own quantiles
  * ([[QuantileGrid.calibrate]]), so cell populations stay near-uniform for
  * ANY distribution. Bucket i is `[b_i, b_{i+1})`, bucket 0 is `(-inf, b_1)`
  * and the last is `[b_last, +inf)`; pruning and the cell join are the
  * shared [[Grid]] / [[graft.operators.KnnCellJoin]] code.
  *
  * @param boundaries per gridded dim: ASCENDING interior bucket edges
  *                   (n edges = n+1 buckets); dims may differ in width
  */
final case class QuantileGridConfig(dim: Int, boundaries: Seq[Seq[Double]])
    extends GridGeometry {
  val gridDims: Int = boundaries.size
  require(gridDims >= 1 && gridDims <= dim, "gridDims must be in [1, dim]")
  boundaries.zipWithIndex.foreach { case (bs, d) =>
    require(bs.nonEmpty, s"dim $d has no boundaries")
    require(bs.sliding(2).forall(w => w.size < 2 || w(0) <= w(1)),
      s"dim $d boundaries not ascending")
  }
  /** buckets per gridded dim (mixed radix — dims may differ). */
  val partsPerDim: Seq[Int] = boundaries.map(_.size + 1)
  val numCells: Long = partsPerDim.foldLeft(1L)(_ * _.toLong)
  /** positional weight of dim d in the cell id (mixed-radix). */
  val weights: Seq[Long] =
    partsPerDim.scanLeft(1L)(_ * _.toLong).init

  def radix(d: Int): Int = partsPerDim(d)
  def weight(d: Int): Long = weights(d)
  def bucketLo(d: Int, b: Int): Double =
    if (b == 0) Double.NegativeInfinity else boundaries(d)(b - 1)
  def bucketHi(d: Int, b: Int): Double =
    if (b == boundaries(d).length) Double.PositiveInfinity else boundaries(d)(b)

  /** The count of boundaries ≤ x; clamping is inherent. */
  def bucketOf(x: Double, d: Int): Int = {
    val bs = boundaries(d)
    var i = 0
    while (i < bs.length && x >= bs(i)) i += 1
    i
  }

  def bucket(x: Column, d: Int): Column =
    boundaries(d).map(b => (x >= lit(b)).cast(IntegerType)).reduce(_ + _)

  lazy val fingerprint: String =
    md5Prefix(s"q:$dim:" + boundaries.map(_.map(_.toString).mkString(",")).mkString(";"))
  def fpMetaKey: String = GridGeometry.QuantileFpKey
  def encoded: String = s"q:$dim:" + boundaries.map(_.mkString(",")).mkString("|")
}
