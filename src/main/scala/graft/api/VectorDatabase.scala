package graft.api

import graft.functions.{Distances, VecMetric}
import graft.index.{Grid, GridConfig, GridGeometry}
import graft.operators.{CellRows, Knn, Snapshot}
import graft.plans.{KnnJoinExec, KnnJoinPlan}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Typed record of the vector store — the Spark analog of the reference's
  * `DatabaseEntry[T]` (reference: vectordb/database.py:11-14) with the id
  * materialized as a column (ids are DB-assigned, monotonically increasing,
  * never reused — vectordb/kd_tree_database.py:253-256). `label` stands in
  * for the generic metadata `T`; [[VectorDatabase.fromDataFrame]] accepts
  * arbitrary extra metadata columns.
  */
final case class VectorRecord(vec_id: Long, embedding: Array[Float], label: Int)

/** Pluggable distance metric — the Spark analog of the reference's
  * `DistanceMetric` ABC (vectordb/distance_metric.py:6-54). `dist` produces
  * a native Column expression (codegen'd). Two closed-form lower bounds
  * prune candidate cells:
  *  - `cellBound`: from the cell's grid interval, over the gridded dims;
  *  - `boxBound`: from the data bounding box of the cell's rows (per-dim
  *    `lo`/`hi` floats), over every dim.
  * A custom metric without a closed form keeps the 0.0 defaults — never
  * prunes, always correct (the safe replacement for the reference's scipy
  * black-box fallback, distance_metric.py:25-54).
  *
  * The built-in box bounds take each per-dim gap from the float-widened
  * box edges and combine the gaps in the kernel's order
  * ([[graft.functions.VecMetricLit]]: left to right over the dims). A
  * point in the box is no nearer than its edge on any dim, and rounding is
  * monotone, so the bound never exceeds the distance the kernel computes,
  * with no slack. A dim whose `lo` or `hi` is NaN adds nothing, and a query
  * of another length than the box gets 0.0.
  */
trait Metric extends Serializable {
  def dist(v: Column, q: Array[Double]): Column
  def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double = 0.0
  def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double = 0.0
}
object Metric {
  /** How far `q` lies outside [lo, hi] on one dim: 0 inside, and 0 unless
    * lo ≤ hi (so 0 when an edge or `q` is NaN). */
  @inline private[api] def gap(q: Double, lo: Float, hi: Float): Double =
    if (!(lo <= hi)) 0.0
    else if (q < lo) lo.toDouble - q else if (q > hi) q - hi.toDouble else 0.0

  /** The squared-L2 box bound; Σ gap², summed as the kernel sums d². */
  private[api] def sqL2Box(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double = {
    if (q.length != lo.length) return 0.0
    var s = 0.0; var i = 0
    while (i < q.length) { val g = gap(q(i), lo(i), hi(i)); s += g * g; i += 1 }
    s
  }
}
object SquaredL2 extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.squaredL2Lit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double =
    Grid.cellLowerBoundSqL2(q, cell, cfg)
  override def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double =
    Metric.sqL2Box(q, lo, hi)
}
object L1 extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.l1Lit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double =
    Grid.cellLowerBoundL1(q, cell, cfg)
  override def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double = {
    if (q.length != lo.length) return 0.0
    var s = 0.0; var i = 0
    while (i < q.length) { s += Metric.gap(q(i), lo(i), hi(i)); i += 1 }
    s
  }
}
object LInf extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.lInfLit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double =
    Grid.cellLowerBoundLInf(q, cell, cfg)
  override def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double = {
    if (q.length != lo.length) return 0.0
    var m = 0.0; var i = 0
    while (i < q.length) { m = math.max(m, Metric.gap(q(i), lo(i), hi(i))); i += 1 }
    m
  }
}
/** The box bound needs non-negative weights: a negative (or NaN) one gets
  * 0.0, since a nearer edge would then give a LARGER term. */
final case class MahalanobisDiag(invDiag: Array[Double]) extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.mahalanobisDiagLit(v, q, invDiag)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double =
    Grid.cellLowerBoundMahalanobisDiag(q, cell, cfg, invDiag)
  private val weightsNonNegative = invDiag.forall(_ >= 0.0)
  override def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double = {
    if (q.length != lo.length || invDiag.length < q.length || !weightsNonNegative) return 0.0
    var s = 0.0; var i = 0
    while (i < q.length) { val g = Metric.gap(q(i), lo(i), hi(i)); s += g * g * invDiag(i); i += 1 }
    s
  }
}

/** Full-covariance Mahalanobis — the reference's default-surface metric
  * (distance_metric.py:66-82) as a first-class facade Metric. Takes the
  * INVERSE covariance (row-major flat), mirroring [[MahalanobisDiag]];
  * [[MahalanobisFull$.fromCovariance]] factorizes a covariance ONCE
  * driver-side via Gauss-Jordan (the reference re-solves the linear
  * system per PAIR, distance_metric.py:78-80).
  *
  * Cell pruning uses the admissible spectral relaxation
  * d'·S⁻¹·d ≥ λ·‖d‖² with λ = max(0, Gershgorin lower bound on
  * λ_min(S⁻¹)): for SPD A, λ_min(A) ≥ min_i(a_ii − Σ_{j≠i}|a_ij|), so
  * λ·(squared-L2 cell bound) never exceeds the true distance to any
  * point in the cell. A non-diagonally-dominant inverse just yields
  * λ = 0 — pruning disabled, correctness untouched (same safety rule as
  * the black-box 0.0 default in [[Metric.cellBound]]). The box bound is
  * λ' × the squared-L2 box bound, with λ' ≤ λ lowered by the kernel's
  * rounding (`lamBox`). */
final case class MahalanobisFull(invFlat: Array[Double], mdim: Int) extends Metric {
  require(invFlat.length == mdim * mdim, "inverse covariance must be mdim x mdim, row-major")
  private val lamMin: Double = {
    var m = Double.PositiveInfinity
    var i = 0
    while (i < mdim) {
      var off = 0.0; var j = 0
      while (j < mdim) { if (j != i) off += math.abs(invFlat(i * mdim + j)); j += 1 }
      val g = invFlat(i * mdim + i) - off
      if (g < m) m = g
      i += 1
    }
    math.max(0.0, m)
  }
  def dist(v: Column, q: Array[Double]): Column =
    Distances.mahalanobisFullLit(v, q, invFlat)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridGeometry): Double =
    lamMin * Grid.cellLowerBoundSqL2(q, cell, cfg)

  /** `lamMin` lowered so that λ × the squared-L2 box bound never exceeds
    * the kernel's value, rounding included. The kernel sums n² products
    * d_i·w_ij·d_j, so it may fall short of d'·S⁻¹·d by γ·R·‖d‖² (R: the
    * largest absolute row or column sum of S⁻¹; γ below); lamMin's own sums
    * may overshoot the Gershgorin bound by 2γ·R; and the squared-L2 box
    * bound may round up by a factor (1 + γ). Lowering by γ·(3R + lamMin)
    * covers all three. */
  private val lamBox: Double = {
    val gamma = (mdim.toDouble * mdim + 2.0 * mdim + 4.0) * math.ulp(1.0)
    def absSum(f: Int => Int): Double = (0 until mdim).map(j => math.abs(invFlat(f(j)))).sum
    val r = (0 until mdim).map(i =>
      math.max(absSum(j => i * mdim + j), absSum(j => j * mdim + i))).foldLeft(0.0)(math.max)
    math.max(0.0, lamMin - gamma * (3.0 * r + lamMin))
  }
  override def boxBound(q: Array[Double], lo: Array[Float], hi: Array[Float]): Double =
    if (q.length != mdim || !(lamBox > 0.0)) 0.0 else lamBox * Metric.sqL2Box(q, lo, hi)
}
object MahalanobisFull {
  /** Factorize the covariance once, then broadcast the inverse. */
  def fromCovariance(covFlat: Array[Double], dim: Int): MahalanobisFull =
    MahalanobisFull(Distances.invertSPD(covFlat, dim), dim)
}

/** The reference's `VectorDatabase` contract (vectordb/database.py:18-64)
  * as an immutable snapshot over a cell-indexed DataFrame. Every mutation
  * returns a NEW `VectorDatabase`; the receiver stays valid — the snapshot/
  * value semantics the reference implements with defensive copies
  * (SURVEY.md §1.2) fall out of DataFrame immutability.
  *
  * At scale: `state` carries a `cell_id` column; persist with
  * `save()` (`partitionBy("cell_id")`) so kNN candidate-cell pruning becomes
  * file-level partition pruning on a 100 TB store.
  *
  * Each snapshot holds its own index stats, aggregated in one job on its
  * first kNN or radius call: per non-empty cell, its rows and the data
  * bounding box of its embeddings (per-dim min and max over all `dim`
  * dims). Later calls rank cells by the larger of the metric's grid bound
  * and its box bound, and scan only candidate cells. A mutation returns a
  * snapshot with no stats, never its parent's: an insert or a move can
  * fill a cell the parent did not have, or leave a cell's box.
  *
  * The same pass builds the snapshot's row cache
  * ([[graft.operators.CellRows]]): the rows the stats job read, held, then
  * shuffled once to one persisted (MEMORY_AND_DISK) partition per non-empty
  * cell, the cell ↔ file identity `save()` writes. Each kNN widening round
  * is then one RDD job over its cells' partitions, evaluating the filter
  * and distance row by row with no SQL planning; a filter or metric that
  * cannot be evaluated that way (a subquery, an aggregate) runs the Dataset
  * rounds instead, with the same answer. Like the stats, the cache is never
  * handed to a written snapshot, which builds its own; Spark's
  * `ContextCleaner` releases it when the snapshot is garbage-collected.
  *
  * A snapshot also plans its (vec_id, embedding) scan once, on its first
  * [[knnJoin]]; a written snapshot plans its own.
  */
final class VectorDatabase private (
    val spark: SparkSession,
    val state: DataFrame, // schema: vec_id, embedding, metadata..., cell_id
    val cfg: GridConfig,
    val defaultMetric: Metric,
    private val nextIdBase: Long) {

  /** This snapshot's index, built on first use from one pass over `state`:
    * cell_id → rows and box ([[Knn.cellStats]]) and its rows, one cached
    * partition per non-empty cell ([[CellRows]]). None past the stats cap. */
  private[graft] lazy val cellRows: Option[CellRows] = CellRows(state, Knn.cellStats(_, cfg))
  private def cellStats: Option[Map[Long, Knn.CellStats]] = cellRows.map(_.stats)

  /** The cell bound `m` prunes with for `q` on this snapshot
    * ([[Knn.cellBound]]). Captures no snapshot, so the distributed stats
    * path can ship it to executors. */
  private def cellBound(m: Metric, q: Array[Double]): Long => Double = {
    val g = cfg
    Knn.cellBound(m.cellBound(q, _, g), m.boxBound(q, _, _), cellStats)
  }

  /** dim accessor (reference database.py:22-25). */
  def dim: Int = cfg.dim

  /** __len__ (reference kd_tree_database.py:307-308). */
  def count(): Long = state.count()

  /** get_entry (reference kd_tree_database.py:272-276). */
  def getEntry(id: Long): Option[org.apache.spark.sql.Row] =
    state.filter(col("vec_id") === id).drop("cell_id").collect().headOption

  /** __iter__ (reference kd_tree_database.py:330-333): the full snapshot. */
  def scan(): DataFrame = state.drop("cell_id")

  /** Max grid depth in use — analog of get_tree_depth
    * (kd_tree_database.py:321-322); constant for the flat grid. */
  def treeDepth: Int = cfg.gridDims

  /** insert: assign fresh monotonic ids, bucket, append
    * (kd_tree_database.py:262-270). Returns (new snapshot, assigned-id df).
    *
    * Dense ids come from `zipWithIndex` (per-partition counts + offset
    * cumsum), NOT a global `row_number()` window — the window formulation
    * moves the whole insert batch through ONE partition, which is the
    * first thing to fall over on a large ingest. The assigned ids are
    * identical: zipWithIndex orders by (partition, row-in-partition),
    * exactly the global order of `monotonically_increasing_id`.
    * The batch is validated as [[VectorDatabase.fromDataFrame]] validates
    * its input ([[Grid.requireDim]]): a null vector or one of another
    * length fails the insert; the stored rows are not re-checked. */
  def insert(rows: DataFrame): (VectorDatabase, DataFrame) = {
    val base = nextIdBase
    val checked = Grid.requireDim(rows, "embedding", cfg.dim)
    val schema = org.apache.spark.sql.types.StructType(
      checked.schema.fields :+ org.apache.spark.sql.types.StructField(
        "vec_id", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = checked.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
    }
    val withIds = spark.createDataFrame(indexed, schema)
      .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
    val n = withIds.count()
    val next = new VectorDatabase(spark, Snapshot.insert(state, withIds.select(state.columns.map(col).toSeq: _*)),
      cfg, defaultMetric, nextIdBase + n)
    (next, withIds.select("vec_id"))
  }

  /** delete (kd_tree_database.py:278-283). Ids never reused. */
  def delete(ids: Seq[Long]): VectorDatabase = {
    import spark.implicits._
    new VectorDatabase(spark,
      Snapshot.delete(state, ids.toDF("vec_id"), "vec_id"), cfg, defaultMetric, nextIdBase)
  }

  /** update_position (kd_tree_database.py:310-316): new vector → new cell.
    * The facade is STRICT like the reference — an unknown id fails at
    * action time (kd_tree_database.py:313-315: `self._id_access.get(id)`
    * returns None and `.metadata` raises AttributeError); use
    * [[Snapshot.updatePosition]] directly with `strict = false` for the
    * lenient pipeline behavior. The updates are validated like an insert
    * batch: a null or wrong-length vector fails the snapshot's first
    * action. */
  def updatePosition(updates: DataFrame): VectorDatabase =
    new VectorDatabase(spark,
      Snapshot.updatePosition(state.drop("cell_id"),
          Grid.requireDim(updates, "embedding", cfg.dim), "vec_id",
          "embedding", strict = true)
        .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
        .select(state.columns.map(col).toSeq: _*),
      cfg, defaultMetric, nextIdBase)

  /** update_metadata (kd_tree_database.py:324-328). */
  def updateMetadata(updates: DataFrame, metaCol: String): VectorDatabase =
    new VectorDatabase(spark,
      Snapshot.updateMetadata(state, updates, "vec_id", metaCol), cfg, defaultMetric, nextIdBase)

  /** find_k_nearest_neighbors (database.py:31-48): filtered kNN with
    * candidate-cell pruning; filter applies BEFORE k; ties break on id. */
  def findKNearestNeighbors(
      q: Array[Double], k: Int,
      filter: Option[Column] = None,
      metric: Option[Metric] = None): Seq[Knn.Neighbor] = {
    val m = metric.getOrElse(defaultMetric)
    val dist = m.dist(col("embedding"), q)
    cellRows match {
      case Some(rows) => Knn.cachedSearch(rows, dist, k, cellBound(m, q), filter)
      case None => Knn.prunedSearch(state, dist, k, cellBound(m, q), filter)
    }
  }

  /** Radius (range) search: every stored vector within distance `r` of
    * `q`, ordered (dist ASC, id ASC) — the range-query face the reference
    * lacks but any vector store's read API pairs with top-k. Candidate
    * cells are known up front (cell bound ≤ r — no widening loop), so on
    * a saved store this is pure file skipping. */
  def radiusSearch(q: Array[Double], r: Double,
      filter: Option[Column] = None,
      metric: Option[Metric] = None): DataFrame = {
    val m = metric.getOrElse(defaultMetric)
    Knn.prunedRadius(state, m.dist(col("embedding"), q), r, cellBound(m, q), filter,
      cellStats)
  }

  /** This snapshot's (vec_id LONG, embedding) rows, planned once, on its
    * first [[knnJoin]]: later calls run its RDD with no planning. */
  private lazy val joinScan: RDD[InternalRow] =
    state.select(col("vec_id").cast(LongType), col("embedding")).queryExecution.toRdd

  /** Batch kNN join: k nearest stored vectors for EVERY query row — the
    * cluster-scale form of [[findKNearestNeighbors]] (SURVEY §2.1 #1
    * batch-of-queries). `queries` holds `queryIdCol` (any integral type)
    * and `embedding`; the result is (query_id LONG, vec_id LONG,
    * dist DOUBLE, rn INT), ranked (dist ASC, vec_id ASC).
    *
    * The join runs when this is called, and the result is a local
    * DataFrame of its |Q|·k rows at most. It plans no Spark SQL query: the
    * query rows are read through `queries`' own planned DataFrame (a
    * DataFrame reused across calls is planned once), and the store through
    * this snapshot's planned scan. It is [[graft.plans.KnnJoinExec]]'s
    * body ([[graft.plans.KnnJoinExec.topK]]): one pass over each store
    * partition keeping a k-bounded top-k per query, then a fold of those
    * partials, on the driver while they fit in
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, with one more tree
    * level above it; no shuffle and no map-side combine. Query rows with a
    * null id or vector are skipped. Distances use the store's metric, which
    * must be [[SquaredL2]], [[L1]] or [[LInf]]; any other metric fails with
    * an IllegalArgumentException. */
  def knnJoin(queries: DataFrame, k: Int,
      queryIdCol: String = "query_id"): DataFrame = {
    val metric = defaultMetric match {
      case SquaredL2 => VecMetric.SqL2
      case L1 => VecMetric.L1
      case LInf => VecMetric.LInf
      case other => throw new IllegalArgumentException(
        "knnJoin supports stores with metric SquaredL2, L1 or LInf; this " +
          s"store's metric is ${other.getClass.getSimpleName.stripSuffix("$")}")
    }
    require(k > 0, s"k must be positive, got $k")
    val conf = DatasetBridge.sqlConf(spark)
    val qe = queries.queryExecution
    // the two query columns, bound by position to the planned rows
    def column(name: String, to: DataType): Expression = {
      val in = qe.analyzed.output
      val e = qe.analyzed.resolveQuoted(name, conf.resolver) match {
        case Some(Alias(nested, _)) => nested
        case Some(attr) => attr
        case None => throw new IllegalArgumentException(
          s"knnJoin: queries have no column '$name' (has ${in.map(_.name).mkString(", ")})")
      }
      require(Cast.canCast(e.dataType, to), s"knnJoin: column '$name' of type " +
        s"${e.dataType.simpleString} cannot be read as ${to.simpleString}")
      val bound = BindReferences.bindReference[Expression](e, in)
      if (DataType.equalsStructurally(bound.dataType, to, ignoreNullability = true)) bound
      else Cast(bound, to, Some(conf.sessionLocalTimeZone))
    }
    val id = column(queryIdCol, LongType)
    val vec = column("embedding", ArrayType(FloatType))
    val rows = DatasetBridge.withSQLConfPropagated(spark)(qe.executedPlan.executeCollect())
      .map(r => (id.eval(r), vec.eval(r))).filter { case (i, v) => i != null && v != null }
    val qs = KnnJoinExec.Queries(rows.map(_._1.asInstanceOf[Long]),
      rows.map(_._2.asInstanceOf[ArrayData].toFloatArray), None)
    val found = KnnJoinExec.topK(joinScan, 0, 1, -1, qs, k, metric,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), None)
    DatasetBridge.ofRows(spark,
      LocalRelation(KnnJoinPlan.freshOutput(), KnnJoinExec.resultRows(found).toSeq))
  }

  /** Cell-partitioned parquet (candidate-cell pruning = file skipping) with
    * rows id-sorted inside each partition, so parquet vec_id min/max stats
    * let point lookups and id-range deletes skip whole row groups too.
    * The embedding elements and the ids are written PLAIN: their values
    * rarely repeat, so a dictionary would be built and then dropped. */
  def save(path: String): Unit =
    state.repartition(col("cell_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite")
      .options(VectorDatabase.PlainColumns)
      .partitionBy("cell_id").parquet(path)
}

object VectorDatabase {
  /** Parquet writer options turning off the dictionary of the high-entropy
    * store columns, the embedding elements and vec_id; `label` keeps it. */
  private[graft] val PlainColumns: Map[String, String] =
    Seq("embedding.list.element", "vec_id").map(c => s"parquet.enable.dictionary#$c" -> "false").toMap

  /** Build from an existing id'd DataFrame (vec_id, embedding, metadata...). */
  def fromDataFrame(spark: SparkSession, df: DataFrame, cfg: GridConfig,
      metric: Metric = SquaredL2, validate: Boolean = true): VectorDatabase = {
    val checked =
      if (validate) Grid.requireDim(df, "embedding", cfg.dim) else df
    val indexed =
      if (checked.columns.contains("cell_id"))
        // partitionBy round-trips infer the partition column as INT —
        // normalize back to the LongType the index math uses
        checked.withColumn("cell_id", col("cell_id").cast("long"))
      else checked.withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
    val maxId = indexed.agg(max("vec_id")).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    new VectorDatabase(spark, indexed, cfg, metric, maxId + 1)
  }

  def load(spark: SparkSession, path: String, cfg: GridConfig,
      metric: Metric = SquaredL2): VectorDatabase =
    fromDataFrame(spark, spark.read.parquet(path), cfg, metric)
}
