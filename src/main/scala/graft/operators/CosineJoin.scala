package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** EXACT cosine-threshold self-join (`cos_sim ≥ τ` pair enumeration) with a
  * partitioned, cluster-safe plan — the edge generator behind the
  * similarity-graph and semantic-dedup queries.
  *
  * The r5/r6 form was `A.join(B, id_a < id_b)`: a BroadcastNestedLoopJoin
  * whose one big side serializes through the driver and whose work cannot
  * spread beyond the broadcast — the exact shape that dies first at 100 TB.
  * This operator keeps the RESULT identical (the brute cross join stays the
  * DuckDB oracle) but restructures the plan:
  *
  *  1. Deterministic geometric cells: k seed centroids (per id-stratum
  *     minimum — no RNG), rows assigned by the codegen'd argmin
  *     ([[Ann.ivfCell]]). k grows with the corpus (callers pass
  *     k ≈ n / targetCellSize), so per-cell populations stay bounded.
  *  2. Admissible cell-pair pruning: per cell, the max ANGULAR radius to
  *     its seed (r_c = max √(2−2·cos(v, seed_c)) — the L2 radius of the
  *     cell's ball on the unit sphere). A cell pair (i, j) can contain a
  *     qualifying pair only if √(2−2·cos(seed_i, seed_j)) ≤ ε + r_i + r_j
  *     with ε = √(2−2τ) — the triangle inequality on normalized vectors,
  *     admissible for ANY assignment, so recall is exactly 1. A small slack
  *     absorbs float rounding.
  *  3. Pair generation as an EQUI-join: surviving ordered cell pairs
  *     broadcast (≤ k² tiny rows), both big sides shuffle-partitioned on
  *     their cell id — SortMergeJoin/ShuffledHashJoin, never a nested loop.
  *     Work distributes across the cluster even in the no-pruning worst
  *     case (isotropic data at a vacuous τ, where exact enumeration is
  *     inherently ~quadratic); on clustered real-world embeddings the
  *     radius test drops most cell pairs (pinned in CosineJoinSpec).
  *  4. Exact verification: `cos_sim ≥ τ` with the same IEEE arithmetic as
  *     the DuckDB oracle ([[Distances.cosineSimCols]]), `id_a < id_b`
  *     canonical orientation.
  *
  * Cf. the reference's single query primitive — filtered nearest-neighbor
  * under a metric (vectordb/kd_tree_database.py:258-303) — lifted from
  * point-vs-corpus to corpus-vs-corpus pair enumeration.
  */
object CosineJoin {

  /** All pairs `(id_a < id_b, cos_sim ≥ tau)` over `vecs`.
    * Output: (id_a, id_b, cos_sim), exactly the brute cross-join result.
    *
    * @param k number of blocking cells; pass ≈ n / targetCellSize so cells
    *          stay bounded as the corpus grows (clamped to [1, 4096]).
    */
  def pairsExact(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      tau: Double, k: Int): DataFrame =
    candidates(vecs, idCol, vecCol, dim, tau, k)
      .filter(col("cos_sim") >= lit(tau))

  /** The candidate pairs surviving cell-pair pruning, WITH their exact
    * cosine but BEFORE the `≥ τ` verify — [[pairsExact]] is this plus the
    * final filter. Exposed so specs can measure pruning effectiveness
    * (candidate volume vs n(n−1)/2) separately from correctness. */
  private[graft] def candidates(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, tau: Double, k: Int): DataFrame = {
    val spark = vecs.sparkSession
    val kk = math.max(1, math.min(4096, k))
    val base = vecs.select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))

    // 1. deterministic seeds: per id-stratum (id % k), the row with the
    // MINIMUM md5(id) (ties → min id) — no RNG, replayable in any engine;
    // empty strata just shrink k. Hash-spread (not min-id) because ids
    // often correlate with content: on a replicated corpus with
    // sequential ids, min-id seeds all land on the first few base rows
    // and one cell swallows the table (SCALE_NOTES.md, round-7 10M-doc
    // probe, finding 1: max cell 223k of 1M at k=1024 before this fix).
    val seedRows = base
      .withColumn("_s", pmod(col("_id"), lit(kk.toLong)))
      .groupBy(col("_s")).agg(min_by(col("_v"),
        struct(Dedup.md5Int32(col("_id").cast("string")), col("_id"))).as("_c"))
      .orderBy(col("_s"))
      .collect()
    val seeds: Array[Array[Double]] =
      seedRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val nCells = seeds.length

    // 2. assignment (codegen argmin) + angular radius per cell
    val assigned = Ann.assign(base, seeds, "_v")
      .withColumnRenamed("ivf_cell", "_cell")
    val seedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        seeds.zipWithIndex.map { case (c, i) => Row(i, c.map(_.toFloat).toSeq) }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_cell", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("_seed", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))))
    // A zero-norm member (or seed) makes cosineSimCols NaN; NaN sorts
    // greater than any double in Spark, so max() would propagate it and
    // `dij <= eps + ri + rj` would silently prune that cell's pairs
    // (breaking the recall-exactly-1 contract). nanvl → 4.0 = the worst
    // possible squared chord on the sphere, i.e. "this cell is never
    // prunable" — conservative, still admissible.
    val radii: Map[Int, Double] = assigned
      .join(broadcast(seedDf), "_cell")
      .select(col("_cell"),
        nanvl(lit(2.0) - lit(2.0) * Distances.cosineSimCols(col("_v"), col("_seed"), dim),
          lit(4.0)).as("_r2"))
      .groupBy(col("_cell")).agg(max(greatest(col("_r2"), lit(0.0))).as("_r2"))
      .collect().map(r => r.getInt(0) -> math.sqrt(r.getDouble(1))).toMap

    // 3. surviving ordered cell pairs (driver-side k² loop; k ≤ 4096)
    val eps = math.sqrt(math.max(0.0, 2.0 - 2.0 * tau))
    // 1e-6, NOT 1e-9: the bound compares square roots, and sqrt amplifies
    // double rounding near zero to ~1e-8 — a boundary pair could be
    // wrongly pruned under a thinner slack. 1e-6 of chord distance is
    // ~5e-13 of cosine at τ near 1, far below the verify filter's
    // resolution, so no false candidates survive it either.
    val slack = 1e-6
    def cosSeed(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      if (c.isNaN) 1.0 else c // zero-norm seed: dij := 0, never prune
    }
    val cp = for {
      i <- 0 until nCells
      j <- 0 until nCells
      ri = radii.getOrElse(i, 0.0)
      rj = radii.getOrElse(j, 0.0)
      dij = math.sqrt(math.max(0.0, 2.0 - 2.0 * cosSeed(seeds(i), seeds(j))))
      if dij <= eps + ri + rj + slack
    } yield (i, j)
    val cpDf = spark.createDataFrame(cp).toDF("_ca", "_cb")

    // 4. equi-join on cell keys + exact verify. The cell-pair list carries
    // BOTH orientations of every surviving unordered pair (and the
    // diagonal), so binding side a to _ca and side b to _cb plus the
    // id_a < id_b filter yields each qualifying pair exactly once.
    val a = assigned.select(col("_id").as("id_a"), col("_v").as("_va"), col("_cell").as("_ca"))
    val b = assigned.select(col("_id").as("id_b"), col("_v").as("_vb"), col("_cell").as("_cb"))
    a.join(broadcast(cpDf), "_ca")
      .join(b, "_cb")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Distances.cosineSimCols(col("_va"), col("_vb"), dim).as("cos_sim"))
  }

  /** [[pairsExact]] with k derived from the corpus: one cheap count, then
    * k = ⌈n / targetCellSize⌉ (min 4) — cell populations stay ~constant as
    * the corpus grows, which is what keeps the per-cell-pair work bounded
    * at 100× the data. */
  def pairsExactAutoK(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, tau: Double, targetCellSize: Int = 64): DataFrame = {
    val n = vecs.count()
    val k = math.max(4, ((n + targetCellSize - 1) / targetCellSize).toInt)
    pairsExact(vecs, idCol, vecCol, dim, tau, k)
  }
}
