package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distance-based outlier scoring over an embedding corpus: a point's
  * score is its distance to its k-th nearest neighbor (Ramaswamy et al.,
  * "Efficient Algorithms for Mining Outliers from Large Data Sets",
  * SIGMOD 2000). The training-data reading: embeddings far from all
  * neighbors are mislabeled/noise/OOD rows a curation pipeline drops or
  * down-weights before training.
  *
  * Built on the same broadcast-pairs + per-query top-k kernel as
  * [[KnnJoin]] (the batch form of the reference's flagship query,
  * vectordb/kd_tree_database.py:285-304) with the self-pair excluded —
  * a point is never its own neighbor. The k-th distance is emitted as
  * `MAX(dist) over the k nearest` (order-independent, so engine-exact
  * with no rounding), not `the row at rank k`.
  *
  * Scale shape: the scored subset broadcasts (score a sample, or shard the
  * full corpus into query batches); the corpus side never shuffles — the
  * only shuffle is the window's partition-by-query over the candidate
  * pairs. At 100 TB, cut candidates with the cell-pruned join
  * ([[KnnCellJoin]]) instead of the cross product; the scoring contract
  * (k-th-NN distance, self excluded) is unchanged.
  */
object Outlier {

  /** (vec_id, kth_dist, n_neighbors, is_outlier) for every row of
    * `queries`: squared-L2 distance to the k-th nearest OTHER row of `db`,
    * flagged when above `threshold`. `n_neighbors` is the count of
    * neighbors actually scored — when `db` holds fewer than k+1 rows it
    * comes back < k and `kth_dist` is the (n-1)-th distance, an
    * UNDERESTIMATE of the true k-th; callers gate on `n_neighbors = k`
    * (checking it here would cost an eager count job at plan-build time).
    *
    * Top-k runs through [[graft.plans.KnnJoinExec]]'s bounded top-k, not a
    * window: a window rank shuffles EVERY candidate pair on query_id
    * (measured 290s at 1k scored × 1M corpus in ScaleProbe), while the
    * operator's per-partition partials cap the shuffle at k rows per query
    * per map task —
    * same (dist ASC, id ASC) order, bit-identical kth distance. */
  def kthNnDistance(db: DataFrame, queries: DataFrame, k: Int, dim: Int,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Top-(k+1) through the dedicated KnnJoinExec kernel, then drop the
    // self-pair. The composition form (crossJoin + aggregator) pays
    // Tungsten row materialization for EVERY candidate pair — measured
    // 256s at 1k × 1M in ScaleProbe; the physical operator streams the
    // corpus once per partition through a primitive-array distance loop.
    // k+1 is exact: removing at most one self row from the top-(k+1)
    // leaves at least the k nearest others.
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("embedding"))
    val dbq = db.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val topk1 = graft.plans.KnnJoinPlan.join(qs, dbq, k + 1)
      .filter(col("vec_id") =!= col("query_id"))
    // per-query re-rank after self-exclusion: ≤ k+1 rows per query reach
    // the window, so the sort is over (queries × (k+1)) rows total
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rn"))
    topk1.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy(col("query_id").as(idCol))
      .agg(max(col("dist")).as("kth_dist"),
        count(lit(1)).as("n_neighbors"))
      .withColumn("is_outlier", (col("kth_dist") > threshold).cast("int"))
  }
}
