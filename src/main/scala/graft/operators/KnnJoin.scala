package graft.operators

import graft.plans.KnnJoinPlan
import org.apache.spark.sql.DataFrame

/** Batch kNN similarity join under its old name. The engine's exact batch
  * join is [[KnnJoinPlan.join]]; this forwarder is kept only for the
  * join-form layer of perfbench's `Join.scala`, which compiles against it.
  */
object KnnJoin {

  def join(queries: DataFrame, db: DataFrame, k: Int, dim: Int): DataFrame =
    KnnJoinPlan.join(queries, db, k)
}
