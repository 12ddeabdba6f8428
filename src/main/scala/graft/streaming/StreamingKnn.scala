package graft.streaming

import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Micro-batch kNN serving: the streaming face of the reference's
  * flagship query (vectordb/kd_tree_database.py:285-304). The reference
  * answers one synchronous call at a time; Spark's native unit of arrival
  * is the micro-batch, so the serving loop is `foreachBatch` running the
  * SAME batch kNN-join operator used offline ([[KnnJoinPlan]]) — arriving
  * query vectors are answered k-nearest each against the (static) store,
  * and results flow to any sink. One code path for offline eval and online serving means the
  * two can never drift.
  *
  * Scale: each micro-batch broadcasts only that batch's queries; the store
  * side never shuffles. Latency is micro-batch-bound (use
  * `Trigger.ProcessingTime(...)` to cap it); for sub-second single-query
  * serving, front the persisted store with a point-serving layer — that
  * infrastructure is out of scope for a batch engine (BASELINE.json:
  * "online serving infrastructure does not [fit Spark]").
  */
object StreamingKnn {

  /** Serve a stream of (query_id, embedding) rows: every micro-batch is
    * answered with the exact batch kNN join against `db`, and the
    * (query_id, vec_id, dist, rn) answers are handed to `sink`. */
  def serve(queries: DataFrame, db: DataFrame, k: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(KnnJoinPlan.join(batch, db, k), batchId)
      }
}
