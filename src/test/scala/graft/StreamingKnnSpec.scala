package graft

import graft.plans.KnnJoinPlan
import graft.streaming.StreamingKnn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming kNN serving ≡ offline batch kNN join: queries arriving across
  * micro-batches get exactly the answers the one-shot join computes —
  * same kernel, so the equivalence is structural, and this pins it. */
class StreamingKnnSpec extends SparkSpecBase {
  import spark.implicits._

  test("queries served across micro-batches equal the one-shot batch join") {
    implicit val sqlCtx = spark.sqlContext
    val db = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queryRows = db.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq

    val stream = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
    val q = StreamingKnn.serve(
        stream.toDF().toDF("query_id", "embedding"),
        db, k = 3) { (answers, _) =>
      got ++= answers.as[(Long, Long, Double, Int)].collect()
    }.start()
    try {
      stream.addData(queryRows.take(2)); q.processAllAvailable()
      stream.addData(queryRows.drop(2)); q.processAllAvailable()
    } finally q.stop()

    val want = KnnJoinPlan.join(
        db.filter(col("vec_id") < 6)
          .select(col("vec_id").as("query_id"), col("embedding")),
        db, k = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.toSet === want.toSet)
    assert(got.size === want.length) // no duplicate serving of any batch
  }
}
