package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming monitoring statistics. The batch CUSUM (query
  * `events_cusum_daily`) runs the sequential recursion
  * c_t = max(0, c_{t-1} + (x_t − mean)) as a left fold over the
  * aggregated daily series; here the SAME fold continues across
  * micro-batches: the persisted state is just the two fold slots
  * (cusum, running max), so the streamed fold over ordered batches is
  * EXACTLY the one-shot fold over the concatenated series — the
  * continuation property of a left fold, proven in StreamingCusumSpec.
  *
  * Contract: the stream carries one record per (day) — the upstream
  * rollup emits finalized daily counts (watermark-closed), and batches
  * arrive in event-time order (the replay/backfill regime). `mean` is a
  * FIXED reference baseline, as in monitoring practice (recomputing the
  * mean from the stream itself would make old deltas retroactively
  * wrong). */
object StreamMonitor {

  /** Driver-side fold step shared by batch and streaming forms. */
  def cusumFold(c0: Double, m0: Double, deltas: Seq[Double]): (Double, Double) =
    deltas.foldLeft((c0, m0)) { case ((c, m), d) =>
      val c2 = math.max(0.0, c + d)
      (c2, math.max(m, c2))
    }

  private def readState(spark: SparkSession, dir: String): (Double, Double) = {
    val p = new java.io.File(dir)
    if (!p.exists()) (0.0, 0.0)
    else {
      val r = spark.read.parquet(dir).collect()
      if (r.isEmpty) (0.0, 0.0)
      else (r(0).getAs[Double]("cusum"), r(0).getAs[Double]("max_cusum"))
    }
  }

  /** Maintain CUSUM state over a stream of (dayCol, nCol) daily-count
    * records against the fixed `mean` baseline; state parquet at
    * `stateDir` holds one row (cusum, max_cusum). */
  def cusumMaintain(dailyCounts: DataFrame, dayCol: String, nCol: String,
      mean: Double, stateDir: String): DataStreamWriter[Row] = {
    dailyCounts.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // a micro-batch holds a handful of finalized daily records —
        // driver-side fold is the point (the state IS driver-sized)
        val days = batch.select(col(dayCol), col(nCol).cast("double"))
          .collect()
          .sortBy(_.get(0).toString)
          .map(_.getDouble(1) - mean)
        if (days.nonEmpty) {
          val (c0, m0) = readState(spark, stateDir)
          val (c, m) = cusumFold(c0, m0, days.toSeq)
          import spark.implicits._
          Seq((c, m)).toDF("cusum", "max_cusum")
            .coalesce(1).write.mode("overwrite").parquet(stateDir)
        }
        ()
      }
  }
}
