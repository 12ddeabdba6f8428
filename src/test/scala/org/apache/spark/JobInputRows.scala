package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Input rows read by each Spark job a block of code runs. Lives in Spark's
  * package because waiting for the listener bus (`waitUntilEmpty`) is
  * package-private to Spark. */
object JobInputRows {

  /** Runs `body` and returns its value with the input rows read by each job
    * it started, in job-id order. */
  def of[T](sc: SparkContext)(body: => T): (T, Seq[Long]) = {
    sc.listenerBus.waitUntilEmpty()
    val listener = new SparkListener {
      val jobOfStage = scala.collection.mutable.Map[Int, Int]()
      val rows = scala.collection.mutable.TreeMap[Int, Long]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        rows(e.jobId) = 0L
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (job <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics))
          rows(job) += m.inputMetrics.recordsRead
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, listener.rows.values.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
