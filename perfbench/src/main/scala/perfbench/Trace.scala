package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory trace of one benchmark run: spans around the public calls the
  * benchmark makes, tagged with the op id, plus the Spark jobs, stages and
  * SQL executions each op caused. Listeners are attached only while a traced
  * op runs (see [[op]]) and everything is reduced to per-op
  * figures when the run ends. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val queries = mutable.ArrayBuffer[QueryRec]()
  /** The traced op running now; -1 between traced ops. Listener callbacks
    * read it on the bus thread: every event of a traced op is delivered
    * before the op ends (see [[op]]), so it names the op that caused it. */
  @volatile private var op: Long = -1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += JobRec(e.jobId, op, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.indexWhere(_.jobId == e.jobId) match {
        case -1 =>
        case i => jobs(i) = jobs(i).copy(end = e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += StageRec(i.stageId, i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val plan = qe.executedPlan
      val scans = PlanWalk.collectAll(plan) { case s: FileSourceScanExec => s }
      def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val rec = QueryRec(op, planMs / 1e3,
        scans.map(metric(_, "numOutputRows")).sum, scans.map(metric(_, "numFiles")).sum,
        scans.size, PlanWalk.collectAll(plan) { case x: Exchange => x }.size)
      Trace.this.synchronized { queries += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Run `body` as op `id`, with the listeners attached when `on` is set. */
  def op[T](id: Long, on: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    if (on) { sc.addSparkListener(listener); spark.listenerManager.register(queryListener) }
    op = if (on) id else -1L
    try body
    finally {
      if (on) {
        // deliver every queued event before detaching, so no job is lost
        org.apache.spark.PerfbenchBus.drain(sc)
        spark.listenerManager.unregister(queryListener)
        sc.removeSparkListener(listener)
      }
      op = -1L
    }
  }

  /** Span around one public call; recorded only inside a traced op. */
  def span[T](name: String)(body: => T): T =
    if (op < 0) body
    else {
      val t0 = System.nanoTime()
      try body finally spans += Span(op, name, t0, System.nanoTime())
    }

  /** Per-op Spark figures over `ops` (op id -> wall seconds). */
  def sparkOf(ops: Map[Long, Double]): SparkFigures = synchronized {
    val n = math.max(1, ops.size)
    val js = jobs.filter(j => ops.contains(j.op))
    val stageOp = js.flatMap(j => j.stageIds.map(_ -> j.op)).toMap
    val st = stages.filter(s => stageOp.contains(s.stageId))
    val qs = queries.filter(q => ops.contains(q.op))
    val wall = ops.values.sum
    val busy = js.groupBy(_.op).map { case (_, g) => unionMs(g.map(j => (j.start, j.end)).toSeq) / 1e3 }.sum
    val cpu = st.map(_.cpuNs).sum / 1e9
    SparkFigures(
      jobs = js.size.toDouble / n,
      stages = st.size.toDouble / n,
      tasks = st.map(_.tasks.toLong).sum.toDouble / n,
      cpuS = cpu / n,
      cpuOverWall = if (wall > 0) cpu / wall else 0.0,
      driverGapS = math.max(0.0, wall - busy) / n,
      gcS = st.map(_.gcMs).sum / 1e3 / n,
      shuffleWrite = st.map(_.shuffleWrite).sum.toDouble / n,
      spill = st.map(_.spill).sum.toDouble / n,
      planS = qs.map(_.planS).sum / n,
      scanRows = qs.map(_.scanRows).sum.toDouble / n,
      scanFiles = qs.map(_.scanFiles).sum.toDouble,
      scans = qs.map(_.scans).sum.toDouble,
      exchanges = qs.map(_.exchanges).sum.toDouble / n)
  }

  /** Median wall seconds of the spans named `name`. */
  def spanMedian(name: String): Double = Stats.median(spans.filter(_.name == name).map(_.seconds).toSeq)
}

object Trace {
  final case class Span(op: Long, name: String, t0: Long, t1: Long) {
    def seconds: Double = (t1 - t0) / 1e9
  }
  final case class JobRec(jobId: Int, op: Long, start: Long, end: Long, stageIds: Seq[Int])
  final case class StageRec(stageId: Int, tasks: Int, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)
  final case class QueryRec(op: Long, planS: Double, scanRows: Long, scanFiles: Long, scans: Int, exchanges: Int)

  /** Per-op averages of one op kind. */
  final case class SparkFigures(jobs: Double, stages: Double, tasks: Double, cpuS: Double,
      cpuOverWall: Double, driverGapS: Double, gcS: Double, shuffleWrite: Double, spill: Double,
      planS: Double, scanRows: Double, scanFiles: Double, scans: Double, exchanges: Double)

  /** Length of the union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e0) <- iv.sortBy(_._1)) {
      val e = math.max(s, e0)
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Walks an executed plan through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def collectAll[B](p: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] = collect(p)(pf)
}
