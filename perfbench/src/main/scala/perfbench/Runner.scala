package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Outcome of one op: its kind, wall seconds, CPU seconds of the whole JVM
  * during it, whether its output passed the check, and whether it ran with
  * tracing on. */
final case class Sample(id: Long, kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
    traced: Boolean)

object Ctx {
  /** Prefix of the op kinds that run before measuring starts. */
  val Warmup = "warmup_"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, in ns. The kernel leaves out time
    * a hypervisor stole from the VM, which wall time cannot. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** What every workload gets: the session, the run's options, and the op
  * recorder. `trace` is set only on a traced run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val trace: Option[Trace]) {
  val samples = mutable.ArrayBuffer[Sample]()
  private var nextId = 0L
  /** Wall clock (epoch ms) when the first measured op started. */
  var firstOpMs: Long = -1L

  def cores: Int = spark.sparkContext.defaultParallelism

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  /** Runs `body` as one timed op, then checks its output outside the timed
    * interval. A thrown error or a failed check marks the op failed; only
    * passing ops feed the latency figures. Returns the output when it passed. */
  def op[T](kind: String, traced: Boolean = false)(body: => T)(check: T => Boolean): Option[T] = {
    val id = nextId; nextId += 1
    val on = traced && trace.isDefined
    if (firstOpMs < 0 && !kind.startsWith(Ctx.Warmup)) firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val c0 = Ctx.processCpuNs()
    val out = Try(trace.fold(body)(_.op(id, on)(body)))
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = (Ctx.processCpuNs() - c0) / 1e9
    val ok = out match {
      case Success(v) => Try(check(v)) match {
        case Success(true) => true
        case Success(false) => System.err.println(s"[perfbench] op $id ($kind): wrong output"); false
        case Failure(e) => System.err.println(s"[perfbench] op $id ($kind): check threw $e"); false
      }
      case Failure(e) => System.err.println(s"[perfbench] op $id ($kind): failed: $e"); false
    }
    samples += Sample(id, kind, dt, cpu, ok, on)
    if (ok) out.toOption else None
  }

  /** Wraps a public call in a span when the current op is traced. */
  def span[T](name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  /** Passing ops of `kind`, optionally only the traced or untraced ones. */
  def passed(kind: String, traced: Option[Boolean] = None): Seq[Sample] =
    samples.filter(s => s.ok && s.kind == kind && traced.forall(_ == s.traced)).toSeq

  def seconds(kind: String, traced: Option[Boolean] = None): Seq[Double] =
    passed(kind, traced).map(_.seconds)

  /** Per-op Spark figures of the traced, passing ops of `kinds`. */
  def sparkOf(kinds: String*): Trace.SparkFigures =
    trace.get.sparkOf(samples.filter(s => s.ok && s.traced && kinds.contains(s.kind))
      .map(s => s.id -> s.seconds).toMap)

  /** Wall seconds of `body`. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** How a store's rows spread over its grid cells. */
  def cells(state: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val n = state.groupBy("cell_id").count().collect().map(_.getLong(1))
    Map("index.cells_nonempty" -> n.length.toDouble,
      "index.cell_rows_max_over_mean" -> n.max / (n.sum.toDouble / n.length))
  }

  /** Median; NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }
}

/** Result of one workload.
  * @param setupExcessS set-up time beyond one median repetition of the
  *                     repeated set-up steps, taken off `setup_s`
  * @param primaryKind  the op kind the end-to-end latencies describe
  * @param layers       per-layer figures (filled on a traced run only) */
final case class Outcome(setupExcessS: Double, primaryKind: String, layers: Map[String, Double])
