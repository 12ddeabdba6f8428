package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, toy: Boolean,
    work: String)

/** One benchmark run in one JVM:
  * `Main --workload search|join --seed N --seconds S --trace 0|1
  *  --size full|toy --work DIR`.
  * Prints `PERFBENCH {"attempted":..,"failed":..,"metrics":{..}}` as its last
  * line: the end-to-end figures on an untraced run, the per-layer figures on
  * a traced one. `perfbench/run.py` builds, launches and reports it. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv.getOrElse("size", "full") == "toy", kv("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${opts.work}/checkpoints")

    val ctx = new Ctx(spark, opts, if (opts.trace) Some(new Trace(spark)) else None)
    val run: Ctx => Outcome = opts.workload match {
      case "search" => Search.run
      case "join" => Join.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = run(ctx)
    val measured = ctx.samples.filterNot(_.kind.startsWith(Ctx.Warmup))
    val primarySamples = ctx.passed(out.primaryKind, if (opts.trace) Some(false) else None)
    require(primarySamples.nonEmpty, s"no ${out.primaryKind} op passed")
    val primary = primarySamples.map(_.seconds)

    val metrics: Map[String, Double] =
      if (!opts.trace) {
        val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        Map(
          "setup_s" -> ((ctx.firstOpMs - start) / 1e3 - out.setupExcessS),
          "op_cpu_s" -> primarySamples.map(_.cpuSeconds).sum / primary.size)
      } else {
        val s = ctx.sparkOf(measured.map(_.kind).distinct.toSeq: _*)
        val traced = ctx.seconds(out.primaryKind, Some(true))
        out.layers ++ Kernels.run(ctx) ++ Curate.probe(ctx) ++ Map(
          "spark.jobs_per_op" -> s.jobs,
          "spark.stages_per_op" -> s.stages,
          "spark.tasks_per_op" -> s.tasks,
          "spark.executor_cpu_s_per_op" -> s.cpuS,
          "spark.cpu_over_wall" -> s.cpuOverWall,
          "spark.driver_gap_s_per_op" -> s.driverGapS,
          "spark.gc_s_per_op" -> s.gcS,
          "spark.shuffle_write_bytes_per_op" -> s.shuffleWrite,
          "spark.spill_bytes_per_op" -> s.spill,
          "plans.plan_s_per_op" -> s.planS,
          "spark.op_wall_s" -> primary.sum / primary.size,
          "jvm.peak_rss_mb" -> peakRssMb(),
          "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(primary) - 1.0))
      }
    spark.stop()

    for ((k, v) <- ctx.samples.groupBy(_.kind))
      ctx.note(s"$k: " + v.map(x => f"${x.seconds}%.3f").mkString(" "))
    val failed = ctx.samples.count(!_.ok)
    val counts = measured.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }.mkString(" ")
    println(s"[perfbench] ops: $counts; failed $failed of ${ctx.samples.size}")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    println(s"""PERFBENCH {"attempted":${ctx.samples.size},"failed":$failed,"metrics":{$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
