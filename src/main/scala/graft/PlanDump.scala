package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Evidence dump for the optimization rounds: writes
  * `explain("formatted")` of named declared queries to
  * `<outDir>/<query>_<suffix>.txt` (the `plans/rNN/` before/after files the
  * judge checks claims against). Query construction may run prep side
  * effects (store writes) exactly like the bench does.
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <name,name,...>` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args(3).split(",").toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.prepareFixtures(spark, sfDir) catch { case e: Throwable =>
      println(s"[plandump] fixture prep FAILED: $e")
    }
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] FAILED $n: $e")
      }
    }
    spark.stop()
  }
}
