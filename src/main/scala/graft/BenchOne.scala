package graft

import org.apache.spark.sql.SparkSession

/** Spot-timing harness for local iteration: time a named subset of the
  * declared queries (min of 3, same noop-sink + per-query teardown as
  * [[Bench]]) without paying the full 279-query sweep.
  * `runMain graft.BenchOne <sfDir> <name,name,...>` */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("dedup_minhash_lsh_pairs", "pipeline_curation",
        "split_leakage_audit", "pipeline_funnel_report", "dedup_lsh_recall",
        "dedup_cluster_canonical", "sample_epoch_shuffle", "pipeline_pretrain_v2")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.prepareFixtures(spark, sfDir) catch { case e: Throwable =>
      println(s"[benchone] fixture prep FAILED: $e")
    }
    graft.core.Tables.all.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case e: Throwable => println(s"[benchone] warm-up read of $t FAILED: $e") }
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val ts = Seq.fill(3)(once())
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      } catch { case e: Throwable => println(s"[benchone] teardown after $n FAILED: $e") }
      println(f"TIME $n min=${ts.min}%.3f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
