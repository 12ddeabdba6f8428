package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across suites (scalatest runs suites in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Every (query_id, vec_id, squared-L2 dist) pair of `queries` × `db`,
    * data rows streaming in `db`'s order: the candidate set that
    * `KnnTopK.topK` ranks into the brute-force batch kNN join. */
  def crossCands(queries: DataFrame, db: DataFrame, dim: Int): DataFrame =
    db.crossJoin(broadcast(queries.select(col("query_id"), col("embedding").as("q"))))
      .select(col("query_id"), col("vec_id"),
        graft.functions.Distances.squaredL2Cols(col("q"), col("embedding"), dim).as("dist"))
}
