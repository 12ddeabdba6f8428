package graft

import graft.core.Tables
import graft.operators.Mips
import graft.functions.Distances
import org.apache.spark.sql.functions._

class MipsSpec extends SparkSpecBase {

  private val q = (0 until 64).map(i => math.sin(i + 1) * 0.3).toArray

  // factorized store: weight = 1 + vec_id % 10 (a static-quality boost),
  // band = the integer weight itself
  private def store = Tables.embeddings(spark, sfDir)
    .withColumn("weight", (lit(1) + col("vec_id") % 10).cast("double"))
    .withColumn("band", (col("vec_id") % 10).cast("long"))

  private def brute(k: Int, pred: Option[org.apache.spark.sql.Column] = None) = {
    val base = pred.map(store.filter).getOrElse(store)
    base.withColumn("dot", col("weight") * Distances.dotLit(col("embedding"), q))
      .select(col("vec_id"), col("label"), col("dot"))
      .orderBy(col("dot").desc, col("vec_id").asc)
      .limit(k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
  }

  test("banded pruned MIPS == brute weighted dot top-k (widening loop forced)") {
    for (k <- Seq(1, 10, 37)) {
      val pruned = Mips.prunedTopK(spark, store, q, k, bruteForceThreshold = 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(pruned === brute(k), s"k=$k")
    }
  }

  test("pruned MIPS honors the pre-k metadata filter") {
    val pred = Some(col("label") === 3)
    val pruned = Mips.prunedTopK(spark, store, q, 10, pred = pred,
        bruteForceThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(pruned === brute(10, pred))
    assert(pruned.nonEmpty)
  }

  test("cost-based brute path returns the identical result") {
    val viaBrute = Mips.prunedTopK(spark, store, q, 10,
        bruteForceThreshold = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(viaBrute === brute(10))
  }

  test("edge cases: empty store, k larger than store, zero query") {
    val empty = store.filter(lit(false))
    assert(Mips.prunedTopK(spark, empty, q, 5).collect().isEmpty)
    val all = Mips.prunedTopK(spark, store.filter(col("vec_id") < 7), q, 100,
        bruteForceThreshold = 0).collect()
    assert(all.length === 7)
    // zero query: every score is exactly 0, ties broken by vec_id ASC
    val z = Mips.prunedTopK(spark, store, Array.fill(64)(0.0), 5,
        bruteForceThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(z === Seq(0L, 1L, 2L, 3L, 4L).map(i => (i, 0.0)))
  }

  test("negative weights are rejected by the band-stats pass") {
    val bad = store.withColumn("weight",
      when(col("vec_id") === 3, lit(-1.0)).otherwise(col("weight")))
    val ex = intercept[IllegalArgumentException] {
      Mips.bandStats(bad)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("null weights are rejected with a clear message, not an NPE") {
    val bad = store.withColumn("weight",
      when(col("vec_id") === 3, lit(null).cast("double")).otherwise(col("weight")))
    val ex = intercept[IllegalArgumentException] {
      Mips.bandStats(bad)
    }
    assert(ex.getMessage.contains("NULL"))
  }

  test("a null score is never returned and a NaN score ranks last") {
    import spark.implicits._
    // row 1 (alone in its band) has a null coordinate, so a null score;
    // row 3 has a NaN one. Rows 0 and 2 tie at 1.0
    val tiny = Seq(
      (0L, Seq(Some(0.5f), Some(0.5f)), 1.0, 0L),
      (1L, Seq(None, Some(0.5f)), 1.0, 1L),
      (2L, Seq(Some(0.25f), Some(0.25f)), 2.0, 0L),
      (3L, Seq(Some(Float.NaN), Some(0.0f)), 1.0, 2L),
      (4L, Seq(Some(-0.5f), Some(0.0f)), 1.0, 0L))
      .toDF("vec_id", "embedding", "weight", "band").withColumn("label", lit(0))
    for (threshold <- Seq(0L, Long.MaxValue)) {
      val got = Mips.prunedTopK(spark, tiny, Array(1.0, 1.0), 5, bruteForceThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got.map(_._1) == Seq(0L, 2L, 4L, 3L), s"threshold=$threshold")
      assert(got.take(3).map(_._2) == Seq(1.0, 1.0, -0.5) && got(3)._2.isNaN, s"threshold=$threshold")
    }
  }

  test("band stats cache short-circuits recomputation") {
    val stats = Mips.bandStats(store)
    assert(stats.size === 10 && stats.values.map(_._1).sum === 500)
    val pruned = Mips.prunedTopK(spark, store, q, 10,
        bandStatsCache = Some(stats), bruteForceThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(pruned === brute(10))
  }
}
