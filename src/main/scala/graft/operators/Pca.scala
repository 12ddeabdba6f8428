package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StructField, StructType}

/** Distributed principal-component extraction: the corpus collapses to its
  * (uncentered) second-moment Gram matrix in ONE aggregation pass — dims²
  * map-side-combinable sums, data never leaves the executors — and the
  * dims×dims eigenproblem runs on the driver by power iteration (the same
  * collapse-then-solve shape as IVF centroids and label centroids).
  *
  * Engine-exactness: per-row products are rounded to 9 decimals and summed
  * in DECIMAL(28,9) (order-independent, exact); the summed unscaled values
  * stay far below 2^53, so the one decimal→double cast is correctly
  * rounded — identical — in Spark and DuckDB. The driver's fixed-seed,
  * fixed-iteration-count power loop uses left-associated IEEE arithmetic
  * that an unrolled SQL replay (KnnQueries.pcaSql) reproduces bit-for-bit.
  *
  * At 100 TB: the scan dominates and parallelizes perfectly; the driver
  * work is O(iters·dims²) scalar flops on a dims×dims matrix — independent
  * of data size. Full-dim PCA (dims² = 4096 sums for dim 64) is the same
  * one-pass shape; the declared query uses the first 8 dims to keep the
  * oracle SQL reviewable.
  */
object Pca {

  /** Gram entries g(i)(j) = Σ_rows round(eᵢ·eⱼ, 9), as exact-cast doubles.
    * Only the upper triangle is aggregated — IEEE multiplication commutes
    * exactly, so g(j)(i) is the SAME decimal sum and mirrors for free
    * (dims·(dims+1)/2 decimal sums instead of dims²). */
  def gram(emb: DataFrame, dims: Int, vecCol: String = "embedding"): Array[Array[Double]] = {
    def e(i: Int) = element_at(col(vecCol), i + 1).cast(DoubleType)
    val aggs = for (i <- 0 until dims; j <- i until dims) yield
      sum(round(e(i) * e(j), 9).cast(DecimalType(28, 9))).cast("double").as(s"g_${i}_$j")
    val row = emb.agg(aggs.head, aggs.tail: _*).collect().head
    val m = Array.ofDim[Double](dims, dims)
    var idx = 0
    for (i <- 0 until dims; j <- i until dims) {
      m(i)(j) = row.getDouble(idx)
      m(j)(i) = m(i)(j)
      idx += 1
    }
    m
  }

  /** `iters` power-iteration steps from the uniform unit seed; all driver
    * arithmetic left-associated to mirror the SQL replay. Returns the
    * (sign-deterministic, unit-norm) dominant direction. */
  def powerIterate(g: Array[Array[Double]], iters: Int): Array[Double] = {
    val dims = g.length
    val seed = 1.0 / math.sqrt(dims.toDouble)
    var v = Array.fill(dims)(seed)
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dims) { i =>
        var s = g(i)(0) * v(0)
        var j = 1
        while (j < dims) { s = s + g(i)(j) * v(j); j += 1 }
        s
      }
      var nsq = w(0) * w(0)
      var i = 1
      while (i < dims) { nsq = nsq + w(i) * w(i); i += 1 }
      val n = math.sqrt(nsq)
      v = w.map(_ / n)
    }
    v
  }

  /** Declared-query form: (dim_idx, component) rows of the dominant
    * direction of the first `dims` embedding dimensions. */
  def topComponent(emb: DataFrame, dims: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val v = powerIterate(gram(emb, dims), iters)
    val rows = v.zipWithIndex.map { case (c, i) => Row(i, c) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("dim_idx", IntegerType, nullable = false),
        StructField("component", DoubleType, nullable = false))))
  }
}
