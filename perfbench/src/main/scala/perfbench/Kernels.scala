package perfbench

import graft.functions.Distances
import graft.index.{Grid, GridConfig}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Kernel micro-bench: a `noop` write of each public column function over a
  * cached input, minus a pass-through projection of the same input, per
  * evaluated row. Several independent copies of a kernel go into one
  * projection, so the kernel outweighs the per-job overhead. */
object Kernels {

  private val Reps = 3
  private val Copies = 8

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val toy = ctx.opts.toy
    val dim = 64
    val spec = Data.VecSpec(ctx.opts.seed, dim, clusters = 32, sigma = 0.08)
    val nVec = if (toy) 2000 else 50000
    val nDoc = if (toy) 300 else 4000
    val cfg = GridConfig(dim, -1, 1, 4, 3)

    val vecs = spark.range(0, nVec, 1, ctx.cores * 2)
      .map(i => (i, (0 to Copies).map(c => spec.vec(c, i))))
      .toDF("id", "v")
      .select(col("id") +: col("v").getItem(0).as("a") +:
        (0 until Copies).map(c => col("v").getItem(c + 1).as(s"b$c")): _*)
      .cache()
    vecs.count()
    val docs = spark.sparkContext.parallelize(Data.corpus(ctx.opts.seed, nDoc).map(d => (d.id, d.text)).toSeq,
      ctx.cores * 2).toDF("doc_id", "text").cache()
    docs.count()

    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    /** ns per evaluation: median kernel time minus median pass-through time. */
    def perRow(in: DataFrame, rows: Long, evals: Int, pass: Seq[Column], kernel: Seq[Column]): Double = {
      val t = (0 until Reps).map(_ => (noop(in.select(pass: _*)), noop(in.select(kernel: _*))))
      (Stats.median(t.map(_._2)) - Stats.median(t.map(_._1))) * 1e9 / (rows.toDouble * evals)
    }
    val qs = (0 until Copies).map(c => spec.query(500, c))
    val bs = (0 until Copies).map(c => col(s"b$c"))
    val vecPass = Seq(col("a"))
    def lit(f: (Column, Array[Double]) => Column) = qs.zipWithIndex.map { case (q, c) => f(col("a"), q).as(s"k$c") }
    val textPass = Seq(col("doc_id"), col("text"))
    def text(f: Column => Column) = Seq(col("doc_id"), f(col("text")).as("k"))

    val out = Map(
      "functions.sql2_ns_per_pair" -> perRow(vecs, nVec, Copies, vecPass ++ bs,
        bs.zipWithIndex.map { case (b, c) => Distances.squaredL2Cols(col("a"), b, dim).as(s"k$c") }),
      "functions.sql2_lit_ns_per_row" -> perRow(vecs, nVec, Copies, vecPass, lit(Distances.squaredL2Lit)),
      "functions.l1_lit_ns_per_row" -> perRow(vecs, nVec, Copies, vecPass, lit(Distances.l1Lit)),
      "index.cell_id_ns_per_vec" -> perRow(vecs, nVec, Copies, vecPass ++ bs,
        bs.zipWithIndex.map { case (b, c) => Grid.cellId(b, cfg).as(s"k$c") }),
      "functions.quality_ns_per_doc" -> perRow(docs, nDoc, 1, textPass, text(TextAnalysis.qualityScore)),
      "functions.langid_ns_per_doc" -> perRow(docs, nDoc, 1, textPass, text(TextAnalysis.langIdHeuristic)),
      "functions.shingles_ns_per_doc" -> perRow(docs, nDoc, 1, textPass, text(Dedup.shingles(_, 3))),
      "functions.minhash_ns_per_doc" -> {
        val t = (0 until Reps).map(_ =>
          (noop(docs.select(textPass: _*)), noop(Dedup.minHashSignature(docs, "text", "doc_id", 3, 8))))
        (Stats.median(t.map(_._2)) - Stats.median(t.map(_._1))) * 1e9 / nDoc
      })
    vecs.unpersist(); docs.unpersist()
    out
  }
}
