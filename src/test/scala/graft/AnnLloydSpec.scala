package graft

import graft.multimodal.Multimodal
import graft.operators.Ann
import org.apache.spark.sql.functions._

class AnnLloydSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("lloyd step never increases the k-means objective and empty cells keep centroids") {
    val c0 = Ann.sampleCentroids(emb, 8)
    val obj0 = Ann.objective(Ann.assign(emb, c0), c0)
    val c1 = Ann.lloydStep(Ann.assign(emb, c0), c0)
    val obj1 = Ann.objective(Ann.assign(emb, c1), c1)
    assert(obj1 <= obj0 + 1e-9, s"objective rose: $obj0 -> $obj1")
    val c2 = Ann.lloydStep(Ann.assign(emb, c1), c1)
    val obj2 = Ann.objective(Ann.assign(emb, c2), c2)
    assert(obj2 <= obj1 + 1e-9)
  }

  test("seeded-exact training fails LOUDLY on coordinates below -2 (the integer-mean domain)") {
    val bad = Seq((0L, Array.fill(64)(-3.0f)), (1L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val seeds = graft.core.Fixtures.Planes16.take(2).map(_.map(_ * 0.1))
    val ex = intercept[IllegalArgumentException] {
      Ann.lloydSeededExact(bad, seeds, iters = 1)
    }
    assert(ex.getMessage.contains("-2"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      graft.operators.Pq.trainSeededExact(bad, 64,
        Array.fill(4)(Array.fill(2)(Array.fill(16)(0.0))), iters = 1)
    }
    assert(ex2.getMessage.contains("-2"), ex2.getMessage)
  }

  /** Both seeded-exact trainers on both domain-check paths (the first
    * training aggregation when iters > 0, the standalone scan at 0). */
  private def seededTrainingErrors(db: org.apache.spark.sql.DataFrame): Seq[String] = {
    val seeds = graft.core.Fixtures.Planes16.take(2).map(_.map(_ * 0.1))
    val books = Array.fill(4)(Array.fill(2)(Array.fill(16)(0.0)))
    for (iters <- Seq(0, 1); train <- Seq[() => Any](
        () => Ann.lloydSeededExact(db, seeds, iters),
        () => graft.operators.Pq.trainSeededExact(db, 64, books, iters)))
      yield intercept[IllegalArgumentException](train()).getMessage
  }

  test("seeded-exact training fails by name on an empty input") {
    val empty = Seq((0L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding").filter(lit(false))
    seededTrainingErrors(empty).foreach(m => assert(m.contains("non-empty input"), m))
  }

  test("seeded-exact training fails by name on all-null coordinates") {
    val nulls = Seq((0L, Seq.fill(64)(Option.empty[Float])), (1L, Seq.fill(64)(Option.empty[Float])))
      .toDF("vec_id", "embedding")
    seededTrainingErrors(nulls).foreach(m => assert(m.contains("non-null coordinates"), m))
  }

  test("lloydSeededExact: coordinates are exact 2^-24 multiples, objective improves on the seeds, training is deterministic") {
    val seeds = graft.core.Fixtures.Planes16.map(_.map(_ * 0.1))
    val trained = Ann.lloydSeededExact(emb, seeds, iters = 2)
    // every updated coordinate is (integer / 2^24) - 2 exactly
    trained.flatten.foreach { v =>
      val scaled = (v + 2.0) * 16777216.0
      assert(scaled == math.rint(scaled) || seeds.flatten.contains(v),
        s"coordinate $v is not a 2^-24 multiple")
    }
    // trained centroids must beat the raw seeds on the k-means objective
    val objSeed = Ann.objective(Ann.assign(emb, seeds), seeds)
    val objTrained = Ann.objective(Ann.assign(emb, trained), trained)
    assert(objTrained < objSeed, s"training did not improve: $objSeed -> $objTrained")
    // bit-identical across runs (the whole point: oracle replayability)
    val again = Ann.lloydSeededExact(emb, seeds, iters = 2)
    assert(trained.flatten.toSeq == again.flatten.toSeq)
  }

  test("refined centroids keep the IVF probe exact at full nprobe") {
    val c0 = Ann.sampleCentroids(emb, 8)
    val c1 = Ann.lloydStep(Ann.assign(emb, c0), c0)
    val q = graft.core.Fixtures.Q64
    val full = Ann.search(Ann.assign(emb, c1), c1, q, k = 10, nprobe = 8).collect()
    val brute = emb
      .select(col("vec_id"),
        graft.functions.Distances.squaredL2Lit(col("embedding"), q).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(10).collect()
    assert(full.map(_.getLong(0)).toSeq == brute.map(_.getLong(0)).toSeq)
  }

  test("ivfJoin at full probe equals the exact kNN join; partial probe has decent recall") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = Ann.sampleCentroids(emb, 8)
    val assigned = Ann.assign(emb, cents)
    val exact = graft.operators.KnnTopK.join(queries, emb, k = 10, dim = 64)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val full = Ann.ivfJoin(queries, assigned, cents, k = 10, nprobe = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full probe must be exact")
    val partial = Ann.ivfJoin(queries, assigned, cents, k = 10, nprobe = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (partial & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@10 with nprobe=3 was $recall")
  }

  test("VecArgTopNL2 returns the n nearest centroid indexes in ascending distance order") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cents = Ann.sampleCentroids(emb, 6)
    val topn = ColumnBridge.column(graft.functions.VecArgTopNL2(
      ColumnBridge.expression(col("embedding")), cents, 3))
    val rows = emb.limit(50).select(col("embedding"), topn.as("cells")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble).toArray
      val expected = cents.zipWithIndex
        .map { case (c, j) => (graft.functions.Distances.squaredL2(v, c), j) }
        .sortBy(identity).take(3).map(_._2).toSeq
      assert(r.getSeq[Int](1) == expected)
    }
  }

  test("resize emits exactly targetW*targetH bytes, deterministically") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(20))
    val out1 = Multimodal.resize(media, 8, 4).collect().sortBy(_.media_id)
    val out2 = Multimodal.resize(media, 8, 4).collect().sortBy(_.media_id)
    assert(out1.length == 20)
    assert(out1.forall(r => r.payload.length == 32 && r.width == 8 && r.height == 4))
    assert(out1.zip(out2).forall { case (a, b) => a.payload.sameElements(b.payload) })
  }
}
