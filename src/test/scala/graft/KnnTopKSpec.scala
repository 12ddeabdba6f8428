package graft

import graft.core.Fixtures
import graft.operators.KnnTopK
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.functions._

class KnnTopKSpec extends SparkSpecBase {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 7)
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("aggregator top-k over the cross candidates equals KnnJoinPlan.join exactly") {
    val viaAgg = KnnTopK.topK(crossCands(queries, emb, Fixtures.Dim), k = 5)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaExec = KnnJoinPlan.join(queries, emb, k = 5)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaAgg.toSeq == viaExec.toSeq)
  }

  test("buffer stays bounded at k and merge keeps global order across partitions") {
    val out = KnnTopK.topK(crossCands(queries, emb.repartition(8), Fixtures.Dim), k = 3)
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 3L))
    // rn follows (dist asc, id asc) within each query
    val rows = out.orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(1)))
    rows.grouped(3).foreach { g =>
      assert(g.sliding(2).forall { case Array((_, d1, i1), (_, d2, i2)) =>
        d1 < d2 || (d1 == d2 && i1 < i2) })
    }
  }

  test("TopKDedupAgg equals groupBy(query, vec).min(dist) then topK, duplicates in either arrival order") {
    import spark.implicits._
    // ids 1 and 2 arrive twice with DIFFERENT dists; the smaller one must
    // win whichever copy comes first, in reduce (one partition) and in
    // merge (copies split across partitions)
    val first = Seq((7L, 1L, 5.0), (7L, 2L, 0.5), (7L, 3L, 2.0), (7L, 4L, 3.0))
    val second = Seq((7L, 1L, 0.1), (7L, 2L, 4.0), (8L, 9L, 1.0), (8L, 9L, 0.2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    for (k <- Seq(2, 3); order <- Seq(first ++ second, second ++ first); parts <- Seq(1, 2)) {
      val cands = order.toDF("query_id", "vec_id", "dist").coalesce(1).repartition(parts)
      val want = rows(KnnTopK.topK(
        cands.groupBy("query_id", "vec_id").agg(min("dist").as("dist")), k))
      assert(rows(KnnTopK.topKDedup(cands, k)) == want, s"k=$k parts=$parts order=$order")
    }
    // the aggregator itself, both orders through reduce and through merge
    val agg = new KnnTopK.TopKDedupAgg(2)
    def red(cs: Seq[(Long, Double)]) =
      cs.foldLeft(agg.zero)((b, c) => agg.reduce(b, KnnTopK.Cand(7L, c._1, c._2)))
    def entries(t: graft.plans.KnnJoinExec.TopK) = t.ids.toSeq.zip(t.dists.toSeq)
    val want = Seq((1L, 0.1), (3L, 2.0))
    for (cs <- Seq(Seq((1L, 5.0), (3L, 2.0), (1L, 0.1)), Seq((1L, 0.1), (3L, 2.0), (1L, 5.0)))) {
      assert(entries(red(cs)) == want, s"reduce $cs")
      assert(entries(agg.merge(red(cs.take(2)), red(cs.drop(2)))) == want, s"merge $cs")
      assert(entries(agg.merge(red(cs.drop(2)), red(cs.take(2)))) == want, s"merge reversed $cs")
    }
  }
}
