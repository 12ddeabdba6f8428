package graft

import graft.core.{Fixtures, Tables}
import graft.functions.Distances
import graft.index.{Grid, GridConfig, GridGeometry}
import graft.operators.{Knn, KnnTopK}
import org.apache.spark.sql.functions._

/** kNN behavior parity with the reference test suite
  * (reference: tests/test_kd_tree_database.py), plus the pruned-vs-brute
  * equality the reference never checks (SURVEY.md §5 gap).
  */
class KnnSpec extends SparkSpecBase {
  import Fixtures._

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val indexed = Grid.withCellId(emb, "embedding", SparkEntry.gridCfg).cache()

  test("self-query: a db vector is its own nearest neighbor at dist 0 (tests:54-68)") {
    val row = emb.filter(col("vec_id") === 7).collect()(0)
    val q = row.getSeq[Float](row.fieldIndex("embedding")).map(_.toDouble).toArray
    val top = Knn.bruteForce(emb, Distances.squaredL2Lit(col("embedding"), q), 1).collect()
    assert(top(0).getLong(0) === 7L)
    assert(top(0).getDouble(2) === 0.0)
  }

  test("filter applies before k: every result passes, k survivors returned") {
    val res = Knn.bruteForce(emb, Distances.squaredL2Lit(col("embedding"), Q64), 10,
      pred = Some(col("label") === 3)).collect()
    assert(res.length === 10)
    assert(res.forall(_.getInt(1) === 3))
  }

  test("results ascend by (dist, id)") {
    val res = Knn.bruteForce(emb, Distances.squaredL2Lit(col("embedding"), Q64), 20).collect()
    val pairs = res.map(r => (r.getDouble(2), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy(identity)))
  }

  test("pruned search equals brute force for all metrics, with and without filter") {
    val cfg = SparkEntry.gridCfg
    val cases: Seq[(String, org.apache.spark.sql.Column, (Array[Double], Long, GridGeometry) => Double)] = Seq(
      ("l2", Distances.squaredL2Lit(col("embedding"), Q64), Grid.cellLowerBoundSqL2),
      ("l1", Distances.l1Lit(col("embedding"), Q64), Grid.cellLowerBoundL1),
      ("linf", Distances.lInfLit(col("embedding"), Q64), Grid.cellLowerBoundLInf),
      ("mahal", Distances.mahalanobisDiagLit(col("embedding"), Q64, InvDiag64),
        (q: Array[Double], c: Long, g: GridGeometry) => Grid.cellLowerBoundMahalanobisDiag(q, c, g, InvDiag64)))
    for ((name, dist, bound) <- cases; pred <- Seq(None, Some(col("label") === 3))) {
      val brute = Knn.bruteForce(emb, dist, 10, pred = pred).collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      val pruned = Knn.prunedSearch(indexed, cfg, Q64, 10, pred = pred,
        cellBound = bound, distExpr = Some(dist),
        bruteForceThreshold = 0L).map(n => (n.vec_id, n.dist))
      assert(pruned === brute.toSeq, s"metric=$name pred=$pred")
    }
  }

  test("distributed ranked-prefix pager: multi-fetch widening equals brute (r13)") {
    import spark.implicits._
    // 900-cell 2-dim grid over 2000 skewed rows (~2 rows/cell), far-corner
    // query + large k ⇒ the widening loop pages past the initial 256-cell
    // prefix through several geometric fetches — the de-O(cells) path's
    // pager, exercised end to end with NO stats cache. Every case also runs
    // on the cached-stats path, and each widening round scans only its new
    // cells, so these pin the driver-side merge of per-round top-ks too.
    val cfg = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 30, gridDims = 2)
    val rnd = new scala.util.Random(31)
    val q = Array(0.98, 0.97)
    // eight rows at one position near the query, ids out of insertion order:
    // with kTie the kth distance falls inside the group, so the id breaks it
    val dupAt = Array(0.9f, 0.9f)
    val rows = (0L until 2000L).map { i =>
      (i, Array(math.pow(rnd.nextDouble(), 2).toFloat, rnd.nextFloat()), rnd.nextInt(5))
    } ++ Seq(2005L, 2001L, 2007L, 2000L, 2003L, 2006L, 2002L, 2004L).map(i => (i, dupAt, 1))
    // checkpointed so no round is folded into a driver-side local relation:
    // each widening round then runs as one Spark job
    val db = rows.toDF("vec_id", "embedding", "label").localCheckpoint()
    val idx = Grid.withCellId(db, "embedding", cfg)
    val counts = Knn.cellCounts(idx)
    def sqL2(v: Array[Float]): Double = v.indices.map(d => math.pow(v(d).toDouble - q(d), 2)).sum
    val kTie = rows.count(r => sqL2(r._2) < sqL2(dupAt)) + 3
    val l2 = Distances.squaredL2Lit(col("embedding"), q)
    val l1 = Distances.l1Lit(col("embedding"), q)
    val l2Bound: (Array[Double], Long, GridGeometry) => Double = Grid.cellLowerBoundSqL2
    val l1Bound: (Array[Double], Long, GridGeometry) => Double = Grid.cellLowerBoundL1
    // (name, distance, cell bound, filter, k, least widening rounds)
    val cases = Seq(
      ("l2", l2, l2Bound, None, 50, 1),
      ("l2", l2, l2Bound, None, 400, 1),
      ("l2 tie at kth", l2, l2Bound, None, kTie, 1),
      // no row near the query passes: the first-ranked cells yield nothing
      ("l2 filter empties nearest cells", l2, l2Bound, Some(col("embedding")(0) < 0.6), 20, 2),
      ("l1", l1, l1Bound, None, 5, 1),
      ("l1 filter empties nearest cells", l1, l1Bound, Some(col("embedding")(0) < 0.6), 2, 3))
    for ((name, dist, bound, pred, k, minRounds) <- cases; cache <- Seq(None, Some(counts))) {
      val brute = Knn.bruteForce(db, dist, k, pred = pred).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val (pruned, jobs) = org.apache.spark.JobInputRows.of(spark.sparkContext) {
        Knn.prunedSearch(idx, cfg, q, k, pred = pred, cellBound = bound,
          distExpr = Some(dist), cellCountsCache = cache, bruteForceThreshold = 0L)
      }
      assert(pruned.map(n => (n.vec_id, n.dist)) == brute, s"$name k=$k cached=${cache.isDefined}")
      // with cached stats every job is one widening round
      if (cache.isDefined) assert(jobs.size >= minRounds, s"$name widened ${jobs.size} rounds")
    }
  }

  test("widening merge orders (dist, vec_id) as Spark's sort does: NaN last, -0.0 == 0.0") {
    import spark.implicits._
    val a = Seq(Knn.Neighbor(4, 0, 0.0), Knn.Neighbor(9, 0, 1.5), Knn.Neighbor(2, 0, Double.NaN),
      Knn.Neighbor(5, 0, -0.0))
    val b = Seq(Knn.Neighbor(3, 0, -0.0), Knn.Neighbor(1, 0, 1.5), Knn.Neighbor(0, 0, Double.NaN),
      Knn.Neighbor(7, 0, Double.PositiveInfinity))
    for (k <- 1 to 9) {
      val bySpark = (a ++ b).toDS().orderBy(col("dist").asc, col("vec_id").asc).limit(k)
        .collect().map(_.vec_id).toSeq
      for ((x, y) <- Seq((a, b), (b, a))) {
        assert(Knn.mergeTopK(x, y, k).map(_.vec_id) == bySpark, s"k=$k")
        // the aggregators rank the same entries, arriving in the same order
        for (parts <- Seq(1, 2)) {
          val cands = spark.sparkContext.parallelize((x ++ y).map(n => (0L, n.vec_id, n.dist)), parts)
            .toDF("query_id", "vec_id", "dist")
          for ((form, df) <- Seq("topK" -> KnnTopK.topK(cands, k),
              "topKDedup" -> KnnTopK.topKDedup(cands, k)))
            assert(df.orderBy("rn").collect().map(_.getLong(1)).toSeq == bySpark,
              s"$form k=$k parts=$parts")
        }
      }
    }
  }

  test("kNN on empty DB returns empty (tests:70-77)") {
    val empty = indexed.filter(lit(false))
    val res = Knn.prunedSearch(empty, SparkEntry.gridCfg, Q64, 5)
    assert(res.isEmpty)
  }

  test("k larger than row count returns all rows") {
    val five = Grid.withCellId(emb.limit(5), "embedding", SparkEntry.gridCfg)
    val res = Knn.prunedSearch(five, SparkEntry.gridCfg, Q64, 100)
    assert(res.size === 5)
  }

  test("index invariant: sum of per-cell counts equals total (tests:20-28)") {
    val total = emb.count()
    val byCell = indexed.groupBy("cell_id").count().agg(sum("count")).collect()(0).getLong(0)
    assert(byCell === total)
  }

  test("pruned radius search equals brute radius at several radii, with and without filter") {
    val cfg = SparkEntry.gridCfg
    for (r <- Seq(0.5, 1.3, 1.6, 3.0); pred <- Seq(None, Some(col("label") === 3))) {
      val brute = Knn.radiusSearch(emb,
          Distances.squaredL2Lit(col("embedding"), Q64), r, pred = pred)
        .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
      val pruned = Knn.prunedRadius(indexed, cfg, Q64, r, pred = pred)
        .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
      assert(pruned === brute, s"r=$r pred=$pred")
    }
  }

  test("radius search on empty DB returns empty") {
    val empty = indexed.filter(lit(false))
    assert(Knn.prunedRadius(empty, SparkEntry.gridCfg, Q64, 2.0).count() === 0)
  }
}
