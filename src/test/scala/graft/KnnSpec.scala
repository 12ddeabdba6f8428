package graft

import graft.core.{Fixtures, Tables}
import graft.functions.Distances
import graft.index.{Grid, GridConfig, GridGeometry}
import graft.operators.Knn
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
    // pager, exercised end to end with NO stats cache
    val cfg = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 30, gridDims = 2)
    val rnd = new scala.util.Random(31)
    val db = (0L until 2000L).map { i =>
      (i, Array(math.pow(rnd.nextDouble(), 2).toFloat, rnd.nextFloat()), rnd.nextInt(5))
    }.toDF("vec_id", "embedding", "label")
    val idx = Grid.withCellId(db, "embedding", cfg)
    val q = Array(0.98, 0.97)
    val dist = Distances.squaredL2Lit(col("embedding"), q)
    for (k <- Seq(50, 400)) {
      val brute = Knn.bruteForce(db, dist, k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val pruned = Knn.prunedSearch(idx, cfg, q, k, bruteForceThreshold = 0L)
        .map(n => (n.vec_id, n.dist))
      assert(pruned == brute, s"k=$k")
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
