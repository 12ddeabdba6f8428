package graft

import graft.core.Fixtures
import graft.index.{Grid, GridConfig}
import graft.operators.KnnCellJoin
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.functions._

class KnnCellJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(99)

  test("cell-pruned batch kNN join equals the broadcast-cross join on the fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cfg = SparkEntry.gridCfg
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaCells = KnnCellJoin.join(queries, Grid.withCellId(emb, "embedding", cfg), cfg, k = 4,
        bruteForceThreshold = 0)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaCross = KnnJoinPlan.join(queries, emb, k = 4)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaCells.toSeq == viaCross.toSeq)
  }

  test("NaN-component query terminates via the brute-force escape; null/short query embeddings throw") {
    val cfg = GridConfig(dim = 2, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)
    val db = (0L until 10L).map(i => (i, Array(i.toFloat / 10f, i.toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val indexed = Grid.withCellId(db, "embedding", cfg)

    // NaN comparisons are all false, so neither certification nor coversAll
    // can ever fire — pre-fix this looped forever (ADVICE r1, medium).
    val nanQ = Seq((100L, Array(Float.NaN, 0.2f)), (101L, Array(0.5f, 0.5f)))
      .toDF("query_id", "embedding")
    val out = KnnCellJoin.join(nanQ, indexed, cfg, k = 3, bruteForceThreshold = 0)
      .orderBy("query_id", "rn").collect()
    assert(out.count(_.getLong(0) == 100L) == 3) // NaN query still yields k rows
    assert(out.count(_.getLong(0) == 101L) == 3)
    // the finite query must be exact
    val expect = db.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .map { case (id, v) =>
        val d0 = v(0).toDouble - 0.5; val d1 = v(1).toDouble - 0.5
        (id, d0 * d0 + d1 * d1)
      }.sortBy(x => (x._2, x._1)).take(3).map(_._1).toSeq
    assert(out.filter(_.getLong(0) == 101L).map(_.getLong(1)).toSeq == expect)

    val badQ = Seq((200L, Array(0.1f))).toDF("query_id", "embedding")
    intercept[Exception] {
      KnnCellJoin.join(badQ, indexed, cfg, k = 2, bruteForceThreshold = 0).collect()
    }
  }

  test("QUANTILE-grid batch kNN join equals the broadcast-cross join on the fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qc = graft.index.QuantileGrid.calibrate(emb, "embedding",
      partsPerDim = 4, gridDims = 3, dim = Fixtures.Dim)
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaCells = KnnCellJoin.join(queries,
        Grid.withCellId(emb, "embedding", qc), qc, k = 4,
        bruteForceThreshold = 0)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaCross = KnnJoinPlan.join(queries, emb, k = 4)
      .orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaCells.toSeq == viaCross.toSeq)
  }

  test("QUANTILE-grid join is exact on random SKEWED data + random boundary tables (5 trials)") {
    for (trial <- 1 to 5) {
      val dim = 2 + rnd.nextInt(3)
      val gridDims = 1 + rnd.nextInt(dim)
      // skewed coordinates (exp-ish tail) — the regime the quantile grid
      // exists for; boundaries random ascending, NOT the data's quantiles
      // (admissibility must never depend on where the edges sit)
      val bs = (0 until gridDims).map { _ =>
        val nb = 1 + rnd.nextInt(4)
        Seq.fill(nb)(rnd.nextDouble() * 2.0 - 1.0).sorted
      }
      val qc = graft.index.QuantileGridConfig(dim, bs)
      val n = 1 + rnd.nextInt(40)
      val db = (0L until n.toLong).map { i =>
        (i, Array.fill(dim)((math.pow(rnd.nextDouble(), 3) * 2.4 - 0.6).toFloat))
      }.toDF("vec_id", "embedding")
      val k = 1 + rnd.nextInt(n + 3) // may exceed |db|
      val queries = (100L until 104L).map(i =>
        (i, Array.fill(dim)((rnd.nextDouble() * 4.0 - 2.0).toFloat))) // often OOB
        .toDF("query_id", "embedding")
      val viaCells = KnnCellJoin.join(queries,
          Grid.withCellId(db, "embedding", qc), qc, k,
          bruteForceThreshold = 0)
        .orderBy("query_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaCross = KnnJoinPlan.join(queries, db, k)
        .orderBy("query_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(viaCells == viaCross, s"trial $trial qc=$qc n=$n k=$k")
    }
  }

  test("cell-pruned join is exact on random data incl. out-of-bounds queries and k > |db| (5 trials)") {
    for (trial <- 1 to 5) {
      val dim = 2 + rnd.nextInt(3)
      val cfg = GridConfig(dim = dim, lower = -1.0, upper = 1.0,
        partsPerDim = 2 + rnd.nextInt(3), gridDims = 1 + rnd.nextInt(dim))
      val n = 1 + rnd.nextInt(40)
      val db = (0L until n.toLong).map(i =>
        (i, Array.fill(dim)((rnd.nextDouble() * 2.4 - 1.2).toFloat)))
        .toDF("vec_id", "embedding")
      val k = 1 + rnd.nextInt(n + 3) // may exceed |db|
      val queries = (100L until 104L).map(i =>
        (i, Array.fill(dim)((rnd.nextDouble() * 4.0 - 2.0).toFloat))) // often OOB
        .toDF("query_id", "embedding")
      val viaCells = KnnCellJoin.join(queries,
          Grid.withCellId(db, "embedding", cfg), cfg, k, bruteForceThreshold = 0)
        .orderBy("query_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaCross = KnnJoinPlan.join(queries, db, k)
        .orderBy("query_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(viaCells == viaCross, s"trial $trial cfg=$cfg n=$n k=$k")
    }
  }
}
