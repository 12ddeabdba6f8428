package graft

import graft.api.VectorDatabase
import graft.core.Fixtures
import graft.index.{Grid, GridConfig}
import graft.functions.Distances
import graft.api.SquaredL2
import graft.operators.{Knn, KnnCellJoin, KnnTopK}
import graft.plans.{KnnJoinExec, KnnJoinPlan}
import graft.queries.Shared
import org.apache.spark.JobInputRows
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class KnnCellJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(99)

  test("cell-pruned batch kNN join equals the broadcast-cross join on the fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cfg = Shared.gridCfg
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

  test("NaN-component query terminates when its cells run out; null/short query embeddings throw") {
    val cfg = GridConfig(dim = 2, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)
    val db = (0L until 10L).map(i => (i, Array(i.toFloat / 10f, i.toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val indexed = Grid.withCellId(db, "embedding", cfg)

    // NaN comparisons are all false, so the stop rule never fires: the NaN
    // query widens until its cells run out.
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
    // every bound of the NaN query is NaN, so no cell is cut: its rows (NaN
    // distances, by id) are the brute join's
    def bits(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
    assert(bits(out.toSeq) == bits(KnnJoinPlan.join(nanQ, db, 3).orderBy("query_id", "rn").collect().toSeq))

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

  /** A repeated query id: both rows' neighbours merge into one top-k. */
  private def extraQueries(dim: Int): Seq[(Long, Array[Float])] =
    Seq((100L, Array.fill(dim)(0.25f)))

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
      val queries = ((100L until 104L).map(i =>
        (i, Array.fill(dim)((rnd.nextDouble() * 4.0 - 2.0).toFloat))) ++ // often OOB
        extraQueries(dim)).toDF("query_id", "embedding")
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
      val queries = ((100L until 104L).map(i =>
        (i, Array.fill(dim)((rnd.nextDouble() * 4.0 - 2.0).toFloat))) ++ // often OOB
        extraQueries(dim)).toDF("query_id", "embedding")
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

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.orderBy("query_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

  test("a stored row whose distance is null is never returned: the cell join equals the brute join") {
    val cfg = GridConfig(dim = 3, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)
    // vec 10 sits in the query's cell with a null in the ungridded dim 2, so
    // its cell_id is defined and its distance is null
    val rows = (0L until 10L).map(i => (i, Seq[java.lang.Float](i / 10f, i / 10f, 0.5f))) :+
      ((10L, Seq[java.lang.Float](0.45f, 0.45f, null)))
    val db = rows.toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(0.45f, 0.45f, 0.5f))).toDF("query_id", "embedding")
    def viaCells(k: Int) = sorted(KnnCellJoin.join(queries, Grid.withCellId(db, "embedding", cfg),
      cfg, k, bruteForceThreshold = 0))
    assert(viaCells(3) == sorted(KnnJoinPlan.join(queries, db, 3)))
    // at k = 11 every join returns the 10 defined rows, Knn.bruteForce's
    // top-k, with the same distances
    val all = viaCells(11)
    assert(all.map(_._2).sorted == (0L until 10L) && all.map(_._4) == (1 to 10))
    val byExec = sorted(KnnJoinPlan.join(queries, db, 11))
    val brute = Knn.bruteForce(db.withColumn("label", lit(0)),
      Distances.squaredL2Lit(col("embedding"), Array(0.45f, 0.45f, 0.5f).map(_.toDouble)), 11)
      .collect().filterNot(_.isNullAt(2)).map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(byExec.map(r => (r._2, r._3)) == brute && byExec == all)
    // the aggregator drops it; no filter re-evaluates the kernel
    val cands = crossCands(queries, db, 3)
    val plan = KnnTopK.topK(cands, 3).queryExecution.optimizedPlan.toString
    assert("vec_sql2_cols".r.findAllMatchIn(plan).size == 1, plan)
    assert(KnnTopK.topKDedup(cands, 11).collect().length == 10)
  }

  test("the cell join prunes by the cells' data boxes in the ungridded dims") {
    // a saved cell-partitioned store of two grid-adjacent clusters that differ
    // only in the ungridded dims: `near` lies just below the dim-0 face at 0
    // with dims 3..7 in [0, 0.01), `far` just above it with dims 3..7 in
    // [0.9, 0.91). The far cell's grid bound is the 0.001 face gap alone,
    // below the kth distance; its box bound is over 4.
    val n = 300L
    val cfg = GridConfig(dim = 8, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 3)
    def u(d: Int) = pmod(xxhash64(col("id"), lit(d)), lit(1000000L)).cast("double") / 1e6
    def part(near: org.apache.spark.sql.Column, far: org.apache.spark.sql.Column) =
      when(col("id") < n, near).otherwise(far)
    val emb = Seq(part(u(0) * -0.0199 - 0.0001, u(0) * 0.0199 + 0.0001)) ++
      (1 to 2).map(d => u(d) * 0.01 + 0.3) ++
      (3 until 8).map(d => part(u(d) * 0.01, u(d) * 0.01 + 0.9))
    val df = spark.range(0, 2 * n).select(col("id").as("vec_id"),
      array(emb: _*).cast("array<float>").as("embedding"), lit(0).as("label"))
    val path = java.nio.file.Files.createTempDirectory("graftcellfaces").toString + "/store"
    VectorDatabase.fromDataFrame(spark, df, cfg).save(path)
    val store = VectorDatabase.load(spark, path, cfg).state
    val queries = Seq((1L, Array(-0.001f, 0.305f, 0.305f, 0.005f, 0.005f, 0.005f, 0.005f, 0.005f)))
      .toDF("query_id", "embedding")
    val (viaCells, jobs) = JobInputRows.of(spark.sparkContext) {
      sorted(KnnCellJoin.join(queries, store, cfg, k = 10, bruteForceThreshold = 0))
    }
    assert(viaCells == sorted(KnnJoinPlan.join(queries, store, k = 10)))
    // the stats job reads the whole store; every scan round after it reads
    // the near cell alone
    val stats = jobs.indexOf(2 * n)
    assert(stats >= 0 && jobs.drop(stats + 1).sum == n, s"rows read per job: $jobs")
  }

  test("ties at the seed's kth distance across a seed cell and a later cell, and k > |db|") {
    // 4x4 cells of width 0.5; the query sits in cell A = [0, 0.5)^2 with one
    // row on it and 15 duplicate rows at squared distance 0.0625, so with
    // k = 2 the seed is A alone (16 = 8k rows) and τ = 0.0625. One row of
    // the next cell B = [-0.5, 0) x [0, 0.5) ties at exactly τ (dyadic
    // coordinates, so the distances are exact): its box bound is τ, so the
    // pruned pass admits B, and the tie breaks on id, either way round.
    val cfg = GridConfig(dim = 2, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)
    val queries = Seq((1L, Array(0.125f, 0.125f))).toDF("query_id", "embedding")
    val seedRows = (1L -> Array(0.125f, 0.125f)) +: (10L until 25L).map(_ -> Array(0.375f, 0.125f))
    val far = Seq(30L -> Array(0.875f, -0.875f), 31L -> Array(-0.875f, -0.625f))
    for ((tieId, tieFirst) <- Seq((0L, true), (99L, false), (0L, false), (99L, true))) {
      val tie = Seq(tieId -> Array(-0.125f, 0.125f))
      val db = (if (tieFirst) tie ++ seedRows ++ far else seedRows ++ far ++ tie)
        .toDF("vec_id", "embedding")
      for (k <- Seq(2, 3, 40)) {
        val viaCells = sorted(KnnCellJoin.join(queries, Grid.withCellId(db, "embedding", cfg), cfg,
          k, bruteForceThreshold = 0))
        assert(viaCells == sorted(KnnJoinPlan.join(queries, db, k)), s"tie $tieId k $k")
        if (k == 2) assert(viaCells.map(_._2) == Seq(1L, if (tieId == 0L) 0L else 10L))
        if (k == 40) assert(viaCells.size == db.count())
      }
    }
  }

  test("a store the widening loop needs >= 3 rounds for runs the stats job and <= 2 execs") {
    // 96 rows on a circle of radius 0.9 around the query: the ring cells'
    // bounds sit below the kth distance, so a round-by-round widening keeps
    // doubling its prefix; the replay below counts its rounds.
    val cfg = GridConfig(dim = 2, lower = -1.0, upper = 1.0, partsPerDim = 8, gridDims = 2)
    val db = (0L until 96L).map { i =>
      val a = 2 * math.Pi * i / 96
      (i, Array((0.9 * math.cos(a)).toFloat, (0.9 * math.sin(a)).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(0f, 0f)), (2L, Array(0.05f, -0.05f))).toDF("query_id", "embedding")
    val indexed = Grid.withCellId(db, "embedding", cfg)
    val stats = Knn.cellStats(indexed, cfg).get
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (viaCells, _) = try JobInputRows.of(spark.sparkContext) {
      sorted(KnnCellJoin.join(queries, indexed, cfg, k = 1, bruteForceThreshold = 0))
    } finally spark.listenerManager.unregister(listener)
    assert(viaCells == sorted(KnnJoinPlan.join(queries, db, 1)))
    // the loop's rounds on the query at the centre: each round ends at
    // Knn.roundEnd, and it goes on while Knn.stops does not fire
    val ranked = Knn.rank(stats, Knn.cellBound(SquaredL2.cellBound(Array(0.0, 0.0), _, cfg),
      SquaredL2.boxBound(Array(0.0, 0.0), _, _), Some(stats)))
    val kth = viaCells.head._3
    val rounds = Iterator.iterate(0L)(Knn.roundEnd(_, ranked.length, 1, j => ranked(j.toInt)._3))
      .drop(1).indexWhere(e => Knn.stops(e, ranked.length, j => ranked(j.toInt)._2, 1, 1, kth)) + 1
    assert(rounds >= 3, s"$rounds rounds")
    val walk = new AdaptiveSparkPlanHelper {}
    val all = plans.asScala.toSeq
    val execs = all.count(p => walk.collect(p) { case e: KnnJoinExec => e }.nonEmpty)
    val aggs = all.flatMap(p => walk.collect(p) { case a: ObjectHashAggregateExec => a })
    assert(execs >= 1 && execs <= 2, s"$execs KnnJoinExec executions")
    // the one ObjectHashAggregate is the stats job's data-box aggregate
    assert(aggs.nonEmpty && aggs.forall(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[graft.functions.VecBox])), aggs.mkString("\n"))
  }

  test("a stored vector of another length fails in both joins with the exec's error") {
    val cfg = GridConfig(dim = 3, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)
    val queries = Seq((1L, Array(0.45f, 0.45f, 0.5f))).toDF("query_id", "embedding")
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    for (bad <- Seq(Array(0.45f, 0.45f), Array(0.45f, 0.45f, 0.5f, 0.5f))) {
      // vec 10 sits in the query's cell, so every join reads it
      val db = ((0L until 10L).map(i => (i, Array(i / 10f, i / 10f, 0.5f))) :+ (10L -> bad))
        .toDF("vec_id", "embedding")
      for (run <- Seq[() => Any](
          () => KnnCellJoin.join(queries, Grid.withCellId(db, "embedding", cfg), cfg, 3,
            bruteForceThreshold = 0).collect(),
          () => KnnJoinPlan.join(queries, db, 3).collect())) {
        val ex = intercept[Exception](run())
        assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(s"KnnJoinExec: data vector id=10 has dim ${bad.length}")), ex)
      }
    }
  }
}
