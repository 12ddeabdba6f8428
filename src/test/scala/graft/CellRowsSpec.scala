package graft

import graft.api._
import graft.index.GridConfig
import org.apache.spark.JobInputRows
import graft.operators.{CellRows, Knn}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** A custom metric with no closed-form bound (bound 0): Σ |v_i − q_i|
  * through Spark's higher-order functions; a short vector or a null
  * element gives a null. */
private object SumAbs extends Metric {
  def dist(v: Column, q: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(q), (a, b) => abs(a - b)), lit(0.0), _ + _)
}

/** The facade's kNN rounds on a snapshot's row cache ([[CellRows]]) against
  * `Knn.bruteForce` over the same state and the Dataset rounds
  * (`Knn.prunedSearch` with the stats and no cache), bit for bit, on a
  * store and queries built from the inputs the reference allows but the
  * fixtures rarely show. */
class CellRowsSpec extends SparkSpecBase {

  private val Dim = 4
  private val cfg = GridConfig(dim = Dim, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 2)

  /** 60 seeded rows; ids 60-63 at row 7's position, so five rows tie at
    * every distance from any query; then one row per awkward input, all
    * of them in the ungridded dims 2 and 3 so every cell_id is defined. */
  private lazy val vecs: Seq[Seq[java.lang.Float]] = {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(60)(Seq.fill(Dim)(Float.box(rnd.nextFloat() * 2f - 1f)))
    def f(xs: Float*): Seq[java.lang.Float] = xs.map(Float.box)
    base ++ Seq.fill(4)(base(7)) ++ Seq(
      Seq[java.lang.Float](0.1f, 0.2f, null, 0.3f), // 64: a null element
      f(0.1f, 0.2f, 0.3f), // 65: a short vector
      f(0.5f, 0.5f, Float.NaN, 0.5f), // 66
      f(0.2f, -0.2f, Float.PositiveInfinity, 0f), // 67
      f(-0.2f, 0.2f, 0f, Float.NegativeInfinity), // 68
      f(-0.0f, 0.25f, 0.0f, 0.5f), // 69 and 70: −0.0 and 0.0 swapped
      f(0.0f, 0.25f, -0.0f, 0.5f))
  }

  /** `label` is id % 3; `tag`, the nullable column, is null on every
    * fourth row. Shuffled over three partitions, so no cell arrives in id
    * order. */
  private def store(n: Int): VectorDatabase = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType, nullable = false), StructField("tag", IntegerType)))
    val rows = vecs.take(n).zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v, i % 3, if (i % 4 == 0) null else i % 7)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
    VectorDatabase.fromDataFrame(spark, df, cfg, validate = false)
  }
  private lazy val db = store(vecs.size)
  private lazy val rows = CellRows(db.state, Knn.cellStats(_, cfg)).get
  private lazy val stats = rows.stats

  private val metrics: Seq[Metric] = Seq(SquaredL2, L1, LInf,
    MahalanobisDiag(Array(1.0, 2.0, 0.5, 1.5)),
    MahalanobisFull(Array(2.0, 0.3, 0.0, 0.1, 0.3, 1.5, 0.2, 0.0,
      0.0, 0.2, 1.0, 0.1, 0.1, 0.0, 0.1, 0.8), Dim),
    SumAbs)
  private lazy val filters: Seq[(String, Option[Column])] = Seq(
    "none" -> None,
    "label" -> Some(col("label") === 1),
    "null on some rows" -> Some(col("tag") > 2),
    "udf" -> Some(udf((l: Int) => l != 2).apply(col("label"))),
    "removes every row" -> Some(col("label") === 99))
  private lazy val queries: Seq[(String, Array[Double])] = Seq(
    "on the five tied rows" -> vecs(7).map(_.toDouble).toArray,
    "signed zeros" -> Array(0.0, 0.25, -0.0, 0.5),
    "NaN" -> Array(0.3, -0.3, Double.NaN, 0.2),
    "-Inf" -> Array(0.3, -0.3, 0.1, Double.NegativeInfinity))

  private def bits(ns: Seq[Knn.Neighbor]): Seq[(Long, Int, Long)] =
    ns.map(n => (n.vec_id, n.label, java.lang.Double.doubleToLongBits(n.dist)))
  private def bound(m: Metric, q: Array[Double]): Long => Double =
    Knn.cellBound(m.cellBound(q, _, cfg), m.boxBound(q, _, _), Some(stats))
  /** `Knn.bruteForce`'s top-k, the rows whose distance is null dropped. */
  private def brute(dist: Column, k: Int, pred: Option[Column]): Seq[(Long, Int, Long)] =
    Knn.bruteForce(db.state, dist, k, pred).collect().toSeq.filterNot(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getInt(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))

  test("the cached rounds equal brute force and the Dataset rounds, bit for bit") {
    val cases = for {
      m <- metrics; (fName, pred) <- filters; (qName, q) <- queries
      k <- if (pred.isEmpty) Seq(3, 100) else Seq(3) // 100 > the 71 rows
    } yield (m, fName, pred, qName, q, k)
    for ((m, fName, pred, qName, q, k) <- cases) {
      val clue = s"${m.getClass.getSimpleName} filter=$fName query=$qName k=$k"
      val dist = m.dist(col("embedding"), q)
      assert(rows.scan(dist, k, pred).isDefined, clue) // the cache answers, no fallback
      val want = brute(dist, k, pred)
      for (threshold <- Seq(0L, 200000L)) {
        assert(bits(Knn.cachedSearch(rows, dist, k, bound(m, q), pred, threshold)) == want,
          s"$clue threshold=$threshold")
        assert(bits(Knn.prunedSearch(db.state, dist, k, bound(m, q), pred, Some(stats),
          threshold)) == want, s"$clue threshold=$threshold (Dataset rounds)")
      }
      assert(bits(db.findKNearestNeighbors(q, k, pred, Some(m))) == want, s"$clue (facade)")
    }
    // the five tied rows fill k = 3 by id; the signed zeros tie at 0.0 by id
    val ties = bits(db.findKNearestNeighbors(queries.head._2, 3)).map(_._1)
    assert(ties == Seq(7L, 60L, 61L))
    assert(bits(db.findKNearestNeighbors(queries(1)._2, 2)).map(_._1) == Seq(69L, 70L))
    // the null element and the short vector stay out of a full answer; the
    // NaN distance ranks after the two infinite ones
    val all = db.findKNearestNeighbors(queries.head._2, 100)
    assert(all.size == 69 && !all.exists(n => n.vec_id == 64L || n.vec_id == 65L))
    assert(all.last.vec_id == 66L && all.last.dist.isNaN)
  }

  test("an empty store answers empty") {
    val empty = store(0)
    assert(empty.findKNearestNeighbors(Array(0.0, 0.0, 0.0, 0.0), 5).isEmpty)
    val none = CellRows(empty.state, Knn.cellStats(_, cfg)).get
    for (threshold <- Seq(0L, 200000L))
      assert(Knn.cachedSearch(none, SquaredL2.dist(col("embedding"), Array.fill(Dim)(0.0)), 5,
        _ => 0.0, None, threshold).isEmpty)
  }

  test("a warm kNN runs no SQL query and one job per round") {
    val sc = spark.sparkContext
    val sqlRuns = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = sqlRuns.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = sqlRuns.incrementAndGet()
    }
    /** The value of `body`, its jobs, and the SQL queries it ran. */
    def measured[T](body: => T): (T, Int, Int) = {
      val before = sqlRuns.get
      val (out, jobs) = JobInputRows.of(sc)(body)
      (out, jobs.size, sqlRuns.get - before)
    }
    // NaN: no bound is above a NaN kth distance, so every cell is read
    val (q, pred) = (queries(2)._2, Some(col("tag") > 2))
    val dist = SquaredL2.dist(col("embedding"), q)
    db.findKNearestNeighbors(q, 3, pred) // builds the snapshot's stats and cache
    spark.listenerManager.register(listener)
    try {
      val (warm, warmJobs, warmSql) = measured(db.findKNearestNeighbors(q, 3, pred))
      assert(warmSql == 0 && warmJobs == 1, s"$warmJobs jobs, $warmSql SQL queries")
      val (cached, jobs, sql) = measured(Knn.cachedSearch(rows, dist, 3, bound(SquaredL2, q), pred, 0L))
      val (viaDs, _, rounds) = measured(
        Knn.prunedSearch(db.state, dist, 3, bound(SquaredL2, q), pred, Some(stats), 0L))
      assert(rounds >= 2, s"$rounds Dataset rounds")
      assert(sql == 0 && jobs == rounds, s"$jobs jobs, $sql SQL queries")
      assert(bits(cached) == bits(viaDs) && bits(warm) == bits(viaDs))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a filter holding a scalar subquery runs the Dataset rounds: same answer") {
    val q = queries.head._2
    val dist = L1.dist(col("embedding"), q)
    val sub = col("label") === spark.range(1).select(lit(1)).scalar()
    assert(rows.scan(dist, 3, Some(sub)).isEmpty)
    for (threshold <- Seq(0L, 200000L))
      assert(bits(Knn.cachedSearch(rows, dist, 3, bound(L1, q), Some(sub), threshold)) ==
        brute(dist, 3, Some(col("label") === 1)))
    assert(bits(db.findKNearestNeighbors(q, 3, Some(sub), Some(L1))) == brute(dist, 3, Some(sub)))
  }
}
