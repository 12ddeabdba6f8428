package graft

import graft.operators.{Ann, GraphAnn}
import org.apache.spark.sql.functions._

/** Graph-based ANN (NSW family): exact-graph build vs an in-memory
  * reference, beam-search invariants (monotone beam improvement, exact
  * top-k when the beam covers the corpus), and the IVF-bucketed build's
  * subset relation to the exact graph. No reference-file analog (the
  * reference's index is an exact kd-tree); this is a brief north-star
  * similarity-search scale path.
  */
class GraphAnnSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = 4
  /** 3 well-separated clusters of 5 + 2 bridge points — small enough to
    * reason about, clustered enough that graph navigation matters. */
  private def pts: Seq[(Long, Array[Float])] = {
    def cl(base: Array[Float], start: Long) =
      (0 until 5).map(i => (start + i,
        base.zipWithIndex.map { case (b, j) => b + 0.01f * i * (j + 1) }))
    cl(Array(0f, 0f, 0f, 0f), 0L) ++
      cl(Array(5f, 5f, 0f, 0f), 10L) ++
      cl(Array(0f, 0f, 5f, 5f), 20L) ++
      Seq((30L, Array(2.5f, 2.5f, 0f, 0f)), (31L, Array(0f, 0f, 2.5f, 2.5f)))
  }
  private def db = pts.toDF("vec_id", "embedding")

  private def sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  test("knnGraph matches the in-memory exact top-m neighbor list") {
    val m = 3
    val got = GraphAnn.knnGraph(db, m, dim)
      .select("src", "dst", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    for ((id, v) <- pts) {
      val expect = pts.filter(_._1 != id)
        .map { case (o, w) => (o, sq(v, w)) }
        .sortBy { case (o, d) => (d, o) }.take(m).map(_._1)
      val gotRow = (1 to m).map(rn => got((id, rn)))
      assert(gotRow == expect, s"node $id")
    }
  }

  test("beam search returns the exact top-k when the beam covers the corpus") {
    val n = pts.size
    val graph = GraphAnn.knnGraph(db, m = 4, dim)
    val q = Array(0.1, 0.1, 0.1, 0.1)
    val got = GraphAnn.searchLit(graph, db, q, k = 5, beam = n, hops = n, nEntry = 2)
      .select("vec_id").as[Long].collect().toSeq
    val qf = q.map(_.toFloat)
    val expect = pts.map { case (id, v) => (id, sq(v, qf)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(got == expect)
  }

  test("beam search distances never regress as hops increase (beam is monotone)") {
    // m = 6: the bridge node's top-3 all point into cluster 1 (marginally
    // nearer), so the m=3 graph is not navigable even undirected; at m=6
    // the exact 12.5-distance tie between cluster interiors breaks by id
    // and the bridge gains a cross-cluster edge
    val graph = GraphAnn.knnGraph(db, m = 6, dim)
    val q = Array(4.9, 4.9, 0.05, 0.05) // near cluster 2; entries sit in cluster 1
    def best(hops: Int): Double =
      GraphAnn.searchLit(graph, db, q, k = 1, beam = 4, hops = hops, nEntry = 2)
        .select("dist").as[Double].collect().head
    val series = (0 to 4).map(best)
    assert(series.zip(series.tail).forall { case (a, b) => b <= a },
      s"best-dist series must be non-increasing: $series")
    // with enough hops the walk crosses the bridge point into the right
    // cluster — the literal point a hop-0 entry beam cannot see
    assert(best(4) < 0.1, "must navigate to the true cluster")
  }

  test("batch searchJoin agrees with per-query searchLit") {
    val graph = GraphAnn.knnGraph(db, m = 3, dim)
    val queries = Seq((0L, Array(5.0f, 5.0f, 0.1f, 0.1f)),
      (1L, Array(0.1f, 0.1f, 4.8f, 4.8f)))
      .toDF("query_id", "embedding")
    val batch = GraphAnn.searchJoin(graph, db, queries, k = 3,
        beam = 6, hops = 4, nEntry = 2, dim = dim)
      .select("query_id", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    for ((qid, qv) <- Seq((0L, Array(5.0, 5.0, 0.1, 0.1)), (1L, Array(0.1, 0.1, 4.8, 4.8)))) {
      val single = GraphAnn.searchLit(graph, db, qv, k = 3, beam = 6, hops = 4, nEntry = 2)
        .select("vec_id").as[Long].collect().toSeq
      assert((1 to 3).map(rn => batch((qid, rn))) == single, s"query $qid")
    }
  }

  test("knnGraphIvf edges are a subset of candidates sharing a probed cell; full probe = exact graph") {
    val cents = Array(Array(0.0, 0.0, 0.0, 0.0), Array(5.0, 5.0, 0.0, 0.0),
      Array(0.0, 0.0, 5.0, 5.0))
    val assigned = Ann.assign(db, cents)
    // nprobe = all cells → candidate set is the whole corpus → exact graph
    val full = GraphAnn.knnGraphIvf(assigned, cents, m = 3, nprobe = 3, dim = dim)
      .select("src", "dst", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val exact = GraphAnn.knnGraph(db, m = 3, dim)
      .select("src", "dst", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(full == exact)
    // nprobe = 1: every edge endpoint pair must share the src's own cell
    val pruned = GraphAnn.knnGraphIvf(assigned, cents, m = 3, nprobe = 1, dim = dim)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cellOf = assigned.select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pruned.nonEmpty)
    pruned.foreach { case (s, d) =>
      assert(cellOf(s) == cellOf(d), s"edge $s->$d must stay in the probed cell")
    }
  }

  test("searchJoin recall against exact KnnJoin is 1.0 on the clustered fixture") {
    val graph = GraphAnn.knnGraph(db, m = 6, dim)
    val queries = db.select(col("vec_id").as("query_id"), col("embedding"))
    val approx = GraphAnn.searchJoin(graph, db, queries, k = 3,
        beam = 8, hops = 5, nEntry = 2, dim = dim)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.plans.KnnJoinPlan.join(queries, db, 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == exact)
  }

  test("driver fast path is bit-identical to the forced-distributed loop") {
    // driverEdgeThreshold = 0 forces the superstep loop; the default takes
    // the driver path on this tiny graph — (vec_id, dist, rn) must agree
    // exactly (same left-assoc double arithmetic, same (dist, id) order)
    val graph = GraphAnn.knnGraph(db, m = 5, dim)
    val q = Array(2.0, 2.0, 0.3, 0.3)
    val lit = GraphAnn.searchLit(graph, db, q, k = 5, beam = 6, hops = 3, nEntry = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val litDist = GraphAnn.searchLit(graph, db, q, k = 5, beam = 6, hops = 3,
        nEntry = 2, driverEdgeThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(lit == litDist)
    val queries = db.limit(4).select(col("vec_id").as("query_id"), col("embedding"))
    def runJoin(thr: Int) = GraphAnn.searchJoin(graph, db, queries, k = 4,
        beam = 6, hops = 3, nEntry = 2, dim = dim, driverEdgeThreshold = thr)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(runJoin(Int.MaxValue) == runJoin(0))
  }
}
