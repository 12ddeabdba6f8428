package graft.operators

import graft.functions.Distances
import graft.plans.KnnJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based approximate nearest neighbor — the NSW/HNSW family, the
  * most-deployed ANN index shape (Malkov & Yashunin, IEEE TPAMI 2020;
  * single-layer NSW here: the fixture corpora are flat enough that the
  * hierarchy adds nothing a fixed hop budget doesn't). Complements the
  * IVF/PQ/LSH/MIPS paths in [[Ann]]/[[Pq]]/[[Mips]].
  *
  * Two halves, both declarative DataFrame plans:
  *
  *  - GRAPH BUILD: each node's top-`m` neighbors by (squared-L2 ASC,
  *    id ASC). [[knnGraph]] is the exact |V|² build (correctness anchor,
  *    fixture scale); [[knnGraphIvf]] is the 100 TB path — candidates come
  *    only from each node's `nprobe` nearest IVF cells, so the pair count
  *    is Σ|cell|·|probers| instead of |V|² and the join co-partitions on
  *    the cell key (this is the standard bucketed construction; NN-descent
  *    refinement would start from exactly this graph).
  *
  *  - BEAM SEARCH: from a fixed entry set, repeatedly expand the current
  *    beam's out-edges, score the frontier against the query, and keep the
  *    best `beam` nodes — `hops` supersteps of joins. The beam is tiny
  *    (|queries|·beam rows) and is BROADCAST into the edge/corpus joins,
  *    so each hop scans the big tables but never shuffles them; per-hop
  *    `localCheckpoint` pins the materialized beam and stops the plan tree
  *    doubling per superstep (each hop references the previous beam twice:
  *    expansion + union). On a cluster the graph would be bucketed by
  *    `src` so the expansion join is a bucket-local probe.
  *
  * Everything is deterministic — exact arithmetic, total (dist, id)
  * orders, fixed entry rule (lowest `nEntry` vec_ids) — so the DuckDB
  * oracle replays build + all hops exactly and the results hash-check.
  * There is no reference counterpart (the reference's index is an exact
  * kd-tree, vectordb/kd_tree_database.py); this is a brief north-star
  * family ("similarity search: ... LSH-bucketed variant as the scale
  * path" — graphs are the third, most-used scale path).
  */
object GraphAnn {

  /** Exact k-NN graph: for every node, its `m` nearest OTHER nodes by
    * (squared L2 ASC, vec_id ASC). |V|² pairs — the correctness anchor;
    * use [[knnGraphIvf]] at scale. Output: (src, dst, dist, rn).
    *
    * Ranking runs through the bounded [[KnnTopK]] aggregator, not a
    * window: the window form shuffles and sorts all |V|² scored pairs on
    * `src`, while the aggregator's map-side partial top-m ships ≤ m rows
    * per (src, map partition) — measured 5.96 → 3.5 s at the 2000-node
    * 4M-pair gate, and the gap is the shuffle volume, so it widens with
    * |V|. Same (dist ASC, id ASC) total order, same rn. */
  def knnGraph(db: DataFrame, m: Int, dim: Int): DataFrame = {
    val qs = db.select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val cands = db.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Distances.squaredL2Cols(col("q_embedding"), col("embedding"), dim).as("dist"))
    KnnTopK.topK(cands, m)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("dist"), col("rn"))
  }

  /** Scale-path k-NN graph build: candidate pairs come only from each
    * node's `nprobe` nearest IVF cells over a trained codebook (the same
    * probe ranking as [[Ann.ivfJoin]]), so the build is a cell-key
    * equi-join — co-partitioned, never |V|². Neighbors missed because they
    * share no probed cell are exactly the recall the IVF dial controls;
    * `ann_graph_edges_ivf` vs `ann_graph_edges` makes that loss a measured
    * quantity. `assigned` is [[Ann.assign]] output (embedding + ivf_cell).
    * Output: (src, dst, dist, rn) with rn ranked within the probed
    * candidates. */
  def knnGraphIvf(assigned: DataFrame, cents: Array[Array[Double]],
      m: Int, nprobe: Int, dim: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val probeCells = ColumnBridge.column(graft.functions.VecArgTopNL2(
      ColumnBridge.expression(col("src_embedding")), cents, nprobe))
    val qs = assigned
      .select(col("vec_id").as("src"), col("embedding").as("src_embedding"))
      .withColumn("ivf_cell", explode(probeCells))
    val pairs = qs.join(assigned, Seq("ivf_cell"))
      .filter(col("vec_id") =!= col("src"))
      .withColumn("dist",
        Distances.squaredL2Cols(col("src_embedding"), col("embedding"), dim))
    // a (src, dst) pair can arrive via several shared probed cells with
    // the SAME dist (functionally determined) — the dedup-on-insert top-k
    // aggregator collapses them inside its ≤m buffers, saving the full
    // candidate-set groupBy exchange the old min-collapse paid (r17;
    // values pinned equal in GraphAnnSpec)
    KnnTopK.topKDedup(pairs.withColumnRenamed("src", "query_id"), m)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("dist"), col("rn"))
  }

  /** Search-time edge set: the k-NN graph SYMMETRIZED (out-edges plus
    * reversed in-edges). A directed k-NN graph is not navigable — a tight
    * cluster's members' top-m lists never point OUT of the cluster, so a
    * beam entering from elsewhere can be absorbed (GraphAnnSpec pins the
    * failure); NSW/HNSW links are undirected for exactly this reason.
    * Duplicate (src,dst) rows from mutual neighbors are fine — the hop
    * dedups candidates before scoring. */
  private def symmetrize(graph: DataFrame): DataFrame = {
    val e = graph.select(col("src"), col("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Above this edge count the beam search runs the distributed
    * superstep loop; at or below it the graph + vectors collect to the
    * driver and the hops run locally (the [[GraphOps]] driverThreshold
    * device: the beam state is tiny — |queries|·beam rows — and each
    * distributed hop pays ~4 scheduling rounds for microseconds of
    * arithmetic, so the fixture-scale queries spent seconds on stage
    * overhead). 1M edges ≈ 16 MB of longs + ≤ ~87k vectors at m=12 —
    * comfortable driver state; past it, the supersteps are the plan. */
  private val DriverEdgeThreshold = 1 << 20
  /** Driver path also requires a bounded query page. */
  private val DriverQueryThreshold = 65536

  private final case class LocalGraph(
      adj: Map[Long, Array[Long]], vecs: Map[Long, Array[Float]])

  /** Collect the (symmetrized) graph + corpus vectors when under the
    * driver budget; None ⇒ caller runs the distributed loop. */
  private def collectLocal(graph: DataFrame, db: DataFrame,
      threshold: Int): Option[LocalGraph] = {
    if (threshold <= 0) return None
    val lim = if (threshold == Int.MaxValue) Int.MaxValue else threshold + 1
    val e = graph.select(col("src"), col("dst")).limit(lim).collect()
    if (e.length > threshold) return None
    val adj = e.iterator
      .flatMap(r => Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toArray.groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
    val vecs = db.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Some(LocalGraph(adj, vecs))
  }

  /** Local mirror of one beam-search run: same left-assoc double
    * arithmetic as VecMetricLit/Cols (ascending-dimension s += d·d over
    * float-to-double casts), same (dist ASC, id ASC) total order, same
    * entry rule — bit-identical to the distributed loop (GraphAnnSpec
    * pins forced-distributed ≡ driver on the clustered fixture). */
  private def beamLocal(lg: LocalGraph, score: Array[Float] => Double,
      beam: Int, hops: Int, nEntry: Int): Seq[(Long, Double)] = {
    val entry = lg.vecs.keysIterator.toArray.sorted.take(nEntry)
    var bm: Map[Long, Double] = entry.iterator.map(id => id -> score(lg.vecs(id))).toMap
    for (_ <- 1 to hops) {
      val cand = bm.keysIterator
        .flatMap(id => lg.adj.getOrElse(id, Array.empty[Long])).toSet
      val merged = scala.collection.mutable.HashMap.empty[Long, Double]
      bm.foreach { case (id, d) => merged(id) = d }
      cand.foreach { id =>
        val d = score(lg.vecs(id))
        if (!merged.get(id).exists(_ <= d)) merged(id) = d
      }
      bm = byDist(merged.toSeq).take(beam).toMap
    }
    byDist(bm.toSeq)
  }

  private def byDist(xs: Seq[(Long, Double)]): Seq[(Long, Double)] =
    xs.sortWith { case ((i1, d1), (i2, d2)) => KnnJoinExec.before(d1, i1, d2, i2) }

  private def sqLitLocal(v: Array[Float], q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val d = v(i).toDouble - q(i); s += d * d; i += 1 }
    s
  }

  private def sqColsLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Beam search for one driver-known query vector. Entry set = the
    * `nEntry` lowest vec_ids (fixed, replayable); `hops` expansion
    * supersteps over the symmetrized graph; final answer = top-`k` of the
    * last beam. Output: (vec_id, dist). */
  def searchLit(graph: DataFrame, db: DataFrame, q: Array[Double], k: Int,
      beam: Int, hops: Int, nEntry: Int,
      driverEdgeThreshold: Int = DriverEdgeThreshold): DataFrame = {
    val spark = db.sparkSession
    import spark.implicits._
    collectLocal(graph, db, driverEdgeThreshold).foreach { lg =>
      return beamLocal(lg, sqLitLocal(_, q), beam, hops, nEntry).take(k)
        .toDF("vec_id", "dist")
    }
    val edges = symmetrize(graph)
    var beamDf = db.orderBy(col("vec_id").asc).limit(nEntry)
      .select(col("vec_id"), Distances.squaredL2Lit(col("embedding"), q).as("dist"))
      .localCheckpoint(true)
    for (h <- 1 to hops) {
      val frontier = beamDf.select(col("vec_id").as("src"))
      val cand = edges.join(broadcast(frontier), "src")
        .select(col("dst").as("vec_id")).distinct()
      val scored = db.join(broadcast(cand), "vec_id")
        .select(col("vec_id"), Distances.squaredL2Lit(col("embedding"), q).as("dist"))
      beamDf = beamDf.unionByName(scored)
        .groupBy(col("vec_id")).agg(min(col("dist")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(beam)
      // checkpoint every OTHER hop (the GraphOps cadence): each hop
      // references the previous beam twice (expand + union), so an
      // unchecked chain doubles the plan per superstep — but one level of
      // doubling is cheaper to re-optimize than an eager materialization
      // round, and the blocking checkpoints halve
      if (h % 2 == 0 || h == hops) beamDf = beamDf.localCheckpoint(true)
    }
    beamDf.orderBy(col("dist").asc, col("vec_id").asc).limit(k)
  }

  /** Batch beam search: every row of `queries` (query_id, embedding) runs
    * the SAME entry set and hop budget; beams are per-query (window rank
    * over (dist, id)). Output: (query_id, vec_id, dist, rn ≤ k). */
  def searchJoin(graph: DataFrame, db: DataFrame, queries: DataFrame, k: Int,
      beam: Int, hops: Int, nEntry: Int, dim: Int,
      driverEdgeThreshold: Int = DriverEdgeThreshold): DataFrame = {
    val spark = db.sparkSession
    import spark.implicits._
    // probe the CHEAP budget first: an over-threshold query page must not
    // pay the edge-list + corpus-vector collect just to discard it
    val qPage =
      if (driverEdgeThreshold > 0)
        queries.select(col("query_id"), col("embedding"))
          .limit(DriverQueryThreshold + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (qPage.nonEmpty && qPage.length <= DriverQueryThreshold) {
      collectLocal(graph, db, driverEdgeThreshold).foreach { lg =>
        val rows = qPage.iterator
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
          .flatMap { case (qid, qv) =>
            beamLocal(lg, sqColsLocal(qv, _), beam, hops, nEntry).take(k)
              .zipWithIndex.map { case ((id, d), i) => (qid, id, d, i + 1) }
          }
        return rows.toDF("query_id", "vec_id", "dist", "rn")
      }
    }
    val edges = symmetrize(graph)
    val qs = queries.select(col("query_id"), col("embedding").as("q_embedding"))
    val entry = db.orderBy(col("vec_id").asc).limit(nEntry)
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    var beamDf = qs.crossJoin(broadcast(entry))
      .select(col("query_id"), col("vec_id"),
        Distances.squaredL2Cols(col("q_embedding"), col("embedding"), dim).as("dist"))
      .localCheckpoint(true)
    // no broadcast hints here: this loop only runs past the driver-path
    // budgets (>64k queries or >1M edges), where the frontier is
    // |queries|·beam rows and qs is the full query table — broadcasting
    // either breaks at exactly the scale this branch exists for. Plain
    // equi-joins let AQE pick sizes; on a cluster the graph would be
    // bucketed by src so the expansion join is a bucket-local probe.
    for (h <- 1 to hops) {
      val frontier = beamDf.select(col("query_id"), col("vec_id").as("src"))
      val cand = edges.join(frontier, "src")
        .select(col("query_id"), col("dst").as("vec_id")).distinct()
      val scored = db.join(cand, "vec_id")
        .join(qs, "query_id")
        .select(col("query_id"), col("vec_id"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), dim).as("dist"))
      beamDf = beamDf.unionByName(scored)
        .groupBy(col("query_id"), col("vec_id")).agg(min(col("dist")).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= beam)
        .select(col("query_id"), col("vec_id"), col("dist"))
      // every-other-hop checkpoint cadence — see [[searchLit]]
      if (h % 2 == 0 || h == hops) beamDf = beamDf.localCheckpoint(true)
    }
    beamDf.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
