package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Skew-safe batch kNN join via a typed bounded top-k Aggregator.
  *
  * The window-rank formulation ([[KnnJoin.join]]) shuffles EVERY candidate
  * pair on query_id and sorts whole partitions — at 100 TB a hot query key
  * melts one reducer. This Aggregator keeps a ≤k-element buffer per
  * (query, map-partition) with map-side partial aggregation (the public
  * `Aggregator` API plans as an ObjectHashAggregate — the
  * TypedImperativeAggregate shape of SURVEY.md §2.2), so the shuffle
  * carries at most k rows per query per map task and reducers merge
  * k-bounded buffers — immune to candidate-count skew.
  *
  * Result semantics are identical to the window form: top-k by
  * (dist ASC, id ASC), rn = 1..k.
  */
object KnnTopK {

  case class Neighbor(id: Long, dist: Double)
  case class Cand(query_id: Long, vec_id: Long, dist: Double)
  case class Result(query_id: Long, vec_id: Long, dist: Double, rn: Int)

  private def lt(a: Neighbor, b: Neighbor): Boolean =
    a.dist < b.dist || (a.dist == b.dist && a.id < b.id)

  class TopKAgg(k: Int) extends Aggregator[Cand, Array[Neighbor], Array[Neighbor]] {
    def zero: Array[Neighbor] = Array.empty
    def reduce(buf: Array[Neighbor], c: Cand): Array[Neighbor] =
      insert(buf, Neighbor(c.vec_id, c.dist))
    def merge(a: Array[Neighbor], b: Array[Neighbor]): Array[Neighbor] =
      b.foldLeft(a)(insert)
    def finish(r: Array[Neighbor]): Array[Neighbor] = r
    def bufferEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    def outputEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    private def insert(buf: Array[Neighbor], n: Neighbor): Array[Neighbor] =
      if (buf.length < k) (buf :+ n).sortBy(x => (x.dist, x.id))
      else if (lt(n, buf(k - 1))) (buf.updated(k - 1, n)).sortBy(x => (x.dist, x.id))
      else buf
  }

  /** [[TopKAgg]] that collapses duplicate candidate ids on insert/merge —
    * for candidate sets where one (query, vec) pair can arrive several
    * times (e.g. via multiple shared probe cells). Equivalent to
    * groupBy(query, vec).min(dist) |> topK in any arrival order — a
    * duplicate id keeps the smaller dist — but without the extra
    * full-candidate-set exchange that groupBy costs (r17, guide §2.4).
    * The id-containment check is a linear scan of a ≤k buffer. An id
    * evicted from a full buffer can never re-enter at a larger dist: the
    * kth entry only improves, and already beat the evicted one. */
  class TopKDedupAgg(k: Int) extends Aggregator[Cand, Array[Neighbor], Array[Neighbor]] {
    def zero: Array[Neighbor] = Array.empty
    def reduce(buf: Array[Neighbor], c: Cand): Array[Neighbor] =
      insert(buf, Neighbor(c.vec_id, c.dist))
    def merge(a: Array[Neighbor], b: Array[Neighbor]): Array[Neighbor] =
      b.foldLeft(a)(insert)
    def finish(r: Array[Neighbor]): Array[Neighbor] = r
    def bufferEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    def outputEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    private def insert(buf: Array[Neighbor], n: Neighbor): Array[Neighbor] = {
      val dup = buf.indexWhere(_.id == n.id)
      if (dup >= 0)
        if (n.dist < buf(dup).dist) buf.updated(dup, n).sortBy(x => (x.dist, x.id))
        else buf
      else if (buf.length < k) (buf :+ n).sortBy(x => (x.dist, x.id))
      else if (lt(n, buf(k - 1))) (buf.updated(k - 1, n)).sortBy(x => (x.dist, x.id))
      else buf
    }
  }

  /** [[topK]] with duplicate-id collapse (see [[TopKDedupAgg]]). */
  def topKDedup(cands: DataFrame, k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("query_id"), col("vec_id"), col("dist")).as[Cand]
      .groupByKey(_.query_id)
      .agg(new TopKDedupAgg(k).toColumn.name("topk"))
      .flatMap { case (qid, arr) =>
        arr.zipWithIndex.map { case (n, i) => Result(qid, n.id, n.dist, i + 1) }
      }
      .toDF()
  }

  /** Bounded top-k over an arbitrary candidate set (columns query_id,
    * vec_id, dist) — the shuffle carries ≤ k rows per query per map task
    * instead of every candidate. */
  def topK(cands: DataFrame, k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("query_id"), col("vec_id"), col("dist")).as[Cand]
      .groupByKey(_.query_id)
      .agg(new TopKAgg(k).toColumn.name("topk"))
      .flatMap { case (qid, arr) =>
        arr.zipWithIndex.map { case (n, i) => Result(qid, n.id, n.dist, i + 1) }
      }
      .toDF()
  }

  /** Same contract as [[KnnJoin.join]] (broadcast queries × db, squared L2),
    * aggregated instead of window-ranked. */
  def join(queries: DataFrame, db: DataFrame, k: Int, dim: Int,
      queryIdCol: String = "query_id", dbIdCol: String = "vec_id"): DataFrame = {
    val qs = queries.select(col(queryIdCol).as("query_id"), col("embedding").as("q_embedding"))
    val cands = db.crossJoin(broadcast(qs))
      .select(col("query_id"), col(dbIdCol).as("vec_id"),
        Distances.squaredL2Cols(col("q_embedding"), col("embedding"), dim).as("dist"))
    topK(cands, k)
  }
}
