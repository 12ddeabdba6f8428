package graft.operators

import graft.plans.{KnnJoinExec, KnnJoinPlan}
import graft.plans.KnnJoinExec.TopK
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded top-k over an arbitrary candidate set via a typed Aggregator.
  *
  * Ranking a candidate set with a window shuffles EVERY candidate pair on
  * query_id and sorts whole partitions — at 100 TB a hot query key melts
  * one reducer. This Aggregator keeps a ≤k-element buffer per
  * (query, map-partition) with map-side partial aggregation (the public
  * `Aggregator` API plans as an ObjectHashAggregate — the
  * TypedImperativeAggregate shape of SURVEY.md §2.2), so the shuffle
  * carries at most k rows per query per map task and reducers merge
  * k-bounded buffers — immune to candidate-count skew. It ranks the
  * candidates that pruned or approximate forms produce (graph beam, IVF
  * probes, the cell join's rounds, MaxSim scores); the exact brute-force
  * batch join is [[graft.plans.KnnJoinPlan]].
  *
  * The buffers are [[KnnJoinExec.TopK]] bounds, ranked and merged by
  * [[KnnJoinExec.before]]/[[KnnJoinExec.offer]]/[[KnnJoinExec.merge]]:
  * top-k by (dist ASC, id ASC) as Spark's sort orders it, rn = 1..k.
  */
object KnnTopK {

  case class Cand(query_id: Long, vec_id: Long, dist: Double)
  case class Result(query_id: Long, vec_id: Long, dist: Double, rn: Int)

  private val empty = new TopK(Array.emptyLongArray, Array.emptyDoubleArray)

  /** The ≤k [[TopK]] buffer both aggregators keep per query. */
  abstract class BoundedAgg extends Aggregator[Cand, TopK, TopK] {
    def zero: TopK = empty
    def finish(r: TopK): TopK = r
    def bufferEncoder: Encoder[TopK] = Encoders.kryo[TopK]
    def outputEncoder: Encoder[TopK] = Encoders.kryo[TopK]
  }

  class TopKAgg(k: Int) extends BoundedAgg {
    def reduce(buf: TopK, c: Cand): TopK = KnnJoinExec.offer(buf, c.vec_id, c.dist, k)
    def merge(a: TopK, b: TopK): TopK = KnnJoinExec.merge(a, b, k)
  }

  /** [[TopKAgg]] that collapses duplicate candidate ids on insert/merge —
    * for candidate sets where one (query, vec) pair can arrive several
    * times (e.g. via multiple shared probe cells). Equivalent to
    * groupBy(query, vec).min(dist) |> topK in any arrival order — a
    * duplicate id keeps the dist that comes first in the order — but
    * without the extra full-candidate-set exchange that groupBy costs
    * (r17, guide §2.4). The id-containment check is a linear scan of a ≤k
    * buffer. An id evicted from a full buffer can never re-enter at a
    * larger dist: the kth entry only improves, and already beat the
    * evicted one. */
  class TopKDedupAgg(k: Int) extends BoundedAgg {
    def reduce(buf: TopK, c: Cand): TopK = add(buf, c.vec_id, c.dist)
    def merge(a: TopK, b: TopK): TopK =
      b.ids.indices.foldLeft(a)((t, i) => add(t, b.ids(i), b.dists(i)))
    private def add(buf: TopK, id: Long, d: Double): TopK = {
      var dup = 0
      while (dup < buf.ids.length && buf.ids(dup) != id) dup += 1
      if (dup == buf.ids.length) KnnJoinExec.offer(buf, id, d, k)
      else if (KnnJoinExec.before(d, id, buf.dists(dup), id))
        KnnJoinExec.offer(new TopK(buf.ids.patch(dup, Nil, 1), buf.dists.patch(dup, Nil, 1)),
          id, d, k)
      else buf
    }
  }

  /** [[topK]] with duplicate-id collapse (see [[TopKDedupAgg]]). */
  def topKDedup(cands: DataFrame, k: Int): DataFrame = rank(cands, new TopKDedupAgg(k))

  /** Bounded top-k over an arbitrary candidate set (columns query_id,
    * vec_id, dist) — the shuffle carries ≤ k rows per query per map task
    * instead of every candidate. */
  def topK(cands: DataFrame, k: Int): DataFrame = rank(cands, new TopKAgg(k))

  private def rank(cands: DataFrame, agg: BoundedAgg): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("query_id"), col("vec_id"), col("dist")).as[Cand]
      .groupByKey(_.query_id)
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (qid, t) =>
        Iterator.tabulate(t.ids.length)(i => Result(qid, t.ids(i), t.dists(i), i + 1))
      }
      .toDF()
  }

  /** [[KnnJoinPlan.join]] under its old name: kept only for the join-form
    * layer of perfbench's `Join.scala`, which compiles against it. */
  def join(queries: DataFrame, db: DataFrame, k: Int, dim: Int): DataFrame =
    KnnJoinPlan.join(queries, db, k)
}
