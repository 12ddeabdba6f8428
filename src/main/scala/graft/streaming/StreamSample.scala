package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Bounded per-key WEIGHTED PRIORITY SAMPLE (Efraimidis–Spirakis A-ES,
  * "weighted sampling without replacement by exponential keys"),
  * maintained either as one batch aggregation or incrementally over a
  * stream.
  *
  * Every row carries a deterministic priority −ln(u)/w where u is a pure
  * hash of the row id — so "the sample" (the R smallest priorities per
  * key) is a pure function of the SET of rows: arrival order, batching,
  * partitioning, and merge order cannot change it. Two consequences the
  * specs pin:
  *   - the batch form plans as a map-side-combinable bounded aggregator
  *     (the [[graft.operators.KnnTopK]] shape): each map task contributes
  *     its own ≤ R rows per key to the shuffle — never the corpus. At
  *     100 TB the shuffle volume is |keys|·R·width per map task, flat in
  *     corpus size;
  *   - the streaming form (`mapGroupsWithState`, state = the current
  *     top-R per key, size |keys|·R regardless of stream length) is
  *     EXACTLY ≡ the batch form under ANY arrival order, because
  *     admission never depends on what arrived first.
  *
  * No reference-file analog (the reference has no sampling surface);
  * the weight-to-priority transform matches the proven
  * `sample_weighted_noreplace` arithmetic so the DuckDB oracle replays
  * it bit-for-bit.
  */
object StreamSample {

  /** A scored candidate row: key, row id, rounded A-ES priority. */
  final case class Cand(k: String, i: Long, pri: Double)
  final case class Picked(id: Long, pri: Double)
  final case class Sampled(key: String, rank: Int, doc_id: Long, es_key: Double)

  /** Streaming state/emission: `ver` increments per state update so a
    * test (or consumer) can select each key's LATEST sample. */
  final case class SampleState(ver: Long, ids: Seq[Long], pris: Seq[Double])
  final case class SampleUpdate(key: String, ver: Long, ids: Seq[Long], pris: Seq[Double])

  private def lt(a: Picked, b: Picked): Boolean =
    a.pri < b.pri || (a.pri == b.pri && a.id < b.id)

  private def insert(r: Int)(buf: Array[Picked], p: Picked): Array[Picked] =
    if (buf.length < r) (buf :+ p).sortBy(x => (x.pri, x.id))
    else if (lt(p, buf(r - 1))) buf.updated(r - 1, p).sortBy(x => (x.pri, x.id))
    else buf

  /** Bounded top-R-by-(priority, id) buffer — ObjectHashAggregate with
    * map-side partial merge, exactly the [[graft.operators.KnnTopK]]
    * device pointed at sampling. */
  class TopRAgg(r: Int) extends Aggregator[Cand, Array[Picked], Array[Picked]] {
    def zero: Array[Picked] = Array.empty
    def reduce(buf: Array[Picked], c: Cand): Array[Picked] =
      insert(r)(buf, Picked(c.i, c.pri))
    def merge(a: Array[Picked], b: Array[Picked]): Array[Picked] =
      b.foldLeft(a)(insert(r))
    def finish(buf: Array[Picked]): Array[Picked] = buf
    def bufferEncoder: Encoder[Array[Picked]] = Encoders.kryo[Array[Picked]]
    def outputEncoder: Encoder[Array[Picked]] = Encoders.kryo[Array[Picked]]
  }

  /** The A-ES priority −ln(u)/w, u hash-derived from the id, rounded to
    * 6 dp BEFORE any ordering (both engines order the same doubles).
    * Same arithmetic as `sample_weighted_noreplace` — the proven
    * cross-engine form. Weights must be > 0. */
  def esPriority(idCol: Column, weight: Column): Column =
    round(
      -log((pmod(graft.operators.Dedup.md5Int32(idCol.cast("string")), lit(1048576))
        .cast("double") + 1.0) / 1048577.0) / weight, 6)

  /** Batch per-key bounded priority sample: (key, rank, doc_id, es_key),
    * rank 1..R ascending priority. */
  def prioritySample(df: DataFrame, keyCol: Column, idCol: Column,
      weight: Column, r: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(keyCol.cast("string").as("k"), idCol.cast("long").as("i"),
        esPriority(idCol, weight).as("pri")).as[Cand]
      .groupByKey(_.k)
      .agg(new TopRAgg(r).toColumn.name("top"))
      .flatMap { case (k, arr) =>
        arr.zipWithIndex.map { case (p, j) => Sampled(k, j + 1, p.id, p.pri) }
      }
      .toDF()
  }

  /** Streaming form: per key, state is the current top-R (bounded at
    * |keys|·R forever); each micro-batch folds its candidates into the
    * state and emits the key's latest sample with a bumped `ver`
    * (Update output mode — a later, lower-priority-than-cutoff row
    * changes nothing and re-emits the same sample). The final emission
    * per key equals [[prioritySample]] of everything that ever arrived,
    * under any arrival order. */
  def prioritySampleStreaming(rows: Dataset[Cand], r: Int): Dataset[SampleUpdate] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.k)
      .mapGroupsWithState[SampleState, SampleUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Cand], state: GroupState[SampleState]) =>
          val prev = state.getOption.getOrElse(SampleState(0L, Seq.empty, Seq.empty))
          val buf0 = prev.ids.zip(prev.pris).map { case (i, p) => Picked(i, p) }.toArray
          val merged = it.foldLeft(buf0)((b, c) => insert(r)(b, Picked(c.i, c.pri)))
          val next = SampleState(prev.ver + 1L, merged.map(_.id).toSeq, merged.map(_.pri).toSeq)
          state.update(next)
          SampleUpdate(key, next.ver, next.ids, next.pris)
      }
  }
}
