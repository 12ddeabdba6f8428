package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed interval join — "right event within [t, t + window] after the left
  * event, same key" — in two equivalent forms (the reference has no joins
  * or streams at all; SURVEY.md §2.2 joins/streaming rows):
  *
  *  - [[batch]]: equi-join on the key plus a time-band predicate. Catalyst
  *    plans the equi-part as a hash join and evaluates the band as a
  *    post-join filter — one shuffle per side, no quadratic blow-up beyond
  *    rows sharing a key.
  *  - [[streaming]]: a genuine stream-stream inner join. Both sides are
  *    watermarked and the join condition carries the raw event-time band,
  *    which is what lets Spark BOUND THE STATE: a buffered left row can be
  *    dropped once the right watermark passes t + window (+ delay), so
  *    state is O(window × rate), not O(stream). This is the part a batch
  *    engine cannot express — late rows beyond the watermark are dropped
  *    rather than buffered forever.
  *
  * The band predicate must reference the event-time COLUMNS directly in
  * the streaming form (Spark infers state cleanup from them); the batch
  * form uses the same raw-timestamp predicate. Oracle-declared queries
  * floor to epoch seconds instead (engine-exact; see queries/EventQueries).
  */
object StreamJoin {

  /** Left/right column sets must be disjoint. `windowSec` is inclusive on
    * both ends: tR ∈ [tL, tL + windowSec]. `joinType`: "inner" or
    * "left_outer". */
  def batch(left: DataFrame, right: DataFrame,
      keyL: String, keyR: String, timeL: String, timeR: String,
      windowSec: Long, joinType: String = "inner"): DataFrame =
    left.join(right,
      col(keyL) === col(keyR) &&
        col(timeR) >= col(timeL) &&
        col(timeR) <= col(timeL) + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)

  /** Streaming join; `delay` bounds each side's out-of-orderness (e.g.
    * "10 seconds"). Append-mode output. For "left_outer", an unmatched
    * left row is emitted with null right columns once the right watermark
    * passes t + window (+ delay) and no match can still arrive — the
    * state bound is what makes outer results FINAL on an infinite
    * stream, which no batch engine can express. */
  def streaming(left: DataFrame, right: DataFrame,
      keyL: String, keyR: String, timeL: String, timeR: String,
      windowSec: Long, delay: String, joinType: String = "inner"): DataFrame =
    left.withWatermark(timeL, delay).join(
      right.withWatermark(timeR, delay),
      col(keyL) === col(keyR) &&
        col(timeR) >= col(timeL) &&
        col(timeR) <= col(timeL) + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
}
