package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact heavy hitters via per-partition Misra-Gries + exact recount — the
  * frequent-items primitive of a training-data pipeline (dominant boilerplate
  * strings, hot tokens, over-represented sources).
  *
  * Why not plain groupBy+HAVING at 100 TB: the full groupBy shuffles EVERY
  * distinct key (possibly billions) to count items of which only a handful
  * matter. Here each partition keeps a Misra-Gries summary of capacity
  * ⌈1/minShare⌉ — by the pigeonhole argument any item with global share ≥
  * minShare has share ≥ minShare in at least one partition, and Misra-Gries
  * with capacity k surfaces every item with partition share > 1/(k+1) — so
  * the union of per-partition candidates is a SUPERSET of the true heavy
  * hitters. A second pass recounts only the candidates (a broadcast
  * semi-join, tiny) and filters exactly: no approximation in the result,
  * shuffle carries O(partitions × k) candidate rows + the exact counts of
  * O(k) keys.
  */
object Freq {

  /** Items of `keyCol` with count ≥ minShare × total, with exact counts.
    * Output: (key, n), one row per heavy hitter. */
  def heavyHitters(df: DataFrame, keyCol: String, minShare: Double): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0, s"minShare must be in (0,1], got $minShare")
    val spark = df.sparkSession
    import spark.implicits._
    val k = math.max(1, math.ceil(1.0 / minShare).toInt)
    // Materialize the key column once: the candidate scan, the total count,
    // and the recount must all see the SAME rows (a nondeterministic source
    // — sample(), unordered ids — re-scanned per phase would break the
    // superset guarantee), and it saves re-running an expensive lineage
    // three times. Only the single projected column is stored.
    val keys = df.select(col(keyCol).cast("string")).filter(col(keyCol).isNotNull)
      .localCheckpoint(true)
    // phase 1: per-partition Misra-Gries candidate generation
    val candidates = keys.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        if (counters.contains(x)) counters(x) += 1
        else if (counters.size < k) counters(x) = 1
        else {
          // decrement-all step; drop zeroed counters
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { key =>
            val v = counters(key) - 1
            if (v == 0) dead += key else counters(key) = v
          }
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.distinct().toDF("key")
    // phase 2: exact recount of the (tiny) candidate set only
    val total = keys.count()
    val threshold = math.ceil(minShare * total).toLong
    keys.toDF("key")
      .join(broadcast(candidates), "key")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }

  /** Per-row count-min cell ids: cell_i(x) = md5("cm{i}|" ++ x) mod width,
    * one per hash row i — the same md5-derived 32-bit hash family the dedup
    * operators use, so the whole sketch is replayable as SQL (unlike
    * HLL/KLL, whose binary registers keep the registry's sketch
    * queries rows-only, count-min is hash-checked end-to-end). */
  private def cmCells(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(i =>
      Dedup.md5Int32(concat(lit(s"cm$i|"), key)) % width): _*)

  /** Count-min sketch build: (i, cell, n) counts, i < depth, cell < width.
    *
    * The 100 TB point: the exact per-key groupBy shuffles EVERY distinct
    * key (billions for tokens); this aggregation is map-side combinable
    * into at most depth×width cells per partition, so the shuffle carries
    * O(partitions × depth × width) rows no matter the key cardinality —
    * the streaming-friendly counter a token-frequency monitor keeps. */
  def countMinSketch(items: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad sketch shape ${depth}x$width")
    items.select(posexplode(cmCells(col(keyCol).cast("string"), depth, width))
        .as(Seq("i", "cell")))
      .groupBy(col("i"), col("cell"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point estimates from a built sketch: appends `cm_est` =
    * min_i sketch(i, cell_i(key)) to `probes` (0 for keys hashing only to
    * empty cells — the standard CMS never-underestimate guarantee holds:
    * est >= true count, with overestimate bounded by collisions).
    * `depth`/`width` must match the build. */
  def countMinLookup(sketch: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 512): DataFrame = {
    val sk = sketch.select(col("i").as("__si"), col("cell").as("__scell"),
      col("n").as("__sn"))
    val keep = probes.columns
    probes
      .select(col("*"),
        posexplode(cmCells(col(keyCol).cast("string"), depth, width))
          .as(Seq("__i", "__cell")))
      .join(broadcast(sk),
        col("__i") === col("__si") && col("__cell") === col("__scell"), "left")
      .groupBy(keep.map(col).toSeq: _*)
      .agg(min(coalesce(col("__sn"), lit(0L))).as("cm_est"))
  }
}
