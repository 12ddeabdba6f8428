package graft

import graft.core.{Fixtures, Tables}
import graft.functions.Distances
import graft.operators.Knn
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's entry contract: the `entry` smoke query,
  * `prepareFixtures`, and the query registry. Every query is declared
  * once, as a [[QuerySpec]] in one of the area modules under
  * `graft.queries`, with its Spark plan beside its DuckDB oracle SQL;
  * `queries` and `oracleSql` are two views of that one list. Spark Column
  * expressions and oracle SQL are generated from the same constants
  * (`graft.core.Fixtures`, `graft.oracle.DuckSql`) with identical IEEE
  * arithmetic, so both engines' outputs hash identically.
  */
object SparkEntry {
  import Fixtures.Q64
  import Shared.{K, emb}

  // ---------------------------------------------------------------- flagship

  /** Flagship: filtered kNN on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Knn.bruteForce(emb(spark, "/root/testdata/sf0.001"),
      Distances.squaredL2Lit(col("embedding"), Q64), K)

  // ---------------------------------------------------------------- fixtures

  /** One-time physical-layout prep for queries that read derived tables
    * (today: the bucketed orders/customer layouts behind
    * `join_bucketed_colocated`). Harnesses (Verify, Bench, specs) call this
    * ONCE up front so every query builder is a pure plan constructor; the
    * builder itself only falls back to this when called standalone against
    * a session that never prepared — a robustness path, not the design. */
  def prepareFixtures(s: SparkSession, d: String): Unit = {
    // r17 engine default (guide §2.2 "let AQE coalesce small partitions"):
    // several operators persist mid-plan tables (LSH signatures, candidate
    // sets, dedup survivors), and Spark does NOT apply AQE partition
    // coalescing under a cached plan unless this flag is on — so every
    // exchange below a persist ran at the full spark.sql.shuffle.partitions
    // width regardless of data size (32 tasks of KB-scale work per stage in
    // the curation/dedup pipelines; thread dumps showed the tasks dominated
    // by shuffle-file creation, not compute). With the flag on, AQE sizes
    // those exchanges by bytes — scale-adaptive at any cluster size, not a
    // local tuning constant. Trade-off per SPARK-38389 is possible extra
    // shuffle for a downstream consumer expecting the full width; every
    // consumer here aggregates or joins tiny outputs, so the coalesced
    // width is strictly less work.
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // scan-parallelism re-layout FIRST, so the bucketed layouts below are
    // built from (and all queries read) the split copies
    graft.store.SplitLayout.prepare(s, d)
    graft.store.Bucketed.writeBucketedIfAbsent(
      Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
      "graft_orders_bk", "o_custkey", nBuckets = 8)
    graft.store.Bucketed.writeBucketedIfAbsent(
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
      "graft_customer_bk", "c_custkey", nBuckets = 8)
    ()
  }

  // ---------------------------------------------------------------- queries

  /** Every declared query, area by area; no two share a name. */
  private[graft] lazy val specs: Seq[QuerySpec] = QuerySpec.distinct(
    KnnQueries.specs ++ AnnQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ AggQueries.specs ++ EventQueries.specs ++
      RelationalQueries.specs ++ StoreQueries.specs ++ SampleQueries.specs ++
      PipelineQueries.specs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
