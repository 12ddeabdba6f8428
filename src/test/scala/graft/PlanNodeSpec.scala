package graft

import graft.operators.KnnTopK
import graft.plans.{KnnJoinExec, KnnJoinPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions whole-operator path (SURVEY §2.2 UDF/UDAF
  * row): custom LogicalPlan → SparkStrategy → custom SparkPlan for the
  * batch kNN join. Pins (a) bit-equality with the Aggregator composition
  * form (`KnnTopK.topK` over the scored cross product), (b) that the
  * planner actually lowers through KnnJoinExec, and (c) operator edge
  * cases (empty sides, filtered data, missing columns).
  */
class PlanNodeSpec extends SparkSpecBase {

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def queries: DataFrame =
    emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))

  private def collect(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.orderBy("query_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

  test("KnnJoinPlan.join is bit-equal to the KnnTopK composition form") {
    val viaPlan = KnnJoinPlan.join(queries, emb, k = 3)
    val viaAgg = KnnTopK.topK(crossCands(queries, emb, core.Fixtures.Dim), 3)
    assert(collect(viaPlan) == collect(viaAgg))
  }

  test("the planner lowers KnnJoinPlan through KnnJoinExec") {
    val df = KnnJoinPlan.join(queries, emb, k = 3)
    val hasLogical = df.queryExecution.optimizedPlan.collect {
      case p: KnnJoinPlan => p
    }.nonEmpty
    val hasExec = df.queryExecution.executedPlan.collect {
      case e: KnnJoinExec => e
    }.nonEmpty
    assert(hasLogical, "logical node should survive optimization untouched")
    assert(hasExec, "physical plan should contain KnnJoinExec")
  }

  test("downstream relational ops compose over the custom node") {
    val df = KnnJoinPlan.join(queries, emb, k = 3)
      .filter(col("rn") === 1)
      .groupBy(col("query_id")).agg(min(col("dist")).as("d1"))
    assert(df.count() == 5)
    // rn=1 is the self-match (query vectors come from the db): dist 0.0
    assert(df.collect().forall(_.getDouble(1) == 0.0))
  }

  test("filter-before-k semantics: pre-filtered data side") {
    val filtered = emb.filter(col("label") === 3)
    val viaPlan = KnnJoinPlan.join(queries, filtered, k = 3)
    val viaAgg = KnnTopK.topK(crossCands(queries, filtered, core.Fixtures.Dim), 3)
    assert(collect(viaPlan) == collect(viaAgg))
  }

  test("empty data side yields empty result; empty query side too") {
    val none = emb.filter(col("vec_id") < 0)
    assert(KnnJoinPlan.join(queries, none, k = 3).count() == 0)
    assert(KnnJoinPlan.join(none.select(col("vec_id").as("query_id"), col("embedding")),
      emb, k = 3).count() == 0)
  }

  test("payload columns are pruned from the data-side scan") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = KnnJoinPlan.join(queries, emb, k = 3)
      // every physical leaf (parquet scan OR cached-table scan, depending
      // on what earlier suites cached) must emit ONLY the contract columns
      // — `label` never crosses a scan boundary (join() pre-projects in
      // the logical plan, Catalyst pushes the pruning into the scan)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.output.map(_.name).toSet)
      assert(leaves.nonEmpty && leaves.forall(s =>
        s == Set("vec_id", "embedding") || s == Set("query_id", "embedding")), leaves)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("missing contract column is rejected at planning") {
    val ex = intercept[Exception] {
      KnnJoinPlan.join(queries.withColumnRenamed("query_id", "qid"), emb, k = 3).collect()
    }
    assert(ex.getMessage.contains("query_id") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("query_id")))
  }

  test("dimension-mismatched data raises instead of silently skipping") {
    // mixed-dimension input is a data error: the operator must fail loudly
    // (mirroring Grid ingest validation), not measure a truncated distance
    val shortVecs = emb.limit(10)
      .withColumn("embedding", slice(col("embedding"), 1, 4))
    val ex = intercept[Exception] {
      KnnJoinPlan.join(queries, shortVecs, k = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dim")), s"got: ${msgs(ex)}")
  }

  test("bounded insert and merge match orderBy(dist, vec_id).limit(k) with NaN, +Inf and ties") {
    import spark.implicits._
    // dim 40: the kernel tests its early exit every 16 elements, so the
    // values at element 20 arrive after a first cut chance
    def vec(e0: Float, e1: Float, e20: Float): Array[Float] = {
      val v = new Array[Float](40); v(0) = e0; v(1) = e1; v(20) = e20; v
    }
    val nan = Float.NaN; val inf = Float.PositiveInfinity
    val data = Seq(1L -> vec(1, 0, 0), 2L -> vec(3, 0, nan), 3L -> vec(1, 0, 0),
      4L -> vec(0, 0, inf), 5L -> vec(0, 1, 0), 6L -> vec(0.5f, 0, 0),
      7L -> vec(0, 0, nan), 8L -> vec(inf, 0, 0), 9L -> vec(-inf, 0, 0), 10L -> vec(2, 0, 0))
    val qs = Seq(0L -> vec(0, 0, 0), 1L -> vec(1, 0, 0), 2L -> vec(nan, 0, 0), 3L -> vec(0, 0, inf))
      .toDF("query_id", "embedding")
    val ranked = crossCands(qs, data.toDF("vec_id", "embedding"), 40)
      .orderBy("query_id", "dist", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    assert(ranked(0L).count(_._3.isNaN) == 2 && ranked(0L).count(_._3.isInfinite) == 3)
    for (order <- Seq(data, data.reverse); parts <- Seq(1, 2); k <- 1 to data.size + 1) {
      val dataDf = spark.sparkContext.parallelize(order, parts).toDF("vec_id", "embedding")
      val want = ranked.keys.toSeq.sorted.flatMap { q =>
        ranked(q).take(k).zipWithIndex.map { case ((_, id, d), r) => (q, id, d, r + 1) }
      }
      // NaN != NaN, so compare distances by their bits
      def bits(rows: Seq[(Long, Long, Double, Int)]) =
        rows.map { case (q, id, d, r) => (q, id, java.lang.Double.doubleToLongBits(d), r) }
      // the exec, and the aggregators over the same candidates in the same
      // arrival order: one (dist, id) order for every bounded top-k
      val cands = crossCands(qs, dataDf, 40)
      for ((form, df) <- Seq("exec" -> KnnJoinPlan.join(qs, dataDf, k),
          "topK" -> KnnTopK.topK(cands, k), "topKDedup" -> KnnTopK.topKDedup(cands, k)))
        assert(bits(collect(df)) == bits(want),
          s"$form k=$k parts=$parts ascending=${order == data}")
    }
  }
}
