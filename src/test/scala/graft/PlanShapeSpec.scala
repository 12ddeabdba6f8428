package graft

import graft.core.{Fixtures, Tables}
import graft.functions.Distances
import graft.operators.{AsOfJoin, Knn, KnnTopK}
import graft.streaming.Sessionize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Plan-shape contracts: the scale claims in the operator docs (single
  * shuffle, broadcast-only joins, shuffle-free top-k, map-side partial
  * top-k) asserted against the physical plan, so a regression that
  * silently adds a shuffle or flips a join to sort-merge fails loudly.
  * AQE is disabled inside this suite only, to make exchange counts
  * deterministic at plan time. */
class PlanShapeSpec extends SparkSpecBase {

  private def withoutAqe[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def shuffles(p: SparkPlan): Int = p.collect { case e: ShuffleExchangeExec => e }.size

  test("brute kNN: zero shuffles, distributed top-k (TakeOrderedAndProject)") {
    withoutAqe {
      val p = planOf(Knn.bruteForce(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        Distances.squaredL2Lit(col("embedding"), Fixtures.Q64), 10))
      assert(shuffles(p) == 0)
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.size == 1)
    }
  }

  test("as-of join: exactly ONE shuffle (union+window, no range join)") {
    withoutAqe {
      val p = planOf(AsOfJoin.asOf(
        Tables.events(spark, sfDir).select("event_id", "ts", "user_id"),
        Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_orderdate"),
        "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey"), "o_orderkey"))
      assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}")
    }
  }

  test("batch sessionization: exactly ONE shuffle (groupBy reuses the window's partitioning)") {
    withoutAqe {
      val p = planOf(Sessionize.batch(Tables.events(spark, sfDir)))
      assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}")
    }
  }

  test("star join: all dimensions broadcast, no sort-merge join") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("join_revenue_by_nation")(spark, sfDir))
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.size == 4)
    }
  }

  test("pair-generating dedup queries never plan a cartesian / nested-loop join (r5 scale-killer guard)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    withoutAqe {
      for (q <- Seq("dedup_containment_pairs", "dedup_jaccard_pairs",
          "dedup_semantic_clusters", "dedup_prefix_filter_pairs",
          // r7: the five cosine edge builds routed through CosineJoin
          "dedup_cosine_pairs", "graph_similarity_summary", "graph_pagerank",
          "graph_bfs_hops", "graph_label_prop")) {
        val p = planOf(SparkEntry.queries(q)(spark, sfDir))
        assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
          s"$q: BroadcastNestedLoopJoin regressed into the plan")
        assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
          s"$q: CartesianProduct regressed into the plan")
      }
    }
  }

  test("rank<=k window filter triggers Spark's native WindowGroupLimit pushdown") {
    // This is WHY no custom top-k LogicalPlan/Strategy is needed for the
    // window idiom (SURVEY §4): InferWindowGroupLimit already bounds
    // per-group state before the sort — pin that it stays in the plan.
    withoutAqe {
      val p = planOf(SparkEntry.queries("window_top_orders_per_customer")(spark, sfDir))
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }.nonEmpty, "WindowGroupLimitExec missing — rank-limit pushdown regressed")
    }
  }

  test("per-source cap plans as WindowGroupLimit (map-side per-key top-n before the shuffle)") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("sample_source_cap")(spark, sfDir))
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }.nonEmpty, "WindowGroupLimitExec missing — capPerKey shuffles the corpus")
    }
  }

  test("sim_maxsim_join: bounded aggregator, no full Window over the scored cross product") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("sim_maxsim_join")(spark, sfDir))
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "WindowExec present — sim_maxsim_join shuffles the full scored set again")
      assert(p.collect { case a: ObjectHashAggregateExec => a }.size >= 2,
        "partial+final ObjectHashAggregate missing — top-k is not map-side bounded")
    }
  }

  test("aggregator kNN join: partial+final object hash aggregate (map-side top-k)") {
    withoutAqe {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val p = planOf(KnnTopK.topK(crossCands(
        emb.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"), col("embedding")),
        emb, Fixtures.Dim), k = 3))
      val aggs = p.collect { case a: ObjectHashAggregateExec => a }
      assert(aggs.size == 2, s"expected partial+final ObjectHashAggregate, got ${aggs.size}")
    }
  }

  test("exact kNN joins and recall ground truth plan to KnnJoinExec, no Window") {
    withoutAqe {
      for (q <- Seq("knn_join_l2", "knn_join_l2_agg", "knn_join_l2_plan", "ann_ivf_recall")) {
        val p = planOf(SparkEntry.queries(q)(spark, sfDir))
        assert(p.collect { case e: graft.plans.KnnJoinExec => e }.nonEmpty,
          s"$q: KnnJoinExec missing")
        assert(p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.isEmpty, s"$q: WindowExec present — candidate pairs are window-ranked")
      }
    }
  }

  test("Q3-shape join: filters pushed to scans, broadcast dim, top-10 as TakeOrderedAndProject") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("join_q3_shipping")(spark, sfDir))
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.size == 1,
        "top-10 must plan as distributed TakeOrderedAndProject, not a global sort")
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "filtered customer side must broadcast")
      val scans = p.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.exists(f =>
          f.output.exists(_.name == "l_shipdate") && f.dataFilters.nonEmpty),
        "l_shipdate filter must reach the lineitem scan")
    }
  }

  test("forward as-of join: exactly ONE shuffle (mirror of backward)") {
    withoutAqe {
      val p = planOf(AsOfJoin.asOf(
        Tables.events(spark, sfDir).select("event_id", "ts", "user_id"),
        Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_orderdate"),
        "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey"), "o_orderkey",
        direction = "forward"))
      assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}")
    }
  }

  test("NOT IN subquery: null-aware broadcast anti join, no nested loop") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("subquery_not_in_region")(spark, sfDir))
      val anti = p.collect { case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT ANTI" => j }
      assert(anti.size == 1,
        "single-column NOT IN must compile to a null-aware broadcast HASH anti join " +
          s"(nested-loop would scan the build side per row); plan:\n$p")
      assert(p.collect { case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }.isEmpty)
    }
  }

  test("disjunctive mixed-side predicate: per-side OR branches pushed into both scans") {
    withoutAqe {
      val p = planOf(SparkEntry.queries("join_disjunctive_pricing")(spark, sfDir))
      val scans = p.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      // CNF extraction: the part scan must pre-filter on the brand/size OR,
      // the lineitem scan on the quantity-range OR — neither side may read
      // its full table just to throw rows away at the join
      assert(scans.exists(f => f.output.exists(_.name == "p_brand") &&
          f.dataFilters.exists(_.toString.contains("Brand#12"))),
        "brand OR-branch filter must reach the part scan")
      assert(scans.exists(f => f.output.exists(_.name == "l_quantity") &&
          f.dataFilters.exists(_.toString.contains("l_quantity"))),
        "quantity OR-branch filter must reach the lineitem scan")
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        "part side must broadcast")
    }
  }

  test("stream-static enrich: dim broadcast; aggregation combines map-side before its shuffle") {
    withoutAqe {
      val p = planOf(graft.streaming.StreamEnrich.hourlyBySegment(
        Tables.events(spark, sfDir), Tables.customer(spark, sfDir)))
      assert(p.collect { case j: BroadcastHashJoinExec => j }.size == 1,
        "customer dim must broadcast — the event stream never shuffles for the join")
      val aggs = p.collect { case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
      assert(aggs.size == 2, "partial + final hash aggregate expected")
      assert(shuffles(p) == 1, s"only the groupBy shuffle expected, got ${shuffles(p)}")
    }
  }

  test("count-min sketch build: ONE shuffle with map-side partial aggregation to d×w cells") {
    // the sketch's scale contract: the shuffle carries at most depth×width
    // combined cells per partition, never the raw key stream — the plan
    // must show partial+final hash aggregates around a single exchange
    withoutAqe {
      val toks = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val p = planOf(graft.operators.Freq.countMinSketch(toks, "term", 4, 512))
      val aggs = p.collect { case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
      assert(aggs.size == 2, s"partial + final hash aggregate expected, got ${aggs.size}")
      assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}")
    }
  }

  test("large-large join falls back to sort-merge with ONE shuffle per side") {
    // when neither side fits a broadcast (the 100 TB fact-fact case), the
    // plan must be a shuffle-partitioned sort-merge join — each side
    // exchanges exactly once on the join key, no nested loop
    withoutAqe {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = planOf(
          Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
            .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
              col("l_orderkey") === col("o_orderkey")))
        assert(p.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }.size == 1, "expected a sort-merge join")
        assert(shuffles(p) == 2, s"one exchange per side expected, got ${shuffles(p)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("banded MIPS brute path: zero shuffles, distributed top-k") {
    withoutAqe {
      val store = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("weight", (lit(1) + col("vec_id") % 10).cast("double"))
        .withColumn("band", (col("vec_id") % 10).cast("long"))
      val res = graft.operators.Mips.prunedTopK(spark, store,
        Fixtures.Q64, 10, bruteForceThreshold = Long.MaxValue)
      assert(res.count() == 10)
      // the result is a collected local relation; the plan to check is the
      // scoring scan itself — pin it through the same brute shape as kNN
      val scored = store.withColumn("dot", col("weight") *
          Distances.dotLit(col("embedding"), Fixtures.Q64))
        .orderBy(col("dot").desc, col("vec_id").asc).limit(10)
      val sp = planOf(scored)
      assert(shuffles(sp) == 0)
      assert(sp.collect { case t: TakeOrderedAndProjectExec => t }.size == 1)
    }
  }

  test("MaxSim top-k: zero shuffles, distributed top-k, whole-stage codegen") {
    withoutAqe {
      val p = planOf(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
          graft.operators.LateInteraction.maxSimLit(col("embedding"), Fixtures.Q64, 4)
            .as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc).limit(10))
      assert(shuffles(p) == 0)
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.size == 1)
      // the nSub² sub-dot expression must stay inside codegen (no
      // interpreted projection in the hot path)
      assert(p.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty)
    }
  }

  test("per-dimension stats: ONE shuffle with map-side partial aggregation to |dims| rows") {
    withoutAqe {
      val p = planOf(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"), col("v").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"), max(col("v")).as("max_v")))
      assert(shuffles(p) == 1, s"expected 1 exchange, got ${shuffles(p)}")
      val aggs = p.collect {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      }
      assert(aggs.size == 2, "expected partial+final hash aggregate pair")
    }
  }
}
