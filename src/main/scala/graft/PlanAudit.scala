package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit dump (dev/evidence tool, like [[BenchOne]]): writes
  * the `explain("formatted")` output of a curated cross-family query set to
  * a markdown artifact, with the scale-relevant plan facts extracted per
  * query (join strategies chosen, exchange count, whole-stage-codegen
  * spans, parquet PushedFilters). This is the "is the plan the one you'd
  * want at 1000 executors" check made reviewable: broadcasts on the dim
  * sides, partial aggregation before every shuffle, filters reaching the
  * scan, no nested-loop join outside the deliberate bounded-small-side
  * cases.
  *
  * `runMain graft.PlanAudit <sfDir> <outFile>` */
object PlanAudit {

  /** One representative query per plan family; the commentary states what
    * the plan must show for the 100 TB story to hold. */
  private val audit: Seq[(String, String)] = Seq(
    "agg_pricing_summary" ->
      ("TPC-H Q1 shape: one scan, partial HashAggregate before the single " +
        "exchange, decimal sums codegen'd. ReadSchema must list only the " +
        "6 referenced lineitem columns."),
    "join_revenue_by_nation" ->
      ("Star join: the one fact-fact join (lineitem x orders) shuffles on " +
        "the key; customer/nation/region ride BroadcastHashJoin - no " +
        "shuffle grows with the dimension count."),
    "join_bucketed_colocated" ->
      ("Bucketed co-located join: both sides pre-bucketed on the key, so " +
        "the plan shows NO Exchange between the scans and the join."),
    "store_zonemap_prune" ->
      ("Zone-map pruning: the predicate appears in PushedFilters on the " +
        "parquet scan, and the partition filter prunes files before read."),
    "knn_l2_brute" ->
      ("Flagship kNN baseline: ONE scan, codegen'd squared-L2 expression, " +
        "TakeOrderedAndProject (distributed top-k, never a global sort)."),
    "knn_l2_pruned" ->
      ("Pruned single-query kNN: the widening loop pages ranked cell " +
        "prefixes through per-page scans (each page a cell-pruned scan + " +
        "top-k like the brute plan), so the RETURNED frame is the " +
        "materialized k rows (LocalTableScan) - the k-row result of a " +
        "bounded driver loop, not a driver-collected corpus."),
    "knn_join_l2_plan" ->
      ("Custom Catalyst operator: KnnJoinExec planned by KnnJoinStrategy " +
        "from the KnnJoinPlan logical node - the whole-operator extension " +
        "path (SparkSessionExtensions) in one plan."),
    "sim_cosine_topk" ->
      ("Brute-force cosine ANN baseline: one scan, codegen'd dot/norm, " +
        "TakeOrderedAndProject top-k; the 100 TB path is the IVF variant " +
        "but the baseline must already avoid any global sort."),
    "ann_ivf_topk" ->
      ("IVF probe: centroid assignment broadcast, cell-pruned candidate " +
        "read (partition filter on cell ids), per-cell verify then " +
        "distributed top-k."),
    "dedup_minhash_lsh_pairs" ->
      ("MinHash-LSH near-dup: one-pass codegen'd signatures, band-bucket " +
        "equi self-join (never a cross product), hot buckets capped before " +
        "the join; verify runs only on candidate pairs."),
    "sample_dsir_importance" ->
      ("DSIR: raw-corpus bigram explode persisted once, model tables " +
        "broadcast (capped - over-cap falls back to shuffle joins), one " +
        "per-doc aggregation; the corpus is never shuffled for scoring."),
    "text_quality_qnorm" ->
      ("Quantile normalization: histogram collapse instead of corpus " +
        "sorts; rank lookups are equi hash joins on exploded bounded-chunk " +
        "rank tables, both reading one persisted exploded table."),
    "text_bm25_topk" ->
      ("BM25: corpus stats reduce to broadcast scalars, scoring is one " +
        "codegen'd pass, distributed top-k - no inverted-index shuffle for " +
        "a fixed query bag."),
    "range_join_binned" ->
      ("Range join made equi: bin explode on the big side, equi hash join " +
        "on (bin) with the residual range predicate - replaces the " +
        "BroadcastNestedLoopJoin that cannot scale past bounded small sides."),
    "window_rolling_revenue" ->
      ("Window frame: single hash-partitioned exchange on the partition " +
        "key, RANGE frame evaluated in one WindowExec pass - no self-join " +
        "re-derivation of the frame."),
    "sample_priority_per_source" ->
      ("Bounded priority sample: ObjectHashAggregate over the typed top-R " +
        "aggregator with a partial_ (map-side) phase before the one " +
        "exchange - at most R rows per key per map task cross the " +
        "shuffle; no WindowExec, no corpus sort."),
    "sample_coreset_assign" ->
      ("k-center coverage summary: one scan with the codegen'd argmin/" +
        "min-distance expressions (centers are plan literals - no join to " +
        "a center table), partial HashAggregate before the single k-row " +
        "exchange."),
    "text_unigram_token_counts" ->
      ("Unigram encode (r14): the Viterbi fold runs over the DISTINCT-" +
        "word dictionary only; the corpus side joins it via " +
        "BroadcastHashJoin (never shuffles on the word) and the per-doc " +
        "aggregation is the single exchange; the vocab is ONE map " +
        "Literal, not a CreateMap tree."),
    "ann_ivf_append" ->
      ("Incremental IVF admission (r14): the batch side pays one " +
        "codegen'd argmin assignment scan; the report is two partial " +
        "HashAggregates to |cells| rows plus a broadcast of the 1-row " +
        "total - the store is unioned, never re-assigned."),
    "profile_approx" ->
      ("Approximate ANALYZE (r14, split r15): the gated plan IS the scale " +
        "plan - stats + HLL sketches with NO Expand and NO exact " +
        "count_distinct anywhere (the sketch-vs-exact validation moved to " +
        "profile_approx_audit); min/max stay inside WholeStageCodegen by " +
        "aggregating the sketches in a SEPARATE job, and only kB sketch " +
        "buffers cross the exchange."),
    "governance_k_generalize" ->
      ("Generalize-then-suppress release (r15): each arm is one map-side-" +
        "combinable groupBy to the quasi-domain-bounded group table; the " +
        "suppression anti-join null-safely broadcasts the tiny violating " +
        "list (AQE) - nothing shuffles twice, output rows = 2."),
    "media_frame_sample_real" ->
      ("REAL frame sampling (r15): header-only getNumImages inside ONE " +
        "mapPartitions decode pass (the documented multimodal escape " +
        "hatch), then a codegen'd sequence/explode - no shuffle at all; " +
        "at 100 TB the decode cost is the floor, the plan adds nothing."),
    "ann_graph_edges" ->
      ("NSW graph build (r16): ranking through the bounded KnnTopK " +
        "aggregator - ObjectHashAggregate with a partial_ map-side phase, " +
        "so at most m rows per (src, map partition) cross the shuffle; " +
        "never a window sort of the |V|^2 scored pairs. The memoized " +
        "graph serves the search queries from InMemory scan."),
    "ann_graph_edges_ivf" ->
      ("NSW scale build (r16): candidates come only from each node's " +
        "nprobe nearest trained-IVF cells - the pair generation is a " +
        "cell-key equi hash join (co-partitioned at scale), never a " +
        "cross product; dedup-by-min then bounded top-m aggregation."),
    "text_bytebpe_token_counts" ->
      ("Byte-level BPE encode (r16): the merge fold runs over the " +
        "DISTINCT-word dictionary only (|vocab| rows); the corpus side " +
        "pays a BroadcastHashJoin probe per word and ONE per-doc " +
        "aggregation - same broadcast-dictionary shape as the char-level " +
        "and unigram encodes."),
    "ann_ivf_filtered_recall" ->
      ("Filtered-ANN recall eval (r16): the trained index is shared " +
        "across all four selectivity bands; each band's approx arm " +
        "filters the assigned store BEFORE cell probing, and the exact " +
        "arm crossJoins only the ~20-row broadcast query page (the " +
        "documented bounded-broadcast exception)."))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.prepareFixtures(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[planaudit] prepareFixtures failed: $e") }

    val sb = new StringBuilder
    // title derives from the artifact name (PLANS_r16.md -> "round 16")
    sb.append("# Physical-plan audit" +
      "_r(\\d+)".r.findFirstMatchIn(outFile).map(m => s" (round ${m.group(1)})").getOrElse("") +
      "\n\n")
    sb.append(s"Generated by `runMain graft.PlanAudit $sfDir` at sf dir `$sfDir`.\n")
    sb.append("Each section: what the plan MUST show for the design to hold at ")
    sb.append("100 TB / 1000 executors, the extracted plan facts, then the full ")
    sb.append("`explain(\"formatted\")` dump of the EXECUTED plan (queries run ")
    sb.append("once first, so AQE's final plan — runtime broadcast conversions, ")
    sb.append("coalesced partitions, codegen ids — is what appears; join picks ")
    sb.append("are size-stat-driven, so shapes that broadcast a dimension here ")
    sb.append("degrade to shuffle joins, not failures, when the side outgrows ")
    sb.append("the threshold).\n\n")

    audit.foreach { case (name, why) =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      // execute BEFORE explaining: with AQE the pre-execution dump is the
      // initial plan (isFinalPlan=false, no codegen ids, no runtime
      // broadcast conversion) — the audit wants the plan that actually ran
      try { df.collect(); () }
      catch { case e: Throwable => System.err.println(s"[planaudit] query $name failed: $e") }
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // count operators in the plan TREE only (formatted mode repeats each
      // node as a detail section below the tree); codegen spans show up as
      // distinct `[codegen id : N]` annotations
      // facts count the FINAL tree only: stop at the embedded AQE
      // "== Initial Plan ==" section and at the per-node detail blocks
      val tree = plan.linesIterator.takeWhile(l =>
        !l.startsWith("(1) ") && !l.contains("== Initial Plan ==")).mkString("\n")
      val counts = Seq("Scan parquet", "LocalTableScan", "BroadcastHashJoin",
        "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct", "ReusedExchange",
        "Exchange", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
        "TakeOrderedAndProject", "Sort", "Window", "KnnJoin")
        .map { op =>
          // the line-anchored regex already cannot match "Exchange" inside
          // a "ReusedExchange" line (the "Reused" letters block the
          // prefix), so no subtraction — subtracting the reuse count here
          // once UNDERcounted real exchanges by one per reuse node
          val n = ("(?m)^[\\s:+*-]*(?:\\([0-9]+\\) )?" +
            op + "\\b").r.findAllIn(tree).size
          op -> n
        }
        .filter(_._2 > 0)
        .map { case (op, n) => s"$op=$n" }
      val codegenSpans = "codegen id : ([0-9]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
      val facts = (counts :+ s"codegen_spans=$codegenSpans").mkString(", ")
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan)
        .toSeq.distinct.filter(_ != "PushedFilters: []")
      sb.append(s"## $name\n\n$why\n\n")
      sb.append(s"Plan facts: $facts\n")
      if (pushed.nonEmpty) sb.append(pushed.mkString("", "; ", "\n"))
      sb.append("\n```\n").append(plan.trim).append("\n```\n\n")
      println(s"PLAN $name ok")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"PLANS -> $outFile")
    spark.stop()
  }
}
