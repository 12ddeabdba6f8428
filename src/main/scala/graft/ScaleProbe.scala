package graft

import graft.index.{Grid, GridConfig}
import graft.functions.Distances
import graft.operators.{Ann, Knn}
import graft.core.Fixtures
import org.apache.spark.sql.functions._

/** Scale probe (manual main, not part of the driver contract): amplify the
  * sf0.1 embeddings 200x (~1M vectors, 64-dim), build the cell-partitioned
  * store, and run the search paths end-to-end — evidence that the pruning /
  * LSH / IVF designs execute at two orders of magnitude above the gated
  * fixtures, not just in documentation. */
object ScaleProbe extends App {
  val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[32]").config("spark.sql.shuffle.partitions", "64")
    .config("spark.ui.enabled", "false").getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"SCALE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
  }
  val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
  val nBase = base.count()
  // jittered copies to ~1M rows: deterministic per-copy offset keeps the
  // geometry realistic; jitter arithmetic stays FLOAT (the store schema)
  val reps = math.max(1L, 1000000L / nBase)
  val big = base.crossJoin(spark.range(reps).toDF("rep"))
    .select(
      (col("vec_id") * reps + col("rep")).as("vec_id"),
      transform(col("embedding"),
        x => (x + (pmod(col("rep") * 37, lit(100)).cast("double") - 50.0) / 5000.0).cast("float"))
        .as("embedding"),
      col("label"))
  val cfg = GridConfig(dim = Fixtures.Dim, lower = -0.6, upper = 0.6, partsPerDim = 4, gridDims = 3)
  val store = "/tmp/graft_scale_store"
  t(s"build+write store (${nBase * reps} rows)") {
    Grid.withCellId(big, "embedding", cfg)
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(store)
  }
  val indexed = spark.read.parquet(store)
  val counts = t("cell counts (index stats)") {
    Knn.cellCounts(indexed)
  }
  t("pruned kNN k=10 (warm 2nd run)") {
    Knn.prunedSearch(indexed, cfg, Fixtures.Q64, 10, cellCountsCache = Some(counts))
  }
  val pruned = t("pruned kNN k=10") {
    Knn.prunedSearch(indexed, cfg, Fixtures.Q64, 10, cellCountsCache = Some(counts))
  }
  val brute = t("brute kNN k=10") {
    Knn.bruteForce(indexed, Distances.squaredL2Lit(col("embedding"), Fixtures.Q64), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
  }
  assert(pruned.map(n => (n.vec_id, n.dist)) == brute, "pruned != brute at scale")
  println("SCALE pruned == brute: OK")

  // Greedy k-center coreset at 1M rows (r13): k rounds of one codegen'd
  // VecMinDistL2 scan + distributed top-1 each — the cost model is
  // k scans, flat driver memory (k centers), no shuffle anywhere.
  {
    val centers = t("k-center coreset k=16 (1M)") {
      graft.operators.Coreset.kCenterGreedy(indexed, k = 16)
    }
    assert(centers.size == 16 && centers.map(_.vecId).distinct.size == 16,
      "coreset centers not distinct")
    val covs = centers.drop(1).map(_.rCov)
    assert(covs.zip(covs.tail).forall { case (a, b) => a >= b },
      "coreset r_cov not non-increasing")
    val summ = t("k-center assign summary (1M)") {
      graft.operators.Coreset.kCenterAssignSummary(indexed, k = 16).collect()
    }
    assert(summ.map(_.getLong(1)).sum == nBase * reps,
      "coreset assignment lost rows")
    println(f"SCALE   coreset r_cov(1)=${centers(1).rCov}%.4f r_cov(15)=${centers.last.rCov}%.4f")
  }
  // Quantile-calibrated grid at 1M SKEWED rows (r11): square the jittered
  // coordinates so mass piles toward 0 — the regime where the equal-width
  // grid's docstring caveat bites (reference kd_tree_database.py:226-233).
  // The quantile grid must (a) calibrate in one aggregation, (b) hold a
  // materially more even cell population than equal width at the same
  // cell count, (c) stay EXACT under pruning.
  locally {
    val skew = big.select(col("vec_id"),
      transform(col("embedding"), x => (x * x).cast("float")).as("embedding"),
      col("label")).localCheckpoint(true)
    val qcfg = t("quantile calibrate (1M skewed)") {
      graft.index.QuantileGrid.calibrate(skew, "embedding", partsPerDim = 4,
        gridDims = 3, dim = Fixtures.Dim)
    }
    val qIdx = Grid.withCellId(skew, "embedding", qcfg)
      .localCheckpoint(true)
    val eCfg = GridConfig(dim = Fixtures.Dim, lower = 0.0, upper = 0.4,
      partsPerDim = 4, gridDims = 3)
    def maxCell(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("cell_id").count().agg(max("count")).head().getLong(0)
    val (qMax, eMax) = t("cell balance (quantile vs equal)") {
      (maxCell(qIdx), maxCell(Grid.withCellId(skew, "embedding", eCfg)))
    }
    println(s"SCALE   max cell: quantile $qMax vs equal-width $eMax")
    assert(qMax * 2 < eMax,
      s"quantile grid not materially more balanced: $qMax vs $eMax")
    val q2 = Fixtures.Q64.map(x => x * x)
    val qPruned = t("quantile pruned kNN k=10") {
      Knn.prunedSearch(qIdx, qcfg, q2, 10, bruteForceThreshold = 0L)
    }
    val qBrute = t("quantile brute kNN k=10") {
      Knn.bruteForce(skew, Distances.squaredL2Lit(col("embedding"), q2), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    }
    assert(qPruned.map(n => (n.vec_id, n.dist)) == qBrute,
      "quantile pruned != brute at scale")
    println("SCALE quantile pruned == brute: OK")
  }
  t("MaxSim late-interaction top-10 (1M x 4x16)") {
    indexed.select(col("vec_id"),
        graft.operators.LateInteraction.maxSimLit(col("embedding"), Fixtures.Q64, 4)
          .as("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id").asc).limit(10).count()
  }
  // kNN JOIN comparison in the cell join's regime: LOW-dim fully-gridded
  // data (at 64 dims with 3 gridded, no box short of everything certifies
  // the full-dim kth distance — curse of dimensionality; that regime
  // belongs to the brute-force KnnJoinPlan join or IVF/LSH, see
  // KnnCellJoin docs). The two batch joins: cell-pruned vs brute force.
  val cfg4 = GridConfig(dim = 4, lower = -0.6, upper = 0.6, partsPerDim = 8, gridDims = 4)
  val db4 = Grid.withCellId(
    big.select(col("vec_id"), slice(col("embedding"), 1, 4).as("embedding")),
    "embedding", cfg4).localCheckpoint(true)
  val probeQueries4 = db4.filter(pmod(col("vec_id"), lit(10000)) === 7)
    .select(col("vec_id").as("query_id"), col("embedding"))
  t("cell-pruned kNN join 4-dim (100 q x 1M db)") {
    graft.operators.KnnCellJoin.join(probeQueries4, db4, cfg4, k = 10).count()
  }
  t("cross kNN join 4-dim (100 q x 1M db)") {
    graft.plans.KnnJoinPlan.join(probeQueries4, db4, k = 10).count()
  }
  // Batch MaxSim join at 1M: 16 queries × 1M corpus through the fused
  // VecMaxSimCols kernel + bounded top-k aggregator — the late-interaction
  // retrieval shape of sim_maxsim_join at production row counts.
  t("MaxSim join (16 q x 1M, fused kernel)") {
    val qs = indexed.filter(pmod(col("vec_id"), lit(62500L)) === 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cands = indexed.crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        (-graft.operators.LateInteraction.maxSimCols(
          col("qv"), col("embedding"), Fixtures.Dim, 4)).as("dist"))
    val n = graft.operators.KnnTopK.topK(cands, 3).count()
    assert(n > 0 && n <= 16 * 3, s"unexpected maxsim join size $n")
  }
  t("banded LSH near-dup (0.1% sample)") {
    Ann.lshBandedNearDupPairs(
      indexed.filter(pmod(col("vec_id"), lit(1000)) === 0), Fixtures.Planes16,
      Fixtures.Dim, bandBits = 4, minCosine = 0.35).count()
  }
  // Text near-dup at 100k replicated docs: exact-dedup FIRST collapses the
  // replicas, keeping LSH's bucket cliques linear. (LSH directly on the
  // replicated corpus would enumerate ~C(200,2) pairs per document —
  // millions of candidates that all verify at jaccard 1.0.)
  val docsBase = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
  val nDocs = docsBase.count()
  val docReps = math.max(1L, 100000L / nDocs)
  val bigDocs = docsBase.crossJoin(spark.range(docReps).toDF("rep"))
    .select((col("doc_id") * docReps + col("rep")).as("doc_id"), col("text"))
    .repartition(64)
  t(s"exact-dedup ${nDocs * docReps} replicated docs") {
    println(s"SCALE   canonical docs: " + graft.operators.Dedup.exactDedup(bigDocs).count())
  }
  t("near-dup pipeline (exact first, then LSH)") {
    graft.operators.Dedup.nearDupPipeline(bigDocs).count()
  }
  // Per-row repetition signals at 100k docs: the sorted-bigram run-length
  // aggregate must stay in codegen (no shuffle — a per-doc statistic never
  // leaves its row; the groupBy formulation would shuffle the exploded
  // corpus twice).
  t("repetition signals (100k docs)") {
    graft.operators.TextAnalysis.repetitionSignals(bigDocs)
      .write.format("noop").mode("overwrite").save()
  }
  // r12 qnorm chunking at its design point: 1M rows with 90% of the
  // corpus on ONE quantized score — the pooled rank explode must stream
  // the hot bucket as ⌈900k/64k⌉ = 14 chunks instead of materializing a
  // 900k-element array in a single task.
  t("quantile normalize, 90% hot bucket (1M rows)") {
    val df = spark.range(1000000L).select(col("id").as("doc_id"),
      (col("id") % 4).cast("string").as("source"),
      when(pmod(col("id"), lit(10)) =!= 0, lit(0.0))
        .otherwise(pmod(col("id"), lit(97)).cast("double") / 97.0).as("q"))
    graft.operators.Governance.quantileNormalize(df, "source",
        round(col("q"), 4).cast(org.apache.spark.sql.types.DecimalType(9, 4)))
      .write.format("noop").mode("overwrite").save()
  }
  // Round-10 curation stack end-to-end at 1M docs: Gopher gate (map-side,
  // pushed into the scan) → perplexity buckets (broadcast-model scoring;
  // the only corpus-sized shuffles are the bigram model build and the
  // per-doc aggregation) → exact dedup (digest groupBy) → epoch shuffle
  // (one hash exchange + per-shard sort). The replicated corpus collapses
  // at the dedup stage — the funnel a crawl corpus actually has.
  t("curation stack v2 (1M docs)") {
    val vReps = math.max(1L, 1000000L / nDocs)
    val big1m = docsBase.crossJoin(spark.range(vReps).toDF("rep"))
      .select((col("doc_id") * vReps + col("rep")).as("doc_id"), col("text"))
      .repartition(64)
    val train = big1m.filter(col("doc_id") % 10 === 0)
    val gated = big1m.filter(col("doc_id") % 10 =!= 0 &&
      graft.operators.TextAnalysis.gopherKeep(col("text")))
    val buckets = graft.operators.LangModel.perplexityBuckets(train, gated)
      .filter(col("bucket") =!= "tail").select(col("doc_id"))
    val canon = buckets
      .join(gated.select(col("doc_id"), md5(col("text")).as("d")), "doc_id")
      .groupBy(col("d")).agg(min(col("doc_id")).as("doc_id"))
    val out = graft.operators.Governance.epochShuffle(
      canon.select(col("doc_id")), col("doc_id"), seed = 7, nShards = 64)
    val (survivors, maxPos) = {
      val r = out.agg(count(lit(1)), max(col("pos"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    }
    println(s"SCALE   v2 survivors: $survivors (max shard fill $maxPos)")
    assert(survivors > 0 && maxPos.toLong <= survivors)
  }
  val cents = t("IVF centroids + lloyd step") {
    val c0 = Ann.sampleCentroids(indexed, 64)
    Ann.lloydStep(Ann.assign(indexed, c0), c0)
  }
  // Assignment is INDEX BUILD (paid once per store generation, maintained
  // incrementally per ann_ivf_incremental) — materialize it apart from the
  // query stages so they measure serving cost, not build cost.
  val ivfAssigned = t("IVF assign 1M rows (index build)") {
    Ann.assign(indexed, cents).localCheckpoint(true)
  }
  t("IVF probe nprobe=8") {
    Ann.search(ivfAssigned, cents, Fixtures.Q64, 10, nprobe = 8).collect()
  }
  // Incremental admission (r14): a 1% batch assigned to the frozen
  // centroids + appended — the daily-drop path. Timed against the full
  // rebuild above ("IVF assign 1M rows"): admission must scale with the
  // BATCH, not the store.
  t("IVF admit 1% batch (O(batch) vs rebuild)") {
    val batch = indexed.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"),
        col("label"), col("cell_id"))
    val admitted = Ann.admitBatch(
      ivfAssigned, batch.select(ivfAssigned.columns.filter(_ != "ivf_cell").map(col): _*),
      cents).localCheckpoint(true)
    val rep = Ann.admissionReport(ivfAssigned, admitted, nCells = 64, maxLoad = 2.0)
      .collect()
    val admittedN = rep.map(_.getLong(3)).sum
    println(s"SCALE   admitted $admittedN rows; hot cells: ${rep.count(_.getInt(5) == 1)}")
    assert(admittedN > 0)
  }
  t("IVF batch join (100 q x 1M db, nprobe=8/64)") {
    Ann.ivfJoin(probeQueries4.withColumnRenamed("embedding", "q64")
        .join(indexed.select(col("vec_id").as("query_id"), col("embedding")), "query_id")
        .select(col("query_id"), col("embedding")),
      ivfAssigned, cents, k = 10, nprobe = 8).count()
  }
  // PQ at 1M rows: train on a 2k hash-ordered sample, codegen'd encode of
  // the full store, ADC scan + exact re-rank.
  val pqModel = t("PQ train (m=16, ksub=32)") {
    graft.operators.Pq.train(indexed, Fixtures.Dim, m = 16, ksub = 32)
  }
  val pqEncoded = t("PQ encode 1M rows") {
    val e = graft.operators.Pq.encode(indexed, pqModel).localCheckpoint(true)
    e
  }
  t("PQ ADC search + refine (k=10)") {
    graft.operators.Pq.search(pqEncoded, pqModel, Fixtures.Q64, 10).collect()
  }
  // Approximate vs exact column profile (r14): same 5 columns, the exact
  // pass pays the |cols|x Expand multi-distinct, the approx pass is ONE
  // flat HLL++ aggregation — the ANALYZE default past fixture scale.
  locally {
    import graft.operators.Profile
    // 6M rows (10x sf0.1 lineitem, ids re-keyed so distinct counts grow
    // too) x the FULL 16-column schema — the real ANALYZE shape, where
    // the exact pass's |cols|x Expand multi-distinct dominates and the
    // one-pass HLL++ profile is the design point
    val raw = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.1")
    val li = raw.crossJoin(spark.range(10).toDF("rep"))
      .select((col("l_orderkey") * 10 + col("rep")).as("l_orderkey") +:
        raw.columns.filterNot(_ == "l_orderkey").map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    li.count() // warm the cache so both arms time aggregation, not IO
    val pcols = Seq(
      "l_orderkey" -> Profile.Num, "l_partkey" -> Profile.Num,
      "l_suppkey" -> Profile.Num, "l_linenumber" -> Profile.Num,
      "l_quantity" -> Profile.Num, "l_extendedprice" -> Profile.Num,
      "l_discount" -> Profile.Num, "l_tax" -> Profile.Num,
      "l_returnflag" -> Profile.Str, "l_linestatus" -> Profile.Str,
      "l_shipdate" -> Profile.Ts)
    t("profile EXACT (6M x 11 cols)") {
      Profile.profile(li, pcols).write.format("noop").mode("overwrite").save()
    }
    t("profile APPROX (6M x 11 cols)") {
      Profile.profileApprox(li, pcols, rsd = 0.02)
        .write.format("noop").mode("overwrite").save()
    }
    li.unpersist()
    ()
  }
  // Distributed connected components above the driver threshold: a 1M-node
  // random-ish graph (each node linked to node/2 → one giant component per
  // power-of-two chain) forces the min-label loop path at scale.
  t("distributed CC (1M nodes, loop path)") {
    val ccEdges = spark.range(1L, 1000000L)
      .select(col("id").as("id_a"), (col("id") / 2).cast("long").as("id_b"))
    val cc = graft.operators.Dedup.connectedComponents(
      ccEdges.toDF(), driverThreshold = 0, maxIter = 15)
    val distinctLabels = cc.select("canonical").distinct().count()
    assert(distinctLabels == 1L, s"expected 1 component, got $distinctLabels")
  }
  // Salted join on a power-law key: 1M facts, 90% on one hot key — the
  // shuffle spreads the hot key over saltBuckets reducers.
  t("salted join (1M skewed facts x 10k dim)") {
    val facts = spark.range(1000000L)
      .select(col("id").as("row_id"),
        when(pmod(col("id"), lit(10)) =!= 0, lit(7L))
          .otherwise(pmod(col("id"), lit(10000))).as("k"))
    val dim = spark.range(10000L).select(col("id").as("dk"), (col("id") * 2).as("payload"))
    val n = graft.operators.SaltedJoin.join(
      facts.toDF(), dim.toDF(), "k", "dk", salt = col("row_id"), saltBuckets = 32).count()
    assert(n == 1000000L, s"salted join lost rows: $n")
  }
  // Heavy hitters on 5M zipf-ish rows: the candidate shuffle carries only
  // O(partitions × 1/minShare) rows, recount joins a broadcast candidate set.
  t("heavy hitters (5M rows, minShare 1%)") {
    val zipf = spark.range(5000000L)
      .select(concat(lit("v"), (lit(100L) / (pmod(col("id") * 2654435761L, lit(100L)) + 1L)).cast("long").cast("string")).as("k"))
    val hh = graft.operators.Freq.heavyHitters(zipf, "k", 0.01).collect()
    // meaningful bounds: the dominant key ("v1", ~half the rows) must be
    // found with its true count, and candidates can't exceed 1/minShare
    assert(hh.length >= 1 && hh.length <= 100, s"got ${hh.length} hitters")
    val v1 = hh.find(_.getString(0) == "v1").map(_.getLong(1)).getOrElse(0L)
    assert(v1 >= 2000000L, s"dominant key count $v1")
  }
  // Keyed interval join at 1M x 1M: equi-join on the key + band filter.
  t("interval join (1M x 1M, 60s band)") {
    val l = spark.range(1000000L).select(col("id").as("lid"),
      pmod(col("id"), lit(20000)).as("lk"),
      timestamp_seconds(lit(1700000000L) + pmod(col("id") * 7, lit(86400))).as("lt"))
    val r = spark.range(1000000L).select(col("id").as("rid"),
      pmod(col("id"), lit(20000)).as("rk"),
      timestamp_seconds(lit(1700000000L) + pmod(col("id") * 13, lit(86400))).as("rt"))
    graft.streaming.StreamJoin.batch(l, r, "lk", "rk", "lt", "rt", 60L).count()
  }
  // Forward as-of at 1M x 1M: one shuffle, window pass.
  t("as-of join forward (1M x 1M)") {
    val left = spark.range(1000000L).select(col("id").as("eid"),
      pmod(col("id"), lit(50000)).as("k"), (col("id") * 7 % 1000000).as("t"))
    val right = spark.range(1000000L).select(
      pmod(col("id"), lit(50000)).as("rk"), (col("id") * 13 % 1000000).as("rt"),
      col("id").as("payload"))
    graft.operators.AsOfJoin.asOf(left.toDF(), right.toDF(),
      "k", "rk", "t", "rt", Seq("payload"), "payload", direction = "forward").count()
  }
  // Bigram LM at 100k docs (~5M bigrams): the model tables stay dictionary
  // -sized and broadcast; the corpus side is one map-side pass + one
  // per-doc aggregation.
  t("bigram LM train+score (100k docs)") {
    graft.operators.LangModel.scoreHeldOut(
      bigDocs.filter(col("doc_id") % 10 === 0),
      bigDocs.filter(col("doc_id") % 10 === 5))
      .write.format("noop").mode("overwrite").save()
  }
  // BPE training at 100k docs: the corpus collapses to word-freq once;
  // iterations run on the constant-size dictionary regardless of corpus
  // rows (this probe's vocabulary is the fixture's ~40 words).
  t("BPE train 4 merges (100k docs)") {
    graft.operators.Bpe.train(bigDocs, nMerges = 4).count()
  }
  // BPE at realistic tokenizer vocabulary scale: 1000 merges over a
  // 20k-word dictionary with dense pair structure (32-hex-char words).
  // The dictionary fits DriverDictLimit, so after the ONE wordFreq probe
  // the whole merge loop runs driver-side — zero Spark jobs per merge; a
  // 32k-merge production tokenizer is this same loop, not 2·32k jobs.
  t("BPE train 1000 merges, driver path (20k vocab)") {
    val synth = spark.range(20000L).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("text"))
    assert(graft.operators.Bpe.train(synth, nMerges = 1000).count() == 1000L)
  }
  // BM25 at 100k docs: corpus stats collapse to broadcast scalars, then
  // one codegen'd scoring pass + distributed top-k — linear in corpus.
  t("BM25 top-10 (100k docs)") {
    graft.operators.TextAnalysis.bm25TopK(
      bigDocs, Seq("spark", "table", "query"), k = 10).count()
  }
  // SQ8 integer distance top-k at 1M×64: the per-element inline
  // quantization must stay in whole-stage codegen — the HOF-based form
  // this replaced was the argmin-regression class this probe exists for.
  t("SQ8 top-10 (1M x 64)") {
    indexed.select(col("vec_id"),
        graft.operators.Quantize.sq8DistLit(col("embedding"), 0.005,
          graft.core.Fixtures.Q64).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .write.format("noop").mode("overwrite").save()
  }
  // PCA at 1M×8: the corpus collapses to 64 decimal-exact sums in one
  // pass; driver work is O(iters·dims²) regardless of rows.
  t("PCA gram+power iteration (1M x 8)") {
    val v = graft.operators.Pca.topComponent(indexed, dims = 8, iters = 3)
      .collect().map(_.getDouble(1))
    val n = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(n - 1.0) < 1e-9, s"non-unit component norm $n")
  }
  // Hybrid retrieval at scale: BM25 page over 100k docs + cosine page over
  // 1M vectors, fused by integer-exact RRF — each retriever is a
  // distributed top-k; fusion touches only the two bounded pages.
  t("RRF hybrid (100k docs + 1M vectors)") {
    val lex = graft.operators.Rerank.rankPage(
      graft.operators.TextAnalysis.bm25TopK(bigDocs, Seq("spark", "table", "query"), 20),
      "doc_id", "bm25")
    val vec = graft.operators.Rerank.rankPage(
      indexed.select(col("vec_id").as("doc_id"),
          Distances.cosineSimLit(col("embedding"), Fixtures.Q64).as("cs"))
        .orderBy(col("cs").desc, col("doc_id").asc).limit(20),
      "doc_id", "cs")
    assert(graft.operators.Rerank.rrf(lex, vec, "doc_id", 10).count() == 10L)
  }
  // MMR over 1M vectors: stage 1 (scoring + top-20 + 20² pair matrix) is
  // distributed; the driver selects 5 of 20.
  t("MMR diversified top-5 (1M vectors)") {
    assert(graft.operators.Rerank.mmr(indexed, Fixtures.Q64, Fixtures.Dim,
      nCand = 20, k = 5).count() == 5L)
  }
  // Column profiling at 3M rows × 5 columns: split stat/distinct jobs.
  t("profile 5 cols (3M rows)") {
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .crossJoin(spark.range(5).toDF("rep"))
    graft.operators.Profile.profile(li, Seq(
        "l_orderkey" -> graft.operators.Profile.Num,
        "l_quantity" -> graft.operators.Profile.Num,
        "l_extendedprice" -> graft.operators.Profile.Num,
        "l_returnflag" -> graft.operators.Profile.Str,
        "l_shipdate" -> graft.operators.Profile.Ts))
      .write.format("noop").mode("overwrite").save()
  }
  // Zone-map skipping at 3M rows: month-bucketed layout, 3-month window —
  // pruned scan must equal the plain filter while consulting only
  // overlapping buckets.
  t("zone-map pruned scan (3M rows)") {
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .crossJoin(spark.range(5).toDF("rep"))
      .withColumn("bucket", (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
    val lo = lit("1996-03-01").cast("timestamp"); val hi = lit("1996-06-01").cast("timestamp")
    val (pruned, nb) = graft.index.ZoneMap.pruneScan(li, col("bucket"), col("l_shipdate"), lo, hi)
    val plain = li.filter(col("l_shipdate") >= lo && col("l_shipdate") < hi).count()
    assert(pruned.count() == plain && nb == 3, s"zonemap mismatch (nb=$nb)")
  }
  // Triangle counting on a 2M-edge chord graph with a KNOWN count:
  // edges (i,i+1) and (i,i+2) close exactly N-2 triangles.
  t("triangles (1M nodes, 2M edges)") {
    val n = 1000000L
    val e1 = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val e2 = spark.range(n - 2).select(col("id").as("src"), (col("id") + 2).as("dst"))
    val tri = graft.operators.GraphOps.summary(e1.union(e2).toDF())
      .collect().head.getLong(2)
    assert(tri == n - 2, s"expected ${n - 2} triangles, got $tri")
  }
  // SCD2 + time-weighted averages over 1M change-log rows (10× replicated
  // events with disjoint users per replica): one (key, time) shuffle each.
  t("SCD2 history (1M events)") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.1")
    val nEv = ev.count()
    val big = ev.crossJoin(spark.range(math.max(1L, 1000000L / nEv)).toDF("rep"))
      .select((col("event_id") * 100 + col("rep")).as("event_id"),
        (col("user_id") * 100 + col("rep")).as("user_id"), col("event_type"), col("ts"), col("value"))
      .localCheckpoint(true)
    graft.operators.Snapshot.scd2(big, "user_id", "event_type", "ts", "event_id")
      .write.format("noop").mode("overwrite").save()
  }
  // Banded skyline at 1M points: the broadcast band-max prefilter must
  // leave a tiny exact pass; verify frontier size and mutual non-dominance
  // on a sample of the result.
  t("banded skyline (1M points)") {
    val pts = spark.range(1000000L).select(col("id"),
      pmod(col("id") * 2654435761L, lit(1000000L)).as("x"),
      pmod(col("id") * 40503L, lit(1000000L)).as("y"))
    val front = graft.operators.Skyline.pareto2dBanded(
      pts, col("x"), col("y"), bandWidth = 10000L).collect()
    assert(front.nonEmpty && front.length < 10000, s"frontier ${front.length}")
    val f = front.map(r => (r.getLong(1), r.getLong(2)))
    f.take(200).foreach { case (x, y) =>
      assert(!f.exists { case (sx, sy) => sx <= x && sy >= y && (sx < x || sy > y) })
    }
  }
  t("time-weighted avg (1M events)") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.1")
    val nEv = ev.count()
    val big = ev.crossJoin(spark.range(math.max(1L, 1000000L / nEv)).toDF("rep"))
      .select((col("event_id") * 100 + col("rep")).as("event_id"),
        (col("user_id") * 100 + col("rep")).as("user_id"), col("ts"), col("value"))
    graft.operators.TimeSeries.timeWeightedAvg(big, "user_id", "ts", "value", "event_id")
      .write.format("noop").mode("overwrite").save()
  }
  // Banded MIPS at 1M×64: weight bands scanned in descending bound order
  // must equal the brute weighted-dot top-k — the exactness claim of the
  // widening loop two orders of magnitude above the gated fixture.
  t("banded MIPS pruned == brute (1M)") {
    val wstore = indexed
      .withColumn("weight", (lit(1) + pmod(col("vec_id"), lit(10))).cast("double"))
      .withColumn("band", pmod(col("vec_id"), lit(10)).cast("long"))
      .localCheckpoint(true)
    val pruned = graft.operators.Mips.prunedTopK(spark, wstore, Fixtures.Q64, 10,
        bruteForceThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val bruteDot = wstore
      .withColumn("dot", col("weight") * Distances.dotLit(col("embedding"), Fixtures.Q64))
      .orderBy(col("dot").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dot"))).toSeq
    assert(pruned == bruteDot, "MIPS pruned != brute at scale")
  }
  // Count-min at 100k docs (~5M token occurrences): the sketch shuffle is
  // bounded by d×w cells per partition; estimates must dominate exact
  // counts (the never-underestimate guarantee) on the top terms.
  t("count-min sketch+lookup (100k docs)") {
    val toks = bigDocs.select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val sketch = graft.operators.Freq.countMinSketch(toks, "term", depth = 4, width = 512)
      .localCheckpoint(true)
    val probes = toks.groupBy("term").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term").asc).limit(10)
    val est = graft.operators.Freq.countMinLookup(sketch, probes, "term", 4, 512).collect()
    est.foreach(r => assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("exact_n")))
  }
  // Repeated n-gram spans at 100k replicated docs: every doc is a replica,
  // so each >=5-word doc must collapse to ONE whole-doc span — and the
  // flagged-gram window runs on the full exploded corpus.
  t("repeated n-gram spans (100k docs)") {
    val spans = graft.operators.Dedup.repeatedNgramSpans(bigDocs, n = 5)
      .localCheckpoint(true)
    val nSpans = spans.count()
    val nEligible = bigDocs.filter(size(split(col("text"), " ")) >= 5).count()
    assert(nSpans == nEligible, s"expected $nEligible whole-doc spans, got $nSpans")
  }
  // Incremental dedup: index BUILD (once per store generation, appended
  // per ingest in production) timed apart from the per-batch admission
  // probe — probes scale with the batch; the corpus never self-joins.
  val dedupIdx = t("dedup index build (95k corpus)") {
    val idx = graft.operators.Dedup.buildDedupIndex(
      bigDocs.filter(pmod(col("doc_id"), lit(20)) =!= 0))
    idx.digests.count(); idx.buckets.count(); idx.sets.count() // materialize
    idx
  }
  t("incremental dedup admit (5k batch)") {
    val verdicts = graft.operators.Dedup.admitBatch(dedupIdx,
        bigDocs.filter(pmod(col("doc_id"), lit(20)) === 0))
      .groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // replicas guarantee every batch doc has an exact corpus twin
    assert(verdicts.getOrElse("exact", 0L) > 0L && verdicts.getOrElse("keep", 0L) == 0L,
      s"unexpected verdicts $verdicts")
  }
  // PageRank at ~2M directed edges: three supersteps of join+aggregation;
  // per-node rounding is 1e-9, so total mass must stay within 1e-3 of 1.
  t("PageRank (1M nodes, 2M edges, 3 iters)") {
    val n = 1000000L
    val e1 = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val e2 = spark.range(n - 2).select(col("id").as("src"), (col("id") + 2).as("dst"))
    val mass = graft.operators.GraphOps.pageRank(e1.union(e2).toDF(), iters = 3)
      .agg(sum(col("pr"))).collect()(0).getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"mass $mass")
  }
  // Supervised NB at 100k labeled docs: the closed-form fit is two flat
  // aggregations; scoring is one broadcast-join pass over test tokens.
  t("NB classifier train+score (100k docs)") {
    val labeled = docsBase.crossJoin(spark.range(docReps).toDF("rep"))
      .select((col("doc_id") * docReps + col("rep")).as("doc_id"),
        col("text"), col("lang"))
    val conf = graft.operators.NaiveBayes.confusion(
      labeled.filter(col("doc_id") % 2 === 0),
      labeled.filter(col("doc_id") % 2 === 1))
    assert(conf.agg(sum(col("n"))).collect()(0).getLong(0) > 0L)
  }
  // Grid-density clustering at 1M points: the cell histogram is the only
  // corpus-scale stage; everything after runs on ≤1024 cells.
  t("grid-density clustering (1M pts)") {
    val cfg2 = GridConfig(dim = Fixtures.Dim, lower = -0.4, upper = 0.4,
      partsPerDim = 32, gridDims = 2)
    val sum = graft.operators.DensityCluster
      .gridClusterSummary(indexed, "embedding", cfg2, minPts = 50)
      .collect()
    assert(sum.nonEmpty && sum.map(_.getLong(2)).sum <= nBase * reps)
    val assigned = graft.operators.DensityCluster
      .assign(indexed, "vec_id", "embedding", cfg2, minPts = 50).count()
    assert(assigned == nBase * reps, "assign labels every point")
  }
  // Letter entropy at 100k docs: one codegen'd byte-scan per row, zero
  // shuffles; PMI collocations: two count aggregations + vocab-sized joins.
  t("letter entropy + PMI (100k docs)") {
    val ent = graft.operators.TextAnalysis.letterEntropy(bigDocs)
    assert(ent.agg(min(col("entropy"))).collect()(0).getDouble(0) >= 0.0)
    val pmi = graft.operators.TextAnalysis.pmiBigrams(bigDocs, minCount = 50, k = 10)
      .collect()
    assert(pmi.nonEmpty)
  }
  // PSI drift at 1M events: two flat aggregations; output is |types|×1.
  t("PSI drift (1M events)") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.1")
    val nEv = ev.count()
    val big = ev.crossJoin(spark.range(math.max(1L, 1000000L / nEv)).toDF("rep"))
      .withColumn("bin", least(floor(col("value") / lit(50.0)), lit(9.0)).cast("long"))
      .withColumn("is_ref", dayofmonth(col("ts")) <= 15)
    val psi = graft.operators.Drift.psi(big, "event_type", "bin", "is_ref", 10).collect()
    assert(psi.length == 5 && psi.forall(r => r.getDouble(1) >= 0.0))
  }
  // kth-NN outlier scoring: 1k scored rows (the broadcast side) against
  // the 1M-row corpus — corpus side never shuffles; the window runs on
  // 1k × 1M candidate pairs cut by the broadcast-pairs kernel.
  t("kth-NN outlier scores (1k vs 1M)") {
    val scored = graft.operators.Outlier.kthNnDistance(
        indexed, indexed.filter(col("vec_id") % 1000 === 0),
        k = 5, dim = Fixtures.Dim, threshold = 1e9)
      .count()
    assert(scored >= 999, s"scored only $scored")
  }
  // Bucketed co-located join at 1M x 1M: both sides written bucketed on
  // vec_id, joined with broadcast disabled — zero shuffle exchanges.
  t("bucketed 1M x 1M join (0 shuffles)") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      graft.store.Bucketed.writeBucketed(
        indexed.select(col("vec_id"), col("label")), "probe_a_bk", "vec_id", 16)
      graft.store.Bucketed.writeBucketed(
        indexed.select(col("vec_id"), col("cell_id")), "probe_b_bk", "vec_id", 16)
      val j = spark.table("probe_a_bk")
        .join(spark.table("probe_b_bk"), Seq("vec_id"))
      val nShuffles = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      assert(nShuffles == 0, s"expected 0 shuffles, got $nShuffles")
      assert(j.count() == nBase * reps)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }
  // Global row numbering at 1M rows: range partition + zipWithIndex —
  // dense 1..n with NO single-task stage (the unpartitioned-window form
  // would funnel all 1M rows through one task).
  t("global row_number (1M, dense)") {
    val ranked = graft.operators.Ranking.globalRowNumber(
      indexed.select(col("vec_id"), col("label")),
      Seq(col("label").asc, col("vec_id").asc), "rnk", numPartitions = 64)
    val mm = ranked.agg(min("rnk"), max("rnk"), count(lit(1))).head()
    assert(mm.getLong(0) == 1L && mm.getLong(1) == mm.getLong(2),
      s"ranks not dense: $mm")
  }
  // Fractional-epoch upsampling at 1M rows: map-side explode, realized
  // copy count within 1% of rate * n.
  t("epoch upsample 2.5x (1M)") {
    val n = graft.operators.Governance.epochUpsample(
      indexed.select(col("vec_id")).withColumn("rate", lit(2.5)),
      col("vec_id"), col("rate")).count()
    val want = 2.5 * nBase * reps
    assert(math.abs(n - want) / want < 0.01, s"copies $n vs $want")
  }
  // Auto-pruned radius at 1M: a PLAIN distance filter over the
  // cell-partitioned store, pruning injected by the optimizer rule —
  // must equal the unpruned filter while reading a fraction of cells.
  t("auto-pruned radius rule (1M)") {
    graft.plans.GridRadiusPruning.register(spark, cfg, store)
    val dist = Distances.squaredL2Lit(col("embedding"), Fixtures.Q64)
    val auto = indexed.filter(dist <= lit(0.9)).count()
    spark.conf.unset(graft.plans.GridRadiusPruning.ConfKey)
    val plain = indexed.filter(dist <= lit(0.9)).count()
    assert(auto == plain, s"auto $auto != plain $plain")
  }
  // Greedy max-coverage over the 100k replicated-doc corpus (r13): k
  // anti-join + gain-count + top-1 rounds; the covered set is bounded by
  // vocabulary. Replication makes later gains collapse fast — the greedy
  // must keep gains non-increasing and never pick a zero-gain doc.
  t("greedy max-coverage k=8 (100k docs)") {
    val picks = graft.operators.Coverage.selectByWordCoverage(bigDocs, k = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(picks.nonEmpty && picks.forall(_._2 > 0L), "zero-gain pick")
    val gs = picks.map(_._2)
    assert(gs.zip(gs.tail).forall { case (a, b) => a >= b }, "gains increased")
    println(s"SCALE   coverage picks: ${picks.length}, gains ${gs.mkString(",")}")
  }
  // Bounded priority sample at 1M (r13): the aggregator form must equal
  // the window row_number formulation on the full store — at scale the
  // aggregator ships <= R rows per key per map task where the window
  // shuffles all 1M; equality is the license to use the cheap plan.
  t("priority sample 16 keys x top-20 (1M)") {
    import org.apache.spark.sql.expressions.Window
    val keyed = indexed.select(col("vec_id"),
      (col("vec_id") % 16).cast("string").as("src"),
      (lit(0.25) + (col("vec_id") % 7).cast("double") * lit(0.25)).as("w"))
    val agg = graft.streaming.StreamSample.prioritySample(
        keyed, col("src"), col("vec_id"), col("w"), r = 20)
      .orderBy(col("key"), col("rank")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(agg.length == 16 * 20, s"expected 320 sampled rows, got ${agg.length}")
    val win = keyed.select(col("src"), col("vec_id"),
        graft.streaming.StreamSample.esPriority(col("vec_id"), col("w")).as("pri"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("src")).orderBy(col("pri").asc, col("vec_id").asc)))
      .filter(col("rank") <= 20)
      .orderBy(col("src"), col("rank")).collect()
      .map(r => (r.getString(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
    assert(agg.toSeq == win.toSeq, "aggregator sample != window sample at 1M")
  }
  // Exact rank-k bisection at 10M (r13): hash-shuffled permutation of
  // 0..n-1, so the k-th smallest is k-1 by construction — exactness
  // checked with zero reference cost; plus a 1000-copy-tie variant.
  t("exact median bisect (10M permutation + ties)") {
    val n = 10000000L
    val perm = spark.range(n).select(col("id"),
        pmod(col("id") * 2654435761L + 104729L, lit(n)).as("v"))
      .repartition(64).select(col("v").cast("double").as("v"))
    val k = (n + 1) / 2
    val med = graft.operators.OrderStat.kthSmallest(perm, col("v"), k).get
    assert(med == (k - 1).toDouble, s"bisect median $med != ${k - 1}")
    val p99k = (99L * n + 99L) / 100L
    val p99 = graft.operators.OrderStat.kthSmallest(perm, col("v"), p99k).get
    assert(p99 == (p99k - 1).toDouble, s"bisect p99 $p99 != ${p99k - 1}")
    val ties = perm.select((floor(col("v") / 1000.0)).cast("double").as("v"))
    val tmed = graft.operators.OrderStat.kthSmallest(ties, col("v"), k).get
    assert(tmed == ((k - 1) / 1000).toDouble, s"tied median $tmed")
    // weighted path at 10M: constant weight 3 ⇒ smallest m with 3m ≥
    // (3n+1)/2 is ceil((3n+1)/6) — the expected value is m−1 exactly.
    val wTarget = (3L * n + 1L) / 2L
    val m = (wTarget + 2L) / 3L
    val wmed = graft.operators.OrderStat.weightedRankSmallest(
      perm, col("v"), lit(3L), wTarget).get
    assert(wmed == (m - 1).toDouble, s"weighted median $wmed != ${m - 1}")
  }
  spark.stop()
}
