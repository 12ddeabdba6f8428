package graft

import org.apache.spark.sql.functions._

/** 10M-document LLM-pipeline probe (manual main, like [[ScaleProbe]]):
  * amplify the sf0.1 documents 5000× with a REALISTIC duplication mix and
  * run the curation path end-to-end — exact dedup → LSH near-dup →
  * incremental admission → full curate() — checking that no stage goes
  * quadratic in the corpus. Wall times recorded in SCALE_NOTES.md.
  *
  * Duplication mix per (base doc, rep):
  *   - rep % 5 == 0  → EXACT copy (1000-copy cliques; exact dedup's
  *     groupBy(digest) collapses any clique size in one shuffle)
  *   - rep % 200 == 1 → NEAR-dup pocket: ONE word substituted, pocket
  *     size 25 per base (bounded cliques — the realistic boilerplate
  *     case; candidate pairs stay ≤ pocket² per base)
  *   - otherwise     → UNIQUE variant: every 3rd word replaced by a
  *     row-unique token, so every width-3 shingle touches a unique token
  *     and the doc shares no shingles with anything — LSH buckets stay
  *     singletons and the near-dup pass stays linear
  *
  * Also probes the r7 scaled-SemDeDup shape at 1M vectors: stratified
  * seeded codebook, argmin assignment, per-cell population bound. (At
  * k ≳ 10⁴ the flat argmin is O(k·dim) per row — the production path for
  * huge k is two-level assignment, coarse-then-fine; the declared query's
  * k = n/64 is exercised here at the 1024-centroid cap.)
  */
object ScaleProbe10M extends App {
  val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[32]").config("spark.sql.shuffle.partitions", "64")
    .config("spark.ui.enabled", "false").getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"SCALE $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
  }

  // SCALE10M_STAGES=docs|semdedup|dsir|qgrid|bpe|all (default all) — rerun
  // one arm without paying the others' ~30 min ("dsir" reuses the docs
  // store, so it needs a prior docs run's parquet on disk)
  val stages = sys.env.getOrElse("SCALE10M_STAGES", "all")
  val runDocs = stages == "all" || stages == "docs"
  val runSem = stages == "all" || stages == "semdedup"
  // dsir is NOT implied by docs (r13, ADVICE): a docs-only rerun must not
  // pay the 500k-doc DSIR arm — the docs parquet persists on disk, so a
  // later dsir-only run still works without re-running docs
  val runDsir = stages == "all" || stages == "dsir"
  val runQgrid = stages == "all" || stages == "qgrid"
  val runBpe = stages == "all" || stages == "bpe"
  val runGov = stages == "all" || stages == "gov"
  val runHeavy = stages == "all" || stages == "heavy"

  val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    .select(col("doc_id"), col("text"))
  val nBase = base.count()
  // SCALE10M_TARGET_ROWS (default 10M) — the corpus size the docs arm
  // amplifies to; the 30M tier re-runs the same mix at 3x to show the
  // dedup path's growth stays linear past the round-7 design point
  val targetRows = sys.env.get("SCALE10M_TARGET_ROWS").map(_.toLong)
    .getOrElse(10000000L)
  val reps = math.max(1L, targetRows / nBase)
  val store = "/tmp/graft_scale10m_docs"

  // SCALE10M_SKIP: comma-set of docs-arm sub-stages to skip
  // (materialize,exact,neardup,admission,curate,v2) — at the 30M tier the
  // admission arm's shuffle spill exceeds this host's ~80 GB scratch disk
  // (aggregate executor scratch on a cluster), so the other arms must be
  // runnable without it; `materialize` reuses the on-disk parquet
  val skipSub = sys.env.getOrElse("SCALE10M_SKIP", "")
    .split(",").map(_.trim).filter(_.nonEmpty).toSet

  if (runDocs) {
  if (!skipSub("materialize"))
  t(s"materialize ${nBase * reps} docs (write parquet)") {
    val id = col("doc_id") * reps + col("rep")
    val words = split(col("text"), " ")
    val uniqueized = array_join(
      zip_with(words, sequence(lit(0), size(words) - 1),
        (w, i) => when(i % 3 === 2, concat(lit("u"), id, lit("w"), i)).otherwise(w)),
      " ")
    // integer floor of rep/200 BEFORE the mod — a bare col/200 is DOUBLE
    // division and the equality against the int word index never matches
    // (first probe run silently produced zero substitutions)
    val pocketPos = pmod((col("rep") / 200).cast("long"), lit(7L))
    val oneWordSub = array_join(
      zip_with(words, sequence(lit(0), size(words) - 1),
        (w, i) => when(i.cast("long") === pocketPos, concat(lit("sub"), col("doc_id"))).otherwise(w)),
      " ")
    // parallelize the GENERATION, not just the write: base is a
    // one-partition parquet read, and crossJoin(range) broadcast the tiny
    // range side and streamed base — the whole corpus-sized string
    // generation (and the shuffle write behind a post-hoc repartition) ran
    // in ONE task (caught at the 30M tier: a single core pegged for
    // minutes). Repartitioning the 6k base docs first and exploding the
    // rep sequence per row keeps every stage 64-wide with no shuffle of
    // generated text.
    base.repartition(64)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lit(reps - 1))).as("rep"))
      .select(id.as("doc_id"),
        when(pmod(col("rep"), lit(5)) === 0, col("text"))
          .when(pmod(col("rep"), lit(200)) === 1, oneWordSub)
          .otherwise(uniqueized).as("text"))
      .write.mode("overwrite").parquet(store)
  }
  val docs = spark.read.parquet(store)

  if (!skipSub("exact")) {
    val nCanonical = t("exact dedup (10M, 1000-copy cliques)") {
      graft.operators.Dedup.exactDedup(docs).count()
    }
    println(s"SCALE   canonical docs: $nCanonical of ${nBase * reps}")
  }

  if (!skipSub("neardup")) {
    val nPairs = t("near-dup pipeline (exact-first + LSH)") {
      graft.operators.Dedup.nearDupPipeline(docs).count()
    }
    println(s"SCALE   verified near-dup pairs: $nPairs")
  }

  // Incremental admission. The batch must contain every verdict class, so
  // it is selected on REP (the duplication axis): rep%100==0 rows are
  // exact copies of corpus text, rep%100==1 ∧ rep%200==1 rows are pocket
  // near-dups of the corpus base text, rep%100==3 rows are unique — the
  // corpus (everything else) is scanned once for the index, never again;
  // admission cost is O(batch).
  val repOf = pmod(col("doc_id"), lit(reps))
  val inBatch = pmod(repOf, lit(100L)).isin(0L, 1L, 3L)
  val corpus = docs.filter(!inBatch)
  val batch = docs.filter(inBatch)
  if (!skipSub("admission")) {
    val idx = t("dedup index build (~9.4M corpus)") {
      val i = graft.operators.Dedup.buildDedupIndex(corpus)
      i.digests.count(); i.buckets.count(); i.sets.count()
      i
    }
    t("admission probe (~300k batch)") {
      val verdicts = graft.operators.Dedup.admitBatch(idx, batch)
        .groupBy(col("verdict")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"SCALE   admission verdicts: $verdicts")
      assert(verdicts.getOrElse("exact", 0L) > 0, "expected exact-dup admissions")
      assert(verdicts.getOrElse("near", 0L) > 0, "expected near-dup admissions")
      assert(verdicts.getOrElse("keep", 0L) > 0, "expected novel admissions")
    }
  }

  if (!skipSub("curate"))
  t("curate() end-to-end (10M, with funnel)") {
    val (_, funnel) = graft.pipeline.Curation.curate(docs)
    funnel.foreach { case (s, n) => println(f"SCALE   funnel $s%-18s $n%10d") }
  }

  // Round-10 curation stack at 10M: the perplexity LM is trained on the
  // BOUNDED trusted slice (the 5k base docs — the CCNet shape: the model
  // comes from Wikipedia, not from the crawl being filtered), so the
  // broadcast model tables stay dictionary-sized no matter how large the
  // raw corpus grows. Scoring is a map-side probe pass + one per-doc
  // aggregation over the 10M side; dedup is a digest groupBy; the epoch
  // shuffle is one hash exchange + per-shard sort over the survivors.
  if (!skipSub("v2"))
  t("curation stack v2 (10M docs)") {
    val gated = docs.filter(graft.operators.TextAnalysis.gopherKeep(col("text")))
    val buckets = graft.operators.LangModel.perplexityBuckets(base, gated)
      .filter(col("bucket") =!= "tail").select(col("doc_id"))
    val canon = buckets
      .join(gated.select(col("doc_id"), md5(col("text")).as("d")), "doc_id")
      .groupBy(col("d")).agg(min(col("doc_id")).as("doc_id"))
    val out = graft.operators.Governance.epochShuffle(
      canon.select(col("doc_id")), col("doc_id"), seed = 7, nShards = 256)
    val r = out.agg(count(lit(1)), max(col("pos"))).head()
    val maxPos = if (r.isNullAt(1)) 0 else r.getInt(1)
    println(s"SCALE   v2 survivors: ${r.getLong(0)} (max shard fill $maxPos)")
    assert(r.getLong(0) > 0 && maxPos.toLong <= r.getLong(0))
  }

  }

  // r12 — the LangModel broadcast cap at its design point: the corpus's
  // unique-ized texts give the RAW bigram model a vocabulary that grows
  // with the corpus (row-unique tokens → ~20 novel bigram types per doc),
  // so at a 500k-doc slice the raw c(w1,w2) table sits far past
  // MaxModelRows and the broadcast-fit probe must route the raw model to
  // the distributed relational scorer — no driver/executor-sized
  // broadcast — while the bounded 5k-doc target model stays broadcast.
  // This is the "What's wrong #1" OOM scenario of the r11 verdict run on
  // purpose, surviving by design.
  if (runDsir) {
    val docs = spark.read.parquet(store)
    t("DSIR log-ratios (500k raw docs, raw model over cap)") {
      val raw = docs.filter(pmod(col("doc_id"), lit(20L)) === 2L)
      val rawBigramTypes = graft.operators.LangModel.bigrams(raw)
        .select(col("w1"), col("w2")).distinct()
        .limit((graft.operators.LangModel.MaxModelRows + 1L).toInt).count()
      println(s"SCALE   raw bigram-type probe: $rawBigramTypes (cap ${graft.operators.LangModel.MaxModelRows})")
      assert(rawBigramTypes > graft.operators.LangModel.MaxModelRows,
        "probe corpus no longer exceeds the cap — shrink MaxModelRows or grow the slice")
      val n = graft.operators.LangModel.dsirLogRatios(base, raw).count()
      println(s"SCALE   dsir-scored docs: $n")
      assert(n > 0L)
    }
  }

  // r7 scaled-SemDeDup cell bound at 1M vectors: stratified seeded
  // codebook + argmin assignment; per-cell population must stay ~n/k
  // (no runaway cell that would make the within-cell pair join quadratic).
  if (runSem) {
  val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
  val nEmb = emb.count()
  val embReps = math.max(1L, 1000000L / nEmb)
  val bigEmb = emb.crossJoin(spark.range(embReps).toDF("rep"))
    .select((col("vec_id") * embReps + col("rep")).as("vec_id"),
      transform(col("embedding"),
        x => (x + (pmod(col("rep") * 37, lit(100)).cast("double") - 50.0) / 5000.0).cast("float"))
        .as("embedding"))
  t("SemDeDup assign 1M rows (k=1024)") {
    val k = 1024L
    // hash-spread seed pick (min md5(id) per stratum) — the min-id form
    // degenerated HERE: sequential replicated ids put all 1024 seeds on
    // copies of the first two base vectors and one cell held 223k rows
    val cents = bigEmb
      .withColumn("_s", pmod(col("vec_id"), lit(k)))
      .groupBy(col("_s")).agg(min_by(col("embedding"),
        struct(graft.operators.Dedup.md5Int32(col("vec_id").cast("string")),
          col("vec_id"))).as("_c"))
      .orderBy(col("_s")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val sizes = graft.operators.Ann.assign(bigEmb, cents)
      .groupBy(col("ivf_cell")).count()
      .agg(max(col("count")).as("mx"), avg(col("count")).as("av")).collect()(0)
    val mx = sizes.getLong(0); val av = sizes.getDouble(1)
    println(f"SCALE   cell population max=$mx avg=$av%.1f (n/k=${nEmb * embReps / k})")
    assert(mx < 20L * (nEmb * embReps / k),
      s"runaway cell: $mx rows vs expected ~${nEmb * embReps / k}")
  }
  // semantic decontamination at 1M: 32 benchmark vectors baked into the
  // single-loop VecMaxCosLit — one corpus scan, zero shuffle
  t("semantic decontam 1M x 32 benchmarks") {
    val bench = bigEmb.orderBy(col("vec_id")).limit(32)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val maxCos = ColumnBridge.column(graft.functions.VecMaxCosLit(
      ColumnBridge.expression(col("embedding")), bench))
    val flagged = bigEmb.select(col("vec_id"), maxCos.as("ms"))
      .filter(col("ms") >= 0.3).count()
    println(s"SCALE   flagged: $flagged of ${nEmb * embReps}")
  }
  // the same ~1k-cell assignment through the hierarchical path:
  // O((32 + 2·32)·dim) per row vs the flat O(1024·dim) above — the shape
  // dedup_semantic_clusters now uses (kc = ⌈√k⌉, kf = ⌈k/kc⌉, probes=2)
  t("two-level assign 1M rows (kc=32,kf=32,p=2)") {
    val (coarse, fine) = graft.operators.Ann.twoLevelCodebook(bigEmb, 32, 32)
    val kTotal = fine.map(_.length).sum
    val stats = graft.operators.Ann.assignTwoLevel(bigEmb, coarse, fine, probes = 2)
      .groupBy(col("ivf_cell")).count()
      .agg(count(lit(1)).as("nc"), max(col("count")).as("mx")).collect()(0)
    val nc = stats.getLong(0); val mx = stats.getLong(1)
    println(s"SCALE   non-empty two-level cells: $nc of $kTotal, max population $mx")
    // within-cell pair joins (SemDeDup verify) stay linear only if no cell
    // runs away — same bound as the flat probe above
    assert(mx < 20L * (nEmb * embReps / kTotal),
      s"runaway two-level cell: $mx rows vs expected ~${nEmb * embReps / kTotal}")
  }
  }

  // r13 — quantile-grid lifecycle at 10M SKEWED rows (verdict #8) and the
  // de-O(cells) widening loop at ≥10⁷ cells (verdict #2). Vectors are
  // deterministic md5-derived uniforms CUBED (mass piles toward the lower
  // corner — the regime where equal-width cells overflow and the quantile
  // grid keeps ~n/cells populations). dim 4, 3 gridded dims.
  if (runQgrid) {
    val n = 10000000L
    def coord(d: Int) = {
      val u = pmod(graft.operators.Dedup.md5Long(
        concat(col("id").cast("string"), lit(s"_q$d"))), lit(1000000L))
        .cast("double") / 1000000.0
      (u * u * u - 0.5).cast("float")
    }
    val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 4).map(coord): _*).as("embedding"),
        lit(0).as("label"))
      .repartition(64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    val q = Array(-0.3, -0.1, 0.2, 0.0)
    val dist = graft.functions.Distances.squaredL2Lit(col("embedding"), q)
    val brute = t("brute kNN k=10 (10M, dim 4)") {
      graft.operators.Knn.bruteForce(vecs, dist, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    }
    // quantile lifecycle: sampled calibration (bounded memory: the exact
    // percentile runs on an md5-gated ~100k-row sample, never the corpus)
    val qcfg = t("quantile calibrateSampled (10M rows)") {
      graft.index.QuantileGrid.calibrateSampled(vecs, "embedding", "vec_id",
        partsPerDim = 16, gridDims = 3, dim = 4, rowCount = n)
    }
    val qIdx = graft.index.Grid.withCellId(vecs, "embedding", qcfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qStats = qIdx.groupBy(col("cell_id")).count()
      .agg(max(col("count")), count(lit(1))).head()
    println(s"SCALE   quantile cells: ${qStats.getLong(1)} occupied, max ${qStats.getLong(0)} " +
      s"(uniform share ${n / qcfg.numCells})")
    val qPruned = t("quantile prunedSearch k=10 (10M)") {
      graft.operators.Knn.prunedSearch(qIdx, dist, 10,
        graft.index.Grid.cellLowerBoundSqL2(q, _, qcfg))
        .map(nb => (nb.vec_id, nb.dist))
    }
    // pruned ≡ brute spot check (ids + distances; label column absent →
    // compare the (id, dist) projection)
    assert(qPruned == brute, "quantile pruned != brute at 10M")
    qIdx.unpersist(false)

    // ≥10⁷-cell equal-width grid: 220³ = 10,648,000 cells over ~10M rows
    // (mostly singleton cells — the cell-count regime of a 100 TB store).
    // The r12 verdict's hazard was the per-search driver collect+sort of
    // ALL cell stats; the r13 path prices bounds on executors and pages
    // ranked prefixes, so this search holds only the scanned prefix.
    val bigCfg = graft.index.GridConfig(dim = 4, lower = -0.5, upper = 0.5,
      partsPerDim = 220, gridDims = 3)
    val ewIdx = graft.index.Grid.withCellId(vecs, "embedding", bigCfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ewIdx.count()
    val ewPruned = t("prunedSearch k=10 over 10.6M-cell grid (10M rows)") {
      graft.operators.Knn.prunedSearch(ewIdx, dist, 10,
        graft.index.Grid.cellLowerBoundSqL2(q, _, bigCfg))
    }
    assert(ewPruned.map(nb => (nb.vec_id, nb.dist)) == brute,
      "10M-cell pruned != brute")
    ewIdx.unpersist(false)
    vecs.unpersist(false)
  }

  // r13 — distributed BPE at an OVER-CAP vocabulary (verdict #6): 2.5M
  // distinct base-36 words force the distributed dictionary loop
  // (DriverDictLimit = 2M); the batched rounds (topK slice + provably-
  // sequential prefix + one-pass multi-merge fold) are timed against the
  // per-merge batchTopK=1 form on the same corpus. Merge tables must be
  // identical (the BpeSpec pin, re-asserted here at scale).
  if (runBpe) {
    val nWords = 2500000L
    val bpeDocs = spark.range(nWords / 10).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 10).map(j =>
          lower(conv((col("id") * 10 + j).cast("string"), 10, 36))): _*).as("text"))
      .repartition(64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bpeDocs.count()
    val nM = 12
    val seqMerges = t(s"BPE $nM merges, over-cap vocab, per-merge loop") {
      graft.operators.Bpe.train(bpeDocs, nM, batchTopK = 1).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    }
    val batchedMerges = t(s"BPE $nM merges, over-cap vocab, batched rounds") {
      graft.operators.Bpe.train(bpeDocs, nM).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    }
    assert(batchedMerges == seqMerges, "batched BPE diverged from sequential at scale")
    // Unigram distributed loop over the same over-cap 2.5M-word dictionary
    // (r14): the driver fast path is refused (driverDictLimit=0), so this
    // exercises the scale shape — seed aggregation over ~100M substring
    // occurrences, one Viterbi job per EM round, driver state O(seedSize).
    val uniCfg = graft.operators.Unigram.Config(
      maxPieceLen = 4, seedSize = 512, vocabSize = 128, emIters = 2,
      maxWordLen = 16)
    val (uniVocab, uniScores) = t("unigram train, 2.5M-word dict, distributed loop") {
      val (v, s) = graft.operators.Unigram.train(bpeDocs, uniCfg, driverDictLimit = 0)
      (v.collect(), s)
    }
    assert(uniVocab.nonEmpty && uniScores.nonEmpty)
    println(s"SCALE   unigram vocab ${uniVocab.length} pieces, " +
      s"top piece ${uniVocab.maxBy(_.getLong(1)).getString(0)}")
    // Unigram ENCODE at corpus scale (r15, verdict #7 — BPE's analog of
    // the daily-drop tokenize): 10M docs / 100M word instances drawn from
    // the SAME 2.5M-word vocabulary, encoded under the scores trained
    // above. The Viterbi fold runs once per DISTINCT word (2.5M rows,
    // distributed); the corpus pays one broadcast-dictionary hash probe
    // per word and one per-doc aggregation. Driver state stays the
    // O(vocab) typedLit score map — nothing grows with the corpus.
    val encDocs = spark.range(10000000L).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        lower(conv(((col("id") * 10 + j) % nWords).cast("string"), 10, 36))): _*)
        .as("text"))
    val enc = graft.operators.Unigram.encodeTokenCounts(encDocs, uniScores, uniCfg)
    val encStats = t("unigram encode, 10M docs / 100M words") {
      enc.agg(sum(col("n_tokens")).as("toks"), sum(col("n_chars")).as("chrs"),
        count(lit(1)).as("docs")).head()
    }
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(encPlan.contains("BroadcastHashJoin") || encPlan.contains("BroadcastExchange"),
      "unigram encode lost the broadcast-dictionary plan shape")
    println(s"SCALE   unigram encoded ${encStats.getLong(2)} docs, " +
      s"${encStats.getLong(0)} tokens from ${encStats.getLong(1)} chars")
    bpeDocs.unpersist(false)
  }

  // r15 — k-anonymity enforcement at corpus scale: 10M rows over a
  // bounded quasi domain (1000 sources x 40 length buckets) with a
  // deterministic long tail (quasi combos whose hash lands under the
  // threshold get only 1-4 rows). The audit is ONE map-side-combinable
  // aggregation to the 40k-combo group table; suppression anti-joins the
  // (tiny) violating list null-safely — AQE broadcasts it — and the
  // released re-audit MUST come back anonymous=1 at any scale.
  if (runGov) {
    import graft.operators.Governance
    val n = 10000000L
    val rows = spark.range(n).select(col("id"),
      concat(lit("src_"), (col("id") % 1000).cast("string")).as("source"),
      // hash-derived bucket: ~1% of combos become under-k singletons by
      // construction (ids beyond the dense range land in sparse buckets)
      when(pmod(hash(col("id")), lit(100)) < 1,
        (lit(40) + pmod(hash(col("id") * 7), lit(100000))).cast("int"))
        .otherwise(pmod(col("id") / 1000, lit(40)).cast("int")).as("cb"))
    val quasi = Seq("source", "cb")
    val audit = t("k-anonymity audit (10M rows, 40k+ combos)") {
      Governance.kAnonymityReport(rows, quasi, k = 5L).head()
    }
    println(s"SCALE   groups=${audit.getLong(1)} violating=${audit.getLong(2)} " +
      s"rows_at_risk=${audit.getLong(3)}")
    assert(audit.getLong(2) > 0, "fixture must have under-k combos")
    val (released, reAudit) = t("k-suppression + re-audit (10M rows)") {
      val rel = Governance.kSuppress(rows, quasi, k = 5L)
      (rel.count(), Governance.kAnonymityReport(rel, quasi, k = 5L).head())
    }
    println(s"SCALE   released=$released of $n, re-audit anonymous=${reAudit.getInt(5)}")
    assert(reAudit.getInt(5) == 1, "released frame must be k-anonymous")
    assert(released == n - audit.getLong(3), "suppressed exactly the rows at risk")
  }

  // r16 — the three most expensive GATED queries one decade harder: the
  // sf0.1 lineitem amplified to ~10M rows (orderkeys re-keyed per rep so
  // distinct counts scale too; partkeys kept so the dimension join stays
  // realistic), then each query's exact plan shape re-run with its
  // scale-critical property ASSERTED, not eyeballed.
  if (runHeavy) {
    import org.apache.spark.sql.types.DecimalType
    val sfDir = "/root/testdata/sf0.1"
    val liStore = "/tmp/graft_scale10m_lineitem"
    val liBase = graft.core.Tables.lineitem(spark, sfDir)
    val nLi = liBase.count()
    val liReps = math.max(1L, targetRows / nLi)
    t(s"heavy: materialize ${nLi * liReps} lineitem rows") {
      liBase.repartition(64)
        .select(col("*"), explode(sequence(lit(0L), lit(liReps - 1))).as("rep"))
        .withColumn("l_orderkey", col("l_orderkey") * liReps + col("rep"))
        .drop("rep")
        .write.mode("overwrite").parquet(liStore)
    }
    val li = spark.read.parquet(liStore)

    // agg_promo_revenue_share shape: the join MUST broadcast the part
    // side — a sort-merge here shuffles the 10M fact rows for a 20k dim
    val part = graft.core.Tables.part(spark, sfDir)
    val revDec = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(18, 2)))
    val promo = li
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(
        sum(when(col("p_type") === "PROMO", revDec)
          .otherwise(lit(0).cast(DecimalType(18, 4)))).as("promo_dec"),
        sum(revDec).as("total_dec"), count(lit(1)).as("n"))
      .select(col("month"),
        (col("promo_dec").cast("double") / col("total_dec").cast("double") * lit(100.0))
          .as("promo_share"), col("n"))
    val promoPlan = promo.queryExecution.executedPlan.toString
    assert(promoPlan.contains("BroadcastHashJoin"),
      "promo share must broadcast the part dimension")
    assert(!promoPlan.contains("SortMergeJoin"),
      "promo share must not sort-merge the 10M fact side")
    val promoRows = t("heavy: promo revenue share (10M fact x 20k dim)") {
      promo.collect()
    }
    println(s"SCALE   promo months=${promoRows.length}, " +
      s"n_total=${promoRows.map(_.getLong(2)).sum}")
    assert(promoRows.map(_.getLong(2)).sum == nLi * liReps)

    // profile_approx shape: the one-pass HLL profile must carry NO Expand
    // (the exact multi-distinct replicates input |cols|x — the very plan
    // the split exists to avoid at scale)
    val profCols = Seq(
      "l_orderkey" -> graft.operators.Profile.Num,
      "l_quantity" -> graft.operators.Profile.Num,
      "l_extendedprice" -> graft.operators.Profile.Num,
      "l_returnflag" -> graft.operators.Profile.Str,
      "l_shipdate" -> graft.operators.Profile.Ts)
    val ap = graft.operators.Profile.profileApprox(li, profCols, rsd = 0.02)
    assert(!ap.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile must stay Expand-free (one-pass HLL)")
    val apRows = t("heavy: profile_approx (10M one-pass HLL, 5 cols)") {
      ap.collect()
    }
    val okDistinct = apRows.find(_.getString(0) == "l_orderkey").get.getLong(2)
    println(s"SCALE   l_orderkey distinct_approx=$okDistinct of ${nLi * liReps} rows")
    assert(okDistinct > 0 && okDistinct <= nLi * liReps)

    // agg_exact_median_bisect shape: histogram bisection finds an EXACT
    // order statistic in O(log range) range-predicate passes — verified
    // here by the rank property at 10M rows, never a global sort
    val n10 = nLi * liReps
    val med = t("heavy: exact median bisect (10M rows)") {
      graft.operators.OrderStat.kthSmallest(
        li, col("l_extendedprice"), (n10 + 1) / 2, collectThreshold = 4096).get
    }
    val ranks = li.agg(
      sum(when(col("l_extendedprice") < med, 1L).otherwise(0L)).as("n_lt"),
      sum(when(col("l_extendedprice") <= med, 1L).otherwise(0L)).as("n_le"),
      sum(when(col("l_extendedprice") === med, 1L).otherwise(0L)).as("n_eq")).head()
    val (nLt, nLe, nEq) = (ranks.getLong(0), ranks.getLong(1), ranks.getLong(2))
    println(s"SCALE   median=$med n_lt=$nLt n_le=$nLe")
    assert(nEq > 0, "median must be an element of the column")
    assert(nLt < (n10 + 1) / 2 && (n10 + 1) / 2 <= nLe,
      "bisected median must satisfy the exact rank property")
  }
  spark.stop()
}
