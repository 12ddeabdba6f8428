package perfbench

import graft.operators.Dedup
import graft.pipeline.Curation
import org.apache.spark.sql.DataFrame

/** Curation probe, run at the end of every traced run: one checked
  * `Curation.curate(withFunnel = true)` call over a seeded corpus, then the
  * pipeline's stages timed one by one through their public entry points,
  * each on the checkpointed output of the stage before. It is a probe, not a
  * workload: a comparison runs each workload 22 times within an hour, and a
  * third workload left each run too little measured time to be steady. */
object Curate {

  private val Docs = 2000
  private val ToyDocs = 300
  private val StageReps = 2
  private val Cfg = Curation.Config()

  def probe(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val n = if (ctx.opts.toy) ToyDocs else Docs
    val docs = Data.corpus(ctx.opts.seed, n)
    def ids(kind: Int) = docs.filter(_.kind == kind).map(_.id).toSet
    val exactDups = ids(Data.Kind.ExactDup)
    val nearDups = ids(Data.Kind.NearDup)
    val foreign = ids(Data.Kind.Foreign)
    val originals = ids(Data.Kind.Original)
    val corpus = spark.sparkContext.parallelize(docs.map(d => (d.id, d.text)).toSeq, ctx.cores * 2)
      .toDF("doc_id", "text").localCheckpoint(true)

    /** Funnel invariants and the planted documents' fates. */
    def check(out: (Set[Long], Map[String, Long])): Boolean = {
      val (kept, funnel) = out
      val chain = Seq("input", "quality_lang_gate", "exact_dedup", "near_dup_dedup").map(funnel)
      chain.head == n && chain.zip(chain.tail).forall { case (a, b) => a >= b } &&
        funnel("near_dup_dedup") == kept.size &&
        exactDups.forall(i => !kept.contains(i)) && foreign.forall(i => !kept.contains(i)) &&
        originals.forall(kept.contains) && nearDups.count(kept.contains) <= nearDups.size / 10
    }
    ctx.op("probe_curate") {
      val (cur, funnel) = Curation.curate(corpus, Cfg)
      (cur.select("doc_id").collect().map(_.getLong(0)).toSet, funnel.toMap)
    }(check)
    val curateS = Stats.median(ctx.seconds("probe_curate"))
    spark.catalog.clearCache()

    def timed(kind: String)(df: => DataFrame): (Long, Double) = {
      val counts = (0 until StageReps).flatMap(_ => ctx.op(kind)(df.count())(_ >= 0))
      (counts.head, Stats.median(ctx.seconds(kind)))
    }
    val (nGate, gateS) = timed("stage_gate")(Curation.qualityLangGate(corpus, Cfg.minQuality, Cfg.lang))
    val gated = Curation.qualityLangGate(corpus, Cfg.minQuality, Cfg.lang).localCheckpoint(true)
    val (nExact, exactS) = timed("stage_exact")(Dedup.exactDedup(gated))
    val exact = Dedup.exactDedup(gated).localCheckpoint(true)
    def pairsOf = Dedup.minHashLshNearDupPairsWithDrops(exact, "text", "doc_id", Cfg.shingleWidth,
      Cfg.numHashes, Cfg.bands, Cfg.nearDupThreshold, docCountHint = nExact)._1
    val (nPairs, lshS) = timed("stage_lsh")(pairsOf)
    val pairs = pairsOf.localCheckpoint(true)
    val (_, compS) = timed("stage_components")(Dedup.connectedComponents(pairs))
    val nCand = Dedup.lshCandidatePairs(
      Dedup.minHashSignature(exact, "text", "doc_id", Cfg.shingleWidth, Cfg.numHashes),
      "doc_id", Cfg.numHashes, Cfg.bands).count()
    spark.catalog.clearCache()
    Map(
      "pipeline.curate_docs_per_s" -> n / curateS,
      "pipeline.gate_s" -> gateS,
      "pipeline.gate_pass_frac" -> nGate.toDouble / n,
      "operators.exact_dedup_s" -> exactS,
      "operators.lsh_pairs_s" -> lshS,
      "operators.components_s" -> compS,
      "operators.lsh_candidate_pairs" -> nCand.toDouble,
      "operators.near_dup_pairs" -> nPairs.toDouble,
      "operators.lsh_verify_yield" -> nPairs.toDouble / math.max(1L, nCand))
  }
}
