package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) — the
  * vocabulary-learning stage of a training-data pipeline (north star:
  * BASELINE.json text-analysis family).
  *
  * Scale design: the corpus collapses to a WORD-FREQUENCY table first (one
  * shuffle over the 100 TB corpus — the same aggregation `text_top_terms`
  * runs); every merge iteration then works on that compact dictionary
  * (|vocab| rows, cacheable in memory), never re-reading the corpus. Each
  * iteration is two small Spark jobs: weighted adjacent-pair counting over
  * the symbol sequences, and a driver-side argmax pick (count DESC, pair
  * ASC — a total order, so training is deterministic).
  *
  * A word's state is its space-joined symbol sequence (`h e l l o`).
  * Applying a merge is the canonical left-to-right fold: append each
  * symbol, collapsing it with the accumulator's last symbol when they form
  * the merge pair (so `a a a a` under (a,a) becomes `aa aa`, and the new
  * token never re-merges within the same iteration). The fold runs as
  * `aggregate` over the symbol array in Spark and as the IDENTICAL
  * `list_reduce` in DuckDB — which is what makes the whole training loop
  * oracle-checkable as unrolled SQL ([[oracleSql]]).
  */
object Bpe {

  /** `c h a r s` — the initial symbol sequence of a word. */
  def toSymbols(word: Column): Column = concat_ws(" ", split(word, ""))

  /** (word, freq) over the corpus — the ONLY corpus-scale aggregation. */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of each dictionary row, weighted by word
    * frequency: (p1, p2, cnt). */
  def pairCounts(wf: DataFrame): DataFrame = {
    val syms = split(col("sym"), " ")
    val pairs = zip_with(
      slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("p1"), b.as("p2")))
    wf.select(col("freq"), explode(pairs).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Canonical one-iteration merge of (p1, p2) into a symbol string: left
    * fold appending each symbol, collapsing when (last, next) == (p1, p2). */
  def applyMerge(sym: Column, p1: String, p2: String): Column = {
    val syms = split(sym, " ")
    val merged = p1 + p2
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, x) => {
        val last = regexp_extract(acc, "[^ ]+$", 0)
        when(last === lit(p1) && x === lit(p2),
          when(length(acc) === length(last), lit(merged))
            .otherwise(concat(
              acc.substr(lit(1), length(acc) - length(last) - 1),
              lit(" "), lit(merged))))
          .otherwise(concat(acc, lit(" "), x))
      })
  }

  /** Multi-merge left fold (r13): applies a batch of merges in ONE pass.
    * ONLY sound for batches admitted by [[selectBatch]] (pairwise
    * symbol-disjoint, merged tokens distinct from every batch symbol and
    * from each other): disjointness means no application can create,
    * destroy, or relabel an adjacency any OTHER batch member matches, so
    * the single accumulator pass collapses exactly what the iterated
    * per-merge folds would — pinned against iterated [[applyMerge]] on
    * random disjoint merge sets in BpeSpec. */
  def applyMerges(sym: Column, ms: Seq[(String, String)]): Column = {
    require(ms.nonEmpty)
    val syms = split(sym, " ")
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, x) => {
        val last = regexp_extract(acc, "[^ ]+$", 0)
        ms.foldLeft(concat(acc, lit(" "), x): Column) { case (els, (p1, p2)) =>
          when(last === lit(p1) && x === lit(p2),
            when(length(acc) === length(last), lit(p1 + p2))
              .otherwise(concat(
                acc.substr(lit(1), length(acc) - length(last) - 1),
                lit(" "), lit(p1 + p2))))
            .otherwise(els)
        }
      })
  }

  /** Batch admission for the distributed loop (r13): from one ranked
    * count-table prefix, take the longest CONTIGUOUS prefix of merges that
    * sequential training would provably pick in exactly this order.
    *
    * A later pick `p_j` is admitted only when
    *  - it is symbol-disjoint from every earlier member, its merged token
    *    collides with no earlier symbol/merged token and vice versa (so
    *    applying the earlier members cannot touch any adjacency `p_j`
    *    matches — `p_j`'s count is invariant), and
    *  - `cnt(p_j)` strictly exceeds the worst-case post-count of ANY pair
    *    the earlier applications can create or grow, in COMBINATION.
    *    Applying one member (a,b)→ab only creates/grows pairs containing
    *    the token `ab`; each such count is ≤ cnt(x,a) + cnt(x,"ab")
    *    (resp. the right side) — two entries of the CURRENT table — so a
    *    single member i contributes at most 2·nbr_i, where nbr_i is the
    *    max count over pairs touching the member ({q2=p1} ∪ {q1=p2} ∪
    *    {merged ∈ q}), floored by `floor` (the last visible count when
    *    the slice is full, bounding every invisible pair). TWO members
    *    i, j can grow the SAME pair only when it is (merged_i, merged_j)
    *    in some order — growth events only touch pairs containing the
    *    grower's merged token — and that pair's four occurrence sources
    *    (pre-existing (m_i,m_j); created by i from (p2_i, m_j); created
    *    by j from (m_i, p1_j); created by both from (p2_i, p1_j)) each
    *    lie in BOTH neighbor sets, so its post-count is ≤
    *    4·min(nbr_i, nbr_j) ≤ 2·nbr_i + 2·nbr_j. Hence the SUM
    *    Σ_i 2·nbr_i over admitted members bounds every pair's post-count
    *    (a max over members did NOT: the doubly-grown (m_i, m_j) pair can
    *    reach 4·min while max recorded only 2·max — the r13 review
    *    finding; the sum is what `bound` accumulates).
    * Everything ranked above an admitted pick is already in the batch
    * (contiguous prefix), decreased pairs stay decreased, and ties were
    * pre-resolved by the (cnt DESC, p1, p2) ranking — so the sequential
    * argmax sequence is reproduced bit-for-bit. Conservative by design:
    * when the guard can't prove safety the batch just ends (worst case
    * batch = 1 = the old per-merge behavior). */
  private[graft] def selectBatch(ranked: Array[(String, String, Long)],
      floor: Long, maxN: Int): Seq[(String, String, Long)] = {
    val batch = Seq.newBuilder[(String, String, Long)]
    val usedSyms = scala.collection.mutable.Set.empty[String]
    val usedMerged = scala.collection.mutable.Set.empty[String]
    var bound = 0L // Σ_i 2·nbr_i over earlier members (see proof above)
    var i = 0
    var stop = false
    var taken = 0
    while (!stop && i < ranked.length && taken < maxN) {
      val (p1, p2, c) = ranked(i)
      val merged = p1 + p2
      val disjoint = !usedSyms(p1) && !usedSyms(p2) && !usedMerged(p1) &&
        !usedMerged(p2) && !usedSyms(merged) && !usedMerged(merged)
      if (taken > 0 && (!disjoint || c <= bound || bound < 0L)) stop = true
      else {
        batch += ((p1, p2, c))
        taken += 1
        usedSyms += p1; usedSyms += p2; usedMerged += merged
        // Worst-case post-count any pair created/grown by THIS member can
        // reach. Applying (a,b)→ab only touches pairs containing the new
        // token: post(x,ab) ≤ cnt(x,a) + cnt(x,ab) and post(ab,y) ≤
        // cnt(b,y) + cnt(ab,y) — so the relevant neighbor set is exactly
        // {q2 = a} ∪ {q1 = b} ∪ {ab ∈ q}. Pairs merely SHARING a or b in
        // the other position ((a,y), (x,b)) can only lose occurrences and
        // are excluded — scanning them matched the member against ITSELF
        // (q2=b hits (a,b)), forcing bound ≥ 2·cnt(member) and pinning
        // every batch at size 1 (r13 review finding). A self-pair (a,a)
        // still matches its own q2 = a, which is correct: (x,aa) growth
        // draws on cnt(a,a) occurrences.
        var nbr = floor
        ranked.foreach { case (q1, q2, qc) =>
          if (q2 == p1 || q1 == p2 || q1 == merged || q2 == merged)
            nbr = math.max(nbr, qc)
        }
        // SUM, not max: two members can both grow the pair of their merged
        // tokens (post ≤ 4·min(nbr_i, nbr_j) ≤ 2·nbr_i + 2·nbr_j), so only
        // the accumulated Σ 2·nbr_i bounds every pair's post-count. The
        // bound<0 admission guard above catches the (astronomical-count)
        // Long overflow of the running sum by refusing further members.
        bound += 2L * nbr
      }
      i += 1
    }
    batch.result()
  }

  /** One learned merge. */
  final case class Merge(idx: Int, p1: String, p2: String, cnt: Long)

  /** Dictionaries up to this many distinct words train on the driver
    * (shared with [[ByteBpe]] so the two tokenizers' path choice can
    * never silently diverge). */
  private[operators] val DriverDictLimit = 2000000

  /** Ranked count-table slice collected per distributed round; the slice's
    * tail count is the `floor` bounding every invisible pair. */
  private[operators] val DefaultBatchTopK = 512

  /** Train `nMerges` BPE merges from the corpus. The returned DataFrame is
    * the merge table (merge_idx, p1, p2, merged, pair_count) — the
    * artifact a tokenizer ships.
    *
    * Cost-based path choice (the connectedComponents pattern): the corpus
    * collapses to the word-frequency dictionary in ONE aggregation, and
    * BPE training touches only that dictionary — a driver-sized problem
    * for any real vocabulary (even 100 TB of text yields dictionaries in
    * the low millions of rows). Up to [[DriverDictLimit]] words, the
    * merge loop runs in local Scala (identical pair counting, tie order,
    * and left-fold merge — pinned against the distributed loop in
    * BpeSpec), turning 2 Spark jobs per merge into zero. Beyond it, the
    * distributed dictionary loop below handles the pathological case. */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text",
      driverDictLimit: Int = DriverDictLimit,
      batchTopK: Int = DefaultBatchTopK): DataFrame =
    trainWith(docs, nMerges, textCol, driverDictLimit, batchTopK,
      toSymbols, w => w.split("").filter(_.nonEmpty))

  /** [[train]] with a pluggable initial symbolization — the ONLY thing
    * that differs between character-level BPE and [[ByteBpe]]'s byte-level
    * variant (hex-pair symbols, no OOV). `symCol` must be the exact
    * cluster-side mirror of `symLocal` (space-joined symbol sequence);
    * every downstream stage (pair counting, batch admission, merge folds)
    * is symbolization-agnostic. */
  private[operators] def trainWith(docs: DataFrame, nMerges: Int,
      textCol: String, driverDictLimit: Int, batchTopK: Int,
      symCol: Column => Column, symLocal: String => Array[String]): DataFrame =
    trainFromWf(wordFreq(docs, textCol), nMerges, driverDictLimit, batchTopK,
      symCol, symLocal)

  /** [[trainWith]] starting from an ALREADY-BUILT (word, freq) dictionary —
    * the r16 pass-sharing entry: trainAndEncode computes the corpus-scale
    * word-frequency aggregation ONCE and feeds it to both training and the
    * encode dictionary, instead of re-exploding the corpus per stage. */
  private[operators] def trainFromWf(wfIn: DataFrame, nMerges: Int,
      driverDictLimit: Int, batchTopK: Int,
      symCol: Column => Column, symLocal: String => Array[String]): DataFrame = {
    val spark = wfIn.sparkSession
    val probe =
      if (driverDictLimit > 0)
        wfIn.limit(driverDictLimit + 1).collect()
      else Array.empty[Row]
    if (driverDictLimit > 0 && probe.length <= driverDictLimit)
      return mergeTable(spark,
        trainDriver(probe.map(r => (r.getString(0), r.getLong(1))), nMerges,
          symLocal))
    // each iteration's state is a |vocab|-row dictionary; eager
    // localCheckpoint (not cache) TRUNCATES the lineage so iteration i's
    // pair-count argmax plans over a one-scan tree instead of re-optimizing
    // i chained applyMerge folds — with cache() the growing logical plan
    // made Catalyst time dominate the whole training loop.
    //
    // r13: BATCHED rounds — each round collects the ranked top-`batchTopK`
    // slice of the count table (one job, same ordering as the old
    // argmax-of-1), admits the provably-sequential prefix ([[selectBatch]])
    // and applies it in one fold pass ([[applyMerges]]) — so an over-cap
    // vocabulary pays 2 jobs per BATCH instead of 2 per merge. batchTopK=1
    // reproduces the old per-merge loop exactly (the spec pin).
    var wf = wfIn
      .select(symCol(col("word")).as("sym"), col("freq"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var learned = 0
    var exhausted = false
    while (learned < nMerges && !exhausted) {
      val top = pairCounts(wf)
        .orderBy(col("cnt").desc, col("p1").asc, col("p2").asc)
        .limit(math.max(1, batchTopK)).collect()
        .map { case Row(p1: String, p2: String, cnt: Long) => (p1, p2, cnt) }
      if (top.isEmpty) exhausted = true
      else {
        // a full slice means invisible pairs can count up to its tail; a
        // short slice means we saw everything (floor 0)
        val floor = if (top.length == math.max(1, batchTopK)) top.last._3 else 0L
        val batch = selectBatch(top, floor, nMerges - learned)
        batch.foreach { case (p1, p2, cnt) =>
          learned += 1
          merges += Merge(learned, p1, p2, cnt)
        }
        wf = wf.select(
            applyMerges(col("sym"), batch.map(t => (t._1, t._2))).as("sym"),
            col("freq"))
          .localCheckpoint(true)
      }
    }
    mergeTable(spark, merges.result())
  }

  private def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    val rows = merges.map(m => Row(m.idx, m.p1, m.p2, m.p1 + m.p2, m.cnt))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("merge_idx", IntegerType, nullable = false),
        StructField("p1", StringType, nullable = false),
        StructField("p2", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Unicode-code-point string order == UTF-8 binary order == what Spark's
    * UTF8String and DuckDB's VARCHAR comparisons use. Java's
    * String.compareTo orders by UTF-16 code unit, which DISAGREES for
    * supplementary characters — the driver loop must replay the cluster
    * tie-break exactly. */
  private def cpCompare(a: String, b: String): Int = {
    val ai = a.codePoints().iterator(); val bi = b.codePoints().iterator()
    while (ai.hasNext && bi.hasNext) {
      val c = Integer.compare(ai.next(), bi.next())
      if (c != 0) return c
    }
    java.lang.Boolean.compare(ai.hasNext, bi.hasNext)
  }

  /** The merge loop in local Scala — same pair counting (adjacent symbol
    * pairs weighted by word frequency), same argmax order (cnt DESC,
    * p1 ASC, p2 ASC by binary string order), same left-fold merge as the
    * distributed loop and the DuckDB oracle.
    *
    * r12: INCREMENTAL pair-count maintenance (the standard BPE trainer
    * trick): the global count table is built once, and each merge updates
    * only the words that actually CONTAIN the merged pair (subtract their
    * old adjacent-pair contributions, fold, re-add). Counts stay exact
    * integers and the argmax fold is order-independent, so the learned
    * merge sequence is bit-identical to the full-recount form (pinned in
    * BpeSpec against both the recount shape and the distributed loop) —
    * but a 1000-merge run over a 20k-word dictionary drops from ~110 s of
    * all-pairs rehashing to the cost of scanning for pair adjacency. */
  private def trainDriver(wf: Array[(String, Long)], nMerges: Int,
      symLocal: String => Array[String]): Seq[Merge] = {
    var dict: Array[(Array[String], Long)] =
      wf.map { case (w, f) => (symLocal(w), f) }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def add(syms: Array[String], f: Long): Unit = {
      var j = 0
      while (j < syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        counts.update(k, counts.getOrElse(k, 0L) + f)
        j += 1
      }
    }
    def sub(syms: Array[String], f: Long): Unit = {
      var j = 0
      while (j < syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        val n = counts(k) - f
        if (n == 0L) counts.remove(k) else counts.update(k, n)
        j += 1
      }
    }
    def hasPair(syms: Array[String], p1: String, p2: String): Boolean = {
      var j = 0
      while (j < syms.length - 1) {
        if (syms(j) == p1 && syms(j + 1) == p2) return true
        j += 1
      }
      false
    }
    dict.foreach { case (syms, f) => add(syms, f) }
    val merges = Seq.newBuilder[Merge]
    for (i <- 1 to nMerges) {
      if (counts.nonEmpty) {
        val (p1, p2, cnt) = counts.foldLeft(null: (String, String, Long)) {
          case (null, ((a, b), c)) => (a, b, c)
          case (best @ (ba, bb, bc), ((a, b), c)) =>
            val better = c > bc || (c == bc && {
              val ca = cpCompare(a, ba)
              ca < 0 || (ca == 0 && cpCompare(b, bb) < 0)
            })
            if (better) (a, b, c) else best
        }
        merges += Merge(i, p1, p2, cnt)
        dict = dict.map { case (syms, f) =>
          if (!hasPair(syms, p1, p2)) (syms, f)
          else {
            sub(syms, f)
            val ns = applyMergeLocal(syms, p1, p2)
            add(ns, f)
            (ns, f)
          }
        }
      }
    }
    merges.result()
  }

  /** Local mirror of [[applyMerge]]'s left fold. */
  private[operators] def applyMergeLocal(syms: Array[String], p1: String,
      p2: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == p1 && x == p2)
        out(out.length - 1) = p1 + p2
      else out += x
    }
    out.toArray
  }

  /** [[train]], then encode: apply the ordered merge list to the corpus and
    * report each document's BPE token count next to its character count —
    * the sequence-length statistic a packing/batching stage consumes (merges
    * re-derived from the same corpus — the self-contained form the oracle
    * mirrors). The merge table is tiny and applied as chained per-row folds
    * over the word dictionary; the corpus pays a broadcast hash probe per
    * word and the per-doc aggregation.
    *
    * r16 pass sharing: the corpus-scale word-frequency aggregation is
    * computed ONCE (persisted — an intra-query intermediate, freed with
    * the plan) and feeds BOTH the training probe and the encode
    * dictionary; the only other corpus pass is the final per-doc
    * aggregation. The previous form exploded the corpus three times
    * (train probe, dict distinct, doc agg) for identical results. */
  def trainAndEncode(docs: DataFrame, nMerges: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val wf = wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = trainFromWf(wf, nMerges, DriverDictLimit, DefaultBatchTopK,
        toSymbols, w => w.split("").filter(_.nonEmpty)).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val sym = merges.foldLeft(toSymbols(col("word"))) {
      case (s, (p1, p2)) => applyMerge(s, p1, p2)
    }
    // the dictionary IS the word-frequency table's key set — no second
    // corpus explode+distinct; the fold still runs over |vocab| rows only
    val dict = wf.select(col("word"), size(split(sym, " ")).as("n_tok"),
      length(col("word")).as("n_chr"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_chr")).as("n_chars"))
  }

  /** Per-group tokenizer fertility under the learned merges: tokens/word
    * and chars/token — the tokenizer-efficiency row of a corpus data card
    * (a source whose fertility spikes is a tokenizer–domain mismatch; the
    * statistic token-budget planning divides by). Same broadcast-dictionary
    * shape as [[trainAndEncode]]: the merge fold runs over |vocab| rows,
    * the corpus pays a broadcast hash probe and ONE aggregation keyed by
    * the group — output is |groups| rows at any corpus size. */
  def fertilityByGroup(docs: DataFrame, merges: Seq[(String, String)],
      groupCol: String, textCol: String = "text"): DataFrame = {
    val sym = merges.foldLeft(toSymbols(col("word"))) {
      case (s, (p1, p2)) => applyMerge(s, p1, p2)
    }
    val words = docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val dict = words.select(col("word")).distinct()
      .select(col("word"), size(split(sym, " ")).as("n_tok"),
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

  /** [[train]] + [[fertilityByGroup]] with the r16 pass sharing: one
    * word-frequency aggregation feeds the training probe AND the fertility
    * dictionary (the standalone pair paid three corpus explodes). Results
    * identical to `fertilityByGroup(docs, train(docs).collect…)`. */
  def trainAndFertility(docs: DataFrame, nMerges: Int, groupCol: String,
      textCol: String = "text"): DataFrame = {
    val wf = wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = trainFromWf(wf, nMerges, DriverDictLimit, DefaultBatchTopK,
        toSymbols, w => w.split("").filter(_.nonEmpty)).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val sym = merges.foldLeft(toSymbols(col("word"))) {
      case (s, (p1, p2)) => applyMerge(s, p1, p2)
    }
    val dict = wf.select(col("word"), size(split(sym, " ")).as("n_tok"),
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

  /** Unrolled DuckDB mirror of [[fertilityByGroup]] grouped by `source`. */
  def fertilityOracleSql(nMerges: Int): String =
    cteChain(nMerges, buildLast = true) + s"""
      |SELECT source, n_words, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / n_words AS tokens_per_word,
      |  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
      |FROM (
      |  SELECT w.source, COUNT(*) AS n_words,
      |    CAST(SUM(len(string_split(d.sym, ' '))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) w
      |  JOIN wf$nMerges d ON w.word = d.word
      |  WHERE w.word <> ''
      |  GROUP BY w.source)
      |ORDER BY source""".stripMargin

  /** Unrolled DuckDB mirror of [[train]] for `nMerges` iterations over
    * `documents.text` — each iteration re-derives the top pair from the
    * previous dictionary state and applies the same left-fold merge. */
  def oracleSql(nMerges: Int): String =
    cteChain(nMerges, buildLast = false) + "\n" +
      (1 to nMerges)
        .map(i => s"SELECT $i AS merge_idx, p1, p2, p1 || p2 AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY merge_idx")

  /** Unrolled DuckDB mirror of [[trainAndEncode]]: re-derives the merges,
    * applies ALL of them to the word dictionary, then joins the corpus
    * words back for per-doc token/char totals. */
  def encodeOracleSql(nMerges: Int): String =
    cteChain(nMerges, buildLast = true) + s"""
      |SELECT doc_id, CAST(SUM(len(string_split(d.sym, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) w
      |JOIN wf$nMerges d ON w.word = d.word
      |WHERE w.word <> ''
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB expression mirroring [[toSymbols]] over a `word` column. */
  private[operators] val CharSymExpr: String =
    "array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')"

  /** Shared CTE chain: wf0 (word, freq, sym) .. plus m1..mN picks and the
    * fold states needed (all N states when `buildLast`). `symExpr` is the
    * DuckDB initial-symbolization of `word` — char-level by default,
    * hex-byte for [[ByteBpe]]. */
  private[operators] def cteChain(nMerges: Int, buildLast: Boolean,
      symExpr: String = CharSymExpr): String = {
    def pairsOf(wfRel: String): String =
      s"""SELECT w[i] AS p1, w[i+1] AS p2, SUM(freq) AS cnt
         |    FROM (SELECT string_split(sym, ' ') AS w, freq FROM $wfRel),
         |         unnest(range(1, len(w))) AS t(i)
         |    GROUP BY p1, p2""".stripMargin
    // LEFT JOIN ON TRUE (not CROSS JOIN): when a merge CTE is EMPTY (the
    // corpus ran out of learnable pairs before nMerges), p1/p2 are NULL,
    // the merge condition is never true, and the fold rebuilds sym
    // unchanged — mirroring Spark's train(), which just stops learning.
    // A cross join would annihilate the dictionary chain instead.
    def foldOf(prev: String, m: String): String =
      s"""SELECT word, freq, CASE WHEN len(string_split(sym, ' ')) = 1 THEN sym ELSE
         |    list_reduce(string_split(sym, ' '), (acc, x) ->
         |      CASE WHEN regexp_extract(acc, '[^ ]+$$') = $m.p1 AND x = $m.p2 THEN
         |        CASE WHEN acc = $m.p1 THEN $m.p1 || $m.p2
         |             ELSE substring(acc, 1, length(acc) - length(regexp_extract(acc, '[^ ]+$$')) - 1) || ' ' || $m.p1 || $m.p2 END
         |      ELSE acc || ' ' || x END)
         |    END AS sym
         |  FROM $prev LEFT JOIN $m ON TRUE""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH wf0 AS (
        |  SELECT word, freq,
        |         $symExpr AS sym
        |  FROM (SELECT word, COUNT(*) AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |        WHERE word <> '' GROUP BY word))""".stripMargin)
    for (i <- 1 to nMerges) {
      sb.append(s""",
        |m$i AS (
        |  SELECT p1, p2, cnt FROM (
        |    ${pairsOf(s"wf${i - 1}")})
        |  ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 1)""".stripMargin)
      if (i < nMerges || buildLast) sb.append(s""",
        |wf$i AS (
        |  ${foldOf(s"wf${i - 1}", s"m$i")})""".stripMargin)
    }
    sb.toString()
  }
}
