package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE (the GPT-2 family, Radford et al. 2019): the initial
  * symbol alphabet is the word's UTF-8 BYTE sequence, not its code points,
  * so every possible string decomposes into base symbols and the tokenizer
  * has NO out-of-vocabulary hole — the gap the code-point tokenizers
  * ([[Bpe]], [[Unigram]]) leave at corpus scale (an unseen script falls
  * out of their alphabet; here it falls back to bytes).
  *
  * Representation: each byte is a 2-hex-digit symbol (`"hé"` → `68 C3 A9`)
  * and merged tokens concatenate hex pairs. Both engines derive it the
  * same way (`hex(encode(word))` is uppercase hex in Spark AND DuckDB),
  * hex symbols are pure ASCII so Spark UTF8String order, DuckDB VARCHAR
  * order, and the driver loop's comparator all agree on tie-breaks with no
  * supplementary-plane caveats, and the byte→printable remap GPT-2 ships
  * (which exists only to make byte tokens displayable) is dropped as
  * presentation, not semantics.
  *
  * Everything past symbolization — dictionary collapse, weighted pair
  * counting, batched admission, the left-fold merge — IS [[Bpe]]'s proven
  * machinery ([[Bpe.trainWith]] with a byte symbolizer), and the oracle
  * unrolls the same CTE chain with a byte-level `wf0`.
  */
object ByteBpe {

  /** `68 C3 A9` — the word's UTF-8 bytes as space-joined hex-pair symbols
    * (cluster side). Exact mirror of [[localByteSymbols]]. */
  def toByteSymbols(word: Column): Column =
    rtrim(regexp_replace(hex(encode(word, "UTF-8")), "(..)", "$1 "))

  /** Driver-loop mirror of [[toByteSymbols]]. */
  private[operators] def localByteSymbols(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X")

  /** DuckDB mirror of [[toByteSymbols]] over a `word` column. */
  private[operators] val ByteSymExpr: String =
    "rtrim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g'))"

  /** Train `nMerges` byte-level merges — [[Bpe.train]]'s cost-based
    * driver/distributed path choice with the byte symbolizer. Output
    * schema is [[Bpe.train]]'s merge table (p1/p2/merged in hex). */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text",
      driverDictLimit: Int = Bpe.DriverDictLimit,
      batchTopK: Int = Bpe.DefaultBatchTopK): DataFrame =
    Bpe.trainWith(docs, nMerges, textCol, driverDictLimit,
      batchTopK, toByteSymbols, localByteSymbols)

  /** Apply an ordered merge list over the byte symbols of each dictionary
    * word; returns per-doc (n_tokens, n_bytes) — the encode of
    * [[Bpe.trainAndEncode]] with byte symbols and octet counts.
    * Broadcast-dictionary shape: the fold runs over |vocab| rows, the corpus
    * pays a hash probe and one aggregation. */
  def encodeTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sym = merges.foldLeft(toByteSymbols(col("word"))) {
      case (s, (p1, p2)) => Bpe.applyMerge(s, p1, p2)
    }
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val dict = words.select(col("word")).distinct()
      .select(col("word"), size(split(sym, " ")).as("n_tok"),
        octet_length(col("word")).as("n_byt"))
    words.join(broadcast(dict), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_byt")).as("n_bytes"))
  }

  /** [[train]] + [[encodeTokenCounts]] in one call (the self-contained
    * form the oracle mirrors). Same r16 pass sharing as
    * [[Bpe.trainAndEncode]]: one word-frequency aggregation feeds the
    * training probe AND the encode dictionary (was three corpus passes). */
  def trainAndEncode(docs: DataFrame, nMerges: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val wf = Bpe.wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Bpe.trainFromWf(wf, nMerges, Bpe.DriverDictLimit,
        Bpe.DefaultBatchTopK, toByteSymbols, localByteSymbols).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val sym = merges.foldLeft(toByteSymbols(col("word"))) {
      case (s, (p1, p2)) => Bpe.applyMerge(s, p1, p2)
    }
    val dict = wf.select(col("word"), size(split(sym, " ")).as("n_tok"),
      octet_length(col("word")).as("n_byt"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_byt")).as("n_bytes"))
  }

  /** Unrolled DuckDB mirror of [[train]] over `documents.text`. */
  def oracleSql(nMerges: Int): String =
    Bpe.cteChain(nMerges, buildLast = false, ByteSymExpr) + "\n" +
      (1 to nMerges)
        .map(i => s"SELECT $i AS merge_idx, p1, p2, p1 || p2 AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY merge_idx")

  /** Unrolled DuckDB mirror of [[trainAndEncode]]. */
  def encodeOracleSql(nMerges: Int): String =
    Bpe.cteChain(nMerges, buildLast = true, ByteSymExpr) + s"""
      |SELECT doc_id, CAST(SUM(len(string_split(d.sym, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(octet_length(encode(w.word))) AS BIGINT) AS n_bytes
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) w
      |JOIN wf$nMerges d ON w.word = d.word
      |WHERE w.word <> ''
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
