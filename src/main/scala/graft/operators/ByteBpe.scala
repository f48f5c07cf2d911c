package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Byte-level BPE with a regex pre-tokenizer — the GPT-2-family
  * construction (Radford et al. 2019; Sennrich ACL'16 merges over UTF-8
  * BYTES instead of characters, so ANY input is representable with a
  * 256-symbol base alphabet and tokenization never hits an
  * out-of-vocabulary character). The reference consumes exactly this
  * kind of pretrained tokenizer at its embedding boundary
  * (`/root/reference/src/vector_db/services/embedding_service.py:146-168`);
  * a curation engine must also LEARN one from its own corpus.
  *
  * Construction: text is first split by a regex pre-tokenizer into
  * pre-tokens (words with their leading space attached, digit runs,
  * punctuation runs, whitespace runs — merges then never cross
  * pre-token boundaries, GPT-2's core trick). Each pre-token becomes
  * its UTF-8 byte sequence rendered as two-hex-char symbols ("74",
  * "68", …) — the printable byte alphabet — and merge learning runs the
  * exact [[Bpe]] machinery over those symbols: same delimited-symbol
  * wrapping, same corpus-weighted argmax with (count desc, left asc,
  * right asc) UTF-8-byte tie-break, same leftmost non-overlapping
  * literal replace, same local/distributed dispatch. A learned merge
  * ("74","68")→"7468" is byte-pair "th".
  *
  * The pre-tokenizer is deliberately a LOOKAHEAD-FREE simplification of
  * GPT-2's pattern (which uses `\s+(?!\S)` to split trailing space):
  * RE2-class engines (the oracle's regex dialect) don't support
  * lookahead, and the simplified pattern still partitions every string
  * exactly (each char matched by exactly one alternative), which is
  * what byte-losslessness needs. Case is preserved — byte-level BPE
  * does not normalize.
  *
  * Scale shape: identical to [[Bpe]] — one corpus pass for pre-token
  * counts, then vocab-sized merge rounds (driver-local under the
  * threshold), and tokenization as a pure per-row expression chain that
  * rides the scan.
  */
object ByteBpe {

  /** Leftmost-first alternation, no lookahead: a letter run with
    * optional leading space, a digit run with optional leading space,
    * an other-punctuation run with optional leading space, or a
    * whitespace run. Together they partition any string. Java regex and
    * RE2 agree on every construct used here (incl. `\p{L}`/`\p{N}`). */
  val PreTokenPattern: String = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Pre-token array of a text column (covers the whole string, in
    * order — concatenating the matches restores the input). */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PreTokenPattern), lit(0))

  /** (word, cnt) pre-token vocabulary — the byte-mode analog of
    * `Bpe.wordCounts` (no lowercasing, no delimiter strip: symbols are
    * hex chars, so delimiter collision is impossible by construction). */
  def preTokenCounts(df: DataFrame, textCol: String,
                     minCount: Long = 1L): DataFrame =
    df.select(explode(preTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Pre-token → delimited hex-pair symbol string: UTF-8 bytes as
    * uppercase two-hex-char symbols, each wrapped ... */
  def hexSymbols(word: Column): Column =
    array_join(
      transform(regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0)),
        c => concat(lit(Bpe.SymOpen), c, lit(Bpe.SymClose))), "")

  /** Driver-side mirror of [[hexSymbols]] for the local merge loop. */
  def hexPairSymbols(w: String): Array[String] =
    w.getBytes(StandardCharsets.UTF_8).map(b => f"${b & 0xff}%02X")

  /** Learn byte-level merges — [[Bpe.learnMerges]] with the hex-pair
    * symbolizers; local and distributed paths stay bit-identical. */
  def learnMerges(words: DataFrame, nMerges: Int,
                  minPairCount: Long = 2L): Seq[Bpe.Merge] =
    Bpe.learnMerges(words, nMerges, minPairCount,
      symbolizeLocal = hexPairSymbols, symbolizeDist = hexSymbols)

  /** End-to-end learned merge table (rank, left_sym, right_sym,
    * pair_count) over hex-pair symbols — the oracle-checked shape. */
  def learnMergeTable(df: DataFrame, textCol: String, nMerges: Int,
                      minPairCount: Long = 2L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val merges = learnMerges(preTokenCounts(df, textCol), nMerges, minPairCount)
    merges.map(m => (m.rank.toLong, m.left, m.right, m.pairCount))
      .toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** Apply a byte-merge chain to one pre-token (delimited symbol
    * string in, delimited symbol string out). */
  def applyMergesToPreToken(preToken: Column,
                            merges: Seq[(String, String)]): Column =
    merges.foldLeft(hexSymbols(preToken)) { case (c, (l, r)) =>
      Bpe.applyMerge(c, l, r)
    }

  /** Byte-level BPE token array of a text column: hex-string tokens
    * ("746865" = bytes "the"), pre-token boundaries never crossed.
    * Concatenating the array restores hex(utf8(text)) exactly — the
    * losslessness ScalaCheck property. Pure per-row expression. */
  def tokens(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(preTokens(text), p =>
      split(Bpe.symbolsToTokens(applyMergesToPreToken(p, merges)), " ")))

  /** Tokenize under a fixed byte-merge chain: per-doc token count + md5
    * of the space-joined hex token stream (the `Bpe.tokenize` contract,
    * byte mode). Rides the scan — no shuffle. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val stream = array_join(
      transform(preTokens(col(textCol)), p =>
        Bpe.symbolsToTokens(applyMergesToPreToken(p, merges))), " ")
    df.select(col(idCol), stream.as("toks"))
      .select(col(idCol),
        when(col("toks") === "", lit(0L))
          .otherwise(size(split(col("toks"), " ")).cast("long")).as("n_bpe_tokens"),
        md5(col("toks")).as("tokens_md5"))
  }
}
