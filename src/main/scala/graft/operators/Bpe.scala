package graft.operators

import graft.core.DriverLocal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Distributed byte-pair-encoding (BPE) merge learning and subword
  * tokenization (Sennrich, Haddow & Birch, ACL 2016 — the subword-unit
  * algorithm behind GPT-2/RoBERTa-style tokenizers). The piece a
  * training-data pipeline needs from the reference's text boundary
  * (`/root/reference/src/vector_db/services/embedding_service.py:146-168`
  * tokenizes with a pretrained vocab; a 100 TB curation engine must also
  * be able to LEARN that vocab from its own corpus).
  *
  * Scale shape: the corpus is touched exactly once — a word-count
  * aggregation (map-side combined, one shuffle on `word`). Every merge
  * iteration after that runs over the VOCABULARY table (distinct words ×
  * counts), which is orders of magnitude smaller than the corpus and
  * independent of corpus row count; each iteration is one vocab-sized
  * adjacent-pair aggregation plus a single-row argmax `collect`. Only
  * the merge table itself (≤ `nMerges` rows) ever reaches the driver —
  * the classic "learn on the aggregated vocab, not the corpus" BPE
  * formulation, distributed.
  *
  * Determinism: symbol strings are stored DELIMITED — every symbol
  * wrapped as \u0002sym\u0003 — so "merge pair (l, r) everywhere" is a
  * literal left-to-right non-overlapping string replace of
  * \u0002l\u0003\u0002r\u0003 with \u0002lr\u0003. That is exactly
  * BPE's scan-from-left merge order (e.g. `aaa` + (a,a) → `[aa][a]`),
  * and exactly reproducible as SQL `replace` on any engine, which is
  * what makes the whole learned merge table oracle-checkable. Argmax
  * ties break by (count desc, left asc, right asc) — binary string
  * order on both engines.
  */
object Bpe {

  /** Symbol delimiters: C0 control chars that cannot appear in
    * whitespace-split word text read from the curation tables. */
  val SymOpen = "\u0002"
  val SymClose = "\u0003"

  /** One learned merge: `left` + `right` fused after `rank − 1` prior
    * merges, with the corpus-weighted adjacent-pair count that won the
    * argmax. */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** (word, cnt) vocabulary of a text column: lowercase, whitespace
    * split. The single corpus-sized pass of the whole algorithm.
    * `minCount` is the 100 TB vocab knob: dropping hapax/rare words
    * (standard BPE practice) bounds the per-iteration table by the
    * frequent-word vocabulary instead of the raw distinct-word count —
    * rare words can't win a corpus-weighted pair argmax anyway until
    * merges are deep enough that their pairs aggregate with common
    * ones, which `minCount` ≤ the argmax floor preserves. */
  def wordCounts(df: DataFrame, textCol: String,
                 minCount: Long = 1L): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("w0"))
      // the delimiter chars must never appear INSIDE a word or they
      // would corrupt symbol boundaries — scraped corpora do contain C0
      // controls, so strip them here (mirrored in the oracle SQL)
      .select(translate(col("w0"), SymOpen + SymClose, "").as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Word → delimited symbol string of single characters. */
  def initSymbols(word: Column): Column =
    array_join(
      transform(split(word, ""), c => concat(lit(SymOpen), c, lit(SymClose))), "")

  /** Delimited symbol string → symbol array (inverse of the wrapping:
    * strip the outer delimiters, split on the inner `\u0003\u0002`
    * seams). */
  def symbolArray(syms: Column): Column =
    split(regexp_replace(syms, "^\u0002|\u0003$", ""), "\u0003\u0002")

  /** Apply one merge to a delimited symbol string: literal left-to-right
    * non-overlapping replace (Spark's `replace` and SQL `replace` share
    * that contract). */
  def applyMerge(syms: Column, left: String, right: String): Column =
    replace(syms,
      lit(SymOpen + left + SymClose + SymOpen + right + SymClose),
      lit(SymOpen + left + right + SymClose))

  /** Closed-form per-row expression applying a whole merge chain to a
    * word (merges must be in learned rank order — later merges see the
    * fused symbols of earlier ones). */
  def applyMergesToWord(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(initSymbols(word)) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Delimited symbol string → space-joined token stream. */
  def symbolsToTokens(syms: Column): Column =
    regexp_replace(regexp_replace(syms, "\u0003\u0002", " "), "^\u0002|\u0003$", "")

  /** Learn up to `nMerges` BPE merges from a (word, cnt) vocabulary.
    * Stops early when the best remaining pair's corpus count drops below
    * `minPairCount` (or no adjacent pair is left).
    *
    * Dispatch: the corpus pays its one word-count pass either way; what
    * differs is where the merge LOOP runs. A real tokenizer vocab is
    * 30k-50k merges, and the distributed loop costs one Spark job per
    * merge — corpus-size independent but merge-count bound (~32k
    * sequential jobs ≈ hours of pure scheduling latency). So when the
    * minCount-bounded vocabulary fits on the driver (the
    * [[graft.core.DriverLocal]] twin: 224 B of driver heap per collected
    * row plus twice its UTF-8 word bytes) the loop runs in-process over
    * an inverted pair index with a lazy-deletion heap, bit-identical by
    * construction: same corpus-weighted pair counts, same (count desc,
    * left asc, right asc) argmax with UTF-8-byte string order (= Spark's
    * binary UTF8String comparison), same leftmost non-overlapping merge
    * application.
    * Above the budget the distributed loop is retained unchanged. */
  def learnMerges(words: DataFrame, nMerges: Int,
                  minPairCount: Long = 2L,
                  symbolizeLocal: String => Array[String] = codePointSymbols,
                  symbolizeDist: Column => Column = initSymbols): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    // one probe collect: if the vocab fits, we already hold all of it
    // and the corpus is never touched again. The probe stops one row
    // past Budget/224 rows, where even empty words fill the budget, so
    // a huge vocabulary is never collected whole; inside the forcing
    // scope it reads one row.
    val w = words.select(col("word"), col("cnt")).persist()
    try {
      val maxRows = if (DriverLocal.fits(0L)) (DriverLocal.Budget / 224).toInt else 0
      val probe = w.limit(maxRows + 1).collect()
      def bytes = probe.iterator
        .map(r => 224L + 2L * r.getString(0).getBytes(StandardCharsets.UTF_8).length).sum
      if (probe.length <= maxRows && DriverLocal.fits(bytes))
        learnMergesLocal(
          probe.map(r => (r.getString(0), r.getLong(1))), nMerges, minPairCount,
          symbolizeLocal)
      else learnMergesDistributed(w, nMerges, minPairCount, symbolizeDist)
    } finally w.unpersist()
  }

  /** Distributed merge loop: each iteration is one vocab-sized
    * adjacent-pair aggregation plus a single-row argmax `collect`; each
    * round persists the updated vocab and unpersists the previous one,
    * so the plan never grows beyond a single replace over a materialized
    * table. Corpus-size independent, merge-count bound — the path for
    * vocabularies too large to collect. */
  def learnMergesDistributed(words: DataFrame, nMerges: Int,
                             minPairCount: Long = 2L,
                             symbolize: Column => Column = initSymbols): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // each round's argmax action materializes the CURRENT vocab's cache,
    // so the previous round's cache is only dropped after its successor
    // is safely materialized — one job per round (the argmax), no
    // separate count() materialization pass
    var cur = words.select(symbolize(col("word")).as("syms"), col("cnt"))
      .persist()
    var prev: DataFrame = null
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val top = adjacentPairCounts(cur)
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty || top(0).getAs[Long]("pc") < minPairCount) done = true
      else {
        val (l, r) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"))
        out += Merge(rank, l, r, top(0).getAs[Long]("pc"))
        val next = cur
          .withColumn("syms", applyMerge(col("syms"), l, r))
          .persist()
        prev = cur
        cur = next
        rank += 1
      }
    }
    cur.unpersist()
    if (prev != null) prev.unpersist()
    out.toSeq
  }

  /** Unsigned-byte UTF-8 comparison — Spark's binary UTF8String order
    * (and DuckDB's default varchar collation), NOT Java's UTF-16
    * code-unit order, which diverges for supplementary characters vs
    * U+E000..U+FFFF. Tie-breaks must match the distributed argmax
    * exactly. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Split into per-code-point symbols — Java regex `split("")` (what
    * Spark's `split(word, "")` compiles to) never splits inside a
    * surrogate pair, so iterate code points, not chars. */
  private def codePointSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + cc)
      i += cc
    }
    out.toArray
  }

  /** Leftmost non-overlapping fuse of adjacent (l, r) — on the symbol
    * ARRAY this is exactly what the literal delimited-string `replace`
    * does (delimiters guarantee token boundaries), e.g.
    * `[a,a,a] + (a,a) → [aa,a]`. */
  private def mergeSymbols(a: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](a.length)
    var i = 0
    while (i < a.length) {
      if (i < a.length - 1 && a(i) == l && a(i + 1) == r) { out += l + r; i += 2 }
      else { out += a(i); i += 1 }
    }
    out.toArray
  }

  /** In-process merge loop over a collected (word, cnt) vocabulary.
    * Incremental: an inverted index pair → containing-word-ids means a
    * merge only re-processes the words that actually contain the fused
    * pair, and a lazy-deletion max-heap (re-push on every count change,
    * discard stale entries on pop) makes each argmax O(log) amortized —
    * 30k merges run in seconds-to-minutes instead of 30k Spark jobs.
    * Bit-identical to [[learnMergesDistributed]]: see the dispatch
    * scaladoc; the raw-equality spec in BpeSpec pins it. */
  def learnMergesLocal(vocab: Array[(String, Long)], nMerges: Int,
                       minPairCount: Long = 2L,
                       symbolize: String => Array[String] = codePointSymbols): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    import scala.collection.mutable
    val n = vocab.length
    val syms = new Array[Array[String]](n)
    val cnts = new Array[Long](n)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    var i = 0
    while (i < n) {
      syms(i) = symbolize(vocab(i)._1)
      cnts(i) = vocab(i)._2
      val a = syms(i)
      var j = 0
      while (j < a.length - 1) {
        val p = (a(j), a(j + 1))
        pairCount.update(p, pairCount.getOrElse(p, 0L) + cnts(i))
        pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
      i += 1
    }
    // heap entry = (count, l, r); "greatest" = the argmax winner:
    // highest count, then byte-smallest l, then byte-smallest r
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
        else {
          val cl = utf8Compare(b._2, a._2)
          if (cl != 0) cl else utf8Compare(b._3, a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    pairCount.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val out = mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      // pop until fresh: every CURRENT count was pushed when it was set,
      // so the first non-stale entry is the true argmax under `ord`
      var best: (Long, String, String) = null
      while (best == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (pairCount.getOrElse((e._2, e._3), 0L) == e._1) best = e
      }
      if (best == null || best._1 < minPairCount) done = true
      else {
        val (pc, l, r) = best
        out += Merge(rank, l, r, pc)
        val affected = pairWords.getOrElse((l, r), mutable.HashSet.empty).toArray
        val touched = mutable.HashSet.empty[(String, String)]
        var ai = 0
        while (ai < affected.length) {
          val wi = affected(ai)
          val before = syms(wi)
          var j = 0
          while (j < before.length - 1) {
            val p = (before(j), before(j + 1))
            pairCount.update(p, pairCount(p) - cnts(wi))
            pairWords(p) -= wi
            touched += p
            j += 1
          }
          val after = mergeSymbols(before, l, r)
          syms(wi) = after
          j = 0
          while (j < after.length - 1) {
            val p = (after(j), after(j + 1))
            pairCount.update(p, pairCount.getOrElse(p, 0L) + cnts(wi))
            pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += wi
            touched += p
            j += 1
          }
          ai += 1
        }
        touched.foreach { p =>
          val c = pairCount.getOrElse(p, 0L)
          if (c <= 0L) { pairCount -= p; pairWords -= p }
          else heap.enqueue((c, p._1, p._2))
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Corpus-weighted adjacent-symbol-pair counts of a (syms, cnt)
    * vocabulary — the per-iteration aggregation. */
  private def adjacentPairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"), symbolArray(col("syms")).as("sa"))
      // single-symbol words have no adjacent pair; the guard also keeps
      // sequence() from inferring a negative step on size-1 arrays
      .filter(size(col("sa")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(0, size(sa)-2), i -> struct(sa[i] AS l, sa[i+1] AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("pc"))

  /** Learn merges end-to-end from a text column and return them as a
    * DataFrame (rank, left_sym, right_sym, pair_count) — the shape the
    * driver's oracle checks. */
  def learnMergeTable(df: DataFrame, textCol: String, nMerges: Int,
                      minPairCount: Long = 2L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val merges = learnMerges(wordCounts(df, textCol), nMerges, minPairCount)
    merges.map(m => (m.rank.toLong, m.left, m.right, m.pairCount))
      .toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** BPE token array of a text column under a merge chain — the
    * loader-facing column: counts feed `Chunker.packWindows`, arrays
    * feed export sinks. Pure per-row expression. */
  def tokens(text: Column, merges: Seq[(String, String)]): Column = {
    val words = filter(
      transform(split(lower(text), "\\s+"),
        w => translate(w, SymOpen + SymClose, "")),
      w => w =!= lit(""))
    flatten(transform(words, w =>
      split(symbolsToTokens(applyMergesToWord(w, merges)), " ")))
  }

  /** Tokenize a text column with a fixed merge chain: per-document BPE
    * token count and an md5 digest of the space-joined token stream.
    * Pure per-row expression — at corpus scale this rides the scan with
    * no shuffle, the standard "apply the learned tokenizer" pass. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    // same delimiter strip as wordCounts/tokens (oracle-mirrored)
    val words = filter(
      transform(split(lower(col(textCol)), "\\s+"),
        w => translate(w, SymOpen + SymClose, "")),
      w => w =!= lit(""))
    val stream = array_join(
      transform(words, w => symbolsToTokens(applyMergesToWord(w, merges))), " ")
    df.select(col(idCol), stream.as("toks"))
      .select(col(idCol),
        when(col("toks") === "", lit(0L))
          .otherwise(size(split(col("toks"), " ")).cast("long")).as("n_bpe_tokens"),
        md5(col("toks")).as("tokens_md5"))
  }
}
