package graft

import graft.core.DriverLocal
import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  private def corpus = {
    val s = spark
    import s.implicits._
    // classic BPE toy corpus shape: 'low' x5, 'lower' x2, 'newest' x6,
    // 'widest' x3 — the known first merges are (e,s) then (es,t)
    val rows =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("learnMerges reproduces the textbook first merges on the toy corpus") {
    val merges = Bpe.learnMerges(Bpe.wordCounts(corpus, "text"), nMerges = 3)
    // 'es' appears in newest(6) + widest(3) = 9 — the top pair; then
    // (es,t) at 9 again but ties break after (e,s) is consumed; the
    // exact sequence is the published one: (e,s), (es,t), ...
    assert(merges.head.left == "e" && merges.head.right == "s")
    assert(merges.head.pairCount == 9L)
    assert(merges(1).left == "es" && merges(1).right == "t")
    assert(merges(1).pairCount == 9L)
  }

  test("merge application is leftmost-first non-overlapping (aaa + (a,a) = [aa][a])") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "aaa")).toDF("id", "text")
    val out = Bpe.tokenize(df, "id", "text", Seq("a" -> "a")).collect()(0)
    assert(out.getAs[Long]("n_bpe_tokens") == 2L) // aa + a
    val toks = df.select(
      Bpe.symbolsToTokens(Bpe.applyMergesToWord(lit("aaa"), Seq("a" -> "a"))))
      .collect()(0).getString(0)
    assert(toks == "aa a")
  }

  test("chained merges consume earlier fusions") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "the then other")).toDF("id", "text")
    val chain = Seq("t" -> "h", "th" -> "e")
    val toks = df.select(array_join(transform(
      split(col("text"), " "),
      w => Bpe.symbolsToTokens(Bpe.applyMergesToWord(w, chain))), " "))
      .collect()(0).getString(0)
    // the→[the]; then→[the][n]; other→[o][the][r]
    assert(toks == "the the n o the r")
  }

  test("single-char and empty words are safe; token counts conserve") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "a bb  a"), (1L, " ")).toDF("id", "text")
    val out = Bpe.tokenize(df, "id", "text", Seq("b" -> "b"))
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_bpe_tokens") == 3L) // a, [bb], a
    assert(out(1).getAs[Long]("n_bpe_tokens") == 0L)
  }

  test("tokens array agrees with tokenize's count and conserves characters") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "The theft then")).toDF("id", "text")
    val chain = Seq("t" -> "h", "th" -> "e")
    val toks = df.select(Bpe.tokens(col("text"), chain).as("ts"))
      .collect()(0).getSeq[String](0)
    // the→[the]; theft→[the][f][t]; then→[the][n]
    assert(toks == Seq("the", "the", "f", "t", "the", "n"))
    val n = Bpe.tokenize(df, "id", "text", chain)
      .collect()(0).getAs[Long]("n_bpe_tokens")
    assert(n == toks.length)
    assert(toks.mkString == "the theft then".toLowerCase.replace(" ", ""))
  }

  test("learned merges are partition-invariant") {
    val one = Bpe.learnMerges(Bpe.wordCounts(corpus.repartition(1), "text"), 3)
    val many = Bpe.learnMerges(Bpe.wordCounts(corpus.repartition(7), "text"), 3)
    assert(one == many)
  }

  test("early stop: merge count bounded by available pairs") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "ab ab ab")).toDF("id", "text")
    // after (a,b) there is no adjacent pair left with count >= 2
    val merges = Bpe.learnMerges(Bpe.wordCounts(df, "text"), nMerges = 5)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")))
    // and identically on the forced-distributed path
    val dist = Bpe.learnMergesDistributed(Bpe.wordCounts(df, "text"), nMerges = 5)
    assert(dist == merges)
  }

  test("local and distributed merge loops are bit-identical (incl. ties)") {
    val s = spark
    import s.implicits._
    // overlaps ("abab" + (a,b)), exact count ties ((c,c) vs (d,d)),
    // shared subwords across words — the argmax-order stress corpus
    val rows = Seq.fill(4)("abab") ++ Seq.fill(3)("abba") ++
      Seq.fill(2)("baba cc") ++ Seq("cc dd", "ccdd dd", "aabb")
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val words = Bpe.wordCounts(df, "text")
    val dist = Bpe.learnMergesDistributed(words, nMerges = 12)
    val local = Bpe.learnMergesLocal(
      words.collect().map(r => (r.getString(0), r.getLong(1))), nMerges = 12)
    assert(local == dist)
    // dispatch: local by default, distributed under the forcing scope
    assert(Bpe.learnMerges(words, 12) == dist)
    assert(DriverLocal.forcedDistributed(Bpe.learnMerges(words, 12)) == dist)
    // both run to exhaustion identically when asked for more than exists
    assert(Bpe.learnMergesLocal(
      words.collect().map(r => (r.getString(0), r.getLong(1))), 50) ==
      Bpe.learnMergesDistributed(words, 50))
  }

  test("deep local learning fuses the toy corpus to whole-word tokens") {
    // enough rounds to exhaust all pc>=2 pairs: every frequent word
    // collapses to a single symbol; the local heap/index bookkeeping
    // must stay consistent across the full cascade
    val merges = Bpe.learnMerges(Bpe.wordCounts(corpus, "text"), nMerges = 100)
    val fused = merges.map(m => m.left + m.right).toSet
    assert(Set("low", "newest", "widest").subsetOf(fused))
    assert(merges.map(_.rank) == (1 to merges.length))
  }

  test("byte-level BPE mirrors char-level learning on an ASCII corpus") {
    import graft.operators.ByteBpe
    // same toy corpus, one alphabet lower: (e,s) is ("65","73") at 9
    val merges = ByteBpe.learnMerges(ByteBpe.preTokenCounts(corpus, "text"), 3)
    assert(merges.head.left == "65" && merges.head.right == "73")
    assert(merges.head.pairCount == 9L)
    assert(merges(1).left == "6573" && merges(1).right == "74")
  }

  test("byte-level pre-tokens attach leading space and partition the text") {
    import graft.operators.ByteBpe
    val s = spark
    import s.implicits._
    val df = Seq((0L, "The cat,  the d0g!")).toDF("doc_id", "text")
    val pts = df.select(ByteBpe.preTokens(col("text"))).head.getSeq[String](0)
    assert(pts == Seq("The", " cat", ",", "  ", "the", " d", "0", "g", "!"))
    assert(pts.mkString == "The cat,  the d0g!")
  }

  test("byte-level local and distributed merge loops are bit-identical") {
    import graft.operators.ByteBpe
    val s = spark
    import s.implicits._
    val rows = Seq.fill(4)("the cat") ++ Seq.fill(3)("Thé cat, the dog!") ++
      Seq.fill(2)("aéb aéb") ++ Seq("the THE thé")
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val words = ByteBpe.preTokenCounts(df, "text")
    val dist = Bpe.learnMergesDistributed(words, 10,
      symbolize = ByteBpe.hexSymbols)
    val local = Bpe.learnMergesLocal(
      words.collect().map(r => (r.getString(0), r.getLong(1))), 10,
      symbolize = ByteBpe.hexPairSymbols)
    assert(local == dist)
    assert(ByteBpe.learnMerges(words, 10) == dist)
  }

  test("byte tokenize conserves bytes incl. multi-byte UTF-8 and case") {
    import graft.operators.ByteBpe
    val s = spark
    import s.implicits._
    val text = "héllo Wörld! 中"
    val df = Seq((0L, text), (1L, "")).toDF("id", "text")
    val chain = Seq("68" -> "C3", "6C" -> "6C") // h+0xC3 crosses a codepoint: fine at byte level
    val toks = df.filter(col("id") === 0)
      .select(ByteBpe.tokens(col("text"), chain)).head.getSeq[String](0)
    val expectedHex = text.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    assert(toks.mkString == expectedHex)
    val out = ByteBpe.tokenize(df, "id", "text", chain).orderBy("id").collect()
    assert(out(0).getAs[Long]("n_bpe_tokens") == toks.length.toLong)
    assert(out(1).getAs[Long]("n_bpe_tokens") == 0L)
  }

  test("symbol delimiter control chars are stripped from word text") {
    val s = spark
    import s.implicits._
    // \u0002/\u0003 inside scraped text would corrupt symbol boundaries
    val df = Seq((0L, "ab\u0002cd a\u0003b"), (1L, "\u0002\u0003")).toDF("id", "text")
    val words = Bpe.wordCounts(df, "text").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(words == Seq("ab", "abcd"))
    val out = Bpe.tokenize(df, "id", "text", Seq("a" -> "b")).orderBy("id").collect()
    assert(out(0).getAs[Long]("n_bpe_tokens") == 4L) // [ab] + [ab][c][d]
    assert(out(1).getAs[Long]("n_bpe_tokens") == 0L) // all-delimiter word drops
  }
}
