package graft

import graft.operators.{Ivf, Layout, Search}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan contracts: the scale properties the operators claim
  * must be visible in the plans Catalyst actually produces. */
class PlanSpec extends SparkSpec {

  test("IVF search over a partitioned table prunes partitions at the scan") {
    val data = corpus(100, 8)
    val dir = Files.createTempDirectory("ivfplan").toString + "/t"
    val (assigned, model) = Ivf.build(toDF(data), "embedding", 4)
    Ivf.writePartitioned(assigned, dir)
    val table = spark.read.parquet(dir)
    val plan = Ivf.search(table, model, "id", data.head._2.toSeq, nProbe = 2, topK = 5)
      .queryExecution.executedPlan.toString
    // partition pruning: cluster_id is a partition column and the filter
    // must land in PartitionFilters, not a post-scan Filter
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"expected partition pruning on cluster_id, plan:\n$plan")
  }

  test("IVF-PQ search over a partitioned code table prunes partitions and scans no vectors") {
    val data = corpus(100, 16)
    val dir = Files.createTempDirectory("ivfpqplan").toString + "/t"
    val (encoded, model) = graft.operators.IvfPq.build(toDF(data), "embedding",
      kClusters = 4, chunks = 4, kCodes = 4)
    // the persisted index drops raw vectors: (id, cluster_id, pq_code)
    Ivf.writePartitioned(encoded.select("id", Ivf.ClusterCol, "pq_code"), dir)
    val table = spark.read.parquet(dir)
    val plan = graft.operators.IvfPq.search(table, model, "id",
        data.head._2.toSeq, nProbe = 2, topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"expected partition pruning on cluster_id, plan:\n$plan")
    // ADC reads codes only — the scan schema must not include embeddings
    assert(plan.contains("ReadSchema") && !plan.contains("embedding"),
      s"ADC scan should read pq_code, not vectors, plan:\n$plan")
  }

  test("facade IVF search with a tombstone sidecar keeps partition pruning + broadcast anti-join") {
    val data = corpus(100, 8)
    val dir = Files.createTempDirectory("ivfside").toString
    val store = graft.VectorStore.open(spark, dir, dim = 8)
    store.ingest(toDF(data).select("embedding"))
    store.buildIvf(4)
    store.buildIvfPq(kClusters = 4, chunks = 4, kCodes = 4)
    store.delete(Seq(3L)) // overlaid on both tables from the delta tail
    // the distributed plan: a store this small is otherwise answered
    // from the driver's serve snapshot, a local relation
    val plan = graft.core.DriverLocal.forcedDistributed(
      store.searchIvf(data.head._2.toSeq, nProbe = 2, k = 5)
        .queryExecution.executedPlan.toString)
    // the probe filter must still prune the PARTITIONED scan — pushed
    // through the anti-join's left side, not evaluated above it
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"sidecar anti-join must not break partition pruning, plan:\n$plan")
    // the sidecar side is deletes-since-last-build — broadcast, never
    // a shuffled join of the index table
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"sidecar must join as a broadcast anti-join, plan:\n$plan")
    // the IVF-PQ code table keeps its pruned, vector-free scan under the
    // same overlay
    val pqPlan = store.searchIvfPq(data.head._2.toSeq, nProbe = 2, k = 5)
      .queryExecution.executedPlan.toString
    val codeScan = pqPlan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("codes_by_cluster")).toSeq
    assert(codeScan.length == 1, s"expected one code-table scan, plan:\n$pqPlan")
    assert(codeScan.head.contains("PartitionFilters: [cluster_id"),
      s"expected partition pruning on cluster_id, plan:\n$pqPlan")
    assert(codeScan.head.contains("ReadSchema") &&
      !codeScan.head.substring(codeScan.head.indexOf("ReadSchema")).contains("embedding"),
      s"the code-table scan must read no vectors, plan:\n$pqPlan")
  }

  test("exact kNN plans as TakeOrderedAndProject (no global sort)") {
    val plan = Search.knnExact(toDF(corpus(50, 8)), "id", "embedding",
      corpus(1, 8).head._2.toSeq, 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Sort ["), s"unexpected global sort in:\n$plan")
  }

  test("range join plans as a hash equi-join, not a nested-loop cross product") {
    val s = spark
    import s.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val left = (0 until 50).map(i => (i.toLong, i.toLong % 3, ts(i.toLong))).toDF("lid", "k", "t")
    val right = (0 until 50).map(i => (i.toLong, i.toLong % 3, ts(i.toLong), 1.0)).toDF("rid", "k", "rt", "x")
    val plan = graft.operators.RangeJoin.innerPairs(left, "k", col("t"),
        right, "k", col("rt"), 600000000L, Seq("rid", "x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degenerated to a cross product:\n$plan")
  }

  test("kNN join aggregates map-side (partial TopK before the shuffle)") {
    val base = toDF(corpus(60, 8))
    val s = spark
    import s.implicits._
    val queries = corpus(3, 8).map { case (i, v) => (i, v) }.toDF("qid", "qemb")
    val plan = Search.knnJoin(base, "id", "embedding", queries, "qid", "qemb", 5)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate appears twice: partial (pre-shuffle) + final
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregate pair, plan:\n$plan")
  }

  test("window top-N applies partial WindowGroupLimit before the shuffle") {
    val s = spark
    import s.implicits._
    val df = corpus(100, 2).map { case (i, _) => (i % 7, i, i.toDouble) }
      .toDF("k", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("score").desc, col("id").asc)
    val plan = df.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 3)
      .queryExecution.executedPlan.toString
    // map-side group-limit trims each partition to k rows per key BEFORE
    // the exchange — the shuffle never carries the full table
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial WindowGroupLimit before the shuffle:\n$plan")
  }

  test("bucketed tables co-locate the join: no Exchange, no Sort on either side") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle question
    // off by default since 3.0 (SPARK-28595: listing files to check
    // one-file-per-bucket costs planning time); writeBucketed's aligned
    // repartition guarantees the one-file precondition, making it safe
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val vecs = Layout.writeBucketed(
        corpus(200, 4).map { case (i, v) => (i, v) }.toDF("id", "embedding"),
        "bk_vectors", "id", nBuckets = 8)
      val docs = Layout.writeBucketed(
        (0L until 200L).map(i => (i, s"doc $i")).toDF("id", "content"),
        "bk_docs", "id", nBuckets = 8)
      val joined = vecs.join(docs, "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // writeBucketed's aligned repartition leaves ONE file per bucket,
      // so the reader trusts the within-bucket sort: merge, no re-sort
      assert(plan.contains("SortMergeJoin") && !plan.contains("Sort "),
        s"bucketed join re-sorts (multi-file buckets?):\n$plan")
      assert(joined.count() == 200)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      s.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      s.sql("DROP TABLE IF EXISTS bk_vectors")
      s.sql("DROP TABLE IF EXISTS bk_docs")
    }
  }

  test("delta-log merged read: base side never shuffles; the anti-join broadcasts the delta ids") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("dlogplan").toString
    graft.core.DeltaLog.append(
      (0L until 500L).map(i => (i, s"row $i")).toDF("id", "v"), dir, 0L)
    graft.core.DeltaLog.compact(spark, dir, "id")
    graft.core.DeltaLog.append(
      Seq((1L, "upd")).toDF("id", "v"), dir, 1L)
    val merged = graft.core.DeltaLog.readMerged(spark, dir, "id").get
    merged.count() // let AQE finalize the adaptive plan
    val plan = merged.queryExecution.executedPlan.toString
    // the base-shadowing anti join must be broadcast (delta-id build
    // side), not a sort-merge that shuffles the whole base
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti-join on the base side, plan:\n$plan")
    val smj = plan.split("\n").count(_.contains("SortMergeJoin"))
    assert(smj == 0, s"merged read must not sort-merge the base, plan:\n$plan")
  }

  test("metadata filter on a parquet table is pushed into the scan") {
    val dir = Files.createTempDirectory("pushdown").toString + "/t"
    val s = spark
    import s.implicits._
    corpus(50, 4).map { case (i, v) => (i, v, (i % 3).toString) }
      .toDF("id", "embedding", "label").write.parquet(dir)
    val plan = Search.knnExact(s.read.parquet(dir), "id", "embedding",
      Seq(0f, 0f, 0f, 0f), 5, Some(col("label") === "1"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,1)]"),
      s"filter not pushed to parquet scan:\n$plan")
  }

  test("contamination screen broadcasts the benchmark gram set (corpus never shuffled on gram)") {
    val s = spark
    import s.implicits._
    val corpusDf = (0L until 50L).map(i => (i, s"alpha beta gamma delta doc $i body")).toDF("doc_id", "text")
    val benchDf = Seq((999L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val plan = graft.operators.Contamination.overlap(corpusDf, benchDf, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark grams not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled on gram (sort-merge join):\n$plan")
  }

  test("bloom screen branch is a pure scan + codegen filter: no join, no Exchange") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("bloomplan").toString + "/t"
    (0L until 200L).map(i => (i, s"key-${i % 40}")).toDF("id", "k")
      .write.parquet(dir)
    val corpusDf = spark.read.parquet(dir)
    val model = graft.operators.Bloom.fit(
      (0L until 40L by 3L).map(i => s"key-$i").toDF("bk"), col("bk"),
      expectedKeys = 14, fpp = 0.01)
    // the definite-negative branch (the bulk of the corpus at scale)
    // must never meet a join or a shuffle — the bitmap comes to the scan
    val plan = corpusDf.filter(!graft.operators.Bloom.mightContain(col("k"), model))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"bloom screen should be scan-local:\n$plan")
    assert(plan.contains("bloom_might_contain"),
      s"bloom kernel missing from plan:\n$plan")
    // "*(1) Filter" = the filter runs inside a whole-stage-codegen span
    assert(plan.contains("*(1) Filter"),
      s"bloom screen fell out of codegen:\n$plan")
  }

  test("chunking is a pure per-row generate: no Exchange in the plan") {
    val s = spark
    import s.implicits._
    val df = (0L until 20L).map(i => (i, "one two three four five six")).toDF("id", "text")
    val plan = graft.operators.Chunker.chunk(df, "id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in chunking plan:\n$plan")
  }

  test("packWindows adds NO shuffle above the prefix sum: generate + project only") {
    val s = spark
    import s.implicits._
    val df = (0L until 50L).map(i => (i, 1L + i % 40)).toDF("id", "n_tok")
    // packOffsets ends in an RDD-backed DataFrame (the prefix-sum output);
    // the window fan-out must plan as closed-form generate/project on top
    // of that scan — any Exchange here would be a scale regression
    val plan = graft.operators.Chunker.packWindows(df, "id", "n_tok", 16L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"unexpected shuffle above the prefix sum:\n$plan")
    assert(plan.contains("Generate"), s"expected an explode generate:\n$plan")
  }

  test("BPE tokenize and classifier scoring are per-row scans: no Exchange") {
    val s = spark
    import s.implicits._
    val df = (0L until 20L).map(i => (i, "the quick brown fox")).toDF("id", "text")
    val bpe = graft.operators.Bpe.tokenize(df, "id", "text",
        Seq("t" -> "h", "th" -> "e"))
      .queryExecution.executedPlan.toString
    assert(!bpe.contains("Exchange"),
      s"unexpected shuffle in BPE tokenize plan:\n$bpe")
    val w = (0 until 32).map(_ * 0.1)
    val cls = df.select(graft.functions.TextFunctions.hashedLinearLogit(
        col("text"), 32, w, bias = 0.0))
      .queryExecution.executedPlan.toString
    assert(!cls.contains("Exchange"),
      s"unexpected shuffle in classifier plan:\n$cls")
  }

  test("BPE pair counting aggregates map-side (partial before the vocab shuffle)") {
    val s = spark
    import s.implicits._
    val words = (0L until 30L).map(i => (s"word$i", i + 1)).toDF("word", "cnt")
    // one merge round's aggregation: partial_sum must appear below the
    // exchange so a hot pair partial-aggregates per mapper
    val syms = graft.operators.Bpe.initSymbols(col("word")).as("syms")
    val plan = words.select(syms, col("cnt"))
      .select(col("cnt"), graft.operators.Bpe.symbolArray(col("syms")).as("sa"))
      .filter(size(col("sa")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(0, size(sa)-2), i -> struct(sa[i] AS l, sa[i+1] AS r))"))
        .as("p"))
      .groupBy(col("p.l"), col("p.r")).agg(sum("cnt"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"expected map-side partial aggregation in BPE pair counting:\n$plan")
  }

  test("BQ hamming search: per-row scan + TakeOrderedAndProject, no Exchange") {
    val dir = Files.createTempDirectory("bqplan").toString + "/t"
    toDF(corpus(80, 64)).write.parquet(dir)
    val enc = graft.operators.Bq.encode(spark.read.parquet(dir), "embedding")
    val plan = graft.operators.Bq.hammingSearch(enc, "id", "bq_code",
        corpus(1, 64).head._2.toSeq, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k, plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"BQ screen must not shuffle the table:\n$plan")
    // the kernels stay inside whole-stage codegen — the `*(n)` stage
    // marker must wrap the projection computing the hamming column
    assert(plan.contains("*(1) Project") && plan.contains("hamming_longs"),
      s"codegen lost:\n$plan")
  }

  test("maxsim aggregates map-side: partial max before the doc shuffle") {
    val s = spark
    import s.implicits._
    val df = (0L until 40L)
      .map(i => (i, s"alpha beta doc $i " * 8)).toDF("id", "text")
    val plan = graft.operators.MultiVec.maxsimSearch(df, "id", "text",
        Seq("alpha beta"), k = 5)
      .queryExecution.executedPlan.toString
    // the per-doc max agg must appear as partial+final around ONE exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final max aggregates, plan:\n$plan")
  }

  test("pivot with explicit values: both aggregation passes map-side partial") {
    val s = spark
    import s.implicits._
    val df = (0L until 60L).map(i => (s"g${i % 3}", s"p${i % 2}", i.toDouble))
      .toDF("g", "p", "v")
    // Spark compiles pivot to sum per (g, p) then pivotfirst per g —
    // two shuffles, each preceded by a partial aggregate, and the
    // explicit value list means no distinct-values discovery job
    val plan = df.groupBy("g").pivot("p", Seq("p0", "p1")).agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 2,
      s"pivot should need at most two shuffles, plan:\n$plan")
    assert(plan.contains("partial_sum") && plan.contains("partial_pivotfirst"),
      s"pivot aggregation not map-side combined, plan:\n$plan")
  }

  test("q3/q5/q10 SF-scaled join sides (orders/customer/supplier) carry no broadcast hint") {
    val s = spark
    // -1 disables stats-based broadcast; explicit broadcast() HINTS
    // still win — so with the threshold off, any surviving
    // BroadcastHashJoin proves a hint. Only the fixed-size dims
    // (nation/region) are allowed to keep hints; every SF-scaled side
    // (orders, customer, supplier) must degrade to a shuffle join,
    // because at 100× a forced broadcast of those sides OOMs.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q3_top_revenue", "q5_local_supplier", "q10_returned")) {
        val plan = SparkEntry.queries(q)(s, "/root/testdata/sf0.001")
          .queryExecution.executedPlan.toString
        val offending = plan.linesIterator
          .filter(_.contains("BroadcastHashJoin"))
          .filterNot(l => l.contains("n_nationkey") || l.contains("n_regionkey") ||
            l.contains("r_regionkey"))
          .toList
        assert(offending.isEmpty,
          s"$q still broadcasts an SF-scaled side:\n${offending.mkString("\n")}")
        assert("(SortMergeJoin|ShuffledHashJoin) \\[(l_orderkey|o_orderkey)".r.findFirstIn(plan).isDefined,
          s"$q fact-orders join did not degrade to a shuffle join (lurking hint?):\n$plan")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    }
  }

  test("maxsim scores per-row: only the doc-level max exchange remains") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "alpha beta gamma"), (1L, "beta beta delta"))
      .toDF("id", "text")
    val plan = graft.operators.MultiVec.maxsimSearch(df, "id", "text",
        Seq("alpha", "beta delta"), k = 2)
      .queryExecution.executedPlan.toString
    // the former (id, window, bucket) count aggregation was a second
    // corpus-sized shuffle; per-row folds must leave exactly one
    // Exchange (the doc-level max agg) before the TakeOrdered cut
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one hash exchange in maxsim plan:\n$plan")
  }

  test("t_tfidf per-doc top-3 aggregates map-side (partial TopTerms before the shuffle)") {
    val plan = SparkEntry.queries("t_tfidf")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the bounded-heap aggregator must appear as partial + final around
    // the doc_id exchange — the rank window this replaced shuffled the
    // whole (doc, word) matrix with no map-side trim
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final TopTerms aggregates, plan:\n$plan")
    assert(!plan.contains("Window"),
      s"rank window resurfaced in t_tfidf plan:\n$plan")
  }

  test("Gopher rules and C4 line cleaning are per-row scans: no Exchange") {
    val s = spark
    import s.implicits._
    val df = (0L until 20L).map(i => (i, "the quick brown fox runs fast today"))
      .toDF("id", "text")
    val sig = graft.operators.Curation.gopherSignals(col("text"))
    val gopher = df.select(col("id"), sig("n_words"), sig("stop_hits"),
        graft.operators.Curation.gopherPass(col("text")).as("p"))
      .queryExecution.executedPlan.toString
    assert(!gopher.contains("Exchange"),
      s"unexpected shuffle in gopher plan:\n$gopher")
    val c4 = graft.operators.Curation.c4CleanLines(df, "id",
        graft.operators.Curation.wordWindows(col("text"), 3), minWords = 2,
        requirePunct = false)
      .queryExecution.executedPlan.toString
    assert(!c4.contains("Exchange"), s"unexpected shuffle in c4 plan:\n$c4")
  }

  test("globalLineDedup: aggregation-based winner, no corpus-wide window sort") {
    val s = spark
    import s.implicits._
    val df = (0L until 30L).map(i => (i, Array(s"line ${i % 7}", s"line ${i % 5}")))
      .toDF("id", "lines")
    val plan = graft.operators.Curation.globalLineDedup(df, "id", col("lines"))
      .queryExecution.executedPlan.toString
    // the first-occurrence winner must come from a map-side-combinable
    // min(struct) aggregation, never a row_number window over all lines
    assert(!plan.contains("Window"),
      s"corpus-wide window sort in line-dedup plan:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).nonEmpty, s"expected agg:\n$plan")
  }

  test("CMS registers reduce through one exchange with map-side partials") {
    val s = spark
    import s.implicits._
    val df = (0L until 500L).toDF("v")
    val plan = graft.operators.Sketch.cmsSketch(df, col("v"), 4, 64)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"CMS should reduce through one exchange, plan:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final register aggregates, plan:\n$plan")
  }

  test("PCA second moment: one exchange, map-side partial decimal sums") {
    val s = spark
    import s.implicits._
    val df = (0L until 50L).map(i =>
      (i, Array(i.toFloat, (i % 3).toFloat, 1.0f))).toDF("id", "vec")
    val plan = graft.operators.Pca.secondMoment(df, col("vec"), 3)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"second moment should reduce through one exchange, plan:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final sum aggregates, plan:\n$plan")
  }

  test("KMV sketch aggregates map-side: bounded partial sketch before one exchange") {
    val s = spark
    import s.implicits._
    val df = (0L until 500L).toDF("v")
    val plan = graft.operators.Sketch.kmvSketch(df, col("v"), 32)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final sketch aggregates, plan:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"sketch should reduce through one exchange, plan:\n$plan")
  }

  test("exactSpanDedup: aggregation-based firsts, no corpus-wide window sort") {
    val s = spark
    import s.implicits._
    val df = (0L until 30L).map(i => (i, s"w${i % 3} a b c d w${i % 5}"))
      .toDF("id", "text")
    val plan = graft.operators.Curation.exactSpanDedup(df, "id", "text", 5)
      .queryExecution.executedPlan.toString
    // first occurrence comes from min(struct), never row_number
    assert(!plan.contains("Window"),
      s"corpus-wide window sort in span-dedup plan:\n$plan")
  }

  test("applyPhrases rides the scan: no Exchange, no shuffle") {
    val s = spark
    import s.implicits._
    val df = (0L until 20L).map(i => (i, "a b c d")).toDF("id", "text")
    val plan = graft.operators.Phrases
      .applyPhrases(df, "id", "text", Seq(("a", "b"), ("c", "d")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"phrase rewrite should be a pure per-row scan:\n$plan")
  }

  test("ingest readers are pure per-line/per-file maps: no Exchange in any plan") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_ingest").toString
    Seq("""{"doc_id": 1, "text": "t"}""").toDF("value").write.text(s"$dir/jl")
    Seq("1,t,en,web,1").toDF("value").write.text(s"$dir/csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      graft.sources.Warc.recordBytes("resource", "urn:1", "u",
        "t".getBytes("UTF-8")))
    // a filter composed on top must also stay shuffle-free (the 100 TB
    // gate-at-the-scan shape: parse + gate ride one pass over the files)
    val jl = graft.core.Tables.documentsJsonl(s, s"$dir/jl")
      .filter(col("doc_id") > 0).queryExecution.executedPlan.toString
    val cs = graft.core.Tables.readCsvLines(s, s"$dir/csv")
      .filter(col("doc_id") > 0).queryExecution.executedPlan.toString
    val wc = graft.sources.Warc.read(s, s"$dir/a.warc")
      .filter(col("warc_type") === "resource")
      .queryExecution.executedPlan.toString
    for ((p, name) <- Seq(jl -> "jsonl", cs -> "csv", wc -> "warc"))
      assert(!p.contains("Exchange"),
        s"$name ingest must be a pure map over the file listing:\n$p")
  }

  test("funnel: no window functions — per-step filtered min aggregations") {
    val s = spark
    import s.implicits._
    val df = (0L until 40L).map(i =>
      (i % 8, new java.sql.Timestamp(1700000000000L + i * 60000),
        Seq("view", "click", "purchase")(i.toInt % 3)))
      .toDF("user_id", "ts", "event_type")
    val plan = graft.operators.Funnel.funnel(df, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"funnel must not window-sort the event stream:\n$plan")
  }

  test("backoffScore: model joins hash the stream side, never sort it") {
    val s = spark
    import s.implicits._
    val df = (0L until 40L).map(i => (i, s"a b c d e f g h w${i % 9}"))
      .toDF("id", "text")
    val plan = graft.operators.LmScore.backoffSelfScore(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"backoff model joins must be hash joins (stream side unsorted):\n$plan")
  }

  test("q6: every predicate reaches the parquet scan as a pushed filter") {
    val plan = SparkEntry.queries("q6_forecast_revenue")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters: ["))
      .getOrElse(fail(s"no PushedFilters in q6 plan:\n$plan"))
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed to the scan: $pushed")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q6 should reduce through a partial agg, no hash exchange:\n$plan")
  }

  test("pipeline_rag: top-k is TakeOrdered, hydration joins broadcast the 10-row side") {
    val plan = SparkEntry.queries("pipeline_rag")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the chunk-corpus cosine top-k must be a per-partition heap cut,
    // never a global Sort of the chunk stream
    assert(plan.contains("TakeOrderedAndProject"),
      s"chunk top-k should plan as TakeOrderedAndProject:\n$plan")
    // hydration (source lookup) joins a 10-row side against the corpus —
    // a sort-merge join there would shuffle + sort the corpus for 10 rows
    assert(!plan.contains("SortMergeJoin"),
      s"hydration must broadcast the bounded top-k side:\n$plan")
  }
}
