package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Facade lifecycle mirroring the reference's store round-trips
  * (test_mmap_vector_store.py): write/read/search/delete/persistence. */
class VectorStoreSpec extends SparkSpec {

  test("ingest → search → delete → compact → reopen round-trip") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 8)
    assert(store.size() == 0L)

    val data = corpus(30, 8)
    val rows = data.map { case (i, v) => (v, s"doc $i", Map("parity" -> (i % 2).toString)) }
      .toDF("embedding", "content", "metadata")
    val firstId = store.ingest(rows)
    assert(firstId == 0L)
    assert(store.size() == 30L)

    // search: self at distance ~0 first
    val hit = store.search(data(5)._2.toSeq, 3).collect()
    assert(hit.head.getAs[Double]("dist") < 1e-6)
    val hitId = hit.head.getAs[Long]("id")

    // filtered search respects metadata equality
    val odd = store.search(data(5)._2.toSeq, 5, Map("parity" -> "1")).collect()
    assert(odd.forall(_.getAs[Map[String, String]]("metadata")("parity") == "1"))

    // delete tombstones; search skips; compact shrinks
    store.delete(Seq(hitId))
    assert(store.size() == 29L)
    assert(store.search(data(5)._2.toSeq, 3).collect()
      .forall(_.getAs[Long]("id") != hitId))
    store.compact()

    // reopen from disk — state persists
    val reopened = VectorStore.open(s, dir, dim = 8)
    assert(reopened.size() == 29L)
    assert(reopened.get(hitId).isEmpty)

    // dim mismatch is a hard ingest error (mmap_vector_store.py:106-107)
    val bad = Seq((Seq(1f, 2f), "short", Map.empty[String, String]))
      .toDF("embedding", "content", "metadata")
    intercept[Exception] { reopened.ingest(bad) }
  }

  test("IVF build + pruned search through the facade") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(50, 8)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val model = store.buildIvf(4)
    assert(model.k == 4)
    val res = store.searchIvf(data(3)._2.toSeq, nProbe = 4, k = 5).collect()
    assert(res.head.getAs[Double]("dist") < 1e-6)
    // text search via hashing embedder also runs end-to-end
    assert(store.searchText("some query text", 3).count() == 3)
    // PQ train persists the codebook; ADC search self-match ranks first
    store.trainPq(chunks = 4, k = 4)
    val adc = store.searchAdc(data(3)._2.toSeq, 5).collect()
    assert(adc.length == 5 && adc.head.getAs[Double]("dist") < 1.0)
    // unified /search analog: defaults (top_k=5), index dispatch, and
    // unknown params ignored like the reference's kwargs pass-through
    assert(store.searchApi(data(3)._2.toSeq).count() == 5)
    val viaIvf = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "ivf", "top_k" -> "3", "n_probe" -> "4", "bogus" -> "x"))
    assert(viaIvf.count() == 3)
    assert(viaIvf.collect().head.getAs[Double]("dist") < 1e-6)
    // E5 live config source: session graft.* conf overrides the default
    // (the reference's config.yaml -> request-default chain)
    spark.conf.set("graft.search.topK", "7")
    try assert(store.searchApi(data(3)._2.toSeq).count() == 7)
    finally spark.conf.unset("graft.search.topK")
    // the scale-rule knobs flow through the same live-config chain,
    // with the measured anchors as defaults
    val cfg = graft.core.GraftConfig.from(Map(
      "graft.ivf.probeFraction" -> "0.25",
      "graft.bq.rerankFactor" -> "5.0", "graft.pq.rerankFactor" -> "2.0"))
    assert(cfg.ivfProbeFraction == 0.25 && cfg.bqRerankFactor == 5.0 &&
      cfg.pqRerankFactor == 2.0)
    val d = graft.core.GraftConfig.default
    assert(d.ivfProbeFraction == graft.operators.Ivf.ScaledProbeFraction &&
      d.bqRerankFactor == graft.operators.Bq.RerankScaleFactor &&
      d.pqRerankFactor == graft.operators.Pq.RerankScaleFactor)
    assert(graft.operators.Ivf.scaledNProbe(10, 1000, fraction = 0.25) == 250)
  }

  test("buildIvf facade: planted skew splits via the default balanced path") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 8)
    // 86% of rows in one tight jittered blob + satellites along SEVEN
    // far orthogonal axes (one per spare centroid, so k-means parks
    // exactly one centroid on the blob — the IvfSpec planted-skew
    // construction sized for k=8, through the facade)
    val rnd = new scala.util.Random(7L)
    val vecs = (0 until 860).map(_ =>
      Array.fill(8)(0.5f + rnd.nextFloat() * 0.05f)) ++
      (860 until 1000).map { i =>
        val v = Array.fill(8)(rnd.nextFloat() * 2f); v(i % 7) += 50f; v
      }
    store.ingest(vecs.map(Tuple1(_)).toDF("embedding"))
    // cap 0.1 → 100 rows: by pigeonhole ANY 8-cluster assignment of
    // 1000 rows has a hot cluster, so the split path must engage
    // through the facade regardless of where k-means parks centroids
    val model = store.buildIvf(8, maxClusterFraction = 0.1)
    assert(model.k > 8, "hot cluster did not split through the facade")
    val sizes = s.read.parquet(s"$dir/vectors_by_cluster")
      .groupBy("cluster_id").count().collect().map(_.getAs[Long]("count"))
    assert(sizes.sum == 1000L)
    assert(sizes.max < 860L,
      s"blob did not split (max cluster ${sizes.max})")
    // recall contract unchanged: full-probe search over the balanced
    // persisted index ≡ exact kNN on the live rows
    val q = vecs(3).toSeq
    val viaFacade = store.searchIvf(q, nProbe = model.k, k = 5)
      .collect().map(_.getAs[Long]("id")).toSeq
    val exact = store.search(q, 5).collect().map(_.getAs[Long]("id")).toSeq
    assert(viaFacade == exact)
    // opting out restores the plain build: k stays as requested; the
    // auto default (cap 4/k = 0.5 here) also runs clean end-to-end
    assert(store.buildIvf(8, maxClusterFraction = 1.0).k == 8)
    assert(store.buildIvf(8).k >= 8)
  }

  test("SQ8 train + ADC search through the facade") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 16)
    val data = corpus(60, 16)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val m = store.trainSq()
    assert(m.dim == 16 && m.vdiff.forall(_ >= 0))
    // 8-bit reconstruction: the query vector itself ranks first with a
    // near-zero (grid-pitch-bounded) distance
    val hits = store.searchSq(data(3)._2.toSeq, 5).select("id", "dist").collect()
    assert(hits.length == 5)
    assert(hits.head.getAs[Double]("dist") < 0.05)
    // facade dispatch with unknown-kwarg tolerance
    val api = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "sq8", "top_k" -> "3", "bogus" -> "x"))
    assert(api.count() == 3)
  }

  test("BQ screen + rerank through the facade") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 32)
    val data = corpus(80, 32)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    // screen-only: k rows in (ham, id) order; self-match has hamming 0
    val scr = store.searchBq(data(3)._2.toSeq, 5).collect()
    assert(scr.length == 5 && scr.head.getAs[Long]("ham") == 0L)
    // rerank re-scores exactly: the query vector itself comes back first
    val rr = store.searchBq(data(3)._2.toSeq, k = 5, rerank = 30).collect()
    assert(rr.length == 5 && rr.head.getAs[Double]("dist") < 1e-6)
    // facade dispatch, with the reference's unknown-kwarg tolerance
    val api = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "bq", "top_k" -> "3", "rerank" -> "30", "bogus" -> "x"))
    assert(api.count() == 3)
    assert(api.collect().head.getAs[Double]("dist") < 1e-6)
    // exclusion contract survives the centered default: a filter
    // matching zero rows is an EMPTY RESULT, not a threshold-training
    // error (the corpus the thresholds would train on has no rows)
    assert(store.searchBq(data(3)._2.toSeq, k = 5, rerank = 30,
      metadataFilter = Map("no_such_key" -> "nope")).count() == 0)
    // trainBq persists the midpoint thresholds; the persisted-model
    // path returns the same ranking as the per-query training path
    val onTheFly = store.searchBq(data(3)._2.toSeq, k = 5, rerank = 30)
      .select("id").collect().map(_.getLong(0)).toSeq
    store.trainBq()
    val persisted = store.searchBq(data(3)._2.toSeq, k = 5, rerank = 30)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(persisted == onTheFly)
  }

  test("filtered BQ: identical filters share one stats pass; mutation invalidates") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storebqcache").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(40, 8)
    store.ingest(data.map { case (i, v) =>
      (v, Map("parity" -> (i % 2).toString)) }.toDF("embedding", "metadata"))

    def run(filter: Map[String, String]) =
      store.searchBq(data(3)._2.toSeq, k = 3, rerank = 9,
        metadataFilter = filter).collect()

    val first = run(Map("parity" -> "1"))
    assert(store.bqTrainCount.get() == 1)
    // the SAME filter again: cached thresholds, no second stats pass,
    // identical answer
    val second = run(Map("parity" -> "1"))
    assert(store.bqTrainCount.get() == 1,
      "identical filtered search retrained instead of using the cache")
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
    // a DIFFERENT filter trains its own thresholds
    run(Map("parity" -> "0"))
    assert(store.bqTrainCount.get() == 2)
    // mutation through this instance invalidates the cache
    store.delete(Seq(first.head.getAs[Long]("id")))
    run(Map("parity" -> "1"))
    assert(store.bqTrainCount.get() == 3,
      "post-delete filtered search served stale cached thresholds")
  }

  test("LSH tier: persisted-signature path equals the direct path; serves post-train deletes") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storelsh").toString
    val store = VectorStore.open(s, dir, dim = 16)
    val data = corpus(80, 16)
    store.ingest(data.map { case (i, v) =>
      (v, Map("parity" -> (i % 2).toString)) }.toDF("embedding", "metadata"))

    def hits(filter: Map[String, String] = Map.empty) =
      store.searchLsh(data(7)._2.toSeq, k = 5, probeBits = 2, filter)
        .select("id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val direct = hits()
    val directFiltered = hits(Map("parity" -> "1"))
    store.trainLsh()
    assert(hits() == direct,
      "persisted-signature search must equal the on-scan path")
    assert(hits(Map("parity" -> "1")) == directFiltered,
      "metadata filter must compose identically through the persisted path")
    // deletes AFTER the build drop out via the live-join
    val top = direct.head._1
    store.delete(Seq(top))
    assert(!hits().map(_._1).contains(top),
      "tombstoned id must not surface from stale persisted signatures")
  }

  test("IVF-PQ build + two-stage search through the facade") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 16)
    val data = corpus(60, 16)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.buildIvfPq(kClusters = 4, chunks = 4, kCodes = 4)
    // code table holds codes + metadata, NOT raw vectors
    val codeCols = s.read.parquet(s"$dir/codes_by_cluster").schema.fieldNames.toSet
    assert(codeCols("pq_code") && codeCols("cluster_id") && !codeCols("embedding"))
    // ADC-only search returns k approximate hits from the probed clusters
    assert(store.searchIvfPq(data(3)._2.toSeq, nProbe = 4, k = 5).count() == 5)
    // rerank re-scores exactly: the query vector itself comes back first
    val rr = store.searchIvfPq(data(3)._2.toSeq, nProbe = 4, k = 5, rerank = 20)
      .collect()
    assert(rr.length == 5 && rr.head.getAs[Double]("dist") < 1e-6)
    // facade dispatch, with the reference's unknown-kwarg tolerance
    val api = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "ivfpq", "top_k" -> "3", "n_probe" -> "4",
        "rerank" -> "20", "bogus" -> "x"))
    assert(api.count() == 3)
    assert(api.collect().head.getAs[Double]("dist") < 1e-6)
    // defaults-taking path: auto probe count + auto rerank window (the
    // exact-rerank stage puts the self-match first with exact dist 0)
    val auto = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "ivfpq", "top_k" -> "3"))
    assert(auto.count() == 3)
    assert(auto.collect().head.getAs[Double]("dist") < 1e-6)
    // lsh dispatch: exact rerank of the bucket candidates — self-match
    // always collides with its own buckets, so it comes back first
    val lsh = store.searchApi(data(3)._2.toSeq,
      Map("index" -> "lsh", "top_k" -> "3"))
    assert(lsh.count() == 3)
    assert(lsh.collect().head.getAs[Double]("dist") < 1e-6)
  }

  test("mutations are delta appends: delete(1 id) leaves the base untouched") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storedelta").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(500, 8)
    val first = store.ingest(data.map { case (i, v) => (v, s"doc $i") }
      .toDF("embedding", "content"))
    // contiguous reserve-then-write ids: exactly [0, 500)
    assert(first == 0L)
    val ids = store.snapshot().select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 500L), "ids must be the reserved range")
    store.compact() // corpus now lives in base
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val basePath = new org.apache.hadoop.fs.Path(s"$dir/vectors/base")
    val baseStamp = f.listStatus(basePath)
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val baseBytes = f.getContentSummary(basePath).getLength

    // one-id delete: O(|ids|) bytes written, base files untouched
    store.delete(Seq(42L))
    assert(f.listStatus(basePath)
      .map(st => st.getPath.getName -> st.getModificationTime).toMap == baseStamp,
      "delete must not rewrite the base")
    // parquet's fixed footer floor (~2 KB) dominates a 1-row file at
    // test scale; the scale claim is delta ≪ base (exact O(ids) vs
    // O(corpus) separation is the ScaleProbe's job at 1M/10M rows)
    val deltaBytes = f.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$dir/vectors/delta")).getLength
    assert(deltaBytes < baseBytes / 4,
      s"1-row delete wrote $deltaBytes B vs $baseBytes B base — must be O(ids)")
    assert(store.size() == 499L)
    assert(store.get(42L).isEmpty)

    // small ingest: another delta append, base still untouched
    store.ingest(data.take(3).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    assert(f.listStatus(basePath)
      .map(st => st.getPath.getName -> st.getModificationTime).toMap == baseStamp,
      "ingest must not rewrite the base")
    assert(store.size() == 502L)
    // compaction folds + physically drops the tombstoned row
    store.compact()
    assert(store.size() == 502L)
    assert(s.read.parquet(s"$dir/vectors/base")
      .filter(col("id") === 42L).count() == 0L, "compact drops tombstones")
  }

  test("retained compaction through the facade: each fold is a readable generation") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storegen").toString
    val store = VectorStore.open(s, dir, dim = 4)
    val vecs = (0 until 6).map(i => Array.fill(4)(i.toFloat))
    store.ingest(vecs.map(Tuple1(_)).toDF("embedding"))
    store.compact(retainGenerations = 2) // gen point: 6 rows
    store.delete(Seq(0L))
    store.compact(retainGenerations = 2) // gen point: 5 rows
    assert(store.size() == 5L)
    val basePath = s"$dir/vectors/base"
    val gens = graft.core.SnapshotIO.generations(s, basePath)
    assert(gens.nonEmpty, "displaced folds must be archived as generations")
    // the newest archived generation is the pre-delete 6-row state
    val prev = graft.core.SnapshotIO.readGeneration(s, basePath, gens.last).get
    assert(prev.count() == 6L)
  }

  test("deleteIds: DataFrame deletion set tombstones via semi-join, O(matched) delta") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storedelids").toString
    val store = VectorStore.open(s, dir, dim = 4)
    val vecs = (0 until 50).map(i => Array.fill(4)(i.toFloat))
    store.ingest(vecs.map(Tuple1(_)).toDF("embedding"))
    // delete every even id via a DataFrame (int-typed: cast must widen)
    store.deleteIds(s.range(0, 50, 2).select(col("id").cast("int")))
    assert(store.size() == 25L)
    assert(store.get(2L).isEmpty && store.get(3L).nonEmpty)
    // ids not present are a no-op; compact drops the flagged rows
    store.deleteIds(Seq(9999).toDF("id"))
    store.compact()
    assert(store.size() == 25L)
    assert(s.read.parquet(s"$dir/vectors/base")
      .filter(col("id") % 2 === 0).count() == 0L)
  }

  test("next-id high-water mark survives reopen and crashes forward, never backward") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storenid").toString
    val store = VectorStore.open(s, dir, dim = 4)
    val vecs = (0 until 10).map(i => Array.fill(4)(i.toFloat))
    assert(store.ingest(vecs.map(Tuple1(_)).toDF("embedding")) == 0L)
    // a fresh handle keeps counting from the persisted mark
    val reopened = VectorStore.open(s, dir, dim = 4)
    assert(reopened.ingest(vecs.take(3).map(Tuple1(_)).toDF("embedding")) == 10L)
    // ids never collide across handles
    val all = reopened.snapshot().select("id").collect().map(_.getLong(0))
    assert(all.distinct.length == 13)
    // torn marker degrades to the max-scan, not a collision
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$dir/next_id"), true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    assert(VectorStore.open(s, dir, dim = 4)
      .ingest(vecs.take(1).map(Tuple1(_)).toDF("embedding")) == 13L)
  }

  test("incremental LSH: post-train ingests surface without a retrain") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storelshinc").toString
    val store = VectorStore.open(s, dir, dim = 16)
    val data = corpus(60, 16)
    store.ingest(data.take(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.trainLsh()
    // ingest AFTER the build: signatures are appended for the new rows
    store.ingest(data.drop(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val newSelf = data(50)._2.toSeq // a post-train row, queried as itself
    val hits = store.searchLsh(newSelf, k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Double]("dist") < 1e-6,
      "a row ingested after trainLsh must be findable without retraining")
    // and the persisted path is still in play (signature table exists)
    assert(s.read.parquet(s"$dir/lsh_signatures").count() == 60L)
  }

  test("IVF/IVF-PQ tiers stay live: post-build ingests surface, deletes drop, no rebuild") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storeivflive").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(60, 8)
    store.ingest(data.take(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.buildIvf(4)
    store.buildIvfPq(kClusters = 4, chunks = 4, kCodes = 4)
    // ingest AFTER both builds: the appended index rows must surface
    store.ingest(data.drop(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val newSelf = data(50)._2.toSeq
    val ivfHit = store.searchIvf(newSelf, nProbe = 4, k = 3).collect()
    assert(ivfHit.head.getAs[Double]("dist") < 1e-6,
      "a row ingested after buildIvf must be findable without a rebuild")
    // rerank window spans the table: the claim under test is the new
    // row's VISIBILITY in the appended code rows (exact rerank then
    // scores it 0), not the coarse 4×4 codebook's ADC ranking
    val pqHit = store.searchIvfPq(newSelf, nProbe = 4, k = 3, rerank = 60).collect()
    assert(pqHit.head.getAs[Double]("dist") < 1e-6,
      "a row ingested after buildIvfPq must be findable without a rebuild")
    // delete AFTER the builds: the sidecar must drop it from both tiers
    val gone = ivfHit.head.getAs[Long]("id")
    store.delete(Seq(gone))
    assert(!store.searchIvf(newSelf, nProbe = 4, k = 5).collect()
      .map(_.getAs[Long]("id")).contains(gone),
      "a tombstoned id must not surface from the stale IVF table")
    assert(!store.searchIvfPq(newSelf, nProbe = 4, k = 5, rerank = 60).collect()
      .map(_.getAs[Long]("id")).contains(gone),
      "a tombstoned id must not surface from the stale code table")
    // a rebuild starts a fresh table and clears the sidecar
    store.buildIvf(4)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_tombstones")))
    assert(!store.searchIvf(newSelf, nProbe = 4, k = 5).collect()
      .map(_.getAs[Long]("id")).contains(gone))
    // an empty delete writes nothing: no new delta seq, no sidecar file
    val seqs = graft.core.DeltaLog.deltaSeqs(s, s"$dir/vectors")
    store.delete(Seq.empty)
    assert(graft.core.DeltaLog.deltaSeqs(s, s"$dir/vectors") == seqs)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_tombstones")))
  }

  test("cross-instance freshness: B's exact search sees A's ingest and delete") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storexinst").toString
    val a = VectorStore.open(s, dir, dim = 8)
    val b = VectorStore.open(s, dir, dim = 8)
    val data = corpus(40, 8)
    a.ingest(data.take(30).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    a.compact()
    a.ingest(data.slice(30, 35).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val q = data(37)._2.toSeq
    def ids(store: VectorStore) =
      store.search(q, 5).collect().map(_.getAs[Long]("id")).toSeq
    // B reads the store (base + one live delta) before A writes again
    val victim = ids(b).head
    val added = a.ingest(Seq(Tuple1(data(37)._2)).toDF("embedding"))
    a.delete(Seq(victim))
    val after = b.search(q, 5).collect()
    assert(after.head.getAs[Long]("id") == added &&
      after.head.getAs[Double]("dist") < 1e-6,
      "B must see the row A ingested after B's first read")
    assert(!after.map(_.getAs[Long]("id")).contains(victim),
      "B must never return the id A deleted")
    assert(ids(b) == ids(a))
  }

  test("cross-instance memos: B's memoized values follow writes made through A") {
    val s = spark
    import s.implicits._
    val data = corpus(150, 8)
    val self = data(42)._2.toSeq
    val parity1 = Map("parity" -> "1")
    def bq(store: VectorStore) =
      store.searchBq(self, k = 3, rerank = 9, metadataFilter = parity1).collect()
    def hnsw(store: VectorStore) = store.searchHnsw(self, k = 5, ef = 1000).collect()
    def ivf(store: VectorStore, nProbe: Int) =
      store.searchIvf(self, nProbe = nProbe, k = 3).collect()
    def selfHit(rows: Array[org.apache.spark.sql.Row]) =
      rows.head.getAs[Double]("dist") < 1e-6
    // (what B serves first, what A writes, what B must then see)
    val cases = Seq[(String, (VectorStore, VectorStore) => Unit,
        VectorStore => Unit, (VectorStore, VectorStore) => Unit)](
      ("live count", (_, b) => assert(b.size() == 150L),
        a => a.delete(Seq(7L)),
        (_, b) => assert(b.size() == 149L, "B's size() missed A's delete")),
      ("filtered BQ thresholds", (_, b) => bq(b),
        a => a.delete(Seq(9L)),
        { (_, b) =>
          val trained = b.bqTrainCount.get()
          bq(b)
          assert(b.bqTrainCount.get() == trained + 1,
            "B served thresholds trained before A's delete")
        }),
      ("HNSW build row", { (a, b) =>
          a.buildHnsw(m = 8, efConstruction = 50, numPartitions = 4); hnsw(b) },
        a => a.buildHnsw(m = 8, efConstruction = 50, numPartitions = 2),
        { (a, b) =>
          val got = hnsw(b)
          assert(selfHit(got))
          assert(got.map(_.getAs[Long]("id")).toSeq ==
            hnsw(a).map(_.getAs[Long]("id")).toSeq,
            "B searched A's new graph with the old shard count")
        }),
      ("IVF serve model", { (a, b) =>
          a.buildIvf(12, hierarchical = Some(true)); ivf(b, 12) },
        a => a.buildIvf(4),
        (_, b) => assert(selfHit(ivf(b, 4)),
          "B probed A's flat table through the replaced hierarchical model")))
    cases.foreach { case (name, serve, write, check) =>
      withClue(s"$name: ") {
        val dir = Files.createTempDirectory("storexmemo").toString
        val a = VectorStore.open(s, dir, dim = 8)
        val b = VectorStore.open(s, dir, dim = 8)
        a.ingest(data.map { case (i, v) =>
          (v, Map("parity" -> (i % 2).toString)) }.toDF("embedding", "metadata"))
        serve(a, b)
        write(a)
        check(a, b)
      }
    }
  }

  test("compact folds the index sidecars: tables drop tombstoned ids, sidecars clear") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storefold").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(60, 8)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.buildIvf(4)
    store.buildIvfPq(kClusters = 4, chunks = 4, kCodes = 4)
    store.delete(Seq(7L, 8L, 9L))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_tombstones")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivfpq_tombstones")))
    store.compact()
    // sidecars are folded INTO the tables and cleared
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_tombstones")),
      "compact must clear the IVF sidecar")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivfpq_tombstones")),
      "compact must clear the IVF-PQ sidecar")
    assert(s.read.parquet(s"$dir/vectors_by_cluster")
      .filter(col("id").isin(7L, 8L, 9L)).count() == 0L,
      "folded IVF table must not hold tombstoned ids")
    assert(s.read.parquet(s"$dir/codes_by_cluster")
      .filter(col("id").isin(7L, 8L, 9L)).count() == 0L,
      "folded code table must not hold tombstoned ids")
    // searches stay correct over the folded tables
    val self = data(20)._2.toSeq
    val ivfHit = store.searchIvf(self, nProbe = 4, k = 3).collect()
    assert(ivfHit.head.getAs[Double]("dist") < 1e-6)
    assert(!store.searchIvf(data(7)._2.toSeq, nProbe = 4, k = 10).collect()
      .map(_.getAs[Long]("id")).contains(7L))
    val pqHit = store.searchIvfPq(self, nProbe = 4, k = 3, rerank = 60).collect()
    assert(pqHit.head.getAs[Double]("dist") < 1e-6)
    // no leftover swap dirs
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors_by_cluster__fold")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors_by_cluster__dropped")))
  }

  test("delete-crash window heals at compact: lost sidecar append cannot ghost forever") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storeheal").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(40, 8)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.buildIvf(4)
    store.delete(Seq(5L))
    // simulate the crash window: the delete delta landed but the
    // sidecar append was lost (pre-fix this id resurfaced from
    // searchIvf until the next full build)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/ivf_tombstones"), true)
    assert(store.searchIvf(data(5)._2.toSeq, nProbe = 4, k = 3).collect()
      .map(_.getAs[Long]("id")).contains(5L),
      "precondition: with the sidecar lost, the ghost row resurfaces")
    store.compact() // the fold unions the merged log's is_deleted ids
    assert(!store.searchIvf(data(5)._2.toSeq, nProbe = 4, k = 10).collect()
      .map(_.getAs[Long]("id")).contains(5L),
      "compact must heal the lost-sidecar ghost")
  }

  test("next-id fallback never re-issues ids still in the LSH signature table") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storenextid").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(6, 8)
    store.ingest(data.map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.trainLsh()
    store.delete(Seq(5L)) // the max id
    store.compact()       // physically dropped: snapshot max shrinks to 4
    // simulate a torn/absent high-water marker (legacy store shape)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/next_id"), false)
    val next = store.ingest(data.take(1).map { case (_, v) => Tuple1(v) }
      .toDF("embedding"))
    assert(next >= 6L,
      s"fallback must max against the signature table (id 5 lives there), got $next")
  }

  test("buildIvf hierarchical: searches serve, ingest assigns two-level, flat rebuild clears supers") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storehier").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(200, 8)
    store.ingest(data.take(150).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val model = store.buildIvf(12, hierarchical = Some(true))
    assert(model.k >= 9 && model.k <= 12)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_supers")),
      "hier build persists the super table")
    // exhaustive probe over the persisted table = exact self-hit
    val self = data(37)._2.toSeq
    val hit = store.searchIvf(self, nProbe = model.k, k = 3).collect()
    assert(hit.head.getAs[Double]("dist") < 1e-6)
    // ingest AFTER the hier build: assignment runs through the two-level
    // model and the new row surfaces without a rebuild
    store.ingest(data.drop(150).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val newSelf = data(170)._2.toSeq
    val hit2 = store.searchIvf(newSelf, nProbe = model.k, k = 3).collect()
    assert(hit2.head.getAs[Double]("dist") < 1e-6,
      "a row ingested after the hier build must be findable")
    // appended cluster ids must stay within the hier model's range
    val maxCid = s.read.parquet(s"$dir/vectors_by_cluster")
      .agg(max(col(graft.operators.Ivf.ClusterCol))).head.getInt(0)
    assert(maxCid < model.k, s"appended cluster id $maxCid out of range")
    // a FLAT rebuild must clear the stale hierarchy
    store.buildIvf(4)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf_supers")),
      "flat rebuild clears the super table")
    val hit3 = store.searchIvf(self, nProbe = 4, k = 3).collect()
    assert(hit3.head.getAs[Double]("dist") < 1e-6)
  }

  test("persisted HNSW: build once, serve graph + exact tail, tolerate deletes") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storehnsw").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(200, 8)
    store.ingest(data.take(150).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.buildHnsw(m = 8, efConstruction = 50, numPartitions = 4)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/hnsw_edges/_SUCCESS")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/hnsw_model/_SUCCESS")))
    // exhaustive beam over the persisted graph: self-hit at dist ~0
    val self = data(42)._2.toSeq
    val hit = store.searchHnsw(self, k = 3, ef = 1000).collect()
    assert(hit.head.getAs[Double]("dist") < 1e-6)
    val hitId = hit.head.getAs[Long]("id")
    // rows ingested AFTER the build are served exactly from the tail
    store.ingest(data.drop(150).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    val newSelf = data(180)._2.toSeq
    val hit2 = store.searchHnsw(newSelf, k = 3, ef = 1000).collect()
    assert(hit2.head.getAs[Double]("dist") < 1e-6,
      "a row ingested after buildHnsw must surface via the exact tail")
    // deletes drop via the live-join (dangling edges tolerated)
    store.delete(Seq(hitId))
    assert(!store.searchHnsw(self, k = 5, ef = 1000).collect()
      .map(_.getAs[Long]("id")).contains(hitId),
      "a tombstoned id must not surface from the persisted graph")
    // compact keeps serving (ids stable through the fold)
    store.compact()
    val hit3 = store.searchHnsw(newSelf, k = 3, ef = 1000).collect()
    assert(hit3.head.getAs[Double]("dist") < 1e-6)
    // refreshHnsw folds the tail into the graph incrementally: the
    // watermark advances and the tail-served row now serves from the
    // persisted adjacency
    store.refreshHnsw()
    val wm = s.read.parquet(s"$dir/hnsw_model").head
      .getAs[Long]("built_next_id")
    assert(wm >= 200L, s"watermark must cover the folded tail, got $wm")
    val hit4 = store.searchHnsw(newSelf, k = 3, ef = 1000).collect()
    assert(hit4.head.getAs[Double]("dist") < 1e-6,
      "a tail row must stay findable after the incremental fold")
    assert(hit4.map(_.getAs[Long]("id")).distinct.length == hit4.length,
      "merge must not duplicate ids")
  }

  test("legacy store migrates through mutations: delete + compact + reopen") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storelegmig").toString
    val data = corpus(6, 8)
    data.map { case (i, v) => (i.toLong, v, s"doc $i",
        Map("k" -> "v"), false) }
      .toDF("id", "embedding", "content", "metadata", "is_deleted")
      .write.mode("overwrite").parquet(s"$dir/vectors")
    val store = VectorStore.open(s, dir, dim = 8)
    assert(store.size() == 6L)
    store.delete(Seq(2L)) // first mutation adopts the root, then appends
    assert(store.size() == 5L)
    val next = store.ingest(data.take(2).map { case (_, v) => Tuple1(v) }
      .toDF("embedding"))
    assert(next == 6L, "next id continues past the legacy max")
    store.compact()
    val reopened = VectorStore.open(s, dir, dim = 8)
    assert(reopened.size() == 7L)
    assert(reopened.get(2L).isEmpty)
    assert(reopened.get(0L).nonEmpty)
  }

  test("metadata_json fidelity: int/list values round-trip and filter (test_embed_api.py:153-160)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("store").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(20, 8)
    // reference-shaped payloads: int and list metadata values, which the
    // string map cannot represent — they ride the raw JSON column
    val rows = data.map { case (i, v) =>
      (v, s"doc $i", s"""{"rank":${i % 4},"tags":[${i % 3},${(i + 1) % 3}],"name":"n$i"}""")
    }.toDF("embedding", "content", "metadata_json")
    store.ingest(rows)

    // verbatim round-trip through the persisted snapshot (ids are
    // sparse under assignIdsFast — address the row by content)
    val back = store.snapshot().filter(col("content") === "doc 7").collect().head
    assert(back.getAs[String]("metadata_json") ==
      """{"rank":3,"tags":[1,2],"name":"n7"}""")

    // filter on an int value, a list element, and a string — conjunctive
    val hits = store.searchJsonFiltered(data(7)._2.toSeq, 5,
      Map("rank" -> "3", "tags[0]" -> "1", "name" -> "n7")).collect()
    assert(hits.length == 1 && hits.head.getAs[Double]("dist") < 1e-6)

    // missing path ⇒ no match (reference filter semantics)
    assert(store.searchJsonFiltered(data(7)._2.toSeq, 5,
      Map("absent" -> "1")).count() == 0L)

    // string-map ingest still derives a consistent JSON rendering
    val store2 = VectorStore.open(s, Files.createTempDirectory("store").toString, 8)
    store2.ingest(data.take(3).map { case (i, v) =>
      (v, Map("parity" -> (i % 2).toString)) }.toDF("embedding", "metadata"))
    val derived = store2.snapshot().select("metadata_json").collect()
      .map(_.getString(0)).sorted
    assert(derived.toSeq == Seq("""{"parity":"0"}""", """{"parity":"0"}""",
      """{"parity":"1"}"""))

    // pre-fidelity stores (no metadata_json column on disk) pad null and
    // keep ingesting cleanly
    val legacyDir = Files.createTempDirectory("store").toString
    data.take(2).map { case (i, v) => (i, v, s"doc $i",
        Map("k" -> "v"), false) }
      .toDF("id", "embedding", "content", "metadata", "is_deleted")
      .write.mode("overwrite").parquet(s"$legacyDir/vectors")
    val legacy = VectorStore.open(s, legacyDir, 8)
    assert(legacy.snapshot().filter(col("metadata_json").isNull).count() == 2L)
    legacy.ingest(data.drop(2).take(2).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    assert(legacy.size() == 4L)
  }

  test("filtered HNSW routing: loose filter serves the persisted graph " +
      "(over-fetch + post-filter), tight filter keeps the rebuild; recall holds") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storehnswroute").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(200, 8, seed = 9L)
    // 90% of rows carry g=big (the loose-filter regime), 10% g=small
    store.ingest(data.map { case (i, v) =>
      (v, Map("g" -> (if (i % 10 == 0) "small" else "big")))
    }.toDF("embedding", "metadata"))
    store.buildHnsw(m = 8, efConstruction = 50, numPartitions = 4)
    val q = data(3)._2.toSeq
    def exactFiltered(g: String, k: Int): Seq[Long] =
      store.search(q, k, Map("g" -> g)).collect().map(_.getAs[Long]("id")).toSeq
    // LOOSE filter (match fraction 0.9 >= default 0.5 threshold): the
    // post-filter route, exhaustive beam — over-fetch must keep the
    // reference recall gate (>= 0.7 of top-10; with ef far above every
    // shard both routes are exact-composed here, so assert equality)
    val loose = store.searchHnsw(q, k = 10, ef = 1000, Map("g" -> "big"))
      .collect().map(_.getAs[Long]("id")).toSeq
    val looseExact = exactFiltered("big", 10)
    assert(loose.toSet.intersect(looseExact.toSet).size >= 7,
      s"loose-filter recall under the post-filter route: $loose vs $looseExact")
    assert(loose.head == looseExact.head, "self-hit must survive the route")
    // every returned row matches the filter (exclusion semantics hold
    // through the over-fetch + post-filter composition)
    val looseRows = store.searchHnsw(q, k = 10, ef = 1000, Map("g" -> "big"))
      .join(store.snapshot(), "id").collect()
    assert(looseRows.forall(_.getAs[Map[String, String]]("metadata")("g") == "big"))
    // TIGHT filter (0.1 < threshold): the pre-filter rebuild — exact
    // composition, so exhaustive beam = exact filtered kNN
    val tight = store.searchHnsw(q, k = 5, ef = 1000, Map("g" -> "small"))
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(tight == exactFiltered("small", 5),
      "tight-filter rebuild route must stay exact-composed")
    // the routing threshold is a live session knob
    s.conf.set("graft.hnsw.postFilterMinFraction", "1.1")
    try {
      val forcedRebuild = store.searchHnsw(q, k = 10, ef = 1000, Map("g" -> "big"))
        .collect().map(_.getAs[Long]("id")).toSeq
      assert(forcedRebuild == looseExact,
        "threshold 1.1 forces the rebuild route (exact-composed)")
    } finally s.conf.unset("graft.hnsw.postFilterMinFraction")
  }

  test("post-filter route, ADVERSARIAL: default beam (ef = 0) under a " +
      "filter correlated AGAINST the query's neighborhood still fills k " +
      "and holds the recall floor") {
    // r16 VERDICT #6 / ADVICE: kFetch = k ÷ GLOBAL match fraction × 2 is
    // a global margin — this case makes the LOCAL match fraction near
    // the query ~0.2 while the global fraction (0.56) stays above the
    // 0.5 routing threshold, so the post-filter route is taken exactly
    // where its margin is weakest, at the DEFAULT beam (no ef crutch).
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("storehnswadv").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val rnd = new scala.util.Random(31L)
    val n = 2000
    val data = (0 until n).map { i =>
      val local = i < n / 2 // first half: the query's cluster at 0.0
      val base = if (local) 0.0f else 4.0f
      val emb = Array.fill(8)(base + rnd.nextFloat() * 0.5f)
      // keep-rate 20% in the query cluster, 92% in the far cluster →
      // global keep fraction = (0.2 + 0.92)/2 = 0.56 ≥ 0.5 threshold
      val keep = if (local) i % 5 == 0 else i % 25 != 0
      (emb, Map("keep" -> (if (keep) "y" else "n")))
    }
    store.ingest(data.toDF("embedding", "metadata"))
    store.buildHnsw(m = 8, efConstruction = 50, numPartitions = 4)
    val q = Seq.fill(8)(0.25f) // inside the sparse-keep cluster
    val got = store.searchHnsw(q, k = 10, ef = 0, Map("keep" -> "y"))
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got.length == 10, s"post-filter route under-filled k: $got")
    val exact = store.search(q, 10, Map("keep" -> "y"))
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got.toSet.intersect(exact.toSet).size >= 7,
      s"correlated-filter recall floor: got $got vs exact $exact")
  }
}
