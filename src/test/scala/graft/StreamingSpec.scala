package graft

import graft.streaming.{StreamingIngest, StreamJoin}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming ingest: micro-batch upsert with exactly-once snapshot
  * publish, threshold flush (B10), and watermarked windowed aggregation. */
class StreamingSpec extends SparkSpec {

  /** Live view of a DeltaLog store (base + delta tail, merged). */
  private def merged(s: org.apache.spark.sql.SparkSession, dir: String,
                     idCol: String = "id"): org.apache.spark.sql.DataFrame =
    graft.core.DeltaLog.readMerged(s, dir, idCol)
      .getOrElse(sys.error(s"no delta-log state at $dir"))

  test("upsert stream applies micro-batches; updates win; flush fires at threshold") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("stream").toString
    val flushes = new java.util.concurrent.atomic.AtomicInteger(0)

    val source = MemoryStream[(Long, String)]
    source.addData((0L, "a"), (1L, "b"))
    val q1 = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "v"), "id", s"$tmp/snap", s"$tmp/ckpt1",
      flushThreshold = 3, onFlush = _ => { flushes.incrementAndGet(); () })
    q1.awaitTermination()

    var snap = merged(s, s"$tmp/snap").orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(snap.toSeq == Seq(0L -> "a", 1L -> "b"))
    assert(flushes.get() == 0) // 2 rows < threshold 3

    source.addData((1L, "B"), (2L, "c"))
    val q2 = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "v"), "id", s"$tmp/snap", s"$tmp/ckpt1",
      flushThreshold = 3, onFlush = _ => { flushes.incrementAndGet(); () })
    q2.awaitTermination()

    snap = merged(s, s"$tmp/snap").orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(snap.toSeq == Seq(0L -> "a", 1L -> "B", 2L -> "c"))
    assert(flushes.get() == 1) // 2 + 2 rows >= threshold
  }

  test("upsertStream onto a legacy plain-snapshot store adopts it, never orphans it") {
    // the pre-delta-log layout was a plain parquet snapshot AT the
    // target dir; pointing the stream at such a store must surface the
    // old rows through the merged read (adopted as the initial base by
    // rename), not silently read them as an empty store
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamlegacy").toString
    Seq((0L, "old0"), (1L, "old1")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/store")
    val source = MemoryStream[(Long, String)]
    source.addData((1L, "NEW1"), (2L, "new2"))
    StreamingIngest.upsertStream(source.toDF().toDF("id", "v"), "id",
      s"$tmp/store", s"$tmp/ckpt").awaitTermination()
    val got = merged(s, s"$tmp/store").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(got.toSeq == Seq(0L -> "old0", 1L -> "NEW1", 2L -> "new2"),
      "legacy rows must survive adoption and be shadowed by the stream's updates")
  }

  test("threshold totals are exact under the O(delta) bound gate") {
    // the size tracker is an UPPER bound (base count + delta inserts);
    // onFlush must still see exact merged totals: a bound crossing
    // caused purely by overlapping upserts (bound 6, true 3) must NOT
    // fire, and real crossings report the true count, tombstones
    // subtracted
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streambound").toString
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]

    val source = MemoryStream[(Long, String, Boolean)]
    def drain(): Unit = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "v", "del"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 4, compactEvery = 0, tombstoneCol = Some("del"),
      onFlush = t => { totals += t; () }).awaitTermination()

    source.addData((0L, "a", false), (1L, "b", false), (2L, "c", false))
    drain() // 3 rows: bound 3 < 4 — no count, no flush
    assert(totals.isEmpty)
    source.addData((0L, "A", false), (1L, "B", false), (2L, "C", false))
    drain() // bound 6 >= 4 but TRUE total 3 < 4 — exact count gates it
    assert(totals.isEmpty, "overlapping upserts must not fake a crossing")
    source.addData((3L, "d", false))
    drain() // true total 4 — fires with the exact count
    assert(totals.toSeq == Seq(4L))
    source.addData((0L, "", true), (4L, "e", false), (5L, "f", false))
    drain() // delete 0, add 4,5: true total 5
    assert(totals.toSeq == Seq(4L, 5L))
    val live = merged(s, s"$tmp/snap").select("id").collect()
      .map(_.getLong(0)).sorted
    assert(live.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("delta upsert stream: checkpoint replay after a crash is idempotent, compaction included") {
    // a file source (unlike MemoryStream) is replayable across query
    // restarts, so deleting the newest checkpoint commit genuinely
    // re-runs that batchId — the crash shape the delta log must absorb:
    // the replayed flush rewrites its own delta dir (same seq) and any
    // compaction it already triggered stays folded
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("streamreplay").toString
    Seq((0L, "a"), (1L, "b")).toDF("id", "v")
      .write.parquet(s"$tmp/in/f0")
    Seq((1L, "B"), (2L, "c")).toDF("id", "v")
      .write.parquet(s"$tmp/in/f1")
    Seq((0L, "A2"), (3L, "d")).toDF("id", "v")
      .write.parquet(s"$tmp/in/f2")
    val schema = s.read.parquet(s"$tmp/in/f0").schema

    def drain(): Unit = StreamingIngest.upsertStream(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in/*"), "id", s"$tmp/store", s"$tmp/ckpt",
      flushThreshold = Long.MaxValue, compactEvery = 2).awaitTermination()
    drain()
    val want = Map(0L -> "A2", 1L -> "B", 2L -> "c", 3L -> "d")
    def state() = merged(s, s"$tmp/store").select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == want)
    assert(graft.core.DeltaLog.watermark(s, s"$tmp/store") >= 1L,
      "compactEvery=2 must have folded at least the first window")

    // crash simulation: the newest batch committed its delta + data but
    // the checkpoint commit was lost — restart replays that batchId
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    // drop the Hadoop checksum twin too — LocalFS renames fail on a
    // stale .N.crc left behind
    new java.io.File(s"$tmp/ckpt/commits/.${commits.last.getName}.crc").delete()
    assert(commits.last.delete())
    drain()
    assert(state() == want, "replayed batch must leave the store unchanged")
    // and the replayed seq did not duplicate: one live delta dir at most
    // per surviving batchId
    val seqs = graft.core.DeltaLog.deltaSeqs(s, s"$tmp/store")
    assert(seqs == seqs.distinct)
  }

  test("a fresh checkpoint streaming into a compacted store lands above the log") {
    // the store's log has a watermark before the stream starts: every
    // batch must still land above it, reach every tier before and after
    // compact, and a re-run or a replay of the checkpoint changes nothing
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("streamcompacted").toString
    val dir = s"$tmp/store"
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(60, 8)
    store.ingest(data.take(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.compact()
    store.ingest(data.drop(40).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.delete(Seq(3L))
    store.compact()
    assert(graft.core.DeltaLog.watermark(s, s"$dir/vectors") >= 2L)
    store.buildIvf(4)
    store.buildIvfPq(kClusters = 4, chunks = 4, kCodes = 4)
    store.trainLsh()
    val streamed = Seq(500L -> Array.fill(8)(0.5f), 501L -> Array.fill(8)(0.25f))
    streamed.zipWithIndex.foreach { case ((id, v), i) =>
      Seq((id, v, s"doc $id", Map("g" -> "s"), "{}", false))
        .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted")
        .write.parquet(s"$tmp/in/f$i")
    }
    val schema = s.read.parquet(s"$tmp/in/f0").schema
    def drain(): Unit = StreamingIngest.upsertStream(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*"),
      "id", s"$dir/vectors", s"$tmp/ckpt", compactEvery = 0).awaitTermination()
    def seen(when: String): Unit = withClue(s"$when: ") {
      assert(store.size() == 61L)
      streamed.foreach { case (id, v) =>
        assert(store.get(id).map(_.getAs[String]("content")).contains(s"doc $id"))
        def self(df: org.apache.spark.sql.DataFrame) = {
          val r = df.select("id", "dist").head
          (r.getLong(0), r.getDouble(1))
        }
        assert(self(store.searchIvf(v.toSeq, nProbe = 4, k = 3)) == ((id, 0.0)), "searchIvf")
        assert(self(store.searchIvfPq(v.toSeq, nProbe = 4, k = 3, rerank = 61)) == ((id, 0.0)),
          "searchIvfPq")
        assert(self(store.searchLsh(v.toSeq, k = 3)) == ((id, 0.0)), "searchLsh")
      }
    }
    drain()
    seen("streamed")
    store.compact()
    seen("compacted")
    def state() = (graft.core.DeltaLog.version(s, s"$dir/vectors"),
      store.snapshot().orderBy("id").collect().toSeq)
    val before = state()
    drain()
    assert(state() == before, "re-running the checkpoint must change nothing")
    // a replay of the last batch (its commit lost) rewrites its own seq,
    // which the compaction already folded
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    new java.io.File(s"$tmp/ckpt/commits/.${commits.last.getName}.crc").delete()
    assert(commits.last.delete())
    drain()
    assert(state()._2 == before._2, "a replay must leave the rows unchanged")
    assert(state()._1.live.isEmpty, "a replay must land at or below the watermark")
    seen("replayed")
  }

  test("stream ingest → threshold flush → IVF rebuild → search sees new rows") {
    // the reference's full write path (HTTP ingest → storage → index
    // insert → threshold save, services/indexing_service.py:77-89) as a
    // streaming pipeline: micro-batch upserts, flush triggers an index
    // rebuild, searches over the rebuilt index find the new vectors
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamivf").toString
    val dim = 8
    val rebuilds = new java.util.concurrent.atomic.AtomicInteger(0)

    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextFloat())
    }
    val source = MemoryStream[(Long, Seq[Float])]
    source.addData((0L until 20L).map(i => (i, vec(i.toInt))): _*)

    var model: graft.operators.Ivf.Model = null
    val q1 = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 10, onFlush = _ => {
        rebuilds.incrementAndGet()
        val snap = merged(s, s"$tmp/snap")
        val (assigned, m) = graft.operators.Ivf.build(snap, "embedding", k = 4)
        graft.operators.Ivf.writePartitioned(assigned, s"$tmp/by_cluster")
        model = m
        ()
      })
    q1.awaitTermination()
    assert(rebuilds.get() == 1, "flush threshold (20 >= 10) must fire exactly once")

    // search the rebuilt partitioned index for an ingested vector
    val hits = graft.operators.Ivf.search(
        s.read.parquet(s"$tmp/by_cluster"), model, "id", vec(7), nProbe = 4, topK = 3)
      .collect()
    assert(hits.head.getAs[Long]("id") == 7L)
    assert(hits.head.getAs[Double]("dist") < 1e-6)
  }

  test("drift maintenance: shifted distribution triggers rebuild, conservation holds") {
    // B5 semantics assign new rows to stale centroids; Ivf.maintain
    // measures the resulting centroid drift and fires an explicit
    // re-train when it crosses the threshold — the streaming-ingest
    // analog of the reference's "build() again is the re-train"
    // guidance (ivf.py:87-117)
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamdrift").toString
    val dim = 8
    def vec(seed: Int, shift: Float): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextFloat() + shift)
    }
    val rebuilt = new java.util.concurrent.atomic.AtomicInteger(0)
    var model: graft.operators.Ivf.Model = null

    val source = MemoryStream[(Long, Seq[Float])]
    // batch 1: unit cube at the origin — train the initial model here
    source.addData((0L until 40L).map(i => (i, vec(i.toInt, 0f))): _*)
    val q1 = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 10, onFlush = _ => {
        val snap = merged(s, s"$tmp/snap")
        if (model == null) model = graft.operators.Ivf.build(snap, "embedding", k = 4)._2
        else {
          val (_, m2, fired) = graft.operators.Ivf.maintain(
            snap, model, k = 4, driftThreshold = 0.5)
          model = m2
          if (fired) rebuilt.incrementAndGet()
          ()
        }
        ()
      })
    q1.awaitTermination()
    assert(model != null && rebuilt.get() == 0)

    // stationary batch: same distribution ⇒ no rebuild
    source.addData((40L until 60L).map(i => (i, vec(i.toInt, 0f))): _*)
    StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 10, onFlush = _ => {
        val snap = merged(s, s"$tmp/snap")
        val (_, m2, fired) = graft.operators.Ivf.maintain(
          snap, model, k = 4, driftThreshold = 0.5)
        model = m2
        if (fired) rebuilt.incrementAndGet()
        ()
      }).awaitTermination()
    assert(rebuilt.get() == 0, "stationary data must not trigger a rebuild")

    // shifted batch: distribution moves by +5 in every dim ⇒ drift
    // blows past the threshold ⇒ rebuild fires
    source.addData((60L until 160L).map(i => (i, vec(i.toInt, 5f))): _*)
    StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 10, onFlush = _ => {
        val snap = merged(s, s"$tmp/snap")
        val (assigned, m2, fired) = graft.operators.Ivf.maintain(
          snap, model, k = 4, driftThreshold = 0.5)
        model = m2
        if (fired) {
          rebuilt.incrementAndGet()
          // cluster conservation after the re-train: every row assigned,
          // totals preserved (ivf.py stats contract)
          val stats = graft.operators.Ivf.clusterStats(assigned).collect().head
          assert(stats.getAs[Long]("total") == snap.count())
        }
        ()
      }).awaitTermination()
    assert(rebuilt.get() == 1, "shifted distribution must trigger exactly one rebuild")
  }

  test("flush → live HNSW refresh + drift-checked IVF: one maintenance path, search meets recall") {
    // the reference's B10 live-maintenance loop (indexing_service.py:77-89
    // saves the index on every threshold flush; hnsw.py:143-225 inserts
    // into the live graph) as ONE composed streaming path: micro-batch
    // upsert → flush hook runs Hnsw.refreshEdges (first flush builds,
    // later flushes insert only unseen ids — no rebuild) AND
    // Ivf.maintain (drift-checked re-train) → searches over the
    // persisted artifacts meet the reference's recall contract
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamidx").toString
    val parts = 2
    val params = graft.operators.Hnsw.Params(m = 8, efConstruction = 50)
    val data = corpus(150, 16)
    var ivfModel: graft.operators.Ivf.Model = null
    val ivfRebuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushes = new java.util.concurrent.atomic.AtomicInteger(0)

    val source = MemoryStream[(Long, Seq[Float])]
    def drain(): Unit = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 1, onFlush = { _ =>
        flushes.incrementAndGet()
        val snap = merged(s, s"$tmp/snap")
        graft.operators.Hnsw.refreshEdges(snap, s"$tmp/edges", "id", "embedding",
          parts, params)
        val assigned = if (ivfModel == null) {
          val (a, m) = graft.operators.Ivf.build(snap, "embedding", k = 4)
          ivfModel = m; a
        } else {
          val (a, m2, fired) = graft.operators.Ivf.maintain(
            snap, ivfModel, k = 4, driftThreshold = 0.5)
          ivfModel = m2
          if (fired) ivfRebuilds.incrementAndGet()
          a
        }
        graft.operators.Ivf.writePartitioned(assigned, s"$tmp/by_cluster")
        ()
      }).awaitTermination()

    source.addData(data.take(100).map { case (id, v) => (id, v.toSeq) }: _*)
    drain()
    source.addData(data.drop(100).map { case (id, v) => (id, v.toSeq) }: _*)
    drain()
    assert(flushes.get() == 2, "each drained micro-batch must flush")
    assert(ivfRebuilds.get() == 0, "stationary data must not re-train")

    val snap = merged(s, s"$tmp/snap")
    assert(snap.count() == 150)
    val edges = graft.core.SnapshotIO.read(s, s"$tmp/edges").get
    // batch-2 ids got linked into the persisted graph (incremental path ran)
    assert(edges.filter(col("src") >= 100L).count() > 0,
      "second flush must have inserted the new ids into the live graph")

    // recall ≥ 0.7 on ≥ 80% of queries vs exact kNN over the full corpus
    // (the reference's acceptance, test_hnsw.py:136-153) — via the
    // PERSISTED edges exactly as the flush hook left them
    val all = toDF(data)
    val queries = (0 until 10).map(i => (i.toLong, data(i * 13 % 150)._2))
    val approx = graft.operators.Hnsw.searchEdges(edges, snap, "id", "embedding",
        queries, k = 5, ef = 50, parts, params)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val good = queries.count { case (qid, qv) =>
      val exact = graft.operators.Search.knnExact(all, "id", "embedding", qv.toSeq, 5)
        .select("id").collect().map(_.getLong(0)).toSet
      exact.intersect(approx(qid)).size.toDouble / 5 >= 0.7
    }
    assert(good >= 8, s"only $good/10 queries hit recall 0.7 against the streamed index")

    // a batch-2 vector is reachable through the live graph at dist ~0
    val self = graft.operators.Hnsw.searchEdges(edges, snap, "id", "embedding",
      Seq((0L, data(120)._2)), k = 1, ef = 50, parts, params).collect()
    assert(self.head.getAs[Long]("id") == 120L && self.head.getAs[Double]("dist") < 1e-6)

    // the maintained cluster-partitioned IVF artifact serves fresh rows
    val hits = graft.operators.Ivf.search(
        s.read.parquet(s"$tmp/by_cluster"), ivfModel, "id", data(120)._2.toSeq,
        nProbe = 4, topK = 3).collect()
    assert(hits.head.getAs[Long]("id") == 120L)
    assert(hits.head.getAs[Double]("dist") < 1e-6)
  }

  test("streaming quality gate: classifier logit filters each micro-batch before upsert") {
    // the curation-at-ingest shape: the fastText-style scorer is a pure
    // per-row expression, so it gates the stream BEFORE the upsert sink
    // — no model join, no extra shuffle, per-batch cost linear in the
    // batch. Weights here key on a marker token so the gate is
    // deterministic: docs containing "spam" score negative and never
    // reach the published corpus
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamgate").toString
    val dim = 64
    val spamBucket = s.range(1).select(
      (graft.operators.Sketch.hash32(lit("spam")) % dim).cast("int"))
      .head.getInt(0)
    val weights = (0 until dim).map(i => if (i == spamBucket) -10.0 else 0.01)

    val source = MemoryStream[(Long, String)]
    source.addData(
      (0L, "useful prose about distributed query engines"),
      (1L, "spam spam buy now"),
      (2L, "another genuine document body"))
    val gated = source.toDF().toDF("id", "text")
      .filter(graft.functions.TextFunctions.hashedLinearLogit(
        col("text"), dim, weights, bias = 0.0) > 0)
    StreamingIngest.upsertStream(gated, "id", s"$tmp/corpus", s"$tmp/ckpt",
      flushThreshold = Long.MaxValue, onFlush = _ => ()).awaitTermination()
    val ids = merged(s, s"$tmp/corpus").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 2L), s"spam doc must be gated out, got $ids")
  }

  test("flush → incremental dedup: each batch screens against the corpus, not itself") {
    // the ingest-time dedup shape: on every flush the NEW batch is
    // LSH-screened against the existing snapshot only (cross-side
    // pairs), and flagged ids are withheld from the published corpus —
    // per-batch cost scales with the batch, never re-pairing the corpus
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamdedup").toString
    val dupIds = scala.collection.mutable.Set.empty[Long]

    val source = MemoryStream[(Long, String)]
    def drain(): Unit = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "text"), "id", s"$tmp/corpus", s"$tmp/ckpt",
      flushThreshold = Long.MaxValue, onFlush = _ => ()).awaitTermination()

    // seed corpus: two distinct docs
    source.addData(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different words about spark engines here"))
    drain()

    // batch 2 arrives with one near-dup of doc 0 and one fresh doc;
    // screen BEFORE ingest, then upsert only the survivors
    val batch = Seq(
      (10L, "the quick brown fox leaps over the lazy dog"),
      (11L, "novel content never seen in the corpus before")).toDF("id", "text")
    val corpus = merged(s, s"$tmp/corpus")
    val flagged = graft.operators.Dedup.minhashLshPairsAgainst(
        batch, corpus, "id", "text", numHashes = 8, bands = 4, shingle = 3)
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L), s"expected only the near-dup flagged, got $flagged")
    dupIds ++= flagged

    source.addData((11L, "novel content never seen in the corpus before"))
    drain()
    val ids = merged(s, s"$tmp/corpus").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 11L), s"corpus after screened ingest: $ids")
  }

  test("streaming near-dup maintenance: cross-batch pair table equals the one-shot batch screen") {
    // planted dup groups SPANNING batches: docs 0/10/20 are near-dups
    // arriving in three different micro-batches (the pair only a
    // cross-batch screen can find), 1/11 share a batch boundary, 2 and
    // 12 are singletons. The maintained table must equal the one-shot
    // minhashLshPairs over the union — each pair found by exactly one
    // flush (intra for same-batch, cross for earlier-corpus).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamneardup").toString
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val b1 = Seq((0L, base), (1L, "spark engines stream micro batches fast"),
      (2L, "completely unrelated singleton text about geology rocks"))
    val b2 = Seq((10L, base.replace("jumps", "leaps")),
      (11L, "spark engines stream micro batches quickly"))
    val b3 = Seq((20L, base.replace("dog", "cat")),
      (12L, "another unrelated singleton about deep sea creatures"))

    val source = MemoryStream[(Long, String)]
    def drain(): Unit = StreamingIngest.nearDupMaintenance(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/work", s"$tmp/ckpt").awaitTermination()
    source.addData(b1: _*); drain()
    source.addData(b2: _*); drain()
    source.addData(b3: _*); drain()

    val got = s.read.parquet(s"$tmp/work/pairs").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val want = graft.operators.Dedup.minhashLshPairs(all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"stream-maintained $got vs batch $want")
    // the cross-batch-only pair is present (would be missed by
    // per-batch screening without the corpus side)
    assert(want.exists { case (a, b) => Set(a, b).subsetOf(Set(0L, 10L, 20L)) })
  }

  test("near-dup maintenance compaction: file count bounded across many flushes, pairs unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = "the quick brown fox jumps over the lazy dog tonight"
    def doc(i: Long) = (i, if (i % 3 == 0) base else s"unique text $i about topic ${i * 7}")
    def parquetFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

    def run(tmp: String, compactEvery: Int): (Int, Int, Set[(Long, Long)]) = {
      val source = MemoryStream[(Long, String)]
      def drain(): Unit = StreamingIngest.nearDupMaintenance(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$tmp/work", s"$tmp/ckpt", compactEvery = compactEvery).awaitTermination()
      (0L until 10L).foreach { b => source.addData(doc(b)); drain() }
      val got = s.read.parquet(s"$tmp/work/pairs").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (parquetFiles(s"$tmp/work/bands"), parquetFiles(s"$tmp/work/pairs"), got)
    }
    val off = run(Files.createTempDirectory("ndcompact_off").toString, 0)
    val on = run(Files.createTempDirectory("ndcompact_on").toString, 3)
    // identical maintained pairs (compaction is content-preserving) and
    // a file count bounded by the compaction window, not the stream
    // length: 10 uncompacted flushes append >= 10 files per dir
    assert(on._3 == off._3 && on._3.nonEmpty, s"pairs ${on._3} vs ${off._3}")
    assert(off._1 >= 10, s"uncompacted bands files: ${off._1}")
    assert(on._1 < off._1 && on._2 < off._2,
      s"compacted files bands=${on._1} pairs=${on._2} vs uncompacted ${off._1}/${off._2}")
    assert(on._1 <= 2 + 3 * 2, s"bands file count not window-bounded: ${on._1}")
  }

  test("near-dup retraction: deleted doc's bands and pairs drop; re-ingest does not self-pair") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("ndretract").toString
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val source = MemoryStream[(Long, String)]
    def drain(): Unit = StreamingIngest.nearDupMaintenance(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/work", s"$tmp/ckpt").awaitTermination()
    source.addData((0L, base), (1L, "unrelated geology text entirely")); drain()
    source.addData((2L, base.replace("jumps", "leaps"))); drain()
    val before = s.read.parquet(s"$tmp/work/pairs").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((0L, 2L)), s"pre-retract pairs: $before")

    // retract doc 0: its band rows AND its pairs disappear
    StreamingIngest.nearDupRetract(s, s"$tmp/work", Seq(0L).toDF("doc_id"))
    val bandIds = s.read.parquet(s"$tmp/work/bands")
      .select("__id").distinct().collect().map(_.getLong(0)).toSet
    assert(!bandIds.contains(0L) && bandIds.contains(2L), s"band ids: $bandIds")
    val afterRetract = s.read.parquet(s"$tmp/work/pairs").distinct().count()
    assert(afterRetract == 0L, s"pairs after retract: $afterRetract")

    // re-ingest the retracted id: it must NOT pair against its own stale
    // band rows (the bug retraction exists to prevent); it DOES pair
    // against the still-live near-dup doc 2
    source.addData((0L, base)); drain()
    val after = s.read.parquet(s"$tmp/work/pairs").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((0L, 2L)), s"post-re-ingest pairs: $after")
  }

  test("flush → incremental IMAGE dedup: dHash screens each batch against the corpus") {
    // the multimodal twin of the text screen above: on every flush the
    // new batch's perceptual hashes are blocked-Hamming-screened
    // against the ingested corpus only; near-dup images (re-encodes /
    // tiny edits) are withheld, fresh images are published
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.{Dedup, MediaCodec, Multimodal}
    val tmp = Files.createTempDirectory("streamimgdedup").toString

    // `flip` transposes the gradient pitches — a STRUCTURALLY different
    // image (measured dHash distance 38 from the unflipped family).
    // Varying only `seed` shifts brightness, which dHash is invariant
    // to BY DESIGN (seeds 2 and 9 differ by 3 gray levels and hash
    // identically) — so the "genuinely new" image must change structure,
    // not seed
    def img(seed: Int, dent: Boolean = false,
            flip: Boolean = false): Array[Byte] = {
      val (w, h) = (24, 18)
      val (cx, cy) = if (flip) (41, 53) else (53, 41)
      val rgb = Array.tabulate(3 * w * h) { p =>
        val x = (p / 3) % w; val y = p / 3 / w
        ((seed * 37 + x * cx + y * cy) % 256).toByte
      }
      if (dent) { // single-pixel edit: ≤ 2 dHash bits
        val dp = 3 * (5 * w + 7)
        rgb(dp) = 0; rgb(dp + 1) = 0; rgb(dp + 2) = 0
      }
      MediaCodec.encodePng(w, h, rgb)
    }

    val source = MemoryStream[(Long, Array[Byte])]
    def drain(): Unit = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "media"), "id", s"$tmp/corpus", s"$tmp/ckpt",
      flushThreshold = Long.MaxValue, onFlush = _ => ()).awaitTermination()

    source.addData((0L, img(1)), (1L, img(2)))
    drain()

    // batch: a re-encode-with-edit of image 0 and a genuinely new image
    val batch = Seq((10L, img(1, dent = true)), (11L, img(9, flip = true)))
      .toDF("id", "media")
    def hashes(df: org.apache.spark.sql.DataFrame) =
      Multimodal.imageDHash(df, "id", "media")
    val flagged = Dedup.hammingNearDupPairsAgainst(
        hashes(batch), hashes(merged(s, s"$tmp/corpus")),
        "id", "dhash", maxDist = 3, hashBits = 56)
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L), s"expected only the edited re-encode, got $flagged")

    source.addData((11L, img(9, flip = true)))
    drain()
    val ids = merged(s, s"$tmp/corpus").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 11L), s"corpus after screened ingest: $ids")
  }

  test("stream-stream interval join matches the batch range join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val evData = Seq((1L, ts(10), 100L), (1L, ts(30), 101L), (2L, ts(20), 200L))
    val orData = Seq((1L, ts(5), 900L), (1L, ts(25), 901L), (2L, ts(50), 902L))

    val evs = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val ors = MemoryStream[(Long, java.sql.Timestamp, Long)]
    evs.addData(evData: _*)
    ors.addData(orData: _*)
    val e = evs.toDF().toDF("k", "et", "eid").withWatermark("et", "1 hour")
    val o = ors.toDF().toDF("k2", "ot", "oid").withWatermark("ot", "1 hour")
    // orders in the 15 minutes before each event
    val joined = e.join(o,
      col("k") === col("k2") && col("ot") <= col("et") &&
        col("ot") >= col("et") - org.apache.spark.sql.functions.expr("INTERVAL 15 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.table("ssj").select("eid", "oid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch equivalent via the RangeJoin operator
    val want = graft.operators.RangeJoin.innerPairs(
        evData.toDF("k", "et", "eid"), "k", col("et"),
        orData.toDF("k", "ot", "oid"), "k", col("ot"),
        windowMicros = 15L * 60 * 1000000, payload = Seq("oid"))
      .select("eid", "oid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want == Set((100L, 900L), (101L, 901L)))
  }

  test("windowed counts with watermark match the batch rollup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    source.addData(
      (ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0),
      (ts(10, 50), "view", 3.0), (ts(11, 10), "click", 4.0))
    val agg = StreamingIngest.windowedCounts(
      source.toDF().toDF("ts", "event_type", "value"), "ts", "event_type")
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = s.sql("SELECT event_type, n, sum_value FROM wc ORDER BY event_type, n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSet == Set(("click", 2L, 3.0), ("click", 1L, 4.0), ("view", 1L, 3.0)))
  }

  test("streaming semantic dedup: flush → Ivf.maintain → semDedup on the snapshot") {
    // the SemDeDup maintenance loop: first flush sizes k from the corpus
    // (semDedupAuto) and keeps the model; later flushes drift-check it
    // (Ivf.maintain) and re-run dedup over the refreshed assignment —
    // streaming ingestion composed with semantic dedup end to end
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = Files.createTempDirectory("streamsem").toString
    def vec(i: Int): Seq[Float] =
      (0 until 16).map(j => (math.sin(i * 16 + j) * 10).toFloat)
    var model: graft.operators.Ivf.Model = null
    var lastDupes: Array[(Long, Long)] = Array.empty

    val source = MemoryStream[(Long, Seq[Float])]
    def drain(): Unit = StreamingIngest.upsertStream(
      source.toDF().toDF("id", "embedding"), "id", s"$tmp/snap", s"$tmp/ckpt",
      flushThreshold = 1, onFlush = { _ =>
        val snap = merged(s, s"$tmp/snap")
        val dupes =
          if (model == null) {
            val (d, m) = graft.operators.Dedup.semDedupAuto(snap, "id",
              "embedding", threshold = 0.999, docsPerCluster = 10L, minK = 4)
            model = m
            d
          } else {
            val (_, m2, _) = graft.operators.Ivf.maintain(
              snap, model, k = model.centroids.length, driftThreshold = 0.5)
            model = m2
            graft.operators.Dedup.semDedup(snap, "id", "embedding", model,
              threshold = 0.999)
          }
        lastDupes = dupes.select("id", "keep_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }).awaitTermination()

    // batch 1: 30 distinct vectors — builds the model (k = max(4, 30/10)),
    // flags nothing
    source.addData((0L until 30L).map(i => (i, vec(i.toInt))): _*)
    drain()
    assert(model != null && model.centroids.length == 4)
    assert(lastDupes.isEmpty, s"distinct batch flagged ${lastDupes.toSeq}")

    // batch 2: 5 more distinct + a semantic near-dup of id 7 — the
    // maintained model must co-cluster the pair and dedup must flag
    // exactly one of them, keeping the other
    val nd = vec(7).zipWithIndex.map { case (v, j) =>
      if (j == 0) v + 1e-4f else v }
    source.addData((30L until 35L).map(i => (i, vec(i.toInt))) :+
      (99L, nd): _*)
    drain()
    assert(lastDupes.length == 1,
      s"expected exactly the planted pair, got ${lastDupes.toSeq}")
    val (removed, kept) = lastDupes.head
    assert(Set(removed, kept) == Set(7L, 99L))
  }

  test("stream-stream interval join: cross-batch pairs, window cut, late drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // NOT epoch-0-based: the initial global watermark is 0, and rows at
    // or before the watermark are dropped as late — an event at the
    // epoch itself would be born late
    def ts(min: Long) =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2024, 1, 1, 0, 0).plusMinutes(min))

    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamJoin.intervalJoin(
      views.toDF().toDF("view_id", "v_user", "view_ts"), "v_user", "view_ts",
      clicks.toDF().toDF("click_id", "c_user", "click_ts"), "c_user", "click_ts",
      windowSec = 600L, watermark = "5 minutes")
    val sink = s"sj_${System.nanoTime()}"
    val q = joined.select("view_id", "click_id").writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    def pairs() = s.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    try {
      // batch 1: views only — no pairs yet, view state retained
      views.addData((1L, 10L, ts(0)), (2L, 10L, ts(30)), (3L, 20L, ts(0)))
      q.processAllAvailable()
      assert(pairs().isEmpty)

      // batch 2: clicks — u10@min5 joins view 1 (in window), not
      // view 2 (future); u10@min12 is past view 1's 10-min window;
      // u20@min8 joins view 3. Cross-batch = the join really holds
      // left state, not just intra-batch matches.
      clicks.addData((101L, 10L, ts(5)), (102L, 10L, ts(12)), (103L, 20L, ts(8)))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 101L), (3L, 103L)), s"got ${pairs()}")

      // batch 3: advance both watermarks far past min 30 + delay (the
      // pair joins itself — same user, same instant)
      views.addData((4L, 30L, ts(600)))
      clicks.addData((104L, 30L, ts(600)))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 101L), (3L, 103L), (4L, 104L)), s"got ${pairs()}")
      // a click this late for user 10 is behind the click watermark →
      // dropped, NOT joined to view 2 (whose state is also evictable:
      // watermark 595 min > view_ts 30 + window 10 + delay 5)
      clicks.addData((105L, 10L, ts(35)))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 101L), (3L, 103L), (4L, 104L)),
        s"late click must be dropped, got ${pairs()}")
    } finally {
      q.stop(); s.catalog.dropTempView(sink); ()
    }
  }

  test("streaming funnel: state carries steps across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val source = MemoryStream[graft.operators.Funnel.FunnelEvent]
    import graft.operators.Funnel.FunnelEvent
    val sink = s"funnel_sink_${System.nanoTime()}"
    val q = graft.operators.Funnel.funnelStream(source.toDS(),
        Seq("view", "click", "purchase"), withinMicros = Some(3600000000L))
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .start()
    // batch 1: user 1 views and clicks; user 2 only clicks (no state)
    source.addData(
      FunnelEvent(1L, 1000L, "view"), FunnelEvent(1L, 2000L, "click"),
      FunnelEvent(2L, 1000L, "click"))
    q.processAllAvailable()
    // batch 2: user 1 purchases (step 3 completes CROSS-batch from
    // carried state); user 2 views then clicks — but the batch-1 click
    // is gone for good (time-ordered arrival contract: only the new
    // click at 3000 qualifies)
    source.addData(
      FunnelEvent(1L, 5000L, "purchase"),
      FunnelEvent(2L, 2500L, "view"), FunnelEvent(2L, 3000L, "click"))
    q.processAllAvailable()
    q.stop()
    val last = s.table(sink).groupBy("userId")
      .agg(max(struct(col("stepsCompleted"), col("times"))).as("f"))
      .select(col("userId"), col("f.stepsCompleted"), col("f.times"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(last(1L) == ((3L, Seq(1000L, 2000L, 5000L))))
    assert(last(2L) == ((2L, Seq(2500L, 3000L, -1L))))
    s.catalog.dropTempView(sink)
  }

  test("streaming funnel: attribution window and strictly-after hold in-stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val source = MemoryStream[graft.operators.Funnel.FunnelEvent]
    import graft.operators.Funnel.FunnelEvent
    val sink = s"funnel_sink2_${System.nanoTime()}"
    source.addData(
      FunnelEvent(1L, 1000L, "view"),
      FunnelEvent(1L, 1000L, "click"),      // same instant: strict > fails
      FunnelEvent(1L, 2000000000L, "click"), // beyond the 1 s window
      FunnelEvent(3L, 500L, "purchase"))     // never views: no row
    val q = graft.operators.Funnel.funnelStream(source.toDS(),
        Seq("view", "click"), withinMicros = Some(1000000L))
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = s.table(sink).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("stepsCompleted")).toMap
    assert(rows == Map(1L -> 1L)) // view only; user 3 absent
    s.catalog.dropTempView(sink)
  }
}
