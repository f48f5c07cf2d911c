package graft

import graft.core.{DeltaLog, DriverLocal}
import graft.operators.{Hnsw, Search}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.collection.mutable

/** HNSW contracts from the reference's tests: self@dist<1e-6 + ordering
  * (test_hnsw.py:95-111), recall ≥ 0.7 on ≥ 80% of 10 queries
  * (test_hnsw.py:136-153, N=100 dim=16 M=8 efc=50 ef=50 k=5), level-0
  * connectivity ≥ 90% (test_hnsw.py:155-185, N=50 dim=8 M=4 efc=20),
  * idempotent re-insert (test_hnsw.py:309-327), delete (B2). */
class HnswSpec extends SparkSpec {

  test("search returns the query itself first at distance < 1e-6") {
    val data = corpus(20, 8)
    val res = Hnsw.search(toDF(data), "id", "embedding", data.head._2.toSeq,
      k = 5, ef = 20, Hnsw.Params(m = 8, efConstruction = 50)).collect()
    assert(res.length == 5)
    assert(res.head.getAs[Long]("id") == 0L)
    assert(res.head.getAs[Double]("dist") < 1e-6)
    val dists = res.map(_.getAs[Double]("dist"))
    assert(dists.sameElements(dists.sorted))
  }

  test("recall >= 0.7 vs brute force on >= 80% of 10 queries") {
    val data = corpus(100, 16)
    val df = toDF(data).cache()
    val queries = (0 until 10).map(i => (i.toLong, data(i * 11 % 100)._2))
    val params = Hnsw.Params(m = 8, efConstruction = 50)
    val approx = Hnsw.searchBatch(df, "id", "embedding", queries, k = 5, ef = 50, params)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val good = queries.count { case (qid, qv) =>
      val exact = Search.knnExact(df, "id", "embedding", qv.toSeq, 5)
        .select("id").collect().map(_.getLong(0)).toSet
      exact.intersect(approx(qid)).size.toDouble / 5 >= 0.7
    }
    assert(good >= 8, s"only $good/10 queries reached recall 0.7")
  }

  test("level-0 graph connectivity >= 90% BFS-reachable per partition") {
    val data = corpus(50, 8)
    val edges = Hnsw.buildEdges(toDF(data), "id", "embedding",
      Hnsw.Params(m = 4, efConstruction = 20), numPartitions = 1)
      .filter(col("level") === 0)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(nodes.length >= 45) // all but stragglers participate in the graph
    val seen = mutable.Set(nodes.head)
    val stack = mutable.Stack(nodes.head)
    while (stack.nonEmpty) {
      adj.getOrElse(stack.pop(), Array.empty[Long]).foreach { n =>
        if (seen.add(n)) stack.push(n)
      }
    }
    assert(seen.size.toDouble / nodes.length >= 0.9,
      s"only ${seen.size}/${nodes.length} reachable")
  }

  test("idempotent insert: duplicate ids don't duplicate graph nodes") {
    val data = corpus(20, 8)
    val dup = toDF(data ++ data.take(5)) // re-insert 5 ids
    val res = Hnsw.search(dup, "id", "embedding", data.head._2.toSeq, k = 20,
      ef = 40, Hnsw.Params(m = 4, efConstruction = 20))
      .select("id").collect().map(_.getLong(0))
    assert(res.length == res.distinct.length)
  }

  test("delete removes ids from results") {
    val data = corpus(30, 8)
    val df = Hnsw.delete(toDF(data), "id", Seq(0L, 1L))
    val res = Hnsw.search(df, "id", "embedding", data.head._2.toSeq, k = 10,
      ef = 30, Hnsw.Params(m = 4, efConstruction = 20))
      .select("id").collect().map(_.getLong(0))
    assert(!res.contains(0L) && !res.contains(1L))
  }

  test("multi-partition search merges shard results exactly") {
    val data = corpus(200, 8)
    val df = toDF(data)
    val res = Hnsw.searchBatch(df, "id", "embedding",
      Seq((0L, data(3)._2)), k = 5, ef = 100,
      Hnsw.Params(m = 8, efConstruction = 100), numPartitions = 4).collect()
    assert(res.length == 5)
    assert(res.map(_.getAs[Long]("id")).contains(3L))
    assert(res.map(_.getAs[Int]("rank")).toSeq.sorted == Seq(1, 2, 3, 4, 5))
  }

  test("persisted edges search (B11 load path) equals the direct build-and-search") {
    val data = corpus(150, 8)
    val df = toDF(data)
    val params = Hnsw.Params(m = 8, efConstruction = 60)
    val parts = 4
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.buildEdges(df, "id", "embedding", params, parts)
      .write.mode("overwrite").parquet(s"$dir/edges")
    val queries = Seq((0L, data(5)._2), (1L, data(77)._2))
    def rows(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => (x.getAs[Long]("query_id"), x.getAs[Int]("rank"),
        x.getAs[Long]("id"), x.getAs[Double]("dist"))).sortBy(t => (t._1, t._2))
    val fromEdges = rows(Hnsw.searchEdges(spark.read.parquet(s"$dir/edges"), df,
      "id", "embedding", queries, k = 5, ef = 60, parts, params).collect())
    val direct = rows(Hnsw.searchBatch(df, "id", "embedding",
      queries, k = 5, ef = 60, params, parts).collect())
    // same seeded per-shard graphs ⇒ identical results, no rebuild needed
    assert(fromEdges.toSeq == direct.toSeq)
    assert(fromEdges.count(_._1 == 0L) == 5 && fromEdges.count(_._1 == 1L) == 5)
    // self-match survives the persisted round-trip
    assert(fromEdges.exists { case (q, _, id, d) => q == 0L && id == 5L && d < 1e-6 })
  }

  test("filtered search: zero exclusion violations, recall >= 0.7 on the filtered subset") {
    // reference filter contract (test_search_api.py:149-172): the
    // predicate composes BEFORE graph construction, so non-matching ids
    // are structurally absent; recall is vs exact kNN on the subset
    val s = spark
    import s.implicits._
    val data = corpus(200, 16)
    val df = data.map { case (id, v) => (id, v, (id % 4).toInt) }
      .toDF("id", "embedding", "label")
    val filt = col("label") === 1
    val fdf = df.filter(filt)
    val params = Hnsw.Params(m = 8, efConstruction = 50)
    val queries = (0 until 10).map(i => (i.toLong, data(i * 17 % 200)._2))
    val res = Hnsw.searchBatch(df, "id", "embedding", queries, k = 5, ef = 50,
      params, filter = Some(filt)).collect()
    res.foreach(r => assert(r.getAs[Long]("id") % 4 == 1,
      s"filter violation: id ${r.getAs[Long]("id")}"))
    val byQ = res.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val good = queries.count { case (qid, qv) =>
      val exact = Search.knnExact(fdf, "id", "embedding", qv.toSeq, 5)
        .select("id").collect().map(_.getLong(0)).toSet
      exact.intersect(byQ(qid)).size.toDouble / 5 >= 0.7
    }
    assert(good >= 8, s"only $good/10 filtered queries reached recall 0.7")
  }

  test("incremental insertEdges: new batch searchable, recall matches full rebuild") {
    // the reference inserts into a live graph (hnsw.py:143-225); the
    // engine's analog inserts a batch into persisted shard graphs with
    // no full rebuild — acceptance is the reference's recall contract,
    // plus the inserted ids must actually be reachable
    val data = corpus(150, 16)
    val base = toDF(data.take(100))
    val batch = toDF(data.drop(100))
    val all = toDF(data)
    val params = Hnsw.Params(m = 8, efConstruction = 50)
    val parts = 4
    val edges0 = Hnsw.buildEdges(base, "id", "embedding", params, parts)
    val edges1 = Hnsw.insertEdges(edges0, base, batch, "id", "embedding", parts, params)
    // every inserted id has adjacency in the updated graph
    val srcs = edges1.select("src").distinct().collect().map(_.getLong(0)).toSet
    (100L until 150L).foreach(id => assert(srcs.contains(id), s"inserted id $id has no edges"))
    val queries = (0 until 10).map(i => (i.toLong, data(i * 13 % 150)._2))
    val approx = Hnsw.searchEdges(edges1, all, "id", "embedding", queries,
        k = 5, ef = 50, parts, params)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val good = queries.count { case (qid, qv) =>
      val exact = Search.knnExact(all, "id", "embedding", qv.toSeq, 5)
        .select("id").collect().map(_.getLong(0)).toSet
      exact.intersect(approx(qid)).size.toDouble / 5 >= 0.7
    }
    assert(good >= 8, s"only $good/10 queries reached recall 0.7 after incremental insert")
    // a query ON a new vector finds it at distance ~0
    val self = Hnsw.searchEdges(edges1, all, "id", "embedding",
      Seq((0L, data(120)._2)), k = 1, ef = 50, parts, params).collect()
    assert(self.head.getAs[Long]("id") == 120L && self.head.getAs[Double]("dist") < 1e-6)
    // re-inserting already-present ids is a no-op (idempotent, hnsw.py:152-155)
    val edges2 = Hnsw.insertEdges(edges1, all, batch, "id", "embedding", parts, params)
    assert(edges2.count() == edges1.count())
  }

  test("refreshEdges: snapshot catch-up builds then inserts only unseen ids") {
    val data = corpus(120, 8)
    val params = Hnsw.Params(m = 8, efConstruction = 40)
    val parts = 2
    val dir = java.nio.file.Files.createTempDirectory("hnsw-refresh").toString + "/edges"
    val v1 = toDF(data.take(80))
    Hnsw.refreshEdges(v1, dir, "id", "embedding", parts, params) // first flush: full build
    val n1 = spark.read.parquet(dir).count()
    assert(n1 > 0)
    val v2 = toDF(data)
    Hnsw.refreshEdges(v2, dir, "id", "embedding", parts, params) // catch-up: 40 new ids
    val edges = spark.read.parquet(dir)
    assert(edges.count() > n1)
    val res = Hnsw.searchEdges(edges, v2, "id", "embedding",
      Seq((0L, data(100)._2)), k = 3, ef = 40, parts, params).collect()
    assert(res.head.getAs[Long]("id") == 100L && res.head.getAs[Double]("dist") < 1e-6)
  }

  test("persisted edges search works for non-bigint id columns") {
    // murmur3 hashes int and long inputs differently: searchEdges must
    // shard on the CASTED long (as buildEdges does) or every vector of
    // an int-id table lands in the wrong shard and results silently
    // degrade — this pins the agreement for int ids
    val data = corpus(120, 8)
    val s = spark
    import s.implicits._
    val intDf = data.map { case (id, v) => (id.toInt, v) }.toDF("id", "embedding")
    val longDf = toDF(data)
    val params = Hnsw.Params(m = 8, efConstruction = 60)
    val parts = 4
    val edges = Hnsw.buildEdges(intDf, "id", "embedding", params, parts)
    val queries = Seq((0L, data(5)._2), (1L, data(40)._2))
    def rows(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => (x.getAs[Long]("query_id"), x.getAs[Int]("rank"),
        x.getAs[Long]("id"), x.getAs[Double]("dist"))).sortBy(t => (t._1, t._2))
    val fromInt = rows(Hnsw.searchEdges(edges, intDf, "id", "embedding",
      queries, k = 5, ef = 60, parts, params).collect())
    val fromLong = rows(Hnsw.searchEdges(
      Hnsw.buildEdges(longDf, "id", "embedding", params, parts), longDf,
      "id", "embedding", queries, k = 5, ef = 60, parts, params).collect())
    assert(fromInt.toSeq == fromLong.toSeq)
    assert(fromInt.exists { case (q, _, id, d) => q == 0L && id == 5L && d < 1e-6 })
  }

  test("scaledEf: identity at the measured anchor, perShardN^0.30 growth above it") {
    // at/below the anchor shard size the configured beam passes through
    assert(Hnsw.scaledEf(50, 1000000L, 32) == 50)   // 31,250/shard = anchor
    assert(Hnsw.scaledEf(50, 1000L, 4) == 50)
    // the two measured sweep points: ef=50 fails at 312,500/shard where
    // ef=100 passes — the fit must land exactly on the passing beam
    assert(Hnsw.scaledEf(50, 10000000L, 32) == 100)
    // monotone in corpus size, and another decade doubles the beam again
    assert(Hnsw.scaledEf(50, 100000000L, 32) == 200)
    // more shards = smaller per-shard graphs = less widening needed
    assert(Hnsw.scaledEf(50, 10000000L, 320) == 50)
    // degenerate partition counts clamp instead of dividing by zero
    assert(Hnsw.scaledEf(50, 31250L, 0) == 50)
  }

  /** Fingerprint of an edges table: its row count and a hash over its
    * (partition_id, src, level) adjacency lists, each in stored order —
    * the order a reconstructed graph walks them in. */
  private def edgePrint(edges: DataFrame): (Int, Int) = {
    val rows = edges.select("partition_id", "src", "level", "dst").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val lists = rows.groupBy(t => (t._1, t._2, t._3)).toSeq
      .map { case (key, ts) => (key, ts.map(_._4).toSeq) }.sortBy(_._1)
    (rows.length, scala.util.hashing.MurmurHash3.seqHash(lists))
  }

  test("buildHnsw and refreshHnsw write the pinned edge sets") {
    // the values are the edges this corpus built and refreshed to
    // before searches held the graph on the executors: holding must
    // not change what is persisted
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("hnswpin").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(360, 8, seed = 7L)
    store.ingest(data.take(300).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.compact()
    store.buildHnsw(m = 8, efConstruction = 40, numPartitions = 4)
    assert(edgePrint(s.read.parquet(s"$dir/hnsw_edges")) == ((3909, 1915533279)))
    store.ingest(data.drop(300).map { case (_, v) => Tuple1(v) }.toDF("embedding"))
    store.delete(Seq(3L, 150L, 299L))
    store.refreshHnsw()
    assert(edgePrint(s.read.parquet(s"$dir/hnsw_edges")) == ((4718, -271998011)))
  }

  /** A persisted-graph search restated over the merged live rows:
    * [[Hnsw.searchEdges]] over the rows below the build watermark, an
    * exact scan of the rest, merged by (dist, id); under a metadata
    * filter, the over-fetched graph side (window widened ×4 until k
    * rows pass the filter) post-filtered. `ef` is explicit. */
  private def persistedOracle(store: VectorStore, q: Array[Float], k: Int,
                              ef: Int, filter: Map[String, String]): Seq[(Long, Double)] = {
    val s = spark
    val model = s.read.parquet(s"${store.path}/hnsw_model").head
    val (wm, parts) = (model.getAs[Long]("built_next_id"), model.getAs[Int]("num_partitions"))
    val params = Hnsw.Params(model.getAs[Int]("m"), model.getAs[Int]("ef_construction"),
      seed = model.getAs[Long]("seed"))
    val edges = s.read.parquet(s"${store.path}/hnsw_edges")
    val live = store.snapshot().filter(!col("is_deleted"))
    val matching = if (filter.isEmpty) live
      else live.filter(Search.metadataFilter(col("metadata"), filter))
    def graph(kf: Int, beam: Int) = Hnsw.searchEdges(edges, live.filter(col("id") < wm),
        "id", "embedding", Seq((0L, q)), kf, beam, parts, params)
      .select("id", "dist")
    val graphSide =
      if (filter.isEmpty) graph(k, ef)
      else {
        val (total, n) = (live.count(), matching.count())
        val kFetch = math.max(k.toLong, math.ceil(2.0 * k * total / math.max(1L, n)).toLong).toInt
        val maxKf = math.max(kFetch.toLong, total).toInt
        def pass(kf: Int) = graph(kf, math.max(ef, kf)).join(matching.select("id"), "id")
          .orderBy(col("dist").asc, col("id").asc).limit(k)
        var kf = kFetch
        while (pass(kf).count() < k && kf < maxKf) kf = math.min(maxKf.toLong, 4L * kf).toInt
        pass(kf)
      }
    graphSide.unionByName(Search.knnExact(matching.filter(col("id") >= wm),
        "id", "embedding", q.toSeq, k).select("id", "dist"))
      .orderBy(col("dist").asc, col("id").asc).limit(k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  // every case searches from the driver's snapshot and, under the
  // forcing scope, from the executors' held graph
  test("held graph: searchHnsw equals searchEdges over the merged live rows, bit for bit") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("hnswheld").toString
    val store = VectorStore.open(s, dir, dim = 8)
    val data = corpus(420, 8, seed = 11L)
    def rows(xs: Seq[(Long, Array[Float])]) = xs.map { case (i, v) =>
      (v, Map("g" -> (if (i % 10 == 0) "small" else "big"))) }.toDF("embedding", "metadata")
    store.ingest(rows(data.take(300)))
    store.compact()
    store.buildHnsw(m = 6, efConstruction = 30, numPartitions = 4)
    val vectors = s"$dir/vectors"
    val rnd = new scala.util.Random(3L)
    val queries = Seq.fill(6)(Array.fill(8)(rnd.nextFloat()))
    /** Each shard's entry point: its highest-level src, lowest id on ties. */
    def entryPoints(): Seq[Long] = s.read.parquet(s"$dir/hnsw_edges")
      .groupBy("partition_id", "src").agg(max("level").as("top")).collect()
      .groupBy(_.getInt(0)).values
      .map(_.map(r => (-r.getInt(2), r.getLong(1))).min._2).toSeq
    def upsert(id: Long, v: Array[Float]): Unit = DeltaLog.append(
      Seq((id, v, "up", Map("g" -> "big"), "{}", false))
        .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted"),
      vectors, DeltaLog.nextSeq(s, vectors))
    val moved = Array.fill(8)(0.5f)
    var heldAt = Set.empty[Int]
    // (case, what it writes, extra queries, metadata filter)
    val cases = Seq[(String, () => Unit, Seq[Array[Float]], Map[String, String])](
      ("fresh build", () => (), Nil, Map.empty),
      ("deletes below the watermark, every shard's entry point among them",
        () => store.delete(entryPoints() ++ Seq(12L, 40L, 41L)), Nil, Map.empty),
      ("an upsert of a below-watermark id", () => upsert(77L, moved), Seq(moved), Map.empty),
      ("a streaming tombstone row", () => DeltaLog.append(
          Seq((77L, true), (78L, true)).toDF("id", DeltaLog.TombCol), vectors,
          DeltaLog.nextSeq(s, vectors), tombstoneCol = Some(DeltaLog.TombCol)),
        Seq(moved), Map.empty),
      ("rows ingested after the build", () => { store.ingest(rows(data.slice(300, 380))); () },
        Seq(data(310)._2, data(370)._2), Map.empty),
      ("compact, which re-holds the graph", { () =>
          heldAt = heldHnswGraphs(store); store.compact() }, Seq(data(310)._2), Map.empty),
      ("writes after the compaction", { () =>
          store.delete(Seq(5L, 305L)); upsert(6L, moved) }, Seq(moved), Map.empty),
      ("refreshHnsw", { () =>
          store.ingest(rows(data.drop(380))); store.refreshHnsw() },
        Seq(data(400)._2), Map.empty),
      ("a rebuild with another numPartitions", () =>
          store.buildHnsw(m = 5, efConstruction = 25, numPartitions = 3),
        Seq(data(400)._2), Map.empty),
      ("the post-filter route", () => store.delete(Seq(100L, 401L)), Seq(moved),
        Map("g" -> "big")))
    def bits(hits: Seq[(Long, Double)]) =
      hits.map { case (id, d) => (id, java.lang.Double.doubleToLongBits(d)) }
    cases.foreach { case (name, write, extra, filter) =>
      withClue(s"$name: ") {
        write()
        // a narrow beam on the random queries; the case's own queries
        // also with a beam past every shard, which reaches the rows the
        // case wrote wherever they sit in the graph
        val searches = (queries.map((_, 10)) ++ extra.flatMap(q => Seq((q, 10), (q, 200))))
        def run() = searches.map { case (q, ef) =>
          store.searchHnsw(q.toSeq, k = 8, ef, filter).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
        // the driver's snapshot, then again once it holds this version,
        // and the executors' held graph under the forcing scope
        val driver = run()
        var rerun = Seq.empty[Seq[(Long, Double)]]
        val jobs = jobsOf { rerun = run() }
        assert(jobs == 0, s"the snapshot's searches ran $jobs jobs")
        val executors = DriverLocal.forcedDistributed(run())
        searches.zip(driver.zip(rerun).zip(executors)).zipWithIndex.foreach {
          case (((q, ef), ((got, again), held)), i) =>
            val want = persistedOracle(store, q, 8, ef, filter)
            assert(bits(got) == bits(want), s"query $i (ef $ef): snapshot $got, merged $want")
            assert(bits(again) == bits(got), s"query $i (ef $ef): snapshot rerun $again")
            assert(bits(held) == bits(want), s"query $i (ef $ef): held $held, merged $want")
        }
        if (name.startsWith("compact"))
          assert(heldHnswGraphs(store).nonEmpty && heldHnswGraphs(store) != heldAt,
            "compact must re-hold the graph")
        if (name.startsWith("an upsert")) {
          // an exhaustive beam reaches the node wherever it now sits
          def top() = store.searchHnsw(moved.toSeq, k = 1, ef = 1000).collect().head
          Seq(top(), DriverLocal.forcedDistributed(top())).foreach { t =>
            assert(t.getLong(0) == 77L && t.getDouble(1) == 0.0,
              "the upserted vector must be the one searched")
          }
        }
      }
    }
  }
}
