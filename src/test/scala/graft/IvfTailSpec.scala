package graft

import graft.core.{DeltaLog, DriverLocal}
import graft.operators.{Ivf, IvfPq, Lsh, Search}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The index tables beside the log — the IVF layout, the IVF-PQ code
  * table and the LSH signature table — are read through merge-on-read:
  * a search answers from the table's rows minus every id the tail holds
  * at a seq above the table seq, plus the tail's live rows — or from
  * the exact path once the log has folded deltas the table never saw.
  * Every answer of every tier is checked bit for bit against that
  * formula computed here from what is on disk, through two store
  * instances over one dir. The calls the serve snapshot answers are
  * checked, case by case, against the distributed path. */
class IvfTailSpec extends SparkSpec {

  private val K = 6
  private val NProbe = 3
  /** The IVF-PQ rerank window of the two-stage tier. */
  private val W = 12
  private type Hits = Seq[(Long, Long)] // (id, dist bits)
  private val Tables = Seq("vectors_by_cluster", "codes_by_cluster", "lsh_signatures")

  /** The table seq a table dir records, else the log watermark. */
  private def tableSeq(dir: String, table: String): Long = {
    val f = Paths.get(s"$dir/$table/_layout_seq")
    if (Files.exists(f)) Files.readString(f).trim.toLong
    else DeltaLog.watermark(spark, s"$dir/vectors")
  }
  private def layoutSeq(dir: String): Long = tableSeq(dir, "vectors_by_cluster")

  /** The delta rows above `seq`, the latest per id: its vector and
    * metadata when live, None when a tombstone or an is_deleted row. */
  private def overlaid(dir: String, seq: Long)
      : Map[Long, Option[(Array[Float], Map[String, String])]] = {
    val vectors = s"$dir/vectors"
    DeltaLog.deltaSeqs(spark, vectors).filter(_ > seq).flatMap { d =>
      val df = spark.read.parquet(DeltaLog.deltaPath(vectors, d))
      def opt(c: String) = if (df.columns.contains(c)) col(c) else lit(null)
      df.select(col("id"), col(DeltaLog.TombCol), opt("is_deleted"),
        opt("embedding"), opt("metadata")).collect().toSeq.map { r =>
        // a null is_deleted (a raw append without the column) is absent
        val dead = r.getBoolean(1) || r.isNullAt(2) || r.getBoolean(2)
        (r.getLong(0), d, if (dead) None else Some((r.getSeq[Float](3).toArray,
          Option(r.getMap[String, String](4)).map(_.toMap).getOrElse(Map.empty))))
      }
    }.groupBy(_._1).map { case (id, rows) => id -> rows.maxBy(_._2)._3 }
  }

  /** The lists a search probes, ranked as the persisted model ranks. */
  private def probed(dir: String, q: Array[Float]): Seq[Int] =
    if (Files.exists(Paths.get(s"$dir/ivf_supers/_SUCCESS"))) {
      val hm = Ivf.loadHier(spark, s"$dir/ivf_model", s"$dir/ivf_supers", "embedding")
      if (hm.k <= Ivf.FlatBuildMaxK) Ivf.probeClusters(hm.flat, q.toSeq, NProbe)
      else Ivf.probeClustersHier(hm, q.toSeq, NProbe)
    } else Ivf.probeClusters(Ivf.load(spark, s"$dir/ivf_model", "embedding"), q.toSeq, NProbe)

  private def hits(df: DataFrame): Hits = df.select("id", "dist").collect().toSeq
    .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))

  /** Every tier's answer, in the order [[oracle]] gives its own. */
  private def served(store: VectorStore, q: Array[Float],
                     filter: Map[String, String] = Map.empty): Seq[(String, Hits)] = Seq(
    "searchIvf" -> hits(store.searchIvf(q.toSeq, NProbe, K, filter)),
    "searchIvfPq(rerank = 0)" -> hits(store.searchIvfPq(q.toSeq, NProbe, K, 0, filter)),
    s"searchIvfPq(rerank = $W)" -> hits(store.searchIvfPq(q.toSeq, NProbe, K, W, filter)),
    "searchLsh" -> hits(store.searchLsh(q.toSeq, K, 2, filter)))

  /** The answers the contract defines. Per table, the rows are (table
    * rows − overlaid ids) ∪ overlaid live rows, or the live rows once
    * the log watermark passed the table seq; then
    *  - IVF: the exact top-k of the probed part;
    *  - IVF-PQ, rerank 0: the code rows' ADC top-k and the overlaid
    *    rows' exact top-k, merged by (dist, id);
    *  - IVF-PQ, rerank W: the exact top-k over the ADC top-W code rows'
    *    ids and the overlaid live ids;
    *  - LSH: the exact top-k over the probed signature rows' ids and
    *    the overlaid live ids. */
  private def oracle(store: VectorStore,
                     filter: Map[String, String]): Array[Float] => Seq[Hits] = {
    val s = spark
    import s.implicits._
    val dir = store.path
    val pred = if (filter.isEmpty) None
      else Some(Search.metadataFilter(col("metadata"), filter))
    val liveRows = store.snapshot().filter(!col("is_deleted"))
      .select("id", "embedding", "metadata")
    /** (table rows − overlaid ids, overlaid live rows), None when outrun. */
    def view(table: String): Option[(DataFrame, DataFrame)] = {
      val seq = tableSeq(dir, table)
      if (DeltaLog.watermark(s, s"$dir/vectors") > seq) None
      else {
        val over = overlaid(dir, seq)
        val rows = s.read.parquet(s"$dir/$table")
        Some((if (over.isEmpty) rows else rows.filter(!col("id").isin(over.keys.toSeq: _*)),
          over.toSeq.collect { case (id, Some((v, m))) => (id, v, m) }
            .toDF("id", "embedding", "metadata")))
      }
    }
    val (layout, codes, sigs) =
      (view("vectors_by_cluster"), view("codes_by_cluster"), view("lsh_signatures"))
    val pqModel = IvfPq.load(s, s"$dir/ivfpq_model", "embedding")
    val lshModel = Lsh.load(s, s"$dir/lsh_model")
    val byDist = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    q => {
      def exact(rows: DataFrame): Hits =
        hits(Search.knnExact(rows, "id", "embedding", q.toSeq, K, pred))
      def rerank(ids: DataFrame): Hits = exact(liveRows.join(ids, "id"))
      val ivf = layout.fold(exact(liveRows)) { case (kept, tail) =>
        exact(kept.filter(col(Ivf.ClusterCol).isin(probed(dir, q): _*))
          .select("id", "embedding", "metadata").unionByName(tail))
      }
      val pq0 = codes.fold(exact(liveRows)) { case (kept, tail) =>
        (hits(IvfPq.search(kept, pqModel, "id", q.toSeq, NProbe, K, 0, pred)) ++ exact(tail))
          .sortBy { case (id, bits) => (java.lang.Double.longBitsToDouble(bits), id) }(byDist)
          .take(K)
      }
      val pqW = codes.fold(exact(liveRows)) { case (kept, tail) =>
        rerank(IvfPq.search(kept, pqModel, "id", q.toSeq, NProbe, W, 0, pred).select("id")
          .unionByName(tail.select("id")))
      }
      val lsh = sigs.fold(exact(liveRows)) { case (kept, tail) =>
        rerank(kept.filter(Lsh.probeCondition(lshModel, q.toSeq, 2)).select("id")
          .unionByName(tail.select("id")))
      }
      Seq(ivf, pq0, pqW, lsh)
    }
  }

  /** Every store answers every query on every tier as [[oracle]] does,
    * and never with a dead id or one the filter excludes. */
  private def assertServes(stores: Seq[VectorStore], queries: Seq[Array[Float]],
                           filter: Map[String, String] = Map.empty): Unit = {
    val live = stores.head.snapshot().filter(!col("is_deleted"))
      .select("id", "metadata").collect()
      .map(r => r.getLong(0) -> Option(r.getMap[String, String](1)).map(_.toMap)
        .getOrElse(Map.empty[String, String])).toMap
    val contract = oracle(stores.head, filter)
    for ((q, qi) <- queries.zipWithIndex; want = contract(q);
         (store, si) <- stores.zipWithIndex) {
      served(store, q, filter).zip(want).foreach { case ((tier, got), w) =>
        assert(got == w, s"store $si, query $qi: $tier $got, contract $w")
        got.foreach { case (id, _) =>
          assert(live.get(id).exists(m => filter.forall { case (k, v) => m.get(k).contains(v) }),
            s"store $si, query $qi: $tier served id $id, dead or failing the filter")
        }
      }
    }
  }

  private def rows(xs: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    xs.map { case (i, v) => (v, Map("g" -> (if (i % 10 == 0) "small" else "big"))) }
      .toDF("embedding", "metadata")
  }

  private def upsert(dir: String, id: Long, v: Array[Float]): Unit = {
    val s = spark
    import s.implicits._
    DeltaLog.append(Seq((id, v, "up", Map("g" -> "big"), "{}", false))
      .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted"),
      s"$dir/vectors", DeltaLog.nextSeq(s, s"$dir/vectors"))
  }

  private def tomb(dir: String, ids: Long*): Unit = {
    val s = spark
    import s.implicits._
    DeltaLog.append(ids.map(i => (i, true)).toDF("id", DeltaLog.TombCol),
      s"$dir/vectors", DeltaLog.nextSeq(s, s"$dir/vectors"),
      tombstoneCol = Some(DeltaLog.TombCol))
  }

  /** Every index the tables belong to, built over the store's rows,
    * and the HNSW graph. */
  private def buildAll(store: VectorStore, ivfLists: Int): Unit = {
    store.buildIvf(ivfLists)
    store.buildIvfPq(kClusters = 6, chunks = 4, kCodes = 8)
    store.trainLsh()
    store.buildHnsw(m = 6, efConstruction = 30, numPartitions = 4)
  }

  /** A collected row as comparable values: arrays and maps by content,
    * doubles by their bits. */
  private def canon(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case xs: scala.collection.Seq[_] => xs.toList
    case m: scala.collection.Map[_, _] => m.toMap
    case x => x
  }

  /** Every call the serve snapshot answers, with its result schema:
    * exact and filtered search, searchIvf, searchHnsw unfiltered and
    * through the post-filter route, get and size. */
  private def snapshotCalls(store: VectorStore, q: Array[Float],
                            filter: Map[String, String], ids: Seq[Long]): Seq[(String, Any)] = {
    def df(name: String, d: => DataFrame) = {
      val f = d
      name -> ((f.schema, f.collect().toSeq.map(canon)))
    }
    Seq(df("search", store.search(q.toSeq, K)),
      df("filtered search", store.search(q.toSeq, K, filter)),
      df("searchIvf", store.searchIvf(q.toSeq, NProbe, K, filter)),
      df("searchHnsw", store.searchHnsw(q.toSeq, K, ef = 10)),
      df("searchHnsw, auto ef", store.searchHnsw(q.toSeq, K)),
      df("searchHnsw, post-filter route", store.searchHnsw(q.toSeq, K, 10, Map("g" -> "big"))),
      "get" -> ids.map(id => store.get(id).map(r => (r.schema, canon(r)))),
      "size" -> store.size())
  }

  /** Each store answers every snapshot call as the distributed path
    * does, and, once its snapshot and memos hold this version, with no
    * Spark job. */
  private def assertSnapshotServes(stores: Seq[VectorStore], queries: Seq[Array[Float]],
                                   filter: Map[String, String], ids: Seq[Long]): Unit =
    for ((q, qi) <- queries.zipWithIndex) {
      val want = DriverLocal.forcedDistributed(snapshotCalls(stores.head, q, filter, ids))
      stores.zipWithIndex.foreach { case (store, si) =>
        val first = snapshotCalls(store, q, filter, ids)
        var again = Seq.empty[(String, Any)]
        val jobs = jobsOf { again = snapshotCalls(store, q, filter, ids) }
        assert(jobs == 0, s"store $si, query $qi: the held snapshot ran $jobs jobs")
        first.zip(again).zip(want).foreach { case (((call, got), (_, rerun)), (_, w)) =>
          assert(got == w, s"store $si, query $qi: $call from the snapshot $got, distributed $w")
          assert(rerun == got, s"store $si, query $qi: $call changed on a rerun")
        }
      }
    }

  /** `ids` deleted through `store` and, under the forcing scope, through
    * a copy of its dir made first: both write the same delta. */
  private def deleteBothWays(store: VectorStore, ids: Seq[Long]): Unit = {
    val twin = Files.createTempDirectory("ivftwin")
    val src = Paths.get(store.path)
    Files.walk(src).forEach { p =>
      val to = twin.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    store.delete(ids)
    DriverLocal.forcedDistributed(VectorStore.open(spark, twin.toString, store.dim).delete(ids))
    def written(dir: String) = {
      val seq = DeltaLog.deltaSeqs(spark, s"$dir/vectors").last
      val d = spark.read.parquet(DeltaLog.deltaPath(s"$dir/vectors", seq))
      (seq, d.schema, d.collect().toSeq.map(canon).sortBy(_.head.asInstanceOf[Long]))
    }
    assert(written(store.path) == written(twin.toString),
      "the snapshot's delete wrote another delta than the distributed one")
  }

  private val moved = Array.fill(8)(0.5f)
  private val inserted = Array.fill(8)(0.25f)
  private val zero = java.lang.Double.doubleToLongBits(0.0)
  /** `ok` holds for the hits of every tier `tiers` names. An ADC
    * ranking need not put a code row's own vector first, so checks of
    * a row the table holds name the exactly ranked tiers. */
  private def everyTier(store: VectorStore, q: Array[Float],
                        tiers: String => Boolean = _ => true)(ok: Hits => Boolean,
                                                              what: String): Unit =
    served(store, q).filter(t => tiers(t._1)).foreach { case (tier, h) =>
      assert(ok(h), s"$tier: $what: $h")
    }
  private def exactlyRanked(tier: String) = !tier.startsWith("searchIvfPq")

  test("searchIvf equals (probed layout rows − overlaid ids) ∪ overlaid live rows, bit for bit") {
    val dir = Files.createTempDirectory("ivftail").toString
    val a = VectorStore.open(spark, dir, dim = 8)
    val b = VectorStore.open(spark, dir, dim = 8)
    val data = corpus(420, 8, seed = 13L)
    a.ingest(rows(data.take(300)))
    a.compact()
    buildAll(a, 8)
    val rnd = new scala.util.Random(5L)
    val queries = Seq.fill(4)(Array.fill(8)(rnd.nextFloat()))
    // (case, what A writes, extra queries, metadata filter, what else
    // must hold). Every row searches through A and then B, so each is
    // also a case of B serving a table and a tail A wrote after B's
    // last search.
    val cases = Seq[(String, () => Unit, Seq[Array[Float]], Map[String, String], () => Unit)](
      ("fresh build", () => (), Nil, Map.empty, () => ()),
      ("ingest after the builds", () => { a.ingest(rows(data.slice(300, 340))); () },
        Seq(data(310)._2, data(335)._2), Map.empty,
        () => everyTier(b, data(310)._2)(_.head == ((310L, zero)),
          "a row ingested after the build must be its own top-1")),
      ("VectorStore.delete, a just-ingested id among them",
        () => deleteBothWays(a, Seq(5L, 12L, 310L, 99999L)), Seq(data(5)._2, data(310)._2), Map.empty,
        () => everyTier(b, data(310)._2)(!_.exists(_._1 == 310L), "the deleted id was served")),
      ("a raw upsert that moves a vector", () => upsert(dir, 11L, moved),
        Seq(data(11)._2, moved), Map.empty, { () =>
          everyTier(b, moved)(_.head == ((11L, zero)), "the upserted vector must be searched")
          everyTier(b, data(11)._2)(!_.contains((11L, zero)),
            "the upserted id must not be served at its old vector")
        }),
      ("a raw __tomb row", () => tomb(dir, 10L), Seq(data(10)._2), Map.empty,
        () => everyTier(b, data(10)._2)(!_.exists(_._1 == 10L), "the tombstoned id was served")),
      ("a raw insert of a new id", () => upsert(dir, 1000L, inserted), Seq(inserted), Map.empty,
        () => everyTier(b, inserted)(_.head == ((1000L, zero)), "the inserted row must be its own top-1")),
      ("a raw append without is_deleted", () => rawNoFlag(dir, 13L, 1001L),
        Seq(data(13)._2, inserted), Map.empty, { () =>
          everyTier(b, data(13)._2)(!_.exists(_._1 == 13L), "a null is_deleted row was served")
          assert(b.get(1001L).isEmpty && b.get(13L).isEmpty, "get served a null is_deleted row")
        }),
      ("compact", () => a.compact(),
        Seq(data(10)._2, data(11)._2, moved, inserted, data(335)._2), Map.empty,
        () => Tables.foreach(t => assert(tableSeq(dir, t) == DeltaLog.watermark(spark, s"$dir/vectors"),
          s"compact must advance the $t seq to the folded log"))),
      ("writes after the compact", { () =>
          a.ingest(rows(data.slice(340, 360))); a.delete(Seq(20L, 345L)); upsert(dir, 21L, moved) },
        Seq(data(350)._2, data(345)._2, moved), Map.empty, () => ()),
      ("a filtered search", () => a.delete(Seq(30L, 350L)),
        Seq(data(40)._2, data(350)._2), Map("g" -> "small"), () => ()),
      ("buildIvf over a non-empty tail: only rows newer than the build are overlaid", { () =>
          assert(DeltaLog.deltaSeqs(spark, s"$dir/vectors").nonEmpty)
          a.buildIvf(6); a.ingest(rows(data.slice(360, 380))); a.delete(Seq(41L)) },
        Seq(data(370)._2, data(41)._2), Map.empty,
        () => assert(overlaid(dir, layoutSeq(dir)).keySet == (360L until 380L).toSet + 41L)),
      ("buildIvfPq and trainLsh over a non-empty tail", { () =>
          a.buildIvfPq(kClusters = 5, chunks = 4, kCodes = 8); a.trainLsh(bitsPerTable = 6)
          a.delete(Seq(42L)) },
        Seq(data(42)._2, data(375)._2), Map.empty, { () =>
          assert(overlaid(dir, tableSeq(dir, "codes_by_cluster")).keySet == Set(42L))
          assert(overlaid(dir, tableSeq(dir, "lsh_signatures")).keySet == Set(42L))
        }),
      ("a hierarchical model", { () =>
          a.buildIvf(12, hierarchical = Some(true)); a.ingest(rows(data.slice(380, 400)))
          upsert(dir, 50L, moved); tomb(dir, 51L) },
        Seq(data(390)._2, moved, data(51)._2), Map.empty, () => ()),
      ("a hierarchical fold", () => a.compact(), Seq(data(390)._2, moved), Map.empty, { () =>
        val lists = Ivf.loadHier(spark, s"$dir/ivf_model", s"$dir/ivf_supers", "embedding").k
        val maxCid = spark.read.parquet(s"$dir/vectors_by_cluster")
          .agg(max(col(Ivf.ClusterCol))).head.getInt(0)
        assert(maxCid < lists, s"folded cluster id $maxCid out of range")
      }),
      ("a rebuild of the HNSW graph with another numPartitions",
        () => a.buildHnsw(m = 5, efConstruction = 25, numPartitions = 3),
        Seq(data(390)._2), Map.empty, () => ()),
      ("cross-instance: B serves, A rebuilds and writes", { () =>
          served(b, moved); buildAll(a, 8); a.ingest(rows(data.drop(400))); a.delete(Seq(60L))
          upsert(dir, 1000L, moved) },
        Seq(data(410)._2, moved, data(60)._2), Map.empty, () => ()))
    val probeIds = Seq(0L, 5L, 10L, 11L, 13L, 50L, 310L, 345L, 1000L, 1001L)
    cases.foreach { case (name, write, extra, filter, check) =>
      withClue(s"$name: ") {
        write()
        assertServes(Seq(a, b), queries ++ extra, filter)
        assertSnapshotServes(Seq(a, b), queries.take(2) ++ extra,
          if (filter.isEmpty) Map("g" -> "small") else filter, probeIds)
        check()
      }
    }
  }

  /** A raw append of `ids` at `inserted` with no is_deleted column. */
  private def rawNoFlag(dir: String, ids: Long*): Unit = {
    val s = spark
    import s.implicits._
    DeltaLog.append(ids.map(i => (i, inserted, "raw", Map("g" -> "big"), "{}"))
      .toDF("id", "embedding", "content", "metadata", "metadata_json"),
      s"$dir/vectors", DeltaLog.nextSeq(s, s"$dir/vectors"))
  }

  test("a store whose strings put the snapshot over the budget is served distributed") {
    val dir = Files.createTempDirectory("ivflong").toString
    val store = VectorStore.open(spark, dir, dim = 8)
    val data = corpus(2000, 8, seed = 17L)
    // 12 000 UTF-8 bytes of content a row: a few MB of files (every
    // row alike, so dictionary pages), 24 MB of strings to hold
    store.ingest(rows(data).withColumn("content", repeat(lit("x"), 12000)))
    store.compact()
    buildAll(store, 8)
    store.ingest(rows(corpus(20, 8, seed = 18L)).withColumn("content", lit("short")))
    store.delete(Seq(3L, 2005L))
    val v = DeltaLog.logVersion(spark, s"$dir/vectors")
    assert(!DriverLocal.fits(ServeSnapshot.estimate(spark, s"$dir/vectors", v, 8,
      Some(s"$dir/hnsw_edges"))), "the content did not put the store over the budget")
    val rnd = new scala.util.Random(9L)
    Seq(data(7)._2, Array.fill(8)(rnd.nextFloat())).foreach { q =>
      val want = DriverLocal.forcedDistributed(snapshotCalls(store, q, Map("g" -> "small"),
        Seq(1L, 3L, 2010L)))
      snapshotCalls(store, q, Map("g" -> "small"), Seq(1L, 3L, 2010L))
      var got = Seq.empty[(String, Any)]
      val jobs = jobsOf { got = snapshotCalls(store, q, Map("g" -> "small"), Seq(1L, 3L, 2010L)) }
      assert(jobs > 0, "a store over the budget answered from a held snapshot")
      got.zip(want).foreach { case ((call, g), (_, w)) => assert(g == w, s"$call: $g, forced $w") }
    }
  }

  test("a layout the log has outrun is never served; the next compact re-derives it") {
    val s = spark
    import s.implicits._
    val data = corpus(260, 8, seed = 17L)
    val rnd = new scala.util.Random(9L)
    val queries = Seq.fill(3)(Array.fill(8)(rnd.nextFloat()))
    def exists(p: String) = Files.exists(Paths.get(p))
    def outrun(dir: String) = Tables.forall(t => DeltaLog.watermark(s, s"$dir/vectors") > tableSeq(dir, t))
    def rederived(store: VectorStore): Unit = Tables.foreach { t =>
      assert(DeltaLog.watermark(s, s"${store.path}/vectors") <= tableSeq(store.path, t),
        s"compact must re-derive the outrun $t")
      assert(s.read.parquet(s"${store.path}/$t").select("id")
        .as[Long].collect().sorted.toSeq ==
        store.snapshot().filter(!col("is_deleted")).select("id").as[Long].collect().sorted.toSeq,
        s"the re-derived $t must hold exactly the live rows")
    }
    def indexed(dir: String): VectorStore = {
      val store = VectorStore.open(s, dir, dim = 8)
      store.ingest(rows(data.take(200)))
      buildAll(store, 6)
      store
    }
    // (case, its steps on a fresh store; every step is followed by the
    // contract check through two instances)
    val cases = Seq[(String, Seq[(String, String => Unit)])](
      ("a raw DeltaLog.compact", Seq(
        ("writes, then the log folds them", { dir =>
          val a = indexed(dir); a.ingest(rows(data.slice(200, 220))); a.delete(Seq(3L, 205L))
          upsert(dir, 4L, moved)
          DeltaLog.compact(s, s"$dir/vectors", "id")
          assert(outrun(dir))
        }),
        ("compact", { dir =>
          val a = VectorStore.open(s, dir, dim = 8); a.compact(); rederived(a) }),
        ("writes after it", { dir =>
          val a = VectorStore.open(s, dir, dim = 8)
          a.ingest(rows(data.slice(220, 230))); a.delete(Seq(6L)) }))),
      ("StreamingIngest's compactEvery", Seq(
        ("two streamed batches, then the builds", { dir =>
          Seq(data.take(150), data.slice(150, 200)).zipWithIndex.foreach { case (xs, i) =>
            xs.map { case (id, v) => (id, v, s"doc $id", Map("g" -> "big"), "{}", false) }
              .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted")
              .write.parquet(s"$dir/in/f$i")
          }
          stream(dir, compactEvery = 0)
          buildAll(VectorStore.open(s, dir, dim = 8), 6)
          assert(!Tables.exists(t => DeltaLog.watermark(s, s"$dir/vectors") > tableSeq(dir, t)))
        }),
        ("a streamed batch whose flush compacts the log", { dir =>
          (Seq((5L, moved)) ++ data.slice(200, 210))
            .map { case (id, v) => (id, v, s"doc $id", Map("g" -> "big"), "{}", false) }
            .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted")
            .write.parquet(s"$dir/in/f2")
          stream(dir, compactEvery = 3)
          assert(outrun(dir))
        }),
        ("compact", { dir =>
          val a = VectorStore.open(s, dir, dim = 8); a.compact(); rederived(a)
          everyTier(a, moved, exactlyRanked)(_.head._1 == 5L, "the streamed upsert must be searched")
        }))),
      ("tables with no recorded seq", Seq(
        ("writes, then the seq files are lost", { dir =>
          val a = indexed(dir); a.compact(); a.ingest(rows(data.slice(200, 220)))
          a.delete(Seq(3L, 205L)); upsert(dir, 4L, moved)
          Tables.foreach(t => Files.delete(Paths.get(s"$dir/$t/_layout_seq")))
        }),
        ("compact", { dir =>
          VectorStore.open(s, dir, dim = 8).compact()
          Tables.foreach(t => assert(exists(s"$dir/$t/_layout_seq"))) }))),
      ("leftover ivf_tombstones and ivfpq_tombstones", Seq(
        ("sidecars naming a live id", { dir =>
          indexed(dir)
          Seq("ivf_tombstones", "ivfpq_tombstones").foreach(d =>
            Seq(7L, 1000L).toDF("id").write.parquet(s"$dir/$d"))
          val store = VectorStore.open(s, dir, dim = 8)
          everyTier(store, data(7)._2, exactlyRanked)(_.head._1 == 7L,
            "search must ignore the sidecars")
          assertServes(Seq(store), Seq(data(7)._2))
        }),
        ("an ingest with no next-id marker", { dir =>
          Files.delete(Paths.get(s"$dir/next_id"))
          val first = VectorStore.open(s, dir, dim = 8).ingest(rows(data.slice(200, 202)))
          assert(first > 1000L, s"the fallback next id $first must max against the sidecars")
        }),
        ("compact", { dir =>
          VectorStore.open(s, dir, dim = 8).compact()
          Seq("ivf_tombstones", "ivfpq_tombstones").foreach(d =>
            assert(!exists(s"$dir/$d"), s"the fold must remove $d")) }))))
    cases.foreach { case (name, steps) =>
      val dir = Files.createTempDirectory("ivfoutrun").toString
      steps.foreach { case (step, run) =>
        withClue(s"$name, $step: ") {
          run(dir)
          assertServes(Seq(VectorStore.open(s, dir, dim = 8), VectorStore.open(s, dir, dim = 8)),
            queries :+ moved)
        }
      }
    }
  }

  /** Drain every input file under `dir/in` into `dir/vectors` through
    * the streaming upsert path, one file per batch. */
  private def stream(dir: String, compactEvery: Int): Unit = {
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    StreamingIngest.upsertStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$dir/in/*"),
      "id", s"$dir/vectors", s"$dir/ckpt", compactEvery = compactEvery).awaitTermination()
  }
}
