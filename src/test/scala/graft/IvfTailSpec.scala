package graft

import graft.core.DeltaLog
import graft.operators.{Ivf, Search}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The IVF tier reads the delta tail through merge-on-read: a search
  * answers from the layout rows of the probed lists, minus every id the
  * tail holds at a seq above the layout seq, plus the tail's live rows
  * — or from the exact path once the log has folded deltas the layout
  * never saw. Every answer is checked bit for bit against that formula
  * computed here from what is on disk, through two store instances
  * over one dir. */
class IvfTailSpec extends SparkSpec {

  private val K = 6
  private val NProbe = 3
  private type Hits = Seq[(Long, Long)] // (id, dist bits)

  /** The layout seq the layout dir records, else the log watermark. */
  private def layoutSeq(dir: String): Long = {
    val f = Paths.get(s"$dir/vectors_by_cluster/_layout_seq")
    if (Files.exists(f)) Files.readString(f).trim.toLong
    else DeltaLog.watermark(spark, s"$dir/vectors")
  }

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
        val dead = r.getBoolean(1) || (!r.isNullAt(2) && r.getBoolean(2))
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

  /** The answer the contract defines: the exact top-k over (probed
    * layout rows − overlaid ids) ∪ overlaid live rows, or over the live
    * rows once the log watermark passed the layout seq. */
  private def oracle(store: VectorStore, q: Array[Float],
                     filter: Map[String, String]): Hits = {
    val s = spark
    import s.implicits._
    val dir = store.path
    val seq = layoutSeq(dir)
    val rows =
      if (DeltaLog.watermark(s, s"$dir/vectors") > seq)
        store.snapshot().filter(!col("is_deleted")).select("id", "embedding", "metadata")
      else {
        val over = overlaid(dir, seq)
        val layout = s.read.parquet(s"$dir/vectors_by_cluster")
          .filter(col(Ivf.ClusterCol).isin(probed(dir, q): _*))
          .select("id", "embedding", "metadata")
        val kept = if (over.isEmpty) layout else layout.filter(!col("id").isin(over.keys.toSeq: _*))
        kept.unionByName(over.toSeq.collect { case (id, Some((v, m))) => (id, v, m) }
          .toDF("id", "embedding", "metadata"))
      }
    val pred = if (filter.isEmpty) None
      else Some(Search.metadataFilter(col("metadata"), filter))
    hits(Search.knnExact(rows, "id", "embedding", q.toSeq, K, pred))
  }

  /** Every store answers every query as [[oracle]] does, and never with
    * a dead id or one the filter excludes. */
  private def assertServes(stores: Seq[VectorStore], queries: Seq[Array[Float]],
                           filter: Map[String, String] = Map.empty): Unit = {
    val live = stores.head.snapshot().filter(!col("is_deleted"))
      .select("id", "metadata").collect()
      .map(r => r.getLong(0) -> Option(r.getMap[String, String](1)).map(_.toMap)
        .getOrElse(Map.empty[String, String])).toMap
    for ((store, si) <- stores.zipWithIndex; (q, qi) <- queries.zipWithIndex) {
      val got = hits(store.searchIvf(q.toSeq, NProbe, K, filter))
      val want = oracle(store, q, filter)
      assert(got == want, s"store $si, query $qi: searchIvf $got, contract $want")
      got.foreach { case (id, _) =>
        assert(live.get(id).exists(m => filter.forall { case (k, v) => m.get(k).contains(v) }),
          s"store $si, query $qi: id $id is dead or fails the filter")
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

  private val moved = Array.fill(8)(0.5f)
  private def top(store: VectorStore, q: Array[Float]): Hits =
    hits(store.searchIvf(q.toSeq, NProbe, K))

  test("searchIvf equals (probed layout rows − overlaid ids) ∪ overlaid live rows, bit for bit") {
    val dir = Files.createTempDirectory("ivftail").toString
    val a = VectorStore.open(spark, dir, dim = 8)
    val b = VectorStore.open(spark, dir, dim = 8)
    val data = corpus(420, 8, seed = 13L)
    a.ingest(rows(data.take(300)))
    a.compact()
    a.buildIvf(8)
    val rnd = new scala.util.Random(5L)
    val queries = Seq.fill(4)(Array.fill(8)(rnd.nextFloat()))
    val zero = java.lang.Double.doubleToLongBits(0.0)
    // (case, what A writes, extra queries, metadata filter, what else
    // must hold). Every row searches through A and then B, so each is
    // also a case of B serving a layout and a tail A wrote after B's
    // last search.
    val cases = Seq[(String, () => Unit, Seq[Array[Float]], Map[String, String], () => Unit)](
      ("fresh build", () => (), Nil, Map.empty, () => ()),
      ("ingest after buildIvf", () => { a.ingest(rows(data.slice(300, 340))); () },
        Seq(data(310)._2, data(335)._2), Map.empty,
        () => assert(top(b, data(310)._2).head == ((310L, zero)),
          "a row ingested after the build must be its own top-1")),
      ("VectorStore.delete, a just-ingested id among them",
        () => a.delete(Seq(5L, 12L, 310L)), Seq(data(5)._2, data(310)._2), Map.empty,
        () => assert(!top(b, data(310)._2).exists(_._1 == 310L))),
      ("a raw upsert that moves a vector", () => upsert(dir, 11L, moved),
        Seq(data(11)._2, moved), Map.empty, { () =>
          assert(top(b, moved).head == ((11L, zero)), "the upserted vector must be searched")
          assert(!top(b, data(11)._2).contains((11L, zero)),
            "the upserted id must not be served at its old vector")
        }),
      ("a raw __tomb row", () => tomb(dir, 10L), Seq(data(10)._2), Map.empty,
        () => assert(!top(b, data(10)._2).exists(_._1 == 10L), "the tombstoned id was served")),
      ("compact", () => a.compact(), Seq(data(10)._2, data(11)._2, moved, data(335)._2),
        Map.empty, () => assert(layoutSeq(dir) == DeltaLog.watermark(spark, s"$dir/vectors"),
          "compact must advance the layout seq to the folded log")),
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
      ("cross-instance: B serves, A rebuilds flat and writes", { () =>
          top(b, moved); a.buildIvf(8); a.ingest(rows(data.drop(400))); a.delete(Seq(60L)) },
        Seq(data(410)._2, moved, data(60)._2), Map.empty, () => ()))
    cases.foreach { case (name, write, extra, filter, check) =>
      withClue(s"$name: ") {
        write()
        assertServes(Seq(a, b), queries ++ extra, filter)
        check()
      }
    }
  }

  test("a layout the log has outrun is never served; the next compact re-derives it") {
    val s = spark
    import s.implicits._
    val data = corpus(260, 8, seed = 17L)
    val rnd = new scala.util.Random(9L)
    val queries = Seq.fill(3)(Array.fill(8)(rnd.nextFloat()))
    def exists(p: String) = Files.exists(Paths.get(p))
    def outrun(dir: String) = DeltaLog.watermark(s, s"$dir/vectors") > layoutSeq(dir)
    def rederived(store: VectorStore): Unit = {
      assert(!outrun(store.path), "compact must re-derive the outrun layout")
      assert(s.read.parquet(s"${store.path}/vectors_by_cluster").select("id")
        .as[Long].collect().sorted.toSeq ==
        store.snapshot().filter(!col("is_deleted")).select("id").as[Long].collect().sorted.toSeq,
        "the re-derived layout must hold exactly the live rows")
    }
    def indexed(dir: String): VectorStore = {
      val store = VectorStore.open(s, dir, dim = 8)
      store.ingest(rows(data.take(200)))
      store.buildIvf(6)
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
        ("two streamed batches, then buildIvf", { dir =>
          Seq(data.take(150), data.slice(150, 200)).zipWithIndex.foreach { case (xs, i) =>
            xs.map { case (id, v) => (id, v, s"doc $id", Map("g" -> "big"), "{}", false) }
              .toDF("id", "embedding", "content", "metadata", "metadata_json", "is_deleted")
              .write.parquet(s"$dir/in/f$i")
          }
          stream(dir, compactEvery = 0)
          VectorStore.open(s, dir, dim = 8).buildIvf(6)
          assert(!outrun(dir))
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
          assert(top(a, moved).head._1 == 5L) }))),
      ("a layout with no recorded seq", Seq(
        ("writes, then the seq file is lost", { dir =>
          val a = indexed(dir); a.compact(); a.ingest(rows(data.slice(200, 220)))
          a.delete(Seq(3L, 205L)); upsert(dir, 4L, moved)
          Files.delete(Paths.get(s"$dir/vectors_by_cluster/_layout_seq"))
        }),
        ("compact", { dir =>
          VectorStore.open(s, dir, dim = 8).compact()
          assert(exists(s"$dir/vectors_by_cluster/_layout_seq")) }))),
      ("a leftover ivf_tombstones", Seq(
        ("a sidecar naming a live id", { dir =>
          indexed(dir)
          Seq(7L, 1000L).toDF("id").write.parquet(s"$dir/ivf_tombstones")
          assert(top(VectorStore.open(s, dir, dim = 8), data(7)._2).head._1 == 7L,
            "search must ignore the sidecar")
        }),
        ("an ingest with no next-id marker", { dir =>
          Files.delete(Paths.get(s"$dir/next_id"))
          val first = VectorStore.open(s, dir, dim = 8).ingest(rows(data.slice(200, 202)))
          assert(first > 1000L, s"the fallback next id $first must max against the sidecar")
        }),
        ("compact", { dir =>
          VectorStore.open(s, dir, dim = 8).compact()
          assert(!exists(s"$dir/ivf_tombstones"), "the fold must remove the sidecar") }))))
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
