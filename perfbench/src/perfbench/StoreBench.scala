package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.VectorStore
import org.apache.spark.sql.SparkSession

/** The `serve` and `mixed` workloads: one closed-loop client driving a
  * [[graft.VectorStore]] through its public calls. */
object StoreBench {
  val Dim = 64
  val Clusters = 32
  val Rows = 2000
  val K = 10
  val SetupReps = 3
  val BatchRows = 1000
  val DeletesPerRound = 20
  val CompactEvery = 3

  /** IVF list count for a corpus of `n` rows: about sqrt(n). */
  def ivfLists(n: Int): Int = math.round(math.sqrt(n.toDouble)).toInt

  /** One kind of search call: the tier it reports under, the facade index
    * it selects, and its metadata filter. */
  final case class Kind(tier: String, index: String, filter: Map[String, String])

  /** The store under test and an in-memory mirror of its live rows. */
  final class Store(val vs: VectorStore, val dir: Path) {
    val live = mutable.LinkedHashMap.empty[Long, Gen.Rec]
    val deleted = mutable.HashSet.empty[Long]
    var userBytes = 0L

    def add(first: Long, recs: Seq[Gen.Rec]): Unit = {
      recs.zipWithIndex.foreach { case (r, i) => live(first + i) = r }
      userBytes += recs.length.toLong * Dim * 4
    }
  }

  /** Facts about one traced call, joined with its listener counts later. */
  final case class Traced(kind: String, call: Long, phases: Seq[String],
                          seconds: Map[String, Double], liveRows: Long,
                          deltas: Int, files: Long)

  final class Setup(val store: Store, val gen: VectorGen, val seconds: Seq[Double],
                    val ivfBuild: Seq[Double], val hnswBuild: Seq[Double])

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Ingest `recs` into a fresh store at `dir`, compact it, and build the
    * IVF and HNSW indexes. Returns the store and the IVF and HNSW build
    * seconds. */
  private def build(spark: SparkSession, dir: Path, recs: Seq[Gen.Rec]): (Store, Double, Double) = {
    val vs = VectorStore.open(spark, dir.toString, Dim)
    val first = vs.ingest(Gen.storeRows(spark, recs))
    vs.compact()
    val (_, ivfS) = time(vs.buildIvf(ivfLists(recs.length)))
    val (_, hnswS) = time(vs.buildHnsw())
    val s = new Store(vs, dir)
    s.add(first, recs)
    (s, ivfS, hnswS)
  }

  /** Set up the seed's store [[SetupReps]] times; the last store is kept.
    * The first set-up also loads and compiles the code paths, so the
    * median is that of the warm ones. */
  def setup(spark: SparkSession, work: Path, seed: Long): Setup = {
    val gen = new VectorGen(seed, Dim, Clusters)
    val recs = gen.stream(0).records(Rows)
    val runs = (1 to SetupReps).map { rep =>
      val ((store, ivfS, hnswS), total) = time(build(spark, work.resolve(s"store-$rep"), recs))
      (store, total, ivfS, hnswS)
    }
    runs.init.foreach(r => Main.deleteTree(r._1.dir))
    Main.progress(s"set up ${runs.length} times")
    new Setup(runs.last._1, gen, runs.map(_._2), runs.map(_._3), runs.map(_._4))
  }

  /** Files and bytes under the store root. */
  def storageFootprint(dir: Path): (Long, Long) = {
    val walk = Files.walk(dir)
    try {
      var files = 0L
      var bytes = 0L
      walk.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
      (files, bytes)
    } finally walk.close()
  }

  /** State shared by the two store workloads' loops. */
  final class Loop(spark: SparkSession, rec: Recorder, val store: Store, seed: Long) {
    val outcomes = new Outcomes
    val queries = new VectorGen(seed, Dim, Clusters).stream(2)
    val pick = new scala.util.Random(seed * 7919L + 3)
    val latency = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.ArrayBuffer.empty[Traced]
    var timing = false // record latencies (off during warm-up)
    var completed = 0L // operations that succeeded in timed, untraced rounds

    private def sample(m: mutable.Map[String, mutable.ArrayBuffer[Double]],
                       key: String, v: Double): Unit =
      if (timing && !rec.tracing) m.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

    private def countCompleted(): Unit = if (timing && !rec.tracing) completed += 1

    private def observe(kind: String, call: Long, phases: Seq[String],
                        seconds: Map[String, Double]): Unit = if (rec.tracing) {
      val deltas = graft.core.DeltaLog.deltaSeqs(spark, s"${store.dir}/vectors").size
      val (files, _) = storageFootprint(store.dir)
      traced += Traced(kind, call, phases, seconds, store.live.size.toLong, deltas, files)
    }

    /** One search through `VectorStore.searchApi`, checked against the
      * brute force over the mirror's live rows. `self` is the
      * id the query vector was ingested under, when it was. */
    def search(kind: Kind, q: Array[Float], self: Option[Long] = None): Unit = {
      val call = rec.newCall()
      val exact = want(kind, q) // searches do not change the mirror
      outcomes.op(kind.tier) {
        val ((rows, c, e), total) = rec.span(kind.tier, call) {
          val (df, c) = rec.span("construct", call, phase = true) {
            store.vs.searchApi(q.toSeq,
              Map("index" -> kind.index, "top_k" -> K.toString), kind.filter)
          }
          val (rows, e) = rec.span("execute", call, phase = true)(df.collect())
          (rows, c, e)
        }
        observe(kind.tier, call, Seq("construct", "execute"),
          Map("construct" -> c, "execute" -> e))
        sample(latency, kind.tier, total)
        rows.map(r => Check.Hit(r.getAs[Long]("id"), r.getAs[Double]("dist"))).toSeq
      }(hits => checkSearch(kind, q, self, hits, exact)).foreach { hits =>
        countCompleted()
        if (kind.index != "exact") sample(recall, kind.tier, Check.recall(hits, exact))
      }
    }

    private def want(kind: Kind, q: Array[Float]): IndexedSeq[Check.Hit] =
      Check.bruteForce(q, K, store.live.view.filter { case (_, r) =>
        kind.filter.forall { case (k, v) => r.metadata.get(k).contains(v) }
      }.map { case (id, r) => (id, r.vec) })

    private def checkSearch(kind: Kind, q: Array[Float], self: Option[Long],
                            hits: Seq[Check.Hit], exact: Seq[Check.Hit]): Option[String] = {
      lazy val annProblem = hits.collectFirst {
        case h if store.deleted.contains(h.id) => s"deleted id ${h.id} returned"
        case h if !store.live.contains(h.id) => s"unknown id ${h.id} returned"
        case h if kind.filter.exists { case (k, v) =>
          !store.live(h.id).metadata.get(k).contains(v) } => s"id ${h.id} fails the filter"
        case h if math.abs(h.dist - Check.l2(q, store.live(h.id).vec)) > Check.DistTol =>
          s"id ${h.id} has wrong distance ${h.dist}"
      }.orElse {
        val ascending = hits.zip(hits.drop(1)).forall { case (a, b) =>
          a.dist < b.dist || (a.dist == b.dist && a.id < b.id) }
        if (!ascending) Some("result not ascending by (dist, id)")
        else if (hits.length != exact.length) Some(s"${hits.length} rows, wanted ${exact.length}")
        else None
      }
      self match {
        case Some(id) if !hits.headOption.exists(h => h.id == id && h.dist == 0.0) =>
          Some(s"just-ingested id $id is not its own top-1 at distance 0")
        case _ =>
          if (kind.index == "exact") Check.exactMismatch(hits, exact) else annProblem
      }
    }

    /** A random `label` value: a filter that keeps ~10% of the rows. */
    def labelFilter(): Map[String, String] = Map("label" -> pick.nextInt(10).toString)

    /** A store mutation timed as one phase named `what`. */
    def mutate(what: String)(body: => Unit): Unit = {
      val call = rec.newCall()
      outcomes.op(what) {
        val (_, s) = rec.span(what, call, phase = true)(body)
        observe(what, call, Seq(what), Map(what -> s))
        sample(latency, what, s)
      }(_ => None).foreach(_ => countCompleted())
    }

    /** Per-layer metrics of the traced calls (the listener is drained). */
    def layerMetrics(rec: Recorder): Map[String, Double] = {
      val m = mutable.Map.empty[String, Double]
      def counts(t: Traced): Counts = {
        val c = new Counts
        t.phases.foreach(p => c += rec.listener.group(rec.group(t.call, p)))
        c
      }
      traced.groupBy(_.kind).foreach { case (kind, ts) =>
        val cs = ts.map(counts)
        if (Seq("exact", "ivf", "hnsw", "filtered").contains(kind)) {
          m(s"$kind.construct_s") = Stats.mean(ts.map(_.seconds("construct")))
          m(s"$kind.execute_s") = Stats.mean(ts.map(_.seconds("execute")))
          m(s"$kind.jobs") = Stats.mean(cs.map(_.jobs.toDouble))
          m(s"$kind.tasks") = Stats.mean(cs.map(_.tasks.toDouble))
          m(s"$kind.input_rows") = Stats.mean(cs.map(_.inputRows.toDouble))
          m(s"$kind.scan_frac") = Stats.mean(ts.zip(cs).map { case (t, c) =>
            c.inputRows.toDouble / t.liveRows })
        } else {
          m(s"$kind.jobs") = Stats.mean(cs.map(_.jobs.toDouble))
          m(s"$kind.tasks") = Stats.mean(cs.map(_.tasks.toDouble))
          m(s"$kind.bytes_written") = Stats.mean(cs.map(_.bytesWritten.toDouble))
        }
      }
      val searches = traced.filter(t => t.phases.contains("execute"))
      m("deltalog.deltas") = Stats.mean(searches.map(_.deltas.toDouble))
      m("storage.files") = Stats.mean(searches.map(_.files.toDouble))
      m("storage.bytes_per_user_byte") =
        storageFootprint(store.dir)._2.toDouble / store.userBytes
      m.toMap
    }
  }

  /** Timed rounds of one run: round seconds, split by whether the round
    * was traced, and the wall seconds of the untraced rounds including the
    * work between rounds. */
  final case class Rounds(plain: Seq[Double], traced: Seq[Double], plainWall: Double)

  /** Run `warmup` untimed rounds, then timed rounds until `seconds` have
    * passed, [[Main.enoughRounds]] holds and `done(rounds run so far)`.
    * `between(round)` runs after each round, outside its timing. */
  def rounds(rec: Recorder, loop: Loop, seconds: Double, trace: Boolean, warmup: Int,
             done: Int => Boolean, between: Int => Unit = _ => ())
            (body: Int => Unit): Rounds = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedRounds = mutable.ArrayBuffer.empty[Double]
    var plainWall = 0.0
    (0 until warmup).foreach { r => body(r); between(r) }
    Main.progress(s"$warmup warm-up rounds done")
    loop.timing = true
    val t0 = System.nanoTime()
    var r = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || !done(warmup + r) ||
        !Main.enoughRounds(r, trace)) {
      rec.setTracing(Main.tracedRound(r, trace))
      val (_, s) = time(body(warmup + r))
      val (_, b) = time(between(warmup + r))
      if (rec.tracing) tracedRounds += s else { plain += s; plainWall += s + b }
      r += 1
    }
    rec.setTracing(false)
    Rounds(plain.toSeq, tracedRounds.toSeq, plainWall)
  }

  private def latencyDetail(loop: Loop, tiers: Seq[String]): Seq[(String, String)] =
    tiers.flatMap { t =>
      loop.latency.get(t).map(xs => s"${t}_s" -> Stats.summary(xs.toSeq).json)
    } ++ Seq("recall_at_10" -> Json.num(Stats.mean(loop.recall.values.flatten.toSeq))) ++
      loop.recall.toSeq.sortBy(_._1).map { case (t, xs) =>
        s"recall_at_10.$t" -> Json.num(Stats.mean(xs.toSeq)) }

  /** End-to-end, per-layer and detail metrics common to both workloads. */
  private def result(rec: Recorder, loop: Loop, st: Setup, rs: Rounds,
                     detail: Seq[(String, String)]): Result = {
    val (plain, traced) = (rs.plain, rs.traced)
    val layers =
      if (traced.isEmpty) Map.empty[String, Double]
      else {
        val spark = rec.listener.total
        loop.layerMetrics(rec) ++ Map(
          "ivf.build_s" -> Stats.median(st.ivfBuild),
          "hnsw.build_s" -> Stats.median(st.hnswBuild),
          "spark.executor_run_s" -> spark.runMs / 1000.0 / traced.length,
          "spark.busy_frac" -> spark.runMs / 1000.0 / (traced.sum * Main.Cores),
          "spark.gc_s" -> spark.gcMs / 1000.0 / traced.length,
          "spark.shuffle_bytes" -> spark.shuffleBytes.toDouble / traced.length,
          "spark.spill_bytes" -> spark.spillBytes.toDouble / traced.length,
          "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(plain) - 1.0))
      }
    Result(loop.outcomes.attempted, loop.outcomes.failed,
      Seq(Metric("setup_s", Stats.median(st.seconds), "s"),
        Metric("round_p50_s", Stats.median(plain), "s"),
        Metric("ops_per_s", loop.completed / rs.plainWall, "1/s")),
      layers,
      Seq("setup_s" -> st.seconds.map(Json.num).mkString("[", ", ", "]"),
        "rounds" -> s"${plain.length} untraced, ${traced.length} traced",
        "round_s" -> Stats.summary(plain).json) ++ detail)
  }

  /** `serve`: read-only closed loop over the compacted, indexed store,
    * after one untimed round that warms the search paths. Each round is
    * one call per kind: exact, ivf and hnsw unfiltered, exact with
    * a ~10% label filter and hnsw with a ~90% group filter (the
    * post-filter route). */
  def serve(spark: SparkSession, rec: Recorder, work: Path, seed: Long,
            seconds: Double, trace: Boolean): Result = {
    val st = setup(spark, work, seed)
    val loop = new Loop(spark, rec, st.store, seed)
    val rs = rounds(rec, loop, seconds, trace, warmup = 1, _ => true) { _ =>
      loop.search(Kind("exact", "exact", Map.empty), loop.queries.vector())
      loop.search(Kind("ivf", "ivf", Map.empty), loop.queries.vector())
      loop.search(Kind("hnsw", "hnsw", Map.empty), loop.queries.vector())
      loop.search(Kind("filtered", "exact", loop.labelFilter()), loop.queries.vector())
      // ~90% filter: the post-filter route over the persisted graph
      loop.search(Kind("filtered", "hnsw", Map("group" -> "a")), loop.queries.vector())
    }
    val searches = loop.latency.values.map(_.length).sum
    result(rec, loop, st, rs,
      latencyDetail(loop, Seq("exact", "ivf", "hnsw", "filtered")) ++ Seq(
        "searches_per_s" -> Json.num(searches / rs.plainWall)))
  }

  /** `mixed`: rounds of ingest (1k rows), delete (20 live ids), one
    * search per tier and an `exact` search with a ~10% filter; a
    * compaction follows every [[CompactEvery]]th round and is timed apart
    * from the round. The loop ends on a compaction, so every run covers
    * whole cycles; there is no warm-up round, as a cycle already costs most
    * of a run and the median of its three rounds does not move with the
    * first. The exact search queries the vector just ingested
    * (read-your-writes). */
  def mixed(spark: SparkSession, rec: Recorder, work: Path, seed: Long,
            seconds: Double, trace: Boolean): Result = {
    val st = setup(spark, work, seed)
    val loop = new Loop(spark, rec, st.store, seed)
    val store = st.store
    val batches = st.gen.stream(1)
    var compactions = 0
    val rs = rounds(rec, loop, seconds, trace, warmup = 0, _ % CompactEvery == 0,
      between = r => if ((r + 1) % CompactEvery == 0) {
        loop.mutate("compact") { store.vs.compact() }
        compactions += 1
      }) { _ =>
      val recs = batches.records(BatchRows)
      var first = -1L
      loop.mutate("ingest") { first = store.vs.ingest(Gen.storeRows(spark, recs)) }
      if (first >= 0) store.add(first, recs)
      val victims = loop.pick.shuffle(store.live.keys.toIndexedSeq).take(DeletesPerRound)
      loop.mutate("delete") { store.vs.delete(victims) }
      victims.foreach { id => store.live.remove(id); store.deleted += id }
      val self = loop.pick.nextInt(BatchRows)
      loop.search(Kind("exact", "exact", Map.empty), recs(self).vec,
        Some(first + self).filter(_ => first >= 0))
      loop.search(Kind("ivf", "ivf", Map.empty), loop.queries.vector())
      loop.search(Kind("hnsw", "hnsw", Map.empty), loop.queries.vector())
      loop.search(Kind("filtered", "exact", loop.labelFilter()), loop.queries.vector())
    }
    val lat = loop.latency
    result(rec, loop, st, rs,
      latencyDetail(loop, Seq("exact", "ivf", "hnsw", "filtered")) ++ Seq(
        "ingest_rows_per_s" -> Json.num(lat.get("ingest").map(x => BatchRows * x.length / x.sum)
          .getOrElse(Double.NaN)),
        "delete_s" -> lat.get("delete").map(x => Stats.summary(x.toSeq).json).getOrElse("null"),
        "compact_s" -> lat.get("compact").map(x => Stats.summary(x.toSeq).json).getOrElse("null"),
        "compactions" -> compactions.toString))
  }
}
