package graft

import graft.core.DriverLocal
import graft.functions.HashingEmbedder
import graft.operators.{Dedup, Ivf, Pq, RangeJoin, Search}
import org.apache.spark.sql.functions._

/** Scale probe: synthesizes a 1M-row x 64-dim vector table and times the
  * core operators — evidence for the 100x-scale-up claims (run manually;
  * not part of the driver contract).
  *
  * args: [n] [group] — group ∈ {all, vectors, text, layout, stream,
  * store} selects the probe family ("text" = the dedup/text/sketch
  * tier, runnable alone at 10M+ rows without paying for the
  * vector-index builds; "store" = the `VectorStore` facade's
  * steady-state calls; default all). */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val group = args.lift(1).getOrElse("all")
    require(Set("all", "vectors", "text", "layout", "stream", "store")(group),
      s"unknown group $group")
    val vectors = group == "all" || group == "vectors"
    val text = group == "all" || group == "text"
    val layout = group == "all" || group == "layout"
    val stream = group == "all" || group == "stream"
    val storeCalls = group == "all" || group == "store"
    // SPARK_GRAFT_CPUS mirrors Bench's knob (default 16 keeps published
    // probe rows comparable; raise for the 100M-tier runs)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(16)
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // optional third arg: comma-separated substring filters on probe
    // names (local iteration aid — rerun chosen entries without paying
    // the whole group)
    val only = args.lift(2).map(_.split(",").toSeq)
    def sel(name: String): Boolean = only.forall(_.exists(name.contains(_)))
    // per-probe spill/shuffle accounting (cumulative task metrics —
    // the measurable proxy for the sharding knobs' peak-state claims:
    // state ÷ shards shows up as the per-probe spill/shuffle-write
    // delta between sharded and unsharded runs)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val outputBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val inputBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobsStarted.incrementAndGet(); ()
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
            shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            outputBytes.addAndGet(m.outputMetrics.bytesWritten)
            inputBytes.addAndGet(m.inputMetrics.bytesRead)
            ()
          }
        }
      })

    // tp = timed probe with untimed setup: `setup` (forcing lazy stored
    // inputs / on-demand model builds a name filter may have skipped)
    // runs BEFORE the clock starts, so a filtered run times the same
    // search work an unfiltered run does
    def tp(name: String)(setup: => Unit)(f: => Long): Unit =
      if (sel(name)) {
        setup
        val s0 = spillBytes.get(); val w0 = shuffleWriteBytes.get()
        val o0 = outputBytes.get(); val i0 = inputBytes.get()
        val t0 = System.nanoTime(); val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously — settle until two
        // consecutive reads agree (a fixed sleep under-waits when the
        // bus lags, bleeding deltas into the next probe's window)
        var prev = (spillBytes.get(), shuffleWriteBytes.get())
        var settled = false; var waited = 0
        while (!settled && waited < 5000) {
          Thread.sleep(200); waited += 200
          val cur = (spillBytes.get(), shuffleWriteBytes.get())
          settled = cur == prev; prev = cur
        }
        val sp = (spillBytes.get() - s0) / 1e9
        val sw = (shuffleWriteBytes.get() - w0) / 1e9
        val ob = (outputBytes.get() - o0) / 1e9
        val ib = (inputBytes.get() - i0) / 1e9
        println(f"SCALE $name%-26s $dt%8.2f s  (rows=$r, spill=$sp%.1f GB, shuffle_write=$sw%.1f GB, files_written=$ob%.2f GB, files_read=$ib%.2f GB)")
      }
    def t(name: String)(f: => Long): Unit = tp(name)(())(f)
    // untimed on-demand setup for probes whose input a name filter's
    // skipped write probe would otherwise have produced
    def ensure(dirs: String*)(write: => Unit): Unit =
      if (!dirs.forall(d => new java.io.File(d, "_SUCCESS").exists())) write

    if (vectors) {
      val dir = s"/tmp/graft_scale_$n"
      // deterministic pseudo-random embeddings from hash mixing
      spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(63)),
            i => (pmod(xxhash64(col("id") * 64 + i), lit(10000)) / 10000.0).cast("float"))
            .as("embedding"))
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val q = df.filter(col("id") === 0).select("embedding").head.getSeq[Float](0).toSeq

      // warm the session (codegen/JIT/file-index) so the first timed op
      // isn't charged one-time session costs
      df.agg(sum(element_at(col("embedding"), 1))).count()

      // shared ground truth for the tier recall sweeps (ivf/bq/pq/sq/
      // lsh): same 10 queries, same exact top-10 — computed once per
      // run instead of once per sweep (5 × 10 full-corpus kNN scans).
      // Lazy + forced in each sweep's UNTIMED setup block, so the cost
      // never lands inside a sweep's timed window (which sweep pays
      // would otherwise depend on the name filter)
      lazy val recallQs = df.filter(col("id") < 10).select("id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      lazy val recallExact = recallQs.map { case (qid, qv) =>
        qid -> Search.knnExact(df, "id", "embedding", qv, 10)
          .select("id").collect().map(_.getLong(0)).toSet
      }.toMap

      t("exact_knn_top10")(Search.knnExact(df, "id", "embedding", q, 10).count())
      var model: Ivf.Model = null
      t("ivf_build_k64") { val (a, m) = Ivf.build(df, "embedding", 64); model = m; a.count() }
      // with a name filter the timed build above may not have run —
      // later probes that need the model build it on demand (untimed)
      def ivfModel(): Ivf.Model = {
        if (model == null) model = Ivf.build(df, "embedding", 64)._2
        model
      }
      lazy val assigned = Ivf.assign(df, ivfModel())
      tp("ivf_search_probe4") { assigned }(
        Ivf.search(assigned, ivfModel(), "id", q, 4, 10).count())

      // IVF default-probe recall at corpus scale: the searchApi default
      // n_probe=10 (GraftConfig.nProbe, mirroring api/models.py:20)
      // measured against the reference's IVF recall acceptance
      // (test_ivf.py:127-166: recall >= 0.6 on >= 70% of queries) on a
      // sqrt(N)-cluster index — the FAISS-guideline list count a
      // corpus-scale build actually uses. Probing a FIXED 10 of sqrt(N)
      // lists is a shrinking corpus fraction as N grows, so the fixed
      // default decays with scale exactly like the fixed HNSW beam did
      // — this sweep is the measured basis for Ivf.scaledNProbe. The
      // index persists cluster-partitioned (the deployment shape), so
      // each probe count scans only its pruned partitions.
      val ivfSweepDir = s"$dir-ivfsweep"
      val kSweep = math.max(64, math.sqrt(n.toDouble).toInt)
      def writeIvfSweep(): Unit = {
        // short-Lloyd budget (the splitMaxIter precedent): lists need to
        // PARTITION the space, not converge; 100k-sample training at
        // k=sqrt(10M) would otherwise dominate the probe untimed
        val (a, m) = Ivf.build(df, "embedding", kSweep, maxIter = 25)
        Ivf.writePartitioned(a, ivfSweepDir)
        Ivf.save(m, s"$ivfSweepDir-model")
      }
      tp("ivf_recall_sweep") { ensure(ivfSweepDir)(writeIvfSweep()); recallExact } {
        val m = Ivf.load(spark, s"$ivfSweepDir-model", "embedding")
        val table = spark.read.parquet(ivfSweepDir)
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        // 10 first: the API default — the row that decides whether
        // searchApi may pass n_probe through unscaled; then the probed
        // FRACTIONS a scale rule would hold (1%, ~3%, 10% of k)
        val probes = (Seq(10) ++
          Seq(kSweep / 100, kSweep / 32, kSweep / 10).map(math.max(_, 1)))
          .distinct.sorted
        probes.foreach { np =>
          val t0 = System.nanoTime()
          val good = qs.count { case (qid, qv) =>
            val got = Ivf.search(table, m, "id", qv, np, 10)
              .select("id").collect().map(_.getLong(0)).toSet
            got.intersect(exact(qid)).size / 10.0 >= 0.6
          }
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"        ivf recall [k=$kSweep] n_probe=$np%-5d (${np * 100.0 / kSweep}%4.1f%% of lists) $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }

      // task #7 decade study — k GROWING FASTER than sqrt(N): a
      // 10*sqrt(N)-list index at the same corpus. The cross-decade
      // sweeps show the recall gate tracks the probed LIST COUNT
      // (~100 lists = edge, ~300+ = pass at 1M/10M/100M with k =
      // sqrt(N)); if that holds when the list geometry densifies
      // (here: 10x the lists, per-list occupancy sqrt(N)/10), then a
      // fixed list-count probe scans a FALLING corpus fraction — the
      // measured basis for scaledNProbe's 10*sqrt(k) arm beyond the
      // 100M anchor. Short-Lloyd build (lists partition, they need
      // not converge).
      val ivfOverDir = s"$dir-ivfover"
      val kOver = math.max(640, 10 * math.sqrt(n.toDouble).toInt)
      def writeIvfOver(): Unit = {
        val (a, m) = Ivf.build(df, "embedding", kOver, maxIter = 10)
        Ivf.writePartitioned(a, ivfOverDir)
        Ivf.save(m, s"$ivfOverDir-model")
      }
      tp("ivf_recall_overlists") { ensure(ivfOverDir)(writeIvfOver()); recallExact } {
        val m = Ivf.load(spark, s"$ivfOverDir-model", "embedding")
        val table = spark.read.parquet(ivfOverDir)
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        // include the deployment rule's own pick (the 10·√k arm binds
        // here once kOver > 10⁴ — this row is the rule's direct test)
        val probes = (Seq(100, 316, 1000, kOver / 10) :+
            Ivf.scaledNProbe(10, kOver))
          .map(math.min(_, kOver)).distinct.sorted
        probes.foreach { np =>
          val t0 = System.nanoTime()
          val good = qs.count { case (qid, qv) =>
            val got = Ivf.search(table, m, "id", qv, np, 10)
              .select("id").collect().map(_.getLong(0)).toSet
            got.intersect(exact(qid)).size / 10.0 >= 0.6
          }
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"        ivf overlists [k=$kOver] n_probe=$np%-5d (${np * 100.0 / kOver}%5.2f%% of lists, ${np * 100.0 / kOver / 10}%5.3f%% of corpus) $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }

      // round-15: the HIERARCHICAL two-level quantizer at the same
      // 10·√N over-dense geometry as ivf_recall_overlists — the build
      // path that stays feasible when the flat driver fit hits its
      // ceiling. Same corpus, same k, same probe settings as the flat
      // overlists sweep, so the two recall tables compare the
      // QUANTIZER QUALITY (flat Lloyd's vs super+child two-level)
      // apples-to-apples; the build row measures the wall the two-level
      // decomposition buys.
      val ivfHierDir = s"$dir-ivfhier"
      var hierModel: Ivf.HierModel = null
      def hierM(): Ivf.HierModel = {
        if (hierModel == null) {
          if (new java.io.File(s"$ivfHierDir-model", "_SUCCESS").exists())
            hierModel = Ivf.loadHier(spark, s"$ivfHierDir-model",
              s"$ivfHierDir-supers", "embedding")
          else {
            val (a, m) = Ivf.buildHier(df, "embedding", kOver, maxIter = 25)
            Ivf.writePartitioned(a, ivfHierDir)
            Ivf.saveHier(m, s"$ivfHierDir-model", s"$ivfHierDir-supers")
            hierModel = m
          }
        }
        hierModel
      }
      t("ivf_hier_build") { val m = hierM(); println(
        s"        hier build: target k=$kOver achieved k=${m.k} (k1=${m.k1})")
        m.k.toLong }
      tp("ivf_hier_recall") { hierM(); recallExact } {
        val m = hierM()
        val flat = m.flat
        val table = spark.read.parquet(ivfHierDir)
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        val probes = (Seq(100, 316, 1000, m.k / 10) :+
            Ivf.scaledNProbe(10, m.k))
          .map(x => math.min(math.max(x, 1), m.k)).distinct.sorted
        probes.foreach { np =>
          val t0 = System.nanoTime()
          val good = qs.count { case (qid, qv) =>
            val got = Ivf.search(table, flat, "id", qv, np, 10)
              .select("id").collect().map(_.getLong(0)).toSet
            got.intersect(exact(qid)).size / 10.0 >= 0.6
          }
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"        ivf hier [k=${m.k}] n_probe=$np%-5d (${np * 100.0 / m.k}%5.2f%% of lists) $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }
      // assignment-cost rows: the per-row argmin bill is the hierarchy's
      // second win (O(2·√k·dim) vs O(k·dim)). Measured over a bounded
      // slice with synthetic centroid matrices (cost is geometry-
      // independent); flat at k=31620 = the largest flat-built decade.
      // flat at k=31620 measured 667 s PER MILLION ROWS (1M smoke) —
      // the slice is capped so the row stays a per-row-cost measurement,
      // not an hours-long reenactment of the cliff it documents
      val flatSliceN = math.min(n, 100000L)
      val hierSliceN = math.min(n, 10000000L)
      def synthCents(k: Int): Array[Array[Float]] =
        Array.tabulate(k)(j => Array.tabulate(64)(i =>
          (((j.toLong * 64 + i) % 10000L) / 10000.0).toFloat))
      t("ivf_assign_flat_k31620") {
        val slice = df.filter(col("id") < flatSliceN)
        Ivf.assign(slice, Ivf.Model(synthCents(31620), "embedding"))
          .agg(sum(col(Ivf.ClusterCol).cast("long"))).head.getLong(0)
        flatSliceN
      }
      t(s"ivf_assign_hier_k$kOver") {
        val slice = df.filter(col("id") < hierSliceN)
        val m = hierM()
        Ivf.assignHier(slice, m)
          .agg(sum(col(Ivf.ClusterCol).cast("long"))).head.getLong(0)
        hierSliceN
      }
      // the NEXT decade's geometry (k = 10·√1e9 ≈ 316k — the config the
      // flat build THROWS on: k > sampleSize): prove the two-level path
      // builds it and assigns through it at full corpus width. Recall
      // at the truly binding 1B-row decade needs ~250 GB of corpus —
      // disk-bound here; the k=10⁵-on-100M sweep above (same over-
      // density, one decade earlier) is the nearest measurable anchor.
      t("ivf_hier_build_316k") {
        val (a, m) = Ivf.buildHier(df, "embedding", 316228, maxIter = 25)
        println(s"        hier 316k: achieved k=${m.k} (k1=${m.k1})")
        // force the full-corpus two-level assignment scan (no persist —
        // a 316k-dir partitioned write is a file-count bill this probe
        // doesn't need to measure recall)
        a.agg(max(col(Ivf.ClusterCol))).head
        m.k.toLong
      }

      // SERVE-side hierarchy (r16): per-query probe-rank cost and
      // driver-resident bytes, hier vs flat, at the 1B-rule geometry
      // (k = 316k) and the 100 TB north star (k = 10⁶, dim 384).
      // Centroid VALUES don't affect rank cost (same flop count per
      // centroid either way), so the models are synthetic — this probe
      // measures the driver-side ranking bill, not recall (recall is
      // ivf_hier_recall_hierrank below, on the real corpus model).
      def synthHier(k: Int, dim: Int): Ivf.HierModel = {
        val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
        val sizes = Array.tabulate(k1)(g => k / k1 + (if (g < k % k1) 1 else 0))
        Ivf.HierModel(
          Array.tabulate(k1)(g => Array.tabulate(dim)(i =>
            (((g.toLong * dim + i) % 10000L) / 10000.0).toFloat)),
          Array.tabulate(k1)(g => Array.tabulate(sizes(g))(j =>
            Array.tabulate(dim)(i =>
              ((((g.toLong * 131 + j) * dim + i) % 10000L) / 10000.0).toFloat))),
          "embedding")
      }
      def usedHeap(): Long = {
        System.gc(); Thread.sleep(200); System.gc()
        Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
      }
      def rankCostRow(k: Int, dim: Int, alsoFlat: Boolean): Unit = {
        val m = synthHier(k, dim)
        val np = Ivf.scaledNProbe(10, m.k) // the 10·√k serve arm
        val qv = Array.tabulate(dim)(i => (i % 100) / 100.0f).toSeq
        val h0 = usedHeap()
        var s = 0
        val reps = 20
        var t0 = System.nanoTime()
        (0 until reps).foreach { r =>
          s += Ivf.probeClustersHier(m, qv, np).length + r }
        val hierUs = (System.nanoTime() - t0) / 1e3 / reps
        val hHier = usedHeap() - h0
        if (alsoFlat) {
          val flat = m.flat // materializes the second driver copy
          val hFlat = usedHeap() - h0
          t0 = System.nanoTime()
          (0 until reps).foreach { r =>
            s += Ivf.probeClusters(flat, qv, np).length + r }
          val flatUs = (System.nanoTime() - t0) / 1e3 / reps
          println(f"        probe_rank k=${m.k} dim=$dim n_probe=$np: hier $hierUs%.0f us/q vs flat $flatUs%.0f us/q (${flatUs / hierUs}%.1fx); extra driver heap after .flat ${hFlat / 1e6}%.0f MB (shallow ref array — the flat view's cost is the O(k*dim) scan, not bytes; grouped-only delta ${hHier / 1e6}%.0f MB)")
        } else
          println(f"        probe_rank k=${m.k} dim=$dim n_probe=$np: hier $hierUs%.0f us/q, grouped-model heap delta ${hHier / 1e6}%.0f MB (flat ranking skipped: ~10^9 flops/query at this geometry)")
        require(s != 0) // keep the JIT honest
      }
      t("ivf_probe_rank_316k") { rankCostRow(316228, 64, alsoFlat = true); 316228L }
      t("ivf_probe_rank_1m_d384") { rankCostRow(1000000, 384, alsoFlat = false); 1000000L }

      // LAZY serve model (r17, the r16 driver-residency perf-weak): at
      // the 100 TB geometry the driver must NOT hold all k children.
      // Persist the synthetic k=10⁶/dim=384 model distributed (the
      // driver never materializes the child table), open it through
      // Ivf.openHier, and probe: every query's picked lists must equal
      // the in-memory model's bit-for-bit while resident child-block
      // bytes stay under the LRU budget — bounded by the picked set,
      // not by k.
      t("ivf_lazy_model_1m_d384") {
        val dim = 384; val k = 1000000
        val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
        val sizes = Array.tabulate(k1)(g => k / k1 + (if (g < k % k1) 1 else 0))
        val offsets = sizes.scanLeft(0)(_ + _).init
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_lazy_hier").toString
        // child table written from executors — same synthetic formula
        // as synthHier, so float payloads are bit-identical
        locally {
          import spark.implicits._
          val bSizes = spark.sparkContext.broadcast(sizes)
          val bOffsets = spark.sparkContext.broadcast(offsets)
          spark.range(k1).as[Long].mapPartitions { gs =>
            gs.map(_.toInt).flatMap { g =>
              (0 until bSizes.value(g)).iterator.map { j =>
                (bOffsets.value(g) + j,
                  Array.tabulate(dim)(i =>
                    ((((g.toLong * 131 + j) * dim + i) % 10000L) / 10000.0).toFloat).toSeq,
                  g)
              }
            }
          }.toDF("centroid_id", "centroid", "super_id")
            .write.mode("overwrite").parquet(s"$tmp/model")
          Array.tabulate(k1)(g => (g, Array.tabulate(dim)(i =>
              (((g.toLong * dim + i) % 10000L) / 10000.0).toFloat).toSeq))
            .toSeq.toDF("super_id", "centroid")
            .coalesce(1).write.mode("overwrite").parquet(s"$tmp/supers")
        }
        val budget = 256L * 1024 * 1024
        val lazyM = Ivf.openHier(spark, s"$tmp/model", s"$tmp/supers",
          "embedding", budget)
        require(lazyM.isInstanceOf[Ivf.LazyHierModel], "expected lazy route")
        val lm = lazyM.asInstanceOf[Ivf.LazyHierModel]
        val eager = synthHier(k, dim)
        val np = Ivf.scaledNProbe(10, k) // the 10·√k serve arm
        val full = k.toLong * dim * 4
        var coldUs = 0.0; var warmUs = 0.0
        val nq = 10
        (0 until nq).foreach { qi =>
          val qv = Array.tabulate(dim)(i => ((i * 31 + qi * 977) % 100) / 100.0f).toSeq
          var t0 = System.nanoTime()
          val gotCold = Ivf.probeClustersHier(lazyM, qv, np)
          coldUs += (System.nanoTime() - t0) / 1e3
          t0 = System.nanoTime()
          val gotWarm = Ivf.probeClustersHier(lazyM, qv, np)
          warmUs += (System.nanoTime() - t0) / 1e3
          val want = Ivf.probeClustersHier(eager, qv, np)
          require(gotCold == want && gotWarm == want,
            s"lazy probe diverged from in-memory at query $qi")
          require(lm.residentBytes <= budget,
            s"resident ${lm.residentBytes} exceeds budget $budget")
        }
        println(f"        lazy_model k=$k dim=$dim n_probe=$np: resident ${lm.residentBytes / 1e6}%.0f MB (budget ${budget / 1e6}%.0f MB, full model ${full / 1e6}%.0f MB) — bounded by picked blocks, NOT k; cold ${coldUs / nq / 1000}%.1f ms/q (includes block-load read) vs warm ${warmUs / nq / 1000}%.1f ms/q; probed lists == in-memory model on $nq/$nq queries")
        k.toLong
      }

      // recall re-gate for the HIERARCHICAL probe ranking (same corpus
      // model, same queries/ground truth as ivf_hier_recall, which ranks
      // through the flat view): the 10·√k arm must still pass the
      // ≥0.6@10-on-≥7/10 gate, and the β margin sweep records how much
      // super over-coverage that takes (Ivf.HierProbeBeta provenance).
      tp("ivf_hier_recall_hierrank") { hierM(); recallExact } {
        val m = hierM()
        val table = spark.read.parquet(ivfHierDir)
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        val np = math.min(Ivf.scaledNProbe(10, m.k), m.k)
        Seq(1.0, 2.0, 4.0, 8.0).foreach { beta =>
          val t0 = System.nanoTime()
          val good = qs.count { case (qid, qv) =>
            val probed = Ivf.probeClustersHier(m, qv, np, beta)
            val got = Search.knnExact(
                table.filter(col(Ivf.ClusterCol).isin(probed: _*)),
                "id", "embedding", qv, 10)
              .select("id").collect().map(_.getLong(0)).toSet
            got.intersect(exact(qid)).size / 10.0 >= 0.6
          }
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"        hier-rank [k=${m.k}] n_probe=$np beta=$beta%.1f $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }

      // skew hardening: 90% of rows in one tight blob — buildBalanced
      // recursively splits the hot list below the fraction cap, so
      // partition pruning keeps pruning and the knnJoinIvf shuffle
      // stays balanced. Reported rows = post-split max cluster size.
      t("ivf_build_balanced_skew") {
        val skew = spark.range(n).select(col("id"),
          when(col("id") % 10 < 9,
            transform(sequence(lit(0), lit(63)), i =>
              (lit(0.5) + pmod(xxhash64(col("id") * 64 + i), lit(100)) / 2000.0)
                .cast("float")))
            .otherwise(transform(sequence(lit(0), lit(63)), i =>
              (pmod(xxhash64(col("id") * 64 + i), lit(10000)) / 1000.0)
                .cast("float")))
            .as("embedding"))
        val (a, m) = Ivf.buildBalanced(skew, "embedding", 64,
          maxClusterFraction = 0.01)
        val mx = a.groupBy(Ivf.ClusterCol).count()
          .agg(max("count")).head.getLong(0)
        println(s"        balanced skew: k=${m.k} max_cluster=$mx")
        mx
      }
      var cb: Pq.Codebook = null
      // name-filtered runs may skip the timed train — stored-code probes
      // then build the codebook on demand (untimed), like ivfModel()
      def pqCodebook(): Pq.Codebook = {
        if (cb == null) cb = Pq.train(df, "embedding", 64, 8, 256)
        cb
      }
      t("pq_train_8x256") { pqCodebook(); cb.k.toLong }
      // full encode persisted once (the pipeline shape: encode is a build
      // step; searches run over stored codes)
      val codesDir = s"$dir-codes"
      def writePqCodes(): Unit =
        Pq.encode(df, "embedding", pqCodebook()).select("id", "pq_code")
          .write.mode("overwrite").parquet(codesDir)
      t("pq_encode_persist") { writePqCodes(); n }
      // lazy: the parquet read resolves its schema eagerly, so an
      // unconditional val fails a name-filtered run that never wrote it
      lazy val codes = { ensure(codesDir)(writePqCodes()); spark.read.parquet(codesDir) }
      tp("pq_adc_top10_stored") { codes; pqCodebook() }(
        Pq.adcSearch(codes, "id", "pq_code", pqCodebook(), q, 10).count())

      // PQ tier recall at corpus scale, pure ADC vs ADC→exact-rerank
      // (same ≥0.6@10 on ≥7/10 yardstick as the other tier sweeps).
      // Stored codes carry no floats (the 32× win), so the rerank stage
      // point-joins the shortlist back to the corpus — the
      // VectorStore.searchIvfPq deployment shape.
      tp("pq_recall_sweep") { codes; pqCodebook(); recallExact } {
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        // fixed windows plus √N-scaled ones (the BQ sweep's measured
        // growth shape — the candidates for a scaled default)
        (Seq(0, 30, 100, 300, 1000) ++
          Seq(math.sqrt(n.toDouble).toInt, 3 * math.sqrt(n.toDouble).toInt))
          .distinct.sorted.foreach { w =>
          val t0 = System.nanoTime()
          val good = qs.count { case (qid, qv) =>
            val ids =
              if (w == 0)
                Pq.adcSearch(codes, "id", "pq_code", pqCodebook(), qv, 10)
                  .select("id").collect().map(_.getLong(0)).toSet
              else {
                val short = Pq.adcSearch(codes, "id", "pq_code",
                  pqCodebook(), qv, w).select("id")
                Search.knnExact(df.join(short, "id"), "id", "embedding",
                    qv, 10)
                  .select("id").collect().map(_.getLong(0)).toSet
              }
            ids.intersect(exact(qid)).size / 10.0 >= 0.6
          }
          val dt = (System.nanoTime() - t0) / 1e9
          val tag = if (w == 0) "pure-adc" else s"rerank=$w"
          println(f"        pq recall [$tag%-11s] $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }

      // BQ tier: train-free encode persisted once; Hamming screen and
      // screen+rerank run over stored 2-long codes (32x smaller scans)
      val bqDir = s"$dir-bqcodes"
      def writeBqCodes(): Unit =
        graft.operators.Bq.encode(df, "embedding")
          .select("id", "embedding", "bq_code")
          .write.mode("overwrite").parquet(bqDir)
      t("bq_encode_persist") { writeBqCodes(); n }
      lazy val bqCodes = { ensure(bqDir)(writeBqCodes()); spark.read.parquet(bqDir) }
      tp("bq_hamming_top10_stored") { bqCodes }(
        graft.operators.Bq.hammingSearch(bqCodes, "id", "bq_code", q, 10).count())
      tp("bq_rerank_top10_w300") { bqCodes }(
        graft.operators.Bq.rerankSearch(bqCodes, "id", "bq_code", "embedding",
          q, 10, 300).count())

      // BQ default rerank-window recall at corpus scale, both encodings,
      // against the same recall yardstick as the IVF/HNSW sweeps
      // (≥ 0.6@10 on ≥ 7/10 queries). This corpus is [0,1)-uniform —
      // all-positive, the shape of count embeddings / ReLU features —
      // which is exactly where zero-threshold sign bits pack a CONSTANT
      // code and the Hamming screen is blind (measured: 0/10 at every
      // window up to 300×k). Centered BQ (range-midpoint thresholds,
      // Bq.trainThresholds — one order-free stats pass) is the fix the
      // measurement motivated; its rows show what the 1-bit sketch can
      // actually hold at each rerank multiplier.
      val bqcDir = s"$dir-bqcodes-centered"
      lazy val bqThresh =
        graft.operators.Bq.trainThresholds(df, "embedding").toSeq
      def writeBqCentered(): Unit =
        graft.operators.Bq.encode(df, "embedding", thresholds = bqThresh)
          .select("id", "embedding", "bq_code")
          .write.mode("overwrite").parquet(bqcDir)
      lazy val bqcCodes = { ensure(bqcDir)(writeBqCentered()); spark.read.parquet(bqcDir) }
      tp("bq_recall_sweep") { bqCodes; bqcCodes; recallExact } {
        val qs = recallQs
        val exact = recallExact
        var best = 0L
        Seq(("zero-thresh", bqCodes, Nil: Seq[Double]),
            ("centered", bqcCodes, bqThresh)).foreach { case (tag, codes, th) =>
          // fixed multipliers of k plus N-proportional windows — the 1M
          // run showed the gate needs ~0.1% of the corpus, so the rule
          // under test is fraction-of-N, not multiple-of-k. Floor at 3k:
          // a small-n smoke run's proportional windows must not violate
          // rerankSearch's rerank >= k contract
          (Seq(30, 100, 300, 1000, 3000) ++
            Seq(n / 1000, 3 * n / 1000).map(v => math.max(v.toInt, 30)))
            .distinct.sorted.foreach { w =>
            val t0 = System.nanoTime()
            val good = qs.count { case (qid, qv) =>
              val got = graft.operators.Bq.rerankSearch(codes, "id",
                  "bq_code", "embedding", qv, 10, w, thresholds = th)
                .select("id").collect().map(_.getLong(0)).toSet
              got.intersect(exact(qid)).size / 10.0 >= 0.6
            }
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"        bq recall [$tag] rerank=$w%-5d (${w / 10}x k) $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
            best = math.max(best, good.toLong)
          }
        }
        best
      }

      // HNSW tier: per-partition graphs persisted once (the pipeline
      // shape: build is a maintenance step, searches run over stored
      // edges), then beam search + exact (dist, id) merge. m=8/efC=50 —
      // the stream-maintenance path's params. Per-partition memory at
      // 10M/32 parts: ~312k vectors x (256 B emb + ~2x8 edges x 8 B)
      // ≈ 110 MB per task — the documented graph-memory knob is
      // numPartitions.
      val hnswDir = s"$dir-hnswedges"
      val hnswParams = graft.operators.Hnsw.Params(m = 8, efConstruction = 50)
      val hnswParts = 32
      def writeHnswEdges(): Unit =
        graft.operators.Hnsw.buildEdges(df, "id", "embedding", hnswParams,
            hnswParts)
          .write.mode("overwrite").parquet(hnswDir)
      t("hnsw_build_edges_m8") { writeHnswEdges(); n }
      lazy val hnswEdges = {
        ensure(hnswDir)(writeHnswEdges()); spark.read.parquet(hnswDir)
      }
      tp("hnsw_search_ef100") { hnswEdges }(
        graft.operators.Hnsw.searchEdges(hnswEdges, df, "id", "embedding",
          Seq((0L, q.toArray)), k = 10, ef = 100,
          numPartitions = hnswParts, params = hnswParams).count())
      // round-15 facade-parity row: the same single query WITHOUT a
      // persisted graph — per-shard graphs rebuilt from scratch inside
      // the call, the shape VectorStore.searchHnsw paid on EVERY query
      // before buildHnsw existed. The ratio of this wall to
      // hnsw_search_ef100's is the persisted-serving win.
      t("hnsw_rebuild_1q_ef100")(
        graft.operators.Hnsw.search(df, "id", "embedding", q, k = 10,
          ef = 100, params = hnswParams).count())

      // batched: the per-call cost is the vectors⊳⊲edges cogroup +
      // per-shard graph reconstruct, NOT the beam — so queries must be
      // batched into one call (the searchBatch shape); this probe pins
      // the amortization (expect ≈ the 1-query wall, ~100× cheaper
      // per query)
      tp("hnsw_search_100q_ef100") { hnswEdges } {
        val qs = df.filter(col("id") < 100).select("id", "embedding")
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        graft.operators.Hnsw.searchEdges(hnswEdges, df, "id", "embedding",
          qs, k = 10, ef = 100,
          numPartitions = hnswParts, params = hnswParams).count()
      }
      // the reference's core ANN acceptance (test_hnsw.py:141-153:
      // recall ≥ 0.7 on ≥ 80% of queries) measured AT CORPUS SCALE, not
      // toy N: 10 queries, recall@10 vs exact kNN, ef sweep — beam
      // width and build params are the two quality knobs on the
      // uniform-random corpus (the distance-concentration worst case
      // for graph ANN; the m=8/efC=50 maintenance config that is fine
      // at bench N degrades here, which is WHY the gate is measured)
      def recallSweep(edges: => org.apache.spark.sql.DataFrame,
                      p: graft.operators.Hnsw.Params, tag: String): Long = {
        val qs = df.filter(col("id") < 10).select("id", "embedding")
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        val exact = qs.map { case (qid, qv) =>
          qid -> Search.knnExact(df, "id", "embedding", qv.toSeq, 10)
            .select("id").collect().map(_.getLong(0)).toSet
        }.toMap
        var best = 0L
        // ef=50 first: the API default (GraftConfig.ef mirrors
        // api/models.py:19) — the configuration every defaults-taking
        // user actually runs, so the gate row it produces is the one
        // that decides whether searchApi may pass ef through unscaled
        Seq(50, 100, 200, 400).foreach { ef =>
          val t0 = System.nanoTime()
          val got = graft.operators.Hnsw.searchEdges(edges, df, "id",
              "embedding", qs, k = 10, ef = ef,
              numPartitions = hnswParts, params = p)
            .select("query_id", "id").collect().groupBy(_.getLong(0))
            .view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val rec = qs.map { case (qid, _) =>
            got.getOrElse(qid, Set.empty).intersect(exact(qid)).size / 10.0 }
          val good = rec.count(_ >= 0.7)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"        hnsw recall [$tag] ef=$ef%-4d $good/10 queries >= 0.7@10, mean=${rec.sum / rec.size}%.2f, $dt%.1f s  ${if (good >= 8) "GATE PASS" else "gate miss"}")
          best = math.max(best, good.toLong)
        }
        best
      }
      tp("hnsw_recall_sweep_m8") { hnswEdges }(
        recallSweep(hnswEdges, hnswParams, "m8/efC50"))

      // quality-parameter graphs (the reference's defaults m=16/
      // efC=200) — the recall-gate configuration; build timed
      // separately so the build-cost ↔ recall trade is two recorded
      // rows, not a guess
      val hnswQDir = s"$dir-hnswedges-q"
      val hnswQParams = graft.operators.Hnsw.Params(m = 16,
        efConstruction = 200)
      def writeHnswQ(): Unit =
        graft.operators.Hnsw.buildEdges(df, "id", "embedding", hnswQParams,
            hnswParts)
          .write.mode("overwrite").parquet(hnswQDir)
      t("hnsw_build_edges_m16") { writeHnswQ(); n }
      lazy val hnswQEdges = {
        ensure(hnswQDir)(writeHnswQ()); spark.read.parquet(hnswQDir)
      }
      tp("hnsw_recall_sweep_m16") { hnswQEdges }(
        recallSweep(hnswQEdges, hnswQParams, "m16/efC200"))

      // greedy k-center: k sequential passes over the persisted
      // (id, emb, md) projection — the probe pins the per-round cost as
      // linear-in-n (one distance per row per round + an argmax top-1)
      t("kcenter_k8") {
        graft.operators.Diversity.kCenter(df, "id", "embedding", 8).count()
      }

      // the large-k composition: one assignment pass + one cell shuffle,
      // every cell's greedy runs in parallel under a mass-proportional
      // budget — wall ~flat in k where the global greedy is k
      // sequential driver rounds (k=512 would be ~75 min above)
      tp("kcenter_cells_k512") { ivfModel() }(
        graft.operators.Diversity.kCenterPerCell(df, "id", "embedding", 512,
          ivfModel()).count())

      // PCA second moment at dim 64: the dim²-per-row expansion is the
      // cost model's worst term (64² = 4096 products/row) — measured
      // here so the "sample rows, don't shrink dim" scaladoc guidance
      // carries a number; the power iteration after it is driver-local
      // on 32 KB and free
      t("pca_second_moment_d64")(
        graft.operators.Pca.secondMoment(df, col("embedding"), 64).count())

      // the documented scale play measured: the same exact aggregation
      // over the deterministic md5 quarter-sample — statistically the
      // same component at 1/4 the explode cost, still oracle-replayable
      t("pca_second_moment_d64_sampled")(
        graft.operators.Pca.secondMoment(
          graft.operators.Sampling.hashFraction(df, "id", 0.25, "pca"),
          col("embedding"), 64).count())

      // KMV sketch: bounded-state distinct estimate over all n ids
      t("kmv_sketch_k256")(
        graft.operators.Sketch.distinctEstimate(df, col("id"), 256).count())

      // batch kNN join: 100 query vectors against the full table, bounded-
      // heap map-side combine (the shuffle carries <= k x queries x parts)
      val queries = df.filter(col("id") < 100)
        .select(col("id").as("qid"), col("embedding").as("qemb"))
      t("knn_join_100q_top10")(
        Search.knnJoin(df, "id", "embedding", queries, "qid", "qemb", 10).count())

      // IVF-bucketed kNN join — the scale path the exact crossJoin
      // baseline needs: each query scans only its nProbe nearest
      // clusters (model reused from ivf_build_k64 above), so candidate
      // volume is |q| x n x (nProbe/k) instead of |q| x n
      tp("knn_join_ivf_100q_p4") { assigned }(
        Search.knnJoinIvf(assigned, ivfModel(), "id",
          queries, "qid", "qemb", k = 10, nProbe = 4).count())

      // hard-negative mining: 3 anchors × n corpus, label-mismatch
      // residual on the broadcast join, literal-k rank cut → partial
      // WindowGroupLimit (each map task forwards ≤ k rows per anchor)
      t("hard_negatives_3a_top5") {
        val lab = df.withColumn("label", pmod(col("id"), lit(16)).cast("int"))
        val anchors = lab.filter(col("id") < 3)
          .select(col("id").as("anchor_id"), col("embedding").as("ae"),
            col("label").as("alabel"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor_id").orderBy(col("sim").desc, col("id").asc)
        lab.join(broadcast(anchors), col("label") =!= col("alabel"))
          .select(col("anchor_id"), col("id"),
            graft.functions.VectorFunctions.cosine(col("embedding"), col("ae"))
              .as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).count()
      }

      // MMR rerank: the distributed stage is one exact top-100 cosine
      // cut (TakeOrderedAndProject heap — no corpus shuffle); the
      // greedy loop runs driver-side on the bounded candidate set
      t("mmr_rerank_c100_k10")(
        graft.operators.Diversity.mmrRerank(df, "id", "embedding", q.toArray,
          nCandidates = 100, k = 10, lambda = 0.5).count())

      // SQ8 tier: exact min/max train (one explode + 64-group agg), encode
      // persisted, ADC over stored codes (scan-only)
      var sqm: graft.operators.Sq.Model = null
      def sqModel(): graft.operators.Sq.Model = {
        if (sqm == null) sqm = graft.operators.Sq.train(df, "embedding")
        sqm
      }
      t("sq8_train_minmax") { sqModel().dim.toLong }
      val sqDir = s"$dir-sqcodes"
      def writeSqCodes(): Unit =
        graft.operators.Sq.encode(df, "embedding", sqModel())
          .select("id", "sq_code").write.mode("overwrite").parquet(sqDir)
      t("sq8_encode_persist") { writeSqCodes(); n }
      lazy val sqCodes = { ensure(sqDir)(writeSqCodes()); spark.read.parquet(sqDir) }
      tp("sq8_adc_top10_stored") { sqCodes; sqModel() }(
        graft.operators.Sq.adcSearch(sqCodes, "id", "sq_code", sqModel(), q, 10).count())

      // SQ8 tier recall at corpus scale (same yardstick as the other
      // tier sweeps): 8 bits/dim keeps per-dim error at 1/255 of the
      // occupied range, so unlike PQ's 8-bits-per-8-dims this tier's
      // pure-ADC ranking is expected to hold without a rerank stage —
      // this probe is the measured check on that expectation.
      tp("sq_recall_sweep") { sqCodes; sqModel(); recallExact } {
        val qs = recallQs
        val exact = recallExact
        val t0 = System.nanoTime()
        val good = qs.count { case (qid, qv) =>
          val got = graft.operators.Sq.adcSearch(sqCodes, "id", "sq_code",
              sqModel(), qv, 10)
            .select("id").collect().map(_.getLong(0)).toSet
          got.intersect(exact(qid)).size / 10.0 >= 0.6
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"        sq recall [pure-adc] $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
        good.toLong
      }

      // LSH tier recall at corpus scale (o3_lsh_search's config: 16
      // tables × 8 bits, probeBits=2). Unlike the probe-budget tiers
      // (HNSW beam, IVF lists, BQ/PQ windows), hyperplane LSH's recall
      // is governed by the per-neighbor bucket-collision probability —
      // a function of ANGLE, not corpus size — so the fixed default is
      // EXPECTED to hold as N grows (the candidate set grows, but the
      // exact rerank absorbs it). This probe is the measured check on
      // the one tier whose defaults should NOT need scaling.
      val lshDir = s"$dir-lshsigs"
      lazy val lshModel =
        graft.operators.Lsh.fitBanded(dim = 64, bitsPerTable = 8, nTables = 16)
      def writeLshSigs(): Unit =
        graft.operators.Lsh.assign(df, "embedding", lshModel)
          .write.mode("overwrite").parquet(lshDir)
      lazy val lshSigs = { ensure(lshDir)(writeLshSigs()); spark.read.parquet(lshDir) }
      tp("lsh_recall_sweep") { lshSigs; recallExact } {
        val qs = recallQs
        val exact = recallExact
        val t0 = System.nanoTime()
        val good = qs.count { case (qid, qv) =>
          val got = graft.operators.Lsh.search(lshSigs, lshModel, "id",
              "embedding", qv, k = 10, probeBits = 2)
            .select("id").collect().map(_.getLong(0)).toSet
          got.intersect(exact(qid)).size / 10.0 >= 0.6
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"        lsh recall [16x8b probe2] $good/10 queries >= 0.6@10, $dt%.1f s  ${if (good >= 7) "GATE PASS" else "gate miss"}")
        good.toLong
      }

      // facade per-query bill, before vs after trainLsh(): the on-scan
      // path re-derives every row's 128 plane dots per call (the
      // measured 10M bill that motivated persistence); the persisted
      // path filters a (id, sigs) table ~70 B/row and point-joins only
      // the candidates back for the exact rerank
      val lshSigOnlyDir = s"$dir-lshsigsonly"
      tp("lsh_facade_onscan_1q") { () } {
        graft.operators.Lsh.search(
          graft.operators.Lsh.assign(df, "embedding", lshModel),
          lshModel, "id", "embedding", q, 10, 2).count()
      }
      tp("lsh_facade_persisted_1q") {
        ensure(lshSigOnlyDir)(
          lshSigs.select("id", graft.operators.Lsh.SigsCol)
            .write.mode("overwrite").parquet(lshSigOnlyDir))
      } {
        val cand = spark.read.parquet(lshSigOnlyDir)
          .filter(graft.operators.Lsh.probeCondition(lshModel, q, 2))
          .select("id")
        Search.knnExact(df.join(cand, "id"), "id", "embedding", q, 10).count()
      }

      // IVF-PQ composite over the stored corpus: residual encode persisted
      // cluster-partitioned, then two-stage search over codes only
      val ivfpqDir = s"$dir-ivfpq"
      var ipModel: graft.operators.IvfPq.Model = null
      def ipSetup(): Unit = if (ipModel == null) {
        val (enc, m) = graft.operators.IvfPq.build(df, "embedding",
          kClusters = 64, chunks = 8, kCodes = 256)
        ipModel = m
        // deterministic build → a dir persisted by a previous run holds
        // the same codes; only write when missing
        ensure(ivfpqDir)(
          Ivf.writePartitioned(enc.select("id", Ivf.ClusterCol, "pq_code"),
            ivfpqDir))
      }
      t("ivfpq_build_encode_persist") {
        val (enc, m) = graft.operators.IvfPq.build(df, "embedding",
          kClusters = 64, chunks = 8, kCodes = 256)
        ipModel = m
        Ivf.writePartitioned(enc.select("id", Ivf.ClusterCol, "pq_code"),
          ivfpqDir)
        n
      }
      lazy val ipCodes = { ipSetup(); spark.read.parquet(ivfpqDir) }
      tp("ivfpq_adc_top10_probe4") { ipCodes }(
        graft.operators.IvfPq.search(ipCodes, ipModel, "id", q, 4, 10).count())

      // SemDeDup over the 1M corpus: within-cluster pair work is
      // ~ n²/(2k), so k MUST scale with n — the paper sizes k ≈ n/1000
      // (measured: k=256 → 3 906-row clusters → 210 s of pair cosines;
      // k=1024 → ~977-row clusters → 75 s). The short Lloyd budget is
      // the ANN-practice norm (centroids partition, they don't have to
      // converge); maxIter=100 at k=1024 spends ~150 s in the driver
      // sample fit for no downstream gain. Near-isotropic synthetic
      // vectors yield few pairs, so this times cluster bucketing + pair
      // fan-out, not component/keeper work
      t("semdedup_k1024") {
        val (_, sdModel) = Ivf.build(df, "embedding", 1024, maxIter = 20)
        Dedup.semDedup(df, "id", "embedding", sdModel, threshold = 0.96).count()
      }

      // PageRank over a 2M-directed-edge ring-like graph, 3 iterations —
      // the distributed iterative path with decimal-routed sums
      val prEdges = spark.range(n).select(col("id").as("a"),
        pmod(col("id") * 48271L + 1L, lit(n)).as("b"))
        .filter(col("a") =!= col("b"))
      t("pagerank_1m_edges_3it")(DriverLocal.forcedDistributed(
        graft.operators.PageRank.run(prEdges, iters = 3).count()))

      // bucketed time-range join: n events x n/10 orders, 30-bucket window
      val evs = spark.range(n).select(col("id").as("eid"),
        pmod(col("id") * 2654435761L, lit(100000)).as("k"),
        (col("id") % 1000000L * 1000000L).as("tus"))
      val ords = spark.range(n / 10).select(col("id").as("oid"),
        pmod(col("id") * 40503L, lit(100000)).as("k"),
        (col("id") % 1000000L * 9999999L % 1000000000000L).as("rus"))
      t("range_join_agg")(
        RangeJoin.innerPairs(
            evs.withColumn("t", timestamp_micros(col("tus"))), "k", col("t"),
            ords.withColumn("rt", timestamp_micros(col("rus"))), "k", col("rt"),
            windowMicros = 3600L * 1000000L, payload = Seq("oid"))
          .groupBy("eid").agg(count(lit(1))).count())
    }

    if (layout) {
      // Z-order vs single-column sort vs unsorted: the same n rows with
      // two independent 20-bit dims + a fat payload, written 64 files
      // each way, then a 2-D box scan (1/16 of each dim ⇒ 1/256
      // selectivity). File/row-group min-max pruning can only serve the
      // box on BOTH dims under the z layout — x-sort prunes the x
      // predicate and scans every y, unsorted prunes nothing.
      val dim = 1 << 20
      val base = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(dim)).as("x"),
        pmod(xxhash64(col("id") + 7), lit(dim)).as("y"),
        md5(col("id").cast("string")).as("payload"))
      val plainDir = s"/tmp/graft_layout_plain_$n"
      val xDir = s"/tmp/graft_layout_xsort_$n"
      val zDir = s"/tmp/graft_layout_z_$n"
      def writePlain(): Long = {
        base.repartition(64).write.mode("overwrite").parquet(plainDir); n
      }
      def writeXsorted(): Long = {
        base.repartitionByRange(64, col("x")).sortWithinPartitions("x")
          .write.mode("overwrite").parquet(xDir); n
      }
      def writeZorder(): Long = {
        graft.operators.Layout.zorderBy(base, Seq(col("x"), col("y")),
          bits = 10, numFiles = 64).write.mode("overwrite").parquet(zDir); n
      }
      t("layout_write_unsorted")(writePlain())
      t("layout_write_xsorted")(writeXsorted())
      t("layout_write_zorder")(writeZorder())
      def boxScan(dir: String): Long = {
        val lo = dim / 2
        val hi = lo + dim / 16 - 1
        spark.read.parquet(dir)
          .filter(col("x").between(lo, hi) && col("y").between(lo, hi))
          .agg(count(lit(1)), sum(length(col("payload")))).head()
        spark.read.parquet(dir)
          .filter(col("x").between(lo, hi) && col("y").between(lo, hi))
          .count()
      }
      if (sel("layout_box_unsorted")) ensure(plainDir)(writePlain())
      if (sel("layout_box_xsorted")) ensure(xDir)(writeXsorted())
      if (sel("layout_box_zorder")) ensure(zDir)(writeZorder())
      t("layout_box_unsorted")(boxScan(plainDir))
      t("layout_box_xsorted")(boxScan(xDir))
      t("layout_box_zorder")(boxScan(zDir))

      // Bucketed co-located join vs shuffle join: two n-row facts
      // joined 1:1 on id. The plain join shuffles + sorts BOTH sides
      // every time it runs; writeBucketed pays one aligned shuffle at
      // write time and every later join is a per-bucket local merge
      // (zero Exchange, zero Sort — broadcast disabled so the probe
      // answers the 100 TB question, where neither side broadcasts).
      val factA = spark.range(n).select(col("id"),
        md5(col("id").cast("string")).as("payload"))
      val factB = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id") + 3), lit(1000)).as("v"))
      val plainA = s"/tmp/graft_bkt_a_$n"
      val plainB = s"/tmp/graft_bkt_b_$n"
      def writePlainFacts(): Long = {
        factA.repartition(64).write.mode("overwrite").parquet(plainA)
        factB.repartition(64).write.mode("overwrite").parquet(plainB); n
      }
      t("bktjoin_write_plain")(writePlainFacts())
      if (sel("bktjoin_shuffle_join")) ensure(plainA, plainB)(writePlainFacts())
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        t("bktjoin_shuffle_join") {
          spark.read.parquet(plainA).join(spark.read.parquet(plainB), "id")
            .agg(count(lit(1)), sum(col("v"))).head(); n
        }
        var bktA: org.apache.spark.sql.DataFrame = null
        var bktB: org.apache.spark.sql.DataFrame = null
        t("bktjoin_write_bucketed") {
          bktA = graft.operators.Layout.writeBucketed(factA, "probe_bkt_a", "id", 64)
          bktB = graft.operators.Layout.writeBucketed(factB, "probe_bkt_b", "id", 64)
          n
        }
        // on-demand when a name filter skipped the timed write
        def bA() = { if (bktA == null) bktA =
          graft.operators.Layout.writeBucketed(factA, "probe_bkt_a", "id", 64); bktA }
        def bB() = { if (bktB == null) bktB =
          graft.operators.Layout.writeBucketed(factB, "probe_bkt_b", "id", 64); bktB }
        t("bktjoin_colocated_join") {
          bA().join(bB(), "id").agg(count(lit(1)), sum(col("v"))).head(); n
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS probe_bkt_a")
        spark.sql("DROP TABLE IF EXISTS probe_bkt_b")
      }

      // AQE skew-join: half of fact A lands on ONE join key, so one
      // shuffle partition holds n/2 rows while the rest hold n/32 —
      // the straggler that serializes a 1000-executor join. AQE's
      // skew-join rule splits the hot partition into advisory-sized
      // chunks (duplicating the matching B rows per chunk) at runtime.
      // The byte thresholds are scaled DOWN to probe size (defaults
      // trigger at 256 MB — real at 100 TB, not at 10M rows); the
      // toggle isolates exactly the split's effect.
      val skewA = spark.range(n).select(
        when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val uniB = spark.range(n).select(col("id").as("k"),
        pmod(xxhash64(col("id") + 5), lit(1000)).as("v"))
      val skewDirA = s"/tmp/graft_skew_a_$n"
      val skewDirB = s"/tmp/graft_skew_b_$n"
      skewA.write.mode("overwrite").parquet(skewDirA)
      uniB.write.mode("overwrite").parquet(skewDirB)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      try {
        def skewJoin(): Long = {
          spark.read.parquet(skewDirA)
            .join(spark.read.parquet(skewDirB), "k")
            .agg(count(lit(1)), sum(col("v"))).head(); n
        }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t("skewjoin_aqe_off")(skewJoin())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t("skewjoin_aqe_on")(skewJoin())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
        spark.conf.unset(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }

    if (stream) {
      // Streaming state-machinery throughput at corpus scale: n synthetic
      // events (n/100 users, 30 days, view/click) replayed through the
      // REAL stateful operators — the bench-tier streaming queries run at
      // sf0.1 (~100k events); this measures the same plans at n. State is
      // watermark-bounded (windowed agg: 2h horizon; interval join:
      // rate × (delay + window)), so the claim under test is that
      // micro-batch cost tracks the BATCH volume, not the stream length.
      val sdir = s"/tmp/graft_stream_$n"
      val p = java.nio.file.Paths.get(sdir)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
      val users = math.max(n / 100L, 1L)
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        pmod(xxhash64(col("id")), lit(users)).as("user_id"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id") + 1), lit(30L * 86400L))).as("ts"),
        when(pmod(col("id"), lit(2)) === 0, lit("view"))
          .otherwise(lit("click")).as("event_type"))
      ev.repartition(4).write.mode("overwrite").parquet(s"$sdir/in")
      val schema = spark.read.parquet(s"$sdir/in").schema
      def readIn() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(s"$sdir/in")

      t("stream_windowed_counts") {
        val name = s"probe_wc_$n"
        val q = graft.streaming.StreamingIngest.windowedCounts(
            readIn().withColumn("value", lit(1L)), "ts", "event_type")
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val r = spark.table(name).count()
        spark.catalog.dropTempView(name)
        r
      }

      t("stream_interval_join") {
        val views = readIn().filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("ts").as("view_ts"))
        val clicks = readIn().filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("click_ts"))
        val name = s"probe_sj_$n"
        val q = graft.streaming.StreamJoin.intervalJoin(
            views, "v_user", "view_ts", clicks, "c_user", "click_ts",
            windowSec = 3600L, watermark = "35 days")
          .select(col("view_id"), col("click_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val r = spark.table(name).count()
        spark.catalog.dropTempView(name)
        r
      }

      // streaming near-dup maintenance at corpus scale: n docs with
      // planted dup groups (~5 docs per group, members spread across
      // the id range so pairs SPAN micro-batches), replayed as 5
      // flushes. The persisted state is the band index (never text);
      // the claim under test is that 5 incremental flushes cost a
      // bounded factor over the one-shot screen — not 5× the corpus
      // signature work
      def writeNdocs(): Unit = {
        val groups = math.max(n / 5L, 1L)
        spark.range(n).select(col("id"),
          concat_ws(" ", (0 until 12).map(j =>
            // group-determined text with one doc-salted tail token →
            // ~5-doc near-dup families, Jaccard ≈ 11/13 across members
            (if (j < 11)
               pmod(xxhash64(pmod(col("id"), lit(groups)) * 16 + j), lit(5000))
             else pmod(xxhash64(col("id")), lit(7))).cast("string")): _*)
            .as("text"))
          .repartition(5).write.mode("overwrite").parquet(s"$sdir/ndocs")
      }
      t("stream_neardup_5b") {
        writeNdocs()
        val sch = spark.read.parquet(s"$sdir/ndocs").schema
        val q = graft.streaming.StreamingIngest.nearDupMaintenance(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(s"$sdir/ndocs"),
          "id", "text", s"$sdir/ndwork", s"$sdir/ndckpt")
        q.awaitTermination()
        spark.read.parquet(s"$sdir/ndwork/pairs").distinct().count()
      }
      // the one-shot twin on the identical corpus — the overhead
      // denominator for the probe above; ensure() materializes the
      // planted corpus when a name filter skipped the 5-flush probe
      tp("stream_neardup_oneshot") { ensure(s"$sdir/ndocs")(writeNdocs()) } {
        Dedup.minhashLshPairs(spark.read.parquet(s"$sdir/ndocs"),
          "id", "text").count()
      }
      // state-hygiene twin: identical corpus/flushes with compactEvery=2
      // — pair count must match the uncompacted run, and the printed
      // file counts pin the small-file bound (window, not stream length)
      tp("stream_neardup_compact") { ensure(s"$sdir/ndocs")(writeNdocs()) } {
        def pf(d: String): Int = Option(new java.io.File(d).listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
        val sch = spark.read.parquet(s"$sdir/ndocs").schema
        graft.streaming.StreamingIngest.nearDupMaintenance(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(s"$sdir/ndocs"),
          "id", "text", s"$sdir/ndworkc", s"$sdir/ndckptc",
          compactEvery = 2).awaitTermination()
        println(s"        neardup state files (bands, pairs): " +
          s"uncompacted=(${pf(s"$sdir/ndwork/bands")}, ${pf(s"$sdir/ndwork/pairs")}), " +
          s"compacted=(${pf(s"$sdir/ndworkc/bands")}, ${pf(s"$sdir/ndworkc/pairs")})")
        spark.read.parquet(s"$sdir/ndworkc/pairs").distinct().count()
      }
      // retraction cost at corpus scale: drop 1% of docs from the
      // maintained band index (anti-join rewrite of the whole state) —
      // the delete path's bill is one state rewrite, independent of
      // how the deletion set was produced
      tp("stream_neardup_retract") {
        ensure(s"$sdir/ndocs")(writeNdocs())
        ensure(s"$sdir/ndworkc/bands") {
          Dedup.bandedSignatures(spark.read.parquet(s"$sdir/ndocs"),
              "id", "text", 8, 4, 3)
            .write.mode("overwrite").parquet(s"$sdir/ndworkc/bands")
        }
      } {
        val ids = spark.range(math.max(n / 100L, 1L))
          .select((col("id") * 100L).as("doc_id"))
        graft.streaming.StreamingIngest.nearDupRetract(
          spark, s"$sdir/ndworkc", ids)
        spark.read.parquet(s"$sdir/ndworkc/bands").count()
      }

      // ---- merge-on-read streaming upsert vs the full-rewrite shape it
      // replaced: base corpus of n rows, then 5 flushes of n/1000 rows
      // each. The delta path appends O(batch) per flush (compare
      // files_written between the two probes — the rewrite twin pays
      // ~5 full corpus publishes); the 100 TB claim is exactly that
      // ratio growing with corpus size while the delta cost does not.
      val upB = math.max(n / 1000L, 1L)
      def upBatch(i: Long) =
        spark.range(n + (i - 1) * upB, n + i * upB).select(col("id"),
          xxhash64(col("id")).cast("string").as("payload"))
      def upBase = spark.range(n).select(col("id"),
        xxhash64(col("id")).cast("string").as("payload"))
      tp("stream_upsert_delta_5f") {
        graft.core.DeltaLog.append(upBase, s"$sdir/dstore", 0L)
        graft.core.DeltaLog.compact(spark, s"$sdir/dstore", "id")
      } {
        (1L to 5L).foreach(i =>
          graft.core.DeltaLog.append(upBatch(i), s"$sdir/dstore", i))
        graft.core.DeltaLog.readMerged(spark, s"$sdir/dstore", "id")
          .get.count()
      }
      tp("stream_upsert_rewrite_5f") {
        graft.core.SnapshotIO.publish(upBase, s"$sdir/rstore")
      } {
        (1L to 5L).foreach { i =>
          val cur = graft.core.SnapshotIO.read(spark, s"$sdir/rstore").get
          graft.core.SnapshotIO.publish(
            graft.operators.Crud.upsert(cur, upBatch(i), "id"), s"$sdir/rstore")
        }
        spark.read.parquet(s"$sdir/rstore").count()
      }

      // the read-side bill of merge-on-read: a merged read pays the
      // latest-seq-wins resolution + base anti-join per call, growing
      // with the DELTA TAIL length — the cost the compaction cadence
      // exists to bound. Measured: read wall at tail 0 / 16 / 64 tiny
      // deltas over the n-row base, then post-compaction.
      tp("stream_merged_read_tail") {
        graft.core.DeltaLog.append(upBase, s"$sdir/mstore", 0L)
        graft.core.DeltaLog.compact(spark, s"$sdir/mstore", "id")
      } {
        def readWall(): Double = {
          val t0 = System.nanoTime()
          graft.core.DeltaLog.readMerged(spark, s"$sdir/mstore", "id")
            .get.count()
          (System.nanoTime() - t0) / 1e9
        }
        val w0 = readWall()
        (1L to 16L).foreach(i =>
          graft.core.DeltaLog.append(upBatch(i), s"$sdir/mstore", i))
        val w16 = readWall()
        (17L to 64L).foreach(i =>
          graft.core.DeltaLog.append(upBatch(i), s"$sdir/mstore", i))
        val w64 = readWall()
        val tc0 = System.nanoTime()
        graft.core.DeltaLog.compact(spark, s"$sdir/mstore", "id")
        val wcompact = (System.nanoTime() - tc0) / 1e9
        val wc = readWall()
        println(f"        merged read wall: tail0=$w0%.2f s  tail16=$w16%.2f s  " +
          f"tail64=$w64%.2f s  compaction=$wcompact%.2f s  post-compact=$wc%.2f s")
        graft.core.DeltaLog.deltaSeqs(spark, s"$sdir/mstore").length.toLong
      }

      // facade mutation cost: delete(ONE id) on an n-row store must
      // WRITE O(1) bytes (a single tombstone-row delta — compare
      // files_written here against the n-scaled store size), never
      // re-publish the corpus; the read side is one pushdown filter
      // scan. The pre-round-14 facade paid a full snapshot republish
      // for the same call.
      tp("facade_delete_1id") {
        val st = graft.VectorStore.open(spark, s"$sdir/fstore", 8)
        if (st.size() == 0L) {
          st.ingest(spark.range(n).select(
            transform(sequence(lit(0), lit(7)), j =>
              (pmod(xxhash64(col("id") * 8 + j), lit(1000)).cast("float") /
                lit(100.0f)).cast("float")).as("embedding")))
          st.compact()
        }
      } {
        val st = graft.VectorStore.open(spark, s"$sdir/fstore", 8)
        st.delete(Seq(42L))
        st.size()
      }

      // round-15 delete-heavy regime: deleteIds on 10% of the n-row
      // store with both IVF tiers live (both read the deletes from the
      // delta tail), every tier searched green (no tombstoned id
      // surfaces), then compact() folds them into the index tables and
      // the searches stay green with the tail gone. Prints the
      // delete/search/compact walls.
      tp("facade_delete10pct") {
        val st = graft.VectorStore.open(spark, s"$sdir/fstore", 8)
        if (st.size() == 0L) {
          st.ingest(spark.range(n).select(
            transform(sequence(lit(0), lit(7)), j =>
              (pmod(xxhash64(col("id") * 8 + j), lit(1000)).cast("float") /
                lit(100.0f)).cast("float")).as("embedding")))
          st.compact()
        }
        if (!new java.io.File(s"$sdir/fstore/vectors_by_cluster", "_SUCCESS").exists())
          st.buildIvf(math.max(64, math.sqrt(n.toDouble).toInt))
        if (!new java.io.File(s"$sdir/fstore/codes_by_cluster", "_SUCCESS").exists())
          st.buildIvfPq(kClusters = 64, chunks = 4, kCodes = 16)
      } {
        val st = graft.VectorStore.open(spark, s"$sdir/fstore", 8)
        val qv = st.snapshot().filter(col("id") === 1L)
          .select("embedding").head.getSeq[Float](0).toSeq
        val t0 = System.nanoTime()
        st.deleteIds(spark.range(n / 10).select((col("id") * 10).as("id")))
        val wDel = (System.nanoTime() - t0) / 1e9
        def tierGreen(name: String)(rows: => Array[org.apache.spark.sql.Row]): Double = {
          val s0 = System.nanoTime()
          val r = rows
          val w = (System.nanoTime() - s0) / 1e9
          require(r.nonEmpty, s"$name returned no rows")
          require(!r.map(_.getAs[Long]("id")).exists(_ % 10 == 0),
            s"$name surfaced a tombstoned id")
          w
        }
        val wIvf = tierGreen("ivf")(st.searchIvf(qv, 0, 10).collect())
        val wPq = tierGreen("ivfpq")(
          st.searchIvfPq(qv, 0, 10, rerank = 30).collect())
        val tc = System.nanoTime()
        st.compact()
        val wCompact = (System.nanoTime() - tc) / 1e9
        val wIvf2 = tierGreen("ivf_postfold")(st.searchIvf(qv, 0, 10).collect())
        val wPq2 = tierGreen("ivfpq_postfold")(
          st.searchIvfPq(qv, 0, 10, rerank = 30).collect())
        println(f"        delete10pct: delete=$wDel%.1f s " +
          f"ivf=$wIvf%.1f/$wIvf2%.1f s ivfpq=$wPq%.1f/$wPq2%.1f s " +
          f"compact_fold=$wCompact%.1f s")
        st.size()
      }

      // the DEFAULT-threshold streaming bill: 5 micro-batches of
      // n/1000 rows through upsertStream itself (file source, real
      // checkpoint) over an n-row base. With the round-14 default
      // (no threshold -> no merged count) per-batch READ bytes must be
      // O(batch) — compare files_read here against the base size the
      // pre-round-14 default paid per batch (a merged count = full
      // base id scan, 5x per run).
      tp("stream_upsert_default_5f") {
        val st = s"$sdir/ustore"
        if (graft.core.DeltaLog.watermark(spark, st) < 0L) {
          graft.core.DeltaLog.append(upBase, st, 0L)
          graft.core.DeltaLog.compact(spark, st, "id")
        }
        (1L to 5L).foreach(i => upBatch(i).coalesce(1)
          .write.mode("overwrite").parquet(s"$sdir/uin/b$i"))
      } {
        val schema = spark.read.parquet(s"$sdir/uin/b1").schema
        graft.streaming.StreamingIngest.upsertStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(s"$sdir/uin/*"),
          "id", s"$sdir/ustore", s"$sdir/uckpt",
          compactEvery = 0).awaitTermination()
        graft.core.DeltaLog.deltaSeqs(spark, s"$sdir/ustore").length.toLong
      }
    }

    if (text) {
      // hashing embedder over n synthetic ~8-token docs (per-row codegen
      // fold — zero exchange). Force via a component sum: the embedding
      // is now a per-row expression, so a bare count() would prune it
      val docs = spark.range(n).select(col("id"),
        concat_ws(" ", (0 until 8).map(j =>
          pmod(xxhash64(col("id") * 8 + j), lit(5000)).cast("string")): _*).as("text"))
      // session warmup (see above) when the vectors group didn't run
      docs.agg(sum(length(col("text")))).count()

      // C4-style blocklist gate at corpus scale: ONE Aho-Corasick pass
      // (per-row cost independent of list size) vs the naive
      // per-pattern contains() chain (|patterns| rescans of every row,
      // and a codegen-hostile expression tree at production list
      // sizes). Patterns are two-token phrases over the docs'
      // vocabulary — same substring semantics both sides.
      val blockPats = (0 until 2000)
        .map(i => s"${i % 5000} ${(i * 7 + 1) % 5000}")
      t("blocklist_ac_200")(
        docs.filter(graft.functions.TextFunctions.blocklistAny(
          col("text"), blockPats.take(200))).count())
      t("blocklist_contains_chain_200")(
        docs.filter(blockPats.take(200).map(p => col("text").contains(p))
          .reduce(_ || _)).count())
      t("blocklist_ac_2000")(
        docs.filter(graft.functions.TextFunctions.blocklistAny(
          col("text"), blockPats)).count())

      // connected components on the WORST-case chain graph (a single
      // n-node path — diameter n−1): one-hop min-label would need n−1
      // E-sized shuffle rounds, structurally impossible at any corpus
      // size; alternating large-star/small-star contraction closes in
      // ~⌈log2 n⌉ alternations here (≈21 at 1M, ≈24 at 10M — the
      // O(log² n) worst case never bites on paths), and the edge set
      // it shuffles CONTRACTS as stars form — the log-round evidence
      // behind the near-dup canonicalization path.
      t("cc_chain_diameter_n") {
        val chain = spark.range(n - 1)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        val c = DriverLocal.forcedDistributed(
          Dedup.connectedComponents(chain).filter(col("comp") === 0L).count())
        println(s"        cc chain rounds=${Dedup.lastCcIterations} " +
          s"(log2(n)=${(math.log(n.toDouble) / math.log(2)).round})")
        c
      }

      // ingest front door at corpus scale: n docs written as gzipped
      // JSON lines (32 shards — the wire shape crawl corpora arrive
      // in), read back through the schema-validating quarantine path.
      // Pure per-line map over a per-file-parallel listing, no shuffle;
      // the probe pins jsonl parse throughput (rows gated non-null)
      val jlDir = s"/tmp/graft_jsonl_$n"
      def writeJsonl(): Unit =
        docs.select(col("id").as("doc_id"), col("text"))
          .withColumn("lang", lit("en")).withColumn("source", lit("probe"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .repartition(32).toJSON
          .write.mode("overwrite").option("compression", "gzip").text(jlDir)
      t("jsonl_write_gz")(
        { writeJsonl(); spark.read.text(jlDir).count() })
      tp("jsonl_ingest_validated") { ensure(jlDir)(writeJsonl()) }(
        graft.core.Tables.documentsJsonl(spark, jlDir).count())

      // WARC ingest at corpus scale: the same docs as 32 gzipped WARC
      // segment files (one gzip member per record), read through the
      // lenient record scanner — per-FILE parallelism, whole-segment
      // inflate per task (the Common Crawl processing shape)
      val warcDir = s"/tmp/graft_warc_$n"
      // segments must stay CRAWL-SIZED: the reader inflates a whole
      // segment per task (the Common Crawl shape, ~1 GB gz), so a
      // fixed 32 shards at 100M rows would mean ~2 GB single
      // allocations and GC collapse — scale the shard count with n
      // (~1M records/segment) exactly as a real crawl does
      val warcShards = math.max(32, (n / 1000000L).toInt)
      def writeWarc(): Unit = {
        new java.io.File(warcDir).mkdirs()
        docs.select(col("id"), col("text")).repartition(warcShards)
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val f = new java.io.File(warcDir, f"seg-$pid%05d.warc.gz")
            val out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(f), 1 << 20)
            try rows.foreach { r =>
              out.write(graft.sources.Warc.gzipMember(
                graft.sources.Warc.recordBytes("resource",
                  s"urn:graft:${r.getLong(0)}",
                  s"graft://documents/${r.getLong(0)}",
                  r.getString(1).getBytes("UTF-8"))))
            } finally out.close()
          }
      }
      def haveWarc: Boolean = Option(new java.io.File(warcDir).listFiles())
        .exists(_.nonEmpty)
      t("warc_write_gz") { writeWarc(); n }
      tp("warc_ingest_scan") { if (!haveWarc) writeWarc() }(
        graft.sources.Warc.read(spark, warcDir).count())

      t("embed_docs_dim64") {
        // .head on the sum, not .count(): a count over an ungrouped
        // aggregate is constant-folded and would prune the embedding
        val r = HashingEmbedder.embed(docs, "id", "text", dim = 64)
          .agg(sum(element_at(col("embedding"), 1))).head.getDouble(0)
        java.lang.Double.doubleToLongBits(r)
      }

      // BM25 top-10 over the n docs: one corpus-stats pass + one
      // matched-token-only shuffle + TakeOrdered (no corpus join)
      t("bm25_top10")(
        graft.operators.TextSearch.bm25TopK(docs, "id", "text",
          Seq("17", "4242", "999"), 10).count())

      // one-pass profiling of the full docs table (id numeric + text string)
      t("profile_2col")(
        graft.operators.Profile.profile(docs, Seq("id", "text")).count())

      // MaxSim late-interaction top-10 over the n docs (windowing +
      // window-embed shuffle + one doc-level max-agg shuffle)
      t("maxsim_top10")(
        graft.operators.MultiVec.maxsimSearch(docs, "id", "text",
          Seq("17 4242", "999 3"), k = 10).count())

      // MinHash LSH candidate pairs over n/5 docs (explode -> 8 min-aggs ->
      // banded buckets; shuffles only signatures and bucket groups)
      t("minhash_lsh_pairs")(
        Dedup.minhashLshPairs(docs.filter(col("id") % 5 === 0), "id", "text",
          numHashes = 8, bands = 4, shingle = 3).count())

      // planted degenerate bucket: n/10 docs share ONE identical text, so
      // every band signature collides into a single ~n/10-doc bucket.
      // Unguarded that bucket alone fans out into ~(n/10)²/2 pairs (10¹¹
      // at n=10M — the quadratic blowup); the default maxBucket guard
      // must drop it and finish in normal-bucket time, bounding the
      // fan-out to the healthy buckets only
      t("minhash_lsh_hot_bucket") {
        val hot = docs.withColumn("text",
          when(col("id") % 10 === 0, lit("the planted degenerate boilerplate"))
            .otherwise(col("text")))
        Dedup.minhashLshPairs(hot, "id", "text",
          numHashes = 8, bands = 4, shingle = 3, maxBucket = 10000).count()
      }

      // ngram-Jaccard pair screen under planted duplication: n/5 docs
      // collapse onto n/1000 template texts (constant ~200-doc dup
      // groups, so pair volume grows LINEARLY at ~20n while bucket
      // sizes stay fixed), driving real volume through the screen's
      // bucket → pair-aggregate → per-doc-sizes join. That join is
      // hint-pinned shuffle_hash: the static planner under-estimates
      // the pair aggregate and would otherwise BROADCAST the pair side
      // (the 8 GiB abort the sf1 tier caught on a 10×-duplicated
      // corpus)
      t("ngram_jaccard_planted") {
        // id div 5 densifies the stride-5 id stream before the group
        // mod — pmod on the raw ids would fold onto gcd(5, n/1000)
        // aliased groups (5× the intended group size, quadratically
        // more pairs). Clamp the modulus to ≥1: below n=1000 a 0
        // modulus makes pmod return null, silently degenerating every
        // planted text instead of failing loudly.
        val groups = math.max(n / 1000, 1L)
        val dup = docs.filter(col("id") % 5 === 0).withColumn("text",
          concat_ws(" ", (0 until 8).map(j =>
            pmod(xxhash64(pmod(expr("id div 5"), lit(groups)) * 8 + j),
              lit(5000)).cast("string")): _*))
        Dedup.ngramJaccardPairs(dup, "id", "text", n = 3, threshold = 0.5,
          maxDocFreq = 10000).count()
      }

      // boilerplate removal over n docs: df-count shuffle + anti-join +
      // per-doc reassembly (segments = words here). Forcing via .head on
      // the sum — count() over a global aggregate is optimized to a
      // constant and would skip the whole pipeline
      t("boilerplate_remove") {
        Dedup.boilerplateRemove(docs, "id", "text", " ", minDocFreq = n / 2)
          .agg(sum(length(col("text_clean")))).head.getLong(0)
      }

      // bigram-LM self-score over n docs: two count shuffles + model join +
      // per-doc ordered fold
      t("lm_selfscore") {
        graft.operators.LmScore.selfScore(docs, "id", "text", minCount = 2L)
          .agg(sum(col("lm_score"))).head.getDouble(0).toLong
      }

      // CCNet bucketing over n docs in 4 synthetic languages, with the
      // minCount-BOUNDED model (the 100 TB contract — minCount=1 keeps
      // every singleton bigram and the model join rivals the corpus):
      // the lm_selfscore pipeline twice (cutoffs + labels, by design —
      // see LmScore.perplexityBuckets scaladoc) + six bounded radix
      // passes + a 4-row broadcast label join
      t("ccnet_buckets") {
        val langed = docs.withColumn("lang",
          concat(lit("l"), pmod(col("id"), lit(4))))
        graft.operators.LmScore.perplexityBuckets(langed, "id", "text",
            "lang", minCount = 2L, bigCorpus = Some(n >= 1000000L))
          .groupBy("ppl_bucket").count().count()
      }

      // the pipeline-recommended path: persist the scored projection
      // once, then bucketScored pays ONE scoring pass total (cutoffs
      // read the cache, labels read the cache)
      t("ccnet_buckets_scored") {
        val langed = docs.withColumn("lang",
          concat(lit("l"), pmod(col("id"), lit(4))))
        val scored = graft.operators.LmScore.selfScore(langed, "id", "text",
            minCount = 2L, bigCorpus = Some(n >= 1000000L))
          .join(langed.select(col("id"), col("lang")), Seq("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try
          graft.operators.LmScore.bucketScored(scored, "id", "lang")
            .groupBy("ppl_bucket").count().count()
        finally { scored.unpersist(); () }
      }

      // RAG flagship shape at n/10 ~120-token docs (~3 chunks each):
      // chunk explode -> per-chunk md5-count embed (token shuffle) ->
      // cosine top-10 TakeOrdered over ~3n/10 chunk vectors
      t("rag_chunk_embed_top10") {
        val longDocs = spark.range(n / 10).select(col("id"),
          concat_ws(" ", (0 until 120).map(j =>
            pmod(xxhash64(col("id") * 120 + j), lit(5000)).cast("string")): _*)
            .as("text"))
        val chunks = graft.operators.Chunker.chunk(longDocs, "id", "text",
            chunkTokens = 64, overlap = 16)
          .select(concat_ws(":", col("id"), col("chunk_id")).as("cid"),
            col("chunk_text"))
        val emb = HashingEmbedder.embedMd5Counts(chunks, "cid", "chunk_text",
          dim = 64)
        val qv = HashingEmbedder.md5CountsLocal("17 4242 999", 64).map(_.toFloat)
        Search.knnCosine(emb, "cid", "embedding", qv.toSeq, 10).count()
      }

      // per-group heavy hitters over the 8n-token stream in 4 groups,
      // with a planted hot set (20% of tokens from 5 values -> ~4% each,
      // above the N_g/41 bar) so the exact-verify semi-join carries real
      // candidates: <=k MG counters per (group, partition) map-side
      t("hh_grouped_k40") {
        val toks = docs.select(
            concat(lit("l"), pmod(col("id"), lit(4))).as("g"),
            explode(split(col("text"), " ")).as("w"))
          .select(col("g"),
            when(pmod(xxhash64(col("w")), lit(5)) === 0,
              concat(lit("hot"), pmod(xxhash64(col("w"), lit(7)), lit(5))))
              .otherwise(col("w")).as("w"))
        graft.operators.Sketch.heavyHittersGrouped(toks, col("g"), col("w"),
          k = 40).count()
      }

      // sentence-boundary chunking over n ~33-sentence docs: per-row
      // RE2 segmentation explode + per-doc window cumsum + (doc, chunk)
      // regroup — the two id-keyed shuffles are the whole cost
      t("sentence_chunks_cap48") {
        val sentenced = docs.withColumn("text",
          concat_ws(". ", (0 until 32).map(j =>
            pmod(xxhash64(col("id") * 32 + j), lit(5000)).cast("string")): _*))
        graft.operators.Chunker.sentenceChunks(sentenced, "id", "text", 48)
          .agg(sum(col("n_chunk_tokens"))).head.getLong(0)
      }

      // WebDataset tar layout plan over n docs in 32 shards: one
      // per-shard window cumsum over (shard, id, bytes) — the seek
      // index for n tar members
      t("tar_layout_plan") {
        graft.operators.Export.tarShardPlan(docs, "id", "text", 32)
          .agg(max(col("offset"))).head.getLong(0)
      }

      // real ustar bytes for n/10 docs in 8 single-task shard tars —
      // IO-bound: headers + padding roughly double the ~50 B payloads
      t("tar_write_shards") {
        val dir = s"/tmp/graft_tar_$n"
        val m = graft.operators.Export.writeTarShards(
          docs.filter(col("id") % 10 === 0), "id", "text", 8, dir)
          .agg(sum(col("n_entries"))).head.getLong(0)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(dir))
        m
      }

      // winnowing shared-passage pairs over n docs (codegen fingerprints,
      // ~2.len/window per doc; hot fingerprints cut by maxBucket)
      t("winnow_passage_pairs")(
        Dedup.sharedPassagePairs(docs, "id", "text",
          gramLen = 20, window = 5, maxBucket = 100).count())

      // Misra-Gries heavy hitters over the ~8n-token stream (bounded
      // <=k counters map-side, then exact verify of <=k candidates)
      t("heavy_hitters_k100")(
        graft.operators.Sketch.heavyHitters(
          docs.select(explode(split(col("text"), " ")).as("w")),
          col("w"), 100).count())

      // guarded fuzzy-dedup screen over n/10 docs: df-cutoff bounds the
      // inverted index even with this tiny shared vocabulary
      t("editdist_pairs_guarded")(
        Dedup.editDistancePairs(docs.filter(col("id") % 10 === 0), "id", "text",
          maxDist = 3, candidateThreshold = 0.3, n = 5, maxDocFreq = 100).count())

      // per-epoch deterministic corpus shuffle: distributed range sort
      t("epoch_shuffle")(
        graft.operators.Sampling.epochShuffle(docs, "id", epoch = 1).count())

      // Bloom-screened blocklist subtraction: n-row corpus minus an
      // n/10-key content-hash blocklist — one small-side bitmap fold,
      // then a scan-local screen; only the fpp sliver meets the verify
      // anti-join (exact semantics, see BloomSpec)
      t("bloom_subtract_n10_blocklist")(
        graft.operators.Bloom.subtractByKey(
          docs, md5(col("text")),
          docs.filter(col("id") % 10 === 0).select(md5(col("text")).as("bk")),
          col("bk"), expectedKeys = n / 10, fpp = 0.01).count())

      // packOffsets prefix-sum over all n docs: exercises the
      // MEMORY_AND_DISK persist of the projected corpus (ids + counts
      // + a small payload) shared by the totals and output passes —
      // the spill-behavior probe for Chunker at 10M+ rows
      t("pack_offsets_prefix_sum") {
        graft.operators.Chunker.packOffsets(
            docs.select(col("id"), lit(8L).as("n_tokens"),
              md5(col("text")).as("payload")),
            "id", "n_tokens", capacity = 4096L)
          .agg(sum(col("pack_id"))).head.getLong(0)
      }

      // full packing plan: window fan-out on top of the prefix sum —
      // variable doc lengths so windows straddle documents both ways
      t("pack_windows_plan") {
        graft.operators.Chunker.packWindows(
            docs.select(col("id"),
              (pmod(xxhash64(col("id")), lit(500)) + 1).as("n_tokens")),
            "id", "n_tokens", capacity = 2048L)
          .agg(sum(col("slice_len"))).head.getLong(0)
      }

      // BPE: the corpus pays ONE word-count aggregation; every merge
      // round then runs over the distinct-word vocab (bounded by the
      // 5 000-token synthetic vocabulary here — and by maxVocab-style
      // caps at 100 TB), so learn cost is rounds × vocab, not corpus
      t("bpe_learn_8_merges_dist")(
        graft.operators.Bpe.learnMergesDistributed(
          graft.operators.Bpe.wordCounts(docs, "text"), nMerges = 8).size.toLong)

      // real-tokenizer merge depth: when the minCount-bounded vocab fits
      // on the driver the merge loop runs in-process (inverted pair
      // index + lazy-deletion heap, bit-identical to the distributed
      // loop) — merge count stops being a per-round Spark-job cost, so
      // 1024 rounds land in seconds where the distributed loop pays
      // 1024 sequential jobs
      t("bpe_learn_1024_local")(
        graft.operators.Bpe.learnMerges(
          graft.operators.Bpe.wordCounts(docs, "text"), nMerges = 1024).size.toLong)

      // BPE apply: fixed 6-merge chain as a pure per-row expression —
      // the no-shuffle tokenizer pass over all n docs
      t("bpe_apply_6_merges")(
        graft.operators.Bpe.tokenize(docs, "id", "text",
          Seq("1" -> "2", "12" -> "3", "4" -> "5", "6" -> "7", "8" -> "9",
            "45" -> "67")).agg(sum(col("n_bpe_tokens"))).head.getLong(0))

      // hashed linear classifier: per-row gram-hash weight fold, rides
      // the scan (the fastText-shape quality-filter pass)
      t("classifier_score_dim1k") {
        val w = (0 until 1024).map(i => (i % 7) * 0.1 - 0.3)
        docs.select(graft.functions.TextFunctions.hashedLinearLogit(
            col("text"), 1024, w, bias = 0.05).as("lg"))
          .agg(sum(col("lg"))).head.getDouble(0).toLong
      }

      // KMV set ops over two overlapping n/2-row sides: two bounded
      // sketch folds + O(k) array math — distinct-intersection with no
      // re-scan of either side
      t("kmv_setops_k256") {
        val a = graft.operators.Sketch.kmvSketch(
          docs.filter(col("id") % 2 === 0), col("text"), 256)
          .select(col("sketch").as("ska"))
        val b = graft.operators.Sketch.kmvSketch(
          docs.filter(col("id") % 3 === 0), col("text"), 256)
          .select(col("sketch").as("skb"))
        a.crossJoin(b)
          .select(graft.operators.Sketch.setOpEstimates(
            col("ska"), col("skb"), 256): _*)
          .count()
      }

      // Gopher rule block + verdict: pure per-row signal arithmetic,
      // embarrassingly parallel — the published-pipeline quality gate
      t("gopher_rules_scan") {
        val sig = graft.operators.Curation.gopherSignals(col("text"))
        docs.select(sig("n_words").as("nw"),
            graft.operators.Curation.gopherPass(col("text")).as("p"))
          .agg(sum(col("nw"))).head.getLong(0)
      }

      // C4 line rules over 3-word windows: per-row line filter +
      // reassembly, no shuffle at any n
      t("c4_clean_scan") {
        graft.operators.Curation.c4CleanLines(docs, "id",
            graft.operators.Curation.wordWindows(col("text"), 3),
            minWords = 3, requirePunct = false)
          .agg(sum(col("n_kept"))).head.getLong(0)
      }

      // corpus-global exact line dedup over 2-word windows (5k-token
      // vocabulary → heavy cross-document collisions at 10M: most lines
      // repeat). THE shuffle probe of the family: one content-keyed
      // min(struct) aggregation + winner semi-join + per-doc regroup;
      // duplicate-heavy corpora SHRINK the aggregation output
      t("global_line_dedup_w2") {
        graft.operators.Curation.globalLineDedup(docs, "id",
            graft.operators.Curation.wordWindows(col("text"), 2))
          .agg(sum(col("n_kept"))).head.getLong(0)
      }

      // ExactSubstr span dedup at 4-word resolution: one row per word
      // position through a content-keyed count+min(struct) aggregation,
      // covered-index fan-out, per-doc regroup — linear in corpus
      // tokens, never all-pairs (a gram repeated k times costs k rows)
      t("span_dedup_l4") {
        graft.operators.Curation.exactSpanDedup(docs, "id", "text", 4)
          .agg(sum(col("n_removed"))).head.getLong(0)
      }

      // char-level ExactSubstr at 20-char grams: the same linear
      // content-keyed aggregation at character resolution — one row per
      // CHAR position, ~mean-word-length× the word version's stream
      t("span_dedup_chars_l20") {
        graft.operators.Curation.exactSpanDedupChars(docs, "id", "text", 20)
          .agg(sum(col("n_removed"))).head.getLong(0)
      }

      // planted-duplication ExactSubstr: 10% of docs carry a shared
      // multi-kB passage (the boilerplate-heavy web-corpus shape the
      // operator exists for), so the covered-rebuild runs with
      // |cov| ≈ doc length on every tenth doc — the duplication-heavy
      // path the interval rebuild makes O(n + spans) (pre-round-9 it
      // was quadratic per doc and the no-dup probes above never hit it)
      val plantedPassage = (1 to 400).map(j => s"dup$j").mkString(" ")
      val planted = docs.select(col("id"),
        when(col("id") % 10 === 0,
          concat(col("text"), lit(" " + plantedPassage)))
          .otherwise(col("text")).as("text"))
      t("span_dedup_planted_l4") {
        graft.operators.Curation.exactSpanDedup(planted, "id", "text", 4)
          .agg(sum(col("n_removed"))).head.getLong(0)
      }
      t("span_dedup_chars_planted_l20") {
        graft.operators.Curation.exactSpanDedupChars(planted, "id", "text", 20)
          .agg(sum(col("n_removed"))).head.getLong(0)
      }

      // sharded char pass over the same planted corpus: 4 hash-range
      // passes over the gram key bound peak shuffle state at ~1/4 of
      // the unsharded ~62 GB spill (identical output — CurationSpec
      // pins row equality); the trade is 4 linear gram-kernel re-scans
      // of the persisted (id, text) projection
      t("span_chars_planted_sharded4") {
        graft.operators.Curation.exactSpanDedupCharsSharded(planted, "id",
            "text", 20, shards = 4, spillDir = s"/tmp/graft_span_shards_$n")
          .agg(sum(col("n_removed"))).head.getLong(0)
      }

      // exact quantiles by distributed selection: six bounded radix
      // passes over the cached 8-byte key column — the exact-cutoff
      // path; compare with the one-pass bounded sketch above
      t("exact_quantiles_5p")(DriverLocal.forcedDistributed(
        graft.operators.Sketch.exactQuantilesDisc(
          docs.select((pmod(xxhash64(col("id")), lit(1000000L)) / 7.0).as("v")),
          col("v"), Seq(0.01, 0.25, 0.5, 0.9, 0.99)).head.getLong(0)))

      // temperature-balanced mixture at a planted head: one stratum
      // holds half the corpus, 15 tail strata share the rest — the
      // √-quota computation (count agg + single long to the driver) and
      // the WindowGroupLimit-capped selection are the whole cost
      val strat = docs.withColumn("dom",
          when(col("id") % 2 === 0, lit("head"))
            .otherwise(concat(lit("t"), pmod(col("id"), lit(15)))))
        .withColumn("w", length(col("text")).cast("double"))
      t("temperature_sample_k1m")(
        graft.operators.Sampling.temperatureSample(strat, "dom", "id",
          1000000L).count())
      // per-stratum A-ES: the rank filter's partial group limit keeps
      // the stratum shuffle at ≤ k rows per map task
      t("weighted_grouped_k1000")(
        graft.operators.Sampling.weightedSampleGrouped(strat, "dom", "id",
          "w", 1000).count())

      // CountMin registers over the ~8n-token stream: depth-4 explode
      // collapses map-side to ≤ 4·1024 rows per partition — frequency
      // estimates for post-hoc keys at fixed state
      t("cms_tokens_d4_w1k")(
        graft.operators.Sketch.cmsSketch(
          docs.select(explode(split(col("text"), " ")).as("w")),
          col("w"), depth = 4, width = 1024).count())

      // shard-export manifest: per-row hash assignment + one 64-group
      // aggregation with the order-independent content checksum
      t("export_manifest_64shards")(
        graft.operators.Export.manifest(docs, "id", "text",
          length(col("text")), nShards = 64).count())

      // image-dHash Hamming near-dup pairs over n 56-bit hashes with
      // planted near-dup groups of 4 (members ≤ 2 bits apart). The
      // corpus-scale construction: nBlocks=8 → C(8,5)=56 tables keyed
      // on 35 bits, so buckets stay sparse at ANY realistic n — the
      // default 4-block screen keys on 14 bits and would quadratically
      // explode its buckets beyond ~10^5 hashes (see scaladoc)
      // 10% of docs sit in planted near-dup groups of 4 (members ≤ 2
      // bits apart — realistic re-encode/thumbnail dup density); the
      // rest are unique random hashes. ONE definition shared by all
      // three screen probes so they measure the same corpus.
      def dhashCorpus = {
        val grouped = floor(col("id") / 4) % 10 === 0
        spark.range(n).select(col("id"),
          when(grouped, xxhash64(floor(col("id") / 4)))
            .otherwise(xxhash64(col("id") + lit(3000000000L)))
            .bitwiseAND(lit((1L << 56) - 1))
            .bitwiseXOR(
              expr("CASE WHEN id % 4 = 0 THEN 0L " +
                "ELSE shiftleft(1L, CAST((id % 4) * 7 AS INT)) END"))
            .as("h"))
      }
      t("dhash_pairs_blocks8") {
        Dedup.hammingNearDupPairs(dhashCorpus, "id", "h",
          maxDist = 3, hashBits = 56, nBlocks = 8).count()
      }

      // the knob's middle notch (nBlocks must divide the 56 hash bits,
      // so 7 is the only option between 4 and 8): C(7,4)=35 tables
      // keyed on 4 blocks = 32 bits — sparse to ~10⁹ hashes at 1.6×
      // fewer tables than the 8-block setting (same pigeonhole
      // completeness; DedupSpec pins nBlocks-invariance)
      t("dhash_pairs_blocks7") {
        Dedup.hammingNearDupPairs(dhashCorpus, "id", "h",
          maxDist = 3, hashBits = 56, nBlocks = 7).count()
      }

      // the 10⁹-hash story as code: same corpus through the sharded
      // screen — 4 bucket-key-range passes, each shuffling ~1/4 of the
      // 56-table explode, eagerly materialized then min-unioned. Total
      // work ≈ unsharded + 3 extra 16 B/row cache scans; peak shuffle
      // state per job is the thing that drops
      t("dhash_pairs_blocks8_shard4") {
        Dedup.hammingNearDupPairsSharded(dhashCorpus, "id", "h",
          maxDist = 3, hashBits = 56, shards = 4,
          spillDir = s"/tmp/graft_hshard_$n", nBlocks = 8).count()
      }
    }
    if (storeCalls) {
      // The VectorStore facade's steady-state calls on a store of n rows
      // × 64 dims with 1 000 rows ingested and 20 deleted since its last
      // compaction — the mix of a serving round. At 1M rows the store is
      // far over the serve snapshot's DriverLocal budget, so every call
      // takes the distributed path; the rows give each call's median
      // wall and its Spark jobs. The graph tier is built only up to
      // 200 000 rows (the build is the cost there, not the search).
      val sdir = s"/tmp/graft_store_$n"
      val p = java.nio.file.Paths.get(sdir)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
      def vecs(from: Long, m: Long) = spark.range(from, from + m).select(
        transform(sequence(lit(0), lit(63)),
          i => (pmod(xxhash64(col("id") * 64 + i), lit(10000)) / 10000.0).cast("float"))
          .as("embedding"),
        map(lit("label"), pmod(col("id"), lit(10)).cast("string")).as("metadata"))
      val store = VectorStore.open(spark, sdir, 64)
      val graph = n <= 200000L
      t("store_ingest") { store.ingest(vecs(0L, n)); n }
      t("store_compact") { store.compact(); n }
      t("store_build_ivf") { store.buildIvf(math.sqrt(n.toDouble).round.toInt); n }
      if (graph) t("store_build_hnsw") { store.buildHnsw(); n }
      t("store_ingest_1000") { store.ingest(vecs(n, 1000L)); 1000L }
      t("store_delete_20") { store.delete((0L until 20L).map(_ * 997L)); 20L }
      val q = vecs(n + 7L, 1L).head.getSeq[Float](0).toSeq
      val reps = 5
      // (call, what it runs); a delete takes a fresh id each rep and
      // changes the log version, so each call's first rep after it
      // pays that version's reads
      val calls = Seq[(String, Int => Long)](
        ("exact", _ => store.search(q, 10).collect().length.toLong),
        ("filtered", _ => store.search(q, 10, Map("label" -> "3")).collect().length.toLong),
        ("ivf", _ => store.searchIvf(q, 0, 10).collect().length.toLong),
        ("get", r => store.get(n + r.toLong).size.toLong),
        ("size", _ => store.size()),
        ("delete", r => { store.delete(Seq(20000L + r)); 1L })) ++
        (if (graph) Seq[(String, Int => Long)](("hnsw", _ => store.searchHnsw(q, 10).collect().length.toLong))
         else Nil)
      calls.foreach { case (name, call) =>
        val runs = (0 until reps).map { r =>
          val j0 = jobsStarted.get()
          val t0 = System.nanoTime()
          call(r)
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // listener events drain asynchronously
          (dt, jobsStarted.get() - j0)
        }
        val secs = runs.map(_._1).sorted
        println(f"STORE n=$n%-9d $name%-9s p50=${secs(reps / 2)}%.3f s " +
          f"min=${secs.head}%.3f s jobs/call=${runs.map(_._2).sum.toDouble / reps}%.1f " +
          s"jobs=${runs.map(_._2).mkString(",")}")
      }
    }
    spark.stop()
  }
}
