package graft.operators

import graft.core.LocalKMeans
import graft.expressions.FloatKernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) index: k-means partitioning + n_probe pruned search.
  *
  * Reference semantics (`/root/reference/src/vector_db/indexing/ivf.py`):
  *  - build: k-means over vectors, inverted lists label → ids
  *    (`ivf.py:49-85`); requires non-empty input (`ivf.py:58-59`) and
  *    N ≥ k (`ivf.py:71-72`).
  *  - search: rank centroids by L2 to the query, scan the n_probe nearest
  *    lists exhaustively, global top-k (`ivf.py:138-199`); validates
  *    1 ≤ n_probe ≤ k (`ivf.py:166-167`).
  *  - add: assign to nearest (possibly stale) centroid (`ivf.py:87-117`).
  *  - delete: drop from lists (`ivf.py:119-136`).
  *  - stats: min/max/avg/total over list sizes (`ivf.py:201-215`).
  *
  * Spark design (100 TB): centroids are trained on a bounded driver-side
  * sample (standard IVF practice — sample error is independent of corpus
  * size) with seeded Lloyd's, then assignment is one distributed scan
  * through the codegen'd NearestCentroid kernel. The "inverted list" is
  * a `cluster_id` column; persisted tables are written
  * `partitionBy("cluster_id")` so probing n_probe clusters is literal
  * partition pruning at the parquet scan. Only the k×dim centroid matrix
  * ever reaches the driver.
  */
object Ivf {

  val ClusterCol = "cluster_id"

  /** Default build-sample bound: centroid quality saturates well below
    * this; keeps the driver-side training O(1) in corpus size. */
  val DefaultSampleSize = 100000

  case class Model(centroids: Array[Array[Float]], embCol: String) {
    def k: Int = centroids.length
  }

  /** Measured anchor for the default probe count (ScaleProbe
    * `ivf_recall_sweep`, uniform-random 64-dim, √N lists, short-Lloyd
    * build): the API default n_probe=10 (GraftConfig.nProbe, mirroring
    * api/models.py:20) holds the reference recall gate
    * (test_ivf.py:127-166: ≥0.6 recall on ≥70% of queries) only while
    * 10 lists are a large share of the index — at 1M rows / k=1000 it
    * scores 1/10 (probing 1% of lists) and at 10M / k=3162 it scores
    * 0/10 (0.3%), while probing 10% of lists passes decisively at BOTH
    * tiers (9/10 and 10/10; 3.1% sits at the gate edge — 3/10 at 1M,
    * 7/10 at 10M). The controlling variable up through these tiers is
    * the probed FRACTION of lists, so the scale rule preserves it. */
  val ScaledProbeFraction: Double = 0.1

  /** The √k arm of the probe rule. Across three measured decades
    * (1M/10M/100M, k = √N lists) the gate tracks the probed LIST COUNT
    * once k is large: ~100 lists sit at the gate edge at EVERY decade
    * (100 → 9/10 at 1M; 98 → 7/10 at 10M; 100 → 8/10 at 100M) and
    * ~300+ passes everywhere (316 → 10/10 at 10M; 312 → 9/10 and
    * 1000 → 10/10 at 100M) — geometrically, per-list occupancy √N and
    * centroid density both grow with N, concentrating a query's true
    * neighbors in a roughly scale-free number of nearby cells. Probing
    * `10·√k` lists (≈3× the measured gate edge, = the 10% fraction
    * exactly at k = 10⁴/100M rows) therefore holds the gate at every
    * measured decade while letting the scanned CORPUS FRACTION fall
    * past 100M — 10·√k/k → 0 — instead of pinning an O(N) scan bill
    * per query forever (1% of lists at 100M already measured 8/10;
    * a constant fraction was 3× the needed list count there and
    * growing). */
  val ProbeListScale: Double = 10.0

  /** Scale a probe count with index list count so the DEFAULT n_probe
    * keeps the measured recall gate as k grows: at least `base`
    * (identity for k ≤ base/fraction — every toy/reference-sized index
    * is unchanged), at least min([[ScaledProbeFraction]] of the lists,
    * [[ProbeListScale]]·√k) above that — the two arms agree at
    * k = 10⁴ (the 100M-row anchor, where both say 1000 lists); below
    * it the fraction arm is the binding (measured) one, above it the
    * √k arm lets the probed fraction fall with scale — clamped to k
    * (small indexes probe exhaustively, which the reference permits:
    * 1 ≤ n_probe ≤ k). Callers that set n_probe explicitly pass their
    * value through unscaled. */
  def scaledNProbe(base: Int, k: Int,
                   fraction: Double = ScaledProbeFraction): Int = {
    val byFraction = math.ceil(k * fraction)
    // the list-count arm scales WITH the knob: raising the fraction
    // raises both arms proportionally, so a tuned-up knob still means
    // "probe more" at every k (exhaustive intent = explicit n_probe=k)
    val byListCount = math.ceil(
      ProbeListScale * (fraction / ScaledProbeFraction) * math.sqrt(k.toDouble))
    math.min(k, math.max(base, math.min(byFraction, byListCount).toInt))
  }

  /** Bounded UNBIASED training sample: a seeded Bernoulli sample sized
    * from a fast count, then a limit as the hard cap. A bare limit()
    * would take the physical head of the table — on time- or
    * label-ordered corpora (the normal case) that trains centroids on
    * one region of the distribution only. */
  private[operators] def trainingSample(df: DataFrame, embCol: String,
                                        sampleSize: Int, seed: Long): Array[Array[Float]] = {
    import org.apache.spark.sql.functions.{col => c, rand}
    val proj = df.select(c(embCol))
    val n = proj.count()
    // the cap must not consume leading partitions first (limit() alone
    // would — systematically dropping trailing-partition rows and
    // re-introducing physical-order bias), so rank the over-sampled rows
    // by an independent seeded rand: TakeOrdered over ~1.2·sampleSize
    // rows, uniform among them
    val sampled =
      if (n <= sampleSize) proj
      else proj.sample(withReplacement = false,
          math.min(1.0, sampleSize * 1.2 / n), seed)
        .orderBy(rand(seed ^ 0x9e3779b97f4a7c15L)).limit(sampleSize)
    sampled.collect().map(_.getSeq[Float](0).toArray)
  }

  /** B4: build the index. Returns (rows + cluster_id, model). */
  def build(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
            maxIter: Int = 100, sampleSize: Int = DefaultSampleSize): (DataFrame, Model) = {
    require(k > 0, s"k must be positive, got $k")
    val sample = trainingSample(df, embCol, sampleSize, seed)
    // build-time checks mirror the reference (ivf.py:58-59, 71-72)
    if (sample.isEmpty) throw new IllegalArgumentException(
      "Cannot build index from empty node list")
    if (sample.length < k) throw new IllegalArgumentException(
      s"Need at least $k nodes to build index with $k clusters")
    val model = Model(LocalKMeans.fit(sample, k, maxIter, seed), embCol)
    (assign(df, model), model)
  }

  /** Skew-hardened build: [[build]] followed by recursive hot-cluster
    * splitting. A cluster holding a large corpus fraction defeats IVF
    * twice at scale — partition pruning stops pruning (every probe near
    * the hot region scans the giant list) and `knnJoinIvf`'s shuffle
    * skews onto one key. After the initial build, any cluster above
    * `maxClusterFraction` of the corpus is split into
    * ceil(size/cap) sub-centroids trained on ITS OWN rows (seeded,
    * sample-bounded); its rows re-assign among the sub-centroids in the
    * same codegen'd scan style as [[assign]] — the split cluster's slot
    * keeps the first sub-centroid and the rest append, so every other
    * cluster id (and any persisted partition layout for them) is
    * untouched. Repeats up to `maxRounds` (sub-clusters of a pathological
    * blob can still exceed the cap). Returns ids contiguous in
    * [0, model.k) as [[search]]/[[probeClusters]] require.
    *
    * Scale: per round, TWO corpus passes total regardless of how many
    * clusters are hot — one k-row size aggregation and one Bernoulli
    * sampling pass that draws every hot cluster's bounded sub-training
    * sample at once (rate sized per cluster from the counts) — plus an
    * expression-only reassignment (lazy, rides the next scan). No extra
    * corpus shuffle, no per-cluster rescans; the loop's measurement
    * passes run over a per-round MEMORY_AND_DISK projection of
    * (embedding, cluster), so round r reads a flattened cache instead
    * of recomputing r stacked reassignment chains (measured 402.8 →
    * see COVERAGE at the 10M 90%-blob probe). Split fits use
    * `splitMaxIter` (default 25) — centroids only need to PARTITION a
    * hot list, not converge, the same short-Lloyd budget the SemDeDup
    * probe pinned — while the initial build keeps `maxIter`.
    * Identical-vector blobs cannot be split (k-means cannot separate
    * equal points); `maxRounds` bounds the attempt. */
  def buildBalanced(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
                    maxIter: Int = 100, sampleSize: Int = DefaultSampleSize,
                    maxClusterFraction: Double = 0.2,
                    maxRounds: Int = 4,
                    splitMaxIter: Int = 25): (DataFrame, Model) = {
    require(maxClusterFraction > 0 && maxClusterFraction <= 1,
      s"maxClusterFraction must be in (0,1], got $maxClusterFraction")
    var (assigned, model) = build(df, embCol, k, seed, maxIter, sampleSize)
    val n = df.count()
    val cap = math.max(1L, (maxClusterFraction * n).toLong)
    // splitting a list into ≤ 64 parts saturates well below the full
    // build sample — keeps the one-pass multi-cluster collect bounded
    val splitSample = math.min(sampleSize, 10000)
    var round = 0
    var done = false
    // flattened measurement cache for the current assignment (embedding
    // + cluster only) — re-persisted after each reassignment round
    var probe = assigned.select(col(model.embCol), col(ClusterCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    while (!done && round < maxRounds) {
      val sizes = probe.groupBy(ClusterCol).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val hot = sizes.filter { case (_, s) => s > cap }.keys.toSeq.sorted
      if (hot.isEmpty) done = true
      else {
        // one pass draws every hot cluster's sample: seeded Bernoulli
        // at a per-cluster rate, truncated driver-side to the bound
        val rate = hot.foldLeft(lit(0.0)) { (acc, c) =>
          when(col(ClusterCol) === c,
            lit(math.min(1.0, splitSample * 1.2 / sizes(c)))).otherwise(acc)
        }
        val byCluster = probe
          .filter(col(ClusterCol).isin(hot: _*))
          .filter(rand(seed ^ (round + 1).toLong) < rate)
          .select(col(ClusterCol), col(model.embCol))
          .collect()
          .groupBy(_.getInt(0))
        val cents = scala.collection.mutable.ArrayBuffer(model.centroids: _*)
        var reassign: Column = col(ClusterCol)
        var split = false
        hot.foreach { c =>
          val sample = byCluster.getOrElse(c, Array.empty).iterator
            .take(splitSample).map(_.getSeq[Float](1).toArray).toArray
          val m = math.min(64,
            math.max(2, math.ceil(sizes(c).toDouble / cap).toInt))
          if (sample.length >= 2) {
            val sub = graft.core.LocalKMeans.fit(sample,
              math.min(m, sample.length), splitMaxIter, seed ^ (c + 1).toLong)
            if (sub.length >= 2) {
              split = true
              val offset = cents.length
              cents(c) = sub(0)
              sub.iterator.drop(1).foreach(cents += _)
              val subIdx = FloatKernels.nearestCentroid(col(model.embCol), sub)
              reassign = when(col(ClusterCol) === c,
                when(subIdx === 0, lit(c))
                  .otherwise(subIdx + lit(offset - 1))).otherwise(reassign)
            }
          }
        }
        if (!split) done = true // unsplittable hot blobs: stop trying
        else {
          model = Model(cents.toArray, model.embCol)
          assigned = assigned.withColumn(ClusterCol, reassign)
          val next = probe.withColumn(ClusterCol, reassign)
            .select(col(model.embCol), col(ClusterCol))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // materialize the replacement BEFORE dropping its parent's
          // blocks — unpersisting first would force next's first
          // action to recompute the whole stacked reassignment lineage
          // from the source instead of one cached-projection pass
          next.count()
          probe.unpersist()
          probe = next
        }
      }
      round += 1
    }
    probe.unpersist()
    (assigned, model)
  }

  /** B5: assign rows to their nearest centroid (also the incremental-add
    * path — new rows are assigned to possibly-stale centroids, matching
    * ivf.py:108-113; build() again is the explicit re-train). One
    * codegen'd scan, no shuffle. */
  def assign(df: DataFrame, model: Model): DataFrame =
    df.withColumn(ClusterCol,
      FloatKernels.nearestCentroid(col(model.embCol), model.centroids))

  // -----------------------------------------------------------------
  // Hierarchical (two-level) coarse quantizer. The r14 decade study
  // validated k ≈ 10·√N lists probed at 10·√k — but the FLAT build
  // cannot deliver that k past ~1B rows: `build` requires
  // sample ≥ k (so k > sampleSize throws), LocalKMeans is a driver
  // O(sample·k·dim·iters) fit, and flat `assign` scans all k
  // centroids per row (O(k·dim) — 6.4M flops/row at k = 10⁵,
  // dim 64). The two-level quantizer removes all three cliffs:
  //   level 1: ⌈√k⌉ super-centroids fit on the bounded driver sample
  //            (cost O(sample·√k·dim·iters));
  //   level 2: each super-cluster trains its OWN ~√k children on a
  //            bounded sample of its own rows — √k independent fits
  //            distributed across executors (mapGroups, one per
  //            super);
  //   assign:  two nested codegen argmin scans, O(2·√k·dim)/row
  //            ([[graft.expressions.TwoLevelNearestCentroidFloat]]).
  // The SEARCH side is unchanged: the flattened child list IS a flat
  // k-centroid model (global ids contiguous in [0, k)), so
  // probeClusters / partition pruning / scaledNProbe all apply as-is.
  // Same B4/B5/O6 semantics as the reference (ivf.py:49-85, :87-117,
  // :138-199) — only the quantizer depth differs.
  // -----------------------------------------------------------------

  /** Flat-build ceiling: above this k, [[graft.VectorStore.buildIvf]]
    * takes the hierarchical path by default. 10⁴ is the largest
    * measured-fine flat geometry (the 100M anchor; k = 31620 built but
    * with a minutes-scale driver fit). */
  val FlatBuildMaxK = 10000

  /** Serve-side contract of the two-level model: super centroids and
    * per-super child COUNTS are resident (k₁-sized — ~15 MB at the
    * 100 TB geometry k ≈ 10⁶ / dim 384); child centroid BLOCKS are
    * reachable per super — eagerly for the in-memory [[HierModel]],
    * on demand and LRU-byte-bounded for [[openHier]]'s loader, so the
    * driver never has to hold all k children (~1.5 GB at that
    * geometry — the r16 perf-weak this closes). */
  sealed trait HierProbe {
    def supers: Array[Array[Float]]
    def childCounts: Array[Int]
    def childBlock(g: Int): Array[Array[Float]]
    def embCol: String
    /** Batch hint: the probe ranking is about to read these supers'
      * blocks — a lazy loader fetches all missing ones in ONE read. */
    def prefetch(gs: Seq[Int]): Unit = ()
    /** Global id of group g's first child. */
    lazy val offsets: Array[Int] = childCounts.scanLeft(0)(_ + _).init
    def k: Int = { var s = 0; childCounts.foreach(s += _); s }
    def k1: Int = supers.length
    /** Flat view — the global-id-ordered child list (memoized: callers
      * on the small-k path rank through it repeatedly). For the
      * in-memory model the flatten is shallow (a k-pointer reference
      * array, ~8 B/child — measured 3 MB at k = 316k, ScaleProbe
      * ivf_probe_rank_316k), so the hierarchical serve path's win is
      * the RANKING cost: probing through [[probeClustersHier]] is
      * O((√k + β·nProbe)·dim)/query vs the flat O(k·dim) scan — 14.8×
      * at k = 316k, and the only affordable shape at the 100 TB
      * geometry (k ≈ 10⁶, dim 384, ~10⁹ flat flops/query). */
    lazy val flat: Model = Model(Array.tabulate(k1)(childBlock).flatten, embCol)
  }

  case class HierModel(supers: Array[Array[Float]],
                       children: Array[Array[Array[Float]]],
                       embCol: String) extends HierProbe {
    lazy val childCounts: Array[Int] = children.map(_.length)
    def childBlock(g: Int): Array[Array[Float]] = children(g)
    override def k: Int = children.iterator.map(_.length).sum
  }

  /** Lazily-loading [[HierProbe]] over a persisted [[saveHier]] model:
    * supers + child counts stay resident; child blocks are read on
    * first touch — a probe's picked supers load in ONE pushed-filter
    * read via [[prefetch]] — and held in an access-order LRU bounded
    * by `maxResidentBytes`. Driver residency is therefore bounded by
    * the byte budget, not by k. Thread-safe (the store facade may be
    * probed from concurrent driver threads). */
  final class LazyHierModel private[graft] (
      spark: SparkSession, modelPath: String,
      val supers: Array[Array[Float]], val childCounts: Array[Int],
      val embCol: String, maxResidentBytes: Long) extends HierProbe {
    private val lru =
      new java.util.LinkedHashMap[Int, Array[Array[Float]]](64, 0.75f, true)
    private var resident = 0L
    private def bytesOf(b: Array[Array[Float]]): Long =
      b.iterator.map(c => 4L * c.length + 24L).sum
    /** Child-block payload bytes currently resident (the probe gate). */
    def residentBytes: Long = synchronized { resident }
    override def prefetch(gs: Seq[Int]): Unit = synchronized {
      load(gs.filterNot(g => lru.containsKey(g)))
    }
    def childBlock(g: Int): Array[Array[Float]] = synchronized {
      val hit = lru.get(g)
      if (hit != null) hit
      else { load(Seq(g)); lru.get(g) }
    }
    private def load(gs: Seq[Int]): Unit = {
      if (gs.isEmpty) return
      val grouped = spark.read.parquet(modelPath)
        .filter(col("super_id").isin(gs: _*))
        .select("super_id", "centroid_id", "centroid")
        .collect()
        .groupBy(_.getInt(0))
      gs.foreach { g =>
        val rows = grouped.getOrElse(g, Array.empty[org.apache.spark.sql.Row])
        require(rows.length == childCounts(g),
          s"hier model at $modelPath: super $g has ${rows.length} child " +
            s"rows, expected ${childCounts(g)}")
        val block = rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
        lru.put(g, block)
        resident += bytesOf(block)
      }
      // evict eldest blocks beyond the byte budget (access-order map:
      // the just-loaded picked set sits at the young end)
      val it = lru.entrySet().iterator()
      while (resident > maxResidentBytes && lru.size() > 1 && it.hasNext) {
        val e = it.next()
        resident -= bytesOf(e.getValue)
        it.remove()
      }
    }
    /** One ordered read — k₁ per-block loads would be k₁ driver jobs.
      * Only the small-k serve path materializes this. */
    override lazy val flat: Model = {
      val cents = spark.read.parquet(modelPath)
        .select("centroid_id", "centroid").orderBy("centroid_id")
        .collect().map(_.getSeq[Float](1).toArray)
      Model(cents, embCol)
    }
  }

  /** Default LRU byte budget for [[openHier]] child blocks: sized so a
    * probe's whole picked set (β·nProbe children ≈ 61 MB at k = 10⁶ /
    * dim 384 / nProbe = 10·√k) stays resident across queries while the
    * full k-children table (~1.5 GB there) never does. */
  val HierResidentModelBytes: Long = 256L * 1024 * 1024

  /** Proportional child allocation: group g gets ~k·size_g/n children
    * (largest-remainder rounding), at least 1 when non-empty, so list
    * occupancy stays ~n/k everywhere regardless of super-cluster skew.
    * Empty supers get 0 here (they still receive one placeholder child
    * — the super itself — at assembly, so every row stays assignable). */
  private[graft] def allocateChildren(k: Int, k1: Int,
                                          sizes: Map[Int, Long]): Array[Int] = {
    val n = math.max(1L, sizes.values.sum)
    val raw = Array.tabulate(k1)(g => k.toDouble * sizes.getOrElse(g, 0L) / n)
    val base = raw.map(x => math.floor(x).toInt)
    (0 until k1).foreach { g =>
      if (sizes.getOrElse(g, 0L) > 0 && base(g) == 0) base(g) = 1
    }
    var rem = k - base.sum
    val nonEmpty = (0 until k1).filter(g => sizes.getOrElse(g, 0L) > 0)
    if (rem > 0 && nonEmpty.nonEmpty) {
      val order = nonEmpty.sortBy(g => (-(raw(g) - math.floor(raw(g))), g))
      var i = 0
      while (rem > 0) { base(order(i % order.length)) += 1; rem -= 1; i += 1 }
    } else if (rem < 0) {
      // min-1 floors over-allocated (many tiny supers): trim largest
      val order = (0 until k1).sortBy(g => (-base(g), g))
      var i = 0
      while (rem < 0) {
        val g = order(i % order.length)
        if (base(g) > 1) { base(g) -= 1; rem += 1 }
        i += 1
      }
    }
    base
  }

  /** B4, hierarchical: build a k-list IVF index through the two-level
    * quantizer. Returns (rows + cluster_id, model); model.k may land
    * slightly BELOW the target k when a super-cluster's bounded child
    * sample cannot support its allocation (k is a geometry target, not
    * a contract — the search side reads k off the model).
    *
    * Scale shape: one bounded driver fit (√k supers), one k₁-row size
    * aggregation, one Bernoulli sampling pass that draws every
    * super-cluster's child-training sample at once, √k independent
    * executor-side fits (each over ≤ childSampleSize rows,
    * single-threaded — task-level parallelism already covers the
    * cores), one codegen'd two-level assignment scan. No step is
    * O(corpus·√k) or driver-O(k²). */
  def buildHier(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
                maxIter: Int = 100, sampleSize: Int = DefaultSampleSize,
                childMaxIter: Int = 25,
                childSampleSize: Int = 10000): (DataFrame, HierModel) = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val sample = trainingSample(df, embCol, sampleSize, seed)
    if (sample.isEmpty) throw new IllegalArgumentException(
      "Cannot build index from empty node list")
    if (sample.length < k1) throw new IllegalArgumentException(
      s"Need at least $k1 nodes to build index with $k1 super-clusters")
    val supers = LocalKMeans.fit(sample, k1, maxIter, seed)
    val superCol = "__super"
    val withSuper = df.withColumn(superCol,
      FloatKernels.nearestCentroid(col(embCol), supers))
    val sizes = withSuper.groupBy(superCol).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = sizes.values.sum
    if (n < k) throw new IllegalArgumentException(
      s"Need at least $k nodes to build index with $k clusters")
    val counts = allocateChildren(k, k1, sizes)
    // one pass draws every super's child-training sample: seeded
    // Bernoulli at a per-super rate (literal array lookup — k₁ doubles)
    val rates = (0 until k1).map { g =>
      val s = sizes.getOrElse(g, 0L)
      if (s == 0L) 0.0 else math.min(1.0, childSampleSize * 1.2 / s)
    }
    val bcCounts = spark.sparkContext.broadcast(counts)
    val cap = childSampleSize
    val fitted = withSuper
      .filter(rand(seed ^ 0x5deece66dL) <
        element_at(typedlit(rates), col(superCol) + 1))
      .select(col(superCol), col(embCol))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        // bounded per-group buffer (≈1.2·cap rows land here); stable
        // content-hash order makes the fit insensitive to Spark's
        // nondeterministic group-iteration order
        val pts = it.map(_._2.toArray).take(cap * 2).toArray
          .sortBy(java.util.Arrays.hashCode)
        val kk = math.min(bcCounts.value(g), math.min(pts.length, cap))
        val cents =
          if (kk < 1) Seq.empty[Seq[Float]]
          else LocalKMeans.fit(pts.take(cap), kk, childMaxIter,
            seed ^ (g + 1).toLong, threads = 1).toSeq.map(_.toSeq)
        (g, cents)
      }
      .collect().toMap
    // assembly: fitted children per super; an empty/undersampled super
    // keeps itself as its single child so its (few) rows stay
    // assignable and global ids stay contiguous
    val children = Array.tabulate(k1) { g =>
      val cs = fitted.getOrElse(g, Seq.empty)
      if (cs.isEmpty) Array(supers(g)) else cs.map(_.toArray).toArray
    }
    val model = HierModel(supers, children, embCol)
    (assignHier(df, model), model)
  }

  /** B5, hierarchical: two nested codegen argmin scans, O(2·√k·dim)
    * per row — the incremental-add path for hierarchical indexes
    * (stale-centroid semantics, same as flat [[assign]]). */
  def assignHier(df: DataFrame, model: HierModel): DataFrame =
    df.withColumn(ClusterCol,
      FloatKernels.nearestCentroidTwoLevel(col(model.embCol),
        model.supers, model.children))

  /** B11, hierarchical: the child table persists POSITIONALLY
    * compatible with the flat [[load]] (centroid_id, centroid, …) —
    * the search side never needs to know the model is hierarchical —
    * plus a super_id column and a separate super-centroid table for
    * [[loadHier]]/[[assignHier]]. */
  def saveHier(model: HierModel, modelPath: String,
               supersPath: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val rows = for {
      g <- model.children.indices
      (c, j) <- model.children(g).zipWithIndex
    } yield (model.offsets(g) + j, c.toSeq, g)
    rows.toDF("centroid_id", "centroid", "super_id")
      .coalesce(1).write.mode("overwrite").parquet(modelPath)
    model.supers.zipWithIndex.map { case (c, g) => (g, c.toSeq) }.toSeq
      .toDF("super_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(supersPath)
  }

  def loadHier(spark: SparkSession, modelPath: String, supersPath: String,
               embCol: String): HierModel = {
    val supers = spark.read.parquet(supersPath).orderBy("super_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val buf = Array.fill(supers.length)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
    spark.read.parquet(modelPath)
      .select("centroid_id", "centroid", "super_id").orderBy("centroid_id")
      .collect()
      .foreach(r => buf(r.getInt(2)) += r.getSeq[Float](1).toArray)
    HierModel(supers, buf.map(_.toArray), embCol)
  }

  /** Open a persisted hierarchical model for SERVING without loading
    * all k child centroids ([[loadHier]] stays the eager loader for
    * builder/compat callers). Supers load eagerly (k₁ rows). Small
    * models (k₁ ≤ ⌈√FlatBuildMaxK⌉, i.e. k ≤ FlatBuildMaxK — exactly
    * the regime whose serve path ranks through the flat view) load
    * eagerly too, in the same one ordered read `loadHier` pays, so the
    * declared small-k queries keep their historical job count and
    * bit-identical ranking. Larger models return a [[LazyHierModel]]:
    * one k₁-row count aggregation up front, child blocks on demand
    * under `maxResidentBytes`. */
  def openHier(spark: SparkSession, modelPath: String, supersPath: String,
               embCol: String,
               maxResidentBytes: Long = HierResidentModelBytes): HierProbe = {
    val supers = spark.read.parquet(supersPath).orderBy("super_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val k1Gate = math.ceil(math.sqrt(FlatBuildMaxK.toDouble)).toInt
    if (supers.length <= k1Gate) {
      val buf = Array.fill(supers.length)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
      spark.read.parquet(modelPath)
        .select("centroid_id", "centroid", "super_id").orderBy("centroid_id")
        .collect()
        .foreach(r => buf(r.getInt(2)) += r.getSeq[Float](1).toArray)
      HierModel(supers, buf.map(_.toArray), embCol)
    } else {
      val counts = new Array[Int](supers.length)
      spark.read.parquet(modelPath).groupBy("super_id").count()
        .collect().foreach(r => counts(r.getInt(0)) = r.getLong(1).toInt)
      require(counts.forall(_ >= 1),
        s"hier model at $modelPath: a super has no children " +
          "(saveHier assembly guarantees >= 1)")
      new LazyHierModel(spark, modelPath, supers, counts, embCol,
        maxResidentBytes)
    }
  }

  /** Persist as a cluster-partitioned table: probing = partition
    * pruning. Rows are hash-clustered on [[ClusterCol]] BEFORE the
    * partitioned write: a bare `partitionBy` writes one file per
    * (input-partition × cluster) pair — at corpus scale with √N lists
    * that is 10^5–10^6 near-empty files (measured: a 100M-row, 10k-list
    * sweep table ground toward ~900k ~12 KB files, and every pruned
    * search would re-pay the open/footer cost) — while the pre-shuffle
    * bounds the count by (writer-task × held-cluster) ≈ k files total.
    * Skewed clusters are the capped-fraction concern
    * [[buildBalanced]] already handles; the hash distribution spreads
    * lists across writer tasks. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.repartition(col(ClusterCol))
      .write.mode("overwrite").partitionBy(ClusterCol).parquet(path)

  /** O6: n_probe pruned top-k search. Ranks the k centroids on the
    * driver (k values — tiny), prunes to the n_probe nearest clusters
    * (partition pruning on a partitioned table), exact top-k on survivors
    * with the (dist, id) tie-break. */
  def search(assigned: DataFrame, model: Model, idCol: String,
             query: Seq[Float], nProbe: Int, topK: Int,
             filter: Option[Column] = None): DataFrame = {
    val base = assigned.filter(col(ClusterCol).isin(probed(model, query, nProbe): _*))
    Search.knnExact(base, idCol, model.embCol, query, topK, filter)
  }

  /** The lists [[search]] probes: the n_probe nearest, range-checked. */
  def probed(model: Model, query: Seq[Float], nProbe: Int): Seq[Int] = {
    require(nProbe >= 1 && nProbe <= model.k,
      s"n_probe must be between 1 and ${model.k}, got $nProbe")
    probeClusters(model, query, nProbe)
  }

  private def l2sqTo(query: Array[Double])(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - query(i); s += d * d; i += 1 }
    s
  }

  /** The n_probe nearest centroid ids to the query (driver-side: k rows). */
  def probeClusters(model: Model, query: Seq[Float], nProbe: Int): Seq[Int] = {
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    require(query.length == dim,
      s"query dim ${query.length} != centroid dim $dim") // zip would silently truncate
    val q = query.iterator.map(_.toDouble).toArray
    val l2sq = l2sqTo(q) _
    model.centroids.zipWithIndex
      .map { case (c, i) => (l2sq(c), i) }
      .sortBy(identity).take(nProbe).map(_._2).toSeq
  }

  /** Margin of super-clusters the hierarchical probe ranking keeps
    * beyond the minimum that covers nProbe children: rank the top
    * (HierProbeBeta × enough-to-cover) supers' children, take the
    * nProbe nearest. β = 4 is the MEASURED default, held at TWO
    * geometries (ScaleProbe `ivf_hier_recall_hierrank` sweeps,
    * n_probe = 10·√k both): the 100M anchor, k = 10⁵ (r16,
    * OPTIMIZATION_r16.md) — β = 1 → 1/10, β = 2 → 6/10 (both miss the
    * ≥7/10 gate), β = 4 → 8/10 GATE PASS, vs the flat ranking's 10/10
    * at the same arm; and the 10M / k = 31 620 decade (r17,
    * OPTIMIZATION_r17.md) — β = 1 → 4/10, β = 2 → 6/10, β = 4 → 10/10
    * GATE PASS (= flat). The recall the super pre-filter costs needs a
    * real child-coverage margin. Per-query rank cost stays
    * O((√k + β·nProbe)·dim): ~7× under flat at k = 316k even at
    * β = 4. */
  val HierProbeBeta: Double = 4.0

  /** [[probeClusters]] through the hierarchy — the serve-side analog of
    * the two-level build (VERDICT r15 #1): rank the k₁ supers
    * (O(√k·dim)), accumulate the nearest supers until their child count
    * covers `beta × nProbe`, then rank ONLY those supers' children and
    * take the nProbe nearest global ids. Per-query cost is
    * O((√k + β·nProbe)·dim) instead of the flat O(k·dim) — at the
    * 100 TB geometry (k ≈ 10⁶, dim 384, nProbe = 10·√k) that is ~50×
    * fewer driver flops — and the grouped model is scanned, never
    * flattened. Exhaustive requests (nProbe ≥ k) rank nothing: every
    * list is probed, exactly like the flat path, so oracle-exact
    * exhaustive queries are unchanged. Ties break on (dist, id) both
    * levels, same as [[probeClusters]]. */
  def probeClustersHier(model: HierProbe, query: Seq[Float], nProbe: Int,
                        beta: Double = HierProbeBeta): Seq[Int] = {
    require(nProbe >= 1 && nProbe <= model.k,
      s"n_probe must be between 1 and ${model.k}, got $nProbe")
    val dim = model.supers.headOption.map(_.length).getOrElse(0)
    require(query.length == dim,
      s"query dim ${query.length} != centroid dim $dim")
    if (nProbe >= model.k) return (0 until model.k)
    val q = query.iterator.map(_.toDouble).toArray
    val l2sq = l2sqTo(q) _
    val superRank = model.supers.zipWithIndex
      .map { case (c, g) => (l2sq(c), g) }
      .sortBy(identity)
    // nearest supers until their children cover beta·nProbe lists —
    // the coverage scan reads only the resident COUNTS, never blocks
    val want = math.max(nProbe.toLong, math.ceil(beta * nProbe).toLong)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    var covered = 0L
    val it = superRank.iterator
    while (covered < want && it.hasNext) {
      val g = it.next()._2
      picked += g
      covered += model.childCounts(g)
    }
    // a lazy model fetches every missing picked block in ONE read here
    model.prefetch(picked.toSeq)
    picked.iterator.flatMap { g =>
      val off = model.offsets(g)
      model.childBlock(g).iterator.zipWithIndex
        .map { case (c, j) => (l2sq(c), off + j) }
    }.toArray.sortBy(identity).take(nProbe).map(_._2).toSeq
  }

  /** O6 through the hierarchical ranking: [[search]] semantics
    * (ivf.py:138-199 — probe the nProbe nearest lists, exact top-k over
    * survivors), with the probe set ranked hierarchically above
    * [[FlatBuildMaxK]] lists and flat below it (small indexes keep the
    * exact flat ranking — measured-fine there, and bit-identical to the
    * historical behavior every declared query pins). */
  def searchHier(assigned: DataFrame, model: HierProbe, idCol: String,
                 query: Seq[Float], nProbe: Int, topK: Int,
                 filter: Option[Column] = None): DataFrame = {
    val base = assigned.filter(col(ClusterCol).isin(probedHier(model, query, nProbe): _*))
    Search.knnExact(base, idCol, model.embCol, query, topK, filter)
  }

  /** The lists [[searchHier]] probes, range-checked: ranked flat at or
    * below [[FlatBuildMaxK]] lists, hierarchically above. */
  def probedHier(model: HierProbe, query: Seq[Float], nProbe: Int): Seq[Int] = {
    require(nProbe >= 1 && nProbe <= model.k,
      s"n_probe must be between 1 and ${model.k}, got $nProbe")
    if (model.k <= FlatBuildMaxK) probeClusters(model.flat, query, nProbe)
    else probeClustersHier(model, query, nProbe)
  }

  /** Centroid-drift metric for streaming maintenance: mean L2 distance
    * between the model's centroids and centroids re-estimated from the
    * currently assigned rows. Incremental adds assign to stale centroids
    * (B5, ivf.py:108-113) — this measures how stale, so callers can
    * trigger an explicit re-train instead of guessing.
    *
    * One distributed aggregation (explode to (cluster, pos) cells,
    * shuffle carries k×dim partial means); only the k×dim mean matrix
    * reaches the driver. `fraction` < 1 samples the scan — at corpus
    * scale a small seeded sample estimates drift just as well. Empty
    * clusters contribute nothing (no data ⇒ no evidence of drift). */
  def drift(assigned: DataFrame, model: Model, fraction: Double = 1.0,
            seed: Long = 42L): Double = {
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    val base = if (fraction >= 1.0) assigned
      else assigned.sample(withReplacement = false, fraction, seed)
    val est = base
      .select(col(ClusterCol),
        posexplode(col(model.embCol)).as(Seq("__pos", "__v")))
      .groupBy(ClusterCol, "__pos").agg(avg(col("__v")).as("__m"))
      .collect()
    val means = Array.fill(model.k)(new Array[Double](dim))
    val seen = new Array[Boolean](model.k)
    est.foreach { r =>
      val c = r.getInt(0)
      means(c)(r.getInt(1)) = r.getDouble(2)
      seen(c) = true
    }
    val shifts = model.centroids.indices.filter(seen).map { c =>
      var s = 0.0; var i = 0
      while (i < dim) {
        val d = model.centroids(c)(i).toDouble - means(c)(i); s += d * d; i += 1
      }
      math.sqrt(s)
    }
    if (shifts.isEmpty) 0.0 else shifts.sum / shifts.length
  }

  /** Streaming maintenance step (B5 + explicit re-train trigger): assign
    * the snapshot with the possibly-stale model; when mean centroid
    * drift exceeds `driftThreshold`, re-train (B4) and re-assign.
    * Returns (assigned rows, current model, whether a rebuild fired) —
    * wire it into `StreamingIngest.upsertStream(onFlush = ...)` as the
    * index-refresh analog of the reference's threshold save
    * (indexing_service.py:77-89). */
  def maintain(snapshot: DataFrame, model: Model, k: Int,
               driftThreshold: Double, seed: Long = 42L,
               driftFraction: Double = 1.0,
               sampleSize: Int = DefaultSampleSize): (DataFrame, Model, Boolean) = {
    val assigned = assign(snapshot, model)
    val d = drift(assigned, model, driftFraction, seed)
    if (d > driftThreshold) {
      val (re, m2) = build(snapshot, model.embCol, k, seed, sampleSize = sampleSize)
      (re, m2, true)
    } else (assigned, model, false)
  }

  /** Oracle-twin Lloyd refinement step: per-(cluster, dimension)
    * component sums, counts, and means, computed with a *sequential
    * in-id-order fold* so the doubles are bit-exact and
    * engine-independent. The production estimate ([[drift]]) streams an
    * avg — same semantics, order-dependent last bits; this ordered
    * variant exists so the k-means UPDATE arithmetic (assign → per-
    * cluster mean) can be pinned to a SQL oracle, the way
    * `o6_ivf_fixed` pins the assignment argmin. Collects each
    * cluster-dim cell's values into one in-memory array — bounded
    * inputs only, not the 100 TB path. Output: cluster_id, dim_pos
    * (1-based), comp_sum, n, comp_mean. Empty clusters emit nothing. */
  def lloydStepOrdered(assigned: DataFrame, idCol: String, embCol: String): DataFrame =
    assigned
      .select(col(ClusterCol), col(idCol).cast("long").as("__id"),
        posexplode(col(embCol)).as(Seq("__pos", "__v")))
      .groupBy(col(ClusterCol), col("__pos"))
      .agg(
        array_sort(collect_list(struct(col("__id"),
          col("__v").cast("double").as("__d")))).as("__l"),
        count(lit(1)).as("n"))
      .select(col(ClusterCol).cast("long").as("cluster_id"),
        (col("__pos") + 1).cast("long").as("dim_pos"),
        aggregate(transform(col("__l"), x => x("__d")), lit(0.0d),
          (acc, x) => acc + x).as("comp_sum"),
        col("n"))
      .withColumn("comp_mean", col("comp_sum") / col("n").cast("double"))

  /** B6: delete by id — tombstone-free filter rewrite (SURVEY B2/B6). */
  def delete(assigned: DataFrame, idCol: String, ids: Seq[Long]): DataFrame =
    assigned.filter(!col(idCol).isin(ids: _*))

  /** B7: cluster stats (min/max/avg/total over list sizes, ivf.py:207-215). */
  def clusterStats(assigned: DataFrame): DataFrame =
    assigned.groupBy(ClusterCol).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("min_size"), max(col("c")).as("max_size"),
        avg(col("c")).as("avg_size"), sum(col("c")).as("total"))

  /** B11: model persistence (centroid table round-trip). */
  def save(model: Model, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String, embCol: String): Model = {
    val rows = spark.read.parquet(path)
      .orderBy("centroid_id").collect()
      .map(r => r.getSeq[Float](1).toArray)
    Model(rows, embCol)
  }
}
