package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** HNSW-equivalent ANN: per-partition small-world graphs built inside
  * `mapPartitions`, searched per-partition, merged with a global top-k.
  *
  * Capability parity with the reference's HNSW (`indexing/hnsw.py`):
  * insert (B1, hnsw.py:143-225), bulk build (B3, hnsw.py:279-287),
  * delete via filter + dangling-id tolerance (B2, hnsw.py:227-277),
  * top-k search with ef beam (O3-O5, hnsw.py:79-374), edges persistence
  * (B11, hnsw.py:376-423). The graph algorithm itself is written from
  * the published HNSW construction (Malkov & Yashunin, arXiv:1603.09320):
  * geometric level sampling, greedy descent on upper layers, best-first
  * beam of width ef at the target layer, bidirectional M-edges with
  * neighbor pruning.
  *
  * Distributed design: a global pointer-chasing graph does not fit
  * Spark's execution model, so each partition holds an independent
  * graph over its shard (SURVEY §7 step 7). Each shard returns its own
  * top-k; the merge is exact over shard candidates, so shard recall
  * composes — per-partition recall r gives ≥ r overall. Acceptance is
  * the reference's own contract: recall ≥ 0.7 vs exact on ≥ 80% of
  * queries (test_hnsw.py:141-153), not structural identity.
  *
  * Scale: build is embarrassingly parallel per shard. A store
  * ([[graft.VectorStore.searchHnsw]]) reconstructs each shard graph
  * from the persisted edges once per build, refresh or compaction and
  * holds it on the executors ([[holdShards]], persisted MEMORY_ONLY);
  * every search then touches ~ef·M nodes per shard, and writes since
  * the hold reach the shards as a shadow bounded by the live delta
  * tail. [[searchEdges]] reconstructs per call, holding nothing. What
  * is held is what each query used to rebuild and drop: per shard its
  * graph — a shard of s vectors holds ~s·(4·dim + 16·M levels) bytes
  * (~110 MB at 10M rows / 32 parts / dim 64 / M=8) — plus its rows
  * past the build watermark, so held memory is the corpus split
  * `numPartitions` ways; size partitions to executor memory, not to
  * core count. Under memory pressure Spark drops held blocks and
  * recomputes them from lineage, which costs what a search cost
  * before the hold. For serving-size corpora prefer IVF (O6) — this
  * operator exists for capability parity and for in-memory-shard
  * regimes.
  *
  * Measured quality knobs (ScaleProbe `hnsw_*`, uniform-random 64-dim —
  * the distance-concentration worst case; recall@10 vs exact over 10
  * queries): the cheap maintenance config m=8/efC=50 that is fine at
  * bench N degrades at corpus scale — at 1M it misses the gate at
  * ef=100 (7/10 ≥ 0.7) and recovers at ef=200 (9/10) / ef=400 (10/10);
  * at 10M it needs the reference-default build m=16/efC=200. On the
  * m16/efC200 build the API-DEFAULT beam ef=50 (GraftConfig.ef) is
  * itself scale-bounded: it passes at 1M/32 shards (9/10, mean 0.78)
  * and fails at 10M/32 (4/10, mean 0.57), where ef=100 passes (9/10,
  * 0.82), ef=200 10/10 (0.88), ef=400 10/10 (0.95). Hence
  * [[scaledEf]]: the default-taking search paths widen the beam as
  * perShardN^0.30 past the measured 31,250-rows/shard anchor. Build
  * cost trade at 1M/32 parts: 25.9 s (m8/efC50) vs 188.5 s
  * (m16/efC200). Raise ef first (search-time, no rebuild), then
  * M/efConstruction.
  */
object Hnsw {

  case class Params(m: Int = 16, efConstruction: Int = 200, ef: Int = 50,
                    seed: Long = 42L)

  /** Measured anchor for the default search beam (ScaleProbe
    * `hnsw_recall_sweep_m16`, uniform-random 64-dim, m=16/efC=200,
    * 32 shards): ef=50 holds the reference recall gate
    * (test_hnsw.py:141-153) at per-shard N = 31,250 (1M rows: 9/10
    * queries ≥ 0.7@10, mean 0.78) and FAILS it at per-shard
    * N = 312,500 (10M rows: 4/10, mean 0.57), where doubling the beam
    * passes (ef=100: 9/10, mean 0.82). */
  val EfAnchorShardN: Long = 31250L

  /** Power-law fit through the two measured (per-shard N, ef-needed)
    * points above: ef grows as perShardN^0.30 (= ln 2 / ln 10 — the
    * beam doubles per decade of shard size). */
  val EfScaleExponent: Double = 0.30

  /** Scale a search beam with per-shard corpus size so the DEFAULT
    * `ef` keeps the measured recall gate as the corpus grows: identity
    * at/below the measured anchor shard size, `ef ·
    * (perShardN/anchor)^0.30` (rounded up) above it. Callers that set
    * ef explicitly should pass their value through unscaled. */
  def scaledEf(ef: Int, n: Long, numPartitions: Int): Int = {
    val perShard = math.max(n / math.max(numPartitions, 1), 1L)
    if (perShard <= EfAnchorShardN) ef
    else math.ceil(ef *
      math.pow(perShard.toDouble / EfAnchorShardN, EfScaleExponent)).toInt
  }

  /** L2 distance in double precision, summed left to right — the same
    * operation sequence as [[Search.knnExact]]'s kernel, so a graph
    * distance and an exact-scan distance of one pair are equal bits. */
  private[graft] def l2(a: Array[Float], b: Array[Float]): Double = l2(a, b, 0)

  /** [[l2]] between `a` and the `a.length` floats of `m` from `off`: a
    * row of a packed matrix. */
  private[graft] def l2(a: Array[Float], m: Array[Float], off: Int): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - m(off + i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** A node's vector as one search sees it: null when the node is absent. */
  private type View = Long => Array[Float]

  /** Stands for "no shadow row" in a shadow lookup (a null row means absent). */
  private val Unshadowed = new Array[Float](0)
  private val NoLinks = Array.empty[mutable.ArrayBuffer[Long]]

  /** Partition-local HNSW graph (standard algorithm, double-precision
    * distances, (dist, id) tie-break everywhere). */
  final class LocalGraph(params: Params, rng: scala.util.Random) {
    val m: Int = params.m
    val maxM: Int = params.m
    val maxM0: Int = 2 * params.m
    private val levelMult: Double = 1.0 / math.log(m.toDouble)

    val vectors = mutable.LongMap.empty[Array[Float]]
    // neighbors(id)(level) = buffer of neighbor ids
    val neighbors = mutable.LongMap.empty[Array[mutable.ArrayBuffer[Long]]]
    var entryPoint: Long = -1L
    var maxLevel: Int = -1

    def size: Int = vectors.size

    private val own: View = id => vectors.getOrNull(id)
    private def links(id: Long) = neighbors.getOrElse(id, NoLinks)
    private def levelOf(id: Long): Int = math.max(links(id).length - 1, 0)

    private def sampleLevel(): Int =
      math.floor(-math.log(rng.nextDouble() max Double.MinPositiveValue) * levelMult).toInt

    /** Greedy hill-climb at one level (upper-layer descent). */
    private def greedyStep(q: Array[Float], start: Long, level: Int, view: View): Long = {
      var curr = start
      var currDist = l2(q, view(curr))
      var improved = true
      while (improved) {
        improved = false
        val ns = links(curr)
        if (level < ns.length) {
          ns(level).foreach { nb =>
            val v = view(nb)
            if (v != null) {
              val d = l2(q, v)
              if (d < currDist || (d == currDist && nb < curr)) {
                curr = nb; currDist = d; improved = true
              }
            }
          }
        }
      }
      curr
    }

    /** Best-first beam search of width ef at one level. Returns (dist, id)
      * ascending. */
    private def searchLayer(q: Array[Float], entry: Long, ef: Int, level: Int,
                            view: View): mutable.ArrayBuffer[(Double, Long)] = {
      val visited = mutable.HashSet[Long](entry)
      implicit val ord: Ordering[(Double, Long)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      val candidates = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse) // min-heap
      val results = mutable.PriorityQueue.empty[(Double, Long)](ord)           // max-heap of best ef
      val d0 = l2(q, view(entry))
      candidates.enqueue((d0, entry)); results.enqueue((d0, entry))
      while (candidates.nonEmpty) {
        val (cd, cid) = candidates.dequeue()
        if (cd > results.head._1 && results.size >= ef) {
          candidates.clear() // early termination: next candidate can't improve
        } else {
          val ns = links(cid)
          if (level < ns.length) {
            ns(level).foreach { nb =>
              val v = if (visited.contains(nb)) null else view(nb)
              if (v != null) {
                visited += nb
                val d = l2(q, v)
                if (results.size < ef || d < results.head._1) {
                  candidates.enqueue((d, nb))
                  results.enqueue((d, nb))
                  if (results.size > ef) results.dequeue()
                }
              }
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.from(results)
      out.sortInPlace()
      out
    }

    /** Keep the M closest of a candidate set (simple pruning heuristic).
      * Dangling ids are dropped, not scored: a graph reconstructed from
      * persisted adjacency over a DELETE-filtered vector table carries
      * tombstoned neighbors in its lists (the same B2 tolerance the
      * search paths apply, hnsw.py:370-373), and an incremental insert
      * prunes exactly those lists — on a freshly built graph every
      * candidate is present and the filter is a no-op. */
    private def selectNeighbors(q: Array[Float], cands: Seq[Long], count: Int): Seq[Long] =
      cands.distinct.filter(vectors.contains)
        .map(c => (l2(q, vectors(c)), c)).sorted.take(count).map(_._2)

    def insert(id: Long, vec: Array[Float]): Unit = {
      if (vectors.contains(id)) return // idempotent re-insert (hnsw.py:152-155)
      ranked = null
      val level = sampleLevel()
      vectors(id) = vec
      neighbors(id) = Array.fill(level + 1)(mutable.ArrayBuffer.empty[Long])
      if (entryPoint < 0) { entryPoint = id; maxLevel = level; return }
      var curr = entryPoint
      var l = maxLevel
      while (l > level) { curr = greedyStep(vec, curr, l, own); l -= 1 }
      l = math.min(level, maxLevel)
      while (l >= 0) {
        val cands = searchLayer(vec, curr, params.efConstruction, l, own)
        val selected = selectNeighbors(vec, cands.map(_._2).toSeq, m)
        val cap = if (l == 0) maxM0 else maxM
        selected.foreach { nb =>
          neighbors(id)(l) += nb
          val nbLists = neighbors(nb)
          if (l < nbLists.length) {
            nbLists(l) += id
            if (nbLists(l).length > cap) {
              val pruned = selectNeighbors(vectors(nb), nbLists(l).toSeq, cap)
              nbLists(l) = mutable.ArrayBuffer.from(pruned)
            }
          }
        }
        curr = if (cands.nonEmpty) cands.head._2 else curr
        l -= 1
      }
      if (level > maxLevel) { maxLevel = level; entryPoint = id }
    }

    /** The vectors' ids by entry rank — highest level first, lowest id on
      * ties — computed on the first shadowed search, dropped by insert. */
    @volatile private var ranked: Array[Long] = null
    private def rankedIds: Array[Long] = {
      var r = ranked
      if (r == null) {
        r = vectors.keysIterator.toArray
          .sortBy(id => (-levelOf(id), id))(Ordering.Tuple2(Ordering.Int, Ordering.Long))
        ranked = r
      }
      r
    }

    /** Top-k by (dist, id). The walk sees the graph through `shadow`: a
      * row there replaces its id's vector, or removes the id when null,
      * and may bring in an id with adjacency but no vector here. The
      * entry point is the present node of highest level, lowest id on
      * ties (the reference's re-election rule, hnsw.py:250-269) — with
      * no shadow that is the entry point the build or [[reconstruct]]
      * left. */
    def search(q: Array[Float], k: Int, ef: Int,
               shadow: mutable.LongMap[Array[Float]] = mutable.LongMap.empty): Seq[(Long, Double)] = {
      val view: View =
        if (shadow.isEmpty) own
        else id => {
          val s = shadow.getOrElse(id, Unshadowed)
          if (s eq Unshadowed) vectors.getOrNull(id) else s
        }
      var entry = -1L
      var top = -1
      if (shadow.isEmpty) { entry = entryPoint; top = maxLevel }
      else {
        val r = rankedIds
        var i = 0
        while (entry < 0 && i < r.length) {
          if (view(r(i)) != null) { entry = r(i); top = levelOf(entry) }
          i += 1
        }
        shadow.foreachEntry { (id, v) =>
          if (v != null && !vectors.contains(id)) {
            val l = levelOf(id)
            if (l > top || (l == top && (entry < 0 || id < entry))) { entry = id; top = l }
          }
        }
      }
      if (entry < 0) return Seq.empty
      var curr = entry
      var l = top
      while (l > 0) { curr = greedyStep(q, curr, l, view); l -= 1 }
      searchLayer(q, curr, math.max(ef, k), 0, view)
        .take(k).map { case (d, id) => (id, d) }.toSeq
    }
  }

  /** B1/B3: build per-partition graphs and emit the edges table
    * (partition_id, src, level, dst) — the persistable index artifact
    * (the analog of the reference's pickled adjacency, hnsw.py:381-398). */
  def buildEdges(df: DataFrame, idCol: String, embCol: String,
                 params: Params = Params(), numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = partsOr(spark, numPartitions)
    // the shard id is an EXPLICIT column — [[shardOf]], the exact
    // mapping [[holdShards]]/[[insertEdges]] re-derive — and
    // the graph builder reads pid OFF THE ROWS, never from
    // TaskContext.getPartitionId: when an upstream exchange already
    // satisfies hashpartitioning(pid, parts) the repartition may elide
    // and AQE may coalesce small post-shuffle partitions, but a pid
    // group always stays whole within one task, so grouping rows by
    // their pid column inside mapPartitions is correct under any
    // exchange shape (the r15 TaskContext form silently mislabeled
    // shards exactly when the exchange elided; the r16 groupByKey form
    // fixed that but shipped Dataset-encoded tuples through an
    // un-combinable shuffle — 2× on b1_hnsw_edges. This shape keeps the
    // columnar exchange AND the explicit label; per-shard rng and
    // sorted-id insert order are unchanged, so the graph is
    // bit-identical).
    df.select(shardOf(col(idCol), parts).as("pid"),
        col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .repartition(parts, col("pid"))
      .mapPartitions { rows =>
        val byPid = mutable.HashMap
          .empty[Int, mutable.ArrayBuffer[(Long, Array[Float])]]
        rows.foreach { r =>
          byPid.getOrElseUpdate(r.getInt(0), mutable.ArrayBuffer.empty) +=
            ((r.getLong(1), r.getSeq[Float](2).toArray))
        }
        byPid.iterator.flatMap { case (pid, vecs) =>
          val g = buildLocal(vecs.iterator, params, pid)
          g.neighbors.iterator.flatMap { case (src, levels) =>
            levels.iterator.zipWithIndex.flatMap { case (nbs, level) =>
              nbs.iterator.map(dst => (pid, src, level, dst))
            }
          }
        }
      }.toDF("partition_id", "src", "level", "dst")
  }

  private def buildLocal(rows: Iterator[(Long, Array[Float])], params: Params,
                         pid: Int): LocalGraph = {
    val rng = new scala.util.Random(params.seed + pid)
    val g = new LocalGraph(params, rng)
    // deterministic build order: sort the shard by id before inserting
    rows.toSeq.sortBy(_._1)
      .foreach { case (id, v) => g.insert(id, v) }
    g
  }

  /** O3: batch top-k search. Builds shard graphs and searches all queries
    * in one pass; exact merge of shard candidates via per-query window.
    * Queries are broadcast (small side). */
  def searchBatch(df: DataFrame, idCol: String, embCol: String,
                  queries: Seq[(Long, Array[Float])], k: Int, ef: Int = 50,
                  params: Params = Params(), numPartitions: Int = 0,
                  filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = partsOr(spark, numPartitions)
    val bq = spark.sparkContext.broadcast(queries)
    // pre-filtering (the reference's exclusion semantics,
    // test_search_api.py:149-172: non-matching docs must NEVER appear):
    // the predicate composes before the graph is built, so it pushes into
    // the scan and filtered-out ids are structurally absent — zero
    // violations by construction, and the beam never wastes width on them
    val local = filter.fold(df)(df.filter)
      .select(col(idCol).cast("long"), col(embCol))
      .repartition(parts, col(idCol))
      .mapPartitions { rows =>
        // pid here is only the per-shard rng seed of this TRANSIENT
        // graph (build + search in one task, nothing persisted), so the
        // task partition id is a valid shard label — unlike buildEdges,
        // where the persisted id must match the serve-time re-shard
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val g = buildLocal(rows.map(r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)), params, pid)
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, ef).iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("query_id", "id", "dist")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    local.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Single-query convenience (reference /search path). */
  def search(df: DataFrame, idCol: String, embCol: String, query: Seq[Float],
             k: Int, ef: Int = 50, params: Params = Params(),
             filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchBatch(df, idCol, embCol, Seq((0L, query.toArray)), k, ef, params,
        filter = filter)
      .drop("query_id")

  /** B2: delete = filter; searches tolerate dangling ids by construction
    * (per-partition graphs are rebuilt from the filtered table). */
  def delete(df: DataFrame, idCol: String, ids: Seq[Long]): DataFrame =
    df.filter(!col(idCol).isin(ids: _*))

  /** O3 over a PERSISTED index (the B11 load path): reconstruct each
    * shard's graph from the edges table emitted by [[buildEdges]] plus
    * the vector table ([[holdShards]], not persisted here), search
    * without re-running graph construction.
    *
    * `numPartitions` must be the value used at build time: vectors are
    * re-keyed to their shard with the same hash partitioning
    * ([[shardOf]]), so each shard's adjacency meets its own vectors.
    * The per-shard entry point is re-elected as the node with the
    * highest level (lowest id on ties) — the reference's re-election
    * rule (hnsw.py:250-269). Dangling edge targets are skipped by the
    * search, so a filtered/compacted vector table works unchanged. */
  def searchEdges(edges: DataFrame, vectors: DataFrame, idCol: String,
                  embCol: String, queries: Seq[(Long, Array[Float])], k: Int,
                  ef: Int = 50, numPartitions: Int = 0,
                  params: Params = Params()): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(queries)
    val local = holdShards(edges, vectors, idCol, embCol, numPartitions, params)
      .flatMap { s =>
        bq.value.iterator.flatMap { case (qid, qv) =>
          s.graph.search(qv, k, ef).iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("query_id", "id", "dist")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    local.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The shard of an id: pmod(murmur3(long id), parts) — exactly
    * HashPartitioning's id expression. It hashes the CASTED long, as
    * [[buildEdges]] does: murmur3 hashes int and long inputs
    * differently, and hashing the raw column would strand every vector
    * of a non-bigint id column in the wrong shard (adjacency/vector
    * mismatch → silently degraded results). */
  private def shardOf(id: Column, parts: Int): Column =
    pmod(hash(id.cast("long")), lit(parts))

  /** [[shardOf]] of one id, computed on the Spark driver: `hash`'s
    * murmur3 of a long under its seed 42, then `pmod`. */
  private[graft] def shardOf(id: Long, parts: Int): Int =
    Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42), parts)

  private def partsOr(spark: SparkSession, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism

  /** One shard of a persisted graph, reconstructed once: the graph over
    * the shard's vectors below `watermark` (with the adjacency of every
    * persisted src) and the shard's rows at or above it, which a search
    * scans exactly. */
  final class Shard(val pid: Int, val graph: LocalGraph, watermark: Long,
                    post: Array[(Long, Array[Float])]) {
    /** The graph walk's top `kGraph` and the exact scan's top `kPost`,
      * each (id, dist) ascending by (dist, id). Both see the shard
      * through `shadow` — its rows of a store's live tail, a null vector
      * marking the id absent: below the watermark a row replaces or
      * removes a graph node ([[LocalGraph.search]]), at or above it a
      * row replaces or removes a scanned row, or adds one. */
    def search(q: Array[Float], kGraph: Int, ef: Int, kPost: Int,
               shadow: Array[(Long, Array[Float])]): (Seq[(Long, Double)], Seq[(Long, Double)]) = {
      val below = mutable.LongMap.empty[Array[Float]]
      val above = mutable.LongMap.empty[Array[Float]]
      shadow.foreach { case (id, v) => if (id < watermark) below(id) = v else above(id) = v }
      val walked = if (kGraph > 0) graph.search(q, kGraph, ef, below) else Seq.empty
      val scanned = post.iterator.filterNot(r => above.contains(r._1)) ++
        above.iterator.filter(_._2 != null)
      (walked, topK(scanned.map { case (id, v) => (id, l2(q, v)) }, kPost))
    }
  }

  private val ByDistId: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](h => (h._2, h._1))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))

  /** The `k` least (id, dist) hits by (dist, id), ascending. */
  private[graft] def topK(hits: Iterator[(Long, Double)], k: Int): Seq[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Long, Double)](ByDistId)
    hits.foreach { h =>
      if (heap.size < k) heap.enqueue(h)
      else if (k > 0 && ByDistId.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
    }
    heap.toSeq.sorted(ByDistId)
  }

  /** Reconstruct every shard of a persisted graph, once: vector rows
    * (keyed by [[shardOf]]), edge rows (keyed by their partition_id)
    * and one marker row per shard id go through ONE exchange on the
    * shard id and are grouped by it inside each partition. Each
    * adjacency list keeps its persisted order, and every shard id in
    * [0, numPartitions) gets a [[Shard]], even one with no rows yet.
    * Vector rows below `watermark` are graph nodes, the rest the
    * shard's exact-scan list. Nothing is persisted here: a caller that
    * searches many times persists the result. */
  def holdShards(edges: DataFrame, vectors: DataFrame, idCol: String,
                 embCol: String, numPartitions: Int = 0, params: Params = Params(),
                 watermark: Long = Long.MaxValue): RDD[Shard] = {
    val spark = vectors.sparkSession
    val parts = partsOr(spark, numPartitions)
    val none = lit(null)
    val vs = vectors.select(shardOf(col(idCol), parts).as("pid"),
      col(idCol).cast("long").as("id"), col(embCol).cast("array<float>").as("emb"),
      none.cast("int").as("level"), none.cast("long").as("dst"))
    val es = edges.select(col("partition_id").cast("int").as("pid"),
      col("src").cast("long").as("id"), none.cast("array<float>").as("emb"),
      col("level").cast("int").as("level"), col("dst").cast("long").as("dst"))
    val marks = spark.range(parts).select(col("id").cast("int").as("pid"),
      none.cast("long").as("id"), none.cast("array<float>").as("emb"),
      none.cast("int").as("level"), none.cast("long").as("dst"))
    vs.unionByName(es).unionByName(marks)
      .repartition(parts, col("pid")).rdd
      .mapPartitions { rows =>
        val byPid = mutable.HashMap.empty[Int,
          (mutable.ArrayBuffer[(Long, Array[Float])], mutable.ArrayBuffer[(Long, Int, Long)])]
        rows.foreach { r =>
          val (vecs, adj) = byPid.getOrElseUpdate(r.getInt(0),
            (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
          if (!r.isNullAt(3)) adj += ((r.getLong(1), r.getInt(3), r.getLong(4)))
          else if (!r.isNullAt(1)) vecs += ((r.getLong(1), r.getSeq[Float](2).toArray))
        }
        byPid.iterator.map { case (pid, (vecs, adj)) =>
          val (below, post) = vecs.partition(_._1 < watermark)
          new Shard(pid, reconstruct(pid, params, below.iterator, adj.iterator),
            watermark, post.toArray)
        }
      }
  }

  /** Rows that shadow held shards, by shard id: (id, vector), a null
    * vector marking the id absent. */
  private[graft] type Shadow = Map[Int, Array[(Long, Array[Float])]]

  /** Collect `rows` (`idCol`, `embCol`; a null embedding marks the id
    * absent) to the Spark driver as a [[Shadow]] over `numPartitions`
    * shards. The driver holds exactly these rows, so callers bound them. */
  private[graft] def collectShadow(rows: DataFrame, idCol: String, embCol: String,
                    numPartitions: Int): Shadow =
    rows.select(shardOf(col(idCol), numPartitions), col(idCol).cast("long"),
        col(embCol)).collect()
      .groupBy(_.getInt(0)).map { case (pid, rs) =>
        pid -> rs.map(r => (r.getLong(1),
          if (r.isNullAt(2)) null else r.getSeq[Float](2).toArray))
      }

  /** One job over `shards` ([[holdShards]]) seen through `shadow`: the
    * graph side's global top `kGraph` and the exact-scan side's global
    * top `kPost`, each (id, dist) ascending by (dist, id) — the
    * per-shard tops of [[Shard.search]], merged on the Spark driver. */
  private[graft] def searchShards(shards: RDD[Shard], shadow: Broadcast[Shadow],
                   query: Array[Float], kGraph: Int, ef: Int,
                   kPost: Int): (Seq[(Long, Double)], Seq[(Long, Double)]) =
    merge(shards.map { s =>
      s.search(query, kGraph, ef, kPost, shadow.value.getOrElse(s.pid, Array.empty))
    }.collect(), kGraph, kPost)

  /** [[searchShards]] over shards held on the Spark driver
    * ([[driverShards]]): no job. */
  private[graft] def searchDriverShards(shards: Array[Shard], shadow: Shadow,
                   query: Array[Float], kGraph: Int, ef: Int,
                   kPost: Int): (Seq[(Long, Double)], Seq[(Long, Double)]) =
    merge(shards.map(s => s.search(query, kGraph, ef, kPost,
      shadow.getOrElse(s.pid, Array.empty))), kGraph, kPost)

  private def merge(hits: Array[(Seq[(Long, Double)], Seq[(Long, Double)])], kGraph: Int,
                    kPost: Int): (Seq[(Long, Double)], Seq[(Long, Double)]) =
    (topK(hits.iterator.flatMap(_._1), kGraph), topK(hits.iterator.flatMap(_._2), kPost))

  /** [[holdShards]] on the Spark driver, from rows and edges already
    * there: the vectors keyed by [[shardOf]], the edges (partition_id,
    * src, level, dst) by their partition_id in the order given, and the
    * same [[reconstruct]] per shard id in [0, numPartitions). */
  private[graft] def driverShards(vectors: Iterator[(Long, Array[Float])],
                                  edges: Iterator[(Int, Long, Int, Long)], numPartitions: Int,
                                  params: Params, watermark: Long): Array[Shard] = {
    val vecs = Array.fill(numPartitions)(mutable.ArrayBuffer.empty[(Long, Array[Float])])
    val adj = Array.fill(numPartitions)(mutable.ArrayBuffer.empty[(Long, Int, Long)])
    vectors.foreach { v => vecs(shardOf(v._1, numPartitions)) += v }
    edges.foreach { case (pid, src, level, dst) =>
      if (pid >= 0 && pid < numPartitions) adj(pid) += ((src, level, dst))
    }
    Array.tabulate(numPartitions) { pid =>
      val (below, post) = vecs(pid).partition(_._1 < watermark)
      new Shard(pid, reconstruct(pid, params, below.iterator, adj(pid).iterator),
        watermark, post.toArray)
    }
  }

  /** Rebuild one shard's graph from its vectors + persisted adjacency.
    * Every src keeps its adjacency, with or without a vector here (a
    * search's shadow may bring the vector in); a vector without
    * adjacency is a level-0 node with no links. The entry point is
    * re-elected among the vectors as the highest-level node, lowest id
    * on ties (the reference's re-election rule, hnsw.py:250-269). */
  private def reconstruct(pid: Int, params: Params,
                          vecs: Iterator[(Long, Array[Float])],
                          es: Iterator[(Long, Int, Long)]): LocalGraph = {
    val g = new LocalGraph(params, new scala.util.Random(params.seed + pid))
    vecs.foreach { case (id, emb) => g.vectors(id) = emb }
    val adj = mutable.LongMap.empty[mutable.Map[Int, mutable.ArrayBuffer[Long]]]
    es.foreach { case (src, level, dst) =>
      adj.getOrElseUpdate(src, mutable.Map.empty)
        .getOrElseUpdate(level, mutable.ArrayBuffer.empty) += dst
    }
    adj.foreachEntry { (id, byLevel) =>
      g.neighbors(id) = Array.tabulate(byLevel.keysIterator.max + 1)(l =>
        byLevel.getOrElse(l, mutable.ArrayBuffer.empty))
    }
    g.vectors.keysIterator.foreach { id =>
      if (!g.neighbors.contains(id))
        g.neighbors(id) = Array(mutable.ArrayBuffer.empty[Long])
    }
    if (g.vectors.nonEmpty) {
      val (ep, lvl) = g.vectors.keysIterator
        .map(id => (id, g.neighbors(id).length - 1))
        .foldLeft((-1L, -1)) { case ((bi, bl), (i, l)) =>
          if (l > bl || (l == bl && (bi < 0 || i < bi))) (i, l) else (bi, bl)
        }
      g.entryPoint = ep
      g.maxLevel = lvl
    }
    g
  }

  /** B1 incremental (the reference's live-graph insert, hnsw.py:143-225):
    * insert a batch of NEW vectors into persisted shard graphs and emit
    * the updated edges table — no full rebuild. Each new row is routed to
    * its shard by the same hash as [[buildEdges]]; the shard graph is
    * reconstructed from its edges, the batch inserted in sorted-id order
    * (deterministic), and the whole shard's adjacency re-emitted. Ids
    * already present in the graph are idempotent no-ops (hnsw.py:152-155
    * — changed vectors require delete + insert).
    *
    * Scale: the shuffle carries each shard's vectors + adjacency once per
    * batch — the right trade when batches are much smaller than the
    * corpus (the streaming-flush shape); for bulk loads prefer
    * [[buildEdges]]. `numPartitions` must match the build. */
  def insertEdges(edges: DataFrame, vectors: DataFrame, newRows: DataFrame,
                  idCol: String, embCol: String, numPartitions: Int = 0,
                  params: Params = Params()): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val parts = partsOr(spark, numPartitions)
    def keyed(df: DataFrame, isNew: Boolean) = df
      .select(shardOf(col(idCol), parts).as("pid"),
        col(idCol).cast("long").as("id"), col(embCol).as("emb"),
        lit(isNew).as("is_new"))
    val vds = keyed(vectors, isNew = false)
      .unionByName(keyed(newRows, isNew = true))
      .as[(Int, Long, Seq[Float], Boolean)]
    val eds = edges.select(col("partition_id").cast("int"),
        col("src").cast("long"), col("level").cast("int"), col("dst").cast("long"))
      .as[(Int, Long, Int, Long)]
    vds.groupByKey(_._1).cogroup(eds.groupByKey(_._1)) { (pid, vs, es) =>
      val fresh = mutable.ArrayBuffer.empty[(Long, Array[Float])]
      val existing = mutable.ArrayBuffer.empty[(Long, Array[Float])]
      vs.foreach { case (_, id, emb, isNew) =>
        if (isNew) fresh += ((id, emb.toArray)) else existing += ((id, emb.toArray))
      }
      val g = reconstruct(pid, params, existing.iterator,
        es.map { case (_, src, level, dst) => (src, level, dst) })
      fresh.sortInPlaceBy(_._1).foreach { case (id, v) => g.insert(id, v) }
      // the adjacency of srcs whose vectors are gone is not re-emitted
      g.neighbors.iterator.filter(e => g.vectors.contains(e._1)).flatMap { case (src, levels) =>
        levels.iterator.zipWithIndex.flatMap { case (nbs, level) =>
          nbs.iterator.map(dst => (pid, src, level, dst))
        }
      }
    }.toDF("partition_id", "src", "level", "dst")
  }

  /** Streaming-flush hook (B10 → B1): bring a persisted edges snapshot up
    * to date with the current vector snapshot by inserting only the ids
    * the graph hasn't seen — the incremental analog of the reference's
    * per-flush index save (indexing_service.py:77-89). First flush builds
    * from scratch. Publish is crash-safe ([[graft.core.SnapshotIO]]). */
  def refreshEdges(vectors: DataFrame, edgesDir: String, idCol: String,
                   embCol: String, numPartitions: Int,
                   params: Params = Params()): Unit = {
    val spark = vectors.sparkSession
    val updated = graft.core.SnapshotIO.read(spark, edgesDir) match {
      case None => buildEdges(vectors, idCol, embCol, params, numPartitions)
      case Some(edges) =>
        // known = every id the graph has adjacency for (edge-isolated
        // nodes of single-node shards simply re-insert — idempotent);
        // the existing/fresh split must be disjoint: a fresh id loaded
        // as "existing" would make its insert a no-op and leave it
        // permanently unlinked
        val known = edges.select(col("src").as("__known")).distinct()
        val onId = vectors(idCol).cast("long") === col("__known")
        val fresh = vectors.join(known, onId, "left_anti")
        val linked = vectors.join(known, onId, "left_semi")
        insertEdges(edges, linked, fresh, idCol, embCol, numPartitions, params)
    }
    graft.core.SnapshotIO.publish(updated, edgesDir)
  }
}
