package graft

import graft.core.Tables
import graft.functions.HashingEmbedder
import graft.operators.{Bq, Crud, Hnsw, Ivf, IvfPq, Lsh, Pq, Search, Sq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public library facade — the engine's analog of the reference's
  * embedded `MemoryMappingService` (`inference/mmap_vector_store.py:12-177`):
  * open a store at a path, write/read/delete/search, with index build
  * (IVF/PQ/HNSW) as explicit batch operations.
  *
  * Everything is a DataFrame→DataFrame transformation over a
  * merge-on-read delta log ([[graft.core.DeltaLog]]: compacted base +
  * per-mutation delta dirs). Driver-side state is the store path and a
  * few derived values memoized on what is on disk ([[memo]]): the live
  * row count and per-filter BQ thresholds on the log version, the HNSW
  * build row on the files of `hnsw_model`, the hierarchical IVF serve
  * model on the files of `ivf_model` and `ivf_supers`. Mutations
  * (ingest/delete) are O(batch) delta appends — the reference's save
  * is likewise an O(1) slot write (storage.py:198-230) — and
  * [[compact]] folds the tail on the caller's cadence. Pre-delta
  * stores (plain snapshot at the vectors root) are adopted by renames
  * on first read.
  */
class VectorStore private (val spark: SparkSession, val path: String,
                           val dim: Int) {

  private def dataPath = s"$path/vectors"
  private def ivfModelPath = s"$path/ivf_model"
  private def ivfSupersPath = s"$path/ivf_supers"
  private def ivfDataPath = s"$path/vectors_by_cluster"

  // Tombstone SIDECARS for the persisted index tables: the IVF /
  // IVF-PQ layouts keep materialized rows, so a delete must reach
  // them too — but re-deriving the tombstone set from the corpus per
  // query would cost a linear id scan, defeating the tiers'
  // partition-pruned sublinearity. Instead each delete appends its id
  // list (O(|ids|) bytes) to a per-tier sidecar that searches
  // anti-join against (broadcast — sized by deletes since the last
  // build, not by the corpus); each build starts a fresh table and
  // clears its sidecar.
  private def ivfTombPath = s"$path/ivf_tombstones"
  private def ivfPqTombPath = s"$path/ivfpq_tombstones"
  private def appendIndexTombstones(ids: Seq[Long]): Unit = {
    import spark.implicits._
    lazy val df = ids.toDF("id")
    if (indexSuccessAt(ivfDataPath)) df.write.mode("append").parquet(ivfTombPath)
    if (indexSuccessAt(ivfPqDataPath)) df.write.mode("append").parquet(ivfPqTombPath)
  }
  /** Broadcast ceiling for the sidecar anti-join's build side: below it
    * the tombstone set ships to every task (no shuffle of the index
    * table); above it — a delete-heavy backlog, e.g. a curation pass
    * tombstoning 10% of a 10¹⁰-row corpus — forcing the hint would OOM
    * the driver/executors, so the join falls back to a shuffle
    * anti-join and lets AQE plan it. Compaction ([[compact]]) folds the
    * backlog away, so the big-sidecar regime is transient.
    *
    * The gate compares the sidecar's COMPRESSED on-disk bytes, but the
    * broadcast build side is the decoded distinct-long hash relation —
    * ~16 B/id plus relation overhead, several × the parquet footprint
    * (delta/dict-encoded ids compress hard). 16 MB on-disk therefore
    * bounds the materialized broadcast to low-hundreds-of-MB worst
    * case (r15 ADVICE: the previous 64 MB ceiling admitted multi-
    * hundred-MB broadcasts just under the line). */
  private val SidecarBroadcastMaxBytes = 16L * 1024 * 1024
  private def dropSidecarTombs(table: DataFrame, tombPath: String,
                               idCol: String = "id"): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tombPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(f.makeQualified(p))) table
    else {
      val tombs = spark.read.parquet(tombPath)
        .select(col("id").as("__tomb_id")).distinct()
      val side =
        if (f.getContentSummary(f.makeQualified(p)).getLength
              <= SidecarBroadcastMaxBytes) broadcast(tombs)
        else tombs
      table.join(side, col(idCol) === col("__tomb_id"), "left_anti")
    }
  }
  private def clearDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  // -----------------------------------------------------------------
  // Compact-time sidecar fold: [[compact]] rewrites each persisted
  // index table without its tombstoned ids and clears the sidecar —
  // the same amortization the delta log applies to the vector log, so
  // sidecars are bounded by deletes SINCE THE LAST COMPACT, not since
  // the last build. The fold's tombstone set is the sidecar UNION the
  // merged log's is_deleted ids, which also heals the delete() crash
  // window (delta landed, sidecar append lost → the id would resurface
  // from the IVF tiers forever; here it is dropped at the next
  // compact). Swap protocol (single-writer, crash-resumable):
  //   1. write kept rows → dataDir__fold (+_SUCCESS)
  //   2. rename dataDir → dataDir__dropped
  //   3. rename dataDir__fold → dataDir
  //   4. delete dataDir__dropped, clear sidecar
  // [[recoverIndexFold]] resumes: dataDir absent + complete __fold ⇒
  // redo step 3; dataDir present ⇒ drop leftovers (a pre-step-2 crash
  // left the sidecar in place, so the next compact refolds —
  // idempotent).
  // -----------------------------------------------------------------
  private def recoverIndexFold(dataDir: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def q(s: String) = f.makeQualified(new org.apache.hadoop.fs.Path(s))
    val data = q(dataDir); val tmp = q(s"${dataDir}__fold")
    val dropped = q(s"${dataDir}__dropped")
    if (!f.exists(data) &&
        f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      if (!f.rename(tmp, data) && !f.exists(data))
        throw new java.io.IOException(s"rename $tmp -> $data failed")
    }
    if (f.exists(data)) { f.delete(tmp, true); f.delete(dropped, true); () }
  }
  /** successAt for the swap-managed index tables: recovery first, so a
    * crash mid-fold reads as "tier present" again once resumable. */
  private def indexSuccessAt(dataDir: String): Boolean = {
    recoverIndexFold(dataDir)
    successAt(dataDir)
  }
  private def foldIndexTable(dataDir: String, tombDir: String,
                             deleted: DataFrame): Unit = {
    recoverIndexFold(dataDir)
    if (!successAt(dataDir)) return
    val f = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def q(s: String) = f.makeQualified(new org.apache.hadoop.fs.Path(s))
    val hasSidecar = f.exists(q(tombDir))
    val tombs = (if (hasSidecar)
        spark.read.parquet(tombDir).select(col("id").cast("long").as("id"))
          .unionByName(deleted)
      else deleted).distinct()
    if (tombs.isEmpty) { if (hasSidecar) clearDir(tombDir); return }
    val kept = spark.read.parquet(dataDir)
      .join(tombs.select(col("id").as("__tomb_id")),
        col("id") === col("__tomb_id"), "left_anti")
    val tmp = s"${dataDir}__fold"
    // same pre-shuffle as Ivf.writePartitioned: bounds the file count
    // by (writer-task × held-cluster), and the rewrite doubles as the
    // OPTIMIZE pass for incremental-append small files
    kept.repartition(col(Ivf.ClusterCol))
      .write.mode("overwrite").partitionBy(Ivf.ClusterCol).parquet(tmp)
    if (!f.rename(q(dataDir), q(s"${dataDir}__dropped")) &&
        f.exists(q(dataDir)))
      throw new java.io.IOException(s"rename $dataDir aside failed")
    if (!f.rename(q(tmp), q(dataDir)) && !f.exists(q(dataDir)))
      throw new java.io.IOException(s"rename $tmp -> $dataDir failed")
    f.delete(q(s"${dataDir}__dropped"), true)
    if (hasSidecar) clearDir(tombDir)
  }

  /** Current merged state (empty on a fresh store): the delta-log base
    * shadowed by every live delta, tombstone flags included —
    * [[graft.core.DeltaLog.readMerged]]. A store written by the
    * pre-delta-log code (plain snapshot at the vectors root) is adopted
    * as the initial base on first read (file renames, no rewrite).
    * Stores persisted before the `metadata_json` fidelity column are
    * padded with nulls so old and new layouts read uniformly. */
  def snapshot(): DataFrame = {
    val df = graft.core.DeltaLog.readMerged(spark, dataPath, "id").getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Tables.nodeSchema))
    val padded =
      if (df.columns.contains("metadata_json")) df
      else df.withColumn("metadata_json", lit(null).cast("string"))
    padded.select("id", "embedding", "content", "metadata", "metadata_json",
      "is_deleted")
  }

  // Next-id high-water mark (`$path/next_id`): ids are reserved by
  // bumping this marker BEFORE the batch's delta lands, so a crash
  // between the bump and the write leaves an id GAP, never a collision
  // that would silently shadow earlier rows on replay. Absent marker
  // (legacy store / first ingest) falls back to max(id)+1 over the
  // merged state once, then stays O(1). The reference's next_id is the
  // same max+1 contract (storage.py:276-280); gaps after a crash are
  // the documented deviation reserve-then-write buys.
  private def nextIdPath = new org.apache.hadoop.fs.Path(s"$path/next_id")
  private def hfs = nextIdPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** Fallback when the high-water marker is absent/torn: max(id)+1 over
    * the merged snapshot, ALSO maxed against the index sidecars and the
    * LSH signature table — after delete()+compact() the snapshot max can
    * shrink below ids still recorded there, and re-issuing one of those
    * ids would silently anti-join the new row out of the IVF tiers (its
    * id sits in a tombstone sidecar) or duplicate it in the signature
    * table. One bounded max-aggregation per small table, paid only on
    * the no-marker path. */
  private def fallbackNextId(): Long = {
    var next = Crud.nextId(snapshot(), "id")
    def bump(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(f.makeQualified(p)))
        spark.read.parquet(dir).agg(max(col("id").cast("long"))).head match {
          case r if !r.isNullAt(0) => next = math.max(next, r.getLong(0) + 1)
          case _ => ()
        }
    }
    Seq(ivfTombPath, ivfPqTombPath, lshSigPath).foreach(bump)
    // the persisted HNSW graph covers every id below its build
    // watermark (r15 ADVICE: after delete()+compact() with a torn
    // marker, re-issuing an id still present in hnsw_edges would serve
    // the reborn row only through stale adjacency — below the
    // watermark, so never by the exact tail). built_next_id is already
    // a next-id, so it maxes in directly (no +1).
    if (successAt(hnswModelPath))
      next = math.max(next, hnswModel().watermark)
    next
  }
  private def readNextId(): Long = {
    val f = hfs
    if (!f.exists(nextIdPath)) fallbackNextId()
    else {
      val in = f.open(nextIdPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // a torn marker degrades to the max-scan, never to a crash or a
      // silently colliding id range
      s.toLongOption.getOrElse(fallbackNextId())
    }
  }
  private def writeNextId(v: Long): Unit = {
    val f = hfs
    val tmp = new org.apache.hadoop.fs.Path(s"$path/next_id.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    f.delete(nextIdPath, false)
    if (!f.rename(tmp, nextIdPath) && !f.exists(nextIdPath))
      throw new java.io.IOException(s"rename $tmp -> $nextIdPath failed")
  }

  /** S6 write path: validate dims, assign contiguous ids from the
    * next-id high-water mark, append ONE delta (mmap_vector_store.py:
    * 83-125 — whose save is likewise an O(1) slot write, storage.py:
    * 198-230, not a store rewrite). Per-call I/O is O(batch): the
    * corpus is never read or rewritten; folding happens in [[compact]]
    * on the caller's cadence. Rows: (embedding, content?, metadata?).
    * Returns the first assigned id. */
  def ingest(rows: DataFrame, embCol: String = "embedding"): Long = {
    val validated = Tables.validateDim(rows, embCol, dim)
    val full = validated
      .withColumn("content", coalesce(tryCol(validated, "content"), lit(null).cast("string")))
      .withColumn("metadata", coalesce(tryCol(validated, "metadata"),
        lit(null).cast("map<string,string>")))
      // raw-fidelity JSON: keep the caller's verbatim when present
      // (arbitrary value types survive), else derive from the string
      // map so both representations stay consistent
      .withColumn("metadata_json", coalesce(
        tryCol(validated, "metadata_json").cast("string"),
        to_json(coalesce(tryCol(validated, "metadata"),
          lit(null).cast("map<string,string>")))))
      .withColumn("is_deleted", lit(false))
      .select(col(embCol).as("embedding"), col("content"), col("metadata"),
        col("metadata_json"), col("is_deleted"))
      .persist()
    try {
      val start = readNextId()
      val (withIds, n) = Crud.assignIdsRange(full, start)
      // reserve the exact range BEFORE the delta lands (crash ⇒ gap)
      writeNextId(start + n)
      val ordered = withIds.select("id", "embedding", "content", "metadata",
        "metadata_json", "is_deleted")
      val seq = graft.core.DeltaLog.nextSeq(spark, dataPath)
      graft.core.DeltaLog.append(ordered, dataPath, seq)
      // incremental index maintenance: every persisted tier stays
      // fresh across ingests by deriving index rows for the NEW batch
      // only (read back from the delta that just landed, so index ids
      // match persisted ids exactly) and appending — no full rebuild.
      // A crash between the delta append and an index append leaves
      // that batch invisible to the affected tier until its next
      // build — recall-only staleness, never wrong distances.
      lazy val landed = spark.read.parquet(
        graft.core.DeltaLog.deltaPath(dataPath, seq))
      // LSH: signatures for the new rows (assign-new-only discipline)
      if (successAt(lshModelPath) && successAt(lshSigPath)) {
        val m = Lsh.load(spark, lshModelPath)
        Lsh.assign(landed, "embedding", m)
          .select(col("id"), col(Lsh.SigsCol))
          .write.mode("append").parquet(lshSigPath)
      }
      // IVF: stale-centroid assignment (B5 semantics) appended into
      // the cluster-partitioned layout — searches pick the new files
      // up through partition discovery
      if (successAt(ivfModelPath) && indexSuccessAt(ivfDataPath)) {
        val proj = landed.select("id", "embedding", "content", "metadata",
          "metadata_json", "is_deleted")
        // a hierarchical model assigns through the two-level kernel
        // (O(2·√k·dim)/row) — the flat O(k·dim) scan would be the
        // exact per-row cliff the hierarchy exists to remove
        val assignedNew =
          if (successAt(ivfSupersPath))
            Ivf.assignHier(proj,
              Ivf.loadHier(spark, ivfModelPath, ivfSupersPath, "embedding"))
          else Ivf.assign(proj, Ivf.load(spark, ivfModelPath, "embedding"))
        assignedNew
          .repartition(col(Ivf.ClusterCol))
          .write.mode("append").partitionBy(Ivf.ClusterCol).parquet(ivfDataPath)
      }
      // IVF-PQ: encode the new rows through the persisted two-level
      // model and append to the code table (same schema as the build).
      // The model persists as ivf/ + pq/ SUBDIRS — gate on the inner
      // markers, the model root itself carries no _SUCCESS
      if (successAt(s"$ivfPqModelPath/ivf") && successAt(s"$ivfPqModelPath/pq") &&
          indexSuccessAt(ivfPqDataPath)) {
        val m = IvfPq.load(spark, ivfPqModelPath, "embedding")
        IvfPq.encode(landed, "embedding", m)
          .select(col("id"), col(Ivf.ClusterCol), col(IvfPq.CodeCol),
            col("metadata"))
          .repartition(col(Ivf.ClusterCol))
          .write.mode("append").partitionBy(Ivf.ClusterCol).parquet(ivfPqDataPath)
      }
      start
    } finally { full.unpersist(); () }
  }

  private def tryCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else lit(null)

  /** O2/O7: exact filtered search over live rows. */
  def search(query: Seq[Float], k: Int,
             metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    val live = snapshot().filter(!col("is_deleted"))
    val pred = if (metadataFilter.isEmpty) None
      else Some(Search.metadataFilter(col("metadata"), metadataFilter))
    Search.knnExact(live, "id", "embedding", query, k, pred)
  }

  /** O7 over the raw-fidelity JSON column: conjunctive equality on JSON
    * paths (int/list/nested values — the payload shapes the string map
    * can't hold, `tests/integration/test_embed_api.py:153-160`). Keys
    * are paths (`label`, `tags[0]`, `a.b`); values are
    * `get_json_object`-rendered strings. */
  def searchJsonFiltered(query: Seq[Float], k: Int,
                         jsonFilter: Map[String, String]): DataFrame = {
    val live = snapshot().filter(!col("is_deleted"))
    val pred = if (jsonFilter.isEmpty) None
      else Some(Search.metadataJsonFilter(col("metadata_json"), jsonFilter))
    Search.knnExact(live, "id", "embedding", query, k, pred)
  }

  /** E1+O2: text-query search through the hashing embedder. */
  def searchText(query: String, k: Int,
                 metadataFilter: Map[String, String] = Map.empty): DataFrame =
    search(HashingEmbedder.embedText(spark, query, dim).toSeq, k, metadataFilter)

  /** O3: HNSW-equivalent search (per-partition graphs). The metadata
    * filter composes before the graph search (pre-filtering — strictly
    * better recall than the reference's navigate-through-filtered beam).
    *
    * `ef <= 0` (the default) = scale-aware auto beam: the config
    * default (GraftConfig.ef = 50, mirroring api/models.py:19) holds
    * the reference recall gate only up to the measured per-shard
    * anchor (Hnsw.EfAnchorShardN — at 10M rows / 32 shards it measures
    * 4/10 vs the required 8/10), so the default-taking path widens it
    * as `50 · (perShardN/anchor)^0.30` via [[Hnsw.scaledEf]]. Costs one
    * count() of the (filtered) corpus — noise next to the shard-graph
    * build the search itself performs. An explicit `ef > 0` passes
    * through un-SCALED (no corpus-size widening), with one exception:
    * the post-filter route raises any beam to at least its over-fetch
    * window kFetch (= k ÷ match fraction × 2) — a beam narrower than
    * the fetch window cannot return kFetch candidates, so honoring a
    * tiny explicit ef there would silently under-fill k after the
    * filter. Callers pinning ef for latency keep their value on every
    * other route. */
  def searchHnsw(query: Seq[Float], k: Int, ef: Int = 0,
                 metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    val corpus = live(metadataFilter)
    val persisted = successAt(hnswModelPath) && successAt(hnswEdgesPath)
    // metadata-filtered searches route by SELECTIVITY when a persisted
    // graph exists: a TIGHT filter keeps the pre-filter rebuild (shard
    // graphs over exactly the matching rows — rebuilding over a small
    // match set is cheap and exact-composed), while a LOOSE filter
    // (match fraction ≥ graft.hnsw.postFilterMinFraction, default 0.5)
    // serves from the persisted graph with an over-fetched beam and a
    // post-filter — the standard ANN composition; at 10M rows the
    // rebuild costs ~471 s/query vs ~38 s persisted (r15 probe), so a
    // 90%-selectivity filter was paying ~12× for recall the over-fetch
    // keeps anyway (re-gated in VectorStoreSpec: ≥0.7@80% in the
    // loose-filter regime).
    // lazy: the filtered count is only needed for the routing decision
    // (persisted && filtered) and for the default-beam scaling of the
    // rebuild route (ef == 0) — a tight-filter/explicit-ef call must
    // not pay a full filtered scan it never uses
    lazy val filteredN = if (metadataFilter.isEmpty) 0L else corpus.count()
    val postFilterRoute = metadataFilter.nonEmpty && persisted && {
      val total = liveCount()
      total > 0L &&
        filteredN.toDouble / total >= sessionConfig.hnswPostFilterMinFraction
    }
    if (persisted && (metadataFilter.isEmpty || postFilterRoute)) {
      // persisted-graph serving (the B11 load path): search the edges
      // table [[buildHnsw]] wrote instead of rebuilding every shard
      // graph per query. Rows ingested AFTER the build (id ≥ the build
      // watermark) are served by an EXACT scan of that tail, merged
      // with the graph results — so post-build ingests surface
      // immediately with exact (not just graph-approximate) ranking,
      // ingest() stays O(batch), and the tail bill amortizes away at
      // the next buildHnsw. Deletes need nothing: the live-join drops
      // tombstoned ids and the graph search skips the dangling edges
      // (the reference's B2 tolerance, hnsw.py:370-373).
      val m = hnswModel() // memo — no per-call model-row read
      // the graph was built over the UNFILTERED corpus, so the graph
      // side always walks the unfiltered rows below the watermark; a
      // filtered query over-fetches (k ÷ match fraction, 2× margin) and
      // post-filters, and its beam widens to cover the fetch window
      val unfiltered = if (metadataFilter.isEmpty) corpus else live(Map.empty)
      val kFetch = if (!postFilterRoute) k
        else math.min(Int.MaxValue.toLong, math.max(k.toLong,
          math.ceil(2.0 * k * liveCount().toDouble /
            math.max(1L, filteredN)).toLong)).toInt
      val eff0 =
        if (ef > 0) ef
        else Hnsw.scaledEf(sessionConfig.ef, liveCount(), m.parts)
      val edgesDf = spark.read.parquet(hnswEdgesPath)
      val graphBase = unfiltered.filter(col("id") < m.watermark)
      // only the over-fetch route widens the beam (it must cover the
      // fetch window); the unfiltered path keeps its ef contract
      def graphRaw(kf: Int) = Hnsw.searchEdges(edgesDf, graphBase,
          "id", "embedding", Seq((0L, query.toArray)), kf,
          if (postFilterRoute) math.max(eff0, kf) else eff0,
          m.parts, m.params)
        .select("id", "dist")
      val graphSide = if (!postFilterRoute) graphRaw(kFetch)
        else {
          // the 2× global-selectivity margin under-fills k when the
          // filter is CORRELATED against the query's neighborhood
          // (local match fraction ≪ global — the r16 VERDICT #6
          // adversarial case): widen the fetch window geometrically
          // until k survivors arrive or the window covers the whole
          // graph (then the per-shard search is beam-exhaustive and the
          // composition is exact — nothing more to find). The fill
          // check collects ≤ k (id, dist) rows per attempt; the common
          // uncorrelated query fills on the first window.
          val maxKf = math.min(Int.MaxValue.toLong,
            math.max(kFetch.toLong, liveCount())).toInt
          var kf = kFetch
          var rows = graphRaw(kf).join(corpus.select("id"), "id")
            .orderBy(col("dist").asc, col("id").asc).limit(k).collect()
          while (rows.length < k && kf < maxKf) {
            kf = math.min(maxKf.toLong, 4L * kf).toInt
            rows = graphRaw(kf).join(corpus.select("id"), "id")
              .orderBy(col("dist").asc, col("id").asc).limit(k).collect()
          }
          spark.createDataFrame(
            java.util.Arrays.asList(rows: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("dist",
                org.apache.spark.sql.types.DoubleType, nullable = false))))
        }
      val tailSide = Search.knnExact(corpus.filter(col("id") >= m.watermark),
          "id", "embedding", query, k)
        .select("id", "dist")
      // dropDuplicates: in the window between a refreshHnsw publish and
      // its watermark bump, tail ids are ALSO in the graph — both sides
      // return them at identical distances, and the dedup (≤ 2k rows)
      // keeps the merge correct rather than double-counting one id
      graphSide.unionByName(tailSide).dropDuplicates("id")
        .orderBy(col("dist").asc, col("id").asc).limit(k)
    } else {
      val eff =
        if (ef > 0) ef
        else Hnsw.scaledEf(sessionConfig.ef,
          if (metadataFilter.isEmpty) liveCount() else filteredN,
          spark.sparkContext.defaultParallelism)
      Hnsw.search(corpus, "id", "embedding", query, k, eff)
        .select("id", "dist")
    }
  }

  /** Persisted HNSW build params + watermark, memoized on the model
    * dir's files — `searchHnsw` would otherwise re-read the one-row
    * model parquet (a file listing + head job) on every call. */
  private case class HnswModelRow(params: Hnsw.Params, parts: Int,
                                  watermark: Long)
  private def hnswModel(): HnswModelRow =
    memo("hnsw", stamps(hnswModelPath)) {
      val mrow = spark.read.parquet(hnswModelPath).head
      HnswModelRow(
        Hnsw.Params(mrow.getAs[Int]("m"), mrow.getAs[Int]("ef_construction"),
          seed = mrow.getAs[Long]("seed")),
        mrow.getAs[Int]("num_partitions"), mrow.getAs[Long]("built_next_id"))
    }

  private def hnswModelPath = s"$path/hnsw_model"
  private def hnswEdgesPath = s"$path/hnsw_edges"

  /** B3/B11 through the facade: build per-shard HNSW graphs over the
    * live rows ONCE and persist the edges table + build params, so
    * [[searchHnsw]] serves from the persisted graph instead of paying
    * the O(N log N) shard-graph construction on every call (the same
    * upgrade [[trainLsh]] gave the LSH tier). The build watermark
    * (next-id at build time) splits later serving: ids below it route
    * through the graph, ids ingested after it are exact-scanned as a
    * tail until the next build — mutation paths stay O(batch).
    * `numPartitions` defaults to the session parallelism; it is pinned
    * in the model because [[graft.operators.Hnsw.searchEdges]] must
    * re-shard vectors with the build-time hash. */
  def buildHnsw(m: Int = 16, efConstruction: Int = 200,
                numPartitions: Int = 0, seed: Long = 42L): Unit = {
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val params = Hnsw.Params(m, efConstruction, seed = seed)
    val watermark = readNextId()
    // the model row is the serving gate: drop it FIRST so a crash
    // mid-edge-write leaves the tier off (rebuild-per-query fallback)
    // rather than serving new edges through stale build params — a
    // num_partitions mismatch would re-shard vectors against the wrong
    // adjacency and silently degrade recall
    clearDir(hnswModelPath)
    Hnsw.buildEdges(live(Map.empty), "id", "embedding", params, parts)
      .write.mode("overwrite").parquet(hnswEdgesPath)
    import spark.implicits._
    Seq((m, efConstruction, seed, parts, watermark))
      .toDF("m", "ef_construction", "seed", "num_partitions", "built_next_id")
      .coalesce(1).write.mode("overwrite").parquet(hnswModelPath)
  }

  /** B1 incremental through the facade: fold the exact-scan tail into
    * the persisted graph with shard-local inserts
    * ([[graft.operators.Hnsw.refreshEdges]] — each new id routes to its
    * build-time shard, the shard graph reconstructs once per refresh,
    * the batch inserts in sorted-id order) instead of a full rebuild —
    * the amortization knob between [[buildHnsw]] calls, the same
    * per-flush refresh the streaming path uses (B10 → B1). The
    * watermark bumps only AFTER the crash-safe edge publish; in
    * between, tail ids are served by BOTH sides of the search merge,
    * which dedups them. Cost: one pass over the corpus vectors + the
    * touched shards' adjacency — run it on a cadence, like
    * [[compact]]. */
  def refreshHnsw(): Unit = {
    require(successAt(hnswModelPath) && successAt(hnswEdgesPath),
      "refreshHnsw needs a persisted graph — call buildHnsw() first")
    val m = hnswModel()
    val params = m.params
    val parts = m.parts
    val newWatermark = readNextId()
    Hnsw.refreshEdges(live(Map.empty).select("id", "embedding"),
      hnswEdgesPath, "id", "embedding", parts, params)
    import spark.implicits._
    Seq((params.m, params.efConstruction, params.seed, parts, newWatermark))
      .toDF("m", "ef_construction", "seed", "num_partitions", "built_next_id")
      .coalesce(1).write.mode("overwrite").parquet(hnswModelPath)
  }

  private def live(metadataFilter: Map[String, String]): DataFrame = {
    val base = snapshot().filter(!col("is_deleted"))
    if (metadataFilter.isEmpty) base
    else base.filter(Search.metadataFilter(col("metadata"), metadataFilter))
  }

  private def lshModelPath = s"$path/lsh_model"
  private def lshSigPath = s"$path/lsh_signatures"

  /** Optional LSH build step: persist the plane matrix AND the per-id
    * signature table (id, lsh_sigs — ~70 B/row, no vectors), so
    * repeated [[searchLsh]] calls filter the compact signature table
    * instead of recomputing every row's L·b plane dots per query (the
    * measured bill at 10M rows was ~75 s/query, almost all signature
    * recompute). The table stays FRESH across mutations: [[ingest]]
    * appends signatures for each new batch (assign-new-only, the
    * incremental-LSH discipline) and deleted rows are dropped by the
    * live-join at query time — a full re-train is only needed to
    * change the plane geometry (bits/tables) or to recover the one
    * crash window between ingest's data and signature appends. */
  def trainLsh(bitsPerTable: Int = 8, nTables: Int = 16): Lsh.Model = {
    val m = Lsh.fitBanded(dim, bitsPerTable, nTables)
    Lsh.save(m, lshModelPath, spark)
    Lsh.assign(live(Map.empty), "embedding", m)
      .select(col("id"), col(Lsh.SigsCol))
      .write.mode("overwrite").parquet(lshSigPath)
    m
  }

  /** LSH tier: banded hyperplane signatures, multi-probe bucket cut,
    * exact (dist, id) rerank of the candidates. The one approximate
    * tier whose RECALL is N-independent by construction — bucket
    * collision is a function of angle, not corpus size — and the
    * `lsh_recall_sweep` probe is the measured check (16 tables × 8
    * bits, probeBits = 2: 10/10 at 1M). After [[trainLsh]], the probe
    * cut runs over the PERSISTED signature table and only the
    * candidate ids join back to the snapshot (a point-join on a small
    * set) — per-query cost is a bytes-small signature scan. Without
    * it, signatures derive on scan per call (train-free, fine for
    * one-shot queries; persist for repeated ones). */
  def searchLsh(query: Seq[Float], k: Int, probeBits: Int = 2,
                metadataFilter: Map[String, String] = Map.empty): DataFrame =
    if (successAt(lshModelPath) && successAt(lshSigPath)) {
      val model = Lsh.load(spark, lshModelPath)
      val cand = spark.read.parquet(lshSigPath)
        .filter(Lsh.probeCondition(model, query, probeBits))
        .select("id")
      // live-join drops tombstoned/compacted ids; the metadata filter
      // composes on the snapshot side, same contract as the direct path
      Search.knnExact(live(metadataFilter).join(cand, "id"),
        "id", "embedding", query, k)
    } else {
      val model = Lsh.fitBanded(dim, bitsPerTable = 8, nTables = 16)
      Lsh.search(Lsh.assign(live(metadataFilter), "embedding", model), model,
        "id", "embedding", query, k, probeBits)
    }

  /** B4: build the IVF index; persists model + cluster-partitioned data.
    * Defaults to the skew-hardened [[Ivf.buildBalanced]] path with a
    * self-scaling cap: clusters above 4× the fair 1/k corpus share are
    * recursively split, so partition pruning keeps pruning and
    * `knnJoinIvf`'s shuffle stays balanced at any k — while small-k
    * builds (where even a perfectly fair share exceeds a flat cap)
    * never micro-split. Pass an explicit `maxClusterFraction` to
    * override, or ≥ 1.0 to disable splitting (plain [[Ivf.build]]).
    *
    * List-count guidance at corpus scale: prefer k ≈ 10·√N over the
    * classic √N — the measured decade study (COVERAGE r14,
    * `ivf_recall_overlists`) shows the recall gate tracks the probed
    * LIST COUNT, so a denser geometry serves the same recall from a
    * ~20× smaller scanned corpus fraction, and [[searchIvf]]'s
    * scale-aware default ([[Ivf.scaledNProbe]]'s 10·√k arm) is sized
    * for exactly that shape. */
  def buildIvf(k: Int, seed: Long = 42L,
               maxClusterFraction: Double = Double.NaN,
               hierarchical: Option[Boolean] = None): Ivf.Model = {
    val live = snapshot().filter(!col("is_deleted"))
    val useHier = hierarchical.getOrElse(k > Ivf.FlatBuildMaxK)
    if (useHier) {
      // two-level quantizer: the only build path that can DELIVER the
      // 10·√N-list geometry past ~1B rows (flat throws for
      // k > sampleSize and flat assign is O(k·dim)/row). Skew is
      // handled structurally — child counts are allocated proportional
      // to super-cluster occupancy — so the recursive splitting of the
      // flat path isn't needed here.
      val (assigned, hm) = Ivf.buildHier(live, "embedding", k, seed)
      Ivf.saveHier(hm, ivfModelPath, ivfSupersPath)
      Ivf.writePartitioned(assigned, ivfDataPath)
      clearDir(ivfTombPath) // fresh table is built from live rows only
      hm.flat
    } else {
      val frac =
        if (maxClusterFraction.isNaN) math.min(1.0, 4.0 / k)
        else maxClusterFraction
      val (assigned, model) =
        if (frac >= 1.0) Ivf.build(live, "embedding", k, seed)
        else Ivf.buildBalanced(live, "embedding", k, seed,
          maxClusterFraction = frac)
      Ivf.save(model, ivfModelPath)
      Ivf.writePartitioned(assigned, ivfDataPath)
      clearDir(ivfTombPath) // fresh table is built from live rows only
      // a flat rebuild over an earlier hierarchical one must not leave
      // the stale super table steering ingest-time assignment
      clearDir(ivfSupersPath)
      model
    }
  }

  /** O6: n_probe pruned search over the partitioned IVF table (probing
    * is parquet partition pruning; the metadata filter pushes down below
    * the probe filter).
    *
    * `nProbe <= 0` (the auto default) = scale-aware probing: the config
    * default n_probe=10 (GraftConfig.nProbe, mirroring api/models.py:20)
    * measured 1/10 vs the required 7/10 recall gate at 1M rows / 1000
    * lists and 0/10 at 10M / 3162 — so the default-taking path probes
    * at least [[Ivf.ScaledProbeFraction]] of the lists via
    * [[Ivf.scaledNProbe]] (identity for every index with k ≤ 100). An
    * explicit `nProbe > 0` passes through unscaled. */
  def searchIvf(query: Seq[Float], nProbe: Int, k: Int,
                metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    recoverIndexFold(ivfDataPath) // resume a crashed compact-fold swap
    val assigned = dropSidecarTombs(
      spark.read.parquet(ivfDataPath), ivfTombPath)
    val pred = if (metadataFilter.isEmpty) None
      else Some(Search.metadataFilter(col("metadata"), metadataFilter))
    // a hierarchical store serves through the GROUPED model: probe
    // ranking scores √k supers then only the top supers' children
    // (O((√k + β·nProbe)·dim)/query, Ivf.probeClustersHier) instead of
    // the flat O(k·dim) driver scan — the serve-side twin of the
    // two-level build (14.8× rank cost at k = 316k, ScaleProbe
    // ivf_probe_rank_316k). Stores at or below FlatBuildMaxK lists
    // keep the exact flat ranking (searchHier routes internally).
    hierModelIfPersisted() match {
      case Some(hm) =>
        val np = if (nProbe > 0) nProbe
          else Ivf.scaledNProbe(sessionConfig.nProbe, hm.k,
            sessionConfig.ivfProbeFraction)
        Ivf.searchHier(assigned, hm, "id", query, np, k, pred)
      case None =>
        val model = Ivf.load(spark, ivfModelPath, "embedding")
        val np = if (nProbe > 0) nProbe
          else Ivf.scaledNProbe(sessionConfig.nProbe, model.k,
            sessionConfig.ivfProbeFraction)
        Ivf.search(assigned, model, "id", query, np, k, pred)
    }
  }

  /** Serve-side hier model, memoized on the model and super dirs'
    * files — `searchIvf` would otherwise re-collect the WHOLE
    * child-centroid table on every call; `openHier` additionally keeps
    * large-k models lazy (counts resident, child blocks LRU-bounded by
    * `graft.ivf.residentModelBytes` — the r16 driver-residency
    * perf-weak). None for a flat model. */
  private def hierModelIfPersisted(): Option[Ivf.HierProbe] = {
    val (model, supers) = (stamps(ivfModelPath), stamps(ivfSupersPath))
    memo("ivf", (model, supers)) {
      if (Seq(model, supers).forall(_.exists(_.name == "_SUCCESS")))
        Some(Ivf.openHier(spark, ivfModelPath, ivfSupersPath, "embedding",
          sessionConfig.ivfResidentModelBytes))
      else None
    }
  }

  private def ivfPqModelPath = s"$path/ivfpq_model"
  private def ivfPqDataPath = s"$path/codes_by_cluster"

  /** IVF-PQ composite build: persists both model levels plus the
    * cluster-partitioned CODE table — (id, cluster_id, pq_code,
    * metadata), no raw vectors, the ~32× compressed layout that makes
    * the composite the 100 TB ANN path. */
  def buildIvfPq(kClusters: Int, chunks: Int, kCodes: Int,
                 seed: Long = 42L): IvfPq.Model = {
    val (encoded, model) = IvfPq.build(snapshot().filter(!col("is_deleted")),
      "embedding", kClusters, chunks, kCodes, seed)
    IvfPq.save(model, ivfPqModelPath)
    Ivf.writePartitioned(
      encoded.select(col("id"), col(Ivf.ClusterCol), col(IvfPq.CodeCol),
        col("metadata")), ivfPqDataPath)
    clearDir(ivfPqTombPath) // fresh table is built from live rows only
    model
  }

  /** IVF-PQ search over the persisted code table: cluster probe =
    * partition pruning, ADC over codes only. `rerank` > 0 fetches the
    * shortlist's raw vectors from the snapshot (a point-join on a
    * fixed-size id set) and re-scores exactly — the standard two-stage
    * deployment. */
  def searchIvfPq(query: Seq[Float], nProbe: Int, k: Int, rerank: Int = 0,
                  metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    // mirror IvfPq.search's guard: this path re-purposes `rerank` as the
    // shortlist size, which would otherwise silently truncate top_k
    require(rerank <= 0 || rerank >= k,
      s"rerank ($rerank) must be 0 (off), < 0 (auto), or >= k ($k)")
    val model = IvfPq.load(spark, ivfPqModelPath, "embedding")
    // nProbe <= 0 = the same scale-aware auto probing as searchIvf —
    // the coarse quantizer is the same IVF geometry, so the measured
    // 10%-of-lists rule transfers
    val np = if (nProbe > 0) nProbe
      else Ivf.scaledNProbe(sessionConfig.nProbe, model.ivf.k,
        sessionConfig.ivfProbeFraction)
    recoverIndexFold(ivfPqDataPath) // resume a crashed compact-fold swap
    val table = dropSidecarTombs(
      spark.read.parquet(ivfPqDataPath), ivfPqTombPath)
    // rerank < 0 = the same scale-aware auto window as searchAdc: the
    // residual-PQ ADC ranking within the probed lists carries the same
    // quantization error the pq_recall_sweep measured at 0/10, so the
    // auto window sizes over the memoized live count — the same
    // scale-rule memo every other auto default uses — instead of
    // pricing a code-table count() (a full file listing on a 100 TB
    // table) per query. The code table can hold slightly MORE rows
    // (deletes since the last build sit in the sidecar), but √N-window
    // sizing is insensitive to that margin.
    val w = if (rerank >= 0) rerank
      else Pq.scaledRerank(k, liveCount(), sessionConfig.pqRerankFactor)
    val pred = if (metadataFilter.isEmpty) None
      else Some(Search.metadataFilter(col("metadata"), metadataFilter))
    if (w == 0)
      IvfPq.search(table, model, "id", query, np, k, 0, pred)
    else {
      val short = IvfPq.search(table, model, "id", query, np, w, 0, pred)
        .select("id")
      Search.knnExact(
        snapshot().filter(!col("is_deleted")).join(short, "id"),
        "id", "embedding", query, k)
    }
  }

  private def pqModelPath = s"$path/pq_model"
  private def sqModelPath = s"$path/sq_model"

  /** SQ8 tier: train the per-dim grid on the live rows (exact min/max —
    * deterministic, no seed) and persist it alongside the store. */
  def trainSq(): Sq.Model = {
    val m = Sq.train(snapshot().filter(!col("is_deleted")), "embedding")
    Sq.save(m, sqModelPath, spark)
    m
  }

  /** SQ8 ADC search through the persisted grid (encode + table-lookup
    * distance, scan-only — the memory-bounded tier between exact and
    * PQ). */
  def searchSq(query: Seq[Float], k: Int,
               metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    val m = Sq.load(spark, sqModelPath)
    Sq.adcSearch(Sq.encode(live(metadataFilter), "embedding", m),
      "id", "sq_code", m, query, k)
  }

  /** BQ tier: 1-bit screen + exact rerank over live rows (the code
    * column is derived on scan; persist it via
    * [[graft.operators.Bq.encode]] when the corpus is large enough to
    * warrant it).
    *
    * `centered = true` (the default) thresholds each dim at its range
    * midpoint ([[Bq.trainThresholds]] — one order-free stats pass, same
    * cost class as the encode scan this method already pays). The
    * zero-threshold sign sketch is BLIND on non-centered corpora —
    * all-positive embeddings pack a constant code and ScaleProbe
    * `bq_recall_sweep` measures 0/10 recall at every rerank window —
    * while on already-centered data midpoints ≈ 0 and the behavior is
    * unchanged. Pass `centered = false` for raw sign bits (matching
    * codes encoded elsewhere with no thresholds).
    *
    * `rerank = 0` (the default) is the raw Hamming screen; `rerank < 0`
    * is the scale-aware auto window — every fixed multiple of k fails
    * the measured recall margin at corpus scale (3·k: 0/10 at 1M AND
    * 10M), so the auto path sizes the exact-rerank shortlist as
    * max(3·k, ⌈3·√N⌉) via [[Bq.scaledRerank]] (costs one count()). An
    * explicit `rerank > 0` passes through unscaled. */
  private def bqModelPath = s"$path/bq_thresholds"

  /** Optional BQ build step (the tier stays train-free without it):
    * train the centered-code midpoint thresholds ONCE on the live rows
    * and persist them beside the other model artifacts — repeated
    * UNFILTERED `searchBq` calls then skip the per-query stats pass
    * (metadata-filtered searches keep training on the filtered corpus:
    * global midpoints can be blind for a clustered filter). Re-run
    * after ingests large enough to move per-dim ranges. */
  def trainBq(): Array[Double] = {
    val th = Bq.trainThresholds(live(Map.empty), "embedding")
    import spark.implicits._
    th.zipWithIndex.map { case (t, i) => (i, t) }.toSeq.toDF("i", "t")
      .coalesce(1).write.mode("overwrite").parquet(bqModelPath)
    th
  }

  // gate persisted artifacts on the _SUCCESS marker, not bare directory
  // existence — a build killed mid-write leaves the dir with only
  // _temporary, which must read as "not persisted", not as a permanent
  // error
  private def successAt(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def bqThresholdsIfPersisted(): Option[Seq[Double]] =
    if (!successAt(bqModelPath)) None
    else Some(spark.read.parquet(bqModelPath).orderBy("i")
      .collect().map(_.getDouble(1)).toSeq)

  /** Values derived from the store, memoized per instance under
    * `name` and reused only while `version` — the on-disk state the
    * value was derived from — reads equal. A write through any instance,
    * a [[graft.streaming.StreamingIngest]] flush or a raw
    * [[graft.core.DeltaLog]] append changes that state, so the next call
    * recomputes; no build or mutation method touches the memo. The
    * version is read before the value is computed, so a write racing
    * the computation leaves an entry the next call recomputes. */
  @transient private lazy val memos =
    new java.util.concurrent.ConcurrentHashMap[String, (Any, Any)]()
  private def memo[T](name: String, version: Any)(compute: => T): T =
    memos.get(name) match {
      case (v, value) if v == version => value.asInstanceOf[T]
      case _ =>
        val value = compute
        if (memos.size() >= BqFilterCacheMax) memos.clear()
        memos.put(name, (version, value))
        value
    }
  /** Bound on [[memos]]: a long-lived instance serving many DISTINCT
    * filtered `searchBq` calls would otherwise keep one dim-length Seq
    * per filter forever; at the cap the map clears (entries are cheap
    * to recompute — one stats pass each). */
  private val BqFilterCacheMax = 1024
  private def logVersion = graft.core.DeltaLog.version(spark, dataPath)
  private def stamps(dir: String) = graft.core.DeltaLog.fileStamps(spark, dir)

  private[graft] val bqTrainCount =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private def filterKey(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k\u0000$v" }.mkString("\u0001")

  /** Unfiltered live row count: every scale-aware default (hnsw auto
    * beam, bq/pq auto rerank windows) and [[size]] would price one
    * corpus count per call otherwise. */
  private def liveCount(): Long =
    memo("live", logVersion)(snapshot().filter(!col("is_deleted")).count())
  /** Count for scale rules: memoized for the unfiltered corpus, exact
    * per call under a metadata filter (filtered counts are
    * filter-specific and already bounded by the filtered scan the
    * search itself performs). */
  private def scaleCount(corpus: DataFrame,
                         metadataFilter: Map[String, String]): Long =
    if (metadataFilter.isEmpty) liveCount() else corpus.count()

  def searchBq(query: Seq[Float], k: Int, rerank: Int = 0,
               metadataFilter: Map[String, String] = Map.empty,
               centered: Boolean = true): DataFrame = {
    val corpus = live(metadataFilter)
    // UNfiltered searches prefer the persisted thresholds (trainBq);
    // filtered searches always train on the FILTERED corpus — global
    // midpoints can be uninformative for a clustered filter (every
    // matching vector on the same side of every cut packs one code),
    // and per-filter training is what the pre-persistence behavior
    // was. A filter matching zero rows (or an empty/all-tombstoned
    // store) must yield an EMPTY RESULT, not a training error — None
    // falls back to raw sign bits, and the search over zero rows is
    // empty
    def train(): Seq[Double] = {
      bqTrainCount.incrementAndGet()
      Bq.trainThresholdsOpt(corpus, "embedding").fold(Seq.empty[Double])(_.toSeq)
    }
    val th = if (!centered) Nil
      else if (metadataFilter.isEmpty)
        bqThresholdsIfPersisted().getOrElse(train())
      // per-filter memo: identical filtered searches share ONE stats
      // pass per log version
      else memo("bq:" + filterKey(metadataFilter), logVersion)(train())
    val enc = Bq.encode(corpus, "embedding", thresholds = th)
    val w = if (rerank >= 0) rerank
      else Bq.scaledRerank(k, scaleCount(corpus, metadataFilter),
        sessionConfig.bqRerankFactor)
    if (w == 0)
      Bq.hammingSearch(enc, "id", "bq_code", query, k, thresholds = th)
    else Bq.rerankSearch(enc, "id", "bq_code", "embedding", query, k, w,
      thresholds = th)
  }

  /** B8/B9/B11: train PQ codebook (persisted alongside the store). */
  def trainPq(chunks: Int, k: Int, seed: Long = 42L): Pq.Codebook = {
    val cb = Pq.train(snapshot().filter(!col("is_deleted")), "embedding", dim, chunks, k, seed)
    Pq.save(cb, pqModelPath)
    cb
  }

  /** ADC extension: memory-bounded approximate search through the
    * persisted codebook (encode + table-lookup distance, scan-only).
    * `rerank > 0` adds the exact top-k rerank over the ADC shortlist
    * ([[Pq.adcRerankSearch]]) — the standard two-stage deployment that
    * closes the quantization error on the final ranking. `rerank < 0`
    * is the scale-aware auto window: PURE ADC measured 0/10 vs the
    * recall gate at both 1M and 10M (the error reaches the ranking),
    * while an exact rerank of the ⌈√N⌉-row shortlist measured 10/10 at
    * both — so the auto path sizes the window as max(3·k, ⌈√N⌉) via
    * [[Pq.scaledRerank]] (one count()). `rerank = 0` stays pure ADC. */
  def searchAdc(query: Seq[Float], k: Int,
                metadataFilter: Map[String, String] = Map.empty,
                rerank: Int = 0): DataFrame = {
    require(rerank <= 0 || rerank >= k,
      s"rerank ($rerank) must be 0 (off), < 0 (auto), or >= k ($k)")
    val cb = Pq.load(spark, pqModelPath)
    val corpus = live(metadataFilter)
    val w = if (rerank >= 0) rerank
      else Pq.scaledRerank(k, scaleCount(corpus, metadataFilter),
        sessionConfig.pqRerankFactor)
    val enc = Pq.encode(corpus, "embedding", cb)
    if (w == 0) Pq.adcSearch(enc, "id", "pq_code", cb, query, k)
    else Pq.adcRerankSearch(enc, "id", "pq_code", "embedding", cb, query,
      k, w)
  }

  /** S5: tombstone delete — ONE delta append of the flipped rows.
    * Bytes written are O(|ids|), never O(corpus): `delete(Seq(42))` on
    * a 100 TB store writes one ~row-sized delta, where the pre-delta
    * shape re-published the whole snapshot to flip one flag. The
    * tombstoned rows stay visible in [[snapshot]] with
    * `is_deleted = true` (reference dangling-id tolerance) until
    * [[compact]] physically drops them. No ids, no write: an empty
    * call appends no delta and no sidecar rows. */
  def delete(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
    val hit = snapshot().filter(col("id").isin(ids: _*))
      .withColumn("is_deleted", lit(true))
    graft.core.DeltaLog.append(hit, dataPath,
      graft.core.DeltaLog.nextSeq(spark, dataPath))
    appendIndexTombstones(ids)
  }

  /** Bulk [[delete]]: the ids arrive as a one-column DataFrame (any
    * integral type), tombstoned via a semi-join instead of a driver
    * `isin` literal — deletion sets of any size work without
    * collecting them (a curation pipeline's "remove these 10M doc
    * ids" shape). Same delta-append write path: bytes written are
    * O(matched rows). */
  def deleteIds(ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a single-column DataFrame, got ${ids.columns.toSeq}")
    val keyed = ids.select(col(ids.columns.head).cast("long").as("__del_id"))
    val hit = snapshot().join(keyed, col("id") === col("__del_id"), "left_semi")
      .withColumn("is_deleted", lit(true))
    val seq = graft.core.DeltaLog.nextSeq(spark, dataPath)
    graft.core.DeltaLog.append(hit, dataPath, seq)
    // sidecar tombstones derive from the delta that actually LANDED
    // (read back, like ingest's index appends) — a non-deterministic
    // ids source (sample, unordered limit) evaluated twice could
    // otherwise tombstone a different id set in the index sidecars
    // than in the delta log
    if (indexSuccessAt(ivfDataPath) || indexSuccessAt(ivfPqDataPath)) {
      val tombs = spark.read.parquet(
        graft.core.DeltaLog.deltaPath(dataPath, seq)).select("id")
      if (successAt(ivfDataPath)) tombs.write.mode("append").parquet(ivfTombPath)
      if (successAt(ivfPqDataPath))
        tombs.write.mode("append").parquet(ivfPqTombPath)
    }
  }

  /** Compaction: fold the delta tail into the base AND physically drop
    * tombstoned rows — the one deliberately O(corpus) maintenance pass
    * (every ingest/delete between compactions stayed O(batch)). Run on
    * a cadence, like the streaming path's `compactEvery`.
    *
    * `retainGenerations > 0` archives each displaced base as a numbered
    * generation ([[graft.core.SnapshotIO.publishRetained]]) — every
    * compaction becomes a time-travel point readable via
    * `SnapshotIO.readGeneration(spark, s"$path/vectors/base", g)` for
    * rollback and [[graft.operators.Crud.snapshotDiff]] audits. */
  def compact(retainGenerations: Int = 0): Unit = {
    // fold the index-tier tombstone sidecars FIRST, while the merged
    // log still carries the is_deleted flags the fold unions in (the
    // delta compact below drops those rows) — bounds each sidecar by
    // deletes since the last compact and heals the delete-crash window
    // (see the fold scaladoc above)
    val deleted = snapshot().filter(col("is_deleted"))
      .select(col("id").cast("long").as("id"))
    foldIndexTable(ivfDataPath, ivfTombPath, deleted)
    foldIndexTable(ivfPqDataPath, ivfPqTombPath, deleted)
    graft.core.DeltaLog.compact(spark, dataPath, "id",
      retainGenerations = retainGenerations,
      transform = m => Crud.compact(m).withColumn("is_deleted", lit(false)),
      foldEmptyTail = true)
  }

  /** File compaction: merge the BASE snapshot's accumulated small
    * parquet files toward `targetBytes` each (the post-ingest OPTIMIZE
    * pass; content unchanged, no shuffle). Delta dirs are left alone —
    * [[compact]] is what folds them. Returns the resulting file
    * count. */
  def compactFiles(targetBytes: Long = 128L * 1024 * 1024): Long = {
    // reading merged first adopts a legacy root layout, so the file
    // pass below always targets the delta-log base
    graft.core.DeltaLog.readMerged(spark, dataPath, "id")
    graft.core.SnapshotIO.compactFiles(spark, s"$dataPath/base", targetBytes)
  }

  /** E5 config source, live: `GraftConfig` defaults overridden by any
    * `graft.*` keys set on the session
    * (`spark.conf.set("graft.search.topK", ...)`, or session-build
    * `.config(...)`) — the engine's analog of the reference's
    * config.yaml load at service start. Read per call so runtime
    * `spark.conf.set` takes effect like the reference's env reload. */
  private def sessionConfig: graft.core.GraftConfig =
    graft.core.GraftConfig.from(
      spark.conf.getAll.filter(_._1.startsWith("graft.")))

  /** §2.5 `/search` analog: one entry point with the reference's request
    * shape — `top_k`/`ef`/`n_probe` defaults from `GraftConfig`
    * (api/models.py:16-20, overridable via session `graft.*` conf —
    * [[sessionConfig]]), index selection via `params("index")`, and
    * unknown params ignored exactly as the reference's index kwargs
    * pass-through does (api/app.py:196-205, hnsw.py:331). */
  def searchApi(query: Seq[Float], params: Map[String, String] = Map.empty,
                metadataFilter: Map[String, String] = Map.empty): DataFrame = {
    val cfg = sessionConfig
    val k = params.get("top_k").map(_.toInt).getOrElse(cfg.topK)
    params.getOrElse("index", "exact") match {
      case "hnsw" =>
        // no explicit ef in the request -> the scale-aware auto beam
        // (searchHnsw's ef<=0 path scales cfg.ef with per-shard N);
        // an explicit ef passes through unscaled like the reference's
        // kwargs pass-through
        searchHnsw(query, k, params.get("ef").map(_.toInt).getOrElse(0),
          metadataFilter)
      case "ivf" =>
        // no explicit n_probe in the request -> the scale-aware auto
        // probe (searchIvf's nProbe<=0 path scales cfg.nProbe with the
        // index's list count); an explicit n_probe passes through
        // unscaled like the reference's kwargs pass-through
        searchIvf(query, params.get("n_probe").map(_.toInt).getOrElse(0),
          k, metadataFilter)
      case "pq" =>
        // `pq_chunks` (api/models.py:18) is a train-time property of the
        // persisted codebook here — when the request names it, validate
        // it against the store instead of silently serving a codebook
        // of a different geometry
        params.get("pq_chunks").map(_.toInt).foreach { c =>
          val cb = Pq.load(spark, pqModelPath)
          require(c == cb.chunks,
            s"pq_chunks ($c) does not match the trained codebook (${cb.chunks})")
        }
        // no explicit rerank in the request -> the scale-aware auto
        // window (searchAdc's rerank<0 path: max(3k, √N) — pure ADC is
        // 0/10 vs the recall gate at 1M+); an explicit rerank passes
        // through unscaled, rerank=0 opts into pure ADC
        searchAdc(query, k, metadataFilter,
          rerank = params.get("rerank").map(_.toInt).getOrElse(-1))
      case "sq8" => searchSq(query, k, metadataFilter)
      case "bq" =>
        // no explicit rerank in the request -> the scale-aware auto
        // window (searchBq's rerank<0 path sizes it as max(3k, 3·√N) —
        // the measured margin; a fixed 3k multiple is 0/10 at 1M+).
        // The output schema stays a "dist" column either way; an
        // explicit rerank=0 opts into the raw Hamming screen ("ham").
        // centered=false opts out of the midpoint thresholds (raw sign
        // bits — only sensible on corpora already centered at 0)
        searchBq(query, k, params.get("rerank").map(_.toInt).getOrElse(-1),
          metadataFilter,
          centered = params.get("centered").forall(parseBool("centered", _)))
      case "ivfpq" =>
        // defaults-taking path: scale-aware probe count AND rerank
        // window (explicit values pass through unscaled; rerank=0 opts
        // into the pure residual-ADC ranking)
        searchIvfPq(query,
          params.get("n_probe").map(_.toInt).getOrElse(0), k,
          params.get("rerank").map(_.toInt).getOrElse(-1), metadataFilter)
      case "lsh" =>
        searchLsh(query, k,
          params.get("probe_bits").map(_.toInt).getOrElse(2), metadataFilter)
      case "exact" => search(query, k, metadataFilter)
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected exact, hnsw, ivf, ivfpq, pq, sq8, bq, or lsh)")
    }
  }

  // explicit boolean parse: a clear error naming the parameter, like
  // the numeric params' NumberFormatException — `"1".toBoolean` would
  // throw an anonymous IllegalArgumentException instead
  private def parseBool(name: String, v: String): Boolean =
    v.trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"parameter '$name' must be true or false, got '$other'")
    }

  /** S2/S4: point lookup and live count. */
  def get(id: Long): Option[org.apache.spark.sql.Row] =
    snapshot().filter(col("id") === id && !col("is_deleted")).collect().headOption
  def size(): Long = liveCount()
}

object VectorStore {
  /** Open (or create) a store rooted at `path` with a fixed embedding
    * dimension — dim is a hard write-time contract, like the reference's
    * config-fixed dim (src/config.yaml:3, storage.py:138). */
  def open(spark: SparkSession, path: String, dim: Int): VectorStore =
    new VectorStore(spark, path, dim)
}
