package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Append-only delta log with merge-on-read — the O(batch) streaming
  * upsert layout. The reference's threshold flush persists the whole
  * store per save (`services/indexing_service.py:77-89`,
  * `storage.py:241-306` pickles the full slot file); the round-12
  * engine shape still rewrote the whole parquet snapshot per
  * micro-batch, an O(corpus) read+write that a 1 GB flush into a
  * 100 TB store cannot pay. This log makes per-flush I/O proportional
  * to the BATCH:
  *
  *  - `dir/base`   — the compacted snapshot, published through
  *                   [[SnapshotIO]]'s crash-safe rename protocol.
  *  - `dir/delta/d<seq>` — one parquet dir per flush (seq = the
  *                   checkpointed streaming batchId), rows carrying a
  *                   `__tomb` boolean (true = delete this id).
  *  - `dir/_watermark` — highest seq already folded into base; deltas
  *                   at or below it are logically dead.
  *
  * Read = base ∪ (live deltas, latest-seq-wins per id), tombstones
  * dropped, base rows shadowed by any delta id via an anti-join whose
  * build side is the (small) delta id set — the base is scanned once
  * and never shuffled. Compaction folds live deltas into base on a
  * cadence, advancing the watermark, so the delta tail stays bounded
  * by the compaction window while per-flush cost stays O(batch).
  *
  * One-scan tail: every live delta dir is read as ONE parquet
  * relation — one listing, one merged-schema inference (a column only
  * a later delta carries reads null for earlier rows), each row's seq
  * parsed from its `_metadata.file_path` — so the Spark jobs a read
  * launches do not grow with the number of live deltas (past 32 dirs
  * Spark lists them in one parallel listing job, still one).
  *
  * Held tail: the RESOLVED tail (latest-seq-wins rows, tombstones
  * included) is persisted and held for the log version it was resolved
  * at ([[version]]), keyed on the session, the qualified dir and the id
  * column besides. Every later read at that version reuses it, so
  * consecutive searches between two writes resolve the tail once; the
  * first read that sees another version releases it (unpersist), and
  * [[compact]] releases it once the fold it fed is durable. At most
  * one tail is held per store dir, and it is no larger than the live
  * tail — which the compaction cadence already bounds for the
  * broadcast anti-join above. The key is what is on disk, so store
  * instances over one dir share the held tail, and a rewrite by
  * another instance or process is seen by the next read. A dir that is
  * never read again keeps its tail until the session stops; Spark's
  * storage memory evicts it to disk under pressure.
  *
  * Crash/replay safety (the checkpoint replays a batch after any
  * crash; every arrow below is idempotent under replay):
  *  - append crashes mid-write → partial dir without `_SUCCESS` is
  *    invisible to readers; the replayed batch rewrites it (overwrite).
  *  - replay AFTER its delta was folded and deleted → the rewritten
  *    delta's seq ≤ watermark → ignored by reads, removed by the next
  *    compaction.
  *  - compaction crashes after publishing base but before the
  *    watermark write → the folded deltas still read as live and are
  *    re-applied OVER the new base; latest-seq-wins resolution picks
  *    the same row the fold picked (all folded seqs are still
  *    present), so the merged view is unchanged. The watermark is only
  *    advanced before any delta deletion, never after.
  *  - watermark write is tmp + atomic rename; a torn write reads as
  *    absent (−1), which degrades to the re-apply case above.
  */
object DeltaLog {

  /** Tombstone marker column in delta rows (absent from base). */
  val TombCol = "__tomb"
  private val SeqCol = "__delta_seq"
  private val DirPattern = """^d(\d+)$""".r
  /** The seq of the delta dir a part file sits in, from its path. */
  private val SeqInPath = """/d(\d+)/[^/]+$"""

  private def basePath(dir: String) = s"$dir/base"
  private def deltaRoot(dir: String) = s"$dir/delta"
  private def seqDir(dir: String, seq: Long) = f"${deltaRoot(dir)}/d$seq%012d"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // -----------------------------------------------------------------
  // Legacy-layout adoption: a store written by the pre-delta-log code
  // is a plain SnapshotIO snapshot AT `dir` ITSELF (parquet files +
  // _SUCCESS at the root). Reading such a dir through the delta-log
  // paths alone would silently return empty (no base/ subdir) and
  // orphan every pre-existing row, so [[readMerged]] detects the
  // legacy root and ADOPTS it as the initial base — pure file RENAMES
  // (O(files), no data rewrite; a 100 TB legacy store migrates in
  // metadata time). Crash-safe via a `_adopting` resume marker:
  //  - marker created, files partially moved → next read resumes the
  //    move (each file is either at the root or in base__adopt —
  //    idempotent).
  //  - tmp renamed to base, marker not yet deleted → resume sees base
  //    present, drops leftovers and the marker.
  // Single-writer, like every other mutation in this log.
  // -----------------------------------------------------------------

  private def adoptIfLegacy(spark: SparkSession, dir: String): Unit = {
    val rootP = new Path(dir)
    val f = fs(spark, rootP)
    // a legacy root mid-SnapshotIO-publish crash (dir renamed aside):
    // promote tmp/bak exactly as SnapshotIO.read would — only when dir
    // itself is missing, matching that recovery contract
    if (!f.exists(rootP) &&
        (f.exists(new Path(dir + ".tmp", "_SUCCESS")) ||
          f.exists(new Path(dir + ".bak")))) {
      SnapshotIO.read(spark, dir); ()
    }
    if (!f.exists(rootP)) return
    val marker = new Path(rootP, "_adopting")
    val legacy = f.exists(new Path(rootP, "_SUCCESS"))
    if (!legacy && !f.exists(marker)) return
    // resume marker FIRST: every later crash point replays through here
    if (!f.exists(marker)) f.create(marker, true).close()
    val baseP = new Path(basePath(dir))
    val tmp = new Path(rootP, "base__adopt")
    if (f.exists(baseP)) {
      // a resumed adoption that already renamed tmp → base: the file
      // moves all preceded that rename, so the root is clean — drop
      // leftovers and the marker
      f.delete(tmp, true)
    } else {
      // two concurrent READERS of the same legacy store can both enter
      // adoption (reads are mutating here, by design): whichever renames
      // tmp → base first wins, and the loser's next file/dir operation
      // fails with base present and tmp gone. That is a WIN, not an
      // error — every file already landed in base via the winner — so
      // each failure point below stands down when base exists, the same
      // race tolerance SnapshotIO.read applies to its publish renames.
      def concurrentWin(): Boolean = f.exists(baseP)
      if (!f.mkdirs(tmp) && !f.exists(tmp)) {
        if (concurrentWin()) { f.delete(marker, false); return }
        throw new java.io.IOException(s"mkdir $tmp failed")
      }
      // move every root-level FILE (parquet parts, _SUCCESS, committer
      // sidecars); delta-layout files and subdirs (delta/, markers)
      // stay put
      val keep = Set("_adopting", "_watermark", "_watermark.tmp",
        "_basecount", "_basecount.tmp")
      f.listStatus(rootP).toSeq
        .filter(st => st.isFile && !keep(st.getPath.getName))
        .foreach { st =>
          val to = new Path(tmp, st.getPath.getName)
          if (!f.rename(st.getPath, to) && !f.exists(to)) {
            if (concurrentWin()) { f.delete(marker, false); return }
            throw new java.io.IOException(s"rename ${st.getPath} -> $to failed")
          }
        }
      if (!f.rename(tmp, baseP) && !f.exists(baseP))
        throw new java.io.IOException(s"rename $tmp -> $baseP failed")
    }
    f.delete(marker, false)
    ()
  }

  /** Append one flush as delta `seq`. Overwrite-mode so a checkpoint
    * replay of the same batchId rewrites rather than duplicates. Rows
    * where `tombstoneCol` is true are recorded as deletions of their
    * id; the column itself is normalized into [[TombCol]]. The batch
    * must already be id-unique (the stream dedups before appending). */
  def append(batch: DataFrame, dir: String, seq: Long,
             tombstoneCol: Option[String] = None): Unit = {
    require(seq >= 0, s"delta seq must be >= 0, got $seq")
    val normalized = tombstoneCol match {
      case Some(c) =>
        require(batch.columns.contains(c), s"tombstone column '$c' missing")
        val marked = batch.withColumn(TombCol,
          coalesce(col(c).cast("boolean"), lit(false)))
        // a caller naming TombCol itself already normalized in place —
        // dropping would discard the marker it just wrote
        if (c == TombCol) marked else marked.drop(c)
      case None =>
        require(!batch.columns.contains(TombCol),
          s"reserved column '$TombCol' present — pass it as tombstoneCol")
        batch.withColumn(TombCol, lit(false))
    }
    normalized.write.mode("overwrite").parquet(seqDir(dir, seq))
  }

  /** Highest seq folded into base (−1 before the first compaction). */
  def watermark(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir, "_watermark")
    val f = fs(spark, p)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        // a torn/garbled marker must degrade to "reapply deltas"
        // (idempotent), never to a crash on every subsequent read
        s.toLongOption.getOrElse(-1L)
      } finally in.close()
    }
  }

  private def setWatermark(spark: SparkSession, dir: String, w: Long): Unit = {
    val p = new Path(dir, "_watermark")
    val tmp = new Path(dir, "_watermark.tmp")
    val f = fs(spark, p)
    val out = f.create(tmp, true)
    try out.write(w.toString.getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p) && !f.exists(p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  /** The delta dir for one seq — for reading back a just-appended
    * batch (e.g. to derive index-side rows from exactly what landed). */
  def deltaPath(dir: String, seq: Long): String = seqDir(dir, seq)

  /** Next unused delta seq for BATCH (non-streaming) appends: one past
    * the max of the watermark and every complete delta on disk. A torn
    * previous append (no `_SUCCESS`) is invisible here, so its seq is
    * reused and overwritten — the same idempotence a streaming replay
    * relies on. Single-writer, like every mutation in this log. */
  def nextSeq(spark: SparkSession, dir: String): Long =
    math.max(watermark(spark, dir),
      deltaSeqs(spark, dir).lastOption.getOrElse(-1L)) + 1

  /** Every complete (`_SUCCESS`-marked) delta seq on disk, sorted. A
    * dir without the marker is an in-flight or torn write — invisible
    * until its replay completes it. */
  def deltaSeqs(spark: SparkSession, dir: String): Seq[Long] =
    deltas(spark, dir).map(_.seq)

  /** One file directly in a listed dir. Its name, length and
    * modification time are what an in-place rewrite changes: a Spark
    * write names its part files afresh, a rename-swap brings other
    * mtimes. */
  private[graft] final case class FileStamp(name: String, len: Long,
                                            mtime: Long)

  /** The stamps of the files and subdirs directly in `dir`, sorted by
    * name; empty when `dir` is absent. */
  private[graft] def fileStamps(spark: SparkSession, dir: String): Seq[FileStamp] = {
    val p = new Path(dir)
    try fs(spark, p).listStatus(p).toSeq
      .map(st => FileStamp(st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_.name)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** One complete delta dir: its seq, path and file stamps. */
  private[graft] final case class Delta(seq: Long, path: Path,
                                        files: Seq[FileStamp]) {
    def bytes: Long = files.map(_.len).sum
  }

  private def deltas(spark: SparkSession, dir: String): Seq[Delta] =
    fileStamps(spark, deltaRoot(dir)).flatMap { st =>
      st.name match {
        case DirPattern(d) =>
          val path = new Path(deltaRoot(dir), st.name)
          val files = fileStamps(spark, path.toString)
          if (files.exists(_.name == "_SUCCESS")) Some(Delta(d.toLong, path, files))
          else None
        case _ => None
      }
    }.sortBy(_.seq)

  /** A log version: what the merged state of a dir is derived from. */
  final case class Version(watermark: Long, baseMtime: Long, live: Seq[Delta])

  /** The log version on disk: the watermark, the modification time of
    * the base's `_SUCCESS` (−1 before the first publish) and every live
    * delta (seq above the watermark) with its file stamps. Equal
    * versions read equal merged states; an append, a compaction, a
    * base republish and a same-seq rewrite (a checkpoint replay, a
    * scratch store rebuilt in place — new part names under a new
    * `_SUCCESS`) each change it. */
  def version(spark: SparkSession, dir: String): Version = {
    val w = watermark(spark, dir)
    val success = new Path(basePath(dir), "_SUCCESS")
    val baseMtime =
      try fs(spark, success).getFileStatus(success).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    Version(w, baseMtime, deltas(spark, dir).filter(_.seq > w))
  }

  /** The live deltas (seq above the watermark) as ONE parquet relation,
    * schemas merged, each row tagged with its seq in [[SeqCol]]. */
  private def scanTail(spark: SparkSession, live: Seq[Delta]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(live.map(_.path.toString): _*)
      .withColumn(SeqCol,
        regexp_extract(col("_metadata.file_path"), SeqInPath, 1).cast("long"))

  /** What a resolved tail depends on; equal keys read equal tails. */
  private case class TailVersion(session: SparkSession, idCol: String,
                                 log: Version)
  private case class Held(version: TailVersion, tail: DataFrame)
  /** Qualified store dir → its held tail (see the object scaladoc). */
  private val held = scala.collection.mutable.Map.empty[String, Held]

  private def qualify(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    fs(spark, p).makeQualified(p).toString
  }

  private def release(h: Held): Unit =
    // a stopped session has already dropped its cached blocks
    if (!h.version.session.sparkContext.isStopped)
      h.tail.unpersist(blocking = false)

  /** The resolved live tail — latest-seq-wins rows, [[TombCol]] kept —
    * or None when no delta is live. A tail held at the current version
    * is reused; any other held tail for the dir is released. `hold`
    * persists and holds a freshly resolved tail ([[compact]] passes
    * false: it retires the version it reads). */
  private def resolvedTail(spark: SparkSession, dir: String, idCol: String,
                           hold: Boolean): Option[DataFrame] = {
    val at = TailVersion(spark, idCol, version(spark, dir))
    val live = at.log.live
    val key = qualify(spark, dir)
    held.synchronized {
      held.get(key) match {
        case Some(h) if h.version == at => Some(h.tail)
        case prior =>
          prior.foreach { h => release(h); held.remove(key) }
          if (live.isEmpty) None
          else {
            // a cached plan keeps the partitioning it was planned with
            // (AQE does not coalesce it), so size the resolving shuffle
            // as AQE would: one partition per advisory-size share of the
            // tail. A small tail stays one id-sorted partition, and a
            // delete drawn from it writes one file.
            val target = JavaUtils.byteStringAsBytes(
              spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
            val bytes = live.map(_.bytes).sum
            val parts = math.min(Int.MaxValue.toLong,
              math.max(1L, (bytes + target - 1) / target)).toInt
            // latest-seq-wins per id; within one seq the append is
            // id-unique
            val win = Window.partitionBy(col(idCol)).orderBy(col(SeqCol).desc)
            val resolved = scanTail(spark, live)
              .repartition(parts, col(idCol))
              .withColumn("__rn", row_number().over(win))
              .filter(col("__rn") === 1).drop("__rn", SeqCol)
            if (hold) {
              resolved.persist()
              held(key) = Held(at, resolved)
            }
            Some(resolved)
          }
      }
    }
  }

  /** Releases the tail held for `dir`, if any. */
  private def releaseTail(spark: SparkSession, dir: String): Unit = {
    val key = qualify(spark, dir)
    held.synchronized(held.remove(key).foreach(release))
  }

  /** Merged current state: base shadowed by live deltas, latest seq
    * wins per id, tombstoned ids dropped. None only when nothing was
    * ever written. The base side is scanned once with NO shuffle — the
    * only exchange is over the delta tail (bounded by the compaction
    * cadence) plus the anti-join against its id set (broadcast when the
    * tail is small, which the cadence guarantees).
    *
    * A pre-delta-log plain snapshot at the dir ROOT is adopted as the
    * initial base first ([[adoptIfLegacy]] — file renames only), so
    * opening a legacy store through the log never reads it as empty.
    * Schema drift is tolerated between deltas (one merged schema) and
    * between base and tail (columns added by newer writers pad null on
    * the older side). The tail is resolved once per log version and
    * held (object scaladoc). */
  def readMerged(spark: SparkSession, dir: String,
                 idCol: String): Option[DataFrame] =
    merged(spark, dir, idCol, hold = true)

  private def merged(spark: SparkSession, dir: String, idCol: String,
                     hold: Boolean): Option[DataFrame] = {
    adoptIfLegacy(spark, dir)
    val base = SnapshotIO.read(spark, basePath(dir))
    resolvedTail(spark, dir, idCol, hold).map { resolved =>
      val alive = resolved.filter(!col(TombCol)).drop(TombCol)
      base match {
        case None => alive
        case Some(b) =>
          // tombstoned ids participate in the shadow set: their base
          // rows must disappear even though they contribute no delta row
          alive.unionByName(
            b.join(resolved.select(col(idCol)), Seq(idCol), "left_anti"),
            allowMissingColumns = true)
      }
    }.orElse(base)
  }

  /** Fold the live delta tail into base (crash-safe publish), advance
    * the watermark, then drop the folded dirs. Returns the new
    * watermark (unchanged when the tail was empty). O(corpus) by
    * design — run on a cadence so its cost amortizes to
    * O(corpus / compactEvery) per flush, not on every flush.
    *
    * `retainGenerations > 0` archives the DISPLACED base as a
    * numbered generation ([[SnapshotIO.publishRetained]]), so each
    * compaction becomes a time-travel point: `SnapshotIO
    * .readGeneration(spark, s"$dir/base", g)` reads any kept fold for
    * rollback / [[graft.operators.Crud.snapshotDiff]] audits. The log
    * assumes ONE writer (the owning streaming query or an external
    * maintenance job between flushes) — concurrent compactions from
    * two processes are not coordinated.
    *
    * `transform` rewrites the folded view before it is published (the
    * facade drops its tombstone-flagged rows here). It must keep
    * `idCol` and be stable under re-merge: a crash between the base
    * publish and the watermark write re-applies the folded deltas over
    * the transformed base, so rows the transform dropped can reappear
    * (with their pre-transform payload) until the next compaction —
    * acceptable for row filters like tombstone removal, wrong for
    * anything a re-applied delta row would contradict. */
  def compact(spark: SparkSession, dir: String, idCol: String,
              retainGenerations: Int = 0,
              transform: DataFrame => DataFrame = identity,
              foldEmptyTail: Boolean = false): Long = {
    val w = watermark(spark, dir)
    val all = deltaSeqs(spark, dir)
    val live = all.filter(_ > w)
    val f = fs(spark, new Path(dir))
    if (live.isEmpty) {
      // a checkpoint replay can rewrite a delta at seq ≤ watermark
      // (crash during the compaction's own batch); reads ignore it, but
      // leave no stale dirs behind even when there is nothing to fold
      all.filter(_ <= w).foreach(s0 => f.delete(new Path(seqDir(dir, s0)), true))
      // `foldEmptyTail` still pushes the transform through the base —
      // the facade's physical tombstone drop must apply even when every
      // delete already folded (e.g. right after a legacy adoption)
      if (foldEmptyTail) {
        adoptIfLegacy(spark, dir)
        SnapshotIO.read(spark, basePath(dir)).foreach { b =>
          if (retainGenerations > 0)
            SnapshotIO.publishRetained(transform(b), basePath(dir), retainGenerations)
          else SnapshotIO.publish(transform(b), basePath(dir))
          setBaseCount(spark, dir, w, spark.read.parquet(basePath(dir)).count())
        }
      }
      return w
    }
    val hi = live.max
    merged(spark, dir, idCol, hold = false).foreach { m =>
      if (retainGenerations > 0)
        SnapshotIO.publishRetained(transform(m), basePath(dir), retainGenerations)
      else SnapshotIO.publish(transform(m), basePath(dir))
    }
    setWatermark(spark, dir, hi)
    releaseTail(spark, dir)
    // record the folded base's row count, PAIRED with the watermark it
    // belongs to (stale pairs from a crash between the two writes are
    // detected by the seq mismatch) — an O(delta) store-size tracker
    // reads this instead of counting the corpus. Zero-column scan:
    // parquet serves it from row-group metadata.
    setBaseCount(spark, dir, hi, spark.read.parquet(basePath(dir)).count())
    // only delete BELOW the just-durable watermark — includes stale
    // dirs ≤ the previous watermark left by an earlier crashed cleanup
    deltaSeqs(spark, dir).filter(_ <= hi)
      .foreach(s0 => f.delete(new Path(seqDir(dir, s0)), true))
    hi
  }

  /** Row count of the compacted base, valid only when recorded by the
    * compaction that produced the CURRENT watermark (None before the
    * first compaction, after a legacy adoption, or when a crash split
    * the watermark/count writes — callers fall back to counting). */
  def baseCount(spark: SparkSession, dir: String): Option[Long] = {
    val p = new Path(dir, "_basecount")
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s.split(':') match {
        case Array(wm, n) =>
          (wm.toLongOption, n.toLongOption) match {
            case (Some(w), Some(c)) if w == watermark(spark, dir) => Some(c)
            case _ => None // stale or torn — recount
          }
        case _ => None
      }
    }
  }

  /** Upper bound on the merged live row count, from O(delta) state:
    * the base count recorded at the last fold (falling back to one
    * zero-column base scan when the pair is missing or stale) plus
    * the live tail's non-tombstone row count (one count over the
    * one-scan tail). An upper bound because duplicate-id inserts are
    * double-counted and tombstone hits are not subtracted — exact
    * resolution of the overlap is the merged count, which a
    * threshold-tracking caller only needs once this bound says a
    * crossing is possible. */
  def sizeUpperBound(spark: SparkSession, dir: String): Long = {
    val bc = baseCount(spark, dir).getOrElse(
      SnapshotIO.read(spark, basePath(dir)).map(_.count()).getOrElse(0L))
    val live = version(spark, dir).live
    bc + (if (live.isEmpty) 0L
      else scanTail(spark, live).filter(!col(TombCol)).count())
  }

  private def setBaseCount(spark: SparkSession, dir: String, wm: Long,
                           n: Long): Unit = {
    val p = new Path(dir, "_basecount")
    val tmp = new Path(dir, "_basecount.tmp")
    val f = fs(spark, p)
    val out = f.create(tmp, true)
    try out.write(s"$wm:$n".getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p) && !f.exists(p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }
}
