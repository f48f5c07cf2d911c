package graft

import graft.core.{DeltaLog, DriverLocal}
import graft.operators.Hnsw
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path
import scala.collection.mutable

/** A store's live rows held on the Spark driver: the serve snapshot
  * [[VectorStore]]'s read calls answer from while the store fits
  * [[DriverLocal]] (the class scaladoc there gives the calls, the key,
  * the absorb rule and the release).
  *
  * The base is held as columns — ids, one packed float matrix, the
  * metadata, content, `metadata_json` and `is_deleted` — and the live
  * tail as the latest row per id with its delta seq. The snapshot's
  * live rows are the merged view [[VectorStore.snapshot]] reads with
  * `is_deleted = false`: a null `is_deleted` (a raw append without the
  * column) is absent from every search, as there. Distances are
  * [[Hnsw.l2]]'s, the operation sequence of the Spark kernel, and
  * rankings take [[Hnsw.topK]]'s (dist, id) order, so an answer equals
  * the distributed one bit for bit. */
private[graft] object ServeSnapshot {

  /** The columns of [[VectorStore.snapshot]] as every file read types
    * them (a read makes every field nullable). */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("content", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("metadata_json", StringType), StructField("is_deleted", BooleanType)))

  /** The columns of a [[VectorStore.searchIvf]] hit. */
  val IvfSchema: StructType = StructType(Schema.fields.filter(f =>
    Set("id", "embedding", "metadata")(f.name))).add("dist", DoubleType)

  /** The snapshot's driver heap at the peak of its hold, per row at
    * dim `d` (the [[DriverLocal]] table): the columns, the packed vector
    * shipped and held (measured 1 609 B at dim 64 and 2 622 B at dim
    * 128 with a two-entry metadata map and 25 string bytes, which the
    * constants below price apart), and the IVF list entry (13–23 B). */
  def rowBytes(dim: Int): Long = 64L + 16L * dim
  /** Peak driver heap per metadata map entry (measured 225 B). */
  val EntryBytes: Long = 256L
  /** Peak driver heap per unencoded UTF-8 byte of a string column
    * (`content`, `metadata_json`, the metadata keys and values):
    * measured 4.1 B for ASCII, 5.0 B for text held as UTF-16. */
  val ByteBytes: Long = 6L
  /** Peak driver heap per persisted HNSW edge: the collected edge table
    * and the reconstructed shards, node vectors included (measured
    * 151 B at M = 16). */
  val EdgeBytes: Long = 160L
  private val StringCols = Seq("content", "metadata_json", "metadata")

  /** The driver heap a snapshot of the store at `dir` at `v` holds at
    * its peak, with the HNSW graph whose edges are at `edgesDir`: rows
    * (the base and live delta files' row counts, so an id the tail
    * shadows counts twice), metadata entries and the string columns'
    * unencoded UTF-8 bytes, all from parquet footers — no job.
    * `Long.MaxValue` when a footer records no size statistics for a
    * string column. */
  def estimate(spark: SparkSession, dir: String, v: DeltaLog.Version, dim: Int,
               edgesDir: Option[String]): Long = {
    def at(d: String) = DeltaLog.footers(spark, new Path(d), DeltaLog.fileStamps(spark, d))
    val files = at(s"$dir/base") ++ v.live.flatMap(d => DeltaLog.footers(spark, d.path, d.files))
    val strings = files.flatMap(f => StringCols.map(c => f.bytes.getOrElse(c, Some(0L))))
    if (strings.exists(_.isEmpty)) Long.MaxValue
    else files.map(_.rows).sum * rowBytes(dim) +
      files.map(_.values.getOrElse("metadata", 0L)).sum * EntryBytes +
      strings.flatten.sum * ByteBytes + edgesDir.fold(0L)(at(_).map(_.rows).sum) * EdgeBytes
  }

  /** Rows packed into columns, as one partition ships them and the
    * driver holds them. `deleted` is 0 for false, 1 for true and 2 for
    * a null `is_deleted`; `seqs` and `tombs` are set for tail rows.
    * `servable` is false when a row the merged view holds carries no
    * vector of the store's dim, or a row has a null id. */
  final class Rows(val ids: Array[Long], val vecs: Array[Float], val dim: Int,
                   val content: Array[String], val metadata: Array[Map[String, String]],
                   val json: Array[String], val deleted: Array[Byte],
                   val seqs: Array[Long], val tombs: Array[Boolean],
                   val servable: Boolean) extends Serializable {
    def n: Int = ids.length
    /** In the merged view: not a tombstone. */
    def present(i: Int): Boolean = tombs == null || !tombs(i)
    /** Served by searches: in the merged view with `is_deleted = false`. */
    def live(i: Int): Boolean = present(i) && deleted(i) == 0
    def vec(i: Int): Array[Float] = java.util.Arrays.copyOfRange(vecs, i * dim, (i + 1) * dim)
    def dist(q: Array[Float], i: Int): Double = Hnsw.l2(q, vecs, i * dim)
    def values(i: Int): Seq[Any] = Seq(ids(i), vec(i), content(i), metadata(i), json(i),
      if (deleted(i) == 2) null else deleted(i) == 1)
  }

  private def concat(parts: Array[Rows], dim: Int): Rows = {
    def cat[T: scala.reflect.ClassTag](f: Rows => Array[T]): Array[T] =
      if (parts.exists(p => f(p) == null)) null else Array.concat(parts.map(f).toSeq: _*)
    new Rows(cat(_.ids), cat(_.vecs), dim, cat(_.content), cat(_.metadata), cat(_.json),
      cat(_.deleted), cat(_.seqs), cat(_.tombs), parts.forall(_.servable))
  }

  /** `df`'s rows packed per partition and collected in one job. `df`
    * carries [[Schema]]'s columns, then [[DeltaLog.TombCol]] and
    * [[DeltaLog.SeqCol]] when `tail`. */
  private def collect(df: DataFrame, dim: Int, tail: Boolean): Rows = {
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val ids = mutable.ArrayBuilder.make[Long]
      val vecs = mutable.ArrayBuilder.make[Float]
      val content = mutable.ArrayBuilder.make[String]
      val metadata = mutable.ArrayBuilder.make[Map[String, String]]
      val json = mutable.ArrayBuilder.make[String]
      val deleted = mutable.ArrayBuilder.make[Byte]
      val seqs = mutable.ArrayBuilder.make[Long]
      val tombs = mutable.ArrayBuilder.make[Boolean]
      var servable = true
      val zeros = new Array[Float](dim)
      def str(r: InternalRow, c: Int) = if (r.isNullAt(c)) null else r.getUTF8String(c).toString
      it.foreach { r =>
        val tomb = tail && r.getBoolean(6)
        if (r.isNullAt(0)) servable = false
        ids += (if (r.isNullAt(0)) -1L else r.getLong(0))
        val v = if (r.isNullAt(1)) null else r.getArray(1).toFloatArray()
        if (v == null || v.length != dim) {
          if (!tomb) servable = false
          vecs ++= zeros
        } else vecs ++= v
        content += str(r, 2)
        metadata += (if (r.isNullAt(3)) null else {
          val m = r.getMap(3)
          val (ks, vs) = (m.keyArray(), m.valueArray())
          (0 until m.numElements()).map { j =>
            ks.getUTF8String(j).toString -> (if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
          }.toMap
        })
        json += str(r, 4)
        deleted += (if (r.isNullAt(5)) 2.toByte else if (r.getBoolean(5)) 1.toByte else 0.toByte)
        if (tail) { tombs += tomb; seqs += r.getLong(7) }
      }
      Iterator(new Rows(ids.result(), vecs.result(), dim, content.result(), metadata.result(),
        json.result(), deleted.result(), if (tail) seqs.result() else null,
        if (tail) tombs.result() else null, servable))
    }.collect()
    concat(parts, dim)
  }

  /** `df` projected onto [[Schema]] (absent columns read null), plus
    * the tail columns when `tail`. */
  private def project(df: DataFrame, tail: Boolean): DataFrame = {
    def c(f: StructField) =
      (if (df.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    val extra = if (tail) Seq(col(DeltaLog.TombCol), col(DeltaLog.SeqCol)) else Nil
    df.select(Schema.fields.map(c).toSeq ++ extra: _*)
  }

  /** The base at one identity: its rows and each id's row. */
  final class Base(val watermark: Long, val baseMtime: Long,
                   val stamps: Seq[DeltaLog.FileStamp], val rows: Rows) {
    val index: mutable.LongMap[Int] = {
      val m = new mutable.LongMap[Int](rows.n)
      var i = 0
      while (i < rows.n) { m(rows.ids(i)) = i; i += 1 }
      m
    }
    /** Ids are unique, as the merged view needs them to be. */
    def servable: Boolean = rows.servable && index.size == rows.n
  }

  /** A row of the snapshot: the packed rows it sits in and its index. */
  final case class Ref(rows: Rows, i: Int) {
    def id: Long = rows.ids(i)
  }

  /** The snapshot at one log version: the base and the resolved tail
    * (the latest row per id, tombstones included). Immutable; an
    * absorb makes a new one. */
  final class Snap(val version: DeltaLog.Version, val base: Base,
                   val tail: mutable.LongMap[Ref]) {
    val dim: Int = base.rows.dim

    /** The id's row in the merged view, tombstoned ids absent. */
    def row(id: Long): Option[Ref] = tail.get(id) match {
      case Some(r) => Some(r).filter(r => r.rows.present(r.i))
      case None => base.index.get(id).map(Ref(base.rows, _))
    }

    /** Every live row, base rows the tail shadows skipped. */
    def foreachLive(f: (Rows, Int) => Unit): Unit = {
      val b = base.rows
      var i = 0
      while (i < b.n) {
        if (b.live(i) && !tail.contains(b.ids(i))) f(b, i)
        i += 1
      }
      tail.foreachValue(r => if (r.rows.live(r.i)) f(r.rows, r.i))
    }

    lazy val liveCount: Long = { var n = 0L; foreachLive((_, _) => n += 1); n }

    /** Live rows passing `filter` ([[graft.operators.Search.metadataFilter]]'s
      * null-safe equality on every pair). */
    def matches(filter: Map[String, String])(rows: Rows, i: Int): Boolean =
      filter.isEmpty || {
        val m = rows.metadata(i)
        filter.forall { case (k, v) => (if (m == null) null else m.getOrElse(k, null)) == v }
      }

    def count(filter: Map[String, String]): Long = {
      var n = 0L
      foreachLive((r, i) => if (matches(filter)(r, i)) n += 1)
      n
    }

    /** The exact top `k` of the live rows that pass `filter` and `keep`. */
    def exact(q: Array[Float], k: Int, filter: Map[String, String],
              keep: Long => Boolean = _ => true): Seq[(Ref, Double)] = {
      val hits = mutable.ArrayBuffer.empty[(Long, Double)]
      foreachLive { (r, i) =>
        if (keep(r.ids(i)) && matches(filter)(r, i)) hits += ((r.ids(i), r.dist(q, i)))
      }
      resolve(Hnsw.topK(hits.iterator, k))
    }

    /** Hits by id with their rows. */
    def resolve(hits: Seq[(Long, Double)]): Seq[(Ref, Double)] =
      hits.map { case (id, d) => (row(id).get, d) }

    /** IVF over the held layout: the probed lists' ids the tail does
      * not hold above `tableSeq` and the tail's live rows above it,
      * those passing `filter` ranked exactly. */
    def ivf(q: Array[Float], k: Int, filter: Map[String, String], probed: Seq[Int],
            layout: Map[Int, Array[Long]], tableSeq: Long): Seq[(Ref, Double)] = {
      val hits = mutable.ArrayBuffer.empty[(Long, Double)]
      def add(r: Ref): Unit =
        if (r.rows.present(r.i) && matches(filter)(r.rows, r.i))
          hits += ((r.id, r.rows.dist(q, r.i)))
      probed.distinct.foreach { c =>
        layout.getOrElse(c, Array.empty[Long]).foreach { id =>
          if (!tail.get(id).exists(r => r.rows.seqs(r.i) > tableSeq))
            tail.get(id).orElse(base.index.get(id).map(Ref(base.rows, _))).foreach(add)
        }
      }
      tail.foreachValue(r => if (r.rows.seqs(r.i) > tableSeq && r.rows.live(r.i)) add(r))
      resolve(Hnsw.topK(hits.iterator, k))
    }

    /** The base's live rows, as [[VectorStore]]'s executor-held graph
      * reads them. */
    def baseLive: Iterator[(Long, Array[Float])] = {
      val b = base.rows
      (0 until b.n).iterator.filter(b.live).map(i => (b.ids(i), b.vec(i)))
    }

    /** The tail as the shadow of HNSW shards: every tail id, a null
      * vector where the id is not live. Built once per shard count. */
    def shadow(parts: Int): Hnsw.Shadow = shadows.computeIfAbsent(parts, _ =>
      tail.values.toArray.groupBy(r => Hnsw.shardOf(r.id, parts)).map { case (pid, rs) =>
        pid -> rs.map(r => (r.id, if (r.rows.live(r.i)) r.rows.vec(r.i) else null))
      })
    private val shadows = new java.util.concurrent.ConcurrentHashMap[Int, Hnsw.Shadow]()

    /** `ids`' rows in the merged view, each id once. */
    def rowsOf(ids: Seq[Long]): Seq[Ref] = ids.distinct.flatMap(row)
  }

  /** A store dir's held state: the snapshot, the driver heap estimate
    * it was accepted at, and the parts held beside it on first use. */
  private final class Held(val snap: Snap, val bytes: Long,
                           val parts: mutable.Map[String, (Any, Any)])

  /** Qualified vectors dir → its held state, or the version the
    * snapshot cannot serve (over budget, empty, or a row it cannot
    * carry), so a call at that version holds nothing. The held
    * snapshots of all dirs together stay within the one budget: a hold
    * releases other dirs' snapshots until it fits. Guarded by its own
    * lock, which no Spark job runs under. */
  private val held = mutable.Map.empty[String, Either[DeltaLog.Version, Held]]
  /** Qualified vectors dir → the lock its holds and absorbs run under,
    * so a dir's collect jobs hold up only calls on that dir. */
  private val holding = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The snapshot of the store at `dir` at its current log version, or
    * None when the store does not fit [[DriverLocal]] (or the forcing
    * scope is on), holds nothing yet, or holds a row the snapshot
    * cannot carry. The estimate prices the edges of the HNSW graph at
    * `edgesDir` too, which a search holds beside the snapshot. */
  def at(spark: SparkSession, dir: String, dim: Int, edgesDir: Option[String]): Option[Snap] =
    if (!DriverLocal.fits(0L)) None
    else {
      val key = DeltaLog.qualify(spark, dir)
      val v = DeltaLog.logVersion(spark, dir)
      def current: Option[Option[Snap]] = held.synchronized(held.get(key)) match {
        case Some(Right(h)) if h.snap.version == v => Some(Some(h.snap))
        case Some(Left(over)) if over == v => Some(None)
        case _ => None
      }
      current.getOrElse(holding.computeIfAbsent(key, _ => new AnyRef).synchronized {
        current.getOrElse(hold(spark, dir, key, v, dim, edgesDir))
      })
    }

  /** Holds the snapshot of `dir` at `v`: absorbs the deltas above the
    * held version when only those were added, else reads it afresh. */
  private def hold(spark: SparkSession, dir: String, key: String, v: DeltaLog.Version,
                   dim: Int, edgesDir: Option[String]): Option[Snap] = {
    val old = held.synchronized(held.get(key)).flatMap(_.toOption)
    val bytes = estimate(spark, dir, v, dim, edgesDir)
    def refuse(): None.type = { held.synchronized(held(key) = Left(v)); None }
    if (!DriverLocal.fits(bytes)) refuse()
    else {
      held.synchronized {
        held.remove(key)
        val others = held.collect { case (k, Right(h)) => (k, h.bytes) }
        others.foldLeft(others.values.sum) { case (total, (k, b)) =>
          if (DriverLocal.fits(total + bytes)) total else { held.remove(k); total - b }
        }
      }
      val snap = old.filter(h => absorbable(h.snap.version, v)) match {
        case Some(h) => absorbInto(spark, h.snap, v, dim)
        case None => holdAt(spark, dir, v, dim, old.map(_.snap.base))
      }
      if (!snap.exists(s => s.base.servable && servableTail(s)))
        refuse() // nothing to hold at v, or a row it cannot carry
      else {
        // parts keyed on the base (the HNSW graph) go with it; the rest
        // stay until their own key changes
        val parts = old.fold(mutable.Map.empty[String, (Any, Any)])(_.parts)
        held.synchronized(held(key) = Right(new Held(snap.get, bytes, parts)))
        snap
      }
    }
  }

  private def servableTail(s: Snap): Boolean = s.tail.valuesIterator.forall(_.rows.servable)

  /** Whether `to` only adds deltas above what `from` holds, over the
    * same base and the same earlier deltas. */
  private def absorbable(from: DeltaLog.Version, to: DeltaLog.Version): Boolean =
    from.watermark == to.watermark && from.baseMtime == to.baseMtime &&
      to.live.length > from.live.length && to.live.take(from.live.length) == from.live

  private def resolveInto(tail: mutable.LongMap[Ref], rows: Rows): Unit =
    rows.seqs.indices.sortBy(i => rows.seqs(i)).foreach(i => tail(rows.ids(i)) = Ref(rows, i))

  private def scan(spark: SparkSession, ds: Seq[DeltaLog.Delta], dim: Int): Rows =
    collect(project(DeltaLog.scanTail(spark, ds), tail = true), dim, tail = true)

  private def absorbInto(spark: SparkSession, s: Snap, v: DeltaLog.Version, dim: Int): Option[Snap] = {
    val tail = s.tail.clone()
    resolveInto(tail, scan(spark, v.live.drop(s.version.live.length), dim))
    Some(new Snap(v, s.base, tail))
  }

  /** The snapshot at `v`, the base kept from `prior` when its identity
    * (watermark, `_SUCCESS` mtime and file stamps) is unchanged. None
    * when the store holds nothing. */
  private def holdAt(spark: SparkSession, dir: String, v: DeltaLog.Version, dim: Int,
                     prior: Option[Base]): Option[Snap] = {
    val stamps = DeltaLog.fileStamps(spark, s"$dir/base")
    val base = prior.filter(b => b.watermark == v.watermark && b.baseMtime == v.baseMtime &&
        b.stamps == stamps && b.rows.dim == dim).orElse {
      DeltaLog.readBase(spark, dir).map(df => new Base(v.watermark, v.baseMtime, stamps,
        collect(project(df, tail = false), dim, tail = false)))
    }
    if (base.isEmpty && v.live.isEmpty) None
    else {
      val tail = mutable.LongMap.empty[Ref]
      if (v.live.nonEmpty) resolveInto(tail, scan(spark, v.live, dim))
      Some(new Snap(v, base.getOrElse(new Base(v.watermark, v.baseMtime, stamps,
        new Rows(Array.empty, Array.empty, dim, Array.empty, Array.empty, Array.empty,
          Array.empty, null, null, servable = true))), tail))
    }
  }

  /** A part held beside `snap` under `name`: reused while `key` is
    * unchanged, else computed and held in its place. */
  def part[T](spark: SparkSession, dir: String, snap: Snap, name: String, key: Any)(
      compute: => T): T = {
    val k = DeltaLog.qualify(spark, dir)
    val parts = held.synchronized(held.get(k) match {
      case Some(Right(h)) if h.snap eq snap => Some(h.parts)
      case _ => None
    })
    parts.fold(compute) { ps =>
      ps.synchronized {
        ps.get(name) match {
          case Some((k0, value)) if k0 == key => value.asInstanceOf[T]
          case _ =>
            ps.remove(name)
            val value = compute
            ps(name) = (key, value)
            value
        }
      }
    }
  }

  /** (id, list) of the IVF layout at `dir`, grouped by list: each list
    * dir's part files read on the Spark driver, `id` alone, so no job
    * lists or reads the table. None when `dir` holds a dir that is not
    * a `clusterCol=` list, which only the distributed read can take. */
  def layout(spark: SparkSession, dir: String, clusterCol: String): Option[Map[Int, Array[Long]]] = {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message spark_schema { optional int64 id; }")
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val lists = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath, Some(st.getPath.getName).filter(_.startsWith(s"$clusterCol="))
        .flatMap(_.stripPrefix(s"$clusterCol=").toIntOption)))
    if (lists.exists(_._2.isEmpty)) None
    else Some(lists.map { case (p, c) =>
      val ids = mutable.ArrayBuilder.make[Long]
      fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) { ids += g.getLong("id", 0); g = reader.read() }
        } finally reader.close()
      }
      c.get -> ids.result()
    }.toMap)
  }

  /** A persisted HNSW edge table as collected rows (partition_id, src,
    * level, dst), in scan order. */
  final class Edges(val pids: Array[Int], val srcs: Array[Long], val levels: Array[Int],
                    val dsts: Array[Long]) extends Serializable {
    def iterator: Iterator[(Int, Long, Int, Long)] =
      pids.indices.iterator.map(i => (pids(i), srcs(i), levels(i), dsts(i)))
  }

  def edges(table: DataFrame): Edges = {
    val parts = table.select(col("partition_id").cast("int"), col("src").cast("long"),
        col("level").cast("int"), col("dst").cast("long")).queryExecution.toRdd
      .mapPartitions { it =>
        val (p, s, l, d) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Long],
          mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Long])
        it.foreach { r => p += r.getInt(0); s += r.getLong(1); l += r.getInt(2); d += r.getLong(3) }
        Iterator(new Edges(p.result(), s.result(), l.result(), d.result()))
      }.collect()
    new Edges(Array.concat(parts.map(_.pids).toSeq: _*), Array.concat(parts.map(_.srcs).toSeq: _*),
      Array.concat(parts.map(_.levels).toSeq: _*), Array.concat(parts.map(_.dsts).toSeq: _*))
  }

  /** `rows` as a local relation of `schema`: collecting it runs no job. */
  def frame(spark: SparkSession, rows: Seq[Seq[Any]], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
}
