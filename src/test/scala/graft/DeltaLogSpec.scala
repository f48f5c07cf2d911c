package graft

import graft.core.{DeltaLog, SnapshotIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Append-only delta log: merge-on-read semantics, tombstones, cadence
  * compaction, and idempotence across every crash/replay point the
  * streaming checkpoint can produce. */
class DeltaLogSpec extends SparkSpec {

  private def rows(dir: String): Map[Long, String] = {
    val s = spark
    DeltaLog.readMerged(s, dir, "id").map(
      _.select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap).getOrElse(Map.empty)
  }

  private def df(pairs: (Long, String)*) = {
    val s = spark
    import s.implicits._
    pairs.toDF("id", "v")
  }

  test("append + readMerged: latest seq wins per id, base shadowed") {
    val dir = Files.createTempDirectory("dlog").toString
    assert(DeltaLog.readMerged(spark, dir, "id").isEmpty, "empty store reads None")
    DeltaLog.append(df(0L -> "a", 1L -> "b"), dir, 0L)
    DeltaLog.append(df(1L -> "B", 2L -> "c"), dir, 1L)
    assert(rows(dir) == Map(0L -> "a", 1L -> "B", 2L -> "c"))
    // fold, then keep writing — base rows must stay shadowable
    DeltaLog.compact(spark, dir, "id")
    DeltaLog.append(df(0L -> "A2"), dir, 2L)
    assert(rows(dir) == Map(0L -> "A2", 1L -> "B", 2L -> "c"))
  }

  test("tombstones delete through merge AND through compaction") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dlogtomb").toString
    DeltaLog.append(df(0L -> "a", 1L -> "b", 2L -> "c"), dir, 0L)
    DeltaLog.compact(spark, dir, "id") // id 1's row now lives in BASE only
    DeltaLog.append(
      Seq((1L, "x", true), (3L, "d", false)).toDF("id", "v", "del"),
      dir, 1L, tombstoneCol = Some("del"))
    assert(rows(dir) == Map(0L -> "a", 2L -> "c", 3L -> "d"),
      "tombstone must shadow the base row")
    DeltaLog.compact(spark, dir, "id")
    assert(rows(dir) == Map(0L -> "a", 2L -> "c", 3L -> "d"),
      "compaction must not resurrect a tombstoned id")
    // post-compaction base carries no tombstone bookkeeping column
    val base = SnapshotIO.read(spark, s"$dir/base").get
    assert(!base.columns.contains(DeltaLog.TombCol))
    // delete-then-reinsert is a normal insert
    DeltaLog.append(df(1L -> "back"), dir, 2L)
    assert(rows(dir)(1L) == "back")
    // a batch already carrying the normalized marker column name works:
    // the marker must survive normalization, not be dropped with it
    DeltaLog.append(
      Seq((1L, "x", true)).toDF("id", "v", DeltaLog.TombCol),
      dir, 3L, tombstoneCol = Some(DeltaLog.TombCol))
    assert(!rows(dir).contains(1L),
      "tombstone named __tomb directly must still delete")
  }

  test("per-flush write is O(batch): base untouched between compactions") {
    val dir = Files.createTempDirectory("dlogsize").toString
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a deliberately corpus-sized base
    DeltaLog.append(df((0L until 5000L).map(i =>
      i -> s"corpus payload row $i with some ballast text"): _*), dir, 0L)
    DeltaLog.compact(spark, dir, "id")
    val baseStamp = f.listStatus(new Path(s"$dir/base"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val baseBytes = f.getContentSummary(new Path(s"$dir/base")).getLength
    // ten single-row flushes
    (1L to 10L).foreach(i => DeltaLog.append(df((100000 + i) -> "tiny"), dir, i))
    val after = f.listStatus(new Path(s"$dir/base"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    assert(after == baseStamp, "base files must be untouched by appends")
    val deltaBytes = f.getContentSummary(new Path(s"$dir/delta")).getLength
    assert(deltaBytes < baseBytes,
      s"10 tiny flushes wrote $deltaBytes B of delta vs $baseBytes B base — " +
        "per-flush I/O must scale with the batch, not the corpus")
    assert(rows(dir).size == 5010)
  }

  test("crash between base publish and watermark: re-applied deltas are idempotent") {
    val dir = Files.createTempDirectory("dlogcrash").toString
    DeltaLog.append(df(0L -> "a", 1L -> "b"), dir, 0L)
    DeltaLog.append(df(1L -> "B2"), dir, 1L) // stale value folded below
    DeltaLog.append(df(1L -> "B3"), dir, 2L) // latest value
    val before = rows(dir)
    // simulate the crash: fold into base WITHOUT advancing the
    // watermark or deleting deltas — exactly the state after a crash
    // between SnapshotIO.publish and setWatermark inside compact()
    SnapshotIO.publish(DeltaLog.readMerged(spark, dir, "id").get, s"$dir/base")
    assert(DeltaLog.watermark(spark, dir) == -1L)
    // deltas 0..2 now re-apply over a base that already contains them:
    // latest-seq-wins must pick the same rows the fold picked (the
    // stale seq-1 value must NOT clobber seq-2's)
    assert(rows(dir) == before)
    assert(rows(dir)(1L) == "B3")
    // the next compaction completes the crashed one
    DeltaLog.compact(spark, dir, "id")
    assert(DeltaLog.watermark(spark, dir) == 2L)
    assert(DeltaLog.deltaSeqs(spark, dir).isEmpty)
    assert(rows(dir) == before)
  }

  test("replay after fold: a rewritten delta at or below the watermark is ignored") {
    val dir = Files.createTempDirectory("dlogreplay").toString
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    DeltaLog.append(df(0L -> "a2"), dir, 1L)
    DeltaLog.compact(spark, dir, "id")
    assert(rows(dir) == Map(0L -> "a2"))
    // checkpoint replays batch 0 after its delta was folded + deleted:
    // the rewritten dir sits at seq 0 <= watermark 1 — dead on arrival
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    assert(rows(dir) == Map(0L -> "a2"),
      "replayed pre-watermark delta must not resurrect the old value")
    DeltaLog.compact(spark, dir, "id") // no live tail: watermark unchanged
    assert(DeltaLog.watermark(spark, dir) == 1L)
    assert(rows(dir) == Map(0L -> "a2"))
  }

  test("retained compaction archives each displaced fold as a generation") {
    val dir = Files.createTempDirectory("dloggen").toString
    DeltaLog.append(df(0L -> "v1"), dir, 0L)
    DeltaLog.compact(spark, dir, "id", retainGenerations = 2)
    DeltaLog.append(df(0L -> "v2"), dir, 1L)
    DeltaLog.compact(spark, dir, "id", retainGenerations = 2)
    DeltaLog.append(df(0L -> "v3"), dir, 2L)
    DeltaLog.compact(spark, dir, "id", retainGenerations = 2)
    assert(rows(dir) == Map(0L -> "v3"))
    // the two displaced folds are readable generations (v1, v2)
    val gens = SnapshotIO.generations(spark, s"$dir/base")
    assert(gens.length == 2, s"generations: $gens")
    val vals = gens.map(g =>
      SnapshotIO.readGeneration(spark, s"$dir/base", g).get
        .select("v").head.getString(0))
    assert(vals == Seq("v1", "v2"), s"generation contents: $vals")
  }

  test("legacy plain snapshot at the root is adopted as the initial base") {
    val dir = Files.createTempDirectory("dlogleg").toString + "/store"
    // a pre-delta-log store: parquet files + _SUCCESS directly at dir
    df(0L -> "old0", 1L -> "old1").write.mode("overwrite").parquet(dir)
    assert(rows(dir) == Map(0L -> "old0", 1L -> "old1"),
      "legacy root must read as the base, not as an empty store")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(s"$dir/base/_SUCCESS")), "root adopted into base/")
    assert(!f.exists(new Path(s"$dir/_adopting")), "resume marker cleaned")
    assert(!f.exists(new Path(s"$dir/_SUCCESS")), "root files moved, not copied")
    // the adopted store mutates like a native one
    DeltaLog.append(df(1L -> "new1", 2L -> "new2"), dir, 0L)
    assert(rows(dir) == Map(0L -> "old0", 1L -> "new1", 2L -> "new2"))
    DeltaLog.compact(spark, dir, "id")
    assert(rows(dir) == Map(0L -> "old0", 1L -> "new1", 2L -> "new2"))
  }

  test("crashed adoption (marker + partial move) resumes on next read") {
    val dir = Files.createTempDirectory("dlogadoptcrash").toString + "/store"
    df(0L -> "a", 1L -> "b").write.mode("overwrite").parquet(dir)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: marker written, ONE file already moved
    f.create(new Path(s"$dir/_adopting"), true).close()
    f.mkdirs(new Path(s"$dir/base__adopt"))
    val firstPart = f.listStatus(new Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .head.getPath
    assert(f.rename(firstPart, new Path(s"$dir/base__adopt/${firstPart.getName}")))
    // the next read must resume the move, not read a partial snapshot
    assert(rows(dir) == Map(0L -> "a", 1L -> "b"))
    assert(!f.exists(new Path(s"$dir/_adopting")))
    assert(f.exists(new Path(s"$dir/base/_SUCCESS")))
  }

  test("empty-tail compaction still removes stale replayed delta dirs") {
    val dir = Files.createTempDirectory("dlogstale").toString
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    DeltaLog.compact(spark, dir, "id")
    // checkpoint replays batch 0 post-fold: dead dir at seq <= watermark
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    assert(DeltaLog.deltaSeqs(spark, dir) == Seq(0L))
    DeltaLog.compact(spark, dir, "id") // tail empty — cleanup must still run
    assert(DeltaLog.deltaSeqs(spark, dir).isEmpty,
      "stale pre-watermark dir must not linger past an empty-tail compaction")
    assert(rows(dir) == Map(0L -> "a"))
  }

  test("baseCount: recorded at compaction, watermark-paired, stale pairs rejected") {
    val dir = Files.createTempDirectory("dlogbc").toString
    DeltaLog.append(df(0L -> "a", 1L -> "b"), dir, 0L)
    assert(DeltaLog.baseCount(spark, dir).isEmpty, "no count before first fold")
    DeltaLog.compact(spark, dir, "id")
    assert(DeltaLog.baseCount(spark, dir) == Some(2L))
    DeltaLog.append(df(2L -> "c"), dir, 1L)
    DeltaLog.compact(spark, dir, "id")
    assert(DeltaLog.baseCount(spark, dir) == Some(3L))
    // a pair from a DIFFERENT watermark (crash split the two writes)
    // must be rejected, not served as the current base's count
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(s"$dir/_basecount"), true)
    out.write("0:999".getBytes("UTF-8")); out.close()
    assert(DeltaLog.baseCount(spark, dir).isEmpty, "stale pair must read None")
  }

  test("compaction transform rewrites the fold; foldEmptyTail reaches a quiet base") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dlogtr").toString
    DeltaLog.append(Seq((0L, "keep"), (1L, "drop"), (2L, "keep")).toDF("id", "v"),
      dir, 0L)
    DeltaLog.compact(spark, dir, "id",
      transform = m => m.filter(col("v") =!= "drop"))
    assert(rows(dir) == Map(0L -> "keep", 2L -> "keep"))
    assert(DeltaLog.baseCount(spark, dir) == Some(2L),
      "recorded count reflects the TRANSFORMED base")
    // no live tail: a plain compact is a no-op on base content, but
    // foldEmptyTail pushes a new transform through anyway
    DeltaLog.compact(spark, dir, "id",
      transform = m => m.filter(col("id") =!= 2L), foldEmptyTail = true)
    assert(rows(dir) == Map(0L -> "keep"))
    assert(DeltaLog.baseCount(spark, dir) == Some(1L))
  }

  test("torn delta dir (no _SUCCESS) is invisible to readers") {
    val dir = Files.createTempDirectory("dlogtorn").toString
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    // fake a crashed write: complete dir minus its _SUCCESS marker
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new Path(f"$dir/delta/d${1L}%012d")
    df(0L -> "SHOULD_NOT_READ").write.mode("overwrite").parquet(torn.toString)
    f.delete(new Path(torn, "_SUCCESS"), false)
    assert(DeltaLog.deltaSeqs(spark, dir) == Seq(0L))
    assert(rows(dir) == Map(0L -> "a"))
    // the replay completes it (overwrite) and it becomes visible
    DeltaLog.append(df(0L -> "a1"), dir, 1L)
    assert(rows(dir) == Map(0L -> "a1"))
  }

  test("merged read: job count independent of the tail length") {
    val one = Files.createTempDirectory("dlogjobs1").toString
    val eight = Files.createTempDirectory("dlogjobs8").toString
    Seq(one, eight).foreach { dir =>
      DeltaLog.append(df((0L until 40L).map(i => i -> s"base$i"): _*), dir, 0L)
      DeltaLog.compact(spark, dir, "id")
    }
    DeltaLog.append(df((0L until 80L).map(i => i -> s"t$i"): _*), one, 1L)
    (1L to 8L).foreach(q => DeltaLog.append(
      df((q * 10L until q * 10L + 10L).map(i => i -> s"t$i"): _*), eight, q))
    def read(dir: String) = DeltaLog.readMerged(spark, dir, "id").get.collect()
    val jobs1 = jobsOf(read(one))
    val jobs8 = jobsOf(read(eight))
    assert(jobs8 == jobs1,
      s"a tail of 8 deltas took $jobs8 jobs against $jobs1 for 1 delta")
    assert(rows(eight).size == 90)
  }

  test("a second read at the same log version does not re-scan the delta files") {
    val dir = Files.createTempDirectory("dlogheld").toString
    DeltaLog.append(df(0L -> "a", 1L -> "b"), dir, 0L)
    DeltaLog.compact(spark, dir, "id")
    DeltaLog.append(df(1L -> "B", 2L -> "c"), dir, 1L)
    DeltaLog.append(df(2L -> "C"), dir, 2L)
    val expected = Map(0L -> "a", 1L -> "B", 2L -> "C")
    assert(rows(dir) == expected)
    // garble every delta part file in place, keeping its name and
    // modification time: the log version is unchanged, so a read that
    // re-scanned the tail would fail or return the garbage
    DeltaLog.deltaSeqs(spark, dir).foreach { q =>
      new java.io.File(DeltaLog.deltaPath(dir, q)).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { part =>
          val mtime = part.lastModified()
          Files.write(part.toPath, Array.fill[Byte](part.length.toInt)(7))
          assert(part.setLastModified(mtime))
        }
    }
    assert(rows(dir) == expected)
  }

  test("a second read at the same base lists and infers nothing; a republish is seen") {
    val dir = Files.createTempDirectory("dlogbase").toString
    DeltaLog.append(df((0L until 40L).map(i => i -> s"v$i"): _*), dir, 0L)
    DeltaLog.compact(spark, dir, "id")
    def read() = DeltaLog.readMerged(spark, dir, "id")
    def base() = DeltaLog.readBase(spark, dir).get
    val first = base()
    assert(jobsOf(read()) == 0, "a second read at the same base launched a job")
    assert(base() eq first, "a second read at the same base read it afresh")
    // republished by a fold and by a file compaction: each read sees it
    DeltaLog.append(df(0L -> "folded"), dir, 1L)
    DeltaLog.compact(spark, dir, "id")
    assert(rows(dir)(0L) == "folded")
    (1L until 6L).foreach { i =>
      DeltaLog.append(df(i -> s"f$i"), dir, i + 1)
      DeltaLog.compact(spark, dir, "id")
    }
    val files = new java.io.File(s"$dir/base").listFiles().count(_.getName.endsWith(".parquet"))
    assert(SnapshotIO.compactFiles(spark, s"$dir/base", targetBytes = 1L << 30) == 1L)
    assert(files > 1, s"the base had $files files before the file compaction")
    assert(rows(dir) == (0L until 40L).map(i =>
      i -> (if (i == 0L) "folded" else if (i < 6L) s"f$i" else s"v$i")).toMap)
    assert(!(base() eq first), "a read after the republish reused the old base relation")
  }

  test("schema drift: a column only a later delta carries reads null for earlier rows") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dlogdrift").toString
    DeltaLog.append(df(0L -> "a", 1L -> "b"), dir, 0L)
    DeltaLog.append(Seq((1L, "B", "x1"), (2L, "c", "x2")).toDF("id", "v", "extra"),
      dir, 1L)
    val got = DeltaLog.readMerged(spark, dir, "id").get
      .select("id", "v", "extra").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(got == Map(0L -> ("a", None), 1L -> ("B", Some("x1")),
      2L -> ("c", Some("x2"))))
  }

  test("a delta rewritten at the same seq after a read is what the next read returns") {
    val dir = Files.createTempDirectory("dlogrewrite").toString
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    DeltaLog.append(df(1L -> "b"), dir, 1L)
    assert(rows(dir) == Map(0L -> "a", 1L -> "b"))
    // a replay of batch 1 with different rows
    DeltaLog.append(df(1L -> "b2", 5L -> "q"), dir, 1L)
    assert(rows(dir) == Map(0L -> "a", 1L -> "b2", 5L -> "q"))
    // the same rewrite by another process: its dir is swapped in without
    // this session's write-path cache refresh, so only the rewritten
    // files' names and mtimes tell the two versions apart
    val side = Files.createTempDirectory("dlogside").toString
    DeltaLog.append(df(1L -> "B2", 5L -> "Q"), side, 1L)
    val before = DeltaLog.version(spark, dir)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new Path(DeltaLog.deltaPath(dir, 1L)), true))
    assert(f.rename(new Path(DeltaLog.deltaPath(side, 1L)),
      new Path(DeltaLog.deltaPath(dir, 1L))))
    assert(DeltaLog.version(spark, dir) != before,
      "a same-seq rewrite swapped in by rename left the log version unchanged")
    assert(rows(dir) == Map(0L -> "a", 1L -> "B2", 5L -> "Q"))
  }

  test("log version: equal across reads, changed by every write") {
    val dir = Files.createTempDirectory("dlogversion").toString
    def version = DeltaLog.version(spark, dir)
    DeltaLog.append(df(0L -> "a"), dir, 0L)
    val writes = Seq[(String, () => Any)](
      "append" -> (() => DeltaLog.append(df(1L -> "b"), dir, 1L)),
      "compact" -> (() => DeltaLog.compact(spark, dir, "id")),
      "empty-tail compact republishing the base" ->
        (() => DeltaLog.compact(spark, dir, "id", foldEmptyTail = true)))
    writes.foldLeft(version) { case (before, (name, write)) =>
      assert(rows(dir).nonEmpty)
      assert(version == before, s"a read before the $name changed the version")
      write()
      val after = version
      assert(after != before, s"the $name left the log version unchanged")
      after
    }
  }
}
