package graft

import graft.core.DriverLocal
import graft.operators.Sketch
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {

  private def ids(n: Int) = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map(i => i * 7919L % 1000003L).toDF("v")
  }

  test("sketch: bounded at k, ascending, distinct, partitioning-invariant") {
    val df = ids(5000)
    val sk = Sketch.kmvSketch(df, col("v"), 64).head.getSeq[Long](0)
    assert(sk.length == 64)
    assert(sk == sk.distinct.sorted, "sketch not ascending-distinct")
    val sk13 = Sketch.kmvSketch(df.repartition(13), col("v"), 64)
      .head.getSeq[Long](0)
    assert(sk == sk13, "sketch depends on partitioning")
  }

  test("estimate: within 25% of truth at k=256 over 10k distinct values") {
    val df = ids(10000) // 10000 distinct v values
    val est = Sketch.distinctEstimate(df, col("v"), 256)
      .head.getDouble(0)
    val truth = df.distinct().count().toDouble
    assert(math.abs(est - truth) / truth < 0.25,
      s"estimate $est vs truth $truth")
  }

  test("estimate: exact when distinct count below k") {
    val s = spark
    import s.implicits._
    val df = Seq(1L, 2L, 3L, 2L, 1L).toDF("v")
    val est = Sketch.distinctEstimate(df, col("v"), 256).head.getDouble(0)
    assert(est == 3.0)
  }

  test("merge: union of sketches equals sketch of union") {
    val a = ids(3000)
    val b = ids(6000) // superset value stream, heavy overlap
    val k = 128
    val skA = Sketch.kmvSketch(a, col("v"), k).head.getSeq[Long](0)
    val skB = Sketch.kmvSketch(b, col("v"), k).head.getSeq[Long](0)
    val skU = Sketch.kmvSketch(a.union(b), col("v"), k).head.getSeq[Long](0)
    assert(Sketch.mergeSketches(skA, skB, k) == skU)
    assert(Sketch.mergeSketches(skA, skB, k) ==
      Sketch.mergeSketches(skB, skA, k), "merge not commutative")
  }

  test("streaming sketch across micro-batches equals the batch sketch of all data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("kmvstream").toString
    val state = new java.util.concurrent.atomic.AtomicReference[Seq[Long]](Seq.empty)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val k = 64

    source.addData(0L until 2000L: _*)
    Sketch.streamingDistinct(source.toDF().toDF("v"), col("v"), k,
      s"$tmp/ckpt", state).awaitTermination()
    source.addData(1000L until 4000L: _*) // overlapping second batch
    Sketch.streamingDistinct(source.toDF().toDF("v"), col("v"), k,
      s"$tmp/ckpt", state).awaitTermination()

    val batchAll = Sketch.kmvSketch((0L until 4000L).toDF("v"), col("v"), k)
      .head.getSeq[Long](0)
    assert(state.get() == batchAll,
      "streamed merge diverged from the batch sketch")
  }

  test("sampledQuantiles: close to exact, deterministic, salt redraws") {
    val s = spark
    import s.implicits._
    val df = (0L until 20000L).map(i => (i, (i % 1000).toDouble)).toDF("id", "v")
    val q = Sketch.sampledQuantiles(df, col("v"), col("id"),
      probs = Seq(0.5), fraction = 0.1).head.getDouble(0)
    assert(math.abs(q - 499.5) < 25, s"sampled median $q far from 499.5")
    val q2 = Sketch.sampledQuantiles(df.repartition(11), col("v"), col("id"),
      probs = Seq(0.5), fraction = 0.1).head.getDouble(0)
    assert(q == q2, "sampled quantile depends on partitioning")
    intercept[IllegalArgumentException] {
      Sketch.sampledQuantiles(df, col("v"), col("id"), Seq(0.5), fraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      Sketch.sampledQuantiles(df, col("v"), col("id"), Seq(1.5), fraction = 0.1)
    }
  }

  test("duplicate values never inflate the sketch") {
    val s = spark
    import s.implicits._
    val dup = (1 to 1000).map(_ => 42L).toDF("v")
    val sk = Sketch.kmvSketch(dup, col("v"), 16).head.getSeq[Long](0)
    assert(sk.length == 1)
  }

  // Zipf-ish stream: item i (1..50) appears 1000/i times, plus noise
  private def zipfDf(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"item$i")) ++
      (1 to 2000).map(i => s"noise$i")
    rows.toDF("v")
  }

  test("Misra-Gries: every true heavy hitter is in the summary, any partitioning") {
    val df = zipfDf(spark)
    val n = df.count()
    for (parts <- Seq(1, 7, 32); k <- Seq(10, 40)) {
      val items = Sketch.frequentItems(df.repartition(parts), col("v"), k)
        .head.getMap[String, Long](0)
      assert(items.size <= k, s"summary exceeded k=$k: ${items.size}")
      val exact = df.groupBy("v").count()
        .filter(col("count") > n.toDouble / (k + 1))
        .collect().map(_.getString(0)).toSet
      val missed = exact -- items.keySet
      assert(missed.isEmpty,
        s"k=$k parts=$parts: heavy hitters missing from MG summary: $missed")
      // under-count bound: kept counter >= exact - N/(k+1)
      val exactCounts = df.groupBy("v").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      items.foreach { case (v, c) =>
        assert(c <= exactCounts(v) && c >= exactCounts(v) - n.toDouble / (k + 1),
          s"k=$k counter for $v=$c outside [exact - N/(k+1), exact]")
      }
    }
  }

  test("heavyHitters == exact HAVING query regardless of partitioning; nulls skipped") {
    val s = spark
    import s.implicits._
    val df = zipfDf(s)
    val n = df.count()
    val k = 25
    for (parts <- Seq(3, 17)) {
      val hh = Sketch.heavyHitters(df.repartition(parts), col("v"), k)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val exact = df.groupBy(col("v").as("item")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > n.toDouble / (k + 1))
        .orderBy(col("cnt").desc, col("item").asc)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(hh.toSeq == exact.toSeq,
        s"parts=$parts: heavyHitters diverged from exact")
    }
    // nulls contribute nothing (neither to counters nor to N)
    val withNulls = df.union(Seq.fill(5000)(null: String).toDF("v"))
    val hh2 = Sketch.heavyHitters(withNulls, col("v"), k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hh1 = Sketch.heavyHitters(df, col("v"), k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh2.toSeq == hh1.toSeq, "null rows changed the heavy-hitter set")
    intercept[IllegalArgumentException] {
      new Sketch.MisraGriesAgg(0)
    }
  }

  test("heavyHittersGrouped == per-group global heavyHitters; null group/value excluded") {
    val s = spark
    import s.implicits._
    // two groups with DIFFERENT sizes and skews: a heavy item in the
    // small group must clear its own N_g/(k+1) bar, not the global one
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(("big", s"item$i"))) ++
      (1 to 2000).map(i => ("big", s"noise$i")) ++
      (1 to 30).flatMap(i => Seq.fill(60 / i)(("small", s"s$i"))) ++
      Seq((null: String, "item1"), ("big", null: String))
    val df = rows.toDF("g", "v")
    val k = 25
    for (parts <- Seq(1, 7, 31)) {
      val grouped = Sketch.heavyHittersGrouped(
          df.repartition(parts), col("g"), col("v"), k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val expected = Seq("big", "small").flatMap { g =>
        Sketch.heavyHitters(df.filter(col("g") === g), col("v"), k)
          .collect().map(r => (g, r.getString(0), r.getLong(1)))
      }
      assert(grouped.toSeq == expected,
        s"parts=$parts: grouped heavy hitters diverged from per-group exact")
    }
    // each group's threshold is its own: the small group surfaces items
    // a global N/(k+1) bar would have suppressed
    val out = Sketch.heavyHittersGrouped(df, col("g"), col("v"), k)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out.exists(_._1 == "small"), "small group produced no hitters")
  }

  test("setOpEstimates: union/Jaccard/intersection near truth; exact below k") {
    val s = spark
    import s.implicits._
    // A = 1..3000, B = 2001..5000 → |A∪B| = 5000, |A∩B| = 1000, J = 0.2
    val a = Sketch.kmvSketch((1 to 3000).toDF("v"), col("v"), 256)
      .select(col("sketch").as("ska"))
    val b = Sketch.kmvSketch((2001 to 5000).toDF("v"), col("v"), 256)
      .select(col("sketch").as("skb"))
    val r = a.crossJoin(b)
      .select(Sketch.setOpEstimates(col("ska"), col("skb"), 256): _*)
      .collect()(0)
    assert(math.abs(r.getAs[Double]("est_union") - 5000) / 5000.0 < 0.25)
    assert(math.abs(r.getAs[Double]("jaccard") - 0.2) < 0.1)
    assert(math.abs(r.getAs[Double]("est_intersection") - 1000) / 1000.0 < 0.5)

    // below k the union sketch is the exact hash set: estimates exact
    val sa = Sketch.kmvSketch((1 to 60).toDF("v"), col("v"), 256)
      .select(col("sketch").as("ska"))
    val sb = Sketch.kmvSketch((41 to 100).toDF("v"), col("v"), 256)
      .select(col("sketch").as("skb"))
    val e = sa.crossJoin(sb)
      .select(Sketch.setOpEstimates(col("ska"), col("skb"), 256): _*)
      .collect()(0)
    assert(e.getAs[Double]("est_union") == 100.0)
    assert(e.getAs[Double]("jaccard") == 0.2)
    assert(e.getAs[Double]("est_intersection") == 20.0)

    // disjoint sets: zero intersection, exactly
    val da = Sketch.kmvSketch((1 to 50).toDF("v"), col("v"), 256)
      .select(col("sketch").as("ska"))
    val db = Sketch.kmvSketch((51 to 90).toDF("v"), col("v"), 256)
      .select(col("sketch").as("skb"))
    val d = da.crossJoin(db)
      .select(Sketch.setOpEstimates(col("ska"), col("skb"), 256): _*)
      .collect()(0)
    assert(d.getAs[Double]("jaccard") == 0.0)
    assert(d.getAs[Double]("est_intersection") == 0.0)
  }

  test("streaming frequent items: stream-wide heavy hitters stay present across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("mgstream").toString
    val state = new java.util.concurrent.atomic.AtomicReference[Map[String, Long]](Map.empty)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val k = 10
    // two batches; "hot" is > N/(k+1) of the combined stream
    val b1 = Seq.fill(500)("hot") ++ (1 to 400).map(i => s"n1_$i")
    val b2 = Seq.fill(300)("hot") ++ (1 to 400).map(i => s"n2_$i")
    source.addData(b1: _*)
    Sketch.streamingFrequentItems(source.toDF().toDF("v"), col("v"), k,
      s"$tmp/ckpt", state).awaitTermination()
    source.addData(b2: _*)
    Sketch.streamingFrequentItems(source.toDF().toDF("v"), col("v"), k,
      s"$tmp/ckpt", state).awaitTermination()
    val items = state.get()
    assert(items.size <= k, s"state exceeded k: ${items.size}")
    assert(items.contains("hot"),
      s"stream-wide heavy hitter evicted from the merged summary: $items")
    // under-count only, never over-count
    assert(items("hot") <= 800L, s"over-counted: ${items("hot")}")
  }

  test("HLL estimate lands within the expected error of the truth") {
    val s = spark
    import s.implicits._
    // 20k distinct values, p=6 → m=64 registers, σ ≈ 1.04/√64 = 13%;
    // assert within 4σ
    val df = (1 to 20000).map(i => s"val_$i").toDF("v")
    val est = Sketch.hllEstimate(
        Sketch.hllSketch(df, col("v"), p = 6), p = 6)
      .head.getDouble(0)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.52,
      s"estimate $est too far from 20000")
    // duplicates must not move the registers at all
    val est2 = Sketch.hllEstimate(
        Sketch.hllSketch(df.union(df).union(df), col("v"), p = 6), p = 6)
      .head.getDouble(0)
    assert(est2 == est, "HLL must be insensitive to multiplicity")
  }

  test("HLL linear-counting branch engages at small cardinality") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => s"u$i").toDF("v")
    val row = Sketch.hllEstimate(
      Sketch.hllSketch(df, col("v"), p = 6), p = 6).head
    val (est, v) = (row.getDouble(0), row.getLong(1))
    assert(v >= 54, s"expected ≥54 empty registers, got $v")
    // m·ln(m/V) for the actual V
    val expected = 64.0 * java.lang.Math.log(64.0 / v.toDouble)
    assert(est == expected, s"linear counting: got $est want $expected")
    assert(math.abs(est - 10.0) < 3.0, s"estimate $est far from 10")
  }

  test("HLL merge of disjoint shards equals the sketch of the union, register-exact") {
    val s = spark
    import s.implicits._
    val all = (1 to 5000).map(i => s"x$i").toDF("v")
    val a = Sketch.hllSketch(all.filter(length(col("v")) % 2 === 0), col("v"), p = 8)
    val b = Sketch.hllSketch(all.filter(length(col("v")) % 2 === 1), col("v"), p = 8)
    val merged = Sketch.hllMerge(a, b).orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val direct = Sketch.hllSketch(all, col("v"), p = 8).orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(merged == direct, "merged registers must equal the union sketch")
  }

  test("CMS: estimates are exact-or-over, exact at generous width, partitioning-invariant") {
    val s = spark
    import s.implicits._
    // skewed stream: value i occurs i times, i in 1..40 (820 rows)
    val rows = (1 to 40).flatMap(i => Seq.fill(i)(i.toString))
    val df = rows.toDF("v")
    val keys = (1 to 40).map(_.toString)
    def estimates(width: Int, parts: Int): Map[String, Long] = {
      val sk = Sketch.cmsSketch(df.repartition(parts), col("v"), depth = 4, width = width)
      Sketch.cmsEstimate(sk, keys, depth = 4, width = width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val wide = estimates(width = 1024, parts = 3)
    keys.foreach(k => assert(wide(k) == k.toInt.toLong,
      s"width 1024 should be collision-free here: $k -> ${wide(k)}"))
    val narrow = estimates(width = 16, parts = 3)
    keys.foreach(k => assert(narrow(k) >= k.toInt.toLong,
      s"CMS must never underestimate: $k -> ${narrow(k)}"))
    assert(estimates(width = 16, parts = 7) == narrow,
      "registers are order-independent sums: partitioning must not matter")
    // absent key estimates are >= 0 and bounded by the total stream length
    val absent = Sketch.cmsEstimate(
      Sketch.cmsSketch(df, col("v"), 4, 16), Seq("no-such-key"), 4, 16)
      .head.getLong(1)
    assert(absent >= 0L && absent <= rows.length.toLong)
  }

  test("CMS merge of disjoint shards equals the sketch of the union, register-exact") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (i, s"v${i % 37}")).toDF("id", "v")
    def regs(d: org.apache.spark.sql.DataFrame) =
      Sketch.cmsSketch(d, col("v"), depth = 4, width = 64)
    val merged = Sketch.cmsMerge(
        regs(df.filter(col("id") % 2 === 0)), regs(df.filter(col("id") % 2 === 1)))
      .orderBy("row", "bucket")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val direct = regs(df).orderBy("row", "bucket")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(merged == direct, "summed shard registers must equal the union sketch")
  }

  test("streaming CMS across micro-batches equals the batch sketch of all data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cmsstream").toString
    val state = new java.util.concurrent.atomic.AtomicReference[Map[(Int, Int), Long]](Map.empty)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]

    source.addData(0L until 800L: _*)
    Sketch.streamingCms(source.toDF().toDF("v"), col("v"), 4, 64,
      s"$tmp/ckpt", state).awaitTermination()
    source.addData(400L until 1200L: _*) // overlapping second batch
    Sketch.streamingCms(source.toDF().toDF("v"), col("v"), 4, 64,
      s"$tmp/ckpt", state).awaitTermination()

    val batchAll = Sketch.cmsSketch(
        ((0L until 800L) ++ (400L until 1200L)).toDF("v"), col("v"), 4, 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(state.get() == batchAll,
      "streamed register fold diverged from the batch sketch")
  }

  test("streaming HLL register fold equals the batch sketch; replays are idempotent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("hllstream").toString
    val state = new java.util.concurrent.atomic.AtomicReference[Map[Int, Int]](Map.empty)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]

    source.addData(0L until 900L: _*)
    Sketch.streamingHll(source.toDF().toDF("v"), col("v"), 6,
      s"$tmp/ckpt", state).awaitTermination()
    source.addData(500L until 1500L: _*) // overlapping second batch
    Sketch.streamingHll(source.toDF().toDF("v"), col("v"), 6,
      s"$tmp/ckpt", state).awaitTermination()

    val batchAll = Sketch.hllSketch((0L until 1500L).toDF("v"), col("v"), 6)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(state.get() == batchAll,
      "streamed register fold diverged from the batch sketch")
    // idempotence: re-folding the same registers changes nothing (MAX,
    // unlike CMS's ADD, cannot double-count a replayed batch)
    assert(Sketch.mergeHllRegisters(state.get(), batchAll) == batchAll)
  }

  test("quantile sketch: bounded, partitioning-invariant, merge ≡ union, idempotent") {
    val s = spark
    import s.implicits._
    val df = (0L until 5000L).map(i => (i, (i * 7919L % 1000003L).toDouble))
      .toDF("id", "v")
    def sk(d: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
      Sketch.quantileSketch(d, col("v"), col("id"), 256).head
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getDouble(1)))

    val full = sk(df)
    assert(full.length == 256)
    assert(full == full.distinct.sortBy(x => x), "sketch not ascending-distinct")
    // order/partitioning independence: pure function of the multiset
    assert(sk(df.repartition(13)) == full)

    // merge of disjoint halves ≡ sketch of the union, item-exact
    val a = sk(df.filter(col("id") % 2 === 0))
    val b = sk(df.filter(col("id") % 2 === 1))
    assert(Sketch.mergeQuantileSketches(a, b, 256) == full)
    // idempotent: replayed shard folds to the same state
    assert(Sketch.mergeQuantileSketches(full, full, 256) == full)
    assert(Sketch.mergeQuantileSketches(full, b, 256) == full)

    // column merge matches the driver merge
    val merged = Seq((a, b)).toDF("a", "b")
      .select(Sketch.quantileSketchMergeCol(col("a"), col("b"), 256).as("m"))
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(merged == full)

    // below k the sample is the whole input: estimates are EXACT
    val small = df.limit(100)
    val est = Sketch.quantileEstimateGrouped(
      Sketch.quantileSketchGrouped(small, lit(0), col("v"), col("id"), 256),
      Seq(0.5)).head
    val exact = small.agg(expr("percentile(v, 0.5)")).head.getDouble(0)
    assert(est.getLong(1) == 100L && est.getDouble(2) == exact)

    // at k ≪ n the p50 estimate lands within sampling error of truth
    val p50 = Sketch.quantileEstimateGrouped(
      Sketch.quantileSketchGrouped(df, lit(0), col("v"), col("id"), 256),
      Seq(0.5)).head.getDouble(2)
    val truth = df.agg(expr("percentile(v, 0.5)")).head.getDouble(0)
    // rank error O(1/√k): |F(p̂50) − 0.5| well under 3/√256 ≈ 0.19
    val rank = df.filter(col("v") <= p50).count().toDouble / 5000.0
    assert(math.abs(rank - 0.5) < 0.19, s"p50=$p50 truth=$truth rank=$rank")
  }

  test("quantile sketch: measured rank error at k=4096 pins the ±1.6% claim on 1M skewed rows") {
    // the Sketch.scala scaladoc claims k=4096 pins every percentile to
    // ±1.6% rank (O(1/√k), 1/√4096 ≈ 0.0156) at ANY corpus size — gate
    // that with a measured number on a heavy-tailed distribution, the
    // way every other sketch's error bound is pinned. Deterministic:
    // the md5 sampling coin is fixed, so this is a measurement, not a
    // flaky probabilistic assertion.
    val n = 1000000L
    val df = spark.range(n).select(col("id"),
      // u^4 of a hash-uniform: heavy right skew, so a value error and a
      // rank error are very different things — the bound is on RANK
      pow(pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6,
        lit(4.0)).as("v"))
    val probs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val est = Sketch.quantileEstimateGrouped(
      Sketch.quantileSketchGrouped(df, lit(0), col("v"), col("id"), 4096),
      probs).head
    assert(est.getLong(1) == 4096L)
    // observed rank of every estimate in ONE corpus pass
    val ranks = df.agg(
      count(lit(1)).as("n"),
      probs.indices.map(i =>
        sum(when(col("v") <= est.getDouble(2 + i), 1L).otherwise(0L))
          .as(s"r$i")): _*).head
    probs.zipWithIndex.foreach { case (p, i) =>
      val obs = ranks.getLong(1 + i).toDouble / n
      assert(math.abs(obs - p) <= 0.016,
        s"p=$p estimated rank=$obs — outside the documented ±1.6%")
    }
  }

  test("trailing-window HLL union ≡ direct sketch of the window's rows") {
    val s = spark
    import s.implicits._
    // 8 hours × overlapping user sets; union-by-max over hours 2..5
    // must equal one sketch of exactly those hours' rows — register max
    // is EXACT union, which is the whole sliding-uniques construction
    val ev = (0 until 8).flatMap(h =>
      (0 until 40).map(u => (h.toLong, (u * (h + 1) % 97).toLong)))
      .toDF("hh", "uid")
    val hourly = Sketch.hllSketchGrouped(ev, col("hh"), col("uid"), p = 6)
    val unioned = hourly.filter(col("g") >= 2 && col("g") <= 5)
      .groupBy("bucket").agg(max(col("r")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val direct = Sketch.hllSketch(ev.filter(col("hh") >= 2 && col("hh") <= 5),
        col("uid"), p = 6)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(unioned == direct,
      "window register-max union must equal the direct window sketch")
  }

  test("KLL: exact below capacity; weights ≈ n; grouped path; k guard") {
    val s = spark
    import s.implicits._
    // n < k: no compaction ever fires, so every item sits at level 0
    // with weight 1 and the quantiles are EXACT order statistics
    val vals = (1 to 100).map(_.toDouble * 3 - 7)
    val df = vals.toDF("v").repartition(5)
    val sk = Sketch.kllSketch(df, col("v"), 256)
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(sk.length == 100 && sk.forall(_._2 == 1L))
    val probs = Seq(0.01, 0.5, 0.99)
    val qs = Sketch.kllQuantilesLocal(sk, probs)
    val sorted = vals.sorted
    probs.zip(qs).foreach { case (p, q) =>
      assert(q == sorted(math.max(1, math.ceil(p * 100).toInt) - 1),
        s"sub-capacity KLL must be exact at p=$p")
    }
    // grouped: each group gets its own sketch; null group/value excluded
    val gdf = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0),
      (null: String, 5.0)).toDF("g", "v")
      .union(Seq(("b", Double.NaN)).toDF("g", "v"))
    val grouped = Sketch.kllSketchGrouped(gdf, col("g"), col("v"), 64)
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => x.getDouble(0)).sorted).toMap
    assert(grouped == Map("a" -> Seq(1.0, 2.0), "b" -> Seq(10.0)))
    intercept[IllegalArgumentException] { new Sketch.KllAgg(4) }
  }

  test("KLL: measured rank error at k=256 beats the same-k hash sample on 1M skewed rows") {
    // the KLL scaladoc claims O(1/k) rank error vs the hash sample's
    // O(1/√k) — pin both with measured numbers at the SAME k on the
    // same heavy-tailed 1M rows. Deterministic: hash-derived data,
    // alternating compaction coins, fixed partitioning.
    val n = 1000000L
    val k = 256
    val df = spark.range(n).select(col("id"),
        pow(pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6,
          lit(4.0)).as("v"))
      .repartition(32, col("id"))
    val probs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val est = Sketch.kllEstimateGrouped(
      Sketch.kllSketchGrouped(df, lit(0), col("v"), k), probs).head
    // Σw drifts from n only by odd-compaction perturbations
    assert(math.abs(est.getLong(1) - n).toDouble / n <= 0.01,
      s"KLL weight mass ${est.getLong(1)} drifted > 1% from n=$n")
    val ranks = df.agg(
      count(lit(1)).as("n"),
      probs.indices.map(i =>
        sum(when(col("v") <= est.getDouble(2 + i), 1L).otherwise(0L))
          .as(s"r$i")): _*).head
    val kllErrs = probs.zipWithIndex.map { case (p, i) =>
      math.abs(ranks.getLong(1 + i).toDouble / n - p)
    }
    info(s"KLL k=$k rank errors: " +
      probs.zip(kllErrs).map { case (p, e) => f"$p%.2f:$e%.4f" }.mkString(" "))
    // O(1/k) regime: every percentile within 4/k = 1.56% — and the same
    // corpus at the same k through the hash sample sits at O(1/√k) ≈ 6%
    kllErrs.zip(probs).foreach { case (e, p) =>
      assert(e <= 4.0 / k, f"KLL p=$p rank error $e%.4f > ${4.0 / k}%.4f")
    }
    val sampleEst = Sketch.quantileEstimateGrouped(
      Sketch.quantileSketchGrouped(df, lit(0), col("v"), col("id"), k),
      probs).head
    val sampleRanks = df.agg(
      count(lit(1)).as("n"),
      probs.indices.map(i =>
        sum(when(col("v") <= sampleEst.getDouble(2 + i), 1L).otherwise(0L))
          .as(s"r$i")): _*).head
    val sampleMax = probs.indices.map(i =>
      math.abs(sampleRanks.getLong(1 + i).toDouble / n - probs(i))).max
    info(f"hash-sample k=$k max rank error: $sampleMax%.4f")
    assert(kllErrs.max < sampleMax,
      "KLL should beat the same-k hash sample's worst percentile")
  }

  test("exactQuantilesDisc: order statistics match a local sort exactly") {
    val s = spark
    import s.implicits._
    // adversarial values for the bit-image ordering: negatives,
    // ±0.0, subnormals, extremes, duplicates
    val rnd = new scala.util.Random(99L)
    val vals = Seq(-0.0, 0.0, Double.MinValue, Double.MaxValue,
      java.lang.Double.MIN_VALUE, -1e300, 42.0, 42.0, 42.0, -7.25) ++
      (1 to 2000).map(_ => (rnd.nextDouble() - 0.5) * 1e9)
    val df = vals.toDF("v").repartition(13)
    val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val row = graft.operators.Sketch
      .exactQuantilesDisc(df, col("v"), probs).head
    assert(row.getLong(0) == vals.length.toLong)
    val sorted = vals.sorted
    probs.zipWithIndex.foreach { case (p, i) =>
      val r = math.max(1L, math.ceil(p * vals.length).toLong)
      val expect = sorted((r - 1).toInt)
      val got = row.getDouble(1 + i)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(expect),
        s"p=$p rank=$r got=$got want=$expect")
    }
    // p=0 is the min, p=1 the max — bit-exact including sign of zero
    assert(row.getDouble(1) == Double.MinValue)
    assert(row.getDouble(1 + probs.length - 1) == Double.MaxValue)
  }

  test("exactQuantilesDisc: local selection shortcut ≡ distributed radix passes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1234L)
    val vals = Seq(-0.0, 0.0, Double.MaxValue, -1e300, 42.0, 42.0) ++
      (1 to 3000).map(_ => (rnd.nextDouble() - 0.5) * 1e12)
    val df = vals.toDF("v").repartition(9)
    val probs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    // the forcing scope runs the six-pass radix path; the default
    // takes the driver-side selection — same order statistics, bit for
    // bit (the PageRank local/distributed equality discipline)
    val dist = DriverLocal.forcedDistributed(graft.operators.Sketch
      .exactQuantilesDisc(df, col("v"), probs).head)
    val loc = graft.operators.Sketch.exactQuantilesDisc(df, col("v"), probs).head
    assert(dist.getLong(0) == loc.getLong(0))
    probs.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(dist.getDouble(1 + i)) ==
        java.lang.Double.doubleToRawLongBits(loc.getDouble(1 + i)),
        s"p=${probs(i)} dist=${dist.getDouble(1 + i)} loc=${loc.getDouble(1 + i)}")
    }
    // grouped: same equality per group
    val gdf = (1 to 2000).map { i =>
      (Seq("a", "b", "c")(i % 3), (rnd.nextDouble() - 0.5) * 1e6)
    }.toDF("g", "v").repartition(7)
    val gDist = DriverLocal.forcedDistributed(graft.operators.Sketch
      .exactQuantilesDiscGrouped(gdf, col("g"), col("v"), probs)
      .collect()).map(r => r.getString(0) -> r.toSeq).toMap
    val gLoc = graft.operators.Sketch
      .exactQuantilesDiscGrouped(gdf, col("g"), col("v"), probs)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(gDist == gLoc)
  }

  test("exactQuantilesDisc: partition invariance, null/NaN exclusion, empty input") {
    val s = spark
    import s.implicits._
    val base = (1 to 500).map(i => ((i * 7919 % 503).toDouble, i))
      .toDF("v", "id")
    val probs = Seq(0.5, 0.9)
    val a = graft.operators.Sketch.exactQuantilesDisc(base, col("v"), probs).head
    val b = graft.operators.Sketch
      .exactQuantilesDisc(base.repartition(17), col("v"), probs).head
    assert(a == b, "selection depends on partitioning")
    // nulls and NaNs drop from n and from the ranks
    val dirty = base.select(col("v"), col("id"))
      .union(Seq((Double.NaN, 0), (Double.NaN, 0)).toDF("v", "id"))
      .select(when(col("id") % 100 === 1, lit(null).cast("double"))
        .otherwise(col("v")).as("v"))
    val d = graft.operators.Sketch.exactQuantilesDisc(dirty, col("v"), probs).head
    assert(d.getLong(0) == 495L) // 500 - 5 nulls; NaNs excluded
    val e = graft.operators.Sketch
      .exactQuantilesDisc(base.filter(col("v") < -1), col("v"), probs).head
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2))
  }

  test("exactQuantilesDiscGrouped: per-group order statistics, empty groups absent") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    val data = (1 to 900).map { i =>
      val g = Seq("en", "fr", "de")(i % 3)
      (g, (rnd.nextDouble() - 0.5) * 1e6)
    } ++ Seq(("solo", 42.0)) // 1-row group: every rank is that row
    val df = data.toDF("lang", "v").repartition(11)
    val probs = Seq(0.25, 0.5, 0.99)
    val out = graft.operators.Sketch
      .exactQuantilesDiscGrouped(df, col("lang"), col("v"), probs)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("en", "fr", "de", "solo"))
    data.groupBy(_._1).foreach { case (g, rows) =>
      val sorted = rows.map(_._2).sorted
      assert(out(g).getLong(1) == rows.length.toLong)
      probs.zipWithIndex.foreach { case (p, i) =>
        val r = math.max(1L, math.ceil(p * rows.length).toLong)
        assert(out(g).getDouble(2 + i) == sorted((r - 1).toInt),
          s"group $g p=$p")
      }
    }
    // grouped ≡ global when restricted to one group
    val en = graft.operators.Sketch.exactQuantilesDisc(
      df.filter(col("lang") === "en"), col("v"), probs).head
    assert((0 until probs.length).forall(i =>
      en.getDouble(1 + i) == out("en").getDouble(2 + i)))
    // empty input: zero rows, not a null row
    assert(graft.operators.Sketch.exactQuantilesDiscGrouped(
      df.filter(col("v") > 1e12), col("lang"), col("v"), probs).count() == 0L)
    // NULL group keys are excluded (not an NPE in the driver group
    // sort), and the real groups' answers are untouched
    val withNull = df union
      Seq((null: String, 1.0), (null: String, 2.0)).toDF("lang", "v")
    val outN = graft.operators.Sketch
      .exactQuantilesDiscGrouped(withNull, col("lang"), col("v"), probs)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(outN.keySet == Set("en", "fr", "de", "solo"))
    assert(outN("en").getDouble(2) == out("en").getDouble(2))
  }

  test("streaming quantile fold equals the batch sketch; replays are idempotent") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qsk").toString
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b",
      (i * 7919L % 1000003L).toDouble)).toDF("id", "g", "v")
    df.repartition(3).write.parquet(s"$dir/in")
    val stream = s.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val state = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Seq[Sketch.QItem]])
    Sketch.streamingQuantile(stream, col("g"), col("v"), col("id"), 64,
      s"$dir/ckpt", state).awaitTermination()
    val batch = Sketch.quantileSketchGrouped(df, col("g"), col("v"),
        col("id"), 64).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getDouble(1))).toSeq).toMap
    assert(state.get() == batch)
    // replaying a batch's sketch into the state changes nothing
    val replayed = state.get().map { case (g, items) =>
      g -> Sketch.mergeQuantileSketches(items, batch(g), 64) }
    assert(replayed == batch)
  }

  test("streaming KLL maintenance: cross-batch merge holds the rank-error bound") {
    val s = spark
    import s.implicits._
    val k = 128
    val n = 3000L
    val dir = java.nio.file.Files.createTempDirectory("kllstream").toString
    // skewed values (the KLL gate corpus shape), two groups
    val df = (0L until n).map(i => (i, if (i % 2 == 0) "a" else "b",
      (i * 7919L % 1000003L).toDouble)).toDF("id", "g", "v")
    df.repartition(3).write.parquet(s"$dir/in")
    val stream = s.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val state = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Seq[(Double, Long)]])
    Sketch.streamingQuantileKll(stream, col("g"), col("v"), k,
      s"$dir/ckpt", state).awaitTermination()
    assert(state.get().keySet == Set("a", "b"))
    val probs = Seq(0.1, 0.5, 0.9, 0.99)
    Seq("a", "b").foreach { g =>
      val items = state.get()(g)
      // weight mass conserved within the compaction perturbation bound
      val mass = items.map(_._2).sum
      assert(math.abs(mass - n / 2).toDouble / (n / 2) <= 0.02,
        s"group $g mass $mass vs ${n / 2}")
      // rank error of each estimate vs the exact sorted values ≤ 4/k
      val exact = (0L until n).filter(i => (if (i % 2 == 0) "a" else "b") == g)
        .map(i => (i * 7919L % 1000003L).toDouble).sorted
      val est = Sketch.kllQuantilesLocal(items, probs)
      probs.zip(est).foreach { case (p, v) =>
        val rank = exact.count(_ <= v).toDouble / exact.size
        assert(math.abs(rank - p) <= 4.0 / k,
          s"group $g p=$p est=$v rank=$rank")
      }
    }
    // merge with an empty sketch is just a recompaction: mass unchanged
    val a = state.get()("a")
    assert(Sketch.mergeKllSketches(a, Nil, k).map(_._2).sum ==
      a.map(_._2).sum)
    // non-power-of-two weights are rejected (they cannot be KLL output)
    intercept[IllegalArgumentException] {
      Sketch.mergeKllSketches(Seq((1.0, 3L)), Nil, k)
    }
  }

  test("grouped HLL matches per-group single sketches") {
    val s = spark
    import s.implicits._
    val df = ((1 to 500).map(i => ("a", s"g1_$i")) ++
      (1 to 300).map(i => ("b", s"g2_$i"))).toDF("g", "v")
    val grouped = Sketch.hllEstimateGrouped(
        Sketch.hllSketchGrouped(df, col("g"), col("v"), p = 6), p = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq("a", "b").foreach { g =>
      val single = Sketch.hllEstimate(
        Sketch.hllSketch(df.filter(col("g") === g), col("v"), p = 6), p = 6)
        .head.getDouble(0)
      assert(grouped(g) == single, s"group $g: ${grouped(g)} != $single")
    }
  }
}
