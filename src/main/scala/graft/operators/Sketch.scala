package graft.operators

import graft.core.DriverLocal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch: keep the k smallest
  * distinct values of a uniform hash; with h_k the k-th smallest as a
  * fraction of the hash space, distinct ≈ (k−1)/h_k. The classic
  * bottom-k estimator (Bar-Yossef et al. 2002) — the mergeable sketch
  * shape behind every engine's approx_count_distinct, built here on an
  * md5-derived hash so the DuckDB oracle reproduces the ENTIRE sketch
  * and estimate bit-for-bit (no cross-engine 64-bit hash exists; md5
  * does — same trick as [[graft.functions.HashingEmbedder]]).
  *
  * Scale: the aggregator state is ≤ k longs per partition, map-side
  * combined; the shuffle carries one ≤ k-array per partition, the
  * driver sees one. Rows hashing above the running k-th minimum cost
  * O(log k) and allocate nothing. Sketches merge associatively
  * ([[Sketch.mergeSketches]]), so they can be persisted per-partition
  * and unioned later — the incremental-maintenance story aggregates
  * like count(DISTINCT) can never have.
  */
object Sketch {

  /** Uniform 32-bit hash in [0, 2³²): first 8 hex chars of md5 parsed
    * as an integer — DuckDB spells the identical nibble parse. */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Bounded-state KMV aggregator: buffer = ascending array of ≤ k
    * distinct hashes. */
  final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], h: Long): Array[Long] = insert(b, h)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      y.foldLeft(x)(insert)
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq

    private def insert(b: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(b, h)
      if (pos >= 0) b // already in the sketch
      else {
        val ins = -pos - 1
        if (ins >= k) b // above the k-th minimum: no-op
        else {
          val n = math.min(b.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** One-row DataFrame holding the KMV sketch (`sketch` array<long>,
    * ascending) of `valueCol` over `df`. */
  def kmvSketch(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // nulls are skipped like every distinct-count aggregate (a null
    // hash would crash the primitive-typed aggregation instead)
    df.select(hash32(valueCol).as("__h"))
      .filter(col("__h").isNotNull).as[Long]
      .select(new KmvAgg(k).toColumn.name("sketch"))
      .toDF("sketch")
  }

  /** Estimate from a sketch column: exact size when the sketch never
    * filled, else (k−1) / (h_k / 2³²). */
  def estimateColumn(sketchCol: Column, k: Int): Column =
    when(size(sketchCol) < k, size(sketchCol).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketchCol, k).cast("double") / lit(4294967296.0)))

  /** One-row (est_distinct double) distinct-count estimate. */
  def distinctEstimate(df: DataFrame, valueCol: Column, k: Int): DataFrame =
    kmvSketch(df, valueCol, k)
      .select(estimateColumn(col("sketch"), k).as("est_distinct"))

  /** KMV set-operation estimates (Beyer, Haas, Reinwald, Sismanis &
    * Gemulla, SIGMOD 2007 — synopses for distinct-value estimation
    * under multiset operations): from two KMV sketches, estimate
    * |A∪B|, Jaccard, and |A∩B|. The union sketch U is the k smallest
    * distinct hashes of A∪B (computable from the two sketches alone);
    * ρ̂ = |{h ∈ U : h ∈ A-sketch ∧ h ∈ B-sketch}| / |U| estimates
    * Jaccard, and |A∩B|^ = ρ̂ · |A∪B|^. Pure array expressions over two
    * ≤ k-long sketch columns — the reason sketches beat
    * count(DISTINCT): distinct-intersection needs no re-scan of either
    * side. Deterministic given the md5-derived hash, so the whole
    * estimator is oracle-replayable. */
  def setOpEstimates(a: Column, b: Column, k: Int): Seq[Column] = {
    val u = slice(array_sort(array_union(a, b)), 1, k)
    val both = size(array_intersect(u, array_intersect(a, b))).cast("double")
    val uEst = estimateColumn(u, k)
    val rho = when(size(u) === 0, lit(0.0))
      .otherwise(both / size(u).cast("double"))
    Seq(uEst.as("est_union"), rho.as("jaccard"),
      (rho * uEst).as("est_intersection"))
  }

  /** Sampled quantiles: exact percentiles over a deterministic
    * Bernoulli-by-hash row sample — the scale play for quantiles over
    * corpora where an exact global sort-and-count is too expensive.
    * Unlike rank-error sketches (KLL/t-digest), the estimate is
    * REPRODUCIBLE (hash-deterministic in (id, salt)) and therefore
    * oracle-checkable; error follows from the sample rate rather than a
    * sketch bound. One aggregate over ~fraction·n rows.
    *
    * MEMORY BOUND — size `fraction` to the corpus: unlike the bounded
    * ≤ k-counter sketches in this file, `percentile` buffers the WHOLE
    * sample (~fraction·n values) in a single ungrouped aggregation
    * buffer on one task. Choose fraction so fraction·n stays ≤ ~10M
    * values (≈ 100 MB of doubles with aggregation overhead): e.g.
    * fraction ≤ 0.01 at 1B rows, ≤ 1e-4 at 100B rows — sampling error
    * shrinks with absolute sample SIZE, not rate, so a 10M-row sample
    * pins percentiles of any corpus to ~4 decimal places. Callers who
    * need bounded state at arbitrary n and can give up bit-exact
    * reproducibility should use Spark's `approx_percentile` (mergeable
    * KLL-style summary) instead. */
  def sampledQuantiles(df: DataFrame, valueCol: Column, idCol: Column,
                       probs: Seq[Double], fraction: Double,
                       salt: String = ""): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"fraction must be in (0,1], got $fraction")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    val sampled = df.filter(
      graft.operators.Sampling.hashUniform(idCol, salt) < fraction)
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      // exact interpolated percentile over the sample (the same
      // `percentile` ≡ quantile_cont pairing t_quantiles pins)
      percentile(valueCol, lit(p)).as(s"q$i")
    }
    sampled.agg(aggs.head, aggs.tail: _*)
  }

  /** Driver-side sketch union (associative, commutative): the k
    * smallest of the merged distinct hash sets. */
  def mergeSketches(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] =
    (a ++ b).distinct.sorted.take(k)

  // ---------------------------------------------------------------
  // Misra–Gries frequent items (heavy hitters)
  // ---------------------------------------------------------------

  /** Bounded-state Misra–Gries summary (Misra & Gries 1982; mergeable
    * form Agarwal et al., PODS 2012): ≤ k counters. Guarantees, for
    * stream length N: every item with true count > N/(k+1) is present,
    * and each kept counter under-counts by at most N/(k+1). Counter
    * VALUES depend on fold order (so they are not oracle-hashable);
    * the MEMBERSHIP guarantee does not — [[heavyHitters]] exploits
    * exactly that.
    *
    * reduce: hit → +1; room → insert at 1; full → decrement all (the
    * classic "cancel k+1 distinct items" step), dropping zeros.
    * merge: sum counts, then subtract the (k+1)-th largest and keep
    * positive — the PODS'12 mergeable-summaries rule.
    *
    * The buffer is a MUTABLE counter map updated in place: typed
    * aggregation keeps the buffer as a JVM object between reduce calls
    * (serialization happens only at the partial-aggregate shuffle, one
    * ≤ k-entry map per partition — hence the kryo buffer encoder), so
    * the hit/insert paths allocate nothing and the decrement sweep is
    * one in-place pass instead of an immutable O(k) rebuild. */
  final class MisraGriesAgg(k: Int)
      extends Aggregator[String, java.util.HashMap[String, Long], Map[String, Long]] {
    require(k >= 1, s"Misra-Gries needs k >= 1, got $k")
    override def zero: java.util.HashMap[String, Long] =
      new java.util.HashMap[String, Long](k * 2)
    override def reduce(b: java.util.HashMap[String, Long], v: String): java.util.HashMap[String, Long] = {
      val c = b.getOrDefault(v, 0L)
      if (c > 0L) b.put(v, c + 1L)
      else if (b.size < k) b.put(v, 1L)
      else {
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
      b
    }
    override def merge(x: java.util.HashMap[String, Long],
                       y: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
      val yi = y.entrySet().iterator()
      while (yi.hasNext) {
        val e = yi.next()
        x.put(e.getKey, x.getOrDefault(e.getKey, 0L) + e.getValue)
      }
      if (x.size > k) {
        // subtract the (k+1)-th largest count from everyone
        val counts = new Array[Long](x.size)
        val ci = x.values().iterator()
        var i = 0
        while (ci.hasNext) { counts(i) = ci.next(); i += 1 }
        java.util.Arrays.sort(counts)
        val cut = counts(counts.length - 1 - k)
        val it = x.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
        }
      }
      x
    }
    override def finish(b: java.util.HashMap[String, Long]): Map[String, Long] = {
      val mb = Map.newBuilder[String, Long]
      val it = b.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); mb += (e.getKey -> e.getValue) }
      mb.result()
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[java.util.HashMap[String, Long]] =
      org.apache.spark.sql.Encoders.kryo[java.util.HashMap[String, Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** One-row (`items` map<string,long>) Misra–Gries summary of
    * `valueCol` (nulls skipped, like every counting aggregate). State
    * is ≤ k counters per partition, map-side combined; the shuffle
    * carries one small map per partition. */
  def frequentItems(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(valueCol.cast("string").as("__v"))
      .filter(col("__v").isNotNull).as[String]
      .select(new MisraGriesAgg(k).toColumn.name("items"))
      .toDF("items")
  }

  /** Driver-side Misra–Gries union (the PODS'12 mergeable-summaries
    * rule — the same merge the aggregator uses, exposed for streaming
    * state folds). Preserves the membership guarantee across merges. */
  def mergeFrequentItems(a: Map[String, Long], b: Map[String, Long],
                         k: Int): Map[String, Long] = {
    val agg = new MisraGriesAgg(k)
    def toJava(m: Map[String, Long]) = {
      val j = new java.util.HashMap[String, Long](m.size * 2)
      m.foreach { case (v, c) => j.put(v, c) }
      j
    }
    agg.finish(agg.merge(toJava(a), toJava(b)))
  }

  /** Streaming maintenance: fold each micro-batch's MG summary into
    * the running one — heavy-hitter candidates over an unbounded
    * stream with O(k) state (the guarantee degrades gracefully: items
    * above the frequency threshold over the WHOLE stream stay
    * present). Same contract as [[streamingDistinct]]. */
  def streamingFrequentItems(stream: DataFrame, valueCol: Column, k: Int,
                             checkpoint: String,
                             state: java.util.concurrent.atomic.AtomicReference[Map[String, Long]],
                             trigger: org.apache.spark.sql.streaming.Trigger =
                               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val mg = frequentItems(batch, valueCol, k).head.getMap[String, Long](0)
        state.updateAndGet(cur => mergeFrequentItems(cur, Map(mg.toSeq: _*), k))
        ()
      }
      .start()

  /** Exact heavy hitters via the classic two-pass composition: a
    * single-pass Misra–Gries candidate sweep, then exact counts for
    * the ≤ k candidates only. By the MG guarantee every item with
    * count > N/(k+1) is among the candidates, so the verified result
    * EQUALS the exact `HAVING count(*) > N/(k+1)` query regardless of
    * the sketch's fold-order nondeterminism — which is what makes an
    * approximate-sketch pipeline oracle-exact.
    *
    * Scale: pass 1 is the bounded-state aggregation; pass 2 filters
    * the corpus to ≤ k broadcast candidate values and map-side
    * combines their counts — no corpus-wide groupBy over the full
    * value domain. Output: (item, cnt) for items with
    * cnt > N/(k+1), sorted (cnt desc, item asc). */
  def heavyHitters(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    // persisted so the three passes (N count, MG sweep, verify semi-join)
    // share ONE materialization of the upstream lineage instead of
    // re-scanning it; the eager count() below materializes the cache.
    // Size is bounded by the single projected value column; the returned
    // plan stays lazy, so the cache is released by LRU eviction, not an
    // eager unpersist (same lifecycle as Chunker.packOffsets).
    val vals = df.select(valueCol.cast("string").as("__v"))
      .filter(col("__v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = vals.count()
    val cands = frequentItems(vals, col("__v"), k)
      .select(explode(map_keys(col("items"))).as("__v"))
    vals.join(broadcast(cands), Seq("__v"), "left_semi")
      .groupBy(col("__v").as("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(n.toDouble / (k + 1)))
      .orderBy(col("cnt").desc, col("item").asc)
  }

  /** Per-group [[heavyHitters]] — the per-domain / per-language top
    * terms a curation pipeline reports alongside its mixture manifest:
    * for every group, the items with cnt > N_g/(k+1), via the same
    * two-pass MG-candidates + exact-verify composition run at GROUP BY
    * granularity. The membership guarantee holds per group (each
    * group's MG state folds only that group's rows), so the verified
    * result equals the exact per-group HAVING query regardless of fold
    * order — grouped sketch, exact oracle.
    *
    * Scale: pass 1 is one groupBy carrying ≤ k counters per (group,
    * partition) map-side; the candidate table is ≤ |G|·k rows joined
    * back semi-style on (g, v) — hash-partitioned, never a window over
    * the full (g, v) domain; group totals are a |G|-row join AQE
    * broadcasts. NULL groups and NULL values are excluded (the
    * [[exactQuantilesDiscGrouped]] contract). Output: (g, item, cnt)
    * sorted (g asc, cnt desc, item asc). */
  def heavyHittersGrouped(df: DataFrame, groupCol: Column, valueCol: Column,
                          k: Int): DataFrame = {
    require(k >= 1, s"Misra-Gries needs k >= 1, got $k")
    val vals = df.select(groupCol.cast("string").as("g"),
        valueCol.cast("string").as("__v"))
      .filter(col("g").isNotNull && col("__v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mg = udaf(new MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    val cands = vals.groupBy("g").agg(mg(col("__v")).as("items"))
      .select(col("g"), explode(map_keys(col("items"))).as("__v"))
    val ng = vals.groupBy("g").agg(count(lit(1)).as("__n"))
    vals.join(cands, Seq("g", "__v"), "left_semi")
      .groupBy(col("g"), col("__v"))
      .agg(count(lit(1)).as("cnt"))
      .join(ng, Seq("g"))
      .filter(col("cnt") > col("__n").cast("double") / (k + 1))
      .select(col("g"), col("__v").as("item"), col("cnt"))
      .orderBy(col("g").asc, col("cnt").desc, col("item").asc)
  }

  /** Streaming maintenance: fold each micro-batch's sketch into the
    * running one in `state` — the mergeability a count(DISTINCT) can
    * never stream. State is a ≤ k-long array; callers wanting crash
    * safety persist it through [[graft.core.SnapshotIO]] in `onBatch`
    * (it is tiny and idempotent to republish). */
  def streamingDistinct(stream: DataFrame, valueCol: Column, k: Int,
                        checkpoint: String,
                        state: java.util.concurrent.atomic.AtomicReference[Seq[Long]],
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = kmvSketch(batch, valueCol, k).head.getSeq[Long](0)
        state.updateAndGet(cur => mergeSketches(cur, sk, k))
        ()
      }
      .start()

  // ---------------------------------------------------------------
  // CountMin frequency sketch
  // ---------------------------------------------------------------

  /** CountMin sketch (Cormode & Muthukrishnan, J. Algorithms 2005):
    * a depth × width counter matrix; row i hashes a value to bucket
    * [[hash32]](i ∥ value) mod width and adds its occurrence count, and
    * a point estimate is the MIN over the depth rows — always an
    * overestimate (collisions only add), within εN with probability
    * 1−δ at width = ⌈e/ε⌉, depth = ⌈ln(1/δ)⌉. The frequency-side
    * complement of the distinct sketches above: Misra–Gries answers
    * "which items are frequent", CMS answers "how frequent is THIS
    * item" for arbitrary post-hoc keys with fixed d·w state.
    *
    * Registers are plain sums, so shard sketches merge by elementwise
    * ADDITION with exact union semantics ([[cmsMerge]]) — the
    * per-partition / per-day maintenance story. The md5-derived hash
    * makes registers and estimates oracle-replayable bit for bit.
    *
    * Scale: the depth-way explode is collapsed by map-side partial
    * aggregation to ≤ d·w rows per partition before the one shuffle;
    * register state is ≤ d·w longs total. Returns the sparse
    * (row, bucket, c) table — absent (row, bucket) ⇔ 0. */
  def cmsSketch(df: DataFrame, valueCol: Column, depth: Int,
                width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.filter(valueCol.isNotNull)
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), cmsBucket(i, valueCol, width).as("bucket"))): _*))
        .as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Row-i bucket of a value: [[hash32]] of "i|value" mod width (the
    * same salt-prefix construction as the sampling hashes). */
  def cmsBucket(row: Int, valueCol: Column, width: Int): Column =
    (hash32(concat_ws("|", lit(row), valueCol.cast("string"))) % width).cast("int")

  /** Elementwise register addition — exact merge of disjoint-shard
    * sketches: merge(sketch A, sketch B) ≡ sketch(A ⊎ B) identically,
    * register for register. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("row", "bucket").agg(sum(col("c")).as("c"))

  /** Point estimates for a driver-supplied key list against a register
    * table: min over rows of the key's register, absent registers = 0.
    * The keys explode to depth probes and join the ≤ d·w-row register
    * table (broadcast-sized by construction). */
  def cmsEstimate(registers: DataFrame, keys: Seq[String], depth: Int,
                  width: Int): DataFrame = {
    require(keys.nonEmpty, "need at least one key")
    val spark = registers.sparkSession
    import spark.implicits._
    keys.toDF("item")
      .select(col("item"), explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), cmsBucket(i, col("item"), width).as("bucket"))): _*))
        .as("rb"))
      .select(col("item"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(registers, Seq("row", "bucket"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("c"), lit(0L))).as("est_cnt"))
  }

  /** Driver-side CMS register union — the same elementwise addition as
    * [[cmsMerge]], on collected sparse registers (≤ d·w entries), for
    * streaming state folds. */
  def mergeCmsRegisters(a: Map[(Int, Int), Long],
                        b: Map[(Int, Int), Long]): Map[(Int, Int), Long] =
    b.foldLeft(a) { case (acc, (k, c)) => acc.updated(k, acc.getOrElse(k, 0L) + c) }

  /** Streaming maintenance: fold each micro-batch's CMS registers into
    * the running state — per-key frequency estimates over an unbounded
    * stream with fixed d·w state, exact-merge semantics (registers are
    * sums), same contract as [[streamingDistinct]]. */
  def streamingCms(stream: DataFrame, valueCol: Column, depth: Int, width: Int,
                   checkpoint: String,
                   state: java.util.concurrent.atomic.AtomicReference[Map[(Int, Int), Long]],
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val regs = cmsSketch(batch, valueCol, depth, width).collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        state.updateAndGet(cur => mergeCmsRegisters(cur, regs))
        ()
      }
      .start()

  /** Elementwise register MAX — HLL's exact-union merge (associative,
    * commutative, idempotent), so folding micro-batch sketches in ANY
    * order or split is register-identical to sketching the whole
    * stream. */
  def mergeHllRegisters(a: Map[Int, Int], b: Map[Int, Int]): Map[Int, Int] =
    b.foldLeft(a) { case (acc, (k, r)) =>
      acc.updated(k, math.max(acc.getOrElse(k, 0), r))
    }

  /** Streaming maintenance: fold each micro-batch's HLL registers into
    * the running state — distinct-count estimates over an unbounded
    * stream with fixed 2^p state. Unlike CMS (whose registers ADD),
    * HLL registers MAX, which is idempotent — so replayed batches
    * cannot double-count, and the folded state is bit-identical to the
    * batch sketch under any batch split. */
  def streamingHll(stream: DataFrame, valueCol: Column, p: Int,
                   checkpoint: String,
                   state: java.util.concurrent.atomic.AtomicReference[Map[Int, Int]],
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val regs = hllSketch(batch, valueCol, p).collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        state.updateAndGet(cur => mergeHllRegisters(cur, regs))
        ()
      }
      .start()

  // ---------------------------------------------------------------
  // HyperLogLog distinct sketch
  // ---------------------------------------------------------------

  /** HyperLogLog registers (Flajolet et al. 2007) over [[hash32]]:
    * bucket = top p hash bits, register = max ρ (leading-zero count of
    * the 32−p-bit suffix, +1) over the bucket's values. Fixed m = 2^p
    * longs of state vs KMV's k hashes; registers merge by elementwise
    * MAX, so sketch(A ∪ B) ≡ merge(sketch A, sketch B) EXACTLY — the
    * per-shard / per-partition maintenance story. Returns the sparse
    * (bucket, r) table (absent bucket ⇔ register 0); all arithmetic is
    * integer-exact and order-independent, so the registers — and the
    * estimate below — are oracle-replayable.
    *
    * ρ is evaluated as width+1 − Σ_k [w ≥ 2^k] — the same closed
    * comparison-sum the DuckDB oracle spells, rather than a
    * numberOfLeadingZeros intrinsic, so both engines share one
    * formula. The fold is codegen'd and rides the scan; the only
    * shuffle is the ≤ m-group register aggregation (map-side
    * combined). */
  def hllSketch(df: DataFrame, valueCol: Column, p: Int): DataFrame = {
    val grouped = hllSketchGrouped(df, lit(0), valueCol, p)
    grouped.select(col("bucket"), col("r"))
  }

  /** Per-group HLL registers: one m-register sketch per `groupCol`
    * value in a single pass (the GROUP-BY-site shape, like
    * [[kmvSketch]]'s grouped twin). */
  def hllSketchGrouped(df: DataFrame, groupCol: Column, valueCol: Column,
                       p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val width = 32 - p
    val h = hash32(valueCol)
    val w = h.bitwiseAND(lit((1L << width) - 1L))
    val rho = lit(width + 1) -
      (0 until width).map(k =>
        when(w >= lit(1L << k), 1).otherwise(0)).reduce(_ + _)
    df.select(groupCol.as("g"), shiftright(h, width).cast("int").as("bucket"),
        rho.as("__rho"))
      .groupBy("g", "bucket").agg(max(col("__rho")).as("r"))
  }

  /** Elementwise-max merge of two sparse register tables — exact union
    * semantics (max is associative/commutative/idempotent). */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("r")).as("r"))

  /** HLL estimate from a sparse register table. Small-range correction
    * (linear counting m·ln(m/V) when raw ≤ 2.5m and V > 0) included;
    * the 32-bit large-range correction is omitted — at the
    * cardinalities where it triggers (> 2^32/30) the 32-bit hash
    * itself is saturated and a KMV/64-bit sketch is the right tool.
    * Estimate arithmetic: S = Σ 2^−r is computed as an exact scaled
    * BIGINT sum (2^(K−r), K = 32; ≤ m·2^32 ≪ 2^53, so the double cast
    * is exact and the sum order-independent), then a fixed IEEE
    * expression both engines evaluate identically. The ln in the
    * linear-counting branch carries the cross-libm 1-ulp caveat
    * documented on [[graft.expressions.LnDouble]].
    *
    * Output: (est_distinct, v_empty, s_scaled) — the integer state
    * rides along so the estimate is auditable. */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    hllEstimateGrouped(registers.withColumn("g", lit(0)), p).drop("g")

  /** Per-group estimates from [[hllSketchGrouped]] output. */
  def hllEstimateGrouped(registers: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val K = 32
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val alphaM2 = alpha * (m.toLong * m).toDouble
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    // 2^(K−r) with a COLUMN shift amount (functions.shiftright only
    // takes a literal Int) — bridge to the catalyst ShiftRight
    val term = column(org.apache.spark.sql.catalyst.expressions.ShiftRight(
      expression(lit(1L << K)), expression(col("r").cast("int"))))
    registers
      .groupBy("g")
      .agg(count(lit(1)).as("nonempty"), sum(term).as("s_ne"))
      .select(col("g"),
        (lit(m.toLong) - col("nonempty")).as("v_empty"),
        ((lit(m.toLong) - col("nonempty")) * lit(1L << K) + col("s_ne"))
          .as("s_scaled"))
      .select(col("g"), col("v_empty"), col("s_scaled"),
        (lit(alphaM2) /
          (col("s_scaled").cast("double") / lit((1L << K).toDouble)))
          .as("__raw"))
      .select(col("g"),
        when(col("__raw") <= lit(2.5 * m) && col("v_empty") > 0,
          lit(m.toDouble) * graft.expressions.FloatKernels.ln(
            lit(m.toDouble) / col("v_empty").cast("double")))
          .otherwise(col("__raw")).as("est_distinct"),
        col("v_empty"), col("s_scaled"))
  }

  // ---------------------------------------------------------------
  // Mergeable bounded-state quantile sketch (bottom-k by hash)
  // ---------------------------------------------------------------

  /** Quantile-sketch item: (h, v) — h is the row's md5 hex hash (the
    * deterministic "coin"), v the sketched value. */
  type QItem = (String, Double)

  private val qOrd: Ordering[QItem] =
    Ordering.Tuple2(Ordering.String, Ordering.Double.TotalOrdering)

  /** Bounded-state mergeable quantile summary: keep the ≤ k rows whose
    * md5 row-hash is smallest; estimate quantiles from their values.
    *
    * This fills the KLL/GK slot in the sketch family (per-group quantile
    * thresholds from ONE mergeable bounded pass — e.g. per-language
    * quality cutoffs at 100 TB), but replaces rank-coupled random
    * compaction with the md5-driven determinism discipline of the
    * HLL/CMS sketches in this file: the retained set is a pure function
    * of the input MULTISET (the k hash-smallest rows), so the sketch is
    * order- and partitioning-independent, replayable by the DuckDB
    * oracle (`row_number() OVER (ORDER BY md5(id))`), and its merge is
    * EXACTLY union (k smallest of the concatenation — associative,
    * commutative, and idempotent, since replayed rows dedup by hash).
    * KLL (Karnin, Lau & Liberty, FOCS 2016) gets ε ≈ 1/k rank error
    * from rank-aware compaction at the cost of randomized, order-
    * dependent state; the hash-bottom-k sample is a uniform k-row
    * sample — rank error O(1/√k) w.h.p. — which a deterministic oracle
    * CAN check bit-for-bit. k = 4096 pins every percentile to ±1.6%
    * rank at ANY corpus size, in 4096·(32+8) bytes of state.
    *
    * Contract: `idCol` must be row-unique (the hash is the sampling
    * coin; duplicate ids would sample together). State is ≤ k items per
    * group, map-side combined — the shuffle carries ≤ k per (group,
    * partition), never the corpus. */
  final class QuantileSketchAgg(k: Int)
      extends Aggregator[QItem, Seq[QItem], Seq[QItem]] {
    require(k >= 2, s"quantile sketch needs k >= 2, got $k")
    override def zero: Seq[QItem] = Vector.empty
    override def reduce(b: Seq[QItem], c: QItem): Seq[QItem] =
      if (b.length >= k && qOrd.gteq(c, b.last)) b
      // dedup like merge() does, so a violated row-unique-id contract
      // degrades to the same (partitioning-independent) sketch on the
      // map-side and merge-side paths instead of silently diverging
      else if (b.contains(c)) b
      else ((b :+ c).sorted(qOrd)).take(k)
    override def merge(x: Seq[QItem], y: Seq[QItem]): Seq[QItem] =
      (x ++ y).distinct.sorted(qOrd).take(k)
    override def finish(b: Seq[QItem]): Seq[QItem] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[QItem]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[QItem]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[QItem]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[QItem]]()
  }

  /** One-row quantile sketch (`sketch` array<struct<h,v>> ascending by
    * (h, v)) of `valueCol` over `df`. */
  def quantileSketch(df: DataFrame, valueCol: Column, idCol: Column,
                     k: Int): DataFrame =
    quantileSketchGrouped(df, lit(0), valueCol, idCol, k).select("sketch")

  /** Per-group quantile sketches: (g, sketch), one bounded sample per
    * `groupCol` value in a single pass (the GROUP-BY-site shape of
    * [[hllSketchGrouped]]). Null values are skipped like every
    * percentile aggregate. */
  def quantileSketchGrouped(df: DataFrame, groupCol: Column, valueCol: Column,
                            idCol: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(groupCol.cast("string").as("g"),
        md5(idCol.cast("string")).as("h"), valueCol.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .as[(String, String, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new QuantileSketchAgg(k).toColumn.name("sketch"))
      .toDF("g", "sketch")
  }

  // ---------------------------------------------------------------
  // True KLL compactor sketch (Karnin-Lau-Liberty, FOCS 2016)
  // ---------------------------------------------------------------

  /** KLL compactor state: `levels(i)` holds items of weight 2^i;
    * `parity(i)` is that level's alternating compaction offset. */
  final class KllBuf extends Serializable {
    val levels = new scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[Double]]()
    val parity = new scala.collection.mutable.ArrayBuffer[Int]()
  }

  /** True KLL quantile sketch (Karnin, Lau & Liberty, FOCS 2016): a
    * hierarchy of compactors — level i holds items of weight 2^i; when
    * a level overflows its capacity it sorts, keeps every SECOND item
    * (offset alternating per level — the paper's coin, derandomized so
    * the sketch needs no RNG), and promotes the survivors one level up.
    * Capacities decay geometrically below the top (c = 2/3, the
    * DataSketches constant), so total state is O(k) and rank error is
    * O(1/k) — the ε ≈ 1/k bound the [[QuantileSketchAgg]] hash-sample
    * deliberately trades away (its O(1/√k) is the price of exact oracle
    * replay; see its scaladoc). This is the small-k complement: at
    * k = 256 KLL holds percentiles to well under 1% rank error where
    * the same-k sample is ~6%.
    *
    * Determinism contract — the honest difference from every other
    * sketch in this file: compaction timing depends on ARRIVAL ORDER,
    * so the sketch is a function of (multiset, partitioning), not of
    * the multiset alone. Same partitioning → bit-identical; different
    * partitionings → different sketches, SAME error bound (pinned by
    * measurement in SketchSpec, the recall-gate discipline of the ANN
    * tiers). Hence spec-gated, not oracle-replayed.
    *
    * Scale: state is ≤ ~2k doubles per (group, partition), map-side
    * combined; merge concatenates level-wise and recompacts — fully
    * mergeable (associative up to the documented order dependence). */
  final class KllAgg(k: Int)
      extends Aggregator[Double, KllBuf, Seq[(Double, Long)]] {
    require(k >= 8, s"KLL needs k >= 8, got $k")

    private def cap(level: Int, numLevels: Int): Int = {
      // top level k, shrinking by 2/3 per level below; floor 8
      var c = k.toDouble
      var i = numLevels - 1 - level
      while (i > 0) { c *= 2.0 / 3.0; i -= 1 }
      math.max(8, math.ceil(c).toInt)
    }

    private def ensure(b: KllBuf, level: Int): Unit =
      while (b.levels.length <= level) {
        b.levels += new scala.collection.mutable.ArrayBuffer[Double]()
        b.parity += 0
      }

    private def compact(b: KllBuf): Unit = {
      var changed = true
      while (changed) {
        changed = false
        var i = 0
        while (i < b.levels.length) {
          if (b.levels(i).length >= cap(i, b.levels.length)) {
            val buf = b.levels(i)
            val arr = buf.toArray
            java.util.Arrays.sort(arr)
            val off = b.parity(i)
            b.parity(i) = 1 - off
            ensure(b, i + 1)
            val up = b.levels(i + 1)
            var j = off
            while (j < arr.length) { up += arr(j); j += 2 }
            buf.clear()
            changed = true
          }
          i += 1
        }
      }
    }

    override def zero: KllBuf = new KllBuf
    override def reduce(b: KllBuf, v: Double): KllBuf = {
      ensure(b, 0)
      b.levels(0) += v
      if (b.levels(0).length >= cap(0, b.levels.length)) compact(b)
      b
    }
    override def merge(x: KllBuf, y: KllBuf): KllBuf = {
      ensure(x, math.max(y.levels.length - 1, 0))
      var i = 0
      while (i < y.levels.length) {
        x.levels(i) ++= y.levels(i)
        x.parity(i) = x.parity(i) ^ y.parity(i)
        i += 1
      }
      compact(x)
      x
    }
    override def finish(b: KllBuf): Seq[(Double, Long)] = {
      val out = Vector.newBuilder[(Double, Long)]
      var i = 0
      while (i < b.levels.length) {
        val w = 1L << i
        b.levels(i).foreach(v => out += ((v, w)))
        i += 1
      }
      out.result().sortBy(_._1)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[KllBuf] =
      org.apache.spark.sql.Encoders.kryo[KllBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Merge two flattened KLL sketches (weighted-item output of
    * [[KllAgg]]): weights are exactly 2^level by construction, so the
    * level hierarchy reconstructs from log₂(w), the buffers concatenate
    * level-wise, and one recompaction restores the capacity invariant —
    * the same machinery as `KllAgg.merge` over the flattened form (the
    * alternating-offset parity is reset to 0 by flattening; parity only
    * steers WHICH half survives the next compaction, so the rank-error
    * bound is unchanged — same contract as the sketch's documented
    * order dependence). Associative up to that order dependence;
    * `mergeKllSketches(a, Nil) == compacted a`. The cross-batch /
    * cross-shard combine for [[streamingQuantileKll]]. */
  def mergeKllSketches(a: Seq[(Double, Long)], b: Seq[(Double, Long)],
                       k: Int): Seq[(Double, Long)] = {
    val agg = new KllAgg(k)
    def toBuf(items: Seq[(Double, Long)]): KllBuf = {
      val buf = new KllBuf
      items.foreach { case (v, w) =>
        require(w >= 1 && java.lang.Long.bitCount(w) == 1,
          s"KLL item weight must be a power of two, got $w")
        val level = java.lang.Long.numberOfTrailingZeros(w)
        while (buf.levels.length <= level) {
          buf.levels += new scala.collection.mutable.ArrayBuffer[Double]()
          buf.parity += 0
        }
        buf.levels(level) += v
      }
      buf
    }
    agg.finish(agg.merge(toBuf(a), toBuf(b)))
  }

  /** Per-group KLL sketches: (g, sketch array<struct<v,w>> ascending by
    * value). Null groups and null/NaN values excluded (the
    * [[exactQuantilesDiscGrouped]] contract). */
  def kllSketchGrouped(df: DataFrame, groupCol: Column, valueCol: Column,
                       k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(groupCol.cast("string").as("g"),
        valueCol.cast("double").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull && !isnan(col("v")))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new KllAgg(k).toColumn.name("sketch"))
      .toDF("g", "sketch")
  }

  /** One-sketch convenience over the whole frame. */
  def kllSketch(df: DataFrame, valueCol: Column, k: Int): DataFrame =
    kllSketchGrouped(df, lit(0), valueCol, k).select("sketch")

  /** Lower order statistic at rank max(1, ⌈p·W⌉) over the weighted
    * sketch items (the [[exactQuantilesDisc]] `quantile_disc`
    * convention, weights standing in for repetition). */
  def kllQuantilesLocal(items: Seq[(Double, Long)],
                        probs: Seq[Double]): Seq[Double] = {
    val sorted = items.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    probs.map { p =>
      val target = math.max(1L, math.ceil(p * total).toLong)
      var cum = 0L
      var ans = Double.NaN
      val it = sorted.iterator
      var done = false
      while (it.hasNext && !done) {
        val (v, w) = it.next()
        cum += w
        if (cum >= target) { ans = v; done = true }
      }
      ans
    }
  }

  /** Per-group quantile estimates from [[kllSketchGrouped]] output:
    * (g, n_weight, q0..q{T−1}). n_weight is the sketch's Σw ≈ n — an
    * even-count compaction conserves weight exactly (half the items,
    * double the weight); an odd-count one perturbs it by ±w_i, the same
    * bounded perturbation the KLL rank-error analysis already charges,
    * so Σw drifts from n by at most the error bound (measured alongside
    * rank error in SketchSpec). */
  def kllEstimateGrouped(sketches: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    val spark = sketches.sparkSession
    import spark.implicits._
    val T = probs.length
    sketches.select(col("g"), col("sketch"))
      .as[(String, Seq[(Double, Long)])]
      .map { case (g, items) =>
        (g, items.iterator.map(_._2).sum, kllQuantilesLocal(items, probs))
      }
      .select(col("_1").as("g") +: col("_2").as("n_weight") +:
        (0 until T).map(i => col("_3").getItem(i).as(s"q$i")): _*)
  }

  /** Per-group quantile estimates from [[quantileSketchGrouped]] output:
    * explode the bounded sample and take exact interpolated percentiles
    * over it — the `percentile` ≡ `quantile_cont` pairing the oracle
    * replays over its own bottom-k rows. Output: (g, n_sample,
    * q0..q{n-1}). */
  def quantileEstimateGrouped(sketches: DataFrame,
                              probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      percentile(col("__v"), lit(p)).as(s"q$i")
    }
    sketches
      .select(col("g"), explode(col("sketch")).as("__it"))
      .select(col("g"), col("__it._2").as("__v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_sample"), aggs: _*)
  }

  /** Exact sketch union (column form): k hash-smallest of the
    * concatenation. `array_distinct` makes the merge idempotent under
    * replayed shards (same rows ⇒ same (h,v) pairs). Struct sort order
    * (h, then v) matches the aggregator's ordering — hex hashes are
    * ASCII, so UTF-8 binary order ≡ JVM string order. */
  def quantileSketchMergeCol(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Driver-side sketch union — same semantics as
    * [[quantileSketchMergeCol]], for streaming state folds. */
  def mergeQuantileSketches(a: Seq[QItem], b: Seq[QItem], k: Int): Seq[QItem] =
    (a ++ b).distinct.sorted(qOrd).take(k)

  /** Streaming maintenance: fold each micro-batch's per-group quantile
    * sketches into the running state — per-group quantile thresholds
    * over an unbounded stream with ≤ k items of state per group. Like
    * HLL (and unlike CMS), the fold is IDEMPOTENT — a replayed batch
    * contributes the identical (h, v) pairs, which dedup — so the folded
    * state is bit-identical to the batch sketch under any split.
    * The `state` reference must start fresh with a fresh checkpoint
    * (the [[streamingHll]] contract). */
  // ---------------------------------------------------------------
  // Exact quantiles by distributed selection (radix bisection)
  // ---------------------------------------------------------------

  /** Inverse of the [[graft.expressions.DoubleOrderedBits]] key
    * transform: unsigned-ordered long → the original double. */
  private[operators] def orderedBitsToDouble(u: Long): Double = {
    val x = u ^ java.lang.Long.MIN_VALUE
    val b = if (x < 0) x ^ 0x7fffffffffffffffL else x
    java.lang.Double.longBitsToDouble(b)
  }

  /** EXACT quantiles by distributed selection: for each p, the
    * max(1, ⌈p·n⌉)-th smallest value (the `quantile_disc` / lower
    * order statistic), found by radix-bisecting the order-preserving
    * bit image of the doubles ([[graft.expressions.DoubleOrderedBits]]):
    * six bounded histogram passes (12+12+12+12+12+4 key bits), each ONE
    * map-side-combined aggregation of ≤ |probs| × 4096 cells, O(that)
    * driver state, no sort anywhere. Deterministic and
    * partitioning-independent by construction; the answer IS an input
    * element, so the DuckDB oracle replays it bit-for-bit with a
    * row_number() order-statistic query — no interpolation arithmetic
    * to match across engines.
    *
    * This is the EXACT complement of the one-pass bounded
    * [[quantileSketchGrouped]] sample (O(1/√k) rank error): when a
    * cutoff must be exact — dataset cards, contractual SLO percentiles
    * — spend the six scans (they pipeline over the same cached
    * projection); when one pass must do, keep the sketch. At 100 TB
    * each pass is an embarrassingly parallel scan of an 8-byte
    * column with a ≤ |probs|·4096-row shuffle.
    *
    * Nulls and NaNs are excluded (the `percentile` null convention;
    * NaN would otherwise sort greatest in both engines — exclusion is
    * the stated contract). Output: one row (n_rows, q0..q{T−1});
    * q_i null when n_rows = 0. */
  def exactQuantilesDisc(df: DataFrame, valueCol: Column,
                         probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    val spark = df.sparkSession
    val T = probs.length
    val u = df
      .select(valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .select(graft.expressions.FloatKernels.orderedBits(col("__v")).as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val widths = Seq(12, 12, 12, 12, 12, 4)
      // shift of the CURRENT pass's bucket field within the key
      val shifts = widths.scanLeft(64)(_ - _).tail // 52,40,28,16,4,0
      // pass 1: a single shared histogram (no prefix yet) — also yields n
      val h0 = u.groupBy(shiftrightunsigned(col("u"), shifts.head).cast("int")
          .as("b"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1))
        .sortBy(_._1).toSeq
      val n = h0.map(_._2).sum
      if (n == 0L) {
        return oneRowResult(spark, 0L, Seq.fill(T)(None))
      }
      val ranks = probs.map(p => math.max(1L, math.ceil(p * n).toLong))
      // local selection (the [[graft.core.DriverLocal]] twin): once
      // pass 1 has proven the collected key column (160 B of driver
      // heap per key) fits the driver, the five remaining histogram
      // passes are pure job-scheduling overhead — collect the keys, sort them in the SAME unsigned key
      // order the radix bisection selects in, and read the rank-th
      // element directly. Both sides pick the rank-th smallest u in
      // unsigned order, so the decoded doubles are identical.
      if (DriverLocal.fits(n * 160L)) {
        val keys = u.collect().map(_.getLong(0) ^ java.lang.Long.MIN_VALUE)
        java.util.Arrays.sort(keys)
        return oneRowResult(spark, n, ranks.map(r =>
          Some(orderedBitsToDouble(keys((r - 1).toInt) ^ java.lang.Long.MIN_VALUE))))
      }
      val prefix = new Array[Long](T) // value of key bits above `shift`
      val need = new Array[Long](T)   // rank still needed inside prefix group
      var t = 0
      while (t < T) {
        val (b, rem) = pickBucket(h0, ranks(t))
        prefix(t) = b.toLong
        need(t) = rem
        t += 1
      }
      // passes 2..6: per-target prefixed histograms, all targets in one
      // aggregation (posexplode over a T-wide array of conditional buckets)
      widths.zip(shifts).drop(1).foreach { case (w, shift) =>
        val mask = (1L << w) - 1L
        val buckets = (0 until T).map { i =>
          when(shiftrightunsigned(col("u"), shift + w) === lit(prefix(i)),
            shiftrightunsigned(col("u"), shift).bitwiseAND(lit(mask))
              .cast("int"))
            .otherwise(lit(null).cast("int"))
        }
        val hist = u
          .select(posexplode(array(buckets: _*)).as(Seq("t", "b")))
          .filter(col("b").isNotNull)
          .groupBy("t", "b").count().collect()
          .groupBy(_.getInt(0))
          .map { case (ti, rows) =>
            ti -> rows.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1).toSeq
          }
        var i = 0
        while (i < T) {
          val (b, rem) = pickBucket(hist(i), need(i))
          prefix(i) = (prefix(i) << w) | b.toLong
          need(i) = rem
          i += 1
        }
      }
      oneRowResult(spark, n, prefix.toSeq.map(k => Some(orderedBitsToDouble(k))))
    } finally u.unpersist()
  }

  /** Per-group [[exactQuantilesDisc]]: the per-language exact-cutoff
    * shape — one selection state per (group, prob), group prefixes
    * riding a BROADCAST (g, t, prefix) join each pass, so group
    * cardinality is bounded by driver memory (G × T × 4096 counts),
    * never by expression size, and the corpus still pays exactly six
    * scans total for ALL groups and probs. Same determinism and
    * bit-exact row_number oracle replay (PARTITION BY g). Output:
    * (g, n_rows, q0..q{T−1}) — one row per non-empty group; empty
    * groups are absent, like any GROUP BY, and NULL group keys are
    * excluded (same contract as NULL/NaN values). */
  def exactQuantilesDiscGrouped(df: DataFrame, groupCol: Column,
                                valueCol: Column,
                                probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    val spark = df.sparkSession
    import spark.implicits._
    val T = probs.length
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType, nullable = true) +:
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false) +:
      probs.indices.map(i => org.apache.spark.sql.types.StructField(s"q$i",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val keyed = df
      .select(groupCol.cast("string").as("g"), valueCol.cast("double").as("__v"))
      // null groups excluded (same contract as null values): a null
      // key would NPE the driver-side group sort, and "the quantile of
      // the absent-key partition" has no defensible answer
      .filter(col("g").isNotNull && col("__v").isNotNull && !isnan(col("__v")))
      .select(col("g"),
        graft.expressions.FloatKernels.orderedBits(col("__v")).as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val widths = Seq(12, 12, 12, 12, 12, 4)
      val shifts = widths.scanLeft(64)(_ - _).tail
      val h0 = keyed
        .groupBy(col("g"),
          shiftrightunsigned(col("u"), shifts.head).cast("int").as("b"))
        .count().collect()
        .groupBy(_.getString(0))
        .map { case (g, rows) =>
          g -> rows.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1).toSeq
        }
      if (h0.isEmpty) {
        return spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      }
      val groups = h0.keys.toSeq.sorted
      val nOf = groups.map(g => g -> h0(g).map(_._2).sum).toMap
      // local selection — the ungrouped shortcut per group: when the
      // collected (g, u) rows fit the driver, collect them once and
      // select each group's order statistics locally instead of five
      // broadcast-join histogram jobs. Identical selections by
      // construction (rank-th smallest u per group in unsigned order).
      val localBytes = groups.map(g =>
        nOf(g) * (224L + 2L * g.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)).sum
      if (DriverLocal.fits(localBytes)) {
        val byG = keyed.collect()
          .groupBy(_.getString(0))
          .map { case (g, rs) =>
            val ks = rs.map(_.getLong(1) ^ java.lang.Long.MIN_VALUE)
            java.util.Arrays.sort(ks)
            g -> ks
          }
        val rowsL: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList(groups.length)
        groups.foreach { g =>
          val ks = byG(g)
          rowsL.add(org.apache.spark.sql.Row.fromSeq(
            g +: ks.length.toLong +: (0 until T).map { t =>
              val r = math.max(1L, math.ceil(probs(t) * ks.length).toLong)
              orderedBitsToDouble(ks((r - 1).toInt) ^ java.lang.Long.MIN_VALUE)
            }))
        }
        return spark.createDataFrame(rowsL, schema)
      }
      val prefix = scala.collection.mutable.Map.empty[(String, Int), Long]
      val need = scala.collection.mutable.Map.empty[(String, Int), Long]
      for (g <- groups; t <- 0 until T) {
        val r = math.max(1L, math.ceil(probs(t) * nOf(g)).toLong)
        val (b, rem) = pickBucket(h0(g), r)
        prefix((g, t)) = b.toLong
        need((g, t)) = rem
      }
      widths.zip(shifts).drop(1).foreach { case (w, shift) =>
        val mask = (1L << w) - 1L
        val states = groups
          .flatMap(g => (0 until T).map(t => (g, t, prefix((g, t)))))
          .toDF("g", "t", "p")
        val hist = keyed.join(broadcast(states), "g")
          .filter(shiftrightunsigned(col("u"), shift + w) === col("p"))
          .groupBy(col("g"), col("t"),
            shiftrightunsigned(col("u"), shift).bitwiseAND(lit(mask))
              .cast("int").as("b"))
          .count().collect()
          .groupBy(r => (r.getString(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.map(r => r.getInt(2) -> r.getLong(3)).sortBy(_._1).toSeq
          }
        for (g <- groups; t <- 0 until T) {
          val (b, rem) = pickBucket(hist((g, t)), need((g, t)))
          prefix((g, t)) = (prefix((g, t)) << w) | b.toLong
          need((g, t)) = rem
        }
      }
      val rows: java.util.List[org.apache.spark.sql.Row] =
        new java.util.ArrayList(groups.length)
      groups.foreach { g =>
        rows.add(org.apache.spark.sql.Row.fromSeq(
          g +: nOf(g) +:
            (0 until T).map(t => orderedBitsToDouble(prefix((g, t))))))
      }
      spark.createDataFrame(rows, schema)
    } finally keyed.unpersist()
  }

  /** Smallest bucket whose cumulative count reaches `rank`; returns
    * (bucket, rank remaining within it). `hist` is ascending by bucket. */
  private def pickBucket(hist: Seq[(Int, Long)], rank: Long): (Int, Long) = {
    var rem = rank
    hist.foreach { case (b, c) => if (rem <= c) return (b, rem) else rem -= c }
    throw new IllegalStateException(
      s"rank $rank exceeds histogram mass ${hist.map(_._2).sum}")
  }

  private def oneRowResult(spark: org.apache.spark.sql.SparkSession, n: Long,
                           qs: Seq[Option[Double]]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false) +:
      qs.indices.map(i => org.apache.spark.sql.types.StructField(s"q$i",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val row = org.apache.spark.sql.Row.fromSeq(
      n +: qs.map(_.map(java.lang.Double.valueOf).orNull))
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** [[streamingQuantile]]'s KLL twin — the same foreachBatch
    * maintenance shape over the O(1/k)-error compactor sketch instead
    * of the O(1/√k) hash sample: each micro-batch folds into per-group
    * [[kllSketchGrouped]] sketches, merged into the running state via
    * [[mergeKllSketches]]. Pick THIS variant when k must stay small
    * (tight executor/driver budgets) and exact oracle replay is not
    * required; pick [[streamingQuantile]] when the maintained sketch
    * itself must be hash-replayable (its md5 bottom-k sample is a pure
    * function of the multiset). State per group is O(k) doubles; read
    * estimates off the state with [[kllQuantilesLocal]]. */
  def streamingQuantileKll(stream: DataFrame, groupCol: Column,
                           valueCol: Column, k: Int, checkpoint: String,
                           state: java.util.concurrent.atomic.AtomicReference[Map[String, Seq[(Double, Long)]]],
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = kllSketchGrouped(batch, groupCol, valueCol, k)
          .collect()
          .map(r => r.getString(0) ->
            r.getSeq[org.apache.spark.sql.Row](1)
              .map(x => (x.getDouble(0), x.getLong(1))).toSeq)
          .toMap
        state.updateAndGet { cur =>
          (cur.keySet ++ sk.keySet).iterator.map { g =>
            g -> mergeKllSketches(
              cur.getOrElse(g, Nil), sk.getOrElse(g, Nil), k)
          }.toMap
        }
        ()
      }
      .start()

  def streamingQuantile(stream: DataFrame, groupCol: Column, valueCol: Column,
                        idCol: Column, k: Int, checkpoint: String,
                        state: java.util.concurrent.atomic.AtomicReference[Map[String, Seq[QItem]]],
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = quantileSketchGrouped(batch, groupCol, valueCol, idCol, k)
          .collect()
          .map(r => r.getString(0) ->
            r.getSeq[org.apache.spark.sql.Row](1)
              .map(x => (x.getString(0), x.getDouble(1))).toSeq)
          .toMap
        state.updateAndGet { cur =>
          (cur.keySet ++ sk.keySet).iterator.map { g =>
            g -> mergeQuantileSketches(
              cur.getOrElse(g, Nil), sk.getOrElse(g, Nil), k)
          }.toMap
        }
        ()
      }
      .start()
}
