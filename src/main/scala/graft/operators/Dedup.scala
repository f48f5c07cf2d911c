package graft.operators

import graft.core.DriverLocal
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.mutable

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content hash), MinHash + LSH banding, SimHash, n-gram Jaccard,
  * and embedding-cosine near-dup. Engine extensions beyond the reference
  * surface (the reference stores unique ids only; these are the dedup
  * semantics a 100 TB corpus pipeline needs).
  *
  * Scale design:
  *  - exact dedup: single hash-shuffle on a 16-byte key, map-side combine.
  *  - MinHash/LSH: signatures are per-row scans; candidate generation
  *    shuffles on (band_id, band_hash) buckets only — never all-pairs.
  *  - SimHash: per-row scan; near-dup via banding on hash prefixes.
  *  - cosine near-dup: all-pairs only within IVF clusters (bucketed
  *    self-join), not globally.
  */
object Dedup {

  /** Exact dedup: md5 content hash, keep the lowest id per group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows that survive exact dedup (keep-first semantics). Null text
    * passes through untouched — md5(null) is null, and a null-hash
    * partition would otherwise collapse all null-content rows into one
    * as if they were mutual duplicates. (exact() above keeps plain SQL
    * GROUP BY semantics — one null group — matching its oracle.) */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn",
        when(col(textCol).isNull, lit(1)).otherwise(row_number().over(w)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct lowercase word tokens of a text column. */
  private[graft] def wordSet(textCol: Column): Column =
    array_distinct(split(lower(textCol), "\\s+"))

  /** Distinct word n-gram shingles (shingle=1 degenerates to the word
    * set). Shingling is what makes minhash discriminate on corpora with
    * small shared vocabularies. Codegen'd (graft.expressions.WordShingles)
    * — the declarative transform/slice/concat_ws form is CodegenFallback
    * and benched ~10× slower on the pair operators. */
  def shingleSet(textCol: Column, shingle: Int): Column =
    graft.expressions.TextKernels.shingles(textCol, shingle)

  /** MinHash signature: hash family h_i(t) = the i-th 8-hex-char slice
    * of md5(⌊i/4⌋ | t) — ⌈numHashes/4⌉ digests per shingle instead of
    * numHashes (a 128-bit digest carries four independent 32-bit
    * hashes). Lexicographic min over a uniform hex slice is a valid
    * min-hash; identical in any engine with md5. Output column
    * `minhash`: array<string> of length numHashes (null for rows with
    * no shingles).
    *
    * Implementation: shingles are exploded once and all numHashes mins
    * are computed in a single (codegen'd md5 + hash-agg) pass — the
    * nested-HOF form pays interpreted lambda dispatch per seed×shingle
    * and benched ~50× slower. One shuffle on idCol. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, shingle: Int = 3): DataFrame =
    df.join(signatureOnly(df, idCol, textCol, numHashes, shingle)
        .withColumnRenamed("__mid", "__sig_id"),
      df(idCol) === col("__sig_id"), "left").drop("__sig_id")

  /** (id, minhash) pairs only — no join back onto the input. LSH banding
    * needs nothing else, and skipping the join saves a second scan of the
    * (wide) document table. Rows with no shingles simply drop out. */
  private def signatureOnly(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, shingle: Int): DataFrame = {
    val shingles = df.select(col(idCol).as("__mid"),
      explode(shingleSet(col(textCol), shingle)).as("__sh"))
    val aggs = (0 until numHashes).map { i =>
      val digest = md5(concat(lit((i / 4).toString), lit("|"), col("__sh")))
      min(substring(digest, (i % 4) * 8 + 1, 8)).as(s"__h$i")
    }
    shingles.groupBy("__mid")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__mid"),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("minhash"))
  }

  /** LSH band rows (`__id`, `band_id`, `band_hash`) of a corpus — the
    * compact per-doc index state (bands rows × ~50 B per doc, no text):
    * what a flush loop PERSISTS so later batches band-join against it
    * without ever re-scanning corpus text
    * ([[graft.streaming.StreamingIngest.nearDupMaintenance]]). Same
    * construction [[minhashLshPairs]]/[[minhashLshPairsAgainst]] use
    * internally. */
  private[graft] def bandedSignatures(df: DataFrame, idCol: String,
                                      textCol: String, numHashes: Int,
                                      bands: Int, shingle: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide by bands ($bands)")
    val rowsPerBand = numHashes / bands
    signatureOnly(df, idCol, textCol, numHashes, shingle)
      .select(col("__mid").as("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("|",
            slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand))))))
          .as(Seq("band_id", "band_hash")))
  }

  /** Cross-side candidate pairs from PRE-BANDED sides — the flush-loop
    * core of [[minhashLshPairsAgainst]] operating on persisted band
    * rows instead of text. Same bucket rule (≥ 1 doc of each side,
    * ≤ maxBucket distinct docs total), same (new_id, old_id) output. */
  private[graft] def lshPairsAgainstBanded(batchBands: DataFrame,
                                           corpusBands: DataFrame,
                                           maxBucket: Int): DataFrame =
    batchBands.withColumn("__new", lit(true))
      .unionByName(corpusBands.withColumn("__new", lit(false)))
      .groupBy("band_id", "band_hash")
      .agg(
        collect_set(when(col("__new"), col("__id"))).as("new_ids"),
        collect_set(when(!col("__new"), col("__id"))).as("old_ids"))
      .filter(size(col("new_ids")) > 0 && size(col("old_ids")) > 0 &&
        size(array_union(col("new_ids"), col("old_ids"))) <= maxBucket)
      .select(explode(col("new_ids")).as("new_id"), col("old_ids"))
      .select(col("new_id"), explode(col("old_ids")).as("old_id"))
      .filter(col("new_id") =!= col("old_id"))
      .distinct()

  /** Intra-side candidate pairs from PRE-BANDED rows —
    * [[minhashLshPairs]]'s bucket pairing over persisted band rows.
    * Same bucket rule (2..maxBucket docs), same (a, b) output. */
  private[graft] def lshPairsBanded(bandRows: DataFrame,
                                    maxBucket: Int): DataFrame =
    intraBucketPairs(
      bandRows.groupBy("band_id", "band_hash")
        .agg(collect_list(col("__id")).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket),
      "ids", "a", "b").distinct()

  /** LSH banding over the MinHash signature: band hash = md5 of the
    * concatenated band slice. Docs sharing any band hash are candidate
    * near-duplicates. Returns candidate pairs (a < b), distinct.
    *
    * `maxBucket` bounds the quadratic intra-bucket pair fan-out: a band
    * bucket holding more than maxBucket docs (a degenerate hash region —
    * at corpus scale usually boilerplate/empty docs) is dropped rather
    * than exploded into O(n²) pairs. The default (10k → ≤ ~5·10⁷ pairs
    * from a worst-case bucket) is the 100 TB-safe behavior; exhaustive
    * runs opt in with Int.MaxValue. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 8, bands: Int = 4, shingle: Int = 3,
                      maxBucket: Int = 10000): DataFrame =
    // single-pass bucket pairing: group ids per (band, hash) bucket and
    // emit intra-bucket pairs — no self-join, so the signature pipeline
    // runs once, and the shuffle carries one row per bucket.
    lshPairsBanded(
      bandedSignatures(df, idCol, textCol, numHashes, bands, shingle),
      maxBucket)

  /** Incremental (cross-corpus) MinHash-LSH: candidate near-duplicate
    * pairs between a NEW ingest batch and the EXISTING corpus — the
    * streaming-ingest dedup shape. A self-join of batch ∪ corpus would
    * re-pair the corpus against itself on every flush (quadratic in
    * corpus buckets, and all of it redundant); this emits cross-side
    * pairs ONLY, so per-batch work scales with the batch's bucket
    * overlap, not the corpus's self-similarity.
    *
    * Same banding construction as [[minhashLshPairs]]; a bucket is kept
    * when it holds ≥ 1 doc of EACH side and ≤ `maxBucket` docs total.
    * Pairs with equal ids are excluded (a re-ingested id is an upsert,
    * not a duplicate). Output: (new_id, old_id), distinct.
    *
    * Scale: corpus signatures are recomputed here for self-containment;
    * a production flush loop precomputes them once via
    * [[minhashSignature]] and persists — the banding join then touches
    * the (id, 8-hash signature) table only, never corpus text. */
  def minhashLshPairsAgainst(batch: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             numHashes: Int = 8, bands: Int = 4,
                             shingle: Int = 3,
                             maxBucket: Int = 10000): DataFrame =
    // bucket rule in lshPairsAgainstBanded counts DISTINCT docs, not
    // side-set sizes summed: a re-ingested id sits in both sets and
    // must count once, matching the documented "≤ maxBucket docs total"
    // contract (and the oracle's count(DISTINCT doc_id)).
    lshPairsAgainstBanded(
      bandedSignatures(batch, idCol, textCol, numHashes, bands, shingle),
      bandedSignatures(corpus, idCol, textCol, numHashes, bands, shingle),
      maxBucket)

  /** Intra-bucket combination pairs: each bucket's id array is
    * deduplicated, sorted, and exploded into its C(s,2) ordered pairs
    * directly — half the generated rows of the explode×explode form.
    * For SCALAR items `a < b` holds strictly (array_distinct removes
    * exact duplicates, so no self-pairs). For STRUCT items
    * array_distinct only removes identical structs: the same id with a
    * different payload (a doc re-ingested with new text/embedding)
    * survives and pairs with itself tied on the leading field — struct
    * callers MUST post-filter on id inequality
    * ([[ngramJaccardPairs]]/`Lsh.cosineNearDupPairs` do). */
  private[operators] def intraBucketPairs(buckets: DataFrame, idsCol: String,
                                          aCol: String, bCol: String): DataFrame =
    buckets.select(array_sort(array_distinct(col(idsCol))).as("__s"))
      .select(col("__s"), posexplode(col("__s")).as(Seq("__i", aCol)))
      .select(col(aCol),
        explode(slice(col("__s"), col("__i") + 2, size(col("__s")))).as(bCol))

  /** Bounded-state distinct-id collector behind the gram-universe
    * cutoff ([[ngramJaccardPairs]]'s one-pass screen): the cap+1-th
    * DISTINCT insert marks the gram poisoned (> cap distinct docs) and
    * the state stops growing, so per-gram aggregation state is bounded
    * at any corpus size. finish() = null for poisoned grams (dropped
    * from the universe), ascending distinct ids otherwise — identical
    * output to the r16 sorted-array form.
    *
    * Buffer layout (Array[Long], chosen so the serialized partials
    * stay byte-lean where it matters, guide §2.3):
    *  - length ≤ [[BoundedDistinctIdsAgg.SmallN]]: the distinct ids
    *    themselves, ascending — the dominant rare-gram case ships
    *    exactly n longs, unchanged;
    *  - `[-1, -1]`: POISONED — unambiguous (a sorted DISTINCT array
    *    can never hold a duplicate), and ships 16 B per map partition
    *    per hot gram where the old form shipped the full cap+1 longs
    *    (~80 KB at the default cutoff);
    *  - longer: slot 0 = count (low 32 bits) | MinValue-present flag,
    *    slots 1..end an open-addressing table (empty = Long.MinValue,
    *    whose real occurrences live in the header flag) — O(1)
    *    amortized insert. The old form re-allocated and copied the
    *    whole sorted array per distinct insert: O(cap²) element copies
    *    (~4·10⁸ B memcpy per hot gram per map partition before it
    *    poisoned — the r16 ADVICE CPU cliff on boilerplate-dominated
    *    corpora). */
  final class BoundedDistinctIdsAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
    require(cap >= 1 && cap < Int.MaxValue,
      s"cutoff must be in [1, Int.MaxValue), got $cap")
    import BoundedDistinctIdsAgg._
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], id: Long): Array[Long] =
      insert(b, id, cap)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      if (isPoisoned(x)) x
      else if (isPoisoned(y)) y
      else if (x.length <= SmallN && y.length > SmallN) mergeInto(y, x, cap)
      else mergeInto(x, y, cap)
    override def finish(b: Array[Long]): Array[Long] =
      if (isPoisoned(b)) null
      else if (b.length <= SmallN) b
      else {
        val out = tableIds(b)
        java.util.Arrays.sort(out)
        out
      }

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  private[operators] object BoundedDistinctIdsAgg {
    /** Largest state kept in the exact-sorted-array representation.
      * Also the representation discriminator: a buffer longer than this
      * is header + table (possible only when cap > SmallN — smaller
      * caps poison before outgrowing the array). */
    val SmallN = 64
    private val Poison = Array(-1L, -1L)
    private val Empty = Long.MinValue
    private val MinFlag = 0x4000000000000000L

    def isPoisoned(b: Array[Long]): Boolean =
      b.length == 2 && b(0) == -1L && b(1) == -1L
    private def countOf(b: Array[Long]): Int = (b(0) & 0xffffffffL).toInt
    private def hasMin(b: Array[Long]): Boolean = (b(0) & MinFlag) != 0L

    /** All distinct ids of a table buffer (unsorted). */
    def tableIds(b: Array[Long]): Array[Long] = {
      val out = new Array[Long](countOf(b))
      var o = 0
      if (hasMin(b)) { out(o) = Empty; o += 1 }
      var i = 1
      while (i < b.length) {
        if (b(i) != Empty) { out(o) = b(i); o += 1 }
        i += 1
      }
      out
    }

    def insert(b: Array[Long], id: Long, cap: Int): Array[Long] = {
      if (isPoisoned(b)) b
      else if (b.length <= SmallN) {
        val pos = java.util.Arrays.binarySearch(b, id)
        if (pos >= 0) b
        else if (b.length == cap) Poison // the cap+1-th distinct id
        else if (b.length < SmallN) {
          val ins = -pos - 1
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = id
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else insert(toTable(b), id, cap)
      } else if (id == Empty) {
        if (hasMin(b)) b
        else if (countOf(b) == cap) Poison
        else { b(0) = (b(0) + 1L) | MinFlag; b }
      } else {
        val capacity = b.length - 1
        var slot = 1 + (mix(id) & (capacity - 1)).toInt
        while (b(slot) != Empty && b(slot) != id)
          slot = if (slot == capacity) 1 else slot + 1
        if (b(slot) == id) b
        else if (countOf(b) == cap) Poison
        else if (countOf(b) + 1 >= capacity / 2) insert(grow(b), id, cap)
        else { b(slot) = id; b(0) += 1L; b }
      }
    }

    private def mix(id: Long): Long = {
      val h = id * -7046029254386353131L
      (h ^ (h >>> 32)) & 0x7fffffffffffffffL
    }

    private def toTable(sorted: Array[Long]): Array[Long] = {
      val t = new Array[Long](257) // capacity 256 ≥ 2·(SmallN+1)
      java.util.Arrays.fill(t, Empty)
      t(0) = 0L
      var acc = t
      sorted.foreach { id => acc = insert(acc, id, Int.MaxValue - 1) }
      acc
    }

    private def grow(b: Array[Long]): Array[Long] = {
      val t = new Array[Long](2 * (b.length - 1) + 1)
      java.util.Arrays.fill(t, Empty)
      t(0) = b(0)
      val capacity = t.length - 1
      var i = 1
      while (i < b.length) {
        val id = b(i)
        if (id != Empty) {
          var slot = 1 + (mix(id) & (capacity - 1)).toInt
          while (t(slot) != Empty)
            slot = if (slot == capacity) 1 else slot + 1
          t(slot) = id
        }
        i += 1
      }
      t
    }

    private def mergeInto(acc0: Array[Long], other: Array[Long],
                          cap: Int): Array[Long] = {
      var acc = acc0
      val ids = if (other.length <= SmallN) other else tableIds(other)
      var i = 0
      while (i < ids.length && !isPoisoned(acc)) {
        acc = insert(acc, ids(i), cap)
        i += 1
      }
      acc
    }
  }

  /** SimHash (64-bit, via xxhash64): sign-sum of token hash bits.
    * Per-row scan, no shuffle, one codegen kernel call per row (the
    * aggregate/zip_with HOF form this replaces paid interpreted dispatch
    * per token×bit). Output `simhash`: bigint. */
  def simhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash",
      graft.expressions.TextKernels.simhashXx(wordSet(col(textCol))))

  /** Hamming distance between two simhash columns (near-dup if small). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** All unordered id pairs whose fixed-width hashes (simhash, image
    * dHash, any ≤ `hashBits`-bit fingerprint in a long) lie within
    * Hamming distance `maxDist`, via blocked candidate generation
    * (Manku/Jain/Das Sarma, WWW 2007 §3): the hash splits into
    * `nBlocks` contiguous blocks, and a pair within `maxDist` differs
    * in at most `maxDist` blocks, so it agrees EXACTLY on some
    * (nBlocks − maxDist)-subset of blocks — one inverted-index join
    * per subset, keyed on the hash masked to that subset's bits, never
    * an all-pairs product, with an exact XOR-popcount gate verifying
    * each candidate. Complete by construction relative to the bucket
    * guard: `maxBucket` drops degenerate buckets (a key shared by more
    * docs than that — e.g. a constant-image corpus) exactly like
    * [[minhashLshPairs]], bounding intra-bucket fan-out.
    *
    * `nBlocks` trades table count against key width — THE corpus-scale
    * knob: C(nBlocks, nBlocks − maxDist) tables of key width
    * (nBlocks − maxDist)·hashBits/nBlocks bits. The default
    * (maxDist + 1, one block per table — the textbook minimum) keys on
    * only hashBits/(maxDist+1) bits, whose buckets stay sparse up to
    * roughly 2^(hashBits/(maxDist+1)) docs (~10^4 for 56-bit/d=3); a
    * web-scale corpus raises nBlocks instead (e.g. 8 blocks at d=3 →
    * C(8,5) = 56 tables keyed on 35 bits, sparse to ~10^9 docs) —
    * linear explode cost, exponentially sparser buckets. When the one
    * table-explode shuffle itself outgrows the cluster (~10⁹ hashes),
    * [[hammingNearDupPairsSharded]] splits it into bucket-key-range
    * passes with identical output.
    *
    * `hashBits` must be ≤ 63 (non-negative long hashes) and divisible
    * by `nBlocks` so blocks are equal-width. Null hashes are ignored.
    * Output: a, b (ids, a < b), hamming (bigint) — one row per pair,
    * min distance if an id carries several payloads. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          maxDist: Int, hashBits: Int, nBlocks: Int = 0,
                          maxBucket: Int = 10000): DataFrame = {
    val keyMasks = hammingKeyMasks(maxDist, hashBits, nBlocks, maxBucket)
    val h = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), col(hashCol).cast("long").as("__h"))
    hammingPairsScreen(h, keyMasks, maxDist, maxBucket, shard = None)
  }

  /** One blocked-screen pass over pre-projected (__id, __h) rows,
    * optionally restricted to the `shard`-th of `of` bucket-key shards
    * (every (band, bits) bucket lands in exactly one shard, so the
    * union over shards is pair-for-pair the unsharded screen). */
  private def hammingPairsScreen(h: DataFrame, keyMasks: Seq[Long],
                                 maxDist: Int, maxBucket: Int,
                                 shard: Option[(Int, Int)]): DataFrame = {
    val keys = keyMasks.map(m => col("__h").bitwiseAND(lit(m)))
    // the hash RIDES the bucket as struct payload, so the (possibly
    // expensive — image decode, md5 simhash) hash lineage is evaluated
    // exactly once; the id→hash hydration joins this replaces evaluated
    // it three times (measured 3× the fingerprint cost per query).
    // The degenerate-bucket guard still counts DISTINCT ids — an id
    // re-ingested with a different payload is two (id, h) entries but
    // one document.
    val keyed = h
      .select(struct(col("__id"), col("__h")).as("__e"),
        posexplode(array(keys: _*)).as(Seq("__band", "__bits")))
    // shard filter sits BELOW the aggregation, so a sharded pass maps,
    // shuffles, and holds only its slice of the bucket entries
    val mine = shard match {
      case Some((s, of)) =>
        keyed.filter(pmod(xxhash64(col("__band"), col("__bits")), lit(of)) === s)
      case None => keyed
    }
    val buckets = mine
      .groupBy("__band", "__bits").agg(collect_set(col("__e")).as("ids"))
      .withColumn("__ndocs",
        size(array_distinct(transform(col("ids"), e => e("__id")))))
      // guard BOTH axes: distinct docs (the dup-cluster size) and total
      // (id, hash) entries — an id re-ingested with many distinct
      // payloads inflates entries (and the O(entries²) pair fan-out)
      // while __ndocs stays small. Entries == docs on single-payload
      // corpora, so the second cap only fires on payload blowup.
      .filter(col("__ndocs") > 1 && col("__ndocs") <= maxBucket &&
        size(col("ids")) <= maxBucket)
    intraBucketPairs(buckets, "ids", "x", "y")
      // same-id pairs are re-ingested payload variants, not duplicates
      .filter(col("x.__id") =!= col("y.__id"))
      .select(least(col("x.__id"), col("y.__id")).as("a"),
        greatest(col("x.__id"), col("y.__id")).as("b"),
        bit_count(col("x.__h").bitwiseXOR(col("y.__h"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      // min, not raw rows: an id ingested twice with different payloads
      // pairs through both hashes and would emit the same (a, b) pair
      // at two distances
      .groupBy("a", "b").agg(min(col("hamming")).as("hamming"))
  }

  /** Sharded [[hammingNearDupPairs]] — the 10⁹-hash path. The blocked
    * screen's one shuffle carries C(B, B−d) × n bucket entries (560M at
    * 10M hashes / 8 blocks, measured 587.7 s); past ~10⁷ hashes that
    * single exchange is the bottleneck (spill, one giant stage). This
    * variant hash-partitions the BUCKET-KEY space into `shards` slices
    * and runs one screen pass per slice as its own eagerly-materialized
    * job (results land under `spillDir`), so peak shuffle state per job
    * is ~1/shards of the unsharded exchange while total work stays the
    * same — the classic out-of-core band scan. Every (band, bits)
    * bucket lands in exactly one shard, so the unioned pair set is
    * pair-for-pair the unsharded screen's (DedupSpec pins equality);
    * the final min-groupBy dedups pairs that surface in several shards
    * via different bands. The (id, hash) projection is persisted
    * MEMORY_AND_DISK across passes — each shard re-reads 16 B/row, not
    * the upstream (image-decode) lineage. */
  def hammingNearDupPairsSharded(hashes: DataFrame, idCol: String,
                                 hashCol: String, maxDist: Int, hashBits: Int,
                                 shards: Int, spillDir: String,
                                 nBlocks: Int = 0,
                                 maxBucket: Int = 10000): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val keyMasks = hammingKeyMasks(maxDist, hashBits, nBlocks, maxBucket)
    val spark = hashes.sparkSession
    val h = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(hashCol).cast("long").as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until shards).foreach { s =>
        hammingPairsScreen(h, keyMasks, maxDist, maxBucket,
            shard = Some((s, shards)))
          .write.mode("overwrite").parquet(s"$spillDir/shard=$s")
      }
    } finally h.unpersist()
    spark.read
      .parquet((0 until shards).map(s => s"$spillDir/shard=$s"): _*)
      .groupBy("a", "b").agg(min(col("hamming")).as("hamming"))
  }

  /** Shared parameter validation + key-mask construction for the
    * blocked Hamming screens: one mask per (blocks − maxDist)-subset of
    * contiguous blocks; equality on the masked hash ⟺ equality on
    * every block of the subset. Single definition so the fail-fast
    * guards cannot drift between the symmetric and incremental
    * variants. */
  private def hammingKeyMasks(maxDist: Int, hashBits: Int, nBlocks: Int,
                              maxBucket: Int): Seq[Long] = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val blocks = if (nBlocks == 0) maxDist + 1 else nBlocks
    require(blocks > maxDist,
      s"nBlocks ($blocks) must exceed maxDist ($maxDist) for the pigeonhole " +
        "block screen to be complete")
    require(hashBits >= 1 && hashBits <= 63 && hashBits % blocks == 0,
      s"hashBits ($hashBits) must be in [1, 63] and divisible by nBlocks ($blocks)")
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val blockBits = hashBits / blocks
    val blockMask = (1L << blockBits) - 1L
    val keyMasks = (0 until blocks).combinations(blocks - maxDist)
      .map(_.map(b => blockMask << (b * blockBits)).reduce(_ | _))
      .toSeq
    require(keyMasks.size <= 4096,
      s"C($blocks, ${blocks - maxDist}) = ${keyMasks.size} tables — " +
        "reduce nBlocks (explode fan-out would dominate)")
    keyMasks
  }

  /** Incremental (batch-vs-corpus) variant of [[hammingNearDupPairs]]:
    * Hamming pairs BETWEEN a new batch and an existing corpus only —
    * the streaming-flush screen ("which incoming images/docs near-match
    * something already ingested"), costing per flush what the batch
    * costs, never re-pairing the corpus against itself. Same blocked
    * construction and completeness contract; a bucket is kept when it
    * holds ≥ 1 hash of EACH side and ≤ `maxBucket` DISTINCT ids total;
    * equal ids never pair (a re-ingested id is an upsert, not a dup).
    * Output: new_id, old_id, hamming (bigint) — one row per pair, min
    * distance if an id carries several payloads. */
  def hammingNearDupPairsAgainst(batch: DataFrame, corpus: DataFrame,
                                 idCol: String, hashCol: String,
                                 maxDist: Int, hashBits: Int, nBlocks: Int = 0,
                                 maxBucket: Int = 10000): DataFrame = {
    val keyMasks = hammingKeyMasks(maxDist, hashBits, nBlocks, maxBucket)
    def keyed(df: DataFrame, isNew: Boolean) = {
      val h = df.filter(col(hashCol).isNotNull)
        .select(col(idCol).cast("long").as("__id"),
          col(hashCol).cast("long").as("__h"))
      h.select(col("__id"), col("__h"),
        posexplode(array(keyMasks.map(m => col("__h").bitwiseAND(lit(m))): _*))
          .as(Seq("__band", "__bits")),
        lit(isNew).as("__new"))
    }
    keyed(batch, isNew = true).unionByName(keyed(corpus, isNew = false))
      .groupBy("__band", "__bits")
      .agg(
        collect_set(when(col("__new"), struct(col("__id"), col("__h"))))
          .as("new_hs"),
        collect_set(when(!col("__new"), struct(col("__id"), col("__h"))))
          .as("old_hs"))
      .filter(size(col("new_hs")) > 0 && size(col("old_hs")) > 0 &&
        // DISTINCT ids across both sides (a re-ingested id counts once),
        // matching minhashLshPairsAgainst's bucket contract; total
        // entries capped too so many-payload ids can't inflate the
        // cross-side pair fan-out past the guard (see the symmetric
        // variant)
        size(array_union(transform(col("new_hs"), s => s("__id")),
          transform(col("old_hs"), s => s("__id")))) <= maxBucket &&
        size(col("new_hs")) + size(col("old_hs")) <= maxBucket)
      .select(explode(col("new_hs")).as("n"), col("old_hs"))
      .select(col("n"), explode(col("old_hs")).as("o"))
      .filter(col("n.__id") =!= col("o.__id"))
      .select(col("n.__id").as("new_id"), col("o.__id").as("old_id"),
        bit_count(col("n.__h").bitwiseXOR(col("o.__h"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      // min, not distinct: an id ingested twice with different payloads
      // would otherwise emit the same pair at two distances
      .groupBy("new_id", "old_id").agg(min(col("hamming")).as("hamming"))
  }

  private val HexAlphabet = "0123456789abcdef"

  /** SimHash variant with md5-derived bits, emitted as a 16-hex-char
    * fingerprint string. Same sign-sum construction as [[simhash]], but
    * every primitive (md5, hex-nibble extraction, bit tests) exists
    * identically in ANSI-ish SQL engines, so the full fingerprint is
    * oracle-checkable bit-for-bit (the xxhash64 variant is not — no
    * common cross-engine 64-bit hash exists). Bit i (0..63) is bit
    * (i mod 4) of hex nibble (i div 4) of md5(token). Per-row scan, no
    * shuffle. */
  def simhashMd5Hex(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash",
      graft.expressions.TextKernels.simhashMd5(wordSet(col(textCol))))

  /** Term-frequency-weighted SimHash — Charikar's construction as
    * actually deployed (Manku et al. WWW'07 §2 weight each feature):
    * the identical bit build but over the token MULTISET, so every
    * occurrence adds ±1 and the per-bit tally carries exact integer tf
    * weights. A word repeated 50× dominates the fingerprint the way it
    * dominates the document — the set variant treats it like a
    * hapax. Same md5 path, same oracle replay, weights exact. */
  def simhashWeightedMd5Hex(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash",
      graft.expressions.TextKernels.simhashMd5(
        split(lower(col(textCol)), "\\s+")))

  /** Word n-gram Jaccard similarity pairs ≥ threshold. Candidate pairs
    * share at least one n-gram (inverted-index join), so the all-pairs
    * product is never materialized.
    *
    * Design note: AllPairs-style prefix filtering (index only the
    * |d|−⌈t·|d|⌉+1 rarest grams per doc; Bayardo/Ma/Srikant, WWW 2007)
    * was measured as the alternative and REJECTED: its docfreq
    * join + per-doc (df, gram) sort + candidate verify joins cost ~4×
    * this formulation end-to-end at sf0.1 (min-of-6 interleaved runs),
    * and the scale hazard it addresses — fat posting lists — is already
    * bounded here by the `maxDocFreq` universe cutoff, which keeps the
    * bucket pass under Σ C(maxDocFreq, 2) per gram while preserving a
    * true Jaccard over the filtered universe. */
  /** `maxDocFreq` (on by default — the 100 TB-safe behavior) applies a
    * consistent stopword-style cutoff for corpus scale: grams appearing
    * in more than maxDocFreq docs are removed from the gram UNIVERSE —
    * they count toward neither intersections nor set sizes — so jaccard
    * stays a true Jaccard over the filtered universe instead of a skewed
    * ratio, and no posting list ever explodes into O(n²) pairs.
    * Exhaustive runs opt in with Int.MaxValue (which also skips the
    * cutoff scan entirely). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Int = 10000): DataFrame = {
    val grams0 = df
      .select(col(idCol).as("__id"), shingleSet(col(textCol), n).as("__g"))
      .select(col("__id"), size(col("__g")).cast("long").as("sz"),
        explode(col("__g")).as("gram"))
    if (maxDocFreq == Int.MaxValue) {
      // exhaustive path: per-doc sizes ride the exploded rows as struct
      // payload — two shuffles total (gram buckets, pair keys)
      return intraBucketPairs(
        grams0.groupBy("gram")
          .agg(collect_list(struct(col("__id"), col("sz"))).as("ids"))
          .filter(size(col("ids")) > 1),
        "ids", "x", "y")
        .groupBy(col("x.__id").as("a"), col("y.__id").as("b"),
          col("x.sz").as("sza"), col("y.sz").as("szb"))
        .agg(count(lit(1)).as("inter"))
        // a =!= b: a re-ingested id with different text appears as two
        // distinct (id, sz) structs in a bucket and would self-pair
        .filter(col("a") =!= col("b"))
        .withColumn("jaccard",
          col("inter") / (col("sza") + col("szb") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    }
    // Guarded path: the cutoff is DISTINCT docs per gram (as
    // documented), not rows — a re-ingested identical row must not push
    // a gram over it. Integral-id corpora (every production shape) take
    // the ONE-PASS bounded-state screen: a capped distinct-id
    // aggregator ([[BoundedDistinctIdsAgg]]) collects each gram's
    // bucket directly — per-gram state is hard-capped at
    // maxDocFreq + 1 ids (~80 KB at the default cutoff), the cap+1-th
    // distinct id marks the gram poisoned and drops it from the
    // universe — so the corpus-sized exploded-gram table is SCANNED
    // once and shuffled once. The two-phase row-count/exact-distinct
    // pre-screen this replaces paid two extra full gram-table scans and
    // a vocabulary-sized shuffle before the bucket pass even started
    // (r16 measurement: 3 scans → 1 cut the screen ~30% at sf0.1).
    // Shuffle-byte trade on a boilerplate-dominated corpus: a hot gram
    // now ships ≤ cap+1 ids per map partition (the pre-screen shipped
    // none after its anti-join) — bounded by partitions × cap × 8 B,
    // which AQE handles, where the OLD cost was two extra corpus scans
    // on EVERY corpus. Non-integral ids (no production call site) keep
    // the two-phase screen — the bounded agg buffers primitive longs.
    val idType = df.schema(idCol).dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case dt: org.apache.spark.sql.types.DecimalType
          if dt.scale == 0 && dt.precision <= 18 => true
      case _ => false
    }
    // the bucket table is the sole downstream input: per-doc sizes over
    // the filtered universe fall out of the buckets themselves (explode
    // back + count — the bucket table is maxDocFreq-bounded), so size
    // lookups join the CANDIDATE-PAIR table, not the gram table. The
    // one-bucket grams (size 1) still count toward sizes, so the filter
    // to pairable buckets happens after the explode-back split.
    val buckets0 =
      if (integralId) {
        val bd = udaf(new BoundedDistinctIdsAgg(maxDocFreq),
          org.apache.spark.sql.Encoders.scalaLong)
        grams0.drop("sz")
          // nulls never pair (collect_set dropped them from buckets
          // too); the primitive-long aggregator needs them gone first
          .filter(col("__id").isNotNull)
          .groupBy("gram")
          .agg(bd(col("__id").cast("long")).as("__l"))
          .filter(col("__l").isNotNull) // poisoned = over the cutoff
          .select(col("gram"),
            col("__l").cast(s"array<${idType.simpleString}>").as("ids"))
      } else {
        // two-phase screen: a plain per-gram ROW count (map-side
        // partial longs — no distinct state) upper-bounds the
        // distinct-doc count, so only grams whose row count crosses the
        // cutoff pay the exact distinct count; when none do (the normal
        // corpus) AQE sees the empty side and collapses the second pass
        // to an empty relation without scanning. The hot/common joins
        // are deliberately UNHINTED: AQE broadcasts them when they are
        // actually small but degrades to a shuffle join on a
        // boilerplate-dominated corpus where the hot set itself is
        // corpus-sized. collect_set dedups (gram, id) during the one
        // shuffle, so a doc ingested twice cannot double intersections
        // or its recomputed set size.
        val hot = grams0.groupBy("gram").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxDocFreq).select("gram")
        val common = grams0.join(hot, Seq("gram"), "left_semi")
          .groupBy("gram").agg(count_distinct(col("__id")).as("__df"))
          .filter(col("__df") > maxDocFreq).select("gram")
        grams0.drop("sz").join(common, Seq("gram"), "left_anti")
          .groupBy("gram").agg(collect_set(col("__id")).as("ids"))
      }
    // the bucket table feeds THREE consumers (the pair explode and the
    // sizes subtree referenced for both join sides), so the plan shows
    // three copies of the screen subtree. Persisting it was MEASURED
    // (r17) and REVERTED: runtime exchange reuse already shares the
    // expensive map side across the copies, and the InMemoryRelation
    // build (columnar-izing array<long> rows) + the codegen-pipeline
    // break cost MORE than the duplicated reduce-side work it saved —
    // the whole Jaccard family ran 1.4–1.75× slower with the cache
    // (host-normalized full-bench protocol, see OPTIMIZATION_r17.md).
    val buckets = buckets0
    val sizes = buckets.select(explode(col("ids")).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("sz"))
    // shuffle_hash on the sizes side: the static planner estimates the
    // candidate-pair aggregate below the broadcast threshold (aggregate
    // stats shrink wildly) and builds THE PAIR SIDE — fine at gate SFs,
    // an 8 GiB broadcast abort on a duplication-dense 10× corpus (found
    // by the sf1 spot-check tier). Broadcasting sizes instead would be
    // the opposite trap (sizes is corpus-sized: one row per surviving
    // doc). A shuffled hash join building the per-doc sizes partition-
    // wise is the only shape that is bounded on BOTH sides at any SF.
    intraBucketPairs(buckets.filter(size(col("ids")) > 1), "ids", "a", "b")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__id").as("a"), col("sz").as("sza"))
        .hint("shuffle_hash"), "a")
      .join(sizes.select(col("__id").as("b"), col("sz").as("szb"))
        .hint("shuffle_hash"), "b")
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Distinct character n-grams of an ALREADY-LOWERCASED text column
    * (texts shorter than n yield the whole text as a single gram —
    * short texts must still screen). Codegen kernel
    * (graft.expressions.CharGrams): one static call per row; the
    * declarative sequence/transform/substr form is CodegenFallback and
    * pays interpreted dispatch per position. Callers project
    * `lower(text)` first so lowering runs once per row through Spark's
    * own `lower`. */
  private def charGramSet(loweredCol: Column, n: Int): Column =
    graft.expressions.TextKernels.charGrams(loweredCol, n)

  /** Character-n-gram Jaccard candidate pairs — the same inverted-index
    * shape as [[ngramJaccardPairs]] but over CHARACTER grams, which is
    * what a character-level edit gate needs for recall: a one-character
    * typo perturbs only n character grams, but (in a short text) every
    * word shingle. */
  private def charGramJaccardPairs(df: DataFrame, idCol: String,
                                   textCol: String, n: Int,
                                   threshold: Double,
                                   maxDocFreq: Int): DataFrame = {
    // CharGrams is a plain (non-HOF) kernel that evaluates its child
    // once per row, so lower() may inline into it directly
    val lowered = df.select(col(idCol).as("__id"),
      charGramSet(lower(col(textCol)), n).as("__g"))
    val idType = df.schema(idCol).dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case dt: org.apache.spark.sql.types.DecimalType
          if dt.scale == 0 && dt.precision <= 18 => true
      case _ => false
    }
    if (maxDocFreq != Int.MaxValue && integralId) {
      // ONE-PASS bounded-state screen (the ngramJaccardPairs guarded
      // path applied to char grams): a capped distinct-id aggregator
      // collects each gram's bucket directly — per-gram state hard-
      // capped at maxDocFreq + 1 ids, the cap+1-th distinct id drops
      // the gram from the universe — so the corpus-sized char-gram
      // table is scanned once and shuffled ONCE. The previous shape
      // shuffled it three times (distinct-count screen, per-doc
      // collect_set window for sizes, bucket aggregation); per-doc
      // sizes now fall out of the bucket table itself (explode back +
      // count — maxDocFreq-bounded) and join the candidate-pair table,
      // not the gram table. Set semantics are unchanged: ids dedup per
      // bucket, a doc's size counts each kept gram once (union across
      // re-ingested payloads), cutoff = DISTINCT docs.
      val grams0 = lowered.select(col("__id"), explode(col("__g")).as("gram"))
      val bd = udaf(new BoundedDistinctIdsAgg(maxDocFreq),
        org.apache.spark.sql.Encoders.scalaLong)
      // NOT persisted — same measured finding as [[ngramJaccardPairs]]'
      // bucket table: exchange reuse beats the cache (r17)
      val buckets = grams0
        .filter(col("__id").isNotNull)
        .groupBy("gram")
        .agg(bd(col("__id").cast("long")).as("__l"))
        .filter(col("__l").isNotNull) // poisoned = over the cutoff
        .select(col("gram"),
          col("__l").cast(s"array<${idType.simpleString}>").as("ids"))
      val sizes = buckets.select(explode(col("ids")).as("__id"))
        .groupBy("__id").agg(count(lit(1)).as("sz"))
      // shuffle_hash on the sizes side — the ngramJaccardPairs
      // rationale: the candidate-pair aggregate's stats mis-estimate
      // under the broadcast threshold and the static planner would
      // build the PAIR side (an 8 GiB broadcast abort on a
      // duplication-dense corpus); sizes is corpus-sized so
      // broadcasting it is the opposite trap
      return intraBucketPairs(buckets.filter(size(col("ids")) > 1),
          "ids", "a", "b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("__id").as("a"), col("sz").as("sza"))
          .hint("shuffle_hash"), "a")
        .join(sizes.select(col("__id").as("b"), col("sz").as("szb"))
          .hint("shuffle_hash"), "b")
        .withColumn("jaccard",
          col("inter") / (col("sza") + col("szb") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    }
    val grams = if (maxDocFreq == Int.MaxValue)
      lowered.select(col("__id"), size(col("__g")).cast("long").as("sz"),
        explode(col("__g")).as("gram"))
    else {
      // non-integral ids (no production call site): the previous
      // three-shuffle shape — df counts DISTINCT docs via map-side-
      // combined aggregation, broadcast anti-join of the tiny common
      // set, per-doc collect_set window for kept sizes. Duplicate
      // bucket entries collapse in intraBucketPairs' array_distinct
      // since (id, sz) structs agree.
      val grams0 = lowered.select(col("__id"), explode(col("__g")).as("gram"))
      val common = grams0.groupBy("gram")
        .agg(count_distinct(col("__id")).as("__df"))
        .filter(col("__df") > maxDocFreq).select("gram")
      grams0.join(broadcast(common), Seq("gram"), "left_anti")
        .withColumn("sz", size(collect_set(col("gram"))
          .over(Window.partitionBy("__id"))).cast("long"))
    }
    intraBucketPairs(
      grams.groupBy("gram")
        .agg(collect_list(struct(col("__id"), col("sz"))).as("ids"))
        .filter(size(col("ids")) > 1),
      "ids", "x", "y")
      .groupBy(col("x.__id").as("a"), col("y.__id").as("b"),
        col("x.sz").as("sza"), col("y.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("a") =!= col("b"))
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Character-level fuzzy duplicate pairs: CHARACTER n-gram Jaccard
    * candidate screen (never all-pairs — the inverted-index shape of
    * [[ngramJaccardPairs]]; character grams, not word shingles, so a
    * one-character typo in a short text still screens in) followed by
    * an exact Levenshtein gate on the hydrated texts. The two-stage
    * shape is the standard fuzzy-dedup recipe: cheap gram-level recall
    * first, exact character-level precision on the (tiny) candidate set
    * only. Both engines implement textbook unit-cost edit distance, so
    * results are oracle-exact.
    *
    * Scale: candidates ≪ corpus, so the two hydration joins shuffle
    * only candidate ids + their texts; the gate uses the k-bounded
    * (banded, early-exit) Levenshtein — O(maxDist·len) per pair, not
    * O(len²) — which at maxDist=5 on ~300-char texts is ~25× less work
    * than the full DP, and it runs on candidate pairs alone.
    *
    * COMPLETENESS CONTRACT: results are exact over the pairs the
    * candidate screen admits, NOT "all pairs within maxDist" — the
    * screen has two recall gaps by construction. (1) Texts shorter
    * than `n` characters contribute a single whole-text gram, so a
    * 1-char edit between two sub-n-char texts yields gram Jaccard 0
    * and the pair never reaches the gate. (2) A doc whose every gram
    * exceeds `maxDocFreq` (pure boilerplate) keeps no grams and can
    * never pair. Both gaps affect only degenerate rows — sub-`n`-char
    * snippets and all-stopgram texts, which curation pipelines drop
    * anyway (quality/length filters run first); callers who do need
    * them should lower `n`, raise `maxDocFreq`, or route the short-text
    * stratum through an exact small-bucket pass. The oracle mirrors
    * the screen, so oracle-exactness is unaffected. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, candidateThreshold: Double = 0.3,
                        n: Int = 5, maxDocFreq: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val cands = charGramJaccardPairs(df, idCol, textCol, n,
      candidateThreshold, maxDocFreq).select("a", "b")
    val t = df.select(col(idCol), col(textCol))
    cands
      .join(t.select(col(idCol).as("a"), col(textCol).as("__ta")), "a")
      .join(t.select(col(idCol).as("b"), col(textCol).as("__tb")), "b")
      // pair-level dedup AFTER hydration: a re-ingested identical row
      // would otherwise multiply its pairs through the joins. Dedup
      // here costs a candidate-sized aggregation, not the corpus-wide
      // shuffle a dropDuplicates(id) on the full table would pay (for
      // conflicting payloads under one id the kept row is arbitrary —
      // ids are assumed unique upstream, per the store's upsert
      // contract)
      .dropDuplicates("a", "b")
      // threshold form returns -1 past the bound instead of the
      // distance, so the filter keeps [0, maxDist] explicitly
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select("a", "b", "edit_dist")
  }

  /** Substring-level duplicate-passage pairs via winnowing fingerprints
    * (Schleimer/Wilkerson/Aiken, SIGMOD 2003): each doc contributes its
    * distinct window-min md5 fingerprints over character
    * `gramLen`-grams; docs sharing a fingerprint bucket-join into
    * pairs. SOUND by the winnowing guarantee: any two docs sharing a
    * passage of ≥ `window + gramLen − 1` characters select at least
    * one identical fingerprint — so repeated passages (the
    * substring-level duplication exact/near-dup doc hashing misses,
    * Lee et al. 2022 "Deduplicating Training Data...") always surface.
    * A shared fingerprint certifies a shared `gramLen`-char substring
    * outright (both docs contain the fingerprinted gram), so no
    * verify pass is needed.
    *
    * Scale: ~2·len/window fingerprints per doc (not len grams); the
    * bucket shuffle carries one row per (fingerprint, doc); never
    * all-pairs; `maxBucket` drops degenerate buckets (a fingerprint
    * shared by half the corpus is boilerplate — [[boilerplateRemove]]
    * territory — not pairwise signal).
    *
    * Output: (a, b, n_shared) with a < b, n_shared = number of shared
    * selected fingerprints. */
  def sharedPassagePairs(df: DataFrame, idCol: String, textCol: String,
                         gramLen: Int = 50, window: Int = 20,
                         maxBucket: Int = 10000): DataFrame = {
    require(gramLen >= 1 && window >= 1,
      s"gramLen and window must be positive, got $gramLen/$window")
    val fps = df.select(col(idCol).as("__id"),
      explode(graft.expressions.TextKernels.winnowFingerprints(
        lower(col(textCol)), gramLen, window)).as("fp"))
    intraBucketPairs(
      fps.groupBy("fp").agg(collect_list(col("__id")).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket),
      "ids", "a", "b")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
  }

  /** Embedding-cosine near-duplicate pairs (similarity ≥ threshold).
    * Brute all-pairs within the given DataFrame — callers at scale pass
    * IVF-bucketed partitions (join within cluster_id), not the full table. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         threshold: Double): DataFrame = {
    // norms precomputed per row (N sqrt-folds, not N²); cos = dot/(na·nb)
    // keeps the exact oracle expression shape bit-for-bit
    val a = df.select(col(idCol).as("a"), col(embCol).as("ea"))
      .withColumn("__na", norm(col("ea")))
    val b = df.select(col(idCol).as("b"), col(embCol).as("eb"))
      .withColumn("__nb", norm(col("eb")))
    // zero-norm vectors (e.g. the embedder's token-less fallback) yield
    // cos = 0/0 = NaN, and Spark sorts NaN above every number — guard so
    // they can never pass the threshold as phantom near-dups
    a.join(b, col("a") < col("b"))
      .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("__na") * col("__nb")))
      .filter(col("__na") > 0 && col("__nb") > 0 && col("cos_sim") >= threshold)
      .select("a", "b", "cos_sim")
  }

  /** Scale path: cosine near-dup bucketed by IVF cluster — all-pairs only
    * within each cluster (candidate loss at cluster borders is the usual
    * ANN recall trade; raise k to shrink clusters). */
  def cosineNearDupBucketed(assigned: DataFrame, idCol: String, embCol: String,
                            threshold: Double): DataFrame = {
    val a = assigned.select(col(Ivf.ClusterCol), col(idCol).as("a"), col(embCol).as("ea"))
      .withColumn("__na", norm(col("ea")))
    val b = assigned.select(col(Ivf.ClusterCol), col(idCol).as("b"), col(embCol).as("eb"))
      .withColumn("__nb", norm(col("eb")))
    a.join(b, Seq(Ivf.ClusterCol))
      .filter(col("a") < col("b"))
      .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("__na") * col("__nb")))
      .filter(col("__na") > 0 && col("__nb") > 0 && col("cos_sim") >= threshold)
      .select("a", "b", "cos_sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over embedding clusters. Assign every row to its
    * nearest centroid (one codegen scan), compute cosine near-dup pairs
    * WITHIN clusters only — the paper's complexity reduction, O(Σ|c|²)
    * instead of O(n²), and at persisted scale a cluster-partition-local
    * join with no corpus shuffle — connect pairs into components, and
    * from each component keep the member with the LOWEST cosine
    * similarity to its cluster centroid (the paper's §3 pick: the least
    * prototypical example carries the most marginal information), ties
    * broken by min id.
    *
    * Returns the REMOVED rows: (idCol, keep_id, cluster_id,
    * cos_centroid) — `keep_id` is the surviving representative of the
    * row's duplicate component, `cos_centroid` the removed row's own
    * centroid similarity. The window runs over clustered rows only
    * (|components| ≪ corpus); the centroid table is k rows, broadcast.
    *
    * SIZE k TO THE CORPUS: within-cluster pair work is ~ n²/(2k), so k
    * must grow linearly with n — the paper uses k ≈ n/1000 (50k
    * clusters at 50M docs); ScaleProbe measures 1M rows at k=256
    * (3 906-row clusters) costing ~4× the k=1024 run. A k sized for
    * yesterday's corpus is the one scale trap this operator has.
    */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
               model: Ivf.Model, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val assigned = Ivf.assign(df, model)
    val pairs = cosineNearDupBucketed(assigned, idCol, embCol, threshold)
    val comps = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("comp"))
    val centSchema = StructType(Seq(
      StructField(Ivf.ClusterCol, IntegerType, nullable = false),
      StructField("__cent", ArrayType(FloatType, containsNull = false),
        nullable = false)))
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(model.centroids.zipWithIndex.map {
        case (c, j) => Row(j, c.toSeq)
      }: _*), centSchema)
    val w = Window.partitionBy("comp")
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    assigned
      .join(comps, col(idCol) === col("__cc_id"))
      .join(broadcast(cents), Seq(Ivf.ClusterCol))
      .withColumn("cos_centroid",
        dot(col(embCol), col("__cent")) / (norm(col(embCol)) * norm(col("__cent"))))
      .withColumn("__keep", first(col(idCol)).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col(idCol), col("__keep").as("keep_id"),
        col(Ivf.ClusterCol), col("cos_centroid"))
  }

  /** [[semDedup]] with the paper's cluster sizing: k ≈ n/docsPerCluster
    * (Abbas et al. 2023 run k ≈ n/1000), floored at `minK`, capped at n.
    * Sizing k WITH n is the operator's scale contract — within-cluster
    * pair work is ~n²/(2k), so a constant k turns semantic dedup
    * quadratic at 100× while k ∝ n keeps expected cluster size (and the
    * per-cluster pair fan-out) constant. The short Lloyd budget is the
    * ANN-practice norm: centroids only need to partition, not converge
    * (measured round 6: maxIter=100 spends ~150 s in the driver sample
    * fit for no downstream gain at k=1024). Returns the built model so
    * a streaming maintenance loop can hand it to [[Ivf.maintain]] and
    * re-run dedup against the refreshed assignment (StreamingSpec
    * composes exactly that). */
  def semDedupAuto(df: DataFrame, idCol: String, embCol: String,
                   threshold: Double, docsPerCluster: Long = 1000L,
                   minK: Int = 16, seed: Long = 42L,
                   maxIter: Int = 20): (DataFrame, Ivf.Model) = {
    require(docsPerCluster >= 1, s"docsPerCluster must be >= 1, got $docsPerCluster")
    val n = df.count()
    require(n > 0, "semDedupAuto over an empty corpus")
    val k = math.min(math.max(minK.toLong, n / docsPerCluster), n).toInt
    val (_, model) = Ivf.build(df, embCol, k, seed, maxIter = maxIter)
    (semDedup(df, idCol, embCol, model, threshold), model)
  }

  /** Connected components over an undirected near-dup pair graph:
    * (id, comp) for every node that appears in a pair, where comp is
    * the smallest id in the node's component. Pair-based keep-first
    * removal (`a < b` ⇒ drop b) mis-handles chains — with pairs (1,2)
    * and (2,3) but not (1,3), dropping 2 and 3 is only correct if 1~3
    * transitively; components make that transitivity explicit, and the
    * canonical representative (min id) is what a curation pipeline
    * keeps per duplicate cluster.
    *
    * Algorithm: alternating large-star/small-star edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Each round rewrites the EDGE SET itself: large-star
    * re-attaches every strictly-larger neighbor of a node to the
    * minimum of its closed neighborhood; small-star does the same for
    * the not-larger side. The edge list converges to one star per
    * component rooted at the component minimum — the same (id, min-id)
    * labels as label propagation, in O(log² n) rounds worst case and
    * ~⌈log2 n⌉ alternations on measured path graphs (a 10k-doc path,
    * diameter 9999, closes within the 16-alternation spec gate; a
    * 10M-node path in ~24 — the default maxIter = 50 leaves wide
    * margin, and a converged run exits at its fixpoint so the budget
    * costs nothing unless the graph needs it). Unlike label
    * propagation — whose every round joins the FULL edge set against a
    * V-sized label table twice — each star step is one aggregation and
    * one self-join over the CURRENT edge set, which contracts as stars
    * form, so per-round shuffle bytes shrink as the run progresses.
    * Never all-pairs, no driver-side graph. Lineage is cut with
    * localCheckpoint every round so plans stay O(1) deep regardless of
    * iteration count.
    *
    * A graph whose directed edges fit [[graft.core.DriverLocal]] (192 B
    * of driver heap each) short-circuits to a driver-side union-find ([[ccLocal]]):
    * near-dup pair graphs are tiny relative to their corpus, since dup
    * clusters are bounded. Identical output either way (min-id labels
    * are algorithm-independent). */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxIter: Int = 50): DataFrame = {
    // integral ids only: a blind cast would turn string ids into nulls
    // (distributed path) or 0 via null-unboxing (local path), silently
    // collapsing the whole graph into one bogus component. Scale-0
    // decimals up to precision 18 (a common warehouse key type) cast to
    // long exactly and stay allowed.
    Seq(aCol, bCol).foreach { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => ()
        case dt: org.apache.spark.sql.types.DecimalType
            if dt.scale == 0 && dt.precision <= 18 => ()
        case dt => throw new IllegalArgumentException(
          s"connectedComponents needs integral id columns; '$c' is ${dt.simpleString}")
      }
    }
    // null ids fail loudly too: the local path would NPE opaquely and
    // the distributed path would silently emit comp = null (equi-joins
    // never match null)
    def nonNull(c: String) = coalesce(col(c).cast("long"),
      raise_error(lit(s"connectedComponents: null id in '$c'")).cast("long"))
    val e = pairs.select(nonNull(aCol).as("src"), nonNull(bCol).as("dst"))
    // symmetric closure; distinct keeps each round's join bounded by
    // the true edge count even when the pair generator emits dups
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val nEdges = edges.count() // checkpoint is materialized — metadata-cheap
    if (DriverLocal.fits(nEdges * 192L)) return ccLocal(edges)
    // canonical orientation: one row per undirected edge, src > dst
    var cur = edges.filter(col("src") > col("dst"))
      .select("src", "dst").localCheckpoint()
    var iter = 0
    var prevCnt = -1L
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: every oriented edge (src=v, dst=u), v > u, is the
      // unique appearance of v in its SMALLER endpoint u's group, so
      // the rewrite (v, m_u) is one E-row join of the edge list
      // against the per-node closed-neighborhood minimum. And because
      // neighbors LARGER than u can never be that minimum, m_u =
      // min(u, u's smaller neighbors) — one partial aggregation over
      // the oriented list itself; the symmetrized 2E view is never
      // materialized at all (a left join: a node with no smaller
      // neighbor is its own minimum)
      val minsL = cur.groupBy("src").agg(min(col("dst")).as("m"))
        .withColumnRenamed("src", "__n")
      val large = cur.join(minsL, cur("dst") === col("__n"), "left")
        .select(cur("src").as("src"),
          coalesce(col("m"), cur("dst")).as("dst"))
      // small-star: for each node u (grouping the oriented edges, so
      // every neighbor is smaller), the neighbors and u itself
      // re-attach to m = min(neighbors). The group min is a groupBy
      // aggregation — partial (map-side) aggregation keeps a hub node
      // distributable, where the earlier single-window form funneled
      // an inverted-star center's ENTIRE neighbor list (degree ~E,
      // plus any exact-duplicate rows large-star is allowed to emit)
      // through one task's O(deg log deg) sort. The join fans each
      // group's edges back out to rewrite them, but that's a
      // shuffle-join AQE can skew-split, not a single-task sort.
      // Emitted rows keep the src > dst canonical orientation: every
      // neighbor v and m are both < u with m the minimum, so v > m on
      // the v ≠ m rows, and u > m always.
      val minsS = large.groupBy("src").agg(min(col("dst")).as("m"))
      val small = large.join(minsS, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(minsS.select(col("src"), col("m").as("dst")))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
        .localCheckpoint()
      val cnt = small.count()
      // fixpoint = the alternation returned the SAME edge set. The
      // anti-join equality check only runs when the cardinality
      // matches — rounds that still contract skip it for free.
      converged = cnt == prevCnt &&
        small.join(cur, Seq("src", "dst"), "left_anti").isEmpty
      prevCnt = cnt
      cur = small
      iter += 1
    }
    lastCcIterations = iter
    // a silent partial result would under-deduplicate: a mid-run edge
    // set looks exactly like a converged one
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations " +
        "— raise maxIter")
    // converged edges are stars (child, root) with root = component
    // min: children label from their edge, roots label themselves
    val starLabels = cur.select(col("src").as("id"), col("dst").as("comp"))
      .unionByName(cur.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
    // a node whose only pair was a self-pair never enters the oriented
    // edge set — it still labels itself (ccLocal parity)
    val selfOnly = edges.filter(col("src") === col("dst"))
      .select(col("src").as("id")).distinct()
      .join(starLabels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    starLabels.unionByName(selfOnly)
  }

  /** Rounds the last DISTRIBUTED [[connectedComponents]] run took to
    * converge — observability for the O(log diameter) claim (probe and
    * spec read it; driver-side, last-run-wins). 0 after a local-path
    * run. */
  @volatile private[graft] var lastCcIterations: Int = 0

  /** Driver union-find over a bounded edge list. Union always attaches
    * the larger root under the smaller, so every root IS its component's
    * minimum id — the same (id, min-id) contract as the distributed
    * loop, no relabel pass needed. */
  private def ccLocal(edges: DataFrame): DataFrame = {
    lastCcIterations = 0
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = mutable.LongMap.empty[Unit]
    edges.select("src", "dst").collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      nodes(a) = (); nodes(b) = ()
      val (ra, rb) = (find(a), find(b))
      // rooting at the smaller id makes the root the component label
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    nodes.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "comp")
  }

  /** Cluster-canonical near-dup removal: keep every row whose id is its
    * component's representative (min id), plus all rows outside the pair
    * graph. The scale shape is one broadcast-or-shuffle anti-join
    * against the non-canonical member set (|components| − |clusters|
    * rows — far smaller than the corpus). */
  def keepCanonical(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val losers = components.filter(col("id") =!= col("comp"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Cluster-canonical near-dup removal keeping the BEST member of each
    * cluster by `scoreCol` (ties → lowest id) instead of the lowest id —
    * the curation-grade variant: when near-dups differ (truncation, OCR
    * noise, boilerplate wrap), survival should follow quality, not id
    * order. Rows outside the pair graph all survive.
    *
    * Scale shape: the score join and the per-component window touch only
    * clustered rows (|components| ≪ corpus), the window partitions by
    * component id, and the corpus-sized operation is one anti-join
    * against the loser set. */
  def keepBestInCluster(df: DataFrame, idCol: String, scoreCol: String,
                        components: DataFrame): DataFrame = {
    val members = components.select(col("id").as("__cid"), col("comp").as("__comp"))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val losers = df.join(members, col(idCol) === col("__cid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("__cid").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Segment-level boilerplate removal (CCNet-style line dedup,
    * github.com/facebookresearch/cc_net): drop every segment whose exact
    * text occurs in ≥ `minDocFreq` distinct documents — headers, nav
    * bars, cookie banners repeat across pages while real prose doesn't —
    * and reassemble each document from its surviving segments in
    * original order. `delim` is the literal segment separator ("\n" for
    * line-level; the driver testdata has single-line docs, so its query
    * segments on " ").
    *
    * Output: idCol, text_clean (surviving segments re-joined; "" when
    * everything was boilerplate), n_kept, n_removed. Every input row
    * appears exactly once.
    *
    * Scale shape: the corpus-wide work is ONE segment-key aggregation
    * over per-row-DEDUPED segments — `array_distinct` makes (doc, seg)
    * pairs distinct before the explode, so document frequency is a
    * plain count with full map-side combining and no (seg, doc)
    * pre-shuffle. Only the HOT pairs (doc × boilerplate segment — small
    * by construction, empty on clean corpora) regroup by doc into
    * per-doc hot lists, and each document is rebuilt PER ROW by
    * filtering its own segment array against its hot list. The corpus
    * text itself never shuffles; when no segment crosses minDocFreq the
    * whole operator degrades to one vocab-sized aggregation plus
    * broadcast-empty joins. Never all-pairs, no global sort. */
  def boilerplateRemove(df: DataFrame, idCol: String, textCol: String,
                        delim: String, minDocFreq: Long): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    def segArr(c: Column) =
      filter(split(c, java.util.regex.Pattern.quote(delim)), s => s =!= lit(""))
    // df(seg) counts *distinct docs*, not occurrences: a phrase repeated
    // inside one document is repetition (TextFunctions.repetitionSignals),
    // not boilerplate — array_distinct enforces that per row
    val pairs = df.select(col(idCol),
      explode(array_distinct(segArr(col(textCol)))).as("__seg"))
    val boiler = pairs.groupBy("__seg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__seg")
    // per-doc hot-segment lists: only boilerplate occurrences shuffle
    // (AQE broadcasts `boiler` when it is small, which it is unless the
    // corpus is mostly boilerplate — in which case the join degrades
    // gracefully to a shuffle instead of an OOM broadcast)
    val hot = pairs.join(boiler, Seq("__seg"))
      .groupBy(col(idCol)).agg(collect_list(col("__seg")).as("__hot"))
    import graft.functions.ColumnOps.bindOnce
    df.join(hot, Seq(idCol), "left")
      .select(col(idCol), bindOnce(segArr(col(textCol))) { segs =>
        bindOnce(coalesce(col("__hot"), array().cast("array<string>"))) { h =>
          bindOnce(filter(segs, s => !array_contains(h, s))) { kept =>
            struct(array_join(kept, delim).as("tc"),
              size(kept).cast("long").as("nk"),
              (size(segs) - size(kept)).cast("long").as("nr"))
          }
        }
      }.as("__r"))
      .select(col(idCol),
        coalesce(col("__r.tc"), lit("")).as("text_clean"),
        coalesce(col("__r.nk"), lit(0L)).as("n_kept"),
        coalesce(col("__r.nr"), lit(0L)).as("n_removed"))
  }
}
