package graft.core

import java.util.concurrent.atomic.AtomicInteger

/** The one policy that decides where an iterative operator with a
  * driver-local twin runs: collect its input and loop on the driver, or
  * run the distributed loop over the cluster.
  *
  * Five operators carry such a twin: [[graft.operators.PageRank.run]],
  * [[graft.operators.Dedup.connectedComponents]],
  * [[graft.operators.Sketch.exactQuantilesDisc]] (and its grouped form),
  * [[graft.operators.Classifier.train]] and
  * [[graft.operators.Bpe.learnMerges]] (with
  * [[graft.operators.ByteBpe.learnMerges]]). Each distributed loop pays
  * one or more Spark jobs per iteration, which on a driver-sized input
  * is scheduling overhead and nothing else. Each local twin reproduces
  * its distributed side bit for bit (same double arithmetic, the same
  * DECIMAL(38,18) rounding, the same argmax order), and a spec per
  * operator pins that equality, so the side taken never changes an
  * answer and the oracle match is side-independent. [[graft.VectorStore]]'s
  * read calls take the same gate for the serve snapshot they answer
  * from on the driver (the last row below; `IvfTailSpec` and `HnswSpec`
  * pin its answers to the distributed ones).
  *
  * The gate: a twin takes its local side when [[fits]] accepts an
  * estimate of the driver heap its local side would hold. Each twin
  * computes the estimate from a count it already takes, so the gate
  * costs no Spark job: the count times the heap width of one collected
  * element. The width is the peak of a `collect()`, which holds Spark's
  * decoded `UnsafeRow` copy and the `Row` built from it at once (a
  * 64-bit JVM with compressed oops; boxed longs and doubles at 24 B,
  * strings held in both copies):
  *
  * | twin | estimate | local range at [[Budget]] |
  * |---|---|---|
  * | `PageRank.run`, `connectedComponents` | directed edges × 192 (measured 185) | ≤ 699 050 edges |
  * | `exactQuantilesDisc` | pass-1 n × 160 (measured 152) | ≤ 838 860 keys |
  * | `exactQuantilesDiscGrouped` | Σ over pass-1 groups of n_g × (224 + 2 × UTF-8 bytes of g) (measured 218 at 2-byte g) | ≤ 588 674 keys at 2-byte g |
  * | `Classifier.train` | docs × (dim + 1) × 128 (measured 122 per feature entry) | ≤ 1 048 576 entries |
  * | `Bpe` / `ByteBpe.learnMerges` | Σ (224 + 2 × UTF-8 bytes of word) over a probe of ≤ [[Budget]]/224 + 1 rows (measured 216 at 8-byte words) | ≤ 559 240 words of 8 bytes |
  * | `VectorStore`'s serve snapshot ([[graft.ServeSnapshot]]) | rows × (64 + 16 × dim) + metadata entries × 256 + UTF-8 bytes of `content`, `metadata_json` and the metadata × 6 + persisted HNSW edges × 160 (measured per row 1 609 at dim 64 and 2 622 at dim 128 with two entries and 25 string bytes, per entry 225, per byte 4.1 ASCII / 5.0 held as UTF-16, per edge 151 at M = 16) | ≤ 76 695 rows at dim 64 with two short entries and no HNSW graph, ≤ 48 384 at dim 128; ≤ 23 342 at dim 64 with an M = 16 graph (~25 edges per row); ≤ 9 560 at dim 64 with 2 KB of content per row |
  *
  * The snapshot's estimate costs no job either: its rows, map entries
  * and string bytes are the base and live delta files' parquet footers
  * (row counts, the metadata key chunks' value counts, the string
  * chunks' unencoded byte-array sizes) and its edges the footer row
  * counts of `hnsw_edges` — driver-side reads, memoized per file
  * stamp. Its widths are, like the twins', the peak of the hold,
  * measured as the largest live heap between back-to-back full GCs
  * while it runs (local[4], a 64-bit JVM with compressed oops). About
  * 40% of that peak stays held after it (measured 612 B per row at dim
  * 64, 880 at dim 128, 1.0–2.0 per string byte, 69 per edge), until
  * the estimate puts its store over the budget or another store's hold
  * needs the room. The held snapshots of all stores stay within one
  * [[Budget]], but a twin's collect is not charged for them: a driver
  * can hold up to twice the budget while a twin runs beside a held
  * snapshot.
  *
  * Input-type routing is the twin's own: PageRank over non-long ids
  * always runs distributed, whatever the estimate.
  *
  * The local side is the latency path for driver-sized inputs; at corpus
  * scale the estimate exceeds the budget and the distributed side runs.
  * [[forcedDistributed]] exists so that specs, probes and the oracle's
  * forced pass can run the distributed side on small inputs. */
object DriverLocal {

  /** Driver heap the local side of a twin may hold: 128 MiB. At this
    * budget every local side fits a 1 GiB driver heap (Spark's default
    * `spark.driver.memory`; measured with local[4]). */
  val Budget: Long = 1L << 27

  // a depth, not a flag, so that overlapping scopes on different
  // threads leave the switch on until the last of them exits
  private val forcedDepth = new AtomicInteger(0)

  /** Whether the local side may collect `bytes` (an estimate of its
    * collected input). False inside [[forcedDistributed]]. */
  def fits(bytes: Long): Boolean = forcedDepth.get == 0 && bytes <= Budget

  /** Runs `body` with every twin on its distributed side. The switch is
    * process-wide, not thread-local: `near_dedup`'s deferred relation
    * runs its components at execution time, and the sharded curation
    * passes run on a thread pool, both outside the calling frame. */
  private[graft] def forcedDistributed[T](body: => T): T = {
    forcedDepth.incrementAndGet()
    try body finally { forcedDepth.decrementAndGet(); () }
  }
}
