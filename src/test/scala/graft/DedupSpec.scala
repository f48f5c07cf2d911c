package graft

import graft.core.DriverLocal
import graft.operators.{Dedup, Ivf}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
      (2L, "the quick brown fox leaps over the lazy dog"),   // near dup of 0
      (3L, "completely different words about spark engines here"),
      (4L, "here words different about completely engines spark")) // permutation of 3's word set
      .toDF("doc_id", "text")
  }

  test("exact dedup groups identical content, keeps lowest id") {
    val r = Dedup.exact(docs, "doc_id", "text").collect()
    assert(r.length == 4)
    val dup = r.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
    assert(Dedup.exactKeepFirst(docs, "doc_id", "text").count() == 4)
  }

  test("minhash: identical docs have identical signatures; near dups share most") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", numHashes = 8)
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sig(0L) == sig(1L))
    val shared02 = sig(0L).zip(sig(2L)).count { case (a, b) => a == b }
    assert(shared02 >= 4, s"near-dups share only $shared02/8 minhashes")
    // with shingle=1 (word sets), a permutation has an identical signature
    val sig1 = Dedup.minhashSignature(docs, "doc_id", "text", numHashes = 8, shingle = 1)
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sig1(3L) == sig1(4L))
  }

  test("minhash LSH emits dup candidates without all-pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
    // word-set LSH (shingle=1) also pairs the permuted docs 3 and 4
    val p1 = Dedup.minhashLshPairs(docs, "doc_id", "text", 8, 4, shingle = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.contains((3L, 4L)))
  }

  test("incremental cross-corpus LSH: cross-side pairs only, re-ingested id excluded") {
    val s = spark
    import s.implicits._
    // corpus holds 0 and 3; batch brings an exact dup of 0 (id 10), a
    // near dup of 0 (id 11), an unrelated doc (id 12), and doc 0
    // re-ingested under its own id (an upsert, not a duplicate)
    val corpus = docs.filter(col("doc_id").isin(0L, 1L, 3L))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox leaps over the lazy dog"),
      (12L, "entirely unrelated content on other topics"),
      (0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(batch, corpus, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact dup pairs against both corpus copies; the near dup at least one
    assert(pairs.contains((10L, 0L)) && pairs.contains((10L, 1L)))
    assert(pairs.contains((11L, 0L)) || pairs.contains((11L, 1L)))
    // never corpus×corpus (0,1 are mutual dups but same side), never
    // batch×batch (10,11 are near dups), never the re-ingested self-id
    assert(pairs.forall { case (n, o) => Set(10L, 11L, 12L, 0L)(n) && Set(0L, 1L, 3L)(o) })
    assert(!pairs.contains((0L, 0L)))
    assert(!pairs.exists(_._1 == 12L))
    // but the re-ingested id DOES pair with the other corpus copy
    assert(pairs.contains((0L, 1L)))
  }

  test("incremental LSH bucket guard counts DISTINCT docs: a re-ingested id " +
    "at the exact maxBucket boundary does not drop the bucket") {
    val s = spark
    import s.implicits._
    // bucket holds exactly 3 DISTINCT docs: corpus {0, 1} + batch {0}
    // (re-ingested) ∪ {10}. With maxBucket = 3 the old summed-sizes
    // guard saw 2 + 2 = 4 > 3 and silently dropped every cross pair;
    // the distinct-count contract keeps them.
    val corpus = docs.filter(col("doc_id").isin(0L, 1L))
    val batch = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(batch, corpus, "doc_id", "text",
        8, 4, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 0L)) && pairs.contains((10L, 1L)) &&
      pairs.contains((0L, 1L)), s"boundary bucket dropped: $pairs")
    // and one doc beyond the boundary still trips the guard
    val guarded = Dedup.minhashLshPairsAgainst(batch, corpus, "doc_id", "text",
        8, 4, maxBucket = 2)
      .collect()
    assert(guarded.isEmpty, s"over-boundary bucket kept: ${guarded.toSeq}")
  }

  test("duplicate ids in a bucket never emit self-pairs; string ids rejected by CC") {
    val s = spark
    import s.implicits._
    // the same doc id ingested twice: buckets contain the id twice, but
    // pair outputs must stay strictly a < b (no (x,x) self-loops)
    val dup = Seq((1L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val lsh = Dedup.minhashLshPairs(dup, "doc_id", "text", 8, 4, shingle = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.forall(p => p._1 < p._2), s"self/inverted pair in $lsh")
    val jac = Dedup.ngramJaccardPairs(dup, "doc_id", "text", n = 1,
        threshold = 0.1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.forall(p => p._1 < p._2), s"self/inverted pair in $jac")
    // CC over non-integral ids must fail loudly, not collapse to node 0
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(("a", "b")).toDF("a", "b"))
    }
    // ...but exact-integer decimal keys (warehouse bigint readbacks) work
    val decPairs = Seq((1L, 2L)).toDF("a", "b")
      .select(col("a").cast("decimal(18,0)").as("a"),
        col("b").cast("decimal(18,0)").as("b"))
    assert(Dedup.connectedComponents(decPairs).count() == 2)
  }

  test("re-ingested id with DIFFERENT payload never self-pairs; sizes not inflated") {
    val s = spark
    import s.implicits._
    // same id, two text versions: the (id, sz) structs differ, so
    // array_distinct alone would let them self-pair
    val versioned = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta zeta"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(versioned, "doc_id", "text", n = 1,
        threshold = 0.1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.forall(p => p._1 < p._2), s"self-pair leaked: ${jac.toSeq}")
    // identical-text duplicate under the maxDocFreq-guarded path must
    // not double the recomputed set size (which would halve jaccard)
    val dupTwice = Seq(
      (1L, "a b c d e f"), (1L, "a b c d e f"), (2L, "a b c d e x"))
      .toDF("doc_id", "text")
    val once = Seq((1L, "a b c d e f"), (2L, "a b c d e x"))
      .toDF("doc_id", "text")
    def j(df: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 1, threshold = 0.1,
          maxDocFreq = 1000)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j(dupTwice) == j(once),
      "duplicate ingestion changed jaccard values under the guarded path")
    // LSH cosine path: re-ingested id with a shifted embedding
    val emb = Seq(
      (5L, Seq(1f, 0f, 0.5f, 0.2f)), (5L, Seq(1f, 0.01f, 0.5f, 0.2f)),
      (6L, Seq(1f, 0f, 0.5f, 0.21f))).toDF("id", "embedding")
    val model = graft.operators.Lsh.fitBanded(dim = 4, bitsPerTable = 2,
      nTables = 8)
    val pairs = graft.operators.Lsh.cosineNearDupPairs(
        graft.operators.Lsh.assign(emb, "embedding", model), "id",
        "embedding", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall(p => p._1 != p._2), s"LSH self-pair leaked: ${pairs.toSeq}")
  }

  test("simhash: identical → distance 0; near dup closer than unrelated") {
    val sh = Dedup.simhash(docs, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val s = spark
    import s.implicits._
    val dists = Seq((sh(0L), sh(2L), "near"), (sh(0L), sh(3L), "far"))
      .toDF("a", "b", "kind")
      .select(col("kind"), Dedup.hammingDistance(col("a"), col("b")).as("d"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dists("near") < dists("far"))
  }

  test("simhashMd5Hex: 16-hex fingerprint; identical docs identical; near closer than far") {
    val sh = Dedup.simhashMd5Hex(docs, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh.values.forall(v => v.length == 16 && v.forall("0123456789abcdef".contains(_))))
    assert(sh(0L) == sh(1L))
    def hamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        java.lang.Integer.bitCount(Integer.parseInt(x.toString, 16) ^
          Integer.parseInt(y.toString, 16))
      }.sum
    assert(hamming(sh(0L), sh(2L)) < hamming(sh(0L), sh(3L)))
  }

  test("simhashWeighted: tf weighting makes a repeated token dominate") {
    val s = spark
    import s.implicits._
    // doc 1: 'alpha' ×50 + 8 distinct others; doc 2: 'alpha' ×1 + the
    // same 8 others; doc 3: pure 'alpha'
    val others = (1 to 8).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, (Seq.fill(50)("alpha") :+ others).mkString(" ")),
      (2L, s"alpha $others"),
      (3L, "alpha")).toDF("doc_id", "text")
    def hx(m: Map[Long, String], a: Long, b: Long): Int =
      m(a).zip(m(b)).map { case (x, y) =>
        java.lang.Integer.bitCount(Integer.parseInt(x.toString, 16) ^
          Integer.parseInt(y.toString, 16)) }.sum
    val w = Dedup.simhashWeightedMd5Hex(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    val u = Dedup.simhashMd5Hex(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    // under the SET variant docs 1 and 2 are identical (same vocab)
    assert(u(1L) == u(2L))
    // under tf weighting, doc 1 collapses onto pure-'alpha' doc 3
    // (50 votes drown the 8 singletons) while doc 2 stays apart
    assert(w(1L) == w(3L))
    assert(hx(w, 1L, 2L) > 0)
  }

  test("ngram jaccard finds overlapping pairs above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p == ((0L, 3L))))
    val j01 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .filter(col("a") === 0 && col("b") === 1).select("jaccard").head.getDouble(0)
    assert(j01 == 1.0)
  }

  test("zero-norm embeddings never pair as near-dups (NaN guard)") {
    val data = corpus(10, 4) :+ (99L, Array(0f, 0f, 0f, 0f))
    val pairs = Dedup.cosineNearDupPairs(toDF(data), "id", "embedding", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("exactKeepFirst passes null-text rows through instead of deduping them") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, Option("same")), (1L, Option("same")),
      (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val kept = Dedup.exactKeepFirst(d, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L)) // dup text collapsed, null rows both kept
  }

  test("ngram jaccard maxDocFreq removes common grams from both sides of the ratio") {
    val s = spark
    import s.implicits._
    // "x" appears in every doc; with maxDocFreq=2 it leaves the universe
    // and docs 0/1 become identical over their remaining grams
    val d = Seq((0L, "x a b"), (1L, "x a b"), (2L, "x c d"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 1,
        threshold = 0.99, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
    // capped run is a subset-or-equal of the exact run at any threshold
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 1, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 1L)))
  }

  test("scale guards bound degenerate buckets by default (planted-degenerate probe)") {
    val s = spark
    import s.implicits._
    // 400 byte-identical boilerplate docs — every band bucket and every
    // gram posting list is degenerate — plus one genuine near-dup pair.
    // The guards must drop the degenerate region (0 pairs from it, not
    // C(400,2) ≈ 80k) while the honest pair still comes through.
    val boiler = (100L until 500L).map(i => (i, "lorem ipsum dolor sit amet boilerplate"))
    val d = (Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota")) ++ boiler)
      .toDF("doc_id", "text")
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text",
        numHashes = 8, bands = 4, shingle = 3, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.exists { case (a, b) => a >= 100L && b >= 100L },
      "degenerate bucket must be dropped, not exploded")
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, threshold = 0.3, maxDocFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == Set((0L, 1L)),
      s"expected only the honest pair over the guarded universe, got $jac")
    // exhaustive opt-in still explodes (the oracle-run setting)
    val full = Dedup.minhashLshPairs(d, "doc_id", "text",
      numHashes = 8, bands = 4, shingle = 3, maxBucket = Int.MaxValue).count()
    assert(full >= 400L * 399 / 2)
  }

  test("cosine near-dup: identical vectors pair at sim 1; bucketed matches brute within cluster") {
    val data = corpus(40, 8)
    val withDup = data :+ (100L, data.head._2.clone())
    val df = toDF(withDup)
    val brute = Dedup.cosineNearDupPairs(df, "id", "embedding", 0.9999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((0L, 100L)))
    val (assigned, _) = Ivf.build(df, "embedding", 4)
    val bucketed = Dedup.cosineNearDupBucketed(assigned, "id", "embedding", 0.9999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.contains((0L, 100L))) // same vector ⇒ same cluster
  }

  test("semDedup removes all but the least-prototypical member per component") {
    val s = spark
    import s.implicits._
    // two fixed unit centroids on axes 0 and 1; a 3-clique of near-dups
    // near centroid 0 (graded distance from it), a pair near centroid 1,
    // and a singleton — the keeper must be the member with the LOWEST
    // cosine to its centroid (ids chosen so min-id would pick wrongly)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val model = Ivf.Model(Array(v(1, 0, 0, 0), v(0, 1, 0, 0)), "embedding")
    val df = Seq(
      (1L, v(1, 0.01, 0, 0)),     // most prototypical of the clique
      (2L, v(1, 0.02, 0, 0)),
      (3L, v(1, 0.06, 0, 0)),     // farthest from centroid → the keeper
      (10L, v(0.05, 1, 0, 0)),    // farther from centroid 1 → the keeper
      (11L, v(0.02, 1, 0, 0)),    // closer to centroid → removed
      (20L, v(0, 0, 1, 0)))       // singleton: untouched
      .toDF("id", "embedding")
    val removed = Dedup.semDedup(df, "id", "embedding", model, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(removed.keySet == Set(1L, 2L, 11L))
    assert(removed(1L) == 3L && removed(2L) == 3L) // keeper of the clique
    assert(removed(11L) == 10L)                    // keeper of the pair
  }

  test("semDedup pairs only within clusters (the paper's recall trade)") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val model = Ivf.Model(Array(v(1, 0, 0, 0), v(1, 0.12, 0, 0)), "embedding")
    // near-identical vectors that straddle the centroid boundary: each
    // lands in a different cluster, so no within-cluster pair exists
    val df = Seq((1L, v(1, 0.055, 0, 0)), (2L, v(1, 0.065, 0, 0)))
      .toDF("id", "embedding")
    assert(Dedup.semDedup(df, "id", "embedding", model, 0.9).count() == 0L)
  }

  test("semDedupAuto sizes k from the corpus and matches a manual build") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // 40 spread vectors + one planted near-dup pair; n=42 → k floors at 16
    val spread = (0 until 40).map { i =>
      val a = i * 0.157
      (100L + i, v(math.cos(a), math.sin(a), (i % 7) * 0.1, 1.0))
    }
    val df = (spread ++ Seq((1L, v(1, 0.01, 0, 0)), (2L, v(1, 0.012, 0, 0))))
      .toDF("id", "embedding")
    val (removed, model) = Dedup.semDedupAuto(df, "id", "embedding",
      threshold = 0.999, minK = 16)
    assert(model.centroids.length == 16) // floor: max(16, 42/1000)
    // result ≡ plain semDedup under the returned model (auto-k is
    // sizing + build only, not a different operator)
    val manual = Dedup.semDedup(df, "id", "embedding", model, 0.999)
    assert(removed.collect().toSet == manual.collect().toSet)
    // the planted pair is caught iff co-clustered — with near-identical
    // vectors the assignment argmin agrees, so exactly one is removed
    val rem = removed.collect().map(_.getLong(0)).toSet
    assert(rem.size == 1 && (rem == Set(1L) || rem == Set(2L)))
    // paper sizing engages above the floor: 32k docs/1k → k = 32
    val big = (0 until 32000).map(i =>
      (i.toLong, v((i % 61) * 0.03, (i % 53) * 0.04, 1.0, 0.5)))
      .toDF("id", "embedding")
    val (_, bigModel) = Dedup.semDedupAuto(big, "id", "embedding",
      threshold = 0.9999999, maxIter = 2)
    assert(bigModel.centroids.length == 32)
  }

  test("connected components: chains close transitively, min id is canonical") {
    val s = spark
    import s.implicits._
    // two components: a 4-node chain 7-3-9-5 (min 3) and a triangle
    // 10-11-12 with a pendant 13 (min 10); 2 is isolated (not in pairs)
    val pairs = Seq((7L, 3L), (3L, 9L), (9L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 9L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
    // the distributed loop (forced past the small-graph shortcut)
    // produces the identical labeling
    val dist = DriverLocal.forcedDistributed(
      Dedup.connectedComponents(pairs).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == comp)
  }

  test("keepCanonical drops non-representative members, keeps everything else") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
    val df = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val kept = Dedup.keepCanonical(df, "doc_id", comp)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L)) // 2,3 lose to canonical 1; 4 untouched
  }

  test("keepBestInCluster keeps the highest-scored member, ties go to min id") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
    val df = Seq((1L, 0.2), (2L, 0.9), (3L, 0.4),   // cluster {1,2,3}: 2 wins
      (5L, 0.7), (6L, 0.7),                          // cluster {5,6}: tie → 5
      (4L, 0.1))                                     // unclustered survives
      .toDF("doc_id", "quality")
    val kept = Dedup.keepBestInCluster(df, "doc_id", "quality", comp)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L, 4L))
  }

  test("connected components: an 80-node path closes in O(log n) rounds") {
    val s = spark
    import s.implicits._
    // worst case for one-hop propagation (diameter 79 > default maxIter);
    // force the distributed path — the log-round contract is its subject
    val chain = (0L until 79L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = DriverLocal.forcedDistributed(
      Dedup.connectedComponents(chain).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 80 && comp.values.forall(_ == 0L))
  }

  test("connected components: a 10k-node path (diameter 9999) converges within default maxIter") {
    val s = spark
    import s.implicits._
    // the boilerplate/pagination chain shape at corpus scale: one-hop
    // min-label alone needs diameter rounds (9999 ≫ the default
    // budget); star-contraction alternations roughly double the
    // contracted distance per round, so this must close in
    // ~⌈log2(10001)⌉ ≈ 14 alternations — inside the default budget
    // with margin, no maxIter override
    val n = 10000L
    val chain = s.range(n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val comp = DriverLocal.forcedDistributed(Dedup.connectedComponents(chain))
    assert(comp.filter(col("comp") =!= 0L).count() == 0L,
      "every chain node must label to the minimum id 0")
    assert(comp.count() == n)
    assert(Dedup.lastCcIterations <= 16,
      s"diameter 9999 took ${Dedup.lastCcIterations} rounds — halving " +
        "should close it in ~14")
  }

  test("star-contraction CC equals driver union-find on random graphs") {
    val s = spark
    import s.implicits._
    // seeded random graphs across shapes the pair generators emit:
    // sparse forests, clique-ish dup clusters, and a mixed batch with
    // self-pairs — the distributed path must agree with ccLocal row
    // for row (min-id labels are algorithm-independent)
    val rnd = new scala.util.Random(1234L)
    for (trial <- 0 until 3) {
      val n = 120 + trial * 40
      val pairs = (0 until (n * 2)).map { _ =>
        val shape = rnd.nextInt(3)
        val a = rnd.nextInt(n).toLong
        val b = shape match {
          case 0 => rnd.nextInt(n).toLong           // uniform
          case 1 => math.min(a + 1 + rnd.nextInt(3), n - 1).toLong // chainy
          case 2 => (a / 10) * 10L                  // clique-ish hubs
        }
        (a, b)
      } :+ ((n - 1).toLong, (n - 1).toLong) // one self-pair
      val df = pairs.toDF("a", "b")
      val dist = DriverLocal.forcedDistributed(
        Dedup.connectedComponents(df).collect()).map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val local = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      assert(dist.toSeq == local.toSeq,
        s"trial $trial: distributed star-contraction diverged from union-find")
    }
  }

  test("boilerplateRemove drops cross-doc repeated segments, preserves order") {
    val s = spark
    import s.implicits._
    // "COOKIE NOTICE" appears in 3 docs, "nav|bar" in 2; prose is unique.
    // One doc repeats a unique line twice (repetition != boilerplate).
    val lined = Seq(
      (0L, "COOKIE NOTICE\nreal prose alpha\nnav|bar"),
      (1L, "nav|bar\nCOOKIE NOTICE\nsecond doc body"),
      (2L, "COOKIE NOTICE"),                        // all boilerplate
      (3L, "self repeated line\nself repeated line"),
      (4L, null.asInstanceOf[String]))              // null text survives
      .toDF("doc_id", "text")
    val r = Dedup.boilerplateRemove(lined, "doc_id", "text",
        delim = "\n", minDocFreq = 2L)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(0L) == (("real prose alpha", 1L, 2L)))
    assert(r(1L) == (("second doc body", 1L, 2L)))
    assert(r(2L) == (("", 0L, 1L)))
    // a line repeated within ONE doc is kept both times, in order
    assert(r(3L) == (("self repeated line\nself repeated line", 2L, 0L)))
    assert(r(4L) == (("", 0L, 0L)))
    assert(r.size == 5)
  }

  test("boilerplateRemove: regex metacharacters in delim are literal") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "a.b.a"), (1L, "a.c.a")).toDF("doc_id", "text")
    val r = Dedup.boilerplateRemove(df, "doc_id", "text", delim = ".",
        minDocFreq = 2L)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(0L -> "b", 1L -> "c")) // "a" boilerplate; "." not a wildcard
  }

  test("editDistancePairs: candidate screen + exact gate, distance cut honored") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = Seq(
      (0L, base),
      (1L, base.replace("quick", "quack")),       // 1 substitution -> dist 1
      (2L, base.replace("river bank", "ocean pier xyzzy")), // bigger edit
      (3L, "completely different content with no shared trigrams at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 3,
        candidateThreshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1L)),
      s"expected only the 1-edit pair, got ${pairs.toSeq}")
    // widening the gate admits the larger rewrite pair too
    val wide = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 20,
        candidateThreshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((0L, 2L)) && wide.contains((0L, 1L)))
    assert(!wide.exists(p => p._1 == 3L || p._2 == 3L),
      "doc with no shared grams must never become a candidate")
    // short text with a mid-word typo: WORD shingles would never screen
    // this in (the typo perturbs every 3-word shingle); character grams must
    val short = Seq((10L, "alpha beta gamma"), (11L, "alpha betta gamma"))
      .toDF("doc_id", "text")
    val sp = Dedup.editDistancePairs(short, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sp.toSeq == Seq((10L, 11L, 1L)),
      s"1-char typo in a short text must survive the screen, got ${sp.toSeq}")
    // re-ingested identical row must not inflate kept-set sizes (the
    // jaccard screen would silently drop the pair) or emit self-pairs
    val dup = short.union(Seq((10L, "alpha beta gamma")).toDF("doc_id", "text"))
    val dp = Dedup.editDistancePairs(dup, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dp.toSeq == Seq((10L, 11L, 1L)),
      s"duplicate ingestion changed edit-distance pairs: ${dp.toSeq}")
  }

  test("winnowing: shared-passage guarantee, exclusion, short docs, kernel == declarative mirror") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val passage = "the quick brown fox jumps over the lazy dog near the riverbank"
    val docs = Seq(
      (1L, s"AAAA unrelated prefix text $passage and an unrelated tail one"),
      (2L, s"completely different opening words here $passage closing words"),
      (3L, "this document shares no long passage with any of the others at all"),
      (4L, "tiny")).toDF("doc_id", "text")
    val g = 20
    val w = 8
    // guarantee: docs 1,2 share a passage of length 63 >= w+g-1 = 27
    val pairs = Dedup.sharedPassagePairs(docs, "doc_id", "text", g, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"shared passage missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"doc without a shared $g-gram must not pair: $pairs")

    // kernel == the declarative mirror the DuckDB oracle spells
    val texts = Seq("", "shorter than gram", passage,
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "héllo wörld " * 5 + "日本語テキスト")
    val tdf = texts.toDF("t").select(lower(col("t")).as("t"))
    val kernel = tdf.select(graft.expressions.TextKernels
        .winnowFingerprints(col("t"), g, w).as("f"))
      .collect().map(_.getSeq[String](0).toSet)
    val hs = when(length(col("t")) >= g,
      transform(sequence(lit(1), length(col("t")) - (g - 1)),
        i => md5(col("t").substr(i, lit(g)))))
      .otherwise(array().cast("array<string>"))
    val decl = tdf.select(hs.as("hs"))
      .select(when(size(col("hs")) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
          j => array_min(slice(col("hs"), j, lit(w))))).as("sel"))
      .select(array_distinct(col("sel")).as("f"))
      .collect().map(_.getSeq[String](0).toSet)
    kernel.zip(decl).zipWithIndex.foreach { case ((k, d), ix) =>
      assert(k == d, s"text ${ix}: kernel $k != declarative $d")
    }
  }

  test("CharGrams kernel == declarative sequence/transform/substr form") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // edge cases: empty, shorter than n, exactly n, repeats (distinct),
    // multi-byte UTF-8 (char positions, not bytes), whitespace
    val texts = Seq("", "ab", "abcde", "aaaaaaaa", "héllo wörld däta",
      "日本語のテキスト", "a b c d e f", "ababababab")
    val df = texts.toDF("t").select(lower(col("t")).as("t"))
    for (n <- Seq(2, 3, 5)) {
      val kernel = df.select(
          graft.expressions.TextKernels.charGrams(col("t"), n).as("g"))
        .collect().map(_.getSeq[String](0))
      val decl = df.select(array_distinct(transform(
          sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
          i => col("t").substr(i, lit(n)))).as("g"))
        .collect().map(_.getSeq[String](0))
      // sets must agree AND sizes must agree (sz feeds jaccard)
      kernel.zip(decl).zipWithIndex.foreach { case ((k, d), ix) =>
        assert(k.toSet == d.toSet && k.size == d.size,
          s"n=$n text='${texts(ix)}': kernel=$k declarative=$d")
      }
    }
  }

  test("hammingNearDupPairs: banded screen recovers the exact brute-force pair set") {
    val s = spark
    import s.implicits._
    // deterministic 56-bit hashes: 120 random + planted near-dups at
    // exact distances 0..4 off hash 0 (4 must be EXCLUDED at maxDist 3)
    val rnd = new java.util.Random(20260813L)
    val base = Array.fill(120)(rnd.nextLong() & ((1L << 56) - 1))
    def flip(h: Long, k: Int): Long = {
      var out = h
      var flipped = 0
      var bit = 0
      while (flipped < k) { // flip the k lowest distinct bits
        out ^= 1L << bit; flipped += 1; bit += 1
      }
      out
    }
    val planted = (0 to 4).map(d => (1000L + d, flip(base(0), d)))
    val all = base.zipWithIndex.map { case (h, i) => (i.toLong, h) } ++ planted
    val df = all.toSeq.toDF("id", "h")
    val got = graft.operators.Dedup
      .hammingNearDupPairs(df, "id", "h", maxDist = 3, hashBits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.exists(_._3 == 3L), "fixture must exercise the boundary distance")
    // the distance-4 plant must not pair with its origin (distance 4 > 3)
    // — though it legitimately pairs with nearer plants (e.g. 1001 at 3)
    assert(!got.exists { case (a, b, _) => a == 0L && b == 1004L },
      "distance-4 plant must not pair with its origin")
    // null hashes are ignored, not pair-generating
    val withNull = df.union(Seq((9999L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "h"))
    assert(graft.operators.Dedup
      .hammingNearDupPairs(withNull, "id", "h", 3, 56)
      .filter($"a" === 9999L || $"b" === 9999L).count() == 0)
    // degenerate bucket guard: a constant-hash corpus exceeds maxBucket
    // and is dropped rather than exploding quadratically
    val const = (0L until 50L).map((_, 42L)).toDF("id", "h")
    assert(graft.operators.Dedup
      .hammingNearDupPairs(const, "id", "h", 3, 56, maxBucket = 49).count() == 0)
    intercept[IllegalArgumentException] { // blocks must out-number maxDist
      graft.operators.Dedup.hammingNearDupPairs(df, "id", "h", 4, 56, nBlocks = 4)
    }
    intercept[IllegalArgumentException] { // equal-width blocks only
      graft.operators.Dedup.hammingNearDupPairs(df, "id", "h", 3, 56, nBlocks = 5)
    }
    // the corpus-scale construction (8 blocks → C(8,5)=56 tables keyed
    // on 35 bits) must recover the identical pair set — completeness is
    // invariant in nBlocks, only bucket sparsity changes
    val gotWide = graft.operators.Dedup
      .hammingNearDupPairs(df, "id", "h", maxDist = 3, hashBits = 56, nBlocks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotWide == want)
    // an id ingested twice with different payloads: ONE row per (a, b)
    // pair at the MIN distance, never two rows at two distances
    val dupPayload = Seq((5L, base(0)), (5L, flip(base(0), 2)), (6L, base(0)))
      .toDF("id", "h")
    val dupRows = graft.operators.Dedup
      .hammingNearDupPairs(dupPayload, "id", "h", 3, 56)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dupRows.toSeq == Seq((5L, 6L, 0L)), s"got ${dupRows.toSeq}")

    // sharded screen (bucket-key-range passes, eagerly materialized):
    // pair-for-pair identical to the unsharded screen, at 1 and at a
    // shard count far above the bucket count (empty shards are fine)
    for (nShards <- Seq(1, 3, 7)) {
      val dir = java.nio.file.Files.createTempDirectory("hshard").toString
      val gotSharded = graft.operators.Dedup
        .hammingNearDupPairsSharded(df, "id", "h", maxDist = 3, hashBits = 56,
          shards = nShards, spillDir = dir, nBlocks = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotSharded == want, s"shards=$nShards diverged from unsharded")
    }
  }

  test("hammingNearDupPairsAgainst: cross-side pairs only, re-ingested id excluded") {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(20260814L)
    val base = Array.fill(80)(rnd.nextLong() & ((1L << 56) - 1))
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    def flip(h: Long, bits: Int*) = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    val batch = Seq((1000L, flip(base(0)._2, 5)),          // d=1 to corpus id 0
      (1001L, flip(base(7)._2, 1, 9, 20)),                  // d=3 to corpus id 7
      (1002L, flip(base(9)._2, 1, 9, 20, 33)),              // d=4 — excluded
      (9L, base(9)._2))                                     // re-ingested id
    val corpusDf = base.toSeq.toDF("id", "h")
    val batchDf = batch.toDF("id", "h")
    val got = graft.operators.Dedup
      .hammingNearDupPairsAgainst(batchDf, corpusDf, "id", "h",
        maxDist = 3, hashBits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (nid, nh) <- batch; (oid, oh) <- base.toSeq if nid != oid
      d = java.lang.Long.bitCount(nh ^ oh) if d <= 3
    } yield (nid, oid, d.toLong)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1000L, 0L, 1L)) && want.contains((1001L, 7L, 3L)))
    assert(!got.exists(_._1 == 1002L), "distance-4 batch row must not pair")
    assert(!got.exists { case (n, o, _) => n == 9L && o == 9L },
      "re-ingested id must not self-pair")
    // corpus-internal near-dups are NOT this operator's job
    assert(got.forall { case (n, _, _) => batch.exists(_._1 == n) })
  }

  test("BoundedDistinctIdsAgg: hybrid buffer ≡ reference distinct set at " +
      "every cap regime; poison at exactly cap+1 distinct; adversarial ids") {
    def runFold(agg: graft.operators.Dedup.BoundedDistinctIdsAgg,
                ids: Seq[Long]): Array[Long] =
      agg.finish(ids.foldLeft(agg.zero)(agg.reduce))
    // small cap (sorted-array regime): duplicates never poison, the
    // cap+1-th DISTINCT does
    val a5 = new graft.operators.Dedup.BoundedDistinctIdsAgg(5)
    assert(runFold(a5, Seq(3L, 1L, 3L, 1L, 2L)).toSeq == Seq(1L, 2L, 3L))
    assert(runFold(a5, (1L to 5L) ++ (1L to 5L)).toSeq == (1L to 5L))
    assert(runFold(a5, 1L to 6L) == null, "6th distinct must poison cap=5")
    // adversarial ids: -1 (the poison marker value) and Long.MinValue
    // (the table's empty sentinel) are legal ids
    assert(runFold(a5, Seq(-1L)).toSeq == Seq(-1L))
    assert(runFold(a5, Seq(Long.MinValue, -1L, 0L)).toSeq ==
      Seq(Long.MinValue, -1L, 0L))
    // large cap (table regime, exercised past SmallN=64): equals the
    // reference Set, ascending, across the representation switch
    val rnd = new scala.util.Random(42)
    val big = new graft.operators.Dedup.BoundedDistinctIdsAgg(500)
    val ids = Seq.fill(3000)(rnd.nextLong() % 200L) ++ // ≤ 399 distinct
      Seq(Long.MinValue, Long.MinValue, -1L)
    assert(runFold(big, ids).toSeq == ids.distinct.sorted)
    assert(runFold(big, (1L to 500L)).toSeq == (1L to 500L))
    assert(runFold(big, (1L to 501L)) == null, "501st distinct, cap=500")
    // merge across representations and partial splits: any split of the
    // stream merges to the same result as the single fold
    val all = Seq.fill(900)(rnd.nextLong() % 300L) ++
      Seq(Long.MinValue, -1L, 0L, 1L)
    val whole = runFold(big, all)
    Seq(1, 17, 450, 899).foreach { cut =>
      val (l, r) = all.splitAt(cut)
      val m = big.merge(l.foldLeft(big.zero)(big.reduce),
        r.foldLeft(big.zero)(big.reduce))
      assert(big.finish(m).toSeq == whole.toSeq, s"merge diverged at cut $cut")
    }
    // merging a poisoned partial poisons the result
    val poisoned = (1L to 501L).foldLeft(big.zero)(big.reduce)
    assert(big.finish(big.merge(poisoned, big.reduce(big.zero, 7L))) == null)
    assert(big.finish(big.merge(big.reduce(big.zero, 7L), poisoned)) == null)
  }
}
