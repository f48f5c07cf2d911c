package graft

import graft.operators.Bloom
import org.apache.spark.sql.functions._

class BloomSpec extends SparkSpec {

  private def keys(n: Int, offset: Long = 0L) = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map(i => s"key-${i + offset}").toDF("k")
  }

  test("no false negatives: every inserted key passes the screen") {
    val df = keys(5000)
    val model = Bloom.fit(df, col("k"), expectedKeys = 5000, fpp = 0.01)
    val misses = df.filter(!Bloom.mightContain(col("k"), model)).count()
    assert(misses == 0, s"$misses inserted keys screened out")
  }

  test("false positive rate near the sizing target") {
    val model = Bloom.fit(keys(5000), col("k"), expectedKeys = 5000, fpp = 0.01)
    // 20k keys disjoint from the inserted 5k
    val probes = keys(20000, offset = 1000000L)
    val fp = probes.filter(Bloom.mightContain(col("k"), model)).count()
    val rate = fp.toDouble / 20000
    assert(rate < 0.03, s"fpr $rate vs target 0.01") // 3x slack for hash variance
  }

  test("bitmap is partitioning-invariant and merge ≡ fit-over-union") {
    val a = keys(2000)
    val b = keys(2000, offset = 5000L)
    def fit(df: org.apache.spark.sql.DataFrame) =
      Bloom.fit(df, col("k"), expectedKeys = 4000, fpp = 0.05)
    val one = fit(a.union(b))
    val repart = fit(a.union(b).repartition(17))
    assert(java.util.Arrays.equals(one.bits, repart.bits),
      "bitmap depends on partitioning")
    val merged = Bloom.merge(fit(a), fit(b))
    assert(java.util.Arrays.equals(one.bits, merged.bits),
      "merge(fit(a), fit(b)) != fit(a union b)")
    assert(merged.numHashes == one.numHashes)
  }

  test("subtractByKey ≡ exact anti-join, even with a tiny saturated bitmap") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 3000L).map(i => (i, s"key-${i % 700}")).toDF("id", "k")
    val blocklist = (0L until 700L by 3L).map(i => s"key-$i").toDF("bk")
    val exact = corpus.join(blocklist, corpus("k") === blocklist("bk"), "left_anti")
      .select("id").as[Long].collect().sorted
    // honest sizing
    val got = Bloom.subtractByKey(corpus, col("k"), blocklist, col("bk"),
        expectedKeys = 300, fpp = 0.01)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == exact.toSeq)
    // pathological sizing: 64-bit bitmap saturates -> everything is a
    // screen positive -> verify join still restores exactness
    val gotSat = Bloom.subtractByKey(corpus, col("k"), blocklist, col("bk"),
        expectedKeys = 1, fpp = 0.5)
      .select("id").as[Long].collect().sorted
    assert(gotSat.toSeq == exact.toSeq, "saturated bitmap changed semantics")
  }

  test("null corpus keys are kept (anti-join semantics); null blocklist keys ignored") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, Option("a")), (2L, None), (3L, Option("b")))
      .toDF("id", "k")
    val blocklist = Seq(Option("a"), None).toDF("bk")
    val got = Bloom.subtractByKey(corpus, col("k"), blocklist, col("bk"),
        expectedKeys = 2, fpp = 0.01)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("subtractByKey construction costs only the bitmap build — sizing is estimate-only, no extra job") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 500L).map(i => (i, s"k-$i")).toDF("id", "k")
    val blocklist = (0L until 500L by 5L).map(i => s"k-$i").toDF("bk")
    // counted by a listener: the status tracker's job list is trimmed
    // once the session has retained spark.ui.retainedJobs jobs, so a
    // difference of its lengths can fall negative mid-suite
    val fitJobs = jobsOf {
      Bloom.fit(blocklist, col("bk"), expectedKeys = 1 << 12, fpp = 0.01); ()
    } // AQE may split the fold into >1 job
    assert(fitJobs >= 1, "fit ran no job?")
    // plan construction: the ONLY action is the internal fit() — an
    // eager sizing count() over either table would add jobs here
    val constructionJobs = jobsOf {
      Bloom.subtractByKey(corpus, col("k"), blocklist, col("bk"),
        expectedKeys = 1 << 12, fpp = 0.01); ()
    }
    assert(constructionJobs == fitJobs,
      s"subtractByKey construction ran $constructionJobs jobs vs $fitJobs for fit alone — extra sizing job?")
  }

  test("sizing: monotone in keys and fpp, sane minima") {
    val (w1, k1) = Bloom.sizing(1000, 0.01)
    val (w2, _) = Bloom.sizing(10000, 0.01)
    val (w3, k3) = Bloom.sizing(1000, 0.0001)
    assert(w2 > w1 && w3 > w1)
    assert(k1 >= 1 && k3 > k1) // lower fpp -> more hashes
    intercept[IllegalArgumentException](Bloom.sizing(0, 0.01))
    intercept[IllegalArgumentException](Bloom.sizing(10, 1.5))
  }
}
