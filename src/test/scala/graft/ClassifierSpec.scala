package graft

import graft.core.DriverLocal
import graft.functions.TextFunctions
import graft.operators.Classifier
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {

  // separable toy task: positive docs speak "good fresh clean", negative
  // docs speak "spam junk noise" — a hashed linear model must separate
  // them from unigram evidence alone
  private def corpus = {
    val s = spark
    import s.implicits._
    val pos = Seq("good fresh clean text", "fresh clean good words",
      "clean good fresh lines", "good good fresh clean")
    val neg = Seq("spam junk noise blob", "junk noise spam blob",
      "noise spam junk blob", "spam spam junk noise")
    (pos.map((_, 1.0)) ++ neg.map((_, 0.0))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("id", "text", "y")
  }

  test("training separates a linearly separable corpus") {
    val df = corpus
    val m = Classifier.train(df, "id", "text", col("y"),
      dim = 64, iters = 20, lr = 0.5)
    val scored = df.select(col("y"),
        TextFunctions.hashedLinearLogit(col("text"), 64,
          m.weights.toSeq, m.bias).as("logit"))
      .collect()
    scored.foreach { r =>
      val (y, logit) = (r.getDouble(0), r.getDouble(1))
      assert((logit > 0) == (y > 0.5),
        s"logit $logit misclassifies label $y")
    }
  }

  test("training is deterministic and partition-invariant") {
    val a = Classifier.train(corpus.repartition(1), "id", "text", col("y"),
      dim = 32, iters = 5, lr = 0.5)
    val b = Classifier.train(corpus.repartition(7), "id", "text", col("y"),
      dim = 32, iters = 5, lr = 0.5)
    assert(a.weights.toSeq == b.weights.toSeq && a.bias == b.bias)
  }

  test("local GD fast path ≡ distributed loop, bit for bit") {
    val s = spark
    import s.implicits._
    // a larger, messier corpus than the separable toy: empty and null
    // texts (bias-only docs), repeated tokens, mixed labels
    val rnd = new scala.util.Random(77L)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0 until 300).map { i =>
      val t =
        if (i % 97 == 0) null
        else if (i % 53 == 0) ""
        else Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.length)))
          .mkString(" ")
      (i.toLong, t, (i % 3 == 0).toString)
    }.toDF("id", "text", "lab")
    // the forcing scope runs the distributed window loop; the default
    // takes the driver-local iterations — weights must agree bit for
    // bit (raw double bits), the PageRank local/distributed discipline
    val dist = DriverLocal.forcedDistributed(
      Classifier.train(docs, "id", "text", col("lab") === "true",
        dim = 16, iters = 4, lr = 0.5))
    val loc = Classifier.train(docs, "id", "text", col("lab") === "true",
      dim = 16, iters = 4, lr = 0.5)
    assert(loc.dim == dist.dim)
    assert(java.lang.Double.doubleToRawLongBits(loc.bias) ==
      java.lang.Double.doubleToRawLongBits(dist.bias))
    loc.weights.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(loc.weights(i)) ==
        java.lang.Double.doubleToRawLongBits(dist.weights(i)),
        s"weight $i: local ${loc.weights(i)} vs dist ${dist.weights(i)}")
    }
  }

  test("iterating reduces full-batch error on the training set") {
    val df = corpus
    def meanAbsErr(iters: Int): Double = {
      val m = Classifier.train(df, "id", "text", col("y"),
        dim = 64, iters = iters, lr = 0.5)
      df.select(col("y"),
          TextFunctions.hashedLinearLogit(col("text"), 64,
            m.weights.toSeq, m.bias).as("z"))
        .select(abs(greatest(lit(0.0), least(lit(1.0),
          lit(0.5) + col("z") * lit(0.25))) - col("y")).as("ae"))
        .agg(avg("ae")).head.getDouble(0)
    }
    val e1 = meanAbsErr(1)
    val e10 = meanAbsErr(10)
    assert(e10 < e1, s"error did not improve: $e1 -> $e10")
  }

  test("weight table shape: dim weights + bias at idx=dim") {
    val s = spark
    val m = Classifier.train(corpus, "id", "text", col("y"),
      dim = 16, iters = 2, lr = 0.5)
    val rows = m.toDF(s).orderBy("idx").collect()
    assert(rows.length == 17)
    assert(rows.map(_.getLong(0)).toSeq == (0L to 16L))
    assert(rows.last.getDouble(1) == m.bias)
  }

  test("save/load: exact round-trip; missing and malformed models hard-error") {
    val s = spark
    import s.implicits._
    val m = Classifier.train(corpus, "id", "text", col("y"),
      dim = 16, iters = 3, lr = 0.5)
    val path = java.nio.file.Files.createTempDirectory("clf").toString + "/m"
    Classifier.save(s, m, path)
    val back = Classifier.load(s, path)
    // bit-exact: doubles round-trip parquet unchanged, so stored-model
    // scoring ≡ fresh-model scoring
    assert(back.dim == m.dim)
    assert(back.bias == m.bias)
    assert(back.weights.toSeq == m.weights.toSeq)
    // re-publish replaces (the snapshot protocol), never appends
    Classifier.save(s, back, path)
    assert(Classifier.load(s, path).weights.toSeq == m.weights.toSeq)
    intercept[java.util.NoSuchElementException] {
      Classifier.load(s, path + "_nowhere")
    }
    // malformed: non-contiguous idx
    graft.core.SnapshotIO.publish(
      Seq((0L, 0.1), (2L, 0.2)).toDF("idx", "w"), path + "_bad")
    intercept[IllegalArgumentException] {
      Classifier.load(s, path + "_bad")
    }
  }

  test("gram-less docs still train (bias-only contribution)") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "good stuff", 1.0), (1L, "", 0.0), (2L, " ", 0.0))
      .toDF("id", "text", "y")
    val m = Classifier.train(df, "id", "text", col("y"),
      dim = 8, iters = 3, lr = 0.5)
    // bias moved (the empty docs push it negative; the positive doc
    // pushes its gram buckets positive)
    assert(m.bias != 0.0)
    assert(m.weights.exists(_ != 0.0))
  }
}
