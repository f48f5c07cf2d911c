package graft

import graft.core.DriverLocal
import graft.operators.{Bpe, ByteBpe, Classifier, Dedup, PageRank, Sketch}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Which side each driver-local twin takes. The equality specs of each
  * operator pass whichever side runs, so these rows pin the side itself:
  * on a small input the default gate takes the local side, which
  * launches fewer Spark jobs than the distributed side the forcing
  * scope selects. */
class DriverLocalSpec extends SparkSpec {

  private def pairs(s: SparkSession) = {
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (7L, 8L)).toDF("a", "b")
  }

  private def values(s: SparkSession) = {
    import s.implicits._
    (1 to 300).map(i => (Seq("en", "de", "fr")(i % 3), (i * 37 % 101) * 0.25))
      .toDF("g", "v")
  }

  private def texts(s: SparkSession) = {
    import s.implicits._
    (0 until 40).map(i => (i.toLong, s"w${i % 5} wo${i % 3} wor${i % 7} w${i % 5}x",
      i % 2 == 0)).toDF("id", "text", "lab")
  }

  private val entryPoints: Seq[(String, SparkSession => Any)] = Seq(
    "PageRank.run" -> (s => PageRank.run(pairs(s), iters = 3).collect()),
    "Dedup.connectedComponents" -> (s =>
      Dedup.connectedComponents(pairs(s)).collect()),
    "Sketch.exactQuantilesDisc" -> (s =>
      Sketch.exactQuantilesDisc(values(s), col("v"), Seq(0.1, 0.5, 0.9)).collect()),
    "Sketch.exactQuantilesDiscGrouped" -> (s =>
      Sketch.exactQuantilesDiscGrouped(values(s), col("g"), col("v"),
        Seq(0.1, 0.5, 0.9)).collect()),
    "Classifier.train" -> (s =>
      Classifier.train(texts(s), "id", "text", col("lab"), dim = 8, iters = 3,
        lr = 0.5)),
    "Bpe.learnMerges" -> (s =>
      Bpe.learnMerges(Bpe.wordCounts(texts(s), "text"), nMerges = 4)),
    "ByteBpe.learnMerges" -> (s =>
      ByteBpe.learnMerges(ByteBpe.preTokenCounts(texts(s), "text"), nMerges = 4)))

  entryPoints.foreach { case (name, run) =>
    test(s"$name: the default takes the local side, the forcing scope the distributed one") {
      val local = jobsOf { run(spark); () }
      val distributed = jobsOf { DriverLocal.forcedDistributed(run(spark)); () }
      assert(local < distributed,
        s"$name: default run launched $local jobs, forced run $distributed")
    }
  }

  test("near_dedup's deferred components run distributed under the forcing scope") {
    GraftTableFunctions.register(spark)
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog tonight"
    Seq((0L, base), (1L, base.replace("jumps", "leaps")), (2L, base),
      (3L, "totally different words about geology and rocks here"))
      .toDF("doc_id", "text").createOrReplaceTempView("driver_local_tf")
    val q = "SELECT doc_id FROM near_dedup('driver_local_tf', 'doc_id', 'text')"
    val local = spark.sql(q).collect().map(_.getLong(0)).toSet
    assert(Dedup.lastCcIterations == 0)
    val distributed = DriverLocal.forcedDistributed(
      spark.sql(q).collect().map(_.getLong(0)).toSet)
    assert(Dedup.lastCcIterations > 0,
      "the forcing scope never reached near_dedup's deferred components")
    assert(distributed == local && local == Set(0L, 3L))
  }

  test("fits accepts the budget and not a byte more, and nothing inside the scope") {
    assert(DriverLocal.fits(DriverLocal.Budget))
    assert(!DriverLocal.fits(DriverLocal.Budget + 1))
    DriverLocal.forcedDistributed {
      DriverLocal.forcedDistributed(assert(!DriverLocal.fits(0L)))
      assert(!DriverLocal.fits(0L), "an inner scope's exit ended the outer one")
    }
    assert(DriverLocal.fits(0L), "the scope did not restore the default")
  }
}
