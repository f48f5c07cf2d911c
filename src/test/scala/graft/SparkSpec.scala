package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Deterministic uniform-[0,1) float corpus, the reference's fixture
    * shape (np.random.rand; FIXTURES.md §B). */
  def corpus(n: Int, dim: Int, seed: Long = 42L): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n).map(i => (i, Array.fill(dim)(rnd.nextFloat())))
  }

  def toDF(rows: Seq[(Long, Array[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "embedding")
  }

  /** Spark jobs `body` launches, counted by a listener. The bus delivers
    * events in order, so once a marker job started after `body` has been
    * seen, every job of `body` has been counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime()}"
    val counted = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet(); ()
          case Some(g) if g == s"$group-end" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Ids of the RDDs holding a store's HNSW shards on the executors. */
  def heldHnswGraphs(store: VectorStore): Set[Int] =
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(n =>
        n.startsWith("hnsw shards") && n.contains(store.path)))
      .map(_.id).toSet
}
