package graft

import graft.core.DriverLocal
import graft.operators.PageRank
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  private def pairs(ps: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    ps.toDF("a", "b")
  }

  test("mass conservation: ranks sum to 1 every run") {
    val df = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val total = PageRank.run(df, iters = 5)
      .agg(sum(col("r"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"rank mass $total != 1")
  }

  test("triangle symmetry: all nodes rank exactly 1/3") {
    val r = PageRank.run(pairs((1L, 2L), (2L, 3L), (1L, 3L)), iters = 4)
      .collect().map(_.getDouble(1))
    assert(r.length == 3)
    assert(r.forall(x => math.abs(x - 1.0 / 3) < 1e-12))
  }

  test("path graph: the center of a-b-c outranks the endpoints") {
    val r = PageRank.run(pairs((1L, 2L), (2L, 3L)), iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(1L) && r(2L) > r(3L))
    assert(math.abs(r(1L) - r(3L)) < 1e-15, "symmetric endpoints must tie")
  }

  test("deterministic under partitioning (decimal-routed sums)") {
    val s = spark
    import s.implicits._
    val es = (0L until 60L).map(i => (i, (i * 7 + 1) % 60)).toDF("a", "b")
    val r1 = PageRank.run(es, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val r2 = PageRank.run(es.repartition(17), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r1 == r2, "ranks changed under repartitioning")
  }

  test("driver-local shortcut is BIT-EXACT vs the distributed path") {
    val s = spark
    import s.implicits._
    // irregular degrees + multiple components so the decimal rounding
    // actually fires on non-trivial values
    val es = ((0L until 40L).map(i => (i, (i * 7 + 1) % 40)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (100L, 103L)))
      .toDF("a", "b")
    val local = PageRank.run(es, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dist = DriverLocal.forcedDistributed(PageRank.run(es, iters = 5)
      .collect()).map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(local.keySet == dist.keySet)
    // raw bits, not approximate equality — the whole point is that the
    // oracle match is path-independent
    local.foreach { case (id, r) =>
      assert(java.lang.Double.doubleToLongBits(r) ==
        java.lang.Double.doubleToLongBits(dist(id)),
        s"node $id: local $r != distributed ${dist(id)}")
    }
  }

  test("non-long ids fall back to the distributed path") {
    val s = spark
    import s.implicits._
    val es = Seq((1, 2), (2, 3), (1, 3)).toDF("a", "b") // int ids
    val r = PageRank.run(es, iters = 3).collect().map(_.getDouble(1))
    assert(r.length == 3 && r.forall(x => math.abs(x - 1.0 / 3) < 1e-12))
  }

  test("null ids fail loudly on both paths instead of dropping nodes") {
    val s = spark
    import s.implicits._
    val es = Seq((Some(1L), Some(2L)), (Some(2L), None)).toDF("a", "b")
    val e = intercept[Exception] { PageRank.run(es, iters = 2).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null id")), s"unexpected error: $e")
  }

  test("rejects empty graphs and bad parameters") {
    intercept[IllegalArgumentException] {
      PageRank.run(pairs((1L, 2L)), iters = 0)
    }
    intercept[IllegalArgumentException] {
      PageRank.run(pairs((1L, 2L)), iters = 2, damping = 1.5)
    }
  }
}
