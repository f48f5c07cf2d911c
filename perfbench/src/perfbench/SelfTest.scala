package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Prints one line per test and exits non-zero when any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: $e")
    }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("quantile interpolates between order statistics") {
      expect(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5, "median of 1..4")
      expect(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0, "p90 of 1..11")
      expect(Stats.quantile(Seq(7.0), 0.9) == 7.0, "single sample")
      expect(Stats.quantile(Seq.empty[Double], 0.5).isNaN, "empty sample")
    }
    test("summary reports its sample count") {
      val s = Stats.summary((1 to 20).map(_.toDouble))
      expect(s.n == 20 && s.p50 == 10.5 && math.abs(s.p90 - 18.1) < 1e-12, s.toString)
      expect(s.json == """{"n": 20, "p50": 10.5, "p90": 18.1}""", s.json)
    }

    test("vector generator is deterministic per seed") {
      def draw(seed: Long) = new VectorGen(seed, 16, 4).stream(0).records(50)
        .map(r => (r.vec.toSeq, r.label, r.group))
      expect(draw(7) == draw(7), "same seed, different records")
      expect(draw(7) != draw(8), "different seeds, same records")
      val g = new VectorGen(7, 16, 4)
      expect(g.stream(0).vector().toSeq != g.stream(1).vector().toSeq, "streams coincide")
    }
    test("analytics tables are fixed") {
      def flat() = Gen.tables().map { case (n, s, rows) =>
        (n, s, rows.map(_.toSeq.map {
          case xs: Seq[_] => xs.toList
          case v => v
        }))
      }
      expect(flat() == flat(), "two generations differ")
    }

    val rnd = new scala.util.Random(1)
    val corpus = (0L until 200L).map(id => id -> Array.fill(8)(rnd.nextGaussian().toFloat))
    val q = Array.fill(8)(rnd.nextGaussian().toFloat)
    val want = Check.bruteForce(q, 10, corpus)
    test("brute-force checker accepts the exact answer") {
      expect(want.length == 10, "short answer")
      expect(Check.exactMismatch(want, want).isEmpty, "rejected itself")
      expect(Check.recall(want, want) == 1.0, "recall of itself")
    }
    test("brute-force checker rejects a wrong top-k") {
      val outsider = corpus.map(_._1).find(id => !want.exists(_.id == id)).get
      val wrongId = want.updated(9, Check.Hit(outsider, want(9).dist))
      val swapped = want.updated(0, want(1)).updated(1, want(0))
      val offDist = want.updated(3, want(3).copy(dist = want(3).dist + 1e-6))
      expect(Check.exactMismatch(wrongId, want).nonEmpty, "accepted a wrong id")
      expect(Check.exactMismatch(swapped, want).nonEmpty, "accepted a wrong order")
      expect(Check.exactMismatch(offDist, want).nonEmpty, "accepted a wrong distance")
      expect(Check.exactMismatch(want.take(9), want).nonEmpty, "accepted a short answer")
      expect(Check.recall(wrongId, want) == 0.9, "recall of one wrong id")
    }

    val work = Paths.get(".bench_build", "work", s"selftest-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work)
    try {
      test("benchmark distance equals the engine's kernel bit for bit") {
        import spark.implicits._
        val df = corpus.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
          .select(col("id"), graft.functions.VectorFunctions.l2(col("v"), lit(q)).as("d"))
        val engine = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        corpus.foreach { case (id, v) =>
          expect(engine(id) == Check.l2(q, v), s"id $id: ${engine(id)} != ${Check.l2(q, v)}")
        }
      }
      test("listener attributes jobs to the call that ran them") {
        val rec = new Recorder(spark)
        rec.setTracing(true)
        val a = rec.newCall()
        val b = rec.newCall()
        def job(): Long = spark.range(100).count()
        rec.span("execute", a, phase = true)(job())
        rec.span("execute", b, phase = true) { job(); job() }
        job() // outside any call
        rec.setTracing(false)
        job() // after tracing stopped: not seen
        val perJob = rec.listener.group(rec.group(a, "execute")).jobs
        expect(perJob >= 1, "call a ran no job")
        expect(rec.listener.group(rec.group(b, "execute")).jobs == 2 * perJob, "call b")
        expect(rec.listener.group(GroupListener.NoGroup).jobs == perJob, "ungrouped job")
        expect(rec.listener.total.jobs == 4 * perJob, "total")
        expect(rec.spans.map(s => (s.name, s.call)) == Seq(("execute", a), ("execute", b)),
          rec.spans.toString)
      }
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
