package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run measured. `e2e` holds the end-to-end metrics
  * (from rounds run without tracing), `layers` the per-layer ones (from
  * traced rounds; empty in an untraced run), `detail` the per-operation
  * summaries printed ahead of the result line. */
final case class Result(attempted: Long, failed: Long, e2e: Seq[Metric],
                        layers: Map[String, Double], detail: Seq[(String, String)])

/** Counts operations and the reasons any of them failed. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  private var reported = 0

  /** Run one operation; an exception or a failed check counts it as
    * failed. `check` returns the reason its answer is wrong, if it is. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Right(body) catch {
      case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
    }
    r.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) => Some(v)
      case Left(why) =>
        failed += 1
        if (reported < 20) { reported += 1; System.err.println(s"perfbench: FAILED $what: $why") }
        None
    }
  }
}

object Main {
  val Cores = 4

  /** Rounds alternate between traced and untraced in a traced run. */
  def tracedRound(round: Int, trace: Boolean): Boolean = trace && round % 2 == 0

  /** Whether `rounds` timed rounds are enough, whatever `--seconds` says:
    * an untraced run needs three for a median that one slow round cannot
    * move, a traced run one round of each kind to report its overhead. */
  def enoughRounds(rounds: Int, trace: Boolean): Boolean = rounds >= (if (trace) 2 else 3)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private val started = System.nanoTime()

  /** Progress on standard error, in seconds since the JVM's main began. */
  def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = Paths.get(".bench_build", "work", s"$workload-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    progress("Spark session ready")
    try {
      val rec = new Recorder(spark)
      val res = workload match {
        case "serve" => StoreBench.serve(spark, rec, work, seed, seconds, trace)
        case "mixed" => StoreBench.mixed(spark, rec, work, seed, seconds, trace)
        case "analytics" => Analytics.run(spark, rec, work, seed, seconds, trace)
        case "record-fingerprints" => Analytics.record(spark, work); return
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (trace) {
        val out = Paths.get(".bench_build", s"trace-$workload-$seed.tsv").toAbsolutePath
        rec.write(out)
        println(s"trace: ${rec.spans.length} spans and ${rec.listener.byGroup.size} job groups " +
          s"written to $out")
      }
      res.detail.foreach { case (k, v) => println(s"$k: $v") }
      println("PERFBENCH_RESULT " + resultJson(res, trace))
    } finally {
      progress("workload done")
      spark.stop()
      deleteTree(work)
      progress("Spark stopped")
    }
  }

  def resultJson(r: Result, trace: Boolean): String = {
    val ms =
      if (!trace) r.e2e.map(m => m.name -> (m.value, m.unit))
      else Layers.all.map { case (name, unit) => name -> (r.layers.getOrElse(name, 0.0), unit) }
    val body = ms.map { case (n, (v, u)) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}"""
  }
}
