package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `analytics` workload: materialized passes over a fixed subset of
  * `SparkEntry.queries` on generated tables. It bypasses `VectorStore` and
  * the delta log; the seed only permutes the query order of each pass. */
object Analytics {
  /** Chosen from the 25 heavy queries proposed for this workload so that
    * three passes fit a run: the cheapest of each family (dedup, PageRank,
    * exact quantiles, funnels, exact kNN). */
  val Subset = Seq(
    "dedup_span_exact", "graph_pagerank", "sketch_quantile_exact_grouped",
    "events_funnel", "o2_knn_exact")
  val SetupReps = 3
  val FingerprintFile: Path = Paths.get("perfbench", "fingerprints.tsv")

  /** Row count and order-independent hash ("-" marks a query checked on
    * its row count only). */
  final case class Fingerprint(rows: Long, hash: String)

  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.select(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def loadFingerprints(): Map[String, Fingerprint] = {
    val lines = new String(Files.readAllBytes(FingerprintFile), "UTF-8").split('\n')
    lines.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, hash) = l.split('\t')
      name -> Fingerprint(rows.toLong, hash)
    }.toMap
  }

  /** Write the generated tables [[SetupReps]] times; keep the last copy. */
  def setup(spark: SparkSession, work: Path): (String, Seq[Double]) = {
    val tabs = Gen.tables()
    val runs = (1 to SetupReps).map { rep =>
      val dir = work.resolve(s"tables-$rep").toString
      val t0 = System.nanoTime()
      Gen.writeTables(spark, tabs, dir)
      (dir, (System.nanoTime() - t0) / 1e9)
    }
    runs.init.foreach(r => Main.deleteTree(Paths.get(r._1)))
    (runs.last._1, runs.map(_._2))
  }

  def run(spark: SparkSession, rec: Recorder, work: Path, seed: Long,
          seconds: Double, trace: Boolean): Result = {
    val expected = loadFingerprints()
    val (dir, setupS) = setup(spark, work)
    val outcomes = new Outcomes
    val order = new scala.util.Random(seed)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
    var completed = 0L

    // one pass in a seeded order; `check` compares fingerprints
    def pass(timed: Boolean, check: Boolean): Unit =
      order.shuffle(Subset).foreach { name =>
        val call = rec.newCall()
        outcomes.op(name) {
          val (df, c) =
            rec.span("construct", call, phase = true)(SparkEntry.queries(name)(spark, dir))
          val (_, e) = rec.span("execute", call, phase = true) {
            df.write.format("noop").mode("overwrite").save()
          }
          if (timed && rec.tracing) traced += ((name, call, c, e))
          else if (timed) perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += c + e
          if (check) Some(fingerprint(df)) else None
        } {
          case Some(got) =>
            expected.get(name) match {
              case None => Some("no recorded fingerprint")
              case Some(w) if w.rows != got.rows => Some(s"${got.rows} rows, recorded ${w.rows}")
              case Some(w) if w.hash != "-" && w.hash != got.hash =>
                Some(s"hash ${got.hash}, recorded ${w.hash}")
              case _ => None
            }
          case None => None
        }.foreach(_ => if (timed && !rec.tracing) completed += 1)
      }

    pass(timed = false, check = true)
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var r = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || !Main.enoughRounds(r, trace)) {
      rec.setTracing(Main.tracedRound(r, trace))
      val p0 = System.nanoTime()
      pass(timed = true, check = false)
      (if (rec.tracing) tracedPasses else plain) += (System.nanoTime() - p0) / 1e9
      r += 1
    }
    rec.setTracing(false)

    val layers =
      if (tracedPasses.isEmpty) Map.empty[String, Double]
      else {
        val m = mutable.Map.empty[String, Double]
        traced.groupBy(_._1).foreach { case (name, ts) =>
          m(s"q.$name.construct_s") = Stats.mean(ts.map(_._3).toSeq)
          m(s"q.$name.execute_s") = Stats.mean(ts.map(_._4).toSeq)
          m(s"q.$name.jobs") = Stats.mean(ts.map { case (_, call, _, _) =>
            (rec.listener.group(rec.group(call, "construct")).jobs +
              rec.listener.group(rec.group(call, "execute")).jobs).toDouble
          }.toSeq)
        }
        val s = rec.listener.total
        val n = tracedPasses.length
        m ++= Map(
          "spark.executor_run_s" -> s.runMs / 1000.0 / n,
          "spark.busy_frac" -> s.runMs / 1000.0 / (tracedPasses.sum * Main.Cores),
          "spark.gc_s" -> s.gcMs / 1000.0 / n,
          "spark.shuffle_bytes" -> s.shuffleBytes.toDouble / n,
          "spark.spill_bytes" -> s.spillBytes.toDouble / n,
          "trace.overhead_frac" -> (Stats.median(tracedPasses.toSeq) / Stats.median(plain.toSeq) - 1.0))
        m.toMap
      }
    Result(outcomes.attempted, outcomes.failed,
      Seq(Metric("setup_s", Stats.median(setupS), "s"),
        Metric("round_p50_s", Stats.median(plain.toSeq), "s"),
        Metric("ops_per_s", completed / plain.sum, "1/s")),
      layers,
      Seq("setup_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
        "rounds" -> s"${plain.length} untraced, ${tracedPasses.length} traced",
        "analytics_pass_s" -> Stats.summary(plain.toSeq).json) ++
        perQuery.toSeq.sortBy(_._1).map { case (q, xs) => s"q.$q.s" -> Stats.summary(xs.toSeq).json })
  }

  /** Rewrite [[FingerprintFile]]: each query runs three times; a query
    * whose hash differs between runs is recorded as row-count only. */
  def record(spark: SparkSession, work: Path): Unit = {
    val (dir, _) = setup(spark, work)
    val lines = Subset.sorted.map { name =>
      val t0 = System.nanoTime()
      val fps = (1 to 3).map(_ => fingerprint(SparkEntry.queries(name)(spark, dir)))
      System.err.println(f"$name%-32s ${(System.nanoTime() - t0) / 3e9}%.2f s per run")
      require(fps.map(_.rows).distinct.size == 1, s"$name: row count differs between runs")
      val hash = if (fps.map(_.hash).distinct.size == 1) fps.head.hash else "-"
      println(s"$name\t${fps.head.rows}\t$hash")
      s"$name\t${fps.head.rows}\t$hash"
    }
    Files.write(FingerprintFile, (Seq("# query\trows\thash (- = row count only)") ++ lines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
