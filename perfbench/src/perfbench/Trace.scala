package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var bytesWritten = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputRows += o.inputRows; bytesWritten += o.bytesWritten
  }
}

/** Sums job, task and task-metric counts per Spark job group. Jobs that
  * run outside any group are kept under [[GroupListener.NoGroup]]. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counts]

  private def counts(g: String) = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupListener.GroupKey)))
      .getOrElse(GroupListener.NoGroup)
    e.stageIds.foreach(stageGroup(_) = g)
    counts(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, GroupListener.NoGroup))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Counts of one group (zeros when it launched no job). */
  def group(g: String): Counts = synchronized(groups.getOrElse(g, new Counts))

  /** Counts of every group, jobs outside any group included. */
  def total: Counts = synchronized {
    val c = new Counts
    groups.values.foreach(c += _)
    c
  }

  def byGroup: Map[String, Counts] = synchronized(groups.toMap)
}

object GroupListener {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
  val NoGroup = "-"
}

/** One timed interval. Spans of one facade call share `call`; `parent`
  * indexes the enclosing span in the recorder's span list (-1 at top). */
final case class Span(name: String, call: Long, parent: Int, startNs: Long, endNs: Long)

/** Times the benchmark's calls into the engine. While [[tracing]] is on
  * it also records spans, runs each phase under its own job group and
  * keeps a [[GroupListener]] attached, so Spark work is attributed to the
  * call and phase that launched it. With tracing off a phase is a bare
  * `System.nanoTime` pair. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  val listener = new GroupListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var lastCall = 0L
  private var _tracing = false

  def tracing: Boolean = _tracing

  /** Turn tracing on or off between calls. Turning it off first waits
    * until the listener has seen every event already posted. */
  def setTracing(on: Boolean): Unit = if (on != _tracing) {
    if (on) sc.addSparkListener(listener)
    else {
      org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    _tracing = on
  }

  def newCall(): Long = { lastCall += 1; lastCall }

  /** Job group of one phase of one call. */
  def group(call: Long, phase: String): String = s"pb-$call-$phase"

  /** Run `body` as span `name` of call `call`; returns its result and
    * wall seconds. A traced phase runs under job group
    * [[group]](call, name). */
  def span[T](name: String, call: Long, phase: Boolean = false)(body: => T): (T, Double) = {
    if (!_tracing) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      val idx = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(name, call, parent, System.nanoTime(), 0L)
      open = idx :: open
      if (phase) sc.setJobGroup(group(call, name), name, interruptOnCancel = false)
      try {
        val r = body
        (r, (System.nanoTime() - spans(idx).startNs) / 1e9)
      } finally {
        if (phase) sc.clearJobGroup()
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }
  }

  /** Write the spans and the per-group counts as two tab-separated
    * tables, each under a header line. */
  def write(path: java.nio.file.Path): Unit = {
    val spanLines = spans.iterator.zipWithIndex.map { case (s, i) =>
      s"span\t$i\t${s.name}\t${s.call}\t${s.parent}\t${s.startNs}\t${s.endNs}" }
    val countLines = listener.byGroup.toSeq.sortBy(_._1).iterator.map { case (g, c) =>
      s"counts\t$g\t${c.jobs}\t${c.tasks}\t${c.runMs}\t${c.gcMs}\t${c.shuffleBytes}\t" +
        s"${c.spillBytes}\t${c.inputRows}\t${c.bytesWritten}" }
    val text = (Iterator("span\tindex\tname\tcall\tparent\tstart_ns\tend_ns") ++ spanLines ++
      Iterator("counts\tgroup\tjobs\ttasks\trun_ms\tgc_ms\tshuffle_bytes\tspill_bytes\t" +
        "input_rows\tbytes_written") ++ countLines).mkString("", "\n", "\n")
    java.nio.file.Files.write(path, text.getBytes("UTF-8"))
  }
}
