package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory spans around each call into a layer. Recording is off
  * unless a traced run switches it on; a disabled `span` only runs the
  * body. Spans are written as JSON lines once the run is over. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, run: Int)

  @volatile var enabled = false
  private var run = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def setRun(r: Int): Unit = run = r

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, name, t0, t1, parent, run)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time (ms) of every span, keyed by span name: its duration less
    * the durations of its direct children. */
  def selfMs: Map[String, Seq[Double]] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.toSeq.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6
    }).toMap
  }

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"run":${s.run}}""")
    } finally w.close()
  }
}

/** Task, stage and job totals attributed by job group. Batch work runs
  * under `pb:*` groups the workloads set; micro-batch jobs carry their
  * query's run id as group and are filed under `pb:stream`. */
final class EngineListener extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var taskMs, schedMs, shuffleWrite, shuffleRead, spill, gcMs, input, output = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = mutable.Map.empty[String, Totals]
  val streamRuns: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith("pb:") => g
      case Some(g) if streamRuns.contains(g) => "pb:stream"
      case _ => "other"
    }

  private def at(g: String): Totals = totals.getOrElseUpdate(g, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    at(g).jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageGroup.getOrDefault(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = at(stageGroup.getOrDefault(e.stageId, "other"))
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }

  def jobs(group: String): Long = synchronized(totals.get(group).map(_.jobs).getOrElse(0L))

  /** Sum over every group except `other` (work the benchmark did not start). */
  def sum: Totals = synchronized {
    val s = new Totals
    totals.collect { case (g, t) if g != "other" => t }.foreach { t =>
      s.jobs += t.jobs; s.stages += t.stages; s.tasks += t.tasks
      s.taskMs += t.taskMs; s.schedMs += t.schedMs
      s.shuffleWrite += t.shuffleWrite; s.shuffleRead += t.shuffleRead
      s.spill += t.spill; s.gcMs += t.gcMs; s.input += t.input; s.output += t.output
    }
    s
  }
}

/** Keeps every micro-batch's progress (the query object retains only the
  * last `numRecentProgressUpdates`). Always on: per-batch latency is an
  * end-to-end metric. */
final class StreamCapture(runs: java.util.Set[String]) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  // delivered synchronously at query start, before its first job
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    runs.add(e.runId.toString); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  def clear(): Unit = progress.clear()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p90/p95/p99/p99.9 that still has at least ten
    * samples above it. With fewer than a hundred samples no such
    * percentile exists and p75 stands in, steadier than the maximum of a
    * few samples. Linear interpolation between order statistics.
    * Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return (0.0, 0.0)
    val p = Seq(99.9, 99.0, 95.0, 90.0).find(p => n * (1 - p / 100) >= 10).getOrElse(75.0)
    val x = p / 100 * (n - 1)
    val lo = x.toInt
    (s(lo) + (x - lo) * (s(math.min(lo + 1, n - 1)) - s(lo)), p)
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
