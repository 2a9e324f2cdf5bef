package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark inside one JVM: sets the program up (session start +
  * a cold first pass), runs measured units of a workload for a fixed
  * time, checks every output, and prints one `PERFBENCH_RESULT {json}`
  * line of metric values by name. run.py builds, generates the inputs
  * and turns that line into the benchmark's result, with the units
  * BENCHMARK.json declares.
  *
  * Every argument is required:
  *   --workload medallion|stream_micro|query_mix|lake_upsert
  *   --input DIR   generated inputs (or the query fixture for query_mix)
  *   --work DIR    scratch space; wiped piecewise, never read back
  *   --seed N  --seconds S  --trace 0|1  --cores N
  *   --hashes FILE expected query_mix result hashes
  */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, input: String, work: String, cores: Int, hashes: String)

/** State shared by `Main` and the workload: the live session, the
  * listeners, and the record of timed operations and checks. */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  val engine = new EngineListener
  val capture = new StreamCapture(engine.streamRuns)
  /** (kind, ms) of every timed operation inside measured units. */
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  var measuring = false
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `body` as one operation of `kind` (recorded while measuring). */
  def op[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (measuring) ops += ((kind, ms(t0)))
    r
  }

  /** An operation timed elsewhere (micro-batch progress, query phases). */
  def sample(kind: String, millis: Double): Unit = if (measuring) ops += ((kind, millis))

  /** An output check; a failing one counts as a failed operation. */
  def expect(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
  }

  def group(g: String): Unit = spark.sparkContext.setJobGroup(s"pb:$g", g)

  def dir(sub: String): String = s"${args.work}/$sub"

  def freshDir(sub: String): String = {
    val d = dir(sub)
    graft.engine.Graft.wipeDir(d)
    new java.io.File(d).mkdirs()
    d
  }

  def newSession(cores: Int): SparkSession = {
    spark = graft.engine.Graft.configure(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"))
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.ui.retainedStages", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(capture)
    spark
  }

  def stopSession(): Unit = {
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One workload. `setup` stages what the measured units need and runs
  * one cold pass; `unit` runs one measured unit and returns its wall
  * seconds (work between units, such as wiping a finished pass, stays
  * out of it). */
trait Workload {
  /** Op kind whose latencies give p50_ms. */
  def primary: String
  /** Op kinds the primary operation falls into; tail_ms is the geometric
    * mean of their tails, so it does not hinge on where the boundary
    * between a fast and a slow kind falls in a pooled sample. */
  def primaryKinds: Seq[String] = Seq(primary)
  /** Op kinds whose medians give geomean_ms. */
  def kinds: Seq[String]
  /** Unmeasured units run before the window, where the first units after
    * set-up are still markedly slower than the rest. */
  def warmUnits: Int = 0
  def setup(ctx: Ctx): Unit
  def unit(ctx: Ctx, i: Int): Double
  /** Checks after the measured window (outputs, state of the table). */
  def finish(ctx: Ctx): Unit = ()
  def writeAmp(ctx: Ctx): Double
  /** Per-layer metrics only this workload produces (traced run). */
  def layers(ctx: Ctx): Map[String, Double]
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = m.getOrElse(k, sys.error(s"missing argument --$k"))
    Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("input"), arg("work"), arg("cores").toInt, arg("hashes"))
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    val w: Workload = args.workload match {
      case "medallion" => new MedallionWorkload
      case "stream_micro" => new StreamMicroWorkload
      case "query_mix" => new QueryMixWorkload
      case "lake_upsert" => new LakeUpsertWorkload
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    ctx.newSession(args.cores)
    val t1 = System.nanoTime()
    w.setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup: session ${(t1 - t0) / 1e9}%.3f s, " +
      f"first pass ${(System.nanoTime() - t1) / 1e9}%.3f s")

    // measured window; the tracing overhead compares untraced and traced
    // units of the same run
    val walls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    (1 to w.warmUnits).foreach(k => w.unit(ctx, -k))
    ctx.capture.clear()
    ctx.measuring = true
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 0
    // a traced run alternates untraced and traced units after a first
    // untraced one that only warms up
    while (i < (if (args.trace) 3 else 1) || System.nanoTime() < deadline) {
      val traced = args.trace && i % 2 == 1
      Trace.enabled = traced
      Trace.setRun(i)
      if (traced) ctx.spark.sparkContext.addSparkListener(ctx.engine)
      val wall =
        try w.unit(ctx, i)
        catch { case e: Throwable =>
          ctx.expect(ok = false, s"unit $i failed: $e"); Double.NaN
        }
      if (traced) {
        org.apache.spark.PerfbenchBridge.drainListeners(ctx.spark.sparkContext)
        ctx.spark.sparkContext.removeSparkListener(ctx.engine)
      }
      Trace.enabled = false
      if (!wall.isNaN) walls += ((traced, wall))
      i += 1
    }
    ctx.measuring = false
    val attemptedOps = ctx.ops.count(_._1 == w.primary).toLong
    try w.finish(ctx)
    catch { case e: Throwable => ctx.expect(ok = false, s"final checks failed: $e") }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!args.trace) {
      val prim = ctx.ops.collect { case (k, v) if k == w.primary => v }.toSeq
      val tails = w.primaryKinds.map(k => k -> Stats.tail(ctx.ops.collect { case (`k`, v) => v }.toSeq))
      val tail = Stats.geomean(tails.map(_._2._1))
      metrics("setup_s") = setupS
      metrics("wall_s") = Stats.median(walls.map(_._2).toSeq)
      metrics("p50_ms") = Stats.median(prim)
      metrics("tail_ms") = tail
      metrics("geomean_ms") = Stats.geomean(w.kinds.map(k =>
        Stats.median(ctx.ops.collect { case (`k`, v) => v }.toSeq)))
      metrics("write_amp") = w.writeAmp(ctx)
      metrics("peak_rss_mb") = peakRssMb()
      ctx.ops.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, vs) =>
        System.err.println(s"[perfbench] op $k: " + vs.map(v => f"${v._2}%.0f").mkString(" "))
      }
      System.err.println("[perfbench] tail_ms over " + tails.map { case (k, (v, pct)) =>
        f"$k p$pct%.1f=$v%.0f" }.mkString(", ") +
        s"; walls=${walls.map(x => f"${x._2}%.3f").mkString(",")}")
    } else {
      val plain = walls.drop(1).collect { case (false, x) => x }.toSeq
      val traced = walls.collect { case (true, x) => x }.toSeq
      val overhead =
        if (plain.isEmpty || traced.isEmpty) 0.0
        else (Stats.median(traced) / Stats.median(plain) - 1) * 100
      metrics ++= Layers.all(ctx, w, traced.size, traced.sum)
      metrics("trace.overhead_pct") = overhead
      metrics("trace.spans") = Trace.all.size.toDouble
      Trace.writeJsonLines(ctx.dir("trace.jsonl"))
    }
    val attempted = attemptedOps + ctx.attempted
    ctx.problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    val ms = metrics.map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) "0" else v.toString}"""
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${ctx.failed == 0},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":${ctx.failed},"metrics":$ms}""")
    System.out.flush()
    ctx.stopSession()
  }
}
