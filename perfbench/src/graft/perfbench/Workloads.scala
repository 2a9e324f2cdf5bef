package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.Medallion
import graft.ops.lake.{Mutations, Snapshots}
import graft.streaming.{Pipelines, StatefulSessions}

object Io {
  private val mapper = new ObjectMapper()
  def json(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  /** Bytes and count of the data files under `dir`; names starting with
    * `_` or `.` (commit logs, checksums) are bookkeeping, not data. */
  def dataFiles(dir: String): (Long, Long) = {
    var bytes, files = 0L
    def walk(f: java.io.File): Unit =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) ()
      else if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else { bytes += f.length(); files += 1 }
    Option(new java.io.File(dir).listFiles()).foreach(_.foreach(walk))
    (bytes, files)
  }

  /** Every byte under `dir`, bookkeeping included. */
  def allBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(dir))
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** Batch backfill through `Medallion.bronze → silver → check → gold`. */
final class MedallionWorkload extends Workload {
  val primary = "pass"
  val kinds = Seq("bronze", "silver", "check", "gold")
  private var last = ""
  private var keep = 0.0

  private def pass(ctx: Ctx, in: String, base: String): Unit = {
    val spark = ctx.spark
    val exp = Io.json(s"$in/expected.json")
    ctx.group("medallion")
    ctx.op("pass") {
      val bronze = Trace.span("medallion.bronze")(ctx.op("bronze")(Medallion.bronze(spark, in, base)))
      val silver = Trace.span("medallion.silver")(ctx.op("silver")(Medallion.silver(spark, bronze, base)))
      val (uv, nv) = Trace.span("medallion.check")(ctx.op("check")(Medallion.check(spark, silver)))
      ctx.expect(uv == 0 && nv == 0, s"medallion gate: $uv key and $nv null violations")
      val gold = Trace.span("medallion.gold")(ctx.op("gold")(Medallion.gold(spark, silver, base)))
      Trace.span("medallion.verify")(verify(ctx, exp, bronze, silver, gold))
    }
    last = base
  }

  /** Row counts and every gold figure against the generator's own
    * computation over the same input. */
  private def verify(ctx: Ctx, exp: JsonNode, bronze: String, silver: String, gold: String): Unit = {
    val spark = ctx.spark
    val b = spark.read.parquet(bronze).count()
    val s = spark.read.parquet(silver).count()
    ctx.expect(b == exp.get("events").asLong, s"bronze rows $b")
    ctx.expect(s == exp.get("unique").asLong, s"silver rows $s")
    keep = s.toDouble / math.max(1L, b)
    val want = exp.get("gold").elements().asScala.map { r =>
      (r.get(0).asText, r.get(1).asText) -> (r.get(2).asDouble, r.get(3).asDouble, r.get(4).asDouble)
    }.toMap
    val got = spark.read.parquet(gold).select(col("event_date").cast("string"), col("symbol"),
      col("traded_notional"), col("fee_revenue"), col("tax_collected")).collect()
    val bad = got.count { r =>
      want.get((r.getString(0), r.getString(1))) match {
        case Some((tn, fee, tax)) =>
          !(Io.close(r.getDouble(2), tn) && Io.close(r.getDouble(3), fee) && Io.close(r.getDouble(4), tax))
        case None => true
      }
    }
    ctx.expect(got.length == want.size && bad == 0,
      s"gold: ${got.length} rows vs ${want.size} expected, $bad differ")
  }

  def setup(ctx: Ctx): Unit =
    pass(ctx, s"${ctx.args.input}/warm", ctx.freshDir("med-warm"))

  def unit(ctx: Ctx, i: Int): Double = {
    val base = ctx.freshDir("med")
    val t0 = System.nanoTime()
    pass(ctx, ctx.args.input, base)
    (System.nanoTime() - t0) / 1e9
  }

  private var speedup = 0.0

  /** Traced runs also time one pass on a single core. */
  override def finish(ctx: Ctx): Unit = if (ctx.args.trace) {
    val multi = Stats.median(ctx.ops.collect { case ("pass", v) => v }.toSeq)
    ctx.stopSession()
    ctx.newSession(1)
    val base = ctx.freshDir("med-1core")
    val t0 = System.nanoTime()
    pass(ctx, ctx.args.input, base)
    speedup = ctx.ms(t0) / multi
  }

  private def out(name: String): (Long, Long) = Io.dataFiles(s"$last/$name")

  def writeAmp(ctx: Ctx): Double =
    (out("bronze")._1 + out("silver")._1 + out("gold")._1).toDouble /
      new java.io.File(s"${ctx.args.input}/events.parquet").length()

  def layers(ctx: Ctx): Map[String, Double] = {
    val self = Trace.selfMs
    def med(n: String) = Stats.median(self.getOrElse(n, Nil))
    Map(
      "medallion.bronze_ms" -> med("medallion.bronze"),
      "medallion.silver_ms" -> med("medallion.silver"),
      "medallion.check_ms" -> med("medallion.check"),
      "medallion.gold_ms" -> med("medallion.gold"),
      "medallion.bronze_files" -> out("bronze")._2.toDouble,
      "medallion.bronze_bytes" -> out("bronze")._1.toDouble,
      "medallion.silver_bytes" -> out("silver")._1.toDouble,
      "medallion.gold_bytes" -> out("gold")._1.toDouble,
      "medallion.silver_keep_ratio" -> keep,
      "medallion.speedup_1core" -> speedup)
  }
}

/** Live-ingest shape: small files drained one per micro-batch through
  * the hourly, session-window, custom-state and dedup pipelines; each
  * stream's output is checked against the batch form over the files. */
final class StreamMicroWorkload extends Workload {
  val primary = "batch"
  val queries = Seq("hourly", "session", "state", "dedup")
  val kinds: Seq[String] = queries.map(q => s"batch.$q")
  override def primaryKinds: Seq[String] = kinds
  private val gapUs = StatefulSessions.GapUs

  private final case class Expected(hourly: Map[(Long, String), (Long, Double)],
      sessions: Map[(Long, Long), (Long, Double)], state: Map[(Long, Long), (Long, Long, Double)],
      distinct: (Long, Long))
  private val expected = mutable.Map.empty[String, Expected]
  private var ckptBytes = 0L

  private def source(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Batch forms over the same files. Append-mode sessions are only
    * emitted once the final watermark (max event time less the 30-minute
    * delay) passes them; the custom state machine also emits a session
    * as soon as a later session of the same user starts. */
  private def batchForm(spark: SparkSession, dir: String): Expected = {
    val ev = spark.read.parquet(dir).withColumn("ts", col("ts").cast(TimestampType))
      .withColumn("us", unix_micros(col("ts")))
    val wm = ev.agg(max("us")).first().getLong(0) - gapUs
    val hourly = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)), sum("value"))
      .select(unix_micros(col("window.start")), col("event_type"), col("count(1)"), col("sum(value)"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val sess = ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"), max("us").as("last"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start"),
        unix_micros(col("session_window.end")).as("end"), col("n"), col("v"), col("last"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
    val lastStart = sess.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val sessions = sess.collect { case (u, s, e, n, v, _) if e <= wm => (u, s) -> (n, v) }.toMap
    val state = sess.collect {
      case (u, s, _, n, v, l) if s < lastStart(u) || l + gapUs < wm => (u, s) -> (l, n, v)
    }.toMap
    val d = ev.agg(countDistinct("event_id"), sum_distinct(col("event_id"))).first()
    Expected(hourly, sessions, state, (d.getLong(0), d.getLong(1)))
  }

  private def expectedFor(ctx: Ctx, dir: String): Expected =
    expected.getOrElseUpdate(dir, batchForm(ctx.spark, dir))

  /** Drains every pipeline over `dir` (one file per micro-batch), one
    * after another; returns the wall seconds of the drains and checks. */
  private def drainAll(ctx: Ctx, dir: String, tag: String): Double = {
    val spark = ctx.spark
    val exp = expectedFor(ctx, dir)
    val ckpts = queries.map(q => q -> ctx.freshDir(s"ckpt-$tag-$q")).toMap
    val t0 = System.nanoTime()
    val outs = queries.map { q =>
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Row)]()
      val src = source(spark, dir)
      val (df, mode) = q match {
        case "hourly" => (Pipelines.hourlyAgg(src)
          .select(unix_micros(col("hour_start")), col("event_type"), col("n"), col("sum_value")), "update")
        case "session" => (Pipelines.sessionAgg(src)
          .select(col("user_id"), unix_micros(col("session_start")), col("n"), col("sum_value")), "append")
        case "state" => (StatefulSessions.sessionStream(spark, src).toDF(), "append")
        case "dedup" => (Pipelines.dedupStream(src), "append")
      }
      val sink: (DataFrame, Long) => Unit = { (b, id) =>
        val collected =
          if (q == "dedup") b.agg(count(lit(1)), coalesce(sum("event_id"), lit(0L))).collect()
          else b.collect()
        collected.foreach(r => rows.add((id, r)))
      }
      val sq = Trace.span(s"streaming.$q") {
        val s = df.writeStream.outputMode(mode).option("checkpointLocation", ckpts(q))
          .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
        s.awaitTermination()
        s
      }
      q -> (sq, rows)
    }.toMap
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val byRun = ctx.capture.all.groupBy(_.runId.toString)
    queries.foreach { q =>
      byRun.getOrElse(outs(q)._1.runId.toString, Nil).foreach { p =>
        val ms = p.durationMs.get("triggerExecution").toDouble
        ctx.sample("batch", ms)
        ctx.sample(s"batch.$q", ms)
      }
    }
    check(ctx, exp, outs.map { case (q, (_, rows)) => q -> rows.asScala.toSeq })
    val wall = (System.nanoTime() - t0) / 1e9
    ckptBytes = ckpts.values.map(Io.allBytes).sum
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    wall
  }

  private def check(ctx: Ctx, exp: Expected, outs: Map[String, Seq[(Long, Row)]]): Unit = {
    val hourly = outs("hourly").sortBy(_._1).map { case (_, r) =>
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))
    }.toMap // update mode: the last batch's row per window is final
    ctx.expect(hourly.keySet == exp.hourly.keySet && hourly.forall { case (k, (n, v)) =>
      exp.hourly(k)._1 == n && Io.close(exp.hourly(k)._2, v)
    }, s"hourly: ${hourly.size} windows vs ${exp.hourly.size} in batch form")
    val sessions = outs("session").map { case (_, r) => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)) }
    ctx.expect(sessions.size == exp.sessions.size && sessions.forall { case (k, (n, v)) =>
      exp.sessions.get(k).exists(e => e._1 == n && Io.close(e._2, v))
    }, s"session windows: ${sessions.size} emitted vs ${exp.sessions.size} in batch form")
    val state = outs("state").map { case (_, r) =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us")) ->
        (r.getAs[Long]("session_end_us"), r.getAs[Long]("n"), r.getAs[Double]("sum_value"))
    }
    ctx.expect(state.size == exp.state.size && state.forall { case (k, (l, n, v)) =>
      exp.state.get(k).exists(e => e._1 == l && e._2 == n && Io.close(e._3, v))
    }, s"custom sessions: ${state.size} emitted vs ${exp.state.size} in batch form")
    val d = outs("dedup").map(_._2)
    val got = (d.map(_.getLong(0)).sum, d.map(_.getLong(1)).sum)
    ctx.expect(got == exp.distinct, s"dedup: $got vs ${exp.distinct}")
  }

  def setup(ctx: Ctx): Unit = { drainAll(ctx, s"${ctx.args.input}/warm", "warm"); () }

  def unit(ctx: Ctx, i: Int): Double = drainAll(ctx, s"${ctx.args.input}/files", "unit")

  def writeAmp(ctx: Ctx): Double =
    ckptBytes.toDouble / Io.allBytes(s"${ctx.args.input}/files")

  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Read-only analytics: one closed-loop client runs the query mix in a
  * seed-permuted order; every result is hashed and compared with the
  * recorded hash for the fixture. */
final class QueryMixWorkload extends Workload {
  val primary = "query"
  val kinds: Seq[String] = Layers.mixIds.map(id => s"q.$id")
  override def primaryKinds: Seq[String] = kinds
  override val warmUnits = 4
  private lazy val fns = graft.SparkEntry.queries
  private val rng = new scala.util.Random(0L)
  private val seen = mutable.Map.empty[String, (Long, Long)]
  private var expected: Map[String, (Long, Long)] = Map.empty
  private val planMs, execMs = mutable.ArrayBuffer.empty[Double]
  private var io0 = (0L, 0L, 0L)
  private var io1 = (0L, 0L, 0L)

  /** Row count and an order-independent hash of the collected rows:
    * each row is hashed in column order and the row hashes are summed.
    * Floating values are hashed at float precision so the last bits of a
    * reassociated double sum do not change the hash. */
  def hashRows(rows: Array[Row]): (Long, Long) = {
    def canon(v: Any): Any = v match {
      case null => null
      case d: Double => java.lang.Float.floatToIntBits(d.toFloat + 0.0f)
      case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(canon)
      case xs: scala.collection.Seq[_] => xs.map(canon)
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_.##)
      case x => x.toString
    }
    (rows.length.toLong,
      rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq.map(canon)) & 0xffffffffL).sum)
  }

  /** Plans and runs the query's own DataFrame, unchanged, then checks
    * its rows (hashed on the driver, outside the timed span). */
  private def exec(ctx: Ctx, id: String): Unit = graft.engine.Caching.scoped {
    val spark = ctx.spark
    val rows = Trace.span(s"query.$id") {
      val t0 = System.nanoTime()
      ctx.group("plan")
      val df = fns(id)(spark, ctx.args.input)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      ctx.group("exec")
      val rows = df.collect()
      val t2 = System.nanoTime()
      if (ctx.measuring) {
        ctx.sample("query", (t2 - t0) / 1e6)
        ctx.sample(s"q.$id", (t2 - t0) / 1e6)
        if (Trace.enabled) { planMs += (t1 - t0) / 1e6; execMs += (t2 - t1) / 1e6 }
      }
      rows
    }
    val got = hashRows(rows)
    seen(id) = got
    ctx.expect(expected.get(id).contains(got), s"$id: (rows, hash) $got, expected ${expected.get(id)}")
  }

  private def pass(ctx: Ctx): Unit = rng.shuffle(Layers.mixIds).foreach(exec(ctx, _))

  def setup(ctx: Ctx): Unit = {
    rng.setSeed(ctx.args.seed)
    expected = Io.json(ctx.args.hashes).fields().asScala
      .map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)).toMap
    pass(ctx)
    io0 = stageBytes(ctx)
  }

  def unit(ctx: Ctx, i: Int): Double = {
    val t0 = System.nanoTime()
    pass(ctx)
    (System.nanoTime() - t0) / 1e9
  }

  /** Writes the observed hashes to `<work>/hashes.json` (the fixture is
    * regenerated by copying that file, see NOTES.md); a traced run also
    * writes the oracled queries' results for the DuckDB cross-check
    * run.py makes. */
  override def finish(ctx: Ctx): Unit = {
    // read before the traced run's oracle writes add stages; reading after
    // every unit would drain the listener bus between passes, out of the
    // timed queries, and make the first queries of a pass the fastest
    io1 = stageBytes(ctx)
    val body = Layers.mixIds.map(id => s"""  "$id": [${seen(id)._1}, ${seen(id)._2}]""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.dir("hashes.json")),
      body.mkString("{\n", ",\n", "\n}\n"))
    if (!ctx.args.trace) return
    val oracle = graft.SparkEntry.oracleSql
    val out = ctx.freshDir("oracle")
    val ids = Layers.mixIds.filter(oracle.contains)
    ids.foreach { id =>
      graft.engine.Caching.scoped {
        fns(id)(ctx.spark, ctx.args.input).coalesce(1).write.parquet(s"$out/$id")
      }
    }
    val json = new ObjectMapper().writeValueAsString(ids.map(id => id -> oracle(id)).toMap.asJava)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  /** (input, output, shuffle write) bytes over every stage so far. */
  private def stageBytes(ctx: Ctx): (Long, Long, Long) = {
    org.apache.spark.PerfbenchBridge.drainListeners(ctx.spark.sparkContext)
    org.apache.spark.PerfbenchBridge.stageBytes(ctx.spark.sparkContext)
  }

  /** Bytes the engine wrote (shuffle + output) per byte it read. */
  def writeAmp(ctx: Ctx): Double = {
    val (in, outB, shuf) = (io1._1 - io0._1, io1._2 - io0._2, io1._3 - io0._3)
    (outB + shuf).toDouble / math.max(1L, in)
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val traced = math.max(1, planMs.size)
    Map(
      "plans.plan_ms" -> Stats.median(planMs.toSeq),
      "plans.exec_ms" -> Stats.median(execMs.toSeq),
      "plans.prejobs" -> ctx.engine.jobs("pb:plan").toDouble / traced) ++
      Layers.mixIds.map(id => s"query.${id}_ms" ->
        Stats.median(ctx.ops.collect { case (k, v) if k == s"q.$id" => v }.toSeq))
  }
}

/** Writes beside reads on one snapshot table: MERGE a correction batch,
  * then aggregate the table through `Snapshots.read`, checking the
  * aggregate against last-write-wins over base + batches. */
final class LakeUpsertWorkload extends Workload {
  val primary = "merge"
  val kinds = Seq("merge", "read")
  override val warmUnits = 2
  private var table = ""
  private var next = 0
  private var nBatches = 0
  private val added, removed, bytesAdded, srcBytes = mutable.ArrayBuffer.empty[Long]
  private var tracedMerges = 0

  private def steps(in: String): JsonNode = Io.json(s"$in/expected.json").get("steps")

  /** count, sum of keys, sum of a per-row hash the generator computes the same way */
  private def aggregate(df: DataFrame): Row = df.agg(count(lit(1)), sum("trade_id"),
    sum(pmod(col("trade_id") * 1000003L + round(col("price") * 100).cast("long") * 31L +
      round(col("qty") * 1000).cast("long") + pmod(col("ts"), lit(1000003L)), lit(2147483647L))))
    .collect()(0)

  private def checkAgg(ctx: Ctx, r: Row, e: JsonNode, what: String): Unit =
    ctx.expect(r.getLong(0) == e.get(0).asLong && r.getLong(1) == e.get(1).asLong &&
      r.getLong(2) == e.get(2).asLong, s"$what: table ${r.toSeq} vs last-write-wins ${e}")

  private def stageBase(ctx: Ctx, in: String, name: String): String = {
    val t = ctx.freshDir(name)
    ctx.group("stage")
    Trace.span("lake.stage") {
      Snapshots.commitAll(t, Snapshots.stageWithStats(
        ctx.spark.read.parquet(s"$in/base.parquet"), t, "day", "trade_id", buckets = 16))
    }
    t
  }

  private def merge(ctx: Ctx, in: String, t: String, b: Int): Unit = {
    val spark = ctx.spark
    val src = s"$in/batch-${"%03d".format(b)}.parquet"
    val before = Snapshots.entriesAll(t).map(e => e.rel -> Snapshots.entryBytes(t, e)).toMap
    ctx.group("merge")
    Trace.span("lake.merge")(ctx.op("merge")(Mutations.mergeInto(spark, t, spark.read.parquet(src), "trade_id", "day")))
    ctx.group("read")
    val r = Trace.span("lake.read")(ctx.op("read")(aggregate(Snapshots.read(spark, t))))
    checkAgg(ctx, r, steps(in).get(b), s"after batch $b")
    // every merge of the run counts here, set-up and warm-up included:
    // bytes rewritten depend on which days a batch re-states, and more
    // merges average that out
    val after = Snapshots.entriesAll(t).map(e => e.rel -> Snapshots.entryBytes(t, e)).toMap
    added += (after.keySet -- before.keySet).size
    removed += (before.keySet -- after.keySet).size
    bytesAdded += (after -- before.keySet).values.sum
    srcBytes += new java.io.File(src).length()
    if (Trace.enabled) tracedMerges += 1
  }

  def setup(ctx: Ctx): Unit = {
    val in = ctx.args.input
    nBatches = Io.json(s"$in/expected.json").get("batches").asInt
    table = stageBase(ctx, in, "lake")
    merge(ctx, in, table, 0)
    next = 1
  }

  def unit(ctx: Ctx, i: Int): Double = {
    val in = ctx.args.input
    if (next == nBatches) { // every batch applied: start over from the base
      table = stageBase(ctx, in, "lake")
      val m = ctx.measuring
      ctx.measuring = false
      merge(ctx, in, table, 0)
      ctx.measuring = m
      next = 1
    }
    val t0 = System.nanoTime()
    merge(ctx, in, table, next)
    next += 1
    (System.nanoTime() - t0) / 1e9
  }

  /** The whole table against last-write-wins, with the rows read plainly
    * rather than through the read path the units time. */
  override def finish(ctx: Ctx): Unit = {
    val live = Snapshots.entriesAll(table).map(e => s"$table/${e.rel}")
    checkAgg(ctx, aggregate(ctx.spark.read.parquet(live: _*)), steps(ctx.args.input).get(next - 1),
      "final table")
  }

  def writeAmp(ctx: Ctx): Double = bytesAdded.sum.toDouble / math.max(1L, srcBytes.sum)

  def layers(ctx: Ctx): Map[String, Double] = {
    def med(xs: Seq[Long]) = Stats.median(xs.map(_.toDouble))
    val live = Snapshots.entriesAll(table)
    Map(
      "lake.files_added" -> med(added.toSeq), "lake.files_removed" -> med(removed.toSeq),
      "lake.bytes_added" -> med(bytesAdded.toSeq), "lake.live_files" -> live.size.toDouble,
      "lake.live_bytes" -> live.map(Snapshots.entryBytes(table, _)).sum.toDouble,
      "lake.merge_jobs" -> ctx.engine.jobs("pb:merge").toDouble / math.max(1, tracedMerges))
  }
}
