package graft

import graft.streaming.Pipelines
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics (SURVEY §2.8 T1–T5) driven through
  * real streaming queries over the events fixture. */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  test("stateful streaming runs on the RocksDB state store by default") {
    // every stateful pipeline in this suite (windows, dedup, sessions,
    // stream-stream join) inherits this session default — the provider
    // whose state is disk-backed instead of executor-heap-resident
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
  }

  test("bronze ingest writes event-time partitioned parquet exactly once") {
    val out = tmp("bronze-out")
    val ckpt = tmp("bronze-ckpt")
    val q = Pipelines.bronzeIngest(spark, Sf, out, ckpt)
    q.awaitTermination()

    val written = spark.read.parquet(out)
    val expected = spark.read.parquet(s"$Sf/events.parquet").count()
    assert(written.count() == expected)
    // per-row event-time partitioning (no first-row mis-filing):
    val misfiled = written
      .filter(to_date(col("ts")) =!= col("event_date") ||
        hour(col("ts")) =!= col("event_hour"))
      .count()
    assert(misfiled == 0)

    // T2: restart with the same checkpoint — no new data, no duplicates
    val q2 = Pipelines.bronzeIngest(spark, Sf, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == expected, "restart duplicated rows")
  }

  test("change-feed streaming source: inserts and deletes exactly once across restarts") {
    import graft.ops.lake.{Mutations, Snapshots}
    import spark.implicits._
    val table = tmp("cdfsrc-table")
    val out = tmp("cdfsrc-out")
    val ckpt = tmp("cdfsrc-ckpt")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")

    // v1 base, v2 append, v3 a DV delete — all BEFORE the stream starts
    Snapshots.commit(table, Snapshots.stage(
      df3((1L, "a", 1.0), (2L, "a", 2.0), (10L, "b", 10.0), (11L, "b", 11.0)),
      table, "day"))
    Snapshots.commit(table, Snapshots.stage(df3((20L, "c", 20.0)), table, "day"))
    Mutations.deleteWhere(spark, table, col("id") === 2)

    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def got(): Seq[(Long, String)] =
      spark.read.parquet(out).select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    // bootstrap batch = the current snapshot as inserts, vectors applied
    drain()
    assert(got() == Seq((1L, "insert"), (10L, "insert"), (11L, "insert"),
      (20L, "insert")))

    // the table mutates while the stream is down: v4 DV delete, v5 append
    Mutations.deleteWhere(spark, table, col("id") === 10)
    Snapshots.commit(table, Snapshots.stage(df3((30L, "d", 30.0)), table, "day"))

    // restart from the checkpoint: ONLY the (v3, v5] range — the delete
    // surfaces as a delete row, the append as an insert, nothing replays
    drain()
    assert(got() == Seq((1L, "insert"), (10L, "delete"), (10L, "insert"),
      (11L, "insert"), (20L, "insert"), (30L, "insert")))

    // a third drain with nothing new adds nothing
    drain()
    assert(got().size == 6, "an idle restart must emit no rows")
  }

  test("graft sink: exactly-once lake commits from a stream; source→sink loop") {
    import graft.ops.lake.{Mutations, Snapshots}
    import spark.implicits._
    val src = tmp("gsink-src")
    val dst = tmp("gsink-dst")
    val ckpt = tmp("gsink-ckpt")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")

    Snapshots.commit(src, Snapshots.stage(
      df3((1L, "a", 1.0), (2L, "b", 2.0)), src, "day"))        // v1
    Mutations.deleteWhere(spark, src, col("id") === 2)          // v2 (DV)

    // the full loop: lake CDF source → lake sink, one AvailableNow
    // drain (_row_id is the feed's lineage column, reserved in any
    // destination table — dropped before the sink, the documented shape)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes").load(src)
        .drop(Snapshots.RowIdCol)
        .writeStream.format("graft").option("tagCol", "day")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    def got(): Seq[(Long, String)] =
      Snapshots.read(spark, dst).select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    drain()
    assert(got() == Seq((1L, "insert")),
      "bootstrap batch = the live snapshot as inserts, vectors applied")
    val vAfterFirst = Snapshots.currentVersion(dst)
    // replayed drain with nothing new: NO new sink version (the
    // batchId+1 idempotency — a restarted query cannot double-commit)
    drain()
    assert(Snapshots.currentVersion(dst) == vAfterFirst)
    assert(got() == Seq((1L, "insert")))
    // the source mutates; the next drain appends exactly the delta, and
    // the sink table is a REAL lake table (versioned, time-travelable)
    Snapshots.commit(src, Snapshots.stage(df3((3L, "c", 3.0)), src, "day"))
    drain()
    assert(got() == Seq((1L, "insert"), (3L, "insert")))
    assert(Snapshots.currentVersion(dst) > vAfterFirst)
    assert(Snapshots.readVersion(spark, dst, vAfterFirst).count() == 1L,
      "earlier sink versions stay readable (it is a snapshot table)")
    // update/complete modes are refused loudly
    import org.apache.spark.sql.functions.{count => fcount}
    intercept[Exception] {
      spark.readStream.format("graft-changes").load(src)
        .groupBy($"day").agg(fcount($"id").as("n"))
        .writeStream.format("graft").option("tagCol", "day")
        .option("checkpointLocation", tmp("gsink-ckpt2"))
        .outputMode("complete").start(tmp("gsink-dst2"))
    }
  }

  test("graft sink: foreign commits between drains neither drop batches nor trip the guard") {
    import graft.ops.lake.{Mutations, Snapshots}
    import spark.implicits._
    val src = tmp("gsink3-src")
    val dst = tmp("gsink3-dst")
    val ckpt = tmp("gsink3-ckpt")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")
    def drain(): Unit = {
      // _row_id (feed lineage) dropped before the sink: this dst mixes
      // sink batches with direct foreign commits, so its files must
      // share one schema
      val q = spark.readStream.format("graft-changes").load(src)
        .drop(Snapshots.RowIdCol)
        .writeStream.format("graft").option("tagCol", "day")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    Snapshots.commit(src, Snapshots.stage(df3((1L, "a", 1.0)), src, "day"))
    drain()
    // FOREIGN commits advance the sink table's version between drains —
    // batch-derived version arithmetic would now read the table as
    // "ahead" and silently drop every subsequent batch (r11 advisor
    // find); the applied-batch prop must keep progress independent
    Snapshots.commit(dst, Snapshots.stage(
      df3((100L, "z", 0.0)).withColumn("_change_type", lit("insert")),
      dst, "day"))
    Mutations.deleteWhere(spark, dst, col("id") === 100L)
    Snapshots.commit(src, Snapshots.stage(df3((2L, "b", 2.0)), src, "day"))
    drain()
    val ids = graft.ops.lake.Mutations.readMerged(spark, dst)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L),
      s"batch dropped or doubled after foreign commits: $ids")
    // idle re-drain after the foreign commits: still no double
    drain()
    assert(graft.ops.lake.Mutations.readMerged(spark, dst).count() == 2L)
  }

  test("graft sink: the legacy/fresh-checkpoint ambiguity fails loudly") {
    import graft.ops.lake.Snapshots
    import graft.streaming.GraftSink
    import spark.implicits._
    val dst = tmp("gsink4-dst")
    val one = Seq((1L, "a", 1.0)).toDF("id", "day", "v")
    // a table at version batchId+1 with NO applied prop: either a
    // legacy-sink crash replay (append would double) or a fresh
    // checkpoint against an existing table (skip would drop) — both
    // wrong answers are silent, so the sink must throw
    Snapshots.commit(dst, Snapshots.stage(one, dst, "day")) // v1, foreign
    val sink = new GraftSink(dst, "day", GraftSink.appliedKey("spec-ident"))
    val e = intercept[IllegalArgumentException] { sink.addBatch(0, one) }
    assert(e.getMessage.contains("sinkBootstrap"), e.getMessage)
    assert(Snapshots.read(spark, dst).count() == 1L, "nothing committed")
    // the explicit escape hatch appends deliberately and records the prop
    val forced = new GraftSink(dst, "day",
      GraftSink.appliedKey("spec-ident"), forceAppend = true)
    forced.addBatch(0, Seq((2L, "b", 2.0)).toDF("id", "day", "v"))
    assert(Snapshots.read(spark, dst).count() == 2L)
    // from here the prop governs: a replay of batch 0 no-ops
    forced.addBatch(0, Seq((3L, "c", 3.0)).toDF("id", "day", "v"))
    assert(Snapshots.read(spark, dst).count() == 2L)
  }

  test("graft sink composes: stream → bronze lake → CDC-mirrored silver") {
    import graft.ops.lake.{ChangeApply, Mutations, Snapshots}
    import spark.implicits._
    val in = tmp("gsink2-in")
    val bronze = tmp("gsink2-bronze")
    val silver = tmp("gsink2-silver")
    val ckpt = tmp("gsink2-ckpt")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")

    // batch 1 of raw files → graft sink (tag via .partitionBy — the
    // alternative to the tagCol option)
    df3((1L, "a", 1.0), (2L, "b", 2.0)).write.mode("append").parquet(in)
    def drain(): Unit = {
      val q = spark.readStream.schema(df3().schema).parquet(in)
        .writeStream.format("graft").partitionBy("day")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(bronze)
      q.awaitTermination()
    }
    drain()
    // silver mirrors bronze through the CDC apply (keyed sync)
    ChangeApply.mirror(spark, silver, bronze, Seq("id"), "day")
    assert(Snapshots.read(spark, silver).count() == 2L)
    // more raw files land; one bronze key is corrected via DV delete —
    // the silver catch-up folds BOTH the appended batch and the delete
    df3((3L, "c", 3.0)).write.mode("append").parquet(in)
    drain()
    Mutations.deleteWhere(spark, bronze, col("id") === 2)
    ChangeApply.mirror(spark, silver, bronze, Seq("id"), "day")
    val got = Snapshots.read(spark, silver).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L))
    assert(ChangeApply.appliedVersion(silver) == Snapshots.currentVersion(bronze))
  }

  test("change-feed source fails loudly when a pinned column is renamed mid-stream") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc3-table")
    val out = tmp("cdfsrc3-out")
    val ckpt = tmp("cdfsrc3-ckpt")
    Snapshots.commit(table, Snapshots.stage(
      Seq((1L, "a", 1.0)).toDF("id", "day", "v"), table, "day"))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // a rename lands while the stream is down; NULL-filling `v` would
    // silently blank real data into the sink — the restart must FAIL
    Snapshots.renameColumn(spark, table, "v", "val")
    Snapshots.commit(table, Snapshots.stage(
      Seq((2L, "b", 2.0)).toDF("id", "day", "val"), table, "day"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("restart the stream") ||
      Option(e.getCause).exists(_.getMessage.contains("restart the stream")),
      s"schema change must fail the stream, got: ${e.getMessage}")
  }

  test("change-feed source pins the UNION schema of an evolved table") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc4-table")
    val out = tmp("cdfsrc4-out")
    Snapshots.commit(table, Snapshots.stage(
      Seq((1L, "a", 1.0)).toDF("id", "day", "v"), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      Seq((2L, "b", 2.0, 20L)).toDF("id", "day", "v", "w"), table, "day"))
    // a plain-read schema pin would miss w forever, even across restarts
    val q = spark.readStream.format("graft-changes").load(table)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp("cdfsrc4-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.columns.contains("w"), "evolved column must be in the feed schema")
    val rows = got.select("id", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(rows == Seq((1L, -1L), (2L, 20L)), "era-1 NULL-fills, era-2 carries w")
  }

  test("change-feed source: a batch touching only pre-evolution files does not wedge") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc5-table")
    val out = tmp("cdfsrc5-out")
    val ckpt = tmp("cdfsrc5-ckpt")
    Snapshots.commit(table, Snapshots.stage(
      Seq((1L, "a", 1.0)).toDF("id", "day", "v"), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      Seq((2L, "b", 2.0, 20L)).toDF("id", "day", "v", "w"), table, "day"))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes").load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // pins the union schema incl. w
    // an append of a PRE-evolution-shaped frame: the batch's feed lacks
    // w, but w is still in the table — the stream must NULL-fill, not
    // report a phantom rename and wedge (review find)
    Snapshots.commit(table, Snapshots.stage(
      Seq((3L, "a", 3.0)).toDF("id", "day", "v"), table, "day"))
    drain()
    val rows = spark.read.parquet(out).select("id", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(rows == Seq((1L, -1L), (2L, 20L), (3L, -1L)))
  }

  test("change-feed source: startingVersion tails, maxVersionsPerBatch chunks") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc2-table")
    val out = tmp("cdfsrc2-out")
    val ckpt = tmp("cdfsrc2-ckpt")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")
    Snapshots.commit(table, Snapshots.stage(df3((1L, "a", 1.0)), table, "day"))
    val v0 = Snapshots.currentVersion(table)
    (2 to 4).foreach(i => Snapshots.commit(table,
      Snapshots.stage(df3((i.toLong, "a", i.toDouble)), table, "day")))

    // startingVersion = v0 skips the bootstrap; maxVersionsPerBatch = 1
    // admits one version per micro-batch. The source implements
    // SupportsTriggerAvailableNow (r10), so AvailableNow pins the end
    // target once and drains to it in capped chunks before stopping —
    // pre-r10 it captured the first capped offset as "everything" and
    // ended after one batch
    val q = spark.readStream.format("graft-changes")
      .option("startingVersion", v0.toString)
      .option("maxVersionsPerBatch", "1")
      .load(table)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L),
      "tail-only stream must see exactly the post-start appends")
    val batches = new java.io.File(s"$ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches == 3, s"1-version admission must yield 3 batches, got $batches")
  }

  test("change-feed source: startingTimestamp resolves wall-clock to the live version") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc7-table")
    def df3(rows: (Long, String, Double)*) = rows.toDF("id", "day", "v")
    Snapshots.commit(table, Snapshots.stage(df3((1L, "a", 1.0)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df3((2L, "a", 2.0)), table, "day"))
    // pin publish times so "between v1 and v2" is deterministic
    val log = new java.io.File(table, "_graft_log")
    val t1 = 1700000000000L
    assert(new java.io.File(log, "snap-000000001.txt").setLastModified(t1))
    assert(new java.io.File(log, "snap-000000002.txt").setLastModified(t1 + 60000))
    def drainFrom(opts: (String, String)*): Seq[Long] = {
      val out = tmp(s"cdfsrc7-out-${opts.hashCode.abs}")
      val ckpt = tmp(s"cdfsrc7-ckpt-${opts.hashCode.abs}")
      val r = opts.foldLeft(spark.readStream.format("graft-changes")) {
        case (b, (k, v)) => b.option(k, v) }
      val q = r.load(table)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    // a timestamp between the commits: v1 counts as already-applied,
    // the stream starts AFTER it (the Delta CDF startingTimestamp shape)
    val tsMid = new java.sql.Timestamp(t1 + 30000).toString
    assert(drainFrom("startingTimestamp" -> tsMid) == Seq(2L))
    // a timestamp before the first commit: full bootstrap
    val tsEarly = new java.sql.Timestamp(t1 - 60000).toString
    assert(drainFrom("startingTimestamp" -> tsEarly) == Seq(1L, 2L))
    // the two starting options are exclusive (createSource runs on the
    // stream thread, so the failure surfaces at awaitTermination)
    val bad = spark.readStream.format("graft-changes")
      .option("startingVersion", "1").option("startingTimestamp", tsMid)
      .load(table)
      .writeStream.format("console")
      .option("checkpointLocation", tmp("cdfsrc7-ckpt-x"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    assert(e.getMessage.contains("exclusive"), e.getMessage)
    // DATE-ONLY input (the Delta-accepted form Timestamp.valueOf
    // rejected) parses in the SESSION timezone; a date before every
    // commit bootstraps the full table (r12 advisor find)
    assert(drainFrom("startingTimestamp" -> "1970-01-01") == Seq(1L, 2L))
  }

  test("startingTimestamp parses via the session timezone, fails loudly on garbage") {
    import graft.streaming.ChangesSource
    val utcNoon = ChangesSource.parseStartingTimestamp(spark, "2024-01-15 12:00:00")
    assert(utcNoon == 1705320000000L,
      s"session tz is UTC, so noon must be the UTC instant: $utcNoon")
    // date-only = session-tz midnight
    assert(ChangesSource.parseStartingTimestamp(spark, "2024-01-15") ==
      1705276800000L)
    // fractional seconds accepted (the Timestamp.toString round-trip)
    assert(ChangesSource.parseStartingTimestamp(spark, "2024-01-15 12:00:00.25") ==
      1705320000250L)
    // unparsable input fails WITH the offending string — a silent NULL
    // here would bootstrap the whole corpus from version 0
    val e = intercept[IllegalArgumentException] {
      ChangesSource.parseStartingTimestamp(spark, "last tuesday")
    }
    assert(e.getMessage.contains("last tuesday"), e.getMessage)
  }

  test("graft sink: a wiped-and-reused checkpoint fails loudly, never silently no-ops") {
    import graft.ops.lake.Snapshots
    import graft.streaming.GraftSink
    import spark.implicits._
    val dst = tmp("gsink5-dst")
    def one(id: Long) = Seq((id, "a", 1.0)).toDF("id", "day", "v")
    val sink = new GraftSink(dst, "day", GraftSink.appliedKey("gsink5-ident"))
    sink.addBatch(0, one(1L))
    sink.addBatch(1, one(2L))
    assert(Snapshots.read(spark, dst).count() == 2L)
    // the checkpoint dir is wiped and reused at the same path: batchIds
    // restart at 0 while the TABLE-side cursor says 1 — silently
    // no-oping batches 0..1 would swallow the reprocess with zero
    // signal (r12 advisor find); a genuine crash replay is batchId ==
    // applied and must STAY a silent no-op
    val reborn = new GraftSink(dst, "day", GraftSink.appliedKey("gsink5-ident"))
    val e = intercept[IllegalStateException] { reborn.addBatch(0, one(3L)) }
    assert(e.getMessage.contains("behind the applied cursor"), e.getMessage)
    assert(Snapshots.read(spark, dst).count() == 2L, "nothing committed")
    reborn.addBatch(1, one(4L)) // replay of the LAST batch: silent no-op
    assert(Snapshots.read(spark, dst).count() == 2L)
    // explicit opt-in re-appends and regresses the cursor deliberately
    val forced = new GraftSink(dst, "day",
      GraftSink.appliedKey("gsink5-ident"), forceAppend = true)
    forced.addBatch(0, one(5L))
    assert(Snapshots.read(spark, dst).count() == 3L)
    // the documented ambiguity: a batch EQUAL to the cursor is
    // indistinguishable from a genuine crash replay, so even under
    // forceAppend it no-ops (warned, not silent) — exactly-once wins
    forced.addBatch(0, one(6L))
    assert(Snapshots.read(spark, dst).count() == 3L,
      "batchId == applied must stay a no-op even under sinkBootstrap")
  }

  test("change-feed source: maxFilesPerBatch bounds batches, fat versions admit alone") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc6-table")
    val out = tmp("cdfsrc6-out")
    val ckpt = tmp("cdfsrc6-ckpt")
    def add(rows: (Long, String, Double)*): Unit = Snapshots.commit(table,
      Snapshots.stage(rows.toDF("id", "day", "v"), table, "day"))
    add((1L, "a", 1.0))                                       // v1: 1 file
    add((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0),
        (5L, "e", 5.0), (6L, "f", 6.0))                       // v2: 5 files (fat)
    add((7L, "g", 7.0))                                       // v3: 1 file
    val q = spark.readStream.format("graft-changes")
      .option("maxFilesPerBatch", "2")
      .load(table)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 7L),
      "the capped drain must still deliver every change exactly once")
    val batches = new java.io.File(s"$ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    // v1 fills batch 0 (admitting v2 would blow the cap), the FAT v2
    // admits ALONE in batch 1 (the floor — a wedge otherwise), v3 is
    // batch 2
    assert(batches == 3, s"2-file admission over (1,5,1)-file versions " +
      s"must yield 3 batches, got $batches")
  }

  test("capped change-feed streams step over batchCommitter version gaps") {
    import graft.ops.lake.Snapshots
    import spark.implicits._
    val table = tmp("cdfsrc7-table")
    val out = tmp("cdfsrc7-out")
    // a gapped log: empty batches skip versions (v2 missing)
    val commit = Snapshots.batchCommitter(table, "day")
    commit(Seq((1L, "a", 1.0)).toDF("id", "day", "v"), 0)      // v1
    commit(Seq.empty[(Long, String, Double)].toDF("id", "day", "v"), 1) // gap
    commit(Seq((2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "day", "v"), 2) // v3
    // BOTH admission caps walk the gap: pre-fix, maxFilesPerBatch
    // statted the phantom v2 (crash) and maxVersionsPerBatch could
    // emit offset 2 itself (crash at getBatch)
    for ((opt, value, ckptSuffix) <- Seq(
        ("maxFilesPerBatch", "1", "f"), ("maxVersionsPerBatch", "1", "v"))) {
      val q = spark.readStream.format("graft-changes")
        .option(opt, value)
        .load(table)
        .writeStream.format("parquet").option("path", s"$out/$ckptSuffix")
        .option("checkpointLocation", tmp(s"cdfsrc7-ckpt-$ckptSuffix"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.read.parquet(s"$out/$ckptSuffix").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
        s"$opt must deliver every change across the gap")
    }
  }

  test("watermarked hourly aggregate matches the batch result") {
    val agg = Pipelines.hourlyAgg(Pipelines.eventsStream(spark, Sf))
    val q = agg.writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("hourly_out")
      .select(col("hour_start"), col("event_type"), col("n"))
    val batchRaw = spark.read.parquet(s"$Sf/events.parquet")
    val batch = batchRaw.withColumn("ts", graft.engine.Tables.tsInstant(batchRaw))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val out = tmp("dedup-out")
    val ckpt = tmp("dedup-ckpt")
    val deduped = Pipelines.dedupStream(Pipelines.eventsStream(spark, Sf))
    val q = deduped.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() == got.select("event_id").distinct().count())
  }

  test("session window stream runs and produces sessions") {
    val agg = Pipelines.sessionAgg(Pipelines.eventsStream(spark, Sf))
    val q = agg.writeStream.format("memory").queryName("session_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only watermark-finalized sessions; the fixture
    // spans 30 days so nearly all sessions finalize
    assert(spark.table("session_out").count() > 0)
  }

  test("stream-stream click~purchase join matches the batch range join") {
    val joined = Pipelines.clickPurchaseJoin(spark, Sf)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssj_out").select("purchase_id", "click_id")

    val evRaw = spark.read.parquet(s"$Sf/events.parquet")
    val ev = evRaw.withColumn("ts", graft.engine.Tables.tsInstant(evRaw))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select("purchase_id", "click_id")

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-stream join diverged from batch range join")
  }

  test("stream-static enrichment join matches the batch join") {
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("purchase", 5.0), ("view", 0.1))
      .toDF("event_type", "type_weight")
    val enriched = Pipelines.enrichStream(Pipelines.eventsStream(spark, Sf), dim)
      .select(col("event_id"), col("event_type"), col("type_weight"))
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("enrich_out").collect().toSet
    val batch = graft.engine.Tables(spark, Sf).events
      .join(dim, Seq("event_type"), "left_outer")
      .select(col("event_id"), col("event_type"), col("type_weight"))
      .collect().toSet
    assert(streamed == batch)
    // left-outer: unmatched event types survive with null weight
    assert(streamed.exists(_.isNullAt(2)))
  }

  test("foreachBatch incremental merge maintains unique keys") {
    val target = tmp("merge-target") + "/t"
    val ckpt = tmp("merge-ckpt")
    val q = Pipelines.incrementalMergeStream(
      spark, Pipelines.eventsStream(spark, Sf), target, ckpt)
    q.awaitTermination()
    val got = spark.read.parquet(target)
    val src = spark.read.parquet(s"$Sf/events.parquet")
    assert(got.count() == src.select("event_id").distinct().count())
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("incremental merge compacts: file count stays bounded by partition size") {
    val target = tmp("merge3-target") + "/t"
    val raw = spark.read.parquet(s"$Sf/events.parquet")
    def jan5(bump: Double): String = {
      val d = tmp(s"merge3-src$bump") + "/d"
      raw.filter(to_date(graft.engine.Tables.tsInstant(raw)) === "2024-01-05")
        .withColumn("value", col("value") + bump)
        .write.parquet(d)
      d
    }
    // batch 1: full corpus; batches 2..4 re-upsert the same hot date —
    // the regime where an uncompacted merge leaks shuffle-layout files
    // into the partition every batch
    val jan5Rows = raw
      .filter(to_date(graft.engine.Tables.tsInstant(raw)) === "2024-01-05").count()
    val targetRowsPerFile = 10L
    val bound = (jan5Rows + targetRowsPerFile - 1) / targetRowsPerFile
    val srcs = (tmp("merge3-src0") + "/d") +: (1 to 3).map(i => jan5(i * 1000.0))
    raw.write.parquet(srcs.head)
    srcs.zipWithIndex.foreach { case (src, i) =>
      Pipelines.incrementalMergeStream(spark,
        Pipelines.eventsStream(spark, src, glob = "*.parquet"),
        target, tmp(s"merge3-ckpt$i"), targetRowsPerFile = targetRowsPerFile)
        .awaitTermination()
    }
    // worst case = ⌈rows/target⌉ bucket-writers each splitting once more
    // under maxRecordsPerFile; the point is the bound depends on
    // partition SIZE only, never on how many batches touched it
    val files = new java.io.File(s"$target/event_date=2024-01-05")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 2 * bound - 1,
      s"$files files in the hot partition after 4 batches; bound is ${2 * bound - 1}")
    assert(files >= bound,
      s"maxRecordsPerFile must split $jan5Rows rows into ≥$bound files, got $files")
    // correctness preserved: unique keys, last batch wins
    val got = spark.read.parquet(target)
    assert(got.count() == raw.select("event_id").distinct().count())
    val jan5Min = got.filter(col("event_date") === "2024-01-05")
      .agg(min("value")).head.getDouble(0)
    assert(jan5Min >= 3000.0, "last upsert batch did not win")
  }

  test("incremental corpus ingest dedups across batches and replays idempotently") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val in = tmp("ci-in"); val corpus = tmp("ci-corpus")
    val store = tmp("ci-store"); val ckpt = tmp("ci-ckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream() = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(in)
    def drain(): Unit =
      graft.streaming.CorpusIngest.ingest(spark, stream(), corpus, store, ckpt)
        .awaitTermination()
    // batch 1: B duplicates A after normalization → canonical A kept
    Seq((1L, "Alpha  beta gamma"), (2L, "alpha beta GAMMA"), (3L, "delta soup"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    drain()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L))
    // batch 2: doc 4 re-crawls A's text → dropped by the STORE anti-join;
    // doc 5 is new
    Seq((4L, "ALPHA beta gamma"), (5L, "epsilon fresh"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    drain()
    val afterTwo = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(afterTwo == Set(1L, 3L, 5L), s"got $afterTwo")
    assert(spark.read.parquet(store).select("fingerprint").distinct().count() == 3)
    // replay with the same checkpoint: no new files → corpus unchanged
    drain()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L, 5L))
  }

  test("corpus ingest replay ignores its own partially-committed store partition") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val in = tmp("cir-in"); val corpus = tmp("cir-corpus")
    val store = tmp("cir-store"); val ckpt = tmp("cir-ckpt")
    // simulate a crashed first attempt of batch 0 that committed SOME
    // store fingerprints before the checkpoint recorded the batch: doc
    // 1's fingerprint is already in the store's ingest_batch=0 partition
    graft.streaming.CorpusIngest.fingerprinted(
        Seq((1L, "alpha beta")).toDF("doc_id", "text"))
      .select("fingerprint").withColumn("ingest_batch", lit(0L))
      .write.mode("append").partitionBy("ingest_batch").parquet(store)
    Seq((1L, "alpha beta"), (2L, "other text")).toDF("doc_id", "text")
      .write.mode("append").parquet(in)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    graft.streaming.CorpusIngest.ingest(spark,
      spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet").parquet(in),
      corpus, store, ckpt).awaitTermination()
    // the replayed batch must re-admit doc 1 (its own partial partition
    // is excluded from the anti-join), not drop it forever
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L))
  }

  test("incremental merge rewrites only the partitions present in the batch") {
    val target = tmp("merge2-target") + "/t"
    val raw = spark.read.parquet(s"$Sf/events.parquet") // file-native ts encoding
    val src1 = tmp("merge2-src1") + "/d"
    val src2 = tmp("merge2-src2") + "/d"
    raw.write.parquet(src1)
    // second batch: only 2024-01-05 events, values bumped (an upsert)
    raw.filter(to_date(graft.engine.Tables.tsInstant(raw)) === "2024-01-05")
      .withColumn("value", col("value") + 1000.0)
      .write.parquet(src2)

    val q1 = Pipelines.incrementalMergeStream(spark,
      Pipelines.eventsStream(spark, src1, glob = "*.parquet"),
      target, tmp("merge2-ckpt1"))
    q1.awaitTermination()

    // snapshot the data files of a partition batch 2 does NOT touch
    def partFiles(date: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$target/event_date=$date")
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val before = partFiles("2024-01-10")
    assert(before.nonEmpty, "expected partitioned layout under the target")

    val q2 = Pipelines.incrementalMergeStream(spark,
      Pipelines.eventsStream(spark, src2, glob = "*.parquet"),
      target, tmp("merge2-ckpt2"))
    q2.awaitTermination()

    assert(partFiles("2024-01-10") == before,
      "untouched partition was rewritten by a batch that never touched it")

    // unique keys maintained, and the touched partition took the upsert
    val got = spark.read.parquet(target)
    assert(got.count() == raw.select("event_id").distinct().count())
    assert(got.select("event_id").distinct().count() == got.count())
    val jan5Min = got.filter(col("event_date") === "2024-01-05")
      .agg(min("value")).head.getDouble(0)
    assert(jan5Min >= 1000.0, "incoming batch did not win the merge on matched keys")
  }

  test("ohlcv bars run unchanged as a streaming aggregation (unified engine)") {
    import spark.implicits._
    // the SAME ohlcvBarsOf expression tree (min_by/max_by over the
    // (ts, event_id) struct + decimal volume) must plan as a streaming
    // aggregation — Spark's unified-engine guarantee is what lets the
    // batch-oracled t5 semantics carry to a live trade feed verbatim;
    // complete mode because candles re-state as late trades arrive
    // (and it is the one mode that admits the presentation sort)
    val srcDir = tmp("ohlcv-src")
    val ev = Seq(
      (2L, "2024-01-01 10:00:00", "A", 5.0), // same-instant pair: open
      (1L, "2024-01-01 10:00:00", "A", 9.0), // breaks on event_id
      (3L, "2024-01-01 10:30:00", "A", 7.0),
      (4L, "2024-01-01 11:10:00", "B", 2.0))
      .toDF("event_id", "ts0", "event_type", "value")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    ev.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val q = graft.streaming.EventTime.ohlcvBarsOf(stream)
      .writeStream.format("memory").queryName("ohlcv_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("ohlcv_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7))).toSet
    val batch = graft.streaming.EventTime.ohlcvBarsOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7))).toSet
    assert(streamed == batch,
      "the streaming candles must equal the batch candles row-for-row")
    assert(streamed.exists { case (s, _, open, _, _, close, _, _) =>
      s == "A" && open == 9.0 && close == 7.0 },
      s"deterministic open/close must survive the streaming plan: $streamed")
  }

  test("ohlcv candles finalize once under the watermark, across a restart") {
    import spark.implicits._
    // the APPEND-mode form (r16, the r15 verdict item): a bar emits
    // exactly once — when the watermark passes its hour — and its
    // state evicts, so an infinite trade stream holds only open-hour
    // state; the complete-mode twin above remains the re-statement
    // form. Three runs over one checkpoint prove the restart carries
    // watermark + state: bars finalized in run N never re-emit in N+1.
    val srcDir = tmp("ohlcv-append-src")
    val ckpt = tmp("ohlcv-append-ckpt")
    def ev(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("event_id", "ts0", "event_type", "value")
        .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    val file1 = ev(Seq(
      (2L, "2024-01-01 10:00:00", "A", 5.0), // same-instant pair: open
      (1L, "2024-01-01 10:00:00", "A", 9.0), // breaks on event_id
      (3L, "2024-01-01 10:30:00", "A", 7.0),
      (4L, "2024-01-01 11:05:00", "B", 2.0)))
    file1.write.mode("append").parquet(srcDir)
    val outDir = tmp("ohlcv-append-out")
    // the FILE sink is the restartable append sink (the memory sink
    // refuses checkpoint recovery); each run returns the CUMULATIVE
    // bars, per-run emission is the diff
    var outSchema: org.apache.spark.sql.types.StructType = null
    def runOnce(): Set[(String, Long, Double, Double, Double, Double, Double, Long)] = {
      val stream = spark.readStream.schema(file1.schema).parquet(srcDir)
      val bars = graft.streaming.EventTime.ohlcvBarsStream(stream)
      outSchema = bars.schema
      val q = bars.writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.read.schema(outSchema).parquet(outDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getLong(7))).toSet
    }
    // run 1: watermark reaches 10:55 — no hour is closed, nothing emits
    val run1 = runOnce()
    assert(run1.isEmpty, s"no watermark-closed hour yet: $run1")
    // run 2 (restart): a 12:05 trade moves the watermark to 11:55 —
    // hour 10 (A) closes and emits exactly once
    ev(Seq((5L, "2024-01-01 12:05:00", "B", 4.0)))
      .write.mode("append").parquet(srcDir)
    val run2 = runOnce()
    assert(run2.map(t => (t._1, t._2)) ==
      Set(("A", java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime)),
      s"exactly the closed hour-10 A bar: $run2")
    // run 3 (second restart): 14:30 -> watermark 14:20 closes hours 11
    // and 12 (both B); the already-emitted hour-10 bar must NOT re-emit
    ev(Seq((6L, "2024-01-01 14:30:00", "B", 6.0)))
      .write.mode("append").parquet(srcDir)
    val run3 = runOnce()
    val fresh3 = run3 -- run2
    assert(fresh3.size == 2 && fresh3.forall(_._1 == "B") &&
      run3.size == run2.size + 2,
      s"hours 11 and 12 close, hour 10 never re-emits: $run3")
    // the union across runs equals the batch-oracled t5 semantics
    // restricted to watermark-closed hours — the unified-engine receipt
    val all = file1.unionByName(ev(Seq(
      (5L, "2024-01-01 12:05:00", "B", 4.0),
      (6L, "2024-01-01 14:30:00", "B", 6.0))))
    val closedBelow = java.sql.Timestamp.valueOf("2024-01-01 13:00:00").getTime
    val batch = graft.streaming.EventTime.ohlcvBarsOf(all).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7))).filter(_._2 <= closedBelow).toSet
    assert(run3 == batch,
      "append emission must equal batch candles over the closed hours")
  }
}
