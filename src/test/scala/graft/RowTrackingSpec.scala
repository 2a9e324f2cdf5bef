package graft

import graft.ops.lake.{ChangeApply, Mutations, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-tracking contracts (the Delta row-tracking shape): fresh commits
  * allocate disjoint contiguous id ranges; the change feed emits a
  * stable `_row_id` per row; copy-on-write rewrites (UPDATE, MERGE,
  * OPTIMIZE) preserve identities via the hidden materialized column;
  * and the CDC cancellation keys on narrow fingerprints, never on
  * document-width content. */
class RowTrackingSpec extends AnyFunSuite with SparkFixture {

  private def df(rows: (Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "day", "v")
  }

  /** (key -> row id) of the table's LIVE rows via the bootstrap feed. */
  private def idsByKey(table: String): Map[Long, Long] =
    Snapshots.changes(spark, table, 0, Snapshots.currentVersion(table))
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fresh commits allocate disjoint contiguous ranges; the feed emits ids") {
    val table = tmp("rid-alloc")
    Snapshots.commit(table, Snapshots.stage(
      df((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)), table, "day"))
    val v1Ids = idsByKey(table)
    assert(v1Ids.values.toSeq.sorted == Seq(0L, 1L, 2L),
      s"first commit must allocate ids 0..2, got $v1Ids")
    Snapshots.commit(table, Snapshots.stage(df((4L, "c", 4.0)), table, "day"))
    val v2Ids = idsByKey(table)
    assert(v2Ids(4L) == 3L, s"second commit must continue the range: $v2Ids")
    assert((v2Ids - 4L) == v1Ids,
      "append must not disturb existing ids")
    // the high-water mark rides the snapshot props and every entry
    // carries its base
    assert(Snapshots.snapshotProps(table, 2)("tbl.rowid.high") == "4")
    assert(Snapshots.entriesAll(table).forall(_.props.contains("rowid.base")))
  }

  test("ids survive COW update, keyed merge, DV delete, and compact") {
    val table = tmp("rid-stable")
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      df((1L, "a", 1.0), (2L, "a", 2.0), (10L, "b", 10.0), (11L, "b", 11.0)),
      table, "day", "id", buckets = 2))
    val base = idsByKey(table)
    assert(base.size == 4)

    Mutations.updateWhere(spark, table, col("id") === 1L,
      Map("v" -> lit(100.0)), "day")                       // COW rewrite of a's file
    val afterUpd = idsByKey(table)
    assert(afterUpd == base,
      s"COW update must preserve every id (incl. the updated row): $base -> $afterUpd")

    Mutations.mergeInto(spark, table, df((10L, "b", 999.0), (20L, "c", 20.0)),
      "id", "day")                                          // rewrite b + insert c
    val afterMerge = idsByKey(table)
    assert((afterMerge - 20L) == (base - 10L) + (10L -> base(10L)),
      s"merge must preserve surviving ids: $base -> $afterMerge")
    assert(afterMerge(20L) >= 4L, "an inserted row mints a FRESH id")

    Mutations.deleteWhere(spark, table, col("id") === 2L)   // DV delete: no rewrite
    val afterDel = idsByKey(table)
    assert(afterDel == afterMerge - 2L,
      "a DV delete retires exactly the deleted id")

    Snapshots.compact(spark, table, "day", zorderBy = Seq("id"))
    val afterCompact = idsByKey(table)
    assert(afterCompact == afterDel,
      s"a layout-only rewrite must not re-mint identities: $afterDel -> $afterCompact")
  }

  test("the feed's delete side carries the deleted row's id") {
    val table = tmp("rid-feed")
    Snapshots.commit(table, Snapshots.stage(
      df((1L, "a", 1.0), (2L, "a", 2.0)), table, "day"))
    val before = idsByKey(table)
    Mutations.deleteWhere(spark, table, col("id") === 2L)   // v2 (DV)
    val feed = Snapshots.changes(spark, table, 1, 2)
      .select("id", "_change_type", "_row_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((2L, "delete", before(2L))),
      s"DV delete must emit exactly the deleted row with its id: $feed")
  }

  test("realChanges cancels carry-over on narrow fingerprints, never content keys") {
    import spark.implicits._
    val table = tmp("rid-wide")
    // wide text rows: the cancellation shuffle must key on fingerprints
    val wide = (1L to 8L).map(i => (i, "a", ("lorem-" + i.toString) * 400))
      .toDF("id", "day", "text")
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      wide, table, "day", "id"))                            // v1
    Mutations.updateWhere(spark, table, col("id") === 3L,
      Map("text" -> lit("rewritten")), "day")               // v2: COW of the one file
    val rc = ChangeApply.realChanges(spark, table, 1, 2, Seq("id"))
    val got = rc.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((3L, "delete"), (3L, "insert")),
      s"carry-over of the 7 untouched wide rows must cancel; got $got")
    // both sides of the update carry the SAME row id (identity survives)
    val ids = rc.select("_row_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 1, s"update must keep one identity, got $ids")
    // mechanism pin: the cancellation aggregate groups on
    // (commit, fingerprint, fingerprint) — the text column appears in
    // NO grouping key anywhere in the plan
    val aggs = rc.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions
    }
    assert(aggs.nonEmpty)
    aggs.foreach { ges =>
      val named = ges.flatMap(_.collect {
        case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference => ar.name
      })
      assert(!named.contains("text"),
        s"grouping keys must be fingerprints, not content: $named")
    }
  }

  test("SCD2 segments carry source-row lineage (_source_row_id)") {
    import graft.ops.lake.{ChangeApply, Mutations, Snapshots}
    val src = tmp("rid-scd2-src")
    val tgt = tmp("rid-scd2-tgt")
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df((1L, "a", 1.0), (2L, "a", 2.0)), src, "day", "id"))          // v1
    Mutations.updateWhere(spark, src, col("id") === 1L,
      Map("v" -> lit(10.0)), "day")                                    // v2: in-place
    Mutations.deleteWhere(spark, src, col("id") === 2L)                // v3
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df((2L, "a", 22.0)), src, "day", "id"))                          // v4: reinsert
    ChangeApply.mirrorScd2(spark, tgt, src, Seq("id"), "day")
    val segs = Snapshots.read(spark, tgt)
      .select(col("id"), col(ChangeApply.StartCol),
        col(ChangeApply.SourceRowIdCol)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(s => s._2 -> s._3).toMap).toMap
    // key 1: updated IN PLACE — both segments share one physical
    // lineage id (COW preserved it)
    assert(segs(1L).values.toSet.size == 1,
      s"update chain must share one source row id: ${segs(1L)}")
    // key 2: deleted then REINSERTED — the new segment's lineage id is
    // a fresh physical row, distinct from the original
    assert(segs(2L)(1L) != segs(2L)(4L),
      s"reinsert must mint a fresh source row id: ${segs(2L)}")
  }

  test("SCD2 catch-up preserves untouched segments' row ids (COW identity)") {
    val src = tmp("rid-scd2b-src")
    val tgt = tmp("rid-scd2b-tgt")
    // all 4 keys land in ONE segment file: closing key 1's segment
    // rewrites the whole file, and the content-unchanged segments in it
    // must keep their identities — the pre-r13 readMerged path re-minted
    // every rewritten file's ids on each catch-up (r12 advisor find)
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0)),
      src, "day", "id"))                                               // v1
    ChangeApply.mirrorScd2(spark, tgt, src, Seq("id"), "day")
    def segIds(): Map[(Long, Long), Long] =
      Snapshots.changes(spark, tgt, 0, Snapshots.currentVersion(tgt))
        .select(col("id"), col(ChangeApply.StartCol), col(Snapshots.RowIdCol))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val before = segIds()
    assert(before.size == 4)
    Mutations.updateWhere(spark, src, col("id") === 1L,
      Map("v" -> lit(10.0)), "day")                                    // v2
    ChangeApply.mirrorScd2(spark, tgt, src, Seq("id"), "day")
    val after = segIds()
    assert(after.size == 5, s"one new segment expected: $after")
    before.foreach { case (seg, id) =>
      assert(after(seg) == id,
        s"segment $seg churned its row id across the catch-up: $id -> ${after(seg)}")
    }
    // the new segment (key 1 opened at source v2) minted a FRESH id
    assert(!before.values.toSet.contains(after((1L, 2L))),
      s"new segment must not reuse an existing id: $after")
  }

  test("rowHistory opens only lineage-id-admitted segment files") {
    val src = tmp("rid-hist-src")
    val tgt = tmp("rid-hist-tgt")
    // 64 keys key-clustered into 8 source files: lineage ids allocate
    // in file order, so segment files inherit narrow id ranges and the
    // bootstrap's min./max. _source_row_id stats are selective
    val rows = (0L until 64L).map(i => (i, s"d${i / 16}", i.toDouble))
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df(rows: _*), src, "day", "id", buckets = 8))
    ChangeApply.mirrorScd2(spark, tgt, src, Seq("id"), "day")
    Mutations.updateWhere(spark, src, col("id") === 5L,
      Map("v" -> lit(50.0)), "day")
    ChangeApply.mirrorScd2(spark, tgt, src, Seq("id"), "day")
    val rid = Snapshots.read(spark, tgt)
      .filter(col("id") === 5L && col(ChangeApply.CurrentCol))
      .select(col(ChangeApply.SourceRowIdCol)).head().getLong(0)
    // the id-keyed read returns exactly key 5's update chain
    val hist = ChangeApply.rowHistory(spark, tgt, rid)
      .select(col("id"), col(ChangeApply.StartCol), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hist == Set((5L, 1L, 5.0), (5L, 2L, 50.0)), s"got $hist")
    // file discipline: the lineage-id range prune keeps a strict subset
    val all = Snapshots.entriesAll(tgt)
    assert(all.size >= 6, s"fixture needs several segment files: ${all.size}")
    val pred = Snapshots.rangeOverlap(
      Snapshots.physicalName(tgt, ChangeApply.SourceRowIdCol),
      rid.toDouble, rid.toDouble)
    assert(all.count(pred) < all.size,
      s"point lookup must not open every file: ${all.count(pred)}/${all.size}")
  }

  test("renaming a column onto a reserved name is rejected") {
    import graft.ops.lake.Snapshots
    val table = tmp("rid-rename")
    Snapshots.commit(table, Snapshots.stage(
      df((1L, "a", 1.0)), table, "day"))
    // normal reads HIDE the reserved names, so the live-column
    // collision check alone would admit the rename — after which the
    // column's data silently vanishes from every read (__rid) or every
    // mutation wedges (_row_id)
    Seq("__rid", "_row_id", "_change_type").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Snapshots.renameColumn(spark, table, "v", bad)
      }
      assert(e.getMessage.contains("reserved"), s"$bad: ${e.getMessage}")
    }
    // a legitimate rename still works and row ids survive it
    val before = idsByKey(table)
    Snapshots.renameColumn(spark, table, "v", "val")
    assert(idsByKey(table) == before)
  }

  test("schemaDrift range semantics: (fromV, toV] scopes the audit") {
    import graft.ops.lake.SchemaAudit
    val table = tmp("drift-range")
    Snapshots.commit(table, Snapshots.stage(
      df((1L, "a", 1.0)), table, "day"))                               // v1
    Snapshots.commit(table, Snapshots.stage(
      df((2L, "a", 2.0)).withColumn("note", lit("x")), table, "day"))  // v2: +note
    Snapshots.renameColumn(spark, table, "v", "val")                   // v3
    def drift(f: Long, t: Long) =
      SchemaAudit.schemaDrift(spark, table, f, t)
        .select("version", "change", "column").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // full range: bootstrap adds + the append's add + the rename
    assert(drift(0, 3) == Set(
      (1L, "add", "id"), (1L, "add", "day"), (1L, "add", "v"),
      (2L, "add", "note"), (3L, "rename", "val")))
    // scoped range excludes everything at or before fromV
    assert(drift(2, 3) == Set((3L, "rename", "val")))
    // empty range: no rows
    assert(drift(3, 3).isEmpty)
  }

  test("backfillSchemaLog: one footer pass, then audits are pure props walks") {
    import graft.ops.lake.SchemaAudit
    import scala.jdk.CollectionConverters._
    val table = tmp("drift-backfill")
    // 50 commits; a new column appears at v25
    (1 to 50).foreach { i =>
      val base = df((i.toLong, "a", i.toDouble))
      val staged = if (i >= 25) base.withColumn("c25", lit(i.toLong)) else base
      Snapshots.commit(table, Snapshots.stage(staged, table, "day"))
    }
    // surgical log edit: strip every recorded schema DDL — the whole
    // table becomes PRE-LOG, the state this op exists for
    val logDir = new java.io.File(table, "_graft_log")
    logDir.listFiles().filter(_.getName.startsWith("snap-")).foreach { f =>
      val kept = java.nio.file.Files.readAllLines(f.toPath).asScala
        .filterNot(_.startsWith("#schema.ddl"))
      java.nio.file.Files.write(f.toPath, kept.asJava)
    }
    assert((1L to 50L).forall(v =>
      !Snapshots.snapshotProps(table, v).contains("schema.ddl")),
      "fixture must be fully pre-log")
    def auditRows(): Set[(Long, String, String)] =
      SchemaAudit.schemaDrift(spark, table, 0, 50)
        .select("version", "change", "column").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // pre-backfill: the footer fallback still answers correctly
    val before = auditRows()
    assert(before == Set(
      (1L, "add", "id"), (1L, "add", "day"), (1L, "add", "v"),
      (25L, "add", "c25")), s"got $before")
    // ONE pass recovers all 50; a second call is a no-op (idempotent)
    assert(SchemaAudit.backfillSchemaLog(spark, table) == 50)
    assert(SchemaAudit.backfillSchemaLog(spark, table) == 0)
    // post-backfill: the same audit launches ZERO Spark jobs — a pure
    // driver props walk, no footer IO (shared countJobs fence)
    val (after, auditJobs) = countJobs { auditRows() }
    assert(auditJobs == 0,
      s"backfilled audit must run zero jobs, saw $auditJobs")
    assert(after == before, "backfill must not change the audit's answer")
    // the backfill commit seeded the regular schema log, so later data
    // commits inherit a recorded schema again
    assert(Snapshots.snapshotProps(table,
      Snapshots.currentVersion(table)).contains("schema.ddl"))
  }

  test("reserved id column names are rejected at stage time") {
    import spark.implicits._
    val table = tmp("rid-clash")
    // _row_id: reserved for the feed — rejected before any file lands
    val e = intercept[IllegalArgumentException] {
      Snapshots.stage(
        Seq((1L, "a", 5L)).toDF("id", "day", "_row_id"), table, "day")
    }
    assert(e.getMessage.contains("_row_id"), e.getMessage)
    // __rid: the hidden materialized column — a user column under that
    // name would be hijacked as identity and destroyed by rewrites
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.stage(
        Seq((1L, "a", 5L)).toDF("id", "day", "__rid"), table, "day")
    }
    assert(e2.getMessage.contains("__rid"), e2.getMessage)
    assert(Snapshots.currentVersion(table) == 0L, "nothing staged")
  }

  // ---- pruned reads of rewritten tables ------------------------------

  /** The file indexes behind every scan relation of `d`'s analyzed plan. */
  private def scanIndexes(d: org.apache.spark.sql.DataFrame) =
    d.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.location
    }

  private def liveFiles(table: String): Seq[String] =
    Snapshots.entriesAll(table).map(e => s"$table/${e.rel}")

  private def sortedRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.select(d.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).toSeq.sorted

  test("a MERGEd table reads through one manifest-pruned scan") {
    val table = tmp("rid-one-scan")
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      df((1L, "a", 1.0), (2L, "a", 2.0), (10L, "b", 10.0), (11L, "b", 11.0)),
      table, "day", "id"))
    Mutations.mergeInto(spark, table, df((10L, "b", 999.0), (20L, "c", 20.0)),
      "id", "day")                                          // rewrite b + insert c
    assert(spark.read.option("mergeSchema", "true").parquet(liveFiles(table): _*)
      .columns.contains(Snapshots.RidCol), "the rewrite materializes ids")
    // planning the read probes the new footers on the driver and lists
    // nothing: no listing, inference or footer-probe job
    val (read, jobs) = countJobs(Snapshots.read(spark, table))
    assert(jobs == 0, s"planning the read launched $jobs jobs")
    val groups = Snapshots.schemaGroups(spark, table, Snapshots.currentVersion(table))
    assert(groups.size == 1, s"the hidden id column split the group: ${groups.map(_._1)}")
    assert(groups.head._1.find(_.name == Snapshots.RidCol).exists(_.nullable),
      "files without the id column must read it as NULL")
    val idx = scanIndexes(read)
    assert(idx.size == 1 && idx.head.isInstanceOf[org.apache.spark.sql.GraftFileIndex],
      s"want one GraftFileIndex scan, got ${idx.map(_.getClass.getSimpleName)}")
    assert(!read.columns.contains(Snapshots.RidCol))
    assert(sortedRows(read) ==
      sortedRows(spark.read.parquet(liveFiles(table): _*).drop(Snapshots.RidCol)))
  }

  test("a real added column still splits groups and keeps the plain read") {
    import spark.implicits._
    val table = tmp("rid-evolved")
    Snapshots.commit(table, Snapshots.stage(
      df((1L, "a", 1.0), (2L, "b", 2.0)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      Seq((3L, "c", 3.0, 30L), (4L, "d", 4.0, 40L)).toDF("id", "day", "v", "w"), table, "day"))
    Mutations.mergeInto(spark, table,
      Seq((3L, "c", 33.0, 31L)).toDF("id", "day", "v", "w"), "id", "day")
    val groups = Snapshots.schemaGroups(spark, table, Snapshots.currentVersion(table))
    // two groups: the added column splits, the rewrite's id column does not
    assert(groups.size == 2 &&
      groups.map(_._1.fieldNames.filterNot(_ == Snapshots.RidCol).toSeq).toSet ==
        Set(Seq("id", "day", "v"), Seq("id", "day", "v", "w")), s"${groups.map(_._1)}")
    val read = Snapshots.read(spark, table)
    assert(!scanIndexes(read).exists(_.isInstanceOf[org.apache.spark.sql.GraftFileIndex]),
      "a divergent slice keeps the plain-read fallback")
    assert(sortedRows(read) ==
      sortedRows(spark.read.parquet(liveFiles(table): _*).drop(Snapshots.RidCol)))
  }

  test("row-id reads of a MERGEd table take the pruned scan and keep every id") {
    val table = tmp("rid-pruned-ids")
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      df((1L, "a", 1.0), (2L, "a", 2.0), (10L, "b", 10.0), (11L, "b", 11.0)),
      table, "day", "id"))
    val base = idsByKey(table)
    Mutations.mergeInto(spark, table, df((10L, "b", 999.0), (20L, "c", 20.0)),
      "id", "day")
    val withIds = Snapshots.readMergedWithIds(spark, table)
    val idx = scanIndexes(withIds)
    assert(idx.size == 1 && idx.head.isInstanceOf[org.apache.spark.sql.GraftFileIndex],
      s"want one GraftFileIndex scan, got ${idx.map(_.getClass.getSimpleName)}")
    val got = withIds.select("id", Snapshots.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got - 20L == base,
      s"survivors keep their ids and the matched row inherits its id: $base -> $got")
    assert(got == idsByKey(table), "the feed's plain-scan ids agree")
  }
}
