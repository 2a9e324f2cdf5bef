package graft

import graft.ops.lake.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lakehouse-commit contract: a reader concurrent with a rewrite
  * sees old XOR new (never a mix), a crash at any point leaves a live
  * readable snapshot, and a cross-sink pair commit can lag but never
  * diverge. */
class SnapshotsSpec extends AnyFunSuite with SparkFixture {

  private def df(rows: (Int, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "day", "v")
  }

  private def sorted(d: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long)] =
    d.select("id", "day", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  test("commit publishes atomically; concurrent reader sees old XOR new") {
    val table = tmp("snap-xor")
    val v1 = df((1, "a", 10L), (2, "b", 20L), (3, "b", 30L))
    Snapshots.commit(table, Snapshots.stage(v1, table, "day"))

    // a reader "in flight" — resolved the manifest BEFORE the rewrite
    val oldReader = Snapshots.read(spark, table)

    // rewrite: replace day b with corrected rows (staged files are
    // invisible until the manifest rename)
    val healed = df((2, "b", 200L), (3, "b", 300L))
    val staged = Snapshots.stage(healed, table, "day")
    assert(sorted(Snapshots.read(spark, table)) == sorted(v1),
      "staged-but-uncommitted files must not be visible")
    Snapshots.commit(table, staged, remove = _._2 == "b")

    // old reader: still the complete OLD snapshot (vacuum deferred)
    assert(sorted(oldReader) == sorted(v1))
    // new reader: the complete NEW snapshot — never a mix
    assert(sorted(Snapshots.read(spark, table)) ==
      Seq((1, "a", 10L), (2, "b", 200L), (3, "b", 300L)))
  }

  test("a crash before the manifest rename leaves the old snapshot live") {
    val table = tmp("snap-crash")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    val before = Snapshots.currentVersion(table)

    // simulated crash: files staged, manifest never renamed — plus a
    // torn .tmp manifest left in the log dir
    Snapshots.stage(df((9, "z", 9L)), table, "day")
    val log = new java.io.File(table, "_graft_log")
    java.nio.file.Files.write(
      new java.io.File(log, "manifest-2.tmp-torn").toPath, "garbage".getBytes)

    assert(Snapshots.currentVersion(table) == before)
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L)))
  }

  test("manifest-level tag pruning opens only matching files") {
    val table = tmp("snap-prune")
    Snapshots.commit(table,
      Snapshots.stage(df((1, "a", 1L), (2, "b", 2L), (3, "c", 3L)), table, "day"))
    val pruned = Snapshots.read(spark, table, tagFilter = _ == "b")
    assert(pruned.inputFiles.length == 1, "one tag => one file opened")
    assert(sorted(pruned) == Seq((2, "b", 2L)))
  }

  test("vacuum reclaims only unreferenced files; the live snapshot stays intact") {
    val table = tmp("snap-vac")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L), (2, "b", 2L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 22L)), table, "day"),
      remove = _._2 == "b")
    val reclaimed = Snapshots.vacuum(table)
    assert(reclaimed.nonEmpty, "the replaced day-b file must be reclaimed")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 22L)))
    assert(Snapshots.vacuum(table).isEmpty, "vacuum is idempotent")
  }

  test("pair commit: crash between the two sinks recovers, never diverges") {
    val a = tmp("snap-pair-a"); val b = tmp("snap-pair-b"); val txn = tmp("snap-txn")
    val data = df((1, "a", 1L), (2, "b", 2L))
    // crash simulation: intent durable, sink A committed, sink B not;
    // sink B's snapshot carries props — recovery must reproduce them
    // byte-identically or the idempotent re-commit check would see a
    // conflicting version
    val pa = Snapshots.prepare(a, Snapshots.stage(data, a, "day"))
    val pb = Snapshots.prepare(b, Snapshots.stage(data, b, "day"))
      .copy(props = Map("writer" -> "pair-spec"))
    Snapshots.writeIntent(txn, pa, pb)
    Snapshots.commitPrepared(pa)
    assert(Snapshots.currentVersion(a) == 1 && Snapshots.currentVersion(b) == 0,
      "divergent mid-crash state established")

    // writer restart: recovery completes the lagging side
    assert(Snapshots.recoverPairs(txn) == 1)
    assert(Snapshots.currentVersion(b) == 1)
    assert(Snapshots.snapshotProps(b, 1) == Map("writer" -> "pair-spec"),
      "props must survive the intent record")
    assert(sorted(Snapshots.read(spark, a)) == sorted(Snapshots.read(spark, b)))
    assert(Snapshots.recoverPairs(txn) == 0, "intent cleared; recovery idempotent")
    // the normal path would have published the SAME bytes: re-commit of
    // the recovered side is an idempotent no-op, not a conflict
    Snapshots.commitPrepared(pb)
    assert(Snapshots.currentVersion(b) == 1)
  }

  test("clean pair commit leaves no intent and equal sinks") {
    val a = tmp("snap-cp-a"); val b = tmp("snap-cp-b"); val txn = tmp("snap-cp-txn")
    val data = df((1, "a", 1L))
    val (va, vb) = Snapshots.commitPair(txn,
      Snapshots.prepare(a, Snapshots.stage(data, a, "day")),
      Snapshots.prepare(b, Snapshots.stage(data, b, "day")))
    assert(va == 1 && vb == 1)
    assert(Snapshots.recoverPairs(txn) == 0)
    assert(sorted(Snapshots.read(spark, a)) == sorted(Snapshots.read(spark, b)))
  }

  test("N-way commit: crash mid-fan-out recovers every lagging sink") {
    val a = tmp("snap-n-a"); val b = tmp("snap-n-b"); val c = tmp("snap-n-c")
    val txn = tmp("snap-n-txn")
    val data = df((1, "a", 1L), (2, "b", 2L))
    val ps = Seq(
      Snapshots.prepare(a, Snapshots.stage(data, a, "day")),
      Snapshots.prepare(b, Snapshots.stage(data, b, "day"))
        .copy(props = Map("writer" -> "n-way")),
      Snapshots.prepare(c, Snapshots.stage(data, c, "day")))
    // crash after the FIRST of three commits: two sinks lag
    Snapshots.writeIntent(txn, ps)
    Snapshots.commitPrepared(ps.head)
    assert(Snapshots.currentVersion(a) == 1 &&
      Snapshots.currentVersion(b) == 0 && Snapshots.currentVersion(c) == 0)
    assert(Snapshots.recoverPairs(txn) == 1)
    assert(Seq(a, b, c).forall(Snapshots.currentVersion(_) == 1))
    assert(Snapshots.snapshotProps(b, 1) == Map("writer" -> "n-way"))
    assert(sorted(Snapshots.read(spark, a)) == sorted(Snapshots.read(spark, c)))
    // the clean path: three sinks, one transaction, no intent left
    val d = tmp("snap-n-d"); val e = tmp("snap-n-e"); val f = tmp("snap-n-f")
    val vs = Snapshots.commitMany(txn, Seq(
      Snapshots.prepare(d, Snapshots.stage(data, d, "day")),
      Snapshots.prepare(e, Snapshots.stage(data, e, "day")),
      Snapshots.prepare(f, Snapshots.stage(data, f, "day"))))
    assert(vs == Seq(1L, 1L, 1L))
    assert(Snapshots.recoverPairs(txn) == 0)
    // duplicate table in one transaction is a sequencing bug, refused
    intercept[IllegalArgumentException] {
      Snapshots.commitMany(txn, Seq(
        Snapshots.prepare(d, Snapshots.stage(data, d, "day")),
        Snapshots.prepare(d, Snapshots.stage(data, d, "day"))))
    }
  }

  test("time travel: any committed version reads exactly as committed until vacuum") {
    val table = tmp("snap-tt")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 10L), (2, "b", 20L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 200L)), table, "day"),
      remove = _._2 == "b")
    assert(sorted(Snapshots.readVersion(spark, table, 1)) ==
      Seq((1, "a", 10L), (2, "b", 20L)))
    assert(sorted(Snapshots.readVersion(spark, table, 2)) ==
      Seq((1, "a", 10L), (2, "b", 200L)))
    Snapshots.vacuum(table)
    // retention boundary: superseded versions are gone, live one intact
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, table, 1).collect()
    }
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 10L), (2, "b", 200L)))
  }

  test("change feed: v1->v2 emits delete+insert for swapped files only") {
    val table = tmp("snap-cdc")
    Snapshots.commit(table,
      Snapshots.stage(df((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 200L)), table, "day"),
      remove = _._2 == "b")
    val feed = Snapshots.changes(spark, table, 1, 2)
    val rows = feed.select("id", "day", "v", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._4, r._3)).toSeq
    assert(rows == Seq((2, "b", 20L, "delete"), (2, "b", 200L, "insert")))
    // untouched days are shared between the snapshots: never opened
    assert(feed.inputFiles.length == 2, "only the swapped files are read")
    // bootstrap: from v0 the whole snapshot arrives as inserts
    val boot = Snapshots.changes(spark, table, 0, 2)
    assert(boot.filter(col("_change_type") === "insert").count() == 3)
    // identical versions: empty feed, schema intact
    val none = Snapshots.changes(spark, table, 2, 2)
    assert(none.count() == 0 && none.columns.contains("_change_type"))
    // entriesAt snapshots the listing per version
    assert(Snapshots.entriesAt(table, 0).isEmpty)
    assert(Snapshots.entriesAt(table, 1).size == 3)
    assert(Snapshots.entriesAt(table, 2).size == 3)
  }

  test("refs pin snapshots through vacuum; rollback restores as a new commit") {
    val table = tmp("snap-refs")
    Snapshots.commit(table, Snapshots.stage(
      df((1, "a", 10L), (2, "b", 20L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 200L)), table, "day"),
      remove = _._2 == "b")
    // pin v1 as the reproducibility anchor, then vacuum: v1 SURVIVES
    Snapshots.tagRef(table, "train-run-1", 1)
    Snapshots.vacuum(table)
    assert(sorted(Snapshots.readRef(spark, table, "train-run-1")) ==
      Seq((1, "a", 10L), (2, "b", 20L)),
      "a ref-pinned snapshot must stay readable through vacuum")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 10L), (2, "b", 200L)))

    // rollback: restore v1's content as v3 — history, not mutation
    val v3 = Snapshots.rollback(table, 1)
    assert(v3 == 3 && Snapshots.currentVersion(table) == 3)
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 10L), (2, "b", 20L)))
    assert(Snapshots.snapshotProps(table, v3) - "schema.ddl" - "tbl.rowid.high" ==
      Map("rollback.to" -> "1"))
    // rollback carries the TARGET's props too (bookkeeping like
    // mv.applied must roll back with the rows it describes)
    val v4 = Snapshots.commit(table, Seq.empty, props = Map("mv.applied" -> "7"))
    val v5 = Snapshots.rollback(table, v4)
    assert(Snapshots.snapshotProps(table, v5) - "schema.ddl" - "tbl.rowid.high" ==
      Map("mv.applied" -> "7", "rollback.to" -> v4.toString))

    // drop the pin: v1's snapshot file is reclaimed, but the CONTENT
    // lives on through v3's shared manifests; v2's unique file goes
    assert(Snapshots.dropRef(table, "train-run-1"))
    Snapshots.vacuum(table)
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, table, 1).collect()
    }
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 10L), (2, "b", 20L)))
    // ref hygiene
    intercept[IllegalArgumentException] { Snapshots.tagRef(table, "bad/name", 3) }
    intercept[IllegalArgumentException] { Snapshots.tagRef(table, "ok", 99) }
  }

  test("snapshot props ride the commit atomically; framing characters rejected") {
    val table = tmp("snap-props")
    val v = Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"),
      props = Map("writer" -> "r8", "note" -> "hello world"))
    // schema.ddl rides every data commit (the r11 log-recorded schema)
    assert(Snapshots.snapshotProps(table, v).contains("schema.ddl"))
    // tbl.rowid.high rides every data commit too (r12 row tracking)
    assert(Snapshots.snapshotProps(table, v) - "schema.ddl" - "tbl.rowid.high" ==
      Map("writer" -> "r8", "note" -> "hello world"))
    assert(Snapshots.snapshotProps(table, 0).isEmpty)
    // a props-only commit (no adds/removes) carries the data forward
    val v2 = Snapshots.commit(table, Seq.empty, props = Map("k" -> "v2"))
    assert(Snapshots.snapshotProps(table, v2) - "schema.ddl" - "tbl.rowid.high" ==
      Map("k" -> "v2"))
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L)))
    intercept[IllegalArgumentException] {
      Snapshots.commit(table, Seq.empty, props = Map("bad=key" -> "v"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commit(table, Seq.empty, props = Map("k" -> "a\tb"))
    }
  }

  test("change feed contract: _change_type is reserved; no feed into version 0") {
    // toV = 0 names the empty pre-creation state — rejected with a clear
    // contract error, not an internal 'snapshot does not exist' failure
    val empty = tmp("snap-cdc-empty")
    val e0 = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, empty, 0, 0)
    }
    assert(e0.getMessage.contains("version 0"), e0.getMessage)

    // a snapshot whose DATA schema already carries _change_type would be
    // silently corrupted by the feed's label column — rejected instead
    val clash = tmp("snap-cdc-clash")
    import spark.implicits._
    val data = Seq((1, "a", "user-owned")).toDF("id", "day", "_change_type")
    Snapshots.commit(clash, Snapshots.stage(data, clash, "day"))
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, clash, 0, 1).collect()
    }
    assert(e1.getMessage.contains("_change_type"), e1.getMessage)
  }

  test("incremental consumer: folding the change feed reproduces every snapshot") {
    val rnd = new scala.util.Random(7)
    val table = tmp("snap-cdf-fold")
    var nextId = 0
    def fresh(tag: String, n: Int): Seq[(Int, String, Long)] =
      (1 to n).map { _ => nextId += 1; (nextId, tag, rnd.nextLong(1000)) }
    // append / replace / fragment / compact / append — every commit kind
    Snapshots.commit(table, Snapshots.stage(df(fresh("a", 3): _*), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df(fresh("b", 2): _*), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df(fresh("a", 2): _*), table, "day"),
      remove = _._2 == "a")
    Snapshots.commit(table, Snapshots.stage(df(fresh("b", 1): _*), table, "day"))
    Snapshots.compact(spark, table, "day") // bin-packs the fragmented b
    Snapshots.commit(table, Snapshots.stage(df(fresh("c", 1): _*), table, "day"))
    val cur = Snapshots.currentVersion(table)
    assert(cur == 6, "compact must have committed (b was fragmented)")

    // a downstream consumer holding only a multiset, fed by per-version
    // deltas (a compaction's rewrite arrives as self-cancelling
    // delete+insert pairs — the fold is oblivious to WHY files swapped)
    var state = Map.empty[(Int, String, Long), Int]
    for (v <- 1L to cur) {
      Snapshots.changes(spark, table, v - 1, v)
        .select("id", "day", "v", "_change_type").collect().foreach { r =>
          val key = (r.getInt(0), r.getString(1), r.getLong(2))
          val d = if (r.getString(3) == "insert") 1 else -1
          state = state.updated(key, state.getOrElse(key, 0) + d)
        }
      val expect = sorted(Snapshots.readVersion(spark, table, v))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(state.filter(_._2 != 0) == expect, s"fold diverged at v$v")
    }
  }

  test("compact bin-packs fragmented tags in one atomic commit, content untouched") {
    val table = tmp("snap-compact")
    // three appends fragment day "a" across three files
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "a", 2L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((3, "a", 3L), (4, "b", 4L)), table, "day"))
    val before = Snapshots.entries(table)
    assert(before.count(_._2 == "a") == 3)
    val preVersion = Snapshots.currentVersion(table)

    val v = Snapshots.compact(spark, table, "day")
    assert(v == preVersion + 1)
    val after = Snapshots.entries(table)
    assert(after.count(_._2 == "a") == 1, "day a must pack to one file")
    assert(after.count(_._2 == "b") == 1, "untouched single-file tag stays")
    assert(sorted(Snapshots.read(spark, table)) ==
      Seq((1, "a", 1L), (2, "a", 2L), (3, "a", 3L), (4, "b", 4L)))
    // maintenance is time-travel-safe until vacuum
    assert(sorted(Snapshots.readVersion(spark, table, preVersion)) ==
      sorted(Snapshots.read(spark, table)))
    assert(Snapshots.compact(spark, table, "day") == v, "no empty commits")
  }

  test("streaming batchCommitter: exactly-once visible commits, replay-safe") {
    import org.apache.spark.sql.types._
    val src = tmp("snap-stream-src"); val table = tmp("snap-stream-table")
    val ckpt = tmp("snap-stream-ckpt")
    df((1, "a", 1L)).coalesce(1).write.parquet(s"$src/f1")
    df((2, "b", 2L)).coalesce(1).write.parquet(s"$src/f2")
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("day", StringType), StructField("v", LongType)))
    def drain(cp: String): Unit =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // force one batch per file
        .parquet(s"$src/*")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch(Snapshots.batchCommitter(table, "day"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()

    drain(ckpt)
    assert(Snapshots.currentVersion(table) == 2, "one commit per micro-batch")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)))
    // a reader at v1 sees exactly the first batch — never a partial one
    assert(Snapshots.readVersion(spark, table, 1).count() == 1)

    // restart with the SAME checkpoint: nothing new, nothing doubled
    drain(ckpt)
    assert(Snapshots.currentVersion(table) == 2)
    // full REPLAY (fresh checkpoint, batch ids restart at 0): the
    // version-keyed commit no-ops — visibility stays exactly-once
    drain(tmp("snap-stream-ckpt2"))
    assert(Snapshots.currentVersion(table) == 2)
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)))
  }

  test("snapshot log tracks a pure model under a random append/replace/compact sequence") {
    val rnd = new scala.util.Random(42)
    val table = tmp("snap-model")
    var model = Map.empty[String, Seq[(Int, String, Long)]]
    var nextId = 0
    def freshRows(tag: String, n: Int): Seq[(Int, String, Long)] =
      (1 to n).map { _ => nextId += 1; (nextId, tag, rnd.nextLong(1000)) }
    for (step <- 1 to 15) {
      val tag = Seq("a", "b", "c")(rnd.nextInt(3))
      rnd.nextInt(4) match {
        case 0 => // append to tag
          val rows = freshRows(tag, 1 + rnd.nextInt(3))
          Snapshots.commit(table, Snapshots.stage(df(rows: _*), table, "day"))
          model = model.updated(tag, model.getOrElse(tag, Seq.empty) ++ rows)
        case 1 => // replace tag wholesale
          val rows = freshRows(tag, 1 + rnd.nextInt(3))
          Snapshots.commit(table, Snapshots.stage(df(rows: _*), table, "day"),
            remove = _._2 == tag)
          model = model.updated(tag, rows)
        case 2 if model.nonEmpty => // maintenance must never change content
          Snapshots.compact(spark, table, "day")
        case 3 if model.nonEmpty => // log maintenance: content-invisible too
          Snapshots.compactManifests(table, maxManifests = 2)
        case _ => ()
      }
      if (model.nonEmpty)
        assert(sorted(Snapshots.read(spark, table)) ==
          model.values.flatten.toSeq.sortBy(_._1), s"diverged at step $step")
    }
    Snapshots.vacuum(table)
    assert(sorted(Snapshots.read(spark, table)) ==
      model.values.flatten.toSeq.sortBy(_._1), "diverged after vacuum")
  }

  test("stage encodes exactly one tag per file via the writer layout") {
    val table = tmp("snap-onetag")
    val staged = Snapshots.stage(df((1, "a", 1L), (2, "b", 2L)), table, "day")
    assert(staged.map(_._2).toSet == Set("a", "b"))
    staged.foreach { case (rel, tag) =>
      assert(rel.contains(s"__tag=$tag"), s"$rel must encode its tag directory")
    }
  }

  test("two racing committers: exactly one wins, the loser gets a raised error") {
    val table = tmp("snap-race")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    // both writers prepare v2 from the same base snapshot
    val w1 = Snapshots.prepare(table, Snapshots.stage(df((2, "b", 2L)), table, "day"))
    val w2 = Snapshots.prepare(table, Snapshots.stage(df((3, "c", 3L)), table, "day"))
    assert(w1.version == 2 && w2.version == 2)
    assert(Snapshots.commitPrepared(w1) == 2)
    intercept[Snapshots.ConcurrentCommitException] { Snapshots.commitPrepared(w2) }
    // winner's snapshot intact; loser published nothing
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)))
    // crash-recovery idempotence is NOT conflict: same Prepared re-commits fine
    assert(Snapshots.commitPrepared(w1) == 2)
  }

  test("append-only commits reuse prior manifests by name (O(touched) commit IO)") {
    val table = tmp("snap-reuse")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    val p2 = Snapshots.prepare(table, Snapshots.stage(df((2, "b", 2L)), table, "day"))
    Snapshots.commitPrepared(p2)
    val p3 = Snapshots.prepare(table, Snapshots.stage(df((3, "c", 3L)), table, "day"))
    Snapshots.commitPrepared(p3)
    // v3 lists v2's two manifests verbatim plus exactly one new one
    assert(p3.manifests.size == 3)
    assert(p2.manifests.forall(p3.manifests.contains),
      "untouched manifests must carry over by name, not be rewritten")
    // a replace rewrites ONLY the manifest that loses entries
    val p4 = Snapshots.prepare(table,
      Snapshots.stage(df((9, "b", 9L)), table, "day"), remove = _._2 == "b")
    assert(p4.manifests.count(!p3.manifests.contains(_)) == 1,
      "replace of one tag must touch one manifest (the add; the b-manifest drops whole)")
    Snapshots.commitPrepared(p4)
    assert(sorted(Snapshots.read(spark, table)) ==
      Seq((1, "a", 1L), (3, "c", 3L), (9, "b", 9L)))
  }

  test("tags with Hive-escaped characters round-trip; NULL tags are rejected") {
    val table = tmp("snap-hivetag")
    // '+' and space survive Spark's partition-path escaping unescaped;
    // ':' and '%' are Hive-escaped — URL-decoding would corrupt '+' to
    // a space and desync manifest tags from file contents
    val weird = Seq("k+v", "a b", "p:q", "r%s")
    import spark.implicits._
    val data = weird.zipWithIndex.map { case (t, i) => (i, t, i.toLong) }
    Snapshots.commit(table, Snapshots.stage(data.toDF("id", "day", "v"), table, "day"))
    assert(Snapshots.entries(table).map(_._2).toSet == weird.toSet)
    val pruned = Snapshots.read(spark, table, tagFilter = _ == "k+v")
    assert(pruned.inputFiles.length == 1)
    assert(sorted(pruned) == Seq((0, "k+v", 0L)))
    intercept[IllegalArgumentException] {
      Snapshots.stage(Seq((9, null: String, 9L)).toDF("id", "day", "v"), table, "day")
    }
  }

  test("file stats: range-clustered stage prunes files; row results unchanged") {
    import spark.implicits._
    val table = tmp("snap-stats")
    // two tags x values 1..200, range-clustered into 8 buckets => each
    // file covers a narrow value slice with footer-derived stats
    val data = (1 to 200).flatMap(v => Seq(("a", v.toLong), ("b", v.toLong)))
      .zipWithIndex.map { case ((d, v), i) => (i, d, v) }
      .toDF("id", "day", "v")
    val staged = Snapshots.stageWithStats(data, table, "day", "v", buckets = 8)
    assert(staged.forall(e =>
      e.props.contains("min.v") && e.props.contains("max.v")),
      "every staged file must carry footer min/max stats")
    Snapshots.commitAll(table, staged)
    val pruned = Snapshots.read(spark, table,
      fileFilter = Snapshots.rangeOverlap("v", 180.0, 200.0))
    assert(pruned.inputFiles.length < staged.size,
      s"stats must prune files (${pruned.inputFiles.length} of ${staged.size} opened)")
    // skipping is IO elision, never semantics: row filter on the pruned
    // read equals the same filter on the full read
    val got = pruned.filter($"v" >= 180 && $"v" <= 200)
      .select("id").as[Int].collect().toSet
    val want = Snapshots.read(spark, table)
      .filter($"v" >= 180 && $"v" <= 200)
      .select("id").as[Int].collect().toSet
    assert(got == want && got.size == 42)
    // files staged WITHOUT stats are never pruned (absence can't prove
    // exclusion): append a plain-staged file and re-read
    val extra = Seq((9999, "a", 190L)).toDF("id", "day", "v")
    Snapshots.commit(table, Snapshots.stage(extra, table, "day"))
    val got2 = Snapshots.read(spark, table,
        fileFilter = Snapshots.rangeOverlap("v", 180.0, 200.0))
      .filter($"v" >= 180 && $"v" <= 200).select("id").as[Int].collect().toSet
    assert(got2 == want + 9999, "stats-less files must always be kept")
  }

  test("z-order: 2-D box query prunes files in BOTH dimensions") {
    import spark.implicits._
    val table = tmp("snap-zorder")
    // 64x64 uniform grid, z-clustered into 16 files => each file covers
    // a small box in (x, y), not a stripe in one leading column
    val data = (0 until 4096).map(i => (i, "t", (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "day", "x", "y")
    val staged = Snapshots.stageZOrdered(data, table, "day", Seq("x", "y"), buckets = 16)
    assert(staged.forall(e => Seq("min.x", "max.x", "min.y", "max.y")
      .forall(e.props.contains)), "both dimensions must carry footer stats")
    Snapshots.commitAll(table, staged)
    val total = staged.size
    def opened(f: Snapshots.Entry => Boolean): Int =
      Snapshots.read(spark, table, fileFilter = f).inputFiles.length
    val both = opened(Snapshots.allOf(
      Snapshots.rangeOverlap("x", 0, 15), Snapshots.rangeOverlap("y", 0, 15)))
    val xOnly = opened(Snapshots.rangeOverlap("x", 0, 15))
    val yOnly = opened(Snapshots.rangeOverlap("y", 0, 15))
    assert(xOnly < total && yOnly < total,
      s"EACH single dimension must prune ($xOnly, $yOnly of $total) — " +
        "single-column clustering serves only its leading column")
    assert(both <= total / 4, s"2-D box must prune hard ($both of $total)")
    // IO elision, never semantics
    val got = Snapshots.read(spark, table, fileFilter = Snapshots.allOf(
        Snapshots.rangeOverlap("x", 0, 15), Snapshots.rangeOverlap("y", 0, 15)))
      .filter($"x" <= 15 && $"y" <= 15).select("id").as[Int].collect().toSet
    val want = Snapshots.read(spark, table)
      .filter($"x" <= 15 && $"y" <= 15).select("id").as[Int].collect().toSet
    assert(got == want && got.size == 256)
  }

  test("hll sketches: stats refresh folds sidecars with zero data reads") {
    import graft.ops.lake.{Analyze, DynamicFilter}
    import spark.implicits._
    val table = tmp("snap-hll")
    // two waves sharing 200 ids: the union must count the OVERLAP once
    // (a per-file sum would say 1600)
    val w1 = (0 until 800).map(i => (i.toLong, "a", i.toDouble)).toDF("id", "day", "v")
    val w2 = (600 until 1400).map(i => (i.toLong, "b", i.toDouble)).toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withHll(
      Snapshots.stageWithStats(w1, table, "day", "id", buckets = 4),
      table, "id", spark))
    Snapshots.commitAll(table, Snapshots.withHll(
      Snapshots.restageLike(spark, w2, table, "day"), table, "id", spark))
    val entries = Snapshots.entriesAll(table)
    assert(entries.forall(_.props.contains("ref.hll.id")),
      "every committed entry must carry an hll sidecar reference")
    assert(entries.forall(_.props.values.forall(_.length < 200)),
      "manifest entries must stay sketch-free (sidecar-resident hll)")
    // restageLike must have re-sketched wave 2 too (new sidecar names)
    assert(entries.flatMap(_.props.get("ref.hll.id")).distinct.size >= 2)
    val (rows, stats) = Analyze.analyzeFromSketches(spark, table, Seq("id"))
    assert(rows == 1600L, s"row fold: $rows")
    val ndv = stats.head._2
    assert(math.abs(ndv - 1400L) <= 56, s"union estimate: $ndv") // ~4% tol
    assert(stats.head._3 == 0L, "null fold stays exact")
    // the estimate landed in the SAME props the CBO consumers read
    assert(Analyze.ndvOf(table, "id").contains(ndv))
    assert(Analyze.rowsOf(table).contains(1600L))
    assert(DynamicFilter.strategyByStats(table, "id", maxKeys = 100)
      .contains("range"))
    // THE fence: the fold needs no data files at all — physically
    // remove every parquet file; the refresh still answers identically
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val dataFiles = walk(new java.io.File(table, "data"))
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(f => assert(f.delete()))
    val (rows2, stats2) = Analyze.analyzeFromSketches(spark, table, Seq("id"))
    assert(rows2 == rows && stats2 == stats,
      "the fold must not depend on data files existing")
    // loud refusals: unsketched column, DV-bearing table
    val e1 = intercept[IllegalStateException] {
      Analyze.analyzeFromSketches(spark, table, Seq("v"))
    }
    assert(e1.getMessage.contains("no HLL sketch"), e1.getMessage)
  }

  test("auto analyze: commits past the budget refresh stats by themselves") {
    import graft.ops.lake.{Analyze, DynamicFilter}
    import spark.implicits._
    val table = tmp("snap-auto")
    def wave(lo: Int, hi: Int, day: String) =
      (lo until hi).map(i => (i.toLong, day, i.toDouble)).toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withHll(
      Snapshots.stageWithStats(wave(0, 200, "a"), table, "day", "id",
        buckets = 2), table, "id", spark))
    assert(Analyze.analyzedVersion(table).isEmpty)
    // the declaration commit itself bootstraps the first fold
    // (never-analyzed reads as infinitely stale)
    Analyze.autoAnalyze(table, Seq("id"), maxStaleVersions = 2)
    assert(Analyze.rowsOf(table).contains(200L),
      "the declaration must bootstrap the first sketch fold")
    val analyzed0 = Analyze.analyzedVersion(table).get
    // data commits drift past the budget: the hook re-folds with NO
    // manual ANALYZE anywhere
    (1 to 3).foreach { k =>
      Snapshots.commitAll(table, Snapshots.withHll(
        Snapshots.restageLike(spark, wave(200 * k, 200 * (k + 1), s"d$k"),
          table, "day"), table, "id", spark))
    }
    val analyzed1 = Analyze.analyzedVersion(table).get
    assert(analyzed1 > analyzed0, "drifting commits must re-fold")
    assert(Snapshots.currentVersion(table) - analyzed1 <= 2,
      "staleness must stay within the declared budget")
    assert(Analyze.rowsOf(table).exists(_ >= 600L))
    // the staleness-guarded consumer takes the stats path unaided
    assert(DynamicFilter.strategyByStats(table, "id", maxKeys = 100,
      maxStaleVersions = 2).contains("range"))
    // ZERO-DATA-READ fence: physically remove every parquet file; the
    // refresh keeps running off manifest props + hll sidecars
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val dataFiles = walk(new java.io.File(table, "data"))
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(f => assert(f.delete()))
    (1 to 3).foreach(i =>
      Snapshots.commitProps(table, Map("tbl.note" -> s"n$i")))
    val analyzed2 = Analyze.analyzedVersion(table).get
    assert(analyzed2 > analyzed1,
      "the fold must not depend on data files existing")
    assert(Snapshots.currentVersion(table) - analyzed2 <= 2)
  }

  test("top-k sidecars: driver-only frequency fold flips the salt verdict") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-topk")
    // two waves; key 7L is hot in BOTH (locally top-k everywhere, so
    // the merged lower bound is EXACT for it)
    def wave(day: String, lo: Int) =
      ((0 until 300).map(_ => (7L, day, 1.0)) ++
        (lo until lo + 100).map(i => (i.toLong + 100L, day, 1.0))).toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withTopK(Snapshots.withHll(
      Snapshots.stageWithStats(wave("a", 0), table, "day", "k", buckets = 2),
      table, "k", spark), table, "k", spark))
    // the combined one-pass decorator must be interchangeable with the
    // chained pair (same props, one shared scan — r15 review find)
    Snapshots.commitAll(table, Snapshots.withKeyStats(
      Snapshots.restageLike(spark, wave("b", 100), table, "day"),
      table, "k", spark))
    assert(Snapshots.entriesAll(table).forall(_.props.contains("ref.topk.k")),
      "every committed entry must carry a top-k sidecar reference")
    Analyze.analyzeFromSketches(spark, table, Seq("k"))
    // the fold is a pure DRIVER pass: zero Spark jobs
    val (top, jobs) = countJobs {
      Analyze.frequentKeysFromSketches(table, "k")
    }
    assert(jobs == 0, s"the frequency fold must run zero Spark jobs, saw $jobs")
    assert(top.head._1 == "7" && top.head._2 == 600L,
      s"hot key exact through the lower-bound merge: ${top.head}")
    assert(Analyze.frequentKeysOf(table, "k").exists(_.head == ("7", 600L)))
    // the folded evidence drives the salt verdict (dim over budget)
    val dimT = tmp("snap-topk-dim")
    Snapshots.commitAll(dimT, Snapshots.withHll(
      Snapshots.stageWithStats(
        (0L until 500L).map(i => (i, s"s$i")).toDF("dk", "seg")
          .withColumn("day", lit("d")), dimT, "day", "dk"),
      dimT, "dk", spark))
    Analyze.analyzeFromSketches(spark, dimT, Seq("dk"))
    assert(graft.ops.gold.Skew.strategyByStats(table, "k", dimT,
      broadcastMaxRows = 100).contains("salt"))
    // zero-data-read fence: the fold survives parquet deletion
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(table, "data"))
      .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    assert(Analyze.frequentKeysFromSketches(table, "k").head == ("7", 600L))
    // loud refusals: unsketched column
    val e = intercept[IllegalStateException] {
      Analyze.frequentKeysFromSketches(table, "v")
    }
    assert(e.getMessage.contains("no top-k sidecar"), e.getMessage)
  }

  test("auto analyze keeps the frequency family fresh from sidecars") {
    import graft.ops.lake.{Analyze, Snapshots => S}
    import spark.implicits._
    val table = tmp("snap-auto-freq")
    def wave(day: String) =
      ((0 until 200).map(_ => (3L, day, 1.0)) ++
        (0 until 50).map(i => (i.toLong + 10L, day, 1.0))).toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withTopK(Snapshots.withHll(
      Snapshots.stageWithStats(wave("a"), table, "day", "k", buckets = 2),
      table, "k", spark), table, "k", spark))
    Analyze.autoAnalyze(table, Seq("k"), maxStaleVersions = 2,
      freqColumns = Seq("k"))
    // the declaration bootstraps BOTH families
    assert(Analyze.rowsOf(table).contains(250L))
    assert(Analyze.frequentKeysOf(table, "k").exists(_.head._1 == "3"))
    val f0 = Analyze.freqVersionOf(table, "k").get
    (1 to 3).foreach { i =>
      Snapshots.commitAll(table, Snapshots.withKeyStats(
        Snapshots.restageLike(spark, wave(s"d$i"), table, "day"),
        table, "k", spark))
    }
    val f1 = Analyze.freqVersionOf(table, "k").get
    assert(f1 > f0, "drifting commits must re-fold the frequency family")
    assert(Snapshots.currentVersion(table) - f1 <= 2)
    // the refreshed count reflects every wave (4 x 200 hot rows)
    assert(Analyze.frequentKeysOf(table, "k").exists(_.head == ("3", 800L)))
  }

  test("quantile sidecars: driver-only histogram fold matches the exact form") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-qtl")
    // two waves with DIFFERENT value ranges, so the fold must weigh
    // files correctly (file 2 has 3x the rows of file 1)
    def wave(lo: Int, n: Int, day: String) =
      (0 until n).map(i => ((lo + i).toLong, day, (lo + i).toDouble))
        .toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.stageWithStats(wave(0, 1000, "a"), table, "day", "id",
        buckets = 2), table, "v", spark))
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.restageLike(spark, wave(1000, 3000, "b"), table, "day"),
      table, "v", spark))
    // the fold is a pure DRIVER pass: zero Spark jobs
    val (bounds, jobs) = countJobs {
      Analyze.histogramFromSketches(table, "v", 8)
    }
    assert(jobs == 0, s"the histogram fold must run zero Spark jobs, saw $jobs")
    assert(bounds.size == 8)
    // exact reference boundaries over 0..3999: i*4000/8
    val exact = Analyze.histogram(spark, table, "v", 8)
    bounds.zip(exact).foreach { case (b, e) =>
      assert(math.abs(b - e) <= 4000.0 / 32 + 1,
        s"folded boundary $b must sit within one per-file bucket of $e")
    }
    // the recorded props drive the consumer: selectivity of the lower
    // quarter reads ~0.25 from the FOLDED histogram
    Analyze.histogramFromSketches(table, "v", 8)
    val sel = Analyze.rangeSelectivity(table, "v", 0.0, 999.0).get
    assert(math.abs(sel - 0.25) < 0.06, s"folded selectivity: $sel")
    // zero-data-read fence: physically remove every parquet file; the
    // fold keeps running off sidecar lines
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(table, "data"))
      .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    assert(Analyze.histogramFromSketches(table, "v", 8).size == 8)
    // loud refusal: unsketched column
    val e = intercept[IllegalStateException] {
      Analyze.histogramFromSketches(table, "id")
    }
    assert(e.getMessage.contains("no quantile sidecar"), e.getMessage)
  }

  test("maintenance rewrites re-derive the sketch sidecars (no dead refs)") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    // r16 review find: compact/restage dropped the hll/topk/qtl refs,
    // so the next zero-scan refresh threw and AUTO ANALYZE warned on
    // every commit forever — the rewrite must pay the sketches like it
    // already pays footer stats and blooms
    val table = tmp("snap-sketch-rewrite")
    def wave(day: String) =
      ((0 until 80).map(_ => (7L, day, 1.0)) ++
        (0 until 40).map(i => (i.toLong + 10L, day, i.toDouble)))
        .toDF("k", "day", "v")
    // two commits fragment tag "a" -> the bin-pack branch rewrites it
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.withKeyStats(
        Snapshots.stageWithStats(wave("a"), table, "day", "k"),
        table, "k", spark), table, "v", spark))
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.withKeyStats(
        Snapshots.restageLike(spark, wave("a"), table, "day"),
        table, "k", spark), table, "v", spark))
    Snapshots.compact(spark, table, "day")
    assert(Snapshots.entriesAll(table).forall(e =>
      e.props.contains("ref.hll.k") && e.props.contains("ref.topk.k") &&
        e.props.contains("ref.qtl.v")),
      "every rewritten entry must carry all three sketch refs")
    // all three zero-scan folds still run off the rewritten manifest
    assert(Analyze.analyzeFromSketches(spark, table, Seq("k"))._1 == 240L)
    assert(Analyze.frequentKeysFromSketches(table, "k").head._1 == "7")
    assert(Analyze.histogramFromSketches(table, "v", 4).size == 4)
    // the ZORDER branch owes the same contract
    Snapshots.compact(spark, table, "day", zorderBy = Seq("v"))
    assert(Snapshots.entriesAll(table).forall(_.props.contains("ref.qtl.v")),
      "the re-cluster must re-derive the quantile sidecars too")
    assert(Analyze.histogramFromSketches(table, "v", 4).size == 4)
    // DROPPED sketched columns must not crash later writes: old
    // entries keep their ref props, fresh files no longer carry the
    // column (r16 second review find)
    Snapshots.dropColumn(spark, table, "k")
    Snapshots.commitAll(table, Snapshots.restageLike(spark,
      (0 until 5).map(i => (s"e$i", i.toDouble)).toDF("day", "v")
        .select(lit("a").as("day"), col("v")),
      table, "day"))
    Snapshots.compact(spark, table, "day", zorderBy = Seq("v"))
    assert(Analyze.histogramFromSketches(table, "v", 4).size == 4,
      "the surviving column's fold must still run after a dropColumn")
  }

  test("z-order refuses non-numeric clustered columns loudly") {
    import spark.implicits._
    // the Morton bucket comes from a double cast: a string column
    // would silently bucket everything to 0 — a layout that reads as
    // z-ordered but prunes nothing (r16)
    val df = Seq((1L, "a", "x")).toDF("id", "day", "s")
    val e = intercept[IllegalArgumentException] {
      Snapshots.stageZOrdered(df, tmp("snap-zstr"), "day", Seq("s"))
    }
    assert(e.getMessage.contains("numeric/date/timestamp"), e.getMessage)
  }

  test("maintenance rewrites keep the original sketch precision") {
    import spark.implicits._
    // r16 third review pass: rewrites re-derived sidecars at the
    // staging DEFAULTS (lgK=12/k=16/q=32), silently and permanently
    // halving the precision of tables sketched with bigger budgets;
    // the parameters now recover from the live sidecars themselves
    val table = tmp("snap-sketch-prec")
    val rows = (0 until 200).map(i => ((i % 100).toLong, "a", i.toDouble))
      .toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.withTopK(
        Snapshots.withHll(
          // buckets = 1: each file holds all 100 distinct keys, so the
          // k = 64 budget genuinely saturates and the recovered k is
          // observable as the list length
          Snapshots.stageWithStats(rows, table, "day", "k", buckets = 1),
          table, "k", spark, lgK = 14),
        table, "k", spark, k = 64),
      table, "v", spark, q = 64))
    // a second wave + bin-pack forces the rewrite path twice
    // (restageLike inside the commit, then compact)
    Snapshots.commitAll(table, Snapshots.restageLike(spark, rows, table, "day"))
    Snapshots.compact(spark, table, "day")
    val es = Snapshots.entriesAll(table)
    assert(Snapshots.topKCounts(table, es, "k").forall(_.size == 64),
      "the 100-distinct-key files must keep their k=64 lists")
    assert(Snapshots.quantileSummaries(table, es, "v").flatten
      .forall(_._3.size == 64),
      "quantile summaries must keep their q=64 boundaries")
    assert(Snapshots.hllSketches(table, es, "k").forall(_(3) == 14.toByte),
      "hll sketches must keep their lgK=14 preamble")
  }

  test("all-NULL sketched column: empty sketch recorded, folds stay alive") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    // r16 second review find: a rewritten file whose sketched column
    // reads all-NULL (e.g. pre-evolution rows repacked) used to get NO
    // hll ref — the next zero-scan fold threw forever; it now records
    // an explicit EMPTY sketch (zero distinct values, exactly right)
    val table = tmp("snap-hll-allnull")
    val rows = (0 until 40).map(i =>
      (Option.empty[java.lang.Long], "a", i.toDouble))
      .toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withHll(
      Snapshots.stageWithStats(rows, table, "day", "v", buckets = 2),
      table, "k", spark))
    assert(Snapshots.entriesAll(table).forall(_.props.contains("ref.hll.k")),
      "even an all-NULL file must carry its sketch ref")
    val (n, stats) = Analyze.analyzeFromSketches(spark, table, Seq("k"))
    assert(n == 40L && stats.head._2 == 0L && stats.head._3 == 40L,
      s"all-NULL column: ndv 0, nulls 40 — got $stats")
  }

  test("auto analyze keeps the histogram family fresh from sidecars") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-auto-hist")
    def wave(lo: Int, day: String) =
      (0 until 500).map(i => ((lo + i).toLong, day, (lo + i).toDouble))
        .toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.stageWithStats(wave(0, "a"), table, "day", "id", buckets = 2),
      table, "v", spark))
    Analyze.autoAnalyze(table, Seq.empty, maxStaleVersions = 2,
      histColumns = Seq("v"))
    // the declaration bootstraps the family
    assert(Analyze.histogramOf(table, "v").exists(_.nonEmpty))
    val h0 = Analyze.histogramVersionOf(table, "v").get
    (1 to 3).foreach { i =>
      Snapshots.commitAll(table, Snapshots.withQuantiles(
        Snapshots.restageLike(spark, wave(500 * i, s"d$i"), table, "day"),
        table, "v", spark))
    }
    val h1 = Analyze.histogramVersionOf(table, "v").get
    assert(h1 > h0, "drifting commits must re-fold the histogram family")
    assert(Snapshots.currentVersion(table) - h1 <= 2)
    // the refreshed histogram covers every wave: the top boundary sits
    // near the global max (1999), not wave 1's 499
    assert(Analyze.histogramOf(table, "v").get.last > 1500.0)
  }

  test("auto analyze refreshes at the RECORDED resolution, not the defaults") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-auto-res")
    def wave(lo: Int, day: String) =
      (0 until 400).map(i => ((lo + i).toLong, day, (lo + i).toDouble))
        .toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withQuantiles(
      Snapshots.stageWithStats(wave(0, "a"), table, "day", "id", buckets = 2),
      table, "v", spark))
    // the user records an 8-bucket histogram, then declares auto refresh
    assert(Analyze.histogramFromSketches(table, "v", 8).size == 8)
    Analyze.autoAnalyze(table, Seq.empty, maxStaleVersions = 1,
      histColumns = Seq("v"))
    (1 to 2).foreach { i =>
      Snapshots.commitAll(table, Snapshots.withQuantiles(
        Snapshots.restageLike(spark, wave(400 * i, s"d$i"), table, "day"),
        table, "v", spark))
    }
    val h = Analyze.histogramOf(table, "v").get
    assert(h.size == 8,
      s"the auto refresh must keep the recorded 8-bucket resolution " +
        s"(r16 advisor: folding at the default 32 silently reset it); got ${h.size}")
    // and it did refresh: the top boundary reflects the newest wave
    assert(h.last > 700.0, s"refresh must cover the drift: $h")
  }

  test("requested resolution survives distinct-limited data (no ratchet)") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-res-ratchet")
    // only 3 distinct keys now — the recorded top list is shorter than
    // the requested k=5; a length-derived refresh would pin k=3 forever
    // (r17 review find)
    val sparse = (0 until 60).map(i => (s"k${i % 3}", "a", 1.0))
      .toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withKeyStats(
      Snapshots.stageWithStats(sparse, table, "day", "v", buckets = 2),
      table, "k", spark))
    assert(Analyze.frequentKeys(spark, table, "k", k = 5).size == 3)
    Analyze.autoAnalyze(table, Seq.empty, maxStaleVersions = 1,
      freqColumns = Seq("k"))
    // the column gains cardinality; past-budget commits trigger refresh
    (1 to 2).foreach { w =>
      val dense = (0 until 200).map(i => (s"k${i % 12}", s"d$w", 1.0))
        .toDF("k", "day", "v")
      Snapshots.commitAll(table, Snapshots.withKeyStats(
        Snapshots.restageLike(spark, dense, table, "day"), table, "k", spark))
    }
    val top = Analyze.frequentKeysOf(table, "k").get
    assert(top.size == 5,
      s"the refresh must restore the REQUESTED k=5, not the recorded " +
        s"length 3 (ratchet); got ${top.size}")
  }

  test("a fully-degenerate small 2-D tag still reads as eroded") {
    import spark.implicits._
    val table = tmp("snap-z2d-degen")
    // 4 files in one tag, EVERY file spanning the full range of both
    // clustered columns — zero pruning on either column. A per-column
    // budget scaled to tolerate fresh 2-D layouts (2.0 * 4^(1/2) = 4)
    // sat exactly at this tag's degenerate ratio and never flagged it
    // (r17 review find); the Morton-volume score (4 full boxes = 4 ≫
    // the fresh ~1) separates fresh from degenerate at every F.
    (1 to 4).foreach { w =>
      val wave = (0 until 64).map(i =>
        (w * 1000 + i, "a", (i % 64).toLong, ((i * 17) % 64).toLong))
      Snapshots.commitAll(table, Snapshots.withFooterStats(
        Snapshots.stage(wave.toDF("id", "day", "x", "y"), table, "day"),
        table, Seq("x", "y")))
    }
    assert(Snapshots.entriesAll(table).size == 4)
    assert(Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0) == Set("a"),
      "4 full-span files on both columns must read as eroded")
  }

  test("all-NULL files mixed into a healthy tag do not flag it (no treadmill)") {
    import spark.implicits._
    val table = tmp("snap-z-mixnull")
    // two well-tiled files + two files whose BOTH clustered columns are
    // entirely NULL (late rows with the keys unpopulated). Counting the
    // null files as full boxes scored the healthy tag 1+1+1 > budget —
    // and a rewrite cannot change their prunability, so it re-clustered
    // forever (r17 second review pass)
    val lo = (0 until 64).map(i => (i, "a", Some((i % 32).toLong), Some((i % 32).toLong)))
    val hi = (0 until 64).map(i => (100 + i, "a", Some((32 + i % 32).toLong), Some((32 + i % 32).toLong)))
    val n1 = (0 until 8).map(i => (200 + i, "a", None: Option[Long], None: Option[Long]))
    val n2 = (0 until 8).map(i => (300 + i, "a", None: Option[Long], None: Option[Long]))
    Seq(lo, hi, n1, n2).foreach { w =>
      Snapshots.commitAll(table, Snapshots.withFooterStats(
        Snapshots.stage(w.toDF("id", "day", "x", "y"), table, "day"),
        table, Seq("x", "y")))
    }
    val eroded = Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0)
    assert(eroded.isEmpty,
      s"two tiled boxes + two unhealable all-NULL files must not read " +
        s"as eroded: $eroded")
  }

  test("degeneracy confined to ONE dimension is still detected") {
    import spark.implicits._
    val table = tmp("snap-z-onedim")
    // the time-ordered-append shape: each of 6 files is NARROW in x
    // (disjoint ranges) but FULL-SPAN in y — per-file volume ~ (1/6)*1,
    // so the volume score alone reads ~1 (fresh); y predicates scan
    // every file. The per-column guard (y's width sum 6 > 2*sqrt(6))
    // catches it (r17 second review pass).
    (0 until 6).foreach { w =>
      val wave = (0 until 32).map(i =>
        (w * 100 + i, "a", (w * 32 + i).toLong, ((i * 13) % 200).toLong))
      Snapshots.commitAll(table, Snapshots.withFooterStats(
        Snapshots.stage(wave.toDF("id", "day", "x", "y"), table, "day"),
        table, Seq("x", "y")))
    }
    assert(Snapshots.entriesAll(table).size == 6)
    assert(Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0) == Set("a"),
      "6 files full-span in y must read as eroded though x is tiled")
  }

  test("a table-wide all-NULL clustered column passes the erosion door") {
    import spark.implicits._
    val table = tmp("snap-znull-all")
    // y is NULL in EVERY file: the upfront stats door must not throw
    // (r17 review find — 'compact once' can never mint bounds for
    // values that don't exist, so the old require crashed every
    // scheduled maintenance run), and x alone still drives the verdict
    def wave(lo: Int) = (0 until 64).map(i =>
      (lo + i, "a", ((i * 37) % 64).toLong, None: Option[Long]))
    (1 to 2).foreach { w =>
      Snapshots.commitAll(table, Snapshots.withFooterStats(
        Snapshots.stage(wave(w * 1000).toDF("id", "day", "x", "y"),
          table, "day"), table, Seq("x", "y")))
    }
    val eroded = Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 1.5)
    assert(eroded == Set("a"),
      s"x's two full-span files are the erosion; all-NULL y must neither " +
        s"throw nor mask it: $eroded")
  }

  test("commitPropsAt is a CAS: a stale base loses loudly, never lands late") {
    val table = tmp("snap-cas")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    val base = Snapshots.currentVersion(table)
    // a concurrent data commit takes base+1
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 2L)), table, "day"))
    // the stale claimant must THROW (the r16 advisor race: silently
    // landing at cur+2 while stamping cur+1 described a data commit the
    // stats never saw) — the caller re-reads and stamps truthfully
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.commitPropsAt(table, base, Map("tbl.note" -> "stale"))
    }
    assert(Snapshots.currentVersion(table) == base + 1)
    // the fresh claimant lands exactly at its claimed slot
    val landed = Snapshots.commitPropsAt(table, base + 1, Map("tbl.note" -> "ok"))
    assert(landed == base + 2)
  }

  test("auto analyze: one refresh commit, stamped with itself — no treadmill") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    // r15 advisor: stamping the PRE-commit version plus one commit per
    // family left every stamp lagging the live version by the refresh
    // commits themselves — with a small budget the zero-scan refresh
    // re-triggered on every user commit forever
    val table = tmp("snap-auto-tread")
    val data = ((0 until 100).map(_ => (3L, "a", 1.0)) ++
      (0 until 30).map(i => (i.toLong + 10L, "a", 1.0))).toDF("k", "day", "v")
    Snapshots.commitAll(table, Snapshots.withKeyStats(
      Snapshots.stageWithStats(data, table, "day", "k", buckets = 2),
      table, "k", spark))
    Analyze.autoAnalyze(table, Seq("k"), maxStaleVersions = 1,
      freqColumns = Seq("k"))
    // the declaration bootstraps BOTH families through ONE refresh
    // commit, each family stamped with that commit's own version
    val vAfter = Snapshots.currentVersion(table)
    assert(vAfter == 3L, s"v1 data + v2 declaration + ONE refresh: $vAfter")
    assert(Analyze.analyzedVersion(table).contains(vAfter))
    assert(Analyze.freqVersionOf(table, "k").contains(vAfter))
    // a within-budget commit must NOT re-trigger (distance 1, budget 1)
    Snapshots.commitProps(table, Map("tbl.note" -> "n1"))
    assert(Snapshots.currentVersion(table) == vAfter + 1,
      "a within-budget commit must not grow a refresh commit")
    assert(Analyze.analyzedVersion(table).contains(vAfter))
    // the next commit crosses the budget: exactly ONE refresh commit
    // carrying both families, stamped with itself
    Snapshots.commitProps(table, Map("tbl.note" -> "n2"))
    assert(Snapshots.currentVersion(table) == vAfter + 3,
      "a past-budget commit triggers exactly one refresh commit")
    assert(Analyze.analyzedVersion(table).contains(vAfter + 3))
    assert(Analyze.freqVersionOf(table, "k").contains(vAfter + 3))
  }

  test("auto analyze degrades loudly-soft when the fold cannot run") {
    import graft.ops.lake.Analyze
    import spark.implicits._
    val table = tmp("snap-auto-nosketch")
    val data = (0 until 50).map(i => (i.toLong, "a", i.toDouble)).toDF("id", "day", "v")
    // no withHll: 'id' carries no sketch — the refresh must WARN and
    // leave stats stale, never fail the (already published) commit
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      data, table, "day", "id", buckets = 2))
    Analyze.autoAnalyze(table, Seq("id"), maxStaleVersions = 1)
    Snapshots.commitAll(table, Snapshots.restageLike(spark,
      (50 until 100).map(i => (i.toLong, "b", i.toDouble)).toDF("id", "day", "v"),
      table, "day"))
    assert(Analyze.analyzedVersion(table).isEmpty,
      "an impossible fold leaves stats unrecorded, commits unharmed")
    assert(Snapshots.currentVersion(table) >= 3)
    // guards on the declaration itself
    val e = intercept[IllegalArgumentException] {
      Analyze.autoAnalyze(table, Seq("id"), maxStaleVersions = 0)
    }
    assert(e.getMessage.contains(">= 1"), e.getMessage)
    // the SET TBLPROPERTIES door validates too: a typo'd budget must
    // reject on the commit that introduces it, never silently disable
    // (or fold-on-every-commit) downstream — the hook itself can't
    // throw, the snapshot is already published there
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commitProps(table, Map("tbl.autoanalyze.maxstale" -> "16x"))
    }
    assert(e2.getMessage.contains("integer >= 1"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.commitProps(table, Map("tbl.autoanalyze.maxstale" -> "0"))
    }
    assert(e3.getMessage.contains("integer >= 1"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      Snapshots.commitProps(table, Map("tbl.autoanalyze.cols" -> " , "))
    }
    assert(e4.getMessage.contains("at least one column"), e4.getMessage)
  }

  test("hll sketch refresh refuses deletion vectors loudly") {
    import graft.ops.lake.{Analyze, Mutations}
    import spark.implicits._
    val table = tmp("snap-hll-dv")
    val data = (0 until 100).map(i => (i.toLong, "a", i.toDouble)).toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withHll(
      Snapshots.stageWithStats(data, table, "day", "id", buckets = 2),
      table, "id", spark))
    Mutations.deleteWhere(spark, table, col("id") < 10L)
    val e = intercept[IllegalStateException] {
      Analyze.analyzeFromSketches(spark, table, Seq("id"))
    }
    assert(e.getMessage.contains("deletion"), e.getMessage)
  }

  test("bloom skipping: point lookups prune files stats can't; no false negatives") {
    import spark.implicits._
    val table = tmp("snap-bloom")
    // ids 0..799 range-clustered by v (= id reversed) => every file
    // spans the whole id range: min/max stats on id prune NOTHING,
    // the per-file bloom on id is what prunes
    val data = (0 until 800).map(i => (i.toLong, "t", (799 - i).toLong))
      .toDF("id", "day", "v")
    val staged = Snapshots.withBloom(
      Snapshots.stageWithStats(data, table, "day", "v", buckets = 8),
      table, "id", spark)
    assert(staged.forall(_.props.contains(Snapshots.BloomRefPrefix + "id")),
      "every staged file must carry an id sketch sidecar reference")
    assert(staged.forall(_.props.values.forall(_.length < 200)),
      "manifest entries must stay sketch-free (sidecar-resident blooms)")
    Snapshots.commitAll(table, staged)
    val total = staged.size
    // no false negatives: every present id's pruned read contains it
    for (probe <- Seq(0L, 399L, 799L)) {
      val pruned = Snapshots.read(spark, table,
        fileFilter = Snapshots.mightContainLong(table, "id", probe))
      assert(pruned.inputFiles.length < total,
        s"bloom must prune for id=$probe (${pruned.inputFiles.length} of $total)")
      assert(pruned.filter($"id" === probe).count() == 1)
    }
    // absent id: typically 0 files survive (fp-rate-bounded); the read
    // layer requires >=1 file, so assert at the filter level
    val ghosts = (100000L to 100063L).count(id =>
      staged.exists(Snapshots.mightContainLong(table, "id", id)))
    assert(ghosts <= 8, s"absent-id false-positive files: $ghosts of 64 probes")
  }

  test("a crash between prepare and publish leaves only vacuum fodder; retry converges") {
    val table = tmp("snap-crash-prepare")
    Snapshots.commit(table, Snapshots.stage(
      df((1, "a", 1L), (2, "b", 2L)), table, "day"))            // v1, one manifest
    val liveBefore = Snapshots.entries(table).map(_._1).toSet
    // a maintenance rewrite stages replacement files and PREPARES
    // (manifests durable on disk) … then the process dies before
    // commitPrepared — the window the OCC loop's comments argue about
    val staged = Snapshots.stage(df((1, "a", 10L)), table, "day")
    val p = Snapshots.prepareAllAt(table, 1,
      staged.map { case (r, t) => Snapshots.Entry(r, t) },
      remove = _._2 == "a")
    // crash: `p` is lost. Readers are untouched — nothing references
    // the prepared manifests or staged files
    assert(Snapshots.currentVersion(table) == 1)
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)))
    // every orphan the crash left — staged data files AND the prepared
    // manifests — is vacuum fodder
    val removed = Snapshots.vacuum(table).toSet
    assert(staged.map(_._1).toSet.subsetOf(removed),
      s"staged-but-never-committed data files must reclaim; got $removed")
    val logDir = new java.io.File(table, "_graft_log")
    val mfs = logDir.listFiles().map(_.getName).filter(_.startsWith("mf-")).toSet
    assert(p.manifests.forall(m => !mfs.contains(m) || {
      // a prepared manifest REUSED from v1 by name must survive
      Snapshots.entriesAt(table, 1).nonEmpty && mfs.size >= 1 }))
    assert(mfs.size == 1, s"only v1's manifest may survive, got $mfs")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)),
      "vacuum of crash orphans must never touch live data")
    // the RETRY re-runs the whole read-modify-write and converges
    val staged2 = Snapshots.stage(df((1, "a", 10L)), table, "day")
    val v2 = Snapshots.commitRewrite(table, 1,
      staged2.map { case (r, t) => Snapshots.Entry(r, t) },
      remove = { case (rel, tag) => tag == "a" && liveBefore.contains(rel) })
    assert(v2 == 2)
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 10L), (2, "b", 2L)))
  }

  test("stage splits an oversized tag into size-budgeted files; pruning unchanged") {
    val table = tmp("snap-split")
    // ISOLATED session: suites run in parallel against one shared
    // session, and a global 64 KB advisory-partition window would make
    // every concurrently-writing suite splinter its files — file-count
    // assertions elsewhere (manifest reuse, compaction thresholds)
    // silently depend on it (r14 flake find)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    val rows = (0 until 60000).map(i =>
      (i.toLong, if (i % 20 == 0) "cold" else "hot", s"payload-$i-${i * 2654435761L}%x"))
    val staged = Snapshots.withFooterStats(
      Snapshots.stage(s.createDataFrame(rows).toDF("id", "day", "v"), table, "day"),
      table, Seq("id"))
    val hotFiles = staged.filter(_.tag == "hot")
    assert(hotFiles.size > 1,
      s"a tag larger than the advisory size must split (got ${hotFiles.size} file)")
    assert(staged.filter(_.tag == "cold").nonEmpty)
    // per-file stats ride every split file
    assert(hotFiles.forall(e =>
      e.props.contains("min.id") && e.props.contains("max.id")))
    Snapshots.commitAll(table, staged)
    // tag pruning opens ALL N files of the tag — no more, no fewer
    val pruned = Snapshots.read(s, table, tagFilter = _ == "hot")
    assert(pruned.inputFiles.length == hotFiles.size)
    assert(pruned.count() == rows.count(_._2 == "hot"))
    assert(Snapshots.read(s, table).count() == 60000L)
  }

  test("compact bin-packs toward the target size; well-sized files carry by name") {
    import spark.implicits._
    val table = tmp("snap-binpack")
    def add(n: Int): Unit = Snapshots.commit(table, Snapshots.stage(
      (0 until n).map(i => (i.toLong, "a", s"v$i-${"x" * 32}")).toDF("id", "day", "v"),
      table, "day"))
    add(10); add(10)    // two small fragments of day a
    add(20000)          // one file already past the test's target
    val big = Snapshots.entriesAll(table)
      .maxBy(e => new java.io.File(table, e.rel).length()).rel
    val bigBytes = new java.io.File(table, big).length()
    Snapshots.compact(spark, table, "day", targetFileBytes = bigBytes)
    val after = Snapshots.entriesAll(table)
    assert(after.exists(_.rel == big),
      "a file at/above the target must be carried by name, not rewritten")
    assert(after.size == 2,
      s"the two small fragments must coalesce into one file (got ${after.map(_.rel)})")
    assert(Snapshots.read(spark, table).count() == 20020L)
    // a tag with a single small file has nothing to coalesce: no-op
    val v = Snapshots.currentVersion(table)
    assert(Snapshots.compact(spark, table, "day", targetFileBytes = bigBytes) == v)
  }

  test("bloom sidecars: legacy inline sketches never trusted; orphans vacuum") {
    import spark.implicits._
    val table = tmp("snap-bloom-sidecar")
    val staged = Snapshots.withBloom(
      Snapshots.stageWithStats((0 until 100).map(i => (i.toLong, "t", i.toLong))
        .toDF("id", "day", "v"), table, "day", "v", buckets = 2),
      table, "id", spark)
    Snapshots.commitAll(table, staged)
    // a LEGACY inline sketch (pre-r11 format, possibly hashed at native
    // width) must be ignored — the file is KEPT, never skipped, even
    // when the stale sketch would prove the probe absent (r10 advisor
    // find: false 'definitely absent' on pre-widening sketches)
    val legacyOnly = staged.head.copy(props =
      staged.head.props - (Snapshots.BloomRefPrefix + "id") +
        ("bloom.id" -> java.util.Base64.getEncoder.encodeToString {
          val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 512)
          val out = new java.io.ByteArrayOutputStream(); bf.writeTo(out); out.toByteArray
        }))
    assert(Snapshots.mightContainLong(table, "id", 1L)(legacyOnly),
      "an empty LEGACY sketch would prove absence — it must not be consulted")
    // crash-orphaned sidecar (written, never committed) is vacuum fodder;
    // the committed entries' sidecars survive
    val orphan = new java.io.File(table, "stats/bl-orphan.txt")
    java.nio.file.Files.write(orphan.toPath, "x\tAAAA".getBytes)
    val removed = Snapshots.vacuum(table)
    assert(removed.contains("stats/bl-orphan.txt") && !orphan.exists())
    val live = staged.flatMap(_.props.get(Snapshots.BloomRefPrefix + "id")).distinct
    assert(live.nonEmpty && live.forall(r => new java.io.File(table, r).exists()),
      "referenced sidecars must survive vacuum")
    // probes still prune post-vacuum (sidecar intact end to end)
    assert(Snapshots.read(spark, table,
      fileFilter = Snapshots.mightContainLong(table, "id", 7L))
      .filter($"id" === 7L).count() == 1)
  }

  test("rename/drop are metadata-only; each version reads under its own names") {
    import spark.implicits._
    val table = tmp("snap-rename")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 10L), (2, "b", 20L)), table, "day"))
    val files = Snapshots.entries(table).map(_._1).toSet
    Snapshots.renameColumn(spark, table, "v", "amount")
    assert(Snapshots.entries(table).map(_._1).toSet == files,
      "a rename must move no data file")
    assert(Snapshots.read(spark, table).columns.toSet == Set("id", "day", "amount"))
    // post-rename append arrives under the LOGICAL name and lands in the
    // same physical column — one plain scan (no mergeSchema) serves both eras
    Snapshots.commit(table, Snapshots.stage(
      Seq((3, "c", 30L)).toDF("id", "day", "amount"), table, "day"))
    val got = Snapshots.read(spark, table).select("id", "amount").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1, 10L), (2, 20L), (3, 30L)))
    // time travel: the pre-rename snapshot still reads under its own name
    assert(Snapshots.readVersion(spark, table, 1).columns.toSet == Set("id", "day", "v"))
    // collisions and unknown columns rejected
    intercept[IllegalArgumentException](Snapshots.renameColumn(spark, table, "amount", "id"))
    intercept[IllegalArgumentException](Snapshots.renameColumn(spark, table, "nope", "x"))
    // a rename target that matches a PHYSICAL file column is rejected
    // even when that logical name is free — {a->b, b->c} chains would
    // corrupt reads via rename collisions (r9 review find)
    Snapshots.renameColumn(spark, table, "id", "ident") // frees logical "id"
    val eChain = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, table, "day", "id") // "id" still physical
    }
    assert(eChain.getMessage.contains("physical"), eChain.getMessage)
    Snapshots.renameColumn(spark, table, "ident", "id") // undo-to-own-phys ok
    assert(Snapshots.read(spark, table).columns.toSet == Set("id", "day", "amount"))
    // drop: metadata-only; the physical name is retired for good
    Snapshots.dropColumn(spark, table, "amount")
    assert(Snapshots.read(spark, table).columns.toSet == Set("id", "day"))
    intercept[IllegalArgumentException] {
      Snapshots.stage(Seq((9, "z", 9L)).toDF("id", "day", "v"), table, "day")
    }
  }

  test("rollback across a rename restores that version's names with its rows") {
    val table = tmp("snap-rename-rb")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 10L)), table, "day"))
    Snapshots.renameColumn(spark, table, "v", "amount") // v2
    Snapshots.rollback(table, 1)                        // v3: pre-rename state
    assert(Snapshots.read(spark, table).columns.toSet == Set("id", "day", "v"),
      "rollback across a rename must restore the old logical name")
    Snapshots.rollback(table, 2)                        // v4: renamed state again
    assert(Snapshots.read(spark, table).columns.toSet == Set("id", "day", "amount"))
  }

  test("change feed across a rename presents the TO version's names") {
    import spark.implicits._
    val table = tmp("snap-rename-feed")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 10L), (2, "b", 20L)), table, "day"))
    Snapshots.renameColumn(spark, table, "v", "amount") // v2: metadata-only
    assert(Snapshots.changes(spark, table, 1, 2).count() == 0,
      "a metadata-only rename must produce an empty feed")
    // heal day b AFTER the rename; the v1 -> v3 feed crosses the rename
    Snapshots.commit(table, Snapshots.stage(
      Seq((2, "b", 25L)).toDF("id", "day", "amount"), table, "day"),
      remove = _._2 == "b")
    val feed = Snapshots.changes(spark, table, 1, 3)
    assert(feed.columns.count(_ == "amount") == 1 && !feed.columns.contains("v"),
      s"the feed must stay union-compatible under the live name; got ${feed.columns.toSeq}")
    val rows = feed.select("id", "amount", "_change_type").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(rows == Seq((2, 20L, "delete"), (2, 25L, "insert")))
  }

  test("compact carries mv.* props forward; provenance props are not carried") {
    val table = tmp("snap-compact-props")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "a", 2L)), table, "day"),
      props = Map("mv.applied" -> "7", "rollback.to" -> "1"))
    Snapshots.compact(spark, table, "day") // tag a is fragmented -> rewrite
    val props = Snapshots.snapshotProps(table, Snapshots.currentVersion(table))
    assert(props.get("mv.applied").contains("7"),
      "a layout-only rewrite must not reset MV bookkeeping")
    assert(!props.contains("rollback.to"),
      "provenance props describe their own commit and must not be carried")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "a", 2L)))
  }

  test("zorder compact restores file skipping eroded by unclustered writes") {
    val table = tmp("snap-zcompact")
    // deliberately UNclustered: buckets=1 puts all rows in one task, so
    // each tag's single file spans the full v range — min/max stats
    // prune nothing (the "heavily-rewritten table" shape)
    val rows = (1 to 512).map(i => (i, s"d${i % 4}", (i * 37 % 512).toLong))
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(df(rows: _*), table, "day", "v", buckets = 1))
    def keptFrac(): Double = {
      val es = Snapshots.entriesAll(table)
      es.count(Snapshots.rangeOverlap("v", 0.0, 40.0)).toDouble / es.size
    }
    val before = keptFrac()
    assert(before == 1.0, s"fixture must start unprunable, got $before")
    Snapshots.compact(spark, table, "day", zorderBy = Seq("v"))
    val after = keptFrac()
    assert(after < 0.5, s"re-clustering must restore pruning; kept fraction $after")
    assert(sorted(Snapshots.read(spark, table)) ==
      rows.sortBy(_._1), "re-clustering must not change content")
  }

  test("incremental zorder: only eroded tags rewrite, others carry by name") {
    val table = tmp("snap-zinc")
    // tag a: ONE clustered commit (buckets=4 -> near-disjoint v ranges)
    val rowsA = (1 to 256).map(i => (i, "a", i.toLong))
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(df(rowsA: _*), table, "day", "v", buckets = 4))
    // tag b: TWO overlapping full-range waves (the COW-rewritten shape)
    val rowsB1 = (1 to 256).map(i => (1000 + i, "b", (i * 37 % 256).toLong))
    val rowsB2 = (1 to 256).map(i => (2000 + i, "b", (i * 53 % 256).toLong))
    Snapshots.commitAll(table, Snapshots.restageLike(spark,
      df(rowsB1: _*), table, "day"))
    Snapshots.commitAll(table, Snapshots.restageLike(spark,
      df(rowsB2: _*), table, "day"))
    // the zero-IO verdict: b eroded (2 full-span files), a fresh
    val (eroded, jobs) = countJobs {
      Snapshots.erodedTags(table, Seq("v"), maxOverlap = 1.5)
    }
    assert(jobs == 0, s"the erosion verdict must run zero Spark jobs: $jobs")
    assert(eroded == Set("b"), s"only the fragmented tag is eroded: $eroded")
    val aRelsBefore = Snapshots.entriesAll(table)
      .filter(_.tag == "a").map(_.rel).toSet
    val (v1, reclustered) = Snapshots.reclusterEroded(
      spark, table, "day", Seq("v"), maxOverlap = 1.5)
    assert(reclustered == Set("b"))
    assert(v1 == Snapshots.currentVersion(table))
    // untouched tag a's files carry BY NAME
    val aRelsAfter = Snapshots.entriesAll(table)
      .filter(_.tag == "a").map(_.rel).toSet
    assert(aRelsAfter == aRelsBefore,
      "a fresh tag's files must survive the maintenance commit by name")
    // tag b is healed: a narrow band now prunes most of its files
    val bEntries = Snapshots.entriesAll(table).filter(_.tag == "b")
    assert(bEntries.size > 1, "the re-cluster must keep read parallelism")
    val kept = bEntries.count(Snapshots.rangeOverlap("v", 0.0, 32.0))
    assert(kept < bEntries.size,
      s"re-clustering must restore pruning: $kept of ${bEntries.size} kept")
    // content untouched
    assert(sorted(Snapshots.read(spark, table)) ==
      (rowsA ++ rowsB1 ++ rowsB2).sortBy(_._1))
    // CONVERGENCE: the healed table reports nothing eroded — a second
    // call is a no-commit no-op
    val v2 = Snapshots.currentVersion(table)
    val (v3, again) = Snapshots.reclusterEroded(
      spark, table, "day", Seq("v"), maxOverlap = 1.5)
    assert(again.isEmpty && v3 == v2,
      "a healed table must not re-cluster again (no treadmill)")
    // loud refusal on a column without numeric stats anywhere
    val e = intercept[IllegalArgumentException] {
      Snapshots.reclusterEroded(spark, table, "day", Seq("day"))
    }
    assert(e.getMessage.contains("numeric min/max"), e.getMessage)
  }

  test("multi-column zorder converges: a fresh 2-D Morton layout is not eroded") {
    import spark.implicits._
    val table = tmp("snap-z2d")
    // uniform 64x64 grid over two clustered columns — the shape where a
    // FRESH Morton layout's files tile boxes, so each single column's
    // sum-of-widths/span is legitimately ~F^(1/2), not ~1 (advisor
    // find: a flat maxOverlap=2 budget re-clustered healthy 2-D tags
    // on every run — the treadmill)
    val rows = (0 until 4096).map(i => (i, "a", (i % 64).toLong, (i / 64).toLong))
    Snapshots.commitAll(table, Snapshots.stageZOrdered(
      rows.toDF("id", "day", "x", "y"), table, "day", Seq("x", "y"), buckets = 8))
    val files = Snapshots.entriesAll(table).size
    assert(files >= 4, s"fixture needs a multi-file tag, got $files")
    assert(Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0).isEmpty,
      "a freshly 2-D-clustered tag must not read as eroded (treadmill)")
    // erode with two unclustered full-range waves, detect, heal, converge
    val wave = (0 until 512).map(i =>
      (10000 + i, "a", ((i * 37) % 64).toLong, ((i * 53) % 64).toLong))
    Snapshots.commitAll(table, Snapshots.withFooterStats(
      Snapshots.stage(wave.toDF("id", "day", "x", "y"), table, "day"),
      table, Seq("x", "y")))
    Snapshots.commitAll(table, Snapshots.withFooterStats(
      Snapshots.stage(wave.map(r => r.copy(_1 = r._1 + 10000))
        .toDF("id", "day", "x", "y"), table, "day"),
      table, Seq("x", "y")))
    assert(Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0) == Set("a"),
      "full-span unclustered waves must read as erosion")
    val (_, healed) = Snapshots.reclusterEroded(
      spark, table, "day", Seq("x", "y"), maxOverlap = 2.0)
    assert(healed == Set("a"))
    assert(Snapshots.erodedTags(table, Seq("x", "y"), maxOverlap = 2.0).isEmpty,
      "the healed 2-D tag must not re-cluster again (no treadmill)")
  }

  test("zorder by a DATE column clusters through its epoch-day projection") {
    import spark.implicits._
    val table = tmp("snap-zdate")
    // pre-r17 the type guard admitted DateType and the Morton math then
    // crashed at analysis (DATE cannot cast to DOUBLE) — the projection
    // now goes through unix_date (advisor find)
    val rows = (0 until 256).map(i =>
      (i, "a", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i * 37 % 256))))
    Snapshots.commitAll(table, Snapshots.stageZOrdered(
      rows.toDF("id", "day", "d"), table, "day", Seq("d"), buckets = 4))
    val es = Snapshots.entriesAll(table)
    assert(es.size > 1 && es.forall(_.props.contains("min.d")),
      s"date z-order must record epoch-day bounds: $es")
    // clustering is real: a narrow date band prunes files
    val epoch = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toDouble
    val kept = es.count(Snapshots.rangeOverlap("d", epoch, epoch + 32))
    assert(kept < es.size, s"date clustering must prune: $kept of ${es.size}")
    assert(Snapshots.read(spark, table).count() == 256)
  }

  test("an all-NULL clustered column does not read as eroded forever") {
    import spark.implicits._
    val table = tmp("snap-znull")
    // tag "a": real stats; tag "n": v entirely NULL in BOTH files —
    // footerStats records nulls==rows and no bounds, and no rewrite can
    // ever mint bounds for values that don't exist (advisor find: the
    // old metric flagged such tags eroded on every call)
    val good = (1 to 64).map(i => (i, "a", Some(i.toLong)))
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      good.toDF("id", "day", "v"), table, "day", "v", buckets = 2))
    val nulls1 = (1 to 8).map(i => (100 + i, "n", None: Option[Long]))
    val nulls2 = (1 to 8).map(i => (200 + i, "n", None: Option[Long]))
    Snapshots.commitAll(table, Snapshots.withFooterStats(
      Snapshots.stage(nulls1.toDF("id", "day", "v"), table, "day"), table, Seq("v")))
    Snapshots.commitAll(table, Snapshots.withFooterStats(
      Snapshots.stage(nulls2.toDF("id", "day", "v"), table, "day"), table, Seq("v")))
    val nTag = Snapshots.entriesAll(table).filter(_.tag == "n")
    assert(nTag.size >= 2 && nTag.forall(e => !e.props.contains("min.v")),
      s"fixture: tag n needs >=2 stats-less files, got $nTag")
    val eroded = Snapshots.erodedTags(table, Seq("v"), maxOverlap = 1.5)
    assert(!eroded.contains("n"),
      "a tag whose clustered column is all-NULL must not read as eroded " +
        s"(a rewrite cannot restore its bounds): $eroded")
  }

  test("vacuum retention window: keepVersions retains the newest N snapshots") {
    val table = tmp("snap-vac-keep")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))   // v1
    Snapshots.commit(table, Snapshots.stage(df((2, "a", 2L)), table, "day"),
      remove = _._2 == "a")                                                    // v2
    Snapshots.commit(table, Snapshots.stage(df((3, "a", 3L)), table, "day"),
      remove = _._2 == "a")                                                    // v3
    Snapshots.vacuum(table, keepVersions = 2)
    // v2 stays time-travelable, v1's closure is reclaimed
    assert(sorted(Snapshots.readVersion(spark, table, 2)) == Seq((2, "a", 2L)))
    assert(sorted(Snapshots.read(spark, table)) == Seq((3, "a", 3L)))
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, table, 1))
    // default keepVersions=1: classic live-only vacuum
    Snapshots.vacuum(table)
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, table, 2))
    assert(sorted(Snapshots.read(spark, table)) == Seq((3, "a", 3L)))
  }

  test("OCC retry: two concurrent appenders land every commit in some serial order") {
    val table = tmp("snap-occ-live")
    Snapshots.commit(table, Snapshots.stage(df((1, "seed", 1L)), table, "day"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 5).foreach { i =>
          val staged = Snapshots.stage(df((w * 100 + i, s"w$w-$i", 1L)), table, "day")
          Snapshots.commitAllWithRetry(table,
            staged.map { case (r, t) => Snapshots.Entry(r, t) }, maxRetries = 50)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(errs.isEmpty, s"appenders must never conflict: ${errs.peek()}")
    assert(Snapshots.currentVersion(table) == 11,
      "10 racing appends over the seed must serialize to versions 2..11")
    assert(Snapshots.read(spark, table).count() == 11)
  }

  test("OCC retry: a disjoint winner triggers re-prepare; an overlapping one conflicts") {
    // the remove predicate runs once over the 1-entry table during the
    // retry wrapper's intent scan and once during prepare — injecting
    // the racing commit on the SECOND call lands it exactly inside the
    // prepare->publish window, deterministically
    val table = tmp("snap-occ-branch")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))

    // disjoint: the racer APPENDS; our (non-removing) commit retries and lands
    val racerStaged = Snapshots.stage(df((2, "b", 2L)), table, "day")
    val mine = Snapshots.stage(df((3, "c", 3L)), table, "day")
      .map { case (r, t) => Snapshots.Entry(r, t) }
    var calls = 0
    Snapshots.commitAllWithRetry(table, mine, remove = { _ =>
      calls += 1
      if (calls == 2) Snapshots.commit(table, racerStaged)
      false
    })
    assert(Snapshots.currentVersion(table) == 3 &&
      sorted(Snapshots.read(spark, table)).map(_._1) == Seq(1, 2, 3),
      "a disjoint race must re-prepare and land both commits")

    // overlapping: the racer re-props the very entry we remove (the
    // concurrent-DV-fold shape) — retrying blindly would drop the
    // racer's work, so the wrapper must abort instead
    val victim = Snapshots.entriesAll(table).find(_.tag == "a").get
    val mine2 = Snapshots.stage(df((4, "a", 4L)), table, "day")
      .map { case (r, t) => Snapshots.Entry(r, t) }
    var calls2 = 0
    intercept[Snapshots.ConflictException] {
      Snapshots.commitAllWithRetry(table, mine2, remove = { e =>
        calls2 += 1
        if (calls2 == 4) // 3 entries scanned in the intent pass, then prepare
          Snapshots.commitAll(table,
            Seq(victim.copy(props = victim.props + ("ref.dv" -> "dv/dv-race"))),
            remove = r => r._1 == victim.rel)
        e._1 == victim.rel
      })
    }
  }

  test("commitRewrite: a delete landing after the rewrite's read conflicts, never resurrects") {
    import graft.ops.lake.Mutations
    val table = tmp("snap-rw-conflict")
    // fragment day 'a' across two commits, files wide enough that a
    // 2-row delete stays merge-on-read
    Snapshots.commit(table, Snapshots.stage(
      df((1 to 20).map(i => (i, "a", i.toLong)): _*), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      df((21 to 40).map(i => (i, "a", i.toLong)): _*), table, "day"))
    val v0 = Snapshots.currentVersion(table)
    val rels = Snapshots.entriesAt(table, v0).map(_.rel).toSet

    // the compaction's read + restage, pinned at v0 (what compact does)
    val staged = Snapshots.stage(
      Snapshots.readVersion(spark, table, v0), table, "day")
      .map { case (r, t) => Snapshots.Entry(r, t) }
    // ...then a delete lands BEFORE the rewrite commits (the r9-verdict
    // race: pre-r10 this window silently resurrected the deleted rows)
    Mutations.deleteWhere(spark, table, col("id").isin(3, 27))
    assert(Mutations.readMerged(spark, table).count() == 38)

    intercept[Snapshots.ConflictException] {
      Snapshots.commitRewrite(table, v0, staged,
        remove = { case (rel, _) => rels.contains(rel) })
    }
    // the delete's work is intact; the failed rewrite left no trace
    assert(sorted(Mutations.readMerged(spark, table)) ==
      (1 to 40).filterNot(Set(3, 27)).map(i => (i, "a", i.toLong)))
  }

  test("commitRewrite: a disjoint append retries through; both commits land") {
    val table = tmp("snap-rw-disjoint")
    Snapshots.commit(table, Snapshots.stage(
      df((1, "a", 1L), (2, "a", 2L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((3, "a", 3L)), table, "day"))
    val v0 = Snapshots.currentVersion(table)
    val rels = Snapshots.entriesAt(table, v0).map(_.rel).toSet
    val staged = Snapshots.stage(
      Snapshots.readVersion(spark, table, v0), table, "day")
      .map { case (r, t) => Snapshots.Entry(r, t) }
    // a writer appends a NEW tag after the rewrite's read — untouched
    // by the remove set, so the rewrite must retry and keep it
    Snapshots.commit(table, Snapshots.stage(df((9, "b", 9L)), table, "day"))

    Snapshots.commitRewrite(table, v0, staged,
      remove = { case (rel, _) => rels.contains(rel) })
    assert(sorted(Snapshots.read(spark, table)) ==
      Seq((1, "a", 1L), (2, "a", 2L), (3, "a", 3L), (9, "b", 9L)))
    assert(Snapshots.entries(table).count(_._2 == "a") == 1,
      "day a must be compacted to one file")
  }

  test("compact racing deleteWhere: every interleave serializes or conflicts, no row loss") {
    import graft.ops.lake.Mutations
    for (round <- 1 to 3) {
      val table = tmp(s"snap-race-$round")
      Snapshots.commit(table, Snapshots.stage(
        df((1 to 30).map(i => (i, if (i % 2 == 0) "a" else "b", i.toLong)): _*),
        table, "day"))
      Snapshots.commit(table, Snapshots.stage(
        df((31 to 60).map(i => (i, if (i % 2 == 0) "a" else "b", i.toLong)): _*),
        table, "day"))
      val deleted = Set(4, 17, 44)
      @volatile var deleteOk = false
      @volatile var compactOutcome = "ok"
      val t1 = new Thread(() => {
        try { Snapshots.compact(spark, table, "day"); () }
        catch {
          case _: Snapshots.ConflictException => compactOutcome = "conflict"
          case _: IllegalArgumentException => compactOutcome = "dv-present"
        }
      })
      val t2 = new Thread(() => {
        try {
          Mutations.deleteWhere(spark, table, col("id").isin(deleted.toSeq: _*))
          deleteOk = true
        } catch { case _: Snapshots.ConflictException => () }
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      val expect = (1 to 60).filterNot(i => deleteOk && deleted(i))
        .map(i => (i, if (i % 2 == 0) "a" else "b", i.toLong))
      assert(sorted(Mutations.readMerged(spark, table)) == expect,
        s"round $round (delete=$deleteOk compact=$compactOutcome): " +
          "rows must reflect exactly the commits that succeeded")
    }
  }

  test("changesAttributed: per-commit rows survive net cancellation, bridge renames") {
    val table = tmp("snap-cdf-attr")
    Snapshots.commit(table, Snapshots.stage(
      df((1, "a", 1L), (2, "b", 2L)), table, "day"))            // v1
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 20L)), table, "day"),
      remove = _._2 == "b")                                      // v2: heal day b
    Snapshots.commit(table, Seq.empty, remove = _._2 == "b")     // v3: drop day b

    def rows(d: org.apache.spark.sql.DataFrame): Seq[(Long, String, Int, Long)] =
      d.select("_commit_version", "_change_type", "id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._4)).toSeq

    // the NET diff cancels v2's add-then-remove; the attributed feed
    // keeps the full history with each row's producing commit
    assert(Snapshots.changes(spark, table, 1, 3)
      .filter(col("id") === 2).count() == 1)
    assert(rows(Snapshots.changesAttributed(spark, table, 1, 3)) == Seq(
      (2L, "delete", 2, 2L), (2L, "insert", 2, 20L), (3L, "delete", 2, 20L)))

    // a rename inside the range: earlier steps re-present under the TO
    // version's names, so the union carries ONE schema
    Snapshots.renameColumn(spark, table, "v", "val")             // v4
    Snapshots.commit(table, Snapshots.stage(
      spark.range(1).selectExpr("3 AS id", "'c' AS day", "CAST(30 AS BIGINT) AS val"),
      table, "day"))                                             // v5
    val attr = Snapshots.changesAttributed(spark, table, 2, 5)
    assert(attr.columns.contains("val") && !attr.columns.contains("v"))
    assert(attr.select("_commit_version", "_change_type", "id", "val").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq ==
      Seq((3L, "delete", 2, 20L), (5L, "insert", 3, 30L)))
  }

  test("version resolution is pointer-first: zero log listings on a deep log") {
    val table = tmp("snap-pointer")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    // a deep history — pre-pointer, EVERY resolution listed the whole
    // log directory (O(#commits) filesystem listings per SQL query)
    (1 to 1000).foreach(i => Snapshots.commitProps(table, Map(s"noop.$i" -> "1")))
    assert(Snapshots.currentVersion(table) == 1001L)
    val before = Snapshots.logListings.get()
    (1 to 20).foreach(_ => assert(Snapshots.currentVersion(table) == 1001L))
    Snapshots.read(spark, table).count()
    assert(Snapshots.logListings.get() == before,
      "pointer-bearing logs must resolve the live version without listing")
    // pointer loss falls back to the listing, never to a wrong answer
    new java.io.File(table, "_graft_log/_last").delete()
    assert(Snapshots.currentVersion(table) == 1001L)
    assert(Snapshots.logListings.get() == before + 1, "one fallback listing")
  }

  test("a remove-everything commit reads back empty on the log-recorded schema") {
    import spark.implicits._
    val table = tmp("snap-zero-files")
    Snapshots.commit(table, Snapshots.stage(
      Seq((1, "a", 1L), (2, "b", 2L)).toDF("id", "day", "v"), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      Seq((3, "c", 3L, 30L)).toDF("id", "day", "v", "w"), table, "day"))
    Snapshots.commit(table, Seq.empty, remove = _ => true)   // v3: zero files
    val empty = Snapshots.read(spark, table)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("id", "day", "v", "w"),
      "the log-recorded schema must be the evolution UNION, no file needed")
    // the change feed's empty-range read shares the path
    assert(Snapshots.changes(spark, table, 3, 3).count() == 0)
    // time travel behind the wipe still sees the rows
    assert(Snapshots.readVersion(spark, table, 2, mergeSchema = true).count() == 3)
    // the wiped table composes: append revives it
    Snapshots.commit(table, Snapshots.stage(
      Seq((9, "z", 9L)).toDF("id", "day", "v"), table, "day"))
    assert(sorted(Snapshots.read(spark, table)) == Seq((9, "z", 9L)))
    // vacuum reclaims everything the wipe orphaned; the table stays sane
    Snapshots.vacuum(table)
    assert(sorted(Snapshots.read(spark, table)) == Seq((9, "z", 9L)))
  }

  test("manifest compaction merges the log without touching data or semantics") {
    val table = tmp("snap-mf-compact")
    // 40 append commits → 40 manifests, tags interleaved so arrival
    // order and tag order differ
    (1 to 40).foreach(i => Snapshots.commit(table, Snapshots.stage(
      df((i, if (i % 2 == 0) "even" else "odd", i.toLong)), table, "day")))
    val v0 = Snapshots.currentVersion(table)
    val entriesBefore = Snapshots.entriesAll(table).sortBy(_.rel)
    val dataFiles = entriesBefore.map(_.rel).toSet
    def mfCount(v: Long): Int = {
      val snap = new java.io.File(table, f"_graft_log/snap-$v%09d.txt")
      new String(java.nio.file.Files.readAllBytes(snap.toPath))
        .split("\n").count(l => l.nonEmpty && !l.startsWith("#"))
    }
    assert(mfCount(v0) == 40)
    val v1 = Snapshots.compactManifests(table, maxManifests = 4)
    assert(v1 == v0 + 1)
    assert(mfCount(v1) <= 4, s"log must merge to <= 4 manifests, got ${mfCount(v1)}")
    // entries byte-preserved: same rels, tags, props; zero data IO
    assert(Snapshots.entriesAll(table).sortBy(_.rel) == entriesBefore)
    assert(Snapshots.entriesAll(table).map(_.rel).toSet == dataFiles)
    // tag-sorted regrouping keeps manifest-level tag pruning sharp:
    // one tag's files live in at most half the manifests (+1 boundary)
    val snapLines = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(table, f"_graft_log/snap-$v1%09d.txt").toPath))
      .split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
    val evenMfs = snapLines.count(_.split("\t")(1).split("\u0001").contains("even"))
    assert(evenMfs <= 3, s"tag 'even' must stay tag-local, spans $evenMfs manifests")
    // reads identical; old version still travels on the small manifests
    assert(sorted(Snapshots.read(spark, table)).map(_._1) == (1 to 40))
    assert(Snapshots.readVersion(spark, table, v0).count() == 40)
    // idempotent within bounds: nothing to do → version unchanged
    assert(Snapshots.compactManifests(table, maxManifests = 4) == v1)
    // a compacted-then-appended table keeps composing
    Snapshots.commit(table, Snapshots.stage(df((41, "odd", 41L)), table, "day"))
    assert(sorted(Snapshots.read(spark, table)).map(_._1) == (1 to 41))
  }

  test("racing committers: dense versions, pointer-resolved reads, no lost append") {
    val table = tmp("snap-race-pointer")
    Snapshots.commit(table, Snapshots.stage(df((0, "z", 0L)), table, "day")) // v1
    // stage serially (Spark jobs), RACE only the commits — the
    // component under test is the OCC retry loop + pointer advance
    val staged = (1 to 12).map(i =>
      Snapshots.stage(df((i, s"d$i", i.toLong)), table, "day"))
    val threads = staged.grouped(4).toSeq.map { batch =>
      new Thread(() => batch.foreach { s =>
        Snapshots.commitAllWithRetry(table,
          s.map { case (r, t) => Snapshots.Entry(r, t) }, maxRetries = 50)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every disjoint append lands in SOME serial order: versions dense
    assert(Snapshots.currentVersion(table) == 13L)
    (1L to 13L).foreach(v => assert(
      new java.io.File(table, f"_graft_log/snap-$v%09d.txt").exists(),
      s"version $v missing — a racing commit was lost or skipped"))
    assert(sorted(Snapshots.read(spark, table)).map(_._1) == (0 to 12),
      "every append's rows must be visible")
    // a racing advancePointer may leave the pointer lagging (monotonic
    // lower bound) — resolution must still be listing-free and exact
    val before = Snapshots.logListings.get()
    (1 to 10).foreach(_ => assert(Snapshots.currentVersion(table) == 13L))
    assert(Snapshots.logListings.get() == before)
  }

  test("changesAttributed steps over batchCommitter version gaps") {
    val table = tmp("snap-cdf-gap")
    val commit = Snapshots.batchCommitter(table, "day")
    commit(df((1, "a", 1L)), 0)          // v1
    commit(df(), 1)                      // gap at v2
    commit(df((2, "b", 2L)), 2)          // v3
    val attr = Snapshots.changesAttributed(spark, table, 0, 3)
    assert(attr.select("_commit_version", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 1), (3L, 2)),
      "gaps are non-commits: attribution must skip them, not crash on them")
    // a range whose endpoints avoid any change still resolves its
    // empty feed off an EXISTING snapshot
    assert(Snapshots.changesAttributed(spark, table, 3, 3).count() == 0)
  }

  test("a pointer running ahead of a crashed commit falls back to the listing") {
    val table = tmp("snap-pointer-ahead")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    Snapshots.commit(table, Snapshots.stage(df((2, "b", 2L)), table, "day"))
    // simulate the crash window: pointer written one ahead, snapshot
    // link never happened (pointer-BEFORE-publish makes this the only
    // failure shape — a commit can no longer succeed and then surface
    // as a failure whose retry doubles rows, r11 review find)
    java.nio.file.Files.write(
      new java.io.File(table, "_graft_log/_last").toPath, "3".getBytes)
    assert(Snapshots.currentVersion(table) == 2L,
      "an invalid (ahead) pointer must fall back to the listing, not lie")
    // the next commit takes exactly the pointed version; resolutions
    // go listing-free again (the pointer is NEVER written backwards —
    // a doomed concurrent committer must not be able to hide a
    // published commit behind a regressed pointer, review batch 2)
    Snapshots.commit(table, Snapshots.stage(df((3, "c", 3L)), table, "day"))
    val before = Snapshots.logListings.get()
    (1 to 5).foreach(_ => assert(Snapshots.currentVersion(table) == 3L))
    assert(Snapshots.logListings.get() == before,
      "an organically reached pointer serves resolutions without listing")
  }

  test("batchCommitter gaps (empty batches) stay visible through the pointer") {
    val table = tmp("snap-pointer-gap")
    val commit = Snapshots.batchCommitter(table, "day")
    commit(df((1, "a", 1L)), 0)          // v1
    commit(df(), 1)                      // empty batch: no commit — gap at v2
    commit(df((2, "b", 2L)), 2)          // v3 (version = batchId + 1)
    assert(Snapshots.currentVersion(table) == 3L,
      "the pointer must carry resolution across the version gap probe-forward cannot cross")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L), (2, "b", 2L)))
  }

  test("versionAtTime on a gapped log resolves to an existing version") {
    val table = tmp("snap-ts-gap")
    val commit = Snapshots.batchCommitter(table, "day")
    commit(df((1, "a", 1L)), 0)          // v1
    commit(df(), 1)                      // empty batch: gap at v2
    commit(df((2, "b", 2L)), 2)          // v3
    // pin publish times so the probe instant falls BETWEEN the two real
    // commits: the missing v2 stats as mtime 0 ("true"), so the raw
    // binary search lands exactly on the phantom (r11 advisor find)
    val log = new java.io.File(table, "_graft_log")
    val t1 = 1700000000000L
    assert(new java.io.File(log, "snap-000000001.txt").setLastModified(t1))
    assert(new java.io.File(log, "snap-000000003.txt").setLastModified(t1 + 10000))
    val v = Snapshots.versionAtTime(table, t1 + 5000)
    assert(v == 1L, s"resolved to $v — a phantom (missing) version")
    assert(Snapshots.readVersion(spark, table, v).count() == 1L,
      "the resolved version must actually be readable")
  }

  test("schema probes amortize per group: a new commit probes only its new files") {
    import spark.implicits._
    val table = tmp("snap-group-cache")
    Snapshots.commit(table, Snapshots.stage(
      Seq((1, "a", 1L)).toDF("id", "day", "v"), table, "day"))
    Snapshots.schemaGroups(spark, table, 1)           // v1's group probed+cached
    Snapshots.commit(table, Snapshots.stage(
      Seq((2, "b", 2L, 20L)).toDF("id", "day", "v", "w"), table, "day"))
    val before = Snapshots.footerReads.get()
    Snapshots.schemaGroups(spark, table, 2)
    assert(Snapshots.footerReads.get() - before == 1,
      "v2's grouping must re-probe only the NEW staging directory " +
        "(r10 advisor find: per-version re-probes of every group)")
  }

  test("driver-side footer schemas equal the inferred scan schema") {
    // the sf0.01 fixture the benchmark ships: TIMESTAMP(NANOS) events
    // (read as longs), decimals, arrays, timestamps
    val files = new java.io.File("perfbench/fixtures/sf0.01").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    assert(files.size == 10)
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    files.foreach { f =>
      assert(Snapshots.footerSchema(f.getPath, converter) ==
        spark.read.parquet(f.getPath).schema, f.getName)
    }
  }

  test("changesAttributed: props-only commits contribute no plan branches") {
    val table = tmp("snap-cdf-noop")
    Snapshots.commit(table, Snapshots.stage(
      df((1, "a", 1L), (2, "b", 2L)), table, "day"))             // v1
    // a long run of metadata-only commits (constraint DDL, bookkeeping)
    // between the data changes — pre-fix each one became a union branch
    // with two scan subtrees even though it can produce no feed rows
    (1 to 30).foreach(i =>
      Snapshots.commitProps(table, Map(s"noop.$i" -> "1")))      // v2..v31
    Snapshots.commit(table, Snapshots.stage(df((3, "c", 3L)), table, "day")) // v32
    val attr = Snapshots.changesAttributed(spark, table, 0, 32)
    assert(attr.select("_commit_version", "_change_type", "id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(t => (t._1, t._3))
      .toSeq == Seq((1L, "insert", 1), (1L, "insert", 2), (32L, "insert", 3)))
    // exactly two changed steps → exactly one binary union, not 31
    val unions = attr.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.size <= 1,
      s"props-only steps must be skipped before plan construction, got ${unions.size} unions")
  }

  test("maintenance rewrites preserve evolved columns") {
    import spark.implicits._
    val table = tmp("snap-evo-maint")
    // era-1 fragments day a; era-2 adds w on day a too
    Snapshots.commit(table, Snapshots.stage(
      Seq((1, "a", 1L)).toDF("id", "day", "v"), table, "day"))
    Snapshots.commit(table, Snapshots.stage(
      Seq((2, "a", 2L, 20L)).toDF("id", "day", "v", "w"), table, "day"))

    // pre-fix: compact read the slice without mergeSchema, pinning an
    // era-1 footer — w was permanently lost in the rewrite
    Snapshots.compact(spark, table, "day")
    assert(Snapshots.entries(table).count(_._2 == "a") == 1,
      "day a must coalesce")
    val rows = Snapshots.read(spark, table, mergeSchema = true)
      .select("id", "w").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(rows == Seq((1, -1L), (2, 20L)),
      "the evolved column must survive the maintenance rewrite")
  }

  test("vacuum clears crashed-commit tmp leftovers from the log") {
    val table = tmp("snap-tmpvac")
    Snapshots.commit(table, Snapshots.stage(df((1, "a", 1L)), table, "day"))
    val log = new java.io.File(table, "_graft_log")
    java.nio.file.Files.write(
      new java.io.File(log, "snap-2.tmp-crashed").toPath, "garbage".getBytes)
    Snapshots.vacuum(table)
    assert(!log.listFiles().exists(_.getName.contains(".tmp-")),
      "crashed tmp files must not accumulate")
    assert(sorted(Snapshots.read(spark, table)) == Seq((1, "a", 1L)))
  }

  test("kernel reads skip files via pushed-down predicates on stats columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val table = tmp("snap-pushprune")
    Snapshots.commitAll(table, Snapshots.stageWithStats(
      df((1, "a", 1L), (2, "a", 2L), (10, "b", 10L), (11, "b", 11L),
         (20, "c", 20L), (21, "c", 21L)),
      table, "day", "id", buckets = 3))
    val total = Snapshots.entriesAt(table, 1).size
    assert(total >= 3)
    def scanned(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val p = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      p.collect { case sc: FileSourceScanExec => sc.metrics("numFiles").value }.sum
    }
    // a plain DataFrame filter reaches the FileIndex as a pushed filter
    // and prunes by the per-file id stats -- no explicit fileFilter
    assert(scanned(Snapshots.read(spark, table).filter(col("id") >= 20)) < total)
    // unsupported predicate shapes stay sound
    assert(scanned(Snapshots.read(spark, table)
      .filter(col("v") % 2 === 0)) == total)
    // caller tagFilter composes with pushdown pruning
    assert(scanned(Snapshots.read(spark, table, tagFilter = _ == "b")
      .filter(col("id") === 11)) <=
      Snapshots.entriesAt(table, 1).count(_.tag == "b"))
    // rows identical to the slow path either way
    assert(sorted(Snapshots.read(spark, table).filter(col("id") >= 20)) ==
      Seq((20, "c", 20L), (21, "c", 21L)))
  }

  test("shallow clone: metadata-only copy, independent divergence, vacuum isolation") {
    import graft.ops.lake.Mutations
    val src = tmp("snap-clone-src")
    val dst = tmp("snap-clone-dst")
    // v1: three days; v2: a DV delete (the clone must inherit the
    // repointed deletion vector, not resurrect the rows)
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df((1, "a", 1L), (2, "a", 2L), (10, "b", 10L), (11, "b", 11L),
         (20, "c", 20L)),
      src, "day", "id", buckets = 3))
    Mutations.deleteWhere(spark, src, col("id") === 11)
    val srcRows = sorted(Mutations.readMerged(spark, src))
    assert(srcRows == Seq((1, "a", 1L), (2, "a", 2L), (10, "b", 10L), (20, "c", 20L)))

    val v = Snapshots.cloneShallow(src, dst)
    assert(v == 1)
    // metadata-only: the clone holds ZERO data bytes of its own
    def localParquet(t: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(t, "data")).map(_.getName).filter(_.endsWith(".parquet"))
    }
    assert(localParquet(dst).isEmpty, "shallow clone must copy no data files")
    assert(sorted(Mutations.readMerged(spark, dst)) == srcRows,
      "clone reads the source's pinned content (DV included)")
    // the pin: the cloned source version holds a named ref
    assert(Snapshots.refs(src).exists { case (n, rv) =>
      n.startsWith("clone-") && rv == Snapshots.currentVersion(src) })

    // divergence: writes to the clone land locally, source unmoved
    Snapshots.commitAll(dst, Snapshots.stageWithStats(
      df((30, "d", 30L)), dst, "day", "id"))
    Mutations.deleteWhere(spark, dst, col("id") === 1)
    assert(sorted(Mutations.readMerged(spark, dst)) ==
      Seq((2, "a", 2L), (10, "b", 10L), (20, "c", 20L), (30, "d", 30L)))
    assert(sorted(Mutations.readMerged(spark, src)) == srcRows, "source untouched")
    // and vice versa: a source rewrite is invisible to the clone
    Mutations.updateWhere(spark, src, col("id") === 20, Map("v" -> lit(999L)), "day")
    assert(sorted(Mutations.readMerged(spark, dst)) ==
      Seq((2, "a", 2L), (10, "b", 10L), (20, "c", 20L), (30, "d", 30L)))

    // vacuum isolation: the clone's vacuum reclaims only ITS dirs —
    // every source file survives, and the clone still reads
    val before = localParquet(src).toSet
    Snapshots.vacuum(dst)
    assert(localParquet(src).toSet == before, "clone vacuum must not touch source")
    assert(sorted(Mutations.readMerged(spark, dst)) ==
      Seq((2, "a", 2L), (10, "b", 10L), (20, "c", 20L), (30, "d", 30L)))
    // source vacuum: the clone-pinned version's closure is retained
    // (updateWhere made a newer version, so v2 is only ref-protected)
    Snapshots.vacuum(src)
    assert(sorted(Mutations.readMerged(spark, dst)) ==
      Seq((2, "a", 2L), (10, "b", 10L), (20, "c", 20L), (30, "d", 30L)),
      "the pin keeps cloned files alive across source vacuum")

    // nesting is rejected in both directions — a nested clone's local
    // files would be walked (and reclaimed) by the outer table's vacuum
    val e1 = intercept[IllegalArgumentException](
      Snapshots.cloneShallow(src, s"$src/data/nested"))
    assert(e1.getMessage.contains("must not nest"))

    // clone-of-clone: c2 leans on BOTH dst's local file (day d) and
    // src's files through dst's hop. Retiring dst (dropping its refs
    // everywhere) must not strand c2 — it holds its OWN refs on both.
    val c2 = tmp("snap-clone-c2")
    Snapshots.cloneShallow(dst, c2)
    val expect2 = sorted(Mutations.readMerged(spark, dst))
    // c2's creation placed ITS ref name on both dst (direct) and src
    // (transitive, via dst's lineage props); dst's own pin on src is
    // the name NOT mirrored on dst
    assert(Snapshots.refs(src).keySet.intersect(Snapshots.refs(dst).keySet)
      .exists(_.startsWith("clone-")), "transitive pin must reach src")
    // retire dst: drop the ref dst itself placed on src
    Snapshots.refs(src).keys.filter(_.startsWith("clone-")).foreach { n =>
      if (!Snapshots.refs(dst).contains(n)) Snapshots.dropRef(src, n)
    }
    Snapshots.vacuum(src)
    Snapshots.vacuum(dst)
    assert(sorted(Mutations.readMerged(spark, c2)) == expect2,
      "c2 survives src+dst vacuum after dst's own pin is dropped")
  }

  test("null-count and prefix stats prune files through pushed filters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val table = tmp("snap-nullprefix")
    // three tag groups with distinct null/bound shapes: apple all-null
    // (no string bounds, definite null count), banana null-free with
    // bounds alpha..beta, cherry mixed (one null + zulu)
    val data = Seq(
      (1, "apple", None: Option[String]), (2, "apple", None),
      (10, "banana", Some("alpha")), (11, "banana", Some("beta")),
      (20, "cherry", None), (21, "cherry", Some("zulu"))
    ).toDF("id", "day", "name")
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(data, table, "day", "name", buckets = 3))
    val entries = Snapshots.entriesAt(table, 1)
    val files = entries.groupBy(_.tag).view.mapValues(_.size).toMap
    val total = entries.size
    def scanned(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val p = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      p.collect { case sc: FileSourceScanExec => sc.metrics("numFiles").value }.sum
    }
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.select("id").collect().map(_.getInt(0)).sorted.toSeq

    // IS NOT NULL skips exactly the provably-all-null apple file(s)
    val notNull = Snapshots.read(spark, table).filter(col("name").isNotNull)
    assert(ids(notNull) == Seq(10, 11, 21))
    assert(scanned(notNull) == total - files("apple"))

    // IS NULL skips exactly the provably-null-free banana file(s)
    val nul = Snapshots.read(spark, table).filter(col("name").isNull)
    assert(ids(nul) == Seq(1, 2, 20))
    assert(scanned(nul) == total - files("banana"))

    // LIKE 'al%' opens banana alone: apple dies on the implicit
    // IsNotNull conjunct (all-null, no bounds to test), cherry's
    // smin "zulu" already exceeds the prefix
    val pref = Snapshots.read(spark, table).filter(col("name").startsWith("al"))
    assert(ids(pref) == Seq(10))
    assert(scanned(pref) == files("banana"))

    // `<>` skips provably-constant files: cherry's smin == smax ==
    // "zulu" proves every non-null row is 'zulu' (its null row cannot
    // satisfy <> either); apple dies on the inferred IsNotNull
    val ne = Snapshots.read(spark, table).filter(col("name") =!= "zulu")
    assert(ids(ne) == Seq(10, 11))
    assert(scanned(ne) == files("banana"))

    // prefix on the TAG column prunes by the tag string itself — via
    // the SQL path, where the relation knows its tag column (kernel
    // reads pass tagCol = "", having pruned tags explicitly already)
    graft.sql.LakeSql.register(spark, "npref", table, "day")
    val tagPref = spark.sql("SELECT * FROM npref WHERE day LIKE 'ap%'")
    assert(ids(tagPref) == Seq(1, 2))
    assert(scanned(tagPref) == files("apple"))

    // tag `<>` drops the whole matching tag's files
    val tagNe = spark.sql("SELECT * FROM npref WHERE day <> 'apple'")
    assert(ids(tagNe) == Seq(10, 11, 20, 21))
    assert(scanned(tagNe) == total - files("apple"))
  }

  test("vacuum/tagRef handshake; stale lineage pins prune at clone time") {
    // digit-only ref names are rejected — they would be unreachable
    // through VERSION AS OF (numeric resolution wins there)
    val t0 = tmp("snap-refname")
    Snapshots.commit(t0, Snapshots.stage(df((1, "a", 1L)), t0, "day"))
    intercept[IllegalArgumentException](Snapshots.tagRef(t0, "123", 1))

    // a live vacuum intent blocks pinning of an ENDANGERED version
    // (the Dekker pairing: vacuum writes intent then re-reads refs;
    // tagRef writes its ref then checks intents)
    Snapshots.commit(t0, Snapshots.stage(df((2, "b", 2L)), t0, "day")) // v2
    val log = new java.io.File(t0, "_graft_log")
    val intent = new java.io.File(log, "vacuum-intent-test.txt")
    java.nio.file.Files.write(intent.toPath, "1".getBytes)
    val e = intercept[IllegalStateException](Snapshots.tagRef(t0, "pin1", 1))
    assert(e.getMessage.contains("vacuum"))
    assert(!Snapshots.refs(t0).contains("pin1"), "aborted pin leaves no ref")
    Snapshots.tagRef(t0, "pin2", 2) // v2 is not endangered: fine
    intent.delete()
    Snapshots.tagRef(t0, "pin1", 1) // clean now
    assert(Snapshots.refs(t0) == Map("pin1" -> 1L, "pin2" -> 2L))
    // vacuum cleans up after itself — no intent file survives
    Snapshots.vacuum(t0)
    assert(!log.listFiles().exists(_.getName.startsWith("vacuum-intent-")))

    // stale lineage pins prune at clone time: localize the middle
    // clone's files, DELETE the original source outright, clone again
    val src = tmp("snap-lin-src"); val mid = tmp("snap-lin-mid")
    Snapshots.commitAll(src, Snapshots.stageWithStats(
      df((1, "a", 1L), (2, "b", 2L)), src, "day", "id"))
    Snapshots.cloneShallow(src, mid)
    Snapshots.compact(spark, mid, "day", Seq("id")) // ZORDER: rewrites ALL
    assert(Snapshots.entriesAll(mid).forall(!_.rel.startsWith("..")),
      "the zorder rewrite must localize every entry")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(src))
    val c2 = tmp("snap-lin-c2")
    Snapshots.cloneShallow(mid, c2) // must never touch the dead src
    assert(sorted(Snapshots.read(spark, c2)) == Seq((1, "a", 1L), (2, "b", 2L)))
  }

  test("timestamp stats prune date-cast predicates (MICROS, not INT96)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val table = tmp("snap-tsprune")
    // one file per day, each spanning a narrow ts slice. Under Spark's
    // legacy INT96 default this table recorded NO ts stats at all
    // (INT96 carries no usable column statistics) and every date-cast
    // query scanned all 10 files; Graft writes TIMESTAMP_MICROS, whose
    // INT64 stats footerStats records as raw micros.
    val data = (1 to 100).map { i =>
      (i.toLong, f"2024-01-${(i % 10) + 1}%02d",
       java.sql.Timestamp.valueOf(f"2024-01-${(i % 10) + 1}%02d 12:00:00"))
    }.toDF("id", "day", "ts")
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(data, table, "day", "ts", buckets = 10))
    val es = Snapshots.entriesAt(table, 1)
    assert(es.forall(e => e.props.contains("min.ts") && e.props.contains("max.ts")),
      "every staged file must carry micros-valued ts stats")
    graft.sql.LakeSql.register(spark, "tsprune", table, "day")
    def scanned(sql: String): Long = {
      val d = spark.sql(sql)
      d.collect()
      val p = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      p.collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    }
    // Spark rewrites CAST(ts AS DATE) = D into raw ts range conjuncts;
    // the micros stats then prune — the hidden-partitioning read shape
    // without any derived day column in the predicate
    assert(scanned(
      "SELECT * FROM tsprune WHERE CAST(ts AS DATE) = DATE '2024-01-03'") == 1)
    assert(scanned(
      "SELECT * FROM tsprune WHERE to_date(ts) >= DATE '2024-01-08'") == 3)
    assert(spark.sql(
      "SELECT count(*) AS n FROM tsprune WHERE CAST(ts AS DATE) = DATE '2024-01-03'")
      .collect().head.getLong(0) == 10L)
  }

  test("bloom on an INT column: type-normalized hash, probes never miss") {
    import spark.implicits._
    val table = tmp("snap-bloom-int")
    // id is INT here (the other bloom test uses LONG); clustering by the
    // reversed value keeps each file spanning the whole id range so only
    // the bloom can prune
    val data = (0 until 400).map(i => (i, "t", 399 - i)).toDF("id", "day", "v")
    Snapshots.commitAll(table, Snapshots.withBloom(
      Snapshots.stageWithStats(data, table, "day", "v", buckets = 4),
      table, "id", spark))
    // pre-r10 the sketch hashed the native INT while the probe hashes a
    // LONG — xxhash64 differs by input width, so every probe MISSED and
    // files holding the match were silently skipped
    for (probe <- Seq(0L, 123L, 399L)) {
      val pruned = Snapshots.read(spark, table,
        fileFilter = Snapshots.mightContainLong(table, "id", probe))
      assert(pruned.filter(col("id") === probe.toInt).count() == 1,
        s"present id=$probe must survive the bloom prune")
    }
    // the SQL equality path reaches the same probe via Pruning.asLong
    graft.sql.LakeSql.register(spark, "bloomint", table, "day")
    assert(spark.sql("SELECT count(*) AS n FROM bloomint WHERE id = 123")
      .collect().head.getLong(0) == 1L)
  }

  test("manifest records file sizes; byte budgets fold with ZERO filesystem IO") {
    val table = tmp("snap-sz")
    Snapshots.commit(table,
      Snapshots.stage(df((1, "a", 10L), (2, "b", 20L), (3, "b", 30L)), table, "day"))
    val es = Snapshots.entriesAll(table)
    assert(es.nonEmpty)
    // every committed entry carries the size prop, and it is truthful
    es.foreach { e =>
      val real = new java.io.File(table, e.rel).length()
      assert(e.props.get(Snapshots.SizeProp).contains(real.toString),
        s"${e.rel}: sz prop ${e.props.get(Snapshots.SizeProp)} != stat $real")
    }
    val expected = es.map(e => new java.io.File(table, e.rel).length()).sum
    assert(Snapshots.bytesAll(table) == expected)
    // the zero-IO proof: DELETE every data file (the log survives) —
    // the fold must still answer from the manifest alone. On object
    // storage this is the difference between one log read and one HEAD
    // per file per broadcast election (r16 verdict #2).
    es.foreach(e => assert(new java.io.File(table, e.rel).delete()))
    assert(Snapshots.bytesAll(table) == expected,
      "bytesAll touched the filesystem — the byte budget must be a manifest fold")
    // legacy entries (pre-r17 manifests, no sz prop) fall back to a stat
    assert(Snapshots.entryBytes(table,
      Snapshots.Entry("no-such-file.parquet", "a")) == 0L)
  }
}
