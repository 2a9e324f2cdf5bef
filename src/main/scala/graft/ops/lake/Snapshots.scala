package graft.ops.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}

/** Minimal lakehouse commit protocol — the snapshot/manifest layer the
  * rewrite ops (partition overwrite, targeted delete, compaction, dual
  * write) need so a reader concurrent with a rewrite sees the OLD table
  * or the NEW table, never a mix.
  *
  * The reference has no such layer (its rewrite is `mode=overwrite` to
  * GCS/BigQuery — `ingest_binance_last_3_days.py:141-144` — with the
  * same torn-view window); this is the published Delta/Iceberg commit
  * shape reduced to its load-bearing moves:
  *
  *   1. DATA FILES ARE IMMUTABLE AND NEVER OVERWRITTEN. Every write
  *      stages NEW files under a fresh `data/<token>/` directory; a
  *      rewrite "replaces" rows only by publishing a snapshot that
  *      stops listing the old files.
  *   2. MANIFESTS ARE IMMUTABLE TOO. A manifest
  *      `_graft_log/mf-<uuid>.txt` lists data files (one `relpath\ttag`
  *      line each) and is written once, never edited. A commit that
  *      only ADDS files writes one new manifest for the added files and
  *      keeps every prior manifest BY NAME; a commit that removes files
  *      rewrites only the manifests that actually lose entries. Commit
  *      IO is therefore O(files touched), not O(files in table) — the
  *      r6 layer rewrote the full file list per commit, which at 100 TB
  *      (~10⁶ files) would push ~100 MB of driver text IO per commit.
  *   3. THE SNAPSHOT FILE RENAME IS THE COMMIT. A snapshot
  *      `_graft_log/snap-<v>.txt` is a manifest-LIST: one line per
  *      manifest (`mfName\ttagSet`), the Iceberg manifest-list shape.
  *      The LIVE snapshot is the highest committed `v`. Writers prepare
  *      a tmp file, force it durable, and publish it to its final FRESH
  *      name via hard-link creation — atomic AND exclusive, so of two
  *      racing committers exactly one wins and the loser gets
  *      [[ConcurrentCommitException]] (re-publishing byte-identical
  *      content stays an idempotent no-op for crash recovery). A crash
  *      at any earlier point leaves the previous snapshot live and only
  *      orphan files behind (reclaimed by [[vacuum]] — deferred, so
  *      in-flight readers of the old snapshot finish against intact
  *      files).
  *
  * The `tag` is the file-level partition value (each staged file holds
  * exactly one tag — enforced at stage time). Pruning is two-level,
  * both BEFORE any data file is opened: the snapshot line carries each
  * manifest's distinct-tag set, so non-matching manifests are skipped
  * unread; surviving manifests are line-pruned to the matching files.
  * The log grows with file count, never row count.
  */
object Snapshots {

  /** A second writer lost the publish race for a snapshot version (or a
    * version was re-committed with DIFFERENT content — a protocol
    * violation either way). The winner's snapshot is intact. */
  final class ConcurrentCommitException(table: String, version: Long)
    extends RuntimeException(
      s"concurrent commit of $table v$version: another writer published this version first")

  private def logDir(table: String): File = new File(table, "_graft_log")

  // anchored, \d{9,}: a version past 10^9 outgrows the %09d padding and
  // an unanchored \d{9} would silently parse its first nine digits —
  // wrong version, not an error
  private val SnapRe = raw"^snap-(\d{9,})\.txt$$".r

  /** Directory LISTINGS performed by [[currentVersion]]'s fallback
    * path — observability for the checkpoint-pointer contract (version
    * resolution on a pointer-bearing log must list nothing); specs
    * assert on deltas. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong

  private def pointerFile(table: String): File = new File(logDir(table), "_last")

  /** Advance the `_last` version pointer — the Delta `_last_checkpoint`
    * shape: a hint readers resolve the live version from in O(1)
    * instead of listing the whole log directory (O(#commits) per
    * resolution — the r10 verdict's scale note). Monotonic (an
    * idempotent re-commit of an old version never moves it backwards)
    * and atomically replaced.
    *
    * ORDERING IS THE SOUNDNESS ARGUMENT: the pointer is written
    * BEFORE the snapshot link, i.e. it may run one AHEAD of the
    * committed state but never behind a commit it belongs to.
    * [[currentVersion]] validates the pointed snapshot exists and
    * falls back to the full listing when it does not — so every
    * failure shape degrades to a correct (merely slower) resolution:
    * a crash between pointer and link leaves an invalid hint → full
    * listing; a pointer-write failure FAILS THE COMMIT BEFORE it
    * publishes (retrying is then genuinely safe — nothing was
    * committed); and a [[batchCommitter]] GAPPED commit (empty batches
    * skip versions) can never hide behind a stale hint, because its
    * pointer write preceded its publish. The earlier design (pointer
    * after link, throw on failure) turned an already-durable commit
    * into an apparent failure whose natural retry would DOUBLE the
    * rows — r11 review find. */
  private def advancePointer(table: String, v: Long): Unit = {
    val f = pointerFile(table)
    val cur =
      try {
        if (!f.exists()) 0L
        else new String(Files.readAllBytes(f.toPath), UTF_8).trim.toLong
      } catch { case scala.util.control.NonFatal(_) => 0L } // corrupt: overwrite
    // STRICTLY monotonic — never write a smaller value, even when the
    // pointed snapshot does not exist. A "heal the invalid pointer"
    // overwrite looks tempting (a crashed pointer-ahead commit leaves
    // resolutions paying the listing fallback until that version is
    // organically reached), but it hands DOOMED committers a
    // regression pen: a concurrent writer about to lose the version
    // race would overwrite another commit's legitimately-ahead pointer
    // with its stale target, and on a GAPPED log probe-forward cannot
    // cross back to the published version — a committed batch silently
    // vanishes from its own sink (r11 review find, batch 2). The
    // listing fallback is bounded and correct; pointer regression is
    // neither.
    if (v > cur) {
      val tmp = new File(logDir(table), s"_last.tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp.toPath, v.toString.getBytes(UTF_8))
      Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Highest committed snapshot version, 0 when the table is empty.
    * Resolution is pointer-first: read `_last`, verify its snapshot
    * exists (the pointer is written BEFORE the publish, so it can run
    * one AHEAD of a crashed commit — an invalid hint falls back to the
    * listing), then PROBE FORWARD past any racing commits — O(1 + lag)
    * file stats, no directory listing. The full listing runs only when
    * the pointer is absent (pre-pointer logs, empty tables) or names a
    * snapshot that does not exist. */
  def currentVersion(table: String): Long = {
    val hint =
      try {
        val f = pointerFile(table)
        if (!f.exists()) 0L
        else new String(Files.readAllBytes(f.toPath), UTF_8).trim.toLong
      } catch { case scala.util.control.NonFatal(_) => 0L }
    var v =
      if (hint >= 1 && snapFile(table, hint).exists()) hint
      else {
        logListings.incrementAndGet()
        Option(logDir(table).listFiles()).toSeq.flatten
          .flatMap(f => SnapRe.findFirstMatchIn(f.getName).map(_.group(1).toLong))
          .sorted.lastOption.getOrElse(0L)
      }
    while (snapFile(table, v + 1).exists()) v += 1
    v
  }

  private def snapFile(table: String, v: Long): File =
    new File(logDir(table), f"snap-$v%09d.txt")

  /** Does snapshot `v` exist on disk? False for [[batchCommitter]]
    * version GAPS (empty batches skip versions) and vacuumed-away
    * history — the existence test gap-tolerant consumers (the CDF
    * admission walk) key on. */
  def versionExists(table: String, v: Long): Boolean =
    v >= 1 && snapFile(table, v).exists()

  /** Entry property marking a tag that is NOT a real partition value —
    * [[convertInPlace]] tags adopted files by their file id (the data
    * was never read, so the real tag value is unknown). Consumers that
    * compare tags to COLUMN VALUES must keep synthetic-tagged entries:
    * [[Pruning]] skips the tag-equality proof for them (r9 advisor
    * find — without the marker, `WHERE <tagCol> = v` on a freshly
    * converted table pruned EVERY file and silently returned empty),
    * and [[compact]] treats them as always-fragmented so a plain
    * OPTIMIZE re-tags the layout. Per-entry by design: a rewrite
    * through [[stage]] produces real tags and drops the marker
    * naturally. */
  private[graft] val TagSyntheticProp = "tag.synthetic"

  /** IN-PLACE CONVERSION of an existing parquet directory into a
    * snapshot table — the Delta `CONVERT TO DELTA` migration shape:
    * walk the directory, list every parquet file as a v1 manifest
    * entry, and commit — no data copied or rewritten (root-level files
    * relocate under `data/` by hard-link+unlink, a same-inode metadata
    * move; see below). Each file becomes its own tag (its file id),
    * marked [[TagSyntheticProp]] so tag-vs-column-value comparisons
    * keep the file: tag pruning starts useless, but every other
    * capability — atomic commits, mutations, time travel, constraints,
    * SQL — works immediately, and `statsCols` decorates entries with
    * footer min/max (metadata-only IO, one footer per file) so range
    * skipping works from day one too. A later `compact` re-tags the
    * layout properly (synthetic entries count as fragmented).
    *
    * Refuses a directory that already holds a table (the log is the
    * source of truth once it exists) and a HIVE-partitioned layout
    * (`col=value/` subdirs): hive files OMIT the partition column from
    * the data pages, so in-place entries would silently lose that
    * column — re-ingest through [[stage]] instead, which materializes
    * the column. Returns the committed version (always 1). */
  def convertInPlace(table: String, statsCols: Seq[String] = Seq.empty): Long = {
    require(currentVersion(table) == 0,
      s"convertInPlace($table): directory already holds a table")
    val root = new File(table)
    require(root.isDirectory, s"convertInPlace($table): not a directory")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val hive = walk(root).filter(_.isFile).map(_.getParentFile.getName)
      .exists(n => n.contains("=") && !n.startsWith("_"))
    require(!hive,
      s"convertInPlace($table): hive-partitioned layout (col=value dirs) — " +
        "the partition column is not IN the files; re-ingest via stage()")
    val rootPath = root.toPath
    val files = walk(root)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => rootPath.relativize(f.toPath).toString)
      .sorted
    require(files.nonEmpty, s"convertInPlace($table): no parquet files found")
    // the manifest/file-id contract keys files by their LAST TWO path
    // segments (fileId/fileIdCol — staged layouts always have a tag
    // dir above the file). A file sitting at the table ROOT has only
    // one segment, so it RELOCATES under data/ via hard-link+unlink:
    // a pure metadata move (same inode, no data copied or rewritten).
    // Deliberately NOT link-and-keep: a surviving root copy would make
    // a naive `spark.read.parquet(dir)` silently DOUBLE every row —
    // the empty directory it sees instead is loud, which is the right
    // failure mode for readers that haven't migrated to the table API.
    // A crash mid-convert is re-runnable: already-moved files re-adopt
    // from data/ (no log was written yet, so nothing is committed).
    val linkDir = s"data/convert-${java.util.UUID.randomUUID.toString.take(12)}"
    val adopted = files.map { rel =>
      if (rel.contains("/")) rel
      else {
        val src = new File(table, rel)
        val dst = new File(table, s"$linkDir/$rel")
        dst.getParentFile.mkdirs()
        Files.createLink(dst.toPath, src.toPath)
        src.delete()
        s"$linkDir/$rel"
      }
    }
    val entries = adopted.map { rel =>
      val stats =
        if (statsCols.isEmpty) Map.empty[String, String]
        else footerStats(s"$table/$rel", statsCols)
      Entry(rel, fileId(rel), stats + (TagSyntheticProp -> "1"))
    }
    commitAll(table, entries)
  }

  /** Newest EXISTING version published at or before `t` (0 when
    * none) — O(log #commits + gap run) stats; publish times are
    * monotonic with version. A MID-LOG gap (missing version between
    * real ones) stats as mtime 0 (i.e. "true") and can make the raw
    * search land on the gap itself — a phantom version that fails at
    * read time with a confusing missing-snapshot error — so the
    * landing point walks down to the nearest version that both exists
    * and satisfies the predicate (the same gap discipline
    * getBatch/changesAttributed apply). The walk is linear in the gap
    * run it lands on — batchCommitter gaps are short; the worst case
    * is a query older than a VACUUMED prefix, which walks that prefix
    * once and correctly answers 0 (the history is unreadable either
    * way). Retention arithmetic must NOT use this (see
    * [[versionsSince]]). */
  private def latestAtOrBefore(table: String, t: Long): Long = {
    val cur = currentVersion(table)
    var lo = 1L; var hi = cur; var ans = 0L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (snapFile(table, mid).lastModified() <= t) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    while (ans > 0 && {
      val f = snapFile(table, ans); !f.exists() || f.lastModified() > t
    }) ans -= 1
    ans
  }

  /** Count of committed snapshots PUBLISHED at or after `epochMs`
    * (snapshot files are immutable — mtime is the commit instant, the
    * [[versionAtTime]] basis). Resolves `VACUUM … RETAIN n HOURS` into
    * the equivalent keep-newest-K count for [[vacuum]]. Deliberately a
    * LINEAR exists-filtered stat pass, NOT the binary search
    * [[versionAtTime]] uses: a MID-LOG missing version (a
    * batchCommitter gap) stats as mtime 0 and breaks the monotone
    * sequence the search needs — a miscount here makes VACUUM reclaim
    * snapshots INSIDE the retention window (r11 review find, batch 2).
    * One O(#commits) stat pass per VACUUM statement is already within
    * vacuum's own full-listing cost envelope. */
  def versionsSince(table: String, epochMs: Long): Int =
    (1L to currentVersion(table)).count { v =>
      val m = snapFile(table, v).lastModified()
      m != 0L && m >= epochMs
    }

  /** Version live at wall-clock `epochMs` — the newest snapshot whose
    * log file was PUBLISHED at or before that instant (snapshot files
    * are immutable, so their mtime IS the commit time; the same
    * file-modification-time basis Delta's timestamp time travel
    * documents). Errors before the first commit — there is no version
    * to read. Wall-clock resolution is the filesystem's; two commits
    * inside one clock tick resolve to the later one. */
  def versionAtTime(table: String, epochMs: Long): Long = {
    // binary search ([[latestAtOrBefore]]) — O(log #commits) stats
    // instead of a stat per commit; landing on a vacuumed (missing)
    // version fails at read time exactly as the linear scan did
    val ans = latestAtOrBefore(table, epochMs)
    require(ans >= 1,
      s"versionAtTime($table): no snapshot existed at epoch-ms $epochMs " +
        "(before the first commit)")
    ans
  }

  // ---- on-disk framing ------------------------------------------------
  // manifest line: relpath \t tag [\t key=value]… ; snapshot line:
  // mfName \t tag\u0001tag… Tags are validated at [[stage]] (no \t \n
  // \u0001 \u0002, not the Hive null sentinel) and property keys/values at
  // [[stageWithStats]], so the framing needs no escaping.

  /** One data file in a manifest: its table-relative path, its single
    * partition tag, and optional per-file PROPERTIES — today the
    * footer-derived column stats `min.<col>` / `max.<col>` that
    * [[rangeOverlap]] prunes by (the Iceberg per-file stats shape).
    * Files without a property are never pruned by predicates on it. */
  final case class Entry(rel: String, tag: String, props: Map[String, String] = Map.empty)

  private def parseLine(line: String): (String, String) =
    line.split("\t", 2) match {
      case Array(p, t) => (p, t)
      case Array(p)    => (p, "")
    }

  private def parseEntry(line: String): Entry = {
    val fields = line.split("\t")
    Entry(fields(0), if (fields.length > 1) fields(1) else "",
      fields.drop(2).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _           => None
        }
      }.toMap)
  }

  private def renderEntry(e: Entry): String =
    (Seq(e.rel, e.tag) ++
      e.props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }).mkString("\t")

  private def snapLines(table: String, v: Long): Seq[String] = {
    val sf = snapFile(table, v)
    require(sf.exists(), s"snapshot v$v of $table does not exist (vacuumed or never committed)")
    new String(Files.readAllBytes(sf.toPath), UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Snapshot `v`'s manifest list: (manifest name, distinct tags inside).
    * `#`-prefixed property lines (see [[snapshotProps]]) are skipped. */
  private def manifestList(table: String, v: Long): Seq[(String, Set[String])] =
    snapLines(table, v).filterNot(_.startsWith("#")).map { line =>
      val (name, tags) = parseLine(line)
      (name, tags.split("\u0001").toSet.filter(_.nonEmpty))
    }

  /** SNAPSHOT-LEVEL PROPERTIES — the Iceberg snapshot-summary shape:
    * commit-scoped metadata (`#key=value` header lines in the snapshot
    * file) that rides the SAME atomic publish as the data it describes.
    * That co-atomicity is the point: bookkeeping like "this MV snapshot
    * has folded source version N" (`Mutations.refreshCountSum`) can
    * never drift from the table state it annotates — a crash either
    * publishes both or neither. Empty for pre-r8 snapshots and v0. */
  def snapshotProps(table: String, v: Long): Map[String, String] =
    if (v == 0) Map.empty
    else snapLines(table, v).filter(_.startsWith("#")).flatMap { line =>
      line.drop(1).split("=", 2) match {
        case Array(k, value) => Some(k -> value)
        case _               => None
      }
    }.toMap

  // ---- named refs (tags) ---------------------------------------------

  // at least one non-digit: an all-digit name would be unreachable
  // through `VERSION AS OF` (numeric resolution wins there)
  private val RefNameRe = "^(?=.*[^0-9])[A-Za-z0-9._-]{1,64}$".r

  private def refFile(table: String, name: String): File = {
    require(RefNameRe.findFirstIn(name).isDefined,
      s"ref name '$name' must match ${RefNameRe.regex}")
    new File(logDir(table), s"ref-$name.txt")
  }

  /** Pin snapshot `v` under a NAME — the Iceberg tag/ref shape. A
    * referenced version is RETAINED by [[vacuum]] (its snapshot file,
    * manifests, data files and sidecars all survive), which turns time
    * travel from "until the next vacuum" into a durable reproducibility
    * pin: tag the exact table state a training run consumed and that
    * state stays readable until the ref is dropped. Re-tagging an
    * existing name moves it. */
  def tagRef(table: String, name: String, v: Long): Unit = {
    require(v >= 1 && v <= currentVersion(table) && snapFile(table, v).exists(),
      s"tagRef($table, $name, $v): no such committed snapshot")
    val f = refFile(table, name)
    // atomic replace — a delete-then-create window would let a crash
    // drop the pin and the next vacuum reclaim the "durably" pinned
    // snapshot
    val tmp = new File(logDir(table), s"ref-$name.tmp-${java.util.UUID.randomUUID}")
    writeDurable(tmp, v.toString.getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // handshake with a concurrent [[vacuum]] (see its intent comment):
    // our ref is durable — if an active intent endangers `v`, that
    // vacuum may have read refs before ours landed; abort loudly
    // rather than hold a pin on a version mid-reclaim. The final
    // existence re-check also covers a vacuum that finished between
    // our intent scan and now (its deletes happened before intent
    // removal).
    val endangered = Option(logDir(table).listFiles()).toSeq.flatten
      .filter(fi => fi.getName.startsWith("vacuum-intent-") &&
        System.currentTimeMillis - fi.lastModified <= VacuumIntentTtlMs)
      .exists { fi =>
        try new String(Files.readAllBytes(fi.toPath), UTF_8)
          .split("\n").contains(v.toString)
        catch { case _: java.io.IOException => false } // vanished: re-check below
      }
    if (endangered || !snapFile(table, v).exists()) {
      f.delete()
      throw new IllegalStateException(
        s"tagRef($table, $name, $v): snapshot v$v is being (or was) " +
          "vacuumed — re-pin after the vacuum completes, if it survived")
    }
  }

  /** Drop a named ref; its version becomes vacuum-eligible again. */
  def dropRef(table: String, name: String): Boolean = refFile(table, name).delete()

  /** All named refs: name -> pinned version. */
  def refs(table: String): Map[String, Long] = {
    val RefRe = raw"^ref-(.{1,64})\.txt$$".r
    Option(logDir(table).listFiles()).toSeq.flatten.flatMap { f =>
      RefRe.findFirstMatchIn(f.getName).map(m =>
        m.group(1) -> new String(Files.readAllBytes(f.toPath), UTF_8).trim.toLong)
    }.toMap
  }

  /** Read the snapshot a named ref pins (tag/file pruning as usual). */
  def readRef(spark: SparkSession, table: String, name: String,
              tagFilter: String => Boolean = _ => true,
              fileFilter: Entry => Boolean = _ => true): DataFrame = {
    val v = refs(table).getOrElse(name,
      sys.error(s"readRef($table, $name): no such ref; have ${refs(table).keys.mkString(", ")}"))
    readVersion(spark, table, v, tagFilter, fileFilter)
  }

  /** ROLLBACK: publish a NEW version whose content is exactly snapshot
    * `v` — the restore is itself a commit (history is preserved; the
    * bad versions stay time-travelable until vacuum), and it is pure
    * structural sharing: v's manifests are referenced BY NAME, no data
    * moves. `v` must still exist (pre-vacuum or ref-pinned). */
  def rollback(table: String, v: Long): Long = {
    val cur = currentVersion(table)
    require(v >= 1 && v <= cur, s"rollback($table, $v): no such version")
    // the restored snapshot keeps v's own props EXACTLY (bookkeeping
    // like mv.applied and the logical-schema mapping must roll back
    // WITH the rows they describe — dropping mv.applied would make a
    // later catchUp double-fold; inheriting a LATER rename would detach
    // the restored rows from their version's names) plus the
    // provenance marker; `inherit = false` keeps post-v schema props
    // from leaking in
    commitPrepared(
      Prepared(table, cur + 1, manifestList(table, v).map(_._1)),
      props = snapshotProps(table, v) + ("rollback.to" -> v.toString),
      inherit = false)
  }

  /** Lineage-pin props a clone records (and every later commit
    * inherits): `lineage.pin.<digest(upstream)>` -> `<upstream>@<v>`,
    * one per table whose files the clone's entries can traverse into.
    * [[cloneShallow]] turns each into a named ref OF ITS OWN on that
    * upstream, so a chain c2 → c1 → src stays safe when intermediate
    * clones are retired (their refs dropped) — c2 holds direct pins
    * on both c1 and src. */
  private[lake] val LineagePinPrefix = "lineage.pin."

  private def pathDigest(p: java.nio.file.Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(p.toString.getBytes(UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** SHALLOW CLONE (the Delta verb): publish `dest`'s v1 as a
    * METADATA-ONLY copy of `source`@`version` — no data bytes move at
    * any table size (one pooled footer-METADATA sweep happens only
    * when a legacy source lacks per-entry `rows` props; the counts
    * then ride the clone's manifests forever). Entry paths (and every
    * table-root-relative `ref.*` sidecar reference — deletion vectors,
    * bloom sidecars) are re-pointed at the source's files via
    * dest-relative traversal (`../source/…` — the local-FS spelling of
    * the absolute URIs a Delta clone log records; on an object store
    * the rel would BE the absolute URI, same mechanics). Table-level
    * metadata carries: the rename/drop mapping, recorded schema, and
    * CHECK constraints (the [[InheritedPropPrefixes]] families) ride
    * into the clone's v1.
    *
    * The clone is a full independent table from v1 on: it mutates,
    * compacts, time-travels and vacuums on its own. Divergence is
    * structurally safe in both directions — new writes and COW
    * rewrites land under the clone's OWN data/dv/stats dirs (reading
    * cloned bytes through the traversal path), and [[vacuum]] only
    * ever walks the table's own dirs, so a clone vacuum cannot reach
    * source files and vice versa (tables must not NEST for that to
    * hold — enforced here). The one real hazard is an upstream's
    * vacuum reclaiming files the clone still references — the
    * documented Delta shallow-clone caveat. `pin = true` (default)
    * closes it TRANSITIVELY: the pinned source version gets a named
    * ref (`clone-<digest(dest)>`) whose whole closure the source's
    * vacuum retains, and the same ref name lands on every upstream
    * the source itself leans on (its [[LineagePinPrefix]] props), so
    * retiring an intermediate clone never strands a downstream one.
    * Drop this clone's refs ([[dropRef]] on each lineage table) when
    * the clone is retired. */
  def cloneShallow(source: String, dest: String, version: Long = -1,
                   pin: Boolean = true): Long = {
    val sv = if (version < 0) currentVersion(source) else version
    require(sv >= 1 && versionExists(source, sv),
      s"cloneShallow($source -> $dest): no committed snapshot v$sv")
    require(currentVersion(dest) == 0,
      s"cloneShallow: $dest already holds a table")
    val destAbs = new File(dest).getAbsoluteFile.toPath.normalize
    val srcAbs = new File(source).getAbsoluteFile.toPath.normalize
    require(destAbs != srcAbs, s"cloneShallow: dest must differ from source")
    // NESTED tables break vacuum isolation: a clone under the source's
    // root would have its local files walked (and reclaimed) by the
    // source's vacuum as unreferenced orphans — and vice versa
    require(!destAbs.startsWith(srcAbs) && !srcAbs.startsWith(destAbs),
      s"cloneShallow: $dest and $source must not nest")
    val hop = destAbs.relativize(srcAbs).toString
    def repoint(rel: String): String = s"$hop/$rel"
    val srcEntries0 = entriesAt(source, sv)
    val cloned = srcEntries0.map { e =>
      e.copy(rel = repoint(e.rel), props = e.props.map {
        case (k, v) if k.startsWith("ref.") => k -> repoint(v)
        case kv => kv
      })
    }
    val srcProps = snapshotProps(source, sv)
    val props = srcProps
      .filter { case (k, _) => InheritedPropPrefixes.exists(k.startsWith) }
    // this clone's lineage = the source's lineage RESTRICTED to
    // upstreams the cloned snapshot still REFERENCES (a maintenance
    // rewrite may have localized every traversal entry — an immortal
    // stale pin would make cloning hard-fail forever once that
    // upstream is retired and deleted, review find) + the source
    // itself (whose log and sidecars this clone was cut from)
    val traversingAbs = srcEntries0.flatMap { e =>
      (e.rel +: e.props.collect {
        case (k, v) if k.startsWith("ref.") => v }.toSeq)
        .filter(_.startsWith(".."))
    }.map(r => srcAbs.resolve(r).normalize)
    val lineage = srcProps.collect {
      case (k, v) if k.startsWith(LineagePinPrefix) &&
          traversingAbs.exists(_.startsWith(
            java.nio.file.Paths.get(v.take(v.lastIndexOf('@'))))) => (k, v)
    } + (LineagePinPrefix + pathDigest(srcAbs) -> s"$srcAbs@$sv")
    // pin BEFORE publishing the clone: the unprotected window must not
    // contain a readable clone (a crash between the two leaks refs,
    // which are visible in refs() and droppable — the benign side).
    // Pinning an upstream whose chain is already broken (its pinned
    // version vacuumed away) fails LOUDLY here — the clone could never
    // have been made safe.
    if (pin) {
      val refName = s"clone-${pathDigest(destAbs)}"
      tagRef(source, refName, sv)
      (lineage - (LineagePinPrefix + pathDigest(srcAbs))).values.foreach { pv =>
        val at = pv.lastIndexOf('@')
        tagRef(pv.take(at), refName, pv.drop(at + 1).toLong)
      }
    }
    commitAll(dest, cloned, props = props ++ lineage +
      ("clone.of" -> srcAbs.toString) + ("clone.version" -> sv.toString))
  }

  // manifests are IMMUTABLE (fresh UUID names, never rewritten), so
  // their parsed entries cache safely — even across a drop-and-recreate
  // under the same path, which snapshot FILES do not survive (version
  // numbers restart; that is why snapLines stays uncached). Without
  // this every SQL resolution re-read and re-parsed the whole manifest
  // list — O(entries) driver text work per query, the piece that grows
  // with table size at 10⁶ files. Bounded: clear past a working set
  // (re-parsing after eviction is correctness-neutral); vacuumed
  // manifests linger until eviction but are never requested again (no
  // live snapshot references them).
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Entry]]()

  private def manifestEntries(table: String, mfName: String): Seq[Entry] = {
    if (manifestCache.size > 4096) manifestCache.clear()
    manifestCache.computeIfAbsent((table, mfName), { _ =>
      new String(Files.readAllBytes(new File(logDir(table), mfName).toPath), UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map(parseEntry)
    })
  }

  /** Write an IMMUTABLE manifest for `lines`; returns its fresh name.
    * Invisible to readers until a snapshot file lists it. Every entry
    * missing [[SizeProp]] gets it stamped here — this is the single
    * choke point all commit paths (stage, rewrite, manifest compaction)
    * flow through, so one write-time `stat()` per file per LIFETIME buys
    * zero-IO byte budgets for every later query; legacy entries backfill
    * on their next rewrite. A file absent at write time (never the case
    * on the committed paths — data lands before the log) stays
    * unstamped rather than recording a lying 0. */
  private def writeManifest(table: String, lines: Seq[Entry]): String = {
    logDir(table).mkdirs()
    val stamped = lines.map { e =>
      if (e.props.contains(SizeProp)) e
      else {
        val f = new File(table, e.rel)
        val len = f.length()
        if (len > 0L || f.isFile) e.copy(props = e.props + (SizeProp -> len.toString))
        else e
      }
    }
    val name = s"mf-${java.util.UUID.randomUUID}.txt"
    writeDurable(new File(logDir(table), name),
      stamped.map(renderEntry).mkString("\n").getBytes(UTF_8))
    name
  }

  /** Snapshot `v`'s full [[Entry]] list (v=0 ⇒ the empty pre-commit
    * state). Valid until [[vacuum]], like [[readVersion]]. */
  def entriesAt(table: String, v: Long): Seq[Entry] =
    if (v == 0) Seq.empty
    else manifestList(table, v).flatMap { case (mf, _) => manifestEntries(table, mf) }

  /** Snapshot `v`'s FILE COUNT without materializing the entry list —
    * O(#manifests) cached-size sums, not an O(entries) flatten per
    * call (`DESCRIBE HISTORY` asks this once per version; at 10³
    * commits × 10⁶ entries the flatten was quadratic driver work). */
  def entryCountAt(table: String, v: Long): Long =
    if (v == 0) 0L
    else manifestList(table, v)
      .map { case (mf, _) => manifestEntries(table, mf).size.toLong }.sum

  /** The live snapshot's full [[Entry]] list (empty ⇒ no commit yet). */
  def entriesAll(table: String): Seq[Entry] =
    entriesAt(table, currentVersion(table))

  /** The live snapshot's `(relpath, tag)` entries (empty ⇒ no commit yet). */
  def entries(table: String): Seq[(String, String)] =
    entriesAll(table).map(e => (e.rel, e.tag))

  /** Byte size of one entry's data file — from the manifest's
    * [[SizeProp]] when recorded (every post-r17 manifest write), a
    * single `stat()` fallback for legacy entries awaiting their
    * rewrite-time backfill. */
  def entryBytes(table: String, e: Entry): Long =
    e.props.get(SizeProp).map(_.toLong)
      .getOrElse(new File(table, e.rel).length())

  /** The live snapshot's total data bytes — a pure manifest fold (zero
    * filesystem IO once every entry carries [[SizeProp]]). The byte
    * budget behind [[graft.ops.gold.Joins.statsAsOf]]'s broadcast
    * election and `DESCRIBE DETAIL`'s size_bytes. */
  def bytesAll(table: String): Long =
    entriesAll(table).map(entryBytes(table, _)).sum

  // ---- logical schema: rename / drop without rewriting files ----------
  //
  // The Iceberg field-id idea by name-mapping: PHYSICAL column names
  // (what the parquet files carry) are fixed at first stage and never
  // change; a rename or drop is a METADATA-ONLY commit that records the
  // mapping in snapshot props (`schema.logical.<physical>=<logical>`,
  // `schema.dropped.<physical>=1`). Reads translate physical → logical
  // AT THE VERSION BEING READ — so time travel and rollback present
  // each snapshot under its own names and a rename commit orphans no
  // history — and stage() translates logical → physical on the way in,
  // so post-rename appends land in the same physical columns as
  // pre-rename files and one parquet scan still serves both eras.
  // Per-file stats/bloom props stay PHYSICAL (they are footer-derived);
  // [[physicalName]] is the bridge predicates use.

  private[lake] val LogicalPropPrefix = "schema.logical."
  private[lake] val DroppedPropPrefix = "schema.dropped."
  private[lake] val InheritedPropPrefixes =
    Seq("schema.", "constraint.", "lineage.", "tbl.")

  /** Exactly-once consumer bookkeeping families ([[Mutations.AppliedProp]]
    * `mv.*`, [[ChangeApply.AppliedProp]] `cdc.*`). Deliberately NOT
    * inherited — auto-carrying an applied-version marker across a data
    * commit that did not fold would make the bookkeeping lie, which is
    * exactly the drift the co-atomic design exists to prevent. Layout-
    * only maintenance ([[compact]], [[compactManifests]]) carries them
    * forward explicitly: the rows it re-arranges ARE the folded state. */
  private[lake] val BookkeepingPropPrefixes = Seq("mv.", "cdc.")

  /** PROPS-ONLY commit: re-publish the current version's manifests with
    * `set` added to (and `unset` removed from) the INHERITED prop set —
    * the metadata-commit primitive behind [[renameColumn]]-style schema
    * ops and [[Constraints]] DDL. Inheritance is resolved eagerly so
    * `unset` can actually retire a key (the default inherit path can
    * only add/override). */
  def commitProps(table: String, set: Map[String, String],
                  unset: Set[String] = Set.empty): Long = {
    val v = currentVersion(table)
    require(v >= 1, s"commitProps($table): no committed snapshot")
    commitPropsAt(table, v, set, unset)
  }

  /** [[commitProps]] claiming EXACTLY version `base`+1 — the CAS form:
    * when a concurrent commit has already taken the slot the exclusive
    * snapshot-link publish throws [[ConcurrentCommitException]] instead
    * of silently landing one version later. This is what lets a stats
    * refresh stamp "these stats describe version base+1" truthfully:
    * the stamp names its OWN commit only if that commit actually IS
    * base+1 (r16 advisor find — the check-then-commit race let a racing
    * data commit slip between the read and the publish, and the stamp
    * then described a commit the stats had never seen). */
  def commitPropsAt(table: String, base: Long, set: Map[String, String],
                    unset: Set[String] = Set.empty): Long = {
    require(base >= 1, s"commitPropsAt($table): no committed snapshot")
    // bookkeeping markers (mv./cdc.) ARE carried here, unlike data
    // commits: a props-only commit re-publishes the folded rows
    // byte-identically, so the applied-version markers stay true by
    // construction — stripping them instead would permanently wedge a
    // mirror behind an innocuous SET TBLPROPERTIES (the fromV=0
    // bootstrap guard reads a dropped marker as a broken chain)
    val carried = snapshotProps(table, base)
      .filter { case (k, _) =>
        (InheritedPropPrefixes ++ BookkeepingPropPrefixes).exists(k.startsWith) }
    commitPrepared(
      Prepared(table, base + 1, manifestList(table, base).map(_._1)),
      props = (carried -- unset) ++ set, inherit = false)
  }

  /** (physical→logical renames, dropped physical names) at version `v`.
    * Identity/empty for tables that never renamed or dropped. */
  def schemaMapping(table: String, v: Long): (Map[String, String], Set[String]) = {
    val props = snapshotProps(table, v)
    (props.collect { case (k, lg) if k.startsWith(LogicalPropPrefix) =>
        k.drop(LogicalPropPrefix.length) -> lg },
      props.collect { case (k, _) if k.startsWith(DroppedPropPrefix) =>
        k.drop(DroppedPropPrefix.length) }.toSet)
  }

  /** Physical→logical projection of `df` under version `v`'s mapping:
    * dropped columns vanish, renamed columns surface under their
    * logical names. No-op (and allocation-free) on unmapped tables. */
  private[lake] def applyLogical(df: DataFrame, table: String, v: Long): DataFrame = {
    val (ren, dropped) = schemaMapping(table, v)
    if (ren.isEmpty && dropped.isEmpty) df
    else {
      val d = df.drop(dropped.toSeq.filter(df.columns.contains): _*)
      ren.foldLeft(d) { case (acc, (p, l)) =>
        if (p != l && acc.columns.contains(p)) acc.withColumnRenamed(p, l) else acc
      }
    }
  }

  /** Logical→physical projection of an input about to be staged under
    * the LIVE mapping; rejects resurrection of a dropped physical name
    * (a name-mapped format cannot tell a new column from the retired
    * one — the documented delta to Iceberg's field ids). */
  private def toPhysical(df: DataFrame, table: String): DataFrame = {
    val (ren, dropped) = schemaMapping(table, currentVersion(table))
    if (ren.isEmpty && dropped.isEmpty) df
    else {
      val mapped = ren.foldLeft(df) { case (acc, (p, l)) =>
        if (p != l && acc.columns.contains(l)) acc.withColumnRenamed(l, p) else acc
      }
      val clash = mapped.columns.filter(dropped.contains)
      require(clash.isEmpty,
        s"stage of $table: column(s) ${clash.mkString(", ")} collide with DROPPED " +
          "physical names — a name-mapped schema cannot reuse a retired name " +
          "(rename the new column)")
      mapped
    }
  }

  /** Live physical name of a LOGICAL column (identity when unmapped) —
    * the bridge between user predicates and the PHYSICAL `min.<col>` /
    * `bloom.<col>` per-file props. */
  def physicalName(table: String, logical: String): String = {
    val (ren, _) = schemaMapping(table, currentVersion(table))
    ren.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)
  }

  /** Live LOGICAL name for a column identified by either its logical or
    * physical name (identity when unmapped). Callers that captured a
    * column name BEFORE a rename — an SQL registration's tag column, a
    * maintenance job's config — pass it here to address the current
    * logical schema: after `RENAME day -> d`, both "day" and "d"
    * resolve to "d". [[stageResolved]] applies this against the
    * DataFrame being staged, which is what keeps every DML path (CoW
    * restage, MERGE insert staging, OPTIMIZE) working across renames
    * (r10 spec find — a post-rename SQL DELETE's copy-on-write restage
    * repartitioned on the stale physical name and crashed). */
  def logicalName(table: String, name: String): String = {
    val (ren, _) = schemaMapping(table, currentVersion(table))
    ren.getOrElse(name, name)
  }

  /** `name` as it appears in `df`'s (logical) columns: identity when
    * present, else the rename-mapped logical name. */
  private def stageResolved(df: DataFrame, table: String, name: String): String =
    if (df.columns.contains(name)) name else logicalName(table, name)

  /** RENAME a column — metadata-only commit: current manifests are
    * carried BY NAME and the new snapshot records the updated mapping.
    * Readers of older versions keep seeing the old name
    * (snapshot-scoped schema). The validation read unions file footer
    * schemas (a distributed metadata job on evolved tables — the one
    * non-driver cost of this DDL). The target may collide with NEITHER
    * a live logical name NOR any PHYSICAL file column: allowing the
    * latter (rename b→c freeing "b", then a→"b") would make the
    * physical→logical mapping non-injective against the file schema
    * and corrupt every later read or stage through rename collisions
    * (r9 review find — rejected here, the Iceberg-name-mapping
    * restriction). */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String): Long = {
    val v = currentVersion(table)
    require(v >= 1, s"renameColumn($table): no committed snapshot")
    val live = read(spark, table, mergeSchema = true).columns.toSet
    require(live.contains(from), s"renameColumn($table): no column '$from' (have ${live.mkString(", ")})")
    require(!live.contains(to), s"renameColumn($table): target '$to' already exists")
    // engine-reserved names are invisible to the live-column check
    // (normal reads hide __rid; feed markers never stage), so a rename
    // ONTO them must be rejected here — renaming to __rid would make
    // the column silently vanish from every read and be destroyed by
    // the next rewrite; _row_id would wedge every mutation and feed
    // (r12 review find)
    val reserved = Set(RowIdCol, RidCol, "_change_type", "_commit_version")
    require(!reserved.contains(to),
      s"renameColumn($table): '$to' is an engine-reserved name " +
        s"(${reserved.mkString(", ")}) — pick another")
    val phys = physicalName(table, from)
    val physical = rawColumns(spark, table)
    require(to == phys || !physical.contains(to),
      s"renameColumn($table): target '$to' collides with a physical file " +
        "column of the same name — name-mapped schemas cannot reuse a " +
        "physically-occupied name (pick a fresh name)")
    requireNoConstraintOn(table, from, s"renameColumn($table, $from -> $to)")
    commitPrepared(Prepared(table, v + 1, manifestList(table, v).map(_._1)),
      props = Map(LogicalPropPrefix + phys -> to))
  }

  /** PHYSICAL column names as the files carry them (mergeSchema union,
    * no logical mapping applied) — the rename-collision ground truth. */
  private def rawColumns(spark: SparkSession, table: String): Set[String] =
    spark.read.option("mergeSchema", "true")
      .parquet(entriesAll(table).map(e => s"$table/${e.rel}"): _*)
      .columns.toSet

  /** DROP a column — metadata-only commit; the bytes stay in the files
    * (and in older snapshots, which still read it) but every read of
    * this and later versions excludes it. The physical name is retired
    * permanently (see [[toPhysical]]). */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val v = currentVersion(table)
    require(v >= 1, s"dropColumn($table): no committed snapshot")
    require(read(spark, table, mergeSchema = true).columns.contains(name),
      s"dropColumn($table): no column '$name'")
    requireNoConstraintOn(table, name, s"dropColumn($table, $name)")
    val phys = physicalName(table, name)
    commitPrepared(Prepared(table, v + 1, manifestList(table, v).map(_._1)),
      props = Map(DroppedPropPrefix + phys -> "1"))
  }

  /** Schema ops refuse to move a column an active CHECK constraint
    * mentions: constraint expressions are stored as TEXT in logical
    * terms, so a rename would silently orphan them (every later write
    * would fail on an unresolvable column — loud, but far from the
    * cause). Word-boundary match is conservative by design: drop the
    * constraint, rename, re-add under the new name. */
  private def requireNoConstraintOn(table: String, column: String,
                                    op: String): Unit = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    val offending = Constraints.active(table)
      .collect { case (n, text) if re.findFirstIn(text).isDefined => n }
    require(offending.isEmpty,
      s"$op: active CHECK constraint(s) ${offending.mkString(", ")} mention " +
        s"'$column' — drop them first, then re-add against the new schema")
  }

  /** Read the live snapshot — optionally pruned by file tag BEFORE any
    * file is opened (manifest-level, then line-level pruning).
    * `mergeSchema = true` unions the footer schemas of an EVOLVED table
    * (commits that added columns), NULL-filling files from before the
    * addition — one footer read per file, so reserve it for evolved
    * tables; a stable schema reads one footer either way. */
  def read(spark: SparkSession, table: String,
           tagFilter: String => Boolean = _ => true,
           fileFilter: Entry => Boolean = _ => true,
           mergeSchema: Boolean = false): DataFrame =
    readVersion(spark, table, currentVersion(table), tagFilter, fileFilter, mergeSchema)

  // ---- physical-schema uniformity (cached per table version) ----------
  //
  // The pruned fast path serves a whole scan from ONE schema, so it must
  // PROVE the selected files agree; on a column-evolved table a single
  // arbitrary footer would silently pin the scan to whichever file came
  // first and VANISH later-added columns (r10 advisor find — divergent
  // tables now fall back to the plain read instead). The proof is cheap:
  // files written by one staged write job share a schema by
  // construction, so one footer per staging DIRECTORY decides the whole
  // version — O(#commits) footer reads, not O(#files) — except converted
  // adoptions (data/convert-*), whose files predate the writer and are
  // checked individually. The verdict caches per (table, version,
  // entry-set digest): snapshot content is immutable, so repeated SQL
  // resolutions against one version re-read nothing (this is also the
  // resolution-rule schema-read cache the r9 verdict asked for).
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long),
    Seq[(org.apache.spark.sql.types.StructType, Set[String])]]()

  /** Footer reads performed by [[schemaGroups]] misses — observability
    * hook for the caching contract (a repeated SQL resolution of one
    * snapshot must read zero footers); specs assert on deltas. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  // a staged write dir is data/d<UUID.take(12)> — 8 hex, dash, 3 hex
  private val StagedDirRe = "^d[0-9a-f]{8}-[0-9a-f]{3}$".r

  private def schemaGroup(rel: String): String = {
    val segs = rel.split('/')
    // the data/<stagedir> pair may sit behind a traversal hop (shallow
    // clones re-point entries as ../source/data/<stagedir>/…): anchor
    // on the LAST "data" segment so cloned entries group by their
    // source staging dirs instead of one-group-per-file (which would
    // re-create the converted-table probe stall and push groupedRead
    // past its union bail on any large clone). Grouping fires ONLY for
    // genuine staged dirs — the d<uuid-prefix> name pattern, behind
    // either nothing (native) or a ".."-leading hop (clone) — so a
    // convert-adopted external layout that happens to contain a "data"
    // path segment (raw/data/2024/…, heterogeneous external writers)
    // keeps its files individually unknown, the r10 soundness rule
    val i = segs.lastIndexOf("data")
    if (i >= 0 && segs.length - i >= 3 && StagedDirRe.matches(segs(i + 1)) &&
        (i == 0 || segs(0) == ".."))
      segs.take(i + 2).mkString("/") // one staged write job: one schema
    else rel                         // adopted file: individually unknown
  }

  // per-GROUP footer schema, keyed (table, group key) — VERSION-
  // INDEPENDENT, unlike schemaCache below: a staging directory's files
  // are immutable and share one schema by construction (and an adopted
  // convert-* file is immutable under the table contract — data files
  // are never overwritten), so the footer probe for a group is paid
  // ONCE PER TABLE LIFETIME, not once per version. Without this, every
  // NEW version of a converted table re-probed O(#files) footers
  // serially on the driver before groupedRead could even bail (r10
  // advisor find — a severe first-query stall repeated per commit at
  // the 10⁶-file scale). Staleness risk is the same drop-and-recreate
  // shape manifestCache documents: data/* keys embed fresh UUIDs per
  // stage, so a recreated table can never collide with a stale key.
  private val groupSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** Snapshot `v`'s entries grouped by PHYSICAL footer schema — one
    * group for an un-evolved table, one per distinct schema after
    * column evolution (each the rels sharing it). The hidden [[RidCol]]
    * does not split a group: a MERGE/UPDATE/compact rewrite adds it to
    * its files, and the group scans the variant carrying it (footer
    * schemas are all-nullable, see [[footerSchema]]), so the older files
    * read it as NULL — what [[rowIdFrom]]'s
    * `coalesce(__rid, base + row_index)` expects. Cached; see the
    * section comment above. */
  private[graft] def schemaGroups(spark: SparkSession, table: String, v: Long)
      : Seq[(org.apache.spark.sql.types.StructType, Set[String])] = {
    val es = entriesAt(table, v)
    if (es.isEmpty) return Seq.empty
    if (schemaCache.size > 256) schemaCache.clear()
    // keyed (table, v) WITHOUT an entry digest: a committed version's
    // entry set is immutable, file content behind a rel is immutable
    // (UUID names), and the one way this key can go stale — a table
    // dropped and recreated under the same path — produces rels the
    // cached groups don't cover, which [[groupedRead]]'s coverage guard
    // turns into the sound plain-read fallback. Digesting every rel
    // per resolution would cost O(entries) hashing per query at 10⁶
    // files for protection the guard already provides.
    schemaCache.computeIfAbsent((table, v), { _ =>
      val byDir = es.groupBy(e => schemaGroup(e.rel))
      if (groupSchemaCache.size > 65536) groupSchemaCache.clear()
      // snapshot cached values into a LOCAL map first: a concurrent
      // caller crossing the bound can clear() the shared cache at any
      // point, so the result is built only from local values — a
      // cleared entry re-probes instead of surfacing null (r11 review
      // find)
      val local = scala.collection.mutable.HashMap
        .empty[String, org.apache.spark.sql.types.StructType]
      byDir.keysIterator.foreach { k =>
        val cached = groupSchemaCache.get((table, k))
        if (cached != null) local(k) = cached
      }
      val toProbe = byDir.toSeq.sortBy(_._1)
        .collect { case (k, ges) if !local.contains(k) => (k, ges.head.rel) }
      footerReads.addAndGet(toProbe.size)
      // probe uncached groups on the driver, one footer open each (no
      // Spark job), on a bounded pool past a few — a freshly converted
      // table is one group PER FILE, and a serial loop over 10⁵ footers
      // is the first-read stall the cache then amortizes. The converter
      // is built HERE from the session conf: pool threads have no
      // active session (nanosAsLong and friends must still apply)
      val converter = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
      def probe(rel: String) = footerSchema(s"$table/$rel", converter)
      if (toProbe.size <= 4)
        toProbe.foreach { case (k, rel) => local(k) = probe(rel) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, toProbe.size))
        try {
          toProbe.map { case (k, rel) =>
            (k, pool.submit(new java.util.concurrent.Callable[
                org.apache.spark.sql.types.StructType] {
              def call() = probe(rel)
            }))
          }.foreach { case (k, fut) => local(k) = fut.get() }
        } finally pool.shutdown()
      }
      local.foreach { case (k, sch) => groupSchemaCache.put((table, k), sch) }
      def withoutRid(s: org.apache.spark.sql.types.StructType) =
        org.apache.spark.sql.types.StructType(s.fields.filterNot(_.name == RidCol))
      byDir.toSeq.sortBy(_._1)
        .map { case (k, ges) => (local(k), ges.map(_.rel).toSet) }
        .groupBy { case (sch, _) => withoutRid(sch) }.toSeq
        .map { case (base, parts) =>
          (parts.map(_._1).find(_.fieldNames.contains(RidCol)).getOrElse(base),
            parts.flatMap(_._2).toSet) }
        .sortBy(_._2.min)
    })
  }

  /** The Spark schema of one parquet file, read from its footer on the
    * driver — what `spark.read.parquet(path).schema` infers (Spark's own
    * footer reading and conversion, all fields nullable), without the
    * schema-inference Spark job. */
  private[graft] def footerSchema(path: String,
      converter: org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter): org.apache.spark.sql.types.StructType =
    withFooter(path) { (p, reader) =>
      org.apache.spark.sql.GraftSqlBridge.asNullable(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(p, reader.getFooter), converter))
    }

  private def withFooter[T](path: String)(
      f: (org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.ParquetFileReader) => T): T = {
    val p = new org.apache.hadoop.fs.Path(new File(path).getAbsolutePath)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, new org.apache.hadoop.conf.Configuration()))
    try f(p, reader) finally reader.close()
  }

  /** Scan exactly `selected` through manifest-backed pruned FileIndex
    * plans where the footer-schema GROUPS allow it — the one scan
    * assembler every read path shares:
    *   - one group (un-evolved table, or a uniform slice of an evolved
    *     one): a single pruned scan;
    *   - several groups with `allowUnion` (mergeSchema semantics): a
    *     union of per-group pruned scans NULL-filled to the name-keyed
    *     merged schema — the mergeSchema read's rows without its cost
    *     (mergeSchema re-reads EVERY footer and prunes nothing);
    *     pushed-down predicates travel through the Union into every
    *     branch, so file skipping survives schema evolution;
    *   - None when entries fall outside the version's groups (cross-
    *     version callers), the groups' column types conflict (exactly
    *     the case parquet mergeSchema fails on too), or the group count
    *     is absurd (freshly adopted directories: one group per file —
    *     the union would out-cost the footers). Callers fall back to
    *     the plain read. */
  private[lake] def groupedRead(spark: SparkSession, table: String, v: Long,
      selected: Seq[Entry], tagColHint: String,
      allowUnion: Boolean): Option[DataFrame] = {
    val groups0 = schemaGroups(spark, table, v)
    val covered = groups0.iterator.flatMap(_._2).toSet
    if (!selected.forall(e => covered(e.rel))) return None
    val groups = groups0
      .map { case (sch, rels) => (sch, selected.filter(e => rels(e.rel))) }
      .filter(_._2.nonEmpty)
    if (groups.isEmpty || groups.size > 16) return None
    if (groups.size == 1) // the selected slice is uniform after all
      return Some(org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        org.apache.spark.sql.GraftRelations.prunedParquetPlan(
          spark, table, tagColHint, v, groups.head._2, groups.head._1)))
    if (!allowUnion) return None
    val target =
      try groups.map(_._1).reduceLeft(mergeSchemasByName)
      catch { case _: IllegalArgumentException => return None }
    val frames = groups.map { case (sch, es) =>
      org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        org.apache.spark.sql.GraftRelations.prunedParquetPlan(
          spark, table, tagColHint, v, es, sch))
    }
    import org.apache.spark.sql.functions.col
    Some(frames.reduce(_.unionByName(_, allowMissingColumns = true))
      .select(target.fieldNames.map(col(_)).toSeq: _*))
  }

  /** TIME TRAVEL: read snapshot `v` exactly as it was committed. Free
    * given the log — snapshots and manifests are immutable and shared
    * structurally (an append's snapshot lists the prior manifests BY
    * NAME) — valid until a [[vacuum]] (which drops superseded snapshots
    * along with their unshared manifests and unreferenced files, the
    * retention boundary).
    *
    * A committed snapshot listing ZERO files (a remove-everything
    * commit) reads back EMPTY on the log-recorded schema
    * ([[SchemaDdlProp]] — the Delta/Iceberg schema-in-the-log move,
    * r11; previously this failed for want of a parquet footer). Only a
    * zero-file snapshot on a log whose commits predate the record
    * still errors. */
  def readVersion(spark: SparkSession, table: String, v: Long,
                  tagFilter: String => Boolean = _ => true,
                  fileFilter: Entry => Boolean = _ => true,
                  mergeSchema: Boolean = false,
                  tagColHint: String = "",
                  metadataSafe: Boolean = false): DataFrame = {
    val mfs = manifestList(table, v)
    val selected = mfs
      .collect { case (mf, tags) if tags.isEmpty || tags.exists(tagFilter) => mf }
      .flatMap(manifestEntries(table, _))
      .filter(e => tagFilter(e.tag) && fileFilter(e))
    val fs = selected.map(e => s"$table/${e.rel}")
    if (selected.nonEmpty) {
      // scan through the manifest-backed FileIndex wherever the footer
      // schemas allow ([[groupedRead]] — single pruned scan for a
      // uniform slice, a pruned-per-group union under mergeSchema), so
      // predicates the QUERY pushes down later (tag equality via
      // `tagColHint`, stats ranges, bloom equality) prune entries on
      // top of the caller's explicit tagFilter/fileFilter — automatic
      // data skipping for every kernel read, same rows either way.
      // Renamed/dropped schemas ride too: the scan is physical, the
      // logical projection sits above it (filters push back through).
      // metadataSafe: `_metadata` columns only resolve on a SINGLE scan
      // relation — a grouped union cannot expose them — so such callers
      // (position-collecting mutation scans) forgo the pruned union on
      // evolved slices and take the plain one-relation mergeSchema read
      // the hidden materialized-row-id column never surfaces on normal
      // reads (Catalyst prunes it from the scan, so hiding is free)
      applyLogical(
        groupedRead(spark, table, v, selected, tagColHint,
            allowUnion = mergeSchema && !metadataSafe)
          .getOrElse(spark.read
            .option("mergeSchema", mergeSchema.toString).parquet(fs: _*)),
        table, v).drop(RidCol)
    } else {
      // every file pruned: skipping is IO elision, never semantics — the
      // correct result is EMPTY, carried on the schema of any snapshot
      // file (footer-only IO). A ZERO-FILE snapshot (remove-everything
      // commit) reads on the LOG-RECORDED schema instead (r11,
      // [[SchemaDdlProp]] — the Delta schema-in-the-log move); only a
      // zero-file snapshot on a pre-r11 log without the record fails.
      val any = mfs.view.flatMap { case (mf, _) => manifestEntries(table, mf) }.headOption
      val empty = any match {
        case Some(e) => spark.read.parquet(s"$table/${e.rel}").limit(0)
        case None =>
          val ddl = snapshotProps(table, v).get(SchemaDdlProp)
          require(ddl.isDefined,
            s"snapshot read of $table v$v: snapshot lists no files and the " +
              "log records no schema (pre-r11 commit)")
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(ddl.get))
      }
      applyLogical(empty, table, v).drop(RidCol)
    }
  }

  /** CHANGE DATA FEED between two committed snapshots — the Delta
    * "CDF without row tracking" shape, file-granular with a
    * position-granular extension for merge-on-read deletes:
    *   - rows in files the `to` snapshot ADDED emit
    *     `_change_type = "insert"`; rows in files it stopped listing
    *     emit `"delete"` — each side read MERGED as of its own version,
    *     so rows a deletion vector had already removed never re-surface
    *     in either side;
    *   - a SHARED file whose deletion vector GREW (deleteWhere commits
    *     new props, not new rels) emits the rows at the newly-deleted
    *     positions as deletes — without this the feed was blind to DV
    *     deletes and incremental MVs silently kept deleted rows
    *     (r8 review find, spec-pinned).
    * Unchanged files — the bulk of the table under the manifest-delta
    * commit discipline — contribute NOTHING and are never opened: cost
    * is O(changed files), which is what makes an incremental
    * consumer (sync a downstream index, audit a heal) viable at 100 TB
    * where re-diffing table contents would be a full double scan.
    * Derived purely from the immutable log, so valid until [[vacuum]]
    * like [[readVersion]]; `fromV = 0` yields the whole `toV` snapshot
    * as inserts (the bootstrap read, vectors applied).
    *
    * `_change_type` is a RESERVED name: a snapshot whose data schema
    * already carries that column is rejected (silently replacing it
    * would corrupt the feed). Evolved schemas read with
    * `mergeSchema = true` per side and union with NULL-fill, so the
    * feed always presents the union schema. */
  def changes(spark: SparkSession, table: String, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(1 <= toV && 0 <= fromV && fromV <= toV && toV <= currentVersion(table),
      s"changes($table, $fromV, $toV): need 0 <= from <= to <= current, to >= 1 " +
        "(version 0 is the empty pre-creation state; there is no feed into it)")
    val fromE = entriesAt(table, fromV)
    val toE   = entriesAt(table, toV)
    val fromByRel = fromE.map(e => e.rel -> e).toMap
    val toByRel   = toE.map(e => e.rel -> e).toMap
    def noReserved(df: DataFrame): DataFrame = {
      require(!df.columns.contains("_change_type"),
        s"changes($table): snapshot schema already has a `_change_type` column — " +
          "the name is reserved for the feed; rename the data column")
      df
    }
    // each side reads MERGED as of ITS version — a removed file's
    // delete rows exclude what a deletion vector had already removed at
    // `from`, an added file's insert rows apply `to`'s vector
    // both sides surface under the TO version's LOGICAL names (physical
    // names are stable across renames, so this is a pure projection):
    // a feed crossing a rename commit stays union-compatible instead of
    // splitting one column into old-name/new-name halves
    def side(es: Seq[Entry], kind: String): Option[DataFrame] =
      if (es.isEmpty) None
      else Some(noReserved(applyLogical(
          readEntriesMerged(spark, table, es, mergeSchema = true,
            rowIds = true), table, toV))
        .withColumn("_change_type", lit(kind)))
    val removed = fromE.filterNot(e => toByRel.contains(e.rel))
    val added   = toE.filterNot(e => fromByRel.contains(e.rel))
    // a SHARED file whose deletion-vector reference CHANGED between the
    // versions (deleteWhere and rollback commit new PROPS, not new rels
    // — pre-r8 the feed was BLIND to them and incremental MVs silently
    // kept deleted rows). The vector can move in BOTH directions:
    //   - GROWTH (deleteWhere folds the prior vector into a superset):
    //     to-positions minus from-positions are NEW deletes;
    //   - SHRINKAGE (rollback() re-publishes an OLDER entry under the
    //     same rel — the one op that moves a rel's vector backwards;
    //     r9 advisor find, spec-pinned): from-positions minus
    //     to-positions are RESURRECTED rows, emitted as inserts —
    //     without them an incremental MV folding across the rollback
    //     silently diverges from the table it mirrors.
    // A side with no vector at all (pre-first-delete, or rolled back to
    // a pre-delete snapshot) contributes the EMPTY position set; the
    // mixed case (some rels grew, some shrank) is handled per
    // (file, position) pair by the two set differences.
    val dvChanged = toE.filter(e => fromByRel.get(e.rel).exists(f =>
      f.props.get(DvRefProp) != e.props.get(DvRefProp)))
    val dvDiff: Seq[DataFrame] =
      if (dvChanged.isEmpty) Seq.empty
      else {
        val toPosOpt = dvPositions(spark, table, dvChanged)
        val fromPosOpt = dvPositions(spark, table,
          dvChanged.map(e => fromByRel(e.rel)))
        val empty = toPosOpt.orElse(fromPosOpt).get.limit(0)
        val toPos = toPosOpt.getOrElse(empty)
        val fromPos = fromPosOpt.getOrElse(empty)
        // each direction's data scan is restricted to the files its
        // position diff actually names (the distinct-fid collect is
        // sidecar-sized, O(changed files) driver strings) — the common
        // grow-only shape pays ONE pass over only the grown files, and
        // a mixed rollback never re-scans files that contributed no
        // resurrection (r9 review find)
        def rowsAt(pos: DataFrame, kind: String): Option[DataFrame] = {
          val fids = pos.select("__fid").distinct()
            .collect().map(_.getString(0)).toSet
          if (fids.isEmpty) None
          else {
            val touched = dvChanged.filter(e => fids(fileId(e.rel)))
            val data = spark.read.option("mergeSchema", "true")
              .parquet(touched.map(e => s"$table/${e.rel}"): _*)
            val cols = data.columns.filterNot(_ == RidCol).map(col)
            Some(noReserved(applyLogical(
              rowIdFrom(spark, data
                  .withColumn("__fid", fileIdCol(col("_metadata.file_path")))
                  .withColumn("__pos", col("_metadata.row_index"))
                  .join(pos, Seq("__fid", "__pos")),
                  touched, "__fid", "__pos")
                .select(cols :+ col(RowIdCol): _*), table, toV))
              .withColumn("_change_type", lit(kind)))
          }
        }
        rowsAt(toPos.except(fromPos), "delete").toSeq ++
          rowsAt(fromPos.except(toPos), "insert").toSeq
      }
    val parts = side(removed, "delete").toSeq ++ dvDiff ++
      side(added, "insert").toSeq
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // no changes: an empty feed with the live schema (needs >=1
        // committed file to carry it, same limitation as readVersion's
        // zero-file note above)
        noReserved(readVersion(spark, table, toV).limit(0))
          .withColumn(RowIdCol, lit(null).cast("long"))
          .withColumn("_change_type", lit("insert"))
      }
  }

  /** [[changes]] with PER-COMMIT ATTRIBUTION — each row carries the
    * `_commit_version` that produced it, the Delta `table_changes`
    * column consumers order and resume by. Built as the union of the
    * per-version step diffs, so unlike the net-diff [[changes]] a file
    * added in v2 and removed in v4 shows BOTH events (an audit wants
    * the history; an incremental MV wants the net — both stay
    * available). Cost: O(Σ changed files per step) — each commit's
    * touched files, the same total the per-commit actions cost Delta;
    * steps crossing a rename re-present under `toV`'s names so the
    * union stays one schema (columns dropped mid-range NULL-fill). */
  def changesAttributed(spark: SparkSession, table: String,
                        fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(1 <= toV && 0 <= fromV && fromV <= toV && toV <= currentVersion(table),
      s"changesAttributed($table, $fromV, $toV): need 0 <= from <= to <= current")
    val (renTo, _) = schemaMapping(table, toV)
    def namesAt(df: DataFrame, v: Long): DataFrame = {
      val (renAt, _) = schemaMapping(table, v)
      // step-logical -> toV-logical, bridged by the stable physical name
      val m = renAt.map { case (p, lAt) => lAt -> renTo.getOrElse(p, p) } ++
        renTo.collect { case (p, lTo) if !renAt.contains(p) => p -> lTo }
      // ONE simultaneous projection, not chained withColumnRenamed: a
      // rename chain that reuses a freed logical name (a->x, x->y,
      // b->x) would otherwise collide mid-chain depending on map
      // iteration order (review find)
      if (m.forall { case (from, to) => from == to }) df
      else df.select(df.columns.toSeq.map(c =>
        org.apache.spark.sql.functions.col(s"`$c`").as(m.getOrElse(c, c))): _*)
    }
    val steps = math.max(fromV, 0L) + 1 to toV
    // SKIP no-op steps BEFORE building any plan: a feed row exists only
    // when a step changed the (rel → deletion-vector) state, and that
    // test is pure driver metadata sharing each step's entry list with
    // the next (manifest-cached adjacent diffs — r10 advisor find: the
    // unconditional per-step union made table_changes(t, 0, N) over a
    // long history an O(N)-branch plan with 2N scan subtrees even when
    // most commits were props-only/maintenance no-ops; branch count is
    // now O(commits that actually changed rows))
    def dvState(v: Long): Map[String, Option[String]] =
      entriesAt(table, v).map(e => e.rel -> e.props.get(DvRefProp)).toMap
    // MISSING versions (batchCommitter gaps from empty batches) are
    // non-commits: step over them, diffing each existing version
    // against the previous EXISTING one (r11 review find — the dense
    // v-1 arithmetic crashed table_changes on exactly the gapped logs
    // the CDF source supports)
    var prevV = math.max(fromV, 0L)
    while (prevV > 0 && !versionExists(table, prevV)) prevV -= 1
    val changedSteps: Seq[(Long, Long)] =
      if (steps.isEmpty) Seq.empty
      else {
        var prev = dvState(prevV)
        steps.filter(versionExists(table, _)).flatMap { v =>
          val cur = dvState(v)
          val changed = cur != prev
          prev = cur
          val base = prevV
          prevV = v
          if (changed) Some((base, v)) else None
        }
      }
    if (changedSteps.isEmpty) { // nothing changed: the empty feed, schema-complete
      var emptyV = toV
      while (emptyV > 0 && !versionExists(table, emptyV)) emptyV -= 1
      require(emptyV >= 1,
        s"changesAttributed($table): no committed snapshot at or before $toV")
      changes(spark, table, emptyV, emptyV).withColumn("_commit_version", lit(toV))
    }
    else changedSteps.map { case (base, v) =>
      namesAt(changes(spark, table, base, v), v)
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Stage `df` as immutable data files under a fresh `data/<token>/`
    * dir, each file holding exactly ONE `tagCol` value — the invariant
    * manifest-level pruning needs. The guarantee comes from the WRITER
    * LAYOUT, not a post-hoc check: the tag is duplicated into a `__tag`
    * directory column and written `partitionBy(__tag)` — one file per
    * (task, tag) regardless of how the shuffle placed rows — while the
    * original column stays IN the data files so explicit-file
    * reads keep the full schema. The tag per file then parses straight
    * from the path the writer encoded — decoded with Spark's OWN
    * Hive-style unescaping (URL-decoding would corrupt a literal `+`
    * to a space: Spark escapes `%`/`:`/control chars but leaves `+`
    * and space alone). NULL/empty tags are rejected here, at the door:
    * they write as the Hive null sentinel directory, which cannot
    * round-trip through the manifest. Tags carrying the framing chars
    * (tab, newline, \u0001, \u0002) are rejected for the same reason.
    * Returns the staged `(relpath, tag)` entries; NOTHING is visible to
    * readers until [[commit]] publishes them. */
  def stage(df: DataFrame, table: String, tagCol: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val tag = stageResolved(df, table, tagCol)
    // SIZE-BUDGETED REBALANCE on the tag (AQE RebalancePartitions, the
    // plan behind /*+ REBALANCE(c) */), not a plain hash repartition
    // (r10 verdict top item: "one file per tag" made a hot tag one
    // multi-GB single-task write and a read-parallelism floor at 100x):
    //   - a tag LARGER than the session's AQE advisory partition size
    //     (spark.sql.adaptive.advisoryPartitionSizeInBytes) SKEW-SPLITS
    //     across tasks by its actual shuffle bytes, so an oversized tag
    //     writes N target-sized files in parallel -- each still
    //     single-tag (the partitionBy guarantee is per task,
    //     unconditional), each with its own footer stats; manifest tag
    //     pruning simply lists N entries for that tag;
    //   - SMALL tags COALESCE into shared tasks (no tiny-partition
    //     fragmentation), still one file per tag because partitionBy
    //     splits within the task.
    stageClustered(df.hint("rebalance", col(tag)), table, tag)
  }

  /** Gate for the rewrite paths' staging of the hidden materialized
    * row-id column: OUTSIDE it, a frame carrying [[RidCol]] (or the
    * feed-visible [[RowIdCol]]) is rejected loudly — a user data
    * column under either name would be silently hijacked as row
    * identity, dropped from every normal read, and destroyed by the
    * next rewrite (r12 review find). */
  private val internalRid = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private[lake] def withInternalRid[T](body: => T): T = {
    internalRid.set(true)
    try body finally internalRid.set(false)
  }

  /** [[stage]] for an input whose task layout is ALREADY the intended
    * file layout (e.g. [[stageWithStats]]'s range clustering): writes
    * as-is; the `partitionBy` still guarantees one tag per FILE. */
  private def stageClustered(df: DataFrame, table: String, tagCol: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    require(!df.columns.contains(RowIdCol),
      s"stage of $table: `$RowIdCol` is reserved for row tracking — drop " +
        "or rename the column before writing (the change feed attaches it " +
        "automatically on reads)")
    require(internalRid.get || !df.columns.contains(RidCol),
      s"stage of $table: `$RidCol` is the engine's materialized row-id " +
        "column — a data column under that name would be hijacked as row " +
        "identity and destroyed by the next rewrite; rename it")
    val token = "data/d" + java.util.UUID.randomUUID().toString.take(12)
    val dir = s"$table/$token"
    // inputs arrive under LOGICAL names; files are written PHYSICAL so
    // post-rename appends land in the same columns as pre-rename files
    val pdf = toPhysical(df, table)
    val ptag = physicalName(table, tagCol)
    pdf.withColumn("__tag", col(ptag).cast("string"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .partitionBy("__tag").parquet(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = new File(table).toPath
    val staged = walk(new File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val rel = root.relativize(f.toPath).toString
        val tag = rel.split('/').collectFirst {
          case s if s.startsWith("__tag=") =>
            ExternalCatalogUtils.unescapePathName(s.substring("__tag=".length))
        }.getOrElse(sys.error(s"staged file $rel carries no tag segment"))
        require(tag != HiveNull,
          s"stage of $table: NULL/empty $ptag — snapshot tags must be non-null " +
            "(write a sentinel value upstream if absent-tag rows are legitimate)")
        require(!tag.exists(c => c == '\t' || c == '\n' || c == '\u0001' || c == '\u0002'),
          s"stage of $table: tag ${tag.take(40)} carries manifest framing characters")
        (rel, tag)
      }.sortBy(_._1)
    // CHECK-constraint gate: read-back of the just-written batch, BEFORE
    // any entry becomes commit-eligible (a metadata-only no-op when the
    // table carries no constraints -- [[Constraints.enforceStaged]])
    if (staged.nonEmpty) Constraints.enforceStaged(df.sparkSession, table, dir)
    staged
  }

  /** [[stage]] + per-file COLUMN STATS, the Iceberg data-skipping
    * shape: rows are range-clustered on `(tagCol, statsCol)` across
    * `buckets` tasks before the partitioned write (so each file covers
    * a NARROW statsCol range — without clustering, every file spans
    * the column's full range and stats prune nothing), then each
    * staged file's min/max of `statsCol` is read from its parquet
    * FOOTER — metadata-only IO, no data pages touched — and recorded
    * as `min.<col>` / `max.<col>` properties on the manifest entry.
    * Commit with [[commitAll]]; prune reads with [[rangeOverlap]].
    * Numeric primitive columns only (int/long/float/double): anything
    * else stages fine but carries no stats (and is never pruned). */
  def stageWithStats(df: DataFrame, table: String, tagCol: String,
                     statsCol: String, buckets: Int = 128): Seq[Entry] = {
    import org.apache.spark.sql.functions._
    val tag = stageResolved(df, table, tagCol)
    val stats = stageResolved(df, table, statsCol)
    val clustered = df.repartitionByRange(buckets, col(tag), col(stats))
    // footer stats read the PHYSICAL column; props stay physical too
    withFooterStats(stageClustered(clustered, table, tag), table,
      Seq(physicalName(table, stats)))
  }

  /** [[compact]]'s default bin-pack target: files at/above this size
    * are already "well-sized" and never rewritten by a plain OPTIMIZE
    * (128 MB — the classic HDFS-block/Delta-OPTIMIZE-order target;
    * scale deployments tune it alongside the AQE advisory size that
    * budgets [[stage]]'s writes). */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** Bits per dimension of the [[stageZOrdered]] grid: 16 bits x up to
    * 4 columns keeps the interleaved z-value inside a positive long. */
  private val ZBits = 16

  /** MULTI-COLUMN clustering for data skipping — the Z-ORDER shape
    * (Delta OPTIMIZE ZORDER BY / the Morton-curve literature): each
    * stats column is linearly bucketed onto a 2^[[ZBits]] grid between
    * its corpus min/max (one tiny extra agg, broadcast back — Iceberg
    * reads these bounds from table metadata; a production pipeline
    * would reuse the prior snapshot's stats), the per-column bucket
    * bits are INTERLEAVED into a Morton z-value, and rows are
    * range-clustered on `(tag, z)`. Locality on the space-filling curve
    * means each file covers a small BOX in every stats dimension at
    * once — so a conjunction of [[rangeOverlap]] predicates on ANY
    * subset of the columns prunes files, where single-column range
    * clustering serves only its one leading column. Per-file min/max
    * for ALL stats columns ride the manifest entry, read from parquet
    * footers (metadata-only IO). The interleave is pure
    * shift/and/or arithmetic — codegen'd, no UDF. */
  def stageZOrdered(df: DataFrame, table: String, tagCol0: String,
                    statsCols0: Seq[String], buckets: Int = 128): Seq[Entry] = {
    import org.apache.spark.sql.functions._
    require(statsCols0.nonEmpty && statsCols0.size <= 4,
      s"z-order supports 1..4 stats columns, got ${statsCols0.size}")
    val tagCol = stageResolved(df, table, tagCol0)
    val statsCols = statsCols0.map(stageResolved(df, table, _))
    // the Morton buckets come from a DOUBLE projection: a string
    // column would cast to NULL → bucket 0 everywhere — a silently
    // UNCLUSTERED layout that still reads as "z-ordered" (r16 review
    // chain); refuse loudly instead, like the histogram family.
    // DATE / TIMESTAMP(_NTZ) pass the guard but CANNOT `cast("double")`
    // (analysis error — the r16 guard admitted them and then crashed
    // two operators later); they project through their epoch integers
    // instead (unix_date / unix_micros) — any monotone numeric
    // projection yields the same clustering.
    def numSpace(c: String): org.apache.spark.sql.Column = {
      val dt = df.schema.fields.find(_.name == c).map(_.dataType).get
      import org.apache.spark.sql.types._
      dt match {
        case _: NumericType   => col(c).cast("double")
        case DateType         => unix_date(col(c)).cast("double")
        case TimestampType    => unix_micros(col(c)).cast("double")
        case TimestampNTZType =>
          unix_micros(col(c).cast(TimestampType)).cast("double")
        case other => throw new IllegalArgumentException(
          s"stageZOrdered($table): column '$c' has type ${other.sql} — " +
            "z-order buckets need a numeric/date/timestamp column")
      }
    }
    val nc = statsCols.size
    val aggs = statsCols.flatMap(c => Seq(
      min(numSpace(c)).as(s"__mn_$c"),
      max(numSpace(c)).as(s"__mx_$c")))
    val bounds = broadcast(df.agg(aggs.head, aggs.tail: _*))
    val grid = (1L << ZBits) - 1
    def bucket(c: String): org.apache.spark.sql.Column = {
      val span = col(s"__mx_$c") - col(s"__mn_$c")
      when(span > 0.0, least(lit(grid), greatest(lit(0L),
        floor((numSpace(c) - col(s"__mn_$c")) / span * (grid + 1))
          .cast("long")))).otherwise(lit(0L))
    }
    val z = (0 until ZBits).flatMap { b =>
      statsCols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(col(s"__zb_$c"), b).bitwiseAND(lit(1L)), b * nc + j)
      }
    }.reduce(_.bitwiseOR(_)) // disjoint bit positions
    val clustered = df.crossJoin(bounds)
      .withColumns(statsCols.map(c => s"__zb_$c" -> bucket(c)).toMap)
      .withColumn("__z", z)
      .repartitionByRange(buckets, col(tagCol), col("__z"))
      .drop(statsCols.flatMap(c =>
        Seq(s"__mn_$c", s"__mx_$c", s"__zb_$c")) :+ "__z": _*)
    withFooterStats(stageClustered(clustered, table, tagCol), table,
      statsCols.map(physicalName(table, _)))
  }

  /** Decorate staged entries with `min./max.<col>` (numeric) or
    * `smin./smax.<col>` (string) props for every stats column, one
    * footer open per file. */
  private[graft] def withFooterStats(staged: Seq[(String, String)], table: String,
                                    statsCols: Seq[String]): Seq[Entry] =
    staged.map { case (rel, tag) =>
      Entry(rel, tag, footerStats(s"$table/$rel", statsCols))
    }

  /** Keep-if-overlapping predicate for [[read]]/[[readVersion]]'s
    * `fileFilter` over [[stageWithStats]] stats: a file is skipped only
    * when its recorded [min, max] lies entirely OUTSIDE [lo, hi];
    * files without stats are always kept (absence can't prove
    * exclusion). */
  def rangeOverlap(statsCol: String, lo: Double, hi: Double): Entry => Boolean = { e =>
    (e.props.get(s"min.$statsCol"), e.props.get(s"max.$statsCol")) match {
      case (Some(mn), Some(mx)) =>
        // toDoubleOption, not toDouble: a non-numeric bound (foreign or
        // corrupted prop) must KEEP the file, never throw mid-prune
        (mn.toDoubleOption, mx.toDoubleOption) match {
          case (Some(a), Some(b)) => b >= lo && a <= hi
          case _ => true
        }
      case _ => true
    }
  }

  /** IN-list range check at O(log k) per entry (r13): ∃ v in
    * `sorted` (ascending) with `min.col ≤ v ≤ max.col` — semantically
    * `anyOf(sorted.map(v => rangeOverlap(col, v, v)))`, but binary
    * search instead of a linear scan. The linear form is fine for a
    * dozen keys; a 10⁶-file manifest probed with a 10⁴-key IN list is
    * 10¹⁰ predicate evals — hours of driver time for a prune whose
    * whole point is to be cheap. Files without parseable stats are
    * kept, as everywhere. */
  def rangeOverlapAnySorted(statsCol: String,
                            sorted: IndexedSeq[Double]): Entry => Boolean = { e =>
    (e.props.get(s"min.$statsCol").flatMap(_.toDoubleOption),
     e.props.get(s"max.$statsCol").flatMap(_.toDoubleOption)) match {
      case (Some(mn), Some(mx)) =>
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) < mn) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && sorted(lo) <= mx
      case _ => true
    }
  }

  /** [[rangeOverlapAnySorted]] for STRING stats: `sorted` must be
    * ascending in UNSIGNED UTF-8 byte order ([[utf8Ordering]] — NOT
    * String's UTF-16 compareTo, which disagrees above U+FFFF). */
  def rangeOverlapStringAnySorted(statsCol: String,
                                  sorted: IndexedSeq[String]): Entry => Boolean = { e =>
    (e.props.get(s"smin.$statsCol"), e.props.get(s"smax.$statsCol")) match {
      case (Some(mn), Some(mx)) =>
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (!utf8Lte(mn, sorted(mid))) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && utf8Lte(sorted(lo), mx)
      case _ => true
    }
  }

  /** Ascending unsigned-UTF-8 byte order — the footer stats' order.
    * DISTINCT strings whose UTF-8 encodings collide (unpaired
    * surrogates all encode to '?') compare EQUAL — the "-1 both ways"
    * a lexicographic tiebreak on the raw strings would produce
    * violates the comparator contract and can make TimSort throw at
    * predicate-compile time (r13 review find); encoding-equal keys are
    * interchangeable against encoding-space stats anyway. */
  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => {
      if (a eq b) 0
      else {
        val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
        var i = 0
        var r = 0
        while (r == 0 && i < x.length && i < y.length) {
          r = (x(i) & 0xff) - (y(i) & 0xff)
          i += 1
        }
        if (r != 0) r else x.length - y.length
      }
    }

  /** Conjunction of file filters — a file survives only if EVERY
    * predicate keeps it (the multi-dimensional prune over
    * [[stageZOrdered]] stats). */
  def allOf(filters: (Entry => Boolean)*): Entry => Boolean =
    e => filters.forall(_(e))

  /** Disjunction of file filters — a file survives if ANY predicate
    * keeps it (an `IN`-list probe over [[withBloom]] sketches). */
  def anyOf(filters: (Entry => Boolean)*): Entry => Boolean =
    e => filters.exists(_(e))

  /** Unique-within-table FILE ID: the `__tag=…/<name>` tail of a
    * table-relative path. The bare part-file NAME is NOT unique — one
    * write task emits the SAME `part-<n>-<uuid>` name into every
    * `__tag=` directory it owns — but within one directory names are
    * unique, and across staged writes the job UUID differs, so the
    * (dir, name) tail is table-unique. */
  def fileId(rel: String): String =
    rel.split('/').takeRight(2).mkString("/")

  /** [[fileId]] of a path COLUMN (`input_file_name()` /
    * `_metadata.file_path`). Those surface the file's URI form, which
    * percent-encodes bytes the filesystem name carries literally (a
    * space in a tag value), so the tail must be PERCENT-decoded back to
    * the filesystem form [[fileId]] extracts from manifest rels.
    * `url_decode` alone is x-www-form-urlencoded — it would also turn a
    * LITERAL `+` in a tag into a space (URI paths never encode space as
    * `+`, so a `+` in the path is always literal) — hence the
    * pre-escape of `+` to `%2B`, which makes the composition a pure
    * %XX decoder. Both the space and `+` cases are spec-pinned. */
  def fileIdCol(pathCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    url_decode(regexp_replace(concat_ws("/",
      element_at(split(pathCol, "/"), -2), element_at(split(pathCol, "/"), -1)),
      lit("\\+"), lit("%2B")))
  }

  // ---- merge-on-read deletion vectors (kernel side) -------------------

  /** Reserved entry property naming a file's deletion-vector sidecar
    * dir (written by Mutations.deleteWhere; the `ref.` prefix marks it
    * as an auxiliary reference [[vacuum]] retains). */
  private[graft] val DvRefProp = "ref.dv"

  /** Entry property: the file's EXACT footer row count, recorded once
    * at commit time ([[prepareAllAt]] enriches every added entry —
    * metadata-only IO, pooled). With [[DvRowsProp]] this is what lets
    * `DESCRIBE DETAIL` and the DV-maintenance crossover answer row
    * counts from the MANIFEST instead of a distributed zero-column
    * count per call (the r10 verdict's remaining scale note): at 10⁶
    * files a table-stats question becomes a driver fold over props. */
  private[graft] val RowsProp = "rows"

  /** Entry property: the file's byte SIZE, stamped once at manifest-write
    * time ([[writeManifest]] — data files are immutable, so the size never
    * drifts). This is what lets every byte-budget question (the
    * [[graft.ops.gold.Joins.statsAsOf]] broadcast election,
    * `DESCRIBE DETAIL`'s size_bytes, CBO's `GraftFileIndex.sizeInBytes`)
    * fold from the MANIFEST instead of one `stat()` per file per query —
    * a HEAD request per file on the object storage this engine targets
    * (r16 verdict #2). Legacy entries lacking it backfill lazily: the
    * next manifest rewrite stamps them, and [[entryBytes]] falls back to
    * a stat until then. */
  private[graft] val SizeProp = "sz"

  /** Entry property: the CARDINALITY of the file's current (folded)
    * deletion vector — written alongside [[DvRefProp]] by deleteWhere,
    * dropped with it by every materializing rewrite. Live rows of a
    * file = `rows - dv.rows`. */
  private[graft] val DvRowsProp = "dv.rows"

  // ---- row tracking (the Delta row-tracking shape) -------------------
  //
  // Every committed row carries a STABLE 64-bit `_row_id`:
  //   - fresh files get a contiguous id range at PREPARE time
  //     ([[RowIdBaseProp]] = the range start, allocated from the
  //     table-level high-water mark [[RowIdHighProp]]); a fresh row's
  //     id is VIRTUAL — `base + row_index` — costing zero bytes in the
  //     data file;
  //   - a copy-on-write rewrite PRESERVES ids by materializing them
  //     into the hidden [[RidCol]] column of the rewritten file (reads
  //     take `coalesce(__rid, base + row_index)`), so an unchanged row
  //     keeps its identity across MERGE/UPDATE/compact and the change
  //     feed can tell "row moved" from "row replaced";
  //   - normal reads DROP the hidden column; only the change feed and
  //     the rewrite paths surface ids. Files committed before row
  //     tracking (or whose footer probe failed) have no base: their
  //     rows carry NULL ids, and every consumer treats NULL as
  //     "identity unknown" (sound — lineage degrades, rows never do).
  // Allocation is monotonic per COMMITTED snapshot: prepare reads the
  // base version's high, the winning commit publishes the bumped high,
  // and a losing racer's re-prepare re-reads — ranges of committed
  // snapshots never overlap. ROLLBACK restores the old high with the
  // old rows (snapshot-scoped props): ids of rolled-away rows can be
  // re-minted, which reads as an update across the rollback in the
  // feed — the same wrinkle Delta documents for RESTORE + row
  // tracking.
  private[graft] val RowIdBaseProp = "rowid.base"
  private[graft] val RowIdHighProp = "tbl.rowid.high"
  private[graft] val RidCol = "__rid"

  /** Feed-visible row-id column name ([[changes]]); reserved. */
  val RowIdCol = "_row_id"

  /** Snapshot prop: the table's NAME-KEYED UNION schema as Spark DDL,
    * maintained by [[prepareAllAt]] (merge of the prior recorded schema
    * with every added file's footer schema) and INHERITED like all
    * `schema.*` props. This is the Delta "schema lives in the log"
    * move, and what lifts the old zero-file limitation: a
    * remove-everything commit stays READABLE — [[readVersion]] presents
    * the empty frame on the recorded schema instead of failing for
    * want of a parquet footer. Version-scoped like the rename mapping
    * (rollback restores the schema WITH the rows). */
  private[graft] val SchemaDdlProp = "schema.ddl"

  /** Name-keyed schema union: same-name fields must agree on type
    * (parquet mergeSchema fails on those conflicts too, via
    * IllegalArgumentException here), new names append. */
  private def mergeSchemasByName(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val known = a.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    b.fields.foreach { f =>
      known.get(f.name.toLowerCase(java.util.Locale.ROOT)).foreach { af =>
        require(af.dataType == f.dataType,
          s"type conflict on ${f.name}: ${af.dataType} vs ${f.dataType}") } }
    org.apache.spark.sql.types.StructType(a.fields ++ b.fields.filterNot(
      f => known.contains(f.name.toLowerCase(java.util.Locale.ROOT))))
  }

  /** Exact row count AND Spark schema from the parquet footer — ONE
    * metadata-only open, no data pages. None on unreadable/absent
    * files; the schema side alone may be None when the footer's type
    * shapes don't convert (callers treat both as absence — metadata
    * never fabricates). */
  // data files are immutable (UUID names): footer facts memoize, so an
  // OCC retry loop's re-prepare (or a stats-then-commit double probe)
  // re-reads nothing. ONLY SUCCESSES are cached — memoizing a
  // transient IO failure would permanently strip that file's
  // rows/schema enrichment where an uncached retry recovers (r11
  // review find). Bounded like the sibling caches. Keyed by path
  // alone: the schema side is conf-sensitive in principle, but one
  // process serves one engine configuration.
  private val footerInfoCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Option[org.apache.spark.sql.types.StructType])]()

  private def footerInfo(path: String,
      conf: org.apache.spark.sql.internal.SQLConf)
      : Option[(Long, Option[org.apache.spark.sql.types.StructType])] = {
    val hit = footerInfoCache.get(path)
    if (hit != null) return Some(hit)
    val computed = footerInfoUncached(path, conf)
    computed.foreach { v =>
      if (footerInfoCache.size > 65536) footerInfoCache.clear()
      footerInfoCache.put(path, v)
    }
    computed
  }

  private def footerInfoUncached(path: String,
      conf: org.apache.spark.sql.internal.SQLConf)
      : Option[(Long, Option[org.apache.spark.sql.types.StructType])] =
    try withFooter(path) { (_, reader) =>
      val schema =
        try Some(new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(conf)
          .convert(reader.getFooter.getFileMetaData.getSchema))
        catch { case scala.util.control.NonFatal(_) => None }
      Some((reader.getRecordCount, schema))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Enrich added entries with [[RowsProp]] (entries already carrying
    * it — a restage that re-derived stats — are untouched) and return
    * the name-keyed UNION of the added files' footer schemas (for the
    * [[SchemaDdlProp]] log record; None when any footer failed or the
    * union conflicts). Pooled like the schema probes: a 10⁵-file
    * backfill's footers read in parallel, and only ever ONCE per file
    * (the props then ride every later manifest rewrite). */
  private def withRowCounts(table: String, add: Seq[Entry])
      : (Seq[Entry], Option[org.apache.spark.sql.types.StructType]) = {
    if (add.isEmpty) return (add, None)
    // everything already enriched (a commitRewrite retry re-preparing
    // the same adds): zero IO, schema union left to prop inheritance
    if (add.forall(_.props.contains(RowsProp))) return (add, None)
    // SQLConf captured HERE, on the caller thread — pool threads have
    // no active session, and converting under default conf would
    // record DDL types that disagree with the session's reads (r11
    // review find)
    val conf = org.apache.spark.sql.internal.SQLConf.get
    type Info = Option[(Long, Option[org.apache.spark.sql.types.StructType])]
    val infos: Map[String, (Long, Option[org.apache.spark.sql.types.StructType])] =
      if (add.size <= 4)
        add.flatMap(e => footerInfo(s"$table/${e.rel}", conf).map(e.rel -> _)).toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, add.size))
        try add.map { e =>
            (e.rel, pool.submit(new java.util.concurrent.Callable[Info] {
              def call() = footerInfo(s"$table/${e.rel}", conf)
            }))
          }.flatMap { case (rel, fut) => fut.get().map(rel -> _) }.toMap
        finally pool.shutdown()
      }
    val enriched = add.map(e =>
      if (e.props.contains(RowsProp)) e
      else infos.get(e.rel).fold(e) { case (n, _) =>
        e.copy(props = e.props + (RowsProp -> n.toString)) })
    val schemas = add.flatMap(e => infos.get(e.rel).map(_._2))
    val union =
      if (schemas.size != add.size || schemas.exists(_.isEmpty)) None
      else
        try Some(schemas.flatten.reduceLeft(mergeSchemasByName))
        catch { case _: IllegalArgumentException => None }
    (enriched, union)
  }

  /** Authoritative deleted-position rows `(__fid, __pos)` for the
    * DV-bearing subset of `es` — each file's positions come from ITS
    * entry's sidecar only (an older sidecar may still carry rows for
    * files whose entries moved to a newer vector). None when no entry
    * carries a vector. */
  private def dvPositions(spark: SparkSession, table: String,
                          es: Seq[Entry]): Option[DataFrame] = {
    val dvEs = es.filter(_.props.contains(DvRefProp))
    if (dvEs.isEmpty) None
    else Some(dvEs.groupBy(_.props(DvRefProp)).toSeq.map { case (dvRel, owners) =>
      val ids = owners.map(e => fileId(e.rel))
      // broadcast-semi-join, not a literal isin: a wide delete can own
      // 10⁵⁺ files in one sidecar, and an isin of that many literals is
      // an expression tree the planner chokes on long before the data
      // does (r9 verdict note) — the id relation broadcasts instead
      restrictToIds(spark, spark.read.parquet(s"$table/$dvRel"), ids)
    }.reduce(_.unionByName(_)))
  }

  /** Keep only rows whose `__fid` is in `ids`, via a broadcast semi-join
    * against the (driver-resident, O(touched-files)) id list — the
    * literal-`isin` replacement every sidecar restriction shares. */
  private[lake] def restrictToIds(spark: SparkSession, df: DataFrame,
                                  ids: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import org.apache.spark.sql.Encoders
    df.join(broadcast(spark.createDataset(ids)(Encoders.STRING).toDF("__fid")),
      Seq("__fid"), "left_semi")
  }

  /** Row-id column from PRECOMPUTED (file-id, row-index) columns:
    * `coalesce(materialized __rid, entry base + row index)`, NULL when
    * the entry has no base. The base lookup is a broadcast join
    * against an O(selected files) two-column frame. */
  private def rowIdFrom(spark: SparkSession, df: DataFrame, es: Seq[Entry],
                        fidCol: String, posCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    require(!df.columns.contains(RowIdCol),
      s"row-id read: data schema already has a `$RowIdCol` column — the " +
        "name is reserved for row tracking; rename the data column")
    import spark.implicits._
    val bases = es.flatMap(e =>
      e.props.get(RowIdBaseProp).flatMap(_.toLongOption)
        .map(b => (fileId(e.rel), b)))
    val virt =
      if (bases.isEmpty) lit(null).cast("long")
      else col("__ridb") + col(posCol)
    val joined =
      if (bases.isEmpty) df
      else df.join(broadcast(bases.toDF(fidCol, "__ridb")), Seq(fidCol), "left")
    val id = if (df.columns.contains(RidCol)) coalesce(col(RidCol), virt) else virt
    joined.withColumn(RowIdCol, id.cast("long")).drop("__ridb")
  }

  /** [[rowIdFrom]] for a bare single-scan frame (derives fid/pos from
    * `_metadata`, which only resolves before any join). */
  private def attachRowId(spark: SparkSession, df: DataFrame,
                          es: Seq[Entry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val withPos = df
      .withColumn("__ridf", fileIdCol(col("_metadata.file_path")))
      .withColumn("__ridp", col("_metadata.row_index"))
    rowIdFrom(spark, withPos, es, "__ridf", "__ridp").drop("__ridf", "__ridp")
  }

  /** Read exactly `es` with their deletion vectors applied — the
    * merge-on-read scan core: files without a vector stream through;
    * files with one anti-join their sidecar's (file id, position) pairs
    * (vector side is sidecar-sized, AQE broadcasts, the data side never
    * shuffles). `mergeSchema` NULL-fills evolved schemas. `es` must be
    * non-empty.
    *
    * `pruned = Some((version, tagColHint))` serves BOTH data scans (the
    * anti-joined vectored files and the plain remainder) through
    * [[groupedRead]]'s manifest-backed FileIndex assembly instead of
    * bare `spark.read.parquet`, so predicates a query above pushes down
    * — they travel through the logical projection and the left side of
    * the anti-join — still prune manifest entries before any file
    * opens. Without it (r9), one small deleteWhere cost every
    * subsequent SQL SELECT its 96–99% file skipping until REORG — the
    * one plan you would not want at 100×. Schema safety is
    * groupedRead's: a slice it can't prove falls back to the plain
    * read. `None` is for cross-version entry sets (the change feed),
    * whose entries a single version's groups don't cover. `rowIds`
    * appends the stable [[RowIdCol]]. */
  private[lake] def readEntriesMerged(spark: SparkSession, table: String,
      es: Seq[Entry], mergeSchema: Boolean = false,
      pruned: Option[(Long, String)] = None,
      rowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    // with rowIds the id column attaches PER SCAN (it needs _metadata,
    // which only resolves on ONE relation: such reads never take the
    // grouped union, a multi-group slice falls back to the plain
    // mergeSchema read); the hidden materialized column is dropped
    // after folding into the id
    def finish(df: DataFrame, fs: Seq[Entry]): DataFrame =
      if (rowIds) attachRowId(spark, df, fs).drop(RidCol) else df.drop(RidCol)
    def plain(fs: Seq[Entry]): DataFrame =
      spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(fs.map(e => s"$table/${e.rel}"): _*)
    def readFiles(fs: Seq[Entry]): DataFrame = pruned match {
      case Some((v, tagCol)) =>
        groupedRead(spark, table, v, fs, tagCol, allowUnion = mergeSchema && !rowIds)
          .getOrElse(plain(fs))
      case None => plain(fs)
    }
    val (dvEs, plainEs) = es.partition(_.props.contains(DvRefProp))
    if (dvEs.isEmpty) finish(readFiles(es), es)
    else {
      val dvRows = dvPositions(spark, table, dvEs).get
      // the anti-join needs `_metadata`, which only resolves on a
      // SINGLE scan relation — a grouped UNION cannot expose it. So on
      // an evolved table the vectored files anti-join PER schema group
      // (each group one pruned scan) and the survivors union NULL-filled
      val dvParts: Seq[Seq[Entry]] = pruned match {
        case Some((v, _)) if mergeSchema =>
          entryGroups(spark, table, v, dvEs).getOrElse(Seq(dvEs))
        case _ => Seq(dvEs)
      }
      def antiJoined(ges: Seq[Entry]): DataFrame = {
        val dvData = pruned match {
          case Some((v, tagCol)) =>
            groupedRead(spark, table, v, ges, tagCol, allowUnion = false)
              .getOrElse(plain(ges))
          case None => plain(ges)
        }
        // fid/pos derive ONCE on the bare scan (post-join `_metadata`
        // does not resolve) and serve BOTH the DV anti-join and the
        // row-id attach
        val withMeta = dvData
          .withColumn("__fid", fileIdCol(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
        val alive = withMeta.join(dvRows, Seq("__fid", "__pos"), "left_anti")
        val out =
          if (rowIds) rowIdFrom(spark, alive, ges, "__fid", "__pos")
          else alive
        out.drop("__fid", "__pos").drop(RidCol)
      }
      val merged = dvParts.map(antiJoined)
        .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
      if (plainEs.isEmpty) merged
      else merged.unionByName(finish(readFiles(plainEs), plainEs),
        allowMissingColumns = mergeSchema)
    }
  }

  /** Per-schema-group partition of `es` within version `v`'s groups;
    * None when some entry falls outside them (cross-version sets). */
  private def entryGroups(spark: SparkSession, table: String, v: Long,
      es: Seq[Entry]): Option[Seq[Seq[Entry]]] = {
    val groups0 = schemaGroups(spark, table, v)
    val covered = groups0.iterator.flatMap(_._2).toSet
    if (!es.forall(e => covered(e.rel))) None
    else Some(groups0.map { case (_, rels) => es.filter(e => rels(e.rel)) }
      .filter(_.nonEmpty))
  }

  /** Read snapshot `version` (−1 = live) with deletion vectors applied.
    * The vector-aware sibling of [[readVersion]]; identical on tables
    * without vectors. `tagColHint` (the table's PHYSICAL tag column, ""
    * = unknown) lets pushed-down equality on the tag column prune
    * manifest entries when the schema is uniform — the SQL resolution
    * rule passes it so DV-bearing tables keep their file skipping. */
  def readMerged(spark: SparkSession, table: String, version: Long = -1L,
                 tagFilter: String => Boolean = _ => true,
                 fileFilter: Entry => Boolean = _ => true,
                 mergeSchema: Boolean = false,
                 tagColHint: String = ""): DataFrame = {
    val v = if (version < 0) currentVersion(table) else version
    val es = entriesAt(table, v).filter(e => tagFilter(e.tag) && fileFilter(e))
    if (!es.exists(_.props.contains(DvRefProp)))
      readVersion(spark, table, v, tagFilter, fileFilter, mergeSchema, tagColHint) // keeps empty-prune semantics
    else
      applyLogical(readEntriesMerged(spark, table, es, mergeSchema,
        pruned = Some((v, tagColHint))), table, v)
  }

  /** [[readMerged]] exposing the stable [[RowIdCol]] — the REWRITE-path
    * read: a copy-on-write rewrite reads its survivors through this,
    * renames the id to the hidden [[RidCol]] and stages it, so every
    * surviving row KEEPS its identity across the rewrite. A slice of
    * one schema group reads through the single manifest-pruned scan;
    * one spanning several groups takes the plain mergeSchema read (the
    * id needs `_metadata`, which a grouped union cannot resolve). */
  private[graft] def readMergedWithIds(spark: SparkSession, table: String,
      version: Long = -1L,
      fileFilter: Entry => Boolean = _ => true): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = if (version < 0) currentVersion(table) else version
    val es = entriesAt(table, v).filter(fileFilter)
    if (es.isEmpty)
      readVersion(spark, table, v, fileFilter = _ => false, mergeSchema = true)
        .withColumn(RowIdCol, lit(null).cast("long"))
    else
      applyLogical(readEntriesMerged(spark, table, es, mergeSchema = true,
        pruned = Some((v, "")), rowIds = true), table, v)
  }

  /** Reserved prop-key PREFIX naming a file's bloom-sketch sidecar per
    * column (`ref.bloom2.<physCol>=stats/bl-<id>.txt`). The `ref.`
    * prefix makes [[vacuum]] retain referenced sidecars; the `2` is the
    * FORMAT VERSION: r10 changed the sketch hash (integral/DATE columns
    * widen to BIGINT before hashing), so sketches written under the old
    * inline `bloom.<col>` key may be hashed at native width — probing
    * them with the hash-of-long would yield false "definitely absent"
    * results and silently skip files containing the match (r10 advisor
    * find). [[mightContainLong]] therefore trusts ONLY this versioned
    * key and ignores legacy sketches entirely (absence keeps the file —
    * sound); a rewrite through [[restageLike]] re-sketches legacy
    * tables into the current format. */
  private[graft] val BloomRefPrefix = "ref.bloom2."

  /** Decorate staged entries with a per-file BLOOM FILTER over
    * `bloomCol` — the Iceberg/Parquet bloom-skipping shape for EQUALITY
    * predicates on columns the file layout is NOT clustered by (where
    * min/max stats prune nothing because every file spans the column's
    * whole range; think "files ordered by time, probed by id"). One
    * extra pass over the just-staged files builds every sketch in a
    * single Spark job — Spark's own codegen'd `BloomFilterAggregate`
    * grouped by file, merged bitwise so the sketch is deterministic
    * under any partitioning.
    *
    * Sketches live in SIDECAR files (`stats/bl-<id>.txt`, one per
    * build chunk, lines of `fileId \t base64`), NOT in the manifest:
    * each entry carries only the ~30-byte [[BloomRefPrefix]] reference,
    * so MANIFEST size is independent of bloom columns — at 10⁶ files
    * an inline 8192-bit sketch per file per column was GBs of
    * driver-parsed manifest text on every resolution (the r10
    * verdict's manifest-economics wall; this is the Iceberg
    * puffin-file shape). Sidecars are durable before any entry
    * becomes commit-eligible, loaded lazily and cached by the probe
    * ([[mightContainLong]]), retained by [[vacuum]] exactly like
    * deletion-vector sidecars, and orphaned by a crash into vacuum
    * fodder. Probe with [[mightContainLong]]. */
  def withBloom(staged: Seq[Entry], table: String, bloomCol: String,
                spark: SparkSession, estItems: Long = 1000L,
                numBits: Long = 8192L, chunkFiles: Int = 4096): Seq[Entry] = {
    import org.apache.spark.sql.functions._
    graft.functions.BloomSketch.register(spark)
    // staged files carry PHYSICAL names; accept the logical name and
    // bridge (identity on never-renamed tables), prop stays physical
    val pcol = physicalName(table, bloomCol)
    // CHUNKED: one Spark job per `chunkFiles` files, so the transient
    // driver-side sketch buffer is bounded at chunk × ~1 KiB instead of
    // #files × ~1 KiB — a million-file stage holds ≤4096 sketches at
    // once here (the decorated entries themselves still carry every
    // sketch until the manifest write, which is inherent to
    // manifest-resident sketches; at that scale they move to sidecar
    // files, per the scaladoc above).
    staged.grouped(math.max(1, chunkFiles)).flatMap { chunk =>
      val files = chunk.map(e => s"$table/${e.rel}")
      // sketch rows map back to entries by [[fileId]] — the bare
      // part-file name is NOT unique across __tag dirs (one task writes
      // the same name into every dir it owns), and a name-keyed grouping
      // would silently MERGE those files' sketches (no false negatives,
      // but every collision's keys bleed into the other file's filter).
      val data = spark.read.parquet(files: _*)
      // TYPE-NORMALIZED hash: the probe side ([[mightContainLong]])
      // hashes its value as a LONG, and Spark's xxhash64 of an INT
      // differs from that of the same value as a LONG — sketching the
      // column's native width would make INT-column probes silently
      // MISS real values and skip files that contain the match (r10
      // advisor find). Narrower integrals widen losslessly; non-integral
      // columns keep the native hash (their probes never fire — asLong
      // only accepts integral literals — so the sketch stays inert
      // rather than unsound).
      val colType = data.schema.fields.find(_.name == pcol).map(_.dataType)
      val integral = colType.exists(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType
      ).contains)
      // DATE sketches hash the epoch-day count widened to LONG — the
      // exact value Pruning.asLong probes for a DateType literal (its
      // internal Int); without this the sketch hashed 4-byte dates
      // against 8-byte probes and pruned files that contain the match
      // (review find)
      val isDate = colType.contains(org.apache.spark.sql.types.DateType)
      val hashed =
        if (integral) s"xxhash64(CAST($pcol AS BIGINT))"
        else if (isDate) s"xxhash64(CAST(unix_date($pcol) AS BIGINT))"
        else s"xxhash64($pcol)"
      val sketches = data
        .groupBy(fileIdCol(input_file_name()).as("__f"))
        .agg(expr(s"graft_bloom_agg($hashed, " +
          s"CAST($estItems AS BIGINT), CAST($numBits AS BIGINT))").as("__b"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      // one sidecar per chunk, durable BEFORE its entries can commit
      // (a crash in between orphans the sidecar into vacuum fodder).
      // fileId values are framing-safe: tags reject \t/\n at stage time
      val sidecarRel = s"stats/bl-${java.util.UUID.randomUUID.toString.take(12)}.txt"
      if (sketches.nonEmpty) {
        val f = new File(table, sidecarRel)
        f.getParentFile.mkdirs()
        writeDurable(f, sketches.toSeq.sortBy(_._1).map { case (fid, b) =>
          s"$fid\t${java.util.Base64.getEncoder.encodeToString(b)}"
        }.mkString("\n").getBytes(UTF_8))
      }
      chunk.map { e =>
        e.copy(props = e.props ++ (if (sketches.contains(fileId(e.rel)))
          Some(BloomRefPrefix + pcol -> sidecarRel) else None))
      }
    }.toSeq
  }

  // parsed sidecar sketch maps, keyed (table, sidecar rel) — sidecars
  // are immutable (UUID names, written once), so they cache like
  // manifests; a probing query touches O(sidecars referenced by
  // surviving entries), loaded lazily, parsed once. Bounded: clear
  // past a working set (re-parsing is correctness-neutral).
  private val sidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]]()

  private def sidecarSketches(table: String,
      rel: String): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    if (sidecarCache.size > 1024) sidecarCache.clear()
    sidecarCache.computeIfAbsent((table, rel), { _ =>
      new String(Files.readAllBytes(new File(table, rel).toPath), UTF_8)
        .split("\n").filter(_.nonEmpty).flatMap { line =>
          line.split("\t", 2) match {
            case Array(fid, b64) => Some(fid ->
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  java.util.Base64.getDecoder.decode(b64))))
            case _ => None
          }
        }.toMap
    })
  }

  /** Keep-if-might-contain predicate over [[withBloom]] sketches: a
    * file is skipped only when its bloom filter PROVES `value` absent
    * (no false negatives; false positives only cost IO). Files without
    * a CURRENT-FORMAT sketch are always kept — including files whose
    * only sketch is a legacy inline `bloom.<col>` prop, which may be
    * hashed at native width and is never trusted (see
    * [[BloomRefPrefix]]). Compose `IN`-lists with [[anyOf]]. */
  def mightContainLong(table: String, bloomCol: String,
                       value: Long): Entry => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val hash = XxHash64Function.hash(value, LongType, 42L)
    e => e.props.get(BloomRefPrefix + bloomCol) match {
      case Some(rel) =>
        sidecarSketches(table, rel).get(fileId(e.rel))
          .forall(_.mightContainLong(hash))
      case None => true
    }
  }

  /** Reserved prop-key PREFIX naming a file's HLL-sketch sidecar per
    * column (`ref.hll.<physCol>=stats/hll-<id>.txt`) — the `ref.`
    * prefix makes [[vacuum]] retain referenced sidecars, like bloom
    * and deletion-vector sidecars. */
  private[graft] val HllRefPrefix = "ref.hll."

  /** Decorate staged entries with a per-file HYPERLOGLOG++ SKETCH over
    * `column` — MERGEABLE NDV recorded at write time (the Datasketches
    * HLL family Spark 4 ships as `hll_sketch_agg`/`hll_union_agg`):
    * each file pays its sketch once, when its rows are already in
    * flight, and [[Analyze.analyzeFromSketches]] later refreshes
    * table-level NDV stats by folding the sidecar sketches with ZERO
    * data-file reads — stats maintenance at manifest scale, the shape
    * that keeps CBO stats fresh on a 100 TB table where even one
    * approx rescan per refresh is a deliberate job.
    *
    * One Spark job per `chunkFiles` files (the [[withBloom]] chunking
    * discipline); sketches live in sidecar files
    * (`stats/hll-<id>.txt`, lines of `fileId \t base64`), entries
    * carry only the ~30-byte [[HllRefPrefix]] reference. Columns whose
    * type `hll_sketch_agg` cannot hash natively (anything beyond
    * int/long/string/binary) sketch their STRING rendering — injective
    * per distinct value, so the estimate still describes the column's
    * own NDV. A file whose column is entirely NULL records an
    * explicit EMPTY sketch line (r16 — zero distinct values,
    * contributing nothing to the union), so maintenance rewrites of
    * pre-evolution files can never strand the fold; only a MISSING
    * reference (unsketched table) makes
    * [[Analyze.analyzeFromSketches]] refuse loudly. */
  def withHll(staged: Seq[Entry], table: String, hllCol: String,
              spark: SparkSession, lgK: Int = 12,
              chunkFiles: Int = 4096): Seq[Entry] = {
    import org.apache.spark.sql.functions._
    require(lgK >= 4 && lgK <= 21, s"withHll($table): lgK out of range: $lgK")
    val pcol = physicalName(table, hllCol)
    staged.grouped(math.max(1, chunkFiles)).flatMap { chunk =>
      val data = withFid(spark, table, chunk)
      val attach = hllChunkProps(table, pcol, lgK, chunk, data)
      chunk.map(e => e.copy(props = e.props ++ attach(e)))
    }.toSeq
  }

  /** The per-chunk read every sidecar decorator shares, with the file
    * id MATERIALIZED as `__gfid`: `input_file_name()` is evaluated
    * only while a scan is actually running, so rows served back from a
    * persisted plan would answer "" (measured r15 — the one-pass
    * [[withKeyStats]] needs the fid to survive its cache). */
  private def withFid(spark: SparkSession, table: String,
                      chunk: Seq[Entry]): org.apache.spark.sql.DataFrame =
    spark.read.parquet(chunk.map(e => s"$table/${e.rel}"): _*)
      .withColumn("__gfid",
        fileIdCol(org.apache.spark.sql.functions.input_file_name()))

  /** Per-chunk HLL machinery shared by [[withHll]] and [[withKeyStats]]:
    * ONE aggregation computes each file's sketch AND its null count
    * (the fold consumer [[Analyze.analyzeFromSketches]] needs the
    * nulls, the rows are already in flight, and stageWithStats only
    * footer-records nulls for ITS stats column — a sketched column
    * must be self-contained, r14 probe find), publishes the sidecar,
    * and returns the per-entry prop attacher. */
  private def hllChunkProps(table: String, pcol: String, lgK: Int,
      chunk: Seq[Entry],
      data: org.apache.spark.sql.DataFrame): Entry => Map[String, String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val native = data.schema.fields.find(_.name == pcol).map(_.dataType)
      .exists(Set[DataType](IntegerType, LongType, StringType, BinaryType).contains)
    val sketchInput = if (native) s"`$pcol`" else s"cast(`$pcol` as string)"
    val rows = data
      .groupBy(col("__gfid").as("__f"))
      .agg(expr(s"hll_sketch_agg($sketchInput, $lgK)").as("__s"),
        sum(when(col(s"`$pcol`").isNull, 1L).otherwise(0L)).as("__n"))
      .collect()
    val sketches = rows
      .flatMap(r => Option(r.getAs[Array[Byte]](1)).map(r.getString(0) -> _))
      .toMap
    val nulls = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val sidecarRel = s"stats/hll-${java.util.UUID.randomUUID.toString.take(12)}.txt"
    // EVERY chunk file gets a line and a ref — an all-NULL file
    // records an EMPTY sketch (r16 review find: a ref-LESS rewritten
    // file made the next zero-scan fold throw and AUTO ANALYZE warn
    // forever, e.g. a compact repacking pre-evolution files whose new
    // column reads all-NULL). "Ref present, empty line" = legitimate
    // zero-distinct contribution; "no ref" still means unsketched.
    val f = new File(table, sidecarRel)
    f.getParentFile.mkdirs()
    writeDurable(f, chunk.map { e =>
      val fid = fileId(e.rel)
      s"$fid\t${sketches.get(fid)
        .map(java.util.Base64.getEncoder.encodeToString).getOrElse("")}"
    }.sorted.mkString("\n").getBytes(UTF_8))
    e => Map(HllRefPrefix + pcol -> sidecarRel) ++
      nulls.get(fileId(e.rel)).map(n => s"nulls.$pcol" -> n.toString)
  }

  // hll sidecar lines parsed once per (table, rel) — same immutability
  // and bounded-cache rules as the bloom sidecars above
  private val hllSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Map[String, Array[Byte]]]()

  private def hllSidecar(table: String, rel: String): Map[String, Array[Byte]] = {
    if (hllSidecarCache.size > 1024) hllSidecarCache.clear()
    hllSidecarCache.computeIfAbsent((table, rel), { _ =>
      new String(Files.readAllBytes(new File(table, rel).toPath), UTF_8)
        .split("\n").filter(_.nonEmpty).flatMap { line =>
          line.split("\t", 2) match {
            case Array(fid, b64) =>
              Some(fid -> java.util.Base64.getDecoder.decode(b64))
            case _ => None
          }
        }.toMap
    })
  }

  /** The serialized NON-EMPTY HLL sketches of `entries` for physical
    * column `pcol` — loudly incomplete-safe: an entry without a
    * sidecar reference or line (pre-HLL commit) throws rather than
    * letting a fold silently under-count; an entry whose recorded
    * sketch is EMPTY (all-NULL file, r16) legitimately contributes
    * nothing and is dropped, so the result can be SHORTER than
    * `entries` — never zip it against them. */
  private[graft] def hllSketches(table: String, entries: Seq[Entry],
                                 pcol: String): Seq[Array[Byte]] =
    // an EMPTY recorded sketch (all-NULL file) legitimately contributes
    // nothing to the union and is dropped here; only a MISSING ref or
    // line throws
    entries.map { e =>
      val rel = e.props.getOrElse(HllRefPrefix + pcol,
        throw new IllegalStateException(
          s"hllSketches($table): entry ${e.rel} carries no HLL sketch " +
            s"for '$pcol' — stage through withHll (or run analyzeApprox, " +
            "one scan) before a zero-scan stats refresh"))
      hllSidecar(table, rel).getOrElse(fileId(e.rel),
        throw new IllegalStateException(
          s"hllSketches($table): sidecar $rel has no line for " +
            s"${e.rel} — run analyzeApprox instead"))
    }.filter(_.nonEmpty)

  /** Sidecar reference prop for a per-file TOP-K list of a physical
    * column (`ref.topk.<physCol>=stats/topk-<id>.txt`) — the `ref.`
    * prefix makes [[vacuum]] retain referenced sidecars, like bloom
    * and hll. r15: the FREQUENCY family's write-time sketch. */
  private[graft] val TopKRefPrefix = "ref.topk."

  /** Entry prop: the REQUESTED top-k resolution the file was sketched
    * at (`topk.k.<physCol>=k`) — what a rewrite recovers, since the
    * recorded list's length is only a lower bound on it (r17). */
  private[graft] val TopKKPrefix = "topk.k."

  /** Per-file TOP-K sidecars (r15 — the frequency family's write-time
    * sketch, completing the zero-scan stats-maintenance story
    * [[withHll]] started for NDV): each staged file records its EXACT
    * top-k values of `topKCol` (string-cast, URL-encoded) with their
    * in-file counts, paid while the rows are already in flight. The
    * fold consumer ([[Analyze.frequentKeysFromSketches]]) merges the
    * lists Misra-Gries style: a summed count is a LOWER BOUND on the
    * key's true global count (files where the key missed the local
    * top-k contribute nothing) — exactly the safe direction for the
    * salt trigger, where a crossing lower bound PROVES the skew and a
    * missed crossing only forfeits an optional pre-salt. Every staged
    * file gets a line (all-NULL files record an empty list, so the
    * fold can tell "nothing frequent" from "never sketched"). Sidecar
    * layout, chunking, caching and the sketch-free-manifest rule
    * mirror [[withHll]]. */
  def withTopK(staged: Seq[Entry], table: String, topKCol: String,
               spark: SparkSession, k: Int = 16,
               chunkFiles: Int = 4096): Seq[Entry] = {
    require(k >= 1 && k <= 256, s"withTopK($table): k in [1, 256], got $k")
    val pcol = physicalName(table, topKCol)
    staged.grouped(math.max(1, chunkFiles)).flatMap { chunk =>
      val data = withFid(spark, table, chunk)
      val attach = topKChunkProps(table, pcol, k, chunk, data)
      chunk.map(e => e.copy(props = e.props ++ attach(e)))
    }.toSeq
  }

  /** Per-chunk top-k machinery shared by [[withTopK]] and
    * [[withKeyStats]]: one map-combinable per-(file, key) count, the
    * per-file top-k cut (bounded driver output, #files × k rows), the
    * sidecar publish, and the per-entry prop attacher. */
  private def topKChunkProps(table: String, pcol: String, k: Int,
      chunk: Seq[Entry],
      data: org.apache.spark.sql.DataFrame): Entry => Map[String, String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val ranked = data
      .select(col("__gfid").as("__f"),
        col(s"`$pcol`").cast("string").as("__k"))
      .na.drop()
      .groupBy(col("__f"), col("__k")).agg(count(lit(1)).as("__n"))
      .withColumn("__r", row_number().over(Window.partitionBy("__f")
        .orderBy(col("__n").desc, col("__k").asc)))
      .filter(col("__r") <= k)
      .collect()
    val byFile = ranked.groupBy(_.getString(0)).map { case (fid, rows) =>
      fid -> rows.sortBy(r => (-r.getLong(2), r.getString(1)))
        .map(r => java.net.URLEncoder.encode(r.getString(1), "UTF-8") +
          ":" + r.getLong(2))
        .mkString(",")
    }
    val sidecarRel =
      s"stats/topk-${java.util.UUID.randomUUID.toString.take(12)}.txt"
    val f = new File(table, sidecarRel)
    f.getParentFile.mkdirs()
    writeDurable(f, chunk.map { e =>
      s"${fileId(e.rel)}\t${byFile.getOrElse(fileId(e.rel), "")}"
    }.sorted.mkString("\n").getBytes(UTF_8))
    // the REQUESTED k rides the entry (r17 second review pass): list
    // length alone under-recovers on distinct-limited columns — a k=64
    // sketch over 20 distinct values records 20-entry lists, a rewrite
    // recovering "longest list" rebuilds at k=20, and the column's
    // later cardinality growth is permanently capped (the same one-way
    // ratchet the tbl.stat.*.k props close for table-level stats)
    e => Map(TopKRefPrefix + pcol -> sidecarRel,
      TopKKPrefix + pcol -> k.toString)
  }

  /** BOTH sidecar families for ONE column in ONE read (r15 review
    * find): [[withHll]]'s NDV sketch + null count AND [[withTopK]]'s
    * frequency list share a single persisted scan of the freshly
    * written files — the adopting write path pays one pass, not two.
    * This is the staging decorator the fully write-time stats chain
    * (s76, AUTO ANALYZE with both families) should use. */
  def withKeyStats(staged: Seq[Entry], table: String, col0: String,
                   spark: SparkSession, lgK: Int = 12, k: Int = 16,
                   chunkFiles: Int = 4096): Seq[Entry] = {
    require(lgK >= 4 && lgK <= 21,
      s"withKeyStats($table): lgK out of range: $lgK")
    require(k >= 1 && k <= 256, s"withKeyStats($table): k in [1, 256], got $k")
    val pcol = physicalName(table, col0)
    staged.grouped(math.max(1, chunkFiles)).flatMap { chunk =>
      val data = withFid(spark, table, chunk).persist()
      try {
        val hll = hllChunkProps(table, pcol, lgK, chunk, data)
        val topk = topKChunkProps(table, pcol, k, chunk, data)
        chunk.map(e => e.copy(props = e.props ++ hll(e) ++ topk(e)))
      } finally { data.unpersist(); () }
    }.toSeq
  }

  // top-k sidecar lines parsed once per (table, rel) — same rules as
  // the bloom/hll sidecar caches above
  private val topKSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Map[String, Seq[(String, Long)]]]()

  private def topKSidecar(table: String,
                          rel: String): Map[String, Seq[(String, Long)]] = {
    if (topKSidecarCache.size > 1024) topKSidecarCache.clear()
    topKSidecarCache.computeIfAbsent((table, rel), { _ =>
      new String(Files.readAllBytes(new File(table, rel).toPath), UTF_8)
        .split("\n").filter(_.nonEmpty).flatMap { line =>
          line.split("\t", -1) match {
            case Array(fid, enc) =>
              Some(fid -> enc.split(",").toSeq.filter(_.nonEmpty).flatMap { p =>
                val i = p.lastIndexOf(':')
                // i == 0 is the EMPTY-STRING key (':count' — the classic
                // missing-FK sentinel, often the hottest value there is);
                // URLEncoder leaves "" as "" and encodes ':' as %3A, so
                // lastIndexOf is always the separator (r15 review find)
                if (i < 0) None
                else Some((java.net.URLDecoder.decode(p.take(i), "UTF-8"),
                  p.drop(i + 1).toLong))
              })
            case _ => None
          }
        }.toMap
    })
  }

  /** The per-file top-k lists of `entries` for physical column `pcol`
    * — loudly incomplete-safe like [[hllSketches]]: an entry without a
    * sidecar reference (pre-topk commit) throws rather than letting a
    * fold silently under-count; an empty recorded list (all-NULL file)
    * is a legitimate answer. */
  private[graft] def topKCounts(table: String, entries: Seq[Entry],
                                pcol: String): Seq[Seq[(String, Long)]] =
    entries.map { e =>
      val rel = e.props.getOrElse(TopKRefPrefix + pcol,
        throw new IllegalStateException(
          s"topKCounts($table): entry ${e.rel} carries no top-k sidecar " +
            s"for '$pcol' — stage through withTopK (or run frequentKeys, " +
            "one scan) before a zero-scan frequency refresh"))
      topKSidecar(table, rel).getOrElse(fileId(e.rel),
        throw new IllegalStateException(
          s"topKCounts($table): sidecar $rel has no line for ${e.rel} — " +
            "run frequentKeys instead"))
    }

  /** Sidecar reference prop for a per-file QUANTILE summary of a
    * physical column (`ref.qtl.<physCol>=stats/qtl-<id>.txt`) — the
    * `ref.` prefix makes [[vacuum]] retain referenced sidecars, like
    * bloom/hll/topk. r16: the HISTOGRAM family's write-time sketch. */
  private[graft] val QtlRefPrefix = "ref.qtl."

  /** Per-file QUANTILE sidecars (r16 — the histogram family's
    * write-time sketch, the LAST stats family that still needed a
    * maintenance scan): each staged file records its non-null row
    * count, minimum, and `q` equi-height boundaries of `qCol` in HIST
    * SPACE ([[Analyze.histSpaceCol]] — doubles for numerics, epoch
    * days for DATE, epoch micros for TIMESTAMP, the same space
    * [[Analyze.histogram]] records in), paid while the rows are
    * already in flight via one mergeable `percentile_approx`
    * aggregation per chunk. The fold consumer
    * ([[Analyze.histogramFromSketches]]) merges the per-file
    * boundaries as weighted rank points — a collapsing-GK-style
    * driver-side pass over manifest-scale lines, NO Spark job, no
    * data read. Rank error of the fold is bounded by the per-file
    * bucket mass (≤ rows/q per file, summing to ≤ N/q globally), which
    * perturbs [[Analyze.rangeSelectivity]] by at most ~a bucket
    * fraction — an estimate feeding COST choices, never a correctness
    * gate. Every staged file gets a line (an all-NULL file records an
    * empty summary, so the fold can tell "no data" from "never
    * sketched"). Sidecar layout, chunking, caching and the
    * sketch-free-manifest rule mirror [[withHll]]/[[withTopK]]. */
  def withQuantiles(staged: Seq[Entry], table: String, qCol: String,
                    spark: SparkSession, q: Int = 32,
                    chunkFiles: Int = 4096): Seq[Entry] = {
    require(q >= 2 && q <= 256, s"withQuantiles($table): q in [2, 256], got $q")
    val pcol = physicalName(table, qCol)
    staged.grouped(math.max(1, chunkFiles)).flatMap { chunk =>
      val data = withFid(spark, table, chunk)
      val attach = quantileChunkProps(table, pcol, q, chunk, data)
      chunk.map(e => e.copy(props = e.props ++ attach(e)))
    }.toSeq
  }

  /** Per-chunk quantile machinery: one grouped `percentile_approx`
    * per chunk (partial sketches merge per file — nothing sorts), the
    * sidecar publish, and the per-entry prop attacher. */
  private def quantileChunkProps(table: String, pcol: String, q: Int,
      chunk: Seq[Entry],
      data: org.apache.spark.sql.DataFrame): Entry => Map[String, String] = {
    import org.apache.spark.sql.functions._
    val (_, histE) = Analyze.histSpaceCol(table, pcol, data, "withQuantiles")
    val ps = (1 to q).map(i => lit(i.toDouble / q))
    val rows = data
      .select(col("__gfid").as("__f"), histE.as("__v"))
      .na.drop(Seq("__v"))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__n"), min(col("__v")).as("__mn"),
        percentile_approx(col("__v"), array(ps: _*), lit(10000)).as("__qs"))
      .collect()
    val byFile = rows.map { r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3))
    }.toMap
    val sidecarRel =
      s"stats/qtl-${java.util.UUID.randomUUID.toString.take(12)}.txt"
    val f = new File(table, sidecarRel)
    f.getParentFile.mkdirs()
    writeDurable(f, chunk.map { e =>
      byFile.get(fileId(e.rel)) match {
        case Some((n, mn, qs)) =>
          s"${fileId(e.rel)}\t$n\t$mn\t${qs.mkString(",")}"
        case None => s"${fileId(e.rel)}\t0\t\t" // all-NULL file
      }
    }.sorted.mkString("\n").getBytes(UTF_8))
    e => Map(QtlRefPrefix + pcol -> sidecarRel)
  }

  // quantile sidecar lines parsed once per (table, rel) — same rules
  // as the bloom/hll/topk sidecar caches above
  private val qtlSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Map[String, Option[(Long, Double, Seq[Double])]]]()

  private def qtlSidecar(table: String, rel: String)
      : Map[String, Option[(Long, Double, Seq[Double])]] = {
    if (qtlSidecarCache.size > 1024) qtlSidecarCache.clear()
    qtlSidecarCache.computeIfAbsent((table, rel), { _ =>
      new String(Files.readAllBytes(new File(table, rel).toPath), UTF_8)
        .split("\n").filter(_.nonEmpty).flatMap { line =>
          line.split("\t", -1) match {
            case Array(fid, n, mn, bs) if n == "0" && mn.isEmpty =>
              Some(fid -> None)
            case Array(fid, n, mn, bs) =>
              Some(fid -> Some((n.toLong, mn.toDouble,
                bs.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))))
            case _ => None
          }
        }.toMap
    })
  }

  /** The per-file quantile summaries of `entries` for physical column
    * `pcol` — (rows, min, boundaries), `None` for an all-NULL file.
    * Loudly incomplete-safe like [[hllSketches]]/[[topKCounts]]: an
    * entry without a sidecar reference (pre-qtl commit) throws rather
    * than letting a fold silently mis-weigh. */
  private[graft] def quantileSummaries(table: String, entries: Seq[Entry],
      pcol: String): Seq[Option[(Long, Double, Seq[Double])]] =
    entries.map { e =>
      val rel = e.props.getOrElse(QtlRefPrefix + pcol,
        throw new IllegalStateException(
          s"quantileSummaries($table): entry ${e.rel} carries no quantile " +
            s"sidecar for '$pcol' — stage through withQuantiles (or run " +
            "histogramApprox, one scan) before a zero-scan histogram refresh"))
      qtlSidecar(table, rel).getOrElse(fileId(e.rel),
        throw new IllegalStateException(
          s"quantileSummaries($table): sidecar $rel has no line for " +
            s"${e.rel} — run histogramApprox instead"))
    }

  /** Per-file stats PROPS from the parquet footer in ONE open:
    * `min./max.<col>` for numeric primitives whose logical annotation
    * makes the raw stat comparable to catalyst literal internals
    * (plain ints/floats, DATE epoch days, MICROS timestamps — decimal
    * UNSCALED ints and milli/nano timestamps are skipped: their raw
    * values are not the literal's scale, and pruning against them
    * would silently skip matching files), and `smin./smax.<col>` for
    * BINARY/UTF8 in unsigned-UTF-8 order — SEPARATE keys, so the
    * numeric prune can never `toDouble` a string bound (or numerically
    * compare bounds recorded lexicographically). `nulls.<col>` rides
    * alongside whenever every chunk reports a null count — INDEPENDENT
    * of min/max usability, because an all-null file has no bounds but
    * a definite null count, and that file is exactly the one
    * `IS NOT NULL` pruning wants to skip. Columns without usable stats
    * are absent — absence keeps files, the standing soundness rule. */
  private def footerStats(path: String,
                          columns: Seq[String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(new File(path).getAbsolutePath),
      new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val byCol = reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      columns.flatMap { column =>
        val chunks = byCol.getOrElse(column, Seq.empty)
        val stats = chunks.map(_.getStatistics)
        val tpe = chunks.headOption.map(_.getPrimitiveType.getPrimitiveTypeName)
        val ann = chunks.headOption
          .map(_.getPrimitiveType.getLogicalTypeAnnotation).orNull
        import org.apache.parquet.schema.LogicalTypeAnnotation
        // the numeric raw stat must BE the catalyst literal's internal
        // value: plain ints/floats (no annotation or int annotation),
        // DATE (epoch days), MICROS timestamps (epoch micros). Decimal
        // UNSCALED ints and MILLIS/NANOS timestamps are different
        // scales — recording them would make pruning silently skip
        // matching files (review find), so they get no stats at all.
        val annOk = ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
          (ann match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          })
        val numeric = tpe.exists(Set(INT32, INT64, FLOAT, DOUBLE).contains) && annOk
        val stringy = tpe.contains(BINARY) &&
          ann == LogicalTypeAnnotation.stringType()
        if (chunks.isEmpty || !(numeric || stringy)) Seq.empty
        else {
        // null count first: usable even when min/max are not (an
        // all-null chunk has hasNonNullValue == false but a definite
        // count); requires EVERY chunk to report one — a single
        // unknown (-1) poisons the file's total
        val nulls =
          if (stats.forall(st => st != null && st.isNumNullsSet && st.getNumNulls >= 0))
            Seq(s"nulls.$column" -> stats.map(_.getNumNulls).sum.toString)
          else Seq.empty
        nulls ++ (
        if (stats.exists(st => st == null || !st.hasNonNullValue)) Seq.empty
        else if (numeric) {
          val mins = stats.map(_.genericGetMin.toString.toDouble)
          val maxs = stats.map(_.genericGetMax.toString.toDouble)
          Seq(s"min.$column" -> mins.min.toString,
              s"max.$column" -> maxs.max.toString)
        } else {
          // STRING min/max — bounds stay valid even when parquet
          // truncated them (truncation keeps min a lower and max an
          // upper bound by contract). Order by UNSIGNED UTF-8 bytes:
          // that is parquet's BINARY(UTF8) order AND Unicode code-point
          // order, which String.compareTo (UTF-16 units) is NOT for
          // supplementary chars — comparing consistently here and in
          // [[rangeOverlapString]] is what keeps skipping sound. Values
          // carrying manifest framing chars are skipped (absence keeps
          // the file — sound), not escaped.
          val mins = stats.map(_.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
          val maxs = stats.map(_.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
          val mn = mins.reduce((a, b) => if (utf8Lte(a, b)) a else b)
          val mx = maxs.reduce((a, b) => if (utf8Lte(a, b)) b else a)
          if (s"$mn$mx".exists(c =>
              c == '\t' || c == '\n' || c == '\u0001' || c == '\u0002')) Seq.empty
          else Seq(s"smin.$column" -> mn, s"smax.$column" -> mx)
        })
        }
      }.toMap
    } finally reader.close()
  }

  /** a <= b in UNSIGNED UTF-8 byte order (parquet BINARY/UTF8 stats
    * order == Unicode code-point order). */
  private[lake] def utf8Lte(a: String, b: String): Boolean =
    bytesLte(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** [[rangeOverlap]] for STRING stats columns: keep the file unless its
    * recorded [min, max] lies entirely outside [lo, hi] in unsigned
    * UTF-8 order; `None` bounds are open (no string is a universal
    * upper bound — supplementary chars sort above U+FFFF in UTF-8, so
    * open sides must be explicit, not sentinels); files without string
    * stats are always kept. */
  def rangeOverlapString(statsCol: String, lo: Option[String],
                         hi: Option[String]): Entry => Boolean = { e =>
    (e.props.get(s"smin.$statsCol"), e.props.get(s"smax.$statsCol")) match {
      case (Some(mn), Some(mx)) =>
        lo.forall(utf8Lte(_, mx)) && hi.forall(utf8Lte(mn, _))
      case _ => true
    }
  }

  /** `col LIKE 'p%'` overlap for STRING stats: keep the file unless
    * every value provably lacks the prefix. Two disjoint proofs of
    * absence, both in the footer's unsigned-UTF-8 byte order: the file
    * sits entirely BELOW the prefix range (`smax < p` — `p` itself is
    * the smallest p-prefixed string), or entirely ABOVE it (smin's
    * first `|p|` BYTES already exceed `p`, so every value ≥ smin
    * exceeds every p-prefixed string). The truncation works on raw
    * bytes — splitting a multi-byte char is fine, byte order is the
    * stats' order. Files without string stats are always kept. */
  def prefixOverlapString(statsCol: String, prefix: String): Entry => Boolean = { e =>
    (e.props.get(s"smin.$statsCol"), e.props.get(s"smax.$statsCol")) match {
      case (Some(mn), Some(mx)) =>
        val p = prefix.getBytes(UTF_8)
        val m = mn.getBytes(UTF_8)
        utf8Lte(prefix, mx) &&
          bytesLte(java.util.Arrays.copyOf(m, math.min(m.length, p.length)), p)
      case _ => true
    }
  }

  private def bytesLte(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length <= b.length
  }

  /** `IS NOT NULL` pruning: keep the file unless its recorded null
    * count equals its recorded row count (provably all-null). DV-safe:
    * row deletion can only shrink an all-null file, never conjure a
    * non-null row. Empty files (0 == 0) skip too — sound, no row can
    * match anything. Absence of either prop keeps the file. */
  def notAllNull(statsCol: String): Entry => Boolean = { e =>
    (e.props.get(s"nulls.$statsCol").flatMap(_.toLongOption),
     e.props.get(RowsProp).flatMap(_.toLongOption)) match {
      case (Some(n), Some(r)) => n < r
      case _ => true
    }
  }

  /** `IS NULL` pruning: skip files whose recorded null count is
    * exactly zero (provably null-free — DVs only remove rows, so the
    * proof survives deletion). Absence keeps the file. */
  def someNull(statsCol: String): Entry => Boolean = { e =>
    !e.props.get(s"nulls.$statsCol").flatMap(_.toLongOption).contains(0L)
  }

  /** `col <> v` pruning: skip a file only when its stats prove every
    * NON-NULL value equals `v` (min == max == v) — null rows cannot
    * satisfy `<>` either (`v <> NULL` is NULL), so non-null stats
    * alone decide. Sound under parquet bound truncation: recorded
    * lo <= true values <= hi, and lo == hi == v pins them all.
    * Callers gate numeric literals to double's exact-integer range —
    * the recorded bounds are double-rendered. */
  def notConstNumeric(statsCol: String, v: Double): Entry => Boolean = { e =>
    (e.props.get(s"min.$statsCol").flatMap(_.toDoubleOption),
     e.props.get(s"max.$statsCol").flatMap(_.toDoubleOption)) match {
      case (Some(mn), Some(mx)) => !(mn == v && mx == v)
      case _ => true
    }
  }

  /** [[notConstNumeric]] for STRING stats (exact string equality). */
  def notConstString(statsCol: String, v: String): Entry => Boolean = { e =>
    (e.props.get(s"smin.$statsCol"), e.props.get(s"smax.$statsCol")) match {
      case (Some(mn), Some(mx)) => !(mn == v && mx == v)
      case _ => true
    }
  }

  /** Prepared-but-uncommitted snapshot: the manifest NAMES it will list
    * and the version it will commit as. The manifests themselves are
    * already durable on disk (written by [[prepare]]) but invisible —
    * no snapshot lists them yet — so a Prepared is safe to carry across
    * a crash ([[commitPair]] persists it in the intent record and
    * recovery re-publishes the snapshot file only). */
  final case class Prepared(table: String, version: Long, manifests: Seq[String],
                            props: Map[String, String] = Map.empty)

  /** Build snapshot `v+1` = (current entries NOT `remove`d) ++ `add`:
    * untouched manifests are carried over BY NAME (zero IO); manifests
    * that lose entries are rewritten filtered; `add` becomes one new
    * manifest. Metadata IO is proportional to manifests touched, never
    * to table size. */
  def prepare(table: String, add: Seq[(String, String)],
              remove: ((String, String)) => Boolean = _ => false): Prepared =
    prepareAll(table, add.map { case (r, t) => Entry(r, t) }, remove)

  /** [[prepare]] with full [[Entry]] adds (per-file stats props ride
    * into the manifest); rewritten manifests keep survivors' props. */
  def prepareAll(table: String, add: Seq[Entry],
                 remove: ((String, String)) => Boolean = _ => false): Prepared =
    prepareAllAt(table, currentVersion(table), add, remove)

  /** [[prepareAll]] against an EXPLICIT base version — the pinned
    * variant [[commitRewrite]] needs: preparing against "whatever is
    * current" re-reads the manifest list at prepare time, which is the
    * TOCTOU window a maintenance rewrite must not have (a writer
    * landing between its conflict check and an unpinned prepare would
    * have its entries silently removed). Targets `base + 1`, so a
    * commit of the result is exclusive against anything after `base`. */
  def prepareAllAt(table: String, base: Long, add: Seq[Entry],
                   remove: ((String, String)) => Boolean = _ => false): Prepared = {
    val cur = base
    val (addEnriched, addSchema) = withRowCounts(table, add)
    // maintain the log-recorded union schema: prior recorded schema
    // (inherited props of the BASE version) merged with the added
    // files'. A failed merge or probe leaves the prop ALONE — the
    // inherited prior value carries, which is stale-but-sound for the
    // zero-file read it serves (and the conflicting state would fail a
    // mergeSchema read anyway)
    val ddlProp: Map[String, String] = addSchema.flatMap { schemaOfAdds =>
      val prior = (if (cur == 0) None else snapshotProps(table, cur).get(SchemaDdlProp))
        .flatMap(d =>
          try Some(org.apache.spark.sql.types.StructType.fromDDL(d))
          catch { case scala.util.control.NonFatal(_) => None })
      val merged =
        try Some((prior.toSeq :+ schemaOfAdds).reduceLeft(mergeSchemasByName))
        catch { case _: IllegalArgumentException => None }
      merged.map(_.toDDL)
        .filter(!_.exists(c => c == '\t' || c == '\n' || c == '\u0001' || c == '\u0002'))
        .map(SchemaDdlProp -> _)
    }.toMap
    // row-id base allocation: every added NEW FILE with a known row
    // count gets a contiguous id range off the base version's
    // high-water mark. (Re)assigned on EVERY prepare — a retry against
    // a newer base must re-allocate, or two racers could publish
    // overlapping ranges. A re-statement of a LIVE file (a DV fold
    // re-adds the same rel with new props) inherits the LOG's recorded
    // base instead: the physical rows didn't move, so their ids must
    // not either — and the log, not the caller's prop copy, is the
    // authority. Entries without a footer row count get no base (their
    // rows read as NULL ids — sound). Carried-forward entries keep
    // their bases via their manifests.
    val priorHigh =
      if (cur == 0) 0L
      else snapshotProps(table, cur).get(RowIdHighProp).map(_.toLong).getOrElse(0L)
    val liveBase: Map[String, Option[String]] =
      if (cur == 0 || addEnriched.isEmpty) Map.empty
      else entriesAt(table, cur)
        .map(e => e.rel -> e.props.get(RowIdBaseProp)).toMap
    var high = priorHigh
    val addWithIds = addEnriched.map { e =>
      liveBase.get(e.rel) match {
        case Some(Some(b)) => e.copy(props = e.props + (RowIdBaseProp -> b))
        case Some(None) => e.copy(props = e.props - RowIdBaseProp)
        case None =>
          e.props.get(RowsProp).flatMap(_.toLongOption) match {
            case Some(n) =>
              val b = high; high += n
              e.copy(props = e.props + (RowIdBaseProp -> b.toString))
            case None => e
          }
      }
    }
    val highProp =
      if (high != priorHigh) Map(RowIdHighProp -> high.toString) else Map.empty
    val kept = (if (cur == 0) Seq.empty else manifestList(table, cur)).flatMap {
      case (mf, _) =>
        val es = manifestEntries(table, mf)
        val keep = es.filterNot(e => remove((e.rel, e.tag)))
        if (keep.size == es.size) Some(mf)            // untouched: reuse by name
        else if (keep.isEmpty) None                   // fully removed: drop
        else Some(writeManifest(table, keep))         // partial: rewrite this one
    }
    val added =
      if (addWithIds.isEmpty) Seq.empty
      else Seq(writeManifest(table, addWithIds))
    Prepared(table, cur + 1, kept ++ added, props = ddlProp ++ highProp)
  }

  /** [[commit]] with full [[Entry]] adds. */
  def commitAll(table: String, add: Seq[Entry],
                remove: ((String, String)) => Boolean = _ => false,
                props: Map[String, String] = Map.empty): Long =
    commitPrepared(prepareAll(table, add, remove), props)

  /** Write bytes to a file and FORCE them to storage before any rename/
    * link publishes them — without the `force(true)`, a power loss
    * after the publish can journal the directory entry but not the
    * data, leaving a committed-looking file with truncated content
    * (process-crash consistency never needed this; power-loss
    * consistency does). */
  private def writeDurable(dst: File, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(dst.toPath,
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
  }

  /** Publish a prepared snapshot: write `.tmp`, force to storage, then
    * hard-link it to the final fresh name — link creation is atomic and
    * EXCLUSIVE (fails on an existing target where a rename would
    * silently replace it), which is what makes two racing committers
    * decidable: exactly one wins; the loser sees its version already
    * taken and gets [[ConcurrentCommitException]] — unless the existing
    * content is byte-identical (a crash-recovery re-commit), which
    * stays an idempotent no-op. Returns the committed version. */
  def commitPrepared(p: Prepared, props: Map[String, String] = Map.empty,
                     inherit: Boolean = true): Long = {
    // LOGICAL-SCHEMA props are INHERITED: a rename/drop is table-level
    // metadata every later snapshot must keep carrying (Iceberg keeps
    // it in table metadata outside any snapshot; here the snapshot file
    // is the only metadata, so each commit re-states the mapping).
    // Explicit props win, so a rename commit overrides its own key.
    // `inherit = false` is for [[rollback]], whose explicit props ARE
    // the complete prop set of the restored version: schema mapping is
    // snapshot-scoped here (each version reads under its own names —
    // the time-travel contract), so a rollback across a rename restores
    // the old names WITH the old rows rather than keeping the live
    // mapping the way table-level-schema formats would. Idempotent
    // re-commits (crash recovery) re-derive the same inherited set, so
    // byte-identity detection still holds.
    val inherited =
      if (!inherit) Map.empty[String, String]
      else snapshotProps(p.table, currentVersion(p.table))
        .filter { case (k, _) => InheritedPropPrefixes.exists(k.startsWith) }
    val allProps = inherited ++ p.props ++ props
    allProps.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") &&
          !s"$k$v".exists(c => c == '\n' || c == '\t' || c == '\u0001' || c == '\u0002'),
        s"snapshot prop '$k'='$v': keys must be non-empty and '='-free, " +
          "neither side may carry framing characters " +
          "(tab, newline, \\u0001, \\u0002 — snapshot and intent-record framing)")
    }
    // AUTO ANALYZE props validate AT THE DOOR (r15 review find): they
    // also arrive via plain SET TBLPROPERTIES, and the commit-time hook
    // must never fail a published commit — so a typo'd budget ('16x',
    // '0') has to be rejected HERE, on the commit that introduces it,
    // not silently ignored (or turned into a fold-on-every-commit)
    // downstream
    allProps.get(Analyze.AutoStaleProp).foreach { v =>
      require(v.toLongOption.exists(_ >= 1),
        s"${Analyze.AutoStaleProp} must be an integer >= 1 (the refresh " +
          s"itself commits a props version), got '$v'")
    }
    allProps.get(Analyze.AutoColsProp).foreach { v =>
      require(v.split(",").exists(_.trim.nonEmpty),
        s"${Analyze.AutoColsProp} must name at least one column, got '$v'")
    }
    allProps.get(Analyze.AutoFreqColsProp).foreach { v =>
      require(v.split(",").exists(_.trim.nonEmpty),
        s"${Analyze.AutoFreqColsProp} must name at least one column, got '$v'")
    }
    val dir = logDir(p.table)
    dir.mkdirs()
    val dst = snapFile(p.table, p.version)
    val propLines = allProps.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
    val bytes = (propLines ++ p.manifests.map { mf =>
      val tags = manifestEntries(p.table, mf).map(_.tag).distinct.sorted
      s"$mf\t${tags.mkString("\u0001")}"
    }).mkString("\n").getBytes(UTF_8)
    def sameContent(): Boolean =
      dst.exists() && java.util.Arrays.equals(Files.readAllBytes(dst.toPath), bytes)
    if (!sameContent()) {
      // pointer FIRST (may run one ahead; see advancePointer) — a
      // failure here aborts an unpublished commit, never a published one
      advancePointer(p.table, p.version)
      val tmp = new File(dir, s"snap-${p.version}.tmp-${java.util.UUID.randomUUID}")
      writeDurable(tmp, bytes)
      try Files.createLink(dst.toPath, tmp.toPath)
      catch {
        case _: FileAlreadyExistsException =>
          tmp.delete()
          if (!sameContent()) throw new ConcurrentCommitException(p.table, p.version)
      }
      tmp.delete()
    } else advancePointer(p.table, p.version) // idempotent recovery re-publish
    // AUTO ANALYZE (r15): after the snapshot is LIVE, let the declared
    // staleness budget trigger a zero-data-read sketch re-fold — one
    // map lookup on the no-op path, and never able to fail the commit
    // ([[Analyze.maybeAutoRefresh]])
    Analyze.maybeAutoRefresh(p.table, p.version, allProps)
    p.version
  }

  /** Stage-free convenience: prepare + commit in one step. `props`
    * become the snapshot's [[snapshotProps]]. */
  def commit(table: String, add: Seq[(String, String)],
             remove: ((String, String)) => Boolean = _ => false,
             props: Map[String, String] = Map.empty): Long =
    commitPrepared(prepare(table, add, remove), props)

  /** A retried commit found a REAL conflict: the winning commit changed
    * the very entries this commit removes/replaces, so re-publishing
    * would silently drop the winner's work. The caller must re-run its
    * whole read-modify-write cycle against the new snapshot. */
  final class ConflictException(table: String, detail: String)
    extends RuntimeException(s"conflicting concurrent commit of $table: $detail")

  /** OPTIMISTIC CONCURRENCY CONTROL — the Delta/Iceberg commit-retry
    * shape on top of the exclusive snapshot publish: when another
    * writer wins the version race ([[ConcurrentCommitException]]), the
    * loser re-prepares against the NEW snapshot and re-publishes,
    * UNLESS the winner changed any entry this commit removes/replaces.
    * Conflict detection is at FILE granularity and compares FULL
    * entries (rel + tag + props): a winner that merely re-propped a
    * file we remove — a concurrent deletion-vector fold on the same
    * file — is a conflict too, because retrying blindly would publish
    * a sidecar that lost the winner's folded positions. Disjoint
    * writers (append + append, or rewrites of different files) all
    * succeed in some serial order; overlapping writers get
    * [[ConflictException]] and must re-run their read-modify-write.
    * This is the WriteSerializable file-level contract Delta defaults
    * to; semantic row-level conflicts across different files are the
    * caller's domain (same as Delta). */
  def commitAllWithRetry(table: String, add: Seq[Entry],
                         remove: ((String, String)) => Boolean = _ => false,
                         props: Map[String, String] = Map.empty,
                         maxRetries: Int = 5): Long = {
    val myRemovals = entriesAll(table).filter(e => remove((e.rel, e.tag))).toSet
    var attempt = 0
    while (true) {
      try return commitAll(table, add, remove, props)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val nowRemovals = entriesAll(table).filter(e => remove((e.rel, e.tag))).toSet
          if (nowRemovals != myRemovals)
            throw new ConflictException(table,
              s"another writer changed entries this commit removes " +
                s"(before: ${myRemovals.map(_.rel).toSeq.sorted.mkString(", ")}; " +
                s"now: ${nowRemovals.map(_.rel).toSeq.sorted.mkString(", ")})")
        // disjoint winner: loop re-prepares against the new snapshot
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC for MAINTENANCE REWRITES (compact / Z-order re-cluster /
    * REORG): commit `add` replacing the entries matched by `remove`,
    * verifying the replaced entries are STILL the ones the rewrite
    * READ at `readVersion` — full-entry comparison, so a concurrent
    * deleteWhere that folded a deletion vector onto a file being
    * compacted away (same rel, new `ref.dv` prop) is a conflict, not a
    * silent resurrection of its deleted rows. [[commitAllWithRetry]]
    * can't give this guarantee: it snapshots its expectation at CALL
    * time, but a rewrite's input was read earlier (the staged files
    * were derived from `readVersion`'s data), so the expectation must
    * be pinned there.
    *
    * Soundness of the loop: each attempt pins `cur`, checks the
    * replaced set against the read-time set, prepares AGAINST `cur`
    * ([[prepareAllAt]] — no unpinned re-read), and publishes
    * exclusively at `cur + 1`. Any writer landing after the pin takes
    * `cur + 1` first, our publish throws, and the next iteration
    * re-checks with that writer's changes visible. Disjoint winners
    * (appends, rewrites of other files) retry through; overlapping
    * ones throw [[ConflictException]] — re-run the whole rewrite. */
  def commitRewrite(table: String, readVersion: Long, add: Seq[Entry],
                    remove: ((String, String)) => Boolean,
                    props: Map[String, String] = Map.empty,
                    maxRetries: Int = 5): Long = {
    val readSet = entriesAt(table, readVersion)
      .filter(e => remove((e.rel, e.tag))).toSet
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      if (cur != readVersion) {
        val nowSet = entriesAt(table, cur).filter(e => remove((e.rel, e.tag))).toSet
        if (nowSet != readSet)
          throw new ConflictException(table,
            s"maintenance rewrite read version $readVersion but another " +
              s"writer changed entries it replaces (read: " +
              s"${readSet.map(_.rel).toSeq.sorted.mkString(", ")}; now: " +
              s"${nowSet.map(_.rel).toSeq.sorted.mkString(", ")})")
      }
      try return commitPrepared(prepareAllAt(table, cur, add, remove), props)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete everything no RETAINED snapshot references — retained =
    * the current version plus every [[tagRef]]-pinned one: data files,
    * manifests, superseded un-pinned snapshots, unreferenced `ref.*`
    * sidecars, and `.tmp-*` leftovers of crashed commits. Deferred by
    * design: run it only once concurrent readers of older snapshots
    * have drained — until then the old snapshot stays fully readable
    * (that deferral IS the old-XOR-new guarantee for in-flight
    * readers). */
  /** MANIFEST COMPACTION — the Iceberg `rewrite_manifests` shape, pure
    * LOG maintenance (zero data IO): merge a long-appended table's
    * accumulation of small manifests into few large ones. Why it
    * matters at scale: every commit's snapshot file lists every live
    * manifest BY NAME, so 10⁴ append commits leave 10⁴ manifests and
    * every subsequent commit rewrites a 10⁴-line snapshot — log text
    * IO per commit grows with commit COUNT even though entry IO stays
    * O(touched). Merging restores snapshot size to O(#merged).
    *
    * Entries are re-grouped SORTED BY TAG, so each merged manifest
    * covers a narrow contiguous tag set and the snapshot line's
    * manifest-level tag pruning stays sharp (an arrival-order merge
    * would smear every tag across every manifest and demote pruning to
    * the per-entry level). Entry content is byte-preserved — props,
    * vectors, stats all ride along — so every read, DETAIL fold, and
    * prune behaves identically.
    *
    * Concurrency: the publish is pinned at `cur + 1`; ANY concurrent
    * commit wins the version race and this pass RETRIES from the new
    * snapshot (never merging over a writer's entry changes — the
    * re-read starts from scratch). Old snapshots keep referencing the
    * small manifests until [[vacuum]]. Returns the committed version
    * (unchanged when the manifest count is already within bounds). */
  def compactManifests(table: String, maxManifests: Int = 64,
                       maxRetries: Int = 5): Long = {
    require(maxManifests >= 1, "compactManifests: maxManifests must be >= 1")
    var attempt = 0
    while (true) {
      val v0 = currentVersion(table)
      if (v0 == 0) return 0L
      val mfs = manifestList(table, v0)
      if (mfs.size <= maxManifests) return v0
      val all = mfs.flatMap { case (mf, _) => manifestEntries(table, mf) }
      // chunk purely by the count bound (ceil division): an
      // entries-per-manifest knob here was a floor masquerading as a
      // cap (r11 review find) — manifest SIZE follows from the count
      // bound and the table's entry count, which is what the operator
      // is actually tuning
      val merged = all.sortBy(e => (e.tag, e.rel))
        .grouped(math.max(1, (all.size + maxManifests - 1) / maxManifests))
        .map(writeManifest(table, _)).toSeq
      // content-describing props carry (mv./cdc. bookkeeping — same
      // rule as compact); schema./constraint. inherit via commitPrepared
      val carried = snapshotProps(table, v0)
        .filter { case (k, _) => BookkeepingPropPrefixes.exists(k.startsWith) }
      try return commitPrepared(Prepared(table, v0 + 1, merged), props = carried)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
        // retry re-reads everything from the new current snapshot
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def vacuum(table: String, keepVersions: Int = 1,
             dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, s"vacuum($table): keepVersions must be >= 1")
    val cur = currentVersion(table)
    // retention roots: the newest `keepVersions` committed snapshots
    // (the Delta/Iceberg retention-window shape by version count —
    // keepVersions = 1 is the classic live-only vacuum) plus every
    // ref-pinned one — a retained snapshot's whole closure (snapshot
    // file, manifests, data files, sidecars) survives
    val committed = Option(logDir(table).listFiles()).toSeq.flatten
      .flatMap(f => SnapRe.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      .sorted
    def retainedNow(): Set[Long] =
      (committed.takeRight(keepVersions).toSet ++
          Set(cur) ++ refs(table).values).filter(_ >= 1)
        .filter(v => snapFile(table, v).exists())
    val retained0 = retainedNow()
    // HANDSHAKE with concurrent [[tagRef]] (review find — a ref
    // created between vacuum's refs read and its deletes could pin an
    // already-reclaimed version): vacuum durably publishes an INTENT
    // naming the endangered versions, THEN re-reads refs; tagRef
    // durably writes its ref, THEN checks intents. Each side writes
    // its own flag before reading the other's, so at least one of a
    // racing pair sees the other — vacuum retains the late-pinned
    // version, or tagRef aborts loudly (or both, which is merely
    // conservative). A crashed vacuum's stale intent blocks pinning
    // of endangered versions for [[VacuumIntentTtlMs]] at most.
    val intent: Option[File] =
      if (dryRun) None
      else {
        Option(logDir(table).listFiles()).toSeq.flatten // expire stale intents
          .filter(f => f.getName.startsWith("vacuum-intent-") &&
            System.currentTimeMillis - f.lastModified > VacuumIntentTtlMs)
          .foreach(_.delete())
        val f = new File(logDir(table),
          s"vacuum-intent-${java.util.UUID.randomUUID}.txt")
        writeDurable(f, (committed.toSet -- retained0).toSeq.sorted
          .mkString("\n").getBytes(UTF_8))
        Some(f)
      }
    try {
    // union of the two reads: refs ADDED since the first read must
    // retain; refs dropped in between keep the conservative first read
    val retained = if (dryRun) retained0 else retained0 ++ retainedNow()
    val liveManifests = retained.flatMap(manifestList(table, _)).map(_._1)
    val live = liveManifests.flatMap(manifestEntries(table, _)).map(_.rel)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = new File(table).toPath
    val dataDir = new File(table, "data")
    val orphans = walk(dataDir).filter { f =>
      val rel = root.relativize(f.toPath).toString
      f.getName.endsWith(".parquet") && !live.contains(rel)
    }
    // auxiliary sidecar dirs (deletion vectors et al.): a live entry
    // references its sidecar via a `ref.*` prop ("ref.dv" ->
    // "dv/dv-<id>"); any dv/ subdirectory no live entry names is a
    // crashed delete's or superseded vector's leftover — reclaim it,
    // same deferral rules as data files (older snapshots' vectors die
    // with their snapshots here)
    val refdAux = liveManifests.toSeq.flatMap(manifestEntries(table, _))
      .flatMap(_.props.collect { case (k, v) if k.startsWith("ref.") => v }).toSet
    val dvDir = new File(table, "dv")
    val auxOrphans = Option(dvDir.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !refdAux.contains(s"dv/${d.getName}"))
    // bloom-sketch sidecars (stats/bl-*.txt) follow the same rules as
    // dv sidecars — any file no retained entry references is a crashed
    // stage's or rewritten-away leftover — except they are FILES, not
    // parquet directories
    val statsDir = new File(table, "stats")
    val statOrphans = Option(statsDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !refdAux.contains(s"stats/${f.getName}"))
    if (!dryRun) {
      orphans.foreach(_.delete())
      // drop now-empty staging dirs (deepest-first so nested __tag= dirs
      // empty out before their parents)
      def dirsUnder(f: File): Seq[File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(dirsUnder) :+ f
        else Seq.empty
      dirsUnder(dataDir).dropRight(1) // keep data/ itself
        .filter(d => walk(d).forall(!_.getName.endsWith(".parquet")))
        .foreach { d => walk(d).foreach(_.delete()); d.delete() }
      auxOrphans.foreach { d => walk(d).foreach(_.delete()); d.delete() }
      statOrphans.foreach(_.delete())
      // superseded snapshots, unshared manifests, crashed-commit tmp files
      Option(logDir(table).listFiles()).toSeq.flatten.foreach { f =>
        val name = f.getName
        val drop =
          SnapRe.findFirstMatchIn(name).exists(m =>
            m.group(1).toLong < cur && !retained.contains(m.group(1).toLong)) ||
            (name.startsWith("mf-") && name.endsWith(".txt") && !liveManifests.contains(name)) ||
            name.contains(".tmp-")
        if (drop) f.delete()
      }
    }
    orphans.map(f => root.relativize(f.toPath).toString) ++
      auxOrphans.map(d => s"dv/${d.getName}") ++
      statOrphans.map(f => s"stats/${f.getName}")
    } finally intent.foreach(_.delete())
  }

  /** Active-vacuum intent lifetime: a crashed vacuum's leftover intent
    * file stops blocking [[tagRef]] after this long (the delete phase
    * it guards runs in seconds; generous margin for slow storage). */
  private val VacuumIntentTtlMs: Long = 15L * 60 * 1000

  /** Restage `df` preserving the TABLE's skipping surface: the stats
    * and bloom columns a table was staged with are recovered from its
    * live entries' prop KEYS (`min.<col>` / `bloom.<col>`, PHYSICAL
    * names), and the new files get the same per-file footer stats and
    * sketches. Without this, every COW rewrite would strip the touched
    * files' metadata and each subsequent merge/update's candidate
    * pruning would degrade toward a full scan. (The rewrite does not
    * re-cluster — new files may span wider value ranges than
    * range-clustered originals, which weakens their stats' selectivity
    * but never their correctness; [[compact]] with `zorderBy` restores
    * the clustering.) Also the APPEND path for surfaces that take
    * arbitrary user frames (SQL INSERT INTO) — a plain [[stage]] there
    * would land stats-free files on a stats-bearing table and quietly
    * erode its skipping. */
  private[graft] def restageLike(spark: SparkSession, df: DataFrame, table: String,
                                 tagCol: String): Seq[Entry] = {
    val keys = entriesAll(table).flatMap(_.props.keys).distinct
    // dropped columns keep their props on old entries but no longer
    // exist in the restaged frame (r16 review find — same class as the
    // sketch families' guard in withSketchesLike)
    val (_, droppedCols) = schemaMapping(table, currentVersion(table))
    val statsCols = (keys.collect { case k if k.startsWith("min.") => k.drop(4) } ++
      keys.collect { case k if k.startsWith("smin.") => k.drop(5) } ++
      // a column may carry ONLY a null count (all-null at stage time:
      // no bounds were derivable) — it is still a stats column and the
      // rewrite must re-record it
      keys.collect { case k if k.startsWith("nulls.") => k.drop(6) })
      .distinct.filterNot(droppedCols)
    // BOTH key families: current sidecar refs AND legacy inline
    // sketches — a rewrite is exactly how a legacy table's unsound
    // old-format sketches upgrade to probed-format sidecars
    val bloomCols = (keys.collect {
        case k if k.startsWith(BloomRefPrefix) => k.drop(BloomRefPrefix.length) } ++
      keys.collect { case k if k.startsWith("bloom.") => k.drop(6) })
      .distinct.filterNot(droppedCols)
    val staged = stage(df, table, tagCol)
    val withStats =
      if (statsCols.isEmpty) staged.map { case (r, t) => Entry(r, t) }
      else withFooterStats(staged, table, statsCols)
    withSketchesLike(
      bloomCols.foldLeft(withStats)((es, c) => withBloom(es, table, c, spark)),
      table, spark)
  }

  /** Re-derive the per-file SKETCH sidecars (hll / top-k / quantile) a
    * table's live entries reference, for freshly restaged entries —
    * the [[restageLike]] discipline extended to the sketch families
    * (r16 review find: a maintenance rewrite silently dropped the
    * refs, so the next zero-scan stats refresh threw "no sidecar" and
    * AUTO ANALYZE warned on every commit forever — the exact
    * no-way-out failure the r15 declaration-replacement fix removed).
    * Prop keys are physical column names; [[physicalName]] is identity
    * on names already physical, so the round trip is safe under
    * renames. */
  private def withSketchesLike(es: Seq[Entry], table: String,
                               spark: SparkSession): Seq[Entry] = {
    if (es.isEmpty) return es
    val keys = entriesAll(table).flatMap(_.props.keys).distinct
    // DROPPED columns keep their ref props on old entries but no
    // longer exist in freshly staged files — sketching them would
    // crash every write after a dropColumn (r16 review find)
    val (_, droppedCols) = schemaMapping(table, currentVersion(table))
    def cols(prefix: String): Seq[String] =
      keys.collect { case k if k.startsWith(prefix) =>
        k.drop(prefix.length) }.distinct.filterNot(droppedCols)
    val hllCols = cols(HllRefPrefix)
    val topkCols = cols(TopKRefPrefix)
    val qtlCols = cols(QtlRefPrefix)
    if (hllCols.isEmpty && topkCols.isEmpty && qtlCols.isEmpty) return es
    // recover each column's ORIGINAL sketch parameters from the live
    // sidecars (r16 third review pass: rebuilding at the defaults
    // silently and permanently degraded tables sketched at higher
    // precision). q is exact — every non-empty quantile line carries
    // exactly q boundaries; top-k recovers as the LONGEST recorded
    // list (exact whenever any file saturated the budget; shorter
    // lists were complete and lose nothing at the recovered k); hll's
    // lgK reads from the DataSketches preamble (byte 3 of any
    // non-empty serialized sketch). Unrecoverable (all-empty, damaged)
    // falls back to the staging defaults.
    val old = entriesAll(table)
    def recover(body: => Option[Int], lo: Int, hi: Int, dflt: Int): Int =
      scala.util.Try(body).toOption.flatten
        .map(v => math.min(hi, math.max(lo, v))).getOrElse(dflt)
    val lgKOf = hllCols.map(c => c -> recover(
      hllSketches(table, old, c).headOption.map(_(3).toInt), 4, 21, 12)).toMap
    // prefer the REQUESTED k stamped on the entries ([[TopKKPrefix]],
    // r17) over the longest recorded list — the list length is only a
    // lower bound (distinct-limited columns under-record, and a
    // length-recovered rewrite would cap the column's later growth)
    val kOf = topkCols.map(c => c -> recover(
      (old.flatMap(_.props.get(TopKKPrefix + c)).flatMap(_.toIntOption) ++
        topKCounts(table, old, c).map(_.size)).maxOption.filter(_ >= 1),
      16, 256, 16)).toMap
    val qOf = qtlCols.map(c => c -> recover(
      quantileSummaries(table, old, c).flatten.headOption.map(_._3.size),
      2, 256, 32)).toMap
    // ONE persisted read per chunk serves the hll/top-k/quantile
    // families together (the withKeyStats discipline — r16 review
    // find: per-family-per-column passes re-scanned each restage
    // several times over). Bloom sketches still pay their own
    // per-column pass in the callers (withBloom's probe-hash
    // normalization reads differently); folding it in is the remaining
    // restage-IO headroom.
    es.grouped(4096).flatMap { chunk =>
      val data = withFid(spark, table, chunk).persist()
      try {
        val attach: Seq[Entry => Map[String, String]] =
          hllCols.map(c => hllChunkProps(table, c, lgKOf(c), chunk, data)) ++
            topkCols.map(c => topKChunkProps(table, c, kOf(c), chunk, data)) ++
            qtlCols.map(c => quantileChunkProps(table, c, qOf(c), chunk, data))
        chunk.map(e => e.copy(props = e.props ++
          attach.flatMap(_(e)).toMap))
      } finally { data.unpersist(); () }
    }.toSeq
  }

  /** OPTIMIZE for snapshot tables: bin-pack every tag fragmented across
    * >1 file into one file per tag, published as one atomic commit —
    * readers concurrent with the maintenance job keep the old snapshot
    * (and can still time-travel to it until vacuum). Content is
    * untouched: same rows, fewer files; per-file stats/bloom props are
    * re-derived for the rewritten files ([[restageLike]]), and
    * content-describing snapshot props (`mv.*` bookkeeping) are carried
    * forward — a layout-only rewrite must not reset an MV's applied
    * version to 0, or the next catchUp would double-fold the bootstrap
    * (r9 advisor find; provenance props like `rollback.to` are NOT
    * carried, they describe their own commit).
    *
    * `zorderBy` non-empty switches to a FULL RE-CLUSTER (the Delta
    * OPTIMIZE ZORDER BY shape): every tag rewrites through
    * [[stageZOrdered]] on those columns. Repeated COW rewrites preserve
    * stats but not clustering, so per-file ranges widen until min/max
    * and bloom skipping stop pruning; this restores the per-file boxes
    * at a maintenance moment the operator picks. DV-bearing files
    * always rewrite, vectors MATERIALIZED (the Delta OPTIMIZE
    * behavior — see the r10 note in the body). `tagFilter` scopes the
    * whole pass to matching tags (`OPTIMIZE … WHERE`). Returns the
    * committed version (the current one when nothing needs
    * rewriting). */
  def compact(spark: SparkSession, table: String, tagCol: String,
              zorderBy: Seq[String] = Seq.empty,
              tagFilter: String => Boolean = _ => true,
              targetFileBytes: Long = DefaultTargetFileBytes,
              includeSynthetic: Boolean = true): Long = {
    // the rewrite is PINNED to v0: input read, replaced-entry set, and
    // commit base all reference this version, and [[commitRewrite]]
    // refuses if a concurrent writer touched any replaced entry — a
    // deleteWhere folding a vector onto a file being compacted away
    // mid-rewrite must conflict, never silently resurrect its rows.
    // `tagFilter` SCOPES the maintenance (the Delta `OPTIMIZE … WHERE`
    // shape): only matching tags are considered, read, rewritten, or —
    // for the DV guard — required vector-free; at 10⁶ files an operator
    // optimizes the day that fragmented, not the table.
    val v0 = currentVersion(table)
    val all = entriesAt(table, v0)
    // synthetic (CONVERTed) tags are file ids, not partition values —
    // no user WHERE value can name them, so a scoped pass INCLUDES them
    // (rewriting re-tags them properly; excluding them would make
    // scoped OPTIMIZE a silent no-op on converted files, review find).
    // `includeSynthetic = false` is the [[reclusterEroded]] door: its
    // scope is MEASURED per tag and its contract says untouched files
    // carry by name — sweeping every converted file into each
    // incremental heal would violate exactly that (r16 review find);
    // converted files re-tag through a full compact instead.
    val scoped = all.filter(e =>
      tagFilter(e.tag) ||
        (includeSynthetic && e.props.contains(TagSyntheticProp)))
    val carried = snapshotProps(table, v0)
      .filter { case (k, _) => BookkeepingPropPrefixes.exists(k.startsWith) }
    // DV-AWARE (r10, the Delta OPTIMIZE behavior): rewritten files read
    // MERGED — their deletion vectors are materialized into the new
    // files and the refs drop with the replaced entries (sidecars
    // become vacuum fodder); time travel keeps the vectored entries in
    // their own snapshots and the change feed sees cancelling
    // delete+insert pairs, same as REORG. Pre-r10 compact refused
    // DV-bearing tables outright and demanded a manual purge first.
    if (zorderBy.nonEmpty) {
      val bloomCols = {
        val ks = scoped.flatMap(_.props.keys)
        val (_, droppedCols) = schemaMapping(table, v0)
        (ks.collect { case k if k.startsWith(BloomRefPrefix) =>
            k.drop(BloomRefPrefix.length) } ++
          ks.collect { case k if k.startsWith("bloom.") => k.drop(6) })
          .distinct.filterNot(droppedCols)
      }
      if (scoped.isEmpty) return v0
      // read by FILE, not tag: the read set must equal the remove set
      // exactly (a tag-filtered read would drop synthetic files the
      // scope includes — removed without restage = data loss)
      val inScope = scoped.map(_.rel).toSet
      // ids ride the re-cluster (materialized __rid): a layout-only
      // rewrite must not re-mint row identities — its feed carry-over
      // pairs share ids AND content
      val df = readMergedWithIds(spark, table, version = v0,
          fileFilter = e => inScope.contains(e.rel))
        .withColumnRenamed(RowIdCol, RidCol)
      val es = withSketchesLike(bloomCols.foldLeft(
        withInternalRid(stageZOrdered(df, table, tagCol, zorderBy)))(
        (acc, c) => withBloom(acc, table, c, spark)), table, spark)
      // a re-cluster of a fully-DV-deleted slice would commit zero
      // files — unreadable; keep the vector layout (readable as empty)
      if (es.isEmpty && scoped.size == all.size) return v0
      commitRewrite(table, v0, es,
        remove = { case (rel, _) => inScope.contains(rel) }, props = carried)
    } else {
      // BIN-PACK toward `targetFileBytes` (the Delta OPTIMIZE
      // minFileSize/maxFileSize shape, r10 verdict top item): only
      // files SMALLER than the target are compaction candidates, and a
      // tag rewrites only when it holds >= 2 of them (one small file
      // has nothing to coalesce with). Files already at/above target
      // are carried BY NAME — re-writing a 10-GB well-sized file to
      // merge two 1-MB neighbors was wasted IO and, worse, the old
      // one-file-per-tag coalesce made a hot tag a single multi-GB
      // single-task write and a read-parallelism floor. The rewrite
      // restages through [[stage]]'s size-budgeted rebalance, so an
      // oversized fragmented tag re-emerges as N target-sized files,
      // not one. Synthetic (converted) tags always rewrite: their tag
      // is a file id, not a partition value, so only a restage derives
      // the real tags and drops the marker. DV-bearing files always
      // rewrite too (their reads pay an anti-join until materialized).
      val size = scoped.map(e => e.rel -> entryBytes(table, e)).toMap
      val packableTags = scoped.groupBy(_.tag)
        .filter(_._2.count(e => size(e.rel) < targetFileBytes) > 1).keySet
      val rels = scoped.collect {
        case e if (packableTags.contains(e.tag) && size(e.rel) < targetFileBytes) ||
          e.props.contains(TagSyntheticProp) ||
          e.props.contains(DvRefProp) => e.rel
      }.toSet
      if (rels.isEmpty) currentVersion(table)
      else {
        // mergeSchema: a maintenance rewrite of an evolved slice must
        // carry the union schema or evolved columns are permanently
        // lost in the restage (review find — the same class the
        // mutation reads fixed)
        val df = readMergedWithIds(spark, table, version = v0,
            fileFilter = e => rels.contains(e.rel))
          .withColumnRenamed(RowIdCol, RidCol)
        val staged = withInternalRid(restageLike(spark, df, table, tagCol))
        if (staged.isEmpty && rels.size == all.size) return v0
        commitRewrite(table, v0, staged,
          remove = { case (rel, _) => rels.contains(rel) }, props = carried)
      }
    }
  }

  /** INCREMENTAL Z-ORDER maintenance (r16, the r15 verdict item — the
    * liquid-clustering shape): [[compact]]`(zorderBy)` re-clusters the
    * WHOLE scope, which at 100 TB re-writes petabytes to heal the one
    * day that COW rewrites fragmented. This form measures each tag's
    * clustering EROSION from manifest stats alone — zero data reads,
    * zero Spark jobs for the verdict — and re-clusters ONLY the tags
    * past the budget; every other tag's files carry BY NAME through
    * the commit (the [[compact]] `tagFilter` machinery).
    *
    * The erosion metric (r17 — the Morton-BOX form; see [[erodedTags]]):
    * a tag's files should TILE the clustered value space — fresh
    * clustering has Σ normalized box volumes ≈ 1 in any dimension
    * count; after unclustered appends/rewrites every file spans
    * everything and the score approaches the file count. A tag
    * re-clusters when the score exceeds `maxOverlap`, or when a file
    * lost its stats for a clustered column it has values in (the
    * rewrite restores them); always measured only for tags with ≥ 2
    * files. Returns (committed version, the re-clustered tags);
    * nothing eroded ⇒ no commit at all. */
  def reclusterEroded(spark: SparkSession, table: String, tagCol: String,
                      zorderBy: Seq[String], maxOverlap: Double = 2.0,
                      targetFileBytes: Long = DefaultTargetFileBytes)
      : (Long, Set[String]) = {
    require(zorderBy.nonEmpty, s"reclusterEroded($table): name the columns")
    require(maxOverlap >= 1.0,
      s"reclusterEroded($table): maxOverlap must be >= 1.0 (1.0 = " +
        s"perfectly tiled), got $maxOverlap")
    val eroded = erodedTags(table, zorderBy, maxOverlap)
    if (eroded.isEmpty) (currentVersion(table), Set.empty)
    else (compact(spark, table, tagCol, zorderBy = zorderBy,
      tagFilter = eroded, targetFileBytes = targetFileBytes,
      includeSynthetic = false), eroded)
  }

  /** Per-tag clustering-erosion verdicts from the manifest min/max
    * props — the zero-IO evidence behind [[reclusterEroded]].
    *
    * METRIC (r17, advisor find — measure on the interleaved Morton BOX,
    * not per column): each file's recorded bounds define a box in the
    * clustered dimensions; the erosion score is Σ over files of the
    * box's NORMALIZED VOLUME (Π over dims of width/span). A fresh
    * Morton layout TILES the space, so the score sits near 1 for ANY
    * file count and ANY dimension count — which is exactly what the
    * old per-column Σ width/span ratio lacked: a fresh d-dimensional
    * layout's F files legitimately overlap each single column at
    * ~F^((d-1)/d), so the flat per-column budget re-clustered healthy
    * multi-column tags on every run (the maintenance treadmill), while
    * a fully-degenerate tag (score ≈ F) hid inside any budget scaled
    * up to tolerate fresh layouts. The volume score separates the two
    * at every F: fresh ≈ 1 (boundary boxes overlap a little — the
    * default budget absorbs it), degenerate ≈ F. For d=1 the score IS
    * the old Σ width/span, so single-column semantics are unchanged.
    * A per-column guard rides alongside for degeneracy CONFINED to one
    * dimension (the time-ordered-append shape: narrow in time,
    * full-span in the other key — volume stays ≈ 1): a column whose
    * width sum exceeds `maxOverlap × F^((d-1)/d)` (the fresh d-dim
    * per-column expectation) is eroded on its own evidence.
    *
    * Dims with nothing to say are INERT: a zero-span column (single
    * value) and a column with <2 bounded files drop out of the score
    * entirely. A file all-NULL in a dim ([[footerStats]] records
    * `nulls == rows`, no bounds — no rewrite can mint stats for values
    * that don't exist) scores only over the dims it HAS bounds in, and
    * contributes NOTHING when that leaves no dims — its prunability is
    * fixed regardless of layout, so counting it would flag a healthy
    * tag forever. A file missing bounds for a column that ISN'T
    * all-NULL there is itself the erosion (nothing can prune it) — the
    * rewrite restores them. A tag where every dim is inert scores
    * nothing. */
  private[graft] def erodedTags(table: String, zorderBy: Seq[String],
                                maxOverlap: Double): Set[String] = {
    val phys = zorderBy.map(physicalName(table, _))
    val all = entriesAll(table)
    // all-NULL for column c: a recorded null count equal to the file's
    // recorded row count, and no bounds — the one absence a rewrite
    // cannot heal
    def allNull(e: Entry, c: String): Boolean =
      (for { n <- e.props.get(s"nulls.$c"); r <- e.props.get(RowsProp) }
        yield n == r && !e.props.contains(s"min.$c")).getOrElse(false)
    def boundsOf(e: Entry, c: String): Option[(Double, Double)] =
      for {
        mn <- e.props.get(s"min.$c").flatMap(_.toDoubleOption)
        mx <- e.props.get(s"max.$c").flatMap(_.toDoubleOption)
      } yield (mn, mx)
    // the volume metric needs NUMERIC bounds; a column with no numeric
    // stats anywhere (string-clustered, or never staged with stats)
    // would read as eroded on every call and re-cluster forever —
    // refuse loudly instead (a full compact(zorderBy) restores stats).
    // A column that is all-NULL in EVERY file passes the door (r17
    // review find: it has no bounds to record, it is inert below, and
    // the "compact once" remedy could never fix it — crashing every
    // scheduled maintenance run on a legal layout)
    phys.foreach { c =>
      require(all.exists(_.props.contains(s"min.$c")) ||
          (all.nonEmpty && all.forall(allNull(_, c))),
        s"reclusterEroded($table): no file records numeric min/max for " +
          s"'$c' — the erosion metric needs a numeric/date/timestamp " +
          "column with recorded stats; run compact(zorderBy) once first")
    }
    all.groupBy(_.tag).collect {
      case (tag, es) if es.size > 1 && {
        // restorable absence: bounds missing for a column the file
        // actually has values in — rewrite to re-derive stats
        val statsLost = es.exists(e =>
          phys.exists(c => !allNull(e, c) && boundsOf(e, c).isEmpty))
        statsLost || {
          // active dims: ≥2 bounded files and a positive span
          val dims = phys.flatMap { c =>
            val bs = es.flatMap(boundsOf(_, c))
            if (bs.size < 2) None
            else {
              val lo = bs.map(_._1).min
              val span = bs.map(_._2).max - lo
              if (span > 0) Some((c, span)) else None
            }
          }
          dims.nonEmpty && {
            // volume score: each file's box over the dims it HAS
            // bounds in; a file all-NULL in every active dim
            // contributes NOTHING — its prunability is fixed (range
            // predicates keep stats-less files regardless of layout),
            // so counting it as a full box would flag a healthy tag
            // forever (r17 second review pass)
            val vol = es.map { e =>
              val fs = dims.flatMap { case (c, span) =>
                boundsOf(e, c).map { case (mn, mx) => (mx - mn) / span } }
              if (fs.isEmpty) 0.0 else fs.product
            }.sum
            // per-column guard: degeneracy CONFINED to one dimension
            // hides inside a small volume product (time-ordered
            // appends: narrow in event_time, full-span in user_id —
            // volume ≈ 1/F each, score ≈ 1, yet user_id predicates
            // scan everything). A column whose width sum runs at ~F
            // where a fresh d-dim layout sits at F^((d-1)/d) is
            // eroded on its own evidence; the maxOverlap headroom
            // over the fresh expectation keeps healthy layouts out.
            val dEff = dims.size
            val colDegenerate = dims.exists { case (c, span) =>
              val ws = es.flatMap(boundsOf(_, c))
                .map { case (mn, mx) => (mx - mn) / span }
              ws.size >= 2 && {
                val fresh =
                  if (dEff <= 1) 1.0
                  else math.pow(ws.size.toDouble, (dEff - 1).toDouble / dEff)
                ws.sum > maxOverlap * fresh
              }
            }
            vol > maxOverlap || colDegenerate
          }
        }
      } => tag
    }.toSet
  }

  /** Exactly-once STREAMING sink: each micro-batch stages invisibly and
    * commits as snapshot version `batchId + 1` — [[commitPrepared]] is
    * a no-op for an already-committed identical version, so a replayed
    * batch (restart after a crash anywhere between stage and commit)
    * can never publish twice, and a reader sees each batch atomically
    * or not at all. Orphans from a replayed stage are vacuum fodder.
    * The sink must own the table (versions are batch-derived). Use with
    * `stream.writeStream.foreachBatch(Snapshots.batchCommitter(table,
    * tagCol))`. */
  def batchCommitter(table: String, tagCol: String)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    if (currentVersion(table) < batchId + 1 && !df.isEmpty) {
      val p = prepare(table, stage(df, table, tagCol))
      commitPrepared(p.copy(version = batchId + 1))
    }
  }

  // ---- cross-sink transaction (exactly-once dual write) --------------

  /** Commit TWO tables' prepared snapshots as one logical transaction.
    * The intent record (both manifest lists, durable BEFORE either
    * commit; the manifests themselves are already durable from
    * [[prepare]]) makes the pair recoverable: a crash between the two
    * commits leaves the intent on disk, and [[recoverPairs]] completes
    * the missing side — the sinks can lag, but they can never diverge.
    * This is what the reference's S3+BigQuery fan-out lacks (both
    * writes fire-and-forget). */
  def commitPair(txnDir: String, a: Prepared, b: Prepared): (Long, Long) = {
    val Seq(va, vb) = commitMany(txnDir, Seq(a, b))
    (va, vb)
  }

  /** [[commitPair]] generalized to N tables — one intent record, N
    * commits, same recovery contract: a crash after the intent is
    * durable leaves [[recoverPairs]] to complete every missing side
    * idempotently, so the sinks can lag but never diverge. Tables must
    * be distinct (committing one table twice in a transaction is a
    * version-ordering bug, not a fan-out). */
  def commitMany(txnDir: String, ps: Seq[Prepared]): Seq[Long] = {
    require(ps.nonEmpty, "commitMany: at least one prepared snapshot")
    require(ps.map(_.table).distinct.size == ps.size,
      s"commitMany: duplicate table in ${ps.map(_.table).mkString(", ")} — " +
        "a multi-version commit to one table must be sequenced, not fanned out")
    // inheritance (schema.* props) is resolved EAGERLY into the intent
    // record and the commits run with inherit=false: recovery must
    // re-publish byte-identical snapshots, and late resolution against
    // whatever is current AT RECOVERY TIME would diverge if other
    // commits landed in between — turning an idempotent re-commit into
    // a spurious conflict
    val rs = ps.map(resolveInherited)
    val intent = writeIntent(txnDir, rs)
    val vs = rs.map(commitPrepared(_, inherit = false))
    intent.delete()
    vs
  }

  /** Fold the would-be-inherited props of `p.table`'s CURRENT version
    * into `p.props` (explicit props win), so the Prepared is
    * commit-deterministic with `inherit = false`. */
  private def resolveInherited(p: Prepared): Prepared =
    p.copy(props = snapshotProps(p.table, currentVersion(p.table))
      .filter { case (k, _) => InheritedPropPrefixes.exists(k.startsWith) } ++ p.props)

  /** Durable intent record, written atomically BEFORE any commit
    * (split out so the spec can simulate a crash between commits and
    * prove [[recoverPairs]] converges the set). */
  private[graft] def writeIntent(txnDir: String, ps: Seq[Prepared]): File = {
    val dir = new File(txnDir)
    dir.mkdirs()
    val intent = new File(dir, s"txn-${java.util.UUID.randomUUID}.intent")
    val tmp = new File(dir, intent.getName + ".tmp")
    writeDurable(tmp, serialize(ps).getBytes(UTF_8))
    Files.move(tmp.toPath, intent.toPath, StandardCopyOption.ATOMIC_MOVE)
    intent
  }

  /** Two-record compatibility overload (pre-r11 spec call shape). */
  private[graft] def writeIntent(txnDir: String, a: Prepared, b: Prepared): File =
    writeIntent(txnDir, Seq(a, b))

  /** Complete every interrupted [[commitPair]] under `txnDir`:
    * re-commit both sides (idempotent — already-committed identical
    * versions are skipped) and clear the intent. Run at writer
    * startup. */
  def recoverPairs(txnDir: String): Int = {
    val intents = Option(new File(txnDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".intent"))
    intents.foreach { f =>
      // the intent carries fully-resolved props (commitMany resolved
      // inheritance before writing it) — inherit=false reproduces the
      // exact bytes regardless of what committed since
      deserialize(new String(Files.readAllBytes(f.toPath), UTF_8))
        .foreach(commitPrepared(_, inherit = false))
      f.delete()
    }
    intents.size
  }

  // intent framing: table, version, manifest names (no '='), then
  // 'k=v' prop entries — manifest names never contain '=', so the
  // partition below is unambiguous. Props must survive the intent
  // record: a set recovered after a crash has to publish the SAME
  // snapshot bytes as the normal path (bookkeeping like mv.applied
  // rides them), or idempotent re-commit detection would even reject
  // the recovery as a conflicting commit.
  private def serialize(ps: Seq[Prepared]): String =
    ps.map { p =>
      (Seq(p.table, p.version.toString) ++ p.manifests ++
        p.props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }).mkString("\u0001")
    }.mkString("\u0002")

  private def deserialize(s: String): Seq[Prepared] =
    s.split("\u0002").toSeq.map { x =>
      val parts = x.split("\u0001").toSeq
      val (props, mfs) = parts.drop(2).partition(_.contains("="))
      Prepared(parts.head, parts(1).toLong, mfs,
        props.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
    }
}
