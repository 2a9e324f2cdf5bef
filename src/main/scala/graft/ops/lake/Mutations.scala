package graft.ops.lake

import java.util.Locale

import graft.engine.{Exact, Graft, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ROW-LEVEL MUTATIONS over the snapshot log — the three moves that turn
  * the [[Snapshots]] commit kernel into a usable table format, each the
  * published Delta/Iceberg shape reduced to its load-bearing mechanics:
  *
  *   - s31 [[mergeInto]]: MERGE INTO with copy-on-write — upsert a
  *     source batch keyed by one column; only data files that actually
  *     CONTAIN a matched key are rewritten (discovered by per-file
  *     key-range stats, then an exact key join), everything else is
  *     carried by manifest name. Rewrite IO follows the UPDATE's
  *     footprint, not the table size — the difference between "rewrite
  *     3 files" and "rewrite 100 TB" for a 0.1% correction batch.
  *   - s32 [[deleteWhere]] + [[readMerged]]: DELETE with merge-on-read
  *     deletion vectors — matching row POSITIONS are recorded in a
  *     sidecar (per-file ordinal lists, the Delta DV / Iceberg position
  *     delete shape) and the data files are NOT touched; readers
  *     anti-join the (file, position) pairs back out. A delete of 100
  *     rows from a 1 TB table costs one sidecar write instead of a
  *     terabyte rewrite; compaction (or a later COW pass) reclaims the
  *     read-side anti-join when DVs accumulate.
  *   - s33 [[refreshCountSum]]: INCREMENTAL VIEW MAINTENANCE over the
  *     change data feed — a per-tag (count, exact sum) aggregate table
  *     maintained by folding only the CHANGED files' delta (inserts
  *     positive, deletes negative — the abelian-group trick every IVM
  *     paper builds on), rewriting only the tags the delta touched. The
  *     refresh pays O(changed files) + O(touched tags), never a full
  *     recompute.
  *
  * The reference mutates state only by full-prefix overwrite
  * (`ingest_binance_last_3_days.py:141-144`) and recomputes aggregates
  * from scratch per dbt run (`fact_trades.sql`); none of these shapes
  * exist there.
  */
object Mutations {

  /** Candidate-file filter from the SOURCE batch's key bounds — the
    * stats-prune every keyed mutation (MERGE, CDC apply) runs before
    * its exact key join, dispatched on the KEY TYPE so each family
    * compares in its own stats space:
    *
    *   - numeric keys → `min./max.` double stats (value = internal);
    *   - STRING keys → `smin./smax.` stats in unsigned-UTF-8 order
    *     (Spark's own string ordering is binary, so the agg's min/max
    *     are directly comparable) — previously string keys forfeited
    *     the prune entirely, a full footer-candidate scan per catch-up
    *     on exactly the doc_id-keyed corpora the LLM pipeline mirrors;
    *   - DATE / TIMESTAMP keys → the CATALYST INTERNAL values (epoch
    *     days / epoch micros) to match what the footer stats record —
    *     the naive `cast(ts as double)` yields SECONDS against
    *     micros-valued stats, which doesn't just forfeit the prune, it
    *     prunes files that CONTAIN matching keys (silent row loss);
    *   - anything else (or an all-NULL key batch) keeps every
    *     candidate — forfeiting is always sound, mis-pruning never is.
    */
  private[graft] def keyBoundsCandidates(source: DataFrame, table: String,
                                         keyCol: String): Snapshots.Entry => Boolean = {
    import org.apache.spark.sql.types._
    val phys = Snapshots.physicalName(table, keyCol)
    def numericBounds(e: Column): Snapshots.Entry => Boolean = {
      val b = source.agg(min(e).cast(DoubleType), max(e).cast(DoubleType)).head()
      if (b.isNullAt(0) || b.isNullAt(1)) _ => true
      else Snapshots.rangeOverlap(phys, b.getDouble(0), b.getDouble(1))
    }
    source.schema.fields.find(_.name.equalsIgnoreCase(keyCol)).map(_.dataType) match {
      case Some(StringType) =>
        val b = source.agg(min(col(keyCol)), max(col(keyCol))).head()
        if (b.isNullAt(0) || b.isNullAt(1)) _ => true
        else Snapshots.rangeOverlapString(phys,
          Some(b.getString(0)), Some(b.getString(1)))
      case Some(_: NumericType) => numericBounds(col(keyCol))
      case Some(DateType) => numericBounds(unix_date(col(keyCol)))
      case Some(TimestampType) => numericBounds(unix_micros(col(keyCol)))
      case _ => _ => true
    }
  }

  /** [[keyBoundsCandidates]] intersected across ALL equi-key columns
    * (r13): a file is a touch candidate only when EVERY key column's
    * per-file stats overlap the source's bounds for that column — each
    * conjunct is independently sound (a matching row must agree on
    * every key, so a file whose range excludes ANY key's band holds no
    * match), so the intersection is too. The pre-r13 lead-key-only
    * prune forfeited a selective trailing key whenever the leading key
    * was broad (r12 verdict find). Cost: one tiny bounds agg per key
    * column; columns without per-file stats contribute keep-all. */
  private[graft] def keyBoundsCandidatesAll(source: DataFrame, table: String,
      keyCols: Seq[String]): Snapshots.Entry => Boolean = {
    val preds = keyCols.map(keyBoundsCandidates(source, table, _))
    e => preds.forall(_(e))
  }

  /** MERGE INTO (copy-on-write): upsert `source` into the live snapshot
    * of `table`, matching on `keyCol` — each matched target row is
    * REPLACED by its source row, unmatched source rows are INSERTED.
    * `source` must carry the table's exact schema; keys must be unique
    * on both sides (the usual MERGE precondition).
    *
    * Only data files CONTAINING a matched key are rewritten:
    *   1. candidate files are pruned by per-file `keyCol` min/max stats
    *      (when staged with [[Snapshots.stageWithStats]]) against the
    *      source's key range — one tiny agg, no table scan;
    *   2. the exact touched set comes from a key-column-only scan of
    *      the candidates joined to the source keys, collecting FILE
    *      NAMES — driver state is O(files touched), the same bound
    *      Delta's MERGE accepts;
    *   3. survivors of touched files + all source rows restage, and one
    *      atomic commit swaps them in (untouched manifests reused by
    *      name). A source with no matches degenerates to a pure
    *      append-only commit: zero files rewritten.
    *
    * Readers concurrent with the merge see old XOR new, like every
    * commit here. Returns the committed version (unchanged if `source`
    * is empty). */
  /** With `evolveSchema = true` (the Delta `autoMerge` shape) the
    * source may carry NEW columns: survivors of touched files NULL-fill
    * them (`unionByName(allowMissingColumns)`), rewritten/inserted
    * files carry the evolved schema, untouched files keep theirs — read
    * the table with `mergeSchema = true` afterwards (the s11
    * discipline). Default (false) keeps the exact-schema contract. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
                keyCol: String, tagCol: String,
                evolveSchema: Boolean = false): Long = {
    if (source.isEmpty) return Snapshots.currentVersion(table)
    // pinned read-modify-write: reads, replaced-entry set, and commit
    // base all reference v0, and commitRewrite conflicts if a racer
    // touched any replaced entry — an unpinned prepare would silently
    // re-add files a concurrent compact already rewrote (see the
    // compact-vs-delete race spec)
    val v0 = Snapshots.currentVersion(table)
    // stats pruning by the source's key bounds, typed per key family
    // (numeric/string/date/timestamp — see [[keyBoundsCandidates]]);
    // an un-prunable key type or all-NULL batch keeps all candidates
    val candidates = keyBoundsCandidates(source, table, keyCol)
    val srcKeys = source.select(col(keyCol)).distinct()
    // every read below is mergeSchema = true: on a column-evolved table
    // a plain read pins one footer's schema, and a rewrite through it
    // would silently DROP evolved columns from the restaged files
    // (review find) — the merged union NULL-fills instead and the
    // rewrite converges files onto the full schema
    val touchedIds = Snapshots.readVersion(spark, table, v0,
        fileFilter = candidates, mergeSchema = true)
      .select(col(keyCol), Snapshots.fileIdCol(input_file_name()).as("__f"))
      .join(srcKeys, keyCol)
      .select(col("__f"))
      .distinct().collect().map(_.getString(0)).toSet
    val touchedRels = Snapshots.entriesAt(table, v0)
      .collect { case e if touchedIds(Snapshots.fileId(e.rel)) => e.rel }.toSet
    // survivors come from the MERGED read of the touched files: a file
    // carrying a deletion vector must not have its deleted rows
    // resurrected by the rewrite (the rewrite MATERIALIZES the vector —
    // rewritten entries carry no dv reference). Caught by the random
    // mutation-model spec.
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val replaced =
      if (touchedRels.isEmpty) source
      else {
        // touched rows read WITH their stable row ids and restaged
        // materialized (the hidden __rid column) — an unchanged row
        // keeps its identity across the rewrite, a MATCHED row passes
        // its identity to the source row that replaces it (MERGE
        // updates a row, it doesn't delete-and-recreate it), and
        // unmatched source rows NULL-fill the column to mint virtual
        // ids from the new file's base
        // persisted: the touched slice feeds BOTH the survivor
        // anti-join and the matched-row id join — unpersisted, the
        // touched files' parquet scan + DV anti-join runs twice per
        // merge (r12 review find); released after the commit below
        val touchedRows = Snapshots.readMergedWithIds(spark, table, version = v0,
            fileFilter = e => touchedRels.contains(e.rel))
          .withColumnRenamed(Snapshots.RowIdCol, Snapshots.RidCol)
          .persist()
        caches += touchedRows
        val survivors = touchedRows
          .join(srcKeys, Seq(keyCol), "left_anti") // survivors sharing touched files
        // source columns NOT in the target union stay gated by
        // evolveSchema (the exact-schema contract); a source NARROWER
        // than the evolved union always NULL-fills — the survivors now
        // carry the union schema, and refusing a pre-evolution-shaped
        // source would break every caller the moment one evolved file
        // lands (review find)
        // CASE-INSENSITIVE diff, matching Spark's own resolution (and
        // the explicit-INSERT path's Locale.ROOT normalization) — an
        // exact-case compare rejected merges Spark itself resolves
        // (r10 advisor find)
        val survLc = survivors.columns
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val extra = source.columns
          .filterNot(c => survLc.contains(c.toLowerCase(java.util.Locale.ROOT)))
        require(extra.isEmpty || evolveSchema,
          s"mergeInto($table): source carries unknown column(s) " +
            s"${extra.mkString(", ")} — pass evolveSchema = true to add them")
        // rid lookup grouped per key: unique keys are the documented
        // MERGE precondition, and a target that VIOLATES it FAILS
        // LOUDLY here (r14, advisor find) — the r13 shape silently
        // collapsed the whole duplicate block into one source row
        // (cardinality 2 → 1), which is silent data loss dressed as a
        // dedup; Delta MERGE would update every matched row, the r12
        // shape multiplied source rows — neither is what the caller
        // declared, so the only honest answer is the same loud
        // ambiguity error the other guards throw. The count rides the
        // SAME grouped agg (one extra column, no extra job); the min()
        // stays the representative-id pick so a replayed merge on a
        // LEGITIMATE target assigns identical lineage ids (r13 review
        // find).
        // the guard is applied AFTER the join, not inside the grouped
        // lookup: a duplicate key among SURVIVOR rows sharing a touched
        // file is not matched by this merge (survivors pass through
        // verbatim) and must not fail it — only a key the source
        // actually replaces is ambiguous
        val ridByKey = touchedRows.groupBy(col(keyCol))
          .agg(min(col(Snapshots.RidCol)).as(Snapshots.RidCol),
            count(lit(1)).as("__dupn"))
        val srcWithIds = source.join(ridByKey, Seq(keyCol), "left")
          .withColumn(Snapshots.RidCol,
            when(col("__dupn") > 1, raise_error(concat(
              lit(s"mergeInto($table): target key "),
              col(keyCol).cast("string"),
              lit(" appears "), col("__dupn").cast("string"),
              lit(" times — MERGE requires unique target keys; " +
                "deduplicate the target (or merge on a composite key) " +
                "before merging"))))
              .otherwise(col(Snapshots.RidCol)))
          .drop("__dupn")
        survivors.unionByName(srcWithIds, allowMissingColumns = true)
      }
    try Snapshots.commitRewrite(table, v0,
      Snapshots.withInternalRid(Snapshots.restageLike(spark, replaced, table, tagCol)),
      remove = e => touchedRels.contains(e._1))
    finally caches.foreach(_.unpersist(blocking = false))
  }


  /** MERGE INTO with CONDITIONAL CLAUSES — the Delta/SQL:2003 MERGE
    * surface generalizing [[mergeInto]]'s unconditional
    * replace-or-insert (ref-analog: `fact_trades.sql:1-11`'s unique-key
    * upsert, which supports none of these forms):
    *
    *   WHEN MATCHED [AND deleteCond] THEN DELETE
    *   WHEN MATCHED [AND updateCond] THEN UPDATE SET col = expr, …
    *   WHEN NOT MATCHED [AND insertCond] THEN INSERT *
    *
    * Matched-clause conditions and update expressions may reference
    * BOTH sides through the fixed aliases `t` (target) and `s` (source)
    * — e.g. `col("s.value") > col("t.value")`; `insertCond` sees the
    * bare SOURCE columns. For rows matching several clauses, DELETE is
    * evaluated before UPDATE (fixed order, unlike Delta's declaration
    * order — documented contract). Matched-ness is decided against the
    * MERGED state: a key surviving only in DV-deleted rows does NOT
    * match, so its source row inserts.
    *
    * File discipline is [[mergeInto]]'s: candidate files prune by
    * per-file key stats, only files CONTAINING a matched key rewrite
    * (survivor rows kept verbatim, prior vectors materialized — never
    * resurrected), inserts append, one atomic commit carries untouched
    * manifests by name. With no matched clause the merge degenerates to
    * a filtered-insert append and rewrites nothing. Keys must be unique
    * and non-null on both sides (the MERGE precondition). Returns the
    * committed version (unchanged on a no-op). */
  def mergeIntoClauses(spark: SparkSession, table: String, source: DataFrame,
                       keyCol: String, tagCol: String,
                       whenMatchedDelete: Option[Column] = None,
                       whenMatchedUpdate: Option[(Column, Map[String, Column])] = None,
                       whenNotMatchedInsert: Option[Column] = None,
                       props: Map[String, String] = Map.empty): Long =
    mergeIntoKeys(spark, table, source, Seq(keyCol), tagCol,
      whenMatchedDelete, whenMatchedUpdate, whenNotMatchedInsert,
      props = props)

  /** [[mergeIntoClauses]] generalized to a COMPOSITE key (multi-conjunct
    * `ON t.a = s.a AND t.b = s.b` — every conjunct an equi-condition on
    * a shared column name) and an EXPLICIT INSERT projection
    * (`INSERT (cols) VALUES (exprs)`): `insertSelect` maps target
    * column names to expressions over the bare source frame; unnamed
    * target columns NULL-fill, values cast to the target type — the
    * Delta explicit-column form. Empty `insertSelect` keeps `INSERT *`
    * by-name binding. File pruning intersects EVERY key column's
    * per-file stats (r13 — each bound is independently sound, see
    * [[keyBoundsCandidatesAll]]); matching joins on all keys, so a row
    * agreeing on one key but not another is NOT matched and its source
    * row inserts, per SQL MERGE.
    *
    * `whenNotMatchedBySource{Delete,Update}` complete the Delta trio:
    * they fire on TARGET rows with no source match (the sync idiom —
    * "make this slice of the table look like the source"). Their
    * conditions reference target columns through the `t` alias
    * (source columns are NULL on unmatched rows, so an `s.`-referencing
    * condition is null → clause does not fire, per SQL). Discovery
    * costs one extra key+condition scan of the WHOLE table (the clause
    * semantics quantify over every target row — scope with an AND
    * condition, the documented Delta discipline), but only files
    * CONTAINING an affected row rewrite. */
  /** `evolveColumns` (the Delta autoMerge shape, EXPLICIT form): fields
    * appended to the target schema for this merge — every projection
    * (rewrite, INSERT *) emits them, target rows NULL-fill, SET/insert
    * expressions may reference them. Explicit rather than
    * source-minus-target because callers ride marker columns on the
    * source frame that must NOT become table columns
    * ([[ChangeApply]]'s `__cdc_del`). Fields already on the target are
    * ignored. */
  def mergeIntoKeys(spark: SparkSession, table: String, source: DataFrame,
                    keyCols: Seq[String], tagCol: String,
                    whenMatchedDelete: Option[Column] = None,
                    whenMatchedUpdate: Option[(Column, Map[String, Column])] = None,
                    whenNotMatchedInsert: Option[Column] = None,
                    insertSelect: Map[String, Column] = Map.empty,
                    whenNotMatchedBySourceDelete: Option[Column] = None,
                    whenNotMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
                    props: Map[String, String] = Map.empty,
                    evolveColumns: Seq[org.apache.spark.sql.types.StructField] = Seq.empty)
                    : Long = {
    require(keyCols.nonEmpty, s"mergeIntoKeys($table): at least one key column")
    val keyCol = keyCols.head
    val hasBySource = whenNotMatchedBySourceDelete.nonEmpty ||
      whenNotMatchedBySourceUpdate.nonEmpty
    // an empty source still drives BY SOURCE clauses (every target row
    // is unmatched then — the sync semantics); without them it's a no-op
    if (source.isEmpty && !hasBySource) return Snapshots.currentVersion(table)
    // pinned read-modify-write (see mergeInto): v0 anchors every read,
    // the replaced-entry set, and the conflict-checked commit
    val v0 = Snapshots.currentVersion(table)
    // typed key-bounds prune intersected over EVERY key column (r13 —
    // see [[keyBoundsCandidatesAll]]): a broad leading key no longer
    // forfeits a selective trailing key's stats
    val candidates = keyBoundsCandidatesAll(source, table, keyCols)
    val srcKeys = source.select(keyCols.map(col): _*).distinct().persist()
    try {
      // mergeSchema everywhere (see mergeInto) — evolved columns must
      // survive the rewrite, and conditions may reference them.
      // `evolveColumns` extend the OUTPUT schema: target rows NULL-fill
      // them, so committing the rewritten/inserted files evolves the
      // table (the same footer-union mechanics as a widening append)
      val tSchema0 = Snapshots.readVersion(spark, table, v0,
        mergeSchema = true).schema
      val tSchema = org.apache.spark.sql.types.StructType(
        tSchema0.fields ++ evolveColumns.filterNot(f =>
          tSchema0.fieldNames.exists(_.equalsIgnoreCase(f.name))))
      val tCols = tSchema.fieldNames
      // matched keys against the MERGED candidates (vector-deleted rows
      // excluded) decide inserts; stats-pruned files can't contain a
      // source key, so the candidate scan is complete
      val matchedKeys = readMerged(spark, table, version = v0,
          fileFilter = candidates, mergeSchema = true)
        .select(keyCols.map(col): _*)
        .join(srcKeys, keyCols, "left_semi").distinct().persist()
      try {
        val hasMatchedClause =
          whenMatchedDelete.nonEmpty || whenMatchedUpdate.nonEmpty
        // touched-file discovery on the RAW candidate scan (file ids need
        // _metadata; over-touching a file whose only match is
        // DV-deleted is harmless — its survivors restage verbatim)
        val matchTouchedIds: Set[String] =
          if (!hasMatchedClause) Set.empty
          else Snapshots.readVersion(spark, table, v0,
              fileFilter = candidates, mergeSchema = true)
            .select(keyCols.map(col) :+
              Snapshots.fileIdCol(input_file_name()).as("__f"): _*)
            .join(srcKeys, keyCols, "left_semi")
            .select("__f").distinct().collect().map(_.getString(0)).toSet
        // BY SOURCE discovery quantifies over EVERY target row (that is
        // the clause's meaning) but still rewrites only files CONTAINING
        // an affected row: one key+condition scan, anti-joined to the
        // source keys, conditions evaluated under the `t` alias (null
        // condition → clause does not fire, SQL MERGE)
        val bySrcTouchedIds: Set[String] =
          if (!hasBySource) Set.empty
          else {
            val fire = Seq(whenNotMatchedBySourceDelete,
                whenNotMatchedBySourceUpdate.map(_._1)).flatten
              .map(c => coalesce(c, lit(false))).reduce(_ || _)
            val base = Snapshots.readVersion(spark, table, v0, mergeSchema = true)
              .withColumn("__f", Snapshots.fileIdCol(input_file_name()))
              .alias("t")
              .join(srcKeys, keyCols, "left_anti")
            // a condition referencing `s.` columns (legal SQL: NULL on
            // by-source rows, clause never fires) cannot resolve in
            // this source-free discovery scan — over-touch every
            // unmatched-row file instead (harmless: survivors restage
            // verbatim, the rewrite's joined frame applies the exact
            // semantics) rather than failing the statement (review
            // find)
            val ids =
              try base.filter(fire).select("__f").distinct().collect()
              catch {
                case _: org.apache.spark.sql.AnalysisException =>
                  base.select("__f").distinct().collect()
              }
            ids.map(_.getString(0)).toSet
          }
        val touchedRels: Set[String] = {
          val ids = matchTouchedIds ++ bySrcTouchedIds
          Snapshots.entriesAt(table, v0)
            .collect { case e if ids(Snapshots.fileId(e.rel)) => e.rel }.toSet
        }
        val rewritten: Option[DataFrame] =
          if (touchedRels.isEmpty) None
          else {
            // ids ride the rewrite (materialized __rid — see mergeInto):
            // updated rows KEEP their identity, deleted rows retire it
            val tgt = Snapshots.readMergedWithIds(spark, table, version = v0,
                fileFilter = e => touchedRels.contains(e.rel))
              .withColumnRenamed(Snapshots.RowIdCol, Snapshots.RidCol)
            val joined = tgt.alias("t").join(
              source.withColumn("__m", lit(true)).alias("s"),
              keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
              "left_outer")
            val matched = col("s.__m").isNotNull
            // null-valued conditions don't fire the clause (SQL MERGE)
            val delPred = whenMatchedDelete
              .map(c => matched && coalesce(c, lit(false))).getOrElse(lit(false))
            val updPred = whenMatchedUpdate
              .map { case (c, _) => matched && coalesce(c, lit(false)) }
              .getOrElse(lit(false))
            val bsDelPred = whenNotMatchedBySourceDelete
              .map(c => !matched && coalesce(c, lit(false))).getOrElse(lit(false))
            val bsUpdPred = whenNotMatchedBySourceUpdate
              .map { case (c, _) => !matched && coalesce(c, lit(false)) }
              .getOrElse(lit(false))
            // SET maps keyed CASE-INSENSITIVELY (Locale.ROOT — the same
            // normalization the explicit-INSERT validation uses): Spark
            // resolution is case-insensitive, so `SET Value = …` must
            // both validate AND apply against a target column `value`
            // (r10 advisor find — the exact-case diff threw a spurious
            // unknown-column error, and an exact-case application would
            // have been worse: silently not applying the SET)
            def lc(m: Map[String, Column]): Map[String, Column] = {
              val lowered =
                m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
              // two SET keys differing only in case target ONE column —
              // the duplicate-assignment analysis error, not a silent
              // arbitrary winner (r11 review find)
              require(lowered.size == m.size,
                s"mergeIntoClauses($table): duplicate SET assignments " +
                  s"(case-insensitive) among ${m.keys.mkString(", ")}")
              lowered
            }
            val updSet = lc(whenMatchedUpdate.map(_._2).getOrElse(Map.empty))
            val bsSet = lc(whenNotMatchedBySourceUpdate.map(_._2).getOrElse(Map.empty))
            // a SET column that is not a target column would otherwise
            // be silently skipped — the SQL MERGE analysis-error
            // contract, not a silent no-op (r9 review find)
            val tColsLc = tCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
            val unknown = (updSet.keySet ++ bsSet.keySet).diff(tColsLc)
            require(unknown.isEmpty,
              s"mergeIntoClauses($table): UPDATE SET names unknown column(s) " +
                s"${unknown.mkString(", ")} (table has ${tCols.mkString(", ")})")
            // matched/by-source predicates are disjoint (a row is one or
            // the other), so the two SETs stack as independent whens.
            // A union-schema column the TOUCHED SLICE lacks (evolution
            // landed elsewhere) NULL-fills — referencing t.<col> there
            // would not resolve (model-spec find)
            val tgtCols = tgt.columns.toSet
            Some(joined.filter(!delPred && !bsDelPred).select(tCols.toSeq.map { c =>
              val cLc = c.toLowerCase(java.util.Locale.ROOT)
              var e = if (tgtCols.contains(c)) col(s"t.$c")
                      else lit(null).cast(tSchema(c).dataType)
              if (bsSet.contains(cLc)) e = when(bsUpdPred, bsSet(cLc)).otherwise(e)
              if (updSet.contains(cLc)) e = when(updPred, updSet(cLc)).otherwise(e)
              e.as(c)
            } :+ col(s"t.${Snapshots.RidCol}").as(Snapshots.RidCol): _*))
          }
        val inserts: Option[DataFrame] = whenNotMatchedInsert.map { cond =>
          val unmatched = source.join(matchedKeys, keyCols, "left_anti")
            .filter(coalesce(cond, lit(false)))
          // INSERT *: bind by name; union-schema columns the SOURCE
          // lacks NULL-fill (a pre-evolution-shaped source must merge
          // into an evolved table — model-spec find)
          if (insertSelect.isEmpty) {
            val srcCols = unmatched.columns.toSet
            unmatched.select(tSchema.map { f =>
              (if (srcCols.contains(f.name)) col(f.name).cast(f.dataType)
               else lit(null).cast(f.dataType)).as(f.name)
            }: _*)
          } else {
            // explicit-column INSERT: named targets take their VALUES
            // expression (cast to the target type — a bare literal's
            // inferred type must not wedge a mis-typed file in), the
            // rest NULL-fill; unknown names are the SQL analysis error
            val schema = tSchema
            val byName = insertSelect.map { case (k, v) =>
              k.toLowerCase(Locale.ROOT) -> v }
            val unknownIns = byName.keySet.diff(
              tCols.map(_.toLowerCase(Locale.ROOT)).toSet)
            require(unknownIns.isEmpty,
              s"mergeIntoKeys($table): INSERT names unknown column(s) " +
                s"${unknownIns.mkString(", ")} (table has ${tCols.mkString(", ")})")
            unmatched.select(schema.map { f =>
              byName.get(f.name.toLowerCase(Locale.ROOT))
                .map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType)).as(f.name)
            }: _*)
          }
        }
        val pieces = rewritten.toSeq ++ inserts.toSeq
        if (pieces.isEmpty) return Snapshots.currentVersion(table)
        // allowMissingColumns: the rewritten side carries __rid (row
        // tracking), inserted rows NULL-fill it (fresh identity)
        val replaced = pieces.reduce(_.unionByName(_, allowMissingColumns = true))
        // no touched files AND an empty filtered insert set: avoid an
        // empty commit (mirrors the other ops' no-op contract)
        if (touchedRels.isEmpty && replaced.isEmpty)
          return Snapshots.currentVersion(table)
        val staged =
          Snapshots.withInternalRid(Snapshots.restageLike(spark, replaced, table, tagCol))
        // a delete clause that empties EVERY file would commit a
        // zero-file snapshot — unreadable by the format's documented
        // limitation — and BRICK the live table; refuse BEFORE the
        // commit (staged files are invisible, nothing has mutated) and
        // point at the supported paths (r9 review find)
        require(staged.nonEmpty ||
            touchedRels.size < Snapshots.entriesAt(table, v0).size,
          s"mergeIntoClauses($table): the delete clause removes every row " +
            "of every file — a zero-file snapshot cannot be read back; " +
            "use deleteWhere (vectors keep the table readable as empty) " +
            "or drop and recreate the table")
        // `props` ride THIS commit (co-atomic with the merge's data —
        // the [[ChangeApply]] exactly-once bookkeeping depends on it)
        Snapshots.commitRewrite(table, v0, staged,
          remove = e => touchedRels.contains(e._1), props = props)
      } finally matchedKeys.unpersist()
    } finally srcKeys.unpersist()
  }

  /** Reserved manifest property: table-relative dir of the entry's
    * deletion-vector sidecar (kernel-owned — [[Snapshots.vacuum]]
    * retains referenced sidecars, [[Snapshots.changes]] diffs vectors,
    * [[Snapshots.readMerged]] applies them). */
  private val DvProp = Snapshots.DvRefProp

  /** DELETE with merge-on-read DELETION VECTORS: rows of the live
    * snapshot matching `predicate` are deleted by recording their
    * per-file POSITIONS (parquet row ordinals via `_metadata.row_index`)
    * in an immutable sidecar under `dv/` — no data file is rewritten.
    * The commit replaces each touched file's manifest ENTRY with one
    * carrying a `dv=<sidecarDir>` property (same data file, new
    * metadata — O(touched) manifest IO); a file deleted from twice has
    * its previous vector FOLDED into the new sidecar, so the newest
    * entry's vector is always the complete one. Time travel still
    * works: older snapshots reference the older entries (fewer or no
    * DVs) and [[readMerged]] applies exactly the vectors that version
    * committed.
    *
    * Positions ride the sidecar as plain (file, position) parquet rows
    * — at Delta/Iceberg scale these become roaring bitmaps, which
    * changes the encoding, not the protocol. The sidecar write is
    * SHARDED by file id (up to 256 hash shards), so a wide delete's
    * positions never funnel through one task — the r8 `repartition(1)`
    * would have pushed ~10⁹ positions through a single task and a
    * single output file for a 1%-of-100 TB predicate.
    *
    * COW CROSSOVER: merge-on-read pays an anti-join against the sidecar
    * on EVERY subsequent read, which is the right trade only while the
    * vector stays small relative to its files. When the folded vector
    * would exceed `cowThreshold` of the touched files' rows (footer
    * row counts — metadata IO only) AND `cowTagCol` names the table's
    * tag column, the delete routes to the copy-on-write path instead:
    * touched files rewrite without the matched rows (prior vectors
    * materialized too, same no-resurrection rule as [[mergeInto]]) and
    * no sidecar is written. The 0.3 default mirrors the
    * "DVs are for small deletes" design point Delta ships; callers who
    * cannot name the tag column keep pure MOR (bounded per-write by the
    * sharding, reclaimable via [[reorgIfNeeded]]/[[purgeVectors]]).
    *
    * Readers must use [[readMerged]]; [[Snapshots.read]] is the
    * raw-file read and does not apply vectors. Returns the committed
    * version (unchanged when nothing matches). */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column,
                  tagFilter: String => Boolean = _ => true,
                  fileFilter: Snapshots.Entry => Boolean = _ => true,
                  cowTagCol: Option[String] = None,
                  cowThreshold: Double = 0.3): Long = {
    // pinned read-modify-write (see mergeInto): v0 anchors the match
    // scan, the touched-entry set, and the conflict-checked commit — a
    // concurrent compact rewriting a touched file must conflict, not
    // have its output silently joined by re-added pre-compact entries
    val v0 = Snapshots.currentVersion(table)
    val entries = Snapshots.entriesAt(table, v0)
    val byId = entries.map(e => Snapshots.fileId(e.rel) -> e).toMap
    // tag/file filters bound the MATCH SCAN, not the semantics: pass the
    // predicate's pruning twin (rangeOverlap/mightContainLong/tag set)
    // and the scan touches only files that could contain a match — the
    // same skipping a 100 TB DELETE lives or dies by. Files the filters
    // skip are (correctly) never probed; the caller owns the filters'
    // soundness w.r.t. the predicate.
    // persisted: the match scan feeds BOTH the touched-file collect and
    // the sidecar write (or COW anti-join) — unpersisted, the full
    // predicate scan would execute twice
    // mergeSchema: the predicate may reference an evolved column a
    // first-footer-pinned plain read would not resolve (review find)
    val matched = Snapshots.readVersion(spark, table, v0, tagFilter, fileFilter,
        mergeSchema = true, metadataSafe = true)
      .withColumn("__fid", Snapshots.fileIdCol(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(predicate)
      .select("__fid", "__pos")
      .persist()
    try {
    val touchedIds = matched.select("__fid").distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedIds.isEmpty) return Snapshots.currentVersion(table)
    val prior = touchedIds.flatMap(n => byId(n).props.get(DvProp))
    // prior-vector fold restricted by broadcast semi-join, not a literal
    // isin: a wide MOR delete can touch 10⁵⁺ files, and an isin of that
    // many literals is an expression tree that stresses the planner long
    // before the data does (r9 verdict note)
    val all = prior.foldLeft(matched) { (acc, dvRel) =>
      acc.unionByName(Snapshots.restrictToIds(spark,
        spark.read.parquet(s"$table/$dvRel"), touchedIds.toSeq))
    }.distinct().persist()
    try {
    val touchedRels = entries
      .collect { case e if touchedIds(Snapshots.fileId(e.rel)) => e.rel }
    // per-file cardinality of the FOLDED vector — O(touched files) of
    // driver rows; feeds both the crossover check and the dv.rows
    // props the MOR commit records (so DESCRIBE DETAIL and the reorg
    // trigger answer from the manifest, no re-count)
    val perFid: Map[String, Long] = all.groupBy("__fid").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cowCommit: Option[Long] = cowTagCol.flatMap { tagCol =>
      val relSet = touchedRels.toSet
      // crossover check: folded-vector size vs touched-file row counts.
      // Totals come from the entries' `rows` props when every touched
      // entry carries one (commit-time footer counts — zero IO here);
      // the fallback is the zero-column scan answered from row-group
      // metadata — one distributed job, not a serial driver footer
      // loop over 10^6 touched files (r9 review find)
      val touchedEs = entries.filter(e => relSet.contains(e.rel))
      val totalRows: Long =
        if (touchedEs.forall(_.props.contains(Snapshots.RowsProp)))
          touchedEs.map(_.props(Snapshots.RowsProp).toLong).sum
        else Snapshots.readVersion(spark, table, v0,
          fileFilter = e => relSet.contains(e.rel)).count()
      if (totalRows > 0 && perFid.valuesIterator.sum >= cowThreshold * totalRows) {
        // raw read + anti-join of the FULL folded vector == the merged
        // state after this delete: one pass materializes the prior
        // vectors and the new matches together
        val raw = Snapshots.readVersion(spark, table, v0,
          fileFilter = e => relSet.contains(e.rel), mergeSchema = true,
          metadataSafe = true)
        val cols = raw.columns.map(col)
        val survivors = raw
          .withColumn("__fid", Snapshots.fileIdCol(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
          .join(all, Seq("__fid", "__pos"), "left_anti")
          .select(cols: _*)
        // a COW that touches EVERY file and keeps no row would commit a
        // zero-file snapshot (unreadable — readVersion's documented
        // limitation); keep full-wipe deletes on the vector path, where
        // the files stay and the merged read is readably empty
        if (relSet.size == entries.size && survivors.isEmpty) None
        else Some(Snapshots.commitRewrite(table, v0,
          Snapshots.restageLike(spark, survivors, table, tagCol),
          remove = e => relSet.contains(e._1)))
      } else None
    }
    cowCommit.getOrElse {
      val dvRel = s"dv/dv-${java.util.UUID.randomUUID.toString.take(12)}"
      val shards = math.max(1, math.min(256, touchedIds.size))
      all.repartition(shards, col("__fid")).write
        .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .parquet(s"$table/$dvRel")
      val updated = entries.collect {
        case e if touchedIds(Snapshots.fileId(e.rel)) =>
          e.copy(props = e.props + (DvProp -> dvRel) +
            (Snapshots.DvRowsProp ->
              perFid.getOrElse(Snapshots.fileId(e.rel), 0L).toString))
      }
      Snapshots.commitRewrite(table, v0, updated,
        remove = { case (rel, _) => touchedIds(Snapshots.fileId(rel)) })
    }
    } finally all.unpersist()
    } finally matched.unpersist()
  }

  /** DV MAINTENANCE (the Delta REORG shape, auto-triggerable):
    * materialize every file whose deletion-vector fraction exceeds
    * `maxDvFraction` — rewrite those files with their vectors applied
    * and clear their `ref.dv` references — so a table under repeated
    * small deletes CONVERGES to vector-free files instead of
    * accumulating anti-join weight forever. Per-file fractions come
    * from sidecar-sized counts over footer row counts (metadata IO
    * only); files below the threshold keep their vectors untouched.
    * Time travel and the change feed are unaffected: older snapshots
    * still reference the vectored entries, and the rewrite surfaces in
    * the feed as a cancelling delete+insert pair of identical rows.
    * No-op without vectors. Returns the committed version. */
  def reorgIfNeeded(spark: SparkSession, table: String, tagCol: String,
                    maxDvFraction: Double = 0.3): Long = {
    // pinned to v0 end-to-end (read, replaced set, commit base) — a
    // concurrent delete folding a NEW vector onto a file this reorg
    // materializes must conflict via commitRewrite's full-entry check,
    // or its deletions would silently resurrect
    val v0 = Snapshots.currentVersion(table)
    val dvEs = Snapshots.entriesAt(table, v0).filter(_.props.contains(DvProp))
    if (dvEs.isEmpty) return v0
    // both sides of the fraction come from MANIFEST PROPS when the
    // entries carry them (dv.rows written by deleteWhere, rows at
    // commit time) — zero jobs; pre-r11 entries without the props pay
    // the original metadata jobs
    val deleted: Map[String, Long] =
      if (dvEs.forall(_.props.contains(Snapshots.DvRowsProp)))
        dvEs.map(e => Snapshots.fileId(e.rel) ->
          e.props(Snapshots.DvRowsProp).toLong).toMap
      else dvEs.groupBy(_.props(DvProp)).toSeq.flatMap {
        case (dvRel, owners) =>
          val ids = owners.map(e => Snapshots.fileId(e.rel))
          // broadcast semi-join, not literal isin — same wide-table
          // planner bound as deleteWhere's prior-vector fold
          Snapshots.restrictToIds(spark, spark.read.parquet(s"$table/$dvRel"), ids)
            .groupBy("__fid").count().collect()
            .map(r => r.getString(0) -> r.getLong(1))
      }.toMap
    val totals: Map[String, Long] =
      if (dvEs.forall(_.props.contains(Snapshots.RowsProp)))
        dvEs.map(e => Snapshots.fileId(e.rel) ->
          e.props(Snapshots.RowsProp).toLong).toMap
      // per-file totals in ONE distributed job (zero data columns ⇒
      // row-group-metadata counts), not a serial driver footer loop
      else spark.read
        .parquet(dvEs.map(e => s"$table/${e.rel}"): _*)
        .groupBy(Snapshots.fileIdCol(input_file_name()).as("__f")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val heavy = dvEs.filter { e =>
      val total = totals.getOrElse(Snapshots.fileId(e.rel), 0L)
      total > 0 &&
        deleted.getOrElse(Snapshots.fileId(e.rel), 0L) >= maxDvFraction * total
    }.map(_.rel).toSet
    if (heavy.isEmpty) return v0
    val materialized = readMerged(spark, table, version = v0,
      fileFilter = e => heavy.contains(e.rel), mergeSchema = true)
    // a fully-deleted table must STAY on the vector path (readable as
    // empty) — materializing it would commit an unreadable zero-file
    // snapshot (r9 review find); cheap gate: the isEmpty probe runs
    // only when the reorg would touch every file
    if (heavy.size == Snapshots.entriesAt(table, v0).size && materialized.isEmpty)
      return v0
    Snapshots.commitRewrite(table, v0,
      Snapshots.restageLike(spark, materialized, table, tagCol),
      remove = e => heavy.contains(e._1))
  }

  /** Read snapshot `version` (−1 = live) with deletion vectors applied
    * — delegates to the kernel's [[Snapshots.readMerged]] (the logic
    * moved there so the change feed can share it). */
  def readMerged(spark: SparkSession, table: String, version: Long = -1L,
                 tagFilter: String => Boolean = _ => true,
                 fileFilter: Snapshots.Entry => Boolean = _ => true,
                 mergeSchema: Boolean = false): DataFrame =
    Snapshots.readMerged(spark, table, version, tagFilter, fileFilter, mergeSchema)

  /** INCREMENTAL VIEW MAINTENANCE of a per-tag (count, exact sum)
    * aggregate — the canonical additive MV. `mvTable` is itself a
    * snapshot table with rows `(tagCol, n, sum_<valCol>)`; a refresh
    * folds the `fromV → toV` change feed of `srcTable` as signed deltas
    * (insert +1, delete −1 — counts and DECIMAL sums form an abelian
    * group, so a file swap's delete+insert pair cancels to the true
    * row-level delta), combines them with the CURRENT MV rows of the
    * touched tags only, and commits the result replacing exactly those
    * tags. Untouched tags: zero IO, carried by manifest name. A tag
    * whose count folds to zero is dropped from the MV. `fromV = 0`
    * bootstraps. Returns the MV's committed version. */
  def refreshCountSum(spark: SparkSession, mvTable: String, srcTable: String,
                      fromV: Long, toV: Long, tagCol: String, valCol: String): Long = {
    require(fromV == appliedVersion(mvTable),
      s"refresh of $mvTable: fromV=$fromV but the MV has folded source " +
        s"version ${appliedVersion(mvTable)} — deltas must be applied " +
        "gap-free and exactly once (use catchUp)")
    // a props-dropping commit to the MV table (e.g. a direct
    // Snapshots.commit) resets appliedVersion to 0 while the rows stay;
    // without this guard the fromV=0 "bootstrap" would UNION the full
    // source onto those rows and silently double-count every one (r9
    // advisor find). Snapshots.compact carries mv.* forward, so normal
    // maintenance never trips this.
    require(fromV > 0 || Snapshots.currentVersion(mvTable) == 0,
      s"refresh of $mvTable: bootstrap (fromV=0) but the MV table already " +
        s"has committed rows with no $AppliedProp bookkeeping — a " +
        "props-dropping commit broke the exactly-once chain; rebuild the " +
        "MV into a fresh table")
    val sumCol = s"sum_$valCol"
    val sgn = when(col("_change_type") === "delete", -1).otherwise(1)
    // persisted: the delta feeds the touched-tag collect AND the
    // combined restage — unpersisted, the change-feed aggregation runs
    // twice
    val delta = Snapshots.changes(spark, srcTable, fromV, toV)
      .withColumn("__sgn", sgn)
      .groupBy(col(tagCol))
      .agg(
        sum(col("__sgn").cast("long")).as("n"),
        Exact.decSumRaw(col(valCol) * col("__sgn")).as(sumCol))
      .persist()
    try {
    val tags = delta.select(col(tagCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val applied = Map(AppliedProp -> toV.toString)
    if (tags.isEmpty)
      // nothing to fold (metadata-only source commits): still advance
      // the bookkeeping when the MV exists, so catchUp converges
      return if (Snapshots.currentVersion(mvTable) == 0) 0L
        else Snapshots.commitAll(mvTable, Seq.empty, props = applied)
    val combined =
      (if (Snapshots.currentVersion(mvTable) == 0) delta
       else Snapshots.read(spark, mvTable, tagFilter = tags.contains)
         .unionByName(delta)
         .groupBy(col(tagCol))
         .agg(sum(col("n")).as("n"),
           sum(col(sumCol)).cast(org.apache.spark.sql.types.DecimalType(25, 6)).as(sumCol)))
        .filter(col("n") > 0)
    val staged = Snapshots.stage(combined, mvTable, tagCol)
    // a delta that empties EVERY MV tag would commit a zero-file
    // snapshot (unreadable by the documented format limitation) and
    // brick the MV; refuse BEFORE committing — mv.applied is not
    // advanced, so once the source has rows again the next catchUp
    // folds the same range and converges (r9 review find)
    require(staged.nonEmpty ||
        Snapshots.entriesAll(mvTable).exists(e => !tags.contains(e.tag)),
      s"refresh of $mvTable: the delta empties every MV tag — a zero-file " +
        "snapshot cannot be read back; drop and recreate the MV (nothing " +
        "was applied; the next catchUp retries this range)")
    Snapshots.commit(mvTable, staged,
      remove = e => tags.contains(e._2), props = applied)
    } finally delta.unpersist()
  }

  /** Snapshot property carrying the source version an MV snapshot has
    * folded up to — co-atomic with the MV data it describes (see
    * [[Snapshots.snapshotProps]]). */
  val AppliedProp = "mv.applied"

  /** Source version the MV has folded (0 = nothing yet). Read from the
    * LIVE MV snapshot's own props, so the bookkeeping can never drift
    * from the rows: a crash before the refresh's commit leaves both at
    * the old state; after it, both at the new. */
  def appliedVersion(mvTable: String): Long =
    Snapshots.snapshotProps(mvTable, Snapshots.currentVersion(mvTable))
      .get(AppliedProp).map(_.toLong).getOrElse(0L)

  /** Fold every source version the MV has not seen yet — the RESTARTABLE
    * refresh loop body: reads its own progress from the MV's snapshot
    * props, folds `applied → current` in one delta, and commits data +
    * new progress atomically. Crash anywhere and rerun: a replay either
    * re-reads the old progress (delta re-folds, same result) or sees the
    * new progress (no-op) — exactly-once without any state outside the
    * table. Returns the MV's version (unchanged when already caught
    * up). */
  def catchUp(spark: SparkSession, mvTable: String, srcTable: String,
              tagCol: String, valCol: String): Long = {
    val from = appliedVersion(mvTable)
    val to = Snapshots.currentVersion(srcTable)
    if (to > from) refreshCountSum(spark, mvTable, srcTable, from, to, tagCol, valCol)
    else Snapshots.currentVersion(mvTable)
  }

  /** GENERALIZED incremental MV maintenance — TOUCHED-TAG RECOMPUTE,
    * for aggregates that do NOT form a group under deletes (min, max,
    * count-distinct, quantiles…) where [[refreshCountSum]]'s signed
    * fold cannot apply. The BigQuery-MV / dbt-incremental "refresh
    * changed partitions" shape, done honestly against the log:
    *
    *   - touched-TAG discovery is METADATA-ONLY: any entry added,
    *     removed, or re-propped (deletion-vector growth or shrink)
    *     between `fromV` and `toV` marks its tag — an entries-diff
    *     over the two manifests, zero data files opened;
    *   - the touched tags recompute FROM the source (tag-pruned,
    *     DV-merged, as of `toV`) and replace exactly those tags in the
    *     MV — untouched tags carried by manifest name;
    *   - the same `mv.applied` co-atomic bookkeeping as
    *     [[refreshCountSum]] makes it restartable exactly-once.
    *
    * Cost: O(manifest diff) discovery + O(touched tags' data)
    * recompute — heavier per touched tag than the abelian fold, but
    * never a full recompute (the reference's dbt models recompute the
    * whole table every run: `fact_trades.sql`). `aggs` are applied as
    * `groupBy(tagCol).agg(aggs.head, aggs.tail: _*)`; a tag whose rows
    * all vanished drops from the MV (GROUP BY semantics). Use
    * [[catchUpTags]] for the restartable loop. */
  def refreshTagsRecompute(spark: SparkSession, mvTable: String, srcTable: String,
                           fromV: Long, toV: Long, tagCol: String,
                           aggs: Seq[Column]): Long = {
    require(aggs.nonEmpty, "refreshTagsRecompute: need at least one aggregate")
    require(fromV == appliedVersion(mvTable),
      s"refresh of $mvTable: fromV=$fromV but the MV has folded source " +
        s"version ${appliedVersion(mvTable)} — deltas must be applied " +
        "gap-free and exactly once (use catchUpTags)")
    require(fromV > 0 || Snapshots.currentVersion(mvTable) == 0,
      s"refresh of $mvTable: bootstrap (fromV=0) but the MV table already " +
        s"has committed rows with no $AppliedProp bookkeeping — rebuild " +
        "the MV into a fresh table")
    val fromE = Snapshots.entriesAt(srcTable, fromV).toSet
    val toE = Snapshots.entriesAt(srcTable, toV).toSet
    val touched = (fromE.diff(toE) ++ toE.diff(fromE)).map(_.tag)
    val applied = Map(AppliedProp -> toV.toString)
    if (touched.isEmpty)
      // metadata-only source commits: advance the bookkeeping when the
      // MV exists so the catch-up loop converges
      return if (Snapshots.currentVersion(mvTable) == 0) 0L
        else Snapshots.commitAll(mvTable, Seq.empty, props = applied)
    val recomputed = readMerged(spark, srcTable, version = toV,
        tagFilter = touched.contains)
      .groupBy(col(tagCol))
      .agg(aggs.head, aggs.tail: _*)
    val staged = Snapshots.stage(recomputed, mvTable, tagCol)
    // bootstrap of a source whose rows are all deleted: nothing to
    // represent yet — stay at applied=0, the next catchUp retries
    if (staged.isEmpty && Snapshots.currentVersion(mvTable) == 0) return 0L
    // same zero-file guard as refreshCountSum: refuse to brick the MV;
    // nothing applied, the next catchUp retries and converges
    require(staged.nonEmpty ||
        Snapshots.entriesAll(mvTable).exists(e => !touched.contains(e.tag)),
      s"refresh of $mvTable: every touched tag recomputed to empty and no " +
        "other tag remains — a zero-file snapshot cannot be read back; " +
        "drop and recreate the MV (nothing was applied)")
    Snapshots.commit(mvTable, staged,
      remove = e => touched.contains(e._2), props = applied)
  }

  /** Restartable catch-up loop for [[refreshTagsRecompute]] — same
    * exactly-once contract as [[catchUp]]. */
  def catchUpTags(spark: SparkSession, mvTable: String, srcTable: String,
                  tagCol: String, aggs: Seq[Column]): Long = {
    val from = appliedVersion(mvTable)
    val to = Snapshots.currentVersion(srcTable)
    if (to > from) refreshTagsRecompute(spark, mvTable, srcTable, from, to, tagCol, aggs)
    else Snapshots.currentVersion(mvTable)
  }

  /** UPDATE with copy-on-write: rewrite rows of the live snapshot
    * matching `predicate` by applying `set` (column -> new expression),
    * touching only the FILES that contain a match — the same
    * discovery/rewrite discipline as [[mergeInto]], driven by a
    * predicate instead of a key join. `tagFilter`/`fileFilter` bound
    * the match scan (pass the predicate's pruning twin); the rewrite
    * keeps non-matching rows of touched files verbatim. Returns the
    * committed version (unchanged when nothing matches). */
  def updateWhere(spark: SparkSession, table: String, predicate: Column,
                  set: Map[String, Column], tagCol: String,
                  tagFilter: String => Boolean = _ => true,
                  fileFilter: Snapshots.Entry => Boolean = _ => true): Long = {
    // pinned read-modify-write (see mergeInto)
    val v0 = Snapshots.currentVersion(table)
    val touchedIds = Snapshots.readVersion(spark, table, v0, tagFilter, fileFilter,
        mergeSchema = true, metadataSafe = true)
      .filter(predicate)
      .select(Snapshots.fileIdCol(col("_metadata.file_path")).as("__f"))
      .distinct().collect().map(_.getString(0)).toSet
    if (touchedIds.isEmpty) return v0
    val touchedRels = Snapshots.entriesAt(table, v0)
      .collect { case e if touchedIds(Snapshots.fileId(e.rel)) => e.rel }.toSet
    // rewrite from the MERGED read — same no-resurrection rule as
    // mergeInto: touched files' vectors are materialized by the
    // rewrite. Read WITH row ids (materialized __rid): an updated row
    // keeps its identity, untouched rows of the same file carry theirs
    val rewritten = set.foldLeft(
      Snapshots.readMergedWithIds(spark, table, version = v0,
          fileFilter = e => touchedRels.contains(e.rel))
        .withColumnRenamed(Snapshots.RowIdCol, Snapshots.RidCol)) {
      case (df, (c, e)) => df.withColumn(c, when(predicate, e).otherwise(col(c)))
    }
    Snapshots.commitRewrite(table, v0,
      Snapshots.withInternalRid(Snapshots.restageLike(spark, rewritten, table, tagCol)),
      remove = e => touchedRels.contains(e._1))
  }

  /** PURGE deletion vectors: materialize the merge-on-read state of
    * every DV-bearing file — rewrite those files with their vectors
    * applied, clearing the `ref.dv` reference — so subsequent reads are
    * plain scans again (and [[Snapshots.vacuum]] reclaims the
    * sidecars). The write-side cost deferred by [[deleteWhere]] is paid
    * here once, bounded by the DV-bearing files, at a moment the
    * operator chooses (the Delta REORG/PURGE shape). No-op without
    * vectors. */
  def purgeVectors(spark: SparkSession, table: String, tagCol: String): Long = {
    // pinned + conflict-checked like reorg: a delete folding a newer
    // vector onto a file mid-purge must conflict, not resurrect
    val v0 = Snapshots.currentVersion(table)
    val dvEs = Snapshots.entriesAt(table, v0).filter(_.props.contains(DvProp))
    if (dvEs.isEmpty) return v0
    val dvRels = dvEs.map(_.rel).toSet
    val materialized = Snapshots.readMergedWithIds(spark, table, version = v0,
        fileFilter = e => dvRels.contains(e.rel))
      .withColumnRenamed(Snapshots.RowIdCol, Snapshots.RidCol)
    Snapshots.commitRewrite(table, v0,
      Snapshots.withInternalRid(Snapshots.restageLike(spark, materialized, table, tagCol)),
      remove = e => dvRels.contains(e._1))
  }

  /** Streaming sink composing the whole lake stack: each micro-batch
    * commits to the snapshot table exactly-once
    * ([[Snapshots.batchCommitter]] — version keyed to the batch id, so
    * replays can never publish twice) and then catches the downstream
    * MV up to it. Every failure point converges on rerun: a replayed
    * batch no-ops the table commit AND the catch-up (progress already
    * recorded); a crash between the two leaves the MV behind by one
    * version, which the NEXT batch's catch-up folds — the sinks can
    * lag, never diverge. Use with `writeStream.foreachBatch(...)`. */
  def ingestWithMv(table: String, mvTable: String, tagCol: String,
                   valCol: String): (DataFrame, Long) => Unit = { (df, batchId) =>
    Snapshots.batchCommitter(table, tagCol)(df, batchId)
    catchUp(df.sparkSession, mvTable, table, tagCol, valCol)
  }

  // ---- registered queries --------------------------------------------

  private def freshTable(prefix: String, dir: String): String =
    Graft.freshDir(prefix + dir.replaceAll("[^A-Za-z0-9.]", "_"))

  private def decSumSql(expr: String): String =
    graft.engine.Exact.decSumSql(expr)

  /** s31: MERGE a correction batch into an event snapshot table — days
    * ≤ 01-20 are the base, the source re-states days 18–25 with bumped
    * values (18–20 match ⇒ file-pruned copy-on-write replace; 21–25 are
    * new keys ⇒ pure inserts), then aggregate the merged table per day.
    * The base is staged with per-file `event_id` stats, so the touched-
    * file discovery prunes to the id band the source spans before any
    * data join runs. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable("s31-merge-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "value", "event_date")
    val base = ev.filter(col("event_date") <= "2024-01-20")
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(base, table, "event_date", "event_id"))
    val source = ev
      .filter(col("event_date").between("2024-01-18", "2024-01-25"))
      .select(col("event_id"), (col("value") + 1000.0).as("value"), col("event_date"))
    mergeInto(spark, table, source, "event_id", "event_date")
    Snapshots.read(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  val snapshotMergeOracle: String =
    s"""WITH base AS (
      |  SELECT event_id, value, CAST(ts AS DATE) AS event_date FROM events
      |  WHERE CAST(ts AS DATE) <= DATE '2024-01-20'),
      |src AS (
      |  SELECT event_id, value + 1000.0 AS value, CAST(ts AS DATE) AS event_date
      |  FROM events
      |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-18' AND DATE '2024-01-25'),
      |merged AS (
      |  SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM src)
      |  UNION ALL SELECT * FROM src)
      |SELECT event_date, count(*) AS n, ${decSumSql("value")} AS sum_value
      |FROM merged GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s32: DELETE twice with merge-on-read deletion vectors (cheap
    * clicks, then runaway views — the second delete exercises vector
    * folding on files both predicates touch), then aggregate the
    * surviving rows per day via the DV-applying read. No data file is
    * rewritten by either delete. */
  def deletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable("s32-dv-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "event_type", "value", "event_date")
    Snapshots.commit(table, Snapshots.stage(ev, table, "event_date"))
    deleteWhere(spark, table, col("event_type") === "click" && col("value") < 10.0)
    deleteWhere(spark, table, col("event_type") === "view" && col("value") > 300.0)
    readMerged(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  val deletionVectorsOracle: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
      |  ${decSumSql("value")} AS sum_value
      |FROM events
      |WHERE NOT (event_type = 'click' AND value < 10.0)
      |  AND NOT (event_type = 'view' AND value > 300.0)
      |GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s33: maintain the per-day (count, sum) MV across the healed-table
    * history incrementally — bootstrap from v1's feed, then fold ONLY
    * the v1→v2 heal delta (the three healed dates; every other date's
    * MV row is carried by manifest name, never recomputed) — and read
    * the MV back. The oracle is the full recompute over the healed
    * state, so the compare proves delta-fold ≡ recompute. */
  def incrementalMv(spark: SparkSession, dir: String): DataFrame = {
    val src = TimeTravel.buildHealedTable(spark, dir, "s33-src-")
    val mv = freshTable("s33-mv-", dir)
    refreshCountSum(spark, mv, src, 0, 1, "event_date", "value")
    refreshCountSum(spark, mv, src, 1, 2, "event_date", "value")
    Snapshots.read(spark, mv)
      .select(col("event_date"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("event_date")
  }

  val incrementalMvOracle: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
      |  ${decSumSql(
        "CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12' " +
          "THEN value * 2.0 ELSE value END")} AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s34: UPDATE error events' values (+500 penalty) with copy-on-write
    * file rewrite bounded to files containing a match, then aggregate
    * per day. */
  def snapshotUpdate(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable("s34-update-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "event_type", "value", "event_date")
    Snapshots.commit(table, Snapshots.stage(ev, table, "event_date"))
    updateWhere(spark, table, col("event_type") === "error",
      Map("value" -> (col("value") + 500.0)), "event_date")
    Snapshots.read(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  val snapshotUpdateOracle: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
      |  ${decSumSql("CASE WHEN event_type = 'error' THEN value + 500.0 ELSE value END")} AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s35: pin-rollback-read — tag v1 as the reproducibility anchor,
    * heal three dates (v2), roll BACK to the pinned state (v3 shares
    * v1's manifests by name), vacuum with the ref held, and aggregate:
    * the result must be the ORIGINAL data exactly, which is what makes
    * the ref a durable training-data anchor. */
  def rollbackRead(spark: SparkSession, dir: String): DataFrame = {
    val table = TimeTravel.buildHealedTable(spark, dir, "s35-rollback-")
    Snapshots.tagRef(table, "pre-heal", 1)
    Snapshots.rollback(table, 1)
    Snapshots.vacuum(table) // the pin holds v1; v2's unique files go
    Snapshots.read(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  val rollbackReadOracle: String = TimeTravel.timeTravelReadOracle

  /** s36: conditional-clause MERGE — the source re-states days 18–25
    * with +1000 values; matched rows with a LOW restated value delete,
    * the remaining matched rows update to the restated value, and
    * unmatched rows insert only when they are not error events. All
    * three clause kinds fire against real data; copy-on-write still
    * touches only files whose key stats overlap the source band. */
  def mergeClauses(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable("s36-clauses-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "event_type", "value", "event_date")
    val base = ev.filter(col("event_date") <= "2024-01-20")
    Snapshots.commitAll(table,
      Snapshots.stageWithStats(base, table, "event_date", "event_id"))
    val source = ev
      .filter(col("event_date").between("2024-01-18", "2024-01-25"))
      .withColumn("value", col("value") + 1000.0)
    mergeIntoClauses(spark, table, source, "event_id", "event_date",
      whenMatchedDelete = Some(col("s.value") <= 1100.0),
      whenMatchedUpdate = Some((lit(true), Map("value" -> col("s.value")))),
      whenNotMatchedInsert = Some(col("event_type") =!= "error"))
    Snapshots.read(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  val mergeClausesOracle: String =
    s"""WITH base AS (
      |  SELECT event_id, event_type, value, CAST(ts AS DATE) AS event_date
      |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'),
      |src AS (
      |  SELECT event_id, event_type, value + 1000.0 AS value,
      |         CAST(ts AS DATE) AS event_date
      |  FROM events
      |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-18' AND DATE '2024-01-25'),
      |merged AS (
      |  SELECT b.event_id, b.event_type,
      |         CASE WHEN s.event_id IS NOT NULL AND s.value > 1100.0
      |              THEN s.value ELSE b.value END AS value,
      |         b.event_date
      |  FROM base b LEFT JOIN src s ON b.event_id = s.event_id
      |  WHERE s.event_id IS NULL OR s.value > 1100.0
      |  UNION ALL
      |  SELECT s.event_id, s.event_type, s.value, s.event_date FROM src s
      |  WHERE s.event_type <> 'error'
      |    AND s.event_id NOT IN (SELECT event_id FROM base))
      |SELECT event_date, count(*) AS n, ${decSumSql("value")} AS sum_value
      |FROM merged GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s37: read ACROSS a rename commit — base days commit under `value`,
    * a metadata-only rename turns it into `amount` (no file rewritten),
    * and the post-rename append arrives under the LOGICAL name (landing
    * in the same physical column). One scan serves both eras under the
    * live name; older versions still read as `value` (spec-pinned). */
  def schemaRenameRead(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable("s37-rename-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "value", "event_date")
    Snapshots.commit(table, Snapshots.stage(
      ev.filter(col("event_date") <= "2024-01-20"), table, "event_date"))
    Snapshots.renameColumn(spark, table, "value", "amount")
    Snapshots.commit(table, Snapshots.stage(
      ev.filter(col("event_date") > "2024-01-20")
        .withColumnRenamed("value", "amount"), table, "event_date"))
    Snapshots.read(spark, table)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("amount")).as("sum_amount"))
      .orderBy("event_date")
  }

  val schemaRenameReadOracle: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
      |  ${decSumSql("value")} AS sum_amount
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin

  /** s38: NON-ABELIAN incremental MV (per-day count/min/max) across the
    * healed-table history PLUS a deletion-vector delete — min/max
    * cannot fold signed deltas (a deleted row may BE the min), so the
    * refresh recomputes exactly the tags each version touched
    * (metadata-only discovery; days the heal and the delete never
    * touched are carried by manifest name). Oracle = full recompute
    * over the healed+deleted state, so the compare proves touched-tag
    * recompute ≡ recompute-everything. */
  def tagRecomputeMv(spark: SparkSession, dir: String): DataFrame = {
    val src = TimeTravel.buildHealedTable(spark, dir, "s38-src-") // v1 full, v2 heal
    deleteWhere(spark, src, col("value") > 400.0)                 // v3: DV delete
    val mv = freshTable("s38-mv-", dir)
    val aggs = Seq(count(lit(1)).as("n"),
      min(col("value")).cast("double").as("min_value"),
      max(col("value")).cast("double").as("max_value"))
    refreshTagsRecompute(spark, mv, src, 0, 1, "event_date", aggs)
    refreshTagsRecompute(spark, mv, src, 1, 2, "event_date", aggs)
    refreshTagsRecompute(spark, mv, src, 2, 3, "event_date", aggs)
    Snapshots.read(spark, mv)
      .select("event_date", "n", "min_value", "max_value")
      .orderBy("event_date")
  }

  val tagRecomputeMvOracle: String =
    """WITH healed AS (
      |  SELECT CAST(ts AS DATE) AS event_date,
      |         CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
      |              THEN value * 2.0 ELSE value END AS value
      |  FROM events)
      |SELECT event_date, count(*) AS n,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM healed WHERE NOT value > 400.0
      |GROUP BY 1 ORDER BY event_date""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("s31_snapshot_merge", snapshotMergeOracle)(snapshotMerge),
    QueryDef.sql("s32_deletion_vectors", deletionVectorsOracle)(deletionVectors),
    QueryDef.sql("s33_incremental_mv", incrementalMvOracle)(incrementalMv),
    QueryDef.sql("s34_snapshot_update", snapshotUpdateOracle)(snapshotUpdate),
    QueryDef.sql("s35_rollback_read", rollbackReadOracle)(rollbackRead),
    QueryDef.sql("s36_merge_clauses", mergeClausesOracle)(mergeClauses),
    QueryDef.sql("s37_schema_rename", schemaRenameReadOracle)(schemaRenameRead),
    QueryDef.sql("s38_tag_recompute_mv", tagRecomputeMvOracle)(tagRecomputeMv))
}
