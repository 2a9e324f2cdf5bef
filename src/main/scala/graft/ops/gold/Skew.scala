package graft.ops.gold

import graft.engine.{Exact, Graft, QueryDef, Tables}
import graft.ops.lake.{Analyze, Mutations, Snapshots}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys: salting. AQE's skew-join split
  * handles most cases at runtime (enabled in Graft.configure); explicit
  * salting remains the tool when one key dominates so heavily that even
  * split partitions hot-spot a single executor — e.g. joining a 100 TB
  * event stream (5 distinct event types) against a per-type dim.
  *
  * The fact side gets a deterministic salt from a high-cardinality
  * column; the dim side is replicated `salts` ways, so the join key
  * becomes (key, salt) with `salts`× the parallelism. Semantics are
  * identical to the unsalted join for any fact⋈dim equi-join (each fact
  * row meets exactly one replica of its dim row) — SkewSpec asserts it.
  */
object Skew {

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltSource: Column, salts: Int, joinType: String = "left_outer"): DataFrame = {
    // salts = 0 would be SILENT row loss, not an error: pmod(x, 0) is
    // NULL under non-ANSI semantics and the replicated dim is empty,
    // so the join matches nothing (r14 review find)
    require(salts >= 1, s"saltedJoin: salts must be >= 1, got $salts")
    // right/full joins would surface each unmatched dim row `salts` times
    require(Set("inner", "left", "leftouter", "leftsemi", "cross")
      .contains(joinType.toLowerCase.replaceAll("_", "")),
      s"saltedJoin supports inner/left join types, got $joinType")
    val saltedFact = fact.withColumn("_salt", pmod(xxhash64(saltSource), lit(salts)))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit((salts - 1).toLong))))
    saltedFact
      .join(replicatedDim, Seq(key, "_salt"), joinType)
      .drop("_salt")
  }

  /** STATS-DRIVEN join-strategy pre-choice (r14, r13 verdict item 5 —
    * the [[graft.ops.lake.DynamicFilter.strategyForRange]] pattern
    * applied to skew): recorded table stats decide
    * broadcast / salt / plain at plan-build time with ZERO scan jobs —
    * every input is a snapshot prop:
    *
    *   - `Some("broadcast")` — the dim's recorded row count fits
    *     `broadcastMaxRows`: replicate it, no shuffle at all;
    *   - `Some("salt")` — the fact key's recorded top-1 frequency
    *     ([[Analyze.frequentKeys]]) exceeds `skewFactor` × the uniform
    *     expectation rows/NDV: one key would wedge a shuffle partition
    *     even after AQE's split, so pre-salt;
    *   - `Some("plain")` — stats present, neither trigger fires;
    *   - `None` — no fresh stats on either side: no basis, the caller
    *     keeps its default (plain + AQE, the pre-stats behavior).
    *
    * Soundness is never at stake — all three strategies return
    * identical rows (SkewSpec pins it); the stats choose only the
    * execution shape, exactly a cost-based optimizer's job. Staleness
    * is per stats family ([[Analyze.freqVersionOf]] vs
    * [[Analyze.analyzedVersion]]); stats more than `maxStaleVersions`
    * behind the live snapshot are ignored.
    *
    * WHEN AQE ALONE SUFFICES (BENCH_NOTES "SkewProbe", r15): on a
    * single node the skew-join split and the pre-salt are close to a
    * wash — at sf1 with ONE key carrying 90% of 1M rows the pre-salt
    * wins (1.02 s vs AQE-split 1.36 s vs un-rescued 1.12 s), while
    * with the 90% spread over TEN hot keys local[32] swallows the
    * skew unaided (plain 0.80 s beats both rescues). The verdict's
    * value case is CLUSTER scale, where a wedged partition is a
    * straggler bounded by single-task throughput (and executor
    * memory), not a local thread that finishes in a second: pre-salt
    * re-shapes the exchange itself (the hot key hashes to `salts`
    * partitions), which AQE's split — a runtime re-plan that also
    * duplicates the build side per split — can only approximate after
    * the skewed map output already exists. Default remains: AQE on
    * everywhere, pre-salt only on recorded top-1-frequency evidence
    * (this function), never by guess. */
  def strategyByStats(factTable: String, factKey: String, dimTable: String,
                      broadcastMaxRows: Long = 1000000L,
                      skewFactor: Double = 4.0,
                      maxStaleVersions: Long = 64): Option[String] = {
    def fresh(table: String, v: Option[Long]): Boolean =
      v.exists(Snapshots.currentVersion(table) - _ <= maxStaleVersions)
    val dimRows = Analyze.rowsOf(dimTable)
      .filter(_ => fresh(dimTable, Analyze.analyzedVersion(dimTable)))
    if (dimRows.exists(_ <= broadcastMaxRows)) return Some("broadcast")
    val saltOrPlain = for {
      _ <- Some(()).filter(_ => fresh(factTable, Analyze.freqVersionOf(factTable, factKey)))
      _ <- Some(()).filter(_ => fresh(factTable, Analyze.analyzedVersion(factTable)))
      freq <- Analyze.frequentKeysOf(factTable, factKey)
      top <- freq.headOption.map(_._2)
      rows <- Analyze.rowsOf(factTable)
      ndv <- Analyze.ndvOf(factTable, factKey)
      if ndv > 0
    } yield if (top.toDouble > skewFactor * (rows.toDouble / ndv)) "salt"
      else "plain"
    saltOrPlain.orElse(dimRows.map(_ => "plain"))
  }

  /** Equi-join of two lake tables with the strategy CHOSEN FROM
    * RECORDED STATS ([[strategyByStats]]) — the production consumer:
    * broadcast when the dim's recorded rows fit, pre-salt when the
    * fact key's recorded frequencies say one key dominates, plain
    * shuffle (+ AQE) otherwise or when stats are absent/stale. The
    * join RESULT is identical in every branch; only the shuffle shape
    * changes. Inner/left joins only (the [[saltedJoin]] restriction —
    * the salt branch must always be available). */
  def statsSkewJoin(spark: SparkSession, factTable: String,
                    dimTable: String, factKey: String, dimKey: String,
                    joinType: String = "inner", salts: Int = 8,
                    broadcastMaxRows: Long = 1000000L,
                    skewFactor: Double = 4.0,
                    maxStaleVersions: Long = 64): DataFrame = {
    require(Set("inner", "left", "leftouter", "leftsemi")
      .contains(joinType.toLowerCase.replaceAll("_", "")),
      s"statsSkewJoin supports inner/left join types, got $joinType")
    val fact = Mutations.readMerged(spark, factTable, mergeSchema = true)
    val dim0 = Mutations.readMerged(spark, dimTable, mergeSchema = true)
    // both keys validated HERE, where the typo is nameable — Spark's
    // withColumnRenamed silently no-ops on a missing column and the
    // join would later blame the RENAMED name the user never typed
    // (r14 review find, surfaced through the SQL TVF)
    require(fact.columns.exists(_.equalsIgnoreCase(factKey)),
      s"statsSkewJoin($factTable): no column '$factKey' " +
        s"(fact has ${fact.columns.mkString(", ")})")
    require(dim0.columns.exists(_.equalsIgnoreCase(dimKey)),
      s"statsSkewJoin($dimTable): no column '$dimKey' " +
        s"(dim has ${dim0.columns.mkString(", ")})")
    // the join key is matched BY NAME (saltedJoin's contract), so the
    // dim key renames onto the fact key — which must not collide with
    // a pre-existing dim column or the join resolves ambiguously on a
    // legitimate schema (r14 review find: fail loudly, never let Spark
    // throw AMBIGUOUS_REFERENCE two operators later). Non-key columns
    // shared by both tables keep Spark's usual duplicate-name join
    // semantics; qualify or rename them downstream as with any join.
    require(dimKey.equalsIgnoreCase(factKey) ||
      !dim0.columns.exists(_.equalsIgnoreCase(factKey)),
      s"statsSkewJoin($dimTable): dim already has a column named " +
        s"'$factKey' — renaming its key '$dimKey' onto it would be " +
        "ambiguous; rename one side first")
    val dim = if (dimKey == factKey) dim0
      else dim0.withColumnRenamed(dimKey, factKey)
    strategyByStats(factTable, factKey, dimTable,
        broadcastMaxRows, skewFactor, maxStaleVersions) match {
      case Some("broadcast") =>
        fact.join(broadcast(dim), Seq(factKey), joinType)
      case Some("salt") =>
        // per-row entropy for the salt: equal KEYS must spread across
        // buckets, so the key itself can never be the salt source
        saltedJoin(fact, dim, factKey,
          monotonically_increasing_id(), salts, joinType)
      case _ => fact.join(dim, Seq(factKey), joinType)
    }
  }

  // ---- oracle-gated exercise ---------------------------------------

  private def freshTable(prefix: String, dir: String): String =
    Graft.freshDir(prefix + dir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Shared s62/s63 fixture: a deliberately skewed-key fact (90% of
    * rows on 10 of 5000 keys) and a dim too big for the queries'
    * broadcast budget, committed WITH the recorded evidence
    * (ANALYZE + frequentKeys) that flips the strategy to "salt". */
  private def skewFixture(spark: SparkSession, dir: String,
                          prefix: String): (String, String) = {
    val factT = freshTable(s"$prefix-fact-", dir)
    val dimT = freshTable(s"$prefix-dim-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("sk",
        when(col("event_id") % 100 < 90, col("event_id") % 10)
          .otherwise(col("event_id") % 5000))
      .select("event_id", "sk", "value")
    Snapshots.commitAll(factT, Snapshots.stageWithStats(
      ev.withColumn("day", lit("d")), factT, "day", "sk"))
    val dim = spark.range(0, 5000)
      .select(col("id").as("dim_id"),
        concat(lit("seg-"), (col("id") % 7).cast("string")).as("segment"),
        lit("pad").as("pad"))
    Snapshots.commitAll(dimT, Snapshots.stageWithStats(
      dim.withColumn("day", lit("d")), dimT, "day", "dim_id"))
    Analyze.analyze(spark, factT, Seq("sk"))
    Analyze.frequentKeys(spark, factT, "sk", k = 16)
    Analyze.analyze(spark, dimT, Seq("dim_id"))
    (factT, dimT)
  }

  /** s62: the stats-chosen skew join under the oracle gate — the
    * [[skewFixture]] evidence flips the strategy to "salt" (the spec
    * fences the flip at zero scan jobs) and the salted join's aggregate
    * must equal DuckDB's plain join: salting changes the shuffle
    * shape, never a row. */
  def statsSkewJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = skewFixture(spark, dir, "s62")
    // broadcast budget below the dim's 5000 recorded rows: the flip
    // must come from the FACT side's recorded skew
    statsSkewJoin(spark, factT, dimT, "sk", "dim_id",
        broadcastMaxRows = 1000)
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("value"), 2).as("sum_value"))
      .orderBy("segment")
  }

  lazy val statsSkewJoinOracle: String =
    """WITH f AS (
      |  SELECT CASE WHEN event_id % 100 < 90 THEN event_id % 10
      |              ELSE event_id % 5000 END AS sk, value
      |  FROM events),
      |d AS (
      |  SELECT i AS dim_id, 'seg-' || CAST(i % 7 AS VARCHAR) AS segment
      |  FROM (SELECT unnest(range(0, 5000)) AS i))
      |SELECT segment, count(*) AS n,
      |       CAST(CAST(SUM(CAST(f.value AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_value
      |FROM f JOIN d ON f.sk = d.dim_id
      |GROUP BY segment ORDER BY segment""".stripMargin

  /** s63: the same stats-chosen skew join through PLAIN SQL — the
    * `stats_skew_join` table function ([[graft.sql.LakeSql
    * .statsSkewJoinPlan]]) gives `spark.sql` users the identical
    * recorded-stats broadcast/salt/plain chain (r14 — the "two front
    * doors" discipline: every API-only capability eventually earns its
    * SQL twin). Same fixture, same oracle restatement. */
  def statsSkewJoinSql(spark: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = skewFixture(spark, dir, "s63")
    graft.sql.LakeSql.register(spark, "s63f", factT, "day")
    graft.sql.LakeSql.register(spark, "s63d", dimT, "day")
    spark.sql(
      s"""SELECT segment, count(*) AS n,
         |  ${graft.engine.Exact.decSumSql("value")} AS sum_value
         |FROM stats_skew_join('s63f', 's63d', 'sk', 'dim_id', 1000)
         |GROUP BY segment ORDER BY segment""".stripMargin)
  }

  /** s76: the FULLY WRITE-TIME stats chain under the oracle gate (r15)
    * — the s62 skew question where every recorded stat folds from
    * sketches the commits already paid for: NDV/rows via
    * [[Snapshots.withHll]] + [[Analyze.analyzeFromSketches]]
    * (manifest-scale job), frequencies via [[Snapshots.withTopK]] +
    * [[Analyze.frequentKeysFromSketches]] (a pure DRIVER fold — zero
    * Spark jobs). No exact ANALYZE anywhere; the folded evidence must
    * still flip the strategy to salt (the spec fences it), and the
    * salted aggregate must equal DuckDB's plain join. This is the
    * 100 TB stats story end to end: maintenance costs manifest IO, the
    * table is never re-scanned. */
  def statsSkewJoinSketchQuery(spark: SparkSession, dir: String): DataFrame = {
    val factT = freshTable("s76-fact-", dir)
    val dimT = freshTable("s76-dim-", dir)
    val ev = Tables(spark, dir).events
      .withColumn("sk",
        when(col("event_id") % 100 < 90, col("event_id") % 10)
          .otherwise(col("event_id") % 5000))
      .select("event_id", "sk", "value")
    Snapshots.commitAll(factT, Snapshots.withKeyStats(
      Snapshots.stageWithStats(ev.withColumn("day", lit("d")),
        factT, "day", "sk"),
      factT, "sk", spark))
    val dim = spark.range(0, 5000)
      .select(col("id").as("dim_id"),
        concat(lit("seg-"), (col("id") % 7).cast("string")).as("segment"),
        lit("pad").as("pad"))
    Snapshots.commitAll(dimT, Snapshots.withHll(
      Snapshots.stageWithStats(dim.withColumn("day", lit("d")),
        dimT, "day", "dim_id"),
      dimT, "dim_id", spark))
    Analyze.analyzeFromSketches(spark, factT, Seq("sk"))
    Analyze.frequentKeysFromSketches(factT, "sk")
    Analyze.analyzeFromSketches(spark, dimT, Seq("dim_id"))
    statsSkewJoin(spark, factT, dimT, "sk", "dim_id",
        broadcastMaxRows = 1000)
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("value"), 2).as("sum_value"))
      .orderBy("segment")
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("s62_stats_skew_join", statsSkewJoinOracle)(statsSkewJoinQuery),
    QueryDef.sql("s63_stats_skew_join_sql", statsSkewJoinOracle)(statsSkewJoinSql),
    QueryDef.sql("s76_stats_skew_join_sketches", statsSkewJoinOracle)(statsSkewJoinSketchQuery))
}
