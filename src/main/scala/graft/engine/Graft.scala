package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + canonical table catalog for the graft engine.
  *
  * Design notes (100 TB mindset, tested on local[N]):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and dynamic broadcast conversion are exactly the knobs
  *     that keep a fixed logical plan healthy from sf0.001 to 100 TB.
  *   - `spark.sql.shuffle.partitions` follows the harness CPU count
  *     locally; on a real cluster this would be ~2-3x total cores and AQE
  *     coalesces down.
  *   - Session TZ pinned UTC so date/timestamp derivations agree with the
  *     DuckDB oracle (naive timestamps == UTC wall time).
  *   - ANSI mode stays at the Spark 4 default (on). Reference semantics
  *     that need NULL-on-bad-input (pandas `errors="coerce"`,
  *     SURVEY.md P4/F11) use `try_cast`/`try_*` explicitly.
  */
object Graft {
  /** Harness contract: SPARK_GRAFT_CPUS drives local parallelism. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def session(appName: String = "graft", master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    configure(b).getOrCreate()
  }

  /** Shared config block — used by Verify, Bench and the test suites so
    * every entry point plans identically. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Start shuffles WIDE and let AQE coalesce down to the data — the
    // standard AQE recipe: shuffle.partitions alone is a CEILING, so as
    // SF grows a big exchange is stuck at cpus-many oversized
    // partitions (per-partition memory and spill risk grow with SF)
    // while small queries already coalesce to few. 2× cpus (r7; was 8×
    // in r6): every map task writes initialPartitionNum shuffle-bucket
    // streams, a FIXED fan-out cost that amortizes at scale but
    // dominates sub-second queries — the r6 driver ledger's
    // tx14/tx15/dd13 regression cluster. A/B at sf0.1 (BENCH_NOTES r7):
    // 64 beat 256 on every probed query (q1 1.32→1.04, j4 1.26→1.03,
    // tx15 0.39→0.26, pr2 flat) and the sf1 sweep shows no spill cliff
    // (pr2 4.3× for 10× data). On a real cluster this number scales
    // with executor count and the fan-out cost amortizes into real IO.
    // (SPARK_GRAFT_INIT_PARTS overrides for A/B runs.)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", (2 * cpus).toString))
    // InferFiltersFromGenerate bolts `size(e)>0 AND isnotnull(e)` under
    // every explode; predicate pushdown then re-substitutes the FULL
    // generator expression into that filter at the scan (tx5's plan
    // audit showed split()+zip_with evaluated 6× per row in the pushed
    // guard). Generate already skips empty/null arrays, and this
    // engine's explode inputs are non-empty for all but degenerate rows,
    // so the inferred guard is pure per-row recompute tax — excluded.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // Let AQE coalesce CACHED plans' output partitioning too (r18,
    // off by default). Every operator-internal persist whose last hop
    // is an exchange (pr1's src-keyed edge cache, pr2's oriented-edge
    // cache, the dedup bucket tables …) was otherwise frozen at
    // initialPartitionNum (2×cpus) — Pr1Probe measured the edge cache
    // at 64 partitions for ~15k rows each, and every downstream stage
    // of every consumer paid 64 tasks of scheduling overhead (×3
    // rounds in pr1; pr2's wedge join likewise). Pinned
    // REPARTITION_BY_NUM caches (fanScan sites that WANT the width)
    // are user-specified and stay untouched by AQE; coalesced hash
    // partitioning still satisfies co-partitioned self-joins (both
    // sides read the same cache), so pr2's zero-exchange wedge join
    // keeps its shape — verified in the r18 plan receipts.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "true"))
    // Bloom-filter sizing ceilings (r18): DataFrameStatFunctions
    // .bloomFilter routes through BloomFilterAggregate, which silently
    // clamps BOTH its item estimate and its bit count to the runtime-
    // bloom-filter conf ceilings (defaults 4e6 items / 2^26 bits = 8 MB).
    // pr2's closing-edge prefilter asks for 1% fpp over the oriented
    // edge count; at sf1 (12M edges) the default clamp mis-sized it to
    // ~22% observed fpp (Pr2BloomProbe: kept 105.9M of 410.9M wedges
    // instead of the ~23M a 1% filter passes). Ceilings sized to the
    // engine's documented GraphRank.BloomMaxItems cap (2e8 items ⇒
    // ~1.92e9 bits at 1%): filters stay optimally shaped up to the cap
    // and the operator skips the filter beyond it. Also governs the
    // optimizer's automatic runtime bloom injection, where these are
    // upper bounds on estimate-driven sizing, not defaults.
    .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "200000000")
    .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "2000000000")
    // RocksDB state store by default: the HDFS-backed provider keeps
    // every key's state on the executor heap — the first thing to OOM on
    // a 100 TB/day stream with long-horizon state (sessions, streaming
    // dedup). RocksDB bounds memory via memtables + local-disk SST files
    // and is required by transformWithState anyway (StatefulTotals).
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Cap RocksDB NATIVE memory with one shared block-cache +
    // WriteBufferManager across every store instance in the executor.
    // Unbounded (the default), each of the `shuffle.partitions` store
    // instances owns private memtables/cache, and instances from a
    // finished query linger until the maintenance thread notices — a
    // multi-query process (the bench suite, any multi-tenant executor)
    // accumulates native allocations the JVM heap cap never sees.
    // BENCH_r06 died exactly that way: exit 134 / C++ bad_alloc with a
    // healthy heap. 2 GiB is ~100x the sf0.1 state footprint and the
    // right ORDER for a real executor (native ≈ small multiple of heap
    // block cache share, not unbounded).
    // Changelog checkpointing: a commit writes only the batch's delta
    // (snapshots roll up in the background) instead of uploading SST
    // snapshot files for every store instance — the documented
    // production setting for frequent micro-batches, proportional to
    // work done instead of to store count. What a commit still costs is
    // the local file IO of that delta. A traced perfbench stream_micro
    // run (seed 61, 4-core Xeon) reads state.commit_ms 16.5 ms and
    // state.rocksdb_file_sync_ms 9.5 ms per micro-batch (median, summed
    // over its stores) with the in-process `file:` filesystem below,
    // and 267.5 / 260.5 ms with Hadoop's stock one, whose per-file
    // chmod/readlink forks were most of the commit.
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2048")
    .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "64")
    .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "2")
    // events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
    // read the raw int64 nanos and convert ourselves (see Tables.events).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // write timestamps as INT64 MICROS, not Spark's legacy INT96
    // default: INT96 carries NO usable column statistics, which
    // silently made every timestamp column unprunable (no footer
    // min/max recorded → `WHERE CAST(ts AS DATE) = D` — which Spark
    // itself rewrites to raw ts range conjuncts — scanned every
    // file). MICROS is the Delta/Iceberg norm (Iceberg forbids INT96)
    // and footerStats already trusts exactly this annotation.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
    .config("spark.sql.warehouse.dir",
      new java.io.File("target/graft-warehouse").getAbsolutePath)
    .config("spark.ui.enabled", "false")
    // Local file IO in process (LocalFs.scala): no chmod/readlink forks
    // per created or renamed file. Scoped to the `file:` scheme, so a
    // no-op for cluster stores.
    .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[InProcessLocalFs].getName)

  /** Scratch space for sink round-trips; kept inside the repo tree. */
  def tmpDir(sub: String): String = {
    val d = new java.io.File(s"target/graft-tmp/$sub")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Recursively delete a scratch path (the rebuild-deterministically
    * discipline every per-invocation snapshot table uses). One shared
    * helper — this existed in four copies before r8's review. */
  def wipeDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete()
    }
    rec(new java.io.File(path))
  }

  /** [[tmpDir]] + [[wipeDir]]: a guaranteed-EMPTY scratch dir. */
  def freshDir(sub: String): String = {
    val path = tmpDir(sub)
    wipeDir(path)
    new java.io.File(path).mkdirs()
    path
  }

  /** Parallelism floor for compute-heavy scans (r17, guide §2.5 "input
    * skew: one huge unsplittable file ... repartition immediately after
    * the read"). Every fixture table is ONE parquet row group, so a bare
    * scan is ONE task — and parquet cannot split inside a row group, so
    * no input-split config can change that. Any expensive narrow chain
    * planted on such a scan (tokenize → explode → md5 → partial agg)
    * runs sequentially in that task while the other cores idle: the
    * measured wall-clock of the text/dedup operators at sf0.1 was the
    * single-core time of their per-row work.
    *
    * When the frame provides fewer partitions than the cluster's
    * parallelism, redistribute the NARROW source rows (ids + text —
    * never an already-exploded stream) across it, hashed by `keys` so
    * the exchange doubles as the distribution every downstream
    * `groupBy(keys…)`/window-over-keys reuses (the token-level exchange
    * those operators used to pay is replaced by this doc-level one —
    * §2.3 "shuffle fewer bytes" as well). At scale the branch never
    * fires: a 100 TB table scans as thousands of splits, so this is
    * adaptive, not a local-mode constant.
    *
    * Only call it where results are partitioning-independent: exact /
    * integer aggregates, per-row hashes, sorted collect_list. (Plain
    * double sums reassociate under a different partitioning — those
    * sites keep their scan layout.) */
  def fanScan(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "fanScan needs hash keys (round-robin would sort)")
    fanWidth(df).fold(df)(par => df.repartition(par, keys: _*))
  }

  /** `Some(target width)` when `df` is a narrow chain over an
    * under-partitioned file scan that fanScan should spread, None to
    * leave the frame alone. Streaming frames and plans with exchanges /
    * non-file leaves are never touched (r17 ADVICE: the old
    * `df.rdd.getNumPartitions` probe eagerly executed upstream stages
    * under AQE and threw on streaming frames; the count now comes from
    * the planned scan leaves via [[org.apache.spark.sql.GraftSqlBridge.narrowScanPartitions]]). */
  private def fanWidth(df: DataFrame): Option[Int] = {
    if (!fanScanEnabled || df.isStreaming) return None
    val par = df.sparkSession.sparkContext.defaultParallelism
    org.apache.spark.sql.GraftSqlBridge.narrowScanPartitions(df)
      .filter(_ < par).map(_ => par)
  }

  /** [[fanScan]] for a chain whose RESULT is persisted and then read by
    * many downstream stages (r17's dd2b regression, VERDICT #1): `build`
    * still runs at full width when the scan is unsplittable, but the
    * frame handed to the cache is re-keyed back to the scan's own
    * partition count — a pinned `par`-wide cache makes EVERY consumer
    * stage pay par-many tasks of scheduling overhead (dd2b: 10 stages
    * over the shared shingle cache, 2.1× wall at sf0.1), and AQE cannot
    * coalesce a cached REPARTITION_BY_NUM. The extra narrow exchange
    * moves the built rows once at build time; at scale the fan branch
    * never fires and `build` plans directly on the scan. */
  def fanScanBuild(df: DataFrame, keys: org.apache.spark.sql.Column*)(
      build: DataFrame => DataFrame): DataFrame = {
    require(keys.nonEmpty, "fanScanBuild needs hash keys")
    val scanParts = org.apache.spark.sql.GraftSqlBridge.narrowScanPartitions(df)
    fanWidth(df) match {
      case Some(par) =>
        build(df.repartition(par, keys: _*))
          .repartition(scanParts.getOrElse(1).max(1), keys: _*)
      case None => build(df)
    }
  }

  /** A/B switch for [[fanScan]] — FanProbe flips it per interleaved arm
    * so both plans are timed in one JVM. Always true in production. */
  private[graft] var fanScanEnabled = true
}

/** Canonical reads of the driver fixture tables (TESTDATA.md). One place
  * owns path layout and physical-type normalization so every operator sees
  * the same logical schema.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def p(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def lineitem: DataFrame = p("lineitem")
  def orders: DataFrame   = p("orders")
  def customer: DataFrame = p("customer")
  def supplier: DataFrame = p("supplier")
  def part: DataFrame     = p("part")
  def nation: DataFrame   = p("nation")
  def region: DataFrame   = p("region")
  def documents: DataFrame = p("documents")
  def embeddings: DataFrame = p("embeddings")

  /** `events` exactly as the file stores it. Early driver fixtures wrote
    * parquet TIMESTAMP(NANOS), which Spark can only surface as a raw
    * int64-nanos column (via nanosAsLong); the round-8 fixtures carry
    * native TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Callers that need
    * a specific representation use [[events]] / [[eventsNs]]; only
    * scan-pushdown-sensitive code (Staging.dateParamScan) branches on
    * [[eventsTsIsRawNanos]] itself. */
  def eventsRaw: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    p("events")
  }

  /** True when the fixture stores `ts` as raw int64 epoch-nanos (the
    * legacy TIMESTAMP(NANOS) encoding) rather than a native parquet
    * timestamp. One footer probe, reused by every branch. */
  lazy val eventsTsIsRawNanos: Boolean =
    eventsRaw.schema("ts").dataType == LongType

  /** `events` normalized to TIMESTAMP_NTZ at micros grain, matching how
    * DuckDB reads the same file — identical logical schema for either
    * physical encoding. On the native-timestamp encoding this is the
    * bare scan column (an identity cast Catalyst elides), so ts
    * predicates push down to parquet with no rewrite needed. */
  def events: DataFrame = {
    val raw = eventsRaw
    if (eventsTsIsRawNanos)
      raw.withColumn(
        "ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else raw.withColumn("ts", col("ts").cast(TimestampNTZType))
  }

  /** `events` with `ts` as int64 epoch-nanos — the wire grain the SCD2 /
    * funnel builds do interval arithmetic in (full precision, no
    * boundary collisions; see Staging.scd2Ns). Under the native-micros
    * encoding the nanos are exact ×1000 of the stored micros. */
  def eventsNs: DataFrame = {
    val raw = eventsRaw
    if (eventsTsIsRawNanos) raw
    else raw.withColumn("ts", Tables.tsNsCol)
  }
}

object Tables {
  /** Conversions for frames holding the NATIVE-timestamp events encoding
    * (specs read fixture files directly and need the same normalization
    * the catalog applies). Session timezone is pinned UTC, so the
    * NTZ→instant cast is wall-clock-identical. */
  private[graft] def tsNsCol: org.apache.spark.sql.Column =
    expr("unix_micros(cast(ts as timestamp)) * 1000")

  /** `ts` of a batch-read events frame as a UTC instant (TimestampType),
    * whichever physical encoding the file carries. */
  def tsInstant(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _        => col("ts").cast(TimestampType)
    }

  /** `ts` of a batch-read events frame as int64 epoch-micros. */
  def tsUs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _        => expr("unix_micros(cast(ts as timestamp))")
    }
}
