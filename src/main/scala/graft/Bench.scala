package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: headline queries at SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout. Timings materialize the full physical plan via
  * `toRdd.count()` — a bare `df.count()` would let Catalyst prune every
  * projection column and benchmark an empty scan.
  */
object Bench {

  /** Headline set: one representative per physical shape — scan+agg,
    * broadcast join, shuffle join, window, as-of, event-time windows,
    * merge, dedup/LSH, ANN, text scoring. Sink round-trips are excluded
    * (they benchmark tmp-disk IO, not the engine) — that includes the
    * s31-s38 lake mutation queries, which BUILD their snapshot table
    * per invocation; their scale curves live in BENCH_NOTES (r8
    * three-point table, r9 large-delete curve) instead. */
  val headline: Seq[String] = Seq(
    "q1_agg",
    "gold_fact_fee_tax",
    "j4_multi_join_agg",
    "j6_asof_join",
    "w1_topk_per_group",
    "w1b_topk_native",     // custom GroupedTopK operator vs the window form
    "w3_running_sum",
    "a4_dedup_lww",
    "s14_incremental_merge",
    "t1_tumbling_hourly",
    "t3_session_window",
    "o1_topk",
    "dd3_minhash_lsh",
    "ann1_bruteforce_topk",
    "tx3_quality_score",
    // round-2 depth: heavy shapes the r1 set under-sampled
    "dd2_ngram_jaccard",   // blocked self-join + array intersections
    "dd5_embedding_dup",   // all-pairs-within-label exact cosine
    "dd5b_embedding_dup_grid", // triangle-grid variant of the same work
    "w4_range_frame",      // range-frame window
    "j5_range_join",       // equi+range residual join at month grain
    "a10_cube",            // multi-dim cube rollup
    "j7_salted_join",      // skewed key, salted exchange
    "j7b_unsalted_join",   // same join unsalted — the comparison anchor
    "dd6_dup_clusters",    // large-star/small-star connected components
    "tx8_sequence_pack",   // shard-sorted streaming greedy pack
    "tx9_clean_corpus",    // composed cleaning funnel
    // round-3: queries whose plans changed this round
    "tx5_bigram_profile",  // explode+agg with native GroupedTopK tail
    "tx10_lm_score",       // single-job unigram LM scoring
    // round-4: new operators
    "dd2b_ngram_capped",   // capped blocking + banded-residual routing
    "km2_kmeans_train",    // two Lloyd rounds, one declarative plan
    "tx13_decontaminate",  // broadcast eval n-gram overlap
    "ann3b_ivf_indexed",   // build-once / probe-many inverted file
    "ann4_ivf_trained",    // k-means-trained codebook IVF
    "emb1_quantize",       // fixed-point normalize + int8 codes
    "emb2_random_projection", // exact-integer JL projection
    // round-4 late additions
    "dd7_dup_passages",    // cross-doc duplicate-passage index
    "emb3_pq_encode",      // product-quantization encoding
    "ann5_ivfpq_topk",     // IVF-PQ ADC search
    "tx14_mix_weights",    // domain-mixture planning
    "tx15_vocab_coverage", // vocabulary build + coverage
    // round-5: new operators (sink round-trips s17/s18 stay excluded)
    "dd8_semdedup",        // clustered pairwise-cosine semantic dedup
    "tx17_bpe_merges",     // BPE merge rounds over the vocab table
    "tx18_bigram_lm",      // interpolated bigram perplexity scoring
    "w5_ranking_suite",    // dense_rank/percent_rank/cume_dist/ntile
    "a12_grouping_sets",   // one-pass Expand over two grouping dims
    "a13_pivot",           // static-value-list pivot
    // round-5 late wave
    "dd9_bloom_dedup",     // sketch-prefiltered re-delivery dedup
    "dd10_dedup_weights",  // soft dedup: exemplar + cluster-size weight
    "pr1_pagerank",        // 3-round integer power iteration
    "s20_scd2_dim",        // SCD2 interval build (two windows, one sort)
    "tx19_normalize",      // NFC + whitespace normalization projection
    // round-5 continuation
    "pr2_triangles",       // degree-ordered wedge-join triangle counting
    "tx22_bpe_encode",     // tokenizer inference: distinct-word fold + corpus join
    "j8_full_outer",       // post-aggregation full-outer reconciliation
    "mm4_phash_pairs",     // banded signature pairing of media payloads
    "q8_drift_psi",        // one-pass categorical drift monitor
    // round-5 second continuation (s22/s23 are stub-fetch/tmp-disk
    // round-trips, excluded like the other sink benchmarks)
    "dd11_substring_scrub", // corpus-recurring-span removal + text rewrite
    "a14_heavy_hitters",   // two-pass Misra-Gries + exact verify
    "j9_interval_bin_join", // key-less interval overlap via time bins
    "j10_scd2_pit_join",   // point-in-time join vs the SCD2 dimension
    "w6_funnel",           // single-pass ordered-stage funnel
    "dd12_source_overlap", // bottom-k sketch corpus-overlap matrix
    "dd13_cdc_chunks",     // content-defined chunk dedup (boundary re-sync)
    "ann6_filtered_topk",  // metadata-filtered vector search (pre-filter join)
    "tx24_calibrated_quality", // per-source rank-normalized quality cut
    // round-6 continuation: new operators
    "dd14_containment",    // prefix-filtered asymmetric containment pairs
    "tx25_chunk_overlap",  // sliding-window RAG chunking (pure narrow)
    "tx26_tfidf_terms",    // per-doc TF-IDF top terms via GroupedTopK
    "ann7_rerank_topk",    // ADC candidates + exact cosine re-rank
    "q9_key_discovery",    // candidate-key profiling scans
    "q10_k_anonymity",     // quasi-identifier group-size audit
    "a16_retention_cohorts", // first-seen cohort × age distinct-user matrix
    "ann3c_ivf_incremental", // add-only snapshot-committed index upsert + probe
    // round-14 late: the one new pure-compute query (the round's other
    // additions — s64-s67 — build snapshot fixtures per invocation and
    // stay excluded like the other sink round-trips)
    "t4_gap_fill",         // dense bar grid + forward-fill window
    // round-16: the other pure-compute bar shape (s77/s78 build
    // snapshot fixtures per invocation and stay excluded)
    "t5_ohlcv_bars")       // deterministic tuple-ordered OHLCV candles

  /** Streaming path (round 4): drain the SF dir's events through the E1
    * ingest pipelines with AvailableNow — end-to-end wall time of a full
    * micro-batch drain, the number BENCH_NOTES turns into rows/s. Each
    * invocation gets fresh checkpoint/output dirs so every run (warm and
    * timed) performs the complete drain rather than a no-op resume. */
  val streaming: Seq[String] = Seq("st1_bronze_ingest", "st2_hourly_agg", "st3_session_state")

  /** A tmp dir guaranteed EMPTY — a checkpoint left by a previous Bench
    * process would turn the AvailableNow drain into a no-op resume and
    * time nothing. */
  private def freshDir(sub: String): String = graft.engine.Graft.freshDir(sub)

  private var streamInvocation = 0
  def runStream(name: String, spark: SparkSession, sfDir: String): Double = {
    import graft.streaming.Pipelines
    streamInvocation += 1
    // r16 verdict #3: the streaming trio runs AFTER the file-churn-heavy
    // batch section, and its inline numbers carried ~7 s of accumulated
    // tmp-fs pressure (st2 6.4 s inline vs 2.8 s iso, code unchanged) —
    // the per-invocation snapshot fixtures batch queries build under
    // target/graft-tmp stack up across warm+N runs x 80 queries. Every
    // drain therefore starts from a CLEAN scratch tree: each fixture
    // query rebuilds its tmp tables per invocation by design, so
    // nothing live is deleted, and the wipe sits outside the timed
    // window. Covers the post-suite iso twins too (batch iso re-runs
    // re-accumulate churn before a streaming iso fires).
    graft.engine.Graft.wipeDir(graft.engine.Graft.tmpDir(""))
    val ckpt = freshDir(s"bench-$name-ckpt-$streamInvocation")
    // out dir created OUTSIDE the timed window like ckpt (r17): dir
    // setup is scratch-fs bookkeeping, not drain throughput
    val outDir: Option[String] =
      if (name == "st1_bronze_ingest")
        Some(freshDir(s"bench-$name-out-$streamInvocation"))
      else None
    val t0 = System.nanoTime()
    name match {
      case "st1_bronze_ingest" =>
        Pipelines.bronzeIngest(spark, sfDir, outDir.get, ckpt).awaitTermination()
      case "st2_hourly_agg" =>
        Pipelines.hourlyAgg(Pipelines.eventsStream(spark, sfDir))
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      case "st3_session_state" =>
        // the custom-state path: flatMapGroupsWithState sessionization
        // drained over the full SF event stream — the per-key state
        // machine's throughput, not a windowed builtin's
        graft.streaming.StatefulSessions
          .sessionStream(spark, Pipelines.eventsStream(spark, sfDir))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // Release the drain's RocksDB instances NOW, not when the 60 s
    // maintenance sweep notices the query is gone: each drain opens
    // shuffle.partitions-many native stores against a FRESH checkpoint
    // (no reuse possible), so without this, warm+N repeats × 3 streaming
    // queries stack dozens of live native allocations — the BENCH_r06
    // bad_alloc. Outside the timed window; next run reloads from its own
    // new checkpoint either way.
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    // free this drain's checkpoint + output trees NOW, outside the
    // timed window: st1 writes ~720 partition files per drain and the
    // suite runs warm+N drains per streaming query, so by the
    // post-suite iso re-runs the tmp fs held thousands of stale files
    // — the r12 driver artifact's st3_iso (6.3 s vs 2.2 in-suite) was
    // a single-shot drain paying that accumulated fs pressure. Each
    // run uses a fresh dir regardless, so nothing downstream reads
    // these trees.
    graft.engine.Graft.wipeDir(ckpt)
    outDir.foreach(graft.engine.Graft.wipeDir)
    dt
  }

  /** Wall seconds of one run of `name`: a streaming drain through
    * [[runStream]], else the query's full physical plan via
    * `toRdd.count()`. The one timing path — [[main]] and
    * [[graft.tools.Probe]] both time through it. Throws on failure. */
  def time(spark: SparkSession, sfDir: String, name: String): Double =
    if (streaming.contains(name)) runStream(name, spark, sfDir)
    else {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

  /** Upper median — the ledger's per-query figure. */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted; s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    // driver runs argless (full headline + streaming); args select a
    // subset for targeted timing during development
    val set = if (args.nonEmpty) args.toSeq else headline ++ streaming
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Graft.configure(
      SparkSession.builder().master(s"local[${graft.engine.Graft.cpus}]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // failures are reported in a separate "failed" array and kept OUT of
    // the per-query timings map entirely — a sentinel there reads as a
    // (nonsense) duration to anything summing or diffing the map, and a
    // silent partial-elapsed contribution would corrupt the ledger
    def run(name: String): Double =
      try time(spark, sfDir, name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); -1.0
      }

    // warmup pass first (steady-state engine throughput, not JVM/JIT/
    // codegen-compile startup or first-touch parquet footer reads), then
    // REPEATS timed runs — all inside one Caching scope per query, so
    // operator-internal persists are built once, reused by the timed
    // runs (same as any warm application), and released before the next
    // query (no cross-query storage accumulation, no re-cache warnings).
    // The ledger records the MEDIAN plus the raw repeats and the
    // per-query GC-time delta, so a one-off ambient spike (JIT storm,
    // concurrent tenant, GC wall) is decidable from the ledger alone —
    // a median 5× above its siblings with gc_ms ≈ wall time is memory
    // pressure, not a plan regression.
    def gcStats(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val beans =
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt.max(1)
    // one warm run then `repeats` timed ones (a failed warm run is the
    // whole record): (warm, timed runs, gc ms, gc count over the timed runs)
    def warmRepeats(n: String): (Double, Seq[Double], Long, Long) =
      graft.engine.Caching.scoped {
        val warm = run(n)
        val (g0, c0) = gcStats()
        val ts = if (warm < 0) Seq(warm) else Seq.fill(repeats)(run(n))
        val (g1, c1) = gcStats()
        (warm, ts, g1 - g0, c1 - c0)
      }
    def fmt(ts: Seq[Double]) = ts.map("%.2f".format(_)).mkString(",")
    val results = set.map { n =>
      val (warm, ts, gc, gcN) = warmRepeats(n)
      // progress to stderr so a killed/timed-out run still shows how
      // far it got and what each query cost
      System.err.println(
        s"[bench] $n warm=${"%.2f".format(warm)}s runs=[${fmt(ts)}] gc=${gc}ms")
      (n, ts, gc, gcN)
    }
    val (ok, bad) = results.partition(_._2.forall(_ >= 0))

    // ---- ambient self-defense (r12): any query whose IN-SUITE median
    // exceeds its recorded band re-runs ISOLATED after the suite (fresh
    // Caching scope, nothing else resident) and the artifact carries
    // BOTH numbers ("dd14":5.5,"dd14_iso":2.2). Two driver artifacts
    // (r9, r11) were ambient-inflated and each cost a session of
    // adjudication; with the isolated twin in the same ledger, an
    // in-suite spike whose twin sits inside the band is decidable as
    // contention (not a plan regression) from the artifact alone.
    // Bands live in bench_bands.json (short query id -> seconds upper
    // bound at sf0.1; r16 re-seeded to 1.3x the best of the r14/r15
    // artifacts — tight enough that ORDER-SENSITIVE drift, not just
    // ambient spikes, earns an iso twin: the suite order is fixed, but
    // inserting queries shifts every later query's heap/page-cache
    // ambient, which moved j9 2.2x in r15 while its iso run improved).
    // A missing file or entry means no re-run, and the re-run set is
    // capped so a whole-box episode cannot double the suite.
    val shortCount0 = set.groupBy(_.takeWhile(_ != '_')).view.mapValues(_.size)
    def shortId(n: String): String = {
      val s = n.takeWhile(_ != '_')
      if (shortCount0.getOrElse(s, 0) == 1) s else n
    }
    val bands: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_bands.json")), "UTF-8")
        """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val flagged = ok.flatMap { case (k, ts, _, _) =>
      bands.get(shortId(k)).filter(median(ts) > _)
        .map(b => (k, median(ts) / b))
    }.sortBy(-_._2).take(16).map(_._1)
    val iso = flagged.map { n =>
      val ts = warmRepeats(n)._2
      System.err.println(
        s"[bench] ISO $n runs=[${fmt(ts)}] (band ${bands(shortId(n))}s exceeded in-suite)")
      (n, ts)
    }.filter(_._2.forall(_ >= 0))
    val qs = (ok.map { case (k, ts, _, _) => "\"" + k + "\":" + median(ts) } ++
      iso.map { case (k, ts) => "\"" + k + "_iso\":" + median(ts) })
      .mkString("{", ",", "}")
    val runs = (ok.map { case (k, ts, _, _) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    } ++ iso.map { case (k, ts) =>
      "\"" + k + "_iso\":" + ts.mkString("[", ",", "]")
    }).mkString("{", ",", "}")
    val gcMs = ok.map { case (k, _, g, _) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val gcN = ok.map { case (k, _, _, c) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val failed = bad.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = ok.map(r => median(r._2)).sum
    val heapMb = java.lang.Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val (gcT, gcC) = gcStats()
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","bench_n":$repeats,"runs":$runs,"gc_ms":$gcMs,"gc_count":$gcN,"failed":$failed,"queries":$qs,"gc_ms_total":$gcT,"gc_count_total":$gcC,"heap_max_mb":$heapMb,"sf":"$sfDir"}"""

    // The driver records only the LAST ~2000 chars of stdout and parses
    // them for one JSON line. Rounds 1-7 never parsed: the full-name
    // 82-query map alone is ~2.5k chars, so the line was truncated from
    // the front (and sbt's logger prefixed it — fixed in build.sbt).
    // stdout therefore carries exactly ONE compact line: query keys are
    // abbreviated to the (unique) prefix before the first '_' of the
    // SparkEntry name — "dd5b_embedding_dup_grid" -> "dd5b" — with a
    // collision falling back to the full name, and values are
    // millisecond-rounded seconds. The full-fidelity ledger (full
    // names, raw repeats, per-query gc) goes to stderr and to
    // target/bench_full_latest.json for round notes.
    def id(n: String): String = shortId(n) // one scheme for bands + ledger
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qsShort = (ok.map { case (k, ts, _, _) => "\"" + id(k) + "\":" + f3(median(ts)) } ++
      iso.map { case (k, ts) => "\"" + id(k) + "_iso\":" + f3(median(ts)) })
      .mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    val compact =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":$repeats,"failed":$failed,"queries":$qsShort,"gc_ms":$gcT,"gc_n":$gcC,"heap_mb":$heapMb,"ids":"prefix before first _ of SparkEntry.queries names","sf":"$sfName"}"""
    if (compact.length > 1900)
      System.err.println(s"[bench] WARNING compact line ${compact.length} chars > 1900 tail budget")
    System.err.println(full)
    try {
      val p = java.nio.file.Paths.get("target", "bench_full_latest.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // diagnostics only — never fail the run
    // quiet the async executor/log tail so nothing lands after this line
    spark.sparkContext.setLogLevel("ERROR")
    println(compact)
    System.out.flush()
    spark.stop()
  }
}
