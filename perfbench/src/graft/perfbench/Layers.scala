package graft.perfbench

/** The per-layer metrics of a traced run, by name. A layer the workload
  * does not reach reports nothing here; run.py reports it as 0 under the
  * name and unit BENCHMARK.json declares. */
object Layers {
  /** The query_mix set: the fixed-point sums (q1, j4), the gold revenue
    * fact, a GraftExtensions-planned top-k and a fanScan'd ext operator
    * (NOTES.md lists the queries left out and why). */
  val mixIds: Seq[String] = Seq(
    "q1_agg", "gold_fact_fee_tax", "j4_multi_join_agg", "w1_topk_per_group",
    "dd7_dup_passages")

  /** Per-batch medians over every captured micro-batch. State figures
    * are summed over a batch's stateful operators first. */
  def streaming(ctx: Ctx): Map[String, Double] = {
    val ps = ctx.capture.all
    if (ps.isEmpty) return Map.empty
    def phase(k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      ps.map(_.stateOperators.map(f).sum)
    def custom(k: String): Seq[Double] =
      st(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0))
    val med = Stats.median _
    val phases = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
      "latestOffset", "getBatch")
    val cover = ps.map { p =>
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      if (trig <= 0) 1.0
      else phases.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / trig
    }
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms" -> med(phase("triggerExecution")),
      "streaming.add_batch_ms" -> med(phase("addBatch")),
      "streaming.query_planning_ms" -> med(phase("queryPlanning")),
      "streaming.wal_commit_ms" -> med(phase("walCommit")),
      "streaming.commit_offsets_ms" -> med(phase("commitOffsets")),
      "streaming.latest_offset_ms" -> med(phase("latestOffset")),
      "streaming.get_batch_ms" -> med(phase("getBatch")),
      "streaming.phase_cover" -> med(cover),
      "streaming.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "streaming.late_rows_dropped" -> st(_.numRowsDroppedByWatermark.toDouble).sum,
      "state.commit_ms" -> med(st(_.commitTimeMs.toDouble)),
      "state.instances" -> med(st(_.numStateStoreInstances.toDouble)),
      "state.rows_total" -> med(st(_.numRowsTotal.toDouble)),
      "state.rows_updated" -> med(st(_.numRowsUpdated.toDouble)),
      "state.rows_removed" -> med(st(_.numRowsRemoved.toDouble)),
      "state.memory_bytes" -> med(st(_.memoryUsedBytes.toDouble)),
      "state.rocksdb_checkpoint_ms" -> med(custom("rocksdbCommitCheckpointLatency")),
      "state.rocksdb_flush_ms" -> med(custom("rocksdbCommitFlushLatency")),
      "state.rocksdb_sst_bytes" -> med(custom("rocksdbSstFileSize")),
      "state.rocksdb_changelog_ms" -> med(custom("rocksdbChangeLogWriterCommitLatencyMs")),
      "state.rocksdb_file_sync_ms" -> med(custom("rocksdbCommitFileSyncLatencyMs")))
  }

  /** Engine totals per traced unit; busy ratio over the traced wall. */
  def engine(ctx: Ctx, tracedUnits: Int, tracedWallS: Double): Map[String, Double] = {
    val t = ctx.engine.sum
    val n = math.max(1, tracedUnits).toDouble
    Map(
      "engine.jobs" -> t.jobs / n, "engine.stages" -> t.stages / n,
      "engine.tasks" -> t.tasks / n, "engine.task_ms" -> t.taskMs / n,
      "engine.sched_delay_ms" -> t.schedMs / n,
      "engine.busy_ratio" ->
        (if (tracedWallS > 0) t.taskMs / 1000.0 / (tracedWallS * ctx.args.cores) else 0.0),
      "engine.shuffle_write_bytes" -> t.shuffleWrite / n,
      "engine.shuffle_read_bytes" -> t.shuffleRead / n,
      "engine.spill_bytes" -> t.spill / n, "engine.gc_ms" -> t.gcMs / n,
      "engine.input_bytes" -> t.input / n, "engine.output_bytes" -> t.output / n)
  }

  def all(ctx: Ctx, w: Workload, tracedUnits: Int, tracedWallS: Double): Map[String, Double] =
    streaming(ctx) ++ engine(ctx, tracedUnits, tracedWallS) ++ w.layers(ctx)
}
