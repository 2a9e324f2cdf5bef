package graft

import graft.engine.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{NamedExpression, ScalaUDF}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite

class PlanRulesSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  test("to_date equality on normalized events ts pushes a range to parquet") {
    val df = Tables(spark, Sf).events
      .filter(to_date(col("ts")) === lit("2024-01-15").cast("date"))
      .select("event_id")
    val plan = df.queryExecution.executedPlan.toString
    if (Tables(spark, Sf).eventsTsIsRawNanos) {
      // legacy int64-nanos fixture: our NanosDateRangeRule must rewrite
      // the derived-column predicate into a pushable range on the raw long
      assert(plan.contains("GreaterThanOrEqual(ts,1705276800000000000)"),
        s"expected pushed range filter in:\n$plan")
      assert(plan.contains("LessThan(ts,1705363200000000000)"), plan)
    } else {
      // native-timestamp fixture: Spark's own cast unwrapping pushes the
      // equivalent half-open timestamp range — verify it reached the scan
      assert(plan.contains("GreaterThanOrEqual(ts,2024-01-15T00:00"),
        s"expected pushed ts range in:\n$plan")
      assert(plan.contains("LessThan(ts,2024-01-16T00:00"), plan)
    }
    // and the plan preserves the result either way
    val viaRule = df.count()
    val manual = graft.ops.silver.Staging.dateParamScan(spark, Sf).count()
    assert(viaRule == manual)
  }

  test("rule leaves other date predicates untouched") {
    val t = Tables(spark, Sf)
    val n = t.lineitem
      .filter(to_date(col("l_shipdate")) === lit("1997-10-31").cast("date"))
      .count()
    assert(n >= 0) // no rewrite applies (not the nanos chain); must not break
  }

  test("GroupedTopK plans as partial/final pair around a survivors-only exchange") {
    val df = graft.ops.gold.Windows.topkPerGroupNative(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("GroupedTopKPartial"), plan)
    assert(plan.contains("GroupedTopKFinal"), plan)
    // the exchange between the pair sits ABOVE the partial node, so the
    // shuffled rows are the bounded survivors, not the full input
    val lines = plan.split("\n")
    val partialIdx = lines.indexWhere(_.contains("GroupedTopKPartial"))
    val finalIdx = lines.indexWhere(_.contains("GroupedTopKFinal"))
    val between = lines.slice(finalIdx, partialIdx)
    assert(finalIdx < partialIdx &&
      between.exists(l => l.contains("Exchange hashpartitioning(c_mktsegment")), plan)
  }

  test("GroupedTopK matches the window-form top-k row for row") {
    val window = graft.ops.gold.Windows.topkPerGroup(spark, Sf).collect().toSeq
    val native = graft.ops.gold.Windows.topkPerGroupNative(spark, Sf).collect().toSeq
    assert(window == native)
  }

  test("GroupedTopK property: parity with window form on random inputs; metrics populated") {
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
    // AQE off for this test only, so the executed plan is the plain
    // partial/final pair and the exec nodes are directly collectible
    // (with AQE they sit inside query stages; behavior is identical).
    // On an ISOLATED session: a global AQE-off window would reshape
    // every concurrently-running suite's shuffles — written file
    // counts included — while this 20-sample loop runs (r14 flake find)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val gen = for {
        k <- Gen.chooseNum(1, 6)
        nGroups <- Gen.chooseNum(1, 8)
        nRows <- Gen.chooseNum(0, 250)
        asc <- Gen.oneOf(true, false)
        vals <- Gen.listOfN(nRows,
          Gen.zip(Gen.chooseNum(0, nGroups - 1), Gen.chooseNum(0, 20)))
      } yield (k, asc, vals)
      samples(gen, 20).foreach { case (k, asc, vals) =>
        // heavy value ties + a unique id tie-break: the contract's total
        // order, exercised across random k / group cardinality / direction
        val rows = vals.zipWithIndex.map { case ((g, v), id) => (g, v.toLong, id.toLong) }
        val df = s2.createDataFrame(rows).toDF("g", "v", "id").repartition(5)
        val native = graft.plans.GroupedTopK(df, Seq("g"), Seq("v" -> asc, "id" -> true), k)
        // collect through `native` itself (`.as[...]` would wrap a fresh
        // QueryExecution and the metrics below would read an unrun plan)
        val got = native.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val w = Window.partitionBy("g")
          .orderBy(if (asc) col("v").asc else col("v").desc, col("id"))
        val expected = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .as[(Int, Long, Long)].collect().toSet
        assert(got.length == got.toSet.size, s"duplicate rows (k=$k asc=$asc)")
        assert(got.toSet == expected, s"parity failed (k=$k asc=$asc n=${rows.size})")
        val execs = native.queryExecution.executedPlan.collect {
          case e: graft.plans.GroupedTopKExec => e
        }
        assert(execs.map(_.partial).sorted == Seq(false, true))
        val fin = execs.find(!_.partial).get
        assert(fin.metrics.keySet == Set("numOutputRows", "numGroups"))
        // exact equality is valid here because local[..] runs never retry
        // or speculate tasks; per the metric scaladoc these counters are
        // per-attempt and would only over-count under retries
        assert(fin.metrics("numOutputRows").value == got.length)
        assert(fin.metrics("numGroups").value == rows.map(_._1).distinct.size)
      }
    } finally () // isolated session: nothing global to restore
  }

  test("j9 interval join plans as a hash join on bins, never a nested loop") {
    val df = graft.ops.gold.Joins.intervalBinJoin(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join degenerated to an all-pairs plan:\n$plan")
    // parity with the direct (nested-loop) theta-join expression
    val e = Tables(spark, Sf).events.select(
      col("event_id"), graft.engine.Exact.epochUs(col("ts")).as("us"),
      col("user_id"), col("value"), col("event_type"))
    val inc = e.filter(col("event_type") === "error" && col("value") > 200)
      .select(col("event_id").as("incident_id"), col("us").as("s"),
        (col("us") + graft.ops.gold.Joins.IntervalBinUs).as("en"))
    val direct = inc.join(e, col("us") >= col("s") && col("us") <= col("en"))
      .groupBy("incident_id").agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val binned = df.collect().map(r => r.getAs[Long]("incident_id") -> r.getAs[Long]("n_events")).toMap
    assert(binned == direct, "bin rewrite must match the direct theta join")
  }

  test("tx5 bigram profile runs through the native GroupedTopK pair") {
    val df = graft.ops.ext.TextAnalysis.bigramProfile(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("GroupedTopKPartial"), plan)
    assert(plan.contains("GroupedTopKFinal"), plan)
    // per-group survivor bound: exactly ≤10 bigrams per language
    val perLang = df.groupBy("lang").count().collect()
    assert(perLang.nonEmpty && perLang.forall(_.getLong(1) <= 10))
  }

  test("few-group money sums plan one aggregation level in codegen, no salt, no UDF") {
    for (name <- Seq("q1_agg", "j4_multi_join_agg", "s16_bucketed_join")) {
      val df = SparkEntry.queries(name)(spark, Sf)
      // analyzed, not optimized: the optimizer prunes the salt's name
      // (PullOutGroupingExpressions renames it) while keeping its level
      val analyzed = df.queryExecution.analyzed
      val names = analyzed.flatMap(_.expressions.flatMap(_.collect { case n: NamedExpression => n.name }))
      assert(!names.exists(_.startsWith("_salt")), s"$name:\n$analyzed")
      val opt = df.queryExecution.optimizedPlan
      assert(!opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))), s"$name:\n$opt")
      df.collect() // the final adaptive plan holds the codegen stages
      val plan = df.queryExecution.executedPlan
      val aggs = collect(plan) { case h: HashAggregateExec => h }
      assert(aggs.size == 2, s"$name: want partial + final only:\n$plan")
      val inCodegen = collect(plan) { case w: WholeStageCodegenExec =>
        w.collect { case h: HashAggregateExec => h } }.flatten
      assert(inCodegen.size == 2, s"$name: aggregates outside codegen:\n$plan")
    }
  }
}
