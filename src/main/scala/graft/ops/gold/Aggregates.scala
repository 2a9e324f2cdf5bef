package graft.ops.gold

import graft.engine.{Caching, Exact, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY §2.5 + capability upgrades §2.5-absent).
  * All sums that the oracle re-computes are exact; money-grain columns
  * (exact at ≤2/≤4 decimals) use the fixed-point long path
  * (Exact.fixSum — bit-identical to the decimal path at ~5× less
  * per-row cost, r17; Exact.decSum remains the form for inputs without
  * a proven decimal-width bound); averages are expressed as exact-sum /
  * count so both engines derive the identical double. Group-bys rely on
  * Catalyst's partial aggregation — the map-side combine means the
  * exchanges carry one row per (partition, group), which is what keeps
  * these healthy at 100 TB.
  */
object Aggregates {

  /** A1 at TPC-H-Q1 shape: the canonical hash aggregate. ~6 groups, so
    * each group's sum grows with the table: the sums use the carry form
    * ([[Exact.fixSumWide]]), one aggregation level, no LONG bound. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Exact.fixSumWide(col("l_quantity"), 2).as("sum_qty"),
        Exact.fixSumWide(col("l_extendedprice"), 2).as("sum_base_price"),
        Exact.fixSumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        (Exact.fixSumWide(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
        (Exact.fixSumWide(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** DECIMAL-to-the-edge twin of [[q1Agg]] (r17, SURVEY §1.4 — the
    * money-math depth row beyond `gold_fact_fee_tax_decimal`): sums,
    * min/max, and the discount product all stay exact DECIMAL with NO
    * double anywhere after the input casts. The input doubles carry ≤2
    * fractional digits (TPC-H money), so the scale-6 casts are exact on
    * both engines; the product (25,6)×(9,6) lands at scale 12 with no
    * downscale anywhere (downscales round HALF_UP in Spark but truncate
    * in DuckDB — the one decimal op the portability rules ban). The
    * money columns leave as STRING per the QueryDef edge rule (raw
    * DECIMAL output hash-mismatches the driver's canonicalizer even
    * when every digit agrees — the r16 red row). */
  def q1AggDecimal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val qty = col("l_quantity").cast(DecimalType(25, 6))
    val price = col("l_extendedprice").cast(DecimalType(25, 6))
    val disc = col("l_discount").cast(DecimalType(8, 6))
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(qty).cast(DecimalType(38, 6)).cast("string").as("sum_qty_dec"),
        sum(price).cast(DecimalType(38, 6)).cast("string").as("sum_base_price_dec"),
        sum(price * (lit(1).cast(DecimalType(8, 6)) - disc))
          .cast(DecimalType(38, 12)).cast("string").as("sum_disc_price_dec"),
        min(price).cast("string").as("min_price_dec"),
        max(price).cast("string").as("max_price_dec"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1AggDecimalOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty_dec,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price_dec,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DECIMAL(38,12)) AS VARCHAR) AS sum_disc_price_dec,
      |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS min_price_dec,
      |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS max_price_dec,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A2: scalar MAX aggregate (the incremental high-watermark probe). */
  def scalarMax(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.agg(
      max(Exact.epochMs(col("ts"))).as("max_ts_ms"),
      max(col("event_id")).as("max_event_id"),
      count(lit(1)).as("n"))

  val scalarMaxOracle: String =
    "SELECT max(epoch_ms(ts)) AS max_ts_ms, max(event_id) AS max_event_id, count(*) AS n FROM events"

  /** A3: first-non-null / first-per-key pick, made deterministic with a
    * total order (ts, event_id) — the Spark-idiomatic form of
    * `df["event_time"].dropna().iloc[0]`. */
  def firstPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event_id"),
        col("event_type").as("first_type"), col("value").as("first_value"))
      .orderBy("user_id")
  }

  val firstPerKeyOracle: String =
    """SELECT user_id, event_id AS first_event_id, event_type AS first_type,
      |       value AS first_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
      |ORDER BY user_id""".stripMargin

  /** A5 + per-group counts. */
  def counts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  val countsOracle: String =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Distinct aggregates (capability: §2.5 "absent" row). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  val distinctAggOracle: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP grouping sets (capability row). Spark's `rollup` and DuckDB's
    * GROUP BY ROLLUP agree on NULL-filled subtotal rows; ordering pins
    * NULLS FIRST explicitly (the engines' default null order differs). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("l_quantity"), 2).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val rollupAggOracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** approx_count_distinct (HLL++) — sketch output is engine-specific, so
    * rows-only check; the ScalaTest spec bounds its error vs exact. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  /** a8b: a hand-built, engine-portable HyperLogLog-style sketch — the
    * "novel sketch as composition of relational ops" capability. Spark's
    * builtin `approx_count_distinct` (a8) is rows-only because its HLL++
    * registers aren't reproducible outside Spark; this one is built from
    * portable primitives only (md5-prefix hash → 256 buckets on the low 8
    * bits → max trailing-zero rank per bucket → harmonic estimate), so
    * the DuckDB oracle computes the IDENTICAL estimate and the driver
    * hash-compares it.
    *
    * Distribution shape is the point: the narrow hash pass feeds a
    * two-level aggregate — per-(group, bucket) max is map-side combined,
    * then 256 rows per group collapse to the estimate. The bucket terms
    * sum as exact integers (2^(53−ρ) as BIGINT — double addition order
    * would differ between engines), and the float formula runs once per
    * group on identical inputs. At 100 TB this is the mergeable-sketch
    * pattern: partitions sketch independently, merge = max per bucket. */
  def hllSketchDistinct(spark: SparkSession, dir: String): DataFrame = {
    val m = 256
    val t = Tables(spark, dir).lineitem
    val sketch = t
      .select(col("l_returnflag"),
        expr(graft.engine.PortableHash.md5Prefix60("cast(l_partkey as string)")).as("h"))
      .withColumn("bucket", expr(s"h % $m"))
      .withColumn("w", expr(s"h div $m"))
      .withColumn("rho",
        expr("CASE WHEN w = 0 THEN 53 ELSE cast(bit_count((w & -w) - 1) as bigint) + 1 END"))
      .groupBy("l_returnflag", "bucket").agg(max("rho").as("max_rho"))
      .groupBy("l_returnflag")
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(53 - max_rho as int))")).as("s_present"),
        count(lit(1)).as("nb"))
      .withColumn("s_total",
        col("s_present") + (lit(m.toLong) - col("nb")) * expr("shiftleft(cast(1 as bigint), 53)"))
    val exact = t.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    exact.join(sketch, "l_returnflag")
      .withColumn("raw_est",
        expr(s"(0.7213d / (1d + 1.079d / $m)) * $m * $m * pow(2, 53) / s_total"))
      // standard small-range correction: below 2.5m fall back to linear
      // counting on the empty-bucket count (raw HLL overshoots there)
      .withColumn("hll_est",
        expr(s"CASE WHEN raw_est <= 2.5 * $m AND nb < $m " +
          s"THEN round($m * ln($m / (cast($m as double) - nb)), 4) " +
          "ELSE round(raw_est, 4) END"))
      .select("l_returnflag", "exact_parts", "hll_est")
      .orderBy("l_returnflag")
  }

  val hllSketchDistinctOracle: String =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem
      |),
      |r AS (
      |  SELECT l_returnflag, h % 256 AS bucket,
      |    max(CASE WHEN h // 256 = 0 THEN 53
      |             ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1 END) AS max_rho
      |  FROM h GROUP BY 1, 2
      |),
      |s AS (
      |  SELECT l_returnflag,
      |    sum(CAST(1 AS BIGINT) << CAST(53 - max_rho AS INTEGER))
      |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS s_total,
      |    count(*) AS nb
      |  FROM r GROUP BY 1
      |),
      |raw AS (
      |  SELECT l_returnflag, nb,
      |    ('0.7213'::DOUBLE / (1 + '1.079'::DOUBLE / 256)) * 256 * 256
      |      * pow(2, 53) / s_total AS raw_est
      |  FROM s
      |),
      |e AS (
      |  SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT e.l_returnflag AS l_returnflag, e.exact_parts,
      |  CASE WHEN raw_est <= 2.5 * 256 AND nb < 256
      |       THEN round(256 * ln(256 / (CAST(256 AS DOUBLE) - nb)), 4)
      |       ELSE round(raw_est, 4) END AS hll_est
      |FROM e JOIN raw ON e.l_returnflag = raw.l_returnflag
      |ORDER BY 1""".stripMargin

  /** Statistical aggregates: min/max (exact copies), stddev via exact sums
    * (single deterministic double formula on both engines), exact median
    * with linear interpolation. */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"),
        // d=4 bound OK single-level (r18 audit): qty² ≤ 2500, so
        // per-group Σ|x|·10⁴ ≈ 2×10¹³·sf over 3 groups → breach at
        // ~sf 5×10⁵, past the 100 TB design point — unlike the money
        // products (|x| ≤ ~10⁵) that forced q1/j4/s16 to two levels.
        Exact.fixSum(col("l_quantity"), 2).as("s"),
        Exact.fixSum(col("l_quantity") * col("l_quantity"), 4).as("s2"),
        expr("percentile(l_quantity, 0.5d)").as("median_qty"))
      .withColumn("stddev_qty",
        sqrt((col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1)))
      .drop("s", "s2")
      .orderBy("l_returnflag")

  val statsAggOracle: String =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |    count(*) AS n,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS s,
      |    CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS s2,
      |    CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, min_qty, max_qty, n, median_qty,
      |       sqrt((s2 - s * s / n) / (n - 1)) AS stddev_qty
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** a11: exact multi-quantile profile (p25/p50/p75/p95) of order value
    * per priority — Spark's exact `percentile` against DuckDB's
    * `quantile_cont`, both evaluated on DOUBLE so the linear
    * interpolation arithmetic agrees (a9 already pins the single-median
    * case; this is the vector form a data-quality profiler emits). At
    * scale the exact form sorts within each group — acceptable at this
    * group cardinality; the sketch path (approx_percentile) would be
    * the a8-style non-portable twin if groups were unbounded. */
  def quantileProfile(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy("o_orderpriority")
      .agg(expr(
        "percentile(cast(o_totalprice as double), array(0.25d, 0.5d, 0.75d, 0.95d))").as("q"))
      .select(col("o_orderpriority"),
        round(element_at(col("q"), 1), 6).as("p25"),
        round(element_at(col("q"), 2), 6).as("p50"),
        round(element_at(col("q"), 3), 6).as("p75"),
        round(element_at(col("q"), 4), 6).as("p95"))
      .orderBy("o_orderpriority")

  val quantileProfileOracle: String =
    """WITH g AS (
      |  SELECT o_orderpriority,
      |         quantile_cont(CAST(o_totalprice AS DOUBLE), [0.25, 0.5, 0.75, 0.95]) AS q
      |  FROM orders GROUP BY o_orderpriority
      |)
      |SELECT o_orderpriority,
      |       round(q[1], 6) AS p25, round(q[2], 6) AS p50,
      |       round(q[3], 6) AS p75, round(q[4], 6) AS p95
      |FROM g ORDER BY o_orderpriority""".stripMargin

  /** Accuracy knob for a11b (max rank error = 1/accuracy · N). */
  val ApproxQuantileAccuracy = 10000

  /** a11b: the SKETCH form of a11 — `approx_percentile` (Greenwald-
    * Khanna / KLL-style mergeable summary). At 100 TB the exact
    * `percentile` materializes every group's values; the sketch is
    * fixed-size per group and merges associatively, which is THE
    * quantile profiler a petabyte table gets (same exact→sketch
    * trade-off as a8→a8b for distinct counts). Rows-only: sketch
    * internals aren't portable across engines — AggregatesSpec bounds
    * each approximation against the exact a11 answer by the published
    * rank-error guarantee instead. */
  def approxQuantileProfile(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy("o_orderpriority")
      .agg(expr(
        s"approx_percentile(cast(o_totalprice as double), " +
          s"array(0.25d, 0.5d, 0.75d, 0.95d), $ApproxQuantileAccuracy)").as("q"))
      .select(col("o_orderpriority"),
        round(element_at(col("q"), 1), 6).as("p25"),
        round(element_at(col("q"), 2), 6).as("p50"),
        round(element_at(col("q"), 3), 6).as("p75"),
        round(element_at(col("q"), 4), 6).as("p95"))
      .orderBy("o_orderpriority")

  /** CUBE grouping sets (all 4 combinations of the two dims). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val cubeAggOracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** a12: explicit GROUPING SETS — the general form a7's rollup and
    * a10's cube specialize (per-status totals alongside per-priority
    * totals in ONE pass: Expand + one shuffled aggregate, vs two
    * separate scans+aggs unioned). The sets chosen have no overlapping
    * all-null row, so output rows are identified by which key is null —
    * no grouping_id bit-order portability hazard in the compare. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val groupingSetsAggOracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** The pivoted event types, fixed up front: an explicit value list
    * makes pivot a static Expand+aggregate (one pass); omitting it
    * costs a whole extra distinct-values job before the plan can even
    * be built — the classic accidental double scan at scale. */
  val PivotEventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** a13: PIVOT — long-to-wide reshape (daily value by event type as
    * columns), the reporting-layer op every warehouse stack ships.
    * Exact decimal sums per cell; the oracle restates the pivot as
    * FILTER aggregates, which is also its physical shape. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .groupBy("event_date")
      .pivot("event_type", PivotEventTypes)
      .agg(Exact.fixSum(col("value"), 2))
      .select(col("event_date") +: PivotEventTypes.map(t => col(t).as(s"sum_$t")): _*)
      .orderBy("event_date")

  val pivotAggOracle: String = {
    val cells = PivotEventTypes.map { t =>
      s"""  CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) FILTER (WHERE event_type = '$t')
         |    AS DECIMAL(25,6)) AS DOUBLE) AS sum_$t""".stripMargin
    }.mkString(",\n")
    s"""SELECT CAST(ts AS DATE) AS event_date,
      |$cells
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin
  }

  /** a15: UNPIVOT / melt — a13's inverse (wide metric columns back to
    * (metric, value) rows), via the `stack()` table-generating
    * expression: a single Generate node, one output row per (input
    * row × metric), no shuffle at all until the demonstrative
    * re-aggregation. The pair matters operationally: pivot for the
    * report, unpivot to get the report BACK into the long form every
    * other operator speaks. */
  def unpivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("totalprice"),
        col("o_custkey").cast("double").as("custkey"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("stack(2, 'totalprice', totalprice, 'custkey', custkey)")
          .as(Seq("metric", "value")))
      .groupBy("o_orderpriority", "metric")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("value"), 2).as("sum_value"))
      .orderBy("o_orderpriority", "metric")

  val unpivotAggOracle: String =
    """WITH u AS (
      |  SELECT o_orderkey, o_orderpriority, 'totalprice' AS metric,
      |         CAST(o_totalprice AS DOUBLE) AS value FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, 'custkey',
      |         CAST(o_custkey AS DOUBLE) FROM orders)
      |SELECT o_orderpriority, metric, count(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_value
      |FROM u GROUP BY 1, 2 ORDER BY o_orderpriority, metric""".stripMargin

  /** MG counter budget for a14. The sketch guarantee (undercount
    * ≤ N/(k+1), Misra-Gries 1982; preserved under the subtract-pivot
    * merge of Agarwal et al. 2013 "Mergeable Summaries") needs
    * k+1 > [[HeavyHitterFrac]] so every true heavy hitter survives
    * pass 1 with a positive counter. */
  val HeavyHitterK = 256

  /** a14 threshold divisor: a token is a heavy hitter iff its exact
    * count ≥ ceil(N / frac). */
  val HeavyHitterFrac = 40

  /** Misra-Gries summary: ≤ k counters plus the processed-item total. */
  final case class MgSummary(counts: Map[String, Long], n: Long)

  /** The MG frequency sketch as a typed `Aggregator` — associative and
    * commutative, so Catalyst runs it partial/final: each map task
    * sends ONE ≤k-entry summary across the exchange, never a
    * vocabulary-sized map. Merge combines counts then subtracts the
    * (k+1)-th largest (the mergeable-summaries pivot trim), which
    * keeps the ε = 1/(k+1) undercount bound. */
  final class MisraGries(k: Int) extends Aggregator[String, MgSummary, MgSummary] {
    override def zero: MgSummary = MgSummary(Map.empty, 0L)
    override def reduce(b: MgSummary, t: String): MgSummary = {
      val c = b.counts
      val next =
        if (c.contains(t)) c.updated(t, c(t) + 1L)
        else if (c.size < k) c.updated(t, 1L)
        else c.collect { case (key, v) if v > 1L => key -> (v - 1L) }
      MgSummary(next, b.n + 1L)
    }
    override def merge(a: MgSummary, b: MgSummary): MgSummary = {
      val sum = (a.counts.keySet ++ b.counts.keySet).iterator
        .map(key => key -> (a.counts.getOrElse(key, 0L) + b.counts.getOrElse(key, 0L)))
        .toMap
      val trimmed =
        if (sum.size <= k) sum
        else {
          val pivot = sum.values.toIndexedSeq.sortBy(-_)(Ordering.Long).apply(k)
          sum.collect { case (key, v) if v > pivot => key -> (v - pivot) }
        }
      MgSummary(trimmed, a.n + b.n)
    }
    override def finish(r: MgSummary): MgSummary = r
    override def bufferEncoder: Encoder[MgSummary] = Encoders.product[MgSummary]
    override def outputEncoder: Encoder[MgSummary] = Encoders.product[MgSummary]
  }

  /** a14: corpus heavy hitters by the TWO-PASS sketch protocol — the
    * only shape that works when the key space itself doesn't fit
    * anywhere: (1) one pass folds every partition into a ≤k-counter
    * Misra-Gries summary (map-side partials, k-sized merges — the
    * vocabulary NEVER shuffles); (2) the ≤k surviving candidates — a
    * bounded O(k) driver collect, like a join's broadcast side — are
    * exact-counted with an `isin` pushdown filter, and the threshold
    * cuts the verified set. Because threshold N/[[HeavyHitterFrac]]
    * exceeds the sketch's N/(k+1) undercount, every true heavy hitter
    * is guaranteed a surviving counter: the approximate pass has
    * perfect recall and the exact pass kills its false positives, so
    * the final answer is EXACT and stays DuckDB-oracle-checkable (same
    * one-sided-error argument as dd9's bloom prefilter). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Caching.persist(
      Tables(spark, dir).documents
        .select(explode(split(trim(col("text")), "\\s+")).as("token")))
    val sketch = toks.as[String]
      .select(new MisraGries(HeavyHitterK).toColumn).head()
    val threshold = (sketch.n + HeavyHitterFrac - 1) / HeavyHitterFrac
    val candidates = sketch.counts.keys.toSeq
    toks.filter(col("token").isin(candidates: _*))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") >= threshold)
      .orderBy("token")
  }

  val heavyHittersOracle: String =
    s"""WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
      |SELECT token, count(*) AS c FROM t GROUP BY token
      |HAVING count(*) >= (SELECT CAST(ceil(count(*) / $HeavyHitterFrac.0) AS BIGINT) FROM t)
      |ORDER BY token""".stripMargin

  /** a16: cohort retention matrix — the BI staple over the event
    * stream: users grouped by first-seen day (their cohort), activity
    * counted as distinct users per (cohort, days-since-first-seen).
    * Two aggregates and one user_id-keyed join: the first-seen table is
    * |users| rows (AQE broadcasts it when small; at 100 TB both sides
    * hash-partition on user_id — no window, no self-join over events).
    * The diagonal property (age-0 count = cohort size) is pinned in
    * PropertiesSpec. Ref analog: the reference's BigQuery marts layer
    * computes daily revenue rollups (`dbt_project/models/marts/
    * fct_fee_tax_revenue.sql`); retention is the same shape over users
    * instead of fees. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = ev.groupBy("user_id").agg(min(col("d")).as("cohort_date"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).cast("bigint").as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_date", "age_days")
  }

  val retentionCohortsOracle: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY 1)
      |SELECT c.cohort_date,
      |       CAST(date_diff('day', c.cohort_date, ev.d) AS BIGINT) AS age_days,
      |       count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_date, age_days""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("q1_agg", q1AggOracle)(q1Agg),
    QueryDef.sql("a1b_agg_decimal", q1AggDecimalOracle)(q1AggDecimal),
    QueryDef.sql("a16_retention_cohorts", retentionCohortsOracle)(retentionCohorts),
    QueryDef.sql("a10_cube", cubeAggOracle)(cubeAgg),
    QueryDef.sql("a2_scalar_max", scalarMaxOracle)(scalarMax),
    QueryDef.sql("a3_first_per_key", firstPerKeyOracle)(firstPerKey),
    QueryDef.sql("a5_counts", countsOracle)(counts),
    QueryDef.sql("a6_distinct_agg", distinctAggOracle)(distinctAgg),
    QueryDef.sql("a7_rollup", rollupAggOracle)(rollupAgg),
    QueryDef.rowsOnly("a8_approx_distinct")(approxDistinct),
    QueryDef.sql("a8b_hll_sketch", hllSketchDistinctOracle)(hllSketchDistinct),
    QueryDef.sql("a9_stats_agg", statsAggOracle)(statsAgg),
    QueryDef.sql("a11_quantile_profile", quantileProfileOracle)(quantileProfile),
    QueryDef.rowsOnly("a11b_approx_quantile")(approxQuantileProfile),
    QueryDef.sql("a12_grouping_sets", groupingSetsAggOracle)(groupingSetsAgg),
    QueryDef.sql("a13_pivot", pivotAggOracle)(pivotAgg),
    QueryDef.sql("a14_heavy_hitters", heavyHittersOracle)(heavyHitters),
    QueryDef.sql("a15_unpivot", unpivotAggOracle)(unpivotAgg))
}
