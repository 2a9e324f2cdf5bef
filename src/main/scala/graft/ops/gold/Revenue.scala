package graft.ops.gold

import graft.engine.{Exact, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-layer revenue build — the reference's core business pipeline
  * (`/root/reference/producer/build_fact_fee_tax.py:97-109`) re-expressed
  * Spark-first on the driver fixtures:
  *
  *   silver trades (lineitem: notional = extendedprice * (1-discount))
  *   → group-sum per (event_date, symbol)            [SURVEY A1]
  *   → left join broadcast fee/tax rules dim          [SURVEY J1]
  *   → null defaults (region 'EU', zero rates)        [SURVEY P9]
  *   → bps rate arithmetic                            [SURVEY P8]
  *   → pruned projection                              [SURVEY P5]
  *
  * Scale notes: the single shuffle is the group-by on
  * (event_date, symbol) — low-cardinality keys with map-side partial
  * aggregation, so it reduces ~everything before the exchange. The rules
  * dim is explicitly `broadcast()` (J1 semantics: join AFTER aggregation,
  * so the join input is tiny regardless of fact size).
  */
object Revenue {

  /** Fee/tax rules dim. The reference reads this from a CSV that is not in
    * its repo (`build_fact_fee_tax.py:40-44`); we keep the recovered schema
    * (symbol, region, fee_rate_bps, tax_rate_bps) and deterministic
    * contents. 'R' is deliberately absent to exercise the P9 defaults. */
  val rulesRows: Seq[(String, String, Double, Double)] = Seq(
    ("A", "EU", 25.0, 10.0),
    ("N", "US", 30.0, 5.0))

  def rulesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rulesRows.toDF("symbol", "region", "fee_rate_bps", "tax_rate_bps")
  }

  /** Silver view of lineitem as trade events (SURVEY §7 domain mapping). */
  def silverTrades(t: Tables): DataFrame =
    t.lineitem.select(
      to_date(col("l_shipdate")).as("event_date"),
      col("l_returnflag").as("symbol"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("notional"))

  /** Oracle-parity discipline for money math (see QueryDef scaladoc):
    * double sums are order-sensitive across engines, so aggregate in exact
    * DECIMAL, never downscale a decimal (Spark rounds HALF_UP, DuckDB
    * truncates), and cast the exact decimal to DOUBLE only at the end. */
  def factFeeTax(spark: SparkSession, dir: String): DataFrame = {
    val j = feeTaxJoined(spark, dir)
    j.frame
      .select(
        col("event_date"),
        col("symbol"),
        coalesce(col("region"), lit("EU")).as("region"),
        col("tn_dec").cast("double").as("traded_notional"),
        (col("tn_dec") * coalesce(col("fee_rate"), j.zeroRate)).cast("double").as("fee_revenue"),
        (col("tn_dec") * coalesce(col("tax_rate"), j.zeroRate)).cast("double").as("tax_collected"))
      .orderBy("event_date", "symbol")
  }

  /** The shared agg→broadcast-join core of both fact builds. */
  private case class FeeTaxJoined(frame: DataFrame,
                                  zeroRate: org.apache.spark.sql.Column)
  private def feeTaxJoined(spark: SparkSession, dir: String): FeeTaxJoined = {
    val t = Tables(spark, dir)
    import org.apache.spark.sql.types.DecimalType
    val agg = silverTrades(t)
      // d=4 overflow bound (r18 audit): the group key (event_date,
      // symbol) GROWS with the corpus — per-group volume is one
      // symbol-day of trades, so Σ|notional|·10⁴ per group stays
      // ~2×10¹²·sf/(days·symbols) ≪ 2⁶³ at sf 10⁵ (≈4×10⁶ bound).
      // So the one-LONG fixSum applies (Exact's overflow policy); the
      // carry form (fixSumWide) is for fixed, few-group keys.
      .groupBy("event_date", "symbol")
      .agg(Exact.fixSumRaw(col("notional"), 4).as("tn_dec"))
    val rules = rulesDf(spark)
      .withColumn("fee_rate", (col("fee_rate_bps") / 10000.0).cast(DecimalType(8, 6)))
      .withColumn("tax_rate", (col("tax_rate_bps") / 10000.0).cast(DecimalType(8, 6)))
    FeeTaxJoined(agg.join(broadcast(rules), Seq("symbol"), "left_outer"),
      lit(0.0).cast(DecimalType(8, 6)))
  }

  /** DECIMAL(38,10) twin of [[factFeeTax]] (r16, SURVEY §1.4 — the
    * idiomatic upgrade the reference's float64 money math forgoes,
    * `build_fact_fee_tax.py:52-56`): the same agg→broadcast-join, but
    * money STAYS decimal to the output edge — no double anywhere after
    * the one proven-portable `CAST(notional AS DECIMAL(25,6))`.
    * Oracle-portability proof for the edge casts: the Spark product
    * type is DECIMAL(34,12) (25+8+1, 6+6) and DuckDB's DECIMAL(33,12);
    * the explicit DECIMAL(38,10) cast drops scale 12→10, which rounds
    * HALF_UP in Spark but TRUNCATES in DuckDB — sound here ONLY
    * because digits 11-12 are zero by construction (tn_dec carries 6
    * fractional digits, the bps rates ≤4 significant fractional
    * digits, so every product has ≤10), making the downscale exact on
    * both engines. A rate table with >4 fractional digits would need
    * scale ≥ 6+that; widen `out` before widening the rates.
    *
    * Edge rendering (r17): the money columns leave as STRING, not raw
    * DECIMAL — the driver's canonicalizer renders Spark-parquet and
    * DuckDB decimals differently even when every digit agrees (r16 red
    * row; see QueryDef scaladoc). Full-scale decimal→string rendering
    * agrees on both engines, so the scale-10 fidelity stays visible in
    * the compared output. */
  def factFeeTaxDecimal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val out = DecimalType(38, 10)
    val j = feeTaxJoined(spark, dir)
    j.frame
      .select(
        col("event_date"),
        col("symbol"),
        coalesce(col("region"), lit("EU")).as("region"),
        col("tn_dec").cast(out).cast("string").as("traded_notional_dec"),
        (col("tn_dec") * coalesce(col("fee_rate"), j.zeroRate)).cast(out).cast("string").as("fee_revenue_dec"),
        (col("tn_dec") * coalesce(col("tax_rate"), j.zeroRate)).cast(out).cast("string").as("tax_collected_dec"))
      .orderBy("event_date", "symbol")
  }

  val factFeeTaxOracle: String =
    """WITH silver AS (
      |  SELECT CAST(l_shipdate AS DATE) AS event_date, l_returnflag AS symbol,
      |         l_extendedprice * (1 - l_discount) AS notional
      |  FROM lineitem
      |), agg AS (
      |  SELECT event_date, symbol,
      |         CAST(SUM(CAST(notional AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS tn_dec
      |  FROM silver GROUP BY 1, 2
      |), rules AS (
      |  SELECT symbol, region,
      |         CAST(fee_rate_bps / 10000.0 AS DECIMAL(8,6)) AS fee_rate,
      |         CAST(tax_rate_bps / 10000.0 AS DECIMAL(8,6)) AS tax_rate
      |  FROM (VALUES ('A','EU',25.0,10.0), ('N','US',30.0,5.0))
      |    AS r(symbol, region, fee_rate_bps, tax_rate_bps)
      |)
      |SELECT a.event_date, a.symbol,
      |       COALESCE(r.region, 'EU') AS region,
      |       CAST(a.tn_dec AS DOUBLE) AS traded_notional,
      |       CAST(a.tn_dec * COALESCE(r.fee_rate, CAST(0.0 AS DECIMAL(8,6))) AS DOUBLE) AS fee_revenue,
      |       CAST(a.tn_dec * COALESCE(r.tax_rate, CAST(0.0 AS DECIMAL(8,6))) AS DOUBLE) AS tax_collected
      |FROM agg a LEFT JOIN rules r USING (symbol)
      |ORDER BY a.event_date, a.symbol""".stripMargin

  val factFeeTaxDecimalOracle: String =
    """WITH silver AS (
      |  SELECT CAST(l_shipdate AS DATE) AS event_date, l_returnflag AS symbol,
      |         l_extendedprice * (1 - l_discount) AS notional
      |  FROM lineitem
      |), agg AS (
      |  SELECT event_date, symbol,
      |         CAST(SUM(CAST(notional AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS tn_dec
      |  FROM silver GROUP BY 1, 2
      |), rules AS (
      |  SELECT symbol, region,
      |         CAST(fee_rate_bps / 10000.0 AS DECIMAL(8,6)) AS fee_rate,
      |         CAST(tax_rate_bps / 10000.0 AS DECIMAL(8,6)) AS tax_rate
      |  FROM (VALUES ('A','EU',25.0,10.0), ('N','US',30.0,5.0))
      |    AS r(symbol, region, fee_rate_bps, tax_rate_bps)
      |)
      |SELECT a.event_date, a.symbol,
      |       COALESCE(r.region, 'EU') AS region,
      |       CAST(CAST(a.tn_dec AS DECIMAL(38,10)) AS VARCHAR) AS traded_notional_dec,
      |       CAST(CAST(a.tn_dec * COALESCE(r.fee_rate, CAST(0.0 AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS fee_revenue_dec,
      |       CAST(CAST(a.tn_dec * COALESCE(r.tax_rate, CAST(0.0 AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS tax_collected_dec
      |FROM agg a LEFT JOIN rules r USING (symbol)
      |ORDER BY a.event_date, a.symbol""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("gold_fact_fee_tax", factFeeTaxOracle)(factFeeTax),
    QueryDef.sql("gold_fact_fee_tax_decimal", factFeeTaxDecimalOracle)(factFeeTaxDecimal))
}
