package graft.engine

import graft.functions.CarrySum
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic expression helpers.
  *
  * Double sums are accumulation-order-sensitive, so any aggregate that the
  * DuckDB oracle re-computes goes through exact DECIMAL arithmetic and is
  * cast to DOUBLE only as the last step (`decSum`). Decimal values are
  * never downscaled (Spark rounds HALF_UP, DuckDB truncates — see
  * scripts/check.py history). Timestamps are compared as epoch integers
  * (`epochMs`/`epochUs`) because the two engines' parquet writers disagree
  * on tz annotation for timestamp columns.
  */
object Exact {

  /** Tie-portable 6-decimal rounding of a DOUBLE expression.
    *
    * `round(x, 6)` is NOT cross-engine-safe when x can land exactly on
    * a decimal midpoint (dyadic rationals — ratios of power-of-two
    * counts — do, constantly): Spark rounds the exact binary expansion
    * HALF_UP via BigDecimal while DuckDB multiplies and rounds the
    * double, and the two disagree on ties (observed: 1.0015625 →
    * 1.001563 vs 1.001562). This form — floor(x·1e6 + 0.5)/1e6 with
    * every literal string-cast — makes BOTH engines execute the
    * identical IEEE sequence, so whatever the tie does, it does it the
    * same way twice. Use for compared outputs whose inputs are exact
    * rationals; transcendental-valued outputs (cosines, logs) hit ties
    * with probability ~0 and keep plain round(). */
  def portableRound6(c: String): String =
    s"floor(($c) * cast('1000000' as double) + cast('0.5' as double))" +
      " / cast('1000000' as double)"

  /** DuckDB twin of [[portableRound6]] — same ops, same order. */
  def portableRound6Sql(c: String): String =
    s"floor(($c) * '1000000'::DOUBLE + '0.5'::DOUBLE) / '1000000'::DOUBLE"

  /** Exact decimal sum of a double column, surfaced as DOUBLE.
    * DuckDB mirror: CAST(CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE). */
  def decSum(c: Column): Column = decSumRaw(c).cast("double")

  /** Exact decimal sum kept as DECIMAL(25,6) for further exact math.
    * (The outer cast narrows Spark's sum precision 35→25 at the same
    * scale — a pure precision-headroom change, no value rounding.) */
  def decSumRaw(c: Column): Column =
    sum(c.cast(DecimalType(25, 6))).cast(DecimalType(25, 6))

  /** Exact fixed-point LONG sum of a double column — bit-identical to
    * [[decSum]] on inputs that are exact at ≤ `decimals` fractional
    * digits, at ~5× less per-row cost (r17 measurement: three decimal
    * sums over one 600k-row scan task cost 1.48 s vs 0.66 s fixed-point
    * vs 0.34 s raw double — Spark's Decimal update path allocates a
    * rounded BigDecimal per row, the long path is pure codegen FP).
    * Guide §2.3 "narrower types": the partial-agg shuffle row carries an
    * 8-byte long instead of a 16-byte Decimal + isEmpty flag.
    *
    * Equality proof (why this is safe to swap under an oracle that
    * still computes `SUM(CAST(x AS DECIMAL(25,6)))`):
    *   1. Per row, `cast(x as decimal(25,6))` rounds the double's
    *      shortest decimal representation HALF_UP at 6 digits. For an
    *      input exact at d ≤ 6 decimals (money: d=2; money × rate
    *      complements like `price*(1-disc)`: d=4), that IS the true
    *      rational value T — the shortest repr of such a double is the
    *      d-decimal literal it was parsed from.
    *   2. `floor(x·10^d + 0.5)` rounds the SCALED double to the nearest
    *      integer. x = T(1+ε), |ε| ≤ 2⁻⁵²; the scaled product adds one
    *      more rounding: |x·10^d − T·10^d| ≤ T·10^d·3·2⁻⁵³. With
    *      T·10^d ≤ 5×10¹¹ (the fixture domain: |money| ≤ 5×10⁵ at d=2,
    *      |products| ≤ 1.05×10⁵ at d=4) the absolute error is ≤ 3×10⁻⁴,
    *      and T·10^d is an integer, so the +0.5/floor recovers exactly
    *      T·10^d. Both paths therefore agree per row: the decimal cast
    *      holds T, the long holds T·10^d.
    *   3. A sum of exact integers is exact (the LONG `sum` throws on
    *      overflow under ANSI rather than wrapping; the carry sum cannot
    *      overflow short of the DECIMAL output); rescaling the
    *      total through DECIMAL (`×10⁻ᵈ`, exact multiply, then the
    *      scale-6 widening cast) reproduces the identical DECIMAL(25,6)
    *      value decSum's final cast sees, so the edge DOUBLE is
    *      bit-identical.
    *
    * Overflow policy — the two rules, one per form:
    *   - [[fixSum]] sums one LONG per group, so it keeps a per-GROUP
    *     bound Σ|x|·10^d < 2⁶³ (~9×10¹⁶ of summed value at d=2, ~9×10¹⁴
    *     at d=4). Use it where the group key GROWS with the data (per
    *     symbol-day, per order, the streaming aggregates), so per-group
    *     volume stays flat as the corpus grows; ANSI mode turns a breach
    *     into a thrown query, never a wrapped value.
    *   - [[fixSumWide]] sums into a two-LONG carry buffer
    *     ([[graft.functions.CarrySum]]) with no LONG bound at all; its
    *     range is the DECIMAL(25,6) output's — [[decSum]]'s own bound.
    *     Use it where the group count is fixed and small (q1, j4, s16),
    *     so each group's sum grows with the table.
    * Exactness precondition for both: inputs exact at ≤ `decimals`
    * digits and |x|·10^d ≲ 10¹² (step 2); it holds for every fixture
    * money column (FixSumSpec pins equality against decSum on fixtures
    * AND randomized money domains).
    * NEVER use on arbitrary-precision doubles — a >6-decimal input
    * rounds by its binary value here but by its shortest repr in the
    * decimal cast, and the two can disagree (e.g. 1.0000025). */
  def fixSum(c: Column, decimals: Int): Column =
    fixSumRaw(c, decimals).cast("double")

  /** [[fixSum]] kept as DECIMAL(25,6) — drop-in for [[decSumRaw]]
    * (same type, same value) where downstream exact-decimal math
    * continues (e.g. Revenue's rate products). */
  def fixSumRaw(c: Column, decimals: Int): Column =
    fixed(c, decimals)(sum)

  /** [[fixSum]] for few-group sums: the scaled LONGs are summed by the
    * carry aggregate, so no per-group LONG bound applies (see the
    * overflow policy above). Same value and type as [[fixSum]] wherever
    * that one does not overflow. It costs a second buffer LONG per
    * group, which is why [[fixSum]] stays where the group key grows. */
  def fixSumWide(c: Column, decimals: Int): Column =
    fixed(c, decimals)(x => GraftSqlBridge.column(
      CarrySum(GraftSqlBridge.expression(x)).toAggregateExpression())).cast("double")

  /** The one scale → aggregate → unscale chain of the fixed-point sums:
    * `agg` sums the scaled LONGs; its integer total is rescaled through
    * DECIMAL (`×10⁻ᵈ`, exact multiply, then the scale-6 widening cast). */
  private def fixed(c: Column, decimals: Int)(agg: Column => Column): Column = {
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    val pow = math.pow(10.0, decimals) // exact: 1, 100, 10000, 1000000
    val scaled = floor(c * lit(pow) + lit(0.5)) // LongType; null-safe
    val unscale = new java.math.BigDecimal(java.math.BigInteger.ONE, decimals)
    (agg(scaled).cast(DecimalType(25, 0)) * lit(unscale)).cast(DecimalType(25, 6))
  }

  /** [[decSum]] as a SQL fragment — the ONE definition of the
    * oracle-parity cast chain (it previously lived as four identical
    * private copies; a precision change must move every SQL surface
    * and this Column form in lockstep or one silently diverges from
    * the DuckDB oracle, r14 review find). The oracle strings still
    * restate the same chain verbatim per query — they ship to a
    * different engine, as they must. */
  def decSumSql(expr: String): String =
    s"CAST(CAST(SUM(CAST($expr AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE)"

  /** Epoch milliseconds of a (possibly NTZ) timestamp column.
    * DuckDB mirror: epoch_ms(ts). Both truncate sub-ms digits. */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Epoch microseconds. DuckDB mirror: epoch_us(ts). */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))
}
