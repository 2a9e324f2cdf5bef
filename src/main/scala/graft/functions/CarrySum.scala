package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Exact sum of a BIGINT column that cannot overflow a LONG: the buffer
  * holds `hi·2⁶² + lo` with `0 ≤ lo < 2⁶²`. Update and merge add into
  * `lo` (at most 2⁶² + |x|, so the add cannot wrap for |x| < 2⁶²), then
  * carry the bits above 2⁶² into `hi` — branch-free LONG codegen with no
  * per-row decimal. Every add is ANSI, so a wrap throws in any session.
  * Null inputs are skipped; an all-null group evaluates to NULL (`lo`
  * stays NULL until the first value), as `sum` does. */
case class CarrySum(child: Expression) extends DeclarativeAggregate
    with UnaryLike[Expression] {
  override def prettyName: String = "carry_sum"
  override def dataType: DataType = CarrySum.ResultType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects bigint, got ${child.dataType}")

  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, LongType), Literal(0L))

  /** Add `x` into (`l`, `h`); a NULL `x` leaves the buffer as it is. */
  private def carry(l: Expression, h: Expression, x: Expression): Seq[Expression] = {
    val s = Add(Coalesce(Seq(l, Literal(0L))), x, EvalMode.ANSI)
    Seq(Coalesce(Seq(BitwiseAnd(s, Literal(CarrySum.LoMask)), l)),
      Add(h, Coalesce(Seq(ShiftRight(s, Literal(62)), Literal(0L))), EvalMode.ANSI))
  }
  override lazy val updateExpressions: Seq[Expression] = carry(lo, hi, child)
  override lazy val mergeExpressions: Seq[Expression] =
    carry(lo.left, Add(hi.left, hi.right, EvalMode.ANSI), lo.right)

  /** NULL `lo` (no value seen) propagates through the add. */
  override lazy val evaluateExpression: Expression = {
    def dec(e: Expression) = Cast(e, CarrySum.ResultType)
    dec(Add(Multiply(dec(hi), Literal(Decimal(BigDecimal(1L << 62)), CarrySum.ResultType),
      EvalMode.ANSI), dec(lo), EvalMode.ANSI))
  }

  override protected def withNewChildInternal(c: Expression): CarrySum = copy(child = c)
}

object CarrySum {
  val ResultType: DecimalType = DecimalType(38, 0)
  private val LoMask: Long = (1L << 62) - 1
}
