package graft

import graft.engine.Exact
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** r17 optimization: [[Exact.fixSum]] replaced [[Exact.decSum]] on the
  * gold/event-time money aggregates (three decimal sums cost 1.44 s vs
  * 0.26 s fixed-point over one 600k-row scan task at sf0.1). The swap is
  * sound ONLY if the two paths are bit-identical on the input domains
  * involved — these tests pin that equality on every fixture money
  * column, every touched query shape, and a randomized money domain
  * (including nulls, negatives, group-level all-null), and pin the
  * carry form [[Exact.fixSumWide]] equal to both.
  */
class FixSumSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val t = graft.engine.Tables(spark, Sf)

  private def assertEqual(df: org.apache.spark.sql.DataFrame,
                          dec: org.apache.spark.sql.Column,
                          fix: org.apache.spark.sql.Column,
                          keys: Seq[String]): Unit = {
    val diffs = df.groupBy(keys.map(col): _*)
      .agg(dec.as("dec"), fix.as("fix"))
      .filter(col("dec") =!= col("fix") ||
        (col("dec").isNull !== col("fix").isNull))
      .count()
    assert(diffs === 0L)
  }

  test("fixSum == decSum on every fixture money column") {
    val li = t.lineitem
    assertEqual(li, Exact.decSum(col("l_quantity")),
      Exact.fixSum(col("l_quantity"), 2), Seq("l_returnflag", "l_linestatus"))
    assertEqual(li, Exact.decSum(col("l_extendedprice")),
      Exact.fixSum(col("l_extendedprice"), 2), Seq("l_returnflag", "l_linestatus"))
    assertEqual(li,
      Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
      Exact.fixSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4),
      Seq("l_returnflag", "l_linestatus"))
    assertEqual(li, Exact.decSum(col("l_quantity") * col("l_quantity")),
      Exact.fixSum(col("l_quantity") * col("l_quantity"), 4), Seq("l_returnflag"))
    assertEqual(t.orders, Exact.decSum(col("o_totalprice")),
      Exact.fixSum(col("o_totalprice"), 2), Seq("o_orderstatus"))
    assertEqual(t.events, Exact.decSum(col("value")),
      Exact.fixSum(col("value"), 2), Seq("event_type"))
  }

  test("fixSumRaw == decSumRaw (type and value) for Revenue's notional") {
    val notional =
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("notional")
    val dec = t.lineitem.select(col("l_returnflag").as("k"), notional)
      .groupBy("k").agg(Exact.decSumRaw(col("notional")).as("s"))
    val fix = t.lineitem.select(col("l_returnflag").as("k"), notional)
      .groupBy("k").agg(Exact.fixSumRaw(col("notional"), 4).as("s"))
    assert(dec.schema("s").dataType === fix.schema("s").dataType) // DECIMAL(25,6)
    val d = dec.collect().map(r => r.get(0) -> r.get(1)).toMap
    val f = fix.collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(d === f)
  }

  test("fixSum == decSum on randomized money domains (nulls, negatives)") {
    // 2-decimal money up to 1e6 in magnitude, 4-decimal products up to
    // 1e5, ~5% nulls, one group entirely null
    val money2 = Gen.chooseNum(-100000000L, 100000000L).map(c => c / 100.0)
    val money4 = Gen.chooseNum(-1000000000L, 1000000000L).map(c => c / 10000.0)
    def rows(g: Gen[Double], n: Int): Seq[(Int, Option[Double])] =
      (0 until n).map { i =>
        val v = if (i % 20 == 19) None
                else g.apply(Gen.Parameters.default, Seed(i.toLong))
        (if (i % 100 == 0) 9999 else i % 7, v) // group 9999 gets ~1% of rows
      } ++ Seq((12345, None), (12345, None)) // an all-null group
    val df2 = rows(money2, 5000).toDF("k", "v")
    assertEqual(df2, Exact.decSum(col("v")), Exact.fixSum(col("v"), 2), Seq("k"))
    val df4 = rows(money4, 5000).toDF("k", "v")
    assertEqual(df4, Exact.decSum(col("v")), Exact.fixSum(col("v"), 4), Seq("k"))
  }

  /** `fixSumWide` (the carry aggregate at the few-group sites q1/j4/s16)
    * against BOTH decSum and single-level fixSum, per group. */
  private def assertWide(df: org.apache.spark.sql.DataFrame, v: org.apache.spark.sql.Column,
                         d: Int, keys: Seq[String]): Unit = {
    val out = df.groupBy(keys.map(col): _*)
      .agg(Exact.fixSumWide(v, d).as("wide"), Exact.decSum(v).as("dec"),
        Exact.fixSum(v, d).as("one"))
    assert(out.schema("wide").dataType === out.schema("dec").dataType)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Any]("wide") == r.getAs[Any]("dec"), r)
      assert(r.getAs[Any]("wide") == r.getAs[Any]("one"), r)
    }
  }

  /** Seeded 4-decimal domain: ~5% nulls, negatives, a rare group
    * (9999, ~1% of rows) and an all-null group (12345). */
  private def money4Rows: Seq[(Int, Option[Double])] = {
    val money4 = Gen.chooseNum(-1000000000L, 1000000000L).map(c => c / 10000.0)
    (0 until 5000).map { i =>
      val v = if (i % 20 == 19) None
              else money4.apply(Gen.Parameters.default, Seed(i.toLong))
      (if (i % 100 == 0) 9999 else i % 7, v)
    } ++ Seq((12345, None), (12345, None))
  }

  test("fixSumWide == decSum == fixSum on the fixture money columns") {
    val li = t.lineitem
    val keys = Seq("l_returnflag", "l_linestatus")
    assertWide(li, col("l_quantity"), 2, keys)
    assertWide(li, col("l_extendedprice"), 2, keys)
    assertWide(li, col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4, keys)
    assertWide(t.orders, col("o_totalprice"), 2, Seq("o_orderstatus"))
  }

  test("fixSumWide == decSum == fixSum on the seeded d=4 domain (nulls, negatives, all-null group)") {
    val df = money4Rows.toDF("k", "v")
    assertWide(df, col("v"), 4, Seq("k"))
    val allNull = df.filter(col("k") === 12345)
      .agg(Exact.fixSumWide(col("v"), 4).as("s")).collect().head
    assert(allNull.isNullAt(0))
  }

  test("fixSumWide == decSum == fixSum with one group split across >= 3 partitions") {
    val df = money4Rows.toDF("k", "v").repartition(4)
    assert(df.filter(col("k") === 0).select(spark_partition_id()).distinct().count() >= 3)
    assertWide(df, col("v"), 4, Seq("k"))
  }

  test("fixSumWide carries past 2^63 where fixSum overflows") {
    // 4,000 rows alternating 9.0e13 / -3.0e13 over 3 keys at d=4: each
    // key's scaled total (~1.6e20) passes 2^63 (~9.2e18), while the
    // DECIMAL(25,6) output still holds it.
    val df = (0 until 4000).map(i => (i % 3, if (i % 2 == 0) 9.0e13 else -3.0e13))
      .toDF("k", "v").repartition(3)
    val wide = df.groupBy("k").agg(Exact.fixSumWide(col("v"), 4).as("s"))
    val dec = df.groupBy("k").agg(Exact.decSum(col("v")).as("s"))
    def m(x: org.apache.spark.sql.DataFrame) = x.collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(m(wide) === m(dec))
    val e = intercept[Exception](df.groupBy("k").agg(Exact.fixSum(col("v"), 4)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("ARITHMETIC_OVERFLOW")), e)
  }

  test("fixSum diverges on >scale-decimal inputs (the documented ban)") {
    // 1.0000025's shortest repr rounds HALF_UP to 1.000003 in the
    // decimal cast, but its binary value sits below the midpoint, so
    // the fixed-point path yields 1.000002 — the reason fixSum is
    // reserved for inputs exact at <= `decimals` digits.
    val df = Seq((1, 1.0000025)).toDF("k", "v")
    val dec = df.groupBy("k").agg(Exact.decSum(col("v"))).collect().head.getDouble(1)
    val fix = df.groupBy("k").agg(Exact.fixSum(col("v"), 6)).collect().head.getDouble(1)
    assert(dec === 1.000003 && fix === 1.000002)
  }
}
