package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite with SparkFixture {
  private val Parts = "spark.sql.shuffle.partitions"
  private val Unset = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
  private val arms = Seq(Probe.arm("base"),
    Probe.arm(s"p3:$Parts=3,$Unset=7"))

  test("arms alternate order per round, n timed runs each, confs restored") {
    val parts0 = spark.conf.get(Parts)
    assert(spark.conf.getAll.get(Unset).isEmpty, s"$Unset must start unset")
    assert(arms(1).confs == Seq(Parts -> "3", Unset -> "7"))
    val rs = Probe.runs(spark, Sf, 2, Seq("q1_agg"), arms)
    assert(rs.map(r => (r.round, r.arm)) == Seq(
      0 -> "base", 0 -> "p3", 1 -> "p3", 1 -> "base", 2 -> "base", 2 -> "p3"))
    arms.foreach(a => assert(rs.count(r => r.arm == a.label && r.round > 0) == 2))
    assert(rs.forall(r => r.query == "q1_agg" && r.seconds > 0))
    assert(spark.conf.get(Parts) == parts0)
    assert(spark.conf.getAll.get(Unset).isEmpty)
  }

  test("an unknown query throws (no -1 sentinel) and still restores confs") {
    val parts0 = spark.conf.get(Parts)
    intercept[NoSuchElementException] {
      Probe.runs(spark, Sf, 1, Seq("no_such_query"), arms.reverse)
    }
    assert(spark.conf.get(Parts) == parts0)
    assert(spark.conf.getAll.get(Unset).isEmpty)
  }
}
