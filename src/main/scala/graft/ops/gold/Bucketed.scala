package graft.ops.gold

import graft.engine.{Exact, Graft, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketing: the co-located join. Both fact tables are written bucketed
  * (and sorted) by the join key; a subsequent equi-join reads matching
  * buckets pairwise and needs NO shuffle of either side — at 100 TB this
  * removes the dominant cost of repeated fact⋈fact joins (the exchange),
  * which is why a real deployment buckets its biggest join keys once at
  * ingest. BucketedSpec asserts the exchange-free plan.
  */
object Bucketed {

  val NumBuckets = 8

  private def ensureBucketTables(spark: SparkSession, dir: String): (String, String) = {
    val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
    val liName = s"graft_li_bucketed_$suffix"
    val oName = s"graft_o_bucketed_$suffix"
    val t = Tables(spark, dir)
    if (!spark.catalog.tableExists(liName)) {
      t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", Graft.tmpDir(s"bucketed-li-$suffix"))
        .saveAsTable(liName)
    }
    if (!spark.catalog.tableExists(oName)) {
      t.orders.select("o_orderkey", "o_orderpriority")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", Graft.tmpDir(s"bucketed-o-$suffix"))
        .saveAsTable(oName)
    }
    (liName, oName)
  }

  /** The shuffle-free join itself (shared by the query and the spec). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (liName, oName) = ensureBucketTables(spark, dir)
    spark.table(liName)
      .join(spark.table(oName), col("l_orderkey") === col("o_orderkey"))
  }

  /** s16: revenue per order priority off the bucketed join; oracle
    * computes the same from the raw tables. */
  def bucketedJoinAgg(spark: SparkSession, dir: String): DataFrame =
    bucketedJoin(spark, dir)
      // 5 priority groups: few-group sum, carry form
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        Exact.fixSumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("o_orderpriority")

  val bucketedJoinAggOracle: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("s16_bucketed_join", bucketedJoinAggOracle)(bucketedJoinAgg))
}
