package graft.tools

import graft.Bench
import graft.engine.{Caching, Graft}
import org.apache.spark.sql.SparkSession

/** Interleaved A/B timing in one JVM, through [[Bench.time]]. Usage:
  * `runMain graft.tools.Probe <sfDir> <n> <query>[,<query>…] <arm> <arm> …`
  * where an arm is `label` (the session as configured) or
  * `label:conf=value[,conf=value]` (runtime SQL confs). Per query every
  * arm gets one warm run, then `n` rounds whose arm order reverses on
  * alternate rounds, so no arm always runs first. Each run sits in its
  * own Caching scope; the arm's confs are set before it and restored (or
  * unset) after. Prints each arm's raw runs and median, and its ratio
  * and pairs won against the first arm. */
object Probe {
  final case class Arm(label: String, confs: Seq[(String, String)])
  /** One timed run; `round` 0 is the warm run. */
  final case class Run(query: String, round: Int, arm: String, seconds: Double)

  def arm(spec: String): Arm = {
    val (label, confs) = spec.span(_ != ':')
    Arm(label, confs.drop(1).split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"arm conf '$kv' is not conf=value")
      kv.take(i) -> kv.drop(i + 1)
    })
  }

  /** Every run, in the order it ran. */
  def runs(spark: SparkSession, sfDir: String, n: Int, queries: Seq[String],
           arms: Seq[Arm]): Seq[Run] = {
    require(n >= 1 && arms.map(_.label).distinct.size == arms.size,
      "need n >= 1 and distinct arm labels")
    def once(q: String, round: Int, a: Arm): Run = {
      val prior = a.confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
      try {
        a.confs.foreach { case (k, v) => spark.conf.set(k, v) }
        Run(q, round, a.label, Caching.scoped(Bench.time(spark, sfDir, q)))
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    for (q <- queries; round <- 0 to n;
         a <- if (round % 2 == 0) arms else arms.reverse) yield once(q, round, a)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Probe <sfDir> <n> <query>[,<query>...] <arm> <arm> ...")
    val queries = args(2).split(",").toSeq
    val arms = args.drop(3).toSeq.map(arm)
    val spark = Graft.configure(
      SparkSession.builder().master(s"local[${Graft.cpus}]")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = runs(spark, args(0), args(1).toInt, queries, arms)
    for (q <- queries.distinct) {
      def timed(a: Arm) = all.filter(r => r.query == q && r.arm == a.label && r.round > 0)
        .sortBy(_.round).map(_.seconds)
      val base = timed(arms.head)
      arms.foreach { a =>
        val ts = timed(a)
        val won = ts.zip(base).count { case (t, b) => t < b }
        println(f"[probe] $q%-22s ${a.label}%-12s median ${Bench.median(ts)}%.3f s " +
          f"x${Bench.median(ts) / Bench.median(base)}%.3f won $won/${ts.size} " +
          ts.map(t => f"$t%.3f").mkString("[", ",", "]"))
      }
    }
    spark.stop()
  }
}
