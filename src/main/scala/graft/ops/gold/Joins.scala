package graft.ops.gold

import graft.engine.{Exact, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators: the reference's single J1 (broadcast-sized left outer
  * equi-join) plus the capability rows SURVEY §2.4 lists as absent
  * (semi/anti, multi-way shuffle join, range/theta, as-of).
  *
  * Scale notes: true fixed-size dims (nation/region) are explicitly
  * `broadcast()`; SF-scaling tables (customer) carry no hint — AQE's
  * dynamic broadcast conversion decides from measured size. The
  * lineitem⋈orders join is a co-partitioned shuffle join on the fact
  * key where AQE handles skew. The as-of join is
  * keyed (per user) so it runs as one window over a per-key exchange —
  * no global sort, which is what makes it hold at 1000 executors.
  */
object Joins {

  /** GENERIC AS-OF JOIN (r14 — the reusable operator behind j6's
    * fixture-shaped query): for every left row, attach the LATEST
    * right row of the same `key` with `rightTs <= leftTs` (left-join
    * semantics — no prior right row ⇒ NULL payload), optionally
    * bounded by `toleranceMs` (the pandas `merge_asof` tolerance:
    * matches older than the budget null out).
    *
    * Shape, chosen for 100 TB: the two sides UNION into one stream
    * tagged by side, ONE exchange hash-partitions it by `key`, and a
    * running `last(…, ignoreNulls)` window forward-fills the right
    * side's payload onto left rows — no range join (whose candidate
    * blowup is quadratic in rows-per-key), no per-key driver state,
    * and the running frame streams through each partition without
    * buffering it. Right rows order BEFORE left rows at equal
    * timestamps, so a same-instant right row is visible (the `<=`).
    *
    * `direction` (r15 — full merge_asof parity): `"backward"` (the
    * default above), `"forward"` = the EARLIEST right row with
    * `rightTs >= leftTs` (the same scan, descending), `"nearest"` =
    * whichever one-sided candidate is closer in time, equal distances
    * going backward — still ONE keyed exchange (two in-partition
    * sorts), never a range join.
    *
    * Determinism: among right rows tied on `(key, rightTs)` the one
    * with the GREATEST `tieBreak` wins — callers pass a unique column
    * (an event id); the oracle restates the same rule as
    * `ORDER BY ts DESC, tieBreak DESC LIMIT 1`. The right payload
    * forward-fills as ONE STRUCT, not per column: a per-column
    * `last(ignoreNulls)` would skip a legitimately-NULL payload field
    * on the matched row and leak an OLDER row's value into it —
    * row-mixing, silent corruption; the struct is non-null per right
    * row, so the fill picks whole rows atomically (AsOfSpec pins the
    * NULL-payload case).
    *
    * NULLs follow equality-join semantics: right rows with a NULL
    * `key` or NULL `rightTs` can never match and are dropped up
    * front; left rows with a NULL key or NULL `leftTs` survive with a
    * NULL payload (the LATERAL oracle's answer for both).
    *
    * Output schema: `left.*` then the right payload (every right
    * column except `key`), in the right frame's order. Name
    * collisions between the sides fail loudly at the door (the
    * statsOrderedJoin discipline — never AMBIGUOUS_REFERENCE two
    * operators later). */
  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String, tieBreak: String,
           toleranceMs: Option[Long] = None,
           direction: String = "backward"): DataFrame =
    asOfBy(left, right, Seq(key), leftTs, rightTs, tieBreak,
      toleranceMs, direction)

  /** [[asOf]] with a COMPOSITE match key (r15 — the merge_asof
    * `by=[…]` form): every semantic is identical, the per-key
    * exchange just hash-partitions on the key TUPLE. */
  def asOfBy(left: DataFrame, right: DataFrame, keys: Seq[String],
             leftTs: String, rightTs: String, tieBreak: String,
             toleranceMs: Option[Long] = None,
             direction: String = "backward"): DataFrame = {
    val AsOfSides(lKeys, lTs, rTs, _, payload, rightK) =
      asOfSides(left, right, keys, leftTs, rightTs, tieBreak, direction)
    // one unified stream: left rows carry their columns, right rows
    // carry the payload struct; `__ts` is the shared event-time axis
    val ltag = left
      .withColumn("__ts", col(lTs))
      .withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payload.map(right.col): _*).schema.fields)))
    val rtag = rightK
      .withColumn("__ts", col(rTs))
      .withColumn("__side", lit(0))
      .withColumn("__r", struct(payload.map(col): _*))
      .drop(payload: _*)
    val lNulled = left.columns.foldLeft(rtag) { (df, c) =>
      if (df.columns.contains(c)) df // keys survive on both sides
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unioned = ltag.select(
        (left.columns.map(col) ++ Seq(col("__ts"), col("__side"), col("__r"))): _*)
      .unionByName(lNulled.select(
        (left.columns.map(col) ++ Seq(col("__ts"), col("__side"), col("__r"))): _*))
    // the running fill: in an ASCENDING scan the last right row seen
    // before a left row has the GREATEST rightTs <= leftTs (backward);
    // in a DESCENDING scan it has the SMALLEST rightTs >= leftTs
    // (forward). At equal timestamps the right row sorts before the
    // left in BOTH scans (`__side` asc), so the boundary match is
    // visible (the <= / >=); among right rows tied on (key, ts) the
    // greatest tieBreak is seen last and wins — one contract, every
    // direction.
    val tieField = col("__r")
      .getField(payload.find(_.equalsIgnoreCase(tieBreak)).get)
    // NULL-ts LEFT rows must sort FIRST in BOTH scan directions, so no
    // right row ever precedes them and the fill stays NULL (the
    // documented contract): asc defaults to nulls-first, but desc
    // defaults to NULLS LAST — the descending scans say so explicitly
    // or a NULL-ts left row would be handed the smallest-rightTs match
    // (r15 review find; right-side NULL timestamps were dropped above)
    def runningFill(tsOrd: org.apache.spark.sql.Column) =
      last(col("__r"), ignoreNulls = true).over(
        Window.partitionBy(lKeys.map(col): _*)
          .orderBy(tsOrd, col("__side").asc, tieField.asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    def rTsUs(m: org.apache.spark.sql.Column) =
      Exact.epochUs(m.getField(
        payload.find(_.equalsIgnoreCase(rTs)).getOrElse(
          throw new IllegalArgumentException(
            "asOf: toleranceMs/direction=nearest need the right " +
              "timestamp in the payload"))))
    val lUs = Exact.epochUs(col("__ts"))
    val bounded = direction match {
      case "nearest" =>
        // both one-sided candidates over the SAME keyed exchange (one
        // shuffle, two in-partition sorts), then the closer age wins;
        // equal distances go BACKWARD (the defined contract, restated
        // by the oracle's `(c.ts > p.ts) ASC` tie key). Ages compare
        // in MICROS — Spark's timestamp grain — so a sub-millisecond
        // difference can never split the operator from the oracle.
        val withB = unioned
          .withColumn("__mb", runningFill(col("__ts").asc))
          .withColumn("__mf", runningFill(col("__ts").desc_nulls_first))
          .filter(col("__side") === 1)
        val ageB = lUs - rTsUs(col("__mb"))
        val ageF = rTsUs(col("__mf")) - lUs
        val tolUs = toleranceMs.map(t => lit(t * 1000L))
        val okB = col("__mb").isNotNull &&
          tolUs.map(ageB <= _).getOrElse(lit(true))
        val okF = col("__mf").isNotNull &&
          tolUs.map(ageF <= _).getOrElse(lit(true))
        withB.withColumn("__m",
          when(okB && (!okF || ageB <= ageF), col("__mb"))
            .when(okF, col("__mf")))
      case _ =>
        val asc = direction == "backward"
        val filled = unioned
          .withColumn("__m",
            runningFill(if (asc) col("__ts").asc
              else col("__ts").desc_nulls_first))
          .filter(col("__side") === 1)
        toleranceMs match {
          case None => filled
          case Some(tol) =>
            val age = if (asc) lUs - rTsUs(col("__m"))
              else rTsUs(col("__m")) - lUs
            filled.withColumn("__m", when(age <= tol * 1000L, col("__m")))
        }
    }
    payload.foldLeft(bounded) { (df, p) =>
        df.withColumn(p, col("__m").getField(p))
      }
      .select((left.columns.toSeq ++ payload).map(col): _*)
  }

  /** Shared as-of side resolution: validated column names plus the
    * right side filtered to matchable rows (non-NULL keys/ts) with its
    * keys renamed onto the left's spelling. One door for both the
    * merged-stream ([[asOfBy]]) and broadcast ([[asOfBroadcast]])
    * rewrites, so their contracts can never drift. */
  private final case class AsOfSides(lKeys: Seq[String], lTs: String,
      rTs: String, tie: String, payload: Seq[String], rightK: DataFrame)

  private def asOfSides(left: DataFrame, right: DataFrame,
                        keys: Seq[String], leftTs: String, rightTs: String,
                        tieBreak: String, direction: String): AsOfSides = {
    require(Set("backward", "forward", "nearest").contains(direction),
      s"asOf: direction must be backward, forward, or nearest " +
        s"(the merge_asof contract), got '$direction'")
    require(keys.nonEmpty, "asOf: at least one match key")
    require(keys.map(_.toLowerCase).distinct.size == keys.size,
      s"asOf: duplicate match keys in ${keys.mkString(", ")}")
    def resolve(df: DataFrame, c: String, side: String): String =
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"asOf: no column '$c' on the $side side " +
            s"(has ${df.columns.mkString(", ")})"))
    val lKeys = keys.map(resolve(left, _, "left"))
    val lTs = resolve(left, leftTs, "left")
    val rKeys = keys.map(resolve(right, _, "right"))
    val rTs = resolve(right, rightTs, "right")
    val tie = resolve(right, tieBreak, "right")
    // the tie-break must be a right PAYLOAD column: keys are excluded
    // from the payload struct, so accepting one would surface two
    // operators later as a bare NoSuchElementException (r14 advisor find)
    if (rKeys.exists(_.equalsIgnoreCase(tie)))
      throw new IllegalArgumentException(
        s"asOf: tieBreak '$tieBreak' is a join key — ties must break " +
          "on a right payload column (pass a unique id, e.g. an event id)")
    val payload = right.columns.toSeq
      .filterNot(c => rKeys.exists(_.equalsIgnoreCase(c)))
    payload.find(p => left.columns.exists(_.equalsIgnoreCase(p))).foreach { p =>
      throw new IllegalArgumentException(
        s"asOf: right column '$p' collides with a left column — the " +
          "output carries left.* plus the right payload by name; " +
          "rename one side first")
    }
    // the union of BOTH rewrites' working names — one reserved set, so
    // a frame valid on one door is valid on the other
    val reserved = Set("__ts", "__side", "__r", "__m", "__mb", "__mf",
      "__arr", "__t", "__tb", "__p")
    (left.columns.toSeq ++ payload).find(c => reserved(c.toLowerCase))
      .foreach { c =>
        throw new IllegalArgumentException(
          s"asOf: column '$c' is reserved by the as-of rewrite; " +
            "rename it upstream")
      }
    // NULL hygiene (r14 advisor find): equality-join semantics say a
    // NULL key matches nothing and `rightTs <= leftTs` is unknown for a
    // NULL rightTs. Right rows that can never match under join
    // semantics drop HERE; NULL-key (or NULL-ts) LEFT rows then simply
    // find no fill and surface with a NULL payload, exactly the
    // LATERAL oracle's answer.
    val rightK = rKeys.zip(lKeys).foldLeft(right
        .filter(rKeys.map(col(_).isNotNull).reduce(_ && _) &&
          col(rTs).isNotNull)
        .select((rKeys ++ payload).map(right.col): _*)) {
        case (df, (rk, lk)) =>
          if (rk == lk) df else df.withColumnRenamed(rk, lk)
      }
    AsOfSides(lKeys, lTs, rTs, tie, payload, rightK)
  }

  /** BROADCAST as-of join (r16, the r15 verdict item): [[asOfBy]]'s
    * merged-stream rewrite always pays ONE keyed exchange — of the
    * FACT side, the expensive one. When the right side is dim-sized,
    * this form shuffles NOTHING on the left: the right side collapses
    * to one sorted candidate array per key (`sort_array(collect_list)`
    * — dim-scale work), that per-key table broadcast-joins onto the
    * left, and each left row binary-probes its key's array with
    * codegen-friendly array functions (`filter`/`get`). The left side
    * keeps its incoming partitioning end to end — at 100 TB the fact
    * never moves, which is the same reason J1 broadcasts its rules
    * dim.
    *
    * Semantics are [[asOfBy]]'s verbatim (one shared resolver): same
    * directions, tolerance, tie-break (greatest `tieBreak` among rows
    * tied on `(key, rightTs)` — the sort array orders by `(ts, tie)`,
    * so the LAST qualifying element is the winner), same NULL
    * contract (NULL-key/ts right rows dropped; NULL-key/ts left rows
    * surface with NULL payload — an always-NULL probe predicate keeps
    * the candidate list empty).
    *
    * Memory contract: the ENTIRE right side must fit in one broadcast
    * (the caller's assertion, or [[statsAsOf]]'s recorded-stats
    * election). Per-key arrays are probed linearly per left row —
    * right rows-per-key is expected dim-small; a right side with a
    * million rows under one key wants the merged-stream form. */
  /** MapType anywhere in a type makes it un-orderable: `sort_array` —
    * the broadcast rewrite's candidate ordering — rejects it at
    * analysis. The merged-stream form never sorts the payload, so the
    * two doors genuinely differ here; [[statsAsOf]] consults this to
    * keep electing the form that can run (r16 review find). One shared
    * predicate with ANALYZE's groupability check ([[graft.engine.Schemas]]). */
  private def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    graft.engine.Schemas.mapFree(dt)

  def asOfBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                    leftTs: String, rightTs: String, tieBreak: String,
                    toleranceMs: Option[Long] = None,
                    direction: String = "backward"): DataFrame = {
    val AsOfSides(lKeys, lTs, rTs, tie, payload, rightK) =
      asOfSides(left, right, keys, leftTs, rightTs, tieBreak, direction)
    // loud door, not an analysis-time crash two operators later
    payload.map(p => rightK.schema(p)).find(f => !orderable(f.dataType))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"asOfBroadcast: right payload column '${f.name}' has type " +
            s"${f.dataType.sql}, which cannot be sorted (MAP somewhere " +
            "in the type) — the broadcast rewrite orders candidate " +
            "arrays; use asOfBy, or drop the column upstream")
      }
    val arr = rightK
      .groupBy(lKeys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rTs).as("__t"), col(tie).as("__tb"),
        struct(payload.map(col): _*).as("__p")))).as("__arr"))
      // the candidates' sort keys in MICROS, extracted ONCE per key —
      // the interpreted HOF lambda runs over the dim-small agg output,
      // never the fact stream. The per-fact-row probe then
      // binary-searches this array via the codegen'd
      // [[graft.functions.SortedCountLte]] (O(log n)) instead of
      // filtering __arr linearly (O(n), r16 verdict #5 — rows-per-key
      // is dim-small by election, but the log probe widens the safe
      // regime at zero cost to the small case)
      .withColumn("__ts",
        transform(col("__arr"), e => Exact.epochUs(e.getField("__t"))))
    val joined = left.join(broadcast(arr), lKeys, "left")
    val lUs = Exact.epochUs(col(lTs))
    val tolUs = toleranceMs.map(t => lit(t * 1000L))
    import graft.functions.SortedBound.countLte
    val ts = col("__ts")
    val cs = col("__arr")
    // ages compare in MICROS (Spark's timestamp grain), the asOfBy
    // discipline — a sub-millisecond gap can never split the doors.
    // backward: greatest (t, tie) ≤ leftTs = the LAST element of the
    // count-≤ prefix (the array sorts by the full struct, so the run's
    // last element IS the tie-broken winner); if IT violates the
    // tolerance every earlier candidate is older still — one check
    // decides what the linear filter decided element-wise
    val nB = countLte(ts, lUs)
    val tB = get(ts, nB - 1)
    val okB = nB > 0 && tolUs.map(lUs - tB <= _).getOrElse(lit(true))
    val mB = when(okB, get(cs, nB - 1))
    // forward: first index with t ≥ leftTs is count-<(leftTs), i.e.
    // count-≤(leftTs − 1) in integer micros; the greatest tie within
    // that smallest-t run is the run's last element, count-≤(t0) − 1
    val tF = get(ts, countLte(ts, lUs - 1)) // null when no t ≥ leftTs
    val okF = tF.isNotNull && tolUs.map(tF - lUs <= _).getOrElse(lit(true))
    val mF = when(okF, get(cs, countLte(ts, tF) - 1))
    val m = direction match {
      case "forward" => mF
      case "nearest" =>
        val ageB = lUs - tB
        val ageF = tF - lUs
        // equal distances go BACKWARD, the asOfBy/oracle contract
        when(mB.isNotNull && (mF.isNull || ageB <= ageF), mB)
          .when(mF.isNotNull, mF)
      case _ => mB
    }
    joined
      .withColumn("__m", m)
      .select(left.columns.map(col).toSeq ++
        payload.map(p => col("__m").getField("__p").getField(p).as(p)): _*)
  }

  /** As-of join between LAKE tables with the rewrite CHOSEN FROM
    * RECORDED STATS (r16 — [[asOfBy]] wired into the
    * [[graft.ops.gold.Skew.strategyByStats]] door): when the right
    * table's recorded row count AND manifest byte footprint fit the
    * broadcast budgets (and the stats are fresh), [[asOfBroadcast]]
    * answers with ZERO exchange on
    * the left; otherwise, or when stats are absent/stale, the
    * merged-stream [[asOfBy]] pays its one keyed exchange. The result
    * is identical either way — only the shuffle shape changes, the
    * statsSkewJoin discipline. */
  def statsAsOf(spark: SparkSession, leftTable: String, rightTable: String,
                key: String, leftTs: String, rightTs: String,
                tieBreak: String, toleranceMs: Option[Long] = None,
                direction: String = "backward",
                broadcastMaxRows: Long = 1000000L,
                broadcastMaxBytes: Long = 256L << 20,
                maxStaleVersions: Long = 64): DataFrame = {
    import graft.ops.lake.{Analyze, Mutations, Snapshots}
    // 'k1,k2' = composite match key, the asof_join TVF spelling (','
    // can't appear in a column name)
    val keys = key.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, "statsAsOf: at least one match key")
    val left = Mutations.readMerged(spark, leftTable, mergeSchema = true)
    val right = Mutations.readMerged(spark, rightTable, mergeSchema = true)
    val fresh = Analyze.analyzedVersion(rightTable).exists(
      Snapshots.currentVersion(rightTable) - _ <= maxStaleVersions)
    // an un-orderable (map-typed) payload can only run through the
    // merged-stream door — the election must never pick a form that
    // throws (r16 review find)
    val sortable = right.schema.fields
      .filterNot(f => keys.exists(_.equalsIgnoreCase(f.name)))
      .forall(f => orderable(f.dataType))
    // the row budget alone is blind to WIDTH: a 1M-row right side of
    // wide text payloads is a multi-GB broadcast (executor OOM at the
    // exact scale this door exists for). The manifest's RECORDED file
    // sizes bound the compressed footprint — a pure driver-side log
    // fold, no per-file stat (r17: sizes ride the manifest as `sz`
    // props; a per-entry stat() here was one HEAD request per file per
    // election on object storage).
    val dimBytes = Snapshots.bytesAll(rightTable)
    if (sortable && fresh && dimBytes <= broadcastMaxBytes &&
        Analyze.rowsOf(rightTable).exists(_ <= broadcastMaxRows))
      asOfBroadcast(left, right, keys, leftTs, rightTs, tieBreak,
        toleranceMs, direction)
    else
      asOfBy(left, right, keys, leftTs, rightTs, tieBreak,
        toleranceMs, direction)
  }

  /** J1 shape beyond the flagship: customer ⟕ nation ⟕ region with
    * broadcast dims and P9 null-defaults. */
  def dimJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left_outer")
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left_outer")
      .select(
        col("c_custkey"),
        col("c_name"),
        coalesce(col("n_name"), lit("UNKNOWN")).as("nation"),
        coalesce(col("r_name"), lit("UNKNOWN")).as("region"),
        col("c_acctbal"))
      .orderBy("c_custkey")
  }

  val dimJoinOracle: String =
    """SELECT c_custkey, c_name,
      |       COALESCE(n_name, 'UNKNOWN') AS nation,
      |       COALESCE(r_name, 'UNKNOWN') AS region,
      |       c_acctbal
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin

  /** Left-semi join (EXISTS): customers having ≥1 order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val semiJoinOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no top-decile order
    * (filtered build side keeps the result non-trivial at every SF). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bigOrders = t.orders.filter(col("o_totalprice") > 450000.0)
    t.customer
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val antiJoinOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Multi-way join + aggregate (TPC-H Q3/Q5 shape): fact⋈fact shuffle
    * join on the order key, then the customer join, then group-sum.
    * customer scales with SF, so it carries NO static broadcast hint —
    * AQE's dynamic broadcast conversion (enabled in Graft.configure)
    * picks broadcast vs shuffle from its measured size, which is the
    * only decision that survives a 100× scale-up. Static `broadcast()`
    * stays reserved for true fixed-size dims (nation/region/rules). */
  def multiJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      // 35 (segment, year) groups: few-group sum, carry form
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).cast("bigint").as("order_year"))
      .agg(
        Exact.fixSumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment", "order_year")
  }

  val multiJoinAggOracle: String =
    """SELECT c_mktsegment, CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment, year(o_orderdate)
      |ORDER BY c_mktsegment, order_year""".stripMargin

  /** Range/theta join: equi key + inequality residual (ship lag > 70 days
    * after order date). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag"),
        trunc(col("o_orderdate").cast("date"), "month").as("order_month"))
      .agg(count(lit(1)).as("n_late"),
        Exact.fixSum(col("l_extendedprice"), 2).as("late_value"))
      .orderBy("l_returnflag", "order_month")
  }

  val rangeJoinOracle: String =
    """SELECT l_returnflag, date_trunc('month', CAST(o_orderdate AS DATE)) AS order_month,
      |  count(*) AS n_late,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS late_value
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |GROUP BY 1, 2 ORDER BY l_returnflag, order_month""".stripMargin

  /** As-of join (keyed): for every purchase event, the most recent click
    * by the same user at-or-before the purchase; ties broken by max
    * event_id. Implemented Spark-first as union + one window per user key
    * (no global sort, no N×M explosion): clicks sort before purchases at
    * equal ts so same-instant clicks are eligible. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val tagged = ev
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"), col("ts"), col("event_id"), col("value"),
        (col("event_type") === "purchase").cast("int").as("is_purchase"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_purchase"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_event_id",
        last(when(col("is_purchase") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when(col("is_purchase") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(
        col("event_id").as("purchase_event_id"), col("user_id"),
        Exact.epochMs(col("ts")).as("purchase_ts_ms"),
        col("click_event_id"), col("click_value"))
      .orderBy("purchase_event_id")
  }

  val asofJoinOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
      |) c ON TRUE
      |ORDER BY purchase_event_id""".stripMargin

  /** j7: the skew showcase — 10M events carry ~5 distinct event_types, so
    * an unsalted shuffle join on event_type lands everything on ≤5 of the
    * shuffle partitions. [[Skew.saltedJoin]] salts the fact side from the
    * high-cardinality event_id and replicates the dim 8×, turning 5 hot
    * keys into 40 spread keys. The dim is merge-hinted: at 5 rows it
    * would otherwise broadcast and hide the exchange this query exists to
    * exercise (on a real 100 TB run the dim that needs salting is the one
    * too big to broadcast). Semantics are identical to the plain join —
    * j7 (salted) and j7b (unsalted) share one oracle; Bench carries both
    * so the task-time spread is a measured artifact, not a claim. */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame =
    skewJoinOn(spark, dir, salted = true)

  def unsaltedSkewJoin(spark: SparkSession, dir: String): DataFrame =
    skewJoinOn(spark, dir, salted = false)

  private def skewJoinOn(spark: SparkSession, dir: String, salted: Boolean): DataFrame = {
    val ev = Tables(spark, dir).events.select("event_id", "event_type", "value")
    val dim = ev.select("event_type").distinct()
      .withColumn("type_weight", length(col("event_type")).cast("double"))
      .hint("merge")
    val joined =
      if (salted) Skew.saltedJoin(ev, dim, "event_type", col("event_id"), salts = 8, "inner")
      else ev.join(dim, Seq("event_type"))
    joined
      .groupBy("event_type", "type_weight")
      .agg(count(lit(1)).as("n"), Exact.fixSum(col("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  val skewJoinOracle: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(length(event_type) AS DOUBLE) AS type_weight
      |  FROM events
      |)
      |SELECT e.event_type AS event_type, d.type_weight, count(*) AS n,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** j8: full-outer reconciliation join — the one join type left on
    * SURVEY §2.4's absent list. The canonical use is snapshot
    * reconciliation: the same business day rolled up from two independent
    * fact paths (orders placed vs lineitems shipped), full-outer joined
    * on the date so days present on only one side survive with a
    * side-marker instead of vanishing (the audit query an inner join
    * cannot express). Both sides aggregate BEFORE the join, so the full
    * outer runs over two O(#days) rollups — at 100 TB the exchange
    * carries days, not events. */
  def fullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ordered = t.orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.fixSum(col("o_totalprice"), 2).as("ordered_value"))
    val shipped = t.lineitem
      .groupBy(col("l_shipdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n_lines"),
        Exact.fixSum(col("l_extendedprice"), 2).as("shipped_value"))
    ordered.join(shipped, Seq("d"), "full_outer")
      .select(
        col("d").as("biz_date"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("ordered_value"), lit(0.0)).as("ordered_value"),
        coalesce(col("shipped_value"), lit(0.0)).as("shipped_value"),
        when(col("n_orders").isNull, lit("ship_only"))
          .when(col("n_lines").isNull, lit("order_only"))
          .otherwise(lit("both")).as("presence"))
      .orderBy("biz_date")
  }

  val fullOuterReconcileOracle: String =
    """WITH ordered AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS ordered_value
      |  FROM orders GROUP BY 1),
      |shipped AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_lines,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS shipped_value
      |  FROM lineitem GROUP BY 1)
      |SELECT COALESCE(o.d, s.d) AS biz_date,
      |       COALESCE(o.n_orders, 0) AS n_orders,
      |       COALESCE(s.n_lines, 0) AS n_lines,
      |       COALESCE(o.ordered_value, 0.0) AS ordered_value,
      |       COALESCE(s.shipped_value, 0.0) AS shipped_value,
      |       CASE WHEN o.n_orders IS NULL THEN 'ship_only'
      |            WHEN s.n_lines IS NULL THEN 'order_only'
      |            ELSE 'both' END AS presence
      |FROM ordered o FULL OUTER JOIN shipped s ON o.d = s.d
      |ORDER BY biz_date""".stripMargin

  /** j9's bin width (and interval length): 10 minutes in micros. The
    * bin width must be ≥ the longest interval so every interval spans
    * ≤ 2 bins (replication factor ≤ 2). */
  val IntervalBinUs: Long = 600000000L

  /** j9: PURE interval-overlap join — no equi-key at all, the shape
    * Spark's planner can only run as a broadcast-nested-loop (or worse,
    * a cartesian) if expressed directly: every "incident window"
    * (an error spike, here error events with value > 200, extended
    * [[IntervalBinUs]] forward) joined to EVERY event inside it,
    * across all users.
    *
    * The scale rewrite is time-bin bucketization (the interval-join
    * technique streaming engines use internally): both sides map to
    * fixed-width time bins — intervals replicate to the ≤ 2 bins they
    * span via one `explode(sequence)`, points land in exactly 1 — the
    * bins equi-join (hash, AQE-skew-handled), and the exact overlap
    * predicate filters the residual INSIDE the join. O(n) replication
    * bounded by 2×, no all-pairs anything; a point pairs with an
    * interval through precisely one bin, so no post-join distinct is
    * needed. PlanRulesSpec asserts the plan carries no
    * BroadcastNestedLoopJoin/CartesianProduct. */
  def intervalBinJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.engine.Caching.persist(
      Tables(spark, dir).events.select(
        col("event_id"), Exact.epochUs(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value")))
    val incidents = e
      .filter(col("event_type") === "error" && col("value") > 200)
      .select(col("event_id").as("incident_id"), col("us").as("s"),
        (col("us") + IntervalBinUs).as("en"))
      .withColumn("bin",
        explode(sequence(expr(s"s div $IntervalBinUs"), expr(s"en div $IntervalBinUs"))))
    val points = e.withColumn("bin", expr(s"us div $IntervalBinUs"))
    incidents.join(points, Seq("bin"))
      .filter(col("us") >= col("s") && col("us") <= col("en"))
      .groupBy("incident_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.fixSum(col("value"), 2).as("sum_value"))
      .orderBy("incident_id")
  }

  val intervalBinJoinOracle: String =
    s"""WITH e AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id, event_type, value
      |  FROM events),
      |inc AS (
      |  SELECT event_id AS incident_id, us AS s, us + $IntervalBinUs AS en
      |  FROM e WHERE event_type = 'error' AND value > 200)
      |SELECT incident_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_value
      |FROM inc JOIN e ON e.us >= inc.s AND e.us <= inc.en
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** s70: the GENERIC [[asOf]] operator under the oracle gate — the
    * j6 business question (last click before each purchase, per user)
    * re-asked through the reusable operator instead of the
    * fixture-shaped window: purchases are the left stream, clicks the
    * right payload, event_id the deterministic tie-break. The oracle
    * restates the exact contract as a LATERAL
    * `ORDER BY ts DESC, event_id DESC LIMIT 1`. */
  private def purchasesClicks(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir).events
    (ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_event_id"), col("user_id"),
          col("ts"), col("value").as("purchase_value")),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_event_id"), col("value").as("click_value")))
  }

  private def asOfGenericWith(spark: SparkSession, dir: String,
                              direction: String,
                              toleranceMs: Option[Long] = None): DataFrame = {
    val (purchases, clicks) = purchasesClicks(spark, dir)
    asOf(purchases, clicks, "user_id", "ts", "click_ts", "click_event_id",
        toleranceMs = toleranceMs, direction = direction)
      .select(col("purchase_event_id"), col("user_id"),
        Exact.epochMs(col("ts")).as("purchase_ts_ms"),
        col("click_event_id"), col("click_value"),
        Exact.epochMs(col("click_ts")).as("click_ts_ms"))
      .orderBy("purchase_event_id")
  }

  def asOfGeneric(spark: SparkSession, dir: String): DataFrame =
    asOfGenericWith(spark, dir, "backward")

  /** s73: direction = FORWARD (r15, merge_asof parity) — the EARLIEST
    * click at-or-after each purchase; the LATERAL restatement flips
    * the comparison and the sort. */
  def asOfForward(spark: SparkSession, dir: String): DataFrame =
    asOfGenericWith(spark, dir, "forward")

  val asOfForwardOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value,
      |       epoch_ms(c.ts) AS click_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value, c.ts FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |    AND c.ts >= p.ts
      |  ORDER BY c.ts ASC, c.event_id DESC LIMIT 1
      |) c ON true
      |ORDER BY purchase_event_id""".stripMargin

  /** s74: direction = NEAREST with a 30-minute budget (r15) — the
    * closer of the two one-sided candidates, equal distances going
    * backward; the LATERAL restates the contract as an absolute-age
    * sort with `(c.ts > p.ts) ASC` as the side tie key. Ages compare
    * in MICROS on both sides, so sub-millisecond gaps can never split
    * the operator from the oracle. */
  def asOfNearest(spark: SparkSession, dir: String): DataFrame =
    asOfGenericWith(spark, dir, "nearest", toleranceMs = Some(1800000L))

  val asOfNearestOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value,
      |       epoch_ms(c.ts) AS click_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value, c.ts FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |    AND abs(epoch_us(CAST(c.ts AS TIMESTAMP))
      |          - epoch_us(CAST(p.ts AS TIMESTAMP))) <= 1800000000
      |  ORDER BY abs(epoch_us(CAST(c.ts AS TIMESTAMP))
      |             - epoch_us(CAST(p.ts AS TIMESTAMP))) ASC,
      |           (c.ts > p.ts) ASC, c.event_id DESC
      |  LIMIT 1
      |) c ON true
      |ORDER BY purchase_event_id""".stripMargin

  val asOfGenericOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value,
      |       epoch_ms(c.ts) AS click_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value, c.ts FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |    AND c.ts <= p.ts
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
      |) c ON true
      |ORDER BY purchase_event_id""".stripMargin

  /** s77: [[statsAsOf]] under the oracle gate (r16) — the s70
    * business question between LAKE tables, where the clicks side's
    * recorded (sketch-folded, zero-scan) row count elects the
    * BROADCAST rewrite: the purchase side keeps its incoming
    * partitioning, no exchange anywhere on it (AsOfSpec pins the
    * plan). The answer must be indistinguishable from the
    * merged-stream door's, so the oracle is s70's LATERAL verbatim. */
  def statsAsOfQuery(spark: SparkSession, dir: String): DataFrame = {
    val (lT, rT) = statsAsOfFixture(spark, dir, "s77")
    statsAsOf(spark, lT, rT, "user_id", "ts", "click_ts", "click_event_id")
      .select(col("purchase_event_id"), col("user_id"),
        Exact.epochMs(col("ts")).as("purchase_ts_ms"),
        col("click_event_id"), col("click_value"),
        Exact.epochMs(col("click_ts")).as("click_ts_ms"))
      .orderBy("purchase_event_id")
  }

  /** s77b: [[statsAsOf]] through PLAIN SQL (r16) — the
    * `stats_asof_join('l','r','key','lts','rts','tie')` table
    * function over registered lake tables: the same fixture, the same
    * broadcast election from sketch-folded stats, the same LATERAL
    * oracle. */
  def statsAsOfSqlQuery(spark: SparkSession, dir: String): DataFrame = {
    val (lT, rT) = statsAsOfFixture(spark, dir, "s77b")
    graft.sql.LakeSql.register(spark, "s77bl", lT, "day")
    graft.sql.LakeSql.register(spark, "s77br", rT, "rday")
    spark.sql(
      """SELECT purchase_event_id, user_id,
        |       unix_millis(CAST(ts AS TIMESTAMP)) AS purchase_ts_ms,
        |       click_event_id, click_value,
        |       unix_millis(CAST(click_ts AS TIMESTAMP)) AS click_ts_ms
        |FROM stats_asof_join('s77bl', 's77br', 'user_id', 'ts',
        |                     'click_ts', 'click_event_id')
        |ORDER BY purchase_event_id""".stripMargin)
  }

  /** The shared s77/s77b lake fixture: purchases + clicks committed as
    * lake tables, the clicks side HLL-sketched so the stats that drive
    * the broadcast election fold with zero scans. */
  private def statsAsOfFixture(spark: SparkSession, dir: String,
                               qid: String): (String, String) = {
    import graft.ops.lake.{Analyze, Snapshots}
    val (purchases, clicks) = purchasesClicks(spark, dir)
    def freshTable(prefix: String): String =
      graft.engine.Graft.freshDir(prefix + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val lT = freshTable(s"$qid-purchases-")
    val rT = freshTable(s"$qid-clicks-")
    Snapshots.commit(lT, Snapshots.stage(
      purchases.withColumn("day", lit("d")), lT, "day"))
    // the right tag gets its own name (the asOfSqlWith discipline:
    // payload carries every right column, a second `day` would
    // collide at the loud door); HLL sidecars make the later stats
    // fold zero-scan
    Snapshots.commitAll(rT, Snapshots.withHll(
      Snapshots.stageWithStats(clicks.withColumn("rday", lit("d")),
        rT, "rday", "user_id"),
      rT, "user_id", spark))
    Analyze.analyzeFromSketches(spark, rT, Seq("user_id"))
    (lT, rT)
  }

  /** s71: [[asOf]] through PLAIN SQL — the `asof_join('left',
    * 'right', 'key', 'leftTs', 'rightTs', 'tieBreak')` table function
    * ([[graft.sql.LakeSql.asofJoinPlan]]) over registered lake
    * tables; same business question, same oracle restatement. */
  def asOfSql(spark: SparkSession, dir: String): DataFrame =
    asOfSqlWith(spark, dir, "s71", tolerance = None)

  /** s71b: the TVF's TOLERANCE door (r15) — same fixture, but matches
    * older than 10 minutes null out (`merge_asof(tolerance=…)`
    * semantics). The oracle restates the budget as an age predicate
    * inside the LATERAL: the latest prior click IS the youngest, so
    * "latest, then null if stale" ≡ "latest within the budget". */
  def asOfSqlTolerance(spark: SparkSession, dir: String): DataFrame =
    asOfSqlWith(spark, dir, "s71b", tolerance = Some(600000L))

  private def asOfSqlWith(spark: SparkSession, dir: String, qid: String,
                          tolerance: Option[Long]): DataFrame = {
    import graft.ops.lake.Snapshots
    val ev = Tables(spark, dir).events
    def freshTable(prefix: String): String =
      graft.engine.Graft.freshDir(prefix + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val lT = freshTable(s"$qid-purchases-")
    val rT = freshTable(s"$qid-clicks-")
    Snapshots.commit(lT, Snapshots.stage(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_event_id"), col("user_id"),
          col("ts"), col("value").as("purchase_value"))
        .withColumn("day", lit("d")), lT, "day"))
    // the right tag column gets its own name: the payload carries
    // every right column, and a second `day` would collide with the
    // left's at asOf's loud door
    Snapshots.commit(rT, Snapshots.stage(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_event_id"), col("value").as("click_value"))
        .withColumn("rday", lit("d")), rT, "rday"))
    graft.sql.LakeSql.register(spark, s"${qid}l", lT, "day")
    graft.sql.LakeSql.register(spark, s"${qid}r", rT, "rday")
    val tolArg = tolerance.map(t => s", $t").getOrElse("")
    spark.sql(
      s"""SELECT purchase_event_id, user_id,
        |       unix_millis(CAST(ts AS TIMESTAMP)) AS purchase_ts_ms,
        |       click_event_id, click_value,
        |       unix_millis(CAST(click_ts AS TIMESTAMP)) AS click_ts_ms
        |FROM asof_join('${qid}l', '${qid}r', 'user_id', 'ts', 'click_ts',
        |               'click_event_id'$tolArg)
        |ORDER BY purchase_event_id""".stripMargin)
  }

  /** [[asOfSqlTolerance]]'s oracle: [[asOfGenericOracle]] with the
    * 10-minute age budget inside the LATERAL. */
  val asOfToleranceOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value,
      |       epoch_ms(c.ts) AS click_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value, c.ts FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
      |) c ON true
      |ORDER BY purchase_event_id""".stripMargin

  /** s75: COMPOSITE match key (r15, merge_asof `by=[…]`) — last click
    * before each purchase per (user, channel): both sides derive
    * `chan = event_id % 2`, so a same-user click on the other channel
    * can never match; the LATERAL restates both equalities. */
  def asOfMultiKey(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        (col("event_id") % 2).as("chan"), col("ts"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), (col("event_id") % 2).as("chan"),
        col("ts").as("click_ts"), col("event_id").as("click_event_id"),
        col("value").as("click_value"))
    asOfBy(purchases, clicks, Seq("user_id", "chan"), "ts", "click_ts",
        "click_event_id")
      .select(col("purchase_event_id"), col("user_id"), col("chan"),
        Exact.epochMs(col("ts")).as("purchase_ts_ms"),
        col("click_event_id"), col("click_value"))
      .orderBy("purchase_event_id")
  }

  val asOfMultiKeyOracle: String =
    """SELECT p.event_id AS purchase_event_id, p.user_id,
      |       p.event_id % 2 AS chan, epoch_ms(p.ts) AS purchase_ts_ms,
      |       c.event_id AS click_event_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id, c.value FROM events c
      |  WHERE c.user_id = p.user_id AND c.event_id % 2 = p.event_id % 2
      |    AND c.event_type = 'click' AND c.ts <= p.ts
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
      |) c ON true
      |ORDER BY purchase_event_id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("s70_asof_generic", asOfGenericOracle)(asOfGeneric),
    QueryDef.sql("s75_asof_multikey", asOfMultiKeyOracle)(asOfMultiKey),
    QueryDef.sql("s71_asof_sql", asOfGenericOracle)(asOfSql),
    QueryDef.sql("s71b_asof_sql_tolerance", asOfToleranceOracle)(asOfSqlTolerance),
    QueryDef.sql("s73_asof_forward", asOfForwardOracle)(asOfForward),
    QueryDef.sql("s74_asof_nearest", asOfNearestOracle)(asOfNearest),
    QueryDef.sql("s77_stats_asof_broadcast", asOfGenericOracle)(statsAsOfQuery),
    QueryDef.sql("s77b_stats_asof_sql", asOfGenericOracle)(statsAsOfSqlQuery),
    QueryDef.sql("j1_dim_join", dimJoinOracle)(dimJoin),
    QueryDef.sql("j2_semi_join", semiJoinOracle)(semiJoin),
    QueryDef.sql("j3_anti_join", antiJoinOracle)(antiJoin),
    QueryDef.sql("j4_multi_join_agg", multiJoinAggOracle)(multiJoinAgg),
    QueryDef.sql("j5_range_join", rangeJoinOracle)(rangeJoin),
    QueryDef.sql("j6_asof_join", asofJoinOracle)(asofJoin),
    QueryDef.sql("j7_salted_join", skewJoinOracle)(saltedSkewJoin),
    QueryDef.sql("j7b_unsalted_join", skewJoinOracle)(unsaltedSkewJoin),
    QueryDef.sql("j8_full_outer", fullOuterReconcileOracle)(fullOuterReconcile),
    QueryDef.sql("j9_interval_bin_join", intervalBinJoinOracle)(intervalBinJoin))
}
