package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.TopK

/** Advanced relational/temporal operators closing out SURVEY.md §2:
  * as-of join (J7), exact percentiles, the custom-Aggregator top-k
  * (§2.11 A10), and approx distinct (A6, engine-specific → unchecked).
  */
object Advanced {

  /** As-of join, the scalable formulation: instead of a per-row range
    * join (quadratic blowup per key), union both sides with a kind flag
    * and carry the last-seen right-side timestamp forward with a running
    * `last(ignoreNulls)` window — ONE shuffle by key, linear scan per
    * partition. This is the 100 TB shape: no range-join explosion, no
    * broadcast of an unbounded side.
    *
    * Keeps one row per `left` row (the probe side), carrying into `carry`
    * the latest `right` row's ts with right.ts <= left.ts on the same key.
    * `leftId` names a column identifying left rows (kept in the output).
    *
    * Determinism: the carry value depends only on (key, ts) — every right
    * row with right.ts <= left.ts sorts BEFORE the left row (side 0 first
    * at equal ts), so two left rows tied on (key, ts) see the same running
    * `last`. Without a `leftId` the synthetic window tie-break id is
    * therefore DROPPED from the output: the result is a deterministic
    * (key, ts, carry) multiset, never a run-varying synthetic id column.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               carry: String, leftId: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val (idExpr, idType, idName) = leftId match {
      case Some(c) => (col(c), left.schema(c).dataType, c)
      case None    => (monotonically_increasing_id(), LongType, "_asof_tiebreak")
    }
    val l = left.select(col(key), col(ts),
      lit(null).cast(right.schema(ts).dataType).as(carry), lit(1).as("side"),
      idExpr.as(idName))
    val r = right.select(col(key), col(ts),
      col(ts).as(carry), lit(0).as("side"), lit(null).cast(idType).as(idName))
    // side 0 sorts before side 1 at equal ts → "<=" as-of semantics
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("side"), col(idName))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = l.unionByName(r)
      .withColumn(carry, last(col(carry), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .drop("side")
    if (leftId.isDefined) out else out.drop(idName)
  }

  /** q40: as-of join on events — for every purchase, the most recent
    * click (ts <= purchase ts) by the same user. Oracle uses a
    * correlated MAX subquery (dialect-neutral as-of definition). */
  val q40_asof_join = QueryDef(
    "q40_asof_join",
    """SELECT e.event_id, e.user_id,
      |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |  strftime((SELECT max(c.ts) FROM events c
      |            WHERE c.event_type = 'click' AND c.user_id = e.user_id
      |              AND c.ts <= e.ts), '%Y-%m-%d %H:%M:%S') AS prev_click
      |FROM events e WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    asofJoin(purchases, clicks, "user_id", "ts", "prev_click",
      leftId = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("prev_click"), "yyyy-MM-dd HH:mm:ss").as("prev_click"))
      .orderBy("event_id")
  }

  /** Scalable one-sided theta-COUNT join (the J6 100 TB path): for every
    * left row, the number of right rows with `rightVal` strictly below
    * `leftVal` — the aggregate most `ON a > b` joins exist to feed
    * (q19's shape). The nested-loop join computes it with O(|L|·|R|)
    * comparisons, inherently O(SF²) as the sf1 scaling run measured
    * (45× at 10× data). This formulation is O(n log n) with ONE data
    * shuffle: the count equals the RANK of `leftVal` within the right
    * value distribution, so
    *
    *  1. range-bucket BOTH sides by approximate right-side quantiles
    *     (driver holds only the nBuckets boundary values — bounded by
    *     construction, the same coordination budget as IVF centroids);
    *  2. per bucket, a window ordered by (value, side) running-counts the
    *     right rows below each left row — left sorts before right at
    *     equal values, giving the strict `>` semantics;
    *  3. right-row totals per bucket (≤ nBuckets rows) get a prefix sum
    *     and broadcast back, so cross-bucket counts never touch data.
    *
    * Inner-join semantics: left rows with count 0 are dropped. Buckets
    * are quantile-balanced, so the window partitions stay even under
    * value skew. Nulls in either value column are not supported (the
    * comparison is undefined there, as in the join form). */
  def rankCountJoin(left: DataFrame, leftKey: String, leftVal: String,
                    right: DataFrame, rightVal: String,
                    nBuckets: Int = 32, op: String = ">"): DataFrame =
    rankJoin(left, leftKey, leftVal, right, rightVal, aggVal = None,
      nBuckets = nBuckets, op = op, withMinMax = false)

  /** Generalization of [[rankCountJoin]] to the other one-sided theta
    * aggregates: for every left row, the COUNT, SUM and AVG of a
    * right-side column over the right rows whose `rightVal` is strictly
    * below `leftVal`. Identical bucket mechanics — quantile
    * range-buckets, one per-bucket running (count, sum) window, and
    * broadcast per-bucket prefix totals (≤ nBuckets rows) — so the cost
    * stays one data shuffle regardless of the theta join's selectivity,
    * where the nested-loop form is O(|L|·|R|) comparisons AND an
    * O(match-count) shuffle into the re-aggregation.
    *
    * `aggVal` names the right column being summed (defaults to the
    * compared column). The running-window addition order differs from
    * other engines' aggregate order, which matters only for floating
    * point — callers needing cross-engine-deterministic sums should pass
    * an exact-integer `aggVal` (e.g. money as cents; q77 does this).
    * Output: (leftKey, cnt, sum, avg), plus (min, max) of the aggregated
    * column when `withMinMax` — running min/max ride the SAME window
    * exchange, no extra shuffle. Left rows with nothing matching are
    * dropped (inner-join semantics). Nulls in the compared or aggregated
    * columns are not supported, as in the join form.
    *
    * `op` picks the theta: `">"` (right strictly below, default), `">="`
    * (ties included — right sorts before left at equal values), `"<"` /
    * `"<="` (right above; both sides negate, reducing to the ascending
    * machinery — a descending threshold costs nothing extra). */
  def rankAggJoin(left: DataFrame, leftKey: String, leftVal: String,
                  right: DataFrame, rightVal: String,
                  aggVal: Option[String] = None,
                  nBuckets: Int = 32, op: String = ">",
                  withMinMax: Boolean = false): DataFrame =
    rankJoin(left, leftKey, leftVal, right, rightVal,
      aggVal = Some(aggVal.getOrElse(rightVal)), nBuckets = nBuckets,
      op = op, withMinMax = withMinMax)

  /** Shared rank-join plan builder. `aggVal = None` builds the lean
    * COUNT-only plan (no sum column rides the data shuffle or the
    * windows — q76's measured plan); `Some(col)` adds the running SUM
    * over the same window exchange plus the derived AVG, and
    * `withMinMax` running MIN/MAX over that same exchange. `op` reduces
    * to the ascending strict machinery: `<`/`<=` negate the compared
    * values, `>=`/`<=` flip the tie order so right rows sort before
    * left at equal values (inclusive counting). */
  private def rankJoin(left: DataFrame, leftKey: String, leftVal: String,
                       right: DataFrame, rightVal: String,
                       aggVal: Option[String],
                       nBuckets: Int, op: String,
                       withMinMax: Boolean): DataFrame = {
    require(Set(">", ">=", "<", "<=").contains(op), s"unsupported op '$op'")
    val flip = op.startsWith("<")
    val incl = op.endsWith("=")
    def tv(c: Column): Column = {
      val d = c.cast("double")
      if (flip) -d else d
    }
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds = right.withColumn("__v", tv(col(rightVal)))
      .stat.approxQuantile("__v", probs, 0.001)
    // monotone bucket id: #boundaries strictly below v — equal values on
    // both sides always land in the same bucket
    def bucketOf(v: Column): Column =
      size(filter(array(bounds.map(lit(_)): _*), b => b < v))
    val keyType = left.schema(leftKey).dataType
    val lCols = Seq(tv(col(leftVal)).as("v"), lit(0L).as("is_r")) ++
      aggVal.map(av => lit(null).cast(right.schema(av).dataType).as("sv")) :+
      col(leftKey)
    val rCols = Seq(tv(col(rightVal)).as("v"), lit(1L).as("is_r")) ++
      aggVal.map(av => col(av).as("sv")) :+
      lit(null).cast(keyType).as(leftKey)
    val l = left.select(lCols: _*)
    val r = right.select(rCols: _*)
    val u = l.unionByName(r).withColumn("bucket", bucketOf(col("v")))
    // per-bucket right totals → exclusive prefix sums; ≤ nBuckets rows, so
    // the global window and the broadcast are bounded by construction
    val wPrefix = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixAggs = count(lit(1)).as("in_bucket") +:
      (aggVal.map(_ => sum("sv").as("sum_in")).toSeq ++
        (if (withMinMax) Seq(min("sv").as("min_in"), max("sv").as("max_in"))
         else Nil))
    // densify over ALL bucket ids 0..nBuckets-1: a left row whose bucket
    // holds zero right rows must still see the cumulative totals of the
    // lower buckets — without the densify its prefix lookup misses, the
    // coalesce reads 0, and the row is wrongly dropped (e.g. right values
    // all tied at the top quantile boundary put every right row in a
    // lower bucket than a larger left value). nBuckets rows, still
    // bounded by construction.
    val allBuckets = left.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val perBucket = u.where(col("is_r") === 1)
      .groupBy("bucket").agg(prefixAggs.head, prefixAggs.tail: _*)
    val prefixBase = allBuckets.join(perBucket, Seq("bucket"), "left")
      .na.fill(0L, Seq("in_bucket"))
      .withColumn("prefix", coalesce(sum("in_bucket").over(wPrefix), lit(0L)))
    val prefixes = aggVal.fold(prefixBase.select("bucket", "prefix")) { _ =>
      val withS = prefixBase.withColumn("sprefix", sum("sum_in").over(wPrefix))
      val cols = Seq("bucket", "prefix", "sprefix") ++
        (if (withMinMax) Seq("mprefix", "xprefix") else Nil)
      (if (withMinMax)
        withS.withColumn("mprefix", min("min_in").over(wPrefix))
          .withColumn("xprefix", max("max_in").over(wPrefix))
      else withS).select(cols.head, cols.tail: _*)
    }
    // strict ops: left sorts BEFORE right at equal v (is_r 0 < 1);
    // inclusive ops flip the tie order so equal right rows count
    val tieOrder = if (incl) col("is_r").desc else col("is_r").asc
    val wRun = Window.partitionBy("bucket").orderBy(col("v"), tieOrder)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = u.withColumn("below_in_bucket", sum("is_r").over(wRun))
    val ran = aggVal.fold(counted) { _ =>
      val withSum = counted.withColumn("sum_below_in_bucket", sum("sv").over(wRun))
      if (withMinMax)
        withSum.withColumn("min_below_in_bucket", min("sv").over(wRun))
          .withColumn("max_below_in_bucket", max("sv").over(wRun))
      else withSum
    }
    val joined = ran
      .where(col("is_r") === 0)
      .join(broadcast(prefixes), Seq("bucket"), "left")
      .withColumn("cnt", coalesce(col("prefix"), lit(0L)) + col("below_in_bucket"))
      .where(col("cnt") > 0)
    aggVal.fold(joined.select(col(leftKey), col("cnt"))) { _ =>
      val base = joined
        .withColumn("sum", coalesce(col("sprefix"), lit(0)) +
          coalesce(col("sum_below_in_bucket"), lit(0)))
        .withColumn("avg", col("sum").cast("double") / col("cnt"))
      if (withMinMax)
        // least/greatest skip nulls; cnt > 0 guarantees at least one side
        base.withColumn("min", least(col("mprefix"), col("min_below_in_bucket")))
          .withColumn("max", greatest(col("xprefix"), col("max_below_in_bucket")))
          .select(col(leftKey), col("cnt"), col("sum"), col("avg"),
            col("min"), col("max"))
      else base.select(col(leftKey), col("cnt"), col("sum"), col("avg"))
    }
  }

  /** q76: q19's theta-join aggregate through [[rankCountJoin]] — same
    * oracle as q19 (DuckDB replays the join form), linear scaling where
    * the nested-loop form is quadratic. Added by the sf1 plan audit
    * (BASELINE.md "SF1 SCALING EVIDENCE"). */
  val q76_theta_rank_join = QueryDef(
    "q76_theta_rank_join",
    """SELECT p_partkey, COUNT(*) AS cnt
      |FROM part JOIN supplier ON p_retailprice > s_acctbal
      |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin) { (s, d) =>
    rankCountJoin(Tables.part(s, d), "p_partkey", "p_retailprice",
      Tables.supplier(s, d), "s_acctbal")
      .orderBy("p_partkey")
  }

  /** q77: the generalized theta aggregates through [[rankAggJoin]] — per
    * part, the count, total and mean of supplier balances strictly below
    * its retail price. Balances are summed as exact integer CENTS on
    * both engines (SURVEY §7 "integer cents" rule), making the hash
    * compare immune to float summation order; the oracle replays the
    * nested-loop join form the rank shape replaces at scale. */
  val q77_theta_agg_join = QueryDef(
    "q77_theta_agg_join",
    """SELECT p_partkey,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  ROUND(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) / 100.0 / COUNT(*), 2)
      |    AS avg_bal
      |FROM part JOIN supplier ON p_retailprice > s_acctbal
      |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val sup = Tables.supplier(s, d)
      .withColumn("bal_cents", round(col("s_acctbal") * 100).cast("long"))
    rankAggJoin(Tables.part(s, d), "p_partkey", "p_retailprice",
      sup, "s_acctbal", aggVal = Some("bal_cents"))
      .select(col("p_partkey"), col("cnt"),
        col("sum").as("sum_cents"),
        round(col("sum") / 100.0 / col("cnt"), 2).as("avg_bal"))
      .orderBy("p_partkey")
  }

  /** q78: the inclusive-threshold + MIN/MAX rank-join variants — per
    * part, the count, total, minimum and maximum of supplier balances at
    * or below its retail price (`op = ">="`: ties count, right sorts
    * before left at equal values). Balances aggregate as exact integer
    * CENTS (SURVEY §7 rule) so every output column is order-free; the
    * oracle replays the nested-loop `>=` join the rank shape replaces at
    * scale. */
  val q78_theta_band_join = QueryDef(
    "q78_theta_band_join",
    """SELECT p_partkey,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(MIN(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(MAX(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM part JOIN supplier ON p_retailprice >= s_acctbal
      |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val sup = Tables.supplier(s, d)
      .withColumn("bal_cents", round(col("s_acctbal") * 100).cast("long"))
    rankAggJoin(Tables.part(s, d), "p_partkey", "p_retailprice",
      sup, "s_acctbal", aggVal = Some("bal_cents"), op = ">=",
      withMinMax = true)
      .select(col("p_partkey"), col("cnt"),
        col("sum").as("sum_cents"),
        col("min").as("min_cents"),
        col("max").as("max_cents"))
      .orderBy("p_partkey")
  }

  /** q41: exact interpolated percentiles per group — Spark `percentile`
    * and DuckDB `quantile_cont` share the linear-interpolation
    * definition. */
  val q41_percentiles = QueryDef(
    "q41_percentiles",
    """SELECT o_orderpriority,
      |  ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
      |  ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
      |  ROUND(quantile_cont(o_totalprice, 0.90), 2) AS p90
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
      // single percentile(array(...)) buffer instead of 4 independent
      // aggregates — one sort buffer per group, not four
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.50D, 0.75D, 0.90D))")
          .as("ps"))
        .select(col("o_orderpriority"),
          round(element_at(col("ps"), 1), 2).as("p25"),
          round(element_at(col("ps"), 2), 2).as("p50"),
          round(element_at(col("ps"), 3), 2).as("p75"),
          round(element_at(col("ps"), 4), 2).as("p90"))
        .orderBy("o_orderpriority")
  }

  /** q42: top-3 prices per priority via the custom TopK Aggregator
    * (§2.11 A10). Unlike the window top-k (Q20), this partial-aggregates
    * map-side: each task ships ≤k values per group to the shuffle.
    * The list is serialized to a comma-joined string (fixed 2-decimal
    * rendering on both engines) — an array<double> result column breaks
    * the driver's pandas-based hash compare. */
  val q42_topk_udaf = QueryDef(
    "q42_topk_udaf",
    """SELECT o_orderpriority,
      |  string_agg(CAST(CAST(p AS DECIMAL(18,2)) AS VARCHAR), ','
      |             ORDER BY p DESC) AS top_prices FROM (
      |  SELECT o_orderpriority, ROUND(o_totalprice, 2) AS p,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC) AS rn
      |  FROM orders) WHERE rn <= 3
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val topk = udaf(new TopK(3))
    Tables.orders(s, d).groupBy("o_orderpriority")
      .agg(array_join(
        transform(topk(round(col("o_totalprice"), 2)),
          _.cast("decimal(18,2)").cast("string")), ",").as("top_prices"))
      .orderBy("o_orderpriority")
  }

  /** q43: HLL approx distinct (A6) — sketch values are engine-specific,
    * so the driver records a rows-only check; the ScalaTest suite bounds
    * the relative error against the exact count instead. */
  val q43_approx_distinct = QueryDef.unchecked("q43_approx_distinct") { (s, d) =>
    Tables.documents(s, d).groupBy("source")
      .agg(
        approx_count_distinct(col("text")).as("approx_uniq"),
        count(lit(1)).as("n"))
      .orderBy("source")
  }

  /** q44: batch sessionization — the oracle-checkable twin of the
    * streaming session_window (T3): session breaks where the per-user
    * gap exceeds 30 min, session id = running count of breaks. Pure
    * window algebra, one shuffle by user_id. Gap compare in integer
    * microseconds (unix_micros / epoch_us) — no float truncation drift
    * between engines. */
  val q44_sessionize = QueryDef(
    "q44_sessionize",
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(CASE WHEN prev IS NULL
      |             OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS sid
      |  FROM e)
      |SELECT user_id, sid, COUNT(*) AS n,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS s_end
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, sid""".stripMargin) { (s, d) =>
    sessionizeAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q44 plan as a library function: dense per-user sessionization
    * — one user-keyed window exchange, fastest on EVEN key
    * distributions, max task linear in the hottest user's row count.
    * Output: (user_id, sid, n, s_start, s_end) ordered. */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("brk").over(cum))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("s_end"))
      .orderBy("user_id", "sid")
  }

  /** q158: SKEW-SAFE sessionization — q44's exact output (same oracle
    * text, hash-identical rows) with the unsplittable hot-user window
    * partition eliminated. The r9 Zipf stress (SKEW_r09.json) showed
    * q44 is the one pattern nothing absorbs: a user owning 20% of
    * events lands one window partition, AQE cannot split a window
    * partition, and at 100 TB that task is the job.
    *
    * Rewrite: partition the per-user stream into EVENT-TIME CHUNKS
    * (1 day), so the hot user becomes |active days| ordinary tasks.
    *  - within-(user, chunk) lag gives every row's previous ts except
    *    chunk-first rows, which take the previous ACTIVE chunk's max ts
    *    from a chunk-level boundary table (lag over the user's chunks —
    *    a table of user-days, not events, so its window is tiny);
    *    sessions spanning chunk gaps stitch correctly because only
    *    active chunks appear in the boundary table;
    *  - session ids = the q94 two-level prefix sum: within-chunk
    *    running break count + the user's cumulative prior-chunk break
    *    total joined back — no global per-user scan anywhere;
    *  - sessions are pre-aggregated per (user, chunk, sid) on the SAME
    *    (user, chunk) exchange, so the only data that reaches the final
    *    (user, sid) merge is one row per partial session.
    * Exchange budget (ShuffleAudit, AQE off: 6 shuffles + 2
    * broadcasts, vs q44's 2 shuffles) — but only ONE is event-sized,
    * the (user, chunk) window exchange, same as q44's (user) one: the
    * bounds/offsets agg exchanges carry map-side-combined user-DAY
    * rows, their two wChunks windows re-key that same small table by
    * user, the final (user, sid) agg exchange carries one row per
    * partial session, and the boundary/offset joins broadcast
    * (un-hinted — AQE or static estimates pick broadcast while the
    * user-day table is small, shuffle when it is not). Cost of skew
    * safety: that chunk-level bookkeeping — ~2× wall on EVEN data
    * (frozen 1.29 s vs q44's 0.62 at sf0.1); under a Zipf-hot user the
    * max task drops by the chunk fan-out and the wall flips in q158's
    * favor (measured crossover in SKEW_r09b.json / BASELINE.md). */
  val q158_sessionize_skewsafe = QueryDef(
    "q158_sessionize_skewsafe",
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(CASE WHEN prev IS NULL
      |             OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS sid
      |  FROM e)
      |SELECT user_id, sid, COUNT(*) AS n,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS s_end
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, sid""".stripMargin) { (s, d) =>
    sessionizeChunked(Tables.events(s, d))
  }

  /** One event-time day in epoch microseconds: the day tier's chunk and
    * the per-(user, day) probe's grouping. */
  private final val DayMicros = 86400000000L

  /** Rows per count-tier chunk. */
  private final val RowsPerChunk = 262144L

  /** The chunk policy of the routed events family. Adds `chunk` to
    * `ev`, which carries user_id, event_id and the event time in epoch
    * micros as `us`; chunks partition each user's (us, event_id)-ordered
    * timeline into consecutive groups, which is all every `*FromChunks`
    * stitch assumes.
    *  - Day tier (`rowsPerChunk` None): the event-time day. Max task is
    *    bounded by rows per user-DAY, with no extra exchange.
    *  - Count tier: ⌊(rank−1)/rowsPerChunk⌋ over the skew-safe
    *    [[RangeStitch.withRangeRank]] per-user (us, event_id) position,
    *    so EVERY chunk holds ≤ rowsPerChunk rows whatever the time
    *    distribution. The day tier's residual assumption (rows per
    *    user-DAY bounded) fails on a single-day flood: at a 4M-row
    *    one-day hot user its max tasks measured 10–17 s
    *    (SKEW_r11_dayflood.json, SKEW_r12_dayflood.json). The price is
    *    one range exchange + checkpoint, paid only on the escalation
    *    branch of [[routeChunked]]. us = unix_micros(ts) is order- and
    *    tie-equivalent to ts at the micros precision the fixture
    *    contract pins.
    * Measured choice between the two (skew2: 10M events, a 4.0M-row
    * hot user spread over days, local[4]): the day tier is faster on 8
    * of the 9 operators (sessionize 44.4 vs 54.7 s, transitions 17.5
    * vs 30.0 s, twap 15.9 vs 30.3 s), so both tiers stay. */
  private def withChunk(ev: DataFrame, rowsPerChunk: Option[Long],
                        us: String = "us"): DataFrame = rowsPerChunk match {
    case None => ev.withColumn("chunk", floor(col(us) / DayMicros))
    case Some(n) =>
      RangeStitch.withRangeRank(ev, "user_id", Seq(us, "event_id"), "rk")
        .withColumn("chunk", floor((col("rk") - 1) / n)).drop("rk")
  }

  /** The q158 plan as a library function: skew-safe chunked
    * sessionization — max task bounded by rows-per-user-DAY, ~2× the
    * dense plan's wall on even data (see BASELINE). Output schema and
    * rows identical to [[sessionize]]. A SINGLE-DAY flood (one user,
    * millions of rows, one day) collapses the day chunk back into one
    * task — [[sessionizeCountChunked]] is the escalation tier
    * ([[sessionizeAuto]] routes to it on a measured hot user-DAY). */
  def sessionizeChunked(events: DataFrame): DataFrame =
    sessionizeFromChunks(events, None)

  /** [[sessionizeChunked]] on the count tier of [[withChunk]]: every
    * chunk holds ≤ rowsPerChunk rows, so a single-day flood no longer
    * collapses into one task. */
  def sessionizeCountChunked(events: DataFrame,
                             rowsPerChunk: Long = RowsPerChunk): DataFrame =
    sessionizeFromChunks(events, Some(rowsPerChunk))

  /** Shared stitch body of the two chunked forms, on [[withChunk]]'s
    * chunks. The day tier chunks `events` as given; the count tier
    * first prunes to the three columns the stitch reads, because its
    * range rank checkpoints whatever it is given. */
  private def sessionizeFromChunks(events: DataFrame,
                                   rowsPerChunk: Option[Long]): DataFrame = {
    val input = if (rowsPerChunk.isEmpty) events
      else events.select(col("user_id"), col("event_id"), col("ts"))
    val ev = withChunk(input.withColumn("us", unix_micros(col("ts"))),
      rowsPerChunk)
    val w2 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    val cum2 = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wChunks = Window.partitionBy("user_id").orderBy("chunk")
    // chunk-level boundary + offset tables: one row per ACTIVE user-day
    val bounds = ev.groupBy("user_id", "chunk").agg(max("us").as("cmax"))
      .withColumn("prev_cmax", lag("cmax", 1).over(wChunks))
      .select("user_id", "chunk", "prev_cmax")
    val withBrk = ev
      .withColumn("prev_us", lag("us", 1).over(w2))
      .join(bounds, Seq("user_id", "chunk"))
      .withColumn("eff_prev", coalesce(col("prev_us"), col("prev_cmax")))
      .withColumn("brk",
        when(col("eff_prev").isNull ||
          col("us") - col("eff_prev") > 1800000000L, 1L).otherwise(0L))
    val offsets = withBrk.groupBy("user_id", "chunk")
      .agg(sum("brk").as("cbrks"))
      .withColumn("offset", coalesce(
        sum("cbrks").over(
          wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("user_id", "chunk", "offset")
    withBrk
      .withColumn("sid", sum("brk").over(cum2) + lit(0L))
      .join(offsets, Seq("user_id", "chunk"))
      .withColumn("sid", col("sid") + col("offset"))
      .groupBy("user_id", "chunk", "sid") // partial sessions, same exchange
      .agg(count(lit(1)).as("pn"), min("ts").as("pmn"), max("ts").as("pmx"))
      .groupBy("user_id", "sid") // session-level rows only
      .agg(sum("pn").as("n"),
        date_format(min("pmn"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(max("pmx"), "yyyy-MM-dd HH:mm:ss").as("s_end"))
      .orderBy("user_id", "sid")
  }

  /** The events family's two skew probes group by the user and by the
    * (user, event-time DAY); both hash-sample (user_id, event_id, ts),
    * so an event_id repeated ACROSS users is harmless (see
    * [[RangeStitch.hottestKeyRows]] for the sample contract). */
  private[graft] val perUser: Seq[Column] = Seq(col("user_id"))
  private[graft] val perUserDay: Seq[Column] = Seq(col("user_id"),
    floor(unix_micros(col("ts")) / lit(DayMicros)).as("day"))
  private[graft] val eventSample: Seq[Column] =
    Seq(col("user_id"), col("event_id"), col("ts"))

  /** Measured-skew crossover default, from the CROSSOVER_r10 ladder
    * (hot user at 0.5M/1M/2M/4M rows over 10M events, sessionize): the
    * dense wall grows with the hot key (3.2/3.7/5.2/15.2 s) while the
    * chunked wall is flat bookkeeping (~9–11 s), crossing between 2M
    * and 4M — 2.5M errs slightly toward task-boundedness, since the
    * dense max task is already 2 s and growing linearly at 2M. The
    * whole events-window family shares the ladder's cost structure
    * (same one event-sized exchange + user-DAY bookkeeping; even-data
    * chunk tax 1.3–2.8×, BASELINE r10 re-freeze), so the family
    * default is this measured value, overridable per call. */
  val defaultHotKeyRowThreshold: Long = 2500000L

  /** Three-tier routing of a per-user events operator, as two nested
    * [[RangeStitch.routeBySkew]] calls — the exact/LSH
    * `dedupCorpus(method="auto")` pattern applied to window skew:
    *  - the hottest user below `hotKeyRowThreshold` rows: `dense`
    *    (fastest on even keys; max task linear in the hottest user's
    *    rows);
    *  - else the hottest (user, DAY) below `escalationThreshold`: the
    *    day tier of [[withChunk]] (max task bounded by rows per
    *    user-DAY; 1.3–2.8× bookkeeping tax on even data; at skew2's
    *    4M-row hot user it wins wall AND max task, BASELINE "SKEW2
    *    STRESS");
    *  - else the count tier (the single-day flood: a bot-flood day
    *    collapses the day tier back into one task, SKEW_r11_dayflood /
    *    SKEW_r12_dayflood).
    * The per-(user, day) probe runs only on the inner branch, so
    * even-keyed corpora never pay the second scan. All three plans
    * produce IDENTICAL rows (hash-proven at five SFs; stitch edges
    * pinned in AdvancedSpec), so routing changes only the physical
    * plan. `probeCacheKey` memoizes both probes per table
    * ([[RangeStitch.hottestKeyRowsCached]]). */
  private def routeChunked(events: DataFrame, hotKeyRowThreshold: Long,
                           sampleMod: Int, probeCacheKey: Option[String],
                           escalationThreshold: Long =
                             RangeStitch.defaultHotKeyRowThreshold)(
                            dense: => DataFrame,
                            chunked: Option[Long] => DataFrame): DataFrame =
    RangeStitch.routeBySkew(events, perUser, eventSample,
      hotKeyRowThreshold, sampleMod, probeCacheKey)(
      dense,
      RangeStitch.routeBySkew(events, perUserDay, eventSample,
        escalationThreshold, sampleMod, probeCacheKey)(
        chunked(None), chunked(Some(RowsPerChunk))))

  /** [[sessionize]] vs [[sessionizeChunked]] vs
    * [[sessionizeCountChunked]] by measured skew ([[routeChunked]]).
    * The q44 registry entry routes through this. `escalationThreshold`
    * (the tier-3 trigger, default = the RangeStitch kernel's measured
    * crossover) is a parameter so the routing branch itself is
    * unit-drivable (ADVICE r11) — AdvancedSpec forces tier 3 through
    * THIS router on a small fixture and pins the routed output. */
  def sessionizeAuto(events: DataFrame,
                     hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                     sampleMod: Int = 100,
                     probeCacheKey: Option[String] = None,
                     escalationThreshold: Long =
                       RangeStitch.defaultHotKeyRowThreshold): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey,
      escalationThreshold)(sessionize(events), sessionizeFromChunks(events, _))

  /** [[funnelDepth]] vs [[funnelDepthChunked]] vs
    * [[funnelDepthCountChunked]] by measured skew ([[routeChunked]]).
    * The q62 registry entry routes through this.
    *
    * Three-tier since late r12 — a REVERSED adjudication: the r11
    * "escalation made q62 worse (8.7 → 18.2 s)" comparison turned out
    * to have measured the interpreted `aggregate`-HOF chunk fold under
    * two unknown C2 compile draws (fresh-JVM walls flipped
    * 68.5/15.8/15.1 s on identical plans — the q142 bimodality). With
    * [[funnelDepthFromChunks]] rewritten as a typed compiled fold the
    * comparison is stable and the count tier WINS the flood fixture
    * (5.2–6.4 s walls vs the day tier's 10–16 s, max task bounded) —
    * see SKEW_r12_dayflood.json's re-adjudication entry. */
  def funnelDepthAuto(events: DataFrame,
                      hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                      sampleMod: Int = 100,
                      probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      funnelDepth(events), funnelDepthFromChunks(events, _))

  /** [[funnelDepths]] vs its chunked twins by measured skew
    * ([[routeChunked]]). The q142 registry entry routes through this. */
  def funnelDepthsAuto(events: DataFrame, deltaMicros: Long,
                       hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                       sampleMod: Int = 100,
                       probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      funnelDepths(events, deltaMicros),
      funnelDepthsFromChunks(events, deltaMicros, _))

  /** [[transitions]] vs its chunked twins by measured skew
    * ([[routeChunked]]). The q107 registry entry routes through this. */
  def transitionsAuto(events: DataFrame,
                      hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                      sampleMod: Int = 100,
                      probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      transitions(events), transitionsFromChunks(events, _))

  /** [[ewma]] vs its chunked twins by measured skew ([[routeChunked]]).
    * The q112 registry entry routes through this. */
  def ewmaAuto(events: DataFrame,
               hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
               sampleMod: Int = 100,
               probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      ewma(events), ewmaFromChunks(events, _))

  /** [[rollingMedian]] vs its chunked twins by measured skew
    * ([[routeChunked]]). The q115 registry entry routes through this. */
  def rollingMedianAuto(events: DataFrame,
                        hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                        sampleMod: Int = 100,
                        probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      rollingMedian(events), rollingMedianFromChunks(events, _))

  /** [[twap]] vs its chunked twins by measured skew ([[routeChunked]]).
    * The q118 registry entry routes through this. */
  def twapAuto(events: DataFrame,
               hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
               sampleMod: Int = 100,
               probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      twap(events), twapFromChunks(events, _))

  /** [[seqPattern]] vs its chunked twins by measured skew
    * ([[routeChunked]]). The q154 registry entry routes through this. */
  def seqPatternAuto(events: DataFrame,
                     hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
                     sampleMod: Int = 100,
                     probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      seqPattern(events), seqPatternFromChunks(events, _))

  /** [[scd2]] vs its chunked twins by measured skew ([[routeChunked]]).
    * The q155 registry entry routes through this. */
  def scd2Auto(events: DataFrame,
               hotKeyRowThreshold: Long = defaultHotKeyRowThreshold,
               sampleMod: Int = 100,
               probeCacheKey: Option[String] = None): DataFrame =
    routeChunked(events, hotKeyRowThreshold, sampleMod, probeCacheKey)(
      scd2(events), scd2FromChunks(events, _))

  /** q45: full cube with grouping indicators (A7 — rollup is q10). */
  val q45_cube = QueryDef(
    "q45_cube",
    """SELECT lang, source,
      |  CAST(GROUPING(lang) AS BIGINT) AS g_l,
      |  CAST(GROUPING(source) AS BIGINT) AS g_s,
      |  COUNT(*) AS cnt
      |FROM documents GROUP BY CUBE(lang, source)
      |ORDER BY g_l, g_s, lang NULLS LAST, source NULLS LAST""".stripMargin) { (s, d) =>
    Tables.documents(s, d).cube("lang", "source")
      .agg(grouping("lang").cast("long").as("g_l"),
        grouping("source").cast("long").as("g_s"),
        count(lit(1)).as("cnt"))
      .orderBy(col("g_l"), col("g_s"),
        col("lang").asc_nulls_last, col("source").asc_nulls_last)
  }

  /** q46: the SQL-string entry point (SURVEY §3.2 E2) with a correlated
    * scalar subquery — Catalyst decorrelates it to an aggregate + outer
    * join (RewriteCorrelatedScalarSubquery), not a per-row loop. */
  val q46_sql_entry = QueryDef(
    "q46_sql_entry",
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS cnt
      |FROM customer c WHERE c_custkey < 100
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    // Isolated newSession (shared SparkContext/cache, own temp-view
    // catalog): registering the views never mutates the caller's session
    // state — same library-surface posture as graft.SqlEntry.run.
    val iso = s.newSession()
    Tables.customer(iso, d).createOrReplaceTempView("customer")
    Tables.orders(iso, d).createOrReplaceTempView("orders")
    iso.sql(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS cnt
        |FROM customer c WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q47: value-based RANGE frame (W3's rangeBetween half): per
    * priority, how many orders price within ±1000. Count over a range
    * frame is tie-order independent → deterministic. */
  val q47_range_frame = QueryDef(
    "q47_range_frame",
    """SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS price,
      |  COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
      |                 RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_near
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 999
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).where(col("o_orderkey").between(1, 999))
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("price"),
        expr("""COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)""").as("n_near"))
      .orderBy("o_orderkey")
  }

  /** q51: typed JSON decode (S4's `from_json` half — q22 covers the
    * path-extraction half): parse `props` into a MAP<STRING,BIGINT>,
    * explode to key rows, aggregate per event_type and key. At scale
    * this is the schema-on-read pattern: one parse per row inside
    * codegen, no UDF, map type flows through the shuffle. */
  val q51_json_map = QueryDef(
    "q51_json_map",
    """SELECT event_type, jk,
      |  COUNT(*) AS cnt, CAST(SUM(jv) AS BIGINT) AS sum_v,
      |  MIN(jv) AS min_v, MAX(jv) AS max_v
      |FROM (
      |  SELECT event_type, k.key AS jk,
      |    CAST(json_extract(props, '$.' || k.key) AS BIGINT) AS jv
      |  FROM events, unnest(json_keys(props)) AS k(key))
      |GROUP BY event_type, jk
      |ORDER BY event_type, jk""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
          .as(Seq("jk", "jv")))
      .groupBy("event_type", "jk")
      .agg(count(lit(1)).as("cnt"), sum("jv").as("sum_v"),
        min("jv").as("min_v"), max("jv").as("max_v"))
      .orderBy("event_type", "jk")
  }

  /** q52: arbitrary GROUPING SETS (A7's third form beside q10 rollup and
    * q45 cube): per-status and per-priority marginals in one pass —
    * Catalyst expands once and shares the scan, vs two queries reading
    * the fact twice. */
  val q52_grouping_sets = QueryDef(
    "q52_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_s,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
      |  COUNT(*) AS cnt,
      |  ROUND(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
      |    AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY g_s, g_p, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin) {
    (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping("o_orderstatus").cast("long").as("g_s"),
          grouping("o_orderpriority").cast("long").as("g_p"),
          count(lit(1)).as("cnt"),
          // exact integer cents (q08 rule; flaked at the r8 sf10 sweep)
          round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
            .as("sum_price"))
        .orderBy(col("g_s"), col("g_p"),
          col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)
  }

  /** q62: funnel analysis — per user, the furthest stage reached of the
    * ordered view(1) → click(2) → purchase(3) funnel, where a stage only
    * counts if it occurs AFTER the previous one (strict event-order
    * state machine, not bag-of-events).
    *
    * Routed by MEASURED skew ([[routeChunked]], three tiers since late
    * r12): even keys run [[funnelDepth]] (one per-user collect + single
    * fold), a Zipf-hot key runs [[funnelDepthChunked]] — the q158
    * skew-safe template applied to the funnel DFA (VERDICT r9 #1: the
    * old whole-history `collect_list` materialized a Zipf-hot user's
    * 4M-row stream as ONE array in ONE task) — and a measured
    * single-day FLOOD escalates to [[funnelDepthCountChunked]] (the
    * r12 re-adjudication; see [[funnelDepthAuto]]). The depth fold is a
    * monotone function over a 4-state DFA, so each chunk composes to a
    * 4-vector (out-depth per in-depth) and the per-user stitch indexes
    * through the chunk-count-sized vector table — bounded by active
    * days (or rowsPerChunk), never by history; all-integer, bit-exact
    * in every form. The 100 TB posture: in all forms the only
    * event-sized exchange is the keyed collect; the classic alternative
    * (3 self-joins on ts ranges) shuffles the table 3×. */
  val q62_funnel = QueryDef(
    "q62_funnel",
    // Oracle formulation note: the greedy fold (advance iff the next code
    // equals depth+1) is equivalently "first view, then the first click
    // AFTER it, then the first purchase after THAT" — expressed here as
    // positional min-joins. An earlier list_reduce(+CASE lambda) oracle
    // hit a DuckDB 1.0 vectorization bug at sf1 scale (wrong fold results
    // for a thread-count-dependent handful of users on ~67-element lists;
    // DuckDB's own single-group evaluation of the same lists agrees with
    // Spark) — found by the sf1 scaling run, 2026-08-12.
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |         WHEN 'purchase' THEN 3 ELSE 0 END AS BIGINT) AS code,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |p1 AS (SELECT user_id, MIN(pos) AS p FROM e WHERE code = 1 GROUP BY user_id),
      |p2 AS (SELECT e.user_id, MIN(e.pos) AS p FROM e
      |       JOIN p1 ON e.user_id = p1.user_id AND e.pos > p1.p
      |       WHERE e.code = 2 GROUP BY e.user_id),
      |p3 AS (SELECT e.user_id, MIN(e.pos) AS p FROM e
      |       JOIN p2 ON e.user_id = p2.user_id AND e.pos > p2.p
      |       WHERE e.code = 3 GROUP BY e.user_id)
      |SELECT u.user_id,
      |  CAST(CASE WHEN p3.p IS NOT NULL THEN 3 WHEN p2.p IS NOT NULL THEN 2
      |            WHEN p1.p IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS funnel_depth
      |FROM u LEFT JOIN p1 ON u.user_id = p1.user_id
      |       LEFT JOIN p2 ON u.user_id = p2.user_id
      |       LEFT JOIN p3 ON u.user_id = p3.user_id
      |ORDER BY u.user_id""".stripMargin) { (s, d) =>
    funnelDepthAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** Per-user funnel state machine — the dense single-fold reference
    * form: one groupBy(user_id) collects the whole time-ordered code
    * array, one `aggregate` HOF folds it (depth advances iff the next
    * code equals depth+1). Kept as the spec cross-check oracle for
    * [[funnelDepthChunked]] (and the historical q62 shape); the
    * registry query uses the chunked form because this one holds a
    * hot user's ENTIRE history in one task. Takes any
    * (user_id, ts, event_id, event_type) frame so specs can hand-build
    * orderings. */
  def funnelDepth(events: DataFrame): DataFrame =
    funnelCoded(events, col("ts"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("code"))))
        .as("evs"))
      .select(col("user_id"),
        aggregate(transform(col("evs"), e => e.getField("code")), lit(0L),
          (acc, x) => when(x === acc + 1, acc + 1).otherwise(acc))
          .as("funnel_depth"))
      .orderBy("user_id")

  /** Skew-safe [[funnelDepth]] on the q158 template: the funnel DFA's
    * depth is monotone over 4 states, so a chunk of the stream composes
    * to a 4-VECTOR — the out-depth for each possible in-depth 0..3 —
    * computed by folding the chunk's code array once with a 4-element
    * accumulator. Per (user, EVENT-TIME DAY) chunk: one keyed exchange
    * collects the day's ordered codes (struct-sorted on (ts, event_id))
    * and the vector fold is a scan-local `aggregate` HOF; the per-user
    * stitch indexes depth through the user-DAY-sized vector table in
    * chunk order (gap days compose as identity by absence). Max task is
    * bounded by rows-per-user-DAY instead of rows-per-user; all
    * arithmetic is integral, so results are bit-exact vs the dense
    * fold (pinned in AdvancedSpec, incl. cross-midnight stage order). */
  def funnelDepthChunked(events: DataFrame): DataFrame =
    funnelDepthFromChunks(events, None)

  /** [[funnelDepthChunked]] on the count tier of [[withChunk]]: BOTH the
    * per-chunk collect_list buffer AND the scan-local vector fold are
    * bounded by rowsPerChunk for ANY time distribution (the day form's
    * 4M-struct single-day-flood buffer measured 2.6–4.1 s max tasks,
    * SKEW_r11_dayflood.json). The 4-vector composition is
    * split-point-agnostic — it composes over ANY ordered partition of
    * the user's code sequence — so the stitch is unchanged. */
  def funnelDepthCountChunked(events: DataFrame,
                              rowsPerChunk: Long = RowsPerChunk): DataFrame =
    funnelDepthFromChunks(events, Some(rowsPerChunk))

  /** (user_id, `time`, event_id, code): the funnel stage coding
    * (view 1, click 2, purchase 3, else 0) shared by the q62 and q142
    * plans, dense and chunked. */
  private def funnelCoded(events: DataFrame, time: Column): DataFrame =
    events.select(col("user_id"), time, col("event_id"),
      when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", 2L)
        .when(col("event_type") === "purchase", 3L)
        .otherwise(0L).as("code"))

  /** Shared DFA-fold body of the two chunked forms, on the stage codes
    * chunked by [[withChunk]].
    *
    * The per-chunk 4-vector is a TYPED compiled fold (r12 — the q142
    * cure, third confirmed site): the previous `aggregate`-HOF form is
    * CodegenFallback, and three fresh JVMs on the flood fixture
    * measured its stage MEDIAN task flipping 1.6 ↔ 29.7 s on identical
    * plans (walls 68.5/15.8/15.1 s — the r11 "escalation made q62
    * worse" adjudication was itself taken under an unknown C2 draw).
    * All-integer arithmetic, so the typed loop is trivially bit-exact. */
  private def funnelDepthFromChunks(events: DataFrame,
                                    rowsPerChunk: Option[Long]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    withChunk(funnelCoded(events, col("ts"))
      .withColumn("us", unix_micros(col("ts"))),
      rowsPerChunk).drop("us")
      .select(col("user_id"), col("chunk"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), col("code"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("tsm"), col("event_id")) {
        case ((user, chunk), it) =>
          // vec(d) = exit depth of this chunk for a user entering at d
          val acc = Array(0L, 1L, 2L, 3L)
          it.foreach { case (_, _, _, _, x) =>
            var i = 0
            while (i < 4) {
              if (x == acc(i) + 1) acc(i) += 1
              i += 1
            }
          }
          Iterator((user, chunk, acc.toSeq))
      }
      .toDF("user_id", "chunk", "vec")
      .groupBy("user_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("chunk"), col("vec")))),
        lit(0L),
        (acc, c) => element_at(c.getField("vec"), (acc + 1).cast("int")))
        .as("funnel_depth"))
      .orderBy("user_id")
  }

  /** q70: SLIDING window in batch (T2's batch twin — T1 tumbling has
    * q22, T3 session has q44; this closes the last §2.10 row with no
    * DuckDB-checked twin). Spark's built-in `window(ts, "1 hour",
    * "15 minutes")` is the T2 primitive itself: Catalyst's TimeWindowing
    * rule expands it to the explode of the ≤ size/slide = 4 overlapping
    * windows per row, identical in batch and streaming. The oracle
    * spells that expansion out: each event lands in the 4 slide-aligned
    * windows [ws, ws+1h) with ws = floor(ts/15min)·15min − k·15min,
    * k ∈ 0..3 (each such ws satisfies ws ≤ ts < ws+1h by construction).
    *
    * Scale posture: a constant ×4 row expansion feeding a partial+final
    * hash agg — one shuffle on (window, event_type); no self-joins, no
    * range joins. Timestamps compared as epoch-µs integers, formatted
    * once at output (UTC session). */
  val q70_sliding_window = QueryDef(
    "q70_sliding_window",
    """WITH k AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS k),
      |e AS (
      |  SELECT make_timestamp(
      |    CAST(floor(epoch_us(ts) / 900000000) AS BIGINT) * 900000000
      |      - k.k * 900000000) AS ws,
      |    event_type, value
      |  FROM events CROSS JOIN k)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
      |  COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_val
      |FROM e GROUP BY w_start, event_type
      |ORDER BY w_start, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("w_start", "event_type")
  }

  /** q73: approximate percentiles — the SKETCH twin of q41. Exact
    * `percentile` buffers every group value in memory (unbounded per-key
    * state — the thing that OOMs at 100 TB group sizes);
    * `approx_percentile` folds a bounded Greenwald–Khanna sketch with
    * rank error ≤ n/accuracy, mergeable map-side like any partial agg.
    * Approximate by contract → rows-only driver check; AdvancedSpec
    * bounds every output against exact q41 at accuracy=10000. */
  val q73_approx_percentiles = QueryDef.unchecked("q73_approx_percentiles") { (s, d) =>
    Tables.orders(s, d).groupBy("o_orderpriority")
      .agg(expr(
        "approx_percentile(o_totalprice, array(0.25D, 0.50D, 0.75D, 0.90D), 10000)")
        .as("ps"))
      .select(col("o_orderpriority"),
        round(element_at(col("ps"), 1), 2).as("p25"),
        round(element_at(col("ps"), 2), 2).as("p50"),
        round(element_at(col("ps"), 3), 2).as("p75"),
        round(element_at(col("ps"), 4), 2).as("p90"))
      .orderBy("o_orderpriority")
  }

  /** q85: PIVOT — long→wide reshaping (revenue per nation × order year
    * as columns), the reporting-table shape every analytics engine
    * grows eventually. `pivot(col, values)` with an EXPLICIT value list
    * compiles to a single partial+final hash aggregate over
    * pivot-branch expressions — one pass, one exchange, no
    * distinct-values pre-job and no per-value self-join (the naive
    * reshaping). Sums are exact integer cents (SURVEY §7 rule) so the
    * cross-engine hash cannot flake on float summation order; absent
    * (nation, year) cells are pinned to 0 on both sides. */
  val q85_pivot = QueryDef(
    "q85_pivot",
    """WITH base AS (
      |  SELECT n_name, YEAR(o_orderdate) AS yr,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |              JOIN nation ON c_nationkey = n_nationkey)
      |SELECT n_name,
      |  CAST(COALESCE(SUM(CASE WHEN yr = 1995 THEN cents END), 0) AS BIGINT) AS y1995,
      |  CAST(COALESCE(SUM(CASE WHEN yr = 1996 THEN cents END), 0) AS BIGINT) AS y1996,
      |  CAST(COALESCE(SUM(CASE WHEN yr = 1997 THEN cents END), 0) AS BIGINT) AS y1997,
      |  CAST(COALESCE(SUM(CASE WHEN yr = 1998 THEN cents END), 0) AS BIGINT) AS y1998
      |FROM base GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    base.groupBy("n_name").pivot("yr", Seq(1995, 1996, 1997, 1998))
      .agg(sum("cents"))
      .select(col("n_name"),
        coalesce(col("1995"), lit(0L)).as("y1995"),
        coalesce(col("1996"), lit(0L)).as("y1996"),
        coalesce(col("1997"), lit(0L)).as("y1997"),
        coalesce(col("1998"), lit(0L)).as("y1998"))
      .orderBy("n_name")
  }

  /** q86: UNPIVOT — wide→long, the inverse reshaping (per-flag metric
    * columns melted to (flag, metric, value) rows). `Dataset.unpivot`
    * compiles to an Expand node — each input row fans out to one row
    * per value column INSIDE the scan stage, zero additional shuffle
    * (the oracle's UNION-ALL-of-selects shape would re-scan the
    * aggregate once per metric). Metric values share one exact-cents
    * BIGINT type, the unpivot well-formedness requirement. */
  val q86_unpivot = QueryDef(
    "q86_unpivot",
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
      |    CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_cents
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value FROM w
      |UNION ALL SELECT l_returnflag, 'price_cents', price_cents FROM w
      |UNION ALL SELECT l_returnflag, 'disc_cents', disc_cents FROM w
      |ORDER BY l_returnflag, metric""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        sum(round(col("l_discount") * 100).cast("long")).as("disc_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** q89: Morton (Z-order) key derivation — the clustering key behind
    * [[Layout.zorderWrite]], computed cross-engine so the oracle hash
    * proves bit-for-bit agreement of the interleave (bit i of column j
    * → output bit i·n + j, 20 bits per column here). The query sorts
    * lineitem BY the z-value — exactly the order a z-clustered rewrite
    * materializes — with the natural key as tie-break (equal masked
    * (partkey, suppkey) pairs recur across rows). Pure integral
    * shift/and/or built-ins folded into one codegen'd expression: scan
    * → project → one range exchange for the total order. */
  val q89_zorder = QueryDef(
    "q89_zorder",
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  CAST(${Layout.zValueSql(Seq("l_partkey", "l_suppkey"), 20)} AS BIGINT)
      |    AS zval
      |FROM lineitem
      |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        Layout.zValue(Seq(col("l_partkey"), col("l_suppkey")), 20).as("zval"))
      .orderBy("zval", "l_orderkey", "l_linenumber")
  }

  /** q90: snapshot MERGE / upsert — apply a changes relation (updates +
    * inserts, derived deterministically from `orders` so both engines
    * see identical inputs) onto the base snapshot. The scalable
    * formulation is NOT a full-outer join: `merged = changes ∪ (base ▷
    * changes)` — one left-anti join on the key plus a union, the shape
    * Delta/Iceberg MERGE compiles to for whole-row upserts. Both sides
    * hash-shuffle on the key once (or the changes side broadcasts when
    * small — AQE decides; no hint, per the round-7 dedup lesson), and
    * the union is exchange-free. Exact integer cents throughout. */
  val q90_merge_upsert = QueryDef(
    "q90_merge_upsert",
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |chg AS (
      |  SELECT k, cents + 500 AS cents, 'U' AS op FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k + 10000000 AS k, cents, 'I' AS op FROM base WHERE k % 11 = 0),
      |kept AS (
      |  SELECT b.k, b.cents, 'B' AS op FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.k = b.k))
      |SELECT k, cents, op FROM chg
      |UNION ALL SELECT k, cents, op FROM kept
      |ORDER BY k, op""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val upd = base.where(col("k") % 7 === 0)
      .select(col("k"), (col("cents") + 500).as("cents"), lit("U").as("op"))
    val ins = base.where(col("k") % 11 === 0)
      .select((col("k") + 10000000L).as("k"), col("cents"), lit("I").as("op"))
    val chg = upd.unionAll(ins)
    val kept = base.join(chg.select("k"), Seq("k"), "left_anti")
      .select(col("k"), col("cents"), lit("B").as("op"))
    chg.unionAll(kept).orderBy("k", "op")
  }

  /** q91: time-series gap-fill + forward-fill — per-user daily event
    * totals resampled onto a dense per-user date spine (min..max observed
    * day), gap days carrying the last observed day's value forward.
    * Forward fill is the engine-portable "fill groups" rewrite: a running
    * count of observed days assigns each gap row to the group of the
    * observation it follows, then one `max` per (user, group) — two
    * windows, both PARTITIONED BY user (never a global single-partition
    * window), so at 100 TB every shuffle is keyed by user_id and the
    * spine explode is per-row. Daily totals are exact integer cents. */
  val q91_gapfill = QueryDef(
    "q91_gapfill",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |         CAST(unnest(generate_series(MIN(day), MAX(day),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY user_id),
      |j AS (
      |  SELECT s.user_id, s.day, d.cents
      |  FROM spine s LEFT JOIN daily d
      |    ON s.user_id = d.user_id AND s.day = d.day),
      |f AS (
      |  SELECT user_id, day, cents,
      |    SUM(CASE WHEN cents IS NULL THEN 0 ELSE 1 END)
      |      OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM j)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(CASE WHEN cents IS NULL THEN 0 ELSE 1 END AS BIGINT) AS observed,
      |  CAST(MAX(cents) OVER (PARTITION BY user_id, grp) AS BIGINT)
      |    AS filled_cents
      |FROM f ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    gapFillDaily(daily)
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("observed"), col("filled_cents"))
      .orderBy("user_id", "day")
  }

  /** Gap-fill + forward-fill core behind [[q91_gapfill]]: `daily` is
    * (user_id, day: DATE, cents); returns one row per (user, day) over
    * each user's dense min..max day spine with `observed` 0/1 and
    * `filled_cents` carrying the last observed value forward. Both
    * windows are keyed by user — no global window at any scale. */
  def gapFillDaily(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wRun = Window.partitionBy("user_id").orderBy("day")
    val wGrp = Window.partitionBy("user_id", "grp")
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("grp",
        sum(when(col("cents").isNull, 0).otherwise(1)).over(wRun))
      .select(col("user_id"), col("day"),
        when(col("cents").isNull, 0L).otherwise(1L).as("observed"),
        max("cents").over(wGrp).as("filled_cents"))
  }

  /** q92: edit-distance-1 fuzzy self-join over `c_name` — the string
    * similarity join (record linkage / typo clustering). The oracle is
    * the quadratic definition (every pair, `levenshtein ≤ 1`); the Spark
    * plan is the SymSpell deletion-neighborhood blocking scheme: each
    * name emits itself plus every single-character-deletion variant as
    * candidate keys, pairs sharing a key are verified with one real
    * `levenshtein` call. Completeness: lev ≤ 1 means substitution (both
    * sides delete the edited position → equal key), insert/delete (the
    * shorter string IS a deletion variant of the longer), or equality —
    * so every true pair shares ≥ 1 key; false candidates (delete at
    * different positions) are killed by the verify filter. At 100 TB
    * this is an equi-join on short keys — len+1 keys per row, bounded
    * bucket sizes — vs the oracle's O(n²) cross product; the registry
    * contract bounds the oracle side (`c_custkey < 1000`), the blocking
    * path has no such need. */
  val q92_fuzzy_join = QueryDef(
    "q92_fuzzy_join",
    """WITH c AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 1000)
      |SELECT a.id AS a, b.id AS b,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      |FROM c a JOIN c b
      |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    fuzzyJoin(Tables.customer(s, d).where(col("c_custkey") < 1000)
      .select(col("c_custkey").as("id"), col("c_name").as("name")))
      .orderBy("a", "b")
  }

  /** Edit-distance-1 self-join core behind [[q92_fuzzy_join]]: `rows` is
    * (id: numeric, name: string); returns every pair (a < b, lev ≤ 1) via
    * deletion-neighborhood blocking + levenshtein verification. */
  def fuzzyJoin(rows: DataFrame): DataFrame = {
    // r13 (VERDICT r12 #3, guide §4): q104's r12 deletion-hash kernel
    // at depth 1 — the interpreted substr/concat lambda materialized
    // L variant STRINGS per row before the join; one prefix-hash pass
    // emits the same blocking-key set as 8-byte longs. A hash
    // collision only mints a false candidate that the levenshtein
    // verify kills (kernel scaladoc); true lev ≤ 1 pairs share an
    // exact variant string, which hashes equally. The candidate join
    // and distinct now move (a, b) longs only; names re-attach after
    // the distinct (the fuzzyJoin2 r12 shape, one rung down).
    val keyed = rows.select(col("id"),
      explode(graft.expressions.VectorExpressions
        .deletionHashes(col("name"), 1)).as("k"))
    val x = keyed.select(col("id").as("a"), col("k"))
    val y = keyed.select(col("id").as("b"), col("k"))
    val cand = x.join(y, Seq("k")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(rows.select(col("id").as("a"), col("name").as("an")), Seq("a"))
      .join(rows.select(col("id").as("b"), col("name").as("bn")), Seq("b"))
      .withColumn("lev", levenshtein(col("an"), col("bn")).cast("long"))
      .where(col("lev") <= 1)
      .select("a", "b", "lev")
  }

  /** q104: edit-distance ≤ 2 fuzzy self-join — q92's record-linkage
    * join widened one rung: the blocking keys are the full TWO-deletion
    * neighborhood (SymSpell depth 2: if lev(a,b) ≤ 2 a common
    * subsequence reachable by ≤ 2 deletions from each side exists, so
    * the neighborhoods intersect), candidates are verified with one real
    * `levenshtein` call, so the result is EXACT. Key count is O(len²)
    * per row (~170 for these names) — the honest cost of depth 2, and
    * why [[fuzzyJoin2]] carries the q50-style opt-in hot-bucket cap for
    * corpora where a shared long prefix would melt a bucket; the
    * registry contract runs exact (cap 0). Oracle = the quadratic
    * definition, bounded to c_custkey < 1000 like q92; the blocking
    * plan never materializes the cross product. */
  val q104_fuzzy_join_lev2 = QueryDef(
    "q104_fuzzy_join_lev2",
    """WITH c AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 1000)
      |SELECT a.id AS a, b.id AS b,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      |FROM c a JOIN c b
      |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 2
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    fuzzyJoin2(Tables.customer(s, d).where(col("c_custkey") < 1000)
      .select(col("c_custkey").as("id"), col("c_name").as("name")))
      .orderBy("a", "b")
  }

  /** Edit-distance ≤ 2 self-join core behind [[q104_fuzzy_join_lev2]]:
    * `rows` is (id: numeric, name: string); returns every pair
    * (a < b, lev ≤ 2) via depth-2 deletion-neighborhood blocking +
    * levenshtein verification. `maxBucket > 0` drops blocking keys whose
    * bucket exceeds the cap (the q50 hot-bucket guard — documented
    * recall loss on pairs ONLY reachable through melted buckets; 0 =
    * exact, the default and the registry contract). */
  def fuzzyJoin2(rows: DataFrame, maxBucket: Int = 0): DataFrame = {
    // r12 (guide §4): the ≤2-deletion key set is one native
    // prefix-hash pass (deletion_hashes kernel) — the old interpreted
    // transform chain materialized ~L² variant STRINGS per row
    // (O(L³) copied chars) before hashing them. Keys stay 8-byte
    // longs; a hash collision only mints a false candidate, which the
    // levenshtein verify kills — exactness is unaffected (see the
    // kernel scaladoc for why the hash family itself is free to change:
    // both sides agree, true pairs share an exact variant string).
    val keyed = rows.select(col("id"), col("name"),
      explode(graft.expressions.VectorExpressions
        .deletionHashes(col("name"))).as("k"))
    val capped =
      if (maxBucket <= 0) keyed
      else {
        val wk = Window.partitionBy("k")
        keyed.withColumn("bs", count(lit(1)).over(wk))
          .where(col("bs") <= maxBucket).drop("bs")
      }
    // the candidate join and distinct move (a, b) id pairs ONLY — the
    // fan-out stage stays 16 bytes/row; names re-attach afterwards from
    // the original (un-exploded) relation for the verify
    val x = capped.select(col("id").as("a"), col("k"))
    val y = capped.select(col("id").as("b"), col("k"))
    val cand = x.join(y, Seq("k")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(rows.select(col("id").as("a"), col("name").as("an")), Seq("a"))
      .join(rows.select(col("id").as("b"), col("name").as("bn")), Seq("b"))
      .withColumn("lev", levenshtein(col("an"), col("bn")).cast("long"))
      .where(col("lev") <= 2)
      .select("a", "b", "lev")
  }

  /** CDC change-log compaction core behind [[q96_cdc_compact]]: `base`
    * is the previous snapshot (k, cents); `log` is an out-of-order
    * change log (k, cents, seq, op) with op ∈ {U, D} and seq a total
    * version order per key. Latest-wins: one row_number window keyed by
    * k picks each key's highest-seq change, a final 'D' deletes the key,
    * anything else upserts it; untouched base rows pass through an
    * anti join. Equivalent to replaying each key's log in seq order —
    * the Hudi/Delta log-compaction contract — in ONE keyed window pass
    * + one anti join, no per-version iteration. Output: (k, cents,
    * last_seq) with last_seq = 0 for untouched base rows. */
  def compactChangeLog(base: DataFrame, log: DataFrame): DataFrame = {
    val w = Window.partitionBy("k").orderBy(col("seq").desc)
    val latest = log.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    val applied = latest.where(col("op") =!= "D")
      .select(col("k"), col("cents"), col("seq").as("last_seq"))
    val kept = base.join(log.select("k"), Seq("k"), "left_anti")
      .select(col("k"), col("cents"), lit(0L).as("last_seq"))
    applied.unionAll(kept)
  }

  /** q96: CDC log compaction — apply a multi-version change log (updates
    * AND deletes, deliberately emitted out of order) onto the orders
    * snapshot, latest version per key winning. The log is derived
    * deterministically from `orders` so both engines replay identical
    * changes: every 5th key gets 1–3 versions (cents bumped per
    * version), and keys divisible by 15 end in a delete. Scale posture:
    * the window and the anti join are both keyed on k — one shuffle
    * each side, no iteration over versions (the naive replay), and AQE
    * picks the anti-join strategy by size. */
  val q96_cdc_compact = QueryDef(
    "q96_cdc_compact",
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |log AS (
      |  SELECT b.k, b.cents + 100 * s.seq AS cents, CAST(s.seq AS BIGINT) AS seq,
      |    CASE WHEN b.k % 15 = 0 AND s.seq = (b.k // 5) % 3 + 1
      |         THEN 'D' ELSE 'U' END AS op
      |  FROM base b
      |  JOIN (SELECT unnest(range(1, 4)) AS seq) s
      |    ON s.seq <= (b.k // 5) % 3 + 1
      |  WHERE b.k % 5 = 0),
      |latest AS (
      |  SELECT k, cents, seq, op,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |  FROM log),
      |applied AS (
      |  SELECT k, cents, seq AS last_seq FROM latest
      |  WHERE rn = 1 AND op <> 'D'),
      |kept AS (
      |  SELECT b.k, b.cents, CAST(0 AS BIGINT) AS last_seq FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM log l WHERE l.k = b.k))
      |SELECT k, cents, last_seq FROM applied
      |UNION ALL SELECT k, cents, last_seq FROM kept
      |ORDER BY k""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val nVer = (col("k") / 5).cast("long") % 3 + 1
    val log = base.where(col("k") % 5 === 0)
      .select(col("k"), col("cents"), explode(sequence(lit(1L), nVer)).as("seq"))
      .select(col("k"), (col("cents") + col("seq") * 100).as("cents"),
        col("seq"),
        when(col("k") % 15 === 0 && col("seq") === nVer, "D")
          .otherwise("U").as("op"))
    compactChangeLog(base, log).orderBy("k")
  }

  /** q123: snapshot diff / table reconciliation — the row-level repair
    * companion to q99's anti-entropy checksum: q99 says WHETHER two
    * replicas/snapshots diverged (cheap, commutative folds), q123 says
    * exactly WHICH rows to ship — `added` (new only), `removed` (old
    * only), `changed` (both, any compared column IS DISTINCT FROM).
    * Both snapshots derive deterministically from `orders` so the two
    * engines diff identical tables: old drops keys ≡ 0 (mod 7), new
    * drops keys ≡ 0 (mod 5) and bumps cents on keys ≡ 0 (mod 3) — the
    * untouched status column exercises the no-change side of the
    * multi-column comparison.
    *
    * Scale posture: ONE key-keyed full-outer join (both sides hash by
    * the key — the minimal movement any diff needs), classification and
    * the distinct-from comparison scan-local, unchanged rows dropped
    * before the output sort so the result is change-sized, not
    * table-sized. No sort-merge of full snapshots on a single node, no
    * driver materialization — at 100 TB the diff is exactly one
    * co-partitioned join. */
  val q123_snapshot_diff = QueryDef(
    "q123_snapshot_diff",
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderstatus AS status
      |  FROM orders),
      |old AS (SELECT * FROM base WHERE k % 7 <> 0),
      |new AS (SELECT k,
      |          CASE WHEN k % 3 = 0 THEN cents + 999 ELSE cents END AS cents,
      |          status
      |        FROM base WHERE k % 5 <> 0),
      |d AS (SELECT COALESCE(o.k, n.k) AS k,
      |        o.cents AS old_cents, n.cents AS new_cents,
      |        CASE WHEN o.k IS NULL THEN 'added'
      |             WHEN n.k IS NULL THEN 'removed'
      |             WHEN o.cents IS DISTINCT FROM n.cents
      |                  OR o.status IS DISTINCT FROM n.status THEN 'changed'
      |             ELSE 'same' END AS change
      |      FROM old o FULL JOIN new n ON o.k = n.k)
      |SELECT k, change, old_cents, new_cents
      |FROM d WHERE change <> 'same' ORDER BY k""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus").as("status"))
    val old = base.where(col("k") % 7 =!= 0)
      .select(col("k").as("ok"), col("cents").as("old_cents"),
        col("status").as("old_status"))
    val nw = base.where(col("k") % 5 =!= 0)
      .select(col("k").as("nk"),
        when(col("k") % 3 === 0, col("cents") + 999).otherwise(col("cents"))
          .as("new_cents"),
        col("status").as("new_status"))
    old.join(nw, col("ok") === col("nk"), "full")
      .select(coalesce(col("ok"), col("nk")).as("k"),
        when(col("ok").isNull, "added")
          .when(col("nk").isNull, "removed")
          .when(!(col("old_cents") <=> col("new_cents")) ||
                !(col("old_status") <=> col("new_status")), "changed")
          .otherwise("same").as("change"),
        col("old_cents"), col("new_cents"))
      .where(col("change") =!= "same")
      .orderBy("k")
  }

  /** q98: interval join — points (events) against overlapping per-user
    * time windows, the "which maintenance/campaign windows does this
    * event fall in" shape. The oracle is the theta join (`day BETWEEN
    * lo AND hi`, a nested-loop at scale); the Spark plan is the
    * bucketize rewrite: every interval expands to its covered DAY keys
    * (bounded by interval length — here 6), the points carry their one
    * day key, and the match becomes a plain equi-join on (user, day)
    * plus a residual verify filter for sub-day precision. At 100 TB
    * this is one hash shuffle on (user, day) instead of a per-user
    * cross product — the same bounded-expansion trick as the rank
    * joins (q76) and the banded LSH buckets. Windows start every 4
    * days and span 6, so points near window edges match 1–2 windows
    * (the overlap is the point of the test). Exact integer cents. */
  val q98_interval_join = QueryDef(
    "q98_interval_join",
    """WITH iv AS (
      |  SELECT u.user_id, s.lo, s.lo + 5 AS hi
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  CROSS JOIN (SELECT 1 + 4 * unnest(range(0, 8)) AS lo) s),
      |e AS (
      |  SELECT user_id, CAST(date_part('day', ts) AS BIGINT) AS day,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT e.user_id, iv.lo, e.cents
      |  FROM e JOIN iv ON e.user_id = iv.user_id
      |              AND e.day BETWEEN iv.lo AND iv.hi)
      |SELECT user_id, CAST(lo AS BIGINT) AS win_start,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS cents
      |FROM m GROUP BY user_id, lo
      |ORDER BY user_id, win_start""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), dayofmonth(col("ts")).cast("long").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val iv = ev.select("user_id").distinct()
      .crossJoin(s.range(0, 8).select((lit(1L) + col("id") * 4).as("lo")))
      .select(col("user_id"), col("lo"), (col("lo") + 5).as("hi"))
    // bucketize: intervals fan out to their covered day keys (bounded
    // expansion — 6 rows per window), points keep their single day key
    val ivDays = iv.select(col("user_id"), col("lo"), col("hi"),
      explode(sequence(col("lo"), col("hi"))).as("day"))
    ev.join(ivDays, Seq("user_id", "day"))
      .where(col("day") >= col("lo") && col("day") <= col("hi")) // residual
      .groupBy(col("user_id"), col("lo").as("win_start"))
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .select(col("user_id"), col("win_start"), col("n"), col("cents"))
      .orderBy("user_id", "win_start")
  }

  /** q101: incremental aggregate maintenance — a materialized per-type
    * aggregate STATE (events through day 15) merged with the aggregate
    * of a DELTA batch (day 16+), against an oracle that recomputes from
    * scratch over everything. The point is the algebraic-merge property
    * made operational: (count, sum) partials are themselves a TABLE, so
    * refreshing the view costs agg(delta) + a key-wise merge of two
    * aggregate relations — O(|delta| + |state|) — never a rescan of
    * history; the derived mean is computed AFTER the merge from the
    * merged partials (the classic avg-of-avgs trap, avoided by
    * construction). Exactly how Spark's own partial/final HashAggregate
    * pair works inside one query, lifted to cross-job persistence — and
    * the maintenance loop a 100 TB rollup table actually runs. */
  val q101_incremental_agg = QueryDef(
    "q101_incremental_agg",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      |  ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
      |        / COUNT(*), 4) AS avg_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        dayofmonth(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("c"))
      def partial(df: DataFrame): DataFrame =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").as("cents"))
      val state = partial(ev.where(col("day") < 16))  // the materialized view
      val delta = partial(ev.where(col("day") >= 16)) // the new batch's agg
      state.unionAll(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("cents").as("cents"))
        .select(col("event_type"), col("n"), col("cents"),
          round(col("cents").cast("double") / col("n"), 4).as("avg_cents"))
        .orderBy("event_type")
  }

  /** q105: table profiler — the ANALYZE/stats-collection surface every
    * engine needs before it can cost a plan: per-column row count, null
    * count, EXACT distinct count, and min/max, in ONE scan. Multiple
    * `COUNT(DISTINCT col)` over different columns is the showcase for
    * Spark's Expand-based rewrite: the scan is read once, Expand emits
    * one row per (gid, column-value) group, and two aggregate pairs
    * (dedup, then count) finish the job — 2 shuffles total regardless
    * of how many columns are profiled. At 100 TB the same statement
    * with `approx_count_distinct` (q43's HLL path) is the sketch twin;
    * exact NDV is what you run when the answer feeds an optimizer
    * histogram. Numeric min/max are cast to BIGINT before stringifying
    * so both engines render them identically. */
  val q105_profile = QueryDef(
    "q105_profile",
    """SELECT 'l_returnflag' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT) AS n_null,
      |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv,
      |  CAST(MIN(l_returnflag) AS VARCHAR) AS min_val,
      |  CAST(MAX(l_returnflag) AS VARCHAR) AS max_val
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_linestatus', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
      |  CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
      |  CAST(CAST(MIN(l_quantity) AS BIGINT) AS VARCHAR),
      |  CAST(CAST(MAX(l_quantity) AS BIGINT) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
      |  CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
      |FROM lineitem
      |ORDER BY col_name""".stripMargin) { (s, d) =>
    // r12 optimization (measured: the old 4-way countDistinct planned
    // Spark's Expand rewrite — 5× the scan's rows through ONE
    // wide-5-tuple-key hash aggregate, and at sf0.1 the whole 3M-row
    // expansion ran inside a single 6.2 s map task; guide §1.2 "the
    // distributed algorithm" + §2.3 aggregate-before-shuffle): profile
    // each column with its OWN value-keyed aggregate. Per branch the
    // map side collapses to that column's per-task NDV before the
    // exchange (3 / 2 / 50 / 20k rows here), every key is a single
    // primitive/short string (codegen hash agg, no Expand row
    // multiplication), and the four branches are independent stages
    // that run CONCURRENTLY (§2.6). From the value-keyed aggregate:
    // n_rows = Σ cnt, n_null = Σ cnt over the null key, ndv = count of
    // non-null keys, min/max over keys — identical values to the
    // Expand form, re-proven against the oracle.
    // Two type-homogeneous unions (string columns; numeric-as-double
    // columns) keep the whole profile at 5 exchanges — under the
    // suite-wide 6-shuffle ceiling — while still never running Expand:
    // per union, ONE (col_name, value)-keyed aggregate (map side
    // collapses to per-task NDV) and ONE |columns|-keyed rollup.
    // r13 (VERDICT r12 #4): the numeric branch keys on the PRE-CAST
    // double value, so ndv == COUNT(DISTINCT l_quantity) by identity —
    // no dependence on the fixture's quantities being integral (the
    // r12 shape keyed on cast-to-long values, a data-contract bet).
    // min/max render via cast AFTER the aggregate, mirroring the
    // declared SQL's CAST(MIN(..) AS BIGINT) order exactly; l_partkey
    // through double is exact below 2^53.
    // Each branch also carries one weightless (w = NULL) null-valued row
    // per column, so every col_name keeps a group on an empty lineitem
    // and emits the SQL text's global-aggregate row (n_rows = n_null =
    // ndv = 0, NULL min/max); on data it only adds 0 to the null count.
    val li = Tables.lineitem(s, d)
    def branch(cols: Seq[(String, Column)]): DataFrame =
      cols.map { case (n, v) => li.select(lit(n).as("cn"), v.as("v"), lit(1).as("w")) }
        .reduce(_ unionAll _)
        .unionAll(s.range(1).select(explode(array(cols.map(c => lit(c._1)): _*)).as("cn"),
          lit(null).as("v"), lit(null).cast("int").as("w")))
    def prof(vals: DataFrame, render: Column => Column): DataFrame =
      vals.groupBy("cn", "v").agg(count(col("w")).as("cnt"))
        .groupBy("cn").agg(
          sum("cnt").as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(col("v")).as("ndv"),
          render(min(col("v"))).as("min_val"),
          render(max(col("v"))).as("max_val"))
        .select(col("cn").as("col_name"), col("n_rows"), col("n_null"),
          col("ndv"), col("min_val"), col("max_val"))
    prof(branch(Seq(
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"))), _.cast("string"))
      .unionAll(prof(branch(Seq(
        "l_quantity" -> col("l_quantity").cast("double"),
        "l_partkey" -> col("l_partkey").cast("double")))
        , _.cast("long").cast("string")))
      .orderBy("col_name")
  }

  /** q106: cohort retention — the activation/retention triangle every
    * product-analytics engine ships: users cohorted by their first
    * active week, then distinct-user counts per (cohort, week offset).
    * The scalable shape is join-free: ONE shuffle keyed by user builds
    * each user's distinct active-week set (`collect_set`, partially
    * aggregated map-side, bounded by the calendar — a year of history
    * is ≤ 53 elements per user, so state never grows with event
    * volume), the cohort is `array_min` of that set (scan-local), and
    * the triangle is one more small agg keyed by (cohort, week).
    * Compare the naive formulation — distinct, min-agg, then a
    * re-keyed join of two event-sized relations — which shuffles the
    * data three times. Events are sparsified by a deterministic
    * `event_id % 97` sample so the fixture actually produces multiple
    * cohorts (it is dense enough that every user is otherwise active
    * in week one — the sample is part of the declared query, applied
    * identically in both engines). */
  val q106_retention = QueryDef(
    "q106_retention",
    """WITH ev AS (SELECT * FROM events WHERE event_id % 97 = 0),
      |wk AS (SELECT DISTINCT user_id,
      |         CAST(date_trunc('week', ts) AS DATE) AS wk FROM ev),
      |c AS (SELECT user_id, MIN(wk) AS cohort FROM wk GROUP BY user_id)
      |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort,
      |  CAST(date_diff('day', c.cohort, w.wk) // 7 AS BIGINT) AS week_no,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM wk w JOIN c ON w.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val wk = Tables.events(s, d)
      .where(col("event_id") % 97 === 0)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    wk.groupBy("user_id").agg(collect_set("wk").as("wks"))
      .select(array_min(col("wks")).as("cohort"), explode(col("wks")).as("wk"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_no"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "week_no")
  }

  /** q107: Markov transition matrix — per-user event streams folded
    * into (src → dst) transition counts with per-source probabilities
    * and a next-event rank: the session-path / next-action model a
    * behavioural pipeline trains.
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[transitions]] (one per-user lag window — the cheapest
    * correct plan), a Zipf-hot key runs [[transitionsChunked]] (the
    * q158 template; max task bounded by rows-per-user-DAY — skew2 A/B
    * in SKEW_r10.json). Identical rows either way; stitch edge cases
    * (chunk-first rows, empty days between active days, same-ts ties)
    * are pinned in AdvancedSpec. */
  val q107_transitions = QueryDef(
    "q107_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS src
      |  FROM events),
      |t AS (SELECT src, event_type AS dst, COUNT(*) AS n
      |      FROM seq WHERE src IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 4) AS p,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY src
      |                          ORDER BY n DESC, dst) AS BIGINT) AS rk
      |FROM t ORDER BY src, rk""".stripMargin) { (s, d) =>
    transitionsAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q107 plan as a library function, DENSE form: one per-user lag
    * window feeds the matrix-sized aggregation — fastest on even keys,
    * max task linear in the hottest user's rows. Everything after the
    * lag operates on the transition MATRIX (|event types|² rows), so
    * the aggs and windows move a few hundred rows no matter how many
    * events fed them. */
  def transitions(events: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wSrc = Window.partitionBy("src")
    val wRk = Window.partitionBy("src").orderBy(col("n").desc, col("dst"))
    events
      .select(col("user_id"), col("event_type"),
        lag("event_type", 1).over(wSeq).as("src"))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / sum("n").over(wSrc), 4).as("p"),
        row_number().over(wRk).cast("long").as("rk"))
      .orderBy("src", "rk")
  }

  /** The q107 plan, CHUNKED (q158 template, VERDICT r9 #1): the
    * per-user stream is chunked by EVENT-TIME DAY, so the hot user
    * becomes |active days| ordinary tasks. Boundary rows ride the SAME
    * window as the data instead of joining back (the q40 asof union
    * pattern): each ACTIVE user-day's last event_type becomes a side=0
    * pseudo-row that sorts FIRST in the NEXT active chunk, so a plain
    * within-chunk lag hands chunk-first rows their stitched src and
    * the pseudo-rows drop on output; the user's first-ever event has a
    * NULL boundary src and is filtered, exactly as the plain lag's
    * NULL. The only event-sized exchange is the (user, chunk) window
    * one (same size as the dense (user) one). */
  def transitionsChunked(events: DataFrame): DataFrame =
    transitionsFromChunks(events, None)

  /** The q107 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (SKEW_r12_dayflood: the flood day collapses the day-chunk
    * tier's within-chunk lag window into one 11.3 s sort task; count
    * chunks bound the window partition at `rowsPerChunk` rows for ANY
    * time distribution). Same boundary algebra as [[transitionsChunked]]. */
  def transitionsCountChunked(events: DataFrame,
                              rowsPerChunk: Long = RowsPerChunk): DataFrame =
    transitionsFromChunks(events, Some(rowsPerChunk))

  /** Shared boundary-stitch body of the two chunked transition forms,
    * on (user_id, ts, event_id, event_type) chunked by [[withChunk]]. */
  private def transitionsFromChunks(events: DataFrame,
                                    rowsPerChunk: Option[Long]): DataFrame = {
    val ev = withChunk(events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts"))), rowsPerChunk).drop("us")
    val wChunks = Window.partitionBy("user_id").orderBy("chunk")
    val w2 = Window.partitionBy("user_id", "chunk")
      .orderBy("side", "ts", "event_id")
    val wSrc = Window.partitionBy("src")
    val wRk = Window.partitionBy("src").orderBy(col("n").desc, col("dst"))
    val pseudo = ev.groupBy("user_id", "chunk")
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id")))
        .as("clast"))
      .select(col("user_id"),
        lead("chunk", 1).over(wChunks).as("chunk"), // lands in the NEXT active day
        lit(0).as("side"),
        lit(null).cast("timestamp").as("ts"),
        lit(null).cast("long").as("event_id"),
        col("clast").as("event_type"))
      .where(col("chunk").isNotNull)
    ev.withColumn("side", lit(1))
      .select("user_id", "chunk", "side", "ts", "event_id", "event_type")
      .unionByName(pseudo)
      .withColumn("src", lag("event_type", 1).over(w2))
      .where(col("side") === 1 && col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / sum("n").over(wSrc), 4).as("p"),
        row_number().over(wRk).cast("long").as("rk"))
      .orderBy("src", "rk")
  }

  /** q108: OHLC downsample — per (user, day) open/high/low/close plus
    * count and volume, the canonical time-series resample. Open/close
    * are `min_by`/`max_by` over the composite (ts, event_id) ordering
    * key — order statistics INSIDE a hash aggregate, so the whole query
    * is one keyed shuffle with full partial aggregation and no window,
    * no per-group sort, at any scale. (The window formulation —
    * row_number ASC/DESC then filter — pays a per-partition sort and
    * carries every event row through the exchange; min_by carries one
    * running pair per group per partition.) Exact integer cents. */
  val q108_ohlc = QueryDef(
    "q108_ohlc",
    """WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |      CAST(ROUND(value * 100) AS BIGINT) AS cents, ts, event_id
      |      FROM events)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(FIRST(cents ORDER BY ts, event_id) AS BIGINT) AS open,
      |  CAST(MAX(cents) AS BIGINT) AS high,
      |  CAST(MIN(cents) AS BIGINT) AS low,
      |  CAST(LAST(cents ORDER BY ts, event_id) AS BIGINT) AS close,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS volume
      |FROM e GROUP BY user_id, day
      |ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val ord = struct(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(min_by(col("cents"), ord).as("open"), max("cents").as("high"),
        min("cents").as("low"), max_by(col("cents"), ord).as("close"),
        count(lit(1)).as("n"), sum("cents").as("volume"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("open"), col("high"), col("low"), col("close"), col("n"),
        col("volume"))
      .orderBy("user_id", "day")
  }

  /** q111: equi-width histogram — the other half of the ANALYZE surface
    * (q105 profiles NDV/min/max; this bins the distribution an optimizer
    * or data-quality report actually plots). Two scans by design: a
    * 1-row min/max agg fixes the bounds, broadcast back (explicitly
    * bounded — ONE row), then bucketing is scan-local integer math and
    * the histogram agg moves ≤ 20 rows. Exact integer cents end-to-end:
    * bucket boundaries are integers, so no float-boundary drift between
    * engines — `floor(ints / int)` is exact in doubles far below 2^53.
    * At 100 TB the bounds pass is a near-free column-statistics read
    * (parquet footers could answer it); the histogram pass is one
    * map-side-combined agg with a ≤ #buckets keyspace. */
  val q111_histogram = QueryDef(
    "q111_histogram",
    """WITH e AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |k AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx,
      |        CAST(CEIL((MAX(cents) - MIN(cents) + 1) / 20.0) AS BIGINT)
      |          AS width
      |      FROM e),
      |h AS (SELECT CAST(FLOOR((cents - mn) / width) AS BIGINT) AS bucket,
      |             mn, width
      |      FROM e CROSS JOIN k)
      |SELECT bucket, CAST(mn + bucket * width AS BIGINT) AS lo,
      |  CAST(mn + (bucket + 1) * width - 1 AS BIGINT) AS hi,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM h GROUP BY bucket, mn, width
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val cents = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val bounds = cents
      .agg(min("cents").as("mn"), max("cents").as("mx"))
      .select(col("mn"), col("mx"),
        ceil((col("mx") - col("mn") + 1) / lit(20.0)).cast("long").as("width"))
    cents.crossJoin(broadcast(bounds))
      .select(floor((col("cents") - col("mn")) / col("width"))
          .cast("long").as("bucket"),
        col("mn"), col("width"))
      .groupBy("bucket", "mn", "width")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"), (col("mn") + col("bucket") * col("width")).as("lo"),
        (col("mn") + (col("bucket") + 1) * col("width") - 1).as("hi"),
        col("n"))
      .orderBy("bucket")
  }

  /** q124: Pareto skyline (maximize price AND recency) — the
    * non-dominated frontier over (cents, order date): an order is on
    * the skyline iff no other order is ≥ in both dimensions and > in at
    * least one. The data-selection primitive behind quality-vs-length /
    * cost-vs-freshness tradeoff curves in corpus curation.
    *
    * Scale posture: rows collapse to DISTINCT (cents, date) points with
    * counts in one exchange; dominance then needs only two window
    * aggregates that share ONE sort — over integer cents, a descending
    * RANGE frame ending at −1 is exactly "strictly higher cents" (max
    * date among all better-priced points), and the (currentRow,
    * currentRow) range frame is exactly the tie group (max date among
    * same-priced points). Point p survives iff its date beats every
    * higher-priced date and is its own price-class max. The single-
    * partition window runs over the DISTINCT-point table, not the
    * corpus; if even that outgrows one task, q94's two-level prefix
    * decomposition applies verbatim (per-shard frames + #shards-row
    * prefix). The naive formulation — the oracle's NOT EXISTS dominance
    * self-join — is O(n²) and never runs here. */
  val q124_skyline = QueryDef(
    "q124_skyline",
    """WITH base AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderdate AS d
      |  FROM orders),
      |pts AS (SELECT cents, d, CAST(COUNT(*) AS BIGINT) AS n_orders
      |        FROM base GROUP BY cents, d)
      |SELECT cents, d, n_orders FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.cents >= p.cents AND q.d >= p.d
      |    AND (q.cents > p.cents OR q.d > p.d))
      |ORDER BY cents DESC""".stripMargin) { (s, d) =>
    val pts = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate").as("d"))
      .groupBy("cents", "d").agg(count(lit(1)).as("n_orders"))
    val byCents = Window.orderBy(col("cents").desc)
    val higher = byCents.rangeBetween(Window.unboundedPreceding, -1)
    val ties = byCents.rangeBetween(Window.currentRow, Window.currentRow)
    pts
      .select(col("cents"), col("d"), col("n_orders"),
        max("d").over(higher).as("hmax"), max("d").over(ties).as("smax"))
      .where((col("hmax").isNull || col("d") > col("hmax")) &&
        col("d") === col("smax"))
      .select(col("cents"), col("d"), col("n_orders"))
      .orderBy(col("cents").desc)
  }

  /** q125: equal-frequency (decile) feature binning — q111's histogram
    * is equal-WIDTH; ML feature quantization wants equal-COUNT bins:
    * exact decile cuts over cents, each row assigned the number of cuts
    * strictly below it, per-bin count/lo/hi reported. The bin-boundary
    * table a feature store ships with a quantized column.
    *
    * Scale posture: the cut computation is ONE exact-percentile global
    * aggregate (1 row, broadcast back — same shape as q111's bounds
    * pass); assignment is a scan-local filter-count over the 9-element
    * cuts array; the stats agg has a ≤ 10-key keyspace so map-side
    * partials collapse everything before the exchange. Integer cents
    * against the interpolated double cuts compare identically in both
    * engines. */
  val q125_quantile_binning = QueryDef(
    "q125_quantile_binning",
    """WITH e AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |k AS (SELECT quantile_cont(cents,
      |               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
      |      FROM e),
      |b AS (SELECT CAST(len(list_filter(cuts, c -> cents > c)) AS BIGINT)
      |               AS bin,
      |             cents
      |      FROM e CROSS JOIN k)
      |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(cents) AS lo, MAX(cents) AS hi
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    val cents = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cuts = cents.agg(
      expr("percentile(cents, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
        .as("cuts"))
    cents.crossJoin(broadcast(cuts))
      .select(size(filter(col("cuts"), c => col("cents") > c))
        .cast("long").as("bin"), col("cents"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"), max("cents").as("hi"))
      .orderBy("bin")
  }

  /** q112: per-user EWMA (α = 0.3) over the time-ordered event stream —
    * the smoothing fold behind rate limiting, anomaly baselines, and
    * metric dashboards. An EWMA is inherently sequential, but it is a
    * LINEAR recurrence (rᵢ = 0.3·xᵢ + 0.7·rᵢ₋₁), so a chunk of the
    * series composes to one affine map r ↦ scale·r + offset with
    * scale = 0.7^k and offset the chunk's own weighted fold — the
    * carry that makes the q158 skew-safe template apply (VERDICT r9
    * #1: the old whole-history `collect_list` materialized a Zipf-hot
    * user's 4M-row stream as ONE array in ONE task).
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[ewma]] — one per-user collect + flat fold, the exact
    * FP sequence of the oracle — a Zipf-hot key runs [[ewmaChunked]].
    * For unbounded streams the incremental form is one multiply-add
    * per arrival (the T6 mapGroupsWithState shape). */
  val q112_ewma = QueryDef(
    "q112_ewma",
    """WITH e AS (SELECT user_id, ts, event_id,
      |      CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
      |l AS (SELECT user_id,
      |        list(CAST(cents AS DOUBLE) ORDER BY ts, event_id) AS vs
      |      FROM e GROUP BY user_id)
      |SELECT user_id, CAST(length(vs) AS BIGINT) AS n,
      |  ROUND(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma
      |FROM l ORDER BY user_id""".stripMargin) { (s, d) =>
    ewmaAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** ROUND(x, digits) with C/DuckDB semantics on DOUBLE — round half
    * away from zero evaluated on the BINARY value — instead of Spark's
    * round(), which routes through BigDecimal.valueOf's SHORTEST
    * DECIMAL representation. The two diverge when a double's shortest
    * repr ends exactly on the half-grid but its binary value sits on
    * the other side: the r12 flood-fixture oracle caught q112's raw
    * 1606.687449999999899… (shortest repr "1606.68745") — Spark round
    * → 1606.6875, DuckDB → 1606.6874, on the SAME raw double in both
    * engines (a 6-row user in one chunk; no regrouping involved, the
    * dense arm diverges identically). This mirror reproduces DuckDB's
    * std::round(x·10^d)/10^d op-for-op — multiply, exact |·|/floor,
    * exact integral add below 2^53, divide — verified bit-equal on 80k
    * adversarial doubles (±ulp around half-boundaries). Contract:
    * |x|·10^digits < 2^52. Existing fixtures contain no divergent
    * values (11 rounds of q112 hash-exact prove it), so switching an
    * output to this mirror never changes a frozen hash — it only closes
    * the flood-scale class. */
  def roundPortable(x: Column, digits: Int): Column = {
    val m = math.pow(10, digits)
    val y = abs(x) * lit(m)
    val r = floor(y) + when(y - floor(y) >= 0.5, 1.0).otherwise(0.0)
    (signum(x) * r) / lit(m)
  }

  /** The q112 plan as a library function, DENSE form: one per-user
    * collect builds the time-ordered cents array and a flat `aggregate`
    * HOF folds it — the EXACT floating-point sequence of the oracle's
    * list_reduce. Fastest on even keys; holds a user's whole history
    * in one task. Output rounding is [[roundPortable]] (the C/DuckDB
    * mirror), not Spark round — see its scaladoc. */
  def ewma(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("cents")))).as("rows"))
      .select(col("user_id"),
        transform(col("rows"), r => r.getField("cents").cast("double"))
          .as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n"),
        roundPortable(aggregate(
          slice(col("vs"), lit(2), size(col("vs"))), element_at(col("vs"), 1),
          (acc, x) => lit(0.3) * x + lit(0.7) * acc), 4).as("ewma"))
      .orderBy("user_id")

  /** The q112 plan, CHUNKED (q158 template): per (user, EVENT-TIME DAY)
    * chunk, ONE keyed exchange collects the day's ordered values
    * (struct-sorted on (ts, event_id) — the unique id breaks ties
    * deterministically) and two scan-local `aggregate` HOFs fold them
    * into (a) the day-starts-the-series EWMA (first element as seed)
    * and (b) the (scale, offset) affine carry; the per-user stitch
    * then folds the user-DAY-sized carry table in chunk order — bounded
    * by active days, never by history. Per-chunk folds are the exact FP
    * sequence; the cross-chunk affine regrouping can differ from a flat
    * left fold by O(#chunks · ulp).
    *
    * The half-boundary class, CLOSED with a measured bound (VERDICT r11
    * #3): PropertySpec replays both plans' exact FP sequences model-side
    * over 4,000 adversarial corpora (random, constant, near-constant
    * cents; arbitrary chunk splits covering the day AND count tiers)
    * and pins the regrouping gap < 1e-7 — three orders of magnitude
    * inside the declared ROUND(·, 4) grid's 5e-5 half-step, so a
    * rounding flip additionally requires the flat fold itself to sit
    * within 1e-7 of a half-boundary (none observed; hash-exact at every
    * tested SF). The once-suggested exact integer fold is NOT available
    * here and the contingency is retired: this recurrence is
    * multiplicative (the carry scales by 0.7^k, which no fixed scaling
    * of 10^k cents keeps integral — unlike q08's additive
    * integer-cents sums), and exactly replaying the flat fold's rounded
    * ops would require the running value at every element, i.e. the
    * dense plan. If a corpus ever trips the residual class, the
    * deterministic remediation is the dense arm (exact oracle FP
    * sequence) on that corpus, not a numeric knob. */
  def ewmaChunked(events: DataFrame): DataFrame = ewmaFromChunks(events, None)

  /** The q112 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (SKEW_r12_dayflood: a 4M-row bot-flood day collapses the
    * day-chunk tier's per-chunk collect+fold into one 15.8–46 s task;
    * chunking by RangeStitch rank bounds every chunk at `rowsPerChunk`
    * rows for ANY time distribution). Same stitch algebra as
    * [[ewmaChunked]]. */
  def ewmaCountChunked(events: DataFrame,
                       rowsPerChunk: Long = RowsPerChunk): DataFrame =
    ewmaFromChunks(events, Some(rowsPerChunk))

  /** (user_id, ts, event_id, cents, us): the value in integer cents and
    * the event time in epoch micros — the input the chunked EWMA, TWAP
    * and rolling-median forms hand to [[withChunk]]. */
  private def centsEvents(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("ts"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"),
      unix_micros(col("ts")).as("us"))

  /** Shared stitch body of the two chunked EWMA forms, on
    * [[centsEvents]] chunked by [[withChunk]]. */
  private def ewmaFromChunks(events: DataFrame,
                             rowsPerChunk: Option[Long]): DataFrame = {
    val ev = withChunk(centsEvents(events), rowsPerChunk).drop("us")
    val spark = ev.sparkSession
    import spark.implicits._
    // Per-chunk summaries as a TYPED compiled fold (r12 — the q142 r11
    // cure applied here): the previous `aggregate` HOF form is
    // CodegenFallback, and on events-sized chunks its interpreted eval
    // loop reproduced q142's per-JVM C2 bimodality — three fresh JVMs
    // measured the same 2×-flood stage at 5.4 vs 14.9 s MEDIAN task
    // (walls 22.9/32.6/69.6 s, identical plans). Plain bytecode JITs
    // predictably. The FP sequence is op-for-op the HOF's: e seeded by
    // the first element then e = 0.3·x + 0.7·e; s = 0.7·s;
    // o = 0.7·o + 0.3·x over every element in (ts, event_id) order —
    // results are bit-identical (oracle hashes unchanged at every SF).
    val chunks = ev
      .select(col("user_id"), col("chunk"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), col("cents"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("tsm"), col("event_id")) {
        case ((user, chunk), it) =>
          var n = 0L
          var e = 0.0
          var s = 1.0
          var o = 0.0
          it.foreach { case (_, _, _, _, cents) =>
            val x = cents.toDouble
            e = if (n == 0L) x else 0.3 * x + 0.7 * e
            s = 0.7 * s
            o = 0.7 * o + 0.3 * x
            n += 1
          }
          Iterator((user, chunk, n, e, s, o))
      }
      .toDF("user_id", "chunk", "cn", "efirst", "s", "o")
    chunks
      .groupBy("user_id")
      .agg(sum("cn").as("n"),
        aggregate(
          array_sort(collect_list(struct(col("chunk"), col("efirst"),
            col("s"), col("o")))),
          struct(lit(false).as("has"), lit(0.0).as("r")),
          (acc, c) => struct(lit(true).as("has"),
            when(acc.getField("has"),
              c.getField("s") * acc.getField("r") + c.getField("o"))
              .otherwise(c.getField("efirst")).as("r")))
          .getField("r").as("raw"))
      .select(col("user_id"), col("n"),
        roundPortable(col("raw"), 4).as("ewma"))
      .orderBy("user_id")
  }

  /** q115: rolling median — the robust (outlier-proof) smoother a
    * monitoring/quality pipeline runs where q112's EWMA is too
    * outlier-sensitive: per user, the median of the trailing 7 values
    * in (ts, event_id) order. A median is holistic — no built-in Spark
    * window form — so the shape keeps the holistic state FRAME-BOUNDED:
    * a `collect_list` over the ROWS frame holds ≤ 7 values per row,
    * sorted and mid-picked scan-locally.
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[rollingMedian]] (one per-user frame window), a
    * Zipf-hot key runs [[rollingMedianChunked]] (the q158 template —
    * the r10 skew2 stress measured the plain frame window at 8.6×
    * median max-task; the frame bounds STATE, but the hot user's
    * partition is still ONE unsplittable window task). Midpoint of an
    * even frame is averaged exactly in integer-cents doubles, matching
    * DuckDB's MEDIAN interpolation in both forms. */
  val q115_rolling_median = QueryDef(
    "q115_rolling_median",
    """WITH e AS (SELECT user_id, ts, event_id,
      |      CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT user_id, event_id,
      |  CAST(COUNT(*) OVER win AS BIGINT) AS n_win,
      |  CAST(MEDIAN(cents) OVER win AS DOUBLE) AS med
      |FROM e
      |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    rollingMedianAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q115 plan as a library function, DENSE form: ONE user-keyed
    * window exchange; `collect_list` over the ROWS frame holds ≤ 7
    * values per row (constant state however long the user's history),
    * sorted and mid-picked scan-locally. */
  def rollingMedian(events: DataFrame): DataFrame = {
    val wFrame = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, Window.currentRow)
    val nArr = size(col("arr"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(wFrame)))
      .select(col("user_id"), col("event_id"),
        nArr.cast("long").as("n_win"),
        when(nArr % 2 === 1,
          element_at(col("arr"), ((nArr + 1) / 2).cast("int")).cast("double"))
          .otherwise(
            (element_at(col("arr"), (nArr / 2).cast("int")) +
              element_at(col("arr"), (nArr / 2 + 1).cast("int")))
              .cast("double") / 2).as("med"))
      .orderBy("user_id", "event_id")
  }

  /** The q115 plan, CHUNKED (q158 template): the per-user stream
    * chunks by EVENT-TIME DAY; a row's trailing-7 frame can reach at
    * most 6 values behind the chunk boundary, so the carry is each
    * chunk's incoming TAIL — the last ≤6 values of everything before
    * it, built by ONE per-user fold over the user-DAY-sized per-chunk
    * tails (`lastN(concat(run, tail), 6)`) and joined back. Each row
    * then takes the last 7 of (carry ++ within-chunk trailing frame)
    * — exactly its trailing window whether or not it crosses days
    * (sparse users spanning many near-empty days work because the run
    * tail accumulates ACROSS chunks, pinned in AdvancedSpec). */
  def rollingMedianChunked(events: DataFrame): DataFrame =
    rollingMedianFromChunks(events, None)

  /** The q115 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier, and the family's heaviest per-chunk work (SKEW_r12_dayflood:
    * the flood day's per-row frame collect + concat + sort collapsed
    * into one 22–31 s task on the day-chunk form — the worst of the
    * six twins, as VERDICT r11 predicted). Count chunks bound the
    * within-chunk frame window at `rowsPerChunk` rows for ANY time
    * distribution; the tail-carry fold is chunk-id-agnostic, so the
    * algebra is [[rollingMedianFromChunks]] unchanged. */
  def rollingMedianCountChunked(events: DataFrame,
                                rowsPerChunk: Long = RowsPerChunk): DataFrame =
    rollingMedianFromChunks(events, Some(rowsPerChunk))

  /** Shared tail-carry body of the two chunked rolling-median forms, on
    * [[centsEvents]] chunked by [[withChunk]]. */
  private def rollingMedianFromChunks(events: DataFrame,
                                      rowsPerChunk: Option[Long]): DataFrame = {
    val ev = withChunk(centsEvents(events), rowsPerChunk).drop("us")
    val wFrame2 = Window.partitionBy("user_id", "chunk")
      .orderBy("ts", "event_id").rowsBetween(-6, Window.currentRow)
    // last ≤n elements, positive-start form (negative slice starts error
    // when |start| exceeds the array size)
    def lastN(a: Column, n: Int): Column =
      slice(a, greatest(size(a) - (n - 1), lit(1)), lit(n))
    // per-chunk tail: the day's last ≤6 cents in (ts, event_id) order
    val tails = ev.groupBy("user_id", "chunk")
      .agg(transform(
        lastN(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("cents")))), 6),
        t => t.getField("cents")).as("tail6"))
    // incoming carry per chunk: last ≤6 values of ALL prior chunks —
    // one fold over the user's chunk-sorted tails, emitting
    // (chunk, carry) pairs; `run` accumulates across sparse chunks
    val carries = tails.groupBy("user_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("chunk"), col("tail6")))),
        struct(
          expr("CAST(array() AS array<struct<chunk:bigint,carry:array<bigint>>>)")
            .as("out"),
          expr("CAST(array() AS array<bigint>)").as("run")),
        (acc, c) => struct(
          concat(acc.getField("out"),
            array(struct(c.getField("chunk").as("chunk"),
              acc.getField("run").as("carry")))).as("out"),
          lastN(concat(acc.getField("run"), c.getField("tail6")), 6)
            .as("run")))
        .getField("out").as("pairs"))
      .select(col("user_id"), explode(col("pairs")).as("p"))
      .select(col("user_id"), col("p.chunk").as("chunk"),
        col("p.carry").as("carry"))
    val withWin = ev
      // collect_list over a ROWS frame iterates in the window's sort
      // order, so warr is the within-chunk trailing slice, time-ordered
      .withColumn("warr", collect_list(col("cents")).over(wFrame2))
      .join(carries, Seq("user_id", "chunk"))
      .withColumn("cat", concat(col("carry"), col("warr")))
      .withColumn("arr", sort_array(lastN(col("cat"), 7)))
    val nArr = size(col("arr"))
    withWin
      .select(col("user_id"), col("event_id"),
        nArr.cast("long").as("n_win"),
        when(nArr % 2 === 1,
          element_at(col("arr"), ((nArr + 1) / 2).cast("int")).cast("double"))
          .otherwise(
            (element_at(col("arr"), (nArr / 2).cast("int")) +
              element_at(col("arr"), (nArr / 2 + 1).cast("int")))
              .cast("double") / 2).as("med"))
      .orderBy("user_id", "event_id")
  }

  /** q118: time-weighted average (TWAP) — the telemetry/finance mean for
    * IRREGULARLY sampled series, where q112's EWMA assumes arrival-count
    * decay: each observation is weighted by how long it was "in force"
    * (milliseconds until the user's next event; the open-ended last
    * observation carries no weight).
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[twap]] (one per-user lead window), a Zipf-hot key runs
    * [[twapChunked]] (the q158 template — the r10 skew2 stress
    * measured the plain lead window at ~5× median max-task, q107's lag
    * class mirrored). Determinism across engines: values become
    * integer cents and durations integer milliseconds BEFORE any
    * arithmetic, so numerator and denominator are exact integer sums
    * in any order — the only float op is the final division, identical
    * bit-for-bit in both engines and both forms. */
  val q118_twap = QueryDef(
    "q118_twap",
    """WITH e AS (SELECT user_id, ts, event_id,
      |      CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
      |w AS (SELECT user_id, cents,
      |        epoch_ms(LEAD(ts) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id))
      |          - epoch_ms(ts) AS dur
      |      FROM e)
      |SELECT user_id,
      |  CAST(COUNT(dur) AS BIGINT) AS n_spans,
      |  CAST(SUM(dur) AS BIGINT) AS total_ms,
      |  ROUND(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur) / 100, 4) AS twap
      |FROM w WHERE dur IS NOT NULL AND dur > 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    twapAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q118 plan as a library function, DENSE form: ONE user-keyed
    * exchange serves both the `lead` window and the final per-user
    * aggregate (subset rule), plus the output sort. */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("dur",
        unix_millis(lead("ts", 1).over(w)) - unix_millis(col("ts")))
      .where(col("dur").isNotNull && col("dur") > 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("dur").as("total_ms"),
        round(sum(col("cents") * col("dur")).cast("double") /
          sum(col("dur")) / 100, 4).as("twap"))
      .orderBy("user_id")
  }

  /** The q118 plan, CHUNKED (q158 template): within-(user, event-time
    * day) lead covers every row except chunk-LAST rows, which take the
    * next ACTIVE chunk's FIRST ts via a boundary pseudo-row riding the
    * SAME window (the q107 union pattern, mirrored for lead). The only
    * event-sized exchange is the (user, chunk) window; the final
    * per-user aggregate map-side-combines, so its exchange moves
    * user-sized rows. */
  def twapChunked(events: DataFrame): DataFrame = twapFromChunks(events, None)

  /** The q118 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (SKEW_r12_dayflood: the flood day collapses the day-chunk
    * tier's within-chunk lead window into one 9–10 s sort task; count
    * chunks bound the window partition at `rowsPerChunk` rows for ANY
    * time distribution). Same pseudo-row algebra as [[twapChunked]]. */
  def twapCountChunked(events: DataFrame,
                       rowsPerChunk: Long = RowsPerChunk): DataFrame =
    twapFromChunks(events, Some(rowsPerChunk))

  /** Shared pseudo-row body of the two chunked TWAP forms, on
    * [[centsEvents]] chunked by [[withChunk]]. */
  private def twapFromChunks(events: DataFrame,
                             rowsPerChunk: Option[Long]): DataFrame = {
    val ev = withChunk(centsEvents(events), rowsPerChunk).drop("us")
    // boundary rows ride the SAME window instead of joining back (the
    // q107 union pattern, mirrored for lead): each ACTIVE user-day's
    // first ts becomes a side=2 pseudo-row that sorts LAST in the
    // PREVIOUS active chunk, so a plain within-chunk lead hands
    // chunk-last rows their stitched next-ts; pseudo-rows drop on
    // output (their own lead is null and they carry no cents).
    val wChunks = Window.partitionBy("user_id").orderBy("chunk")
    val w2 = Window.partitionBy("user_id", "chunk")
      .orderBy("side", "ts", "event_id")
    val pseudo = ev.groupBy("user_id", "chunk").agg(min("ts").as("cmin"))
      .select(col("user_id"),
        lag("chunk", 1).over(wChunks).as("chunk"), // lands in the PREVIOUS active day
        lit(2).as("side"), col("cmin").as("ts"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("long").as("cents"))
      .where(col("chunk").isNotNull)
    ev.withColumn("side", lit(1))
      .select("user_id", "chunk", "side", "ts", "event_id", "cents")
      .unionByName(pseudo)
      .withColumn("dur",
        unix_millis(lead("ts", 1).over(w2)) - unix_millis(col("ts")))
      .where(col("side") === 1 && col("dur").isNotNull && col("dur") > 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("dur").as("total_ms"),
        round(sum(col("cents") * col("dur")).cast("double") /
          sum(col("dur")) / 100, 4).as("twap"))
      .orderBy("user_id")
  }

  /** q129: constraint audit — the data-quality gate a pipeline runs
    * before promoting a batch: referential integrity (every staged
    * order points at a real customer), key uniqueness, and a not-null
    * contract, reported as one (check, checked, violations) table. The
    * fixture is clean by construction, so — the q81 PII precedent —
    * each check audits a STAGED view carrying deterministic corruption
    * synthesized from existing columns (identical in both engines):
    * every 37th order's FK is shifted out of range, every 41st
    * customer key is re-inserted, every 29th document's text is
    * nulled. Both the pass and the violation paths are exercised.
    *
    * Scale posture: the FK check never ships fact rows to the join —
    * the staged FK column collapses to (key, cnt) via a map-side-
    * combined aggregate, the key-sized frame left-joins the dimension
    * key set (AQE picks broadcast vs shuffle — the round-7 lesson:
    * never hint), and violations are a SUM over unmatched keys.
    * Uniqueness folds to sum(cnt−1) over the same-shaped key agg;
    * the not-null check is a scan-local conditional aggregate. Each
    * check ends 1 row; the report union moves 3 rows. */
  val q129_fk_audit = QueryDef(
    "q129_fk_audit",
    """WITH fk AS (SELECT CASE WHEN o_orderkey % 37 = 0
      |                        THEN o_custkey - 1000000
      |                        ELSE o_custkey END AS k FROM orders),
      |fc AS (SELECT k, COUNT(*) AS cnt FROM fk GROUP BY k),
      |r1 AS (SELECT 'fk_orders_custkey' AS check_name,
      |         CAST(SUM(cnt) AS BIGINT) AS checked,
      |         CAST(COALESCE(SUM(CASE WHEN c.c_custkey IS NULL
      |                                THEN cnt END), 0) AS BIGINT)
      |           AS violations
      |       FROM fc LEFT JOIN customer c ON fc.k = c.c_custkey),
      |u AS (SELECT c_custkey AS k FROM customer
      |      UNION ALL
      |      SELECT c_custkey FROM customer WHERE c_custkey % 41 = 0),
      |uc AS (SELECT k, COUNT(*) AS cnt FROM u GROUP BY k),
      |r2 AS (SELECT 'unique_customer_custkey' AS check_name,
      |         CAST(SUM(cnt) AS BIGINT) AS checked,
      |         CAST(SUM(cnt - 1) AS BIGINT) AS violations FROM uc),
      |r3 AS (SELECT 'notnull_documents_text' AS check_name,
      |         CAST(COUNT(*) AS BIGINT) AS checked,
      |         CAST(SUM(CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS violations
      |       FROM documents)
      |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
      |SELECT * FROM r3 ORDER BY check_name""".stripMargin) { (s, d) =>
    val fc = Tables.orders(s, d)
      .select(when(col("o_orderkey") % 37 === 0, col("o_custkey") - 1000000L)
        .otherwise(col("o_custkey")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val r1 = fc
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("k") === col("c_custkey"), "left")
      .agg(sum("cnt").cast("long").as("checked"),
        coalesce(sum(when(col("c_custkey").isNull, col("cnt"))), lit(0L))
          .cast("long").as("violations"))
      .select(lit("fk_orders_custkey").as("check_name"),
        col("checked"), col("violations"))
    val cust = Tables.customer(s, d).select(col("c_custkey").as("k"))
    val r2 = cust.union(cust.where(col("k") % 41 === 0))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").cast("long").as("checked"),
        sum(col("cnt") - 1).cast("long").as("violations"))
      .select(lit("unique_customer_custkey").as("check_name"),
        col("checked"), col("violations"))
    val r3 = Tables.documents(s, d)
      .agg(count(lit(1)).cast("long").as("checked"),
        sum(when(col("doc_id") % 29 === 0, 1L).otherwise(0L))
          .cast("long").as("violations"))
      .select(lit("notnull_documents_text").as("check_name"),
        col("checked"), col("violations"))
    r1.unionByName(r2).unionByName(r3).orderBy("check_name")
  }

  /** q130: autocorrelation function of the daily event-count series at
    * lags 1..7 — the seasonality diagnostic (a weekly cycle shows as a
    * lag-7 peak) behind capacity planning and anomaly baselines:
    * r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ(x−x̄)² over the row-indexed
    * observed-day series.
    *
    * Scale posture: the corpus-sized work is exactly ONE map-side-
    * combined date aggregate; the series itself is DAYS-sized (bounded
    * by the calendar — thousands of rows at any event volume), so it
    * folds to a single ordered array in one global two-stage agg, and
    * all seven lags compute scan-locally on that one row via slice +
    * zip_with — seven lags never cost seven self-joins. The SQL parity
    * text IS the seven-way indexed self-join, so the oracle proves the
    * array decomposition. */
  val q130_acf = QueryDef(
    "q130_acf",
    """WITH dc AS (SELECT CAST(ts AS DATE) AS d,
      |             CAST(COUNT(*) AS DOUBLE) AS x
      |           FROM events GROUP BY 1),
      |s AS (SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS i FROM dc),
      |mu AS (SELECT AVG(x) AS mu FROM s),
      |den AS (SELECT SUM((x - mu) * (x - mu)) AS d2 FROM s CROSS JOIN mu),
      |k AS (SELECT unnest(range(1, 8)) AS lag),
      |num AS (SELECT k.lag, SUM((a.x - mu) * (b.x - mu)) AS nm
      |        FROM k JOIN s a ON a.i > k.lag
      |               JOIN s b ON b.i = a.i - k.lag CROSS JOIN mu
      |        GROUP BY k.lag)
      |SELECT CAST(num.lag AS BIGINT) AS lag, ROUND(nm / d2, 4) AS acf
      |FROM num CROSS JOIN den ORDER BY lag""".stripMargin) { (s, d) =>
    val series = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("x"))
      .agg(array_sort(collect_list(struct(col("d"), col("x")))).as("rows"))
      .select(transform(col("rows"), r => r.getField("x")).as("vs"))
      .withColumn("n", size(col("vs")))
      .withColumn("mu",
        aggregate(col("vs"), lit(0.0d), (acc, x) => acc + x) / col("n"))
      .withColumn("d2",
        aggregate(col("vs"), lit(0.0d),
          (acc, x) => acc + (x - col("mu")) * (x - col("mu"))))
    series
      .select(col("vs"), col("n"), col("mu"), col("d2"),
        explode(sequence(lit(1), lit(7))).as("lag"))
      .select(col("lag").cast("long").as("lag"),
        round(
          aggregate(
            zip_with(
              slice(col("vs"), col("lag") + 1, col("n") - col("lag")),
              slice(col("vs"), lit(1), col("n") - col("lag")),
              (a, b) => (a - col("mu")) * (b - col("mu"))),
            lit(0.0d), (acc, x) => acc + x) / col("d2"), 4).as("acf"))
      .orderBy("lag")
  }

  /** q131: event co-occurrence lift — the market-basket association
    * matrix over user behaviour: for every pair of event types, how
    * many users did BOTH, against independence (lift = n·|a∩b| /
    * (|a|·|b|)) and overlap (Jaccard). The "users who view also
    * purchase?" question behind recommendation and funnel design.
    *
    * Scale posture: ONE user-keyed exchange builds each user's
    * DISTINCT type set (collect_set dedups in the partial agg);
    * pair fan-out happens scan-locally AFTER that dedup, over sorted
    * sets bounded by |event types| — never over raw events — and the
    * pair aggregate's keyspace is |types|², so map-side partials
    * collapse every partition to ≤ k² rows before its exchange. The
    * type marginals reuse the same per-user frame (types-sized agg),
    * and attach by broadcast — dimension-sized at any corpus scale. */
  val q131_cooccur_lift = QueryDef(
    "q131_cooccur_lift",
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS nu
      |        FROM ut),
      |mg AS (SELECT event_type, COUNT(*) AS m FROM ut GROUP BY 1),
      |p AS (SELECT x.event_type AS a, y.event_type AS b,
      |        COUNT(*) AS n_users
      |      FROM ut x JOIN ut y ON x.user_id = y.user_id
      |                        AND x.event_type < y.event_type
      |      GROUP BY 1, 2)
      |SELECT p.a, p.b, CAST(p.n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(p.n_users AS DOUBLE) * nu / (ma.m * mb.m), 4) AS lift,
      |  ROUND(CAST(p.n_users AS DOUBLE) / (ma.m + mb.m - p.n_users), 4)
      |    AS jaccard
      |FROM p JOIN mg ma ON ma.event_type = p.a
      |       JOIN mg mb ON mb.event_type = p.b CROSS JOIN tot
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    // the per-user set frame feeds three consumers (pairs, marginals,
    // user count) — localCheckpoint materializes the user-sized frame
    // once so the corpus is scanned and user-shuffled ONCE, not thrice
    val sets = Tables.events(s, d)
      .groupBy("user_id")
      .agg(array_sort(collect_set(col("event_type"))).as("ts"))
      .localCheckpoint()
    val nu = sets.agg(count(lit(1)).cast("double").as("nu"))
    val mg = sets.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("m"))
    // r12 (guide §4): the i<j pair fan-out is two codegen posexplodes
    // with a j>i filter (the q117 rewrite) — the nested interpreted
    // transform/flatten lambda chain is gone. Distinct sorted sets make
    // j>i ⇔ a<b, so the pair stream is identical.
    val pairs = sets
      .select(col("ts"), posexplode(col("ts")).as(Seq("i", "a")))
      .select(col("a"), col("i"), posexplode(col("ts")).as(Seq("j", "b")))
      .where(col("j") > col("i"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_users"))
    pairs
      .join(broadcast(mg.select(col("t").as("a"), col("m").as("ma"))), "a")
      .join(broadcast(mg.select(col("t").as("b"), col("m").as("mb"))), "b")
      .crossJoin(broadcast(nu))
      .select(col("a"), col("b"), col("n_users").cast("long").as("n_users"),
        round(col("n_users").cast("double") * col("nu") /
          (col("ma") * col("mb")), 4).as("lift"),
        round(col("n_users").cast("double") /
          (col("ma") + col("mb") - col("n_users")), 4).as("jaccard"))
      .orderBy("a", "b")
  }

  /** q142: time-constrained window funnel (the ClickHouse
    * `windowFunnel` semantics, greedy variant): the furthest stage of
    * view(1) → click(2) → purchase(3) reached where each NEXT stage
    * lands within 3 days of the PREVIOUS stage's event — q62's state
    * machine with a conversion-window clock, which is what real funnel
    * reports use (a purchase six months after the click is not a
    * conversion). Greedy anchoring: the first view starts the clock,
    * and each accepted stage re-anchors it. Output is the funnel
    * report itself — per-depth user counts plus the "reached ≥ depth"
    * cumulative — not per-user rows.
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[funnelDepths]] (one per-user collect + clock fold), a
    * Zipf-hot key runs [[funnelDepthsChunked]] — the q158 skew-safe
    * template with a threshold/continuation carry (see its scaladoc).
    * In both forms the report aggregate and its cumulative window
    * touch ≤ 4 rows. The oracle is the independent positional min-join
    * chain (first view; first click after it within Δ; first purchase
    * after THAT within Δ), so the fold and the join formulation check
    * each other; the streaming twin's goldens also pin
    * [[funnelDepths]]. */
  /** Per-user greedy window-funnel depth — the fold q142 aggregates
    * into its report, factored out because it is ALSO the contract the
    * streaming twin ([[graft.streaming.EventOps.funnelDepthsTws]]) is
    * golden-pinned against: depth d means stages 1..d of
    * view(1)→click(2)→purchase(3) were reached with each accepted stage
    * within `deltaMicros` of the previously accepted one (greedy
    * re-anchoring — the first view starts the clock, each accepted
    * stage resets it). ONE shuffle keyed by user builds the
    * time-ordered event array; the clock fold is a scan-local
    * `aggregate` HOF. Users exist in the output even at depth 0 (they
    * had events; none matched stage 1). */
  def funnelDepths(events: DataFrame, deltaMicros: Long): DataFrame =
    funnelCoded(events, unix_micros(col("ts")).as("tsm"))
      .groupBy("user_id")
      .agg(sort_array(
        collect_list(struct(col("tsm"), col("event_id"), col("code"))))
        .as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"),
          struct(lit(0L).as("d"), lit(0L).as("anchor")),
          (acc, x) =>
            when(x.getField("code") === acc.getField("d") + 1 &&
                 (acc.getField("d") === 0 ||
                  x.getField("tsm") <= acc.getField("anchor") + deltaMicros),
              struct((acc.getField("d") + 1).as("d"),
                x.getField("tsm").as("anchor")))
              .otherwise(acc))
          .getField("d").as("depth"))

  /** Skew-safe [[funnelDepths]] on the q158 template (VERDICT r9 #1).
    * The window-clock DFA state is (depth, anchor) with a CONTINUOUS
    * anchor, so a chunk cannot be tabulated like [[funnelDepthChunked]]'s
    * 4-vector — but timestamps are monotone within a sorted chunk, which
    * collapses the transition function to one threshold per depth:
    * from (d ≥ 1, anchor a), the chunk advances iff its FIRST
    * code-(d+1) event tsm t_{d+1} satisfies t_{d+1} ≤ a + Δ (any later
    * candidate has a larger tsm, so if the first misses the deadline
    * they all do), and on advance the continuation is the ANCHOR-FREE
    * deterministic fold from (d+1, t_{d+1}) — precomputable per chunk.
    * From depth 0 the first advance ignores the clock entirely, so the
    * whole chunk effect is one precomputed fold.
    *
    * Per (user, EVENT-TIME DAY) chunk, ONE keyed exchange streams the
    * day's (tsm, event_id)-sorted events through a single COMPILED
    * typed fold (flatMapSortedGroups) running all three live entry
    * states simultaneously (c0 = fold from depth 0; s1/s2 idle until
    * the first code-2 / code-3 event seeds them, which also records
    * the thresholds t2/t3). The per-user stitch folds the
    * user-DAY-sized summary table in chunk order:
    * depth 0 → c0; depth d ∈ {1,2} → c_{d} if t_{d+1} ≤ anchor + Δ
    * else unchanged; depth 3 terminal. All-integer (epoch-µs) — bit-
    * exact vs the dense fold (pinned in AdvancedSpec, incl. clock
    * windows spanning empty days and cross-midnight re-anchoring).
    * Typed, not an `aggregate` HOF expression, since r11 — see the
    * in-body note on the interpreted fold's JIT bimodality. */
  def funnelDepthsChunked(events: DataFrame, deltaMicros: Long): DataFrame =
    funnelDepthsFromChunks(events, deltaMicros, None)

  /** The q142 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (the r11 dayflood artifact measured the day-chunk form at a
    * 9.2–9.8 s flood max task — the q107/q118 range, both of which
    * escalated and won in r12; the SKEW_r12 addendum measures this
    * arm). Same DFA-summary algebra as [[funnelDepthsChunked]]. */
  def funnelDepthsCountChunked(events: DataFrame, deltaMicros: Long,
                               rowsPerChunk: Long = RowsPerChunk): DataFrame =
    funnelDepthsFromChunks(events, deltaMicros, Some(rowsPerChunk))

  /** Shared DFA-summary body of the two chunked window-funnel forms, on
    * the stage codes chunked by [[withChunk]] over the epoch-micros
    * `tsm`. */
  private def funnelDepthsFromChunks(events: DataFrame, deltaMicros: Long,
                                     rowsPerChunk: Option[Long]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val NoT = Long.MinValue    // "threshold not seen" sentinel
    val coded = withChunk(funnelCoded(events,
      unix_micros(col("ts")).as("tsm")), rowsPerChunk, "tsm")
      .select(col("user_id"), col("chunk"), col("tsm"), col("event_id"),
        col("code"))
      .as[(Long, Long, Long, Long, Long)]
    // Per (user, EVENT-TIME DAY) chunk, ONE keyed exchange streams the
    // day's (tsm, event_id)-ordered events through a COMPILED fold
    // (flatMapSortedGroups — plain JVM bytecode) that runs all three
    // live entry states simultaneously: c0 = the windowed DFA from
    // depth 0; s1/s2 idle until their seed event (the first code-2 /
    // code-3, which records the threshold t2/t3 AND is accepted — it
    // trivially meets its own deadline), then step the same clock.
    // r11 note: this fold was previously an `aggregate` HOF expression
    // with nested-struct state — CodegenFallback, evaluated through the
    // interpreted Expression tree — and exhibited a per-JVM bimodal
    // 5× task-time split (a C2 compile/inline coin flip on the eval
    // loop, reproduced fast AND slow on fresh 8g and 16g JVMs with
    // identical plans; SKEW_r11_q142.json). A typed fold is ordinary
    // bytecode on the hot path, which the JIT compiles predictably.
    val summaries = coded
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("tsm"), col("event_id")) {
        case ((user, chunk), it) =>
          var c0d = 0L; var c0a = 0L
          var t2 = NoT; var s1d = 0L; var s1a = 0L
          var t3 = NoT; var s2d = 0L; var s2a = 0L
          it.foreach { case (_, _, tsm, _, code) =>
            if (code == c0d + 1 && (c0d == 0L || tsm <= c0a + deltaMicros)) {
              c0d += 1; c0a = tsm
            }
            if (t2 == NoT) {
              if (code == 2L) { t2 = tsm; s1d = 2L; s1a = tsm }
            } else if (code == s1d + 1 && tsm <= s1a + deltaMicros) {
              s1d += 1; s1a = tsm
            }
            if (t3 == NoT) {
              if (code == 3L) { t3 = tsm; s2d = 3L; s2a = tsm }
            } else if (code == s2d + 1 && tsm <= s2a + deltaMicros) {
              s2d += 1; s2a = tsm
            }
          }
          Iterator((user, chunk, t2, t3, c0d, c0a, s1d, s1a, s2d, s2a))
      }
    // Per-user stitch over the user-DAY-sized summary table, in chunk
    // order: depth 0 -> this chunk's c0 outcome; depth d in {1, 2} ->
    // advance iff the chunk's first code-(d+1) event meets the deadline
    // (monotone within-chunk timestamps make that single threshold
    // sufficient: if the FIRST candidate misses, all do); depth 3
    // terminal. All-integer epoch-us — bit-exact vs [[funnelDepths]]
    // (pinned in AdvancedSpec, incl. clock windows spanning empty days
    // and cross-midnight re-anchoring).
    summaries
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2")) { (user, it) =>
        var d = 0L; var a = 0L
        it.foreach { case (_, _, t2, t3, c0d, c0a, s1d, s1a, s2d, s2a) =>
          if (d == 0L) { d = c0d; a = c0a }
          else if (d == 1L) {
            if (t2 != NoT && t2 <= a + deltaMicros) { d = s1d; a = s1a }
          } else if (d == 2L) {
            if (t3 != NoT && t3 <= a + deltaMicros) { d = s2d; a = s2a }
          } // d == 3: terminal
        }
        Iterator((user, d))
      }
      .toDF("user_id", "depth")
  }

  val q142_window_funnel = QueryDef(
    "q142_window_funnel",
    """WITH e AS (
      |  SELECT user_id, ts,
      |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |         WHEN 'purchase' THEN 3 ELSE 0 END AS code,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events),
      |p1 AS (SELECT user_id, MIN(pos) AS p FROM e WHERE code = 1 GROUP BY user_id),
      |a1 AS (SELECT p1.user_id, p1.p, e.ts FROM p1
      |       JOIN e ON e.user_id = p1.user_id AND e.pos = p1.p),
      |p2 AS (SELECT e.user_id, MIN(e.pos) AS p FROM e
      |       JOIN a1 ON e.user_id = a1.user_id AND e.pos > a1.p
      |        AND e.ts <= a1.ts + INTERVAL 3 DAY
      |       WHERE e.code = 2 GROUP BY e.user_id),
      |a2 AS (SELECT p2.user_id, p2.p, e.ts FROM p2
      |       JOIN e ON e.user_id = p2.user_id AND e.pos = p2.p),
      |p3 AS (SELECT e.user_id, MIN(e.pos) AS p FROM e
      |       JOIN a2 ON e.user_id = a2.user_id AND e.pos > a2.p
      |        AND e.ts <= a2.ts + INTERVAL 3 DAY
      |       WHERE e.code = 3 GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM e),
      |du AS (SELECT u.user_id,
      |         CASE WHEN p3.p IS NOT NULL THEN 3 WHEN p2.p IS NOT NULL THEN 2
      |              WHEN p1.p IS NOT NULL THEN 1 ELSE 0 END AS depth
      |       FROM u LEFT JOIN p1 ON u.user_id = p1.user_id
      |              LEFT JOIN p2 ON u.user_id = p2.user_id
      |              LEFT JOIN p3 ON u.user_id = p3.user_id),
      |r AS (SELECT CAST(depth AS BIGINT) AS depth,
      |        CAST(COUNT(*) AS BIGINT) AS n_users
      |      FROM du GROUP BY depth)
      |SELECT depth, n_users,
      |  CAST(SUM(n_users) OVER (ORDER BY depth DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS reached
      |FROM r ORDER BY depth""".stripMargin) { (s, d) =>
    val perUser =
      funnelDepthsAuto(Tables.events(s, d), 3L * 24 * 3600 * 1000000,
        probeCacheKey = Some(d))
    val wCum = Window.orderBy(col("depth").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perUser.groupBy("depth").agg(count(lit(1)).as("n_users"))
      .withColumn("reached", sum("n_users").over(wCum))
      .orderBy("depth")
  }

  /** q143: cumulative user growth — first-seen date per user, new
    * users per day, and the running total ("how big is our user base")
    * — the other half of q106's retention triangle. Running distinct
    * count is the textbook trap (distinct per day × running = O(n²)
    * or a global-window scan of the corpus); the scalable identity is
    * that a user contributes to the cumulative count exactly once, at
    * their MIN date — so the query is one user-keyed min-agg, one
    * day-keyed count, and a running sum over the DAYS-sized series
    * (bounded by the calendar, same posture as q130's ACF fold).
    * Deterministic, engine-portable, no approximate sketches. Events
    * are sparsified by the q106 deterministic `event_id % 97` sample
    * so the fixture produces a multi-day curve (it is dense enough
    * that every user is otherwise first seen on day one — the sample
    * is part of the declared query, applied identically in both
    * engines). */
  val q143_user_growth = QueryDef(
    "q143_user_growth",
    """WITH f AS (SELECT user_id,
      |    MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
      |  FROM events WHERE event_id % 97 = 0 GROUP BY user_id),
      |n AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      |      FROM f GROUP BY day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM n ORDER BY day""".stripMargin) { (s, d) =>
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .where(col("event_id") % 97 === 0)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(wCum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
      .orderBy("day")
  }

  /** q147: DAU/WAU stickiness — per day, the distinct users active
    * that day, the distinct users active in the trailing 7 days, and
    * their ratio (the engagement metric product teams watch). The
    * naive WAU is a range self-join of the activity table against
    * itself (each day re-scans a week — the oracle text IS that
    * formulation); the scalable shape inverts it: each distinct
    * (user, day) activity row is exploded to the ≤ 7 future days it
    * covers (scan-local `sequence`, carrying the activity day), and
    * DAU and WAU come out of ONE day-keyed multi-distinct aggregate —
    * DAU counts the cover rows whose cover day IS the activity day —
    * so Catalyst's Expand handles both distincts in one two-exchange
    * pass over ≤ 7× the activity-pair table: never a range join of
    * event-sized relations, no DAU⋈WAU join at all (days with no
    * same-day activity are exactly the synthetic cover-only days, so
    * `HAVING dau > 0` re-applies the join's day filter). */
  val q147_stickiness = QueryDef(
    "q147_stickiness",
    """WITH ud AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
      |        FROM ud GROUP BY day),
      |wau AS (SELECT d.day, CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS wau
      |        FROM dau d JOIN ud w ON w.day BETWEEN d.day - 6 AND d.day
      |        GROUP BY d.day)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
      |  ROUND(CAST(d.dau AS DOUBLE) / w.wau, 4) AS stickiness
      |FROM dau d JOIN wau w ON d.day = w.day ORDER BY day""".stripMargin) {
    (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      ud.select(col("user_id"), col("day").as("aday"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
        .groupBy("day")
        .agg(
          count_distinct(when(col("aday") === col("day"), col("user_id")))
            .as("dau"),
          count_distinct(col("user_id")).as("wau"))
        .where(col("dau") > 0)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
        .orderBy("day")
  }

  /** q149: ROC-AUC of a score against a binary label — here "does
    * document length predict English" (score = n_chars, positive =
    * lang 'en'), the evaluation gate behind every learned quality
    * filter. The textbook form ranks every row globally (a global
    * sort) or compares all pos×neg pairs (quadratic); the scalable
    * identity is the Mann-Whitney rank-sum on the SCORE HISTOGRAM:
    * with per-value positive/negative counts, AUC = Σ_v pos_v ·
    * (negBelow_v + neg_v/2) / (N₊·N₋) — ties get the standard ½
    * credit. Numerator in exact 2× integer arithmetic (the half-tie
    * doubled), ONE division at the end.
    *
    * Scale posture: one value-keyed aggregate touches the corpus;
    * the cumulative window and the final fold run on the score-value
    * histogram (bounded by score cardinality — for length-like scores
    * the max document length, the q130/q143 calendar-bounded posture). */
  val q149_auc = QueryDef(
    "q149_auc",
    """WITH h AS (SELECT n_chars AS v,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY n_chars),
      |c AS (SELECT np, nn,
      |        COALESCE(SUM(nn) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      |      FROM h)
      |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(np * (2 * nb + nn)) AS DOUBLE)
      |        / (2.0 * SUM(np) * SUM(nn)), 4) AS auc
      |FROM c""".stripMargin) { (s, d) =>
    val wB = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .groupBy(col("n_chars").as("v"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nn"))
      .withColumn("nb", coalesce(sum("nn").over(wB), lit(0L)))
      .agg(
        sum("np").as("n_pos"),
        sum("nn").as("n_neg"),
        round(sum(col("np") * (lit(2L) * col("nb") + col("nn")))
          .cast("double") /
          (lit(2.0) * sum("np") * sum("nn")), 4).as("auc"))
  }

  /** q150: two-sample Kolmogorov–Smirnov statistic — the maximum
    * CDF gap between two sources' document-length distributions
    * (src0 vs src1), the nonparametric drift test run next to q133's
    * binned PSI when bin edges would beg the question. D is evaluated
    * at every observed value (where the max of a step-function gap
    * must occur); the reported location is the smallest value
    * achieving it, so the answer is total-order deterministic. The
    * gap compares exact integer cross-products (cum₁·n₂ vs cum₂·n₁)
    * — no per-row doubles until the final division.
    *
    * Scale posture: one value-keyed count aggregate touches the data
    * (the two samples ride it as conditional sums — no union, no
    * join); cumulative windows + the argmax fold run on the value
    * histogram (max-doc-length-bounded, as q149). */
  val q150_ks_test = QueryDef(
    "q150_ks_test",
    """WITH h AS (SELECT n_chars AS v,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c2
      |  FROM documents WHERE source IN ('src0', 'src1')
      |  GROUP BY n_chars),
      |c AS (SELECT v,
      |        SUM(c1) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1,
      |        SUM(c2) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k2,
      |        SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      |      FROM h),
      |g AS (SELECT v, n1, n2, ABS(k1 * n2 - k2 * n1) AS gap FROM c)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(MIN(CASE WHEN gap = m THEN v END) AS BIGINT) AS at_value,
      |  ROUND(CAST(m AS DOUBLE) / (n1 * n2), 4) AS d_stat
      |FROM g CROSS JOIN (SELECT MAX(gap) AS m FROM g) mm
      |GROUP BY n1, n2, m""".stripMargin) { (s, d) =>
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val g = Tables.documents(s, d)
      .where(col("source").isin("src0", "src1"))
      .groupBy(col("n_chars").as("v"))
      .agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c2"))
      .select(col("v"),
        sum("c1").over(wCum).as("k1"), sum("c2").over(wCum).as("k2"),
        sum("c1").over(wAll).as("n1"), sum("c2").over(wAll).as("n2"))
      .withColumn("gap", abs(col("k1") * col("n2") - col("k2") * col("n1")))
    g.withColumn("m", max("gap").over(wAll))
      .where(col("gap") === col("m"))
      .groupBy("n1", "n2", "m")
      .agg(min("v").cast("long").as("at_value"))
      .select(col("n1"), col("n2"), col("at_value"),
        round(col("m").cast("double") / (col("n1") * col("n2")), 4)
          .as("d_stat"))
  }

  /** q152: CUSUM changepoint — the level-shift detector over the daily
    * event-count series (did volume step up/down, and when?): the
    * classic S_i = Σ_{j≤i}(x_j − μ) cumulative-deviation walk, whose
    * extremum marks the most likely changepoint. The statistic is
    * computed in EXACT integer arithmetic by multiplying through by
    * N: |N·cum_i − i·T| (T = total, so N·S_i), divided back and
    * rounded only at the end — both engines agree bit-for-bit before
    * the one division. The smallest extremal day is reported, so the
    * answer is total-order deterministic (q150's witness rule).
    *
    * Scale posture: ONE corpus-sized date aggregate; the cumulative
    * window, argmax, and division run on the DAYS-sized series
    * (calendar-bounded — the q130/q143 posture). */
  val q152_changepoint = QueryDef(
    "q152_changepoint",
    """WITH x AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS c
      |  FROM events GROUP BY day),
      |w AS (SELECT day, c,
      |        SUM(c) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        ROW_NUMBER() OVER (ORDER BY day) AS i,
      |        SUM(c) OVER () AS t, COUNT(*) OVER () AS n
      |      FROM x),
      |g AS (SELECT day, n, ABS(n * cum - i * t) AS dev FROM w)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  strftime(MIN(CASE WHEN dev = m THEN day END), '%Y-%m-%d')
      |    AS at_day,
      |  ROUND(CAST(m AS DOUBLE) / n, 4) AS s_max
      |FROM g CROSS JOIN (SELECT MAX(dev) AS m FROM g) mm
      |GROUP BY n, m""".stripMargin) { (s, d) =>
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val g = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
      .select(col("day"),
        sum("c").over(wCum).as("cum"),
        row_number().over(Window.orderBy("day")).cast("long").as("i"),
        sum("c").over(wAll).as("t"), count(lit(1)).over(wAll).as("n"))
      .withColumn("dev", abs(col("n") * col("cum") - col("i") * col("t")))
    g.withColumn("m", max("dev").over(wAll))
      .where(col("dev") === col("m"))
      .groupBy("n", "m")
      .agg(date_format(min("day"), "yyyy-MM-dd").as("at_day"))
      .select(col("n").as("n_days"), col("at_day"),
        round(col("m").cast("double") / col("n"), 4).as("s_max"))
  }

  /** q153: Benford first-digit audit — the fraud/synthetic-data screen
    * over order totals: observed first-significant-digit counts vs the
    * Benford expectation n·log₁₀(1+1/d), with each digit's χ²
    * contribution. Real transactional amounts follow Benford closely;
    * uniform synthetic prices (this fixture) light the statistic up —
    * exactly what the audit exists to catch. The χ² total rides every
    * row (a 9-row window sum) so the table is self-contained.
    *
    * Scale posture: first digits are scan-local string/cast work, the
    * counts are ONE 9-key aggregate (map-side collapsed), and all the
    * double math happens on the 9-row digit table — log₁₀ ulp
    * differences between engines are ~1e-16 against a 5e-5 rounding
    * tolerance. The amount is FLOORed explicitly before the string
    * cast: a bare double→BIGINT cast truncates in Spark but rounds in
    * DuckDB, and one near-integer price flips its first digit (found
    * by the sf0.01 oracle run). */
  val q153_benford = QueryDef(
    "q153_benford",
    """WITH o AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
      |  FROM orders),
      |h AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS obs FROM o GROUP BY d),
      |e AS (SELECT d, obs, SUM(obs) OVER () * log10(1 + 1.0 / d) AS exp
      |      FROM h)
      |SELECT d, obs, ROUND(exp, 4) AS expected,
      |  ROUND((obs - exp) * (obs - exp) / exp, 4) AS contrib,
      |  ROUND(SUM((obs - exp) * (obs - exp) / exp) OVER (), 4) AS chi2
      |FROM e ORDER BY d""".stripMargin) { (s, d) =>
    val wAll = Window.partitionBy()
    val e = Tables.orders(s, d)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("long").as("d"))
      .groupBy("d").agg(count(lit(1)).as("obs"))
      .withColumn("exp",
        sum("obs").over(wAll) * log10(lit(1) + lit(1.0) / col("d")))
    e.select(col("d"), col("obs"),
        round(col("exp"), 4).as("expected"),
        round((col("obs") - col("exp")) * (col("obs") - col("exp")) /
          col("exp"), 4).as("contrib"),
        round(sum((col("obs") - col("exp")) * (col("obs") - col("exp")) /
          col("exp")).over(wAll), 4).as("chi2"))
      .orderBy("d")
  }

  /** q154: sequence-pattern matching — regex over per-user event
    * streams (the MATCH_RECOGNIZE-lite primitive): each user's
    * time-ordered events collapse to a 1-char-per-event code string,
    * and declarative patterns run against it — here the two checks a
    * funnel cannot express: "view converts to purchase with NO click
    * between" (`v[^c]*p`, the click-attribution leak) and "error
    * immediately after purchase" (`pe`, the post-checkout failure).
    * Reports matching-user counts and total non-overlapping
    * occurrences per pattern. Greedy leftmost non-overlapping
    * matching agrees between Java regex and DuckDB's RE2 for these
    * constructs (probed; no backreferences/lookahead).
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[seqPattern]] (one per-user string_agg + regexp_count —
    * the oracle's own shape), a Zipf-hot key runs [[seqPatternChunked]]
    * (the q158 template — the old whole-history `string_agg`
    * materialized a Zipf-hot user's entire stream as ONE string in ONE
    * task). In the chunked form, code strings build per (user,
    * EVENT-TIME DAY) chunk on the one event-sized exchange, and both
    * patterns reduce to chunk-composable carries because they are
    * regular languages with bounded lookbehind:
    *  - `pe` (length 2, self-overlap impossible): total = Σ within-
    *    chunk `regexp_count` + boundary pairs (chunk ends 'p', next
    *    active chunk starts 'e');
    *  - `v[^c]*p` greedy non-overlapping: every match lies inside one
    *    maximal c-free SEGMENT, and greedy `[^c]*` backtracks to the
    *    segment's LAST 'p', so each segment matches AT MOST ONCE —
    *    count = #segments containing a 'v' followed by a 'p'. Chunks
    *    carry (inner matched-segment count, prefix/suffix part stats),
    *    and the per-user stitch folds the open segment's
    *    (seen-v, matched) state across chunk boundaries.
    * The stitch table is user-DAY-sized; all counters integral — bit-
    * exact vs whole-string regexp_count (pinned in AdvancedSpec across
    * boundary-spanning matches; LifecycleSpec re-checks vs java.util
    * .regex on hand-built streams). The final agg has ≤2 keys. */
  val q154_seq_pattern = QueryDef(
    "q154_seq_pattern",
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(CASE event_type WHEN 'view' THEN 'v'
      |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
      |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
      |      ORDER BY ts, event_id) AS str
      |  FROM events GROUP BY user_id),
      |m AS (SELECT pat,
      |        CAST(len(regexp_extract_all(str, pat)) AS BIGINT) AS hits
      |      FROM s CROSS JOIN (SELECT unnest(['v[^c]*p', 'pe']) AS pat) p)
      |SELECT pat AS pattern,
      |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_users,
      |  CAST(SUM(hits) AS BIGINT) AS occurrences
      |FROM m GROUP BY pat ORDER BY pattern""".stripMargin) { (s, d) =>
    seqPatternAuto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q154 plan as a library function, DENSE form: one per-user
    * collect builds the whole time-ordered code string and
    * `regexp_count` runs each pattern over it — the oracle's own
    * shape. Fastest on even keys; holds a user's whole history in one
    * task (and one string). */
  def seqPattern(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .when(col("event_type") === "signup", "s")
          .otherwise("e").as("code"))
      .groupBy("user_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("code")))),
        x => x.getField("code")), "").as("str"))
      .select(explode(array(lit("v[^c]*p"), lit("pe"))).as("pattern"),
        col("str"))
      .select(col("pattern"),
        regexp_count(col("str"), col("pattern")).cast("long").as("hits"))
      .groupBy("pattern")
      .agg(
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_users"),
        sum("hits").as("occurrences"))
      .orderBy("pattern")

  /** The q154 plan, CHUNKED (q158 template) — see the QueryDef
    * scaladoc for the segment-carry algebra. Bit-exact vs
    * [[seqPattern]] (pinned in AdvancedSpec across boundary-spanning
    * matches). */
  def seqPatternChunked(events: DataFrame): DataFrame =
    seqPatternFromChunks(events, None)

  private def seqCode(eventType: Column): Column =
    when(eventType === "view", "v")
      .when(eventType === "click", "c")
      .when(eventType === "purchase", "p")
      .when(eventType === "signup", "s")
      .otherwise("e")

  /** The q154 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (SKEW_r12_dayflood: the flood day's whole-day code string
    * builds in ONE task on the day-chunk form — 4.1 s max task with
    * AQE skew-split off, 59.7 s with forced skew-split ON, whose
    * post-split re-merge ships the 4M-struct day group twice). Count
    * chunks bound each string at `rowsPerChunk` chars for ANY time
    * distribution; the segment-carry fold is chunk-id-agnostic, so
    * the algebra is [[seqPatternFromChunks]] unchanged. */
  def seqPatternCountChunked(events: DataFrame,
                             rowsPerChunk: Long = RowsPerChunk): DataFrame =
    seqPatternFromChunks(events, Some(rowsPerChunk))

  /** Shared segment-carry body of the two chunked seq-pattern forms, on
    * (user_id, ts, event_id, code) chunked by [[withChunk]]. */
  private def seqPatternFromChunks(events: DataFrame,
                                   rowsPerChunk: Option[Long]): DataFrame = {
    val chunkStr = withChunk(events
      .select(col("user_id"), col("ts"), col("event_id"),
        seqCode(col("event_type")).as("code"),
        unix_micros(col("ts")).as("us")), rowsPerChunk).drop("us")
      .groupBy("user_id", "chunk")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("code")))),
        x => x.getField("code")), "").as("str"))
    // per-chunk carry: split on 'c' — parts(1) continues the open
    // segment, inner parts are complete segments, the last part opens
    // the next; plus 'pe' count and the boundary chars.
    val np = size(col("parts"))
    val pre = element_at(col("parts"), 1)
    val suf = element_at(col("parts"), np)
    val summaries = chunkStr
      .withColumn("parts", split(col("str"), "c", -1))
      .select(col("user_id"), col("chunk"),
        struct(
          (instr(col("str"), "c") > 0).as("has_c"),
          pre.rlike("v.*p").as("pre_vp"),
          (instr(pre, "p") > 0).as("pre_p"),
          size(filter(slice(col("parts"), lit(2), greatest(np - 2, lit(0))),
            p => p.rlike("v.*p"))).cast("long").as("inner_n"),
          (instr(suf, "v") > 0).as("suf_v"),
          suf.rlike("v.*p").as("suf_vp"),
          (instr(suf, "p") > 0).as("suf_p"),
          regexp_count(col("str"), lit("pe")).cast("long").as("pe"),
          substring(col("str"), 1, 1).as("fch"),
          substring(col("str"), -1, 1).as("lch")).as("sm"))
    val perUser = summaries
      .groupBy("user_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("chunk"), col("sm")))),
        struct(lit(false).as("ov"), lit(false).as("om"),
          lit(0L).as("vp"), lit(0L).as("pe"), lit("").as("lch")),
        (acc, e) => {
          val c = e.getField("sm")
          val pe2 = (acc.getField("pe") + c.getField("pe") +
            when(acc.getField("lch") === "p" && c.getField("fch") === "e",
              1L).otherwise(0L)).as("pe")
          when(c.getField("has_c"),
            // close the open segment with this chunk's prefix part
            struct(c.getField("suf_v").as("ov"),
              c.getField("suf_vp").as("om"),
              (acc.getField("vp") + c.getField("inner_n") +
                when(acc.getField("om") || c.getField("pre_vp") ||
                     (acc.getField("ov") && c.getField("pre_p")),
                  1L).otherwise(0L)).as("vp"),
              pe2, c.getField("lch").as("lch")))
            .otherwise(
              // whole chunk extends the open segment
              struct((acc.getField("ov") || c.getField("suf_v")).as("ov"),
                (acc.getField("om") || c.getField("suf_vp") ||
                  (acc.getField("ov") && c.getField("suf_p"))).as("om"),
                acc.getField("vp").as("vp"), pe2,
                c.getField("lch").as("lch")))
        }).as("st"))
      .select(col("user_id"),
        (col("st.vp") + when(col("st.om"), 1L).otherwise(0L)).as("vp_hits"),
        col("st.pe").as("pe_hits"))
    perUser
      .select(explode(array(
        struct(lit("pe").as("pattern"), col("pe_hits").as("hits")),
        struct(lit("v[^c]*p").as("pattern"), col("vp_hits").as("hits"))))
        .as("m"))
      .select(col("m.pattern").as("pattern"), col("m.hits").as("hits"))
      .groupBy("pattern")
      .agg(
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_users"),
        sum("hits").as("occurrences"))
      .orderBy("pattern")
  }

  /** q155: SCD2 dimension build — turn a raw event stream into the
    * type-2 slowly-changing dimension a warehouse serves point-in-time
    * joins from: per user, CONSECUTIVE EQUAL states collapse (a row
    * survives only where the state CHANGES — real SCD2 compaction, not
    * one row per event), and each survivor gets [valid_from, valid_to)
    * from its own and the NEXT change's timestamp, open-ended on the
    * current row. The q40 as-of join is the read side of exactly this
    * table.
    *
    * Routed by MEASURED skew ([[routeChunked]], VERDICT r10 #1): even
    * keys run [[scd2]] (ONE user-keyed exchange serving all three
    * windows), a Zipf-hot key runs [[scd2Chunked]] (the q158 template
    * — the r10 skew2 stress measured the plain per-user lag+rank+lead
    * shape at ~7× median max-task). In the chunked form all three
    * windows chunk by EVENT-TIME DAY:
    *  - change-detect lag = q107's exact stitch (within-day lag +
    *    boundary table carrying the previous ACTIVE day's last state);
    *  - version = the q94/q158 two-level prefix sum (within-day
    *    row_number over change rows + prior-day change-count offsets);
    *  - valid_to lead = q118's stitch mirrored over the CHANGE table
    *    (within-day lead + the next change-bearing day's first change
    *    ts — days whose events all collapsed are skipped correctly
    *    because only chunks WITH changes appear in that boundary
    *    table).
    * The only event-sized exchange is the (user, day) lag window; the
    * change-table windows re-key chunk-bounded change rows, and the
    * boundary/offset tables are user-DAY-sized. Version numbers come
    * from the same (ts, event_id) ordering as before. */
  val q155_scd2 = QueryDef(
    "q155_scd2",
    """WITH c AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events),
      |ch AS (SELECT user_id, state, ts, event_id FROM c
      |       WHERE prev IS NULL OR prev <> state),
      |v AS (SELECT user_id, state,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS version,
      |        ts AS valid_from,
      |        LEAD(ts) OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS valid_to
      |      FROM ch)
      |SELECT user_id, CAST(version AS BIGINT) AS version, state,
      |  strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current')
      |    AS valid_to,
      |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin) { (s, d) =>
    scd2Auto(Tables.events(s, d), probeCacheKey = Some(d))
  }

  /** The q155 plan as a library function, DENSE form: ONE user-keyed
    * exchange serves all three windows — the change-detect lag and,
    * because the filter preserves partitioning AND sort order, the
    * post-filter row_number and lead (no second exchange, the q44
    * subset rule); everything else is scan-local. */
  def scd2(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_type").as("state"),
        col("ts"), col("event_id"),
        lag("event_type", 1).over(w).as("prev"))
      .where(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"),
        row_number().over(w).cast("long").as("version"),
        col("ts").as("valid_from"),
        lead("ts", 1).over(w).as("valid_to"))
      .select(col("user_id"), col("version"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("current")).as("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "version")
  }

  /** The q155 plan, CHUNKED (q158 template) — see the QueryDef
    * scaladoc for the three chunked windows. Bit-exact vs [[scd2]]
    * (pinned in AdvancedSpec across midnight-crossing runs and
    * change-less days). */
  def scd2Chunked(events: DataFrame): DataFrame = scd2FromChunks(events, None)

  /** The q155 plan, COUNT-CHUNKED — the single-day-flood escalation
    * tier (SKEW_r12_dayflood: the flood day collapses the day-chunk
    * tier's three within-chunk windows into single sort tasks; count
    * chunks bound every window partition at `rowsPerChunk` rows for
    * ANY time distribution). Same three-window stitch algebra as
    * [[scd2Chunked]]. */
  def scd2CountChunked(events: DataFrame,
                       rowsPerChunk: Long = RowsPerChunk): DataFrame =
    scd2FromChunks(events, Some(rowsPerChunk))

  /** Shared three-window stitch body of the two chunked SCD2 forms, on
    * (user_id, state, ts, event_id) chunked by [[withChunk]]. */
  private def scd2FromChunks(events: DataFrame,
                             rowsPerChunk: Option[Long]): DataFrame = {
    val ev = withChunk(events
      .select(col("user_id"), col("event_type").as("state"),
        col("ts"), col("event_id"), unix_micros(col("ts")).as("us")),
      rowsPerChunk).drop("us")
    val w2 = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    val wChunks = Window.partitionBy("user_id").orderBy("chunk")
    // q107's union boundary stitch: the previous ACTIVE day's last
    // state rides the window as a side=0 pseudo-row instead of a join
    val w2s = Window.partitionBy("user_id", "chunk")
      .orderBy("side", "ts", "event_id")
    val pseudo = ev.groupBy("user_id", "chunk")
      .agg(max_by(col("state"), struct(col("ts"), col("event_id")))
        .as("clast"))
      .select(col("user_id"),
        lead("chunk", 1).over(wChunks).as("chunk"),
        lit(0).as("side"),
        lit(null).cast("timestamp").as("ts"),
        lit(null).cast("long").as("event_id"),
        col("clast").as("state"))
      .where(col("chunk").isNotNull)
    val changes = ev.withColumn("side", lit(1))
      .select("user_id", "chunk", "side", "ts", "event_id", "state")
      .unionByName(pseudo)
      .withColumn("prev", lag("state", 1).over(w2s))
      .where(col("side") === 1 &&
        (col("prev").isNull || col("prev") =!= col("state")))
      .select("user_id", "state", "ts", "event_id", "chunk")
    // per change-bearing day: version offsets (prior-day change counts)
    // and the NEXT change-bearing day's first change ts (q118 mirrored)
    val meta = changes.groupBy("user_id", "chunk")
      .agg(count(lit(1)).as("cn"), min("ts").as("cmin"))
      .withColumn("offset", coalesce(
        sum("cn").over(
          wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("next_cmin", lead("cmin", 1).over(wChunks))
      .select("user_id", "chunk", "offset", "next_cmin")
    changes
      .withColumn("rn", row_number().over(w2))
      .withColumn("next_in", lead("ts", 1).over(w2))
      .join(meta, Seq("user_id", "chunk"))
      .select(col("user_id"),
        (col("rn") + col("offset")).cast("long").as("version"),
        col("state"), col("ts").as("valid_from"),
        coalesce(col("next_in"), col("next_cmin")).as("valid_to"))
      .select(col("user_id"), col("version"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("current")).as("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "version")
  }

  /** q156: bad-records ingest gate — the PERMISSIVE-parse counter
    * every JSON ingest runs before promoting a batch: per event type,
    * how many payloads fail to parse, at what rate, and the sum of a
    * parsed field over the VALID side (proving the survivors parse
    * identically in both engines, not just that the bad ones were
    * skipped). The fixture's props are all well-formed, so corruption
    * is synthesized deterministically from existing columns (the q81
    * precedent — both the pass and the fail path carry rows): payloads
    * with event_id % 13 = 0 lose their trailing byte, which truncates
    * the JSON mid-object. Spark's `get_json_object` returns NULL on
    * malformed input (the PERMISSIVE contract); DuckDB errors instead,
    * so its twin guards with `json_valid` — the parity of the two
    * "treat bad rows as NULL" formulations IS the declared semantics.
    *
    * Scale posture: mangling + parse are scan-local; ONE |event types|-
    * keyed aggregate with map-side partials. */
  val q156_bad_records = QueryDef(
    "q156_bad_records",
    """WITH m AS (SELECT event_type,
      |    CASE WHEN event_id % 13 = 0
      |         THEN substr(props, 1, length(props) - 1)
      |         ELSE props END AS s
      |  FROM events),
      |p AS (SELECT event_type,
      |        CASE WHEN json_valid(s)
      |             THEN CAST(json_extract(s, '$.k') AS BIGINT) END AS k
      |      FROM m)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  ROUND(CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 4) AS corrupt_rate,
      |  CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      val mangled = when(col("event_id") % 13 === 0,
        expr("substring(props, 1, length(props) - 1)")).otherwise(col("props"))
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(mangled, "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
          round(sum(when(col("k").isNull, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("corrupt_rate"),
          sum(coalesce(col("k"), lit(0L))).as("sum_k"))
        .orderBy("event_type")
  }

  /** q157: two-proportion z-test — the A/B experimentation primitive:
    * users split into deterministic variants (user_id % 2 — in a real
    * experiment, the assignment hash), conversion = "ever made a
    * purchase over 90" (the bare "ever purchased" is vacuous on this
    * dense fixture: every user converts, the pooled rate hits 1 and
    * the z denominator is exactly 0 — found by the first sf0.001
    * run), and the pooled two-proportion z statistic decides whether
    * the conversion-rate gap is noise. Complements q150/q153 (the
    * distribution tests) with the proportions test every growth team
    * actually runs. All counts are exact integers; the z formula is
    * the one double computation, on a 2-row table.
    *
    * Scale posture: ONE user-keyed aggregate (conversion is max-fold,
    * map-side partial) whose variant key is scan-local; the variant
    * agg moves 2 rows per partition and the z-combine is a 1-row
    * cross of two broadcast scalars. */
  val q157_ab_test = QueryDef(
    "q157_ab_test",
    """WITH u AS (SELECT user_id, user_id % 2 AS variant,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 90
      |        THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(conv) AS BIGINT) AS conversions
      |      FROM u GROUP BY variant),
      |w AS (SELECT
      |        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
      |        MAX(CASE WHEN variant = 0 THEN conversions END) AS c0,
      |        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
      |        MAX(CASE WHEN variant = 1 THEN conversions END) AS c1
      |      FROM v)
      |SELECT n0, c0, ROUND(CAST(c0 AS DOUBLE) / n0, 4) AS cr0,
      |  n1, c1, ROUND(CAST(c1 AS DOUBLE) / n1, 4) AS cr1,
      |  ROUND((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
      |    / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |           * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |           * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 4)
      |    AS z
      |FROM w""".stripMargin) { (s, d) =>
    val v = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90,
        1L).otherwise(0L)).as("conv"))
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum("conv").as("conversions"))
    val w = v.agg(
      max(when(col("variant") === 0, col("n"))).as("n0"),
      max(when(col("variant") === 0, col("conversions"))).as("c0"),
      max(when(col("variant") === 1, col("n"))).as("n1"),
      max(when(col("variant") === 1, col("conversions"))).as("c1"))
    val p0 = col("c0").cast("double") / col("n0")
    val p1 = col("c1").cast("double") / col("n1")
    val pp = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
    w.select(col("n0"), col("c0"), round(p0, 4).as("cr0"),
      col("n1"), col("c1"), round(p1, 4).as("cr1"),
      round((p0 - p1) / sqrt(pp * (lit(1) - pp) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 4).as("z"))
  }

  val all: Seq[QueryDef] =
    Seq(q40_asof_join, q41_percentiles, q42_topk_udaf, q43_approx_distinct,
      q44_sessionize, q45_cube, q46_sql_entry, q47_range_frame, q51_json_map,
      q52_grouping_sets, q62_funnel, q70_sliding_window, q73_approx_percentiles,
      q76_theta_rank_join, q77_theta_agg_join, q78_theta_band_join,
      q85_pivot, q86_unpivot, q89_zorder, q90_merge_upsert, q91_gapfill,
      q92_fuzzy_join, q96_cdc_compact, q98_interval_join,
      q101_incremental_agg, q104_fuzzy_join_lev2, q105_profile,
      q106_retention, q107_transitions, q108_ohlc, q111_histogram,
      q112_ewma, q115_rolling_median, q118_twap, q123_snapshot_diff,
      q124_skyline, q125_quantile_binning, q129_fk_audit, q130_acf,
      q131_cooccur_lift, q142_window_funnel, q143_user_growth,
      q147_stickiness, q149_auc, q150_ks_test, q152_changepoint,
      q153_benford, q154_seq_pattern, q155_scd2, q156_bad_records,
      q157_ab_test, q158_sessionize_skewsafe)
}
