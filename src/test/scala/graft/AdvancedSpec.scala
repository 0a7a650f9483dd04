package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.operators.{Advanced, RangeStitch}

class AdvancedSpec extends SparkSpec {

  test("TopK aggregator: reduce/merge/finish on hand-built buffers") {
    val agg = new TopK(3)
    val buf = Seq(5.0, 1.0, 9.0, 7.0, 3.0).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq(9.0, 7.0, 5.0))
    // merge keeps global top-3 across two partial buffers
    val a = Seq(1.0, 2.0, 3.0).foldLeft(agg.zero)(agg.reduce)
    val b = Seq(10.0, 0.5).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(a, b)) == Seq(10.0, 3.0, 2.0))
    // fewer rows than k
    assert(agg.finish(agg.reduce(agg.zero, 4.0)) == Seq(4.0))
  }

  test("TopK via udaf matches orderBy/limit on the orders table") {
    val topk = udaf(new TopK(3))
    val got = Tables.orders(spark, sf0001)
      .agg(topk(col("o_totalprice")).as("t"))
      .collect()(0).getSeq[Double](0)
    val want = Tables.orders(spark, sf0001)
      .orderBy(col("o_totalprice").desc).limit(3)
      .collect().map(_.getAs[Double]("o_totalprice")).toSeq
    assert(got == want)
  }

  test("asofJoin picks the latest left row at or before each right ts") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(m * 60000L)
    val clicks = Seq((1L, 100L, t(1)), (2L, 100L, t(5)), (3L, 200L, t(9)))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq(
      (10L, 100L, t(3)),  // after click@1 → prev=1min
      (11L, 100L, t(5)),  // equal ts counts (<=) → prev=5min
      (12L, 200L, t(2)),  // before any click of user 200 → null
      (13L, 300L, t(4)))  // user with no clicks at all → null
      .toDF("event_id", "user_id", "ts")
    val got = Advanced.asofJoin(purchases, clicks, "user_id", "ts", "prev_click",
        leftId = Some("event_id"))
      .select("event_id", "prev_click").collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1)).map(_.getTime / 60000L))
      .toMap
    assert(got == Map(10L -> Some(1L), 11L -> Some(5L), 12L -> None, 13L -> None))
  }

  test("asofJoin without leftId: deterministic output, no synthetic id leaks") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(m * 60000L)
    // duplicate (key, ts) left rows — the case where a synthetic window
    // tie-break id is needed; it must never surface in the output
    val left = Seq((100L, t(3)), (100L, t(3)), (100L, t(7)), (200L, t(2)))
      .toDF("user_id", "ts").repartition(4)
    val right = Seq((100L, t(1)), (100L, t(5)), (200L, t(9)))
      .toDF("user_id", "ts")
    def run() = Advanced.asofJoin(left, right, "user_id", "ts", "prev")
    val out = run()
    assert(out.columns.toSeq == Seq("user_id", "ts", "prev"),
      s"synthetic tie-break id leaked: ${out.columns.toSeq}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L,
        Option(r.getTimestamp(2)).map(_.getTime / 60000L)))
      .sortBy(x => (x._1, x._2, x._3))
    val a = rows(run())
    assert(rows(run()).sameElements(a), "two runs must produce identical rows")
    // both duplicate left rows carry the same as-of value
    assert(a.toSeq == Seq(
      (100L, 3L, Some(1L)), (100L, 3L, Some(1L)), (100L, 7L, Some(5L)),
      (200L, 2L, None)))
  }

  test("rankCountJoin == nested-loop theta join; strict > at ties; zero-count dropped") {
    import spark.implicits._
    // hand-built ties: right values {1.0, 2.0, 2.0, 5.0}; strict > means a
    // left value of 2.0 counts ONLY the 1.0
    val left = Seq((10L, 2.0), (11L, 1.0), (12L, 6.0), (13L, 0.5))
      .toDF("k", "lv")
    val right = Seq(1.0, 2.0, 2.0, 5.0).toDF("rv")
    val got = Advanced.rankCountJoin(left, "k", "lv", right, "rv", nBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 11 (lv=1.0): nothing below; 13 (0.5): nothing → both dropped (inner join)
    assert(got == Map(10L -> 1L, 12L -> 4L), s"got $got")
    // full parity with the q19 nested-loop form on the fixture
    val nl = SparkEntry.queries("q19_theta_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rk = SparkEntry.queries("q76_theta_rank_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rk == nl, "rank-join must reproduce the theta-join aggregate exactly")
  }

  test("rankAggJoin: count/sum/avg below threshold; strict > at ties") {
    import spark.implicits._
    // right values {1.0, 2.0, 2.0, 5.0}; strict > means a left value of
    // 2.0 aggregates ONLY the 1.0
    val left = Seq((10L, 2.0), (11L, 1.0), (12L, 6.0), (13L, 0.5))
      .toDF("k", "lv")
    val right = Seq(1.0, 2.0, 2.0, 5.0).toDF("rv")
    val got = Advanced.rankAggJoin(left, "k", "lv", right, "rv", nBuckets = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // 11 (lv=1.0) and 13 (0.5): nothing below → dropped (inner join)
    assert(got == Map(
      10L -> ((1L, 1.0, 1.0)),
      12L -> ((4L, 10.0, 2.5))), s"got $got")
  }

  test("rankJoin keeps left rows whose bucket has zero right rows") {
    import spark.implicits._
    // all right values tie at the quantile boundary → every right row
    // lands in bucket 0, the left value 5.0 alone in bucket 1. The
    // pre-densify plan found no bucket-1 prefix row, coalesced the
    // cross-bucket count to 0 and wrongly dropped the row.
    val left = Seq((1L, 5.0)).toDF("k", "lv")
    val right = Seq(1.0, 1.0, 1.0, 1.0).toDF("rv")
    val cnt = Advanced.rankCountJoin(left, "k", "lv", right, "rv", nBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cnt == Map(1L -> 4L), s"got $cnt")
    val agg = Advanced.rankAggJoin(left, "k", "lv", right, "rv", nBuckets = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(agg == Map(1L -> ((4L, 4.0, 1.0))), s"got $agg")
  }

  test("rankJoin op variants: >= counts ties; < and <= count above") {
    import spark.implicits._
    // right values {1.0, 2.0, 2.0, 5.0}
    val left = Seq((10L, 2.0), (11L, 1.0), (12L, 6.0), (13L, 0.5))
      .toDF("k", "lv")
    val right = Seq(1.0, 2.0, 2.0, 5.0).toDF("rv")
    def run(op: String) =
      Advanced.rankCountJoin(left, "k", "lv", right, "rv", nBuckets = 2, op = op)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // >=: lv=2.0 now counts both 2.0s and the 1.0; lv=1.0 counts the 1.0
    assert(run(">=") == Map(10L -> 3L, 11L -> 1L, 12L -> 4L), s"got ${run(">=")}")
    // <: rights strictly above — lv=2.0 sees {5.0}; 0.5 sees all 4;
    // 6.0 sees none (dropped); 1.0 sees {2,2,5}
    assert(run("<") == Map(10L -> 1L, 11L -> 3L, 13L -> 4L), s"got ${run("<")}")
    // <=: ties join in — lv=2.0 sees {2,2,5}; lv=1.0 sees all 4
    assert(run("<=") == Map(10L -> 3L, 11L -> 4L, 13L -> 4L), s"got ${run("<=")}")
  }

  test("rankAggJoin withMinMax: running min/max match the nested loop") {
    import spark.implicits._
    val left = Seq((10L, 2.0), (11L, 1.5), (12L, 6.0)).toDF("k", "lv")
    val right = Seq(1L, 2L, 2L, 5L).toDF("rv")
    val got = Advanced.rankAggJoin(left, "k", "lv", right.select(col("rv")
        .cast("double").as("rv")), "rv", nBuckets = 2, op = ">=",
        withMinMax = true)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(4), r.getDouble(5))))
      .toMap
    // 10 (>=2.0): {1,2,2} → min 1 max 2; 11 (>=1.5): {1}; 12: all four
    assert(got == Map(
      10L -> ((3L, 1.0, 2.0)),
      11L -> ((1L, 1.0, 1.0)),
      12L -> ((4L, 1.0, 5.0))), s"got $got")
  }

  test("q78 rankAggJoin(>=, minmax) == nested-loop theta aggregates") {
    val nl = Tables.part(spark, sf0001)
      .join(Tables.supplier(spark, sf0001),
        col("p_retailprice") >= col("s_acctbal"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("s_acctbal") * 100).cast("long")).as("sum_cents"),
        min(round(col("s_acctbal") * 100).cast("long")).as("min_cents"),
        max(round(col("s_acctbal") * 100).cast("long")).as("max_cents"))
      .orderBy("p_partkey")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val rk = SparkEntry.queries("q78_theta_band_join")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(rk == nl,
      "inclusive rank-agg join must reproduce the >= theta aggregates exactly")
  }

  test("q77 rankAggJoin == nested-loop theta aggregates on the fixture") {
    val nl = Tables.part(spark, sf0001)
      .join(Tables.supplier(spark, sf0001),
        col("p_retailprice") > col("s_acctbal"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("s_acctbal") * 100).cast("long")).as("sum_cents"))
      .select(col("p_partkey"), col("cnt"), col("sum_cents"),
        round(col("sum_cents") / 100.0 / col("cnt"), 2).as("avg_bal"))
      .orderBy("p_partkey")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val rk = SparkEntry.queries("q77_theta_agg_join")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rk == nl,
      "rank-agg join must reproduce the theta-join aggregates exactly")
  }

  test("approx_count_distinct within 10% of exact on documents.text") {
    val r = Tables.documents(spark, sf0001)
      .agg(approx_count_distinct(col("text")).as("a"),
        countDistinct(col("text")).as("e"))
      .collect()(0)
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.10, s"approx=$a exact=$e")
  }

  test("q73 approx percentiles within 2% of exact q41 on every cell") {
    val exact = SparkEntry.queries("q41_percentiles")(spark, sf0001).collect()
      .map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
    val approx = SparkEntry.queries("q73_approx_percentiles")(spark, sf0001).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      Seq(1, 2, 3, 4).foreach { i =>
        val (a, x) = (r.getDouble(i), e(i - 1))
        assert(math.abs(a - x) / x < 0.02,
          s"${r.getString(0)} col $i: approx=$a exact=$x")
      }
    }
  }

  test("funnelDepth: order matters — purchase before click doesn't count") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    // u1: view,click,purchase in order → 3
    // u2: purchase first, then view,click → 2 (purchase was too early)
    // u3: click,purchase but never view → 0
    val ev = Seq(
      (1L, t(0), 0L, "view"), (1L, t(1), 1L, "click"), (1L, t(2), 2L, "purchase"),
      (2L, t(0), 3L, "purchase"), (2L, t(1), 4L, "view"), (2L, t(2), 5L, "click"),
      (3L, t(0), 6L, "click"), (3L, t(1), 7L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = operators.Advanced.funnelDepth(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 0L))
  }

  test("count_min_sketch: estimates over-count only, within eps*N") {
    // CMS guarantee: exact <= estimate <= exact + eps*N (w.p. 1-confidence).
    // Built-in sketch agg (codegen'd partial+final — the 100 TB shape for
    // heavy-hitter counting: fixed-size buffer per task, no per-key state).
    val toks = functions.Text.tokens(Tables.documents(spark, sf0001))
    val eps = 0.01
    val bytes = toks
      .agg(expr(s"count_min_sketch(word, CAST($eps AS DOUBLE), " +
        "CAST(0.99 AS DOUBLE), 42)"))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val exact = toks.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = exact.map(_._2).sum
    exact.foreach { case (w, c) =>
      val est = cms.estimateCount(w)
      assert(est >= c, s"CMS under-counted '$w': est=$est exact=$c")
      assert(est <= c + (eps * n).toLong + 1,
        s"CMS over-counted '$w' beyond eps*N: est=$est exact=$c n=$n")
    }
  }

  test("q41 percentile endpoints: p50 of two values is their midpoint") {
    import spark.implicits._
    val df = Seq(("x", 1.0), ("x", 3.0)).toDF("g", "v")
    val p50 = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("p"))
      .collect()(0).getDouble(1)
    assert(p50 == 2.0)
  }

  test("q158 skew-safe sessionize == q44 on the fixture") {
    val want = Advanced.q44_sessionize.build(spark, sf0001).collect().toSeq
    val got = Advanced.q158_sessionize_skewsafe.build(spark, sf0001)
      .collect().toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("q158 chunk stitching: sessions crossing midnight and empty days") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: one session crossing midnight (23:50 -> 00:10, gap 20 min),
    // a >30-min break WITHIN day 1, then a new session after TWO empty
    // days (the boundary lag must take the last ACTIVE chunk's max, not
    // chunk-1); user 2: a same-ts tie broken by event_id, as in q44.
    val rows = Seq(
      (1L, 10L, t("2024-03-01 23:50:00")),
      (1L, 11L, t("2024-03-02 00:10:00")), // same session, new chunk
      (1L, 12L, t("2024-03-02 09:00:00")), // new session (gap 8h50m)
      (1L, 13L, t("2024-03-05 00:05:00")), // new session after empty days
      (2L, 20L, t("2024-03-01 12:00:00")),
      (2L, 21L, t("2024-03-01 12:00:00")), // tie: same ts, higher id
      (2L, 22L, t("2024-03-01 12:20:00")))
      .toDF("user_id", "event_id", "ts")
    val dir = java.nio.file.Files.createTempDirectory("q158stitch").toString
    rows.write.parquet(s"$dir/events.parquet")
    val got = Advanced.q158_sessionize_skewsafe.build(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, "2024-03-01 23:50:00", "2024-03-02 00:10:00"),
      (1L, 2L, 1L, "2024-03-02 09:00:00", "2024-03-02 09:00:00"),
      (1L, 3L, 1L, "2024-03-05 00:05:00", "2024-03-05 00:05:00"),
      (2L, 1L, 3L, "2024-03-01 12:00:00", "2024-03-01 12:20:00")), got)
    // and the rewrite equals the straight q44 window form on the same data
    val want = Advanced.q44_sessionize.build(spark, dir).collect().toSeq
    assert(Advanced.q158_sessionize_skewsafe.build(spark, dir)
      .collect().toSeq == want)
  }

  test("sessionizeAuto: measured key skew picks the plan; rows identical " +
    "either way") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // skewed: user 1 owns 30 rows; uniform: 6 users x 2 rows
    val skewed = (1 to 30).map(i =>
      (1L, i.toLong, t(f"2024-03-01 10:$i%02d:00"))) :+
      (2L, 100L, t("2024-03-01 09:00:00"))
    val uniform = (1 to 6).flatMap(u => Seq(
      (u.toLong, u * 10L, t("2024-03-01 10:00:00")),
      (u.toLong, u * 10L + 1, t("2024-03-01 10:05:00"))))
    val sk = skewed.toDF("user_id", "event_id", "ts")
    val un = uniform.toDF("user_id", "event_id", "ts")
    // sampleMod=1 keeps every row -> the probe is exact, no variance
    assert(hotUser(sk, 1) == 30L)
    assert(hotUser(un, 1) == 2L)
    val autoSk = Advanced.sessionizeAuto(sk, hotKeyRowThreshold = 10,
      sampleMod = 1)
    val autoUn = Advanced.sessionizeAuto(un, hotKeyRowThreshold = 10,
      sampleMod = 1)
    // plan choice: the chunked plan carries the chunk attribute
    assert(autoSk.queryExecution.analyzed.toString.contains("chunk"))
    assert(!autoUn.queryExecution.analyzed.toString.contains("chunk"))
    // and BOTH choices produce exactly the dense plan's rows
    assert(autoSk.collect().toSeq == Advanced.sessionize(sk).collect().toSeq)
    assert(autoUn.collect().toSeq == Advanced.sessionize(un).collect().toSeq)
    // empty input: probe returns 0, dense plan, no NPE
    val empty = Seq.empty[(Long, Long, Timestamp)]
      .toDF("user_id", "event_id", "ts")
    assert(hotUser(empty, 1) == 0L)
    assert(Advanced.sessionizeAuto(empty).collect().isEmpty)
  }

  test("sessionizeCountChunked == dense sessionize: tiny chunks force " +
    "session-spanning chunk boundaries; fixture corpus parity") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // one user, one DAY (the day-chunk form's blind spot): sessions of
    // 4+3 rows with a 40-min gap; rowsPerChunk=3 forces boundaries both
    // INSIDE a session (rows 3|4) and right at the session break
    val flood = (Seq(
      (1L, 1L, t("2024-03-01 10:00:00")), (1L, 2L, t("2024-03-01 10:05:00")),
      (1L, 3L, t("2024-03-01 10:10:00")), (1L, 4L, t("2024-03-01 10:15:00")),
      (1L, 5L, t("2024-03-01 11:00:00")), (1L, 6L, t("2024-03-01 11:10:00")),
      (1L, 7L, t("2024-03-01 11:20:00"))) ++
      // second user with equal timestamps (tie-break by event_id spans
      // a chunk boundary too)
      (1 to 5).map(i => (2L, 10L + i, t("2024-03-02 09:00:00"))))
      .toDF("user_id", "event_id", "ts")
    for (n <- Seq(1L, 2L, 3L, 100L)) {
      assert(Advanced.sessionizeCountChunked(flood, rowsPerChunk = n)
        .collect().toSeq == Advanced.sessionize(flood).collect().toSeq,
        s"rowsPerChunk=$n")
    }
    // fixture corpus: real timestamps, many users
    val ev = Tables.events(spark, sf0001)
    assert(Advanced.sessionizeCountChunked(ev, rowsPerChunk = 64L)
      .collect().toSeq == Advanced.sessionize(ev).collect().toSeq)
  }

  test("sessionizeAuto three tiers: dense / day-chunk / count-chunk by " +
    "the two probes") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // hot user (30 rows) all in ONE day -> tier 3 (count-chunked)
    val flood = ((1 to 30).map(i =>
      (1L, i.toLong, t(f"2024-03-01 10:$i%02d:00"))) :+
      (2L, 100L, t("2024-03-02 09:00:00")))
      .toDF("user_id", "event_id", "ts")
    // hot user (30 rows) spread over 30 days -> tier 2 (day-chunked)
    val spread = ((1 to 30).map(i =>
      (1L, i.toLong, t(f"2024-03-${i}%02d 10:00:00"))) :+
      (2L, 100L, t("2024-04-05 09:00:00")))
      .toDF("user_id", "event_id", "ts")
    assert(hotUserDay(flood, 1) == 30L)
    assert(hotUserDay(spread, 1) == 1L)
    val autoSpread = Advanced.sessionizeAuto(spread, hotKeyRowThreshold = 10,
      sampleMod = 1)
    // tier 2: chunk attribute present, no checkpoint LogicalRDD
    assert(autoSpread.queryExecution.analyzed.toString.contains("chunk"))
    assert(!autoSpread.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(autoSpread.collect().toSeq ==
      Advanced.sessionize(spread).collect().toSeq)
    // tier 3 THROUGH the auto router (ADVICE r11): escalationThreshold
    // forced down so the hottest user-day (30 rows, one day) trips the
    // count-chunk branch — the checkpoint's LogicalRDD marks the
    // RangeStitch plan, and the routed rows equal dense
    val autoFlood = Advanced.sessionizeAuto(flood, hotKeyRowThreshold = 10,
      sampleMod = 1, escalationThreshold = 20L)
    assert(autoFlood.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(autoFlood.collect().toSeq ==
      Advanced.sessionize(flood).collect().toSeq)
    // same flood stream, default (2M) escalation: stays tier 2
    val autoFlood2 = Advanced.sessionizeAuto(flood, hotKeyRowThreshold = 10,
      sampleMod = 1)
    assert(!autoFlood2.queryExecution.analyzed.toString.contains("LogicalRDD"))
    // direct tier-3 builder parity at the default chunk size
    assert(Advanced.sessionizeCountChunked(flood).collect().toSeq ==
      Advanced.sessionize(flood).collect().toSeq)
  }

  test("funnelDepthCountChunked == dense fold: stage sequences split " +
    "at arbitrary count-chunk boundaries; fixture parity") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // one user, one day: view->click->purchase with distractors, so the
    // depth only resolves correctly if chunk composition preserves
    // order across arbitrary split points
    val flood = Seq(
      (1L, 1L, t("2024-03-01 10:00:00"), "search"),
      (1L, 2L, t("2024-03-01 10:01:00"), "view"),
      (1L, 3L, t("2024-03-01 10:02:00"), "view"),
      (1L, 4L, t("2024-03-01 10:03:00"), "click"),
      (1L, 5L, t("2024-03-01 10:04:00"), "search"),
      (1L, 6L, t("2024-03-01 10:05:00"), "purchase"),
      (2L, 7L, t("2024-03-01 11:00:00"), "click"), // click before view: depth 0
      (2L, 8L, t("2024-03-01 11:01:00"), "view"),
      (3L, 9L, t("2024-03-01 12:00:00"), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    for (n <- Seq(1L, 2L, 4L, 100L)) {
      assert(Advanced.funnelDepthCountChunked(flood, rowsPerChunk = n)
        .collect().toSeq == Advanced.funnelDepth(flood).collect().toSeq,
        s"rowsPerChunk=$n")
    }
    val ev = Tables.events(spark, sf0001)
    assert(Advanced.funnelDepthCountChunked(ev, rowsPerChunk = 64L)
      .collect().toSeq == Advanced.funnelDepth(ev).collect().toSeq)
  }

  // ------------------------------------------------------------------
  // Round-10 hot-user chunk-stitch rewrites (VERDICT r9 #1): each of
  // q107/q112/q62/q142/q154 now runs on the q158 event-time-day chunk
  // template; these tests pin the stitch edges (chunk-first rows, empty
  // days, cross-midnight state, boundary-spanning matches) against the
  // dense whole-history reference on hand-built streams.
  // ------------------------------------------------------------------

  /** Writes an events fixture and returns its dir. */
  private def eventsDir(rows: Seq[(Long, Long, Timestamp, String, Double)])
      : String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("chunkstitch").toString
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }
  private def t(s: String) = Timestamp.valueOf(s)

  /** The events family's two skew probes, as the routers run them. */
  private def hotUser(ev: org.apache.spark.sql.DataFrame, sampleMod: Int) =
    RangeStitch.hottestKeyRows(ev, Advanced.perUser, Advanced.eventSample,
      sampleMod)
  private def hotUserDay(ev: org.apache.spark.sql.DataFrame, sampleMod: Int) =
    RangeStitch.hottestKeyRows(ev, Advanced.perUserDay, Advanced.eventSample,
      sampleMod)

  test("q107 chunk stitch: boundary src from previous ACTIVE day; " +
    "first-ever event filtered; == dense lag on the fixture") {
    val dir = eventsDir(Seq(
      // user 1: day-1 last event 'click' must be day-2 first row's src,
      // across an empty day 2024-03-02 -> 2024-03-03; same-ts tie on
      // day 1 broken by event_id ('view' id 10 then 'click' id 11)
      (1L, 10L, t("2024-03-01 23:59:00"), "view", 1.0),
      (1L, 11L, t("2024-03-01 23:59:00"), "click", 1.0),
      (1L, 12L, t("2024-03-03 00:00:30"), "purchase", 1.0),
      // user 2: single event — no transition at all
      (2L, 20L, t("2024-03-01 08:00:00"), "view", 1.0),
      // user 3: every event on a different day (all srcs are stitched)
      (3L, 30L, t("2024-03-01 10:00:00"), "view", 1.0),
      (3L, 31L, t("2024-03-02 10:00:00"), "click", 1.0),
      (3L, 32L, t("2024-03-04 10:00:00"), "purchase", 1.0)))
    val got = Advanced.transitionsChunked(Tables.events(spark, dir))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // user 1 and user 3 each contribute view→click and click→purchase;
    // user 1's click→purchase crosses the empty day (stitched boundary),
    // user 3's transitions are ALL stitched (one event per day)
    assert(got.toSet == Set(
      ("view", "click", 2L), ("click", "purchase", 2L)), got)
    // dense single-window reference on the same data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val dense = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lag("event_type", 1).over(w).as("src"))
      .where(col("src").isNotNull)
      .groupBy("src", "event_type").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got.toSet == dense)
  }

  test("q62 chunked funnel == dense fold: stages split across days, " +
    "empty gap days, out-of-order stages") {
    val dir = eventsDir(Seq(
      // user 1: view d1 / click d2 / purchase d4 (empty d3) -> 3
      (1L, 10L, t("2024-03-01 12:00:00"), "view", 1.0),
      (1L, 11L, t("2024-03-02 12:00:00"), "click", 1.0),
      (1L, 12L, t("2024-03-04 12:00:00"), "purchase", 1.0),
      // user 2: purchase d1 BEFORE view d2 / click d3 -> 2
      (2L, 20L, t("2024-03-01 12:00:00"), "purchase", 1.0),
      (2L, 21L, t("2024-03-02 12:00:00"), "view", 1.0),
      (2L, 22L, t("2024-03-03 12:00:00"), "click", 1.0),
      // user 3: noise only -> 0
      (3L, 30L, t("2024-03-01 12:00:00"), "error", 1.0),
      // user 4: all three stages cross ONE midnight in order -> 3
      (4L, 40L, t("2024-03-01 23:59:58"), "view", 1.0),
      (4L, 41L, t("2024-03-01 23:59:59"), "click", 1.0),
      (4L, 42L, t("2024-03-02 00:00:01"), "purchase", 1.0)))
    val ev = Tables.events(spark, dir)
    val got = Advanced.funnelDepthChunked(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 2L), (3L, 0L), (4L, 3L)), got)
    assert(got == Advanced.funnelDepth(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("q112 chunked EWMA == plain left fold across day chunks") {
    val rows = Seq(
      (1L, 10L, t("2024-03-01 10:00:00"), "view", 1.00),
      (1L, 11L, t("2024-03-01 23:59:59"), "view", 2.50),
      (1L, 12L, t("2024-03-02 00:00:01"), "view", 7.25), // new chunk
      (1L, 13L, t("2024-03-05 09:00:00"), "view", 0.75), // empty days gap
      (2L, 20L, t("2024-03-01 10:00:00"), "view", 3.00)) // single event
    val dir = eventsDir(rows)
    val got = Advanced.ewmaChunked(Tables.events(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val want = rows.groupBy(_._1).toList.sortBy(_._1).map { case (u, rs) =>
      val vs = rs.sortBy(r => (r._3.getTime, r._2))
        .map(r => math.round(r._5 * 100).toDouble)
      val raw = vs.tail.foldLeft(vs.head)((acc, x) => 0.3 * x + 0.7 * acc)
      (u, vs.size.toLong, raw)
    }
    assert(got.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)))
    got.zip(want).foreach { case (g, w) =>
      // cross-chunk affine regrouping may differ from the flat fold by
      // O(#days · ulp); the displayed ROUND(·,4) must still agree
      assert(math.abs(g._3 - BigDecimal(w._3)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"user ${g._1}: got ${g._3} want ${w._3}")
    }
  }

  test("q115 chunked trailing-median == dense frame window: carries " +
    "spanning many sparse days, frames straddling midnight") {
    // user 1: ONE value per day for 9 days — every trailing-7 window
    // after day 7 spans SEVEN chunks (the run tail must accumulate
    // across chunks, not just read the previous day's);
    // user 2: 10 same-day values then 3 the next day (partial carry).
    val rows =
      (1 to 9).map(dd => (1L, 100L + dd,
        t(f"2024-03-0$dd 12:00:00"), "view", dd * 1.0)) ++
      (1 to 10).map(i => (2L, 200L + i,
        t(f"2024-03-01 10:${i}%02d:00"), "view", i * 3.0)) ++
      (1 to 3).map(i => (2L, 220L + i,
        t(f"2024-03-02 08:0$i:00"), "view", i * 7.0))
    val dir = eventsDir(rows)
    val got = Advanced.rollingMedianChunked(Tables.events(spark, dir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // dense single-window reference (the pre-r10 shape) on the same data
    val wFrame = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    val nArr = size(col("arr"))
    val dense = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(wFrame)))
      .select(col("user_id"), col("event_id"), nArr.cast("long").as("n_win"),
        when(nArr % 2 === 1,
          element_at(col("arr"), ((nArr + 1) / 2).cast("int")).cast("double"))
          .otherwise((element_at(col("arr"), (nArr / 2).cast("int")) +
            element_at(col("arr"), (nArr / 2 + 1).cast("int")))
            .cast("double") / 2).as("med"))
      .orderBy("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == dense, s"first diff: ${got.zip(dense).find(p => p._1 != p._2)}")
    // spot-pin: user 1's 8th row (day 8) has a FULL window of days 2-8
    assert(got.find(r => r._1 == 1L && r._2 == 108L)
      .contains((1L, 108L, 7L, 500.0)))
  }

  test("q142 chunked clock fold == dense: conversion windows spanning " +
    "empty days, deadline misses, greedy re-anchoring") {
    val delta = 3L * 24 * 3600 * 1000000
    val dir = eventsDir(Seq(
      // user 1: view d1, click d3 23:00 (within 3d), purchase d8 (late) -> 2
      (1L, 10L, t("2024-03-01 00:10:00"), "view", 1.0),
      (1L, 11L, t("2024-03-03 23:00:00"), "click", 1.0),
      (1L, 12L, t("2024-03-08 10:00:00"), "purchase", 1.0),
      // user 2: view d1, first click d6 misses the deadline; so does the
      // later one (monotone tsm — the chunk threshold rule) -> 1
      (2L, 20L, t("2024-03-01 12:00:00"), "view", 1.0),
      (2L, 21L, t("2024-03-06 12:00:00"), "click", 1.0),
      (2L, 22L, t("2024-03-07 12:00:00"), "click", 1.0),
      // user 3: re-anchoring — click d2 re-anchors, purchase d4 is within
      // 3d of the CLICK though 3d+ after the view -> 3
      (3L, 30L, t("2024-03-01 06:00:00"), "view", 1.0),
      (3L, 31L, t("2024-03-02 06:00:00"), "click", 1.0),
      (3L, 32L, t("2024-03-04 18:00:00"), "purchase", 1.0),
      // user 4: stage-2 candidate BEFORE the anchor's day (click d1
      // before view d2) must not count; the d3 click does -> 2
      (4L, 40L, t("2024-03-01 12:00:00"), "click", 1.0),
      (4L, 41L, t("2024-03-02 12:00:00"), "view", 1.0),
      (4L, 42L, t("2024-03-03 12:00:00"), "click", 1.0)))
    val ev = Tables.events(spark, dir)
    val got = Advanced.funnelDepthsChunked(ev, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (3L, 3L), (4L, 2L)), got)
    val dense = Advanced.funnelDepths(ev, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == dense)
    // and on real data: chunked == dense at sf0.001
    val sfGot = Advanced.funnelDepthsChunked(
      Tables.events(spark, sf0001), delta).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val sfDense = Advanced.funnelDepths(
      Tables.events(spark, sf0001), delta).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(sfGot == sfDense)
  }

  test("q118 chunked lead == dense: spans crossing empty days, " +
    "same-ts spans excluded, open-ended last observation dropped") {
    val dir = eventsDir(Seq(
      // user 1: span crossing two empty days (d1 -> d4), then a same-ts
      // tie (dur 0, excluded), then the open-ended last event
      (1L, 10L, t("2024-03-01 12:00:00"), "view", 2.0),
      (1L, 11L, t("2024-03-04 06:00:00"), "view", 4.0),
      (1L, 12L, t("2024-03-04 06:00:00"), "view", 6.0), // tie with id 11
      (1L, 13L, t("2024-03-05 06:00:00"), "view", 8.0), // last: no span
      // user 2: single event -> no spans at all, absent from output
      (2L, 20L, t("2024-03-01 08:00:00"), "view", 1.0)))
    val got = Advanced.twapChunked(Tables.events(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // spans: d1->d4 (dur 237600000 ms, cents 200), 11->13? no: the tied
    // row 11 leads to row 12 (dur 0, excluded); row 12 leads to row 13
    // (dur 86400000 ms, cents 600). TWAP over the two surviving spans.
    val n = 237600000L + 86400000L
    val twap = BigDecimal((200.0 * 237600000L + 600.0 * 86400000L) / n / 100)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 2L, n, twap)), got)
    // dense single-window reference on the same data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val dense = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("dur",
        unix_millis(lead("ts", 1).over(w)) - unix_millis(col("ts")))
      .where(col("dur").isNotNull && col("dur") > 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_spans"), sum("dur").as("total_ms"),
        round(sum(col("cents") * col("dur")).cast("double") /
          sum(col("dur")) / 100, 4).as("twap"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == dense)
  }

  test("q155 chunked SCD2 == dense: changes across midnight, versions " +
    "offset across days, valid_to skipping change-less days") {
    val dir = eventsDir(Seq(
      // user 1: state runs crossing days — 'view' spans d1-d2 (the d2
      // rows must NOT open a new version), change to 'click' late d2,
      // then days of repeated 'click' (change-less d3), change on d5
      (1L, 10L, t("2024-03-01 10:00:00"), "view", 1.0),
      (1L, 11L, t("2024-03-02 09:00:00"), "view", 1.0),
      (1L, 12L, t("2024-03-02 22:00:00"), "click", 1.0),
      (1L, 13L, t("2024-03-03 11:00:00"), "click", 1.0),
      (1L, 14L, t("2024-03-05 07:00:00"), "purchase", 1.0),
      // user 2: same-ts tie — the event_id order decides the run
      (2L, 20L, t("2024-03-01 12:00:00"), "view", 1.0),
      (2L, 21L, t("2024-03-01 12:00:00"), "click", 1.0)))
    val got = Advanced.scd2Chunked(Tables.events(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 1L, "view", "2024-03-01 10:00:00", "2024-03-02 22:00:00", 0L),
      (1L, 2L, "click", "2024-03-02 22:00:00", "2024-03-05 07:00:00", 0L),
      (1L, 3L, "purchase", "2024-03-05 07:00:00", "current", 1L),
      (2L, 1L, "view", "2024-03-01 12:00:00", "2024-03-01 12:00:00", 0L),
      (2L, 2L, "click", "2024-03-01 12:00:00", "current", 1L)), got)
    // dense single-window reference on the same data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val dense = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("state"),
        col("ts"), col("event_id"), lag("event_type", 1).over(w).as("prev"))
      .where(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"),
        row_number().over(w).cast("long").as("version"),
        col("ts").as("valid_from"), lead("ts", 1).over(w).as("valid_to"))
      .select(col("user_id"), col("version"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("current")).as("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq
    assert(got == dense)
  }

  test("q154 chunked segment carry == whole-string regexp_count: " +
    "matches and 'pe' pairs spanning chunk boundaries") {
    val dir = eventsDir(Seq(
      // user 1: 'v' d1, 'p' d3 — one segment across an empty day -> vp 1
      (1L, 10L, t("2024-03-01 12:00:00"), "view", 1.0),
      (1L, 11L, t("2024-03-03 12:00:00"), "purchase", 1.0),
      // user 2: "vp"|"vp" adjacent days, no click — ONE segment, greedy
      // [^c]* consumes through the LAST p -> vp 1 (not 2)
      (2L, 20L, t("2024-03-01 10:00:00"), "view", 1.0),
      (2L, 21L, t("2024-03-01 11:00:00"), "purchase", 1.0),
      (2L, 22L, t("2024-03-02 10:00:00"), "view", 1.0),
      (2L, 23L, t("2024-03-02 11:00:00"), "purchase", 1.0),
      // user 3: "vp" d1, CLICK d2 splits, "vp" d3 -> vp 2; plus the d3
      // purchase is followed next day by an error -> pe across boundary
      (3L, 30L, t("2024-03-01 10:00:00"), "view", 1.0),
      (3L, 31L, t("2024-03-01 11:00:00"), "purchase", 1.0),
      (3L, 32L, t("2024-03-02 10:00:00"), "click", 1.0),
      (3L, 33L, t("2024-03-03 10:00:00"), "view", 1.0),
      (3L, 34L, t("2024-03-03 11:00:00"), "purchase", 1.0),
      (3L, 35L, t("2024-03-04 00:00:05"), "error", 1.0),
      // user 4: click-only + noise -> nothing
      (4L, 40L, t("2024-03-01 10:00:00"), "click", 1.0),
      (4L, 41L, t("2024-03-02 10:00:00"), "error", 1.0)))
    val got = Advanced.seqPatternChunked(Tables.events(spark, dir))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("pe", 1L, 1L), ("v[^c]*p", 3L, 4L)), got)
    // dense whole-string reference (the pre-r10 shape) on the same data
    val dense = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .when(col("event_type") === "signup", "s")
          .otherwise("e").as("code"))
      .groupBy("user_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("code")))), x => x.getField("code")), "").as("str"))
      .select(explode(array(lit("v[^c]*p"), lit("pe"))).as("pattern"),
        col("str"))
      .select(col("pattern"),
        regexp_count(col("str"), col("pattern")).cast("long").as("hits"))
      .groupBy("pattern")
      .agg(sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_users"),
        sum("hits").as("occurrences"))
      .orderBy("pattern")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == dense)
  }

  test("routeBySkew: every routed operator picks chunked on a hot key, " +
    "dense on uniform keys, with identical rows either way") {
    import org.apache.spark.sql.DataFrame
    val types = Vector("view", "click", "purchase", "error", "signup")
    // skewed: user 1 owns 40 rows over 3 days; user 2 has one
    val skewed = (1 to 40).map(i => (1L, i.toLong,
      t(f"2024-03-0${1 + i % 3}%d 10:${i % 60}%02d:00"),
      types(i % 5), i * 1.5)) :+
      (2L, 100L, t("2024-03-01 09:00:00"), "view", 2.0)
    // uniform: 8 users x 3 rows over 2 days
    val uniform = (1 to 8).flatMap(u => (0 to 2).map(i =>
      (u.toLong, u * 10L + i, t(f"2024-03-0${1 + i % 2}%d 1$i:00:00"),
        types((u + i) % 5), u * 1.0 + i)))
    val dirSk = eventsDir(skewed)
    val dirUn = eventsDir(uniform)
    val evSk = Tables.events(spark, dirSk)
    val evUn = Tables.events(spark, dirUn)
    val delta = 3L * 24 * 3600 * 1000000
    // (name, dense plan, auto with threshold 10 and an exact probe)
    val cases: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] =
      Seq(
        ("sessionize", Advanced.sessionize,
          Advanced.sessionizeAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("funnelDepth", Advanced.funnelDepth,
          Advanced.funnelDepthAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("funnelDepths", Advanced.funnelDepths(_, delta),
          Advanced.funnelDepthsAuto(_, delta,
            hotKeyRowThreshold = 10, sampleMod = 1)),
        ("transitions", Advanced.transitions,
          Advanced.transitionsAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("ewma", Advanced.ewma,
          Advanced.ewmaAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("rollingMedian", Advanced.rollingMedian,
          Advanced.rollingMedianAuto(_,
            hotKeyRowThreshold = 10, sampleMod = 1)),
        ("twap", Advanced.twap,
          Advanced.twapAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("seqPattern", Advanced.seqPattern,
          Advanced.seqPatternAuto(_, hotKeyRowThreshold = 10, sampleMod = 1)),
        ("scd2", Advanced.scd2,
          Advanced.scd2Auto(_, hotKeyRowThreshold = 10, sampleMod = 1)))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    cases.foreach { case (name, dense, auto) =>
      val autoSk = auto(evSk)
      val autoUn = auto(evUn)
      // plan choice: the chunked plan carries the chunk attribute
      assert(autoSk.queryExecution.analyzed.toString.contains("chunk"),
        s"$name: skewed input should take the chunked plan")
      assert(!autoUn.queryExecution.analyzed.toString.contains("chunk"),
        s"$name: uniform input should take the dense plan")
      // and BOTH choices produce exactly the dense plan's rows
      assert(rows(autoSk) == rows(dense(evSk)), s"$name rows (skewed)")
      assert(rows(autoUn) == rows(dense(evUn)), s"$name rows (uniform)")
    }
  }

  test("chunked == dense for every routed operator on the real fixture " +
    "(sf0.001)") {
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sf0001)
    val delta = 3L * 24 * 3600 * 1000000
    val pairs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("sessionize", Advanced.sessionize(ev), Advanced.sessionizeChunked(ev)),
      ("funnelDepth", Advanced.funnelDepth(ev),
        Advanced.funnelDepthChunked(ev)),
      ("funnelDepths", Advanced.funnelDepths(ev, delta),
        Advanced.funnelDepthsChunked(ev, delta)),
      ("transitions", Advanced.transitions(ev),
        Advanced.transitionsChunked(ev)),
      ("ewma", Advanced.ewma(ev), Advanced.ewmaChunked(ev)),
      ("rollingMedian", Advanced.rollingMedian(ev),
        Advanced.rollingMedianChunked(ev)),
      ("twap", Advanced.twap(ev), Advanced.twapChunked(ev)),
      ("seqPattern", Advanced.seqPattern(ev), Advanced.seqPatternChunked(ev)),
      ("scd2", Advanced.scd2(ev), Advanced.scd2Chunked(ev)))
    pairs.foreach { case (name, dense, chunked) =>
      val d = dense.collect().map(_.toString).sorted.toSeq
      val c = chunked.collect().map(_.toString).sorted.toSeq
      assert(d == c, s"$name: chunked != dense on the fixture")
    }
  }

  test("hottestKeyRowsCached: one probe per cache key — a second call " +
    "with the same key never rescans") {
    import org.apache.spark.sql.DataFrame
    val skewed = (1 to 25).map(i => (1L, i.toLong,
      t(f"2024-03-01 10:${i % 60}%02d:00"), "view", 1.0))
    val uniform = (1 to 5).map(u =>
      (u.toLong, u * 10L, t("2024-03-01 10:00:00"), "view", 1.0))
    val evSk = Tables.events(spark, eventsDir(skewed))
    val evUn = Tables.events(spark, eventsDir(uniform))
    val key = s"probe-cache-test-${System.nanoTime()}"
    def cached(ev: DataFrame, k: String) = RangeStitch.hottestKeyRowsCached(
      ev, Advanced.perUser, Advanced.eventSample, k, sampleMod = 1)
    assert(cached(evSk, key) == 25L)
    // same key, DIFFERENT frame: the memo answers without scanning,
    // so the (stale-by-design) skewed estimate comes back
    assert(cached(evUn, key) == 25L)
    // a fresh key re-probes
    assert(cached(evUn, key + "-2") == 1L)
  }

  test("count-chunked == dense for the six escalated twins (r12 flood " +
    "tier): 1-row chunks force a boundary at EVERY row; 64-row chunks " +
    "match the ChunkedParity harness") {
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sf0001)
    val pairs: Seq[(String, DataFrame, Long => DataFrame)] = Seq(
      ("funnelDepthsCount", Advanced.funnelDepths(ev, 3L * 24 * 3600 * 1000000),
        Advanced.funnelDepthsCountChunked(ev, 3L * 24 * 3600 * 1000000, _)),
      ("transitionsCount", Advanced.transitions(ev),
        Advanced.transitionsCountChunked(ev, _)),
      ("ewmaCount", Advanced.ewma(ev), Advanced.ewmaCountChunked(ev, _)),
      ("rollingMedianCount", Advanced.rollingMedian(ev),
        Advanced.rollingMedianCountChunked(ev, _)),
      ("twapCount", Advanced.twap(ev), Advanced.twapCountChunked(ev, _)),
      ("seqPatternCount", Advanced.seqPattern(ev),
        Advanced.seqPatternCountChunked(ev, _)),
      ("scd2Count", Advanced.scd2(ev), Advanced.scd2CountChunked(ev, _)))
    pairs.foreach { case (name, dense, count) =>
      val d = dense.collect().map(_.toString).sorted.toSeq
      for (n <- Seq(1L, 64L)) {
        val c = count(n).collect().map(_.toString).sorted.toSeq
        assert(c == d, s"$name: count-chunked(rowsPerChunk=$n) != dense")
      }
    }
  }

  test("hottestKeyRows probe contract (VERDICT r11 #4): event_id " +
    "duplicated ACROSS users stays exact; byte-identical (event_id, ts) " +
    "within a user is all-or-nothing as documented") {
    import spark.implicits._
    // two users share every event_id value 1..20 but ts varies per row:
    // the sample hashes struct(user_id, event_id, ts), so the cross-user
    // collision is harmless and the exact probe sees 20 rows per user
    val dup = (1 to 20).flatMap(i => Seq(
      (1L, i.toLong, t(f"2024-03-01 10:${i % 60}%02d:00")),
      (2L, i.toLong, t(f"2024-03-01 11:${i % 60}%02d:00"))))
      .toDF("user_id", "event_id", "ts")
    assert(hotUser(dup, 1) == 20L)
    // degenerate case the scaladoc warns about: one user's rows all
    // byte-identical on (event_id, ts) -> ONE hash bucket, so a sampled
    // probe is all-or-nothing for that user (0 or count*sampleMod),
    // never a fractional estimate
    val ident = (1 to 16).map(_ => (1L, 7L, t("2024-03-01 10:00:00")))
      .toDF("user_id", "event_id", "ts")
    val est = hotUser(ident, 4)
    assert(est == 0L || est == 64L, s"expected all-or-nothing, got $est")
    // sampleMod=1 (exact) is immune even to the degenerate shape
    assert(hotUser(ident, 1) == 16L)
  }
}
