package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{DocDedup, EventOps}
import graft.streaming.EventOps.Event

/** Structured Streaming goldens via MemoryStream (SURVEY.md §5.2 #4):
  * watermark drop/keep and windowed counts with hand-advanced event time.
  * DuckDB has no watermark semantics, so these are in-repo goldens, not
  * oracle-checked (§2.10). */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L,
                 typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(minute), user, typ, v, "{}")

  /** Re-executing a survivor-index epoch must not change its output
    * (MapReduce §3.3): runs `replay` — the last epoch's `ingestEpoch`
    * again — and asserts that the row count of every store under
    * `root/state` (ids, the `payload` store, banded rows in `bandedTable`
    * or `banded/`, pairs) and the epoch's survivor snapshot are
    * unchanged. */
  private def assertReplayIdempotent(root: String, payload: String,
      bandedTable: Option[String], idCol: String, epoch: Long)(replay: => Unit): Unit = {
    def state(): (Map[String, Long], Set[Long]) = {
      val stores = Seq("ids", payload, "pairs")
        .map(d => d -> spark.read.parquet(s"$root/state/$d").count()).toMap +
        ("banded" -> bandedTable.fold(
          spark.read.parquet(s"$root/state/banded").count())(spark.table(_).count()))
      val snapshot = spark.read.parquet(s"$root/out/epoch=$epoch")
        .select(idCol).collect().map(_.getLong(0)).toSet
      (stores, snapshot)
    }
    val (storesBefore, snapshotBefore) = state()
    replay
    val (storesAfter, snapshotAfter) = state()
    assert(storesAfter == storesBefore, "replayed epoch changed the stores")
    assert(snapshotAfter == snapshotBefore,
      "replayed epoch changed the survivor snapshot")
  }

  test("T1 tumbling window counts (append mode after watermark passes)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("t1").outputMode("append")
      .start()
    // Watermark for batch N = max event time through batch N-1, minus the
    // 10 min delay — so each advance needs a follow-up batch to emit.
    in.addData(ev(1, 10), ev(2, 20), ev(3, 70)) // two in hour 0, one in hour 1
    query.processAllAvailable()
    in.addData(ev(4, 300)) // wm becomes 60min → hour-0 window closes
    query.processAllAvailable()
    in.addData(ev(5, 310)) // wm becomes 290min → hour-1 window closes
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("t1")
      .selectExpr("window.start", "event_type", "cnt").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L)))
    assert(rows.contains(("2024-01-01 01:00:00.0", "click", 1L)))
  }

  test("T2 sliding window counts through the STREAMING engine (append " +
    "mode, exact per-window counts after the watermark closes them)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.slidingCounts(in.toDF())
      .writeStream.format("memory").queryName("t2s").outputMode("append")
      .start()
    in.addData(ev(1, 10), ev(2, 20)) // 1h/15min windows: starts -45..+15
    query.processAllAvailable()
    in.addData(ev(3, 300)) // wm → 290min: every window of events 1–2 closes
    query.processAllAvailable()
    query.stop()
    val epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val emitted = spark.table("t2s")
      .selectExpr("window.start AS s", "cnt").collect()
      .map(r => (((r.getTimestamp(0).getTime - epoch) / 60000L).toInt,
        r.getLong(1)))
      .filter(_._1 < 60).toMap // event-3 windows are still open, excluded
    // identical numbers to the batch twin's hand computation for {10, 20}
    assert(emitted === Map(-45 -> 1L, -30 -> 2L, -15 -> 2L, 0 -> 2L, 15 -> 1L))
  }

  test("T4 watermark drops late rows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("t4").outputMode("append")
      .start()
    in.addData(ev(1, 10))
    query.processAllAvailable()
    in.addData(ev(2, 300)) // watermark → 290min, closes hour-0 window
    query.processAllAvailable()
    in.addData(ev(3, 15)) // late: hour-0 window already closed → dropped
    query.processAllAvailable()
    query.stop()
    val hour0 = spark.table("t4").selectExpr("window.start", "cnt").collect()
      .filter(_.getTimestamp(0).toString.startsWith("2024-01-01 00:00"))
    assert(hour0.map(_.getLong(1)).toSeq == Seq(1L), "late row was not dropped")
  }

  test("T5 dropDuplicatesWithinWatermark dedups by event_id") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("t5").outputMode("append")
      .start()
    in.addData(ev(1, 10), ev(1, 10), ev(2, 12))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("t5").count() == 2)
  }

  test("T6 flatMapGroupsWithState running totals across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("t6").outputMode("append")
      .start()
    in.addData(ev(1, 1, user = 7, v = 2.0), ev(2, 2, user = 7, v = 3.0))
    query.processAllAvailable()
    in.addData(ev(3, 3, user = 7, v = 5.0))
    query.processAllAvailable()
    query.stop()
    val states = spark.table("t6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(states.contains((7L, 2L, 5.0)))  // after batch 1
    assert(states.contains((7L, 3L, 10.0))) // after batch 2
  }

  test("T6 transformWithState (Spark 4 API) matches flatMapGroupsWithState") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val query = EventOps.runningUserTotalsTws(in.toDS())
        .writeStream.format("memory").queryName("t6tws").outputMode("append")
        .start()
      in.addData(ev(1, 1, user = 7, v = 2.0), ev(2, 2, user = 7, v = 3.0))
      query.processAllAvailable()
      in.addData(ev(3, 3, user = 7, v = 5.0))
      query.processAllAvailable()
      query.stop()
      val states = spark.table("t6tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(states.contains((7L, 2L, 5.0)))
      assert(states.contains((7L, 3L, 10.0)))
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T6 event-time timers: session close fires when the watermark passes") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val query = EventOps.sessionClosesTws(in.toDS())
        .writeStream.format("memory").queryName("t6timer").outputMode("append")
        .start()
      // user 1: two events 20min apart → one session, timer armed at 20+30min
      in.addData(ev(1, 0, user = 1, v = 2.0), ev(2, 20, user = 1, v = 3.0))
      query.processAllAvailable()
      assert(spark.table("t6timer").isEmpty,
        "session must stay open until the watermark passes last+gap")
      // user 2 at 300min pushes the watermark to 290min > 50min → user 1's
      // timer fires (no-data batch), emitting the closed session once
      in.addData(ev(3, 300, user = 2, v = 7.0))
      query.processAllAvailable()
      in.addData(ev(4, 600, user = 2)) // advance again → user 2's first session closes
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("t6timer").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 5.0)), s"got $rows")
      assert(rows.contains((2L, 1L, 7.0)), s"got $rows")
      // exactly-once emission per closed session
      assert(rows.size == spark.table("t6timer").count())
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T6 event-time state TTL: totals expire after inactivity, then restart") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      // ttl = 60 min of EVENT-time inactivity; watermark lateness 10 min
      val query = EventOps.expiringUserTotals(in.toDS(), ttlMs = 60L * 60 * 1000)
        .writeStream.format("memory").queryName("t6ttl").outputMode("append")
        .start()
      def rows() = spark.table("t6ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
      // user 1 active at t=0 and t=20min → running total, state alive
      in.addData(ev(1, 0, user = 1, v = 2.0), ev(2, 20, user = 1, v = 3.0))
      query.processAllAvailable()
      assert(rows().contains((1L, 2L, 5.0, false)))
      assert(!rows().exists(_._4), "nothing may expire before the watermark moves")
      // user 2 at t=300min → watermark 290min > 20+60min → user 1's state
      // expires: final aggregate emitted ONCE with expired=true
      in.addData(ev(3, 300, user = 2, v = 7.0))
      query.processAllAvailable()
      assert(rows().count(_ == (1L, 2L, 5.0, true)) == 1, s"got ${rows()}")
      // user 1 returns at t=310min → state restarted from zero (TTL-evicted)
      in.addData(ev(4, 310, user = 1, v = 9.0))
      query.processAllAvailable()
      query.stop()
      assert(rows().contains((1L, 1L, 9.0, false)), s"got ${rows()}")
      // replay-determinism of the emission count: one live update per
      // input batch per key + exactly one expiry row
      assert(rows().count(t => t._1 == 1L) == 3, s"got ${rows()}")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static enrichment joins the live stream against a batch dim") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = EventOps.enrich(in.toDF(), dim)
      .writeStream.format("memory").queryName("enr").outputMode("append")
      .start()
    in.addData(ev(1, 10, user = 1), ev(2, 11, user = 2), ev(3, 12, user = 7))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enr").select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) "-" else r.getString(1))).toMap
    assert(got == Map(1L -> "gold", 2L -> "basic", 3L -> "-"))
  }

  test("T8 stream-stream interval join attributes purchases to recent clicks") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t8").outputMode("append")
      .start()
    clicks.addData(ev(1, 10, user = 1, typ = "click"))
    purchases.addData(
      ev(2, 20, user = 1, typ = "purchase", v = 5.0),  // 10 min after click → joins
      ev(3, 50, user = 1, typ = "purchase", v = 7.0),  // 40 min after → outside bound
      ev(4, 20, user = 2, typ = "purchase", v = 9.0))  // other user → no click
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t8")
      .select("user_id", "click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 2L)))
  }

  test("T8 left-outer stream-stream join emits unmatched clicks after watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF(), "left_outer")
      .writeStream.format("memory").queryName("t8o").outputMode("append")
      .start()
    clicks.addData(ev(1, 10, user = 1, typ = "click"))
    purchases.addData(ev(2, 20, user = 1, typ = "purchase", v = 5.0)) // matches
    clicks.addData(ev(3, 30, user = 2, typ = "click")) // never matched
    q.processAllAvailable()
    // the null row is final only once BOTH watermarks pass click3's
    // window end (30m bound + 10m delay); advance with disjoint users
    clicks.addData(ev(4, 600, user = 8))
    purchases.addData(ev(5, 600, user = 9))
    q.processAllAvailable()
    clicks.addData(ev(6, 700, user = 8))
    purchases.addData(ev(7, 700, user = 9))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t8o")
      .select("user_id", "click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows.contains((1L, 1L, 2L)), s"matched row missing: $rows")
    assert(rows.contains((2L, 3L, -1L)), s"unmatched null row missing: $rows")
  }

  test("T7 foreachBatch idempotent parquet sink (epoch-keyed overwrite)") {
    // The production exactly-once file-sink pattern: key each micro-batch
    // write by its epoch id with overwrite mode, so a failure-recovery
    // REPLAY of an epoch lands on the same path and cannot duplicate.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("fb").toString
    val data = s"$root/data"
    def writeBatch(df: org.apache.spark.sql.DataFrame, epochId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$data/epoch=$epochId")
    val in = MemoryStream[Event]
    val q = in.toDF().writeStream.foreachBatch(writeBatch _)
      .option("checkpointLocation", s"$root/ckpt").start()
    in.addData(ev(1, 10), ev(2, 20))
    q.processAllAvailable()
    in.addData(ev(3, 30))
    q.processAllAvailable()
    q.stop()
    val first = spark.read.parquet(data)
    assert(first.count() == 3)
    // replay epoch 0 (failure-recovery path): same rows, same epoch dir
    writeBatch(Seq(ev(1, 10), ev(2, 20)).toDF(), 0L)
    assert(spark.read.parquet(data).count() == 3, "replay duplicated rows")
  }

  test("T3 streaming session windows merge and close under the watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val query = EventOps.sessionCounts(in.toDF())
      .selectExpr("session_window.start AS ss", "user_id", "cnt")
      .writeStream.format("memory").queryName("t3s").outputMode("append")
      .start()
    // user 1: events at 0 and 20min chain (gap < 30m) into one session
    in.addData(ev(1, 0, user = 1), ev(2, 20, user = 1))
    query.processAllAvailable()
    // jump event time far ahead: watermark passes session end → emit
    in.addData(ev(3, 300, user = 2))
    query.processAllAvailable()
    in.addData(ev(4, 600, user = 2)) // one more advance to flush user-2's too
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("t3s").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // user 1's merged 2-event session closed; user 2's single-event session too
    assert(rows.contains((1L, 2L)), s"got $rows")
    assert(rows.contains((2L, 1L)), s"got $rows")
  }

  test("S7 file source -> windowed agg -> file sink with checkpoint") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    // seed the source directory with one parquet batch of events
    Seq(ev(1, 10), ev(2, 20), ev(3, 70), ev(4, 300), ev(5, 310))
      .toDF().write.parquet(inDir)
    val stream = spark.readStream
      .schema(Tables.events(spark, sf0001).schema)
      .parquet(inDir)
    val query = EventOps.tumblingCounts(stream)
      .selectExpr("window.start AS ws", "event_type", "cnt", "sum_val")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    // AvailableNow processes the seeded batch; watermark starts at -inf
    // so appended windows require a second run with later data
    Seq(ev(6, 600)).toDF().write.mode("append").parquet(inDir)
    val q2 = EventOps.tumblingCounts(
      spark.readStream.schema(Tables.events(spark, sf0001).schema).parquet(inDir))
      .selectExpr("window.start AS ws", "event_type", "cnt", "sum_val")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    assert(out.count() >= 2, "closed windows not committed to the file sink")
    // checkpoint restart did not double-count: hour-0 click window == 2
    val hour0 = out.where(org.apache.spark.sql.functions.col("ws") ===
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .select("cnt").collect().map(_.getLong(0)).toSeq
    assert(hour0 == Seq(2L), s"got $hour0")
  }

  test("T2/T3 sliding + session windows produce exact batch-twin results") {
    import spark.implicits._
    val batch = Seq(ev(1, 10), ev(2, 20), ev(3, 55), ev(4, 200)).toDF()
    // 1h window / 15min slide → each event lands in exactly 4 windows;
    // hand-computed per-window counts (start minute relative to
    // 2024-01-01 00:00 → count):
    val expected = Map(
      -45 -> 1L, -30 -> 2L, -15 -> 2L, 0 -> 3L, 15 -> 2L, 30 -> 1L,
      45 -> 1L, 150 -> 1L, 165 -> 1L, 180 -> 1L, 195 -> 1L)
    val epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val slide = EventOps.slidingCounts(batch)
      .selectExpr("window.start AS s", "cnt").collect()
      .map(r => (((r.getTimestamp(0).getTime - epoch) / 60000L).toInt,
        r.getLong(1))).toMap
    assert(slide === expected)
    val sess = EventOps.sessionCounts(batch)
      .selectExpr("user_id", "cnt").collect().map(r => r.getLong(1)).sorted
    // 10,20 chain (gap 10m < 30m); 55 is 35m after 20 → own session; 200 too
    assert(sess.toSeq == Seq(1L, 1L, 2L))
  }

  test("stream bandedRows signatures match the batch minHashBanded path") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001).where(col("doc_id") < 50)
    val streamSide = DocDedup.bandedRows(docs)
      .select("doc_id", "band", "bsig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batchSide = operators.TextPipeline.minHashBanded(
        functions.Text.tokens(docs).select("doc_id", "word").distinct())
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamSide == batchSide,
      "scan-local signatures must equal the grouped batch signatures")
  }

  test("incremental LSH dedup: star candidates against earlier representatives") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[DocDedup.Doc]
      val query = DocDedup.incrementalCandidates(in.toDF())
        .writeStream.format("memory").queryName("docdedup").outputMode("append")
        .start()
      val ta = "alpha beta gamma delta epsilon zeta"
      val tb = "one two three four five six seven"
      in.addData(DocDedup.Doc(1, ta), DocDedup.Doc(2, tb))
      query.processAllAvailable()
      assert(spark.table("docdedup").isEmpty,
        "disjoint docs must produce no candidates")
      // batch 2: doc 3 replays doc 1's text exactly; doc 4 is fresh
      in.addData(DocDedup.Doc(3, ta), DocDedup.Doc(4, "nothing shared here at all"))
      query.processAllAvailable()
      // batch 3: two identical docs arriving TOGETHER — min doc_id is rep
      val td = "red orange yellow green blue indigo violet"
      in.addData(DocDedup.Doc(10, td), DocDedup.Doc(11, td))
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("docdedup").as[DocDedup.Match].collect()
      val byPair = rows.groupBy(m => (m.doc_id, m.dup_of))
      // doc 3 == doc 1: every band collides at estimated Jaccard 1.0
      assert(byPair((3L, 1L)).map(_.band).toSet ==
        (0 until operators.TextPipeline.LshBands).toSet)
      assert(byPair((3L, 1L)).forall(_.est_jaccard == 1.0))
      // doc 11 matched its same-batch sibling 10, deterministically
      assert(byPair.contains((11L, 10L)))
      assert(rows.forall(m =>
        Set((3L, 1L), (11L, 10L)).contains((m.doc_id, m.dup_of))),
        s"unexpected matches: ${rows.toSeq}")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("survivor index == batch dedupCorpus(minhash-lsh, electBy=first) " +
    "after every epoch of the replayed fixture corpus") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 100000 ≫ any fixture bucket: neither side's hot-bucket cap
    // truncates, so the candidate relations are identical and the
    // snapshots must match EXACTLY — transitive chains included.
    val mb = 100000
    val docsDF = Tables.documents(spark, sf0001).select("doc_id", "text")
    val docs = docsDF.orderBy("doc_id").as[DocDedup.Doc].collect()
    val root = java.nio.file.Files.createTempDirectory("survidx").toString
    val in = MemoryStream[DocDedup.Doc]
    val q = DocDedup.survivorQuery(in.toDF(), 0.8, s"$root/state",
      s"$root/out", s"$root/ckpt", maxBucket = mb)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    chunks.foreach { chunk =>
      in.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def batchSurvivors(prefix: Int): Set[Long] = {
      val ids = chunks.take(prefix).flatten.map(_.doc_id).toSet
      operators.TextPipeline
        .dedupCorpus(docsDF.where(col("doc_id").isin(ids.toSeq: _*)),
          0.8, "minhash-lsh", electBy = "first", maxBucket = mb)
        .select("doc_id").as[Long].collect().toSet
    }
    def snapshot(epoch: Int): Set[Long] =
      spark.read.parquet(s"$root/out/epoch=$epoch")
        .select("doc_id").as[Long].collect().toSet
    // mid-stream prefix parity AND final parity
    val mid = snapshot(0)
    val midBatch = batchSurvivors(1)
    assert(mid == midBatch,
      s"epoch-0 stream-only: ${(mid -- midBatch).toSeq.sorted}; " +
        s"batch-only: ${(midBatch -- mid).toSeq.sorted}")
    val fin = snapshot(chunks.length - 1)
    val finBatch = batchSurvivors(chunks.length)
    assert(fin == finBatch,
      s"final stream-only: ${(fin -- finBatch).toSeq.sorted}; " +
        s"batch-only: ${(finBatch -- fin).toSeq.sorted}")
    // failure-recovery replay of the last epoch on the parquet-directory
    // layout
    val last = (chunks.length - 1).toLong
    assertReplayIdempotent(root, "words", None, "doc_id", last) {
      DocDedup.ingestEpoch(chunks.last.toSeq.toDF(), 0.8, s"$root/state",
        s"$root/out", last, mb)
    }
  }

  test("greedy verdict stream: one verdict per doc; batch(first) " +
    "survivors are a subset; drops name a qualifying earlier match") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docsDF = Tables.documents(spark, sf0001).select("doc_id", "text")
      val docs = docsDF.orderBy("doc_id").as[DocDedup.Doc].collect()
      val root = java.nio.file.Files.createTempDirectory("verdict").toString
      val in = MemoryStream[DocDedup.Doc]
      val q = DocDedup.verdictQuery(in.toDF(), 0.8, s"$root/out", s"$root/ckpt")
      docs.grouped((docs.length + 2) / 3).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val verdicts = spark.read.parquet(s"$root/out")
      assert(verdicts.count() == docs.length,
        s"want exactly one verdict per doc (${docs.length}), got ${verdicts.count()}")
      val kept = verdicts.where(col("keep"))
        .select("doc_id").as[Long].collect().toSet
      // greedy can only keep MORE than transitive first-election (an
      // earlier near-dup disqualifies under both) — never fewer
      val batch = operators.TextPipeline
        .dedupCorpus(docsDF, 0.8, "minhash-lsh", electBy = "first",
          maxBucket = 100000)
        .select("doc_id").as[Long].collect().toSet
      assert((batch -- kept).isEmpty,
        s"batch-only survivors must be empty: ${(batch -- kept).toSeq.sorted}")
      val badDrop = verdicts.where(!col("keep") &&
        (col("dup_of").isNull || col("dup_of") >= col("doc_id") ||
          col("jac") < 0.8))
      assert(badDrop.isEmpty, s"malformed drops: ${badDrop.collect().toSeq}")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("greedy vs transitive on a hand-built corpus: equal on cliques, " +
    "greedy keeps the chain middle the batch drops") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // cliques: identical texts (pairwise jac 1.0)
      val famA = "alpha beta gamma delta epsilon zeta eta theta"
      val famB = "one two three four five six seven eight nine"
      // chain at tau 0.85: base 8 words; doc2 = base + x (8/9 = .889);
      // doc3 = doc2 + y (9/10 = .9); jac(doc1, doc3) = 8/10 = .8 < .85.
      // Arrival order doc1 < doc3 < doc2: doc3's only near-dup (doc2)
      // arrives LATER — greedy keeps doc3, transitive election drops it.
      val base = "red orange yellow green blue indigo violet cyan"
      val chain1 = base
      val chain3 = base + " xray yankee"
      val chain2 = base + " xray"
      val docs = Seq(
        DocDedup.Doc(1, famA), DocDedup.Doc(2, famA), DocDedup.Doc(3, famA),
        DocDedup.Doc(4, famB), DocDedup.Doc(5, famB),
        DocDedup.Doc(10, chain1), DocDedup.Doc(11, chain3),
        DocDedup.Doc(12, chain2))
      val docsDF = docs.toDF()
      // sanity: the LSH banding must actually co-bucket the chain links
      val sets = functions.Text.tokens(docsDF).select("doc_id", "word").distinct()
      val pairs = operators.TextPipeline.minHashLshPairs(sets, 0.85)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((10L, 12L)) && pairs.contains((11L, 12L)) &&
        !pairs.contains((10L, 11L)),
        s"chain construction broken, got pairs $pairs")
      val root = java.nio.file.Files.createTempDirectory("chain").toString
      val in = MemoryStream[DocDedup.Doc]
      val vq = DocDedup.verdictQuery(in.toDF(), 0.85, s"$root/v", s"$root/vc")
      docs.grouped(3).foreach { chunk =>
        in.addData(chunk: _*)
        vq.processAllAvailable()
      }
      vq.stop()
      val greedyKeep = spark.read.parquet(s"$root/v").where(col("keep"))
        .select("doc_id").as[Long].collect().toSet
      // greedy: family firsts, chain start, and the chain END whose only
      // near-dup arrives later
      assert(greedyKeep == Set(1L, 4L, 10L, 11L), s"got $greedyKeep")
      // transitive election additionally drops the chain end
      val batchKeep = operators.TextPipeline
        .dedupCorpus(docsDF, 0.85, "minhash-lsh", electBy = "first")
        .select("doc_id").as[Long].collect().toSet
      assert(batchKeep == Set(1L, 4L, 10L), s"got $batchKeep")
      // and the survivor index tracks the batch exactly, epoch by epoch
      val in2 = MemoryStream[DocDedup.Doc]
      val sq = DocDedup.survivorQuery(in2.toDF(), 0.85, s"$root/state",
        s"$root/s", s"$root/sc")
      docs.grouped(3).foreach { chunk =>
        in2.addData(chunk: _*)
        sq.processAllAvailable()
      }
      sq.stop()
      val survKeep = spark.read.parquet(s"$root/s/epoch=2")
        .select("doc_id").as[Long].collect().toSet
      assert(survKeep == batchKeep, s"got $survKeep want $batchKeep")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("TTL dedup stream survives kill/restart on RocksDB: restarted " +
    "run == uninterrupted run, state and timers restored") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ta = "alpha beta gamma delta epsilon"
      // batch A: doc 1 claims, doc 2 matches it.
      // batch B (after the RESTART): doc 6 at t=35 matches the RESTORED
      //   representative (timer re-armed at 35+30=65) — if state were
      //   lost, 6 would silently re-claim and this row would vanish;
      //   doc 3 at t=100 pushes the watermark to 90 > 65 → rep expires.
      // batch C: doc 4 re-claims the aged-out bucket, doc 5 matches 4.
      val batches = Seq(
        Seq(DocDedup.TsDoc(1, ta, ts(0)), DocDedup.TsDoc(2, ta, ts(10))),
        Seq(DocDedup.TsDoc(6, ta, ts(35)),
          DocDedup.TsDoc(3, "one two three four five", ts(100))),
        Seq(DocDedup.TsDoc(4, ta, ts(110)), DocDedup.TsDoc(5, ta, ts(111))))
      val wantPairs = Set((2L, 1L), (6L, 1L), (5L, 4L))

      // interrupted run: one file-source batch per query INCARNATION —
      // the query is stopped and rebuilt from the checkpoint in between,
      // so batches B and C run against restored RocksDB state
      val root = java.nio.file.Files.createTempDirectory("ttlrestart").toString
      val (src, out, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
      batches.foreach { b =>
        b.toDF().coalesce(1).write.mode("append").parquet(src)
        val q = DocDedup.incrementalCandidatesTtl(
            spark.readStream.schema(batches.head.toDF().schema).parquet(src),
            ttlMs = 30L * 60000, lateness = "10 minutes")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      val restarted = spark.read.parquet(out)
        .select("doc_id", "dup_of", "band", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet

      // uninterrupted twin: same batch boundaries, one continuous query
      val in = MemoryStream[DocDedup.TsDoc]
      val q2 = DocDedup.incrementalCandidatesTtl(in.toDF(),
          ttlMs = 30L * 60000, lateness = "10 minutes")
        .writeStream.format("memory").queryName("ttluninterrupted")
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      val continuous = spark.table("ttluninterrupted")
        .select("doc_id", "dup_of", "band", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet

      assert(restarted == continuous,
        s"restart drift: only-restarted=${restarted -- continuous} " +
          s"only-continuous=${continuous -- restarted}")
      assert(restarted.map(m => (m._1, m._2)) == wantPairs,
        s"got pairs ${restarted.map(m => (m._1, m._2))}")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("survivor index on a BUCKETED banded table: snapshots match batch " +
    "dedupCorpus and a replayed epoch neither duplicates nor diverges") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mb = 100000
    val tbl = "b_banded_streamspec"
    val docsDF = Tables.documents(spark, sf0001)
      .where(col("doc_id") < 400).select("doc_id", "text")
    val docs = docsDF.orderBy("doc_id").as[DocDedup.Doc].collect()
    val root = java.nio.file.Files.createTempDirectory("survbkt").toString
    try {
      val in = MemoryStream[DocDedup.Doc]
      val q = DocDedup.survivorQuery(in.toDF(), 0.8, s"$root/state",
        s"$root/out", s"$root/ckpt", maxBucket = mb,
        bandedTable = Some(tbl))
      val chunks = docs.grouped((docs.length + 2) / 3).toSeq
      chunks.foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      def snapshot(epoch: Int): Set[Long] =
        spark.read.parquet(s"$root/out/epoch=$epoch")
          .select("doc_id").as[Long].collect().toSet
      val fin = snapshot(chunks.length - 1)
      val finBatch = operators.TextPipeline
        .dedupCorpus(docsDF, 0.8, "minhash-lsh", electBy = "first",
          maxBucket = mb)
        .select("doc_id").as[Long].collect().toSet
      assert(fin == finBatch,
        s"stream-only: ${(fin -- finBatch).toSeq.sorted}; " +
          s"batch-only: ${(finBatch -- fin).toSeq.sorted}")
      // failure-recovery replay of the LAST epoch: the bucketed store
      // rewrites its epoch partition instead of appending to it
      val last = (chunks.length - 1).toLong
      assertReplayIdempotent(root, "words", Some(tbl), "doc_id", last) {
        DocDedup.ingestEpoch(chunks.last.toSeq.toDF(), 0.8, s"$root/state",
          s"$root/out", last, mb, Some(tbl))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("EmbDedup.bandedRows signatures match the batch hyperplaneBanded path") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 100)
    val streamSide = streaming.EmbDedup.bandedRows(emb)
      .select("vec_id", "band", "bsig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batchSide = operators.Similarity.hyperplaneBanded(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamSide == batchSide,
      "scan-local hyperplane band rows must equal the batch banding")
  }

  test("embedding survivor index == batch dedupEmbeddings(lsh) after " +
    "every epoch of the replayed fixture vectors") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mb = 100000 // above any fixture bucket: exact-parity configuration
    val embDF = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
    val vecs = embDF.withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")))
      .orderBy("vec_id").as[streaming.EmbDedup.Vec].collect()
    val root = java.nio.file.Files.createTempDirectory("embsurv").toString
    val in = MemoryStream[streaming.EmbDedup.Vec]
    val q = streaming.EmbDedup.survivorQuery(in.toDF(), 0.3, s"$root/state",
      s"$root/out", s"$root/ckpt", maxBucket = mb)
    val chunks = vecs.grouped((vecs.length + 2) / 3).toSeq
    chunks.foreach { chunk =>
      in.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def batchSurvivors(prefix: Int): Set[Long] = {
      val ids = chunks.take(prefix).flatten.map(_.vec_id).toSet
      operators.Similarity
        .dedupEmbeddings(embDF.where(col("vec_id").isin(ids.toSeq: _*)),
          0.3, "lsh", maxBucket = mb)
        .select("vec_id").as[Long].collect().toSet
    }
    def snapshot(epoch: Int): Set[Long] =
      spark.read.parquet(s"$root/out/epoch=$epoch")
        .select("vec_id").as[Long].collect().toSet
    val mid = snapshot(0)
    val midBatch = batchSurvivors(1)
    assert(mid == midBatch,
      s"epoch-0 stream-only: ${(mid -- midBatch).toSeq.sorted}; " +
        s"batch-only: ${(midBatch -- mid).toSeq.sorted}")
    val fin = snapshot(chunks.length - 1)
    val finBatch = batchSurvivors(chunks.length)
    assert(fin == finBatch,
      s"final stream-only: ${(fin -- finBatch).toSeq.sorted}; " +
        s"batch-only: ${(finBatch -- fin).toSeq.sorted}")
    val last = (chunks.length - 1).toLong
    assertReplayIdempotent(root, "vecs", None, "vec_id", last) {
      streaming.EmbDedup.ingestEpoch(chunks.last.toSeq.toDF(), 0.3,
        s"$root/state", s"$root/out", last, mb)
    }
  }

  test("EmbDedup survivor index on a BUCKETED banded table matches " +
    "batch dedupEmbeddings(lsh)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tbl = "b_banded_embspec"
    val embDF = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") < 200).select("vec_id", "embedding")
    val vecs = embDF.withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")))
      .orderBy("vec_id").as[streaming.EmbDedup.Vec].collect()
    val root = java.nio.file.Files.createTempDirectory("embsurvbkt").toString
    try {
      val in = MemoryStream[streaming.EmbDedup.Vec]
      val q = streaming.EmbDedup.survivorQuery(in.toDF(), 0.3, s"$root/state",
        s"$root/out", s"$root/ckpt", maxBucket = 100000,
        bandedTable = Some(tbl))
      val chunks = vecs.grouped((vecs.length + 1) / 2).toSeq
      chunks.foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val fin = spark.read.parquet(s"$root/out/epoch=${chunks.length - 1}")
        .select("vec_id").as[Long].collect().toSet
      val batch = operators.Similarity
        .dedupEmbeddings(embDF, 0.3, "lsh", maxBucket = 100000)
        .select("vec_id").as[Long].collect().toSet
      assert(fin == batch,
        s"stream-only: ${(fin -- batch).toSeq.sorted}; " +
          s"batch-only: ${(batch -- fin).toSeq.sorted}")
      val last = (chunks.length - 1).toLong
      assertReplayIdempotent(root, "vecs", Some(tbl), "vec_id", last) {
        streaming.EmbDedup.ingestEpoch(chunks.last.toSeq.toDF(), 0.3,
          s"$root/state", s"$root/out", last, 100000, Some(tbl))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("greedy embedding verdicts: one per vector; batch min-id " +
    "survivors are a subset; drops name a qualifying earlier match") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val embDF = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
      val vecs = embDF.withColumn("embedding",
          org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")))
        .orderBy("vec_id").as[streaming.EmbDedup.Vec].collect()
      val root = java.nio.file.Files.createTempDirectory("embverd").toString
      val in = MemoryStream[streaming.EmbDedup.Vec]
      val q = streaming.EmbDedup.verdictQuery(in.toDF(), 0.3,
        s"$root/out", s"$root/ckpt")
      vecs.grouped((vecs.length + 2) / 3).foreach { chunk =>
        in.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val verdicts = spark.read.parquet(s"$root/out")
      assert(verdicts.count() == vecs.length,
        s"want one verdict per vector (${vecs.length}), got ${verdicts.count()}")
      val kept = verdicts.where(col("keep"))
        .select("vec_id").as[Long].collect().toSet
      val batch = operators.Similarity
        .dedupEmbeddings(embDF, 0.3, "lsh", maxBucket = 100000)
        .select("vec_id").as[Long].collect().toSet
      assert((batch -- kept).isEmpty,
        s"batch-only survivors must be empty: ${(batch -- kept).toSeq.sorted}")
      val badDrop = verdicts.where(!col("keep") &&
        (col("dup_of").isNull || col("dup_of") >= col("vec_id") ||
          col("cos") < 0.3))
      assert(badDrop.isEmpty, s"malformed drops: ${badDrop.collect().toSeq}")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embedding greedy vs transitive on a hand-built corpus: equal on " +
    "cliques, greedy keeps the chain end the batch drops") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import streaming.EmbDedup
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // cliques: identical vectors in orthogonal planes (exact cos 1 / 0)
      def v(dims: (Int, Int), deg: Double): Seq[Double] = {
        val a = math.toRadians(deg)
        Seq.tabulate(8)(i => if (i == dims._1) math.cos(a)
          else if (i == dims._2) math.sin(a) else 0.0)
      }
      val vecA = v((0, 1), 0); val vecB = v((0, 1), 90)
      // chain at tau 0.8 in its own plane: consecutive links 30° apart
      // (cos .866 >= .8), ends 60° apart (cos .5 < .8). Arrival order
      // 10 < 11 < 12 puts the MIDDLE (12) last: 11's only near-dup
      // arrives later — greedy keeps 11, transitive election drops it.
      val vecs = Seq(
        EmbDedup.Vec(1, vecA), EmbDedup.Vec(2, vecA), EmbDedup.Vec(3, vecA),
        EmbDedup.Vec(4, vecB), EmbDedup.Vec(5, vecB),
        EmbDedup.Vec(10, v((2, 3), 0)), EmbDedup.Vec(11, v((2, 3), 60)),
        EmbDedup.Vec(12, v((2, 3), 30)))
      val embDF = vecs.toDF("vec_id", "embedding")
      val root = java.nio.file.Files.createTempDirectory("embchain").toString
      val in = MemoryStream[EmbDedup.Vec]
      val vq = EmbDedup.verdictQuery(in.toDF(), 0.8, s"$root/v", s"$root/vc")
      vecs.grouped(3).foreach { chunk =>
        in.addData(chunk: _*)
        vq.processAllAvailable()
      }
      vq.stop()
      val greedyKeep = spark.read.parquet(s"$root/v").where(col("keep"))
        .select("vec_id").as[Long].collect().toSet
      assert(greedyKeep == Set(1L, 4L, 10L, 11L), s"got $greedyKeep")
      // transitive min-id election additionally drops the chain end
      val batchKeep = operators.Similarity
        .dedupEmbeddings(embDF, 0.8, "lsh")
        .select("vec_id").as[Long].collect().toSet
      assert(batchKeep == Set(1L, 4L, 10L), s"got $batchKeep")
      // and the survivor index lands on the batch answer
      val in2 = MemoryStream[EmbDedup.Vec]
      val sq = EmbDedup.survivorQuery(in2.toDF(), 0.8, s"$root/state",
        s"$root/s", s"$root/sc")
      vecs.grouped(3).foreach { chunk =>
        in2.addData(chunk: _*)
        sq.processAllAvailable()
      }
      sq.stop()
      val idxKeep = spark.read.parquet(s"$root/s/epoch=2")
        .select("vec_id").as[Long].collect().toSet
      assert(idxKeep == batchKeep, s"got $idxKeep want $batchKeep")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embedding TTL stream survives kill/restart on RocksDB: " +
    "restarted run == uninterrupted run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import streaming.EmbDedup
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val va = Seq(1.0, 2.0, 3.0, 4.0)
      // batch A: vec 1 claims its buckets, vec 2 probes it.
      // batch B (after the RESTART): vec 6 at t=35 probes the RESTORED
      //   member (if state were lost it would silently re-claim).
      // batch C: vec 5 probes whatever each bucket now holds — the
      //   assert is pure restart-vs-continuous equality, band by band.
      val batches = Seq(
        Seq(EmbDedup.VecTs(1, va, ts(0)), EmbDedup.VecTs(2, va, ts(10))),
        Seq(EmbDedup.VecTs(6, va, ts(35)),
          EmbDedup.VecTs(3, Seq(-4.0, 3.0, -2.0, 1.0), ts(100))),
        Seq(EmbDedup.VecTs(5, va, ts(111))))

      val root = java.nio.file.Files.createTempDirectory("embttlrestart").toString
      val (src, out, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
      batches.foreach { b =>
        b.toDF().coalesce(1).write.mode("append").parquet(src)
        val q = EmbDedup.probesTtl(
            spark.readStream.schema(batches.head.toDF().schema).parquet(src),
            ttlMs = 30L * 60000, lateness = "10 minutes")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      def probeSet(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "band", "dup_of", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.rint(r.getDouble(3) * 10000) / 10000)).toSet
      val restarted = probeSet(spark.read.parquet(out))

      val in = MemoryStream[EmbDedup.VecTs]
      val q2 = EmbDedup.probesTtl(in.toDF(),
          ttlMs = 30L * 60000, lateness = "10 minutes")
        .writeStream.format("memory").queryName("embttluninterrupted")
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      val continuous = probeSet(spark.table("embttluninterrupted"))

      assert(restarted == continuous,
        s"restart drift: only-restarted=${restarted -- continuous} " +
          s"only-continuous=${continuous -- restarted}")
      // vec 6 probed the RESTORED vec-1 member on every one of its bands
      val v6 = restarted.filter(_._1 == 6L)
      assert(v6.nonEmpty && v6.forall(_._3 == 1L),
        s"vec 6 must probe the restored member on all bands: $v6")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("EmbDedup.incrementalCandidatesTtl (single-rep): matches, expiry, " +
    "zero-norm, and kill/restart replay == uninterrupted run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import streaming.EmbDedup
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val va = Seq(1.0, 2.0, 3.0, 4.0)
      val far = Seq(-4.0, 3.0, -2.0, 1.0)
      // batch A: vec 1 claims; zero-norm vec 9 must neither claim nor
      //   match; vec 2 matches the rep at cos 1 on every band.
      // batch B (after RESTART): vec 6 matches the RESTORED rep (if
      //   state were lost it would silently re-claim instead).
      // batch C: watermark driven past the timers by vec 3 (t=100) →
      //   buckets expire except bands where vec 3 collided (activity
      //   re-arms); vec 4 re-claims, vec 5 matches vec 4 there.
      val batches = Seq(
        Seq(EmbDedup.VecTs(9, Seq(0.0, 0.0, 0.0, 0.0), ts(0)),
          EmbDedup.VecTs(1, va, ts(0)), EmbDedup.VecTs(2, va, ts(10))),
        Seq(EmbDedup.VecTs(6, va, ts(35)), EmbDedup.VecTs(3, far, ts(100))),
        Seq(EmbDedup.VecTs(4, va, ts(110)), EmbDedup.VecTs(5, va, ts(111))))

      val root = java.nio.file.Files.createTempDirectory("embrepttl").toString
      val (src, out, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
      batches.foreach { b =>
        b.toDF().coalesce(1).write.mode("append").parquet(src)
        val q = EmbDedup.incrementalCandidatesTtl(
            spark.readStream.schema(batches.head.toDF().schema).parquet(src),
            threshold = 0.8, ttlMs = 30L * 60000, lateness = "10 minutes")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      def matchSet(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "band", "dup_of", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.rint(r.getDouble(3) * 10000) / 10000)).toSet
      val restarted = matchSet(spark.read.parquet(out))

      val in = MemoryStream[EmbDedup.VecTs]
      val q2 = EmbDedup.incrementalCandidatesTtl(in.toDF(),
          threshold = 0.8, ttlMs = 30L * 60000, lateness = "10 minutes")
        .writeStream.format("memory").queryName("embrepuninterrupted")
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      val continuous = matchSet(spark.table("embrepuninterrupted"))

      assert(restarted == continuous,
        s"restart drift: only-restarted=${restarted -- continuous} " +
          s"only-continuous=${continuous -- restarted}")
      def matched(id: Long): Map[Int, Long] =
        restarted.filter(_._1 == id).map(t => t._2 -> t._3).toMap
      // zero-norm vec 9 never claims: vec 1 is every bucket's rep, so
      // vec 2 and (post-restart) vec 6 match it on ALL 16 bands at cos 1
      assert(matched(2L).size == 16 && matched(2L).values.toSet == Set(1L),
        s"vec 2 must match vec 1 on all bands: ${matched(2L)}")
      assert(matched(6L).size == 16 && matched(6L).values.toSet == Set(1L),
        s"vec 6 must match the RESTORED rep on all bands: ${matched(6L)}")
      assert(restarted.forall(_._1 != 9L), "zero-norm must never match")
      // expiry: vec 4 matches vec 1 only on bands vec 3's arrival kept
      // alive; vec 5 matches vec 4 on the expired (re-claimed) bands
      val kept = matched(4L).keySet
      assert(kept.size < 8 && matched(4L).values.forall(_ == 1L),
        s"vec 4 must match vec 1 only on activity-kept bands: ${matched(4L)}")
      val m5 = matched(5L)
      assert(m5.size == 16 && m5.filter(_._2 == 4L).keySet == m5.keySet -- kept,
        s"vec 5 must match vec 4 exactly on the expired bands: $m5 (kept $kept)")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embedding dedup with event-time TTL: bucket members age out") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[streaming.EmbDedup.VecTs]
      val query = streaming.EmbDedup.probesTtl(
          in.toDF(), ttlMs = 30L * 60000, lateness = "10 minutes")
        .writeStream.format("memory").queryName("embdedupttl")
        .outputMode("append").start()
      val va = Seq(1.0, 2.0, 3.0, 4.0)
      val far = Seq(-4.0, 3.0, -2.0, 1.0) // different signature, most bands
      in.addData(streaming.EmbDedup.VecTs(1, va, ts(0)))
      query.processAllAvailable()
      // within TTL: vec 2 probes against the live member (cos = 1)
      in.addData(streaming.EmbDedup.VecTs(2, va, ts(10)))
      query.processAllAvailable()
      // unrelated vector at t=100 → watermark 90 min, past the timers
      // re-armed at 10+30 → vec 1's buckets expire EXCEPT any band
      // where vec 3 happens to collide: an arrival re-arms that
      // bucket's timer (the documented activity-anchored horizon)
      in.addData(streaming.EmbDedup.VecTs(3, far, ts(100)))
      query.processAllAvailable()
      // vec 4 re-claims the expired buckets; vec 5 probes vec 4 there
      in.addData(streaming.EmbDedup.VecTs(4, va, ts(110)),
        streaming.EmbDedup.VecTs(5, va, ts(111)))
      query.processAllAvailable()
      query.stop()
      val probes = spark.table("embdedupttl").as[streaming.EmbDedup.Probe]
        .collect()
      def matched(id: Long): Map[Int, Long] =
        probes.filter(p => p.vec_id == id && p.dup_of >= 0)
          .map(p => p.band -> p.dup_of).toMap
      assert(matched(2L).values.toSet == Set(1L),
        s"vec 2 should probe vec 1 everywhere: ${probes.toSeq}")
      // bands vec 3 landed in vec 1's bucket — their timers re-armed
      val kept = matched(3L).keySet
      assert(kept.size < 8, s"fixture vectors collide too much: $kept")
      val m4 = matched(4L)
      assert(m4.keySet == kept && m4.values.forall(_ == 1L),
        s"vec 4 must probe vec 1 ONLY on activity-kept bands $kept: $m4")
      val m5 = matched(5L)
      assert(m5.filter(_._2 == 4L).keySet == m5.keySet -- kept &&
        m5.keySet.size == 16,
        s"vec 5 must probe vec 4 exactly on the expired bands: $m5 (kept $kept)")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental dedup with event-time TTL: representatives age out") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[DocDedup.TsDoc]
      // 30-minute TTL, 10-minute lateness (the suite's virtual clock)
      val query = DocDedup.incrementalCandidatesTtl(
          in.toDF(), ttlMs = 30L * 60000, lateness = "10 minutes")
        .writeStream.format("memory").queryName("docdedupttl")
        .outputMode("append").start()
      val ta = "alpha beta gamma delta epsilon"
      in.addData(DocDedup.TsDoc(1, ta, ts(0)))
      query.processAllAvailable()
      // within TTL: doc 2 matches the live representative
      in.addData(DocDedup.TsDoc(2, ta, ts(10)))
      query.processAllAvailable()
      // unrelated doc at t=100 pushes the watermark to 90 min — past the
      // bucket timer re-armed at 10+30 → doc 1's representative expires
      in.addData(DocDedup.TsDoc(3, "one two three four five", ts(100)))
      query.processAllAvailable()
      // aged out: doc 4 re-claims the bucket (NO match against doc 1);
      // doc 5 in the same batch matches the new representative
      in.addData(DocDedup.TsDoc(4, ta, ts(110)), DocDedup.TsDoc(5, ta, ts(111)))
      query.processAllAvailable()
      query.stop()
      val pairs = spark.table("docdedupttl").as[DocDedup.Match].collect()
        .map(m => (m.doc_id, m.dup_of)).toSet
      assert(pairs == Set((2L, 1L), (5L, 4L)), s"got $pairs")
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CDC upsert: foreachBatch-folded snapshots equal the " +
    "one-shot batch compaction of the whole change log") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Advanced
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "cents")
    val batches = Seq(
      Seq((1L, 11L, 1L, "U"), (4L, 40L, 2L, "U")),
      Seq((2L, 0L, 3L, "D"), (1L, 12L, 4L, "U"), (5L, 50L, 5L, "U")),
      Seq((5L, 0L, 6L, "D"), (6L, 60L, 7L, "U"), (4L, 41L, 8L, "U")))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    base.select(col("k"), col("cents"), lit(0L).as("last_seq"))
      .write.parquet(s"$tmp/v0")
    @volatile var cur = s"$tmp/v0"
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = in.toDF().toDF("k", "cents", "seq", "op")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // log-structured upsert: fold each micro-batch onto the previous
        // snapshot version; versioned dirs keep the write crash-safe
        // (a torn write leaves `cur` pointing at the old version)
        val snap = spark.read.parquet(cur).select("k", "cents")
        val next = s"$tmp/v${id + 1}"
        Advanced.compactChangeLog(snap, df).write.parquet(next)
        cur = next
      }
      .start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.read.parquet(cur).select("k", "cents")
      .as[(Long, Long)].collect().toSet
    val oneShot = Advanced.compactChangeLog(base,
        batches.flatten.toDF("k", "cents", "seq", "op"))
      .select("k", "cents").as[(Long, Long)].collect().toSet
    assert(got == oneShot && got ==
      Set((1L, 12L), (3L, 30L), (4L, 41L), (6L, 60L)), s"got $got")
  }

  // ---------------------------------------------- q142/q147 stream twins

  /** sf0.001 events time-sorted and split into thirds; each third is fed
    * REVERSED (maximal within-batch disorder) — cross-batch order holds,
    * so nothing is late beyond the watermark and the twins must be
    * EXACT. */
  private def fixtureThirds(): (Array[Event], Seq[Seq[Event]]) = {
    val evs = EventOps.typedEvents(spark, Tables.events(spark, sf0001))
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    (evs, evs.grouped((evs.length + 2) / 3).map(_.reverse.toSeq).toSeq)
  }

  test("q142 streaming twin: watermark-sliced funnel fold == batch " +
    "funnelDepths at sf0.001") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    val delta = 3L * 24 * 3600 * 1000000
    val (evs, thirds) = fixtureThirds()
    val maxTs = evs.last.ts.getTime
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = EventOps.funnelDepthsTws(in.toDF(), delta)
        .writeStream.format("memory").queryName("funnel_tw")
        .outputMode("append").start()
      thirds.foreach { t => in.addData(t); q.processAllAvailable() }
      // two sentinel views (user -1, excluded below) push the watermark
      // past every buffered event so all pending funnels fold
      in.addData(Event(9000001L, new Timestamp(maxTs + 3600000L), -1L,
        "view", 0.0, "{}"))
      q.processAllAvailable()
      in.addData(Event(9000002L, new Timestamp(maxTs + 7200000L), -1L,
        "view", 0.0, "{}"))
      q.processAllAvailable()
      q.stop()
    } finally {
      providerBefore match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    // depth is monotone per user → max over the append stream = final
    val streamed = spark.table("funnel_tw").where(col("user_id") >= 0)
      .groupBy("user_id").agg(max("depth").as("depth"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = operators.Advanced
      .funnelDepths(Tables.events(spark, sf0001), delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch.nonEmpty && batch.values.exists(_ > 0),
      "fixture must exercise the funnel")
    assert(streamed.keySet.subsetOf(batch.keySet))
    batch.foreach { case (u, d) => // absent stream user = depth 0
      assert(streamed.getOrElse(u, 0L) === d, s"user $u depth") }
  }

  test("q147 streaming twin: DAU/WAU dedup+window streams reproduce the " +
    "batch stickiness report at sf0.001") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    val (evs, thirds) = fixtureThirds()
    val maxTs = evs.last.ts.getTime
    val inD = MemoryStream[Event]
    val inW = MemoryStream[Event]
    val qd = EventOps.dailyActiveUsers(inD.toDF())
      .writeStream.format("memory").queryName("dau_tw")
      .outputMode("append").start()
    val qw = EventOps.weeklyActiveUsers(inW.toDF())
      .writeStream.format("memory").queryName("wau_tw")
      .outputMode("append").start()
    thirds.foreach { t =>
      inD.addData(t); inW.addData(t)
      qd.processAllAvailable(); qw.processAllAvailable()
    }
    // sentinels 40/41 days out: far past the WAU stream's 8-day lateness
    // + 6-day cover horizon, so every fixture-day window closes
    Seq(40L, 41L).zipWithIndex.foreach { case (days, i) =>
      val s = Event(9000001L + i, new Timestamp(maxTs + days * 86400000L),
        -1L, "view", 0.0, "{}")
      inD.addData(s); inW.addData(s)
      qd.processAllAvailable(); qw.processAllAvailable()
    }
    qd.stop(); qw.stop()
    // UTC explicitly: the query's day column is date_format'd in session
    // UTC — a JVM-default-TZ formatter here would shift maxDay on a
    // non-UTC JVM and drop the fixture's last day from `got` (ADVICE r8)
    val maxDayFmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    maxDayFmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val maxDay = maxDayFmt.format(new java.util.Date(maxTs))
    val got = spark.table("dau_tw").join(spark.table("wau_tw"), "day")
      .where(col("day") <= maxDay) // sentinel days out; cover-only days
      .select(col("day"), col("dau"), col("wau"), //   have no dau row
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = SparkEntry.queries("q147_stickiness")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(want.nonEmpty && got === want)
  }
}
