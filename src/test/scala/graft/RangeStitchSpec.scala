package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.RangeStitch

/** The generic range-stitch operators (skew-safe exact per-key rank and
  * prefix sum). The registry's sf fixtures are below the routing
  * threshold, so the oracle gate only ever exercises the DENSE arms —
  * these tests pin the RANGED arms row-for-row against the window forms
  * on real fixture data (plus tie/empty edges). The hot-fixture
  * end-to-end oracle run lives in CORRECTNESS_r11_hotsrc (DuckDB compare
  * at a 4M-row hot key, where the ranged arms are the ones running). */
class RangeStitchSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("withRangeRank == window ROW_NUMBER on the fixture corpus " +
    "(lang key — few groups, heavy tie runs in n_chars)") {
    val dense = docs.withColumn("rk",
      row_number().over(
        Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .cast("long"))
    val ranged = RangeStitch.withRangeRank(docs, "lang",
      Seq("n_chars", "doc_id"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "lang", "n_chars", "rk")
        .orderBy("lang", "rk").collect().toSeq
    assert(rows(ranged) == rows(dense))
  }

  test("withRangePrefixSum == window running SUM on the fixture corpus " +
    "(q56's shape: per-lang cumsum in doc_id order)") {
    val dense = docs.withColumn("cum",
      sum("n_chars").over(
        Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ranged = RangeStitch.withRangePrefixSum(docs, "lang",
      Seq("doc_id"), "n_chars", "cum")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "lang", "n_chars", "cum")
        .orderBy("lang", "doc_id").collect().toSeq
    assert(rows(ranged) == rows(dense))
  }

  test("q80's ranged arm (range rank + totals join) == its window arm " +
    "on the fixture corpus") {
    val h = Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id"),
        graft.functions.Text.polyHash(col("text"), 17L).as("hk"))
    val w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    val dense = h.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("total", count(lit(1)).over(Window.partitionBy("lang")))
    val rk = RangeStitch.withRangeRank(h, "lang", Seq("hk", "doc_id"), "rn")
    val ranged =
      rk.join(rk.groupBy("lang").agg(count(lit(1)).as("total")), Seq("lang"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("lang", "doc_id", "hk", "rn", "total")
        .orderBy("lang", "rn").collect().toSeq
    assert(rows(ranged) == rows(dense))
  }

  test("edges: single-row key, all-one-key input, empty input") {
    import spark.implicits._
    // all rows one key: the range exchange splits it across partitions;
    // ranks/cumsums must still be globally correct
    val oneKey = (1 to 500).map(i => (i.toLong, "k", (i % 7).toLong))
      .toDF("id", "key", "v")
    val rkDense = oneKey.withColumn("rk",
      row_number().over(Window.partitionBy("key").orderBy("v", "id"))
        .cast("long"))
      .select("id", "rk").orderBy("id").collect().toSeq
    val rkRanged = RangeStitch.withRangeRank(oneKey, "key", Seq("v", "id"))
      .select("id", "rk").orderBy("id").collect().toSeq
    assert(rkRanged == rkDense)
    val csDense = oneKey.withColumn("cum",
      sum("v").over(Window.partitionBy("key").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").orderBy("id").collect().toSeq
    val csRanged = RangeStitch.withRangePrefixSum(oneKey, "key",
      Seq("id"), "v", "cum")
      .select("id", "cum").orderBy("id").collect().toSeq
    assert(csRanged == csDense)
    // singleton + empty
    val single = Seq((1L, "a", 5L)).toDF("id", "key", "v")
    assert(RangeStitch.withRangeRank(single, "key", Seq("v", "id"))
      .select("rk").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "key", "v")
    assert(RangeStitch.withRangeRank(empty, "key", Seq("v", "id"))
      .collect().isEmpty)
    assert(RangeStitch.withRangePrefixSum(empty, "key", Seq("id"), "v", "c")
      .collect().isEmpty)
    assert(RangeStitch.hottestKeyRows(empty, Seq(col("key")),
      Seq(col("key"), col("id")), 1) == 0L)
  }

  test("probe memo: different probed keys under one cacheKey never " +
    "share an estimate (ADVICE r11 collision case)") {
    import java.sql.Timestamp
    import spark.implicits._
    import graft.operators.Advanced
    val key = s"memo-keys-test-${System.nanoTime()}"
    // documents: the hottest lang owns 8 rows, the hottest source 3
    val docs = (1 to 12).map(i => (i.toLong,
      if (i <= 8) "en" else "de", s"s${i % 4}"))
      .toDF("doc_id", "lang", "source")
    def docProbe(k: String) = RangeStitch.hottestKeyRowsCached(docs,
      Seq(col(k)), Seq(col(k), col("doc_id")), key, sampleMod = 1)
    assert(docProbe("lang") == 8L)
    assert(docProbe("source") == 3L)
    // events: user 1 owns 10 rows, 2 per day over 5 days — the per-user
    // and per-(user, day) probes of ONE frame under ONE cacheKey
    val ev = (1 to 10).map(i => (1L, i.toLong,
      Timestamp.valueOf(f"2024-03-0${1 + i % 5}%d 10:${i}%02d:00")))
      .toDF("user_id", "event_id", "ts")
    def evProbe(keys: Seq[org.apache.spark.sql.Column]) =
      RangeStitch.hottestKeyRowsCached(ev, keys, Advanced.eventSample, key,
        sampleMod = 1)
    assert(evProbe(Advanced.perUser) == 10L)
    assert(evProbe(Advanced.perUserDay) == 2L)
  }

  test("Checkpoints.cut reliable knob: checkpoint-dir cuts produce the " +
    "same rows as the localCheckpoint default (VERDICT r11 #6)") {
    import graft.operators.Checkpoints
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    val dense = docs.withColumn("rk",
      row_number().over(
        Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .cast("long"))
      .select("doc_id", "lang", "n_chars", "rk")
      .orderBy("lang", "rk").collect().toSeq
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      val ranged = RangeStitch.withRangeRank(docs, "lang",
        Seq("n_chars", "doc_id"))
        .select("doc_id", "lang", "n_chars", "rk")
        .orderBy("lang", "rk").collect().toSeq
      assert(ranged == dense)
      // the reliable cut actually wrote to the checkpoint dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, "reliable cut never touched the checkpoint dir")
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }
}
