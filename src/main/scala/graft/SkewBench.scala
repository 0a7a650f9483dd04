package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Zipf-hot-key stress harness (VERDICT r8 #5): run the skew-sensitive
  * registry queries over a `make_sf.py --skew` fixture — one user owning
  * ~20% of events, one source + one token-identical LSH bucket owning
  * ~20% of documents, one value owning ~20% of supplier balances — and
  * record per-query TASK time distributions (max, median, count) with
  * AQE skew-join splitting ON vs OFF, plus wall seconds for both.
  *
  * What the two modes separate:
  *   - a query whose max-task time collapses when skew-join is ON is
  *     absorbed by AQE's runtime partition split (shuffle-join skew);
  *   - a query whose max-task stays hot in BOTH modes is either
  *     window-partition skew (AQE cannot split a window partition —
  *     only a plan change can) or is absorbed upstream by an explicit
  *     guard (the banding hot-bucket cap, the exact-collapse prepass),
  *     in which case the wall time stays flat and that IS the evidence.
  *
  * Task durations come from a SparkListener; the listener bus is
  * asynchronous, so after each run we poll until the task count stops
  * moving before reading the distribution. One untimed warmup per query
  * (JIT + codegen + footer cache), then one timed run per mode.
  *
  * Usage: SkewBench <skewSfDir> [query...]  → one JSON line.
  */
object SkewBench {
  private val DefaultSpot = Seq(
    "q44_sessionize",      // the documented even-data twin: its hot-user
                           // window partition is the family's unbounded
                           // reference point (q158 is the fix)
    "q158_sessionize_skewsafe", // and the chunked fix, for the A/B
    // the r10 chunk-stitch family (each bounded by rows/user-DAY):
    "q62_funnel", "q107_transitions", "q112_ewma", "q115_rolling_median",
    "q118_twap", "q142_window_funnel", "q154_seq_pattern", "q155_scd2",
    "q76_theta_rank_join", // bucketized rank join, hot value bucket
    "q77_theta_agg_join",
    "q78_theta_band_join",
    "q37_minhash_lsh_pairs", // banding hot-bucket guard, worst case
    "q71_dedup_corpus",    // banding guard end-to-end (hot bucket is
                           // byte-distinct, so exact-collapse can't help)
    "q141_curriculum",     // per-source rank window, hot source
    "q144_gini")           // per-source rank window + agg, hot source

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultSpot
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && te.taskInfo.successful)
          durations.add(te.taskInfo.duration)
    })

    /** Poll until the async listener bus stops delivering task ends. */
    def drain(): Unit = {
      var last = -1
      var same = 0
      while (same < 2) {
        Thread.sleep(200)
        val n = durations.size
        if (n == last) same += 1 else { same = 0; last = n }
      }
    }

    case class Stats(wallSec: Double, tasks: Int, taskMaxSec: Double,
                     taskMedSec: Double, taskSumSec: Double)

    def runOne(name: String, skewJoinOn: Boolean): Stats = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
        skewJoinOn.toString)
      // forceOptimizeSkewedJoin lets AQE split even when it adds a
      // shuffle — the posture a skew-dominated production job runs
      spark.conf.set(
        "spark.sql.adaptive.forceOptimizeSkewedJoin", skewJoinOn.toString)
      // Measurement hygiene (r12): localCheckpoint blocks from PRIOR
      // runs accumulate in the shared block manager (they are never
      // auto-unpersisted) and their memory pressure pollutes later
      // queries' task times — the r12 count-tier sweep measured q118 at
      // a phantom 10 s max task that an isolated StageBreakdown run
      // showed to be 1.5 s. Each run rebuilds its frames from scratch,
      // so dropping all persisted RDDs between runs is safe.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      durations.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      val ds = durations.toArray(Array.empty[java.lang.Long])
        .map(_.longValue).sorted
      Stats(wall, ds.length,
        if (ds.isEmpty) 0 else ds.last / 1e3,
        if (ds.isEmpty) 0 else ds(ds.length / 2) / 1e3,
        ds.sum / 1e3)
    }

    val rows = names.flatMap { name =>
      try {
        runOne(name, skewJoinOn = true) // warmup, untimed
        val on = runOne(name, skewJoinOn = true)
        val off = runOne(name, skewJoinOn = false)
        System.err.println(f"[skew] $name on=${on.wallSec}%.1fs " +
          f"(max task ${on.taskMaxSec}%.1fs med ${on.taskMedSec}%.3fs) " +
          f"off=${off.wallSec}%.1fs (max task ${off.taskMaxSec}%.1fs)")
        def j(s: Stats) =
          f"""{"wall":${s.wallSec}%.2f,"tasks":${s.tasks},""" +
            f""""task_max":${s.taskMaxSec}%.2f,"task_med":${s.taskMedSec}%.3f,""" +
            f""""task_sum":${s.taskSumSec}%.1f}"""
        Some(s""""$name":{"skew_join_on":${j(on)},"skew_join_off":${j(off)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[skew] $name failed: ${e.getMessage}")
        None
      }
    }
    println(rows.mkString(
      s"""{"metric":"skew_stress","unit":"sec","sf":"$sfDir","queries":{""",
      ",", "}}"))
    spark.stop()
  }
}
