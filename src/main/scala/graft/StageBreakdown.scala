package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Per-STAGE task-time attribution for one registry query — the
  * drill-down SkewBench can't give (it pools all stages). Prints one
  * line per stage: id, task count, max/median/sum task seconds, and
  * the stage's callsite (which operator line produced it), so a hot
  * task can be attributed to the exchange/sort/agg that owns it.
  *
  * Usage: StageBreakdown <sfDir> <queryName> [skewJoinOn]
  */
object StageBreakdown {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val skewOn = args.length <= 2 || args(2).toBoolean
    val spark = Harness.builder()
      // SPARK_GRAFT_AUTOBROADCAST=-1 probes the non-broadcast regime
      // (node-sized tables at 100 TB cannot broadcast) so loop-join
      // stage shapes reflect the at-scale plan, not the fixture's BHJ
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_AUTOBROADCAST", "10485760b"))
      .config("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      .config("spark.sql.adaptive.forceOptimizeSkewedJoin", skewOn.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stageSite = TrieMap.empty[Int, String]
    val stageTasks = TrieMap.empty[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]
    // (r13) shuffle bytes per stage — loop-shape evidence for the eager
    // checkpoint loops whose exchanges never appear in a static plan
    val stageShufW = TrieMap.empty[Int, java.util.concurrent.atomic.AtomicLong]
    val stageShufR = TrieMap.empty[Int, java.util.concurrent.atomic.AtomicLong]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stageSite(e.stageInfo.stageId) =
          e.stageInfo.name.linesIterator.next().take(120)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && te.taskInfo.successful) {
          stageTasks.getOrElseUpdate(te.stageId,
            new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(te.taskInfo.duration)
          if (te.taskMetrics != null) {
            stageShufW.getOrElseUpdate(te.stageId,
              new java.util.concurrent.atomic.AtomicLong())
              .addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
            stageShufR.getOrElseUpdate(te.stageId,
              new java.util.concurrent.atomic.AtomicLong())
              .addAndGet(te.taskMetrics.shuffleReadMetrics.totalBytesRead)
          }
        }
    })

    // warmup then timed (same protocol as SkewBench)
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    stageTasks.clear(); stageSite.clear()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // listener bus drain
    println(f"== $name wall=$wall%.1fs skewJoinOn=$skewOn ==")
    stageTasks.toSeq.sortBy(_._1).foreach { case (sid, q) =>
      val ds = q.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      if (ds.nonEmpty)
        println(f"stage $sid%4d tasks=${ds.length}%4d " +
          f"max=${ds.last / 1e3}%7.2fs med=${ds(ds.length / 2) / 1e3}%6.3fs " +
          f"sum=${ds.sum / 1e3}%8.1fs " +
          f"sw=${stageShufW.get(sid).map(_.get).getOrElse(0L) / 1024}%7dKB " +
          f"sr=${stageShufR.get(sid).map(_.get).getOrElse(0L) / 1024}%7dKB " +
          f" ${stageSite.getOrElse(sid, "?")}")
    }
    val totW = stageShufW.values.map(_.get).sum
    val totR = stageShufR.values.map(_.get).sum
    println(f"total shuffle write=${totW / 1024}%dKB read=${totR / 1024}%dKB " +
      f"stages=${stageTasks.size}")
    spark.stop()
    System.exit(0)
  }
}
