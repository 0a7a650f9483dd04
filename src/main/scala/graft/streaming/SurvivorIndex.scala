package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StatefulProcessorHandle, StreamingQuery}

import graft.operators.{Layout, TextPipeline}

/** What the document and embedding dedup feeds share: the epoch-keyed
  * survivor index behind both `survivorQuery`s, the verdict fold behind
  * both `verdictQuery`s, their `foreachBatch` wiring, and the TTL re-arm
  * rule of the bucket processors. A [[Feed]] names what differs. */
private[streaming] object SurvivorIndex {

  /** One feed of the survivor index: its id column (`doc_id` or
    * `vec_id`), scan-local banded rows of a batch, the payload store
    * directory and the batch's payload rows as stored there, and the
    * exact verify predicate. `sides` maps each stored payload column to
    * the alias stem the predicate reads it by: column `c` with stem `s`
    * is `s + "a"` for a candidate pair's `a` side and `s + "b"` for its
    * `b` side. */
  final case class Feed(idCol: String, banded: DataFrame => DataFrame,
                        store: String, payload: DataFrame => DataFrame,
                        sides: Seq[(String, String)], verify: Column)

  /** Bucket count of the `bandedTable` layout. */
  private val IndexBuckets = 8

  /** One ingest epoch; [[DocDedup.ingestEpoch]] states the contract. */
  def ingestEpoch(feed: Feed, batch: DataFrame, stateDir: String,
                  outDir: String, epochId: Long, maxBucket: Int,
                  bandedTable: Option[String]): Unit = {
    val spark = batch.sparkSession
    val id = feed.idCol
    val b = batch.persist()
    b.select(id)
      .write.mode("overwrite").parquet(s"$stateDir/ids/epoch=$epochId")
    feed.payload(b)
      .write.mode("overwrite").parquet(s"$stateDir/${feed.store}/epoch=$epochId")
    val bandedNew = feed.banded(b).select(id, "band", "bsig")
    bandedTable match {
      case Some(t) =>
        // file-prunable keyed layout: bucketed on the single bkey column,
        // sorted by (band, bsig) for row-group stats
        Layout.appendEpochBucketed(
          bandedNew.withColumn("bkey", hash(col("band"), col("bsig"))),
          t, IndexBuckets, epochId, Seq("bkey"), Seq("band", "bsig"))
      case None =>
        bandedNew.write.mode("overwrite")
          .parquet(s"$stateDir/banded/epoch=$epochId")
    }
    b.unpersist()

    val bandedAll = bandedTable.map(spark.table)
      .getOrElse(spark.read.parquet(s"$stateDir/banded"))
    val bandCols = Seq(id, "band", "bsig") ++ bandedTable.map(_ => "bkey")
    val allB = bandedAll.select(bandCols.head, bandCols.tail: _*)
    val newB = bandedAll.where(col("epoch") === epochId)
      .select(bandCols.head, bandCols.tail: _*)
    val stored = spark.read.parquet(s"$stateDir/${feed.store}")
      .select(id, feed.sides.map(_._1): _*)
    def side(s: String): DataFrame = stored.select(col(id).as(s) +:
      feed.sides.map { case (c, stem) => col(c).as(stem + s) }: _*)
    // subset-key co-partition knob: lets the bkey-bucketed standing
    // table satisfy the (bkey, band, bsig) join distribution from its
    // bucket spec — no standing shuffle; results identical either way.
    // Set around OUR action only (the pairs write below plans and runs
    // inside this scope), restored after.
    val coKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPrev = spark.conf.getOption(coKey)
    spark.conf.set(coKey, "false")
    try {
      TextPipeline.incrementalGuardedCandidates(allB, newB, maxBucket, idCol = id)
        // exact verification of candidates only — minHashLshPairs' contract
        .join(side("a"), "a")
        .join(side("b"), "b")
        .where(feed.verify)
        .select("a", "b")
        .write.mode("overwrite").parquet(s"$stateDir/pairs/epoch=$epochId")
    } finally coPrev match {
      case Some(v) => spark.conf.set(coKey, v)
      case None => spark.conf.unset(coKey)
    }

    // no pairs yet (the first epochs) gives empty labels, no losers
    val losers = TextPipeline.connectedComponents(
        spark.read.parquet(s"$stateDir/pairs").select("a", "b"))
      .where(col("id") =!= col("rep"))
      .select(col("id").as(id))
    // un-hinted anti join: losers is O(duplicate count) — AQE broadcasts
    // it when small, shuffles when a dup-heavy feed makes it O(corpus)
    spark.read.parquet(s"$stateDir/ids").select(id)
      .join(losers, Seq(id), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
  }

  /** Fold per-band probe rows (`idCol`, `dup_of`, `scoreCol`) into one
    * verdict per id: `keep = true` iff no stored member matched at
    * `scoreCol >= threshold`; dropped ids carry their best match (max
    * score, ties → min dup_of, score rounded to 4 decimals before
    * ranking — the q58 reproducibility protocol). A plain batch
    * aggregation: every band row of an id is exploded from ONE input
    * row, so they always share a micro-batch and the per-batch fold is
    * complete — no cross-batch state. */
  def foldVerdicts(probes: DataFrame, idCol: String, scoreCol: String,
                   threshold: Double): DataFrame = {
    val best = probes
      .where(col("dup_of") >= 0 && col(scoreCol) >= threshold)
      .groupBy(idCol)
      .agg(max(struct(round(col(scoreCol), 4).as(scoreCol),
        (-col("dup_of")).as("nd"))).as("b"))
      .select(col(idCol), (-col("b.nd")).as("dup_of"),
        col(s"b.$scoreCol").as(scoreCol))
    probes.select(idCol).distinct()
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"),
        col("dup_of"), col(scoreCol))
  }

  /** Run `each(batch, epochId)` on every micro-batch of `stream`, with
    * its progress checkpointed at `checkpointDir`. */
  def epochSink(stream: Dataset[_], checkpointDir: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    stream.toDF().writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) => each(batch, epochId) }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The TTL bucket processors' timer policy. A bucket whose latest
    * arrival has event time `lastTs` should expire at `lastTs + ttlMs`;
    * that target is rounded UP to a `ttlMs / 64` grid and the timer only
    * ever moves forward, so a hot bucket pays one delete+register per
    * grid crossing instead of timer ops per batch, expiry never fires
    * before `last activity + ttl` (at most `ttl/64` late), and a late
    * row's older target is a no-op. `armed` is the currently registered
    * target (0 = none); returns the target armed after the call. */
  def rearm(handle: StatefulProcessorHandle, armed: Long, lastTs: Long,
            ttlMs: Long): Long = {
    val slack = math.max(1L, ttlMs / 64)
    val target = ((lastTs + ttlMs + slack - 1) / slack) * slack
    if (target <= armed) armed
    else {
      if (armed > 0) handle.deleteTimer(armed)
      handle.registerTimer(target)
      target
    }
  }
}
