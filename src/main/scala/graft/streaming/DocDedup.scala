package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.TextPipeline

/** Incremental (streaming) near-duplicate detection — the stream twin of
  * [[graft.operators.TextPipeline.dedupCorpus]]'s candidate stage, for
  * the ingest-time question "is this document a near-dup of anything
  * already admitted?" asked of an unbounded feed.
  *
  * Shape, end to end:
  *
  *  1. MinHash signatures are computed SCAN-LOCALLY: where the batch path
  *     aggregates exploded `(doc_id, word)` rows
  *     ([[TextPipeline.minHashBanded]]), a stream can't afford a
  *     signature shuffle per micro-batch, so the native one-scan
  *     `minhash_sig` kernel folds all 16 mins per row in a single byte
  *     pass. Same `(a,b)` parameter family and word hash → the
  *     signatures are IDENTICAL to the batch path's (pinned in
  *     StreamingSpec), so a corpus can move between the two pipelines.
  *  2. Banded bucket keys `(band, bsig)` key the arbitrary-state stage:
  *     each bucket's state is ONE representative (first doc_id to claim
  *     the bucket, plus its full signature) — O(1) state per bucket, the
  *     stream analog of the batch hot-bucket star guard
  *     ([[TextPipeline.bucketGuardedCandidates]]): every later arrival
  *     pairs with the representative only, never all-pairs, so a
  *     boilerplate flood emits O(n) edges and bounded state no matter how
  *     degenerate the feed.
  *  3. The estimated Jaccard (fraction of agreeing signature components —
  *     the standard MinHash estimator) is computed inside the processor
  *     from the stored signature and filtered at `tau`, so candidate
  *     verification needs no second join.
  *
  * A document colliding with the same representative in several bands
  * emits one [[DocDedup.Match]] per band (the `band` column keeps rows
  * distinct); consumers wanting one verdict per doc take
  * `max(est_jaccard)` per (doc_id, dup_of).
  *
  * State lifetime: one representative per observed bucket — the standing
  * dedup index, which is exactly what incremental ingest needs to
  * remember. Feeds where old representatives should age out re-arm an
  * event-time timer per bucket, the [[EventOps.TtlTotalsProcessor]]
  * pattern, unchanged here to keep the operator minimal.
  */
object DocDedup {

  /** The minimal incoming-document shape. */
  case class Doc(doc_id: Long, text: String)

  /** [[Doc]] with an event time, for the TTL variant. */
  case class TsDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** One banded-signature row of an incoming document. */
  case class BandRow(doc_id: Long, band: Int, bsig: String, sig: Array[Long])

  /** [[BandRow]] plus the document's event time. */
  case class BandRowTs(doc_id: Long, band: Int, bsig: String, sig: Array[Long],
                       ts: java.sql.Timestamp)

  /** An admitted near-dup candidate: `doc_id` collided with the earlier
    * `dup_of` in `band`, with estimated Jaccard `est_jaccard`. */
  case class Match(doc_id: Long, dup_of: Long, band: Int, est_jaccard: Double)

  // public: the state-encoder's generated code calls the accessors
  case class BucketRep(rep_id: Long, sig: Array[Long])

  /** Banded MinHash rows for a `(doc_id, text)` frame, scan-local (no
    * shuffle): the native one-scan [[graft.functions.Text.minhashSig]]
    * kernel computes all `TextPipeline.LshHashes` mins in ONE byte pass,
    * with the same hash parameters as the batch path so signatures match
    * the batch pipeline exactly. (The previous HOF formulation — 16
    * separate `array_min(transform(words, ...))` columns — duplicated
    * the tokenize+distinct subtree into every hash: 16 tokenizations per
    * row, measured as 70% of streaming ingest wall time; the round-8
    * stage-isolating profile is in BASELINE_HISTORY.md, "STREAMING
    * INGEST-DEDUP THROUGHPUT". StreamingSpec pins kernel≡HOF≡batch
    * signatures.) Tokenless docs produce no rows, as on the batch path.
    * Works on both static and streaming input. */
  def bandedRows(docsIn: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val rows = TextPipeline.LshHashes / TextPipeline.LshBands
    val bandCols = (0 until TextPipeline.LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_",
          (0 until rows).map(r => col("sig")(bnd * rows + r)): _*).as("bsig"))
    }
    val kept = carry.map(col)
    docsIn
      .select(col("doc_id") +:
        Text.minhashSig(col("text"), TextPipeline.LshHashes).as("sig") +:
        kept: _*)
      // empty sig == no tokens == no band rows (batch no-token rule);
      // sig is referenced 17× below — a multi-use non-cheap alias, which
      // CollapseProject refuses to inline, so the kernel runs once per row
      .where(size(col("sig")) > 0)
      .select(col("doc_id") +: explode(array(bandCols: _*)).as("bd") +:
        col("sig") +: kept: _*)
      .select(col("doc_id") +: col("bd.band").as("band") +:
        col("bd.bsig").as("bsig") +: col("sig") +: kept: _*)
  }

  /** Per-bucket representative state: the first doc_id to claim the
    * bucket stays its representative; every later arrival is compared to
    * it and emitted iff the signature-estimated Jaccard reaches `tau`.
    * Within a micro-batch, rows are processed in doc_id order so the
    * representative (and therefore the output) is deterministic
    * regardless of partition iteration order. */
  class BucketProcessor(tau: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRow, Match] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[BucketRep] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[BucketRep](
        "rep", Encoders.product[BucketRep], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
                                 timers: TimerValues): Iterator[Match] = {
      val sorted = rows.toArray.sortBy(_.doc_id)
      val out = Seq.newBuilder[Match]
      var cur = Option(rep.get())
      sorted.foreach { r =>
        cur match {
          case None =>
            cur = Some(BucketRep(r.doc_id, r.sig))
            rep.update(cur.get)
          case Some(b) if b.rep_id == r.doc_id => () // replayed representative
          case Some(b) =>
            var agree = 0; var i = 0
            while (i < b.sig.length) {
              if (b.sig(i) == r.sig(i)) agree += 1; i += 1
            }
            val est = agree.toDouble / b.sig.length
            if (est >= tau) out += Match(r.doc_id, b.rep_id, key._1, est)
        }
      }
      out.result().iterator
    }
  }

  /** Incremental near-dup candidates over a streaming `(doc_id, text)`
    * frame: one [[Match]] per (band collision with estimated Jaccard ≥
    * `tau`). The only shuffle per micro-batch is the keyed-state
    * exchange on `(band, bsig)`. Requires the RocksDB state store
    * provider (as all `transformWithState` ops do). */
  def incrementalCandidates(docs: DataFrame, tau: Double = 0.5): Dataset[Match] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(docs).as[BandRow]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new BucketProcessor(tau),
        TimeMode.None(), OutputMode.Append())
  }

  // public: the state-encoder's generated code calls the accessors.
  // `armed` caches the registered expiry-timer target so arrivals never
  // need a listTimers() round-trip into the store.
  case class BucketRepT(rep_id: Long, sig: Array[Long], armed: Long)

  /** [[BucketProcessor]] with EVENT-TIME TTL on the representative (the
    * [[EventOps.TtlTotalsProcessor]] pattern): bucket activity re-arms a
    * timer past `last event time + ttl`; when the watermark passes it
    * the representative is dropped, so state is bounded by
    * event-time-ACTIVE buckets and a replay produces identical results
    * at any speed. A later document re-claims the bucket from scratch —
    * the dedup horizon becomes "anything admitted within the last ttl",
    * which is how a perpetual ingest feed keeps its index from growing
    * without bound.
    *
    * Timer cost, engineered (the round-8 stage-isolating profile in
    * BASELINE_HISTORY.md measured naive re-arming at ~35% of ingest
    * wall time): the armed target lives IN the value state (no
    * listTimers() store scan per arrival) and moves by
    * [[SurvivorIndex.rearm]] — rounded up to a `ttl/64` grid, forward
    * only — so the dedup horizon is a superset of the declared ttl,
    * never a subset. */
  class TtlBucketProcessor(tau: Double, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRowTs, Match] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[BucketRepT] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[BucketRepT](
        "rep", Encoders.product[BucketRepT], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRowTs],
                                 timers: TimerValues): Iterator[Match] = {
      val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
      val out = Seq.newBuilder[Match]
      val prev = rep.get()
      var curId = if (prev != null) prev.rep_id else -1L
      var curSig: Array[Long] = if (prev != null) prev.sig else null
      sorted.foreach { r =>
        if (curSig == null) {
          curId = r.doc_id; curSig = r.sig
        } else if (curId != r.doc_id) { // == would be a replayed rep
          var agree = 0; var i = 0
          while (i < curSig.length) {
            if (curSig(i) == r.sig(i)) agree += 1; i += 1
          }
          val est = agree.toDouble / curSig.length
          if (est >= tau) out += Match(r.doc_id, curId, key._1, est)
        }
      }
      val armed = if (prev != null) prev.armed else 0L
      val next = SurvivorIndex.rearm(getHandle, armed,
        sorted(sorted.length - 1).ts.getTime, ttlMs) // ts-sorted max
      if (next != armed) rep.update(BucketRepT(curId, curSig, next))
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, String), timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Match] = {
      rep.clear()
      Iterator.empty
    }
  }

  /** TTL variant of [[incrementalCandidates]] over a `(doc_id, text,
    * ts)` stream: representatives age out after `ttlMs` of event-time
    * bucket inactivity (watermark-driven), bounding state on perpetual
    * feeds. Requires a watermark on `ts`.
    *
    * TTL clock, precisely: every bucket ARRIVAL — matching or not —
    * re-arms the expiry timer, so the horizon is "ttl since the last
    * bucket activity", NOT "ttl since the representative was admitted".
    * Any traffic into a bucket keeps its representative alive
    * indefinitely; callers wanting admission-anchored expiry should not
    * read this operator as providing it. */
  def incrementalCandidatesTtl(docs: DataFrame, tau: Double = 0.5,
                               ttlMs: Long = 24L * 3600 * 1000,
                               lateness: String = "10 minutes"): Dataset[Match] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(docs.withWatermark("ts", lateness), carry = Seq("ts"))
      .as[BandRowTs]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new TtlBucketProcessor(tau, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ------------------------------------------------------- verdict stream

  /** One banded probe: `doc_id` compared against its bucket's
    * representative in `band`. `dup_of = -1` when there was nothing to
    * compare to (the doc claimed the bucket, IS the replayed
    * representative, or — band = -1 — had no tokens at all); otherwise
    * `jac` is the EXACT word-set Jaccard against the representative,
    * the same verification [[TextPipeline.minHashLshPairs]] applies to
    * its bucket candidates. */
  case class Probe(doc_id: Long, band: Int, dup_of: Long, jac: Double)

  /** [[BandRow]] carrying the doc's distinct word set instead of the
    * MinHash signature — the verdict path verifies candidates exactly. */
  case class BandRowW(doc_id: Long, band: Int, bsig: String, words: Seq[String])

  // public: the state-encoder's generated code calls the accessors
  case class WordRep(rep_id: Long, words: Seq[String])

  /** [[BucketProcessor]] analog for the verdict path. State per bucket
    * is the word sets of up to `cap` members — the SAME bound the batch
    * hot-bucket guard places on all-pairs buckets
    * ([[TextPipeline.bucketGuardedCandidates]]), so the stream's
    * comparison relation covers exactly the batch candidate relation
    * restricted to (earlier, later) pairs: small buckets compare every
    * arrival to every stored member; a flood bucket saturates at `cap`
    * stored members and later arrivals still compare against those (a
    * superset of the batch star edges, whose representative is stored
    * first). Each arrival emits ONE [[Probe]] per band — its best match
    * (max exact Jaccard, ties → min doc_id) among stored members — so
    * output stays O(bands) per document no matter how full the bucket.
    * No tau filter here: the fold applies it, keeping this stage
    * threshold-free. */
  class WordBucketProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRowW, Probe] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var members: ListState[WordRep] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[WordRep](
        "members", Encoders.product[WordRep], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRowW],
                                 timers: TimerValues): Iterator[Probe] = {
      val sorted = rows.toArray.sortBy(_.doc_id)
      val out = Seq.newBuilder[Probe]
      val stored = scala.collection.mutable.ArrayBuffer.empty[WordRep]
      members.get().foreach(stored += _)
      sorted.foreach { r =>
        if (stored.exists(_.rep_id == r.doc_id)) {
          out += Probe(r.doc_id, key._1, -1L, 0.0) // replayed member
        } else {
          val sb = r.words.toSet
          var bestId = -1L
          var bestJac = 0.0
          stored.foreach { m =>
            val sa = m.words.toSet
            val i = (sa & sb).size.toDouble
            val jac = i / (sa.size + sb.size - i)
            if (jac > bestJac || (jac == bestJac && bestId >= 0 && m.rep_id < bestId))
              { bestId = m.rep_id; bestJac = jac }
          }
          out += Probe(r.doc_id, key._1, if (bestJac > 0.0) bestId else -1L,
            bestJac)
          if (stored.size < cap) {
            val w = WordRep(r.doc_id, r.words)
            stored += w
            members.appendValue(w)
          }
        }
      }
      out.result().iterator
    }
  }

  /** Per-band probes for a streaming `(doc_id, text)` frame — stage one
    * of the keep/drop verdict pipeline. Tokenless documents never reach
    * the state stage (no band rows) but still need a verdict, so their
    * probe row (band = -1, nothing to compare) is emitted scan-locally.
    * NULL text counts as tokenless: it is coalesced to '' up front so
    * the one-verdict-per-document contract holds (without the coalesce,
    * `size(wordsOf(NULL))` is NULL and a null-text doc would match
    * neither the banded nor the tokenless branch — no verdict at all). */
  def probes(docsIn: DataFrame): Dataset[Probe] = {
    import docsIn.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val docs = docsIn.withColumn("text", coalesce(col("text"), lit("")))
    val withW = docs.withColumn("wset", array_distinct(Text.wordsOf(col("text"))))
    val probed = bandedRows(withW, carry = Seq("wset"))
      .select(col("doc_id"), col("band"), col("bsig"), col("wset").as("words"))
      .as[BandRowW]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new WordBucketProcessor(TextPipeline.LshMaxBucket),
        TimeMode.None(), OutputMode.Append())
    val tokenless = docs.where(size(Text.wordsOf(col("text"))) === 0)
      .select(col("doc_id"), lit(-1).as("band"), lit(-1L).as("dup_of"),
        lit(0.0).as("jac"))
      .as[Probe]
    probed.union(tokenless)
  }

  /** Instant per-arrival keep/drop verdicts — GREEDY arrival dedup:
    * [[probes]] folded per micro-batch by [[SurvivorIndex.foldVerdicts]]
    * into an epoch-keyed (replay-idempotent) parquet sink at
    * `outDir/epoch=N`.
    * A doc is DROPPED iff some stored bucket member (an earlier-arrived
    * doc, kept or itself dropped) matches it at exact Jaccard ≥ tau;
    * the verdict is emitted the moment the doc arrives and never
    * revised — what an admission-control ingest gate needs.
    *
    * Relation to the batch pipeline, honestly stated: batch
    * [[TextPipeline.dedupCorpus]](electBy = "first") survivors are
    * always a SUBSET of greedy keeps (an earlier near-dup disqualifies
    * a doc under both), with equality exactly on corpora whose near-dup
    * components are arrival-cliques — every non-first member directly
    * near-dups an earlier member, the shape LSH copy-families have. On
    * chain-shaped components, where a middle doc's only near-dup
    * arrives LATER, batch transitivity drops a doc this stream keeps —
    * no algorithm emitting irrevocable verdicts at arrival can do
    * otherwise. For exact batch parity at every prefix of the stream,
    * use [[survivorQuery]], whose snapshots may revoke. Both properties
    * are pinned in StreamingSpec. */
  def verdictQuery(docs: DataFrame, tau: Double, outDir: String,
                   checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SurvivorIndex.epochSink(probes(docs), checkpointDir) { (batch, epochId) =>
      SurvivorIndex.foldVerdicts(batch, "doc_id", "jac", tau)
        .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
    }

  // ------------------------------------------------- survivor index

  /** One ingest epoch of [[survivorQuery]] — a STATIC-frame combinator,
    * also the unit StreamingSpec exercises directly. Appends the batch
    * to the standing stores (ids / distinct word sets / banded rows,
    * each under `epoch=N` so a failure-recovery replay overwrites
    * rather than duplicates), generates candidate pairs touching the
    * NEW docs only (new×standing + new×new via the banded bucket join —
    * the standing side never re-pairs against itself, the q65 posture),
    * verifies them at exact Jaccard ≥ tau, appends to the cumulative
    * pair store, and overwrites `outDir/epoch=N` with the CURRENT
    * survivor set (min-id election over connected components of all
    * pairs so far).
    *
    * Hot buckets: candidate generation applies the batch guard against
    * the CURRENT bucket view — buckets ≤ `maxBucket` members join
    * all-pairs, larger ones star to their min-id member — so a
    * boilerplate flood costs O(new) edges per epoch, never O(bucket²).
    *
    * Per-epoch cost beyond the new batch: one scan of the standing
    * banded store and components over the cumulative PAIR set —
    * near-dup pairs, ≪ corpus. */
  def ingestEpoch(batch: DataFrame, tau: Double, stateDir: String,
                  outDir: String, epochId: Long,
                  maxBucket: Int = TextPipeline.LshMaxBucket): Unit =
    SurvivorIndex.ingestEpoch(survivorFeed(tau), batch, stateDir, outDir,
      epochId, maxBucket)

  /** The document feed of the survivor index. Word sets are stored
    * SORTED (state-format contract since r13) so the verify is the
    * native two-pointer |A∩B| count
    * ([[graft.expressions.VectorExpressions.sortedIntersectCount]]) —
    * the same count array_intersect + size produced, without a per-pair
    * hash set; the batch q100/q114 verify made the same swap in r12. A
    * read-side re-sort was measured and REJECTED: it re-sorts every
    * standing doc's set per epoch while the verify only touches
    * candidates (sf1dup 3-epoch total 21.8 s with the re-sort vs 19.9 s
    * baseline, BENCH_r13_stream_epoch.json), so state directories
    * written before r13 must be rebuilt. */
  private def survivorFeed(tau: Double): SurvivorIndex.Feed = {
    val i = graft.expressions.VectorExpressions
      .sortedIntersectCount(col("wa"), col("wb")).cast("double")
    SurvivorIndex.Feed("doc_id", bandedRows(_), "words",
      _.select(col("doc_id"),
        sort_array(array_distinct(Text.wordsOf(col("text")))).as("words")),
      Seq("words" -> "w"),
      i / (size(col("wa")) + size(col("wb")) - i) >= tau)
  }

  /** Streaming SURVIVOR-INDEX maintenance — the stream form of
    * [[TextPipeline.dedupCorpus]](method = "minhash-lsh", electBy =
    * "first"): after every micro-batch, `outDir/epoch=N` holds EXACTLY
    * the batch pipeline's survivors of everything ingested so far —
    * same candidate relation, same exact-Jaccard verification, same
    * connected components, same min-id election (golden-tested in
    * StreamingSpec, chains included, when neither side's hot-bucket cap
    * truncates; with finite caps both sides approximate the same target
    * relation). The price of transitive parity is that snapshots may
    * REVOKE: a later bridge doc can merge two clusters and retroactively
    * drop an earlier survivor from the next snapshot. Ingest gates that
    * need irrevocable per-arrival answers use [[verdictQuery]] instead;
    * pipelines that re-read the survivor set (the normal training-data
    * pattern) read the latest epoch here. */
  def survivorQuery(docs: DataFrame, tau: Double, stateDir: String,
                    outDir: String, checkpointDir: String,
                    maxBucket: Int = TextPipeline.LshMaxBucket)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SurvivorIndex.epochSink(docs, checkpointDir) { (batch, epochId) =>
      ingestEpoch(batch, tau, stateDir, outDir, epochId, maxBucket)
    }
}
