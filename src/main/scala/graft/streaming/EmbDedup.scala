package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.TextPipeline

/** Incremental (streaming) EMBEDDING near-duplicate detection — the
  * vector twin of [[DocDedup]], mirroring batch
  * [[graft.operators.Similarity.dedupEmbeddings]] the way DocDedup
  * mirrors `dedupCorpus`:
  *
  *  - hyperplane-LSH banding is SCAN-LOCAL (the codegen
  *    `hyperplane_sig` expression — same bits/bands/seed math as the
  *    batch path and the Catalyst rewrite), so a stream pays no
  *    signature shuffle;
  *  - per-(band, bsig) bucket state holds up to `cap` member vectors
  *    (the batch hot-bucket guard bound) and every arrival emits ONE
  *    best-match probe per band, verified by EXACT cosine;
  *  - [[verdictQuery]] folds probes into irrevocable greedy per-arrival
  *    keep/drop verdicts; [[survivorQuery]] maintains an epoch-snapshot
  *    survivor index that is golden-EQUAL to batch
  *    `dedupEmbeddings(method = "lsh")` over everything ingested so far
  *    (same candidate relation, same cosine verification, same
  *    components and min-id election) when neither side's bucket cap
  *    truncates. The greedy-vs-transitive contrast is the same as
  *    DocDedup's and is documented there.
  *
  * ZERO-NORM CONTRACT (batch and stream agree): cosine similarity is
  * undefined for a zero vector, so a zero-norm embedding is never a
  * duplicate of anything and nothing is a duplicate of it — it always
  * receives a keep verdict, survives batch dedup (the exact-cosine
  * filter evaluates NaN ≥ τ as false), and is never stored as a bucket
  * member, so NaN never participates in a best-match comparison.
  */
object EmbDedup {

  /** The minimal incoming shape. */
  case class Vec(vec_id: Long, embedding: Seq[Double])

  /** One banded-signature row carrying the (double-cast) vector.
    * `v` is a primitive array: the Catalyst deserializer for
    * `Array[Double]` takes the no-boxing fast path, where `Seq[Double]`
    * boxes every element — measured as THE streaming-probe bottleneck
    * (r9 stack samples: all on-CPU in the member-scan dot loop). */
  case class BandRowV(vec_id: Long, band: Int, bsig: Long, v: Array[Double])

  /** One banded probe: best stored-member match of `vec_id` in `band`
    * (`dup_of = -1` when the bucket had nothing to compare to). */
  case class Probe(vec_id: Long, band: Int, dup_of: Long, cos: Double)

  // public: the state-encoder's generated code calls the accessors.
  // `v` is a primitive array (same Catalyst schema as Seq[Double] —
  // ArrayType(double) — so checkpoints are unaffected by the encoder).
  // WARNING: the Array field makes equals/hashCode REFERENCE-based on
  // these row classes (also BandRowV/BandRowVTs/VecRepT) — compare via
  // rep_id / java.util.Arrays.equals, never ==, distinct, or Set/Map.
  case class VecRep(rep_id: Long, v: Array[Double], nrm: Double)

  /** [[Vec]] with an event time — the TTL variant's incoming shape. */
  case class VecTs(vec_id: Long, embedding: Seq[Double], ts: java.sql.Timestamp)

  /** [[BandRowV]] carrying the event time. */
  case class BandRowVTs(vec_id: Long, band: Int, bsig: Long, v: Array[Double],
                        ts: java.sql.Timestamp)

  /** Banded rows for a `(vec_id, embedding)` frame, scan-local — the
    * carry-the-vector form of `Similarity.hyperplaneBanded` (same
    * signature math, pinned against it in StreamingSpec). Works on both
    * static and streaming input; `carry` forwards extra columns (the
    * TTL variant rides the event time through). */
  def bandedRows(emb: DataFrame, bits: Int = 64, bands: Int = 16,
                 seed: Long = 42L, carry: Seq[String] = Nil): DataFrame = {
    require(bits >= 1 && bits <= 64 && bands >= 1 && bits % bands == 0)
    val rows = bits / bands
    val mask = if (rows == 64) -1L else (1L << rows) - 1L
    val sig = emb
      .withColumn("v", transform(col("embedding"), _.cast("double")))
      .withColumn("sig",
        graft.expressions.VectorExpressions.hyperplaneSig(col("v"), bits, seed))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * rows).bitwiseAND(lit(mask)).as("bsig"))
    }
    val carried = carry.map(col)
    sig.select(col("vec_id") +: explode(array(bandCols: _*)).as("bd") +:
        col("v") +: carried: _*)
      .select(col("vec_id") +: col("bd.band").as("band") +:
        col("bd.bsig").as("bsig") +: col("v") +: carried: _*)
  }

  private def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** One arrival's scan over a bucket's stored members: best exact-
    * cosine match (ties → min rep_id), plus whether the arrival is a
    * replayed member and whether a BIT-IDENTICAL copy is already stored.
    * Shared by both list-state processors — the measured hot loop (all
    * r9 stack samples landed here), so it runs on primitive arrays with
    * no per-element boxing. */
  private def scanMembers(stored: scala.collection.mutable.ArrayBuffer[VecRep],
                          id: Long, rv: Array[Double], rn: Double)
      : (Long, Double, Boolean, Boolean) = {
    var bestId = -1L
    var bestCos = Double.MinValue
    var replayed = false
    var exactDup = false
    // zero-norm contract: cosine is undefined for a zero vector, so a
    // zero-norm arrival matches nothing (kept, dup_of = -1) and is never
    // stored; zero-norm stored members (legacy state) are skipped — NaN
    // never enters the comparison, matching the batch path where
    // `cos >= threshold` is false for NaN
    var j = 0
    while (j < stored.length) {
      val m = stored(j)
      if (m.rep_id == id) replayed = true
      else if (rn > 0.0 && m.nrm > 0.0) {
        val mv = m.v
        var d = 0.0
        var i = 0
        while (i < rv.length) { d += mv(i) * rv(i); i += 1 }
        val cos = d / (m.nrm * rn)
        if (cos > bestCos || (cos == bestCos && bestId >= 0 && m.rep_id < bestId))
          { bestId = m.rep_id; bestCos = cos }
        if (!exactDup && m.nrm == rn && java.util.Arrays.equals(mv, rv))
          exactDup = true
      }
      j += 1
    }
    (bestId, bestCos, replayed, exactDup)
  }

  /** [[DocDedup.WordBucketProcessor]] for vectors: up to `cap` member
    * vectors per bucket, one best-match probe (max exact cosine, ties →
    * min vec_id) per arrival per band. Threshold-free — the fold
    * applies it.
    *
    * BIT-IDENTICAL arrivals are probed but NOT stored (the streaming
    * mirror of the batch stage-0 exact collapse): a stored copy of an
    * existing member can never change any future probe's cosine, only
    * burn a cap slot — so identical-vector floods no longer saturate
    * buckets and future best-match attribution goes to the FIRST stored
    * copy (= the min id under in-order arrival). */
  class VecBucketProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandRowV, Probe] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var members: ListState[VecRep] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[VecRep](
        "members", Encoders.product[VecRep], TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRowV],
                                 timers: TimerValues): Iterator[Probe] = {
      val sorted = rows.toArray.sortBy(_.vec_id)
      val out = Seq.newBuilder[Probe]
      val stored = scala.collection.mutable.ArrayBuffer.empty[VecRep]
      members.get().foreach(stored += _)
      sorted.foreach { r =>
        val rn = norm(r.v)
        val (bestId, bestCos, replayed, exactDup) =
          scanMembers(stored, r.vec_id, r.v, rn)
        if (replayed) {
          out += Probe(r.vec_id, key._1, -1L, 0.0)
        } else {
          out += Probe(r.vec_id, key._1, bestId,
            if (bestId >= 0) bestCos else 0.0)
          if (rn > 0.0 && !exactDup && stored.size < cap) {
            val w = VecRep(r.vec_id, r.v, rn)
            stored += w
            members.appendValue(w)
          }
        }
      }
      out.result().iterator
    }
  }

  /** Per-band probes for a streaming `(vec_id, embedding)` frame. */
  def probes(emb: DataFrame,
             cap: Int = TextPipeline.LshMaxBucket): Dataset[Probe] = {
    import emb.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(emb).as[BandRowV]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new VecBucketProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[VecBucketProcessor]] with EVENT-TIME TTL on the stored members
    * ([[DocDedup.TtlBucketProcessor]] pattern): every bucket arrival
    * re-arms a timer at `last event time + ttl`; when the watermark
    * passes it the bucket's member list is cleared, so state is bounded
    * by event-time-ACTIVE buckets. Same activity-anchored horizon as
    * the doc variant: any traffic into a bucket keeps its members
    * alive — the horizon is "ttl since last bucket activity", not
    * "since each member was admitted". */
  class VecBucketProcessorTtl(cap: Int, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandRowVTs, Probe] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var members: ListState[VecRep] = _
    // armed-timer cache (the DocDedup.BucketRepT pattern, as its own
    // value state since the member list has no value slot): no
    // listTimers() store scan per bucket per batch; the target moves by
    // SurvivorIndex.rearm. Set in the same call that first stores
    // members, cleared together with them.
    @transient private var armedState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      members = getHandle.getListState[VecRep](
        "members", Encoders.product[VecRep], TTLConfig.NONE)
      armedState = getHandle.getValueState[Long](
        "armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRowVTs],
                                 timers: TimerValues): Iterator[Probe] = {
      val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.vec_id))
      val out = Seq.newBuilder[Probe]
      val stored = scala.collection.mutable.ArrayBuffer.empty[VecRep]
      members.get().foreach(stored += _)
      sorted.foreach { r =>
        val rn = norm(r.v)
        val (bestId, bestCos, replayed, exactDup) =
          scanMembers(stored, r.vec_id, r.v, rn)
        if (replayed) {
          out += Probe(r.vec_id, key._1, -1L, 0.0)
        } else {
          out += Probe(r.vec_id, key._1, bestId,
            if (bestId >= 0) bestCos else 0.0)
          // bit-identical arrivals are probed but not stored — see
          // VecBucketProcessor (the batch stage-0 exact-collapse mirror)
          if (rn > 0.0 && !exactDup && stored.size < cap) {
            val w = VecRep(r.vec_id, r.v, rn)
            stored += w
            members.appendValue(w)
          }
        }
      }
      val armed = if (armedState.exists()) armedState.get() else 0L
      val next = SurvivorIndex.rearm(getHandle, armed,
        sorted(sorted.length - 1).ts.getTime, ttlMs) // ts-sorted max
      if (next != armed) armedState.update(next)
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, Long), timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Probe] = {
      members.clear()
      armedState.clear() // a re-claimed bucket must re-arm from scratch
      Iterator.empty
    }
  }

  /** TTL variant of [[probes]] over a `(vec_id, embedding, ts)` stream:
    * bucket member lists age out after `ttlMs` of event-time bucket
    * inactivity (watermark-driven), bounding state on perpetual feeds —
    * the vector twin of [[DocDedup.incrementalCandidatesTtl]], same
    * activity-anchored expiry horizon. Requires a watermark on `ts`
    * (applied here) and the RocksDB state store provider. */
  def probesTtl(emb: DataFrame, cap: Int = TextPipeline.LshMaxBucket,
                ttlMs: Long = 24L * 3600 * 1000,
                lateness: String = "10 minutes"): Dataset[Probe] = {
    import emb.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(emb.withWatermark("ts", lateness), carry = Seq("ts"))
      .as[BandRowVTs]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new VecBucketProcessorTtl(cap, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** An admitted near-dup candidate: `vec_id` collided with the earlier
    * `dup_of` in `band` at exact cosine `cos` — the vector
    * [[DocDedup.Match]]. */
  case class VecMatch(vec_id: Long, dup_of: Long, band: Int, cos: Double)

  // public: the state-encoder's generated code calls the accessors.
  // `armed` caches the registered expiry-timer target in the value (the
  // [[DocDedup.BucketRepT]] pattern — no listTimers() store scan per
  // arrival); `v` is a primitive array so state (de)serialization never
  // boxes 64 doubles per row.
  case class VecRepT(rep_id: Long, v: Array[Double], nrm: Double, armed: Long)

  /** Single-REPRESENTATIVE per-bucket processor with event-time TTL —
    * the exact vector twin of [[DocDedup.TtlBucketProcessor]], and the
    * operator [[incrementalCandidatesTtl]] runs: the first (non-zero-
    * norm) vector to claim a bucket stays its representative; every
    * later arrival is compared to it by EXACT cosine and emitted iff it
    * reaches `threshold`. O(1) state per bucket (one vector + norm), vs
    * [[VecBucketProcessorTtl]]'s O(cap) member list — the same
    * candidate-recall trade DocDedup documents: a near-dup of a NON-
    * representative bucket member is missed in this band and must
    * collide with its partner in some other band. Timer cost engineered
    * as in the doc twin: armed target lives IN the value state and
    * moves by [[SurvivorIndex.rearm]].
    *
    * Zero-norm contract: a zero-norm arrival never claims a bucket and
    * never matches (cosine undefined), mirroring the batch path. */
  class RepBucketProcessorTtl(threshold: Double, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandRowVTs, VecMatch] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[VecRepT] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[VecRepT](
        "rep", Encoders.product[VecRepT], TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRowVTs],
                                 timers: TimerValues): Iterator[VecMatch] = {
      val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.vec_id))
      val out = Seq.newBuilder[VecMatch]
      val prev = rep.get()
      var curId = if (prev != null) prev.rep_id else -1L
      var curV: Array[Double] = if (prev != null) prev.v else null
      var curN = if (prev != null) prev.nrm else 0.0
      var claimed = false
      sorted.foreach { r =>
        if (curV == null) {
          val rn = norm(r.v)
          if (rn > 0.0) { // zero-norm never claims nor is stored
            curId = r.vec_id; curV = r.v; curN = rn; claimed = true
          }
        } else if (curId != r.vec_id) { // == would be a replayed rep
          val rv = r.v
          var d = 0.0; var s = 0.0; var i = 0
          while (i < curV.length) {
            val x = rv(i); d += curV(i) * x; s += x * x; i += 1
          }
          val rn = math.sqrt(s)
          if (rn > 0.0) {
            val cos = d / (curN * rn)
            if (cos >= threshold) out += VecMatch(r.vec_id, curId, key._1, cos)
          }
        }
      }
      if (curV != null) {
        val armed = if (prev != null) prev.armed else 0L
        val next = SurvivorIndex.rearm(getHandle, armed,
          sorted(sorted.length - 1).ts.getTime, ttlMs) // ts-sorted max
        if (next != armed || claimed) rep.update(VecRepT(curId, curV, curN, next))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, Long), timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[VecMatch] = {
      rep.clear()
      Iterator.empty
    }
  }

  /** Incremental near-dup candidates over a streaming `(vec_id,
    * embedding, ts)` frame with event-time TTL — the vector twin of
    * [[DocDedup.incrementalCandidatesTtl]] (VERDICT r8 #4's benched
    * operator): one [[VecMatch]] per band collision with exact cosine ≥
    * `threshold` against the bucket representative; representatives age
    * out after `ttlMs` of event-time bucket INACTIVITY (same activity-
    * anchored horizon as the doc twin — any bucket traffic keeps its
    * representative alive). The only shuffle per micro-batch is the
    * keyed-state exchange on `(band, bsig)`. Requires a watermark on
    * `ts` (applied here) and the RocksDB state store provider.
    *
    * Contract vs [[probesTtl]]: this is the O(1)-state candidate
    * GENERATOR (single rep per bucket — misses near-dups of non-
    * representative members within a band, recovered across bands
    * exactly as DocDedup documents); probesTtl is the best-match
    * VERDICT feeder (O(cap) members, one probe per arrival per band,
    * threshold-free). At the same feed the single-rep path's state
    * rows are ~cap× smaller and its per-bucket store work is one
    * get+update, which is what makes it the ingest-throughput path. */
  def incrementalCandidatesTtl(emb: DataFrame, threshold: Double = 0.8,
                               ttlMs: Long = 24L * 3600 * 1000,
                               lateness: String = "10 minutes"): Dataset[VecMatch] = {
    import emb.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(emb.withWatermark("ts", lateness), carry = Seq("ts"))
      .as[BandRowVTs]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new RepBucketProcessorTtl(threshold, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Greedy per-arrival keep/drop verdicts for an embedding stream —
    * semantics exactly as [[DocDedup.verdictQuery]] (irrevocable at
    * arrival; batch min-id survivors are a subset; equal on
    * arrival-clique corpora). */
  def verdictQuery(emb: DataFrame, threshold: Double, outDir: String,
                   checkpointDir: String,
                   cap: Int = TextPipeline.LshMaxBucket)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SurvivorIndex.epochSink(probes(emb, cap), checkpointDir) { (batch, epochId) =>
      SurvivorIndex.foldVerdicts(batch, "vec_id", "cos", threshold)
        .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
    }

  /** One ingest epoch of [[survivorQuery]] — the vector
    * [[DocDedup.ingestEpoch]]: epoch-keyed idempotent stores (ids /
    * vectors+norms / banded rows), candidates touching only the NEW
    * batch against the standing banded index (batch bucket guard on the
    * current view), exact-cosine verification with the codegen dot
    * kernel, components over cumulative pairs, min-id election,
    * survivor snapshot at `outDir/epoch=N`. */
  def ingestEpoch(batch: DataFrame, threshold: Double, stateDir: String,
                  outDir: String, epochId: Long,
                  maxBucket: Int = TextPipeline.LshMaxBucket): Unit =
    SurvivorIndex.ingestEpoch(
      SurvivorIndex.Feed("vec_id", bandedRows(_), "vecs",
        _.withColumn("v", transform(col("embedding"), _.cast("double")))
          .select(col("vec_id"), col("v"),
            sqrt(aggregate(col("v"), lit(0.0d), (a, x) => a + x * x)).as("nrm")),
        Seq("v" -> "v", "nrm" -> "n"),
        graft.expressions.VectorExpressions.dotProduct(col("va"), col("vb")) /
          (col("na") * col("nb")) >= threshold),
      batch, stateDir, outDir, epochId, maxBucket)

  /** Streaming survivor-index maintenance for embeddings — every
    * epoch's snapshot equals batch `Similarity.dedupEmbeddings(lsh)`
    * over everything ingested so far (golden in StreamingSpec);
    * snapshots may revoke, exactly as [[DocDedup.survivorQuery]]
    * documents. */
  def survivorQuery(emb: DataFrame, threshold: Double, stateDir: String,
                    outDir: String, checkpointDir: String,
                    maxBucket: Int = TextPipeline.LshMaxBucket)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SurvivorIndex.epochSink(emb, checkpointDir) { (batch, epochId) =>
      ingestEpoch(batch, threshold, stateDir, outDir, epochId, maxBucket)
    }
}
