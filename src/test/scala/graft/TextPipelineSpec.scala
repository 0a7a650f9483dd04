package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{RangeStitch, TextPipeline}

/** Dedup-family operators: exact Jaccard ground truth, and the MinHash-
  * LSH scale path validated against it (candidate pairs are verified, so
  * precision is 1 by construction; recall is asserted ≥ threshold). */
class TextPipelineSpec extends SparkSpec {

  test("exactJaccardPairs on hand-computed sets") {
    import spark.implicits._
    // A={x,y,z}, B={x,y,z}, C={x}: J(A,B)=1, J(A,C)=J(B,C)=1/3
    val rows = Seq(
      (0L, "x"), (0L, "y"), (0L, "z"),
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x")).toDF("doc_id", "word")
    val got = TextPipeline.exactJaccardPairs(rows, 0.3)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 1L, 1.0), (0L, 2L, 0.3333), (1L, 2L, 0.3333)))
  }

  test("LSH pairs ⊆ exact pairs, full recall on duplicate docs") {
    val sets = Text.tokens(Tables.documents(spark, sf0001))
      .where(col("doc_id") < 100).select("doc_id", "word").distinct()
    def toSet(d: org.apache.spark.sql.DataFrame) =
      d.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = toSet(TextPipeline.exactJaccardPairs(sets, 0.8))
    val lsh = toSet(TextPipeline.minHashLshPairs(sets, 0.8))
    assert(lsh.subsetOf(exact), "LSH produced a non-verified pair")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall too low: $recall (|exact|=${exact.size})")
    }
  }

  /** Both components regimes on `pairs`: the driver finish (default
    * bound) and the distributed loop (bound 0 forces it). */
  private def bothRegimes(pairs: org.apache.spark.sql.DataFrame)
      : Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
    "driver" -> TextPipeline.connectedComponents(pairs),
    "loop" -> TextPipeline.connectedComponents(pairs, 50, 0L))

  test("connectedComponents: chain, triangle, and isolated pair") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    for ((regime, labels) <- bothRegimes(pairs)) {
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), regime)
    }
  }

  test("connectedComponents: a 1000-node path converges in O(log n) rounds") {
    import spark.implicits._
    // Worst case for label propagation (needs ~diameter = 999 rounds);
    // the loop's pointer jump must close it well inside the default cap
    // of 50, and the driver finish must agree with it.
    // Ids are shuffled so the min does not ride the path monotonically.
    val perm = (0 until 1000).map(i => (i * 541L) % 1000L) // 541 coprime to 1000
    val pairs = (0 until 999).map(i => (perm(i), perm(i + 1))).toDF("a", "b")
    for ((regime, got) <- bothRegimes(pairs)) {
      assert(got.count() == 1000L, regime)
      assert(got.select("rep").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L), regime)
    }
  }

  test("connectedComponents below the driver-finish bound: no round jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    // a 200-node path: the loop pays ten or more checkpointed rounds here
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "cc-barrier"))
          barrier.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val labels = try {
      val labels = TextPipeline.connectedComponents(pairs)
      // the listener bus is asynchronous but ordered: once this job's
      // start arrives, every job the call above ran has been counted
      sc.setJobGroup("cc-barrier", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrier.await(60, java.util.concurrent.TimeUnit.SECONDS))
      labels
    } finally sc.removeSparkListener(listener)
    // the edges checkpoint (two jobs: AQE runs its shuffle map stage as
    // a job of its own) and the collect; the loop would add 2+ per round
    assert(jobs.get() <= 3,
      s"${jobs.get()} jobs: expected the edges checkpoint and the collect only")
    assert(labels.collect().forall(_.getLong(1) == 0L))
  }

  test("connectedComponents loop: the keyed edges checkpoint keeps its " +
    "partitioning under AQE") {
    import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val pairs = (0L until 50L).map(i => (i, (i * 7 + 1) % 50)).toDF("a", "b")
    val (edges, n) = TextPipeline.componentEdges(pairs)
    assert(n == 100L)
    val lr = edges.queryExecution.logical match {
      case lr: LogicalRDD => lr
      case other => fail(s"edges are not a checkpoint scan: ${other.getClass}")
    }
    // the loop's prop join is keyed on dst; a lost (unknown)
    // partitioning would re-shuffle the edge set every round
    val keys = lr.outputPartitioning match {
      case h: HashPartitioning => h.expressions
      case c: CoalescedHashPartitioning => c.from.expressions
      case p => fail(s"restore skipped: $p")
    }
    assert(keys.flatMap(_.references.map(_.name)) == Seq("dst"), keys)
    // the restored node keeps the unpatched checkpoint's size estimate
    // (origin statistics), never the default size of an unknown relation
    val unpatched = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint().queryExecution.logical match {
        case u: LogicalRDD if u.outputPartitioning.isInstanceOf[UnknownPartitioning] => u
        case other => fail(s"not an unpatched checkpoint scan: $other")
      }
    assert(lr.stats.sizeInBytes == unpatched.stats.sizeInBytes)
    assert(lr.stats.sizeInBytes < BigInt(Long.MaxValue))
  }

  test("hammingNeighborPairs (banded) == brute-force all-pairs, any k") {
    import spark.implicits._
    // 20 deterministic pseudo-random 16-bit signatures
    val sigs = (0 until 20).map(i => (i.toLong, ((i * 2654435761L) % 65536)))
      .toDF("doc_id", "simhash")
    for (k <- Seq(1, 3, 7)) {
      val banded = graft.operators.TextPipeline
        .hammingNeighborPairs(sigs, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = sigs.as("x").join(sigs.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._3 <= k).toSet
      assert(banded == brute, s"k=$k: banded ${banded.size} != brute ${brute.size}")
    }
  }

  test("minhash signature: identical word sets get identical signatures") {
    import spark.implicits._
    val rows = Seq((0L, "alpha"), (0L, "beta"), (1L, "alpha"), (1L, "beta"),
      (2L, "gamma")).toDF("doc_id", "word")
    val sig = TextPipeline.minHashSignature(rows).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toSeq).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(2L))
  }

  test("dedupCorpus keeps exactly one best-quality survivor per cluster") {
    val docs = Tables.documents(spark, sf0001).where(col("doc_id") < 100)
    val kept = TextPipeline.dedupCorpus(docs, 0.8, "exact")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // ground truth from the already-verified pipeline stages
    val sets = Text.tokens(docs).select("doc_id", "word").distinct()
    val pairs = TextPipeline.exactJaccardPairs(sets, 0.8).select("a", "b")
    val clusters = TextPipeline.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nMembers = clusters.length
    val nClusters = clusters.map(_._2).distinct.length
    assert(kept.count() == docs.count() - (nMembers - nClusters))
    // every cluster keeps exactly one member
    clusters.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._1).count(keptIds) == 1)
    }
    // LSH path removes a subset of what exact removes (recall < 1)
    val keptLsh = TextPipeline.dedupCorpus(docs, 0.8, "minhash-lsh")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.subsetOf(keptLsh))
  }

  test("dedupCorpus: method=auto rides exact below the crossover and " +
    "minhash-lsh above it") {
    val docs = Tables.documents(spark, sf0001).where(col("doc_id") < 100)
    assert(docs.count() < TextPipeline.AutoDedupCrossover) // premise
    val auto = TextPipeline.dedupCorpus(docs, 0.8, "auto")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = TextPipeline.dedupCorpus(docs, 0.8, "exact")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(auto == exact, "small corpus must ride the exact path")
    // the decision function, at the boundary
    assert(TextPipeline.chooseDedupMethod(
      TextPipeline.AutoDedupCrossover - 1) == "exact")
    assert(TextPipeline.chooseDedupMethod(
      TextPipeline.AutoDedupCrossover) == "minhash-lsh")
    // end-to-end above the crossover (rides minhash-lsh): an exact-
    // duplicate flood still collapses via stage 0 regardless of banding
    import spark.implicits._
    val big = spark.range(0, TextPipeline.AutoDedupCrossover + 64)
      .select(col("id").as("doc_id"), lit("same words every time").as("text"))
    val bigKept = TextPipeline.dedupCorpus(big.toDF(), 0.8, "auto")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bigKept == Set(0L), "identical-doc flood must keep doc_id 0 only")
  }

  test("lmCrossEntropy: hand-computed unigram cross-entropy") {
    import spark.implicits._
    // corpus counts: a=2, b=2, c=1, total=5 → p(a)=p(b)=0.4, p(c)=0.2
    // doc0 "a a b": -(2·log2 .4 + log2 .4)/3 = -log2 .4      = 1.3219
    // doc1 "b c":   -(log2 .4 + log2 .2)/2                   = 1.8219
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val got = TextPipeline.lmCrossEntropy(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 3L, 1.3219), (1L, 2L, 1.8219)))
  }

  test("dupSpans on a hand-computed corpus: merge, split, touch, within-doc repeats") {
    import spark.implicits._
    // k=3, minDocs=2. Shared shingles: abc/bcd/cde (docs 0,1,2 carry abc),
    // uvw (docs 3,4). doc2 places abc at positions 0 and 7 (gap 7 > k →
    // two islands) and holds "q q q" TWICE within itself (within-doc
    // repeat must NOT flag — n_docs counts distinct docs). doc3 has uvw
    // at positions 0 and 3 (gap == k → spans touch → ONE island).
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "z z a b c d e z z"),
      (2L, "a b c q q q q a b c"),
      (3L, "u v w u v w"),
      (4L, "u v w")).toDF("doc_id", "text")
    val got = TextPipeline.dupSpans(docs, k = 3, minDocs = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 4L, 3L),  // abc,bcd,cde at 0..2 → one span [0,4]
      (1L, 2L, 6L, 3L),  // same three at 2..4 → [2,6]
      (2L, 0L, 2L, 1L),  // abc at 0
      (2L, 7L, 9L, 1L),  // abc at 7 — split island
      (3L, 0L, 5L, 2L),  // uvw at 0 and 3 — touching spans merge
      (4L, 0L, 2L, 1L)))
  }

  test("cutSpans removes exactly the covered positions, keeps the rest") {
    import spark.implicits._
    // Same corpus as the dupSpans test (k=3, minDocs=2) plus a fully
    // unique doc 5 that must pass through untouched. Covered positions
    // are the union of [hit, hit+2] ranges; doc 3 is ALL boilerplate so
    // its cleaned text must be the empty string (not null).
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "z z a b c d e z z"),
      (2L, "a b c q q q q a b c"),
      (3L, "u v w u v w"),
      (4L, "u v w"),
      (5L, "only unique words here")).toDF("doc_id", "text")
    val got = TextPipeline.cutSpans(docs, k = 3, minDocs = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (0L, 8L, 5L, "f g h"),        // hits 0,1,2 → covered {0..4}
      (1L, 9L, 5L, "z z z z"),      // hits 2,3,4 → covered {2..6}
      (2L, 10L, 6L, "q q q q"),     // hits 0,7 → covered {0,1,2,7,8,9}
      (3L, 6L, 6L, ""),             // hits 0,3 → everything covered
      (4L, 3L, 3L, ""),             // hit 0 → everything covered
      (5L, 4L, 0L, "only unique words here")))
  }

  test("q54 hashed bigram distinct == exact string bigram distinct (fixture)") {
    // q54's contract note: distinct counts are over xxhash64(bigram) —
    // this pins the hashed formulation against the exact string one on
    // the whole fixture corpus (a collision would show up here first)
    val docs = Tables.documents(spark, sf0001)
    val hashed = SparkEntry.queries("q54_repetition_filter")(spark, sf0001)
      .select("doc_id", "n_distinct").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = docs
      .select(col("doc_id"),
        graft.functions.Text.wordsOf(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"),
        size(array_distinct(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1))))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed == exact)
  }

  test("winnowing guarantee: shared substring ≥ k+w−1 ⇒ shared fingerprint") {
    import spark.implicits._
    // The SWA theorem q109 rides: a shared region of k+w−1 letters spans
    // one full window of w identical k-gram hashes in BOTH docs, and
    // every window emits its min. 20 random pairs, shared core of
    // EXACTLY k+w−1 letters (the tight case), independent random
    // flanks — every pair must intersect on ≥ 1 fingerprint.
    val k = 8; val w = 4
    val rnd = new scala.util.Random(42)
    def letters(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val cases = (0 until 20).map { c =>
      val core = letters(k + w - 1)
      (c.toLong,
        letters(5 + rnd.nextInt(30)) + core + letters(5 + rnd.nextInt(30)),
        letters(5 + rnd.nextInt(30)) + core + letters(5 + rnd.nextInt(30)))
    }
    val docs = cases.flatMap { case (c, a, b) =>
      Seq((2 * c, a), (2 * c + 1, b)) }.toDF("doc_id", "text")
    val byDoc = TextPipeline.winnowFingerprints(docs, k, w)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    cases.foreach { case (c, a, b) =>
      val shared = byDoc.getOrElse(2 * c, Set.empty[Long])
        .intersect(byDoc.getOrElse(2 * c + 1, Set.empty[Long]))
      assert(shared.nonEmpty, s"pair $c shares no fingerprint ($a | $b)")
    }
    // Density floor: one hash can be the min of at most w consecutive
    // windows, so a doc with nw windows keeps ≥ ⌈nw/w⌉ distinct fps.
    cases.foreach { case (c, a, _) =>
      val nw = a.length - k + 1 - (w - 1)
      val got = byDoc.getOrElse(2 * c, Set.empty[Long]).size
      assert(got >= (nw + w - 1) / w,
        s"doc ${2 * c}: $got fps < floor ${(nw + w - 1) / w}")
    }
  }

  test("sourceLengthRanksRange == dense window rank row-for-row on the " +
    "fixture corpus (ties included)") {
    // q135/q141/q144's shared rank: the skew-safe range form must equal
    // the window form on REAL data — n_chars ties inside a source are
    // the interesting case (broken by doc_id; the range exchange may
    // split a tie run across partitions).
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("n_chars"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "source", "n_chars", "rk")
        .orderBy("source", "rk").collect().toSeq
    assert(rows(TextPipeline.sourceLengthRanksRange(docs)) ==
      rows(TextPipeline.sourceLengthRanks(docs)))
  }

  test("sourceLengthRanksAuto: measured source skew picks the plan; " +
    "rows identical either way") {
    import spark.implicits._
    // skewed: one source owns 30 rows (with n_chars ties); uniform: 6x2
    val skewed = ((1 to 30).map(i => (i.toLong, "hot", 10L + i % 3)) :+
      ((100L, "cold", 5L))).toDF("doc_id", "source", "n_chars")
    val uniform = (1 to 6).flatMap(s => Seq(
      (s * 10L, s"s$s", 3L), (s * 10L + 1, s"s$s", 4L)))
      .toDF("doc_id", "source", "n_chars")
    // sampleMod=1 keeps every row -> the probe is exact, no variance
    def hotSource(docs: org.apache.spark.sql.DataFrame) =
      RangeStitch.hottestKeyRows(docs, Seq(col("source")),
        Seq(col("source"), col("doc_id")), sampleMod = 1)
    assert(hotSource(skewed) == 30L)
    assert(hotSource(uniform) == 2L)
    val autoSk = TextPipeline.sourceLengthRanksAuto(skewed,
      hotSourceRowThreshold = 10, sampleMod = 1)
    val autoUn = TextPipeline.sourceLengthRanksAuto(uniform,
      hotSourceRowThreshold = 10, sampleMod = 1)
    // plan choice: the range form stitches through its mseq/off side
    // table (the checkpoint hides monotonically_increasing_id behind a
    // LogicalRDD); the dense form is a plain row_number window
    assert(autoSk.queryExecution.analyzed.toString.contains("mseq"))
    assert(!autoUn.queryExecution.analyzed.toString.contains("mseq"))
    assert(autoUn.queryExecution.analyzed.toString.contains("row_number"))
    // and BOTH choices produce exactly the dense plan's rows
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "source", "n_chars", "rk")
        .orderBy("source", "rk").collect().toSeq
    assert(rows(autoSk) == rows(TextPipeline.sourceLengthRanks(skewed)))
    assert(rows(autoUn) == rows(TextPipeline.sourceLengthRanks(uniform)))
    // empty input: probe returns 0, dense plan, no NPE
    val empty = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "source", "n_chars")
    assert(hotSource(empty) == 0L)
    assert(TextPipeline.sourceLengthRanksAuto(empty).collect().isEmpty)
  }
}
