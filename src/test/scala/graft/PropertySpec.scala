package graft

import java.sql.Timestamp

import org.scalacheck.Gen

import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.operators.Advanced

/** Property tests (SURVEY.md §5.2 #1): model-check the custom operators
  * against brute-force Scala implementations on random inputs.
  * (scalacheck Gen driven directly — scalatestplus isn't in the offline
  * dependency cache.) */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("TopK == sorted.take(k) for random doubles and random k") {
    val genCase = for {
      k <- Gen.choose(1, 8)
      xs <- Gen.listOf(Gen.choose(-1e6, 1e6))
    } yield (k, xs)
    samples(genCase, 100).foreach { case (k, xs) =>
      val agg = new TopK(k)
      // random split into partial buffers exercises merge too
      val (l, r) = xs.splitAt(xs.length / 2)
      val buf = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(buf) == xs.sorted.reverse.take(k))
    }
  }

  test("TopKPairs == window row_number model for random pairs with ties") {
    val genCase = for {
      k <- Gen.choose(1, 6)
      // scores from a SMALL set so ties are common — the id tie-break
      // is the part worth model-checking
      xs <- Gen.listOf(Gen.zip(
        Gen.choose(0, 4).map(_.toDouble / 2), Gen.choose(0L, 100L)))
    } yield (k, xs.distinctBy(_._2))
    samples(genCase, 100).foreach { case (k, xs) =>
      val agg = new graft.functions.TopKPairs(k)
      val (l, r) = xs.splitAt(xs.length / 2)
      val buf = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      // independent model: score desc, id asc — the window contract
      val model = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(agg.finish(buf) == model, s"k=$k xs=$xs")
    }
    // NaN never beats: a zero-norm pair ranks strictly last
    // (NaN-safe compare: tuple == is false on (NaN, NaN))
    val agg = new graft.functions.TopKPairs(3)
    val withNan = Seq((0.5, 1L), (Double.NaN, 2L), (0.7, 3L))
    assert(agg.finish(withNan.foldLeft(agg.zero)(agg.reduce))
      .map { case (s, i) => (s.toString, i) } ==
      Seq(("0.7", 3L), ("0.5", 1L), ("NaN", 2L)))
  }

  test("udaf(TopKPairs) over groups == row_number window on random data") {
    import spark.implicits._
    val rows = samples(Gen.zip(Gen.choose(1L, 5L), Gen.choose(0, 6),
      Gen.choose(0L, 500L)), 300)
      .map { case (q, s, id) => (q, s.toDouble / 3, id) }
      .distinctBy(t => (t._1, t._3))
    val df = rows.toDF("qid", "score", "nid")
    val tk = udaf(new graft.functions.TopKPairs(4))
    val viaAgg = df.groupBy("qid").agg(tk(col("score"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("qid"), col("p._2").as("nid"), (col("i") + 1).as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("nid"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 4)
      .select("qid", "nid", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("asofJoin == per-row max-preceding model on random event sets") {
    import spark.implicits._
    val genEvents = for {
      nL <- Gen.choose(0, 20)
      nR <- Gen.choose(1, 20)
      lefts <- Gen.listOfN(nL, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
      rights <- Gen.listOfN(nR, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    } yield (lefts, rights)
    samples(genEvents, 15).foreach { case (lefts, rights) =>
      val clicks = lefts.zipWithIndex
        .map { case ((u, m), i) => (1000L + i, u, new Timestamp(m * 60000L)) }
      val purchases = rights.zipWithIndex
        .map { case ((u, m), i) => (2000L + i, u, new Timestamp(m * 60000L)) }
      val got = Advanced.asofJoin(
        purchases.toDF("event_id", "user_id", "ts"),
        clicks.toDF("event_id", "user_id", "ts"),
        "user_id", "ts", "prev", leftId = Some("event_id"))
        .select("event_id", "prev").collect()
        .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
      val model = purchases.map { case (id, u, ts) =>
        val preceding = clicks.collect {
          case (_, cu, cts) if cu == u && !cts.after(ts) => cts
        }
        id -> (if (preceding.isEmpty) None else Some(preceding.max))
      }.toMap
      assert(got == model)
    }
  }

  test("sessionization: session count == number of >30min gaps + 1") {
    import spark.implicits._
    samples(Gen.listOfN(30, Gen.choose(1, 60)), 8).foreach { gaps =>
      val times = gaps.scanLeft(0L)((acc, g) => acc + g * 60000L)
      val rows = times.zipWithIndex.map { case (t, i) =>
        (i.toLong, new Timestamp(t), 1L, "click", 1.0, "{}")
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val nSessions = df
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("brk", when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
          .otherwise(0L))
        .agg(sum("brk")).collect()(0).getLong(0)
      val expected = 1 + gaps.count(_ > 30) // every gap separates two events
      assert(nSessions == expected)
    }
  }

  test("funnelDepth == plain-Scala state machine on random event sequences") {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "error", "signup")
    val genUsers = for {
      n <- Gen.choose(1, 30)
      evs <- Gen.listOfN(n, Gen.zip(
        Gen.choose(1L, 5L), Gen.choose(0, 500), Gen.choose(0, types.size - 1)))
    } yield evs
    def code(t: String): Long = t match {
      case "view" => 1L; case "click" => 2L; case "purchase" => 3L; case _ => 0L
    }
    samples(genUsers, 10).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, min, ti), i) =>
        (u, new Timestamp(min * 60000L), i.toLong, types(ti))
      }
      val expect = rows.groupBy(_._1).map { case (u, es) =>
        // model: same ordering key (ts, event_id), same advance rule
        val depth = es.sortBy(e => (e._2.getTime, e._3)).map(e => code(e._4))
          .foldLeft(0L)((acc, x) => if (x == acc + 1) acc + 1 else acc)
        u -> depth
      }
      val got = Advanced.funnelDepth(
        rows.toDF("user_id", "ts", "event_id", "event_type"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"events: $rows")
    }
  }

  test("lmCrossEntropy == plain-Scala unigram model on random corpora") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val genCorpus = for {
      nDocs <- Gen.choose(2, 8)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(Gen.choose(0, vocab.size - 1)))
    } yield docs.map(_.map(vocab))
    samples(genCorpus, 10).foreach { docs =>
      val rows = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val counts = docs.flatten.groupBy(identity).view.mapValues(_.size.toDouble).toMap
      val total = docs.map(_.size).sum.toDouble
      def xent(ws: Seq[String]): Double =
        -ws.map(w => math.log(counts(w) / total) / math.log(2)).sum / ws.size
      val got = graft.operators.TextPipeline.lmCrossEntropy(
        rows.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      docs.zipWithIndex.foreach { case (ws, i) =>
        assert(math.abs(got(i.toLong) - xent(ws)) < 1e-3,
          s"doc $i: got ${got(i.toLong)} model ${xent(ws)}")
      }
    }
  }

  test("bm25Scores == plain-Scala Okapi model on random corpora") {
    import spark.implicits._
    val vocab = Vector("spark", "join", "table", "noise", "other", "pad")
    val terms = Seq("spark", "join", "table")
    val genCorpus = for {
      nDocs <- Gen.choose(3, 8)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(Gen.choose(0, vocab.size - 1)))
    } yield docs.map(_.map(vocab))
    samples(genCorpus, 8).foreach { docs =>
      val n = docs.size.toDouble
      val avgdl = docs.map(_.size).sum.toDouble / n
      def df(t: String) = docs.count(_.contains(t)).toDouble
      def model(ws: Seq[String]): Double = terms.map { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1) *
          tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ws.size / avgdl))
      }.sum
      val rows = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val got = graft.operators.TextPipeline.bm25Scores(
        rows.toDF("doc_id", "text"), terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      docs.zipWithIndex.foreach { case (ws, i) =>
        val m = model(ws)
        if (m > 0) assert(math.abs(got(i.toLong) - m) < 1e-3,
          s"doc $i: got ${got.get(i.toLong)} model $m")
        else assert(!got.contains(i.toLong), s"doc $i should be filtered out")
      }
    }
  }

  test("bucketGuardedCandidates: guarded ⊆ unguarded, every ≥2-bucket " +
    "member covered, per-bucket counts bounded — random corpora") {
    import spark.implicits._
    import graft.operators.TextPipeline
    // random (doc_id, band, bsig) assignments: small vocab of bucket
    // signatures forces collisions of every size around the cap
    val genCase = for {
      n <- Gen.choose(2, 60)
      cap <- Gen.choose(2, 10)
      sigs <- Gen.listOfN(n, Gen.choose(0L, 4L)) // 5 possible buckets
    } yield (cap, sigs)
    samples(genCase, 25).foreach { case (cap, sigs) =>
      val banded = sigs.zipWithIndex
        .map { case (s, i) => (i.toLong, 0, s.toString) }
        .toDF("doc_id", "band", "bsig")
      val guarded = TextPipeline.bucketGuardedCandidates(banded, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unguarded = TextPipeline
        .bucketGuardedCandidates(banded, Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(guarded.subsetOf(unguarded), s"cap=$cap emitted a non-bucket pair")
      // coverage: every member of a ≥2 bucket appears in some pair
      val byBucket = sigs.zipWithIndex.groupBy(_._1).values.filter(_.size >= 2)
      val inPairs = guarded.flatMap(p => Seq(p._1, p._2))
      byBucket.foreach(_.foreach { case (_, i) =>
        assert(inPairs.contains(i.toLong), s"cap=$cap dropped member $i entirely")
      })
      // bound: per bucket ≤ max(all-pairs under cap, star size)
      byBucket.foreach { members =>
        val ids = members.map(_._2.toLong).toSet
        val cnt = guarded.count(p => ids.contains(p._1) && ids.contains(p._2))
        val bound = math.max(cap * (cap - 1) / 2, members.size - 1)
        assert(cnt <= bound,
          s"cap=$cap bucket of ${members.size} emitted $cnt pairs (> $bound)")
      }
    }
  }

  test("connectedComponents == union-find on random graphs (sparse, " +
    "dense, and forest shapes)") {
    import spark.implicits._
    import graft.operators.TextPipeline
    // deterministic LCG so failures reproduce
    var seed = 0x5DEECE66DL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min id per component: roots were always merged toward the min
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(id => id -> find(id.toInt).toLong).toMap
    }
    // (nodes, edges): sparse forest-ish, denser than nodes, tiny dense;
    // random draws keep their self-pairs (a == b)
    val random = for ((n, m) <- Seq((400, 150), (300, 600), (40, 300)))
      yield s"n=$n m=$m" -> Seq.fill(m)((nextInt(n).toLong, nextInt(n).toLong))
    // the empty graph, and a self-pair whose node has no other edge
    val degenerate = Seq("empty" -> Seq.empty[(Long, Long)],
      "lone self-pair" -> Seq((5L, 5L), (1L, 2L), (2L, 2L)))
    for ((name, edges) <- random ++ degenerate) {
      val want = unionFind(edges.map(e => e._1.max(e._2).toInt + 1).maxOption.getOrElse(0), edges)
      val pairs = edges.toDF("a", "b")
      // default bound: the driver finish; bound 0: the distributed loop
      for ((regime, labels) <- Seq("driver" -> TextPipeline.connectedComponents(pairs),
          "loop" -> TextPipeline.connectedComponents(pairs, 50, 0L))) {
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"$name $regime: " +
          s"diff=${(got.toSet -- want.toSet).take(5)} / ${(want.toSet -- got.toSet).take(5)}")
      }
    }
  }

  test("driver smoke: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("roundPortable == C/DuckDB binary-value rounding on the flood-" +
    "fixture divergent double (and differs from Spark round there)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    // the r12 flood-oracle finding: this raw's shortest decimal repr is
    // "1606.68745" but its binary value sits BELOW the tie
    val raw = 1606.68745 // parses to 1606.687449999999899...
    // exact binary expansion (java.math.BigDecimal(double)) sits BELOW
    // the tie, while the shortest repr (BigDecimal.valueOf = what Spark
    // round() sees) IS the tie — that asymmetry is the whole class
    assert(new java.math.BigDecimal(raw)
      .compareTo(new java.math.BigDecimal("1606.68745")) < 0)
    assert(java.math.BigDecimal.valueOf(raw)
      .compareTo(new java.math.BigDecimal("1606.68745")) == 0)
    val df = Seq(raw, -raw, 0.0, 1606.6874)
      .toDF("x")
      .select(col("x"), Advanced.roundPortable(col("x"), 4).as("p"),
        round(col("x"), 4).as("s"))
    val byX = df.collect().map(r =>
      r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // the divergent value: portable follows the binary value (DuckDB),
    // Spark round follows the shortest repr
    assert(byX(raw) == (1606.6874, 1606.6875))
    assert(byX(-raw) == (-1606.6874, -1606.6875)) // away-from-zero mirror
    // non-divergent values agree between the two
    assert(byX(0.0)._1 == byX(0.0)._2)
    assert(byX(1606.6874)._1 == byX(1606.6874)._2)
  }

  test("q112 chunked-EWMA regrouping gap (VERDICT r11 #3): the affine " +
    "stitch stays within 1e-7 of the flat fold, so a ROUND(.,4) flip " +
    "requires the flat value itself within 1e-7 of a half-boundary") {
    // Model-side replay of BOTH Spark plans' exact FP sequences (the
    // exprs are plain double mul/add, bit-reproducible in Scala):
    // dense/oracle = flat left fold; chunked = per-chunk folds + the
    // affine (s, o) stitch, for ARBITRARY chunk splits (covers the day
    // AND the count tier — the algebra never reads the chunk id).
    def flat(vs: Seq[Double]): Double =
      vs.tail.foldLeft(vs.head)((acc, x) => 0.3 * x + 0.7 * acc)
    def chunked(vs: Seq[Double], splits: Seq[Int]): Double = {
      val bounds = (0 +: splits :+ vs.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => vs.slice(a, b) }
        .filter(_.nonEmpty)
      val summaries = chunks.map { c =>
        val efirst = flat(c)
        val (s, o) = c.foldLeft((1.0, 0.0)) { case ((s, o), x) =>
          (0.7 * s, 0.7 * o + 0.3 * x) }
        (efirst, s, o)
      }
      summaries.tail.foldLeft(summaries.head._1) {
        case (r, (_, s, o)) => s * r + o }
    }
    def round4(x: Double): BigDecimal =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def halfBoundaryDist(x: Double): Double = {
      val h = math.abs(x) * 1e4 % 1.0
      math.min(math.abs(h - 0.5), math.min(h, 1.0 - h)) / 1e4
    }
    val genCase = for {
      n <- Gen.choose(1, 80)
      // integer cents, constant runs included (constant series converge
      // toward representable values — the near-boundary shape)
      mode <- Gen.choose(0, 2)
      base <- Gen.choose(0L, 100000L)
      vs <- mode match {
        case 0 => Gen.listOfN(n, Gen.choose(0L, 100000L))
        case 1 => Gen.const(List.fill(n)(base))
        case _ => Gen.listOfN(n, Gen.choose(base, base + 3))
      }
      nSplits <- Gen.choose(0, 12)
      splits <- Gen.listOfN(nSplits, Gen.choose(1, math.max(1, n - 1)))
    } yield (vs.map(_.toDouble), splits)
    var maxGap = 0.0
    samples(genCase, 4000).foreach { case (vs, splits) =>
      val f = flat(vs)
      val c = chunked(vs, splits)
      maxGap = math.max(maxGap, math.abs(f - c))
      // any rounded disagreement must be the documented boundary class
      assert(round4(f) == round4(c) ||
        (math.abs(f - c) < 1e-7 && halfBoundaryDist(f) < 1e-7),
        s"regrouping flip outside the boundary class: flat=$f chunked=$c")
    }
    // the measured closure bound the q112 scaladoc cites: at cents ≤ 1e5
    // and ≤ 13 regroup points the gap never approaches the 5e-5 grid
    assert(maxGap < 1e-7, s"maxGap=$maxGap")
  }
}
