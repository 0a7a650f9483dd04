package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.TextPipeline

/** Independent recomputation checks for the corpus-statistics wave
  * (q119–q122): each query's math is re-derived in plain Scala from the
  * raw token/metadata stream collected at sf0.001, so a regression in
  * the distributed formulation (window framing, marginal keying, the
  * interpolated percentile, the source-riding pair keys) surfaces as a
  * value diff here even before the DuckDB oracle runs.
  */
class CorpusStatsSpec extends SparkSpec {

  private def wordsOf(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq

  private lazy val docs: Seq[(Long, String, String)] =
    Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  test("q119: PMI values equal the hand-folded pair/marginal counts") {
    val pairs = docs.flatMap { case (_, _, t) =>
      val ws = wordsOf(t); ws.zip(ws.drop(1))
    }
    val c = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ca = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cb = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nn = pairs.size.toLong
    val expected = c.collect { case ((a, b), n) if n >= 5 =>
      (a, b) -> BigDecimal(
        math.log((n.toDouble * nn.toDouble) / (ca(a).toDouble * cb(b).toDouble)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = SparkEntry.queries("q119_pmi_collocations")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 1e-9, s"pmi mismatch at $k")
    }
  }

  test("q120: coverage curve is the ranked cumulative share, ending at 1") {
    val counts = docs.flatMap(d => wordsOf(d._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, n) => (-n, w) }
    val total = counts.map(_._2).sum.toDouble
    val rows = SparkEntry.queries("q120_vocab_coverage")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1L to counts.size).toSeq, "ranks not contiguous")
    assert(rows.map(r => (r._2, r._3)).toSeq == counts, "rank order diverges")
    var cum = 0L
    rows.zip(counts).foreach { case ((_, _, n, share), (w, _)) =>
      cum += n
      val want = BigDecimal(cum / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(share - want) < 1e-9, s"cum_share mismatch at $w")
    }
    assert(rows.last._4 == 1.0, "curve must end at full coverage")
  }

  test("q121: med/MAD equal the interpolated percentile; flags follow 3*MAD") {
    def pct50(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.size - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(pos.toInt + 1, s.size - 1))
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val lens = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val med = lens.groupBy(_._2).view.mapValues(g => pct50(g.map(_._3.toDouble))).toMap
    val mad = lens.groupBy(_._2).view
      .mapValues(g => pct50(g.map(x => math.abs(x._3 - med(x._2))))).toMap
    val got = SparkEntry.queries("q121_mad_outliers")(spark, sf0001).collect()
    assert(got.length == lens.size)
    got.foreach { r =>
      val (id, src, n) = (r.getLong(0), r.getString(1), r.getLong(2))
      assert(math.abs(r.getDouble(3) - BigDecimal(med(src))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"med@$id")
      assert(math.abs(r.getDouble(4) - BigDecimal(mad(src))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"mad@$id")
      val want = if (math.abs(n - med(src)) > 3 * mad(src)) 1L else 0L
      assert(r.getLong(5) == want, s"outlier flag@$id")
    }
  }

  test("q124: skyline equals brute-force dominance over the distinct points") {
    // o_orderdate reads as TIMESTAMP_NTZ since the r7 fixture regeneration
    val pts = Tables.orders(spark, sf0001)
      .selectExpr("CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents",
        "o_orderdate AS d")
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = pts.filter { case ((c, d), _) =>
      !pts.keys.exists { case (c2, d2) =>
        c2 >= c && !d2.isBefore(d) && (c2 > c || d2.isAfter(d))
      }
    }.toSeq.map { case ((c, d), n) => (c, d, n) }.sortBy(-_._1)
    val got = SparkEntry.queries("q124_skyline")(spark, sf0001)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2)))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q125: decile bins nest, cover all rows, and are frequency-balanced") {
    val rows = SparkEntry.queries("q125_quantile_binning")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Tables.orders(spark, sf0001).count()
    assert(rows.map(_._1).toSeq == (0L to 9L), "exactly bins 0..9")
    assert(rows.map(_._2).sum == total, "bins must cover every row")
    // ordered, non-overlapping value ranges
    rows.sliding(2).foreach { case Array((_, _, _, hi), (_, _, lo2, _)) =>
      assert(hi < lo2, "bin ranges must be disjoint and increasing")
    }
    // equal-frequency up to interpolation ties: each bin within ±20% of n/10
    val ideal = total / 10.0
    rows.foreach { case (b, n, _, _) =>
      assert(math.abs(n - ideal) <= ideal * 0.2, s"bin $b badly unbalanced: $n")
    }
  }

  test("q126: curve is non-increasing and agrees with q26 at its threshold") {
    val rows = SparkEntry.queries("q126_threshold_curve")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).toSeq == (50L to 95L by 5L))
    rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a >= b, "pair count must not grow as the threshold rises")
    }
    val q26n = SparkEntry.queries("q26_neardup_jaccard")(spark, sf0001).count()
    assert(rows.toMap.apply(80L) == q26n, "t=0.80 must equal q26's pair count")
  }

  test("q127: size histogram equals the fold of q48's cluster assignment") {
    val reps = SparkEntry.queries("q48_dedup_clusters")(spark, sf0001)
      .collect().map(r => r.getLong(1))
    val expected = reps.groupBy(identity).values.map(_.size.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q127_cluster_sizes")(spark, sf0001)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
    assert(got.forall(_._1 >= 2), "components never contain singletons")
  }

  test("q128: covariance entries equal the plain-Scala two-pass computation") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    val dim = vecs.head.length
    val mean = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val got = SparkEntry.queries("q128_embed_cov")(spark, sf0001)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2))
      .toMap
    assert(got.size == dim * (dim + 1) / 2)
    for (i <- 0 until dim; j <- i until dim) {
      val cov = vecs.map(v => v(i) * v(j)).sum / n - mean(i) * mean(j)
      assert(math.abs(got((i + 1, j + 1)) - cov) < 5e-5,
        s"cov(${i + 1},${j + 1}) diverges: ${got((i + 1, j + 1))} vs $cov")
    }
    // diagonal entries are variances: non-negative
    (1 to dim).foreach(i => assert(got((i, i)) >= 0.0))
  }

  test("q128 over an empty embeddings table returns 0 rows (ADVICE r12)") {
    // the aggregated Gram state has no dimensions; sequence(1, 0) would
    // count DOWN and index element_at at 0, so the query must filter
    // the state row out before the fan-out
    val dir = java.nio.file.Files.createTempDirectory("emptyemb").toString
    try {
      Tables.embeddings(spark, sf0001).limit(0)
        .write.parquet(s"$dir/embeddings.parquet")
      assert(SparkEntry.queries("q128_embed_cov")(spark, dir)
        .collect().isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q122: matrix cells partition q26's pairs by their source pair") {
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    val q26 = SparkEntry.queries("q26_neardup_jaccard")(spark, sf0001)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = q26.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("q122_neardup_matrix")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.values.sum == q26.length.toLong, "matrix must partition the pair set")
  }
}
