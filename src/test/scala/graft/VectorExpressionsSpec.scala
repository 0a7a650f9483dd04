package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions.{cosineSim, dotProduct}

class VectorExpressionsSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)), // orthogonal → 0
      (Array(1.0, 2.0, 3.0), Array(2.0, 4.0, 6.0)), // parallel → 1
      (Array(3.0, 4.0, 0.0), Array(4.0, 3.0, 0.0))  // cos = 24/25
    ).toDF("a", "b")
  }

  test("cosine_sim on hand-computed vectors") {
    val got = vecs.select(round(cosineSim(col("a"), col("b")), 6)).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.0, 1.0, 0.96))
  }

  test("dot_product on hand-computed vectors") {
    val got = vecs.select(dotProduct(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.0, 28.0, 24.0))
  }

  test("native dot is bit-identical to the HOF fold on fixture embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
      .withColumn("v", transform(col("embedding"), _.cast("double")))
    val both = e.select(
      dotProduct(col("v"), col("v")).as("native"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
  }

  test("poly_hash native == HOF char fold on fixture text; unicode = code points") {
    // the HOF formulation polyHash replaced — kept here as the reference
    def hofHash(s: org.apache.spark.sql.Column, seed: Long) =
      aggregate(
        filter(split(s, ""), c => length(c) > 0),
        lit(seed),
        (acc, c) => (acc * 31L + ascii(c)) % graft.functions.Text.HashMod)
    val docs = Tables.documents(spark, sf0001).limit(100)
    val both = docs.select(
      graft.functions.Text.polyHash(col("text"), 7L).as("native"),
      hofHash(col("text"), 7L).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    // non-BMP input folds full code points (DuckDB unicode() semantics):
    // "a😀" → ((7*31+97) % M * 31 + 0x1F600) % M
    import spark.implicits._
    val got = Seq("a😀").toDF("s")
      .select(graft.functions.Text.polyHash(col("s"), 7L)).collect()(0).getLong(0)
    val expect = ((7L * 31 + 97) % graft.functions.Text.HashMod * 31 + 0x1F600) %
      graft.functions.Text.HashMod
    assert(got == expect)
  }

  test("poly_hash callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT poly_hash('ab', 7)").collect()(0).getLong(0)
    val m = graft.functions.Text.HashMod
    assert(r == ((7L * 31 + 97) % m * 31 + 98) % m)
  }

  test("interpreted eval (null path) and nulls propagate") {
    val r = vecs.select(cosineSim(lit(null).cast("array<double>"), col("b"))).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("cosine_sim / dot_product callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 11.0)
  }

  test("GraftExtensions injector wires both functions") {
    // exercise the SparkSessionExtensions path without a new context
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext) // must not throw; functions registered at build time
  }

  test("bigram_hash_stats / word_ngrams callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT bigram_hash_stats('a b a b').n_distinct AS d,
        |       word_ngrams('The quick brown fox', 3) AS g""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 2L)
    assert(r.getSeq[String](1) == Seq("the quick brown", "quick brown fox"))
  }

  test("word_ngrams == the split/transform formulation on the fixture corpus") {
    import graft.expressions.VectorExpressions.wordNgrams
    for (n <- Seq(2, 3)) {
      val docs = Tables.documents(spark, sf0001)
        .withColumn("words",
          filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0))
      val both = docs.select(
        wordNgrams(col("text"), n).as("native"),
        when(size(col("words")) >= n,
          transform(sequence(lit(1), size(col("words")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k =>
              element_at(col("words"), i + k)): _*)))
          .otherwise(array()).as("hof"))
      assert(both.where(not(col("native") <=> col("hof"))).count() == 0,
        s"n=$n shingle mismatch")
    }
  }

  test("bigram_hash_stats: hand-computed edges and null/short inputs") {
    import spark.implicits._
    import graft.expressions.VectorExpressions.bigramHashStats
    val df = Seq(
      (0L, "the cat the cat the"),  // bigrams: tc ct tc ct → 2 distinct
      (1L, "A!!b..A??b"),           // a b a b → ab ba ab → 2 distinct
      (2L, "one"),                  // 1 word → (0, 0)
      (3L, ""),                     // no words → (0, 0)
      (4L, "7 8 9 --")              // no letters → (0, 0)
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), bigramHashStats(col("text")).as("bs"))
      .select(col("doc_id"), col("bs.n_bigrams"), col("bs.n_distinct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 4L, 2L), (1L, 3L, 2L), (2L, 0L, 0L),
      (3L, 0L, 0L), (4L, 0L, 0L)))
    val nul = df.select(bigramHashStats(lit(null).cast("string"))).collect()
    assert(nul.forall(_.isNullAt(0)))
  }

  test("has_min_words == (word count >= k) on fixture + edge strings") {
    import spark.implicits._
    import graft.expressions.VectorExpressions.hasMinWords
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .union(Seq("", "one", "a!b", "7 8 9", "UPPER lower").toDF("text"))
    for (k <- Seq(1, 2, 3)) {
      val bad = docs.where(
        hasMinWords(col("text"), k) =!=
          (size(filter(split(lower(col("text")), "[^a-z]+"),
            w => length(w) > 0)) >= k))
      assert(bad.isEmpty, s"k=$k mismatches: ${bad.collect().toSeq.take(5)}")
    }
  }

  test("bigram_hash_stats matches the transform/xxhash64 formulation") {
    import graft.expressions.VectorExpressions.bigramHashStats
    val docs = Tables.documents(spark, sf0001)
      .withColumn("words",
        filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0))
      .where(size(col("words")) >= 2)
      .withColumn("bg", transform(sequence(lit(1), size(col("words")) - 1),
        i => xxhash64(element_at(col("words"), i),
          element_at(col("words"), i + 1))))
    val both = docs.select(
      bigramHashStats(col("text")).as("bs"),
      size(col("bg")).cast("long").as("hof_n"),
      size(array_distinct(col("bg"))).cast("long").as("hof_d"))
    assert(both.where(col("bs.n_bigrams") =!= col("hof_n") ||
      col("bs.n_distinct") =!= col("hof_d")).count() == 0)
  }

  test("adc_distance == the zip_with/element_at HOF formulation; SQL-callable") {
    import graft.expressions.VectorExpressions.adcDistance
    val ksub = 4
    // deterministic pseudo-random flat LUT (m=3 × ksub=4) + codes per row
    val rows = Tables.embeddings(spark, sf0001).limit(64)
      .withColumn("lut", transform(sequence(lit(0), lit(3 * ksub - 1)),
        i => sin(col("vec_id") * 7 + i).cast("double")))
      .withColumn("codes", transform(sequence(lit(0), lit(2)),
        i => pmod(col("vec_id") + i * 3, lit(ksub)).cast("tinyint")))
    val both = rows.select(
      adcDistance(col("lut"), col("codes"), ksub).as("native"),
      aggregate(
        zip_with(
          transform(sequence(lit(0), lit(2)),
            s => slice(col("lut"), s * ksub + 1, lit(ksub))),
          col("codes"), (l, c) => element_at(l, c.cast("int") + 1)),
        lit(0.0d), (a, x) => a + x).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    GraftExtensions.register(spark)
    rows.createOrReplaceTempView("adc_rows")
    val viaSql = spark.sql(
      s"SELECT adc_distance(lut, codes, $ksub) AS d FROM adc_rows")
      .collect().map(_.getDouble(0))
    val viaApi = rows.select(adcDistance(col("lut"), col("codes"), ksub))
      .collect().map(_.getDouble(0))
    assert(viaSql.sameElements(viaApi))
  }

  test("jaro_winkler: textbook values, DuckDB-probed edges, SQL surface") {
    import spark.implicits._
    import graft.expressions.VectorExpressions.jaroWinkler
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // textbook pairs (Winkler 1990 examples) + edges probed against
    // DuckDB's jaro_winkler_similarity (JaroWinkler.scala scaladoc)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.961111),  // jaro 17/18, prefix 3
      ("DWAYNE", "DUANE", 0.84),
      ("DIXON", "DICKSONX", 0.813333),
      ("abc", "abc", 1.0),
      ("abc", "", 0.0), ("", "", 0.0), // both-empty is 0, NOT 1
      ("ab", "ba", 0.0),               // window 0: no cross matches
      ("a", "ab", 0.85),               // boost applies above 0.7
      ("abcdefgh", "abcdxxxx", 0.666667), // jaro 2/3 <= 0.7: NO boost
      ("CRATE", "TRACE", 0.733333))    // above 0.7 but prefix 0
    val df = cases.map(c => (c._1, c._2)).toDF("a", "b")
    val got = df.select(round(jaroWinkler(col("a"), col("b")), 6))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == cases.map(c => r6(c._3)))
    // interpreted eval agrees with codegen, and nulls propagate
    val expr = org.apache.spark.sql.graftvec.JaroWinkler(
      org.apache.spark.sql.catalyst.expressions.Literal("MARTHA"),
      org.apache.spark.sql.catalyst.expressions.Literal("MARHTA"))
    assert(r6(expr.eval(null).asInstanceOf[Double]) == 0.961111)
    assert(df.select(jaroWinkler(lit(null).cast("string"), col("b")))
      .collect().forall(_.isNullAt(0)))
    // SQL surface via the registered function
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("jw_rows")
    val viaSql = spark.sql(
      "SELECT round(jaro_winkler(a, b), 6) FROM jw_rows")
      .collect().map(_.getDouble(0)).toSeq
    assert(viaSql == got)
  }

  test("minhash_sig == the 16× array_min(transform(...)) HOF formulation " +
    "on fixture corpus + edge strings") {
    import graft.functions.Text
    import graft.operators.TextPipeline
    // ids offset past the fixture's doc_id range (0..499)
    val edges = Seq("", "  .,;!", "a", "THE The the", "one two one two",
      "x" * 500, "héllo wörld über", "mixedCASE tok3ns spl1t here")
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .union(edges.toDF("doc_id", "text"))
    val words = array_distinct(Text.wordsOf(col("text")))
    val hof = (0 until TextPipeline.LshHashes).map { i =>
      val (a, b) = (2L * i + 3L, 7L * i + 1L)
      array_min(transform(words,
        w => (Text.polyHash(w, 7L) * a + b) % TextPipeline.P))
    }
    val both = docs.select(col("doc_id"),
      Text.minhashSig(col("text"), TextPipeline.LshHashes).as("k"),
      array(hof: _*).as("h"))
    // tokenless rows: kernel yields [], HOF yields [null,...]; both are
    // "no tokens" — compare only the tokenful rows, count the rest
    val tokenless = both.where(size(col("k")) === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(tokenless == Set(1000L, 1001L), s"unexpected tokenless set: $tokenless")
    val bad = both.where(size(col("k")) > 0 && !(col("k") === col("h")))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    // duplicated words cannot change a min: "one two one two" == "one two"
    val dup = both.where(col("doc_id") === 1004).select("k").collect()(0).getSeq[Long](0)
    val ref = Seq((100L, "one two")).toDF("doc_id", "text")
      .select(Text.minhashSig(col("text"), TextPipeline.LshHashes).as("k"))
      .collect()(0).getSeq[Long](0)
    assert(dup == ref)
  }

  test("winnow_fps kernel == the exploded window/distinct formulation " +
    "(r12 q109 rewrite) on fixture corpus + edge strings") {
    import graft.expressions.VectorExpressions.winnowFps
    import org.apache.spark.sql.expressions.Window
    val (k, w) = (8, 4)
    import spark.implicits._
    // edges: too short for a gram; grams but no full window (len = k+w-2);
    // exactly one window (len = k+w-1); repeated text (duplicate fps)
    val edges = Seq("", "abcdefg", "a" * (k + w - 2), "b" * (k + w - 1),
      "the quick brown fox " * 10).zipWithIndex
      .map { case (t, i) => (2000L + i, t) }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .union(edges.toDF("doc_id", "text"))
    // the replaced formulation, verbatim (pre-r12 winnowFingerprints)
    val wMin = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    val wCnt = Window.partitionBy("doc_id")
    val old = docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z]+", "").as("s"))
      .where(length(col("s")) >= k)
      .select(col("doc_id"), col("s"),
        explode(sequence(lit(1), length(col("s")) - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        graft.functions.Text.polyHash(col("s").substr(col("i"), lit(k)), 7L).as("h"))
      .select(col("doc_id"), col("i"),
        min("h").over(wMin).as("fp"), count(lit(1)).over(wCnt).as("ng"))
      .where(col("i") <= col("ng") - (w - 1))
      .groupBy("doc_id").agg(sort_array(collect_set("fp")).as("fps"))
    val neu = docs
      .select(col("doc_id"),
        winnowFps(regexp_replace(lower(col("text")), "[^a-z]+", ""), k, w)
          .as("fps"))
      .where(size(col("fps")) > 0)
    val oldRows = old.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val neuRows = neu.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(neuRows == oldRows)
    // the no-full-window edges produce nothing in either form
    assert(!neuRows.contains(2000L) && !neuRows.contains(2001L) &&
      !neuRows.contains(2002L))
    assert(neuRows.contains(2003L)) // exactly one full window
  }

  test("entropy_sum kernel == the 26×replace + HOF fold formulation " +
    "(r12 q113 rewrite), bit-identical doubles") {
    import graft.expressions.VectorExpressions.entropySum
    import spark.implicits._
    val edges = Seq("a", "zzzz", "abcdefghijklmnopqrstuvwxyz",
      "the quick brown fox jumps over the lazy dog")
      .zipWithIndex.map { case (t, i) => (3000L + i, t) }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .union(edges.toDF("doc_id", "text"))
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z]+", "").as("s"))
      .where(length(col("s")) > 0)
    val letters = array(('a' to 'z').map(ch => lit(ch.toString)): _*)
    val oldFold = aggregate(
      transform(
        filter(
          transform(letters, ch =>
            length(col("s")) - length(replace(col("s"), ch, lit("")))),
          x => x > 0),
        c => (c.cast("double") / length(col("s")).cast("long")) *
          log(c.cast("double") / length(col("s")).cast("long"))),
      lit(0.0), (acc, x) => acc + x)
    // bit-identical RAW doubles (not just post-round): same counts, same
    // a→z order, same ops — the =!= comparison is exact
    val bad = docs.select(col("doc_id"), entropySum(col("s")).as("neu"),
      oldFold.as("old")).where(col("neu") =!= col("old"))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
  }

  test("GramMatrix aggregator == the explode/hash-agg covariance " +
    "formulation (r12 q128 rewrite) on the fixture, post-round") {
    val emb = Tables.embeddings(spark, sf0001)
    // the replaced q128 formulation, verbatim
    val n = emb.agg(count(lit(1)).cast("double").as("n"))
    val m = emb
      .select(posexplode(col("embedding")).as(Seq("p", "e")))
      .groupBy((col("p") + 1).as("i"))
      .agg(sum(col("e").cast("double")).as("s"))
    val dims = sequence(lit(0), size(col("embedding")) - 1)
    val p = emb
      .select(explode(flatten(transform(dims, i =>
        transform(sequence(i, size(col("embedding")) - 1), j =>
          struct((i + 1).as("i"), (j + 1).as("j"),
            (element_at(col("embedding"), (i + 1).cast("int")).cast("double") *
              element_at(col("embedding"), (j + 1).cast("int")).cast("double"))
              .as("v")))))).as("t"))
      .groupBy(col("t.i"), col("t.j")).agg(sum("t.v").as("sp"))
    val old = p.join(broadcast(m.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(m.select(col("i").as("j"), col("s").as("sj"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (round(col("sp") / col("n") - (col("si") / col("n")) * (col("sj") / col("n")),
          4) + lit(0.0)).as("cov"))
      .orderBy("i", "j").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val neu = SparkEntry.queries("q128_embed_cov")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(neu.length == old.length)
    neu.zip(old).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("GramMatrix.merge: an n>0 buffer with empty sums and a real " +
    "buffer fail the ragged-dimension check (ADVICE r12)") {
    import graft.functions.{GramMatrix, GramState}
    val g = new GramMatrix
    // a partition whose rows were all zero-length vectors
    val zeroDim = g.reduce(g.zero, Seq.empty[Double])
    assert(zeroDim.n == 1L && zeroDim.s.isEmpty)
    def real = g.reduce(g.zero, Seq(1.0, 2.0))
    intercept[IllegalArgumentException](g.merge(zeroDim, real))
    intercept[IllegalArgumentException](g.merge(real, zeroDim))
    // the n == 0 zero stays the additive identity on both sides
    assert(g.merge(g.zero, real).s.toSeq == Seq(1.0, 2.0))
    assert(g.merge(real, GramState(0L, Array.empty, Array.empty)).n == 1L)
  }

  test("sorted_intersect_count == size(array_intersect) on sorted " +
    "distinct string sets (r12 q100/q114 verify rewrite)") {
    import graft.expressions.VectorExpressions.sortedIntersectCount
    // fixture doc trigram sets (the exact q100 shape) + edge cases
    val sets = graft.operators.TextPipeline
      .triShingles(spark, sf0001).where(col("doc_id") < 60)
      .groupBy("doc_id").agg(sort_array(collect_set(col("sh"))).as("arr"))
    val pairs = sets.select(col("doc_id").as("a"), col("arr").as("aa"))
      .crossJoin(sets.select(col("doc_id").as("b"), col("arr").as("ab")))
      .where(col("a") < col("b"))
    val bad = pairs.select(
        sortedIntersectCount(col("aa"), col("ab")).as("neu"),
        size(array_intersect(col("aa"), col("ab"))).cast("long").as("old"))
      .where(col("neu") =!= col("old"))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    import spark.implicits._
    // empty / disjoint / identical / subset
    val edge = Seq(
      (Seq.empty[String], Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b", "c"), Seq("b"))).toDF("x", "y")
    val got = edge.select(sortedIntersectCount(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 2L, 1L))
  }

  test("sorted_intersect_count_long == size(array_intersect) on sorted " +
    "distinct long sets (r13 q100/q114 dictionary-encoded verify)") {
    import graft.expressions.VectorExpressions.sortedIntersectCountLong
    // the exact r13 q100 verify shape: per-doc sorted distinct tid sets
    val big = graft.operators.TextPipeline
      .triShingles(spark, sf0001).where(col("doc_id") < 60)
      .select("doc_id", "sh")
    val sets = big.join(
        graft.operators.TextPipeline.tokenDict(big), Seq("sh"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("tid"))).as("arr"))
    val pairs = sets.select(col("doc_id").as("a"), col("arr").as("aa"))
      .crossJoin(sets.select(col("doc_id").as("b"), col("arr").as("ab")))
      .where(col("a") < col("b"))
    val bad = pairs.select(
        sortedIntersectCountLong(col("aa"), col("ab")).as("neu"),
        size(array_intersect(col("aa"), col("ab"))).cast("long").as("old"))
      .where(col("neu") =!= col("old"))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    import spark.implicits._
    // empty / disjoint / identical / subset
    val edge = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L), Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(2L))).toDF("x", "y")
    val got = edge.select(sortedIntersectCountLong(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 2L, 1L))
  }

  test("tokenDict tid is bijective and order-isomorphic to the (f, sh) " +
    "rarest-first total order (r13 q100/q114 losslessness)") {
    val big = graft.operators.TextPipeline
      .triShingles(spark, sf0001).select("doc_id", "sh")
    val freq = big.groupBy("sh").agg(count(lit(1)).as("f"))
    val dict = graft.operators.TextPipeline.tokenDict(big)
    // bijective: one tid per token, no tid collisions
    assert(dict.count() == freq.count())
    assert(dict.select("tid").distinct().count() == freq.count())
    // order-isomorphic: sorting by tid == sorting by (f, sh)
    val byKey = freq.orderBy("f", "sh").select("sh")
      .collect().map(_.getString(0)).toSeq
    val byTid = dict.join(freq, Seq("sh")).orderBy("tid").select("sh")
      .collect().map(_.getString(0)).toSeq
    assert(byTid == byKey)
  }

  test("q117 pair generation: collect_set fan-out == distinct self-join " +
    "(r12 rewrite), identical canonical edge sets") {
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val old = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val neu = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .where(size(col("ps")) >= 2)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
      .select(col("a"), col("i"), posexplode(col("ps")).as(Seq("j", "b")))
      .where(col("j") > col("i"))
      .select(col("a"), col("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(neu == old)
    assert(neu.forall { case (a, b) => a < b })
  }
}
